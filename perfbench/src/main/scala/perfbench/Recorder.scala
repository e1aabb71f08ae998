package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Minimal JSON rendering for the run record (maps, sequences, scalars). */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case other => quote(other.toString)
  }

  def quote(s: String): String = s.flatMap {
    case '\\' => "\\\\"
    case '"' => "\\\""
    case c if c < ' ' => "\\u%04x".format(c.toInt)
    case c => c.toString
  }.mkString("\"", "", "\"")
}

/** Per-stage task aggregates, filled by the listener thread. */
final class StageAgg(val id: Int) {
  var submitMs: Long = -1L
  var firstLaunchMs: Long = Long.MaxValue
  var tasks: Long = 0L
  var failed: Long = 0L
  var runMs: Long = 0L
  var cpuNs: Long = 0L
  var gcMs: Long = 0L
  var shuffleWrite: Long = 0L
  var spill: Long = 0L
  var output: Long = 0L

  def toMap: Map[String, Any] = Map(
    "id" -> id, "submit_ms" -> submitMs,
    "first_launch_ms" -> (if (firstLaunchMs == Long.MaxValue) -1L else firstLaunchMs),
    "tasks" -> tasks, "failed" -> failed, "run_ms" -> runMs, "cpu_ns" -> cpuNs,
    "gc_ms" -> gcMs, "shuffle_write" -> shuffleWrite, "spill" -> spill,
    "output" -> output)
}

/** Everything a run measures, kept in memory and written once at the end.
  *
  * Ops (the timed unit of each workload) are always recorded. With tracing
  * on, the recorder also keeps spans around each graft call the benchmark
  * makes, every Spark job and stage, and the Catalyst phase times of every
  * query execution; attribution happens offline, from these raw records. */
final class Recorder(val trace: Boolean) {
  private val nano0 = System.nanoTime()
  private val ms0 = System.currentTimeMillis().toDouble

  /** Wall clock in epoch milliseconds with sub-millisecond resolution. */
  def nowMs: Double = ms0 + (System.nanoTime() - nano0) / 1e6

  val ops = mutable.ArrayBuffer.empty[mutable.LinkedHashMap[String, Any]]
  val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  val info = mutable.LinkedHashMap.empty[String, Any]
  val layer = mutable.LinkedHashMap.empty[String, Double]

  def add(key: String, v: Double): Unit =
    layer.synchronized(layer(key) = layer.getOrElse(key, 0.0) + v)

  /** Run one timed op; a throw is recorded as a failed op, not rethrown. */
  def op(kind: String, name: String)(body: mutable.LinkedHashMap[String, Any] => Unit)
      : mutable.LinkedHashMap[String, Any] = {
    val rec = mutable.LinkedHashMap[String, Any]("kind" -> kind, "name" -> name)
    val c0 = Codegen.snapshot()
    val t0 = nowMs
    val ok = try span(s"$kind:$name") { body(rec); true } catch {
      case e: Throwable =>
        rec("err") = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        System.err.println(s"[perfbench] $kind $name failed: ${rec("err")}")
        false
    }
    val t1 = nowMs
    val c1 = Codegen.snapshot()
    rec("t0") = t0
    rec("t1") = t1
    rec("ok") = ok && !rec.get("check_ok").contains(false)
    rec("compiles") = c1._1 - c0._1
    rec("compile_s") = (c1._2 - c0._2) / 1e9
    ops.synchronized(ops += rec)
    rec
  }

  def check(name: String, ok: Boolean, detail: String = ""): Unit = {
    if (!ok) System.err.println(s"[perfbench] check $name FAILED: $detail")
    checks.synchronized(checks += Map("name" -> name, "ok" -> ok, "detail" -> detail))
  }

  // ---------------------------------------------------------------- spans

  private val spans = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val nextSpan = new java.util.concurrent.atomic.AtomicInteger(0)
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }

  /** A named span around a graft call; parents nest by thread. */
  def span[T](name: String)(body: => T): T =
    if (!trace) body
    else {
      val id = nextSpan.incrementAndGet()
      val parent = stack.get().headOption.getOrElse(0)
      stack.set(id :: stack.get())
      val c0 = Codegen.snapshot()._1
      val t0 = nowMs
      try body
      finally {
        stack.set(stack.get().tail)
        spans.add(Map("id" -> id, "name" -> name, "parent" -> parent,
          "t0" -> t0, "t1" -> nowMs, "compiles" -> (Codegen.snapshot()._1 - c0)))
      }
    }

  /** A span known only after the fact (e.g. a step read from an audit log). */
  def addSpan(name: String, parentName: String, t0: Double, t1: Double): Unit =
    if (trace) spans.add(Map("id" -> nextSpan.incrementAndGet(), "name" -> name,
      "parent_name" -> parentName, "t0" -> t0, "t1" -> t1))

  // ------------------------------------------------------------- listener

  private val jobs = new ConcurrentHashMap[Int, mutable.Map[String, Any]]()
  private val stages = new ConcurrentHashMap[Int, StageAgg]()
  private val qes = new ConcurrentLinkedQueue[Map[String, Any]]()

  def install(spark: SparkSession): Unit = if (trace) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
        jobs.put(e.jobId, mutable.Map("id" -> e.jobId, "t0" -> e.time,
          "desc" -> prop("spark.job.description"),
          "pool" -> prop("spark.scheduler.pool"), "stages" -> e.stageIds.toSeq))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobs.get(e.jobId)).foreach { j =>
          j("t1") = e.time
          j("ok") = e.jobResult == JobSucceeded
        }
      private def stage(id: Int) = stages.computeIfAbsent(id, i => new StageAgg(i))
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        e.stageInfo.submissionTime.foreach(t => stage(e.stageInfo.stageId).submitMs = t)
      override def onTaskStart(e: SparkListenerTaskStart): Unit = {
        val s = stage(e.stageId)
        s.firstLaunchMs = math.min(s.firstLaunchMs, e.taskInfo.launchTime)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val s = stage(e.stageId)
        s.tasks += 1
        if (e.reason != org.apache.spark.Success) s.failed += 1
        Option(e.taskMetrics).foreach { m =>
          s.runMs += m.executorRunTime
          s.cpuNs += m.executorCpuTime
          s.gcMs += m.jvmGCTime
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.spill += m.diskBytesSpilled
          s.output += m.outputMetrics.bytesWritten
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      private def rec(qe: QueryExecution): Unit = {
        val ph = qe.tracker.phases
        def d(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
        val start = if (ph.isEmpty) -1L else ph.values.map(_.startTimeMs).min
        qes.add(Map("t0" -> start, "analysis_ms" -> d("analysis"),
          "optimization_ms" -> d("optimization"), "planning_ms" -> d("planning")))
      }
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = rec(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = rec(qe)
    })
  }

  def record: Map[String, Any] = Map(
    "info" -> info, "ops" -> ops, "checks" -> checks, "layer" -> layer,
    "spans" -> spans.asScala.toSeq,
    "jobs" -> jobs.values.asScala.toSeq.sortBy(_("id").asInstanceOf[Int]),
    "stages" -> stages.values.asScala.toSeq.sortBy(_.id).map(_.toMap),
    "qes" -> qes.asScala.toSeq)
}

/** Janino compile count and summed compile time, process-wide. */
object Codegen {
  def snapshot(): (Long, Long) = (
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)
}
