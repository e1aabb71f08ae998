package perfbench

import java.nio.file.Paths

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.core.{Caches, ShuffleSizing, SqlDialect, SqlTemplate}

/** Claims-datamart reports of `SparkEntry.queries` over seeded data: whole
  * passes until the run's time is up, the first one cold, as a scheduled
  * report job in a fresh JVM runs them. The order is fixed: in a cold JVM a
  * report's latency depends on which reports compiled shared code before
  * it. Each execution
  * collects the full ordered result and fingerprints it; the session is
  * reset between reports the way graft's own bench does it. */
final class ReportBatch(spark: SparkSession, o: Opts, rec: Recorder) extends Workload {
  import ReportBatch._

  private val queries: Seq[(String, (SparkSession, String) => DataFrame)] = {
    val all = SparkEntry.queries
    Layers.keys.toSeq.sorted.map { short =>
      val name = all.keys.find(_.split("_")(0) == short)
        .getOrElse(sys.error(s"query $short is not in SparkEntry.queries"))
      name -> all(name)
    }
  }
  private val data = o.data
  private val last = mutable.Map.empty[String, (Array[Row], StructType, String)]

  /** Fixture: read each input table's footer once, as registering the
    * tables does. */
  def setup(): Unit = Tables.foreach(t => spark.read.parquet(s"$data/$t.parquet").schema)

  /** Whole passes in a fixed order until the run's time is up. */
  def run(deadlineMs: Double): Unit = {
    var i = 0
    while (rec.nowMs < deadlineMs) { pass(i); i += 1 }
  }

  private def pass(i: Int): Unit = queries.foreach { case (name, fn) =>
    val short = name.split("_")(0)
    rec.op("report", name) { r =>
      r("layer") = Layers(short)
      r("pass") = i
      try ShuffleSizing.scoped(spark) {
        val df = fn(spark, data)
        val rows = df.collect()
        val fp = Main.fingerprint(rows)
        r("rows") = rows.length.toLong
        r("fp") = fp
        last(name) = (rows, df.schema, fp)
      } finally reset(r)
    }
    if (o.trace && short == "q40") timeRender()
  }

  /** Session reset between reports (the graft.Bench.runOnce discipline):
    * operator caches, persisted blocks and temp views all go. */
  private def reset(r: mutable.Map[String, Any]): Unit = {
    Caches.releaseAll()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    spark.catalog.listTables().collect().filter(_.isTemporary)
      .foreach(t => spark.catalog.dropTempView(t.name))
    r("leftover_blocks") =
      (spark.sparkContext.getPersistentRDDs.size + Caches.trackedCount).toLong
  }

  /** core.sql_render_s: the template render + dialect pass that the report
    * pipeline (q40) runs, timed directly on the repo's own templates. */
  private def timeRender(): Unit = {
    val t0 = System.nanoTime()
    Seq("base", "detail", "summary").foreach { f =>
      val text = SqlTemplate.renderFile(s"sql/service_summary/$f.sql",
        placeholders = Map("SOURCE_TABLE" -> "events", "BASE_VIEW" -> "b",
          "DETAIL_VIEW" -> "d"),
        sessionVars = Map("MIN_VALUE" -> "2.0", "MAX_VALUE" -> "8.0"),
        dialect = false)
      SqlDialect.toSpark(text)
    }
    rec.add("core.sql_render_s", (System.nanoTime() - t0) / 1e9)
  }

  /** Dumps each query's last collected result (the rows that were timed)
    * as parquet, with the DuckDB oracle SQL beside it; the runner compares
    * the two outside the JVM. */
  def check(): Unit = {
    val oracle = SparkEntry.oracleSql
    val byName = rec.ops.filter(_.get("layer").isDefined).groupBy(_("name").toString)
    last.foreach { case (name, (rows, schema, fp)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"${o.root}/results/$name")
      // every execution of a query must have produced the same result
      val fps = byName(name).flatMap(_.get("fp")).toSet
      rec.check(s"stable:$name", fps == Set(fp), s"${fps.size} distinct results")
    }
    val sql = last.keys.toSeq.sorted.map(n => n -> oracle(n)).toMap
    java.nio.file.Files.write(Paths.get(s"${o.root}/results/oracle_sql.json"),
      Json(sql).getBytes("UTF-8"))
  }

  /** Inputs plus whatever the reports left on disk, over the inputs. */
  def space(): (Long, Long) = {
    val root = Paths.get(o.root)
    val disk = Main.du(root)._2 - Main.du(root.resolve("results"))._2 -
      Main.du(root.resolve("spark-local"))._2
    (disk, Main.du(Paths.get(data))._2)
  }
}

object ReportBatch {
  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents")

  /** The timed reports and the graft layer each one goes through (core =
    * plain DataFrame/SQL over graft.core sessions): 12 of the 43
    * claims-datamart reports, every layer kept, since a cold pass of all 43
    * does not fit the benchmark's time budget. */
  val Layers: Map[String, String] = {
    val core = Seq("q01", "q03", "q20")
    val ops = Seq("q05", "q19", "q21")
    val merge = Seq("q18")
    val dq = Seq("q23", "q57")
    val reports = Seq("q09", "q40", "q47")
    (ops.map(_ -> "ops") ++ merge.map(_ -> "merge") ++ dq.map(_ -> "dq") ++
      reports.map(_ -> "reports") ++ core.map(_ -> "core")).toMap
  }
}
