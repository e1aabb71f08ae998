package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{Row, SparkSession}

import graft.core.GraftSession

/** Options the Python runner passes to the JVM. */
final case class Opts(workload: String, seed: Long, seconds: Double,
    trace: Boolean, root: String, data: String, out: String, cores: Int)

/** One benchmark workload: a fixture, a timed closed loop, then output
  * checks outside the timing. */
trait Workload {
  def setup(): Unit
  def run(deadlineMs: Double): Unit
  def check(): Unit
  /** (bytes on disk under the workload's root, bytes of live user data) */
  def space(): (Long, Long)
}

object Main {
  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("root"), kv("data"), kv("out"), kv("cores").toInt)
    val rec = new Recorder(o.trace)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

    val spark = GraftSession.builder(master = s"local[${o.cores}]",
        appName = "perfbench", shufflePartitions = o.cores)
      .config("spark.sql.warehouse.dir", s"${o.root}/warehouse")
      .config("spark.local.dir", s"${o.root}/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    rec.install(spark)
    val sessionMs = rec.nowMs
    val conf = spark.conf.getAll.toSeq.sorted
      .filterNot { case (k, _) => k.startsWith("spark.app.") || k == "spark.driver.port" ||
        k.startsWith("spark.sql.warehouse") || k == "spark.local.dir" ||
        k == "spark.driver.host" || k == "spark.executor.id" }
    rec.info("conf_hash") = md5(conf.map { case (k, v) => s"$k=$v" }.mkString("\n")).take(16)
    rec.info("spark_version") = spark.version
    rec.info("java_version") = System.getProperty("java.version")
    rec.info("cores") = o.cores

    val w: Workload = o.workload match {
      case "report_batch" => new ReportBatch(spark, o, rec)
      case "cdc_merge" => new CdcMerge(spark, o, rec)
      case "ingest_nights" => new IngestNights(spark, o, rec)
      case other => sys.error(s"unknown workload $other")
    }
    w.setup()
    val firstOpMs = rec.nowMs
    rec.info("jvm_start_ms") = jvmStartMs
    rec.info("session_s") = (sessionMs - jvmStartMs) / 1e3
    rec.info("fixture_s") = (firstOpMs - sessionMs) / 1e3
    rec.info("setup_s") = (firstOpMs - jvmStartMs) / 1e3
    rec.info("timed_t0") = firstOpMs
    val cpu0 = ownCpuNs()
    val jif0 = busyJiffies()
    w.run(firstOpMs + o.seconds * 1e3)
    val timedEnd = rec.nowMs
    rec.info("timed_t1") = timedEnd
    val wallS = (timedEnd - firstOpMs) / 1e3
    val ownCores = (ownCpuNs() - cpu0) / 1e9 / wallS
    val busyCores = (busyJiffies() - jif0) / 100.0 / wallS
    rec.info("own_cores") = ownCores
    rec.info("external_cores") = math.max(0.0, busyCores - ownCores)
    // settle the async cleaner's work before reading the live heap
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(100) }
    rec.info("heap_live_mb") =
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    w.check()
    rec.info("checked_s") = (rec.nowMs - timedEnd) / 1e3
    val (disk, live) = w.space()
    rec.info("disk_bytes") = disk
    rec.info("live_bytes") = live
    if (o.trace) org.apache.spark.sql.graft.ColumnBridge.drainListenerBus(spark)
    rec.info("finished_s") = (rec.nowMs - jvmStartMs) / 1e3
    Files.write(Paths.get(o.out), Json(rec.record).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(StandardCharsets.UTF_8)).map("%02x".format(_)).mkString

  private def ownCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
    case _ => 0L
  }

  /** Machine-wide busy jiffies, as graft.Bench.externalCores reads them. */
  private def busyJiffies(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong).take(8)
        .zipWithIndex.collect { case (v, i) if i != 3 && i != 4 => v }.sum
      finally src.close()
    } catch { case _: Throwable => 0L }

  /** Order-sensitive digest of a collected result; binary cells as hex. */
  def fingerprint(rows: Array[Row]): String = {
    def canon(v: Any): String = v match {
      case null => "\\N"
      case b: Array[Byte] => b.map("%02x".format(_)).mkString
      case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
      case xs: scala.collection.Seq[_] => xs.map(canon).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }
          .sorted.mkString("{", ",", "}")
      case other => other.toString
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach(r => md.update((canon(r) + "\n").getBytes(StandardCharsets.UTF_8)))
    md.digest().map("%02x".format(_)).mkString
  }

  /** (files, bytes) of regular files under `p`. */
  def du(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val st = Files.walk(p)
      try {
        var n = 0L; var b = 0L
        st.filter(Files.isRegularFile(_)).forEach { f => n += 1; b += Files.size(f) }
        (n, b)
      } finally st.close()
    }

  /** Data files (parquet parts) under `p`, skipping checksums and markers. */
  def dataFiles(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val st = Files.walk(p)
      try {
        var n = 0L; var b = 0L
        st.filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet"))
          .forEach { f => n += 1; b += Files.size(f) }
        (n, b)
      } finally st.close()
    }
}
