package perfbench

import java.nio.file.{Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.merge.Upsert
import graft.ops.{Cdc, Compaction}

/** Nightly CDC batches MERGEd into a date-partitioned claims target, with an
  * SCD2 history maintained beside it and a point-in-time report read after
  * every batch; both tables are compacted every few batches. */
final class CdcMerge(spark: SparkSession, o: Opts, rec: Recorder) extends Workload {
  import CdcMerge._

  private val data = o.data
  private val historyPath = s"${o.root}/history"
  private def targetPath: Path = Paths.get(s"${o.root}/warehouse/$Target")
  /** (file, rows, inserted, updated) per generated batch */
  private val batches: Seq[(String, Long, Long, Long)] =
    scala.io.Source.fromFile(s"$data/manifest.tsv").getLines().drop(1).map { l =>
      val f = l.split("\t"); (f(0), f(1).toLong, f(2).toLong, f(3).toLong)
    }.toSeq
  private var applied = 0
  private val rng = new scala.util.Random(o.seed)

  def setup(): Unit = {
    val initial = spark.read.parquet(s"$data/initial.parquet")
    initial.write.partitionBy("claim_date").saveAsTable(Target)
    Cdc.effectiveIntervals(initial, Keys, "version_ts", Seq(col("seq").asc))
      .write.mode("overwrite").partitionBy("claim_date").parquet(historyPath)
  }

  /** Whole compaction cycles only (CompactEvery batches, each followed by
    * its as-of read, then one compaction), so every run times the same mix
    * of merges, reads and compactions. The first cycle pays the cold start
    * of the merge, history, as-of and compaction paths, as the first night
    * in a fresh JVM does. */
  def run(deadlineMs: Double): Unit =
    while (rec.nowMs < deadlineMs && applied + CompactEvery <= batches.length) {
      (1 to CompactEvery).foreach(_ => batch("batch"))
      compact("compact")
    }

  private def compact(kind: String): Unit = rec.op(kind, s"compact_$applied") { _ =>
    timed("ops.compact_s") {
      val t = Compaction.compactPath(spark, targetPath.toString, Seq("claim_date"),
        maxPartitions = CompactPartitions)
      val h = Compaction.compactPath(spark, historyPath, Seq("claim_date"),
        maxPartitions = CompactPartitions)
      spark.catalog.refreshTable(Target)
      rec.add("ops.files_before", (t.filesBefore + h.filesBefore).toDouble)
      rec.add("ops.files_after", (t.filesAfter + h.filesAfter).toDouble)
    }
  }

  /** dedup → partition-scoped MERGE → SCD2 history append, then the read */
  private def batch(kind: String): Unit = {
    val (file, rows, expIns, expUpd) = batches(applied)
    rec.op(kind, file) { r =>
      val src = spark.read.parquet(s"$data/$file")
      val dedup = timed("ops.dedup_s") {
        Cdc.latestVersion(src, Keys, Seq(col("version_ts").desc, col("seq").desc))
          .localCheckpoint()
      }
      val res = timed("merge.merge_s") {
        val before = partitionFiles(targetPath)
        val res = Upsert.mergeIntoTable(Target, dedup, Keys,
          matchedCondition = Some(Upsert.source("version_ts") > Upsert.target("version_ts")))
        val after = partitionFiles(targetPath)
        val rewritten = after.filter { case (p, fs) => !before.get(p).contains(fs) }
        rec.add("merge.partitions_rewritten", rewritten.size.toDouble)
        rec.add("merge.bytes_written", rewritten.values.flatten.map(_._2).sum.toDouble)
        res
      }
      timed("ops.intervals_s")(appendHistory(src))
      rec.add("merge.rows_changed", (res.inserted + res.updated + res.deleted).toDouble)
      r("items") = rows
      r("inserted") = res.inserted
      r("updated") = res.updated
      r("check_ok") = res.inserted == expIns && res.updated == expUpd
      if (res.inserted != expIns || res.updated != expUpd)
        System.err.println(s"[perfbench] $file counts ${res.inserted}/${res.updated}" +
          s" != expected $expIns/$expUpd")
    }
    applied += 1
    rec.op("asof", s"asof_$applied") { r =>
      r("rows") = timed("ops.asof_s")(asOfReport()).toLong
    }
  }

  private def timed[T](key: String)(body: => T): T = rec.span(key) {
    val t0 = System.nanoTime()
    try body finally rec.add(key, (System.nanoTime() - t0) / 1e9)
  }

  /** SCD2 history: the batch's distinct versions join the touched
    * partitions' existing versions, intervals are re-derived per key and
    * only those partitions are overwritten. */
  private def appendHistory(src: DataFrame): Unit = {
    val versions = src.dropDuplicates()
    val days = versions.select("claim_date").distinct().collect().map(_.get(0))
    val prior = spark.read.parquet(historyPath)
      .filter(col("claim_date").isin(days: _*))
      .drop("eff_dt", "exp_dt")
    Cdc.effectiveIntervals(prior.unionByName(versions), Keys, "version_ts",
        Seq(col("seq").asc))
      .localCheckpoint()
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("claim_date").parquet(historyPath)
  }

  /** Point-in-time report: live claims by status as of a seed-chosen
    * instant inside the history's most recent nights. */
  private def asOfReport(): Int = {
    val hist = spark.read.parquet(historyPath)
    rec.add("ops.asof_input_mb", Main.dataFiles(Paths.get(historyPath))._2 / 1048576.0)
    val night = java.time.LocalDate.of(2024, 1, 31).plusDays(applied - 1L)
    val asOf = to_timestamp(lit(f"$night ${rng.nextInt(24)}%02d:00:00"))
    hist.filter(Cdc.validAt(asOf, col("eff_dt"), col("exp_dt")) && !col("is_deleted"))
      .groupBy("status")
      .agg(count(lit(1)).as("n"), sum(col("amount").cast("decimal(18,2)")).as("total"))
      .orderBy("status").collect().length
  }

  /** file name → (name, bytes) of the data files, per partition dir */
  private def partitionFiles(root: Path): Map[String, Set[(String, Long)]] = {
    val parts = Option(root.toFile.listFiles()).getOrElse(Array.empty).filter(_.isDirectory)
    parts.map { d =>
      d.getName -> Option(d.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet")).map(f => (f.getName, f.length())).toSet
    }.toMap
  }

  def check(): Unit = {
    val cols = spark.table(Target).columns.toSeq
    val all = (spark.read.parquet(s"$data/initial.parquet") +: batches.take(applied)
      .map { case (f, _, _, _) => spark.read.parquet(s"$data/$f") }).reduce(_ unionByName _)
    val expected = Cdc.latestVersion(all, Keys, Seq(col("version_ts").desc, col("seq").desc))
      .select(cols.map(col): _*)
    val actual = spark.table(Target).select(cols.map(col): _*)
    // order-free table digests: row count and the sum of per-row hashes
    def digest(df: DataFrame) = df.agg(count(lit(1)), sum(xxhash64(cols.map(col): _*)
      .cast("decimal(38,0)"))).head()
    val (want, got) = (digest(expected), digest(actual))
    rec.check("target_equals_latest_version", want == got,
      s"expected $want, got $got after $applied batches")

    // intervals never overlap per key: one version per (key, eff_dt), each
    // closed before the next one starts, exactly one open-ended version
    val h = spark.read.parquet(historyPath)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(Keys.map(col): _*)
      .orderBy(col("eff_dt"), col("seq"))
    val bad = h.withColumn("next_eff", lead(col("eff_dt"), 1).over(w))
      .filter(col("next_eff").isNotNull && col("exp_dt") >= col("next_eff") ||
        col("next_eff") === col("eff_dt"))
      .count()
    val open = h.filter(col("exp_dt") === to_timestamp(lit(Cdc.SentinelHighDate))).count()
    val keys = got.getLong(0)
    rec.check("history_intervals_disjoint", bad == 0 && open == keys,
      s"overlapping=$bad open=$open keys=$keys")
  }

  /** Target + history on disk over the target's own data files. */
  def space(): (Long, Long) = {
    rec.info("target_rows") = spark.table(Target).count()
    (Main.du(targetPath)._2 + Main.du(Paths.get(historyPath))._2,
      Main.dataFiles(targetPath)._2)
  }
}

object CdcMerge {
  val Target = "claims"
  val Keys: Seq[String] = Seq("claim_date", "claim_id")
  val CompactEvery = 3
  /** a nightly compaction budget: the most fragmented days first */
  val CompactPartitions = 6
}
