package perfbench

import java.nio.file.Paths

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{NbClassifier, NgramLm}
import graft.reports.IngestPipeline
import graft.reports.IngestPipeline.IngestConfig

/** Audited nightly ingest with every gate and index on, followed by one
  * takedown (`IngestPipeline.retract`). The first night lands every index
  * and pays its cold start, as a scheduled night in a fresh JVM does. */
final class IngestNights(spark: SparkSession, o: Opts, rec: Recorder) extends Workload {
  import IngestNights._

  private val data = o.data
  private val root = o.root + "/ingest"
  /** night index → kind → ids; plus exact re-submission → source id */
  private val kinds = mutable.Map.empty[Int, Map[String, Seq[Long]]]
  private val exactSource = mutable.Map.empty[Long, Long]
  private var retractIds = Seq.empty[Long]
  locally {
    scala.io.Source.fromFile(s"$data/manifest.tsv").getLines().foreach { l =>
      val f = l.split("\t", -1)
      def ids(s: String) = if (s.isEmpty) Seq.empty[Long] else s.split(",").map(_.toLong).toSeq
      f(0) match {
        case "night" => kinds(f(1).toInt) = kinds.getOrElse(f(1).toInt, Map.empty) + (f(2) -> ids(f(3)))
        case "exact" => exactSource(f(1).toLong) = f(2).toLong
        case "retract" => retractIds = ids(f(1))
      }
    }
  }
  private val lastNight = kinds.keys.max
  private var cfg: IngestConfig = _
  private val ran = mutable.ArrayBuffer.empty[(Int, IngestPipeline.NightResult)]
  private var corpusBeforeRetract = Set.empty[Long]
  private var retractResult: IngestPipeline.RetractResult = _

  private def nightName(i: Int) = f"n$i%03d"

  /** Train the LM and NB gate models and pick the LM ceiling from a
    * held-out calibration split (between the fluent and junk scores). */
  def setup(): Unit = {
    val pos = spark.read.parquet(s"$data/train_pos.parquet")
    val neg = spark.read.parquet(s"$data/train_neg.parquet")
    val lm = NgramLm.train(pos, "doc_id", "text")
    NgramLm.save(spark, lm, s"$root/models/lm")
    NbClassifier.save(spark, NbClassifier.train(pos, neg, "doc_id", "text"), s"$root/models/nb")
    val ce = NgramLm.crossEntropy(spark.read.parquet(s"$data/calib.parquet"), "doc_id",
      "text", NgramLm.load(spark, s"$root/models/lm"))
    val fluent = col("doc_id") < CalibJunkFrom
    val bounds = ce.agg(max(when(fluent, col("cross_entropy"))),
      min(when(!fluent, col("cross_entropy")))).head()
    val (goodMax, junkMin) = (bounds.getDouble(0), bounds.getDouble(1))
    rec.check("lm_ceiling_separates", goodMax < junkMin,
      s"fluent max $goodMax, junk min $junkMin")
    cfg = IngestConfig(
      corpusPath = s"$root/corpus",
      bandIndexPath = s"$root/band",
      metaDir = s"$root/meta",
      ivfPqIndexPath = Some(s"$root/ivfpq"), ivfPqCells = 4, ivfPqM = 8, ivfPqKsub = 8,
      bloomIndexPath = Some(s"$root/bloom"), bloomShards = 4, bloomBitsPerShard = 1L << 16,
      bm25IndexPath = Some(s"$root/bm25"), bm25Buckets = 4,
      evalSetPath = Some(s"$data/eval_set.parquet"),
      lmModelPath = Some(s"$root/models/lm"), lmGateMaxCe = (goodMax + junkMin) / 2,
      nbModelPath = Some(s"$root/models/nb"),
      dropLedger = true, strict = true, maxBucket = 200)
  }

  private def batch(i: Int) = spark.read.parquet(f"$data/night_$i%03d.parquet")

  private def night(i: Int): Unit = rec.op("night", nightName(i)) { r =>
    val res = rec.span("night") { IngestPipeline.runNight(spark, batch(i), nightName(i), cfg) }
    ran += i -> res
    r("items") = res.batchRows
    r("check_ok") = res.accepted + res.dropped == res.batchRows && !res.skipped
  }

  /** Whole nights until the run's time is up, then the takedown. */
  def run(deadlineMs: Double): Unit = {
    var i = 0
    do { night(i); i += 1 } while (i <= lastNight && rec.nowMs < deadlineMs)
    corpusBeforeRetract = corpusIds()
    rec.op("retract", "retract") { r =>
      retractResult = rec.span("retract") {
        IngestPipeline.retract(spark, spark.createDataFrame(retractIds.map(Tuple1(_)))
          .toDF("doc_id"), "takedown", cfg)
      }
      r("items") = retractIds.length.toLong
    }
  }

  private def corpusIds(): Set[Long] =
    spark.read.parquet(cfg.corpusPath).select("doc_id").collect().map(_.getLong(0)).toSet

  def check(): Unit = {
    val ledger = IngestPipeline.ledger(spark, cfg).select("doc_id", "reason", "load_date")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val corpus = corpusIds()
    val retracted = retractIds.toSet
    ran.foreach { case (i, res) =>
      val k = kinds(i)
      // a byte-identical copy of a landed doc must drop
      val exactMissed = k.getOrElse("exact", Nil)
        .filter(id => corpusBeforeRetract.contains(exactSource(id)) && !ledger.contains(id))
      val contMissed = k.getOrElse("contaminated", Nil).filterNot(ledger.contains)
      val freshExact = k.getOrElse("fresh", Nil)
        .filter(id => ledger.get(id).exists(_.startsWith("exact_")))
      rec.check(s"night_${nightName(i)}",
        res.accepted + res.dropped == res.batchRows && exactMissed.isEmpty &&
          contMissed.isEmpty && freshExact.isEmpty,
        s"accepted=${res.accepted} dropped=${res.dropped} rows=${res.batchRows} " +
          s"exact_missed=${exactMissed.take(5)} contaminated_missed=${contMissed.take(5)} " +
          s"fresh_as_exact=${freshExact.take(5)}")
    }
    ledger.values.groupBy(identity).foreach { case (reason, xs) =>
      rec.add(s"night.drops.$reason", xs.size.toDouble) }
    val landed = retracted.intersect(corpusBeforeRetract)
    val leftInCorpus = retracted.intersect(corpus)
    rec.check("retract_corpus", leftInCorpus.isEmpty && retractResult != null &&
      retractResult.corpusRemoved == landed.size,
      s"left=${leftInCorpus.take(5)} removed=${Option(retractResult).map(_.corpusRemoved)} " +
        s"expected=${landed.size}")
    // every index family reports the takedown's physical removal
    val removed = Option(retractResult).toSeq.flatMap(r => Seq("band" -> Some(r.bandRemoved),
      "bloom" -> r.bloomRemoved, "ivfpq" -> r.ivfPqRemoved, "bm25" -> r.bm25Removed))
    rec.check("retract_indexes", removed.nonEmpty && removed.forall { case (_, n) =>
      n.exists(_ > 0) || landed.isEmpty }, s"removed per family: $removed")
    IndexFamilies.foreach { fam =>
      val (n, b) = Main.dataFiles(Paths.get(s"$root/$fam"))
      rec.add(s"operators.$fam.files", n.toDouble)
      rec.add(s"operators.$fam.mb", b / 1048576.0)
    }
    rec.add("meta.audit_files", Main.dataFiles(Paths.get(s"${cfg.metaDir}/execution_log"))._1.toDouble)
    // night steps as spans, from the pipeline's own audit rows
    spark.read.parquet(s"${cfg.metaDir}/execution_log")
      .select("target_table", "execution_start_ts", "execution_end_ts").collect()
      .foreach { r =>
        rec.addSpan(r.getString(0), "", r.getTimestamp(1).getTime.toDouble,
          r.getTimestamp(2).getTime.toDouble)
      }
  }

  /** Band, bloom, IVF-PQ and BM25 indexes plus the meta dir, over the
    * landed corpus. */
  def space(): (Long, Long) =
    (Main.du(Paths.get(root))._2 - Main.du(Paths.get(s"$root/models"))._2,
      Main.dataFiles(Paths.get(cfg.corpusPath))._2)
}

object IngestNights {
  /** calibration docs from this id on are junk (perfbench/gen.py) */
  val CalibJunkFrom = 900L
  val IndexFamilies: Seq[String] = Seq("band", "bloom", "ivfpq", "bm25")
}
