package bench

import scala.util.chaining._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.etl.{FlightPipeline, FlightSchema, Sources}
import graft.ext.{Checkpoints, Dedup, DedupIndex}
import graft.io.Writer
import graft.quality.{Accuracy, Completeness, Consistency}

/** Output checks of one run. Every checked call is one operation; a
  * false check or an exception fails it. */
final class Ops {
  var attempted = 0L
  var failed = 0L
  val failures = scala.collection.mutable.ArrayBuffer[String]()

  def check(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      failures += what
      System.err.println(s"[bench] check failed: $what")
    }
  }
}

/** One closed-loop workload: inputs generated from the seed in `setup`,
  * then passes that each run from input on disk to a checked result. */
trait Workload {
  /** Rows or documents one pass consumes. */
  def units: Long
  def setup(): Unit
  def pass(tr: Trace, ops: Ops, p: Int): Unit
  def inputBytes: Long
  /** Bytes the last pass left on disk. */
  def bytesLeft: Long
  /** Micro-batch latencies of pass `p`, seconds; empty for a batch
    * workload, whose one batch is the pass. */
  def batchSeconds(p: Int): Seq[Double] = Nil
}

object Workload {
  def apply(name: String, spark: SparkSession, seed: Long, scale: Option[Long],
            work: String, cores: Int, progress: StreamProgress): Workload = name match {
    case "flight_etl" => new FlightEtl(spark, seed, scale.getOrElse(FlightEtl.Rows), work, cores)
    case "dedup_ingest" => new DedupIngest(spark, seed, scale.getOrElse(DedupIngest.Docs), work, progress)
    case other => throw new IllegalArgumentException(
      s"unknown workload $other (expected flight_etl or dedup_ingest)")
  }
}

/** The reference notebook's engine cells on a generated flight CSV. */
final class FlightEtl(spark: SparkSession, seed: Long, rows: Long, work: String,
                      cores: Int) extends Workload {
  private val gen = new FlightGen(seed, rows)
  private val e = gen.expected
  private val csvDir = s"$work/flights_csv"
  private val outDir = s"$work/flights_parquet"

  def units: Long = e.totalRows
  def setup(): Unit = gen.write(spark, csvDir, cores)
  def inputBytes: Long = Disk.dataBytes(csvDir)
  def bytesLeft: Long = Disk.dataBytes(outDir)

  def pass(tr: Trace, ops: Ops, p: Int): Unit = {
    val raw = tr.span("etl.load")(FlightPipeline.load(spark, csvDir))
    ops.check("load: 29 columns")(raw.columns.length == 29)
    tr.span("quality.census") {
      val nn = Completeness.nonNullCensus(raw).first()
      val nulls = Completeness.nullCensus(raw).first()
      ops.check("census: planted nulls")(
        nn.getAs[Long]("TailNum") == 0 && nn.getAs[Long]("FlightNum") == e.totalRows &&
          nn.getAs[Long]("CancellationCode") == e.cancelled &&
          nulls.getAs[Long]("TailNum_nulls") == e.totalRows && nulls.getAs[Long]("Year_nulls") == 0)
    }
    tr.span("quality.describe") {
      val n = Accuracy.summaryStatsMixed(raw, FlightSchema.intCols, FlightSchema.stringCols)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      ops.check("describe: 29 columns, planted counts")(n.size == 29 &&
        n("FlightNum") == e.totalRows && n("TailNum") == 0 && n("CancellationCode") == e.cancelled)
    }
    tr.span("quality.histogram") {
      for (c <- FlightEtl.HistogramCols) {
        val bins = Accuracy.histogram(raw, c, 20).collect()
        ops.check(s"histogram $c: every row binned")(bins.map(_.getLong(1)).sum == e.totalRows)
      }
    }
    tr.span("quality.consistency") {
      for (c <- FlightSchema.stringCols) {
        val freq = Consistency.freqTable(raw, c).collect()
        val nulls = freq.filter(_.isNullAt(0)).map(_.getLong(1)).sum
        val expectedNulls = if (c == "CancellationCode") e.totalRows - e.cancelled else 0L
        ops.check(s"freqTable $c: every row counted")(
          freq.map(_.getLong(1)).sum == e.totalRows && nulls == expectedNulls)
      }
    }
    val report = tr.span("etl.pipeline")(FlightPipeline.run(spark, csvDir, FlightGen.AsOfYear))
    ops.check("pipeline report equals the planted arithmetic")(
      report.droppedColumns == Seq("TailNum") && report.totalRows == e.totalRows &&
        report.exactDupGroups == e.exactDupGroups && report.rowsAfterDedup == e.rowsAfterDedup &&
        report.compoundDupGroups == e.compoundDupGroups && report.validity == e.validity &&
        report.gapDays.map(_.toLocalDate) == Seq(e.gapDay))
    val parts = tr.span("io.write")(Writer.sizedParquet(report.cleaned, outDir))
    ops.check("sizedParquet wrote its partitions")(Disk.dataFiles(outDir).size == parts)
    tr.span("io.readback") {
      val rb = Sources.parquet(spark, outDir).agg(count(lit(1)), max(col("FlightNum"))).first()
      ops.check("read-back rows and max FlightNum")(
        rb.getLong(0) == e.rowsAfterDedup && rb.getInt(1) == e.maxFlightNum)
    }
    report.cleaned.unpersist()
    if (tr.enabled) {
      val csvRead = tr.spans.filter(s => s.pass == p &&
        (s.name.startsWith("etl.") || s.name.startsWith("quality."))).map(_.fsReadBytes).sum
      tr.count("etl.csv_scan_passes", csvRead.toDouble / Disk.allBytes(csvDir))
      tr.count("io.output_bytes", bytesLeft.toDouble)
      tr.count("io.output_files", Disk.dataFiles(outDir).size.toDouble)
    }
  }
}

object FlightEtl {
  /** Base rows; the planted copies add 0.4 %. */
  val Rows = 50000L
  /** Histogram columns: the delay and distance distributions the
    * reference plots. */
  val HistogramCols: Seq[String] = Seq("ArrDelay", "DepDelay", "Distance", "AirTime")
}

/** The document corpus two ways: near-dup dedup of the whole corpus in
  * one batch, then the same corpus streamed shard by shard into the
  * incremental dedup index, a takedown of about 1 % of ids and a purging
  * compact. The batch half sits in the banding kernels, the banded
  * self-join and label propagation; the stream half in per-batch fixed
  * costs (commit, catalog refresh, planning) beside the index writes. */
final class DedupIngest(spark: SparkSession, seed: Long, docs: Long, work: String,
                        progress: StreamProgress) extends Workload {
  import DedupIngest._
  private val gen = new DocGen(seed, docs)
  private val srcDir = s"$work/shards"
  private val survivorsDir = s"$work/survivors"
  private var oneShotPairs = -1L
  private def tableDir(t: String) = s"$work/warehouse/$t"

  def units: Long = docs
  def inputBytes: Long = Disk.dataBytes(srcDir)
  def bytesLeft: Long = Disk.dataBytes(survivorsDir) +
    Disk.dataBytes(tableDir(Index)) + Disk.dataBytes(tableDir(Index + "_pairs"))

  /** Shards staged, plus the one-shot candidate-pair count that the
    * streamed pair set must equal (streamIngest's contract). */
  def setup(): Unit = {
    gen.writeShards(spark, srcDir, Shards)
    oneShotPairs = Dedup.candidatePairs(spark.read.parquet(srcDir), "doc_id", "text", Params).count()
  }

  override def batchSeconds(p: Int): Seq[Double] =
    progress.of(query(p)).map(_.durations.getOrElse("triggerExecution", 0L) / 1e3)

  def pass(tr: Trace, ops: Ops, p: Int): Unit = {
    dedup(tr, ops)
    ingest(tr, ops, p)
  }

  private def dedup(tr: Trace, ops: Ops): Unit = {
    val corpus = spark.read.parquet(srcDir)
    if (!tr.enabled) {
      Dedup.dedupNearDups(corpus, "doc_id", "text", Params, Threshold)
        .write.mode("overwrite").parquet(survivorsDir)
    } else {
      // The same composition dedupNearDups runs, one public
      // sub-operator per span; their sum sits beside the untraced wall.
      val bands = tr.span("dedup.bands")(
        Dedup.bands(corpus, "doc_id", "text", Params).pipe(Checkpoints.stage))
      val cands = tr.span("dedup.candidates")(
        Dedup.candidatePairsFromBands(bands, Params).pipe(Checkpoints.stage))
      val pairs = tr.span("dedup.verify")(
        Dedup.verifyPairs(corpus, cands, "doc_id", "text", Params, Threshold).pipe(Checkpoints.stage))
      val clusters = tr.span("dedup.clusters") {
        val touched = pairs.select(col("id_a").as("doc"))
          .union(pairs.select(col("id_b").as("doc"))).distinct()
        Dedup.nearDupClusters(touched, "doc", pairs)
      }
      tr.span("dedup.survivors") {
        val losers = clusters.where(col("id") =!= col("cluster_id")).select(col("id"))
        corpus.join(losers, corpus("doc_id") === losers("id"), "left_anti")
          .write.mode("overwrite").parquet(survivorsDir)
      }
      tr.span("trace.counts") {
        val nCands = cands.count()
        val nPairs = pairs.count()
        tr.count("dedup.candidate_pairs", nCands.toDouble)
        tr.count("dedup.verified_pairs", nPairs.toDouble)
        tr.count("dedup.verify_yield", if (nCands == 0) 0.0 else nPairs.toDouble / nCands)
        tr.count("dedup.oversized_buckets", Dedup.minhashOversized(bands, Params).count().toDouble)
      }
    }
    tr.span("check") {
      val clusteredLoser = col("doc_id") < lit(4 * gen.clusters) && pmod(col("doc_id"), lit(4L)) =!= 0
      val r = spark.read.parquet(survivorsDir)
        .agg(count(lit(1)), sum(when(clusteredLoser, 1L).otherwise(0L))).first()
      ops.check("survivors = n - planted losers, one per cluster")(
        r.getLong(0) == gen.survivors && r.getLong(1) == 0L)
    }
  }

  private def ingest(tr: Trace, ops: Ops, p: Int): Unit = {
    val stream = spark.readStream.schema(gen.frame(spark, 1).schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val (acc, batches) = tr.span("streaming.ingest")(DedupIndex.streamIngest(spark, Index,
      stream, "doc_id", "text", Params, queryName = query(p)))
    tr.span("check") {
      val missing = gen.plantedPairs(spark).join(acc, Seq("id_a", "id_b"), "left_anti").count()
      ops.check("one micro-batch per shard")(batches == Shards)
      ops.check("streamed pairs = one-shot candidatePairs, planted pairs included")(
        acc.count() == oneShotPairs && missing == 0)
    }
    val deleted = gen.deletedIds(spark)
    tr.span("index.delete")(DedupIndex.delete(spark, Index, deleted))
    val filesBefore = Disk.dataFiles(tableDir(Index)).size
    tr.span("index.compact")(DedupIndex.compact(spark, Index, purge = true))
    tr.span("check") {
      val idx = spark.table(Index)
      val left = idx.join(deleted, Seq("id"), "left_semi").count()
      ops.check("no tombstoned id after compact; every live doc keeps its bands")(
        left == 0 && idx.count() == Params.bands * (docs - gen.deleted))
    }
    if (tr.enabled) {
      tr.count("index.files_before_compact", filesBefore.toDouble)
      tr.count("index.files_after_compact", Disk.dataFiles(tableDir(Index)).size.toDouble)
      tr.count("index.bytes", Disk.dataBytes(tableDir(Index)).toDouble)
    }
  }
}

object DedupIngest {
  val Docs = 10000L
  val Shards = 10
  val Params: Dedup.MinHashParams = Dedup.MinHashParams()
  val Threshold = 0.5
  val Index = "bench_dedup_idx"
  def query(p: Int): String = s"bench_ingest_$p"
}
