package perfbench

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.functions.{TextAnalysis, TextHashFunctions}
import graft.pipeline.{IncrementalCuration, Maintenance}

/** Batches through [[IncrementalCuration.curateBatch]] (default exact dedup
  * tier, funnel report on), with [[Maintenance.foldHistory]] and
  * [[Maintenance.compactPartitions]] after every `MaintainEvery` batches.
  *
  * Batch k holds the sf1 documents whose seeded hash bucket is k, plus a
  * re-delivery of `RedeliverPct`% of batch k-1's documents under fresh ids
  * (same text, id + `RedeliverIdOffset`): exact dedup must drop every one,
  * including after their originals' digests were folded.
  *
  * The first set-up round runs a maintenance cycle on small batches of a
  * state of its own. The later rounds curate batches 0, 1, ... into the
  * state the timed phase continues, each in a fresh session as a scheduled
  * job would, so every timed batch meets history and re-deliveries. */
final class Curation(ctx: Ctx) extends Workload {
  /** ~2,100 documents a batch at sf1. Compaction finds nothing to rewrite
    * at this corpus size: every digest write and fold shuffles under the
    * ~1 MB that adaptive execution coalesces into one partition, so each
    * partition holds one file (see perfbench/README.md). */
  val Buckets = 24
  /** Maintenance runs after every other batch, so each half of the timed
    * batches holds one maintenance cycle. */
  val TimedBatches = 4
  /** Batches curated into the timed state during set-up. */
  val SetupBatches = Main.SetupRounds - 1
  /** Warm-up batches are ~1,000 documents: the code path, not the volume. */
  val WarmBuckets = 50
  val MaintainEvery = 2
  val RedeliverPct = 10
  val RedeliverIdOffset = 1000000000L
  val DropPermille = 300      // thresholds keep the top 70% per source
  val CapPerSource = 300

  private var docs: DataFrame = _
  private var thresholds: DataFrame = _
  private val thresholdSecs = mutable.ArrayBuffer.empty[Double]
  /** raw, deduped, gated, kept: summed over the batches curated into `root` */
  private val funnel = Array.fill(4)(0L)
  private var partitionsCompacted = 0L
  private val root = s"${ctx.work}/curation"
  /** Every survivor's text digest and every source's kept total so far in
    * `root`, set-up batches included. */
  private val seen = mutable.Set.empty[String]
  private val keptBySource = mutable.Map.empty[String, Long]

  /** Batch `k` of the sequence salted by `salt`, of `n` batches in all. */
  private def batch(salt: Long, k: Int, n: Int = Buckets): DataFrame = {
    def bucket = pmod(xxhash64(col("doc_id"), lit(salt)), lit(n))
    val fresh = docs.where(bucket === k)
    if (k == 0) fresh
    else fresh.unionByName(docs
      .where(bucket === k - 1 &&
        pmod(xxhash64(col("doc_id"), lit(salt + 1)), lit(100)) < RedeliverPct)
      .withColumn("doc_id", col("doc_id") + RedeliverIdOffset))
  }

  /** Per-source thresholds from the reference corpus (batch 0), scored with
    * the gate's own kernel, as a pinned input. */
  private def computeThresholds(): Unit = {
    val (t, s) = ctx.tracer.layer("curation.thresholds") {
      val scored = batch(ctx.seed, 0)
        .withColumn("__st", TextHashFunctions.langStats(col("text")))
        .withColumn("__n", element_at(col("__st"), TextAnalysis.profiles.length + 1).cast("int"))
        .withColumn("__en", element_at(col("__st"), 1).cast("int"))
        .where(col("__n") > 0)
        .select(col("source"), expr(TextAnalysis.qualityScore("__n", "__en")).as("quality"))
      TextAnalysis.discreteThreshold(scored, DropPermille).localCheckpoint()
    }
    thresholds = t
    thresholdSecs += s
  }

  /** Curate batch `k` into `root`; maintenance after every MaintainEvery. */
  private def runBatch(root: String, input: DataFrame, k: Int, op: Op): Array[Row] = {
    val hist = s"$root/hist"
    val kept = ctx.layer("curation.curate")(IncrementalCuration.curateBatch(
      input, hist, s"b$k", thresholds, CapPerSource,
      reportPath = s"$root/report"))
    val t0 = System.nanoTime()
    val rows = ctx.layer("curation.serve")(
      kept.select(col("doc_id"), col("source"), hex(md5(col("text")))).collect())
    if (op != null) op.serveSeconds = ctx.elapsedSince(t0)
    if ((k + 1) % MaintainEvery == 0) {
      ctx.layer("maintenance.fold") {
        Maintenance.foldHistory(ctx.spark, s"$hist/digests", protect = Set(s"b$k"))
        Maintenance.foldHistory(ctx.spark, s"$hist/source_counts",
          protect = Set(s"b$k"), provenance = true)
      }
      val n = ctx.layer("maintenance.compact") {
        Maintenance.compactPartitions(ctx.spark, s"$hist/digests", "batch").size +
          Maintenance.compactPartitions(ctx.spark, s"$hist/source_counts", "batch").size
      }
      if (op != null) partitionsCompacted += n
    }
    rows
  }

  /** Checks one batch's survivors and funnel against everything kept so
    * far; returns (correct, funnel counts). */
  private def verify(root: String, k: Int, rows: Array[Row],
                     seen: mutable.Set[String],
                     keptBySource: mutable.Map[String, Long]): (Boolean, Array[Long]) = {
    var ok = true
    rows.foreach { r =>
      ok &&= seen.add(r.getString(2))           // no digest survives twice
      ok &&= r.getLong(0) < RedeliverIdOffset   // every re-delivery dropped
      keptBySource(r.getString(1)) = keptBySource.getOrElse(r.getString(1), 0L) + 1
    }
    ok &&= keptBySource.values.forall(_ <= CapPerSource)
    val rep = ctx.spark.read.parquet(s"$root/report").where(col("batch") === s"b$k")
      .select("n_raw", "n_deduped", "n_gated", "n_kept").collect()
    val f = Array.tabulate(4)(i => rep.map(_.getLong(i)).sum)
    ok &&= rep.forall(r => r.getLong(0) >= r.getLong(1) && r.getLong(1) >= r.getLong(2) &&
      r.getLong(2) >= r.getLong(3))
    ok &&= f(3) == rows.length
    (ok, f)
  }

  def warmUp(ctx: Ctx, round: Int): Unit = {
    docs = ctx.spark.read.parquet(s"${ctx.sf1}/documents.parquet")
    computeThresholds()
    if (round == 1) {
      val warm = s"${ctx.work}/warm"
      val seenWarm = mutable.Set.empty[String]
      val bySource = mutable.Map.empty[String, Long]
      for (k <- 0 until MaintainEvery) {
        val out = runBatch(warm, batch(ctx.seed ^ 0x5eed, k, WarmBuckets), k, null)
        ctx.check(verify(warm, k, out, seenWarm, bySource)._1,
          s"warm-up batch $k failed its checks")
      }
    } else {
      val k = round - 2
      val out = runBatch(root, batch(ctx.seed, k), k, null)
      val (ok, f) = verify(root, k, out, seen, keptBySource)
      for (i <- 0 until 4) funnel(i) += f(i)
      ctx.check(ok, s"batch b$k failed its checks")
    }
  }

  def timed(ctx: Ctx): Unit = {
    for (k <- SetupBatches until SetupBatches + TimedBatches) {
      var rows = Array.empty[Row]
      ctx.timedOp(s"batch b$k") { op =>
        rows = runBatch(root, batch(ctx.seed, k), k, op)
        rows.length.toLong
      } { op =>
        val (ok, f) = verify(root, k, rows, seen, keptBySource)
        for (i <- 0 until 4) funnel(i) += f(i)
        op.items = f(0)
        ok
      }
    }
  }

  private def tree(path: String): (Long, Long) = {
    val p = new Path(path)
    val fs = p.getFileSystem(ctx.spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) return (0L, 0L)
    val it = fs.listFiles(p, true)
    var files = 0L; var bytes = 0L
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) { files += 1; bytes += f.getLen }
    }
    (files, bytes)
  }

  /** Rows, bytes and an order-insensitive content hash of the batches
    * curated into `root`. */
  private lazy val inputs: (Long, Long, String) = {
    val r = (0 until SetupBatches + TimedBatches).map(batch(ctx.seed, _))
      .reduce(_ unionByName _)
      .agg(count(lit(1)),
        sum(octet_length(col("text")) + octet_length(col("source")) +
          octet_length(col("lang")) + 16),
        sum(xxhash64(col("doc_id"), col("text"), col("source")).cast("decimal(38,0)")))
      .head()
    (r.getLong(0), r.getLong(1), r.getDecimal(2).toPlainString)
  }

  private def stored: Double =
    (tree(s"$root/hist")._2 + tree(s"$root/report")._2).toDouble / inputs._2

  def layerMetrics(ctx: Ctx): Map[String, Double] = {
    def med(layer: String) = Stats.median(ctx.ops.map(_.layers.getOrElse(layer, 0.0)).toSeq)
    def perCycle(layer: String) = {
      val xs = ctx.ops.flatMap(_.layers.get(layer)).toSeq
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    val (files, bytes) = tree(s"$root/hist")
    Map(
      "curation.curate_s" -> med("curation.curate"),
      "curation.dedup_drop_share" -> (1.0 - funnel(1).toDouble / funnel(0)),
      "curation.gate_pass_share" -> funnel(2).toDouble / funnel(1),
      "curation.cap_keep_share" -> funnel(3).toDouble / funnel(2),
      "curation.state_files" -> files.toDouble,
      "curation.state_bytes" -> bytes.toDouble,
      "curation.thresholds_s" -> Stats.median(thresholdSecs.toSeq),
      "curation.stored_bytes_per_input_byte" -> stored,
      "maintenance.fold_s" -> perCycle("maintenance.fold"),
      "maintenance.compact_s" -> perCycle("maintenance.compact"),
      "maintenance.partitions_compacted" -> partitionsCompacted.toDouble)
  }

  def record(ctx: Ctx): Map[String, Any] = {
    val (rows, bytes, hash) = inputs
    ctx.check(rows == funnel(0), s"funnel n_raw ${funnel(0)} != input rows $rows")
    Map("input_rows" -> rows, "input_bytes" -> bytes, "input_hash" -> hash,
      "batches" -> TimedBatches, "funnel" -> funnel.toSeq,
      "stored_bytes_per_input_byte" -> stored,
      "partitions_compacted" -> partitionsCompacted)
  }
}
