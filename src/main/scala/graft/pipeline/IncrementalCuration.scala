package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.Materialize
import graft.operators.Relational
import graft.streaming.EventStreams

/** The "ingest one dump per day" end-to-end loop — x100's training-data
  * pipeline re-expressed as a CROSS-BATCH operator (VERDICT r8 directive 6):
  * each arriving batch flows through
  *
  *   1. exact dedup against the persistent digest history
  *      ([[IncrementalDedup.dedupBatch]] — within-batch keep-lowest-id,
  *      cross-batch claims),
  *   2. an OFFLINE-threshold quality gate — the
  *      [[EventStreams.streamingQualityGate]] contract in batch form
  *      (thresholds are an input computed on a reference corpus via
  *      [[graft.functions.TextAnalysis.discreteThreshold]], NOT recomputed
  *      per batch: a per-batch percentile would make a doc's fate depend on
  *      which dump it arrived in, and the streaming face already pinned the
  *      fixed-threshold semantics),
  *   3. per-source caps against PERSISTENT per-source kept-counts: a source
  *      may contribute at most `capPerSource` documents across ALL batches;
  *      each batch draws deterministically (x92's Knuth multiplicative hash,
  *      tie-broken by id) from its gated docs up to the source's REMAINING
  *      budget.
  *
  * Stage order is the declared semantics (x100's): dedup first so a
  * duplicate never consumes gate/cap budget, gate second so capped slots go
  * only to docs worth keeping.
  *
  * Scale shape: stage 1 shuffles 16-byte digests ([[IncrementalDedup]]);
  * stage 2 is a per-row kernel + broadcast threshold join (no shuffle
  * beyond stage 1's output); stage 3 is ONE bounded-heap aggregate —
  * [[Relational.smallestK]] keeps at most `capPerSource` (hash, id) structs
  * per source (map-side heaps, O(sources·cap) rows shuffle), the kept-count
  * history collapses to an O(sources) broadcast, and the remaining-budget
  * slice is per-row arithmetic. No window, no full ranks, no corpus-sized
  * state anywhere.
  *
  * Both persistent tables — the digest history inside
  * [[IncrementalDedup.dedupBatch]] and the per-source kept-counts under
  * `historyPath/source_counts` — are [[BatchHistory]] tables, so a
  * redelivered batch reproduces its original survivor set whether the
  * crash hit before, between or after the state writes.
  *
  * Kept-count state records the batch's CONSUMPTION (one row per source
  * that kept ≥ 1 doc), not the survivors themselves — budgets need only
  * the sum, and an O(sources) table per batch is the minimum any global
  * cap can carry. Token-free docs are dropped by the gate (stage-2
  * population rule, matching x96/x100); docs from sources absent from the
  * threshold table pass with `defaultThr` (−∞ = collect-and-tag;
  * `Double.MaxValue` quarantines unknown sources — the streaming gate's
  * knob, same default). */
object IncrementalCuration {

  /** Curate `batch` (tagged `batchId`) through dedup → gate → caps against
    * the persistent state under `historyPath`, record this batch's digest
    * claims and per-source kept-counts, and return the surviving rows (all
    * input columns). First call bootstraps both histories.
    *
    * THRESHOLD REFRESH (VERDICT r9 directive 5): `thresholds` is a pinned
    * input, not state — real corpora recompute their reference
    * distribution periodically (e.g. quarterly), and the seam for that is
    * simply passing the refreshed table from some batch onward. The
    * contract: new thresholds govern ONLY batches delivered after the
    * swap; already-recorded digest claims and kept-counts are score-free
    * (they record consumption, not quality), so the swap never reopens or
    * revokes a past batch's keeps and never changes remaining budgets
    * except through the new batches' own gate outcomes. The one duty the
    * seam puts on the caller: a REDELIVERED batch must replay its
    * ORIGINAL thresholds table — the thresholds are part of the batch's
    * delivery identity exactly like its rows (replaying with refreshed
    * thresholds is a different delivery and may draw a different survivor
    * set). Spec-pinned in IncrementalCurationSpec ("threshold refresh
    * between batches").
    *
    * `batch` must carry `idCol` (globally unique across batches — the
    * tier's shared contract), `textCol`, and a `source` column (the gate's
    * and the caps' key, fixed by the streaming-gate contract).
    *
    * `dedupStage` is the stage-1 operator: any [[IncrementalDedup]] tier
    * applied partially over its own knobs — it receives (batch, state
    * path, batchId) and must return surviving rows while honoring the
    * [[BatchHistory]] retry contract (all five tiers do). Default: exact
    * [[IncrementalDedup.dedupBatch]]; pass e.g.
    * `IncrementalDedup.passageBatch(_, _, _, chunkTokens = 30,
    * dupFrac = 0.8)` for a C4-style near-dup curation loop. The stage
    * keeps its state under `historyPath/dedup` regardless of tier, so a
    * history path is bound to ONE tier+knob choice for its lifetime (the
    * same pinning contract as semanticBatch's centroids).
    *
    * `reportPath` (VERDICT r9 stretch 8, curation observability): when
    * set, a per-source funnel report for THIS batch — `(source, n_raw,
    * n_deduped, n_gated, n_kept)`, x100's report shape over the batch —
    * is recorded under `reportPath/batch=batchId` by [[BatchHistory.record]],
    * so a redelivery rewrites its own report partition and the production
    * loop stays auditable batch by batch. Cost when enabled:
    * three O(sources) aggregates (the dedup stage's survivor set is
    * checkpointed slim, so re-counting it does not re-run the dedup
    * joins); zero cost when null. The report is observational output, NOT
    * state: no reader of the curation loop consumes it, so it needs no
    * crash-window reasoning beyond the overwrite idempotence. */
  def curateBatch(batch: DataFrame, historyPath: String, batchId: String,
                  thresholds: DataFrame, capPerSource: Int,
                  defaultThr: Double = Double.NegativeInfinity,
                  idCol: String = "doc_id",
                  textCol: String = "text",
                  dedupStage: (DataFrame, String, String) => DataFrame = null,
                  reportPath: String = null)
      : DataFrame = {
    require(capPerSource > 0, s"capPerSource must be positive, got $capPerSource")
    val countsPath = s"$historyPath/source_counts"

    // stage 1: cross-batch dedup with persistent claims (each tier reads
    // and records its own state table). The pre-r9 layout kept exact
    // digests under /digests; the default stage keeps using it so existing
    // histories stay valid, while injected stages get the tier-neutral
    // /dedup.
    val deduped =
      if (dedupStage == null)
        IncrementalDedup.dedupBatch(
          batch, s"$historyPath/digests", batchId, idCol, textCol)
      else dedupStage(batch, s"$historyPath/dedup", batchId)

    // stage 2: the streaming gate applied verbatim — ONE implementation of
    // "score with LangStats, keep at/above the source's offline threshold,
    // drop token-free docs, unknown sources pass with defaultThr", so the
    // online and batch faces cannot drift
    val gated = EventStreams.streamingQualityGate(
      deduped, thresholds, textCol, defaultThr)

    // stage 3: per-source remaining budget = cap − Σ other batches' kept.
    // A count table: the read dedups the fold's crash-window copies, and
    // (source, origin batch) is a row identity because a batch records at
    // most one row per source, so a batch curated inside a fold's crash
    // window is never under-kept.
    val used = BatchHistory.history(batch.sparkSession, countsPath,
        "source STRING, n_kept LONG", batchId)
      .groupBy("source").agg(sum("n_kept").as("__used"))
    // x92's deterministic draw: Knuth multiplicative hash of the id,
    // tie-broken by the id itself (unique by contract)
    val h = ((col(idCol) % lit(1000000007L)) * lit(2654435761L)) %
      lit(1000000007L)
    // the heap keeps the cap's worth of best draws; the slice then takes
    // only the remaining budget — remaining ≤ cap always, so the heap
    // never under-collects. Materialized: the kept set feeds the counts
    // write AND the survivor join (the tier's two-consumer rule).
    val kept = Materialize(gated
      .select(col("source"), struct(h.as("__h"), col(idCol).as("__id")).as("__s"))
      .groupBy("source")
      .agg(Relational.smallestK(col("__s"), capPerSource).as("__top"))
      .join(broadcast(used), Seq("source"), "left")
      .select(col("source"), expr(
        s"slice(__top, 1, CAST(GREATEST(0L, $capPerSource - " +
          "coalesce(__used, 0L)) AS INT))").as("__keep"))
      .select(col("source"), explode(col("__keep")).as("__k"))
      .select(col("source"), col("__k.__id").as(idCol)))
    BatchHistory.record(kept.groupBy("source").agg(count(lit(1)).as("n_kept")),
      countsPath, batchId)
    if (reportPath != null) {
      def cnt(df: DataFrame, as: String) =
        df.groupBy("source").agg(count(lit(1)).as(as))
      // left joins: every stage's population is a subset of the raw
      // batch's sources, so raw anchors the funnel; absent = 0
      BatchHistory.record(cnt(batch, "n_raw")
        .join(cnt(deduped, "n_deduped"), Seq("source"), "left")
        .join(cnt(gated, "n_gated"), Seq("source"), "left")
        .join(cnt(kept, "n_kept"), Seq("source"), "left")
        .na.fill(0L, Seq("n_deduped", "n_gated", "n_kept")), reportPath, batchId)
    }
    batch.join(kept.select(idCol), Seq(idCol), "left_semi")
  }
}
