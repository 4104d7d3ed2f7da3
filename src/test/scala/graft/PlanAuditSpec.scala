package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Catalog

/** Whole-catalog physical-plan audit: every declared query's executed plan is
  * scanned for the anti-patterns that kill 100 TB runs. Queries that
  * legitimately need an exempted shape declare it here WITH the reason, so a
  * regression that silently introduces one fails loudly.
  */
class PlanAuditSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sf0001}

  /** Queries allowed a nested-loop/cartesian join, with why. */
  val nljAllowed: Map[String, String] = Map(
    "x41_lev_neardup" -> "bounded all-pairs verifier (doc_id < 100 both sides, documented)",
    "q14_cosine_topk" -> "crossJoin with a broadcast single-row query vector",
    "x39_tfidf" -> "crossJoin with a broadcast 1-row corpus-count aggregate",
    "x48_ann_ivf" -> ("over-cap fallback only: crossJoin with the broadcast " +
      "centroid table (the default route is the NearestCentroids kernel)"),
    "x71_knn_label" -> "crossJoin with the broadcast 10-row probe set",
    "x83_semantic_dedup" -> ("over-cap fallback only: crossJoin with the " +
      "broadcast centroid table (the default route is the NearestCentroids " +
      "kernel — no join at all)"),
    "x90_bm25" -> "crossJoin with a broadcast 1-row corpus-stats aggregate",
    "x91_pmi_collocations" ->
      "crossJoins with broadcast 1-row unigram/bigram grand totals",
    "x95_hybrid_search" -> ("crossJoins with the broadcast 1-row query " +
      "vector, max-score row, and the inner bm25 stats row"))

  /** Queries allowed an ExistingRDD scan, with why. */
  val rddAllowed: Map[String, String] = Map(
    "x18_dedup_minhash" -> ("the survivor-only GROUP-pair table (pre-id-" +
      "expansion, ~21k rows at sf1 vs 14M doc pairs) is materialized " +
      "so the orderBy tail's range sampler / skew " +
      "resample / final pass re-run only the checkpoint read + id explode " +
      "instead of the whole corpus pipeline (r17; sf1 5.1-6.3 → 3.40 s)"),
    "x21_dedup_embedding" -> "bounded-probe mapPartitions tier (documented)",
    "x20_dedup_ngram" -> ("packed shingle sets feed five consumers (df agg, " +
      "both prefix-join sides, both verify sides); one materialization " +
      "replaces five kernel scans — every consumer is still Catalyst-planned"),
    "x66_decontamination" -> ("packed (doc_id, h, shs) feeds the train and " +
      "eval branches; one materialization over the kernel tier's " +
      "layout replaces two fingerprint scans + ~2x-corpus ShingleSet " +
      "evaluation (r17 session 2; x102's at-scale branch shares the shape " +
      "behind its one-task gate) — every consumer is still Catalyst-planned"),
    "x60_dedup_clusters" -> ("iterative fixpoint: the label state is " +
      "materialized each round to stop 2^rounds lineage growth; every " +
      "per-round join/agg is still Catalyst-planned"),
    "x51_rank_distribution" -> ("keyedRowNumbers two-pass: the range-sorted " +
      "input is materialized so the block-offset pass and the final " +
      "pass see the identical partition layout; both passes are " +
      "Catalyst-planned over the materialized state"),
    "x87_shuffle_shards" -> ("keyedRowNumbers two-pass (same machinery as " +
      "x51, hash-shuffle order): the checkpoint pins the partition layout " +
      "across the block-offset and final passes"),
    "x62_funnel" -> ("slim event projection hash-partitioned by user_id and " +
      "materialized ONCE for four consumers; partitioning is preserved " +
      "so every downstream agg/join is exchange-free (PlanShapeSpec pins it)"),
    "x72_gapfill" -> ("bounded daily aggregate materialized for the " +
      "spine derivation and the left join; partitioning preserved, " +
      "downstream exchange-free (PlanShapeSpec pins it)"),
    "x79_sequence_packing" -> ("orderedRunningTotal OVER-CAP route only " +
      "(since the r7 size gate, sub-2²⁰-row inputs — every local SF — " +
      "take the declarative window and plan no RDD scan): the global " +
      "cumulative sum needs a per-partition sequential prefix scan (the " +
      "documented mapPartitions tier) — the declarative alternative is a " +
      "single-partition window over the whole corpus"),
    "x83_semantic_dedup" -> ("cell-assignment table feeds the route probe " +
      "and the pair scoring; one materialization replaces repeated " +
      "NearestCentroids assignment passes (k dots per row each). Scoring " +
      "routes by largest cell: in-contract cells take the per-cell " +
      "mapGroups kernel (tier-d, embeddingNearDupPairs' rationale — the " +
      "declarative join MATERIALIZES every pair row), oversized cells the " +
      "salted Catalyst join"),
    "x84_mixture_sample" -> ("the (doc_id, source, n_toks) projection " +
      "feeds the totals probe and the sample pass; one materialization " +
      "replaces a second tokens-kernel corpus scan"),
    "x48_ann_ivf" -> ("the ranked cell/probe table feeds both join sides; " +
      "one materialization replaces a second NearestCentroids " +
      "assignment pass (k dots per row)"),
    "x92_domain_caps" -> ("keyedRowNumbers two-pass (same machinery as " +
      "x51/x87, per-domain hash ranks): the checkpoint pins the partition " +
      "layout across the block-offset and final passes"),
    "x90_bm25" -> ("the slim (doc_id, dl, tf…) projection feeds the stats " +
      "aggregate and the scoring pass; one materialization replaces a " +
      "second tokens-kernel corpus scan (x84's mechanism)"),
    "x91_pmi_collocations" -> ("the combined vocabulary-bounded count " +
      "table feeds both join sides and both grand totals; one eager " +
      "materialization replaces re-running the corpus explode per " +
      "consumer"),
    "x95_hybrid_search" -> ("inherits x90's checkpointed (doc_id, dl, " +
      "tf…) projection inside the bm25 stage"),
    "x96_quality_gate" -> ("the scored (doc_id, source, quality) " +
      "projection feeds the percentile aggregate and the gate; one " +
      "materialization replaces a second LangStats corpus scan"),
    "x98_interpolate" -> ("x72's co-partitioned pipeline: the bounded " +
      "daily aggregate is materialized for the spine derivation, " +
      "the left join and both windows; partitioning preserved, " +
      "downstream exchange-free"),
    "x99_canonical_docs" -> ("inherits x60's cluster machinery (driver " +
      "union-find's one-job bounded edge collect materializes as an " +
      "ExistingRDD-backed local table, or the distributed tier's " +
      "per-round checkpoints)"),
    "x100_training_pipeline" -> ("the scored dedup-survivor projection " +
      "feeds the threshold aggregate and the funnel aggregate (one " +
      "materialization, x96's rationale); the cap is a bounded top-12 " +
      "heap inside the funnel aggregate, no second pass"))

  for (q <- Catalog.all if q.name != "q08_roundtrip") {
    test(s"${q.name}: no unexpected cartesian/NLJ, no RDD fallback") {
      val plan = q.build(spark, sf0001).queryExecution.executedPlan.toString
      val hasNlj = plan.contains("CartesianProduct") ||
        plan.contains("BroadcastNestedLoopJoin")
      if (hasNlj)
        assert(nljAllowed.contains(q.name),
          s"undeclared nested-loop join in ${q.name}:\n$plan")
      // nothing should fall back to opaque RDD scans (operators must stay
      // inside the SQL engine where Catalyst can see them)
      assert(!plan.contains("ExistingRDD") || rddAllowed.contains(q.name),
        s"unexpected RDD fallback in ${q.name}:\n$plan")
    }
  }
}
