package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.ScalePolicy
import graft.queries.Catalog
import graft.sources.Tables

/** Plan-shape guards for the §4 optimizer claims: partition pruning,
  * parquet filter pushdown, column pruning, and broadcast joins must
  * actually appear in the physical plan — at 100 TB these are the
  * difference between reading one partition and reading the lake. */
class PlanShapeSpec extends AnyFunSuite {
  import SparkTestSession.{atScale, spark, sf0001}

  def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("partitioned read with date filter prunes partitions (C3)") {
    val dir = Files.createTempDirectory("graft_prune").toString
    Tables.events(spark, sf0001)
      .withColumn("d", to_date(col("ts")))
      .write.partitionBy("d").mode("overwrite").parquet(dir)
    val pruned = spark.read.parquet(dir)
      .where(col("d") === lit(java.sql.Date.valueOf("2024-01-02")))
    val plan = planOf(pruned)
    assert(plan.contains("PartitionFilters"))
    assert(plan.contains("(d = 2024-01-02)") || plan.contains("(d#"),
      s"expected partition filter on d in:\n$plan")
    // correctness of pruning: filtered read ≡ full read + filter
    val full = spark.read.parquet(dir)
      .where(col("d") === lit(java.sql.Date.valueOf("2024-01-02"))).count()
    assert(pruned.count() == full)
  }

  test("parquet scan pushes data filters (C1' analog)") {
    val df = Tables.lineitem(spark, sf0001).where(col("l_orderkey") === 1L)
      .select("l_orderkey", "l_partkey")
    val plan = planOf(df)
    assert(plan.contains("PushedFilters: [IsNotNull(l_orderkey), EqualTo(l_orderkey,1)]"),
      s"missing pushed filter in:\n$plan")
  }

  test("projection prunes the parquet read schema to selected columns") {
    val df = Tables.lineitem(spark, sf0001).select("l_orderkey", "l_partkey")
    val plan = planOf(df)
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint>"),
      s"expected 2-column ReadSchema in:\n$plan")
  }

  test("q09 fact⋈dim join broadcasts the dim side (E1, at-scale branch)") {
    // the r14 one-task floor fusion fires at sf0.001; pin the AT-SCALE plan
    val plan = atScale { planOf(Catalog.queries("q09_join_agg")(spark, sf0001)) }
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join in:\n$plan")
  }

  test("q09 one-task floor fusion: tiny inputs plan with ZERO exchanges (r14)") {
    val plan = planOf(Catalog.queries("q09_join_agg")(spark, sf0001))
    assert(plan.contains("ShuffledHashJoin"), s"expected fused hash join in:\n$plan")
    assert(!plan.contains("Exchange"),
      s"one-task fusion must plan no exchange at all:\n$plan")
  }

  test("one-task fusion also gates on parquet ROW count, not only compressed " +
    "bytes (r16: events-sf1 compressed under the byte cap)") {
    // bytes under the cap with rows over it is NOT small
    val tier = ScalePolicy.OneTask
    assert(!tier.admits(bytes = 1, rows = tier.maxRows + 1))
    assert(tier.admits(bytes = 1, rows = tier.maxRows))
    // the decision reads the summed footer rows of the gated tables
    val rows = Seq("orders", "customer").map(Tables.rowCount(spark, sf0001, _)).sum
    val (_, decisions) = ScalePolicy.recorded(
      Catalog.queries("q09_join_agg")(spark, sf0001))
    assert(decisions.exists(d => d.tier == tier.name &&
      d.input == "orders+customer" && d.statistics.contains(s" rows=$rows ")),
      s"q09's one-task decision must carry rows=$rows: $decisions")
    // the at-scale branch brings the exchanges back
    val plan = atScale { planOf(Catalog.queries("q09_join_agg")(spark, sf0001)) }
    assert(plan.contains("Exchange"),
      s"the at-scale branch must disable the one-task fusion:\n$plan")
    // and the footer statistic itself is exact
    assert(Tables.rowCount(spark, sf0001, "events") ==
      Tables.events(spark, sf0001).count())
  }

  test("spark.graft.scale accepts only auto and large; anything else fails " +
    "the first decision") {
    spark.conf.set(ScalePolicy.Conf, "off")
    try {
      val e = intercept[IllegalArgumentException](
        Catalog.queries("q09_join_agg")(spark, sf0001))
      assert(e.getMessage.contains("spark.graft.scale=off"), e.getMessage)
    } finally spark.conf.unset(ScalePolicy.Conf)
  }

  /** The kernel-tier decisions catalog query `name` records as it is built,
    * and whether it hash-spreads its kernel input across defaultParallelism.
    * A checkpoint hides the spread exchange from the query's own plan: a
    * Dataset checkpoint (x66, x91, x102) plans it in its own execution, and
    * x20's partitioned checkpoint is read as the spread's n partitions. */
  def kernelRun(name: String): (Seq[ScalePolicy.Decision], Boolean, String) = {
    val sc = spark.sparkContext
    val n = sc.defaultParallelism
    val hashSpread = s"hashpartitioning\\(doc_id#\\d+L?, $n\\), REPARTITION_BY_NUM".r
    val checkpointed = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          checkpointed.add(x.physicalPlanDescription)
        case _ =>
      }
    }
    org.apache.spark.sql.GraftSqlBridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      val (df, ds) = ScalePolicy.recorded(Catalog.queries(name)(spark, sf0001))
      org.apache.spark.sql.GraftSqlBridge.drainListenerBus(sc)
      val plan = df.queryExecution.executedPlan
      val spreads = (plan.toString +: checkpointed.toArray(Array.empty[String]).toSeq)
        .exists(hashSpread.findFirstIn(_).isDefined) ||
        new AdaptiveSparkPlanHelper {}
          .collect(plan) { case r: org.apache.spark.sql.execution.RDDScanExec => r.rdd }
          .exists(_.getNumPartitions == n)
      (ds.filter(_.tier == ScalePolicy.KernelSpread.name), spreads, plan.toString)
    } finally sc.removeSparkListener(listener)
  }

  test("kernel-spread gate also triggers on doc COUNT, not only compressed " +
    "bytes (r16: the same compression-fragility class as the one-task cap)") {
    // bytes under the cap with rows over it is NOT small
    val tier = ScalePolicy.KernelSpread
    assert(!tier.admits(bytes = 1, rows = tier.maxRows + 1))
    assert(tier.admits(bytes = 1, rows = tier.maxRows))
    // the decision reads the corpus' footer doc count
    val docs = Tables.rowCount(spark, sf0001, "documents")
    val (_, decisions) = ScalePolicy.recorded(
      Catalog.queries("x47_boilerplate_ngrams")(spark, sf0001))
    assert(decisions.exists(d => d.tier == tier.name &&
      d.statistics.contains(s" rows=$docs ")),
      s"x47's kernel-spread decision must carry rows=$docs: $decisions")
    val plan = atScale {
      planOf(Catalog.queries("x47_boilerplate_ngrams")(spark, sf0001)) }
    assert(plan.contains("Exchange hashpartitioning(doc_id"),
      s"the at-scale branch must force the kernel spread:\n$plan")
    // default at sf0.001: fused, zero exchanges
    val fused = planOf(Catalog.queries("x47_boilerplate_ngrams")(spark, sf0001))
    assert(!fused.contains("Exchange"),
      s"x47 under the spread gate must plan zero exchanges:\n$fused")
  }

  test("kernel tier: every kernelSpread caller decides once on what it spreads") {
    val docs = Tables.rowCount(spark, sf0001, "documents")
    val text = "documents(doc_id,text)"
    val withSource = "documents(doc_id,source,text)"
    val callers = Seq("q13_top_tokens", "x20_dedup_ngram", "x47_boilerplate_ngrams",
      "x65_bpe_pairs", "x66_decontamination", "x85_passage_dedup", "x89_winnowing",
      "x90_bm25", "x91_pmi_collocations", "x95_hybrid_search").map(_ -> text) ++
      Seq("x97_source_overlap", "x101_topk_exemplars").map(_ -> withSource)
    for ((name, input) <- callers) {
      val (kernel, spreads, plan) = kernelRun(name)
      assert(kernel.map(d => (d.input, d.branch)) == Seq(input -> ScalePolicy.Small) &&
        kernel.head.statistics.contains(s" rows=$docs "), s"$name: $kernel")
      assert(!spreads, s"$name spreads under the kernel tier:\n$plan")
    }
    // x102 asks the kernel tier only on its at-scale branch
    assert(kernelRun("x102_bloom_decontamination")._1.isEmpty)
    atScale {
      for ((name, input) <- callers :+ ("x102_bloom_decontamination" -> text)) {
        val (kernel, spreads, plan) = kernelRun(name)
        assert(kernel.map(d => (d.input, d.branch)) == Seq(input -> ScalePolicy.AtScale),
          s"$name: $kernel")
        assert(spreads, s"$name must spread its kernel input:\n$plan")
      }
    }
  }

  test("onePartition answers an adaptive input from its plan, with no job") {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val spread = spark.range(1000).toDF().repartition(4, col("id"))
    org.apache.spark.sql.GraftSqlBridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      val (one, ds) = ScalePolicy.recorded(ScalePolicy.onePartition("probe", spread))
      org.apache.spark.sql.GraftSqlBridge.drainListenerBus(sc)
      assert(!one && ds.map(d => (d.statistics, d.branch)) ==
        Seq("partitions=4 cap=1" -> ScalePolicy.AtScale), ds)
      assert(jobs.get == 0, "onePartition ran a job on an adaptive input")
    } finally sc.removeSparkListener(listener)
    val (single, ds) = ScalePolicy.recorded(
      ScalePolicy.onePartition("probe", spread.coalesce(1)))
    assert(single && ds.map(_.branch) == Seq(ScalePolicy.Small), ds)
  }

  test("r15 fused branches (x49/x84/x102): zero exchanges under the cap; " +
    "the at-scale shapes keep their exchanges/checkpoint") {
    // fused branch (default at sf0.001)
    for (name <- Seq("x49_curation", "x84_mixture_sample",
        "x102_bloom_decontamination", "x22_sim_lsh")) {
      val plan = planOf(Catalog.queries(name)(spark, sf0001))
      assert(!plan.contains("Exchange"),
        s"$name under the one-task cap must plan zero exchanges:\n$plan")
    }
    // x84 fused: the window-layered rates replace the checkpoint + joins
    val x84Fused = planOf(Catalog.queries("x84_mixture_sample")(spark, sf0001))
    assert(!x84Fused.contains("Join"),
      s"x84's fused branch must be join-free (window-layered rates):\n$x84Fused")
    assert(x84Fused.contains("Window"),
      s"x84's fused branch lost its rate windows:\n$x84Fused")
    // at-scale branch: the distributed shapes
    atScale {
      val x49 = planOf(Catalog.queries("x49_curation")(spark, sf0001))
      assert(x49.contains("Exchange"),
        s"x49's at-scale branch must keep its aggregate exchanges:\n$x49")
      val x84 = planOf(Catalog.queries("x84_mixture_sample")(spark, sf0001))
      assert(x84.contains("ExistingRDD"),
        s"x84's at-scale branch must keep the kernel-once checkpoint:\n$x84")
      val x102 = planOf(
        Catalog.queries("x102_bloom_decontamination")(spark, sf0001))
      assert(x102.contains("Exchange"),
        s"x102's at-scale branch must keep its shingle exchanges:\n$x102")
      // the corpus spread runs inside the packed checkpoint
      assert(x102.contains("ExistingRDD"),
        s"x102's at-scale branch must read its kernel-once checkpoint:\n$x102")
    }
  }

  test("q05 distinct-count aggregates partially before the shuffle (C13)") {
    val plan = planOf(Catalog.queries("q05_daily_distinct")(spark, sf0001))
    assert(plan.contains("HashAggregate"))
    assert(plan.contains("partial_count"), s"expected partial aggregation in:\n$plan")
  }

  test("q16 window ranking does not re-shuffle after the broadcast join (E3)") {
    val plan = planOf(Catalog.queries("q16_join_window")(spark, sf0001))
    assert(plan.contains("RunningWindowFunction") || plan.contains("Window"),
      s"expected window exec in:\n$plan")
  }

  test("x18 minhash plan carries NO broadcast hint and no pair-level distinct (scale posture)") {
    // round 1 FORCED a broadcast of the full-corpus signature table twice
    // (driver OOM at scale) and ended with a distinct over all verified
    // pairs; the rewrite carries signatures through the band join and emits
    // each pair once. At sf0.001 the optimizer may still pick a size-based
    // broadcast (correct — it won't at scale), so the guard is on the HINT,
    // which would force one at any size.
    // r17: the result DataFrame's plan starts at the eager group-pair
    // checkpoint, so pin the PIPELINE's plan via the pre-checkpoint builder
    // (the piece the checkpoint materializes every run)
    val pipeline = graft.operators.Dedup.minhashGroupPairs(
      graft.sources.Tables.documents(spark, sf0001), 0.9)
    val plogical = pipeline.queryExecution.optimizedPlan.toString
    assert(!plogical.toLowerCase.contains("broadcast"),
      s"forced broadcast crept back into x18's pipeline:\n$plogical")
    assert(!plogical.contains("Deduplicate"),
      s"pair-level distinct crept back into x18's pipeline:\n$plogical")
    val df = Catalog.queries("x18_dedup_minhash")(spark, sf0001)
    val logical = df.queryExecution.optimizedPlan.toString
    assert(!logical.toLowerCase.contains("broadcast"),
      s"forced broadcast crept back into x18:\n$logical")
    // no Aggregate over the verified pair stream (the union branches are a
    // group-explode and the band join; dedup is by first-matching-band)
    assert(!logical.contains("Deduplicate"),
      s"pair-level distinct crept back into x18:\n$logical")
  }

  test("x22 ANN broadcasts ONLY the bounded probe side (at-scale branch)") {
    // r15: the one-task fusion fires at sf0.001; pin the AT-SCALE broadcast
    // shape (the fused branch is pinned separately)
    val plan = atScale { planOf(Catalog.queries("x22_sim_lsh")(spark, sf0001)) }
    assert(plan.contains("BroadcastHashJoin"),
      s"expected broadcast of the probe side in:\n$plan")
    // the candidate corpus must NOT be broadcast: the only broadcast exchange
    // feeds from the filtered (vec_id < maxQueryId) probe subtree
    val broadcasts = "BroadcastExchange".r.findAllIn(plan).length
    assert(broadcasts == 1, s"expected exactly one broadcast exchange in:\n$plan")
  }

  test("bucketed tables join with NO shuffle exchange (co-located fact⋈fact)") {
    val orders = s"graft_bkt_orders_${math.abs(sf0001.hashCode)}"
    val cust = s"graft_bkt_cust_${math.abs(sf0001.hashCode)}"
    Tables.writeBucketed(Tables.orders(spark, sf0001), orders, "o_custkey", 8)
    Tables.writeBucketed(Tables.customer(spark, sf0001), cust, "c_custkey", 8)
    // forbid broadcast so the join must rely on the bucketing for distribution
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table(orders).join(spark.table(cust),
        col("o_custkey") === col("c_custkey"))
      val plan = planOf(j)
      assert(plan.contains("SortMergeJoin"), s"expected SMJ in:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join should not shuffle:\n$plan")
      assert(plan.contains("SelectedBucketsCount") || plan.contains("Bucketed: true"),
        s"expected bucketed scans in:\n$plan")
      // and it computes the same answer as the plain join
      val plain = Tables.orders(spark, sf0001).join(
        Tables.customer(spark, sf0001), col("o_custkey") === col("c_custkey"))
      assert(j.count() == plain.count())
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql(s"DROP TABLE $orders")
      spark.sql(s"DROP TABLE $cust")
    }
  }

  test("x20 ngram verification runs on packed sets, candidates from prefix join") {
    val plan = planOf(Catalog.queries("x20_dedup_ngram")(spark, sf0001))
    assert(plan.contains("graft_sorted_intersect_count"),
      s"expected packed-set merge verification in:\n$plan")
    // the one-pass shingle kernel does not appear in the query plan because
    // packed is materialized: the kernel runs ONCE, in the first consuming
    // job, instead of once per consumer (five scans in the round-3 plan),
    // and every consumer reads the RDD scan
    assert(plan.contains("ExistingRDD"),
      s"expected the checkpointed packed-set scan in:\n$plan")
    assert(!plan.contains("graft_shingle_set"),
      s"the shingle kernel must run once in the checkpoint, not inline:\n$plan")
    // the round-3 fusion: prefix selection is per-row compute off the
    // broadcast df map — a df join + per-doc ranking window must NOT be in
    // the plan (that is the over-cap fallback's shape, not the default's)
    assert(plan.contains("graft_shingle_prefix"),
      s"expected the broadcast-df prefix expression in:\n$plan")
    assert(!plan.contains("Window"),
      s"x20's default path must not rank prefixes with a window:\n$plan")
  }

  test("x20 corpus pass (dedupDocs) hash-spreads above the kernel-spread " +
    "gate and keeps the raw scan below it (r17)") {
    // at-scale branch: x20's kernelSpread of documents(doc_id, text) must
    // hash-spread across defaultParallelism so the ShingleSet kernel and
    // every checkpoint consumer parallelize (the one-row-group corpus
    // otherwise serializes them; JobProfile sf1: 3.32 -> 1.48 s)
    val (above, spread, plan) = atScale { kernelRun("x20_dedup_ngram") }
    assert(above.map(_.branch) == Seq(ScalePolicy.AtScale) && spread,
      s"the at-scale branch must force the x20 corpus spread: $above\n$plan")
    // bench-SF branch: no spread — the r16 sf0.1 adjudication (exchange +
    // 32-task scheduling costs more than the one-task kernel saves) stands
    val (under, spreadUnder, raw) = kernelRun("x20_dedup_ngram")
    assert(under.map(_.branch) == Seq(ScalePolicy.Small) && !spreadUnder,
      s"x20's corpus pass under the spread gate must not spread: $under\n$raw")
  }

  test("x34 sort tail: one-task merge below the pair-sort gate, " +
    "checkpoint + parallel range sort above it (r17)") {
    // bench-SF branch (default): the report-sized pair set merges on one
    // task — a SinglePartition repartition, no range exchange
    val merge = planOf(Catalog.queries("x34_dedup_embedding_lsh")(spark, sf0001))
    assert(merge.contains("Exchange SinglePartition") ||
      merge.contains("SinglePartition"),
      s"x34 below the gate must keep the one-task merge:\n$merge")
    assert(!merge.contains("ExistingRDD"),
      s"x34 below the gate must not checkpoint the pair set:\n$merge")
    // at-scale branch: the eagerly checkpointed pair set feeds a PARALLEL
    // range sort — the sampler reads memory, never re-runs the banded join
    val par = atScale {
      planOf(Catalog.queries("x34_dedup_embedding_lsh")(spark, sf0001)) }
    assert(par.contains("ExistingRDD"),
      s"x34's at-scale branch must read the checkpointed pair set:\n$par")
    assert(par.contains("Exchange rangepartitioning"),
      s"x34's at-scale branch must range-sort in parallel:\n$par")
  }

  test("one-exchange window fusion: window + output order share a single " +
    "range exchange (q11/x36/x45/x46/x58/x73) at scale; ZERO exchanges " +
    "under the one-task cap") {
    val names = Seq("q11_latest_per_user", "x36_window_lag",
      "x45_window_frame", "x46_sessionize", "x58_window_range_frame",
      "x73_forward_fill")
    // at-scale branch: the one-exchange design
    atScale {
      for (name <- names) {
        val plan = planOf(Catalog.queries(name)(spark, sf0001))
        val dataExchanges = "Exchange (range|hash)partitioning".r
          .findAllIn(plan).length
        assert(dataExchanges == 1,
          s"$name must shuffle its rows exactly once (found $dataExchanges):\n$plan")
        assert(plan.contains("Window"), s"$name lost its window:\n$plan")
      }
    }
    // fused branch (default at sf0.001): the whole query plans NO exchange
    for (name <- names) {
      val plan = planOf(Catalog.queries(name)(spark, sf0001))
      assert(!plan.contains("Exchange"),
        s"$name under the one-task cap must plan zero exchanges:\n$plan")
      assert(plan.contains("Window"), s"$name lost its window:\n$plan")
    }
  }

  test("x101 bounded top-k: heap aggregate, no window, no sort over data") {
    // the whole point of the largestK tier: per-group k-selection WITHOUT
    // ranking machinery — the plan must carry the object-hash aggregate
    // (CollectTopK is a TypedImperativeAggregate) in partial+final form
    // and NO Window or per-group sort anywhere
    // at-scale branch: kernel spread exchange + the partial-heap exchange,
    // and still no ranking machinery anywhere
    atScale {
      val plan = planOf(Catalog.queries("x101_topk_exemplars")(spark, sf0001))
      assert(plan.contains("ObjectHashAggregate"),
        s"x101 lost the heap aggregate:\n$plan")
      assert(plan.contains("collect_top_k") || plan.contains("CollectTopK"),
        s"x101 lost collect_top_k:\n$plan")
      assert(!plan.contains("Window"), s"x101 must not plan a window:\n$plan")
      val dataExchanges = "Exchange (range|hash)partitioning".r
        .findAllIn(plan).length
      assert(dataExchanges == 2,
        s"x101 at scale must shuffle exactly twice — the kernel spread and " +
          s"the partial-heap exchange (found $dataExchanges):\n$plan")
    }
    // fused branch (default at sf0.001, the r16 inline spread gate): the
    // single-partition input satisfies the heap agg's distribution, so the
    // whole query plans ZERO exchanges — and keeps the heap, not a window
    val plan = planOf(Catalog.queries("x101_topk_exemplars")(spark, sf0001))
    assert(plan.contains("ObjectHashAggregate"),
      s"x101 lost the heap aggregate:\n$plan")
    assert(plan.contains("collect_top_k") || plan.contains("CollectTopK"),
      s"x101 fused branch lost collect_top_k:\n$plan")
    assert(!plan.contains("Window"), s"x101 must not plan a window:\n$plan")
    assert(!plan.contains("Exchange"),
      s"x101 under the spread gate must plan zero exchanges:\n$plan")
  }

  test("x72/x98 segment-explode shape: ONE data exchange, ONE window over " +
    "observed days, no join, and a PARALLEL table-shaped tail") {
    // round 6 replaced the spine ⋈ daily (+ x98's four dense-day windows)
    // with a lead window over the daily aggregate + per-segment sequence
    // explode: the up-front repartitionByRange(user_id) is the only data
    // exchange (aggregate and window both reuse it), and the table-shaped
    // output (grows with the data) sorts WITHIN user_id-ranged partitions —
    // never a single-task report merge (the x74 sf1 lesson)
    val names = Seq("x72_gapfill", "x98_interpolate")
    atScale {
      for (name <- names) {
        val plan = planOf(Catalog.queries(name)(spark, sf0001))
        assert("Exchange (range|hash)partitioning".r.findAllIn(plan).length == 1,
          s"$name must keep exactly the one user_id exchange:\n$plan")
        assert(!plan.contains("Join"), s"$name's spine join should be gone:\n$plan")
        assert("Window".r.findAllIn(plan).length == 1,
          s"$name should run exactly one Window (lead over observations):\n$plan")
        assert(!plan.contains("Exchange SinglePartition"),
          s"$name's table-shaped output must not merge to one task:\n$plan")
      }
    }
    // fused branch (default at sf0.001): zero exchanges, same operator set
    for (name <- names) {
      val plan = planOf(Catalog.queries(name)(spark, sf0001))
      assert(!plan.contains("Exchange"),
        s"$name under the one-task cap must plan zero exchanges:\n$plan")
      assert(!plan.contains("Join"), s"$name's spine join should be gone:\n$plan")
      assert("Window".r.findAllIn(plan).length == 1,
        s"$name should run exactly one Window (lead over observations):\n$plan")
    }
  }

  test("co-partitioned pipelines: the one data exchange lives in the " +
    "checkpoint job; the query plan itself is exchange-free (x62)") {
    for (name <- Seq("x62_funnel")) {
      // at-scale branch
      val plan = atScale { planOf(Catalog.queries(name)(spark, sf0001)) }
      // the repartition(user_id) runs once, inside the materialization;
      // every consumer reads the partitioning-preserving
      // RDD scan, so aggregates and user_id joins need NO further shuffle
      val dataExchanges = "Exchange (range|hash)partitioning".r
        .findAllIn(plan).length
      assert(dataExchanges == 0,
        s"$name's consumers must reuse the checkpoint partitioning " +
          s"(found $dataExchanges exchanges):\n$plan")
      assert(plan.contains("ExistingRDD"),
        s"$name lost its checkpointed shared input:\n$plan")
      assert("Exchange SinglePartition".r.findAllIn(plan).length == 1,
        s"$name's bounded report tail must be the single-partition sort:\n$plan")
      // fused branch (default at sf0.001): the join-free array-funnel plan
      // — one agg over one partition, no exchange, no join at all
      val fplan = planOf(Catalog.queries(name)(spark, sf0001))
      assert(!fplan.contains("Exchange"),
        s"$name under the one-task cap must plan zero exchanges:\n$fplan")
      assert(!fplan.contains("Join"),
        s"$name's one-task branch must be join-free (array funnel):\n$fplan")
    }
  }

  test("one-task rewrite: every query built through it plans no exchange " +
    "under auto but the listed layouts, and under large its plan is its " +
    "at-scale body's") {
    val stages = new AdaptiveSparkPlanHelper {}
    def exchanges(df: org.apache.spark.sql.DataFrame): Int =
      stages.collectWithSubqueries(df.queryExecution.executedPlan) {
        case e: org.apache.spark.sql.execution.exchange.Exchange => e
      }.size
    def formatted(df: org.apache.spark.sql.DataFrame): String =
      graft.tools.JobProfile.normalise(df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
    // layouts the rewrite keeps: a semi or anti join the planner broadcasts
    // by size (the optimizer makes it from a set operation or subquery
    // after the rewrite, or pushes it below its stream side's coalesce), a
    // cross join's broadcast, and operators whose output reports no
    // partitioning (Expand, a full outer join), so the aggregate or sort
    // above them exchanges
    val kept = Map(
      "q10_anti_join" -> "anti join pushed below its stream side's coalesce",
      "q15_set_except" -> "EXCEPT becomes an anti join after the rewrite",
      "x30_set_ops" -> "INTERSECT and EXCEPT become semi and anti joins after the rewrite",
      "x44_exists_subquery" -> "EXISTS becomes a semi join after the rewrite",
      "x71_knn_label" -> "cross join keeps its broadcast",
      "x35_full_outer" -> "full outer join output sorts through a range exchange",
      "x37_cube_agg" -> "cube's Expand aggregates through an exchange",
      "x70_source_report" -> "distinct aggregates' Expand aggregate through exchanges")
    val wrapped = Catalog.all.collect {
      case Catalog.Q(name, b: Catalog.OneTaskBuild, _, _) => name -> b.body
    }
    assert(wrapped.size == 48, wrapped.map(_._1))
    assert(kept.keySet.subsetOf(wrapped.map(_._1).toSet))
    for ((name, body) <- wrapped) {
      val (df, decisions) = ScalePolicy.recorded(Catalog.queries(name)(spark, sf0001))
      assert(decisions.exists(d => d.tier == ScalePolicy.OneTask.name &&
        d.branch == ScalePolicy.Small), s"$name: $decisions")
      val n = exchanges(df)
      assert((n == 0) != kept.contains(name),
        s"$name plans $n exchanges under auto:\n${planOf(df)}")
      atScale {
        assert(formatted(Catalog.queries(name)(spark, sf0001)) ==
          formatted(body(spark, sf0001)), s"$name: the at-scale plan moved")
      }
    }
    // queries that wrap one operator's input: keyedRowNumbers sees one
    // partition and takes its window route
    for (name <- Seq("x51_rank_distribution", "x87_shuffle_shards", "x92_domain_caps")) {
      val (df, decisions) = ScalePolicy.recorded(Catalog.queries(name)(spark, sf0001))
      assert(exchanges(df) == 0, s"$name under auto:\n${planOf(df)}")
      assert(decisions.map(d => (d.tier, d.branch)) == Seq(
        ScalePolicy.OneTask.name -> ScalePolicy.Small, "one-partition" -> ScalePolicy.Small),
        s"$name: $decisions")
    }
  }

  test("x44's one-task rewrite reaches its views and EXISTS subquery") {
    val df = Catalog.queries("x44_exists_subquery")(spark, sf0001)
    val plan = planOf(df)
    val stages = new AdaptiveSparkPlanHelper {}
    assert(stages.collectWithSubqueries(df.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec => e }.isEmpty, s"x44 shuffles under auto:\n$plan")
    // both scans, the outer customer and the subquery's orders, coalesced
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    for (table <- Seq("customer", "orders"))
      assert(s"(?s)\\(\\d+\\) Coalesce\\s*\\nInput \\[\\d+\\]: \\[${table.head}_".r
        .findFirstIn(formatted).nonEmpty, s"x44's $table scan is not one task:\n$formatted")
    // the rewrite leaves the session's views as registered, also after
    // x53, which reads the same 'customer' view
    Catalog.queries("x53_scalar_subquery")(spark, sf0001)
    assert(!planOf(spark.table("customer")).contains("Coalesce"))
  }

  test("report queries sort on one partition, no range-sampling exchange; " +
    "table-shaped queries keep the parallel range sort") {
    // bounded report: single-partition sort — no rangepartitioning anywhere
    for (name <- Seq("q07_group_count", "x33_percentiles", "x42_pivot")) {
      val plan = planOf(Catalog.queries(name)(spark, sf0001))
      assert(!plan.contains("rangepartitioning"),
        s"$name should not range-sort its bounded report:\n$plan")
      assert(plan.contains("Sort"), s"$name lost its total sort:\n$plan")
    }
    // table-shaped output: the parallel range sort is the correct plan
    val q01 = planOf(Catalog.queries("q01_project_rename")(spark, sf0001))
    assert(q01.contains("rangepartitioning"),
      s"q01's table-sized output must keep the parallel range sort:\n$q01")
  }

  test("launch serving recomputes a one-task changed day with no exchange " +
    "and returns a local relation; at scale the scan hashes on (net, id), " +
    "and an exchange on net alone moves only partial counts; publish runs no query and no job " +
    "and leaves every other partition byte-identical") {
    import graft.pipeline.{LaunchPipeline => LP}
    val day = java.time.LocalDate.parse("2024-12-01")
    val z = LP.Zones(Files.createTempDirectory("graft_lp_plan").toString)
    val table = s"launch_events_plan_${math.abs(z.base.hashCode)}"
    val days = Seq(day, day.plusDays(1), day.plusDays(2))
    for (d <- days) {
      LP.putRaw(z, d, s"""{"count": 1, "next": null, "results": [{"id": "a",
        | "url": "u", "name": "n", "status": {"name": "s"}, "image": null,
        | "net": "${d}T01:00:00Z"}]}""".stripMargin.replaceAll("\n", " "))
      LP.transform(spark, z, d)
    }
    days.tail.foreach(LP.publish(spark, z, _))
    /** Every file under a zone's partition directory (checksums included)
      * by name, with its bytes. */
    def files(zone: String, d: java.time.LocalDate): Map[String, Seq[Byte]] =
      new java.io.File(s"$zone/net=$d").listFiles()
        .map(f => f.getName -> Files.readAllBytes(f.toPath).toSeq).toMap
    val others = days.tail.map(d => d -> files(z.reports, d)).toMap

    val sqlRuns = new java.util.concurrent.atomic.AtomicInteger()
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val queries = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    ns: Long): Unit = sqlRuns.incrementAndGet()
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    e: Exception): Unit = sqlRuns.incrementAndGet()
    }
    val jobListener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    spark.listenerManager.register(queries)
    sc.addSparkListener(jobListener)
    try LP.publish(spark, z, day)
    finally {
      org.apache.spark.GraftListenerBus.drain(sc)
      sc.removeSparkListener(jobListener)
      spark.listenerManager.unregister(queries)
    }
    assert(sqlRuns.get == 0 && jobs.get == 0,
      s"publish should run no query and no job: ${sqlRuns.get} queries, ${jobs.get} jobs")
    for (d <- days.tail)
      assert(files(z.reports, d) == others(d), s"publish of $day changed net=$d")
    val parquet = (m: Map[String, Seq[Byte]]) => m.filter(_._1.endsWith(".parquet"))
    assert(parquet(files(z.reports, day)) == parquet(files(z.processed, day)),
      s"publish should promote net=$day's files unchanged")

    LP.registerTable(spark, z, table)
    // the recompute query: the aggregate over the days whose files changed
    val recomputed = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val stages = new AdaptiveSparkPlanHelper {}
    val capture = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    ns: Long): Unit = recomputed.add(qe.executedPlan)
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    e: Exception): Unit = ()
    }
    /** Re-publishes the day and serves it: the recompute's plan, its
      * exchanges' partitionings and the call's decisions on the table. */
    def recompute(): (SparkPlan, Seq[ShuffleExchangeExec], Seq[String]) = {
      LP.publish(spark, z, day) // the day's files change
      LP.registerTable(spark, z, table)
      spark.listenerManager.register(capture)
      recomputed.clear()
      val (served, decisions) = try ScalePolicy.recorded(LP.dailyCounts(spark, table))
        finally {
          org.apache.spark.GraftListenerBus.drain(sc)
          spark.listenerManager.unregister(capture)
        }
      assert(served.queryExecution.optimizedPlan
          .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
        s"dailyCounts should return a local relation:\n" +
          served.queryExecution.optimizedPlan)
      assert(recomputed.size == 1, s"dailyCounts ran ${recomputed.size} queries")
      val plan = recomputed.peek()
      val exchanges = stages.collect(plan) { case e: ShuffleExchangeExec => e }
      assert(!exchanges.exists(_.outputPartitioning.toString.startsWith("rangepartitioning")),
        s"dailyCounts should not range-sort its per-day rows:\n$plan")
      (plan, exchanges, decisions.filter(_.input.startsWith(s"$table/")).map(_.toString))
    }
    def hashesOn(e: ShuffleExchangeExec, keys: String*): Boolean =
      e.outputPartitioning.toString.matches(
        keys.map(k => s"$k#\\d+, ").mkString("hashpartitioning\\(", "", "\\d+\\)"))
    try {
      LP.dailyCounts(spark, table) // cold: the whole table
      val (plan, exchanges, decisions) = recompute()
      assert(exchanges.isEmpty,
        s"a one-task recompute should plan no exchange:\n$plan")
      assert(decisions.size == 1 && decisions.head.contains("scan-tasks=1 cap=1 branch=small"),
        decisions)
      // at scale the scan's rows never funnel through a reducer per day: an
      // exchange on net alone only moves the partial counts of a dedup that
      // an exchange below it already spread
      val (scaled, large, _) = atScale(recompute())
      val onNet = large.filter(hashesOn(_, "net"))
      assert(onNet.forall(e => stages.collect(e.child) { case x: ShuffleExchangeExec => x }.nonEmpty),
        s"an exchange on net alone moves the scan's rows:\n$scaled")
      assert(large.exists(hashesOn(_, "net", "id")),
        s"the aggregate should hash the scan on (net, id):\n$scaled")
    } finally spark.sql(s"DROP TABLE $table")
  }
}
