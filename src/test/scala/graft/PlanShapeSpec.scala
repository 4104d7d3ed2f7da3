package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Catalog
import graft.sources.Tables

/** Plan-shape guards for the §4 optimizer claims: partition pruning,
  * parquet filter pushdown, column pruning, and broadcast joins must
  * actually appear in the physical plan — at 100 TB these are the
  * difference between reading one partition and reading the lake. */
class PlanShapeSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sf0001}

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
    // by disabling the gate for this build
    spark.conf.set("spark.graft.oneTaskFloorBytes", "0")
    try {
      val plan = planOf(Catalog.queries("q09_join_agg")(spark, sf0001))
      assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join in:\n$plan")
    } finally spark.conf.unset("spark.graft.oneTaskFloorBytes")
  }

  test("q09 one-task floor fusion: tiny inputs plan with ZERO exchanges (r14)") {
    val plan = planOf(Catalog.queries("q09_join_agg")(spark, sf0001))
    assert(plan.contains("ShuffledHashJoin"), s"expected fused hash join in:\n$plan")
    assert(!plan.contains("Exchange"),
      s"one-task fusion must plan no exchange at all:\n$plan")
  }

  test("one-task fusion also gates on parquet ROW count, not only compressed " +
    "bytes (r16: events-sf1 compressed under the byte cap)") {
    // with the row cap forced below the table sizes, the same tiny inputs
    // must take the at-scale branch — exchanges come back
    spark.conf.set("spark.graft.oneTaskFloorRows", "1")
    try {
      val plan = planOf(Catalog.queries("q09_join_agg")(spark, sf0001))
      assert(plan.contains("Exchange"),
        s"row cap 1 must disable the one-task fusion:\n$plan")
    } finally spark.conf.unset("spark.graft.oneTaskFloorRows")
    // and the footer statistic itself is exact
    assert(graft.sources.Tables.rowCount(spark, sf0001, "events") ==
      Tables.events(spark, sf0001).count())
  }

  test("kernel-spread gate also triggers on doc COUNT, not only compressed " +
    "bytes (r16: the same compression-fragility class as the one-task cap)") {
    spark.conf.set("spark.graft.kernelSpreadRows", "1")
    try {
      val plan = planOf(Catalog.queries("x47_boilerplate_ngrams")(spark, sf0001))
      assert(plan.contains("Exchange hashpartitioning(doc_id"),
        s"row floor 1 must force the kernel spread:\n$plan")
    } finally spark.conf.unset("spark.graft.kernelSpreadRows")
    // default at sf0.001: fused, zero exchanges
    val fused = planOf(Catalog.queries("x47_boilerplate_ngrams")(spark, sf0001))
    assert(!fused.contains("Exchange"),
      s"x47 under the spread gate must plan zero exchanges:\n$fused")
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
    // at-scale branch: gate off restores the distributed shapes
    spark.conf.set("spark.graft.oneTaskFloorBytes", "0")
    try {
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
    } finally spark.conf.unset("spark.graft.oneTaskFloorBytes")
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
    // shape with the gate off (the fused branch is pinned separately)
    spark.conf.set("spark.graft.oneTaskFloorBytes", "0")
    val plan = try planOf(Catalog.queries("x22_sim_lsh")(spark, sf0001))
      finally spark.conf.unset("spark.graft.oneTaskFloorBytes")
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
    // round-4: the one-pass shingle kernel no longer appears in the query
    // plan because packed is localCheckpoint-ed at build time — the kernel
    // runs ONCE in the checkpoint job instead of once per consumer (five
    // scans in the round-3 plan), and every consumer reads the RDD scan
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
    // at-scale branch: force the gate off — the checkpoint input must be
    // hash-spread across defaultParallelism so the ShingleSet kernel and
    // every checkpoint consumer parallelize (the one-row-group corpus
    // otherwise serializes them; JobProfile sf1: 3.32 -> 1.48 s)
    spark.conf.set("spark.graft.kernelSpreadRows", "1")
    try {
      val plan = planOf(Catalog.dedupDocs(spark, sf0001))
      assert(plan.contains("Exchange hashpartitioning(doc_id"),
        s"row floor 1 must force the x20 corpus spread:\n$plan")
    } finally spark.conf.unset("spark.graft.kernelSpreadRows")
    // bench-SF branch: no exchange — the r16 sf0.1 adjudication (exchange +
    // 32-task scheduling costs more than the one-task kernel saves) stands
    val under = planOf(Catalog.dedupDocs(spark, sf0001))
    assert(!under.contains("Exchange"),
      s"x20's corpus pass under the spread gate must not exchange:\n$under")
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
    spark.conf.set("spark.graft.pairSortBytes", "1")
    try {
      val par = planOf(Catalog.queries("x34_dedup_embedding_lsh")(spark, sf0001))
      assert(par.contains("ExistingRDD"),
        s"x34's at-scale branch must read the checkpointed pair set:\n$par")
      assert(par.contains("Exchange rangepartitioning"),
        s"x34's at-scale branch must range-sort in parallel:\n$par")
    } finally spark.conf.unset("spark.graft.pairSortBytes")
  }

  test("one-exchange window fusion: window + output order share a single " +
    "range exchange (q11/x36/x45/x46/x58/x73) at scale; ZERO exchanges " +
    "under the one-task cap") {
    val names = Seq("q11_latest_per_user", "x36_window_lag",
      "x45_window_frame", "x46_sessionize", "x58_window_range_frame",
      "x73_forward_fill")
    // at-scale branch: the gate off pins the one-exchange design
    spark.conf.set("spark.graft.oneTaskFloorBytes", "0")
    try {
      for (name <- names) {
        val plan = planOf(Catalog.queries(name)(spark, sf0001))
        val dataExchanges = "Exchange (range|hash)partitioning".r
          .findAllIn(plan).length
        assert(dataExchanges == 1,
          s"$name must shuffle its rows exactly once (found $dataExchanges):\n$plan")
        assert(plan.contains("Window"), s"$name lost its window:\n$plan")
      }
    } finally spark.conf.unset("spark.graft.oneTaskFloorBytes")
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
    // at-scale branch (pinned via the spread knob, the oneTaskFloorBytes
    // pattern): kernel spread exchange + the partial-heap exchange, and
    // still no ranking machinery anywhere
    spark.conf.set("spark.graft.kernelSpreadBytes", "1")
    try {
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
    } finally spark.conf.unset("spark.graft.kernelSpreadBytes")
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
    spark.conf.set("spark.graft.oneTaskFloorBytes", "0")
    try {
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
    } finally spark.conf.unset("spark.graft.oneTaskFloorBytes")
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
      spark.conf.set("spark.graft.oneTaskFloorBytes", "0")
      val plan = try planOf(Catalog.queries(name)(spark, sf0001))
        finally spark.conf.unset("spark.graft.oneTaskFloorBytes")
      // the repartition(user_id) ran once inside the localCheckpoint
      // materialization; every consumer reads the partitioning-preserving
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

  test("launch serving hashes on net once and sorts its per-day result on " +
    "one task (plain and salted); publish runs no query and no job and " +
    "leaves every other partition byte-identical") {
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
    try for (salted <- Seq(false, true)) {
      val plan = planOf(LP.dailyCounts(spark, table, salted))
      assert(!plan.contains("rangepartitioning"),
        s"dailyCounts(salted=$salted) should sort its per-day rows on one task:\n$plan")
      assert(plan.contains("Sort"), s"dailyCounts(salted=$salted) lost its sort:\n$plan")
      if (!salted) {
        val exchanges = "Exchange (\\w+\\([^)]*\\))".r.findAllMatchIn(plan)
          .map(_.group(1)).toList
        assert(exchanges.size == 1 && exchanges.head.matches("hashpartitioning\\(net#\\d+, \\d+\\)"),
          s"dailyCounts should shuffle once, on net alone: $exchanges\n$plan")
      }
    } finally spark.sql(s"DROP TABLE $table")
  }
}
