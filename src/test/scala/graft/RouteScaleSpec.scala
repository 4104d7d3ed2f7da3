package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.tagobjects.Slow

import graft.engine.ScalePolicy
import graft.operators.{Dedup, Relational, Similarity}

/** Scale-route assertions at the DEFAULT caps (r8 verdict stretch 8): every
  * other route spec exercises both routes by forcing the at-scale side
  * (`SparkTestSession.atScale`), which proves route equivalence but would
  * not notice a future edit that raises or inverts a default gate —
  * silently sending 100 TB inputs down a one-task/driver path. These tests
  * generate inputs just OVER the default caps and assert
  * the operator took the scale route, without collecting the (deliberately
  * large) result — the route is decided eagerly by the probe job, so the
  * assertion costs only the probe. The third gated operator,
  * [[Relational.keyedRowNumbers]], already has its default-cap assertion:
  * TwoPassScaleSpec's 150k-distinct-keys test exceeds MaxDriverBlocks
  * and asserts "distributed" with closed-form ranks.
  *
  * Boundary pins (== cap stays on the small route) guard the other
  * direction: a future off-by-one can't quietly tax every small input with
  * the multi-job scale plan either. */
class RouteScaleSpec extends AnyFunSuite {
  import SparkTestSession.{atScale, routes, spark}

  test("a probe route takes its small side at the cap and its at-scale side " +
    "one over it; under large it runs no probe job") {
    val route = ScalePolicy.Route("test-tier", "probe", "rows", "small-side", "at-scale-side")
    val cap = 10
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.GraftListenerBus.drain(sc)
    sc.addSparkListener(listener)
    def probes() = {
      var measured = 0
      def measure(n: Long) = { measured += 1; (n, cap.toLong) }
      val (out, decisions) = ScalePolicy.recorded(Seq(
        ScalePolicy.probe(spark, route)(measure(cap)),
        ScalePolicy.probe(spark, route)(measure(cap + 1)),
        ScalePolicy.probeCount(route, spark.range(cap).toDF(), cap),
        ScalePolicy.probeCount(route, spark.range(cap + 1).toDF(), cap),
        ScalePolicy.probeRows(route, spark.range(cap).toDF(), cap).map(_.length),
        ScalePolicy.probeRows(route, spark.range(cap + 1).toDF(), cap).map(_.length)))
      org.apache.spark.GraftListenerBus.drain(sc)
      (out, decisions.map(d => s"${d.branch} ${d.statistics}"), measured, jobs.getAndSet(0))
    }
    try {
      val (auto, autoDecisions, autoMeasured, autoJobs) = probes()
      assert(auto == Seq(true, false, true, false, Some(cap), None))
      assert(autoDecisions == Seq(
        "small-side rows=10 cap=10", "at-scale-side rows=11 cap=10",
        "small-side rows=10 cap=10", "at-scale-side rows>10 cap=10",
        "small-side rows=10 cap=10", "at-scale-side rows>10 cap=10"))
      assert(autoMeasured == 2 && autoJobs == 4)
      val (large, largeDecisions, largeMeasured, largeJobs) = atScale(probes())
      assert(large == Seq(false, false, false, false, None, None))
      assert(largeDecisions == Seq.fill(6)(s"at-scale-side ${ScalePolicy.Conf}=large"))
      assert(largeMeasured == 0 && largeJobs == 0)
    } finally sc.removeSparkListener(listener)
  }

  test("orderedRunningTotal: input one row over MaxSingleWindowRows takes " +
    "the two-pass at the DEFAULT cap; exactly at cap keeps the window", Slow) {
    val cap = Relational.MaxSingleWindowRows
    val over = spark.range(cap + 1)
      .select(col("id"), lit(1L).as("v"))
    val (_, overRoute) = routes("orderedRunningTotal")(
      Relational.orderedRunningTotal(over, Seq(col("id")), "v"))
    assert(overRoute == Seq("two-pass"),
      s"${cap + 1} rows must not run through a single-partition window")
    val at = spark.range(cap).select(col("id"), lit(1L).as("v"))
    val (_, atRoute) = routes("orderedRunningTotal")(
      Relational.orderedRunningTotal(at, Seq(col("id")), "v"))
    assert(atRoute == Seq("window"),
      s"exactly $cap rows is in-contract for the one-window plan")
  }

  test("semanticDedup: a cell over MaxKernelCellRows routes to the salted " +
    "join at the DEFAULT caps (row-cap direction)", Slow) {
    import spark.implicits._
    // 2^16 + 1 4-dim vectors, all nearest centroid 0 — one over-cap cell.
    // The route probe (assignment + one stats aggregate) runs eagerly; the
    // billions-of-pairs join result is never collected.
    val emb = spark.range(Dedup.MaxKernelCellRows + 1L)
      .select(col("id").as("vec_id"),
        array(lit(1f), (col("id") % 100).cast("float") / lit(1000f),
          lit(0f), lit(0f)).as("embedding"))
    val cents = Seq((0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(-1f, 0f, 0f, 0f))).toDF("cid", "cv")
    val (_, route) = routes("semanticDedup")(
      Dedup.semanticDedup(emb, cents, 0.999999))
    assert(route == Seq("join"),
      s"${Dedup.MaxKernelCellRows + 1} rows in one cell must not buffer " +
        "in a single kernel task")
  }

  test("semanticDedup: the gate is dimension-aware at the DEFAULT bytes " +
    "budget — 1025 rows of 4096-dim exceed KernelCellBytes while sitting " +
    "far under the row cap", Slow) {
    import spark.implicits._
    val dim = 4096
    val bytesCap = Dedup.KernelCellBytes / (dim.toLong * 8L)
    assert(bytesCap == 1024L, "fixture assumes 32 MB / (4096 * 8) = 1024")
    val vec = expr(s"transform(sequence(1, $dim), i -> CAST(1.0 AS FLOAT))")
    val emb = spark.range(bytesCap + 1)
      .select(col("id").as("vec_id"), vec.as("embedding"))
    val cents = spark.range(2).select(col("id").as("cid"))
      .select(col("cid"), expr(s"transform(sequence(1, $dim), " +
        "i -> CAST(IF(cid = 0, 1.0, -1.0) AS FLOAT))").as("cv"))
    val (_, route) = routes("semanticDedup")(
      Dedup.semanticDedup(emb, cents, 0.999999))
    assert(route == Seq("join"),
      "a 4096-dim cell of 1025 rows (~33.6 MB of doubles) must not buffer " +
        "in one kernel task under the 32 MB budget")
  }

  test("embeddingNearDupLsh: a band bucket over the DEFAULT dimension-aware " +
    "byte budget routes to the join", Slow) {
    import spark.implicits._
    val dim = 4096
    val bytesCap = Dedup.KernelCellBytes / (dim.toLong * 8L)
    assert(bytesCap == 1024L)
    // identical 4096-dim vectors: every row lands in the SAME bucket of
    // every band, so one bucket holds bytesCap + 1 rows — over the budget.
    // The route is decided by the eager stats probe; the quadratic pair
    // result is never collected.
    val vec = expr(s"transform(sequence(1, $dim), i -> CAST(1.0 AS FLOAT))")
    val emb = spark.range(bytesCap + 1)
      .select(col("id").as("vec_id"), vec.as("embedding"))
    val (_, decisions) = ScalePolicy.recorded(Dedup.embeddingNearDupLsh(emb, 0.999999))
    val route = decisions.filter(_.input == "embeddingNearDupLsh")
      .map(d => s"${d.branch} ${d.statistics}")
    // identical vectors share ONE bucket per band → Bands oversized
    // buckets, all inside MaxHotBuckets → the kernel side's split sends
    // exactly those to the join and keeps the (here empty) remainder on
    // the kernel
    assert(route == Seq(s"kernel hot=${Similarity.Bands} cap=${Dedup.MaxHotBuckets}"),
      s"a 4096-dim bucket of ${bytesCap + 1} rows (~33.6 MB of doubles) " +
        "must not buffer in one kernel task")
  }

  test("contaminationCounts: one item over MaxBloomItems routes exact at " +
    "the DEFAULT cap; exactly at cap keeps the bloom prefilter") {
    // the route is decided from the caller's estimate alone (sizing is
    // correctness-neutral), so the pin needs no over-cap corpus — only
    // that the DEFAULT gate sends a saturation-regime estimate down the
    // exact path and never taxes an in-cap eval set with it
    import spark.implicits._
    val train = Seq((1L, "a b c d e")).toDF("doc_id", "text")
    val ev = Seq((2L, "a b c x y")).toDF("doc_id", "text")
    val (_, overRoute) = routes("contaminationCounts")(
      Dedup.contaminationCounts(train, ev, Dedup.MaxBloomItems + 1)
        .write.mode("overwrite").format("noop").save())
    assert(overRoute == Seq("exact"),
      s"${Dedup.MaxBloomItems + 1} expected eval shingles saturate a " +
        "conf-capped sketch — the prefilter would pass everything while " +
        "still paying its scan")
    val (_, atRoute) = routes("contaminationCounts")(
      Dedup.contaminationCounts(train, ev, Dedup.MaxBloomItems)
        .write.mode("overwrite").format("noop").save())
    assert(atRoute == Seq("bloom"),
      s"exactly ${Dedup.MaxBloomItems} is in-contract for the sketch route")
  }

  test("bloom constants: MaxBloomItems never exceeds the bit clamp's real " +
    "saturation point (BloomConstantsSpec pin named in Dedup scaladoc)") {
    // ADVICE r11: the streaming guard compares estimates to MaxBloomItems,
    // but saturation is set by evalShingleBloom's bit clamp. Tie them: an
    // in-cap estimate must still get ~BloomBitsPerItem bits/item under the
    // clamp, so retuning either constant alone cannot silently let capped
    // routes run a saturated (fpp → 1) sketch.
    assert(Dedup.MaxBloomItems <= Dedup.BloomBitCap / Dedup.BloomBitsPerItem,
      s"MaxBloomItems=${Dedup.MaxBloomItems} exceeds " +
        s"BloomBitCap/BloomBitsPerItem=" +
        s"${Dedup.BloomBitCap / Dedup.BloomBitsPerItem}: in-cap estimates " +
        "would saturate the clamped sketch")
  }
}
