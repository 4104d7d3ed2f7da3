package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.tagobjects.Slow

import org.apache.spark.sql.functions._

import graft.operators.Relational

/** Scale smoke for the round-5 two-pass operators (`keyedRowNumbers`,
  * `orderedRunningTotal`) — the shapes that replace single-partition and
  * low-cardinality-partition windows (x51/x79). The bench corpus exercises
  * them at ~150k rows; these run 100k → 1M and assert (a) EXACT output via
  * closed forms no window comparison could check at this size, and (b)
  * near-linear runtime — a shape regression that re-serializes the sort
  * (one task, or one task per key value) shows up as a superlinear step.
  *
  * Closed-form construction: over `id` in [0, N), key = id % 5 and order by
  * id make the in-key rank id/5 + 1 exactly; weight w = id makes the global
  * running total id(id+1)/2 exactly.
  */
class TwoPassScaleSpec extends AnyFunSuite {
  import SparkTestSession.{atScale, routes, spark}

  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  test("keyedRowNumbers is exact (closed form) and near-linear 100k → 1M rows", Slow) {
    def run(n: Long): (Long, Double) = {
      val df = spark.range(n).select(col("id"),
        (col("id") % 5).cast("string").as("k"))
      val ranked = Relational.keyedRowNumbers(df, Seq("k"), Seq(col("id")))
      // rank within key = id/5 + 1 and every group holds n/5 rows — count
      // the rows VIOLATING either, in one distributed pass (no collect)
      timed(ranked.where(col("__rn") =!= expr("id div 5") + 1 ||
        col("__n") =!= lit(n / 5)).count())
    }
    run(10000) // warm-up: JIT + codegen for the two-pass shape
    val (bad10, t10) = run(100000)
    val (bad100, t100) = run(1000000)
    info(f"keyedRowNumbers 100k: $t10%.1f s; 1M: $t100%.1f s")
    assert(bad10 == 0 && bad100 == 0)
    assert(t100 <= t10.max(0.5) * 30,
      f"superlinear step at 10x rows: $t10%.1f s -> $t100%.1f s")
  }

  test("orderedRunningTotal is exact (closed form) and near-linear 100k → 1M rows", Slow) {
    def run(n: Long): (Long, Double) = {
      val df = spark.range(n).select(col("id"), col("id").as("w"))
      // force the two-pass — the route this scale proof exists to cover
      // (the default gate would take the window plan at these row counts)
      val cum = atScale(Relational.orderedRunningTotal(df, Seq(col("id")), "w"))
      // inclusive running total of 0..id = id(id+1)/2
      timed(cum.where(col("__cum") =!= expr("id * (id + 1) div 2")).count())
    }
    run(10000)
    val (bad10, t10) = run(100000)
    val (bad100, t100) = run(1000000)
    info(f"orderedRunningTotal 100k: $t10%.1f s; 1M: $t100%.1f s")
    assert(bad10 == 0 && bad100 == 0)
    assert(t100 <= t10.max(0.5) * 30,
      f"superlinear step at 10x rows: $t10%.1f s -> $t100%.1f s")
  }

  test("keyedRowNumbers routes past the driver cap: 150k distinct keys go " +
    "distributed and stay exact (closed form)", Slow) {
    // 150k keys > MaxDriverBlocks (2^17 = 131072): the old
    // unconditional .collect() would ship one tuple per key to the driver
    // (the x92 web-domain ceiling, round-5 verdict finding 2); the gate
    // must route this to the distributed offset windows instead
    val n = 1500000L
    val keys = 150000L
    val df = spark.range(n).select(col("id"),
      concat(lit("d"), col("id") % keys).as("k"))
    val (ranked, route) = routes("keyedRowNumbers")(
      Relational.keyedRowNumbers(df, Seq("k"), Seq(col("id"))))
    val bad = ranked.where(col("__rn") =!= expr(s"id div $keys") + 1 ||
      col("__n") =!= lit(n / keys)).count()
    assert(route == Seq("at-scale", "distributed"),
      s"150k keys should exceed the ${Relational.MaxDriverBlocks} cap")
    assert(bad == 0)
  }

  test("distributed offset route ≡ driver route on the same input " +
    "(forced via a tiny cap)") {
    // keyedRowNumbers has no cap parameter: atScale forces the distributed
    // route
    val df = spark.range(5000).select(col("id"),
      (col("id") % 7).cast("string").as("k"),
      // a NULL-keyed group and a value column to carry through
      when(col("id") % 11 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("g"), col("id") % 13)).as("g"))
    def run() = routes("keyedRowNumbers")(
      Relational.keyedRowNumbers(df, Seq("k", "g"), Seq(col("id")))
        .select("id", "__rn", "__n").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq)
    val (viaDriver, r1) = run()
    val (viaDist, r2) = atScale(run())
    assert(r1 == Seq("at-scale", "driver") && r2 == Seq("at-scale", "distributed"))
    assert(viaDriver == viaDist)
  }

  test("the distributed route's probe ships one count per partition, not " +
    "the block table") {
    // one block per key: 200k blocks against the 2^17 cap, so the probe
    // must decide "over the cap" without shipping the blocks it counts
    val keys = 200000L
    val df = spark.range(keys).select(col("id"), concat(lit("d"), col("id")).as("k"))
    val sc = spark.sparkContext
    val bytes = new java.util.concurrent.atomic.AtomicLong()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Option(t.taskMetrics).foreach(m => bytes.addAndGet(m.resultSize))
    }
    org.apache.spark.GraftListenerBus.drain(sc)
    sc.addSparkListener(listener)
    assert(keys > Relational.MaxDriverBlocks)
    val (_, route) = try routes("keyedRowNumbers")(Relational.keyedRowNumbers(
      df, Seq("k"), Seq(col("id")), parts = 4))
    finally {
      org.apache.spark.GraftListenerBus.drain(sc)
      sc.removeSparkListener(listener)
    }
    assert(route == Seq("at-scale", "distributed"))
    // the build's jobs (range sample, block count) return a few KB a task;
    // the block table alone is several bytes a block
    assert(bytes.get < keys, s"${bytes.get} result bytes for $keys blocks")
  }

  test("shuffleShards yields exact per-shard permutations and is " +
    "near-linear 100k → 1M rows", Slow) {
    def run(n: Long): (Long, Double) = {
      val df = spark.range(n).select(col("id"))
      val sharded = Relational.shuffleShards(df, "id", nShards = 16)
      // per shard, pos must be a permutation of 1..shard_rows — checked by
      // the (count, max, sum) closed form in one distributed aggregate
      timed(sharded.groupBy("shard")
        .agg(count(lit(1)).as("c"), max("pos").as("m"), sum("pos").as("s"),
          max("shard_rows").as("sr"), min("shard_rows").as("sr2"))
        .where(col("m") =!= col("c") || col("sr") =!= col("c") ||
          col("sr2") =!= col("c") ||
          col("s") =!= col("c") * (col("c") + 1) / 2)
        .count())
    }
    run(10000)
    val (bad10, t10) = run(100000)
    val (bad100, t100) = run(1000000)
    info(f"shuffleShards 100k: $t10%.1f s; 1M: $t100%.1f s")
    assert(bad10 == 0 && bad100 == 0)
    assert(t100 <= t10.max(0.5) * 30,
      f"superlinear step at 10x rows: $t10%.1f s -> $t100%.1f s")
  }

  test("dsirWeights is near-linear 100k → 1M docs with full coverage", Slow) {
    // corpus generated arithmetically IN Spark (no driver-built corpus —
    // the passage-dedup smoke's lesson): 5 tokens/doc over a bounded
    // id-derived vocabulary, every 10th doc is the target distribution
    def run(n: Long): (Long, Double) = {
      val docs = spark.range(n).select(col("id").as("doc_id"),
        when(col("id") % 10 === 0, lit("t")).otherwise(lit("r"))
          .as("source"),
        concat_ws(" ",
          concat(lit("w"), col("id") % 997),
          concat(lit("w"), (col("id") * 7) % 997),
          concat(lit("w"), (col("id") * 13) % 997),
          concat(lit("w"), (col("id") * 31) % 997),
          concat(lit("w"), (col("id") * 61) % 997)).as("text"))
      val w = graft.functions.TextAnalysis.dsirWeights(docs, "t",
        buckets = 1024)
      // every raw doc has 5 tokens → 4 bigram features, none dropped
      timed(w.where(col("n_bigrams") =!= 4).count() +
        (w.count() - n * 9 / 10))
    }
    run(10000)
    val (bad10, t10) = run(100000)
    val (bad100, t100) = run(1000000)
    info(f"dsirWeights 100k: $t10%.1f s; 1M: $t100%.1f s")
    assert(bad10 == 0 && bad100 == 0)
    assert(t100 <= t10.max(0.5) * 30,
      f"superlinear step at 10x docs: $t10%.1f s -> $t100%.1f s")
  }

  test("dsirResample top-k stays k-bounded and near-linear 100k → 1M docs",
    Slow) {
    // same arithmetic corpus as the dsirWeights smoke; the selection adds
    // per-row key compute + TakeOrderedAndProject (per-partition heaps of
    // k) on top — the output must stay k rows with strictly ranked keys at
    // every scale, and the step to 10x docs must stay linear-ish
    def run(n: Long): (Long, Double) = {
      val docs = spark.range(n).select(col("id").as("doc_id"),
        when(col("id") % 10 === 0, lit("t")).otherwise(lit("r"))
          .as("source"),
        concat_ws(" ",
          concat(lit("w"), col("id") % 997),
          concat(lit("w"), (col("id") * 7) % 997),
          concat(lit("w"), (col("id") * 13) % 997),
          concat(lit("w"), (col("id") * 31) % 997),
          concat(lit("w"), (col("id") * 61) % 997)).as("text"))
      timed {
        val got = graft.functions.TextAnalysis.dsirResample(docs, "t",
          k = 200, buckets = 1024).collect()
        val keys = got.map(_.getDouble(1)).toSeq
        (got.length - 200L) + (if (keys == keys.sorted.reverse) 0L else 1L)
      }
    }
    run(10000)
    val (bad10, t10) = run(100000)
    val (bad100, t100) = run(1000000)
    info(f"dsirResample 100k: $t10%.1f s; 1M: $t100%.1f s")
    assert(bad10 == 0 && bad100 == 0)
    assert(t100 <= t10.max(0.5) * 30,
      f"superlinear step at 10x docs: $t10%.1f s -> $t100%.1f s")
  }
}
