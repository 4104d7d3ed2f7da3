package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{TextAnalysis, VectorFunctions => V}
import graft.operators.{BpeTrainer, Dedup, Multimodal, Relational, Similarity}

class OperatorsSpec extends AnyFunSuite {
  import SparkTestSession.{atScale, routes, spark}
  import spark.implicits._

  test("dedupKeepLatest keeps exactly the newest row per key") {
    val df = Seq(
      (1L, 10L, "old"), (1L, 20L, "new"),
      (2L, 5L, "only")).toDF("k", "ts", "tag")
    val got = Relational.dedupKeepLatest(df, Seq("k"), Seq(col("ts").desc))
      .orderBy("k").select("k", "tag").collect().toSeq
    assert(got == Seq(Row(1L, "new"), Row(2L, "only")))
  }

  test("topKPerGroup ranks deterministically with tie-break") {
    val df = Seq(("a", 3), ("a", 3), ("a", 1), ("b", 9)).toDF("g", "v")
      .withColumn("id", monotonically_increasing_id())
    val got = Relational.topKPerGroup(df, Seq("g"),
      Seq(col("v").desc, col("id")), 2)
    assert(got.count() == 3) // 2 from a, 1 from b
  }

  test("keyedRowNumbers ≡ window row_number per key on the real corpus") {
    import org.apache.spark.sql.expressions.Window
    val o = graft.sources.Tables.orders(spark, SparkTestSession.sf0001)
      .select("o_orderkey", "o_orderpriority", "o_totalprice")
    val got = Relational.keyedRowNumbers(o, Seq("o_orderpriority"),
      Seq(col("o_totalprice").desc, col("o_orderkey")), parts = 7)
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val want = o.withColumn("__rn", row_number().over(w).cast("long"))
      .withColumn("__n", count(lit(1)).over(
        Window.partitionBy("o_orderpriority")).cast("long"))
    assert(got.select("o_orderkey", "__rn", "__n")
      .except(want.select("o_orderkey", "__rn", "__n")).count() == 0)
    assert(got.count() == want.count())
  }

  test("keyedRowNumbers: NULL keys are an ordinary group (window parity)") {
    val df = Seq((Some("a"), 3), (None, 5), (None, 1), (Some("a"), 9))
      .toDF("k", "v")
    val got = Relational.keyedRowNumbers(df, Seq("k"), Seq(col("v")), parts = 3)
      .select("k", "v", "__rn", "__n").collect()
      .map(r => (Option(r.getString(0)), r.getInt(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == Set(
      (Some("a"), 3, 1L, 2L), (Some("a"), 9, 2L, 2L),
      (None, 1, 1L, 2L), (None, 5, 2L, 2L)))
  }

  test("keyedRowNumbers refuses BINARY keys loudly") {
    val df = Seq((Array[Byte](1), 1)).toDF("k", "v")
    intercept[IllegalArgumentException](
      Relational.keyedRowNumbers(df, Seq("k"), Seq(col("v"))))
  }

  test("orderedRunningTotal treats NULL values as 0 (running-SUM parity) " +
    "on BOTH routes, including a leading NULL run") {
    // doc starts with NULLs: the window route's raw sum is NULL there while
    // the two-pass emits 0 — the coalesce pins them identical
    val df = Seq((0L, None), (1L, Some(5L)), (2L, None), (3L, Some(2L)))
      .toDF("k", "v")
    val want = Set((0L, 0L), (1L, 5L), (2L, 5L), (3L, 7L))
    val (win, winRoute) = routes("orderedRunningTotal")(
      Relational.orderedRunningTotal(df, Seq(col("k")), "v", parts = 2)
        .select("k", "__cum").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet)
    assert(winRoute == Seq("window"))
    assert(win == want)
    val (twoPass, twoPassRoute) = routes("orderedRunningTotal")(atScale(
      Relational.orderedRunningTotal(df, Seq(col("k")), "v", parts = 2)
        .select("k", "__cum").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet))
    assert(twoPassRoute == Seq("two-pass"))
    assert(twoPass == want)
  }

  test("keyedRowNumbers: multi-key grouping and single-row keys") {
    val df = Seq(("a", 1, 30), ("a", 1, 10), ("a", 2, 5), ("b", 1, 7))
      .toDF("k1", "k2", "v")
    val got = Relational.keyedRowNumbers(df, Seq("k1", "k2"),
        Seq(col("v").desc), parts = 3)
      .select("k1", "k2", "v", "__rn", "__n")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(got == Set(
      ("a", 1, 30, 1L, 2L), ("a", 1, 10, 2L, 2L),
      ("a", 2, 5, 1L, 1L), ("b", 1, 7, 1L, 1L)))
  }

  test("orderedRunningTotal two-pass ≡ global running-sum window on the " +
    "real corpus (forced route)") {
    import org.apache.spark.sql.expressions.Window
    val ev = graft.sources.Tables.events(spark, SparkTestSession.sf0001)
      .select(col("event_id"), col("user_id"))
    // atScale forces the two-pass; the reference window IS the small
    // route's plan, so this doubles as the route A/B oracle
    val (got, route) = routes("orderedRunningTotal")(atScale(
      Relational.orderedRunningTotal(ev, Seq(col("event_id")),
        "user_id", parts = 7)))
    assert(route == Seq("two-pass"))
    val want = ev.withColumn("__cum", sum("user_id").over(
      Window.orderBy("event_id").rowsBetween(Window.unboundedPreceding,
        Window.currentRow)))
    assert(got.except(want).count() == 0)
    assert(got.count() == want.count())
  }

  test("orderedRunningTotal: empty input and single partition, both routes") {
    val empty = spark.range(0).toDF("v").withColumn("k", col("v"))
    assert(Relational.orderedRunningTotal(empty, Seq(col("k")), "v").count() == 0)
    assert(atScale(Relational.orderedRunningTotal(empty, Seq(col("k")), "v")
      .count()) == 0)
    val one = Seq((1L, 5L), (2L, 7L), (3L, 2L)).toDF("k", "v")
    def run() = Relational.orderedRunningTotal(one, Seq(col("k")), "v", parts = 1)
      .select("k", "__cum").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    for (got <- Seq(run(), atScale(run())))
      assert(got == Set((1L, 5L), (2L, 12L), (3L, 14L)))
  }

  test("asOfJoin matches the most recent prior right row, ties count as prior") {
    import java.sql.Timestamp
    def ts(m: Int) = new Timestamp(1704067200000L + m * 60000L)
    val left = Seq((1L, 10L, ts(10)), (2L, 10L, ts(20)), (3L, 20L, ts(5)))
      .toDF("event_id", "k", "ts")
    val right = Seq((10L, ts(10), "exact"), (10L, ts(15), "mid"), (20L, ts(9), "late"))
      .toDF("k", "rts", "tag")
    val got = Relational.asOfJoin(left, right, Seq("k"), "ts", "rts",
        payload = Seq("tag" -> "matched_tag"))
      .select("event_id", "asof_ts", "matched_tag").orderBy("event_id").collect()
    assert(got(0).getTimestamp(1) == ts(10) && got(0).getString(2) == "exact") // tie
    assert(got(1).getTimestamp(1) == ts(15) && got(1).getString(2) == "mid")
    assert(got(2).isNullAt(1) && got(2).isNullAt(2)) // no prior row for k=20
  }

  test("asOfJoin: NULL payload on the matched row stays NULL (no stale " +
    "carry) and NULL-ts right rows never match") {
    import java.sql.Timestamp
    def ts(m: Int) = new Timestamp(1704067200000L + m * 60000L)
    val left = Seq((1L, 10L, ts(30)), (2L, 20L, ts(30)))
      .toDF("event_id", "k", "ts")
    val right = Seq(
      (10L, ts(10), "older"),                      // k=10: older row, non-null
      (10L, ts(20), null.asInstanceOf[String]),    // k=10: MATCHED row, null payload
      (20L, null.asInstanceOf[Timestamp], "ghost") // k=20: null ts — unmatchable
    ).toDF("k", "rts", "tag")
    val got = Relational.asOfJoin(left, right, Seq("k"), "ts", "rts",
        payload = Seq("tag" -> "matched_tag"))
      .select("event_id", "asof_ts", "matched_tag").orderBy("event_id").collect()
    // the matched row (ts=20) has a NULL tag: a per-column ignoreNulls carry
    // would resurrect 'older' here — the whole right row must win as a unit
    assert(got(0).getTimestamp(1) == ts(20), "asof_ts must be the matched row's")
    assert(got(0).isNullAt(2), "matched row's NULL payload must stay NULL")
    // a right row with NULL rts cannot be 'the most recent prior row'
    assert(got(1).isNullAt(1) && got(1).isNullAt(2),
      "null-ts right rows must not match (or leak payload)")
  }

  test("cosine of identical vectors is 1, orthogonal is 0") {
    val df = Seq(
      (1L, Array(1f, 0f, 0f), Array(1f, 0f, 0f)),
      (2L, Array(1f, 0f, 0f), Array(0f, 1f, 0f))).toDF("id", "a", "b")
    val got = df.select(col("id"), V.cosine4(col("a"), col("b")).as("c"))
      .orderBy("id").collect().toSeq
    assert(got == Seq(Row(1L, 1.0), Row(2L, 0.0)))
  }

  test("exact duplicate texts share md5 group; minhash signatures agree") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "completely different words entirely unrelated content here now")
    ).toDF("doc_id", "text")
    val groups = Dedup.exactGroups(docs).collect()
    assert(groups.length == 2)
    assert(groups.find(_.getLong(2) == 2L).get.getLong(1) == 1L) // keep min id

    val sig = Dedup.minhashSignatures(docs).orderBy("doc_id").collect()
    val s1 = sig(0).toSeq.drop(1); val s2 = sig(1).toSeq.drop(1)
    val s3 = sig(2).toSeq.drop(1)
    assert(s1 == s2)      // identical docs → identical signature
    assert(s1 != s3)      // different docs → (whp) different signature
    // and the LSH pipeline surfaces exactly the duplicate pair
    val pairs = Dedup.minhashCandidatePairs(docs).collect().toSeq
    assert(pairs == Seq(Row(1L, 2L)))
  }

  test("simhash: identical docs equal; hamming-far for disjoint vocab") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "one two three four five six seven eight")).toDF("doc_id", "text")
    val sig = Dedup.simhashSignatures(docs).orderBy("doc_id")
      .collect().map(_.getLong(1))
    assert(sig(0) == sig(1))
    assert(java.lang.Long.bitCount(sig(0) ^ sig(2)) > 4)
  }

  test("ngram jaccard finds the near-dup pair, not the unrelated doc") {
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, base),
      (2L, base + " extra"),                       // near-dup of 1
      (3L, (1 to 30).map(i => s"other$i").mkString(" "))).toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(docs, 0.8).select("a", "b")
      .collect().toSeq
    assert(pairs == Seq(Row(1L, 2L)))
  }

  test("ngram jaccard windowed fallback ≡ broadcast prefix path") {
    // atScale forces the join+window plan that over-cap
    // (web-scale-vocabulary) corpora take; results must be identical
    val rnd = new scala.util.Random(7)
    val base = (0 until 60).map { i =>
      val toks = (1 to 25).map(_ => s"w${rnd.nextInt(40)}")
      (i.toLong, toks.mkString(" "))
    }
    // planted near-dups guarantee qualifying pairs at the 0.5 threshold
    val planted = (0 until 5).map { j =>
      val (src, text) = base(j * 11)
      (100L + j, text.split(" ").dropRight(1).mkString(" ") + " changed")
    }
    val docs = (base ++ planted).toDF("doc_id", "text")
    def pairs() = routes("ngramJaccardPairs")(Dedup.ngramJaccardPairs(docs, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet)
    val (broadcast, broadcastRoute) = pairs()
    val (windowed, windowedRoute) = atScale(pairs())
    assert(broadcastRoute == Seq("broadcast") && windowedRoute == Seq("windowed"))
    assert(broadcast == windowed)
    assert(windowed.nonEmpty) // the corpus genuinely produces pairs
  }

  test("embeddingNearDupLsh: kernel route ≡ join route (forced via zero " +
    "bucket cap), including first-band dedup and NaN-norm hits") {
    // the operator has no cap parameter: atScale forces the join route
    val rnd = new scala.util.Random(31)
    def vec(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.fill(8)(r.nextFloat() * 2 - 1)
    }
    // planted twins (same seed → identical vector, cos 1.0), a zero vector
    // (NaN cosine counts as a hit on both routes), and noise
    val base = (0 until 120).map(i => (i.toLong, vec(rnd.nextInt(40)), 0L))
    val zeros = Seq((900L, Array.fill(8)(0f), 0L), (901L, Array.fill(8)(0f), 0L))
    val emb = (base ++ zeros).toDF("vec_id", "embedding", "label")
    // NaN != NaN would break set equality — canonicalize via raw bits
    def pairs() = routes("embeddingNearDupLsh")(
      Dedup.embeddingNearDupLsh(emb, 0.9)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          java.lang.Double.doubleToLongBits(r.getDouble(2)))).toSet)
    val (kernel, kernelRoute) = pairs()
    assert(kernelRoute == Seq("kernel"))
    val (join, joinRoute) = atScale(pairs())
    assert(joinRoute == Seq("join"))
    assert(kernel == join)
    assert(kernel.nonEmpty, "the planted twins must surface")
    assert(kernel.exists { case (a, b, c) => a == 900L && b == 901L &&
        java.lang.Double.longBitsToDouble(c).isNaN },
      "zero-norm twins share every band key and must hit via NaN")
  }

  test("embeddingNearDupLsh: MIXED route (one hot cluster over the cap, " +
    "the rest in contract) ≡ all-join, hot pairs surfacing via the join " +
    "side and the remainder via the kernel side") {
    def vec(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.fill(8)(r.nextFloat() * 2 - 1)
    }
    // 30 identical vectors: ONE bucket per band, declared hot (an
    // oversized bucket is cheap to declare and dear to build: RouteScaleSpec
    // pins that a real one at the default budget takes this split), plus
    // 60 distinct vectors whose buckets stay on the kernel
    val hot = (0 until 30).map(i => (i.toLong, vec(7)))
    val rest = (0 until 60).map(i => (100L + i, vec(1000 + i)))
    val emb = (hot ++ rest).toDF("vec_id", "embedding")
    val keyed = Dedup.lshKeyed(emb)
    val keys = keyed.where(col("vec_id") === 0L).head()
    val hotBuckets = (0 until Similarity.Bands).map(b => Row(b, keys.getLong(1 + b))).toArray
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)))).toSet
    val mixed = rows(Dedup.lshPairsSplit(keyed, 0.9, hotBuckets))
    val (join, joinRoute) = routes("embeddingNearDupLsh")(
      atScale(rows(Dedup.embeddingNearDupLsh(emb, 0.9))))
    assert(joinRoute == Seq("join"))
    assert(mixed == join)
    // the hot cluster's C(30,2) = 435 identity pairs all survive (cos 1.0)
    assert(mixed.count { case (a, b, _) => a < 30 && b < 30 } == 435)
  }

  test("contaminationCounts: bloom route ≡ exact route, and counts are " +
    "the planted per-doc shingle overlaps") {
    val rnd = new scala.util.Random(11)
    // train corpus plus eval docs built to share a KNOWN prefix with one
    // train doc each (shingle overlap = prefix 3-grams) or nothing at all
    val train = (0 until 50).map { i =>
      (i.toLong, (1 to 24).map(_ => s"t${rnd.nextInt(3000)}_$i").mkString(" "))
    }
    val evalDocs = (0 until 6).map { j =>
      val toks = train(j * 7)._2.split(" ")
      // first 10 train tokens + a disjoint tail → shared 3-gram shingles
      // of the 10-token prefix = 8
      (100L + j, (toks.take(10) ++ (1 to 10).map(k => s"e${j}_$k")).mkString(" "))
    } :+ (200L, (1 to 20).map(k => s"only$k").mkString(" ")) // zero overlap
    val trainDf = train.toDF("doc_id", "text")
    val evalDf = evalDocs.toDF("doc_id", "text")
    def run() = routes("contaminationCounts")(
      Dedup.contaminationCounts(trainDf, evalDf, 4096)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq)
    val (bloom, bloomRoute) = run()
    assert(bloomRoute == Seq("bloom"))
    val (exact, exactRoute) = atScale(run())
    assert(exactRoute == Seq("exact"))
    assert(bloom == exact)
    // each planted eval doc shares exactly the 8 prefix shingles; the
    // disjoint doc is absent (inner-join semantics)
    assert(bloom == (0 until 6).map(j => (100L + j, 8L)))
  }

  test("contaminationCounts: a one-partition train side gives the same rows") {
    val docs = (0 until 40).map { i =>
      (i.toLong, (0 until 12).map(k => s"w${(i * 5 + k) % 23}").mkString(" "))
    }.toDF("doc_id", "text")
    def run(in: org.apache.spark.sql.DataFrame) = {
      val (rows, ds) = graft.engine.ScalePolicy.recorded(Dedup.contaminationCounts(
          in.where(col("doc_id") % 4 =!= 0), in.where(col("doc_id") % 4 === 0), 4096)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq)
      (rows, ds.filter(_.tier == "one-partition").map(_.branch))
    }
    val (one, oneRoute) = run(docs.coalesce(1))
    val (three, threeRoute) = run(docs.repartition(3))
    assert(oneRoute == Seq(graft.engine.ScalePolicy.Small))
    assert(threeRoute == Seq(graft.engine.ScalePolicy.AtScale))
    assert(one.nonEmpty && one == three)
  }

  test("contaminationCounts: empty train and empty eval are empty results " +
    "on both routes (NULL bloom ≡ empty-set membership)") {
    val docs = Seq((1L, "a b c d e f")).toDF("doc_id", "text")
    val none = docs.where(lit(false))
    def counts(train: org.apache.spark.sql.DataFrame,
               ev: org.apache.spark.sql.DataFrame) =
      Dedup.contaminationCounts(train, ev, 64).count()
    for (n <- Seq(counts(none, docs), counts(docs, none),
        atScale(counts(none, docs)), atScale(counts(docs, none))))
      assert(n == 0)
  }

  test("bruteForceTopK: self is rank 1 with cosine 1.0") {
    val emb = Seq(
      (0L, Array(1f, 2f, 3f, 4f)),
      (1L, Array(1f, 2f, 3f, 4.1f)),
      (2L, Array(-1f, -2f, -3f, -4f))).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(emb, 0L, 2).collect()
    assert(top(0).getLong(0) == 0L && top(0).getDouble(1) == 1.0)
    assert(top(1).getLong(0) == 1L && top(1).getDouble(1) > 0.999)
  }

  test("embeddingNearDupPairs fails loudly past the probe cap") {
    val emb = (0L until 5L).map(i => (i, Array.fill(4)(i.toFloat + 1)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalStateException] {
      Dedup.embeddingNearDupPairs(emb, maxProbeId = 5L, threshold = 0.0,
        maxProbeRows = 3)
    }
    assert(e.getMessage.contains("probe set exceeds"))
    // within the cap the operator works as before
    assert(Dedup.embeddingNearDupPairs(emb, 2L, 0.0, maxProbeRows = 3)
      .count() > 0)
  }

  test("banded lshTopK and ivfTopK both surface an identical twin at rank 1") {
    val base = Array.tabulate(64)(i => math.sin(i + 1).toFloat)
    val far = Array.tabulate(64)(i => math.cos(3 * i + 2).toFloat)
    val emb = Seq(
      (0L, base), (7L, base),              // query 0 and its exact twin
      (8L, far), (9L, far.map(-_))) ++
      (1L to 6L).map(i => (i, Array.tabulate(64)(j => math.sin(i * 17 + j).toFloat)))
    val df = emb.toDF("vec_id", "embedding")
    val lsh = Similarity.lshTopK(df, 1L, 3).where(col("rn") === 1).collect()
    assert(lsh.length == 1 && lsh(0).getLong(2) == 7L &&
      lsh(0).getDouble(3) == 1.0) // twin shares every band key → rank 1
    // the one-task rewrite of the same query over a parquet scan: same rows,
    // one task, no exchange (the broadcast probe side builds inline)
    val dir = java.nio.file.Files.createTempDirectory("graft_lsh").toString
    df.write.mode("overwrite").parquet(dir)
    val (fused, decisions) = graft.engine.ScalePolicy.recorded(
      graft.engine.ScalePolicy.oneTask(Similarity.lshTopK(spark.read.parquet(dir), 1L, 3)))
    assert(decisions.map(_.branch) == Seq(graft.engine.ScalePolicy.Small), decisions)
    val plan = fused.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && plan.contains("ShuffledHashJoin"), plan)
    assert(fused.collect().toSeq == Similarity.lshTopK(df, 1L, 3).collect().toSeq)
    val ivf = Similarity.ivfTopK(df, numCentroids = 4, maxQueryId = 1, k = 3)
      .where(col("rn") === 1).collect()
    assert(ivf.length == 1 && ivf(0).getLong(2) == 7L &&
      ivf(0).getDouble(3) == 1.0) // twin lands in the same cell → rank 1
  }

  test("semanticDedup drops within-cell near-dups, never cross-cell pairs") {
    val cents = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0f, 1f, 0f, 0f))).toDF("cid", "cv")
    val emb = Seq(
      (10L, Array(1f, 0f, 0f, 0f)),     // cell 0
      (11L, Array(0.99f, 0.05f, 0f, 0f)), // cell 0, cos(10,11) ≈ 0.999 → dropped
      (12L, Array(0f, 1f, 0f, 0f)),     // cell 1
      (13L, Array(0.72f, 0.69f, 0f, 0f)), // cell 0 (boundary, x-axis wins)
      (14L, Array(0.69f, 0.72f, 0f, 0f))  // cell 1: cos(13,14) ≈ 0.999 but
                                          // CROSS-cell → both kept
    ).toDF("vec_id", "embedding")
    val got = Dedup.semanticDedup(emb, cents, 0.9)
      .orderBy("cell").collect().toSeq
    assert(got == Seq(Row(0L, 3L, 1L, 2L), Row(1L, 2L, 0L, 2L)))
  }

  test("BpeTrainer learns the classic greedy merge sequence and stops when exhausted") {
    val docs = Seq((0L, "ab ab ab abc")).toDF("doc_id", "text")
    val merges = BpeTrainer.train(docs, 10)
      .map(m => (m.left, m.right, m.weight))
    assert(merges == Seq(
      ("a", "b</w>", 3L), // word-final 'ab' dominates
      ("a", "b", 1L),     // tie with (b, c</w>) resolves lexicographically
      ("ab", "c</w>", 1L) // the fully fused tail
    )) // then every word is one symbol — training stops at 3 of 10 rounds
  }

  test("BpeTrainer merges overlapping runs greedily leftmost (aaaa → [aa, aa])") {
    val docs = Seq((0L, "aaaa aaaa aaaa")).toDF("doc_id", "text")
    val merges = BpeTrainer.train(docs, 2)
      .map(m => (m.left, m.right, m.weight))
    // round 1: (a,a) weight 6 — two non-final pairs per word × 3; the
    // leftmost-greedy apply turns [a,a,a,a</w>] into [aa,a,a</w>]
    // round 2: (a,a</w>) weight 3 survives as the best remaining pair
    assert(merges == Seq(("a", "a", 6L), ("a", "a</w>", 3L)))
  }

  test("BpeTrainer.encode reproduces the trainer's final symbol state and " +
    "applies merges in learned order, leftmost-greedy") {
    val docs = Seq((0L, "ab ab ab abc")).toDF("doc_id", "text")
    val merges = BpeTrainer.train(docs, 10)
    val enc = BpeTrainer.encode(docs, merges)
      .select("bpe_tokens").collect()(0).getSeq[String](0)
    // the trainer fused every word to one symbol, so encode must too
    assert(enc == Seq("ab</w>", "ab</w>", "ab</w>", "abc</w>"))
    // merge ORDER matters: (a,b</w>) before (a,b) means "ab" fuses at the
    // first merge and "abc"'s prefix only at the second — reversing the
    // list must NOT change this corpus (order-robust words) but a
    // word-final-only list must leave "abc" unfused
    val finalOnly = merges.take(1)
    val enc2 = BpeTrainer.encode(docs, finalOnly)
      .select("bpe_tokens").collect()(0).getSeq[String](0)
    assert(enc2 == Seq("ab</w>", "ab</w>", "ab</w>", "a", "b", "c</w>"))
    // leftmost-greedy overlap rule, the trainer's own rewrite: aaa under
    // (a,a) then (a,a</w>) → [aa, a</w>] (first merge can't re-enter)
    val tri = Seq((0L, "aaa")).toDF("doc_id", "text")
    val m2 = Seq(BpeTrainer.Merge("a", "a", 0L),
      BpeTrainer.Merge("a", "a</w>", 0L))
    assert(BpeTrainer.encode(tri, m2)
      .select("bpe_tokens").collect()(0).getSeq[String](0)
      == Seq("aa", "a</w>"))
    // unseen vocabulary passes through as raw character symbols; empty and
    // token-free text encode to the empty array
    val unk = Seq((0L, "xyz"), (1L, ""), (2L, "   ")).toDF("doc_id", "text")
    val encU = BpeTrainer.encode(unk, merges).orderBy("doc_id")
      .select("bpe_tokens").collect()
    assert(encU(0).getSeq[String](0) == Seq("x", "y", "z</w>"))
    assert(encU(1).getSeq[String](0).isEmpty)
    assert(encU(2).getSeq[String](0).isEmpty)
    // an empty merge list tokenizes to plain characters (round-0 state)
    assert(BpeTrainer.encode(tri, Nil)
      .select("bpe_tokens").collect()(0).getSeq[String](0)
      == Seq("a", "a", "a</w>"))
  }

  test("passageDedup: within-doc repeats count as dupes; exact-chunk and " +
    "short tails; empty docs are excluded") {
    val w1 = (1 to 30).map(i => s"a$i").mkString(" ") // one exact chunk
    val docs = Seq(
      (0L, w1),                      // first occurrence
      (1L, s"$w1 $w1"),              // 2 chunks, second is a dup OF DOC 1's own first? no — of doc 0's
      (2L, "short tail only"),       // 1 short chunk, unique
      (3L, ""),                      // tokenless: excluded entirely
      (4L, w1)                       // dup of doc 0
    ).toDF("doc_id", "text")
    val got = Dedup.passageDedup(docs).orderBy("doc_id").collect().toSeq
    // keep-first order is (doc_id, off): doc 0 owns w1; doc 1's BOTH chunks
    // are dups (off 1 and 31 both repeat w1); doc 4's single chunk is a dup
    assert(got == Seq(
      Row(0L, 1L, 0L), Row(1L, 2L, 2L), Row(2L, 1L, 0L), Row(4L, 1L, 1L)))
  }

  test("semanticDedup join route is salt-invariant (saltParts 1 ≡ 8) and " +
    "kernel route ≡ join route at any partitioning") {
    val cents = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0f, 1f, 0f, 0f))).toDF("cid", "cv")
    val emb = (0L until 40L).map(i =>
      (i, Array(math.sin(i * 3.7).toFloat, math.cos(i * 1.3).toFloat,
        math.sin(i * 0.9).toFloat, math.cos(i * 2.1).toFloat)))
      .toDF("vec_id", "embedding")
    // atScale forces the salted-join route
    def runJoin(p: Int) = {
      val (r, route) = routes("semanticDedup")(atScale(Dedup.semanticDedup(emb,
        cents, 0.9, saltParts = p).orderBy("cell").collect().toSeq))
      assert(route == Seq("join")); r
    }
    val joined = runJoin(1)
    assert(joined == runJoin(8))
    val (kernel, kernelRoute) = routes("semanticDedup")(
      Dedup.semanticDedup(emb, cents, 0.9).orderBy("cell").collect().toSeq)
    assert(kernelRoute == Seq("kernel"))
    assert(kernel == joined)
    val kernel7 = Dedup.semanticDedup(emb.repartition(7), cents, 0.9)
      .orderBy("cell").collect().toSeq
    assert(kernel7 == joined)
    intercept[IllegalArgumentException](Dedup.semanticDedup(emb, cents, 0.9, 0))
  }

  test("cellsRankedAuto kernel route: NaN dots rank first like the window's " +
    "double ordering; null embeddings are excluded on both routes") {
    val cents = Seq((0L, Array(1f, 0f)), (1L, Array(0f, 1f))).toDF("cid", "cv")
    val emb = Seq(
      (0L, Array(1f, 0.5f)),
      (1L, Array(Float.NaN, 1f)), // NaN dot against BOTH centroids
      (2L, null.asInstanceOf[Array[Float]]),
      (3L, Array(0.2f, 0.9f))).toDF("vec_id", "embedding")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("vec_id", "cid", "crn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val kernel = rows(Similarity.cellsRankedAuto(emb, cents, 2))
    val window = rows(Similarity.cellsRanked(
      emb.where(col("embedding").isNotNull), cents).where(col("crn") <= 2))
    assert(kernel == window)
    assert(!kernel.exists(_._1 == 2L)) // the null-embedding row is gone
    // NaN ties resolve by ascending cid, exactly like (cdot DESC, cid ASC)
    assert(kernel.contains((1L, 0L, 1)) && kernel.contains((1L, 1L, 2)))
  }

  test("cellsRankedAuto over-cap fallback ≡ kernel route (forced via a tiny cap)") {
    // the operator has no cap parameter: atScale forces the fallback
    val emb = graft.sources.Tables(spark, SparkTestSession.sf0001, "embeddings")
    val cents = emb.where(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("vec_id", "cid", "crn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val (kernel, kernelRoute) = routes("cellsRankedAuto")(
      rows(Similarity.cellsRankedAuto(emb, cents, 3)))
    val (fallback, fallbackRoute) = routes("cellsRankedAuto")(
      atScale(rows(Similarity.cellsRankedAuto(emb, cents, 3))))
    assert(kernelRoute == Seq("kernel") && fallbackRoute == Seq("cross-join"))
    assert(kernel == fallback && kernel.nonEmpty)
  }

  test("lsh band keys: identical vectors share every band key, opposite vectors none") {
    val emb = Seq(
      (0L, Array.fill(64)(1f)),
      (1L, Array.fill(64)(1f)),
      (2L, Array.fill(64)(-1f))).toDF("vec_id", "embedding")
    val keys = Similarity.withBandKeys(emb)
      .select(col("vec_id") +: (0 until Similarity.Bands).map(b => col(s"k$b")): _*)
      .orderBy("vec_id").collect()
      .map(r => (1 to Similarity.Bands).map(r.getLong))
    assert(keys(0) == keys(1))
    // opposite sign pattern on every plane ⇒ complementary key in every band
    (0 until Similarity.Bands).foreach(b => assert(keys(0)(b) != keys(2)(b)))
  }

  test("language id picks the profile language; und for no hits") {
    val docs = Seq(
      (1L, "the cat sat of the mat and a dog"),
      (2L, "der hund und die katze ist ein tier"),
      (3L, "zzz qqq www")).toDF("doc_id", "text")
    val got = TextAnalysis.languageId(docs).orderBy("doc_id")
      .select("lang_pred").collect().map(_.getString(0)).toSeq
    assert(got == Seq("en", "de", "und"))
  }

  test("fingerprint is order-sensitive where minhash is not") {
    val docs = Seq(
      (1L, "a b c d e f"),
      (2L, "f e d c b a")).toDF("doc_id", "text")
    val fp = TextAnalysis.fingerprints(docs).orderBy("doc_id")
      .collect().map(_.getLong(1))
    assert(fp(0) != fp(1))
    val sig = Dedup.minhashSignatures(docs).orderBy("doc_id").collect()
    assert(sig(0).toSeq.drop(1) == sig(1).toSeq.drop(1)) // same token SET
  }

  test("multimodal: resize preserves aspect ratio; frame sampling slices the payload") {
    val docs = Seq((1L, "0123456789abcdef", "s", "src", 16L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val assets = Multimodal.assetsFromDocuments(docs)
    val rs = Multimodal.resizeStub(assets, 128, 128).collect()(0)
    val (w, h) = (rs.getInt(3), rs.getInt(4))
    val (ow, oh) = (rs.getInt(5), rs.getInt(6))
    assert(ow <= 128 && oh <= 128 && ow <= w && oh <= h)
    // aspect preserved within integer-floor tolerance
    assert(math.abs(ow.toDouble / oh - w.toDouble / h) < 0.1 || (ow == w && oh == h))

    val frames = Multimodal.frameSample(assets, 4)
      .orderBy("frame_idx").collect()
    assert(frames.length == 4)
    assert(frames.map(_.getAs[Long]("offset")).toSeq == Seq(0L, 4L, 8L, 12L))
    assert(frames.map(r => new String(r.getAs[Array[Byte]]("frame_bytes"))).toSeq
      == Seq("0123", "4567", "89ab", "cdef"))
  }

  test("multimodal: stub decode emits plausible dims; feature extraction is deterministic") {
    val docs = Seq((1L, "hello world", "s", "src", 11L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val assets = Multimodal.assetsFromDocuments(docs)
    val dec = Multimodal.decodeColumns(assets).collect()(0)
    assert(dec.getLong(2) == 11L) // byte_len of "hello world"
    assert(dec.getInt(3) >= 64 && dec.getInt(3) < 512)
    val f1 = Multimodal.extractFeatures(spark, assets).collect()(0)
    val f2 = Multimodal.extractFeatures(spark, assets).collect()(0)
    assert(f1.getSeq[Float](1) == f2.getSeq[Float](1))
    assert(f1.getSeq[Float](1).length == 4)
  }

  test("multimodal: REAL PNG decode recovers geometry and exact channel " +
    "means; undecodable payload yields null metrics, not a task failure") {
    // hand-built 3×2 PNG via the same JDK codec the operator uses on read —
    // but with per-pixel distinct colors, so the mean is a real average
    val img = new java.awt.image.BufferedImage(
      3, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val px = Seq( // (x, y, r, g, b)
      (0, 0, 10, 20, 30), (1, 0, 40, 50, 60), (2, 0, 70, 80, 90),
      (0, 1, 100, 110, 120), (1, 1, 130, 140, 150), (2, 1, 160, 170, 180))
    px.foreach { case (x, y, r, g, b) =>
      img.setRGB(x, y, (r << 16) | (g << 8) | b) }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val assets = Seq(
      (1L, bos.toByteArray),
      (2L, "not an image".getBytes("UTF-8")),
      (3L, null.asInstanceOf[Array[Byte]]),
      // RECOGNIZED format but corrupt body: ImageIO.read THROWS here (it
      // returns null only for unrecognized formats) — must degrade to null
      // metrics, not fail the task
      (4L, bos.toByteArray.take(24))).toDF("asset_id", "payload")
    val rows = Multimodal.decodeImages(assets).orderBy("asset_id").collect()
    assert(rows(0).getInt(1) == 3 && rows(0).getInt(2) == 2)
    assert(rows(0).getDouble(3) == px.map(_._3).sum / 6.0)
    assert(rows(0).getDouble(4) == px.map(_._4).sum / 6.0)
    assert(rows(0).getDouble(5) == px.map(_._5).sum / 6.0)
    assert(rows(1).isNullAt(1) && rows(1).isNullAt(3))
    assert(rows(2).isNullAt(1) && rows(2).isNullAt(3))
    assert(rows(3).isNullAt(1) && rows(3).isNullAt(3))
  }

  test("multimodal: synthesizePng → decodeImages round trip matches the " +
    "id arithmetic the x78 oracle predicts") {
    val docs = Seq((0L, "t", "s", "src", 1L), (7L, "t", "s", "src", 1L),
      (255L, "t", "s", "src", 1L), (499L, "t", "s", "src", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = Multimodal.decodeImages(Multimodal.synthesizePng(docs))
      .orderBy("asset_id").collect()
    for (r <- got) {
      val id = r.getLong(0)
      assert(r.getInt(1) == (8 + id % 24).toInt, s"width id=$id")
      assert(r.getInt(2) == (8 + (id * 3) % 24).toInt, s"height id=$id")
      assert(r.getDouble(3) == (id % 256).toDouble, s"mean_r id=$id")
      assert(r.getDouble(4) == ((id * 7) % 256).toDouble, s"mean_g id=$id")
      assert(r.getDouble(5) == ((id * 13) % 256).toDouble, s"mean_b id=$id")
    }
  }

  test("multimodal: synthesizeWav → decodeWav round trip matches the " +
    "id arithmetic the x80 oracle predicts") {
    val docs = Seq((0L, "t", "s", "src", 1L), (7L, "t", "s", "src", 1L),
      (998L, "t", "s", "src", 1L), (999L, "t", "s", "src", 1L), // v = -1, 0
      (1998L, "t", "s", "src", 1L)) // v = +999 (positive extreme)
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = Multimodal.decodeWav(Multimodal.synthesizeWav(docs))
      .orderBy("asset_id").collect()
    for (r <- got) {
      val id = r.getLong(0)
      val v = (id % 1999 - 999).toInt
      assert(r.getInt(1) == 8000, s"sample_rate id=$id")
      assert(r.getInt(2) == 1, s"channels id=$id")
      assert(r.getInt(3) == 16, s"bits id=$id")
      assert(r.getLong(4) == 64 + id % 192, s"n_samples id=$id")
      assert(r.getDouble(5) == v.toDouble, s"mean_amp id=$id")
      assert(r.getInt(6) == math.abs(v), s"peak id=$id")
    }
  }

  test("multimodal: synthesizeAvi → decodeAvi round trip matches the " +
    "id arithmetic the x82 oracle predicts") {
    val docs = Seq((0L, "t", "s", "src", 1L), (7L, "t", "s", "src", 1L),
      (15L, "t", "s", "src", 1L), (499L, "t", "s", "src", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = Multimodal.decodeAvi(Multimodal.synthesizeAvi(docs))
      .orderBy("asset_id", "frame_idx").collect()
    // one row per (doc, frame)
    assert(got.length == Seq(0L, 7L, 15L, 499L).map(id => 2 + id % 4).sum)
    for (r <- got) {
      val id = r.getLong(0); val f = r.getLong(1)
      assert(r.getInt(2) == (32 + 16 * (id % 4)).toInt, s"width id=$id")
      assert(r.getInt(3) == (32 + 16 * ((id * 3) % 4)).toInt, s"height id=$id")
      assert(r.getLong(4) == 2 + id % 4, s"n_frames id=$id")
      assert(r.getLong(5) == 40000L, s"us_per_frame id=$id")
      assert(r.getInt(6) == ((id + f) % 16).toInt, s"r_bucket id=$id f=$f")
      assert(r.getInt(7) == ((id * 3 + f) % 16).toInt, s"g_bucket id=$id f=$f")
      assert(r.getInt(8) == ((id * 7 + f) % 16).toInt, s"b_bucket id=$id f=$f")
    }
  }

  test("multimodal: non-AVI, corrupt, or adversarial video payloads yield " +
    "null metrics, not a hang or task failure") {
    def le32(v: Long): Array[Byte] = Array(
      (v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def cc(s: String) = s.getBytes("US-ASCII")
    // size field 0xFFFFFFF8 wraps to Int -8: with an unclamped walker the
    // chunk offset never advances (infinite executor spin)
    val sizeWrap = cc("RIFF") ++ le32(100) ++ cc("AVI ") ++
      cc("avih") ++ le32(0xFFFFFFF8L) ++ Array.fill[Byte](40)(0)
    // declared avih size 40 but only 8 body bytes present: an unclamped
    // reader indexes past the array
    val truncated = cc("RIFF") ++ le32(0x1000) ++ cc("AVI ") ++
      cc("avih") ++ le32(40) ++ Array.fill[Byte](8)(0)
    // deeply nested LISTs: a depth-unbounded recursive walker overflows
    // the stack (fatal, uncatchable)
    val deep = cc("RIFF") ++ le32(12L * 4000 + 4) ++ cc("AVI ") ++
      (1 to 4000).flatMap(_ => cc("LIST") ++ le32(12L * 4000) ++ cc("hdrl"))
        .toArray
    val assets = Seq(
      (1L, "definitely not an avi".getBytes("UTF-8")),
      (2L, null.asInstanceOf[Array[Byte]]),
      (3L, "RIFF".getBytes("UTF-8")),
      (4L, sizeWrap), (5L, truncated), (6L, deep)).toDF("asset_id", "payload")
    val rows = Multimodal.decodeAvi(assets).orderBy("asset_id").collect()
    assert(rows.length == 6)
    for (r <- rows) assert(r.isNullAt(6) && r.isNullAt(7) && r.isNullAt(8),
      s"expected null metrics for asset ${r.getLong(0)}")
  }

  test("multimodal: a frame-less but well-formed AVI stays PRESENT in the " +
    "output with its container metadata") {
    // synthesize a real AVI, then drop its movi frame chunks by rewriting
    // them to a padding fourCC the demux ignores
    val one = Seq((3L, "t", "s", "src", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val avi = Multimodal.synthesizeAvi(one).collect()(0).getAs[Array[Byte]](1)
    val gutted = avi.clone()
    def find(pat: Array[Byte], from: Int): Int = {
      var i = from
      while (i + pat.length <= gutted.length &&
        !pat.indices.forall(j => gutted(i + j) == pat(j))) i += 1
      if (i + pat.length <= gutted.length) i else -1
    }
    var at = find("00dc".getBytes("US-ASCII"), 0)
    while (at >= 0) {
      gutted(at) = 'J'; gutted(at + 1) = 'U'  // 'JUNK'-style ignored chunk
      gutted(at + 2) = 'N'; gutted(at + 3) = 'K'
      at = find("00dc".getBytes("US-ASCII"), at + 4)
    }
    val got = Multimodal.decodeAvi(
      Seq((3L, gutted)).toDF("asset_id", "payload")).collect()
    assert(got.length == 1)
    val r = got(0)
    assert(r.isNullAt(1)) // no frames
    assert(r.getInt(2) == (32 + 16 * (3 % 4)) &&
      r.getLong(4) == 2 + 3 % 4 && r.getLong(5) == 40000L,
      "container metadata must survive a frame-less AVI")
  }

  test("multimodal: undecodable or non-PCM16 audio payload yields null " +
    "metrics, not a task failure") {
    val assets = Seq(
      (1L, "definitely not a wav".getBytes("UTF-8")),
      (2L, null.asInstanceOf[Array[Byte]]),
      (3L, Array.emptyByteArray)).toDF("asset_id", "payload")
    val rows = Multimodal.decodeWav(assets).orderBy("asset_id").collect()
    for (r <- rows) {
      assert(r.isNullAt(1) && r.isNullAt(4) && r.isNullAt(5),
        s"expected null metrics for asset ${r.getLong(0)}")
    }
  }

  test("mixtureSample: rate cap, zero-token keep-all, exact rate arithmetic") {
    // Three paths testdata can't reach: an under-share source whose rate
    // caps at keep-all (1000), a zero-token source (keep-all, no div-by-0),
    // and the dominant source getting the exact integer-division rate.
    val docs = (
      (1L to 40L).map(i => (i, "big", "a b c d e f g h i j")) ++ // 400 toks
        (101L to 104L).map(i => (i, "tiny", "a b")) ++           // 8 toks
        (201L to 203L).map(i => (i, "empty", "   "))             // 0 toks
      ).toDF("doc_id", "source", "text")
    val got = TextAnalysis.mixtureSample(docs, budgetPermille = 300)
      .orderBy("source").collect().toSeq
    // grand = 408; budget toks = 408*300/1000 = 122; equal share over 3
    // sources → rate = min(1000, 1000*122/(3*toksTotal)) in Long division.
    val hKeep = (id: Long, rate: Long) =>
      ((id % 1000000007L) * 2654435761L) % 1000000007L % 1000L < rate
    val bigKept = (1L to 40L).count(hKeep(_, 122000L / 1200L)).toLong
    assert(got.map(r => (r.getString(0), r.getLong(3))) ==
      Seq(("big", 101L), ("empty", 1000L), ("tiny", 1000L)))
    assert(got.map(r => (r.getString(0), r.getLong(4), r.getLong(5))) ==
      Seq(("big", bigKept, bigKept * 10L), ("empty", 3L, 0L),
        ("tiny", 4L, 8L)))
  }

  test("shuffleShards ≡ hash-ordered window ranks; invariant to input " +
    "partitioning") {
    import org.apache.spark.sql.expressions.Window
    val docs = graft.sources.Tables.documents(spark, SparkTestSession.sf0001)
      .select("doc_id")
    val got = Relational.shuffleShards(docs, "doc_id", nShards = 4, parts = 5)
    val h = ((col("doc_id") % lit(1000000007L)) * lit(2654435761L)) %
      lit(1000000007L)
    val want = docs.withColumn("__h", h)
      .withColumn("shard", (col("__h") % 4).cast("int"))
      .withColumn("pos",
        row_number().over(Window.partitionBy("shard")
          .orderBy(col("__h"), col("doc_id"))).cast("long"))
      .withColumn("shard_rows",
        count(lit(1)).over(Window.partitionBy("shard")))
      .drop("__h")
    assert(got.except(want).count() == 0)
    assert(want.except(got).count() == 0)
    // reproducibility: a differently-partitioned input yields the SAME
    // assignment (the operator's whole point vs ORDER BY rand())
    val rep = Relational.shuffleShards(
      docs.repartition(13), "doc_id", nShards = 4, parts = 3)
    assert(rep.except(want).count() == 0 && want.except(rep).count() == 0)
    intercept[IllegalArgumentException](
      Relational.shuffleShards(docs, "doc_id", nShards = 0))
  }

  test("dsirWeights: target-resembling docs outscore disjoint-vocab docs; " +
    "target and sub-2-token docs excluded; bounds validated") {
    val docs = Seq(
      (1L, "wiki", "alpha beta gamma delta alpha beta"),
      (2L, "wiki", "alpha beta gamma epsilon"),
      (10L, "web", "alpha beta gamma delta"), // target-like raw doc
      (11L, "web", "zzz qqq xxx www vvv"),    // disjoint-vocab raw doc
      (12L, "web", "single"),                 // < 2 tokens: no features
      (13L, "web", "")                        // token-free
    ).toDF("doc_id", "source", "text")
    val got = TextAnalysis.dsirWeights(docs, targetSource = "wiki",
      buckets = 64).orderBy("doc_id").collect().toSeq
    assert(got.map(_.getLong(0)) == Seq(10L, 11L),
      "only raw docs with >= 2 tokens are scored")
    val byId = got.map(r => r.getLong(0) -> r).toMap
    assert(byId(10L).getLong(1) == 3L && byId(11L).getLong(1) == 4L)
    // per-bigram mean importance: the target-like doc must beat the
    // disjoint one (its bigrams carry target mass; the disjoint doc's
    // buckets are raw-only, log-ratio < 0 under smoothing)
    val mean10 = byId(10L).getDouble(2) / 3.0
    val mean11 = byId(11L).getDouble(2) / 4.0
    assert(mean10 > mean11,
      s"target-like $mean10 must outscore disjoint $mean11")
    assert(mean11 < 0.0)
    intercept[IllegalArgumentException](
      TextAnalysis.dsirWeights(docs, "wiki", buckets = 0))
    intercept[IllegalArgumentException](
      TextAnalysis.dsirWeights(docs, "wiki", buckets = (1 << 24) + 1))
  }

  test("dsirResample: key = logw + deterministic hash-Gumbel; top-k by key " +
    "desc; partition-invariant; k validated") {
    val docs = Seq(
      (1L, "wiki", "alpha beta gamma delta alpha beta"),
      (2L, "wiki", "alpha beta gamma epsilon"),
      (10L, "web", "alpha beta gamma delta"),
      (11L, "web", "zzz qqq xxx www vvv"),
      (12L, "web", "single"), // < 2 tokens: no features, never drawn
      (20L, "web", "alpha beta gamma alpha beta"),
      (21L, "web", "mmm nnn ooo ppp")
    ).toDF("doc_id", "source", "text")
    val all4 = TextAnalysis.dsirResample(docs, targetSource = "wiki",
      k = 10, buckets = 64).collect().toSeq
    assert(all4.map(_.getLong(0)).toSet == Set(10L, 11L, 20L, 21L),
      "k >= eligible returns every scored doc (target + sub-2-token excluded)")
    val keys = all4.map(_.getDouble(1))
    assert(keys == keys.sorted.reverse, "highest selection key first")
    // the key decomposes exactly: dsirWeights' logw plus the rounded Gumbel
    // of the Knuth doc_id hash — same Math.log, same HALF_UP, compare tight
    val logw = TextAnalysis.dsirWeights(docs, "wiki", buckets = 64)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val M = 1000000007L
    for (r <- all4) {
      val h = (r.getLong(0) % M) * 2654435761L % M
      val g = java.math.BigDecimal.valueOf(
          -math.log(-math.log((h + 0.5) / M.toDouble)))
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      assert(math.abs(r.getDouble(1) - (logw(r.getLong(0)) + g)) < 1e-9,
        s"doc ${r.getLong(0)}: key ${r.getDouble(1)} != logw+gumbel")
    }
    // top-2 is the prefix of the full ordering, and a differently-
    // partitioned input draws the IDENTICAL sample (vs ORDER BY rand())
    val top2 = TextAnalysis.dsirResample(docs, "wiki", k = 2, buckets = 64)
      .collect().toSeq.map(_.getLong(0))
    assert(top2 == all4.take(2).map(_.getLong(0)))
    val rep = TextAnalysis.dsirResample(docs.repartition(13), "wiki",
      k = 2, buckets = 64).collect().toSeq.map(_.getLong(0))
    assert(rep == top2)
    intercept[IllegalArgumentException](
      TextAnalysis.dsirResample(docs, "wiki", k = 0))
  }

  test("dsirWeights: absent target source degrades to uniform target " +
    "(every bucket's target mass = smoothing), never divides by zero") {
    val docs = Seq(
      (1L, "web", "a b c"), (2L, "web", "d e f g")
    ).toDF("doc_id", "source", "text")
    val got = TextAnalysis.dsirWeights(docs, targetSource = "nope",
      buckets = 32).orderBy("doc_id").collect().toSeq
    assert(got.map(_.getLong(0)) == Seq(1L, 2L))
    // with tt = 0, p_target is uniform 1/B; every raw bucket has cr >= 1 so
    // lr = ln((1/B) / ((cr+1)/(tr+B))) is finite — just assert finiteness
    // and the right feature counts
    assert(got.map(_.getLong(1)) == Seq(2L, 3L))
    assert(got.forall(r => !r.getDouble(2).isNaN && !r.getDouble(2).isInfinite))
  }

  test("mixtureSample: a one-partition input takes the window route, same rows") {
    val docs = (1L to 60L).map(i => (i, s"src${i % 3}",
      (1 to (i % 7).toInt).map(k => s"w$k").mkString(" "))).toDF("doc_id", "source", "text")
    def run(in: org.apache.spark.sql.DataFrame) = routes("mixtureSample")(
      TextAnalysis.mixtureSample(in, budgetPermille = 300).collect()
        .map(r => (0 to 5).map(r.get)).sortBy(_.head.toString).toSeq)
    val (one, oneRoute) = run(docs.coalesce(1))
    val (three, threeRoute) = run(docs.repartition(3))
    assert(oneRoute == Seq(graft.engine.ScalePolicy.Small))
    assert(threeRoute == Seq(graft.engine.ScalePolicy.AtScale))
    assert(one.size == 3 && one == three)
  }

  test("mixtureSample: zero budget keeps only zero-token sources; " +
    "bounds validated") {
    val docs = Seq(
      (1L, "a", "x y z"), (2L, "a", "x"), (3L, "b", " ")
    ).toDF("doc_id", "source", "text")
    // budget 0 → rate 0 for any token-bearing source (n_sampled coalesces
    // to 0 through the left join); zero-token sources still keep-all.
    val got = TextAnalysis.mixtureSample(docs, budgetPermille = 0)
      .orderBy("source").collect().toSeq
    assert(got.map(r => (r.getString(0), r.getLong(3), r.getLong(4))) ==
      Seq(("a", 0L, 0L), ("b", 1000L, 1L)))
    intercept[IllegalArgumentException](
      TextAnalysis.mixtureSample(docs, budgetPermille = -1))
    intercept[IllegalArgumentException](
      TextAnalysis.mixtureSample(docs, budgetPermille = 1001))
  }

  test("winnowingDedup: the k+w-1 guarantee, exact-dup saturation, and " +
    "short-doc exclusion") {
    val run = (1 to 8).map(i => s"shared$i").mkString(" ") // k+w-1 = 8 tokens
    val docs = Seq(
      (1L, run + " " + (1 to 10).map(i => s"a$i").mkString(" ")),
      // shares exactly the 8-token run with doc 1 → the winnowing guarantee
      // promises at least one shared selected fingerprint
      (2L, (1 to 10).map(i => s"b$i").mkString(" ") + " " + run),
      (3L, (1 to 20).map(i => s"c$i").mkString(" ")), // disjoint vocab
      (4L, run),                                       // exact window, dup of 1
      (5L, "too short doc")                            // < 8 tokens: excluded
    ).toDF("doc_id", "text")
    val got = Dedup.winnowingDedup(docs).orderBy("doc_id")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L))
    assert(got(1L)._2 == 0)          // first doc claims everything
    assert(got(2L)._2 >= 1)          // guarantee: shared run → shared fp
    assert(got(3L)._2 == 0)          // disjoint vocab shares nothing
    // doc 4 is one window over the shared run: its single fingerprint is
    // already claimed by doc 1 → full saturation and the near-dup flag
    assert(got(4L) == (1L, 1L, 1L))
    assert(got(1L)._3 == 0 && got(3L)._3 == 0)
  }

  test("bm25: per-term arithmetic matches a driver-side reference; " +
    "no-hit docs are excluded; ranks favor tf and brevity") {
    val docs = Seq(
      (1L, "join join join data"),
      (2L, "join " + (1 to 20).map(i => s"pad$i").mkString(" ")),
      (3L, "nothing relevant here")).toDF("doc_id", "text")
    val got = TextAnalysis.bm25(docs, Seq("join"), topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.map(_._1).toSeq == Seq(1L, 2L)) // doc 3 has no hit; 1 beats 2
    assert(got.forall(_._2 == 1L))
    // driver-side reference of the identical formula (N=3, df=2)
    def ref(tf: Long, dl: Long): Double = {
      val idf = math.log((3.0 - 2.0 + 0.5) / (2.0 + 0.5) + 1.0)
      val avgdl = (4.0 + 21.0 + 3.0) / 3.0
      val raw = idf * ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)))
      BigDecimal(raw).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(math.abs(got(0)._3 - ref(3, 4)) < 1e-9)
    assert(math.abs(got(1)._3 - ref(1, 21)) < 1e-9)
  }

  test("pmiCollocations: a perfectly-dependent pair outranks frequent " +
    "independents; sub-minCount pairs are filtered") {
    // "alpha beta" always adjacent (6×); filler tokens are frequent but
    // their adjacencies vary; "rare gem" appears only 3 times (< minCount)
    val docs = (1 to 6).map { i =>
      (i.toLong, s"alpha beta fill$i common$i common${i % 2} fill${i % 3}" +
        (if (i <= 3) " rare gem" else ""))
    }.toDF("doc_id", "text")
    val got = TextAnalysis.pmiCollocations(docs, minCount = 5, topK = 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3)))
    assert(got.nonEmpty)
    assert(got.head._1 == "alpha" && got.head._2 == "beta")
    assert(got.head._3 == 6L)
    assert(!got.exists(p => p._1 == "rare")) // count 3 < minCount 5
    // perfect dependence with c1 = c2 = c12 = 6: pmi = ln(tu²/(tb·6))
    val toks = docs.collect().flatMap(_.getString(1).split(" ")).filter(_.nonEmpty)
    val nTu = toks.length.toDouble
    val nTb = docs.collect().map(_.getString(1).split(" ")
      .count(_.nonEmpty) - 1).sum.toDouble
    val expect = BigDecimal(math.log((6.0 * nTu * nTu) / (nTb * 6.0 * 6.0)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(got.head._4 - expect) < 1e-9)
    // one-partition arm (r16: join-free window tail) must emit the identical table
    val fusedGot = TextAnalysis.pmiCollocations(docs.coalesce(1), minCount = 5,
        topK = 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3)))
    assert(fusedGot.toSeq == got.toSeq)
  }

  test("labelCentroidOutliers: coherent labels have no outliers; an " +
    "anti-aligned vector is flagged") {
    // label 0: four identical vectors → every cosine to the centroid is 1.
    // label 1: three at +2 and one at -1 on the same axis → centroid
    // (0, 1.25, 0, 0): aligned vectors score +1, the anti-aligned one -1 —
    // exactly one outlier, cosine sum 3·1 − 1 = 2.
    val emb = Seq(
      (0L, Array(1f, 0f, 0f, 0f), 0), (1L, Array(1f, 0f, 0f, 0f), 0),
      (2L, Array(1f, 0f, 0f, 0f), 0), (3L, Array(1f, 0f, 0f, 0f), 0),
      (10L, Array(0f, 2f, 0f, 0f), 1), (11L, Array(0f, 2f, 0f, 0f), 1),
      (12L, Array(0f, 2f, 0f, 0f), 1), (13L, Array(0f, -1f, 0f, 0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.labelCentroidOutliers(emb).orderBy("label")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(got.map(t => (t._1, t._2, t._3)) == Seq((0, 4L, 0L), (1, 4L, 1L)))
    assert(math.abs(got(0)._4 - 4.0) < 1e-9) // four exact cos = 1.0000
    assert(math.abs(got(1)._4 - 2.0) < 1e-9)
  }

  test("x93 zipf spectrum: ranks are dense by descending frequency and " +
    "the slope matches a driver-side least-squares reference") {
    import SparkTestSession.sf0001
    val rows = graft.queries.Catalog.queries("x93_zipf_spectrum")(
      spark, sf0001).collect()
    assert(rows.length == 30)
    assert(rows.map(_.getInt(0)).toSeq == (1 to 30))
    val ns = rows.map(_.getLong(2))
    assert(ns.zip(ns.tail).forall { case (a, b) => a >= b })
    // driver-side reference over the FULL vocabulary (the corpus tokens,
    // the same split rule), with the identical 6-decimal log rounding
    val toks = graft.sources.Tables.documents(spark, sf0001).collect()
      .flatMap(_.getAs[String]("text").split(" ")).filter(_.nonEmpty)
    val counts = toks.groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .sortBy { case (t, n) => (-n, t) }
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val pts = counts.zipWithIndex.map { case ((_, n), i) =>
      (r6(math.log(i + 1.0)), r6(math.log(n.toDouble))) }
    val cN = pts.length
    val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
    val sxy = pts.map(p => p._1 * p._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    val expect = BigDecimal(
        (cN * sxy.toDouble - sx.toDouble * sy.toDouble) /
        (cN * sxx.toDouble - sx.toDouble * sx.toDouble))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(rows.map(_.getDouble(3)).distinct.toSeq == Seq(expect))
    assert(expect < 0) // frequencies fall with rank
  }

  test("x95 hybrid search: the blend is exactly the normalized-BM25 / " +
    "cosine average, ordered by it") {
    import SparkTestSession.sf0001
    val hits = graft.queries.Catalog.queries("x90_bm25")(spark, sf0001)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val smax = hits.values.max
    val rows = graft.queries.Catalog.queries("x95_hybrid_search")(
      spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3)))
    assert(rows.nonEmpty && rows.length <= 10)
    for ((id, score, cos, hybrid) <- rows) {
      assert(math.abs(score - hits(id)) < 1e-12) // a bm25 top-50 member
      val expect = BigDecimal(0.5 * (score / smax) + 0.5 * cos)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(hybrid - expect) < 1e-9, s"doc $id blend")
    }
    val hs = rows.map(_._4)
    assert(hs.zip(hs.tail).forall { case (a, b) => a >= b })
  }

  test("qualityGate: the discrete threshold is the ceil(p·n)-th smallest " +
    "score, keep-all floors the rank, and the report is partition-invariant") {
    // 10 docs per source with DISTINCT qualities: vary stopword density
    // ("the" is an en-profile stopword, so en_hits/n drives the score)
    def doc(i: Int) = ((1 to i).map(_ => "the") ++
      (1 to (12 - i)).map(j => s"w$j")).mkString(" ")
    val docs = (1 to 10).flatMap(i =>
      Seq((i.toLong, "sA", doc(i)), (100L + i, "sB", doc(i))))
      .toDF("doc_id", "source", "text")
    val got = TextAnalysis.qualityGate(docs).orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    // expected: rank ⌈0.3·10⌉ = 3 → thr = 3rd smallest quality, kept = 8
    val qs = TextAnalysis.quality(docs.where(col("source") === "sA"))
      .select("quality").collect().map(_.getDouble(0)).sorted
    assert(qs.distinct.length == 10) // the construction really varies them
    assert(got.map(t => (t._1, t._2, t._4)).toSeq ==
      Seq(("sA", 10L, 8L), ("sB", 10L, 8L)))
    assert(got.forall(_._3 == qs(2)))
    // partition invariance and the keep-all edge
    val re = TextAnalysis.qualityGate(docs.repartition(7)).orderBy("source")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getLong(3)))
    assert(re.toSeq == got.toSeq)
    val all = TextAnalysis.qualityGate(docs, keepPermille = 1000)
      .collect().map(_.getLong(3))
    assert(all.forall(_ == 10L))
    intercept[IllegalArgumentException](
      TextAnalysis.qualityGate(docs, keepPermille = 0))
  }

  test("x98 interpolate: dense per-user spine, observed endpoints, and " +
    "every interpolated value bracketed by its observed neighbors") {
    import SparkTestSession.sf0001
    val rows = graft.queries.Catalog.queries("x98_interpolate")(
      spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getDate(1).toLocalDate, r.getDouble(2),
        r.getLong(3)))
    assert(rows.nonEmpty && rows.exists(_._4 == 1L)) // gaps really exist
    val byUser = rows.groupBy(_._1)
    for ((_, rs) <- byUser) {
      val sorted = rs.sortBy(_._2.toEpochDay)
      // dense daily spine with observed endpoints
      assert(sorted.head._4 == 0L && sorted.last._4 == 0L)
      assert(sorted.zip(sorted.tail).forall { case (a, b) =>
        b._2.toEpochDay - a._2.toEpochDay == 1 })
      // each interpolated run is bracketed by its observed neighbors and
      // every value in it lies between them
      var i = 0
      while (i < sorted.length) {
        if (sorted(i)._4 == 1L) {
          val j = sorted.indexWhere(_._4 == 0L, i)
          val (lo, hi) = (sorted(i - 1)._3, sorted(j)._3)
          val (mn, mx) = (math.min(lo, hi), math.max(lo, hi))
          for (k <- i until j)
            assert(sorted(k)._3 >= mn - 1e-9 && sorted(k)._3 <= mx + 1e-9,
              s"interpolated value escapes its bracket at ${sorted(k)}")
          i = j
        } else i += 1
      }
    }
  }

  test("x99 canonical docs: each canonical is its cluster's max-quality, " +
    "min-id member (struct-max ≡ independent reference)") {
    import SparkTestSession.sf0001
    val cl = graft.queries.Catalog.queries("x60_dedup_clusters")(
      spark, sf0001).collect().map(r => r.getLong(0) -> r.getLong(1))
    val q = TextAnalysis.quality(graft.sources.Tables
        .documents(spark, sf0001).where(col("doc_id") < 200))
      .select("doc_id", "quality").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val canon = graft.queries.Catalog.queries("x99_canonical_docs")(
      spark, sf0001).collect()
    assert(canon.nonEmpty)
    for (r <- canon) {
      val members = cl.filter(_._2 == r.getLong(0)).map(_._1)
        .filter(q.contains)
      assert(r.getLong(1) == members.length)
      val best = members.map(id => (q(id), -id)).max
      assert(r.getLong(2) == -best._2, s"cluster ${r.getLong(0)} canonical")
      assert(math.abs(r.getDouble(3) - best._1) < 1e-12)
    }
  }

  test("x100 training pipeline: the funnel is monotone, the gate keeps " +
    "~70% of the deduped population, and the cap binds exactly") {
    import SparkTestSession.sf0001
    val rows = graft.queries.Catalog.queries("x100_training_pipeline")(
      spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.length == 20)
    for ((src, raw, dd, gate, fin, toks) <- rows) {
      assert(raw >= dd && dd >= gate && gate >= fin, s"$src funnel order")
      assert(fin == math.min(12L, gate), s"$src cap")
      assert(toks > 0 == fin > 0, s"$src token totals")
      // discrete-percentile gate: kept = n − rank + 1 bounds (ties can
      // only ADD members at the threshold value)
      assert(gate >= dd - (3 * dd + 9) / 10 + 1 || dd == 0, s"$src gate")
    }
  }

  test("exactPercentiles ≡ separate builtin percentile calls, incl. NULLs, " +
    "single-row groups, and q∈{0,1}") {
    val rng = new scala.util.Random(42)
    val rows = (1 to 500).map { i =>
      val key = s"k${i % 4}"
      val v: java.lang.Double =
        if (i % 37 == 0) null else rng.nextDouble() * 100
      (key, v)
    } :+ (("solo", java.lang.Double.valueOf(7.25)))
    val df = rows.toDF("key", "value")
    val qs = Seq(0.0 -> "p0", 0.01 -> "p01", 0.5 -> "p50", 0.99 -> "p99",
      1.0 -> "p100")
    val got = Relational.exactPercentiles(df, Seq("key"), col("value"), qs)
      .orderBy("key").collect()
      .map(r => (r.getString(0), qs.indices.map(i => r.getDouble(i + 1))))
    val exp = df.groupBy("key")
      .agg(expr("percentile(value, 0.0)"), expr("percentile(value, 0.01)"),
        expr("percentile(value, 0.5)"), expr("percentile(value, 0.99)"),
        expr("percentile(value, 1.0)"))
      .orderBy("key").collect()
      .map(r => (r.getString(0), qs.indices.map(i => r.getDouble(i + 1))))
    // exact double equality: the helper IS the builtin fed in array form,
    // so no ulp tolerance is needed — any drift means the form diverged
    assert(got.toSeq == exp.toSeq)
  }

  test("groupCaps: kept counts respect the cap, dropped is the remainder, " +
    "and the report is partition-invariant") {
    val docs = ((1 to 30).map(i => (i.toLong, "big")) ++
      (31 to 40).map(i => (i.toLong, "small")))
      .toDF("doc_id", "source")
    def report(df: org.apache.spark.sql.DataFrame) =
      Relational.groupCaps(df, "source", "doc_id", cap = 20)
        .orderBy("source")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSeq
    val got = report(docs)
    assert(got == Seq(("big", 30L, 20L, 10L), ("small", 10L, 10L, 0L)))
    assert(report(docs.repartition(7)) == got)
    intercept[IllegalArgumentException](
      Relational.groupCaps(docs, "source", "doc_id", cap = -1))
  }

  test("smallestK/largestK: bounded top-k aggregate semantics") {
    val df = Seq(5L, 3L, 9L, 1L, 7L).toDF("v")
    val small = df.agg(Relational.smallestK(col("v"), 3).as("t"))
      .head.getSeq[Long](0)
    assert(small == Seq(1L, 3L, 5L), s"smallestK ascending: $small")
    val large = df.agg(Relational.largestK(col("v"), 3).as("t"))
      .head.getSeq[Long](0)
    assert(large == Seq(9L, 7L, 5L), s"largestK descending: $large")
    // group smaller than k -> every member, still sorted
    val all = df.agg(Relational.smallestK(col("v"), 10).as("t"))
      .head.getSeq[Long](0)
    assert(all == Seq(1L, 3L, 5L, 7L, 9L))
    // NULL children are ignored (Collect semantics): when() is a filter
    val gated = df.agg(Relational.smallestK(
        when(col("v") > 3L, col("v")), 2).as("t"))
      .head.getSeq[Long](0)
    assert(gated == Seq(5L, 7L))
  }

  test("smallestK: struct selection matches the ranking window at any partitioning") {
    // 3 groups x 200 rows, selection key = (knuth hash, id) like the cap
    // draw; payload rides in the struct's tail and never affects selection
    val rows = for (g <- Seq("a", "b", "c"); i <- 0L until 200L) yield
      (g, i * 3 + g.hashCode.abs % 3, (i % 17) + 1)
    val df = rows.toDF("g", "id", "toks")
      .withColumn("h", (col("id") * 2654435761L) % 1000000007L)
    def viaHeap(parts: Int) = df.repartition(parts)
      .groupBy("g")
      .agg(Relational.smallestK(
        struct(col("h"), col("id"), col("toks")), 12).as("top"))
      .select(col("g"), expr("transform(top, x -> x.id)").as("ids"),
        expr("aggregate(top, 0L, (a, x) -> a + x.toks)").as("tok_sum"))
      .orderBy("g")
      .collect().map(r => (r.getString(0), r.getSeq[Long](1), r.getLong(2)))
      .toSeq
    val viaWindow = Relational.topKPerGroup(
        df, Seq("g"), Seq(col("h"), col("id")), 12)
      .groupBy("g")
      .agg(sort_array(collect_list(struct(col("rn"), col("id")))).as("o"),
        sum("toks").as("tok_sum"))
      .select(col("g"), expr("transform(o, x -> x.id)").as("ids"),
        col("tok_sum"))
      .orderBy("g")
      .collect().map(r => (r.getString(0), r.getSeq[Long](1), r.getLong(2)))
      .toSeq
    assert(viaHeap(1) == viaWindow)
    assert(viaHeap(13) == viaWindow) // partial-merge across partitions
  }
}
