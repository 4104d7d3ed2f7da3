package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.DataFrame

import graft.pipeline.{IncrementalCuration, IncrementalDedup}

/** Cross-batch exact dedup over a persistent digest history: within-batch
  * keep-first, cross-batch anti-join, and the retry contract (re-running a
  * batch returns the identical survivor set — the naive append design
  * returns the empty set on redelivery). */
class IncrementalDedupSpec extends AnyFunSuite {
  import SparkTestSession.{atScale, routes, spark}
  import spark.implicits._

  test("within-batch keep-first, cross-batch exclusion, idempotent retry") {
    val hist = Files.createTempDirectory("graft_dedup_hist").toString + "/h"

    // batch 1: an internal dup (doc 30 repeats doc 10's text)
    val b1 = Seq((10L, "alpha text", "m1"), (20L, "beta text", "m2"),
      (30L, "alpha text", "m3")).toDF("doc_id", "text", "meta")
    val s1 = IncrementalDedup.dedupBatch(b1, hist, "b1")
    assert(s1.columns.toSeq == Seq("doc_id", "text", "meta"))
    assert(s1.select("doc_id").as[Long].collect().sorted.toSeq ==
      Seq(10L, 20L))

    // batch 2: one cross-batch dup (doc 40 repeats doc 20), one fresh
    val b2 = Seq((40L, "beta text", "m4"), (50L, "gamma text", "m5"))
      .toDF("doc_id", "text", "meta")
    val s2 = IncrementalDedup.dedupBatch(b2, hist, "b2")
    assert(s2.select("doc_id").as[Long].collect().toSeq == Seq(50L))

    // retry batch 2: its own earlier digests must NOT suppress it
    val s2r = IncrementalDedup.dedupBatch(b2, hist, "b2")
    assert(s2r.select("doc_id").as[Long].collect().toSeq == Seq(50L),
      "a retried batch must return its original survivors, not ∅")
    // and the history holds exactly one digest row per survivor ever kept
    assert(spark.read.parquet(hist).count() == 3)

    // batch 3: everything already seen somewhere → empty survivors
    val b3 = Seq((60L, "alpha text", "m6"), (70L, "gamma text", "m7"))
      .toDF("doc_id", "text", "meta")
    assert(IncrementalDedup.dedupBatch(b3, hist, "b3").count() == 0)
    // an all-dup batch leaves no partition behind (nothing fresh to record)
    assert(spark.read.parquet(hist).count() == 3)
  }

  test("nearDupBatch: signature history, within-batch greedy drop, " +
    "cross-batch drop, token-free passthrough, idempotent retry") {
    val hist = Files.createTempDirectory("graft_sig_hist").toString + "/h"

    val b1 = Seq(
      (10L, "alpha beta gamma delta"),
      (20L, "omega psi chi phi"),
      (30L, "alpha beta gamma delta") // est 1.0 vs 10 → greedy drop
    ).toDF("doc_id", "text")
    val s1 = IncrementalDedup.nearDupBatch(b1, hist, "b1", 0.9)
    assert(s1.select("doc_id").as[Long].collect().sorted.toSeq ==
      Seq(10L, 20L))
    assert(spark.read.parquet(hist).count() == 2) // distinct survivor sigs

    val b2 = Seq(
      (40L, "omega psi chi phi"),     // est 1.0 vs batch-1 survivor 20
      (50L, "entirely novel token stream"),
      (60L, "   ")                    // token-free: no signature, survives
    ).toDF("doc_id", "text")
    val s2 = IncrementalDedup.nearDupBatch(b2, hist, "b2", 0.9)
    assert(s2.select("doc_id").as[Long].collect().sorted.toSeq ==
      Seq(50L, 60L))

    // retry: own signatures must not suppress the batch
    val s2r = IncrementalDedup.nearDupBatch(b2, hist, "b2", 0.9)
    assert(s2r.select("doc_id").as[Long].collect().sorted.toSeq ==
      Seq(50L, 60L))
    assert(spark.read.parquet(hist).count() == 3)
  }

  test("winnowBatch: fingerprint history, within-batch saturation drop, " +
    "cross-batch drop, short-doc passthrough, idempotent retry") {
    val hist = Files.createTempDirectory("graft_fp_hist").toString + "/h"
    // 12 tokens ⇒ 5 windows of k-grams, every copy fully saturates
    val runA = (1 to 12).map(i => s"a$i").mkString(" ")
    val runB = (1 to 12).map(i => s"b$i").mkString(" ")

    val b1 = Seq(
      (10L, runA),
      (20L, runB),
      (30L, runA),          // full saturation vs 10 → dropped
      (40L, "too short")    // < k+w-1 tokens: no fingerprints, survives
    ).toDF("doc_id", "text")
    val s1 = IncrementalDedup.winnowBatch(b1, hist, "b1")
    assert(s1.select("doc_id").as[Long].collect().sorted.toSeq ==
      Seq(10L, 20L, 40L))
    val histFps = spark.read.parquet(hist).count()
    assert(histFps > 0) // survivors' distinct fingerprints recorded

    val b2 = Seq(
      (50L, runB),                                       // cross-batch dup
      (60L, (1 to 12).map(i => s"c$i").mkString(" ")))   // novel
      .toDF("doc_id", "text")
    val s2 = IncrementalDedup.winnowBatch(b2, hist, "b2")
    assert(s2.select("doc_id").as[Long].collect().toSeq == Seq(60L))

    // a doc sharing only HALF its content does not reach the 80% bar:
    // first half = runA (claimed), second half novel
    val b3 = Seq(
      (70L, runA + " " + (1 to 12).map(i => s"d$i").mkString(" ")))
      .toDF("doc_id", "text")
    val s3 = IncrementalDedup.winnowBatch(b3, hist, "b3")
    assert(s3.select("doc_id").as[Long].collect().toSeq == Seq(70L))

    // retry: own fingerprints must not suppress the batch
    val s2r = IncrementalDedup.winnowBatch(b2, hist, "b2")
    assert(s2r.select("doc_id").as[Long].collect().toSeq == Seq(60L))
  }

  test("passageBatch: chunk-digest history, within-batch full-copy drop, " +
    "cross-batch drop, half-overlap passthrough, token-free passthrough, " +
    "idempotent retry") {
    val hist = Files.createTempDirectory("graft_pg_hist").toString + "/h"
    def run(p: String) = (1 to 30).map(i => s"$p$i").mkString(" ")
    val (w1, w2, w3, w4) = (run("p"), run("q"), run("r"), run("s"))

    val b1 = Seq(
      (10L, s"$w1 $w2"),  // two chunks, both fresh
      (20L, s"$w3 $w4"),  // novel
      (30L, s"$w1 $w2"),  // full within-batch copy of 10 → dropped
      (40L, "   ")        // token-free: no chunks, survives
    ).toDF("doc_id", "text")
    val s1 = IncrementalDedup.passageBatch(b1, hist, "b1")
    assert(s1.select("doc_id").as[Long].collect().sorted.toSeq ==
      Seq(10L, 20L, 40L))
    assert(spark.read.parquet(hist).count() == 4) // 4 distinct survivor chunks

    val b2 = Seq(
      (50L, s"$w3 $w4"),          // cross-batch full dup → dropped
      (60L, s"${run("t")} ${run("u")}")) // novel
      .toDF("doc_id", "text")
    val s2 = IncrementalDedup.passageBatch(b2, hist, "b2")
    assert(s2.select("doc_id").as[Long].collect().toSeq == Seq(60L))

    // half overlap (1 of 2 chunks claimed) stays under dupFrac = 0.8
    val b3 = Seq((70L, s"$w1 ${run("v")}")).toDF("doc_id", "text")
    val s3 = IncrementalDedup.passageBatch(b3, hist, "b3")
    assert(s3.select("doc_id").as[Long].collect().toSeq == Seq(70L))

    // retry: own chunk digests must not suppress the batch
    val s2r = IncrementalDedup.passageBatch(b2, hist, "b2")
    assert(s2r.select("doc_id").as[Long].collect().toSeq == Seq(60L))
  }

  /** A first batch that records no state rows leaves a history dir holding
    * only `_SUCCESS`; the next batch must still read it and keep exactly
    * its survivors. Each case: (test name, tier over (batch, history path,
    * batch id), first batch, its survivors, next batch, its survivors);
    * batches are (doc_id, text) rows of source s1. */
  private val bootstrapCases: Seq[(String, (DataFrame, String, String) => DataFrame,
      Seq[(Long, String)], Seq[Long], Seq[(Long, String)], Seq[Long])] = {
    val w = (1 to 30).map(i => s"c$i").mkString(" ")
    val runC = (1 to 12).map(i => s"c$i").mkString(" ")
    Seq(
      ("passageBatch bootstrap: a token-free first batch leaves a " +
        "data-free history dir the next batch must still read",
        IncrementalDedup.passageBatch(_, _, _),
        Seq(10L -> "   ", 20L -> " "), Seq(10L, 20L),
        Seq(30L -> w, 40L -> w), Seq(30L)),
      // every doc under k+w-1 = 8 tokens: zero fingerprints pinned
      ("winnowBatch bootstrap: an all-short first batch leaves a data-free " +
        "history dir the next batch must still read",
        IncrementalDedup.winnowBatch(_, _, _),
        Seq(10L -> "too short", 20L -> "also brief"), Seq(10L, 20L),
        Seq(30L -> runC, 40L -> runC), Seq(30L)),
      ("dedupBatch bootstrap: an empty first batch leaves a data-free " +
        "history dir the next batch must still read",
        IncrementalDedup.dedupBatch(_, _, _),
        Nil, Nil, Seq(30L -> w, 40L -> w), Seq(30L)),
      ("nearDupBatch bootstrap: a token-free first batch leaves a " +
        "data-free history dir the next batch must still read",
        IncrementalDedup.nearDupBatch(_, _, _),
        Seq(10L -> "   ", 20L -> " "), Seq(10L, 20L),
        Seq(30L -> w, 40L -> w), Seq(30L)),
      ("curateBatch bootstrap: an empty first batch leaves data-free digest " +
        "and count dirs the next batch must still read",
        (b, h, id) => IncrementalCuration.curateBatch(b, h, id,
          Seq(("s1", 0.5)).toDF("source", "thr"), 5),
        Nil, Nil,
        Seq(30L -> "the dog of peace", 40L -> "the dog of peace"), Seq(30L)))
  }

  for ((name, tier, first, firstKept, next, nextKept) <- bootstrapCases)
    test(name) {
      val hist = Files.createTempDirectory("graft_boot").toString + "/h"
      def kept(rows: Seq[(Long, String)], batchId: String) = tier(
          rows.map { case (id, t) => (id, "s1", t) }
            .toDF("doc_id", "source", "text"), hist, batchId)
        .select("doc_id").as[Long].collect().sorted.toSeq
      assert(kept(first, "b1") == firstKept)
      assert(kept(next, "b2") == nextKept) // must not throw
    }

  test("dupFrac boundary is exact-rational, not IEEE: a doc with exactly " +
    "claimed/total == dupFrac drops even where the double product rounds up") {
    // 100 × 0.55 computes as 55.000000000000007 in doubles, so the naive
    // `claimed >= total * dupFrac` KEEPS a doc sitting exactly on the
    // 55/100 boundary; the cross-multiplied integer compare (55·100 ≥
    // 100·55) drops it, matching the rational the caller typed (r6 advice).
    val hist = Files.createTempDirectory("graft_pg_bnd").toString + "/h"
    def run(p: String) = (1 to 30).map(i => s"$p$i").mkString(" ")
    val claimedChunks = (1 to 55).map(i => run(s"c$i"))
    val freshChunks = (1 to 45).map(i => run(s"f$i"))
    val b1 = Seq((10L, claimedChunks.mkString(" "))).toDF("doc_id", "text")
    IncrementalDedup.passageBatch(b1, hist, "b1", dupFrac = 0.55)
    // doc 20: 100 chunks, 55 already claimed by batch 1 → exactly on 0.55
    val b2 = Seq((20L, (claimedChunks ++ freshChunks).mkString(" ")))
      .toDF("doc_id", "text")
    val s2 = IncrementalDedup.passageBatch(b2, hist, "b2", dupFrac = 0.55)
    assert(s2.count() == 0L, "boundary doc must drop under exact compare")
  }

  test("semanticBatch: within-batch keep-lowest-id, cross-batch claim by " +
    "KEPT history vectors, pinned centroids, null passthrough, " +
    "idempotent retry") {
    import org.apache.spark.sql.functions.col
    val hist = Files.createTempDirectory("graft_sem_hist").toString + "/h"
    val cents = Seq((0L, Array(1f, 0f, 0f, 0f)), (1L, Array(0f, 1f, 0f, 0f)))
      .toDF("cid", "cv")
    val b1 = Seq(
      (10L, Array(1f, 0f, 0f, 0f)),     // cell 0, kept
      (11L, Array(0.99f, 0.1f, 0f, 0f)), // cos(10,11) ≈ 0.995 → dropped
      (12L, Array(0f, 1f, 0f, 0f)))     // cell 1, kept
      .toDF("vec_id", "embedding")
    val (s1, s1Route) = routes("semanticClaimedIds")(
      IncrementalDedup.semanticBatch(b1, hist, "b1", cents, 0.95))
    assert(s1.select("vec_id").as[Long].collect().sorted.toSeq ==
      Seq(10L, 12L))
    assert(s1Route == Seq("kernel"))
    assert(spark.read.parquet(s"$hist/vectors").count() == 2) // survivors only

    val b2 = Seq(
      (20L, Array(0.98f, 0.05f, 0.05f, 0f)), // ≈ kept 10 → dropped
      (21L, Array(0f, 0.9f, 0.4f, 0f)),      // cos vs 12 ≈ 0.914 < 0.95 → kept
      (22L, Array(0f, 0.95f, 0.3f, 0f)),     // cos vs 12 ≈ 0.954 → dropped
      (23L, null.asInstanceOf[Array[Float]])) // no signal: passes through
      .toDF("vec_id", "embedding")
    // DIFFERENT cents argument: must be ignored — the cell space was
    // pinned at bootstrap, so the claims still resolve against b1's cells
    val otherCents = Seq((0L, Array(0f, 0f, 1f, 0f))).toDF("cid", "cv")
    val s2 = IncrementalDedup.semanticBatch(b2, hist, "b2", otherCents, 0.95)
    assert(s2.select("vec_id").as[Long].collect().sorted.toSeq ==
      Seq(21L, 23L))
    // state: b1's two survivors + b2's one embedded survivor (23 has no
    // vector to persist)
    assert(spark.read.parquet(s"$hist/vectors").count() == 3)

    // retry: redelivered b2 reproduces the original survivor set
    val s2r = IncrementalDedup.semanticBatch(b2, hist, "b2", otherCents, 0.95)
    assert(s2r.select("vec_id").as[Long].collect().sorted.toSeq ==
      Seq(21L, 23L))
    assert(spark.read.parquet(s"$hist/vectors").count() == 3)
  }

  test("semanticBatch on sf0.001 embeddings: the kernel and salted-join " +
    "claim routes keep identical survivors and vectors state over three " +
    "batches and a re-delivery") {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val emb = spark.read.parquet(s"${SparkTestSession.sf0001}/embeddings.parquet")
    val cents = emb.where(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))
    def run() = routes("semanticClaimedIds") {
      val hist = Files.createTempDirectory("graft_sem_sf").toString + "/h"
      val kept = Seq(0, 1, 2, 2).map { k =>
        IncrementalDedup.semanticBatch(emb.where(pmod(col("vec_id"), lit(3)) === k),
            hist, s"b$k", cents, 0.4)
          .select("vec_id").as[Long].collect().sorted.toSeq
      }
      val vectors = spark.read.parquet(s"$hist/vectors")
        .select("batch", "vec_id", "cell", "v")
        .as[(String, Long, Long, Seq[Double])].collect().sortBy(r => (r._1, r._2))
        .toSeq
      (kept, vectors)
    }
    val ((kept, vectors), kernelRoutes) = run()
    val (atScaleRun, joinRoutes) = atScale(run())
    assert(kernelRoutes.toSet == Set("kernel") && kernelRoutes.size == 4)
    assert(joinRoutes.toSet == Set("join") && joinRoutes.size == 4)
    assert(atScaleRun == ((kept, vectors)))
    assert(kept(3) == kept(2), "the re-delivered batch keeps its survivors")
    val inputs = (0 until 3).map(k =>
      emb.where(pmod(col("vec_id"), lit(3)) === k).count())
    assert(kept.take(3).map(_.size.toLong).zip(inputs).forall { case (s, n) => s < n },
      "every batch drops some vectors")
    assert(vectors.map(_._2).sorted == kept.take(3).flatten.sorted,
      "the state holds each batch's survivors once")
  }

  test("semanticClaimedIds: kernel route ≡ salted join route, history " +
    "outranks batch, zero-norm NaN counts as a hit") {
    import org.apache.spark.sql.functions.col
    val cells = Seq(
      // cell 0: history vec claims batch 5 (identical); batch 6 far
      (0L, 0, 1L, Array(1.0, 0.0)),
      (0L, 1, 5L, Array(1.0, 0.01)),
      (0L, 1, 6L, Array(-1.0, 0.2)),
      // cell 1: no history; batch keep-lowest-id (7 claims 8); 9 zero-norm
      // NaN cosine → dropped on both routes
      (1L, 1, 7L, Array(0.0, 1.0)),
      (1L, 1, 8L, Array(0.01, 1.0)),
      (1L, 1, 9L, Array(0.0, 0.0)))
      .toDF("cell", "tag", "vec_id", "v")
    def ids() = routes("semanticClaimedIds")(
      graft.operators.Dedup.semanticClaimedIds(cells, 0.95)
        .as[Long].collect().sorted.toSeq)
    val (kernel, kernelRoute) = ids()
    assert(kernelRoute == Seq("kernel"))
    val (join, joinRoute) = atScale(ids())
    assert(joinRoute == Seq("join"))
    assert(kernel == Seq(5L, 8L, 9L))
    assert(join == kernel)
  }
}
