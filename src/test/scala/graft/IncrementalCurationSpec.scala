package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.IncrementalCuration

/** Cross-batch curation composite (dedup → offline-threshold gate →
  * persistent per-source caps): stage interplay, budget exhaustion across
  * batches, the unknown-source/token-free gate population rules, and the
  * retry contract — a redelivered batch reproduces its original survivor
  * set across ALL THREE stages (digest claims and kept-counts both
  * partition-pruned against the writer's own batch).
  *
  * Quality arithmetic used to pick fixtures (TextAnalysis.qualityScore,
  * en stopwords the/a/of/and/to/is): a 4-token doc with 2 stopword hits
  * scores round(1/(1+exp(-(0.2·ln5 + 2·(2/4) − 1))),4) = 0.5798; with 0
  * hits 0.3367 — so thr 0.5 cleanly splits them. Knuth draw order
  * h(id) = (id·2654435761) mod 1000000007: h(14)=162100395 <
  * h(13)=507664655 < h(10)=544357428; h(20)=88714849 < h(22)=397586336. */
class IncrementalCurationSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  private def thr(rows: (String, Double)*) = rows.toDF("source", "thr")

  private def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.select("doc_id").as[Long].collect().sorted.toSeq

  test("dedup → gate → caps across batches, budget exhaustion, " +
    "idempotent retry at every stage") {
    val hist = Files.createTempDirectory("graft_cur_hist").toString + "/h"
    val th = thr("s1" -> 0.5)

    val b1 = Seq(
      (10L, "s1", "the cat of war", "m10"),  // q 0.5798, h 544357428
      (11L, "s1", "the cat of war", "m11"),  // exact dup of 10 → stage 1
      (12L, "s1", "zz yy xx ww", "m12"),     // q 0.3367 < 0.5 → stage 2
      (13L, "s1", "the dog of peace", "m13"),// q 0.5798, h 507664655
      (14L, "s1", "the owl of night", "m14") // q 0.5798, h 162100395
    ).toDF("doc_id", "source", "text", "meta")
    val s1 = IncrementalCuration.curateBatch(b1, hist, "b1", th,
      capPerSource = 2)
    assert(s1.columns.toSeq == Seq("doc_id", "source", "text", "meta"),
      "survivors carry ALL input columns")
    // cap 2 binds: three gated candidates, keep the two smallest draws
    assert(ids(s1) == Seq(13L, 14L))
    // state: digest history = stage-1 survivors (4 texts), counts = (s1, 2)
    assert(spark.read.parquet(s"$hist/digests").count() == 4)
    val counts = spark.read.parquet(s"$hist/source_counts")
      .select("source", "n_kept").as[(String, Long)].collect().toSeq
    assert(counts == Seq(("s1", 2L)))

    val b2 = Seq(
      (20L, "s1", "the fox of dawn", "m20"), // gated in, but budget = 0
      (21L, "s1", "the cat of war", "m21")   // cross-batch dup → stage 1
    ).toDF("doc_id", "source", "text", "meta")
    val s2 = IncrementalCuration.curateBatch(b2, hist, "b2", th,
      capPerSource = 2)
    assert(ids(s2) == Seq(), "s1's budget was exhausted by batch 1")

    // retry batch 2: own claims/counts must not change the outcome
    val s2r = IncrementalCuration.curateBatch(b2, hist, "b2", th,
      capPerSource = 2)
    assert(ids(s2r) == Seq())
    // retry batch 1 semantics check via state: counts still exactly (s1, 2)
    val counts2 = spark.read.parquet(s"$hist/source_counts")
      .groupBy("source").sum("n_kept").as[(String, Long)].collect().toSeq
    assert(counts2 == Seq(("s1", 2L)),
      "an empty-keep batch must not append count rows")
  }

  test("partial remaining budget: later batch draws only up to the " +
    "source's remaining slots, deterministically") {
    val hist = Files.createTempDirectory("graft_cur_hist2").toString + "/h"
    val th = thr("s1" -> 0.5)
    val b1 = Seq(
      (13L, "s1", "the dog of peace", "m"),
      (14L, "s1", "the owl of night", "m")
    ).toDF("doc_id", "source", "text", "meta")
    assert(ids(IncrementalCuration.curateBatch(b1, hist, "b1", th, 3))
      == Seq(13L, 14L))
    val b2 = Seq(
      (20L, "s1", "the fox of dawn", "m"), // h 88714849 → wins the 1 slot
      (22L, "s1", "the elk of dusk", "m")  // h 397586336
    ).toDF("doc_id", "source", "text", "meta")
    val s2 = IncrementalCuration.curateBatch(b2, hist, "b2", th, 3)
    assert(ids(s2) == Seq(20L))
    // retry reproduces the draw
    assert(ids(IncrementalCuration.curateBatch(b2, hist, "b2", th, 3))
      == Seq(20L))
    assert(spark.read.parquet(s"$hist/source_counts")
      .groupBy("source").sum("n_kept").as[(String, Long)]
      .collect().toSeq == Seq(("s1", 3L)))
  }

  test("injected near-dup stage: passageBatch as stage 1 drops a " +
    "chunk-level near-dup that exact md5 would keep; cap still binds") {
    val hist = Files.createTempDirectory("graft_cur_hist_p").toString + "/h"
    val th = thr("s1" -> 0.5)
    val passage = (b: org.apache.spark.sql.DataFrame, hp: String, bid: String) =>
      graft.pipeline.IncrementalDedup.passageBatch(b, hp, bid,
        chunkTokens = 4, dupFrac = 0.5)
    // A: two 4-token chunks, q 0.608 ≥ 0.5
    val b1 = Seq((10L, "s1", "the cat of war the dog of peace", "mA"))
      .toDF("doc_id", "source", "text", "meta")
    assert(ids(IncrementalCuration.curateBatch(b1, hist, "b1", th, 1,
      dedupStage = passage)) == Seq(10L))
    val b2 = Seq(
      // B: repeats A's first chunk + 4 fresh tokens → 1/2 chunks claimed
      // = dupFrac → dropped at stage 1 DESPITE a distinct md5
      (20L, "s1", "the cat of war xx yy zz ww", "mB"),
      // C: fresh chunks, q 0.608 — passes the gate but s1's budget is 0
      (21L, "s1", "the owl of night the elk of dusk", "mC")
    ).toDF("doc_id", "source", "text", "meta")
    val s2 = IncrementalCuration.curateBatch(b2, hist, "b2", th, 1,
      dedupStage = passage)
    assert(ids(s2) == Seq())
    // retry contract holds through the injected stage too
    assert(ids(IncrementalCuration.curateBatch(b2, hist, "b2", th, 1,
      dedupStage = passage)) == Seq())
    // the injected tier's state lives under the tier-neutral /dedup
    assert(new java.io.File(s"$hist/dedup").isDirectory)
    assert(!new java.io.File(s"$hist/digests").exists())
  }

  test("survivor set is invariant to input partitioning and row order " +
    "(the determinism behind min-digest keep-first, the Knuth draw and " +
    "the heap selection)") {
    import org.apache.spark.sql.functions.col
    // 60 docs, 3 sources, dup classes (id % 10 == 0 repeats id 10's
    // text per source), stopword-varied quality
    val docs = (1 to 60).map { i =>
      val stops = Seq("the", "a", "of", "and").take(i % 5)
      val text =
        if (i % 10 == 0) "the shared duplicate body of text"
        else (stops ++ (1 to (6 - stops.size)).map(j => s"w${i}x$j"))
          .mkString(" ")
      (i.toLong, s"s${i % 3}", text, s"m$i")
    }.toDF("doc_id", "source", "text", "meta")
    val th = graft.functions.TextAnalysis.discreteThreshold(
      graft.functions.TextAnalysis.quality(docs)
        .join(docs.select("doc_id", "source"), "doc_id")
        .select(col("doc_id"), col("source"), col("quality")), 300)
    val h1 = Files.createTempDirectory("graft_cur_inv1").toString + "/h"
    val h2 = Files.createTempDirectory("graft_cur_inv2").toString + "/h"
    val a = ids(IncrementalCuration.curateBatch(
      docs.repartition(7, col("meta")), h1, "b", th, 5))
    val b = ids(IncrementalCuration.curateBatch(
      docs.orderBy(col("doc_id").desc).coalesce(1), h2, "b", th, 5))
    assert(a == b, "partitioning/order must not change the survivor set")
    assert(a.nonEmpty && a.size <= 15, "cap 5 × 3 sources bounds the keep")
  }

  test("threshold refresh between batches: new thresholds govern new " +
    "batches only; claims, kept-counts and redelivery are unaffected " +
    "(VERDICT r9 directive 5)") {
    val hist = Files.createTempDirectory("graft_cur_thr").toString + "/h"
    val th1 = thr("s1" -> 0.5)          // original reference distribution
    val th2 = thr("s1" -> 0.9)          // quarterly refresh, stricter
    val b1 = Seq(
      (13L, "s1", "the dog of peace", "m"),
      (14L, "s1", "the owl of night", "m")
    ).toDF("doc_id", "source", "text", "meta")
    assert(ids(IncrementalCuration.curateBatch(b1, hist, "b1", th1, 5))
      == Seq(13L, 14L))
    // the swap: b2 is delivered under th2. Its q-0.5798 doc now fails the
    // gate even though budget remains; the dup is still a dup (claims are
    // score-free); a 600-stopword doc (q 0.9072 ≥ 0.9) clears the new bar
    val b2 = Seq(
      (20L, "s1", "the fox of dawn", "m"),
      (21L, "s1", "the dog of peace", "m"),
      (25L, "s1", Seq.fill(600)("the").mkString(" "), "m")
    ).toDF("doc_id", "source", "text", "meta")
    assert(ids(IncrementalCuration.curateBatch(b2, hist, "b2", th2, 5))
      == Seq(25L))
    // the refresh never reopens past batches: counts are untouched by the
    // swap itself, and b1 REDELIVERED WITH ITS ORIGINAL thresholds (the
    // caller's duty — thresholds are part of the delivery identity)
    // reproduces its survivor set exactly
    assert(ids(IncrementalCuration.curateBatch(b1, hist, "b1", th1, 5))
      == Seq(13L, 14L))
    assert(spark.read.parquet(s"$hist/source_counts")
      .groupBy("source").sum("n_kept").as[(String, Long)]
      .collect().toSeq == Seq(("s1", 3L)))
  }

  test("funnel report: per-source raw→deduped→gated→kept counts land " +
    "under the batch's report partition; redelivery rewrites it " +
    "idempotently (VERDICT r9 stretch 8)") {
    val hist = Files.createTempDirectory("graft_cur_rep").toString + "/h"
    val rep = s"$hist/report"
    val th = thr("s1" -> 0.5, "s2" -> 0.5)
    // s1: 5 raw → 4 deduped (11 dups 10) → 3 gated (12 low-q) → 2 kept
    // (cap); s2: 1 raw → 1 deduped → 0 gated → 0 kept
    val b1 = Seq(
      (10L, "s1", "the cat of war", "m"),
      (11L, "s1", "the cat of war", "m"),
      (12L, "s1", "zz yy xx ww", "m"),
      (13L, "s1", "the dog of peace", "m"),
      (14L, "s1", "the owl of night", "m"),
      (15L, "s2", "qq ww ee rr", "m")
    ).toDF("doc_id", "source", "text", "meta")
    import org.apache.spark.sql.functions.col
    def funnel(batch: String) = spark.read.parquet(rep)
      .where(col("batch") === batch)
      .select("source", "n_raw", "n_deduped", "n_gated", "n_kept")
      .as[(String, Long, Long, Long, Long)].collect().sorted.toSeq
    assert(IncrementalCuration.curateBatch(b1, hist, "b1", th, 2,
      reportPath = rep).count() == 2)
    val expected = Seq(("s1", 5L, 4L, 3L, 2L), ("s2", 1L, 1L, 0L, 0L))
    assert(funnel("b1") == expected)
    // redelivery: same survivor set, same report — the report partition
    // is rewritten, not appended
    assert(IncrementalCuration.curateBatch(b1, hist, "b1", th, 2,
      reportPath = rep).count() == 2)
    assert(funnel("b1") == expected)
    // a later batch reports its own funnel beside b1's: dup consumed at
    // stage 1, survivor blocked by the exhausted cap
    val b2 = Seq(
      (20L, "s1", "the fox of dawn", "m"),
      (21L, "s1", "the cat of war", "m")
    ).toDF("doc_id", "source", "text", "meta")
    assert(IncrementalCuration.curateBatch(b2, hist, "b2", th, 2,
      reportPath = rep).count() == 0)
    assert(funnel("b2") == Seq(("s1", 2L, 1L, 1L, 0L)))
    assert(funnel("b1") == expected, "b2's write must not touch b1's partition")
  }

  test("a small batch writes one file per batch partition of its digest, " +
    "count and report tables") {
    val hist = Files.createTempDirectory("graft_cur_files").toString + "/h"
    val rep = s"$hist/report"
    // 40 distinct docs over 8 sources: each table's rows hash to every one
    // of the session's shuffle partitions
    val b1 = (0 until 40).map(i =>
      (i.toLong, s"s${i % 8}", s"the cat of war $i", "m")
    ).toDF("doc_id", "source", "text", "meta")
    assert(IncrementalCuration.curateBatch(b1, hist, "b1", thr("s0" -> 0.0), 2,
      reportPath = rep).count() == 16)
    def files(table: String) = new java.io.File(s"$table/batch=b1").listFiles()
      .count(_.getName.startsWith("part-"))
    assert(Seq("digests", "source_counts", "report").map(t => files(s"$hist/$t")) ==
      Seq(1, 1, 1))
  }

  test("gate population rules: unknown source passes at default −∞, " +
    "is quarantined at MaxValue; token-free docs drop") {
    val hist = Files.createTempDirectory("graft_cur_hist3").toString + "/h"
    val th = thr("s1" -> 0.5)
    val b = Seq(
      (30L, "sX", "qq ww ee rr", "m30"), // unknown source, q 0.3367
      (31L, "sX", "   ", "m31")          // token-free: no quality signal
    ).toDF("doc_id", "source", "text", "meta")
    assert(ids(IncrementalCuration.curateBatch(b, hist, "b1", th, 5))
      == Seq(30L))
    val hist2 = Files.createTempDirectory("graft_cur_hist4").toString + "/h"
    assert(ids(IncrementalCuration.curateBatch(b, hist2, "b1", th, 5,
      defaultThr = Double.MaxValue)) == Seq())
  }
}
