package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.tagobjects.Slow

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Clusters, Dedup}

/** 10× scale smoke for the dedup tier (round-3/4 verdict carry-over): the
  * sf0.1 bench corpus is ~5k documents; these tests run the same operators
  * at 10k → 100k documents and assert the runtime grows near-linearly —
  * a quadratic regression (all-pairs leak, posting-list blowup) shows up as
  * a ≥100× step and fails the generous 30× bound loudly. Also the first
  * at-scale execution of x20's windowed fallback path, which until now had
  * correctness specs only.
  *
  * Corpus construction note: a LARGE corpus with a BOUNDED shingle
  * vocabulary necessarily repeats shingles across documents, so the natural
  * at-scale-under-the-cap corpus is dup-class-shaped (disjoint 30-token
  * windows over a shared token stream, each window copied k times) — which
  * is exactly the regime the signature-grouping/prefix designs target.
  */
class DedupScaleSpec extends AnyFunSuite {
  import SparkTestSession.{atScale, spark}
  import spark.implicits._

  /** `nWindows` disjoint 30-token windows (stride 40 over a shared stream,
    * so distinct windows share no shingle), each duplicated `copies` times. */
  private def dupCorpus(nWindows: Int, copies: Int, seed: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val stream = Array.fill(nWindows * 40)(s"w${rnd.nextInt(1 << 30)}")
    val texts = (0 until nWindows)
      .map(i => stream.slice(i * 40, i * 40 + 30).mkString(" "))
    (0 until nWindows * copies).map(i => (i.toLong, texts(i % nWindows)))
      .toDF("doc_id", "text")
  }

  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  test("minhash near-dup scales near-linearly 10k → 100k docs", Slow) {
    def run(nWindows: Int, seed: Int): (Long, Double) = {
      val docs = dupCorpus(nWindows, 20, seed)
      timed(Dedup.minhashNearDupPairs(docs, 0.9).count())
    }
    run(100, 1) // warm-up: JIT + codegen for the whole pipeline shape
    val (n10, t10) = run(500, 2)   // 10k docs
    val (n100, t100) = run(5000, 3) // 100k docs
    info(f"minhash 10k: $t10%.1f s ($n10 pairs); 100k: $t100%.1f s ($n100 pairs)")
    assert(n10 == 500L * (20 * 19 / 2) && n100 == 5000L * (20 * 19 / 2))
    assert(t100 <= t10.max(0.5) * 30,
      f"superlinear step at 10x docs: $t10%.1f s -> $t100%.1f s")
  }

  test("ngram Jaccard (broadcast prefix path) scales near-linearly 10k → 100k docs", Slow) {
    def run(nWindows: Int, seed: Int): (Long, Double) = {
      val docs = dupCorpus(nWindows, 20, seed)
      // windows are shingle-disjoint, so output = exact intra-class pairs
      timed(Dedup.ngramJaccardPairs(docs, 0.8).count())
    }
    run(100, 4)
    val (n10, t10) = run(500, 5)
    val (n100, t100) = run(5000, 6)
    info(f"ngram 10k: $t10%.1f s ($n10 pairs); 100k: $t100%.1f s ($n100 pairs)")
    assert(n10 == 500L * (20 * 19 / 2) && n100 == 5000L * (20 * 19 / 2))
    assert(t100 <= t10.max(0.5) * 30,
      f"superlinear step at 10x docs: $t10%.1f s -> $t100%.1f s")
  }

  test("ngram windowed fallback engages past the broadcast cap AT SCALE " +
      "and matches the broadcast path", Slow) {
    // 40k near-unique docs, id-suffixed vocabulary: ~40k × 28 ≈ 1.1M distinct
    // shingles — genuinely OVER MaxBroadcastShingles (2^20), so the default
    // call must take the join+window fallback; 50 planted last-token edits
    // are the expected pairs (J ≈ (28-3)/(28+3)... ≥ 0.8 for a 1-token edit
    // of a 30-token doc: shared = 25 of 28+3 distinct ⇒ J = 25/31 ≈ 0.806)
    val rnd = new scala.util.Random(11)
    val base = (0 until 40000).map { i =>
      (i.toLong, (1 to 30).map(_ => s"u${rnd.nextInt(1 << 30)}_$i").mkString(" "))
    }
    val planted = (0 until 50).map { j =>
      val (src, text) = base(j * 777)
      (40000L + j, (text.split(" ").dropRight(1) :+ "edited").mkString(" "), src)
    }
    val docs = (base ++ planted.map(p => (p._1, p._2))).toDF("doc_id", "text")

    val nShingles = Dedup.shingles(docs).select("sh").distinct().count()
    assert(nShingles > Dedup.MaxBroadcastShingles,
      s"corpus must exceed the broadcast cap to exercise the fallback ($nShingles)")

    val (got, secs) = timed(
      Dedup.ngramJaccardPairs(docs, 0.8)
        .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    info(f"windowed fallback, 40k docs / $nShingles shingles: $secs%.1f s")
    assert(got == planted.map(p => (p._3, p._1)).toSet,
      s"missing=${(planted.map(p => (p._3, p._1)).toSet -- got).take(5)} " +
        s"spurious=${(got -- planted.map(p => (p._3, p._1)).toSet).take(5)}")
  }

  test("fallback ≡ broadcast path on the same under-cap corpus", Slow) {
    val docs = dupCorpus(300, 5, 21) // 1.5k docs, vocab far under any cap
    val viaBroadcast = Dedup.ngramJaccardPairs(docs, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val viaFallback = atScale(Dedup.ngramJaccardPairs(docs, 0.8) // the windowed plan
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet)
    assert(viaBroadcast == viaFallback)
  }

  test("passage dedup scales near-linearly 10k → 100k docs with exact dup counts", Slow) {
    // each doc = 3 disjoint 30-token windows (word ids are pure arithmetic
    // on the doc's class, so no chunk is shared ACROSS classes), copied
    // 10×: dupes = 3 × 9 per class. The corpus is GENERATED IN SPARK from
    // range() — a driver-built Seq ships the whole text corpus inside task
    // binaries (measured 8.5 MB tasks at 100k docs) and times the shipping,
    // not the operator.
    def corpus(nDistinct: Int): DataFrame =
      spark.range(nDistinct * 10L).select(col("id").as("doc_id"),
        expr(s"concat_ws(' ', transform(sequence(0, 89, 1), " +
          s"i -> concat('w', (id % $nDistinct) * 90 + i)))").as("text"))
    def run(nDistinct: Int): ((Long, Long), Double) =
      timed {
        val agg = Dedup.passageDedup(corpus(nDistinct))
          .agg(sum("n_chunks"), sum("n_dupes")).head()
        (agg.getLong(0), agg.getLong(1))
      }
    run(100) // warm-up
    val ((c10, d10), t10) = run(1000)   // 10k docs
    val ((c100, d100), t100) = run(10000) // 100k docs
    info(f"passage dedup 10k: $t10%.1f s; 100k: $t100%.1f s")
    assert(c10 == 30000L && d10 == 1000L * 3 * 9)
    assert(c100 == 300000L && d100 == 10000L * 3 * 9)
    assert(t100 <= t10.max(0.5) * 30,
      f"superlinear step at 10x docs: $t10%.1f s -> $t100%.1f s")
  }

  test("winnowing dedup scales near-linearly 10k → 100k docs with exact " +
      "saturation on duplicate classes", Slow) {
    // Spark-generated corpus (the passage-dedup shipping lesson): each doc
    // is 60 class-arithmetic tokens so distinct classes share no k-gram;
    // 10 copies per class → every later copy's fingerprints are fully
    // claimed by the first (n_dup_fp = n_fp, near_dup = 1): 9/10 of docs.
    def corpus(nDistinct: Int): DataFrame =
      spark.range(nDistinct * 10L).select(col("id").as("doc_id"),
        expr(s"concat_ws(' ', transform(sequence(0, 59, 1), " +
          s"i -> concat('w', (id % $nDistinct) * 60 + i)))").as("text"))
    def run(nDistinct: Int): ((Long, Long), Double) =
      timed {
        val agg = Dedup.winnowingDedup(corpus(nDistinct))
          .agg(count(lit(1)), sum("near_dup")).head()
        (agg.getLong(0), agg.getLong(1))
      }
    run(100) // warm-up
    val ((n10, d10), t10) = run(1000)   // 10k docs
    val ((n100, d100), t100) = run(10000) // 100k docs
    info(f"winnowing 10k: $t10%.1f s; 100k: $t100%.1f s")
    assert(n10 == 10000L && d10 == 9000L)
    assert(n100 == 100000L && d100 == 90000L)
    assert(t100 <= t10.max(0.5) * 30,
      f"superlinear step at 10x docs: $t10%.1f s -> $t100%.1f s")
  }

  test("groupCaps scales near-linearly 100k → 1M rows over a skewed " +
      "domain distribution", Slow) {
    import graft.operators.Relational
    // Zipf-ish skew: domain d gets ~n/(d+1) of the rows — one hot domain
    // holding half the corpus is exactly the shape a per-domain window
    // would serialize on and the two-pass must not
    def corpus(n: Long): DataFrame =
      spark.range(n).select(col("id").as("doc_id"),
        expr("concat('dom', CAST(floor(pow(2.0, floor(log2(CAST(id + 1 AS " +
          "DOUBLE))))) AS BIGINT))").as("source"))
    def run(n: Long): (Long, Double) =
      timed {
        val r = Relational.groupCaps(corpus(n), "source", "doc_id", cap = 50)
          .agg(sum("n_kept"), sum("n_docs")).head()
        assert(r.getLong(1) == n)
        r.getLong(0)
      }
    run(10000)
    val (k1, t1) = run(100000L)
    val (k2, t2) = run(1000000L)
    info(f"groupCaps 100k: $t1%.1f s; 1M: $t2%.1f s")
    // domain d holds ids+1 in [2^d, min(2^(d+1)-1, n)]: kept = Σ min(cap, size)
    def expectedKept(n: Long): Long =
      Iterator.from(0).map(d => (1L << d, math.min((1L << (d + 1)) - 1, n)))
        .takeWhile { case (lo, _) => lo <= n }
        .map { case (lo, hi) => math.min(50L, hi - lo + 1) }.sum
    assert(k1 == expectedKept(100000L))
    assert(k2 == expectedKept(1000000L))
    assert(t2 <= t1.max(0.5) * 30,
      f"superlinear step at 10x rows: $t1%.1f s -> $t2%.1f s")
  }

  test("semantic dedup scales near-linearly 10k → 100k vectors when k grows " +
      "with the corpus (the SemDeDup contract)", Slow) {
    // k clusters of 250 vectors: 10 exact copies of the cluster centroid
    // (the semantic dups) + 240 near-orthogonal randoms; τ = 0.999 drops
    // exactly the 9 extra copies per cluster. Cell size stays constant as
    // n and k grow together — the paper's regime — so pair work is linear.
    def corpus(k: Int, seed: Int): (DataFrame, DataFrame) = {
      val rnd = new scala.util.Random(seed)
      def rv(): Array[Float] = Array.fill(64)((rnd.nextDouble() * 2 - 1).toFloat)
      val bases = Array.fill(k)(rv())
      val rows = (0 until k).flatMap { c =>
        val off = c.toLong * 250
        (0 until 10).map(j => (off + j, bases(c))) ++
          (10 until 250).map(j => (off + j, rv()))
      }
      (rows.toDF("vec_id", "embedding"),
        bases.zipWithIndex.map { case (b, i) => (i.toLong, b) }
          .toSeq.toDF("cid", "cv"))
    }
    def run(k: Int, seed: Int): ((Long, Long), Double) = {
      val (emb, cents) = corpus(k, seed)
      timed {
        val agg = graft.operators.Dedup.semanticDedup(emb, cents, 0.999)
          .agg(sum("n_vectors"), sum("n_dropped")).head()
        (agg.getLong(0), agg.getLong(1))
      }
    }
    run(4, 41) // warm-up
    val ((n10, d10), t10) = run(40, 42)    // 10k vectors, k=40
    val ((n100, d100), t100) = run(400, 43) // 100k vectors, k=400
    info(f"semantic dedup 10k/k=40: $t10%.1f s; 100k/k=400: $t100%.1f s")
    assert(n10 == 10000L && d10 == 40L * 9)
    assert(n100 == 100000L && d100 == 400L * 9)
    assert(t100 <= t10.max(0.5) * 30,
      f"superlinear step at 10x vectors: $t10%.1f s -> $t100%.1f s")
  }

  test("connectedComponentsAuto's star rounds handle a 200k-edge graph and " +
    "match the driver's union-find", Slow) {
    // 40k path components of diameter 4 (shallow, dup-class-shaped) —
    // 200k nodes, 160k edges; atScale forces the DISTRIBUTED star rounds
    // (not the driver tier), checked against the auto tier's union-find
    val edges = (0 until 40000).flatMap { c =>
      val base = c * 5L
      (0 until 4).map(i => (base + i, base + i + 1))
    }.toDF("a", "b")
    val (viaRounds, tDist) = timed(atScale(
      Clusters.connectedComponentsAuto(edges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap))
    val (viaDriver, tDrv) = timed(
      Clusters.connectedComponentsAuto(edges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    info(f"200k-node CC: distributed $tDist%.1f s, driver union-find $tDrv%.1f s")
    assert(viaRounds.size == 200000 && viaRounds == viaDriver)
    assert(viaRounds.forall { case (n, c) => c == (n / 5) * 5 })
  }
}
