package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.engine.{Materialize, ScalePolicy}
import graft.functions.{Portable, VectorFunctions}
import graft.functions.Portable.{Spark => SparkD, Duck => DuckD}

/** Deduplication tier for training-data pipelines: exact, MinHash+LSH,
  * SimHash, n-gram Jaccard, and embedding-cosine near-dup.
  *
  * Scale posture (100 TB): every method avoids the naive O(n²) all-pairs
  * comparison — exact dedup is one hash-shuffle; MinHash/LSH compares only
  * within LSH band buckets; n-gram Jaccard only joins docs sharing a shingle;
  * embedding near-dup goes through hyperplane buckets (see Similarity).
  * Signature computation is per-row column arithmetic (no shuffle at all)
  * built from the Portable fragments so the DuckDB oracle evaluates the
  * identical hashes.
  */
object Dedup {

  // 16 minhashes in 2 bands of 8 ⇒ candidate threshold ≈ (1/b)^(1/r) ≈ 0.92
  // Jaccard. The synthetic corpus draws from a tiny vocabulary, so random
  // doc pairs already sit at J≈0.5-0.7; wide bands (4×4, threshold ≈0.7)
  // would flag ~30% of ALL pairs as candidates. Narrow bands keep the
  // candidate set proportional to the true near-dup population — the
  // property that makes LSH linear-ish at 100 TB.
  val NumHashes = 16
  val Bands = 2
  val RowsPerBand: Int = NumHashes / Bands

  /** Exact duplicate groups by content hash: md5(text) → group. One shuffle;
    * at 100 TB this is the standard first pass (hash is 16 bytes/doc, the
    * groupBy shuffles digests not documents). */
  def exactGroups(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.groupBy(md5(col(textCol)).as("h"))
      .agg(min("doc_id").as("keep_id"), count("*").as("n"))

  /** MinHash signature matrix: doc_id, mh0..mh{NumHashes-1}. Computed by the
    * one-pass [[graft.functions.MinHashSig]] codegen expression (same
    * arithmetic as the Portable fragments the oracle runs — see its spec
    * test pinning declarative ≡ kernel). */
  def minhashSignatures(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val sig = docs.select(col("doc_id"),
      graft.functions.TextHashFunctions.minhashSig(col(textCol)).as("sig"))
    sig.select((col("doc_id") +: (0 until NumHashes).map(j =>
      element_at(col("sig"), j + 1).as(s"mh$j"))): _*)
  }

  /** LSH banding: one row per (doc, band) with the band's concatenated
    * signature — the bucket key. */
  def minhashBands(sig: DataFrame): DataFrame = {
    val bandStructs = (0 until Bands).map { b =>
      val cols = (0 until RowsPerBand).map(r => s"mh${b * RowsPerBand + r}")
      struct(lit(b).as("band"), expr(Portable.bandKey(cols)).as("bkey"))
    }
    sig.select(col("doc_id"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bkey").as("bkey"))
  }

  /** Candidate near-duplicate pairs: docs sharing at least one LSH bucket.
    * The self-join shuffles on (band, bkey) — each bucket is tiny, so the
    * join is local within buckets; no all-pairs blowup. */
  def minhashCandidatePairs(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val bands = minhashBands(minhashSignatures(docs, textCol))
    val l = bands.as("l"); val r = bands.as("r")
    l.join(r, col("l.band") === col("r.band") && col("l.bkey") === col("r.bkey") &&
        col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("a"), col("r.doc_id").as("b"))
      .distinct()
  }

  /** 32-bit SimHash per document (term-frequency weighted majority vote),
    * via the one-pass [[graft.functions.SimHash]] codegen expression. */
  def simhashSignatures(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.TextHashFunctions.simhash(col(textCol)).as("simhash"))

  /** The band-key columns `k0..k{Bands-1}` over a packed minhash signature
    * column — THE one derivation every consumer must share, or banding
    * changes silently desync them.
    *
    * Band keys are `xxhash64` of the band's 8 minhashes (8-byte join keys)
    * rather than the oracle's concat-string keys: a hash collision across
    * distinct band tuples could only ADD a candidate pair, and any added pair
    * that survives verification (est ≥ 0.9 ⇒ ≥15/16 minhashes agree ⇒ some
    * band agrees exactly) is a true oracle row anyway — so the output set is
    * identical while the shuffle/sort runs on fixed-width longs instead of
    * ~60-char strings. */
  def bandKeyCols(sigCol: Column): Seq[Column] =
    (0 until Bands).map(b => bandKey(sigCol, b).as(s"k$b"))

  /** Band `b`'s key over a packed signature, unaliased — the single
    * derivation [[bandKeyCols]] wraps; also used downstream of a shuffle to
    * RECOMPUTE a key from a carried signature (four element_at + one
    * xxhash64 — cheaper than shipping the key through the exchange). */
  def bandKey(sigCol: Column, b: Int): Column = {
    val parts = (0 until RowsPerBand)
      .map(r => element_at(sigCol, b * RowsPerBand + r + 1))
    xxhash64(parts: _*)
  }

  /** Full MinHash near-dup detection: LSH candidates verified by signature
    * agreement (estimated Jaccard = fraction of equal minhashes).
    * `minEstJaccard` is compared on the rounded estimate (multiples of
    * 1/16 — exactly representable).
    *
    * Plan shape, designed for the 100 TB posture:
    *  - ONE signature scan (keys via [[bandKeyCols]]); each exploded band row carries the
    *    packed signature plus the earlier bands' keys, so verification needs
    *    no join back to a signature table — the round-1 version broadcast the
    *    full-corpus signature table twice, a guaranteed driver OOM at scale.
    *    Extra shuffle weight is ~128 B/band-row; the join stays a plain
    *    shuffled join on (band, bkey) at any corpus size (AQE handles skewed
    *    buckets).
    *  - Each surviving pair is emitted EXACTLY once without a distinct: a
    *    pair matching in several bands is kept only at its first matching
    *    band (later bands require an earlier band key to differ), so the
    *    distinct shuffle over the verified set disappears. The result set is
    *    identical to the oracle's SELECT DISTINCT because duplicate pair rows
    *    always carry the same est_jaccard. */
  def minhashNearDupPairs(docs: DataFrame, minEstJaccard: Double,
                          textCol: String = "text"): DataFrame = {
    // The callers' orderBy tail re-executes its child up to three times
    // (range sampler, skew resample, final pass), and the child here is the
    // whole corpus pipeline (signature kernel, sig aggregation, band
    // self-join, verification). Group pairs BEFORE id expansion are a
    // tiny, survivor-only table (21k group rows at sf1 vs 14M doc pairs),
    // so materializing them runs the corpus pipeline once and the sort's
    // passes re-run only the checkpoint read and the id explode
    // (BASELINE.md, "Round-17: x18's sort-tail re-execution fixed").
    val groupPairs = Materialize(minhashGroupPairs(docs, minEstJaccard, textCol))

    groupPairs
      .select(col("est_jaccard"), col("gmin_a"), col("gmin_b"),
        explode(col("ids_a")).as("x"), col("ids_b"))
      .select(col("est_jaccard"), col("gmin_a"), col("gmin_b"), col("x"),
        explode(col("ids_b")).as("y"))
      // diagonal (same list both sides): keep x < y so each unordered pair
      // appears once; cross-group (gmin_a < gmin_b): every (x, y) pairing
      // is a distinct doc pair
      .where(col("gmin_a") < col("gmin_b") || col("x") < col("y"))
      .select(least(col("x"), col("y")).as("a"),
        greatest(col("x"), col("y")).as("b"), col("est_jaccard"))
  }

  /** The survivor-only GROUP-pair table [[minhashNearDupPairs]] checkpoints
    * and expands: one row per qualifying pair of signature groups
    * (est_jaccard, gmin_a, gmin_b, ids_a, ids_b), intra-group pairs as the
    * diagonal (ids_a = ids_b, gmin_a = gmin_b, est = 1.0). Exposed
    * package-private so PlanShapeSpec can pin the PIPELINE's plan (no
    * broadcast hint, no pair-level distinct), which the checkpoint hides
    * from the result DataFrame's plan. */
  private[graft] def minhashGroupPairs(docs: DataFrame, minEstJaccard: Double,
                                       textCol: String = "text"): DataFrame = {
    // Dup-heavy corpora compress massively under the signature: collapse
    // docs with IDENTICAL signatures into one group row first, so the band
    // join and verification run on distinct signatures (2.5× fewer rows,
    // ~6× fewer candidate pairs on the bench corpus), and doc-level pairs
    // re-expand only at the very end:
    //  - intra-group pairs agree on all 16 hashes ⇒ est = 1.0, no join;
    //  - inter-group pairs are verified once per GROUP pair.
    // Token-free docs (null sig) can never reach the threshold (the oracle's
    // agreement over null minhashes is 0) and are dropped up front.
    // measured at sf0.1: repartitioning the (single-row-group) scan before
    // the kernel costs more in exchange + 32-task scheduling than the
    // one-task kernel pass saves — the kernel stays on the scan.
    // Token-free gate on RAW text (r16, the x24/x101 pushdown lesson):
    // `where(sig.isNotNull)` pushed `isnotnull(graft_minhash_sig(text))`
    // below the Project — Filter and Project are separate codegen
    // subexpression scopes, so the signature kernel ran TWICE per doc.
    // sig IS NULL ⟺ zero tokens ⟺ no non-space char (single-space
    // tokenizer; null text fails both forms), so the pushed predicate is
    // the cheap forward regex and the kernel runs once, in the Project.
    // KernelParitySpec pins the equivalence.
    val sigOf = docs.where(col(textCol).rlike("[^ ]"))
      .select(col("doc_id"),
        graft.functions.TextHashFunctions.minhashSig(col(textCol)).as("sig"))
    val groups = sigOf.groupBy("sig").agg(collect_list("doc_id").as("ids"))
    val keyed = groups.select(col("sig") +: col("ids") +:
      array_min(col("ids")).as("gmin") +: bandKeyCols(col("sig")): _*)

    // earlier-band keys ride along only where the first-match filter needs
    // them (bands 0..Bands-2); each group pair is emitted at its first
    // matching band, so no distinct pass is needed
    val earlier = 0 until (Bands - 1)
    val bandRows = keyed.select(
      col("sig") +: col("ids") +: col("gmin") +: earlier.map(b => col(s"k$b")) :+
        explode(array((0 until Bands).map(b =>
          struct(lit(b).as("band"), col(s"k$b").as("bkey"))): _*)).as("bk"): _*)
      .select(col("sig") +: col("ids") +: col("gmin") +:
        earlier.map(b => col(s"k$b")) :+
        col("bk.band").as("band") :+ col("bk.bkey").as("bkey"): _*)
    val l = bandRows.select(col("band") +: col("bkey") +:
      col("sig").as("sig_a") +: col("ids").as("ids_a") +: col("gmin").as("gmin_a") +:
      earlier.map(b => col(s"k$b").as(s"ka$b")): _*)
    val r = bandRows.select(col("band") +: col("bkey") +:
      col("sig").as("sig_b") +: col("ids").as("ids_b") +: col("gmin").as("gmin_b") +:
      earlier.map(b => col(s"k$b").as(s"kb$b")): _*)
    val firstMatch = Similarity.firstMatchingBand(Bands,
      i => col(s"ka$i") =!= col(s"kb$i"))
    import org.apache.spark.sql.{GraftSqlBridge => B}
    val agree = B.column(graft.functions.ArrayEqCount(
      B.expression(col("sig_a")), B.expression(col("sig_b"))))
    val interG = l.join(r, Seq("band", "bkey"))
      .where(col("gmin_a") < col("gmin_b") && firstMatch)
      .select(round(agree / lit(16.0), 4).as("est_jaccard"),
        col("gmin_a"), col("gmin_b"), col("ids_a"), col("ids_b"))
      .where(col("est_jaccard") >= minEstJaccard)
    // intra-group pairs as the DIAGONAL of the same group-pair schema: both
    // id lists are the group's own, est = 1.0 by definition (all 16
    // minhashes agree), kept only when the threshold allows
    val intraG = groups.where(size(col("ids")) > 1)
      .select(lit(1.0).as("est_jaccard"),
        array_min(col("ids")).as("gmin_a"), array_min(col("ids")).as("gmin_b"),
        col("ids").as("ids_a"), col("ids").as("ids_b"))
      .where(lit(1.0) >= minEstJaccard)

    intraG.union(interG)
  }

  // ---------------------------------------------------------- n-gram Jaccard

  /** Token n-gram shingles (n=3), Spark dialect. Guarded so docs shorter than
    * n yield an empty array (Spark's `sequence(1, 0)` would count DOWN). */
  def shingleExprSpark(toksCol: String): String =
    s"""CASE WHEN size($toksCol) < 3 THEN array()
       | ELSE transform(sequence(1, size($toksCol) - 2),
       |   i -> concat_ws(' ', element_at($toksCol, i),
       |     element_at($toksCol, i + 1), element_at($toksCol, i + 2)))
       | END""".stripMargin

  /** Same shingles in DuckDB (range() end-exclusive, empty when end <= start). */
  def shingleExprDuck(toksCol: String): String =
    s"list_transform(range(1, greatest(length($toksCol) - 1, 1)), " +
      s"i -> concat_ws(' ', $toksCol[i], $toksCol[i + 1], $toksCol[i + 2]))"

  /** Distinct (doc_id, shingle-hash) pairs via the one-pass
    * [[graft.functions.ShingleSet]] kernel (hash values identical to
    * `xxhash64(concat_ws(' ', ...))`): per-doc dedup happens inside the
    * kernel's hash set, so no distinct shuffle. Shuffles move 8-byte hash
    * keys, not ~30-char strings; a hash collision could perturb a Jaccard
    * count, but over ~10^5 distinct shingles in 2^64 space P ≈ 1e-10. */
  def shingles(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(col("doc_id"),
        graft.functions.TextHashFunctions.shingleSet(col(textCol)).as("shs"))
      .select(col("doc_id"), explode(col("shs")).as("sh"))

  /** Ceiling on the broadcast df map for [[ngramJaccardPairs]]' fused prefix
    * path: ~1M distinct shingles ≈ 16 MB of paired long arrays — a
    * comfortable executor broadcast. Corpora with a larger shingle
    * vocabulary (web scale) fall back to the join+window plan, the same
    * adaptive posture as broadcast-vs-shuffle join selection. The cap also
    * bounds the DETECTION cost: Actions.boundedRows discards partition
    * results on the driver once the running total passes the cap, so an
    * over-cap corpus costs at most ~cap retained rows plus one in-flight
    * partition result (~16 MB here) before routing to the fallback — never
    * numPartitions × cap. */
  val MaxBroadcastShingles: Int = 1 << 20

  private val BroadcastShingles = ScalePolicy.Route(
    "broadcast-shingles", "ngramJaccardPairs", "shingles", "broadcast", "windowed")

  /** Near-dup pairs by 3-gram Jaccard ≥ threshold, via prefix-filtered
    * inverted-index join (the PPJoin family: Chaudhuri et al. ICDE'06,
    * Bayardo et al. WWW'07, Xiao et al. WWW'08).
    *
    * Round 1 joined the FULL inverted index with itself — a single hot
    * shingle (boilerplate text) makes that self-join quadratic in its posting
    * list, the classic skew-killer on web-scale corpora. Now only each doc's
    * PREFIX — its `n - ceil(t·n) + 1` rarest shingles under the global
    * (document-frequency asc, hash asc) order — enters the join.
    *
    * Completeness proof: if J(A,B) ≥ t then |A∩B| ≥ t·|A∪B| ≥ t·max(na,nb),
    * so the overlap is ≥ oA = ceil(t·na) and ≥ oB = ceil(t·nb). Let w be the
    * first common shingle in the global order. If w were outside A's prefix,
    * every common shingle would sit among A's last oA - 1 positions —
    * contradicting overlap ≥ oA; so w is in A's prefix, and symmetrically in
    * B's. Hence every qualifying pair shares a PREFIX shingle and survives
    * candidate generation. Ordering by ascending document frequency makes
    * hot shingles land OUTSIDE prefixes, so no posting list in the join can
    * explode. The threshold is slackened by 1e-4 so pairs whose round(·,4)
    * lands exactly on t are never pruned early (the oracle compares rounded
    * values).
    *
    * Plan shape (round 3): the df pass is ONE slim aggregate whose result —
    * bounded by [[MaxBroadcastShingles]], else the windowed fallback —
    * rides an executor broadcast into [[graft.functions.ShinglePrefix]],
    * which ranks each document's shingles per-row inside codegen. That
    * replaces the rounds-1–2 df join + per-document ranking window (two
    * shuffles and an AQE round-trip on every run). A hash-only order with
    * no df pass was measured first and rejected: on the bench corpus it
    * inflates candidates 85k-fold-ish (random prefix shingles carry avg df
    * ~10), costing more in verification than the saved shuffles.
    *
    * Candidates additionally pass the size filter t·max(na,nb) ≤ min(na,nb)
    * (J ≥ t forces it), then are verified EXACTLY: intersection of the
    * packed per-doc shingle sets (one-pass ShingleSet kernel, no distinct
    * shuffle), so the output is identical to the unfiltered all-pairs
    * computation the oracle runs — prefix choice affects only candidate
    * volume, never the result set. */
  def ngramJaccardPairs(docs: DataFrame, threshold: Double,
                        textCol: String = "text"): DataFrame = {
    val tEff = threshold - 1e-4
    // no empty-doc filter: explode() drops shingle-free docs from the join
    // anyway, and a where(nsh > 0) here gets pushed into the parquet scan as
    // TWO kernel-bearing DataFilters (size(shingleSet)>0, isnotnull), making
    // the one-pass kernel evaluate 3× per row (measured in the r2 plan)
    //
    // packed feeds FIVE consumers (df aggregate, both sides of the prefix
    // candidate join, and both verify sides), and none of them are
    // reusable exchanges: materialized, every consumer reads the blocks the
    // first one (the df aggregate's map stage) filled, instead of
    // re-running the shingle-set kernel over the corpus 5×. It keeps a
    // doc_id-spread input's partitioning, so the verify joins on doc_id do
    // not shuffle the packed sets again.
    val packed = Materialize(
      docs.select(col("doc_id"),
          graft.functions.TextHashFunctions.shingleSet(col(textCol)).as("shs"))
        .withColumn("nsh", size(col("shs"))))
    // df stays a plain count agg (never a posting LIST — a boilerplate
    // shingle shared by 10% of a web corpus would make one giant row);
    // partial aggregation slims the shuffle to one row per distinct shingle
    // per map task.
    val dfRows = packed.select(explode(col("shs")).as("sh"))
      .groupBy("sh").agg(count(lit(1)).as("df"))
    // one-job bounded collect (Actions.boundedRows): the old
    // limit(cap+1).collect() never reached its limit on an in-cap corpus, so
    // CollectLimit's incremental scale-up walked the agg output across ~3
    // extra jobs per run — pure scheduling floor billed to every invocation
    val collected = ScalePolicy.probeRows(BroadcastShingles, dfRows, MaxBroadcastShingles)
      .getOrElse(return ngramJaccardPairsWindowed(packed, dfRows, threshold))
    val entries = collected.map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    // Lifecycle: the returned (lazy) DataFrame's ShinglePrefix expression
    // holds the only reference to this broadcast, so an eager destroy() here
    // would break execution; once the caller's plan is unreachable the
    // ContextCleaner unpersists the broadcast (standard Spark lifecycle for
    // plan-embedded broadcasts, same as broadcast-hash-join relations).
    val dfMap = docs.sparkSession.sparkContext.broadcast(
      (entries.map(_._1), entries.map(_._2)))
    val prefix = packed.select(col("doc_id"), col("nsh"),
      explode(graft.functions.TextHashFunctions.shinglePrefix(
        col("shs"), dfMap, tEff)).as("sh"))
    verifyCandidates(prefix, packed, threshold, tEff)
  }

  /** Fallback prefix plan for corpora whose shingle vocabulary exceeds the
    * broadcast cap: the df table joins onto every exploded shingle row and a
    * per-document window ranks them — two more shuffles than the broadcast
    * path, but no driver-side state at all. Identical output. */
  private def ngramJaccardPairsWindowed(packed: DataFrame, dfRows: DataFrame,
                                        threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tEff = threshold - 1e-4
    val sh = packed.select(col("doc_id"), col("nsh"), explode(col("shs")).as("sh"))
    val w = Window.partitionBy("doc_id").orderBy(col("df"), col("sh"))
    val prefix = sh.join(dfRows, "sh")
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= col("nsh") - ceil(col("nsh") * lit(tEff)) + 1)
      .select(col("doc_id"), col("nsh"), col("sh"))
    verifyCandidates(prefix, packed, threshold, tEff)
  }

  /** Candidate generation (prefix self-join + size filter + distinct) and
    * exact verification against the packed shingle sets — shared by both
    * prefix plans. */
  private def verifyCandidates(prefix: DataFrame, packed: DataFrame,
                               threshold: Double, tEff: Double): DataFrame = {
    val cand = prefix.as("l").join(prefix.as("r"),
        col("l.sh") === col("r.sh") && col("l.doc_id") < col("r.doc_id") &&
          greatest(col("l.nsh"), col("r.nsh")) * lit(tEff) <=
            least(col("l.nsh"), col("r.nsh")))
      .select(col("l.doc_id").as("a"), col("r.doc_id").as("b"))
      .distinct()
    val pa = packed.select(col("doc_id").as("a"), col("shs").as("shs_a"),
      col("nsh").as("na"))
    val pb = packed.select(col("doc_id").as("b"), col("shs").as("shs_b"),
      col("nsh").as("nb"))
    import org.apache.spark.sql.{GraftSqlBridge => B}
    val sharedCount = B.column(graft.functions.SortedIntersectCount(
      B.expression(col("shs_a")), B.expression(col("shs_b"))))
    cand.join(pa, "a").join(pb, "b")
      .withColumn("shared", sharedCount)
      .select(col("a"), col("b"),
        round(col("shared") / (col("na") + col("nb") - col("shared")), 4).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Oversized (band, key) buckets beyond this count route the WHOLE call
    * to the join: a corpus where >64 buckets each exceed the kernel byte
    * budget is join-shaped anyway, and the cap keeps both the routing
    * predicate (an OR-chain over the hot list) and the driver-side hot-list
    * collect bounded by a constant, never by data. */
  val MaxHotBuckets: Int = 64

  /** Embedding-cosine near-dup pairs at scale: candidates limited to pairs
    * sharing at least one hyperplane-LSH band key (banded OR-of-ANDs, see
    * [[Similarity]]). Each vector is shuffled once per band on its key; a
    * pair matching in several bands is emitted only at its first matching
    * band (no distinct pass), mirroring minhashNearDupPairs. Recall for a
    * pair at angle θ is 1-(1-p^r)^b with p = 1-θ/π — tuned via
    * Similarity.Bands / RowsPerBand at real scale.
    *
    * Banded-LSH near-dup pairs with PER-BUCKET route selection (round 11;
    * round 10 shipped the two routes but picked one globally off the single
    * largest bucket — one hot (band, key) demoted every in-contract bucket
    * to the slow join). The join route MATERIALIZES two d-dim arrays into
    * every candidate pair row — at sf5 that is Σ|bucket|² ≈ 260M pair rows
    * × ~1 KB ≈ a 27–30 s query doing 3–8 s of arithmetic (JobProfile r10);
    * the kernel buffers each bucket once and loops pairs in primitive
    * arrays with zero pair-row materialization. A bucket is OVERSIZED iff
    * it breaks the kernel's buffering contract on its OWN numbers —
    * rows > [[MaxKernelCellRows]], or rows × its max dim × 8 >
    * [[KernelCellBytes]] (per-bucket byte gate: r10's global max(dim) cap
    * punished every low-dim bucket for one high-dim vector elsewhere).
    * Routing is a [[ScalePolicy.probeRows]] route on the oversized-bucket
    * list: ≤ [[MaxHotBuckets]] of them is the kernel side. With none, the
    * kernel takes every bucket; otherwise the hot buckets take the join
    * and every other bucket keeps the kernel ("mixed", [[lshPairsSplit]]),
    * the two branches split by the SAME predicate so the bucket partition
    * is exact. More than that (a join-shaped corpus, or
    * `spark.graft.scale=large`, which runs no probe) → all join.
    * Splitting is sound because first-matching-band dedup is bucket-local:
    * each emitted pair carries its own proof (all earlier band keys
    * differ), independent of which route handled its bucket. Identical
    * output by construction: same first-matching-band dedup, same
    * sequential dot, same HALF_UP round4, same NaN-is-a-hit rule (plain
    * JVM division is safe: a zero norm forces dot 0 too, so 0/0 = NaN
    * exactly where the declarative try_divide → NULL → NaN; kernel ≡ join
    * ≡ mixed is spec-pinned and the oracle is green on all routes). The
    * routing probe is ONE slim aggregate job over (band, key, count, dim)
    * — no vector ships through it, and the driver keeps at most
    * MaxHotBuckets rows of it (r10 ran a max-stats job AND would have
    * needed a hot-list job; the per-bucket contract needs no global
    * stats, so one job decides everything). */
  def embeddingNearDupLsh(emb: DataFrame, threshold: Double): DataFrame = {
    import graft.operators.{Similarity => S}
    // `keyed` is deliberately NOT persisted even though the mixed route
    // evaluates it up to three times (probe + kernel branch + join branch;
    // ADVICE r11). The projection is a narrow, shuffle-free map over the
    // pruned parquet scan (Bands dot products + a float→double widen per
    // vector); persisting it at corpus scale means WRITING the whole
    // corpus — widened to f64, so ~2× the parquet-encoded bytes — to
    // executor storage once and reading it back twice, i.e. ~4× the
    // corpus in extra I/O plus eviction pressure on the kernel's task
    // heap budget, versus ≤ 2 extra CPU-bound scan+map passes that AQE
    // and the columnar reader pipeline for free. Recompute wins on I/O
    // volume at every scale where the cache wouldn't fit in memory —
    // which at 100 TB is always.
    val keyed = lshKeyed(emb)
    val hot = S.bandRows(keyed.withColumn("dm", size(col("v"))), Seq("dm"))
      .groupBy("band", "key")
      .agg(count(lit(1)).as("c"), max(col("dm")).as("d"))
      .where(col("c") > MaxKernelCellRows ||
        col("c") * col("d") * 8L > KernelCellBytes)
      .select("band", "key")
    ScalePolicy.probeRows(HotBuckets, hot, MaxHotBuckets)
      .fold(lshPairsJoin(keyed, threshold, None))(lshPairsSplit(keyed, threshold, _))
  }

  private val HotBuckets = ScalePolicy.Route(
    "hot-buckets", "embeddingNearDupLsh", "hot", "kernel", "join")

  /** `emb`'s (vec_id, k0 … k(Bands-1), v) rows: its band keys and its
    * vector widened to doubles. */
  private[graft] def lshKeyed(emb: DataFrame): DataFrame = {
    import graft.operators.{Similarity => S}
    S.withBandKeys(emb)
      .select(col("vec_id") +: (0 until S.Bands).map(b => col(s"k$b")) :+
        VectorFunctions.asDouble(col("embedding")).as("v"): _*)
  }

  /** [[embeddingNearDupLsh]]'s kernel side over [[lshKeyed]] rows: the
    * `hot` (band, key) buckets take the join, every other bucket the
    * kernel. */
  private[graft] def lshPairsSplit(keyed: DataFrame, threshold: Double,
                                   hot: Array[org.apache.spark.sql.Row]): DataFrame =
    if (hot.isEmpty) lshPairsKernel(keyed, threshold, None)
    else {
      val hotPred = hot.map(r => col("band") === r.getInt(0) &&
        col("key") === r.getLong(1)).reduce(_ || _)
      lshPairsKernel(keyed, threshold, Some(!hotPred))
        .union(lshPairsJoin(keyed, threshold, Some(hotPred)))
    }

  /** Declarative fallback (the pre-r10 shape): spill-safe for buckets too
    * large to buffer in one task, at the cost of materializing both vectors
    * into every candidate pair row. `bucketFilter` (over the band/key cols)
    * restricts the self-join to the oversized buckets on the mixed route. */
  private def lshPairsJoin(keyed: DataFrame, threshold: Double,
                           bucketFilter: Option[Column]): DataFrame = {
    import graft.operators.{Similarity => S}
    val earlier = 0 until (S.Bands - 1)
    val all = S.bandRows(
      keyed.withColumn("nrm", VectorFunctions.norm(col("v"))),
      earlier.map(b => s"k$b") ++ Seq("v", "nrm"))
    val rows = bucketFilter.map(all.where).getOrElse(all)
    val l = rows.select(col("band") +: col("key") +:
      col("vec_id").as("a") +: col("v").as("va") +: col("nrm").as("na") +:
      earlier.map(b => col(s"k$b").as(s"ka$b")): _*)
    val r = rows.select(col("band") +: col("key") +:
      col("vec_id").as("b") +: col("v").as("vb") +: col("nrm").as("nb") +:
      earlier.map(b => col(s"k$b").as(s"kb$b")): _*)
    val firstMatch = S.firstMatchingBand(S.Bands,
      i => col(s"ka$i") =!= col(s"kb$i"))
    l.join(r, Seq("band", "key"))
      .where(col("a") < col("b") && firstMatch)
      .select(col("a"), col("b"),
        cosine4(VectorFunctions.dot(col("va"), col("vb")),
          col("na"), col("nb")).as("cos"))
      .where(col("cos") >= threshold)
  }

  /** Per-bucket kernel route: pinned (band, key) exchange + contiguous-run
    * scan (semanticDedupKernel's mechanism — AQE cannot see Σ|bucket|² pair
    * cost, a user-specified repartition is coalesce-exempt, and the
    * within-partition (band, key, vec_id) sort makes each bucket an
    * id-ordered run, so ids come out ascending and a < b needs no extra
    * work). Emission is bucket-INCREMENTAL: each bucket's survivors (the
    * threshold-filtered pairs, never the candidate set) are yielded before
    * the next bucket is buffered, so task memory is bounded by one
    * bucket's inputs plus one bucket's survivors — a dup-heavy corpus
    * whose survivor count grows quadratically with class sizes cannot
    * concentrate the whole partition's pair set in one heap (ADVICE r10).
    * `bucketFilter` drops the oversized buckets on the mixed route. */
  private def lshPairsKernel(keyed: DataFrame, threshold: Double,
                             bucketFilter: Option[Column]): DataFrame = {
    import graft.operators.{Similarity => S}
    // the prefix-word packing in bucketPairs assumes 8-bit keys in ≤ 8
    // lanes; a future knob change must widen the lanes, not silently
    // corrupt the first-matching-band dedup
    require(S.RowsPerBand <= 8 && S.Bands <= 8,
      s"prefix-word packing requires RowsPerBand ≤ 8 and Bands ≤ 8, " +
        s"got ${S.RowsPerBand}/${S.Bands}")
    val spark = keyed.sparkSession
    import spark.implicits._
    val all = S.bandRows(keyed.withColumn("ks",
        array((0 until S.Bands).map(b => col(s"k$b")): _*)), Seq("ks", "v"))
      .select(col("band"), col("key"), col("vec_id"), col("ks"), col("v"))
    val rows = bucketFilter.map(all.where).getOrElse(all)
    rows
      .repartition(spark.sparkContext.defaultParallelism, col("band"), col("key"))
      .sortWithinPartitions("band", "key", "vec_id")
      .as[(Int, Long, Long, Array[Long], Array[Double])]
      .mapPartitions { it0 =>
        val it = it0.buffered
        // one bucket's pair loop: plain local arrays — the loop runs
        // Σ|bucket|²/2 iterations (~260M at sf5, 6.5B at sf25);
        // ArrayBuffer.apply in the hot path is measurable at that count
        def bucketPairs(band: Int, idv: Array[Long], kv: Array[Array[Long]],
                        vv: Array[Array[Double]]): Iterator[(Long, Long, Double)] = {
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
          val n = vv.length
          val norms = new Array[Double](n)
          // LAYOUT (r14, the lever named in BASELINE.md's r13 x34
          // adjudication): the surviving per-candidate bound is memory
          // traffic — the i2 side of the dot reads n scattered heap arrays
          // in shuffle-arrival order. Pack the bucket's vectors into ONE
          // contiguous primitive buffer (offsets preserve ragged lengths;
          // the dot below folds left-to-right over min(len) exactly like
          // dotArr, so output is bit-identical) so the inner loop streams
          // sequentially through the buffer instead of pointer-chasing.
          val offs = new Array[Int](n + 1)
          var pk = 0
          while (pk < n) { offs(pk + 1) = offs(pk) + vv(pk).length; pk += 1 }
          val flat = new Array[Double](offs(n))
          pk = 0
          while (pk < n) {
            System.arraycopy(vv(pk), 0, flat, offs(pk), vv(pk).length)
            pk += 1
          }
          // prefix words (r13, the follow-up named in BASELINE.md's x34
          // sf25 adjudication): the earlier-band keys hoisted out of the
          // O(n²) pair loop into one 8-bit-lane word per ROW (RowsPerBand
          // = 8 ⇒ every key < 256; Bands ≤ 8 ⇒ all earlier keys fit one
          // Long — both pinned by the require in lshPairsKernel). The
          // per-pair first-matching-band test collapses from an
          // array-deref loop with bounds checks to XOR + the SWAR
          // zero-byte probe: lanes ≥ band are forced to 0xff via notMask,
          // so a zero byte exists iff SOME earlier band's keys are equal
          // (⇒ this bucket is not the pair's first match).
          val pw = new Array[Long](n)
          val notMask = if (band == 0) -1L else ~((1L << (8 * band)) - 1L)
          var i = 0
          while (i < n) {
            norms(i) = math.sqrt(dotArr(vv(i), vv(i)))
            val k = kv(i)
            var w = 0L
            var t = 0
            while (t < band) { w |= (k(t) & 0xffL) << (8 * t); t += 1 }
            pw(i) = w
            i += 1
          }
          var j = 1
          while (j < n) {
            val vj = vv(j); val pwj = pw(j); val nj = norms(j); val idj = idv(j)
            val lj = vj.length
            var i2 = 0
            while (i2 < j) {
              // first-matching-band: every band below this one must differ
              val y = (pw(i2) ^ pwj) | notMask
              if (((y - 0x0101010101010101L) & ~y & 0x8080808080808080L) == 0L) {
                // dotArr over the flat buffer: same min-length bound, same
                // left-to-right fold — bit-identical, sequential reads
                val o = offs(i2)
                val m = math.min(offs(i2 + 1) - o, lj)
                var s = 0.0
                var t = 0
                while (t < m) { s += flat(o + t) * vj(t); t += 1 }
                val raw = s / (norms(i2) * nj)
                // round4 allocates a BigDecimal (~550 ns measured) — gate
                // it on the RAW value: HALF_UP at the 4th decimal can lift
                // a value by at most 5e-5, so raw < thr − 6e-5 can never
                // round to ≥ thr. The exact rounded check still decides.
                if (raw.isNaN || raw >= threshold - 6e-5) {
                  val cos = round4(raw)
                  if (cos.isNaN || cos >= threshold)
                    out += ((idv(i2), idj, cos))
                }
              }
              i2 += 1
            }
            j += 1
          }
          out.iterator
        }
        new Iterator[(Long, Long, Double)] {
          private var cur: Iterator[(Long, Long, Double)] = Iterator.empty
          private val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
          private val keys = scala.collection.mutable.ArrayBuffer.empty[Array[Long]]
          private val vecs = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
          private def fill(): Unit = {
            while (!cur.hasNext && it.hasNext) {
              // gather exactly ONE (band, key) run — input is sorted
              val band = it.head._1; val key = it.head._2
              ids.clear(); keys.clear(); vecs.clear()
              while (it.hasNext && it.head._1 == band && it.head._2 == key) {
                val r = it.next()
                ids += r._3; keys += r._4; vecs += r._5
              }
              cur = bucketPairs(band, ids.toArray, keys.toArray, vecs.toArray)
            }
          }
          def hasNext: Boolean = { fill(); cur.hasNext }
          def next(): (Long, Long, Double) = { fill(); cur.next() }
        }
      }
      .toDF("a", "b", "cos")
  }

  /** SemDeDup — semantic dedup scoped to embedding-space clusters (Abbas et
    * al. 2023, "SemDeDup: Data-efficient learning at web-scale through
    * semantic deduplication", arXiv:2303.09540): assign every vector to its
    * nearest centroid, then compare pairs ONLY within a cell; a vector with
    * any lower-id cell-mate at cosine ≥ threshold is a semantic duplicate
    * (keep-lowest-id — the same priority rule as the exact/MinHash tiers).
    * Returns the per-cell report (cell, n_vectors, n_dropped, n_kept).
    *
    * Scale posture: cross-cell pairs are never formed — that is the
    * algorithm's contract (the paper dedups within k-means clusters only),
    * not an approximation knob bolted on. Pair work is Σ|cell|² and the
    * join key cardinality equals the centroid count k, BOTH of which scale
    * by raising k with the corpus (k ≈ n / target-cell-size in the paper's
    * regime; the trained-centroid seam is [[Similarity.kmeansCentroids]]).
    * The centroid ranking is one broadcast cross join + per-vector window
    * ([[Similarity.cellsRanked]]); the cell table feeds three consumers
    * (both pair sides and the size report), so it is lazily checkpointed
    * once instead of re-running the assignment window per consumer. */
  /** [[semanticDedup]] per-cell kernel-route cap (rows in the LARGEST
    * cell): a cell's vectors are buffered in one task's memory on that
    * route; bigger cells keep the spill-safe salted pair join. Under the
    * SemDeDup k-growth contract cell size is roughly constant, so real
    * corpora stay far under it. The row cap is additionally DIMENSION-
    * AWARE: the effective cap is min(MaxKernelCellRows,
    * [[KernelCellBytes]] / (dim × 8)) with dim probed from the data in
    * the same routing aggregate — 65536 rows is ~32 MB at 64 dims but
    * would be ~400 MB at 768 dims (one-task OOM territory), and just
    * under a row-only cap the O(|cell|²·d) scoring of one huge wide-dim
    * cell would serialize on a single core where the salted join spreads
    * it over saltParts tasks. */
  val MaxKernelCellRows: Int = 1 << 16

  /** Per-task buffer budget for the [[semanticDedup]] kernel route:
    * 32 MB of vector doubles (the measured-safe size at 64 dims). */
  val KernelCellBytes: Long = 32L << 20

  private def kernelCell(input: String) =
    ScalePolicy.Route("kernel-cell", input, "cell", "kernel", "join")

  /** The largest cell of `cells` (rows) and the kernel's row cap for it:
    * one routing aggregate yields BOTH the largest cell and the embedding
    * dimension, since the kernel buffers maxCell × dim doubles in one task
    * and the row cap alone is meaningless for wide embeddings (65536 rows
    * of 768-dim = ~400 MB). Cap = min(rows, bytes-budget / row). */
  private def largestCell(cells: DataFrame): (Long, Long) = {
    val stats = cells.groupBy("cell")
      .agg(count(lit(1)).as("c"), max(size(col("v"))).as("d"))
      .agg(max(col("c")), max(col("d"))).head
    val maxCell = Option(stats.get(0)).map(_.asInstanceOf[Long]).getOrElse(0L)
    val dim = Option(stats.get(1)).map(_.asInstanceOf[Int]).getOrElse(1).max(1)
    (maxCell, math.min(MaxKernelCellRows.toLong, KernelCellBytes / (dim.toLong * 8L)))
  }

  def semanticDedup(emb: DataFrame, cents: DataFrame, threshold: Double,
                    saltParts: Int = 8): DataFrame = {
    require(saltParts > 0, s"saltParts must be positive, got $saltParts")
    // Cell assignment is the size-gated kernel/window route shared with
    // the IVF tier ([[Similarity.cellsRankedAuto]] at p = 1): under the
    // broadcast cap, one NearestCentroids codegen pass — no cross join,
    // no window, no exchange; over it, the declarative cellsRanked plan.
    //
    // double-cast and norm are computed ONCE per vector, before the
    // checkpoint — the naive per-pair cosine4 evaluates THREE 64-dim dots
    // per pair (a·b plus both norms); with |cell|² pairs per cell that
    // tripling is the dominant cost. Numerically identical: the same
    // sqrt(dot(v,v)) doubles divide the same pair dot.
    //
    // The cell table feeds three consumers (both pair sides + the size
    // report): one lazy narrow materialization instead of three assignment
    // passes (k dots per row each).
    val cells = Materialize(Similarity.cellsRankedAuto(emb, cents, 1)
      .select(col("vec_id"),
        VectorFunctions.asDouble(col("embedding")).as("v"),
        col("cid").as("cell"))
      .withColumn("nrm", VectorFunctions.norm(col("v"))))
    // Route on the LARGEST cell (one slim aggregate over the checkpointed
    // cell table — the connectedComponentsAuto/boundedRows probe pattern).
    // The declarative pair join materializes |cell|²/2 join rows each
    // carrying TWO d-dim double arrays — at sf1 that row copying, not the
    // dot arithmetic, was 7 of the query's 8 seconds. Within the cell-size
    // contract the per-cell kernel below scores the same pairs in a tight
    // primitive loop with zero pair-row materialization; oversized cells
    // keep the spill-safe salted join.
    if (ScalePolicy.probe(emb.sparkSession, kernelCell("semanticDedup"))(
        largestCell(cells)))
      return semanticDedupKernel(cells, threshold)
    // Salted pair join: colocating by cell alone caps parallelism at k
    // cells — fine at corpus scale (k ≥ cores by construction), a 3-task
    // bottleneck locally where k = 8 < 32. The b side is replicated
    // saltParts ways and the a side routes to salt a_id % saltParts, so
    // every within-cell pair still meets EXACTLY once while the scoring
    // stage spreads over k × saltParts keys. At scale set saltParts = 1
    // (no replication) — the knob trades shuffle volume for parallelism
    // only where cells are fewer than cores.
    val salts = array((0 until saltParts).map(i => lit(i.toLong)): _*)
    val a = cells.select(col("cell"), col("vec_id").as("a_id"),
      col("v").as("a_v"), col("nrm").as("na"),
      // pmod, not %: a negative vec_id under % lands outside 0..saltParts-1
      // and would silently miss every replicated b-side salt
      pmod(col("vec_id"), lit(saltParts.toLong)).as("s"))
    val b = cells.select(col("cell"), col("vec_id").as("b_id"),
      col("v").as("b_v"), col("nrm").as("nb"))
      .withColumn("s", explode(salts))
    val hits = a.join(b, Seq("cell", "s"))
      .where(col("a_id") < col("b_id") &&
        cosine4(VectorFunctions.dot(col("a_v"), col("b_v")),
          col("na"), col("nb")) >= lit(threshold))
      .select(col("cell"), col("b_id"))
    // ONE aggregation produces the whole report: the pair hits union the
    // vector rows (tagged b_id = null), then per cell n_vectors counts the
    // null tags and n_dropped count-distincts the hit ids (nulls ignored).
    // This replaces a distinct pass + a separate size branch + a join-back
    // — two exchanges and an aggregation pipeline fewer.
    hits.unionByName(cells.select(col("cell"),
        lit(null).cast("long").as("b_id")))
      .groupBy("cell")
      .agg(count(when(col("b_id").isNull, 1)).as("n_vectors"),
        countDistinct(col("b_id")).as("n_dropped"))
      .select(col("cell"), col("n_vectors"), col("n_dropped"),
        (col("n_vectors") - col("n_dropped")).as("n_kept"))
  }

  /** [[semanticDedup]]'s within-cell pair scoring as a per-cell primitive
    * loop — the documented tier-(d) imperative case
    * ([[embeddingNearDupPairs]]'s rationale, SURVEY.md §2.10): the
    * declarative join expresses "every within-cell pair" only by
    * MATERIALIZING every pair as a row carrying both d-dim arrays; this
    * route buffers one cell per task (bounded by the route gate + the
    * SemDeDup k-growth contract), sorts by vec_id and scans each j's
    * lower-id mates with EARLY EXIT on the first cosine hit — the
    * keep-lowest-id rule needs existence, not the full hit list.
    * Parallelism = k cells (≥ cores at corpus scale by the k-growth
    * contract; the checkpointed cell exchange spreads them).
    *
    * Determinism: dotArr's sequential dot order, sqrt-of-self-dot norms
    * and HALF_UP round4 replicate the declarative cosine bit-for-bit, and
    * a NaN cosine (zero-norm vector) counts as a hit because Spark SQL
    * orders NaN above every double — `cos >= threshold` is TRUE on the
    * join route, so the kernel must agree (plain Scala `>=` would not). */
  private def semanticDedupKernel(cells: DataFrame,
                                  threshold: Double): DataFrame = {
    val spark = cells.sparkSession
    import spark.implicits._
    // Pinned cell exchange, NOT a lambda-keyed groupByKey (codecDocIds'
    // rationale): AQE sizes post-shuffle partitions by BYTES and cannot
    // see the Σ|cell|² pair cost — at sf0.1 it coalesced the whole pair
    // stage onto 2 tasks. A user-specified repartition is coalesce-exempt,
    // and the within-partition (cell, vec_id) sort makes each cell a
    // contiguous id-ordered run the per-partition scan groups directly —
    // no typed-groupBy exchange, no per-group sortBy.
    cells.select(col("cell"), col("vec_id"), col("v"))
      .repartition(spark.sparkContext.defaultParallelism, col("cell"))
      .sortWithinPartitions("cell", "vec_id")
      .as[(Long, Long, Array[Double])]
      .mapPartitions { it =>
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
        // the keep-lowest-id rule needs only the id ORDER, which the
        // within-partition (cell, vec_id) sort already provides
        val vecs = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
        var cur = 0L; var has = false
        def flush(): Unit = if (has) {
          val n = vecs.length
          val norms = new Array[Double](n)
          var i = 0
          while (i < n) {
            norms(i) = math.sqrt(dotArr(vecs(i), vecs(i))); i += 1
          }
          var dropped = 0L
          var j = 1
          while (j < n) {
            var hit = false
            var k = 0
            while (!hit && k < j) {
              val raw = dotArr(vecs(k), vecs(j)) / (norms(k) * norms(j))
              // gate the BigDecimal round4 on the raw value (x34's r10
              // measurement: ~550 ns/round4 vs ~80 ns/dot); HALF_UP can
              // lift at most 5e-5, so the prefilter is a strict superset
              if (raw.isNaN || raw >= threshold - 6e-5) {
                val cos = round4(raw)
                if (cos.isNaN || cos >= threshold) hit = true
              }
              k += 1
            }
            if (hit) dropped += 1
            j += 1
          }
          out += ((cur, n.toLong, dropped))
          vecs.clear()
        }
        it.foreach { case (c, _, v) =>
          if (!has || c != cur) { flush(); cur = c; has = true }
          vecs += v
        }
        flush()
        out.iterator
      }
      .toDF("cell", "n_vectors", "n_dropped")
      .withColumn("n_kept", col("n_vectors") - col("n_dropped"))
  }

  /** Dropped-batch-ids core for CROSS-BATCH semantic dedup
    * ([[graft.pipeline.IncrementalDedup.semanticBatch]]'s scoring seam):
    * `cells` carries (cell, tag, vec_id, v) where tag 0 marks HISTORY
    * vectors — kept by an earlier batch, they claim but are never dropped
    * themselves — and tag 1 marks current-batch vectors. A batch vector is
    * dropped when its round-4 cosine with ANY history cell-mate or ANY
    * lower-id batch cell-mate reaches `threshold`; `struct(tag, vec_id)`
    * IS the priority order, so this is exactly [[semanticDedup]]'s greedy
    * keep-lowest-id rule extended by "history outranks every batch vector".
    * Greedy like the one-shot: a DROPPED batch vector still claims later
    * ids (same-batch determinism; exhaustive clusters are x60's job).
    * Returns the dropped vec_ids (one column, distinct).
    *
    * Size-gated exactly like [[semanticDedup]] (shared dimension-aware
    * cap): in-contract cells take a per-cell primitive loop with early
    * exit and zero pair-row materialization; oversized cells the
    * spill-safe salted pair join. NaN cosines (zero-norm vectors) count
    * as hits on both routes — Spark SQL orders NaN above every double. */
  private[graft] def semanticClaimedIds(cells: DataFrame, threshold: Double,
      saltParts: Int = 8): DataFrame = {
    require(saltParts > 0, s"saltParts must be positive, got $saltParts")
    if (ScalePolicy.probe(cells.sparkSession, kernelCell("semanticClaimedIds"))(
        largestCell(cells)))
      return semanticClaimedKernel(cells, threshold)
    // x83's salted pair join with the id order generalized to the
    // (tag, vec_id) struct: a = claimants (every row), b = batch rows;
    // each qualifying pair meets exactly once at s = pmod(a_id).
    val salts = array((0 until saltParts).map(i => lit(i.toLong)): _*)
    val withN = cells.withColumn("nrm", VectorFunctions.norm(col("v")))
    val a = withN.select(col("cell"),
      struct(col("tag"), col("vec_id")).as("ak"),
      col("v").as("a_v"), col("nrm").as("na"),
      pmod(col("vec_id"), lit(saltParts.toLong)).as("s"))
    val b = withN.where(col("tag") === 1)
      .select(col("cell"), struct(col("tag"), col("vec_id")).as("bk"),
        col("v").as("b_v"), col("nrm").as("nb"))
      .withColumn("s", explode(salts))
    a.join(b, Seq("cell", "s"))
      .where(col("ak") < col("bk") &&
        cosine4(VectorFunctions.dot(col("a_v"), col("b_v")),
          col("na"), col("nb")) >= lit(threshold))
      .select(col("bk.vec_id").as("vec_id")).distinct()
  }

  /** [[semanticClaimedIds]]' kernel route: one cell buffered per task
    * (bounded by the shared dimension-aware gate), history-first
    * (cell, tag, vec_id) sort, early-exit scan of each batch vector's
    * predecessors. [[semanticDedupKernel]]'s determinism contract —
    * dotArr order, sqrt-of-self-dot norms, HALF_UP round4, NaN = hit. */
  private def semanticClaimedKernel(cells: DataFrame,
                                    threshold: Double): DataFrame = {
    val spark = cells.sparkSession
    import spark.implicits._
    cells.select(col("cell"), col("tag"), col("vec_id"), col("v"))
      .repartition(spark.sparkContext.defaultParallelism, col("cell"))
      .sortWithinPartitions("cell", "tag", "vec_id")
      .as[(Long, Int, Long, Array[Double])]
      .mapPartitions { it =>
        val out = scala.collection.mutable.ArrayBuffer.empty[Long]
        val vecs = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
        val norms = scala.collection.mutable.ArrayBuffer.empty[Double]
        var cur = 0L; var has = false
        it.foreach { case (c, tag, id, v) =>
          if (!has || c != cur) {
            vecs.clear(); norms.clear(); cur = c; has = true
          }
          val nrm = math.sqrt(dotArr(v, v))
          if (tag == 1) {
            var hit = false
            var k = 0
            while (!hit && k < vecs.length) {
              val raw = dotArr(vecs(k), v) / (norms(k) * nrm)
              // round4 gated on the raw value (x34's r10 measurement)
              if (raw.isNaN || raw >= threshold - 6e-5) {
                val cos = round4(raw)
                if (cos.isNaN || cos >= threshold) hit = true
              }
              k += 1
            }
            if (hit) out += id
          }
          vecs += v; norms += nrm
        }
        out.iterator
      }
      .toDF("vec_id")
  }

  /** Cross-document repeated-passage removal — the C4/RefinedWeb passage
    * dedup step: cut every document into non-overlapping `chunkTokens`-token
    * chunks, key each chunk by its md5 (the 16-byte digest is what shuffles,
    * never the passage text), and keep the first (doc_id, off) occurrence of
    * each distinct passage. Returns the per-document report
    * (doc_id, n_chunks, n_dupes), unordered — callers sort.
    *
    * Scale shape: one slim digest shuffle for the keep-first window (key
    * cardinality = distinct passages) and one doc_id aggregate — both keys
    * maximal-cardinality, no pair joins anywhere. */
  /** Shared chunk extraction behind passage dedup (batch here, streaming in
    * [[graft.streaming.EventStreams.streamingPassageDedup]] — one copy, so
    * the claimed batch ≡ streaming chunk semantics cannot drift): cut each
    * document into non-overlapping `chunkTokens`-token chunks and key each
    * by its 16-byte BINARY md5 digest (`unhex(md5(...))` — half the
    * shuffle/state bytes of the 32-char hex string, invisible to outputs).
    * Emits carry ++ (doc_id, off, chunk, h); tokenless docs are excluded. */
  private[graft] def passageChunks(docs: DataFrame, chunkTokens: Int,
                                   textCol: String,
                                   carry: Seq[String] = Nil): DataFrame =
    docs
      // token-free exclusion via a predicate the optimizer can push to the
      // scan WITHOUT evaluating the token split there: tokens = split on
      // ' ' filtered non-empty, so n > 0 ⟺ some non-space char ⟺ trim
      // strips to non-empty. The old where(size(toks) > 0) form pushed the
      // WHOLE split below any caller's spread exchange (perf trap (a) —
      // the expression then evaluated on the 1-2 parquet input splits and
      // again post-exchange), which is why the round-6 kernelDocs A/B on
      // x85 measured as a wash.
      .where(trim(col(textCol)) =!= "")
      .select((carry :+ "doc_id").map(col) :+
        expr(Portable.tokens(SparkD, textCol)).as("toks"): _*)
      .withColumn("n", size(col("toks")))
      .select((carry :+ "doc_id").map(col) ++ Seq(col("toks"),
        explode(expr(s"sequence(1, n, $chunkTokens)")).as("off")): _*)
      .select((carry :+ "doc_id").map(col) ++ Seq(
        col("off").cast("bigint").as("off"),
        concat_ws(" ", slice(col("toks"), col("off"), lit(chunkTokens)))
          .as("chunk")): _*)
      .withColumn("h", unhex(md5(col("chunk"))))

  /** Winnowing fingerprint dedup report (Schleimer, Wilkerson & Aiken,
    * SIGMOD'03 — the MOSS local fingerprinting algorithm; E8 family, no
    * reference counterpart). Per document: hash every k-token k-gram
    * (base-31 polynomial over the token hashes), slide a window of w
    * consecutive k-gram hashes, and select each window's minimum. The
    * winnowing guarantee: any run of ≥ k+w−1 shared tokens between two
    * documents contributes at least one shared selected fingerprint, at an
    * expected density of 2/(w+1) — local dedup signal with a bounded
    * signature size, unlike [[ngramNearDupPairs]]'s full shingle sets. The
    * distinct selected values form the document's fingerprint set; a
    * per-fingerprint keep-first window (x85's rule) then charges every
    * fingerprint already claimed by an earlier document as a duplicate.
    *
    * Output: (doc_id, n_fp, n_dup_fp, near_dup) ordered by the caller;
    * near_dup = 1 when ≥ 80% of the document's fingerprints were already
    * claimed. Documents with fewer than k+w−1 tokens have no window and are
    * excluded (they cannot carry a guaranteed shared run — and the filter
    * also guards Spark's descending `sequence(1, n)` for n < 1).
    *
    * Scale shape: the whole signature chain (token hashes → k-gram hashes
    * → window minima → distinct) is the ONE-PASS [[graft.functions
    * .WinnowSet]] codegen kernel — a single static call inside
    * whole-stage codegen, replacing the three-projection HOF chain (three
    * array materializations per row) the operator originally staged;
    * KernelParitySpec pins kernel ≡ HOF on the real corpus. Short docs
    * yield an empty set (no filter needed — and the earlier token-count
    * pre-filter was itself the fix for a pushed-down size(hs) predicate
    * that re-ran the kernel on the scan side, the x20 trap). The only
    * shuffle carries (fp: BIGINT, doc_id) pairs — fingerprint-cardinality
    * keys, never text. Keep-first here remains the per-fp WINDOW (unlike
    * [[passageDedup]]'s round-6 min-of-struct reshape): the per-doc n_fp
    * has no closed form short of running the winnow kernel twice (the
    * size() pushdown would be exactly the x20 trap the pre-filter removal
    * fixed), so the x85 pattern would need a checkpoint of the kernel
    * output. If hot-fingerprint skew (a boilerplate run shared corpus-wide
    * serializing one sort task) ever binds, that checkpointed reshape is
    * the designed escape hatch — min(doc_id) per fp is partial-agg
    * friendly and n_dup_fp = n_fp − #first-claims-in-doc recovers the
    * report without a join back to the exploded rows. */
  def winnowingDedup(docs: DataFrame, k: Int = 4, w: Int = 5,
                     textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val win = Window.partitionBy("fp").orderBy("doc_id")
    docs
      .select(col("doc_id"),
        explode(graft.functions.TextHashFunctions.winnowSet(
          col(textCol), k, w)).as("fp"))
      .withColumn("rn", row_number().over(win))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_fp"),
        sum(when(col("rn") > 1, 1L).otherwise(0L)).as("n_dup_fp"))
      .withColumn("near_dup",
        when(col("n_dup_fp") * 5 >= col("n_fp") * 4, 1L).otherwise(0L))
  }

  def passageDedup(docs: DataFrame, chunkTokens: Int = 30,
                   textCol: String = "text"): DataFrame = {
    // Keep-first as ONE min-of-struct aggregate per digest (x49/x99's
    // move; round-6 continuation — replaced a per-h ranking window): the
    // h exchange now carries one (digest, min-struct) row per distinct
    // digest per map partition (partial agg), never every chunk, and
    // nothing sorts. A doc's dupe count is then recovered WITHOUT joining
    // the chunks back: n_dupes(doc) = n_chunks(doc) − #digests whose
    // first occurrence lies in doc, and n_chunks is closed-form from the
    // token count (offsets step by chunkTokens), via the one-byte-scan
    // TokenCount kernel — no second tokenize, no explode on that side.
    // IDENTICAL base subtree on both consumers — the same trim predicate
    // passageChunks pins (n > 0 ⟺ trim non-empty, so no second filter is
    // needed): after pushdown both sides read
    // Repartition(Filter(Project(Scan))) and ReuseExchange collapses the
    // two corpus scans + exchanges into one (measured as two separate
    // ~0.13 s scan jobs at sf1 before the alignment).
    val perDoc = docs
      .where(trim(col(textCol)) =!= "")
      .select(col("doc_id"),
        graft.functions.TextHashFunctions.tokenCount(col(textCol)).as("n"))
      .select(col("doc_id"),
        expr(s"CAST((n + ${chunkTokens - 1}) div $chunkTokens AS BIGINT)")
          .as("n_chunks"))
    val firstsPerDoc = passageChunks(docs, chunkTokens, textCol)
      .groupBy("h")
      .agg(min(struct(col("doc_id"), col("off"))).as("f"))
      .groupBy(col("f.doc_id").as("doc_id"))
      .agg(count(lit(1)).as("n_first"))
    perDoc.join(firstsPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        (col("n_chunks") - coalesce(col("n_first"), lit(0L))).as("n_dupes"))
  }

  // ──────────────────────── decontamination tier ────────────────────────

  /** Ceiling on the eval-side distinct-shingle estimate the single-bloom
    * decontamination route is sized for. Aligned with Spark's own default
    * runtime-bloom cap (`spark.sql.optimizer.runtime.bloomFilter.maxNumItems`
    * = 4M): past it a single fixed-size sketch saturates (fpp → 1) and the
    * prefilter stops filtering, so the route falls back to the exact
    * distinct-join shape instead of paying bloom overhead for nothing. The
    * 100 TB eval sets that exceed this (e.g. a 100M-n-gram benchmark union)
    * raise the conf caps and/or shard the sketch by shingle range — one
    * bloom per range, each probed only by its range's shingles. */
  val MaxBloomItems: Long = 4L * 1000 * 1000

  private val BloomItems = ScalePolicy.Route(
    "bloom-items", "contaminationCounts", "shingles", "bloom", "exact")

  /** Bit-size clamp of [[evalShingleBloom]]'s sketch (8 MB) and the target
    * density. The REAL saturation point is BloomBitCap / BloomBitsPerItem
    * ≈ 4.19M items; [[MaxBloomItems]] deliberately sits just under it (at
    * Spark's own runtime-bloom maxNumItems default) so every in-cap route
    * gets the designed ~16 bits/item fpp. `BloomConstantsSpec` pins
    * MaxBloomItems ≤ BloomBitCap / BloomBitsPerItem so the two can never
    * drift apart if either is retuned (ADVICE r11: the streaming guard
    * used to compare against a constant unrelated to the actual clamp). */
  val BloomBitCap: Long = 1L << 26
  val BloomBitsPerItem: Long = 16L

  /** Per-eval-doc contamination counts: for each doc in `eval`, how many of
    * its distinct 3-gram shingles appear anywhere in `train` — the
    * benchmark-decontamination primitive (the GPT-3/PaLM n-gram-overlap
    * setup: the EVAL side is the small benchmark suite, the TRAIN side the
    * corpus). Output: (idCol, n_shared), docs with ≥ 1 shared shingle only.
    * EXACT on both routes — the bloom is a prefilter, never the verdict.
    *
    * Routes on `expectedEvalShingles` (an upper estimate is fine — sizing
    * affects sketch size/fpp, never correctness):
    *
    *  - `bloom` (≤ [[MaxBloomItems]]): ONE pass over the eval shingles folds
    *    them into a fixed-size bloom sketch (partial-agg: tasks OR-merge
    *    bit arrays; nothing shuffles but the sketch), collected as one
    *    bounded binary row and broadcast ([[bloomProbe]]). The train scan then
    *    keeps only shingles that might be shared BEFORE the distinct — the
    *    whole point at 100 TB: the exact shape's `distinct` shuffles every
    *    distinct TRAIN shingle (corpus-sized), the bloom shape shuffles
    *    ≈ |shared| + fpp·|train-distinct| rows (result-sized). No false
    *    negatives, so every truly shared shingle survives; false positives
    *    are train shingles NOT in eval, which the final equality join drops
    *    — they can never match an eval row. Exact by construction.
    *  - `exact` (over cap, and under `spark.graft.scale=large`): the x66
    *    baseline shape — distinct train shingles, equality join,
    *    group-count.
    *
    * An empty train or eval side yields an empty result on both routes (an
    * empty-input bloom aggregate is NULL, which probes to NULL and the
    * filter drops — empty-set membership). A train side that is already
    * one partition ([[ScalePolicy.onePartition]]) builds the final join
    * inline, as a shuffled hash join, instead of broadcasting it. */
  def contaminationCounts(train: DataFrame, eval: DataFrame,
                          expectedEvalShingles: Long,
                          idCol: String = "doc_id", textCol: String = "text",
                          shsCol: Option[String] = None): DataFrame = {
    // shsCol (r17): callers that already hold a PACKED shingle-set column
    // (x102's kernel-once checkpoint) pass its name — the per-side kernel
    // evaluation is skipped and both sides (and the bloom build) explode
    // the packed arrays. The default keeps the kernel-per-side shape for
    // raw-text callers (streaming gate, specs).
    val sh = shsCol.map(col).getOrElse(
      graft.functions.TextHashFunctions.shingleSet(col(textCol)))
    val trainSh = train.select(explode(sh).as("sh"))
    val evalSh = eval.select(col(idCol), explode(sh).as("sh"))
    val trainMatch =
      if (ScalePolicy.probe(train.sparkSession, BloomItems)(
          (expectedEvalShingles, MaxBloomItems))) {
        val bloom = evalShingleBloom(eval, expectedEvalShingles, textCol, shsCol)
        trainSh.where(bloomProbe(train.sparkSession, bloom)(col("sh"))).distinct()
      } else trainSh.distinct()
    // a one-partition train side (r15): a broadcast build there costs one
    // extra job for a hash map the single task could build inline, so the
    // build is hinted shuffle_hash (SinglePartition satisfies the SHJ's
    // distribution: zero exchanges, one job). At scale the broadcast of the
    // result-sized trainMatch side is the right plan and stays the default.
    val oneTask = ScalePolicy.onePartition("contaminationCounts.train", train)
    evalSh.join(if (oneTask) trainMatch.hint("shuffle_hash") else trainMatch, "sh")
      .groupBy(idCol).agg(count(lit(1)).as("n_shared"))
  }

  /** Membership probe against a serialized bloom sketch, carried to the
    * tasks as ONE broadcast variable: as a plan literal the sketch (up to
    * 8 MB) would be copied into every plan string and serialized task, and
    * AQE re-optimizes the plan holding it after every stage. A NULL sketch
    * (empty eval side) probes to NULL, which filters drop: empty-set
    * membership. No false negatives; false positives at the sketch's fpp,
    * so exact operators must re-verify. */
  def bloomProbe(spark: org.apache.spark.sql.SparkSession,
                 bloom: Array[Byte]): Column => Column =
    if (bloom == null) _ => lit(null).cast("boolean")
    else {
      val sketch = spark.sparkContext.broadcast(
        org.apache.spark.util.sketch.BloomFilter.readFrom(bloom))
      val probe = udf((v: Long) => sketch.value.mightContainLong(v))
      v => probe(v)
    }

  /** Build the serialized bloom sketch of `eval`'s distinct shingles — the
    * shared prefilter state of [[contaminationCounts]] and the streaming
    * gate. NULL for an empty eval side ([[bloomProbe]] of NULL is NULL =
    * empty-set membership). Sized ~16 bits/item (fpp ≈ 5e-4), conf-capped;
    * the estimate affects size/fpp only, never correctness.
    *
    * Bounded driver materialization (DriverBoundSpec): ONE binary row of
    * ≤ 8 MB whose size is fixed by the parameters, not the data — a
    * sketch, like any broadcast build. */
  def evalShingleBloom(eval: DataFrame, expectedEvalShingles: Long,
                       textCol: String = "text",
                       shsCol: Option[String] = None): Array[Byte] = {
    import org.apache.spark.sql.GraftSqlBridge
    val items = math.max(expectedEvalShingles, 1024L)
    val bits = math.min(items * BloomBitsPerItem, BloomBitCap)
    eval.select(explode(shsCol.map(col).getOrElse(
        graft.functions.TextHashFunctions.shingleSet(col(textCol)))).as("sh"))
      .agg(GraftSqlBridge.bloomFilterAgg(col("sh"), items, bits).as("b"))
      .head().getAs[Array[Byte]]("b")
  }

  /** Embedding-cosine near-dup pairs among a bounded probe set (callers cap
    * the probe side; the unbounded scale path is embeddingNearDupLsh).
    *
    * Implemented with `mapPartitions` + an explicit broadcast of the probe
    * vectors — the documented tier-(d) case (SURVEY.md §2.10): brute-force
    * pair scoring is genuinely per-partition imperative compute, and the
    * row-at-a-time BroadcastNestedLoopJoin alternative measured ~1.4µs/pair
    * of pure join overhead (14× the arithmetic). Shape at scale: candidates
    * scan their partition once, probes ride a broadcast variable, no shuffle
    * until the final (tiny) result.
    *
    * Determinism contract: widening, sequential dot order, and HALF_UP
    * rounding replicate exactly what the declarative form (and the DuckDB
    * oracle) compute, so results hash-match. */
  /** Hard ceiling on the collected probe set (rows). The probe side lives on
    * the driver and rides an executor broadcast; an unbounded probe set is a
    * driver OOM, so exceeding the cap fails LOUDLY instead of degrading. */
  val MaxProbeRows: Int = 100000

  def embeddingNearDupPairs(emb: DataFrame, maxProbeId: Long,
                            threshold: Double,
                            maxProbeRows: Int = MaxProbeRows): DataFrame = {
    val spark = emb.sparkSession
    import org.apache.spark.sql.Encoders
    // one-job bounded collect — see Actions.boundedRows for why limit+collect
    // costs several scheduling-floor jobs on a probe that never hits its limit
    val collected = graft.engine.Actions.boundedRows(
      emb.where(col("vec_id") < maxProbeId)
        .select(col("vec_id"), VectorFunctions.asDouble(col("embedding"))),
      maxProbeRows)
      .getOrElse(throw new IllegalStateException(
        s"embeddingNearDupPairs: probe set exceeds $maxProbeRows rows " +
          s"(vec_id < $maxProbeId). This operator brute-forces a BOUNDED " +
          "probe set on the driver; for an unbounded corpus use " +
          "embeddingNearDupLsh (banded LSH, fully distributed)."))
    val probes: Array[(Long, Array[Double], Double)] = collected
      .map { r =>
        val v = r.getSeq[Double](1).toArray
        (r.getLong(0), v, math.sqrt(dotArr(v, v)))
      }
      .sortBy(_._1)
    val bc = spark.sparkContext.broadcast(probes)
    val enc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
      Encoders.scalaDouble)
    // repartition spreads the candidate scan across cores (the probe side is
    // broadcast, so this shuffle is just the candidate rows, once)
    emb.select(col("vec_id"), VectorFunctions.asDouble(col("embedding")))
      .repartition(emb.sparkSession.sparkContext.defaultParallelism)
      .mapPartitions { rows =>
        val ps = bc.value
        rows.flatMap { r =>
          val b = r.getLong(0)
          val vb = r.getSeq[Double](1).toArray
          val nb = math.sqrt(dotArr(vb, vb))
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
          var i = 0
          while (i < ps.length && ps(i)._1 < b) {
            val p = ps(i)
            val raw = dotArr(p._2, vb) / (p._3 * nb)
            // round4 gated on the raw value (x34's r10 measurement). NaN
            // raw fails the prefilter exactly as NaN cos failed >= here.
            if (raw >= threshold - 6e-5) {
              val cos = round4(raw)
              if (cos >= threshold) out += ((p._1, b, cos))
            }
            i += 1
          }
          out
        }
      }(enc)
      .toDF("a", "b", "cos")
  }

  /** Sequential left-to-right dot — the exact summation order of
    * [[graft.functions.DotProduct]] and DuckDB's list_dot_product. */
  /** Round-4 cosine from precomputed norms, ANSI-safe: Spark 4 raises
    * DIVIDE_BY_ZERO on double division, so a zero-norm pair must go
    * through try_divide; the NULL it returns is coalesced to NaN, which
    * Spark SQL orders above every double — `>= threshold` treats it as a
    * hit, the same contract the kernels implement in Scala. For nonzero
    * norms this is bit-identical to the plain division. */
  private def cosine4(dot: Column, na: Column, nb: Column): Column =
    round(coalesce(try_divide(dot, na * nb), lit(Double.NaN)), 4)

  // private[graft]: the streaming tier's semantic dedup replicates the
  // identical cosine arithmetic (sequential dot, HALF_UP round4) so its
  // keep decisions bit-match the batch kernels'
  private[graft] def dotArr(x: Array[Double], y: Array[Double]): Double = {
    val n = math.min(x.length, y.length)
    var s = 0.0; var i = 0
    while (i < n) { s += x(i) * y(i); i += 1 }
    s
  }

  /** Spark's `round(_, 4)` on doubles: BigDecimal HALF_UP. */
  private[graft] def round4(v: Double): Double =
    if (v.isNaN || v.isInfinite) v
    else java.math.BigDecimal.valueOf(v)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
}
