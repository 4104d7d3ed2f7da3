package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.engine.Materialize
import Portable.{Dialect, Spark => SparkD, Duck => DuckD}

/** Text-analysis operators for the training-data-pipeline tier: language ID
  * (stopword n-gram heuristic), quality scoring, token counting, and document
  * fingerprinting. Every operator is a pure column expression (codegen-able,
  * shuffle-free, embarrassingly parallel over documents — the right shape for
  * a 100 TB corpus scan), and each has a DuckDB rendering of the identical
  * arithmetic for the oracle.
  */
object TextAnalysis {

  /** Stopword profiles for the rule-based language-ID heuristic. Deterministic
    * tie-break: priority order en > de > fr > es, 'und' (undetermined) when no
    * profile matches at all. */
  val profiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une"),
    "es" -> Seq("el", "los", "las", "y", "es", "una"))

  private def inList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("(", ", ", ")")

  /** Per-language stopword hit count over a tokens-array column. */
  def langCount(d: Dialect, toksCol: String, lang: String): String = {
    val words = profiles.toMap.apply(lang)
    d.arraySize(d.filter(toksCol, "t", s"t IN ${inList(words)}"))
  }

  /** argmax over the 4 per-language count columns, priority-ordered ties. */
  def langPick(en: String, de: String, fr: String, es: String): String =
    s"""CASE WHEN greatest($en, $de, $fr, $es) = 0 THEN 'und'
       | WHEN $en >= greatest($de, $fr, $es) THEN 'en'
       | WHEN $de >= greatest($fr, $es) THEN 'de'
       | WHEN $fr >= $es THEN 'fr' ELSE 'es' END""".stripMargin

  /** Total characters across tokens (excludes whitespace). */
  def tokenChars(d: Dialect, toksCol: String): String =
    d.listSum(d.transform(toksCol, "t", "CAST(length(t) AS BIGINT)"))

  /** Quality score: logistic over log-length and stopword density. The raw
    * (unrounded) components feed the logistic; only the outputs are rounded.
    * The operands are cast to DOUBLE explicitly: the same text feeds both
    * engines, and without the casts Spark's parser typed the bare `1.0`
    * literals DECIMAL and ran the density term through BigDecimal division
    * per row (≈0.5 s of x24's sf5 wall) while DuckDB was already doing
    * IEEE double division — the casts make the arithmetic identical ops on
    * both sides as well as codegen-cheap. */
  def qualityScore(nToks: String, stopHits: String): String =
    s"round(1.0 / (1.0 + exp(-(0.2 * ln(1.0 + CAST($nToks AS DOUBLE)) + " +
      s"2.0 * (CAST($stopHits AS DOUBLE) / CAST($nToks AS DOUBLE)) - 1.0))), 4)"

  /** Regex token count ("BPE-ish": runs of alnum, else single symbols). */
  def regexTokens(d: Dialect, textCol: String): String = d match {
    case SparkD => s"size(regexp_extract_all($textCol, '[a-z0-9]+|[^a-z0-9 ]', 0))"
    case DuckD  => s"length(regexp_extract_all($textCol, '[a-z0-9]+|[^a-z0-9 ]'))"
  }

  // ------------------------------------------------------ Spark DataFrames

  /** doc_id, per-language counts, lang_pred — via the one-pass [[LangStats]]
    * kernel (the declarative form runs six HOF array traversals per doc;
    * KernelParitySpec pins kernel ≡ declarative). */
  def languageId(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(col("doc_id"),
        TextHashFunctions.langStats(col(textCol)).as("st"))
      .select(col("doc_id") +:
        profiles.zipWithIndex.map { case ((l, _), i) =>
          element_at(col("st"), i + 1).cast("int").as(s"${l}_hits") }: _*)
      .withColumn("lang_pred",
        expr(langPick("en_hits", "de_hits", "fr_hits", "es_hits")))

  /** doc_id, n_tokens, avg_token_len, stopword_ratio, quality — same
    * [[LangStats]] single pass feeding the unchanged formulas. */
  def quality(docs: DataFrame, textCol: String = "text"): DataFrame =
    // the token-bearing filter runs on RAW text (∃ non-space char ⇔ n_tokens > 0
    // for the single-space tokenizer): filtering on the kernel's n_tokens
    // output let Catalyst push a LangStats-bearing predicate below the
    // sort exchange, where it re-ran the kernel in the range-sampling job
    // AND the map stage (pair-N sf5 profile: every job of x24's run was
    // ~4× x23's on the identical plan shape)
    docs.where(col(textCol).rlike("[^ ]"))
      .select(col("doc_id"),
        TextHashFunctions.langStats(col(textCol)).as("st"))
      .select(col("doc_id"),
        element_at(col("st"), profiles.length + 1).cast("int").as("n_tokens"),
        element_at(col("st"), profiles.length + 2).as("tok_chars"),
        element_at(col("st"), 1).cast("int").as("en_hits"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("tok_chars") / (lit(1.0) * col("n_tokens")), 4).as("avg_token_len"),
        round(col("en_hits") / (lit(1.0) * col("n_tokens")), 4).as("stopword_ratio"),
        expr(qualityScore("n_tokens", "en_hits")).as("quality"))

  /** doc_id, lang_pred, quality (token-bearing docs only) from ONE LangStats
    * pass — the curation composite's [[languageId]] ⋈ [[quality]] without
    * scanning the corpus twice, running the kernel twice, or paying a
    * doc-level shuffled join to recombine two projections of the same row. */
  def langQuality(docs: DataFrame, textCol: String = "text"): DataFrame =
    // raw-text token-bearing filter, same rationale as [[quality]]: a
    // kernel-output predicate is pushdown bait
    docs.where(col(textCol).rlike("[^ ]"))
      .select(col("doc_id"),
        TextHashFunctions.langStats(col(textCol)).as("st"))
      .select(col("doc_id") +:
        (profiles.zipWithIndex.map { case ((l, _), i) =>
          element_at(col("st"), i + 1).cast("int").as(s"${l}_hits") } :+
          element_at(col("st"), profiles.length + 1).cast("int").as("n_tokens")): _*)
      .select(col("doc_id"),
        expr(langPick("en_hits", "de_hits", "fr_hits", "es_hits")).as("lang_pred"),
        expr(qualityScore("n_tokens", "en_hits")).as("quality"))

  /** doc_id, ws_tokens, re_tokens, n_chars — via the byte-scan
    * [[TokenCount]]/[[BpeTokenCount]] kernels (the declarative form
    * materialized the split array AND ran java.util.regex per document
    * just to take two sizes; at sf5 that was the whole kernel-stage cost.
    * KernelParitySpec pins kernel ≡ declarative). */
  def tokenCounts(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(col("doc_id"),
      TextHashFunctions.tokenCount(col(textCol)).as("ws_tokens"),
      TextHashFunctions.bpeTokenCount(col(textCol)).as("re_tokens"),
      length(col(textCol)).cast("bigint").as("n_chars"))

  /** doc_id, fp — order-sensitive rolling-hash document fingerprint, via the
    * one-pass [[Fingerprint]] codegen expression. */
  def fingerprints(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(col("doc_id"), TextHashFunctions.fingerprint(col(textCol)).as("fp"))

  /** BM25 full-text relevance (Robertson–Spärck Jones): score every
    * document against a fixed bag-of-terms query and return the top-k —
    * the retrieval primitive behind corpus search and RAG candidate
    * generation. Per query term: idf from corpus doc frequency, tf
    * saturation with k1 = 1.2, length normalization with b = 0.75 against
    * the corpus average doc length. Per-term scores are rounded to
    * 6-decimal DECIMALs and summed exactly ([[Portable.bm25Term]] — x81's
    * cross-engine determinism discipline); ties break on doc_id.
    *
    * Scale shape: corpus statistics (N, Σdl, per-term df) are ONE
    * aggregation over the slim (dl, tf…) projection, carried to every row
    * by an explicit 1-row broadcast cross join (never a driver collect);
    * the tf/dl projection is per-row HOF arithmetic inside codegen; docs
    * matching no term are filtered before scoring; the top-k plans as
    * TakeOrderedAndProject — per-partition heaps, no global sort. The slim
    * (doc_id, dl, tf…) projection is lazily checkpointed so the tokens
    * kernel runs ONCE for both passes (x84's mechanism) — the stats
    * aggregate materializes it. */
  def bm25(docs: DataFrame, terms: Seq[String], topK: Int = 50,
           textCol: String = "text"): DataFrame = {
    require(terms.nonEmpty && terms.size <= 8, s"1-8 query terms, got ${terms.size}")
    require(terms.forall(_.matches("[A-Za-z0-9_]+")), "terms must be plain words")
    val tf = Materialize(docs
      .select(col("doc_id"), expr(Portable.tokens(SparkD, textCol)).as("toks"))
      .select(col("doc_id") +:
        expr("CAST(size(toks) AS BIGINT)").as("dl") +:
        terms.zipWithIndex.map { case (t, i) =>
          expr(s"CAST(size(filter(toks, x -> x = '$t')) AS BIGINT)").as(s"tf$i")
        }: _*))
    val statAggs = sum(col("dl")).as("sumdl") +:
      terms.indices.map(i =>
        sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i"))
    val stats = tf.agg(count(lit(1)).as("n_docs"), statAggs: _*)
    val scoreDec = terms.indices.map(i =>
      expr(s"CAST(CASE WHEN tf$i > 0 THEN " +
        Portable.bm25Term(s"tf$i", s"df$i", "n_docs", "dl", "sumdl") +
        " ELSE 0.0 END AS DECIMAL(18,6))")).reduce(_ + _)
    val nHit = terms.indices.map(i =>
      when(col(s"tf$i") > 0, 1L).otherwise(0L)).reduce(_ + _)
    tf.crossJoin(broadcast(stats))
      .where(terms.indices.map(i => col(s"tf$i") > 0).reduce(_ || _))
      .select(col("doc_id"), nHit.as("n_hit"), scoreDec.as("score_dec"))
      .orderBy(col("score_dec").desc, col("doc_id")).limit(topK)
      .select(col("doc_id"), col("n_hit"),
        col("score_dec").cast("double").as("score"))
  }

  /** PMI collocation mining (Church & Hanks 1990): the top-k adjacent token
    * pairs by pointwise mutual information among pairs seen ≥ `minCount`
    * times — the phrase-mining step behind tokenizer-vocabulary and
    * stop-phrase decisions. PMI compares the bigram's corpus probability
    * against independence of its unigrams; the quotient is ONE shared
    * double expression rounded to 6 decimals ([[Portable.pmi]]).
    *
    * Scale shape: ONE corpus explode pass emits both count streams —
    * every token as a NULL-marked (w, NULL) row and every adjacent pair
    * as (w1, w2) — into a single groupBy, so unigram and bigram counts
    * come out of one shuffle (the naive two-aggregation form measured 2×
    * the corpus scans, and its broadcast grand totals re-ran them again
    * as independent subquery job trees). The combined count table is
    * vocabulary-bounded and lazily checkpointed ONCE for its four
    * consumers (both join sides, both grand totals); totals ride 1-row
    * broadcast cross joins; the unigram joins AQE-broadcast; top-k is
    * TakeOrderedAndProject. An input that is already one partition
    * ([[graft.engine.ScalePolicy.onePartition]]) takes a join-free window
    * tail instead. */
  def pmiCollocations(docs: DataFrame, minCount: Long = 5, topK: Int = 20,
                      textCol: String = "text"): DataFrame = {
    val oneTask = graft.engine.ScalePolicy.onePartition("pmiCollocations", docs)
    val cnt = Materialize.now(docs
      // one-pass byte-level AllTokens kernel (r16): same ORDERED token
      // array as filter(split(text,' '), t -> t <> '') — order matters
      // here (adjacent pairs) and the kernel preserves it, unlike the
      // multiset-only claim q13/x93 needed — without the Java-regex split
      // and per-token HOF lambda (~2× on the corpus pass)
      .select(TextHashFunctions.allTokens(col(textCol)).as("toks"))
      .select(explode(expr(
        // concat(unigram stream, bigram stream); the bigram transform is
        // CASE-guarded — Spark's sequence(1, n) DESCENDS for n < 1
        "concat(" +
          "transform(toks, t -> struct(t AS w1, CAST(NULL AS STRING) AS w2)), " +
          "CASE WHEN size(toks) >= 2 THEN " +
            "transform(sequence(1, size(toks) - 1), i -> " +
              "struct(element_at(toks, i) AS w1, element_at(toks, i + 1) AS w2)) " +
          "ELSE CAST(array() AS ARRAY<STRUCT<w1: STRING, w2: STRING>>) END)"))
        .as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c")),
      // the two unigram joins broadcast, and the at-scale path adds the
      // tu/tb grand-total builds, all racing on Spark's broadcast pool: a
      // lazy fill would re-run the corpus tokenize pass once per racer
      // (two concurrent 0.42 s jobs profiled at sf0.1, up to 4× at scale)
      Materialize.ConcurrentConsumers)
    // one-partition input (r15, reshaped r16): the whole tail is JOIN-FREE
    // — the grand totals ride UNBOUNDED-frame windows over the single
    // partition (the x84/x93 pattern), and the unigram lookups ride
    // per-word windows over the SAME partition: the
    // unigram row of any pair word necessarily exists in the count table
    // (a bigram's words are tokens too), so max(c where w2 IS NULL) over
    // partitionBy(word) IS the unigram count. r15's fused form kept the
    // two unigram joins, which AQE-broadcast — two extra build jobs and an
    // AQE replan per run (JobProfile r16: ~0.2 s of planning + builds on a
    // 0.36 s corpus pass). SinglePartition satisfies every window
    // distribution, so this plans zero exchanges and one job end-to-end.
    // At scale the joins + 1-row broadcast cross joins stay: a global
    // window would funnel the vocabulary through one task.
    val withTotals =
      if (oneTask) {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy()
        val uniC = max(when(col("w2").isNull, col("c")))
        cnt
          .withColumn("tu", sum(when(col("w2").isNull, col("c"))).over(w))
          .withColumn("tb", sum(when(col("w2").isNotNull, col("c"))).over(w))
          .withColumn("c1", uniC.over(Window.partitionBy("w1")))
          .withColumn("k2", coalesce(col("w2"), col("w1")))
          .withColumn("c2", uniC.over(Window.partitionBy("k2")))
          .where(col("w2").isNotNull && col("c") >= minCount)
          .select(col("w1"), col("w2"), col("c").as("c12"),
            col("c1"), col("c2"), col("tu"), col("tb"))
      } else {
        val uni = cnt.where(col("w2").isNull).select("w1", "c")
        val joined = cnt.where(col("w2").isNotNull)
          .withColumnRenamed("c", "c12")
          .where(col("c12") >= minCount)
          .join(uni.select(col("w1"), col("c").as("c1")), Seq("w1"))
          .join(uni.select(col("w1").as("w2"), col("c").as("c2")), Seq("w2"))
        val tu = cnt.where(col("w2").isNull).agg(sum(col("c")).as("tu"))
        val tb = cnt.where(col("w2").isNotNull).agg(sum(col("c")).as("tb"))
        joined.crossJoin(broadcast(tu)).crossJoin(broadcast(tb))
      }
    withTotals
      .select(col("w1"), col("w2"), col("c12").as("n_pair"),
        expr(s"CAST(${Portable.pmi("c12", "c1", "c2", "tb", "tu")} " +
          "AS DECIMAL(18,6))").as("pmi_dec"))
      .orderBy(col("pmi_dec").desc, col("w1"), col("w2")).limit(topK)
      .select(col("w1"), col("w2"), col("n_pair"),
        col("pmi_dec").cast("double").as("pmi"))
  }

  /** Per-group DISCRETE-percentile threshold over a bounded-cardinality
    * score column: for each `keyCol` group, the smallest `valCol` value
    * whose cumulative count reaches rank ⌈dropPermille·n/1000⌉ (floored at
    * 1 so dropPermille = 0 yields the group minimum, which every value
    * trivially passes). This IS DuckDB's `quantile_disc` at
    * p = dropPermille/1000 — an actual data value, bit-identical
    * cross-engine by construction, with the rank in EXACT integer
    * arithmetic (double `ceil(0.1·n)` errs high on exact ties: 0.1·250 →
    * 25.000…004 → rank 26).
    *
    * Scale shape (the round-5 verdict's top finding, fixed here): NOT a
    * per-group `collect_list` — that materializes one aggregation buffer
    * holding EVERY group member (10⁹ doubles for one CommonCrawl dump at
    * corpus scale, with no partial-agg relief). `valCol` must be a rounded
    * fixed-scale value (the x24 quality score is `round(…, 4)` in (0,1) —
    * ≤ ~10⁴ distinct values), so aggregate the bounded (key, value) COUNT
    * table — partial-agg friendly, state bounded by value cardinality, not
    * corpus size — then take the running-cumsum rank selection with two
    * windows over that bounded table (same key clustering, one exchange of
    * O(keys·values) rows). Returns (keyCol, thr) — same exact data-value
    * threshold as the sorted-list selection, any corpus size. */
  def discreteThreshold(scored: DataFrame, dropPermille: Int,
                        keyCol: String = "source",
                        valCol: String = "quality"): DataFrame = {
    require(dropPermille >= 0 && dropPermille < 1000,
      s"dropPermille in [0,1000), got $dropPermille")
    import org.apache.spark.sql.expressions.Window
    val counts = scored.groupBy(keyCol, valCol).agg(count(lit(1)).as("__c"))
    // `valCol` is the grouping key, so rows are distinct within a group and
    // the running frame needs no tie handling
    val cumW = Window.partitionBy(keyCol).orderBy(valCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    counts
      .withColumn("__cum", sum(col("__c")).over(cumW))
      .withColumn("__rank", expr(
        s"GREATEST(1L, ($dropPermille * sum(__c) OVER " +
          s"(PARTITION BY $keyCol) + 999) DIV 1000)"))
      .where(col("__cum") >= col("__rank"))
      .groupBy(keyCol).agg(min(col(valCol)).as("thr"))
  }

  /** Per-source quality gate with a DATA-DEPENDENT threshold (the
    * FineWeb-style per-dump step: keep each source's top `keepFrac` by
    * quality, so a uniformly-low source cannot flood the corpus the way a
    * fixed global threshold allows): per-source exact discrete percentile
    * of the x24 quality score at (1 − keepFrac), broadcast back, gate,
    * report (source, n_docs, thr, n_kept) — unordered, callers sort.
    *
    * The threshold is the DISCRETE percentile — an actual data value, the
    * SQL-standard "smallest v whose cumulative fraction ≥ p" (DuckDB's
    * `quantile_disc`, empirically pinned) — NOT the interpolated
    * `percentile`/`quantile_cont`: interpolation assembles (1−g)·lo + g·hi
    * in engine-specific operation order and the result diverged at the
    * final ulp cross-engine (0.46274000000000004 vs 0.46274, caught by
    * the oracle). See [[discreteThreshold]] for the bounded-state
    * mechanism (count-table cumsum, not a per-source collect_list).
    *
    * Scale shape: ONE LangStats kernel pass, lazily checkpointed for the
    * threshold aggregate and the gate (x84's mechanism); threshold state
    * is bounded by the score's 4-decimal value cardinality; thresholds
    * ride a broadcast. */
  def qualityGate(docs: DataFrame, keepPermille: Int = 700,
                  textCol: String = "text"): DataFrame = {
    require(keepPermille > 0 && keepPermille <= 1000,
      s"keepPermille in (0,1000], got $keepPermille")
    val dropPm = 1000 - keepPermille
    val scored = Materialize(docs
      // raw-text token-bearing filter, same rationale as [[quality]]
      .where(col(textCol).rlike("[^ ]"))
      .select(col("doc_id"), col("source"),
        TextHashFunctions.langStats(col(textCol)).as("st"))
      .select(col("doc_id"), col("source"),
        element_at(col("st"), profiles.length + 1).cast("int").as("n_tokens"),
        element_at(col("st"), 1).cast("int").as("en_hits"))
      .select(col("doc_id"), col("source"),
        expr(qualityScore("n_tokens", "en_hits")).as("quality")))
    val thr = discreteThreshold(scored, dropPm)
    scored.join(broadcast(thr), Seq("source"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), max(col("thr")).as("thr"),
        sum(when(col("quality") >= col("thr"), 1L).otherwise(0L))
          .as("n_kept"))
  }

  /** Token-budget mixture sampling — the data-mixing step ahead of
    * training, as an operator over any (doc_id, source, text) frame (x84
    * is the catalog wrapper): per-source token totals set a deterministic
    * per-mille keep rate toward an equal share of `budgetPermille`/1000 of
    * the corpus tokens, in exact BIGINT arithmetic (capped at keep-all;
    * a zero-token source trivially keeps everything), applied via the
    * Knuth multiplicative doc_id hash — reproducible across runs, engines
    * and partitionings. Returns the per-source report
    * (source, n_docs, toks_total, rate_pm, n_sampled, toks_sampled),
    * unordered — callers sort.
    *
    * Scale shape: the slim (doc_id, source, n_toks) projection is lazily
    * checkpointed so the tokens kernel runs ONCE for both passes; the
    * per-source aggregate is collected in one bounded job (rates are
    * O(sources) driver arithmetic, mirroring the SQL oracle's integer
    * division exactly); the rate table rides a broadcast. An input that
    * is already one partition ([[graft.engine.ScalePolicy.onePartition]])
    * takes [[mixtureSampleFused]] instead. */
  def mixtureSample(docs: DataFrame, budgetPermille: Long = 250,
                    textCol: String = "text"): DataFrame = {
    require(budgetPermille >= 0 && budgetPermille <= 1000,
      s"budgetPermille must be in [0, 1000], got $budgetPermille")
    val s = docs.sparkSession
    if (graft.engine.ScalePolicy.onePartition("mixtureSample", docs))
      return mixtureSampleFused(docs, budgetPermille, textCol)
    val toks = Materialize(docs.select(col("doc_id"), col("source"),
      expr(s"size(${Portable.tokens(SparkD, textCol)})").cast("bigint")
        .as("n_toks")))
    val bySource = toks.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_toks").cast("bigint").as("toks_total"))
    val srcRows = graft.engine.Actions.boundedRows(bySource, 1 << 20)
      .getOrElse(throw new IllegalStateException(
        "mixtureSample: more than 2^20 sources — the per-source report " +
          "itself is unbounded; aggregate sources upstream"))
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val grand = srcRows.map(_._3).sum
    val nSources = srcRows.length.toLong
    import s.implicits._
    val rates = srcRows.toSeq.map { case (src, nDocs, toksTotal) =>
      val rate =
        if (toksTotal == 0L) 1000L
        else math.min(1000L, 1000L * (grand * budgetPermille / 1000L) /
          (nSources * toksTotal))
      (src, nDocs, toksTotal, rate)
    }.toDF("source", "n_docs", "toks_total", "rate_pm")
    val sampled = toks
      .withColumn("h",
        ((col("doc_id") % lit(1000000007L)) * lit(2654435761L))
          % lit(1000000007L) % lit(1000L))
      .join(broadcast(rates.select("source", "rate_pm")), "source")
      .where(col("h") < col("rate_pm"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_sampled"),
        sum("n_toks").cast("bigint").as("toks_sampled"))
    rates.join(sampled, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("toks_total"),
        col("rate_pm"),
        coalesce(col("n_sampled"), lit(0L)).as("n_sampled"),
        coalesce(col("toks_sampled"), lit(0L)).as("toks_sampled"))
  }

  /** ONE-TASK branch of [[mixtureSample]] (r15, VERDICT r14 directive 4 —
    * the x62 move): an input that is already one partition gets the whole
    * report as ONE job / ONE task with ZERO joins — where the at-scale shape needs a checkpoint (kernel-once),
    * a bounded driver collect (rates arithmetic) and a broadcast join, and
    * pays 7 floor-billed jobs on a 0.6 MB corpus (JobProfile r15). Here the
    * per-source totals, grand total and source count are WINDOW layers over
    * the same single partition (the x93 zipf fusion pattern):
    * rate arithmetic runs per-row in exact BIGINT `div`s identical to the
    * driver's, and the sampled counts fold into the same final aggregate as
    * conditional sums — the tokens kernel runs once, nothing shuffles. */
  private def mixtureSampleFused(docs: DataFrame, budgetPermille: Long,
                                 textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bySrc = Window.partitionBy("source")
    val bySrcOrd = bySrc.orderBy("doc_id")
    val global = Window.partitionBy()
    docs.coalesce(1)
      .select(col("doc_id"), col("source"),
        expr(s"size(${Portable.tokens(SparkD, textCol)})").cast("bigint")
          .as("n_toks"))
      .withColumn("__rn", row_number().over(bySrcOrd))
      .withColumn("toks_total", sum("n_toks").over(bySrc))
      .withColumn("n_docs", count(lit(1)).over(bySrc))
      .withColumn("grand", sum("n_toks").over(global))
      .withColumn("n_sources",
        sum(when(col("__rn") === 1, 1L).otherwise(0L)).over(global))
      .withColumn("rate_pm",
        when(col("toks_total") === 0L, lit(1000L))
          .otherwise(least(lit(1000L), expr(
            s"(1000 * ((grand * $budgetPermille) div 1000)) div " +
              "(n_sources * toks_total)"))))
      .withColumn("h",
        ((col("doc_id") % lit(1000000007L)) * lit(2654435761L))
          % lit(1000000007L) % lit(1000L))
      .groupBy("source")
      .agg(min("n_docs").as("n_docs"), min("toks_total").as("toks_total"),
        min("rate_pm").as("rate_pm"),
        sum(when(col("h") < col("rate_pm"), 1L).otherwise(0L)).as("n_sampled"),
        sum(when(col("h") < col("rate_pm"), col("n_toks")).otherwise(0L))
          .cast("bigint").as("toks_sampled"))
  }

  /** DSIR-style importance weights (Xie et al. 2023, arXiv:2302.03169 —
    * "Data Selection for Language Models via Importance Resampling"): score
    * every non-target document by how much its hashed-bigram distribution
    * resembles the target source's, log w(doc) = Σ_features
    * [ln p_target(b) − ln p_raw(b)] over the doc's bigram instances, with
    * Laplace-smoothed bucket probabilities. (The paper hashes unigrams +
    * bigrams into 10k buckets; bigrams-only into `buckets` here — same
    * estimator, one kernel.) Downstream, sampling ∝ w is the paper's
    * resampling step — x63's deterministic mechanism applies.
    *
    * Output: (doc_id, n_bigrams, logw_sum) for docs with `source` ≠
    * `targetSource` and ≥ 2 tokens, unordered — callers sort. Determinism
    * mirrors x81: per-bucket log-ratios are rounded to 6-decimal DECIMAL and
    * summed exactly (order-independent); only the final sum is cast to
    * double. Callers derive the mean from (logw_sum, n_bigrams).
    *
    * Scale shape: bigram→bucket is the one-pass [[PairBuckets]] codegen
    * kernel (no bigram strings materialized); the bucket-count aggregate is
    * ONE exchange whose result is ≤ `buckets` rows, collected in one job
    * ([[graft.engine.Actions.boundedRows]]); totals and log-ratios are O(B)
    * driver arithmetic; the scoring pass joins the broadcast ratio table —
    * no shuffle join at any corpus size, because the feature space is fixed
    * by construction (the paper's point: hashing bounds the model). */
  def dsirWeights(docs: DataFrame, targetSource: String, buckets: Int = 1024,
                  textCol: String = "text"): DataFrame = {
    val lrTable = dsirLogRatioTable(docs, targetSource, buckets, textCol)
    // scoring pass (x81's one-exchange fusion): range-partition the raw
    // (doc_id, text) projection — sampling sees plain scan rows so the
    // kernel runs once; RangePartitioning(doc_id) satisfies the aggregate's
    // clustering (no agg exchange) and the narrow within-partition sort
    // keeps the output doc_id-clustered for the caller's report sort
    docs.where(col("source") =!= targetSource)
      .select(col("doc_id"), col(textCol))
      .orderBy("doc_id")
      .select(col("doc_id"),
        explode(TextHashFunctions.pairBuckets(col(textCol), buckets))
          .as("bkt"))
      .join(broadcast(lrTable), "bkt")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum("lr").cast("double").as("logw_sum"))
      .sortWithinPartitions("doc_id")
  }

  /** The shared DSIR estimator seam: the broadcastable (bkt, lr) table of
    * Laplace-smoothed target/raw log-ratios, lr as 6-decimal DECIMAL so
    * downstream sums are exact and order-independent. One kernel scan, one
    * bounded one-job collect, O(buckets) driver arithmetic — see
    * [[dsirWeights]] for the full scale contract. */
  private def dsirLogRatioTable(docs: DataFrame, targetSource: String,
                                buckets: Int, textCol: String): DataFrame = {
    require(buckets > 0 && buckets <= (1 << 24),
      s"buckets must be in [1, 2^24], got $buckets")
    val s = docs.sparkSession
    val counts = docs.select(col("source"),
        explode(TextHashFunctions.pairBuckets(col(textCol), buckets))
          .as("bkt"))
      .groupBy("bkt").agg(
        sum(when(col("source") === targetSource, 1L).otherwise(0L)).as("ct"),
        sum(when(col("source") =!= targetSource, 1L).otherwise(0L)).as("cr"))
    // ≤ `buckets` groups by construction — boundedRows is for its one-job
    // collect semantics, not the cap
    val rows = graft.engine.Actions.boundedRows(counts, buckets)
      .getOrElse(throw new IllegalStateException(
        "unreachable: bucket count exceeded the bucket space"))
    val tt = rows.map(_.getLong(1)).sum
    val tr = rows.map(_.getLong(2)).sum
    // ln replicated exactly as in x81's driver route: Math.log IS Spark's
    // LOG and BigDecimal.setScale(6, HALF_UP) IS Spark's round-on-double;
    // the double ops (+1.0, +B, two divides) run in the oracle's order
    val lrRows: Array[org.apache.spark.sql.Row] = rows.map { r =>
      val pT = (r.getLong(1) + 1.0) / (tt + buckets)
      val pR = (r.getLong(2) + 1.0) / (tr + buckets)
      org.apache.spark.sql.Row(r.getLong(0),
        java.math.BigDecimal.valueOf(math.log(pT / pR))
          .setScale(6, java.math.RoundingMode.HALF_UP))
    }
    val lrSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("bkt",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("lr",
        org.apache.spark.sql.types.DecimalType(18, 6))))
    s.createDataFrame(java.util.Arrays.asList(lrRows: _*), lrSchema)
  }

  /** DSIR importance RESAMPLING (Xie et al. 2023 §2, the step after
    * [[dsirWeights]]): draw `k` documents WITHOUT replacement with
    * probability ∝ w(doc) = exp(logw), via the Gumbel-top-k identity
    * (Vieira 2014; Kool et al. ICML'19: argtop-k of logw_i + G_i over
    * independent Gumbels IS a ∝-w sample without replacement). The Gumbel
    * draw is DETERMINISTIC — G = −ln(−ln u) with u = (h + 0.5) / M from
    * x63's Knuth multiplicative doc_id hash (h ∈ [0, M), so u ∈ (0,1)
    * strictly; M = 1e9+7) — reproducible across runs, engines and
    * partitionings, the same discipline as every sampling operator here.
    *
    * Determinism across engines: the per-bucket log-ratios and the Gumbel
    * perturbation are each rounded to 6-decimal DECIMAL, so the selection
    * key logw + G is EXACT decimal arithmetic — the sort both engines run
    * compares identical values (ties broken by doc_id). Only the output
    * column is cast to double, after selection.
    *
    * Output: (doc_id, sel_key) — the k selected docs, highest key first.
    * Docs with < 2 tokens carry no features and are never drawn (no
    * weight), matching [[dsirWeights]]'s domain.
    *
    * Scale shape: everything [[dsirWeights]] does (kernel scan, broadcast
    * ratio table, ONE doc_id exchange) plus per-row key arithmetic and a
    * top-k that plans as TakeOrderedAndProject — per-partition heaps of k
    * rows + one driver merge, never a global sort, at any corpus size. */
  def dsirResample(docs: DataFrame, targetSource: String, k: Int,
                   buckets: Int = 1024, textCol: String = "text"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val lrTable = dsirLogRatioTable(docs, targetSource, buckets, textCol)
    val M = 1000000007L
    val h = (col("doc_id") % lit(M)) * lit(2654435761L) % lit(M)
    val u = (h.cast("double") + lit(0.5)) / lit(M).cast("double")
    val gumbel = round(-log(-log(u)), 6).cast("decimal(18,6)")
    docs.where(col("source") =!= targetSource)
      .select(col("doc_id"), col(textCol))
      .select(col("doc_id"),
        explode(TextHashFunctions.pairBuckets(col(textCol), buckets))
          .as("bkt"))
      .join(broadcast(lrTable), "bkt")
      .groupBy("doc_id")
      .agg(sum("lr").as("logw"))
      .select(col("doc_id"), (col("logw") + gumbel).as("selk"))
      .orderBy(col("selk").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("selk").cast("double").as("sel_key"))
  }
}
