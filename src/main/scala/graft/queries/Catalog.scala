package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{Materialize, ScalePolicy}
import graft.functions.{Portable, TextAnalysis, VectorFunctions => V}
import graft.functions.Portable.{Spark => SparkD, Duck => DuckD}
import graft.operators.{Dedup, Multimodal, Relational, Similarity}
import graft.operators.Relational.reportSortFused
import graft.sources.Tables

/** The declared query set (SURVEY.md §2.12 Q1–Q16 + the extended
  * training-data-pipeline tier), each as a Spark DataFrame program plus the
  * equivalent DuckDB oracle SQL.
  *
  * Determinism contract (SURVEY.md §7 risk register): every query is totally
  * ordered; doubles that result from arithmetic are `round(,4)` (money sums
  * go through DECIMAL(18,2) before the final cast to double); raw doubles
  * pass through both engines bit-identically; no raw timestamps are emitted
  * (testdata `events.ts` is ns-precision, Spark reads µs); shared hash
  * arithmetic comes from [[Portable]] so both engines evaluate identical
  * integers. Column names are aliased identically on both sides.
  */
object Catalog {

  final case class Q(
      name: String,
      build: (SparkSession, String) => DataFrame,
      oracle: Option[String],
      bench: Boolean = true)

  private def t(s: SparkSession, dir: String, n: String) = Tables(s, dir, n)

  /** Register a scratch path for recursive deletion at JVM exit (q08's
    * roundtrip output: the returned DataFrame reads it lazily, so it cannot
    * be deleted inside the build). One hook, shared set. */
  private val scratchPaths =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private lazy val scratchHook: Unit = Runtime.getRuntime.addShutdownHook(
    new Thread(() => scratchPaths.forEach { p =>
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(): Unit
      }
      rm(new java.io.File(p))
    }))
  private def removeOnExit(path: String): Unit = {
    scratchHook
    scratchPaths.add(path): Unit
  }

  /** Total sort for bounded REPORT outputs — row count O(groups), O(k), or
    * O(threshold-filtered pairs), never O(input): a single-partition sort
    * produces the identical total order while skipping `orderBy`'s
    * range-sampling job + range exchange (measured 45–85 ms per query at
    * sf0.1, pure scheduling floor) — and the sampling pass RE-EXECUTES the
    * sort's child, so on a join/verify tail it would run the expensive
    * stage twice. At any scale, merging a bounded report on one task is
    * the right plan; table-shaped outputs below keep the parallel range
    * sort.
    *
    * BOUNDED means bounded by the SCHEMA (groups, k, a capped probe set),
    * not "small at the SF I tested": x18's "threshold-bounded" pair set
    * grew 14k → 1.4M → 65.2M rows across sf0.01/0.1/5 (quadratic in
    * near-dup class sizes) and this tail was 50 of its 62 s at sf5 — a
    * one-task OOM at corpus scale (r10 adjudication, BASELINE.md). Any
    * output that grows with the data takes `orderBy`, and the sampler
    * re-run is priced against the tail it replaces. */
  private def reportSort(df: DataFrame, cols: Column*): DataFrame =
    df.repartition(1).sortWithinPartitions(cols: _*)

  /** Ordered (doc_id, text) for the per-document text-feature queries
    * (x19, x23–x26, x52, x59, x69, x81). Sorting the raw projection first
    * makes the range sampler read scan rows, so the kernels run once, after
    * the sort. The sort pins its partition count at every size, as
    * [[codecDocIds]] does, because AQE sizes the post-sort read by
    * compressed text bytes and would land the kernels on one or two tasks
    * (measurements: BASELINE.md, "Scale gate ledgers" and "Planning
    * posture"). */
  private def sortedDocs(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents").select("doc_id", "text")
      .repartitionByRange(s.sparkContext.defaultParallelism, col("doc_id"))
      .sortWithinPartitions("doc_id")

  /** doc_id input for the CODEC queries (x78/x80/x82): range-partitioned by
    * doc_id with a PINNED partition count (user-specified counts are exempt
    * from AQE coalescing) and sorted within partitions — range partitions
    * concatenate in order, so the narrow encode/decode passes stay globally
    * ordered while the codec work runs across all cores. A plain `orderBy`
    * landed in ONE AQE-coalesced post-shuffle partition (the rows are tiny;
    * the per-row codec cost AQE cannot see is not), which measured as x82's
    * entire 3.8 s of JPEG work running on a single task. */
  private def codecDocIds(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents").select("doc_id")
      // defaultParallelism, not a literal: the pinned count exists to dodge
      // AQE's size-based coalescing (it cannot see per-row codec cost), and
      // it should track the cluster's cores, not local[32]'s
      .repartitionByRange(s.sparkContext.defaultParallelism, col("doc_id"))
      .sortWithinPartitions("doc_id")

  /** Cap on the bigram-LM entries x81 will pull to the driver and broadcast
    * (same role and magnitude as [[Dedup.MaxBroadcastShingles]]): ~60 MB of
    * (bigram, logprob) rows. A corpus whose bigram vocabulary exceeds this
    * keeps the fully-distributed shuffle-join plan. */
  private val MaxBroadcastLmEntries: Int = 1 << 20

  private val BroadcastLm = ScalePolicy.Route(
    "broadcast-lm", "x81_lm_score", "bigrams", "broadcast", "shuffle-join")

  /** The build of a cheap-expression relational query: its at-scale
    * `body`, run through [[ScalePolicy.oneTask]], which plans the whole
    * query (scan, join, agg, window, total sort, sink) as ONE single-task
    * stage when its input tables fit the one-task tier. Kernel, codec and
    * dedup queries keep their own spreads, because a size statistic cannot
    * see per-row CPU (measurements: BASELINE.md, "Scale gate ledgers"). */
  private[graft] final case class OneTaskBuild(body: (SparkSession, String) => DataFrame)
      extends ((SparkSession, String) => DataFrame) {
    def apply(s: SparkSession, d: String): DataFrame = ScalePolicy.oneTask(body(s, d))
  }

  /** events spread for the per-user window tails (q11/x36/x45/x46/x58/x73):
    * ONE range exchange on user_id satisfies the window's clustering and
    * pre-orders the output. */
  private def eventsByUser(s: SparkSession, d: String): DataFrame =
    t(s, d, "events").repartitionByRange(col("user_id"))

  // ------------------------------------------------------------------ core

  /** Q1 — C10/C11 projection + rename (reference transform's column surface,
    * dags/rocket_launch_etl.py:87-99). */
  val q01 = Q("q01_project_rename",
    // rflag closes the sort to a TOTAL order: the corpus contains rows
    // with identical (orderkey, partkey, linenumber) but different
    // returnflags (8 at sf0.1, 80 at sf1), and on a non-total key the two
    // engines ordered the ties differently at sf1 (caught by the round-7
    // sf1 oracle gate; sf0.01/sf0.1 passed by luck)
    // not one-task: the 600k-row output wants the parallel range sort (r14)
    (s, d) => t(s, d, "lineitem")
      .select(col("l_orderkey").as("okey"), col("l_partkey").as("pkey"),
        col("l_returnflag").as("rflag"), col("l_linenumber"))
      .orderBy(col("okey"), col("pkey"), col("l_linenumber"), col("rflag"))
      .select("okey", "pkey", "rflag"),
    Some("""SELECT l_orderkey AS okey, l_partkey AS pkey, l_returnflag AS rflag
           |FROM lineitem
           |ORDER BY l_orderkey, l_partkey, l_linenumber, rflag""".stripMargin))

  /** Q2 — C12 timestamp→date cast (dags/rocket_launch_etl.py:102). */
  val q02 = Q("q02_cast_date",
    OneTaskBuild((s, d) => t(s, d, "events")
      .select(col("event_id"), to_date(col("ts")).as("d"))
      .orderBy("event_id")),
    Some("SELECT event_id, CAST(ts AS DATE) AS d FROM events ORDER BY event_id"))

  /** Q3 — C3 equality date filter (partition-filter analog,
    * dags/rocket_launch_etl.py:129). */
  val q03 = Q("q03_eq_filter",
    OneTaskBuild((s, d) => t(s, d, "events")
      .where(to_date(col("ts")) === lit(java.sql.Date.valueOf("2024-01-02")))
      .select("event_id", "user_id").orderBy("event_id")),
    Some("""SELECT event_id, user_id FROM events
           |WHERE CAST(ts AS DATE) = DATE '2024-01-02' ORDER BY event_id""".stripMargin))

  /** Q4 — C1′ half-open interval range predicate
    * (dags/rocket_launch_etl.py:37-41). */
  val q04 = Q("q04_range_filter",
    OneTaskBuild((s, d) => t(s, d, "events")
      .where(expr("ts >= TIMESTAMP '2024-01-02 00:00:00' AND " +
        "ts < TIMESTAMP '2024-01-03 00:00:00'"))
      .select("event_id").orderBy("event_id")),
    Some("""SELECT event_id FROM events
           |WHERE ts >= TIMESTAMP '2024-01-02 00:00:00'
           |  AND ts < TIMESTAMP '2024-01-03 00:00:00' ORDER BY event_id""".stripMargin))

  /** Q5 — C13 grouped distinct count, the reference's one analytical query
    * (src/sql/query/daily_launch_events.sql:1-5). */
  val q05 = Q("q05_daily_distinct",
    OneTaskBuild((s, d) => reportSortFused(t(s, d, "events")
      .groupBy(to_date(col("ts")).as("d"))
      .agg(countDistinct(col("user_id")).as("event_count")), col("d"))),
    Some("""SELECT CAST(ts AS DATE) AS d, COUNT(DISTINCT user_id) AS event_count
           |FROM events GROUP BY 1 ORDER BY 1""".stripMargin))

  /** Q6 — E6 JSON extraction (generalizes the raw-zone JSON shape, C10).
    * Uses the single-scan [[graft.functions.JsonLongField]] codegen
    * expression; `get_json_object`/`from_json` run a full Jackson parse per
    * row (~4.5µs vs ~50ns on this shape). */
  val q06 = Q("q06_json_extract",
    // NOT sort-input-first: the kernel output (a long) is far narrower than
    // props, so sorting after extraction shuffles 16 B/row instead of the
    // JSON string — the double kernel eval in the sampling pass is ~50 ns/row
    // and loses to the extra shuffle bytes (measured: 0.21 s vs 0.39 s)
    OneTaskBuild((s, d) => t(s, d, "events")
      .select(col("event_id"),
        graft.functions.TextHashFunctions.jsonLong(col("props"), "k").as("k"))
      .orderBy("event_id")),
    Some("""SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
           |FROM events ORDER BY event_id""".stripMargin))

  /** Q7 — plain grouped count. */
  val q07 = Q("q07_group_count",
    OneTaskBuild((s, d) => reportSortFused(t(s, d, "events")
      .groupBy("event_type").agg(count(lit(1)).as("n")), col("event_type"))),
    Some("SELECT event_type, COUNT(*) AS n FROM events GROUP BY 1 ORDER BY 1"))

  /** Q8 — C6/C7 partitioned write→read round trip, run twice to prove
    * dynamic-partition-overwrite idempotence (the reference's append-on-rerun
    * fixed, SURVEY.md §2.2 C6). */
  val q08 = Q("q08_roundtrip",
    (s, d) => {
      val day = "2024-01-02"
      // per-invocation unique dir: concurrent harness runs must not collide.
      // Deleted at JVM exit — the read below is lazy, so the directory must
      // outlive the build, but without the hook every invocation leaked a
      // written-twice day partition into /tmp forever.
      val out = s"${sys.props("java.io.tmpdir")}/graft_q08_${java.util.UUID.randomUUID}"
      removeOnExit(out)
      val part = t(s, d, "events")
        .withColumn("dt", to_date(col("ts")))
        .where(col("dt") === lit(java.sql.Date.valueOf(day)))
      (1 to 2).foreach { _ =>   // twice: idempotent partition overwrite
        part.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("dt").parquet(out)
      }
      s.read.parquet(out)
        .where(col("dt") === lit(java.sql.Date.valueOf(day)))
        .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
        .select(lit(java.sql.Date.valueOf(day)).as("d"), col("n"), col("n_users"))
    },
    Some("""SELECT DATE '2024-01-02' AS d, COUNT(*) AS n,
           |  COUNT(DISTINCT user_id) AS n_users
           |FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-02'""".stripMargin),
    bench = false)

  /** Q9 — E1 equi join + agg. Customer is a dim → broadcast; the money sum
    * goes through DECIMAL so both engines sum exactly, then one cast. */
  val q09 = Q("q09_join_agg",
    OneTaskBuild((s, d) => reportSortFused(t(s, d, "orders")
      .join(broadcast(t(s, d, "customer")), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("rev")),
      col("c_mktsegment"))),
    Some("""SELECT c_mktsegment,
           |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
           |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
           |GROUP BY 1 ORDER BY 1""".stripMargin))

  /** Q10 — E2 anti join (customers with no orders). */
  val q10 = Q("q10_anti_join",
    OneTaskBuild((s, d) => Relational.antiJoinKeys(t(s, d, "customer"),
        t(s, d, "orders"), "c_custkey", "o_custkey")
      .select("c_custkey").orderBy("c_custkey")),
    // NOT EXISTS, not NOT IN: a single NULL o_custkey would make NOT IN
    // return zero rows while the left-anti join (and this form) still
    // returns every unmatched customer
    Some("""SELECT c_custkey FROM customer c
           |WHERE NOT EXISTS (SELECT 1 FROM orders o
           |  WHERE o.o_custkey = c.c_custkey)
           |ORDER BY c_custkey""".stripMargin))

  /** Q11 — E3 dedup-keep-latest. ts is ordered at µs on both sides (DuckDB
    * casts its ns read down) with event_id as the total tie-break. */
  val q11 = Q("q11_latest_per_user",
    // ONE exchange: range-partitioning by user_id satisfies the window's
    // clustering (equal keys co-locate) AND pre-orders the output, so the
    // usual window-exchange + final orderBy (two shuffles of the same rows
    // plus a sampling job) collapses into window + in-partition sort
    OneTaskBuild((s, d) => Relational.dedupKeepLatest(eventsByUser(s, d),
        Seq("user_id"), Seq(col("ts").desc, col("event_id").desc))
      .select("user_id", "event_id", "event_type", "value")
      .sortWithinPartitions("user_id")),
    Some("""SELECT user_id, event_id, event_type, value FROM (
           |  SELECT user_id, event_id, event_type, value, row_number() OVER (
           |    PARTITION BY user_id
           |    ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
           |  FROM events) t
           |WHERE rn = 1 ORDER BY user_id""".stripMargin))

  /** Q12 — E8 exact dedup cardinality. */
  val q12 = Q("q12_distinct_count",
    OneTaskBuild((s, d) => t(s, d, "documents").agg(countDistinct(col("text")).as("n"))),
    Some("SELECT COUNT(DISTINCT text) AS n FROM documents"))

  /** Q13 — E5 tokenize/explode/top-20 terms (one-pass AllTokens kernel —
    * the HOF empty-token filter lambda ran per token on the single-file
    * scan task). */
  val q13 = Q("q13_top_tokens",
    // kernel tier: the token kernel + partial agg spread above it
    (s, d) => ScalePolicy.kernelSpread(t(s, d, "documents").select("doc_id", "text"), "doc_id")
      .select(explode(
        graft.functions.TextHashFunctions.allTokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token")).limit(20),
    Some("""SELECT token, COUNT(*) AS n FROM (
           |  SELECT unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS token
           |  FROM documents) u
           |GROUP BY 1 ORDER BY n DESC, token LIMIT 20""".stripMargin))

  /** Q14 — E7 exact cosine top-k against vec_id=0 (broadcast query row). */
  val q14 = Q("q14_cosine_topk",
    (s, d) => Similarity.bruteForceTopK(t(s, d, "embeddings"), 0L, 10),
    Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
            |  sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
            |       CAST(embedding AS DOUBLE[]))) AS nrm FROM embeddings),
            |q AS (SELECT v, nrm FROM e WHERE vec_id = 0)
            |SELECT e.vec_id,
            |  round(list_dot_product(e.v, q.v) / (e.nrm * q.nrm), 4) AS cos
            |FROM e, q ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin))

  /** Q15 — E10 set op (EXCEPT = distinct semantics in both engines). */
  val q15 = Q("q15_set_except",
    OneTaskBuild((s, d) => t(s, d, "events").where(col("event_type") === "purchase")
      .select("user_id")
      .except(t(s, d, "events").where(col("event_type") === "error")
        .select("user_id"))
      .orderBy("user_id")),
    Some("""SELECT user_id FROM events WHERE event_type = 'purchase'
           |EXCEPT
           |SELECT user_id FROM events WHERE event_type = 'error'
           |ORDER BY user_id""".stripMargin))

  /** Q16 — E1+E3 join + ranking window: top-2 customers per nation. */
  val q16 = Q("q16_join_window",
    OneTaskBuild((s, d) => reportSort(Relational.topKPerGroup(
        t(s, d, "customer").join(broadcast(t(s, d, "nation")),
          col("c_nationkey") === col("n_nationkey")),
        Seq("n_name"), Seq(col("c_acctbal").desc, col("c_custkey")), 2)
      .select("n_name", "rn", "c_custkey", "c_acctbal"), col("n_name"), col("rn"))),
    Some("""SELECT n_name, rn, c_custkey, c_acctbal FROM (
           |  SELECT n.n_name, c.c_custkey, c.c_acctbal, row_number() OVER (
           |    PARTITION BY n.n_name ORDER BY c.c_acctbal DESC, c.c_custkey) AS rn
           |  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey) t
           |WHERE rn <= 2 ORDER BY n_name, rn""".stripMargin))

  // -------------------------------------------------- extended: dedup tier

  /** E8 exact duplicate groups by md5 content hash. */
  val x17 = Q("x17_dedup_exact",
    // agg FIRST, sort the slim survivors AFTER (round 10, profiled at sf5):
    // the previous "one exchange" fusion (repartitionByRange(md5(text)) →
    // agg → sortWithinPartitions) had equal ROW movement but not equal
    // BYTES — its single exchange shipped the full document text, and
    // repartitionByRange SAMPLES ITS CHILD, so the corpus was scanned and
    // hashed twice per run (playbook trap (e)). This shape scans once:
    // map-side combine ships (h, id, n) ≈ 50 B/row through the hash
    // exchange, and orderBy's range sampler sits above that shuffle
    // boundary, so its sampling pass re-reads shuffle files, not the scan.
    // sf5 JobProfile A/B same session (best-of-5): fused-with-text 1.10 s,
    // fused-with-slim-key 1.09 s (projecting md5 before the range exchange
    // barely helps — the sampler's re-scan is the real cost, two sample
    // jobs ≈ 0.45 s/run), agg-then-sort 0.80 s with 2 jobs instead of 3.
    // At 100 TB the same ordering holds harder: a corpus re-scan per run
    // and a text-width exchange are both unaffordable; two digest-width
    // exchanges are noise.
    OneTaskBuild((s, d) => Dedup.exactGroups(
        t(s, d, "documents").select("doc_id", "text"))
      .orderBy("h")),
    Some("""SELECT md5(text) AS h, MIN(doc_id) AS keep_id, COUNT(*) AS n
           |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin))

  private def duckMinhashSql: String = {
    val sig = (0 until Dedup.NumHashes)
      .map(j => s"${Portable.minhash(DuckD, "hs", j)} AS mh$j").mkString(",\n  ")
    val bands = (0 until Dedup.Bands).map { b =>
      val cols = (0 until Dedup.RowsPerBand).map(r => s"mh${b * Dedup.RowsPerBand + r}")
      s"SELECT doc_id, $b AS band, ${Portable.bandKey(cols)} AS bkey FROM sig"
    }.mkString("\nUNION ALL\n")
    val agree = (0 until Dedup.NumHashes)
      .map(j => s"(CASE WHEN sa.mh$j = sb.mh$j THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH h AS (SELECT doc_id,
       |  ${Portable.tokenHashes(DuckD, "text", distinctTokens = true)} AS hs
       |  FROM documents),
       |sig AS (SELECT doc_id,
       |  $sig
       |  FROM h),
       |bands AS (
       |$bands
       |),
       |cand AS (SELECT l.doc_id AS a, r.doc_id AS b
       |  FROM bands l JOIN bands r
       |    ON l.band = r.band AND l.bkey = r.bkey AND l.doc_id < r.doc_id)
       |SELECT DISTINCT c.a, c.b,
       |  round(($agree) / 16e0, 4) AS est_jaccard
       |FROM cand c JOIN sig sa ON c.a = sa.doc_id JOIN sig sb ON c.b = sb.doc_id
       |WHERE round(($agree) / 16e0, 4) >= 0.9
       |ORDER BY a, b""".stripMargin
  }

  /** E8 full MinHash+LSH near-dup detection: LSH banding (16 hashes, 2
    * bands × 8) proposes candidates, signature agreement ≥ 0.9 verifies
    * them — the complete linear-ish dedup pipeline, not just candidate
    * generation. */
  val x18 = Q("x18_dedup_minhash",
    // parallel range sort (the pair set grows with near-dup class sizes),
    // raw scan with no kernel spread (measured a wash; BASELINE.md)
    (s, d) => Dedup.minhashNearDupPairs(t(s, d, "documents"), 0.9)
      .orderBy(col("a"), col("b")),
    Some(duckMinhashSql))

  private def duckSimhashSql: String = {
    val bs = (0 until 32)
      .map(b => s"${Portable.simhashBitSum(DuckD, "hs", b)} AS bs$b").mkString(",\n  ")
    s"""WITH h AS (SELECT doc_id,
       |  ${Portable.tokenHashes(DuckD, "text", distinctTokens = false)} AS hs
       |  FROM documents),
       |bs AS (SELECT doc_id,
       |  $bs
       |  FROM h)
       |SELECT doc_id,
       |  ${Portable.simhashFromBitSums((0 until 32).map(b => s"bs$b"))} AS simhash
       |FROM bs ORDER BY doc_id""".stripMargin
  }

  /** E8 32-bit SimHash signatures. */
  val x19 = Q("x19_dedup_simhash",
    (s, d) => Dedup.simhashSignatures(sortedDocs(s, d)),
    Some(duckSimhashSql))

  /** E8 n-gram (3-token shingle) Jaccard near-dup pairs, inverted-index join.
    * Threshold 0.8 — the synthetic corpus has a handful of ≥0.98 pairs. */
  val x20 = Q("x20_dedup_ngram",
    // reportSort: pair report bounded by the 0.8 Jaccard threshold
    (s, d) => reportSort(Dedup.ngramJaccardPairs(ScalePolicy.kernelSpread(
        t(s, d, "documents").select("doc_id", "text"), "doc_id"), 0.8),
      col("a"), col("b")),
    Some(s"""WITH t0 AS (SELECT doc_id, ${Portable.tokens(DuckD, "text")} AS toks
            |  FROM documents),
            |sh0 AS (SELECT doc_id, unnest(${Dedup.shingleExprDuck("toks")}) AS sh
            |  FROM t0),
            |sh AS (SELECT DISTINCT doc_id, sh FROM sh0),
            |sizes AS (SELECT doc_id, COUNT(*) AS nsh FROM sh GROUP BY 1),
            |shared AS (SELECT l.doc_id AS a, r.doc_id AS b, COUNT(*) AS shared
            |  FROM sh l JOIN sh r ON l.sh = r.sh AND l.doc_id < r.doc_id
            |  GROUP BY 1, 2)
            |SELECT a, b, jaccard FROM (
            |  SELECT s.a, s.b,
            |    round(s.shared / (sa.nsh + sb.nsh - s.shared), 4) AS jaccard
            |  FROM shared s
            |  JOIN sizes sa ON s.a = sa.doc_id
            |  JOIN sizes sb ON s.b = sb.doc_id) j
            |WHERE jaccard >= 0.8 ORDER BY a, b""".stripMargin))

  /** E7/E8 embedding-cosine near-dup pairs (probe set vec_id<500; the
    * synthetic corpus peaks around cos≈0.5, so threshold 0.4). */
  val x21 = Q("x21_dedup_embedding",
    // reportSort: threshold-bounded pair report over a bounded probe set.
    // not one-task: fusing the kernel stage into the sort task measured
    // worse (r15; BASELINE.md, "Scale gate ledgers")
    (s, d) => reportSort(
      Dedup.embeddingNearDupPairs(t(s, d, "embeddings"), 500L, 0.4),
      col("a"), col("b")),
    Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
           |  sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
           |       CAST(embedding AS DOUBLE[]))) AS nrm FROM embeddings)
           |SELECT a, b, cos FROM (
           |  SELECT l.vec_id AS a, r.vec_id AS b,
           |    round(list_dot_product(l.v, r.v) / (l.nrm * r.nrm), 4) AS cos
           |  FROM e l JOIN e r ON l.vec_id < r.vec_id
           |  WHERE l.vec_id < 500) p
           |WHERE cos >= 0.4 ORDER BY a, b""".stripMargin))

  private def duckBandKeys: String =
    (0 until Similarity.Bands)
      .map(b => s"${Similarity.duckBandKey("v", b)} AS k$b").mkString(",\n  ")

  /** E7 banded-LSH ANN: top-3 neighbors for each query vec_id<5, candidates =
    * vectors matching any of the query's band keys within Hamming distance 1
    * (multi-probe). */
  val x22 = Q("x22_sim_lsh",
    // lshTopK's single-partition ranking tail already emits (qid, rn) total
    // order — no report sort on top
    OneTaskBuild((s, d) => Similarity.lshTopK(t(s, d, "embeddings"), 5L, 3, probe = 1)),
    Some {
      val anyBandProbe = (0 until Similarity.Bands)
        .map(b => s"bit_count(xor(q.k$b, c.k$b)) <= 1").mkString(" OR ")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |b AS (SELECT vec_id, v,
         |  $duckBandKeys,
         |  sqrt(list_dot_product(v, v)) AS nrm FROM e),
         |scored AS (SELECT q.vec_id AS qid, c.vec_id AS vec_id,
         |    round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 4) AS cos
         |  FROM b q JOIN b c ON c.vec_id <> q.vec_id AND ($anyBandProbe)
         |  WHERE q.vec_id < 5),
         |ranked AS (SELECT qid, vec_id, cos, row_number() OVER (
         |  PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn FROM scored)
         |SELECT qid, rn, vec_id, cos FROM ranked WHERE rn <= 3
         |ORDER BY qid, rn""".stripMargin
    })

  /** E7/E8 near-dup at scale: pairs sharing any LSH band key with cos ≥ 0.3 —
    * the banded shuffle-per-band variant of x21 (which brute-forces a
    * bounded probe set). */
  val x34 = Q("x34_dedup_embedding_lsh",
    (s, d) => {
      val pairs = Dedup.embeddingNearDupLsh(t(s, d, "embeddings"), 0.3)
      // fork: a one-task merge of small pair sets, a checkpoint + parallel
      // range sort at scale (BASELINE.md, "Scale gate ledgers")
      if (ScalePolicy.fits(ScalePolicy.OneTask, t(s, d, "embeddings")))
        reportSort(pairs, col("a"), col("b"))
      else Materialize(pairs).orderBy(col("a"), col("b"))
    },
    Some {
      val anyBand = (0 until Similarity.Bands)
        .map(b => s"l.k$b = r.k$b").mkString(" OR ")
      s"""WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |e AS (SELECT vec_id, v,
         |  $duckBandKeys,
         |  sqrt(list_dot_product(v, v)) AS nrm FROM e0)
         |SELECT a, b, cos FROM (
         |  SELECT l.vec_id AS a, r.vec_id AS b,
         |    round(list_dot_product(l.v, r.v) / (l.nrm * r.nrm), 4) AS cos
         |  FROM e l JOIN e r ON l.vec_id < r.vec_id AND ($anyBand)) p
         |WHERE cos >= 0.3 ORDER BY a, b""".stripMargin
    })

  // --------------------------------------------------- extended: text tier

  /** Language-ID by stopword-profile argmax. */
  val x23 = Q("x23_text_langid",
    (s, d) => TextAnalysis.languageId(sortedDocs(s, d)),
    Some(s"""WITH t0 AS (SELECT doc_id, ${Portable.tokens(DuckD, "text")} AS toks
            |  FROM documents),
            |c AS (SELECT doc_id,
            |  ${TextAnalysis.langCount(DuckD, "toks", "en")} AS en_hits,
            |  ${TextAnalysis.langCount(DuckD, "toks", "de")} AS de_hits,
            |  ${TextAnalysis.langCount(DuckD, "toks", "fr")} AS fr_hits,
            |  ${TextAnalysis.langCount(DuckD, "toks", "es")} AS es_hits
            |  FROM t0)
            |SELECT doc_id, en_hits, de_hits, fr_hits, es_hits,
            |  ${TextAnalysis.langPick("en_hits", "de_hits", "fr_hits", "es_hits")} AS lang_pred
            |FROM c ORDER BY doc_id""".stripMargin))

  /** Quality scoring: length/stopword-density features + logistic score. */
  val x24 = Q("x24_text_quality",
    (s, d) => TextAnalysis.quality(sortedDocs(s, d)),
    Some(s"""WITH t0 AS (SELECT doc_id, ${Portable.tokens(DuckD, "text")} AS toks
            |  FROM documents),
            |c AS (SELECT doc_id,
            |  CAST(length(toks) AS BIGINT) AS n_tokens,
            |  ${TextAnalysis.tokenChars(DuckD, "toks")} AS tok_chars,
            |  ${TextAnalysis.langCount(DuckD, "toks", "en")} AS en_hits
            |  FROM t0)
            |SELECT doc_id, n_tokens,
            |  round(CAST(tok_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE), 4)
            |    AS avg_token_len,
            |  round(CAST(en_hits AS DOUBLE) / CAST(n_tokens AS DOUBLE), 4)
            |    AS stopword_ratio,
            |  ${TextAnalysis.qualityScore("n_tokens", "en_hits")} AS quality
            |FROM c WHERE n_tokens > 0 ORDER BY doc_id""".stripMargin))

  /** Token counting: whitespace + regex ("BPE-ish") tokenizers. */
  val x25 = Q("x25_text_tokencount",
    (s, d) => TextAnalysis.tokenCounts(sortedDocs(s, d)),
    Some(s"""SELECT doc_id,
            |  CAST(length(${Portable.tokens(DuckD, "text")}) AS BIGINT) AS ws_tokens,
            |  CAST(${TextAnalysis.regexTokens(DuckD, "text")} AS BIGINT) AS re_tokens,
            |  CAST(length(text) AS BIGINT) AS n_chars
            |FROM documents ORDER BY doc_id""".stripMargin))

  /** Order-sensitive rolling-hash document fingerprint. */
  val x26 = Q("x26_text_fingerprint",
    (s, d) => TextAnalysis.fingerprints(sortedDocs(s, d)),
    Some(s"""WITH h AS (SELECT doc_id,
            |  ${Portable.tokenHashes(DuckD, "text", distinctTokens = false)} AS hs
            |  FROM documents)
            |SELECT doc_id, ${Portable.fingerprint(DuckD, "hs")} AS fp
            |FROM h ORDER BY doc_id""".stripMargin))

  // --------------------------------------------- extended: multimodal tier

  /** Binary-column plumbing: documents → fake binary assets → stub decode. */
  val x27 = Q("x27_multimodal_decode",
    // input-ordered (see sortedDocs): the payload md5 projection runs once
    // above the sort instead of twice under orderBy's sampling pass
    (s, d) => Multimodal.decodeColumns(
        Multimodal.assetsFromDocuments(t(s, d, "documents")
          .select("doc_id", "text", "source").orderBy("doc_id"))),
    Some("""SELECT doc_id AS asset_id, 'image' AS kind,
           |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS byte_len,
           |  64 + (ascii(substr(md5(text), 1, 1)) * 256 +
           |        ascii(substr(md5(text), 2, 1))) % 448 AS width,
           |  64 + (ascii(substr(md5(text), 3, 1)) * 256 +
           |        ascii(substr(md5(text), 4, 1))) % 448 AS height
           |FROM documents ORDER BY asset_id""".stripMargin))

  /** E4 scalar kit: the date/string function surface (all built-ins, all
    * cross-engine ANSI). Year/month cast to INT on both sides (DuckDB's
    * part-extraction returns BIGINT). */
  val x29 = Q("x29_scalar_kit",
    // input-ordered (see sortedDocs): the regex/date/string kit evaluates
    // once above the sort instead of twice under orderBy's sampling pass
    (s, d) => t(s, d, "orders")
      .select("o_orderkey", "o_orderdate", "o_orderpriority", "o_orderstatus")
      .orderBy("o_orderkey")
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).cast("int").as("y"),
        month(col("o_orderdate")).cast("int").as("m"),
        date_trunc("month", col("o_orderdate")).cast("date").as("month_start"),
        lower(col("o_orderpriority")).as("pri_lower"),
        substring(col("o_orderpriority"), 1, 1).as("pri_code"),
        regexp_extract(col("o_orderpriority"), "([0-9]+)", 1).as("pri_digit"),
        concat_ws("|", col("o_orderstatus"), col("o_orderpriority")).as("tag"),
        length(col("o_orderpriority")).cast("int").as("pri_len")),
    Some("""SELECT o_orderkey,
           |  CAST(year(o_orderdate) AS INT) AS y,
           |  CAST(month(o_orderdate) AS INT) AS m,
           |  CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
           |  lower(o_orderpriority) AS pri_lower,
           |  substring(o_orderpriority, 1, 1) AS pri_code,
           |  regexp_extract(o_orderpriority, '([0-9]+)', 1) AS pri_digit,
           |  concat_ws('|', o_orderstatus, o_orderpriority) AS tag,
           |  CAST(length(o_orderpriority) AS INT) AS pri_len
           |FROM orders ORDER BY o_orderkey""".stripMargin))

  /** E10 remaining set ops: UNION (distinct) then INTERSECT. */
  val x30 = Q("x30_set_ops",
    OneTaskBuild { (s, d) =>
      val ev = t(s, d, "events")
      def users(tpe: String) = ev.where(col("event_type") === tpe).select("user_id")
      users("signup").union(users("purchase")).distinct()
        .intersect(users("error"))
        .orderBy("user_id")
    },
    Some("""SELECT user_id FROM (
           |  SELECT user_id FROM events WHERE event_type = 'signup'
           |  UNION
           |  SELECT user_id FROM events WHERE event_type = 'purchase')
           |INTERSECT
           |SELECT user_id FROM events WHERE event_type = 'error'
           |ORDER BY user_id""".stripMargin))

  /** Multi-level aggregation: ROLLUP over (event_type, day). NULLS FIRST is
    * pinned explicitly — Spark defaults there for ASC, DuckDB doesn't. */
  val x31 = Q("x31_rollup_agg",
    // not one-task: the rollup's ×3 rows want the parallel partial agg (r14)
    (s, d) => reportSortFused(t(s, d, "events")
      .withColumn("d", to_date(col("ts")))
      .rollup("event_type", "d")
      .agg(count(lit(1)).as("n")),
      col("event_type").asc_nulls_first, col("d").asc_nulls_first),
    Some("""SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS n
           |FROM events GROUP BY ROLLUP(event_type, CAST(ts AS DATE))
           |ORDER BY event_type ASC NULLS FIRST, d ASC NULLS FIRST""".stripMargin))

  /** As-of join: each purchase matched to the user's most recent prior error
    * event. Output is epoch-µs of the matched timestamp (deterministic even
    * when several errors share an instant; no raw timestamp emitted). */
  val x32 = Q("x32_asof_join",
    OneTaskBuild { (s, d) =>
      val ev = t(s, d, "events")
      val p = ev.where(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val e = ev.where(col("event_type") === "error").select("user_id", "ts")
      Relational.asOfJoin(p, e, Seq("user_id"), "ts", "ts")
        .select(col("event_id"), unix_micros(col("asof_ts")).as("prior_error_us"))
        .orderBy("event_id")
    },
    Some("""WITH p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
           |  FROM events WHERE event_type = 'purchase'),
           |e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts
           |  FROM events WHERE event_type = 'error')
           |SELECT p.event_id, epoch_us(e.ts) AS prior_error_us
           |FROM p ASOF LEFT JOIN e ON p.user_id = e.user_id AND p.ts >= e.ts
           |ORDER BY p.event_id""".stripMargin))

  /** Exact continuous percentiles per group (Spark `percentile` and DuckDB
    * `quantile_cont` share the linear-interpolation definition). */
  val x33 = Q("x33_percentiles",
    // array-form percentile plan (r15): see Relational.exactPercentiles —
    // one builtin map for all three qs
    OneTaskBuild((s, d) => reportSortFused(
      Relational.exactPercentiles(t(s, d, "events"), Seq("event_type"),
          col("value"), Seq(0.5 -> "p50r", 0.9 -> "p90r", 0.99 -> "p99r"))
        .select(col("event_type"), round(col("p50r"), 4).as("p50"),
          round(col("p90r"), 4).as("p90"), round(col("p99r"), 4).as("p99")),
      col("event_type"))),
    Some("""SELECT event_type,
           |  round(quantile_cont(value, 0.5), 4) AS p50,
           |  round(quantile_cont(value, 0.9), 4) AS p90,
           |  round(quantile_cont(value, 0.99), 4) AS p99
           |FROM events GROUP BY 1 ORDER BY 1""".stripMargin))

  /** Full-outer join: per-customer order counts unioned with order keys that
    * have no customer row (and vice versa). */
  val x35 = Q("x35_full_outer",
    OneTaskBuild { (s, d) =>
      val oc = t(s, d, "orders").groupBy(col("o_custkey").as("k"))
        .agg(count(lit(1)).as("n"))
      t(s, d, "customer").join(oc, col("c_custkey") === col("k"), "full_outer")
        .select(coalesce(col("c_custkey"), col("k")).as("k"),
          coalesce(col("n"), lit(0L)).as("n_orders"),
          col("c_custkey").isNotNull.as("known_customer"))
        .orderBy("k")
    },
    Some("""WITH oc AS (SELECT o_custkey AS k, COUNT(*) AS n
           |  FROM orders GROUP BY 1)
           |SELECT COALESCE(c.c_custkey, oc.k) AS k,
           |  COALESCE(oc.n, 0) AS n_orders,
           |  (c.c_custkey IS NOT NULL) AS known_customer
           |FROM customer c FULL OUTER JOIN oc ON c.c_custkey = oc.k
           |ORDER BY k""".stripMargin))

  /** Offset window (lag): µs gap between a user's consecutive events.
    * Timestamps leave as epoch-µs arithmetic, never raw. */
  val x36 = Q("x36_window_lag",
    OneTaskBuild { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      // ONE exchange (same fusion as q11): range partitions on user_id feed
      // the window and pre-order the output; only the (user_id, event_id)
      // in-partition re-sort remains
      eventsByUser(s, d)
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("gap_us", col("us") - lag(col("us"), 1).over(w))
        .select("user_id", "event_id", "gap_us")
        .sortWithinPartitions("user_id", "event_id")
    },
    Some("""SELECT user_id, event_id,
           |  epoch_us(CAST(ts AS TIMESTAMP)) - lag(epoch_us(CAST(ts AS TIMESTAMP)))
           |    OVER (PARTITION BY user_id
           |          ORDER BY CAST(ts AS TIMESTAMP), event_id) AS gap_us
           |FROM events ORDER BY user_id, event_id""".stripMargin))

  /** CUBE over (event_type, day): all four grouping levels. */
  val x37 = Q("x37_cube_agg",
    OneTaskBuild((s, d) => reportSortFused(t(s, d, "events")
      .withColumn("d", to_date(col("ts")))
      .cube("event_type", "d")
      .agg(count(lit(1)).as("n")),
      col("event_type").asc_nulls_first, col("d").asc_nulls_first)),
    Some("""SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS n
           |FROM events GROUP BY CUBE(event_type, CAST(ts AS DATE))
           |ORDER BY event_type ASC NULLS FIRST, d ASC NULLS FIRST""".stripMargin))

  /** E10 multiset difference (EXCEPT ALL): keeps multiplicity. Duplicate
    * user_ids are identical whole rows, so ORDER BY user_id is hash-total. */
  val x38 = Q("x38_except_all",
    OneTaskBuild((s, d) => t(s, d, "events").where(col("event_type") === "purchase")
      .select("user_id")
      .exceptAll(t(s, d, "events").where(col("event_type") === "error")
        .select("user_id"))
      .orderBy("user_id")),
    Some("""SELECT user_id FROM events WHERE event_type = 'purchase'
           |EXCEPT ALL
           |SELECT user_id FROM events WHERE event_type = 'error'
           |ORDER BY user_id""".stripMargin))

  // ------------------------------------ extended round 2: wider surface
  // (bench=false: the headline bench set stays the round-1-comparable set;
  // these are correctness/coverage surface, all floor-bound at sf0.1)

  /** TF-IDF top-3 terms for the first 5 docs: per-doc term frequency ×
    * ln(N/df) over the FULL corpus — the canonical composite of tokenize +
    * two aggregations + join + ranking window. Ranking is on the ROUNDED
    * score (tie-broken by token) so cross-engine libm ulps cannot flip
    * ranks. */
  val x39 = Q("x39_tfidf",
    (s, d) => {
      val docs = t(s, d, "documents")
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      // document frequency without a distinct shuffle: per-doc token dedup
      // is ROW-LOCAL (the one-pass DistinctTokens kernel, same move as
      // x47), leaving one partial-agg exchange over the vocabulary
      val dfreq = docs
        .select(explode(
          graft.functions.TextHashFunctions.distinctTokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("df"))
      val tf = docs.where(col("doc_id") < 5)
        .select(col("doc_id"),
          explode(expr(Portable.tokens(SparkD, "text"))).as("token"))
        .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      // tf is O(probe docs × their vocab) — broadcast it so the big dfreq
      // side never shuffles for the join
      val scored = broadcast(tf).join(dfreq, "token").crossJoin(broadcast(nDocs))
        .select(col("doc_id"), col("token"),
          round(col("tf") * log(col("n_docs") / col("df")), 4).as("tfidf"))
      reportSort(Relational.topKPerGroup(scored, Seq("doc_id"),
        Seq(col("tfidf").desc, col("token")), 3)
        .select("doc_id", "rn", "token", "tfidf"),
        col("doc_id"), col("rn"))
    },
    Some(s"""WITH toks AS (SELECT doc_id,
            |  unnest(${Portable.tokens(DuckD, "text")}) AS token FROM documents),
            |n AS (SELECT COUNT(*) AS n_docs FROM documents),
            |dfreq AS (SELECT token, COUNT(DISTINCT doc_id) AS df
            |  FROM toks GROUP BY 1),
            |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks
            |  WHERE doc_id < 5 GROUP BY 1, 2),
            |scored AS (SELECT tf.doc_id, tf.token,
            |    round(tf.tf * ln(n.n_docs / dfreq.df), 4) AS tfidf
            |  FROM tf JOIN dfreq ON tf.token = dfreq.token, n),
            |ranked AS (SELECT doc_id, token, tfidf, row_number() OVER (
            |  PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rn FROM scored)
            |SELECT doc_id, rn, token, tfidf FROM ranked WHERE rn <= 3
            |ORDER BY doc_id, rn""".stripMargin),
    bench = false)

  /** Deterministic train/valid/test split by content fingerprint — the
    * standard reproducible holdout for a training corpus: split follows the
    * DOCUMENT (rolling-hash fingerprint mod 100), not row order, so any
    * engine/partitioning assigns identically. */
  val x40 = Q("x40_hash_split",
    (s, d) => t(s, d, "documents")
      .select((graft.functions.TextHashFunctions.fingerprint(col("text")) % 100)
        .as("h"))
      .select(when(col("h") < 80, "train").when(col("h") < 90, "valid")
        .otherwise("test").as("split"))
      .groupBy("split").agg(count(lit(1)).as("n"))
      .transform(reportSort(_, col("split"))),
    Some(s"""WITH h AS (SELECT doc_id,
            |  ${Portable.tokenHashes(DuckD, "text", distinctTokens = false)} AS hs
            |  FROM documents),
            |f AS (SELECT ${Portable.fingerprint(DuckD, "hs")} % 100 AS hh FROM h)
            |SELECT CASE WHEN hh < 80 THEN 'train' WHEN hh < 90 THEN 'valid'
            |  ELSE 'test' END AS split, COUNT(*) AS n
            |FROM f GROUP BY 1 ORDER BY 1""".stripMargin),
    bench = false)

  /** Edit-distance near-dup pairs on a bounded window (doc_id < 100):
    * levenshtein ≤ 0.6·max(len), compared in exact integer arithmetic
    * (10·lev ≤ 6·max) so the boundary is engine-independent. The all-pairs
    * form is deliberate — this is the expensive exact verifier one runs on
    * a SMALL candidate set (the scale path generates candidates with
    * x18/x20-style LSH first). The distance kernel is Myers' bit-parallel
    * form ([[graft.functions.MyersLevenshtein]], r11): DuckDB's vectorized
    * `levenshtein` walked all over the builtin's scalar DP at sf5 (7.4×,
    * pair J — the one real-work >2× row); the blocked bit-vector recurrence
    * does the same cells 64 rows per word, bit-identical output. */
  val x41 = Q("x41_lev_neardup",
    (s, d) => {
      val w = t(s, d, "documents").where(col("doc_id") < 100)
        .select(col("doc_id"), col("text"))
      // the DP verifier is pure CPU (O(len²/64) per pair); the bounded
      // window reads from ONE parquet row group, so without a re-spread the
      // whole quadratic block runs on a single task (measured 12.9 s at
      // sf0.1 — 0.9 s when spread over the cores)
      val l = w.toDF("a", "ta")
        .repartition(w.sparkSession.sparkContext.defaultParallelism)
      val r = w.toDF("b", "tb")
      import org.apache.spark.sql.{GraftSqlBridge => B}
      val lev = B.column(graft.functions.MyersLevenshtein(
        B.expression(col("ta")), B.expression(col("tb"))))
      l.join(r, col("a") < col("b"))
        .select(col("a"), col("b"),
          lev.cast("bigint").as("lev"),
          greatest(length(col("ta")), length(col("tb"))).as("mx"))
        .where(lit(10) * col("lev") <= lit(6) * col("mx"))
        .select("a", "b", "lev")
        .orderBy("a", "b")
    },
    Some("""SELECT a.doc_id AS a, b.doc_id AS b,
           |  CAST(levenshtein(a.text, b.text) AS BIGINT) AS lev
           |FROM documents a, documents b
           |WHERE a.doc_id < 100 AND b.doc_id < 100 AND a.doc_id < b.doc_id
           |  AND 10 * levenshtein(a.text, b.text)
           |      <= 6 * greatest(length(a.text), length(b.text))
           |ORDER BY a, b""".stripMargin),
    bench = false)

  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** Pivot: events per (day × event_type) as one column per type, with the
    * value list pinned (never inferred — an inference scan is an extra pass
    * and nondeterministic column order at scale). */
  val x42 = Q("x42_pivot",
    OneTaskBuild((s, d) => t(s, d, "events")
      .withColumn("d", to_date(col("ts")))
      .groupBy("d").pivot("event_type", eventTypes).agg(count(lit(1)))
      .select(col("d") +: eventTypes.map(tp =>
        coalesce(col(tp), lit(0L)).as(tp)): _*)
      .transform(reportSort(_, col("d")))),
    Some {
      val cols = eventTypes.map(tp =>
        s"COUNT(CASE WHEN event_type = '$tp' THEN 1 END) AS $tp").mkString(",\n  ")
      s"""SELECT CAST(ts AS DATE) AS d,
         |  $cols
         |FROM events GROUP BY 1 ORDER BY 1""".stripMargin
    },
    bench = false)

  /** Explicit GROUPING SETS (beyond the ROLLUP/CUBE shorthands of x31/x37),
    * via pure spark.sql over the registered corpus views. */
  val x43 = Q("x43_grouping_sets",
    (s, d) => {
      // not one-task: like x31's rollup, grouping sets want the parallel
      // partial agg (r14)
      graft.sources.Tables.registerAll(s, d)
      s.sql("""SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS n
              |FROM events
              |GROUP BY GROUPING SETS ((event_type, CAST(ts AS DATE)),
              |                        (event_type), ())
              |ORDER BY event_type ASC NULLS FIRST, d ASC NULLS FIRST""".stripMargin)
    },
    Some("""SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS n
           |FROM events
           |GROUP BY GROUPING SETS ((event_type, CAST(ts AS DATE)),
           |                        (event_type), ())
           |ORDER BY event_type ASC NULLS FIRST, d ASC NULLS FIRST""".stripMargin),
    bench = false)

  /** Correlated EXISTS subquery (planned by Catalyst as a left-semi join —
    * the subquery surface q10's NOT IN complement). */
  val x44 = Q("x44_exists_subquery",
    OneTaskBuild { (s, d) =>
      graft.sources.Tables.registerAll(s, d)
      s.sql("""SELECT c_custkey FROM customer c
              |WHERE EXISTS (SELECT 1 FROM orders o
              |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
              |ORDER BY c_custkey""".stripMargin)
    },
    Some("""SELECT c_custkey FROM customer c
           |WHERE EXISTS (SELECT 1 FROM orders o
           |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
           |ORDER BY c_custkey""".stripMargin),
    bench = false)

  /** Sliding window frame: 3-event moving sum of `value` per user. The sum
    * runs in DECIMAL so frame-order float effects cannot exist; the cast to
    * double of an exact decimal is engine-independent. */
  val x45 = Q("x45_window_frame",
    OneTaskBuild { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id")).rowsBetween(-2, 0)
      // ONE exchange (q11/x36 fusion): range partitions on user_id satisfy
      // the window's clustering and pre-order the output
      eventsByUser(s, d)
        .select(col("user_id"), col("event_id"),
          round(sum(col("value").cast("decimal(18,6)")).over(w)
            .cast("double"), 4).as("mv3"))
        .sortWithinPartitions("user_id", "event_id")
    },
    Some("""SELECT user_id, event_id,
           |  round(CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (
           |    PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
           |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE), 4) AS mv3
           |FROM events ORDER BY user_id, event_id""".stripMargin),
    bench = false)

  /** Batch sessionization: sessions = gaps > 30 min between a user's
    * consecutive events (the batch analog of the streaming sessionizer in
    * graft.streaming.EventStreams). */
  val x46 = Q("x46_sessionize",
    OneTaskBuild { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      // ONE exchange: the range partitioning feeds the window AND the
      // per-user aggregate (clustered-by-user_id is satisfied, so no agg
      // exchange); the hash agg scrambles in-partition order, so a local
      // re-sort restores the range-partition total order
      eventsByUser(s, d)
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("prev", lag(col("us"), 1).over(w))
        .withColumn("new_s",
          when(col("prev").isNull || col("us") - col("prev") > 1800000000L, 1L)
            .otherwise(0L))
        .groupBy("user_id").agg(sum("new_s").as("n_sessions"))
        .sortWithinPartitions("user_id")
    },
    Some("""SELECT user_id, CAST(SUM(CASE WHEN prev IS NULL
           |    OR epoch_us(ts) - prev > 1800000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions
           |FROM (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
           |    lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
           |      PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev
           |  FROM events) t
           |GROUP BY user_id ORDER BY user_id""".stripMargin),
    bench = false)

  /** Cross-document boilerplate detection: the 3-gram shingles appearing in
    * the most documents (df ≥ 2) — the first diagnostic one runs before
    * near-dup removal on a web corpus (boilerplate drives both false
    * near-dups and the x20 hot-shingle skew this engine prefix-filters).
    * String shingles here (not hashes): the report is human-facing.
    * Per-document shingle dedup happens ROW-LOCALLY (array_distinct before
    * the explode), so the document-frequency count needs no distinct
    * shuffle — one partial-agg exchange, then the top-20 tail is a
    * TakeOrdered merge. */
  val x47 = Q("x47_boilerplate_ngrams",
    // string shingles come from the one-pass ShingleStrings kernel (per-doc
    // dedup inside, ~5× over the HOF transform+array_distinct form — the
    // whole map side ran on the single-file scan task, so kernel cost was
    // wall-clock); the document-frequency count then needs only the one
    // partial-agg exchange and a TakeOrdered tail
    // kernel tier: the kernel + partial agg spread above it (BASELINE.md)
    (s, d) => ScalePolicy.kernelSpread(t(s, d, "documents").select("doc_id", "text"), "doc_id")
      .select(explode(
        graft.functions.TextHashFunctions.shingleStrings(col("text"))).as("sh"))
      .groupBy("sh").agg(count(lit(1)).as("n_docs"))
      .where(col("n_docs") >= 2)
      .orderBy(col("n_docs").desc, col("sh")).limit(20),
    Some(s"""WITH t0 AS (SELECT doc_id, ${Portable.tokens(DuckD, "text")} AS toks
            |  FROM documents),
            |sh0 AS (SELECT doc_id, unnest(${Dedup.shingleExprDuck("toks")}) AS sh
            |  FROM t0),
            |sh AS (SELECT DISTINCT doc_id, sh FROM sh0)
            |SELECT sh, COUNT(*) AS n_docs FROM sh
            |GROUP BY sh HAVING COUNT(*) >= 2
            |ORDER BY n_docs DESC, sh LIMIT 20""".stripMargin),
    bench = false)

  /** E7 IVF-flat ANN (the north star's named alternative to LSH): coarse
    * cells from deterministic centroids, nprobe=2, exact re-rank. */
  val x48 = Q("x48_ann_ivf",
    (s, d) => reportSort(Similarity.ivfTopK(t(s, d, "embeddings"),
        numCentroids = 8, maxQueryId = 5, k = 3, nprobe = 2),
      col("qid"), col("rn")),
    Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
           |  sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
           |       CAST(embedding AS DOUBLE[]))) AS nrm FROM embeddings),
           |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
           |sc AS (SELECT e.vec_id, e.v, e.nrm, c.cid,
           |    list_dot_product(e.v, c.cv) AS cdot,
           |    row_number() OVER (PARTITION BY e.vec_id
           |      ORDER BY list_dot_product(e.v, c.cv) DESC, c.cid) AS crn
           |  FROM e, c),
           |cells AS (SELECT vec_id, v, nrm, cid AS cell FROM sc WHERE crn = 1),
           |probes AS (SELECT vec_id AS qid, v AS qv, nrm AS qnrm, cid AS cell
           |  FROM sc WHERE vec_id < 5 AND crn <= 2),
           |scored AS (SELECT p.qid, cl.vec_id,
           |    round(list_dot_product(p.qv, cl.v) / (p.qnrm * cl.nrm), 4) AS cos
           |  FROM probes p JOIN cells cl ON p.cell = cl.cell
           |    AND cl.vec_id <> p.qid),
           |ranked AS (SELECT qid, vec_id, cos, row_number() OVER (
           |  PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn FROM scored)
           |SELECT qid, rn, vec_id, cos FROM ranked WHERE rn <= 3
           |ORDER BY qid, rn""".stripMargin),
    bench = false)

  /** End-to-end curation composite — the operators a training-data pipeline
    * chains before tokenization, composed: exact dedup (keep lowest id per
    * content hash) ∘ language ID ∘ quality gate, summarized per predicted
    * language. Quality totals go through DECIMAL so the aggregation order
    * cannot perturb the hash.
    *
    * ONE corpus scan (round 6; was two scans + a doc_id join): md5 and the
    * LangStats kernel ride the same projection, and the keep-lowest-id rule
    * is a min-of-struct per digest — doc_id leads the struct, so `min`
    * selects the kept row WITH its (lang_pred, quality) payload, exactly
    * x99's canonical-selection trick. Identical texts have identical
    * payloads, so only (16-byte digest, small struct) pairs shuffle, with
    * map-side partial min. Zero-token kept docs drop via the carried
    * has_toks flag (their quality is NaN-safe: doc_id decides the min
    * before the comparison ever reaches it). */
  val x49 = Q("x49_curation",
    // one-task although it runs kernels: x49 has no spread to lose (r15)
    OneTaskBuild { (s, d) =>
      val docs = t(s, d, "documents")
      val hitCols = TextAnalysis.profiles.zipWithIndex.map { case ((l, _), i) =>
        element_at(col("st"), i + 1).cast("int").as(s"${l}_hits") }
      docs
        .select(col("doc_id"), md5(col("text")).as("h"),
          graft.functions.TextHashFunctions.langStats(col("text")).as("st"))
        .select(col("doc_id") +: col("h") +: (hitCols :+
          element_at(col("st"), TextAnalysis.profiles.length + 1).cast("int")
            .as("n_tokens")): _*)
        .select(col("h"), struct(col("doc_id"),
          expr(TextAnalysis.langPick("en_hits", "de_hits", "fr_hits", "es_hits"))
            .as("lang_pred"),
          expr(TextAnalysis.qualityScore("n_tokens", "en_hits")).as("quality"),
          (col("n_tokens") > 0).as("has_toks")).as("p"))
        .groupBy("h").agg(min(col("p")).as("k"))
        .where(col("k.has_toks") && col("k.quality") >= 0.5)
        .groupBy(col("k.lang_pred").as("lang_pred"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("k.quality").cast("decimal(18,6)")).cast("double")
            .as("total_quality"))
        .transform(reportSort(_, col("lang_pred")))
    },
    Some(s"""WITH keep AS (SELECT MIN(doc_id) AS doc_id FROM documents
            |  GROUP BY md5(text)),
            |t0 AS (SELECT doc_id, ${Portable.tokens(DuckD, "text")} AS toks
            |  FROM documents),
            |c AS (SELECT doc_id,
            |  CAST(length(toks) AS BIGINT) AS n_tokens,
            |  ${TextAnalysis.langCount(DuckD, "toks", "en")} AS en_hits,
            |  ${TextAnalysis.langCount(DuckD, "toks", "de")} AS de_hits,
            |  ${TextAnalysis.langCount(DuckD, "toks", "fr")} AS fr_hits,
            |  ${TextAnalysis.langCount(DuckD, "toks", "es")} AS es_hits
            |  FROM t0),
            |lang AS (SELECT doc_id,
            |  ${TextAnalysis.langPick("en_hits", "de_hits", "fr_hits", "es_hits")}
            |    AS lang_pred FROM c),
            |qual AS (SELECT doc_id,
            |  ${TextAnalysis.qualityScore("n_tokens", "en_hits")} AS quality
            |  FROM c WHERE n_tokens > 0),
            |kept AS (SELECT k.doc_id, l.lang_pred, q.quality
            |  FROM keep k JOIN lang l ON k.doc_id = l.doc_id
            |  JOIN qual q ON k.doc_id = q.doc_id
            |  WHERE q.quality >= 0.5)
            |SELECT lang_pred, COUNT(*) AS n_kept,
            |  CAST(SUM(CAST(quality AS DECIMAL(18,6))) AS DOUBLE) AS total_quality
            |FROM kept GROUP BY 1 ORDER BY 1""".stripMargin),
    bench = false)

  /** Range (interval) join via time binning: errors within the hour BEFORE
    * each purchase, per user — the equi-join-on-bins shape that replaces the
    * nested-loop plan Spark would pick for a raw inequality join. */
  val x50 = Q("x50_range_join",
    OneTaskBuild { (s, d) =>
      val ev = t(s, d, "events")
      val p = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val e = ev.where(col("event_type") === "error")
        .select(col("user_id"), col("ts").as("err_ts"))
      Relational.rangeJoin(p, e, Seq("user_id"), "ts", "err_ts",
          lowerUs = -3600000000L, upperUs = 0L)
        .groupBy("event_id").agg(count(lit(1)).as("n_prior_errors"))
        .orderBy("event_id")
    },
    Some("""WITH p AS (SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
           |  FROM events WHERE event_type = 'purchase'),
           |e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
           |  FROM events WHERE event_type = 'error')
           |SELECT p.event_id, COUNT(*) AS n_prior_errors
           |FROM p JOIN e ON p.user_id = e.user_id
           |  AND e.us BETWEEN p.us - 3600000000 AND p.us
           |GROUP BY 1 ORDER BY 1""".stripMargin),
    bench = false)

  /** Distribution windows: ntile / percent_rank / cume_dist per order
    * priority (the ranking-window family beyond row_number). percent_rank
    * and cume_dist are exact rationals evaluated identically by both
    * engines; round(,4) guards the hash.
    *
    * NOT a `Window.partitionBy(o_orderpriority)`: with 5 distinct keys that
    * window funnels all of `orders` through 5 post-shuffle sort tasks — the
    * one low-parallelism plan shape flagged in round 4. Instead the heavy
    * sort is a parallel range sort and per-key ranks come from the
    * partition-offset two-pass ([[Relational.keyedRowNumbers]]); the order
    * (price desc, orderkey) is UNIQUE, so row number = rank, and all three
    * distribution stats are pure arithmetic in (rn, n):
    * percent_rank = (rn−1)/(n−1), cume_dist = rn/n, and ntile's
    * first-(n mod 4)-buckets-get-one-extra rule closed-form. */
  val x51 = Q("x51_rank_distribution",
    (s, d) => {
      // one task on small inputs: keyedRowNumbers takes its window route
      val ranked = Relational.keyedRowNumbers(ScalePolicy.oneTask(
        t(s, d, "orders").select("o_orderkey", "o_orderpriority", "o_totalprice")),
        Seq("o_orderpriority"), Seq(col("o_totalprice").desc, col("o_orderkey")))
      val rn = col("__rn"); val n = col("__n")
      ranked
        .withColumn("__q", expr("__n div 4"))
        .withColumn("__r", expr("__n % 4"))
        // ntile(4) closed form: the first (n mod 4) buckets hold one extra
        // row; __q = 0 only when rn ≤ __r·1 = n, so the else-branch (and its
        // division by __q) is never evaluated for tiny groups
        .withColumn("quartile",
          (when(rn <= col("__r") * (col("__q") + 1),
              expr("(__rn - 1) div (__q + 1)"))
            .otherwise(col("__r") + expr("(__rn - 1 - __r * (__q + 1)) div __q"))
            + 1).cast("int"))
        // pr/cd as EXACT integer HALF_UP, not round(double, 4): rn/n is a
        // rational that lands exactly on 4-decimal .xxxx5 boundaries
        // (22600/160000 = 0.141250), where Spark rounds the shortest
        // decimal UP and DuckDB rounds the ×10⁴-scaled binary DOWN (the
        // x81 class — diverged at sf1, row 204932). HALF_UP(x/y, 4) ≡
        // (20000x + y) div (2y) for positive ints; k/10000.0 then casts
        // identically on both engines. The window's total order (unique
        // o_orderkey tiebreak) means no peer groups, so cume_dist = rn/n.
        .select(col("o_orderkey"), col("o_orderpriority"), col("quartile"),
          when(n === 1, lit(0.0))
            .otherwise(expr("CAST((20000 * (__rn - 1) + (__n - 1)) div " +
              "(2 * (__n - 1)) AS DOUBLE) / 10000")).as("pr"),
          expr("CAST((20000 * __rn + __n) div (2 * __n) AS DOUBLE) / 10000")
            .as("cd"))
        .orderBy("o_orderkey")
    },
    Some("""WITH r AS (SELECT o_orderkey, o_orderpriority,
           |    ntile(4) OVER w AS quartile,
           |    row_number() OVER w AS rn,
           |    count(*) OVER (PARTITION BY o_orderpriority) AS n
           |  FROM orders
           |  WINDOW w AS (PARTITION BY o_orderpriority
           |    ORDER BY o_totalprice DESC, o_orderkey))
           |SELECT o_orderkey, o_orderpriority, quartile,
           |  CASE WHEN n = 1 THEN 0.0
           |    ELSE CAST((20000 * (rn - 1) + (n - 1)) // (2 * (n - 1))
           |      AS DOUBLE) / 10000 END AS pr,
           |  CAST((20000 * rn + n) // (2 * n) AS DOUBLE) / 10000 AS cd
           |FROM r ORDER BY o_orderkey""".stripMargin),
    bench = false)

  /** Array-function kit over the token arrays: distinct count, lexicographic
    * first/last token per document (sort/distinct/element_at surface). */
  val x52 = Q("x52_array_ops",
    // sort-input-first; the empty-doc filter is a CHEAP equivalent raw-text
    // predicate (some non-space char exists ⟺ the token array is
    // non-empty; rlike finds the first one without the translate copy), and
    // the DistinctTokens kernel replaces split+filter+array_distinct —
    // array_sort then runs over the already-distinct set (KernelParitySpec
    // pins distinctTokens ≡ array_distinct(tokens))
    (s, d) => sortedDocs(s, d)
      .where(col("text").rlike("[^ ]"))
      .select(col("doc_id"),
        array_sort(graft.functions.TextHashFunctions.distinctTokens(col("text")))
          .as("sorted"))
      .select(col("doc_id"),
        size(col("sorted")).cast("bigint").as("n_distinct"),
        element_at(col("sorted"), 1).as("first_tok"),
        element_at(col("sorted"), size(col("sorted"))).as("last_tok")),
    Some(s"""WITH t0 AS (SELECT doc_id,
            |  list_sort(list_distinct(${Portable.tokens(DuckD, "text")})) AS sorted
            |  FROM documents)
            |SELECT doc_id,
            |  CAST(length(sorted) AS BIGINT) AS n_distinct,
            |  sorted[1] AS first_tok,
            |  sorted[-1] AS last_tok
            |FROM t0 WHERE length(sorted) > 0 ORDER BY doc_id""".stripMargin),
    bench = false)

  /** Uncorrelated scalar subquery (complements x44's correlated EXISTS):
    * customers within 10% of the maximum balance. max is an exact double and
    * the 0.9 multiply is identical arithmetic, so the boundary cannot drift
    * between engines. */
  val x53 = Q("x53_scalar_subquery",
    OneTaskBuild { (s, d) =>
      graft.sources.Tables.registerAll(s, d)
      s.sql("""SELECT c_custkey, c_acctbal FROM customer
              |WHERE c_acctbal >= (SELECT MAX(c_acctbal) FROM customer) * 0.9
              |ORDER BY c_custkey""".stripMargin)
    },
    Some("""SELECT c_custkey, c_acctbal FROM customer
           |WHERE c_acctbal >= (SELECT MAX(c_acctbal) FROM customer) * 0.9
           |ORDER BY c_custkey""".stripMargin),
    bench = false)

  /** Approximate percentiles per event type (rank-error sketch; the 100 TB
    * answer to exact `percentile`, which must materialize every group's
    * values). Sketch values are engine-specific like x28's HLL, so the
    * tolerance gate runs IN-QUERY (VERDICT r11 directive 6): each group's
    * approx p50/p90 must sit within 5% of the exact percentile (the x33
    * expression + rounding, hash-green vs DuckDB `quantile_cont`), and the
    * hashed output is (exact p50, exact p90, verdict) — a violation flips
    * `within_tol` and breaks the driver hash, so the artifact carries the
    * tolerance verdict instead of `err:"no_oracle"`. Measured errors go to
    * Verify's tolerance.json via [[toleranceReport]]. */
  val x54 = Q("x54_approx_percentiles",
    // ONE scan, ONE agg, array forms (r15 A/B): a single exact map + a
    // single QuantileSummaries sketch for all four requested percentiles.
    // A split exact-subtree + approx-subtree + join variant measured WORSE
    // (0.42 vs 0.33 s) — two scans through the interpreted aggregate stage
    // cost more than the per-map savings; reverted.
    OneTaskBuild((s, d) => reportSortFused(t(s, d, "events")
      .groupBy("event_type")
      .agg(expr("percentile(value, array(0.5, 0.9))").as("ps"),
        expr("approx_percentile(value, array(0.5, 0.9), 1000)").as("aps"))
      .select(col("event_type"),
        round(element_at(col("ps"), 1), 4).as("p50"),
        round(element_at(col("ps"), 2), 4).as("p90"),
        element_at(col("aps"), 1).as("a50"),
        element_at(col("aps"), 2).as("a90"))
      .select(col("event_type"), col("p50"), col("p90"),
        (abs(col("a50") - col("p50")) <=
            lit(0.05) * greatest(abs(col("p50")), lit(1.0)) &&
          abs(col("a90") - col("p90")) <=
            lit(0.05) * greatest(abs(col("p90")), lit(1.0))).as("within_tol")),
      col("event_type"))),
    Some("""SELECT event_type,
           |  round(quantile_cont(value, 0.5), 4) AS p50,
           |  round(quantile_cont(value, 0.9), 4) AS p90,
           |  TRUE AS within_tol
           |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
    bench = false)

  /** E10 completion: multiset INTERSECT ALL (x30 covers the distinct
    * variants, x38 EXCEPT ALL — this is the remaining set operator).
    * Duplicates are kept min(countL, countR) times by both engines. */
  val x55 = Q("x55_intersect_all",
    OneTaskBuild { (s, d) =>
      val ev = t(s, d, "events")
      def users(tpe: String) = ev.where(col("event_type") === tpe).select("user_id")
      users("purchase").intersectAll(users("click")).orderBy("user_id")
    },
    Some("""SELECT user_id FROM events WHERE event_type = 'purchase'
           |INTERSECT ALL
           |SELECT user_id FROM events WHERE event_type = 'click'
           |ORDER BY user_id""".stripMargin),
    bench = false)

  /** Ordered string aggregation (LISTAGG/STRING_AGG surface): each user's
    * event-type sequence as a sorted comma-joined string. Sorting inside the
    * aggregate makes the result order-deterministic in both engines
    * (collect_list order is partition-dependent; array_sort pins it —
    * equal elements are interchangeable, so ties cannot drift). */
  val x56 = Q("x56_string_agg",
    OneTaskBuild((s, d) => t(s, d, "events")
      .groupBy("user_id")
      .agg(array_join(array_sort(collect_list(col("event_type"))), ",")
        .as("types"))
      .orderBy("user_id")),
    Some("""SELECT user_id,
           |  string_agg(event_type, ',' ORDER BY event_type) AS types
           |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),
    bench = false)

  /** UNPIVOT (wide → long): per-day conditional counts stacked back to
    * (d, event_type, n) rows — the inverse of x42's pivot. Spark side uses
    * the `stack` generator; the oracle uses the portable UNION ALL form. */
  val x57 = Q("x57_unpivot",
    OneTaskBuild((s, d) => t(s, d, "events")
      .groupBy(to_date(col("ts")).as("d"))
      .agg(
        sum(when(col("event_type") === "signup", 1L).otherwise(0L)).as("signup"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("purchase"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("error"))
      .select(col("d"), expr(
        "stack(3, 'signup', signup, 'purchase', purchase, 'error', error)")
        .as(Seq("event_type", "n")))
      .orderBy("d", "event_type")),
    Some("""WITH w AS (SELECT CAST(ts AS DATE) AS d,
           |    CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
           |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
           |    CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error
           |  FROM events GROUP BY 1)
           |SELECT d, event_type, n FROM (
           |  SELECT d, 'signup' AS event_type, signup AS n FROM w
           |  UNION ALL SELECT d, 'purchase', purchase FROM w
           |  UNION ALL SELECT d, 'error', error FROM w)
           |ORDER BY d, event_type""".stripMargin),
    bench = false)

  /** RANGE window frame (x45 covers ROWS): per-user rolling 10-minute value
    * sum, frame bounded by the ORDER BY value (epoch µs), not row count —
    * peers at the same instant always share a frame, so ties cannot drift.
    * DECIMAL accumulation, like x45, keeps the sum order-independent. */
  val x58 = Q("x58_window_range_frame",
    OneTaskBuild { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("us"))
        .rangeBetween(-600000000L, 0L)
      // ONE exchange (q11/x36 fusion)
      eventsByUser(s, d)
        .withColumn("us", unix_micros(col("ts")))
        .select(col("user_id"), col("event_id"),
          round(sum(col("value").cast("decimal(18,6)")).over(w)
            .cast("double"), 4).as("v10m"))
        .sortWithinPartitions("user_id", "event_id")
    },
    Some("""SELECT user_id, event_id,
           |  round(CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (
           |    PARTITION BY user_id ORDER BY epoch_us(CAST(ts AS TIMESTAMP))
           |    RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW) AS DOUBLE), 4) AS v10m
           |FROM events ORDER BY user_id, event_id""".stripMargin),
    bench = false)

  /** Regex scrub/normalize surface (the curation stage that masks or strips
    * patterns before training): extract-all counting plus global
    * regexp_replace with a word-boundary pattern. The patterns stay inside
    * the RE2 ∩ java.util.regex common subset ([aeiou]+, \btable\b) so both
    * engines compile identical semantics; DuckDB needs the explicit 'g'
    * flag for global replace (Spark replaces all matches by default). */
  val x59 = Q("x59_text_scrub",
    // sort-input-first (sortedDocs): orderBy AFTER the projection would
    // re-run both regex kernels in the range-sampling pass
    (s, d) => sortedDocs(s, d)
      .select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit("[aeiou]+"), lit(0)))
          .cast("bigint").as("n_vruns"),
        length(regexp_replace(col("text"), "\\btable\\b", "#"))
          .cast("bigint").as("scrub_len")),
    Some("""SELECT doc_id,
           |  CAST(length(regexp_extract_all(text, '[aeiou]+')) AS BIGINT) AS n_vruns,
           |  CAST(length(regexp_replace(text, '\btable\b', '#', 'g')) AS BIGINT) AS scrub_len
           |FROM documents ORDER BY doc_id""".stripMargin),
    bench = false)

  /** The x60 oracle's CTE chain up to `reach` (shared with x99, which
    * appends canonical-selection CTEs). */
  private def duckClustersCtes: String = {
    val bs = (0 until 32)
      .map(b => s"${Portable.simhashBitSum(DuckD, "hs", b)} AS bs$b").mkString(",\n  ")
    s"""h AS (SELECT doc_id,
       |  ${Portable.tokenHashes(DuckD, "text", distinctTokens = false)} AS hs
       |  FROM documents WHERE doc_id < 200),
       |bs AS (SELECT doc_id,
       |  $bs
       |  FROM h),
       |sig AS (SELECT doc_id,
       |  ${Portable.simhashFromBitSums((0 until 32).map(b => s"bs$b"))} AS simhash
       |  FROM bs),
       |e AS (SELECT l.doc_id AS a, r.doc_id AS b FROM sig l, sig r
       |  WHERE l.doc_id < r.doc_id
       |    AND bit_count(xor(l.simhash, r.simhash)) <= 1),
       |sym AS (SELECT a, b FROM e UNION SELECT b AS a, a AS b FROM e),
       |reach(src, dst) AS (
       |  SELECT a, b FROM sym
       |  UNION
       |  SELECT r.src, s.b FROM reach r JOIN sym s ON r.dst = s.a)""".stripMargin
  }

  private def duckClustersSql: String =
    s"""WITH RECURSIVE $duckClustersCtes
       |SELECT src AS doc_id, CAST(least(src, min(dst)) AS BIGINT) AS cluster
       |FROM reach GROUP BY src ORDER BY src""".stripMargin

  /** Dedup cluster formation — the step AFTER pair generation: connected
    * components over a near-dup edge set ([[graft.operators.Clusters]]:
    * driver union-find, or star contraction at scale). Edges are Hamming-ball pairs
    * (simhash distance ≤ 1) generated WITHOUT an all-pairs join: each doc
    * posts its simhash plus the 32 one-bit flips, pairs meet on key
    * equality, then verify exactly — the same candidates+verify posture as
    * the LSH tiers, so the plan stays NLJ-free. The doc_id < 200 bound
    * keeps the ORACLE's all-pairs + recursive-closure form cheap; the
    * Spark side scales unbounded. The oracle computes components via
    * DuckDB's recursive CTE (transitive closure, then min per node). */
  /** x60's cluster table (doc_id, cluster) — shared with x99's canonical
    * selection. */
  private def dupClusters(s: SparkSession, d: String): DataFrame = {
    val sigs = graft.operators.Dedup.simhashSignatures(
      t(s, d, "documents").where(col("doc_id") < 200))
    val probeKeys = array(
      col("simhash") +:
        (0 until 32).map(b => col("simhash").bitwiseXOR(lit(1L << b))): _*)
    val probes = sigs.select(col("doc_id"), col("simhash"),
      explode(probeKeys).as("key"))
    val edges = probes.as("l").join(probes.as("r"),
        col("l.key") === col("r.key") && col("l.doc_id") < col("r.doc_id"))
      .where(bit_count(col("l.simhash").bitwiseXOR(col("r.simhash"))) <= 1)
      .select(col("l.doc_id").as("a"), col("r.doc_id").as("b"))
      .distinct()
    // adaptive tier: the bounded edge list union-finds on the driver after
    // ONE job (broadcast-join-style size check); over-cap edge sets route
    // to the distributed star-contraction rounds — see connectedComponentsAuto
    graft.operators.Clusters.connectedComponentsAuto(edges)
      .select(col("node").as("doc_id"), col("cluster"))
  }

  val x60 = Q("x60_dedup_clusters",
    (s, d) => dupClusters(s, d).orderBy("doc_id"),
    Some(duckClustersSql),
    bench = false)

  /** Statistical aggregate kit: corr / covar_samp / stddev_samp / var_samp /
    * regr_slope per group — the profiling surface a data-quality pass runs
    * before training. All are one-pass co-moment aggregations (partial-agg
    * friendly); round(,4) absorbs the last-ulp differences between the two
    * engines' merge orders (values are O(1)–O(1e4), double carries ~15
    * significant digits). */
  val x61 = Q("x61_stats_kit",
    OneTaskBuild((s, d) => t(s, d, "lineitem")
      .groupBy(col("l_returnflag").as("rflag"))
      .agg(
        round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qp"),
        round(covar_samp(col("l_quantity"), col("l_extendedprice")), 4).as("covar_qp"),
        round(stddev_samp(col("l_discount")), 4).as("sd_disc"),
        round(var_samp(col("l_tax")), 4).as("var_tax"),
        round(regr_slope(col("l_extendedprice"), col("l_quantity")), 4).as("slope_pq"))
      .transform(reportSort(_, col("rflag")))),
    Some("""SELECT l_returnflag AS rflag,
           |  round(corr(l_quantity, l_extendedprice), 4) AS corr_qp,
           |  round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_qp,
           |  round(stddev_samp(l_discount), 4) AS sd_disc,
           |  round(var_samp(l_tax), 4) AS var_tax,
           |  round(regr_slope(l_extendedprice, l_quantity), 4) AS slope_pq
           |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),
    bench = false)

  /** Sequential event funnel (signup → click → purchase, strictly ordered
    * in time per user): each stage's entry time is the MIN event time after
    * the previous stage's entry — conditional aggregations chained by slim
    * equi joins on user_id, no window over the full event stream. Output is
    * each signed-up user's funnel depth (1–3).
    *
    * reportSort tail KEPT through the r10 x18 audit: the output is
    * O(signed-up users) — it grows with data (150 rows sf0.01 → 75k sf5),
    * but at ~12 B/row the one-task merge stays trivial (~1 MB at sf5) and
    * the repartition(1) is part of the PlanShapeSpec-pinned one-exchange
    * design. At ~10⁸+ users swap the tail for the parallel range sort
    * (x18's adjudication) — the pinned map side is unaffected. */
  val x62 = Q("x62_funnel",
    (s, d) => {
      // ONE data exchange: hash-partition the slim event projection by
      // user_id once and materialize it (e feeds four consumers, and
      // without it each reference replans its own scan + exchange). The
      // relation keeps the partitioning, so the three per-user aggregates
      // and all four user_id joins downstream are exchange-free.
      // The bounded O(users) report takes the usual reportSort tail.
      val eRaw = t(s, d, "events").select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      // fork: one task runs a join-free array funnel, an algorithm of its
      // own (BASELINE.md, "Scale gate ledgers")
      if (ScalePolicy.fits(ScalePolicy.OneTask, t(s, d, "events"))) {
        // per-user event array + three conditional array scans: t1 = min
        // signup time, t2 = min click time strictly after t1, t3 = min
        // purchase strictly after t2 (a null tN nulls everything later:
        // filter(_ > null) is empty, array_min of empty is null)
        reportSortFused(eRaw.coalesce(1)
          .groupBy("user_id")
          .agg(collect_list(struct(col("us"), col("event_type"))).as("evs"))
          .withColumn("t1", expr(
            "array_min(transform(filter(evs, x -> x.event_type = 'signup'), x -> x.us))"))
          .withColumn("t2", expr(
            "array_min(filter(transform(filter(evs, x -> x.event_type = 'click'), x -> x.us), u -> u > t1))"))
          .withColumn("t3", expr(
            "array_min(filter(transform(filter(evs, x -> x.event_type = 'purchase'), x -> x.us), u -> u > t2))"))
          .where(col("t1").isNotNull)
          .select(col("user_id"),
            (lit(1L) + when(col("t2").isNotNull, 1L).otherwise(0L)
              + when(col("t3").isNotNull, 1L).otherwise(0L)).as("depth")),
          col("user_id"))
      } else {
      val e = Materialize(eRaw.repartition(col("user_id")))
      val s1 = e.where(col("event_type") === "signup")
        .groupBy("user_id").agg(min("us").as("t1"))
      val s2 = e.join(s1, "user_id")
        .where(col("event_type") === "click" && col("us") > col("t1"))
        .groupBy("user_id").agg(min("us").as("t2"))
      val s3 = e.join(s2, "user_id")
        .where(col("event_type") === "purchase" && col("us") > col("t2"))
        .groupBy("user_id").agg(min("us").as("t3"))
      reportSort(s1.join(s2, Seq("user_id"), "left")
        .join(s3, Seq("user_id"), "left")
        .select(col("user_id"),
          (lit(1L) + when(col("t2").isNotNull, 1L).otherwise(0L)
            + when(col("t3").isNotNull, 1L).otherwise(0L)).as("depth")),
        col("user_id"))
      }
    },
    Some("""WITH e AS (SELECT user_id, event_type,
           |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
           |s1 AS (SELECT user_id, min(us) AS t1 FROM e
           |  WHERE event_type = 'signup' GROUP BY 1),
           |s2 AS (SELECT e.user_id, min(e.us) AS t2 FROM e
           |  JOIN s1 ON e.user_id = s1.user_id
           |  WHERE e.event_type = 'click' AND e.us > s1.t1 GROUP BY 1),
           |s3 AS (SELECT e.user_id, min(e.us) AS t3 FROM e
           |  JOIN s2 ON e.user_id = s2.user_id
           |  WHERE e.event_type = 'purchase' AND e.us > s2.t2 GROUP BY 1)
           |SELECT s1.user_id,
           |  CAST(1 + (CASE WHEN s2.user_id IS NULL THEN 0 ELSE 1 END)
           |         + (CASE WHEN s3.user_id IS NULL THEN 0 ELSE 1 END)
           |    AS BIGINT) AS depth
           |FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
           |  LEFT JOIN s3 ON s1.user_id = s3.user_id
           |ORDER BY s1.user_id""".stripMargin),
    bench = false)

  /** Deterministic stratified sampling: per-stratum keep rates applied via
    * a multiplicative integer hash of the row key — reproducible across
    * runs, engines, and partitionings (unlike rand()-based sampling), the
    * property a training pipeline needs to downweight over-represented
    * strata (here: 5% of views, 10% of clicks, 50% of errors, all of the
    * rest). Knuth multiplicative hash in exact BIGINT arithmetic; the key is
    * reduced mod 1e9+7 BEFORE the multiply (a no-op for today's id range,
    * identical on both engines) so the product stays under 2^63 for ANY
    * bigint key — without it, ids past ~3.4e9 (trivial at the 100 TB
    * posture) overflow and ANSI mode kills the query. Per-stratum keep
    * counts plus id-range fingerprints verify the identical row selection. */
  val x63 = Q("x63_stratified_sample",
    OneTaskBuild((s, d) => t(s, d, "events")
      .withColumn("h",
        ((col("event_id") % lit(1000000007L)) * lit(2654435761L))
          % lit(1000000007L) % lit(1000L))
      .withColumn("keep_pm",
        when(col("event_type") === "view", 50L)
          .when(col("event_type") === "click", 100L)
          .when(col("event_type") === "error", 500L)
          .otherwise(1000L))
      .where(col("h") < col("keep_pm"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_kept"), min("event_id").as("min_id"),
        max("event_id").as("max_id"))
      .transform(reportSort(_, col("event_type")))),
    Some("""SELECT event_type, COUNT(*) AS n_kept, min(event_id) AS min_id,
           |  max(event_id) AS max_id
           |FROM (SELECT event_type, event_id,
           |    (((event_id % 1000000007) * 2654435761) % 1000000007) % 1000
           |      AS h FROM events)
           |WHERE h < CASE event_type WHEN 'view' THEN 50 WHEN 'click' THEN 100
           |  WHEN 'error' THEN 500 ELSE 1000 END
           |GROUP BY 1 ORDER BY 1""".stripMargin),
    bench = false)

  /** Document chunking for context-window-bounded training: each document
    * split into 30-token windows with stride 25 (5-token overlap), the
    * standard packing prep before tokenization. Pure per-row array compute
    * (sequence + slice inside codegen) — no shuffle until the output sort;
    * the last chunk per doc may be short, never empty. */
  val x64 = Q("x64_doc_chunks",
    // the range exchange comes FIRST, on the raw (doc_id, text) rows, for
    // two measured reasons (sf1 profile): (a) an orderBy at the tail let
    // AQE size the sort's read by compressed shuffle bytes — chunk strings
    // compress so well the 536k-row output collapsed to TWO 0.5 s serial
    // sort tasks (the x89 under-split lesson); (b) a tail range sort's
    // SAMPLING pass re-runs the whole tokenize+explode plan. Ranging by
    // doc_id up front samples raw rows only, tokenizes ONCE after the
    // exchange, and the within-partition (doc_id, off) sort still yields
    // the same global order (partitions are doc_id ranges).
    (s, d) => t(s, d, "documents")
      .select(col("doc_id"), col("text"))
      // raw-text token-bearing filter (⇔ size(toks) > 0 for the
      // single-space tokenizer): the post-tokenize `where(n > 0)` form
      // pushed a split+filter-bearing predicate below the range exchange,
      // tokenizing the corpus in the sampling job AND the map stage (the
      // r16 x24 pushdown lesson; sf5 profile confirmed)
      .where(col("text").rlike("[^ ]"))
      .repartitionByRange(s.sparkContext.defaultParallelism, col("doc_id"))
      // AllTokens kernel, not the split+filter HOF (KernelParitySpec pins
      // kernel ≡ declarative)
      .select(col("doc_id"),
        graft.functions.TextHashFunctions.allTokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")))
      .select(col("doc_id"), col("toks"), col("n"),
        explode(expr("sequence(1, n, 25)")).as("off"))
      .select(col("doc_id"), col("off").cast("bigint").as("off"),
        (least(col("off") + 29, col("n")) - col("off") + 1).cast("bigint")
          .as("n_chunk"),
        concat_ws(" ", slice(col("toks"), col("off"), lit(30))).as("chunk"))
      .sortWithinPartitions("doc_id", "off"),
    Some(s"""WITH t AS (SELECT doc_id, ${Portable.tokens(DuckD, "text")} AS toks
            |  FROM documents),
            |t2 AS (SELECT doc_id, toks, length(toks) AS n FROM t
            |  WHERE length(toks) > 0)
            |SELECT doc_id, CAST(off AS BIGINT) AS off,
            |  CAST(least(off + 29, n) - off + 1 AS BIGINT) AS n_chunk,
            |  array_to_string(toks[off:least(off + 29, n)], ' ') AS chunk
            |FROM t2, unnest(range(1, n + 1, 25)) AS u(off)
            |ORDER BY doc_id, off""".stripMargin),
    bench = false)

  /** Adjacent-token-pair frequencies — the counting step a BPE/WordPiece
    * vocabulary-induction loop runs per merge round. Pairs keep their
    * per-document multiplicity (unlike shingle DEDUP sets); top-20 with a
    * lexicographic tiebreak, via TakeOrderedAndProject (partial top-k per
    * partition, no full sort). */
  val x65 = Q("x65_bpe_pairs",
    // one-pass TokenPairs kernel (with multiplicity; empty under 2 tokens,
    // so no size filter and no kernel-bearing pushdown) — the HOF
    // transform+concat form ran serially on the single-file scan task
    // kernel tier: the kernel + partial agg spread above it (BASELINE.md)
    (s, d) => ScalePolicy.kernelSpread(t(s, d, "documents").select("doc_id", "text"), "doc_id")
      .select(explode(
        graft.functions.TextHashFunctions.tokenPairs(col("text"))).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("pair")).limit(20),
    Some(s"""WITH t AS (SELECT ${Portable.tokens(DuckD, "text")} AS toks
            |  FROM documents),
            |p AS (SELECT unnest(list_transform(range(1, length(toks)),
            |    i -> concat(toks[i], ' ', toks[i + 1]))) AS pair
            |  FROM t WHERE length(toks) >= 2)
            |SELECT pair, COUNT(*) AS n FROM p GROUP BY 1
            |ORDER BY n DESC, pair LIMIT 20""".stripMargin),
    bench = false)

  /** Benchmark decontamination: which held-out documents share 3-gram
    * shingles with the training split? Splits come from the deterministic
    * content-fingerprint hash (x40's mechanism); the train side collapses to
    * a DISTINCT shingle set (8-byte hashes, one per distinct shingle in the
    * corpus — never per-document rows), so the check is an inverted-index
    * equi-join, not doc×doc. Spark joins hashed shingles, the oracle joins
    * shingle strings — identical counts absent a 2^-64 collision (same
    * contract as x20). */
  val x66 = Q("x66_decontamination",
    // ONE kernel pass over the kernel tier's layout, checkpointed for the
    // train and eval branches (BASELINE.md, "Scale gate ledgers")
    // Identical output: h and the shingle sets are
    // computed by the same kernels, the h in [80,90) dead zone was never
    // emitted by either branch, and shingleSet rows for it are discarded
    // by the same filters.
    (s, d) => {
      val packed = Materialize(ScalePolicy.kernelSpread(
          t(s, d, "documents").select("doc_id", "text"), "doc_id")
        .select(col("doc_id"),
          (graft.functions.TextHashFunctions.fingerprint(col("text")) % 100)
            .as("h"),
          graft.functions.TextHashFunctions.shingleSet(col("text")).as("shs")))
      val trainSh = packed.where(col("h") < 80)
        .select(explode(col("shs")).as("sh"))
        .distinct()
      val evalSh = packed.where(col("h") >= 90)
        .select(col("doc_id"), explode(col("shs")).as("sh"))
      evalSh.join(trainSh, "sh")
        .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
        .orderBy("doc_id")
    },
    Some(s"""WITH th AS (SELECT doc_id, text,
            |    ${Portable.tokenHashes(DuckD, "text", distinctTokens = false)} AS hs
            |  FROM documents),
            |f AS (SELECT doc_id, text,
            |    ${Portable.fingerprint(DuckD, "hs")} % 100 AS h FROM th),
            |tok AS (SELECT doc_id, h, ${Portable.tokens(DuckD, "text")} AS toks
            |  FROM f),
            |sh0 AS (SELECT doc_id, h, unnest(${graft.operators.Dedup.shingleExprDuck("toks")}) AS sh
            |  FROM tok),
            |sh AS (SELECT DISTINCT doc_id, h, sh FROM sh0),
            |tr AS (SELECT DISTINCT sh FROM sh WHERE h < 80),
            |ev AS (SELECT doc_id, sh FROM sh WHERE h >= 90)
            |SELECT ev.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
            |FROM ev JOIN tr ON ev.sh = tr.sh
            |GROUP BY 1 ORDER BY 1""".stripMargin),
    bench = false)

  /** Winsorization (outlier clipping to per-group [p01, p99]) — the
    * numeric-feature cleaning pass before training. Per-group quantile
    * bounds (bounded: one row per group) broadcast back onto the stream,
    * values clip with least/greatest, and the summary proves the clip
    * changed exactly the tail. Decimal-exact averaging keeps the result
    * order-independent.
    *
    * 100 TB routing note (mirrors x33 vs x54): exact `percentile` must
    * materialize every group's values on one reducer per group — at scale
    * swap the bounds aggregate to `approx_percentile(value, p, accuracy)`
    * (the x54 sketch tier; mergeable, one pass, bounded memory). The clip
    * itself is unchanged — only the bounds estimator routes. Exact is kept
    * here because the oracle hash-checks exact values. */
  val x67 = Q("x67_winsorize",
    OneTaskBuild { (s, d) =>
      val e = t(s, d, "events")
      // Clip bounds rounded to 4 decimals — the DECLARED winsorize
      // semantics since round 7: the interpolated percentile of 2-decimal
      // values is an exact ≤4-decimal rational, but each engine computes
      // it 1 ulp off in its own direction, and at sf1 the bound lands ON
      // a 10-copy tied value — the strict comparisons below then flipped
      // all 10 copies (n_clipped 3990 vs 4000). round(·, 4) of a value
      // 1 ulp from a 4-decimal point is safely far from the .00005
      // rounding boundary, so both engines pin the identical bound.
      // array-form percentile plan (r15): see Relational.exactPercentiles
      val bounds = Relational.exactPercentiles(e, Seq("event_type"),
          col("value"), Seq(0.01 -> "loR", 0.99 -> "hiR"))
        .select(col("event_type"), round(col("loR"), 4).as("lo"),
          round(col("hiR"), 4).as("hi"))
      reportSort(
        e.join(broadcast(bounds), "event_type")
          .withColumn("clipped", least(greatest(col("value"), col("lo")), col("hi")))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(when(col("value") < col("lo") || col("value") > col("hi"), 1L)
              .otherwise(0L)).as("n_clipped"),
            round(sum(col("clipped").cast("decimal(28,10)")).cast("double"), 4)
              .as("sum_clipped"),
            round(max(col("clipped")), 4).as("max_clipped")),
        col("event_type"))
    },
    Some("""WITH b AS (SELECT event_type,
           |    round(quantile_cont(value, 0.01), 4) AS lo,
           |    round(quantile_cont(value, 0.99), 4) AS hi
           |  FROM events GROUP BY 1)
           |SELECT e.event_type, COUNT(*) AS n,
           |  CAST(SUM(CASE WHEN e.value < b.lo OR e.value > b.hi
           |    THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
           |  round(CAST(SUM(CAST(least(greatest(e.value, b.lo), b.hi)
           |    AS DECIMAL(28,10))) AS DOUBLE), 4) AS sum_clipped,
           |  round(max(least(greatest(e.value, b.lo), b.hi)), 4) AS max_clipped
           |FROM events e JOIN b ON e.event_type = b.event_type
           |GROUP BY 1 ORDER BY 1""".stripMargin),
    bench = false)

  /** Equi-width histogram via width_bucket — distribution profiling for
    * data-quality reports. Bucket edges are constants, so bucketing is
    * per-row arithmetic (no quantile pass); count + decimal-exact sum per
    * bucket. */
  val x68 = Q("x68_histogram",
    OneTaskBuild((s, d) => reportSort(t(s, d, "events")
      .withColumn("bucket", width_bucket(col("value"), lit(0.0), lit(100.0), lit(10)))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        round(sum(col("value").cast("decimal(28,10)")).cast("double"), 4)
          .as("sum_v")),
      col("bucket"))),
    // DuckDB 1.0 has no width_bucket; the CASE below IS its arithmetic for
    // these constant edges — bucket width (100-0)/10 = 10.0 exactly, so both
    // engines evaluate the identical floor(value/10.0) on every boundary
    Some("""SELECT CASE WHEN value < 0.0 THEN 0 WHEN value >= 100.0 THEN 11
           |    ELSE CAST(floor(value / 10.0) AS BIGINT) + 1 END AS bucket,
           |  COUNT(*) AS n,
           |  round(CAST(SUM(CAST(value AS DECIMAL(28,10))) AS DOUBLE), 4) AS sum_v
           |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
    bench = false)

  /** Intra-document repetition ratio (1 − distinct/total 3-gram shingles) —
    * the C4/Gopher-family quality signal that catches boilerplate loops and
    * degenerate generations. Total shingle count is plain arithmetic off the
    * token count; the distinct count reuses the one-pass [[ShingleSet]]
    * kernel — per-row compute, no shuffle before the output sort. */
  val x69 = Q("x69_repetition",
    // sort-input-first, with the ≥3-tokens gate expressed on RAW text:
    // n_sh > 0 ⇔ ≥ 3 single-space-separated tokens ⇔ two space-gaps each
    // bounded by non-space chars — the regex finds one in a forward scan,
    // where the old post-kernel `where(n_sh > 0)` pushed a split+size
    // predicate below the sort exchange and tokenized the corpus in the
    // sampling job and map stage too (the r16 x64 pushdown lesson); the
    // TokenCount kernel replaces the HOF split for the total
    (s, d) => sortedDocs(s, d)
      .where(col("text").rlike("[^ ]+ +[^ ]+ +[^ ]"))
      .select(col("doc_id"),
        graft.functions.TextHashFunctions.tokenCount(col("text")).as("n_toks"),
        graft.functions.TextHashFunctions.shingleSet(col("text")).as("shs"))
      .select(col("doc_id"),
        greatest(col("n_toks") - 2, lit(0)).cast("bigint").as("n_sh"),
        size(col("shs")).cast("bigint").as("n_uniq"))
      .select(col("doc_id"), col("n_sh"), col("n_uniq"),
        round(lit(1.0) - col("n_uniq") / (lit(1.0) * col("n_sh")), 4)
          .as("rep_ratio")),
    Some(s"""WITH t AS (SELECT doc_id, ${Portable.tokens(DuckD, "text")} AS toks
            |  FROM documents),
            |sh AS (SELECT doc_id,
            |    unnest(${graft.operators.Dedup.shingleExprDuck("toks")}) AS sh
            |  FROM t),
            |agg AS (SELECT doc_id, COUNT(*) AS n_sh,
            |    COUNT(DISTINCT sh) AS n_uniq FROM sh GROUP BY 1)
            |SELECT doc_id, CAST(n_sh AS BIGINT) AS n_sh,
            |  CAST(n_uniq AS BIGINT) AS n_uniq,
            |  round(1.0 - n_uniq / (1.0 * n_sh), 4) AS rep_ratio
            |FROM agg WHERE n_sh > 0 ORDER BY doc_id""".stripMargin),
    bench = false)

  /** Per-source corpus report over the documents table's provenance columns:
    * volume, exact-dup pressure (distinct md5 texts vs rows), language
    * spread, and total characters — the slice a curation run reviews before
    * admitting a source. Pure integer outputs; one partial-agg shuffle. */
  val x70 = Q("x70_source_report",
    OneTaskBuild((s, d) => reportSort(t(s, d, "documents")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_uniq_texts"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("n_chars")).as("sum_chars")),
      col("source"))),
    Some("""SELECT source, COUNT(*) AS n_docs,
           |  COUNT(DISTINCT md5(text)) AS n_uniq_texts,
           |  COUNT(DISTINCT lang) AS n_langs,
           |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
           |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),
    bench = false)

  /** k-NN label prediction over the embeddings table's `label` column: each
    * probe (vec_id < 10, broadcast) takes the majority label of its 5
    * nearest candidates by cosine (ties: higher vote count, then smaller
    * label; neighbor ties: higher cos, then smaller vec_id — fully
    * deterministic). The scan side streams once past the broadcast probe
    * set; at scale the candidate pass would swap in the x22/x48 ANN tiers
    * unchanged, since only the scoring join differs. */
  val x71 = Q("x71_knn_label",
    OneTaskBuild { (s, d) =>
      // norms ONCE per vector, below the join (round 10, sf5 profile):
      // cosine4(e, qv) expands to THREE DotProduct kernels per pair —
      // dot(e,qv) plus both norms recomputed for every (vector, probe)
      // combination, 3× the FLOPs of the oracle's own precomputed-nrm
      // shape. Projecting nrm on the corpus side (evaluated once per
      // stream row — the join node blocks CollapseProject from pushing it
      // above) and qn inside the broadcast probe build leaves ONE kernel
      // per pair. Same doubles, same left-to-right fold → hash-identical.
      // `ed` pre-widens float→double ONCE per row as well: V.dot casts
      // both operands, and on the raw embedding column that allocation
      // would run per PAIR (the 10-row probe side: 1M casts of the same
      // 10 arrays). On the pre-cast column SimplifyCasts drops the
      // kernel's inner no-op cast.
      val emb = t(s, d, "embeddings")
        .withColumn("ed", V.asDouble(col("embedding")))
        .withColumn("nrm", V.norm(col("ed")))
      val probes = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("ed").as("qv"),
          col("nrm").as("qn"))
      val scored = emb.where(col("vec_id") >= 10)
        .crossJoin(broadcast(probes))
        .select(col("qid"), col("vec_id"), col("label"),
          round(V.dot(col("ed"), col("qv")) /
            (col("nrm") * col("qn")), 4).as("cos"))
      // top-5 per probe as a bounded heap, not a ranking window: the
      // window sorts corpus/probes rows per qid through one task each
      // (O(n log n) at any scale), where largestK's map-side heaps cap
      // per-group state at k=5 regardless of corpus size. (cos desc,
      // vec_id asc) tie order = struct(cos, -vec_id) descending; label
      // rides as a payload field (never compared — vec_id is unique).
      // sf5 JobProfile A/B same session, cumulative: 3.48 s baseline →
      // 1.97 s (one kernel/pair + heap) → 1.48 s (pre-cast arrays).
      val top5 = scored
        .select(col("qid"), struct(col("cos"),
          (col("vec_id") * lit(-1L)).as("nid"), col("label")).as("s"))
        .groupBy("qid").agg(Relational.largestK(col("s"), 5).as("top"))
        .select(col("qid"), explode(col("top")).as("s"))
      val votes = top5.groupBy(col("qid"), col("s.label").as("label"))
        .agg(count(lit(1)).as("votes"))
      val winner = Relational.topKPerGroup(votes, Seq("qid"),
        Seq(col("votes").desc, col("label")), 1)
      reportSort(winner.select(col("qid"),
        col("label").cast("bigint").as("pred_label"), col("votes")),
        col("qid"))
    },
    Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label,
           |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
           |         CAST(embedding AS DOUBLE[]))) AS nrm FROM embeddings),
           |p AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM e
           |  WHERE vec_id < 10),
           |s AS (SELECT p.qid, e.vec_id, e.label,
           |    round(list_dot_product(e.v, p.qv) / (e.nrm * p.qn), 4) AS cos
           |  FROM e, p WHERE e.vec_id >= 10),
           |r AS (SELECT qid, label, row_number() OVER (
           |    PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn FROM s),
           |v AS (SELECT qid, label, COUNT(*) AS votes FROM r
           |  WHERE rn <= 5 GROUP BY 1, 2),
           |w AS (SELECT qid, label, votes, row_number() OVER (
           |    PARTITION BY qid ORDER BY votes DESC, label) AS rw FROM v)
           |SELECT qid, CAST(label AS BIGINT) AS pred_label, votes
           |FROM w WHERE rw = 1 ORDER BY qid""".stripMargin),
    bench = false)

  /** Date-spine gap fill: per-user daily event counts with missing days
    * materialized as 0 over each user's own [min, max] date range — the
    * resample step before any time-series feature build. Days come from
    * per-segment sequence(explode) between consecutive observations,
    * never a calendar cross join. */
  val x72 = Q("x72_gapfill",
    OneTaskBuild { (s, d) =>
      // x98's round-6 segment-explode shape, applied to gap fill: each
      // consecutive-observation segment [d, next d) emits its own days via
      // one lead window over OBSERVED days + sequence explode — no spine
      // aggregate, no (user_id, d) join, no checkpoint. The input
      // RANGE-partitions by user_id up front (sampling sees the raw
      // projection) so the daily aggregate and the window reuse the one
      // exchange, and the table-shaped output (O(users × days), grows
      // with data) sorts in PARALLEL within user_id-ranged partitions —
      // not the single-task report merge (the x74 sf1 lesson).
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("d")
      t(s, d, "events")
        .select(col("user_id"), to_date(col("ts")).as("d"))
        .repartitionByRange(s.sparkContext.defaultParallelism, col("user_id"))
        .groupBy("user_id", "d")
        .agg(count(lit(1)).as("n"))
        .withColumn("nd", lead(col("d"), 1).over(w))
        .select(col("user_id"), col("d").as("pd"), col("n"),
          explode(expr(
            "sequence(d, coalesce(date_sub(nd, 1), d), interval 1 day)"))
            .as("d"))
        .select(col("user_id"), col("d"),
          when(col("d") === col("pd"), col("n")).otherwise(lit(0L)).as("n"))
        .sortWithinPartitions("user_id", "d")
    },
    Some("""WITH daily AS (SELECT user_id, CAST(ts AS DATE) AS d, COUNT(*) AS n
           |  FROM events GROUP BY 1, 2),
           |span AS (SELECT user_id, min(d) AS d0, max(d) AS d1
           |  FROM daily GROUP BY 1),
           |spine AS (SELECT user_id,
           |    CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS d
           |  FROM span)
           |SELECT s.user_id, s.d, CAST(coalesce(dl.n, 0) AS BIGINT) AS n
           |FROM spine s LEFT JOIN daily dl
           |  ON s.user_id = dl.user_id AND s.d = dl.d
           |ORDER BY 1, 2""".stripMargin),
    bench = false)

  /** Forward fill (last non-null IGNORE NULLS window): each event row carries
    * the user's most recent purchase value — feature propagation without a
    * self-join. Values pass through both engines bit-identically (no
    * arithmetic), rows before a user's first purchase stay null. */
  val x73 = Q("x73_forward_fill",
    OneTaskBuild { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // ONE exchange (q11/x36 fusion); the window's sort (user_id, event_id)
      // IS the output order, so no local re-sort remains at all
      eventsByUser(s, d)
        .select(col("user_id"), col("event_id"),
          when(col("event_type") === "purchase", col("value")).as("pv"))
        .select(col("user_id"), col("event_id"),
          last("pv", ignoreNulls = true).over(w).as("last_purchase_v"))
        .sortWithinPartitions("user_id", "event_id")
    },
    Some("""SELECT user_id, event_id,
           |  last_value(CASE WHEN event_type = 'purchase' THEN value END
           |    IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY event_id
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |    AS last_purchase_v
           |FROM events ORDER BY user_id, event_id""".stripMargin),
    bench = false)

  /** Debounce/throttle: keep only the FIRST event per (user, type) inside
    * each 10-minute tumbling window and count what was suppressed — the
    * rate-limiting primitive upstream of alerting/feature pipelines.
    * Window index is exact integer division of epoch µs.
    *
    * The output is one row per (user, type, window) — TABLE-shaped, it
    * grows with the data — so the tail is NOT a reportSortFused
    * single-task merge (at sf1 that coalesced the final agg + sort of
    * ~100k groups into one 1.4 s serial task, measured). Instead the
    * input range-partitions by the group keys up front: the aggregation
    * reuses the range clustering (no second exchange), the
    * within-partition sort yields the same global order in parallel, and
    * the range sampling sees only the raw scan projection. */
  val x74 = Q("x74_debounce",
    OneTaskBuild((s, d) => t(s, d, "events")
      .withColumn("w", expr("unix_micros(ts) div 600000000"))
      .repartitionByRange(s.sparkContext.defaultParallelism,
        col("user_id"), col("event_type"), col("w"))
      .groupBy("user_id", "event_type", "w")
      .agg(min("event_id").as("first_event_id"),
        (count(lit(1)) - 1).as("n_suppressed"))
      .sortWithinPartitions("user_id", "event_type", "w")),
    Some("""SELECT user_id, event_type,
           |  epoch_us(CAST(ts AS TIMESTAMP)) // 600000000 AS w,
           |  min(event_id) AS first_event_id,
           |  COUNT(*) - 1 AS n_suppressed
           |FROM events GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),
    bench = false)

  /** Share-of-total report: each event type's fraction of its day's volume
    * (ratio-to-report window over a bounded aggregate). The window runs on
    * the aggregate (O(days × types) rows), never the raw stream — the
    * partitionBy("d") key is low-cardinality but its INPUT is the bounded
    * report, so the 100 TB posture holds (contrast x51/x76, whose
    * low-cardinality windows over raw tables were reshaped away). */
  val x75 = Q("x75_share_of_total",
    OneTaskBuild { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      reportSort(t(s, d, "events")
        .groupBy(to_date(col("ts")).as("d"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("share", round(col("n") /
          (lit(1.0) * sum("n").over(Window.partitionBy("d"))), 4)),
        col("d"), col("event_type"))
    },
    Some("""WITH a AS (SELECT CAST(ts AS DATE) AS d, event_type,
           |    COUNT(*) AS n FROM events GROUP BY 1, 2)
           |SELECT d, event_type, n,
           |  round(n / (1.0 * SUM(n) OVER (PARTITION BY d)), 4) AS share
           |FROM a ORDER BY d, event_type""".stripMargin),
    bench = false)

  /** Tie-aware ranking semantics (rank vs dense_rank, which x51's
    * distribution windows and q16's row_number don't pin): balance buckets
    * of 1000 create heavy ties per segment, where the two functions
    * genuinely diverge. Both rank values are independent of intra-tie row
    * order, so the output is deterministic without a unique sort key inside
    * the window. */
  val x76 = Q("x76_rank_ties",
    OneTaskBuild { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      // Scale note (x51-class audit): this window partitions the customer
      // table by a ~5-value key — a documented BOUNDED-INPUT trade, kept
      // because the per-key payload here (customers per segment) is ~10×
      // smaller than x51's and the two-pass alternative was MEASURED
      // slower at bench scale (0.53 s vs 0.16 s — checkpoint + block-stats
      // mechanics dominate a 15k-row sort). Past the point where one
      // segment's customers overflow a task, switch to
      // [[Relational.keyedRowNumbers]] + tie stats from the bounded
      // (segment, bucket) aggregate: rank = min row number in the tie
      // group, dense_rank = bucket position among the segment's distinct
      // buckets — exactly x51's reshape.
      val w = Window.partitionBy("c_mktsegment")
        .orderBy(col("bucket").desc)
      t(s, d, "customer")
        .select(col("c_mktsegment"), col("c_custkey"),
          floor(col("c_acctbal") / 1000).cast("bigint").as("bucket"))
        .select(col("c_mktsegment"), col("c_custkey"), col("bucket"),
          rank().over(w).cast("bigint").as("rnk"),
          dense_rank().over(w).cast("bigint").as("drnk"))
        .orderBy("c_mktsegment", "c_custkey")
    },
    Some("""SELECT c_mktsegment, c_custkey,
           |  CAST(floor(c_acctbal / 1000) AS BIGINT) AS bucket,
           |  CAST(rank() OVER (PARTITION BY c_mktsegment
           |    ORDER BY floor(c_acctbal / 1000) DESC) AS BIGINT) AS rnk,
           |  CAST(dense_rank() OVER (PARTITION BY c_mktsegment
           |    ORDER BY floor(c_acctbal / 1000) DESC) AS BIGINT) AS drnk
           |FROM customer ORDER BY c_mktsegment, c_custkey""".stripMargin),
    bench = false)

  /** Median absolute deviation per group — the robust scale estimate a
    * feature pipeline prefers over stddev under outliers. Two quantile
    * passes: the per-group median (bounded) broadcasts back onto the
    * stream, then the median of absolute deviations.
    *
    * 100 TB routing note (mirrors x33 vs x54, same as x67): both exact
    * `percentile` calls swap to `approx_percentile` sketches at scale —
    * mergeable, one pass, bounded reducer memory — keeping the
    * broadcast-join shape intact. Exact kept here for the hash oracle. */
  val x77 = Q("x77_mad",
    OneTaskBuild { (s, d) =>
      val e = t(s, d, "events")
      // r14 two-agg shape kept (r15 A/B): a helper-based med + dev + mad
      // three-join variant measured worse (0.41 vs 0.31 s) AND re-shuffled
      // — the mad-side SHJ child contains the med join, tripping the known
      // Spark re-shuffle quirk on join-bearing subtrees (1 stage → 3).
      val med = e.groupBy("event_type")
        .agg(expr("percentile(value, 0.5)").as("med"))
      reportSort(
        e.join(broadcast(med), "event_type")
          .withColumn("dev", abs(col("value") - col("med")))
          .groupBy("event_type")
          .agg(round(max("med"), 4).as("med"),
            round(expr("percentile(dev, 0.5)"), 4).as("mad")),
        col("event_type"))
    },
    Some("""WITH m AS (SELECT event_type,
           |    quantile_cont(value, 0.5) AS med FROM events GROUP BY 1),
           |d AS (SELECT e.event_type, m.med, abs(e.value - m.med) AS dev
           |  FROM events e JOIN m ON e.event_type = m.event_type)
           |SELECT event_type, round(max(med), 4) AS med,
           |  round(quantile_cont(dev, 0.5), 4) AS mad
           |FROM d GROUP BY 1 ORDER BY 1""".stripMargin),
    bench = false)

  /** REAL image decode (x27's plumbing made real): solid-fill PNGs encoded
    * by the JDK's PNG codec, then decoded back with `javax.imageio` to
    * recover geometry + exact channel means. The oracle predicts the
    * decoder's output from the id arithmetic alone — a wrong decode
    * (geometry, channel order, pixel walk) hash-mismatches. Both the
    * encode and decode are genuine codec work on compressed bytes. */
  val x78 = Q("x78_image_decode",
    // codecDocIds: ordered AND parallel — the encode/decode run once,
    // above the exchange, spread across cores
    (s, d) => Multimodal.decodeImages(
        Multimodal.synthesizePng(codecDocIds(s, d))),
    Some("""SELECT doc_id AS asset_id,
           |  CAST(8 + doc_id % 24 AS INT) AS width,
           |  CAST(8 + (doc_id * 3) % 24 AS INT) AS height,
           |  CAST(doc_id % 256 AS DOUBLE) AS mean_r,
           |  CAST((doc_id * 7) % 256 AS DOUBLE) AS mean_g,
           |  CAST((doc_id * 13) % 256 AS DOUBLE) AS mean_b
           |FROM documents ORDER BY asset_id""".stripMargin),
    bench = false)

  /** Sequence packing (concatenate-and-chunk): lay the corpus out in
    * doc_id order and cut it into fixed 512-token context windows — the
    * layout step between curation and tokenization in a training-data
    * pipeline. Each document's bin is the window containing its START
    * offset; the report aggregates per bin.
    *
    * The global running token total comes from
    * [[Relational.orderedRunningTotal]], which since round 7 is
    * SIZE-GATED: a sub-2²⁰-row token table (every local SF) takes the
    * declarative one-window plan — the two-pass's extra jobs measured as
    * pure scheduling floor against DuckDB (4.9× at sf1) — while real
    * volume keeps the scale-safe two-pass, so no single task ever sees
    * the whole corpus (the one-task shape the x51-class audit exists to
    * keep out; route A/B pinned in OperatorsSpec). The oracle uses the
    * window form unconditionally — DuckDB's single-node executor is the
    * right place for it. */
  val x79 = Q("x79_sequence_packing",
    (s, d) => {
      val nTok = Materialize(t(s, d, "documents")
        .select(col("doc_id"),
          // TokenCount kernel: one byte scan, no array — the running-total
          // two-pass evaluates this scan TWICE (block stats + final), so
          // the per-row tokenize cost is paid double; the HOF
          // split+filter form measured 2×0.3 s of x79's 1.17 s at sf1.
          // The lazy checkpoint below cuts even the kernel's second run:
          // the range sort's SAMPLING pass re-executes its child (the x64
          // trap), so without it the kernel runs in the sampling job AND
          // the exchange map; materializing the slim (doc_id, n_tokens)
          // projection at the sampling job makes every later pass read
          // 16-byte rows instead of re-scanning text
          graft.functions.TextHashFunctions.tokenCount(col("text"))
            .as("n_tokens")))
      // parallel range sort on the tail, NOT reportSortFused: the bin count
      // is O(corpus_tokens / 512) — it grows with the input, so the
      // single-task fused tail would be exactly the shape this query's
      // running-total machinery exists to avoid
      Relational.orderedRunningTotal(nTok, Seq(col("doc_id")), "n_tokens")
        .withColumn("bin", expr("(__cum - n_tokens) div 512"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tokens").as("total_tokens"),
          min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
        .orderBy("bin")
    },
    Some(s"""WITH t AS (SELECT doc_id,
            |    CAST(length(${Portable.tokens(DuckD, "text")}) AS BIGINT)
            |      AS n_tokens
            |  FROM documents),
            |c AS (SELECT doc_id, n_tokens,
            |    CAST(SUM(n_tokens) OVER (ORDER BY doc_id
            |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM t)
            |SELECT CAST((cum - n_tokens) // 512 AS BIGINT) AS bin,
            |  COUNT(*) AS n_docs,
            |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
            |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
            |FROM c GROUP BY 1 ORDER BY 1""".stripMargin),
    bench = false)

  /** REAL audio decode (the audio half of x27's plumbing made real, the
    * x78 pattern): constant-amplitude PCM16 mono WAVs in hand-written
    * canonical RIFF/WAVE containers (the x82 fixture pattern — the JDK
    * writer's synchronized conversion registry serialized parallel
    * encode), DECODED by the real JDK reader (`javax.sound.sampled` via
    * once-per-JVM SPI dispatch) to recover format, frame count and exact
    * amplitude stats. The oracle predicts the decoder's output from the id
    * arithmetic alone — a wrong container parse, byte order or sign
    * handling hash-mismatches. The decode side is genuine codec work on
    * container bytes. */
  val x80 = Q("x80_audio_decode",
    // codecDocIds (ordered AND parallel, like x78/x82) — possible since
    // Multimodal resolves the javax.sound SPI providers once per JVM and
    // dispatches directly: the old per-call AudioSystem registry lock made
    // 32-way decode SLOWER than one task (0.47 → 0.88 s measured), which
    // is why this query previously used the ordered single-task shape.
    (s, d) => Multimodal.decodeWav(
        Multimodal.synthesizeWav(codecDocIds(s, d))),
    Some("""SELECT doc_id AS asset_id,
           |  CAST(8000 AS INT) AS sample_rate,
           |  CAST(1 AS INT) AS channels,
           |  CAST(16 AS INT) AS bits,
           |  CAST(64 + doc_id % 192 AS BIGINT) AS n_samples,
           |  CAST(doc_id % 1999 - 999 AS DOUBLE) AS mean_amp,
           |  CAST(abs(doc_id % 1999 - 999) AS INT) AS peak
           |FROM documents ORDER BY asset_id""".stripMargin),
    bench = false)

  /** N-gram language-model quality score (the CCNet-style perplexity proxy
    * a curation pipeline uses to rank documents): estimate a bigram LM from
    * the corpus itself — p(w2|w1) = c(w1 w2) / Σ_w c(w1 w) — then score each
    * document by its mean bigram log-probability. Every doc bigram exists in
    * the corpus (it contributes to the counts), so the MLE needs no
    * smoothing and no zero-probability guard.
    *
    * Scale shape: one TokenPairs kernel scan → bigram-count aggregate (one
    * shuffle, vocab²-bounded) → prefix totals BY AGGREGATING THE COUNT TABLE
    * (never re-scanning the corpus) → the per-instance join runs
    * co-partitioned on the bigram key. Determinism: ln values are rounded
    * to 6 decimals and summed as DECIMAL — exact, order-independent — and
    * the output is that exact sum cast to double (correctly rounded from
    * the same decimal on both engines). A rounded MEAN was tried and
    * REJECTED: sum-of-6-decimals / n lands exactly on x.xxxx5 boundaries,
    * where Spark rounds the exact binary double and DuckDB rounds the
    * ×10⁴-scaled double — a measured 1-ulp disagreement at sf0.1 (row 677:
    * −3.4063 vs −3.4064). Callers derive the mean from (sum, n).
    *
    * Routing (round 5, x20's gated-broadcast pattern): the LM table is
    * vocab²-bounded but the corpus is not, so the scoring join is routed at
    * build time by an ACTUAL size probe — a [[ScalePolicy.probeRows]] route
    * collects the LM in one job. Under the cap the LM rides back as a LocalRelation broadcast-hash
    * join: the scoring side never shuffles by bigram and the whole query is
    * lm-build + score-agg + output sort. Over the cap (a web-scale
    * vocabulary), and under `spark.graft.scale=large`, the original
    * shuffle join comes back — a hot bigram
    * ("of the") skews the pairs-side exchange, which AQE's skew join
    * splits at runtime. The 7-job adaptive shape this replaces
    * measured 0.54 s with every job under 0.13 s — pure replan floor. */
  val x81 = Q("x81_lm_score", x81Build,
    Some(s"""WITH t AS (SELECT doc_id, ${Portable.tokens(DuckD, "text")} AS toks
            |  FROM documents),
            |p AS (SELECT doc_id, unnest(list_transform(range(1, length(toks)),
            |    i -> concat(toks[i], ' ', toks[i + 1]))) AS bg
            |  FROM t WHERE length(toks) >= 2),
            |c AS (SELECT bg, COUNT(*) AS c2 FROM p GROUP BY 1),
            |lm AS (SELECT bg,
            |    CAST(round(ln(c2 / c1), 6) AS DECIMAL(18,6)) AS lp
            |  FROM (SELECT bg, c2,
            |      SUM(c2) OVER (PARTITION BY split_part(bg, ' ', 1)) AS c1
            |    FROM c))
            |SELECT doc_id, COUNT(*) AS n_bigrams,
            |  CAST(SUM(lp) AS DOUBLE) AS logp_sum
            |FROM p JOIN lm USING (bg)
            |GROUP BY 1 ORDER BY 1""".stripMargin),
    bench = false)

  private def x81Build(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // NOT kernel-spread (r17 session 2, measured): unlike x20's
    // multi-consumer ShingleSet checkpoint, the LM-build probe is ONE
    // TokenPairs pass feeding a partial agg — the text exchange costs
    // what the kernel parallelization saves (JobProfile sf5 2.85 -> 2.93,
    // sf0.1 0.41 -> 0.38, both within noise). Same adjudication as x18's
    // signature pass.
    val pairs = t(s, d, "documents")
      .select(col("doc_id"), explode(
        graft.functions.TextHashFunctions.tokenPairs(col("text"))).as("bg"))
    val bgCounts = pairs.groupBy("bg").agg(count(lit(1)).as("c2"))
    ScalePolicy.probeRows(BroadcastLm, bgCounts, MaxBroadcastLmEntries) match {
      case Some(rows) =>
        // under-cap route: the probe job was ONE exchange (the bigram
        // count agg); the w1 prefix totals and log-probs are O(vocab²)
        // driver arithmetic on rows already in hand. lp replicates
        // Spark's round(log(c2/c1), 6) bit-for-bit: Math.log IS Spark's
        // LOG, and BigDecimal.valueOf(_).setScale(6, HALF_UP) IS Spark's
        // ROUND-on-double (Decimal.fromDecimal path).
        val counts = rows.map(r => (r.getString(0), r.getLong(1)))
        val c1 = new scala.collection.mutable.HashMap[String, Long]()
        counts.foreach { case (bg, c2) =>
          val w1 = bg.substring(0, bg.indexOf(' '))
          c1.update(w1, c1.getOrElse(w1, 0L) + c2)
        }
        val lmRows: Array[org.apache.spark.sql.Row] = counts.map {
          case (bg, c2) =>
            val w1 = bg.substring(0, bg.indexOf(' '))
            val lp = java.math.BigDecimal
              .valueOf(math.log(c2.toDouble / c1(w1).toDouble))
              .setScale(6, java.math.RoundingMode.HALF_UP)
            org.apache.spark.sql.Row(bg, lp)
        }
        val lmSchema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("bg",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("lp",
            org.apache.spark.sql.types.DecimalType(18, 6))))
        val local = s.createDataFrame(
          java.util.Arrays.asList(lmRows: _*), lmSchema)
        // one-exchange fusion (the q11/x36 pattern, applied to an
        // aggregate): range-partition the RAW scan by doc_id — the sort
        // sampling sees plain scan rows, so the TokenPairs kernel runs
        // once — then explode and the broadcast join preserve the
        // partitioning, RangePartitioning(doc_id) satisfies the
        // aggregate's ClusteredDistribution (no agg exchange), and the
        // narrow within-partition sort restores the total output order.
        sortedDocs(s, d)
          .select(col("doc_id"), explode(
            graft.functions.TextHashFunctions.tokenPairs(col("text")))
            .as("bg"))
          .join(broadcast(local), "bg")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_bigrams"),
            sum("lp").cast("double").as("logp_sum"))
          .sortWithinPartitions("doc_id")
      case None =>
        // over-cap fallback (web-scale vocabulary): fully distributed —
        // prefix totals as an unordered window over the count table (ONE
        // exchange by w1, no join-back; w1 cardinality = vocabulary, so
        // the window key is high-cardinality at any scale, x51-audit
        // clean), then a shuffle join that AQE skew-splits.
        val lm = bgCounts
          .withColumn("w1", substring_index(col("bg"), " ", 1))
          .withColumn("c1", sum("c2").over(Window.partitionBy("w1")))
          .select(col("bg"),
            round(log(col("c2") / col("c1")), 6).cast("decimal(18,6)")
              .as("lp"))
        pairs.join(lm, "bg")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_bigrams"),
            sum("lp").cast("double").as("logp_sum"))
          .orderBy("doc_id")
    }
  }

  /** REAL video decode (completing the multimodal triple): standard
    * Motion-JPEG AVIs written through the real JPEG encoder, then demuxed
    * by a hand-rolled RIFF/AVI container parse and frame-decoded with
    * `javax.imageio`. The oracle predicts container metadata (geometry,
    * frame count, frame interval) and every frame's 16-level channel
    * buckets from id arithmetic alone — solid frames at bucket centers
    * survive the small JPEG round-trip error, so a wrong container walk,
    * frame order, or channel decode hash-mismatches. */
  val x82 = Q("x82_video_decode",
    // codecDocIds: ordered AND parallel (see x78) — the JPEG work is the
    // whole query; single-task it measured 3.8 s, spread it is ~0.3 s
    (s, d) => Multimodal.decodeAvi(
        Multimodal.synthesizeAvi(codecDocIds(s, d))),
    Some("""WITH fr AS (SELECT doc_id,
           |    unnest(range(0, CAST(2 + doc_id % 4 AS BIGINT))) AS f
           |  FROM documents)
           |SELECT doc_id AS asset_id, f AS frame_idx,
           |  CAST(32 + 16 * (doc_id % 4) AS INT) AS width,
           |  CAST(32 + 16 * ((doc_id * 3) % 4) AS INT) AS height,
           |  CAST(2 + doc_id % 4 AS BIGINT) AS n_frames,
           |  CAST(40000 AS BIGINT) AS us_per_frame,
           |  CAST((doc_id + f) % 16 AS INT) AS r_bucket,
           |  CAST((doc_id * 3 + f) % 16 AS INT) AS g_bucket,
           |  CAST((doc_id * 7 + f) % 16 AS INT) AS b_bucket
           |FROM fr ORDER BY asset_id, frame_idx""".stripMargin),
    bench = false)

  /** SemDeDup semantic dedup (Abbas et al. 2023) over the embeddings table:
    * nearest-centroid cell assignment (x48's deterministic centroid table,
    * shared seam with the IVF tier), within-cell keep-lowest-id cosine
    * dedup at τ = 0.4, per-cell report. See [[Dedup.semanticDedup]] for the
    * scale contract (pair work Σ|cell|², never cross-cell; the cell-key
    * cardinality is the centroid count k, which the algorithm grows with
    * the corpus; at 100 TB the trained [[Similarity.kmeansCentroids]]
    * path sets k ≈ n / target-cell-size).
    *
    * Round 6: the query ITSELF now grows k — k = max(8, n/500), one slim
    * count job, the oracle computing the identical floor division. At the
    * correctness SFs (≤ 2k vectors) k = 8, bit-identical to the round-5
    * fixed-k form; at sf1 the fixed k meant 2.5k-vector cells and 50M
    * within-cell pairs (measured 34.8 s — the one genuine sf1 straggler),
    * where the contract form keeps cells ≈ 500 at any corpus size. */
  val x83 = Q("x83_semantic_dedup",
    (s, d) => {
      val emb = t(s, d, "embeddings")
      val k = math.max(8L, emb.count() / 500)
      val cents = emb.where(col("vec_id") < k)
        .select(col("vec_id").as("cid"), col("embedding").as("cv"))
      // salt only as far as parallelism needs: cells × salts ≈ 2× cores
      // (two task waves — enough spread to absorb cell-size skew) instead
      // of a fixed 8× b-side replication; at k = 8 this reproduces the
      // round-5 salts exactly, and in the corpus-scale regime (k ≥ 2×
      // cores) replication drops out entirely (semanticDedup's documented
      // knob — pairs meet exactly once at ANY saltParts, results identical;
      // measured at sf1: salts 8 → 1 took 7.85 → 5.65 s)
      val cores = s.sparkContext.defaultParallelism
      val salts = math.max(1L, (2L * cores + k - 1) / k).toInt
      // NO pinned scan spread: A/B'd (the x94 move) as a wash at sf0.1 AND
      // sf1 — the assignment kernel on 2 input splits costs what the extra
      // exchange saves; at corpus scale splits abound
      reportSortFused(Dedup.semanticDedup(emb, cents, 0.4, salts), col("cell"))
    },
    Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
           |  sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
           |       CAST(embedding AS DOUBLE[]))) AS nrm FROM embeddings),
           |c AS (SELECT vec_id AS cid, v AS cv FROM e
           |  WHERE vec_id < (SELECT GREATEST(8, count(*) // 500)
           |                  FROM embeddings)),
           |sc AS (SELECT e.vec_id, e.v, e.nrm, c.cid,
           |    row_number() OVER (PARTITION BY e.vec_id
           |      ORDER BY list_dot_product(e.v, c.cv) DESC, c.cid) AS crn
           |  FROM e, c),
           |cells AS (SELECT vec_id, v, nrm, cid AS cell FROM sc WHERE crn = 1),
           |dups AS (SELECT DISTINCT a.cell, b.vec_id AS b_id
           |  FROM cells a JOIN cells b ON a.cell = b.cell
           |    AND a.vec_id < b.vec_id
           |  WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4)
           |    >= 0.4),
           |agg AS (SELECT cell, COUNT(*) AS n_vectors FROM cells GROUP BY 1),
           |dagg AS (SELECT cell, COUNT(*) AS n_dropped FROM dups GROUP BY 1)
           |SELECT agg.cell, n_vectors,
           |  CAST(COALESCE(n_dropped, 0) AS BIGINT) AS n_dropped,
           |  CAST(n_vectors - COALESCE(n_dropped, 0) AS BIGINT) AS n_kept
           |FROM agg LEFT JOIN dagg USING (cell)
           |ORDER BY agg.cell""".stripMargin),
    bench = false)

  /** Token-budget mixture sampling — the data-mixing step ahead of
    * training: sample every source toward an equal share of a global token
    * budget (here 25% of corpus tokens, uniform weights). Per-source token
    * totals set a deterministic per-mille keep rate in exact BIGINT
    * arithmetic (capped at keep-all for under-represented sources), applied
    * via x63's Knuth multiplicative hash of doc_id — reproducible across
    * runs, engines and partitionings, unlike rand() sampling. Report:
    * per-source docs/tokens before the gate, the rate, and the sampled
    * docs/tokens. Scale shape: two corpus passes (totals, then the
    * rate-gated sample aggregate), each one scan + one source-bounded
    * aggregate; the rate table rides a broadcast; nothing driver-side. */
  val x84 = Q("x84_mixture_sample",
    // no kernel spread (measured worse; BASELINE.md); one task below the
    // one-task tier, where mixtureSample takes its window-layered route
    (s, d) => reportSortFused(
      TextAnalysis.mixtureSample(ScalePolicy.oneTask(t(s, d, "documents")),
        budgetPermille = 250),
      col("source")),
    Some(s"""WITH t AS (SELECT doc_id, source,
            |    CAST(length(${Portable.tokens(DuckD, "text")}) AS BIGINT)
            |      AS n_toks
            |  FROM documents),
            |bs AS (SELECT source, COUNT(*) AS n_docs,
            |    CAST(SUM(n_toks) AS BIGINT) AS toks_total FROM t GROUP BY 1),
            |tot AS (SELECT CAST(SUM(toks_total) AS BIGINT) AS grand,
            |    COUNT(*) AS n_sources FROM bs),
            |r AS (SELECT bs.source, bs.n_docs, bs.toks_total,
            |    CASE WHEN toks_total = 0 THEN CAST(1000 AS BIGINT)
            |      ELSE least(CAST(1000 AS BIGINT),
            |        (1000 * (grand // 4)) // (n_sources * toks_total))
            |      END AS rate_pm
            |  FROM bs, tot),
            |smp AS (SELECT t.source, COUNT(*) AS n_sampled,
            |    CAST(SUM(t.n_toks) AS BIGINT) AS toks_sampled
            |  FROM t JOIN r USING (source)
            |  WHERE (((doc_id % 1000000007) * 2654435761) % 1000000007)
            |    % 1000 < rate_pm
            |  GROUP BY 1)
            |SELECT r.source, n_docs, toks_total, rate_pm,
            |  CAST(COALESCE(n_sampled, 0) AS BIGINT) AS n_sampled,
            |  CAST(COALESCE(toks_sampled, 0) AS BIGINT) AS toks_sampled
            |FROM r LEFT JOIN smp USING (source)
            |ORDER BY r.source""".stripMargin),
    bench = false)

  /** Cross-document repeated-passage removal — the C4/RefinedWeb dedup step
    * that drops a PASSAGE wherever its exact text already appeared earlier
    * in the corpus (x64's chunking composed with x17's keep-first rule, as
    * one operator): documents are cut into non-overlapping 30-token
    * chunks, each chunk keyed by its md5 (identical bytes both engines —
    * the 16-byte digest is what shuffles, never the passage text), and a
    * per-key window keeps the first (doc_id, off) occurrence. Report: per
    * document, chunks and duplicates. Scale shape: one slim digest shuffle
    * for the window (key cardinality = distinct passages), one doc_id agg;
    * the x51-audit is clean on both keys. */
  val x85 = Q("x85_passage_dedup",
    // kernel tier: chunk+md5 spread above it (BASELINE.md)
    (s, d) => Dedup.passageDedup(ScalePolicy.kernelSpread(
        t(s, d, "documents").select("doc_id", "text"), "doc_id"))
      .orderBy("doc_id"),
    Some(s"""WITH t AS (SELECT doc_id, ${Portable.tokens(DuckD, "text")}
            |    AS toks FROM documents),
            |t2 AS (SELECT doc_id, toks, length(toks) AS n FROM t
            |  WHERE length(toks) > 0),
            |c AS (SELECT doc_id, CAST(off AS BIGINT) AS off,
            |    md5(array_to_string(toks[off:least(off + 29, n)], ' ')) AS h
            |  FROM t2, unnest(range(1, n + 1, 30)) AS u(off)),
            |w AS (SELECT doc_id, off, row_number() OVER (PARTITION BY h
            |    ORDER BY doc_id, off) AS rn FROM c)
            |SELECT doc_id, COUNT(*) AS n_chunks,
            |  CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
            |    AS n_dupes
            |FROM w GROUP BY 1 ORDER BY 1""".stripMargin),
    bench = false)

  /** DSIR-style importance weights (Xie et al. 2023) against the 'src0'
    * target distribution: see [[TextAnalysis.dsirWeights]] for the
    * estimator and the scale contract (one-pass PairBuckets kernel, one
    * bounded bucket-count job, O(B) driver arithmetic, broadcast-join
    * scoring — no shuffle join at any corpus size). The oracle recomputes
    * the identical smoothed log-ratio table in SQL; per-bucket ratios are
    * 6-decimal DECIMALs summed exactly (x81's determinism discipline). */
  val x86 = Q("x86_dsir_weights",
    (s, d) => TextAnalysis.dsirWeights(
      t(s, d, "documents"), targetSource = "src0", buckets = 1024),
    Some(s"""WITH t AS (SELECT doc_id, source,
            |    ${Portable.tokens(DuckD, "text")} AS toks FROM documents),
            |p AS (SELECT doc_id, source,
            |    unnest(list_transform(range(1, length(toks)),
            |      i -> ${Portable.tokHash("concat(toks[i], ' ', toks[i + 1])")}
            |        % 1024)) AS bkt
            |  FROM t WHERE length(toks) >= 2),
            |c AS (SELECT bkt,
            |    SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS ct,
            |    SUM(CASE WHEN source <> 'src0' THEN 1 ELSE 0 END) AS cr
            |  FROM p GROUP BY 1),
            |tot AS (SELECT SUM(ct) AS tt, SUM(cr) AS tr FROM c),
            |lr AS (SELECT bkt, CAST(round(ln(((ct + 1.0) / (tt + 1024)) /
            |      ((cr + 1.0) / (tr + 1024))), 6) AS DECIMAL(18,6)) AS lr
            |  FROM c, tot)
            |SELECT doc_id, COUNT(*) AS n_bigrams,
            |  CAST(SUM(lr) AS DOUBLE) AS logw_sum
            |FROM p JOIN lr USING (bkt)
            |WHERE source <> 'src0'
            |GROUP BY 1 ORDER BY 1""".stripMargin),
    bench = false)

  /** Deterministic shuffle-and-shard (the training-order step): see
    * [[Relational.shuffleShards]]. The oracle's PARTITION BY shard window
    * is the 8-task shape the operator exists to avoid — fine for DuckDB on
    * one node, the x51 trap on a cluster; the two-pass produces the
    * identical ranks with a parallel range sort. */
  val x87 = Q("x87_shuffle_shards",
    // one task on small inputs: keyedRowNumbers takes its window route
    (s, d) => Relational.shuffleShards(
        ScalePolicy.oneTask(t(s, d, "documents").select("doc_id")), "doc_id", nShards = 8)
      .select(col("doc_id"), col("shard"), col("pos"), col("shard_rows"))
      .sortWithinPartitions("shard", "pos"),
    Some("""WITH h AS (SELECT doc_id,
           |    (doc_id % 1000000007) * 2654435761 % 1000000007 AS h
           |  FROM documents)
           |SELECT doc_id, CAST(h % 8 AS INT) AS shard,
           |  row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id)
           |    AS pos,
           |  COUNT(*) OVER (PARTITION BY h % 8) AS shard_rows
           |FROM h ORDER BY shard, pos""".stripMargin),
    bench = false)

  /** DSIR importance resampling — the selection step that completes x86's
    * pipeline: see [[TextAnalysis.dsirResample]] for the Gumbel-top-k
    * identity, the deterministic hash-Gumbel, and the exact-decimal key
    * discipline. The oracle recomputes the identical key and the same
    * (key DESC, doc_id) order; the engine's top-k plans as
    * TakeOrderedAndProject (per-partition heaps, no global sort). */
  val x88 = Q("x88_dsir_resample",
    (s, d) => TextAnalysis.dsirResample(
      t(s, d, "documents"), targetSource = "src0", k = 100, buckets = 1024),
    Some(s"""WITH t AS (SELECT doc_id, source,
            |    ${Portable.tokens(DuckD, "text")} AS toks FROM documents),
            |p AS (SELECT doc_id, source,
            |    unnest(list_transform(range(1, length(toks)),
            |      i -> ${Portable.tokHash("concat(toks[i], ' ', toks[i + 1])")}
            |        % 1024)) AS bkt
            |  FROM t WHERE length(toks) >= 2),
            |c AS (SELECT bkt,
            |    SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS ct,
            |    SUM(CASE WHEN source <> 'src0' THEN 1 ELSE 0 END) AS cr
            |  FROM p GROUP BY 1),
            |tot AS (SELECT SUM(ct) AS tt, SUM(cr) AS tr FROM c),
            |lr AS (SELECT bkt, CAST(round(ln(((ct + 1.0) / (tt + 1024)) /
            |      ((cr + 1.0) / (tr + 1024))), 6) AS DECIMAL(18,6)) AS lr
            |  FROM c, tot),
            |w AS (SELECT doc_id, SUM(lr) AS logw
            |  FROM p JOIN lr USING (bkt)
            |  WHERE source <> 'src0' GROUP BY 1),
            |g AS (SELECT doc_id, logw + CAST(round(-ln(-ln(
            |      (((doc_id % 1000000007) * 2654435761 % 1000000007) + 0.5)
            |        / 1000000007)), 6) AS DECIMAL(18,6)) AS selk
            |  FROM w)
            |SELECT doc_id, CAST(selk AS DOUBLE) AS sel_key FROM g
            |ORDER BY selk DESC, doc_id LIMIT 100""".stripMargin),
    bench = false)

  /** Winnowing fingerprint dedup (Schleimer et al. SIGMOD'03 — MOSS): see
    * [[Dedup.winnowingDedup]] for the guarantee and the scale shape. k = 4,
    * w = 5 ⇒ any ≥ 8-token shared run yields a shared fingerprint at
    * expected density 1/3. Per-doc output keeps the parallel range sort. */
  val x89 = Q("x89_winnowing",
    // kernel tier: the winnow kernel spread above it (BASELINE.md)
    (s, d) => Dedup.winnowingDedup(ScalePolicy.kernelSpread(
        t(s, d, "documents").select("doc_id", "text"), "doc_id"))
      .orderBy("doc_id"),
    Some(s"""WITH h AS (SELECT doc_id,
            |    ${Portable.tokenHashes(DuckD, "text", distinctTokens = false)}
            |      AS hs FROM documents),
            |g AS (SELECT doc_id, ${Portable.kgramHashes(DuckD, "hs", 4)} AS gs
            |  FROM h WHERE length(hs) >= 8),
            |f AS (SELECT doc_id, unnest(${Portable.winnow(DuckD, "gs", 5)})
            |    AS fp FROM g),
            |wn AS (SELECT doc_id, fp, row_number() OVER (PARTITION BY fp
            |    ORDER BY doc_id) AS rn FROM f),
            |a AS (SELECT doc_id, COUNT(*) AS n_fp,
            |    CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
            |      AS n_dup_fp
            |  FROM wn GROUP BY 1)
            |SELECT doc_id, n_fp, n_dup_fp,
            |  CAST(CASE WHEN n_dup_fp * 5 >= n_fp * 4 THEN 1 ELSE 0 END
            |    AS BIGINT) AS near_dup
            |FROM a ORDER BY doc_id""".stripMargin),
    bench = false)

  /** The fixed demo query shared by x90 (BM25) and x95 (hybrid). */
  private val SearchTerms = Seq("join", "vector", "spark")

  /** DuckDB rendering of [[TextAnalysis.bm25]] for `terms` (shared by the
    * x90 oracle and, as a CTE body, the x95 oracle). */
  private def bm25OracleSql(terms: Seq[String], topK: Int): String = {
    val tfs = terms.zipWithIndex.map { case (tm, i) =>
      s"CAST(length(list_filter(toks, x -> x = '$tm')) AS BIGINT) AS tf$i"
    }.mkString(",\n    ")
    val dfs = terms.indices.map(i =>
      s"SUM(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i")
      .mkString(", ")
    val scores = terms.indices.map(i =>
      s"CAST(CASE WHEN tf$i > 0 THEN " +
        Portable.bm25Term(s"tf$i", s"df$i", "n_docs", "dl", "sumdl") +
        " ELSE 0.0 END AS DECIMAL(18,6))").mkString("\n    + ")
    val hits = terms.indices.map(i =>
      s"(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END)").mkString(" + ")
    val anyHit = terms.indices.map(i => s"tf$i > 0").mkString(" OR ")
    s"""WITH t AS (SELECT doc_id, ${Portable.tokens(DuckD, "text")} AS toks
       |    FROM documents),
       |d AS (SELECT doc_id, CAST(length(toks) AS BIGINT) AS dl,
       |    $tfs
       |  FROM t),
       |s AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sumdl, $dfs FROM d),
       |sc AS (SELECT doc_id, CAST($hits AS BIGINT) AS n_hit,
       |    $scores AS score_dec
       |  FROM d, s WHERE $anyHit)
       |SELECT doc_id, n_hit, CAST(score_dec AS DOUBLE) AS score
       |FROM sc ORDER BY score_dec DESC, doc_id LIMIT $topK""".stripMargin
  }

  /** BM25 top-k retrieval for a fixed 3-term query: see
    * [[TextAnalysis.bm25]]. The corpus-stats row rides a 1-row broadcast
    * cross join (q14/x39's pattern); top-k is TakeOrderedAndProject. */
  val x90 = Q("x90_bm25",
    // kernel tier: the bm25 token pass spread above it (BASELINE.md)
    (s, d) => TextAnalysis.bm25(ScalePolicy.kernelSpread(
      t(s, d, "documents").select("doc_id", "text"), "doc_id"), SearchTerms),
    Some(bm25OracleSql(SearchTerms, 50)),
    bench = false)

  /** PMI collocation mining (Church & Hanks 1990): see
    * [[TextAnalysis.pmiCollocations]] — vocabulary-bounded count joins,
    * 1-row broadcast totals, TakeOrderedAndProject top-k. */
  val x91 = Q("x91_pmi_collocations",
    // kernel tier: spread above it; one partition below it, where the
    // count tail runs join-free on windows (BASELINE.md)
    (s, d) => TextAnalysis.pmiCollocations(ScalePolicy.kernelSpread(
      t(s, d, "documents").select("doc_id", "text"), "doc_id")),
    Some(s"""WITH t AS (SELECT ${Portable.tokens(DuckD, "text")} AS toks
            |    FROM documents),
            |u AS (SELECT unnest(toks) AS w FROM t),
            |uc AS (SELECT w, COUNT(*) AS c FROM u GROUP BY 1),
            |p AS (SELECT toks[i] AS w1, toks[i + 1] AS w2
            |  FROM t, unnest(range(1, length(toks))) AS r(i)
            |  WHERE length(toks) >= 2),
            |pc AS (SELECT w1, w2, COUNT(*) AS c12 FROM p GROUP BY 1, 2),
            |tu AS (SELECT SUM(c) AS tu FROM uc),
            |tb AS (SELECT SUM(c12) AS tb FROM pc),
            |sel AS (SELECT w1, w2, c12,
            |    CAST(${Portable.pmi("c12", "u1.c", "u2.c", "tb", "tu")}
            |      AS DECIMAL(18,6)) AS pmi_dec
            |  FROM pc JOIN uc u1 ON u1.w = pc.w1
            |    JOIN uc u2 ON u2.w = pc.w2, tu, tb
            |  WHERE c12 >= 5)
            |SELECT w1, w2, c12 AS n_pair, CAST(pmi_dec AS DOUBLE) AS pmi
            |FROM sel ORDER BY pmi_dec DESC, w1, w2 LIMIT 20""".stripMargin),
    bench = false)

  /** Per-domain caps (RefinedWeb/Gopher curation): see
    * [[Relational.groupCaps]] — scale-safe two-pass ranks, never a
    * per-domain window. cap = 20 drops documents at every SF. */
  val x92 = Q("x92_domain_caps",
    // one task on small inputs: keyedRowNumbers takes its window route
    (s, d) => reportSortFused(
      Relational.groupCaps(ScalePolicy.oneTask(t(s, d, "documents")), "source",
        "doc_id", cap = 20),
      col("source")),
    Some("""WITH h AS (SELECT doc_id, source,
           |    (doc_id % 1000000007) * 2654435761 % 1000000007 AS h
           |  FROM documents),
           |r AS (SELECT source, row_number() OVER (PARTITION BY source
           |    ORDER BY h, doc_id) AS rn FROM h)
           |SELECT source, COUNT(*) AS n_docs,
           |  CAST(SUM(CASE WHEN rn <= 20 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_kept,
           |  CAST(COUNT(*) - SUM(CASE WHEN rn <= 20 THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_dropped
           |FROM r GROUP BY 1 ORDER BY 1""".stripMargin),
    bench = false)

  /** Zipf rank-frequency spectrum + log-log slope — the corpus-health
    * diagnostic (a natural corpus slopes ≈ −1; a pathological one doesn't).
    * One corpus explode → vocabulary-bounded count table; the ranking
    * window is unpartitioned but runs over ≤ |vocab| rows (bounded-report
    * class, same justification as the report sorts); the slope is computed
    * from EXACT decimal sums of the 6-decimal log terms — closed-form
    * least squares, not `regr_slope`, whose double accumulation is
    * partition-order-dependent — with the final quotient in identical
    * double arithmetic on both engines. The slope's corpus-wide sums run
    * as UNBOUNDED-frame window aggregates over the SAME single partition
    * the rank window already established (vocab-bounded state, report
    * class) — one job end-to-end, no checkpoint, no second scan, no
    * crossJoin (was: checkpoint + slope aggregate + broadcast join; the
    * fusion removes one job and the checkpoint materialization; wall time
    * unchanged at sf1 — the corpus scan stage dominates — but the
    * single-job shape is the scale posture and the decimal window sums
    * stay order-exact). */
  val x93 = Q("x93_zipf_spectrum",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      t(s, d, "documents")
        // the one-pass AllTokens kernel, not the split+filter HOF chain —
        // q13's route; same token multiset, ~2× on the corpus pass (sf1)
        .select(explode(
          graft.functions.TextHashFunctions.allTokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
        .withColumn("rank",
          row_number().over(Window.orderBy(col("n").desc, col("token"))))
        .withColumn("lx", expr(
          "CAST(round(ln(CAST(rank AS DOUBLE)), 6) AS DECIMAL(18,6))"))
        .withColumn("ly", expr(
          "CAST(round(ln(CAST(n AS DOUBLE)), 6) AS DECIMAL(18,6))"))
        // corpus-wide sums as unbounded windows on the same 1-partition
        // clustering the rank window pinned — no extra exchange
        .withColumn("cn", count(lit(1)).over(Window.partitionBy()))
        .withColumn("sx", sum(col("lx")).over(Window.partitionBy()))
        .withColumn("sy", sum(col("ly")).over(Window.partitionBy()))
        .withColumn("sxy", sum(expr("lx * ly")).over(Window.partitionBy()))
        .withColumn("sxx", sum(expr("lx * lx")).over(Window.partitionBy()))
        .withColumn("zipf_slope", expr(
          "round((CAST(cn AS DOUBLE) * CAST(sxy AS DOUBLE) " +
            "- CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / " +
            "(CAST(cn AS DOUBLE) * CAST(sxx AS DOUBLE) " +
            "- CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 4)"))
        .select(col("rank"), col("token"), col("n"), col("zipf_slope"))
        .orderBy("rank").limit(30)
    },
    Some(s"""WITH cnt AS (SELECT t AS token, COUNT(*) AS n
            |  FROM (SELECT unnest(${Portable.tokens(DuckD, "text")}) AS t
            |        FROM documents) GROUP BY 1),
            |r AS (SELECT token, n, row_number() OVER (ORDER BY n DESC,
            |    token) AS rank FROM cnt),
            |l AS (SELECT rank, token, n,
            |    CAST(round(ln(CAST(rank AS DOUBLE)), 6) AS DECIMAL(18,6))
            |      AS lx,
            |    CAST(round(ln(CAST(n AS DOUBLE)), 6) AS DECIMAL(18,6))
            |      AS ly FROM r),
            |s AS (SELECT COUNT(*) AS cn, SUM(lx) AS sx, SUM(ly) AS sy,
            |    SUM(lx * ly) AS sxy, SUM(lx * lx) AS sxx FROM l)
            |SELECT rank, token, n,
            |  round((CAST(cn AS DOUBLE) * CAST(sxy AS DOUBLE)
            |    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
            |    (CAST(cn AS DOUBLE) * CAST(sxx AS DOUBLE)
            |    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 4) AS zipf_slope
            |FROM l, s ORDER BY rank LIMIT 30""".stripMargin),
    bench = false)

  /** Per-label centroid-cosine outlier report: see
    * [[Similarity.labelCentroidOutliers]] for the exploded map-reduce
    * centroid shape and the round-then-exact-sum determinism discipline. */
  val x94 = Q("x94_centroid_outliers",
    // pinned hash spread of the byte-tiny embeddings scan (the kernelDocs
    // rationale): the 64-way posexplode and both downstream partial aggs
    // otherwise run on the scan's single input split
    OneTaskBuild((s, d) => reportSortFused(
      Similarity.labelCentroidOutliers(t(s, d, "embeddings")
        .repartition(s.sparkContext.defaultParallelism, col("vec_id"))),
      col("label"))),
    Some("""WITH e AS (SELECT vec_id, label,
           |    CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           |ex AS (SELECT vec_id, label, i, v[i] AS x
           |  FROM e, unnest(range(1, length(v) + 1)) AS r(i)),
           |c AS (SELECT label, i,
           |    SUM(CAST(round(x, 6) AS DECIMAL(12,6))) AS m, COUNT(*) AS n
           |  FROM ex GROUP BY 1, 2),
           |cp AS (SELECT label, i, CAST(m AS DOUBLE) / n AS cp FROM c),
           |cn AS (SELECT label,
           |    SUM(CAST(round(cp * cp, 6) AS DECIMAL(18,6))) AS sc
           |  FROM cp GROUP BY 1),
           |j AS (SELECT ex.vec_id, ex.label,
           |    SUM(CAST(round(ex.x * cp.cp, 6) AS DECIMAL(18,6))) AS dot,
           |    SUM(CAST(round(ex.x * ex.x, 6) AS DECIMAL(18,6))) AS sv
           |  FROM ex JOIN cp ON cp.label = ex.label AND cp.i = ex.i
           |  GROUP BY 1, 2),
           |k AS (SELECT j.label, CAST(round(CAST(dot AS DOUBLE) /
           |      (sqrt(CAST(sv AS DOUBLE)) * sqrt(CAST(cn.sc AS DOUBLE))),
           |      4) AS DECIMAL(9,4)) AS cos4
           |  FROM j JOIN cn ON cn.label = j.label
           |  WHERE sv > 0 AND cn.sc > 0)
           |SELECT label, COUNT(*) AS n_vecs,
           |  CAST(SUM(CASE WHEN cos4 < 0.0 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_outliers,
           |  CAST(SUM(cos4) AS DOUBLE) AS sum_cos
           |FROM k GROUP BY 1 ORDER BY 1""".stripMargin),
    bench = false)

  /** Hybrid retrieval: x90's BM25 top-50 re-ranked by embedding cosine to
    * the query vector (vec_id 0, q14's mechanism) — the two-stage
    * lexical→semantic search pipeline. The 50-row hit list broadcasts into
    * the embeddings join; the blend normalizes BM25 by its max (1-row
    * broadcast) and averages with the 4-decimal cosine; docs without an
    * embedding drop out of the re-rank (inner join — the embedding
    * coverage contract). Identical double arithmetic on both engines. */
  val x95 = Q("x95_hybrid_search",
    (s, d) => {
      // kernel tier: the bm25 token pass spread above it (BASELINE.md)
      val hits = TextAnalysis.bm25(ScalePolicy.kernelSpread(
        t(s, d, "documents").select("doc_id", "text"), "doc_id"), SearchTerms, topK = 50)
      val e = t(s, d, "embeddings")
      val q = e.where(col("vec_id") === 0L).select(col("embedding").as("qv"))
      // smax as an unbounded window over the ≤50-row hit list, not a
      // separate 1-row aggregate + crossJoin (r9): the hits frame is
      // bounded by topK (report class, same justification as the report
      // sorts), so the single-partition window is O(k) — and the extra
      // aggregate job + broadcast round-trip are gone from a 7-job plan
      // where every job is floor-billed
      val hitsW = hits.withColumn("smax", max(col("score")).over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
      broadcast(hitsW).join(e, col("doc_id") === col("vec_id"))
        .crossJoin(broadcast(q))
        .select(col("doc_id"), col("score"), col("smax"),
          V.cosine4(col("embedding"), col("qv")).as("cos"))
        .withColumn("hybrid",
          expr("round(0.5 * (score / smax) + 0.5 * cos, 6)"))
        .orderBy(col("hybrid").desc, col("doc_id")).limit(10)
        .select("doc_id", "score", "cos", "hybrid")
    },
    Some(s"""WITH hits AS (
            |${bm25OracleSql(SearchTerms, 50)}
            |),
            |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
            |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
            |      CAST(embedding AS DOUBLE[]))) AS nrm FROM embeddings),
            |q AS (SELECT v, nrm FROM e WHERE vec_id = 0),
            |sm AS (SELECT MAX(score) AS smax FROM hits),
            |sc AS (SELECT h.doc_id, h.score,
            |    round(list_dot_product(e.v, q.v) / (e.nrm * q.nrm), 4)
            |      AS cos
            |  FROM hits h JOIN e ON e.vec_id = h.doc_id, q)
            |SELECT doc_id, score, cos,
            |  round(0.5 * (score / smax) + 0.5 * cos, 6) AS hybrid
            |FROM sc, sm ORDER BY hybrid DESC, doc_id LIMIT 10""".stripMargin),
    bench = false)

  /** Per-source quality gate with a data-dependent percentile threshold:
    * see [[TextAnalysis.qualityGate]] (keep the top 70% of each source by
    * the x24 quality score). */
  val x96 = Q("x96_quality_gate",
    // no kernel spread at any size: a one-pass byte-scan kernel (BASELINE.md)
    (s, d) => reportSortFused(
      TextAnalysis.qualityGate(t(s, d, "documents")), col("source")),
    Some(s"""WITH t0 AS (SELECT doc_id, source,
            |    ${Portable.tokens(DuckD, "text")} AS toks FROM documents),
            |c AS (SELECT doc_id, source,
            |    CAST(length(toks) AS BIGINT) AS n_tokens,
            |    ${TextAnalysis.langCount(DuckD, "toks", "en")} AS en_hits
            |  FROM t0),
            |q AS (SELECT doc_id, source,
            |    ${TextAnalysis.qualityScore("n_tokens", "en_hits")} AS quality
            |  FROM c WHERE n_tokens > 0),
            |th AS (SELECT source, quantile_disc(quality, 0.3) AS thr
            |  FROM q GROUP BY 1)
            |SELECT q.source, COUNT(*) AS n_docs, MAX(th.thr) AS thr,
            |  CAST(SUM(CASE WHEN q.quality >= th.thr THEN 1 ELSE 0 END)
            |    AS BIGINT) AS n_kept
            |FROM q JOIN th ON th.source = q.source
            |GROUP BY 1 ORDER BY 1""".stripMargin),
    bench = false)

  /** Cross-source contamination matrix: for every source pair, the number
    * of winnowing fingerprints ([[graft.functions.WinnowSet]], x89's
    * signature) both sources claim — the which-dumps-duplicate-each-other
    * diagnostic ahead of mixing. Scale shape: one kernel pass → distinct
    * (source, fp) — the only per-corpus-size shuffle — then a
    * fp-keyed self-join whose fan-out is bounded by the SOURCE count per
    * fingerprint (sources are dumps/crawls: dozens, not millions — the
    * bounded-cardinality contract, stated here like x51's); the pair
    * report is O(|sources|²). */
  val x97 = Q("x97_source_overlap",
    (s, d) => {
      // kernel tier: the winnow kernel spread above it; one partition
      // below it fuses the self-join
      val spread = ScalePolicy.kernelSpread(
        t(s, d, "documents").select("doc_id", "source", "text"), "doc_id")
      val fps = spread
        .select(col("source"), explode(graft.functions.TextHashFunctions
          .winnowSet(col("text"), 4, 5)).as("fp"))
        .distinct()
      reportSortFused(
        fps.select(col("source").as("s1"), col("fp"))
          .join(fps.select(col("source").as("s2"), col("fp")), Seq("fp"))
          .where(col("s1") < col("s2"))
          .groupBy("s1", "s2").agg(count(lit(1)).as("n_shared")),
        col("s1"), col("s2"))
    },
    Some(s"""WITH h AS (SELECT source,
            |    ${Portable.tokenHashes(DuckD, "text", distinctTokens = false)}
            |      AS hs FROM documents),
            |g AS (SELECT source, ${Portable.kgramHashes(DuckD, "hs", 4)} AS gs
            |  FROM h WHERE length(hs) >= 8),
            |f AS (SELECT DISTINCT source,
            |    unnest(${Portable.winnow(DuckD, "gs", 5)}) AS fp FROM g)
            |SELECT a.source AS s1, b.source AS s2, COUNT(*) AS n_shared
            |FROM f a JOIN f b ON a.fp = b.fp AND a.source < b.source
            |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    bench = false)

  /** Linear interpolation over the gap-filled daily spine — the resample +
    * interpolate step that completes x72/x73's time-series kit (gapfill
    * materializes zeros; forward-fill carries; this RECONSTRUCTS a value
    * between observations): per-user daily value sums, missing days get
    * pv + (nv − pv)·Δ/span from the nearest observations on both sides
    * (spine endpoints are always observed, so every gap is bracketed).
    *
    * Determinism: daily sums are EXACT decimal sums of 4-decimal-rounded
    * values (partition-order-free); observed days emit the exact
    * decimal→double cast; interpolated days compute one shared double
    * expression rounded at 4 — byte-identical to the oracle's
    * spine+IGNORE-NULLS-window formulation because every gap day's
    * (pd, pv, nd, nv) bracket is the same pair of observations.
    *
    * Scale shape (round 6; was spine ⋈ daily + four IGNORE-NULLS window
    * columns over every SPINE day): each consecutive-observation SEGMENT
    * [d, next d) emits its own days via one `lead` window over the daily
    * aggregate and a `sequence` explode — the only window runs over
    * OBSERVED days (the small aggregate, not the dense spine), the join
    * disappears, and the whole query is one user_id exchange → partial-agg
    * groupBy → lead → explode. The last observation (lead = NULL) emits
    * exactly itself, so endpoints stay observed. */
  val x98 = Q("x98_interpolate",
    OneTaskBuild { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("d")
      val seg = t(s, d, "events")
        // range BEFORE the to_date + DECIMAL-round projection (x64/x72's
        // rule, applied here in round 9): the range sampler re-executes
        // its child, so projecting first bills the cast work twice — at
        // sf1 the 3-task sampling job carried ~0.3-1.0 s of it (JobProfile;
        // x72, which ranges the slim projection, showed the same job at
        // 0.2-0.3 s). Range on raw (user_id, ts, value), project after.
        .select(col("user_id"), col("ts"), col("value"))
        // range, not hash: the daily agg and the lead window reuse the one
        // exchange either way, but user_id-ranged partitions let the
        // table-shaped output (O(users × days)) sort in PARALLEL within
        // partitions instead of the single-task report merge (x74's sf1
        // lesson)
        .repartitionByRange(s.sparkContext.defaultParallelism, col("user_id"))
        .select(col("user_id"), to_date(col("ts")).as("d"),
          expr("CAST(round(value, 4) AS DECIMAL(18,4))").as("v4"))
        .groupBy("user_id", "d").agg(sum(col("v4")).as("vd"))
        .withColumn("nd", lead(col("d"), 1).over(w))
        .withColumn("nv", lead(col("vd"), 1).over(w))
      seg
        .select(col("user_id"), col("d").as("pd"), col("vd"), col("nd"),
          col("nv"),
          explode(expr(
            "sequence(d, coalesce(date_sub(nd, 1), d), interval 1 day)"))
            .as("d"))
        .select(col("user_id"), col("d"),
          when(col("d") === col("pd"), col("vd").cast("double"))
            .otherwise(expr(
              "round(CAST(vd AS DOUBLE) + (CAST(nv AS DOUBLE) " +
                "- CAST(vd AS DOUBLE)) * (CAST(datediff(d, pd) AS DOUBLE) " +
                "/ CAST(datediff(nd, pd) AS DOUBLE)), 4)")).as("v"),
          when(col("d") === col("pd"), 0L).otherwise(1L).as("interp"))
        .sortWithinPartitions("user_id", "d")
    },
    Some("""WITH daily AS (SELECT user_id, CAST(ts AS DATE) AS d,
           |    SUM(CAST(round(value, 4) AS DECIMAL(18,4))) AS vd
           |  FROM events GROUP BY 1, 2),
           |span AS (SELECT user_id, min(d) AS d0, max(d) AS d1
           |  FROM daily GROUP BY 1),
           |spine AS (SELECT user_id,
           |    CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)
           |      AS d FROM span),
           |j AS (SELECT s.user_id, s.d, dl.vd FROM spine s
           |  LEFT JOIN daily dl ON s.user_id = dl.user_id AND s.d = dl.d),
           |w AS (SELECT user_id, d, vd,
           |    last_value(CASE WHEN vd IS NOT NULL THEN d END IGNORE NULLS)
           |      OVER (PARTITION BY user_id ORDER BY d
           |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
           |    last_value(vd IGNORE NULLS)
           |      OVER (PARTITION BY user_id ORDER BY d
           |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
           |    first_value(CASE WHEN vd IS NOT NULL THEN d END IGNORE NULLS)
           |      OVER (PARTITION BY user_id ORDER BY d
           |        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd,
           |    first_value(vd IGNORE NULLS)
           |      OVER (PARTITION BY user_id ORDER BY d
           |        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv
           |  FROM j)
           |SELECT user_id, d,
           |  CASE WHEN vd IS NOT NULL THEN CAST(vd AS DOUBLE)
           |    ELSE round(CAST(pv AS DOUBLE) + (CAST(nv AS DOUBLE)
           |      - CAST(pv AS DOUBLE)) * (CAST(d - pd AS DOUBLE)
           |      / CAST(nd - pd AS DOUBLE)), 4) END AS v,
           |  CAST(CASE WHEN vd IS NULL THEN 1 ELSE 0 END AS BIGINT) AS interp
           |FROM w ORDER BY 1, 2""".stripMargin),
    bench = false)

  /** Quality-aware canonical selection — the step AFTER cluster formation
    * that closes the dedup story (detect pairs → x60 clusters → keep the
    * BEST document per cluster, not the lowest-id): each x60 cluster's
    * canonical is its highest-quality member (x24's score), doc_id
    * tiebreak. One max-of-struct aggregation per cluster — (quality,
    * −doc_id) orders lexicographically so a single `max` picks the
    * canonical with no per-cluster window or second join; cluster
    * cardinality is unbounded and the agg is partial-agg friendly. Output:
    * (cluster, n_docs, canon_id, canon_quality) over the x60 node set. */
  val x99 = Q("x99_canonical_docs",
    (s, d) => {
      val q = TextAnalysis.quality(
          t(s, d, "documents").where(col("doc_id") < 200))
        .select(col("doc_id"), col("quality"))
      reportSortFused(
        dupClusters(s, d).join(q, Seq("doc_id"))
          .groupBy("cluster")
          .agg(count(lit(1)).as("n_docs"),
            max(struct(col("quality"), (-col("doc_id")).as("nid")))
              .as("best"))
          .select(col("cluster"), col("n_docs"),
            (-col("best.nid")).as("canon_id"),
            col("best.quality").as("canon_quality")),
        col("cluster"))
    },
    Some(s"""WITH RECURSIVE $duckClustersCtes,
            |cl AS (SELECT src AS doc_id,
            |    CAST(least(src, min(dst)) AS BIGINT) AS cluster
            |  FROM reach GROUP BY src),
            |t0 AS (SELECT doc_id, ${Portable.tokens(DuckD, "text")} AS toks
            |  FROM documents WHERE doc_id < 200),
            |c0 AS (SELECT doc_id, CAST(length(toks) AS BIGINT) AS n_tokens,
            |    ${TextAnalysis.langCount(DuckD, "toks", "en")} AS en_hits
            |  FROM t0),
            |q AS (SELECT doc_id,
            |    ${TextAnalysis.qualityScore("n_tokens", "en_hits")} AS quality
            |  FROM c0 WHERE n_tokens > 0),
            |wq AS (SELECT cl.cluster, cl.doc_id, q.quality
            |  FROM cl JOIN q ON q.doc_id = cl.doc_id),
            |r AS (SELECT cluster, doc_id, quality, row_number() OVER (
            |    PARTITION BY cluster ORDER BY quality DESC, doc_id) AS rn
            |  FROM wq),
            |sz AS (SELECT cluster, COUNT(*) AS n_docs FROM wq GROUP BY 1)
            |SELECT sz.cluster, sz.n_docs, r.doc_id AS canon_id,
            |  r.quality AS canon_quality
            |FROM sz JOIN r ON r.cluster = sz.cluster AND r.rn = 1
            |ORDER BY 1""".stripMargin),
    bench = false)

  /** The end-to-end training-data pipeline as ONE query — the capstone
    * composite a corpus team actually runs, chaining the tiers in their
    * production order: exact dedup (x17's keep-first) → per-source
    * DISCRETE-percentile quality gate computed on the DEDUPED population
    * (x96's exact-integer-rank rule — stage order matters and is the
    * declared semantics) → per-source caps by the deterministic Knuth draw
    * over the GATED population (x92's rule, cap = 12 binds at every SF) →
    * per-source funnel report (raw → deduped → gated → final docs + final
    * tokens).
    *
    * Scale shape: ONE corpus scan — md5 and the LangStats kernel ride the
    * same projection and the keep-lowest-id rule is a min-of-struct per
    * digest (x49's round-6 fusion; doc_id leads the struct, so `min`
    * carries the kept row's payload — only 16-byte digests + small structs
    * shuffle, with map-side partial min). The deduped scored set is lazily
    * checkpointed (it feeds the threshold aggregate and the funnel
    * aggregate); quality is computed AFTER the keep selection, on one row
    * per digest; thresholds ride a broadcast; the cap selection is a
    * bounded top-12 heap INSIDE the funnel aggregate
    * ([[Relational.smallestK]] — k≪group needs neither a per-source window
    * nor the two-pass's full ranks; per-group state is 12 structs at any
    * source size); the report is one join of source-bounded aggregates. */
  val x100 = Q("x100_training_pipeline",
    (s, d) => {
      val docs = t(s, d, "documents")
      // NOT spread (r16 A/B): moving the LangStats pass behind a pinned
      // raw-text exchange on the md5 key (kernel 32-way, no second
      // exchange — hashpartitioning(h, N) satisfies the groupBy) measured
      // WORSE at sf5, 1.75 → 2.26 s best-of-5: unlike the x101/x64
      // shapes, this kernel pass feeds a materialization, and the
      // checkpoint materializes the exchange's output anyway — the extra
      // shuffle write of full text costs more than the split-bound map
      // stage it parallelized. The split-bound 7-task job is the known
      // corpus-layout handicap (row-group finding), not a plan defect.
      // NOT kernel-after-dedup either (r17, VERDICT r16 stretch 8,
      // interleaved A/B at sf5): carrying TEXT through the dedup exchange
      // (min over (doc_id, source, text) — same min-doc_id survivor) and
      // running LangStats on survivors only, post-shuffle 32-way, measured
      // 2.33 vs 2.09 s best-of-5 (medians 3.02 vs 2.29): the full-text
      // shuffle + text-bearing min-agg buffers cost more than the ~2.5×
      // kernel-eval saving — the guide-§8 "decide with small rows" shape
      // (digests through the exchange, kernel pre-dedup) stays.
      val scored = Materialize(docs
        .select(md5(col("text")).as("h"), col("doc_id"), col("source"),
          graft.functions.TextHashFunctions.langStats(col("text")).as("st"))
        .select(col("h"), struct(col("doc_id"), col("source"),
          element_at(col("st"), TextAnalysis.profiles.length + 1)
            .cast("int").as("n_tokens"),
          element_at(col("st"), 1).cast("int").as("en_hits")).as("p"))
        .groupBy("h").agg(min(col("p")).as("k"))
        .where(col("k.n_tokens") > 0)
        .select(col("k.doc_id").as("doc_id"), col("k.source").as("source"),
          col("k.n_tokens").cast("bigint").as("n_toks"),
          expr(TextAnalysis.qualityScore("k.n_tokens", "k.en_hits"))
            .as("quality")))
      val thr = TextAnalysis.discreteThreshold(scored, dropPermille = 300)
      // every scored source has a threshold (it was computed from scored),
      // so the broadcast join preserves rows and ONE aggregate yields the
      // dedup count, the gate count (conditional sum) AND the capped final
      // selection: the bounded top-12 heap (Relational.smallestK — round-6
      // continuation) keeps the smallest (knuth hash, doc_id) draws among
      // GATED rows only (the when() child is NULL below threshold and
      // Collect ignores nulls), with n_toks riding as payload. The
      // keyedRowNumbers range sort, its route-probe job and the two
      // downstream report joins are gone — per-group aggregation state is
      // 12 structs regardless of source size, and only O(sources·12)
      // structs survive the partial agg (x51/x87/x92 still exercise the
      // two-pass, whose full ranks a k≪group selection doesn't need).
      val h = ((col("doc_id") % lit(1000000007L)) * lit(2654435761L)) %
        lit(1000000007L)
      val ddgf = scored.join(broadcast(thr), Seq("source"))
        .withColumn("__h", h)
        .groupBy("source").agg(
          count(lit(1)).as("n_dedup"),
          sum(when(col("quality") >= col("thr"), 1L).otherwise(0L))
            .as("n_gate"),
          Relational.smallestK(
            when(col("quality") >= col("thr"),
              struct(col("__h"), col("doc_id"), col("n_toks"))), 12)
            .as("__top"))
        .select(col("source"), col("n_dedup"), col("n_gate"),
          size(col("__top")).cast("bigint").as("n_final"),
          coalesce(expr("aggregate(__top, 0L, (a, x) -> a + x.n_toks)"),
            lit(0L)).as("toks_final"))
      val raw = docs.groupBy("source").agg(count(lit(1)).as("n_raw"))
      reportSort(raw
        .join(ddgf, Seq("source"), "left")
        .select(col("source"), col("n_raw"),
          coalesce(col("n_dedup"), lit(0L)).as("n_dedup"),
          coalesce(col("n_gate"), lit(0L)).as("n_gate"),
          coalesce(col("n_final"), lit(0L)).as("n_final"),
          coalesce(col("toks_final"), lit(0L)).as("toks_final")),
        col("source"))
    },
    Some(s"""WITH keep AS (SELECT MIN(doc_id) AS doc_id FROM documents
            |  GROUP BY md5(text)),
            |t0 AS (SELECT doc_id, source, ${Portable.tokens(DuckD, "text")}
            |    AS toks FROM documents),
            |c AS (SELECT doc_id, source,
            |    CAST(length(toks) AS BIGINT) AS n_tokens,
            |    ${TextAnalysis.langCount(DuckD, "toks", "en")} AS en_hits
            |  FROM t0),
            |sc AS (SELECT c.doc_id, c.source, n_tokens AS n_toks,
            |    ${TextAnalysis.qualityScore("n_tokens", "en_hits")} AS quality
            |  FROM c JOIN keep USING (doc_id) WHERE n_tokens > 0),
            |th AS (SELECT source, quantile_disc(quality, 0.3) AS thr
            |  FROM sc GROUP BY 1),
            |g AS (SELECT sc.* FROM sc JOIN th ON th.source = sc.source
            |  WHERE quality >= thr),
            |r AS (SELECT g.*, row_number() OVER (PARTITION BY source
            |    ORDER BY (doc_id % 1000000007) * 2654435761 % 1000000007,
            |      doc_id) AS rn FROM g),
            |f AS (SELECT source, COUNT(*) AS n_final,
            |    CAST(SUM(n_toks) AS BIGINT) AS toks_final
            |  FROM r WHERE rn <= 12 GROUP BY 1),
            |raw AS (SELECT source, COUNT(*) AS n_raw FROM documents
            |  GROUP BY 1),
            |dd AS (SELECT source, COUNT(*) AS n_dedup FROM sc GROUP BY 1),
            |gg AS (SELECT source, COUNT(*) AS n_gate FROM g GROUP BY 1)
            |SELECT raw.source, n_raw,
            |  CAST(COALESCE(n_dedup, 0) AS BIGINT) AS n_dedup,
            |  CAST(COALESCE(n_gate, 0) AS BIGINT) AS n_gate,
            |  CAST(COALESCE(n_final, 0) AS BIGINT) AS n_final,
            |  CAST(COALESCE(toks_final, 0) AS BIGINT) AS toks_final
            |FROM raw LEFT JOIN dd USING (source) LEFT JOIN gg USING (source)
            |  LEFT JOIN f USING (source)
            |ORDER BY 1""".stripMargin),
    bench = false)

  /** Bounded top-k exemplar selection per group — the curation step that
    * surfaces each source's k best documents (few-shot exemplar picks,
    * quality audits, per-dump spot-check samples) without ranking the
    * whole group: one LangStats kernel pass scores quality (x24's
    * formula), then ONE aggregation per source keeps the top 3 by
    * (quality DESC, doc_id ASC) in a bounded heap
    * ([[Relational.largestK]], round-6 continuation). Scale shape: a
    * `PARTITION BY source` ranking window sorts every group member
    * through one task (the x51 hot-key trap) and the `keyedRowNumbers`
    * two-pass pays a full range sort + offset recovery — a k≪group
    * selection needs neither; per-group aggregation state is k structs at
    * ANY source size and only O(sources·k) structs survive the map-side
    * partial heaps. The asc doc_id tiebreak inverts inside the max-heap
    * as −doc_id; posexplode of the (descending-sorted) heap array IS the
    * rank — no window anywhere in the plan. */
  val x101 = Q("x101_topk_exemplars",
    (s, d) => {
      // kernel tier: the LangStats kernel spread above it
      val spread = ScalePolicy.kernelSpread(
        t(s, d, "documents").select("doc_id", "source", "text"), "doc_id")
      val q = spread
        // raw-text token-bearing filter (r16): the post-kernel
        // where(n_tokens > 0) pushed a LangStats-bearing predicate into
        // the scan's DataFilters, running the kernel twice per row
        // (Filter + Project are separate codegen subexpression scopes)
        .where(col("text").rlike("[^ ]"))
        .select(col("doc_id"), col("source"),
          graft.functions.TextHashFunctions.langStats(col("text")).as("st"))
        .select(col("doc_id"), col("source"),
          element_at(col("st"), TextAnalysis.profiles.length + 1)
            .cast("int").as("n_tokens"),
          element_at(col("st"), 1).cast("int").as("en_hits"))
        .select(col("source"), col("doc_id"),
          expr(TextAnalysis.qualityScore("n_tokens", "en_hits"))
            .as("quality"))
      reportSortFused(
        q.groupBy("source")
          .agg(Relational.largestK(
            struct(col("quality"), (-col("doc_id")).as("nid"),
              col("doc_id")), 3).as("top"))
          .select(col("source"), posexplode(col("top")))
          .select(col("source"), (col("pos") + 1).as("rk"),
            col("col.doc_id").as("doc_id"),
            col("col.quality").as("quality")),
        col("source"), col("rk"))
    },
    Some(s"""WITH t0 AS (SELECT doc_id, source,
            |    ${Portable.tokens(DuckD, "text")} AS toks FROM documents),
            |c AS (SELECT doc_id, source,
            |    CAST(length(toks) AS BIGINT) AS n_tokens,
            |    ${TextAnalysis.langCount(DuckD, "toks", "en")} AS en_hits
            |  FROM t0),
            |q AS (SELECT source, doc_id,
            |    ${TextAnalysis.qualityScore("n_tokens", "en_hits")}
            |      AS quality
            |  FROM c WHERE n_tokens > 0),
            |r AS (SELECT source, doc_id, quality, row_number() OVER (
            |    PARTITION BY source ORDER BY quality DESC, doc_id) AS rk
            |  FROM q)
            |SELECT source, rk, doc_id, quality FROM r WHERE rk <= 3
            |ORDER BY source, rk""".stripMargin),
    bench = false)

  /** Decontamination on the 100 TB route: x66's exact semantics (per-eval-doc
    * shared-shingle counts, same split, same oracle) through
    * [[Dedup.contaminationCounts]]' bloom prefilter. Where x66's baseline
    * shape `distinct`s EVERY train shingle (a corpus-sized shuffle — the one
    * part of x66 that does not survive a 1000× scale-up), this folds the
    * small eval side into one fixed-size bloom sketch (partial-agg; only the
    * sketch leaves the executors) and keeps train shingles that might be
    * shared BEFORE the distinct — the shuffle shrinks from corpus-sized to
    * result-sized. Exact either way: no false negatives, and false-positive
    * train shingles cannot match an eval row in the final equality join.
    * Routes to the exact shape when the eval-shingle estimate exceeds the
    * sketch cap (route + boundary pinned in RouteScaleSpec; path
    * equivalence + empty-side edges in DedupStressSpec).
    *
    * The estimate is ZERO-job driver metadata — the relation's
    * `stats.sizeInBytes` (the same statistic broadcast-join thresholds
    * gate on), calibrated as one expected eval shingle per 2 bytes of
    * full-table parquet: ~117 B/doc compressed × 10% eval split ×
    * ≤512 shingles/doc ≈ /2.25, floored to /2 so it stays an UPPER bound
    * (route-equivalent to a doc-count probe at every SF — sf1's ~5.7 MB
    * routes bloom at ~2.9M, sf5's ~28.5 MB routes exact — without the
    * count's extra job per run, A/B'd via JobProfile: 10 → 8 jobs).
    * Estimate errors are one-directional by construction: better-than-
    * expected compression shrinks the estimate and costs fpp only;
    * incompressible text inflates it toward the exact route earlier. */
  val x102 = Q("x102_bloom_decontamination",
    (s, d) => {
      val est = (t(s, d, "documents")
        .queryExecution.optimizedPlan.stats.sizeInBytes / 2).toLong
      // fork: one task runs the kernels per side into a shuffle_hash build;
      // at scale a kernel-once checkpoint, which no layout rewrite can
      // undo, feeds an unhinted build (BASELINE.md, "Scale gate ledgers")
      if (ScalePolicy.fits(ScalePolicy.OneTask, t(s, d, "documents"))) {
        val docs = t(s, d, "documents").coalesce(1).withColumn("h",
          graft.functions.TextHashFunctions.fingerprint(col("text")) % 100)
        graft.operators.Dedup.contaminationCounts(
            docs.where(col("h") < 80), docs.where(col("h") >= 90), est)
          .orderBy("doc_id")
      } else {
        // one kernel pass computes (h, shs) defaultParallelism-wide; the
        // bloom build and both sides explode the packed arrays
        val packed = Materialize(ScalePolicy.kernelSpread(
            t(s, d, "documents").select("doc_id", "text"), "doc_id")
          .select(col("doc_id"),
            (graft.functions.TextHashFunctions.fingerprint(col("text")) % 100)
              .as("h"),
            graft.functions.TextHashFunctions.shingleSet(col("text")).as("shs")))
        graft.operators.Dedup.contaminationCounts(
            packed.where(col("h") < 80), packed.where(col("h") >= 90), est,
            shsCol = Some("shs"))
          .orderBy("doc_id")
      }
    },
    Some(s"""WITH th AS (SELECT doc_id, text,
            |    ${Portable.tokenHashes(DuckD, "text", distinctTokens = false)} AS hs
            |  FROM documents),
            |f AS (SELECT doc_id, text,
            |    ${Portable.fingerprint(DuckD, "hs")} % 100 AS h FROM th),
            |tok AS (SELECT doc_id, h, ${Portable.tokens(DuckD, "text")} AS toks
            |  FROM f),
            |sh0 AS (SELECT doc_id, h, unnest(${graft.operators.Dedup.shingleExprDuck("toks")}) AS sh
            |  FROM tok),
            |sh AS (SELECT DISTINCT doc_id, h, sh FROM sh0),
            |tr AS (SELECT DISTINCT sh FROM sh WHERE h < 80),
            |ev AS (SELECT doc_id, sh FROM sh WHERE h >= 90)
            |SELECT ev.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
            |FROM ev JOIN tr ON ev.sh = tr.sh
            |GROUP BY 1 ORDER BY 1""".stripMargin),
    bench = false)

  /** E9 approximate distinct. The HLL sketch value is engine-specific, so
    * the approx NUMBER can't be hash-compared against DuckDB; instead the
    * tolerance gate runs IN-QUERY (VERDICT r11 directive 6): each day's
    * `approx_count_distinct` must sit within 15% (3× the default rsd 0.05)
    * of the exact distinct count, and the hashed output is
    * (exact count, verdict) — a tolerance violation flips `within_tol` to
    * false and breaks the driver's hash against the oracle's TRUE, so
    * CORRECTNESS_r{N} carries the tolerance verdict directly instead of
    * `err:"no_oracle"`. The exact column doubles as a cross-engine value
    * pin. (At 100 TB the production shape drops the exact side — avoiding
    * that shuffle is the entire point of HLL; this is the gate query.
    * Measured errors go to Verify's tolerance.json via
    * [[toleranceReport]].) */
  val x28 = Q("x28_approx_distinct",
    OneTaskBuild((s, d) => reportSortFused(t(s, d, "events")
      .groupBy(to_date(col("ts")).as("d"))
      .agg(approx_count_distinct(col("user_id")).as("approx_users"),
        countDistinct(col("user_id")).as("exact_users"))
      .select(col("d"), col("exact_users"),
        (abs(col("approx_users") - col("exact_users")) <=
          lit(0.15) * col("exact_users")).as("within_tol")), col("d"))),
    Some("""SELECT CAST(ts AS DATE) AS d,
           |  COUNT(DISTINCT user_id) AS exact_users,
           |  TRUE AS within_tol
           |FROM events GROUP BY 1 ORDER BY 1""".stripMargin))

  // ------------------------------------------------------------- assembly

  val all: Seq[Q] = Seq(
    q01, q02, q03, q04, q05, q06, q07, q08,
    q09, q10, q11, q12, q13, q14, q15, q16,
    x17, x18, x19, x20, x21, x22,
    x23, x24, x25, x26, x27, x28, x29, x30, x31, x32, x33, x34, x35, x36,
    x37, x38, x39, x40, x41, x42, x43, x44, x45, x46, x47, x48, x49, x50,
    x51, x52, x53, x54, x55, x56, x57, x58, x59, x60, x61, x62, x63,
    x64, x65, x66, x67, x68, x69, x70, x71, x72, x73, x74, x75, x76, x77,
    x78, x79, x80, x81, x82, x83, x84, x85, x86, x87, x88, x89, x90, x91,
    x92, x93, x94, x95, x96, x97, x98, x99, x100, x101, x102)

  /** Every query by name, its builder as declared. Building a query never
    * writes session conf: every query plans under the session's one AQE
    * posture ([[graft.engine.GraftSession]]), and a `SPARK_GRAFT_CONF`
    * override of the AQE flag turns it off for the whole session. A plan
    * shape that needs a fixed partitioning carries it in the plan: x72/x98
    * range-partition to a pinned count, which AQE never coalesces, and every
    * reused intermediate goes through [[graft.engine.Materialize]], whose
    * relation keeps a layout its caller set. The per-query A/B of the retired static-planning
    * list is in BASELINE.md, "Planning posture". */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.build).toMap

  def oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(q.name -> _)).toMap

  def benchNames: Seq[String] = all.filter(_.bench).map(_.name)

  /** Extended-tier bench set (x39+): everything outside the headline set
    * except the write-roundtrip q08. Timed separately so the headline total
    * stays comparable round over round, while regressions in the wider
    * surface (x60's component loop, x66's shingle semi-join, …) still show
    * up in BENCH_r{N}. */
  def benchNamesExtended: Seq[String] =
    all.filterNot(_.bench).map(_.name).filterNot(_ == "q08_roundtrip")

  /** Measured tolerance errors behind x28/x54's in-query `within_tol`
    * verdicts (VERDICT r11 directive 6: pass/fail + measured error through
    * Verify — the verdict is hashed in CORRECTNESS_r{N}; this JSON records
    * the magnitudes). Driver-side materialization is two ONE-ROW max-error
    * aggregates (DriverBoundSpec). */
  def toleranceReport(s: SparkSession, d: String): String = {
    def one(df: DataFrame): Double = {
      val r = df.head()
      if (r.isNullAt(0)) 0.0 else r.getDouble(0)
    }
    val e28 = one(t(s, d, "events")
      .groupBy(to_date(col("ts")).as("d"))
      .agg(approx_count_distinct(col("user_id")).as("a"),
        countDistinct(col("user_id")).as("e"))
      .agg(max(abs(col("a") - col("e")) / col("e"))))
    val e54 = one(t(s, d, "events")
      .groupBy("event_type")
      .agg(round(expr("percentile(value, 0.5)"), 4).as("p50"),
        round(expr("percentile(value, 0.9)"), 4).as("p90"),
        expr("approx_percentile(value, 0.5, 1000)").as("a50"),
        expr("approx_percentile(value, 0.9, 1000)").as("a90"))
      .agg(max(greatest(
        abs(col("a50") - col("p50")) / greatest(abs(col("p50")), lit(1.0)),
        abs(col("a90") - col("p90")) / greatest(abs(col("p90")), lit(1.0))))))
    f"""{"x28_approx_distinct":{"pass":${e28 <= 0.15},"max_rel_err":$e28%.6f,"tol":0.15},""" +
      f""""x54_approx_percentiles":{"pass":${e54 <= 0.05},"max_norm_err":$e54%.6f,"tol":0.05}}"""
  }
}
