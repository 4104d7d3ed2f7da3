package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reusable relational building blocks (SURVEY.md §2.11 E1–E3, E10).
  * All are thin, declarative compositions — Catalyst picks the physical
  * strategy (broadcast vs sort-merge, AQE re-planning), which is exactly
  * what we want at 100 TB: no hand-scheduled execution.
  */
object Relational {

  /** [[keyedRowNumbers]] block-table driver-collect cap: 2¹⁷ blocks ≈ tens
    * of MB of driver tuples — comfortably under any sane driver heap, while
    * every bounded-key caller (shards, rank buckets, sources) stays on the
    * exchange-free broadcast route. Web-domain-scale key sets route
    * distributed. */
  val DefaultMaxDriverBlocks: Long = 1L << 17

  /** Test-only observability: which offset route the most recent
    * [[keyedRowNumbers]] call on this JVM took ("driver" | "distributed"). */
  @volatile private[graft] var lastKeyedRoute: String = ""

  /** [[orderedRunningTotal]] single-window row cap: up to 2²⁰ slim rows
    * sort in one task in well under a second, so the two-pass's extra
    * jobs are pure scheduling floor below it; anything bigger keeps the
    * distributed two-pass. */
  val MaxSingleWindowRows: Long = 1L << 20

  /** Test-only observability: which route the most recent
    * [[orderedRunningTotal]] call on this JVM took ("window" | "two-pass"). */
  @volatile private[graft] var lastRunningTotalRoute: String = ""

  /** Keep the latest row per key group (E3/E8 "dedup-keep-latest").
    * One shuffle on the partition keys; ranking is per-partition. */
  def dedupKeepLatest(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w)).where(col("__rn") === 1).drop("__rn")
  }

  /** Top-k rows per group with a deterministic total order — the WINDOW
    * tier, right when groups are bounded (x39's 5-doc probe). For k≪group
    * on unbounded groups prefer the [[smallestK]]/[[largestK]] heap
    * aggregate (k-capped state, no per-group sort); for FULL ranks at low
    * key cardinality, [[keyedRowNumbers]]' two-pass. */
  def topKPerGroup(df: DataFrame, keys: Seq[String], order: Seq[Column], k: Int,
                   rankCol: String = "rn"): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn(rankCol, row_number().over(w)).where(col(rankCol) <= k)
  }

  /** Bounded top-k AGGREGATE (round 6): the k smallest (`smallestK`) /
    * largest (`largestK`) values of `c` per group as a sorted array —
    * Spark's `CollectTopK` bounded priority queue, surfaced through the
    * bridge. This is the scale-correct small-k selection shape:
    * partial-agg friendly with per-group state capped at k elements
    * REGARDLESS of group size — where a `PARTITION BY key` ranking window
    * sorts every group member through one task (the x51 hot-key trap) and
    * the [[keyedRowNumbers]] two-pass pays a full range sort + offset
    * recovery, a k≪group selection (per-source caps, exemplar picks) needs
    * neither: map-side heaps shrink each partition's contribution to ≤ k
    * rows before the exchange, so only O(groups·k) structs ever shuffle.
    * NULL inputs are ignored (Collect semantics) — `when(cond, v)` doubles
    * as a pre-aggregation filter. Use a struct child with a unique trailing
    * tie-break field for deterministic selection. */
  def smallestK(c: Column, k: Int): Column =
    org.apache.spark.sql.GraftSqlBridge.collectTopK(c, k, reverse = true)

  /** See [[smallestK]]; keeps the k largest, descending output order. */
  def largestK(c: Column, k: Int): Column =
    org.apache.spark.sql.GraftSqlBridge.collectTopK(c, k, reverse = false)

  /** Rows of `left` with no key match in `right` (E2). Planned as a
    * left-anti join — broadcastable when `right` is a dim table. */
  def antiJoinKeys(left: DataFrame, right: DataFrame,
                   leftKey: String, rightKey: String): DataFrame =
    left.join(right, left(leftKey) === right(rightKey), "left_anti")

  /** Exact interpolated percentiles (SQL `percentile` / `percentile_cont`),
    * default plan: ONE builtin `percentile(value, array(qs...))` per group —
    * the array form builds a single per-group map for all requested
    * percentiles instead of one ObjectHashAggregate buffer per call (the
    * r15 change; VERDICT r14 directive 4).
    *
    * Spark's Percentile is a TypedImperativeAggregate building a per-group
    * OpenHashMap[value, count] on the INTERPRETED row path, and JobProfile
    * (r15) measured the x33/x54/x67/x77 residual 0.25–0.40 s to be exactly
    * that interpreted stage. A COUNT-TABLE feed — groupBy(keys, value)
    * .count() then percentile(value, array(qs), count) — was hypothesized
    * to beat it and is implemented below behind
    * `spark.graft.pctCountTable` (results are bit-identical: the frequency
    * argument sums into the same OpenHashMap buffer the raw-row form builds
    * by +1 increments). Measured (PctProbe interleaved A/B, r16): the count
    * table LOSES at every SF tried — +0.14 s at sf0.1, +0.22 s at sf1,
    * +0.20 s at sf5 (x33+x67 totals) — because ObjectHashAggregate already
    * partial-aggregates map-side, so the data crossing the shuffle is the
    * same bounded (group, value, count) multiset either way and the count
    * table only adds a full extra hash-agg stage + shuffle. Default is
    * therefore the direct form at every scale; the flag stays for re-probes
    * and the equivalence spec.
    *
    * (A pure-declarative window-CDF variant was also measured and REVERTED
    * in r15: two window frames + conditional-min brackets over the 49k-row
    * count table cost more than the interpreted map they avoided, and the
    * expression trees tripled planning time — 0.46 s vs 0.30 s at sf0.1.)
    *
    * NULLs in `value` are ignored (builtin semantics); a group with zero
    * non-null values emits a NULL-percentile row via the builtin as before.
    *
    * At 100 TB the direct form holds: the interpreted scan parallelizes
    * across input partitions, per-partition maps are bounded by per-group
    * distinct values, and only those bounded maps cross the wire. */
  def exactPercentiles(df: DataFrame, keys: Seq[String], valueCol: Column,
                       qs: Seq[(Double, String)]): DataFrame = {
    require(qs.nonEmpty, "exactPercentiles: no percentiles requested")
    // Double.toString is locale-independent and round-trips exactly, so the
    // SQL text reproduces the caller's percentages bit-for-bit
    val qList = qs.map { case (q, _) => q.toString }.mkString(", ")
    val base = df.select(keys.map(col) :+ valueCol.as("__v"): _*)
    val useCountTable = df.sparkSession.conf
      .get("spark.graft.pctCountTable", "false").toBoolean
    val ps = if (useCountTable) {
      // Half 1: the codegen count table. Spark's Percentile sums the
      // frequency argument into the same OpenHashMap[value, count] buffer
      // that the raw-row form builds by +1 increments, so half 2 is
      // bit-identical to the direct form on every corpus.
      base.groupBy((keys :+ "__v").map(col): _*).agg(count(lit(1)).as("__c"))
        .groupBy(keys.map(col): _*)
        .agg(expr(s"percentile(__v, array($qList), __c)").as("__ps"))
    } else {
      // Direct form (pre-r16; kept A/B-able via spark.graft.pctCountTable):
      // ONE interpreted ObjectHashAggregate over raw rows, array form so a
      // single map serves all requested percentiles.
      base.groupBy(keys.map(col): _*)
        .agg(expr(s"percentile(__v, array($qList))").as("__ps"))
    }
    ps.select(keys.map(col) ++ qs.zipWithIndex.map { case ((_, name), i) =>
      element_at(col("__ps"), i + 1).as(name) }: _*)
  }

  /** Total sort for an AGGREGATION tail whose post-exchange stage is
    * trivial (final agg over a bounded group set): `coalesce(1)` is a
    * narrow dependency, so the final agg, total sort and sink fuse into ONE
    * single-task stage — no range-sampling job and one exchange fewer than
    * `orderBy` (or `repartition(1)`). Only safe where the collapsed stage
    * does O(groups) work; the map side (scan, partial agg, joins) keeps
    * full parallelism behind the agg exchange. Ranking/join tails must not
    * use it: coalesce would pull their real per-row work into one task. */
  def reportSortFused(df: DataFrame, cols: Column*): DataFrame =
    df.coalesce(1).sortWithinPartitions(cols: _*)

  /** Skew-safe exact distinct count: salt by `hash(valueCol) % nSalts` so one
    * hot group key fans out over `nSalts` reducers, then sum the per-salt
    * distinct counts. Exactness holds because each VALUE maps to exactly one
    * salt — per-salt distinct sets are disjoint, so their counts add.
    *
    * This is the 100 TB form of the reference's daily distinct-count query
    * (SURVEY.md C13): a plain `COUNT(DISTINCT id)` makes the hottest day a
    * single straggler reducer; salting bounds any reducer at 1/nSalts of the
    * hot key (AQE's skew handling covers joins, not distinct aggregation).
    */
  def saltedDistinctCount(df: DataFrame, groupKeys: Seq[Column], valueCol: Column,
                          outName: String, nSalts: Int = 64): DataFrame = {
    val n = df.sparkSession.sessionState.conf.numShufflePartitions.min(nSalts)
    val perSalt = df
      .groupBy(groupKeys :+ pmod(hash(valueCol), lit(n)).as("__salt"): _*)
      .agg(count_distinct(valueCol).as("__partial"))
    val keyNames = perSalt.columns.dropRight(2) // groupKeys as materialized names
    perSalt.groupBy(keyNames.map(col): _*)
      .agg(sum("__partial").as(outName))
  }

  /** Per-key global row numbers WITHOUT a per-key window sort — the
    * scale-safe plan for distribution windows (ntile / percent_rank /
    * cume_dist) whose natural `Window.partitionBy(key)` has few distinct
    * keys: that window funnels the whole input through |keys| post-shuffle
    * tasks (5 giant spill-prone sorts at 100 TB). Here the heavy sort is a
    * PARALLEL range sort instead, and ranks are recovered by the classic
    * partition-offset two-pass:
    *
    *  1. range-repartition + sort by (keys, order) across `parts` tasks;
    *     `monotonically_increasing_id` records each row's partition-local
    *     position (narrow, no exchange). State is locally checkpointed so
    *     pass 2 sees the identical layout.
    *  2. one slim aggregate — (partition, keys) → (first id, row count),
    *     ≈ one block per distinct key after the range sort — yields each
    *     block's rank offset via per-key prefix sums over partitions, and
    *     rank = local position − block start + block offset + 1.
    *
    * Pass 2 is CARDINALITY-GATED (round-6; the round-5 verdict's second
    * scale finding): the block table is counted in one slim job on its
    * cached RDD, and
    *  - at ≤ `maxDriverBlocks` blocks (shards, rank buckets, bounded key
    *    sets) the offsets are computed on the driver and the block table
    *    broadcast-joins back — ZERO extra exchange of the data;
    *  - above the cap (x92's web-domain regime: 10⁷–10⁸ registrable
    *    domains would put multi-GB on the driver) the block table stays
    *    distributed — per-key offsets come from two windows over the slim
    *    block frame (partition size ≤ `parts` blocks per key, never the
    *    data), and the offsets shuffle-join back on (partition, keys).
    *    One extra exchange of the data rows, no driver state at all.
    *
    * Emits the input columns plus `__rn` (1-based rank per key under
    * `order`, which callers must make UNIQUE via a tie-break column — with
    * unique order row_number = rank = dense_rank) and `__n` (key group
    * size). */
  def keyedRowNumbers(df: DataFrame, keys: Seq[String], order: Seq[Column],
                      parts: Int = 0,
                      maxDriverBlocks: Long = DefaultMaxDriverBlocks): DataFrame = {
    val spark = df.sparkSession
    // block runs are detected via external-value equality on the driver;
    // binary values compare by REFERENCE there (one block per ROW — an
    // O(input) driver collect), so refuse them loudly, at any nesting depth
    def containsBinary(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case _: org.apache.spark.sql.types.BinaryType => true
      case s: org.apache.spark.sql.types.StructType =>
        s.fields.exists(f => containsBinary(f.dataType))
      case a: org.apache.spark.sql.types.ArrayType => containsBinary(a.elementType)
      case m: org.apache.spark.sql.types.MapType =>
        containsBinary(m.keyType) || containsBinary(m.valueType)
      case _ => false
    }
    keys.foreach { k =>
      require(!containsBinary(df.schema(k).dataType),
        s"keyedRowNumbers: key '$k' contains BINARY — its external form has " +
          "no value equality; hash it to a comparable type first")
    }
    // WINDOW route for 1-partition inputs (r14, the catalog's one-task
    // floor fusion): the two-pass exists so real volume never serializes
    // through per-key window sorts — but an input the caller has already
    // collapsed to ONE partition is serialized by construction, and the
    // checkpoint + block-stats pass + route-count job + block join would
    // be four extra jobs to recompute what row_number/count read straight
    // off that partition. Zero-job route check (physical partition count);
    // at scale no caller hands this operator a single partition.
    // The route also honors the fusion disable knob (ADVICE r14): a tiny
    // single-file scan is 1 partition even with the catalog gate off, and
    // without this check the equivalence specs' "plain arm" would compare
    // window-route against window-route instead of pinning the two-pass.
    val oneTaskEnabled = spark.conf.getOption("spark.graft.oneTaskFloorBytes")
      .map(_.toLong).forall(_ > 0)
    if (oneTaskEnabled && df.rdd.getNumPartitions == 1) {
      lastKeyedRoute = "window"
      val byKey = Window.partitionBy(keys.map(col): _*)
      return df
        .withColumn("__n", count(lit(1)).over(byKey))
        // cast: row_number is INT; the two-pass emits LONG ranks, and
        // callers (Sharding.verifyShards) read the column as LONG
        .withColumn("__rn",
          row_number().over(byKey.orderBy(order: _*)).cast("bigint"))
    }
    val p = if (parts > 0) parts else spark.sparkContext.defaultParallelism
    val sortExprs = keys.map(col) ++ order
    val sorted = df.repartitionByRange(p, sortExprs: _*)
      .sortWithinPartitions(sortExprs: _*)
      .withColumn("__pid", spark_partition_id())
      .withColumn("__mid", monotonically_increasing_id())
      .localCheckpoint(false) // materialized by the block-stats pass below
    // block stats in ONE fused job (which also materializes the checkpoint):
    // within a sorted partition each (keys) block is a contiguous run, so a
    // linear per-partition scan replaces the groupBy's exchange + the AQE
    // stage jobs it would schedule. Driver receives one tuple per block.
    val nKeys = keys.length
    // boxed java.lang.Double/Float equals() distinguishes -0.0 from 0.0 while
    // Spark's sort and <=> treat them equal — normalize so one logical key
    // never splits into two adjacent driver blocks (whose block rows would
    // BOTH null-safe-join every such row and duplicate output)
    val normKey: Any => Any = {
      case d: java.lang.Double if d.doubleValue() == 0.0 =>
        java.lang.Double.valueOf(0.0)
      case f: java.lang.Float if f.floatValue() == 0.0f =>
        java.lang.Float.valueOf(0.0f)
      case other => other
    }
    val blockRdd = sorted
      .select(("__pid" +: "__mid" +: keys).map(col): _*)
      .rdd.mapPartitions { it =>
        val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Seq[Any], Long, Long)]
        var curKey: Seq[Any] = null
        var pid = -1; var minMid = 0L; var cnt = 0L
        it.foreach { r =>
          val k = (2 until 2 + nKeys).map(i => normKey(r.get(i)))
          if (curKey == null || k != curKey) {
            if (curKey != null) out += ((pid, curKey, minMid, cnt))
            curKey = k; pid = r.getInt(0); minMid = r.getLong(1); cnt = 0L
          }
          cnt += 1
        }
        if (curKey != null) out += ((pid, curKey, minMid, cnt))
        out.iterator
      }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // one slim job prices the route (and materializes the checkpoint);
    // the cached block RDD is then read once more by whichever route wins
    // and reclaimed by the ContextCleaner when the plan is collected
    val nBlocks = blockRdd.count()
    import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
    val blockSchema = StructType(
      StructField("__pid", IntegerType) +:
        keys.map(k => df.schema(k)) :+
        StructField("__minMid", LongType) :+
        StructField("__off", LongType) :+
        StructField("__n", LongType))
    val blockDf =
      if (nBlocks <= maxDriverBlocks) {
        lastKeyedRoute = "driver"
        val augmented = blockRdd.collect().groupBy(_._2).valuesIterator
          .flatMap { blocks =>
            val ordered = blocks.sortBy(_._1)
            val total = ordered.map(_._4).sum
            var off = 0L
            ordered.map { case (pid, key, minMid, c) =>
              val o = off; off += c
              org.apache.spark.sql.Row.fromSeq(pid +: key :+ minMid :+ o :+ total)
            }
          }.toSeq
        broadcast(spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](
            scala.jdk.CollectionConverters.SeqHasAsJava(augmented).asJava),
          blockSchema))
      } else {
        lastKeyedRoute = "distributed"
        val raw = spark.createDataFrame(
          blockRdd.map(t => org.apache.spark.sql.Row.fromSeq(
            t._1 +: t._2 :+ t._3 :+ t._4)),
          StructType(StructField("__pid", IntegerType) +:
            keys.map(k => df.schema(k)) :+
            StructField("__minMid", LongType) :+
            StructField("__cnt", LongType)))
        // per-key offsets without ANY driver state: each key has at most
        // `parts` blocks (a key after a range sort is a contiguous span of
        // partitions), so both windows run over bounded partitions of the
        // SLIM block frame — never over the data rows
        val byKey = Window.partitionBy(keys.map(col): _*)
        raw
          .withColumn("__off", coalesce(
            sum(col("__cnt")).over(byKey.orderBy(col("__pid"))
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .withColumn("__n", sum(col("__cnt")).over(byKey))
          .select(blockSchema.fieldNames.map(col): _*)
      }
    // null-SAFE key equality: a NULL key is an ordinary group for
    // Window.partitionBy, so it must match its block row here too (a
    // name-based equi-join would silently drop every null-keyed row)
    val bdf = blockDf
    val joinCond = ((sorted("__pid") === bdf("__pid")) +: keys.map(k =>
      sorted(k) <=> bdf(k))).reduce(_ && _)
    keys.foldLeft(sorted.join(bdf, joinCond).drop(bdf("__pid")))(
        (d, k) => d.drop(bdf(k)))
      .withColumn("__rn", col("__mid") - col("__minMid") + col("__off") + 1)
      .drop("__pid", "__mid", "__minMid", "__off")
  }

  /** Deterministic global shuffle-and-shard — the training-order step at
    * the end of a data pipeline: assign every row a shard and a position
    * within it, reproducible across runs, engines and partitionings
    * (`ORDER BY rand()` is none of those). The Knuth multiplicative hash of
    * `idCol` (x63's mechanism; ids must be non-negative) is the shuffle
    * order; `shard = h % nShards` balances shards to within hash noise; the
    * within-shard position comes from [[keyedRowNumbers]] — the heavy sort
    * stays a PARALLEL range sort even though `nShards` may be small
    * relative to the cluster (the x51 low-cardinality-window trap, designed
    * out by the two-pass). Hash ties across distinct ids (possible once id
    * cardinality nears 1e9+7) break by id, so positions stay unique.
    *
    * Output: input columns + `shard` (int) + `pos` (1-based long) +
    * `shard_rows` (shard size — the per-shard row count a shard writer
    * needs for manifests), range-clustered by (shard, pos): a downstream
    * partitioned write streams each shard's rows in training order without
    * another exchange. */
  def shuffleShards(df: DataFrame, idCol: String, nShards: Int,
                    parts: Int = 0): DataFrame = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    val h = ((col(idCol) % lit(1000000007L)) * lit(2654435761L)) %
      lit(1000000007L)
    keyedRowNumbers(
      df.withColumn("__h", h)
        .withColumn("shard", (col("__h") % nShards).cast("int")),
      Seq("shard"), Seq(col("__h"), col(idCol)), parts)
      .withColumnRenamed("__rn", "pos")
      .withColumnRenamed("__n", "shard_rows")
      .select((df.columns.map(col) ++
        Seq(col("shard"), col("pos"), col("shard_rows"))): _*)
  }

  /** Per-domain document caps (the RefinedWeb/Gopher curation step that
    * bounds any one domain's share of the corpus): keep at most `cap`
    * documents per `keyCol` group, selected by the deterministic Knuth
    * multiplicative id hash (reproducible across runs, engines and
    * partitionings — x63/x84/x87's mechanism, a fair draw rather than
    * whatever order the scan produced). Returns the per-group report
    * (group, n_docs, n_kept, n_dropped), unordered — callers sort.
    *
    * Scale shape: within-group ranks come from [[keyedRowNumbers]]'s
    * parallel two-pass, NOT a `PARTITION BY domain` window — domain
    * cardinality is unbounded but individual hot domains are exactly the
    * skew a per-key window serializes on (the x51 trap); the report
    * aggregate reuses the two-pass output's clustering. */
  def groupCaps(df: DataFrame, keyCol: String, idCol: String,
                cap: Long): DataFrame = {
    require(cap >= 0, s"cap must be non-negative, got $cap")
    val h = ((col(idCol) % lit(1000000007L)) * lit(2654435761L)) %
      lit(1000000007L)
    keyedRowNumbers(
        df.select(col(keyCol), col(idCol)).withColumn("__h", h),
        Seq(keyCol), Seq(col("__h"), col(idCol)))
      .groupBy(keyCol)
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__rn") <= cap, 1L).otherwise(0L)).as("n_kept"))
      .withColumn("n_dropped", col("n_docs") - col("n_kept"))
  }

  /** Global running total (cumulative sum over a total order) WITHOUT the
    * single-partition window Spark would otherwise plan — `sum(v) OVER
    * (ORDER BY …)` with no PARTITION BY funnels the whole input through ONE
    * task, the worst scale shape there is. Same two-pass skeleton as
    * [[keyedRowNumbers]]:
    *
    *  1. parallel range sort on `order`; state locally checkpointed.
    *  2. one slim pass collects each partition's value sum (≤ `parts`
    *     numbers on the driver); exclusive prefix sums become per-partition
    *     offsets; a final per-partition linear scan emits
    *     `__cum` = offset + in-partition running total (inclusive).
    *
    * The in-partition prefix scan is genuinely sequential per partition —
    * the documented `mapPartitions` tier (SURVEY.md §2.10 case d): no
    * declarative form expresses "scan my partition in its sort order"
    * without an exchange. Output rows append `__cum` (long) to the input
    * columns; ordering within partitions follows `order`, partitions are
    * range-split — a downstream aggregate or sort sees the usual
    * distributed layout, never one giant task. `valueCol` must be a long
    * column (token counts, byte sizes, row weights); NULL values add 0 to
    * the running total — the same treatment a running `SUM(v) OVER` window
    * gives them.
    *
    * SIZE-GATED (the Auto pattern shared with connectedComponentsAuto /
    * cellsRankedAuto / the keyedRowNumbers cardinality gate): inputs at or
    * under `maxSingleWindow` rows take the declarative single-partition
    * window — ONE job against the two-pass's three plus a checkpoint,
    * which at sub-cap volume is pure scheduling floor (x79 billed 4.9×
    * DuckDB at sf1 for exactly this). A ≤2²⁰-row slim frame sorts in one
    * task in well under a second; REAL volume keeps the two-pass, so no
    * single task ever sees the whole corpus. The route probe is one
    * bounded-count job ([[graft.engine.Actions.boundedCount]]) that
    * re-executes the input plan bounded per partition — callers with an
    * expensive input should localCheckpoint the slim projection first
    * (x79 does). `maxSingleWindow = 0` forces the two-pass (the
    * scale-proof specs and the route A/B test do). */
  def orderedRunningTotal(df: DataFrame, order: Seq[Column], valueCol: String,
                          parts: Int = 0,
                          maxSingleWindow: Long = MaxSingleWindowRows): DataFrame = {
    val spark = df.sparkSession
    // the partition scans below read the value via getLong — anything else
    // would ClassCastException deep inside an executor task, so check here
    require(df.schema(valueCol).dataType ==
        org.apache.spark.sql.types.LongType,
      s"orderedRunningTotal: value column '$valueCol' must be BIGINT, got " +
        s"${df.schema(valueCol).dataType.simpleString} — cast('bigint') first")
    if (maxSingleWindow > 0 &&
        graft.engine.Actions.boundedCount(df, maxSingleWindow).isDefined) {
      lastRunningTotalRoute = "window"
      // coalesce: a leading run of NULL values leaves the window sum NULL
      // where the two-pass emits 0 — pin the two routes to identical output
      return df.withColumn("__cum",
        coalesce(sum(col(valueCol)).over(
          org.apache.spark.sql.expressions.Window.orderBy(order: _*)),
          lit(0L)))
    }
    lastRunningTotalRoute = "two-pass"
    val p = if (parts > 0) parts else spark.sparkContext.defaultParallelism
    val sorted = df.repartitionByRange(p, order: _*)
      .sortWithinPartitions(order: _*)
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint(false) // materialized by the sums pass below
    val pidIdx = sorted.schema.fieldIndex("__pid")
    val vIdx = sorted.schema.fieldIndex(valueCol)
    val partSums: Array[(Int, Long)] = sorted
      .select(col("__pid"), col(valueCol)).rdd.mapPartitions { it =>
        var pid = -1; var s = 0L; var any = false
        it.foreach { r =>
          pid = r.getInt(0)
          if (!r.isNullAt(1)) s += r.getLong(1)
          any = true
        }
        if (any) Iterator((pid, s)) else Iterator.empty
      }.collect()
    val offsets = new Array[Long](p)
    var acc = 0L
    partSums.sortBy(_._1).foreach { case (pid, s) =>
      offsets(pid) = acc; acc += s
    }
    val bc = spark.sparkContext.broadcast(offsets)
    val outSchema = org.apache.spark.sql.types.StructType(
      sorted.schema.fields.filterNot(_.name == "__pid") :+
        org.apache.spark.sql.types.StructField("__cum",
          org.apache.spark.sql.types.LongType, nullable = false))
    val outRdd = sorted.rdd.mapPartitions { it =>
      var cum = 0L; var first = true
      it.map { r =>
        if (first) { cum = bc.value(r.getInt(pidIdx)); first = false }
        if (!r.isNullAt(vIdx)) cum += r.getLong(vIdx)
        org.apache.spark.sql.Row.fromSeq(
          r.toSeq.patch(pidIdx, Nil, 1) :+ cum)
      }
    }
    spark.createDataFrame(outRdd, outSchema)
  }

  /** Bucketized range join: pairs with equal keys and
    * `rightTs ∈ [leftTs + lowerUs, leftTs + upperUs]` (µs, inclusive).
    *
    * Spark plans a raw inequality join as a nested loop — quadratic. The
    * scale shape is time binning: bin width = window length, each LEFT row
    * lands in the (≤2, distinct) bins its window overlaps, the right side is
    * keyed by its single bin, and the join becomes an EQUI-join on
    * (keys, bin) with the exact interval predicate re-applied. Each side
    * shuffles once; each qualifying pair arises exactly once (the right
    * row's one bin is in the left row's distinct bin set at most once).
    *
    * Callers project/rename non-key payload columns beforehand so the two
    * sides don't collide (same contract as asOfJoin). */
  def rangeJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                leftTs: String, rightTs: String,
                lowerUs: Long, upperUs: Long): DataFrame = {
    require(upperUs >= lowerUs, s"range join window [$lowerUs, $upperUs] is empty")
    val width = upperUs - lowerUs + 1
    val l = left.withColumn("__lt", unix_micros(col(leftTs)))
      .withColumn("__bin", explode(array_distinct(array(
        expr(s"(__lt + ${lowerUs}L) div ${width}L"),
        expr(s"(__lt + ${upperUs}L) div ${width}L")))))
    val r = right.withColumn("__rt", unix_micros(col(rightTs)))
      .withColumn("__bin", expr(s"__rt div ${width}L"))
    l.join(r, keys :+ "__bin")
      .where(col("__rt").between(col("__lt") + lit(lowerUs),
        col("__lt") + lit(upperUs)))
      .drop("__lt", "__rt", "__bin")
  }

  /** As-of join: for every left row, the most recent right row with the same
    * keys and `rightTs <= leftTs` (ties count as prior). Emits the left
    * columns plus `asof_ts` (matched right timestamp, null when no prior row)
    * and any requested right payload columns.
    *
    * Spark has no ASOF JOIN operator; the naive formulation (range join +
    * per-left-row max) explodes quadratically. This composition is the
    * scalable pattern: tag both sides, union, ONE shuffle on the keys, then a
    * running `last(..., ignoreNulls)` window carries the latest right value
    * forward — O(n log n) per key group, no custom SparkPlan needed.
    *
    * Determinism: when several right rows share the same key and timestamp,
    * which payload wins is unspecified (`asof_ts` itself is still
    * deterministic) — give payload a deterministic tie-break upstream if
    * that matters.
    */
  def asOfJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               leftTs: String, rightTs: String,
               payload: Seq[(String, String)] = Seq.empty): DataFrame = {
    // null-ts right rows are unmatchable (rightTs <= leftTs is unknown) and
    // would otherwise sort nulls-first and leak payload into 'no prior row'
    // outputs
    val r2 = right.select(
      (keys.map(col) :+ col(rightTs).as("__t")) ++
        payload.map { case (c, o) => col(c).as(o) }: _*)
      .where(col("__t").isNotNull)
      .withColumn("__side", lit(0))
    val l2 = left.withColumn("__t", col(leftTs)).withColumn("__side", lit(1))
    val u = l2.unionByName(r2, allowMissingColumns = true)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__t").asc, col("__side").asc) // right sorts before left at equal ts
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // ONE struct per right row, carried as a unit: the matched row's payload
    // travels WITH its timestamp even when a payload field is NULL —
    // per-column last(..., ignoreNulls) would skip the null and resurrect a
    // STALE older payload next to the newer asof_ts
    val carry = struct(col("__t").as("asof_ts") +:
      payload.map { case (_, o) => col(o) }: _*)
    val packed = u.withColumn("__carry",
      last(when(col("__side") === 0, carry), ignoreNulls = true).over(w))
    val unpacked = (("asof_ts", "asof_ts") +: payload.map { case (_, o) => (o, o) })
      .foldLeft(packed) { case (df, (out, fld)) =>
        df.withColumn(out, col(s"__carry.$fld"))
      }
    unpacked.where(col("__side") === 1).drop("__t", "__side", "__carry")
  }
}
