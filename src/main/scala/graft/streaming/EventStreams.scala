package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming tier. The reference is strictly batch (SURVEY.md
  * §2.9) — its "late data" story is re-running a daily interval. This module
  * provides the streaming generalization of the same semantics:
  *
  *  - `readEventStream`: file-source stream of the events shape (new parquet
  *    files appearing under a directory = arriving micro-batches — exactly
  *    how a landing zone behaves at scale).
  *  - `windowedCounts`: event-time tumbling windows + watermark — the
  *    streaming analog of the reference's daily distinct-count partition.
  *  - `sessionize`: custom state via `flatMapGroupsWithState` (gap-based
  *    user sessions with event-time timeout).
  *  - `foreachBatchPipeline`: every batch transform in this engine is a pure
  *    `DataFrame => DataFrame`, so it can be replayed under `foreachBatch`
  *    unchanged — demonstrated in the spec with
  *    [[graft.pipeline.LaunchPipeline.launchEvents]].
  *
  * Scale posture: watermarks bound state; the windowed agg shuffles once on
  * (window, key) with partial aggregation map-side; sessionization shuffles
  * once on user_id and keeps one small state object per active user.
  */
object EventStreams {

  /** events.parquet physical schema (ts = naive TIMESTAMP(MICROS); the
    * session reads it as TIMESTAMP_LTZ at UTC — see GraftSession). */
  val rawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                         event_type: String, value: Double)

  final case class SessionState(start: Long, end: Long, n: Int, totalValue: Double)

  final case class Session(user_id: Long, session_start: Timestamp,
                           session_end: Timestamp, n_events: Int,
                           total_value: Double)

  /** File-source stream of events (new files under `dir` = micro-batches). */
  def readEventStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(rawSchema).parquet(dir)

  /** Tumbling event-time windows with a watermark: counts + value sum per
    * (window, event_type). */
  def windowedCounts(events: DataFrame, watermark: String = "1 hour",
                     windowLen: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Gap-based sessionization: a session closes when no event arrives for
    * `gapMinutes` of event time (enforced via event-time timeout against the
    * watermark). Emits one row per closed session. */
  def sessionize(events: Dataset[Event], gapMinutes: Int = 30,
                 watermark: String = "1 hour"): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60L * 1000L

    def update(userId: Long, batch: Iterator[Event],
               state: GroupState[SessionState]): Iterator[Session] = {
      def close(s: SessionState) = Session(userId,
        new Timestamp(s.start), new Timestamp(s.end), s.n, s.totalValue)

      if (state.hasTimedOut) {
        val out = state.getOption.map(close).iterator
        state.remove()
        out
      } else {
        val events = batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
        var closed = List.empty[Session]
        var cur = state.getOption
        events.foreach { e =>
          val t = e.ts.getTime
          cur match {
            case Some(s) if t - s.end <= gapMs =>
              // math.min on start: a late (but within-watermark) event can
              // PRECEDE the stored session start, and must extend the
              // interval backwards just as a fresh event extends it forward
              cur = Some(SessionState(math.min(s.start, t), math.max(s.end, t),
                s.n + 1, s.totalValue + e.value))
            case Some(s) =>
              closed ::= close(s)
              cur = Some(SessionState(t, t, 1, e.value))
            case None =>
              cur = Some(SessionState(t, t, 1, e.value))
          }
        }
        cur.foreach { s =>
          state.update(s)
          state.setTimeoutTimestamp(s.end + gapMs)
        }
        closed.reverseIterator
      }
    }

    events.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
  }

  /** Streaming exact dedup: drop duplicate event_ids across micro-batches,
    * with the watermark bounding the dedup state (ids older than the
    * watermark are evicted — the streaming form of E8 exact dedup). */
  def streamingDedup(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming NEAR-dup dedup for a document stream: drop any document whose
    * MinHash signature was already seen inside the watermark window. The
    * signature kernel runs per-row (no shuffle); state is keyed by the packed
    * 16-long signature — the streaming face of the batch signature-grouping
    * in [[graft.operators.Dedup.minhashNearDupPairs]] (identical signatures =
    * the est-1.0 near-dup class; token-free docs share the null signature,
    * so they also collapse to one representative — they are trivially
    * identical content). Watermark bounds the signature state exactly like
    * streamingDedup's id state. */
  def streamingNearDedup(docs: DataFrame, tsCol: String = "ts",
                         textCol: String = "text",
                         watermark: String = "1 hour"): DataFrame =
    docs.withColumn("__sig",
        graft.functions.TextHashFunctions.minhashSig(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__sig")
      .drop("__sig")

  /** Streaming passage dedup — the streaming face of the batch
    * [[graft.operators.Dedup.passageDedup]] (C4-style repeated-passage
    * removal): chunk extraction IS the batch operator's
    * (`Dedup.passageChunks` — one copy, so the chunk semantics cannot
    * drift), and a chunk passes through only the FIRST time its 16-byte
    * binary md5 digest is seen inside the watermark window; the watermark
    * evicts digest state exactly like [[streamingDedup]]'s id state.
    * Emits the surviving (ts, doc_id, off, chunk) rows: the deduplicated
    * passage stream a training pipeline appends to its corpus.
    *
    * Determinism contract (weaker than batch, same as
    * [[streamingNearDedup]]'s representative rule): ACROSS batches the
    * earlier-arriving chunk wins; among duplicates inside ONE micro-batch
    * exactly one representative survives, but which one is not pinned —
    * `dropDuplicatesWithinWatermark` keeps the first row a task sees. The
    * batch operator is the deterministic keep-first-(doc_id, off) form. */
  def streamingPassageDedup(docs: DataFrame, tsCol: String = "ts",
                            textCol: String = "text", chunkTokens: Int = 30,
                            watermark: String = "1 hour"): DataFrame =
    graft.operators.Dedup
      .passageChunks(docs, chunkTokens, textCol, carry = Seq(tsCol))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("h")
      .drop("h")

  /** Streaming winnowing fingerprint claims — the streaming face of the
    * batch [[graft.operators.Dedup.winnowingDedup]]'s claim step: each
    * document's winnowing fingerprint set (the ONE-PASS
    * [[graft.functions.WinnowSet]] kernel — the same expression as batch,
    * so the signature semantics cannot drift) is exploded and the stream
    * keeps the FIRST claim of every fingerprint inside the watermark
    * window. Emits the surviving (ts, doc_id, fp) claim rows — the
    * primitive a streaming curation pipeline aggregates per document
    * (claimed-fraction ≥ τ ⇒ near-dup, x89's rule) or appends to a
    * fingerprint store ([[graft.pipeline.IncrementalDedup.winnowBatch]]
    * is the batch-of-record form of that composition).
    *
    * Determinism contract: identical to [[streamingPassageDedup]] —
    * earlier-arriving claims win across batches; within one micro-batch
    * one representative survives unpinned. Short docs (< k+w−1 tokens)
    * contribute no fingerprints. */
  def streamingWinnowClaims(docs: DataFrame, tsCol: String = "ts",
                            textCol: String = "text", k: Int = 4, w: Int = 5,
                            watermark: String = "1 hour"): DataFrame =
    docs.select(col(tsCol), col("doc_id"),
        explode(graft.functions.TextHashFunctions.winnowSet(
          col(textCol), k, w)).as("fp"))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("fp")

  final case class SurvivorVec(ts: Timestamp, vec_id: Long, cell: Long)

  /** Streaming semantic dedup — the online face of the batch SemDeDup
    * (x83 / [[graft.operators.Dedup.semanticDedup]]), completing the
    * streaming tier's symmetry with the batch dedup story (exact ↔
    * [[streamingDedup]], MinHash ↔ [[streamingNearDedup]], passage ↔
    * [[streamingPassageDedup]], winnowing ↔ [[streamingWinnowClaims]],
    * semantic ↔ here): each arriving vector is assigned to its nearest
    * STATIC centroid per-row (the same broadcast
    * [[graft.functions.NearestCentroids]] kernel as batch — no join, no
    * shuffle beyond the cell grouping) and survives only if no
    * already-KEPT vector of its cell inside the watermark window reaches
    * `threshold` round-4 cosine with it. Centroids are a static input by
    * the same reasoning as [[streamingQualityGate]]'s thresholds: k-means
    * over an unbounded stream is not well-defined — train offline
    * ([[graft.operators.Similarity.kmeansCentroids]] on a corpus
    * snapshot), pin, refresh by restarting with new centroids (the
    * [[graft.pipeline.IncrementalDedup.semanticBatch]] pinning contract).
    *
    * State per cell is the kept vectors inside the watermark window —
    * bounded by watermark length × kept-rate, evicted by event time (a
    * full-state timeout clears a quiet cell). Determinism is STRONGER
    * than the dropDuplicates tiers: within a micro-batch candidates are
    * processed in (ts, vec_id) order, so the earliest (then lowest-id)
    * vector of a near-dup group wins — the batch keep-lowest-id rule with
    * arrival time prepended. Identical redelivery inside the window
    * self-claims at cosine 1.0 (NaN for zero-norm vectors counts as a
    * hit — the batch kernels' contract, same dotArr/round4 arithmetic).
    * Emits the surviving (ts, vec_id, cell) rows in append mode. */
  def streamingSemanticDedup(vecs: DataFrame, cents: DataFrame,
                             threshold: Double, tsCol: String = "ts",
                             idCol: String = "vec_id",
                             embCol: String = "embedding",
                             watermark: String = "1 hour"): Dataset[SurvivorVec] = {
    import graft.functions.VectorFunctions
    import graft.operators.{Dedup, Similarity}
    import org.apache.spark.sql.{GraftSqlBridge => B}
    val spark = vecs.sparkSession
    import spark.implicits._
    val rows = graft.engine.Actions.boundedRows(
        cents.select(col("cid"), VectorFunctions.asDouble(col("cv"))),
        Similarity.MaxBroadcastCentroids)
      .getOrElse(throw new IllegalStateException(
        s"streamingSemanticDedup: centroid table exceeds " +
          s"${Similarity.MaxBroadcastCentroids} rows; it rides a broadcast " +
          "by the SemDeDup k-growth contract — train fewer centroids or " +
          "shard the stream"))
    val sorted = rows.map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    val bc = spark.sparkContext.broadcast(
      (sorted.map(_._1), sorted.map(_._2)))
    val assigned = vecs
      .where(col(embCol).isNotNull)
      .select(col(tsCol).as("ts"), col(idCol).as("vec_id"),
        VectorFunctions.asDouble(col(embCol)).as("v"))
      .withColumn("cell", element_at(B.column(
        graft.functions.NearestCentroids(B.expression(col("v")), bc, 1)), 1))
      .withWatermark("ts", watermark)
      .as[(Timestamp, Long, Array[Double], Long)]

    def update(cell: Long, batch: Iterator[(Timestamp, Long, Array[Double], Long)],
               state: GroupState[Seq[(Long, Double, Array[Double])]])
        : Iterator[SurvivorVec] = {
      if (state.hasTimedOut) { state.remove(); Iterator.empty }
      else {
        val wm = state.getCurrentWatermarkMs()
        // evict kept vectors that fell out of the window — the same
        // event-time eviction dropDuplicatesWithinWatermark applies
        var kept = state.getOption.getOrElse(Seq.empty).filter(_._1 >= wm)
        val out = scala.collection.mutable.ArrayBuffer.empty[SurvivorVec]
        batch.toSeq.sortBy(r => (r._1.getTime, r._2)).foreach {
          case (ts, id, v, _) =>
            val nrm = math.sqrt(Dedup.dotArr(v, v))
            val hit = kept.exists { case (_, kn, kv) =>
              val cos = Dedup.round4(Dedup.dotArr(kv, v) / (kn * nrm))
              cos.isNaN || cos >= threshold
            }
            if (!hit) {
              kept = kept :+ ((ts.getTime, nrm, v))
              out += SurvivorVec(ts, id, cell)
            }
        }
        if (kept.isEmpty) state.remove()
        else {
          state.update(kept)
          // full-state timeout: fires once the watermark passes the
          // newest kept vector, when every entry is evictable anyway
          state.setTimeoutTimestamp(
            math.max(kept.map(_._1).max, wm) + 1)
        }
        out.iterator
      }
    }

    assigned.groupByKey(_._4)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(update)
  }

  /** Streaming quality gate — the online face of the batch
    * [[graft.functions.TextAnalysis.qualityGate]] (x96), completing the
    * curation seam the dedup tier already has: score each arriving
    * document with the ONE-PASS LangStats kernel (per-row, no shuffle, no
    * state) and keep documents at or above their source's quality
    * threshold.
    *
    * Thresholds are an input, not computed here, and that is the
    * semantics, not a shortcut: a per-source PERCENTILE over an unbounded
    * stream is not well-defined (the population keeps growing), so the
    * production pattern is thresholds computed OFFLINE on a reference
    * corpus — [[graft.functions.TextAnalysis.discreteThreshold]] on the
    * last batch snapshot — and applied as fixed values online, refreshed
    * by restarting the query with the next snapshot's thresholds. The
    * (source, thr) frame is a static table in a stream-static broadcast
    * join (tiny by the bounded-sources contract).
    *
    * Documents from sources ABSENT from the threshold table pass with
    * `defaultThr` (default −∞ = collect-and-tag; a stricter pipeline
    * passes `Double.MaxValue` to quarantine unknown sources). Token-free
    * docs carry no quality signal and are dropped, matching the batch
    * gate's n_tokens > 0 population. Emits the input columns plus
    * `quality` — the downstream corpus append usually wants it. */
  def streamingQualityGate(docs: DataFrame, thresholds: DataFrame,
                           textCol: String = "text",
                           defaultThr: Double = Double.NegativeInfinity): DataFrame = {
    import graft.functions.{TextAnalysis, TextHashFunctions}
    val scored = docs
      .withColumn("__st", TextHashFunctions.langStats(col(textCol)))
      .withColumn("__n_tokens",
        element_at(col("__st"), TextAnalysis.profiles.length + 1).cast("int"))
      .withColumn("__en_hits", element_at(col("__st"), 1).cast("int"))
      .where(col("__n_tokens") > 0)
      .withColumn("quality",
        expr(TextAnalysis.qualityScore("__n_tokens", "__en_hits")))
      .drop("__st", "__n_tokens", "__en_hits")
    scored
      .join(broadcast(thresholds.select(col("source"), col("thr"))),
        Seq("source"), "left")
      .where(col("quality") >= coalesce(col("thr"), lit(defaultThr)))
      .drop("thr")
  }

  /** Streaming decontamination prefilter — the online face of x102 /
    * [[graft.operators.Dedup.contaminationCounts]]: annotate each arriving
    * document with how many of its 3-gram shingles hit the PINNED
    * benchmark bloom ([[graft.operators.Dedup.evalShingleBloom]] over the
    * static eval suite, carried as a broadcast variable by
    * [[graft.operators.Dedup.bloomProbe]] — built once at query start,
    * refreshed by restarting with the next suite snapshot, the
    * streamingQualityGate threshold contract). Per-row kernel + array HOF,
    * no shuffle, no state — nothing for a watermark to bound.
    *
    * The asymmetry IS the production contract: the bloom has no false
    * negatives, so `n_suspect_shingles` ≥ the doc's true shared-shingle
    * count — a `< minShared` cut is EXACTLY the clean stream (safe to
    * ingest with no further work), while the flagged residue (true hits +
    * ~5e-4 fpp) is result-sized and routes to the offline exact verify
    * (x102's join stage). No row-local operator can do better: exact
    * online membership would stream the whole eval shingle set past every
    * row. An empty eval suite flags nothing — the probe of a NULL sketch
    * is NULL, which the HOF filter drops, so every count is 0. */
  def streamingContaminationFlags(docs: DataFrame, evalDocs: DataFrame,
                                  expectedEvalShingles: Long,
                                  textCol: String = "text"): DataFrame = {
    // mirror contaminationCounts' routing gate (ADVICE r10): past the conf
    // cap the bit budget clamps and the sketch saturates (fpp → 1), so the
    // prefilter would silently flag nearly EVERYTHING instead of routing to
    // an exact/sharded path. The batch operator routes exact; streaming has
    // no exact route (the train side is unbounded), so over-cap estimates
    // fail loudly here — callers shard the sketch by shingle range instead.
    require(expectedEvalShingles <= graft.operators.Dedup.MaxBloomItems,
      s"expectedEvalShingles=$expectedEvalShingles exceeds " +
        s"MaxBloomItems=${graft.operators.Dedup.MaxBloomItems}: the capped " +
        "sketch would saturate; shard the eval suite by shingle range")
    val probe = graft.operators.Dedup.bloomProbe(docs.sparkSession,
      graft.operators.Dedup.evalShingleBloom(evalDocs, expectedEvalShingles, textCol))
    docs.withColumn("n_suspect_shingles",
      size(filter(
        graft.functions.TextHashFunctions.shingleSet(col(textCol)),
        probe)).cast("bigint"))
  }

  final case class ScoredDoc(source: String, doc_id: Long, quality: Double)

  final case class Exemplars(source: String, doc_ids: Seq[Long],
                             qualities: Seq[Double])

  /** Streaming bounded top-k exemplars per source — the online face of
    * x101 / [[graft.operators.Relational.largestK]]: each micro-batch
    * re-emits, for every source that received documents, its current k
    * best (quality DESC, doc_id ASC) documents seen SO FAR. State per
    * source is exactly the k kept (quality, doc_id) pairs — bounded by
    * construction, which is why this uses NoTimeout rather than a
    * watermark: there is nothing growing to evict (the same reason the
    * batch aggregate's heap is scale-safe). Each batch's candidates merge
    * with the stored pairs under the identical (quality, −doc_id) order
    * the batch aggregate uses, deduplicated by doc_id first (keeping the
    * max-quality occurrence) — so an at-least-once redelivery merges
    * idempotently instead of occupying two of the k slots, EVEN when the
    * redelivered document's text (hence quality) changed upstream. One
    * bounded-state caveat is inherent: a doc_id evicted from the k slots
    * cannot re-enter at its old quality if later entries are removed —
    * the price of O(k) state, shared by any streaming top-k. Update
    * output mode (the result row REPLACES the source's previous row
    * downstream). */
  def streamingTopExemplars(docs: DataFrame, k: Int = 3,
                            textCol: String = "text"): Dataset[Exemplars] = {
    import graft.functions.{TextAnalysis, TextHashFunctions}
    val spark = docs.sparkSession
    import spark.implicits._
    require(k > 0, s"k must be positive, got $k")
    val scored = docs
      .withColumn("__st", TextHashFunctions.langStats(col(textCol)))
      .withColumn("__n",
        element_at(col("__st"), TextAnalysis.profiles.length + 1).cast("int"))
      .withColumn("__en", element_at(col("__st"), 1).cast("int"))
      .where(col("__n") > 0)
      .select(col("source"), col("doc_id"),
        expr(TextAnalysis.qualityScore("__n", "__en")).as("quality"))
      .as[ScoredDoc]
    def better(a: (Double, Long), b: (Double, Long)): Boolean =
      a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)
    scored.groupByKey(_.source)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (source: String, batch: Iterator[ScoredDoc],
         state: GroupState[Seq[(Double, Long)]]) =>
          // doc_id-keyed dedup BEFORE the k-cut: a redelivered doc whose
          // quality changed would otherwise survive .distinct as two
          // pairs and burn two of the k slots
          val merged = (state.getOption.getOrElse(Seq.empty) ++
              batch.map(d => (d.quality, d.doc_id)))
            .groupBy(_._2).valuesIterator
            .map(_.reduce((a, b) => if (better(a, b)) a else b))
            .toSeq.sortWith(better).take(k)
          state.update(merged)
          Exemplars(source, merged.map(_._2), merged.map(_._1))
      }
  }

  final case class CuratedDoc(ts: Timestamp, doc_id: Long, source: String,
                              text: String, quality: Double)

  private[streaming] final case class CurationState(
      kept: Long, digests: Map[String, Long])

  /** Streaming curation — the ONLINE face of
    * [[graft.pipeline.IncrementalCuration.curateBatch]] (and of x100),
    * completing the composite's three execution modes: exact content
    * dedup → offline-threshold quality gate → per-source lifetime cap,
    * over a document stream.
    *
    * One stateful operator, not three: chaining
    * `dropDuplicatesWithinWatermark` into `flatMapGroupsWithState` would
    * be two arbitrary stateful operators in one query (unsupported
    * pattern), so the composite keys ONE `flatMapGroupsWithState` by
    * source and carries both pieces of state per source: the LIFETIME
    * kept-count (one long — never evicted, the stream form of the batch
    * composite's persistent kept-counts) and the md5 claims of content
    * seen within the watermark window (event-time evicted exactly like
    * [[streamingDedup]]'s id state; a re-sighted digest refreshes its
    * claim timestamp, so hot boilerplate stays claimed while it keeps
    * arriving). Dedup scope is therefore per-source in the stream form —
    * cross-SOURCE exact dups are rare by construction (same text, two
    * sources) and the batch composite's global digest history catches
    * them offline; run [[streamingNearDedup]] upstream if they matter
    * online.
    *
    * Stage semantics mirror the batch composite exactly: a first-seen
    * document claims its digest whether or not it passes the gate (stage
    * 1 before stage 2 — a duplicate never re-enters because its original
    * was gated out); token-free docs carry null quality and are gated
    * (their digest still claims); unknown sources pass at `defaultThr`;
    * the cap admits gated survivors in (event-time, doc_id) order — the
    * online arrival-order analogue of the batch Knuth draw — while
    * kept < capPerSource. Within one micro-batch the group's docs are
    * buffered and sorted for that determinism (the sessionize caveat:
    * micro-batch sizing bounds the buffer). At-least-once redelivery
    * inside the watermark window self-dedups via the digest claim, so a
    * redelivered doc cannot consume a second cap slot. Scoring arithmetic
    * is [[streamingQualityGate]]'s, per-row and stateless. */
  def streamingCuration(docs: DataFrame, thresholds: DataFrame,
                        capPerSource: Int,
                        tsCol: String = "ts", textCol: String = "text",
                        defaultThr: Double = Double.NegativeInfinity,
                        watermark: String = "1 hour"): Dataset[CuratedDoc] = {
    import graft.functions.{TextAnalysis, TextHashFunctions}
    require(capPerSource > 0,
      s"capPerSource must be positive, got $capPerSource")
    val spark = docs.sparkSession
    import spark.implicits._
    val prepped = docs
      .withColumn("__st", TextHashFunctions.langStats(col(textCol)))
      .withColumn("__n",
        element_at(col("__st"), TextAnalysis.profiles.length + 1).cast("int"))
      .withColumn("__en", element_at(col("__st"), 1).cast("int"))
      .withColumn("__q", when(col("__n") > 0,
        expr(TextAnalysis.qualityScore("__n", "__en"))))
      .join(broadcast(thresholds.select(col("source"), col("thr"))),
        Seq("source"), "left")
      .select(col(tsCol).as("ts"), col("doc_id"), col("source"),
        col(textCol).as("text"), md5(col(textCol)).as("dig"), col("__q"),
        (col("__q").isNotNull &&
          col("__q") >= coalesce(col("thr"), lit(defaultThr))).as("pass"))
      .withWatermark("ts", watermark)
      .as[(Timestamp, Long, String, String, String, Option[Double], Boolean)]

    def update(source: String,
               batch: Iterator[(Timestamp, Long, String, String, String,
                 Option[Double], Boolean)],
               state: GroupState[CurationState]): Iterator[CuratedDoc] = {
      val wm = state.getCurrentWatermarkMs()
      val st = state.getOption.getOrElse(CurationState(0L, Map.empty))
      var kept = st.kept
      var digests = st.digests.filter(_._2 >= wm) // event-time eviction
      val out = scala.collection.mutable.ArrayBuffer.empty[CuratedDoc]
      batch.toSeq.sortBy(d => (d._1.getTime, d._2)).foreach {
        case (ts, id, _, text, dig, q, pass) =>
          val seen = digests.contains(dig)
          // claim (or refresh) regardless of the gate — stage order
          digests = digests.updated(dig,
            math.max(ts.getTime, digests.getOrElse(dig, Long.MinValue)))
          if (!seen && pass && kept < capPerSource) {
            kept += 1
            out += CuratedDoc(ts, id, source, text, q.get)
          }
      }
      state.update(CurationState(kept, digests))
      out.iterator
    }

    prepped.groupByKey(_._3)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(update)
  }

  /** Watermarked stream-stream interval join — the streaming face of the
    * batch range join (x50 / [[graft.operators.Relational.rangeJoin]]):
    * each purchase joined to the same user's error events from the
    * preceding `windowMinutes` of EVENT time.
    *
    * Both sides carry a watermark and the join condition bounds the
    * event-time distance, so Spark derives a state-eviction bound for BOTH
    * buffers (unbounded stream-stream joins otherwise keep all history —
    * the state-blowup failure mode at scale). Column prefixes keep the two
    * sides' schemas disjoint, the same contract as the batch rangeJoin.
    *
    * `joinType = "left_outer"` additionally emits an unmatched left row
    * (null r_* side) once the watermark passes the end of its interval —
    * i.e. once no matching right row can still arrive. Inner (default) and
    * left-outer are both append-mode compatible. */
  def streamingIntervalJoin(left: DataFrame, right: DataFrame,
                            key: String = "user_id",
                            windowMinutes: Int = 60,
                            watermark: String = "1 hour",
                            joinType: String = "inner"): DataFrame = {
    val l = left.select(col("event_id").as("l_event_id"),
        col(key).as("l_key"), col("ts").as("l_ts"))
      .withWatermark("l_ts", watermark)
    val r = right.select(col(key).as("r_key"), col("ts").as("r_ts"))
      .withWatermark("r_ts", watermark)
    l.join(r,
      col("l_key") === col("r_key") &&
        col("r_ts") >= col("l_ts") - expr(s"INTERVAL $windowMinutes MINUTES") &&
        col("r_ts") <= col("l_ts"),
      joinType)
  }

  /** Run any pure batch transform as a streaming sink stage. */
  def foreachBatchPipeline(stream: DataFrame, transform: DataFrame => DataFrame,
                           outDir: String, checkpoint: String) =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        transform(batch).write.mode("append").parquet(outDir)
      }

  /** CDC-style streaming upsert sink: every micro-batch is MERGE'd into the
    * hive-partitioned parquet table at `path` by `key` via
    * [[graft.pipeline.Merge.upsertByKey]]. The row with the highest `seqCol`
    * per key wins — both WITHIN a batch (dedup before the merge) and ACROSS
    * batches (each incoming key is checked against the STORED row's seqCol;
    * a late redelivery with an older sequence is dropped, so at-least-once
    * upstream delivery can never regress a key). On disk only the
    * partitions present in the batch are rewritten.
    *
    * Idempotence across retries: a replayed micro-batch re-merges the same
    * keys to the same values (upsert, not append), so the sink tolerates
    * Structured Streaming's at-least-once foreachBatch contract. The first
    * batch creates the table. Keys never seen again are left untouched —
    * this is an upsert sink, not a full-snapshot sink. The partition value
    * is treated as part of row identity (Merge's partition-stable-keys
    * contract): route a CDC feed whose partition attribute can change
    * through `Merge.upsertByKey(partitionStableKeys = false)` instead. */
  def upsertSink(stream: DataFrame, path: String, key: String,
                 partitionCol: String, seqCol: String, checkpoint: String) =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val latest = graft.operators.Relational
          .dedupKeepLatest(batch, Seq(key), Seq(col(seqCol).desc))
        val fs = org.apache.hadoop.fs.FileSystem.get(
          new java.net.URI(path), spark.sessionState.newHadoopConf())
        val p = new org.apache.hadoop.fs.Path(path)
        // "table exists" = some non-hidden entry: a crashed first write can
        // leave only _temporary behind, which must count as FIRST batch (a
        // parquet read of it would fail un-retryably, wedging the sink)
        val tableExists = fs.exists(p) && fs.listStatus(p).exists { s =>
          val n = s.getPath.getName
          !n.startsWith("_") && !n.startsWith(".")
        }
        if (!tableExists)
          latest.write.mode("overwrite").partitionBy(partitionCol).parquet(path)
        else {
          // cross-batch monotonicity guard: keep an incoming row only when
          // its sequence beats the stored row's (pruned to the batch's
          // partitions — stable-keys contract puts the stored row there).
          // Null-aware predicate: isin(null) is never true, so the null
          // partition (__HIVE_DEFAULT_PARTITION__) needs its own isNull arm
          // or its stored rows never reach the guard and an older redelivery
          // would overwrite the newer stored row.
          val batchParts = latest.select(partitionCol).distinct()
            .collect().map(_.get(0)).toSeq
          val stored = spark.read.parquet(path)
            .where(graft.pipeline.Merge.partitionPredicate(
              col(partitionCol), batchParts))
            .select(col(key).as("__k"), col(seqCol).as("__stored_seq"))
          val cols = latest.columns
          // null-SAFE key equality: a null key is a legal key value here; a
          // plain === join would never match it against its stored row, so
          // an older redelivery of a null-key row would bypass the guard
          // (and Merge's anti-join, fixed the same way, would duplicate it)
          val guarded = latest.join(
              stored, latest(key) <=> col("__k"), "left")
            .where(col("__stored_seq").isNull ||
              col(seqCol) > col("__stored_seq"))
            .select(cols.map(latest(_)): _*)
          graft.pipeline.Merge.upsertByKey(
            spark, path, guarded, key, partitionCol)
        }
        ()
      }
}
