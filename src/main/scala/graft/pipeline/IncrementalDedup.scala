package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.engine.Materialize
import graft.operators.Dedup

/** Incremental exact dedup across ingest batches — the production shape of
  * x17's one-shot exact dedup: each new batch is deduplicated WITHIN itself
  * (keep lowest doc_id per content digest) and AGAINST every earlier batch,
  * via a persistent digest table — the corpus itself is never re-read.
  *
  * Scale shape: everything shuffles 16-byte binary md5 digests, never text
  * (x85's discipline). The history read is a single-column scan of the
  * OTHER batches' partitions (the current batch's partition is pruned out
  * by the partition filter); the cross-batch check is a digest⋈digest
  * left-anti join (shuffled equi join — at web scale the history side
  * dwarfs the batch, exactly the asymmetry AQE's runtime broadcast handles
  * while a small history still fits).
  *
  * Every tier keeps its state in a [[BatchHistory]] table and so shares
  * its retry contract: a redelivered batch returns its original survivor
  * set.
  *
  * Near-duplicates across batches compose the same way with the signature
  * operators in [[graft.operators.Dedup]] — persist minhash/simhash
  * signatures instead of digests. */
object IncrementalDedup {

  /** `claimed ≥ total × dupFrac` as an EXACT predicate: dupFrac read as
    * the decimal the caller typed (Scala's BigDecimal(Double) is the
    * shortest-decimal valueOf, so 0.8 is exactly 8/10, never the binary
    * 0.8000…0444), then cross-multiplied in integers — `claimed × 10^s ≥
    * total × num`. A doc sitting exactly on the boundary (claimed/total
    * == dupFrac as a rational) otherwise flips on the IEEE rounding of
    * `total * dupFrac`. Falls back to the double product only for a
    * dupFrac needing > 6 decimal digits (where the caller's own literal
    * was already binary-rounded and no exact rational intent exists);
    * the 10^6 scale bounds the cross-products well under Long overflow
    * for any per-doc chunk/fingerprint count. */
  private def claimedAtLeast(claimed: Column, total: Column,
                             dupFrac: Double): Column = {
    val bd = BigDecimal(dupFrac)
    if (bd.scale >= 0 && bd.scale <= 6) {
      val den = BigDecimal(10).pow(bd.scale).toLongExact
      val num = (bd * den).toLongExact
      claimed * lit(den) >= total * lit(num)
    } else claimed >= total * dupFrac
  }

  /** Dedup `batch` (tagged `batchId`) within itself and against every
    * OTHER batch recorded under `historyPath`, record the survivors'
    * digests as the batch's [[BatchHistory]] record, and return the
    * surviving rows (all input columns). */
  def dedupBatch(batch: DataFrame, historyPath: String, batchId: String,
                 idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    val digests = batch.select(col(idCol),
      unhex(md5(col(textCol))).as("dig"))
    // within-batch keep-first: one digest-keyed aggregate (no window sort)
    val fresh = digests.groupBy("dig").agg(min(idCol).as(idCol))
      .join(BatchHistory.history(batch.sparkSession, historyPath, "dig BINARY",
        batchId), Seq("dig"), "left_anti")
    // the fresh set is consumed twice (digest write + survivor join);
    // checkpoint so the dedup joins run once (x20's trick, slim rows only)
    val pinned = Materialize(fresh)
    BatchHistory.record(pinned.select("dig"), historyPath, batchId)
    batch.join(pinned.select(idCol), Seq(idCol), "left_semi")
  }

  /** NEAR-dup variant of [[dedupBatch]]: the persistent state is distinct
    * MinHash signatures instead of digests. A batch doc is dropped when its
    * estimated Jaccard (signature agreement / 16, [[Dedup]]'s estimator)
    * reaches `minEstJaccard` against (a) any LOWER-id doc of its own batch
    * — the greedy keep-lowest rule of [[Dedup.semanticDedup]] — or (b) any
    * signature recorded by an earlier batch. Survivor signatures are the
    * batch's [[BatchHistory]] record.
    *
    * Scale shape: candidates come from an LSH band-key equi-join (batch
    * bands ⋈ history bands, shuffled on (band, key) like x18), verified in
    * the join condition — a LEFT SEMI join, so no pair set materializes and
    * no distinct pass runs over pairs; the dropped-id set is bounded by the
    * batch. History stores one row per DISTINCT signature (dup-heavy
    * corpora compress massively); band keys are recomputed on read — four
    * xxhash64 over 16 longs, noise next to the scan itself.
    *
    * Semantics notes: greedy dedup drops a doc near an already-DROPPED doc
    * only if it is also near some survivor (standard greedy transitivity;
    * x60's cluster formation is the exhaustive alternative). Token-free
    * docs carry no signature and always survive — route them through
    * [[dedupBatch]] if exact-empty dedup matters. */
  def nearDupBatch(batch: DataFrame, historyPath: String, batchId: String,
                   minEstJaccard: Double = 0.9,
                   idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    // raw-text token gate, not where(sig.isNotNull): the latter pushes a
    // signature-kernel-bearing predicate below the Project and runs the
    // kernel twice per doc (r16; see Dedup.minhashNearDupPairs)
    val sigs = batch.where(col(textCol).rlike("[^ ]"))
      .select(col(idCol),
        graft.functions.TextHashFunctions.minhashSig(col(textCol)).as("sig"))
    // (a) within-batch: every qualifying (a < b) pair drops b
    val droppedWithin = Dedup.minhashNearDupPairs(
        batch.select(col(idCol).as("doc_id"), col(textCol)), minEstJaccard,
        textCol)
      .select(col("b").as(idCol))
    // (b) cross-batch: semi-join against earlier batches' signatures with
    // the verification in the join condition
    val hist = BatchHistory.history(batch.sparkSession, historyPath,
        "sig ARRAY<BIGINT>", batchId)
      .select(col("sig").as("sig_h"))
    val bandRows = explodeBands(sigs, col("sig"))
    val histRows = explodeBands(hist, col("sig_h"))
      .select(col("band"), col("bkey"), col("sig_h"))
    import org.apache.spark.sql.{GraftSqlBridge => B}
    val agree = B.column(graft.functions.ArrayEqCount(
      B.expression(col("sig")), B.expression(col("sig_h"))))
    val droppedCross = bandRows.join(histRows,
        bandRows("band") === histRows("band") &&
          bandRows("bkey") === histRows("bkey") &&
          round(agree / lit(16.0), 4) >= minEstJaccard,
        "left_semi")
      .select(col(idCol))
    val dropped = droppedWithin.union(droppedCross).distinct()
    val survivors = sigs.join(dropped, Seq(idCol), "left_anti")
    BatchHistory.record(Materialize(survivors.select("sig").distinct()),
      historyPath, batchId)
    batch.join(dropped, Seq(idCol), "left_anti")
  }

  /** WINNOWING variant of [[dedupBatch]]: the persistent state is the
    * distinct winnowing fingerprints ([[graft.functions.WinnowSet]],
    * Schleimer et al. SIGMOD'03) of every surviving document. A batch doc
    * is dropped when ≥ `dupFrac` of its fingerprints are already claimed —
    * by a LOWER-id doc of its own batch (x85's per-fingerprint keep-first
    * rule) or by any earlier batch. Catches copies-with-local-edits that
    * exact digests miss, with bounded per-doc state (expected fingerprint
    * density 2/(w+1) per token) instead of [[nearDupBatch]]'s fixed
    * 16-hash global sketch — winnowing localizes, so a doc that pastes
    * half of an old document still saturates that half's fingerprints.
    *
    * Scale shape: only (fp: BIGINT, doc_id) pairs shuffle; the history
    * read is a single-column scan of the other batches' partitions; the
    * claim check is one left join + x85's keep-first window; survivors'
    * distinct fingerprints are the batch's [[BatchHistory]] record.
    *
    * Semantics notes: greedy like [[nearDupBatch]] — fingerprints of a
    * doc DROPPED this batch still claim (the doc that claimed them was
    * itself kept or dropped by the same deterministic rule; exhaustive
    * cluster formation is x60's job). Docs with fewer than k+w−1 tokens
    * carry no fingerprints and always survive — route them through
    * [[dedupBatch]] if exact-short-dup matters. */
  def winnowBatch(batch: DataFrame, historyPath: String, batchId: String,
                  k: Int = 4, w: Int = 5, dupFrac: Double = 0.8,
                  idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    require(dupFrac > 0 && dupFrac <= 1, s"dupFrac must be in (0,1], got $dupFrac")
    // the fingerprint table feeds the claim check AND the state write —
    // checkpoint so the kernel scan runs once (slim (id, fp) rows only)
    val fps = Materialize(batch.select(col(idCol),
        explode(graft.functions.TextHashFunctions.winnowSet(
          col(textCol), k, w)).as("fp")))
    val hist = BatchHistory.history(batch.sparkSession, historyPath, "fp LONG",
        batchId)
      .distinct().withColumn("__h", lit(1))
    import org.apache.spark.sql.expressions.Window
    val win = Window.partitionBy("fp").orderBy(idCol)
    val dropped = fps
      .join(hist, Seq("fp"), "left")
      .withColumn("rn", row_number().over(win))
      .withColumn("claimed",
        (col("rn") > 1) || col("__h").isNotNull)
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_fp"),
        sum(when(col("claimed"), 1L).otherwise(0L)).as("n_cl"))
      .where(claimedAtLeast(col("n_cl"), col("n_fp"), dupFrac))
      .select(idCol)
    BatchHistory.record(Materialize(fps.join(dropped, Seq(idCol), "left_anti")
      .select("fp").distinct()), historyPath, batchId)
    batch.join(dropped, Seq(idCol), "left_anti")
  }

  /** PASSAGE variant of [[winnowBatch]], completing the cross-batch tier's
    * symmetry with the one-shot operators (exact ↔ [[dedupBatch]], MinHash
    * ↔ [[nearDupBatch]], winnowing ↔ [[winnowBatch]], passage ↔ here): the
    * persistent state is the distinct md5 digests of surviving documents'
    * non-overlapping `chunkTokens`-token passages ([[Dedup.passageChunks]] —
    * ONE chunking implementation shared with the batch report and the
    * streaming claim stream, so semantics cannot drift). A batch doc is
    * dropped when ≥ `dupFrac` of its chunks are CLAIMED — repeated from an
    * earlier batch, or repeating an earlier (doc_id, off) chunk of its own
    * batch (copies-with-boilerplate across ingest days, the C4 case).
    *
    * Scale shape — x85's round-6 discipline, not a per-digest window:
    * keep-first is one min-of-(doc_id, off)-struct aggregate per digest
    * (partial-agg, nothing sorts, hot boilerplate passages collapse
    * map-side); a doc's claimed count is recovered WITHOUT joining chunks
    * back — claimed(doc) = n_chunks(doc) − #digests first-claimed by doc
    * that are also ABSENT from history — and n_chunks is closed-form from
    * the TokenCount kernel. Only 16-byte digests + slim id pairs shuffle.
    * The surviving docs' distinct chunk digests are the batch's
    * [[BatchHistory]] record. */
  def passageBatch(batch: DataFrame, historyPath: String, batchId: String,
                   chunkTokens: Int = 30, dupFrac: Double = 0.8,
                   idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    require(dupFrac > 0 && dupFrac <= 1,
      s"dupFrac must be in (0,1], got $dupFrac")
    // slim (id, off, digest) rows feed the claim check AND the state
    // write — checkpoint so the tokenize+md5 chunk pass runs once
    val chunks = Materialize(Dedup.passageChunks(
        batch.select(col(idCol), col(textCol)), chunkTokens, textCol)
      .select(col(idCol), col("off"), col("h")))
    val hist = BatchHistory.history(batch.sparkSession, historyPath, "h BINARY",
      batchId).distinct()
    // per-digest keep-first (min struct), minus digests an earlier batch
    // already claimed → each doc's count of FRESH first-claims
    val freshFirsts = chunks
      .groupBy("h").agg(min(struct(col(idCol), col("off"))).as("f"))
      .join(hist, Seq("h"), "left_anti")
      .groupBy(col(s"f.$idCol").as(idCol))
      .agg(count(lit(1)).as("__n_fresh"))
    val perDoc = batch.select(col(idCol),
        graft.functions.TextHashFunctions.tokenCount(col(textCol)).as("__n"))
      .where(col("__n") > 0)
      .select(col(idCol), expr(
        s"CAST((__n + ${chunkTokens - 1}) div $chunkTokens AS BIGINT)")
        .as("__n_chunks"))
    val dropped = perDoc
      .join(freshFirsts, Seq(idCol), "left")
      .where(claimedAtLeast(
        col("__n_chunks") - coalesce(col("__n_fresh"), lit(0L)),
        col("__n_chunks"), dupFrac))
      .select(idCol)
    BatchHistory.record(Materialize(chunks.join(dropped, Seq(idCol), "left_anti")
      .select("h").distinct()), historyPath, batchId)
    batch.join(dropped, Seq(idCol), "left_anti")
  }

  /** SEMANTIC variant of [[dedupBatch]], completing the cross-batch tier's
    * symmetry with the one-shot operators (exact ↔ [[dedupBatch]], MinHash
    * ↔ [[nearDupBatch]], winnowing ↔ [[winnowBatch]], passage ↔
    * [[passageBatch]], SemDeDup x83 ↔ here): the persistent state is the
    * surviving vectors themselves — (vec_id, v, cell), hive-partitioned by
    * batch — because semantic claims need the actual embedding, not a
    * digest. A batch vector is dropped when its round-4 cosine with any
    * KEPT vector of an earlier batch in its cell, or any lower-id vector
    * of its own batch in its cell, reaches `threshold`
    * ([[Dedup.semanticClaimedIds]] — history outranks batch, batch is
    * keep-lowest-id, greedy like every incremental tier).
    *
    * The cell space is PINNED at bootstrap: the first call persists
    * `cents` under `historyPath/centroids`, and every later call loads
    * the persisted table and IGNORES its `cents` argument — retrained
    * centroids would reassign cells and silently break cross-batch claims
    * (the SemDeDup contract compares within a fixed cell space; re-pin by
    * starting a new history path). `threshold` is the caller's contract
    * to keep stable, as with `dupFrac` in the text tiers.
    *
    * Scale shape: x83's discipline end to end — cell assignment is the
    * size-gated NearestCentroids kernel/window route, the claim check
    * routes per-cell kernel vs salted join on the shared dimension-aware
    * gate, and only the slim (vec_id, v, cell) rows of SURVIVORS are
    * persisted (the state grows with the kept corpus, the minimum any
    * semantic claim can carry) as the batch's [[BatchHistory]] record
    * under `historyPath/vectors`; a redelivered batch claims against the
    * original pinned centroids. Null-embedding rows carry no semantic
    * signal and PASS THROUGH unpersisted (the token-free-doc treatment in
    * the text tiers); vec_ids must be globally unique across batches (the
    * same doc_id contract as every other tier). */
  def semanticBatch(batch: DataFrame, historyPath: String, batchId: String,
                    cents: DataFrame, threshold: Double,
                    idCol: String = "vec_id",
                    embCol: String = "embedding"): DataFrame = {
    val spark = batch.sparkSession
    val centPath = s"$historyPath/centroids"
    val vecPath = s"$historyPath/vectors"
    val pinnedCents =
      if (new Path(centPath).getFileSystem(spark.sessionState.newHadoopConf())
          .exists(new Path(centPath))) spark.read.parquet(centPath)
      else {
        // double-cast ONCE at pin time so every batch assigns against
        // bit-identical centroid doubles
        cents.select(col("cid"),
            graft.functions.VectorFunctions.asDouble(col("cv")).as("cv"))
          .write.mode("overwrite").parquet(centPath)
        spark.read.parquet(centPath)
      }
    // slim (cell, vec_id, v) rows feed the route probe, the claim check
    // AND the state write — checkpoint so assignment runs once
    val assigned = Materialize(graft.operators.Similarity.cellsRankedAuto(
        batch.select(col(idCol).as("vec_id"), col(embCol).as("embedding")),
        pinnedCents, 1)
      .select(col("vec_id"),
        graft.functions.VectorFunctions.asDouble(col("embedding")).as("v"),
        col("cid").as("cell")))
    val hist = BatchHistory.history(spark, vecPath,
        "vec_id LONG, v ARRAY<DOUBLE>, cell LONG", batchId)
      .select(col("cell"), lit(0).as("tag"), col("vec_id"), col("v"))
    val cells = hist.unionByName(assigned
      .select(col("cell"), lit(1).as("tag"), col("vec_id"), col("v")))
    val dropped = Dedup.semanticClaimedIds(cells, threshold)
    BatchHistory.record(
      Materialize(assigned.join(dropped, Seq("vec_id"), "left_anti")),
      vecPath, batchId)
    batch.join(dropped.withColumnRenamed("vec_id", idCol),
      Seq(idCol), "left_anti")
  }

  /** One row per (doc row, band): the [[Dedup.bandKeyCols]] keys exploded
    * alongside the carried columns. */
  private def explodeBands(df: DataFrame, sigCol: Column): DataFrame = {
    val withKeys = df.select(col("*") +: Dedup.bandKeyCols(sigCol): _*)
    withKeys.select(col("*"),
        explode(array((0 until Dedup.Bands).map(b =>
          struct(lit(b).as("band"), col(s"k$b").as("bkey"))): _*)).as("bk"))
      .select((df.columns.map(col) :+
        col("bk.band").as("band") :+ col("bk.bkey").as("bkey")): _*)
  }
}
