package graft.pipeline

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import graft.engine.Materialize

/** Table maintenance for hive-partitioned parquet: small-file compaction.
  *
  * Streaming/incremental writers (the reference's daily appends, the
  * [[Merge]] upsert sink, any micro-batching ingest) accumulate many small
  * files per partition; parquet scan throughput then dies on footer/open
  * overhead long before data volume matters. Compaction rewrites ONLY the
  * partitions whose file count crossed the threshold — untouched partitions
  * stay byte-identical (same contract as [[Merge.upsertByKey]], proven in
  * spec), so the operation is safe to run continuously beside readers of
  * other partitions.
  *
  * WRITER EXCLUSION (required): compaction is read-then-overwrite on the
  * partitions it touches — rows written to one of those partitions by a
  * CONCURRENT writer (e.g. the upsert sink merging into the same date)
  * between the snapshot read and the overwrite would be lost. Raw-parquet
  * layouts have no transaction log to detect the conflict, so the operator
  * must be scheduled when no writer can touch the candidate partitions
  * (e.g. compact only partitions older than the stream's watermark — closed
  * dates a date-partitioned CDC feed no longer updates). */
object Maintenance {

  /** Hive's directory name for the null partition value. */
  private val NullDir = "__HIVE_DEFAULT_PARTITION__"

  /** The `partitionCol=value` directories directly under `root` (none when
    * it does not exist), each with its value. Directory names carry
    * HIVE-ESCAPED values (':' → '%3A'); they are unescaped here, or escaped
    * partitions would never match a column filter. The null partition keeps
    * its directory name, [[NullDir]]. */
  private def partitionDirs(fs: FileSystem, root: Path,
                            partitionCol: String): Seq[(String, Path)] = {
    val prefix = s"$partitionCol="
    if (!fs.exists(root)) return Nil
    fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix))
      .map(s => ExternalCatalogUtils.unescapePathName(
        s.getPath.getName.substring(prefix.length)) -> s.getPath)
  }

  /** The filter selecting the partitions [[partitionDirs]] named `values`. */
  private def partitionFilter(partitionCol: String, values: Seq[String]): Column =
    Merge.partitionPredicate(col(partitionCol),
      values.map(v => if (v == NullDir) null else v))

  /** Rewrite every partition of `path` that holds at least `minFiles`
    * parquet files into a single file per partition (hash-clustered by the
    * partition column, so each value's rows land in one writer task).
    * Returns the compacted partition values. Partitions beyond one target
    * file's worth of data would add a salt column to fan out writers — at
    * that point the partition grain itself is usually wrong. */
  def compactPartitions(spark: SparkSession, path: String, partitionCol: String,
                        minFiles: Int = 2): Seq[String] = {
    val fs = FileSystem.get(new java.net.URI(path),
      spark.sessionState.newHadoopConf())
    val values = partitionDirs(fs, new Path(path), partitionCol).collect {
      case (v, dir) if fs.listStatus(dir)
          .count(_.getPath.getName.endsWith(".parquet")) >= minFiles => v
    }
    if (values.isEmpty) return Nil
    // mergeSchema: after a provenance [[foldHistory]] the label partition's
    // files carry `obatch` while unfolded partitions' files don't; the
    // default single-footer schema pick could then compact the label
    // partition THROUGH the narrower schema and silently drop the
    // provenance column — corrupting the (source, origin-batch) identity
    // the curation budget reader dedups on (lifecycle spec pins this).
    val compacted = Materialize.now(
      spark.read.option("mergeSchema", "true").parquet(path)
        .where(partitionFilter(partitionCol, values)) // partition-pruned scan
        .repartition(col(partitionCol)),
      Materialize.WriteReplacesInput)
    compacted.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCol)
      .parquet(path)
    values
  }

  /** Fold FINALIZED batch partitions of an incremental-state table
    * ([[IncrementalDedup]]'s digest/signature/fingerprint/chunk/vector
    * histories, [[IncrementalCuration]]'s kept-counts) into one
    * `batch=label` partition. A daily-ingest history otherwise grows one
    * hive partition per batch FOREVER — partition listing, not data
    * volume, becomes the bottleneck (the 100 TB failure mode this table
    * layout would hit first).
    *
    * The [[BatchHistory]] retry contract survives because its reads exclude
    * only the reader's own batch: rows moved under `label` remain visible as
    * history to every batch, and a batch still in `protect` keeps its own
    * partition so its redelivery keeps excluding its own claims.
    * `protect` MUST therefore contain every batch that may still be
    * redelivered (in the tiers' crash-retry model: the latest batch);
    * neither `label` nor `label.staged` may collide with a real batch id.
    *
    * Crash-convergent BY SEMANTICS, no transaction log: the fold records
    * the merged rows (the folded partitions' and the label's) under a new
    * partition `batch=label.staged`, deletes the folded partitions and the
    * label, then renames the staged partition to the label. The label is
    * never overwritten in place: Spark's dynamic overwrite deletes a
    * partition before it renames the new one in, and a crash between the
    * two would lose every row of earlier folds. A staged partition exists
    * only complete, so a fold that finds one first finishes that swap. A
    * crash before the swap leaves rows duplicated under the staged
    * partition AND their old partition — harmless for CLAIM tables
    * (presence-based semi/anti-join sources) and collapsed by the next
    * fold's `distinct`. For tables whose rows
    * are AGGREGATED by readers (kept-counts: summed), pass
    * `provenance = true`: each row keeps its origin batch in an `obatch`
    * column (cross-batch readers project specific columns, so the extra
    * column is invisible to them), making rows identity-carrying — the
    * crash-window duplicate is the same row twice, which `distinct`
    * removes on the retry, and the reader's SUM over the folded rows
    * stays exact AFTER the retry. A reader that sums INSIDE the crash
    * window must additionally dedup on the (key, coalesce(obatch, batch))
    * identity, or it double-counts rows present under both the merged
    * partition and their not-yet-deleted old partition —
    * [[BatchHistory.history]] does exactly this for every count table
    * (ADVICE r9), so for those the window is invisible rather than an
    * operational ordering requirement. Forgetting
    * `provenance = true` on such a table is a silent corruption
    * (distinct() collapses legitimately identical (source, n_kept) rows
    * from different batches), so it is guarded structurally below, not by
    * call-site discipline. Writer exclusion as in [[compactPartitions]].
    *
    * Returns the batch ids folded (empty when nothing qualified). */
  def foldHistory(spark: SparkSession, path: String, protect: Set[String],
                  label: String = "__folded__",
                  provenance: Boolean = false): Seq[String] = {
    require(!protect.contains(label),
      s"label '$label' cannot be a protected batch id")
    val fs = FileSystem.get(new java.net.URI(path),
      spark.sessionState.newHadoopConf())
    def dir(value: String) = new Path(path,
      "batch=" + ExternalCatalogUtils.escapePathName(value))
    val staged = s"$label.staged"
    def swap(): Unit = {
      fs.delete(dir(label), true)
      if (!fs.rename(dir(staged), dir(label)))
        throw new java.io.IOException(s"cannot rename ${dir(staged)} to ${dir(label)}")
    }
    if (fs.exists(dir(staged))) swap()
    val dirs = partitionDirs(fs, new Path(path), "batch").toMap
    val candidates = dirs.keys
      .filterNot(protect).filterNot(_ == label).toSeq.sorted
    if (candidates.isEmpty) return Nil
    // mergeSchema: after a provenance fold the label partition's files
    // carry `obatch` while unfolded batch partitions don't — a plain read
    // would pick one file's schema at random
    val base = spark.read.option("mergeSchema", "true").parquet(path)
      .where(partitionFilter("batch", candidates :+ label))
    // Structural guard (ADVICE r9): an aggregated table folded without
    // provenance silently shrinks reader SUMs — drop(batch).distinct()
    // collapses legitimately distinct rows like (s1, n_kept=2) from two
    // different batches into one. The marker is the DECLARED
    // [[BatchHistory.AggregatedCountColumns]] set (ADVICE r10: a literal
    // "n_kept" here would let a future count table under a different name
    // bypass the guard silently); claim tables (digests/signatures/
    // fingerprints/chunks/vectors) are presence-based and never carry any
    // of them.
    val aggCols = base.columns.toSet.intersect(BatchHistory.AggregatedCountColumns)
    require(provenance || aggCols.isEmpty,
      s"$path carries aggregated count column(s) ${aggCols.mkString(", ")}; " +
        "folding without provenance = true would corrupt reader SUMs")
    // no eager hold: the staged partition is not among the rows it reads
    val merged = (if (provenance) {
        val withO =
          if (base.columns.contains("obatch"))
            base.withColumn("obatch", coalesce(col("obatch"), col("batch")))
          else base.withColumn("obatch", col("batch"))
        withO.drop("batch")
      } else base.drop("batch")).distinct()
    BatchHistory.record(merged, path, staged)
    candidates.foreach(v => fs.delete(dirs(v), true))
    swap()
    candidates
  }
}
