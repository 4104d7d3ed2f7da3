package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

/** Batch-partitioned state tables: every cross-batch history read and write
  * of the incremental tiers ([[IncrementalDedup]]'s digests, signatures,
  * fingerprints, chunk digests and vectors, [[IncrementalCuration]]'s
  * kept-counts and funnel report, [[Maintenance.foldHistory]]'s label
  * partition) goes through [[history]] and [[record]].
  *
  * Retry contract (the C6 discipline: Airflow re-runs a failed interval and
  * it must give the same result). A state table is hive-partitioned by
  * `batch`; [[record]] writes one batch's rows under `batch=batchId` with
  * DYNAMIC partition overwrite, so a re-run replaces only its own
  * partition; [[history]] reads every OTHER batch's rows, the writer's own
  * partition pruned out by the partition filter. A redelivered batch
  * therefore meets exactly the history it met the first time and
  * reproduces its original result, whether the crash hit before, between
  * or after its state writes — not the empty set a naive
  * append-then-anti-join returns on redelivery. Concurrent writers to one
  * table are excluded by contract, as in [[Maintenance.compactPartitions]].
  * BatchStateCrashSpec holds a curation batch and a history fold to this
  * contract with a crash at each of their filesystem calls.
  *
  * The read names its schema: a first batch that records no rows (an empty
  * batch, a token-free one) leaves a table directory holding only
  * `_SUCCESS`, on which schema inference throws, and inference costs a job
  * besides. A table that does not exist yet reads as an empty local
  * relation, which the optimizer folds out of the joins it feeds.
  *
  * Count tables — those whose schema holds a column in
  * [[AggregatedCountColumns]] — are read under the fold's provenance rule:
  * [[Maintenance.foldHistory]] writes the merged rows before it deletes the
  * folded partitions, so inside its crash window a folded row exists both
  * under its old partition and under the merged one, its origin kept in
  * `obatch`. The read deduplicates on the row identity (the non-count
  * columns plus the origin batch), so a summing reader never double-counts
  * inside the window, and excludes rows whose origin is the writer's own
  * batch. Claim tables are presence-based and read with no extra aggregate
  * or exchange. */
object BatchHistory {

  /** NAMING CONTRACT for state tables: a table whose rows are aggregated
    * COUNTS (readers SUM them, so distinct() would corrupt the sum) names
    * its count column here; presence-based claim tables must NOT use these
    * names. [[history]]'s provenance rule and [[Maintenance.foldHistory]]'s
    * structural guard key on this set. Current members: `n_kept`,
    * [[IncrementalCuration.curateBatch]]'s budget state. */
  val AggregatedCountColumns: Set[String] = Set("n_kept")

  /** The rows every batch other than `batchId` recorded under `path`, as the
    * columns of `schema` (DDL, without `batch`). */
  def history(spark: SparkSession, path: String, schema: String,
              batchId: String): DataFrame = {
    val cols = StructType.fromDDL(schema)
    val root = new Path(path)
    if (!root.getFileSystem(spark.sessionState.newHadoopConf()).exists(root))
      return spark.createDataFrame(java.util.Collections.emptyList[Row](), cols)
    val keys = cols.fieldNames.filterNot(AggregatedCountColumns)
    val counts = keys.length < cols.length
    val stored = if (counts) cols.add("obatch", StringType) else cols
    val others = spark.read.schema(stored.add("batch", StringType)).parquet(path)
      .where(col("batch") =!= batchId) // partition filter: the re-run guard
    val rows =
      if (!counts) others
      else others.withColumn("__ob", coalesce(col("obatch"), col("batch")))
        .where(col("__ob") =!= batchId)
        .dropDuplicates((keys :+ "__ob").toSeq)
    rows.select(cols.fieldNames.map(col): _*)
  }

  /** Write `rows` as batch `batchId`'s partition of the table at `path`,
    * replacing only that partition. */
  def record(rows: DataFrame, path: String, batchId: String): Unit =
    rows.withColumn("batch", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch").parquet(path)
}
