package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Materialize

/** Row-level MERGE (upsert) into a hive-partitioned parquet table — the
  * generalization of the reference's partition-level re-run story
  * (dynamic overwrite, dags/rocket_launch_etl.py:105-111 semantics fixed in
  * LaunchPipeline C6) down to individual keys.
  *
  * Scale shape: only the partitions PRESENT IN THE UPDATES are touched.
  * The touched-partition values are collected (bounded: a merge batch spans
  * few partitions) and pushed as a partition-pruning filter, so the target
  * scan reads exactly those directories; every untouched partition's files
  * are left byte-identical on disk. Within the touched partitions the merge
  * is one left-anti join (target rows whose key has no update survive) plus
  * a union with the updates — no full-table rewrite, no row-by-row I/O.
  */
object Merge {

  /** Membership predicate that honors SQL null semantics: `isin(null)` is
    * never true, so a null partition value needs an explicit `isNull` arm —
    * otherwise the null partition's survivors are never computed and its
    * non-updated keys would be dropped by the dynamic overwrite. */
  private[graft] def partitionPredicate(c: Column, values: Seq[Any]): Column = {
    val nonNull = values.filter(_ != null)
    val base = if (nonNull.isEmpty) lit(false) else c.isin(nonNull: _*)
    if (values.exists(_ == null)) base || c.isNull else base
  }

  /** Upsert `updates` into the partitioned parquet table at `path`.
    * A target row is replaced when a row with the same `key` exists in
    * `updates` (last-write-wins within `updates` is the caller's contract:
    * pre-deduplicate if a batch can carry several rows per key); rows with
    * new keys are inserted into their partition. Returns the number of
    * partitions rewritten.
    *
    * `partitionStableKeys = true` (default, the date-partitioned-fact norm)
    * declares the partition value part of row identity: the target scan
    * prunes to the updates' partitions. If a key CAN move between
    * partitions, pass `false`: the anti-join then scans the whole table to
    * find the key's old partition, rewrites it too, and deletes a partition
    * directory outright when the move drained its last row — dearer
    * (full-table key scan) but correct for moving keys. */
  def upsertByKey(spark: SparkSession, path: String, updates: DataFrame,
                  key: String, partitionCol: String,
                  partitionStableKeys: Boolean = true): Int = {
    val updateParts = updates.select(partitionCol).distinct().collect()
      .map(_.get(0)).toSeq
    if (updateParts.isEmpty) return 0
    val targetAll = spark.read.parquet(path)
    val parts =
      if (partitionStableKeys) updateParts
      else {
        // partitions currently holding an updated key must be rewritten too
        // (the key's old copy lives there); null-safe equality so a
        // null-keyed row's partition is found like any other
        val holding = targetAll
          .join(updates.select(col(key).as("__mk")).distinct(),
            targetAll(key) <=> col("__mk"), "left_semi")
          .select(partitionCol).distinct().collect().map(_.get(0)).toSeq
        (updateParts ++ holding).distinct
      }
    val target = targetAll
      .where(partitionPredicate(col(partitionCol), parts)) // pruned scan
    // null-SAFE anti join: SQL's `null = null` is null, so a plain key
    // equi-join would let a stored null-key row survive every merge and the
    // table would gain a duplicate null-key row per batch
    val survivors = target.join(
      updates.select(col(key).as("__mk")).distinct(),
      target(key) <=> col("__mk"), "left_anti")
    val merged = Materialize.now(survivors.unionByName(updates),
      Materialize.WriteReplacesInput)
    merged.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCol)
      .parquet(path)
    if (!partitionStableKeys) {
      // dynamic overwrite skips partitions with zero output rows, so a
      // partition fully drained by a key move would keep its stale file —
      // drop its directory explicitly
      val written = merged.select(partitionCol).distinct().collect()
        .map(_.get(0)).toSet
      val drained = parts.filterNot(written.contains)
      if (drained.nonEmpty) {
        val fs = org.apache.hadoop.fs.FileSystem.get(
          new java.net.URI(path), spark.sessionState.newHadoopConf())
        val esc = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        drained.foreach { v =>
          val dirName = if (v == null) "__HIVE_DEFAULT_PARTITION__"
            else esc.escapePathName(v.toString)
          fs.delete(new org.apache.hadoop.fs.Path(
            path, s"$partitionCol=$dirName"), true)
        }
      }
    }
    parts.length
  }
}
