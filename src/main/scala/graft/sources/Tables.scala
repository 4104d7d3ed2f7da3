package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Loaders for the synthetic corpus (TESTDATA.md): one parquet per table
  * under an sf directory. All reads go through `spark.read.parquet` so
  * Catalyst's vectorized reader, filter pushdown and column pruning apply.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Session-scoped relation cache, the same role as Spark's catalog relation
    * cache for `read.table`: building a parquet relation costs ~50 ms of file
    * listing + footer schema read per call (measured; BASELINE.md, "Floor
    * decomposition"), and
    * a DataFrame is an immutable plan — safe to reuse. Keyed by the session
    * instance so concurrent sessions (tests) never share file indexes.
    * Entries for sessions whose SparkContext has stopped are evicted on the
    * (rare) cache-miss path, so the map is bounded by LIVE sessions rather
    * than pinning every session ever seen (the test-suite pattern: each
    * suite builds a session and stops it at the end). */
  private val relationCache =
    new scala.collection.concurrent.TrieMap[(SparkSession, String, String), DataFrame]

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    require(all.contains(name), s"unknown table: $name")
    relationCache.getOrElseUpdate((spark, sfDir, name), {
      relationCache.keySet.filter(_._1.sparkContext.isStopped)
        .foreach(relationCache.remove)
      val df = spark.read.parquet(s"$sfDir/$name.parquet")
      // LEGACY guard: only pre-2026-08-13 testdata wrote events.ts as parquet
      // TIMESTAMP(NANOS), which nanosAsLong reads as raw LONG nanos (current
      // generations are TIMESTAMP(MICROS) and skip this branch). Floor ns→µs —
      // `div` truncates toward zero, which would round PRE-epoch (negative)
      // nanos up by 1 µs relative to DuckDB's floor conversion of the file.
      if (name == "events" && df.schema("ts").dataType == LongType)
        df.withColumn("ts",
          timestamp_micros(expr("(ts - pmod(ts, 1000L)) div 1000L")))
      else df
    })
  }

  def region(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "lineitem")
  def events(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "events")
  def documents(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "embeddings")

  /** Exact row count from the parquet FOOTER — a zero-job, driver-side
    * statistic (same cost class as the relation cache's listing + schema
    * read), cached per path since testdata files are immutable
    * within a session. Exists because `optimizedPlan.stats.sizeInBytes`
    * is COMPRESSED file bytes: the 2026-08-13 corpus regeneration
    * compressed events-sf1 (1M rows) under the 16 MB one-task cap that
    * was calibrated as "sf1 can never fuse", and a swath of event queries
    * silently ran 1M-row single-task plans at sf1 (r16 pair-O find). Row
    * count is compression-invariant; byte caps alone are not. */
  private val rowCountCache =
    new scala.collection.concurrent.TrieMap[(SparkSession, String), Long]

  def rowCount(spark: SparkSession, sfDir: String, name: String): Long = {
    require(all.contains(name), s"unknown table: $name")
    footerRows(spark, s"$sfDir/$name.parquet")
  }

  /** [[rowCount]] of the parquet file or directory at `path`. */
  def footerRows(spark: SparkSession, path: String): Long = {
    // Session-scoped like relationCache (ADVICE r16): a JVM that regenerates
    // testdata at the same path gets fresh counts with its fresh session, and
    // stopped sessions' entries are evicted on the miss path.
    rowCountCache.getOrElseUpdate((spark, path), {
      rowCountCache.keySet.filter(_._1.sparkContext.isStopped)
        .foreach(rowCountCache.remove)
      val conf = spark.sessionState.newHadoopConf()
      val root = new org.apache.hadoop.fs.Path(path)
      val fs = root.getFileSystem(conf)
      // RECURSIVE listing (ADVICE r16 medium): a nested or Hive-partitioned
      // layout that spark.read.parquet reads fine would list 0 top-level
      // *.parquet files and silently report 0 rows — defeating the row cap
      // for exactly the corpus-regeneration scenario it hardens. Walk the
      // tree, skip hidden/metadata files the parquet source also skips, and
      // fail LOUDLY if no data file is found.
      val files: Seq[org.apache.hadoop.fs.FileStatus] =
        if (fs.getFileStatus(root).isDirectory) {
          val it = fs.listFiles(root, true)
          val buf = scala.collection.mutable.ArrayBuffer[org.apache.hadoop.fs.FileStatus]()
          while (it.hasNext) {
            val st = it.next()
            val n = st.getPath.getName
            if (st.isFile && n.endsWith(".parquet") &&
                !n.startsWith("_") && !n.startsWith(".")) buf += st
          }
          buf.toSeq
        } else Seq(fs.getFileStatus(root))
      require(files.nonEmpty,
        s"rowCount($path): no parquet data files found — " +
          "unexpected layout; refusing to report 0 rows")
      files.map { st =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromStatus(st, conf)
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try reader.getRecordCount finally reader.close()
      }.sum
    })
  }

  /** Register every corpus table as a temp view so the whole surface is
    * reachable from pure `spark.sql(...)`. */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    all.foreach(n => apply(spark, sfDir, n).createOrReplaceTempView(n))

  /** Materialize a table bucketed (and sorted) by a join key: two tables
    * bucketed the same way co-locate their joins — the fact⋈fact answer at
    * 100 TB where neither side broadcasts, paying the shuffle ONCE at write
    * time instead of on every join (PlanShapeSpec asserts the exchange-free
    * plan). Bucket count is fixed at write time; size it to the target
    * parallelism (~2× cluster cores). */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    buckets: Int): Unit =
    df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, key).sortBy(key)
      .saveAsTable(table)
}
