package graft.engine

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Encodes the execution posture derived from the reference's architecture
  * (see SURVEY.md §4): UTC session time (deterministic date truncation, the
  * reference pins dates as `YYYY-MM-DD` strings — dags/rocket_launch_etl.py:30-31),
  * dynamic partition overwrite (idempotent per-interval re-runs, the semantic
  * fix for the reference's append-on-rerun at dags/rocket_launch_etl.py:105-111),
  * and AQE on (runtime shuffle coalescing / skew-join handling for the 100 TB
  * posture).
  *
  * Shuffle partitions default to the local core count, not Spark's default 200:
  * on a real cluster this would instead be sized to ~2-3× total executor cores
  * or left to AQE's coalescing with a high initial value.
  *
  * `file://` resolves to [[NioLocalFileSystem]]: without native libhadoop,
  * Hadoop's local filesystem spawns a `chmod` process for every directory and
  * file it writes, a fixed cost of every local-disk zone write (raw landing,
  * parquet commit, publish copy, curation state) that dominates a small daily
  * interval. Object stores never take that path; a host with native
  * libhadoop already chmods in process, and now does so through java.nio
  * instead. The class applies to filesystem instances created from a session
  * conf: Hadoop caches one `file://` instance per JVM, so a JVM that opened
  * `file://` with a plain `Configuration` before its first session keeps the
  * default `file` class (Hive's `ProxyLocalFileSystem` when hive-exec is on
  * the classpath, else Hadoop's `LocalFileSystem`).
  */
object GraftSession {

  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** Apply graft's standard configs to an arbitrary builder. */
  def configure(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    b.withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // parallelismFirst deliberately left at default (true). Measured A/B at
      // sf0.1 (BASELINE.md): =false + 64m advisory serializes real work at
      // local scale (x20 1.54→2.13 s, q01 0.88→1.15 s) and saves nothing on
      // floor-bound queries — AQE's 1 MB minPartitionSize already collapses
      // sub-MB shuffles to 1 task under the default. On a production cluster
      // =false remains the right knob for many-small-partitions workloads;
      // it is one SPARK_GRAFT_CONF entry away.
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
      .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
      .config("spark.sql.parquet.filterPushdown", "true")
      // LEGACY fallback: pre-2026-08-13 testdata generations wrote events.ts
      // as parquet TIMESTAMP(NANOS) (unsupported natively). The regeneration
      // documented in FIXTURES.md made every timestamp column TIMESTAMP(MICROS),
      // so this conf is now inert on current data; it stays so an older
      // generation still reads as raw nanos, which Tables.events converts.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // The corpus' timestamp columns are parquet TIMESTAMP(MICROS) WITHOUT
      // the isAdjustedToUTC flag (naive wall-clock). Spark 4 infers those as
      // TIMESTAMP_NTZ by default; DuckDB (the oracle) reads the same bytes as
      // its naive TIMESTAMP. With the session pinned to UTC, reading them as
      // TIMESTAMP_LTZ makes both engines see identical wall-clock instants
      // while keeping the engine's timestamp kit (unix_micros, window ranges,
      // date_trunc) on the one timestamp type every function supports.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
      // Bound the status-store listener state: with the UI off these stores
      // exist only for the status APIs, yet default retention (1000 jobs /
      // 1000 stages / 1000 SQL executions) lets a long-lived session accrue
      // listener-bus and heap cost per query — measured as Bench's floor
      // sentinel drifting 0.15 s → 0.30 s over a 77-query × 6-run session,
      // i.e. every query in the BACK half of a bench run was billed ~2× the
      // scheduling floor of the front half. Long-lived ETL drivers (the
      // reference's daily loop) want the same bound.
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "500")
      .config("spark.sql.ui.retainedExecutions", "10")

  /** configure + ad-hoc overrides from SPARK_GRAFT_CONF ("k=v;k=v") — a
    * measurement aid (A/B a conf without recompiling); defaults above are
    * the engine's actual posture. */
  private def withOverrides(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder = {
    val base = configure(b, shufflePartitions)
    sys.env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(';')).map(_.trim).filter(_.contains('='))
      .foldLeft(base) { (bb, kv) =>
        val Array(k, v) = kv.split("=", 2)
        bb.config(k, v)
      }
  }

  /** Local session sized from SPARK_GRAFT_CPUS (driver contract). */
  def getOrCreate(appName: String = "graft"): SparkSession = {
    val n = cpus
    val spark = withOverrides(
      SparkSession.builder().master(s"local[$n]").appName(appName), n
    ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // scale decisions and serving-cache use stay visible: one line per gate
    // (ScalePolicy) and one per incremental serving call
    for (logger <- Seq("graft.engine.ScalePolicy", "graft.operators.PartitionIncremental"))
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        logger, org.apache.logging.log4j.Level.INFO)
    spark
  }
}
