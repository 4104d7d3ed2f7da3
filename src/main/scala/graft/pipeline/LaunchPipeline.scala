package graft.pipeline

import java.io.IOException
import java.nio.charset.StandardCharsets
import java.time.LocalDate
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.catalog.CatalogTablePartition
import org.apache.spark.sql.execution.datasources.PartitioningUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf

/** The reference's full pipeline surface re-expressed Spark-first
  * (SURVEY.md §3): three zones (raw / processed / reports) over a filesystem
  * layout identical to the reference's MinIO bucket layout
  * (`raw/launch/{date}.json`, `processed/launch/net=.../`,
  * `reports/launch/net=.../` — dags/rocket_launch_etl.py:51,105-111,134-140),
  * a per-day incremental unit of processing, and a catalog table + daily
  * distinct-count serving query (src/sql/ddl/launch_events.sql,
  * src/sql/query/daily_launch_events.sql).
  *
  * Every transform stage is a pure `DataFrame => DataFrame` so it is equally
  * usable under batch or `foreachBatch` streaming (SURVEY.md §2.9 seam).
  */
object LaunchPipeline {

  /** Typed row for the public table (SURVEY.md §1.4: case classes at API
    * boundaries, DataFrame internally). */
  final case class LaunchEvent(id: String, url: String, name: String,
                               status: String, image_url: String,
                               license: String, net: java.sql.Date)

  /** Typed view of the transform output. */
  def launchEventsDs(raw: DataFrame): Dataset[LaunchEvent] = {
    val spark = raw.sparkSession
    import spark.implicits._
    launchEvents(raw).as[LaunchEvent]
  }

  /** Zone layout rooted at a base URI. Any Hadoop filesystem works — a bare
    * local path, `file://`, `s3a://bucket/prefix` (the reference's MinIO
    * layout, docker-compose.yaml:338-358), or any scheme registered via
    * `fs.<scheme>.impl`: every reader/writer below goes through the
    * Hadoop FS layer, so object-store support is configuration, not code. */
  final case class Zones(base: String) {
    def raw(date: LocalDate): String = s"$base/raw/launch/$date.json"
    val processed: String = s"$base/processed/launch"
    val reports: String = s"$base/reports/launch"
  }

  // ---------------------------------------------------------------- ingest

  /** A page fetch: given (startDate, endDateExclusive, offset) return the
    * JSON body of one LL2 `mode=list` page, the page the reference GETs at
    * `.../launches/?net__gte=$start&net__lt=$end&mode=list&limit=100&offset=$o`
    * — the half-open range predicate pushed to the source exactly as the
    * reference builds it (dags/rocket_launch_etl.py:36-41). The caller
    * supplies it: perfbench and the tests serve seeded pages in process,
    * and `graft.HiveCatalogDemo` serves a fixture.
    */
  type PageFetcher = (LocalDate, LocalDate, Int) => String

  /** Driver-side HTTP fetch (C1). Unlike the reference — which lands only the
    * first page and silently drops the rest (it never follows `next`,
    * dags/rocket_launch_etl.py:84) — we loop pages until `next` is null,
    * concatenating `results`. Pagination detection is a cheap regex probe of
    * the envelope's `"next"` field; the full parse happens once, in Spark.
    */
  def fetchAllPages(fetch: PageFetcher, start: LocalDate, end: LocalDate,
                    pageSize: Int = 100, maxPages: Int = 1000): Seq[String] = {
    val pages = Seq.newBuilder[String]
    var offset = 0
    var more = true
    var n = 0
    while (more && n < maxPages) {
      val body = fetch(start, end, offset)
      pages += body
      more = hasNext(body)
      offset += pageSize
      n += 1
    }
    // FAIL rather than truncate: the raw landing is at-most-once, so a
    // silently shortened page set would become the day's permanent record
    // (also the guard against a server whose `next` never nulls out)
    if (more)
      throw new IllegalStateException(
        s"fetchAllPages: still more pages after $maxPages for [$start, $end) " +
          "— raise maxPages or investigate the source's pagination cursor; " +
          "landing a truncated day would be permanent (at-most-once raw zone)")
    pages.result()
  }

  private val nextNonNull = """"next"\s*:\s*"[^"]""".r
  private[pipeline] def hasNext(body: String): Boolean =
    nextNonNull.findFirstIn(body).isDefined

  /** The active session's Hadoop conf — so a scheme or credentials set on
    * the session (`fs.<scheme>.impl`, `spark.hadoop.fs.s3a.*`) resolve the
    * zones here exactly as they do for Spark's readers and writers — or a
    * default conf when no session is running. */
  private def sessionHadoopConf(): Configuration =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .fold(new Configuration())(_.sessionState.newHadoopConf())

  /** Raw-zone landing with the reference's at-most-once semantics
    * (dags/rocket_launch_etl.py:53-63: `load_string` guarded by a key-exists
    * check). Returns true if written, false if the key already existed.
    * Goes through the Hadoop FS layer so the raw zone can live on any
    * filesystem URI the `Zones` base names (local, s3a, custom scheme).
    */
  def putRaw(zones: Zones, date: LocalDate, body: String,
             conf: Configuration = sessionHadoopConf()): Boolean = {
    val p = new Path(zones.raw(date))
    val fs = p.getFileSystem(conf)
    if (fs.exists(p)) return false
    try {
      val out = fs.create(p, false) // no overwrite: at-most-once under races
      try out.write(body.getBytes(StandardCharsets.UTF_8)) finally out.close()
      true
    } catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
      case _: java.nio.file.FileAlreadyExistsException => false
    }
  }

  /** Entry point A (SURVEY.md §3.1): fetch one day's launches, land raw.
    * An already-landed day is detected BEFORE the fetch (backfills over
    * mostly-landed ranges would otherwise re-pay the full paginated fetch
    * against a rate-limited API just to discard it); the create-no-overwrite
    * in putRaw still holds at-most-once under concurrent racers. */
  def ingest(zones: Zones, runDate: LocalDate, fetch: PageFetcher): Boolean = {
    val conf = sessionHadoopConf()
    val p = new Path(zones.raw(runDate))
    if (p.getFileSystem(conf).exists(p)) return false
    val pages = fetchAllPages(fetch, runDate, runDate.plusDays(1))
    // Land page bodies as a JSON-lines document (one envelope per line);
    // the reader uses Ll2.schema either way. A multi-line body would make
    // its lines unparseable under PERMISSIVE json-lines reading — an EMPTY
    // day with no error — so refuse it loudly here.
    pages.foreach(pg => require(!pg.contains('\n') && !pg.contains('\r'),
      "ingest: page body contains newlines — the raw zone is JSON-lines " +
        "(one envelope per line); configure the fetcher to return compact " +
        "single-line JSON"))
    putRaw(zones, runDate, pages.mkString("\n"), conf)
  }

  // ------------------------------------------------------------- transform

  /** C2: schema-pinned scan of one raw document. Each line is one envelope
    * (a single-page landing is byte-identical to the reference's layout). */
  def readRaw(spark: SparkSession, zones: Zones, runDate: LocalDate): DataFrame =
    spark.read.schema(Ll2.schema).json(zones.raw(runDate))

  /** C10–C12: explode the `results` array, flatten the nested structs,
    * project/rename to the 7 public columns, cast ISO-8601 `net` to DATE.
    * Mirrors dags/rocket_launch_etl.py:84-102 (json_normalize + column
    * selection + to_datetime().dt.date) as a single Project over a Generate —
    * Catalyst prunes the unread payload fields out of the scan.
    */
  def launchEvents(raw: DataFrame): DataFrame =
    raw.select(explode(col("results")).as("r"))
      .select(
        col("r.id").as("id"),
        col("r.url").as("url"),
        col("r.name").as("name"),
        col("r.status.name").as("status"),
        col("r.image.image_url").as("image_url"),
        col("r.image.license.name").as("license"),
        to_date(to_timestamp(col("r.net"))).as("net"))

  /** The `net` ISO-8601→DATE truncation in [[launchEvents]] is defined in
    * UTC (the reference's pandas `.dt.date` over Zulu timestamps). Under a
    * non-UTC session zone, `to_date(to_timestamp(...))` shifts events near
    * midnight into the NEIGHBORING day's partition — and the dynamic
    * overwrite would then clobber that day's data. Fail loudly instead of
    * corrupting. */
  private def requireUtcSession(spark: SparkSession, where: String): Unit = {
    val tz = spark.conf.get("spark.sql.session.timeZone")
    require(tz == "UTC",
      s"$where: session timeZone is '$tz' but the net→DATE truncation is " +
        "defined in UTC; a non-UTC zone shifts events across day partitions " +
        "and dynamic overwrite would clobber the neighbor day. Set " +
        "spark.sql.session.timeZone=UTC (GraftSession does).")
  }

  /** Entry point B (SURVEY.md §3.2): raw → processed, hive-partitioned by
    * `net`. Dynamic partition overwrite replaces only the partitions present
    * in this run's data — the idempotent-rerun fix for the reference's
    * pyarrow append (C6, SURVEY.md §2.2).
    */
  def transform(spark: SparkSession, zones: Zones, runDate: LocalDate): Unit = {
    requireUtcSession(spark, "transform")
    launchEvents(readRaw(spark, zones, runDate))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("net")
      .parquet(zones.processed)
  }

  // --------------------------------------------------------------- publish

  /** Entry point sign-off (C3+C7): promote the run date's processed
    * partition to the reports zone unchanged (dags/rocket_launch_etl.py:
    * 127-140, a copy of the day's files). `transform` is the processed zone's
    * only writer and writes the public [[LaunchEvent]] schema, so the files
    * are already what the reports zone serves: nothing is read, planned or
    * re-encoded, and no Spark job runs. The `net=<runDate>` directory is
    * copied through the session's Hadoop conf into a hidden staging
    * directory `reports/.../.publish-<uuid>/`, the day's old reports
    * partition is deleted, and the staged copy is renamed into its place —
    * the delete-then-rename commit Spark's dynamic partition overwrite
    * makes, touching no other partition. A crash before the rename also
    * leaves the hidden staging directory behind; neither [[registerTable]]
    * nor a table scan reads it, and publishing the day again completes the
    * promotion.
    *
    * A day with no processed partition (no launches) publishes nothing but
    * leaves the reports zone in place for [[registerTable]]. A processed
    * zone that does not exist at all (a wrong base, or `transform` never
    * ran) fails.
    */
  def publish(spark: SparkSession, zones: Zones, runDate: LocalDate): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val processed = new Path(zones.processed)
    val day = new Path(processed, s"net=$runDate")
    val fs = processed.getFileSystem(conf)
    val reports = new Path(zones.reports)
    val out = reports.getFileSystem(conf)
    if (fs.exists(day)) {
      val staging = new Path(reports, s".publish-${UUID.randomUUID()}")
      val staged = new Path(staging, day.getName)
      val target = new Path(reports, day.getName)
      try {
        if (!FileUtil.copy(fs, day, out, staged, false, conf))
          throw new IOException(s"publish: could not copy $day to $staged")
        out.delete(target, true)
        if (!out.rename(staged, target))
          throw new IOException(s"publish: could not rename $staged to $target")
      } finally out.delete(staging, true)
    } else if (fs.exists(processed))
      out.mkdirs(reports)
    else
      throw new java.io.FileNotFoundException(
        s"publish: processed zone ${zones.processed} does not exist")
  }

  // --------------------------------------------------------------- serving

  /** C8: external table over the reports zone (src/sql/ddl/launch_events.sql)
    * + C9: partition sync (src/sql/sync/launch_events.sql →
    * `sync_partition_metadata(…, 'ADD')`), through the session catalog's API
    * rather than SQL statements. The table is created only when the catalog
    * lacks it. The sync lists the zone's root once and adds the `net=`
    * directories the catalog lacks, each inheriting the table's storage as
    * `ALTER TABLE … ADD PARTITION` would; hidden directories (a crashed
    * [[publish]]'s staging copy, [[dailyCounts]]' `_serving` cache) are never
    * added. One `refreshTable` then
    * drops the cached file listings, so a re-published day is read afresh.
    * Unlike `recoverPartitions` it records no per-partition file statistics,
    * which this parquet table's planning never reads and which cost a
    * listing of every partition each day (a Spark job past 10 partitions).
    *
    * The sync also sets where the session lists the table's partitions for
    * a query. A local session over a local-disk zone lists them on the
    * driver at any count: each `listStatus` takes well under a millisecond,
    * while Spark's listing job (past 32 paths) costs more to schedule than
    * it saves. Any other master or filesystem gets the session's configured
    * threshold back: against an object store each LIST waits on the network
    * and the job overlaps them. The threshold is a session conf, so it holds
    * for every table that session reads.
    */
  def registerTable(spark: SparkSession, zones: Zones,
                    table: String = "launch_events"): Unit = {
    if (!spark.catalog.tableExists(table))
      spark.sql(
        s"""CREATE TABLE IF NOT EXISTS $table
           |  (id STRING, url STRING, name STRING, status STRING,
           |   image_url STRING, license STRING, net DATE)
           |USING PARQUET
           |PARTITIONED BY (net)
           |LOCATION '${zones.reports}'""".stripMargin)
    val catalog = spark.sessionState.catalog
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val root = new Path(zones.reports)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val known = catalog.listPartitionNames(ident).toSet
    val added = fs.listStatus(root).map(_.getPath.getName)
      .filter(name => name.startsWith("net=") && !known(name))
    if (added.nonEmpty) {
      val storage = catalog.getTableMetadata(ident).storage.copy(locationUri = None)
      catalog.createPartitions(ident, added.toSeq.map(name =>
        CatalogTablePartition(PartitioningUtils.parsePathFragment(name), storage)),
        ignoreIfExists = true)
    }
    spark.catalog.refreshTable(table)

    val threshold = SQLConf.PARALLEL_PARTITION_DISCOVERY_THRESHOLD
    spark.conf.set(threshold.key,
      if (spark.sparkContext.isLocal && fs.getUri.getScheme == "file") Int.MaxValue.toString
      else spark.sparkContext.getConf.get(threshold.key, threshold.defaultValueString))
  }

  /** Schema-drift gate for the serving table (closing a gap SURVEY §1.3
    * notes in the reference: the Hive DDL is schema-on-read and NOTHING
    * validates it against the files — DDL and parquet can silently diverge).
    * Compares the catalog schema with the parquet footer schema at the
    * reports location and fails loudly on any name/type mismatch
    * (nullability excluded: parquet stats refine it legitimately). */
  def validateServingSchema(spark: SparkSession, zones: Zones,
                            table: String = "launch_events"): Unit = {
    def shape(s: org.apache.spark.sql.types.StructType): Set[(String, String)] =
      s.fields.map(f => (f.name, f.dataType.simpleString)).toSet
    val catalog = shape(spark.table(table).schema)
    val files = shape(spark.read.parquet(zones.reports).schema)
    if (catalog != files)
      throw new IllegalStateException(
        s"schema drift between catalog table $table and ${zones.reports}: " +
          s"catalog-only=${catalog -- files}, files-only=${files -- catalog}")
  }

  /** C13: the reference's one analytical query
    * (src/sql/query/daily_launch_events.sql:1-5) — events per day,
    * deduplicated by id, one row per day sorted by `net`.
    *
    * Evaluation is eager: the call runs the query and returns the per-day
    * rows as a local relation, so collecting it runs no job. The rows come
    * from [[graft.operators.PartitionIncremental]]: each day's count is
    * cached under a fingerprint of that day's files in
    * `<table location>/_serving/daily_counts`, and a call recomputes only
    * the days whose files changed since (the run date's, in a daily run),
    * through the same aggregate pruned to those days. A day whose files did not change runs no job.
    * Deleting the cache is always safe: a missing or unreadable cache makes
    * the call run the aggregate over the whole table. No conf turns it off.
    *
    * The aggregate is the reference's own. A changed day whose scan is one
    * task recomputes with no exchange at all; a larger recompute takes
    * Spark's distinct plan, which hashes the scan on `(net, id)`, so a hot
    * day spreads across reducers without salting. */
  def dailyCounts(spark: SparkSession, table: String = "launch_events"): DataFrame =
    graft.operators.PartitionIncremental(spark, table, "net", "daily_counts") { events =>
      events.groupBy("net").agg(countDistinct("id").as("event_count"))
    }

  /** Full per-day run: ingest → transform → publish (Airflow chain
    * dags/rocket_launch_etl.py:164 collapsed to a sequential driver). A
    * caller that serves the day calls [[registerTable]] after it, and
    * [[validateServingSchema]] to fail loudly on catalog-vs-files drift. */
  def run(spark: SparkSession, zones: Zones, runDate: LocalDate,
          fetch: PageFetcher): Unit = {
    ingest(zones, runDate, fetch)
    transform(spark, zones, runDate)
    publish(spark, zones, runDate)
  }

  /** Backfill: run every day in [start, endExclusive) — the engine-level
    * analog of an Airflow date-range backfill (the reference gets this from
    * the scheduler: interval semantics per
    * dags/student/student_rocket_launch_etl.py:43-47, catchup config
    * dags/rocket_launch_etl.py:145). Days are INDEPENDENT: each lands its
    * own raw key (at-most-once), rewrites only its own `net=` partitions
    * (dynamic overwrite), and re-running any subset is idempotent — so a
    * scheduler may also run days concurrently; this sequential driver is the
    * deterministic default. Returns the dates run. */
  def runRange(spark: SparkSession, zones: Zones, start: LocalDate,
               endExclusive: LocalDate, fetch: PageFetcher): Seq[LocalDate] = {
    require(!endExclusive.isBefore(start),
      s"runRange: endExclusive $endExclusive precedes start $start")
    val days = Iterator.iterate(start)(_.plusDays(1))
      .takeWhile(_.isBefore(endExclusive)).toSeq
    days.foreach(run(spark, zones, _, fetch))
    days
  }
}
