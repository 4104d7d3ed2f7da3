package graft

import java.net.URI
import java.nio.file.Files
import java.time.LocalDate

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.FileSystem
import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{Configurator, Property}
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.{col, concat, countDistinct, date_add, lit}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{NioLocalFileSystem, ScalePolicy}
import graft.operators.PartitionIncremental
import graft.pipeline.{LaunchPipeline => LP}

/** Golden-oracle port of the reference's correctness mechanism (SURVEY.md §5):
  * fixture A1 (FIXTURES.md) through the full pipeline must reproduce the
  * expected `launch_events` rows and the daily-count query result.
  */
class LaunchPipelineSpec extends AnyFunSuite with BeforeAndAfterAll {
  import SparkTestSession.spark

  // Hadoop caches one file:// filesystem per JVM: start the shared session
  // before a raw landing without one resolves it from a plain conf
  override def beforeAll(): Unit = {
    super.beforeAll()
    spark
  }

  val day: LocalDate = LocalDate.parse("2024-12-01")

  /** FIXTURES.md A1: 2 launches, one with a null image subtree. */
  val fixtureA1: String =
    """{"count": 2, "next": null, "previous": null, "results": [
      | {"id": "a1b2", "url": "https://x/1", "name": "Falcon 9 | Demo",
      |  "status": {"name": "Launch Successful", "abbrev": "Success"},
      |  "image": {"image_url": "https://img/1.png", "license": {"name": "CC BY 4.0"}},
      |  "net": "2024-12-01T13:05:00Z", "last_updated": "2024-12-01T14:00:00Z"},
      | {"id": "c3d4", "url": "https://x/2", "name": "Soyuz | Resupply",
      |  "status": {"name": "Go for Launch", "abbrev": "Go"},
      |  "image": null,
      |  "net": "2024-12-01T22:45:00Z", "last_updated": "2024-12-01T23:00:00Z"}
      |]}""".stripMargin.replaceAll("\n", " ")

  def freshZones(): LP.Zones =
    LP.Zones(Files.createTempDirectory("graft_lp").toString)

  /** Partitions selected by each scan of `table` in an executed query. */
  def partitionsScanned(qe: QueryExecution, table: String): Seq[Int] =
    new AdaptiveSparkPlanHelper {}.collect(qe.executedPlan) {
      case s: FileSourceScanExec if s.tableIdentifier.exists(_.table == table) =>
        s.selectedPartitions.partitionCount
    }

  /** Runs `body` with the serving cache's logger at INFO; returns its value
    * and the (level, message) events that logger emitted meanwhile. */
  def cacheLog[T](body: => T): (T, Seq[(Level, String)]) = {
    val name = "graft.operators.PartitionIncremental"
    val events = new java.util.concurrent.ConcurrentLinkedQueue[(Level, String)]()
    val appender = new AbstractAppender("serving-cache-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        events.add(e.getLevel -> e.getMessage.getFormattedMessage)
    }
    val logger = LoggerContext.getContext(false).getLogger(name)
    val before = logger.getLevel
    appender.start()
    Configurator.setLevel(name, Level.INFO)
    logger.addAppender(appender)
    try (body, events.asScala.toSeq)
    finally {
      logger.removeAppender(appender)
      Configurator.setLevel(name, before)
      appender.stop()
    }
  }

  /** Today's query over the whole table: the definition served counts must
    * equal. */
  def fullCounts(table: String): Seq[Row] =
    spark.table(table).groupBy("net").agg(countDistinct("id").as("event_count"))
      .orderBy("net").collect().toSeq

  /** Lands, transforms and publishes `d` with one launch per id (an id
    * listed twice counts once), replacing an earlier landing of the day. */
  def publishDay(z: LP.Zones, d: LocalDate, ids: Seq[String]): Unit = {
    Files.deleteIfExists(java.nio.file.Paths.get(z.raw(d)))
    val results = ids.zipWithIndex.map { case (id, k) =>
      s"""{"id": "$id", "url": "u", "name": "n", "status": {"name": "s"},
         | "image": null, "net": "${d}T0$k:00:00Z"}""".stripMargin }
    LP.putRaw(z, d, s"""{"count": ${ids.size}, "next": null, "results": [
      |${results.mkString(", ")}]}""".stripMargin.replaceAll("\n", " "))
    LP.transform(spark, z, d)
    LP.publish(spark, z, d)
  }

  /** Data files of the reports zone's partition of `d`. */
  def published(z: LP.Zones, d: LocalDate): Int =
    Option(new java.io.File(s"${z.reports}/net=$d").listFiles()).toSeq.flatten
      .count(_.getName.endsWith(".parquet"))

  test("raw landing is at-most-once (C5 semantics)") {
    val z = freshZones()
    assert(LP.putRaw(z, day, fixtureA1))
    assert(!LP.putRaw(z, day, """{"count":0,"results":[]}"""))
    // first write wins — byte-identical to the landed body
    assert(Files.readString(java.nio.file.Paths.get(z.raw(day))) == fixtureA1)
  }

  test("transform reproduces the golden rows incl. null propagation (C10-C12)") {
    val z = freshZones()
    LP.putRaw(z, day, fixtureA1)
    val got = LP.launchEvents(LP.readRaw(spark, z, day))
      .orderBy("id").collect().toSeq
    val d = java.sql.Date.valueOf("2024-12-01")
    assert(got == Seq(
      Row("a1b2", "https://x/1", "Falcon 9 | Demo", "Launch Successful",
        "https://img/1.png", "CC BY 4.0", d),
      Row("c3d4", "https://x/2", "Soyuz | Resupply", "Go for Launch",
        null, null, d)))
  }

  test("empty results → zero-row partition, no failure") {
    val z = freshZones()
    LP.putRaw(z, day, """{"count": 0, "next": null, "previous": null, "results": []}""")
    assert(LP.launchEvents(LP.readRaw(spark, z, day)).count() == 0)
  }

  test("re-run is idempotent: dynamic partition overwrite replaces, not appends (C6 fix)") {
    val z = freshZones()
    LP.putRaw(z, day, fixtureA1)
    LP.transform(spark, z, day)
    LP.transform(spark, z, day) // the reference would duplicate rows here
    val processed = spark.read.parquet(z.processed)
    assert(processed.count() == 2)
    assert(processed.where(col("net") === "2024-12-01").count() == 2)
  }

  test("publish + catalog + daily-count query reproduce QRY golden result (C7-C9, C13)") {
    val z = freshZones()
    val table = s"launch_events_test_${math.abs(z.base.hashCode)}"
    LP.putRaw(z, day, fixtureA1)
    LP.transform(spark, z, day)
    LP.publish(spark, z, day)
    LP.registerTable(spark, z, table)
    val got = LP.dailyCounts(spark, table).collect().toSeq
    assert(got == Seq(Row(java.sql.Date.valueOf("2024-12-01"), 2L)))
    spark.sql(s"DROP TABLE $table")
  }

  test("hardened run registers the serving table and validates its schema " +
    "(opt-in hardening on the pipeline path)") {
    val z = freshZones()
    val fetch: LP.PageFetcher = (_, _, _) => fixtureA1
    // a clean run, registered, must pass the schema gate
    LP.run(spark, z, day, fetch)
    LP.registerTable(spark, z)
    LP.validateServingSchema(spark, z)
    assert(spark.catalog.tableExists("launch_events"))
    assert(LP.dailyCounts(spark).collect().toSeq ==
      Seq(Row(java.sql.Date.valueOf("2024-12-01"), 2L)))
    spark.sql("DROP TABLE launch_events")
  }

  test("runRange backfills independent days and re-runs idempotently") {
    val z = freshZones()
    def bodyFor(d: LocalDate): String =
      fixtureA1.replaceAll("2024-12-01", d.toString)
    val fetch: LP.PageFetcher = (start, _, _) => bodyFor(start)
    val start = day
    val end = day.plusDays(3)
    val ran = LP.runRange(spark, z, start, end, fetch)
    assert(ran == Seq(day, day.plusDays(1), day.plusDays(2)))
    val processed = spark.read.parquet(z.processed)
    assert(processed.count() == 6) // 2 rows × 3 days
    assert(processed.select("net").distinct().count() == 3)
    // re-running the same range neither duplicates rows nor re-lands raw
    LP.runRange(spark, z, start, end, fetch)
    assert(spark.read.parquet(z.processed).count() == 6)
    assert(spark.read.parquet(z.reports).count() == 6)
    // empty range is a no-op, inverted range fails loudly
    assert(LP.runRange(spark, z, start, start, fetch).isEmpty)
    intercept[IllegalArgumentException] {
      LP.runRange(spark, z, end, start, fetch)
    }
  }

  test("zones accept any Hadoop FS URI: pipeline runs on a custom scheme") {
    // a scheme that resolves to RawLocalFileSystem proves the pathing goes
    // through the Hadoop FS layer (the s3a:// seam) without needing live S3.
    // It is registered in the session conf only, as s3a credentials would
    // be, so the raw landing must resolve it through the session too.
    spark.conf.set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    try {
      val dir = Files.createTempDirectory("graft_lp_uri").toString
      val z = LP.Zones(s"graftfs://$dir")
      val fetch: LP.PageFetcher = (_, _, _) => fixtureA1
      LP.run(spark, z, day, fetch)
      assert(!LP.ingest(z, day, fetch)) // at-most-once
      assert(!LP.putRaw(z, day, """{"count":0,"results":[]}"""))
      // the bytes really landed on the backing store
      assert(Files.readString(java.nio.file.Paths.get(s"$dir/raw/launch/$day.json"))
        == fixtureA1)
      assert(spark.read.parquet(z.reports).count() == 2)
    } finally spark.conf.unset("fs.graftfs.impl")
  }

  test("an empty first day publishes nothing and serves no rows; the next " +
    "day is served exactly") {
    val z = freshZones()
    val table = s"launch_events_empty_${math.abs(z.base.hashCode)}"
    // no processed zone at all is a misconfiguration, not an empty day
    intercept[java.io.FileNotFoundException](LP.publish(spark, z, day))
    LP.putRaw(z, day, """{"count": 0, "next": null, "previous": null, "results": []}""")
    LP.transform(spark, z, day) // leaves a processed zone with no parquet file
    LP.publish(spark, z, day)
    LP.registerTable(spark, z, table)
    assert(LP.dailyCounts(spark, table).collect().isEmpty)
    val next = day.plusDays(1)
    LP.putRaw(z, next, fixtureA1.replaceAll("2024-12-01", next.toString))
    LP.transform(spark, z, next)
    LP.publish(spark, z, next)
    LP.registerTable(spark, z, table)
    assert(LP.dailyCounts(spark, table).collect().toSeq
      == Seq(Row(java.sql.Date.valueOf(next), 2L)))
    spark.sql(s"DROP TABLE $table")
  }

  test("daily interval job shape past 32 partitions: no listing job, publish " +
    "and registerTable run none; serving runs one job with no shuffle and " +
    "scans one partition on a day that publishes one file, none on an empty " +
    "day, and recomputes only a re-run day; served counts exact") {
    val z = freshZones()
    val table = s"launch_events_jobs_${math.abs(z.base.hashCode)}"
    val days = 40 // every 10th day empty: 36 partitions, past Spark's 32
    def launches(i: Int): Int = if (i % 10 == 9) 0 else 1 + i % 3
    def bodyFor(d: LocalDate, n: Int, tag: String): String = {
      val results = (0 until n).map(k =>
        s"""{"id": "$tag-$d-$k", "url": "u", "name": "n",
           | "status": {"name": "s", "abbrev": "s"}, "image": null,
           | "net": "${d}T0$k:00:00Z", "last_updated": "x"}""".stripMargin)
      // a launch listed twice counts once
      val listed = results ++ results.take(1)
      s"""{"count": ${listed.size}, "next": null, "previous": null,
         | "results": [${listed.mkString(", ")}]}""".stripMargin.replaceAll("\n", " ")
    }
    def dayOf(i: Int): LocalDate = day.plusDays(i)
    val fetch: LP.PageFetcher = (start, _, _) =>
      bodyFor(start, launches(start.toEpochDay.toInt - day.toEpochDay.toInt), "a")

    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    // shuffle bytes read and written, by phase
    val stagePhase = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val shuffled = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("graft.test.phase")))
          .foreach(ph => jobs.add(ph -> e.properties.getProperty("spark.job.description", "")))
      override def onStageSubmitted(
          e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("graft.test.phase")))
          .foreach(stagePhase.put(e.stageInfo.stageId, _))
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        Option(stagePhase.get(e.stageInfo.stageId)).foreach { ph =>
          val m = e.stageInfo.taskMetrics
          shuffled.merge(ph, m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten, (a, b) => a + b)
        }
    }
    val sc = spark.sparkContext
    def phase[T](name: String)(body: => T): T = {
      sc.setLocalProperty("graft.test.phase", name)
      try body finally sc.setLocalProperty("graft.test.phase", null)
    }
    // partitions each serving query's scan of the table selected
    val scanned = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val queries = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        partitionsScanned(qe, table).foreach(scanned.add)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    var serves = 0
    val scansPerServe = scala.collection.mutable.Map.empty[String, Seq[Int]]
    def served(): Map[LocalDate, Long] = {
      phase("register")(LP.registerTable(spark, z, table))
      serves += 1
      org.apache.spark.GraftListenerBus.drain(sc)
      scanned.clear()
      val rows = phase(s"serve $serves")(LP.dailyCounts(spark, table).collect())
      org.apache.spark.GraftListenerBus.drain(sc)
      scansPerServe(s"serve $serves") = scanned.asScala.toSeq
      rows.map(r => r.getDate(0).toLocalDate -> r.getLong(1)).toMap
    }
    def expected(upTo: Int): Map[LocalDate, Long] =
      (0 to upTo).filter(launches(_) > 0).map(i => dayOf(i) -> launches(i).toLong).toMap

    sc.addSparkListener(listener)
    spark.listenerManager.register(queries)
    try {
      for (i <- 0 until days) {
        val d = dayOf(i)
        phase("ingest")(LP.ingest(z, d, fetch))
        phase("transform")(LP.transform(spark, z, d))
        phase(s"publish $d")(LP.publish(spark, z, d))
        assert(published(z, d) == (if (launches(i) == 0) 0 else 1), s"day $d files")
        assert(served() == expected(i), s"day $d served wrong counts")
      }
      // re-run a served day with new content through the backfill driver:
      // the refreshed table must not serve the stale file listing
      val d = dayOf(days - 2)
      Files.delete(java.nio.file.Paths.get(z.raw(d)))
      LP.runRange(spark, z, d, d.plusDays(1), (start, _, _) => bodyFor(start, 5, "b"))
      assert(published(z, d) == 1, s"re-run day $d files")
      assert(served() == expected(days - 1).updated(d, 5L))
      assert(PartitionIncremental.lastReport.changed == 1, PartitionIncremental.lastReport)
      org.apache.spark.GraftListenerBus.drain(sc)
    } finally {
      spark.listenerManager.unregister(queries)
      sc.removeSparkListener(listener)
      spark.sql(s"DROP TABLE IF EXISTS $table")
    }
    val seen = jobs.asScala.toSeq
    val serveJobs = seen.filter(_._1.startsWith("serve")).groupBy(_._1)
      .map { case (k, v) => k -> v.size }.withDefaultValue(0)
    // serve i follows day i - 1; the last serve follows the re-run
    for (i <- 1 to serves) {
      val serve = s"serve $i"
      if (i <= days && launches(i - 1) == 0) {
        assert(serveJobs(serve) == 0, s"$serve (nothing published) ran jobs: $serveJobs")
        assert(scansPerServe(serve).isEmpty, s"$serve scanned: ${scansPerServe(serve)}")
      } else {
        assert(serveJobs(serve) == 1, s"$serve jobs: $serveJobs")
        assert(Option(shuffled.get(serve)).contains(0L),
          s"$serve shuffled ${shuffled.get(serve)} bytes")
        assert(scansPerServe(serve) == Seq(1),
          s"$serve should recompute exactly the published day: ${scansPerServe(serve)}")
      }
    }
    val listing = seen.filter(_._2.startsWith("Listing leaf files"))
    assert(listing.isEmpty, s"listing jobs: ${listing.map(_._1)}")
    // publish copies files; the partition sync lists the zone root on the
    // driver and talks to the catalog, gathering no stats
    val publishJobs = seen.filter(_._1.startsWith("publish"))
    assert(publishJobs.isEmpty, s"publish jobs: ${publishJobs.map(_._1)}")
    assert(!seen.exists(_._1 == "register"))
  }

  test("the one-task recompute and the forced exchange route serve identical " +
    "exact rows on a cold cache, a re-published day, a day written as several " +
    "files and a cold whole table; each call records its scan-tasks decision, " +
    "which equals the tasks of the scan Spark plans") {
    val z = freshZones()
    val table = s"launch_events_route_${math.abs(z.base.hashCode)}"
    val cacheName = "daily_counts"
    /** Serves under `auto`, then from the same cache state under
      * `spark.graft.scale=large`; both must equal the full query. Returns
      * the scan-tasks statistic and branch the `auto` call recorded. */
    def serveBoth(what: String): (String, String) = {
      LP.registerTable(spark, z, table)
      val cache = java.nio.file.Paths.get(s"${z.reports}/_serving/$cacheName")
      val before = if (Files.exists(cache)) Some(Files.readAllBytes(cache)) else None
      val scans = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
      val capture = new QueryExecutionListener {
        def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
          new AdaptiveSparkPlanHelper {}.collect(qe.executedPlan) {
            case s: FileSourceScanExec => s.inputRDDs().head.getNumPartitions
          }.foreach(scans.add)
        def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      def serve(): (Seq[Row], Seq[ScalePolicy.Decision], Int) = {
        spark.listenerManager.register(capture)
        scans.clear()
        val (rows, decisions) = try ScalePolicy.recorded(
          LP.dailyCounts(spark, table).collect().toSeq)
        finally {
          org.apache.spark.GraftListenerBus.drain(spark.sparkContext)
          spark.listenerManager.unregister(capture)
        }
        assert(scans.size == 1, s"$what: scans ${scans.asScala}")
        (rows, decisions.filter(_.input == s"$table/$cacheName"), scans.peek())
      }
      val (auto, autoDecisions, _) = serve()
      val changed = PartitionIncremental.lastReport.changed
      before match {
        case Some(bytes) => Files.write(cache, bytes)
        case None => Files.deleteIfExists(cache)
      }
      val (forced, forcedDecisions, tasks) = SparkTestSession.atScale(serve())
      assert(PartitionIncremental.lastReport.changed == changed, what)
      assert(auto == fullCounts(table) && forced == auto,
        s"$what: auto $auto, forced $forced")
      assert(forcedDecisions.map(d => s"${d.statistics} ${d.branch}") ==
        Seq(s"${ScalePolicy.Conf}=large ${ScalePolicy.AtScale}"), s"$what: $forcedDecisions")
      assert(autoDecisions.map(_.statistics) == Seq(s"scan-tasks=$tasks cap=1"),
        s"$what: the scan planned $tasks tasks: $autoDecisions")
      autoDecisions.head.statistics -> autoDecisions.head.branch
    }
    /** Lands `d` with one launch per id, transformed into `files` files. */
    def publishFiles(d: LocalDate, ids: Seq[String], files: Int): Unit = {
      publishDay(z, d, ids)
      LP.launchEvents(LP.readRaw(spark, z, d)).repartition(files)
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("net").parquet(z.processed)
      LP.publish(spark, z, d)
    }
    val small = "scan-tasks=1 cap=1" -> ScalePolicy.Small
    try {
      publishDay(z, day, Seq("a", "b", "a"))
      assert(serveBoth("cold cache, one day") == small)
      publishDay(z, day.plusDays(1), Seq("a", "c"))
      assert(serveBoth("a new day") == small)
      publishDay(z, day, Seq("a"))
      assert(serveBoth("re-published day") == small)
      publishFiles(day.plusDays(2), Seq("a", "b", "c", "d", "e", "f"), files = 3)
      assert(published(z, day.plusDays(2)) == 3)
      assert(serveBoth("a day of three files") ==
        ("scan-tasks=3 cap=1" -> ScalePolicy.AtScale))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"${z.reports}/_serving"))
      assert(serveBoth("cold whole table")._2 == ScalePolicy.AtScale)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("incremental serving equals the full query after a re-publish with " +
    "the same file count, a deleted, truncated, garbage or foreign cache, a " +
    "dropped partition and a re-created table; a bad cache WARNs once and " +
    "fails nothing") {
    val z = freshZones()
    val table = s"launch_events_cache_${math.abs(z.base.hashCode)}"
    val days = Seq(day, day.plusDays(1), day.plusDays(2))
    val cache = java.nio.file.Paths.get(s"${z.reports}/_serving/daily_counts")
    /** Serves once: counts equal the full query's, one INFO line per call,
      * `warns` WARN lines; returns the call's report. */
    def serve(what: String, warns: Int = 0): PartitionIncremental.Report = {
      val (got, events) = cacheLog(LP.dailyCounts(spark, table).collect().toSeq)
      assert(got == fullCounts(table), s"$what: served counts differ from the full query")
      val report = PartitionIncremental.lastReport
      assert(events.filter(_._1 == Level.INFO).map(_._2) == Seq(report.toString), what)
      assert(events.count(_._1 == Level.WARN) == warns, s"$what: $events")
      report
    }
    try {
      days.foreach(d => publishDay(z, d, Seq("a", "b")))
      LP.registerTable(spark, z, table)
      val cold = serve("cold")
      assert(cold.state == "cold" && cold.listed == 3 && cold.changed == 3 && cold.rows == 3, cold)
      assert(Files.exists(cache))
      LP.validateServingSchema(spark, z, table) // the cache is not a data file
      val hit = serve("hit")
      assert(hit.state == "hit" && hit.changed == 0 && hit.rows == 0, hit)

      // the same single file, now holding one distinct id
      publishDay(z, days(1), Seq("a", "a"))
      LP.registerTable(spark, z, table)
      val republished = serve("re-published day")
      assert(republished.changed == 1 && republished.state == "hit", republished)
      assert(LP.dailyCounts(spark, table).collect().toSeq(1) ==
        Row(java.sql.Date.valueOf(days(1)), 1L))

      org.apache.commons.io.FileUtils.deleteDirectory(cache.getParent.toFile)
      assert(serve("deleted cache").state == "cold")

      val good = Files.readAllBytes(cache)
      val doc = new com.fasterxml.jackson.databind.ObjectMapper().readTree(good)
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      doc.put("table", org.apache.spark.sql.types.StructType.fromDDL("id STRING, net DATE").json)
      for ((what, bytes) <- Seq(
             "truncated cache" -> good.take(good.length / 2),
             "garbage cache" -> "\u0000not a cache{[".getBytes,
             "foreign-schema cache" -> doc.toString.getBytes)) {
        Files.write(cache, bytes)
        val bad = serve(what, warns = 1)
        assert(bad.state == "unreadable" && bad.changed == 3, bad)
        assert(serve(s"after the $what").state == "hit") // rewritten
      }

      spark.sql(s"ALTER TABLE $table DROP PARTITION (net = '${days(1)}')")
      val dropped = serve("dropped partition")
      assert(dropped.listed == 2 && dropped.changed == 0, dropped)
      assert(LP.dailyCounts(spark, table).collect().map(_.getDate(0).toLocalDate).toSeq
        == Seq(days(0), days(2)))

      spark.sql(s"DROP TABLE $table")
      LP.registerTable(spark, z, table)
      val recreated = serve("re-created table")
      assert(recreated.listed == 3 && recreated.changed == 1, recreated)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("a read-only serving cache still serves exact counts, WARNing that " +
    "the cache cannot be written") {
    spark.conf.set("fs.graftro.impl", classOf[ReadOnlyServingFs].getName)
    val dir = Files.createTempDirectory("graft_lp_ro")
    val z = LP.Zones(s"graftro://$dir")
    val fetch: LP.PageFetcher = (start, _, _) => fixtureA1.replaceAll("2024-12-01", start.toString)
    try {
      LP.run(spark, z, day, fetch)
      LP.registerTable(spark, z)
      LP.dailyCounts(spark).collect() // writable: the cache is written
      ReadOnlyServingFs.readOnly = true
      LP.run(spark, z, day.plusDays(1), fetch)
      LP.registerTable(spark, z)
      val (got, events) = cacheLog(LP.dailyCounts(spark).collect().toSeq)
      assert(got == fullCounts("launch_events") && got.size == 2)
      assert(events.count(_._1 == Level.WARN) == 1, events)
      val report = PartitionIncremental.lastReport
      assert(report.state == "unwritable" && report.changed == 1, report)
      // the cache read still works: the unchanged day is served from it
      assert(cacheLog(LP.dailyCounts(spark).collect().toSeq)._1 == got)
      assert(PartitionIncremental.lastReport.changed == 1)
      assert(Files.list(dir.resolve("reports/launch/_serving")).iterator.asScala
        .map(_.getFileName.toString).toSeq == Seq("daily_counts"))
    } finally {
      ReadOnlyServingFs.readOnly = false
      spark.sql("DROP TABLE IF EXISTS launch_events")
      spark.conf.unset("fs.graftro.impl")
    }
  }

  test("two threads serving one table across publishes both get exact " +
    "counts, and the cache stays readable") {
    val z = freshZones()
    val table = s"launch_events_threads_${math.abs(z.base.hashCode)}"
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try for (i <- 0 until 4) {
      publishDay(z, day.plusDays(i), Seq("a", "b", "c").take(1 + i % 3))
      LP.registerTable(spark, z, table)
      val want = fullCounts(table)
      val calls = (1 to 2).map(_ => pool.submit(new java.util.concurrent.Callable[Seq[Row]] {
        def call(): Seq[Row] = LP.dailyCounts(spark, table).collect().toSeq
      }))
      calls.foreach(c => assert(c.get() == want, s"day $i"))
    } finally pool.shutdown()
    try {
      val (got, events) = cacheLog(LP.dailyCounts(spark, table).collect().toSeq)
      assert(got == fullCounts(table))
      assert(!events.exists(_._1 == Level.WARN), events)
      assert(PartitionIncremental.lastReport.state == "hit" &&
        PartitionIncremental.lastReport.changed == 0, PartitionIncremental.lastReport)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("a publish that crashed before its rename leaves a staging copy that " +
    "is neither registered nor served; the next publish serves the day exactly") {
    val z = freshZones()
    val table = s"launch_events_crash_${math.abs(z.base.hashCode)}"
    val next = day.plusDays(1)
    for (d <- Seq(day, next)) {
      LP.putRaw(z, d, fixtureA1.replaceAll("2024-12-01", d.toString))
      LP.transform(spark, z, d)
    }
    LP.publish(spark, z, day)
    // the crashed publish of `next` copied its file but never renamed it
    val stale = java.nio.file.Paths.get(s"${z.reports}/.publish-x/net=$next")
    Files.createDirectories(stale)
    new java.io.File(s"${z.processed}/net=$next").listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .foreach(f => Files.copy(f.toPath, stale.resolve(f.getName)))
    try {
      LP.registerTable(spark, z, table)
      assert(spark.sql(s"SHOW PARTITIONS $table").collect().map(_.getString(0)).toSeq
        == Seq(s"net=$day"))
      assert(LP.dailyCounts(spark, table).collect().toSeq
        == Seq(Row(java.sql.Date.valueOf(day), 2L)))
      LP.publish(spark, z, next)
      LP.registerTable(spark, z, table)
      assert(LP.dailyCounts(spark, table).collect().toSeq
        == Seq(Row(java.sql.Date.valueOf(day), 2L), Row(java.sql.Date.valueOf(next), 2L)))
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("a serving zone off local disk keeps Spark's parallel partition " +
    "listing; served counts exact") {
    spark.conf.set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    val z = LP.Zones(s"graftfs://${Files.createTempDirectory("graft_lp_remote")}")
    val table = s"launch_events_remote_${math.abs(z.base.hashCode)}"
    val days = 34 // past Spark's 32-path threshold
    val sc = spark.sparkContext
    val listed = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description", "")
              .startsWith("Listing leaf files"))) listed.incrementAndGet()
    }
    try {
      spark.range(days * 2).select(
        concat(lit("id-"), col("id").cast("string")).as("id"),
        lit("u").as("url"), lit("n").as("name"), lit("s").as("status"),
        lit(null).cast("string").as("image_url"), lit(null).cast("string").as("license"),
        date_add(lit(java.sql.Date.valueOf(day)), (col("id") % days).cast("int")).as("net"))
        .write.partitionBy("net").parquet(z.reports)
      LP.registerTable(spark, z, table)
      sc.addSparkListener(listener)
      val counts = LP.dailyCounts(spark, table).collect().map(_.getLong(1))
      org.apache.spark.GraftListenerBus.drain(sc)
      assert(counts.toSeq == Seq.fill(days)(2L))
      assert(listed.get() >= 1, "a non-local zone should list its partitions in a Spark job")
    } finally {
      sc.removeSparkListener(listener)
      spark.sql(s"DROP TABLE IF EXISTS $table")
      spark.conf.unset("fs.graftfs.impl")
    }
  }

  test("a daily interval on local zones starts no process: file:// resolves to " +
    "NioLocalFileSystem, so no directory or file written forks a chmod") {
    // a file:// instance cached from a plain conf would keep Hadoop's class
    val fs = FileSystem.get(URI.create("file:///"), spark.sessionState.newHadoopConf())
    assert(fs.isInstanceOf[NioLocalFileSystem], s"file:// is ${fs.getClass.getName}")
    val z = freshZones()
    val table = s"launch_events_forks_${math.abs(z.base.hashCode)}"
    org.apache.spark.GraftExecutorMetrics.poll() // Spark's one-off page-size probe
    val recording = new Recording()
    recording.enable("jdk.ProcessStart")
    recording.start()
    val got = try {
      assert(LP.ingest(z, day, (_, _, _) => fixtureA1))
      LP.transform(spark, z, day)
      LP.publish(spark, z, day)
      LP.registerTable(spark, z, table)
      LP.dailyCounts(spark, table).collect().toSeq
    } finally recording.stop()
    val dump = Files.createTempFile("graft_forks", ".jfr")
    try {
      recording.dump(dump)
      val started = RecordingFile.readAllEvents(dump).asScala
        .filter(_.getEventType.getName == "jdk.ProcessStart").map(_.getString("command"))
      assert(got == Seq(Row(java.sql.Date.valueOf(day), 2L)))
      assert(started.size == 0, s"${started.size} processes started, first: ${started.take(3)}")
    } finally {
      recording.close()
      Files.delete(dump)
      spark.sql(s"DROP TABLE $table")
    }
  }

  test("serving-schema drift is detected (C8 gap the reference leaves open)") {
    val z = freshZones()
    val table = s"launch_events_drift_${math.abs(z.base.hashCode)}"
    LP.putRaw(z, day, fixtureA1)
    LP.transform(spark, z, day)
    LP.publish(spark, z, day)
    LP.registerTable(spark, z, table)
    LP.validateServingSchema(spark, z, table) // in-sync: passes
    // a drifted catalog declaration over the SAME files must fail loudly
    val drifted = s"${table}_v2"
    spark.sql(
      s"""CREATE TABLE $drifted
         |  (id STRING, url STRING, name STRING, status STRING,
         |   image_url STRING, license STRING, extra_col INT, net DATE)
         |USING PARQUET PARTITIONED BY (net)
         |LOCATION '${z.reports}'""".stripMargin)
    val e = intercept[IllegalStateException] {
      LP.validateServingSchema(spark, z, drifted)
    }
    assert(e.getMessage.contains("extra_col"))
    spark.sql(s"DROP TABLE $table")
    spark.sql(s"DROP TABLE $drifted")
  }

  test("ingest follows pagination; reference would drop page 2 (C1 fix)") {
    val page1 =
      """{"count": 2, "next": "https://api/launches/?offset=1", "previous": null,
        | "results": [{"id": "p1", "url": "u1", "name": "n1",
        |   "status": {"name": "s", "abbrev": "s"}, "image": null,
        |   "net": "2024-12-01T01:00:00Z", "last_updated": "x"}]}"""
        .stripMargin.replaceAll("\n", " ")
    val page2 = page1.replace(""""next": "https://api/launches/?offset=1"""", """"next": null""")
      .replace("p1", "p2")
    val z = freshZones()
    var calls = 0
    val fetch: LP.PageFetcher = (_, _, offset) => {
      calls += 1
      if (offset == 0) page1 else page2
    }
    assert(LP.ingest(z, day, fetch))
    assert(calls == 2)
    val rows = LP.launchEvents(LP.readRaw(spark, z, day))
    assert(rows.select("id").orderBy("id").collect().map(_.getString(0)).toSeq
      == Seq("p1", "p2"))
  }
}
