package graft

import java.time.LocalDate
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

import graft.engine.GraftSession
import graft.operators.PartitionIncremental
import graft.pipeline.{LaunchPipeline => LP}

/** Cross-process catalog persistence: the reference serves its table through
  * a REAL Hive metastore (hive/conf/metastore-site.xml; Trino resolves
  * `hive.default.launch_events` via thrift), so registration must outlive the
  * session that created it. The in-memory session catalog used by default is
  * fine for one session but is a gap for multi-session serving — this main
  * proves the engine closes it with Spark's built-in Hive catalog over an
  * embedded Derby metastore (config, not code: `catalogImplementation=hive`).
  *
  * Two phases in two separate JVMs (Derby's embedded lock is released at
  * process exit, mirroring metastore-backed engines restarting):
  *   phase1 <base>: run the pipeline for one day and register the external
  *     table and its partition in the metastore; run a second day, whose
  *     partition is added to the existing table; re-publish day 1 with
  *     changed content. The serving query is verified after each step.
  *     The re-published day alone is recomputed.
  *   phase2 <base>: a FRESH process resolves the same table and both days
  *     purely from the metastore (no re-registration) and serves them from
  *     phase 1's persisted serving cache with no Spark job; it then deletes
  *     the cache and serves the same counts again, recomputed.
  * [[graft.HiveCatalogSpec]] forks both phases and asserts the markers.
  */
object HiveCatalogDemo {

  private val fixture: String =
    """{"count": 2, "next": null, "previous": null, "results": [
      | {"id": "h1", "url": "https://x/1", "name": "Falcon 9 | Demo",
      |  "status": {"name": "Launch Successful", "abbrev": "Success"},
      |  "image": {"image_url": "https://img/1.png", "license": {"name": "CC"}},
      |  "net": "2024-12-01T13:05:00Z", "last_updated": "x"},
      | {"id": "h2", "url": "https://x/2", "name": "Soyuz | Resupply",
      |  "status": {"name": "Go for Launch", "abbrev": "Go"},
      |  "image": null,
      |  "net": "2024-12-01T22:45:00Z", "last_updated": "x"}
      |]}""".stripMargin.replaceAll("\n", " ")

  /** The engine's session posture (so the metastore client creates the
    * warehouse and partition directories through its `file://` filesystem)
    * plus the Hive catalog over an embedded Derby metastore. */
  private def session(base: String): SparkSession =
    GraftSession.configure(
      SparkSession.builder().master("local[4]").appName("graft-hive-catalog"), 4)
      .config("spark.sql.catalogImplementation", "hive")
      .config("spark.sql.warehouse.dir", s"$base/warehouse")
      .config("javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=$base/metastore_db;create=true")
      .getOrCreate()

  /** The served daily counts must be exactly `want`; returns the serving
    * call's report and the number of Spark jobs it ran. The job count
    * waits for a marker job that runs after the call: one listener queue
    * delivers job starts in order. */
  private def expect(spark: SparkSession, table: String, what: String,
                     want: Map[LocalDate, Long]): (PartitionIncremental.Report, Int) = {
    val sc = spark.sparkContext
    val started = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.add(Option(e.properties).map(_.getProperty("spark.job.description", ""))
          .getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      val got = LP.dailyCounts(spark, table).collect()
        .map(r => r.getDate(0).toLocalDate -> r.getLong(1)).toMap
      require(got == want, s"$what: serving query wrong: $got, expected $want")
      val report = PartitionIncremental.lastReport
      sc.setJobDescription("marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val jobs = Iterator.continually(Option(started.poll(60, TimeUnit.SECONDS))
        .getOrElse(sys.error(s"$what: the marker job never started")))
        .takeWhile(_ != "marker").size
      (report, jobs)
    } finally sc.removeSparkListener(listener)
  }

  def main(args: Array[String]): Unit = {
    val Array(phase, base) = args
    val day = LocalDate.parse("2024-12-01")
    val next = day.plusDays(1)
    // day 1 re-published with both launches under one id: one distinct event
    val served = Map(day -> 1L, next -> 2L)
    val spark = session(base)
    spark.sparkContext.setLogLevel("WARN")
    val table = "launch_events_hive"
    phase match {
      case "phase1" =>
        val zones = LP.Zones(s"$base/lake")
        LP.run(spark, zones, day, (_, _, _) => fixture)
        LP.registerTable(spark, zones, table)
        expect(spark, table, "phase1 day 1", Map(day -> 2L))
        // a second day adds its partition to the existing metastore table
        LP.run(spark, zones, next, (_, _, _) => fixture.replaceAll(day.toString, next.toString))
        LP.registerTable(spark, zones, table)
        expect(spark, table, "phase1 day 2", Map(day -> 2L, next -> 2L))
        // day 1 again with changed content (the raw landing is at-most-once,
        // so the old landing goes first): the refresh must drop the cached
        // file listing of the re-published partition
        val raw = new org.apache.hadoop.fs.Path(zones.raw(day))
        raw.getFileSystem(spark.sessionState.newHadoopConf()).delete(raw, false)
        LP.run(spark, zones, day, (_, _, _) => fixture.replace("\"h2\"", "\"h1\""))
        LP.registerTable(spark, zones, table)
        val (republished, _) = expect(spark, table, "phase1 re-published day 1", served)
        require(republished.changed == 1 && republished.state == "hit",
          s"phase1: the re-published day alone should recompute: $republished")
        println("HIVE_PHASE1_OK")
      case "phase2" =>
        // no registration here: resolution must come from the metastore,
        // and the counts from phase 1's cache, with no Spark job
        require(spark.catalog.tableExists(table), s"$table not in metastore")
        val (cached, jobs) = expect(spark, table, "phase2", served)
        require(cached.state == "hit" && cached.changed == 0 && jobs == 0,
          s"phase2: should serve phase 1's cache with no job: $cached, $jobs jobs")
        // deleting the cache is always safe: the same counts, recomputed
        val cache = new Path(s"$base/lake/reports/launch/${PartitionIncremental.CacheDir}")
        cache.getFileSystem(spark.sessionState.newHadoopConf()).delete(cache, true)
        val (cold, _) = expect(spark, table, "phase2 without the cache", served)
        require(cold.state == "cold" && cold.changed == 2, s"phase2: $cold")
        println("HIVE_PHASE2_OK")
    }
    spark.stop()
  }
}
