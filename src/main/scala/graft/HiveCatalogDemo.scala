package graft

import java.time.LocalDate

import org.apache.spark.sql.SparkSession

import graft.engine.GraftSession
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
  *   phase2 <base>: a FRESH process resolves the same table and both days
  *     purely from the metastore (no re-registration) and re-runs the
  *     serving query.
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

  /** The served daily counts must be exactly `want`. */
  private def expect(spark: SparkSession, table: String, what: String,
                     want: Map[LocalDate, Long]): Unit = {
    val got = LP.dailyCounts(spark, table).collect()
      .map(r => r.getDate(0).toLocalDate -> r.getLong(1)).toMap
    require(got == want, s"$what: serving query wrong: $got, expected $want")
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
        expect(spark, table, "phase1 re-published day 1", served)
        println("HIVE_PHASE1_OK")
      case "phase2" =>
        // no registration here: resolution must come from the metastore
        require(spark.catalog.tableExists(table), s"$table not in metastore")
        expect(spark, table, "phase2", served)
        println("HIVE_PHASE2_OK")
    }
    spark.stop()
  }
}
