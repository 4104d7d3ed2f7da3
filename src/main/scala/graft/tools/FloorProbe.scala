package graft.tools

import org.apache.spark.sql.SparkSession

import graft.engine.GraftSession

/** Diagnostic main behind BASELINE.md's floor decomposition: measures the
  * irreducible per-job / per-stage cost of this Spark session shape
  * (local[N], the GraftSession posture) with no real data work.
  * Each probe is best-of-5 after a warm-up, in seconds.
  *
  * Probes:
  *   empty1    — 1-task job over spark.range(1), noop write
  *   tasks32   — 32-task job, trivial rows, noop write
  *   shuffle1  — 2-stage job: range(1000) groupBy → noop (one exchange)
  *   shuffle2  — 3-stage job: two chained exchanges (groupBy then orderBy)
  *   scan      — parquet scan of the smallest table, count-star shape
  */
object FloorProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.getOrCreate("graft-floor")
    import spark.implicits._

    def best5(body: => Unit): Double = {
      body // warm-up: codegen + listing
      (1 to 5).map { _ =>
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
      }.min
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()

    val q07 = graft.queries.Catalog.queries("q07_group_count")(spark, sfDir)
    val x18 = () => graft.queries.Catalog.queries("x18_dedup_minhash")(spark, sfDir)
    val x20 = () => graft.queries.Catalog.queries("x20_dedup_ngram")(spark, sfDir)
    val probes = Seq(
      // raw scheduler floor: one trivial RDD job, no SQL layer
      "rdd1" -> (() => { spark.sparkContext.parallelize(Seq(1), 1).count(); () }),
      // SQL-layer floor minus planning: the same pre-built DataFrame re-written
      "reuse_q07" -> (() => noop(q07)),
      // driver-side planning cost of a complex LAZY query (no execution —
      // x20 no longer qualifies: its construction eagerly runs the shingle
      // df aggregate, see build_x20)
      "plan_x18" -> (() => { x18().queryExecution.executedPlan; () }),
      // x20 query CONSTRUCTION: includes the eager one-job bounded df
      // collect + broadcast (Actions.boundedRows) — job floor + real agg,
      // not pure planning
      "build_x20" -> (() => { x20(); () }),
      // relation (re)construction cost: listing + footer schema per read.
      // Deliberately bypasses Tables' session cache (which would make this
      // a map lookup): a FRESH DataSource resolution per call
      "tbl_load" -> (() => { spark.read.parquet(s"$sfDir/lineitem.parquet"); () }),
      "empty1" -> (() => noop(spark.range(1).toDF())),
      "tasks32" -> (() => noop(spark.range(0, 32, 1, 32).toDF())),
      "shuffle1" -> (() => noop(
        spark.range(1000).toDF("v").groupBy($"v" % 10).count())),
      "shuffle2" -> (() => noop(
        spark.range(1000).toDF("v").groupBy(($"v" % 10).as("g")).count()
          .orderBy($"g"))),
      "scan" -> (() => noop(spark.read.parquet(s"$sfDir/region.parquet")))
    )
    val r = probes.map { case (n, f) => n -> best5(f()) }
    println(r.map { case (n, s) =>
      s""""$n":${String.format(java.util.Locale.ROOT, "%.4f", Double.box(s))}"""
    }.mkString("{", ",", "}"))
    spark.stop()
  }
}
