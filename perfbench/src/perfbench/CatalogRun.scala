package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.queries.Catalog

/** Catalog queries over the sf1 directory, each executed through the noop
  * sink once per pass, in a seed-shuffled order. The untimed warm-up
  * executes every query with an order-insensitive result digest on top and
  * compares it with the recorded value. */
final class CatalogRun(ctx: Ctx) extends Workload {
  /** One timed pass per three seconds of the run, at least five, so that
    * the tail sample lies above the median. */
  val MinPasses = 5
  val PassSeconds = 3
  val LastRoundPasses = 2

  private val queries = Catalog.queries
  val names: IndexedSeq[String] = CatalogRun.DefaultSet
  require(names.forall(queries.contains), s"unknown query in ${names.mkString(",")}")

  private val expected: Map[String, String] = CatalogRun.expectedDigests
  private val digests = mutable.LinkedHashMap.empty[String, String]
  private var passes = 0

  /** Order-insensitive digest of a result: row count and the exact sum of
    * per-row 64-bit hashes. */
  private def digest(df: DataFrame): String = {
    val r = df.select(xxhash64(df.columns.map(c => col(s"`$c`")): _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")))
      .head()
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")}"
  }

  private def build(name: String): DataFrame =
    ctx.layer("catalog.build")(queries(name)(ctx.spark, ctx.sf1))

  private def execute(name: String): Double = {
    val df = build(name)
    val t0 = System.nanoTime()
    ctx.layer("catalog.exec")(df.write.format("noop").mode("overwrite").save())
    ctx.elapsedSince(t0)
  }

  /** The first set-up round runs every query with the result digest on
    * top and checks each against its recorded value; each later round, in
    * its own session, runs untimed passes: one, and `LastRoundPasses` in
    * the last. The timed passes thus start in a session that has run every
    * query's plan twice. */
  def warmUp(ctx: Ctx, round: Int): Unit =
    if (round == 1) names.foreach { n =>
      val d = try digest(build(n)) catch {
        case scala.util.control.NonFatal(e) => s"error: ${e.getClass.getSimpleName}"
      }
      digests(n) = d
      ctx.check(expected.get(n).contains(d),
        s"$n digest $d != expected ${expected.getOrElse(n, "(none recorded)")}")
    } else for (_ <- 1 to (if (round == Main.SetupRounds) LastRoundPasses else 1))
      names.foreach(execute)

  def timed(ctx: Ctx): Unit = {
    val rng = new scala.util.Random(ctx.seed)
    for (_ <- 0 until math.max(MinPasses, ctx.seconds / PassSeconds)) {
      rng.shuffle(names).foreach { n =>
        ctx.timedOp(n) { op => op.serveSeconds = execute(n); 1L }(_ => true)
      }
      passes += 1
    }
  }

  /** Per query, its median time in the last third of the passes (rounded
    * up) over its median in the first third; the geometric mean over
    * queries, so that neither the mix nor the order of queries moves it. */
  override def growthRatio(ops: Seq[Op]): Double = {
    val k = (passes + 2) / 3
    val perQuery = ops.groupBy(_.name).values.map { os =>
      val xs = os.sortBy(_.index).map(_.seconds)
      math.log(Stats.median(xs.takeRight(k)) / Stats.median(xs.take(k)))
    }
    math.exp(perQuery.sum / perQuery.size)
  }

  def layerMetrics(ctx: Ctx): Map[String, Double] = Map(
    "catalog.build_s" -> Stats.median(ctx.ops.map(_.layers.getOrElse("catalog.build", 0.0)).toSeq),
    "catalog.exec_s" -> Stats.median(ctx.ops.map(_.layers.getOrElse("catalog.exec", 0.0)).toSeq))

  def record(ctx: Ctx): Map[String, Any] = {
    Map(
      "queries" -> names.size, "passes" -> passes,
      "input_rows" -> graft.sources.Tables.all.map(
        graft.sources.Tables.rowCount(ctx.spark, ctx.sf1, _)).sum,
      "input_bytes" -> CatalogRun.inputBytes(ctx.sf1),
      "digests" -> digests.toMap,
      "query_p50_s" -> ctx.ops.groupBy(o => o.name).map { case (n, os) =>
        n -> Stats.median(os.map(_.seconds).toSeq) })
  }
}

object CatalogRun {
  /** Five queries, about 3 s a pass at sf1 on 4 cores, so that a run fits
    * the benchmark's time budget (a pass over all 101 takes ~125 s). They
    * span layers later changes rewrite: a one-task-floor scan (q03), an
    * exact dedup (x17), text and event aggregates (q13, q05) and the
    * per-row quality-gate kernel (x96). */
  val DefaultSet: IndexedSeq[String] = IndexedSeq(
    "q03_eq_filter", "x17_dedup_exact", "q13_top_tokens",
    "q05_daily_distinct", "x96_quality_gate")

  /** Recorded `name<TAB>digest` lines, shipped beside the benchmark. */
  def expectedDigests: Map[String, String] = {
    val in = getClass.getResourceAsStream("/perfbench/catalog_sf1_digests.tsv")
    if (in == null) Map.empty
    else try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.contains('\t')).map { l =>
        val Array(k, v) = l.split('\t'); k -> v }.toMap
    finally in.close()
  }

  def inputBytes(dir: String): Long =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
}
