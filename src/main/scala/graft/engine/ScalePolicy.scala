package graft.engine

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LeafNode
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.col
import org.slf4j.LoggerFactory

import graft.sources.Tables

/** The one answer to "is this input small?", and the one record of every
  * branch a build took.
  *
  * Every small-input branch in the engine asks this object, and nothing
  * else reads a size or row statistic to choose a plan shape:
  *  - the catalog's one-task plans, derived from each query's at-scale
  *    plan by one rewrite ([[oneTask]]);
  *  - the named forks, whose small branch runs another algorithm, so a
  *    layout rewrite cannot derive it; they ask [[fits]] for [[OneTask]]
  *    on their input table: x34's one-task sort tail, x62's array funnel
  *    and x102's `Dedup.contaminationCounts` over a coalesced scan instead
  *    of a kernel-once checkpoint;
  *  - the catalog's per-row kernel spreads, derived from the built input
  *    each kernel query spreads ([[kernelSpread]], one [[KernelSpread]]
  *    decision per query);
  *  - operators with a one-task algorithm of their own, which take it when
  *    their input is planned as one partition ([[onePartition]]):
  *    `Relational.keyedRowNumbers`' window route,
  *    `TextAnalysis.pmiCollocations`' join-free tail,
  *    `TextAnalysis.mixtureSample`'s window rates and
  *    `Dedup.contaminationCounts`' inline build; no caller passes a flag;
  *  - `PartitionIncremental`'s one-task recompute;
  *  - the probe routes: an operator with a driver or kernel algorithm for
  *    inputs whose statistic, measured by the operator's own probe job, is
  *    at most a cap, and a distributed algorithm for the rest. The
  *    operator names the [[Route]] and hands its probe to [[probe]] (a
  *    counted statistic), [[probeCount]] (a bounded row count) or
  *    [[probeRows]] (a bounded collect whose rows the small side uses);
  *    the entry runs it, holds the statistic against the cap and records
  *    the branch.
  *
  * The size tiers' statistics are the two zero-job ones: the optimizer's
  * size estimate (`optimizedPlan.stats.sizeInBytes`, compressed parquet
  * bytes scaled by any column projection) and the parquet-footer row count
  * ([[Tables.rowCount]]), each summed over the input's file-scan
  * relations ([[oneTask]] sums the relations' own bytes, since a whole
  * query's estimate is not an input size). An input is
  * small for a [[Tier]] iff BOTH statistics are at most the tier's caps:
  * compressed bytes drift with codec and corpus, row counts do not, and a
  * wide-row corpus under the row cap is still only small if its bytes are.
  *
  * One conf steers every decision, `spark.graft.scale`:
  *   - `auto` (default): decide on the statistics;
  *   - `large`: every decision answers "not small", so each query takes
  *     its at-scale branch on any data, and every probe route its
  *     distributed side with no probe job (the forced oracle leg and the
  *     at-scale plan pins run on tiny corpora this way).
  * Any other value fails the first decision loudly.
  *
  * Each decision is logged at INFO (logger `graft.engine.ScalePolicy`) as
  * one line naming the tier, inputs, statistics, caps and branch, and
  * [[recorded]] hands the calling thread's decisions to a caller (the
  * "decisions" of each `graft.tools.JobProfile` record).
  */
object ScalePolicy {

  val Conf = "spark.graft.scale"

  /** A size class: inputs of at most `maxBytes` and at most `maxRows` take
    * the small-input branch. */
  final case class Tier(name: String, maxBytes: Long, maxRows: Long) {
    def admits(bytes: BigInt, rows: Long): Boolean =
      bytes <= maxBytes && rows <= maxRows
  }

  /** Whole-query one-task fusion: below 16 MiB and 750k rows the entire
    * query runs as one single-task stage. 750k rows keeps every sf0.1
    * fusion (lineitem has 600k) and never holds from sf1 (events 1M). */
  val OneTask = Tier("one-task", 16L << 20, 750L * 1000)

  /** Per-row kernel spread: a kernel input spreads across cores from
    * 2 MiB or 20k rows (4× sf0.1's 5k documents, 2.5× under sf1's 50k). */
  val KernelSpread = Tier("kernel-spread", (2L << 20) - 1, 20L * 1000 - 1)

  /** Branch names of the size gates ([[fits]], [[oneTask]],
    * [[onePartition]], [[oneScanTask]]). */
  val Small = "small"
  val AtScale = "at-scale"

  /** One decision, as logged: `branch` is the branch taken. */
  final case class Decision(tier: String, input: String, statistics: String,
                            branch: String) {
    override def toString: String =
      s"scale tier=$tier input=$input $statistics branch=$branch"
  }

  private val log = LoggerFactory.getLogger(getClass.getName.stripSuffix("$"))
  private val sink = new ThreadLocal[ArrayBuffer[Decision]]

  /** True when the conf forces every at-scale branch. */
  def large(s: SparkSession): Boolean = s.conf.get(Conf, "auto") match {
    case "auto" => false
    case "large" => true
    case other => throw new IllegalArgumentException(
      s"$Conf=$other: expected 'auto' or 'large'")
  }

  /** Whether the built input `df` fits `tier`, on its own statistics: the
    * optimized plan's size estimate, which already scales the relation
    * bytes by any column projection, and the footer rows of its file-scan
    * leaves. The decision's input names those leaves. An input with a leaf
    * that is not a file scan is not small, with no decision. */
  def fits(tier: Tier, df: DataFrame): Boolean = fitsAs(tier, df, "")

  /** `df` laid out for a per-row kernel: ONE partition when it [[fits]]
    * [[KernelSpread]] (`coalesce(1)` reports `SinglePartition`, so the
    * consumers fuse into one task), else hash-spread on `key` across
    * `defaultParallelism` partitions. A user-specified count is exempt from
    * AQE's size-based coalescing, which cannot see per-row kernel cost. The
    * decision's input names the columns `df` spreads. */
  def kernelSpread(df: DataFrame, key: String): DataFrame =
    if (fitsAs(KernelSpread, df, df.columns.mkString("(", ",", ")"))) df.coalesce(1)
    else df.repartition(df.sparkSession.sparkContext.defaultParallelism, col(key))

  private def fitsAs(tier: Tier, df: DataFrame, columns: String): Boolean =
    sizedScans(tier, df, columns, _ => df.queryExecution.optimizedPlan.stats.sizeInBytes)
      .contains(true)

  /** The decision of `tier` on the file-scan leaves of `df`'s analyzed plan,
    * subqueries and views included, each relation once: `bytes` of them and
    * their footer rows. None, with no decision, when a leaf is not a file
    * scan. */
  private def sizedScans(tier: Tier, df: DataFrame, columns: String,
                         bytes: Seq[HadoopFsRelation] => BigInt): Option[Boolean] = {
    val leaves = df.queryExecution.analyzed.collectWithSubqueries { case l: LeafNode => l }
    val scans = leaves.collect { case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) => fs }
    Option.when(scans.size == leaves.size) {
      val files = scans.distinctBy(_.location.rootPaths)
      val roots = files.flatMap(_.location.rootPaths)
      sized(df.sparkSession, tier, roots.map(_.getName.stripSuffix(".parquet")).mkString("+") +
        columns, bytes(files), roots.map(p => Tables.footerRows(df.sparkSession, p.toString)).sum)
    }
  }

  private def sized(s: SparkSession, tier: Tier, input: String, bytes: BigInt,
                    rows: Long): Boolean = {
    val forced = large(s)
    decide(Decision(tier.name, input,
      s"bytes=$bytes rows=$rows caps=${tier.maxBytes}/${tier.maxRows}" +
        (if (forced) s" $Conf=large" else ""),
      if (!forced && tier.admits(bytes, rows)) Small else AtScale)) == Small
  }

  /** `df` as ONE task when its inputs fit [[OneTask]], else `df` itself.
    * The inputs are the file-scan leaves of the analyzed plan, subqueries
    * and views included; a relation read twice counts once. Small inputs
    * get the plan rewrite of `GraftSqlBridge.oneTaskRewrite`: the whole query
    * plans as one single-task stage with no exchange, where the at-scale
    * body keeps its exchanges and broadcasts. A leaf that is not a file
    * scan (a checkpoint, a local relation) leaves `df` as it is, with no
    * decision. */
  def oneTask(df: DataFrame): DataFrame =
    if (sizedScans(OneTask, df, "", _.map(f => BigInt(f.sizeInBytes)).sum).contains(true))
      GraftSqlBridge.oneTaskRewrite(df)
    else df

  /** Whether `df` is already ONE physical partition, so a caller may take
    * its serial route instead of the distributed one. The count is the
    * planned one and no job runs: a plan with an exchange answers from the
    * adaptive plan's input (executing it, as `Dataset.rdd` would, runs its
    * map stages), any other plan from its RDD. Under `large` the answer is
    * no without planning. */
  def onePartition(input: String, df: DataFrame): Boolean =
    single(df.sparkSession, input, "partitions", df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.inputPlan.outputPartitioning.numPartitions
      case _ => df.rdd.getNumPartitions
    })

  /** Whether a file scan that Spark plans as `tasks` tasks is ONE task, so
    * a caller may read its input as one partition without losing any
    * parallelism (the caller counts the tasks from its own listing, with no
    * job, footer read or planning pass). Under `large` the answer is no
    * without counting. */
  def oneScanTask(s: SparkSession, input: String, tasks: => Int): Boolean =
    single(s, input, "scan-tasks", tasks)

  private def single(s: SparkSession, input: String, statistic: String,
                     n: => Int): Boolean =
    if (large(s))
      decide(Decision("one-partition", input, s"$Conf=large", AtScale)) == Small
    else {
      val k = n
      decide(Decision("one-partition", input, s"$statistic=$k cap=1",
        if (k == 1) Small else AtScale)) == Small
    }

  /** A probe route's names: the decision's `tier` and `input`, the
    * `statistic` its probe measures, and its two branches. */
  final case class Route(tier: String, input: String, statistic: String,
                         small: String, atScale: String)

  /** Whether `route` takes its small side: `measure` runs the operator's
    * probe and returns the statistic with the cap it is held against, and
    * a statistic at most the cap is small. Under `large` the answer is no,
    * and `measure` does not run. */
  def probe(s: SparkSession, route: Route)(measure: => (Long, Long)): Boolean =
    routed(s, route) {
      val (n, cap) = measure
      (Option.when(n <= cap)(()), s"${route.statistic}=$n cap=$cap")
    }.isDefined

  /** Whether `df` has at most `cap` rows, counted in one job that ships one
    * long per partition ([[Actions.boundedCount]]), for `route`'s small
    * side. Under `large` the answer is no, with no job. */
  def probeCount(route: Route, df: DataFrame, cap: Long): Boolean =
    routed(df.sparkSession, route) {
      val n = Actions.boundedCount(df, cap)
      (n, bounded(route, n, cap))
    }.isDefined

  /** The rows of `df` when it has at most `cap` of them, collected in one
    * job ([[Actions.boundedRows]]) for `route`'s small side to use; None,
    * the at-scale side, when it has more, and under `large` with no job. */
  def probeRows(route: Route, df: DataFrame, cap: Int): Option[Array[Row]] =
    routed(df.sparkSession, route) {
      val rows = Actions.boundedRows(df, cap)
      (rows, bounded(route, rows.map(_.length.toLong), cap))
    }

  private def bounded(route: Route, n: Option[Long], cap: Long): String =
    n.fold(s"${route.statistic}>$cap")(k => s"${route.statistic}=$k") + s" cap=$cap"

  /** Records `route`'s decision: its small side when `measure` returns a
    * value (with the statistics it logs), else its at-scale side. */
  private def routed[T](s: SparkSession, route: Route)(
      measure: => (Option[T], String)): Option[T] =
    if (large(s)) {
      decide(Decision(route.tier, route.input, s"$Conf=large", route.atScale))
      None
    } else {
      val (out, statistics) = measure
      decide(Decision(route.tier, route.input, statistics,
        if (out.isDefined) route.small else route.atScale))
      out
    }

  /** Runs `body` and returns the decisions it made on this thread. */
  def recorded[T](body: => T): (T, Seq[Decision]) = {
    val buf = ArrayBuffer.empty[Decision]
    sink.set(buf)
    try {
      val out = body
      (out, buf.toSeq)
    } finally sink.remove()
  }

  private def decide(d: Decision): String = {
    log.info(d.toString)
    Option(sink.get).foreach(_ += d)
    d.branch
  }
}
