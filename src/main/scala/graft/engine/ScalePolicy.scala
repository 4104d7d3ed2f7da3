package graft.engine

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LeafNode
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
  *    directly: x34's one-task sort tail, x62's array funnel, x84's
  *    window-layered `TextAnalysis.mixtureSample` and x102's
  *    `Dedup.contaminationCounts` over a coalesced scan instead of a
  *    kernel-once checkpoint;
  *  - the catalog's per-row kernel spreads ([[KernelSpread]]; x91's
  *    join-free `TextAnalysis.pmiCollocations` follows that decision);
  *  - `Relational.keyedRowNumbers`' window route and
  *    `PartitionIncremental`'s one-task recompute.
  * Operators that route on a statistic of their own probe job (a bucket,
  * cell or block count, an eval-size estimate, a bounded row count)
  * report the route they took through [[route]], with that statistic and
  * the cap it was held against.
  *
  * Statistics are the two zero-job ones: the optimizer's size estimate
  * (`optimizedPlan.stats.sizeInBytes`, compressed parquet bytes scaled by
  * any column projection) and the parquet-footer row count
  * ([[Tables.rowCount]]), each summed over the named tables, or over the
  * scanned relations for [[oneTask]]. An input is
  * small for a [[Tier]] iff BOTH statistics are at most the tier's caps:
  * compressed bytes drift with codec and corpus, row counts do not, and a
  * wide-row corpus under the row cap is still only small if its bytes are.
  *
  * One conf steers every decision, `spark.graft.scale`:
  *   - `auto` (default): decide on the statistics;
  *   - `large`: every decision answers "not small", so each query takes
  *     its at-scale branch on any data (the forced oracle leg and the
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

  /** Whether the named tables of `dir` together fit `tier`. `columns`
    * projects a single table before its bytes are estimated, for gates
    * whose input is a column subset (the kernel tier's (doc_id, text)). */
  def fits(s: SparkSession, tier: Tier, dir: String, tables: Seq[String],
           columns: Seq[String] = Nil): Boolean = {
    val bytes = tables.map { n =>
      val df = Tables(s, dir, n)
      val in = if (columns.isEmpty) df else df.select(columns.map(col): _*)
      in.queryExecution.optimizedPlan.stats.sizeInBytes
    }.sum
    val rows = tables.map(Tables.rowCount(s, dir, _)).sum
    sized(s, tier, tables.mkString("+") +
      (if (columns.isEmpty) "" else columns.mkString("(", ",", ")")), bytes, rows)
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
  def oneTask(df: DataFrame): DataFrame = {
    val leaves = df.queryExecution.analyzed.collectWithSubqueries { case l: LeafNode => l }
    val scans = leaves.collect { case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) => fs }
    val files = scans.distinctBy(_.location.rootPaths)
    val roots = files.flatMap(_.location.rootPaths)
    if (scans.size == leaves.size && sized(df.sparkSession, OneTask,
        roots.map(_.getName.stripSuffix(".parquet")).mkString("+"),
        files.map(f => BigInt(f.sizeInBytes)).sum,
        roots.map(p => Tables.footerRows(df.sparkSession, p.toString)).sum))
      GraftSqlBridge.oneTaskRewrite(df)
    else df
  }

  /** Whether `df` is already ONE physical partition, so a caller may take
    * its serial route instead of the distributed one (a zero-job check on
    * the planned RDD). Under `large` the answer is no without planning. */
  def onePartition(input: String, df: DataFrame): Boolean =
    single(df.sparkSession, input, "partitions", df.rdd.getNumPartitions)

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

  /** Records the route an operator chose on a statistic of its own
    * (`statistics` names it and the cap it was held against) and returns
    * `branch`. */
  def route(tier: String, input: String, statistics: String,
            branch: String): String =
    decide(Decision(tier, input, statistics, branch))

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
