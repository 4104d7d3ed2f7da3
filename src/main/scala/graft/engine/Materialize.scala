package graft.engine

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, GraftSqlBridge}

/** The one place that decides how a reused intermediate is held.
  *
  * Every operator or query that reads an intermediate more than once, or
  * must read it before a write replaces its input, passes it through here.
  * The relation returned reads a local checkpoint of `df`'s physical plan
  * ([[GraftSqlBridge.checkpointed]]). When the caller set the layout (a
  * `repartition` or `coalesce` under per-row operators only) or the plan
  * has no shuffle, the plan is prepared without the adaptive rule and the
  * relation keeps its partitioning and ordering: a consumer keyed like it
  * (an aggregate, a co-partitioned join, a window) plans no exchange above
  * it. A plan with a shuffle the planner placed runs adaptively, so AQE
  * coalesces it (a write fed by the relation writes as many files as AQE's
  * partitions, not `spark.sql.shuffle.partitions`). The blocks live on the executor that
  * computed them and are released with the RDD (Spark's `ContextCleaner`,
  * once the relation is unreachable).
  *
  *  - [[apply]] (the default) runs nothing: the plan executes in the first
  *    job that consumes the relation, which fills the blocks every later
  *    consumer reads.
  *  - [[now]] fills the blocks before it returns, for one of the
  *    [[Reason]]s below.
  *
  * Jobs run here are named after the caller (`now at File.scala:line`), as
  * Spark names the jobs of its own actions.
  */
object Materialize {

  /** Why a site cannot leave the first fill to its first consumer. */
  sealed abstract class Reason(val why: String)

  /** A write replaces files the input reads, so the input must be read in
    * full before the write starts. */
  case object WriteReplacesInput
    extends Reason("a write replaces the files the input reads")

  /** The first consumers run as concurrent jobs (broadcast builds racing on
    * Spark's broadcast pool), and each would compute the blocks itself. */
  case object ConcurrentConsumers
    extends Reason("the first consumers run concurrently")

  /** `df` held for reuse; nothing runs until a job consumes it. */
  def apply(df: DataFrame): DataFrame =
    atCaller(df.sparkSession.sparkContext, "materialize", "") {
      GraftSqlBridge.checkpointed(df)._1
    }

  /** `df` held for reuse, its blocks filled by one job before the call
    * returns. */
  def now(df: DataFrame, reason: Reason): DataFrame = {
    val sc = df.sparkSession.sparkContext
    atCaller(sc, "now", s" (${reason.why})") {
      val (out, rdd) = GraftSqlBridge.checkpointed(df)
      sc.runJob(rdd, (it: Iterator[_]) => while (it.hasNext) it.next())
      out
    }
  }

  /** Runs `body` with Spark's call site set to the frame that called this
    * object, so the RDD and any job `body` makes name the caller (the long
    * form adds `note`). */
  private def atCaller[T](sc: SparkContext, entry: String, note: String)(body: => T): T = {
    val self = getClass.getName.stripSuffix("$")
    val caller = Thread.currentThread.getStackTrace.iterator
      .dropWhile(!_.getClassName.startsWith(self))
      .dropWhile(_.getClassName.startsWith(self))
      .nextOption()
    val keys = Seq("callSite.short", "callSite.long")
    val saved = keys.map(sc.getLocalProperty)
    caller.foreach { f =>
      sc.setLocalProperty(keys(0), s"$entry at ${f.getFileName}:${f.getLineNumber}")
      sc.setLocalProperty(keys(1), s"$f$note")
    }
    try body finally keys.zip(saved).foreach { case (k, v) => sc.setLocalProperty(k, v) }
  }
}
