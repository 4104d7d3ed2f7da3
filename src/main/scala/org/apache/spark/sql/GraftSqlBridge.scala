package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark 4's `private[sql]` Column↔Expression conversions, so
  * graft's custom Catalyst expressions (e.g. [[graft.functions.DotProduct]])
  * can be exposed as user-facing `Column`s. Standard extension idiom: the
  * object lives in the `org.apache.spark.sql` package purely for access; it
  * contains no Spark-derived code.
  */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Blocks until every listener event posted so far has been delivered,
    * so listener counts read afterwards hold exactly the work done before
    * the call. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Whether a stage writes shuffle output (a map stage, not a result). */
  def isShuffleMapStage(s: org.apache.spark.scheduler.StageInfo): Boolean =
    s.shuffleDepId.isDefined

  /** Bounded top-k aggregate (`CollectTopK`): keeps at most `num` values of
    * `c` in a bounded priority queue — partial-agg friendly with state
    * capped at `num` elements per group regardless of group size, the
    * scale-safe alternative to `slice(sort_array(collect_list(..)), 1, k)`
    * (whose buffer grows with the group) and to a per-group ranking window
    * (whose sort serializes on hot keys). `reverse = true` keeps the k
    * SMALLEST values (ascending output order), `false` the k largest
    * (descending). NULL inputs are ignored (Collect semantics), so a
    * `when(cond, v)` child doubles as a filter. */
  def collectTopK(c: Column, num: Int, reverse: Boolean): Column =
    classic.ExpressionUtils.column(
      new catalyst.expressions.aggregate.CollectTopK(
        classic.ExpressionUtils.expression(c), num, reverse, 0, 0)
        .toAggregateExpression())

  /** Raw (unwrapped) `CollectTopK` for SQL-surface registration — the
    * analyzer wraps a builder-returned AggregateFunction itself. */
  def collectTopKExpr(child: Expression, num: Int,
                      reverse: Boolean): Expression =
    new catalyst.expressions.aggregate.CollectTopK(child, num, reverse, 0, 0)

  /** Bloom-filter sketch aggregate over a LONG column (`BloomFilterAggregate`
    * — the expression behind Spark's own runtime row-level filtering).
    * Partial-agg friendly: each task folds its rows into a fixed-size bit
    * array and partials OR-merge, so the full scan reduces to ONE binary
    * value of `numBits/8` bytes with no shuffle of the raw values — the
    * property that makes it the 100 TB membership-prefilter primitive.
    * `expectedItems`/`numBits` must stay within the session's
    * `spark.sql.optimizer.runtime.bloomFilter.maxNumItems`/`maxNumBits`
    * caps (4M / 2^26 by default) or analysis fails. */
  def bloomFilterAgg(c: Column, expectedItems: Long, numBits: Long): Column =
    classic.ExpressionUtils.column(
      new catalyst.expressions.aggregate.BloomFilterAggregate(
        classic.ExpressionUtils.expression(c),
        catalyst.expressions.Literal(expectedItems),
        catalyst.expressions.Literal(numBits))
        .toAggregateExpression())

  /** `df` with its analyzed plan rewritten to run as ONE task, for a query
    * whose inputs [[graft.engine.ScalePolicy.oneTask]] found small. Three
    * layout rewrites, applied to the main plan and to every subquery and
    * view plan:
    *  - a file-scan leaf becomes `coalesce(1)`: a one-partition child
    *    reports `SinglePartition`, which satisfies every required
    *    distribution, so no exchange is planned above it;
    *  - a user `repartition`/`repartitionByRange` becomes `coalesce(1)`
    *    (where only per-row operators separate it from a scan, the scan
    *    keeps no coalesce of its own);
    *  - a `broadcast` hint on an equi-join side becomes `shuffle_hash`: the
    *    hash join builds inline, where a broadcast would be a second job.
    *    An inner or one-sided outer equi-join with no hint on either side
    *    gets `shuffle_hash` on both, so the planner builds the smaller side
    *    inline instead of broadcasting it by size. A semi or anti join is
    *    left to the planner: the optimizer pushes it below its stream
    *    side's `coalesce(1)`, so a hash join there would exchange both
    *    sides. A cross join keeps its broadcast. */
  def oneTaskRewrite(df: Dataset[Row]): DataFrame = {
    import catalyst.plans.logical._
    def one(p: LogicalPlan) = Repartition(1, shuffle = false, p)
    def overScan(p: LogicalPlan): Boolean = p match {
      case _: Project | _: Filter => overScan(p.children.head)
      case execution.datasources.LogicalRelation(
        _: execution.datasources.HadoopFsRelation, _, _, _, _) => true
      case _ => false
    }
    def shuffleHash(p: LogicalPlan, unhinted: Boolean): LogicalPlan = p match {
      case h: ResolvedHint if h.hints.strategy.contains(BROADCAST) =>
        h.copy(hints = h.hints.copy(strategy = Some(SHUFFLE_HASH)))
      case other if unhinted => ResolvedHint(other, HintInfo(Some(SHUFFLE_HASH)))
      case other => other
    }
    def oneTask(p: LogicalPlan): LogicalPlan = (p match {
      case r: RepartitionOperation if r.shuffle =>
        one(if (overScan(r.child)) r.child else oneTask(r.child))
      case l: LeafNode if overScan(l) => one(l)
      case j: Join if catalyst.planning.ExtractEquiJoinKeys.unapply(j).isDefined =>
        val unhinted = !Seq(j.left, j.right).exists(_.isInstanceOf[ResolvedHint]) &&
          Seq(catalyst.plans.Inner, catalyst.plans.LeftOuter, catalyst.plans.RightOuter)
            .contains(j.joinType)
        j.copy(left = shuffleHash(oneTask(j.left), unhinted),
          right = shuffleHash(oneTask(j.right), unhinted))
      case other => other.withNewChildren(other.children.map(oneTask))
    }).transformExpressions {
      case s: catalyst.expressions.SubqueryExpression => s.withNewPlan(oneTask(s.plan))
    }
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    classic.Dataset.ofRows(ds.sparkSession, oneTask(ds.queryExecution.analyzed))
  }

  /** `df` as a relation over a local checkpoint of its physical plan, and
    * the checkpointed RDD, whose first job fills the blocks (the one
    * mechanism behind [[graft.engine.Materialize]]). The plan executes only
    * when a job first asks for the RDD's partitions, so range samples,
    * broadcasts, subqueries and adaptive stages below the checkpoint run in
    * that job's thread; `Dataset.localCheckpoint` executes them when it is
    * called. How the plan is prepared depends on what sets its layout:
    *  - a caller's `repartition`/`coalesce` under per-row operators only,
    *    or no shuffle at all: the plan is prepared without the adaptive
    *    rule, so its exchanges keep their planned partition counts and the
    *    relation reports the plan's partitioning and ordering (consumers
    *    keyed like it, such as aggregates, co-partitioned joins and
    *    windows, plan no exchange);
    *  - a shuffle the planner placed: the adaptive plan, so AQE coalesces,
    *    re-selects joins and splits skew below the checkpoint as it does in
    *    any query, and the relation reports no partitioning, since AQE
    *    fixes it only at run time. The plan executes as its own SQL
    *    execution, as `Dataset.localCheckpoint`'s does, so listeners see
    *    its plan and its adaptive updates.
    * Statistics and constraints are carried as `Dataset.localCheckpoint`
    * carries them. */
  def checkpointed(df: Dataset[Row]): (DataFrame, org.apache.spark.rdd.RDD[_]) = {
    import catalyst.plans.logical._
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val spark = ds.sparkSession
    def callerLayout(p: LogicalPlan): Boolean = p match {
      case _: Project | _: Filter => callerLayout(p.children.head)
      case s: Sort => !s.global && callerLayout(s.child)
      case _: RepartitionOperation => true
      case _ => false
    }
    val static = execution.QueryExecution.prepareExecutedPlan(
      spark, ds.queryExecution.sparkPlan.clone())
    val (plan, adaptive) =
      if (callerLayout(ds.queryExecution.optimizedPlan) ||
          !static.exists(_.isInstanceOf[execution.exchange.ShuffleExchangeLike])) (static, None)
      else (ds.queryExecution.executedPlan, Some(ds.queryExecution))
    val rdd = new PlannedRDD(spark.sparkContext, plan, adaptive)
    rdd.localCheckpoint()
    def firstLeaf(p: catalyst.plans.physical.Partitioning)
        : catalyst.plans.physical.Partitioning = p match {
      case c: catalyst.plans.physical.PartitioningCollection =>
        firstLeaf(c.partitionings.head)
      case other => other
    }
    val (stats, constraints) = execution.LogicalRDD.rewriteStatsAndConstraints(
      ds.logicalPlan, ds.queryExecution.optimizedPlan)
    (classic.Dataset.ofRows(spark, execution.LogicalRDD(
      ds.logicalPlan.output, rdd, firstLeaf(plan.outputPartitioning),
      plan.outputOrdering, isStreaming = false)(spark, stats, constraints)), rdd)
  }

  /** The rows of a prepared `plan`, executed when the RDD's dependencies are
    * first asked for (job submission), not when the RDD is made; an
    * adaptive plan executes within a new SQL execution of its query. It holds
    * the executed plan's SQL metrics, adaptive stages included, while it
    * lives: tasks report into them, and a collected metric fails every
    * task's accumulator update on the driver. The plan itself is dropped
    * once executed, so a checkpoint over an earlier checkpoint (an
    * iterative loop) does not keep it alive. */
  private final class PlannedRDD(
      sc: org.apache.spark.SparkContext,
      @transient private var plan: execution.SparkPlan,
      @transient private var adaptive: Option[execution.QueryExecution])
    extends org.apache.spark.rdd.RDD[catalyst.InternalRow](sc, Nil) {
    @transient private var metrics: Seq[execution.metric.SQLMetric] = Nil
    override protected def getDependencies: Seq[org.apache.spark.Dependency[_]] = {
      val rows = adaptive.fold(plan.execute())(qe =>
        execution.SQLExecution.withNewExecutionId(qe)(plan.execute())).map(_.copy())
      adaptive = None
      metrics = new execution.adaptive.AdaptiveSparkPlanHelper {}
        .collectWithSubqueries(plan) { case p => p.metrics.values }.flatten
      plan = null
      Seq(new org.apache.spark.OneToOneDependency(rows))
    }
    override protected def getPartitions: Array[org.apache.spark.Partition] =
      firstParent[catalyst.InternalRow].partitions
    override def compute(split: org.apache.spark.Partition,
                         context: org.apache.spark.TaskContext): Iterator[catalyst.InternalRow] =
      firstParent[catalyst.InternalRow].iterator(split, context)
  }
}
