package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.{ObjectMapper, PropertyNamingStrategies, SerializationFeature}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftSqlBridge, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.execution.{CollectMetricsExec, ExplainMode, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

import graft.Bench
import graft.engine.{GraftSession, ScalePolicy}
import graft.queries.Catalog

/** The profiling main: one JSON record per catalog query, in one file per
  * run. Usage:
  *
  *   SPARK_GRAFT_SF_DIR=<sf dir> sbt "runMain graft.tools.JobProfile [--out=<file>] [query...]"
  *
  * No names profiles every catalog query; `--out` defaults to
  * `jobprofile.json`. Each query is built and run (noop sink) once to warm
  * up, once more as the counted run whose listener events, final plan and
  * SQL metrics fill the record (one row counter, `Dataset.observe`, sits
  * on top of its query), then five times for the timings. A record holds:
  *  - `build` and `execution`: best-of-5 seconds, and the counted run's
  *    jobs, stages, tasks, shuffle bytes, disk spill and GC of that phase.
  *    Each job carries the action it ran for, its kind, its last stage's
  *    operators, its stages, tasks and seconds. Build jobs are the eager
  *    checkpoints and bounded collects a query runs while it is built;
  *  - `total_s`: best-of-5 of build plus execution, Bench's protocol;
  *  - `operators`: rows and time of each operator of the counted write's
  *    final (post-AQE) plan, read from its SQL metrics (an operator below
  *    a range exchange also counts the partitioner's sampling pass), and
  *    `output_rows`, the counter's value (no extra job);
  *  - `plan` (formatted, before execution) and `final_plan`;
  *  - `decisions`: every [[ScalePolicy]] decision the build made.
  * `floor_pre` and `floor_post` bracket the run with Bench's floor probe;
  * `degraded` marks a run whose floor passes Bench's degraded bracket.
  * Ids are normalised out of the plans and jobs are listed in a stable
  * order, so two runs of the same code differ only in timing: the fields
  * ending in `_s` or `_ms`, the floors and `degraded`.
  */
object JobProfile {

  final case class Job(site: String, kind: String, ops: Seq[String],
                       stages: Int, tasks: Int, durationS: Double)
  final case class Phase(bestS: Double, jobs: Int, stages: Int, tasks: Int,
    shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long,
    gcS: Double, jobList: Seq[Job])
  final case class Operator(depth: Int, op: String, rows: Option[Long], timeMs: Option[Long])
  final case class Record(query: String, totalS: Double, build: Phase, execution: Phase,
    outputRows: Long, operators: Seq[Operator], plan: String, finalPlan: String,
    decisions: Seq[ScalePolicy.Decision])
  final case class Run(sfDir: String, cpus: Int, floorPre: Double, floorPost: Double,
                       degraded: Boolean, queries: Seq[Record])

  val json: ObjectMapper = new ObjectMapper()
    .registerModule(DefaultScalaModule)
    .setPropertyNamingStrategy(PropertyNamingStrategies.SNAKE_CASE)
    .enable(SerializationFeature.INDENT_OUTPUT)

  /** Jobs, stages, tasks and task metrics since the last [[take]]. */
  private final class Counts extends SparkListener {
    private final class JobAcc(val site: String, val kind: String, val ops: Seq[String],
                               val group: String, val start: Long) {
      var end = start; var stages = 0; var tasks = 0
      /** Highest codegen stage id among the ops: these grow from a plan's
        * leaves to its root, so they order an execution's concurrently
        * submitted stages the same way on every run. */
      val planOrder: Int = ops.flatMap("WholeStageCodegen \\((\\d+)\\)".r.findFirstMatchIn(_))
        .map(_.group(1).toInt).maxOption.getOrElse(Int.MaxValue)
    }
    private val jobs = mutable.Map.empty[Int, JobAcc]
    private val stageJob = mutable.Map.empty[Int, Int]
    private val executions = mutable.Map.empty[String, String]
    private var stages, tasks = 0
    private var shuffleRead, shuffleWrite, spill, gcMs = 0L

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        synchronized(executions(s.executionId.toString) = s.description)
      case _ =>
    }
    /** A job is named by the action it runs for (its SQL execution's call
      * site, else its last stage's), what its last stage is, and the
      * operators of that stage. A result stage ending in an exchange is a
      * range partitioner's sample. */
    override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
      val last = j.stageInfos.maxBy(_.stageId)
      val execution = Option(j.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      val ops = last.rddInfos.sortBy(_.id).flatMap(_.scope.map(_.name.trim)).distinct
      val kind =
        if (GraftSqlBridge.isShuffleMapStage(last)) "shuffle-map"
        else if (ops.lastOption.contains("Exchange")) "range-sample"
        else "result"
      jobs(j.jobId) = new JobAcc(execution.flatMap(executions.get).getOrElse(last.name), kind,
        ops, execution.getOrElse(s"job ${j.jobId}"), j.time)
      j.stageIds.foreach(stageJob(_) = j.jobId)
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      synchronized(jobs.get(j.jobId).foreach(_.end = j.time))
    override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
      synchronized { stages += 1; job(s.stageInfo.stageId).foreach(_.stages += 1) }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      tasks += 1; job(t.stageId).foreach(_.tasks += 1)
      Option(t.taskMetrics).foreach { m =>
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        spill += m.diskBytesSpilled
        gcMs += m.jvmGCTime
      }
    }
    private def job(stageId: Int) = stageJob.get(stageId).flatMap(jobs.get)

    /** The phase's jobs in execution order, plan order within one. */
    def take(): Phase = synchronized {
      val first = jobs.toSeq.groupMapReduce(_._2.group)(_._1)(math.min)
      val list = jobs.toSeq.sortBy { case (id, a) => (first(a.group), a.planOrder, id) }
        .map { case (_, a) => Job(a.site, a.kind, a.ops, a.stages, a.tasks, (a.end - a.start) / 1e3) }
      val p = Phase(0, jobs.size, stages, tasks, shuffleRead, shuffleWrite, spill, gcMs / 1e3, list)
      jobs.clear(); stageJob.clear(); executions.clear()
      stages = 0; tasks = 0; shuffleRead = 0; shuffleWrite = 0; spill = 0; gcMs = 0
      p
    }
  }

  /** The executed query below the last write: its final plan and SQL
    * metrics. */
  private final class LastWrite extends QueryExecutionListener {
    @volatile var plan: Option[SparkPlan] = None
    override def onSuccess(funcName: String, q: QueryExecution, durationNs: Long): Unit =
      q.executedPlan match {
        case w: V2TableWriteExec => plan = Some(w.query)
        case _ =>
      }
    override def onFailure(funcName: String, q: QueryExecution, e: Exception): Unit = ()
  }

  /** Expression, plan, RDD and broadcast ids, lambda class names and
    * temporary-path UUIDs vary between runs of the same code. */
  def normalise(plan: String): String = plan
    .replaceAll("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "<uuid>")
    .replaceAll("Lambda\\$\\d+/0x[0-9a-f]+@[0-9a-f]+", "Lambda")
    .replaceAll("#\\d+", "#")
    .replaceAll("plan_id=\\d+", "plan_id=")
    .replaceAll("RDD\\[\\d+\\]", "RDD[]")
    .replaceAll("Broadcast\\(\\d+\\)", "Broadcast()")

  /** Wrappers that carry no work of their own: the node below is shown. */
  private def unwrap(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
    case s: QueryStageExec => unwrap(s.plan)
    case other => other
  }

  private def rows(p: SparkPlan): Option[Long] = p.metrics.get("numOutputRows").map(_.value)

  private def operators(p: SparkPlan, depth: Int): Seq[Operator] = {
    val node = unwrap(p)
    val times = node.metrics.values.collect {
      case m if m.metricType == "timing" => m.value
      case m if m.metricType == "nsTiming" => m.value / 1000000
    }
    Operator(depth, node.nodeName, rows(node), Option.when(times.nonEmpty)(times.sum)) +:
      node.children.flatMap(operators(_, depth + 1))
  }

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - t0) / 1e9)
  }

  def profile(spark: SparkSession, sfDir: String, names: Seq[String]): Run = {
    val counts = new Counts
    val writes = new LastWrite
    def drain(): Unit = GraftSqlBridge.drainListenerBus(spark.sparkContext)
    def one(name: String): Record = {
      def build() = timed(ScalePolicy.recorded(Catalog.queries(name)(spark, sfDir)))
      def execute(df: org.apache.spark.sql.DataFrame): Double =
        timed(df.write.mode("overwrite").format("noop").save())._2
      System.gc()
      execute(build()._1._1) // warm-up
      drain(); counts.take()
      val ((df, decisions), _) = build()
      drain()
      val buildPhase = counts.take()
      writes.plan = None
      execute(df.observe("graft_profile_rows", count(lit(1)))) // the counted run
      drain()
      val execPhase = counts.take()
      val (finalPlan, outputRows, query) = writes.plan.map(p => (p, unwrap(p))) match {
        case Some((p, c: CollectMetricsExec)) => (p, c.collectedMetrics.getLong(0), c.child)
        case other => sys.error(s"$name: the counted write reported $other")
      }
      val runs = (1 to 5).map { _ => val ((d, _), b) = build(); (b, execute(d)) }
      Record(name, runs.map(r => r._1 + r._2).min,
        buildPhase.copy(bestS = runs.map(_._1).min),
        execPhase.copy(bestS = runs.map(_._2).min), outputRows, operators(query, 0),
        normalise(df.queryExecution.explainString(ExplainMode.fromString("formatted"))),
        normalise(finalPlan.treeString), decisions)
    }
    spark.sparkContext.addSparkListener(counts)
    spark.listenerManager.register(writes)
    try {
      Bench.floorProbe(spark) // the first probe of a fresh session warms it
      val floorPre = Bench.floorProbe(spark)
      val records = names.map(one)
      val floorPost = Bench.floorProbe(spark)
      Run(sfDir, spark.sparkContext.defaultParallelism, floorPre, floorPost,
        math.max(floorPre, floorPost) > Bench.DegradedFloor, records)
    } finally {
      spark.listenerManager.unregister(writes)
      spark.sparkContext.removeSparkListener(counts)
    }
  }

  def main(args: Array[String]): Unit = {
    val (outArgs, names) = args.partition(_.startsWith("--out="))
    val out = Paths.get(outArgs.lastOption.fold("jobprofile.json")(_.stripPrefix("--out=")))
    val unknown = names.filterNot(Catalog.queries.contains)
    require(unknown.isEmpty, s"not catalog queries: ${unknown.mkString(" ")}")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.getOrCreate("graft-jobprofile")
    val run = profile(spark, sfDir, if (names.nonEmpty) names.toSeq else Catalog.all.map(_.name))
    Files.write(out, json.writeValueAsString(run).getBytes(StandardCharsets.UTF_8))
    run.queries.foreach(r => println(f"${r.query}%-28s total_s ${r.totalS}%.3f build " +
      f"${r.build.bestS}%.3f s ${r.build.jobs} jobs, execution ${r.execution.bestS}%.3f s " +
      f"${r.execution.jobs} jobs, ${r.outputRows} rows"))
    println(f"floor_pre ${run.floorPre}%.4f floor_post ${run.floorPost}%.4f" +
      (if (run.degraded) " DEGRADED" else "") + s"; wrote ${out.toAbsolutePath}")
    spark.stop()
  }
}
