package perfbench

import scala.collection.mutable

/** Per-layer numbers of a traced run, built from the driver spans and the
  * Spark events each span's jobs produced. */
object Layers {

  /** Every per-layer metric, in the order BENCHMARK.json lists them. A layer
    * that a workload does not exercise reports 0. */
  val Names: Seq[String] = Seq(
    "spark.jobs_per_op", "spark.tasks_per_op", "spark.driver_gap_s",
    "spark.listing_jobs", "spark.task_busy_s", "spark.slot_util",
    "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
    "spark.spill_bytes", "spark.gc_s", "spark.output_bytes",
    "spark.failed_tasks",
    "launch.ingest_s", "launch.pages", "launch.transform_s",
    "launch.publish_s", "launch.files_per_interval", "launch.register_s",
    "launch.serve_s", "launch.stored_bytes_per_input_byte",
    "curation.curate_s", "curation.dedup_drop_share",
    "curation.gate_pass_share", "curation.cap_keep_share",
    "curation.state_files", "curation.state_bytes", "curation.thresholds_s",
    "curation.stored_bytes_per_input_byte",
    "maintenance.fold_s", "maintenance.compact_s",
    "maintenance.partitions_compacted",
    "catalog.build_s", "catalog.exec_s",
    "session.start_s", "session.warmup_s", "trace.op_p50_s")

  def unit(name: String): String =
    if (name.endsWith("_s")) "s"
    else if (name.endsWith("_bytes")) "B"
    else if (name.endsWith("_share") || name.endsWith("_util") ||
      name.endsWith("_per_input_byte")) "ratio"
    else "count"

  private final case class JobView(rec: JobRec, startUs: Long, endUs: Long,
                                   totals: StageTotals)

  /** Ancestor chain lookups over the recorded driver spans. */
  private final class Tree(spans: Seq[Span]) {
    val byId: Map[Long, Span] = spans.map(s => s.id -> s).toMap
    def ancestors(id: Long): Iterator[Span] =
      Iterator.iterate(byId.get(id))(_.flatMap(s => byId.get(s.parent)))
        .takeWhile(_.isDefined).map(_.get)
    def opOf(id: Long): Option[Long] = ancestors(id).find(_.kind == "op").map(_.id)
  }

  private def jobs(ctx: Ctx): Seq[JobView] = ctx.tracer.listeners.toSeq.flatMap { l =>
    l.synchronized(l.jobs.values.toSeq).filter(_.endMs >= 0).map(j =>
      JobView(j, j.startMs * 1000L, j.endMs * 1000L, l.jobTotals(j.jobId)))
  }

  /** Length of the union of `[a, b)` intervals clipped to `[lo, hi)`. */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var end = lo
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
      }
    total
  }

  def spark(ctx: Ctx, ops: Seq[Op]): Map[String, Double] = {
    val tree = new Tree(ctx.tracer.allSpans)
    val byOp = jobs(ctx).groupBy(j => tree.opOf(j.rec.span))
    val cores = graft.engine.GraftSession.cpus
    val per = ops.map { o =>
      val js = byOp.getOrElse(Some(o.spanId), Nil)
      val span = tree.byId(o.spanId)
      val jobWallUs = covered(js.map(j => (j.startUs, j.endUs)), span.startUs, span.endUs)
      (js, (span.endUs - span.startUs - jobWallUs) / 1e6, jobWallUs / 1e6)
    }
    val all = per.flatMap(_._1)
    def perOp(f: StageTotals => Long): Double = all.map(j => f(j.totals)).sum.toDouble / ops.size
    val busy = all.map(_.totals.busyMs).sum / 1000.0
    val wall = per.map(_._3).sum
    Map(
      "spark.jobs_per_op" -> all.size.toDouble / ops.size,
      "spark.tasks_per_op" -> perOp(_.tasks),
      "spark.driver_gap_s" -> Stats.mean(per.map(_._2)),
      "spark.listing_jobs" -> all.count(_.rec.isListing).toDouble,
      "spark.task_busy_s" -> busy / ops.size,
      "spark.slot_util" -> (if (wall > 0) busy / (wall * cores) else 0.0),
      "spark.shuffle_read_bytes" -> perOp(_.shuffleRead),
      "spark.shuffle_write_bytes" -> perOp(_.shuffleWrite),
      "spark.spill_bytes" -> perOp(_.spill),
      "spark.gc_s" -> perOp(_.gcMs) / 1000.0,
      "spark.output_bytes" -> perOp(_.output),
      "spark.failed_tasks" -> all.map(_.totals.failedTasks).sum.toDouble)
  }

  /** Per layer-call name over the timed operations: calls, wall seconds,
    * self seconds (wall not covered by the call's own Spark jobs), jobs and
    * listing jobs. */
  def selfTimes(ctx: Ctx, ops: Seq[Op]): Map[String, Map[String, Double]] = {
    val spans = ctx.tracer.allSpans
    val tree = new Tree(spans)
    val timedOps = ops.map(_.spanId).toSet
    val byLayer = jobs(ctx).groupBy(j =>
      tree.ancestors(j.rec.span).find(_.kind == "layer").map(_.id))
    val out = mutable.LinkedHashMap.empty[String, Map[String, Double]]
    spans.filter(s => s.kind == "layer" && tree.opOf(s.id).exists(timedOps))
      .groupBy(_.name).toSeq.sortBy(_._1).foreach { case (name, ss) =>
        var wall = 0.0; var self = 0.0; var nJobs = 0; var nList = 0
        ss.foreach { s =>
          val js = byLayer.getOrElse(Some(s.id), Nil)
          wall += s.seconds
          self += s.seconds - covered(js.map(j => (j.startUs, j.endUs)),
            s.startUs, s.endUs) / 1e6
          nJobs += js.size
          nList += js.count(_.rec.isListing)
        }
        out(name) = Map("calls" -> ss.size.toDouble, "wall_s" -> wall,
          "self_s" -> self, "jobs" -> nJobs.toDouble,
          "listing_jobs" -> nList.toDouble)
      }
    out.toMap
  }

  /** workload → setup/op → layer call → Spark job → stage, one JSON object
    * per line. Job and stage ids are offset by their context's index and
    * kind so they never collide with each other or with driver span ids. */
  def spansJsonLines(ctx: Ctx): String = {
    val sb = new StringBuilder
    def line(id: Long, parent: Long, kind: String, name: String,
             start: Long, end: Long, attrs: Map[String, Any]): Unit =
      sb.append(Json(Map("id" -> id, "parent" -> parent, "kind" -> kind,
        "name" -> name, "start_us" -> start, "end_us" -> end) ++ attrs)).append('\n')
    ctx.tracer.allSpans.sortBy(_.startUs).foreach(s =>
      line(s.id, s.parent, s.kind, s.name, s.startUs, s.endUs, Map.empty))
    def jobId(context: Int, id: Int) = (1L << 40) + (context.toLong << 32) + id
    def stageId(context: Int, id: Int, attempt: Int) =
      (1L << 41) + (context.toLong << 32) + id * 16L + attempt
    jobs(ctx).foreach { j =>
      val t = j.totals
      line(jobId(j.rec.context, j.rec.jobId), j.rec.span, "job",
        Option(j.rec.description).getOrElse(s"job ${j.rec.jobId}"),
        j.startUs, j.endUs, Map("tasks" -> t.tasks, "busy_ms" -> t.busyMs,
          "gc_ms" -> t.gcMs, "shuffle_read" -> t.shuffleRead,
          "shuffle_write" -> t.shuffleWrite, "spill" -> t.spill,
          "output" -> t.output, "failed_tasks" -> t.failedTasks))
    }
    ctx.tracer.listeners.foreach { l =>
      l.synchronized(l.stages.toSeq).foreach { s =>
        val parent = l.synchronized(l.stageJob.get(s.stageId))
          .map(jobId(l.context, _)).getOrElse(0L)
        line(stageId(l.context, s.stageId, s.attempt), parent, "stage", s.name,
          s.submitMs * 1000L, s.endMs * 1000L, Map("tasks" -> s.numTasks))
      }
    }
    sb.toString
  }
}
