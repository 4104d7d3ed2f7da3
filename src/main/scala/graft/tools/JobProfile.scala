package graft.tools

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskStart}

import graft.engine.{GraftSession, ScalePolicy}
import graft.queries.Catalog

/** Diagnostic main behind the bench tuning loop: per query, counts the
  * Spark JOBS, STAGES and TASKS one execution launches (construction +
  * noop write), alongside best-of-5 wall time. The per-job scheduling
  * floor (FloorProbe: ~0.05-0.1 s/job at this session shape) times the
  * job count is the irreducible part of a query's wall time — so the
  * tuning loop targets job count first, partition/task count second.
  * Under each query's row, one line per [[ScalePolicy]] decision its
  * build made (tier, inputs, statistics, caps, branch).
  *
  * Args: optional query-name filter (same convention as Bench).
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.getOrCreate("graft-jobprofile")

    val verbose = sys.env.contains("GRAFT_PROFILE_VERBOSE")
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      private val started = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (verbose) {
          val site = Option(j.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("")
          val info = s"stages=${j.stageInfos.size} " +
            s"tasks=${j.stageInfos.map(_.numTasks).sum} @ $site"
          started.put(j.jobId, (j.time, info))
        }
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = if (verbose) {
        Option(started.remove(j.jobId)).foreach { case (t0, info) =>
          println(f"  job ${j.jobId}: ${(j.time - t0) / 1000.0}%.3fs $info")
        }
      }
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit = stages.incrementAndGet()
      override def onTaskStart(t: SparkListenerTaskStart): Unit = tasks.incrementAndGet()
    })

    def runOnce(name: String): (Double, Seq[ScalePolicy.Decision]) = {
      val t0 = System.nanoTime()
      val (df, decisions) =
        ScalePolicy.recorded(Catalog.queries(name)(spark, sfDir))
      df.write.mode("overwrite").format("noop").save()
      ((System.nanoTime() - t0) / 1e9, decisions)
    }

    val names =
      if (args.nonEmpty)
        (Catalog.benchNames ++ Catalog.benchNamesExtended).filter(args.toSet)
      else Catalog.benchNames
    println(f"${"query"}%-28s ${"best5"}%8s ${"jobs"}%5s ${"stages"}%7s ${"tasks"}%6s")
    var totBest = 0.0
    names.foreach { name =>
      System.gc()
      runOnce(name) // warm-up
      // counted run: listener totals for exactly one execution (a short
      // drain pause stands in for the private listenerBus.waitUntilEmpty)
      Thread.sleep(300)
      jobs.set(0); stages.set(0); tasks.set(0)
      val (t1, decisions) = runOnce(name)
      Thread.sleep(300)
      val (j, st, tk) = (jobs.get(), stages.get(), tasks.get())
      val best = math.min(t1, (1 to 4).map(_ => runOnce(name)._1).min)
      totBest += best
      println(f"$name%-28s $best%8.3f $j%5d $st%7d $tk%6d")
      decisions.foreach(d => println(s"  $d"))
    }
    println(f"TOTAL $totBest%.3f")
    spark.stop()
  }
}
