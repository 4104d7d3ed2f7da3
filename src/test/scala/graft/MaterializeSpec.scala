package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Materialize
import graft.queries.Catalog

/** The one materialization seam: the default entry runs nothing until a job
  * consumes the relation and keeps the planned partitioning; `now` fills
  * the blocks inside the call, in a job named after its caller. */
class MaterializeSpec extends AnyFunSuite {
  import SparkTestSession.{atScale, spark, sf0001}

  /** `body`'s result and the names of the jobs it started (each job's call
    * site, as Spark names its result stage). */
  private def jobsOf[T](body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val jobs = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.add(j.stageInfos.maxBy(_.stageId).name)
    }
    org.apache.spark.GraftListenerBus.drain(sc)
    sc.addSparkListener(listener)
    val out = try body finally {
      org.apache.spark.GraftListenerBus.drain(sc)
      sc.removeSparkListener(listener)
    }
    (out, jobs.asScala.toSeq)
  }

  private def exchanges(df: org.apache.spark.sql.DataFrame): Seq[ShuffleExchangeExec] =
    new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec => e
    }

  private val keyed = spark.range(0, 10000).select(col("id"), (col("id") % 97).as("k"))

  test("the lazy entry over repartition(n, k) runs no job when built, and a " +
    "groupBy(k) above it plans no exchange") {
    val (held, jobs) = jobsOf(Materialize(keyed.repartition(6, col("k"))))
    assert(jobs.isEmpty, s"building ran jobs: $jobs")
    val counts = held.groupBy("k").agg(count(lit(1)).as("n"))
    assert(exchanges(counts).isEmpty,
      s"a consumer keyed like the checkpoint should not shuffle:\n" +
        counts.queryExecution.executedPlan)
    assert(held.rdd.getNumPartitions == 6)
    assert(counts.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      keyed.groupBy("k").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
  }

  test("the lazy entry over a plan whose layout the caller did not set runs " +
    "no job when built and lets AQE coalesce its shuffle") {
    val counts = keyed.groupBy("k").agg(count(lit(1)).as("n"))
    val (held, jobs) = jobsOf(Materialize(counts))
    assert(jobs.isEmpty, s"building ran jobs: $jobs")
    assert(held.rdd.getNumPartitions == 1,
      "97 small groups should coalesce into one partition")
    assert(held.collect().toSet == counts.collect().toSet)
  }

  test("now runs its job inside the call, named after the caller, and " +
    "returns the same rows") {
    val input = keyed.repartition(6, col("k"))
    val (held, jobs) = jobsOf(Materialize.now(input, Materialize.WriteReplacesInput))
    assert(jobs.nonEmpty, "now should fill the blocks before it returns")
    assert(jobs.forall(_.matches("now at MaterializeSpec\\.scala:\\d+")), jobs)
    assert(held.collect().toSet == input.collect().toSet)
  }

  test("at scale, building x66, x90, x95 and x100 runs no job: each " +
    "checkpoint fills in the query's first job") {
    atScale {
      for (name <- Seq("x66_decontamination", "x90_bm25",
          "x95_hybrid_search", "x100_training_pipeline")) {
        Catalog.queries(name)(spark, sf0001) // the first read infers schemas
        val (_, jobs) = jobsOf(Catalog.queries(name)(spark, sf0001))
        assert(jobs.isEmpty, s"building $name ran jobs: $jobs")
      }
    }
  }
}
