package graft

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}

import com.fasterxml.jackson.databind.JsonNode
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.ScalePolicy
import graft.operators.Dedup
import graft.queries.Catalog
import graft.tools.JobProfile

/** The profiler's record, and the per-thread decision record it reads. */
class JobProfileSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sf0001}

  test("JobProfile records q13 and x62: parseable JSON, output rows equal " +
    "count(), jobs counted, the build's decisions, session conf untouched") {
    val names = Seq("q13_top_tokens", "x62_funnel")
    val confBefore = spark.conf.getAll
    val run = JobProfile.profile(spark, sf0001, names)
    assert(spark.conf.getAll == confBefore, "profiling must not write session conf")
    val tree = JobProfile.json.readTree(JobProfile.json.writeValueAsString(run))
    Seq("floor_pre", "floor_post", "degraded").foreach(k => assert(tree.has(k), k))
    val records = tree.get("queries")
    assert(records.size == names.size)
    for ((name, i) <- names.zipWithIndex) {
      val rec = records.get(i)
      assert(rec.get("query").asText == name)
      val rows = Catalog.queries(name)(spark, sf0001).count()
      assert(rows > 0 && rec.get("output_rows").asLong == rows,
        s"$name: output_rows ${rec.get("output_rows")} against count() $rows")
      val exec = rec.get("execution")
      assert(exec.get("jobs").asInt >= 1, s"$name ran no counted job")
      assert(exec.get("job_list").size == exec.get("jobs").asInt)
      assert(exec.get("best_s").asDouble > 0)
      val (_, decisions) = ScalePolicy.recorded(Catalog.queries(name)(spark, sf0001))
      assert(decisions.nonEmpty, s"$name makes a scale decision")
      assert(rec.get("decisions") == JobProfile.json.valueToTree[JsonNode](decisions),
        s"$name: ${rec.get("decisions")} against a separate build's $decisions")
      val plan = rec.get("plan").asText
      assert(plan.startsWith("== Physical Plan =="), plan)
      assert(!"#\\d".r.findFirstIn(plan + rec.get("final_plan").asText).isDefined,
        s"$name: expression ids left in the plans")
      assert(rec.get("final_plan").asText.contains("isFinalPlan=true"))
      assert(rec.get("operators").size > 0)
    }
  }

  test("decisions are recorded per thread: an LSH build and a " +
    "decontamination build running at once each record only their own") {
    import spark.implicits._
    val emb = (0 until 60).map(i => (i.toLong,
      Array.tabulate(8)(j => math.sin(i * 7.0 + j).toFloat)))
      .toDF("vec_id", "embedding")
    val train = (0 until 40).map(i => (i.toLong, s"w$i x${i % 5} y z q$i"))
      .toDF("doc_id", "text")
    val ev = Seq((100L, "w1 x1 y z q1")).toDF("doc_id", "text")
    def both(): Unit = {
      val start = new CountDownLatch(1)
      val pool = Executors.newFixedThreadPool(2)
      def submit(body: => Any) = pool.submit(new Callable[Seq[ScalePolicy.Decision]] {
        def call(): Seq[ScalePolicy.Decision] = { start.await(); ScalePolicy.recorded(body)._2 }
      })
      try {
        val lsh = submit(Dedup.embeddingNearDupLsh(emb, 0.9))
        val decontam = submit(Dedup.contaminationCounts(train, ev, 4096))
        start.countDown()
        assert(lsh.get(5, TimeUnit.MINUTES).map(d => (d.input, d.branch)) ==
          Seq(("embeddingNearDupLsh", "kernel")))
        assert(decontam.get(5, TimeUnit.MINUTES).map(d => (d.input, d.branch)) ==
          Seq(("contaminationCounts", "bloom"), ("contaminationCounts.train", "at-scale")))
      } finally pool.shutdownNow()
    }
    (1 to 3).foreach(_ => both())
  }
}
