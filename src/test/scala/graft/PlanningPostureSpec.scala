package graft

import java.util.concurrent.{Callable, Executors, TimeUnit}

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Catalog

/** One planning posture for the whole catalog: building a query plans it
  * under the session's AQE setting and never writes session conf, so
  * queries built and run side by side on one shared session cannot change
  * each other's plans. */
class PlanningPostureSpec extends AnyFunSuite {
  import SparkTestSession.{atScale, spark, sf0001}

  /** Every session conf entry that differs from `before`. */
  private def confChanges(before: Map[String, String]): Set[String] = {
    val after = spark.conf.getAll
    (before.keySet ++ after.keySet)
      .filter(k => before.get(k) != after.get(k))
      .map(k => s"$k: ${before.get(k)} -> ${after.get(k)}")
  }

  test("building any catalog query leaves the session conf unchanged") {
    assert(Catalog.queries.size == 102)
    val before = spark.conf.getAll
    for (name <- Catalog.queries.keys.toSeq.sorted) {
      Catalog.queries(name)(spark, sf0001)
      val changed = confChanges(before)
      assert(changed.isEmpty, s"building $name changed the session conf: $changed")
    }
  }

  test("a formerly static-planned query and an adaptive one, built and " +
    "collected concurrently on the shared session, return their sequential rows") {
    // at scale x62 and x87 take their checkpoint branches, whose relations
    // must carry the planned partitioning whatever else runs on the session
    atScale {
      val names = Seq("x62_funnel", "q05_daily_distinct",
        "x87_shuffle_shards", "q13_top_tokens")
      def run(name: String): Seq[Row] =
        Catalog.queries(name)(spark, sf0001).collect().toSeq
      val sequential = names.map(n => n -> run(n)).toMap
      val confBefore = spark.conf.getAll
      val pool = Executors.newFixedThreadPool(2)
      try {
        for (Seq(formerlyStatic, adaptive) <- names.grouped(2)) {
          val futures = Seq(formerlyStatic, adaptive).map { n =>
            pool.submit(new Callable[Seq[Seq[Row]]] {
              def call(): Seq[Seq[Row]] = (1 to 3).map(_ => run(n))
            })
          }
          for ((n, f) <- Seq(formerlyStatic, adaptive).zip(futures);
               rows <- f.get(5, TimeUnit.MINUTES))
            assert(rows == sequential(n),
              s"$n returned different rows when run beside another query")
        }
      } finally pool.shutdownNow()
      val changed = confChanges(confBefore)
      assert(changed.isEmpty, s"the concurrent runs changed the session conf: $changed")
    }
  }

  test("x81's over-cap route (shuffle join) returns the under-cap " +
    "broadcast route's rows") {
    val underCap = Catalog.queries("x81_lm_score")(spark, sf0001).collect().toSeq
    val (plan, overCap) = atScale {
      val df = Catalog.queries("x81_lm_score")(spark, sf0001)
      (df.queryExecution.executedPlan.toString, df.collect().toSeq)
    }
    // only the over-cap route computes the prefix totals in Spark (a window
    // over w1); the under-cap route does that arithmetic on the driver
    assert(plan.contains("Window"), s"atScale must take the over-cap route:\n$plan")
    assert(underCap.nonEmpty)
    assert(overCap == underCap)
  }
}
