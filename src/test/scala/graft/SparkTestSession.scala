package graft

import org.apache.spark.sql.SparkSession
import graft.engine.{GraftSession, ScalePolicy}

/** One shared local session for all suites (forked test JVM). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = GraftSession.configure(
      SparkSession.builder().master("local[4]").appName("graft-test"), 4
    ).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf0001 = "/root/testdata/sf0.001"

  /** Runs `body` with every scale decision forced to its at-scale branch
    * (`spark.graft.scale=large`), so tiny test data plans the shapes a real
    * corpus takes. */
  def atScale[T](body: => T): T = {
    spark.conf.set(ScalePolicy.Conf, "large")
    try body finally spark.conf.unset(ScalePolicy.Conf)
  }

  /** Runs `body` and returns its result with the branch of every decision
    * `input` recorded on this thread meanwhile, in order. */
  def routes[T](input: String)(body: => T): (T, Seq[String]) = {
    val (out, decisions) = ScalePolicy.recorded(body)
    (out, decisions.filter(_.input == input).map(_.branch))
  }
}
