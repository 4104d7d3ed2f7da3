package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Clusters

/** Connected components: the driver's union-find and the distributed
  * large-star / small-star rounds behind `connectedComponentsAuto`. */
class ClustersSpec extends AnyFunSuite {
  import SparkTestSession.{atScale, spark}
  import spark.implicits._

  private def starComponents(edges: Seq[(Long, Long)],
                             maxRounds: Int = Clusters.MaxRounds): Map[Long, Long] =
    Clusters.connectedComponentsStars(edges.toDF("a", "b"), maxRounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("label flows both directions (min id in the middle of a path)") {
    val got = starComponents(Seq((5L, 1L), (1L, 9L)))
    assert(got == Map(1L -> 1L, 5L -> 1L, 9L -> 1L))
  }

  test("round ceiling fails loudly instead of looping") {
    // a 12-hop path needs more than one round of star contraction
    val path = (0L until 12L).map(i => (i, i + 1))
    intercept[IllegalStateException](starComponents(path, maxRounds = 1))
  }

  test("star-ops: chain, clique, and isolated pair resolve to min-id components") {
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), // chain
      (10L, 11L), (10L, 12L), (11L, 12L), // triangle
      (20L, 21L)) // pair
    val want = Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L)
    assert(starComponents(edges) == want)
    assert(Clusters.connectedComponentsAuto(edges.toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == want)
  }

  test("star-ops: empty edge set yields empty result") {
    assert(starComponents(Seq.empty).isEmpty)
    assert(Clusters.connectedComponentsAuto(Seq.empty[(Long, Long)].toDF("a", "b"))
      .collect().isEmpty)
  }

  test("star-ops: duplicate and reversed edges collapse to one component") {
    val got = starComponents(Seq((2L, 1L), (1L, 2L), (2L, 1L), (3L, 1L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("auto tier: driver union-find ≡ distributed stars, both routes") {
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (7L, 7L), (20L, 21L))
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 7L -> 7L, 20L -> 20L, 21L -> 20L)
    def auto() = SparkTestSession.routes("connectedComponentsAuto")(Clusters
      .connectedComponentsAuto(edges.toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    assert(auto() == (want, Seq("driver")))
    assert(atScale(auto()) == (want, Seq("stars")))
  }

  test("auto tier: both routes emit BIGINT labels regardless of input id type") {
    import org.apache.spark.sql.functions.col
    val intEdges = Seq((1, 2), (3, 4)).toDF("a", "b")
      .select(col("a").cast("int"), col("b").cast("int"))
    def types() = Clusters.connectedComponentsAuto(intEdges)
      .schema.fields.map(_.dataType.simpleString).toSeq
    assert(types() == Seq("bigint", "bigint"))
    assert(atScale(types()) == Seq("bigint", "bigint"))
  }

  test("self-loop-only nodes are singleton components in BOTH algorithms") {
    // node 7 has only a self-loop; node 1 has a self-loop AND a real edge —
    // the stars variant must match the driver's union-find on both (it
    // filters a == b edges up front and unions the lost singletons back)
    val edges = Seq((7L, 7L), (1L, 1L), (1L, 2L))
    val want = Map(1L -> 1L, 2L -> 1L, 7L -> 7L)
    def auto() = Clusters.connectedComponentsAuto(edges.toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(auto() == want)
    assert(starComponents(edges) == want)
  }

  test("star-ops converge on a long path that exceeds min-label's round bound") {
    // a 100-hop path has diameter 100: min-label propagation would need 100
    // rounds, while star contraction converges in O(log n) rounds — the
    // adversarial-diameter case the SoCC'14 rule exists for
    val path = (0L until 100L).map(i => (i, i + 1))
    val got = starComponents(path, maxRounds = 24)
    assert(got.size == 101 && got.values.forall(_ == 0L))
  }
}
