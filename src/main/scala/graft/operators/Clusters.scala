package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine.Materialize

/** Cluster formation over a near-duplicate pair list — the step AFTER pair
  * generation in every dedup pipeline: x17/x18/x20-style operators emit
  * (a, b) edges; keeping one representative per duplicate CLASS requires the
  * connected components of that graph (near-dup similarity is not
  * transitive, so classes are components, not cliques).
  *
  * Algorithm ([[connectedComponentsAuto]]): an edge set that fits on the
  * driver takes union-find after one bounded collect; a larger one takes
  * alternating large-star / small-star rounds (Kiveris et al., "Connected
  * Components in MapReduce and Beyond", SoCC'14), which contract every
  * component to a star in O(log n) rounds whatever its shape, expressed as
  * DataFrame joins so Catalyst/AQE plan every round.
  *
  * Scale posture: each round shuffles slim (long, long) edges. The edge
  * state is locally checkpointed every round: an iterative plan that
  * references its previous state twice otherwise doubles its logical plan
  * per round — 2^rounds nodes, a driver OOM long before the data is the
  * problem. Checkpointing is the standard fixpoint pattern (GraphX does the
  * same); each round's join/agg is still a fully Catalyst-planned query over
  * the materialized state. The driver holds ONE (count, checksum) pair per
  * round, never the graph.
  */
object Clusters {

  /** Hard ceiling on star-contraction rounds: they converge in O(log n),
    * so more rounds than this indicates a bug or an edge stream mutating
    * between rounds; fail loudly rather than loop. */
  val MaxRounds: Int = 64

  /** Driver bound for [[connectedComponentsAuto]]'s one-job tier: 2²⁰ edges
    * ≈ 16 MB of id pairs — same order as a broadcast-join build side. */
  val MaxDriverEdges: Int = 1 << 20

  private val DriverEdges = graft.engine.ScalePolicy.Route(
    "driver-edges", "connectedComponentsAuto", "edges", "driver", "stars")

  /** Adaptive cluster formation — the entry point pipelines should use.
    *
    * A near-dup EDGE set is orders of magnitude smaller than its corpus
    * (pairs above a high similarity threshold, post-LSH): on the common
    * path it fits comfortably on the driver, where union-find computes
    * components in O(E α(E)) after ONE Spark job (the bounded collect),
    * instead of O(log n) join rounds each paying a full job. This is the
    * same adaptive posture as broadcast-vs-shuffle join selection — and
    * like it, the decision is a runtime size check, not a guess (a
    * [[graft.engine.ScalePolicy.probeRows]] route): over-cap edge sets
    * (web-scale dup pressure), and every edge set under
    * `spark.graft.scale=large`, route to the distributed star-contraction
    * rounds, which converge in O(log n) for any component shape.
    *
    * Returns (node, cluster) where cluster = the smallest node id in the
    * component — deterministic regardless of partitioning or iteration
    * order. Nodes with no edges are absent (callers union singletons back
    * if needed); a node whose only edges are self-loops is a singleton. */
  def connectedComponentsAuto(edges: DataFrame): DataFrame = {
    // drop null endpoints (including non-numeric ids nulled by the cast)
    // BEFORE the route decision: the stars route's least/greatest filters
    // would silently discard them anyway, while Row.getLong on the driver
    // route would NPE — the two routes must agree on one contract
    val slim = edges.select(col("a").cast("long").as("a"),
        col("b").cast("long").as("b"))
      .where(col("a").isNotNull && col("b").isNotNull)
    graft.engine.ScalePolicy.probeRows(DriverEdges, slim, MaxDriverEdges) match {
      // `slim` (not `edges`) keeps the output schema BIGINT on both routes
      // regardless of the caller's id type.
      case None => connectedComponentsStars(slim)
      case Some(rows) =>
        // textbook union-find with path compression; every union points the
        // LARGER root at the smaller, so each component's terminal root is
        // its minimum node id
        val parent = new java.util.HashMap[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrDefault(r, r) != r) r = parent.getOrDefault(r, r)
          var c = x
          while (c != r) { val nxt = parent.get(c); parent.put(c, r); c = nxt }
          r
        }
        rows.foreach { e =>
          val (a, b) = (e.getLong(0), e.getLong(1))
          parent.putIfAbsent(a, a); parent.putIfAbsent(b, b)
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
        }
        val nodes = scala.jdk.CollectionConverters.SetHasAsScala(
          parent.keySet).asScala.toSeq
        val out = nodes.map(n => (n, find(n)))
        edges.sparkSession.createDataFrame(out).toDF("node", "cluster")
    }
  }

  /** Connected components via alternating LARGE-STAR / SMALL-STAR rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14): min-label propagation needs O(diameter) rounds (a
    * 10^6-node chain needs 10^6 rounds), star operations contract every
    * component to a star in O(log n) rounds regardless of shape. Per
    * round, two slim joins + distinct over (long, long) edges, state
    * locally checkpointed, the driver holding only a (count, checksum)
    * convergence probe.
    *
    *  - large-star(u): every neighbor v > u re-attaches to the minimum of
    *    u's closed neighborhood. Computed as a per-node min aggregate
    *    joined back onto the symmetric edge list — never a collected
    *    neighbor list, so a hot node (boilerplate dup class) is a slim
    *    aggregate row, not a giant array.
    *  - small-star(u): neighbors v ≤ u (and u itself) re-attach to the
    *    minimum of u's ≤-neighborhood, same join shape over edges oriented
    *    high→low.
    *
    * At the fixpoint the edge set is a star forest rooted at each
    * component's minimum id, read out directly as (node, cluster): the
    * output contract of [[connectedComponentsAuto]] (PropertySpec pins
    * equivalence with union-find on random graphs, self-loops included). */
  def connectedComponentsStars(edges: DataFrame,
                               maxRounds: Int = MaxRounds): DataFrame = {
    val longEdges = edges.select(col("a").cast("long").as("a"),
      col("b").cast("long").as("b"))
    // a node whose ONLY edges are self-loops carries no oriented edge below,
    // but the driver route labels it — keep the output contracts identical
    // by unioning those nodes back as singletons at the end (left-anti
    // against the star forest's nodes)
    val selfLoopNodes = longEdges.where(col("a") === col("b"))
      .select(col("a").as("node")).distinct()
    var e = Materialize(longEdges
      .where(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("lo"), greatest(col("a"), col("b")).as("hi"))
      .select(col("hi").as("a"), col("lo").as("b"))
      .distinct()) // filled by the first probe

    // one-row convergence probe: edge-set cardinality + order-independent
    // XOR checksum of per-edge hashes (bit_xor never overflows under ANSI,
    // unlike a long sum); only EQUALITY is tested, and the count guards the
    // trivial collision
    def probe(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), bit_xor(xxhash64(col("a"), col("b")))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    def largeStar(cur: DataFrame): DataFrame = {
      val sym = cur.union(cur.select(col("b").as("a"), col("a").as("b")))
      val mins = sym.groupBy(col("a").as("u"))
        .agg(min(col("b")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      sym.join(mins, sym("a") === mins("u"))
        .where(col("b") > col("a"))
        .select(col("b").as("a"), col("m").as("b"))
        .where(col("a") =!= col("b"))
        .distinct()
    }

    def smallStar(cur: DataFrame): DataFrame = {
      // cur is oriented a(hi) → b(lo); b < a always, so min(b) IS the
      // closed-neighborhood minimum of a's ≤-side
      val mins = cur.groupBy(col("a").as("u")).agg(min(col("b")).as("m"))
      val reLo = cur.join(mins, cur("a") === mins("u"))
        .select(col("b").as("a"), col("m").as("b"))
      val reHi = mins.select(col("u").as("a"), col("m").as("b"))
      reLo.union(reHi)
        .where(col("a") =!= col("b"))
        .select(greatest(col("a"), col("b")).as("a"), least(col("a"), col("b")).as("b"))
        .distinct()
    }

    var cur = probe(e)
    var rounds = 0
    var converged = cur._1 == 0L // probe already counted the edges — no extra job
    while (!converged && rounds < maxRounds) {
      e = Materialize(smallStar(largeStar(e))) // filled by the probe
      val next = probe(e)
      converged = next == cur
      cur = next
      rounds += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponentsStars: no fixpoint after $maxRounds rounds — " +
          "star contraction converges in O(log n); this indicates a bug or " +
          "an edge stream mutating between rounds.")
    // fixpoint = star forest: every non-root points at its component root;
    // roots are exactly the b-side ids (a component minimum never appears
    // on the a side of an oriented star edge)
    val stars = e.select(col("a").as("node"), col("b").as("cluster"))
      .union(e.select(col("b").as("node"), col("b").as("cluster")).distinct())
    stars.union(
      selfLoopNodes.join(stars.select("node"), Seq("node"), "left_anti")
        .select(col("node"), col("node").as("cluster")))
  }
}
