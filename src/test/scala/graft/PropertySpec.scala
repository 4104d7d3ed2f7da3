package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextHashFunctions
import graft.pipeline.{Ll2, LaunchPipeline => LP}
import graft.sources.Tables

/** Property-based invariants (SURVEY.md §5): explode/flatten row counts,
  * cast round-trips, partition-overwrite idempotence, pruning invariance,
  * and signature-operator algebraic properties. */
class PropertySpec extends AnyFunSuite {
  import SparkTestSession.{spark, sf0001}
  import spark.implicits._

  val tokenGen: Gen[String] = Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString)
  val docGen: Gen[List[String]] = Gen.listOfN(12, tokenGen)

  /** Deterministic scalacheck sampling (no scalatest bridge in the offline
    * cache, so drive Gen directly with pinned seeds). */
  def samples[T](g: Gen[T], n: Int): Seq[T] =
    (1 to n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  test("explode/flatten yields exactly Σ|results| rows over generated payloads") {
    for (sizes <- samples(Gen.nonEmptyListOf(Gen.chooseNum(0, 5)), 8)) {
      def launch(i: Int, j: Int) =
        s"""{"id":"$i-$j","url":"u","name":"n","status":{"name":"s","abbrev":"s"},
           |"image":null,"net":"2024-12-01T00:00:00Z","last_updated":"x"}"""
          .stripMargin.replaceAll("\n", "")
      val lines = sizes.zipWithIndex.map { case (n, i) =>
        s"""{"count":$n,"next":null,"previous":null,"results":[${
          (0 until n).map(j => launch(i, j)).mkString(",")}]}"""
      }
      val raw = spark.read.schema(Ll2.schema).json(lines.toDS())
      assert(LP.launchEvents(raw).count() == sizes.sum.toLong)
    }
  }

  test("minhash signature is invariant under token permutation and duplication") {
    for (toks <- samples(docGen, 10) if toks.nonEmpty) {
      val variants = Seq(
        toks.mkString(" "),
        new scala.util.Random(7).shuffle(toks).mkString(" "),
        (toks ++ toks).mkString(" "))
      val sigs = variants.toDF("text")
        .select(TextHashFunctions.minhashSig(col("text")).as("s"))
        .collect().map(_.getSeq[Long](0))
      assert(sigs.distinct.length == 1)
    }
  }

  test("winnowing guarantee on generated docs: a shared k+w-1-token run " +
    "always yields a shared fingerprint; disjoint vocabularies never do") {
    val (k, w) = (4, 5)
    // random prefix/suffix paddings around a shared 8-token run, distinct
    // namespaces so the padding cannot collide textually with the run
    val padGen = Gen.chooseNum(0, 10).flatMap(n =>
      Gen.listOfN(n, tokenGen.map("p" + _)))
    for ((pads, i) <- samples(Gen.zip(padGen, padGen), 12).zipWithIndex) {
      val run = (1 to (k + w - 1)).map(j => s"run${i}_$j")
      val docA = (pads._1.map("a" + _) ++ run).mkString(" ")
      val docB = (run ++ pads._2.map("b" + _)).mkString(" ")
      val docC = (1 to 20).map(j => s"other${i}_$j").mkString(" ")
      val fps = Seq(docA, docB, docC).toDF("text")
        .select(TextHashFunctions.winnowSet(col("text"), k, w).as("f"))
        .collect().map(_.getSeq[Long](0).toSet)
      assert((fps(0) intersect fps(1)).nonEmpty,
        s"shared $run run produced no shared fingerprint")
      assert((fps(0) intersect fps(2)).isEmpty &&
        (fps(1) intersect fps(2)).isEmpty,
        "disjoint vocabulary shared a fingerprint (collision-scale event)")
    }
  }

  test("fingerprint is invariant under re-evaluation but sensitive to order") {
    for (toks <- samples(docGen, 10) if toks.distinct.length > 1) {
      val t = toks.mkString(" ")
      val r = toks.reverse.mkString(" ")
      val fps = Seq(t, t, r).toDF("text")
        .select(TextHashFunctions.fingerprint(col("text")).as("f"))
        .collect().map(_.getLong(0))
      assert(fps(0) == fps(1))
      assert(fps(0) != fps(2)) // reversal of distinct tokens changes the hash
    }
  }

  test("partition overwrite is idempotent: N re-runs ≡ 1 run (table state)") {
    val dir = Files.createTempDirectory("graft_prop_overwrite").toString
    val part = Tables.events(spark, sf0001)
      .withColumn("d", to_date(col("ts")))
      .where(col("d") === lit(java.sql.Date.valueOf("2024-01-03")))
    (1 to 3).foreach { _ =>
      part.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("d").parquet(dir)
    }
    val readBack = spark.read.parquet(dir)
    assert(readBack.count() == part.count())
    assert(readBack.select("event_id").except(part.select("event_id")).count() == 0)
  }

  test("pruning invariance: filtered partitioned read ≡ full read + filter") {
    val dir = Files.createTempDirectory("graft_prop_prune").toString
    Tables.events(spark, sf0001)
      .withColumn("d", to_date(col("ts")))
      .write.mode("overwrite").partitionBy("d").parquet(dir)
    val d = java.sql.Date.valueOf("2024-01-02")
    val pruned = spark.read.parquet(dir).where(col("d") === lit(d))
    val full = spark.read.parquet(dir).collect().filter(r =>
      r.getAs[java.sql.Date]("d") == d)
    assert(pruned.count() == full.length)
  }

  test("JsonLongField agrees with get_json_object on generated flat JSON") {
    val keyGen = Gen.oneOf("k", "key", "a1", "zz")
    val valGen: Gen[String] = Gen.oneOf(
      Gen.chooseNum(-1000000L, 1000000L).map(_.toString),
      Gen.alphaStr.map(s => "\"" + s.take(6) + "\""),
      Gen.const("null"), Gen.const("1.5"), Gen.const("[1,2]"))
    val objGen: Gen[String] = Gen.listOfN(3,
      Gen.zip(keyGen, valGen)).map { kvs =>
      kvs.distinctBy(_._1).map { case (k, v) => s""""$k": $v""" }
        .mkString("{", ", ", "}")
    }
    val docs = samples(objGen, 60)
    val df = docs.toDF("props")
    val got = df.select(TextHashFunctions.jsonLong(col("props"), "k").as("k"))
    // try_cast: the lenient form — ANSI cast would throw on non-integer
    // values, while JsonLongField (like the DuckDB oracle on real data)
    // yields null. Exclude the JsonFastPath rewrite so the reference is the
    // real get_json_object, not our own kernel.
    spark.conf.set("spark.sql.optimizer.excludedRules", "graft.plans.JsonFastPath")
    val e =
      try df.select(
          expr("try_cast(get_json_object(props, '$.k') AS BIGINT)").as("k"))
        .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
      finally spark.conf.unset("spark.sql.optimizer.excludedRules")
    val g = got.collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(g.toSeq == e.toSeq, s"docs=${docs.mkString(" | ")}")
  }

  private def round4(v: Double): Double =
    java.math.BigDecimal.valueOf(v)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()

  test("ngram prefix filtering loses no pair vs brute-force Jaccard (completeness)") {
    // small vocab forces heavy shingle sharing — the regime where a buggy
    // prefix filter would drop qualifying pairs
    val vocab = Vector("a", "b", "c", "d", "e", "f")
    val smallDocGen: Gen[String] =
      Gen.listOfN(10, Gen.oneOf(vocab)).map(_.mkString(" "))
    for (threshold <- Seq(0.5, 0.8)) {
      val texts = samples(smallDocGen, 30).distinct
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = graft.operators.Dedup.ngramJaccardPairs(docs, threshold)
        .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // independent brute force on the driver over the same shingle sets
      val sets = graft.operators.Dedup.shingles(docs, "text")
        .collect().groupBy(_.getLong(0))
        .map { case (id, rows) => id -> rows.map(_.getLong(1)).toSet }
      val expected = (for {
        a <- sets.keys; b <- sets.keys if a < b
        inter = (sets(a) & sets(b)).size
        j = round4(inter.toDouble / (sets(a).size + sets(b).size - inter))
        if j >= threshold
      } yield (a, b)).toSet
      assert(got == expected,
        s"t=$threshold missing=${expected -- got} spurious=${got -- expected}")
    }
  }

  test("signature-grouped minhash pairs ≡ ungrouped candidate+verify (brute force)") {
    // duplicated texts force non-trivial signature groups (the grouped path's
    // intra-group shortcut) alongside cross-group band matches
    val vocab = Vector("x", "y", "z", "w", "v")
    val smallDocGen: Gen[String] =
      Gen.listOfN(8, Gen.oneOf(vocab)).map(_.mkString(" "))
    val base = samples(smallDocGen, 25)
    val texts = base ++ base.take(8) // exact dups → shared signatures
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val threshold = 0.75
    val got = graft.operators.Dedup.minhashNearDupPairs(docs, threshold)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // driver-side reference: all pairs, candidates = any band fully equal,
    // est = rounded fraction of agreeing minhashes
    val sigs = docs.select(col("doc_id"),
        TextHashFunctions.minhashSig(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    val rpb = graft.operators.Dedup.RowsPerBand
    val expected = (for {
      a <- sigs.keys; b <- sigs.keys if a < b
      sa = sigs(a); sb = sigs(b)
      bandMatch = (0 until graft.operators.Dedup.Bands).exists(band =>
        (0 until rpb).forall(j => sa(band * rpb + j) == sb(band * rpb + j)))
      if bandMatch
      est = round4(sa.zip(sb).count { case (x, y) => x == y } / 16.0)
      if est >= threshold
    } yield (a, b, est)).toSet
    assert(got == expected,
      s"missing=${expected -- got} spurious=${got -- expected}")
  }

  test("bucketized range join ≡ naive inequality join on generated events") {
    import graft.operators.Relational
    val tsGen = Gen.chooseNum(0L, 10L * 3600L * 1000000L) // 10h span, µs
    val rowGen = Gen.zip(Gen.chooseNum(1L, 5L), tsGen)
    for (seedBase <- Seq(100, 200)) {
      val rows = (1 to 80).flatMap(i =>
        rowGen.apply(Gen.Parameters.default, Seed((seedBase + i).toLong)))
      val left = rows.take(40).zipWithIndex
        .map { case ((u, t), i) => (i.toLong, u, new java.sql.Timestamp(t / 1000)) }
        .toDF("event_id", "user_id", "ts")
      val right = rows.drop(40)
        .map { case (u, t) => (u, new java.sql.Timestamp(t / 1000)) }
        .toDF("user_id", "rts")
      val (lo, hi) = (-1800000000L, 1800000000L) // ±30 min
      val got = Relational.rangeJoin(left, right, Seq("user_id"), "ts", "rts",
          lo, hi)
        .groupBy("event_id").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val naive = left.crossJoin(right.withColumnRenamed("user_id", "ru"))
        .where(col("user_id") === col("ru") &&
          unix_micros(col("rts")).between(
            unix_micros(col("ts")) + lo, unix_micros(col("ts")) + hi))
        .groupBy("event_id").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == naive, s"seed=$seedBase diff=${
        (got.keySet ++ naive.keySet).filter(k => got.get(k) != naive.get(k))}")
    }
  }

  test("timestamp→date cast round-trips through parquet write/read") {
    val ev = Tables.events(spark, sf0001).withColumn("d", to_date(col("ts")))
    val dir = Files.createTempDirectory("graft_prop_cast").toString
    ev.write.mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir)
    assert(back.where(col("d") =!= to_date(col("ts"))).count() == 0)
  }

  test("connected components match driver-side union-find on random graphs") {
    // self-loops (a == b) are deliberately generated: both algorithms must
    // label a self-loop-only node as its own singleton component
    val edgeGen: Gen[(Long, Long)] = for {
      a <- Gen.chooseNum(0L, 15L)
      b <- Gen.chooseNum(0L, 15L)
    } yield (math.min(a, b), math.max(a, b))
    for (seedBase <- Seq(100, 200, 300)) {
      val edges = (1 to 25).flatMap(i =>
        edgeGen.apply(Gen.Parameters.default, Seed((seedBase + i).toLong)))
        .distinct
      // reference: textbook union-find on the driver
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      // canonicalize: component label = min node id in the component
      val expected = nodes.map { n =>
        val root = find(n)
        n -> nodes.filter(m => find(m) == root).min
      }.toMap
      val got = graft.operators.Clusters
        .connectedComponentsAuto(edges.toDF("a", "b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"seed=$seedBase edges=$edges")
      // the large-star/small-star rule must agree with the union-find
      // oracle on every graph
      val gotStars = graft.operators.Clusters
        .connectedComponentsStars(edges.toDF("a", "b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(gotStars == expected, s"stars: seed=$seedBase edges=$edges")
    }
  }

  test("semanticDedup matches a driver-side reference (kernel argmax " +
    "assignment ≡ window ORDER BY cdot DESC, cid ASC; within-cell pairs only)") {
    def ddot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    for (seed <- Seq(11, 22, 33)) {
      val rnd = new scala.util.Random(seed)
      val dim = 8; val n = 60; val k = 3; val tau = 0.6
      val vecs = Array.fill(n)(Array.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat))
      val dv = vecs.map(_.map(_.toDouble))
      // driver reference: strict > keeps the FIRST (lowest-cid) maximum
      val cellOf = dv.map { v =>
        var best = 0; var bd = Double.NegativeInfinity
        for (c <- 0 until k) {
          val d = ddot(v, dv(c)); if (d > bd) { bd = d; best = c }
        }
        best.toLong
      }
      def cos4(a: Int, b: Int): Double =
        java.math.BigDecimal.valueOf(
          ddot(dv(a), dv(b)) / (math.sqrt(ddot(dv(a), dv(a))) *
            math.sqrt(ddot(dv(b), dv(b)))))
          .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
      val dropped = (0 until n).filter(b =>
        (0 until b).exists(a => cellOf(a) == cellOf(b) && cos4(a, b) >= tau))
      val expected = cellOf.zipWithIndex
        .groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (cell, members) =>
          val nd = members.count(m => dropped.contains(m._2)).toLong
          Row(cell, members.length.toLong, nd, members.length - nd)
        }
      val emb = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toSeq.toDF("vec_id", "embedding")
      val cents = (0 until k).map(i => (i.toLong, vecs(i)))
        .toDF("cid", "cv")
      val got = graft.operators.Dedup.semanticDedup(emb, cents, tau)
        .orderBy("cell").collect().toSeq
      assert(got == expected, s"seed=$seed")
    }
  }

  test("asOfJoin matches a driver-side reference on generated data " +
    "(null payloads, null timestamps, no prior row)") {
    import java.sql.Timestamp
    def ts(m: Long) = new Timestamp(1704067200000L + m * 60000L)
    // UNIQUE (k, rts) per right row so the payload winner is unambiguous
    // (asOfJoin documents ties on (k, ts) as unspecified-payload)
    val rightGen = for {
      k <- Gen.chooseNum(0L, 3L)
      m <- Gen.chooseNum(0L, 40L)
      pay <- Gen.option(Gen.alphaLowerStr.map(_.take(4)))
      nullTs <- Gen.prob(0.15)
    } yield (k, if (nullTs) null else ts(m), pay.orNull)
    val leftGen = for {
      k <- Gen.chooseNum(0L, 4L) // k=4 has no right rows at all
      m <- Gen.chooseNum(0L, 40L)
    } yield (k, ts(m))
    for (seedBase <- Seq(1000, 2000, 3000)) {
      val right = (1 to 30).flatMap(i =>
          rightGen.apply(Gen.Parameters.default, Seed((seedBase + i).toLong)))
        .groupBy(r => (r._1, r._2)).map(_._2.head).toSeq // unique (k, rts)
      val left = (1 to 20).flatMap(i =>
        leftGen.apply(Gen.Parameters.default, Seed((seedBase + 500 + i).toLong)))
        .zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }
      val got = graft.operators.Relational.asOfJoin(
          left.toDF("event_id", "k", "ts"), right.toDF("k", "rts", "tag"),
          Seq("k"), "ts", "rts", payload = Seq("tag" -> "tag"))
        .select("event_id", "asof_ts", "tag").collect()
        .map(r => (r.getLong(0),
          Option(r.getTimestamp(1)), Option(r.getString(2)))).toSet
      val expected = left.map { case (id, k, t) =>
        val prior = right.filter(r =>
          r._1 == k && r._2 != null && !r._2.after(t))
        if (prior.isEmpty) (id, None, None)
        else {
          val m = prior.maxBy(_._2.getTime)
          (id, Some(m._2), Option(m._3))
        }
      }.toSet
      assert(got == expected, s"seed=$seedBase")
    }
  }

  test("keyedRowNumbers ≡ Window row_number/count over generated keys " +
    "(null keys, 0.0 vs -0.0 doubles)") {
    import org.apache.spark.sql.expressions.Window
    val keyGen: Gen[java.lang.Double] = Gen.oneOf(
      Seq[java.lang.Double](0.0, -0.0, 1.5, -3.25, null))
    for (seedBase <- Seq(10, 20, 30)) {
      val rows = (1 to 60).flatMap(i =>
          keyGen.apply(Gen.Parameters.default, Seed((seedBase + i).toLong)))
        .zipWithIndex.map { case (k, i) => (k, i.toLong) }
      val df = rows.toDF("k", "v")
      val gotRows = graft.operators.Relational
        .keyedRowNumbers(df, Seq("k"), Seq(col("v")))
        .select("v", "__rn", "__n").collect()
      val got = gotRows
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      val w = Window.partitionBy("k").orderBy("v")
      val expected = df
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("n", count(lit(1)).over(
          Window.partitionBy("k")))
        .select("v", "rn", "n").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      // row-count equality BEFORE the map compare: -0.0 block-splitting
      // produced DUPLICATE output rows (every ±0.0 row matching two block
      // rows), which the keyed map would silently collapse
      assert(gotRows.length == rows.size, s"seed=$seedBase: output row " +
        s"count ${gotRows.length} != input ${rows.size}")
      assert(got == expected, s"seed=$seedBase")
    }
  }

  test("shuffleShards positions are unique under engineered HASH COLLISIONS " +
    "(ids 1e9+7 apart share h; the id tie-break must split them)") {
    import org.apache.spark.sql.expressions.Window
    val P = 1000000007L
    // every base id appears at 3 hash-colliding aliases: id, id+P, id+2P
    val baseGen = Gen.chooseNum(0L, 100000L)
    for (seedBase <- Seq(7, 77)) {
      val bases = (1 to 40).flatMap(i =>
        baseGen.apply(Gen.Parameters.default, Seed((seedBase + i).toLong)))
        .distinct
      val ids = bases.flatMap(b => Seq(b, b + P, b + 2 * P))
      val df = ids.toDF("id")
      val got = graft.operators.Relational
        .shuffleShards(df, "id", nShards = 3, parts = 4)
      // ranks must match the window form even though h ties 3-deep
      val h = ((col("id") % lit(P)) * lit(2654435761L)) % lit(P)
      val want = df.withColumn("__h", h)
        .withColumn("shard", (col("__h") % 3).cast("int"))
        .withColumn("pos", row_number().over(Window.partitionBy("shard")
          .orderBy(col("__h"), col("id"))).cast("long"))
        .withColumn("shard_rows",
          count(lit(1)).over(Window.partitionBy("shard")))
        .drop("__h")
      assert(got.except(want).count() == 0 &&
        want.except(got).count() == 0, s"seed=$seedBase")
      // colliding aliases land in the SAME shard at CONSECUTIVE positions
      val triples = got.groupBy((col("id") % P).as("base"))
        .agg(countDistinct("shard").as("ns"),
          (max("pos") - min("pos")).as("span"))
        .where(col("ns") =!= 1 || col("span") =!= 2).count()
      assert(triples == 0, "hash-colliding aliases must stay adjacent")
    }
  }

  test("smallestK/largestK ≡ sorted-take-k over generated multisets " +
    "(duplicates, any k, any partitioning)") {
    import graft.operators.Relational
    val listGen = Gen.listOfN(40,
      Gen.chooseNum(-50L, 50L)) // narrow range => guaranteed duplicates
    for ((vals, i) <- samples(listGen, 6).zipWithIndex) {
      val k = 1 + i * 3 // spans under- and over-sized k (1..16 vs 40 rows)
      val df = vals.toDF("v").repartition(1 + i % 5)
      val small = df.agg(Relational.smallestK(col("v"), k).as("t"))
        .head.getSeq[Long](0)
      assert(small == vals.sorted.take(k), s"seed=${i + 1} k=$k")
      val large = df.agg(Relational.largestK(col("v"), k).as("t"))
        .head.getSeq[Long](0)
      assert(large == vals.sorted.reverse.take(k), s"seed=${i + 1} k=$k")
    }
  }
}
