package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables
import graft.streaming.EventStreams
import graft.streaming.EventStreams.Event

class EventStreamsSpec extends AnyFunSuite {
  import SparkTestSession.{atScale, spark, sf0001}
  import spark.implicits._

  /** Stage the sf0.001 events parquet as a streaming source directory. */
  def stageSource(): String = {
    val dir = Files.createTempDirectory("graft_stream_src").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf0001/events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    dir
  }

  test("windowed counts over the stream match the batch aggregation") {
    val dir = stageSource()
    val q = EventStreams.windowedCounts(
        EventStreams.readEventStream(spark, dir), "1 hour", "1 hour")
      .writeStream.outputMode("complete")
      .format("memory").queryName("win_counts").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("win_counts")
      val batch = Tables.events(spark, sf0001)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total_value"))
        .select(col("window.start").as("window_start"), col("event_type"),
          col("n"), col("total_value"))
      assert(streamed.count() == batch.count())
      assert(streamed.except(batch).count() == 0)
      assert(batch.except(streamed).count() == 0)
    } finally q.stop()
  }

  test("streaming sessionization ≡ batch x46 per-user session counts on the corpus") {
    // batch b1 = the whole sf0.001 events table; then two far-future
    // sentinel batches: the first advances the watermark past every real
    // session's timeout, the second makes the timeouts fire
    // (maxFilesPerTrigger=1 ⇒ one file per micro-batch, watermark advances
    // between them). Sentinel user -1 is excluded from the comparison (its
    // own session never closes).
    val dir = Files.createTempDirectory("graft_sess_parity").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/b1"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf0001/events.parquet"),
      java.nio.file.Paths.get(s"$dir/b1/events.parquet"))
    def sentinel(file: String, us: Long): Unit =
      Seq((9000001L, new java.sql.Timestamp(us / 1000L), -1L, "x", 0.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.parquet(s"$dir/$file")
    sentinel("b2", 1900000000000000L) // ≈2030, µs precision
    sentinel("b3", 1990000000000000L)
    val src = spark.readStream.schema(EventStreams.rawSchema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/*")
    val q = EventStreams.sessionize(src.as[Event],
        gapMinutes = 30, watermark = "0 seconds")
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_parity").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("sess_parity")
        .where(col("user_id") >= 0)
        .groupBy("user_id").agg(count(lit(1)).as("n_sessions"))
      val batch = graft.queries.Catalog
        .queries("x46_sessionize")(spark, sf0001)
      assert(streamed.count() == batch.count())
      assert(streamed.except(batch).count() == 0)
      assert(batch.except(streamed).count() == 0)
    } finally q.stop()
  }

  test("streaming interval join ≡ batch x50 prior-error counts on the corpus") {
    val dir = stageSource()
    def side(tpe: String) = EventStreams.readEventStream(spark, dir)
      .where(col("event_type") === tpe)
    val q = EventStreams.streamingIntervalJoin(
        side("purchase"), side("error"), "user_id", windowMinutes = 60)
      .writeStream.outputMode("append")
      .format("memory").queryName("ival_join").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("ival_join")
        .groupBy(col("l_event_id").as("event_id"))
        .agg(count(lit(1)).as("n_prior_errors"))
      val batch = graft.queries.Catalog.queries("x50_range_join")(spark, sf0001)
      assert(streamed.count() == batch.count())
      assert(streamed.except(batch).count() == 0)
      assert(batch.except(streamed).count() == 0)
    } finally q.stop()
  }

  test("left-outer streaming interval join emits the unmatched purchase " +
    "with nulls once the watermark passes its interval") {
    val base = 1704067200000L // 2024-01-01, ms
    def t(min: Int) = new java.sql.Timestamp(base + min * 60000L)
    val far1 = new java.sql.Timestamp(1900000000000L) // ≈2030
    val far2 = new java.sql.Timestamp(1990000000000L)
    val dir = Files.createTempDirectory("graft_souter").toString
    def write(file: String,
              rows: Seq[(Long, java.sql.Timestamp, Long, String, Double, String)]): Unit =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.parquet(s"$dir/$file")
    // u1's purchase has a prior error; u2's purchase has none
    write("b1", Seq(
      (1L, t(5), 1L, "error", 0.0, "{}"),
      (2L, t(10), 1L, "purchase", 1.0, "{}"),
      (3L, t(10), 2L, "purchase", 1.0, "{}")))
    // far-future sentinels on BOTH sides advance both watermarks; the second
    // batch lets the state-store eviction emit the unmatched left row
    write("b2", Seq((9000001L, far1, -1L, "purchase", 0.0, "{}"),
      (9000002L, far1, -1L, "error", 0.0, "{}")))
    write("b3", Seq((9000003L, far2, -1L, "purchase", 0.0, "{}"),
      (9000004L, far2, -1L, "error", 0.0, "{}")))
    val src = spark.readStream.schema(EventStreams.rawSchema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/*")
    def side(tpe: String) = src.where(col("event_type") === tpe)
    val q = EventStreams.streamingIntervalJoin(
        side("purchase"), side("error"), "user_id", windowMinutes = 60,
        watermark = "0 seconds", joinType = "left_outer")
      .writeStream.outputMode("append")
      .format("memory").queryName("outer_join").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("outer_join").where(col("l_key") >= 0)
        .select("l_event_id", "r_ts").collect()
        .map(r => (r.getLong(0), r.isNullAt(1))).sorted
      assert(rows.toSeq == Seq((2L, false), (3L, true)),
        s"expected matched id=2 and null-padded id=3, got ${rows.toSeq}")
    } finally q.stop()
  }

  test("sessionization closes a session after the event-time gap") {
    import java.sql.Timestamp
    val dir = Files.createTempDirectory("graft_sessions").toString
    def ts(min: Int) = new Timestamp(1704067200000L + min * 60000L) // 2024-01-01
    // batch 1: user 1 has two events 5 min apart, then silence
    Seq(Event(1, ts(0), 1, "a", 1.0), Event(2, ts(5), 1, "a", 2.0))
      .toDF().coalesce(1).write.parquet(s"$dir/b1")

    val src = spark.readStream
      .schema(Seq.empty[Event].toDF().schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/*")
    val sessions = EventStreams.sessionize(src.as[Event],
      gapMinutes = 30, watermark = "0 seconds")
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sessions").start()
    try {
      q.processAllAvailable()
      assert(spark.table("sessions").count() == 0) // session still open
      // batch 2: an event far past the gap → watermark advances, session 1 closes
      Seq(Event(3, ts(600), 1, "a", 3.0)).toDF()
        .coalesce(1).write.parquet(s"$dir/b2")
      q.processAllAvailable()
      // one more batch so the timeout fires strictly after the watermark moved
      Seq(Event(4, ts(1200), 2, "a", 4.0)).toDF()
        .coalesce(1).write.parquet(s"$dir/b3")
      q.processAllAvailable()
      val closed = spark.table("sessions")
        .where(col("user_id") === 1 && col("n_events") === 2).collect()
      assert(closed.length == 1)
      assert(closed(0).getAs[Double]("total_value") == 3.0)
    } finally q.stop()
  }

  test("sessionization extends the session START backwards for a late " +
    "in-gap event (math.min counterpart of the end's math.max)") {
    import java.sql.Timestamp
    val dir = Files.createTempDirectory("graft_sessions_late").toString
    def ts(min: Int) = new Timestamp(1704067200000L + min * 60000L)
    // batch 1: the session opens at min 10
    Seq(Event(1, ts(10), 1, "a", 1.0)).toDF().coalesce(1).write.parquet(s"$dir/b1")
    val src = spark.readStream
      .schema(Seq.empty[Event].toDF().schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/*")
    val sessions = EventStreams.sessionize(src.as[Event],
      gapMinutes = 30, watermark = "1 hour")
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sessions_late").start()
    try {
      q.processAllAvailable()
      // batch 2: a LATE event at min 5 — within the watermark, within the
      // gap of the stored end — must pull session_start back to min 5
      Seq(Event(2, ts(5), 1, "a", 2.0)).toDF()
        .coalesce(1).write.parquet(s"$dir/b2")
      q.processAllAvailable()
      // advance the watermark far past the gap, then once more so the
      // event-time timeout fires
      Seq(Event(3, ts(700), 2, "a", 0.0)).toDF()
        .coalesce(1).write.parquet(s"$dir/b3")
      q.processAllAvailable()
      Seq(Event(4, ts(1400), 2, "a", 0.0)).toDF()
        .coalesce(1).write.parquet(s"$dir/b4")
      q.processAllAvailable()
      val closed = spark.table("sessions_late")
        .where(col("user_id") === 1).collect()
      assert(closed.length == 1)
      assert(closed(0).getAs[Timestamp]("session_start") == ts(5),
        "late in-gap event must extend the session interval backwards")
      assert(closed(0).getAs[Timestamp]("session_end") == ts(10))
      assert(closed(0).getAs[Int]("n_events") == 2)
      assert(closed(0).getAs[Double]("total_value") == 3.0)
    } finally q.stop()
  }

  test("windowed counts drop events later than the watermark (append mode)") {
    import java.sql.Timestamp
    val dir = Files.createTempDirectory("graft_late").toString
    def ts(min: Int) = new Timestamp(1704067200000L + min * 60000L)
    // b1: two events inside window W1 = [00:00, 01:00)
    Seq(Event(1, ts(0), 1, "a", 1.0), Event(2, ts(30), 1, "a", 1.0))
      .toDF().coalesce(1).write.parquet(s"$dir/b1")
    val src = spark.readStream.schema(Seq.empty[Event].toDF().schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/*")
    val q = EventStreams.windowedCounts(src, watermark = "10 minutes",
        windowLen = "1 hour")
      .writeStream.outputMode("append")
      .format("memory").queryName("late_counts").start()
    try {
      q.processAllAvailable()
      assert(spark.table("late_counts").count() == 0) // W1 still open
      // b2: far-future event → watermark passes W1's end → W1 finalized
      Seq(Event(3, ts(600), 1, "a", 1.0)).toDF()
        .coalesce(1).write.parquet(s"$dir/b2")
      q.processAllAvailable()
      val w1 = spark.table("late_counts")
        .where(col("window_start") === ts(0)).collect()
      assert(w1.length == 1 && w1(0).getAs[Long]("n") == 2)
      // b3: LATE event for W1 (behind the watermark) must be dropped, not
      // re-emitted — the finalized count stands
      Seq(Event(4, ts(5), 1, "a", 9.0)).toDF()
        .coalesce(1).write.parquet(s"$dir/b3")
      q.processAllAvailable()
      val after = spark.table("late_counts")
        .where(col("window_start") === ts(0)).collect()
      assert(after.length == 1 && after(0).getAs[Long]("n") == 2)
    } finally q.stop()
  }

  test("streaming near-dedup drops same-signature docs across micro-batches") {
    import java.sql.Timestamp
    val dir = Files.createTempDirectory("graft_sneardedup").toString
    def ts(min: Int) = new Timestamp(1704067200000L + min * 60000L)
    // doc 2 permutes+duplicates doc 1's tokens → identical MinHash signature
    Seq((1L, ts(0), "alpha beta gamma"), (2L, ts(1), "gamma alpha beta alpha"))
      .toDF("doc_id", "ts", "text").coalesce(1).write.parquet(s"$dir/b1")
    val src = spark.readStream
      .schema(Seq.empty[(Long, Timestamp, String)]
        .toDF("doc_id", "ts", "text").schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/*")
    val q = EventStreams.streamingNearDedup(src)
      .writeStream.outputMode("append")
      .format("memory").queryName("sneardedup").start()
    try {
      q.processAllAvailable()
      // batch 2: another same-signature variant + a genuinely new doc
      Seq((3L, ts(2), "beta gamma alpha"), (4L, ts(3), "delta epsilon zeta"))
        .toDF("doc_id", "ts", "text").coalesce(1).write.parquet(s"$dir/b2")
      q.processAllAvailable()
      val ids = spark.table("sneardedup").select("doc_id")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(ids.length == 2)
      assert(ids.contains(4L)) // the new doc survives
      assert(!ids.contains(3L)) // cross-batch near-dup dropped
      assert(ids.count(Seq(1L, 2L).contains) == 1) // one rep of the sig class
    } finally q.stop()
  }

  test("streaming contamination flags: the clean cut is exact (every doc " +
    "with true overlap is flagged, counts bound the truth from above); " +
    "empty eval suite flags nothing") {
    import graft.operators.Dedup
    val rnd = new scala.util.Random(23)
    // pinned benchmark suite, built offline
    val evalDocs = (0 until 8).map { j =>
      (j.toLong, (1 to 20).map(_ => s"ev${rnd.nextInt(2000)}_$j").mkString(" "))
    }.toDF("doc_id", "text")
    val evRows = evalDocs.collect().map(r => (r.getLong(0), r.getString(1)))
    // arriving corpus: docs 100+j copy a 10-token eval prefix (8 shared
    // shingles); 200-201 are disjoint
    val arrivals = (0 until 4).map { j =>
      val pref = evRows(j * 2)._2.split(" ").take(10)
      (100L + j, (pref ++ (1 to 12).map(k => s"c${j}_$k")).mkString(" "))
    } ++ Seq((200L, (1 to 15).map(k => s"x$k").mkString(" ")),
      (201L, (1 to 15).map(k => s"y$k").mkString(" ")))
    val dir = Files.createTempDirectory("graft_scontam").toString
    arrivals.take(3).toDF("doc_id", "text").coalesce(1)
      .write.parquet(s"$dir/b1")
    val src = spark.readStream
      .schema(evalDocs.schema).option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/*")
    val q = EventStreams.streamingContaminationFlags(src, evalDocs, 4096)
      .writeStream.outputMode("append")
      .format("memory").queryName("scontam").start()
    try {
      q.processAllAvailable()
      arrivals.drop(3).toDF("doc_id", "text").coalesce(1)
        .write.parquet(s"$dir/b2")
      q.processAllAvailable()
      val got = spark.table("scontam")
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(got.keySet == arrivals.map(_._1).toSet)
      // exact per-arrival truth from the batch operator with the frames
      // arranged so the STREAMED docs are the counted side: train = the
      // pinned suite, eval = the arrivals, forced down the exact route
      val exact = atScale(Dedup.contaminationCounts(
          evalDocs, arrivals.toDF("doc_id", "text"), 4096)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap)
      assert(exact.keySet == (0 until 4).map(100L + _).toSet)
      for ((id, n) <- exact) assert(got(id) >= n,
        s"doc $id: bloom count ${got(id)} must bound exact $n from above")
      assert((0 until 4).forall(j => got(100L + j) >= 1),
        "no false negatives: every truly contaminated doc is flagged")
      assert(got(100L) >= 8) // the 10-token prefix carries 8 shingles
      // empty suite: nothing is ever flagged (NULL bloom semantics)
      val none = EventStreams.streamingContaminationFlags(
        arrivals.toDF("doc_id", "text"), evalDocs.where(lit(false)), 64)
      assert(none.where(col("n_suspect_shingles") =!= 0L).count() == 0)
      // over-cap estimate fails LOUDLY (ADVICE r10): streaming has no
      // exact fallback route, and past the conf cap the clamped sketch
      // saturates toward fpp 1 — flagging everything silently
      val over = intercept[IllegalArgumentException] {
        EventStreams.streamingContaminationFlags(
          arrivals.toDF("doc_id", "text"), evalDocs,
          Dedup.MaxBloomItems + 1)
      }
      assert(over.getMessage.contains("MaxBloomItems"))
    } finally q.stop()
  }

  test("streaming quality gate ≡ batch gate population under the same " +
    "offline thresholds; unknown sources follow defaultThr") {
    import java.sql.Timestamp
    import graft.functions.TextAnalysis
    def ts(min: Int) = new Timestamp(1704067200000L + min * 60000L)
    // reference corpus: 10 docs per source with distinct qualities (the
    // OperatorsSpec construction) — thresholds computed OFFLINE
    def doc(i: Int) = ((1 to i).map(_ => "the") ++
      (1 to (12 - i)).map(j => s"w$j")).mkString(" ")
    val ref = (1 to 10).flatMap(i =>
      Seq((i.toLong, "sA", doc(i)), (100L + i, "sB", doc(i))))
      .toDF("doc_id", "source", "text")
    val thr = TextAnalysis.discreteThreshold(
      TextAnalysis.quality(ref.select(col("doc_id"), col("text")))
        .join(ref.select(col("doc_id"), col("source")), "doc_id"), 300)
    // batch-side expectation on the STREAMED population (two batches of
    // new arrivals incl. a token-free doc and an unknown source)
    val b1 = (1 to 6).map(i => (200L + i, "sA", doc(i), ts(i)))
    val b2 = (1 to 6).map(i => (300L + i, "sB", doc(i), ts(10 + i))) :+
      (400L, "sA", "   ", ts(20)) :+ (401L, "sNEW", doc(9), ts(21))
    val all = (b1 ++ b2).toDF("doc_id", "source", "text", "ts")
    val expectKeep = all.join(thr, Seq("source"), "left")
      .join(TextAnalysis.quality(all.select(col("doc_id"), col("text")))
        .select(col("doc_id"), col("quality")), Seq("doc_id"))
      .where(col("quality") >= coalesce(col("thr"), lit(Double.NegativeInfinity)))
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq

    val dir = Files.createTempDirectory("graft_squality").toString
    b1.toDF("doc_id", "source", "text", "ts").coalesce(1)
      .write.parquet(s"$dir/b1")
    val src = spark.readStream
      .schema(all.schema).option("maxFilesPerTrigger", "1").parquet(s"$dir/*")
    val q = EventStreams.streamingQualityGate(src, thr)
      .writeStream.outputMode("append")
      .format("memory").queryName("squality").start()
    try {
      q.processAllAvailable()
      b2.toDF("doc_id", "source", "text", "ts").coalesce(1)
        .write.parquet(s"$dir/b2")
      q.processAllAvailable()
      val got = spark.table("squality").select("doc_id")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(got == expectKeep)
      assert(got.contains(401L)) // unknown source passes at default −∞
      assert(!got.contains(400L)) // token-free doc carries no signal
      // the strict default quarantines the unknown source instead
      val strict = EventStreams.streamingQualityGate(
        all.where(col("doc_id") === 401L), thr, defaultThr = Double.MaxValue)
      assert(strict.count() == 0)
    } finally q.stop()
  }

  test("streaming passage dedup keeps only first-seen chunks across micro-batches") {
    import java.sql.Timestamp
    val dir = Files.createTempDirectory("graft_spassage").toString
    def ts(min: Int) = new Timestamp(1704067200000L + min * 60000L)
    val w1 = (1 to 30).map(i => s"p$i").mkString(" ")
    val w2 = (31 to 60).map(i => s"p$i").mkString(" ")
    // doc 1 = two distinct chunks
    Seq((1L, ts(0), s"$w1 $w2"))
      .toDF("doc_id", "ts", "text").coalesce(1).write.parquet(s"$dir/b1")
    val src = spark.readStream
      .schema(Seq.empty[(Long, Timestamp, String)]
        .toDF("doc_id", "ts", "text").schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/*")
    val q = EventStreams.streamingPassageDedup(src)
      .writeStream.outputMode("append")
      .format("memory").queryName("spassage").start()
    try {
      q.processAllAvailable()
      // batch 2: doc 2 repeats doc 1's first chunk, then adds a new one
      val w3 = (61 to 90).map(i => s"p$i").mkString(" ")
      Seq((2L, ts(2), s"$w1 $w3"))
        .toDF("doc_id", "ts", "text").coalesce(1).write.parquet(s"$dir/b2")
      q.processAllAvailable()
      val got = spark.table("spassage")
        .select("doc_id", "off", "chunk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      assert(got == Set((1L, 1L, w1), (1L, 31L, w2), (2L, 31L, w3)),
        s"got $got") // doc 2's repeat of w1 (off 1) is dropped cross-batch
    } finally q.stop()
  }

  test("streaming winnow claims keep first-seen fingerprints across " +
    "micro-batches and match the batch keep-first sets") {
    import java.sql.Timestamp
    val dir = Files.createTempDirectory("graft_swinnow").toString
    def ts(min: Int) = new Timestamp(1704067200000L + min * 60000L)
    val runA = (1 to 12).map(i => s"a$i").mkString(" ")
    val runB = (1 to 12).map(i => s"b$i").mkString(" ")
    Seq((1L, ts(0), runA), (2L, ts(1), runB))
      .toDF("doc_id", "ts", "text").coalesce(1).write.parquet(s"$dir/b1")
    val src = spark.readStream
      .schema(Seq.empty[(Long, Timestamp, String)]
        .toDF("doc_id", "ts", "text").schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/*")
    val q = EventStreams.streamingWinnowClaims(src)
      .writeStream.outputMode("append")
      .format("memory").queryName("swinnow").start()
    try {
      q.processAllAvailable()
      // batch 2: doc 3 repeats runA (all claims already taken), doc 4 is
      // novel, doc 5 is too short to fingerprint
      Seq((3L, ts(2), runA),
          (4L, ts(3), (1 to 12).map(i => s"c$i").mkString(" ")),
          (5L, ts(4), "too short"))
        .toDF("doc_id", "ts", "text").coalesce(1).write.parquet(s"$dir/b2")
      q.processAllAvailable()
      val got = spark.table("swinnow")
        .groupBy("doc_id").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      // batch reference: every doc's full fingerprint set size
      val nFps = Seq((1L, runA), (2L, runB), (4L, (1 to 12).map(i => s"c$i")
          .mkString(" ")))
        .toDF("doc_id", "text")
        .select(col("doc_id"), size(graft.functions.TextHashFunctions
          .winnowSet(col("text"), 4, 5)).as("n"))
        .collect().map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
      assert(got == nFps) // docs 3 (saturated) and 5 (short) claim nothing
      assert(nFps.values.forall(_ > 0))
    } finally q.stop()
  }

  test("streaming dedup drops repeated event_ids across micro-batches") {
    import java.sql.Timestamp
    val dir = Files.createTempDirectory("graft_sdedup").toString
    def ts(min: Int) = new Timestamp(1704067200000L + min * 60000L)
    Seq(Event(1, ts(0), 1, "a", 1.0), Event(2, ts(1), 1, "a", 1.0))
      .toDF().coalesce(1).write.parquet(s"$dir/b1")
    val src = spark.readStream.schema(Seq.empty[Event].toDF().schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/*")
    val q = EventStreams.streamingDedup(src, "1 hour")
      .writeStream.outputMode("append")
      .format("memory").queryName("sdedup").start()
    try {
      q.processAllAvailable()
      // batch 2 re-delivers event 2 (within watermark) + a new event 3
      Seq(Event(2, ts(1), 1, "a", 1.0), Event(3, ts(2), 1, "a", 1.0))
        .toDF().coalesce(1).write.parquet(s"$dir/b2")
      q.processAllAvailable()
      val ids = spark.table("sdedup").select("event_id")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(ids == Seq(1L, 2L, 3L)) // event 2 delivered once
    } finally q.stop()
  }

  test("upsert sink merges micro-batches by key; within-batch max-seq wins; " +
    "new partitions appear without rewriting old ones") {
    val dir = Files.createTempDirectory("graft_upsert_src").toString
    val tbl = Files.createTempDirectory("graft_upsert_tbl").toString
    val ckpt = Files.createTempDirectory("graft_upsert_ckpt").toString
    Seq((1L, "a", "d1", 1L), (2L, "b", "d1", 1L), (3L, "c", "d2", 1L))
      .toDF("id", "v", "p", "seq").coalesce(1).write.parquet(s"$dir/b1")
    val src = spark.readStream
      .schema(Seq.empty[(Long, String, String, Long)]
        .toDF("id", "v", "p", "seq").schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/*")
    val q = EventStreams.upsertSink(src, tbl, "id", "p", "seq", ckpt).start()
    try {
      q.processAllAvailable()
      // batch 2: key 2 updated twice OUT OF ORDER within the batch (seq 3
      // then seq 2 — 3 must win), key 4 inserted into a brand-new partition
      Seq((2L, "B3", "d1", 3L), (2L, "B2", "d1", 2L), (4L, "d", "d3", 1L))
        .toDF("id", "v", "p", "seq").coalesce(1).write.parquet(s"$dir/b2")
      q.processAllAvailable()
      val got = spark.read.parquet(tbl).select("id", "v", "p")
        .as[(Long, String, String)].collect().toSet
      assert(got == Set((1L, "a", "d1"), (2L, "B3", "d1"),
        (3L, "c", "d2"), (4L, "d", "d3")))

      // batch 3: a LATE redelivery of key 2 with an OLDER sequence (cross-
      // batch at-least-once) must not regress the stored seq=3 value
      Seq((2L, "Bstale", "d1", 1L))
        .toDF("id", "v", "p", "seq").coalesce(1).write.parquet(s"$dir/b3")
      q.processAllAvailable()
      val v2 = spark.read.parquet(tbl).where(col("id") === 2L)
        .select("v").as[String].collect().toSeq
      assert(v2 == Seq("B3"), "older cross-batch delivery regressed the key")
    } finally q.stop()
  }

  test("upsert sink guards null-partition keys against older cross-batch " +
    "redeliveries (isin(null) is never true — needs the isNull arm)") {
    val dir = Files.createTempDirectory("graft_upsertnull_src").toString
    val tbl = Files.createTempDirectory("graft_upsertnull_tbl").toString
    val ckpt = Files.createTempDirectory("graft_upsertnull_ckpt").toString
    // key 1 lives in the NULL partition (__HIVE_DEFAULT_PARTITION__),
    // key 2 in a regular one
    Seq((1L, "n2", Option.empty[String], 2L), (2L, "a", Option("d1"), 1L))
      .toDF("id", "v", "p", "seq").coalesce(1).write.parquet(s"$dir/b1")
    val src = spark.readStream
      .schema(Seq.empty[(Long, String, Option[String], Long)]
        .toDF("id", "v", "p", "seq").schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/*")
    val q = EventStreams.upsertSink(src, tbl, "id", "p", "seq", ckpt).start()
    try {
      q.processAllAvailable()
      // batch 2: LATE redelivery of key 1 with an OLDER seq — before the
      // null-aware guard, the stored null-partition row was never read back
      // (__stored_seq null) and the stale value overwrote the newer one
      Seq((1L, "nStale", Option.empty[String], 1L))
        .toDF("id", "v", "p", "seq").coalesce(1).write.parquet(s"$dir/b2")
      q.processAllAvailable()
      val got = spark.read.parquet(tbl).select("id", "v")
        .as[(Long, String)].collect().toSet
      assert(got == Set((1L, "n2"), (2L, "a")),
        "older redelivery regressed the null-partition key")
    } finally q.stop()
  }

  test("foreachBatch replays the launch-events batch transform on a stream") {
    val rawDir = Files.createTempDirectory("graft_fb_src").toString
    val outDir = Files.createTempDirectory("graft_fb_out").toString
    val ckpt = Files.createTempDirectory("graft_fb_ckpt").toString
    val body =
      """{"count": 1, "next": null, "previous": null, "results": [
        | {"id": "s1", "url": "u", "name": "n",
        |  "status": {"name": "Go", "abbrev": "G"}, "image": null,
        |  "net": "2024-12-01T13:05:00Z", "last_updated": "x"}]}"""
        .stripMargin.replaceAll("\n", " ")
    Files.writeString(java.nio.file.Paths.get(s"$rawDir/d1.json"), body)

    val stream = spark.readStream.schema(graft.pipeline.Ll2.schema).json(rawDir)
    val q = EventStreams.foreachBatchPipeline(stream,
      graft.pipeline.LaunchPipeline.launchEvents, outDir, ckpt).start()
    try {
      q.processAllAvailable()
      val got = spark.read.parquet(outDir)
      assert(got.count() == 1)
      assert(got.columns.toSeq ==
        Seq("id", "url", "name", "status", "image_url", "license", "net"))
    } finally q.stop()
  }

  test("streaming top-k exemplars track the batch largestK after each " +
    "micro-batch; redelivery merges idempotently") {
    import graft.functions.TextAnalysis
    import graft.operators.Relational
    // quality(doc(i)) strictly increases with i (i stopword hits out of a
    // fixed 12 tokens — the OperatorsSpec construction)
    def doc(i: Int) = ((1 to i).map(_ => "the") ++
      (1 to (12 - i)).map(j => s"w$j")).mkString(" ")
    val b1 = Seq((1L, "sA", doc(2)), (2L, "sA", doc(5)), (3L, "sB", doc(4)))
    // batch 2: a better sA doc, a REDELIVERY of doc 2, a worse sB doc
    val b2 = Seq((4L, "sA", doc(9)), (2L, "sA", doc(5)), (5L, "sB", doc(1)))
    def expected(docs: Seq[(Long, String, String)]) = {
      val df = docs.distinct.toDF("doc_id", "source", "text")
      val sc = TextAnalysis.quality(df.select(col("doc_id"), col("text")))
        .join(df.select(col("doc_id"), col("source")), "doc_id")
      sc.groupBy("source").agg(Relational.largestK(
          struct(col("quality"), (-col("doc_id")).as("nid"),
            col("doc_id")), 2).as("top"))
        .collect().map { r =>
          val top = r.getSeq[org.apache.spark.sql.Row](1)
          r.getString(0) -> ((top.map(_.getLong(2)), top.map(_.getDouble(0))))
        }.toMap
    }
    val dir = Files.createTempDirectory("graft_stopk").toString
    b1.toDF("doc_id", "source", "text").coalesce(1).write.parquet(s"$dir/b1")
    val src = spark.readStream
      .schema(Seq.empty[(Long, String, String)]
        .toDF("doc_id", "source", "text").schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/*")
    val q = EventStreams.streamingTopExemplars(src, k = 2)
      .writeStream.outputMode("update")
      .format("memory").queryName("stopk").start()
    try {
      q.processAllAvailable()
      def rows() = spark.table("stopk").collect()
        .map(r => (r.getString(0), r.getSeq[Long](1), r.getSeq[Double](2)))
        .toSeq
      val after1 = rows()
      assert(after1.map(t => t._1 -> ((t._2, t._3))).toMap == expected(b1))
      b2.toDF("doc_id", "source", "text").coalesce(1)
        .write.parquet(s"$dir/b2")
      q.processAllAvailable()
      val newRows = rows().drop(after1.size)
      // both sources received batch-2 docs, so both re-emit; the merged
      // state equals the batch top-k over the DEDUPLICATED union — doc 2's
      // redelivery must not occupy two of sA's k slots
      assert(newRows.map(t => t._1 -> ((t._2, t._3))).toMap ==
        expected(b1 ++ b2))
    } finally q.stop()
    intercept[IllegalArgumentException](
      EventStreams.streamingTopExemplars(
        b1.toDF("doc_id", "source", "text"), k = 0))
  }

  test("streaming semantic dedup: keep-first within a micro-batch, " +
    "cross-batch claims by kept vectors, watermark eviction re-admits, " +
    "null embeddings pass out of scope") {
    val dir = Files.createTempDirectory("graft_ssem").toString
    val cents = Seq((0L, Array(1f, 0f, 0f, 0f)), (1L, Array(0f, 1f, 0f, 0f)))
      .toDF("cid", "cv")
    def ts(hhmm: String) = java.sql.Timestamp.valueOf(s"2024-01-01 $hhmm:00")
    val schema = Seq.empty[(java.sql.Timestamp, Long, Array[Float])]
      .toDF("ts", "vec_id", "embedding").schema
    // b1 at 10:00 — keep-lowest-id within the batch
    Seq((ts("10:00"), 10L, Array(1f, 0f, 0f, 0f)),
        (ts("10:00"), 11L, Array(0.99f, 0.1f, 0f, 0f)), // ≈10 → dropped
        (ts("10:00"), 12L, Array(0f, 1f, 0f, 0f)),
        (ts("10:00"), 13L, null.asInstanceOf[Array[Float]])) // out of scope
      .toDF("ts", "vec_id", "embedding")
      .coalesce(1).write.parquet(s"$dir/b1")
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/*")
    val q = EventStreams.streamingSemanticDedup(src, cents, 0.95,
        watermark = "10 minutes")
      .writeStream.outputMode("append")
      .format("memory").queryName("ssem").start()
    try {
      q.processAllAvailable()
      def ids() = spark.table("ssem").collect().map(_.getLong(1)).sorted.toSeq
      assert(ids() == Seq(10L, 12L))
      // b2 at 11:00 — watermark is still 09:50 (from b1), so b1's kept
      // vectors claim: 20 ≈ kept 10 → dropped; 21 under threshold vs 12
      Seq((ts("11:00"), 20L, Array(0.98f, 0.05f, 0.05f, 0f)),
          (ts("11:00"), 21L, Array(0f, 0.9f, 0.4f, 0f)))
        .toDF("ts", "vec_id", "embedding")
        .coalesce(1).write.parquet(s"$dir/b2")
      q.processAllAvailable()
      assert(ids() == Seq(10L, 12L, 21L))
      // b3 at 11:30 — watermark advanced to 10:50 past b1's ts, so kept
      // 10 is EVICTED and an identical vector re-enters the corpus window
      Seq((ts("11:30"), 30L, Array(1f, 0f, 0f, 0f)))
        .toDF("ts", "vec_id", "embedding")
        .coalesce(1).write.parquet(s"$dir/b3")
      q.processAllAvailable()
      assert(ids() == Seq(10L, 12L, 21L, 30L))
    } finally q.stop()
  }

  test("streaming top-k exemplars: a MUTATED redelivery (same doc_id, new " +
    "text/quality) occupies one slot at its best quality") {
    def doc(i: Int) = ((1 to i).map(_ => "the") ++
      (1 to (12 - i)).map(j => s"w$j")).mkString(" ")
    // batch 1: docs 1..3, quality rises with the stopword count
    val b1 = Seq((1L, "sA", doc(2)), (2L, "sA", doc(5)), (3L, "sA", doc(4)))
    // batch 2: doc 2 redelivered with CHANGED text — higher quality now.
    // Pre-fix, (q5, 2) and (q9, 2) both survived the pair-level distinct
    // and doc 2 burned two of the k=2 slots, evicting doc 3.
    val b2 = Seq((2L, "sA", doc(9)))
    val dir = Files.createTempDirectory("graft_stopk_mut").toString
    b1.toDF("doc_id", "source", "text").coalesce(1).write.parquet(s"$dir/b1")
    val src = spark.readStream
      .schema(Seq.empty[(Long, String, String)]
        .toDF("doc_id", "source", "text").schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/*")
    val q = EventStreams.streamingTopExemplars(src, k = 2)
      .writeStream.outputMode("update")
      .format("memory").queryName("stopk_mut").start()
    try {
      q.processAllAvailable()
      b2.toDF("doc_id", "source", "text").coalesce(1)
        .write.parquet(s"$dir/b2")
      q.processAllAvailable()
      val last = spark.table("stopk_mut").collect()
        .map(r => (r.getString(0), r.getSeq[Long](1))).last
      // doc 2 once (at its new, higher quality), then doc 3 — not [2, 2]
      assert(last == (("sA", Seq(2L, 3L))))
    } finally q.stop()
  }
}
