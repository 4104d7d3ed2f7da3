package perfbench

import java.nio.charset.StandardCharsets
import java.time.LocalDate
import java.util.SplittableRandom
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.Path

import graft.pipeline.LaunchPipeline
import graft.pipeline.LaunchPipeline.Zones

/** One generated day of Launch Library 2 `mode=list` pages. */
final case class LaunchDay(date: LocalDate, pages: IndexedSeq[String],
                           records: Int, distinctIds: Int) {
  def bytes: Long = pages.map(_.getBytes(StandardCharsets.UTF_8).length.toLong).sum
}

/** Seeded synthetic LL2 pages. Every block of four consecutive days holds
  * the same mix of day sizes: days of one, three and six pages in a seeded
  * order (`BlockPages`; the last page of each is partly filled) and an
  * empty day at position `EmptyAt`. Some images are null or lack a
  * license, and some ids repeat on later pages of the same day (a launch
  * re-listed while paging). Same seed, same bytes.
  *
  * The fixed mix keeps the records of a whole block, and the day on which
  * the zones pass 32 partitions, the same for every seed; only the order
  * and the record contents vary. */
object LaunchPages {
  val PageSize = 100 // LaunchPipeline.fetchAllPages' page stride
  val BlockPages: IndexedSeq[Int] = IndexedSeq(1, 3, 6)
  val BlockDays: Int = BlockPages.size + 1
  val EmptyAt = 3
  private val statuses = Array("Go for Launch", "Launch Successful",
    "To Be Determined", "Launch Failure", "On Hold")

  /** The day at `offset` days from the start of block 0 (negative offsets
    * fall in earlier blocks). */
  def day(seed: Long, date: LocalDate, offset: Int): LaunchDay = {
    val block = Math.floorDiv(offset, BlockDays)
    val pos = Math.floorMod(offset, BlockDays)
    val order = new scala.util.Random(seed * 1000003L + block).shuffle(BlockPages)
    val full =
      if (pos == EmptyAt) 0 else order(if (pos < EmptyAt) pos else pos - 1)
    val rng = new SplittableRandom(seed * 1000033L + offset)
    val n = if (full == 0) 0 else PageSize * (full - 1) + 1 + rng.nextInt(PageSize)
    val ids = new Array[String](n)
    for (i <- 0 until n)
      ids(i) =
        if (i >= 10 && rng.nextInt(20) == 0) ids(rng.nextInt(i))
        else f"${rng.nextLong()}%016x-${date.toEpochDay}%d"
    val results = (0 until n).map { i =>
      val secs = rng.nextInt(86400)
      val net = f"${date}T${secs / 3600}%02d:${secs / 60 % 60}%02d:${secs % 60}%02dZ"
      val image = rng.nextInt(10) match {
        case 0 => "null"
        case 1 => s"""{"image_url":"https://img.example/${ids(i)}.png","license":null}"""
        case _ => s"""{"image_url":"https://img.example/${ids(i)}.png","license":{"name":"CC BY 4.0","link":"https://cc.example"}}"""
      }
      val st = statuses(rng.nextInt(statuses.length))
      s"""{"id":"${ids(i)}","url":"https://ll.example/launch/${ids(i)}/",""" +
        s""""name":"Rocket ${i % 37} | Mission $i","status":{"name":"$st","abbrev":"${st.take(3)}"},""" +
        s""""image":$image,"net":"$net","last_updated":"${date}T23:59:59Z"}"""
    }
    val nPages = math.max(1, (n + PageSize - 1) / PageSize)
    val pages = (0 until nPages).map { p =>
      val next =
        if (p + 1 < nPages) s""""https://ll.example/launches/?offset=${(p + 1) * PageSize}""""
        else "null"
      val prev = if (p > 0) s""""https://ll.example/launches/?offset=${(p - 1) * PageSize}"""" else "null"
      results.slice(p * PageSize, (p + 1) * PageSize)
        .mkString(s"""{"count":$n,"next":$next,"previous":$prev,"results":[""", ",", "]}")
    }
    LaunchDay(date, pages, n, ids.distinct.length)
  }

  /** In-process page server: no network, counts pages served. */
  def fetcher(days: Map[LocalDate, LaunchDay], served: AtomicLong): LaunchPipeline.PageFetcher =
    (start, end, offset) => {
      require(end == start.plusDays(1), s"expected a one-day window, got [$start, $end)")
      served.incrementAndGet()
      days(start).pages(offset / PageSize)
    }
}

/** A daily backfill of the reference job, each call timed in `run()`'s
  * order: ingest, transform, publish, registerTable, then the serving
  * query. Every served row is checked against the generator.
  *
  * The zones start with `HistoryDays` days of history, transformed and
  * landed in one batch, as a lake the daily job joins would hold. The
  * set-up rounds then run the next `WarmDays` days, two per round, each
  * round in a fresh session as a scheduled daily job would; the timed
  * phase continues the same backfill on the same zones, so it starts warm.
  * Page blocks start at the first timed day, so each third of the timed
  * days is one whole block and holds the same mix for every seed. */
final class Launch(ctx: Ctx) extends Workload {
  val HistoryDays = 33
  val WarmDays = 2 * Main.SetupRounds
  /** Spark lists more than 32 partition paths with a distributed job
    * (`spark.sql.sources.parallelPartitionDiscovery.threshold`). Counting
    * from the first timed day, the history starts at day -39 and every
    * fourth day from day -37 on is empty, so the zones hold 29 partitions
    * when timing starts and pass 32 on timed day 4: the first third of the
    * timed days runs before that step and the other two after it. */
  val TimedDays = 3 * LaunchPages.BlockDays
  val Start = LocalDate.of(2024, 1, 1)
  val Table = "launch_events"

  private val zones = Zones(s"${ctx.work}/launch")
  private val first = HistoryDays + WarmDays
  private val days: IndexedSeq[LaunchDay] = (0 until first + TimedDays)
    .map(i => LaunchPages.day(ctx.seed, Start.plusDays(i), i - first))
  private val pagesServed = new AtomicLong
  private val fetch = LaunchPages.fetcher(days.map(d => d.date -> d).toMap, pagesServed)
  private var warmPages = 0L

  /** Land the history days in the processed and reports zones at once,
    * through the job's own transform. */
  private def landHistory(): Unit = ctx.layer("launch.history") {
    val spark = ctx.spark
    import spark.implicits._
    val events = LaunchPipeline.launchEvents(spark.read.schema(graft.pipeline.Ll2.schema)
      .json(days.take(HistoryDays).flatMap(_.pages).toDS())).localCheckpoint()
    for (zone <- Seq(zones.processed, zones.reports))
      events.write.mode("append").partitionBy("net").parquet(zone)
  }

  /** Run day `i`; returns the served daily counts. */
  private def interval(i: Int, op: Op): Map[LocalDate, Long] = {
    val spark = ctx.spark
    val d = days(i)
    ctx.layer("launch.ingest")(LaunchPipeline.ingest(zones, d.date, fetch))
    ctx.layer("launch.transform")(LaunchPipeline.transform(spark, zones, d.date))
    ctx.layer("launch.publish")(LaunchPipeline.publish(spark, zones, d.date))
    ctx.layer("launch.register")(LaunchPipeline.registerTable(spark, zones, Table))
    val t0 = System.nanoTime()
    val served = ctx.layer("launch.serve")(
      LaunchPipeline.dailyCounts(spark, Table).collect())
    if (op != null) op.serveSeconds = ctx.elapsedSince(t0)
    served.map(r => r.getDate(0).toLocalDate -> r.getLong(1)).toMap
  }

  /** Each served row equals the generator's distinct-id count for its day,
    * and every non-empty day so far is served. */
  private def expected(upTo: Int): Map[LocalDate, Long] =
    days.take(upTo + 1).filter(_.records > 0).map(x => x.date -> x.distinctIds.toLong).toMap

  def warmUp(ctx: Ctx, round: Int): Unit = {
    if (round == 1) landHistory()
    val per = WarmDays / Main.SetupRounds
    for (i <- HistoryDays + (round - 1) * per until HistoryDays + round * per)
      ctx.check(interval(i, null) == expected(i), s"warm-up day ${days(i).date} served wrong counts")
    warmPages = pagesServed.get
  }

  def timed(ctx: Ctx): Unit =
    for (i <- first until days.size) {
      var served = Map.empty[LocalDate, Long]
      ctx.timedOp(s"interval ${days(i).date}") { op =>
        served = interval(i, op)
        days(i).records.toLong
      }(_ => served == expected(i))
    }

  private def zoneFiles: (Long, Long) = {
    val root = new Path(zones.base)
    val fs = root.getFileSystem(ctx.spark.sessionState.newHadoopConf())
    val it = fs.listFiles(root, true)
    var files = 0L; var bytes = 0L
    while (it.hasNext) {
      val f = it.next()
      val n = f.getPath.getName
      if (!n.startsWith(".") && !n.startsWith("_")) { files += 1; bytes += f.getLen }
    }
    (files, bytes)
  }

  private def inputBytes: Long = days.map(_.bytes).sum

  def layerMetrics(ctx: Ctx): Map[String, Double] = {
    def med(layer: String) = Stats.median(ctx.ops.map(_.layers.getOrElse(layer, 0.0)).toSeq)
    val (files, bytes) = zoneFiles
    Map(
      "launch.ingest_s" -> med("launch.ingest"),
      "launch.pages" -> (pagesServed.get - warmPages).toDouble / ctx.ops.size,
      "launch.transform_s" -> med("launch.transform"),
      "launch.publish_s" -> med("launch.publish"),
      // parquet files in the processed and reports zones per day
      "launch.files_per_interval" -> (files - (days.size - HistoryDays)).toDouble / days.size,
      "launch.register_s" -> med("launch.register"),
      "launch.serve_s" -> med("launch.serve"),
      "launch.stored_bytes_per_input_byte" -> bytes.toDouble / inputBytes)
  }

  def record(ctx: Ctx): Map[String, Any] = {
    val digest = java.security.MessageDigest.getInstance("SHA-256")
    days.foreach(_.pages.foreach(p => digest.update(p.getBytes(StandardCharsets.UTF_8))))
    Map(
      "input_rows" -> days.map(_.records.toLong).sum,
      "input_bytes" -> inputBytes,
      "input_sha256" -> digest.digest().map(b => f"$b%02x").mkString,
      "days" -> days.size, "history_days" -> HistoryDays, "warm_days" -> WarmDays,
      "empty_days" -> days.count(_.records == 0),
      "stored_bytes_per_input_byte" -> zoneFiles._2.toDouble / inputBytes)
  }
}
