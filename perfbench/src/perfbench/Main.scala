package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.engine.GraftSession

/** One timed operation: an interval, a batch or a query execution. */
final class Op(val index: Int, val spanId: Long, val name: String) {
  var seconds = 0.0
  var serveSeconds = 0.0
  var items = 0L
  var ok = true
  val layers = mutable.LinkedHashMap.empty[String, Double]
}

/** State shared by the harness and the workload it runs. */
final class Ctx(val seed: Long, val seconds: Int, val work: String,
                val sf1: String, val tracer: Tracer) {
  var spark: SparkSession = _
  val ops = mutable.ArrayBuffer.empty[Op]
  /** Operations attempted and failed, warm-up checks included. */
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer.empty[String]
  private var op: Op = null

  /** Time one call into a graft layer; inside an operation its seconds are
    * added to the operation's per-layer totals. */
  def layer[T](name: String)(body: => T): T = {
    val (r, s) = tracer.layer(name)(body)
    if (op != null) op.layers(name) = op.layers.getOrElse(name, 0.0) + s
    r
  }

  /** Run one timed operation: `body` does the work and returns the items it
    * handled; `verify` then checks the outputs, untimed. An exception in
    * either counts as a failed operation and is recorded, not rethrown. */
  def timedOp(name: String)(body: Op => Long)(verify: Op => Boolean): Op = {
    val (o, secs) = tracer.span("op", name) {
      val o = new Op(ops.size, tracer.current, name)
      op = o
      try o.items = body(o)
      catch {
        case scala.util.control.NonFatal(e) =>
          o.ok = false
          problems += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}"
      } finally op = null
      o
    }
    o.seconds = secs
    ops += o
    if (o.ok)
      o.ok = try verify(o) catch {
        case scala.util.control.NonFatal(e) =>
          problems += s"$name check: ${e.getClass.getSimpleName}: ${e.getMessage}"
          false
      }
    check(o.ok, s"$name returned an incorrect result")
    o
  }

  /** Count one checked operation; a failed one is recorded. */
  def check(ok: Boolean, what: => String): Boolean = {
    attempted += 1
    if (!ok) {
      failed += 1
      if (problems.size < 50) problems += what
    }
    ok
  }

  def elapsedSince(t0Ns: Long): Double = (System.nanoTime() - t0Ns) / 1e9
}

/** A benchmark workload: an untimed warm-up unit run once per set-up round,
  * each round in a fresh session, then the timed phase. */
trait Workload {
  def warmUp(ctx: Ctx, round: Int): Unit
  def timed(ctx: Ctx): Unit
  /** Median operation time of the last third over the first third. */
  def growthRatio(ops: Seq[Op]): Double = Stats.thirdsRatio(ops.map(_.seconds))
  /** Workload-layer metrics (`launch.*`, `curation.*`, ...). */
  def layerMetrics(ctx: Ctx): Map[String, Double]
  /** Facts for the run record: inputs, correctness detail, growth. */
  def record(ctx: Ctx): Map[String, Any]
}

object Main {
  val SetupRounds = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    def need(k: String) = opt.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val name = need("workload")
    val tracer = new Tracer(need("trace") == "1")
    val ctx = new Ctx(need("seed").toLong, need("seconds").toInt,
      need("work"), need("sf1"), tracer)
    val wl: Workload = name match {
      case "launch_backfill" => new Launch(ctx)
      case "curation_loop" => new Curation(ctx)
      case "catalog_sf1" => new CatalogRun(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // set-up: start a session and run the warm-up unit, SetupRounds times;
    // the last session stays up for the timed phase
    val (rounds, _) = tracer.span("workload", name) {
      val rs = (1 to SetupRounds).map { r =>
        val (spark, start) = tracer.span("setup", s"session.start.$r") {
          GraftSession.getOrCreate(s"perfbench-$name")
        }
        ctx.spark = spark
        tracer.attach(spark.sparkContext)
        val (_, warm) = tracer.span("setup", s"session.warmup.$r")(wl.warmUp(ctx, r))
        if (r < SetupRounds) spark.stop()
        (start, warm)
      }
      wl.timed(ctx)
      rs
    }

    // end-to-end figures cover this workload's timed operations only
    val ops = ctx.ops.toSeq
    val opSecs = ops.map(_.seconds)
    val e2e = Seq(
      "setup_s" -> (Stats.median(rounds.map(r => r._1 + r._2)), "s"),
      "op_p50_s" -> (Stats.median(opSecs), "s"),
      "op_tail_s" -> (Stats.tail(opSecs), "s"),
      "items_per_s" -> (ops.map(_.items).sum / opSecs.sum, "1/s"),
      "serve_p50_s" -> (Stats.median(ops.map(_.serveSeconds)), "s"),
      "growth_ratio" -> (wl.growthRatio(ops), "ratio"),
      "peak_rss_mb" -> (Stats.peakRssMb(), "MB"))

    // A traced launch run goes on with the curation loop in the same
    // session, as the daily job does, so that its layers are measured too.
    val curation = if (tracer.enabled && wl.isInstanceOf[Launch]) {
      val c = new Ctx(ctx.seed, ctx.seconds, ctx.work, ctx.sf1, tracer)
      c.spark = ctx.spark
      val cur = new Curation(c)
      tracer.span("workload", "curation_loop") {
        for (r <- 1 to SetupRounds)
          tracer.span("setup", s"curation.warmup.$r")(cur.warmUp(c, r))
        cur.timed(c)
      }
      Some((c, cur))
    } else None
    tracer.drain()

    val wlLayers = wl.layerMetrics(ctx) ++
      curation.map { case (c, cur) => cur.layerMetrics(c) }.getOrElse(Map.empty) ++ Map(
      "session.start_s" -> Stats.median(rounds.map(_._1)),
      "session.warmup_s" -> Stats.median(rounds.map(_._2)),
      "trace.op_p50_s" -> Stats.median(opSecs))
    val sparkLayers = if (tracer.enabled) Layers.spark(ctx, ops) else Map.empty[String, Double]
    val perLayer = Layers.Names.map(n =>
      n -> (sparkLayers ++ wlLayers).getOrElse(n, 0.0)).toMap

    val wlRecord = wl.record(ctx) ++ curation.map { case (c, cur) =>
      "curation_loop" -> (cur.record(c) ++ Map(
        "op_names" -> c.ops.map(_.name), "op_seconds" -> c.ops.map(_.seconds),
        "layer_self" -> Layers.selfTimes(c, c.ops.toSeq)))
    }
    for ((c, _) <- curation) {
      ctx.attempted += c.attempted
      ctx.failed += c.failed
      ctx.problems ++= c.problems
    }
    val record = Map[String, Any](
      "workload" -> name, "seed" -> ctx.seed, "seconds" -> ctx.seconds,
      "trace" -> tracer.enabled, "cpus" -> GraftSession.cpus,
      "ops" -> ops.size, "tail_percentile" -> Stats.tailPercentile(opSecs.size),
      "setup_rounds" -> rounds.map { case (s, w) => Map("start_s" -> s, "warmup_s" -> w) },
      "op_names" -> ops.map(_.name),
      "op_seconds" -> opSecs,
      "op_layers" -> ops.map(_.layers.toMap),
      "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "failed_share" -> ctx.failed.toDouble / math.max(1L, ctx.attempted),
      "problems" -> ctx.problems.toSeq,
      "end_to_end" -> e2e.map { case (k, (v, _)) => k -> v }.toMap,
      "per_layer" -> perLayer) ++
      wlRecord ++
      (if (tracer.enabled) Map("layer_self" -> Layers.selfTimes(ctx, ops)) else Map.empty)
    opt.get("record").foreach(p => write(p, Json(record) + "\n"))
    opt.get("spans").filter(_ => tracer.enabled)
      .foreach(p => write(p, Layers.spansJsonLines(ctx)))
    ctx.spark.stop()

    val metrics =
      if (tracer.enabled) perLayer.toSeq.sortBy(_._1).map { case (k, v) =>
        k -> Map("value" -> v, "unit" -> Layers.unit(k)) }
      else e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
    val correct = ctx.failed == 0 && ops.nonEmpty
    println(Json(Map(
      "correct" -> correct,
      "attempted" -> math.max(1L, ctx.attempted),
      "failed" -> ctx.failed,
      "metrics" -> scala.collection.immutable.ListMap(metrics: _*))))
  }

  private def write(path: String, s: String): Unit = {
    val p = Paths.get(path)
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.write(p, s.getBytes(StandardCharsets.UTF_8))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest sample with at least ten samples above it; below 21
    * samples, where that would not lie above the median, the second
    * largest, so that no single outlier sets it. */
  def tail(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "tail of no samples")
    xs.sorted.apply(tailRank(xs.size) - 1)
  }

  /** 1-based rank of [[tail]]'s sample among `n` sorted samples. */
  private def tailRank(n: Int): Int = if (n > 20) n - 10 else math.max(1, n - 1)

  /** The percentile [[tail]] reports for `n` samples, in percent. */
  def tailPercentile(n: Int): Double = 100.0 * tailRank(n) / n

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Median of the last third over the first third, thirds rounded up. */
  def thirdsRatio(xs: Seq[Double]): Double = {
    val k = (xs.size + 2) / 3
    median(xs.takeRight(k)) / median(xs.take(k))
  }

  /** Peak resident set size of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** Minimal JSON writer for the result line, the run record and spans. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case other => quote(other.toString)
  }

  def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
