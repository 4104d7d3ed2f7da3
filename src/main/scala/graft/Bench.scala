package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit, pmod}

import graft.engine.GraftSession
import graft.queries.Catalog

/** Benchmark main: runs the headline query set against
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`.
  *
  * Protocol (BASELINE.md, symmetric with tools/bench_duckdb.py): warm-session
  * time — each query runs once to warm codegen/file listing, then the
  * reported value is the best of 5 timed runs with a GC between queries (a
  * 37-query session otherwise carries GC debt from one query into the next,
  * which measured as ±40% run-to-run noise on the heavy dedup queries).
  * Best-of-5 rather than best-of-3 because the JVM's C2 JIT needs several
  * executions to reach steady state (x18's heavy job measured 422 ms on its
  * first post-warm-up run and 63 ms by the third — profiled round 3); both
  * engines run the identical rule. Execution is forced through the no-op
  * sink so the full plan runs without collecting results to the driver.
  *
  * Machine-load sentinel: a fixed floor probe (1-task job + one-exchange
  * shuffle job, best-of-5) runs before and after the query set and is
  * published as "floor_pre"/"floor_post". The probe touches no data, so its
  * time is pure scheduling floor — an ambient-loaded session shows up as an
  * elevated or asymmetric sentinel instead of silently skewing every query
  * (the round-4 BENCH published ~1.5× uniform drift with nothing in the
  * file to flag it).
  *
  * Per-query stall defense (VERDICT r9 directive 1): best-of-5 masks
  * transient noise but NOT a host stall spanning all five runs — BENCH_r09
  * published x29 at 7.87 s where the same code measures 0.317 s, poisoning
  * the headline total for any reader without BASELINE.md forensics. So
  * Bench keeps a committed per-SF history of the best value ever recorded
  * per query (`tools/bench_history.tsv`); after the set, any query whose
  * best-of-5 exceeds max(5× its history value, 10× floor_post) is re-run
  * ONCE (the published value is the min) and its name is published in
  * "stall_suspect" either way — a reader can discount a stalled slot from
  * the artifact alone. History keeps the MIN-ever so a stall can never
  * enter it and raise its own future threshold; the cost is that a
  * genuinely 5×-slowed query stays flagged until BASELINE.md adjudicates
  * it, which is exactly the attention such a regression deserves. A query
  * with no history row (first run at that SF) is never flagged — the
  * bootstrap run seeds the file.
  *
  * Degraded-window self-healing (VERDICT r9 stretch 7): when the pre-set
  * floor probe lands in the documented host-degradation bracket (> 0.25 s
  * — pairs 32-34/36), Bench sleeps 60 s and re-probes once before starting
  * the set; pair 34's recovery suggests the brackets are transient, so one
  * retry can turn a would-be degraded artifact into a moderate one. Both
  * probes are recorded: "floor_pre" is the effective (second) probe,
  * "floor_retry" the abandoned first one.
  *
  * Degraded-window FULL-SET retry (r14, VERDICT r13): if either bracket
  * probe of the completed set is degraded, sleep 60 s and — when a fresh
  * probe shows recovery — run the entire set once more, publishing the
  * per-query MIN of the two passes and the recovered pass's floors.
  * BENCH_r12/r13 were both degraded-floor artifacts whose cross-round
  * deltas were pure window noise; the retry makes the driver-visible
  * artifact match the quality of the hand-taken pair records. The
  * abandoned pass's floors are published as "set_retry":[pre,post].
  */
object Bench {

  // Locale.ROOT: a comma-decimal default locale (de_DE) would print
  // 0,8812 and invalidate the one JSON line the driver parses
  def fmt(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))

  /** Floor-probe seconds above which the host is in the degraded bracket. */
  val DegradedFloor = 0.25

  /** The machine-load sentinel: a 1-task job plus a one-exchange shuffle
    * job over no data, best of 5 after a warm-up, in seconds. */
  def floorProbe(spark: SparkSession): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.sparkContext.parallelize(Seq(1), 1).count()
      spark.range(1000).toDF("v").groupBy(pmod(col("v"), lit(10L))).count()
        .write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }
    once() // warm-up
    (1 to 5).map(_ => once()).min
  }

  /** Names whose best-of-5 exceeds the stall threshold
    * max(5 × history, 10 × floor_post). Pure — spec-covered by
    * BenchStallSpec with a synthetic x29-shaped stall. No-history names
    * are never flagged (bootstrap rule); failed queries (-1) are reported
    * by their own channel, not as stalls. */
  def stallSuspects(results: Seq[(String, Double)],
                    prev: Map[String, Double],
                    floorPost: Double): Seq[String] =
    results.collect {
      case (n, v) if v >= 0 &&
        prev.get(n).exists(p => v > math.max(5 * p, 10 * floorPost)) => n
    }

  /** Parse `tools/bench_history.tsv`: `sfName<TAB>query<TAB>seconds` lines,
    * '#' comments. Malformed lines are skipped (a hand-edited file must
    * never kill the bench), and duplicate (sf, query) rows reduce by MIN —
    * last-wins would let a hand-merged duplicate silently RAISE a stall
    * threshold, inverting the file's min-ever contract (ADVICE r10). */
  def parseHistory(text: String): Map[String, Map[String, Double]] =
    text.linesIterator.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .flatMap { l =>
        l.split('\t') match {
          case Array(sf, q, v) =>
            scala.util.Try(v.toDouble).toOption.map(d => (sf, q, d))
          case _ => None
        }
      }
      .toSeq.groupBy(_._1)
      .map { case (sf, rows) =>
        sf -> rows.groupBy(_._2).map { case (q, vs) => q -> vs.map(_._3).min }
      }

  def renderHistory(h: Map[String, Map[String, Double]]): String = {
    val header =
      "# bench_history: per-SF MIN-ever best-of-5 seconds per query." +
        "\n# Written by graft.Bench after every run; read to compute the" +
        "\n# per-query stall threshold max(5x history, 10x floor_post)." +
        "\n# sfName\tquery\tseconds"
    val body = h.toSeq.sortBy(_._1).flatMap { case (sf, m) =>
      m.toSeq.sortBy(_._1).map { case (q, v) => s"$sf\t$q\t${fmt(v)}" }
    }
    (header +: body).mkString("", "\n", "\n")
  }

  /** Fold this run's confirmed values into the history (min-ever; failed
    * queries excluded). */
  def mergeHistory(h: Map[String, Map[String, Double]], sfName: String,
                   finals: Seq[(String, Double)]): Map[String, Map[String, Double]] = {
    val prev = h.getOrElse(sfName, Map.empty[String, Double])
    val merged = finals.filter(_._2 >= 0).foldLeft(prev) { case (m, (n, v)) =>
      m.updated(n, math.min(v, m.getOrElse(n, Double.MaxValue)))
    }
    h.updated(sfName, merged)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.getOrCreate("graft-bench")

    def runOnce(name: String): Double = {
      val t0 = System.nanoTime()
      Catalog.queries(name)(spark, sfDir)
        .write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }

    def benchSet(names: Seq[String]): Seq[(String, Double)] = names.map { name =>
      try {
        System.gc() // don't bill this query for the previous one's garbage
        runOnce(name) // warm-up: codegen + parquet footer/file listing
        name -> (1 to 5).map(_ => runOnce(name)).min
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          name -> -1.0
      }
    }
    def json(results: Seq[(String, Double)]): String =
      results.map { case (k, v) => s""""$k":${fmt(v)}""" }
        .mkString("{", ",", "}")
    def total(results: Seq[(String, Double)]): String =
      fmt(results.map(_._2).filter(_ >= 0).sum)

    // optional args: query names to bench (local iteration aid; the driver
    // always runs the full set)
    val only = args.toSet
    def pick(names: Seq[String]) = if (only.isEmpty) names else names.filter(only)

    val histPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_HIST", "tools/bench_history.tsv"))
    val history: Map[String, Map[String, Double]] =
      if (java.nio.file.Files.isReadable(histPath))
        parseHistory(new String(java.nio.file.Files.readAllBytes(histPath),
          java.nio.charset.StandardCharsets.UTF_8))
      else Map.empty
    // history key = dir BASENAME, deliberately not the canonical path: the
    // SF dirs are deterministic derivations (driver-written sf0.1 or
    // make_sf1.py replicas), so equal basenames always hold equal data,
    // while path keying would orphan the whole history whenever a dir is
    // regenerated or mounted elsewhere. Contract: never point Bench at two
    // DIFFERENT datasets sharing a basename (ADVICE r10, adjudicated).
    val sfName = new java.io.File(sfDir).getName
    val prev = history.getOrElse(sfName, Map.empty[String, Double])

    // headline set first ("metric"/"value" keep their round-1 meaning, so
    // totals stay comparable across rounds); extended tier reported beside it
    floorProbe(spark) // the first probe of a fresh JVM only warms it
    val floorFirst = floorProbe(spark)
    val (floorPre, floorRetry) =
      if (floorFirst > DegradedFloor) {
        System.err.println(s"[bench] floor_pre ${fmt(floorFirst)} in the " +
          "degraded bracket; sleeping 60s and re-probing once")
        Thread.sleep(60000L)
        (floorProbe(spark), Some(floorFirst))
      } else (floorFirst, None)
    val headFirst = benchSet(pick(Catalog.benchNames))
    val extFirst = benchSet(pick(Catalog.benchNamesExtended))
    val floorPostFirst = floorProbe(spark)

    // Degraded-window FULL-SET retry (VERDICT r13 directive): BENCH_r12 and
    // r13 were both taken on degraded floors, so their round-over-round
    // deltas were window noise. When either bracket probe is degraded,
    // sleep 60 s, re-probe, and — if the host recovered — run the WHOLE set
    // once more and publish the RECOVERED pass's values ALONE (the earlier
    // min-merge policy was removed per ADVICE r14: it biased retried rounds
    // to best-of-10; see recoveredOnly below, which keeps a first-pass value
    // only as failure rescue). The published floors describe the recovered
    // pass. If the re-probe is still degraded, the first pass stands and
    // self-describes via "window":"degraded" as before.
    var headRaw = headFirst; var extRaw = extFirst
    var floorPreEff = floorPre; var floorPost = floorPostFirst
    var setRetry: Option[(Double, Double)] = None
    if (math.max(floorPre, floorPostFirst) > DegradedFloor) {
      System.err.println(s"[bench] window degraded (pre ${fmt(floorPre)}, " +
        s"post ${fmt(floorPostFirst)}); sleeping 60s and retrying the full set")
      Thread.sleep(60000L)
      val fp = floorProbe(spark)
      if (fp <= DegradedFloor) {
        val h2 = benchSet(pick(Catalog.benchNames))
        val e2 = benchSet(pick(Catalog.benchNamesExtended))
        val fpost2 = floorProbe(spark)
        // Publish the RECOVERED pass's values ALONE (ADVICE r14): min-merging
        // both passes made retried rounds effectively best-of-10 vs the
        // normal best-of-5 — a small systematic downward bias in cross-round
        // comparisons. The degraded pass is discarded; its only trace is
        // "set_retry". Exception: a query that FAILED in the recovered pass
        // keeps the first pass's value — that's failure rescue (identical
        // code; the failure is environmental), not a timing merge.
        def recoveredOnly(first: Seq[(String, Double)],
                          second: Seq[(String, Double)]) = {
          val fm = first.toMap
          second.map { case (n, v) =>
            n -> (if (v < 0) fm.getOrElse(n, v) else v)
          }
        }
        headRaw = recoveredOnly(headFirst, h2)
        extRaw = recoveredOnly(extFirst, e2)
        setRetry = Some((floorPre, floorPostFirst))
        floorPreEff = fp; floorPost = fpost2
      } else {
        System.err.println(s"[bench] retry probe still degraded " +
          s"(${fmt(fp)}); publishing the first pass")
      }
    }

    // stall defense: one extra run per suspect, publish min + the names
    val suspects = stallSuspects(headRaw ++ extRaw, prev, floorPost)
    val rescued: Map[String, Double] = suspects.map { n =>
      System.err.println(s"[bench] stall suspect $n (best-of-5 exceeded " +
        "max(5x history, 10x floor_post)); re-running once")
      System.gc()
      n -> (try runOnce(n) catch { case _: Throwable => Double.MaxValue })
    }.toMap
    def heal(rs: Seq[(String, Double)]) = rs.map { case (n, v) =>
      n -> rescued.get(n).map(r => math.min(v, r)).getOrElse(v)
    }
    val head = heal(headRaw)
    val ext = heal(extRaw)

    try {
      java.nio.file.Files.write(histPath,
        renderHistory(mergeHistory(history, sfName, head ++ ext))
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch {
      case e: Exception => // history is an aid, never a bench failure
        System.err.println(s"[bench] could not write $histPath: $e")
    }

    // Window-health self-description (VERDICT r8 stretch 7): BASELINE.md's
    // recorded moderate-window floors sit at 0.13-0.19 s; the documented
    // host-degradation bracket (pairs 32-34, rounds 7-8 driver benches) at
    // 0.28-0.35 s. Publishing the classification in the artifact means a
    // drifted round is self-describing instead of needing human sentinel
    // forensics against BASELINE.md after the fact.
    val window =
      if (math.max(floorPreEff, floorPost) > DegradedFloor) "degraded" else "moderate"
    // shared prefix for the full and compact metric lines (ADVICE r8: two
    // independent string builders had already half-drifted once).
    // "cpus"/"master" (r17, VERDICT r16 directive 2): the session's ACTUAL
    // parallelism and master, read back from the live SparkContext — the
    // driver's scaling probe flagged `suspect_cpus_ignored` on r16's
    // floor-bound sf0.1 ratios and the artifact had no field with which to
    // refute it. Additions only; the compact line has ~650 chars of headroom.
    val prefix =
      s"""{"metric":"total","value":${total(head)},"unit":"sec",""" +
      s""""cpus":${spark.sparkContext.defaultParallelism},""" +
      s""""master":"${spark.sparkContext.master}",""" +
      s""""queries":${json(head)},""" +
      s""""extended_total":${total(ext)},"""
    val suffix =
      s""""floor_pre":${fmt(floorPreEff)},"floor_post":${fmt(floorPost)},""" +
      floorRetry.map(f => s""""floor_retry":${fmt(f)},""").getOrElse("") +
      setRetry.map { case (p, q) =>
        s""""set_retry":[${fmt(p)},${fmt(q)}],""" }.getOrElse("") +
      s""""stall_suspect":${suspects.map(n => s""""$n"""").mkString("[", ",", "]")},""" +
      s""""window":"$window","sf":"$sfDir"}"""
    val line = prefix + s""""extended_queries":${json(ext)},""" + suffix
    println(line)
    // the driver greps stdout for the JSON line, but five rounds of
    // BENCH_r0N.json carried "parsed": null — sbt/log4j interleaving can
    // truncate or split the line. A file copy survives any stdout mangling.
    try {
      val out = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_metric.json"))
      java.nio.file.Files.write(out,
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      System.err.println(s"[bench] wrote ${out.toAbsolutePath}")
    } catch {
      case e: Exception => // stdout line already printed; the file is a backup
        System.err.println(s"[bench] could not write bench_metric.json: $e")
    }
    spark.stop()
    // Re-print a metric line as the ABSOLUTE last stdout action, after
    // spark.stop(). Seven rounds of BENCH_r0N.json carried "parsed": null;
    // BENCH_r07 finally showed why: the driver keeps only the LAST 2000
    // chars of stdout (its "tail" field is exactly 2000 chars and begins
    // mid-line), and the full 101-query line is ~4.5k chars — the window
    // can never hold it, no matter where it's printed. So the final line is
    // a COMPACT one: head-set per-query detail plus extended/floor
    // aggregates, ~1.3k chars, fitting the window even with sbt's trailing
    // "[success]" line. Full per-query detail (both tiers) stays in the
    // early println above and in bench_metric.json.
    val compact = prefix + s""""extended_n":${ext.size},""" + suffix
    // ADVICE r8: the 2000-char driver stdout window is the hard constraint
    // the compact line exists for; log the length so a future overflow is
    // diagnosable from the bench output instead of reappearing as
    // "parsed": null (~1.3k today; sbt's trailing [success] eats ~100).
    System.err.println(s"[bench] compact line length: ${compact.length}" +
      (if (compact.length > 1800) "  WARNING: exceeds driver tail budget" else ""))
    println(compact)
    System.out.flush()
  }
}
