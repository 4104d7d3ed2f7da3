package graft

import org.scalatest.funsuite.AnyFunSuite

/** Static audit of driver-side materialization: every `.collect()` /
  * `.head()` / `.first()` in main MUST be a declared bounded site — the
  * anti-pattern that kills 100 TB runs is an undeclared O(input) collect.
  * Each allowlisted site carries its boundedness argument; a NEW site
  * anywhere in main fails this spec until it is justified here.
  * (Complements PlanAuditSpec, which audits executed plans; this audits
  * the code the planner never sees.)
  */
class DriverBoundSpec extends AnyFunSuite {

  /** file name → (expected site count, boundedness argument). */
  val allowed: Map[String, (Int, String)] = Map(
    // Actions.boundedRows is the bounded-collect primitive itself but uses
    // sc.runJob + take, not .collect() — outside this pattern by design
    "Actions.scala" -> (1,
      "boundedCount partition-count collect — ONE long per partition, " +
        "row iteration capped at cap + 1 per task"),
    "EventStreams.scala" -> (1,
      "distinct partition values of ONE micro-batch (bounded by batch size)"),
    "Similarity.scala" -> (2,
      "probe/centroid sets capped by maxQueryId/numCentroids parameters"),
    "Clusters.scala" -> (2,
      "one-row convergence aggregates (.head) — (count, checksum) pairs"),
    "Relational.scala" -> (2,
      "keyedRowNumbers blockStats ≤ parts × |key values|; " +
        "orderedRunningTotal partSums ≤ parts"),
    "Merge.scala" -> (3,
      "distinct PARTITION values of the update set / written set — " +
        "bounded by touched partitions, never row counts"),
    "BpeTrainer.scala" -> (1,
      "TakeOrdered(1) round winner — exactly one (pair, weight) row per " +
        "merge round"),
    "Dedup.scala" -> (2,
      "contaminationCounts bloom sketch — ONE binary row of numBits/8 " +
        "bytes (conf-capped 8 MB), size fixed by parameters not data; " +
        "embeddingNearDupLsh hot-bucket routing list — limit-bounded at " +
        "MaxHotBuckets + 1 slim (band, key) rows"),
    "HiveCatalogDemo.scala" -> (1,
      "two-JVM demo main: bounded daily-count reports"),
    "X34Probe.scala" -> (1,
      "scratch profiler: ONE (rows, pairs, dots, hits, secs) counter row " +
        "per partition — bounded by partition count"),
    "X102Probe.scala" -> (1,
      "route-stats aggregate .head() — ONE (count, sum) row per probe run"),
    "CurationBench.scala" -> (2,
      "max(doc_id) .head() — one row; thresholds collect — ONE " +
        "(source, cutoff) row per source (discreteThreshold is " +
        "source-grouped), sources are a fixed small enum in testdata"),
    "Sharding.scala" -> (2,
      "expected-count and write-audit aggregates — one row per shard, " +
        "bounded by nShards"),
    "Catalog.scala" -> (1,
      "toleranceReport max-error aggregates — ONE row per .head() " +
        "(global max over bounded group reports)"))

  test("every driver-side collect/head/first in main is a declared bounded site") {
    val pat = java.util.regex.Pattern.compile(
      "\\.collect\\(\\)|collectAsList|\\.head\\(\\)|\\.first\\(\\)")
    def scalaFiles(dir: java.io.File): Seq[java.io.File] =
      Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
        if (f.isDirectory) scalaFiles(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil
      }
    val found = scalaFiles(new java.io.File("src/main/scala/graft")).flatMap { f =>
      val code = scala.io.Source.fromFile(f, "UTF-8").getLines()
        .map(_.trim)
        .filterNot(l => l.startsWith("//") || l.startsWith("*") ||
          l.startsWith("/*"))
        .mkString("\n")
      val m = pat.matcher(code)
      var n = 0
      while (m.find()) n += 1
      if (n > 0) Some(f.getName -> n) else None
    }.toMap
    val undeclared = found.filterNot { case (name, n) =>
      allowed.get(name).exists(_._1 == n)
    }
    assert(undeclared.isEmpty,
      s"undeclared or count-changed driver collect sites: $undeclared — " +
        "add/adjust the allowlist entry WITH a boundedness argument")
    val stale = allowed.keySet -- found.keySet
    assert(stale.isEmpty, s"stale allowlist entries (sites removed): $stale")
  }
}
