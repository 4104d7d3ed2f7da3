package graft

import org.scalatest.funsuite.AnyFunSuite

/** Static audit of driver-side materialization: every `.collect()` /
  * `.head()` / `.first()` in main MUST be a declared bounded site — the
  * anti-pattern that kills 100 TB runs is an undeclared O(input) collect.
  * Each allowlisted site carries its boundedness argument; a NEW site
  * anywhere in main fails this spec until it is justified here.
  * (Complements PlanAuditSpec, which audits executed plans; this audits
  * the code the planner never sees.) The same audit covers session-conf
  * writes: each is a declared site with its reason.
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
    "Clusters.scala" -> (1,
      "one-row convergence aggregate (.head) — a (count, checksum) pair"),
    "Relational.scala" -> (2,
      "keyedRowNumbers block table, collected only when its count is " +
        "≤ MaxDriverBlocks; orderedRunningTotal partSums ≤ parts"),
    "PartitionIncremental.scala" -> (1,
      "recompute of the partitions whose files changed — the per-partition " +
        "aggregate's rows for those partitions only (one row per changed " +
        "day for dailyCounts); the cache it feeds holds one entry per " +
        "partition"),
    "Merge.scala" -> (3,
      "distinct PARTITION values of the update set / written set — " +
        "bounded by touched partitions, never row counts"),
    "BpeTrainer.scala" -> (1,
      "TakeOrdered(1) round winner — exactly one (pair, weight) row per " +
        "merge round"),
    "Dedup.scala" -> (1,
      "contaminationCounts bloom sketch — ONE binary row of numBits/8 " +
        "bytes (conf-capped 8 MB), size fixed by parameters not data"),
    "HiveCatalogDemo.scala" -> (1,
      "two-JVM demo main: bounded daily-count reports"),
    "Sharding.scala" -> (2,
      "expected-count and write-audit aggregates — one row per shard, " +
        "bounded by nShards"),
    "Catalog.scala" -> (1,
      "toleranceReport max-error aggregates — ONE row per .head() " +
        "(global max over bounded group reports)"))

  /** file name → matches of `regex` in the non-comment lines of every
    * `.scala` file under `root`. */
  private def siteCounts(root: String, regex: String): Map[String, Int] = {
    val pat = java.util.regex.Pattern.compile(regex)
    def scalaFiles(dir: java.io.File): Seq[java.io.File] =
      Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
        if (f.isDirectory) scalaFiles(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil
      }
    scalaFiles(new java.io.File(root)).flatMap { f =>
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
  }

  /** Every site in `found` is declared with its count in `allowed`, and
    * every declared file still has sites. */
  private def audit(found: Map[String, Int], allowed: Map[String, (Int, String)],
                    what: String, fix: String): Unit = {
    val undeclared = found.filterNot { case (name, n) =>
      allowed.get(name).exists(_._1 == n)
    }
    assert(undeclared.isEmpty, s"undeclared or count-changed $what: $undeclared — $fix")
    val stale = allowed.keySet -- found.keySet
    assert(stale.isEmpty, s"stale entries for $what (sites removed): $stale")
  }

  test("every driver-side collect/head/first in main is a declared bounded site") {
    audit(siteCounts("src/main/scala/graft",
      "\\.collect\\(\\)|collectAsList|\\.head\\(\\)|\\.first\\(\\)"), allowed,
      "driver collect sites", "add/adjust the allowlist entry WITH a boundedness argument")
  }

  /** file name → (expected site count, why the write is needed). Building
    * or running a query must not write session conf: a conf set by one
    * caller changes the plans of every other query on the shared session. */
  val confWrites: Map[String, (Int, String)] = Map(
    "LaunchPipeline.scala" -> (1,
      "registerTable sets the parallel partition-discovery threshold from " +
        "the zone's filesystem: driver listing on a local session over " +
        "local disk, Spark's listing job elsewhere"))

  test("every session-conf write in main is a declared site") {
    audit(siteCounts("src/main/scala",
      "conf\\.(set|unset)\\(|setConf\\(|setConfString\\("), confWrites,
      "session-conf writes", "express the decision in the plan, or declare the site with its reason")
  }

  /** file name → (expected site count, why the one-task tier is read
    * there). `ScalePolicy.oneTask` decides for every query whose one-task
    * plan is a layout rewrite of its at-scale plan; a query reads the tier
    * itself only in a named fork, a branch that runs another algorithm. */
  val oneTaskSites: Map[String, (Int, String)] = Map(
    "ScalePolicy.scala" -> (2,
      "the tier's definition and the rewrite's decision on it"),
    "Catalog.scala" -> (3,
      "named forks: x34's pair-sort tail, x62's array funnel, x102's route " +
        "around a kernel-once checkpoint"))

  test("the one-task tier is read only by the rewrite and the named forks") {
    audit(siteCounts("src/main/scala", "\\bOneTask\\b"), oneTaskSites,
      "one-task tier reads", "derive the branch with ScalePolicy.oneTask, " +
        "or declare the fork with its reason")
  }

  test("the kernel tier is read only by ScalePolicy.kernelSpread") {
    audit(siteCounts("src/main/scala", "\\bKernelSpread\\b"),
      Map("ScalePolicy.scala" -> (2, "the tier's definition and kernelSpread's decision")),
      "kernel tier reads", "lay the kernel input out with ScalePolicy.kernelSpread")
  }

  test("every held intermediate goes through Materialize, eager only at a " +
    "named site") {
    audit(siteCounts("src/main/scala",
      "\\.localCheckpoint\\(|\\.persist\\(|\\.cache\\(\\)|\\.checkpoint\\("),
      Map("GraftSqlBridge.scala" -> (1, "the checkpoint behind Materialize"),
        "Relational.scala" -> (1, "keyedRowNumbers' block table: an RDD of " +
          "per-block tuples, counted to price the route and read once more by " +
          "the route that wins; the driver route unpersists it after its " +
          "collect, the ContextCleaner releases the distributed route's")),
      "materializations", "pass the intermediate through graft.engine.Materialize")
    audit(siteCounts("src/main/scala/graft", "Materialize\\.now\\("), Map(
      "Merge.scala" -> (1, "upsertByKey: the merge overwrites the partitions it reads"),
      "Maintenance.scala" -> (1, "compactPartitions overwrites the partitions " +
        "it reads"),
      "TextAnalysis.scala" -> (1, "pmiCollocations: the count table's first " +
        "consumers are broadcast builds racing on Spark's broadcast pool")),
      "eager materializations", "use the lazy Materialize, or declare the " +
        "site with its Materialize.Reason")
  }

  test("bounded probes run only through ScalePolicy's probe routes, or guard " +
    "an input with no second algorithm") {
    audit(siteCounts("src/main/scala", "Actions\\.bounded(Rows|Count)\\("), Map(
      "ScalePolicy.scala" -> (2, "probeCount and probeRows: the probe routes, " +
        "which `spark.graft.scale=large` forces to their at-scale side"),
      "Dedup.scala" -> (1, "embeddingNearDupPairs: the caller-bounded probe " +
        "set rides a broadcast; over the cap it fails loudly"),
      "TextAnalysis.scala" -> (2, "mixtureSample's per-source rates and " +
        "dsirWeights' hashed buckets: at most 2^20 sources and `buckets` " +
        "rows by construction; over the cap they fail loudly"),
      "EventStreams.scala" -> (1, "streamingSemanticDedup's centroid table " +
        "rides a broadcast by the SemDeDup k-growth contract; over the cap " +
        "it fails loudly")),
      "bounded probes", "route through ScalePolicy.probeCount / probeRows, or " +
        "declare the input guard with its reason")
    audit(siteCounts("src", "ScalePolicy\\.route\\("), Map.empty,
      "bare route records", "decide through ScalePolicy.probe, probeCount or probeRows")
  }

  test("batch state is written and its re-run guard applied only in " +
    "BatchHistory") {
    audit(siteCounts("src/main/scala",
      "partitionBy\\(\"batch\"\\)|col\\(\"batch\"\\)\\s*=!=|=!=\\s*batchId"),
      Map("BatchHistory.scala" -> (3, "record's batch-partitioned write, " +
        "history's partition filter and its origin-batch filter for count tables")),
      "batch-state writes and batch-exclusion filters",
      "read and write batch state through graft.pipeline.BatchHistory")
  }

  test("operators route on their input's partitioning, not a flag") {
    audit(siteCounts("src/main/scala", "fuseOneTask"), Map.empty,
      "one-task flags", "ask ScalePolicy.onePartition about the operator's input")
  }
}
