package graft
import java.nio.file.{Files, Paths}

import graft.engine.GraftSession

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * The session comes from [[GraftSession]] — the engine's actual posture
  * (extensions, UTC, AQE, nanosAsLong, SPARK_GRAFT_CONF overrides). A
  * hand-rolled builder here had already drifted (no GraftExtensions, no
  * conf overrides, different shuffle-partition default): the plans being
  * VERIFIED must be the plans the engine actually runs.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query names (local iteration aid;
    // the driver always runs the full set)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = GraftSession.getOrCreate("graft-verify")
    new java.io.File(outDir).mkdirs()
    // Heavy-dump route (VERDICT r14 directive 2): names listed in
    // SPARK_GRAFT_VERIFY_MULTIFILE dump as MULTI-FILE parquet — no
    // coalesce(1). The default single-file dump exists because
    // check_oracle's exact compare is row-order-sensitive, but on a heavy
    // query whose pipeline has no exchange before the sink (x82's codec
    // pass, q01/x18/x34's one-task writes) the coalesce pulls the WHOLE
    // pipeline into one serial task: x82 paid ~700 s of single-task re-run
    // for ~35 s of parallel work at sf25. Multi-file keeps the dump at the
    // JobProfile shape; row order across files is undefined, so these
    // names must be checked via check_oracle's order-insensitive
    // DUCK_AGG_QUERIES route — tools/gate.sh wires both from one list
    // (GATE_HEAVY). The driver sets neither variable → its sf0.01 gate
    // contract is byte-identical to before.
    val multiFile: Set[String] = sys.env.get("SPARK_GRAFT_VERIFY_MULTIFILE")
      .map(_.split(",").filter(_.nonEmpty).toSet).getOrElse(Set.empty)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        val out = fn(spark, sfDir)
        (if (multiFile(name)) out else out.coalesce(1))
          .write.mode("overwrite").parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // remove any previous run's dump AND this run's partial write:
        // a stale directory would make the oracle gate validate round-N
        // results for a round-N+1 regression — a false green
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm))
          f.delete(): Unit
        }
        rm(new java.io.File(s"$outDir/$name"))
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // sketch-query tolerance magnitudes (VERDICT r11 directive 6): the
    // pass/fail verdicts are hashed inside x28/x54's own outputs; this
    // sidecar records the measured errors behind them
    // NonFatal only (ADVICE r12): an OOM/linkage error here must kill
    // verify, not let it report healthy with a missing sidecar
    try Files.writeString(Paths.get(s"$outDir/tolerance.json"),
      graft.queries.Catalog.toleranceReport(spark, sfDir))
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[verify] tolerance report failed: ${e.getMessage}")
    }
    spark.stop()
  }
}
