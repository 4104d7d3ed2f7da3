package graft

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{IncrementalCuration, Maintenance}

/** Crash at every step of the batch-state writes: for each mutating
  * filesystem call k of one curation batch (funnel report on) and of one
  * history fold, crash at call k, re-run the failed step as the scheduler
  * would, and compare the survivors, every state table's rows and the
  * report rows with a run that never crashed. */
class BatchStateCrashSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  private val th = Seq(("s1", 0.5), ("s2", 0.5)).toDF("source", "thr")
  private def batch(rows: (Long, String, String)*) =
    rows.toDF("doc_id", "source", "text")
  // b1 and b2 each hold a within-batch dup, a gated-out doc and a cap
  // that binds; b2 repeats b1 content; b3 repeats folded content
  private val b1 = batch((10L, "s1", "the cat of war"), (11L, "s1", "the cat of war"),
    (12L, "s1", "zz yy xx ww"), (13L, "s1", "the dog of peace"),
    (15L, "s2", "the owl of night"))
  private val b2 = batch((20L, "s1", "the fox of dawn"), (21L, "s1", "the cat of war"),
    (22L, "s1", "the elk of dusk"), (23L, "s2", "the owl of night"),
    (24L, "s2", "the bee of noon"), (25L, "s2", "the bee of noon"))
  private val b3 = batch((30L, "s1", "the dog of peace"), (31L, "s2", "the ant of rain"),
    (32L, "s2", "the yak of fog"), (33L, "s1", "the cow of hay"))
  private val b4 = batch((40L, "s2", "the fox of dawn"), (41L, "s2", "the emu of sun"),
    (42L, "s1", "the gnu of ice"))

  private def curate(b: DataFrame, h: String, id: String): Seq[Long] =
    IncrementalCuration.curateBatch(b, h, id, th, 3, reportPath = s"$h/report")
      .select("doc_id").as[Long].collect().sorted.toSeq

  /** The fold step; its return value is left out, since a re-run after a
    * crash folds only what the crashed run left unfolded. */
  private def fold(h: String): Unit =
    Maintenance.foldHistory(spark, s"$h/source_counts", protect = Set("b3"),
      provenance = true)

  /** Every table's rows, batch partition included, as sorted JSON lines. */
  private def state(h: String): Map[String, Seq[String]] =
    Seq("digests", "source_counts", "report").map { t =>
      val df = spark.read.option("mergeSchema", "true").parquet(s"$h/$t")
      t -> df.select(df.columns.sorted.map(col): _*).toJSON.collect().sorted.toSeq
    }.toMap

  private def copyDir(src: File, dst: File): Unit = {
    dst.mkdirs()
    src.listFiles().foreach { f =>
      val t = new File(dst, f.getName)
      if (f.isDirectory) copyDir(f, t)
      else Files.copy(f.toPath, t.toPath, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  private def uri(dir: File) = s"${CrashFs.Scheme}://${dir.getPath}"

  /** A fresh copy of the local tree `template`: its path and URI. */
  private def fresh(template: File): (String, String) = {
    val dir = Files.createTempDirectory("graft_crash").toFile
    copyDir(template, dir)
    (dir.getPath, uri(dir))
  }

  /** For every mutating call k of `step` over a copy of `template`: crash at
    * k, re-run `step`, then run the next batch `after`; each must give the
    * clean run's outcome and state. Returns the number of calls the step makes and how
    * many of the crashes surfaced as the step's failure. */
  private def everyCrash[T](template: File)(step: String => T)
                           (after: String => Seq[Long]): (Int, Int) = {
    val (cleanDir, clean) = fresh(template)
    val (out, calls) = CrashFs.counting(cleanDir, 0)(step(clean))
    val expected = (out.toTry.get, state(clean), after(clean), state(clean))
    assert(calls > 0)
    val failed = (1 to calls).count { k =>
      val (dir, h) = fresh(template)
      val (crashed, _) = CrashFs.counting(dir, k)(step(h))
      val got = (step(h), state(h), after(h), state(h))
      assert(got == expected, s"crash at call $k of $calls ($crashed)")
      crashed.isLeft
    }
    (calls, failed)
  }

  test("a curation batch and a history fold crashed at every mutating " +
    "filesystem call converge on re-delivery to the never-crashed run") {
    spark.conf.set(s"fs.${CrashFs.Scheme}.impl", classOf[CrashFs].getName)
    spark.sparkContext.setLogLevel("OFF") // each crash logs its failed job
    try {
      // the b2 step runs over b1's state
      val afterB1 = Files.createTempDirectory("graft_crash_t1").toFile
      assert(curate(b1, uri(afterB1), "b1") == Seq(10L, 13L, 15L))
      val batchCalls = everyCrash(afterB1)(curate(b2, _, "b2"))(curate(b3, _, "b3"))
      // the fold step runs over a history that already holds a folded
      // label, as every fold after the first does
      val beforeFold = Files.createTempDirectory("graft_crash_t2").toFile
      copyDir(afterB1, beforeFold)
      val h = uri(beforeFold)
      curate(b2, h, "b2")
      assert(Maintenance.foldHistory(spark, s"$h/source_counts",
        protect = Set("b2"), provenance = true) == Seq("b1"))
      curate(b3, h, "b3")
      val foldCalls = everyCrash(beforeFold)(fold)(curate(b4, _, "b4"))
      info(s"mutating calls (crashes that failed the step): curateBatch " +
        s"${batchCalls._1} (${batchCalls._2}), foldHistory ${foldCalls._1} " +
        s"(${foldCalls._2})")
    } finally {
      spark.conf.unset(s"fs.${CrashFs.Scheme}.impl")
      spark.sparkContext.setLogLevel("WARN")
    }
  }
}
