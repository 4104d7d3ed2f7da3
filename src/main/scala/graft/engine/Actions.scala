package graft.engine

import org.apache.spark.sql.{DataFrame, Row}

/** Driver-side actions tuned for job count.
  *
  * `df.limit(cap + 1).collect()` plans a CollectLimit, which executes
  * INCREMENTALLY: one partition first, then 4×, 16×, … more per round until
  * the limit is satisfied or the input is exhausted (spark.sql.limit
  * .scaleUpFactor). For a bounded-probe pattern — "give me everything, but
  * fail loudly past a cap" — the limit is sized to NEVER be reached, so the
  * scale-up walks every partition across ~log₄(parts) separate jobs, each
  * paying the full per-job scheduling floor (measured ~3 extra jobs ≈
  * 0.15-0.3 s on x20/x21 at sf0.1).
  */
object Actions {

  /** Count up to `cap` rows in exactly ONE job, or None when the input has
    * more — [[boundedRows]]'s shape with NOTHING shipped to the driver but
    * one long per partition. Per-partition iteration stops at cap + 1 rows,
    * so over-cap inputs never pay a full scan of any one partition past the
    * point the answer is known to be "too big". The probe EXECUTES the
    * input's plan (bounded per partition): a caller whose input is
    * expensive to recompute and read again after the probe passes it
    * through [[Materialize]] first, so the probe's job fills the blocks the
    * later reads use. */
  def boundedCount(df: DataFrame, cap: Long): Option[Long] = {
    val n = cap + 1
    val counts = df.rdd.mapPartitions { it =>
      var c = 0L
      while (c < n && it.hasNext) { it.next(); c += 1 }
      Iterator.single(c)
    }.collect()
    if (counts.exists(_ >= n)) None
    else {
      val total = counts.sum
      if (total > cap) None else Some(total)
    }
  }

  /** Collect up to `cap` rows in exactly ONE job, or None when the input
    * has more. Per-partition `take(cap + 1)` bounds what any executor sends,
    * and the driver-side result handler DISCARDS partition results as soon
    * as the running total exceeds the cap — so driver heap is bounded by
    * `cap` retained rows plus one in-flight partition result (≤ cap + 1),
    * independent of partition count. (A plain per-partition-take collect()
    * would hold up to numPartitions × (cap + 1) rows on the driver before
    * the over-cap decision — with a 2²⁰ cap and 32 shuffle partitions that
    * is the driver-OOM path the cap exists to prevent.)
    *
    * Exactness: if the job completes under the cap, no partition was
    * truncated — a partition only truncates when it holds > cap + 1 rows,
    * which alone already pushes the total past the cap and returns None. */
  def boundedRows(df: DataFrame, cap: Int): Option[Array[Row]] = {
    val rdd = df.rdd
    val sc = rdd.sparkContext
    val n = cap + 1 // captured by the task closure as a plain Int
    val buf = new scala.collection.mutable.ArrayBuffer[Row]()
    var over = false
    sc.runJob[Row, Array[Row]](
      rdd,
      (_: org.apache.spark.TaskContext, it: Iterator[Row]) => it.take(n).toArray,
      0 until rdd.getNumPartitions,
      (_: Int, part: Array[Row]) => {
        // JobWaiter invokes result handlers serially on the driver, so no
        // synchronization is needed; once over, arrays drop straight to GC.
        if (!over) {
          if (buf.length + part.length > cap) { over = true; buf.clear() }
          else buf ++= part
        }
        ()
      }
    )
    if (over) None else Some(buf.toArray)
  }
}
