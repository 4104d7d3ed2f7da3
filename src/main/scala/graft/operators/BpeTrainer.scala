package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.engine.Materialize
import graft.functions.Portable
import graft.functions.Portable.{Spark => SparkD}

/** Byte-pair-encoding vocabulary induction (Sennrich, Haddow & Birch, ACL
  * 2016, arXiv:1508.07909) as a distributed training loop — the full
  * trainer behind x65's single pair-counting round.
  *
  * Classic formulation: BPE trains on the WORD-FREQUENCY table, not the
  * raw text — ONE corpus scan builds (word, weight); every merge round
  * then works over the distinct-word table (bounded by vocabulary, orders
  * of magnitude smaller than the corpus). Per round:
  *
  *  1. one weighted adjacent-symbol-pair aggregate over the vocab table
  *     (slim shuffle: one row per distinct pair per map task);
  *  2. the round winner comes back through a TakeOrdered(1) with the
  *     deterministic (weight DESC, left ASC, right ASC) tiebreak — a
  *     single row on the driver, nothing else;
  *  3. a narrow per-row fold rewrites each word's symbol array, merging
  *     the winning pair greedily left-to-right (typed-literal Columns, so
  *     arbitrary symbol text never reaches a SQL string);
  *  4. the vocab state goes through [[graft.engine.Materialize]] — the
  *     Clusters-loop lineage pattern (2^rounds plan growth otherwise).
  *
  * Scale: rounds × (one vocab-table aggregate + a narrow map). Web-corpus
  * word-frequency tables are ~10⁷ rows — comfortably distributed; the
  * corpus itself is touched once. Stops early when no adjacent pair
  * remains (every word fused to a single symbol).
  */
object BpeTrainer {

  /** One learned merge: `left + right` became a symbol with this corpus
    * weight at the round it won. */
  final case class Merge(left: String, right: String, weight: Long)

  private val EndMark = graft.functions.BpeEncode.EndMark

  def train(docs: DataFrame, rounds: Int,
            textCol: String = "text"): Seq[Merge] = {
    require(rounds >= 0, s"rounds must be non-negative, got $rounds")
    // word-frequency table → character symbols, end-of-word marker fused
    // onto the final character (the paper's formulation: '</w>' makes
    // word-final merges distinct from word-internal ones)
    var vocab = Materialize(docs
      .select(explode(expr(Portable.tokens(SparkD, textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("weight"))
      .select(col("weight"), expr(
        "transform(split(w, ''), (c, i) -> " +
          s"if(i = length(w) - 1, concat(c, '$EndMark'), c))").as("syms")))

    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var exhausted = false
    var round = 0
    while (round < rounds && !exhausted) {
      val top = vocab
        // fully fused single-symbol words carry no pairs — and sequence()
        // REJECTS a 1-to-0 range (implicit step would silently reverse it)
        .where(size(col("syms")) >= 2)
        .select(col("weight"), explode(expr(
          "transform(sequence(1, size(syms) - 1, 1), " +
            "i -> struct(syms[i - 1] AS l, syms[i] AS r))")).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("weight").as("c"))
        .orderBy(desc("c"), col("l"), col("r"))
        .limit(1)
        .collect()
      if (top.isEmpty) exhausted = true
      else {
        val (l, r, c) = (top(0).getString(0), top(0).getString(1),
          top(0).getLong(2))
        merges += Merge(l, r, c)
        // greedy leftmost merge of (l, r) inside every symbol array: fold
        // left-to-right, fusing when the accumulator's tail is l and the
        // incoming symbol is r — overlapping runs resolve leftmost-first,
        // the standard BPE apply order
        val fused = lit(l + r)
        val merged: Column = aggregate(
          col("syms"),
          array().cast("array<string>"),
          (acc, x) => when(
            size(acc) > 0 && element_at(acc, -1) === lit(l) && x === lit(r),
            concat(slice(acc, lit(1), size(acc) - 1), array(fused)))
            .otherwise(concat(acc, array(x))))
        vocab = Materialize(vocab.select(col("weight"), merged.as("syms")))
      }
      round += 1
    }
    merges.toSeq
  }

  /** Apply a learned merge list to a corpus — the tokenizer's ENCODE step:
    * adds `outCol` = the document's BPE symbol array (words' symbol runs
    * concatenated in order, trainer's `</w>` convention). Pure per-row
    * codegen compute ([[graft.functions.BpeEncode]]): no shuffle, merge
    * list task-serialized once, per-partition word cache bounds the work by
    * DISTINCT words — `encode(corpus, train(corpus, n))` reproduces the
    * trainer's final vocab-table symbol state on every word. */
  def encode(docs: DataFrame, merges: Seq[Merge], textCol: String = "text",
             outCol: String = "bpe_tokens"): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge
    docs.withColumn(outCol, GraftSqlBridge.column(
      graft.functions.BpeEncode(
        GraftSqlBridge.expression(col(textCol)),
        merges.map(m => (m.left, m.right)))))
  }
}
