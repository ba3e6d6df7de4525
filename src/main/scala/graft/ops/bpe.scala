package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.NativeExprs

/** Byte-pair-encoding vocabulary training and subword tokenization.
  *
  * The reference engine stops at whitespace/regex token COUNTS
  * (SURVEY.md §2.8's text-statistics family); a training-data pipeline
  * also needs the tokenizer itself — learned merge rules and a subword
  * encoder — because token budgets, packing, and dedup thresholds are all
  * denominated in the model's own vocabulary. This is classic word-level
  * BPE (Sennrich et al., "Neural Machine Translation of Rare Words with
  * Subword Units", ACL 2016): start from characters, repeatedly fuse the
  * most frequent adjacent symbol pair.
  *
  * Scale shape (100 TB): the corpus is read ONCE — a token explode into a
  * word-count aggregate (map-side combine; shuffle carries distinct words
  * only). Every merge round then runs over the WORD VOCABULARY, which is
  * 4-6 orders of magnitude smaller than the corpus and distributed (never
  * collected); per round one pair-count aggregate + a
  * `TakeOrderedAndProject` brings exactly ONE winning row to the driver.
  * The symbol arrays are checkpointed each round via [[ckpt.cutLazy]] to
  * truncate lineage (lazily — each round already ends in a collect that
  * materializes the state, so an eager cut was one extra blocking job
  * per round) — the same discipline as
  * [[dedup.connectedComponents]]: reliable when `setCheckpointDir` is
  * configured (the cluster/fault-tolerant path), local otherwise.
  * Determinism: pair counts are exact integer sums and the argmax
  * tie-breaks on (count desc, left asc, right asc), so the learned rules
  * are a pure function of the corpus.
  */
object bpe {

  /** Train `merges` BPE merge rules on the whitespace tokens of
    * `textCol`. Stops early when the best remaining pair occurs fewer
    * than `minPairCount` times (a rule learned from one document is
    * noise). Returns `(step, left, right, pair_count)` in training
    * order — `step` is 0-based. */
  def train(
      df: DataFrame,
      textCol: String,
      merges: Int = 32,
      minPairCount: Long = 2): DataFrame = {
    require(merges >= 0, s"merges must be >= 0, got $merges")
    val spark = df.sparkSession
    import spark.implicits._
    // The ONE corpus-wide pass: word -> count.
    val words = df.select(explode(text.tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    // Initial symbols: code points (matches the encode kernel's split —
    // Spark substring/length are code-point based).
    var vocab = ckpt.cutLazy(words.select(col("cnt"),
      transform(sequence(lit(1), length(col("w"))), i =>
        col("w").substr(i, lit(1))).as("syms")))
    val rules = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var step = 0
    var done = merges == 0
    while (!done) {
      // sequence() guard: only rows with >= 2 symbols build pairs —
      // sequence(1, 0) would yield a DESCENDING [1, 0], not empty.
      val top = vocab.where(size(col("syms")) >= 2)
        .select(col("cnt"),
          explode(transform(sequence(lit(1), size(col("syms")) - 1), j =>
            struct(element_at(col("syms"), j).as("l"),
              element_at(col("syms"), j + 1).as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("pc"))
        .orderBy(col("pc").desc, col("l").asc, col("r").asc)
        .limit(1)
        .collect()
      if (top.isEmpty || top(0).getAs[Long]("pc") < minPairCount) done = true
      else {
        val l = top(0).getAs[String]("l")
        val r = top(0).getAs[String]("r")
        rules += ((step, l, r, top(0).getAs[Long]("pc")))
        // One merge pass per row; checkpoint so the next round's pair
        // count reads materialized symbols, not the whole merge lineage.
        vocab = ckpt.cutLazy(vocab
          .withColumn("syms", NativeExprs.bpeMergePair(col("syms"), l, r)))
        step += 1
        if (step >= merges) done = true
      }
    }
    rules.toSeq.toDF("step", "left", "right", "pair_count")
  }

  /** Final per-word symbols after training — the vocabulary view of the
    * trained state: `(w, cnt, syms)`. Recomputes the corpus word counts
    * once and applies `rules` with the encode kernel, so
    * `encodeTokens(lit(w), rules)` on a training word equals its `syms`
    * (the trainer/encoder agreement law pinned in BpeSpec). */
  def vocabSymbols(
      df: DataFrame,
      textCol: String,
      rules: Seq[(String, String)]): DataFrame =
    df.select(explode(text.tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .withColumn("syms", NativeExprs.bpeEncode(col("w"), rules))

  /** Subword tokens of a TEXT column under trained `rules` (in training
    * order) — one fused pass, zero shuffle. */
  def encodeTokens(c: Column, rules: Seq[(String, String)]): Column =
    NativeExprs.bpeEncode(c, rules)
}
