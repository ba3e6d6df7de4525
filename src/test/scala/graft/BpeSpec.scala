package graft

import org.apache.spark.sql.functions._

import graft.functions.NativeExprs
import graft.ops.{bpe, text}

class BpeSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")

  test("train learns hand-computed merges in count-then-lexicographic order") {
    // words: the×2, then×2, they×1
    // pairs: (t,h)=5 (h,e)=5 (e,n)=2 (e,y)=1 — tie at 5 breaks to (h,e)
    // round 0: (h,e,5) → round 1: (t,he,5) → round 2: (the,n,2) → stop
    // ((the,y)=1 < minPairCount)
    val df = Seq("the then they", "the then").toDF("text")
    val rules = bpe.train(df, "text", merges = 10, minPairCount = 2)
      .orderBy("step").as[(Int, String, String, Long)].collect().toSeq
    assert(rules == Seq((0, "h", "e", 5L), (1, "t", "he", 5L), (2, "the", "n", 2L)))
  }

  test("train respects the merges budget") {
    val df = Seq("the then they", "the then").toDF("text")
    val rules = bpe.train(df, "text", merges = 1, minPairCount = 2)
      .as[(Int, String, String, Long)].collect().toSeq
    assert(rules == Seq((0, "h", "e", 5L)))
  }

  test("merge pass is greedy left-to-right (no re-examination of fused output)") {
    val got = Seq("aaa aaaa").toDF("text")
      .select(bpe.encodeTokens(col("text"), Seq(("a", "a"))).as("t"))
      .as[Seq[String]].head()
    assert(got == Seq("aa", "a", "aa", "aa"))
  }

  test("native merge pass equals the fold HOF twin on real text") {
    val syms = docs.limit(100).select(
      transform(sequence(lit(1), length(col("text"))), i =>
        col("text").substr(i, lit(1))).as("syms"))
    for ((l, r) <- Seq(("e", " "), (" ", "t"), ("t", "h"))) {
      val diff = syms.select(
          NativeExprs.bpeMergePair(col("syms"), l, r).as("a"),
          HofTwins.mergePairHof(col("syms"), l, r).as("b"))
        .where(col("a") =!= col("b")).count()
      assert(diff == 0, s"pair ($l,$r)")
    }
  }

  test("single-shot encode kernel equals per-rule iteration and the HOF twin") {
    val rules = bpe.train(docs.limit(50), "text", merges = 6, minPairCount = 2)
      .orderBy("step").as[(Int, String, String, Long)].collect()
      .map(t => (t._2, t._3)).toSeq
    assert(rules.nonEmpty)
    val sample = docs.limit(30)
    // encode == the trainer's own state evolution: char split, then each
    // rule's merge pass in order (the law that makes trained vocab and
    // encoded corpus agree).
    val iterated = sample.select(col("doc_id"),
      posexplode(text.tokens(col("text"))).as(Seq("pos", "w")))
      .withColumn("it", rules.foldLeft(
        transform(sequence(lit(1), length(col("w"))), i =>
          col("w").substr(i, lit(1)))) {
        case (acc, (l, r)) => NativeExprs.bpeMergePair(acc, l, r)
      })
      .groupBy(col("doc_id"))
      // pin token order explicitly — collect_list order is not contractual
      .agg(flatten(transform(
        sort_array(collect_list(struct(col("pos"), col("it")))),
        s => s.getField("it"))).as("it"))
    val single = sample.select(col("doc_id"),
      bpe.encodeTokens(col("text"), rules).as("enc"))
    val diff = single.join(iterated, "doc_id")
      .where(col("enc") =!= col("it")).count()
    assert(diff == 0)
    // and the interpreted HOF twin agrees bit-for-bit
    val hofDiff = sample.select(
        bpe.encodeTokens(col("text"), rules).as("a"),
        HofTwins.encodeHof(col("text"), rules).as("b"))
      .where(col("a") =!= col("b")).count()
    assert(hofDiff == 0)
  }

  test("langConsistency flags the code-switched doc, clears the pure one") {
    // 8-token phrases × 16 = 128 tokens, aligned to the 64-token chunking
    val en = Seq.fill(16)("the cat is in the hat and dog").mkString(" ")
    val de = Seq.fill(16)("der hund ist ein tier und das haus").mkString(" ")
    val df = Seq(
      (1L, en),                 // 128 en tokens → 2 chunks, both en
      (2L, en + " " + de)       // 128 + 128 → 4 chunks: 2 en, 2 de
    ).toDF("doc_id", "text")
    val r = text.langConsistency(df, "text", "doc_id", window = 64, stride = 64)
      .orderBy("doc_id")
      .as[(Long, Long, Long, String, Double)].collect().toSeq
    assert(r(0) == ((1L, 2L, 1L, "en", 1.0)))
    assert(r(1) == ((2L, 4L, 2L, "de", 0.5)) || r(1) == ((2L, 4L, 2L, "en", 0.5)))
    // majority tie at 2-2 breaks lexicographically: de < en
    assert(r(1)._4 == "de")
  }

  // ---- WordPiece (likelihood-ratio trainer) ----------------------------

  test("wordpiece picks rare-but-always-together over frequent-but-independent") {
    // words: ab×3, xq×2. syms a:3 b:3 x:2 q:2.
    // (a,b): pc=3, score 3/(3·3)=0.333… → 333333333333
    // (x,q): pc=2, score 2/(2·2)=0.5    → 500000000000 — wins despite
    //        the LOWER count (BPE would fuse (a,b) first)
    val df = Seq("ab ab ab xq xq").toDF("text")
    val wp = graft.ops.wordpiece.train(df, "text", merges = 10, minPairCount = 2)
      .orderBy("step").as[(Int, String, String, Long, Long)].collect().toSeq
    assert(wp == Seq(
      (0, "x", "q", 2L, 500000000000L),
      (1, "a", "b", 3L, 333333333333L)))
    val bp = bpe.train(df, "text", merges = 1, minPairCount = 2)
      .as[(Int, String, String, Long)].collect().toSeq
    assert(bp == Seq((0, "a", "b", 3L)))
  }

  test("wordpiece tie on score breaks on pair count, then left symbol") {
    // the×2 then×2 they×1: every admissible pair scores exactly 0.2
    // ((t,h)=5/(5·5), (h,e)=5/(5·5), (e,n)=2/(5·2)) → pc desc keeps
    // (t,h),(h,e); l asc picks (h,e). Same cascade as the hand-computed
    // BPE fixture, but reached through the score path.
    val df = Seq("the then they", "the then").toDF("text")
    val wp = graft.ops.wordpiece.train(df, "text", merges = 1, minPairCount = 2)
      .as[(Int, String, String, Long, Long)].collect().toSeq
    assert(wp == Seq((0, "h", "e", 5L, 200000000000L)))
  }

  test("wordpiece respects merges budget and minPairCount stop") {
    val df = Seq("ab ab ab xq xq").toDF("text")
    assert(graft.ops.wordpiece.train(df, "text", merges = 0).count() == 0)
    // minPairCount 3 excludes (x,q); only (a,b) qualifies, then stop
    val wp = graft.ops.wordpiece.train(df, "text", merges = 10, minPairCount = 3)
      .as[(Int, String, String, Long, Long)].collect().toSeq
    assert(wp == Seq((0, "a", "b", 3L, 333333333333L)))
  }
}
