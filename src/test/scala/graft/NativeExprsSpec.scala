package graft

import org.apache.spark.sql.functions._

import graft.functions.{hashing, NativeExprs}
import graft.ops.dedup

class NativeExprsSpec extends SparkSpec {

  private lazy val docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")

  test("native h32 equals the conv(md5) composition on real text") {
    val diff = docs.select(
        NativeExprs.h32(col("text")).as("a"), hashing.h32(col("text")).as("b"))
      .where(col("a") =!= col("b")).count()
    assert(diff == 0)
  }

  test("native min-shingle fingerprint equals the HOF composition; null under n chars") {
    val diff = docs.select(
        graft.ops.text.minShingleFingerprint(col("text")).as("a"),
        HofTwins.minShingleFingerprintHof(col("text")).as("b"))
      .where(col("a") =!= col("b") ||
        (col("a").isNull =!= col("b").isNull)).count()
    assert(diff == 0)
    import spark.implicits._
    val short = Seq("1234567", "12345678", "").toDF("text")
      .select(graft.ops.text.minShingleFingerprint(col("text")).as("fp"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(short(0).isEmpty && short(1).isDefined && short(2).isEmpty)
    // non-ASCII exercises the generic (substringSQL) path, ASCII the
    // fast byte-window path — both must match the HOF spec
    val uni = Seq("héllo wörld déjà vu encore", "plain ascii text here")
      .toDF("text")
      .select(graft.ops.text.minShingleFingerprint(col("text")).as("a"),
        HofTwins.minShingleFingerprintHof(col("text")).as("b"))
      .where(col("a") =!= col("b")).count()
    assert(uni == 0)
  }

  test("fused text profile: langId/stopwordRatio/meanTokenLen equal their HOF twins") {
    import graft.ops.text
    val diff = docs.select(
        text.langId(col("text")).as("a1"), HofTwins.langIdHof(col("text")).as("b1"),
        text.stopwordRatio(col("text")).as("a2"), HofTwins.stopwordRatioHof(col("text")).as("b2"),
        text.meanTokenLen(col("text")).as("a3"), HofTwins.meanTokenLenHof(col("text")).as("b3"),
        text.tokenCount(col("text")).as("a4"), HofTwins.tokenCountHof(col("text")).as("b4"))
      .where(col("a1") =!= col("b1") || col("a2") =!= col("b2") ||
        col("a3") =!= col("b3") || col("a4") =!= col("b4"))
      .count()
    assert(diff == 0)
  }

  test("fused langNgramScores equals the HOF map-lookup twin") {
    import graft.ops.text
    val fixtures = Seq(
      "The Quick Brown Fox, jumps!  over--the lazy dog 42 times",
      "die regierung hat angekündigt, dass die neue politik besprochen wird",
      "правительство объявило что новая политика будет обсуждаться",
      "η κυβέρνηση ανακοίνωσε ότι η νέα πολιτική θα συζητηθεί",
      "", "   ", "!!! 123 ???", "ab")
    import spark.implicits._
    val diff = fixtures.toDF("text").select(
        text.langNgramScores(col("text")).as("a"),
        HofTwins.langNgramScoresHof(col("text")).as("b"))
      .where(col("a") =!= col("b")).count()
    assert(diff == 0)
    // and over the real corpus
    val corpus = docs.select(
        text.langNgramScores(col("text")).as("a"),
        HofTwins.langNgramScoresHof(col("text")).as("b"))
      .where(col("a") =!= col("b")).count()
    assert(corpus == 0)
  }

  test("native wordShingles equals the HOF composition on real text") {
    val diff = docs.select(
        dedup.wordShingles(col("text")).as("a"),
        HofTwins.wordShinglesHof(col("text")).as("b"))
      .where(col("a") =!= col("b")).count()
    assert(diff == 0)
    // edge cases: short text, repeated whitespace, case folding
    import spark.implicits._
    val edge = Seq("", "a b", "A  B\tC  a b c", "x y z").toDF("text")
    val rows = edge.select(dedup.wordShingles(col("text")).as("a"),
      HofTwins.wordShinglesHof(col("text")).as("b")).collect()
    rows.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1)))
  }

  test("native wordGrams equals the HOF composition, keeps multiplicity and order") {
    def hof(n: Int) = {
      val ts = graft.ops.text.tokens(col("text"))
      if (n == 1) ts
      else when(size(ts) >= n,
        transform(sequence(lit(1), size(ts) - (n - 1)),
          i => concat_ws(" ", slice(ts, i, lit(n)))))
        .otherwise(array().cast("array<string>"))
    }
    for (n <- Seq(1, 3)) {
      val diff = docs.select(NativeExprs.wordGrams(col("text"), n).as("a"),
          hof(n).as("b"))
        .where(col("a") =!= col("b")).count()
      assert(diff == 0, s"n=$n")
    }
    import spark.implicits._
    val edge = Seq("", "a b", "A  B\tC  a b c", "x x x x").toDF("text")
    val rows = edge.select(NativeExprs.wordGrams(col("text"), 3).as("a"),
      hof(3).as("b")).collect()
    rows.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1)))
    // repeated grams survive (the tf point of the kernel)
    val rep = Seq("x x x x").toDF("text")
      .select(NativeExprs.wordGrams(col("text"), 3)).head().getSeq[String](0)
    assert(rep == Seq("x x x", "x x x"))
  }

  test("fused hashedGramSet equals array_distinct(transform(wordGrams, h63))") {
    def hof(n: Int) = array_distinct(transform(
      NativeExprs.wordGrams(col("text"), n), g => graft.functions.hashing.h63(g)))
    for (n <- Seq(1, 5)) {
      val diff = docs.select(NativeExprs.hashedGramSet(col("text"), n).as("a"),
          hof(n).as("b"))
        .where(col("a") =!= col("b")).count()
      assert(diff == 0, s"n=$n")
    }
    import spark.implicits._
    val edge = Seq("", "a b", "x x x x", "A  B\tC").toDF("text")
    val rows = edge.select(NativeExprs.hashedGramSet(col("text"), 3).as("a"),
      hof(3).as("b")).collect()
    rows.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1)))
  }

  test("native simhash equals the explode+groupBy composition") {
    val a = dedup.simhash(docs, "text", "doc_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = HofTwins.simhashHof(docs, "text", "doc_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
  }

  test("native 64-bit simhash equals the HOF composition; low 32 bits = 32-bit simhash") {
    val a = dedup.simhash(docs, "text", "doc_id", bits = 64).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = HofTwins.simhashHof(docs, "text", "doc_id", bits = 64).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
    val s32 = dedup.simhash(docs, "text", "doc_id", bits = 32).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    a.foreach { case (id, sig) => assert((sig & 0xffffffffL) == s32(id)) }
  }

  test("native h32b equals the conv(md5 chars 9-16) composition") {
    import spark.implicits._
    val sample = Seq("hello", "Grüße 北京", "").toDF("text")
      .select(col("text"), hashing.h32b(col("text")).as("b")).collect()
    sample.foreach { r =>
      val expect = NativeExprs.h32bBytes(r.getString(0).getBytes("UTF-8"))
      assert(r.getLong(1) == expect)
    }
  }

  test("native vector kernels are bit-identical to the HOF folds") {
    import graft.functions.vectors
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = vectors.vecLit((0 until 64).map(i => math.sin(i * 0.7)))
    val diff = emb.select(
        vectors.dotProduct(col("embedding"), q).as("dn"),
        HofTwins.dotProductHof(col("embedding"), q).as("dh"),
        vectors.l2Squared(col("embedding"), q).as("ln"),
        HofTwins.l2SquaredHof(col("embedding"), q).as("lh"))
      .where(col("dn") =!= col("dh") || col("ln") =!= col("lh")).count()
    assert(diff == 0)
    // Hamming over sign signatures: kernel == HOF fold, and integral
    val sig = transform(col("embedding"), x => when(x >= 0, 1.0).otherwise(0.0))
    val qs = vectors.vecLit((0 until 64).map(i => if (math.sin(i * 0.7) >= 0) 1.0 else 0.0))
    val hdiff = emb.select(
        vectors.hammingDistance(sig, qs).as("hn"),
        HofTwins.hammingDistanceHof(sig, qs).as("hh"))
      .where(col("hn") =!= col("hh") || col("hn") =!= floor(col("hn"))).count()
    assert(hdiff == 0)
    // packed law: XOR+popcount over 63-bit sign words == unpacked
    // elementwise Hamming of the sign vectors
    val q64 = (0 until 64).map(i => math.sin(i * 0.7))
    val qw = vectors.longArrayLit(vectors.signBitsPackedOf(q64))
    val qsv = vectors.vecLit(q64.map(x => if (x >= 0) 1.0 else 0.0))
    val pdiff = emb.select(
        vectors.hammingPacked(
          vectors.signBitsPacked(col("embedding"), 64), qw).as("hp"),
        vectors.hammingDistance(sig, qsv).as("hu"))
      .where(col("hp") =!= col("hu")).count()
    assert(pdiff == 0)
  }

  test("native repetition masses equal the HOF composition on real text") {
    import graft.ops.text
    for (n <- Seq(2, 3)) {
      val diff = docs.select(
          text.repetitionMasses(col("text"), n).as("a"),
          HofTwins.repetitionMassesHof(col("text"), n).as("b"))
        .where(col("a") =!= col("b")).count()
      assert(diff == 0, s"n=$n")
    }
    // edge cases: empty, below-n, exact repetition
    import spark.implicits._
    val edge = Seq("", "a", "a b a b a b", "x x x x").toDF("text")
    val rows = edge.select(
      text.repetitionMasses(col("text"), 2).as("a"),
      HofTwins.repetitionMassesHof(col("text"), 2).as("b")).collect()
    rows.foreach(r => assert(r.getStruct(0) == r.getStruct(1)))
  }

  test("native minhash signature equals the affine HOF composition") {
    val grams = docs.select(col("doc_id"), dedup.wordShingles(col("text")).as("g"))
      .where(size(col("g")) > 0)
      .withColumn("hs", transform(col("g"), x => hashing.h32(x)))
    val diff = grams.select(
        NativeExprs.minhashSig(col("g"), 16).as("a"),
        HofTwins.minhashSignatureHof(col("hs"), 16).as("b"))
      .where(col("a") =!= col("b")).count()
    assert(diff == 0)
  }

  test("native char-entropy kernel equals the explode twin on real text") {
    import graft.ops.text
    val a = text.charEntropy(docs, "text", "doc_id")
    val b = text.charEntropyExploded(docs, "text", "doc_id")
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
    // and the kernel's plan is shuffle-free (the whole point)
    val exchanges = "Exchange".r
      .findAllIn(a.queryExecution.executedPlan.toString).length
    assert(exchanges == 0, "fused charEntropy must not shuffle")
  }

  test("fence: value/null parity with the child") {
    import spark.implicits._
    val df = Seq(Some("abc"), None, Some(""), Some("xy")).toDF("s")
    val mismatches = df.select(
        NativeExprs.fence(upper(col("s"))).as("a"), upper(col("s")).as("b"))
      .where(!(col("a") <=> col("b"))).count()
    assert(mismatches == 0)
  }

  test("fence: exactly one materialized computation of the fenced child") {
    import spark.implicits._
    // Count Md5 expression nodes anywhere in the optimized plan — the
    // proxy for "how many times is the expensive chain evaluated per row".
    def md5Count(q: org.apache.spark.sql.DataFrame): Int =
      q.queryExecution.optimizedPlan.collect { case p =>
        p.expressions.map(_.collect {
          case _: org.apache.spark.sql.catalyst.expressions.Md5 => 1
        }.sum).sum
      }.sum
    // spark.range, not a local Seq: ConvertToLocalRelation would evaluate
    // a LocalRelation projection at optimize time and leave zero Md5 nodes.
    val df = spark.range(2).select(col("id").cast("string").as("s"))
    // The duplicating rule is PushDownPredicates: a filter on a computed
    // column is rewritten with the defining expression substituted in and
    // pushed below the project, so the chain evaluates once in the pushed
    // filter AND once in the project. (CollapseProject's own cost check
    // already declines to inline a non-cheap expression twice.)
    def filterOn(h: org.apache.spark.sql.Column) =
      df.select(h.as("h"), col("s"))
        .where(substring(col("h"), 1, 1) =!= lit("z"))
    // Unfenced: the pushed filter clones the md5 — two evaluations per row.
    assert(md5Count(filterOn(md5(col("s").cast("binary")))) == 2)
    // Fenced: the filter cannot push through the nondeterministic alias;
    // one computation survives and the filter reads the attribute. This is
    // the plan shape pipeline_e2e's scrub-once speedup rests on — if a
    // Spark upgrade changes how PushDownPredicates/CollapseProject treat
    // nondeterminism, this pins the regression.
    assert(md5Count(filterOn(
      NativeExprs.fence(md5(col("s").cast("binary"))))) == 1)
  }

  test("fused bloom-probe kernel equals the HOF composition; clean gates agree") {
    import graft.ops.{decontam, sketch}
    // real bloom over a bench slice's grams — probed by the full corpus,
    // so both member and non-member shingles are exercised
    val bench = docs.where(col("doc_id") % 10 === 0)
    val bloomDf = decontam.benchGramBloom(bench, "text", n = 8)
    val words = bloomDf.orderBy(col("word"))
      .select(col("bits")).collect().map(_.getLong(0)).toSeq
    val diff = docs.select(
        NativeExprs.bloomGramHits(col("text"), words, 8, 4032, 3).as("a"),
        size(filter(dedup.wordShingles(col("text"), 8),
          g => sketch.bloomMightContain(words, g, 4032, 3))).cast("long").as("b"))
      .where(col("a") =!= col("b")).count()
    assert(diff == 0)
    // and the gate built on the kernel keeps exactly the HOF twin's rows
    import spark.implicits._
    val a = decontam.bloomClean(docs, bloomDf, "text")
      .select("doc_id").as[Long].collect().toSet
    val b = HofTwins.bloomCleanHof(docs, bloomDf, "text")
      .select("doc_id").as[Long].collect().toSet
    assert(a == b)
    assert(a.size < docs.count(), "fixture must actually drop contaminated docs")
  }

  test("fused single-value bloom probe equals the compositional twin") {
    import graft.ops.sketch
    import spark.implicits._
    val keys = (0L until 200L).filter(_ % 3 == 0).toDF("k")
    val m = 63 * 31
    val words = sketch.bloom(keys, col("k"), mBits = m, k = 3)
      .orderBy(col("word")).collect().map(_.getLong(1)).toSeq
    // probe a superset: members, non-members, and the null row
    val probes = (0L until 400L).map(Some(_)).toDF("k")
      .unionByName(Seq(Option.empty[Long]).toDF("k"))
    val diff = probes.select(col("k"),
        NativeExprs.bloomContains(col("k").cast("string"), words, m, 3).as("a"),
        sketch.bloomMightContain(words, col("k"), m, 3).as("b"))
      .where(not(col("a") <=> col("b"))).count()
    assert(diff == 0, "fused probe diverged from compositional twin")
    // members always pass (no false negatives, on-bit-identical positions)
    val members = probes
      .where(col("k").isNotNull && col("k") % 3 === 0 && col("k") < 200)
      .where(!NativeExprs.bloomContains(col("k").cast("string"), words, m, 3))
      .count()
    assert(members == 0)
  }

  test("fused blocklist kernel equals the HOF composition on real text") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val terms = Seq("slow", "big query", "merge batch part", "ZZZ absent")
    val diff = docs.select(
        graft.ops.text.blocklistHits(col("text"), terms).as("a"),
        HofTwins.blocklistHitsHof(col("text"), terms).as("b"))
      .where(col("a") =!= col("b")).count()
    assert(diff == 0, "blocklist kernel diverged from HOF twin")
    // and the corpus actually exercises every phrase length
    val perLen = Seq(Seq("slow"), Seq("big query"), Seq("merge batch part"))
      .map(t => docs.select(sum(
        graft.ops.text.blocklistHits(col("text"), t)).cast("long"))
        .head().getLong(0))
    assert(perLen.forall(_ > 0), s"fixture lengths not all hit: $perLen")
  }

  test("gramProducts kernel equals the HOF composition on real embeddings") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val diff = emb
      .select(col("vec_id"),
        expr("transform(embedding, v -> CAST(floor(v * 10000) AS BIGINT))")
          .as("_q"),
        graft.functions.NativeExprs
          .gramProducts(col("embedding"), dim = 64, q = 10000L).as("a"))
      .select(col("a"), expr("""flatten(transform(sequence(0, 63), i ->
        transform(sequence(i, 63), j -> _q[i] * _q[j])))""").as("b"))
      .where(col("a") =!= col("b")).count()
    assert(diff == 0, "gram kernel diverged from HOF twin")
    // wrong-dim rows yield null, never a truncated product array
    import spark.implicits._
    val short = Seq(Seq(1.0, 2.0)).toDF("v")
      .select(graft.functions.NativeExprs.gramProducts(col("v"), 64, 10L).as("a"))
    assert(short.head().isNullAt(0))
  }
}
