package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{hashing, NativeExprs}
import graft.functions.vectors.asDoubleArray
import graft.ops.{ann, decontam, dedup, langprofiles, sketch, text}

/** Compositional (higher-order-function) twins of the native kernels —
  * the executable specs the suites pin each kernel against, bit for
  * bit. Built only from Spark built-ins and the public column helpers,
  * interpreted, and far slower than the kernels: test-only. */
object HofTwins {

  // ---- vectors ---------------------------------------------------------

  /** Sequential double fold of `zip_with(a, b, f)` — the kernels' order. */
  private def foldPairs(a: Column, b: Column)(f: (Column, Column) => Column): Column =
    aggregate(zip_with(asDoubleArray(a), asDoubleArray(b), f), lit(0.0),
      (acc, x) => acc + x)

  /** Twin of `vectors.dotProduct`. */
  def dotProductHof(a: Column, b: Column): Column = foldPairs(a, b)(_ * _)

  /** Twin of `vectors.l2Squared`. */
  def l2SquaredHof(a: Column, b: Column): Column =
    foldPairs(a, b)((x, y) => (x - y) * (x - y))

  /** Twin of `vectors.l1Distance`. */
  def l1DistanceHof(a: Column, b: Column): Column =
    foldPairs(a, b)((x, y) => abs(x - y))

  /** Twin of `vectors.hammingDistance`. */
  def hammingDistanceHof(a: Column, b: Column): Column =
    foldPairs(a, b)((x, y) => when(x === y, 0.0).otherwise(1.0))

  // ---- text ------------------------------------------------------------

  /** Twin of `text.tokenCount`. */
  def tokenCountHof(c: Column): Column = size(text.tokens(c))

  /** Twin of `text.meanTokenLen`. */
  def meanTokenLenHof(c: Column): Column = {
    val ts = text.tokens(c)
    when(size(ts) > 0,
      aggregate(ts, lit(0), (acc, t) => acc + length(t)).cast("double") / size(ts))
      .otherwise(lit(0.0))
  }

  /** Twin of `text.stopwordRatio`. */
  def stopwordRatioHof(c: Column): Column = {
    val ts = text.tokens(c)
    when(size(ts) > 0, text.hitCount(ts, text.EnStop).cast("double") / size(ts))
      .otherwise(lit(0.0))
  }

  /** Twin of `text.langId`: per-language stopword filters over the
    * tokens, the same argmax and tie order. */
  def langIdHof(c: Column, minHits: Int = 1): Column =
    text.langIdOfTokens(text.tokens(c), minHits)

  /** Twin of `text.langNgramScores` (shingle array + one interpreted
    * map-lookup aggregate per language). */
  def langNgramScoresHof(c: Column): Column = {
    val norm = concat(lit(" "),
      regexp_replace(lower(c), "[^\\p{L}]+", " "), lit(" "))
    val sh = text.charShingles(norm, langprofiles.N)
    array(langprofiles.Default.map { case (_, grams) =>
      val m = typedLit(grams.toMap)
      aggregate(sh, lit(0L), (acc, g) => acc + coalesce(element_at(m, g), lit(0L)))
    }: _*)
  }

  /** Twin of `text.minShingleFingerprint`. */
  def minShingleFingerprintHof(c: Column, n: Int = 8): Column =
    array_min(transform(text.charShingles(c, n), s => hashing.h32(s)))

  /** Twin of `text.repetitionMasses` (O(G²)). */
  def repetitionMassesHof(c: Column, n: Int): Column = {
    val tg = text.ngramList(c, n)
    val dg = array_distinct(tg)
    val top = coalesce(array_max(transform(dg,
      g => (size(filter(tg, x => x === g)) * length(g)).cast("long"))), lit(0L))
    val dup = aggregate(dg, lit(0L), (acc, g) => {
      val cnt = size(filter(tg, x => x === g))
      acc + when(cnt > 1, (cnt * length(g)).cast("long")).otherwise(lit(0L))
    })
    struct(top.as("top_mass"), dup.as("dup_mass"))
  }

  /** Twin of `text.blocklistHits`: per distinct phrase length n, count
    * positional n-grams that appear in that length's term list. */
  def blocklistHitsHof(c: Column, terms: Seq[String]): Column = {
    require(terms.nonEmpty, "graft: blocklistHitsHof needs terms")
    val norm = terms.map(_.toLowerCase.trim.split("\\s+").toSeq)
    val toks = text.tokens(c)
    norm.groupBy(_.length).toSeq.sortBy(_._1).map { case (n, ts) =>
      val lits = array(ts.map(t => lit(t.mkString(" "))): _*)
      val grams = transform(
        sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n))))
      // sequence(1, stop) DESCENDS when stop < 1 — guard the short-doc
      // case explicitly instead of feeding it a backwards range
      when(size(toks) >= n,
          size(filter(grams, g => array_contains(lits, g))))
        .otherwise(lit(0)).cast("long")
    }.reduce(_ + _)
  }

  // ---- dedup -----------------------------------------------------------

  /** Twin of `dedup.wordShingles`: distinct word n-grams of the tokens,
    * empty under n tokens, NULL for NULL text. */
  def wordShinglesHof(c: Column, n: Int = 3): Column = {
    val ts = text.tokens(c)
    when(size(ts) >= n,
      array_distinct(transform(sequence(lit(1), size(ts) - (n - 1)),
        i => concat_ws(" ", slice(ts, i, lit(n))))))
      .when(ts.isNotNull, array().cast("array<string>"))
  }

  /** Twin of the MinHash signature kernel over PRE-HASHED shingles:
    * element j = min over base hashes h of `affine_j(h)`. */
  def minhashSignatureHof(baseHashes: Column, k: Int): Column =
    array((0 until k).map(j =>
      array_min(transform(baseHashes, h => hashing.affine(h, j)))): _*)

  /** Twin of `dedup.winnowFingerprints`. Its window lambda re-evaluates
    * the gram-hash array per element (no CSE inside HOF lambdas). */
  def winnowFingerprintsHof(c: Column, n: Int = 4, w: Int = 4): Column = {
    require(n >= 1 && w >= 1, s"graft: winnow needs n >= 1, w >= 1; got $n, $w")
    val hashes = transform(NativeExprs.wordGrams(c, n), g => hashing.h32(g))
    when(size(hashes) >= w,
        array_distinct(transform(
          sequence(lit(1), size(hashes) - (w - 1)),
          i => array_min(slice(hashes, i, lit(w))))))
      .when(size(hashes) > 0, array(array_min(hashes)))
      .otherwise(array().cast("array<long>"))
  }

  /** Twin of `dedup.simhash` (explode → per-doc vote sums). Bits 0-31
    * vote from the token's h32; bits 32-63 from the md5's second word
    * (`hashing.h32b`), mirroring the kernel. */
  def simhashHof(df: DataFrame, textCol: String, idCol: String,
      bits: Int = 16): DataFrame = {
    require(bits >= 1 && bits <= 64, s"simhash bits must be in [1, 64], got $bits")
    val tok = df
      .select(col(idCol), explode(text.tokens(col(textCol))).as("tok"))
      .withColumn("hv", hashing.h32(col("tok")))
      .withColumn("hv2", hashing.h32b(col("tok")))
    val votes = (0 until bits).map { j =>
      val src = if (j < 32) shiftright(col("hv"), j) else shiftright(col("hv2"), j - 32)
      sum(when(src.bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$j")
    }
    val agg = tok.groupBy(col(idCol)).agg(votes.head, votes.tail: _*)
    // bitwiseOR, not +: bit 63's term is Long.MinValue and the bits are
    // disjoint anyway.
    val sig = (0 until bits).map(j =>
      when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L))).reduce(_ bitwiseOR _)
    agg.select(col(idCol), sig.as("simhash"))
  }

  // ---- bpe -------------------------------------------------------------

  /** Twin of one greedy BPE merge pass: a left fold carrying
    * (out, prev) — prev matches `l` and the element matches `r` → fuse;
    * otherwise flush prev. */
  def mergePairHof(syms: Column, l: String, r: String): Column = {
    val zero = struct(
      array().cast("array<string>").as("out"),
      lit(null).cast("string").as("prev"))
    aggregate(syms, zero,
      (st, x) => {
        val out = st.getField("out")
        val prev = st.getField("prev")
        when(prev === lit(l) && x === lit(r),
          struct(concat(out, array(lit(l + r))).as("out"),
            lit(null).cast("string").as("prev")))
          .otherwise(struct(
            when(prev.isNull, out).otherwise(concat(out, array(prev))).as("out"),
            x.as("prev")))
      },
      st =>
        when(st.getField("prev").isNull, st.getField("out"))
          .otherwise(concat(st.getField("out"), array(st.getField("prev")))))
  }

  /** Twin of `bpe.encodeTokens`: tokens → code-point split → each rule's
    * [[mergePairHof]] in order → flatten (a rules-deep expression tree). */
  def encodeHof(c: Column, rules: Seq[(String, String)]): Column = {
    val symsOf = (w: Column) =>
      rules.foldLeft(
        transform(sequence(lit(1), length(w)), i => w.substr(i, lit(1)))) {
        case (acc, (l, r)) => mergePairHof(acc, l, r)
      }
    flatten(transform(text.tokens(c), symsOf))
  }

  // ---- ann -------------------------------------------------------------

  /** Twin of `ann.lshSignature` (per-bit dot product). */
  def lshSignatureHof(v: Column, t: Int, nbits: Int, dim: Int): Column =
    (0 until nbits).map { j =>
      when(graft.functions.vectors.dotProduct(v,
          graft.functions.vectors.vecLit(ann.hyperplane(t, j, dim))) > 0,
        lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  // ---- decontam --------------------------------------------------------

  /** Twin of `decontam.bloomClean`: the same shingle set and
    * digest-derived positions via `dedup.wordShingles` +
    * `sketch.bloomMightContain`. */
  def bloomCleanHof(
      df: DataFrame,
      bloomDf: DataFrame,
      textCol: String,
      n: Int = 8,
      mBits: Int = 4032,
      k: Int = 3,
      minHits: Int = 1): DataFrame = {
    require(minHits >= 1, s"graft: bloomCleanHof needs minHits >= 1, got $minHits")
    val words = decontam.collectBloomWords(bloomDf, mBits, k)
    df.where(
      size(filter(dedup.wordShingles(col(textCol), n),
        g => sketch.bloomMightContain(words, g, mBits, k))) < minHits)
  }
}
