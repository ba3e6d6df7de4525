package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, LeafExpression, RowOrdering, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, CollationFactory, CollationSupport, GenericArrayData, TypeUtils}
import org.apache.spark.sql.graft.bridge.{toColumn => column, toExpression => expression}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Fused native kernels for the text-dedup hot path.
  *
  * The compositional forms (`dedup.wordShingles`, HOF `transform` +
  * `array_min`) are built from Spark higher-order functions, which do not
  * participate in whole-stage codegen — every lambda evaluates
  * interpreted, with a Catalyst array materialized per step. That is fine
  * at 64 elements per row (vector scoring) but dominates wall time at
  * ~300 shingles × k hash members per document. These expressions collapse
  * the whole pipeline into one compiled JVM loop per row — the single
  * place this engine drops below the declarative API, as anticipated in
  * SURVEY.md §7.3 (custom `Expression` only where the benchmark demands).
  *
  * Semantics are bit-identical to the compositional forms (asserted in
  * NativeExprsSpec and by the shared DuckDB oracles):
  *   - tokens: lowercase, split `\s+`, drop empties
  *   - shingles: distinct space-joined word n-grams; empty when < n tokens
  *   - base hash: first 8 md5 hex chars of UTF-8 bytes as unsigned 32-bit
  *   - family j: `((2j+1)·h + 12582917·j) mod 4294967291`
  *
  * `CodegenFallback` here costs one virtual call per row from the
  * surrounding generated code; the loop body itself is regular compiled
  * JVM code (and the md5 digest dominates anyway).
  */
/** Minimal open-addressing long→int counter (power-of-two capacity,
  * linear probing, Fibonacci-mix hash): the inner map of
  * [[NativeExprs.genOverlapOf]]'s packed-gram path. A
  * `java.util.HashMap[Long, Integer]` boxes every key AND count per
  * operation; this allocates nothing after construction. Single-row
  * lifetime, not thread-safe. */
private[functions] final class LongCounter(expected: Int) {
  private var cap = Integer.highestOneBit(math.max(8, expected * 2) * 2 - 1)
  private var keys = new Array[Long](cap)
  private var used = new Array[Boolean](cap)
  private var cnts = new Array[Int](cap)
  private var n = 0

  private def slot(k: Long): Int = {
    val h = k * -7046029254386353131L // golden-ratio mix
    var i = ((h ^ (h >>> 32)).toInt) & (cap - 1)
    while (used(i) && keys(i) != k) i = (i + 1) & (cap - 1)
    i
  }

  def inc(k: Long): Unit = {
    val i = slot(k)
    if (!used(i)) {
      used(i) = true; keys(i) = k; cnts(i) = 1; n += 1
      if (n * 2 > cap) grow()
    } else cnts(i) += 1
  }

  /** Decrement k's count if positive; true when a unit was consumed. */
  def dec(k: Long): Boolean = {
    val i = slot(k)
    if (used(i) && cnts(i) > 0) { cnts(i) -= 1; true } else false
  }

  private def grow(): Unit = {
    val ok = keys; val ou = used; val oc = cnts
    cap <<= 1
    keys = new Array[Long](cap)
    used = new Array[Boolean](cap)
    cnts = new Array[Int](cap)
    var i = 0
    while (i < ok.length) {
      if (ou(i)) {
        val s = slot(ok(i))
        used(s) = true; keys(s) = ok(i); cnts(s) = oc(i)
      }
      i += 1
    }
  }
}

object NativeExprs {

  private val digest = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** h32: unsigned 32-bit value of the first 4 md5 bytes (== first 8 hex
    * chars) of the UTF-8 input — same value as
    * `conv(substring(md5(s), 1, 8), 16, 10)`. */
  def h32Bytes(utf8: Array[Byte]): Long = {
    val d = digest.get()
    d.reset()
    val h = d.digest(utf8)
    ((h(0) & 0xffL) << 24) | ((h(1) & 0xffL) << 16) | ((h(2) & 0xffL) << 8) | (h(3) & 0xffL)
  }

  /** md5 of a string's UTF-8 bytes, read in place when they live in a
    * byte array (a gram view, an UnsafeArrayData element): no copy. */
  def md5Of(u: UTF8String): Array[Byte] = {
    val d = digest.get()
    d.reset()
    u.getBaseObject match {
      case a: Array[Byte] =>
        d.update(a, (u.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt, u.numBytes)
      case _ => d.update(u.getBytes)
    }
    d.digest()
  }

  /** [[h32Bytes]] of a string, digested in place ([[md5Of]]). */
  def h32Of(u: UTF8String): Long = {
    val h = md5Of(u)
    ((h(0) & 0xffL) << 24) | ((h(1) & 0xffL) << 16) | ((h(2) & 0xffL) << 8) | (h(3) & 0xffL)
  }

  /** The six ASCII bytes Java's `\s` matches: space, \t, \n, \x0B, \f,
    * \r. No byte of a multi-byte UTF-8 sequence is below 0x80, so
    * splitting the bytes on these equals splitting the decoded string on
    * `\s+`. */
  private def isWs(b: Byte): Boolean = b == ' ' || (b >= 9 && b <= 13)

  private val WsPattern = java.util.regex.Pattern.compile("\\s+")

  /** Tokens of the lowercased text — split `\s+`, empties dropped (the
    * [[graft.ops.text.tokens]] contract) — on the precompiled pattern;
    * `String.split("\\s+")` compiles the regex on every call. */
  private[functions] def lowerTokens(u: UTF8String): Array[String] =
    WsPattern.split(u.toLowerCase.toString, -1).filter(_.nonEmpty)

  /** `lower(text)` exactly as Spark's `lower` computes it for a binary-
    * collated string: the ASCII path, else ICU case mapping of the valid
    * string (`spark.sql.icu.caseMappings.enabled`, on by default), else
    * Java's. `UTF8String.toLowerCase` is the Java mapping of `toString`,
    * which differs on malformed input (one U+FFFD per ill-formed sequence
    * instead of per maximal subpart) and on letters newer than the JDK's
    * Unicode version. Either way the result is valid UTF-8. */
  private def sparkLower(text: UTF8String): UTF8String =
    CollationSupport.Lower.exec(text, CollationFactory.UTF8_BINARY_COLLATION_ID,
      SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED))

  /** Word n-grams of a document in order — [[sparkLower]], split on runs
    * of [[isWs]] bytes, empties dropped, `n` consecutive tokens joined by
    * one space; with `distinct`, only each gram's first occurrence. One
    * pass over the lowercased bytes, which are valid UTF-8, so every gram
    * equals the `split(lower(text), "\\s+")` form byte for byte, malformed
    * input included. All grams are views into one shared buffer. */
  private def gramsOf(text: UTF8String, n: Int, distinct: Boolean): Array[UTF8String] = {
    val b = sparkLower(text).getBytes
    val starts = new Array[Int](b.length / 2 + 1)
    val ends = new Array[Int](b.length / 2 + 1)
    var nt = 0
    var i = 0
    while (i < b.length) {
      while (i < b.length && isWs(b(i))) i += 1
      if (i < b.length) {
        starts(nt) = i
        while (i < b.length && !isWs(b(i))) i += 1
        ends(nt) = i
        nt += 1
      }
    }
    if (nt < n) return Array.empty
    val ng = nt - n + 1
    // gram g spans tokens g..g+n-1: their bytes plus n-1 single spaces
    val cum = new Array[Long](nt + 1)
    var t = 0
    while (t < nt) { cum(t + 1) = cum(t) + ends(t) - starts(t); t += 1 }
    var total = 0L
    var g = 0
    while (g < ng) { total += cum(g + n) - cum(g) + n - 1; g += 1 }
    val buf = new Array[Byte](total.toInt)
    val seen = if (distinct) new java.util.HashSet[UTF8String](ng * 2) else null
    val out = new Array[UTF8String](ng)
    var o = 0
    var pos = 0
    g = 0
    while (g < ng) {
      val from = pos
      var j = 0
      while (j < n) {
        if (j > 0) { buf(pos) = ' '; pos += 1 }
        val len = ends(g + j) - starts(g + j)
        System.arraycopy(b, starts(g + j), buf, pos, len)
        pos += len
        j += 1
      }
      val gram = UTF8String.fromBytes(buf, from, pos - from)
      if (seen == null || seen.add(gram)) { out(o) = gram; o += 1 }
      g += 1
    }
    if (o == ng) out else java.util.Arrays.copyOf(out, o)
  }

  /** Distinct word n-gram shingles of one document (first-seen order). */
  def shingles(text: UTF8String, n: Int): Array[UTF8String] = gramsOf(text, n, distinct = true)

  /** k-member MinHash signature straight from the shingle array: one md5
    * per shingle, k affine minima, no intermediate arrays. */
  def minhash(grams: ArrayData, k: Int): Array[Long] = {
    val sig = Array.fill(k)(Long.MaxValue)
    val len = grams.numElements()
    var i = 0
    while (i < len) {
      val h = h32Of(grams.getUTF8String(i))
      var j = 0
      while (j < k) {
        val v = ((2L * j + 1) * h + 12582917L * j) % hashing.AffineP
        if (v < sig(j)) sig(j) = v
        j += 1
      }
      i += 1
    }
    sig
  }

  /** Exact Jaccard of two arrays: `|a ∩ b| / (|a| + |b| − |a ∩ b|)`, with
    * the intersection counted over DISTINCT elements and lengths taken as
    * they are (the contract assumes distinct arrays, e.g. shingle sets).
    * One hash set of the shorter side per pair; each match is removed
    * from it, so a repeated element on the longer side counts once.
    * Element equality is `array_intersect`'s: `equals` for types with
    * proper equals (NaN == NaN, 0.0 != -0.0), the type's ordering
    * otherwise (binary, nested types); a NULL element is an element.
    * An empty union reads 0.0. */
  def jaccardOf(a: ArrayData, b: ArrayData, et: DataType): Double = {
    val (small, large) = if (a.numElements() <= b.numElements()) (a, b) else (b, a)
    val elem: (ArrayData, Int) => Any = et match {
      case _: StringType => (arr, i) => arr.getUTF8String(i) // NULL reads null
      case _ => (arr, i) => if (arr.isNullAt(i)) null else arr.get(i, et)
    }
    var inter = 0
    if (TypeUtils.typeWithProperEquals(et)) {
      val set = new java.util.HashSet[Any](small.numElements() * 2)
      var i = 0
      while (i < small.numElements()) { set.add(elem(small, i)); i += 1 }
      i = 0
      while (i < large.numElements()) { if (set.remove(elem(large, i))) inter += 1; i += 1 }
    } else {
      val ord = TypeUtils.getInterpretedOrdering(et)
      def same(x: Any, y: Any): Boolean =
        if (x == null || y == null) x == null && y == null else ord.equiv(x, y)
      val pool = scala.collection.mutable.ArrayBuffer.empty[Any]
      var i = 0
      while (i < small.numElements()) {
        val x = elem(small, i)
        if (!pool.exists(same(_, x))) pool += x
        i += 1
      }
      i = 0
      while (i < large.numElements()) {
        val at = pool.indexWhere(same(_, elem(large, i)))
        if (at >= 0) { pool.remove(at); inter += 1 }
        i += 1
      }
    }
    val uni = a.numElements() + b.numElements() - inter
    if (uni > 0) inter.toDouble / uni else 0.0
  }

  /** Column: exact Jaccard of two array columns (native, see
    * [[jaccardOf]]); 0.0 when either side is NULL. */
  def jaccard(a: Column, b: Column): Column = column(JaccardExpr(expression(a), expression(b)))

  /** Column: distinct word n-gram shingles (native). */
  def wordShingles(c: Column, n: Int): Column = column(WordShinglesExpr(expression(c), n))

  /** All word n-grams IN ORDER WITH MULTIPLICITY — the term-frequency
    * twin of [[shingles]] (which dedups): same tokenization (lowercase,
    * split `\s+`, drop empties), no set. The tf/idf family needs real
    * term frequencies, and the compositional form
    * (`transform(sequence(...), i => concat_ws(slice(...)))`) evaluates
    * interpreted per gram — this is one compiled pass per document. */
  def wordGramsOf(text: UTF8String, n: Int): Array[UTF8String] =
    gramsOf(text, n, distinct = false)

  /** Column: word n-grams with multiplicity (native). */
  def wordGrams(c: Column, n: Int): Column = column(WordGramsExpr(expression(c), n))

  /** DISTINCT word n-grams as h63 longs, one compiled pass — the fused
    * form of `array_distinct(transform(wordGrams(c, n), h63))`. The
    * compositional twin digests every gram TWICE (h32 + h32b each call
    * md5; interpreted lambdas get no CSE) and materializes the string
    * grams; this pays one digest per distinct gram and never surfaces
    * the strings. Bit-identical by construction: h63 = first-word·2³¹ +
    * (second-word mod 2³¹) of the one md5 ([[graft.functions.hashing
    * .h63]]), pinned in NativeExprsSpec. */
  def hashedGramSetOf(text: UTF8String, n: Int): Array[Long] = {
    val grams = wordGramsOf(text, n)
    if (grams.isEmpty) return Array.empty
    val seen = new java.util.LinkedHashSet[Long](grams.length * 2)
    var i = 0
    while (i < grams.length) {
      val h = md5Of(grams(i))
      val h32 = ((h(0) & 0xffL) << 24) | ((h(1) & 0xffL) << 16) |
        ((h(2) & 0xffL) << 8) | (h(3) & 0xffL)
      val h32b = ((h(4) & 0xffL) << 24) | ((h(5) & 0xffL) << 16) |
        ((h(6) & 0xffL) << 8) | (h(7) & 0xffL)
      seen.add(h32 * 2147483648L + (h32b % 2147483648L))
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    out
  }

  /** Column: distinct word n-gram h63 hashes (native fused pass). */
  def hashedGramSet(c: Column, n: Int): Column =
    column(HashedGramSetExpr(expression(c), n))

  /** Fused char-entropy accumulator: sort a copy of the doc's UTF-16
    * code units, count equal runs, and accumulate the EXACT fixed-point
    * sum `Σ floor(cnt·ln(cnt)·1e6)` — the same per-character arithmetic
    * as the explode → groupBy(doc, char) → sum form (the run count of a
    * sorted array IS the group count), so the result is bit-identical
    * while the whole computation stays IN ROW: no per-character rows, no
    * (doc, char) shuffle, O(len·log len) per doc and one char-array
    * copy. Returns (n_chars, qa). */
  def charEntropyOf(text: UTF8String): (Long, Long) = {
    val chars = text.toString.toCharArray
    java.util.Arrays.sort(chars)
    var i = 0
    var qa = 0L
    while (i < chars.length) {
      var j = i + 1
      while (j < chars.length && chars(j) == chars(i)) j += 1
      val cnt = j - i
      // cnt == 1 contributes floor(1·ln1·1e6) = 0 — skip the libm call
      if (cnt > 1)
        qa += math.floor(cnt * math.log(cnt.toDouble) * 1.0e6).toLong
      i = j
    }
    (chars.length.toLong, qa)
  }

  /** Column: struct(n_chars, qa) of the fused char-entropy kernel. */
  def charEntropyStats(c: Column): Column = column(CharEntropyExpr(expression(c)))

  /** Column: one greedy left-to-right BPE merge pass over a symbol array —
    * each adjacent (l, r) becomes the fused symbol l+r, never re-examining
    * the fused output in the same pass ("aaa" under (a,a) → ["aa","a"]).
    * Compositional twin: `HofTwins.mergePairHof` (tests). */
  def bpeMergePair(syms: Column, l: String, r: String): Column =
    column(BpeMergeExpr(expression(syms), l, r))

  /** Column: full BPE encode of a TEXT column — lowercase whitespace
    * tokens, each split to code points and run through `rules` in
    * training order — flattened to one subword array per row. One
    * compiled pass; the per-rule compositional twin is
    * `HofTwins.encodeHof` (tests). */
  def bpeEncode(c: Column, rules: Seq[(String, String)]): Column =
    column(BpeEncodeExpr(expression(c), rules.toIndexedSeq))

  /** Column: Viterbi-best unigram-LM segmentation of a TEXT column —
    * lowercase whitespace tokens, each split to code points and
    * segmented into the piece sequence maximizing the sum of
    * driver-literal integer `pieces` scores (q6 log-probs), flattened
    * to one array per row. A code point covered by no piece falls back
    * to a single-character step at `unkScoreQ6` (the UNK convention),
    * so every token is always segmentable. Score ties prefer the
    * LONGER piece at each DP cell — deterministic, and mirrored by the
    * oracle's (score, length) struct-max. One compiled pass; the DP is
    * O(len·maxPieceLen) per token. Trainer: [[graft.ops.unigram]]. */
  def unigramSegment(
      c: Column,
      pieces: Seq[(String, Long)],
      maxPieceLen: Int,
      unkScoreQ6: Long): Column =
    column(UnigramSegmentExpr(expression(c), pieces.toIndexedSeq,
      maxPieceLen, unkScoreQ6))

  /** One greedy merge pass on UTF8String symbols (shared by the merge and
    * encode kernels). */
  private[functions] def bpeMergePassOf(
      syms: Array[AnyRef], l: UTF8String, r: UTF8String,
      lr: UTF8String): Array[AnyRef] = {
    val n = syms.length
    val out = new Array[AnyRef](n)
    var i = 0
    var k = 0
    while (i < n) {
      if (i < n - 1 && syms(i) == l && syms(i + 1) == r) {
        out(k) = lr; k += 1; i += 2
      } else {
        out(k) = syms(i); k += 1; i += 1
      }
    }
    if (k == n) out else java.util.Arrays.copyOf(out, k)
  }

  /** Code-point split of a word — matches Spark's `substring` semantics
    * (code points, not Java chars), so the trainer's initial alphabet and
    * the encoder's agree on astral-plane characters. */
  private[functions] def codePointsOf(s: String): Array[AnyRef] = {
    val out = new scala.collection.mutable.ArrayBuffer[AnyRef](s.length)
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      val len = Character.charCount(cp)
      out += UTF8String.fromString(s.substring(i, i + len))
      i += len
    }
    out.toArray
  }

  /** Column: MinHash signature over a shingle array (native). */
  def minhashSig(grams: Column, k: Int): Column = column(MinHashSigExpr(expression(grams), k))

  /** Column: h32 of a string (native twin of [[hashing.h32]]). */
  def h32(c: Column): Column = column(H32Expr(expression(c)))

  /** Min h32 over all character n-gram shingles of a string, in one
    * kernel pass: md5 straight to a long per shingle — the composed HOF
    * form pays interpreted-transform dispatch plus an md5→hex→substr→conv
    * string pipeline per shingle (measured 6×). Shingle positions use
    * SQL substring semantics ([[UTF8String.substringSQL]]), identical to
    * the `substr` the HOF twin and the DuckDB oracle use. Null when the
    * text has fewer than n characters. */
  def minShingleFpOf(text: UTF8String, n: Int): Any = {
    val chars = text.numChars()
    if (chars < n) return null
    var min = Long.MaxValue
    val bytes = text.getBytes
    if (bytes.length == chars) {
      // ASCII fast path: char positions == byte offsets, so each shingle
      // is a byte window hashed in place — no substring/encode/array
      // allocation per shingle (the corpus hot path; ~2× the generic one).
      val d = digest.get()
      val out = new Array[Byte](16)
      var i = 0
      while (i <= bytes.length - n) {
        d.reset()
        d.update(bytes, i, n)
        d.digest(out, 0, 16)
        val h = ((out(0) & 0xffL) << 24) | ((out(1) & 0xffL) << 16) |
          ((out(2) & 0xffL) << 8) | (out(3) & 0xffL)
        if (h < min) min = h
        i += 1
      }
    } else {
      var i = 1
      while (i <= chars - n + 1) {
        val h = h32Bytes(text.substringSQL(i, n).getBytes)
        if (h < min) min = h
        i += 1
      }
    }
    min
  }

  /** Column: fused min-shingle fingerprint (native). */
  def minShingleFp(c: Column, n: Int): Column = column(MinShingleFpExpr(expression(c), n))

  /** One tokenize pass over a document → (token count, summed token
    * lengths in code points, per-profile stopword hit counts). The
    * composed form re-splits the text once per signal — a language-ID +
    * quality expression tree tokenizes the same document ~8 times through
    * interpreted HOF filters; this kernel does it once. Semantics match
    * `tokens()` exactly: lowercase, split `\s+`, drop empties; length =
    * code points (Spark `length`). */
  def textProfileOf(text: UTF8String, profiles: Array[Array[String]]): (Long, Long, Array[Long]) = {
    val toks = WsPattern.split(text.toLowerCase.toString, -1)
    var n = 0L
    var sumLen = 0L
    val hits = new Array[Long](profiles.length)
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      if (t.nonEmpty) {
        n += 1
        sumLen += t.codePointCount(0, t.length)
        var p = 0
        while (p < profiles.length) {
          val words = profiles(p)
          var w = 0
          var found = false
          while (!found && w < words.length) { found = words(w) == t; w += 1 }
          if (found) hits(p) += 1
          p += 1
        }
      }
      i += 1
    }
    (n, sumLen, hits)
  }

  /** Column: fused text profile — struct(n_tokens, sum_tok_len, hits). */
  def textProfile(c: Column, profiles: Seq[Seq[String]]): Column =
    column(TextProfileExpr(expression(c), profiles.map(_.toIndexedSeq).toIndexedSeq))

  /** One pass over a document → per-language weighted n-gram scores
    * (the [[graft.ops.text.langIdNgram]] kernel): normalize exactly as
    * [[graft.ops.langprofiles.normalize]] (lowercase, non-letter runs →
    * one space, space-padded), slide a code-point `n`-gram window, and
    * for every gram present in the profile table add its weight to each
    * language's accumulator. The composed HOF form re-materializes the
    * shingle array and walks it once PER LANGUAGE (16 interpreted
    * passes); this is one compiled loop with one map probe per gram. */
  def langNgramScoresOf(
      text: UTF8String,
      weightsByGram: java.util.HashMap[String, Array[Long]],
      nLangs: Int,
      n: Int): Array[Long] = {
    val t = graft.ops.langprofiles.normalize(text.toString)
    val cps = t.codePoints().toArray
    val scores = new Array[Long](nLangs)
    var i = 0
    while (i + n - 1 < cps.length) {
      val w = weightsByGram.get(new String(cps, i, n))
      if (w != null) {
        var l = 0
        while (l < nLangs) { scores(l) += w(l); l += 1 }
      }
      i += 1
    }
    scores
  }

  /** Column: fused per-language n-gram scores — array<long>, one slot
    * per profile language, in profile order. */
  def langNgramScores(
      c: Column,
      profiles: IndexedSeq[(String, IndexedSeq[(String, Long)])],
      n: Int = graft.ops.langprofiles.N): Column =
    column(LangNgramScoresExpr(expression(c), profiles, n))

  /** Identity FENCE against expression re-inlining. Catalyst's
    * `CollapseProject` substitutes an aliased expression into EVERY
    * downstream reference and `PushDownPredicates` clones it into pushed
    * filter conditions — for a cheap expression that's free, but for an
    * expensive per-row chain (multi-regex scrubbing, a fused text kernel)
    * it multiplies the per-row cost by the reference count (measured ~10
    * inlined copies of a 3-regex clean inside one quality filter).
    * `fence(expr)` evaluates exactly as `expr` (same value, null, codegen
    * — zero runtime cost) but is FLAGGED nondeterministic, which both
    * rules treat as un-inlinable, so the column is computed once per row
    * and downstream operators read the materialized attribute. Use only
    * on expensive columns referenced more than once downstream; it also
    * blocks predicate pushdown THROUGH the fenced projection, so never
    * fence a column that a scan-level filter depends on.
    *
    * Because the nondeterministic flag IS the mechanism, analysis rejects
    * a fenced expression anywhere Spark forbids nondeterminism — join
    * conditions, sort/grouping keys, generally anything outside
    * Project/Filter/Aggregate/Window — with the generic "nondeterministic
    * expressions are only allowed in ..." CheckAnalysis error. When that
    * happens, compute the fenced column in a `select` first and use the
    * resulting attribute (a plain column reference) as the key. */
  def fence(c: Column): Column = column(FenceExpr(expression(c)))

  /** Second 32-bit word of the md5: bytes 4-7 (hex chars 9-16) — used as
    * the vote source for SimHash bits 32-63, so a 64-bit signature needs
    * only ONE digest per token. Portable twin: [[hashing.sqlH32b]]. */
  def h32bBytes(utf8: Array[Byte]): Long = {
    val d = digest.get()
    d.reset()
    val h = d.digest(utf8)
    ((h(4) & 0xffL) << 24) | ((h(5) & 0xffL) << 16) | ((h(6) & 0xffL) << 8) | (h(7) & 0xffL)
  }

  /** Per-row SimHash over the token MULTISET (all occurrences vote, not
    * distinct tokens): bit j set when the sum of ±1 votes from bit j of
    * the token hash is positive. Bits 0-31 vote from the token's h32
    * (md5 bytes 0-3); bits 32-63 from the md5's second word (bytes 4-7) —
    * one digest per token either way, and a 64-bit signature's low 32 bits
    * equal the 32-bit signature. Shuffle-free — the compositional
    * explode+groupBy form costs a full shuffle of every token row. */
  def simhashOf(text: UTF8String, bits: Int): Long = {
    require(bits >= 1 && bits <= 64, s"simhash bits must be in [1, 64], got $bits")
    val toks = lowerTokens(text)
    val votes = new Array[Int](bits)
    var i = 0
    while (i < toks.length) {
      val utf8 = toks(i).getBytes("UTF-8")
      val d = digest.get()
      d.reset()
      val h = d.digest(utf8)
      val w0 = ((h(0) & 0xffL) << 24) | ((h(1) & 0xffL) << 16) | ((h(2) & 0xffL) << 8) | (h(3) & 0xffL)
      val w1 = ((h(4) & 0xffL) << 24) | ((h(5) & 0xffL) << 16) | ((h(6) & 0xffL) << 8) | (h(7) & 0xffL)
      var j = 0
      while (j < bits) {
        val bit = if (j < 32) (w0 >> j) & 1L else (w1 >> (j - 32)) & 1L
        if (bit == 1L) votes(j) += 1 else votes(j) -= 1
        j += 1
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < bits) { if (votes(j) > 0) sig |= (1L << j); j += 1 }
    sig
  }

  /** Per-row n-gram repetition masses: (top, dup) where `top` is the max
    * over distinct word n-grams of count·charLen and `dup` sums count·charLen
    * over n-grams occurring more than once. One hashmap pass per row —
    * the HOF composition (`HofTwins.repetitionMassesHof`, tests) is
    * O(G²) interpreted. */
  def repetitionMassesOf(text: UTF8String, n: Int): (Long, Long) = {
    val toks = lowerTokens(text)
    if (toks.length < n) return (0L, 0L)
    val counts = new java.util.HashMap[String, Integer](toks.length * 2)
    var i = 0
    while (i <= toks.length - n) {
      val sb = new java.lang.StringBuilder(32)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      counts.merge(sb.toString, 1, (a: Integer, b: Integer) => Integer.valueOf(a + b))
      i += 1
    }
    var top = 0L
    var dup = 0L
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val mass = e.getValue.toLong * e.getKey.length
      if (mass > top) top = mass
      if (e.getValue > 1) dup += mass
    }
    (top, dup)
  }

  /** Column: struct(top_mass, dup_mass) of the n-gram multiset (native). */
  def repetitionMasses(c: Column, n: Int): Column =
    column(RepetitionMassExpr(expression(c), n))

  /** Clipped n-gram overlap between candidate and reference text in ONE
    * hashmap pass per row, for every n in `ns`: a flat
    * `[clip_n, tot_cand_n, tot_ref_n]` triple per n, in `ns` order.
    * `clip = Σ_g min(count_cand(g), count_ref(g))` over distinct grams —
    * computed by consuming reference counts as candidate grams stream.
    * Word mode tokenizes exactly like [[graft.ops.text.tokens]]
    * (lowercase, ASCII-`\s` split, empties dropped); char mode strips
    * ASCII whitespace (the `\s` class, matching `regexp_replace(c,
    * '\\s+', '')`) case-preserving and grams by CODEPOINT (matching
    * Spark substr and DuckDB slicing on non-BMP input). The HOF/explode
    * composition ([[graft.ops.evals]]'s exploded twin) evaluates
    * interpreted lambdas per element — measured ~60 ms/doc at 4
    * n-orders vs microseconds here. */
  def genOverlapOf(cand: UTF8String, ref: UTF8String, ns: Array[Int],
      charMode: Boolean): Array[Long] = {
    def units(u: UTF8String): Array[String] =
      if (charMode) {
        val s = u.toString
        val out = new scala.collection.mutable.ArrayBuffer[String](s.length)
        var i = 0
        while (i < s.length) {
          val cp = s.codePointAt(i)
          val w = Character.charCount(cp)
          // ASCII \s class only — Java regex \s without UNICODE flags
          if (!(cp == ' ' || cp == '\t' || cp == '\n' || cp == 0x0B ||
              cp == '\f' || cp == '\r'))
            out += s.substring(i, i + w)
          i += w
        }
        out.toArray
      } else lowerTokens(u)
    val sep = if (charMode) "" else " "
    def gramAt(ts: Array[String], i: Int, n: Int): String = {
      val sb = new java.lang.StringBuilder(16)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(sep)
        sb.append(ts(i + j))
        j += 1
      }
      sb.toString
    }
    val cu = units(cand)
    val ru = units(ref)
    // Dictionary-encode the units ONCE per pair: distinct unit → dense id.
    // With ≤ 65535 distinct units (every real document), a gram of n ≤ 4
    // units packs exactly into one long (4 × 16-bit ids, n fixed per map
    // so no padding ambiguity), and the per-n counting runs over packed
    // longs in a primitive open-addressing counter — zero per-gram
    // allocation. Gram identity is preserved exactly (the id map is
    // injective over this pair's units), so clip counts are bit-identical
    // to the string path, which remains as the n > 4 / overflow fallback.
    val dict = new java.util.HashMap[String, Integer]((cu.length + ru.length) * 2)
    def idsOf(us: Array[String]): Array[Int] = {
      val ids = new Array[Int](us.length)
      var i = 0
      while (i < us.length) {
        var id = dict.get(us(i))
        if (id == null) { id = Integer.valueOf(dict.size); dict.put(us(i), id) }
        ids(i) = id.intValue()
        i += 1
      }
      ids
    }
    val cid = idsOf(cu)
    val rid = idsOf(ru)
    val packable = dict.size <= 0xFFFF
    val out = new Array[Long](ns.length * 3)
    var k = 0
    while (k < ns.length) {
      val n = ns(k)
      val totC = math.max(cu.length - n + 1, 0)
      val totR = math.max(ru.length - n + 1, 0)
      var clip = 0L
      if (totC > 0 && totR > 0) {
        if (packable && n <= 4) {
          def keyAt(ids: Array[Int], i: Int): Long = {
            var key = 0L
            var j = 0
            while (j < n) { key = (key << 16) | ids(i + j); j += 1 }
            key
          }
          val refCounts = new LongCounter(totR)
          var i = 0
          while (i < totR) { refCounts.inc(keyAt(rid, i)); i += 1 }
          i = 0
          while (i < totC) {
            if (refCounts.dec(keyAt(cid, i))) clip += 1L
            i += 1
          }
        } else {
          val refCounts = new java.util.HashMap[String, Integer](totR * 2)
          var i = 0
          while (i <= ru.length - n) {
            refCounts.merge(gramAt(ru, i, n), 1,
              (a: Integer, b: Integer) => Integer.valueOf(a + b))
            i += 1
          }
          i = 0
          while (i <= cu.length - n) {
            val g = gramAt(cu, i, n)
            val c = refCounts.get(g)
            if (c != null && c > 0) {
              clip += 1L
              refCounts.put(g, c - 1)
            }
            i += 1
          }
        }
      }
      out(k * 3) = clip
      out(k * 3 + 1) = totC.toLong
      out(k * 3 + 2) = totR.toLong
      k += 1
    }
    out
  }

  /** Column: struct(clip_n, tot_c_n, tot_r_n per n in `ns`) of the
    * clipped n-gram overlap (native, see [[genOverlapOf]]). */
  def genOverlap(cand: Column, ref: Column, ns: Seq[Int],
      charMode: Boolean): Column =
    column(GenOverlapExpr(expression(cand), expression(ref), ns, charMode))

  /** [[genOverlapOf]] boxed into an InternalRow — the call target of
    * [[GenOverlapExpr]]'s generated code (the object's static forwarder
    * makes it reachable from Janino). */
  def genOverlapRow(cand: UTF8String, ref: UTF8String, ns: Array[Int],
      charMode: Boolean): InternalRow =
    InternalRow.fromSeq(genOverlapOf(cand, ref, ns, charMode).toSeq)

  /** Token-LCS substrate for ROUGE-L: classic two-row O(m·n) dynamic
    * program over whitespace tokens (tokenized exactly like
    * [[graft.ops.text.tokens]] — lowercase, ASCII-`\s` split, empties
    * dropped), each side capped at its FIRST `maxToks` tokens so the
    * per-row cost is a knob (`maxToks²` cells), never document-length-
    * quadratic. Returns `(lcs, m, n)` with `m`/`n` the CAPPED candidate/
    * reference token counts the F-measure downstream must use. */
  def lcsRowOf(cand: UTF8String, ref: UTF8String, maxToks: Int): InternalRow = {
    def toks(u: UTF8String): Array[String] = {
      val all = lowerTokens(u)
      if (all.length > maxToks) java.util.Arrays.copyOf(all, maxToks) else all
    }
    val c = toks(cand)
    val r = toks(ref)
    val m = c.length
    var prev = new Array[Long](m + 1)
    var curr = new Array[Long](m + 1)
    var i = 0
    while (i < r.length) {
      val ri = r(i)
      var j = 1
      while (j <= m) {
        val diag = if (c(j - 1) == ri) prev(j - 1) + 1L else 0L
        val keep = if (prev(j) > curr(j - 1)) prev(j) else curr(j - 1)
        curr(j) = if (diag > keep) diag else keep
        j += 1
      }
      val t = prev; prev = curr; curr = t
      java.util.Arrays.fill(curr, 0L)
      i += 1
    }
    InternalRow(prev(m), m.toLong, r.length.toLong)
  }

  /** Column: struct(lcs, m, n) of the capped token-LCS (native, see
    * [[lcsRowOf]]). */
  def lcsRow(cand: Column, ref: Column, maxToks: Int): Column =
    column(LcsRowExpr(expression(cand), expression(ref), maxToks))

  /** Token-level Levenshtein substrate for WER ([[graft.ops.evals.wer]]):
    * the classic two-row O(m·n) edit-distance dynamic program over
    * whitespace tokens (tokenized exactly like [[lcsRowOf]] — lowercase,
    * ASCII-`\s` split, empties dropped; Spark's built-in `levenshtein`
    * is CHARACTER-level, which double-counts long-token substitutions),
    * each side capped at its first `maxToks` tokens so per-row cost is a
    * knob. Returns `(dist, m, n)` with `m`/`n` the CAPPED candidate/
    * reference token counts — the WER denominator downstream must use
    * `n`. */
  def editRowOf(cand: UTF8String, ref: UTF8String, maxToks: Int): InternalRow = {
    def toks(u: UTF8String): Array[String] = {
      val all = lowerTokens(u)
      if (all.length > maxToks) java.util.Arrays.copyOf(all, maxToks) else all
    }
    val c = toks(cand)
    val r = toks(ref)
    val m = c.length
    var prev = new Array[Long](m + 1)
    var curr = new Array[Long](m + 1)
    var j = 0
    while (j <= m) { prev(j) = j.toLong; j += 1 }
    var i = 0
    while (i < r.length) {
      val ri = r(i)
      curr(0) = i + 1L
      var k = 1
      while (k <= m) {
        val sub = prev(k - 1) + (if (c(k - 1) == ri) 0L else 1L)
        val del = prev(k) + 1L
        val ins = curr(k - 1) + 1L
        var v = if (del < ins) del else ins
        if (sub < v) v = sub
        curr(k) = v
        k += 1
      }
      val t = prev; prev = curr; curr = t
      i += 1
    }
    InternalRow(prev(m), m.toLong, r.length.toLong)
  }

  /** Column: struct(dist, m, n) of the capped token edit distance
    * (native, see [[editRowOf]]). */
  def editRow(cand: Column, ref: Column, maxToks: Int): Column =
    column(EditRowExpr(expression(cand), expression(ref), maxToks))

  /** Column: native per-row SimHash (see [[SimHashExpr]]). */
  def simhash(c: Column, bits: Int): Column = column(SimHashExpr(expression(c), bits))

  /** Fused Bloom decontamination probe: word n-gram shingles + k-position
    * membership test against a literal [[graft.ops.sketch.bloom]] word
    * array, all in one compiled pass per document — returns the count of
    * DISTINCT shingles whose k Kirsch-Mitzenmacher positions are all set.
    * The compositional twin (`size(filter(wordShingles(c, n), g =>
    * bloomMightContain(words, g, mBits, k)))`) evaluates the lambda
    * interpreted and pays TWO md5 digests per gram (h32 + h32b are
    * separate expressions); here one digest yields both 32-bit words.
    * Bit-identical to the twin (same shingle set, same digest, same
    * position arithmetic) — asserted in NativeExprsSpec and by the
    * `decontam_bloom_clean` DuckDB oracle. */
  def bloomGramHitsOf(
      text: UTF8String, words: Array[Long], n: Int, mBits: Int, k: Int): Long = {
    val grams = shingles(text, n)
    var hits = 0L
    var gi = 0
    while (gi < grams.length) {
      val h = md5Of(grams(gi))
      val h1 = ((h(0) & 0xffL) << 24) | ((h(1) & 0xffL) << 16) |
        ((h(2) & 0xffL) << 8) | (h(3) & 0xffL)
      val h2 = ((h(4) & 0xffL) << 24) | ((h(5) & 0xffL) << 16) |
        ((h(6) & 0xffL) << 8) | (h(7) & 0xffL)
      var all = true
      var j = 0
      while (all && j < k) {
        // h1 + j*h2 < 2^37 for k <= 16 — no overflow, always non-negative,
        // so plain % equals pmod.
        val pos = (h1 + j.toLong * h2) % mBits
        all = (words((pos / 63L).toInt) & (1L << (pos % 63L).toInt)) != 0L
        j += 1
      }
      if (all) hits += 1
      gi += 1
    }
    hits
  }

  /** Column: fused bloom-member shingle count (see [[BloomGramHitsExpr]]). */
  def bloomGramHits(c: Column, words: Seq[Long], n: Int, mBits: Int, k: Int): Column =
    column(BloomGramHitsExpr(expression(c), words.toIndexedSeq, n, mBits, k))

  /** Blocklist OCCURRENCE count in one compiled pass: tokenize the
    * document ([[graft.ops.text.tokens]] semantics — lowercase, `\s+`
    * split, empties dropped), then for every phrase length present in
    * `terms` probe each positional token n-gram against a hash set of
    * the normalized terms. Counts OCCURRENCES (a phrase repeated five
    * times scores 5), overlaps included — the mass measure a C4-style
    * wordlist gate thresholds on.
    *
    * A 2,000-term list as an `isin`/`array_contains` literal is an
    * O(|list|) linear scan per probed gram (codegen'd but still a 2,000-
    * branch walk); the set probe here is O(1) per gram with the set
    * built once per executor from the broadcast-closure terms. The
    * compositional HOF twin is kept in [[graft.ops.text]] and pinned
    * equal in NativeExprsSpec. */
  def termSetHitsOf(text: UTF8String, set: java.util.HashSet[String],
      lengths: Array[Int]): Long = {
    val toks = lowerTokens(text)
    var hits = 0L
    var li = 0
    while (li < lengths.length) {
      val n = lengths(li)
      var i = 0
      val last = toks.length - n
      while (i <= last) {
        if (n == 1) {
          if (set.contains(toks(i))) hits += 1
        } else {
          val sb = new java.lang.StringBuilder(32)
          var j = 0
          while (j < n) {
            if (j > 0) sb.append(' ')
            sb.append(toks(i + j))
            j += 1
          }
          if (set.contains(sb.toString)) hits += 1
        }
        i += 1
      }
      li += 1
    }
    hits
  }

  /** Column: fused blocklist occurrence count (see [[TermSetHitsExpr]]). */
  def termSetHits(c: Column, terms: Seq[String]): Column =
    column(TermSetHitsExpr(expression(c),
      terms.map(_.toLowerCase.trim.split("\\s+").mkString(" ")).toIndexedSeq))

  /** Winnowing fingerprints in ONE compiled pass (Schleimer et al.
    * SIGMOD'03): gram-hash the document once, slide the w-window minima,
    * collect distinct selections in first-occurrence order. The HOF twin
    * (`HofTwins.winnowFingerprintsHof`, tests) embeds the gram-hash
    * array inside the window lambda, and HOF lambdas get no
    * common-subexpression elimination — the md5 array is recomputed PER
    * WINDOW ELEMENT, an O(G²) digest blowup (measured 30 s for the
    * sf0.1 pair query vs ~1 s fused; the round-5 once-bound-token-column
    * lesson, kernel edition). Hash = [[h32Bytes]], identical to
    * `hashing.h32` and the DuckDB oracle fragment. */
  def winnowFpOf(text: UTF8String, n: Int, w: Int): Array[Long] = {
    val grams = wordGramsOf(text, n)
    if (grams.length == 0) return Array.empty
    val hs = new Array[Long](grams.length)
    var i = 0
    while (i < grams.length) { hs(i) = h32Of(grams(i)); i += 1 }
    if (hs.length < w) {
      var m = hs(0); i = 1
      while (i < hs.length) { if (hs(i) < m) m = hs(i); i += 1 }
      return Array(m)
    }
    val seen = new java.util.LinkedHashSet[java.lang.Long](hs.length)
    i = 0
    while (i <= hs.length - w) {
      var m = hs(i)
      var j = i + 1
      while (j < i + w) { if (hs(j) < m) m = hs(j); j += 1 }
      seen.add(m)
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var o = 0
    while (it.hasNext) { out(o) = it.next().longValue; o += 1 }
    out
  }

  /** Column: fused winnowing fingerprints (see [[WinnowFpExpr]]). */
  def winnowFp(c: Column, n: Int, w: Int): Column =
    column(WinnowFpExpr(expression(c), n, w))

  /** Fused SINGLE-VALUE Bloom membership probe — the scalar twin of
    * [[bloomGramHitsOf]] for key prefilters ([[graft.ops.rel.bloomJoin]]):
    * ONE md5 digest yields both Kirsch-Mitzenmacher words; the
    * compositional form ([[graft.ops.sketch.bloomMightContain]]) builds
    * h32 and h32b as separate md5 expressions referenced by every one of
    * the k probes, and a filter condition gets no subexpression
    * elimination — measured 8× slower on a 600k-row key scan.
    * Bit-identical to the compositional twin (same digest bytes, same
    * position arithmetic) — asserted in NativeExprsSpec. */
  def bloomContainsOf(v: UTF8String, words: Array[Long], mBits: Int, k: Int): Boolean = {
    val h = md5Of(v)
    val h1 = ((h(0) & 0xffL) << 24) | ((h(1) & 0xffL) << 16) |
      ((h(2) & 0xffL) << 8) | (h(3) & 0xffL)
    val h2 = ((h(4) & 0xffL) << 24) | ((h(5) & 0xffL) << 16) |
      ((h(6) & 0xffL) << 8) | (h(7) & 0xffL)
    var all = true
    var j = 0
    while (all && j < k) {
      val pos = (h1 + j.toLong * h2) % mBits
      all = (words((pos / 63L).toInt) & (1L << (pos % 63L).toInt)) != 0L
      j += 1
    }
    all
  }

  /** Column: fused single-value bloom probe (see [[BloomContainsExpr]]).
    * `c` must be a string column (cast the key first — the cast defines
    * the hashed bytes and must match the build side's). */
  def bloomContains(c: Column, words: Seq[Long], mBits: Int, k: Int): Column = {
    require(words.length == graft.ops.sketch.bloomWordCount(mBits),
      s"bloomContains needs ${graft.ops.sketch.bloomWordCount(mBits)} words " +
        s"for mBits=$mBits, got ${words.length}")
    require(k >= 1 && k <= 16, s"bloomContains needs 1 <= k <= 16, got $k")
    column(BloomContainsExpr(expression(c), words.toIndexedSeq, mBits, k))
  }

  /** Column: fused hyperplane-LSH signature (see [[LshSigExpr]]). */
  def lshSig(v: Column, planes: Seq[Seq[Double]]): Column =
    column(LshSigExpr(expression(v), planes.map(_.toIndexedSeq).toIndexedSeq))

  /** Column: native dot product (see [[VecDotExpr]]). */
  def vecDot(a: Column, b: Column): Column =
    column(VecDotExpr(expression(a), expression(b)))

  /** Column: native squared L2 (see [[VecL2SqExpr]]). */
  def vecL2Sq(a: Column, b: Column): Column =
    column(VecL2SqExpr(expression(a), expression(b)))

  /** Column: native L1 / Manhattan distance (see [[VecL1Expr]]). */
  def vecL1(a: Column, b: Column): Column =
    column(VecL1Expr(expression(a), expression(b)))

  /** Column: native element-wise Hamming distance (see [[VecHammingExpr]]). */
  def vecHamming(a: Column, b: Column): Column =
    column(VecHammingExpr(expression(a), expression(b)))

  /** Column: a per-query double bound by reference (see [[QueryConstExpr]]). */
  def queryConst(x: Double): Column = column(QueryConstExpr(x))

  /** Column: fused quantize + upper-triangle products (see
    * [[GramProductsExpr]]) — the [[graft.ops.linalg.gram]] hot loop. */
  def gramProducts(v: Column, dim: Int, q: Long): Column =
    column(GramProductsExpr(expression(v), dim, q))
}

/** Element accessor closed over the array element type, so the per-row
  * scoring loop does no per-element type dispatch. Float widens to double
  * exactly — identical to casting the whole array first. */
private[functions] object VecKernels {

  /** Java source fragment reading element `i` of `arr` as a double —
    * the codegen twin of [[getter]]. */
  def getterCode(dt: DataType, arr: String, i: String): String = dt match {
    case ArrayType(org.apache.spark.sql.types.FloatType, _)   => s"(double) $arr.getFloat($i)"
    case ArrayType(org.apache.spark.sql.types.DoubleType, _)  => s"$arr.getDouble($i)"
    case ArrayType(org.apache.spark.sql.types.ByteType, _)    => s"(double) $arr.getByte($i)"
    case ArrayType(org.apache.spark.sql.types.IntegerType, _) => s"(double) $arr.getInt($i)"
    case other => throw new IllegalArgumentException(
      s"vector kernel expects array<float|double|byte|int>, got ${other.simpleString}")
  }

  def getter(dt: DataType): (ArrayData, Int) => Double = dt match {
    case ArrayType(org.apache.spark.sql.types.FloatType, _)   => (a, i) => a.getFloat(i).toDouble
    case ArrayType(org.apache.spark.sql.types.DoubleType, _)  => (a, i) => a.getDouble(i)
    case ArrayType(org.apache.spark.sql.types.ByteType, _)    => (a, i) => a.getByte(i).toDouble
    case ArrayType(org.apache.spark.sql.types.IntegerType, _) => (a, i) => a.getInt(i).toDouble
    case other => throw new IllegalArgumentException(
      s"vector kernel expects array<float|double|byte|int>, got ${other.simpleString}")
  }

  /** Sequential-order dot product — the same fold as
    * `aggregate(zip_with(a, b, _*_), 0.0, _+_)`, so results are
    * bit-identical to the HOF composition (and to the DuckDB oracle). */
  def dot(a: ArrayData, b: ArrayData, ga: (ArrayData, Int) => Double,
      gb: (ArrayData, Int) => Double): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += ga(a, i) * gb(b, i); i += 1 }
    acc
  }

  /** Sequential-order squared L2 — same fold as the HOF composition. */
  def l2sq(a: ArrayData, b: ArrayData, ga: (ArrayData, Int) => Double,
      gb: (ArrayData, Int) => Double): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { val d = ga(a, i) - gb(b, i); acc += d * d; i += 1 }
    acc
  }

  /** Sequential-order L1 (Manhattan) distance. */
  def l1(a: ArrayData, b: ArrayData, ga: (ArrayData, Int) => Double,
      gb: (ArrayData, Int) => Double): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += math.abs(ga(a, i) - gb(b, i)); i += 1 }
    acc
  }

  /** Element-wise Hamming distance: count of differing positions. */
  def hamming(a: ArrayData, b: ArrayData, ga: (ArrayData, Int) => Double,
      gb: (ArrayData, Int) => Double): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { if (ga(a, i) != gb(b, i)) acc += 1.0; i += 1 }
    acc
  }
}

/** Binary vector kernel with TRUE whole-stage codegen: `doGenCode` emits
  * the accumulation loop inline in the generated stage, so the hot
  * scoring path pays no per-row virtual call and no boxing
  * (`CodegenFallback` costs both). The interpreted `eval` remains as the
  * non-codegen fallback; both run the identical sequential fold
  * (SURVEY §4 #10 — the one place this engine hand-writes what Tungsten
  * can't derive). */
abstract class VecBinaryKernel extends BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  @transient protected lazy val ga: (ArrayData, Int) => Double = VecKernels.getter(left.dataType)
  @transient protected lazy val gb: (ArrayData, Int) => Double = VecKernels.getter(right.dataType)

  /** Java statement folding elements `ae`/`be` into `acc`. */
  protected def stepCode(ae: String, be: String, acc: String, tmp: String): String

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val tmp = ctx.freshName("tmp")
      val ae = VecKernels.getterCode(left.dataType, a, i)
      val be = VecKernels.getterCode(right.dataType, b, i)
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  ${stepCode(ae, be, acc, tmp)}
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
}

/** Native dot product of two numeric array columns. NOTE: like
  * `zip_with`, a length mismatch is not an error here — the shorter
  * length wins (zip_with pads with null, which the HOF fold turns into
  * null; the SearchPlan dim guard rejects mismatches before scoring
  * either way — this kernel only ever sees validated pairs). */
case class VecDotExpr(left: Expression, right: Expression) extends VecBinaryKernel {
  override def prettyName: String = "vec_dot"
  override protected def stepCode(ae: String, be: String, acc: String, tmp: String): String =
    s"$acc += $ae * $be;"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VecKernels.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], ga, gb)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDotExpr =
    copy(left = newLeft, right = newRight)
}

/** Native squared L2 distance of two numeric array columns (no sqrt —
  * reference semantics, vec_compute.rs:34-54). */
case class VecL2SqExpr(left: Expression, right: Expression) extends VecBinaryKernel {
  override def prettyName: String = "vec_l2sq"
  override protected def stepCode(ae: String, be: String, acc: String, tmp: String): String =
    s"double $tmp = $ae - $be; $acc += $tmp * $tmp;"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VecKernels.l2sq(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], ga, gb)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecL2SqExpr =
    copy(left = newLeft, right = newRight)
}

/** Native L1 (Manhattan) distance — roadmap metric (README.md:204-215). */
case class VecL1Expr(left: Expression, right: Expression) extends VecBinaryKernel {
  override def prettyName: String = "vec_l1"
  override protected def stepCode(ae: String, be: String, acc: String, tmp: String): String =
    s"$acc += java.lang.Math.abs($ae - $be);"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VecKernels.l1(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], ga, gb)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecL1Expr =
    copy(left = newLeft, right = newRight)
}

/** Native element-wise Hamming distance over signature arrays — roadmap
  * metric (README.md:211). Counts DIFFERING coordinate positions; exact
  * double comparison is intended (signatures are small integers / ±1
  * codes, exactly representable). */
case class VecHammingExpr(left: Expression, right: Expression) extends VecBinaryKernel {
  override def prettyName: String = "vec_hamming"
  override protected def stepCode(ae: String, be: String, acc: String, tmp: String): String =
    s"if ($ae != $be) $acc += 1.0;"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VecKernels.hamming(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], ga, gb)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecHammingExpr =
    copy(left = newLeft, right = newRight)
}

case class WordShinglesExpr(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  require(n >= 1, s"graft: word_shingles needs n >= 1, got $n")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_shingles"
  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      NativeExprs.shingles(input.asInstanceOf[UTF8String], n).asInstanceOf[Array[Any]])
  override protected def withNewChildInternal(newChild: Expression): WordShinglesExpr =
    copy(child = newChild)
}

/** See [[NativeExprs.jaccardOf]]. Never NULL: a NULL side reads 0.0, as
  * an empty union does. Both sides must share one orderable element
  * type. */
case class JaccardExpr(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false
  override def prettyName: String = "jaccard"
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(a, _), ArrayType(b, _))
        if DataType.equalsStructurally(a, b, ignoreNullability = true) &&
          RowOrdering.isOrderable(a) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"graft: jaccard needs two arrays of one orderable element type, got " +
        s"${l.simpleString} and ${r.simpleString}")
  }
  @transient private lazy val et = left.dataType.asInstanceOf[ArrayType].elementType
  override def eval(input: InternalRow): Any = {
    val a = left.eval(input)
    val b = if (a == null) null else right.eval(input)
    if (b == null) 0.0
    else NativeExprs.jaccardOf(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], et)
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaccardExpr =
    copy(left = newLeft, right = newRight)
}

case class WordGramsExpr(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  require(n >= 1, s"graft: word_grams needs n >= 1, got $n")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_grams"
  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      NativeExprs.wordGramsOf(input.asInstanceOf[UTF8String], n).asInstanceOf[Array[Any]])
  override protected def withNewChildInternal(newChild: Expression): WordGramsExpr =
    copy(child = newChild)
}

/** Fused distinct-gram h63 digest (see [[NativeExprs.hashedGramSetOf]]):
  * one md5 per gram, longs out, no intermediate string array. */
case class HashedGramSetExpr(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "hashed_gram_set"
  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      NativeExprs.hashedGramSetOf(input.asInstanceOf[UTF8String], n))
  override protected def withNewChildInternal(newChild: Expression): HashedGramSetExpr =
    copy(child = newChild)
}

case class MinHashSigExpr(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"
  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(NativeExprs.minhash(input.asInstanceOf[ArrayData], k))
  override protected def withNewChildInternal(newChild: Expression): MinHashSigExpr =
    copy(child = newChild)
}

/** Fused char-entropy kernel (see [[NativeExprs.charEntropyOf]]):
  * struct(n_chars, qa). */
case class CharEntropyExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("n_chars", LongType, nullable = false),
    org.apache.spark.sql.types.StructField("qa", LongType, nullable = false)))
  override def prettyName: String = "char_entropy_stats"
  override protected def nullSafeEval(input: Any): Any = {
    val (n, qa) = NativeExprs.charEntropyOf(input.asInstanceOf[UTF8String])
    InternalRow(n, qa)
  }
  override protected def withNewChildInternal(newChild: Expression): CharEntropyExpr =
    copy(child = newChild)
}

/** Native n-gram repetition-mass kernel (see
  * [[NativeExprs.repetitionMassesOf]]): struct(top_mass, dup_mass). */
case class RepetitionMassExpr(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("top_mass", LongType, nullable = false),
    org.apache.spark.sql.types.StructField("dup_mass", LongType, nullable = false)))
  override def prettyName: String = "repetition_masses"
  override protected def nullSafeEval(input: Any): Any = {
    val (top, dup) = NativeExprs.repetitionMassesOf(input.asInstanceOf[UTF8String], n)
    InternalRow(top, dup)
  }
  override protected def withNewChildInternal(newChild: Expression): RepetitionMassExpr =
    copy(child = newChild)
}

/** Fused clipped n-gram overlap kernel (per-row hashmap pass, see
  * [[NativeExprs.genOverlapOf]]): struct(clip_n, tot_c_n, tot_r_n) per
  * n in `ns`. Row-local by construction — the generation-eval meters
  * built on it ship NO shuffle at all. TRUE codegen (the
  * [[VecBinaryKernel]] bar for hot kernels): the generated stage calls
  * the same static JVM kernel the interpreted path uses, so the child
  * expressions (the coalesce projections the eval meters wrap around
  * it) stay inside whole-stage codegen instead of re-evaluating
  * interpreted per row, and results are bit-identical by construction. */
case class GenOverlapExpr(left: Expression, right: Expression,
    ns: Seq[Int], charMode: Boolean)
    extends BinaryExpression {
  require(ns.nonEmpty && ns.forall(_ >= 1), s"gen_overlap needs ns >= 1, got $ns")
  override def dataType: DataType = org.apache.spark.sql.types.StructType(
    ns.flatMap(n => Seq(
      org.apache.spark.sql.types.StructField(s"clip_$n", LongType, nullable = false),
      org.apache.spark.sql.types.StructField(s"tot_c_$n", LongType, nullable = false),
      org.apache.spark.sql.types.StructField(s"tot_r_$n", LongType, nullable = false))))
  override def prettyName: String = "gen_overlap"
  override protected def nullSafeEval(l: Any, r: Any): Any =
    NativeExprs.genOverlapRow(l.asInstanceOf[UTF8String],
      r.asInstanceOf[UTF8String], ns.toArray, charMode)
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val nsRef = ctx.addReferenceObj("genOverlapNs", ns.toArray, "int[]")
    nullSafeCodeGen(ctx, ev, (l, r) =>
      s"${ev.value} = graft.functions.NativeExprs.genOverlapRow(" +
        s"$l, $r, $nsRef, $charMode);")
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): GenOverlapExpr =
    copy(left = newLeft, right = newRight)
}

/** ROUGE-L substrate (see [[NativeExprs.lcsRowOf]]): struct(lcs, m, n)
  * of the capped token-LCS between candidate and reference text —
  * TRUE codegen (the GenOverlapExpr dispatch shape; the DP itself is a
  * straight JVM loop either way). */
case class LcsRowExpr(left: Expression, right: Expression, maxToks: Int)
    extends BinaryExpression {
  require(maxToks >= 1, s"lcs_row needs maxToks >= 1, got $maxToks")
  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("lcs", LongType, nullable = false),
    org.apache.spark.sql.types.StructField("m", LongType, nullable = false),
    org.apache.spark.sql.types.StructField("n", LongType, nullable = false)))
  override def prettyName: String = "lcs_row"
  override protected def nullSafeEval(l: Any, r: Any): Any =
    NativeExprs.lcsRowOf(l.asInstanceOf[UTF8String],
      r.asInstanceOf[UTF8String], maxToks)
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) =>
      s"${ev.value} = graft.functions.NativeExprs.lcsRowOf($l, $r, $maxToks);")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LcsRowExpr =
    copy(left = newLeft, right = newRight)
}

/** WER substrate (see [[NativeExprs.editRowOf]]): struct(dist, m, n)
  * of the capped token-level Levenshtein distance — the [[LcsRowExpr]]
  * shape with the edit-distance recurrence. */
case class EditRowExpr(left: Expression, right: Expression, maxToks: Int)
    extends BinaryExpression {
  require(maxToks >= 1, s"edit_row needs maxToks >= 1, got $maxToks")
  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("dist", LongType, nullable = false),
    org.apache.spark.sql.types.StructField("m", LongType, nullable = false),
    org.apache.spark.sql.types.StructField("n", LongType, nullable = false)))
  override def prettyName: String = "edit_row"
  override protected def nullSafeEval(l: Any, r: Any): Any =
    NativeExprs.editRowOf(l.asInstanceOf[UTF8String],
      r.asInstanceOf[UTF8String], maxToks)
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) =>
      s"${ev.value} = graft.functions.NativeExprs.editRowOf($l, $r, $maxToks);")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): EditRowExpr =
    copy(left = newLeft, right = newRight)
}

/** Fused quantize + upper-triangle-products kernel for
  * [[graft.ops.linalg.gram]]: one compiled pass turns a d-vector into its
  * d(d+1)/2 exact fixed-point products as a flat long array (row-major
  * upper triangle). The HOF twin (`transform` quantize + nested
  * `transform` products) evaluates every lambda interpreted and
  * allocates a Catalyst array per step — this loop is the same math in
  * straight JVM code (quantization in double exactly like
  * `CAST(floor(v * q) AS BIGINT)`, asserted bit-identical in
  * NativeExprsSpec). Rows of the wrong dimension yield null (the caller
  * filters; null here never silently truncates a product array). */
case class GramProductsExpr(child: Expression, dim: Int, q: Long)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  // wrong-dimension rows yield null even from a non-null child — without
  // this the consumer's generated code would skip the null check
  override def nullable: Boolean = true
  override def prettyName: String = "gram_products"
  private lazy val get = VecKernels.getter(child.dataType)
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val p = ctx.freshName("p")
      val qi = ctx.freshName("qi")
      val qv = ctx.freshName("qv")
      val out = ctx.freshName("out")
      // same arithmetic as nullSafeEval: element promoted to double,
      // * q (double multiply), floor, (long) cast — bit-identical
      s"""
         |if ($a.numElements() != $dim) {
         |  ${ev.isNull} = true;
         |} else {
         |  long[] $qv = new long[$dim];
         |  for (int $i = 0; $i < $dim; $i++) {
         |    $qv[$i] = (long) java.lang.Math.floor(
         |      ${VecKernels.getterCode(child.dataType, a, i)} * (double) ${q}L);
         |  }
         |  long[] $out = new long[${dim * (dim + 1) / 2}];
         |  int $p = 0;
         |  for (int $i = 0; $i < $dim; $i++) {
         |    long $qi = $qv[$i];
         |    for (int $j = $i; $j < $dim; $j++) { $out[$p] = $qi * $qv[$j]; $p++; }
         |  }
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |}
       """.stripMargin
    })
  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    if (arr.numElements() != dim) return null
    val qv = new Array[Long](dim)
    var i = 0
    while (i < dim) {
      qv(i) = math.floor(get(arr, i) * q).toLong
      i += 1
    }
    val out = new Array[Long](dim * (dim + 1) / 2)
    var p = 0
    i = 0
    while (i < dim) {
      val qi = qv(i)
      var j = i
      while (j < dim) { out(p) = qi * qv(j); p += 1; j += 1 }
      i += 1
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(newChild: Expression): GramProductsExpr =
    copy(child = newChild)
}

/** Fused shingle + bloom-probe kernel (see
  * [[NativeExprs.bloomGramHitsOf]]). `words` is an IndexedSeq (structural
  * equality), so identical probe expressions stay semantically equal.
  * CodegenFallback like the other digest kernels — the md5 per shingle
  * dominates; the loop body is compiled JVM code either way. */
case class BloomGramHitsExpr(
    child: Expression, words: IndexedSeq[Long], n: Int, mBits: Int, k: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def prettyName: String = "bloom_gram_hits"
  @transient private lazy val wordArr: Array[Long] = words.toArray
  override protected def nullSafeEval(input: Any): Any =
    NativeExprs.bloomGramHitsOf(input.asInstanceOf[UTF8String], wordArr, n, mBits, k)
  override protected def withNewChildInternal(newChild: Expression): BloomGramHitsExpr =
    copy(child = newChild)
}

/** Fused single-value bloom probe (see [[NativeExprs.bloomContainsOf]]).
  * `words` is an IndexedSeq (structural equality) like the gram kernel. */
case class BloomContainsExpr(
    child: Expression, words: IndexedSeq[Long], mBits: Int, k: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  override def prettyName: String = "bloom_contains"
  @transient private lazy val wordArr: Array[Long] = words.toArray
  override protected def nullSafeEval(input: Any): Any =
    NativeExprs.bloomContainsOf(input.asInstanceOf[UTF8String], wordArr, mBits, k)
  override protected def withNewChildInternal(newChild: Expression): BloomContainsExpr =
    copy(child = newChild)
}

case class SimHashExpr(child: Expression, bits: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash"
  override protected def nullSafeEval(input: Any): Any =
    NativeExprs.simhashOf(input.asInstanceOf[UTF8String], bits)
  override protected def withNewChildInternal(newChild: Expression): SimHashExpr =
    copy(child = newChild)
}

/** Fused random-hyperplane LSH signature: bit j of the result long is
  * `[v · planes(j) > 0]`, all `planes.length` bits in ONE pass over the
  * vector per plane — the composed form (`nbits` separate dot-product
  * expressions summed into a long) re-reads the array per bit and costs a
  * kernel dispatch per plane. Dot accumulation is sequential, identical
  * to [[VecDotExpr]] and the DuckDB `list_dot_product` fold, so bucket
  * values match the oracle bit-for-bit. `planes` is a structural-equality
  * Seq so identical signature expressions stay semantically equal
  * (exchange reuse on self-joins). */
case class LshSigExpr(child: Expression, planes: IndexedSeq[IndexedSeq[Double]])
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "lsh_sig"
  @transient private lazy val g = VecKernels.getter(child.dataType)
  @transient private lazy val mat: Array[Array[Double]] = planes.map(_.toArray).toArray
  override protected def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    var sig = 0L
    var j = 0
    while (j < mat.length) {
      val p = mat(j)
      val n = math.min(a.numElements(), p.length)
      var acc = 0.0
      var i = 0
      while (i < n) { acc += g(a, i) * p(i); i += 1 }
      if (acc > 0) sig |= (1L << j)
      j += 1
    }
    sig
  }
  // Inline generated nested loop — the plane matrix rides as a stage
  // reference object, the fold order matches eval exactly.
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val matRef = ctx.addReferenceObj("lshPlanes", mat, "double[][]")
    nullSafeCodeGen(ctx, ev, a => {
      val sig = ctx.freshName("sig")
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val p = ctx.freshName("p")
      s"""
         |long $sig = 0L;
         |for (int $j = 0; $j < $matRef.length; $j++) {
         |  double[] $p = $matRef[$j];
         |  int $n = java.lang.Math.min($a.numElements(), $p.length);
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $acc += ${VecKernels.getterCode(child.dataType, a, i)} * $p[$i];
         |  }
         |  if ($acc > 0) $sig |= (1L << $j);
         |}
         |${ev.value} = $sig;
       """.stripMargin
    })
  }
  override protected def withNewChildInternal(newChild: Expression): LshSigExpr =
    copy(child = newChild)
}

/** A per-query double that generated code reads from a reference object
  * instead of inlining. A double `Literal` is spliced into the stage's
  * Java source as a constant, so each distinct value would be a distinct
  * class and every fresh search would compile its own stage and run its
  * scoring loop cold. Here the value rides in the stage's `references`
  * array and is copied to a field once per task: the source is the same
  * for every value, so every query against one store reuses one
  * compiled class (Spark's codegen cache keys on the source). Not
  * foldable, so ConstantFolding leaves it in place; deterministic and
  * non-null. Plans print it as `query_const(<value>)`. */
case class QueryConstExpr(value: Double) extends LeafExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def prettyName: String = "query_const"
  override def sql: String = s"$prettyName($value)"
  override def eval(input: InternalRow): Any = value
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, ExprCode, JavaCode}
    val ref = ctx.addReferenceObj("queryConst", java.lang.Double.valueOf(value), "java.lang.Double")
    val field = ctx.addMutableState(CodeGenerator.JAVA_DOUBLE, "queryConst",
      v => s"$v = $ref.doubleValue();")
    ExprCode.forNonNullValue(JavaCode.global(field, DoubleType))
  }
}

/** See [[NativeExprs.bpeMergePair]]. */
case class BpeMergeExpr(child: Expression, l: String, r: String)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "bpe_merge"
  @transient private lazy val lU = UTF8String.fromString(l)
  @transient private lazy val rU = UTF8String.fromString(r)
  @transient private lazy val lrU = UTF8String.fromString(l + r)
  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val syms = new Array[AnyRef](n)
    var i = 0
    while (i < n) { syms(i) = arr.getUTF8String(i); i += 1 }
    new GenericArrayData(NativeExprs.bpeMergePassOf(syms, lU, rU, lrU))
  }
  override protected def withNewChildInternal(newChild: Expression): BpeMergeExpr =
    copy(child = newChild)
}

/** See [[NativeExprs.bpeEncode]]: tokenize (lowercase, `\s+`, drop
  * empties — the [[graft.ops.text.tokens]] contract), split each token to
  * code points, apply every merge rule in training order, flatten. */
case class BpeEncodeExpr(child: Expression, rules: IndexedSeq[(String, String)])
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "bpe_encode"
  @transient private lazy val mat: Array[(UTF8String, UTF8String, UTF8String)] =
    rules.map { case (l, r) =>
      (UTF8String.fromString(l), UTF8String.fromString(r), UTF8String.fromString(l + r))
    }.toArray
  override protected def nullSafeEval(input: Any): Any = {
    val toks = NativeExprs.lowerTokens(input.asInstanceOf[UTF8String])
    val out = new scala.collection.mutable.ArrayBuffer[AnyRef]()
    var t = 0
    while (t < toks.length) {
      var syms = NativeExprs.codePointsOf(toks(t))
      var j = 0
      while (j < mat.length) {
        val (l, r, lr) = mat(j)
        syms = NativeExprs.bpeMergePassOf(syms, l, r, lr)
        j += 1
      }
      out ++= syms
      t += 1
    }
    new GenericArrayData(out.toArray)
  }
  override protected def withNewChildInternal(newChild: Expression): BpeEncodeExpr =
    copy(child = newChild)
}

/** See [[NativeExprs.unigramSegment]]. Viterbi over code points with
  * integer scores: `best(i) = max over l in 1..maxPieceLen of
  * best(i-l) + score(cp[i-l..i))`, unknown single code points scored
  * `unkScoreQ6`, ties preferring larger l. Backtrace emits the piece
  * strings in order. */
case class UnigramSegmentExpr(
    child: Expression,
    pieces: IndexedSeq[(String, Long)],
    maxPieceLen: Int,
    unkScoreQ6: Long)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "unigram_segment"
  @transient private lazy val scoreOf: java.util.HashMap[String, java.lang.Long] = {
    val m = new java.util.HashMap[String, java.lang.Long](pieces.size * 2)
    pieces.foreach { case (p, s) => m.put(p, s) }
    m
  }
  override protected def nullSafeEval(input: Any): Any = {
    val toks = NativeExprs.lowerTokens(input.asInstanceOf[UTF8String])
    val out = new scala.collection.mutable.ArrayBuffer[AnyRef]()
    var t = 0
    while (t < toks.length) {
      val cps = NativeExprs.codePointsOf(toks(t))
        .map(_.asInstanceOf[UTF8String].toString)
      val n = cps.length
      val best = Array.fill(n + 1)(Long.MinValue)
      val pickL = new Array[Int](n + 1)
      best(0) = 0L
      var i = 1
      while (i <= n) {
        var l = 1
        val lMax = math.min(maxPieceLen, i)
        while (l <= lMax) {
          val prev = best(i - l)
          if (prev != Long.MinValue) {
            val piece = if (l == 1) cps(i - 1)
              else cps.slice(i - l, i).mkString
            val sc = scoreOf.get(piece)
            val scl: Long =
              if (sc != null) sc.longValue()
              else if (l == 1) unkScoreQ6
              else Long.MinValue
            if (scl != Long.MinValue) {
              val cand = prev + scl
              if (cand > best(i) || (cand == best(i) && l > pickL(i))) {
                best(i) = cand
                pickL(i) = l
              }
            }
          }
          l += 1
        }
        i += 1
      }
      val segs = new scala.collection.mutable.ArrayBuffer[AnyRef]()
      var pos = n
      while (pos > 0) {
        val l = pickL(pos)
        segs += UTF8String.fromString(
          if (l == 1) cps(pos - 1) else cps.slice(pos - l, pos).mkString)
        pos -= l
      }
      out ++= segs.reverse
      t += 1
    }
    new GenericArrayData(out.toArray)
  }
  override protected def withNewChildInternal(
      newChild: Expression): UnigramSegmentExpr = copy(child = newChild)
}

case class MinShingleFpExpr(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "min_shingle_fp"
  override protected def nullSafeEval(input: Any): Any =
    NativeExprs.minShingleFpOf(input.asInstanceOf[UTF8String], n)
  override protected def withNewChildInternal(newChild: Expression): MinShingleFpExpr =
    copy(child = newChild)
}

/** See [[NativeExprs.fence]]. `deterministic = false` is the entire
  * mechanism — evaluation and codegen delegate to the child untouched, so
  * the only effect is on optimizer rules that test determinism before
  * inlining/pushing. The child IS deterministic in fact; the flag is a
  * deliberate lie to the optimizer, which is safe (it can only inhibit
  * rewrites, never enable wrong ones). */
case class FenceExpr(child: Expression) extends UnaryExpression {
  override lazy val deterministic: Boolean = false
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "fence"
  override def eval(input: InternalRow): Any = child.eval(input)
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = c.code, isNull = c.isNull, value = c.value)
  }
  override protected def withNewChildInternal(newChild: Expression): FenceExpr =
    copy(child = newChild)
}

case class TextProfileExpr(child: Expression, profiles: IndexedSeq[IndexedSeq[String]])
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("n_tokens", LongType, nullable = false),
    org.apache.spark.sql.types.StructField("sum_tok_len", LongType, nullable = false),
    org.apache.spark.sql.types.StructField("hits",
      ArrayType(LongType, containsNull = false), nullable = false)))
  override def prettyName: String = "text_profile"
  @transient private lazy val mat: Array[Array[String]] = profiles.map(_.toArray).toArray
  override protected def nullSafeEval(input: Any): Any = {
    val (n, sumLen, hits) = NativeExprs.textProfileOf(input.asInstanceOf[UTF8String], mat)
    InternalRow(n, sumLen, new GenericArrayData(hits))
  }
  override protected def withNewChildInternal(newChild: Expression): TextProfileExpr =
    copy(child = newChild)
}

/** Fused language-ID trigram scorer (see
  * [[NativeExprs.langNgramScoresOf]]). The gram→weight-vector table is
  * inverted from the per-language profiles lazily per executor; the
  * expression itself carries only the bounded profile literal (16
  * languages × topK grams), so it serializes like any other literal. */
case class LangNgramScoresExpr(
    child: Expression,
    profiles: IndexedSeq[(String, IndexedSeq[(String, Long)])],
    n: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "lang_ngram_scores"
  @transient private lazy val table: java.util.HashMap[String, Array[Long]] = {
    val m = new java.util.HashMap[String, Array[Long]]()
    profiles.zipWithIndex.foreach { case ((_, grams), li) =>
      grams.foreach { case (g, w) =>
        var arr = m.get(g)
        if (arr == null) { arr = new Array[Long](profiles.size); m.put(g, arr) }
        arr(li) = w
      }
    }
    m
  }
  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(NativeExprs.langNgramScoresOf(
      input.asInstanceOf[UTF8String], table, profiles.size, n))
  override protected def withNewChildInternal(
      newChild: Expression): LangNgramScoresExpr =
    copy(child = newChild)
}

/** Fused winnowing-fingerprint kernel (see [[NativeExprs.winnowFpOf]]). */
case class WinnowFpExpr(child: Expression, n: Int, w: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_fp"
  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      NativeExprs.winnowFpOf(input.asInstanceOf[UTF8String], n, w))
  override protected def withNewChildInternal(newChild: Expression): WinnowFpExpr =
    copy(child = newChild)
}

/** Fused blocklist occurrence counter (see [[NativeExprs.termSetHitsOf]]).
  * `terms` is an IndexedSeq of NORMALIZED phrases (lowercase,
  * single-space-joined) so structurally equal gate expressions stay
  * semantically equal; the probe set and the distinct phrase lengths are
  * derived lazily per executor. */
case class TermSetHitsExpr(child: Expression, terms: IndexedSeq[String])
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def prettyName: String = "term_set_hits"
  @transient private lazy val set: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String](terms.size * 2)
    terms.foreach(s.add)
    s
  }
  @transient private lazy val lengths: Array[Int] =
    terms.map(t => t.count(_ == ' ') + 1).distinct.sorted.toArray
  override protected def nullSafeEval(input: Any): Any =
    NativeExprs.termSetHitsOf(input.asInstanceOf[UTF8String], set, lengths)
  override protected def withNewChildInternal(newChild: Expression): TermSetHitsExpr =
    copy(child = newChild)
}

case class H32Expr(child: Expression) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def prettyName: String = "h32_native"
  override protected def nullSafeEval(input: Any): Any =
    NativeExprs.h32Of(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression): H32Expr =
    copy(child = newChild)
}
