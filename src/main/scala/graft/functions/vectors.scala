package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}

import graft.core.Metric
import graft.functions.NativeExprs

/** Vector scoring kernels as Catalyst `Column` expressions.
  *
  * The reference implements these as SIMD f32x8 loops
  * (/root/reference/src/vec_compute.rs:8-54). The Spark-native analog is
  * higher-order functions (`zip_with` + `aggregate`) which stay inside
  * whole-stage codegen — no UDF, no serialization boundary — and therefore
  * vectorize/JIT on every executor. All arithmetic is carried out in
  * DoubleType regardless of the input element type so results are stable
  * and match a float64 oracle.
  *
  * Semantics preserved from the reference:
  *   - Euclidean is SQUARED L2 (vec_compute.rs:34-54) — no sqrt.
  *   - Cosine uses inverse norms with `inv(0-vector) = 0`, so the cosine
  *     score of a zero vector is 0.0, never NaN (vec.rs:365-368,
  *     vec_compute.rs:24-32).
  */
object vectors {

  /** Cast any numeric array column to array<double> for stable math. */
  def asDoubleArray(v: Column): Column = v.cast(ArrayType(DoubleType))

  /** Literal query vector as an array<double> Column (non-null
    * elements): one typed literal, so the analyzer and ConstantFolding
    * have no d-child `array(lit, ...)` to walk on every query. Codegen
    * binds an array literal by reference, so the vector never enters the
    * generated source. */
  def vecLit(q: Seq[Double]): Column = typedLit(q.toArray)

  /** A per-query scalar (a query inverse norm) for a codegen'd scoring
    * expression. Unlike `lit(x)`, whose value is inlined into the
    * generated Java source so that every query compiles a new stage, the
    * value is bound by reference and every query against one store
    * reuses one compiled class. Same double, same result. */
  def queryConst(x: Double): Column = NativeExprs.queryConst(x)

  /** Dot product — sequential fold in double, as one native compiled
    * loop (HOFs evaluate interpreted; this is the hot scoring kernel, the
    * one place custom Catalyst code pays — SURVEY.md §4 #10).
    * Bit-identical to `HofTwins.dotProductHof`, asserted in NativeExprsSpec.
    * Ref: /root/reference/src/vec_compute.rs:8-22. */
  def dotProduct(a: Column, b: Column): Column = NativeExprs.vecDot(a, b)

  /** Sum of squares of a vector (same fold as `dot(v, v)`). */
  def squaredNorm(v: Column): Column = NativeExprs.vecDot(v, v)

  /** Inverse L2 norm; 0.0 for the zero vector (never infinity/NaN).
    * Ref: /root/reference/src/vec.rs:365-368. */
  def invNorm(v: Column): Column = {
    val n = squaredNorm(v)
    when(n > 0, lit(1.0) / sqrt(n)).otherwise(lit(0.0))
  }

  /** Cosine similarity via precomputed-style inverse norms:
    * `dot(a,b) * inv(a) * inv(b)`. Zero vectors score 0.0.
    * Ref: /root/reference/src/vec_compute.rs:24-32. */
  def cosineSimilarity(a: Column, b: Column): Column =
    dotProduct(a, b) * invNorm(a) * invNorm(b)

  /** Cosine given externally precomputed inverse norms (index-build path —
    * avoids recomputing the store-side norm per query; the reference
    * precomputes per-row inverse norms at ingest, vec.rs:365-368). */
  def cosineWithInvNorms(a: Column, invA: Column, b: Column, invB: Column): Column =
    dotProduct(a, b) * invA * invB

  /** SQUARED euclidean distance — the reference intentionally skips the
    * sqrt (vec_compute.rs:34-54). Computed as sum((x-y)^2), NOT as
    * |a|^2-2ab+|b|^2, to avoid catastrophic cancellation on near-duplicate
    * vectors. Native kernel; bit-identical to `HofTwins.l2SquaredHof`. */
  def l2Squared(a: Column, b: Column): Column = NativeExprs.vecL2Sq(a, b)

  /** L1 (Manhattan) distance — reference-roadmap metric. Native kernel;
    * bit-identical to `HofTwins.l1DistanceHof`. */
  def l1Distance(a: Column, b: Column): Column = NativeExprs.vecL1(a, b)

  /** Element-wise Hamming distance — count of coordinate positions where
    * the two equal-length signature arrays differ (binary sign codes,
    * quantized codes). Reference-roadmap metric (README.md:211). Native
    * kernel; bit-identical to `HofTwins.hammingDistanceHof`. Like the other
    * kernels, a length mismatch is resolved by the shorter length (the
    * SearchPlan dim guard rejects mismatches before scoring). */
  def hammingDistance(a: Column, b: Column): Column = NativeExprs.vecHamming(a, b)

  /** Pack a vector's SIGN BITS (bit = `v[i] >= 0`) into 63-bit words
    * (array<long>) — the persisted binary-signature serving shape: a
    * 64-dim float vector becomes 2 longs (16 bytes scanned per row
    * instead of 256), and Hamming distance collapses to XOR + popcount
    * ([[hammingPacked]]). 63 bits per word, not 64, for the same reason
    * as [[graft.ops.sketch.BloomWordBits]]: engines disagree at the
    * signed 64th bit (DuckDB raises on `1::BIGINT << 63`), and a
    * signature that must reproduce bit-for-bit on any engine cannot sit
    * on that edge. Pure built-ins (element_at / shiftleft / bitwise OR)
    * — fully codegen'd, no kernel needed. */
  def signBitsPacked(v: Column, dim: Int): Column = {
    require(dim >= 1, s"graft: signBitsPacked needs dim >= 1, got $dim")
    val words = (0 until dim by 63).map { w0 =>
      (w0 until math.min(w0 + 63, dim)).map { i =>
        when(element_at(v, i + 1) >= 0,
          call_function("shiftleft", lit(1L), lit(i - w0))).otherwise(lit(0L))
      }.reduce(_ bitwiseOR _)
    }
    array(words: _*)
  }

  /** Driver-side twin of [[signBitsPacked]] for literal query vectors. */
  def signBitsPackedOf(q: Seq[Double]): Seq[Long] =
    q.grouped(63).map { w =>
      w.zipWithIndex.foldLeft(0L) { case (acc, (x, i)) =>
        if (x >= 0) acc | (1L << i) else acc
      }
    }.toSeq

  /** Hamming distance between two packed sign signatures
    * ([[signBitsPacked]]): Σ popcount(a XOR b) over the word spine — the
    * binary-code serving kernel, one XOR + one popcount per 63
    * coordinates. Equals [[hammingDistance]] of the unpacked sign
    * vectors exactly (the oracle checks the packed plan against the
    * unpacked SQL form). Double result like every metric score. */
  def hammingPacked(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => call_function("bit_count", x.bitwiseXOR(y))),
      lit(0),
      (acc, x) => acc + x).cast(DoubleType)

  /** Literal array<long> column. */
  def longArrayLit(ws: Seq[Long]): Column = array(ws.map(lit): _*)

  /** Jaccard SET similarity of two array columns: |A∩B| / |A∪B| over the
    * DISTINCT elements of each side, 0.0 when the union is empty (two
    * empty sets score 0, never NaN — the zero-vector convention,
    * vec.rs:365-368). Reference-roadmap metric (README.md:211). Built
    * from `array_intersect`/`array_union` — codegen'd Spark natives; set
    * cardinality is the whole computation, so there is no per-element
    * fold to fuse. */
  def jaccardSimilarity(a: Column, b: Column): Column = {
    val ad = asDoubleArray(a)
    val bd = asDoubleArray(b)
    val u = size(array_union(ad, bd))
    when(u === 0, lit(0.0))
      .otherwise(size(array_intersect(ad, bd)).cast(DoubleType) / u.cast(DoubleType))
  }

  /** Metric-dispatched score of a store vector column against a query
    * expression. `storeInvNorm` supplies a precomputed inverse-norm column
    * when the store was built with one, and `queryInvNorm` the
    * driver-precomputed query inverse norm (the reference precomputes query
    * inv-norms once per batch, vec.rs:387-412). */
  def score(
      metric: Metric,
      storeVec: Column,
      queryVec: Column,
      storeInvNorm: Option[Column] = None,
      queryInvNorm: Option[Column] = None): Column = metric match {
    case Metric.DotProduct => dotProduct(storeVec, queryVec)
    case Metric.Euclidean  => l2Squared(storeVec, queryVec)
    case Metric.Manhattan  => l1Distance(storeVec, queryVec)
    case Metric.Hamming    => hammingDistance(storeVec, queryVec)
    case Metric.Jaccard    => jaccardSimilarity(storeVec, queryVec)
    case Metric.Cosine =>
      val ia = storeInvNorm.getOrElse(invNorm(storeVec))
      val ib = queryInvNorm.getOrElse(invNorm(queryVec))
      dotProduct(storeVec, queryVec) * ia * ib
  }

  /** Driver-side inverse norm of a literal query vector (plain double
    * arithmetic, sequential — matches the column-expression fold order). */
  def invNormOf(q: Seq[Double]): Double = {
    var s = 0.0
    q.foreach(x => s += x * x)
    if (s > 0) 1.0 / math.sqrt(s) else 0.0
  }

  /** Deterministic signed projection matrix for Johnson–Lindenstrauss
    * dimensionality reduction (Achlioptas 2001: ±1 entries preserve
    * pairwise distances as well as Gaussian entries). Entry (j,i) is the
    * sign of StrictMath.sin(j·dIn + i + 1) — `StrictMath` (fdlibm) is
    * bit-specified, so the matrix is a reproducible pure function of
    * (dIn, dOut) on any JVM. Cross-ENGINE agreement does not rest on
    * recomputation at all: the driver computes the matrix once and embeds
    * it as literals in both the Spark plan and the oracle SQL (and
    * [[graft.index.VecIndex]] persists it in the index metadata).
    * Unscaled (no 1/√dOut factor): cosine is scale-invariant and
    * downstream users rank, not measure. */
  def rpMatrix(dIn: Int, dOut: Int): Seq[Seq[Double]] =
    (0 until dOut).map(j => (0 until dIn).map(i =>
      if (StrictMath.sin((j * dIn + i + 1).toDouble) >= 0) 1.0 else -1.0))

  /** Project a vector column through a literal matrix: `out[j] =
    * dot(matrix[j], v)`. One native compiled dot per output dimension —
    * dOut·dIn multiply-adds per row, zero shuffle, stays inside
    * whole-stage codegen. At 100 TB this is the cheap pass that shrinks
    * every downstream shuffle (clustering, kNN graphs, near-dup) by
    * dIn/dOut× in vector bytes. */
  def projectWith(v: Column, matrix: Seq[Seq[Double]]): Column =
    array(matrix.map(row => NativeExprs.vecDot(asDoubleArray(v), vecLit(row))): _*)

  /** Driver-side twin of [[projectWith]] for literal query vectors (same
    * sequential fold order as the column kernel). */
  def projectOf(q: Seq[Double], matrix: Seq[Seq[Double]]): Seq[Double] =
    matrix.map { row =>
      var s = 0.0
      var i = 0
      while (i < row.length) { s += row(i) * q(i); i += 1 }
      s
    }

  /** Engine-portable `d`-decimal quantization:
    * `floor(x·10ᵈ + 0.5) / 10ᵈ` — three IEEE double ops any engine
    * evaluates bit-identically. NOT Spark's `round()`: that routes
    * through BigDecimal HALF_UP on the double's exact decimal expansion,
    * while other engines round the raw double — at an ulp-close half
    * boundary the two disagree by one final decimal (observed at sf0.1
    * on a corpus-wide logprob). Every rounded value the oracle compares
    * goes through THIS form on both sides. Also never yields -0.0. */
  def quantize(c: Column, d: Int): Column = {
    val p = math.pow(10.0, d)
    floor(c * p + 0.5) / p
  }

  /** Driver-side twin of [[quantize]]. */
  def quantizeOf(x: Double, d: Int): Double = {
    val p = math.pow(10.0, d)
    math.floor(x * p + 0.5) / p
  }
}
