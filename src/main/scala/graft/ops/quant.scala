package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.vectors

/** Int8 scalar quantization — on the reference's roadmap
  * (README.md:204-215), not shipped there. The 100 TB rationale: an f32
  * embedding store scanned for brute-force scoring is bandwidth-bound;
  * symmetric per-vector int8 cuts bytes-per-vector 4× (parquet bit-packs
  * further), so the first-pass scan reads a quarter of the data. Serving
  * pattern: score quantized, then exact-rerank the top candidates from
  * the f32 column — same shape as the LSH/IVF two-phase plans in
  * [[ann]].
  *
  * Scheme: per-vector symmetric scale `s = max|x| / 127`;
  * `q[i] = clamp(floor(x[i]/s + 0.5), -127, 127)` (zero vectors → all
  * zeros). Dequantized dot: `dot(qa, qb) · sa · sb`. Every step is
  * deterministic IEEE arithmetic, so results reproduce exactly in an
  * independent engine (the floor-form rounds half-up like the oracle's).
  */
object quant {

  /** Per-vector symmetric scale: `max(|x|) / 127` (0.0 for zero/empty
    * vectors). */
  def scaleOf(v: Column): Column =
    coalesce(array_max(transform(vectors.asDoubleArray(v), x => abs(x))), lit(0.0)) / 127.0

  /** Quantized vector as `array<tinyint>` given its scale. */
  def quantize(v: Column, scale: Column): Column =
    when(scale > 0,
      transform(vectors.asDoubleArray(v),
        x => least(greatest(floor(x / scale + 0.5), lit(-127.0)), lit(127.0)).cast("byte")))
      .otherwise(transform(vectors.asDoubleArray(v), _ => lit(0).cast("byte")))

  /** Add `q_vec` (int8) + `q_scale` columns — run at index build, persist
    * both, and the f32 column becomes rerank-only. */
  def quantized(df: DataFrame, vecCol: String = "embedding"): DataFrame =
    df.withColumn("q_scale", scaleOf(col(vecCol)))
      .withColumn("q_vec", quantize(col(vecCol), col("q_scale")))

  /** Approximate dot product from two quantized vectors and their
    * scales (native int kernel × two scalar multiplies). */
  def dequantizedDot(qa: Column, sa: Column, qb: Column, sb: Column): Column =
    vectors.dotProduct(qa, qb) * sa * sb

  /** Driver-side quantization of a literal query — same formula, same
    * IEEE ops, so plan literals match engine results exactly. */
  def quantizeQuery(q: Seq[Double]): (Seq[Int], Double) = {
    val s = if (q.isEmpty) 0.0 else q.map(math.abs).max / 127.0
    if (s == 0.0) (q.map(_ => 0), 0.0)
    else (q.map(x => math.min(math.max(math.floor(x / s + 0.5), -127.0), 127.0).toInt), s)
  }

  // ---- product quantization -------------------------------------------

  /** Product quantization (Jégou et al., TPAMI 2011) — the compression
    * step beyond scalar int8: split each vector into `m` subspaces, snap
    * every sub-vector to its nearest codeword from a per-subspace
    * codebook of `k` entries. A 64-dim f32 vector (256 B) becomes `m`
    * small code ids (4 B at m=4/k=16) — at 100 TB the first-pass scan
    * reads ~64× fewer bytes, and query scoring is `m` table lookups per
    * row (the ADC trick: per-subspace dot products against the query are
    * precomputed ONCE into lookup tables, so scan cost is independent of
    * dimensionality). Same two-phase serving shape as int8: PQ-score a
    * candidate pool, exact-rerank the survivors from the f32 column.
    *
    * Codebooks here are deterministic data seeds (the `k` lowest-id rows'
    * sub-vectors — the [[graft.ops.ann.seedCentroids]] convention); a
    * production build k-means each subspace, the engine contract is
    * identical. Layout: `codebooks(s)(c)` = codeword `c` of subspace `s`.
    */
  def pqSeedCodebooks(
      df: DataFrame,
      m: Int,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Seq[Seq[Seq[Double]]] = {
    val rows = df.orderBy(col(idCol)).limit(k)
      .select(col(vecCol).cast("array<double>")).collect()
      .map(_.getSeq[Double](0).toIndexedSeq)
    val dim = rows.head.length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    (0 until m).map(s => rows.map(r => r.slice(s * sub, (s + 1) * sub): Seq[Double]).toIndexedSeq)
  }

  /** Encode: adds `pq_code` (array<int>, one code per subspace) =
    * per-subspace argmin squared-L2 over the codebook, ties to the lower
    * code id. Pure scan expression (the literal-argmin form of
    * [[graft.ops.ann.ivfAssign]] per subspace) — runs once at index
    * build, persisted next to (or instead of) the f32 column. */
  def pqEncode(
      df: DataFrame,
      codebooks: Seq[Seq[Seq[Double]]],
      vecCol: String = "embedding"): DataFrame = {
    val sub = codebooks.head.head.length
    val v = vectors.asDoubleArray(col(vecCol))
    val codes = codebooks.zipWithIndex.map { case (cb, s) =>
      val subVec = slice(v, s * sub + 1, sub)
      val dists = array(cb.map(cw => vectors.l2Squared(subVec, vectors.vecLit(cw))): _*)
      (array_position(dists, array_min(dists)) - 1).cast("int")
    }
    df.withColumn(graft.index.VecIndex.PqCodeCol, array(codes: _*))
  }

  /** Driver-side dot product with the same sequential fold as the native
    * kernel / DuckDB's `list_dot_product` — ADC lookup tables must be
    * bit-identical to what an independent engine derives. */
  private def dotOf(a: Seq[Double], b: Seq[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** ADC (asymmetric distance computation) dot score of an encoded row
    * against literal query `q`: the query's per-subspace dots with every
    * codeword are precomputed driver-side into `m` lookup tables;
    * per-row scoring is `m` array lookups — no float vector is read. */
  def pqAdcDot(codeCol: Column, codebooks: Seq[Seq[Seq[Double]]],
      q: Seq[Double]): Column = {
    val sub = codebooks.head.head.length
    require(q.length == codebooks.length * sub,
      s"graft: query dim ${q.length} does not match the PQ codebooks' dim " +
        s"${codebooks.length * sub} (${codebooks.length} subspaces x $sub)")
    codebooks.zipWithIndex.map { case (cb, s) =>
      val qSub = q.slice(s * sub, (s + 1) * sub)
      val lut = array(cb.map(cw => lit(dotOf(qSub, cw))): _*)
      element_at(lut, element_at(codeCol, s + 1) + 1)
    }.reduce(_ + _)
  }

  /** PQ top-k by approximate dot product: encode in-scan (or reuse a
    * persisted `pq_code`), ADC-score, TakeOrderedAndProject. The
    * candidate pool for an exact rerank at scale. */
  def pqSearchDot(
      df: DataFrame,
      codebooks: Seq[Seq[Seq[Double]]],
      q: Seq[Double],
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val pq = graft.index.VecIndex.PqCodeCol
    val encoded =
      if (df.columns.contains(pq)) df else pqEncode(df, codebooks, vecCol)
    encoded
      .withColumn("score", graft.functions.vectors.quantize(pqAdcDot(col(pq), codebooks, q), 4))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }
}
