package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{Metric, SearchPlan, TakeType, VecStore}
import graft.functions.vectors

/** Approximate nearest-neighbor primitives over an embedding column.
  *
  * The reference engine is exact-only by design (README.md:9-12) and its
  * roadmap explicitly defers ANN; these are north-star extensions for the
  * 100 TB regime where exact scans of every vector per query stop being
  * viable. Two classic strategies, both expressed as plain DataFrame
  * plans so Catalyst handles pushdown/partitioning:
  *
  *   - '''Random-hyperplane LSH''' (Charikar, STOC'02): an `nbits`-wide
  *     signature of `sign(v·h_j)` bits. Equal signatures → high cosine
  *     with probability `(1 - θ/π)^nbits`. Search = hash the query, scan
  *     only its bucket, exact-rerank survivors. The signature is a pure
  *     codegen expression, so at index-build time it can be persisted and
  *     the store partitioned/sorted by it — turning a query into a
  *     partition-pruned scan of one bucket.
  *   - '''IVF''' (inverted-file): assign every vector to its nearest
  *     centroid; a query probes only the `nprobe` nearest centroid lists.
  *     Same plan shape: a small broadcast centroid table, an argmin
  *     assignment, a semi-join on probed centroid ids.
  *
  * Both are deterministic (hyperplanes are a fixed `sin`-derived family;
  * centroids are caller-supplied or data-derived by a fixed rule) so
  * results are exactly reproducible by an independent engine.
  */
object ann {

  /** Deterministic pseudo-random hyperplane `j` of table `t`:
    * `h[i] = sin(1000·t + 100·j + i)`. Fixed family, no RNG state — any
    * engine can regenerate it bit-for-bit from (t, j, dim). */
  def hyperplane(t: Int, j: Int, dim: Int): Seq[Double] =
    (0 until dim).map(i => math.sin(1000.0 * t + 100.0 * j + i))

  /** Signature width that targets `targetBucket` expected members per
    * LSH bucket for an `n`-vector corpus: `ceil(log2(n / targetBucket))`,
    * clamped to [1, 30]. The quadratic term in every bucketed op
    * ([[knnGraph]], [[dedup.embeddingNearDupPairs]]) is Σ bucket², so
    * nbits must GROW with the corpus — a width tuned at 2k vectors
    * quietly costs 100× more per bucket at 200k (the 10× rehearsal
    * measured exactly this geometry; see BASELINE.md). Rule of thumb,
    * not a promise: clustered embeddings skew bucket sizes, which is
    * what `bucketCap` + the observe() counters are for. */
  def suggestNbits(n: Long, targetBucket: Int = 256): Int = {
    require(n > 0 && targetBucket > 0,
      s"graft: suggestNbits needs n, targetBucket > 0, got $n, $targetBucket")
    val raw = math.ceil(
      math.log(n.toDouble / targetBucket) / math.log(2.0)).toInt
    math.min(30, math.max(1, raw))
  }

  /** LSH signature of a vector column for table `t`: an `nbits`-bit code
    * packed into a long, bit j = `[v·h_j > 0]`. One fused kernel pass
    * over all `nbits` planes (see [[graft.functions.NativeExprs.lshSig]];
    * the per-bit composition is the test-side spec
    * `HofTwins.lshSignatureHof`). */
  def lshSignature(v: Column, t: Int, nbits: Int, dim: Int): Column =
    graft.functions.NativeExprs.lshSig(v,
      (0 until nbits).map(j => hyperplane(t, j, dim)))

  /** Driver-side signature of a literal query vector (same bit rule). */
  def lshSignatureOf(q: Seq[Double], t: Int, nbits: Int): Long =
    (0 until nbits).map { j =>
      val h = hyperplane(t, j, q.length)
      val dot = q.zip(h).foldLeft(0.0) { case (acc, (a, b)) => acc + a * b }
      if (dot > 0) 1L << j else 0L
    }.sum

  /** LSH-bucketed cosine top-k: scan only vectors whose signature equals
    * the query's, exact-rerank the bucket.
    *
    * On a plain store the signature is computed in-scan (~`n / 2^nbits`
    * of the data is scored, all of it read). On an index built with
    * `BuildOptions(lshBits = Some(nbits))` the bucket is a PARTITION
    * column, so the filter becomes directory-level partition pruning and
    * the other `2^nbits - 1` buckets are never read — this is what makes
    * the query viable at 100 TB.
    *
    * The persisted bucket column is used ONLY when the index metadata
    * confirms it was built with this same (table, nbits) — a mismatched
    * width would silently probe the wrong bucket values; on mismatch (or
    * a bucket column with no metadata) the signature is recomputed
    * in-scan, which is correct at full-scan cost. */
  def lshSearch(
      store: VecStore,
      q: Seq[Double],
      k: Int,
      nbits: Int = 6,
      table: Int = 0): DataFrame =
    // the probe set's first signature is the query's own bucket
    lshSearchMultiProbe(store, q, k, nbits, probes = 1, table)

  /** The LSH bucket of every store row: the persisted partition column
    * when the index metadata confirms it was built with this same
    * (table, nbits) — so a filter on it prunes directories — else the
    * signature computed in-scan. */
  private def lshBucket(store: VecStore, table: Int, nbits: Int, dim: Int): Column = {
    val persisted = store.indexMeta.exists(m =>
      m.lshBits.contains(nbits) && m.lshTable == table) &&
      store.df.columns.contains(graft.index.VecIndex.LshBucketCol)
    if (persisted) col(graft.index.VecIndex.LshBucketCol)
    else lshSignature(col(store.vecCol), table, nbits, dim)
  }

  /** BATCH serving over the LSH-bucketed layout: `B` queries share ONE
    * bucket-pruned scan instead of paying `B` scans — the amortization a
    * real serving tier needs (at 100 TB the scan setup dominates a
    * single bucket's scoring, so per-query scans would be B× the cost
    * for the same bytes). Buckets are computed DRIVER-side per query
    * (same signature math as [[lshSearch]]); the scan prunes to the
    * UNION of buckets (partition-directory pruning when the bucket
    * column is persisted), each surviving row joins only its bucket's
    * queries through a broadcast of the tiny query table, and per-query
    * top-k runs as a rank window (WindowGroupLimit — bounded heap per
    * query, no global sort). Query-side inverse norms are precomputed on
    * the driver and shipped as literals, exactly like the single-query
    * oracle form. Returns `(query_id, vec_id, score)`, scores 4-dp. */
  def lshSearchBatch(
      store: VecStore,
      queries: Seq[(Long, Seq[Double])],
      k: Int,
      nbits: Int = 6,
      table: Int = 0): DataFrame = {
    val plan = batchPlan(store, queries, k)
    val qdf = queryTable(store, StructField("_q_bucket", LongType, nullable = false),
      queries.map { case (qid, q) =>
        Row(qid, lshSignatureOf(q, table, nbits), q, vectors.invNormOf(q))
      })
    val buckets = queries.map(q => lshSignatureOf(q._2, table, nbits)).distinct
    batchTopK(plan,
      store.df
        .withColumn("_bucket", lshBucket(store, table, nbits, plan.queryDim))
        .where(col("_bucket").isin(buckets: _*))
        .join(broadcast(qdf), col("_bucket") === col("_q_bucket")))
  }

  /** Cosine, per-query `k`, 4-dp scores: the [[SearchPlan]] of both batch
    * serving paths (its tail rejects an empty or ragged batch). */
  private def batchPlan(
      store: VecStore, queries: Seq[(Long, Seq[Double])], k: Int): SearchPlan = {
    require(queries.map(_._1).distinct.size == queries.size,
      "graft: duplicate query_id in batch — each id keys one result group")
    SearchPlan(store, queries.map(_._2.toIndexedSeq).toIndexedSeq,
      Metric.Cosine, k = Some(k), roundScoreDecimals = Some(4))
  }

  /** The broadcast query table of a batch path: `query_id`, the path's
    * join key, the query vector and its driver-side inverse norm. */
  private def queryTable(store: VecStore, key: StructField, rows: Seq[Row]): DataFrame =
    // REPL-safe explicit schema (no product-encoder reflection)
    store.df.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(Seq(
        StructField("query_id", LongType, nullable = false),
        key,
        StructField("_q_vec", ArrayType(DoubleType, containsNull = false),
          nullable = false),
        StructField("_q_inv", DoubleType, nullable = false))))

  /** Rows joined to their queries through [[queryTable]], scored and
    * ranked per `query_id` by the shared [[SearchPlan]] tail. */
  private def batchTopK(plan: SearchPlan, joined: DataFrame): DataFrame =
    plan.scoreTopK(joined, col("_q_vec"), col("_q_inv"), Some("query_id"))
      .select(col("query_id"), col(plan.store.idCol), col("score"))

  /** [[lshSearchBatch]]'s twin over the PERSISTED IVF layout: each
    * query's `nprobe` nearest lists are computed driver-side, the scan
    * prunes to the UNION of all probed lists (partition-directory
    * pruning — only those directories are ever read), and each row
    * joins the queries that probed ITS list through a broadcast of the
    * (query × probe) table — `B·nprobe` thin rows. Same amortization:
    * B queries, one pruned scan, bounded per-query heaps. */
  def ivfSearchBatch(
      store: VecStore,
      queries: Seq[(Long, Seq[Double])],
      k: Int,
      nprobe: Int): DataFrame = {
    val centroids = persistedCentroids(store)
    val plan = batchPlan(store, queries, k)
    val probeRows = queries.flatMap { case (qid, q) =>
      val inv = vectors.invNormOf(q)
      probeIds(centroids, q, nprobe).map(c => Row(qid, c, q, inv))
    }
    val qdf = queryTable(store, StructField("_probe", IntegerType, nullable = false),
      probeRows)
    val cl = graft.index.VecIndex.IvfClusterCol
    val allProbes = probeRows.map(_.getInt(1)).distinct
    batchTopK(plan,
      store.df
        .filter(col(cl).isin(allProbes: _*))
        .join(broadcast(qdf), col(cl) === col("_probe")))
  }

  /** Two-stage search over a PERSISTED Johnson–Lindenstrauss projection
    * (index built with `BuildOptions(rpDims = Some(dOut))`): stage 1
    * scores the slim `rp_vec` column — dOut multiply-adds per row instead
    * of dIn, the projection itself pre-paid at build exactly like
    * `inv_norm`, never recomputed in-scan — and keeps a `candK` candidate
    * pool via TakeOrderedAndProject (per-partition bounded heap, k·P
    * driver merge); stage 2 reranks ONLY the pool with exact cosine on
    * the full-precision vector column. Candidate membership is decided on
    * the QUANTIZED projected score with id tiebreak, so the pool (and
    * therefore the result) is engine-reproducible. `candK = 0` (default)
    * means `4·k`.
    *
    * TUNE BY MEASURING ([[rpRecallAtK]]), because JL's guarantee is on
    * DISTANCES, not on ranking near-ties: with `dOut` output dims the
    * distortion is ε ≈ √(ln n / dOut), and projected ORDER is meaningful
    * only where true score gaps exceed ε. Measured at sf0.1 (5k × 64→16,
    * k=10): a well-separated query recovers 0.5 recall at candK=40 →
    * 1.0 at 500, while a near-orthogonal query (all cosines ≈ 0, gaps ≪
    * ε) sits at 0.1 → 0.6 — and the loss is NOT the score rounding
    * (unrounded stage-1 measures identically); it is the projection
    * itself. When the query regime is near-orthogonal, raise `rpDims`
    * at build time rather than `candK` at query time. */
  def rpSearch(
      store: VecStore,
      q: Seq[Double],
      k: Int,
      candK: Int = 0): DataFrame = {
    val mat = store.indexMeta.flatMap(_.rpMatrix).getOrElse(
      throw new IllegalArgumentException(
        "graft: store has no persisted JL projection — build the index " +
          "with BuildOptions(rpDims = Some(...))"))
    val rpCol = graft.index.VecIndex.RpVecCol
    require(store.df.columns.contains(rpCol),
      s"graft: index has RP metadata but no persisted $rpCol column")
    require(q.length == mat.head.length,
      s"graft: query dim ${q.length} != projection input dim ${mat.head.length}")
    val pq = vectors.projectOf(q, mat)
    rerankPool(store, q, k, candK, TakeType.Max, vectors.quantize(
      vectors.score(Metric.Cosine, col(rpCol), vectors.vecLit(pq),
        queryInvNorm = Some(vectors.queryConst(vectors.invNormOf(pq)))), 4))
  }

  /** The second stage shared by [[rpSearch]], [[matryoshkaSearch]] and
    * [[binarySearch]]: pool the `candK` rows best by the `coarse` score
    * (`dir`, id tiebreak; a TakeOrderedAndProject — per-partition heaps
    * plus one merge; `candK = 0` means `4·k`, never below `k`), then
    * exact-rerank only the pool. */
  private def rerankPool(
      store: VecStore,
      q: Seq[Double],
      k: Int,
      candK: Int,
      dir: TakeType,
      coarse: Column): DataFrame = {
    val cand = math.max(k, if (candK > 0) candK else 4 * k)
    val order = dir match {
      case TakeType.Max => col("_coarse").desc
      case TakeType.Min => col("_coarse").asc
    }
    val pool = store.df
      .withColumn("_coarse", coarse)
      .orderBy(order, col(store.idCol).asc)
      .limit(cand)
    exactTopK(store, pool.drop("_coarse"), q, k)
  }

  /** Exact cosine top-k of `q` over `rows` (a pruned view of `store`),
    * scores rounded to 4 dp — the final stage of every single-query ANN
    * search, through the one [[SearchPlan]] tail. */
  private def exactTopK(
      store: VecStore, rows: DataFrame, q: Seq[Double], k: Int): DataFrame =
    store.copy(df = rows).query(q, Metric.Cosine).take(k).withScoreRounding(4).collect()

  /** Matryoshka (prefix-dimension) two-stage cosine top-k: coarse-score
    * on the FIRST `prefixDims` dimensions only, keep the top `candK`
    * candidates, exact-rerank on the full vector (Kusupati et al. 2022,
    * "Matryoshka Representation Learning" — embeddings trained so that
    * prefixes are themselves usable embeddings).
    *
    * Same two-stage shape as [[rpSearch]], but the coarse stage needs NO
    * stored auxiliary column or projection matrix: `slice` reads a
    * prefix of the already-scanned array. At 100 TB the win is
    * arithmetic (prefixDims/dim of the multiply-adds) rather than I/O —
    * Parquet stores the array as one cell, so pair this with the
    * persisted-RP index when scan bytes, not FLOPs, are the bottleneck.
    * Candidate cut is driver-free: coarse top-candK is a
    * TakeOrderedAndProject (per-partition heaps + one merge), rerank
    * scores only `candK` rows. Recall is a property of how the
    * embeddings were trained; measure it with [[recallAtK]] before
    * trusting a prefix width. */
  def matryoshkaSearch(
      store: VecStore,
      q: Seq[Double],
      k: Int,
      prefixDims: Int,
      candK: Int = 0): DataFrame = {
    require(prefixDims >= 1 && prefixDims <= q.length,
      s"graft: need 1 <= prefixDims <= ${q.length}, got $prefixDims")
    val qp = q.take(prefixDims)
    val prefix = slice(vectors.asDoubleArray(col(store.vecCol)), 1, prefixDims)
    rerankPool(store, q, k, candK, TakeType.Max, vectors.quantize(
      vectors.score(Metric.Cosine, prefix, vectors.vecLit(qp),
        queryInvNorm = Some(vectors.queryConst(vectors.invNormOf(qp)))), 4))
  }

  /** Multi-probe probe set for a query (Lv et al. 2007): the query's own
    * signature plus the `probes - 1` cheapest bit perturbations, where a
    * perturbation's cost is the summed |margin| (|q·h_j|) of its flipped
    * bits — bits the query barely cleared are the bits most likely wrong,
    * so flipping them first buys the most recall per extra bucket.
    * Perturbations are capped at 2 flipped bits (the standard practical
    * cut: 1 + nbits + nbits·(nbits−1)/2 candidates, driver-side — never
    * 2^nbits). Deterministic: cost ties break on the flip mask. */
  def lshProbeSigsOf(
      q: Seq[Double],
      t: Int,
      nbits: Int,
      probes: Int): Seq[Long] = {
    require(probes >= 1, s"graft: need probes >= 1, got $probes")
    val margins = (0 until nbits).map { j =>
      val h = hyperplane(t, j, q.length)
      math.abs(q.zip(h).foldLeft(0.0) { case (acc, (a, b)) => acc + a * b })
    }
    val sig = lshSignatureOf(q, t, nbits)
    val singles = (0 until nbits).map(j => (margins(j), 1L << j))
    val pairs = for { a <- 0 until nbits; b <- a + 1 until nbits }
      yield (margins(a) + margins(b), (1L << a) | (1L << b))
    val perturbed = (singles ++ pairs).sortBy { case (cost, mask) => (cost, mask) }
    (Seq(sig) ++ perturbed.map { case (_, mask) => sig ^ mask }).take(probes)
  }

  /** Multi-probe LSH cosine top-k: probe the query's bucket AND the
    * lowest-margin perturbed buckets ([[lshProbeSigsOf]]) — the standard
    * way to raise bucket-search recall WITHOUT more tables (more tables
    * cost signature storage and an extra band join everywhere; more
    * probes cost only extra partition reads on THIS query). On a
    * partitioned index the `IN` filter is directory-level partition
    * pruning of `probes` of the `2^nbits` buckets; on a plain store the
    * signature computes in-scan. Same metadata-validated fallback as
    * [[lshSearch]]. */
  def lshSearchMultiProbe(
      store: VecStore,
      q: Seq[Double],
      k: Int,
      nbits: Int = 6,
      probes: Int = 4,
      table: Int = 0): DataFrame = {
    val sigs = lshProbeSigsOf(q, table, nbits, probes)
    exactTopK(store,
      store.df.filter(lshBucket(store, table, nbits, q.length).isin(sigs: _*)), q, k)
  }

  /** Nearest-centroid assignment: adds `cluster_id` = argmin squared-L2
    * over the (small, broadcast) centroid table. Ties break on the lower
    * centroid id. In production this runs once at index build and the
    * store is written partitioned by `cluster_id`. */
  def ivfAssign(
      df: DataFrame,
      centroids: Seq[(Int, Seq[Double])],
      vecCol: String = "embedding"): DataFrame = {
    val v = col(vecCol)
    // Argmin over literal centroids with no join and no shuffle: one
    // distances array, then index-of-first-minimum. (A nested
    // when(d_b < d_a, ...) fold would duplicate every distance subtree at
    // each step — exponential expression size; the array form is linear.)
    // First minimum = lowest centroid id on ties, matching ORDER BY d, cid.
    val dists = array(centroids.map { case (_, cvec) =>
      vectors.l2Squared(v, vectors.vecLit(cvec))
    }: _*)
    val cids = array(centroids.map { case (cid, _) => lit(cid) }: _*)
    df.withColumn("_dists", dists)
      .withColumn(graft.index.VecIndex.IvfClusterCol,
        element_at(cids, array_position(col("_dists"), array_min(col("_dists"))).cast("int")))
      .drop("_dists")
  }

  /** Embedding-space DRIFT between two corpora — the embedding analog of
    * [[graft.ops.text.corpusDivergence]]: cosine between the corpus
    * centroids and the squared L2 centroid shift, the two numbers a
    * corpus-version diff or source-mix monitor watches ("did this crawl
    * move in embedding space?").
    *
    * Determinism: per-dimension coordinate sums are quantized to 1e-6
    * fixed point and summed as LONGS (exact, order-free — the
    * [[graft.ops.text.unigramLogProb]] discipline), means divide once in
    * doubles, and the cross-dimension reductions (dot, norms, shift) are
    * THEMSELVES fixed-point long sums, so the only libm is the final
    * sqrt pair — same IEEE form in the oracle. Dims ride a posexplode
    * (rows × dim thin pairs, map-side combined to `dim` rows per side
    * before the exchange); each corpus is scanned once.
    *
    * Returns one row `(n_a, n_b, cos, l2_shift)`, quantized floor-4dp. */
  /** Per-dimension embedding health stats — the dead-dim / collapsed-dim
    * screen run before trusting any projection, quantization, or prefix
    * (matryoshka) decision: a dimension with `var_milli2` ≈ 0 carries no
    * signal and is free to drop; `n_zero` ≈ n flags hard zeros
    * (ReLU-dead or masked features). All exact integers in 1e-3 fixed
    * point: `sum_milli` is the signed exact sum (mean = sum/n downstream
    * — signed integer division is an engine trap, so no quotient here),
    * `var_milli2 = (n·Σx² − (Σx)²) DIV n²` whose numerator is
    * non-negative by Cauchy-Schwarz, so the one quotient taken is safe.
    *
    * Plan shape: posexplode is scan-side row-local work, then ONE
    * (dim)-keyed hash aggregation — `dim` groups total, corpus-linear.
    * Overflow: Σ(x_milli)² stays in BIGINT below ~9e12 rows per dim at
    * |x| ≤ 1 — beyond that, sample first (it's a meter). Returns
    * `(dim, n, n_zero, sum_milli, var_milli2)`. */
  def dimStats(
      df: DataFrame,
      vecCol: String = "embedding"): DataFrame =
    df.where(col(vecCol).isNotNull)
      .select(posexplode(col(vecCol).cast("array<double>"))
        .as(Seq("dim", "_x")))
      .select(col("dim").cast("long").as("dim"),
        floor(col("_x") * 1000.0).cast("long").as("_xm"), col("_x"))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("_x") === 0.0, 1L).otherwise(0L)).as("n_zero"),
        sum(col("_xm")).as("sum_milli"),
        sum(col("_xm") * col("_xm")).as("_sq"))
      .select(col("dim"), col("n"), col("n_zero"), col("sum_milli"),
        expr("(n * _sq - sum_milli * sum_milli) DIV (n * n)")
          .as("var_milli2"))

  def centroidDrift(
      a: DataFrame,
      b: DataFrame,
      vecCol: String = "embedding"): DataFrame = {
    def dimSums(df: DataFrame, tag: String) =
      df.select(posexplode(col(vecCol)).as(Seq("pos", "_v")))
        .groupBy(col("pos"))
        .agg(sum(floor(col("_v").cast("double") * 1.0e6).cast("long"))
          .as(s"q_$tag"), count(lit(1)).as(s"n_$tag"))
    val j = dimSums(a, "a").join(dimSums(b, "b"), "pos")
    val ma = col("q_a").cast("double") / 1.0e6 / col("n_a").cast("double")
    val mb = col("q_b").cast("double") / 1.0e6 / col("n_b").cast("double")
    val q4 = (c: Column) => floor(c * 10000.0 + 0.5) / 10000.0
    j.select(col("n_a"), col("n_b"),
        floor(ma * mb * 1.0e6).cast("long").as("qd"),
        floor(ma * ma * 1.0e6).cast("long").as("qna"),
        floor(mb * mb * 1.0e6).cast("long").as("qnb"),
        floor((ma - mb) * (ma - mb) * 1.0e6).cast("long").as("qs"))
      .groupBy(col("n_a"), col("n_b"))
      .agg(sum(col("qd")).as("d"), sum(col("qna")).as("na"),
        sum(col("qnb")).as("nb"), sum(col("qs")).as("s"))
      .select(col("n_a"), col("n_b"),
        q4(col("d").cast("double") / 1.0e6 /
          (sqrt(col("na").cast("double") / 1.0e6)
            * sqrt(col("nb").cast("double") / 1.0e6))).as("cos"),
        q4(col("s").cast("double") / 1.0e6).as("l2_shift"))
  }

  /** Deterministic stand-in for trained centroids: the embeddings of the
    * `k` lowest ids. A real pipeline would k-means; the engine contract
    * (assignment + probe plan) is identical. */
  def seedCentroids(
      df: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Seq[(Int, Seq[Double])] =
    df.orderBy(col(idCol)).limit(k)
      .select(col(vecCol).cast("array<double>")).collect()
      .zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Double](0).toIndexedSeq: Seq[Double]) }
      .toIndexedSeq

  /** Deterministic Lloyd's k-means over the embedding column: init from
    * [[seedCentroids]], `iters` fixed iterations of assign → per-cluster
    * mean. Each iteration is one scan + one k-group aggregation; only the
    * k centroid rows ever reach the driver, so the trainer scales with
    * partitions like everything else. Empty clusters keep their previous
    * centroid (deterministic, no re-seeding RNG). */
  def kmeans(
      df: DataFrame,
      k: Int,
      iters: Int = 5,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Seq[(Int, Seq[Double])] = {
    var centroids = seedCentroids(df, k, idCol, vecCol)
    val dim = centroids.head._2.length
    (0 until iters).foreach { _ =>
      val dims = (0 until dim).map(i =>
        avg(col(vecCol).getItem(i).cast("double")).as(s"c$i"))
      val means = ivfAssign(df, centroids, vecCol)
        .groupBy(col("cluster_id"))
        .agg(dims.head, dims.tail: _*)
        .collect()
        .map(r => r.getInt(0) -> ((1 to dim).map(r.getDouble).toIndexedSeq: Seq[Double]))
        .toMap
      centroids = centroids.map { case (cid, old) => (cid, means.getOrElse(cid, old)) }
    }
    centroids
  }

  /** The `nprobe` centroid ids nearest to `q` by squared L2 (ties →
    * lowest id) — the driver-side probe-list selection both IVF search
    * forms share. */
  private def probeIds(
      centroids: Seq[(Int, Seq[Double])], q: Seq[Double], nprobe: Int): Seq[Int] =
    centroids
      .map { case (cid, cvec) =>
        val d = cvec.zip(q).foldLeft(0.0) { case (acc, (a, b)) => acc + (a - b) * (a - b) }
        (cid, d)
      }
      .sortBy { case (cid, d) => (d, cid) }
      .take(nprobe).map(_._1)

  /** IVF cosine top-k over a PLAIN store (no persisted assignment):
    * assigns every row in-scan, then scores the probed clusters. Correct
    * but full-scan cost — the ad-hoc/backfill form. Production queries
    * use [[ivfSearchIndexed]] over an index built with
    * `BuildOptions(ivfCentroids = ...)`, where probing is partition
    * pruning and non-probed lists are never read. */
  def ivfSearch(
      store: VecStore,
      centroids: Seq[(Int, Seq[Double])],
      q: Seq[Double],
      k: Int,
      nprobe: Int): DataFrame = {
    val probed = probeIds(centroids, q, nprobe)
    val assigned = ivfAssign(store.df, centroids, store.vecCol)
    exactTopK(store,
      assigned.filter(col("cluster_id").isin(probed: _*)).drop("cluster_id"), q, k)
  }

  /** IVF cosine top-k over an index built with
    * `BuildOptions(ivfCentroids = ...)`: assignment already happened at
    * build time, the layout is partitioned by `cluster_id`, and the
    * centroids ride in the index metadata — so the probe filter becomes
    * directory-level PARTITION PRUNING and only the `nprobe` probed
    * lists are ever read (asserted in AnnSpec). This is IVF's entire
    * point and the 100 TB path. */
  def ivfSearchIndexed(
      store: VecStore,
      q: Seq[Double],
      k: Int,
      nprobe: Int): DataFrame = {
    val probed = probeIds(persistedCentroids(store), q, nprobe)
    val cl = graft.index.VecIndex.IvfClusterCol
    exactTopK(store, store.df.filter(col(cl).isin(probed: _*)).drop(cl), q, k)
  }

  /** The build-time IVF centroids an index persisted in its metadata. */
  private def persistedCentroids(store: VecStore): Seq[(Int, Seq[Double])] =
    store.indexMeta.flatMap(_.ivfCentroids).getOrElse(
      throw new IllegalArgumentException(
        "graft: store has no persisted IVF centroids — build the index " +
          "with BuildOptions(ivfCentroids = Some(...)), or use ivfSearch " +
          "on a plain store"))

  /** IVF-PQ search (the FAISS-style serving layout, Jégou et al. 2011)
    * over an index built with BOTH `ivfCentroids` and `pqCodebooks`:
    * probing prunes partition directories (only `nprobe` of the lists are
    * ever read), and scoring is ADC over the PERSISTED `pq_code` column —
    * m small ints per row; the float vector column is never read. This is
    * the compounding 100 TB path: read fraction ≈ nprobe/k_lists, and
    * bytes-per-row-read cut ~64× on top of it. Returns approximate-dot
    * top-k; rerank the pool against the f32 column when exactness at the
    * head matters (same two-phase shape as [[lshSearch]]). */
  def ivfPqSearch(
      store: VecStore,
      q: Seq[Double],
      k: Int,
      nprobe: Int): DataFrame = {
    val centroids = persistedCentroids(store)
    val cbs = store.indexMeta.flatMap(_.pqCodebooks).getOrElse(
      throw new IllegalArgumentException(
        "graft: IVF-PQ needs BuildOptions(pqCodebooks = Some(...)) at build time"))
    val (cl, pq) = (graft.index.VecIndex.IvfClusterCol, graft.index.VecIndex.PqCodeCol)
    require(store.df.columns.contains(pq),
      s"graft: index has PQ metadata but no persisted $pq column")
    val probed = probeIds(centroids, q, nprobe)
    graft.ops.quant.pqSearchDot(store.df.filter(col(cl).isin(probed: _*)),
      cbs, q, k, store.idCol)
      .drop(cl)
  }

  /** Per-label centroid of an embedding column, in long form
    * `(label, pos, mean)` — class prototypes for classification-by-
    * nearest-centroid, cluster drift checks, and seeding [[kmeans]].
    *
    * Determinism at scale: a plain `avg` of doubles depends on partition
    * merge order (last-ulp drift between runs and engines), so components
    * are quantized to 1e-7 fixed point and summed as LONGS — exact,
    * associative, order-free — then divided once. The shuffle is keyed on
    * (label, dim-position): labels × dim cells, each pre-collapsed by
    * map-side combine, so exchange volume is O(labels · dim · partitions),
    * independent of row count. */
  def labelCentroids(
      df: DataFrame,
      labelCol: String = "label",
      vecCol: String = "embedding"): DataFrame =
    df.select(col(labelCol), posexplode(col(vecCol).cast("array<double>")).as(Seq("pos", "v")))
      .groupBy(col(labelCol), col("pos"))
      .agg(sum(floor(col("v") * 1.0e7).cast("long")).as("q"), count(lit(1)).as("n"))
      .select(col(labelCol), col("pos"),
        (col("q").cast("double") / (lit(1.0e7) * col("n"))).as("mean"), col("n"))

  /** Simplified silhouette — the clustering-quality meter over labeled
    * (or k-means-assigned) embeddings, centroid-based (Rousseeuw 1987's
    * full silhouette needs all pairwise distances, O(n²) and dead at
    * scale; the centroid form is the standard large-data surrogate):
    * per point, `a` = L2 distance to its OWN label's centroid, `b` =
    * distance to the nearest OTHER centroid, `s = (b − a)/max(a, b)`;
    * returned per label as `(label, n, silhouette)` with the mean `s`
    * quantized floor-4dp. Near +1 = compact and separated; near 0 =
    * touching clusters; negative = points closer to a foreign centroid
    * (mislabeled mass — route to [[labelNoiseScreen]]).
    *
    * Scale shape: centroids are the [[labelCentroids]] fixed-point
    * means — a labels×dims collect, same driver-bounded discipline as
    * PQ codebooks — baked into ONE projection as literal vectors, so
    * the whole meter is a single corpus scan (k distance kernels per
    * row, zero joins) plus one label-keyed aggregate whose mean rides
    * exact `floor(s·1e7)` longs (order-free, partition-free). */
  def silhouetteSimplified(
      df: DataFrame,
      labelCol: String = "label",
      vecCol: String = "embedding"): DataFrame = {
    val cents = labelCentroids(df, labelCol, vecCol)
      .select(col(labelCol).cast("long").as("l"), col("pos"), col("mean"))
      .collect()
      .groupBy(_.getLong(0))
      .map { case (l, rows) =>
        l -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq }
      .toSeq.sortBy(_._1)
    require(cents.size >= 2,
      s"graft: silhouette needs >= 2 labels, got ${cents.size}")
    require(cents.size <= 4096,
      s"graft: ${cents.size} label centroids exceed the literal-scan bound")
    val e = vectors.asDoubleArray(col(vecCol))
    val lbl = col(labelCol).cast("long")
    val dists = cents.map { case (l, c) =>
      l -> sqrt(vectors.l2Squared(e, vectors.vecLit(c))) }
    val own = dists.map { case (l, d) => when(lbl === l, d) }
      .reduce((x, y) => coalesce(x, y))
    // least() skips nulls: each branch nulls its own label's distance
    val other = least(dists.map { case (l, d) =>
      when(lbl =!= l, d) }: _*)
    val s = when(greatest(own, other) > 0.0,
      (other - own) / greatest(own, other)).otherwise(lit(0.0))
    df.where(col(vecCol).isNotNull)
      .select(col(labelCol), floor(s * 1.0e7).cast("long").as("_sq"))
      .groupBy(col(labelCol))
      .agg(count(lit(1)).as("n"), sum(col("_sq")).as("_q"))
      .select(col(labelCol), col("n"),
        vectors.quantize(
          col("_q").cast("double") / (lit(1.0e7) * col("n")), 4)
          .as("silhouette"))
  }

  /** Measured recall@k of the LSH bucket search against the exact scan,
    * per query: `|approx top-k ∩ exact top-k| / k`. This is the tuning
    * loop for `nbits` — the number a user checks before trading scan
    * fraction (~1/2^nbits) for recall at 100 TB. The exact side is a
    * full-scan TakeOrderedAndProject (ground truth is inherently a scan —
    * run the measurement on a sampled store in production); both sides
    * are k-row subplans, so the intersection join broadcasts and each
    * query adds one tiny one-row aggregate, unioned at the end. */
  def recallAtK(
      store: VecStore,
      queries: Seq[Seq[Double]],
      k: Int,
      nbits: Int = 6,
      table: Int = 0): DataFrame =
    recallOf(store, queries, k)((st, q) => lshSearch(st, q, k, nbits, table))

  /** [[recallAtK]] for a persisted IVF index — the `nprobe` tuning loop
    * (probe fewer lists → read less, recall drops; this measures by how
    * much). */
  def ivfRecallAtK(
      store: VecStore,
      queries: Seq[Seq[Double]],
      k: Int,
      nprobe: Int): DataFrame =
    recallOf(store, queries, k)((st, q) => ivfSearchIndexed(st, q, k, nprobe))

  /** [[recallAtK]] for a persisted JL projection ([[rpSearch]]) — the
    * `candK` tuning loop: a smaller pool reranks less but can miss true
    * top-k members whose projected rank fell below the cut; this
    * MEASURES the miss rate instead of arguing about it (the same
    * knob-measurement discipline as `nprobe`/`nbits`). */
  def rpRecallAtK(
      store: VecStore,
      queries: Seq[Seq[Double]],
      k: Int,
      candK: Int = 0): DataFrame =
    recallOf(store, queries, k)((st, q) => rpSearch(st, q, k, candK))

  /** Embedding outliers: distance to the NEAREST of the given centroids,
    * largest first — the out-of-distribution detector a data-cleaning
    * pipeline runs over an embedded corpus (mislabeled scrapes, encoding
    * garbage, and off-topic documents sit far from every cluster center).
    * Adds `centroid_dist` (squared L2, quantized 4dp). Pure scan + one
    * TakeOrderedAndProject: the argmin is the same literal-centroid
    * expression as [[ivfAssign]] (no join, no shuffle), so this costs one
    * pass at any corpus size. */
  def centroidOutliers(
      df: DataFrame,
      centroids: Seq[(Int, Seq[Double])],
      topN: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val dists = array(centroids.map { case (_, cvec) =>
      vectors.l2Squared(col(vecCol), vectors.vecLit(cvec))
    }: _*)
    df.withColumn("centroid_dist", vectors.quantize(array_min(dists), 4))
      .orderBy(col("centroid_dist").desc, col(idCol))
      .limit(topN)
  }

  /** Approximate k-nearest-neighbor GRAPH: for every vector, its top-`k`
    * most-cosine-similar neighbors among the vectors sharing an LSH
    * bucket (any of `tables` sign-bit signatures). The primitive under
    * SemDeDup-style clustering, kNN-graph community detection, and
    * "find me training examples like these" curation.
    *
    * Plan shape (the same thin-row discipline as
    * [[dedup.embeddingNearDupPairs]]): banding, bucket-cap gating and the
    * candidate self-join all carry (id, table, key) rows only — the
    * embeddings never ride the pair shuffle; vectors join back by id for
    * scoring. The per-source top-k is the rank-filter idiom, so Spark
    * plans a WindowGroupLimit: each task keeps a bounded per-source heap
    * and only ~k rows per source cross the final shuffle.
    *
    * 100 TB: candidate volume is bounded by `bucketCap` (oversized
    * buckets drop, counted on the `graft_knn_graph` observation — the
    * trade recall-for-bound knob every production LSH join has); width
    * `nbits` should grow with log2(n) so buckets stay sparse. Scores are
    * rounded to `scoreDecimals` BEFORE ranking so rank order is
    * reproducible across engines and runs; `dst` breaks remaining ties. */
  def knnGraph(
      df: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      dim: Int = 64,
      tables: Int = 1,
      nbits: Int = 6,
      bucketCap: Int = 4096,
      scoreDecimals: Int = 4): DataFrame =
    knnJoinImpl(df, df, excludeSelf = true, k, idCol, vecCol, dim, tables,
      nbits, bucketCap, scoreDecimals)

  /** Two-corpus approximate kNN JOIN: for every LEFT vector, its top-`k`
    * most-cosine-similar RIGHT vectors among those sharing an LSH bucket
    * — the "link two datasets by embedding" primitive (match queries to
    * passages, new batch to reference corpus, product to catalog). Same
    * thin-row/bucket-cap/rank-on-rounded-score discipline as
    * [[knnGraph]], which is exactly this join of a corpus with itself
    * (minus self-pairs). Sides are treated as DISJOINT inputs: ids may
    * overlap and pairs are not excluded — callers joining a subset
    * against its superset should pre-filter. */
  def knnJoin(
      left: DataFrame,
      right: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      dim: Int = 64,
      tables: Int = 1,
      nbits: Int = 6,
      bucketCap: Int = 4096,
      scoreDecimals: Int = 4): DataFrame =
    knnJoinImpl(left, right, excludeSelf = false, k, idCol, vecCol, dim,
      tables, nbits, bucketCap, scoreDecimals)

  /** Hard-negative mining for contrastive training: for every vector,
    * its top-`k` most-cosine-similar neighbors whose `labelCol`
    * DIFFERS — the "semantically close but actually different" examples
    * a bi-encoder/reranker trains against (in-batch negatives are easy;
    * these are the informative ones). [[knnGraph]] with the
    * label-mismatch gate applied BEFORE the per-source rank, so the k
    * negatives are the top among different-label candidates, not a
    * post-filter of the overall top-k (which could return fewer than k
    * when near neighbors share the label). Same thin-row / bucket-cap /
    * rank-on-rounded-score discipline; the label gate joins two
    * (id, label) thin tables onto the candidate pairs. */
  def hardNegatives(
      df: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      labelCol: String = "label",
      dim: Int = 64,
      tables: Int = 1,
      nbits: Int = 6,
      bucketCap: Int = 4096,
      scoreDecimals: Int = 4): DataFrame =
    knnJoinImpl(df, df, excludeSelf = true, k, idCol, vecCol, dim, tables,
      nbits, bucketCap, scoreDecimals, negLabelCol = Some(labelCol))

  /** Margin-based pair mining (Artetxe & Schwenk 2019, the
    * CCMatrix/NLLB bitext-mining score): for every forward kNN
    * candidate `(x, y)`, the RATIO margin
    * `cos(x,y) / ((avgNN_k(x→tgt) + avgNN_k(y→src)) / 2)` — cosine
    * normalized by both endpoints' neighborhood density, so hubs
    * (vectors close to everything) stop flooding the mined set; pairs
    * with `margin ≥ threshold` (≥ 1 = "closer than both neighborhoods'
    * average") are the mined alignments. The standard op for mining
    * parallel text / aligned pairs across two embedded corpora.
    *
    * EXACT-INTEGER margin: each kNN cosine is already rounded to 4 dp
    * ([[knnJoin]]'s rank-on-rounded-score discipline), so its q4 LONG
    * recovers exactly and the margin clears denominators to
    * `margin_num = cos_q4·2·k_f·k_b`, `margin_den = Σf_q4·k_b +
    * Σb_q4·k_f` — exact longs (|num| ≤ 10⁴·2k², far inside int64),
    * one quantized double division at the readout. Neighborhoods
    * smaller than k (bucket misses) use their ACTUAL counts — the
    * standard estimator.
    *
    * Scale shape: two [[knnJoin]] passes (thin-row banded candidates,
    * bucket caps, WindowGroupLimit per-source heaps) + two
    * source-keyed k-row aggregates + one join of thin (id, sum, count)
    * tables back onto the forward pair set. Nothing beyond the kNN
    * joins' own discipline; embeddings never ride the margin stage.
    *
    * Returns `(src, dst, cos, margin_num, margin_den, margin_q6)` for
    * pairs with `margin_q6 ≥ threshold`. */
  def marginMine(
      src: DataFrame,
      tgt: DataFrame,
      k: Int = 4,
      threshold: Double = 1.0,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      dim: Int = 64,
      tables: Int = 1,
      nbits: Int = 6,
      bucketCap: Int = 4096): DataFrame = {
    val fwd = knnJoinImpl(src, tgt, excludeSelf = false, k, idCol, vecCol,
      dim, tables, nbits, bucketCap, 4, obsPrefix = "graft_margin_fwd")
    val bwd = knnJoinImpl(tgt, src, excludeSelf = false, k, idCol, vecCol,
      dim, tables, nbits, bucketCap, 4, obsPrefix = "graft_margin_bwd")
    // cos is a q4-rounded double; floor(·1e4 + 0.5) recovers the exact
    // integer, so the neighborhood sums fold as exact longs
    def cq4(c: Column): Column = floor(c * 1e4 + 0.5).cast("long")
    val fa = fwd.groupBy(col("src"))
      .agg(sum(cq4(col("cos"))).as("_sf"), count(lit(1)).as("_kf"))
    val ba = bwd.groupBy(col("src"))
      .agg(sum(cq4(col("cos"))).as("_sb"), count(lit(1)).as("_kb"))
      .withColumnRenamed("src", "dst")
    fwd.join(fa, "src").join(ba, "dst")
      .withColumn("margin_num", cq4(col("cos")) * 2L * col("_kf") * col("_kb"))
      .withColumn("margin_den", col("_sf") * col("_kb") + col("_sb") * col("_kf"))
      .withColumn("margin_q6", when(col("margin_den") =!= 0L,
        vectors.quantize(col("margin_num").cast("double")
          / col("margin_den").cast("double"), 6)))
      .where(col("margin_q6") >= threshold)
      .select(col("src"), col("dst"), col("cos"),
        col("margin_num"), col("margin_den"), col("margin_q6"))
  }

  private def knnJoinImpl(
      left: DataFrame,
      right: DataFrame,
      excludeSelf: Boolean,
      k: Int,
      idCol: String,
      vecCol: String,
      dim: Int,
      tables: Int,
      nbits: Int,
      bucketCap: Int,
      scoreDecimals: Int,
      negLabelCol: Option[String] = None,
      // observation names must be unique per query plan; a caller
      // composing TWO joins in one plan ([[marginMine]]) passes
      // distinct prefixes
      obsPrefix: String = "graft_knn"): DataFrame = {
    require(k >= 1, s"graft: knn join needs k >= 1, got $k")
    def sigsOf(df: DataFrame) = df.select(
      (Seq(col(idCol), col(vecCol)) ++
        (0 until tables).map(t =>
          lshSignature(col(vecCol), t, nbits, dim).as(s"sig$t"))): _*)
      .withColumn("inv", vectors.invNorm(col(vecCol)))
    // Each side is gated by its OWN bucket-size cap: a hot bucket on
    // either side multiplies candidates, so per-bucket pair count stays
    // <= cap^2 regardless of which side is skewed.
    def bandedOf(sigs: DataFrame, tag: String) = {
      val banded = sigs.select(col(idCol),
          explode(array((0 until tables).map(t =>
            struct(lit(t).as("t"), col(s"sig$t").as("key"))): _*)).as("b"))
        .select(col(idCol), col("b.t").as("t"), col("b.key").as("key"))
      val allowed = banded
        .groupBy(col("t"), col("key"))
        .agg(count(lit(1)).as("bucket_sz"))
        .observe(s"${obsPrefix}_$tag",
          sum(when(col("bucket_sz") > bucketCap, 1L).otherwise(0L)).as("dropped_buckets"),
          max(col("bucket_sz")).as("max_bucket"))
        .where(col("bucket_sz") <= bucketCap)
        .select(col("t"), col("key"))
      banded.join(allowed, Seq("t", "key"))
    }
    val (ls, rs) = (sigsOf(left), sigsOf(right))
    // DIRECTED pairs: a neighbor list is per-source, unlike the near-dup
    // pair set's unordered id_a < id_b.
    val pairCond =
      col("a.t") === col("b.t") && col("a.key") === col("b.key") &&
        (if (excludeSelf) col(s"a.$idCol") =!= col(s"b.$idCol") else lit(true))
    val cands0 = bandedOf(ls, "left").as("a")
      .join(bandedOf(rs, "right").as("b"), pairCond)
      .select(col(s"a.$idCol").as("src"), col(s"b.$idCol").as("dst"))
      .distinct()
    // optional hard-negative gate: drop same-label pairs BEFORE ranking,
    // via thin (id, label) joins — labels never ride the pair shuffle
    val cands = negLabelCol match {
      case Some(lc) =>
        cands0
          .join(left.select(col(idCol).as("src"), col(lc).as("_lbl_s")), "src")
          .join(right.select(col(idCol).as("dst"), col(lc).as("_lbl_d")), "dst")
          .where(col("_lbl_s") =!= col("_lbl_d"))
          .select(col("src"), col("dst"))
      case None => cands0
    }
    val va = ls.select(col(idCol).as("src"), col(vecCol).as("vs"), col("inv").as("inv_s"))
    val vb = rs.select(col(idCol).as("dst"), col(vecCol).as("vd"), col("inv").as("inv_d"))
    cands.join(va, "src").join(vb, "dst")
      .withColumn("cos",
        vectors.quantize(
          vectors.dotProduct(col("vs"), col("vd")) * col("inv_s") * col("inv_d"),
          scoreDecimals))
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("src")).orderBy(col("cos").desc, col("dst"))))
      .where(col("rnk") <= k)
      .select(col("src"), col("dst"), col("cos"), col("rnk"))
  }

  /** Recall@k of ANY approximate search against the exact scan — the
    * shared harness behind [[recallAtK]] and [[ivfRecallAtK]]. */
  def recallOf(store: VecStore, queries: Seq[Seq[Double]], k: Int)(
      approx: (VecStore, Seq[Double]) => DataFrame): DataFrame = {
    require(queries.nonEmpty, "graft: recall needs at least one query")
    require(k >= 1, s"graft: recall needs k >= 1, got $k")
    queries.zipWithIndex.map { case (q, i) =>
      val exact = exactTopK(store, store.df, q, k).select(col(store.idCol))
      val approxIds = approx(store, q).select(col(store.idCol))
      exact.join(approxIds, Seq(store.idCol))
        .agg(count(lit(1)).as("hits"))
        .select(lit(i).as("q_idx"), col("hits"),
          (col("hits") / lit(k.toDouble)).as("recall"))
    }.reduce(_ union _).orderBy(col("q_idx"))
  }

  /** Recall@k of [[matryoshkaSearch]] against the exact scan — run this
    * before trusting a prefix width: matryoshka recall is a property of
    * how the embeddings were trained, not of the algorithm. */
  def matryoshkaRecallAtK(
      store: VecStore,
      queries: Seq[Seq[Double]],
      k: Int,
      prefixDims: Int,
      candK: Int = 0): DataFrame =
    recallOf(store, queries, k)((st, q) =>
      matryoshkaSearch(st, q, k, prefixDims, candK))

  /** Binary-quantization serving (the sign-bit codes of
    * [[graft.functions.vectors.signBitsPacked]], the scheme behind
    * "binary embeddings": Charikar 2002 hyperplane rounding at the
    * coordinate axes): coarse stage scans 63-bit PACKED words — one XOR
    * + popcount per 63 dims, a 16× scan-byte reduction at 64 dims —
    * pools the `candK` Hamming-closest rows, and an exact cosine rerank
    * orders the final `k`. Same two-stage contract as
    * [[matryoshkaSearch]], both stages bounded top-k
    * (TakeOrderedAndProject), no shuffle beyond them.
    *
    * On a 100 TB corpus the packed codes are what you PERSIST (16
    * bytes/row vs 256); here they're derived in-scan from the float
    * column so the query stays self-contained — the kernel and its
    * candidate math are identical either way. */
  def binarySearch(
      store: VecStore,
      q: Seq[Double],
      k: Int,
      dim: Int = 64,
      candK: Int = 0): DataFrame = {
    require(k >= 1, s"graft: binarySearch needs k >= 1, got $k")
    rerankPool(store, q, k, candK, TakeType.Min, vectors.hammingPacked(
      vectors.signBitsPacked(col(store.vecCol), dim),
      vectors.longArrayLit(vectors.signBitsPackedOf(q))))
  }

  /** Recall@k of [[binarySearch]] against the exact scan — the
    * is-1-bit-enough meter to run before persisting sign-bit codes:
    * binary recall is a property of how the embedding space uses its
    * signs, not of the algorithm. */
  def binaryRecallAtK(
      store: VecStore,
      queries: Seq[Seq[Double]],
      k: Int,
      dim: Int = 64,
      candK: Int = 0): DataFrame =
    recallOf(store, queries, k)((st, q) =>
      binarySearch(st, q, k, dim, candK))

  /** Label-noise screen via kNN label disagreement (Confident-Learning-
    * adjacent, the kNN form: Zhu et al. 2022 "Detecting Corrupted
    * Labels Without Training a Model to Predict"): a point whose
    * embedding neighbors mostly carry a DIFFERENT label is either
    * mislabeled or sits on a class boundary — either way it's what a
    * label-audit queue should read first. Returns the `topN` most
    * disagreeing points as `(id, n_nb, n_mismatch, mismatch_bp)` with
    * the rate in integer basis points (engine-portable, no float
    * division).
    *
    * Built ON [[knnGraph]] — the edge list is the expensive part and
    * shares its bucket-cap discipline; this adds two thin label joins
    * (id → label, both sides keyed on unique ids) and one per-source
    * count — nothing here outgrows the graph itself. Null labels
    * compare as no-mismatch on both engines (three-valued `<>` drops
    * to 0 under the sum). */
  def labelNoise(
      df: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      labelCol: String = "label",
      dim: Int = 64,
      tables: Int = 1,
      nbits: Int = 6,
      bucketCap: Int = 4096,
      topN: Int = 50): DataFrame = {
    require(topN >= 1, s"graft: labelNoise needs topN >= 1, got $topN")
    labelNoiseFromEdges(
      knnGraph(df, k, idCol, vecCol, dim, tables, nbits, bucketCap)
        .select(col("src"), col("dst")),
      df.select(col(idCol), col(labelCol)), idCol, labelCol, topN)
  }

  /** [[labelNoise]] over an ALREADY-BUILT edge table — the production
    * path: the kNN graph is the expensive artifact and gets persisted
    * once, then every audit (noise, communities, centrality) reads it. */
  def labelNoiseFromEdges(
      edges: DataFrame,
      labels: DataFrame,
      idCol: String = "vec_id",
      labelCol: String = "label",
      topN: Int = 50): DataFrame = {
    require(topN >= 1, s"graft: labelNoiseFromEdges needs topN >= 1, got $topN")
    val lab = labels.select(col(idCol), col(labelCol))
    edges.select(col("src"), col("dst"))
      .join(lab.select(col(idCol).as("src"), col(labelCol).as("_l_src")), "src")
      .join(lab.select(col(idCol).as("dst"), col(labelCol).as("_l_dst")), "dst")
      .groupBy(col("src"))
      .agg(count(lit(1)).as("n_nb"),
        sum(when(col("_l_src") =!= col("_l_dst"), 1L).otherwise(0L))
          .as("n_mismatch"))
      .where(col("n_mismatch") > 0)
      .withColumn("mismatch_bp", expr("n_mismatch * 10000 DIV n_nb"))
      .select(col("src").as(idCol), col("n_nb"), col("n_mismatch"),
        col("mismatch_bp"))
      .orderBy(col("mismatch_bp").desc, col(idCol))
      .limit(topN)
  }

  /** Greedy k-center (farthest-point) coreset selection, Gonzalez 1985:
    * seed with the lowest-id vector, then `k−1` rounds of "pick the
    * point farthest from its nearest already-chosen center" — the
    * classic 2-approximation for max-coverage diversity, used to pick
    * maximally-spread exemplars / eval probes from an embedding corpus
    * (complementary to [[graft.ops.sample.mmr]]-style relevance-diversity
    * and to [[kmeans]]' mass-seeking centroids: k-center chases the
    * FRINGE).
    *
    * Distributed shape: each round is one full scan — distances to the
    * ≤k chosen centers are LITERAL arrays riding the plan (no join, no
    * shuffle), the round's winner is a TakeOrderedAndProject of ONE row.
    * k driver-side single-row collects total, k·n·k distance evals —
    * for the k ≤ ~64 coreset regime the stateless recompute beats
    * carrying a running-min column through k checkpoints. Distances are
    * quantized (4 dp) BEFORE the argmax with id tiebreak, so the greedy
    * trajectory is engine-reproducible — the DuckDB oracle replays every
    * round as an unrolled CTE and must pick the identical centers.
    *
    * Returns one row per round: `(round, center_id, dist_sq)` where
    * `dist_sq` is the squared L2 from the chosen point to its nearest
    * prior center (0 for the seed) — the standard k-center radius curve
    * (reading it tells you when extra centers stop buying coverage). */
  def kCenterSelect(
      df: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && k <= 64,
      s"graft: kCenterSelect is the bounded-k coreset tool — need 1 <= k <= 64, got $k")
    val spark = df.sparkSession
    import spark.implicits._
    val v = vectors.asDoubleArray(col(vecCol))
    val seedRow = df.select(col(idCol).cast("long"), v)
      .orderBy(col(idCol)).limit(1).collect()(0)
    var centers = Vector((seedRow.getLong(0), seedRow.getSeq[Double](1).toSeq, 0.0))
    while (centers.size < k) {
      val minDist = centers.map { case (_, cv, _) =>
        vectors.quantize(vectors.l2Squared(v, vectors.vecLit(cv)), 4)
      }.reduce(least(_, _))
      val w = df.select(col(idCol).cast("long"), v, minDist.as("_d"))
        .orderBy(col("_d").desc, col(idCol).asc).limit(1).collect()(0)
      centers :+= ((w.getLong(0), w.getSeq[Double](1).toSeq, w.getDouble(2)))
    }
    centers.zipWithIndex
      .map { case ((id, _, d), r) => (r, id, d) }
      .toDF("round", "center_id", "dist_sq")
  }

  /** Chunk→document embedding rollup: mean-pool the chunk vectors of
    * each document into one document vector — the standard long-doc
    * retrieval shape (embed overlapping chunks, pool to doc level for
    * the coarse index, keep chunks for rerank). Means are computed in
    * 1e-6 FIXED POINT: each component is floored to micro-units, summed
    * exactly as BIGINT, divided by the chunk count, and surfaced as an
    * r4-rounded double — so the pooled vector is bit-identical on any
    * engine and any partitioning (a float mean depends on reduction
    * order; GraftProperties pins partition invariance for exactly this
    * reason elsewhere).
    *
    * Plan shape: posexplode to (doc, dim) — row-local, the expansion is
    * scan-side CPU — then ONE (doc, dim)-keyed exact sum and one
    * doc-keyed reassembly whose per-group state is `dim` entries,
    * bounded by construction. Works on ragged inputs but expects equal
    * dims (the usual contract); NULL vectors are skipped.
    *
    * Returns `(docCol, n_chunks, pooled)` with `pooled` ordered by
    * component index. */
  def poolEmbeddings(
      df: DataFrame,
      docCol: String,
      vecCol: String = "embedding"): DataFrame = {
    val exploded = df
      .where(col(vecCol).isNotNull)
      .select(col(docCol), posexplode(col(vecCol).cast("array<double>"))
        .as(Seq("_pos", "_x")))
      .groupBy(col(docCol), col("_pos"))
      .agg(sum(floor(col("_x") * 1000000.0).cast("long")).as("_s"),
        count(lit(1)).as("_n"))
    exploded
      .groupBy(col(docCol))
      .agg(max(col("_n")).as("n_chunks"),
        sort_array(collect_list(struct(col("_pos"),
          (floor(col("_s").cast("double") / col("_n").cast("double")
            / 100.0 + 0.5) / 10000.0).as("_v")))).as("_pv"))
      .select(col(docCol), col("n_chunks"),
        transform(col("_pv"), p => p.getField("_v")).as("pooled"))
  }
}
