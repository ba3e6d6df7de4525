package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.vectors

/** A vector store = any DataFrame with an id column and an embedding
  * column (array of float/double). Optionally carries a precomputed
  * inverse-norm column (written by [[graft.index.VecIndex]] at build time —
  * the reference precomputes per-row inverse norms at ingest,
  * /root/reference/src/vec.rs:365-368).
  *
  * This is the Spark-native `MetaStore`/`VecStore`
  * (/root/reference/src/meta.rs:48-60, vec.rs:338-344): the "chunks +
  * zonemaps + blooms" machinery of the reference maps onto Parquet
  * row-groups + min/max statistics + column bloom filters, all of which
  * Catalyst exploits automatically once predicates are declared on the
  * DataFrame — see SURVEY.md §4.
  */
final case class VecStore(
    df: DataFrame,
    idCol: String = "vec_id",
    vecCol: String = "embedding",
    invNormCol: Option[String] = None,
    indexMeta: Option[IndexMeta] = None) {

  /** Start a lazy single-query plan (ref: meta.rs:569-571, vec.rs:387-399). */
  def query(q: Seq[Double], metric: Metric): SearchPlan =
    queryBatch(Seq(q), metric)

  /** Start a lazy batch-query plan. Batch semantics are GLOBAL merge: one
    * top-k pool shared across all queries, not per-query k (ref:
    * vec.rs:218-219 and tests/vec_store_tests.rs:899-924). */
  def queryBatch(qs: Seq[Seq[Double]], metric: Metric): SearchPlan =
    SearchPlan(this, qs.map(_.toIndexedSeq).toIndexedSeq, metric)

  /** Per-query batch top-k — every query gets its OWN k results (the
    * common serving need; an extension, since the reference's batch
    * explicitly merges globally). One broadcast of the query table, one
    * scoring scan, one shuffle on q_idx for the window rank. Result:
    * (q_idx, id, score, metadata...), ordered within each query. */
  def queryBatchPerQuery(
      qs: Seq[Seq[Double]],
      metric: Metric,
      k: Int,
      roundScoreDecimals: Option[Int] = None): DataFrame =
    SearchPlan(this, qs.map(_.toIndexedSeq).toIndexedSeq, metric, k = Some(k),
      roundScoreDecimals = roundScoreDecimals).collectPerQuery()

  /** Metadata columns in the reference's result order: sorted by name
    * (ref: meta.rs:723-724). Index-internal columns (precomputed norm,
    * LSH partition bucket, PQ codes, persisted JL projection) are not
    * user metadata and stay out of results. */
  private[core] def metaCols: Seq[String] = {
    import graft.index.VecIndex._
    val internal = Set(LshBucketCol, IvfClusterCol, PqCodeCol, RpVecCol)
    df.columns.filterNot(c =>
      c == idCol || c == vecCol || invNormCol.contains(c) || internal(c)).sorted.toSeq
  }
}

/** Lazy, immutable query plan — the Spark analog of `MetaQueryPlan`
  * (/root/reference/src/meta.rs:579-660). Every combinator just records
  * intent; `collect()` assembles one declarative DataFrame so Catalyst can
  * push the metadata predicate into the Parquet scan (row-group pruning =
  * the reference's zonemap chunk pruning, SURVEY.md §4) and plan the top-k
  * as TakeOrderedAndProject (per-partition top-k + merge = the reference's
  * per-chunk TopKCollector + global merge, meta.rs:693-709).
  *
  * Unlike the reference, ties are broken deterministically by (score, id)
  * — the reference uses an unstable sort (meta.rs:703-705); we pin order
  * for reproducible results (SURVEY.md §7.0 #8).
  */
final case class SearchPlan(
    store: VecStore,
    queries: IndexedSeq[IndexedSeq[Double]],
    metric: Metric,
    metaPred: Option[Column] = None,
    scoreFilter: Option[(Double, Cmp)] = None,
    k: Option[Int] = None,
    takeType: Option[TakeType] = None,
    roundScoreDecimals: Option[Int] = None) {

  /** Attach (AND) a metadata predicate — `meta_filter`
    * (ref: meta.rs:605-616). Invalid column references surface at
    * analysis, mirroring the reference's deferred compile errors. */
  def metaFilter(cond: Column): SearchPlan =
    copy(metaPred = Some(metaPred.map(_ && cond).getOrElse(cond)))

  /** Score threshold filter — `vec_filter` (ref: meta.rs:618-621). */
  def vecFilter(threshold: Double, cmp: Cmp): SearchPlan =
    copy(scoreFilter = Some((threshold, cmp)))

  /** Top-k with metric-inferred direction (ref: vec.rs:156-158). */
  def take(n: Int): SearchPlan = copy(k = Some(n))

  /** Top-k smallest-first (ref: vec.rs:161-163). */
  def takeMin(n: Int): SearchPlan =
    copy(k = Some(n), takeType = Some(TakeType.Min))

  /** Top-k largest-first (ref: vec.rs:165-168). */
  def takeMax(n: Int): SearchPlan =
    copy(k = Some(n), takeType = Some(TakeType.Max))

  /** Quantize scores (half-up, `d` decimals) BEFORE filtering/ordering.
    * Not in the reference; used for cross-engine oracle determinism
    * (SURVEY.md §7.4): two engines' float accumulations can differ in the
    * last ulps, so ordering on the rounded score + id tiebreak makes top-k
    * membership reproducible. `+ 0.0` normalizes IEEE negative zero. */
  def withScoreRounding(d: Int): SearchPlan =
    copy(roundScoreDecimals = Some(d))

  private def cmpExpr(c: Column, t: Double, cmp: Cmp): Column = cmp match {
    case Cmp.Lt  => c < t
    case Cmp.Lte => c <= t
    case Cmp.Gt  => c > t
    case Cmp.Gte => c >= t
    case Cmp.Eq  => c === t
  }

  /** Assemble the DataFrame. Result shape mirrors the reference
    * (meta.rs:723-828): id, score, then metadata columns sorted by name,
    * ordered by score (explicit take type > metric default under take(n) >
    * the reference's unset-take Max fallback, vec.rs:92-98),
    * deterministic (score, id) tiebreak.
    *
    * Scale notes (100 TB discipline): the metadata predicate is applied on
    * the store BEFORE scoring so it reaches the Parquet scan as a pushed
    * filter; the query batch is the ONLY broadcast (a handful of rows);
    * there is no other shuffle — top-k is TakeOrderedAndProject
    * (per-partition bounded heap, then a single driver merge of k·P rows).
    */
  def collect(): DataFrame =
    if (queries.length == 1) {
      val q = queries.head
      scoreTopK(filtered, vectors.vecLit(q), vectors.queryConst(vectors.invNormOf(q)))
    } else {
      // Batch: score every (row, query) pair, then ONE global top-k across
      // all pairs (ref semantics: vec_store_tests.rs:899-924). Not a
      // per-query window — that would be a different (wrong) result shape.
      scoreTopK(crossQueries, col("q_vec"), col("q_inv"))
    }

  /** Per-query form of [[collect]] behind [[VecStore.queryBatchPerQuery]]:
    * the same rows and scoring, ranked within each `q_idx`. */
  private[core] def collectPerQuery(): DataFrame =
    scoreTopK(crossQueries, col("q_vec"), col("q_inv"), Some("q_idx"))
      .orderBy(col("q_idx"), scoreOrder, col(store.idCol))

  private def filtered: DataFrame =
    metaPred.map(store.df.filter).getOrElse(store.df)

  /** Store rows crossed with the broadcast query table
    * `(q_idx, q_vec, q_inv)`, query inverse norms precomputed on the
    * driver. */
  private def crossQueries: DataFrame = {
    val spark = store.df.sparkSession
    import spark.implicits._
    val qdf = queries.zipWithIndex
      .map { case (q, i) => (i, q, vectors.invNormOf(q)) }
      .toDF("q_idx", "q_vec", "q_inv")
    filtered.crossJoin(broadcast(qdf))
  }

  /** The shared query dimension; rejects an empty or ragged batch. */
  private[graft] def queryDim: Int = {
    require(queries.nonEmpty, "query batch must not be empty")
    val dims = queries.map(_.length).distinct
    require(dims.size == 1,
      s"graft: ragged query batch — all query vectors must share one dimension, " +
        s"got ${dims.mkString(" and ")}")
    dims.head
  }

  /** Direction: an explicit take_min/take_max wins; take(n) pins the
    * metric's default (ref vec.rs:156-158); with NO take at all the
    * reference's collect falls back to TakeType::Max regardless of metric
    * (vec.rs `unwrap_or(&TakeType::Max)`) — a filter-only Euclidean plan
    * therefore orders LARGEST-first, matching the reference. */
  private def scoreOrder: Column =
    takeType.getOrElse(if (k.isDefined) metric.defaultTake else TakeType.Max) match {
      case TakeType.Max => col("score").desc
      case TakeType.Min => col("score").asc
    }

  /** The one scoring tail behind every top-k entry point ([[collect]],
    * [[VecStore.queryBatchPerQuery]], the ANN batch searches). `rows` are
    * store rows, already pruned by the caller, that carry their query as
    * `queryVec` with its inverse norm `queryInv`. Without a `queryKey` the
    * top-k is one global order + limit (TakeOrderedAndProject); with one,
    * each key gets its own k through a `row_number` window
    * (WindowGroupLimit: a bounded heap per key, no global sort). Result:
    * key, id, score, then the store's metadata columns. */
  private[graft] def scoreTopK(
      rows: DataFrame,
      queryVec: Column,
      queryInv: Column,
      queryKey: Option[String] = None): DataFrame = {
    val dim = queryDim
    // One k rule for every entry point: k < 0 raises Spark's own
    // INVALID_LIMIT_LIKE_EXPRESSION (Dataset.limit checks eagerly; the
    // window path has no limit to check), k = 0 is an empty result.
    k.filter(_ < 0).foreach(rows.limit)

    val v = col(store.vecCol)
    val raw = vectors.score(metric, v, queryVec, store.invNormCol.map(col), Some(queryInv))
    // Dimension guard: a query/store dim mismatch (or a NULL embedding)
    // must fail with a descriptive error — the reference errors rather
    // than silently returning nothing (vec.rs:170-203,
    // tests/vec_store_tests.rs:52-63). The kernels resolve a length
    // mismatch by the SHORTER length, so a mis-dimensioned row would
    // otherwise score a real (wrong) prefix dot. Jaccard is exempt: it
    // scores SETS, whose cardinalities legitimately differ row to row
    // (Metric.Jaccard scaladoc) — but a NULL set must still raise.
    val guarded = metric match {
      case Metric.Jaccard =>
        when(v.isNotNull, raw).otherwise(raise_error(lit(
          s"graft: NULL set in column '${store.vecCol}' for Jaccard scoring")))
      case _ =>
        when(size(v) === lit(dim), raw).otherwise(raise_error(format_string(
          s"graft: query dim $dim does not match store vector dim %s " +
            s"(or embedding is NULL) in column '${store.vecCol}'",
          size(v).cast("string"))))
    }
    val score = roundScoreDecimals.fold(guarded)(vectors.quantize(guarded, _))

    // One drop rule: NaN scores are dropped from results (ref:
    // vec_compute.rs:237-239) — Spark sorts NaN as the LARGEST double —
    // and a NULL score (e.g. a NULL precomputed inv_norm) counts as NaN,
    // since NULL would sort FIRST under an ascending take. One predicate
    // for both; the physical plan still computes the score twice, once in
    // the Filter and once in the Project that outputs it.
    val scored = rows.withColumn("score", score)
      .filter(!isnan(coalesce(col("score"), lit(Double.NaN))))
    val thresholded = scoreFilter.fold(scored) { case (t, cmp) =>
      scored.filter(cmpExpr(col("score"), t, cmp))
    }

    val byScore = Seq(scoreOrder, col(store.idCol).asc)
    val top = queryKey match {
      case None =>
        val ordered = thresholded.orderBy(byScore: _*)
        k.fold(ordered)(ordered.limit)
      case Some(key) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col(key)).orderBy(byScore: _*)
        thresholded.withColumn("_rnk", row_number().over(w))
          .where(col("_rnk") <= k.getOrElse(Int.MaxValue))
    }
    val out = queryKey.toSeq ++ Seq(store.idCol, "score") ++ store.metaCols
    top.select(out.map(col): _*)
  }
}
