package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Metric, VecStore}

/** Keyword retrieval (BM25) and hybrid keyword+vector fusion — the
  * standard serving stack next to pure vector search. The reference has
  * no text scoring at all; for a training-data engine BM25 doubles as a
  * relevance/quality signal (e.g. filter documents matching a topic).
  *
  * Plan shape at scale: one explode of matching terms only (the query
  * term filter lands before the shuffle, so the inverted explosion is
  * |matching tokens|, not |all tokens|), one groupBy (doc, term), one
  * per-term document-frequency aggregate over that same narrow set, one
  * final per-doc sum. Document length stats are a one-pass aggregate.
  * Fusion is rank arithmetic — exact rationals, engine-portable.
  */
object retrieval {

  final case class Bm25Params(k1: Double = 1.2, b: Double = 0.75)

  /** BM25 scores for `terms` over a document table. Returns
    * (idCol, score) for documents matching at least one term.
    * Scores are quantized to 6 decimals so downstream rank order is
    * reproducible across engines (raw scores involve `ln`, which may
    * differ in the last ulp between libm implementations). */
  def bm25(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      terms: Seq[String],
      params: Bm25Params = Bm25Params()): DataFrame = {
    val toks = text.tokens(col(textCol))
    val base = docs.select(col(idCol), toks.as("toks"))
      .withColumn("dl", size(col("toks")).cast("double"))

    // corpus stats: N and average doc length (exact int arithmetic until
    // the final division, identical in any engine)
    val stats = base.agg(count(lit(1)).as("n"), sum(col("dl")).as("sumdl")).head()
    require(stats.getLong(0) > 0,
      s"graft: BM25 requires a non-empty corpus (no rows in '$textCol')")
    val nDocs = stats.getLong(0).toDouble
    val avgdl = stats.getDouble(1) / nDocs

    val matches = base
      .select(col(idCol), col("dl"), explode(col("toks")).as("term"))
      .where(col("term").isin(terms: _*))
    val tf = matches.groupBy(col(idCol), col("term"), col("dl"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val df_ = matches.groupBy(col("term"))
      .agg(countDistinct(col(idCol)).cast("double").as("df"))

    // Scalar folds (k1+1, 1-b, b/avgdl) happen driver-side; the same
    // shapes appear verbatim in the DuckDB oracle so every double matches.
    val k1 = params.k1
    val b = params.b
    val idf = log((lit(nDocs) - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0))
    val termScore = idf * (col("tf") * lit(k1 + 1.0)) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) / lit(avgdl) * col("dl")))

    tf.join(df_, "term")
      .withColumn("ts", termScore)
      .groupBy(col(idCol))
      .agg((floor(sum(col("ts")) * 1000000.0 + 0.5) / 1000000.0).as("score"))
  }

  /** BM25 top-k, ordered (score desc, id). */
  def bm25Search(docs: DataFrame, textCol: String, idCol: String,
      terms: Seq[String], k: Int,
      params: Bm25Params = Bm25Params()): DataFrame =
    bm25(docs, textCol, idCol, terms, params)
      .orderBy(col("score").desc, col(idCol))
      .limit(k)

  /** Pseudo-relevance-feedback query expansion (Rocchio/RM3-lite): run
    * the query, mine the top `feedbackK` documents for the
    * `expandTerms` best co-occurring terms, and re-run BM25 with the
    * expanded term set — the classic one-round recall lift when queries
    * under-specify corpus vocabulary.
    *
    * Expansion terms rank by the ALL-INTEGER key (feedback-set document
    * frequency DESC, corpus document frequency ASC, term ASC) — rarer
    * corpus-wide but common in the feedback set wins. Integer ranking is
    * deliberate: a float weight (tf·idf) puts engine `ln` ulp noise
    * inside an argsort, and a flipped selection cascades into a
    * different final ranking; integers make the whole two-round
    * trajectory engine-reproducible.
    *
    * The ≤`expandTerms` selected terms come to the driver (a serving
    * decision, like [[ann.lshProbeSigsOf]] probe sets) — both rounds
    * stay fully distributed. */
  def prfExpand(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      terms: Seq[String],
      k: Int,
      feedbackK: Int = 5,
      expandTerms: Int = 5,
      params: Bm25Params = Bm25Params()): DataFrame = {
    require(terms.nonEmpty, "graft: prfExpand needs at least one query term")
    require(feedbackK >= 1 && expandTerms >= 0,
      s"graft: need feedbackK >= 1, expandTerms >= 0; got $feedbackK, $expandTerms")
    val fb = bm25Search(docs, textCol, idCol, terms, feedbackK, params)
      .select(col(idCol))
    // One row per (doc, DISTINCT term): dedup in-row (array_distinct)
    // BEFORE the explode, so the df exchanges carry each (doc, term)
    // pair once and a plain count replaces countDistinct's two-phase
    // distinct aggregate — measured 6x on this pass at the 30x
    // rehearsal corpus (4.8 s -> 0.8 s over 150k docs).
    val m = docs.select(col(idCol),
      explode(array_distinct(text.tokens(col(textCol)))).as("term"))
    val dfAll = m.groupBy(col("term"))
      .agg(count(lit(1)).as("dfa"))
    val expansion = m.join(broadcast(fb), idCol)
      .where(!col("term").isin(terms: _*))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("fdf"))
      .join(dfAll, "term")
      .orderBy(col("fdf").desc, col("dfa").asc, col("term").asc)
      .limit(expandTerms)
      .collect().map(_.getString(0)).toSeq
    bm25Search(docs, textCol, idCol, (terms ++ expansion).distinct, k, params)
  }

  /** Build a PERSISTED inverted index for [[bm25Indexed]] — the text
    * twin of `VecIndex.build`: tokenize ONCE at build time, land
    * `(term, doc_id, tf, dl)` postings partitioned by
    * `term_bucket = h32(term) mod buckets` directories, and persist the
    * exact corpus stats (doc count, total length as a LONG) alongside.
    * A query then reads ONLY its terms' bucket directories — at 100 TB
    * the per-query cost is O(probed postings), not O(corpus), and the
    * corpus text is never re-tokenized.
    *
    * `buckets` sizes the pruning granularity: queries read ~terms/buckets
    * of the index; keep it well above typical query term counts and low
    * enough that each bucket file stays row-group sized. Postings are
    * one row per (term, doc) — the shuffle that builds them is the same
    * (doc, term) aggregate every BM25 query would otherwise pay. */
  def buildTextIndex(
      docs: DataFrame,
      path: String,
      textCol: String,
      idCol: String,
      buckets: Int = 64): Unit = {
    require(buckets >= 1, s"graft: buckets must be positive, got $buckets")
    writePostings(docs, path, textCol, idCol, buckets, SaveMode.Overwrite)
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
      .withColumn("buckets", lit(buckets))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Segment-additive APPEND to a [[buildTextIndex]] layout: the new
    * docs' postings land as additional files in the same term-bucket
    * directories (no rewrite of existing segments), and the corpus stats
    * are replaced by the exact summed totals. Per-term document
    * frequencies need no maintenance at all — [[bm25Indexed]] derives
    * them from the probed postings at query time, so they are correct
    * the moment the files land. Caller contract: `docs` are NEW ids
    * (appending an existing doc would double-count its postings, exactly
    * like `VecIndex.append`). */
  def appendTextIndex(
      docs: DataFrame,
      path: String,
      textCol: String,
      idCol: String): Unit = {
    val spark = docs.sparkSession
    val meta = spark.read.parquet(s"$path/meta").head()
    val buckets = meta.getAs[Int]("buckets")
    val add = writePostings(docs, path, textCol, idCol, buckets, SaveMode.Append)
      .agg(count(lit(1)).as("n"), coalesce(sum(col("dl")), lit(0L)).as("s"))
      .head()
    // Crash ordering: postings land first, stats second. A crash between
    // the two leaves stats STALE (scores briefly use the old N/avgdl)
    // but never corrupt — df comes from the postings themselves, and the
    // next append or rebuild refreshes the stats.
    spark.createDataFrame(Seq((
        meta.getAs[Long]("n_docs") + add.getLong(0),
        meta.getAs[Long]("sum_dl") + add.getLong(1),
        buckets)))
      .toDF("n_docs", "sum_dl", "buckets")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Tokenize `docs` once and write their `(term, doc_id, tf, dl)`
    * postings into the term-bucket directories under `path` — the one
    * postings writer behind [[buildTextIndex]] and [[appendTextIndex]].
    * Returns the tokenized `(doc_id, toks, dl)` rows, which the caller
    * sums into the corpus stats. */
  private def writePostings(
      docs: DataFrame,
      path: String,
      textCol: String,
      idCol: String,
      buckets: Int,
      mode: SaveMode): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"), text.tokens(col(textCol)).as("toks"))
      .withColumn("dl", size(col("toks")).cast("long"))
    base
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .groupBy(col("term"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("term_bucket",
        pmod(graft.functions.hashing.h32(col("term")), lit(buckets)).cast("int"))
      .repartition(col("term_bucket"))
      .write.mode(mode).partitionBy("term_bucket")
      .parquet(s"$path/postings")
    base
  }

  /** BM25 top-k over a [[buildTextIndex]] layout: probe-bucket partition
    * pruning + a term filter, then the identical scoring arithmetic as
    * [[bm25]] — stored `dl`/`tf` are exact longs cast back to the same
    * doubles the live path computes, and the persisted corpus stats are
    * exact integers, so indexed and live scores match BIT-FOR-BIT
    * (pinned in RetrievalSpec; the oracle is the live path's SQL). */
  def bm25Indexed(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      terms: Seq[String],
      k: Int,
      params: Bm25Params = Bm25Params()): DataFrame = {
    require(terms.nonEmpty, "graft: bm25Indexed needs at least one term")
    val meta = spark.read.parquet(s"$path/meta").head()
    val nDocs = meta.getAs[Long]("n_docs").toDouble
    val sumDl = meta.getAs[Long]("sum_dl").toDouble
    val buckets = meta.getAs[Int]("buckets")
    val avgdl = sumDl / nDocs
    val probeBuckets = terms
      .map(t => math.floorMod(graft.functions.hashing.h32Of(t), buckets.toLong).toInt)
      .distinct
    val posts = spark.read.parquet(s"$path/postings")
      .where(col("term_bucket").isin(probeBuckets: _*)) // partition pruning
      .where(col("term").isin(terms: _*))
      .select(col("doc_id"), col("term"),
        col("dl").cast("double").as("dl"), col("tf").cast("double").as("tf"))
    // postings are unique per (term, doc): df is a plain count
    val df_ = posts.groupBy(col("term")).agg(count(lit(1)).cast("double").as("df"))
    val k1 = params.k1
    val b = params.b
    val idf = log((lit(nDocs) - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0))
    val termScore = idf * (col("tf") * lit(k1 + 1.0)) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) / lit(avgdl) * col("dl")))
    posts.join(df_, "term")
      .withColumn("ts", termScore)
      .groupBy(col("doc_id"))
      .agg((floor(sum(col("ts")) * 1000000.0 + 0.5) / 1000000.0).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Reciprocal-rank fusion of two ranked lists (id, rank 1-based):
    * `rrf = Σ 1/(c + rank)` over the lists an id appears in. Pure
    * rational arithmetic from integer ranks — exactly reproducible. */
  def rrfFuse(a: DataFrame, b: DataFrame, idCol: String, c: Int = 60): DataFrame = {
    val ra = a.select(col(idCol), col("rank").as("rank_a"))
    val rb = b.select(col(idCol), col("rank").as("rank_b"))
    ra.join(rb, Seq(idCol), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(c.toDouble) + col("rank_a")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(c.toDouble) + col("rank_b")), lit(0.0)))
  }

  /** Hybrid search: cosine ANN ranks ⊕ BM25 ranks via RRF. `store` ids
    * and `docs` ids must share a key space (vec_id == doc_id here). */
  def hybridSearch(
      store: VecStore,
      docs: DataFrame,
      textCol: String,
      docIdCol: String,
      qVec: Seq[Double],
      terms: Seq[String],
      k: Int,
      candidates: Int = 100): DataFrame = {
    // Rank windows run over AT MOST `candidates` rows (both inputs are
    // top-k-limited upstream), so a single window partition is k-bounded
    // by construction, not data-bound. The constant-valued (but
    // non-foldable, so Catalyst keeps it) partition key states that
    // intent in the plan and silences the data-scale
    // "No Partition Defined" warning, which does not apply here.
    def ranked(df: DataFrame, idc: String): DataFrame =
      df.withColumn("rank", row_number().over(
        Window.partitionBy(pmod(col(idc), lit(1)))
          .orderBy(col("score").desc, col(idc))))
    val vecRanked = ranked(
        store.query(qVec, Metric.Cosine)
          .take(candidates).withScoreRounding(6).collect(),
        store.idCol)
      .select(col(store.idCol).as(docIdCol), col("rank"))
    val bmRanked = ranked(bm25Search(docs, textCol, docIdCol, terms, candidates), docIdCol)
      .select(col(docIdCol), col("rank"))
    rrfFuse(vecRanked, bmRanked, docIdCol)
      .select(col(docIdCol), (floor(col("rrf") * 1000000.0 + 0.5) / 1000000.0).as("rrf"))
      .orderBy(col("rrf").desc, col(docIdCol))
      .limit(k)
  }

  /** Maximal Marginal Relevance re-rank (Carbonell & Goldstein, SIGIR'98):
    * greedily pick the candidate maximizing
    * `lambda·rel(q, d) − (1−lambda)·max_{s∈selected} sim(d, s)` — the
    * diversification pass a retrieval stack runs so the top-k isn't k
    * copies of the same document (near-dup corpora make this visible).
    * Relevance and similarity are both cosine; ties break to the lower id.
    *
    * Scale shape: the distributed part is the pool construction — a
    * cosine TakeOrderedAndProject of `poolCap` rows, exactly the
    * first-pass search plan. The greedy selection is inherently
    * sequential (each pick conditions the next), so it runs driver-side
    * over the BOUNDED pool (`poolCap` rows of `(id, vec)` — the same
    * bounded-driver-work class as the IVF probe list), O(poolCap·k)
    * dot products. Returns `(mmr_rank, idCol, mmr_score)`; scores are
    * quantized 4dp, arithmetic is plain IEEE so an independent engine
    * reproduces the selection exactly. */
  def mmr(
      df: DataFrame,
      q: Seq[Double],
      k: Int,
      lambda: Double = 0.7,
      poolCap: Int = 256,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && poolCap >= k, s"need k >= 1 and poolCap >= k, got k=$k poolCap=$poolCap")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda must be in [0,1], got $lambda")
    import graft.functions.vectors
    val invQ = vectors.invNormOf(q)
    val pool = df
      .select(col(idCol), vectors.asDoubleArray(col(vecCol)).as("e"),
        vectors.invNorm(col(vecCol)).as("inv"))
      .withColumn("rel",
        vectors.dotProduct(col("e"), vectors.vecLit(q)) * col("inv") * vectors.queryConst(invQ))
      .orderBy(col("rel").desc, col(idCol))
      .limit(poolCap)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2), r.getDouble(3)))
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val remaining =
      scala.collection.mutable.LinkedHashMap(pool.map(p => p._1 -> p).toIndexedSeq: _*)
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Double], Double)]
    val picks = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Double)]
    (1 to math.min(k, pool.length)).foreach { rank =>
      val (bestId, best) = remaining.values.map { case (id, e, inv, rel) =>
        val score =
          if (selected.isEmpty) rel
          else {
            val maxSim = selected.iterator
              .map { case (_, se, sInv) => dot(e, se) * inv * sInv }.max
            lambda * rel - (1.0 - lambda) * maxSim
          }
        (id, (score, e, remaining(id)._3))
      }.minBy { case (id, (score, _, _)) => (-score, id) }
      remaining.remove(bestId)
      selected += ((bestId, best._2, best._3))
      val quantized = math.signum(best._1) *
        math.floor(math.abs(best._1) * 10000.0 + 0.5) / 10000.0 + 0.0
      picks += ((rank, bestId, quantized))
    }
    val spark = df.sparkSession
    import spark.implicits._
    picks.toSeq.toDF("mmr_rank", idCol, "mmr_score")
  }

  /** General (long-form) MaxSim over a token TABLE — `(idCol, tokCol)`
    * rows, one per document token — for corpora whose documents have
    * VARIABLE token counts (the fixed-layout fast path is
    * [[maxSimTopK]]; this is its executable generalization, and the
    * two are result-identical on the sliced layout — asserted in
    * RetrievalSpec). Per token row every query token's dot unrolls as
    * a column (scan-parallel, native kernel); one groupBy(id) takes
    * per-query maxima with map-side partial aggregation — the shuffle
    * carries `|queryTokens|` doubles per document, never token
    * vectors — and the final score is the sum of maxima, top-k'd by
    * the bounded-heap path. One shuffle total, keyed on the unique
    * doc id. */
  def maxSimLong(
      docTokens: DataFrame,
      idCol: String,
      tokCol: String,
      queryTokens: Seq[Seq[Double]],
      k: Int): DataFrame = {
    require(queryTokens.nonEmpty, "graft: maxSimLong needs at least one query token")
    require(k >= 1, s"graft: maxSimLong needs k >= 1, got $k")
    val t = graft.functions.vectors.asDoubleArray(col(tokCol))
    val scored = docTokens.select(col(idCol) +:
      queryTokens.zipWithIndex.map { case (q, j) =>
        graft.functions.vectors.dotProduct(t,
          graft.functions.vectors.vecLit(q)).as(s"_q$j")
      }: _*)
    val maxes = queryTokens.indices.map(j => max(col(s"_q$j")).as(s"_m$j"))
    scored.groupBy(col(idCol))
      .agg(maxes.head, maxes.tail: _*)
      .select(col(idCol), graft.functions.vectors.quantize(
        queryTokens.indices.map(j => col(s"_m$j")).reduce(_ + _), 4).as("maxsim"))
      .orderBy(col("maxsim").desc, col(idCol))
      .limit(k)
  }

  /** Batched MaxSim serving — N multi-token queries against the corpus
    * in ONE scan (the [[graft.ops.ann.lshSearchBatch]] discipline
    * applied to late interaction): the query set rides as a broadcast
    * table of `(query_id, token vectors)`, every corpus row scores
    * every query with the same driver-unrolled slice/dot lattice as
    * [[maxSimTopK]], and per-query top-k is the rank-filter idiom
    * (`WindowGroupLimit` bounded heaps — only ~k rows per query per
    * task reach the shuffle). Exact over the full corpus by design —
    * the cost is one corpus scan × |queries| score lattices; a serving
    * deployment that needs sublinear scans prunes per TOKEN with an
    * ANN index first, which changes recall and is a different op.
    *
    * All queries must share `queryTokens.length` and `tokDim` (one
    * compiled lattice serves the batch). Returns
    * `(query_id, idCol, maxsim, rnk)`. */
  def maxSimBatch(
      docs: DataFrame,
      vecCol: String,
      idCol: String,
      queries: Seq[(Long, Seq[Seq[Double]])],
      tokDim: Int,
      docDim: Int,
      k: Int): DataFrame = {
    require(queries.nonEmpty, "graft: maxSimBatch needs at least one query")
    require(queries.map(_._1).distinct.size == queries.size,
      "graft: duplicate query ids in maxSimBatch")
    val nTok = queries.head._2.length
    require(nTok >= 1 && queries.forall(_._2.length == nTok),
      "graft: every maxSimBatch query needs the same token count")
    require(queries.forall(_._2.forall(_.length == tokDim)),
      s"graft: every query token must have tokDim=$tokDim dims")
    require(docDim >= tokDim && docDim % tokDim == 0,
      s"graft: docDim ($docDim) must be a positive multiple of tokDim ($tokDim)")
    require(k >= 1, s"graft: maxSimBatch needs k >= 1, got $k")
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val spark = docs.sparkSession
    // REPL-safe explicit schema, like the ANN batch paths
    val qdf = spark.createDataFrame(
      java.util.Arrays.asList(queries.map { case (qid, toks) =>
        Row(qid, toks.map(_.toArray).toArray)
      }: _*),
      StructType(Seq(
        StructField("query_id", LongType, nullable = false),
        StructField("_q_toks",
          ArrayType(ArrayType(DoubleType, containsNull = false),
            containsNull = false), nullable = false))))
    val dim = graft.functions.vectors.asDoubleArray(col(vecCol))
    val score = (0 until nTok).map { j =>
      val qTok = element_at(col("_q_toks"), j + 1)
      val perTok = (0 until docDim / tokDim).map { i =>
        graft.functions.vectors.dotProduct(
          slice(dim, i * tokDim + 1, tokDim), qTok)
      }
      if (perTok.size == 1) perTok.head else greatest(perTok: _*)
    }.reduce(_ + _)
    import org.apache.spark.sql.expressions.Window
    docs.crossJoin(broadcast(qdf))
      .select(col("query_id"), col(idCol),
        graft.functions.vectors.quantize(score, 4).as("maxsim"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("maxsim").desc, col(idCol))))
      .where(col("rnk") <= k)
      .drop("_q_toks")
  }

  /** Late-interaction (ColBERT-style MaxSim) top-k: the document is a
    * BAG of token vectors — here the contiguous `tokDim`-wide slices of
    * `vecCol` (the layout a chunk-level embedder writes: token vectors
    * concatenated into one row) — and the score against a multi-token
    * query is `Σ_q max_t dot(q, t)`: every query token claims its best
    * document token. This is the retrieval scorer single-vector cosine
    * cannot express (one vector pools away which PART of the document
    * matched); MaxSim keeps per-token evidence and still runs as pure
    * scan math.
    *
    * Scale shape: both loops (query tokens × document slices) unroll
    * DRIVER-SIDE into one codegen'd scoring expression over the native
    * [[graft.functions.vectors.dotProduct]] kernel — zero shuffles, no
    * explode (an exploded token table would multiply the corpus ×tokens
    * before aggregating it right back), and the top-k is the standard
    * `TakeOrderedAndProject` bounded-heap path. Query-token count is
    * bounded by construction (a query has tens of tokens); document
    * token count is `dim / tokDim` per row. */
  def maxSimTopK(
      docs: DataFrame,
      vecCol: String,
      idCol: String,
      queryTokens: Seq[Seq[Double]],
      tokDim: Int,
      docDim: Int,
      k: Int): DataFrame = {
    require(queryTokens.nonEmpty, "graft: maxSimTopK needs at least one query token")
    require(queryTokens.forall(_.length == tokDim),
      s"graft: every query token must have tokDim=$tokDim dims")
    require(docDim >= tokDim && docDim % tokDim == 0,
      s"graft: docDim ($docDim) must be a positive multiple of tokDim ($tokDim)")
    require(k >= 1, s"graft: maxSimTopK needs k >= 1, got $k")
    val dim = graft.functions.vectors.asDoubleArray(col(vecCol))
    val score = queryTokens.map { q =>
      val qLit = graft.functions.vectors.vecLit(q)
      val perTok = (0 until docDim / tokDim).map { i =>
        graft.functions.vectors.dotProduct(
          slice(dim, i * tokDim + 1, tokDim), qLit)
      }
      if (perTok.size == 1) perTok.head else greatest(perTok: _*)
    }.reduce(_ + _)
    docs.select(col(idCol),
        graft.functions.vectors.quantize(score, 4).as("maxsim"))
      .orderBy(col("maxsim").desc, col(idCol))
      .limit(k)
  }
}
