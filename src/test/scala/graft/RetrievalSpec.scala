package graft

import org.apache.spark.sql.functions._

import graft.ops.retrieval

class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "spark spark spark runs fast"),
    (2L, "spark is mentioned once here in a longer document about engines"),
    (3L, "completely unrelated words with no match at all"),
    (4L, "query query spark")
  ).toDF("doc_id", "text")

  test("bm25: higher tf scores higher; non-matching docs absent; rare terms weigh more") {
    val scores = retrieval.bm25(docs, "text", "doc_id", Seq("spark", "query"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(!scores.contains(3L))
    assert(scores(1L) > scores(2L)) // tf 3 beats tf 1 (similar lengths)
    // doc 4 matches BOTH terms, one of them rarer -> beats single-term docs
    assert(scores(4L) > scores(1L))
    assert(scores.values.forall(_ > 0))
  }

  test("rrfFuse: hand-computed reciprocal ranks, full outer semantics") {
    val a = Seq((10L, 1), (20L, 2)).toDF("id", "rank")
    val b = Seq((20L, 1), (30L, 2)).toDF("id", "rank")
    val got = retrieval.rrfFuse(a, b, "id").select("id", "rrf")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(got(10L) - 1.0 / 61) < 1e-12)
    assert(math.abs(got(20L) - (1.0 / 62 + 1.0 / 61)) < 1e-12)
    assert(math.abs(got(30L) - 1.0 / 62) < 1e-12)
    assert(got(20L) > got(10L) && got(10L) > got(30L))
  }

  test("hybridSearch fuses vector and keyword evidence over the test tables") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val q = (0 until 64).map(i => math.sin(i + 1.0))
    val hits = retrieval.hybridSearch(graft.core.VecStore(emb), d, "text", "doc_id",
      q, Seq("spark", "query"), k = 10)
    val rows = hits.collect()
    assert(rows.length == 10)
    val rrfs = rows.map(_.getDouble(1)).toSeq
    assert(rrfs == rrfs.sorted.reverse && rrfs.forall(_ > 0))
  }

  test("bm25Indexed: persisted index reproduces the live path bit-for-bit, via pruned buckets") {
    val path = java.nio.file.Files.createTempDirectory("graft-ti-spec-").toString + "/idx"
    retrieval.buildTextIndex(docs, path, "text", "doc_id", buckets = 8)
    val live = retrieval.bm25Search(docs, "text", "doc_id",
        Seq("spark", "query"), k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val indexed = retrieval.bm25Indexed(spark, path, Seq("spark", "query"), k = 10)
    assert(indexed.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq == live)
    // the probe reads only the terms' bucket directories
    val plan = indexed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("term_bucket"),
      plan.take(600))
  }

  test("appendTextIndex: appended docs are searchable; index equals a fresh full build") {
    val p1 = java.nio.file.Files.createTempDirectory("graft-ti-app-").toString + "/idx"
    val first = docs.where(col("doc_id") <= 2)
    val rest = docs.where(col("doc_id") > 2)
    retrieval.buildTextIndex(first, p1, "text", "doc_id", buckets = 8)
    retrieval.appendTextIndex(rest, p1, "text", "doc_id")
    val p2 = java.nio.file.Files.createTempDirectory("graft-ti-full-").toString + "/idx"
    retrieval.buildTextIndex(docs, p2, "text", "doc_id", buckets = 8)
    val a = retrieval.bm25Indexed(spark, p1, Seq("spark", "query"), k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val b = retrieval.bm25Indexed(spark, p2, Seq("spark", "query"), k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(a == b, "append must converge to the full-build scores")
    assert(a.map(_._1).contains(4L), "appended doc must be searchable")
  }

  test("appendTextIndex: an empty batch leaves the stats and BM25 results unchanged") {
    val path = java.nio.file.Files.createTempDirectory("graft-ti-empty-").toString + "/idx"
    retrieval.buildTextIndex(docs, path, "text", "doc_id", buckets = 8)
    def stats() = spark.read.parquet(s"$path/meta")
      .select("n_docs", "sum_dl", "buckets").as[(Long, Long, Int)].head()
    def top() = retrieval.bm25Indexed(spark, path, Seq("spark", "query"), k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val (statsBefore, topBefore) = (stats(), top())
    retrieval.appendTextIndex(docs.limit(0), path, "text", "doc_id")
    assert(stats() == statsBefore)
    assert(top() == topBefore)
  }

  test("mmr: rank 1 is pure relevance; diversity-weighted rank 2 skips the near-dup") {
    val df = Seq(
      (1L, Array(1.0, 0.049)),  // top relevance
      (2L, Array(1.0, 0.05)),   // near-duplicate of 1 (cos ~ 1), slightly less relevant
      (3L, Array(0.1, 1.0))     // low-relevance but diverse
    ).toDF("vec_id", "embedding")
    val q = Seq(1.0, 0.0)
    // diversity-heavy lambda: the near-dup's relevance cannot compensate
    val picks = retrieval.mmr(df, q, k = 3, lambda = 0.3, poolCap = 3)
      .select("mmr_rank", "vec_id").as[(Int, Long)].collect().toSeq
    assert(picks == Seq((1, 1L), (2, 3L), (3, 2L)))
    // relevance-only lambda = plain cosine order
    val rel = retrieval.mmr(df, q, k = 3, lambda = 1.0, poolCap = 3)
      .select("vec_id").as[Long].collect().toSeq
    assert(rel == Seq(1L, 2L, 3L))
    // pool smaller than k: returns the whole pool, ranks contiguous
    assert(retrieval.mmr(df, q, k = 10, poolCap = 10).count() == 3)
  }

  test("maxSimTopK scores Σ_q max_t dot and ranks by it") {
    // 4-dim docs = two 2-dim token vectors; two query tokens.
    // doc 1: tokens (1,0), (0,1); doc 2: tokens (0.5,0), (0,0.1);
    // doc 3: tokens (-1,0), (0,-1)
    val df = Seq(
      (1L, Seq(1.0, 0.0, 0.0, 1.0)),
      (2L, Seq(0.5, 0.0, 0.0, 0.1)),
      (3L, Seq(-1.0, 0.0, 0.0, -1.0))).toDF("vec_id", "embedding")
    val q = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val got = retrieval.maxSimTopK(df, "embedding", "vec_id", q,
        tokDim = 2, docDim = 4, k = 3)
      .as[(Long, Double)].collect().toSeq
    // doc1: max(1,0)+max(0,1)=2; doc2: max(.5,0)+max(0,.1)=0.6;
    // doc3: max(-1,0... tokens (-1,0) & (0,-1): q1 dots -1, 0 → 0; q2 dots 0, -1 → 0
    assert(got == Seq((1L, 2.0), (2L, 0.6), (3L, 0.0)))
    // each query token claims its OWN best doc token: a single-vector
    // pooled dot over the concatenation would score doc 1 as q·pool —
    // MaxSim must differ from it on an anti-aligned second token
    val antiDoc = Seq((9L, Seq(1.0, 0.0, 0.0, -1.0))).toDF("vec_id", "embedding")
    val anti = retrieval.maxSimTopK(antiDoc, "embedding", "vec_id", q,
        tokDim = 2, docDim = 4, k = 1)
      .as[(Long, Double)].collect().head
    assert(anti == ((9L, 1.0))) // max(1,0) + max(0,-1)=0 → 1.0, not 1-1=0
    // guards: mismatched token dims and non-multiple docDim
    intercept[IllegalArgumentException] {
      retrieval.maxSimTopK(df, "embedding", "vec_id",
        Seq(Seq(1.0)), tokDim = 2, docDim = 4, k = 1)
    }
    intercept[IllegalArgumentException] {
      retrieval.maxSimTopK(df, "embedding", "vec_id", q,
        tokDim = 2, docDim = 5, k = 1)
    }
  }

  test("maxSimLong equals the unrolled fast path on the sliced layout") {
    val df = Seq(
      (1L, Seq(1.0, 0.0, 0.0, 1.0)),
      (2L, Seq(0.5, 0.3, -0.2, 0.1)),
      (3L, Seq(-1.0, 0.7, 0.4, -1.0))).toDF("vec_id", "embedding")
    val q = Seq(Seq(0.9, 0.1), Seq(-0.2, 0.8))
    val fast = retrieval.maxSimTopK(df, "embedding", "vec_id", q,
        tokDim = 2, docDim = 4, k = 3)
      .as[(Long, Double)].collect().toSeq
    val toks = df.select(col("vec_id"), explode(array(
      slice(col("embedding"), 1, 2), slice(col("embedding"), 3, 2))).as("tok"))
    val long = retrieval.maxSimLong(toks, "vec_id", "tok", q, k = 3)
      .as[(Long, Double)].collect().toSeq
    assert(long == fast)
    // variable token counts — the case the fast path cannot express:
    // doc 9 has THREE tokens, the extra one dominates one query token
    val varToks = toks.unionByName(
      Seq((9L, Seq(0.0, 5.0))).toDF("vec_id", "tok"))
      .unionByName(Seq((9L, Seq(1.0, 0.0))).toDF("vec_id", "tok"))
      .unionByName(Seq((9L, Seq(0.2, 0.2))).toDF("vec_id", "tok"))
    val got = retrieval.maxSimLong(varToks, "vec_id", "tok", q, k = 1)
      .as[(Long, Double)].collect().head
    // doc 9: q1 max(0.5, 0.9, 0.2) = 0.9 + q2 max(4.0, -0.2, 0.12) = 4.0
    assert(got == ((9L, 4.9)))
  }

  test("maxSimBatch: each query's top-k equals its single-query run") {
    val df = Seq(
      (1L, Seq(1.0, 0.0, 0.0, 1.0)),
      (2L, Seq(0.5, 0.3, -0.2, 0.1)),
      (3L, Seq(-1.0, 0.7, 0.4, -1.0)),
      (4L, Seq(0.2, -0.8, 0.9, 0.0))).toDF("vec_id", "embedding")
    val qa = Seq(Seq(0.9, 0.1), Seq(-0.2, 0.8))
    val qb = Seq(Seq(-1.0, 0.0), Seq(0.0, -1.0))
    val batch = retrieval.maxSimBatch(df, "embedding", "vec_id",
        Seq(7L -> qa, 8L -> qb), tokDim = 2, docDim = 4, k = 2)
      .select("query_id", "vec_id", "maxsim").as[(Long, Long, Double)]
      .collect().toSet
    val singles = Seq(7L -> qa, 8L -> qb).flatMap { case (qid, q) =>
      retrieval.maxSimTopK(df, "embedding", "vec_id", q, tokDim = 2,
          docDim = 4, k = 2)
        .as[(Long, Double)].collect().map { case (id, s) => (qid, id, s) }
    }.toSet
    assert(batch == singles)
    // guards: mixed token counts and duplicate query ids
    intercept[IllegalArgumentException] {
      retrieval.maxSimBatch(df, "embedding", "vec_id",
        Seq(1L -> qa, 2L -> Seq(Seq(1.0, 0.0))), tokDim = 2, docDim = 4, k = 1)
    }
    intercept[IllegalArgumentException] {
      retrieval.maxSimBatch(df, "embedding", "vec_id",
        Seq(1L -> qa, 1L -> qb), tokDim = 2, docDim = 4, k = 1)
    }
  }

  test("prfExpand: expansion recovers a synonym doc the raw query misses") {
    // docs 1-3 match "engine" and all share the co-occurring term
    // "turbine"; doc 4 says only "turbine" — invisible to the raw query,
    // reachable after expansion. Filler docs keep turbine's corpus df low.
    val docs = (Seq(
      (1L, "engine turbine power"),
      (2L, "engine turbine speed"),
      (3L, "engine turbine heat"),
      (4L, "turbine blade maintenance")) ++
      (5L to 30L).map(i => (i, s"filler_$i words about nothing")))
      .toDF("doc_id", "text")
    val raw = retrieval.bm25Search(docs, "text", "doc_id", Seq("engine"), k = 10)
      .select("doc_id").as[Long].collect().toSet
    assert(raw == Set(1L, 2L, 3L))
    val prf = retrieval.prfExpand(docs, "text", "doc_id", Seq("engine"),
        k = 10, feedbackK = 3, expandTerms = 1)
      .select("doc_id").as[Long].collect().toSet
    assert(prf == Set(1L, 2L, 3L, 4L), prf.toString)
  }
}
