package graft

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._

import graft.core.{Metric, VecStore}

/** The reference's expression-compile error taxonomy
  * (/root/reference/src/expr.rs:229-236) mapped onto Catalyst analysis:
  * UnknownColumn → UNRESOLVED_COLUMN, TypeMismatch → DATATYPE_MISMATCH,
  * and the deferred-to-collect surfacing the reference gets from storing
  * compile errors in the plan (meta.rs:605-616, 634-636) falls out of
  * DataFrame laziness. Where the reference REJECTS (float literal on int
  * column, string ordering), Spark legally coerces — a strictly wider
  * accepted surface, documented in SURVEY.md §7.0 #9. */
class ErrorTaxonomySpec extends SparkSpec {
  import spark.implicits._

  private lazy val store = VecStore(
    Seq((1L, Array(1.0, 0.0), 5)).toDF("vec_id", "embedding", "label"))

  private def messages(t: Throwable): Seq[String] =
    Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))

  test("unknown column surfaces at collect() as UNRESOLVED_COLUMN") {
    val plan = store.query(Seq(1.0, 0.0), Metric.Cosine)
      .metaFilter(col("no_such_column") > 1)
    val e = intercept[AnalysisException](plan.collect())
    assert(e.getCondition != null && e.getCondition.contains("UNRESOLVED_COLUMN"))
  }

  test("type mismatch (array compared to int) is DATATYPE_MISMATCH") {
    val plan = store.query(Seq(1.0, 0.0), Metric.Cosine)
      .metaFilter(col("embedding") > 1)
    val e = intercept[AnalysisException](plan.collect())
    assert(e.getCondition != null && e.getCondition.contains("DATATYPE_MISMATCH"))
  }

  test("Spark accepts what the reference rejects: float literal on int column") {
    // expr.rs:420-430 rejects 1.5 vs Int32; Catalyst widens — legal here.
    val n = store.query(Seq(1.0, 0.0), Metric.Cosine)
      .metaFilter(col("label") > 1.5).collect().count()
    assert(n == 1)
  }

  test("empty query batch is rejected eagerly") {
    val e = intercept[IllegalArgumentException](
      store.queryBatch(Seq.empty, Metric.Cosine).collect())
    assert(e.getMessage.contains("must not be empty"))
  }

  test("round-5 operators validate their sizing arguments eagerly") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val df = Seq((1L, 1.0)).toDF("id", "v")
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    def msg(f: => Any): String =
      intercept[IllegalArgumentException](f).getMessage
    assert(msg(graft.ops.sketch.histogram(df, col("v"), 5.0, 5.0, 3)).contains("lo < hi"))
    assert(msg(graft.ops.sketch.histogram(df, col("v"), 0.0, 1.0, 0)).contains("nbins"))
    assert(msg(graft.ops.sketch.countMin(df, col("v"), depth = 0)).contains("depth"))
    assert(msg(graft.ops.sample.quantileBins(df, col("v"), nbins = 0)).contains("nbins"))
    assert(msg(graft.ops.graph.pageRank(edges, dampingPpm = 2000000L)).contains("dampingPpm"))
    assert(msg(graft.ops.ann.knnGraph(df, k = 0)).contains("k >= 1"))
    assert(msg(graft.ops.ann.lshProbeSigsOf(Seq(1.0), 0, 4, probes = 0)).contains("probes"))
    assert(msg(graft.ops.rel.pivotAgg(df, "id", "v", Nil, "v")).contains("pivot values"))
    assert(msg(graft.ops.rel.rollupAgg(df, Nil, "v")).contains("group column"))
    assert(msg(graft.ops.rel.writeBucketed(df, "t", "/tmp/x", "id", 0)).contains("buckets"))
    assert(msg(graft.streaming.EventStream.rollingAgg(df, windowSec = 0)).contains("windowSec"))
    assert(msg(graft.ops.retrieval.buildTextIndex(df, "/tmp/x", "v", "id", 0)).contains("buckets"))
    assert(msg(graft.ops.retrieval.bm25Indexed(spark, "/tmp/x", Nil, 5)).contains("term"))
    assert(msg(graft.ops.sketch.hll(df, col("v"), Seq("id"), p = 3)).contains("p <= 16"))
    assert(msg(graft.ops.sketch.kmv(df, col("v"), Seq("id"), k = 1)).contains("k >= 2"))
    assert(msg(graft.ops.sketch.kmvOverlap(df, df, Seq("id"), k = 0)).contains("k >= 2"))
    assert(msg(graft.ops.sketch.histogramQuantile(df, Seq(1.5))).contains("[0, 1]"))
    assert(msg(graft.ops.sketch.histogramQuantileBy(df, Seq("id"), Nil)).contains("[0, 1]"))
    assert(msg(graft.ops.sketch.histogramBy(df, col("v"), Seq("id"), 1.0, 1.0, 3)).contains("lo < hi"))
    assert(msg(graft.ops.text.linearGate(df, "v", "id", Nil)).contains("non-empty weight"))
  }

  test("round-6 operators validate their sizing arguments eagerly") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val df = Seq((1L, 1.0)).toDF("id", "v")
    val docs = Seq((1L, "a b")).toDF("doc_id", "text")
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    def msg(f: => Any): String =
      intercept[IllegalArgumentException](f).getMessage
    assert(msg(graft.ops.text.gopherQuality(docs, "text", "doc_id",
      minWords = 10, maxWords = 5)).contains("minWords"))
    assert(msg(graft.streaming.EventStream.ewma(df, k = 0)).contains("k"))
    assert(msg(graft.streaming.EventStream.ewma(df, k = 33)).contains("k"))
    assert(msg(graft.ops.sketch.bloom(docs, col("text"), mBits = 10)).contains("mBits"))
    assert(msg(graft.ops.sketch.bloom(docs, col("text"), k = 0)).contains("k"))
    assert(msg(graft.ops.sketch.bloomMightContain(Seq(0L), col("text")))
      .contains("words"))
    assert(msg(graft.ops.decontam.bloomClean(docs,
      Seq((0L, 0L)).toDF("word", "bits"), "text", minHits = 0)).contains("minHits"))
    assert(msg(graft.ops.rel.groupingSetsAgg(df, Seq(Seq("nope")), Seq("id"), "v"))
      .contains("nope"))
    assert(msg(graft.ops.rel.groupingSetsAgg(df, Nil, Seq("id"), "v"))
      .contains("at least one set"))
    assert(msg(graft.ops.dedup.sigHammingPairs(df, "id", "v", maxHamming = 4))
      .contains("maxHamming"))
    assert(msg(graft.ops.graph.labelPropagation(edges, iters = -1)).contains("iters"))
  }

  test("ragged query batch (mixed dims) is rejected with both dims named") {
    val e = intercept[IllegalArgumentException](
      store.queryBatch(Seq(Seq(1.0, 0.0), Seq(1.0)), Metric.Cosine).collect())
    assert(e.getMessage.contains("dimension"))
    // the per-query batch shares the guard: the kernels would otherwise
    // score prefix dots over the shorter length
    val p = intercept[IllegalArgumentException](
      store.queryBatchPerQuery(Seq(Seq(1.0, 0.0), Seq(1.0)), Metric.Cosine, k = 1))
    assert(p.getMessage.contains("dimension") && p.getMessage.contains("got 2 and 1"),
      p.getMessage)
    val w = intercept[Exception](
      store.queryBatchPerQuery(Seq(Seq(1.0)), Metric.Cosine, k = 1).collect())
    assert(messages(w).exists(_.contains("query dim 1 does not match store vector dim 2")),
      messages(w))
  }

  test("negative k raises INVALID_LIMIT_LIKE_EXPRESSION on every top-k entry point; k = 0 is empty") {
    import graft.ops.ann
    val q = Seq(1.0, 0.0)
    val dir = java.nio.file.Files.createTempDirectory("graft-negk-").toString
    val (ivf, _) = graft.index.VecIndex.build(store.df, dir + "/idx",
      opts = graft.index.VecIndex.BuildOptions(ivfCentroids = Some(Seq(0 -> q))))
    def condition(f: => Any): String =
      String.valueOf(intercept[AnalysisException](f).getCondition)
    Seq(
      condition(store.query(q, Metric.Cosine).take(-1).collect()),
      condition(store.queryBatchPerQuery(Seq(q, q), Metric.Cosine, k = -1)),
      condition(ann.lshSearch(store, q, k = -1)),
      condition(ann.lshSearchBatch(store, Seq((0L, q)), k = -1)),
      condition(ann.ivfSearchBatch(ivf, Seq((0L, q)), k = -1, nprobe = 1))
    ).foreach(c => assert(c.startsWith("INVALID_LIMIT_LIKE_EXPRESSION"), c))
    assert(store.queryBatchPerQuery(Seq(q, q), Metric.Cosine, k = 0).count() == 0)
    assert(ann.lshSearchBatch(store, Seq((0L, q)), k = 0).count() == 0)
    assert(ann.ivfSearchBatch(ivf, Seq((0L, q)), k = 0, nprobe = 1).count() == 0)
  }

  test("round-8 surfaces validate eagerly: rp dims, packed dims, bloom shape") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    def msg(f: => Any): String =
      intercept[IllegalArgumentException](f).getMessage
    // rpSearch: query dim must match the persisted matrix's input dim
    val dir = java.nio.file.Files.createTempDirectory("graft-rperr-").toString + "/idx"
    val df = (0 until 20).map(i =>
      (i.toLong, (0 until 8).map(j => math.sin(i + j * 0.5)).toArray))
      .toDF("vec_id", "embedding")
    val (idx, _) = graft.index.VecIndex.build(df, dir,
      opts = graft.index.VecIndex.BuildOptions(rpDims = Some(4)))
    assert(msg(graft.ops.ann.rpSearch(idx, Seq(1.0, 2.0), k = 3))
      .contains("projection input dim"))
    // signBitsPacked rejects a non-positive dim
    assert(msg(graft.functions.vectors.signBitsPacked(col("embedding"), 0))
      .contains("dim"))
    // a bloom artifact whose word spine mismatches the probe's mBits is
    // rejected before any probing (wrong-shape sketch = wrong members)
    val docs = Seq((1L, "a b")).toDF("doc_id", "text")
    assert(msg(graft.ops.decontam.bloomClean(docs,
      Seq((0L, 0L)).toDF("word", "bits"), "text")).contains("words"))
  }

  test("crawl-pipeline surfaces validate eagerly: lsh tune, budget, recall levels") {
    import spark.implicits._
    def msg(f: => Any): String =
      intercept[IllegalArgumentException](f).getMessage
    val docs = Seq((1L, "a b c", "s")).toDF("doc_id", "text", "source")
    assert(msg(graft.ops.dedup.lshTune(0, 0.5)).contains("k >= 1"))
    assert(msg(graft.ops.dedup.lshTune(16, 1.0)).contains("threshold"))
    assert(msg(graft.ops.dedup.lshCollisionProb(1.5, 8, 2)).contains("s in [0,1]"))
    assert(msg(graft.ops.sample.planTokenBudget(docs, "source",
      org.apache.spark.sql.functions.lit(1), Map.empty[String, Double], 10L))
      .contains("weights"))
    assert(msg(graft.ops.sample.planTokenBudget(docs, "source",
      org.apache.spark.sql.functions.lit(1), Map("s" -> 1.0), 0L))
      .contains("budget"))
    assert(msg(graft.ops.dedup.minhashPlantedRecall(docs, "text", "doc_id",
      levels = Seq(0))).contains("levels"))
    assert(msg(graft.ops.dedup.minhashPlantedRecall(docs, "text", "doc_id",
      levels = Seq(2, 2))).contains("distinct"))
    // rpDims = 0 must fail at BUILD with a descriptive error, not later
    // in rpSearch with a bare NoSuchElementException on the empty matrix
    val vecs = Seq((1L, Array(1.0, 2.0))).toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft-rp0-").toString
    assert(msg(graft.index.VecIndex.build(vecs, dir + "/idx",
      opts = graft.index.VecIndex.BuildOptions(rpDims = Some(0))))
      .contains("rpDims"))
  }

  test("Jaccard scoring raises on a NULL set column instead of ranking it") {
    import spark.implicits._
    // a NULL set would score NULL, pass the !isnan filter, and sort
    // FIRST under takeMin — the guard turns it into a descriptive error
    val df = Seq((1L, Some(Seq(1.0, 2.0))), (2L, Option.empty[Seq[Double]]))
      .toDF("vec_id", "embedding")
    val plan = VecStore(df).query(Seq(1.0, 2.0), Metric.Jaccard)
    val e = intercept[Exception](plan.collect().count())
    assert(String.valueOf(e.getMessage).contains("NULL set") ||
      Option(e.getCause).exists(c => String.valueOf(c.getMessage).contains("NULL set")))
  }
}
