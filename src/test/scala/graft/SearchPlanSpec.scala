package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{Cmp, Metric, VecStore}
import graft.ops.ann

/** Query-plan semantics mirroring the reference's builder tests
  * (/root/reference/tests/vec_store_tests.rs, meta_tests.rs —
  * FIXTURES.md §A1/§A3). */
class SearchPlanSpec extends SparkSpec {
  import spark.implicits._

  private def store(rows: Seq[(Long, Seq[Double])]): VecStore =
    VecStore(rows.toDF("vec_id", "embedding"))

  private def ids(df: DataFrame): Seq[Long] =
    df.select("vec_id").as[Long].collect().toSeq

  private def idScores(df: DataFrame): Seq[(Long, Double)] =
    df.select("vec_id", "score").as[(Long, Double)].collect().toSeq

  private val unitCircle = Seq(
    0L -> Seq(1.0, 0.0), 1L -> Seq(0.8, 0.6), 2L -> Seq(0.6, 0.8),
    3L -> Seq(0.0, 1.0), 4L -> Seq(-0.6, 0.8))

  test("cosine ranking order, descending by default (Max for cosine)") {
    val got = idScores(store(unitCircle).query(Seq(1.0, 0.0), Metric.Cosine).collect())
    assert(got.map(_._1) == Seq(0L, 1L, 2L, 3L, 4L))
    got.map(_._2).zip(Seq(1.0, 0.8, 0.6, 0.0, -0.6)).foreach {
      case (g, e) => assert(math.abs(g - e) < 1e-12)
    }
  }

  test("score filters: > >= < semantics (ref vec_store_tests.rs:853-896)") {
    val s = store(unitCircle)
    def run(t: Double, c: Cmp) =
      idScores(s.query(Seq(1.0, 0.0), Metric.Cosine).vecFilter(t, c).collect()).map(_._2)
    assert(run(0.7, Cmp.Gt).forall(_ > 0.7) && run(0.7, Cmp.Gt).size == 2)
    assert(run(0.6, Cmp.Gte).size == 3)
    assert(run(0.5, Cmp.Lt).size == 2)
  }

  test("euclidean take is ascending by default; take(k) limits; take(0) empty") {
    val s = store(Seq(0L -> Seq(0.0, 0.0), 1L -> Seq(3.0, 4.0), 2L -> Seq(1.0, 1.0)))
    val got = idScores(s.query(Seq(0.0, 0.0), Metric.Euclidean).take(2).collect())
    assert(got == Seq((0L, 0.0), (2L, 2.0)))
    assert(s.query(Seq(0.0, 0.0), Metric.Euclidean).take(0).collect().count() == 0)
  }

  test("takeMax overrides euclidean direction") {
    val s = store(Seq(0L -> Seq(0.0, 0.0), 1L -> Seq(3.0, 4.0), 2L -> Seq(1.0, 1.0)))
    val got = ids(s.query(Seq(0.0, 0.0), Metric.Euclidean).takeMax(1).collect())
    assert(got == Seq(1L))
  }

  test("default k = all rows (ref vec.rs:213)") {
    val s = store(unitCircle)
    assert(s.query(Seq(1.0, 0.0), Metric.Cosine).collect().count() == 5)
  }

  test("batch queries merge into ONE global top-k pool (ref vec_store_tests.rs:899-924)") {
    val s = store(Seq(0L -> Seq(1.0, 0.0), 1L -> Seq(0.0, 1.0), 2L -> Seq(-1.0, 0.0)))
    val got = idScores(
      s.queryBatch(Seq(Seq(1.0, 0.0), Seq(0.0, 1.0)), Metric.Cosine).take(2).collect())
    // one merged list containing exactly the two perfect matches
    assert(got.map(_._2) == Seq(1.0, 1.0))
    assert(got.map(_._1).toSet == Set(0L, 1L))
  }

  test("metadata filter composes with scoring; nulls never match") {
    val df = Seq(
      (0L, Seq(1.0, 0.0), Some("A")), (1L, Seq(0.8, 0.6), None),
      (2L, Seq(0.6, 0.8), Some("B")), (3L, Seq(0.0, 1.0), Some("A")))
      .toDF("vec_id", "embedding", "grade")
    val got = ids(VecStore(df).query(Seq(1.0, 0.0), Metric.Cosine)
      .metaFilter(col("grade") === "A").collect())
    assert(got == Seq(0L, 3L))
  }

  test("result shape: id, score, metadata columns sorted by name (ref meta.rs:723-821)") {
    val df = Seq((0L, Seq(1.0, 0.0), "x", 3)).toDF("vec_id", "embedding", "zeta", "alpha")
    val out = VecStore(df).query(Seq(1.0, 0.0), Metric.Cosine).collect()
    assert(out.columns.toSeq == Seq("vec_id", "score", "alpha", "zeta"))
  }

  test("wrong-dim query fails at collect with a descriptive error (ref vec_store_tests.rs:52-63)") {
    val s = store(unitCircle) // 2-dim store
    val e = intercept[Exception] {
      s.query(Seq(1.0, 2.0, 3.0), Metric.Cosine).collect().count()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("query dim 3")))
  }

  test("NaN scores are dropped (ref vec_compute.rs:237-239)") {
    val df = Seq((0L, Seq(Double.NaN, 1.0)), (1L, Seq(1.0, 0.0))).toDF("vec_id", "embedding")
    val got = ids(VecStore(df).query(Seq(1.0, 0.0), Metric.DotProduct).collect())
    assert(got == Seq(1L))
  }

  test("small-catalog end-to-end smoke (ref README.md:59-136, FIXTURES.md A3)") {
    // 8-row catalog, 4-dim vectors (README.md:61-113); cosine vs [1,0,0,0]
    // with price <= 40 AND version >= 2 AND mfg >= 2024-01-01 AND
    // exp >= 2024-06-01 → indices {4,2,6} scores {0.970142, 0.707107, 0.707107}
    val vecs = Seq(
      Seq(1.0, 0.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0, 0.0), Seq(1.0, 1.0, 0.0, 0.0),
      Seq(0.0, 0.0, 1.0, 0.0), Seq(0.8, 0.2, 0.0, 0.0), Seq(0.0, 0.0, 0.0, 1.0),
      Seq(0.6, 0.6, 0.0, 0.0), Seq(0.0, 0.5, 0.5, 0.0))
    val names = Seq("widget", "gizmo", "adapter", "battery", "charger", "cable", "dock", "earbuds")
    val prices = Seq(19.99, 49.00, 12.50, 8.99, 29.99, 5.99, 39.50, 59.99)
    val mfg = Seq("2024-01-05", "2024-01-10", "2024-02-15", "2024-03-01",
      "2024-03-20", "2024-04-05", "2024-05-01", "2024-05-12")
    val exp = Seq("2025-01-05", "2024-12-31", "2024-10-01", "2024-06-01",
      "2025-06-01", "2024-08-01", "2025-01-01", "2024-12-01")
    val version = Seq(1, 2, 2, 1, 3, 1, 2, 3)
    val rows = (0 until 8)
      .map(i => (i.toLong, names(i), prices(i), mfg(i), exp(i), version(i), vecs(i)))
      .toDF("vec_id", "name", "price", "mfg", "exp", "version", "embedding")
      .withColumn("mfg", to_timestamp(col("mfg")))
      .withColumn("exp", to_timestamp(col("exp")))
    // adapter (1,1,0,0) and dock (0.6,0.6,0,0) are mathematically tied at
    // 1/sqrt(2) but differ by one double ulp — score quantization collapses
    // the near-tie so the (score, id) tiebreak yields the reference order.
    val out = VecStore(rows).query(Seq(1.0, 0.0, 0.0, 0.0), Metric.Cosine)
      .metaFilter(col("price") <= 40 && col("version") >= 2 &&
        col("mfg") >= to_timestamp(lit("2024-01-01")) &&
        col("exp") >= to_timestamp(lit("2024-06-01")))
      .take(5).withScoreRounding(6).collect()
    assert(ids(out) == Seq(4L, 2L, 6L))
    val scores = out.select("score").as[Double].collect().toSeq
    Seq(0.970142, 0.707107, 0.707107).zip(scores).foreach {
      case (e, g) => assert(math.abs(e - g) < 1e-5, s"$g vs $e")
    }
    assert(out.columns.toSeq ==
      Seq("vec_id", "score", "exp", "mfg", "name", "price", "version"))
  }

  test("Hamming metric: distances by hand, ascending default, full combinator surface") {
    // 3-bit sign codes as double arrays; query 〈1,1,1〉
    val sigs = Seq(
      0L -> Seq(1.0, 1.0, 1.0), // d = 0
      1L -> Seq(1.0, 1.0, 0.0), // d = 1
      2L -> Seq(0.0, 0.0, 1.0), // d = 2
      3L -> Seq(0.0, 0.0, 0.0)) // d = 3
    val s = store(sigs)
    val got = idScores(s.query(Seq(1.0, 1.0, 1.0), Metric.Hamming).take(4).collect())
    assert(got == Seq(0L -> 0.0, 1L -> 1.0, 2L -> 2.0, 3L -> 3.0))
    // distance semantics compose with the score filter and takeMax
    assert(ids(s.query(Seq(1.0, 1.0, 1.0), Metric.Hamming)
      .vecFilter(2.0, Cmp.Lt).collect()).toSet == Set(0L, 1L))
    assert(ids(s.query(Seq(1.0, 1.0, 1.0), Metric.Hamming)
      .takeMax(1).collect()) == Seq(3L))
  }

  test("Jaccard metric: set scores by hand; ragged set sizes are legal (no dim guard)") {
    val sets = Seq(
      0L -> Seq(1.0, 2.0, 3.0),      // |∩|=3 |∪|=3 → 1.0
      1L -> Seq(1.0, 2.0),           // |∩|=2 |∪|=3 → 2/3
      2L -> Seq(1.0, 4.0, 5.0, 6.0), // |∩|=1 |∪|=6 → 1/6
      3L -> Seq.empty[Double])       // |∩|=0 |∪|=3 → 0.0
    val got = idScores(store(sets)
      .query(Seq(1.0, 2.0, 3.0), Metric.Jaccard)
      .take(4).withScoreRounding(4).collect())
    assert(got == Seq(0L -> 1.0, 1L -> 0.6667, 2L -> 0.1667, 3L -> 0.0))
    // two empty sets score 0.0 (empty-union convention), never NaN
    val empty = idScores(store(Seq(9L -> Seq.empty[Double]))
      .query(Seq.empty[Double], Metric.Jaccard).collect())
    assert(empty == Seq(9L -> 0.0))
  }

  test("one generated class per store, not per query: per-query scalars are bound by reference") {
    // Two query vectors must produce byte-identical whole-stage source,
    // so Spark's codegen cache compiles each store's scoring stage once.
    // Compared as strings, not global CodegenMetrics counters, so suites
    // sharing the JVM cannot perturb it. Parquet-backed: a local relation
    // would be folded at optimization and never reach codegen.
    val dim = 8
    val rows = (0 until 64).map(i =>
      (i.toLong, (0 until dim).map(j => math.sin(i * 13.0 + j)).toArray))
    val dir = java.nio.file.Files.createTempDirectory("graft-codegen-").toString + "/idx"
    val (idx, _) = graft.index.VecIndex.build(rows.toDF("vec_id", "embedding"), dir,
      opts = graft.index.VecIndex.BuildOptions(rpDims = Some(4)))
    assert(idx.invNormCol.nonEmpty)
    val plain = VecStore(idx.df.drop(graft.index.VecIndex.InvNormCol))
    val q1 = (0 until dim).map(j => math.cos(j + 1.0))
    val q2 = (0 until dim).map(j => math.sin(3.0 * j) + 0.5)
    def source(df: DataFrame): Seq[String] = df.queryExecution.debug.codegenToSeq().map(_._2)
    val searches: Seq[(String, Seq[Double] => DataFrame)] = Seq(
      "collect, store inv_norm" -> (q => idx.query(q, Metric.Cosine).take(3).collect()),
      "collect, no inv_norm" -> (q => plain.query(q, Metric.Cosine).take(3).collect()),
      "rpSearch" -> (q => ann.rpSearch(idx, q, k = 3)),
      "matryoshkaSearch" -> (q => ann.matryoshkaSearch(idx, q, k = 3, prefixDims = 4)))
    searches.foreach { case (name, search) =>
      val (a, b) = (source(search(q1)), source(search(q2)))
      assert(a.nonEmpty, s"$name: no whole-stage codegen in the plan")
      assert(a == b, s"$name: generated source differs between two query vectors")
    }
  }
}
