package graft

import org.apache.spark.sql.functions._

import graft.functions.vectors
import graft.ops.quant

class QuantSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("q_vec is array<tinyint> in [-127,127]; zero vectors quantize to zeros") {
    val df = quant.quantized(
      Seq((1L, Array(0.5f, -1.0f, 0.25f)), (2L, Array(0.0f, 0.0f, 0.0f)))
        .toDF("vec_id", "embedding"))
    assert(df.schema("q_vec").dataType.simpleString == "array<tinyint>")
    val rows = df.select("vec_id", "q_vec").collect()
      .map(r => r.getLong(0) -> r.getSeq[Byte](1)).toMap
    assert(rows(1L) == Seq[Byte](64, -127, 32)) // 0.5/s=63.5 -> 64; s=1/127
    assert(rows(2L) == Seq[Byte](0, 0, 0))
    assert(rows.values.flatten.forall(b => b >= -127 && b <= 127))
  }

  test("dequantized dot approximates the exact dot within int8 error bounds") {
    val q = (0 until 64).map(i => math.sin(i + 1.0))
    val (qq, qs) = quant.quantizeQuery(q)
    val stats = quant.quantized(emb)
      .select(
        vectors.dotProduct(col("embedding"), vectors.vecLit(q)).as("exact"),
        quant.dequantizedDot(col("q_vec"), col("q_scale"),
          array(qq.map(lit): _*), lit(qs)).as("approx"))
      .select(max(abs(col("exact") - col("approx"))).as("maxerr"),
        max(abs(col("exact"))).as("maxdot"))
      .head()
    // relative error of symmetric int8 ~ dim * (s_a*s_b/2); generous bound
    assert(stats.getDouble(0) < 0.05 * math.max(1.0, stats.getDouble(1)),
      s"quantization error too large: ${stats.getDouble(0)}")
  }

  test("pqEncode: per-subspace argmin with ties to the lower code id") {
    // 4 dims, 2 subspaces of 2; codebooks: s0 = [[1,0],[0,1]], s1 = [[0,1],[1,0]]
    val cbs: Seq[Seq[Seq[Double]]] =
      Seq(Seq(Seq(1.0, 0.0), Seq(0.0, 1.0)), Seq(Seq(0.0, 1.0), Seq(1.0, 0.0)))
    val df = Seq(
      (1L, Array(0.9, 0.1, 0.2, 0.9)),  // sub0 -> cw0, sub1 -> cw0
      (2L, Array(0.1, 0.9, 0.8, 0.1)),  // sub0 -> cw1, sub1 -> cw1
      (3L, Array(0.5, 0.5, 0.5, 0.5))   // equidistant: ties -> code 0
    ).toDF("vec_id", "embedding")
    val codes = quant.pqEncode(df, cbs)
      .select("vec_id", "pq_code").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(codes(1L) == Seq(0, 0))
    assert(codes(2L) == Seq(1, 1))
    assert(codes(3L) == Seq(0, 0))
  }

  test("pqAdcDot equals the dot of the query with the reconstructed codewords") {
    val q = (0 until 64).map(i => math.sin(i + 1.0))
    val cbs = quant.pqSeedCodebooks(emb, m = 4, k = 16)
    assert(cbs.length == 4 && cbs.forall(_.length == 16)
      && cbs.forall(_.forall(_.length == 16)))
    val rows = quant.pqEncode(emb, cbs)
      .select(col("pq_code"),
        quant.pqAdcDot(col("pq_code"), cbs, q).as("adc"))
      .limit(50).collect()
    rows.foreach { r =>
      val code = r.getSeq[Int](0)
      // reconstruction = concatenated chosen codewords; its exact dot with
      // q must equal the lookup-table sum bit-for-bit (same fold per sub)
      val expected = (0 until 4).map { s =>
        val cw = cbs(s)(code(s))
        val qs = q.slice(s * 16, (s + 1) * 16)
        var acc = 0.0
        var i = 0
        while (i < 16) { acc += qs(i) * cw(i); i += 1 }
        acc
      }.sum
      assert(r.getDouble(1) == expected)
    }
  }

  test("a wrong-dimension PQ query raises on every PQ scoring path") {
    val cbs = quant.pqSeedCodebooks(emb, m = 4, k = 8)
    val dir = java.nio.file.Files.createTempDirectory("graft-pqdim-").toString + "/idx"
    val (idx, _) = graft.index.VecIndex.build(emb, dir,
      opts = graft.index.VecIndex.BuildOptions(
        ivfCentroids = Some(graft.ops.ann.seedCentroids(emb, 4)),
        pqCodebooks = Some(cbs)))
    // a short query would score prefix dots, a long one drop its tail
    Seq(63, 65).foreach { d =>
      val q = (0 until d).map(i => math.sin(i + 1.0))
      val msg = s"query dim $d does not match the PQ codebooks' dim 64"
      Seq[() => Any](
        () => quant.pqAdcDot(col("pq_code"), cbs, q),
        () => quant.pqSearchDot(emb, cbs, q, k = 5).collect(),
        () => graft.ops.ann.ivfPqSearch(idx, q, k = 5, nprobe = 2).collect()
      ).foreach { run =>
        val e = intercept[IllegalArgumentException](run())
        assert(e.getMessage.contains(msg), e.getMessage)
      }
    }
  }

  test("pq top-k is a sane candidate pool for exact rerank") {
    val q = (0 until 64).map(i => math.sin(i + 1.0))
    val cbs = quant.pqSeedCodebooks(emb, m = 4, k = 16)
    // candidate pool of 50 from 16-code-per-subspace PQ should catch most
    // of the exact top-10 (coarse codebooks: this is the first-pass filter)
    val pool = quant.pqSearchDot(emb, cbs, q, k = 50)
      .select("vec_id").as[Long].collect().toSet
    val exact = emb
      .select(col("vec_id"), vectors.dotProduct(col("embedding"), vectors.vecLit(q)).as("s"))
      .orderBy(col("s").desc, col("vec_id")).limit(10)
      .select("vec_id").as[Long].collect().toSet
    assert((pool intersect exact).size >= 5,
      s"PQ pool missed too much of the exact top-10: ${(pool intersect exact).size}")
  }

  test("quantized top-10 largely agrees with exact top-10 (rerank recall)") {
    val q = (0 until 64).map(i => math.sin(i + 1.0))
    val (qq, qs) = quant.quantizeQuery(q)
    val approx = quant.quantized(emb)
      .select(col("vec_id"), quant.dequantizedDot(col("q_vec"), col("q_scale"),
        array(qq.map(lit): _*), lit(qs)).as("s"))
      .orderBy(col("s").desc, col("vec_id")).limit(10)
      .select("vec_id").as[Long].collect().toSet
    val exact = emb
      .select(col("vec_id"), vectors.dotProduct(col("embedding"), vectors.vecLit(q)).as("s"))
      .orderBy(col("s").desc, col("vec_id")).limit(10)
      .select("vec_id").as[Long].collect().toSet
    assert((approx intersect exact).size >= 7,
      s"int8 first-pass should mostly agree with exact: $approx vs $exact")
  }
}
