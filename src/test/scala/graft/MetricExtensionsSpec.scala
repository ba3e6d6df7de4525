package graft

import org.apache.spark.sql.functions._

import graft.core.{Metric, VecStore}
import graft.functions.vectors

class MetricExtensionsSpec extends SparkSpec {
  import spark.implicits._

  test("manhattan: hand-computed value and ascending default take") {
    val df = Seq((1L, Array(1.0, 2.0)), (2L, Array(4.0, 6.0)), (3L, Array(1.0, 2.5)))
      .toDF("vec_id", "embedding")
    val d = df.select(vectors.l1Distance(col("embedding"),
      vectors.vecLit(Seq(1.0, 2.0))).as("d"))
      .as[Double].collect().toSeq
    assert(d == Seq(0.0, 7.0, 0.5))
    // take(n) pins the metric default: distances ascend (nearest first)
    val order = VecStore(df).query(Seq(1.0, 2.0), Metric.Manhattan).take(3).collect()
      .select("vec_id").as[Long].collect().toSeq
    assert(order == Seq(1L, 3L, 2L))
    // with NO take, collect falls back to the reference's unset-take
    // default (Max): farthest first even for a distance metric
    val noTake = VecStore(df).query(Seq(1.0, 2.0), Metric.Manhattan).collect()
      .select("vec_id").as[Long].collect().toSeq
    assert(noTake == Seq(2L, 3L, 1L))
  }

  test("native L1 kernel is bit-identical to the HOF fold on real embeddings") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = vectors.vecLit((0 until 64).map(i => math.cos(i * 0.3)))
    val diff = emb.select(
        vectors.l1Distance(col("embedding"), q).as("a"),
        HofTwins.l1DistanceHof(col("embedding"), q).as("b"))
      .where(col("a") =!= col("b")).count()
    assert(diff == 0)
  }

  test("per-query batch: each query gets its own k; q0 equals single-query top-k") {
    val store = VecStore(spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet"))
    val q1 = (0 until 64).map(i => math.sin(i + 1.0))
    val q2 = (0 until 64).map(i => math.cos(2.0 * i + 1.0))
    val per = store.queryBatchPerQuery(Seq(q1, q2), Metric.Cosine, k = 7,
      roundScoreDecimals = Some(4))
    val counts = per.groupBy("q_idx").count().as[(Int, Long)].collect().toMap
    assert(counts == Map(0 -> 7L, 1 -> 7L))
    val q0ids = per.where(col("q_idx") === 0).select("vec_id").as[Long].collect().toSeq
    val single = store.query(q1, Metric.Cosine).take(7).withScoreRounding(4)
      .collect().select("vec_id").as[Long].collect().toSeq
    assert(q0ids == single)
  }
}
