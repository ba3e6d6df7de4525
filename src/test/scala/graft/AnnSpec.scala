package graft

import org.apache.spark.sql.functions._

import graft.core.{Metric, VecStore}
import graft.ops.ann

class AnnSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 16
  private def vec(seed: Int): Seq[Double] = (0 until dim).map(i => math.sin(seed * 37.0 + i))
  private lazy val df = (0 until 200)
    .map(i => (i.toLong, vec(i).toArray)).toDF("vec_id", "embedding")
  private lazy val store = VecStore(df)

  test("driver-side lshSignatureOf matches the column expression") {
    val got = df.select(col("vec_id"),
        ann.lshSignature(col("embedding"), t = 0, nbits = 8, dim = dim).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0 until 200 by 17).foreach { i =>
      assert(got(i.toLong) == ann.lshSignatureOf(vec(i), 0, 8), s"row $i")
    }
  }

  test("fused lsh signature kernel equals the per-bit composed form") {
    val diff = df.select(
        ann.lshSignature(col("embedding"), t = 1, nbits = 12, dim = dim).as("a"),
        HofTwins.lshSignatureHof(col("embedding"), t = 1, nbits = 12, dim = dim).as("b"))
      .where(col("a") =!= col("b")).count()
    assert(diff == 0)
  }

  test("lshSearch returns the bucket's brute-force order and finds an exact match") {
    val q = vec(42) // row 42 is in the store: same signature, cosine 1
    val hits = ann.lshSearch(store, q, k = 5, nbits = 4)
      .select("vec_id", "score").as[(Long, Double)].collect()
    // vec(33) is a near-copy of vec(42) (37*9 = 333 ≈ 53*2π), so both score
    // a rounded 1.0 — assert membership + score, not first place.
    val exactHit = hits.find(_._1 == 42L)
    assert(exactHit.isDefined && math.abs(exactHit.get._2 - 1.0) < 1e-9)
    assert(math.abs(hits.head._2 - 1.0) < 1e-9)
    // every hit really is in the query's bucket
    val qSig = ann.lshSignatureOf(q, 0, 4)
    val sigs = df.select(col("vec_id"),
        ann.lshSignature(col("embedding"), 0, 4, dim).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    hits.foreach { case (id, _) => assert(sigs(id) == qSig) }
  }

  test("LSH-partitioned index: same results as in-scan signature, via partition pruning") {
    val dir = java.nio.file.Files.createTempDirectory("graft-lshidx-").toString + "/idx"
    val (idx, _) = graft.index.VecIndex.build(df, dir,
      opts = graft.index.VecIndex.BuildOptions(lshBits = Some(4)))
    val q = vec(9)
    val direct = ann.lshSearch(store, q, k = 5, nbits = 4)
      .select("vec_id").as[Long].collect().toSeq
    val viaIndex = ann.lshSearch(idx, q, k = 5, nbits = 4)
    assert(viaIndex.select("vec_id").as[Long].collect().toSeq == direct)
    // the bucket filter must reach the read as a PARTITION filter, not a
    // post-scan predicate — that's what makes it skip 15/16 of the data
    val physical = viaIndex.queryExecution.executedPlan.toString
    assert(physical.contains("PartitionFilters") &&
      physical.contains("lsh_bucket"), s"no partition pruning in:\n$physical")
  }

  test("lshSearch falls back to in-scan when the persisted bucket width mismatches") {
    val dir = java.nio.file.Files.createTempDirectory("graft-lshmm-").toString + "/idx"
    val (idx, _) = graft.index.VecIndex.build(df, dir,
      opts = graft.index.VecIndex.BuildOptions(lshBits = Some(4)))
    val q = vec(5)
    // query at nbits=5 against a 4-bit index: the persisted bucket values
    // can never match a 5-bit signature — the search must recompute
    // in-scan and return the same rows as a plain store
    val direct = ann.lshSearch(store, q, k = 5, nbits = 5)
      .select("vec_id").as[Long].collect().toSeq
    val viaIndex = ann.lshSearch(idx, q, k = 5, nbits = 5)
      .select("vec_id").as[Long].collect().toSeq
    assert(viaIndex == direct && direct.nonEmpty)
  }

  test("IVF-partitioned index: probe = partition pruning; equals ad-hoc ivfSearch") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfidx-").toString + "/idx"
    val cents = ann.seedCentroids(df, 8)
    val (idx, _) = graft.index.VecIndex.build(df, dir,
      opts = graft.index.VecIndex.BuildOptions(ivfCentroids = Some(cents)))
    // centroids round-trip through the index metadata
    val persisted = idx.indexMeta.flatMap(_.ivfCentroids)
    assert(persisted.isDefined && persisted.get == cents)
    val q = vec(7)
    val viaIdx = ann.ivfSearchIndexed(idx, q, k = 10, nprobe = 3)
    val adhoc = ann.ivfSearch(store, cents, q, k = 10, nprobe = 3)
    assert(viaIdx.select("vec_id").as[Long].collect().toSeq ==
      adhoc.select("vec_id").as[Long].collect().toSeq)
    // the probe must reach the scan as a PARTITION filter (directory
    // pruning: non-probed cluster lists are never read)
    val physical = viaIdx.queryExecution.executedPlan.toString
    assert(physical.contains("PartitionFilters") && physical.contains("cluster_id"),
      s"no cluster partition pruning in:\n$physical")
  }

  test("ivfSearchBatch agrees with per-query ivfSearchIndexed; partition-pruned") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfb-").toString + "/idx"
    val (idx, _) = graft.index.VecIndex.build(df, dir,
      opts = graft.index.VecIndex.BuildOptions(
        ivfCentroids = Some(ann.seedCentroids(df, 8))))
    val qs = Seq(3L -> vec(7), 4L -> vec(11))
    val batch = ann.ivfSearchBatch(idx, qs, k = 5, nprobe = 3)
    val got = batch.select("query_id", "vec_id", "score")
      .as[(Long, Long, Double)].collect().toSet
    val want = qs.flatMap { case (qid, q) =>
      ann.ivfSearchIndexed(idx, q, k = 5, nprobe = 3)
        .select("vec_id", "score").as[(Long, Double)].collect()
        .map { case (v, s) => (qid, v, s) }
    }.toSet
    assert(got === want && got.nonEmpty)
    val p = batch.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") && p.contains("cluster_id"),
      s"no cluster partition pruning in:\n${p.take(900)}")
    assert(p.contains("WindowGroupLimit"), s"top-k must be bounded:\n${p.take(600)}")
  }

  test("ivfSearchIndexed refuses a store with no persisted centroids") {
    val e = intercept[IllegalArgumentException] {
      ann.ivfSearchIndexed(store, vec(1), k = 5, nprobe = 2)
    }
    assert(e.getMessage.contains("ivfCentroids"))
  }

  test("ivfAssign maps each centroid's own vector to itself; ties -> lowest cid") {
    val cents = ann.seedCentroids(df, 8)
    val assigned = ann.ivfAssign(df, cents).select("vec_id", "cluster_id")
      .as[(Long, Int)].collect().toMap
    cents.foreach { case (cid, _) => assert(assigned(cid.toLong) == cid) }
    val dup = Seq((0L, vec(3).toArray)).toDF("vec_id", "embedding")
    val twoSame = ann.ivfAssign(dup, Seq((5, vec(3)), (6, vec(3))))
    assert(twoSame.select("cluster_id").head().getInt(0) == 5)
  }

  test("kmeans recovers planted cluster centers; empty clusters keep old centroid") {
    // two tight planted clusters around distinct centers
    def around(center: Double, seed: Int) =
      (0 until dim).map(i => center + 0.01 * math.sin(seed * 13.0 + i))
    val pts = (0 until 50).map(i => (i.toLong, around(5.0, i).toArray)) ++
      (50 until 100).map(i => (i.toLong, around(-5.0, i).toArray))
    val cdf = pts.toDF("vec_id", "embedding")
    val cents = ann.kmeans(cdf, k = 2, iters = 4)
    val centers = cents.map(_._2.sum / dim).sorted
    assert(math.abs(centers(0) - -5.0) < 0.1 && math.abs(centers(1) - 5.0) < 0.1,
      s"centroids should sit near ±5, got $centers")
    // every point lands in the cluster of its planted center
    val assigned = ann.ivfAssign(cdf, cents).select("vec_id", "cluster_id")
      .as[(Long, Int)].collect().toMap
    assert(assigned.filter(_._1 < 50).values.toSet.size == 1)
    assert(assigned.filter(_._1 >= 50).values.toSet.size == 1)
  }

  test("labelCentroids: fixed-point means match a driver-side computation") {
    val data = Seq(
      (0, Array(1.0, -2.0)), (0, Array(3.0, 4.0)), (1, Array(0.5, 0.25)))
      .toDF("label", "embedding")
    val got = ann.labelCentroids(data)
      .as[(Int, Int, Double, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    def q(x: Double) = math.floor(x * 1.0e7).toLong
    assert(got((0, 0)) == (((q(1.0) + q(3.0)).toDouble / (1.0e7 * 2), 2L)))
    assert(got((0, 1)) == (((q(-2.0) + q(4.0)).toDouble / (1.0e7 * 2), 2L)))
    assert(got((1, 0)) == ((q(0.5).toDouble / 1.0e7, 1L)))
    assert(got((0, 0))._1 == 2.0 && got((0, 1))._1 == 1.0)
  }

  test("recallAtK equals the manually intersected exact/approx top-k") {
    val qs = Seq(vec(7), vec(42))
    val r = ann.recallAtK(store, qs, k = 10, nbits = 4)
      .as[(Int, Long, Double)].collect().toSeq
    assert(r.map(_._1) == Seq(0, 1))
    qs.zipWithIndex.foreach { case (q, i) =>
      val exact = store.query(q, Metric.Cosine).take(10).withScoreRounding(4)
        .collect().select("vec_id").as[Long].collect().toSet
      val approx = ann.lshSearch(store, q, k = 10, nbits = 4)
        .select("vec_id").as[Long].collect().toSet
      val hits = (exact & approx).size
      assert(r(i)._2 == hits.toLong && r(i)._3 == hits / 10.0, s"query $i")
    }
    // recall is a fraction of k
    assert(r.forall { case (_, h, rec) => h >= 0 && h <= 10 && rec >= 0.0 && rec <= 1.0 })
  }

  test("recallOf against the exact search itself is 1.0") {
    val r = ann.recallOf(store, Seq(vec(3), vec(9)), k = 5)((st, q) =>
      st.query(q, graft.core.Metric.Cosine).take(5).withScoreRounding(4).collect())
      .as[(Int, Long, Double)].collect().toSeq
    assert(r == Seq((0, 5L, 1.0), (1, 5L, 1.0)))
  }

  test("ivfSearch with all centroids probed equals exact brute-force top-k") {
    val q = vec(7)
    val cents = ann.seedCentroids(df, 8)
    val ivf = ann.ivfSearch(store, cents, q, k = 10, nprobe = 8)
      .select("vec_id").as[Long].collect().toSeq
    val exact = store.query(q, Metric.Cosine).take(10).withScoreRounding(4)
      .collect().select("vec_id").as[Long].collect().toSeq
    assert(ivf == exact)
  }

  test("ivfPqSearch: partition pruning + ADC over persisted codes, matches ad-hoc PQ") {
    import graft.ops.quant
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq-").toString + "/idx"
    val cents = ann.seedCentroids(df, 8)
    val cbs = quant.pqSeedCodebooks(df, m = 4, k = 8)
    val (idx, _) = graft.index.VecIndex.build(df, dir,
      opts = graft.index.VecIndex.BuildOptions(
        ivfCentroids = Some(cents), pqCodebooks = Some(cbs)))
    assert(idx.indexMeta.flatMap(_.pqCodebooks).contains(cbs)) // codebooks round-trip
    val q = vec(5)
    val res = ann.ivfPqSearch(idx, q, k = 5, nprobe = 3)
    // probe filter must prune partition directories, not scan-and-filter
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cluster_id"), plan.take(800))
    // equals the ad-hoc form: assign + restrict to the 3 probed lists,
    // encode in-scan, ADC-score, top-5
    val probed = cents.map { case (cid, cv) =>
      val d = cv.zip(q).map { case (a, b) => (a - b) * (a - b) }.sum
      (cid, d)
    }.sortBy { case (cid, d) => (d, cid) }.take(3).map(_._1)
    val adHoc = quant.pqSearchDot(
        ann.ivfAssign(df, cents).filter(col("cluster_id").isin(probed: _*)),
        cbs, q, k = 5)
      .select("vec_id", "score").as[(Long, Double)].collect().toSeq
    assert(res.select("vec_id", "score").as[(Long, Double)].collect().toSeq == adHoc)
  }

  test("rpSearch: persisted JL column + matrix round-trip; top-k matches a manual rerank") {
    import graft.functions.vectors
    val dir = java.nio.file.Files.createTempDirectory("graft-rpidx-").toString + "/idx"
    val (idx, _) = graft.index.VecIndex.build(df, dir,
      opts = graft.index.VecIndex.BuildOptions(rpDims = Some(8)))
    // matrix round-trips through _graft_meta bit-for-bit
    val mat = vectors.rpMatrix(dim, 8)
    assert(idx.indexMeta.flatMap(_.rpMatrix).contains(mat))
    // persisted column equals an in-scan projection of the raw vectors
    val diff = idx.df.select(col(graft.index.VecIndex.RpVecCol).as("a"),
        vectors.projectWith(col("embedding"), mat).as("b"))
      .where(col("a") =!= col("b")).count()
    assert(diff == 0)
    // rp_vec is index-internal: never leaks into SearchPlan results
    val q = vec(7)
    val cols = idx.query(q, Metric.Cosine).take(3).collect().columns.toSeq
    assert(!cols.contains("rp_vec"), s"rp_vec leaked into $cols")
    // rpSearch == manual two-stage (quantized rp pool -> exact rerank)
    val got = ann.rpSearch(idx, q, k = 5)
      .select("vec_id").as[Long].collect().toSeq
    val pq = vectors.projectOf(q, mat)
    val pool = idx.df.select(col("vec_id"),
        vectors.quantize(vectors.score(Metric.Cosine,
          col(graft.index.VecIndex.RpVecCol), vectors.vecLit(pq)), 4).as("rs"))
      .orderBy(col("rs").desc, col("vec_id")).limit(20)
      .select("vec_id").as[Long].collect().toSet
    val manual = idx.df.where(col("vec_id").isin(pool.toSeq: _*))
      .select(col("vec_id"),
        vectors.quantize(vectors.score(Metric.Cosine,
          col("embedding"), vectors.vecLit(q)), 4).as("s"))
      .orderBy(col("s").desc, col("vec_id")).limit(5)
      .select("vec_id").as[Long].collect().toSeq
    assert(got == manual)
    // an un-projected index refuses rpSearch with a descriptive error
    val plain = VecStore(df)
    val err = intercept[IllegalArgumentException](ann.rpSearch(plain, q, k = 5))
    assert(err.getMessage.contains("rpDims"))
  }

  test("lshSearchMultiProbe: superset recall of the single bucket; probes ordered by margin") {
    val q = vec(7)
    val single = ann.lshSearch(store, q, k = 10, nbits = 4)
      .select("vec_id").as[Long].collect().toSet
    val multi = ann.lshSearchMultiProbe(store, q, k = 10, nbits = 4, probes = 5)
      .select("vec_id").as[Long].collect().toSet
    // exact top-10 for recall comparison
    val exact = store.query(q, graft.core.Metric.Cosine).take(10)
      .withScoreRounding(4).collect()
      .select("vec_id").as[Long].collect().toSet
    assert((multi & exact).size >= (single & exact).size,
      "extra probes must never lose recall")
    // probe set: query's own signature first, all distinct, right count
    val sigs = ann.lshProbeSigsOf(q, t = 0, nbits = 4, probes = 5)
    assert(sigs.head == ann.lshSignatureOf(q, 0, 4))
    assert(sigs.distinct.size == 5)
    // every multi-probe hit's signature is in the probe set
    val sigOf = df.select(col("vec_id"),
        ann.lshSignature(col("embedding"), 0, 4, dim).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    multi.foreach(id => assert(sigs.contains(sigOf(id))))
  }

  test("lshSearchMultiProbe on a partitioned index prunes to the probed directories") {
    val dir = java.nio.file.Files.createTempDirectory("graft-lshidx-").toString + "/idx"
    val (idx, _) = graft.index.VecIndex.build(df, dir,
      opts = graft.index.VecIndex.BuildOptions(lshBits = Some(4)))
    val q = vec(11)
    val direct = ann.lshSearchMultiProbe(store, q, k = 5, nbits = 4, probes = 3)
      .select("vec_id").as[Long].collect().toSeq
    val viaIndex = ann.lshSearchMultiProbe(idx, q, k = 5, nbits = 4, probes = 3)
    assert(viaIndex.select("vec_id").as[Long].collect().toSeq == direct)
    val plan = viaIndex.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("lsh_bucket"),
      plan.take(600))
  }

  test("knnGraph matches an independently-built bucketed top-k cross-check") {
    import graft.functions.vectors
    import org.apache.spark.sql.expressions.Window
    val out = ann.knnGraph(df, k = 2, vecCol = "embedding", dim = dim,
        tables = 1, nbits = 3)
      .as[(Long, Long, Double, Int)].collect().toSet
    // twin: same bucketing, brute-force cosine, window rank
    val sigs = df.withColumn("sig", ann.lshSignature(col("embedding"), 0, 3, dim))
      .withColumn("inv", vectors.invNorm(col("embedding")))
    val expected = sigs.as("a").join(sigs.as("b"),
        col("a.sig") === col("b.sig") && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"),
        vectors.quantize(vectors.dotProduct(col("a.embedding"), col("b.embedding"))
          * col("a.inv") * col("b.inv"), 4).as("cos"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("src")).orderBy(col("cos").desc, col("dst"))))
      .where(col("rnk") <= 2)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(out == expected)
    assert(out.nonEmpty, "3-bit buckets over 200 vectors must collide")
  }

  test("knnJoin: neighbors come only from the right side; disjoint split covers knnGraph pairs") {
    val left = df.where(col("vec_id") % 5 === 0)
    val right = df.where(col("vec_id") % 5 =!= 0)
    val out = ann.knnJoin(left, right, k = 2, vecCol = "embedding",
        dim = dim, nbits = 3)
      .as[(Long, Long, Double, Int)].collect()
    assert(out.nonEmpty)
    assert(out.forall { case (src, dst, _, _) => src % 5 == 0 && dst % 5 != 0 })
    // every (src, dst) the join emits is a same-bucket pair of the full
    // graph's candidate structure (same signature function)
    val sigOf = df.select(col("vec_id"),
        ann.lshSignature(col("embedding"), 0, 3, dim).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.foreach { case (src, dst, _, _) => assert(sigOf(src) == sigOf(dst)) }
  }

  test("centroidDrift: hand-computed centroids; identical corpora = (1, 0)") {
    val a = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val b = Seq((3L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    // mean_a = (1,0), mean_b = (0,1): cos 0, shift (1-0)^2 + (0-1)^2 = 2
    val r = ann.centroidDrift(a, b)
      .as[(Long, Long, Double, Double)].head()
    assert(r == ((2L, 1L, 0.0, 2.0)))
    val self = ann.centroidDrift(a, a)
      .as[(Long, Long, Double, Double)].head()
    assert(self == ((2L, 2L, 1.0, 0.0)))
  }

  test("hardNegatives: every pair crosses labels; rank is over negatives only") {
    import graft.functions.vectors
    import org.apache.spark.sql.expressions.Window
    val dfl = df.withColumn("label", (col("vec_id") % 4).cast("int"))
    val out = ann.hardNegatives(dfl, k = 2, vecCol = "embedding",
        dim = dim, nbits = 3)
      .as[(Long, Long, Double, Int)].collect()
    assert(out.nonEmpty)
    val labelOf = dfl.select("vec_id", "label")
      .as[(Long, Int)].collect().toMap
    out.foreach { case (src, dst, _, _) =>
      assert(labelOf(src) != labelOf(dst), s"($src, $dst) share a label") }
    // twin: the label gate applies BEFORE the rank — same bucketing,
    // brute-force cosine over cross-label same-bucket pairs, then rank
    val sigs = dfl.withColumn("sig", ann.lshSignature(col("embedding"), 0, 3, dim))
      .withColumn("inv", vectors.invNorm(col("embedding")))
    val expected = sigs.as("a").join(sigs.as("b"),
        col("a.sig") === col("b.sig") && col("a.vec_id") =!= col("b.vec_id") &&
          col("a.label") =!= col("b.label"))
      .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"),
        vectors.quantize(vectors.dotProduct(col("a.embedding"), col("b.embedding"))
          * col("a.inv") * col("b.inv"), 4).as("cos"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("src")).orderBy(col("cos").desc, col("dst"))))
      .where(col("rnk") <= 2)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(out.toSet == expected)
  }

  test("knnGraph bucketCap drops oversized buckets (recall-for-bound knob)") {
    // every bucket with >= 2 members exceeds cap 1, and singleton buckets
    // yield no pairs — the graph must come back empty, not explode
    val out = ann.knnGraph(df, k = 2, vecCol = "embedding", dim = dim,
      tables = 1, nbits = 2, bucketCap = 1)
    assert(out.count() == 0)
  }

  test("suggestNbits targets the bucket size and grows with the corpus") {
    // 2^nbits buckets put the EXPECTED bucket at or under target (and
    // over target/2 — one fewer bit would overshoot).
    for (n <- Seq(1000L, 20000L, 1000000L, 100000000L); tgt <- Seq(64, 256, 4096)) {
      val bits = ann.suggestNbits(n, tgt)
      val expBucket = n.toDouble / math.pow(2.0, bits)
      assert(expBucket <= tgt, s"n=$n tgt=$tgt bits=$bits bucket=$expBucket")
      assert(bits == 1 || bits == 30 || expBucket > tgt / 2.0,
        s"overshot a bit: n=$n tgt=$tgt bits=$bits bucket=$expBucket")
    }
    assert(ann.suggestNbits(100, 256) == 1, "floor: at least one plane")
    assert(ann.suggestNbits(Long.MaxValue, 1) == 30, "ceiling: packed long width")
    assert(ann.suggestNbits(20000, 256) > ann.suggestNbits(2000, 256),
      "width must grow with the corpus")
  }

  test("knn bucket caps are INACTIVE at oracle scale (dropped_buckets == 0)") {
    // The ann_knn_graph / ann_knn_join / graph_pagerank DuckDB oracles
    // have no bucket cap, so oracle parity silently depends on every
    // bucket staying under bucketCap at the checked scales. Pin that
    // assumption: at sf0.1 (the driver's larger gate) the observe()
    // counters must report ZERO dropped buckets — if data or defaults
    // ever change enough to trip the cap, this fails before the driver's
    // hash-compare does, with a message naming the real cause.
    val emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    val listener = graft.core.GraftStatsListener.attach(spark)
    try {
      ann.knnGraph(emb, k = 3, nbits = 6).write.format("noop").mode("overwrite").save()
      var waited = 0
      while (listener.lastQueryStats.forall(_.observed.isEmpty) && waited < 5000) {
        Thread.sleep(50); waited += 50
      }
      val obs = listener.lastQueryStats.map(_.observed).getOrElse(Map.empty)
      val drops = Seq("graft_knn_left", "graft_knn_right").map { name =>
        val row = obs.getOrElse(name, fail(s"no $name observation on the stats object"))
        name -> row.getAs[Long]("dropped_buckets")
      }
      assert(drops.forall(_._2 == 0L),
        s"bucket cap active at oracle scale — oracles would diverge: $drops")
    } finally spark.listenerManager.unregister(listener)
  }

  test("lshSearchBatch agrees with per-query lshSearch; one pruned scan, no cartesian") {
    val df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val store = graft.core.VecStore(df)
    val q1 = (0 until 64).map(i => math.sin(i + 1.0))
    val q2 = (0 until 64).map(i => math.cos(2.0 * i + 1.0))
    val batch = ann.lshSearchBatch(store, Seq((10L, q1), (20L, q2)), k = 4)
    val got = batch.select("query_id", "vec_id", "score")
      .as[(Long, Long, Double)].collect().toSet
    val want = Seq(10L -> q1, 20L -> q2).flatMap { case (qid, q) =>
      ann.lshSearch(store, q, k = 4)
        .select("vec_id", "score").as[(Long, Double)].collect()
        .map { case (v, s) => (qid, v, s) }
    }.toSet
    assert(got === want)
    val p = batch.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"batch must bucket-join, not cross:\n${p.take(900)}")
    assert(p.contains("WindowGroupLimit"),
      s"per-query top-k must be a bounded heap:\n${p.take(900)}")
    // ragged dims and duplicate query ids are rejected eagerly
    val e = intercept[IllegalArgumentException](
      ann.lshSearchBatch(store, Seq((1L, Seq(1.0)), (2L, Seq(1.0, 2.0))), k = 1))
    assert(e.getMessage.contains("ragged"))
    val d = intercept[IllegalArgumentException](
      ann.lshSearchBatch(store, Seq((1L, q1), (1L, q2)), k = 1))
    assert(d.getMessage.contains("duplicate query_id"))
  }

  test("lshSearchBatch: NaN-scoring rows are excluded, not ranked first") {
    // vecs 1/2 are scalar multiples of q, so sign(dot(plane, v)) matches
    // q's for EVERY hyperplane — they provably share q's bucket; the NaN
    // vector must never surface regardless of which bucket it hashes to
    // (NaN sorts largest under desc and would otherwise displace both)
    val q = Seq(1.0, 0.5)
    val df = Seq(
      (1L, Array(1.0, 0.5)),
      (2L, Array(2.0, 1.0)),
      (3L, Array(Double.NaN, 0.5))).toDF("vec_id", "embedding")
    val store = graft.core.VecStore(df)
    val got = ann.lshSearchBatch(store, Seq((0L, q)), k = 3, nbits = 1)
      .select("vec_id").as[Long].collect().toSet
    assert(got === Set(1L, 2L), s"NaN row must not rank: $got")
  }

  test("centroidOutliers: distance to the NEAREST centroid, largest first") {
    val cents: Seq[(Int, Seq[Double])] =
      Seq(0 -> Seq(0.0, 0.0), 1 -> Seq(10.0, 0.0))
    val fixture = Seq(
      (1L, Array(1.0, 1.0)),    // nearest c0, d = 2
      (2L, Array(3.0, 4.0)),    // nearest c0, d = 25
      (3L, Array(9.0, 1.0)),    // nearest c1, d = 2 (21 dims away from c0)
      (4L, Array(0.5, 0.0))     // nearest c0, d = 0.25
    ).toDF("vec_id", "embedding")
    val top = ann.centroidOutliers(fixture, cents, topN = 2)
      .select("vec_id", "centroid_dist").as[(Long, Double)].collect().toSeq
    assert(top == Seq((2L, 25.0), (1L, 2.0)))
  }

  test("matryoshkaSearch: full-width prefix equals exact search; pool cut works") {
    val q = vec(1000)
    val exact = store.query(q, Metric.Cosine).take(5).withScoreRounding(4)
      .collect().select("vec_id", "score").as[(Long, Double)].collect().toSeq
    // prefixDims = dim → coarse stage IS the exact ranking; any candK >= k
    // must return exactly the exact top-k
    val full = ann.matryoshkaSearch(store, q, k = 5, prefixDims = dim, candK = 8)
      .select("vec_id", "score").as[(Long, Double)].collect().toSeq
    assert(full == exact)
    // narrow prefix with candK = all rows → rerank sees everything, so the
    // result is again the exact top-k regardless of prefix quality
    val wide = ann.matryoshkaSearch(store, q, k = 5, prefixDims = 4, candK = 200)
      .select("vec_id", "score").as[(Long, Double)].collect().toSeq
    assert(wide == exact)
    // narrow prefix + tight pool: still k rows, scores are true cosines
    // (every returned score must appear in the exact full ranking)
    val allScores = store.query(q, Metric.Cosine).take(200).withScoreRounding(4)
      .collect().select("vec_id", "score").as[(Long, Double)].collect().toMap
    val tight = ann.matryoshkaSearch(store, q, k = 5, prefixDims = 4, candK = 10)
      .select("vec_id", "score").as[(Long, Double)].collect().toSeq
    assert(tight.size == 5)
    tight.foreach { case (id, s) => assert(allScores(id) == s, s"id $id") }
  }

  test("binarySearch: sign-faithful coarse stage; full pool equals exact search") {
    val q = vec(1000)
    val exact = store.query(q, Metric.Cosine).take(5).withScoreRounding(4)
      .collect().select("vec_id", "score").as[(Long, Double)].collect().toSeq
    // candK = all rows → the rerank sees everything: exact top-k back
    val wide = ann.binarySearch(store, q, k = 5, dim = dim, candK = 200)
      .select("vec_id", "score").as[(Long, Double)].collect().toSeq
    assert(wide == exact)
    // tight pool: still k rows, every score is a true cosine from the
    // exact full ranking (the coarse stage only selects, never scores)
    val allScores = store.query(q, Metric.Cosine).take(200).withScoreRounding(4)
      .collect().select("vec_id", "score").as[(Long, Double)].collect().toMap
    val tight = ann.binarySearch(store, q, k = 5, dim = dim, candK = 10)
      .select("vec_id", "score").as[(Long, Double)].collect().toSeq
    assert(tight.size == 5)
    tight.foreach { case (id, s) => assert(allScores(id) == s, s"id $id") }
    // the recall meter agrees with a hand count of the tight pool
    val r = ann.binaryRecallAtK(store, Seq(q), k = 5, dim = dim, candK = 10)
      .select("hits").as[Long].head()
    val tightIds = tight.map(_._1).toSet
    assert(r == exact.map(_._1).count(tightIds), r.toString)
  }

  test("dimStats: exact fixed-point sums, dead dims flagged, nulls skipped") {
    val rows = Seq(
      (1L, Some(Seq(1.0, 0.0))),
      (2L, Some(Seq(3.0, 0.0))),
      (3L, None))
      .toDF("vec_id", "embedding")
    val got = ann.dimStats(rows).orderBy("dim")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      // dim 0: sums 1000+3000, var = (2*(1e6+9e6) - 16e6) / 4 = 1e6
      (0L, 2L, 0L, 4000L, 1000000L),
      // dim 1: all zeros -> dead dim
      (1L, 2L, 2L, 0L, 0L)), got.toString)
  }

  test("labelNoise: a planted flipped label tops the queue at 10000 bp") {
    // two tight, well-separated clusters with uniform labels; flip one
    // point in cluster 0 → all its neighbors disagree
    val pts = (0 until 10).map(j => (j.toLong,
        Array.fill(16)(0.0).updated(0, 10.0 + j * 0.01), if (j == 3) 1 else 0)) ++
      (10 until 20).map(j => (j.toLong,
        Array.fill(16)(0.0).updated(1, 10.0 + j * 0.01), 1))
    val df = pts.toDF("vec_id", "embedding", "label")
    val got = ann.labelNoise(df, k = 3, dim = 16, nbits = 4, topN = 5)
      .as[(Long, Long, Long, Long)].collect()
    assert(got.nonEmpty && got.head._1 == 3L, got.mkString(","))
    assert(got.head._4 == 10000L, s"flipped point not fully disagreeing: ${got.head}")
    // its neighbors each see exactly one noisy neighbor — below the top
    got.tail.foreach(r => assert(r._4 < 10000L, r.toString))
  }

  test("kCenterSelect: planted clusters each get a center; radius non-increasing") {
    // 4 tight clusters at the corners of a 100×100 square; ids ordered so
    // the seed (min id) sits in cluster (0,0)
    val pts = for {
      (cx, cy) <- Seq((0.0, 0.0), (100.0, 0.0), (0.0, 100.0), (100.0, 100.0))
      j <- 0 until 5
    } yield (cx, cy, j)
    val df = pts.zipWithIndex.map { case ((cx, cy, j), i) =>
      (i.toLong, Array(cx + j * 0.1, cy - j * 0.1))
    }.toDF("vec_id", "embedding")
    val got = ann.kCenterSelect(df, k = 4)
      .as[(Int, Long, Double)].collect().sortBy(_._1)
    assert(got.map(_._1).toSeq == Seq(0, 1, 2, 3))
    assert(got(0)._2 == 0L && got(0)._3 == 0.0) // seed = min id, dist 0
    // one center per planted cluster (ids 0-4, 5-9, 10-14, 15-19)
    assert(got.map(_._2 / 5).toSet == Set(0L, 1L, 2L, 3L), got.mkString(","))
    // the k-center radius curve never increases after round 1
    val radii = got.drop(1).map(_._3)
    assert(radii.zip(radii.tail).forall { case (a, b) => b <= a }, radii.toSeq)
  }

  test("silhouetteSimplified: separated clusters ~ +1, mislabeled mass goes negative") {
    import spark.implicits._
    // two tight clusters far apart on axis 0; 64-dim vectors
    def v(base: Double, jit: Double): Seq[Float] =
      (0 until 64).map(d => if (d == 0) (base + jit).toFloat else 0.0f)
    val clean = ((0 until 5).map(i => (i.toLong, v(0.0, i * 0.01), 0)) ++
      (0 until 5).map(i => (100L + i, v(10.0, i * 0.01), 1)))
      .toDF("vec_id", "embedding", "label")
    val s0 = ann.silhouetteSimplified(clean)
      .orderBy("label").as[(Int, Long, Double)].collect().toSeq
    assert(s0.map(_._2) == Seq(5L, 5L))
    assert(s0.forall(_._3 > 0.99), s0.toString)
    // plant a mislabeled point: cluster-1 coordinates, label 0 — its
    // label's mean drops well below the clean +1
    val noisy = clean.union(Seq((999L, v(10.0, 0.0), 0)).toDF(
      "vec_id", "embedding", "label"))
    val m = ann.silhouetteSimplified(noisy).orderBy("label")
      .as[(Int, Long, Double)].collect().map(t => t._1 -> t._3).toMap
    assert(m(0) < 0.7, m.toString) // dragged down by the negative point
    assert(m(1) > 0.9, m.toString)
  }

  test("poolEmbeddings: exact fixed-point means, null chunks skipped, layout-invariant") {
    val rows = Seq(
      (1L, Some(Seq(1.0f, 2.0f))),
      (1L, Some(Seq(3.0f, 4.0f))),
      (2L, Some(Seq(0.5f, -0.5f))),
      (2L, None))
      .toDF("doc_id", "embedding")
    val got = ann.poolEmbeddings(rows, "doc_id")
      .orderBy("doc_id")
      .as[(Long, Long, Seq[Double])].collect().toSeq
    assert(got == Seq(
      (1L, 2L, Seq(2.0, 3.0)),
      (2L, 1L, Seq(0.5, -0.5))), got.toString)
    // partition layout must not change a single component (exact sums)
    val shuffled = ann.poolEmbeddings(rows.repartition(7), "doc_id")
      .orderBy("doc_id").as[(Long, Long, Seq[Double])].collect().toSeq
    assert(shuffled == got)
  }

  test("marginMine: exact hand margins; ratio >= 1 keeps only above-neighborhood pairs") {
    // all fixture directions share the one LSH bucket (asserted), so
    // the kNN stage is exact and margins are hand-computable
    val dirs = Seq(Seq(1.0, 0.0), Seq(2.0, 0.0), Seq(0.8, -0.6))
    assert(dirs.map(d => ann.lshSignatureOf(d, 0, 1)).distinct.size == 1,
      "fixture directions must share a bucket")
    val src = Seq((1L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val tgt = Seq((10L, Seq(2.0f, 0.0f)), (11L, Seq(0.8f, -0.6f)))
      .toDF("vec_id", "embedding")
    // fwd of x: cos 1.0 (y10), 0.8 (y11) -> sf = 18000, kf = 2
    // bwd: y10 -> x cos 1.0 (sb 10000, kb 1); y11 -> x cos 0.8
    // margin(x, y10) = 10000*2*2*1 / (18000*1 + 10000*2) = 40000/38000
    // margin(x, y11) = 8000*2*2*1 / (18000*1 + 8000*2) = 32000/34000
    val got = ann.marginMine(src, tgt, k = 2, threshold = 0.0, dim = 2,
        nbits = 1)
      .orderBy("dst").collect()
    assert(got.length == 2, got.mkString(","))
    assert(got(0).getLong(3) == 40000L && got(0).getLong(4) == 38000L
      && got(0).getDouble(5) == 1.052632, got(0).toString)
    assert(got(1).getLong(3) == 32000L && got(1).getLong(4) == 34000L
      && got(1).getDouble(5) == 0.941176, got(1).toString)
    // the default >= 1.0 cut mines exactly the above-average pair
    val mined = ann.marginMine(src, tgt, k = 2, dim = 2, nbits = 1).collect()
    assert(mined.length == 1 && mined(0).getLong(1) == 10L)
  }
}
