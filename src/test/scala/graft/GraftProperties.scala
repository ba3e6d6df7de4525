package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.{forAll, forAllNoShrink}

import graft.core.{Cmp, Metric, VecStore}
import graft.functions.vectors
import graft.ops.dedup

/** Property-based invariants (SURVEY.md §5): the reference asserts
  * hand-computed cases; we additionally pin the algebraic laws the engine
  * must satisfy for ANY input. Every property here runs Spark jobs per
  * sample, so the sample count is capped at 5. */
object GraftProperties extends Properties("graft") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(5)

  private lazy val spark = SparkSpec.spark
  import spark.implicits._

  private val dim = 8
  private val genVec: Gen[Seq[Double]] =
    Gen.listOfN(dim, Gen.choose(-10.0, 10.0)).map(_.toSeq)
  private val genStore: Gen[Seq[Seq[Double]]] =
    Gen.chooseNum(5, 40).flatMap(n => Gen.listOfN(n, genVec).map(_.toSeq))

  private def storeOf(vecs: Seq[Seq[Double]]): VecStore =
    VecStore(vecs.zipWithIndex.map { case (v, i) => (i.toLong, v.toArray) }
      .toDF("vec_id", "embedding"))

  property("cosine(v,v) = 1 for any non-zero v; 0 for the zero vector") =
    forAll(genStore) { vecs =>
      val withZero = vecs :+ Seq.fill(dim)(0.0)
      val scores = storeOf(withZero).df
        .select(col("vec_id"),
          vectors.cosineSimilarity(col("embedding"), col("embedding")).as("c"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      withZero.zipWithIndex.forall { case (v, i) =>
        if (v.forall(_ == 0.0)) scores(i.toLong) == 0.0
        else math.abs(scores(i.toLong) - 1.0) < 1e-9
      }
    }

  property("take(k) is a prefix of the full score-sorted result") =
    forAll(genStore, genVec, Gen.chooseNum(0, 10)) { (vecs, q, k) =>
      val store = storeOf(vecs)
      val full = store.query(q, Metric.Cosine).collect()
        .select("vec_id").as[Long].collect().toSeq
      val topk = store.query(q, Metric.Cosine).take(k).collect()
        .select("vec_id").as[Long].collect().toSeq
      topk == full.take(k)
    }

  property("score filter: every surviving score passes; top-k ⊆ filtered") =
    forAll(genStore, genVec) { (vecs, q) =>
      val store = storeOf(vecs)
      val t = 0.1
      val filtered = store.query(q, Metric.DotProduct).vecFilter(t, Cmp.Gt).collect()
        .select("vec_id", "score").as[(Long, Double)].collect()
      val topk = store.query(q, Metric.DotProduct).vecFilter(t, Cmp.Gt).take(3).collect()
        .select("vec_id").as[Long].collect().toSet
      filtered.forall(_._2 > t) && topk.subsetOf(filtered.map(_._1).toSet)
    }

  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  property("query inverse norm bound by reference = lit: cosine bit-identical, codegen and interpreted") =
    forAllNoShrink(genStore, genVec) { (vecs, q) =>
      // An RDD-backed store, so Filter/Project reach codegen instead of
      // being folded over a local relation at optimization.
      val base = VecStore(spark.sparkContext
        .parallelize(vecs.zipWithIndex.map { case (v, i) => (i.toLong, v.toArray) }, 2)
        .toDF("vec_id", "embedding"))
      val withInv = base.copy(
        df = base.df.withColumn("inv_norm", vectors.invNorm(col("embedding"))),
        invNormCol = Some("inv_norm"))
      // a zero query has inverse norm 0; a NaN query scores NaN everywhere,
      // and the NaN rule must still drop every row
      val queries = Seq(q, Seq.fill(dim)(0.0), q.updated(0, Double.NaN))
      def bits(df: DataFrame): Seq[(Long, Long)] =
        df.select("vec_id", "score").as[(Long, Double)].collect().toSeq
          .map { case (id, s) => (id, java.lang.Double.doubleToRawLongBits(s)) }
      def agree(wholeStage: Boolean): Boolean = Seq(base, withInv).forall { store =>
        queries.forall { qq =>
          // take(all): TakeOrderedAndProject keeps the plan free of an
          // exchange, so the codegen stage is visible before execution
          val plan = store.query(qq, Metric.Cosine).take(vecs.length)
          val boundDf = plan.collect()
          val bound = bits(boundDf)
          val inlined = bits(plan.scoreTopK(store.df, vectors.vecLit(qq),
            lit(vectors.invNormOf(qq))))
          boundDf.queryExecution.debug.codegenToSeq().nonEmpty == wholeStage &&
            bound == inlined && (!qq.exists(_.isNaN) || bound.isEmpty)
        }
      }
      agree(wholeStage = true) &&
        withConf("spark.sql.codegen.wholeStage" -> "false",
          "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(agree(wholeStage = false))
    }

  property("batch query = global top-k over the union of single-query scores") =
    forAll(genStore, genVec, genVec) { (vecs, q1, q2) =>
      val store = storeOf(vecs)
      val k = 5
      def scored(q: Seq[Double]) = store.query(q, Metric.Cosine).collect()
        .select("vec_id", "score").as[(Long, Double)].collect().toSeq
      val expected = (scored(q1) ++ scored(q2))
        .sortBy { case (id, s) => (-s, id) }.take(k).map(_._2)
      val got = store.queryBatch(Seq(q1, q2), Metric.Cosine).take(k).collect()
        .select("score").as[Double].collect().toSeq
      // compare score multisets (ties may pick either source row)
      got.map(math.abs) == expected.map(math.abs)
    }

  // small-integer coordinates so rounded scores tie often: the (score, id)
  // tiebreak must order ties the same way on both paths
  private val genTieVec: Gen[Seq[Double]] =
    Gen.listOfN(4, Gen.choose(-2, 2).map(_.toDouble)).map(_.toSeq)

  property("per-query batch rows for query i = query(q_i).take(k), any metric, ties included") =
    forAll(for {
      vecs <- Gen.chooseNum(3, 20).flatMap(n => Gen.listOfN(n, genTieVec))
      k <- Gen.chooseNum(0, vecs.size)
      qs <- Gen.listOfN(3, genTieVec)
    } yield (vecs, k, qs)) { case (vecs, k, qs) =>
      val store = storeOf(vecs)
      Seq(Metric.Cosine, Metric.Euclidean, Metric.DotProduct, Metric.Manhattan).forall { m =>
        val per = store.queryBatchPerQuery(qs, m, k, roundScoreDecimals = Some(4))
          .select("q_idx", "vec_id", "score").as[(Int, Long, Double)].collect().toSeq
        qs.indices.forall { i =>
          val alone = store.query(qs(i), m).take(k).withScoreRounding(4).collect()
            .select("vec_id", "score").as[(Long, Double)].collect().toSeq
          per.filter(_._1 == i).map(r => (r._2, r._3)) == alone
        }
      }
    }

  property("euclidean: l2sq(v,v) = 0; no-take collects Max-first; take() pins ascending") =
    forAll(genStore) { vecs =>
      val store = storeOf(vecs)
      val self = store.df.select(
        vectors.l2Squared(col("embedding"), col("embedding")).as("d"))
        .as[Double].collect()
      // with no take*(), collect falls back to the reference's
      // TakeType::Max regardless of metric (vec.rs unwrap_or(&TakeType::Max))
      val noTake = store.query(vecs.head, Metric.Euclidean).collect()
        .select("score").as[Double].collect().toSeq
      // an explicit take(k) pins the metric default — ascending for L2
      val taken = store.query(vecs.head, Metric.Euclidean).take(vecs.length)
        .collect().select("score").as[Double].collect().toSeq
      self.forall(_ == 0.0) &&
        noTake == noTake.sorted.reverse && taken == taken.sorted
    }

  // ---- pure driver-side laws (fast, default sample count) --------------

  property("invNormOf: |v| * invNorm(v) = 1 for non-zero v") =
    forAll(genVec) { v =>
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0.0) vectors.invNormOf(v) == 0.0
      else math.abs(n * vectors.invNormOf(v) - 1.0) < 1e-9
    }

  property("affine hash family stays in [0, P) with no Long overflow") =
    forAll(Gen.chooseNum(0L, (1L << 32) - 1), Gen.chooseNum(0, 15)) { (h, j) =>
      val p = graft.functions.hashing.AffineP
      val v = ((2L * j + 1) * h + 12582917L * j) % p
      v >= 0 && v < p
    }

  property("jaccard set laws on shingle arrays: j(a,a)=1, symmetry, [0,1]") =
    forAll(Gen.listOfN(10, Gen.alphaLowerStr.suchThat(_.nonEmpty)),
      Gen.listOfN(10, Gen.alphaLowerStr.suchThat(_.nonEmpty))) { (a, b) =>
      val df = Seq((a.distinct, b.distinct)).toDF("a", "b").select(
        dedup.jaccard(col("a"), col("a")).as("jaa"),
        dedup.jaccard(col("a"), col("b")).as("jab"),
        dedup.jaccard(col("b"), col("a")).as("jba"))
      val r = df.head()
      val (jaa, jab, jba) = (r.getDouble(0), r.getDouble(1), r.getDouble(2))
      (a.isEmpty || jaa == 1.0) && jab == jba && jab >= 0.0 && jab <= 1.0
    }

  // Text spanning the tokenizer's edge cases: every byte `\s` matches, in
  // runs; upper case and non-ASCII letters; U+00A0 and U+2003, which `\s`
  // does not split; U+2C2F, a capital newer than Java 17's Unicode
  // tables; a small vocabulary so grams repeat within a document.
  private val asciiWs = Seq(" ", "\t", "\n", "\u000B", "\f", "\r")
  private val genShingleText: Gen[String] = {
    val word = Gen.chooseNum(1, 3).flatMap(k => Gen.listOfN(k, Gen.oneOf(
      "a", "b", "Ab", "CAT", "é", "Ä", "ß", "Σ", "ж", "İ", "x y", " ",
      "1", "😀", "Ⱟ")).map(_.mkString))
    val wsRun = Gen.chooseNum(1, 3).flatMap(k => Gen.listOfN(k, Gen.oneOf(asciiWs)))
      .map(_.mkString)
    for {
      lead <- Gen.oneOf("", " ", "\t\n")
      parts <- Gen.chooseNum(0, 12).flatMap(k => Gen.listOfN(k, Gen.zip(word, wsRun)))
      last <- Gen.oneOf("", "a", "B")
    } yield lead + parts.map { case (w, s) => w + s }.mkString + last
  }
  // Arbitrary bytes (malformed UTF-8 included) over whitespace and letters.
  private val genShingleBytes: Gen[Array[Byte]] = Gen.chooseNum(0, 24).flatMap(k =>
    Gen.listOfN(k, Gen.frequency(
      3 -> Gen.oneOf(asciiWs.map(_.head.toByte)),
      3 -> Gen.oneOf('a'.toByte, 'B'.toByte),
      4 -> Gen.choose(Byte.MinValue, Byte.MaxValue))).map(_.toArray))

  property("byte-level word_shingles = wordShinglesHof, any text, n in {1, 2, 3, 8}") =
    forAllNoShrink(Gen.listOfN(12, genShingleText), Gen.listOfN(8, genShingleBytes)) {
      (texts, raws) =>
        // malformed UTF-8 reaches the kernel through cast(binary as string);
        // NULL text must stay NULL (no shingle array) in both forms
        val df = (Seq(None, Some(Array.emptyByteArray)) ++
            (texts.map(_.getBytes("UTF-8")) ++ raws).map(Some(_)))
          .toDF("raw").select(col("raw").cast("string").as("t"))
        Seq(1, 2, 3, 8).forall { n =>
          df.where(!(dedup.wordShingles(col("t"), n) <=> HofTwins.wordShinglesHof(col("t"), n)))
            .count() == 0
        }
    }

  private val genGroupedVals: Gen[Seq[(String, Double)]] =
    Gen.chooseNum(1, 30).flatMap(n => Gen.listOfN(n,
      Gen.zip(Gen.oneOf("a", "b", "c"), Gen.choose(-100.0, 100.0))).map(_.toSeq))

  property("rollup levels are consistent: every subtotal equals the sum of its leaves") =
    forAll(genGroupedVals) { rows =>
      val df = rows.map { case (g, v) => (g, if (v < 0) "x" else "y", v) }
        .toDF("g1", "g2", "v")
      val out = graft.ops.rel.rollupAgg(df, Seq("g1", "g2"), "v")
        .collect()
        .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
        .toMap
      val leaves = out.filter { case ((a, b), _) => a != "ALL" && b != "ALL" }
      val g1s = leaves.keySet.map(_._1)
      val subtotalsOk = g1s.forall { g =>
        val ls = leaves.filter(_._1._1 == g).values
        val (n, s) = out((g, "ALL"))
        n == ls.map(_._1).sum && math.abs(s - ls.map(_._2).sum) < 1e-6
      }
      val (gn, gs) = out(("ALL", "ALL"))
      subtotalsOk && gn == rows.size &&
        math.abs(gs - rows.map(_._2).sum) < 1e-6
    }

  property("histogram partitions the rows: bin counts sum to row count") =
    forAll(Gen.chooseNum(1, 40).flatMap(n =>
      Gen.listOfN(n, Gen.choose(-50.0, 150.0)))) { vs =>
      val out = graft.ops.sketch.histogram(
          vs.toDF("v"), col("v"), lo = 0.0, hi = 100.0, nbins = 7)
        .agg(sum("n")).head().getLong(0)
      out == vs.size
    }

  property("quantileBins without ties: bin sizes within floor/ceil of n/k") =
    forAll(Gen.chooseNum(4, 40)) { n =>
      val df = (1 to n).map(i => (i.toLong, i.toDouble)).toDF("id", "v")
      val sizes = graft.ops.sample.quantileBins(df, col("v"), nbins = 4)
        .groupBy("bin").count().collect().map(_.getLong(1))
      sizes.forall(s => s >= n / 4 && s <= (n + 3) / 4) && sizes.sum == n
    }

  property("corrExact: |corr| <= 1 and corr(x, x) = 1 for non-constant x") =
    forAll(Gen.chooseNum(2, 25).flatMap(n =>
      Gen.listOfN(n, Gen.choose(-50.0, 50.0)).suchThat(_.distinct.size > 1))) { xs =>
      val df = xs.map(x => ("g", x, x)).toDF("g", "x", "y")
      val r = graft.ops.rel.corrExact(df, "x", "y", Seq("g"),
        xScale = 100.0, yScale = 100.0).head()
      !r.isNullAt(2) && r.getDouble(2) == 1.0
    }

  property("corpusDivergence laws: KL >= 0 (Gibbs), JS symmetric and in [0, ln 2]") =
    forAll(
      Gen.chooseNum(1, 6).flatMap(n => Gen.listOfN(n,
        Gen.nonEmptyListOf(Gen.oneOf("a", "b", "c", "d")).map(_.mkString(" ")))),
      Gen.chooseNum(1, 6).flatMap(n => Gen.listOfN(n,
        Gen.nonEmptyListOf(Gen.oneOf("c", "d", "e")).map(_.mkString(" "))))) {
      (ta, tb) =>
        val (a, b) = (ta.toDF("text"), tb.toDF("text"))
        val ab = graft.ops.text.corpusDivergence(a, b, "text")
          .as[(Long, Long, Long, Double, Double, Double)].head()
        val ba = graft.ops.text.corpusDivergence(b, a, "text")
          .as[(Long, Long, Long, Double, Double, Double)].head()
        // 1e-6 slack: per-term 1e-12 floors accumulate across the vocab
        ab._4 >= -1e-6 && ab._5 >= -1e-6 &&
          ab._6 >= -1e-6 && ab._6 <= math.log(2.0) + 1e-6 &&
          math.abs(ab._6 - ba._6) <= 1e-6 && // JS symmetric
          ab._4 == ba._5 && ab._5 == ba._4   // KL directions swap exactly
    }

  property("kmvOverlap laws: symmetric, self-identical, bounded jaccard") =
    forAll(
      Gen.chooseNum(3, 40).flatMap(n => Gen.listOfN(n, Gen.chooseNum(0L, 60L))),
      Gen.chooseNum(3, 40).flatMap(n => Gen.listOfN(n, Gen.chooseNum(30L, 90L)))) {
      (xs, ys) =>
        import graft.ops.sketch
        val a = sketch.kmv(xs.map(("g", _)).toDF("g", "v"), col("v"), Seq("g"), k = 16)
        val b = sketch.kmv(ys.map(("g", _)).toDF("g", "v"), col("v"), Seq("g"), k = 16)
        def row(df: org.apache.spark.sql.DataFrame) =
          df.select("n_min", "k_cap", "union_est", "jaccard", "intersect_est")
            .as[(Long, Long, Double, Double, Double)].head()
        val ab = row(sketch.kmvOverlap(a, b, Seq("g"), k = 16))
        val ba = row(sketch.kmvOverlap(b, a, Seq("g"), k = 16))
        val aa = row(sketch.kmvOverlap(a, a, Seq("g"), k = 16))
        ab == ba &&                                   // fully symmetric
          ab._4 >= 0.0 && ab._4 <= 1.0 &&             // jaccard in [0,1]
          ab._5 <= ab._3 &&                           // |A∩B| <= |A∪B|
          aa._4 == 1.0 && aa._5 == aa._3 &&           // self: J=1, ∩=∪
          aa._2 == aa._1                              // every union-min shared
    }

  property("hamming: symmetric, zero on self, bounded by dim; packed form agrees") =
    forAll(genStore) { vecs =>
      val sigCol = transform(col("embedding"), x => when(x >= lit(0.0), 1.0).otherwise(0.0))
      val q = vecs.head.map(x => if (x >= 0) 1.0 else 0.0)
      val rows = storeOf(vecs).df
        .select(col("vec_id"),
          vectors.hammingDistance(sigCol, vectors.vecLit(q)).as("d"),
          vectors.hammingDistance(vectors.vecLit(q), sigCol).as("dRev"),
          vectors.hammingDistance(sigCol, sigCol).as("dSelf"),
          vectors.hammingPacked(
            vectors.signBitsPacked(col("embedding"), dim),
            vectors.longArrayLit(vectors.signBitsPackedOf(vecs.head))).as("dp"))
        .collect()
      rows.forall { r =>
        val (d, dRev, dSelf, dp) =
          (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))
        d == dRev && dSelf == 0.0 && d >= 0.0 && d <= dim && d == dp
      }
    }

  property("jaccard: symmetric, in [0,1], 1 on self (non-empty), monotone under subset") =
    forAll(genStore) { vecs =>
      // integer-valued sets derived from the vectors (rounded magnitudes)
      val setCol = array_distinct(transform(col("embedding"), x => floor(abs(x))))
      val q = vecs.head.map(x => math.floor(math.abs(x))).distinct
      val rows = storeOf(vecs).df
        .select(col("vec_id"),
          vectors.jaccardSimilarity(setCol, vectors.vecLit(q)).as("j"),
          vectors.jaccardSimilarity(vectors.vecLit(q), setCol).as("jRev"),
          vectors.jaccardSimilarity(setCol, setCol).as("jSelf"))
        .collect()
      rows.forall { r =>
        val (j, jRev, jSelf) = (r.getDouble(1), r.getDouble(2), r.getDouble(3))
        j == jRev && j >= 0.0 && j <= 1.0 && jSelf == 1.0
      }
    }

  // Generator spanning the URL feature space: optional www./case-mixed
  // host, default and explicit ports, path depth + trailing slashes,
  // tracking/real params in any order, optional fragment.
  private val genUrl: Gen[String] = for {
    scheme <- Gen.oneOf("http", "https", "HTTP", "HTTPS")
    www <- Gen.oneOf("", "www.", "WWW.")
    host <- Gen.oneOf("Example.com", "a-b.org", "X.Y.NET")
    port <- Gen.oneOf("", ":80", ":443", ":8080")
    segs <- Gen.chooseNum(0, 3).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("Wiki", "p", "Item-7")))
    slash <- Gen.oneOf("", "/", "//")
    params <- Gen.someOf("utm_source=x", "page=2", "gclid=9", "q=a+b", "ref=nav")
    frag <- Gen.oneOf("", "#top", "#a/b?c=d")
  } yield s"$scheme://$www$host$port" +
    segs.map("/" + _).mkString + slash +
    (if (params.isEmpty) "" else params.mkString("?", "&", "")) + frag

  property("normalizeUrl is idempotent and strips what it promises") =
    forAll(Gen.listOfN(4, genUrl)) { urls =>
      val n1 = urls.toDF("u")
        .select(graft.ops.text.normalizeUrl(col("u")).as("n"))
        .as[String].collect().toSeq
      val n2 = n1.toDF("n")
        .select(graft.ops.text.normalizeUrl(col("n")).as("n"))
        .as[String].collect().toSeq
      n1 == n2 && n1.forall { u =>
        val httpDefault = u.startsWith("http://") &&
          (u.contains(":80/") || u.endsWith(":80"))
        val httpsDefault = u.startsWith("https://") &&
          (u.contains(":443/") || u.endsWith(":443"))
        !u.contains("#") && !u.contains("utm_") && !u.contains("gclid") &&
          !httpDefault && !httpsDefault && !u.endsWith("/") &&
          u.startsWith("http") && u.take(u.indexOf("://"))
            .forall(c => !c.isUpper)
      }
    }

  property("zipIndex is the order-isomorphic dense index for ANY key set") =
    forAll(Gen.chooseNum(1, 60).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-1000000L, 1000000L)).map(_.distinct))
      .suchThat(_.nonEmpty)) { keys =>
      val got = graft.ops.rel.zipIndex(keys.toDF("k"), "k", parts = 4)
        .select("k", "idx").as[(Long, Long)].collect().toMap
      val want = keys.sorted.zipWithIndex
        .map { case (k, i) => k -> i.toLong }.toMap
      got == want
    }

  property("epochShuffle is a dense permutation for any seed") =
    forAll(Gen.chooseNum(1, 50), Gen.chooseNum(Long.MinValue, Long.MaxValue)) {
      (n, seed) =>
        val pos = graft.ops.sample.epochShuffle(
            (0L until n.toLong).toDF("id"), "id", seed, parts = 4)
          .select("epoch_pos").as[Long].collect().sorted.toSeq
        pos == (0L until n.toLong)
    }

  property("incrementalAgg(agg(base), log) = agg(base ++ inserts -- deletes)") =
    forAll(
      Gen.listOfN(30, Gen.zip(Gen.oneOf("a", "b", "c"), Gen.chooseNum(1L, 50L))),
      Gen.listOfN(10, Gen.zip(Gen.oneOf("a", "b", "c", "d"), Gen.chooseNum(1L, 50L)))
    ) { (base, inserts) =>
      // deletes: every base row whose value is even (guaranteed present)
      val deletes = base.filter(_._2 % 2 == 0)
      val agg0 = base.toDF("g", "v").groupBy("g")
        .agg(count(lit(1)).as("n"), sum("v").as("sum_v"))
      val log = (inserts.map { case (g, v) => (g, v, "insert") } ++
        deletes.map { case (g, v) => (g, v, "delete") }).toDF("g", "v", "op")
      val got = graft.ops.rel.incrementalAgg(agg0, log, Seq("g"), "v")
        .as[(String, Long, Long)].collect().toSet
      val after = base.diff(deletes) ++ inserts
      val want = after.groupBy(_._1).view
        .mapValues(vs => (vs.size.toLong, vs.map(_._2).sum)).toMap
        .map { case (g, (n, s)) => (g, n, s) }.toSet
      got == want
    }

  property("balancedShards totals within one max item of each other (null-free)") =
    forAll(Gen.chooseNum(8, 40).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(1L, 500L)))) { sizes =>
      val df = sizes.zipWithIndex.map { case (s, i) => (i.toLong, s) }
        .toDF("id", "toks")
      val sums = graft.ops.sample.balancedShards(df, "id", col("toks"),
          shards = 4, parts = 4)
        .groupBy("shard").agg(sum("toks").as("s"))
        .select("s").as[Long].collect().toSeq
      // serpentine bound: spread <= max item size (classic LPT-style bound
      // for boustrophedon dealing of a sorted sequence)
      val spread = (sums ++ Seq.fill(4 - sums.length)(0L)) match {
        case xs => xs.max - xs.min
      }
      spread <= sizes.max
    }

  property("MG heavy hitters: underestimate + N/(k+1) bound + frequent-item " +
      "retention for ANY stream and partitioning") =
    forAll(
      Gen.listOfN(150, Gen.frequency(
        3 -> Gen.chooseNum(0, 3),      // heavy head
        1 -> Gen.chooseNum(10, 60))),  // long tail
      Gen.chooseNum(1, 6)) { (xs, parts) =>
      val cap = 8
      val n = xs.size.toLong
      val exact = xs.groupBy(identity).view
        .mapValues(_.size.toLong).map { case (k, c) => k.toString -> c }.toMap
      val got = graft.ops.sketch.heavyHitters(
          xs.map(_.toString).toDF("item").repartition(parts),
          col("item"), capacity = cap, topN = cap)
        .as[(String, Long)].collect().toMap
      got.forall { case (k, est) =>
        est <= exact(k) && exact(k) - est <= n / (cap + 1) } &&
        exact.forall { case (k, c) => c <= n / (cap + 1) || got.contains(k) }
    }

  property("MERGE is idempotent on re-application of the same source " +
      "(update/insert clauses, no delete)") =
    forAll(
      Gen.listOfN(20, Gen.zip(Gen.chooseNum(0L, 30L), Gen.chooseNum(0L, 99L)))
        .map(_.distinctBy(_._1)),
      Gen.listOfN(10, Gen.zip(Gen.chooseNum(0L, 40L), Gen.chooseNum(100L, 199L)))
        .map(_.distinctBy(_._1))) { (tgt, src) =>
      val target = tgt.toDF("k", "v")
      val source = src.toDF("k", "v")
      def apply(t: org.apache.spark.sql.DataFrame) =
        graft.ops.rel.merge(t, source, Seq("k"),
          whenMatchedUpdate = Some(lit(true)),
          whenNotMatchedInsert = Some(lit(true)))
      val once = apply(target).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val twice = apply(apply(target)).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      once == twice &&
        once == (src.toMap ++ tgt.toMap.view.filterKeys(k => !src.toMap.contains(k)))
          .map { case (k, v) => (k, v) }.toSet
    }

  property("boundedGlobal window ≡ naked global window for ANY data") =
    forAll(Gen.nonEmptyListOf(Gen.zip(Gen.chooseNum(0L, 1000L),
        Gen.chooseNum(-50L, 50L))).map(_.distinctBy(_._1))) { rows =>
      // The warning-free constant-key window must be SEMANTICALLY the
      // global window: identical row_number ranks and identical
      // whole-frame aggregates, for any data — the contract that makes
      // routing a bounded site through the helper a pure refactor.
      import org.apache.spark.sql.expressions.Window
      val df = rows.toDF("id", "v")
      val naked = df.select(col("id"),
          row_number().over(Window.orderBy(col("id"))).as("r"),
          sum(col("v")).over(
            Window.rowsBetween(Window.unboundedPreceding,
              Window.unboundedFollowing)).as("t"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      val bounded = df.select(col("id"),
          row_number().over(graft.ops.windows.boundedGlobal("prop", col("id"))
            .orderBy(col("id"))).as("r"),
          sum(col("v")).over(graft.ops.windows.boundedGlobal("prop", col("id"))
            .rowsBetween(Window.unboundedPreceding,
              Window.unboundedFollowing)).as("t"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      naked == bounded
    }

  property("winnowing guarantee: ANY shared token run >= w+n-1 shares a fingerprint") =
    forAll(
      Gen.listOfN(10, Gen.identifier.map(_.take(6))),
      Gen.listOfN(10, Gen.identifier.map(_.take(6))),
      Gen.listOfN(7, Gen.identifier.map(_.take(6)))) { (pre, post, span) =>
      // n = 4, w = 4: a shared run of 7 tokens is the exact guarantee
      // boundary. Random prefixes/suffixes around the same random span.
      val docs = Seq(
        (1L, (pre ++ span).mkString(" ")),
        (2L, (span ++ post).mkString(" ")))
        .toDF("doc_id", "text")
      val fps = docs.select(col("doc_id"),
          graft.ops.dedup.winnowFingerprints(col("text"), 4, 4))
        .as[(Long, Seq[Long])].collect().toMap
      (fps(1L).toSet intersect fps(2L).toSet).nonEmpty
    }

  property("blocklistHits equals the brute-force occurrence count for ANY doc") =
    forAll(
      Gen.listOfN(30, Gen.oneOf("aa", "bb", "cc", "dd")),
      Gen.chooseNum(1, 3)) { (toks, phraseLen) =>
      val doc = toks.mkString(" ")
      val term = toks.take(phraseLen).mkString(" ") // guaranteed present
      val brute = (0 to toks.length - phraseLen).count(i =>
        toks.slice(i, i + phraseLen).mkString(" ") == term).toLong
      val got = Seq(Tuple1(doc)).toDF("text")
        .select(graft.ops.text.blocklistHits(col("text"), Seq(term)))
        .as[Long].head()
      got == brute && brute >= 1L
    }

  property("gram is mergeable: gram(A ++ B) = entrywise sums of the parts") =
    forAll(Gen.zip(
      Gen.listOfN(4, Gen.listOfN(3, Gen.chooseNum(-2.0, 2.0))),
      Gen.listOfN(5, Gen.listOfN(3, Gen.chooseNum(-2.0, 2.0))))) {
      case (a, b) =>
        def g(rows: Seq[Seq[Double]]): Map[(Int, Int), (Long, Long)] =
          graft.ops.linalg.gram(rows.toDF("v"), "v", dim = 3, q = 100L)
            .collect()
            .map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3)))
            .toMap
        val (ga, gb, gu) = (g(a), g(b), g(a ++ b))
        gu.forall { case (k, (n, s)) =>
          val (na, sa) = ga.getOrElse(k, (0L, 0L))
          val (nb, sb) = gb.getOrElse(k, (0L, 0L))
          n == na + nb && s == sa + sb
        }
    }

  property("funnel laws: steps nonincreasing; a deadline only shrinks counts") =
    forAll(Gen.listOfN(30, Gen.zip(
      Gen.chooseNum(1L, 5L),                 // user
      Gen.chooseNum(0L, 72L),                // hour offset
      Gen.oneOf("view", "click", "purchase")))) { evs =>
      val rows = evs.zipWithIndex.map { case ((u, h, t), i) =>
        (i.toLong, java.sql.Timestamp.valueOf(
          java.time.LocalDateTime.of(2024, 1, 1, 0, 0).plusHours(h.toInt)
            .format(java.time.format.DateTimeFormatter
              .ofPattern("yyyy-MM-dd HH:mm:ss"))), u, t, 1.0)
      }
      val df = rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      val steps = Seq("view", "click", "purchase")
      def counts(d: org.apache.spark.sql.DataFrame) =
        d.orderBy("step").collect().map(_.getLong(2)).toSeq
      val plain = counts(graft.streaming.EventStream.funnel(df, steps))
      val tight = counts(graft.streaming.EventStream.funnelWindowed(
        df, steps, maxGapSec = 3600L))
      val mono = (s: Seq[Long]) => s.zip(s.tail).forall { case (a, b) => a >= b }
      mono(plain) && mono(tight) &&
        plain.zip(tight).forall { case (p, t) => t <= p }
    }

  private val genDoc: Gen[String] =
    Gen.chooseNum(0, 12).flatMap(n => Gen.listOfN(n,
      Gen.oneOf("a", "b", "cat", "dog", "xy")).map(_.mkString(" ")))

  property("ngramOverlap laws: swap(cand,ref) swaps P and R; identity is 1e6") =
    forAll(Gen.listOfN(4, Gen.zip(genDoc, genDoc))) { ds =>
      import spark.implicits._
      val df = ds.zipWithIndex.map { case ((c, r), i) => (i.toLong, c, r) }
        .toDF("id", "c", "r")
      val fwd = graft.ops.evals.ngramOverlap(df, col("id"), col("c"), col("r"), 2)
        .orderBy("id").collect()
      val rev = graft.ops.evals.ngramOverlap(df, col("id"), col("r"), col("c"), 2)
        .orderBy("id").collect()
      val swapped = fwd.zip(rev).forall { case (f, b) =>
        f.getLong(3) == b.getLong(3) &&                      // clip symmetric
          f.get(4) == b.get(5) && f.get(5) == b.get(4)       // P <-> R
      }
      val self = graft.ops.evals.ngramOverlap(df, col("id"), col("c"), col("c"), 2)
        .orderBy("id").collect()
      val ident = self.forall(r => r.getLong(1) == 0L ||
        (r.getLong(4) == 1000000L && r.getLong(6) == 1000000L))
      swapped && ident
    }

  property("bleu law: logbleu <= 0 always; identity scores exactly 0") =
    forAll(Gen.listOfN(4, Gen.zip(genDoc, genDoc))) { ds =>
      import spark.implicits._
      val df = ds.zipWithIndex.map { case ((c, r), i) => (i.toLong, c, r) }
        .toDF("id", "c", "r")
      val got = graft.ops.evals.bleu(df, col("id"), col("c"), col("r"))
        .collect()
      val bounded = got.forall(r => r.isNullAt(7) || r.getDouble(7) <= 0.0)
      val self = graft.ops.evals.bleu(df, col("id"), col("c"), col("c"))
        .collect()
      val ident = self.forall(r => r.isNullAt(7) || r.getDouble(7) == 0.0)
      bounded && ident
    }

  property("spearman(x,x) = 1 whenever x has two distinct values") =
    forAll(Gen.listOfN(12, Gen.chooseNum(-50L, 50L))
      .suchThat(_.distinct.length >= 2)) { xs =>
      import spark.implicits._
      val df = xs.toDF("x")
      val r = graft.ops.evals.spearman(df, col("x"), col("x")).head()
      r.getLong(2) == r.getLong(3) && r.getDouble(4) == 1.0
    }

  property("pageRank conserves bounded mass: base·n <= total <= scale") =
    forAll(Gen.chooseNum(2, 12).flatMap(k =>
      Gen.listOfN(k * 2, Gen.zip(Gen.chooseNum(0L, k.toLong), Gen.chooseNum(0L, k.toLong)))
        .map(_.filter(e => e._1 != e._2).distinct))
      .suchThat(_.nonEmpty)) { edges =>
      val ranks = graft.ops.graph.pageRank(edges.toDF("src", "dst"), iters = 2)
        .collect().map(_.getLong(1))
      val n = ranks.length
      val scale = 1000000000000L
      val base = ((1000000L - 850000L) * scale / 1000000L) / n
      ranks.sum >= base * n && ranks.sum <= scale && ranks.forall(_ >= base)
    }

  property("passAtK: pass@1 = c/n exactly; estimator nondecreasing in k") =
    forAll(Gen.chooseNum(1, 25)
      .flatMap(n => Gen.listOfN(n, Gen.oneOf(true, false)))) { oks =>
      val df = oks.map(ok => (1L, ok)).toDF("task", "ok")
      val r = graft.ops.evals.passAtK(df, col("task"), col("ok"), Seq(1, 2, 3))
        .head()
      val n = oks.length.toLong
      val c = oks.count(identity).toLong
      r.getLong(3) == 1000000L - ((n - c) * 1000000L) / n &&
        (n < 2 || r.getLong(3) <= r.getLong(4)) &&
        (n < 3 || r.getLong(4) <= r.getLong(5))
    }

  property("cohenKappa: perfect agreement is exactly 1e6 ppm for ANY labeling") =
    forAll(Gen.listOfN(12, Gen.chooseNum(0L, 3L))
      .suchThat(_.distinct.length >= 2)) { xs =>
      val df = xs.map(x => (x, x)).toDF("a", "b")
      graft.ops.evals.cohenKappa(df, col("a"), col("b"))
        .head().getLong(5) == 1000000L
    }

  property("mutualInfo laws: 0 <= MI <= min(H) up to quantization, ANY columns") =
    forAll(Gen.listOfN(15,
      Gen.zip(Gen.chooseNum(0L, 3L), Gen.chooseNum(0L, 2L)))) { rows =>
      val r = graft.ops.rel.mutualInfo(rows.toDF("a", "b"),
        col("a"), col("b")).head()
      val (ha, hb, mi) = (r.getDouble(3), r.getDouble(4), r.getDouble(5))
      mi >= -1.0e-4 && mi <= math.min(ha, hb) + 1.0e-4
    }

  property("winRateGrid merges by addition: parts folded = whole, ANY split") =
    forAll(Gen.listOfN(14,
      Gen.zip(Gen.chooseNum(0L, 5L), Gen.chooseNum(0L, 5L)))) { rows =>
      val df = rows.zipWithIndex
        .map { case ((a, b), i) => (i.toLong % 3L, a, b) }
        .toDF("part", "a", "b")
      val folded = graft.ops.evals.winRateFrom(
        graft.ops.evals.winRateGrid(df, col("a"), col("b"),
          Seq(col("part"))), Seq.empty).head()
      val whole = graft.ops.evals.winRate(df, col("a"), col("b")).head()
      (0 to 5).forall(i => folded.get(i) == whole.get(i))
    }

  property("ksStat laws: symmetric, in [0,1], identically 0 on self, ANY samples") =
    forAll(Gen.zip(
      Gen.nonEmptyListOf(Gen.chooseNum(-20L, 20L)),
      Gen.nonEmptyListOf(Gen.chooseNum(-20L, 20L)))) { case (xs, ys) =>
      val a = xs.toDF("f"); val b = ys.toDF("f")
      val ab = graft.ops.sample.ksStat(a, col("f"), b, col("f")).head()
      val ba = graft.ops.sample.ksStat(b, col("f"), a, col("f")).head()
      val self = graft.ops.sample.ksStat(a, col("f"), a, col("f")).head()
      ab.getDouble(3) == ba.getDouble(3) &&
        ab.getDouble(3) >= 0.0 && ab.getDouble(3) <= 1.0 &&
        self.getDouble(3) == 0.0 &&
        ab.getLong(0) == xs.length.toLong && ab.getLong(1) == ys.length.toLong
    }

  property("grid KS/EMD finishes equal the raw two-sample meters at binWidth 1") =
    forAll(Gen.zip(
      Gen.nonEmptyListOf(Gen.chooseNum(-20L, 20L)),
      Gen.nonEmptyListOf(Gen.chooseNum(-20L, 20L)))) { case (xs, ys) =>
      val a = xs.toDF("f"); val b = ys.toDF("f")
      val refG = graft.ops.sample.histGrid(a, col("f"), Seq.empty, 1L)
      val curG = graft.ops.sample.histGrid(
        b.withColumn("g", lit("w1")), col("f"), Seq(col("g")), 1L)
      val ksRaw = graft.ops.sample.ksStat(a, col("f"), b, col("f")).head()
      val ksG = graft.ops.sample.ksFrom(refG, curG, Seq("g")).head()
      val ksOk = ksG.getLong(1) == ksRaw.getLong(0) &&
        ksG.getLong(2) == ksRaw.getLong(1) &&
        ksG.getLong(3) == ksRaw.getLong(2) &&
        ksG.getDouble(4) == ksRaw.getDouble(3)
      val emdRaw = graft.ops.sample.emd1d(a, col("f"), b, col("f"), 1L)
        .collect()
      val emdG = graft.ops.sample.emdFrom(refG, curG, Seq("g"), 1L).collect()
      // single-bin grids have no gap rows on either path (same contract)
      val emdOk = (emdRaw.isEmpty && emdG.isEmpty) ||
        (emdG.head.getLong(3) == emdRaw.head.getLong(2) &&
          emdG.head.getDouble(4) == emdRaw.head.getDouble(3))
      ksOk && emdOk
    }

  property("psiFrom: 0 against itself, >= 0 against ANY current grid") =
    forAll(Gen.zip(
      Gen.nonEmptyListOf(Gen.chooseNum(0L, 99L)),
      Gen.nonEmptyListOf(Gen.chooseNum(0L, 99L)))) { case (xs, ys) =>
      val ref = graft.ops.sample.histGrid(xs.toDF("f"), col("f"),
        Seq.empty, 10L)
      val cur = graft.ops.sample.histGrid(
        (xs.map(("self", _)) ++ ys.map(("other", _))).toDF("g", "f"),
        col("f"), Seq(col("g")), 10L)
      val got = graft.ops.sample.psiFrom(ref, cur, Seq("g"))
        .orderBy("g").collect()
      got.length == 2 &&
        got(1).getDouble(3) == 0.0 &&          // "self" sorts after "other"
        got.forall(_.getDouble(3) >= 0.0)
    }

  property("editRowOf: metric laws — identity 0, symmetry, length bounds") =
    forAll(Gen.zip(
      Gen.listOfN(6, Gen.oneOf("a", "b", "c", "ab")),
      Gen.listOfN(4, Gen.oneOf("a", "b", "c", "ab")))) { case (xs, ys) =>
      import org.apache.spark.unsafe.types.UTF8String
      def u(ws: Seq[String]) = UTF8String.fromString(ws.mkString(" "))
      val d = graft.functions.NativeExprs.editRowOf(u(xs), u(ys), 32)
      val dRev = graft.functions.NativeExprs.editRowOf(u(ys), u(xs), 32)
      val self = graft.functions.NativeExprs.editRowOf(u(xs), u(xs), 32)
      val (dist, m, n) = (d.getLong(0), d.getLong(1), d.getLong(2))
      self.getLong(0) == 0L &&                      // d(x,x) = 0
        dist == dRev.getLong(0) &&                  // symmetry
        dist >= math.abs(m - n) &&                  // length gap lower bound
        dist <= math.max(m, n)                      // replace-all upper bound
    }

  property("averagePrecision: ap_ppm in [0, 1e6]; perfect ranking scores 1e6") =
    forAll(Gen.chooseNum(1, 8).flatMap(k => Gen.zip(Gen.const(k),
      Gen.listOfN(8, Gen.oneOf(0L, 1L))))) { case (k, rels) =>
      val someRel = rels.exists(_ == 1L)
      // scores descend with position; rels arbitrary -> AP in range
      val runs = rels.zipWithIndex
        .map { case (r, i) => (0L, r, 100L - i, i.toLong) }
        .toDF("qid", "rel", "s", "tie")
      val row = graft.ops.evals.averagePrecision(runs, col("qid"),
        col("rel"), col("s"), col("tie")).head()
      val apOk = if (someRel)
        row.getLong(4) >= 0L && row.getLong(4) <= 1000000L
      else row.isNullAt(4)
      // perfect ranking: all relevant first -> every term is exactly 1e6
      val sorted = rels.sortBy(-_).zipWithIndex
        .map { case (r, i) => (0L, r, 100L - i, i.toLong) }
        .toDF("qid", "rel", "s", "tie")
      val p = graft.ops.evals.averagePrecision(sorted, col("qid"),
        col("rel"), col("s"), col("tie")).head()
      apOk && (!someRel || p.getLong(4) == 1000000L)
    }

  property("krippendorffAlpha: unanimous panels score 1.0 for ANY unit layout") =
    forAll(Gen.nonEmptyListOf(Gen.zip(Gen.chooseNum(0L, 5L),
      Gen.chooseNum(0L, 3L)))) { units =>
      // every unit rated twice with one label -> Do = 0 -> alpha = 1,
      // unless ALL ratings share one label (de_num = 0 -> NULL);
      // dedupe unit keys first (a re-drawn unit would mix labels)
      val rows = units.toMap.toSeq.flatMap { case (u, l) => Seq((u, l), (u, l)) }
      val row = graft.ops.evals.krippendorffAlpha(rows.toDF("u", "l"),
        col("u"), col("l")).head()
      val oneLabel = rows.map(_._2).distinct.length == 1
      row.getLong(2) == 0L &&
        (if (oneLabel) row.isNullAt(4) else row.getDouble(4) == 1.0)
    }

  property("isotonicFit: non-decreasing and within [0,1] for ANY labeling") =
    forAll(Gen.nonEmptyListOf(Gen.zip(Gen.chooseNum(0L, 6L),
      Gen.oneOf(0L, 1L)))) { rows =>
      val fit = graft.ops.evals.isotonicFit(rows.toDF("s", "y"),
          col("s"), col("y")).orderBy("s")
        .collect().map(_.getDouble(3)).toSeq
      fit.nonEmpty &&
        fit.zip(fit.tail).forall { case (a, b) => a <= b } &&
        fit.forall(f => f >= 0.0 && f <= 1.0)
    }

  property("vocabGrowth: curves end at exact corpus totals for ANY id layout") =
    forAll(Gen.chooseNum(1, 12).flatMap(n => Gen.listOfN(n,
      Gen.zip(Gen.chooseNum(0L, 100L),
        Gen.listOfN(4, Gen.oneOf("a", "b", "c", "d", "e")))))) { rows =>
      val df = rows.map { case (id, ws) => (id, ws.mkString(" ")) }
        .toDF("doc_id", "text")
      val g = graft.ops.text.vocabGrowth(df, "text", "doc_id", buckets = 3)
        .orderBy("bucket").collect()
      val types = rows.flatMap(_._2).distinct.length.toLong
      g.last.getLong(3) == rows.length * 4L &&
        g.last.getLong(4) == types &&
        g.map(_.getLong(2)).sum == types
    }

  property("crossSubstringPairs: planted run always recovered; every extent verbatim") =
    forAll(
      Gen.chooseNum(3, 6).flatMap(l =>
        Gen.listOfN(l, Gen.choose(0, 9).map(i => s"t$i"))),
      Gen.listOfN(12, Gen.choose(0, 9).map(i => s"t$i")),
      Gen.listOfN(12, Gen.choose(0, 9).map(i => s"t$i")),
      Gen.chooseNum(0, 12), Gen.chooseNum(0, 12)) { (run, fa, fb, pa0, pb0) =>
      // plant one shared run at arbitrary positions in two noisy docs;
      // the tiny t0..t9 alphabet makes incidental matches LIKELY, so
      // soundness is stressed alongside recovery
      val pa = math.min(pa0, fa.length)
      val pb = math.min(pb0, fb.length)
      val ta = fa.take(pa) ++ run ++ fa.drop(pa)
      val tb = fb.take(pb) ++ run ++ fb.drop(pb)
      val docs = Seq((1L, ta.mkString(" ")), (2L, tb.mkString(" ")))
        .toDF("doc_id", "text")
      val rows = dedup.crossSubstringPairs(docs, "text", "doc_id", minLen = 3)
        .select("id_a", "id_b", "a_start", "a_end", "b_start", "b_end")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
          r.getInt(3), r.getInt(4), r.getInt(5)))
      // completeness: some maximal extent on the planted diagonal
      // covers the planted interval
      val recovered = rows.exists { case (a, b, as, ae, bs, be) =>
        a == 1L && b == 2L && (bs - as) == (pb - pa) &&
          as <= pa + 1 && ae >= pa + run.length
      }
      // soundness: every reported extent is verbatim-equal token runs
      val sound = rows.forall { case (_, _, as, ae, bs, be) =>
        ta.slice(as - 1, ae) == tb.slice(bs - 1, be)
      }
      recovered && sound
    }

  private val genPerm: Gen[Seq[(Long, Long, Int)]] =
    Gen.chooseNum(8, 30).flatMap(n => Gen.listOfN(n,
      Gen.zip(Gen.choose(0L, 100L), Gen.oneOf(0, 1))))
      .map(_.zipWithIndex.map { case ((v, g), i) => (i.toLong, v, g) }.toSeq)

  property("permTest: p is a valid add-one Monte-Carlo probability") =
    forAll(genPerm) { rows =>
      val df = rows.toDF("id", "v", "g")
      val r = graft.ops.evals.permTest(df, col("id"), col("v"),
        col("g") === 1, reps = 20).head()
      val p = if (r.isNullAt(5)) None else Some(r.getLong(5))
      val reps = r.getLong(3)
      // bounds: 1/(reps_eff+1) <= p <= 1, in ppm (truncating DIV)
      p.forall(v => v >= 1000000L / (reps + 1) && v <= 1000000L) &&
        (p.nonEmpty || r.getLong(1) == 0L || r.getLong(2) == 0L)
    }

  private val genPs: Gen[Seq[Long]] =
    Gen.chooseNum(2, 12).flatMap(n =>
      Gen.listOfN(n, Gen.choose(0L, 1000000L)).map(_.toSeq))

  property("bhAdjust: adjusted p monotone in rank; rejections are a rank prefix") =
    forAll(genPs) { ps =>
      val df = ps.zipWithIndex.map { case (p, i) => (s"h$i", p) }
        .toDF("k", "p")
      val got = graft.ops.evals.bhAdjust(df, Seq("k"), col("p"),
          qPpm = 200000L)
        .orderBy("rank")
        .select("p_ppm", "rank", "p_adj_ppm", "rejected")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      val sortedIn = got.map(_._1).toSeq == ps.sorted
      val monotone = got.sliding(2).forall {
        case Array(a, b) => a._3 <= b._3; case _ => true }
      val capped = got.forall(r => r._3 >= r._1 / r._2.max(1L)
        && r._3 <= 1000000L)
      val prefix = {
        val flags = got.map(_._4).toSeq
        flags == flags.sorted.reverse // 1s then 0s
      }
      sortedIn && monotone && capped && prefix
    }

  property("winsorizedMean lies between the clamp bounds; full band = plain mean") =
    forAll(Gen.chooseNum(4, 40).flatMap(n =>
        Gen.listOfN(n, Gen.choose(-1000L, 1000L)).map(_.toSeq))) { vs =>
      val df = vs.toDF("v")
      val r = graft.ops.evals.winsorizedMean(df, col("v"),
        loPpm = 100000L, hiPpm = 900000L).head()
      val (lo, hi, m) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      val within = m >= lo.toDouble - 1e-6 && m <= hi.toDouble + 1e-6
      // degenerate band [min, max]: winsorization is the identity
      val full = graft.ops.evals.winsorizedMean(df, col("v"),
        loPpm = 0L, hiPpm = 1000000L).head().getDouble(3)
      val plain = vectors.quantizeOf(vs.sum.toDouble / vs.size, 6)
      within && full == plain
    }
}
