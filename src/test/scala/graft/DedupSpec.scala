package graft

import org.apache.spark.sql.functions._

import graft.ops.dedup

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),      // exact dup of 1
    (3L, "the quick brown fox jumps over the sleepy dog"),    // near dup of 1
    (4L, "completely unrelated text about spark query engines and shuffles"),
    (5L, "ab")                                                // < 3 tokens
  ).toDF("doc_id", "text")

  test("wordShingles: overlapping distinct 3-grams; short docs empty") {
    val r = Seq("a b c d").toDF("text")
      .select(dedup.wordShingles(col("text")).as("g")).head().getSeq[String](0)
    assert(r.toSet == Set("a b c", "b c d"))
    val short = Seq("a b").toDF("text")
      .select(dedup.wordShingles(col("text")).as("g")).head().getSeq[String](0)
    assert(short.isEmpty)
  }

  test("jaccard: exact set semantics") {
    val df = Seq((Seq("a", "b", "c"), Seq("b", "c", "d"))).toDF("x", "y")
      .select(dedup.jaccard(col("x"), col("y")).as("j"))
    assert(math.abs(df.head().getDouble(0) - 0.5) < 1e-12) // 2 of 4
  }

  test("jaccard edge semantics: empty and NULL sides, non-string elements, duplicates") {
    // |a ∩ b| / (|a| + |b| − |a ∩ b|) with the intersection taken over
    // distinct elements, NULL and empty-union cases read 0.0 (never NULL)
    def j(a: String, b: String): Double =
      spark.range(1).select(dedup.jaccard(expr(a), expr(b)).as("j"))
        .head().getDouble(0)
    val es = "cast(array() as array<string>)"
    val ns = "cast(null as array<string>)"
    assert(j(es, es) == 0.0)
    assert(j(es, "array('a', 'b')") == 0.0)
    assert(j("array('a', 'b')", es) == 0.0)
    assert(j(ns, "array('a', 'b')") == 0.0)
    assert(j("array('a', 'b')", ns) == 0.0)
    assert(j(ns, ns) == 0.0)
    assert(j(ns, es) == 0.0)
    assert(j("array('a', 'b')", "array('b', 'a')") == 1.0)
    // non-string element types
    assert(j("array(1L, 2L, 3L)", "array(2L, 3L, 4L)") == 0.5)
    assert(j("array(1, 2)", "array(3)") == 0.0)
    assert(j("array(cast('NaN' as double), 1.0D)", "array(cast('NaN' as double))") == 0.5)
    assert(j("array(0.0D)", "array(-0.0D)") == 0.0)
    assert(j("array(X'01', X'02')", "array(X'02')") == 0.5)
    assert(j("array(array(1), array(2))", "array(array(2), array(3))") == 1.0 / 3)
    // a NULL element is an element; duplicates count in |a| + |b|
    assert(j("array(cast(null as string), 'a')", "array(cast(null as string))") == 0.5)
    assert(j("array('a', 'a')", "array('a')") == 0.5)
    assert(j("array('a', 'a', 'b')", "array('a', 'a')") == 1.0 / 4)
  }

  test("exact dedup groups duplicates and keeps the lowest id") {
    val groups = dedup.exactGroups(docs, "text", "doc_id")
    assert(groups.count() == 4) // 1&2 merge
    val dupGroup = groups.filter(col("group_size") === 2).head()
    assert(dupGroup.getLong(1) == 1L) // keep_id
    val kept = dedup.exactDedup(docs, "text", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L, 4L, 5L))
  }

  test("dedupLines: each line's globally-first occurrence survives; docs reassemble in order") {
    val df = Seq(
      (1L, "alpha\nbeta\ngamma"),
      (2L, "beta\ndelta"),   // beta first seen at (1, 1) -> dropped here
      (3L, "alpha\nbeta")    // every line seen earlier -> empty doc kept
    ).toDF("doc_id", "text")
    val r = dedup.dedupLines(df, "text", "doc_id").orderBy("doc_id")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(r == Seq(
      (1L, "alpha\nbeta\ngamma", 3L, 3L),
      (2L, "delta", 2L, 1L),
      (3L, "", 2L, 0L)))
    // in-doc duplicate: only the first position survives
    val r2 = dedup.dedupLines(Seq((7L, "x\nx\ny")).toDF("doc_id", "text"),
        "text", "doc_id")
      .as[(Long, String, Long, Long)].head()
    assert(r2 == ((7L, "x\ny", 3L, 2L)))
  }

  test("minhash: identical docs share full signature; near-dups share most of it") {
    val mh = dedup.minhashed(docs, "text", "doc_id", k = 16)
    val sigs = mh.select(col("doc_id"), col("sig")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(!sigs.contains(5L)) // too short to shingle
    assert(sigs(1L) == sigs(2L))
    val agree = sigs(1L).zip(sigs(3L)).count { case (a, b) => a == b }
    assert(agree >= 8, s"near-dups should agree on most minhashes, got $agree/16")
    assert(sigs(1L).zip(sigs(4L)).count { case (a, b) => a == b } <= 2)
  }

  test("minhashNearDupPairs finds planted near-dups only") {
    val pairs = dedup.minhashNearDupPairs(docs, "text", "doc_id", threshold = 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)))
    assert(!pairs.exists { case (a, b) => a == 4L || b == 4L })
  }

  /** Plain-Scala MinHash-LSH: shingle sets → NativeExprs.minhash →
    * band keys → pairs sharing a band → exact Jaccard ≥ threshold. */
  private def referencePairs(corpus: Seq[(Long, String)], threshold: Double,
      k: Int, bands: Int, n: Int, keep: (Long, Long) => Boolean): Set[(Long, Long, Double)] = {
    val sets = corpus.flatMap { case (id, t) =>
      val toks = t.toLowerCase.split("[ \t\n\u000B\f\r]+").filter(_.nonEmpty)
      if (toks.length < n) None
      else Some(id -> toks.sliding(n).map(_.mkString(" ")).toSeq.distinct)
    }.toMap
    val r = k / bands
    val buckets = sets.toSeq.flatMap { case (id, grams) =>
      val sig = graft.functions.NativeExprs.minhash(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(
          grams.map(org.apache.spark.unsafe.types.UTF8String.fromString)), k)
      (0 until bands).map(b => (b, sig.slice(b * r, b * r + r).mkString("_")) -> id)
    }.groupBy(_._1).values.map(_.map(_._2).sorted)
    val cands = buckets.flatMap(ids =>
      for (a <- ids; b <- ids if a < b && keep(a, b)) yield (a, b)).toSet
    cands.flatMap { case (a, b) =>
      val (x, y) = (sets(a).toSet, sets(b).toSet)
      val inter = (x intersect y).size
      val jacc = inter.toDouble / (x.size + y.size - inter)
      if (jacc >= threshold) Some((a, b, jacc)) else None
    }
  }

  test("minhashNearDupPairs equals a plain-Scala MinHash-LSH reference on random corpora") {
    val vocab = Seq("the", "Cat", "sat", "on", "a", "MAT", "dog", "ran", "to", "é", "ß", "x")
    val ws = Seq(" ", "  ", "\t", "\n", "\r\n", "\u000B", "\f")
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed)
      def doc(toks: Seq[String]) =
        toks.map(_ + ws(rnd.nextInt(ws.size))).mkString.trim
      val bases = Seq.fill(14)(Seq.fill(4 + rnd.nextInt(9))(vocab(rnd.nextInt(vocab.size))))
      val texts = bases ++ bases.take(8).map(b => b.updated(rnd.nextInt(b.size),
          vocab(rnd.nextInt(vocab.size)))) ++
        Seq(Seq("a", "b"), Seq.empty, bases.head)  // too short, empty, exact copy
      val corpus = texts.zipWithIndex.map { case (t, i) => (i.toLong + 1, doc(t)) }
      val df = corpus.toDF("doc_id", "text")
      val (k, bands, n, threshold) =
        if (seed % 2 == 0) (16, 8, 3, 0.5) else (12, 4, 2, 0.3)
      val filters: Seq[(Option[org.apache.spark.sql.Column], (Long, Long) => Boolean)] = Seq(
        (None, (_, _) => true),
        (Some((col("id_a") + col("id_b")) % 2 === 1), (a, b) => (a + b) % 2 == 1))
      for ((pf, keep) <- filters) {
        val got = dedup.minhashNearDupPairs(df, "text", "doc_id", threshold, k, bands, n, pf)
          .as[(Long, Long, Double)].collect()
        val want = referencePairs(corpus, threshold, k, bands, n, keep)
        assert(got.length == got.toSet.size, s"seed $seed: duplicate pairs")
        assert(got.toSet == want, s"seed $seed, filter ${pf.isDefined}")
        assert(pf.isDefined || want.nonEmpty, s"seed $seed: the corpus must plant pairs")
      }
    }
  }

  test("minhashNearDupPairs plan: at most two word_shingles evaluations, one jaccard, no array_intersect") {
    // RDD-backed, so the optimizer cannot fold the kernels over a local relation
    val rddDocs = spark.sparkContext.parallelize(docs.as[(Long, String)].collect().toSeq, 2)
      .toDF("doc_id", "text")
    val pairs = dedup.minhashNearDupPairs(rddDocs, "text", "doc_id", threshold = 0.4)
    assert(pairs.count() == 3)
    pairs.collect()
    // the final adaptive plan only: its tree string also prints the
    // initial plan, which would count every expression twice
    val plan = pairs.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val text = plan.toString
    def count(s: String) = text.sliding(s.length).count(_ == s)
    assert(count("word_shingles(") <= 2, text)
    assert(count("array_intersect(") == 0, text)
    assert(count("jaccard(") == 1, text) // once per pair: not again in a join condition
  }

  test("jaccardPairs: exact pair set and hand-computed scores") {
    val pairs = dedup.jaccardPairs(docs, "text", "doc_id", threshold = 0.4)
      .select("id_a", "id_b", "jacc").as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // docs 1/2 identical: 7 shingles each, all shared
    assert(math.abs(pairs((1L, 2L)) - 1.0) < 1e-12)
    // docs 1/3 share the first 5 of 7 shingles: 5 / (7 + 7 - 5) = 5/9
    assert(math.abs(pairs((1L, 3L)) - 5.0 / 9.0) < 1e-12)
    assert(pairs.contains((2L, 3L)))
    assert(!pairs.keys.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("containmentPairs: excerpt inside a long doc scores 1.0 where jaccard misses it") {
    // doc 20 = a 6-token excerpt of doc 21 (4 distinct 3-gram shingles,
    // all contained); doc 21 has many more shingles -> jaccard is small
    val excerpt = "alpha beta gamma delta epsilon zeta"
    val long = excerpt + " eta theta iota kappa lambda mu nu xi omicron pi rho sigma"
    val cdocs = Seq((20L, excerpt), (21L, long), (22L, "totally different words here now"))
      .toDF("doc_id", "text")
    val cont = dedup.containmentPairs(cdocs, "text", "doc_id", threshold = 0.9)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(cont((20L, 21L)) == 1.0, "full excerpt containment")
    assert(cont.size == 1)
    // jaccard at the same bar structurally misses the pair
    val jac = dedup.jaccardPairs(cdocs, "text", "doc_id", threshold = 0.9)
      .as[(Long, Long, Double)].collect()
    assert(jac.isEmpty)
  }

  test("simhash: identical equal; near-dup within a few bits; unrelated far") {
    val sh = dedup.simhash(docs, "text", "doc_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(sh(1L) == sh(2L))
    assert(ham(sh(1L), sh(3L)) <= 4)
    assert(ham(sh(1L), sh(4L)) > 4)
  }

  test("simhashNearDupPairs: planted pairs survive the hamming rerank") {
    val pairs = dedup.simhashNearDupPairs(docs, "text", "doc_id", maxHamming = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("simhash quarter blocking: candidates stay far below n^2 on a planted-skew corpus") {
    // 150 mutually-distinct docs (every token salted by row id) + a
    // 10-doc near-identical cluster. maxHamming = 64 disables the rerank,
    // so the result IS the blocked candidate set.
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val distinct = spark.range(150).selectExpr("id AS doc_id",
      s"concat_ws(' ', transform(split('$base', ' '), t -> concat(t, '_', id))) AS text")
    // exact-duplicate cluster: identical signatures = the classic hot
    // bucket (each doc's id rides only in doc_id, not the text)
    val cluster = spark.range(1000, 1010).selectExpr("id AS doc_id",
      s"'$base $base $base' AS text")
    val corpus = distinct.union(cluster)
    val n = corpus.count()
    val cands = dedup.simhashNearDupPairs(corpus, "text", "doc_id", maxHamming = 64)
    val clusterPairs = cands.where(col("id_a") >= 1000).count()
    assert(clusterPairs == 45L, s"near-identical cluster must fully block: $clusterPairs")
    // candidate total ≪ n(n-1)/2 = 12720: correlated block keys don't
    // randomly collide across unrelated docs
    val total = cands.count()
    assert(total < n * (n - 1) / 2 / 20,
      s"blocking produced $total candidates of ${n * (n - 1) / 2} possible")
  }

  test("fuzzyPairs: prefix-blocked edit-distance pairs with hand-checked distances") {
    // docs 1-3 share the 16-char prefix "the quick brown "; doc 4 blocks
    // alone; doc 5 ("ab") blocks alone
    val pairs = dedup.fuzzyPairs(docs, "text", "doc_id", maxDist = 8)
      .select("id_a", "id_b", "dist").as[(Long, Long, Int)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(pairs((1L, 2L)) == 0) // identical
    // "...the lazy dog" vs "...the sleepy dog": levenshtein = 3
    val expected = {
      val a = "the quick brown fox jumps over the lazy dog".take(64)
      val b = "the quick brown fox jumps over the sleepy dog".take(64)
      // tiny reference implementation
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    assert(pairs((1L, 3L)) == expected && pairs((2L, 3L)) == expected)
    assert(!pairs.keys.exists { case (a, b) => a == 4L || b == 4L || a == 5L || b == 5L })
  }

  test("fuzzyPairs: boilerplate prefix blocks above maxBucket are dropped, not expanded") {
    // 10 docs share a boilerplate prefix; 2 docs share a rare one. With
    // maxBucket = 4 the hot block contributes NOTHING (no n² expansion of
    // boilerplate) while the rare block still pairs up.
    val mixed = ((1L to 10L).map(i => (i, s"common boilerplate opening line $i")) ++
      Seq((21L, "a very rare prefix doc one"), (22L, "a very rare prefix doc two")))
      .toDF("doc_id", "text")
    val got = dedup.fuzzyPairs(mixed, "text", "doc_id",
        maxDist = 20, prefixLen = 16, maxBucket = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == Set((21L, 22L)),
      s"expected only the rare-prefix pair, got $got")
  }

  test("repeatedSpans finds planted boilerplate, merges adjacent grams, ignores unique text") {
    // 3 docs share an 8-token license header; each has unique tail text
    val header = "licensed under the apache license version two zero"
    val docs = Seq(
      (1L, s"$header alpha beta gamma delta epsilon"),
      (2L, s"$header zeta eta theta iota kappa"),
      (3L, s"$header lambda mu nu xi omicron"),
      (4L, "completely different text with no shared runs at all here"))
      .toDF("doc_id", "text")
    val spans = dedup.repeatedSpans(docs, "text", "doc_id", n = 5, minDf = 3)
      .as[(Long, Int, Int, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    // grams at positions 1..4 of the 8-token header are shared by docs
    // 1-3 -> one merged span per doc covering tokens 1..8; doc 4 clean
    assert(spans == Seq(
      (1L, 1, 8, 4L), (2L, 1, 8, 4L), (3L, 1, 8, 4L)))
  }

  test("removeRepeatedSpans excises the planted header, keeps unique tails verbatim") {
    val header = "licensed under the apache license version two zero"
    val docs = Seq(
      (1L, s"$header alpha beta gamma delta epsilon"),
      (2L, s"$header zeta eta theta iota kappa"),
      (3L, s"$header lambda mu nu xi omicron"),
      (4L, "completely different text with no shared runs at all here"))
      .toDF("doc_id", "text")
    val cleaned = dedup.removeRepeatedSpans(docs, "text", "doc_id", n = 5, minDf = 3)
      .select("doc_id", "clean_text").as[(Long, String)].collect().toMap
    assert(cleaned(1L) == "alpha beta gamma delta epsilon")
    assert(cleaned(2L) == "zeta eta theta iota kappa")
    assert(cleaned(3L) == "lambda mu nu xi omicron")
    assert(cleaned(4L) == "completely different text with no shared runs at all here")
  }

  test("crossSubstringPairs: hand-built extents, offsets, multi-occurrence diagonals") {
    // docs 1 and 2 share the 5-token run "a b c d e" at DIFFERENT
    // positions (doc 1 tokens 3..7, doc 2 tokens 1..5, diagonal d=-2)
    val docs = Seq(
      (1L, "x1 x2 a b c d e x3"),
      (2L, "a b c d e y1 y2 y3"),
      (3L, "nothing shared here at all among these")).toDF("doc_id", "text")
    val got = dedup.crossSubstringPairs(docs, "text", "doc_id", minLen = 3)
      .as[(Long, Long, Int, Int, Int, Int, Long)].collect().toSeq
    assert(got == Seq((1L, 2L, 3, 7, 1, 5, 5L)))
    // a run occurring TWICE in one doc pairs on two diagonals -> two
    // separate maximal extents against the single-occurrence doc
    val multi = Seq(
      (4L, "a b c a b c"),
      (5L, "a b c")).toDF("doc_id", "text")
    val m = dedup.crossSubstringPairs(multi, "text", "doc_id", minLen = 3)
      .as[(Long, Long, Int, Int, Int, Int, Long)].collect().sortBy(_._3).toSeq
    assert(m == Seq((4L, 5L, 1, 3, 1, 3, 3L), (4L, 5L, 4, 6, 1, 3, 3L)))
    // the occurrence cap drops a boilerplate gram BEFORE pairing
    val capped = dedup.crossSubstringPairs(
      Seq((1L, "a b c"), (2L, "a b c"), (3L, "a b c"), (4L, "a b c"))
        .toDF("doc_id", "text"), "text", "doc_id", minLen = 3, maxOcc = 3)
    assert(capped.count() == 0L, "4 occurrences > maxOcc=3 must drop the gram")
    intercept[IllegalArgumentException] {
      dedup.crossSubstringPairs(docs, "text", "doc_id", minLen = 1)
    }
  }

  test("crossDupStats: overlapping extents island-merge; both pair sides count") {
    // doc 5 shares "a b c d" with doc 1 (extent 1..4) and "c d e f"
    // with doc 2 (extent 3..6): overlapping -> merged island 1..6, so
    // dup_tokens = 6 of 6, never 4 + 4
    val docs = Seq(
      (1L, "a b c d x"),
      (2L, "c d e f y"),
      (5L, "a b c d e f"),
      (7L, "q r s t u v w")).toDF("doc_id", "text")
    val got = dedup.crossDupStats(docs, "text", "doc_id", minLen = 3)
      .orderBy("doc_id").as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 5L, 4L, 8000L),   // a-side extent 1..4 of 5 tokens
      (2L, 5L, 4L, 8000L),   // extent 1..4 of 5 tokens
      (5L, 6L, 6L, 10000L),  // merged 1..6 of 6 tokens
      (7L, 7L, 0L, 0L)),     // FULL DOMAIN: untouched doc -> rate 0 row
      got.toString)
  }

  test("removeCrossDupSubstrings: keep-first excision, untouched docs pass through") {
    val docs = Seq(
      (1L, "x1 x2 a b c d e x3"),
      (2L, "a b c d e y1 y2 y3"),
      (3L, "nothing shared here at all among these")).toDF("doc_id", "text")
    val cleaned = dedup.removeCrossDupSubstrings(docs, "text", "doc_id",
        minLen = 3)
      .select("doc_id", "clean_text").as[(Long, String)].collect().toMap
    // doc 1 (lowest id) KEEPS its copy; doc 2 drops tokens 1..5
    assert(cleaned(1L) == "x1 x2 a b c d e x3")
    assert(cleaned(2L) == "y1 y2 y3")
    assert(cleaned(3L) == "nothing shared here at all among these")
    // a doc whose whole text is a duplicated extent empties cleanly
    val pair = Seq((4L, "a b c"), (5L, "a b c")).toDF("doc_id", "text")
    val c2 = dedup.removeCrossDupSubstrings(pair, "text", "doc_id", minLen = 3)
      .select("doc_id", "clean_text").as[(Long, String)].collect().toMap
    assert(c2(4L) == "a b c" && c2(5L) == "")
  }

  test("connectedComponents matches union-find on a random graph and a long chain") {
    // chain 0-1-2-...-29: worst case for naive min-label propagation
    val chain = (0L until 29L).map(i => (i, i + 1))
    // random sparse graph over ids 100..199, seeded for determinism
    val rnd = new scala.util.Random(42)
    val random = (0 until 60).map { _ =>
      (100L + rnd.nextInt(100), 100L + rnd.nextInt(100))
    }.filter { case (a, b) => a != b }
    val edges = (chain ++ random).toDF("id_a", "id_b")

    // reference union-find
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    (chain ++ random).foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = (chain ++ random).flatMap(e => Seq(e._1, e._2)).distinct
      .map(x => x -> find(x)).toMap

    val got = dedup.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(got == expected)

    // the distributed star-contraction path (forced past the union-find
    // fast path) must agree with the driver-side finish exactly
    val distributed = dedup.connectedComponents(edges, driverFinishEdges = 0L)
      .as[(Long, Long)].collect().toMap
    assert(distributed == expected)
  }

  test("connectedComponents: empty edge list yields empty result") {
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(dedup.connectedComponents(empty).count() == 0)
  }

  test("nearDupClusters labels the planted cluster with its min id") {
    val r = dedup.nearDupClusters(docs, "text", "doc_id", threshold = 0.4)
      .as[(Long, Long, Boolean)].collect().toSet
    // docs 1,2,3 form one cluster with rep 1; 4 and 5 are singletons (absent)
    assert(r == Set((1L, 1L, true), (2L, 1L, false), (3L, 1L, false)))
  }

  test("embeddingNearDupPairs finds an identical-vector pair") {
    val v = (0 until 64).map(i => math.sin(i * 0.3)).toArray
    val w = (0 until 64).map(i => math.cos(i * 1.7)).toArray
    val df = Seq((10L, v), (11L, v), (12L, w)).toDF("vec_id", "embedding")
    val pairs = dedup.embeddingNearDupPairs(df, threshold = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((10L, 11L)))
  }

  test("embeddingNearDupPairs bucket cap drops hot buckets, keeps small ones") {
    val a = (0 until 64).map(i => math.sin(i * 0.3)).toArray
    val b = (0 until 64).map(i => math.cos(i * 1.7)).toArray
    // 300 identical copies of `a` (one hot bucket in EVERY table) + one
    // planted pair of `b`
    val hot = (0L until 300L).map(i => (i, a))
    val df = (hot ++ Seq((1000L, b), (1001L, b))).toDF("vec_id", "embedding")
    val capped = dedup.embeddingNearDupPairs(df, threshold = 0.9, bucketCap = 16)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(capped == Set((1000L, 1001L)),
      s"hot bucket must be dropped under the cap, got ${capped.size} pairs")
    val uncapped = dedup.embeddingNearDupPairs(df, threshold = 0.9, bucketCap = 100000)
      .count()
    assert(uncapped == 300L * 299L / 2 + 1)
  }

  test("incrementalNearDups: batch-vs-corpus only; corpus pairs never generated") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),   // corpus-internal dup
      (3L, "completely unrelated text about spark query engines and shuffles")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the sleepy dog"), // near-dup of 1 and 2
      (11L, "novel content that matches nothing in the corpus at all today")
    ).toDF("doc_id", "text")
    val sigs = dedup.minhashed(corpus, "text", "doc_id", k = 16)
    val r = dedup.incrementalNearDups(batch, sigs, "text", "doc_id", threshold = 0.5)
    val pairs = r.select("corpus_id", "new_id").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 10L), (2L, 10L)))
    // the corpus-internal dup (1,2) must NOT appear — only cross pairs
    // the batch side rides as a broadcast; the corpus side never shuffles
    val plan = r.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
  }

  test("semanticDedup: lowest id survives per similar set, clusters isolate the search") {
    val centroids: Seq[(Int, Seq[Double])] =
      Seq(0 -> Seq(1.0, 0.0), 1 -> Seq(0.0, 1.0))
    val df = Seq(
      (1L, Array(1.0, 0.0)),     // cluster 0
      (2L, Array(0.99, 0.14)),   // cluster 0, cos(1,2) ~ 0.990 -> dropped
      (3L, Array(0.7, -0.72)),   // cluster 0, cos(1,3) ~ 0.697 -> kept
      (4L, Array(0.0, 1.0)),     // cluster 1
      (5L, Array(0.1, 0.995))    // cluster 1, cos(4,5) ~ 0.995 -> dropped
    ).toDF("vec_id", "embedding")
    val kept = dedup.semanticDedup(df, centroids, threshold = 0.9)
      .as[(Long, Int)].collect().toMap
    assert(kept.keySet == Set(1L, 3L, 4L))
    assert(kept(1L) == 0 && kept(3L) == 0 && kept(4L) == 1)
    // hot-cluster guard: clusters over the cap skip pair generation —
    // everything survives rather than running an n^2 join
    val capped = dedup.semanticDedup(df, centroids, threshold = 0.9, clusterCap = 1L)
    assert(capped.count() == 5)
  }

  test("minhashPlantedRecall: full recall on long docs at light perturbation; monotone") {
    // 40 distinct long documents (repetition-free token streams so the
    // only near-dups are the plants themselves)
    val words = ('a' to 'z').map(_.toString)
    val docs = Seq.tabulate(40) { i =>
      (i.toLong, (0 until 30).map(t => words((i * 31 + t * 7) % 26) + t).mkString(" "))
    }.toDF("doc_id", "text")
    val r = dedup.minhashPlantedRecall(docs, "text", "doc_id",
        levels = Seq(1, 4), threshold = 0.5)
      .orderBy("level")
      .as[(Long, Long, Long, Long)].collect()
    assert(r.map(_._2).toSet === Set(40L), "every doc is long enough to plant")
    // one replaced token in 30 -> jaccard ~ 0.8 -> per-plant collision
    // prob ~ 0.9997; a rare banding miss is honest LSH behavior (it is
    // what the meter measures), so pin near-full, not perfect, recall
    assert(r(0)._1 === 1L && r(0)._4 >= 9500L, r(0).toString)
    // recall never increases with perturbation
    assert(r(0)._3 >= r(1)._3)
    // short docs are excluded from planting, not mangled
    val tiny = Seq((1L, "a b c")).toDF("doc_id", "text")
    assert(dedup.minhashPlantedRecall(tiny, "text", "doc_id", levels = Seq(1))
      .head().getLong(1) === 0L)
  }

  test("tfidfCosinePairs: rare shared vocabulary outscores common; exact fixed-point") {
    val corpus = Seq(
      // 1 & 2 share the RARE bigram-ish vocabulary (zyzzyva, quokka)
      (1L, "the zyzzyva quokka report alpha"),
      (2L, "the zyzzyva quokka report beta"),
      // 3 & 4 share only corpus-common terms
      (3L, "the report gamma common words here"),
      (4L, "the report delta common words there"),
      (5L, "entirely unrelated content lives in this one"))
      .toDF("doc_id", "text")
    val pairs = dedup.tfidfCosinePairs(corpus, "text", "doc_id",
        threshold = 0.05, maxDf = 256)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, c) => (a, b) -> c }.toMap
    assert(pairs.contains((1L, 2L)), s"rare-vocab pair must surface: $pairs")
    val rare = pairs((1L, 2L))
    val common = pairs.getOrElse((3L, 4L), 0.0)
    assert(rare > common,
      s"idf weighting must rank rare-shared above common-shared: $rare vs $common")
    // determinism: identical across runs (exact integer sums)
    val again = dedup.tfidfCosinePairs(corpus, "text", "doc_id",
        threshold = 0.05, maxDf = 256)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, c) => (a, b) -> c }.toMap
    assert(again == pairs)
    // identical docs → cosine 1.0 over the banded terms
    val twins = Seq((1L, "aa bb cc dd"), (2L, "aa bb cc dd")).toDF("doc_id", "text")
    val t = dedup.tfidfCosinePairs(twins, "text", "doc_id", threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSeq
    assert(t.size == 1 && t.head._3 == 1.0, t.toString)
  }

  test("screenAgainstIndex equals incrementalNearDups, with partition pruning") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "a completely different sentence about distributed systems design"),
      (3L, "large language models train on deduplicated web corpora daily"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (101L, "the quick brown fox jumps over the lazy dog today"), // near-dup of 1
      (102L, "nothing like anything stored in that corpus at all ever"))
      .toDF("doc_id", "text")

    val path = java.nio.file.Files.createTempDirectory("graft-sigidx-").toString + "/idx"
    dedup.writeSignatureIndex(corpus, "text", "doc_id", path, buckets = 16)

    val live = dedup.incrementalNearDups(batch,
        dedup.minhashed(corpus, "text", "doc_id", k = 16), "text", "doc_id",
        threshold = 0.5)
      .select("corpus_id", "new_id", "jacc").as[(Long, Long, Double)]
      .collect().toSet
    val screened = dedup.screenAgainstIndex(batch, path, "text", "doc_id",
        threshold = 0.5, buckets = 16)
    assert(screened.select("corpus_id", "new_id", "jacc")
      .as[(Long, Long, Double)].collect().toSet == live)
    assert(live.exists { case (c, n, _) => c == 1L && n == 101L },
      "planted near-dup must surface")
    // the batch's band buckets must reach the index read as a PARTITION
    // filter — that is what makes a small batch skip most of a 100 TB
    // index's directories
    val plan = screened.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"),
      s"no partition pruning on the band index scan:\n${plan.take(1200)}")
  }

  test("signature index append extends screening to the new slice") {
    val c1 = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val c2 = Seq((2L, "one two three four five six seven eight nine"))
      .toDF("doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("graft-sigap-").toString + "/idx"
    dedup.writeSignatureIndex(c1, "text", "doc_id", path, buckets = 8)
    dedup.writeSignatureIndex(c2, "text", "doc_id", path, buckets = 8,
      mode = "append")
    val batch = Seq((10L, "one two three four five six seven eight ten"))
      .toDF("doc_id", "text")
    val hits = dedup.screenAgainstIndex(batch, path, "text", "doc_id",
        threshold = 0.4, buckets = 8)
      .select("corpus_id").as[Long].collect().toSeq
    assert(hits == Seq(2L), "near-dup of the APPENDED slice must surface")
  }

  test("winnowing: shared run >= w+n-1 tokens guarantees a shared fingerprint; partial copy caught") {
    // doc 1 and doc 2 share a 12-token span (> w+n-1 = 7) inside
    // otherwise-different documents; doc 3 is unrelated.
    val span = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val docs = Seq(
      (1L, s"intro words here $span closing remarks follow now"),
      (2L, s"completely different opening $span and another different tail"),
      (3L, "unrelated content about streams windows joins aggregates shuffles"))
      .toDF("doc_id", "text")
    val fps = docs.select(col("doc_id"),
        dedup.winnowFingerprints(col("text"), n = 4, w = 4).as("f"))
      .as[(Long, Seq[Long])].collect().toMap
    assert((fps(1L).toSet intersect fps(2L).toSet).nonEmpty,
      "the winnowing guarantee: a 12-token shared run must share a fingerprint")
    assert((fps(1L).toSet intersect fps(3L).toSet).isEmpty)
    // density sanity: ~2/(w+1) of grams selected, never more than grams
    assert(fps(1L).size < 20 && fps(1L).nonEmpty)
    val pairs = dedup.winnowPairs(docs, "text", "doc_id",
        n = 4, w = 4, minShared = 1)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)), pairs.toString)
    // short docs: fewer grams than w still fingerprint (global min)
    val short = Seq((9L, "just five little words here")).toDF("doc_id", "text")
    val sf = short.select(dedup.winnowFingerprints(col("text"), 4, 4))
      .as[Seq[Long]].head()
    assert(sf.size == 1)
    // the fused kernel IS the HOF twin, element-for-element (order too)
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val diff = real.select(
        dedup.winnowFingerprints(col("text"), 4, 4).as("a"),
        HofTwins.winnowFingerprintsHof(col("text"), 4, 4).as("b"))
      .where(col("a") =!= col("b")).count()
    assert(diff == 0, "winnow kernel diverged from HOF twin")
  }

  test("ngramNovelty: copies fully seen, partial overlap counted, short docs excluded") {
    val d = Seq(
      (1L, "a b c d e f"),   // grams: abc bcd cde def
      (2L, "a b c d e f"),   // exact copy -> all 4 seen
      (3L, "a b c x y z"),   // shares only 'a b c' -> 1/4 seen
      (4L, "a b")            // < n tokens: no grams, excluded
    ).toDF("doc_id", "text")
    val got = dedup.ngramNovelty(d, "text", "doc_id", n = 3)
      .orderBy("doc_id").as[(Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      (1L, 4L, 0L, 0.0),
      (2L, 4L, 4L, 1.0),
      (3L, 4L, 1L, 0.25)), got.toString)
  }

  test("topNgrams: df/occurrence counts and the deterministic tie-break") {
    val d = Seq(
      (1L, "x y z x y z"),   // 'x y z' twice in one doc, 'y z x' once...
      (2L, "x y z"),
      (3L, "p q r")
    ).toDF("doc_id", "text")
    val got = dedup.topNgrams(d, "text", "doc_id", n = 3, k = 3)
      .as[(String, Long, Long)].collect().toSeq
    // 'x y z': df 2, occ 3; the four df-1/occ-1 grams tie -> lex order
    assert(got == Seq(("x y z", 2L, 3L), ("p q r", 1L, 1L), ("y z x", 1L, 1L)),
      got.toString)
  }

  test("crossNovelty: copy of reference scores 0, fresh text scores 1") {
    val ref = Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val cand = Seq(
      (1L, "the quick brown fox jumps"),          // every 3-gram known
      (2L, "completely novel words appear here"), // none known
      (3L, "too short")                           // < n tokens: excluded
    ).toDF("doc_id", "text")
    val got = dedup.crossNovelty(cand, ref, "text", "doc_id", n = 3)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq((1L, 3L, 3L, 0.0), (2L, 3L, 0L, 1.0)), got.toString)
  }

  test("crossNoveltyIndexed: persisted gram set reproduces the live gate") {
    val ref = Seq((100L, "the quick brown fox jumps over the lazy dog"),
      (101L, "pack my box with five dozen liquor jugs"))
      .toDF("doc_id", "text")
    val cand = Seq((1L, "the quick brown fox runs"),
      (2L, "entirely new material here today")).toDF("doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("graft-gs-test-")
      .toString + "/grams"
    dedup.writeGramSet(ref, "text", path, n = 3)
    val live = dedup.crossNovelty(cand, ref, "text", "doc_id", n = 3)
      .orderBy("doc_id").collect().map(_.toSeq)
    val indexed = dedup.crossNoveltyIndexed(cand, path, "text", "doc_id", n = 3)
      .orderBy("doc_id").collect().map(_.toSeq)
    assert(live.toSeq == indexed.toSeq, "index round-trip is value-identical")
  }

  test("boundaryPairs: stitch + shared prefix/suffix; cap drops boilerplate") {
    val bdocs = Seq(
      (1L, "a b c d e f"),      // tail "c d e f"
      (2L, "c d e f g h"),      // head "c d e f" -> stitch 1>2
      (3L, "a b c d z z"),      // shares head with 1
      (4L, "q q q c d e f"),    // shares tail with 1; tail -> stitch 4>2
      (5L, "x y"))              // < w tokens: no fingerprints
      .toDF("doc_id", "text")
    val got = dedup.boundaryPairs(bdocs, "text", "doc_id", w = 4,
        maxOcc = 64)
      .select("id_a", "id_b", "relation")
      .as[(Long, Long, String)].collect().toSet
    assert(got == Set(
      (1L, 2L, "stitch"), (4L, 2L, "stitch"),
      (1L, 3L, "shared_prefix"), (1L, 4L, "shared_suffix")))
    // maxOcc = 1: every boundary shared by 2+ docs on a side is
    // boilerplate — capped before pairing, nothing survives
    assert(dedup.boundaryPairs(bdocs, "text", "doc_id", w = 4,
      maxOcc = 1).count() == 0L)
    intercept[IllegalArgumentException] {
      dedup.boundaryPairs(bdocs, "text", "doc_id", w = 1)
    }
  }
}
