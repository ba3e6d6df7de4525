package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** 10× scale rehearsal for the dedup/ANN family — the caps and bucket
  * disciplines are DESIGNED for 100 TB but are only ever exercised by
  * the driver at sf0.1; this main synthesizes a `factor`-times corpus
  * from an sf dir and runs the family against it, printing per-op wall
  * time, result cardinality, and every `observe()` safety counter
  * (dropped buckets / skipped clusters / max bucket), so cap behavior
  * at the next order of magnitude is MEASURED, not argued.
  *
  * Replication is deliberately adversarial for dedup:
  *   - documents are EXACT clones (ids shifted): every clone group
  *     shares every minhash/simhash band bucket — worst case for the
  *     pair-generation gates, and exactly what dedup exists to find;
  *   - embeddings get a per-replica deterministic perturbation
  *     (`x + r·1e-4`), so clones are near- but not exact dups and the
  *     LSH buckets densify ~10× without collapsing to identical keys.
  *
  * Usage: `runMain graft.ScaleRehearsal [sfDir] [factor]`; results land
  * in BASELINE.md ("10× scale rehearsal" section).
  */
object ScaleRehearsal {
  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = if (args.length > 1) args(1).toInt else 10
    // Shuffle partitions scale with the DATA, not the cores — the brief's
    // "size shuffle partitions for the target SF" rule, learned the hard
    // way: at factor 100 the jaccard inverted-index join's per-partition
    // aggregate state outgrew a 32-partition layout's heap (each clone
    // group contributes C(100,2) pair keys), while the same plan at 4×
    // the partitions spills fine. A real cluster sizes this the same way.
    val spark = graft.core.LocalSession("WARN",
      shufflePartitions = math.max(graft.core.LocalSession.cpus, factor * 4))

    val work = java.nio.file.Files.createTempDirectory("graft-scale-").toString
    println(s"SCALE synthesizing ${factor}x of $baseDir under $work")

    // Two document-replication modes measuring DIFFERENT scale axes:
    //  - exact clones (default): every replica collides on every gram —
    //    duplication DEPTH grows with factor, the adversarial prey for
    //    the pair detectors. Quadratic pair mass in depth by design; at
    //    factor 100 the correct pipeline order is exactDedup (26 s)
    //    BEFORE the near-dup detectors (measured: jaccard's shared-gram
    //    stage wants ~0.5 TB of spill on one node at depth 100).
    //  - SPARK_GRAFT_SCALE_PERTURB=1: every token gets a per-replica
    //    suffix, so replicas share NO grams — duplication depth stays 1
    //    while corpus size (and vocabulary) grow ×factor. This is the
    //    corpus-LINEAR axis: per-key densities unchanged, shuffle mass
    //    ×factor — the "does it scale in data volume" probe.
    val perturbDocs = sys.env.contains("SPARK_GRAFT_SCALE_PERTURB")
    if (perturbDocs) println("SCALE doc mode: perturbed (depth-1 clones)")
    val docs0 = spark.read.parquet(s"$baseDir/documents.parquet")
    val docStride = docs0.agg(max("doc_id")).head().getLong(0) + 1
    (0 until factor).map(r => docs0.select(
        (col("doc_id") + lit(r * docStride)).as("doc_id"),
        (if (perturbDocs)
          array_join(transform(split(col("text"), " "),
            t => concat(t, lit(s"~$r"))), " ")
        else col("text")).as("text"),
        col("lang"), col("source"), col("n_chars")))
      .reduce(_ unionAll _)
      .write.mode("overwrite").parquet(s"$work/documents.parquet")

    val emb0 = spark.read.parquet(s"$baseDir/embeddings.parquet")
    val vecStride = emb0.agg(max("vec_id")).head().getLong(0) + 1
    (0 until factor).map(r => emb0.select(
        (col("vec_id") + lit(r * vecStride)).as("vec_id"),
        transform(col("embedding"),
          x => x + lit((r * 1e-4).toFloat)).as("embedding"),
        col("label")))
      .reduce(_ unionAll _)
      .write.mode("overwrite").parquet(s"$work/embeddings.parquet")

    // Events replicate with shifted ids AND shifted user ids — 10× the
    // users at the same per-user density, the realistic growth mode for
    // the one-shuffle-per-user window idioms.
    val ev0 = spark.read.parquet(s"$baseDir/events.parquet")
    val evStride = ev0.agg(max("event_id")).head().getLong(0) + 1
    val userStride = ev0.agg(max("user_id")).head().getLong(0) + 1
    (0 until factor).map(r => ev0
        .withColumn("event_id", col("event_id") + lit(r * evStride))
        .withColumn("user_id", col("user_id") + lit(r * userStride)))
      .reduce(_ unionAll _)
      .write.mode("overwrite").parquet(s"$work/events.parquet")

    val docs = spark.read.parquet(s"$work/documents.parquet")
    val emb = spark.read.parquet(s"$work/embeddings.parquet")
    val events = SparkEntry.normalizeEventTs(
      spark.read.parquet(s"$work/events.parquet"))
    println(s"SCALE documents=${docs.count()} embeddings=${emb.count()} " +
      s"events=${events.count()}")

    /** Time one op through the noop sink, then report rows and the
      * query's observe() counters (fresh listener per run so the
      * captured metrics belong to this action). */
    // local-iteration filter, same contract as Verify's SPARK_GRAFT_ONLY:
    // comma-separated op names; unset runs the whole rehearsal
    val onlyOps = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    def run(name: String, countRows: Boolean = true)(mk: => DataFrame): Unit = {
      if (!onlyOps.forall(_.contains(name))) return
      val listener = graft.core.GraftStatsListener.attach(spark)
      try {
        val t0 = System.nanoTime()
        val d = mk
        d.write.format("noop").mode("overwrite").save()
        val secs = (System.nanoTime() - t0) / 1e9
        var waited = 0
        while (listener.lastQueryStats.isEmpty && waited < 3000) {
          Thread.sleep(20); waited += 20
        }
        val obs = listener.lastQueryStats.map(_.observed).getOrElse(Map.empty)
        val counters = obs.toSeq.sortBy(_._1)
          .filter(_._1.startsWith("graft_"))
          .map { case (k, row) =>
            row.schema.fieldNames.map(f => s"$f=${row.getAs[Any](f)}")
              .mkString(s"$k{", ", ", "}")
          }.mkString("  ")
        val rows = if (countRows) d.count().toString else "-"
        println(f"SCALE $name%-26s ${secs}%8.2f s  rows=$rows%-8s $counters")
      } catch {
        // A mis-sized knob must not kill the rest of the rehearsal — the
        // remaining families' measurements are independent evidence.
        case e: Throwable =>
          println(s"SCALE $name FAILED: ${e.getClass.getSimpleName}: " +
            String.valueOf(e.getMessage).linesIterator.take(1).mkString)
      } finally spark.listenerManager.unregister(listener)
    }

    import graft.ops.{ann, bpe, dedup, graph}

    // Knobs sized by the documented disciplines, not frozen at the 10×
    // values (the round-8 30× run proved frozen knobs produce EMPTY
    // results once the caps trip corpus-wide):
    //  - exact cloning multiplies every gram's df by `factor`, so the
    //    jaccard df band scales with it (unchanged at factor <= 10);
    //  - LSH bucket width follows nbits ≈ log2(n / targetBucketSize)
    //    with the 10× run's ~312-row buckets as the target (6 bits at
    //    factor 10, 8 at factor 30).
    // Perturbed replicas share no grams, so dfs stay at their base
    // values and the caps must NOT scale (scaling them just re-admits
    // boilerplate the band exists to drop).
    val jacMaxDf =
      if (perturbDocs) 256 else math.max(256, 256 * factor / 10)
    val embCount = emb.count()
    val knnBits = math.max(6,
      math.round(math.log(embCount / 312.0) / math.log(2)).toInt)
    println(s"SCALE knobs: jacMaxDf=$jacMaxDf knnBits=$knnBits")

    // ---- text dedup family (exact-clone prey) -------------------------
    run("dedup_exact")(dedup.exactDedup(docs, "text", "doc_id"))
    run("minhash_pairs")(
      dedup.minhashNearDupPairs(docs, "text", "doc_id", threshold = 0.7))
    run("simhash_pairs")(
      dedup.simhashNearDupPairs(docs, "text", "doc_id", maxHamming = 3))
    run("jaccard_pairs")(
      dedup.jaccardPairs(docs, "text", "doc_id", threshold = 0.7,
        maxDf = jacMaxDf))
    // cross-doc substring extents: exact cloning multiplies every
    // gram's occurrence count by `factor` (clone pairs are the prey —
    // each clone pair merges into one full-length diagonal extent), so
    // the occurrence cap scales with it like the jaccard df band
    run("substring_pairs")(
      dedup.crossSubstringPairs(docs, "text", "doc_id", minLen = 8,
        maxOcc = if (perturbDocs) 256 else math.max(256, 256 * factor / 10)))
    val pairs = dedup.minhashNearDupPairs(docs, "text", "doc_id", threshold = 0.7)
      .persist()
    println(s"SCALE minhash pair set: ${pairs.count()} edges")
    run("cluster_driver_finish")(dedup.connectedComponents(pairs))
    run("cluster_distributed")(
      dedup.connectedComponents(pairs, driverFinishEdges = 0L))
    // iterative graph ops over the MINHASH pair graph — unlike the kNN
    // edge set (whose LSH knobs cap edge counts by design, collapsing
    // at 30×), this edge table scales ~linearly with the clone corpus
    // (250k @10× → 2.4M @30×), so per-iteration shuffle mass actually
    // grows with factor — the honest multi-iteration scaling probe
    val pe = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
    run("pagerank_pairs_3it")(graph.pageRank(pe, iters = 3))
    run("hits_pairs_2it")(graph.hits(pe, iters = 2))
    run("labelprop_pairs_2it")(graph.labelPropagation(pe, iters = 2))
    pairs.unpersist()

    // ---- embedding family (densified buckets) -------------------------
    run("emb_neardup")(dedup.embeddingNearDupPairs(emb, threshold = 0.999))
    run("semantic_dedup")(dedup.semanticDedup(
      emb, ann.seedCentroids(emb, 16), threshold = 0.999))
    run("knn_graph")(ann.knnGraph(emb, k = 3, nbits = knnBits))
    val edges = ann.knnGraph(emb, k = 3, nbits = knnBits)
      .select(col("src"), col("dst")).persist()
    val edgeCount = edges.count()
    println(s"SCALE knn edge set: $edgeCount edges")
    if (edgeCount > 0) run("pagerank_3it")(graph.pageRank(edges, iters = 3))
    else println("SCALE pagerank_3it SKIPPED: empty edge set")
    // land the edge table for the later graph-analytics runs (triangles)
    // so they price THEIR op, not a graph rebuild
    edges.write.mode("overwrite").parquet(s"$work/knn_edges")
    edges.unpersist()

    // ---- event analytics (10× users, same per-user density) -----------
    import graft.streaming.EventStream
    run("events_sessionize")(EventStream.sessionize(events))
    run("events_rolling_1h")(EventStream.rollingAgg(events, windowSec = 3600))
    run("events_funnel")(
      EventStream.funnel(events, Seq("view", "click", "purchase")))
    run("events_window_agg")(EventStream.windowedAgg(events))
    run("events_retention")(EventStream.retention(events))

    // ---- persisted index paths ----------------------------------------
    val q = (0 until 64).map(i => math.sin(i + 1.0))
    def timeBuild(name: String)(body: => graft.index.VecIndex.BuildStats): Unit = {
      val t0 = System.nanoTime()
      val st = body
      println(f"SCALE $name%-26s ${(System.nanoTime() - t0) / 1e9}%8.2f s  " +
        s"rows=${st.rows} files=${st.files} rowGroups=${st.rowGroups}")
    }
    timeBuild("index_build_lsh") {
      graft.index.VecIndex.build(emb, s"$work/idx_lsh",
        opts = graft.index.VecIndex.BuildOptions(lshBits = Some(6)))._2
    }
    val lshStore = graft.index.VecIndex.load(spark, s"$work/idx_lsh")
    run("lsh_topk")(ann.lshSearch(lshStore, q, k = 10))
    timeBuild("index_build_ivf") {
      graft.index.VecIndex.build(emb, s"$work/idx_ivf",
        opts = graft.index.VecIndex.BuildOptions(
          ivfCentroids = Some(ann.seedCentroids(emb, 16))))._2
    }
    val ivfStore = graft.index.VecIndex.load(spark, s"$work/idx_ivf")
    run("ivf_topk_probe4")(
      ann.ivfSearchIndexed(ivfStore, q, k = 10, nprobe = 4))

    // ---- iterative trainer --------------------------------------------
    run("bpe_train_12")(bpe.train(docs, "text", merges = 12, minPairCount = 2))

    // ---- round-6 additions --------------------------------------------
    import graft.ops.{rel, sample, text}
    run("mixture_calibrate")(sample.toMixture(docs, "doc_id", "lang",
      targets = Map("en" -> 5.0, "de" -> 3.0, "fr" -> 2.0)))
    run("corpus_divergence")(text.corpusDivergence(
      docs.where(col("lang") === "en"), docs.where(col("lang") === "de"), "text"))
    run("token_shift_top50")(text.tokenShift(
      docs.where(col("lang") === "en"), docs.where(col("lang") === "de"),
      "text", k = 50))
    run("profile_columns")(rel.profileColumns(docs,
      Seq("doc_id", "lang", "source")))

    // ---- session-3 additions: sketches + quality gates ----------------
    import graft.ops.{decontam, sketch}
    run("hll_users_p12")(sketch.hllEstimate(
      sketch.hll(events, col("user_id"), Seq("event_type"), p = 12),
      Seq("event_type"), p = 12))
    run("kmv_overlap_k1024")(sketch.kmvOverlap(
      sketch.kmv(events.where(col("event_type") === "view"),
        col("user_id"), Seq.empty, k = 1024),
      sketch.kmv(events.where(col("event_type") === "purchase"),
        col("user_id"), Seq.empty, k = 1024),
      Seq.empty, k = 1024))
    run("char_entropy_fused")(text.charEntropy(docs, "text", "doc_id"))
    run("linear_gate_4096f")(text.linearGate(docs, "text", "doc_id",
      (0 until 4096).map(j => ((j * 2654435761L) % 2000001L - 1000000L) / 1.0e6)))
    run("dsir_weights")(text.dsirWeights(
      docs.where(col("doc_id") % 7 =!= 0), docs.where(col("doc_id") % 7 === 0),
      "text", "doc_id"))
    // semantic screen: bench side is 1k embeddings broadcast over the
    // full (10×) corpus — the exact brute-force audit shape
    run("decontam_semantic_1k")(decontam.semanticHits(
      emb.where(col("vec_id") >= 1000), emb.where(col("vec_id") < 1000),
      "vec_id", "embedding", tau = 0.999))

    // ---- session-4 additions: bloom gate, interleave, LP, dHash -------
    // Bloom family at 10×: the sketch is CONSTANT-SIZE (16384 words) no
    // matter the corpus; the screen and the in-row clean gate must stay
    // corpus-linear. Bench slice = every 20th doc (~2.5k docs / ~10× the
    // sf0.1 gram count), train = the rest (~47.5k docs).
    val screenBits = 16384 * 63
    val bl = decontam.benchGramBloom(docs.where(col("doc_id") % 20 === 0),
      "text", mBits = screenBits).persist()
    println(s"SCALE bench bloom: ${bl.count()} words (constant by construction)")
    run("decontam_bloom_screen")(decontam.bloomScreenHits(
      docs.where(col("doc_id") % 20 =!= 0), bl, "text", "doc_id",
      mBits = screenBits))
    run("decontam_bloom_clean")(decontam.bloomClean(
      docs.where(col("doc_id") % 20 =!= 0), bl, "text", mBits = screenBits))
    bl.unpersist()
    // interleave: one rank window per source partition + one merge sort
    run("sample_interleave")(sample.interleave(docs, "lang", "doc_id"))
    // label propagation over the 10× kNN edge table: synchronous rounds,
    // state-sized like pagerank; barriers inherent to the algorithm
    val lpEdges = ann.knnGraph(emb, k = 3, nbits = knnBits)
      .select(col("src"), col("dst")).persist()
    val lpEdgeCount = lpEdges.count()
    println(s"SCALE lp edge set: $lpEdgeCount edges")
    if (lpEdgeCount > 0)
      run("label_prop_2it")(graph.labelPropagation(lpEdges, iters = 2))
    else println("SCALE label_prop_2it SKIPPED: empty edge set")
    lpEdges.unpersist()
    // dHash near-dup pairs at 10×: signatures are row-local; the pairing
    // rides the shared Manku sig-Hamming machinery (pigeonhole blocks)
    import graft.ops.multimodal
    run("mm_dhash_pairs")(multimodal.dhashNearDupPairs(
      multimodal.fromText(docs, "doc_id", "text", "source")))

    // ---- session-5 additions: URL dedup, rank grid, snapshot diff -----
    // URL dedup at 10×: clones synthesize the SAME url per (doc_id mod
    // stride), so every canonical key's group is `factor` deep — the
    // hot-key shape the one-agg plan must absorb with map-side partials.
    run("url_dedup")(dedup.urlDedup(
      docs.select(col("doc_id"), concat(lit("https://s"),
        (col("doc_id") % docStride % 7).cast("string"), lit(".example.com/p/"),
        (col("doc_id") % docStride).cast("string"),
        when(col("doc_id") % 2 === 0, lit("?utm_source=x")).otherwise(lit("")))
        .as("url")),
      "url", "doc_id"))
    // percentile rank at 10×: the grid is DOMAIN-bounded (distinct
    // n_chars per lang), so mapping size must not grow with factor
    run("pct_rank_by_lang")(sample.percentileRankBy(
      docs, "lang", col("n_chars"), scale = 1.0))
    // snapshot diff at 10×: thin fingerprint join, corpus-linear
    run("snapshot_diff")(rel.snapshotDiff(docs,
      docs.where(col("doc_id") % 17 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 13 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text")),
      "doc_id", "text"))
    // pii stats at 10×: pure row-local regexp pass, scan-parallel
    run("pii_stats")(docs.select(col("doc_id"),
      text.piiStats(col("text")).as("p")))

    // ---- session-6 additions: rule gate, skew probe, global index, ----
    // ---- bloom join, MaxSim, epoch shuffle, signature index -----------
    import graft.ops.retrieval
    // rule gate: one aggregation pass regardless of rule count —
    // corpus-linear, zero joins
    run("check_rules", countRows = false)(rel.checkRules(docs, Seq(
      "nonempty" -> (length(col("text")) > 0),
      "has_lang" -> col("lang").isNotNull,
      "id_unique_surrogate" -> (col("doc_id") >= 0),
      "len_sane" -> (col("n_chars") < 1000000))))
    // skew probe: key-count shuffle + bounded top-N heap
    run("skew_probe", countRows = false)(rel.skewProbe(docs, "lang", topN = 5))
    // global index: range exchange (reused) + pid-bounded offset math —
    // must stay sort-shaped, never single-partition
    run("zip_index")(rel.zipIndex(docs.select(col("doc_id")), "doc_id"))
    // epoch shuffle: zipIndex over the seeded hash key
    run("epoch_shuffle")(sample.epochShuffle(
      docs.select(col("doc_id")), "doc_id", seed = 7))
    // MaxSim: unrolled 4×4 dot lattice, scan-parallel top-k
    run("maxsim_topk", countRows = false)(retrieval.maxSimTopK(
      emb, "embedding", "vec_id",
      (0 until 4).map(j => (0 until 64).map(i => math.sin(i + 1.0))
        .slice(j * 16, j * 16 + 16)), tokDim = 16, docDim = 64, k = 10))
    // bloom join at factor scale: dim key set constant, fact side grows
    // — survivors (hence join shuffle mass) must stay ~constant
    val factOrders = spark.read.parquet(s"$baseDir/orders.parquet")
    val factLi = spark.read.parquet(s"$baseDir/lineitem.parquet")
    run("bloom_join")(rel.bloomJoin(
      factLi.select(col("l_orderkey").as("okey"), col("l_quantity")),
      factOrders.where(col("o_totalprice") > 480000.0)
        .select(col("o_orderkey").as("okey"), col("o_orderpriority")),
      "okey"))
    // signature index: build over the factor-times corpus (segmented
    // bucket dirs), then screen a constant-size batch — screen cost must
    // track the BATCH, not the corpus
    val sigT0 = System.nanoTime()
    dedup.writeSignatureIndex(docs.where(col("doc_id") % 50 =!= 0),
      "text", "doc_id", s"$work/sigidx")
    println(f"SCALE sig_index_build        ${(System.nanoTime() - sigT0) / 1e9}%8.2f s")
    run("sig_index_screen")(dedup.screenAgainstIndex(
      docs.where(col("doc_id") % 50 === 0).limit(1000),
      s"$work/sigidx", "text", "doc_id", threshold = 0.7))

    // ---- session-7 additions: CDC, SCD2, incremental agg, ------------
    // ---- TF-IDF pairs, balanced shards, batched MaxSim ---------------
    // CDC apply at factor scale: the log is 10% of the corpus, the
    // snapshot joins once on the unique key
    run("cdc_apply")(rel.cdcApply(
      docs.select(col("doc_id"), col("lang"), col("n_chars")),
      docs.where(col("doc_id") % 10 === 0)
        .select(col("doc_id"), lit("xx").as("lang"), col("n_chars"),
          lit(2).as("ts"), lit("upsert").as("op"))
        .unionByName(docs.where(col("doc_id") % 7 === 0)
          .select(col("doc_id"), col("lang"), col("n_chars"),
            lit(1).as("ts"), lit("delete").as("op"))),
      "doc_id"))
    // SCD2: three versions per doc, id-keyed windows
    val v1 = docs.select(col("doc_id"), col("lang"), lit(1).as("ts"))
    val v2 = docs.select(col("doc_id"),
      when(col("doc_id") % 3 === 0, lit("xx")).otherwise(col("lang")).as("lang"),
      lit(2).as("ts"))
    run("scd2_intervals")(rel.scd2Intervals(
      v1.unionByName(v2).unionByName(
        docs.select(col("doc_id"), col("lang"), lit(3).as("ts"))),
      "doc_id", "ts", Seq("lang")))
    // incremental rollup: delta = 20% of corpus, merge is group-sized
    run("incremental_agg", countRows = false)(rel.incrementalAgg(
      docs.where(col("doc_id") % 10 =!= 0).groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          sum(col("n_chars")).cast("long").as("sum_n_chars")),
      docs.where(col("doc_id") % 10 === 0)
        .select(col("lang"), col("n_chars"), lit("insert").as("op"))
        .unionByName(docs.where(col("doc_id") % 9 === 0)
          .select(col("lang"), col("n_chars"), lit("delete").as("op"))),
      Seq("lang"), "n_chars"))
    // TF-IDF cosine pairs: exact-clone corpus = every doc's terms at
    // df >= factor — the df band and Σdf² behavior both exercised.
    // Threshold 0.3, not 0.5: the banded numerator is a LOWER bound on
    // cosine (norms keep the dropped common-term mass), and on this
    // corpus clone pairs land ~0.35-0.45.
    run("tfidf_pairs")(dedup.tfidfCosinePairs(docs, "text", "doc_id",
      threshold = 0.3, maxDf = jacMaxDf))
    // balanced shards: one range exchange + row-local arithmetic
    run("balanced_shards")(sample.balancedShards(
      docs.select(col("doc_id"), col("n_chars")), "doc_id",
      col("n_chars").cast("long"), shards = 32))
    // batched MaxSim: 8 queries, one corpus scan, WindowGroupLimit heaps
    run("maxsim_batch", countRows = false)(retrieval.maxSimBatch(
      emb, "embedding", "vec_id",
      (0L until 8L).map(qi => qi -> (0 until 4).map(j =>
        (0 until 16).map(i => math.sin(qi * 64.0 + j * 16 + i + 1.0)))),
      tokDim = 16, docDim = 64, k = 10))

    // ---- session-8 additions: MG heavy hitters, MERGE, k-center, -----
    // ---- matryoshka ---------------------------------------------------
    // MG heavy hitters DEEP in the overflow regime: factor× users
    // against a fixed 256-entry capacity — state stays 256 entries per
    // partial buffer no matter the corpus size; only the merge count
    // grows. The interesting number is wall time staying corpus-linear.
    run("mg_heavy_hitters", countRows = false)(graft.ops.sketch.heavyHitters(
      events, col("user_id"), capacity = 256, topN = 20))
    // per-window trending at factor× users: state = capacity × open
    // windows, the streaming-budget shape
    run("mg_trending", countRows = false)(graft.ops.sketch.heavyHittersBy(
      events.withColumn("wstart",
        date_format(window(col("ts"), "1 hour").getField("start"),
          "yyyy-MM-dd HH:mm:ss")),
      Seq("wstart"), col("user_id"), capacity = 256, topN = 3))
    // MERGE at factor scale: source = 10% updates + deletes + shifted
    // inserts; one full-outer SMJ on the key
    run("merge_apply")(rel.merge(
      docs.select(col("doc_id"), col("lang"), col("n_chars")),
      docs.where(col("doc_id") % 10 === 0)
        .select(col("doc_id"),
          when(col("doc_id") % 30 === 0, lit("DEL")).otherwise(lit("xx"))
            .as("lang"), col("n_chars"))
        .unionByName(docs.where(col("doc_id") % 10 === 3)
          .select((col("doc_id") + 1).as("doc_id"), lit("ins").as("lang"),
            col("n_chars"))
          .join(docs.select(col("doc_id")), Seq("doc_id"), "left_anti")),
      Seq("doc_id"),
      whenMatchedUpdate = Some(lit(true)),
      whenMatchedDelete = Some(col("s.lang") === "DEL"),
      whenNotMatchedInsert = Some(lit(true))))
    // greedy k-center: 6 rounds × one scan each over factor× vectors —
    // cost is k scans, centers ride as literals, no shuffle anywhere
    run("kcenter_select", countRows = false)(
      ann.kCenterSelect(emb, k = 6))
    // matryoshka: coarse prefix-16 scan + 40-candidate exact rerank
    run("matryoshka_topk", countRows = false)(ann.matryoshkaSearch(
      graft.core.VecStore(emb), (0 until 64).map(i => math.sin(i + 1.0)),
      k = 10, prefixDims = 16, candK = 40))
    // weighted MG over event value micros at factor x users
    run("mg_weighted", countRows = false)(graft.ops.sketch.heavyHittersWeighted(
      events.where(col("value").isNotNull), col("user_id"),
      floor(col("value") * 1000000.0).cast("long"), capacity = 256, topN = 20))
    // point-in-time join: facts = the full corpus, dim = 2-version SCD2
    run("pit_join")(rel.pitJoin(
      docs.select(col("doc_id"), (col("doc_id") % 4).cast("int").as("fact_ts")),
      rel.scd2Intervals(
        docs.select(col("doc_id"), col("lang"), lit(1).as("ts"))
          .unionByName(docs.select(col("doc_id"),
            when(col("doc_id") % 3 === 0, lit("xx")).otherwise(col("lang"))
              .as("lang"), lit(2).as("ts"))),
        "doc_id", "ts", Seq("lang")),
      "doc_id", "fact_ts"))
    // FK orphan audit: distinct-key anti-join at factor scale
    run("fk_orphans")(rel.fkOrphans(
      docs.select(col("doc_id"), col("lang")),
      docs.where(col("doc_id") % 2 === 0).select(col("doc_id")),
      Seq("doc_id"), Seq("doc_id")))
    // label-noise screen over the SAVED edge table — the production
    // shape: the graph is the persisted artifact, audits read it
    run("label_noise", countRows = false)(ann.labelNoiseFromEdges(
      spark.read.parquet(s"$work/knn_edges"),
      emb.select(col("vec_id"), col("label")), topN = 50))
    // triangle count over the saved kNN edges: degree-ordered wedges
    run("triangle_count", countRows = false)(graph.triangleCount(
      spark.read.parquet(s"$work/knn_edges")))
    // PRF: two BM25 rounds + integer term mining
    run("bm25_prf", countRows = false)(graft.ops.retrieval.prfExpand(
      docs, "text", "doc_id", Seq("spark", "query", "window"), k = 10))
    // personalized PageRank + k-core over the same saved graph
    run("ppr_3it")(graph.personalizedPageRank(
      spark.read.parquet(s"$work/knn_edges"), seeds = Seq(0L, 1L, 2L, 3L, 4L),
      iters = 3))
    run("kcore_peel4")(graph.kCorePeel(
      spark.read.parquet(s"$work/knn_edges"), k = 3, rounds = 4))
    // TextRank keywords: vocab-sized co-occurrence walk over factor docs
    run("textrank_top20", countRows = false)(graft.ops.text.textRankTerms(
      docs, "text", window = 2, iters = 3, topN = 20))
    // ---- round-9 additions: blocklist, line ops, winnowing, order ----
    // blocklist gate: row-local hash-set probe — must stay corpus-linear
    run("blocklist_hits")(docs.select(col("doc_id"),
      text.blocklistHits(col("text"),
        Seq("slow", "big query", "merge batch part")).as("h")))
    // C4 line cleanup + line stats over manufactured line structure
    run("c4_line_clean", countRows = false)(docs.select(col("doc_id"),
      md5(text.c4LineClean(
        regexp_replace(col("text"), " table ", ".\n"), minWords = 3))
        .as("m")))
    run("line_stats", countRows = false)(docs.select(col("doc_id"),
      text.lineStats(regexp_replace(col("text"), " table ", ".\n")).as("ls")))
    // winnowing pairs on the 30x clone corpus: every clone group shares
    // EVERY fingerprint — worst case for the fp df cap (fingerprints of
    // cloned docs hit df = factor x base-dup count; the 256 cap must
    // bound the pair stage, same discipline as jaccard's gram band)
    run("winnow_pairs")(graft.ops.dedup.winnowPairs(
      docs, "text", "doc_id", n = 4, w = 4, minShared = 2,
      maxDf = if (perturbDocs) 256 else math.max(256, 256 * factor / 10)))
    // order-diversity meter over the interleave of the factor corpus
    run("order_diversity", countRows = false)(sample.orderDiversity(
      sample.interleave(docs, "lang", "doc_id"), "order_idx", "lang"))
    // audio/video frame families: frame explode row-local, one id-keyed
    // lag window each; pairs bounded by the fp df cap on the clone corpus
    run("audio_fp", countRows = false)(multimodal.audioFingerprint(
      multimodal.fromText(docs, "doc_id", "text", "source")))
    run("audio_neardup")(multimodal.audioNearDupPairs(
      multimodal.fromText(docs, "doc_id", "text", "source"),
      maxDf = math.max(256, 256 * factor / 10)))
    run("scene_changes", countRows = false)(multimodal.sceneChanges(
      multimodal.fromText(docs, "doc_id", "text", "source")))
    run("winnow_fps", countRows = false)(docs.select(col("doc_id"),
      graft.ops.dedup.winnowFingerprints(col("text")).as("f")))

    // deterministic sample quantiles + calibration map + semantic order
    run("sample_quantiles", countRows = false)(graft.ops.sketch.sampleQuantiles(
      events, col("value"), col("event_id"), k = 256,
      qs = Seq(0.1, 0.5, 0.9, 0.99)))
    run("calibration_map", countRows = false)(sample.calibrationMap(
      emb, col("label").cast("double") / 10.0, col("label") % 2 === 0,
      lo = 0.0, hi = 1.0, nbins = 10))
    run("semantic_order")(sample.semanticOrder(
      emb, ann.seedCentroids(emb, 8)))

    // ---- round-10 additions: graph analytics, curation meters, -------
    // ---- interaction-log ops ------------------------------------------
    // n-gram novelty: gram explode + first-occurrence ownership aggs on
    // the clone corpus — every clone's grams are all "seen"
    run("ngram_novelty")(dedup.ngramNovelty(docs, "text", "doc_id", n = 5))
    run("top_ngrams", countRows = false)(dedup.topNgrams(
      docs, "text", "doc_id", n = 3, k = 20))
    // link prediction over the saved kNN graph: the wedge self-join is
    // the op under test — hub cap must bound it on densified buckets
    run("linkpred", countRows = false)(graph.linkPredict(
      spark.read.parquet(s"$work/knn_edges"), maxDeg = 1000))
    run("hits_2it")(graph.hits(
      spark.read.parquet(s"$work/knn_edges"), iters = 2))
    run("modularity", countRows = false)(graph.modularity(
      spark.read.parquet(s"$work/knn_edges"),
      graph.labelPropagation(spark.read.parquet(s"$work/knn_edges"), iters = 2)))
    // bipartite projection: baskets = users, items = event-id residues —
    // per-basket size equals per-user event density; the whole-basket
    // cap is the discipline under test
    run("bipartite_proj", countRows = false)(graph.bipartiteProject(
      events.select(col("user_id"), (col("event_id") % 10000).as("item")),
      "user_id", "item", maxBasket = 1000L, minCount = 2L))
    // row-local screens: must stay corpus-linear
    run("encoding_quality", countRows = false)(docs.select(col("doc_id"),
      text.encodingQuality(col("text")).as("q")))
    run("readability", countRows = false)(docs.select(col("doc_id"),
      text.readability(col("text")).as("r")))
    // mixture plan: ONE corpus aggregate however large the corpus
    run("domain_reweight", countRows = false)(sample.domainReweight(
      docs, "source", col("n_chars"),
      Map("src0" -> 2500L, "src1" -> 2000L, "src2" -> 1500L, "srcX" -> 0L)))
    run("freshness_topk", countRows = false)(sample.freshnessTopK(
      events, "event_type", "event_id", "ts",
      floor(col("value") * 100).cast("long"),
      asOf = "2024-01-31", halfLifeDays = 7, k = 5))
    // provenance screen: bench hosts broadcast, factor-x train side
    // never shuffles
    run("domain_screen")(decontam.domainScreen(
      docs.where(col("doc_id") % 530 =!= 0)
        .select(col("doc_id"), concat(lit("https://docs-"),
          (col("doc_id") % 37).cast("string"), lit(".example.com/p/"),
          col("doc_id").cast("string")).as("url")),
      docs.where(col("doc_id") % 530 === 0)
        .select(col("doc_id"), concat(lit("https://docs-"),
          (col("doc_id") % 37).cast("string"), lit(".example.com/p/"),
          col("doc_id").cast("string")).as("url")),
      "url"))
    // interaction-log family: one user-keyed shuffle each at factor-x
    // users; dialog state capped at maxTurns
    run("assemble_dialogs")(EventStream.assembleDialogs(events, maxTurns = 16))
    run("attribution", countRows = false)(EventStream.lastTouchAttribution(
      events, "purchase", "click",
      get_json_object(col("props"), "$.k").cast("long") % 10))
    run("bot_signals")(EventStream.botSignals(events, minGaps = 10))
    run("preference_pairs", countRows = false)(sample.preferencePairs(
      events.where(col("value").isNotNull)
        .select((col("event_id") % 100000).as("grp"), col("event_id"),
          col("value")),
      "grp", "event_id", "value"))
    run("acf_24", countRows = false)(EventStream.autocorr(
      events, bucketSec = 3600, maxLag = 24))
    run("changepoints", countRows = false)(EventStream.changepoints(
      events, bucketSec = 3600, w = 6))
    run("silhouette", countRows = false)(ann.silhouetteSimplified(emb))
    run("chunk_pool", countRows = false)(ann.poolEmbeddings(
      emb.withColumn("doc_id", col("vec_id") % 100000), "doc_id"))
    run("time_to_convert", countRows = false)(EventStream.timeToConvert(
      events, "view", "purchase", bucketSec = 3600L))
    run("cluster_balance", countRows = false)(ann.ivfAssign(
        emb, ann.seedCentroids(emb, 16))
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("n")))
    // per-node triangles: wedge stage bounded by the degree orientation
    run("clustering_coef", countRows = false)(graph.clusteringCoef(
      spark.read.parquet(s"$work/knn_edges")))
    // screens/meters that must stay one-hash-agg shaped at factor-x
    run("k_anonymity", countRows = false)(rel.kAnonymity(
      docs, Seq("source", "lang"), "n_chars", k = 8))
    run("fleiss_kappa")(rel.fleissKappa(
      events.select((col("event_id") % 200).as("item"), col("user_id"),
        col("event_type")),
      "item", "user_id", "event_type"))
    run("trend")(EventStream.trend(events, bucketSec = 3600L))
    // the full pair detector feeding the leakage meter — the banded
    // pair stage is the cost under test, the meter adds two id joins
    run("split_leakage")(sample.splitLeakage(
      dedup.minhashNearDupPairs(docs, "text", "doc_id", threshold = 0.5),
      sample.groupSplit(docs, "source", trainPct = 80, valPct = 10),
      "doc_id"))
    // binary-quantized serving: the coarse packed-Hamming scan is the
    // cost under test — must stay one bounded top-k pass at factor-x
    run("binary_topk", countRows = false)(ann.binarySearch(
      graft.core.VecStore(emb), (0 until 64).map(i => math.sin(i + 1.0)),
      k = 10, candK = 40))
    run("cuped")(EventStream.cuped(events, cutoff = "2024-01-15",
      variant = col("user_id") % 2))
    run("top_paths")(EventStream.topPaths(events, n = 3, topK = 20))
    // components on the densified 1-NN graph: CC rounds + driver gate
    // are the discipline under test
    run("components", countRows = false)(dedup.connectedComponents(
      ann.knnGraph(emb, k = 1, nbits = 6)
        .select(col("src").as("id_a"), col("dst").as("id_b")))
      .groupBy(col("rep")).agg(count(lit(1)).as("n_nodes")))
    run("dim_stats", countRows = false)(ann.dimStats(emb))
    run("seasonality", countRows = false)(EventStream.seasonality(events))
    run("active_users", countRows = false)(EventStream.activeUsers(events))
    run("concentration", countRows = false)(EventStream.concentration(events))
    run("srm", countRows = false)(EventStream.srm(events,
      variant = col("user_id") % 2))
    // vocab broadcast membership: the token stream must never shuffle
    run("oov_rate", countRows = false)(text.oovStats(
      docs, "text", "doc_id", topN = 200))

    // ---- session-5 additions: survival/experiment meters, miners, ----
    // ---- linear algebra ------------------------------------------------
    // survival + experiment readouts at factor-x users: each is one or
    // two user-keyed aggregations; KM's cumulative window runs over DAY
    // buckets (domain-bounded), never users
    run("kaplan_meier", countRows = false)(EventStream.kaplanMeier(
      events, "signup", "purchase", bucketSec = 86400L))
    run("diff_in_diff")(EventStream.diffInDiff(events, cutoff = "2024-01-15",
      variant = col("user_id") % 2))
    run("mde_readout")(EventStream.mdeReadout(events,
      variant = col("user_id") % 2))
    // dense-series family: series rows are timespan-bounded — factor-x
    // events collapse into the SAME spine sizes
    run("gap_fill", countRows = false)(EventStream.gapFill(events,
      bucketSec = 3600L))
    run("snaive_backtest", countRows = false)(EventStream.snaiveBacktest(
      events, bucketSec = 3600, season = 24))
    run("theil_sen", countRows = false)(EventStream.theilSen(events,
      bucketSec = 3600))
    // association rules: baskets = factor-x users, items = event-id
    // residues (~50-deep baskets); the frequent-item prune and the
    // basket-keyed pair stage are the disciplines under test
    run("assoc_rules", countRows = false)(rel.assocRules(
      events.select(col("user_id"), (col("event_id") % 50).as("item")),
      "user_id", "item", minSupport = 100L * factor))
    // OOF target encode: one (cat, fold) aggregate however large
    run("target_encode")(rel.targetEncode(
      docs.withColumn("y", col("n_chars").cast("double")),
      "lang", "y", "doc_id", k = 5))
    // RFM over the factor-x event log as an order history: one customer
    // aggregate, three bounded grid maps broadcast back
    run("rfm_grid", countRows = false)(rel.rfm(
      events, "user_id", "ts", "value", buckets = 5, binCents = 10000L))
    // BFS hop rings over the saved kNN edges: per round one thin join
    run("bfs_3hop", countRows = false)(graph.bfsDistances(
      spark.read.parquet(s"$work/knn_edges"), seeds = Seq(0L, 1L, 2L, 3L, 4L),
      maxHops = 3))
    run("assortativity")(graph.assortativity(
      spark.read.parquet(s"$work/knn_edges")))
    // hashing-trick features: tokenize + one (doc, bucket) aggregate
    run("feature_hash", countRows = false)(text.featureHash(
      docs, "text", "doc_id", nBuckets = 1024))
    // Gram matrix: per-task output is <= d(d+1)/2 rows regardless of
    // corpus size — wall time must stay scan-linear, exchange constant
    import graft.ops.linalg
    run("gram_64d", countRows = false)(linalg.gram(emb, "embedding", dim = 64))
    run("anisotropy")(linalg.anisotropy(linalg.gram(emb, "embedding", dim = 64)))
    // moments sketch: one hash aggregate, 4 longs per group
    run("moments", countRows = false)(graft.ops.sketch.moments(
      events, "value", Seq("event_type"), q = 1.0))
    // Poisson bootstrap: reps-x scan compute, shuffle mass tasks*reps
    run("bootstrap_ci", countRows = false)(sample.bootstrapCI(
      events, "value", "event_id", reps = 40))
    // linear probe: iters scans, each one d-long gradient aggregate
    run("linear_probe", countRows = false)(linalg.linearProbeTrain(
      emb, "embedding", col("label") >= 5, dims = 8, iters = 2))
    // cohort LTV: user-keyed join + domain-bounded triangle window
    run("cohort_ltv", countRows = false)(EventStream.cohortLtv(
      events, bucketSec = 604800L))
    // streaming-MG batch twin at factor-x: capacity-bounded state
    run("hh_stream_twin", countRows = false)(EventStream.heavyHittersStream(
      events, col("user_id"), Seq("event_type"), capacity = 256, topN = 5))
    // cross-corpus novelty: the reference pass is the cost; the clone
    // corpus makes every candidate gram "seen"
    run("cross_novelty", countRows = false)(dedup.crossNovelty(
      docs.where(col("doc_id") % 5 === 0), docs.where(col("doc_id") % 5 =!= 0),
      "text", "doc_id", n = 5))
    // persisted gram set: pay the reference once, probe a batch
    val gsT0 = System.nanoTime()
    dedup.writeGramSet(docs.where(col("doc_id") % 5 =!= 0), "text",
      s"$work/gramset", n = 5)
    println(f"SCALE gramset_build          ${(System.nanoTime() - gsT0) / 1e9}%8.2f s")
    run("novelty_indexed", countRows = false)(dedup.crossNoveltyIndexed(
      docs.where(col("doc_id") % 5 === 0).limit(2000), s"$work/gramset",
      "text", "doc_id", n = 5))
    // distribution matching: two bounded grids + a broadcast scan filter
    run("match_dist", countRows = false)(sample.matchDistribution(
      docs.where(col("doc_id") % 2 === 0), col("n_chars"),
      docs.where(col("doc_id") % 2 =!= 0), col("n_chars"),
      "doc_id", binWidth = 200L))
    // community structure over the label-prop assignment
    run("community_stats", countRows = false)(graph.communityStats(
      spark.read.parquet(s"$work/knn_edges"),
      graph.labelPropagation(spark.read.parquet(s"$work/knn_edges"), iters = 2)))
    // Gini: per-user rollup then the prefix-sum grid — the range
    // exchange is the cost, never a single-partition window
    run("gini", countRows = false)(rel.gini(
      events.groupBy(col("user_id"))
        .agg(sum(floor(col("value") * 100.0).cast("long")).as("_c")),
      col("_c")))
    run("benford", countRows = false)(rel.benford(events,
      floor(col("value") * 100.0).cast("long")))
    run("funnel_windowed", countRows = false)(EventStream.funnelWindowed(
      events, Seq("view", "click", "purchase"), maxGapSec = 3600L))
    run("seasonal_anomaly", countRows = false)(
      EventStream.seasonalAnomaly(events, zMin = 1.5))
    run("session_funnel", countRows = false)(EventStream.sessionFunnel(
      events, Seq("view", "click", "purchase"), gapMinutes = 30))
    run("markov_acc", countRows = false)(
      EventStream.markovPredictability(events))
    run("emd_1d", countRows = false)(sample.emd1d(
      docs.where(col("doc_id") % 2 === 0), col("n_chars"),
      docs.where(col("doc_id") % 2 =!= 0), col("n_chars"), binWidth = 100L))
    // Lloyd at factor-x vectors: iters+1 scans, k*d driver collects
    run("kmeans_k4", countRows = false)(linalg.kmeansFit(
      emb, "embedding", "vec_id", dim = 64, k = 4, iters = 2))

    // generation evals at factor-x pairs: all per-row kernel passes
    // (gen_overlap hashmap / levenshtein), so walls must scale linearly
    // in PAIRS with zero shuffle-volume amplification
    import graft.ops.evals
    val genPairs = docs.select(col("doc_id"),
      concat_ws(" ", filter(text.tokens(col("text")),
        (t, i) => i % 3 =!= 2)).as("cand"),
      concat_ws(" ", text.tokens(col("text"))).as("ref"))
    run("gen_rouge2", countRows = false)(evals.ngramOverlap(
      genPairs, col("doc_id"), col("cand"), col("ref"), n = 2))
    run("gen_bleu4", countRows = false)(evals.bleu(
      genPairs, col("doc_id"), col("cand"), col("ref"), maxN = 4))
    run("gen_chrf", countRows = false)(evals.chrF(
      genPairs, col("doc_id"), col("cand"), col("ref")))
    run("gen_edit", countRows = false)(genPairs
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), levenshtein(
        regexp_replace(col("cand"), "[^ -~]", ""),
        regexp_replace(col("ref"), "[^ -~]", "")).as("dist")))
    // token-WER and ROUGE-L: capped 32² DP cells per row — per-pair cost
    // a constant, wall linear in pairs, zero shuffle
    run("gen_wer", countRows = false)(evals.wer(
      genPairs, col("doc_id"), col("cand"), col("ref"), maxToks = 32))
    run("gen_rouge_l", countRows = false)(evals.rougeL(
      genPairs, col("doc_id"), col("cand"), col("ref"), maxToks = 32))
    // AP: one window per qid over the full candidate ranking — the
    // window sort is the cost and it shuffles once on qid
    run("gen_map", countRows = false)(evals.averagePrecision(
      emb.select(pmod(col("vec_id"), lit(2L)).as("qid"), col("vec_id"),
        (col("label") < 2L).cast("long").as("rel"),
        floor(graft.functions.vectors.cosineSimilarity(col("embedding"),
          lit(SparkEntry.Q1.toArray)) * 10000.0 + 0.5).cast("long").as("s")),
      col("qid"), col("rel"), col("s"), col("vec_id")))
    // Krippendorff: one (unit, label) aggregate to a thin grid, two
    // grid folds — shuffle mass tracks UNITS, never ratings
    run("gen_krippendorff")(evals.krippendorffAlpha(
      emb.select(col("vec_id").as("u"),
        explode(array(col("label").cast("long"),
          pmod(col("vec_id") * 2654435761L, lit(4L)),
          pmod(col("vec_id") * 40503L, lit(4L)))).as("l")),
      col("u"), col("l")))
    // calibration / rank agreement: grid-bounded aggregates — walls
    // must stay flat-ish (the row volume only feeds hash aggregates)
    run("gen_ece", countRows = false)(evals.ece(emb,
      (floor(graft.functions.vectors.cosineSimilarity(col("embedding"),
        lit(SparkEntry.Q1.toArray)) * 10000.0 + 0.5).cast("long")
        + lit(10000L)) * lit(50L),
      col("label") < 5, bins = 10))
    run("gen_distinct_n", countRows = false)(evals.distinctNgrams(
      docs, col("text"), Seq(1, 2)))
    // self-BLEU at factor-x: K·n pairs through ONE id-keyed join, then
    // row-local kernel scoring — wall must scale linearly in docs
    run("gen_self_bleu", countRows = false)(evals.selfBleu(
      genPairs.select(col("doc_id"), col("cand")), col("doc_id"),
      col("cand"), opponents = 3, maxN = 2))
    run("gen_embed_f1", countRows = false)(evals.embedF1(
      emb, col("vec_id"), col("embedding"), reverse(col("embedding")),
      nTokens = 4, dim = 16))
    // sampled-correctness / preference aggregates: each is one (or two)
    // map-side-combined aggregates to a task- or grid-bounded frame —
    // shuffle mass tracks TASKS, never samples; BT iterates on the
    // bounded model grid after one battle-count aggregate
    run("gen_pass_at_k", countRows = false)(evals.passAtK(
      emb.select((col("vec_id") % 503L).as("task"),
        (col("label") < 4).as("ok")),
      col("task"), col("ok"), Seq(1, 2, 5)))
    run("gen_majority_vote", countRows = false)(evals.selfConsistency(
      emb.select((col("vec_id") % 503L).as("task"),
        pmod(col("vec_id") * 2654435761L, lit(7L)).as("ans"),
        ((col("vec_id") % 503L) % 7L).as("gold")),
      col("task"), col("ans"), col("gold")))
    run("gen_kappa")(evals.cohenKappa(
      emb.select(col("label").cast("long").as("a"),
        pmod(col("vec_id") * 2654435761L, lit(10L)).as("b")),
      col("a"), col("b")))
    // Heaps curve: one type-keyed aggregate (shuffle = distinct types,
    // sub-linear in tokens on a clone corpus); MI: grid-bounded
    run("vocab_growth")(text.vocabGrowth(docs, "text", "doc_id", 20))
    run("mutual_info")(rel.mutualInfo(docs, col("lang"), col("source")))
    run("gen_bt_ratings")(evals.btRatings(
      emb.select((col("vec_id") % 8L).as("a"),
        expr("(vec_id DIV 8) % 8").as("b"),
        (pmod(col("vec_id") * 2654435761L, lit(100L))
          < lit(45L) + ((col("vec_id") % 8L) - expr("(vec_id DIV 8) % 8")))
          .as("win"))
        .where(col("a") =!= col("b")),
      col("a"), col("b"), col("win"), iters = 3))

    // Distribution drift meters: everything downstream of the scans is
    // grid-bounded (value grid / bin grid / d-row moment grid), so the
    // cost must stay scan-shaped — linear in rows, flat in grid size.
    val evCents = floor(col("value") * 100.0).cast("long")
    run("drift_ks", countRows = false)(sample.ksStat(
      events.where(col("ts") < lit("2024-01-16").cast("timestamp")), evCents,
      events.where(col("ts") >= lit("2024-01-16").cast("timestamp")),
      evCents))
    run("drift_psi_daily", countRows = false)(sample.psiFrom(
      sample.histGrid(
        events.where(col("value").isNotNull
          && col("ts") < lit("2024-01-02").cast("timestamp")),
        evCents, Seq.empty, 1000L),
      sample.histGrid(events.where(col("value").isNotNull), evCents,
        Seq(date_format(col("ts"), "yyyy-MM-dd").as("day")), 1000L),
      Seq("day")))
    run("drift_embed_mmd", countRows = false)(linalg.embedDrift(
      linalg.momentGrid(emb.where(col("label") % 2 === 0), "embedding", 64),
      linalg.momentGrid(emb.where(col("label") % 2 === 1), "embedding", 64)))

    // ---- round-15 additions: significance suite, packing, profiles ----
    // perm family: reps×rows in-row fan-out, map-side combined — the
    // stage that must scale linearly in BOTH factors
    run("perm_test", countRows = false)(graft.ops.evals.permTest(
      events, col("event_id"),
      floor(col("value") * 1000000.0).cast("long"),
      col("user_id") % 2 === 1, reps = 100))
    run("mann_whitney", countRows = false)(graft.ops.evals.mannWhitney(
      events, col("value"), col("user_id") % 2 === 1))
    run("welch_t", countRows = false)(graft.ops.evals.welchT(
      events, floor(col("value") * 1000000.0).cast("long"),
      col("user_id") % 2 === 1))
    run("winsorized_mean", countRows = false)(graft.ops.evals.winsorizedMean(
      events, floor(col("value") * 1000000.0).cast("long")))
    // wordpiece: rounds over the word vocabulary — vocab grows with the
    // perturbed corpus, stays flat under exact clones
    run("wordpiece_train_8", countRows = false)(graft.ops.wordpiece.train(
      docs, "text", merges = 8, minPairCount = 2))
    run("script_profile", countRows = false)(graft.ops.text.scriptProfile(
      docs, "text", "doc_id"))
    run("pack_layout", countRows = false)(graft.ops.sample.packLayout(
      docs, "text", "doc_id", seqLen = 2048L, shards = 64))
    run("decompose", countRows = false)(graft.streaming.EventStream.decompose(
      events, bucketSec = 3600L, period = 24))
    run("robust_z", countRows = false)(graft.streaming.EventStream.robustZ(
      events, bucketSec = 86400L))
    run("hw_forecast", countRows = false)(
      graft.streaming.EventStream.holtWintersForecast(events, horizon = 14))
    run("chi_square", countRows = false)(graft.ops.rel.chiSquare(
      docs, col("lang"), col("source")))

    spark.stop()
  }
}
