package graft

import org.apache.spark.sql.functions._

import graft.core.{Cmp, GraftStatsListener, Metric, VecStore}
import graft.ops.text

/** Runnable end-to-end demo of the public API — the Spark analog of the
  * reference's examples/demo.rs (/root/reference/examples/demo.rs:1-134):
  * build/query a vector store with metadata filters, show results, print
  * query stats, and run the text-analysis ops.
  *
  * Usage: sbt "runMain graft.Demo [sfDir]"
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.core.LocalSession("ERROR")
    val stats = GraftStatsListener.attach(spark)

    val q = (0 until 64).map(i => math.sin(i + 1.0))
    val store = VecStore(spark.read.parquet(s"$sfDir/embeddings.parquet"))

    println("== cosine top-5 with metadata filter (label >= 2), score > 0.1 ==")
    store.query(q, Metric.Cosine)
      .metaFilter(col("label") >= 2)
      .vecFilter(0.1, Cmp.Gt)
      .take(5)
      .collect()
      .show(truncate = false)
    stats.lastQueryStats.foreach(s => println(s.pretty))
    // reference-style one-call stats table (display.rs:221-249)
    stats.lastQueryStats.foreach(s => println(s.formatTable))

    println("== euclidean (squared L2) nearest-3 ==")
    store.query(q, Metric.Euclidean).take(3).collect().show(false)

    println("== roadmap metrics: hamming over sign signatures, jaccard over active-dim sets ==")
    val signSig = transform(col("embedding"),
      x => when(x >= 0, 1.0).otherwise(0.0))
    VecStore(store.df.select(col("vec_id"), signSig.as("sig"), col("label")),
        vecCol = "sig")
      .query(q.map(x => if (x >= 0) 1.0 else 0.0), Metric.Hamming)
      .take(3).collect().show(false)
    val activeDims = filter(
      transform(col("embedding"),
        (x, i) => when(x > 0, i.cast("double")).otherwise(lit(null))),
      y => y.isNotNull)
    VecStore(store.df.select(col("vec_id"), activeDims.as("dims"), col("label")),
        vecCol = "dims")
      .query(q.zipWithIndex.collect { case (x, i) if x > 0 => i.toDouble },
        Metric.Jaccard)
      .take(3).withScoreRounding(4).collect().show(false)

    println("== persisted JL projection: build rp_vec once, two-stage search ==")
    val rpDir = java.nio.file.Files.createTempDirectory("graft-demo-rp-")
      .toString + "/idx"
    val (rpStore, rpStats) = graft.index.VecIndex.build(
      spark.read.parquet(s"$sfDir/embeddings.parquet"), rpDir,
      opts = graft.index.VecIndex.BuildOptions(rpDims = Some(16)))
    println(rpStats.formatTable)
    graft.ops.ann.rpSearch(rpStore, q, k = 3).show(false)

    println("== text analysis over documents ==")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    docs.select(col("doc_id"),
        text.tokenCount(col("text")).as("n_tok"),
        round(text.qualityScore(col("text")), 3).as("quality"),
        text.langId(col("text")).as("lang_pred"),
        text.minShingleFingerprint(col("text")).as("fp"))
      .orderBy(desc("quality"))
      .show(5, truncate = false)

    println("== MinHash-LSH near-duplicate pairs (jaccard >= 0.5) ==")
    graft.ops.dedup.minhashNearDupPairs(docs, "text", "doc_id", threshold = 0.5)
      .orderBy(desc("jacc")).show(5, truncate = false)

    println("== ANN: LSH-bucketed cosine top-3 ==")
    graft.ops.ann.lshSearch(store, q, k = 3).show(false)

    println("== int8-quantized first-pass dot top-3 ==")
    val (qq, qs) = graft.ops.quant.quantizeQuery(q)
    graft.ops.quant.quantized(store.df)
      .select(col("vec_id"), round(graft.ops.quant.dequantizedDot(
        col("q_vec"), col("q_scale"), array(qq.map(lit): _*), lit(qs)), 4).as("approx_dot"))
      .orderBy(desc("approx_dot")).show(3, truncate = false)

    println("== event stream: 5-minute windows (top rows) ==")
    val events = SparkEntry.normalizeEventTs(
      spark.read.parquet(s"$sfDir/events.parquet"))
    graft.streaming.EventStream.windowedAgg(events)
      .orderBy(desc("n_events")).show(3, truncate = false)

    println("== ANN recall@k: LSH bucket search vs exact scan ==")
    graft.ops.ann.recallAtK(store, Seq(q), k = 10, nbits = 6).show(false)

    println("== repeated-span dedup: cross-doc boilerplate runs ==")
    graft.ops.dedup.repeatedSpans(docs, "text", "doc_id", n = 5, minDf = 3)
      .orderBy(desc("n_grams")).show(5, truncate = false)

    println("== TF-IDF keywords of doc 0 ==")
    graft.ops.text.tfidfTopTerms(docs, "text", "doc_id", k = 3)
      .where(col("doc_id") === 0).show(false)

    println("== PII redaction ==")
    spark.createDataFrame(Seq(Tuple1(
        "mail bob@example.com or call +1 (555) 123-4567 at 10.0.0.1")))
      .toDF("text")
      .select(text.redactPii(col("text")).as("redacted")).show(false)

    println("== KMV distinct-user sketch per event type ==")
    graft.ops.sketch.kmvDistinct(events, col("user_id"), Seq(col("event_type")), k = 64)
      .orderBy(col("event_type")).show(false)

    println("== leakage-safe split: sources never straddle train/test ==")
    graft.ops.sample.groupSplit(docs, "source", trainPct = 80, valPct = 10)
      .groupBy("split").agg(count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"))
      .orderBy(col("split")).show(false)

    println("== BPE: learned merge rules + subword encode ==")
    val bpeRules = graft.ops.bpe.train(docs, "text", merges = 8)
    bpeRules.orderBy("step").show(false)
    val rulePairs = bpeRules.orderBy("step")
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    docs.limit(2).select(col("doc_id"),
      slice(graft.ops.bpe.encodeTokens(col("text"), rulePairs), 1, 12)
        .as("first_subwords")).show(false)

    println("== per-doc language consistency (mixed-language detection) ==")
    text.langConsistency(docs, "text", "doc_id")
      .orderBy(col("consistency").asc, col("doc_id")).limit(5).show(false)

    println("== SemDeDup: semantic near-dup removal (8 clusters, cos >= 0.4) ==")
    val cents = graft.ops.ann.seedCentroids(store.df, 8)
    val kept = graft.ops.dedup.semanticDedup(store.df, cents, threshold = 0.4)
    println(s"survivors: ${kept.count()} of ${store.df.count()}")

    println("== product quantization: ADC top-3 (no float vector read) ==")
    val cbs = graft.ops.quant.pqSeedCodebooks(store.df, m = 4, k = 16)
    graft.ops.quant.pqSearchDot(store.df, cbs, q, k = 3)
      .select("vec_id", "score", "label").show(false)

    println("== embedding OOD outliers: farthest from every cluster center ==")
    graft.ops.ann.centroidOutliers(store.df, cents, topN = 3)
      .select("vec_id", "centroid_dist", "label").show(false)

    println("== corpus-unigram LM quality score (lowest = rare-token docs) ==")
    text.unigramLogProb(docs, "text", "doc_id")
      .orderBy(col("logprob").asc).show(3, truncate = false)

    println("== temperature mixing (alpha=0.5): rare languages kept whole ==")
    graft.ops.sample.temperatureMix(docs, "doc_id", "lang", alpha = 0.5)
      .groupBy("lang").agg(count(lit(1)).as("n_kept"),
        round(max(col("mix_rate")), 3).as("rate"))
      .orderBy("lang").show(false)

    println("== per-language reservoir: 2 example docs per language ==")
    graft.ops.sample.perGroupSample(docs, "lang", "doc_id", n = 2)
      .select("lang", "doc_id", "sample_rank").orderBy("lang", "sample_rank")
      .show(6, truncate = false)

    println("== kNN similarity graph (top-2 neighbors per doc, LSH-bucketed) ==")
    val knn = graft.ops.ann.knnGraph(store.df, k = 2, nbits = 4)
    knn.orderBy("src", "rnk").show(6, truncate = false)

    println("== query observability: phase split + observe() safety counters ==")
    var waited = 0
    while (stats.lastQueryStats.forall(_.observed.isEmpty) && waited < 3000) {
      Thread.sleep(50); waited += 50 // listener delivery is async
    }
    stats.lastQueryStats.foreach { s =>
      println(s.pretty)
      s.observed.toSeq.sortBy(_._1).foreach { case (name, row) =>
        println(s"  $name: " + row.schema.fieldNames
          .map(f => s"$f=${row.getAs[Any](f)}").mkString(", "))
      }
    }

    println("== PageRank centrality over the kNN graph (most-central docs) ==")
    graft.ops.graph.pageRank(knn.select("src", "dst"), iters = 3)
      .orderBy(col("rank").desc, col("id")).show(5, truncate = false)

    println("== weekly retention triangle ==")
    graft.streaming.EventStream.retention(events)
      .orderBy("cohort_week", "week_offset").show(6, truncate = false)

    println("== trailing-hour rolling spend per user (RANGE frame) ==")
    graft.streaming.EventStream.rollingAgg(events, windowSec = 3600)
      .select("event_id", "user_id", "mov_n", "mov_avg")
      .orderBy("event_id").show(5, truncate = false)

    println("== exact-moment correlation: value vs JSON prop k per event type ==")
    graft.ops.rel.corrExact(
        events.withColumn("k", graft.streaming.EventStream.propInt("k"))
          .where(col("k").isNotNull),
        "k", "value", Seq("event_type"), xScale = 1.0, yScale = 10000.0)
      .orderBy("event_type").show(false)

    println("== value histogram (fixed-width, clamped edges) ==")
    graft.ops.sketch.histogram(events, col("value"), 0.0, 500.0, nbins = 10)
      .orderBy("bin").show(false)

    println("== multi-probe LSH: recall from extra probes, not extra tables ==")
    graft.ops.ann.lshSearchMultiProbe(store, q, k = 3, nbits = 6, probes = 4)
      .select("vec_id", "score", "label").show(false)

    println("== event-type transition matrix (exact integer shares) ==")
    graft.streaming.EventStream.transitions(events)
      .orderBy(col("prev_type"), col("event_type")).show(8, truncate = false)

    println("== corpus data card: per-language profile in one scan ==")
    SparkEntry.queries("pipeline_corpus_report")(spark, sfDir).show(false)

    println("== two-corpus kNN join: match queries (id%7=0) to the corpus ==")
    graft.ops.ann.knnJoin(
        store.df.where(col("vec_id") % 7 === 0),
        store.df.where(col("vec_id") % 7 =!= 0), k = 2, nbits = 4)
      .orderBy("src", "rnk").show(4, truncate = false)

    println("== Count-Min sketch: token frequency estimates from 4x512 cells ==")
    val cmToks = docs.select(explode(text.tokens(col("text"))).as("tok"))
    graft.ops.sketch.cmEstimate(
      graft.ops.sketch.countMin(cmToks, col("tok"), 4, 512),
      Seq("the", "data", "zzz_absent"), 4, 512).orderBy("value").show(false)

    println("== tokenizer fertility per language (subwords per word) ==")
    SparkEntry.queries("text_fertility")(spark, sfDir).show(false)

    println("== native session windows (same boundaries as gaps-and-islands) ==")
    events.groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("w.start"), col("n"))
      .orderBy("user_id", "start").show(3, truncate = false)

    println("== length-quantile curriculum bins ==")
    graft.ops.sample.quantileBins(docs, col("n_chars").cast("double"), nbins = 4,
        scale = 1.0)
      .groupBy("bin").agg(count(lit(1)).as("n_docs"),
        min("n_chars").as("lo"), max("n_chars").as("hi"))
      .orderBy("bin").show(false)

    println("== HLL distinct users per event type (64 one-byte registers) ==")
    graft.ops.sketch.hllEstimate(
      graft.ops.sketch.hll(events, col("user_id"), Seq("event_type")),
      Seq("event_type")).orderBy("event_type").show(false)

    println("== KMV sketch overlap: users who both viewed AND purchased ==")
    graft.ops.sketch.kmvOverlap(
      graft.ops.sketch.kmv(events.where(col("event_type") === "view"),
        col("user_id"), Seq.empty, k = 64),
      graft.ops.sketch.kmv(events.where(col("event_type") === "purchase"),
        col("user_id"), Seq.empty, k = 64),
      Seq.empty, k = 64).show(false)

    println("== per-language length quantiles from mergeable histogram state ==")
    graft.ops.sketch.histogramQuantileBy(
      graft.ops.sketch.histogramBy(docs, col("n_chars").cast("double"),
        Seq("lang"), 0.0, 640.0, 32),
      Seq("lang"), Seq(0.5, 0.95)).orderBy("lang", "q").show(false)

    println("== quality gates: entropy + TTR + linear classifier (first 5 docs) ==")
    val lw = (0 until 64).map(j => ((j * 2654435761L) % 2000001L - 1000000L) / 1.0e6)
    text.charEntropy(docs, "text", "doc_id")
      .join(text.lexicalDiversity(docs, "text", "doc_id").select("doc_id", "ttr"), "doc_id")
      .join(text.linearGate(docs, "text", "doc_id", lw)
        .select(col("doc_id"), col("score").as("clf_score")), "doc_id")
      .orderBy("doc_id").show(5, truncate = false)

    println("== DSIR importance weights toward the doc_id%7==0 'target' slice ==")
    text.dsirWeights(docs.where(col("doc_id") % 7 =!= 0),
        docs.where(col("doc_id") % 7 === 0), "text", "doc_id")
      .orderBy(col("logw").desc).show(5, truncate = false)

    println("== Gopher rule bundle: per-rule signals + keep flag ==")
    text.gopherQuality(docs, "text", "doc_id", minWords = 20)
      .orderBy("doc_id").show(5, truncate = false)

    println("== per-user EWMA (alpha=1/2 over last 4 events) vs uniform mean ==")
    graft.streaming.EventStream.ewma(events, k = 4)
      .select("event_id", "user_id", "value", "ewma_n", "ewma")
      .orderBy("event_id").show(5, truncate = false)

    println("== benchmark bloom: constant-size membership state + in-row screen ==")
    val bl = graft.ops.decontam.benchGramBloom(
      docs.where(col("doc_id") % 20 === 0), "text")
    println(s"bloom: ${bl.count()} words of 63 bits for the bench gram set")
    val screened = graft.ops.decontam.bloomScreenHits(
      docs.where(col("doc_id") % 20 =!= 0), bl, "text", "doc_id")
    screened.orderBy(col("hits").desc, col("doc_id")).show(3, truncate = false)

    println("== grouping sets: the two marginals + grand total, one pass ==")
    graft.ops.rel.groupingSetsAgg(docs.withColumn("v", col("n_chars").cast("double")),
        Seq(Seq("lang"), Seq("source"), Seq.empty), Seq("lang", "source"), "v")
      .orderBy("lang", "source").show(5, truncate = false)

    println("== image dedup plumbing: dHash + Hamming pairs (stub decode) ==")
    val media = graft.ops.multimodal.fromText(docs, "doc_id", "text", "source")
    val seeded = media.unionByName(media.where(col("id") % 97 === 0)
      .withColumn("id", col("id") + 1000000L))
    graft.ops.multimodal.dhashNearDupPairs(seeded)
      .orderBy("id_a", "id_b").show(3, truncate = false)

    println("== training-order interleave: round-robin across languages ==")
    graft.ops.sample.interleave(docs, "lang", "doc_id")
      .select("order_idx", "lang", "doc_id")
      .orderBy("order_idx").show(6, truncate = false)

    println("== label propagation communities over the kNN graph ==")
    graft.ops.graph.labelPropagation(knn.select("src", "dst"), iters = 2)
      .groupBy("label").agg(count(lit(1)).as("size"))
      .orderBy(col("size").desc).show(5, truncate = false)

    println("== URL canonicalization: re-crawl variants collapse to one page ==")
    graft.ops.dedup.urlDedup(
        docs.select(col("doc_id"), concat(lit("HTTPS://WWW.Example.com/p/"),
          (col("doc_id") % 5).cast("string"),
          when(col("doc_id") % 2 === 0, lit("?utm_source=crawl"))
            .otherwise(lit("#top"))).as("url")),
        "url", "doc_id")
      .orderBy("norm_url").show(5, truncate = false)

    println("== token-budget mixture plan: targets, rates, epochs per source ==")
    graft.ops.sample.planTokenBudget(docs, "lang",
        text.tokenCount(col("text")),
        Map("en" -> 0.5, "de" -> 0.3, "fr" -> 0.2), budget = 100000L)
      .orderBy("lang").show(false)

    println("== LSH band tuning: S-curve (bands, rows) for jaccard thresholds ==")
    Seq(0.2, 0.5, 0.8, 0.9).foreach { t =>
      val (b, r) = graft.ops.dedup.lshTune(16, t)
      println(f"  threshold $t%.1f -> bands=$b rows=$r " +
        f"(50%% point ${math.pow(1.0 / b, 1.0 / r)}%.3f)")
    }

    println("== per-language percentile rank: calibrate scores within groups ==")
    graft.ops.sample.percentileRankBy(docs, "lang", col("n_chars"), scale = 1.0)
      .select("doc_id", "lang", "n_chars", "pct_rank")
      .orderBy(col("pct_rank").desc, col("doc_id")).show(4, truncate = false)

    println("== corpus snapshot diff: v2 drops every 3rd doc, edits every 5th ==")
    graft.ops.rel.snapshotDiff(docs,
        docs.where(col("doc_id") % 3 =!= 0)
          .select(col("doc_id"), when(col("doc_id") % 5 === 0,
            concat(col("text"), lit(" v2"))).otherwise(col("text")).as("text")),
        "doc_id", "text")
      .groupBy("status").count().orderBy("status").show(false)

    println("== match-key dedup: case/accent/punct variants key identically ==")
    println("  matchKey('Héllo,  Wörld! 42') = " +
      docs.limit(1).select(text.matchKey(lit("Héllo,  Wörld! 42")))
        .head().getString(0))

    println("== PII shape counts (injected fixture row) ==")
    docs.limit(1)
      .select(text.piiStats(lit("mail a@b.co card 4111 1111 1111 1111 " +
        "at 10.0.0.1 via https://x.com/a")).as("p"))
      .select("p.*").show(false)

    println("== data-quality rule gate: one pass, null-safe violations ==")
    graft.ops.rel.checkRules(docs, Seq(
        "nonempty" -> (length(col("text")) > 0),
        "short_tail" -> (col("n_chars") < 500),
        "lang_known" -> col("lang").isin("en", "fr", "de", "zh", "es")))
      .orderBy("rule").show(false)

    println("== key-skew probe: share, skew factor, salt recommendation ==")
    graft.ops.rel.skewProbe(docs, "lang", topN = 3).show(false)

    println("== deterministic epoch shuffle (seed 7): first training docs ==")
    graft.ops.sample.epochShuffle(docs.select("doc_id"), "doc_id", seed = 7)
      .orderBy("epoch_pos").show(3)

    println("== token-balanced shards: serpentine deal by size ==")
    graft.ops.sample.balancedShards(docs.select(col("doc_id"), col("n_chars")),
        "doc_id", col("n_chars").cast("long"), shards = 4)
      .groupBy("shard").agg(count(lit(1)).as("n_docs"),
        sum("n_chars").as("sum_chars"))
      .orderBy("shard").show(false)

    println("== MaxSim late-interaction top-3 (4x16 token slices) ==")
    graft.ops.retrieval.maxSimTopK(store.df, "embedding", "vec_id",
      (0 until 4).map(j => q.slice(j * 16, j * 16 + 16)),
      tokDim = 16, docDim = 64, k = 3).show(false)

    println("== CDC apply: upserts + deletes onto the corpus snapshot ==")
    val snap = docs.select(col("doc_id"), col("lang"))
    val log = docs.where(col("doc_id") < 3)
      .select(col("doc_id"), lit("xx").as("lang"), lit(2).as("ts"),
        lit("upsert").as("op"))
      .unionByName(docs.where(col("doc_id") === 1)
        .select(col("doc_id"), col("lang"), lit(1).as("ts"),
          lit("delete").as("op")))
    graft.ops.rel.cdcApply(snap, log, "doc_id")
      .orderBy("doc_id").show(4)

    println("== CM join-size estimate vs truth (lineitem x orders) ==")
    val liD = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val ordD = spark.read.parquet(s"$sfDir/orders.parquet")
    val est = graft.ops.sketch.cmJoinSize(
      graft.ops.sketch.countMin(liD, col("l_orderkey"), 4, 512),
      graft.ops.sketch.countMin(ordD, col("o_orderkey"), 4, 512), 4)
      .head().getLong(0)
    val truth = liD.join(ordD, liD("l_orderkey") === ordD("o_orderkey")).count()
    println(s"  estimate=$est true=$truth (never undercounts)")

    println("== Misra-Gries heavy hitters: top-5 users by event count ==")
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
    graft.ops.sketch.heavyHitters(ev, col("user_id"),
      capacity = 256, topN = 5).show()

    println("== MERGE: delete 'D' rows, update the rest, insert new keys ==")
    val tgt = docs.where(col("doc_id") < 6).select(col("doc_id"), col("lang"))
    val src = docs.where(col("doc_id") < 3)
      .select(col("doc_id"),
        when(col("doc_id") === 0, lit("D")).otherwise(lit("upd")).as("lang"))
      .unionByName(docs.where(col("doc_id") === 7)
        .select(col("doc_id"), lit("ins").as("lang")))
    graft.ops.rel.merge(tgt, src, Seq("doc_id"),
        whenMatchedUpdate = Some(lit(true)),
        whenMatchedDelete = Some(col("s.lang") === "D"),
        whenNotMatchedInsert = Some(lit(true)))
      .orderBy("doc_id").show()

    println("== k-center coreset: 4 farthest-point exemplars + radius curve ==")
    graft.ops.ann.kCenterSelect(store.df, k = 4).show()

    println("== Matryoshka: prefix-16 coarse + exact rerank top-3 ==")
    graft.ops.ann.matryoshkaSearch(store, q, k = 3, prefixDims = 16).show(false)

    println("== kNN label-noise audit queue (top 5 disagreeing points) ==")
    graft.ops.ann.labelNoise(store.df, k = 3, topN = 5).show()

    println("== Triangle count of the kNN graph ==")
    graft.ops.graph.triangleCount(
      graft.ops.ann.knnGraph(store.df, k = 3).select(col("src"), col("dst")))
      .show()

    // =====================================================================
    // CRAWL → TRAINING ORDER: the end-to-end LLM-data walkthrough.
    // Chains the pipeline a 100 TB pretraining corpus actually runs:
    //   1. URL dedup          (drop re-crawls before touching content)
    //   2. MinHash clusters   (near-dup groups across the survivors)
    //   3. Cluster weights    (keep one rep, carry cluster mass as weight)
    //   4. Token-budget plan  (per-source rates for an explicit mixture)
    //   5. Interleave         (round-robin sources into one stream)
    //   6. Epoch shuffle      (seeded, reproducible global permutation)
    //   7. Balanced shards    (token-equal files for the trainer)
    // Every stage is a scan/one-shuffle shape audited at 10x/30x in
    // BASELINE.md; this demo runs it at sf scale end to end.
    // =====================================================================
    println("== crawl -> training order: URL dedup ==")
    import graft.ops.{dedup, sample}
    // synthesize a crawl-ish URL per document (7 sites, tracking params
    // on half the fetches) — in production this is the crawl metadata
    val crawl = docs.select(col("doc_id"), col("text"), col("lang"),
      col("source"), col("n_chars"),
      concat(lit("https://S"), (col("doc_id") % 7).cast("string"),
        lit(".example.com/page/"), (col("doc_id") % 40).cast("string"),
        when(col("doc_id") % 2 === 0, lit("?utm_source=feed")).otherwise(lit("")))
        .as("url"))
    val pages = dedup.urlDedup(crawl, "url", "doc_id")
    println(s"  ${crawl.count()} fetches -> ${pages.count()} distinct pages")
    val stage1 = crawl.join(
      pages.select(col("keep_id").as("doc_id")), Seq("doc_id"))

    println("== crawl -> training order: blocklist content gate ==")
    // C4-style wordlist gate between URL dedup and near-dup clustering —
    // flagged docs never pay the shingling cost downstream
    val gated = text.blocklistClean(stage1, "text",
      Seq("slow", "merge batch part"))
    println(s"  ${stage1.count()} pages -> ${gated.count()} past the wordlist gate")

    println("== crawl -> training order: near-dup clusters + mass weights ==")
    val clusters = dedup.nearDupClusters(gated, "text", "doc_id",
      threshold = 0.5)
    val weights = clusters.groupBy(col("rep").as("doc_id"))
      .agg(count(lit(1)).cast("double").as("dup_weight"))
    // survivors = cluster reps + docs in no cluster, each with its mass
    val stage2 = gated
      .join(clusters.where(!col("keep")).select(col("doc_id")), Seq("doc_id"),
        "left_anti")
      .join(weights, Seq("doc_id"), "left")
      .withColumn("dup_weight", coalesce(col("dup_weight"), lit(1.0)))
    println(s"  ${gated.count()} pages -> ${stage2.count()} survivors " +
      "(cluster mass preserved in dup_weight)")

    println("== crawl -> training order: token-budget mixture plan ==")
    val plan = sample.planTokenBudget(stage2, "source",
      text.tokenCount(col("text")),
      Map("src0" -> 0.4, "src1" -> 0.3, "src2" -> 0.3), budget = 200000L)
    plan.orderBy(col("source")).show()

    println("== crawl -> training order: interleave sources ==")
    val inter = sample.interleave(stage2, "source", "doc_id")
    inter.orderBy(col("order_idx")).select("order_idx", "source", "doc_id")
      .show(8)

    println("== crawl -> training order: epoch shuffle (seed 1 vs seed 2) ==")
    val ep1 = sample.epochShuffle(stage2.select(col("doc_id")), "doc_id", seed = 1)
    val ep2 = sample.epochShuffle(stage2.select(col("doc_id")), "doc_id", seed = 2)
    println("  epoch 1 head: " + ep1.orderBy(col("epoch_pos")).limit(5)
      .collect().map(_.getLong(0)).mkString(", "))
    println("  epoch 2 head: " + ep2.orderBy(col("epoch_pos")).limit(5)
      .collect().map(_.getLong(0)).mkString(", "))

    println("== crawl -> training order: token-balanced shards ==")
    sample.balancedShards(
        stage2.select(col("doc_id"), text.tokenCount(col("text")).as("toks")),
        "doc_id", col("toks"), shards = 4)
      .groupBy(col("shard")).agg(count(lit(1)).as("n_docs"),
        sum(col("toks")).as("n_tokens"))
      .orderBy(col("shard")).show()

    // EXPERIMENT READOUT: the guard-then-measure order an A/B platform
    // runs — SRM first (a broken randomizer invalidates everything),
    // CUPED second (exact sums + pooled theta), trend/seasonality for
    // the volume context the metrics sit in.
    println("== experiment readout: SRM guard -> CUPED -> volume context ==")
    val evAll = SparkEntry.normalizeEventTs(
      spark.read.parquet(s"$sfDir/events.parquet"))
    graft.streaming.EventStream.srm(evAll, variant = col("user_id") % 2).show()
    graft.streaming.EventStream.cuped(evAll, cutoff = "2024-01-15",
      variant = col("user_id") % 2).orderBy(col("variant")).show()
    graft.streaming.EventStream.trend(evAll).orderBy(col("series")).show()
    graft.streaming.EventStream.activeUsers(evAll)
      .orderBy(col("day")).show(5)
    graft.streaming.EventStream.concentration(evAll, k = 5).show()

    // EMBEDDING HEALTH: dead-dim screen, then whether 1-bit codes are
    // enough to serve from (recall), then cluster balance before
    // trusting IVF pruning math.
    println("== embedding health: dim stats -> binary recall -> balance ==")
    val embAll = spark.read.parquet(s"$sfDir/embeddings.parquet")
    graft.ops.ann.dimStats(embAll).orderBy(col("var_milli2").asc).show(5)
    val probeQ = (0 until 64).map(i => math.sin(i + 1.0))
    graft.ops.ann.binaryRecallAtK(VecStore(embAll), Seq(probeQ), k = 10,
      candK = 40).show()
    graft.ops.ann.ivfAssign(embAll, graft.ops.ann.seedCentroids(embAll, 8))
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("n"))
      .orderBy(col("cluster_id")).show()

    // EXPERIMENT DESIGN-TO-DECISION: size it (MDE) -> did the split
    // behave (SRM, above) -> survival to conversion (KM) -> effect with
    // parallel-trends framing (DiD) -> error bars with no resampled
    // copies (Poisson bootstrap).
    println("== experiment design-to-decision: MDE -> KM -> DiD -> bootstrap ==")
    graft.streaming.EventStream.mdeReadout(evAll,
      variant = col("user_id") % 2).show()
    graft.streaming.EventStream.kaplanMeier(evAll, "signup", "purchase")
      .orderBy(col("t")).show(5)
    graft.streaming.EventStream.diffInDiff(evAll, cutoff = "2024-01-15",
      variant = col("user_id") % 2).show()
    val boots = sample.bootstrapCI(evAll, "value", "event_id", reps = 40)
      .where(col("n_eff") > 0).select("mean_q4").collect().map(_.getDouble(0))
      .sorted
    println(s"  mean-value bootstrap (cents): [${boots.head}, ${boots.last}]" +
      s" over ${boots.length} resamples")

    // FORECAST SANITY: is the volume trend real under outliers
    // (Theil-Sen vs OLS), and does seasonality actually predict
    // (seasonal-naive skill < 1e6 ppm beats persistence)?
    println("== forecast sanity: robust trend -> seasonal skill ==")
    graft.streaming.EventStream.theilSen(evAll).orderBy(col("series")).show()
    graft.streaming.EventStream.snaiveBacktest(evAll, bucketSec = 3600,
      season = 24).orderBy(col("series")).show()

    // EMBEDDING GEOMETRY: exact Gram -> anisotropy (is cosine OK here?)
    // -> top PC by driver power iteration -> a linear probe TRAINED
    // in-engine on exact integer gradients.
    println("== embedding geometry: gram -> anisotropy -> PCA -> probe ==")
    val gramDf = graft.ops.linalg.gram(embAll, "embedding", dim = 64)
    graft.ops.linalg.anisotropy(gramDf).show()
    val pc = graft.ops.linalg.pcaTopComponent(gramDf, dim = 64)
    println(s"  top PC leading dims: ${pc.take(4).map(v => f"$v%.4f").mkString(", ")}")
    graft.ops.linalg.linearProbeTrain(embAll, "embedding",
      col("label") >= 5, dims = 8, iters = 2).orderBy(col("j")).show()
    graft.ops.linalg.kmeansFit(embAll, "embedding", "vec_id",
      dim = 64, k = 4, iters = 2).orderBy(col("cluster")).show()

    // NEW-CRAWL INTAKE: the three questions an ingestion gate asks of an
    // incoming slice before mixing it in — is it NEW (gram novelty), is
    // it SHIFTED (order-aware EMD on the length profile), and if so,
    // CALIBRATE it to the house distribution (rejection matching).
    println("== new-crawl intake: novelty -> drift -> calibrate ==")
    val incoming = docs.where(col("doc_id") % 5 === 0)
    val corpus = docs.where(col("doc_id") % 5 =!= 0)
    val nov = graft.ops.dedup.crossNovelty(incoming, corpus, "text", "doc_id")
      .agg(sum(col("n_grams")).as("grams"),
        sum(col("n_grams") - col("n_known")).as("novel"))
      .head()
    println(s"  novelty: ${nov.getLong(1)} of ${nov.getLong(0)} grams unseen")
    graft.ops.sample.emd1d(incoming, col("n_chars"), corpus, col("n_chars"),
      binWidth = 100L).show()
    graft.ops.sample.matchDistribution(incoming, col("n_chars"), corpus,
        col("n_chars"), "doc_id", binWidth = 200L)
      .groupBy(col("bin")).agg(count(lit(1)).as("n"), sum(col("kept")).as("kept"))
      .orderBy(col("bin")).show(5)

    // VALUE-INTEGRITY READOUT: inequality (whole Lorenz curve), digit
    // authenticity (Benford), and stream mechanicalness (Markov) — the
    // three is-this-data-organic screens.
    println("== value integrity: gini -> benford -> markov ==")
    graft.ops.rel.gini(
      evAll.groupBy(col("user_id"))
        .agg(sum(floor(col("value") * 100.0).cast("long")).as("c")),
      col("c")).show()
    graft.ops.rel.benford(evAll, floor(col("value") * 100.0).cast("long"))
      .orderBy(col("digit")).show(3)
    graft.streaming.EventStream.markovPredictability(evAll)
      .orderBy(col("prev_type")).show()

    // GENERATION-EVAL READOUT: compare a "model output" (here, each doc
    // with every 3rd token dropped) against its reference — overlap
    // (ROUGE-2), fluency-ish (log-BLEU), char-grain (chrF), and the A/B
    // verdict between two scorers with calibration on top. All per-row
    // kernel passes and grid aggregates; no shuffle touches the text.
    println("== generation evals: rouge/bleu/chrf -> winrate -> calibration ==")
    val toks3 = graft.ops.text.tokens(col("text"))
    val genP = docs.select(col("doc_id"),
      concat_ws(" ", filter(toks3, (t, i) => i % 3 =!= 2)).as("cand"),
      concat_ws(" ", toks3).as("ref"))
    graft.ops.evals.ngramOverlap(genP, col("doc_id"), col("cand"),
      col("ref"), n = 2).orderBy(col("doc_id")).show(3)
    graft.ops.evals.bleu(genP, col("doc_id"), col("cand"), col("ref"))
      .select(col("doc_id"), col("p1_ppm"), col("p4_ppm"), col("logbleu"))
      .orderBy(col("doc_id")).show(3)
    graft.ops.evals.chrF(genP, col("doc_id"), col("cand"), col("ref"))
      .orderBy(col("doc_id")).show(3)
    graft.ops.evals.wer(genP, col("doc_id"), col("cand"), col("ref"))
      .orderBy(col("doc_id")).show(3)
    val sA = floor(graft.functions.vectors.cosineSimilarity(col("embedding"),
      lit(SparkEntry.Q1.toArray)) * 10000.0 + 0.5).cast("long")
    val sB = floor(graft.functions.vectors.cosineSimilarity(col("embedding"),
      lit(SparkEntry.Q2.toArray)) * 10000.0 + 0.5).cast("long")
    graft.ops.evals.winRate(store.df, sA, sB).show()
    graft.ops.evals.ece(store.df, (sA + lit(10000L)) * lit(50L),
      col("label") < 5).show()
    graft.ops.evals.brierDecomp(store.df, (sA + lit(10000L)) * lit(50L),
      col("label") < 5).show()

    println("== eval harness: pass@k -> majority vote -> kappa -> arena BT ==")
    val runs = store.df.select((col("vec_id") % 97L).as("task"),
      (col("label") < 4).as("ok"), pmod(sA, lit(7L)).as("ans"),
      ((col("vec_id") % 97L) % 7L).as("gold"))
    graft.ops.evals.passAtK(runs, col("task"), col("ok"), Seq(1, 5, 10))
      .orderBy(col("task")).show(3)
    val sc = graft.ops.evals.selfConsistency(runs, col("task"), col("ans"),
      col("gold"))
    println(s"  majority-vote accuracy: ${sc.where(col("correct") === 1L).count()}" +
      s" / ${sc.count()} tasks")
    graft.ops.evals.cohenKappa(store.df, col("label"), pmod(sA, lit(10L))).show()
    graft.ops.evals.krippendorffAlpha(
      store.df.select(col("vec_id").as("u"),
        explode(array(col("label"), pmod(sA, lit(10L)))).as("l")),
      col("u"), col("l")).show()
    val apRuns = store.df.select(lit(0L).as("qid"), col("vec_id"),
      (col("label") < 2L).cast("long").as("rel"), sA.as("s"))
    graft.ops.evals.averagePrecision(apRuns, col("qid"), col("rel"),
      col("s"), col("vec_id")).show()
    graft.ops.evals.adjustedRand(store.df, col("label"),
      pmod(col("label") + (col("vec_id") % 5L === 0L).cast("long"),
        lit(10L))).show()
    graft.ops.evals.rboAtD(
      store.df.select(pmod(col("label"), lit(2L)).as("qid"), col("vec_id"),
        sA.as("sa"), sB.as("sb")),
      col("qid"), col("vec_id"), col("sa"), col("sb")).show()
    val battles = store.df.select((col("vec_id") % 8L).as("a"),
      expr("(vec_id DIV 8) % 8").as("b"), (sA - sB).as("mg"))
      .where(col("a") =!= col("b") && col("mg") =!= 0L)
    graft.ops.evals.btRatings(battles, col("a"), col("b"), col("mg") > 0L)
      .orderBy(col("rating").desc).show(8)
    println("== corpus audits: self-BLEU diversity -> Heaps curve -> MI ==")
    graft.ops.evals.selfBleu(genP.select(col("doc_id"), col("cand")),
      col("doc_id"), col("cand")).orderBy(col("doc_id")).show(3)
    graft.ops.text.vocabGrowth(docs, "text", "doc_id", buckets = 5)
      .orderBy(col("bucket")).show()
    graft.ops.rel.mutualInfo(docs, col("lang"), col("source")).show()

    println("== distribution drift: KS gate -> per-day PSI -> embedding MMD ==")
    graft.ops.sample.ksStat(
      docs.where(col("lang") === "de"), col("n_chars"),
      docs.where(col("lang") === "en"), col("n_chars")).show()
    val evs = spark.read.parquet(s"$sfDir/events.parquet")
      .where(col("value").isNotNull)
    val evCents = floor(col("value") * 100.0).cast("long")
    graft.ops.sample.psiFrom(
      graft.ops.sample.histGrid(
        evs.where(col("ts") < lit("2024-01-02").cast("timestamp")),
        evCents, Seq.empty, 1000L),
      graft.streaming.EventStream.histDriftStream(evs, evCents, 1000L,
          windowDur = "1 day")
        .withColumn("day", date_format(col("win.start"), "yyyy-MM-dd"))
        .drop("win"),
      Seq("day")).orderBy(col("day")).show(5)
    val embDriftSrc = spark.read.parquet(s"$sfDir/embeddings.parquet")
    graft.ops.linalg.embedDrift(
      graft.ops.linalg.momentGrid(
        embDriftSrc.where(col("label") % 2 === 0), "embedding", 64),
      graft.ops.linalg.momentGrid(
        embDriftSrc.where(col("label") % 2 === 1), "embedding", 64)).show()

    println("== drift card: PSI + KS + EMD off one hist snapshot ==")
    val dayGrid = graft.ops.ckpt.cut(
      graft.streaming.EventStream.histDriftStream(evs, evCents, 100L,
          windowDur = "1 day")
        .withColumn("day", date_format(col("win.start"), "yyyy-MM-dd"))
        .drop("win"))
    graft.ops.sample.driftCard(
        dayGrid.where(col("day") === "2024-01-01").select(col("bin"), col("n")),
        dayGrid, Seq("day"), binWidth = 100L)
      .orderBy(col("day")).show(5)

    println("== cross-doc exact substrings: who copied what from whom ==")
    graft.ops.dedup.crossSubstringPairs(docs, "text", "doc_id", minLen = 8)
      .orderBy(col("len_tokens").desc).show(5)
    graft.ops.dedup.crossDupStats(docs, "text", "doc_id", minLen = 8)
      .orderBy(col("dup_bp").desc).show(5)

    println("== unigram-LM tokenizer: trained vocab head + fertility card ==")
    graft.ops.unigram.train(docs, "text", seedSize = 60, maxPieceLen = 3,
      rounds = 2, minUsage = 2L, keepTop = 8).show()
    graft.ops.unigram.fertility(docs, "text", seedSize = 60,
      maxPieceLen = 3, rounds = 2, minUsage = 2L).show()
    graft.ops.text.zipfSlope(docs, "text", topK = 1000).show()

    println("== eval uncertainty: bootstrap CI, paired A-vs-B, mined pairs ==")
    graft.ops.evals.bootstrapCI(
      docs.where(col("n_chars").isNotNull), col("doc_id"), col("n_chars"),
      b = 100).show()
    graft.ops.evals.pairedBootstrap(store.df, col("vec_id"), sA, sB,
      b = 100).show()
    graft.ops.ann.marginMine(
        embDriftSrc.where(col("vec_id") % 7 === 0),
        embDriftSrc.where(col("vec_id") % 7 =!= 0), k = 2, nbits = 6)
      .orderBy(col("margin_q6").desc).show(5)

    spark.stop()
  }
}
