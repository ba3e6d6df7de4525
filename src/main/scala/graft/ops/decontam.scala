package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.vectors

/** Benchmark decontamination: flag (or drop) training documents that
  * share word n-gram shingles with a held-out evaluation set — the
  * GPT-3/PaLM-style n-gram collision check, as an engine primitive.
  *
  * The reference engine has no corpus ops (SURVEY.md §2.8) — north-star
  * extension alongside the dedup family.
  *
  * Scale discipline (100 TB train, small bench): the benchmark side is
  * reduced to its DISTINCT n-gram set and BROADCAST, so the training
  * corpus is never shuffled — each scan task probes the in-memory gram
  * table (a hash-join bloom check, same effect as a bloom pushdown) and
  * only MATCHING (id, gram) rows enter the one aggregation shuffle, whose
  * volume is bounded by the contamination rate, not the corpus size. If
  * the bench gram set ever outgrows the broadcast threshold, pre-hash
  * grams to 64-bit ([[graft.functions.hashing.h32]]) to shrink it ~6×
  * before sharding the check.
  */
object decontam {

  /** Per-train-doc contamination hit counts: the number of DISTINCT word
    * `n`-gram shingles the doc shares with ANY benchmark doc. Only docs
    * with ≥ 1 hit are returned. */
  def contaminationHits(
      train: DataFrame,
      bench: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 8): DataFrame = {
    val benchGrams = bench
      .select(explode(dedup.wordShingles(col(textCol), n)).as("gram"))
      .distinct()
    train
      .select(col(idCol), explode(dedup.wordShingles(col(textCol), n)).as("gram"))
      .join(broadcast(benchGrams), "gram")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("hits"))
  }

  /** Semantic (embedding-space) contamination pairs: every
    * `(train, bench)` pair whose embedding cosine similarity — quantized
    * to `scoreDecimals` — reaches `tau`. The complement of the n-gram
    * check: paraphrased or reformatted benchmark leakage shares no
    * 8-gram but sits next to the bench item in embedding space
    * (the screen used alongside n-gram overlap in modern LLM data work).
    *
    * Scale shape (100 TB train, small bench): the bench side is reduced
    * to `(id, vec)` and BROADCAST — the train corpus is scanned ONCE and
    * never shuffled; each task scores its rows against the in-memory
    * bench matrix inside whole-stage codegen (the
    * [[graft.functions.vectors.cosineSimilarity]] native kernel), and
    * only pairs at/above `tau` survive, so output volume is bounded by
    * the contamination rate. Cost is `|train| · |bench|` kernel evals —
    * EXACT brute-force semantics, which is what a decontamination
    * audit wants (a probe that can miss is not a screen); bench sets
    * are eval-suite sized (10³-10⁵), so the per-row work is a bounded
    * constant. If a bench set ever outgrows broadcast, pre-screen with
    * [[graft.ops.dedup.embNearDupPairs]] LSH and verify survivors here.
    *
    * Returns `(train_id, bench_id, cos)` sorted by ids. Zero vectors
    * score 0.0 (never NaN), per the reference's inv-norm convention
    * (/root/reference/src/vec.rs:365-368). */
  def semanticHits(
      train: DataFrame,
      bench: DataFrame,
      idCol: String,
      vecCol: String,
      tau: Double,
      scoreDecimals: Int = 4): DataFrame = {
    val scale = math.pow(10.0, scoreDecimals)
    val b = bench.select(col(idCol).as("bench_id"), col(vecCol).as("_bv"))
    val cos = floor(
      vectors.cosineSimilarity(col(vecCol), col("_bv")) * scale + lit(0.5)) / scale
    train.select(col(idCol).as("train_id"), col(vecCol))
      .crossJoin(broadcast(b))
      .select(col("train_id"), col("bench_id"), cos.as("cos"))
      .where(col("cos") >= tau)
  }

  /** Drop training docs whose embedding matches ANY bench item at
    * `tau`+ cosine (anti-join on the thin flagged-id list). */
  def decontaminateSemantic(
      train: DataFrame,
      bench: DataFrame,
      idCol: String,
      vecCol: String,
      tau: Double,
      scoreDecimals: Int = 4): DataFrame = {
    val bad = semanticHits(train, bench, idCol, vecCol, tau, scoreDecimals)
      .select(col("train_id").as(idCol)).distinct()
    train.join(broadcast(bad), Seq(idCol), "left_anti")
  }

  /** [[sketch.bloom]] of a benchmark's DISTINCT word n-gram shingles —
    * the shippable membership state for [[bloomScreenHits]]. Build once
    * per benchmark release; `mBits/63` longs replace millions of gram
    * strings. */
  def benchGramBloom(
      bench: DataFrame,
      textCol: String,
      n: Int = 8,
      mBits: Int = 4032,
      k: Int = 3): DataFrame =
    sketch.bloom(
      bench.select(explode(dedup.wordShingles(col(textCol), n)).as("gram")),
      col("gram"), mBits, k)

  /** [[contaminationHits]] against a BLOOM of the benchmark gram set
    * instead of the gram strings themselves — the shape for benchmarks
    * too large to broadcast as text (the bloom is `mBits/63` longs
    * regardless of gram count). Guarantees of the screen:
    *   - NO FALSE NEGATIVES: every doc [[contaminationHits]] flags is
    *     flagged here with at least the same hit count (bloom membership
    *     is a superset of set membership) — the property a screen needs;
    *   - false-positive hits at the standard bloom rate, DETERMINISTIC
    *     and engine-reproducible (public hash family), so the flagged
    *     set is still oracle-checkable bit-for-bit. Size `mBits` for
    *     the target rate and verify survivors with the exact check.
    *
    * Plan shape: ZERO SHUFFLE — the per-doc distinct-member-gram count
    * is the fused [[graft.functions.NativeExprs.bloomGramHits]] kernel
    * (shingle + probe in one compiled pass, the sketch riding the plan
    * as a literal), so the screen is a row-local projection + filter;
    * the train corpus is scanned once and nothing is exploded. The
    * compositional explode → probe-filter → groupBy count form is kept
    * as [[bloomScreenHitsExploded]], the executable spec (identical
    * counts: a wordShingles array is DISTINCT by construction, so the
    * exploded row count per doc IS the kernel's member count).
    * `bloomDf` is collected driver-side — `mBits/63` rows by
    * construction, the same bounded-state contract as the PQ codebooks. */
  def bloomScreenHits(
      train: DataFrame,
      bloomDf: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 8,
      mBits: Int = 4032,
      k: Int = 3): DataFrame = {
    val words = collectBloomWords(bloomDf, mBits, k)
    train
      .select(col(idCol), graft.functions.NativeExprs
        .bloomGramHits(col(textCol), words, n, mBits, k).as("hits"))
      .where(col("hits") >= 1)
  }

  /** Compositional twin of [[bloomScreenHits]] — the executable spec:
    * explode the (distinct) shingles, keep bloom members, count per doc. */
  def bloomScreenHitsExploded(
      train: DataFrame,
      bloomDf: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 8,
      mBits: Int = 4032,
      k: Int = 3): DataFrame = {
    val words = collectBloomWords(bloomDf, mBits, k)
    train
      .select(col(idCol), explode(dedup.wordShingles(col(textCol), n)).as("gram"))
      .where(sketch.bloomMightContain(words, col("gram"), mBits, k))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("hits"))
  }

  /** Drop docs with ≥ `minHits` bloom-member grams, entirely IN ROW:
    * shingling and the k-position probe run as ONE fused native kernel
    * pass per document ([[graft.functions.NativeExprs.bloomGramHits]] —
    * one md5 per gram yields both probe words; the compositional form
    * pays two digests per gram through interpreted HOF lambdas), so the
    * gate is a STATELESS row-local filter — zero shuffle, pushes toward
    * the scan, and (unlike [[bloomScreenHits]]' explode + count, the
    * audit shape) is legal in a Structured Streaming micro-batch with
    * no state store, no watermark, no foreachBatch: the same call
    * screens a 100 TB batch corpus and a live ingest stream. Keeps the
    * no-false-negative guarantee; FP-rate docs are the price of the
    * constant-size sketch. Bit-identical to the compositional spec
    * `bloomCleanHof` in the test object `HofTwins` (NativeExprsSpec
    * asserts the law). */
  def bloomClean(
      df: DataFrame,
      bloomDf: DataFrame,
      textCol: String,
      n: Int = 8,
      mBits: Int = 4032,
      k: Int = 3,
      minHits: Int = 1): DataFrame = {
    require(minHits >= 1, s"graft: bloomClean needs minHits >= 1, got $minHits")
    val words = collectBloomWords(bloomDf, mBits, k)
    df.where(graft.functions.NativeExprs
      .bloomGramHits(col(textCol), words, n, mBits, k) < minHits)
  }

  /** Collect a [[sketch.bloom]] artifact's word spine driver-side
    * (`mBits/63` longs by construction — bounded state, like the PQ
    * codebooks), validating its shape against the probe parameters. */
  private[graft] def collectBloomWords(bloomDf: DataFrame, mBits: Int, k: Int): Seq[Long] = {
    val words = bloomDf.orderBy(col("word"))
      .select(col("bits")).collect().map(_.getLong(0)).toSeq
    require(words.length == sketch.bloomWordCount(mBits),
      s"graft: bloom artifact has ${words.length} words, " +
        s"expected ${sketch.bloomWordCount(mBits)} for mBits=$mBits")
    words
  }

  /** Drop training docs with ≥ `minHits` shared n-grams (anti-join on the
    * contaminated id list — thin, never the text payload). */
  def decontaminate(
      train: DataFrame,
      bench: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 8,
      minHits: Int = 1): DataFrame = {
    val bad = contaminationHits(train, bench, textCol, idCol, n)
      .where(col("hits") >= minHits)
      .select(col(idCol))
    train.join(broadcast(bad), Seq(idCol), "left_anti")
  }

  /** Canonical host of a URL: lowercased authority with the `www.`
    * prefix and scheme-default port stripped — [[text.normalizeUrl]]'s
    * host rules, factored out for provenance-level screening (a true
    * registrable-domain cut needs the public-suffix list; the host is
    * the deterministic, list-free conservative unit). */
  def urlHost(url: Column): Column = {
    val scheme = lower(regexp_extract(trim(url), "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val hostRaw = regexp_replace(
      lower(regexp_extract(trim(url), "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)),
      "^www\\.", "")
    when(scheme === "http", regexp_replace(hostRaw, ":80$", ""))
      .when(scheme === "https", regexp_replace(hostRaw, ":443$", ""))
      .otherwise(hostRaw)
  }

  /** Provenance decontamination: drop every training doc whose URL HOST
    * appears among the held-out set's hosts — the coarse screen run
    * BEFORE n-gram collision checks (if the benchmark was scraped from
    * a site, every page of that site is suspect, not just colliding
    * shingles; the GPT-4-era eval-hygiene practice). Host extraction is
    * row-local regexp work; the eval side reduces to its DISTINCT host
    * set and BROADCASTS, so the 100 TB train side is never shuffled —
    * the [[contaminationHits]] discipline at domain granularity. Docs
    * with un-parseable URLs (no `scheme://host`) yield an empty host
    * and are KEPT: absence of provenance is not evidence of overlap. */
  def domainScreen(
      train: DataFrame,
      bench: DataFrame,
      urlCol: String): DataFrame = {
    val benchHosts = bench
      .select(urlHost(col(urlCol)).as("_host"))
      .where(col("_host") =!= "")
      .distinct()
    train
      .withColumn("_host", urlHost(col(urlCol)))
      .join(broadcast(benchHosts), Seq("_host"), "left_anti")
      .drop("_host")
  }
}
