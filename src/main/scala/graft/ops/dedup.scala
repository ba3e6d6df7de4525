package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{hashing, vectors}

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, n-gram Jaccard, and embedding-cosine near-dup.
  *
  * The reference engine has none of these (SURVEY.md §2.8) — north-star
  * extensions. Scale discipline (100 TB): no operator materializes pairs
  * except AFTER LSH blocking; every stage is a DataFrame plan whose
  * shuffles are keyed on fingerprints/bucket ids (uniformly distributed by
  * construction), and exact O(n²) comparison only ever runs within
  * candidate buckets.
  *
  * All hashing is the portable md5-derived family from
  * [[graft.functions.hashing]], so every result is reproducible by an
  * independent engine (see the DuckDB oracles in SparkEntry).
  */
object dedup {

  // ---- shingling -------------------------------------------------------

  /** Distinct word `n`-gram shingles of lowercased whitespace tokens;
    * empty array when the document has fewer than `n` tokens, NULL for
    * NULL text (which [[minhashed]] relies on to skip it). Native fused
    * kernel — see [[graft.functions.NativeExprs]] (the equivalent HOF
    * composition is `HofTwins.wordShinglesHof`, the test-side spec). */
  def wordShingles(c: Column, n: Int = 3): Column =
    graft.functions.NativeExprs.wordShingles(c, n)

  /** All ordered pairs (a < b) from a SORTED id array, as structs
    * (id_a, id_b) — in-expression pair expansion for bucket candidate
    * generation (no self-join). */
  /** STREAM all ordered pairs (position i < j) of a sorted group array
    * as `p = (id_a, id_b)` rows. The round-8..14 form (an in-expression
    * `pairsOf` HOF that flattened nested transforms) materialized the
    * full C(d,2) pair ARRAY inside one row before the explode; at the
    * df caps a 100× rehearsal legitimately scales to (maxDf 2560 →
    * 3.3M structs ≈ 150 MB/row) that single row OOMs the executor
    * before anything can spill — so it was deleted, not kept around to
    * reach for. Chained generators (posexplode, then explode of the
    * remaining suffix) emit the identical pair stream with O(d) peak
    * per-row state — generator output is pipelined, never buffered.
    * Any other column in `df` is dropped; select the array first. */
  private[ops] def explodedPairs(df: DataFrame, arr: Column): DataFrame =
    df.select(arr.as("_ep_arr"))
      .select(col("_ep_arr"),
        posexplode(col("_ep_arr")).as(Seq("_ep_i", "_ep_a")))
      .select(col("_ep_a"),
        explode(slice(col("_ep_arr"), col("_ep_i") + lit(2),
          greatest(size(col("_ep_arr")) - col("_ep_i") - 1, lit(0))))
          .as("_ep_b"))
      .select(struct(col("_ep_a").as("id_a"), col("_ep_b").as("id_b"))
        .as("p"))

  /** Exact Jaccard similarity of two (already-distinct) array columns:
    * |a ∩ b| / |a ∪ b|, 0.0 when the union is empty or either side is
    * NULL. One native kernel, one hash set per pair — the rerank joins
    * evaluate this per candidate pair, so it is the hottest scalar in the
    * dedup family (see [[graft.functions.NativeExprs.jaccardOf]]). */
  def jaccard(a: Column, b: Column): Column =
    graft.functions.NativeExprs.jaccard(a, b)

  // ---- exact dedup -----------------------------------------------------

  /** Exact duplicate groups by full-content fingerprint: one row per
    * distinct content with the surviving (minimum) id and the group size.
    * One hash-partitioned aggregation on the fingerprint — uniform keys,
    * map-side partial aggregation, no skew. */
  def exactGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(hashing.fingerprint128(col(textCol)).as("fp128"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("group_size"))

  /** Exact dedup: keep the lowest id per distinct content. */
  def exactDedup(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val keep = exactGroups(df, textCol, idCol).select(col("keep_id").as(idCol))
    df.join(keep, idCol)
  }

  /** Normalization-aware exact duplicate groups: [[exactGroups]] keyed
    * on [[graft.ops.text.matchKey]] instead of raw bytes, so case /
    * diacritic / punctuation / whitespace variants of one document count
    * as ONE group (the canonicalization C4/CCNet/Dolma apply before
    * their exact-dedup stages — byte-exact dedup misses a re-typeset
    * re-crawl entirely). Same single-aggregation scale shape; the
    * normalization is fused row-local expression work on the scan. */
  def normalizedExactGroups(
      df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(graft.ops.text.matchKey(col(textCol)).as("match_key"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("group_size"))

  /** URL-level dedup (the C4/CCNet crawl stage that runs BEFORE any
    * content hashing — re-crawls of one page differ in tracking params,
    * host case, fragments, … but are the same document): group by the
    * canonicalized URL ([[graft.ops.text.normalizeUrl]]) and keep the
    * lowest id per page. Returns one row per distinct page:
    * `(norm_url, n_docs, n_variants, keep_id)` — `n_variants` counts the
    * distinct RAW spellings that collapsed, the measure of how much the
    * normalization actually bought.
    *
    * Scale shape: identical to [[exactGroups]] — the normalization is
    * row-local expression work on the scan, then ONE hash-partitioned
    * aggregation on the canonical string (uniform keys; even a page
    * crawled 10⁶ times is a single hot-but-cheap count/min key with
    * map-side partials). */
  def urlDedup(df: DataFrame, urlCol: String, idCol: String): DataFrame =
    df.groupBy(graft.ops.text.normalizeUrl(col(urlCol)).as("norm_url"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col(urlCol)).as("n_variants"),
        min(col(idCol)).as("keep_id"))

  /** LINE-level exact dedup (the Dolma/FineWeb paragraph-dedup stage —
    * doc-level dedup misses the boilerplate line pasted into a million
    * otherwise-distinct pages): split every document on `sep`, keep only
    * the GLOBALLY FIRST occurrence of each distinct line — first =
    * smallest `(id, position)` — and reassemble each document from its
    * surviving lines in original order. A document whose every line was
    * seen earlier comes back as the empty string (dropping it is the
    * caller's explicit filter — silent row loss is an ingestion
    * anti-pattern).
    *
    * Plan shape at 100 TB: TWO shuffles total — the global-first winner
    * is a min window over the line-fingerprint partition (uniform
    * 128-bit keys, computed on the exploded rows' own exchange — the
    * [[jaccardPairs]] df-gate idiom, no second join shuffle; a
    * boilerplate line repeated 10⁷ times is one hot but tiny-valued
    * key), then one id-keyed reassembly whose `collect_list` is bounded
    * by the document's own line count (nulls — the dropped lines — are
    * skipped by collect_list). Returns `(idCol, textCol, n_lines,
    * n_kept)`. */
  def dedupLines(
      df: DataFrame,
      textCol: String,
      idCol: String,
      sep: String = "\n"): DataFrame = {
    val lines = df.select(col(idCol),
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
        .as(Seq("pos", "line")))
    val wLine = Window.partitionBy(hashing.fingerprint128(col("line")))
    val kept = lines
      .withColumn("_w", min(struct(col(idCol).as("id"), col("pos").as("p"))).over(wLine))
      .withColumn("_keep", col(idCol) === col("_w.id") && col("pos") === col("_w.p"))
    kept.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("_keep"), 1L).otherwise(0L)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(
              when(col("_keep"), struct(col("pos"), col("line"))))),
            s => s.getField("line")),
          sep).as("_t"))
      .select(col(idCol), col("_t").as(textCol), col("n_lines"), col("n_kept"))
  }

  // ---- MinHash + LSH ---------------------------------------------------

  /** `df.where(cond).select(keep ++ fields)` where `cond` tests a column
    * that an expensive kernel computes in `df`'s own projection. A plain
    * `where` there is pushed below that projection (PushPredicateThroughNonJoin
    * substitutes the alias, and a join below takes it as its condition),
    * so the kernel runs once for the filter and once more for the
    * projection. Inside an `inline` generator, which no filter is pushed
    * through, the test reads the computed column: one evaluation per row. */
  private def whereOnce(df: DataFrame, keep: Seq[Column], cond: Column,
      fields: Column*): DataFrame =
    df.select(keep :+ inline(when(cond, array(struct(fields: _*)))): _*)

  /** Documents with their shingle sets and MinHash signatures. Rows with
    * no shingles (fewer than `n` tokens) are excluded — they have no
    * signature. Shingling and signing run as native kernels: one md5 per
    * distinct shingle, k affine minima (see
    * [[graft.functions.NativeExprs]]); each row is shingled once
    * ([[whereOnce]]). */
  def minhashed(df: DataFrame, textCol: String, idCol: String,
      k: Int, n: Int = 3): DataFrame =
    whereOnce(df.select(col(idCol), wordShingles(col(textCol), n).as("_g")),
      Seq(col(idCol)), size(col("_g")) > 0, col("_g").as("grams"),
      graft.functions.NativeExprs.minhashSig(col("_g"), k).as("sig"))

  /** Exact-Jaccard rerank of joined candidate pairs: `(a, b, jacc)` for
    * the rows of `pairs` whose `grams_a`/`grams_b` reach `threshold`, the
    * kernel evaluated once per pair ([[whereOnce]]). */
  private def jaccardRerank(pairs: DataFrame, a: String, b: String,
      threshold: Double): DataFrame =
    whereOnce(pairs.select(col(a), col(b),
        jaccard(col("grams_a"), col("grams_b")).as("_j")),
      Seq(col(a), col(b)), col("_j") >= threshold, col("_j").as("jacc"))

  /** LSH banding: explode the signature into `bands` rows of
    * `(band_idx, band_key)` where the key concatenates `r = k/bands`
    * consecutive minhashes. Two docs sharing any band key are candidates
    * with probability `1-(1-j^r)^bands` at Jaccard j. */
  def lshBands(sigCol: Column, k: Int, bands: Int): Column = {
    val r = k / bands
    require(bands * r == k, s"bands ($bands) must divide k ($k)")
    array((0 until bands).map(b =>
      struct(lit(b).as("band_idx"),
        concat_ws("_", slice(sigCol, b * r + 1, r).cast("array<string>")).as("band_key"))): _*)
  }

  /** One row per (doc, band) of a signed frame's `sig` column:
    * `(as, band_idx, band_key)`, the id renamed from `idCol` to `as` —
    * the band encoding shared by every banded candidate generator and
    * the persisted [[writeSignatureIndex]] band table. */
  private def bandRows(sigs: DataFrame, idCol: String, as: String,
      k: Int, bands: Int): DataFrame =
    sigs.select(col(idCol).as(as), explode(lshBands(col("sig"), k, bands)).as("band"))
      .select(col(as), col("band.band_idx").as("band_idx"),
        col("band.band_key").as("band_key"))

  /** Probability that MinHash-LSH with `bands` bands of `rows` rows
    * surfaces a pair of true Jaccard similarity `s` as a candidate:
    * `1 - (1 - s^rows)^bands` (MMDS §3.4.2 — the S-curve). Driver-side
    * pure math, used to size banding before a run instead of guessing. */
  def lshCollisionProb(s: Double, bands: Int, rows: Int): Double = {
    require(s >= 0.0 && s <= 1.0 && bands >= 1 && rows >= 1,
      s"need s in [0,1], bands >= 1, rows >= 1; got s=$s bands=$bands rows=$rows")
    1.0 - math.pow(1.0 - math.pow(s, rows.toDouble), bands.toDouble)
  }

  /** Pick `(bands, rows)` for a signature of length `k` so the S-curve's
    * 50%-collision point `(1/bands)^(1/rows)` lands closest to the target
    * Jaccard `threshold` (MMDS §3.4.3): enumerate the divisor pairs
    * `bands·rows = k` and take the argmin — k has O(log k) divisors, so
    * this is trivially driver-side. More bands → catches lower
    * similarity (more candidates to rerank); more rows → stricter.
    * Feed the result straight into [[minhashNearDupPairs]]. */
  def lshTune(k: Int, threshold: Double): (Int, Int) = {
    require(k >= 1 && threshold > 0.0 && threshold < 1.0,
      s"need k >= 1, threshold in (0,1); got k=$k threshold=$threshold")
    (1 to k).filter(k % _ == 0).map { b =>
      val r = k / b
      (b, r, math.abs(math.pow(1.0 / b, 1.0 / r) - threshold))
    }.minBy(_._3) match { case (b, r, _) => (b, r) }
  }

  /** Near-duplicate pairs via MinHash-LSH candidate generation + exact
    * Jaccard rerank. Returns (id_a, id_b, jacc) with id_a < id_b and
    * jacc >= threshold.
    *
    * Plan shape at scale: shingle+sign (scan-parallel, no shuffle) →
    * explode bands (×bands rows, thin: id + key) → self-join on band key
    * (shuffle keyed on uniform hash keys) → distinct candidate pairs →
    * re-join the two shingle sets (two lean shuffles on id) → exact
    * Jaccard only on candidates. Recall at Jaccard j is
    * `1-(1-j^r)^bands` — with defaults (k=16, bands=8, r=2): 0.90 at
    * j=0.5, 0.9997 at j=0.8. */
  def minhashNearDupPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      threshold: Double,
      k: Int = 16,
      bands: Int = 8,
      n: Int = 3,
      pairFilter: Option[Column] = None): DataFrame = {
    val mh = minhashed(df, textCol, idCol, k, n)
    val banded = bandRows(mh, idCol, idCol, k, bands)
    // Candidate pairs via group-by-bucket + in-expression pair expansion,
    // NOT a self-join: a self-join would evaluate the whole shingle+hash
    // pipeline once per side, and costs two shuffles. Here the signature
    // pipeline runs once, one shuffle groups ids per bucket, and pairs
    // unfold as a codegen expression. Bucket membership lists are bounded
    // because band keys are minhash-uniform; a pathological exact-dup
    // cluster is the one skew case (cap it upstream with exactDedup).
    val cands = explodedPairs(banded
      .groupBy(col("band_idx"), col("band_key"))
      .agg(sort_array(collect_list(col(idCol))).as("ids"))
      .where(size(col("ids")) > 1), col("ids"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      // caller-supplied candidate gate (e.g. planted-pair alignment in
      // [[minhashPlantedRecall]]) applies BEFORE distinct + the grams
      // rerank joins — filtering an (id,id) pair costs nothing here and
      // a set-intersection per pair after
      .where(pairFilter.getOrElse(lit(true)))
      .distinct()
    // The rerank side shingles each document once more (the band side's
    // shingles are gone once the signature is banded), with no emptiness
    // filter: only documents with a signature can be candidates. `ga` and
    // `gb` are one subtree, so exchange reuse evaluates it once — two
    // word_shingles evaluations per document in all (DedupSpec pins it).
    val grams = df.select(col(idCol), wordShingles(col(textCol), n).as("grams"))
    val ga = grams.select(col(idCol).as("id_a"), col("grams").as("grams_a"))
    val gb = grams.select(col(idCol).as("id_b"), col("grams").as("grams_b"))
    jaccardRerank(cands.join(ga, "id_a").join(gb, "id_b"), "id_a", "id_b", threshold)
  }

  /** Cross-document repeated token SPANS — the span-level (not whole-doc)
    * dedup primitive: find every maximal run of token positions whose
    * `n`-gram appears in at least `minDf` distinct documents, the shape
    * of boilerplate/license/template text that whole-doc near-dup never
    * catches (Lee et al., "Deduplicating Training Data Makes Language
    * Models Better", ACL'22 — realized here as an n-gram document-
    * frequency pass instead of a corpus suffix array, which has no
    * bounded-shuffle distributed form).
    *
    * Plan: one positional n-gram explode (row-local), ONE gram-keyed
    * shuffle under two stacked windows (dense_rank over docs, then its
    * partition max = per-gram distinct-doc frequency — both share the
    * exchange, so grams are built once), a df filter, and a
    * gaps-and-islands window PER DOCUMENT (`island = i − row_number`)
    * that merges adjacent hot positions into `(span_start, span_end,
    * n_grams)` rows. Every shuffle is keyed on grams or doc ids; output
    * is bounded by occurrences of repeated grams — at 100 TB the gram
    * shuffle is the big stage and it's exactly a word-count. Returns
    * one row per maximal span; token positions are 1-based, `span_end`
    * inclusive. */
  def repeatedSpans(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 5,
      minDf: Int = 3): DataFrame = {
    require(n >= 1 && minDf >= 2, s"need n >= 1, minDf >= 2; got n=$n minDf=$minDf")
    import org.apache.spark.sql.expressions.Window
    val t = df.select(col(idCol), graft.ops.text.tokens(col(textCol)).as("toks"))
      .where(size(col("toks")) >= n)
    val grams = t.select(col(idCol), posexplode(transform(
        sequence(lit(1), size(col("toks")) - (n - 1)),
        i => concat_ws(" ", slice(col("toks"), i, lit(n))))).as(Seq("p", "g")))
      .select(col(idCol), (col("p") + 1).as("i"), col("g"))
    // Per-gram document frequency WITHOUT a second pass over the gram
    // pipeline: dense_rank over docs within each gram partition, maxed
    // over the same partition = count of distinct docs. Both windows
    // share one exchange, so the (expensive, interpreted-HOF) gram
    // construction runs ONCE — the distinct+aggregate+semi-join form
    // re-evaluates it per branch and was measured 3× slower.
    val wg = Window.partitionBy(col("g"))
    val hotPositions = grams
      .withColumn("_dr", dense_rank().over(wg.orderBy(col(idCol))))
      .withColumn("_df", max(col("_dr")).over(wg))
      .where(col("_df") >= minDf)
      .select(col(idCol), col("i"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("i"))
    hotPositions
      .withColumn("island", col("i") - row_number().over(w))
      .groupBy(col(idCol), col("island"))
      .agg(min(col("i")).as("span_start"),
        (max(col("i")) + lit(n - 1)).as("span_end"),
        count(lit(1)).as("n_grams"))
      .drop("island")
  }

  /** Rewrite each document with its [[repeatedSpans]] excised: tokens
    * whose 1-based position falls inside any repeated span are dropped,
    * survivors re-joined with single spaces (output is TOKEN text —
    * original whitespace is not preserved, same as every tokenized
    * transform here). Docs with no repeated spans pass through
    * re-tokenized; too-short docs (< n tokens) are never spanned.
    *
    * Scale shape: the span list rides a (doc → array of spans) join —
    * spans are rare, so the join side is small and broadcastable — and
    * the rebuild is a per-row `transform` + `exists` over the token
    * array: NO token-level explode, so the corpus never shuffles one row
    * per token (the positional-join formulation the oracle uses would;
    * fine for DuckDB, wrong at 100 TB). */
  def removeRepeatedSpans(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 5,
      minDf: Int = 3): DataFrame = {
    val spans = repeatedSpans(df, textCol, idCol, n, minDf)
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("_spans"))
    df.join(spans, Seq(idCol), "left")
      .withColumn("_sp", coalesce(col("_spans"),
        array().cast("array<struct<span_start:int,span_end:int>>")))
      .withColumn("clean_text",
        concat_ws(" ", filter(
          transform(graft.ops.text.tokens(col(textCol)),
            (t, i) => when(exists(col("_sp"),
                s => (i + 1) >= s.getField("span_start") &&
                  (i + 1) <= s.getField("span_end")), lit(null)).otherwise(t)),
          t => t.isNotNull)))
      .drop("_spans", "_sp")
  }

  /** CROSS-DOCUMENT exact-substring duplicate extents (the suffix-array
    * dedup modality of Lee et al. 2022, "Deduplicating Training Data
    * Makes Language Models Better", re-expressed as a Spark plan): every
    * maximal token run of length ≥ `minLen` that appears VERBATIM in two
    * documents, with positions in both. [[repeatedSpans]] finds n-gram
    * runs hot across the corpus (df ≥ k, no pairing); this finds the
    * PAIRWISE extents — who copied what from whom, the per-pair evidence
    * a dedup audit or a decontamination appeal needs.
    *
    * Method — diagonal-run merge instead of a suffix array: a shared
    * substring of length M ≥ minLen between docs A and B is exactly a
    * maximal run of matching minLen-gram fingerprints at constant offset
    * `d = pos_B − pos_A`. So: fingerprint every minLen-gram (md5 — the
    * [[exactDedup]] exactness convention), inverted-index self-join on
    * the fingerprint, then gaps-and-islands per `(id_a, id_b, d)`
    * diagonal ([[repeatedSpans]]' merge, keyed per pair-diagonal instead
    * of per doc). No suffix array, nothing on the driver.
    *
    * Scale shape: gram construction is one scan; the fingerprint shuffle
    * is a word-count keyed on 32-char md5s (corpus-linear, uniform by
    * construction); the occurrence cap `maxOcc` drops boilerplate grams
    * BEFORE pairing via the [[winnowPairs]] streamed-aggregate +
    * anti-join shape (both consumers reuse ONE repartition(fp)
    * exchange; the hot list is corpus-dependent in size, so AQE — not
    * a hint — decides whether it broadcasts), so no gram can emit more
    * than maxOcc²/2
    * pairs; the diagonal merge windows over (pair, d) keys — as
    * parallel as the match set. Never a cartesian product.
    *
    * Returns one row per maximal extent: `(id_a, id_b, a_start, a_end,
    * b_start, b_end, len_tokens)`, positions 1-based token indices,
    * ends inclusive, `id_a < id_b`. A run shared by k docs surfaces as
    * its pairs (k·(k−1)/2 rows, capped by maxOcc). */
  def crossSubstringPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      minLen: Int = 20,
      maxOcc: Int = 256): DataFrame = {
    require(minLen >= 2 && maxOcc >= 2,
      s"graft: crossSubstringPairs needs minLen >= 2, maxOcc >= 2; " +
        s"got $minLen, $maxOcc")
    // Gram construction is the compiled wordGrams kernel (one pass per
    // doc; the HOF transform+slice+concat_ws form re-evaluates its
    // lambda interpreted per gram — measured 1.5x slower here) + the
    // codegen'd md5; a doc with < minLen tokens yields no grams.
    val grams = df.select(col(idCol).as("_id"),
        posexplode(graft.functions.NativeExprs.wordGrams(col(textCol),
          minLen)).as(Seq("p", "g")))
      // fp is internal-only (outputs carry ids/positions), so it ships
      // as the RAW 16-byte digest, not the 32-char hex string — the
      // gram shuffle is THE big stage at corpus scale and the key is
      // most of the row (guide §2.3 "narrower types"); hex→binary is a
      // bijection, so grouping/joins/results are unchanged
      .select(col("_id"), (col("p") + 1).as("i"),
        unhex(md5(col("g"))).as("fp"))
      .repartition(col("fp"))
    val hot = grams.groupBy(col("fp"))
      .agg(count(lit(1)).as("_n"))
      .observe("graft_substring_cap",
        sum(when(col("_n") > maxOcc, 1L).otherwise(0L)).as("capped_fps"),
        max(col("_n")).as("max_fp_occ"))
      .where(col("_n") > maxOcc)
      .select(col("fp"))
    // no broadcast hint on the hot list: its size is corpus-dependent
    // (a template-heavy corpus can have arbitrarily many over-cap
    // grams), and both sides already share the repartition(fp)
    // exchange, so AQE picks broadcast only when the list measures
    // small — the safe choice at 100 TB
    val cold = grams.join(hot, Seq("fp"), "left_anti")
    val a = cold.select(col("fp"), col("_id").as("id_a"), col("i").as("_ia"))
    val b = cold.select(col("fp"), col("_id").as("id_b"), col("i").as("_ib"))
    val m = a.join(b, Seq("fp")).where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("_ia"), col("_ib"),
        (col("_ib") - col("_ia")).as("_d"))
    val w = Window.partitionBy(col("id_a"), col("id_b"), col("_d"))
      .orderBy(col("_ia"))
    m.withColumn("_island", col("_ia") - row_number().over(w))
      .groupBy(col("id_a"), col("id_b"), col("_d"), col("_island"))
      .agg(min(col("_ia")).as("a_start"),
        (max(col("_ia")) + lit(minLen - 1)).as("a_end"))
      .select(col("id_a"), col("id_b"),
        col("a_start"), col("a_end"),
        (col("a_start") + col("_d")).as("b_start"),
        (col("a_end") + col("_d")).as("b_end"),
        (col("a_end") - col("a_start") + 1).cast("long").as("len_tokens"))
  }

  /** Cross-document duplication RATE — the data-card number every
    * dedup paper reports (Lee et al. 2022 Table 1 shape: what fraction
    * of a document's tokens appear verbatim in some other document):
    * per doc, the token count covered by ANY [[crossSubstringPairs]]
    * extent on EITHER side of a pair, exactly, with overlapping extents
    * merged so no token double-counts. FULL-DOMAIN: every doc with ≥ 1
    * token gets a row — docs untouched by any pair surface as
    * `dup_tokens = 0, dup_bp = 0` (the [[graft.ops.evals]] rboAtD
    * standard: a card consumer averaging surfaced rows must not
    * overstate duplication).
    *
    * Interval merge is the classic islands form: per doc, spans sorted
    * by (start, end); a span opens a new island when its start exceeds
    * the running max end of everything before it; island extents are
    * (min start, max end), and adjacent-but-not-overlapping spans land
    * in separate islands whose token sums are still exact.
    *
    * Scale shape: everything after the pair stage is span-sized (spans
    * are rare); the merge windows per doc id, the token count joins as
    * a thin (id, n_tokens) table. Returns `(idCol, n_tokens,
    * dup_tokens, dup_bp)` — bp = exact basis-point DIV. */
  def crossDupStats(
      df: DataFrame,
      textCol: String,
      idCol: String,
      minLen: Int = 20,
      maxOcc: Int = 256): DataFrame = {
    val pairs = crossSubstringPairs(df, textCol, idCol, minLen, maxOcc)
    val spans = pairs
      .select(col("id_a").as(idCol), col("a_start").as("_s"),
        col("a_end").as("_e"))
      .unionByName(pairs.select(col("id_b").as(idCol),
        col("b_start").as("_s"), col("b_end").as("_e")))
      .distinct()
    val wOrd = Window.partitionBy(col(idCol)).orderBy(col("_s"), col("_e"))
    val wPrev = wOrd.rowsBetween(Window.unboundedPreceding, -1)
    val islands = spans
      .withColumn("_pmax", max(col("_e")).over(wPrev))
      .withColumn("_new",
        when(col("_pmax").isNull || col("_s") > col("_pmax"), 1L)
          .otherwise(0L))
      .withColumn("_isl", sum(col("_new")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(idCol), col("_isl"))
      .agg(min(col("_s")).as("_is"), max(col("_e")).as("_ie"))
      .groupBy(col(idCol))
      .agg(sum(col("_ie") - col("_is") + 1).cast("long").as("dup_tokens"))
    val toks = df.select(col(idCol),
      graft.ops.text.tokenCount(col(textCol)).cast("long").as("n_tokens"))
    // FULL-DOMAIN join (the rboAtD rule): a doc with no cross-doc
    // extent must surface as rate 0, not vanish — a data-card mean over
    // surfaced rows would otherwise overstate corpus duplication.
    // Right join against the corpus id domain; zero-token docs are
    // dropped (no denominator).
    islands.join(toks, Seq(idCol), "right")
      .where(col("n_tokens") > 0L)
      .select(col(idCol), col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"))
      .withColumn("dup_bp", expr("dup_tokens * 10000 DIV n_tokens"))
  }

  /** Rewrite each document with its cross-document duplicated
    * substrings ([[crossSubstringPairs]]) excised, keep-first: for every
    * duplicated extent the LOWEST doc id keeps its copy and every
    * higher-id doc drops the tokens of its own extent — Lee et al.
    * 2022's remove-all-but-one-copy policy with the engine's standard
    * keep-first tie rule ([[exactDedup]]). Docs untouched by any pair
    * pass through re-tokenized ([[removeRepeatedSpans]]' contract:
    * output is TOKEN text, single-spaced).
    *
    * Scale shape: the pair extents fold to a per-doc span array (spans
    * are rare → the join side is small), and the excision is the
    * in-row `transform` + `exists` rebuild — NO token-level explode;
    * the corpus never shuffles one row per token. */
  def removeCrossDupSubstrings(
      df: DataFrame,
      textCol: String,
      idCol: String,
      minLen: Int = 20,
      maxOcc: Int = 256): DataFrame = {
    val spans = crossSubstringPairs(df, textCol, idCol, minLen, maxOcc)
      .select(col("id_b").as(idCol),
        col("b_start").as("span_start"), col("b_end").as("span_end"))
      .distinct()
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("span_start"), col("span_end")))
        .as("_spans"))
    df.join(spans, Seq(idCol), "left")
      .withColumn("_sp", coalesce(col("_spans"),
        array().cast("array<struct<span_start:int,span_end:int>>")))
      .withColumn("clean_text",
        concat_ws(" ", filter(
          transform(graft.ops.text.tokens(col(textCol)),
            (t, i) => when(exists(col("_sp"),
                s => (i + 1) >= s.getField("span_start") &&
                  (i + 1) <= s.getField("span_end")), lit(null)).otherwise(t)),
          t => t.isNotNull)))
      .drop("_spans", "_sp")
  }

  /** Document BOUNDARY relations — the crawl-reassembly / template
    * screen [[crossSubstringPairs]]'s interior extents don't name: from
    * each document's first and last `w` tokens (two md5 fingerprints
    * per doc), one fp-keyed self-join surfaces three relations at once:
    *
    *  - `stitch`: doc A's TAIL equals doc B's HEAD — A and B are very
    *    likely halves of one source document split by the extraction
    *    pipeline (directional: `id_a` precedes `id_b`);
    *  - `shared_prefix`: two docs open with the same `w` tokens — a
    *    template header / injected banner;
    *  - `shared_suffix`: two docs close identically — a boilerplate
    *    footer.
    *
    * Scale shape: two fingerprints per document (never the tokens),
    * one (fp, side) count on the same repartition(fp) exchange the
    * join reuses, and the [[crossSubstringPairs]] occurrence-cap
    * discipline — any fingerprint posted more than `maxOcc` times on a
    * side is boilerplate, dropped BEFORE pairing via streamed-aggregate
    * + anti-join (counted in the `graft_boundary_cap` observe metric),
    * so no fingerprint emits more than ~maxOcc² pairs. Never a
    * cartesian; symmetric relations emit once (`id_a < id_b`).
    *
    * Returns `(id_a, id_b, relation, boundary_fp)`. */
  def boundaryPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      w: Int = 16,
      maxOcc: Int = 256): DataFrame = {
    require(w >= 2 && maxOcc >= 1,
      s"graft: boundaryPairs needs w >= 2, maxOcc >= 1; got $w, $maxOcc")
    val ends = df
      .select(col(idCol).as("_id"),
        graft.ops.text.tokens(col(textCol)).as("_ts"))
      .where(size(col("_ts")) >= w)
      .select(col("_id"),
        md5(concat_ws(" ", slice(col("_ts"), 1, w)).cast("binary"))
          .as("_hfp"),
        md5(concat_ws(" ", slice(col("_ts"), -w, w)).cast("binary"))
          .as("_tfp"))
    // side 0 = head, side 1 = tail; one exchange feeds cap + join
    val posts = ends.select(col("_id"), col("_hfp").as("fp"),
        lit(0L).as("_side"))
      .unionByName(ends.select(col("_id"), col("_tfp").as("fp"),
        lit(1L).as("_side")))
      .repartition(col("fp"))
    val hot = posts.groupBy(col("fp"), col("_side"))
      .agg(count(lit(1)).as("_n"))
      .observe("graft_boundary_cap",
        sum(when(col("_n") > maxOcc, 1L).otherwise(0L)).as("capped_fps"),
        max(col("_n")).as("max_fp_occ"))
      .where(col("_n") > maxOcc)
      .select(col("fp")).distinct()
    val cold = posts.join(hot, Seq("fp"), "left_anti")
    val a = cold.select(col("fp"), col("_id").as("id_a"),
      col("_side").as("_sa"))
    val b = cold.select(col("fp"), col("_id").as("id_b"),
      col("_side").as("_sb"))
    a.join(b, Seq("fp"))
      .where(
        (col("_sa") === 1L && col("_sb") === 0L
          && col("id_a") =!= col("id_b")) ||
        (col("_sa") === col("_sb") && col("id_a") < col("id_b")))
      .select(col("id_a"), col("id_b"),
        when(col("_sa") === 1L && col("_sb") === 0L, lit("stitch"))
          .when(col("_sa") === 0L, lit("shared_prefix"))
          .otherwise(lit("shared_suffix")).as("relation"),
        col("fp").as("boundary_fp"))
  }

  /** n-gram Jaccard pairs via inverted-index COUNTING: for every shingle
    * with document frequency in [2, maxDf], expand its (sorted) posting
    * list into pairs and count shared shingles per pair — `c = |A∩B|` —
    * then `jacc = c / (|A| + |B| − c)` from two thin per-doc gram-count
    * joins. The gram arrays themselves never ride a join (the naive
    * postings self-join + array-intersect rerank re-evaluates the whole
    * shingle pipeline per side and shuffles ~300-element string arrays
    * per candidate — measured 5× slower).
    *
    * EXACT (complete pair set, exact scores) whenever no shingle exceeds
    * `maxDf`. Shingles above the cap are excluded from both candidate
    * generation and the intersection count — the standard df-cap bound
    * that keeps the hottest shingle from emitting maxDf² pairs in one
    * task; with the cap, per-shingle expansion work is ≤ maxDf²/2. A
    * lossless size filter (jacc ≤ min(|A|,|B|)/max(|A|,|B|)) additionally
    * drops size-mismatched pairs before the pair-count shuffle. */
  def jaccardPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      threshold: Double,
      n: Int = 3,
      maxDf: Int = 256): DataFrame =
    sharedGramPairs(df, textCol, idCol, n, maxDf,
      sizeRatioFloor = Some(threshold))
      .withColumn("jacc",
        col("c").cast("double") / (col("n_a") + col("n_b") - col("c")))
      .where(col("jacc") >= threshold)
      .select(col("id_a"), col("id_b"), col("jacc"))

  /** Empirical MinHash-LSH recall meter — the MEASURED companion to
    * [[lshTune]]'s closed-form S-curve: plant one near-duplicate of
    * every (long-enough) document at each perturbation `level` — a
    * contiguous run of `level` tokens replaced at a fixed position, so
    * the true Jaccard degrades controllably — run the production pair
    * detector over originals + plants, and report per-level
    * `(n_planted, n_detected, recall_bp)` (basis points, integer DIV —
    * no doubles in the verdict). Low recall at a level the pipeline
    * cares about means re-tune `(k, bands, threshold)` BEFORE the 100 TB
    * run, on a corpus sample, not after.
    *
    * Plant ids live at `id + level·10⁷`; detection credits only the
    * exact `(original, its own plant)` pair — natural dups and
    * plant-plant pairs are excluded by the id arithmetic, so the meter
    * is not inflated by corpus redundancy. Scale shape: the corpus
    * grows ×(levels+1) through the SAME banded pair machinery the
    * production path uses (that is the point — the meter exercises the
    * real detector), everything else is one small aggregation. */
  def minhashPlantedRecall(
      df: DataFrame,
      textCol: String,
      idCol: String,
      levels: Seq[Int] = Seq(1, 2, 4, 8),
      threshold: Double = 0.5,
      k: Int = 16,
      bands: Int = 8,
      n: Int = 3): DataFrame = {
    require(levels.nonEmpty && levels.forall(l => l >= 1 && l < 1000) &&
      levels.distinct.size == levels.size,
      s"levels must be distinct and in [1, 1000); got $levels")
    val Stride = 10000000L
    val base = df
      .select(col(idCol).cast("long").as("_id"),
        graft.ops.text.tokens(col(textCol)).as("_toks"))
      .where(size(col("_toks")) >= lit(5 + levels.max) && col("_id") < Stride)
    // All plant levels in ONE pass over base: explode the levels literal
    // and derive each level's substitution run and slice bounds from the
    // exploded value — same rows as the previous per-level union (the
    // substitution tokens are concat("xsub", i, "x") with i rendered
    // identically to the old string literals), but the corpus scan +
    // tokenize runs once instead of once per level. The per-level-branch
    // form re-scanned and re-tokenized `documents` once per union leg,
    // and the detector's three consumers of the corpus (banding, both
    // rerank gram sides) multiplied that again — 32 parquet scans in the
    // before-plan (plans/r16/dedup_minhash_recall_before.txt).
    val planted = base
      .select(col("_id"), col("_toks"),
        explode(array(levels.map(l => lit(l)): _*)).as("_lvl"))
      .select((col("_id") + col("_lvl").cast("long") * lit(Stride)).as("_id"),
        concat(slice(col("_toks"), lit(1), lit(4)),
          transform(sequence(lit(1), col("_lvl")),
            i => concat(lit("xsub"), i.cast("string"), lit("x"))),
          slice(col("_toks"), col("_lvl") + lit(5),
            size(col("_toks")) - (col("_lvl") + lit(4)))).as("_toks"))
    // materialize the THIN (id, text) corpus once (the funnel-corpus
    // precedent): it feeds the detector's banding pass and both rerank
    // gram sides, each of which would otherwise re-derive the whole
    // plant pipeline from parquet
    val corpus = ckpt.cut(base.unionByName(planted)
      .select(col("_id"), array_join(col("_toks"), " ").as("_text")))
    // the planted-alignment gate rides INTO the pair generator: only
    // (base, its-own-planted-copy) candidates reach the Jaccard rerank —
    // cross-level and noise candidates (the majority on this clone-dense
    // corpus) drop as bare id pairs
    val det = minhashNearDupPairs(corpus, "_text", "_id", threshold, k, bands, n,
        pairFilter = Some(col("id_a") < Stride &&
          (col("id_b") - col("id_a")) % Stride === 0))
      .select(expr(s"(id_b - id_a) DIV ${Stride}L").as("level"))
      .groupBy(col("level")).agg(count(lit(1)).as("n_detected"))
    // REPL-safe literal level table (explicit schema, no product encoder)
    val spark = df.sparkSession
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val lv = spark.createDataFrame(
      java.util.Arrays.asList(levels.sorted.map(l => Row(l.toLong)): _*),
      StructType(Seq(StructField("level", LongType, nullable = false))))
    // plantable-doc count read off the cut corpus (base rows are exactly
    // the _id < Stride rows), not a fresh scan+tokenize of the input
    lv.crossJoin(broadcast(corpus.where(col("_id") < Stride)
      .agg(count(lit(1)).as("n_planted"))))
      .join(det, Seq("level"), "left")
      .withColumn("n_detected", coalesce(col("n_detected"), lit(0L)))
      // empty plantable corpus -> recall 0, not an ANSI divide-by-zero
      .withColumn("recall_bp", when(col("n_planted") > 0L,
        expr("(n_detected * 10000) DIV n_planted")).otherwise(lit(0L)))
  }

  /** n-gram CONTAINMENT pairs: `c / min(|A|, |B|)` — the asymmetric
    * near-dup score Jaccard structurally misses: a short document fully
    * contained in a long one (quote + commentary, excerpt + boilerplate,
    * article + syndicated wrapper) has jaccard ≈ |A|/|B| (tiny) but
    * containment 1.0. The standard second screen next to [[jaccardPairs]]
    * in corpus dedup. Same inverted-index counting and [2, maxDf] df-gate
    * — but NO size-ratio prune: size-mismatched pairs are exactly the
    * ones this score exists to keep. Work stays bounded by the df cap
    * (per-shingle expansion ≤ maxDf²/2). */
  def containmentPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      threshold: Double,
      n: Int = 3,
      maxDf: Int = 256): DataFrame =
    sharedGramPairs(df, textCol, idCol, n, maxDf, sizeRatioFloor = None)
      .withColumn("containment",
        col("c").cast("double") / least(col("n_a"), col("n_b")).cast("double"))
      .where(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("containment"))

  /** Shared-shingle pair counting (the engine under [[jaccardPairs]] and
    * [[containmentPairs]]): `(id_a, id_b, n_a, n_b, c)` for every pair
    * sharing ≥ 1 shingle with df in `[2, maxDf]`. `sizeRatioFloor`
    * applies the AllPairs/PPJoin size prune (lossless for Jaccard-style
    * thresholds, WRONG for containment — hence optional). */
  private def sharedGramPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int,
      maxDf: Int,
      sizeRatioFloor: Option[Double]): DataFrame = {
    // Each posting carries its doc's gram-set SIZE alongside the id
    // (grams are distinct per doc, so |gram set| = size of the shingle
    // array, computed in the scan — no per-doc aggregation shuffle, and
    // no count-joins after the pair count: the union size n_a + n_b − c
    // falls out of the pair row itself).
    val inv = df
      .select(col(idCol), wordShingles(col(textCol), n).as("grams"))
      .where(size(col("grams")) > 0)
      .select(struct(col(idCol).as("id"), size(col("grams")).as("n")).as("d"),
        explode(col("grams")).as("gram"))
    // df-gate BEFORE collect_list: per-gram df comes from a whole-partition
    // count window on the SAME exchange the collect aggregation uses, and
    // postings above/below the [2, maxDf] band are dropped before any list
    // is built — so no aggregation buffer ever exceeds maxDf entries.
    // Collecting first and filtering after would build one unbounded
    // in-memory array for a hot shingle (a stop-word 3-gram has df in the
    // millions at corpus scale): an executor-OOM the pair-expansion cap
    // can't prevent. A count-aggregate + semi-join gate would also bound
    // the buffer, but re-evaluates the whole shingle pipeline per join
    // side and pays a second postings shuffle; the window form is one
    // shuffle, one pass.
    val wGram = Window.partitionBy(col("gram"))
    val gated = inv
      .withColumn("df", count(lit(1)).over(wGram))
      // Cap counter (same contract as bucketCap's `graft_knn_*`): a
      // result emptied by the df band must say so — `max_df` tells the
      // caller what the band would need to be. Postings with df == 1
      // are not "dropped" (a unique gram can never witness a pair).
      .observe("graft_shared_grams",
        sum(when(col("df") > maxDf, 1L).otherwise(0L)).as("dropped_postings"),
        max(col("df")).as("max_df"))
      .where(col("df") >= 2 && col("df") <= maxDf)
      .groupBy(col("gram"))
      .agg(sort_array(collect_list(col("d"))).as("ds"))
    explodedPairs(gated, col("ds"))
      // Size filter (AllPairs/PPJoin family, Bayardo et al. WWW'07,
      // exact for Jaccard): c <= min(n_a, n_b), so jacc <= min/max — a
      // pair whose gram-set sizes differ by more than the threshold
      // ratio can never reach it. Dropping those rows HERE, before the
      // pair-count exchange, prunes the shuffle for size-skewed corpora
      // and costs one comparison on values already in the pair struct.
      .where(sizeRatioFloor match {
        case Some(t) =>
          least(col("p.id_a.n"), col("p.id_b.n")).cast("double") >=
            lit(t) * greatest(col("p.id_a.n"), col("p.id_b.n"))
        case None => lit(true)
      })
      .groupBy(col("p.id_a.id").as("id_a"), col("p.id_b.id").as("id_b"),
        col("p.id_a.n").as("n_a"), col("p.id_b.n").as("n_b"))
      .agg(count(lit(1)).as("c"))
  }

  // ---- winnowing (local fingerprints) ----------------------------------

  /** WINNOWING document fingerprints (Schleimer, Wilkerson & Aiken,
    * "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD
    * 2003 — the MOSS algorithm): hash every positional word `n`-gram,
    * slide a window of `w` consecutive gram hashes, select each window's
    * MINIMUM, and keep the distinct selected values. The local-selection
    * guarantee: any shared token run of at least `w + n − 1` tokens
    * shares at least one fingerprint — so PARTIAL copies (a paragraph
    * lifted into an otherwise different document) are caught with a
    * bounded, position-robust signature, where whole-doc MinHash dilutes
    * the shared span into noise and exact/line dedup needs byte-equal
    * boundaries.
    *
    * Row-local ([[graft.functions.NativeExprs.winnowFpOf]] — ONE
    * compiled pass: gram-hash once, slide the window minima, distinct in
    * first-occurrence order); signature size ≤ grams/w expected
    * (2/(w+1) selection density). Empty/short docs: fewer grams than
    * `w` yields the single global min; no grams yields an empty array.
    * The test-side spec twin, `HofTwins.winnowFingerprintsHof`, is no
    * hot-path substitute: its window lambda re-evaluates the md5
    * gram-hash array per element (no CSE inside HOF lambdas), an O(G²)
    * digest blowup measured at 30× the kernel's cost. */
  def winnowFingerprints(c: Column, n: Int = 4, w: Int = 4): Column = {
    require(n >= 1 && w >= 1, s"graft: winnow needs n >= 1, w >= 1; got $n, $w")
    graft.functions.NativeExprs.winnowFp(c, n, w)
  }

  /** Partial-copy candidate pairs from shared winnowing fingerprints:
    * docs sharing at least `minShared` fingerprints, with the shared
    * count as evidence mass. The inverted-index shape of
    * [[jaccardPairs]]: explode the (distinct) fingerprints, drop
    * fingerprints shared by more than `maxDf` docs (boilerplate — at
    * 100 TB an uncapped hot fingerprint is an O(df²) pair bomb; the cap
    * is reported via the same df-band discipline), self-join on the
    * fingerprint, count per pair. Returns `(id_a, id_b, n_shared)`. */
  def winnowPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 4,
      w: Int = 4,
      minShared: Int = 2,
      maxDf: Int = 256): DataFrame = {
    require(minShared >= 1 && maxDf >= 2,
      s"graft: winnowPairs needs minShared >= 1, maxDf >= 2; got $minShared, $maxDf")
    // The df cap: count per fingerprint with a STREAMED hash aggregate
    // (map-side partials absorb a hot key; constant state per fp), keep
    // only the tiny over-cap list, broadcast it, anti-join it off. The
    // round-8 window form (`count().over(partitionBy(fp))`) rode the
    // same exchange but BUFFERED each fingerprint's whole group in
    // WindowExec before filtering — a boilerplate fingerprint shared by
    // millions of docs became one skewed, spill-prone window partition
    // (md5 uniformity bounds hash buckets, not duplication-driven df).
    // This shape pins the exchange explicitly: the aggregate and the
    // anti-join probe both consume the SAME repartition(fp) subtree, so
    // ReuseExchange plans ONE corpus fingerprint scan; the hot list is
    // ≤ total_fps/maxDf rows by construction — broadcastable at any
    // corpus size.
    val fpx = df
      .select(col(idCol), explode(winnowFingerprints(col(textCol), n, w)).as("fp"))
      .repartition(col("fp"))
    val hot = fpx.groupBy(col("fp"))
      .agg(count(lit(1)).as("_df")).where(col("_df") > maxDf)
      .select(col("fp"))
    val fpo = fpx.join(broadcast(hot), Seq("fp"), "left_anti")
      .select(col("fp"), col(idCol))
    val a = fpo.select(col("fp"), col(idCol).as("id_a"))
    val b = fpo.select(col("fp"), col(idCol).as("id_b"))
    a.join(b, Seq("fp")).where(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  // ---- SimHash ---------------------------------------------------------

  /** Per-document SimHash: bit j of the signature is set when the sum of
    * `±1` votes (`+1` if bit j of the token's h32 is set, else `-1`) over
    * all token occurrences is positive. Near-identical token multisets →
    * signatures within a few bits of Hamming distance.
    *
    * Computed per row by a native fused kernel — ZERO shuffle (the
    * explode+groupBy composition, `HofTwins.simhashHof` in the tests, shuffles
    * every token row). Documents with no tokens are excluded, matching
    * the explode form where empty docs produce no rows. */
  def simhash(df: DataFrame, textCol: String, idCol: String,
      bits: Int = 16): DataFrame =
    df.where(size(text.tokens(col(textCol))) > 0)
      .select(col(idCol),
        graft.functions.NativeExprs.simhash(col(textCol), bits).as("simhash"))

  /** SimHash near-dup pairs via quarter blocking (Manku/Google, WWW'07):
    * the signature splits into 4 equal disjoint blocks and candidates
    * share at least one block exactly — pigeonhole-COMPLETE for Hamming
    * distance <= 3 — then exact Hamming rerank `<= maxHamming`.
    *
    * Scale: at the default bits=64 each block key is 16 bits wide, and
    * block keys inherit simhash's content correlation, so bucket sizes
    * track real near-dup cluster sizes rather than n/2^16 random
    * collisions (the old 32-bit/two-half form had 2^16 buckets TOTAL and
    * O(n²/2^17) random candidate pairs — catastrophic at 10^9 docs).
    * Candidate-pair growth is asserted ≪ n² in DedupSpec. */
  def simhashNearDupPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      maxHamming: Int = 3,
      bits: Int = 64): DataFrame = {
    require(bits % 4 == 0, s"simhash bits must split into 4 equal blocks, got $bits")
    val part = bits / 4
    val mask = (1L << part) - 1
    val sh = simhash(df, textCol, idCol, bits)
    val banded = sh.select(col(idCol), col("simhash"),
        explode(array((0 until 4).map(q =>
          struct(lit(q).as("q"),
            shiftrightunsigned(col("simhash"), q * part).bitwiseAND(lit(mask)).as("key"))): _*)).as("b"))
      .select(col(idCol), col("simhash"), col("b.q").as("q"), col("b.key").as("key"))
    // Candidates via self-join, NOT the group-by-bucket pair expansion
    // used in minhashNearDupPairs: block-signature buckets are SKEWED when
    // signatures correlate (similar corpora), and in-row n² expansion
    // serializes a hot bucket into one task, while a join spreads its
    // output across the shuffle. Rule of thumb: bucket expansion for
    // uniform keys (minhash bands), join for skewable keys + AQE.
    banded.as("a")
      .join(banded.as("b"),
        col("a.q") === col("b.q") && col("a.key") === col("b.key") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** Near-dup pairs on an ARBITRARY precomputed ≤63-bit signature column
    * — the [[simhashNearDupPairs]] blocking generalized so any
    * Hamming-space fingerprint (SimHash, image dHash/pHash, audio
    * chroma hash) reuses the same scale shape: 4 disjoint blocks
    * (16+16+16+15 bits), candidates share ≥ 1 block exactly
    * (pigeonhole-COMPLETE for Hamming ≤ 3), then exact
    * `bit_count(xor) <= maxHamming` rerank. Signatures must be
    * non-negative (bit 63 unused — the same signed-int64 portability
    * discipline as [[graft.ops.sketch.BloomWordBits]]).
    *
    * Same skew rationale as [[simhashNearDupPairs]]: a self-join spreads
    * hot buckets across the shuffle (+ AQE), where in-row bucket
    * expansion would serialize them. Returns `(id_a, id_b, hamming)`. */
  def sigHammingPairs(
      sigs: DataFrame,
      idCol: String,
      sigCol: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"graft: 4-block blocking is complete only for maxHamming <= 3, got $maxHamming")
    val blocks = Seq((0, 0xFFFFL), (16, 0xFFFFL), (32, 0xFFFFL), (48, 0x7FFFL))
    val banded = sigs.select(col(idCol), col(sigCol).as("_sig"),
        explode(array(blocks.zipWithIndex.map { case ((off, mask), q) =>
          struct(lit(q).as("q"),
            shiftrightunsigned(col(sigCol), off).bitwiseAND(lit(mask)).as("key"))
        }: _*)).as("b"))
      .select(col(idCol), col("_sig"), col("b.q").as("q"), col("b.key").as("key"))
    banded.as("a")
      .join(banded.as("b"),
        col("a.q") === col("b.q") && col("a.key") === col("b.key") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        bit_count(col("a._sig").bitwiseXOR(col("b._sig"))).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  // ---- fuzzy (edit-distance) matching ---------------------------------

  /** Edit-distance near-dup pairs — the reference roadmap's fuzzy
    * matching (README.md:204-215). Candidates share an EXACT
    * `prefixLen`-char text prefix (deterministic blocking, one
    * hash-shuffle on the prefix); the rerank compares the first
    * `headLen` chars with `levenshtein(...) <= maxDist`, so per-pair
    * cost is O(headLen²) regardless of document size.
    *
    * Recall contract: complete for pairs that agree on the prefix — an
    * edit INSIDE the prefix escapes the block (that regime belongs to
    * [[minhashNearDupPairs]]/[[simhashNearDupPairs]]; this is the cheap
    * exact-prefix member of the family). Prefix buckets inherit content
    * skew (boilerplate openings), and unlike minhash bands the key is NOT
    * hash-uniform — so buckets are df-gated exactly like
    * [[jaccardPairs]]'s shingles: a whole-partition count window on the
    * one prefix exchange drops buckets outside [2, maxBucket] BEFORE any
    * list is built. A prefix shared by more than `maxBucket` documents is
    * boilerplate (an n² Levenshtein block over it is wasted work against
    * content the minhash family already catches) and is excluded from
    * candidates rather than expanded — per-bucket work is therefore
    * ≤ maxBucket²/2 comparisons of `headLen` chars, and no aggregation
    * buffer exceeds maxBucket entries. One shuffle total: the window,
    * the collect, and the in-expression pair expansion share the
    * hash-partition on `pre`. */
  def fuzzyPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      maxDist: Int = 8,
      prefixLen: Int = 16,
      headLen: Int = 64,
      maxBucket: Int = 256): DataFrame = {
    val p = df.select(
      substring(col(textCol), 1, prefixLen).as("pre"),
      struct(col(idCol).as("id"),
        substring(col(textCol), 1, headLen).as("head")).as("d"))
    val wPre = Window.partitionBy(col("pre"))
    explodedPairs(p.withColumn("df", count(lit(1)).over(wPre))
      .where(col("df") >= 2 && col("df") <= maxBucket)
      .groupBy(col("pre"))
      .agg(sort_array(collect_list(col("d"))).as("ds")), col("ds"))
      .select(col("p.id_a.id").as("id_a"), col("p.id_b.id").as("id_b"),
        levenshtein(col("p.id_a.head"), col("p.id_b.head")).as("dist"))
      .where(col("dist") <= maxDist)
  }

  // ---- near-dup clustering (connected components) ----------------------

  /** One-pass driver-side finish for a SMALL canonical edge set:
    * union-find with union-by-min, so every tree root — and therefore
    * every `find` — is the component minimum, the exact contract of the
    * distributed fixpoint. Near-dup edge sets are typically 4-6 orders of
    * magnitude smaller than the corpus (pairs above a 0.5+ threshold are
    * rare by construction), so even a 100 TB run usually lands here; the
    * distributed loop above the threshold is the safety net, not the
    * common path. */
  private def unionFindFinish(edges: DataFrame): DataFrame = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.select(col("u"), col("v")).collect().foreach { row =>
      val (u, v) = (row.getLong(0), row.getLong(1))
      parent.getOrElseUpdate(u, u)
      parent.getOrElseUpdate(v, v)
      val (ru, rv) = (find(u), find(v))
      if (ru < rv) parent(rv) = ru else if (rv < ru) parent(ru) = rv
    }
    val out = parent.keysIterator.map(x => (x, find(x))).toSeq
    val spark = edges.sparkSession
    import spark.implicits._
    out.toDF("id", "rep")
  }

  /** Connected components over an undirected edge list — the terminal
    * stage of the dedup pipeline: near-dup PAIRS become CLUSTERS, each
    * member labeled with its component's minimum id so "keep one per
    * cluster" is `where(id === rep)`.
    *
    * Algorithm: alternating large-star / small-star contraction (Kiveris
    * et al., "Connected Components in MapReduce and Beyond", SoCC'14),
    * the standard O(log²) -round formulation for clusters whose pair graph
    * is a long chain (A≈B≈C≈…), where naive min-label propagation needs
    * O(chain length) rounds. Each half-round is one thin groupBy + one
    * join on (id, id) rows — no neighbor lists are ever collected into a
    * single row, so a hub node with 10⁷ neighbors is just a skewed shuffle
    * key (AQE splits it), not an OOM.
    *
    * Scale discipline (100 TB): the edge set is checkpointed every
    * round to truncate lineage (iterative plans otherwise grow
    * exponentially); convergence is detected by a (count, hash-sum)
    * checksum of the canonical edge set, collected via `observe()` ON the
    * checkpoint job itself — no separate aggregation pass over the edges
    * per round. A checksum match is only the signal: the fixpoint is then
    * confirmed by an exact `exceptAll` in both directions over the two
    * checkpointed edge sets, so convergence never rests on a hash. With
    * `spark.sparkContext.setCheckpointDir` set, rounds checkpoint
    * RELIABLY instead (executor loss costs a re-read, not the job — see
    * [[ckpt]]); without it, local mode keeps blocks in executor storage.
    *
    * Returns one row per node incident to at least one edge:
    * `(id, rep)` with `rep` = min id of the component (reps map to
    * themselves). Singleton docs never enter the pair list and are their
    * own trivial cluster — join back to the corpus for keep-list
    * semantics. */
  def connectedComponents(
      pairs: DataFrame,
      aCol: String = "id_a",
      bCol: String = "id_b",
      maxIter: Int = 50,
      driverFinishEdges: Long = 1000000L): DataFrame = {
    def canon(e: DataFrame): DataFrame = e
      .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
    // Checkpoint the edge set and read its (count, hash-sum) checksum from
    // the SAME job via observe() — the decimal(38,0) sum is exact and
    // overflow-free under ANSI mode. Under a reliable checkpoint
    // ([[ckpt]]; fault tolerance on a real cluster) the observe() fusion
    // is unavailable — Dataset.checkpoint materializes through an RDD
    // action that does not fire observed-metric listeners — so the
    // checksum runs as a follow-up aggregate over the just-checkpointed
    // (hence cached, lineage-free) edges: one extra cheap job per round,
    // bought only when durability was asked for.
    var obsId = 0
    val checksumCols = Seq(count(lit(1)).as("n"),
      coalesce(sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)")).as("hs"))
    def checkpointWithChecksum(e: DataFrame): (DataFrame, (Long, BigDecimal)) = {
      if (ckpt.reliable(e.sparkSession)) {
        val out = e.checkpoint(true)
        val row = out.agg(checksumCols.head, checksumCols.tail: _*).head()
        (out, (row.getLong(0), BigDecimal(row.getDecimal(1))))
      } else {
        obsId += 1
        val obs = org.apache.spark.sql.Observation(s"graft_cc_$obsId")
        val out = e.observe(obs, checksumCols.head, checksumCols.tail: _*)
          .localCheckpoint()
        val row = obs.get
        (out, (row("n").asInstanceOf[Long],
          BigDecimal(row("hs").asInstanceOf[java.math.BigDecimal])))
      }
    }
    var (edges, prev) = checkpointWithChecksum(
      canon(pairs.where(col(aCol).isNotNull && col(bCol).isNotNull)
        .select(col(aCol).as("u"), col(bCol).as("v"))))
    // Small edge sets (the common case even at corpus scale — see
    // [[unionFindFinish]]) skip the iterative rounds entirely: one
    // bounded collect replaces ~log²(n) shuffle rounds. Long ids only;
    // other id types take the fully distributed path.
    if (prev._1 > 0L && prev._1 <= driverFinishEdges &&
        edges.schema("u").dataType == org.apache.spark.sql.types.LongType)
      return unionFindFinish(edges)
    var iter = 0
    var converged = prev._1 == 0L
    while (!converged && iter < maxIter) {
      // large-star: every neighbor y > x links to m = min(N(x) ∪ {x}).
      val nbrs = edges.select(col("u").as("x"), col("v").as("y"))
        .union(edges.select(col("v").as("x"), col("u").as("y")))
      val minAll = nbrs.groupBy(col("x")).agg(min(col("y")).as("mn"))
        .select(col("x"), least(col("mn"), col("x")).as("m"))
      val large = canon(nbrs.join(minAll, "x").where(col("y") > col("x"))
        .select(col("m").as("u"), col("y").as("v")))
      // small-star: every neighbor y < x (and x itself) links to
      // m = min of x's smaller neighbors.
      val nbrs2 = large.select(col("u").as("x"), col("v").as("y"))
        .union(large.select(col("v").as("x"), col("u").as("y")))
      val down = nbrs2.where(col("y") < col("x"))
      val minD = down.groupBy(col("x")).agg(min(col("y")).as("m"))
      val small = canon(down.join(minD, "x")
        .select(col("m").as("u"), col("y").as("v"))
        .union(minD.select(col("m").as("u"), col("x").as("v"))))
      val (next, cur) = checkpointWithChecksum(small)
      // The checksum is a fast-path signal, not the convergence proof: on
      // a match, confirm the fixpoint with one EXACT set comparison (both
      // sides are localCheckpointed, so this reads two cached edge sets,
      // not the lineage). A (count, hash-sum) collision between different
      // edge sets is astronomically unlikely, but convergence is asserted
      // as a hard guarantee below, so it must not rest on a probability.
      converged = cur == prev &&
        next.exceptAll(edges).isEmpty && edges.exceptAll(next).isEmpty
      prev = cur
      edges = next
      iter += 1
    }
    require(converged || iter < maxIter,
      s"connectedComponents did not converge in $maxIter rounds")
    // Fixpoint is a star forest: every edge is (component-min, member).
    edges.select(col("v").as("id"), col("u").as("rep"))
      .union(edges.select(col("u").as("id"), col("u").as("rep")))
      .distinct()
  }

  /** MinHash-LSH near-dup clusters over a text corpus: [[minhashNearDupPairs]]
    * → [[connectedComponents]]. Returns `(id, rep, keep)` for every doc in a
    * non-singleton cluster; `keep` marks the surviving representative. */
  def nearDupClusters(
      df: DataFrame,
      textCol: String,
      idCol: String,
      threshold: Double,
      k: Int = 16,
      bands: Int = 8,
      n: Int = 3): DataFrame =
    connectedComponents(
      minhashNearDupPairs(df, textCol, idCol, threshold, k, bands, n))
      .select(col("id").as(idCol), col("rep"), (col("id") === col("rep")).as("keep"))

  // ---- embedding near-dup ---------------------------------------------

  /** Embedding-cosine near-duplicate pairs: candidates share an LSH
    * signature in at least one of `tables` independent hyperplane tables
    * (see [[ann.lshSignature]]), then exact cosine rerank `>= threshold`.
    * Returns (id_a, id_b, cos).
    *
    * Scale discipline (100 TB): LSH signatures do NOT distribute uniformly
    * on real embeddings — clustered data concentrates whole clusters into
    * shared buckets at any signature width, so an uncapped bucket join is
    * O(Σ bucket²) and a single hot bucket can dominate the job. Buckets
    * larger than `bucketCap` are therefore DROPPED from candidate
    * generation (their members stay reachable through their other
    * `tables − 1` buckets); the dropped-bucket count and the maximum
    * bucket size are emitted as an `observe()` metric named
    * `graft_emb_neardup` (columns `dropped_buckets`, `max_bucket`) so a
    * pipeline can alert and re-parameterize. With the cap, candidate
    * pairs are bounded by `tables · buckets · bucketCap²` — never O(n²).
    * Defaults (4 tables × 16 bits) follow nbits ≈ log2(n) with
    * multi-table OR-amplification for recall. */
  def embeddingNearDupPairs(
      df: DataFrame,
      threshold: Double,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      dim: Int = 64,
      tables: Int = 4,
      nbits: Int = 16,
      bucketCap: Int = 256): DataFrame = {
    // Banding/joining/distinct all run on THIN rows (id + bucket key only)
    // — the 64-float embeddings never ride through the pair shuffle. The
    // per-row inverse norm is paid once per row here, not three HOF folds
    // per candidate pair; rerank then joins the vectors back by id (a
    // shuffle of exactly the candidate ids, broadcastable when small).
    val sigs = df.select(
      (Seq(col(idCol), col(vecCol)) ++
        (0 until tables).map(t =>
          ann.lshSignature(col(vecCol), t, nbits, dim).as(s"sig$t"))): _*)
      .withColumn("inv", vectors.invNorm(col(vecCol)))
    val banded = sigs.select(col(idCol),
        explode(array((0 until tables).map(t =>
          struct(lit(t).as("t"), col(s"sig$t").as("key"))): _*)).as("b"))
      .select(col(idCol), col("b.t").as("t"), col("b.key").as("key"))
    // Bucket-size gate: one thin aggregation on (table, key); the observe
    // node rides the same plan, so the spill counters come for free with
    // the query's own action.
    val allowed = banded
      .groupBy(col("t"), col("key"))
      .agg(count(lit(1)).as("bucket_sz"))
      .observe("graft_emb_neardup",
        sum(when(col("bucket_sz") > bucketCap, 1L).otherwise(0L)).as("dropped_buckets"),
        max(col("bucket_sz")).as("max_bucket"))
      .where(col("bucket_sz") <= bucketCap)
      .select(col("t"), col("key"))
    val gated = banded.join(allowed, Seq("t", "key"))
    val cands = gated.as("a")
      .join(gated.as("b"),
        col("a.t") === col("b.t") && col("a.key") === col("b.key") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .distinct()
    val va = sigs.select(col(idCol).as("id_a"), col(vecCol).as("va"), col("inv").as("inv_a"))
    val vb = sigs.select(col(idCol).as("id_b"), col(vecCol).as("vb"), col("inv").as("inv_b"))
    cands.join(va, "id_a").join(vb, "id_b")
      .withColumn("cos",
        vectors.dotProduct(col("va"), col("vb")) * col("inv_a") * col("inv_b"))
      .where(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** Incremental near-dup screening — the daily-ingest shape: find which
    * documents of a NEW batch are near-duplicates of an EXISTING corpus,
    * without ever re-pairing the corpus against itself. `corpusSigs` is
    * the persisted signature table [[minhashed]] produces (`id, grams,
    * sig`): at 100 TB the corpus is signed ONCE at ingest and only the
    * signature table is ever joined again; raw corpus text is never
    * re-read, and corpus×corpus pairs are never generated.
    *
    * Plan shape: the batch (assumed ≪ corpus — a day's crawl against
    * years of data) is signed in-scan and its exploded band keys are
    * BROADCAST, so the corpus-side band scan never shuffles; candidates
    * are exactly the cross (corpus, batch) band collisions, reranked by
    * exact Jaccard. Returns `(corpus_id, new_id, jacc)` — anti-join the
    * batch on `new_id` to keep only genuinely novel documents.
    *
    * Recall matches [[minhashNearDupPairs]] (same k/bands banding):
    * `1-(1-j^r)^bands`. */
  def incrementalNearDups(
      batch: DataFrame,
      corpusSigs: DataFrame,
      textCol: String,
      idCol: String,
      threshold: Double,
      k: Int = 16,
      bands: Int = 8,
      n: Int = 3): DataFrame = {
    val bm = minhashed(batch, textCol, idCol, k, n)
    val cands = bandRows(corpusSigs, idCol, "corpus_id", k, bands)
      .join(broadcast(bandRows(bm, idCol, "new_id", k, bands)), Seq("band_idx", "band_key"))
      .select(col("corpus_id"), col("new_id"))
      .distinct()
    val ga = corpusSigs.select(col(idCol).as("corpus_id"), col("grams").as("grams_a"))
    val gb = bm.select(col(idCol).as("new_id"), col("grams").as("grams_b"))
    jaccardRerank(cands.join(ga, "corpus_id").join(broadcast(gb), "new_id"),
      "corpus_id", "new_id", threshold)
  }

  /** Semantic deduplication (SemDeDup, Abbas et al. 2023): cluster the
    * embedding space, then drop every row whose cosine similarity to a
    * LOWER-ID row in the same cluster reaches `threshold`. Unlike the
    * LSH candidate generators above, the cluster assignment is the
    * candidate structure — semantically redundant documents land in the
    * same cluster, so the quadratic pair search runs per cluster, never
    * globally. The keep rule (lowest id survives) is deterministic and
    * chain-free: x is dropped iff ∃ y < x in its cluster with
    * cos(x,y) ≥ τ, independent of what happens to y itself.
    *
    * Returns the SURVIVING rows as `(idCol, cluster_id)`.
    *
    * Scale discipline (100 TB): candidate pairs are O(Σ cluster²) — the
    * operator is only as good as its clustering, so `centroids` must grow
    * with the corpus (SemDeDup uses ~100k clusters at billions of docs;
    * [[graft.ops.ann.kmeans]] trains them, [[graft.ops.ann.seedCentroids]]
    * seeds them). As a hot-cluster guard, clusters larger than
    * `clusterCap` are excluded from pair generation (their rows all
    * survive) and counted in an `observe()` metric named
    * `graft_semantic_dedup` (`skipped_clusters`, `max_cluster`) so a
    * pipeline can alert and re-train with more centroids rather than
    * silently running an n² join. The pair self-join shuffles on
    * cluster_id once; the anti-join back is id-keyed and thin. */
  def semanticDedup(
      df: DataFrame,
      centroids: Seq[(Int, Seq[Double])],
      threshold: Double,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      clusterCap: Long = 1000000L): DataFrame = {
    val assigned = ann.ivfAssign(df, centroids, vecCol)
      .withColumn("inv", vectors.invNorm(col(vecCol)))
      .select(col(idCol), col("cluster_id"), col(vecCol), col("inv"))
    val allowed = assigned.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_sz"))
      .observe("graft_semantic_dedup",
        sum(when(col("cluster_sz") > clusterCap, 1L).otherwise(0L)).as("skipped_clusters"),
        max(col("cluster_sz")).as("max_cluster"))
      .where(col("cluster_sz") <= clusterCap)
      .select(col("cluster_id"))
    val paired = assigned.join(allowed, Seq("cluster_id"))
    val dropped = paired.as("a")
      .join(paired.as("b"),
        col("a.cluster_id") === col("b.cluster_id") &&
          col(s"a.$idCol") < col(s"b.$idCol") &&
          vectors.dotProduct(col(s"a.$vecCol"), col(s"b.$vecCol"))
            * col("a.inv") * col("b.inv") >= threshold)
      .select(col(s"b.$idCol").as(idCol))
      .distinct()
    assigned.join(dropped, Seq(idCol), "left_anti")
      .select(col(idCol), col("cluster_id"))
  }

  /** WEIGHTED (TF-IDF cosine) similarity pairs via the inverted index —
    * the similarity measure the set-based family ([[jaccardPairs]],
    * [[containmentPairs]]) cannot express: terms contribute by
    * informativeness (`tf · (ln((N+1)/(df+1)) + 1)`), so two docs
    * sharing rare vocabulary score high even when their token SETS
    * overlap modestly. Returns `(id_a, id_b, cos)` with `cos ≥
    * threshold`, id_a < id_b.
    *
    * Determinism discipline (the reason this isn't a naive double
    * pipeline): distributed float sums are merge-order-dependent, so
    * every cross-row sum here is an EXACT integer — weights quantize to
    * `wScale` units per (doc, term) row (row-local doubles are fine),
    * norms are `Σ wq²` longs, normalized weights re-quantize to 1e-6,
    * and the pair numerator is a long sum of their products. Same
    * fixed-point discipline as [[graft.ops.rel.corrExact]]. Overflow
    * headroom is the caller's like corrExact: `(tfMax·idfMax·wScale)²·
    * termsPerDoc < 2⁶³` — the default wScale=1000 holds to ~5k distinct
    * terms/doc at tf ≤ 500.
    *
    * Scale shape = [[jaccardPairs]]'s engine: one postings shuffle with
    * the df band `[minDf, maxDf]` enforced by a window BEFORE any list
    * builds (hot stop-terms never buffer), in-expression pair expansion,
    * observe() counter on dropped postings. The reported cosine counts
    * only banded terms in the NUMERATOR while norms keep every term —
    * a LOWER bound on true cosine, and a tight one: the dropped
    * high-df terms are exactly the low-idf mass. Σdf² pair cost is
    * quadratic in term duplication, the documented [[jaccardPairs]]
    * caveat. */
  def tfidfCosinePairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      threshold: Double,
      minDf: Int = 2,
      maxDf: Int = 256,
      wScale: Double = 1000.0,
      n: Int = 3): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"graft: tfidfCosinePairs threshold must be in (0,1], got $threshold")
    require(minDf >= 2 && maxDf >= minDf,
      s"graft: need 2 <= minDf <= maxDf, got $minDf, $maxDf")
    require(n >= 1, s"graft: term n-gram width must be >= 1, got $n")
    val nDocs = df.count().toDouble
    // terms are word n-grams WITH multiplicity (tf is real), default
    // n=3: unigram tf-idf needs a natural-language vocabulary, and on a
    // small-vocab corpus every unigram's df blows past any useful band
    // — the same reason the whole set-similarity family shingles first.
    // Native kernel ([[graft.functions.NativeExprs.wordGrams]]): the
    // compositional transform/slice/concat_ws form evaluates interpreted
    // per gram and dominated this op's wall time (NativeExprsSpec pins
    // bit-identity against it)
    val terms = graft.functions.NativeExprs.wordGrams(col(textCol), n)
    val tf = df
      .select(col(idCol).as("id"), explode(terms).as("term"))
      .groupBy(col("id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    // df and the norm are WINDOW aggregates over the one tf table, not
    // join-backs: the aggregate-then-self-join form evaluates the whole
    // explode+count subtree once per branch (Catalyst's exchange reuse
    // does not survive the branches' differing column pruning), which
    // tripled this op's scan cost. Linear pipeline instead: one explode,
    // then term-keyed and id-keyed exchanges, each stage computed once.
    // A term's window buffer holds its df postings — the banding that
    // caps pair expansion caps that same buffer's useful size, and
    // WindowExec spills past it.
    import org.apache.spark.sql.expressions.Window
    val wq = tf
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("term"))))
      .withColumn("wq", floor(
        col("tf") * (log(lit(nDocs + 1.0) / (col("df") + 1.0)) + 1.0) * wScale + 0.5)
        .cast("long"))
    val postings = wq
      .withColumn("_nsq",
        sum(col("wq") * col("wq")).over(Window.partitionBy(col("id")))) // exact long
      .withColumn("nwq",
        floor(col("wq") / sqrt(col("_nsq").cast("double")) * 1000000.0 + 0.5)
          .cast("long"))
      .select(col("term"), col("df"), struct(col("id"), col("nwq")).as("d"))
      .observe("graft_tfidf_pairs",
        sum(when(col("df") > maxDf, 1L).otherwise(0L)).as("dropped_postings"),
        max(col("df")).as("max_df"))
      .where(col("df") >= minDf && col("df") <= maxDf)
    explodedPairs(postings
      .groupBy(col("term"))
      .agg(sort_array(collect_list(col("d"))).as("ds")), col("ds"))
      .groupBy(col("p.id_a.id").as("id_a"), col("p.id_b.id").as("id_b"))
      .agg(sum(col("p.id_a.nwq") * col("p.id_b.nwq")).as("_num")) // exact long
      .withColumn("cos", vectors.quantize(
        col("_num").cast("double") / 1.0e12, 4))
      .where(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  // ---- persisted signature index -------------------------------------

  /** Persist the corpus's MinHash near-dup state as an on-disk INDEX so
    * every future ingest screens against signatures, never against
    * corpus text: `sigs/` holds one row per doc (`id`, shingle set,
    * signature) and `bands/` holds the exploded LSH band keys, laid out
    * as parquet partition directories on `bucket = h32(band_key) mod
    * buckets`. The bucket layout is the scale lever: a screening batch
    * only touches the bucket directories its own band keys hash into,
    * so the corpus-side read is PARTITION-PRUNED (asserted in
    * DedupSpec) — a small batch against a 100 TB corpus index reads a
    * few directories, not the band table. Band keys are minhash-uniform
    * by construction, so buckets are balanced without salting.
    *
    * Like [[graft.index.VecIndex]] segments the layout is additive:
    * re-running with a new corpus slice under mode "append" extends
    * both tables without rewriting existing files. */
  def writeSignatureIndex(
      df: DataFrame,
      textCol: String,
      idCol: String,
      path: String,
      k: Int = 16,
      bands: Int = 8,
      n: Int = 3,
      buckets: Int = 64,
      mode: String = "overwrite"): Unit = {
    require(buckets >= 1, s"graft: buckets must be positive, got $buckets")
    val mh = minhashed(df, textCol, idCol, k, n)
    mh.select(col(idCol).as("id"), col("grams"), col("sig"))
      .write.mode(mode).parquet(s"$path/sigs")
    bandRows(mh, idCol, "id", k, bands)
      .withColumn("bucket", pmod(hashing.h32(col("band_key")), lit(buckets.toLong)))
      .write.mode(mode).partitionBy("bucket").parquet(s"$path/bands")
  }

  /** Screen an ingest batch against a [[writeSignatureIndex]] layout:
    * returns `(corpus_id, new_id, jacc)` for every batch doc whose
    * exact Jaccard against an indexed doc reaches `threshold` —
    * [[incrementalNearDups]] semantics (identical banding, identical
    * rerank, so identical results), but the corpus side is the
    * persisted index. `k`/`bands`/`n`/`buckets` must match the build.
    *
    * Plan shape: the batch signs in-scan; its distinct band-key buckets
    * (≤ `buckets` values, driver-bounded by construction) become a
    * LITERAL `IN` filter on the index's partition column — static
    * partition pruning, visible in the scan's PartitionFilters — and
    * the batch bands then broadcast into the pruned read. Candidates
    * rerank against `sigs/` rows fetched by id; batch grams broadcast.
    * Corpus text: never read. Corpus band table: read only where the
    * batch can possibly collide. */
  def screenAgainstIndex(
      batch: DataFrame,
      indexPath: String,
      textCol: String,
      idCol: String,
      threshold: Double,
      k: Int = 16,
      bands: Int = 8,
      n: Int = 3,
      buckets: Int = 64): DataFrame = {
    val s = batch.sparkSession
    val bm = minhashed(batch, textCol, idCol, k, n)
    val bban = bandRows(bm, idCol, "new_id", k, bands)
      .withColumn("bucket", pmod(hashing.h32(col("band_key")), lit(buckets.toLong)))
    // ≤ `buckets` distinct values by construction — a bounded driver
    // pull that buys static partition pruning on the corpus index scan.
    val hit = bban.select(col("bucket")).distinct().collect()
      .map(_.getLong(0)).toIndexedSeq
    val idx = s.read.parquet(s"$indexPath/bands")
      .where(col("bucket").isin(hit: _*))
    val cands = idx.join(broadcast(bban), Seq("bucket", "band_idx", "band_key"))
      .select(col("id").as("corpus_id"), col("new_id"))
      .distinct()
    val ga = s.read.parquet(s"$indexPath/sigs")
      .select(col("id").as("corpus_id"), col("grams").as("grams_a"))
    val gb = bm.select(col(idCol).as("new_id"), col("grams").as("grams_b"))
    jaccardRerank(cands.join(ga, Seq("corpus_id")).join(broadcast(gb), Seq("new_id")),
      "corpus_id", "new_id", threshold)
  }

  /** Per-document n-gram NOVELTY against the corpus in id order — the
    * Lee et al. 2022 ("Deduplicating Training Data Makes Language
    * Models Better") style memorization meter: what fraction of a
    * document's distinct word n-grams already occurred in an
    * EARLIER-id document? High `seen_frac` = near-copy or heavy
    * boilerplate; the corpus-level mean is the number dedup moves.
    * Documents shorter than `n` tokens have no grams and are excluded
    * (they carry no n-gram evidence either way).
    *
    * Scale shape — NO gram-keyed join-back and NO gram window (a
    * boilerplate gram is exactly the hot key the round-9 advisor
    * flagged): a doc's seen count is derivable from first-occurrence
    * ownership alone, `n_seen = n_grams − |{g : min_id(g) = id}|`. One
    * explode of per-doc DISTINCT gram hashes (thin longs), one
    * gram-keyed hash aggregate `min(id)` (map-side combine absorbs hot
    * grams), one doc-keyed count of owned firsts, one doc-keyed join of
    * two tiny per-doc aggregates. Returns `(idCol, n_grams, n_seen,
    * seen_frac)` floor-4dp. */
  def ngramNovelty(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 8): DataFrame = {
    require(n >= 1, s"graft: ngramNovelty needs n >= 1, got $n")
    // Fused kernel: distinct gram h63s in one compiled pass (one digest
    // per gram; the transform(wordGrams, h63) composition pays two
    // digests per gram interpreted). Both downstream aggregates consume
    // the SAME repartition(_g) subtree, so ReuseExchange computes the
    // gram projection ONCE — the gram-keyed exchange is the shuffle the
    // first-ownership aggregate needs anyway, and the per-doc count
    // re-shuffles only thin (id, gram) longs. Docs with no grams drop
    // at the explode (excluded by contract).
    val exploded = df
      .select(col(idCol), explode(
        graft.functions.NativeExprs.hashedGramSet(col(textCol), n)).as("_g"))
      .repartition(col("_g"))
    val firsts = exploded.groupBy(col("_g"))
      .agg(min(col(idCol)).as("_fid"))
      .groupBy(col("_fid")).agg(count(lit(1)).as("_n_first"))
    val perDoc = exploded.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"))
    perDoc.join(firsts, perDoc(idCol) === firsts("_fid"), "left")
      .select(col(idCol), col("n_grams"),
        (col("n_grams") - coalesce(col("_n_first"), lit(0L))).as("n_seen"))
      .withColumn("seen_frac", graft.functions.vectors.quantize(
        col("n_seen").cast("double") / col("n_grams").cast("double"), 4))
  }

  /** Cross-corpus n-gram novelty: for each CANDIDATE document, how much
    * of it the REFERENCE corpus has already seen — the
    * is-this-crawl-worth-ingesting meter ([[ngramNovelty]] answers the
    * within-corpus version; this one gates a new source against the
    * existing training set). Per candidate: distinct word n-grams,
    * how many exist anywhere in the reference, and the novel fraction.
    *
    * Scale shape: the reference collapses to its DISTINCT gram-hash set
    * once (one hash aggregate — at 100 TB this is the expensive pass,
    * pay it per reference version, not per candidate batch); candidates
    * probe it with one semi-join on the uniform 63-bit gram hash. Gram
    * strings never cross the wire. Returns
    * `(idCol, n_grams, n_known, novel_frac)` (floor-4dp). */
  def crossNovelty(
      candidates: DataFrame,
      reference: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 5): DataFrame = {
    require(n >= 1, s"graft: crossNovelty needs n >= 1, got $n")
    // fused kernel ([[graft.functions.NativeExprs.hashedGramSet]]: one
    // digest per gram) + the ngramNovelty exchange-reuse shape: both
    // candidate consumers read the SAME repartition(_g) subtree, and
    // the gram-keyed exchange is what the semi-join needs anyway
    val cexp = candidates
      .select(col(idCol), explode(
        graft.functions.NativeExprs.hashedGramSet(col(textCol), n)).as("_g"))
      .repartition(col("_g"))
    val perDoc = cexp.groupBy(col(idCol)).agg(count(lit(1)).as("n_grams"))
    val refSet = reference.select(explode(
        graft.functions.NativeExprs.hashedGramSet(col(textCol), n)).as("_g"))
      .distinct()
    val known = cexp
      .join(refSet, Seq("_g"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_known"))
    perDoc.join(known, Seq(idCol), "left")
      .select(col(idCol), col("n_grams"),
        coalesce(col("n_known"), lit(0L)).as("n_known"))
      .withColumn("novel_frac", graft.functions.vectors.quantize(
        (col("n_grams") - col("n_known")).cast("double")
          / col("n_grams").cast("double"), 4))
  }

  /** Persist the reference side of [[crossNovelty]]: the corpus's
    * distinct 63-bit gram-hash set as parquet. At 100 TB the reference
    * pass is THE cost of the novelty gate — this pays it once per
    * reference version (like [[writeSignatureIndex]] pays the signature
    * shuffle once); every incoming crawl batch then probes the artifact
    * via [[crossNoveltyIndexed]]. Append new grams with a plain
    * mode-append write of the same projection. */
  def writeGramSet(
      reference: DataFrame,
      textCol: String,
      path: String,
      n: Int = 5): Unit =
    reference.select(explode(
        graft.functions.NativeExprs.hashedGramSet(col(textCol), n)).as("g"))
      .distinct()
      .write.mode("overwrite").parquet(path)

  /** [[crossNovelty]] against a [[writeGramSet]] artifact: identical
    * output (the persisted set is value-identical to a live build), but
    * the reference corpus is never rescanned — candidates semi-join the
    * gram parquet on the uniform hash. */
  def crossNoveltyIndexed(
      candidates: DataFrame,
      gramSetPath: String,
      textCol: String,
      idCol: String,
      n: Int = 5): DataFrame = {
    val spark = candidates.sparkSession
    val cexp = candidates
      .select(col(idCol), explode(
        graft.functions.NativeExprs.hashedGramSet(col(textCol), n)).as("_g"))
      .repartition(col("_g"))
    val perDoc = cexp.groupBy(col(idCol)).agg(count(lit(1)).as("n_grams"))
    val known = cexp
      .join(spark.read.parquet(gramSetPath).select(col("g").as("_g")),
        Seq("_g"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_known"))
    perDoc.join(known, Seq(idCol), "left")
      .select(col(idCol), col("n_grams"),
        coalesce(col("n_known"), lit(0L)).as("n_known"))
      .withColumn("novel_frac", graft.functions.vectors.quantize(
        (col("n_grams") - col("n_known")).cast("double")
          / col("n_grams").cast("double"), 4))
  }

  /** Corpus-wide most-duplicated n-grams — the boilerplate/memorization
    * audit table (which exact spans dominate the corpus; the spans a
    * [[repeatedSpans]]/blocklist pass should target): per distinct word
    * n-gram, the number of documents containing it (`df`) and total
    * occurrences, top `k` by df with deterministic tie-break (occurrence
    * count desc, then gram text asc). One gram explode → one hash
    * aggregate (map-side combine collapses hot grams per partition) →
    * TakeOrderedAndProject; only the final k rows reach the driver.
    * Gram STRINGS survive the shuffle here by design — this is a
    * reporting surface and the aggregate collapses before the wire
    * (same contract as the vocab table). */
  def topNgrams(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 5,
      k: Int = 20): DataFrame = {
    require(n >= 1 && k >= 1, s"graft: topNgrams needs n, k >= 1; got $n, $k")
    df.select(col(idCol),
        explode(graft.functions.NativeExprs.wordGrams(col(textCol), n)).as("gram"))
      .groupBy(col("gram"))
      .agg(countDistinct(col(idCol)).as("doc_freq"),
        count(lit(1)).as("occurrences"))
      .orderBy(col("doc_freq").desc, col("occurrences").desc, col("gram"))
      .limit(k)
  }
}
