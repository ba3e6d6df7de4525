package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{hashing, vectors}

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, token counting, quality scoring, language identification,
  * and document fingerprinting.
  *
  * The reference engine has no scalar text functions (SURVEY.md §2.8) —
  * these are north-star extensions. Everything here is a pure Catalyst
  * `Column` expression (built-in functions + higher-order functions, zero
  * UDFs), so the whole pipeline stays inside whole-stage codegen and
  * scales linearly with partitions: at 100 TB each executor evaluates the
  * same fused expression over its parquet split; there is no shuffle in
  * any per-document computation.
  */
object text {

  /** Lowercased whitespace tokens, empties dropped. */
  def tokens(c: Column): Column =
    filter(split(lower(c), "\\s+"), t => t =!= "")

  /** Whitespace token count. Kernel-backed (one fused pass); the
    * compositional twin is simply `size(tokens(c))`, pinned equal in
    * NativeExprsSpec. */
  def tokenCount(c: Column): Column =
    profileStats(c).getField("n_tokens").cast("int")

  /** BPE-ish subword segmentation via regex: runs of letters, runs of
    * digits, or a single non-alphanumeric symbol — the classic GPT-2-style
    * pre-tokenizer shape, minus the vocabulary merge step (which needs a
    * trained vocab, out of scope for an engine primitive). */
  val BpeTokenPattern = "[a-z]+|[0-9]+|[^a-z0-9\\s]"

  def bpeTokens(c: Column): Column =
    regexp_extract_all(lower(c), lit(BpeTokenPattern), lit(0))

  def bpeTokenCount(c: Column): Column = size(bpeTokens(c))

  /** Mean token length in characters (0.0 for empty docs). One fused
    * kernel pass; `HofTwins.meanTokenLenHof` is the test-side spec twin. */
  def meanTokenLen(c: Column): Column = {
    val s = profileStats(c)
    when(s.getField("n_tokens") > 0,
      s.getField("sum_tok_len").cast("double") / s.getField("n_tokens"))
      .otherwise(lit(0.0))
  }

  /** Fraction of characters that are punctuation/symbols (not
    * alphanumeric, not whitespace). */
  def punctuationRatio(c: Column): Column =
    when(length(c) > 0,
      length(regexp_replace(lower(c), "[a-z0-9\\s]", "")).cast("double") / length(c))
      .otherwise(lit(0.0))

  /** Small cross-domain stopword list used by quality scoring and the
    * language-ID heuristic. */
  val EnStop = Seq("the", "a", "of", "and", "is", "in", "to")
  val DeStop = Seq("der", "die", "das", "und", "ist", "ein", "zu")
  val EsStop = Seq("el", "la", "de", "y", "es", "un", "en")
  val FrStop = Seq("le", "la", "de", "et", "est", "un", "dans")

  private[graft] def hitCount(ts: Column, words: Seq[String]): Column =
    size(filter(ts, t => t.isin(words: _*)))

  /** The four language profiles, in the kernel's hits-array order. */
  private val Profiles = Seq(EnStop, DeStop, EsStop, FrStop)

  /** One fused tokenize pass → struct(n_tokens, sum_tok_len, hits[4]) —
    * shared by every stopword/length signal so a quality+langid
    * projection splits each document once, not ~8 times (interpreted HOF
    * filters don't participate in codegen OR common-subexpression
    * elimination). */
  private def profileStats(c: Column): Column =
    graft.functions.NativeExprs.textProfile(c, Profiles)

  /** The fused one-pass profile struct `(n_tokens, sum_tok_len, hits)`
    * behind every stopword/length signal, exposed so a pipeline that
    * needs several signals can compute it ONCE — typically as a
    * [[graft.functions.NativeExprs.fence]]d column — and feed
    * [[qualityScoreOf]] / `getField("n_tokens")` from the same struct
    * instead of paying one kernel pass per referencing expression. */
  def profile(c: Column): Column = profileStats(c)

  /** Fraction of tokens that are (English) stopwords — a standard prose
    * signal: natural text has 0.2–0.5, keyword spam ~0. One fused kernel
    * pass; `HofTwins.stopwordRatioHof` is the test-side spec twin. */
  def stopwordRatio(c: Column): Column = {
    val s = profileStats(c)
    when(s.getField("n_tokens") > 0,
      element_at(s.getField("hits"), 1).cast("double") / s.getField("n_tokens"))
      .otherwise(lit(0.0))
  }

  /** Composite document quality score in [0,1]:
    * 0.4·min(tokens/50, 1)  — enough content
    * + 0.3·(1 − min(4·punctRatio, 1)) — not symbol soup
    * + 0.3·min(4·stopwordRatio, 1)   — reads like prose.
    * Weights are a heuristic, not a trained model; the value is that it is
    * a single fused codegen expression usable as a pushed-down filter at
    * scan time (`WHERE quality > t` prunes before any downstream work). */
  def qualityScore(c: Column): Column = qualityScoreOf(profileStats(c), c)

  /** [[qualityScore]] from a precomputed [[profile]] struct `s` over raw
    * text `c` — same expression, but callers holding a fenced profile
    * column pay ONE kernel pass for quality + token counts + langid
    * combined instead of one per reference. */
  def qualityScoreOf(s: Column, c: Column): Column = {
    val n = s.getField("n_tokens")
    val content = least(n.cast("double") / 50.0, lit(1.0))
    val clean = lit(1.0) - least(punctuationRatio(c) * 4.0, lit(1.0))
    val prose = least(
      when(n > 0, element_at(s.getField("hits"), 1).cast("double") / n)
        .otherwise(lit(0.0)) * 4.0, lit(1.0))
    content * 0.4 + clean * 0.3 + prose * 0.3
  }

  /** Language-ID heuristic: count stopword hits per language profile and
    * take the argmax; below `minHits` evidence → "und" (undetermined).
    * Ties break in fixed order en > de > es > fr. A real system would use
    * char-n-gram profiles over many languages; the engine primitive is the
    * same shape — a fused expression, no shuffle, no UDF. */
  def langId(c: Column, minHits: Int = 1): Column = {
    val hits = profileStats(c).getField("hits")
    val en = element_at(hits, 1)
    val de = element_at(hits, 2)
    val es = element_at(hits, 3)
    val fr = element_at(hits, 4)
    val top = greatest(en, de, es, fr)
    when(top < minHits, lit("und"))
      .when(en === top, lit("en"))
      .when(de === top, lit("de"))
      .when(es === top, lit("es"))
      .otherwise(lit("fr"))
  }

  // ---- char-n-gram language ID (Cavnar & Trenkle 1994) ----------------

  /** Per-language weighted n-gram scores over [[langprofiles.Default]]
    * — `array<long>` in [[langprofiles.Langs]] order, one fused kernel
    * pass (normalize → slide code-point 4-grams → weighted profile
    * hits). Exposed so a data card can keep the full score vector next
    * to the argmax label. */
  def langNgramScores(c: Column): Column =
    graft.functions.NativeExprs.langNgramScores(c, langprofiles.Default)

  /** Char-n-gram language ID over 16 languages — the production
    * replacement for the 4-language stopword [[langId]] heuristic:
    * score = Σ over the document's 4-grams of that language's rank
    * weight ([[langprofiles]]); argmax, ties broken in profile order;
    * total evidence below `minScore` → "und". One row-local fused pass,
    * usable as a pushed-down projection at scan time — 100 TB of text
    * never shuffles to get labeled. */
  def langIdNgram(c: Column, minScore: Long = 1L): Column =
    langIdNgramOf(langNgramScores(c), minScore)

  /** [[langIdNgram]]'s argmax over an ALREADY-COMPUTED score vector
    * (typically a [[graft.functions.NativeExprs.fence]]d
    * [[langNgramScores]] column shared with other signals). */
  def langIdNgramOf(scores: Column, minScore: Long = 1L): Column = {
    val top = array_max(scores)
    val langs = langprofiles.Langs
    langs.zipWithIndex.foldLeft(when(top < minScore, lit("und"))) {
      case (acc, (lang, i)) =>
        acc.when(element_at(scores, i + 1) === top, lit(lang))
    }.otherwise(lit(langs.last))
  }

  /** Per-document language consistency under the TRIGRAM labeler — the
    * [[langConsistency]] shape (chunk, label, majority share) with
    * [[langIdNgram]] labeling each rejoined chunk, so the code-switch
    * detector covers the full 16-language surface. Same plan shape: in-row
    * chunking, one (doc, lang) count aggregate, one thin doc-keyed rank
    * window — the text itself never shuffles more than once. */
  def langConsistencyNgram(
      df: DataFrame,
      textCol: String,
      idCol: String,
      window: Int = 64,
      stride: Int = 64,
      minScore: Long = 1L): DataFrame = {
    val perChunk = df
      .select(col(idCol), tokens(col(textCol)).as("_toks"))
      .select(col(idCol), explode(tokenChunksOf(col("_toks"), window, stride)).as("c"))
      .select(col(idCol),
        langIdNgram(concat_ws(" ", col("c.chunk")), minScore).as("lang"))
    majorityShare(perChunk, idCol)
  }

  /** Shared majority-vote tail of [[langConsistency]] /
    * [[langConsistencyNgram]]: per-doc counts, rank window, majority
    * share quantized floor-4dp. */
  private def majorityShare(perChunk: DataFrame, idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counted = perChunk.groupBy(col(idCol), col("lang"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col(idCol))
    counted
      .withColumn("rk", row_number().over(w.orderBy(col("c").desc, col("lang"))))
      .withColumn("n_chunks", sum(col("c")).over(w))
      .withColumn("n_langs", count(lit(1)).over(w))
      .where(col("rk") === 1)
      .select(col(idCol), col("n_chunks"), col("n_langs"),
        col("lang").as("major_lang"),
        (floor(col("c") * 10000.0 / col("n_chunks") + 0.5) / 10000.0)
          .as("consistency"))
  }

  /** Character n-gram shingles of a string (empty array when the text is
    * shorter than n). */
  def charShingles(c: Column, n: Int): Column =
    when(length(c) >= n,
      transform(sequence(lit(1), length(c) - (n - 1)), i => c.substr(i, lit(n))))
      .otherwise(array().cast("array<string>"))

  /** Rolling-hash document fingerprint: the minimum portable 32-bit hash
    * over all character 8-gram shingles (winnowing with one global window
    * — robust to small edits anywhere in the document, unlike `md5(text)`
    * which flips on a single byte). NULL for texts shorter than 8 chars.
    * One fused kernel pass; `HofTwins.minShingleFingerprintHof` is the
    * composed test-side spec twin (bit-identity in NativeExprsSpec). */
  def minShingleFingerprint(c: Column, n: Int = 8): Column =
    graft.functions.NativeExprs.minShingleFp(c, n)

  /** Exact 128-bit content fingerprint (hex md5). */
  def contentFingerprint(c: Column): Column = hashing.fingerprint128(c)

  // ---- repetition / quality filters (Gopher, Rae et al. 2021; C4) -----
  // Per-document signals for filtering machine-generated or boilerplate
  // text out of a training corpus. All are fused per-row expressions —
  // zero shuffle; the n-gram counting runs as ONE native kernel pass per
  // row (hashmap count, O(tokens)), with the HOF composition in the test
  // object `HofTwins` as the spec (NativeExprsSpec asserts bit-identity).

  /** Non-empty trimmed lines of a document. */
  def lines(c: Column): Column =
    filter(transform(split(c, "\n"), l => trim(l)), l => l =!= "")

  /** Fraction of lines that are duplicates of another line (0 when no
    * lines): `1 − distinct/total`, the Gopher duplicate-line signal. */
  def dupLineFraction(c: Column): Column = {
    val ls = lines(c)
    when(size(ls) > 0,
      (size(ls) - size(array_distinct(ls))).cast("double") / size(ls))
      .otherwise(lit(0.0))
  }

  /** Fraction of line characters that sit in lines occurring more than
    * once (duplicate-line CHARACTER fraction — catches a short unique
    * header over a wall of repeated boilerplate).
    *
    * Computed by sorted adjacency: a line is a duplicate iff it equals a
    * neighbor in the SORTED line array, so one `array_sort` plus two
    * shifted `zip_with` passes count duplicate-run characters — all array
    * references sit in top-level HOF argument position, never inside a
    * lambda body (an in-lambda reference to a computed array re-evaluates
    * it per element; the earlier `aggregate(distinct, … filter(ls, …))`
    * form re-split the document O(lines²) times). */
  def dupLineCharFraction(c: Column): Column = {
    val ls = lines(c)
    val total = aggregate(ls, lit(0), (acc, l) => acc + length(l))
    val srt = array_sort(ls)
    // (len, eqNext) per sorted position; last position's next is null →
    // `===` yields null → treated as no-match downstream.
    val flags = zip_with(
      srt,
      concat(slice(srt, lit(2), greatest(size(srt) - 1, lit(0))),
        array(lit(null).cast("string"))),
      (a, nx) => struct(length(a).as("len"), (a === nx).as("eqNext")))
    // shift eqNext down one to get eqPrev; dup iff either side matches
    val prev = concat(
      array(struct(lit(0).as("len"), lit(false).as("eqNext"))),
      slice(flags, lit(1), greatest(size(flags) - 1, lit(0))))
    val dup = aggregate(
      zip_with(flags, prev, (f, pf) =>
        when(f("eqNext") || pf("eqNext"), f("len")).otherwise(lit(0))),
      lit(0), (acc, x) => acc + x)
    when(total > 0, dup.cast("double") / total).otherwise(lit(0.0))
  }

  /** All word n-grams of a document IN ORDER (non-distinct, unlike
    * [[dedup.wordShingles]] — repetition metrics need multiplicity). */
  def ngramList(c: Column, n: Int): Column = {
    val ts = tokens(c)
    when(size(ts) >= n,
      transform(sequence(lit(1), size(ts) - (n - 1)),
        i => concat_ws(" ", slice(ts, i, lit(n)))))
      .otherwise(array().cast("array<string>"))
  }

  /** struct(top_mass, dup_mass) of the word n-gram multiset:
    * `top_mass` = max over distinct n-grams of count·charLen (the char
    * mass of the most repeated n-gram), `dup_mass` = Σ count·charLen over
    * n-grams occurring more than once. Native single-pass kernel. */
  def repetitionMasses(c: Column, n: Int): Column =
    graft.functions.NativeExprs.repetitionMasses(c, n)

  /** Fraction of document characters covered by the single most frequent
    * word n-gram (count × n-gram char length / doc char length) — the
    * Gopher "top n-gram" signal; high values mean one phrase dominates. */
  def topNgramCharFraction(c: Column, n: Int = 2): Column =
    when(length(c) > 0,
      repetitionMasses(c, n).getField("top_mass").cast("double") / length(c))
      .otherwise(lit(0.0))

  /** Fraction of document characters inside word n-grams that occur more
    * than once — the Gopher "duplicate n-gram" signal. Can exceed 1 when
    * overlapping duplicated n-grams re-count shared characters (Gopher
    * clamps by construction; we keep the raw ratio and threshold it). */
  def dupNgramCharFraction(c: Column, n: Int = 3): Column =
    when(length(c) > 0,
      repetitionMasses(c, n).getField("dup_mass").cast("double") / length(c))
      .otherwise(lit(0.0))

  /** Gopher-style repetition keep-predicate: true when every repetition
    * signal is under its threshold. All signals are exact integer-ratio
    * doubles, so the comparisons are engine-portable bit-for-bit. */
  def repetitionFilter(
      c: Column,
      maxDupLineFrac: Double = 0.3,
      maxTopNgramFrac: Double = 0.2,
      maxDupNgramFrac: Double = 0.6): Column =
    dupLineFraction(c) <= maxDupLineFrac &&
      topNgramCharFraction(c, 2) <= maxTopNgramFrac &&
      dupNgramCharFraction(c, 3) <= maxDupNgramFrac

  // ---- cleaning -------------------------------------------------------
  // Scrub patterns use RE2-compatible syntax (no backrefs/lookaround) so
  // the same pattern strings run in Spark (java.util.regex) and engines
  // like DuckDB (RE2) with identical match semantics.

  /** URLs (http/https/www, through following non-space). */
  val UrlPattern = "(https?://[^\\s]+|www\\.[^\\s]+)"

  /** Email addresses (pragmatic form). */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** Replace URLs and emails with a placeholder token, then collapse
    * whitespace runs and trim — the standard pre-training scrub. One
    * fused codegen expression; scan-parallel, no shuffle. Docs that
    * cannot contain a URL or email (no `@`/`http`/`www.`) skip those two
    * passes behind one cheap scan — the [[redactPii]] guard discipline;
    * the whitespace collapse always runs. */
  def cleanText(c: Column, placeholder: String = "<x>"): Column =
    trim(regexp_replace(
      when(c.rlike("@|http|www\\."),
        regexp_replace(
          regexp_replace(c, UrlPattern, placeholder),
          EmailPattern, placeholder))
        .otherwise(c),
      "\\s+", " "))

  /** Blocklist OCCURRENCE count — the C4-style wordlist content gate
    * (Raffel et al. 2020 §2.2 drop any page containing a listed word;
    * also the "lorem ipsum" / placeholder-boilerplate screen): count how
    * many token positions start a listed term or phrase. Terms are
    * normalized (lowercase, single-space-joined) and matched on WORD
    * BOUNDARIES against [[tokens]] — `"ass"` does not hit "class", which
    * is exactly why substring `contains` is the wrong tool for this
    * gate. Phrases supported (any mixed lengths); occurrences counted
    * with overlaps, so thresholding on density (`hits / n_tokens`) works.
    *
    * Scale shape: ONE compiled row-local pass
    * ([[graft.functions.NativeExprs.termSetHitsOf]]) with an O(1) hash
    * probe per positional n-gram — a 2,000-term list as an
    * `array_contains` literal would walk all 2,000 entries per gram.
    * Zero shuffle; streaming-legal (stateless). */
  def blocklistHits(c: Column, terms: Seq[String]): Column = {
    require(terms.nonEmpty && terms.forall(_.trim.nonEmpty),
      "graft: blocklistHits needs non-empty terms")
    graft.functions.NativeExprs.termSetHits(c, terms)
  }

  /** Keep only documents with ZERO blocklist hits — the gate form.
    *
    * NULL contract (explicit): a NULL text has no tokens, hence no
    * hits — it passes the gate. [[blocklistHits]]'s kernel is
    * null-propagating (NULL in → NULL hits), so the gate coalesces to 0
    * here; without it `NULL === 0` is NULL and the doc is silently
    * dropped, diverging from the LEFT JOIN + `coalesce(n_hits, 0)`
    * shape every SQL twin of this gate takes. */
  def blocklistClean(df: org.apache.spark.sql.DataFrame, textCol: String,
      terms: Seq[String]): org.apache.spark.sql.DataFrame =
    df.where(coalesce(blocklistHits(col(textCol), terms), lit(0L)) === 0L)

  /** C4-STYLE line cleanup — a deliberate LINE-level adaptation of
    * Raffel et al. 2020 §2.2, not a verbatim reimplementation: keep
    * only lines that end in terminal punctuation (`.`/`!`/`?`/`"`),
    * have at least `minWords` words, and contain neither "lorem ipsum"
    * nor "javascript" (case-blind) nor a curly brace; surviving lines
    * are reassembled in order with the same separator. In the paper,
    * only the "javascript" signal is line-level — "lorem ipsum" and
    * `{` discard the whole PAGE; this operator applies all three
    * per-line (salvaging the rest of a page one bad line would have
    * killed), and [[c4PageClean]] is the faithful page-level companion
    * for pipelines that want the cited behavior exactly. A document
    * whose every line fails comes back as the empty string — dropping
    * it is the caller's explicit filter, same no-silent-row-loss
    * contract as [[graft.ops.dedup.dedupLines]].
    *
    * One fused row-local HOF expression (split → filter → concat_ws):
    * zero shuffle, streaming-legal, scan-parallel at any scale. */
  def c4LineClean(c: Column, minWords: Int = 5, sep: String = "\n"): Column = {
    require(minWords >= 1, s"graft: c4LineClean needs minWords >= 1, got $minWords")
    val kept = filter(split(c, java.util.regex.Pattern.quote(sep)), l => {
      val t = trim(l)
      t.rlike("[.!?\"]$") &&
        size(filter(split(t, "\\s+"), w => w =!= "")) >= minWords &&
        !lower(t).contains("lorem ipsum") &&
        !lower(t).contains("javascript") &&
        !t.contains("{")
    })
    concat_ws(sep, kept)
  }

  /** C4's PAGE-level discards (Raffel et al. 2020 §2.2, faithful): true
    * when the whole document must go — it contains "lorem ipsum"
    * (case-blind) or a curly brace (the code signal) anywhere, in any
    * line. The paper drops the page for these two signals and only
    * treats "javascript" per-line; use this gate together with
    * [[c4LineClean]] (page gate first, then line cleanup on survivors)
    * to reproduce the cited pipeline exactly.
    *
    * Null contract: NULL text has no signals — not discarded (same
    * rule as [[blocklistClean]]). One row-local predicate, zero
    * shuffle, streaming-legal. */
  def c4PageDiscard(c: Column): Column =
    coalesce(lower(c).contains("lorem ipsum") || c.contains("{"), lit(false))

  /** Line-SHAPE signals (the FineWeb/RefinedWeb heuristics a quality
    * gate thresholds on): over the non-empty trimmed lines of a
    * document — `n_lines`, the fraction starting with a bullet marker
    * (`-`, `*`, `•`), the fraction ending in an ellipsis (`...`/`…`),
    * and the fraction ending in terminal punctuation. Fractions
    * 4-dp-quantized ([[graft.functions.vectors.quantize]] discipline);
    * a document with no non-empty lines reports all zeros. Row-local,
    * zero shuffle. */
  def lineStats(c: Column, sep: String = "\n"): Column = {
    val lines = filter(
      transform(split(c, java.util.regex.Pattern.quote(sep)), l => trim(l)),
      t => t =!= "")
    val n = size(lines)
    def frac(cnt: Column): Column =
      when(n > 0, vectors.quantize(cnt.cast("double") / n.cast("double"), 4))
        .otherwise(lit(0.0))
    struct(
      n.cast("long").as("n_lines"),
      frac(size(filter(lines, t => t.rlike("^[-*•]")))).as("frac_bullet"),
      frac(size(filter(lines, t => t.rlike("(\\.\\.\\.|…)$")))).as("frac_ellipsis"),
      frac(size(filter(lines, t => t.rlike("[.!?\"]$")))).as("frac_terminal"))
  }

  /** Phone numbers: international/US-ish shapes, 7+ digits with
    * separators (kept conservative — aggressive phone regexes eat dates
    * and ids). */
  val PhonePattern = "\\+?[0-9]{1,3}[-. (]{1,2}[0-9]{2,4}[-. )]{1,2}[0-9]{2,4}[-. ]?[0-9]{2,6}"

  /** IPv4 addresses (dotted quad). */
  val Ipv4Pattern = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** Long digit runs (13-19 digits, optionally space/dash-grouped) — the
    * card/account-number shape. */
  val LongDigitPattern = "\\b[0-9](?:[-. ]?[0-9]){12,18}\\b"

  /** PII scrub for training corpora: replace emails, URLs, phone numbers,
    * IPv4 addresses, and card-shaped digit runs with typed placeholder
    * tokens (typed, so downstream models see WHAT was removed). Same
    * fused-codegen scan shape as [[cleanText]] — zero shuffle; order
    * matters (URLs before IPv4 so a host address inside a URL is consumed
    * by the URL rule; long digit runs before phones so a 16-digit card
    * grouped in fours isn't half-eaten as a phone).
    *
    * A doc that can't contain ANY of the five shapes (no digit, no `@`,
    * no `http`/`www.`) skips the whole chain behind one cheap
    * character-class scan — PII-free text pays 1 regex pass instead
    * of 5, PII-bearing text pays the guard (~a few % of one pass) on
    * top. The guard tests the ORIGINAL column only, which stays valid
    * mid-chain because no placeholder token re-introduces a guard
    * character; `when` references `c` (an attribute, free to repeat) so
    * no subtree is duplicated across branches. */
  def redactPii(c: Column): Column =
    when(c.rlike("[0-9@]|http|www\\."),
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(c, EmailPattern, "<email>"),
              UrlPattern, "<url>"),
            Ipv4Pattern, "<ip>"),
          LongDigitPattern, "<number>"),
        PhonePattern, "<phone>"))
      .otherwise(c)

  /** 1:1 accent-fold table (Latin diacritics → ASCII), applied AFTER
    * lowercasing so only lowercase forms are listed. Kept strictly
    * same-length (translate is per-character — multi-char folds like
    * `ß→ss`/`œ→oe` are out of scope) and shared verbatim with SQL
    * oracles: `translate` has Postgres semantics in every engine. */
  val AccentFrom = "àáâãäåāăçćčďèéêëēėęěìíîïīįñńňòóôõöøōšśùúûüūůýÿžźż"
  val AccentTo = "aaaaaaaacccdeeeeeeeeiiiiiinnnooooooossuuuuuuyyzzz"

  /** Fold Latin diacritics to ASCII (expects lowercased input). */
  def foldAccents(c: Column): Column = translate(c, AccentFrom, AccentTo)

  /** Canonical MATCH KEY for normalization-aware exact dedup (the
    * C4/CCNet/Dolma pre-dedup canonicalization): lowercase, fold
    * accents, strip everything but `[a-z0-9]` and whitespace, collapse
    * whitespace runs, trim. Two documents differing only in case,
    * diacritics, punctuation, or spacing key identically — feed this to
    * [[graft.ops.dedup.exactGroups]]-style aggregation instead of the
    * raw text. Pure fused expression, row-local, zero shuffle.
    *
    * Non-Latin guard: the Latin projection of a CJK/Cyrillic/Greek
    * document is (nearly) empty — keying on it would merge unrelated
    * non-Latin documents (all of them onto "" for pure-CJK text; two
    * different Chinese articles onto "2024" if that digit fragment is
    * all the strip leaves). Whenever the Latin projection holds LESS
    * THAN HALF the collapsed text's characters, the key falls back to
    * the whitespace-collapsed lowercased raw text: still case and
    * spacing insensitive, and fail-SAFE — the fallback can only miss a
    * punctuation-variant dedup, never merge distinct documents. */
  def matchKey(c: Column): Column = {
    val latin = trim(regexp_replace(
      regexp_replace(foldAccents(lower(c)), "[^a-z0-9\\s]", ""),
      "\\s+", " "))
    val fb = trim(regexp_replace(lower(c), "\\s+", " "))
    when(length(latin) * 2 >= length(fb), latin).otherwise(fb)
  }

  /** Per-document PII shape counts — the data-card companion to
    * [[redactPii]]: how MUCH of each shape a corpus carries (and where
    * it concentrates), measured BEFORE scrubbing decides policy. Counts
    * are per-pattern independent (a card number inside a URL counts for
    * both — this is a measurement, not the consuming rewrite chain
    * [[redactPii]] applies). One fused row-local pass, no shuffle; the
    * patterns are the same RE2-compatible constants the scrubbers use,
    * so an external engine reproduces the counts exactly. */
  def piiStats(c: Column): Column = struct(
    regexp_count(c, lit(EmailPattern)).as("n_emails"),
    regexp_count(c, lit(UrlPattern)).as("n_urls"),
    regexp_count(c, lit(Ipv4Pattern)).as("n_ips"),
    regexp_count(c, lit(LongDigitPattern)).as("n_card_like"),
    regexp_count(c, lit(PhonePattern)).as("n_phones"))

  // ---- URL canonicalization ------------------------------------------

  /** Query parameters stripped by [[normalizeUrl]]: per-click analytics
    * attribution keys (UTM tags, ad-click ids, referrer tags) that vary
    * across fetches of the SAME page — the C4/CCNet-style reason two raw
    * crawl URLs should count as one document. Anchored key-match over one
    * `key=value` pair; RE2-compatible (no backrefs) so the identical
    * string runs in Spark and DuckDB. */
  val TrackingParamPattern: String =
    "^(utm_[a-z0-9]+|fbclid|gclid|msclkid|mc_eid|ref|referrer|igshid)="

  /** Canonicalize an absolute http(s) URL the way crawl-dedup pipelines
    * (C4, CCNet) do before URL-level dedup, so cosmetic variants of one
    * page key to one string:
    *
    *   - drop the fragment (`#…` never reaches the server),
    *   - lowercase the scheme and host (case-insensitive per RFC 3986),
    *     strip a leading `www.` and the scheme's OWN default port only
    *     (`:80` on http, `:443` on https — `http://h:443` is a genuinely
    *     different endpoint than `http://h` and stays distinct),
    *   - strip trailing `/` runs from the path (path CASE is preserved —
    *     paths are case-sensitive),
    *   - drop tracking query params ([[TrackingParamPattern]]), keeping
    *     the remaining params in their original order (reordering would
    *     conflate genuinely different server-side semantics).
    *
    * Pure `Column` expression — regexp surgery plus one small per-row
    * array filter; row-local, zero shuffle, scan-parallel at 100 TB.
    * Input must be an absolute URL with a scheme (crawl records always
    * carry one); scheme-less strings degenerate to `://` + path and
    * should be filtered upstream. */
  def normalizeUrl(c: Column): Column = {
    val u = regexp_replace(trim(c), "#.*", "")
    val schemeHost = regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?]*", 0)
    val scheme = lower(regexp_extract(u, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val hostRaw = regexp_replace(
      lower(regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?]*)", 1)),
      "^www\\.", "")
    val host = when(scheme === "http", regexp_replace(hostRaw, ":80$", ""))
      .when(scheme === "https", regexp_replace(hostRaw, ":443$", ""))
      .otherwise(hostRaw)
    val tail = u.substr(length(schemeHost) + 1, length(u))
    val path = regexp_replace(regexp_extract(tail, "^([^?]*)", 1), "/+$", "")
    val qs = array_join(
      filter(split(regexp_extract(tail, "\\?(.*)", 1), "&"),
        p => p =!= "" && !p.rlike(TrackingParamPattern)),
      "&")
    concat(scheme, lit("://"), host, path,
      when(qs =!= "", concat(lit("?"), qs)).otherwise(lit("")))
  }

  /** Overlapping token-window chunks: starts at 0, `stride`, 2·`stride`, …
    * with the last start the first one where start + `window` ≥ n (so the
    * tail is covered exactly once); every doc with ≥1 token yields ≥1
    * chunk, empty docs yield none. Returns `(chunk_idx, chunk)` structs to
    * explode — chunking is row-local expression work (no shuffle), and a
    * doc's chunks stay on its executor, which is what a 100 TB
    * text→context-window pipeline needs: the expansion factor (~n/stride)
    * is paid in scan-side CPU, never in exchange bytes.
    *
    * Guard: the `sequence` generator is only built for n > 0 —
    * `sequence(0, -1)` would yield [0, -1] (descending step), the
    * empty-payload trap fixed for `sampleFrames` in round 2. */
  def tokenChunks(c: Column, window: Int, stride: Int): Column =
    tokenChunksOf(tokens(c), window, stride)

  /** [[tokenChunks]] over an ALREADY-TOKENIZED array column. Hot paths
    * must bind the token array to a named column and pass it here: the
    * chunking lambda references the array per CHUNK, and a lambda
    * re-evaluates computed argument expressions per element — handing it
    * `tokens(text)` directly re-tokenizes the document O(n/stride) times
    * (the `bigramsOf` lesson, caught at 2.5× on the bench). An attribute
    * reference is free. */
  def tokenChunksOf(toks: Column, window: Int, stride: Int): Column = {
    require(window >= 1 && stride >= 1 && stride <= window,
      s"need 1 <= stride <= window, got window=$window stride=$stride")
    val n = size(toks)
    val nChunks = when(n <= window, lit(1))
      .otherwise(floor((n - window + lit(stride - 1)).cast("double") / stride).cast("int") + 1)
    when(n > 0,
      transform(sequence(lit(0), nChunks - 1), i =>
        struct(i.cast("long").as("chunk_idx"),
          slice(toks, i * stride + 1, lit(window)).as("chunk"))))
      .otherwise(array().cast("array<struct<chunk_idx:bigint,chunk:array<string>>>"))
  }

  /** Per-document top-`k` keyword extraction by smoothed TF-IDF:
    * `score = tf · ln((N+1)/(df+1))`. Plan shape: one token explode, a
    * (doc, word) count, a word-keyed doc-frequency aggregate joined back
    * on the word (word keys are near-uniform → clean shuffles), then a
    * per-doc rank window — partitioned BY DOCUMENT, so the window is as
    * parallel as the corpus and Spark plans it as a WindowGroupLimit
    * (top-k per group without sorting whole partitions). Ranking uses the
    * ROUNDED score so an independent engine ranks identically at ulp
    * boundaries. N (total docs) is a build-time scalar — one count, the
    * same pattern as BM25's corpus stats. */
  def tfidfTopTerms(df: org.apache.spark.sql.DataFrame, textCol: String,
      idCol: String, k: Int): org.apache.spark.sql.DataFrame = {
    val n = df.count().toDouble
    val toks = df.select(col(idCol), explode(tokens(col(textCol))).as("word"))
    val tf = toks.groupBy(col(idCol), col("word"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val dfs = tf.groupBy(col("word")).agg(count(lit(1)).cast("double").as("df"))
    val scored = tf.join(dfs, "word").withColumn("score",
      floor(col("tf") * log(lit(n + 1.0) / (col("df") + 1.0)) * 1000000.0 + 0.5)
        / 1000000.0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("score").desc, col("word"))
    scored.withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select(col(idCol), col("word").as("term"), col("score"), col("rk"))
  }

  /** Corpus vocabulary: one row per token with total occurrences `tf` and
    * document frequency `df`. The shuffle key is the token itself —
    * map-side partial aggregation collapses each partition's counts before
    * the exchange, so shuffle volume is the per-partition vocabulary (Heaps'
    * law: ~sqrt of tokens scanned), not the corpus. Top-N selection is a
    * TakeOrderedAndProject, never a global sort. */
  def vocabulary(df: org.apache.spark.sql.DataFrame, textCol: String,
      idCol: String, topN: Int): org.apache.spark.sql.DataFrame =
    df.select(col(idCol), explode(tokens(col(textCol))).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("tf"), count_distinct(col(idCol)).as("df"))
      .orderBy(col("tf").desc, col("word"))
      .limit(topN)

  /** Heaps'-law vocabulary growth curve: the corpus, ordered by
    * `idCol`, is cut into `buckets` equal id-range slices, and each
    * slice reports its token volume plus how many NEW word types it
    * introduces (types whose FIRST occurrence falls in that slice) —
    * the diminishing-returns read for "does more data still buy new
    * language", and the empirical Heaps exponent when plotted
    * log-log. Exact: first occurrence is `min(bucket)` per type, an
    * order-free aggregate; no sampling anywhere.
    *
    * Plan shape: one explode + ONE (type, bucket)-keyed aggregate
    * (map-side combined — the shuffle carries distinct type-bucket
    * pairs, not tokens), eagerly cut via [[ckpt]] so BOTH readers
    * (bucket totals, first-occurrence counts) reread the
    * ≤types·buckets grid instead of re-tokenizing the corpus once
    * each; then cumulative sums over the ≤`buckets`-row grid via a
    * documented bounded global window. Id slices with no tokens emit
    * no row (their cumulative values are readable from the next
    * present bucket).
    *
    * Returns `(bucket, toks, new_types, toks_cum, vocab_cum)` ordered
    * by bucket. */
  def vocabGrowth(
      df: org.apache.spark.sql.DataFrame,
      textCol: String,
      idCol: String,
      buckets: Int = 20): org.apache.spark.sql.DataFrame = {
    require(buckets >= 1 && buckets <= 100000,
      s"graft: vocabGrowth needs 1 <= buckets <= 100000, got $buckets")
    import org.apache.spark.sql.expressions.Window
    val toks = df
      .select(col(idCol).cast("long").as("_id"), tokens(col(textCol)).as("_ts"))
      .where(col("_id").isNotNull)
    val bounds = toks.agg(min(col("_id")).as("_lo"), max(col("_id")).as("_hi"))
    val tok = toks.crossJoin(broadcast(bounds))
      .select(expr(s"((_id - _lo) * ${buckets}L) DIV (_hi - _lo + 1)")
        .as("bucket"), explode(col("_ts")).as("_t"))
    val grid = ckpt.cut(tok.groupBy(col("_t"), col("bucket"))
      .agg(count(lit(1)).as("_c")))
    val perBucket = grid.groupBy(col("bucket")).agg(sum(col("_c")).as("toks"))
    val firsts = grid.groupBy(col("_t")).agg(min(col("bucket")).as("_fb"))
      .groupBy(col("_fb").as("bucket")).agg(count(lit(1)).as("new_types"))
    val w = windows.boundedGlobal("buckets", col("bucket"))
      .orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perBucket.join(firsts, Seq("bucket"), "left")
      .select(col("bucket"), col("toks"),
        coalesce(col("new_types"), lit(0L)).as("new_types"))
      .select(col("bucket"), col("toks"), col("new_types"),
        sum(col("toks")).over(w).as("toks_cum"),
        sum(col("new_types")).over(w).as("vocab_cum"))
  }

  /** Zipf rank-frequency slope over the top-`topK` vocabulary — the
    * standard data-card companion to [[vocabGrowth]]'s Heaps curve:
    * OLS of log-frequency on log-rank, slope ≈ −1 for natural
    * language; a flatter slope flags templated or synthetic text, a
    * steeper one a degenerate head (boilerplate dominating the
    * corpus).
    *
    * Exactness: per-term `x = floor(ln(rank)·10⁴)` and
    * `y = floor(ln(tf)·10⁴)` are exact longs (ln is one libm double on
    * the same integer input both engines see — the
    * [[graft.ops.rel.mutualInfo]] ln precedent), the OLS sums fold as
    * exact integers, and the slope surfaces BOTH as the exact signed
    * `slope_num / slope_den` pair (signed division truncation is an
    * engine trap — the [[graft.streaming.EventStream.trend]]
    * convention) and as one quantized double. Int64 ceiling:
    * |x| ≤ ln(topK)·10⁴ < 10⁵ and |y| ≤ 44·10⁴ (tf < 2⁶³), so
    * `n·Σ|x·y| ≤ topK²·5·10¹⁰` stays in int64 for topK ≤ 10⁴
    * (ENFORCED).
    *
    * Plan shape: one token-keyed aggregate (map-side combined — the
    * shuffle carries the vocabulary, Heaps-sublinear in the corpus),
    * TakeOrderedAndProject to the topK grid, rank via a documented
    * bounded global window over those ≤topK rows, one grid-row fold.
    * Corpus rows never hit a window or a sort.
    *
    * Returns one row `(n_terms, slope_num, slope_den, slope_q6)`. */
  def zipfSlope(
      df: org.apache.spark.sql.DataFrame,
      textCol: String,
      topK: Int = 1000): org.apache.spark.sql.DataFrame = {
    require(topK >= 2 && topK <= 10000,
      s"graft: zipfSlope needs 2 <= topK <= 10000, got $topK")
    val head = df.select(explode(tokens(col(textCol))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("tf"))
      .orderBy(col("tf").desc, col("word")).limit(topK)
    val ranked = head
      .withColumn("_r", row_number().over(
        windows.boundedGlobal("zipf-topk", col("word"))
          .orderBy(col("tf").desc, col("word"))))
      .select(floor(log(col("_r").cast("double")) * 1e4).cast("long").as("_x"),
        floor(log(col("tf").cast("double")) * 1e4).cast("long").as("_y"))
    ranked
      .agg(count(lit(1)).as("n_terms"),
        sum(col("_x")).as("_sx"), sum(col("_y")).as("_sy"),
        sum(col("_x") * col("_y")).as("_sxy"),
        sum(col("_x") * col("_x")).as("_sxx"))
      .select(col("n_terms"),
        (col("n_terms") * col("_sxy") - col("_sx") * col("_sy"))
          .as("slope_num"),
        (col("n_terms") * col("_sxx") - col("_sx") * col("_sx"))
          .as("slope_den"))
      .withColumn("slope_q6",
        when(col("slope_den") > 0L, graft.functions.vectors.quantize(
          col("slope_num").cast("double") / col("slope_den").cast("double"),
          6)))
  }

  /** Vocabulary COVERAGE estimators — the "how much language is still
    * unseen" companion to [[vocabGrowth]]'s Heaps curve and
    * [[zipfSlope]]: from one vocabulary aggregate, the Good-Turing
    * unseen-probability mass (Gale & Sampson 1995: `P₀ = N₁/N`, the
    * total frequency a NEW corpus slice spends on never-seen types) and
    * the bias-corrected Chao1 richness estimate (Chao 1984:
    * `V̂ = V + N₁(N₁−1)/(2(N₂+1))`, a lower bound on true vocabulary
    * size) — together they answer "is this corpus's vocabulary
    * saturated, or does more data still buy new language" without a
    * second pass.
    *
    * Exactness: `n_tokens`/`n_types`/`n_hapax`/`n_dis` are exact longs;
    * the two estimates surface BOTH as exact integer num/den pairs
    * (`chao1_extra_num / chao1_extra_den` is the additive correction
    * over V) and as one quantized double each. Int64 ceiling:
    * `N₁(N₁−1)` wraps past N₁ ≈ 3·10⁹ hapax types — ENFORCED in-plan
    * ([[graft.ops.sketch.cmJoinSize]] raise_error precedent); a corpus
    * with more hapaxes than that needs the estimate per shard anyway.
    *
    * Plan shape: one token-keyed aggregate (map-side combined — the
    * shuffle carries the vocabulary, Heaps-sublinear in the corpus),
    * then one conditional-sum fold to a single row. The
    * frequency-of-frequency "grid" never materializes: only the
    * tf=1/tf=2 cells are read, as `sum(when(...))` inside the same
    * fold. Corpus rows are scanned once and never sorted.
    *
    * Returns one row `(n_tokens, n_types, n_hapax, n_dis,
    * unseen_mass_q6, chao1_extra_num, chao1_extra_den, chao1_q2)`. */
  def vocabCoverage(
      df: org.apache.spark.sql.DataFrame,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val folded = df.select(explode(tokens(col(textCol))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("tf"))
      .agg(
        sum(col("tf")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("tf") === 1L, 1L).otherwise(0L)).as("n_hapax"),
        sum(when(col("tf") === 2L, 1L).otherwise(0L)).as("n_dis"))
    folded
      .withColumn("n_hapax",
        when(col("n_hapax") > VocabCoverageMaxHapax,
          raise_error(format_string(
            "graft: vocabCoverage int64-exactness ceiling exceeded " +
              s"(n_hapax = %s > $VocabCoverageMaxHapax) — the Chao1 " +
              "correction N1*(N1-1) would wrap; estimate per shard",
            col("n_hapax"))).cast("long"))
          .otherwise(col("n_hapax")))
      .select(col("n_tokens"), col("n_types"), col("n_hapax"), col("n_dis"),
        when(col("n_tokens") > 0L, graft.functions.vectors.quantize(
          col("n_hapax").cast("double") / col("n_tokens").cast("double"), 6))
          .as("unseen_mass_q6"),
        (col("n_hapax") * (col("n_hapax") - 1L)).as("chao1_extra_num"),
        (lit(2L) * (col("n_dis") + 1L)).as("chao1_extra_den"),
        graft.functions.vectors.quantize(
          col("n_types").cast("double") +
            (col("n_hapax") * (col("n_hapax") - 1L)).cast("double") /
              (lit(2L) * (col("n_dis") + 1L)).cast("double"), 2)
          .as("chao1_q2"))
  }

  /** [[vocabCoverage]]'s hard exactness bound: `N₁(N₁−1) < 2⁶³` needs
    * `N₁ ≤ 3.03·10⁹`; enforced with headroom at 3·10⁹. */
  val VocabCoverageMaxHapax: Long = 3000000000L

  /** N-gram WATERMARK detector (Kirchenbauer et al. 2023, "A Watermark
    * for Large Language Models") — the synthetic-text screen a
    * training-data pipeline runs before LLM output contaminates the
    * corpus. A watermarking generator pseudo-randomly splits the
    * vocabulary at every step, seeded by the previous token, and boosts
    * the "green" fraction γ of it; detection needs NO model access —
    * recompute each token's green membership from `(prev, cur, key)`
    * and test whether the observed green count is binomially impossible:
    * `z = (g − γT) / sqrt(T·γ(1−γ))`, flag at `z ≥ zTau` (the paper
    * uses z ≥ 4, false-positive rate ≈ 3·10⁻⁵).
    *
    * Green membership is the engine's portable hash discipline:
    * `h32(prev ⊕ cur ⊕ key) mod 100 < gammaPct` — bit-identical in any
    * engine that has md5 ([[graft.functions.hashing]]), so the oracle
    * replays detection cell-for-cell. `n_scored`/`n_green` are exact
    * longs; the rate and z-score are each ONE quantized double off
    * exact integer inputs.
    *
    * Plan shape: row-local — tokens bound to a column once (the
    * [[tokenChunksOf]] re-evaluation lesson), green counting is one
    * in-row HOF fold over token positions (no explode, NO shuffle);
    * 100 TB of documents never leave their scan partitions. Docs with
    * fewer than 2 tokens score 0 bigrams and surface with null z.
    *
    * Returns `(idCol, n_scored, n_green, green_rate_q4, z_q4,
    * watermarked)`. */
  def watermarkDetect(
      df: DataFrame,
      textCol: String,
      idCol: String,
      key: String = "graft",
      gammaPct: Int = 25,
      zTau: Double = 4.0): DataFrame = {
    require(gammaPct >= 1 && gammaPct <= 99,
      s"graft: watermarkDetect needs 1 <= gammaPct <= 99, got $gammaPct")
    val gamma = gammaPct / 100.0
    val bound = df.select(col(idCol), tokens(col(textCol)).as("_ts"))
    val n = size(col("_ts"))
    val greens = when(n >= 2,
      aggregate(sequence(lit(2), n), lit(0L), (acc, i) =>
        acc + when(
          hashing.h32(concat(
            // tokens are whitespace-split, so a space separator cannot
            // collide ("ab"+"c" vs "a"+"bc")
            element_at(col("_ts"), (i - 1).cast("int")), lit(" "),
            element_at(col("_ts"), i.cast("int")), lit("/wm/" + key)))
            % 100L < gammaPct, 1L).otherwise(0L)))
      .otherwise(0L)
    bound
      .select(col(idCol), greatest(n - 1, lit(0)).cast("long").as("n_scored"),
        greens.as("n_green"))
      .select(col(idCol), col("n_scored"), col("n_green"),
        when(col("n_scored") > 0L, vectors.quantize(
          col("n_green").cast("double") / col("n_scored").cast("double"), 4))
          .as("green_rate_q4"),
        when(col("n_scored") > 0L, vectors.quantize(
          (col("n_green").cast("double") - col("n_scored").cast("double")
            * gamma)
            / sqrt(col("n_scored").cast("double") * gamma * (1.0 - gamma)),
          4)).as("z_q4"))
      .withColumn("watermarked",
        when(col("z_q4").isNotNull && col("z_q4") >= zTau, 1L).otherwise(0L))
  }

  /** Term DISPERSION across sources (Gries 2008's DP, the corpus-
    * linguistics standard): per term,
    * `DP = ½ Σ_s |tf_ts/tf_t − T_s/T|` — 0 when the term's occurrences
    * spread exactly like the corpus, → 1 when concentrated in one
    * source. The boilerplate-by-source audit: a high-frequency,
    * high-DP term is one source's template text, not language —
    * [[vocabulary]] ranks by frequency and can't see the difference.
    *
    * Exact: cleared of denominators per (term, source) cell —
    * `|tf_ts·T − tf_t·T_s|` in DECIMAL(38,0) (corpus-scale products
    * overflow int64 — the fleissKappa widening), sources ABSENT for a
    * term contribute `tf_t·(T − ΣT_present)` in closed form (no dense
    * term×source materialization), and
    * `dp_ppm = (Σ|…|·10⁶) DIV (2·tf_t·T)` is one truncating DECIMAL
    * division per term.
    *
    * Plan shape: one (term, source) hash aggregate (map-side combined;
    * the shuffle carries the per-source vocabulary), cut via [[ckpt]]
    * so the source-total and term folds reread GRID rows; source
    * totals and the corpus total broadcast (sources are a bounded
    * domain); top-K is a TakeOrderedAndProject on (dp desc, tf desc,
    * word). Returns `(word, tf, n_sources, dp_ppm)`. */
  def termDispersion(
      df: org.apache.spark.sql.DataFrame,
      textCol: String,
      sourceCol: String,
      minTf: Long = 10L,
      topK: Int = 50): org.apache.spark.sql.DataFrame = {
    require(minTf >= 1L && topK >= 1,
      s"graft: termDispersion needs minTf/topK >= 1, got $minTf, $topK")
    val grid = ckpt.cut(df
      .select(col(sourceCol).as("_s"), explode(tokens(col(textCol))).as("word"))
      .where(col("_s").isNotNull)
      .groupBy(col("word"), col("_s")).agg(count(lit(1)).as("_tfs")))
    val srcTot = grid.groupBy(col("_s")).agg(sum(col("_tfs")).as("_ts"))
    val tot = srcTot.agg(sum(col("_ts")).as("_t"))
    val termTot = grid.groupBy(col("word")).agg(sum(col("_tfs")).as("tf"))
    grid
      .join(broadcast(srcTot), "_s")
      .crossJoin(broadcast(tot))
      .join(termTot, "word")
      .groupBy(col("word"))
      .agg(max(col("tf")).as("tf"),
        count(lit(1)).as("n_sources"),
        max(col("_t")).as("_tt"),
        sum(col("_ts")).as("_presentTs"),
        sum(abs(expr("CAST(_tfs AS DECIMAL(38,0)) * _t")
          - expr("CAST(tf AS DECIMAL(38,0)) * _ts"))).as("_presNum"))
      .where(col("tf") >= minTf)
      // sources the term never appears in contribute |0 - tf·T_s| each;
      // their total is tf·(T − ΣT_present) — closed form, no dense grid
      .withColumn("_dpNum", col("_presNum")
        + expr("CAST(tf AS DECIMAL(38,0))") * (col("_tt") - col("_presentTs")))
      .select(col("word"), col("tf"), col("n_sources"),
        expr("""CAST((_dpNum * 1000000)
          DIV (2 * CAST(tf AS DECIMAL(38,0)) * _tt) AS LONG)""").as("dp_ppm"))
      .orderBy(col("dp_ppm").desc, col("tf").desc, col("word"))
      .limit(topK)
  }

  /** Per-document out-of-vocabulary rate against the corpus's own
    * top-`topN` vocabulary ([[vocabulary]]) — the
    * will-the-tokenizer-cope meter: a doc whose tokens are mostly
    * outside the head vocabulary is jargon, another language, or noise,
    * and will fragment into long byte-level token sequences
    * ([[fertility]] measures the cost; this predicts it from words).
    * `oov_bp` is integer basis points. Docs with zero tokens emit no
    * row (no denominator).
    *
    * Plan shape: the vocabulary is one word-count aggregate cut to
    * `topN` rows, BROADCAST back against the token stream (the corpus
    * never shuffles for membership), then one doc-keyed count.
    * Returns `(idCol, n_tokens, n_oov, oov_bp)`. */
  def oovStats(
      df: org.apache.spark.sql.DataFrame,
      textCol: String,
      idCol: String,
      topN: Int = 1000): org.apache.spark.sql.DataFrame = {
    require(topN >= 1, s"graft: oovStats needs topN >= 1, got $topN")
    val vocab = vocabulary(df, textCol, idCol, topN)
      .select(col("word"), lit(1L).as("_inv"))
    df.select(col(idCol), explode(tokens(col(textCol))).as("word"))
      .join(broadcast(vocab), Seq("word"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("_inv").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_bp", expr("n_oov * 10000 DIV n_tokens"))
  }

  /** [[langId]] over an ALREADY-TOKENIZED array (chunk windows) — same
    * argmax and tie order as the string form. */
  def langIdOfTokens(ts: Column, minHits: Int = 1): Column = {
    val en = hitCount(ts, EnStop)
    val de = hitCount(ts, DeStop)
    val es = hitCount(ts, EsStop)
    val fr = hitCount(ts, FrStop)
    val top = greatest(en, de, es, fr)
    when(top < minHits, lit("und"))
      .when(en === top, lit("en"))
      .when(de === top, lit("de"))
      .when(es === top, lit("es"))
      .otherwise(lit("fr"))
  }

  /** Per-document language CONSISTENCY: language-ID each token-window
    * chunk ([[tokenChunks]]) independently and report how much of the
    * document agrees with its majority language — the mixed-language /
    * code-switch detector a corpus filter runs before committing a doc to
    * a single-language bucket (doc-level [[langId]] happily averages a
    * half-English half-German page into one confident label).
    *
    * Plan shape at scale: chunking is in-row (zero shuffle), then one
    * (doc, lang) count aggregate and one doc-partitioned rank window over
    * ≤ 4+1 rows per doc — both shuffles are doc-keyed and thin (no text
    * moves). Majority ties break lexicographically; `consistency` is the
    * majority share of chunks, quantized floor-4dp for cross-engine
    * reproducibility.
    *
    * Returns `(idCol, n_chunks, n_langs, major_lang, consistency)`,
    * docs with at least one chunk only. */
  def langConsistency(
      df: org.apache.spark.sql.DataFrame,
      textCol: String,
      idCol: String,
      window: Int = 64,
      stride: Int = 64,
      minHits: Int = 1): org.apache.spark.sql.DataFrame = {
    val perChunk = df
      .select(col(idCol), tokens(col(textCol)).as("_toks"))
      .select(col(idCol), explode(tokenChunksOf(col("_toks"), window, stride)).as("c"))
      .select(col(idCol), langIdOfTokens(col("c.chunk"), minHits).as("lang"))
    majorityShare(perChunk, idCol)
  }

  /** Per-document mean unigram log-probability under a language model
    * trained on the corpus itself — the classic perplexity-style quality
    * score (CCNet-style filtering ranks documents by LM fit; a
    * corpus-trained unigram model is its engine-primitive form: documents
    * full of globally-rare tokens score low, formulaic documents score
    * high). No smoothing is needed — every scored token is in the corpus
    * vocabulary by construction.
    *
    * Determinism at scale: per-(doc, token) contributions
    * `tf · ln(tf_corpus / n_corpus)` are quantized to 1e-6 fixed point and
    * summed as LONGS — exact, associative, order-free (the
    * [[graft.ops.ann.labelCentroids]] discipline), so the score is
    * bit-reproducible on any engine and any partitioning.
    *
    * Plan shape: one token explode → (doc, token) count, a token-keyed
    * vocabulary aggregate derived from it (map-side combined; shuffle
    * volume is vocabulary-sized, Heaps' law), a 1-row corpus total
    * broadcast, one token-keyed join back (stopword skew → AQE skew
    * handling), one doc-keyed sum. Returns
    * `(idCol, n_tokens, logprob)` for docs with ≥ 1 token. */
  def unigramLogProb(
      df: org.apache.spark.sql.DataFrame,
      textCol: String,
      idCol: String): org.apache.spark.sql.DataFrame = {
    val tf = df.select(col(idCol), explode(tokens(col(textCol))).as("tok"))
      .groupBy(col(idCol), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val vocab = tf.groupBy(col("tok")).agg(sum(col("tf")).as("ctf"))
    val total = vocab.agg(sum(col("ctf")).as("n_corpus"))
    tf.join(vocab, "tok")
      .crossJoin(broadcast(total))
      .groupBy(col(idCol))
      .agg(
        sum(col("tf")).as("n_tokens"),
        sum(floor(col("tf") * log(col("ctf").cast("double") / col("n_corpus").cast("double"))
          * lit(1.0e6)).cast("long")).as("q"))
      .select(col(idCol), col("n_tokens"),
        // floor-form 4dp quantization, NOT round(): Spark's round goes
        // through BigDecimal HALF_UP while other engines round the raw
        // double — at an ulp-close .00005 boundary they disagree (hit at
        // sf0.1). floor(x·1e4 + 0.5)/1e4 is the same IEEE ops everywhere.
        (floor(col("q").cast("double") / lit(1.0e6) / col("n_tokens")
          * 10000.0 + 0.5) / 10000.0).as("logprob"))
  }

  /** CCNet-style language-model quality gate: keep documents whose mean
    * per-token unigram log-probability under the corpus's own LM reaches
    * `minLogProb`. Thresholding mean log-prob IS perplexity filtering —
    * `ppl = e^(-logprob)`, monotone — but the gate is applied in LOG space
    * on the 4-dp-quantized score, because `exp()` is a libm call whose
    * last-ulp rounding is not portable across engines, while the log-space
    * compare is exact. Word-salad and boilerplate-extreme docs land in the
    * tails; `keep = 1` marks the in-distribution survivors.
    *
    * Same plan shape as [[unigramLogProb]] (one explode, vocabulary-sized
    * shuffles); the verdict column is free. Returns
    * `(idCol, n_tokens, logprob, keep)`. */
  def lmQualityFilter(
      df: org.apache.spark.sql.DataFrame,
      textCol: String,
      idCol: String,
      minLogProb: Double): org.apache.spark.sql.DataFrame =
    unigramLogProb(df, textCol, idCol)
      .withColumn("keep", (col("logprob") >= lit(minLogProb)).cast("int"))

  /** Type-token ratio (lexical diversity) per document: distinct tokens
    * over total tokens — low TTR catches the repetitive/templated docs
    * n-gram repetition metrics can miss when the repeats are scattered,
    * high TTR on long docs flags word-salad. Entirely IN ROW
    * (`array_distinct` on the token array — zero shuffle, composes with
    * any scan); quantized floor-4dp. Note TTR falls with document length
    * (Heaps' law) — gate within length bands ([[graft.ops.sample
    * .quantileBins]]) rather than globally. Returns
    * `(idCol, n_tokens, n_types, ttr)` for docs with ≥ 1 token. */
  def lexicalDiversity(
      df: org.apache.spark.sql.DataFrame,
      textCol: String,
      idCol: String): org.apache.spark.sql.DataFrame = {
    val toks = tokens(col(textCol))
    df.select(col(idCol), size(toks).cast("bigint").as("n_tokens"),
        size(array_distinct(toks)).cast("bigint").as("n_types"))
      .where(col("n_tokens") > 0)
      .withColumn("ttr",
        floor(col("n_types").cast("double") / col("n_tokens").cast("double")
          * 10000.0 + 0.5) / 10000.0)
  }

  /** Shannon entropy of each document's CHARACTER distribution (bits of
    * nats, natural log) — the compression-ratio-shaped quality signal:
    * keyboard mash / repeated-char spam sits far below prose (~2.9-3.2
    * nats for English), base64/hex blobs sit above it; filter both tails.
    *
    * Computed via `Σ cnt·ln(cnt/n) = Σ cnt·ln(cnt) − n·ln(n)`, so the
    * per-(doc,char) contributions `floor(cnt·ln(cnt)·1e6)` are exact
    * longs (order-free, partition-free — the [[unigramLogProb]]
    * discipline) and the per-doc `n·ln(n)` correction is one libm call.
    * Plan shape: one char explode → (doc, char) count with map-side
    * combine (shuffle volume ≤ alphabet-size rows per doc), one
    * doc-keyed sum. Char = UTF-16 code unit via `split(text, "")` —
    * identical to codepoints on BMP text; astral-plane chars count as 2
    * (a fixed-width tolerance an entropy gate doesn't notice).
    *
    * Returns `(idCol, n_chars, entropy)` (nats, floor-quantized 4 dp)
    * for non-empty docs.
    *
    * Execution: the fused
    * [[graft.functions.NativeExprs.charEntropyStats]] kernel — sort the
    * row's code units, count runs, accumulate the exact fixed-point sum
    * IN ROW — so the op is pure scan work with ZERO shuffle (the explode
    * → (doc, char) groupBy twin it replaced shuffled one row per
    * distinct character per doc; [[charEntropyExploded]] keeps that form
    * and NativeExprsSpec pins them bit-equal). */
  def charEntropy(
      df: org.apache.spark.sql.DataFrame,
      textCol: String,
      idCol: String): org.apache.spark.sql.DataFrame = {
    val st = graft.functions.NativeExprs.charEntropyStats(col(textCol))
    val nd = col("n_chars").cast("double")
    df.select(col(idCol), st.getField("n_chars").as("n_chars"),
        st.getField("qa").as("qa"))
      .where(col("n_chars") > 0)
      .select(col(idCol), col("n_chars"),
        (floor(-(col("qa").cast("double") / lit(1.0e6) - nd * log(nd)) / nd
          * 10000.0 + 0.5) / 10000.0).as("entropy"))
  }

  /** Compositional twin of [[charEntropy]] (explode → per-(doc,char)
    * count → fixed-point sum) — the run counts of the kernel's sorted
    * array are exactly these group counts, pinned bit-equal in
    * NativeExprsSpec. */
  def charEntropyExploded(
      df: org.apache.spark.sql.DataFrame,
      textCol: String,
      idCol: String): org.apache.spark.sql.DataFrame = {
    val chars = filter(split(col(textCol), ""), c => c =!= "")
    val nd = col("n_chars").cast("double")
    df.select(col(idCol), explode(chars).as("ch"))
      .groupBy(col(idCol), col("ch"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col(idCol))
      .agg(
        sum(col("cnt")).as("n_chars"),
        sum(floor(col("cnt") * log(col("cnt").cast("double")) * lit(1.0e6))
          .cast("long")).as("qa"))
      .select(col(idCol), col("n_chars"),
        (floor(-(col("qa").cast("double") / lit(1.0e6) - nd * log(nd)) / nd
          * 10000.0 + 0.5) / 10000.0).as("entropy"))
  }

  /** Driver-side fixed-point quantization of classifier weights to 1e-6
    * units — computed ONCE on the driver and embedded as integer
    * literals, so the distributed score involves no cross-engine float
    * weight arithmetic at all. The +0.5 makes it round-to-nearest, and
    * weights recovered from their own quantized form (`l/1e6`) survive
    * round-tripping exactly. */
  def linearWeightsFixed(ws: Seq[Double]): Seq[Long] =
    ws.map(w => math.floor(w * 1.0e6 + 0.5).toLong)

  /** Apply a PRETRAINED linear text classifier over hashed bag-of-words
    * features — the fastText-shaped quality gate (FineWeb-Edu-style: a
    * small model scores every document; the corpus keeps the high
    * scorers). Feature `j = h32(token) mod F` (`F` = weights.length);
    * `score = Σ_tok w[j(tok)] + bias`, thresholded at `tau`. The gate is
    * applied to the LINEAR score, not a sigmoid — sigmoid is monotone,
    * so the keep-set is identical and no libm `exp` enters the
    * oracle-checked columns.
    *
    * Determinism: weights quantize to 1e-6-unit LONGS on the driver
    * ([[linearWeightsFixed]]); per-token contributions are exact integer
    * lookups summed in-row — order-free, partitioning-free.
    *
    * Plan shape at 100 TB: ZERO shuffle — the whole scorer is one
    * `transform`/`aggregate` HOF chain over the in-row token array
    * (weight array is a plan literal; md5 per token inside whole-stage
    * codegen), so it composes with any scan at full width. Empty docs
    * score `bias`. Returns `(idCol, n_tokens, score, keep)`. */
  def linearGate(
      df: org.apache.spark.sql.DataFrame,
      textCol: String,
      idCol: String,
      weights: Seq[Double],
      bias: Double = 0.0,
      tau: Double = 0.0): org.apache.spark.sql.DataFrame = {
    require(weights.nonEmpty, "linearGate needs a non-empty weight vector")
    val wq = linearWeightsFixed(weights)
    val wArr = array(wq.map(lit): _*)
    val f = weights.length
    val toks = tokens(col(textCol))
    val q = aggregate(toks, lit(0L), (acc, t) =>
      acc + element_at(wArr,
        (pmod(graft.functions.hashing.h32(t), lit(f.toLong)) + 1L).cast("int")))
    val score = floor((q.cast("double") / lit(1.0e6) + lit(bias))
      * 10000.0 + 0.5) / 10000.0
    df.select(col(idCol), size(toks).cast("bigint").as("n_tokens"),
        score.as("score"))
      .withColumn("keep", (col("score") >= lit(tau)).cast("int"))
  }

  /** DSIR-style importance weight (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling") of every raw-corpus
    * document against a small high-quality TARGET corpus:
    * `log w(doc) = Σ_tok tf_doc(tok) · [ln p_target(tok) − ln p_raw(tok)]`
    * under unigram LMs with Laplace smoothing over the UNION vocabulary
    * (`p_c(tok) = (ctf_c + 1) / (N_c + V)`, `V` = union vocab size —
    * smoothing is load-bearing: raw tokens absent from the target must
    * score finitely low, not −∞). Feed `logw` to
    * [[graft.ops.sample.weighted]] / temperature sampling to RESAMPLE the
    * raw corpus toward the target distribution — the published
    * data-selection recipe as one engine primitive.
    *
    * Determinism: per-(doc,tok) contributions are quantized to 1e-6 fixed
    * point and summed as LONGS (the [[unigramLogProb]] discipline —
    * exact, associative, order-free), and both `ln` arguments are single
    * quotients evaluated in the same IEEE form on any engine.
    *
    * Plan shape at 100 TB raw + small target: the target corpus reduces
    * to a vocabulary table (Heaps' law — sublinear in target size); the
    * union-vocab outer join and the tf join are token-keyed (vocab-sized
    * shuffles, stopword skew handled by AQE); the raw corpus itself is
    * scanned once for tf and aggregated doc-keyed. The 1-row totals
    * (N_r, N_t, V) broadcast. Returns `(idCol, n_tokens, logw)` for raw
    * docs with ≥ 1 token, `logw` floor-quantized to 4 dp. */
  def dsirWeights(
      raw: org.apache.spark.sql.DataFrame,
      target: org.apache.spark.sql.DataFrame,
      textCol: String,
      idCol: String): org.apache.spark.sql.DataFrame = {
    val tf = raw.select(col(idCol), explode(tokens(col(textCol))).as("tok"))
      .groupBy(col(idCol), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val vocabR = tf.groupBy(col("tok")).agg(sum(col("tf")).as("ctf_r"))
    val vocabT = target
      .select(explode(tokens(col(textCol))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("ctf_t"))
    val union = vocabR.join(vocabT, Seq("tok"), "full_outer")
      .select(col("tok"),
        coalesce(col("ctf_r"), lit(0L)).as("ctf_r"),
        coalesce(col("ctf_t"), lit(0L)).as("ctf_t"))
    val totals = union.agg(
      sum(col("ctf_r")).as("n_r"), sum(col("ctf_t")).as("n_t"),
      count(lit(1)).as("v"))
    val lr = log((col("ctf_t") + 1.0) / (col("n_t") + col("v")).cast("double")) -
      log((col("ctf_r") + 1.0) / (col("n_r") + col("v")).cast("double"))
    tf.join(union, "tok")
      .crossJoin(broadcast(totals))
      .groupBy(col(idCol))
      .agg(
        sum(col("tf")).as("n_tokens"),
        sum(floor(col("tf") * lr * lit(1.0e6)).cast("long")).as("q"))
      .select(col(idCol), col("n_tokens"),
        (floor(col("q").cast("double") / lit(1.0e6) * 10000.0 + 0.5) / 10000.0)
          .as("logw"))
  }

  /** Token-bigram pairs of a tokens array, in row (no explode yet):
    * `[(t_0,t_1), (t_1,t_2), …]` — zip of the array with its own 1-shift.
    * Written as `zip_with` of two slices, NOT `transform` with an
    * `element_at(toks, i+2)` lambda body: an expression referenced inside
    * a higher-order-function lambda is re-evaluated per ELEMENT, so when
    * `toks` is itself a computed expression (the tokenizer), the lambda
    * form re-tokenizes the document O(tokens) times — O(n²) per doc
    * (measured 6× on the bench). Callers should still bind the token
    * array to a named column first so the slice arguments share one
    * evaluation. */
  private def bigramsOf(toks: Column): Column =
    zip_with(
      slice(toks, lit(1), greatest(size(toks) - 1, lit(0))),
      slice(toks, lit(2), greatest(size(toks) - 1, lit(0))),
      (a, b) => struct(a.as("t1"), b.as("t2")))

  /** Per-document mean BIGRAM conditional log-probability under the
    * corpus's own MLE bigram model: mean over adjacent token pairs of
    * `ln( c(t1,t2) / c(t1,·) )` where `c(t1,·)` counts `t1` as a
    * predecessor. The sequel to [[unigramLogProb]]: a doc of
    * individually-common words in an order the corpus never uses scores
    * low (word-salad detection); formulaic word ORDER scores high. No
    * smoothing needed — every scored bigram is in the corpus by
    * construction. Docs need ≥ 2 tokens.
    *
    * Same determinism discipline (1e-6 fixed-point long sums) and the
    * same plan shape as the unigram form: (doc, bigram) counts → corpus
    * bigram counts (map-side combined), with the predecessor count `c1`
    * attached as a per-`t1` window SUM over that small distinct-bigram
    * table — a window over corpus-vocabulary-bounded rows, NOT a second
    * join shuffle of the per-document table (measured 2× on the bench:
    * the doc-keyed side rides exactly one join) → one token-keyed join
    * back → one doc-keyed sum. Returns `(idCol, n_bigrams, logprob)`. */
  def bigramLogProb(
      df: org.apache.spark.sql.DataFrame,
      textCol: String,
      idCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf2 = df
      .select(col(idCol), tokens(col(textCol)).as("_toks"))
      .select(col(idCol), explode(bigramsOf(col("_toks"))).as("bg"))
      .groupBy(col(idCol), col("bg.t1").as("t1"), col("bg.t2").as("t2"))
      .agg(count(lit(1)).as("tf"))
    val corpus2 = tf2.groupBy(col("t1"), col("t2")).agg(sum(col("tf")).as("c2"))
      .withColumn("c1", sum(col("c2")).over(Window.partitionBy(col("t1"))))
    tf2.join(corpus2, Seq("t1", "t2"))
      .groupBy(col(idCol))
      .agg(
        sum(col("tf")).as("n_bigrams"),
        sum(floor(col("tf") * log(col("c2").cast("double") / col("c1").cast("double"))
          * lit(1.0e6)).cast("long")).as("q"))
      .select(col(idCol), col("n_bigrams"),
        // floor-form quantization — see [[unigramLogProb]]
        (floor(col("q").cast("double") / lit(1.0e6) / col("n_bigrams")
          * 10000.0 + 0.5) / 10000.0).as("logprob"))
  }

  /** Adjacent token triples as structs (t1, t2, t3) — in-row. */
  private def trigramsOf(toks: Column): Column = {
    val n = greatest(size(toks) - 2, lit(0))
    zip_with(
      zip_with(
        slice(toks, lit(1), n),
        slice(toks, lit(2), n),
        (a, b) => struct(a.as("t1"), b.as("t2"))),
      slice(toks, lit(3), n),
      (ab, c) => struct(ab.getField("t1").as("t1"),
        ab.getField("t2").as("t2"), c.as("t3")))
  }

  /** Per-document mean trigram log-probability under an INTERPOLATED
    * KNESER-NEY 3-gram model trained on the corpus itself — the actual
    * CCNet quality gate (Wenzek et al. 2020 filter documents by the
    * perplexity of a KN-smoothed 5-gram LM; 3-gram is the same estimator
    * one order down). [[unigramLogProb]]/[[bigramLogProb]] are its MLE
    * ablations; KN differs where filtering quality lives: the lower-order
    * fallback weights CONTINUATION counts (in how many distinct contexts
    * a word appears) rather than raw frequency, so boilerplate tokens
    * that are frequent in one template stop looking "likely" everywhere.
    *
    * Estimator (Chen & Goodman 1998, interpolated form, fixed discount
    * D = 0.75, counts from the corpus trigram table):
    *   p1(w)    = N1+(·w) / N1+(··)
    *   p2(w|v)  = (max(N1+(·vw)−D,0) + D·N1+(v·)·p1(w)) / N1+(·v·)
    *   p3(w|uv) = (max(c(uvw)−D,0)  + D·N1+(uv·)·p2)    / c(uv·)
    * Every scored trigram occurs in the corpus (self-trained), so
    * p3 > 0 with no unknown-word branch.
    *
    * Determinism: all eight count statistics are exact integer grids;
    * the per-(doc, trigram) `floor(tf·ln(p3)·10⁶)` terms are longs
    * summed order-free (the [[unigramLogProb]] discipline), and the
    * double expression for p3 is written with one fixed parenthesization
    * that the oracle replays operation-for-operation.
    *
    * Plan shape at scale: one trigram explode → (doc, trigram) count
    * (the only doc-sized shuffle), corpus trigram grid derived by
    * map-side combine, every KN statistic a WINDOW or re-aggregate over
    * grid rows (c(uv·)/N1+(uv·) windowed over (t1,t2); continuation
    * grid g23 = distinct-predecessor counts; N1+(·v·)/N1+(v·) windowed
    * over t2; N1+(·w) re-aggregated; N1+(··) one broadcast row), then
    * grid-keyed joins back and one doc-keyed sum. The corpus text
    * crosses the wire once; everything else is Heaps-bounded grid
    * traffic. Docs need ≥ 3 tokens. Returns
    * `(idCol, n_trigrams, logprob)`. */
  def knLogProb(
      df: org.apache.spark.sql.DataFrame,
      textCol: String,
      idCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val D = 0.75
    val tf3 = df
      .select(col(idCol), tokens(col(textCol)).as("_toks"))
      .select(col(idCol), explode(trigramsOf(col("_toks"))).as("g"))
      .groupBy(col(idCol), col("g.t1").as("t1"), col("g.t2").as("t2"),
        col("g.t3").as("t3"))
      .agg(count(lit(1)).as("tf"))
    // corpus trigram grid, lineage-cut: three independent consumers
    // (the (t1,t2) window, the continuation grid, the join back) must
    // reread GRID rows, not re-shuffle the corpus (cohenKappa rule)
    val c3 = ckpt.cutLazy(tf3.groupBy(col("t1"), col("t2"), col("t3"))
      .agg(sum(col("tf")).as("c3")))
    val w12 = Window.partitionBy(col("t1"), col("t2"))
    val ctx = c3
      .withColumn("c12", sum(col("c3")).over(w12))
      .withColumn("n1p12", count(lit(1)).over(w12))
    // continuation grid: rows of c3 grouped by (t2,t3) count DISTINCT
    // predecessors; windows over t2 give N1+(·v·) and N1+(v·)
    val g23 = ckpt.cutLazy(c3.groupBy(col("t2"), col("t3"))
      .agg(count(lit(1)).as("cvw")))
    val w2 = Window.partitionBy(col("t2"))
    val cont = g23
      .withColumn("nmid", sum(col("cvw")).over(w2))
      .withColumn("nvdot", count(lit(1)).over(w2))
    val g3 = g23.groupBy(col("t3")).agg(count(lit(1)).as("cw"))
    val nbt = g23.agg(count(lit(1)).as("nbt"))
    val p1 = col("cw").cast("double") / col("nbt").cast("double")
    val p2 = (greatest(col("cvw").cast("double") - D, lit(0.0))
      + (lit(D) * col("nvdot").cast("double")) * p1) /
      col("nmid").cast("double")
    val p3 = (greatest(col("c3").cast("double") - D, lit(0.0))
      + (lit(D) * col("n1p12").cast("double")) * p2) /
      col("c12").cast("double")
    tf3.join(ctx, Seq("t1", "t2", "t3"))
      .join(cont, Seq("t2", "t3"))
      .join(g3, Seq("t3"))
      .crossJoin(broadcast(nbt))
      .groupBy(col(idCol))
      .agg(
        sum(col("tf")).as("n_trigrams"),
        sum(floor(col("tf") * log(p3) * lit(1.0e6)).cast("long")).as("q"))
      .select(col(idCol), col("n_trigrams"),
        // floor-form quantization — see [[unigramLogProb]]
        (floor(col("q").cast("double") / lit(1.0e6) / col("n_trigrams")
          * 10000.0 + 0.5) / 10000.0).as("logprob"))
  }

  /** The perplexity-gate twin of [[knLogProb]] — [[lmQualityFilter]]
    * upgraded from the unigram ablation to the paper-correct KN-smoothed
    * n-gram model: keep documents whose mean trigram log-probability
    * reaches `minLogProb` (log-space compare on the 4-dp-quantized
    * score; `ppl = e^(−logprob)` is monotone, and exp() is not portable
    * across engines while the compare is exact). Returns
    * `(idCol, n_trigrams, logprob, keep)`. */
  def knQualityFilter(
      df: org.apache.spark.sql.DataFrame,
      textCol: String,
      idCol: String,
      minLogProb: Double): org.apache.spark.sql.DataFrame =
    knLogProb(df, textCol, idCol)
      .withColumn("keep", (col("logprob") >= lit(minLogProb)).cast("int"))

  /** Add-one-smoothed unigram distributions of two corpora over their
    * UNION vocabulary: `(tok, ca, cb, na, nb, v, pa, pb)` with
    * `p = (c + 1) / (n + v)` — the shared substrate of [[tokenShift]]
    * and [[corpusDivergence]]. Two vocab-sized aggregates (map-side
    * combined; the corpora themselves shuffle nothing wider than a
    * token), one full-outer vocab join, totals broadcast back. The
    * totals branch references the same aggregates a second time — a
    * diamond AQE resolves with runtime exchange reuse (verified:
    * 2 ReusedExchange in the adaptive plan), so each corpus is scanned
    * ONCE per side; only the thin vocab join runs twice. */
  private def unigramDists(
      a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame,
      textCol: String): org.apache.spark.sql.DataFrame = {
    def counts(df: org.apache.spark.sql.DataFrame, out: String) =
      df.select(explode(tokens(col(textCol))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as(out))
    val joined = counts(a, "_ca").join(counts(b, "_cb"), Seq("tok"), "full_outer")
      .select(col("tok"),
        coalesce(col("_ca"), lit(0L)).as("ca"),
        coalesce(col("_cb"), lit(0L)).as("cb"))
    val totals = joined.agg(
      sum(col("ca")).as("na"), sum(col("cb")).as("nb"), count(lit(1)).as("v"))
    joined.crossJoin(broadcast(totals))
      .withColumn("pa",
        (col("ca") + 1).cast("double") / (col("na") + col("v")).cast("double"))
      .withColumn("pb",
        (col("cb") + 1).cast("double") / (col("nb") + col("v")).cast("double"))
  }

  /** Top-`k` tokens by absolute smoothed log-probability ratio between
    * two corpora — "what changed between these two crawls / domains":
    * a token much likelier in `a` surfaces with a positive `shift`
    * (= `ln(pa/pb)`, 6dp floor-quantized), much likelier in `b`
    * negative. Smoothing keeps tokens absent from one side finite and
    * ranked. Ties break on the token. Top-k via
    * `TakeOrderedAndProject`; nothing wider than the union vocabulary
    * ever materializes. Returns `(tok, n_a, n_b, shift)`. */
  def tokenShift(
      a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame,
      textCol: String,
      k: Int): org.apache.spark.sql.DataFrame = {
    require(k >= 1, s"graft: tokenShift needs k >= 1, got $k")
    unigramDists(a, b, textCol)
      .select(col("tok"), col("ca").as("n_a"), col("cb").as("n_b"),
        vectors.quantize(log(col("pa") / col("pb")), 6).as("shift"))
      .orderBy(abs(col("shift")).desc, col("tok"))
      .limit(k)
  }

  /** Corpus-level distribution divergence — the domain-shift /
    * mixture-drift meter: KL(a‖b), KL(b‖a), and the bounded symmetric
    * Jensen-Shannon divergence (≤ ln 2) between the two corpora's
    * smoothed unigram distributions. One row:
    * `(n_a, n_b, vocab, kl_ab, kl_ba, js)`.
    *
    * Determinism discipline: each token's contribution is
    * floor-quantized to a 1e-12 fixed-point LONG before the sum
    * (order-free exact addition — [[unigramLogProb]]'s rule), and the
    * final values are 6dp floor-quantized, so an independent engine
    * reproduces every digit from the same integer counts. JS terms are
    * ≤ ln 2 · p, so the fixed-point sums cannot overflow at any corpus
    * size; KL ratios are bounded by the smoothed floor (1/(n+v)). */
  def corpusDivergence(
      a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val scale = lit(1.0e12)
    val m = (col("pa") + col("pb")) / lit(2.0)
    unigramDists(a, b, textCol)
      .select(col("na"), col("nb"), col("v"),
        floor(col("pa") * log(col("pa") / col("pb")) * scale).cast("long").as("qab"),
        floor(col("pb") * log(col("pb") / col("pa")) * scale).cast("long").as("qba"),
        floor(col("pa") * log(col("pa") / m) * scale).cast("long").as("qja"),
        floor(col("pb") * log(col("pb") / m) * scale).cast("long").as("qjb"))
      .agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
        max(col("v")).as("vocab"),
        sum(col("qab")).as("sab"), sum(col("qba")).as("sba"),
        sum(col("qja")).as("sja"), sum(col("qjb")).as("sjb"))
      .select(col("n_a"), col("n_b"), col("vocab"),
        vectors.quantize(col("sab").cast("double") / lit(1.0e12), 6).as("kl_ab"),
        vectors.quantize(col("sba").cast("double") / lit(1.0e12), 6).as("kl_ba"),
        vectors.quantize(
          (col("sja") + col("sjb")).cast("double") / lit(2.0) / lit(1.0e12), 6).as("js"))
  }

  /** The Gopher rule set's required stopwords (Rae et al. 2021, §A1.1):
    * a doc passing the other gates but containing fewer than 2 of these
    * is usually a listing, not prose. */
  val GopherStop = Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher-style document quality RULE BUNDLE (Rae et al. 2021, §A1.1)
    * — the standard hard-threshold pre-filter stack applied before any
    * model-based gate:
    *   - word count within `[minWords, maxWords]`
    *   - mean word length within `[minMeanLen, maxMeanLen]` (mash and
    *     concatenated-token junk live outside 3–10 chars)
    *   - ≥ `minAlphaFrac` of words contain an alphabetic character
    *     (drops number/symbol tables)
    *   - symbol-to-word ratio (`#`/`…` chars per word) ≤ `maxSymbolRatio`
    *   - ≥ `minStopHits` DISTINCT required stopwords ([[GopherStop]] —
    *     an English-centric rule by design, gate after language routing)
    *
    * Entirely IN ROW: the token array is bound ONCE per doc and every
    * signal is an array traversal of it — zero shuffle, composes with
    * any scan, and `WHERE keep = 1` pushes into the scan like every
    * other row-local gate here. All surfaced ratios are exact-integer
    * divisions floor-quantized to 4 dp, and the gate compares the
    * QUANTIZED values, so an independent engine reproduces every flag.
    *
    * Returns `(idCol, n_words, mean_word_len, alpha_frac, symbol_ratio,
    * n_stop_hits, keep)` for every doc (keep is a flag, not a filter —
    * callers audit the near-misses before dropping 100 TB of them). */
  def gopherQuality(
      df: org.apache.spark.sql.DataFrame,
      textCol: String,
      idCol: String,
      minWords: Int = 50,
      maxWords: Int = 100000,
      minMeanLen: Double = 3.0,
      maxMeanLen: Double = 10.0,
      minAlphaFrac: Double = 0.8,
      maxSymbolRatio: Double = 0.1,
      minStopHits: Int = 2): org.apache.spark.sql.DataFrame = {
    require(minWords >= 1 && maxWords >= minWords,
      s"gopherQuality needs 1 <= minWords <= maxWords, got [$minWords, $maxWords]")
    val q4 = (c: Column) => floor(c * 10000.0 + 0.5) / 10000.0
    // NULL contract: a NULL text is the empty document — zeroed stats,
    // keep = 0, row PRESENT (audit-then-drop). Without the coalesce,
    // size(tokens(NULL)) is NULL and both n_words and keep surface as
    // NULL — a silent drop in any downstream `keep = 1` filter, the
    // exact divergence the blocklistClean NULL fix closed.
    val txt = coalesce(col(textCol), lit(""))
    val nSym = length(txt) - length(regexp_replace(txt, "[#…]", ""))
    val stats = df.select(col(idCol), nSym.cast("bigint").as("_n_sym"),
        tokens(txt).as("_toks"))
      .select(col(idCol), col("_n_sym"),
        size(col("_toks")).cast("bigint").as("n_words"),
        aggregate(col("_toks"), lit(0L), (acc, t) => acc + length(t))
          .as("_sum_len"),
        size(filter(col("_toks"), t => t.rlike("[a-z]")))
          .cast("bigint").as("_n_alpha"),
        size(filter(array(GopherStop.map(lit): _*),
            w => array_contains(col("_toks"), w)))
          .cast("bigint").as("n_stop_hits"))
    val n = col("n_words").cast("double")
    val gated = stats.select(col(idCol), col("n_words"),
      when(col("n_words") > 0, q4(col("_sum_len").cast("double") / n))
        .otherwise(lit(0.0)).as("mean_word_len"),
      when(col("n_words") > 0, q4(col("_n_alpha").cast("double") / n))
        .otherwise(lit(0.0)).as("alpha_frac"),
      when(col("n_words") > 0, q4(col("_n_sym").cast("double") / n))
        .otherwise(lit(0.0)).as("symbol_ratio"),
      col("n_stop_hits"))
    gated.withColumn("keep",
      (col("n_words") >= minWords && col("n_words") <= maxWords &&
        col("mean_word_len") >= minMeanLen && col("mean_word_len") <= maxMeanLen &&
        col("alpha_frac") >= minAlphaFrac &&
        col("symbol_ratio") <= maxSymbolRatio &&
        col("n_stop_hits") >= minStopHits).cast("int"))
  }

  /** Corpus-level TextRank keywords (Mihalcea & Tarau 2004, unweighted
    * variant): build the token CO-OCCURRENCE graph (terms adjacent
    * within `window` positions in any document), PageRank it with the
    * engine's fixed-point integer [[graft.ops.graph.pageRank]], and
    * return the `topN` terms by rank — corpus keywords that TF-IDF's
    * per-document lens misses (centrality rewards terms that bridge
    * contexts, not just frequent ones).
    *
    * Scale shape: pair generation is IN-ROW (a per-document transform,
    * no self-join), the undirected edge set dedups on the term pair, and
    * the walk runs over vocab-sized nodes keyed by the portable 63-bit
    * term hash — both engines rank the same integers, so the oracle
    * replays graph build and iterations exactly. */
  def textRankTerms(
      df: org.apache.spark.sql.DataFrame,
      textCol: String,
      window: Int = 2,
      iters: Int = 3,
      topN: Int = 20): org.apache.spark.sql.DataFrame = {
    require(window >= 1 && window <= 8,
      s"graft: textRank window must be in [1, 8], got $window")
    require(topN >= 1, s"graft: textRank needs topN >= 1, got $topN")
    // Pair generation with NO per-element lambda: zip the token array
    // against its o-shifted slice (one vectorized array op per offset),
    // normalize (least, greatest) AFTER the explode where it runs as
    // row-level codegen. The token array also binds to a named column
    // first — a lambda-free zip still re-evaluates computed inputs once
    // per offset, and the first cut of this op handed `tokens(text)`
    // into per-element lambdas and re-tokenized each document O(n²)
    // times (30× on the bench, the tokenChunksOf lesson).
    val ts = col("_ts")
    def pairsAt(o: Int) = when(size(ts) > o,
      arrays_zip(slice(ts, lit(1), size(ts) - o),
        slice(ts, lit(o + 1), size(ts) - o)))
      .otherwise(array().cast("array<struct<`0`:string,`1`:string>>"))
    // The pair set feeds TWO consumers — the edge list (into pageRank)
    // and the term↔hash map joined back at the end — and exchange reuse
    // does not survive their different column pruning: without a cut the
    // tokenize+explode+distinct subtree ran twice (measured ~1 s of the
    // 4.8 s sf0.1 wall). ckpt.cut materializes it once, eagerly, with no
    // unpersist bookkeeping (the blocks live as long as the plan).
    val und = ckpt.cut(df
      .select(tokens(col(textCol)).as("_ts"))
      .select(explode(concat((1 to window).map(pairsAt): _*)).as("p"))
      .select(least(col("p.0"), col("p.1")).as("a"),
        greatest(col("p.0"), col("p.1")).as("b"))
      .where(col("a") =!= col("b"))
      .distinct())
    val edges = und
      .select(graft.functions.hashing.h63(col("a")).as("src"),
        graft.functions.hashing.h63(col("b")).as("dst"))
    val both = edges.unionAll(
      edges.select(col("dst").as("src"), col("src").as("dst")))
    val ranks = graph.pageRank(both, iters)
    val terms = und
      .select(explode(array(col("a"), col("b"))).as("term")).distinct()
      .select(col("term"), graft.functions.hashing.h63(col("term")).as("id"))
    ranks.join(terms, "id")
      .select(col("term"), col("rank"))
      .orderBy(col("rank").desc, col("term"))
      .limit(topN)
  }

  /** Flesch reading-ease signals — the classic readability gate a
    * curriculum/quality pipeline thresholds on (Flesch 1948; the same
    * formula C4-era corpus reports quote): per document, word count,
    * sentence count (runs of `.`/`!`/`?`), a deterministic syllable
    * proxy (vowel-GROUP count `[aeiouy]+` over the lowercased text —
    * the standard heuristic; exact syllabification needs a dictionary
    * and gains nothing for corpus-level gating), and
    * `flesch = 206.835 − 1.015·words/sentences − 84.6·syllables/words`
    * quantized floor-4dp. Documents with no words or no sentence mark
    * yield a null score rather than ±∞ — the caller's filter decides.
    *
    * All three counts are integers from single regex passes; the score
    * is one double expression — order-free, partition-free, identical
    * in any engine. Row-local, zero shuffle, streaming-legal. */
  def readability(c: Column): Column = {
    val words = size(tokens(c)).cast("long")
    val sents = regexp_count(c, lit("[.!?]+")).cast("long")
    val sylls = regexp_count(lower(c), lit("[aeiouy]+")).cast("long")
    val score = when(words > 0 && sents > 0,
      vectors.quantize(
        lit(206.835)
          - lit(1.015) * words.cast("double") / sents.cast("double")
          - lit(84.6) * sylls.cast("double") / words.cast("double"), 4))
    struct(words.as("n_words"), sents.as("n_sentences"),
      sylls.as("n_syllables"), score.as("flesch"))
  }

  /** Encoding-quality signals per document — the mojibake / transcoding-
    * damage screen a crawl pipeline runs before any content filter (a
    * page that survived a bad charset round-trip is unsalvageable text):
    *
    *  - `n_repl`: U+FFFD replacement characters (a decoder already gave
    *    up on those bytes);
    *  - `n_ctrl`: C0 control characters other than tab/newline/CR (raw
    *    binary bleeding into "text");
    *  - `n_moji`: UTF-8-read-as-Latin-1 leader bytes — 'Ã' (0xC3, the
    *    2-byte-sequence leader that renders as 'Ã©', 'Ã¼'…) and 'â€'
    *    (0xE2 0x80, the punctuation-block leader behind 'â€™'/'â€œ') —
    *    the classic double-encoding fingerprints;
    *  - `enc_clean`: no replacement or control chars and ≤ `maxMoji`
    *    mojibake markers.
    *
    * All four are length-difference / regexp counts over the row — one
    * codegen'd pass, no shuffle, streaming-legal. Counting by
    * `length(x) - length(replace(x, m, ''))` (divided by marker length)
    * is engine-portable where regexp escapes for non-ASCII classes are
    * not. NULL text yields zero counts and enc_clean = true — the gate
    * contract is "nothing proven dirty", matching blocklistClean's
    * explicit null contract. */
  def encodingQuality(c: Column, maxMoji: Int = 0): Column = {
    val t = coalesce(c, lit(""))
    def occurrences(marker: String): Column =
      ((length(t) - length(replace(t, lit(marker), lit("")))) /
        lit(marker.length)).cast("long")
    val nRepl = occurrences("�")
    val nCtrl = regexp_count(t, lit("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]"))
      .cast("long")
    val nMoji = (occurrences("Ã") + occurrences("â€")).as("n_moji")
    struct(nRepl.as("n_repl"), nCtrl.as("n_ctrl"), nMoji,
      (nRepl === 0 && nCtrl === 0 && nMoji <= maxMoji).as("enc_clean"))
  }

  /** The hashing trick (Weinberger et al., ICML 2009): each document as
    * a sparse `nBuckets`-dimensional feature vector — every token hashes
    * to a bucket via the portable id hash, a second independent hash bit
    * gives it sign ±1, and the bucket value is the exact signed count
    * sum. The fixed-width featurizer that needs NO vocabulary pass: new
    * tokens never resize anything, two corpora hashed with the same
    * (nBuckets, salt) are directly comparable, and the signed sum makes
    * collisions cancel in expectation (the unsigned variant biases up).
    *
    * Plan shape: tokenize → explode → one (doc, bucket) hash aggregate —
    * token hashing is row-local inside the scan, and map-side partial
    * aggregation collapses each document's repeats before the exchange.
    * Zero-sum buckets (sign-cancelled) are dropped: the output is the
    * sparse representation. Returns `(idCol, bucket, v)`. */
  def featureHash(
      df: DataFrame,
      textCol: String,
      idCol: String,
      nBuckets: Int = 1024,
      salt: String = "fh"): DataFrame = {
    require(nBuckets >= 2, s"graft: featureHash needs nBuckets >= 2")
    val tok = explode(tokens(col(textCol))).as("_tok")
    val key = concat(col("_tok"), lit("/" + salt))
    df.select(col(idCol), tok)
      .select(col(idCol),
        (hashing.h32(key) % nBuckets).as("bucket"),
        (lit(1L) - lit(2L) * (hashing.h32b(key) % 2L)).as("_sign"))
      .groupBy(col(idCol), col("bucket"))
      .agg(sum(col("_sign")).as("v"))
      .where(col("v") =!= 0L)
  }

  /** Unicode-script classes for [[scriptProfile]], in LEXICOGRAPHIC name
    * order (the dominant-script tie-break order): explicit code-point
    * ranges only — both engines' regex (Java, RE2) read `\x{…}` ranges
    * identically, where `\p{Script=…}` tables differ by engine/version. */
  private[graft] val ScriptClasses: Seq[(String, String)] = Seq(
    "arabic" -> "[\\x{0600}-\\x{06FF}]",
    "cjk" -> "[\\x{4E00}-\\x{9FFF}\\x{3400}-\\x{4DBF}]",
    "cyrillic" -> "[\\x{0400}-\\x{04FF}]",
    "devanagari" -> "[\\x{0900}-\\x{097F}]",
    "greek" -> "[\\x{0370}-\\x{03FF}]",
    "hangul" -> "[\\x{AC00}-\\x{D7AF}\\x{1100}-\\x{11FF}]",
    "kana" -> "[\\x{3040}-\\x{30FF}]",
    "latin" -> "[A-Za-z\\x{00C0}-\\x{024F}]")

  /** Per-document Unicode-SCRIPT profile — the writing-system counterpart
    * to [[langId]]'s vocabulary profiles: exact per-class character
    * counts over explicit code-point ranges (8 scripts + digits +
    * whitespace + other), the dominant script (strict-majority fold in
    * lexicographic tie order), and its parts-per-million share of script
    * characters. The mixed-script spam gate (Latin text stuffed with
    * Cyrillic look-alikes), the pre-langId router, and the corpus-card
    * script breakdown in one row-local pass.
    *
    * Every count is a `regexp_count` over an explicit range class —
    * including "other" via the negated union class, so no engine-specific
    * string-length semantics are involved anywhere. Pure scan work, zero
    * shuffle. Returns `(idCol, n_arabic, n_cjk, n_cyrillic,
    * n_devanagari, n_greek, n_hangul, n_kana, n_latin, n_digit, n_space,
    * n_other, dominant, dom_ppm)`; `dominant` is "none" (ppm null) for
    * script-free text. */
  def scriptProfile(
      df: DataFrame,
      textCol: String,
      idCol: String): DataFrame = {
    val digit = "[0-9]"
    val space = "[ \\t\\n\\r]"
    val otherCls = "[^" + (ScriptClasses.map(_._2) :+ digit :+ space)
      .map(c => c.substring(1, c.length - 1)).mkString + "]"
    val counted = df.select((col(idCol) +:
      ScriptClasses.map { case (name, pat) =>
        regexp_count(col(textCol), lit(pat)).cast("long").as(s"n_$name") } :+
      regexp_count(col(textCol), lit(digit)).cast("long").as("n_digit") :+
      regexp_count(col(textCol), lit(space)).cast("long").as("n_space") :+
      regexp_count(col(textCol), lit(otherCls)).cast("long").as("n_other")): _*)
    // argmax with lex-smallest tie-break as ONE comparable: max over
    // struct(count, −lexIndex) — higher count wins, tie → lower index =
    // lexicographically first name (both engines order structs
    // lexicographically field-by-field)
    val domStruct = greatest(ScriptClasses.zipWithIndex.map {
      case ((name, _), i) =>
        struct(col(s"n_$name").as("c"), lit(-i).as("ni"))
    }: _*)
    val total = ScriptClasses.map(c => col(s"n_${c._1}"))
      .reduce(_ + _)
    val names = array(ScriptClasses.map(c => lit(c._1)): _*)
    counted
      .withColumn("_dom", domStruct)
      .withColumn("_tot", total)
      .withColumn("dominant",
        when(col("_tot") > 0L,
          element_at(names, -col("_dom.ni") + 1)).otherwise(lit("none")))
      .withColumn("_dc", col("_dom.c"))
      .withColumn("dom_ppm",
        when(col("_tot") > 0L, expr("(_dc * 1000000) DIV _tot")))
      .drop("_dom", "_tot", "_dc")
  }
}
