package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-scale model/retrieval evaluation meters — the read-out side of
  * a training-data pipeline: once a filter model, reward model, or
  * retriever is scored over held-out data, these turn (score, label)
  * columns into the exact metrics a launch review consumes (AUC,
  * confusion/PR grids, NDCG, log-loss/Brier).
  *
  * Reference scope note: otters-rs scores vectors and filters metadata
  * (vec.rs:92-168 take/score-filter); it has no evaluation surface. These
  * are north-star extensions in the same determinism discipline as the
  * rest of graft: exact integers end-to-end (ranks, counts, ppm
  * quotients via truncating integer division), floats only inside
  * per-element quantized transforms (`floor(f(x)·10^k)`) whose integer
  * results then sum order-free — so every meter is engine-exact and
  * oracle-checkable.
  */
object evals {

  /** ROC AUC by tie-corrected rank-sum (the Mann-Whitney identity):
    * `AUC = (R⁺ − n⁺(n⁺+1)/2) / (n⁺·n⁻)` where `R⁺` is the sum of
    * mid-ranks of positives, ties sharing their group's mid-rank.
    * Surfaced EXACTLY as `auc_num / auc_den` with doubled-rank integers
    * (mid-ranks are half-integers; ×2 keeps everything in longs):
    * `auc_num = Σ⁺(minrank+maxrank) − 2·n⁺(n⁺+1)/2`,
    * `auc_den = 2·n⁺·n⁻`, plus the truncated `auc_ppm` quotient.
    *
    * Scale shape: scores are treated as EXACT grouping keys — quantize a
    * continuous score first (e.g. 4-dp fixed point), which bounds the
    * domain of the one global cumulative window (`boundedGlobal`,
    * ≤ 20k rows for a 4-dp score in [-1,1]) the ranks come from. The
    * event-volume axis pays only the first hash aggregate. Rank sums
    * stay in int64 for eval sets up to ~2·10⁹ rows — an eval SET, not a
    * corpus; for larger, pre-sample.
    *
    * Returns one row `(n_pos, n_neg, auc_num, auc_den, auc_ppm)`. */
  def aucRank(df: DataFrame, scoreCol: Column, labelCol: Column): DataFrame = {
    val g = df
      .select(scoreCol.as("_s"), labelCol.cast("boolean").cast("long").as("_y"))
      .where(col("_s").isNotNull && col("_y").isNotNull)
      .groupBy(col("_s"))
      .agg(count(lit(1)).as("_n"), sum(col("_y")).as("_np"))
    val w = windows.boundedGlobal("score-grid", col("_s")).orderBy(col("_s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = g.withColumn("_below", coalesce(sum(col("_n")).over(w), lit(0L)))
    // positives in a tie group of n rows after `_below` smaller scores
    // occupy ranks _below+1 .. _below+n: doubled mid-rank = 2·_below+n+1.
    ranked
      .select(
        sum(col("_np")).as("n_pos"),
        sum(col("_n") - col("_np")).as("n_neg"),
        sum(col("_np") * (lit(2L) * col("_below") + col("_n") + lit(1L))).as("_r2"))
      .select(col("n_pos"), col("n_neg"),
        (col("_r2") - col("n_pos") * (col("n_pos") + lit(1L))).as("auc_num"),
        (lit(2L) * col("n_pos") * col("n_neg")).as("auc_den"))
      .withColumn("auc_ppm",
        when(col("auc_den") > 0L,
          expr("(auc_num * 1000000) DIV auc_den")).cast("long"))
  }

  /** Rows a [[mannWhitney]] input may carry before the
    * DECIMAL(38,0)-exact variance product
    * `n_a·n_b·((n³−n) − Σ(t³−t))` can overflow 38 digits
    * (n_a·n_b ≤ n²/4; at 2·10⁷ the product is ≤ ~8·10³⁵). An eval-set
    * ceiling (ENFORCED in-plan) — pre-sample beyond it. */
  val MannWhitneyMaxN: Long = 20000000L

  /** Mann-Whitney U rank-sum TEST (Mann & Whitney 1947) — the
    * nonparametric are-these-two-samples-from-the-same-distribution
    * readout [[aucRank]]'s metric form doesn't give: U, its null mean,
    * the TIE-CORRECTED variance, and the normal-approximation z. The
    * A/B meter for skewed metrics (session lengths, quality scores)
    * where the t-test's mean is the wrong summary.
    *
    * Exactness: same doubled-midrank integer grid as [[aucRank]]
    * (`u2_a = 2·U_A`, `mu2 = 2·E[U]` stay in int64); the tie term
    * `Σ(t³−t)` and the variance product run in DECIMAL(38,0) under
    * [[MannWhitneyMaxN]] (ENFORCED in-plan); z is ONE double division
    * + sqrt at the end, quantized to 4 dp.
    *
    * Scale shape: values are exact grouping keys (quantize a continuous
    * metric first) — one hash aggregate over the data axis, then the
    * bounded value-grid window ([[aucRank]]'s discipline). Returns one
    * row `(n_a, n_b, u2_a, mu2, z_q4)`. */
  def mannWhitney(df: DataFrame, valueCol: Column, groupCol: Column): DataFrame = {
    val g = df
      .select(valueCol.as("_s"), groupCol.cast("boolean").cast("long").as("_y"))
      .where(col("_s").isNotNull && col("_y").isNotNull)
      .groupBy(col("_s"))
      .agg(count(lit(1)).as("_n"), sum(col("_y")).as("_na"))
    val w = windows.boundedGlobal("score-grid", col("_s")).orderBy(col("_s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    g.withColumn("_below", coalesce(sum(col("_n")).over(w), lit(0L)))
      .select(
        sum(col("_na")).as("n_a"),
        sum(col("_n") - col("_na")).as("n_b"),
        sum(col("_na") * (lit(2L) * col("_below") + col("_n") + lit(1L)))
          .as("_r2"),
        sum(expr("CAST(_n AS DECIMAL(38,0)) * _n * _n - _n")).as("_t3"))
      .withColumn("n_a",
        when(col("n_a") + col("n_b") > MannWhitneyMaxN,
          raise_error(format_string(
            "graft: mannWhitney DECIMAL(38,0)-exactness ceiling exceeded " +
              s"(n = %s > $MannWhitneyMaxN rows) — the variance product " +
              "would overflow; pre-sample",
            col("n_a") + col("n_b"))).cast("long"))
          .otherwise(col("n_a")))
      .withColumn("u2_a", col("_r2") - col("n_a") * (col("n_a") + lit(1L)))
      .withColumn("mu2", col("n_a") * col("n_b"))
      // var(U) = n_a·n_b·((n³−n) − Σ(t³−t)) / (12·n·(n−1)), exact
      // DECIMAL num/den, ONE double division + sqrt at the end
      .withColumn("_vn", expr(
        """CAST(n_a AS DECIMAL(38,0)) * n_b *
           (CAST(n_a + n_b AS DECIMAL(38,0)) * (n_a + n_b) * (n_a + n_b)
             - (n_a + n_b) - _t3)"""))
      .withColumn("_vd", expr(
        "12 * CAST(n_a + n_b AS DECIMAL(38,0)) * (n_a + n_b - 1)"))
      .select(col("n_a"), col("n_b"), col("u2_a"), col("mu2"),
        when(col("_vn") > 0,
          graft.functions.vectors.quantize(
            (col("u2_a") - col("mu2")).cast("double") / lit(2.0)
              / sqrt(col("_vn").cast("double") / col("_vd").cast("double")),
            4)).as("z_q4"))
  }

  /** Thresholded confusion/PR grid: for each threshold `t` in a
    * driver-literal grid, predict positive iff `score >= t`, and emit
    * exact TP/FP/FN/TN plus precision/recall/F1 in truncated ppm. The
    * operating-point sweep behind a filter-model launch decision.
    *
    * Plan shape: one scan fanned out ×|grid| by an in-row `explode` of
    * the literal threshold array, collapsed by ONE hash aggregate —
    * map-side partial aggregation absorbs the fan-out, so the shuffle
    * carries |grid| rows per task, never the corpus. */
  def confusionGrid(
      df: DataFrame,
      scoreCol: Column,
      labelCol: Column,
      thresholds: Seq[Long]): DataFrame = {
    require(thresholds.nonEmpty, "graft: confusionGrid needs >= 1 threshold")
    val fan = df
      .select(scoreCol.cast("long").as("_s"),
        labelCol.cast("boolean").cast("long").as("_y"))
      .where(col("_s").isNotNull && col("_y").isNotNull)
      .withColumn("threshold", explode(lit(thresholds.toArray)))
    val g = fan
      .withColumn("_p", (col("_s") >= col("threshold")).cast("long"))
      .groupBy(col("threshold"))
      .agg(
        sum(col("_p") * col("_y")).as("tp"),
        sum(col("_p") * (lit(1L) - col("_y"))).as("fp"),
        sum((lit(1L) - col("_p")) * col("_y")).as("fn"),
        sum((lit(1L) - col("_p")) * (lit(1L) - col("_y"))).as("tn"))
    g.select(col("threshold"), col("tp"), col("fp"), col("fn"), col("tn"),
      when(col("tp") + col("fp") > 0L,
        expr("(tp * 1000000) DIV (tp + fp)")).cast("long").as("prec_ppm"),
      when(col("tp") + col("fn") > 0L,
        expr("(tp * 1000000) DIV (tp + fn)")).cast("long").as("rec_ppm"),
      when(lit(2L) * col("tp") + col("fp") + col("fn") > 0L,
        expr("(2 * tp * 1000000) DIV (2 * tp + fp + fn)")).cast("long")
        .as("f1_ppm"))
  }

  /** Integer discount table for [[ndcgAtK]]: `D(r) = floor(10⁶ /
    * log2(r+1))` for ranks 1..k, computed ONCE on the driver so both the
    * Spark plan and any oracle share the SAME literal integers — no
    * engine-side transcendental ever runs. */
  def ndcgDiscounts(k: Int): Seq[Long] =
    (1 to k).map(r => math.floor(1.0e6 / (math.log(r + 1.0) / math.log(2.0))).toLong)

  /** NDCG@k per query over a run table `(qid, relevance, score, tie)`:
    * rank results by `(score desc, tie asc)`, discount integer relevance
    * grades by the literal [[ndcgDiscounts]] table, and normalize by the
    * ideal ordering `(relevance desc, tie asc)` of the SAME result set.
    * `ndcg_ppm = dcg·10⁶ DIV idcg` (null when the query has no relevant
    * results). Everything is exact integers.
    *
    * Plan shape: both the actual and ideal top-k are the rank-filter
    * idiom — `row_number` over the per-qid window then `rnk <= k` —
    * which Spark's `InferWindowGroupLimit` turns into bounded per-group
    * heaps BEFORE the shuffle; only ~k rows per qid per task cross the
    * wire even when each query has millions of scored candidates. */
  def ndcgAtK(
      runs: DataFrame,
      qidCol: Column,
      relCol: Column,
      scoreCol: Column,
      tieCol: Column,
      k: Int): DataFrame = {
    require(k >= 1, s"graft: ndcgAtK needs k >= 1, got $k")
    val disc = ndcgDiscounts(k)
    val base = runs.select(qidCol.as("qid"), relCol.cast("long").as("_rel"),
      scoreCol.as("_s"), tieCol.as("_tie"))
    def dcgOf(order: Seq[Column], name: String): DataFrame = {
      val w = Window.partitionBy(col("qid")).orderBy(order: _*)
      base.withColumn("_rnk", row_number().over(w))
        .where(col("_rnk") <= k)
        .withColumn("_d", element_at(lit(disc.toArray), col("_rnk").cast("int")))
        .groupBy(col("qid"))
        .agg(sum(col("_rel") * col("_d")).as(name))
    }
    val dcg = dcgOf(Seq(col("_s").desc, col("_tie").asc), "dcg_q6")
    val idcg = dcgOf(Seq(col("_rel").desc, col("_tie").asc), "idcg_q6")
    dcg.join(idcg, "qid")
      .withColumn("ndcg_ppm",
        when(col("idcg_q6") > 0L,
          expr("(dcg_q6 * 1000000) DIV idcg_q6")).cast("long"))
  }

  /** Log-loss + Brier score over per-row probabilities in ppm: one row
    * `(n, n_pos, logloss_q6_sum, brier_micro_sum, logloss_mean_q6,
    * brier_mean_micro)`. Per-row terms quantize BEFORE summing
    * (`floor(−ln(p)·10⁶)`; squared-error ppm² scaled DIV 10⁶ back to
    * micro units), so the sums are exact integers and order-free —
    * engine-identical regardless of partitioning. Probabilities clamp to
    * [1, 999999] ppm: a hard 0/1 prediction that is wrong costs ln(10⁶)
    * ≈ 13.8, not ∞ (the standard eval-harness clamp). One scan, one
    * 1-row reduction. */
  def loglossBrier(df: DataFrame, probPpmCol: Column, labelCol: Column): DataFrame = {
    val p = least(greatest(probPpmCol.cast("long"), lit(1L)), lit(999999L))
    val y = labelCol.cast("boolean").cast("long")
    val pTrue = when(y === 1L, p).otherwise(lit(1000000L) - p)
    val llq6 = floor(-log(pTrue.cast("double") / 1.0e6) * 1.0e6).cast("long")
    val err = p - y * lit(1000000L)
    // err² ≤ 10¹² is exact in double and r/10⁶ ≥ 10⁻⁶ dominates the
    // ≤1.2e-10 division ulp, so floor(double-quotient) == integer DIV —
    // matching the oracle's `(err*err) // 1000000` exactly.
    val brierMicro = floor(err * err / 1000000L).cast("long")
    df.select(llq6.as("_ll"), brierMicro.as("_br"), y.as("_y"))
      .where(col("_y").isNotNull)
      .agg(count(lit(1)).as("n"), sum(col("_y")).as("n_pos"),
        sum(col("_ll")).as("logloss_q6_sum"),
        sum(col("_br")).as("brier_micro_sum"))
      .withColumn("logloss_mean_q6",
        when(col("n") > 0L, expr("logloss_q6_sum DIV n")).cast("long"))
      .withColumn("brier_mean_micro",
        when(col("n") > 0L, expr("brier_micro_sum DIV n")).cast("long"))
  }

  /** Reciprocal rank at k per query: the rank of the FIRST relevant
    * item under (score desc, tie asc) within the top k, and its
    * reciprocal in exact ppm (`10⁶ DIV rank` — positive division, no
    * float). Average `rr_ppm` downstream for MRR — the
    * did-anything-relevant-surface-near-the-top readout that NDCG's
    * graded gains smooth over. Queries whose top k holds nothing
    * relevant surface `first_rank` null / `rr_ppm` 0 (a miss is a
    * reading, not an absent row).
    *
    * Plan shape: one rank window per query group — the rank-filter
    * idiom, so WindowGroupLimit keeps a k-row heap per group before the
    * shuffle — then a group-keyed min. Returns
    * `(qidCol, first_rank, rr_ppm)`. */
  def mrrAtK(
      runs: DataFrame,
      qidCol: Column,
      relCol: Column,
      scoreCol: Column,
      tieCol: Column,
      k: Int = 10): DataFrame = {
    require(k >= 1, s"graft: mrrAtK needs k >= 1, got $k")
    val w = Window.partitionBy(qidCol).orderBy(scoreCol.desc, tieCol)
    runs
      .withColumn("_rk", row_number().over(w))
      .where(col("_rk") <= k)
      .groupBy(qidCol.as("qid"))
      .agg(min(when(relCol > 0L, col("_rk"))).cast("long").as("first_rank"))
      .withColumn("rr_ppm",
        coalesce(expr("1000000 DIV first_rank"), lit(0L)))
  }

  /** Precision and recall at k per query — the set-overlap complement
    * to [[mrrAtK]]'s first-hit position and [[ndcgAtK]]'s graded gains:
    * how many of the top k are relevant, and what share of ALL relevant
    * items the top k captured. Exact ppm quotients (positive). Queries
    * with no relevant items surface null recall (undefined, not 0 —
    * precision still reads).
    *
    * Plan shape: one rank window per query group over the full
    * candidate list (recall's denominator needs every relevant row, so
    * no group-limit heap applies — the same full-ranking shape as
    * [[aucRank]]), then one group-keyed conditional aggregate. Returns
    * `(qid, n_rel_total, n_rel_topk, p_at_k_ppm, r_at_k_ppm)`. */
  def precisionRecallAtK(
      runs: DataFrame,
      qidCol: Column,
      relCol: Column,
      scoreCol: Column,
      tieCol: Column,
      k: Int = 10): DataFrame = {
    require(k >= 1, s"graft: precisionRecallAtK needs k >= 1, got $k")
    val w = Window.partitionBy(qidCol).orderBy(scoreCol.desc, tieCol)
    runs
      .withColumn("_rk", row_number().over(w))
      .groupBy(qidCol.as("qid"))
      .agg(
        sum((relCol > 0L).cast("long")).as("n_rel_total"),
        sum(when(col("_rk") <= k && relCol > 0L, 1L).otherwise(0L))
          .as("n_rel_topk"))
      .withColumn("p_at_k_ppm", expr(s"(n_rel_topk * 1000000L) DIV ${k}L"))
      .withColumn("r_at_k_ppm", when(col("n_rel_total") > 0L,
        expr("(n_rel_topk * 1000000L) DIV n_rel_total")))
  }

  /** Reliability diagram (calibration read-out): predictions binned by
    * confidence into `bins` equal-width ppm buckets; per bin the exact
    * count, positive count, confidence mass, and the |accuracy −
    * confidence| gap. Everything is exact integers: with `probPpm` in
    * [0, 1e6], `gap_abs = |pos_b·1e6 − Σprob_b|` is the bin's
    * numerator over the common denominator `n_b·1e6`, so
    * `ECE = Σ_b gap_abs / (N·1e6)` — see [[ece]] — with no float in
    * sight. One hash aggregate to a ≤`bins`-row grid.
    *
    * Returns `(bin, n, pos, conf_sum, acc_ppm, conf_ppm, gap_abs)`
    * ordered by bin; empty bins are absent (audit-then-drop: the grid
    * is a read-out, a missing bin reads as no traffic). */
  def reliability(
      df: DataFrame,
      probPpmCol: Column,
      labelCol: Column,
      bins: Int = 10): DataFrame =
    reliabilityGrid(df, probPpmCol, labelCol, Nil, bins)
      .select(col("bin"), col("n"), col("pos"), col("conf_sum"),
        expr("(pos * 1000000L) DIV n").as("acc_ppm"),
        expr("conf_sum DIV n").as("conf_ppm"),
        abs(col("pos") * lit(1000000L) - col("conf_sum")).as("gap_abs"))

  /** The grouped, MERGEABLE form of [[reliability]]: per (group, bin)
    * exact `(n, pos, conf_sum)` — three sums, so the grid is a valid
    * streaming aggregation (watermarked window groups) and any two grid
    * snapshots merge by addition (the [[graft.ops.sketch]] mergeable-
    * state discipline). [[eceFrom]] turns any snapshot into per-group
    * ECE/MCE; [[graft.streaming.EventStream.calibrationStream]] is the
    * live delegation. Group columns must be pre-aliased (they surface
    * under their own names). */
  def reliabilityGrid(
      df: DataFrame,
      probPpmCol: Column,
      labelCol: Column,
      groupCols: Seq[Column],
      bins: Int = 10): DataFrame = {
    require(bins >= 2, s"graft: reliability needs bins >= 2, got $bins")
    val base = df.select(groupCols ++ Seq(probPpmCol.cast("long").as("_p"),
        labelCol.cast("boolean").cast("long").as("_y")): _*)
      .where(col("_p").isNotNull && col("_y").isNotNull)
    // group keys = whatever the caller's group columns surfaced as
    val gNames = base.columns.dropRight(2).toSeq
    // group columns resolve positionally, so a caller column named like an
    // internal would be silently shadowed (`bin` by the withColumn below)
    // or ambiguous (`_p`/`_y`) — reject rather than mis-bin
    require(gNames.intersect(Seq("_p", "_y", "bin")).isEmpty,
      "graft: reliabilityGrid group columns collide with internal names " +
        s"(_p/_y/bin) — alias them first; got $gNames")
    base
      .withColumn("bin",
        least(expr(s"(_p * ${bins}L) DIV 1000000L"), lit(bins - 1L)))
      .groupBy((gNames :+ "bin").map(col): _*)
      .agg(count(lit(1)).as("n"), sum(col("_y")).as("pos"),
        sum(col("_p")).as("conf_sum"))
  }

  /** Per-group ECE/MCE from a [[reliabilityGrid]] snapshot (or any
    * additive merge of snapshots) — the finish step, separated exactly
    * like [[graft.ops.sketch.hllEstimate]] so the grid can live in a
    * streaming sink and be read out at any time. */
  def eceFrom(grid: DataFrame, groupKeys: Seq[String]): DataFrame = {
    val g = grid.withColumn("_gap",
      abs(col("pos") * lit(1000000L) - col("conf_sum")))
    val agg = if (groupKeys.isEmpty) g.groupBy() else
      g.groupBy(groupKeys.map(col): _*)
    agg
      .agg(sum(col("n")).as("n_total"), sum(col("_gap")).as("_g"),
        max(expr("_gap DIV n")).as("mce_ppm"))
      .select(groupKeys.map(col) ++ Seq(col("n_total"),
        expr("_g DIV n_total").as("ece_ppm"), col("mce_ppm")): _*)
  }

  /** Isotonic-regression calibration fit (the PAV solution, computed
    * via its MINIMAX characterization, Barlow et al. 1972): over the
    * score VALUE GRID with per-value `(n, pos)`, the fitted
    * non-decreasing rate at grid point j is
    * `fit(j) = max_{i≤j} min_{k≥j} (pos[i..k]) / (n[i..k])` — exactly
    * what pool-adjacent-violators converges to, but expressed as two
    * window passes over the bounded pair grid instead of a sequential
    * pooling loop (which would not be a Spark shape). The standard
    * post-hoc calibrator: [[reliability]] DIAGNOSES miscalibration,
    * this FITS the monotone correction ([[graft.ops.sample
    * .calibrationMap]]'s histogram bins don't enforce monotonicity).
    *
    * Determinism: prefix sums are exact longs, each pooled ratio is
    * ONE double division of exact longs (IEEE-identical cross-engine),
    * min/max are order-free, and the surfaced fit quantizes to 6 dp —
    * engine-exact end-to-end. Monotone non-decreasing BY CONSTRUCTION
    * (j+1 maxes over a superset of i and mins over a subset of k),
    * even under the double arithmetic.
    *
    * Scale shape: one hash aggregate to the value grid (scores must be
    * QUANTIZED integers — the [[aucRank]] guidance; 100 TB of scored
    * rows cross the wire as one thin grid), an in-plan grid guard at
    * `maxGrid` (the [[kendallTau]] discipline — the pair stage squares
    * the grid), one broadcast self-join to the ≤ G(G+1)/2 pair grid,
    * and two grid-keyed windows (suffix-min per i, prefix-max per j).
    * Row volume never enters the quadratic stage.
    *
    * Returns `(s, n, pos, fit_q6)` ordered by score — the calibration
    * curve; apply downstream as a range join or broadcast lookup. */
  def isotonicFit(
      df: DataFrame,
      scoreCol: Column,
      labelCol: Column,
      maxGrid: Int = 512): DataFrame = {
    require(maxGrid >= 1, s"graft: isotonicFit needs maxGrid >= 1")
    val rows = df.select(scoreCol.cast("long").as("_s"),
        labelCol.cast("boolean").cast("long").as("_y"))
      .where(col("_s").isNotNull && col("_y").isNotNull)
    val wg = windows.boundedGlobal("isotonic-grid", col("_s"))
    val wAll = wg.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val run = wg.orderBy(col("_s"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val grid = rows.groupBy(col("_s"))
      .agg(count(lit(1)).as("_n"), sum(col("_y")).as("_p"))
      .withColumn("_gn", count(lit(1)).over(wAll))
      .withColumn("_n",
        when(col("_gn") > maxGrid.toLong,
          raise_error(format_string(
            "graft: isotonicFit score grid exceeds maxGrid (%s > " +
              s"$maxGrid values) — the pair stage squares the grid; " +
              "coarsen the score quantization", col("_gn"))).cast("long"))
        .otherwise(col("_n")))
      .withColumn("_j", row_number().over(wg.orderBy(col("_s"))))
      .withColumn("_cp", sum(col("_p")).over(run))
      .withColumn("_cn", sum(col("_n")).over(run))
    val iSide = grid.select(col("_j").as("_i"),
      (col("_cp") - col("_p")).as("_pi"), (col("_cn") - col("_n")).as("_ni"))
    val kSide = grid.select(col("_j").as("_k"),
      col("_cp").as("_pk"), col("_cn").as("_nk"))
    val pairs = iSide.join(broadcast(kSide), col("_k") >= col("_i"))
      .withColumn("_r", (col("_pk") - col("_pi")).cast("double") /
        (col("_nk") - col("_ni")).cast("double"))
    val wSufMin = Window.partitionBy(col("_i")).orderBy(col("_k").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val wPreMax = Window.partitionBy(col("_k")).orderBy(col("_i"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val fit = pairs
      .withColumn("_m", min(col("_r")).over(wSufMin))
      .withColumn("_f", max(col("_m")).over(wPreMax))
      .where(col("_i") === col("_k"))
      .select(col("_k").as("_j"), col("_f"))
    grid.join(fit, "_j")
      .select(col("_s").as("s"), col("_n").as("n"), col("_p").as("pos"),
        graft.functions.vectors.quantize(col("_f"), 6).as("fit_q6"))
  }

  /** APPLY an [[isotonicFit]] curve `(s, …, fit_q6)` to a scored corpus
    * — the fit→apply loop [[graft.ops.sample.calibrationMap]] closes
    * for histogram bins, for the monotone PAV fit. Step-function
    * semantics (the standard isotonic extension — constant outside the
    * training range): each row gets `fit_q6` of the LARGEST curve score
    * ≤ its own score; a score below the first grid point clamps to the
    * first fit value. The curve's grid may be COARSER than the applied
    * scores (fit on a 2-dp grid, apply to raw 4-dp scores after
    * rescaling the curve's `s`) — that is the point of the step lookup.
    *
    * Scale shape: the curve is bounded (≤ maxGrid rows by
    * [[isotonicFit]]'s own in-plan guard), so it collapses to ONE
    * sorted-array row (`sort_array ∘ collect_list` — order-free
    * upstream) and broadcast-cross-joins onto the corpus. No per-row
    * blowup, no range join, no sort of corpus rows: the lookup is a
    * row-local bounded scan of ≤ maxGrid struct entries. 100 TB of
    * scored rows never shuffle. */
  def isotonicApply(
      df: DataFrame,
      curve: DataFrame,
      scoreCol: Column,
      outCol: String = "calibrated_q6"): DataFrame = {
    val arr = curve.agg(
      sort_array(collect_list(struct(col("s"), col("fit_q6")))).as("_curve"))
    val matches = filter(col("_curve"), e => e.getField("s") <= scoreCol)
    df.crossJoin(broadcast(arr))
      .withColumn(outCol, coalesce(
        try_element_at(matches, lit(-1)).getField("fit_q6"),
        try_element_at(col("_curve"), lit(1)).getField("fit_q6")))
      .drop("_curve")
  }

  /** Poisson(1) CDF in ppm, k = 0..8: `floor(e⁻¹·Σ_{i≤k} 1/i! · 10⁶)`
    * — the driver-literal inverse-CDF table for [[bootstrapCI]]'s
    * Poisson bootstrap weights (a ppm uniform u maps to weight
    * `#{k : cdf_k ≤ u}`; P(X > 8) < 1.2e-6 truncates to weight 9). */
  val PoissonCdfPpm: Seq[Long] = Seq(367879L, 735758L, 919698L,
    981011L, 996340L, 999405L, 999916L, 999989L, 999998L)

  /** Poisson-bootstrap confidence interval for the MEAN of an integer
    * metric column — the data-card CI: every eval number shipped with
    * an uncertainty band instead of a bare point. The Poisson bootstrap
    * (Hanley & MacGibbon 2006; the standard distributed form) gives
    * each row an independent Poisson(1) weight per replicate —
    * equivalent to resampling-with-replacement at corpus scale without
    * materializing resamples.
    *
    * Deterministic: the per-row uniform is ONE md5
    * ([[graft.functions.hashing.h32]] of `id || ':boot'`) stretched to
    * `b` replicates by the affine family (the minhash-signature
    * discipline — one digest, b cheap arithmetic members), the weight
    * is an integer threshold count against [[PoissonCdfPpm]], replicate
    * means are single quantized divisions of exact long sums, and the
    * band is an order statistic over the b means (percentile indices
    * `⌊m·lo⌋+1` / `⌈m·hi⌉`, conservative outward) — bit-identical on
    * any engine, no RNG state anywhere.
    *
    * Scale shape: the corpus is scanned ONCE; the per-row ×b fan-out is
    * FOLDED into one [[graft.functions.ReplicateFoldAgg]] state of 2·b
    * longs per task (no ×b row materialization — r15), so the shuffle
    * carries one small array per partition, the order statistic runs on
    * a documented bounded global window over ≤ b rows, and the final
    * readout is one row. Returns `(n_rows, b_reps, mean_q6, lo_q6,
    * hi_q6)`.
    *
    * CLUSTER (block) bootstrap for free: pass a GROUP id (source,
    * domain, crawl host) as `idCol` and every row of a cluster draws
    * the SAME weights — resampling clusters, not rows, which is the
    * statistically honest CI when documents within a source are
    * correlated (the usual case in web corpora; row-level resampling
    * understates the variance). */
  def bootstrapCI(
      df: DataFrame,
      idCol: Column,
      valueCol: Column,
      b: Int = 200,
      loPpm: Long = 25000L,
      hiPpm: Long = 975000L): DataFrame =
    bootstrapImpl(df, Seq.empty, idCol, valueCol, b, loPpm, hiPpm)
      .select(col("n_rows"), col("b_reps"), col("mean_q6"),
        col("lo_q6"), col("hi_q6"))

  /** Per-GROUP [[bootstrapCI]] — the stratified data card (metric by
    * language/source/slice, each with its own uncertainty band). Same
    * determinism contract; the replicate aggregate keys on
    * (group, replicate) and each group's order statistic windows over
    * its own ≤ b replicate means, so everything after the scan is
    * groups×b-sized. Returns `(groupKeys…, n_rows, b_reps, mean_q6,
    * lo_q6, hi_q6)`. */
  def bootstrapCIBy(
      df: DataFrame,
      groupKeys: Seq[String],
      idCol: Column,
      valueCol: Column,
      b: Int = 200,
      loPpm: Long = 25000L,
      hiPpm: Long = 975000L): DataFrame = {
    require(groupKeys.nonEmpty, "graft: bootstrapCIBy needs group keys " +
      "(use bootstrapCI for the ungrouped form)")
    bootstrapImpl(df, groupKeys, idCol, valueCol, b, loPpm, hiPpm)
      .select((groupKeys.map(col) :+ col("n_rows") :+ col("b_reps")
        :+ col("mean_q6") :+ col("lo_q6") :+ col("hi_q6")): _*)
  }

  /** Poisson-bootstrap CI for a RATIO OF SUMS `Σnum / Σden` — the
    * data-card shape [[bootstrapCI]]'s mean cannot express: duplicated
    * tokens over total tokens, flagged chars over total chars, cost
    * over impressions. Each replicate reweights ROWS (both sums see the
    * same Poisson weights — one md5, the affine family, identical to
    * [[bootstrapCI]], which is this estimator with denominator 1), so
    * the replicate ratio is `Σw·num / Σw·den`; replicates whose
    * denominator draws to 0 are dropped (no ratio exists in that
    * resample). Cluster form for free: pass a group id as `idCol`.
    * Returns `(n_rows, b_reps, ratio_q6, lo_q6, hi_q6)`. */
  def bootstrapRatioCI(
      df: DataFrame,
      idCol: Column,
      numCol: Column,
      denCol: Column,
      b: Int = 200,
      loPpm: Long = 25000L,
      hiPpm: Long = 975000L): DataFrame =
    bootstrapImpl(df, Seq.empty, idCol, numCol, b, loPpm, hiPpm,
      denCol, "ratio_q6").drop("_wins")

  /** Stratified [[bootstrapRatioCI]] — one ratio band per group.
    * Returns `(groupKeys*, n_rows, b_reps, ratio_q6, lo_q6, hi_q6)`. */
  def bootstrapRatioCIBy(
      df: DataFrame,
      groupKeys: Seq[String],
      idCol: Column,
      numCol: Column,
      denCol: Column,
      b: Int = 200,
      loPpm: Long = 25000L,
      hiPpm: Long = 975000L): DataFrame = {
    require(groupKeys.nonEmpty, "graft: bootstrapRatioCIBy needs group " +
      "keys (use bootstrapRatioCI for the ungrouped form)")
    bootstrapImpl(df, groupKeys, idCol, numCol, b, loPpm, hiPpm,
      denCol, "ratio_q6")
      .select((groupKeys.map(col) :+ col("n_rows") :+ col("b_reps")
        :+ col("ratio_q6") :+ col("lo_q6") :+ col("hi_q6")): _*)
  }

  /** The bootstrap core behind every [[bootstrapCI]]-family readout:
    * `(groupKeys*, n_rows, <outName>, b_reps, lo_q6, hi_q6, _wins)`,
    * where `_wins` counts the replicates whose mean is above 0 (read
    * only by [[pairedBootstrap]]; column pruning drops it elsewhere). */
  private def bootstrapImpl(
      df: DataFrame,
      groupKeys: Seq[String],
      idCol: Column,
      valueCol: Column,
      b: Int,
      loPpm: Long,
      hiPpm: Long,
      denCol: Column = lit(1L),
      outName: String = "mean_q6",
      op: String = "bootstrapCI"): DataFrame = {
    require(b >= 2 && b <= 10000,
      s"graft: $op needs 2 <= b <= 10000, got $b")
    require(loPpm >= 0L && hiPpm <= 1000000L && loPpm < hiPpm,
      s"graft: $op needs 0 <= loPpm < hiPpm <= 1e6, got $loPpm, $hiPpm")
    import graft.functions.hashing
    val q6 = (c: Column) => graft.functions.vectors.quantize(c, 6)
    val gks = groupKeys.map(col)
    // a null id would hash to a null _h, zeroing that row out of every
    // replicate while the point mean still counted it — require all
    // three, so the point estimate and the replicates see the SAME
    // population. The mean form is the ratio form with denominator 1.
    val rows = df.select((gks :+ valueCol.cast("long").as("_x")
        :+ denCol.cast("long").as("_d")
        :+ hashing.h32(concat(idCol.cast("string"), lit(":boot"))).as("_h")): _*)
      .where(col("_x").isNotNull && col("_d").isNotNull && col("_h").isNotNull)
    val point = rows.groupBy(gks: _*).agg(count(lit(1)).as("n_rows"),
      q6(sum(col("_x")).cast("double") / sum(col("_d")).cast("double"))
        .as(outName))
    // The ×b replicate fan-out is FOLDED into one aggregate state of
    // 2·b longs per group (ReplicateFoldAgg) instead of exploding b
    // struct rows per input row into the hash aggregate — identical
    // sums (same affine family, same long-wrap arithmetic), but the
    // scan stage materializes n rows, not n·b (measured 2.5-4× on the
    // bootstrap family at sf0.1; optimization guide §1.2 "per-task
    // work"). The b-row explode now happens AFTER aggregation, on
    // groups×b rows.
    val reps = rows.groupBy(gks: _*)
      .agg(graft.functions.aggregates.bootFoldAgg(col("_h"), col("_x"),
        col("_d"), b, PoissonCdfPpm).as("_bf"))
      .select((gks :+ posexplode(col("_bf"))): _*)
      .select((gks :+ col("pos").cast("long").as("_rep")
        :+ col("col.a").as("_swx") :+ col("col.b").as("_sw")): _*)
      .where(col("_sw") > 0L)
      .select((gks :+ col("_rep")
        :+ q6(col("_swx").cast("double") / col("_sw").cast("double"))
          .as("_m")): _*)
    // per-group replicate windows: bounded by b rows per group (the
    // ungrouped form routes through the documented bounded-global key)
    val (wOrd, wAll) =
      if (groupKeys.isEmpty) {
        val bg = windows.boundedGlobal("bootstrap-reps", col("_rep"))
        (bg.orderBy(col("_m"), col("_rep")),
          bg.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
      } else {
        val pw = Window.partitionBy(gks: _*)
        (pw.orderBy(col("_m"), col("_rep")),
          pw.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
      }
    val band = reps
      .withColumn("_rn", row_number().over(wOrd))
      .withColumn("_mm", count(lit(1)).over(wAll))
      .groupBy(gks: _*)
      .agg(count(lit(1)).as("b_reps"),
        max(when(col("_rn") ===
          least(col("_mm"), greatest(lit(1L),
            expr(s"(_mm * $loPpm) DIV 1000000") + 1L)), col("_m")))
          .as("lo_q6"),
        max(when(col("_rn") ===
          least(col("_mm"), greatest(lit(1L),
            expr(s"(_mm * $hiPpm + 999999) DIV 1000000"))), col("_m")))
          .as("hi_q6"),
        sum(when(col("_m") > 0.0, 1L).otherwise(0L)).as("_wins"))
    if (groupKeys.isEmpty) point.crossJoin(broadcast(band))
    else point.join(broadcast(band), groupKeys)
  }

  /** PAIRED bootstrap comparison of two metric columns scored on the
    * SAME rows (system A vs system B — the standard significance test
    * for "is the eval difference real", Koehn 2004): every replicate
    * reweights ROWS (so both systems see identical resamples — the
    * pairing), and the readout is the mean difference with its
    * [[bootstrapCI]]-style band plus `win_ppm` — the fraction of
    * replicates where A strictly beats B (1e6 − win_ppm ≈ the
    * one-sided bootstrap p-value against A ≤ B when ties are rare).
    * Same determinism contract as [[bootstrapCI]]: one md5 per row,
    * affine replicate family, integer Poisson weights, exact long
    * sums, quantized single divisions.
    *
    * Returns one row `(n_rows, b_reps, diff_q6, lo_q6, hi_q6,
    * win_ppm)`. */
  def pairedBootstrap(
      df: DataFrame,
      idCol: Column,
      aCol: Column,
      bCol: Column,
      b: Int = 200,
      loPpm: Long = 25000L,
      hiPpm: Long = 975000L): DataFrame =
    bootstrapImpl(df, Seq.empty, idCol, aCol.cast("long") - bCol.cast("long"),
      b, loPpm, hiPpm, lit(1L), "diff_q6", "pairedBootstrap")
      .select(col("n_rows"), col("b_reps"), col("diff_q6"),
        col("lo_q6"), col("hi_q6"),
        expr("_wins * 1000000 DIV b_reps").as("win_ppm"))

  /** COHEN's d standardized effect size (with Hedges' g small-sample
    * correction) — the "how big, in noise units" companion the
    * significance suite needs: [[permTest]]/[[mannWhitney]] say whether
    * a gap is real, d says whether it matters (0.2 small / 0.5 medium /
    * 0.8 large by the usual reading).
    *
    * `d = (mean_A − mean_B) / s_pooled`, `s²_pooled =
    * (SS_A + SS_B)/(n−2)`; `g = d·(1 − 3/(4(n−2)−1))`. Sums (including
    * Σx² in DECIMAL(38,0) — squares of micro-scaled metrics overflow
    * int64) are exact; the assembly is a fixed double expression
    * quantized at the end. Null d when n−2 ≤ 0 or the pooled variance
    * is 0. Plan: ONE hash aggregate. Returns
    * `(n_a, n_b, mean_a_q6, mean_b_q6, d_q4, g_q4)`. */
  def cohensD(df: DataFrame, valueCol: Column, groupCol: Column): DataFrame = {
    val rows = df.select(valueCol.cast("long").as("_x"),
        groupCol.cast("boolean").cast("long").as("_g"))
      .where(col("_x").isNotNull && col("_g").isNotNull)
    val q6 = (c: Column) => graft.functions.vectors.quantize(c, 6)
    val q4 = (c: Column) => graft.functions.vectors.quantize(c, 4)
    rows.agg(
        sum(col("_g")).as("n_a"),
        sum(lit(1L) - col("_g")).as("n_b"),
        sum(col("_x") * col("_g")).as("_sa"),
        sum(col("_x") * (lit(1L) - col("_g"))).as("_sb"),
        sum(expr("CAST(_x AS DECIMAL(38,0)) * _x * _g")).as("_ssa"),
        sum(expr("CAST(_x AS DECIMAL(38,0)) * _x * (1 - _g)")).as("_ssb"))
      .withColumn("_ma", col("_sa").cast("double") / col("n_a").cast("double"))
      .withColumn("_mb", col("_sb").cast("double") / col("n_b").cast("double"))
      .withColumn("_va", col("_ssa").cast("double")
        - col("_sa").cast("double") * col("_sa").cast("double")
          / col("n_a").cast("double"))
      .withColumn("_vb", col("_ssb").cast("double")
        - col("_sb").cast("double") * col("_sb").cast("double")
          / col("n_b").cast("double"))
      .withColumn("_sp2", (col("_va") + col("_vb"))
        / (col("n_a") + col("n_b") - lit(2L)).cast("double"))
      .withColumn("_d", when(
          col("n_a") > 0L && col("n_b") > 0L
            && col("n_a") + col("n_b") > 2L && col("_sp2") > 0.0,
          (col("_ma") - col("_mb")) / sqrt(col("_sp2"))))
      .select(col("n_a"), col("n_b"),
        when(col("n_a") > 0L, q6(col("_ma"))).as("mean_a_q6"),
        when(col("n_b") > 0L, q6(col("_mb"))).as("mean_b_q6"),
        q4(col("_d")).as("d_q4"),
        q4(col("_d") * (lit(1.0) - lit(3.0)
          / (lit(4.0) * (col("n_a") + col("n_b") - lit(2L)).cast("double")
            - lit(1.0)))).as("g_q4"))
  }

  /** WELCH's t statistic (unequal variances) with the
    * Welch-Satterthwaite degrees of freedom — the parametric two-sample
    * readout beside [[mannWhitney]] (ranks) and [[permTest]] (exact
    * resampling): `t = (m_A − m_B) / √(v_A/n_A + v_B/n_B)`,
    * `df = (v_A/n_A + v_B/n_B)² / ((v_A/n_A)²/(n_A−1) +
    * (v_B/n_B)²/(n_B−1))` with sample variances. No p-value is emitted
    * (that needs a t CDF; judge t against df with your table) — the
    * statistic pair is the engine-exact part.
    *
    * Sums (Σx² in DECIMAL(38,0)) are exact; the assembly is a fixed
    * double expression quantized at the end. Null when either group has
    * < 2 rows or both variances are 0. Plan: ONE hash aggregate.
    * Returns `(n_a, n_b, mean_a_q6, mean_b_q6, t_q4, df_q2)`. */
  def welchT(df: DataFrame, valueCol: Column, groupCol: Column): DataFrame = {
    val rows = df.select(valueCol.cast("long").as("_x"),
        groupCol.cast("boolean").cast("long").as("_g"))
      .where(col("_x").isNotNull && col("_g").isNotNull)
    val q6 = (c: Column) => graft.functions.vectors.quantize(c, 6)
    rows.agg(
        sum(col("_g")).as("n_a"),
        sum(lit(1L) - col("_g")).as("n_b"),
        sum(col("_x") * col("_g")).as("_sa"),
        sum(col("_x") * (lit(1L) - col("_g"))).as("_sb"),
        sum(expr("CAST(_x AS DECIMAL(38,0)) * _x * _g")).as("_ssa"),
        sum(expr("CAST(_x AS DECIMAL(38,0)) * _x * (1 - _g)")).as("_ssb"))
      .withColumn("_ma", col("_sa").cast("double") / col("n_a").cast("double"))
      .withColumn("_mb", col("_sb").cast("double") / col("n_b").cast("double"))
      // sample variances: (Σx² − (Σx)²/n) / (n − 1)
      .withColumn("_va", (col("_ssa").cast("double")
        - col("_sa").cast("double") * col("_sa").cast("double")
          / col("n_a").cast("double"))
        / (col("n_a") - lit(1L)).cast("double"))
      .withColumn("_vb", (col("_ssb").cast("double")
        - col("_sb").cast("double") * col("_sb").cast("double")
          / col("n_b").cast("double"))
        / (col("n_b") - lit(1L)).cast("double"))
      .withColumn("_wa", col("_va") / col("n_a").cast("double"))
      .withColumn("_wb", col("_vb") / col("n_b").cast("double"))
      .withColumn("_ok", col("n_a") > 1L && col("n_b") > 1L
        && col("_wa") + col("_wb") > 0.0)
      .select(col("n_a"), col("n_b"),
        when(col("n_a") > 0L, q6(col("_ma"))).as("mean_a_q6"),
        when(col("n_b") > 0L, q6(col("_mb"))).as("mean_b_q6"),
        when(col("_ok"), graft.functions.vectors.quantize(
          (col("_ma") - col("_mb")) / sqrt(col("_wa") + col("_wb")), 4))
          .as("t_q4"),
        when(col("_ok"), graft.functions.vectors.quantize(
          (col("_wa") + col("_wb")) * (col("_wa") + col("_wb"))
            / (col("_wa") * col("_wa") / (col("n_a") - lit(1L)).cast("double")
              + col("_wb") * col("_wb")
                / (col("n_b") - lit(1L)).cast("double")), 2))
          .as("df_q2"))
  }

  /** McNEMAR's test for PAIRED binary outcomes (McNemar 1947) — two
    * systems scored right/wrong on the SAME items; only the discordant
    * cells carry evidence: `b` = A right & B wrong, `c` = A wrong & B
    * right, `χ² = (b−c)²/(b+c)`. The significance companion to
    * [[pairedBootstrap]] when the metric is 0/1 accuracy — and the
    * test that correctly IGNORES the items both systems get right (a
    * naive two-proportion test is confounded by them).
    *
    * Exact integers end-to-end: the four cells are exact counts and
    * `chi2_q6 = (b−c)²·10⁶ DIV (b+c)` is one truncating integer
    * division — `(b−c)²·10⁶` stays in int64 below
    * [[McnemarMaxDiscordant]] discordant pairs (ENFORCED in-plan; an
    * eval set, pre-sample beyond it); null when b+c = 0, no evidence.
    * Plan: ONE hash aggregate. Returns
    * `(n, both_right, both_wrong, b01, c10, chi2_q6)`. */
  def mcnemar(df: DataFrame, aCol: Column, bCol: Column): DataFrame = {
    val a = aCol.cast("boolean")
    val b = bCol.cast("boolean")
    df.where(a.isNotNull && b.isNotNull)
      .agg(count(lit(1)).as("n"),
        sum((a && b).cast("long")).as("both_right"),
        sum((!a && !b).cast("long")).as("both_wrong"),
        sum((a && !b).cast("long")).as("b01"),
        sum((!a && b).cast("long")).as("c10"))
      .withColumn("chi2_q6",
        when(col("b01") + col("c10") > McnemarMaxDiscordant,
          raise_error(format_string(
            "graft: mcnemar int64-exactness ceiling exceeded (%s " +
              s"discordant pairs > $McnemarMaxDiscordant) — (b-c)^2*1e6 " +
              "would wrap; pre-sample", col("b01") + col("c10"))).cast("long"))
        .when(col("b01") + col("c10") > 0L, expr(
          "((b01 - c10) * (b01 - c10) * 1000000) DIV (b01 + c10)")))
  }

  /** Discordant-pair ceiling for [[mcnemar]] (ENFORCED in-plan):
    * `(b−c)²·10⁶ ≤ 9·10¹⁸` holds to `|b−c| ≤ 3·10⁶`, and
    * `|b−c| ≤ b+c`. */
  val McnemarMaxDiscordant: Long = 3000000L

  /** WILSON score interval for a proportion (Wilson 1927) — the
    * pass-rate band that behaves at the extremes where the naive
    * normal interval collapses (k = 0 or k = n still gives a sane,
    * inside-[0,1] band): center `(p̂ + z²/2n) / (1 + z²/n)` with the
    * matching score-test half-width. The per-suite pass@1 uncertainty
    * readout for small eval sets.
    *
    * `zMilli` is z·1000 (1960 = the 95% band). Counts are exact longs;
    * the interval is a fixed closed-form double expression (one sqrt),
    * each bound quantized to 6 dp. Plan: ONE aggregate. Returns
    * `(n, k, p_q6, lo_q6, hi_q6)`. */
  def wilsonInterval(
      df: DataFrame,
      successCol: Column,
      zMilli: Long = 1960L): DataFrame = {
    require(zMilli >= 1L && zMilli <= 10000L,
      s"graft: wilsonInterval needs 1 <= zMilli <= 10000, got $zMilli")
    val q6 = (c: Column) => graft.functions.vectors.quantize(c, 6)
    val s = successCol.cast("boolean")
    df.where(s.isNotNull)
      .agg(count(lit(1)).as("n"), sum(s.cast("long")).as("k"))
      .withColumn("_z", lit(zMilli.toDouble / 1000.0))
      .withColumn("_nn", col("n").cast("double"))
      .withColumn("_p", col("k").cast("double") / col("_nn"))
      .withColumn("_den", lit(1.0) + col("_z") * col("_z") / col("_nn"))
      .withColumn("_ctr",
        (col("_p") + col("_z") * col("_z") / (lit(2.0) * col("_nn")))
          / col("_den"))
      .withColumn("_hw",
        col("_z") * sqrt(col("_p") * (lit(1.0) - col("_p")) / col("_nn")
          + col("_z") * col("_z") / (lit(4.0) * col("_nn") * col("_nn")))
          / col("_den"))
      .select(col("n"), col("k"),
        when(col("n") > 0L, q6(col("_p"))).as("p_q6"),
        when(col("n") > 0L, q6(col("_ctr") - col("_hw"))).as("lo_q6"),
        when(col("n") > 0L, q6(col("_ctr") + col("_hw"))).as("hi_q6"))
  }

  /** WINSORIZED mean of an integer metric column — the robust data-card
    * average a handful of outliers cannot own: values below the
    * `loPpm`-quantile clamp UP to it, above the `hiPpm`-quantile clamp
    * DOWN, then the plain mean. (Winsorize, not trim: row count — and
    * so comparability across slices — is preserved.)
    *
    * Exact-rank convention (the [[bootstrapCI]] band convention):
    * `lo_rank = (n·loPpm) DIV 10⁶ + 1`,
    * `hi_rank = (n·hiPpm + 999999) DIV 10⁶` (both clamped to [1, n]);
    * the bound VALUES are order statistics at those ranks over the
    * exact value grid — no interpolation, engine-neutral. All sums are
    * exact longs; the mean is ONE quantized division.
    *
    * Scale shape: values are exact grouping keys (quantize a continuous
    * metric first) — one data-axis hash aggregate, then everything runs
    * on the bounded value grid ([[aucRank]]'s discipline). Returns one
    * row `(n, lo_v, hi_v, mean_q6)`. */
  def winsorizedMean(
      df: DataFrame,
      valueCol: Column,
      loPpm: Long = 50000L,
      hiPpm: Long = 950000L): DataFrame = {
    require(loPpm >= 0L && hiPpm <= 1000000L && loPpm < hiPpm,
      s"graft: winsorizedMean needs 0 <= loPpm < hiPpm <= 1e6, " +
        s"got $loPpm, $hiPpm")
    val grid = df.select(valueCol.cast("long").as("_v"))
      .where(col("_v").isNotNull)
      .groupBy(col("_v")).agg(count(lit(1)).as("_c"))
    val w = windows.boundedGlobal("value-grid", col("_v")).orderBy(col("_v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // cut the ranked grid: three consumers (total, rank picks, clamped
    // sum) would otherwise each re-derive the data-axis aggregate if
    // exchange reuse is ever defeated — the chiSquare/anomaly-card
    // shared-grid discipline
    val ranked = ckpt.cut(grid
      .withColumn("_below", coalesce(sum(col("_c")).over(w), lit(0L))))
    val tot = ranked.agg(sum(col("_c")).as("n"))
      .withColumn("_lor", greatest(lit(1L),
        least(col("n"), expr(s"(n * $loPpm) DIV 1000000") + 1L)))
      .withColumn("_hir", greatest(lit(1L),
        least(col("n"), expr(s"(n * $hiPpm + 999999) DIV 1000000"))))
    val picks = ranked.crossJoin(broadcast(tot))
      .agg(
        min(when(col("_below") + col("_c") >= col("_lor"), col("_v")))
          .as("lo_v"),
        min(when(col("_below") + col("_c") >= col("_hir"), col("_v")))
          .as("hi_v"))
    ranked.crossJoin(broadcast(picks))
      .select((col("_c") * least(greatest(col("_v"), col("lo_v")),
        col("hi_v"))).as("_wv"))
      .agg(sum(col("_wv")).as("_s"))
      .crossJoin(broadcast(tot.select(col("n"))))
      .crossJoin(broadcast(picks))
      .select(col("n"), col("lo_v"), col("hi_v"),
        when(col("n") > 0L, graft.functions.vectors.quantize(
          col("_s").cast("double") / col("n").cast("double"), 6))
          .as("mean_q6"))
  }

  /** Rows a [[permTest]] input may carry before the DECIMAL(38,0)-exact
    * cross-multiplied mean comparison can overflow (ENFORCED in-plan,
    * together with [[PermTestMaxAbsSum]]): the compare is
    * `|a|·b ≤ (Σ|x|·n)·(n²/4)`, so `10¹⁵·n³/4 ≤ 10³⁸` holds to
    * n ≈ 7.3·10⁷ — 5·10⁷ keeps a digit of headroom. (The round-15 30×
    * rehearsal tripped the first, overly conservative 10⁶ cap on a
    * 3M-row grid — this is the corrected derivation.) */
  val PermTestMaxN: Long = 50000000L

  /** Σ|value| ceiling for [[permTest]] (ENFORCED in-plan): with
    * `n ≤ 5·10⁷` and `Σ|x| ≤ 10¹⁵`, `|a| = |s_A·n_B − s_B·n_A| ≤
    * Σ|x|·n ≤ 5·10²²` and `|a|·b ≤ 5·10²²·6.25·10¹⁴·… ≤ 3.2·10³⁷`
    * stays inside DECIMAL(38,0). */
  val PermTestMaxAbsSum: Long = 1000000000000000L

  /** Two-sample PERMUTATION test on the difference of means (Fisher
    * 1935, Monte-Carlo form) — the exact-under-the-null companion to
    * [[mannWhitney]] (which tests ranks) and [[pairedBootstrap]] (which
    * needs paired scores): each replicate REASSIGNS every row to A'/B'
    * by an unbiased deterministic coin and asks how often the permuted
    * |mean gap| reaches the observed one;
    * `p = (1 + #exceed) / (reps_eff + 1)` (the add-one Monte-Carlo
    * estimator, Davison & Hinkley 1997).
    *
    * Determinism & oracle-replicability: the coin is the [[bootstrapCI]]
    * machinery verbatim — one md5 per row (`id || ":perm"`), the affine
    * replicate family, bit = uniform < 500000. The exceed comparison is
    * EXACT: `|s_A'·n_B' − s_B'·n_A'| · n_A·n_B  ≥  |s_A·n_B − s_B·n_A| ·
    * n_A'·n_B'` in DECIMAL(38,0) under the two ceilings — no float
    * compare anywhere near the decision. Replicates where the coin
    * lands everyone on one side have no mean gap and are excluded
    * (`reps_eff` reports the survivors).
    *
    * Plan shape: one scan; the ×`reps` coin fan-out is FOLDED into one
    * [[graft.functions.ReplicateFoldAgg]] state of 2·`reps` longs per
    * task (no ×reps row materialization — r15); the exceed judgment
    * joins `reps` rows against the broadcast 1-row observed stats.
    * Returns one row
    * `(n_rows, n_a, n_b, reps_eff, diff_q6, p_ppm)`. */
  def permTest(
      df: DataFrame,
      idCol: Column,
      valueCol: Column,
      groupCol: Column,
      reps: Int = 200): DataFrame =
    permTestImpl(df, Seq.empty, idCol, valueCol, groupCol, reps)
      .select(col("n_rows"), col("n_a"), col("n_b"), col("reps_eff"),
        col("diff_q6"), col("p_ppm"))

  /** Per-STRATUM [[permTest]] — one p-value per key (per language, per
    * event type, per slice), the hypothesis family [[bhAdjust]] then
    * corrects. Every stratum runs its own coin sequence over its own
    * rows (the md5 id-hash is stratum-independent, so a row's coin
    * never changes when strata are added). Returns
    * `(keys…, n_rows, n_a, n_b, reps_eff, diff_q6, p_ppm)`. */
  def permTestBy(
      df: DataFrame,
      groupKeys: Seq[String],
      idCol: Column,
      valueCol: Column,
      groupCol: Column,
      reps: Int = 200): DataFrame = {
    require(groupKeys.nonEmpty, "graft: permTestBy needs group keys " +
      "(use permTest for the ungrouped form)")
    permTestImpl(df, groupKeys, idCol, valueCol, groupCol, reps)
      .select((groupKeys.map(col) :+ col("n_rows") :+ col("n_a")
        :+ col("n_b") :+ col("reps_eff") :+ col("diff_q6")
        :+ col("p_ppm")): _*)
  }

  private def permTestImpl(
      df: DataFrame,
      groupKeys: Seq[String],
      idCol: Column,
      valueCol: Column,
      groupCol: Column,
      reps: Int): DataFrame = {
    require(reps >= 2 && reps <= 10000,
      s"graft: permTest needs 2 <= reps <= 10000, got $reps")
    import graft.functions.hashing
    val gks = groupKeys.map(col)
    val rows = df.select((gks :+ valueCol.cast("long").as("_x")
        :+ groupCol.cast("boolean").cast("long").as("_g")
        :+ hashing.h32(concat(idCol.cast("string"), lit(":perm"))).as("_h")): _*)
      .where(col("_x").isNotNull && col("_g").isNotNull && col("_h").isNotNull)
    val obs = rows.groupBy(gks: _*).agg(
        count(lit(1)).as("n_rows"),
        sum(abs(col("_x"))).as("_sabs"),
        sum(col("_g")).as("n_a"),
        sum(col("_x") * col("_g")).as("_sa"),
        sum(col("_x")).as("_s"))
      .withColumn("n_rows",
        when(col("n_rows") > PermTestMaxN || col("_sabs") > PermTestMaxAbsSum,
          raise_error(format_string(
            "graft: permTest DECIMAL(38,0)-exactness ceiling exceeded " +
              s"(n = %s > $PermTestMaxN rows or sum|x| = %s > " +
              s"$PermTestMaxAbsSum) — pre-sample or rescale",
            col("n_rows"), col("_sabs"))).cast("long"))
          .otherwise(col("n_rows")))
      .withColumn("n_b", col("n_rows") - col("n_a"))
      .withColumn("_sb", col("_s") - col("_sa"))
      .withColumn("_ao", expr(
        "abs(CAST(_sa AS DECIMAL(38,0)) * n_b - CAST(_sb AS DECIMAL(38,0)) * n_a)"))
      .withColumn("_bo", expr("CAST(n_a AS DECIMAL(38,0)) * n_b"))
      .withColumn("diff_q6",
        when(col("n_a") > 0L && col("n_b") > 0L,
          graft.functions.vectors.quantize(
            col("_sa").cast("double") / col("n_a").cast("double")
              - col("_sb").cast("double") / col("n_b").cast("double"), 6)))
    // ×reps coin fan-out folded into ONE aggregate state (2·reps longs
    // per stratum — ReplicateFoldAgg, permutation mode) instead of
    // exploding reps rows per input row: identical sums (same affine
    // coin, same long arithmetic), but the scan stage stays n rows.
    // The per-stratum count/sum (_n/_sr) are replicate-independent and
    // ride the same aggregate; the reps-row explode happens after.
    val perm = rows.groupBy(gks: _*)
      .agg(count(lit(1)).as("_n"), sum(col("_x")).as("_sr"),
        graft.functions.aggregates.permFoldAgg(col("_h"), col("_x"), reps)
          .as("_pf"))
      .select((gks :+ col("_n") :+ col("_sr") :+ posexplode(col("_pf"))): _*)
      .select((gks :+ col("pos").cast("long").as("_rep") :+ col("_n")
        :+ col("col.b").as("_nar") :+ col("col.a").as("_sar")
        :+ col("_sr")): _*)
      .withColumn("_nbr", col("_n") - col("_nar"))
      .withColumn("_sbr", col("_sr") - col("_sar"))
      .withColumn("_ar", expr(
        "abs(CAST(_sar AS DECIMAL(38,0)) * _nbr - CAST(_sbr AS DECIMAL(38,0)) * _nar)"))
      .withColumn("_br", expr("CAST(_nar AS DECIMAL(38,0)) * _nbr"))
      .where(col("_br") > 0)
    val obsSide = broadcast(obs.select((gks :+ col("_ao").as("_oao")
      :+ col("_bo").as("_obo")): _*))
    val joined =
      if (groupKeys.isEmpty) perm.crossJoin(obsSide)
      else perm.join(obsSide, groupKeys)
    val tally = joined
      .groupBy(gks: _*)
      .agg(count(lit(1)).as("reps_eff"),
        sum((col("_ar") * col("_obo") >= col("_oao") * col("_br"))
          .cast("long")).as("_exceed"))
    val out =
      if (groupKeys.isEmpty) obs.crossJoin(broadcast(tally))
      // LEFT: a stratum whose every replicate degenerated (all rows on
      // one side of every coin) still surfaces, with a null p
      else obs.join(broadcast(tally), groupKeys, "left")
    out.withColumn("p_ppm",
      when(col("_bo") > 0 && col("reps_eff") > 0L,
        expr("((1 + _exceed) * 1000000) DIV (reps_eff + 1)")))
  }

  /** Benjamini-Hochberg FDR correction (Benjamini & Hochberg 1995) over
    * a table of per-hypothesis p-values (ppm longs — [[permTestBy]]'s
    * output shape): rank the m p-values ascending, adjust
    * `p_adj(k) = min_{j ≥ k} min(1, p(j)·m/j)` (the step-up running
    * minimum), reject where `p_adj ≤ q`. The multiple-comparisons gate
    * a per-slice significance sweep must pass before any slice's "real
    * effect" claim ships in a data card.
    *
    * Exact integers throughout: `(p·m) DIV j` truncating (both engines,
    * nonneg operands), ties in the rank broken on the key columns. Null
    * p-values (degenerate strata) are excluded from m — they carry no
    * evidence and would dilute the correction.
    *
    * Plan shape: m hypotheses = a bounded grid (slices, not rows); two
    * bounded-global windows (rank, back-running min). Returns
    * `(keys…, p_ppm, rank, m, p_adj_ppm, rejected)`. */
  def bhAdjust(
      df: DataFrame,
      keyCols: Seq[String],
      pCol: Column,
      qPpm: Long = 50000L): DataFrame = {
    require(keyCols.nonEmpty, "graft: bhAdjust needs key columns")
    require(qPpm >= 0L && qPpm <= 1000000L,
      s"graft: bhAdjust needs 0 <= qPpm <= 1e6, got $qPpm")
    val keyed = df
      .select((keyCols.map(col) :+ pCol.cast("long").as("p_ppm")): _*)
      .where(col("p_ppm").isNotNull)
    val bg = windows.boundedGlobal("hypotheses", col(keyCols.head))
    val ord = bg.orderBy((col("p_ppm") +: keyCols.map(col)): _*)
    val wAll = bg.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val wBack = bg.orderBy(col("rank").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    keyed
      .withColumn("rank", row_number().over(ord).cast("long"))
      .withColumn("m", count(lit(1)).over(wAll))
      .withColumn("_raw", least(lit(1000000L), expr("(p_ppm * m) DIV rank")))
      .withColumn("p_adj_ppm", min(col("_raw")).over(wBack))
      .withColumn("rejected", (col("p_adj_ppm") <= qPpm).cast("long"))
      .select((keyCols.map(col) :+ col("p_ppm") :+ col("rank") :+ col("m")
        :+ col("p_adj_ppm") :+ col("rejected")): _*)
  }

  /** Murphy (1973) decomposition of the Brier score from the
    * [[reliabilityGrid]]: REL (calibration — how far each bin's mean
    * confidence sits from its accuracy), RES (resolution — how far bin
    * accuracies spread from the base rate; higher is better), UNC
    * (irreducible base-rate variance). The why-is-my-Brier-bad
    * companion to [[ece]]: a model can be badly calibrated yet
    * high-resolution (fix with [[graft.ops.sample.calibrationMap]]) or
    * calibrated but resolution-free (nothing to fix — retrain).
    *
    * Quantized-estimator form (engine-exact, the repo's
    * quantize-then-sum discipline): per bin, `acc_ppm` and `conf_ppm`
    * are truncating ppm quotients, the weighted squared gaps
    * `n_b·(conf_ppm − acc_ppm)²` and `n_b·(acc_ppm − ybar_ppm)²` sum
    * in DECIMAL(38,0) (≤ N·10¹² — longs would wrap past ~9M rows), and
    * each divides once by N into 1e-12 fixed point. Because the inputs
    * are quantized per bin, `REL − RES + UNC` tracks the exact Brier
    * only to ppm-quantization error — the three readouts are the
    * deliverable, not the identity.
    *
    * Plan shape: the grid aggregate (map-side combined) plus two 1-row
    * broadcasts. Returns one row
    * `(n, pos, ybar_ppm, rel_q12, res_q12, unc_q12)`. */
  def brierDecomp(
      df: DataFrame,
      probPpmCol: Column,
      labelCol: Column,
      bins: Int = 10): DataFrame = {
    val grid = reliabilityGrid(df, probPpmCol, labelCol, Nil, bins)
    val tot = grid.agg(sum(col("n")).as("n_tot"), sum(col("pos")).as("pos_tot"))
      .withColumn("ybar_ppm", expr("(pos_tot * 1000000L) DIV n_tot"))
    grid.crossJoin(broadcast(tot))
      .select(col("n").as("_nb"), col("pos").as("_pb"),
        col("conf_sum").as("_cs"), col("n_tot"), col("pos_tot"),
        col("ybar_ppm"))
      .groupBy(col("n_tot"), col("pos_tot"), col("ybar_ppm"))
      .agg(
        sum(expr("CAST(_nb AS DECIMAL(38,0)) * " +
          "((_cs DIV _nb) - ((_pb * 1000000L) DIV _nb)) * " +
          "((_cs DIV _nb) - ((_pb * 1000000L) DIV _nb))")).as("_rel"),
        sum(expr("CAST(_nb AS DECIMAL(38,0)) * " +
          "(((_pb * 1000000L) DIV _nb) - ybar_ppm) * " +
          "(((_pb * 1000000L) DIV _nb) - ybar_ppm)")).as("_res"))
      .select(col("n_tot").as("n"), col("pos_tot").as("pos"),
        col("ybar_ppm"),
        expr("CAST(_rel DIV n_tot AS LONG)").as("rel_q12"),
        expr("CAST(_res DIV n_tot AS LONG)").as("res_q12"),
        expr("ybar_ppm * (1000000L - ybar_ppm)").as("unc_q12"))
  }

  /** Expected + maximum calibration error from the [[reliability]] grid:
    * `ece_ppm = (Σ_b |pos_b·1e6 − Σprob_b|) DIV N` (exact — the bin
    * weights n_b/N cancel against the per-bin denominators) and
    * `mce_ppm = max_b gap_abs·1e6 / (n_b·1e6)` (the worst bin's gap).
    * One row `(n_total, ece_ppm, mce_ppm)`. */
  def ece(
      df: DataFrame,
      probPpmCol: Column,
      labelCol: Column,
      bins: Int = 10): DataFrame =
    eceFrom(reliabilityGrid(df, probPpmCol, labelCol, Nil, bins), Nil)

  /** Exact Spearman rank correlation between two quantized scores, ties
    * at average rank. Doubled mid-ranks keep everything in longs (the
    * [[aucRank]] identity: a tie group of `cnt` rows after `below`
    * smaller values has doubled mid-rank `2·below + cnt + 1`); the rank
    * maps are VALUE GRIDS (bounded by the quantization domain, the
    * [[graft.ops.rel.rfm]] discipline) broadcast back onto the rows, so
    * the only row-volume costs are two grid aggregates and one final
    * sum. `rho = (n·Sxy − Sx·Sy) / √(n·Sxx − Sx²) / √(n·Syy − Sy²)`
    * over doubled ranks — numerator and both radicands surfaced as
    * exact longs, rho as the one 4-dp-quantized float chain (IEEE sqrt
    * is correctly rounded, so the chain is engine-identical).
    *
    * Long-exactness ceiling: `n·Sxx ≤ 4n⁴` caps the EVAL SET at
    * [[SpearmanMaxN]] rows before int64 wraps — an eval set, not a
    * corpus; pre-sample larger sets (the [[aucRank]] guidance, tighter
    * here because ranks enter squared). ENFORCED in-plan (the
    * [[graft.ops.sketch.cmJoinSize]] raise_error precedent): past the
    * ceiling the moments would wrap SILENTLY and rho would read
    * plausible-but-wrong, so the query errors instead.
    *
    * Returns one row `(n, num, den_x, den_y, rho)`. */
  def spearman(
      df: DataFrame,
      xCol: Column,
      yCol: Column): DataFrame = {
    val rows = df.select(xCol.as("_x"), yCol.as("_y"))
      .where(col("_x").isNotNull && col("_y").isNotNull)
    def rankGrid(c: String): DataFrame = {
      val g = rows.groupBy(col(c).as("_v")).agg(count(lit(1)).as("_cnt"))
      val w = windows.boundedGlobal(s"spearman-$c-grid", col("_v"))
        .orderBy(col("_v"))
        .rowsBetween(Window.unboundedPreceding, -1)
      g.withColumn("_below", coalesce(sum(col("_cnt")).over(w), lit(0L)))
        .select(col("_v").as(s"_k$c"),
          (lit(2L) * col("_below") + col("_cnt") + lit(1L)).as(s"_r$c"))
    }
    rows
      .join(broadcast(rankGrid("_x")), col("_x") === col("_k_x"))
      .join(broadcast(rankGrid("_y")), col("_y") === col("_k_y"))
      .agg(count(lit(1)).as("n"),
        sum(col("_r_x") * col("_r_y")).as("_sxy"),
        sum(col("_r_x") * col("_r_x")).as("_sxx"),
        sum(col("_r_y") * col("_r_y")).as("_syy"))
      .select(col("n"),
        // Σ2r = n(n+1) identically (rank sums are fixed), so the
        // centering terms need no extra aggregate
        (col("n") * col("_sxy") - col("n") * (col("n") + 1L)
          * col("n") * (col("n") + 1L)).as("num"),
        (col("n") * col("_sxx") - col("n") * (col("n") + 1L)
          * col("n") * (col("n") + 1L)).as("den_x"),
        (col("n") * col("_syy") - col("n") * (col("n") + 1L)
          * col("n") * (col("n") + 1L)).as("den_y"))
      .withColumn("rho",
        when(col("n") > SpearmanMaxN,
          raise_error(format_string(
            "graft: spearman int64-exactness ceiling exceeded (n = %s > " +
              s"$SpearmanMaxN rows) — rank moments would wrap; pre-sample " +
              "the eval set", col("n"))).cast("double"))
        .otherwise(when(col("den_x") > 0L && col("den_y") > 0L,
          floor(col("num").cast("double") /
            sqrt(col("den_x").cast("double")) /
            sqrt(col("den_y").cast("double")) * 10000.0 + 0.5) / 10000.0)))
  }

  /** [[spearman]]'s hard exactness bound: doubled mid-ranks are ≤ 2n, so
    * the largest moment term `n·Sxx ≤ 4n⁴` stays under 2⁶³ only for
    * n ≤ ~38968; 38000 leaves margin. */
  val SpearmanMaxN: Long = 38000L

  /** Kendall's τ-b — the concordance twin of [[spearman]] (rank
    * correlation robust to monotone transforms, the standard agreement
    * readout between two scorers/judges): exact concordant/discordant
    * pair masses `C = Σ_{x↑,y↑} n_a·n_b`, `D = Σ_{x↑,y↓} n_a·n_b`
    * counted over the JOINT value grid (cells, not rows — `n_a·n_b`
    * covers every row pair at once), tie corrections from the marginal
    * grids, and `τ_b = (C−D)/(√(n₀−n₁)·√(n₀−n₂))` as the one quantized
    * float at the end (spearman's division chain).
    *
    * Scale shape: one (x, y) hash-aggregate to the joint grid, then a
    * BROADCAST nested-loop self-pairing of grid CELLS — quadratic in
    * the grid, never in rows, which is why inputs must be QUANTIZED
    * integer scores (the [[aucRank]] guidance). The grid bound is
    * ENFORCED in-plan (`maxGrid`, default 8192 → ≤ 67M cell pairs;
    * raise_error past it — the cmJoinSize discipline): pre-sample or
    * coarsen the quantization for wider eval sets. Exact while
    * pair masses stay under 2⁶³ (n ≤ ~3·10⁹ rows).
    *
    * Returns one row `(n, conc, disc, tie_x, tie_y, tau_q4)`. */
  def kendallTau(
      df: DataFrame,
      xCol: Column,
      yCol: Column,
      maxGrid: Int = 8192): DataFrame = {
    require(maxGrid >= 1, s"graft: kendallTau needs maxGrid >= 1")
    val rows = df.select(xCol.cast("long").as("_x"), yCol.cast("long").as("_y"))
      .where(col("_x").isNotNull && col("_y").isNotNull)
    val wAll = windows.boundedGlobal("joint-grid", col("_x"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val grid = rows.groupBy(col("_x"), col("_y"))
      .agg(count(lit(1)).as("_c"))
      .withColumn("_gn", count(lit(1)).over(wAll))
      .select(col("_x"), col("_y"),
        when(col("_gn") > maxGrid.toLong,
          raise_error(format_string(
            "graft: kendallTau joint grid exceeds maxGrid (%s > " +
              s"$maxGrid cells) — coarsen the score quantization or " +
              "pre-sample the eval set", col("_gn"))).cast("long"))
          .otherwise(col("_c")).as("_c"))
    val a = grid.select(col("_x").as("_ax"), col("_y").as("_ay"),
      col("_c").as("_ac"))
    val b = grid.select(col("_x").as("_bx"), col("_y").as("_by"),
      col("_c").as("_bc"))
    val cd = a.join(broadcast(b), col("_ax") < col("_bx"))
      .agg(
        coalesce(sum(when(col("_ay") < col("_by"), col("_ac") * col("_bc"))
          .otherwise(lit(0L))), lit(0L)).as("conc"),
        coalesce(sum(when(col("_ay") > col("_by"), col("_ac") * col("_bc"))
          .otherwise(lit(0L))), lit(0L)).as("disc"))
    def tiePairs(c: String, as: String) = rows.groupBy(col(c))
      .agg(count(lit(1)).as("_t"))
      .agg(coalesce(sum(col("_t") * (col("_t") - 1L)), lit(0L)).as("_tt"))
      .select(expr("_tt DIV 2").as(as))
    val tot = rows.agg(count(lit(1)).as("n"))
      .crossJoin(tiePairs("_x", "tie_x"))
      .crossJoin(tiePairs("_y", "tie_y"))
    tot.crossJoin(cd)
      .withColumn("_n0", expr("(n * (n - 1)) DIV 2"))
      .select(col("n"), col("conc"), col("disc"),
        col("tie_x"), col("tie_y"),
        when(col("_n0") > col("tie_x") && col("_n0") > col("tie_y"),
          floor((col("conc") - col("disc")).cast("double") /
            sqrt((col("_n0") - col("tie_x")).cast("double")) /
            sqrt((col("_n0") - col("tie_y")).cast("double"))
            * 10000.0 + 0.5) / 10000.0).as("tau_q4"))
  }

  /** Pairwise preference win rate — the A/B readout of a generation
    * eval: per comparison row, does scorer/system A beat B? Exact
    * win/tie/loss counts plus `win_ppm` (ties excluded from the
    * numerator, in the denominator) and the tie-aware
    * `win_tie_ppm = (2·wins + ties)/(2n)` convention. Comparisons
    * should be on QUANTIZED integer scores (the [[aucRank]] guidance) —
    * raw-float equality would make the tie row engine-fragile. One
    * hash-aggregate row; for error bars, feed the per-row indicator
    * (1 / 0.5 / 0) to [[graft.ops.sample.bootstrapCI]] (the
    * `eval_winrate_ci` query shape).
    *
    * Returns one row `(n, wins, ties, losses, win_ppm, win_tie_ppm)`. */
  def winRate(df: DataFrame, aCol: Column, bCol: Column): DataFrame =
    df.select(aCol.as("_a"), bCol.as("_b"))
      .where(col("_a").isNotNull && col("_b").isNotNull)
      .agg(count(lit(1)).as("n"),
        sum((col("_a") > col("_b")).cast("long")).as("wins"),
        sum((col("_a") === col("_b")).cast("long")).as("ties"),
        sum((col("_a") < col("_b")).cast("long")).as("losses"))
      .withColumn("win_ppm",
        when(col("n") > 0L, expr("(wins * 1000000L) DIV n")))
      .withColumn("win_tie_ppm", when(col("n") > 0L,
        expr("((2L * wins + ties) * 1000000L) DIV (2L * n)")))

  /** Grouped MERGEABLE win-rate counts — [[winRate]]'s build step, the
    * [[reliabilityGrid]] shape: per group, exact `(n, wins, ties,
    * losses)` sums. Four sums make it a legal watermarked STREAMING
    * aggregation (the [[graft.streaming.EventStream.winRateStream]]
    * delegate), and sink snapshots MERGE BY ADDITION across
    * restarts/backfills; [[winRateFrom]] finishes any snapshot into the
    * ppm conventions. Same name-collision fence as [[reliabilityGrid]]
    * (positional group-column resolution would silently shadow
    * `_a`/`_b`). */
  def winRateGrid(
      df: DataFrame,
      aCol: Column,
      bCol: Column,
      groupCols: Seq[Column]): DataFrame = {
    val base = df.select(groupCols ++ Seq(aCol.as("_a"), bCol.as("_b")): _*)
      .where(col("_a").isNotNull && col("_b").isNotNull)
    val gNames = base.columns.dropRight(2).toSeq
    require(gNames.intersect(Seq("_a", "_b")).isEmpty,
      "graft: winRateGrid group columns collide with internal names " +
        s"(_a/_b) — alias them first; got $gNames")
    val agg = if (gNames.isEmpty) base.groupBy()
      else base.groupBy(gNames.map(col): _*)
    agg.agg(count(lit(1)).as("n"),
      sum((col("_a") > col("_b")).cast("long")).as("wins"),
      sum((col("_a") === col("_b")).cast("long")).as("ties"),
      sum((col("_a") < col("_b")).cast("long")).as("losses"))
  }

  /** Per-group win-rate conventions from a [[winRateGrid]] snapshot (or
    * any additive merge of snapshots) — the finish step, separated like
    * [[eceFrom]] so the grid can live in a streaming sink and be read
    * out at any time. Returns per key `(n, wins, ties, losses, win_ppm,
    * win_tie_ppm)` — the [[winRate]] conventions exactly. */
  def winRateFrom(grid: DataFrame, groupKeys: Seq[String]): DataFrame = {
    val agg = if (groupKeys.isEmpty) grid.groupBy()
      else grid.groupBy(groupKeys.map(col): _*)
    agg.agg(sum(col("n")).as("n"), sum(col("wins")).as("wins"),
        sum(col("ties")).as("ties"), sum(col("losses")).as("losses"))
      .withColumn("win_ppm",
        when(col("n") > 0L, expr("(wins * 1000000L) DIV n")))
      .withColumn("win_tie_ppm", when(col("n") > 0L,
        expr("((2L * wins + ties) * 1000000L) DIV (2L * n)")))
  }

  /** Corpus n-gram diversity (distinct-n, Li et al. 2016): distinct
    * word n-grams over total n-grams, the standard
    * generation-diversity read-out (low distinct-2 = the model repeats
    * itself). Exact: one explode, one distinct-aggregate keyed on the
    * gram (map-side combined), ppm quotient. One row per n.
    *
    * Returns `(n, total, uniq, distinct_ppm)` ordered by n. */
  def distinctNgrams(
      df: DataFrame,
      textCol: Column,
      ns: Seq[Int] = Seq(1, 2)): DataFrame = {
    require(ns.nonEmpty && ns.forall(_ >= 1),
      s"graft: distinctNgrams needs ns >= 1, got $ns")
    val toks = df.select(text.tokens(textCol).as("_ts"))
    ns.map { n =>
      toks.select(explode(gramsOfToks(col("_ts"), n)).as("_g"))
        .agg(count(lit(1)).as("total"),
          count_distinct(col("_g")).as("uniq"))
        .select(lit(n.toLong).as("n"), col("total"), col("uniq"),
          when(col("total") > 0L, expr("(uniq * 1000000L) DIV total"))
            .as("distinct_ppm"))
    }.reduce(_ unionAll _)
  }

  /** BERTScore-style embedding overlap (Zhang et al. 2020, greedy
    * matching): candidate and reference sides are token-embedding
    * MATRICES flattened row-major into one array column of
    * `nTokens · dim` elements (the [[graft.ops.retrieval.maxSimTopK]]
    * sliced layout). Per pair, precision is the mean over candidate
    * tokens of the max cosine against any reference token, recall the
    * symmetric direction, F1 the harmonic mean — the semantic
    * generation-eval member the n-gram meters can't cover (a correct
    * paraphrase scores ~0 ROUGE but high embed-F1).
    *
    * Exactness: each of the nTokens² cosines quantizes to a 4-dp
    * integer (`floor(cos·10⁴ + 0.5)` — dot, two inverse norms, one
    * IEEE-exact chain, the [[aucRank]]-family scorer discipline), maxima
    * and sums are exact integer ops, and F1 needs NO float at all: with
    * P = p_sum/n and R = r_sum/n over the common n,
    * `2PR/(P+R) = 2·p_sum·r_sum / (n·(p_sum+r_sum))` — one integer DIV,
    * guarded POSITIVE (truncating DIV and floor-`//` only agree on
    * non-negative operands, so a pair whose summed maxima are not both
    * positive surfaces NULL f1; the sums still read).
    *
    * Plan shape: token slices, their inverse norms, and the nTokens²
    * quantized cosines are successive bound projections of ONE scan —
    * row-local, zero shuffle (the [[ngramOverlap]] scale shape); the
    * unrolled cosine lattice is the maxSimTopK precedent. Rows with a
    * NULL side are dropped (unscorable); a non-NULL side of the wrong
    * length raises in-plan (the SearchPlan dim-guard precedent — a
    * silently short slice would truncate the dot product).
    *
    * Returns `(idCol, p_sum_q4, r_sum_q4, f1_q4)`. */
  def embedF1(
      df: DataFrame,
      idCol: Column,
      candCol: Column,
      refCol: Column,
      nTokens: Int,
      dim: Int): DataFrame = {
    require(nTokens >= 1 && nTokens <= 16,
      s"graft: embedF1 needs 1 <= nTokens <= 16 (unrolled lattice), got $nTokens")
    require(dim >= 1, s"graft: embedF1 needs dim >= 1, got $dim")
    import graft.functions.vectors
    val idName = idCol.toString
    val width = nTokens * dim
    val guardedId = when(
      size(candCol) === lit(width) && size(refCol) === lit(width), idCol)
      .otherwise(raise_error(format_string(
        s"graft: embedF1 expects $width elements per side " +
          s"($nTokens tokens x $dim dims); got cand %s / ref %s",
        size(candCol), size(refCol))))
    val sliced = df
      .where(candCol.isNotNull && refCol.isNotNull)
      .select(Seq(guardedId.as(idName)) ++
        (0 until nTokens).map(i => slice(candCol, i * dim + 1, dim).as(s"_c$i")) ++
        (0 until nTokens).map(j => slice(refCol, j * dim + 1, dim).as(s"_r$j")): _*)
    val withInv = sliced.select(Seq(col(idName)) ++
      (0 until nTokens).flatMap(i => Seq(col(s"_c$i"), col(s"_r$i"))) ++
      (0 until nTokens).flatMap(i => Seq(
        vectors.invNorm(col(s"_c$i")).as(s"_ic$i"),
        vectors.invNorm(col(s"_r$i")).as(s"_ir$i"))): _*)
    def cosQ4(i: Int, j: Int): Column =
      floor(vectors.cosineWithInvNorms(col(s"_c$i"), col(s"_ic$i"),
        col(s"_r$j"), col(s"_ir$j")) * 10000.0 + 0.5).cast("long")
    val scored = withInv.select(Seq(col(idName)) ++
      (0 until nTokens).flatMap(i =>
        (0 until nTokens).map(j => cosQ4(i, j).as(s"_s${i}_$j"))): _*)
    def maxOf(cs: Seq[Column]): Column =
      if (cs.size == 1) cs.head else greatest(cs: _*)
    val pSum = (0 until nTokens)
      .map(i => maxOf((0 until nTokens).map(j => col(s"_s${i}_$j"))))
      .reduce(_ + _)
    val rSum = (0 until nTokens)
      .map(j => maxOf((0 until nTokens).map(i => col(s"_s${i}_$j"))))
      .reduce(_ + _)
    scored
      .select(col(idName), pSum.as("p_sum_q4"), rSum.as("r_sum_q4"))
      .withColumn("f1_q4",
        when(col("p_sum_q4") > 0L && col("r_sum_q4") > 0L,
          expr(s"(2L * p_sum_q4 * r_sum_q4) DIV " +
            s"(${nTokens}L * (p_sum_q4 + r_sum_q4))")))
  }

  // ————— generation-overlap metrics (candidate vs reference text) —————
  // The read-out side of a GENERATION eval set: (id, candidate,
  // reference) text pairs → clipped n-gram overlap (ROUGE-N / BLEU-n
  // modified precision), character-n-gram F (chrF), edit similarity.
  // Same exact-integer discipline as the ranking meters: overlap counts
  // are exact longs, ratios are truncating ppm quotients, and the one
  // transcendental (ln, for log-BLEU) is quantized PER TERM to 1e-6
  // fixed point before the order-free long sum.

  /** Word n-grams of an already-materialized token ARRAY attribute, in
    * order with multiplicity. HOF lambdas re-evaluate captured
    * subtrees per element (higher-order functions sit outside
    * whole-stage codegen), so the token array must be a bound column of
    * a prior projection, NOT `tokens(text)` inline — inline, a 50-token
    * document re-tokenizes ~50× per n level (measured 30-70 s at sf0.1
    * vs ~1 s with the projection). [[text.ngramList]] keeps the
    * text-input convenience form; this is the hot-path twin. */
  private def gramsOfToks(ts: Column, n: Int): Column =
    when(size(ts) >= n,
      transform(sequence(lit(1), size(ts) - (n - 1)),
        i => concat_ws(" ", slice(ts, i, lit(n)))))
      .otherwise(array().cast("array<string>"))

  private def tagGrams(gs: Column, isCand: Boolean): Column =
    transform(gs, g => struct(g.as("gram"),
      lit(if (isCand) 1L else 0L).as("c"),
      lit(if (isCand) 0L else 1L).as("r")))

  /** `(_id, _ct, _rt)` — pairs with both sides tokenized ONCE into
    * array attributes (see [[gramsOfToks]] for why this projection is
    * load-bearing, not style). */
  private[graft] def tokenized(pairs: DataFrame): DataFrame =
    pairs.select(col("_id"), text.tokens(col("_cand")).as("_ct"),
      text.tokens(col("_ref")).as("_rt"))

  /** Per-(pair, n, gram) candidate/reference counts for each n in `ns` —
    * the EXPLODED executable spec of [[graft.functions.NativeExprs
    * .genOverlapOf]] (one explode + one hash aggregate keyed on
    * (id, n, gram)), pinned equal to the kernel in EvalSpec. The
    * production meters use the kernel: the overlap is pair-LOCAL, so a
    * per-row pass beats a shuffle at any scale, and interpreted HOF
    * lambdas made this path ~60 ms/doc at 4 n-orders. */
  private[graft] def gramCounts(
      toks: DataFrame, ns: Seq[Int]): DataFrame = {
    val tagged = ns.map { n =>
      toks.select(col("_id"), lit(n).as("n"),
        concat(tagGrams(gramsOfToks(col("_ct"), n), isCand = true),
          tagGrams(gramsOfToks(col("_rt"), n), isCand = false)).as("_gs"))
    }.reduce(_ unionAll _)
    tagged
      .select(col("_id"), col("n"), explode(col("_gs")).as("e"))
      .groupBy(col("_id"), col("n"), col("e.gram"))
      .agg(sum(col("e.c")).as("c"), sum(col("e.r")).as("r"))
  }

  /** ROUGE-N, both directions: clipped n-gram overlap between candidate
    * and reference text, per pair. `clip = Σ_g min(count_cand(g),
    * count_ref(g))` over distinct n-grams g; precision = clip/|cand
    * n-grams| (BLEU-n's modified precision), recall = clip/|ref n-grams|
    * (ROUGE-N), F1 = 2·clip/(cand+ref) — all exact truncating ppm. Pairs
    * where a side has no n-grams surface with NULL in that side's
    * quotient (audit-then-drop; the row is present).
    *
    * Returns `(idCol, cand_n, ref_n, clip, prec_ppm, rec_ppm, f1_ppm)`. */
  def ngramOverlap(
      df: DataFrame,
      idCol: Column,
      candCol: Column,
      refCol: Column,
      n: Int): DataFrame = {
    require(n >= 1, s"graft: ngramOverlap needs n >= 1, got $n")
    // one fused per-row pass, NO shuffle (NULL text = empty document,
    // the corpus-wide NULL contract): scan → project → done
    val o = graft.functions.NativeExprs.genOverlap(
      coalesce(candCol, lit("")), coalesce(refCol, lit("")),
      Seq(n), charMode = false)
    df.select(idCol.as(idCol.toString), o.as("_o"))
      .select(col(idCol.toString),
        col("_o").getField(s"tot_c_$n").as("cand_n"),
        col("_o").getField(s"tot_r_$n").as("ref_n"),
        col("_o").getField(s"clip_$n").as("clip"))
      .withColumn("prec_ppm",
        when(col("cand_n") > 0L, expr("(clip * 1000000L) DIV cand_n")))
      .withColumn("rec_ppm",
        when(col("ref_n") > 0L, expr("(clip * 1000000L) DIV ref_n")))
      .withColumn("f1_ppm", when(col("cand_n") + col("ref_n") > 0L,
        expr("(2L * clip * 1000000L) DIV (cand_n + ref_n)")))
  }

  /** ROUGE-L per pair — the longest-common-subsequence F-measure that
    * rewards in-order (not necessarily contiguous) content overlap,
    * completing the ROUGE family next to [[ngramOverlap]]'s ROUGE-n:
    * `f_ppm = 2·LCS·10⁶ DIV (m+n)` (the β=1 Lin 2004 form), exact
    * integers end-to-end. The DP runs in ONE compiled per-row kernel
    * ([[graft.functions.NativeExprs.lcsRowOf]]) with BOTH sides capped
    * at their first `maxToks` tokens — per-row cost is `maxToks²`
    * cells by construction (the knob every quadratic per-row kernel
    * here exposes), and `m`/`n` in the readout are the capped counts
    * the F-measure uses. NULL text = empty document (the corpus NULL
    * contract). Zero shuffle: scan → project → done. */
  def rougeL(
      df: DataFrame,
      idCol: Column,
      candCol: Column,
      refCol: Column,
      maxToks: Int = 32): DataFrame =
    df.select(idCol,
        graft.functions.NativeExprs.lcsRow(
          coalesce(candCol, lit("")), coalesce(refCol, lit("")),
          maxToks).as("_s"))
      .select(col(idCol.toString), col("_s").getField("lcs").as("lcs"),
        col("_s").getField("m").as("m_cand"),
        col("_s").getField("n").as("n_ref"))
      .withColumn("f_ppm", when(col("m_cand") + col("n_ref") > 0L,
        expr("(2L * lcs * 1000000L) DIV (m_cand + n_ref)")))

  /** Word error rate per pair — TOKEN-level Levenshtein distance over
    * the reference length, the ASR/transcription-eval standard (and the
    * token twin of the `eval_edit` character meter: char distance
    * double-counts a single long-token substitution; WER charges 1).
    * The DP runs in one compiled per-row kernel
    * ([[graft.functions.NativeExprs.editRowOf]], the [[rougeL]] kernel
    * shape) with BOTH sides capped at their first `maxToks` tokens —
    * per-row cost is `maxToks²` cells by construction, and `m`/`n` in
    * the readout are the capped counts the rate uses. `wer_ppm =
    * dist·10⁶ DIV n_ref` (positive DIV; can exceed 10⁶ — WER is not
    * bounded by 1), NULL when the reference is empty (undefined, not
    * 0). NULL text = empty document (the corpus NULL contract). Zero
    * shuffle: scan → project → done.
    *
    * Returns `(idCol, dist, m_cand, n_ref, wer_ppm)`. */
  def wer(
      df: DataFrame,
      idCol: Column,
      candCol: Column,
      refCol: Column,
      maxToks: Int = 32): DataFrame =
    df.select(idCol,
        graft.functions.NativeExprs.editRow(
          coalesce(candCol, lit("")), coalesce(refCol, lit("")),
          maxToks).as("_s"))
      .select(col(idCol.toString), col("_s").getField("dist").as("dist"),
        col("_s").getField("m").as("m_cand"),
        col("_s").getField("n").as("n_ref"))
      .withColumn("wer_ppm", when(col("n_ref") > 0L,
        expr("(dist * 1000000L) DIV n_ref")))

  /** Sentence/segment BLEU up to `maxN`-grams, surfaced in LOG space:
    * `logbleu = min(0, 1 − ref_len/cand_len) + (1/maxN)·Σₙ ln pₙ` with
    * Lin–Och add-one smoothing on n ≥ 2 (`pₙ = (clipₙ+1)/(totₙ+1)`) and
    * unsmoothed p₁ — a pair with zero unigram overlap (or an empty
    * candidate) gets NULL. `bleu = e^logbleu`, monotone, but `exp()` is
    * a libm call whose last-ulp rounding is not portable across engines,
    * so the surfaced score stays in log space (the [[text.lmQualityFilter]]
    * precedent) — threshold there. Each ln pₙ is quantized to 1e-6 fixed
    * point per term and summed as longs; the final 4-dp score uses the
    * floor-form rounding every meter here uses.
    *
    * A candidate shorter than n has totₙ = 0: smoothing makes pₙ = 1
    * (ln = 0), the conventional sentence-BLEU degeneracy, documented
    * rather than special-cased.
    *
    * Portability note (ACCEPTED residual risk, the char-entropy
    * precedent): each term quantizes `floor(ln(pₙ)·10⁶)` of a libm
    * transcendental, and JVM `Math.log` vs an oracle engine's `ln` may
    * differ in the last ulp — an input landing within 1 ulp of a 1e-6
    * quantum boundary could flip the quantized term across engines. No
    * fixture or sf sweep has produced such a landing (the quantum is
    * ~10⁵ ulps wide at these magnitudes, so a boundary landing needs a
    * ~10⁻⁵-probability coincidence per term); a per-term tolerance in
    * the gate would weaken every exact comparison to cover it.
    *
    * Returns `(idCol, cand_len, ref_len, p1_ppm..p⟨maxN⟩_ppm, logbleu)`. */
  def bleu(
      df: DataFrame,
      idCol: Column,
      candCol: Column,
      refCol: Column,
      maxN: Int = 4): DataFrame = {
    require(maxN >= 1 && maxN <= 8,
      s"graft: bleu needs 1 <= maxN <= 8, got $maxN")
    // one fused per-row kernel pass over all n orders, NO shuffle; the
    // unigram totals double as the token lengths (tot_1 = len − 1 + 1)
    val o = graft.functions.NativeExprs.genOverlap(
      coalesce(candCol, lit("")), coalesce(refCol, lit("")),
      1 to maxN, charMode = false)
    val flat = df.select(idCol.as(idCol.toString), o.as("_o"))
      .select(Seq(col(idCol.toString),
        col("_o").getField("tot_c_1").as("cand_len"),
        col("_o").getField("tot_r_1").as("ref_len")) ++
        (1 to maxN).flatMap(n => Seq(
          col("_o").getField(s"clip_$n").as(s"clip_$n"),
          col("_o").getField(s"tot_c_$n").as(s"tot_$n"))): _*)
    // per-n quantized ln pₙ (1e-6 longs); NULL propagates from an
    // unsmoothed zero p₁ through the sum into logbleu, by design
    val qTerms = (1 to maxN).map { n =>
      val (num, den) =
        if (n == 1) (col("clip_1").cast("double"), col("tot_1").cast("double"))
        else ((col(s"clip_$n") + 1L).cast("double"),
          (col(s"tot_$n") + 1L).cast("double"))
      val q = floor(log(num / den) * 1e6).cast("long")
      if (n == 1) when(col("clip_1") > 0L && col("tot_1") > 0L, q) else q
    }
    val pPpm = (1 to maxN).map { n =>
      when(col(s"tot_$n") > 0L,
        expr(s"(clip_$n * 1000000L) DIV tot_$n")).as(s"p${n}_ppm")
    }
    flat.select(Seq(col(idCol.toString), col("cand_len"),
      col("ref_len")) ++ pPpm :+
      when(col("cand_len") > 0L,
        floor((qTerms.reduce(_ + _).cast("double") / (maxN * 1e6) +
          least(lit(0.0), lit(1.0) -
            col("ref_len").cast("double") / col("cand_len").cast("double")))
          * 10000.0 + 0.5) / 10000.0).as("logbleu"): _*)
  }

  /** Self-BLEU corpus diversity (Zhu et al. 2018): score each generation
    * as a BLEU candidate against OTHER generations as references — high
    * self-BLEU = the model repeats itself (the pairwise complement to
    * [[distinctNgrams]]' corpus-level distinct ratio). NOT all-pairs:
    * each document scores against its `opponents` cyclic successors in
    * id space — deterministic, capped fan-out (the sampled-opponents
    * convention; K·n pairs total, never n²).
    *
    * Contract: `idCol` must be integral and DENSE in [min, min+n) — the
    * cyclic opponent `(id − min + j) mod n + min` then always exists
    * (the generation-eval fixtures' doc_id shape). Sparse ids degrade
    * gracefully: missing opponents drop from the inner join and
    * `n_opp` reads < `opponents` (audit-then-drop). Corpora smaller
    * than `opponents`+1 pair each doc with every OTHER doc once
    * (j < n excludes self-pairing).
    *
    * Per pair, the [[bleu]] machinery at `maxN` orders via the fused
    * [[graft.functions.NativeExprs.genOverlapOf]] kernel: unsmoothed p₁
    * (zero unigram overlap → pair unscored, surfaced via `n_scored` <
    * `n_opp`), add-one smoothing beyond, brevity penalty, the whole
    * log-BLEU quantized PER PAIR to 1e-6 longs — so the per-doc sum is
    * order-free and exact, and the mean divides it once
    * (`floor(sum/n)` in double: exact below 2⁵², and floor-form matches
    * DuckDB's `//` on negative sums where Spark's DIV truncates).
    *
    * Plan shape: bounds ride a broadcast 1-row aggregate (no driver
    * scalar), the fan-out is an in-row explode of `1..opponents`, and
    * ONE id-keyed join fetches opponent text — K·n thin rows through
    * one exchange, kernel scoring row-local after it.
    *
    * Returns `(idCol, n_opp, n_scored, self_bleu_q6_sum,
    * self_bleu_mean_q6)` — q6 = 1e-6-quantized log-BLEU units. */
  def selfBleu(
      df: DataFrame,
      idCol: Column,
      textCol: Column,
      opponents: Int = 3,
      maxN: Int = 2): DataFrame = {
    require(opponents >= 1 && opponents <= 64,
      s"graft: selfBleu needs 1 <= opponents <= 64, got $opponents")
    require(maxN >= 1 && maxN <= 8,
      s"graft: selfBleu needs 1 <= maxN <= 8, got $maxN")
    val idName = idCol.toString
    val base = df
      .select(idCol.cast("long").as("_id"), coalesce(textCol, lit("")).as("_t"))
      .where(col("_id").isNotNull)
    val bounds = base.agg(min(col("_id")).as("_lo"), count(lit(1)).as("_n"))
    val fan = base.crossJoin(broadcast(bounds))
      .select(col("_id"), col("_t"),
        explode(sequence(lit(1L), lit(opponents.toLong))).as("_j"),
        col("_lo"), col("_n"))
      .where(col("_j") < col("_n"))
      .select(col("_id"), col("_t"),
        (pmod(col("_id") - col("_lo") + col("_j"), col("_n")) + col("_lo"))
          .as("_opp"))
    val pairs = fan.join(
      base.select(col("_id").as("_opp"), col("_t").as("_ot")), "_opp")
    val o = graft.functions.NativeExprs.genOverlap(
      col("_t"), col("_ot"), 1 to maxN, charMode = false)
    val flat = pairs.select(Seq(col("_id"), o.as("_o")): _*)
      .select(Seq(col("_id"),
        col("_o").getField("tot_c_1").as("_cand_len"),
        col("_o").getField("tot_r_1").as("_ref_len")) ++
        (1 to maxN).flatMap(n => Seq(
          col("_o").getField(s"clip_$n").as(s"_clip_$n"),
          col("_o").getField(s"tot_c_$n").as(s"_tot_$n"))): _*)
    val qTerms = (1 to maxN).map { n =>
      val (num, den) =
        if (n == 1) (col("_clip_1").cast("double"), col("_tot_1").cast("double"))
        else ((col(s"_clip_$n") + 1L).cast("double"),
          (col(s"_tot_$n") + 1L).cast("double"))
      val q = floor(log(num / den) * 1e6).cast("long")
      if (n == 1) when(col("_clip_1") > 0L && col("_tot_1") > 0L, q) else q
    }
    val logbleuQ6 = when(col("_cand_len") > 0L,
      floor((qTerms.reduce(_ + _).cast("double") / (maxN * 1e6) +
        least(lit(0.0), lit(1.0) -
          col("_ref_len").cast("double") / col("_cand_len").cast("double")))
        * 1e6).cast("long"))
    flat.select(col("_id"), logbleuQ6.as("_lb"))
      .groupBy(col("_id").as(idName))
      .agg(count(lit(1)).as("n_opp"),
        count(col("_lb")).as("n_scored"),
        sum(col("_lb")).as("self_bleu_q6_sum"))
      .withColumn("self_bleu_mean_q6", when(col("n_scored") > 0L,
        floor(col("self_bleu_q6_sum").cast("double") / col("n_scored"))
          .cast("long")))
  }

  /** chrF (Popović 2015): character-n-gram F-β between candidate and
    * reference, n = 1..`maxN` averaged, β² weighting recall (β = 2 by
    * convention). Whitespace is removed first (the chrF standard — word
    * boundaries are the WORD metrics' job). Per-n clipped precision and
    * recall are exact ppm longs; the n-average and F-β combine are the
    * same floor-form 4-dp quantization as every meter here. Pairs with
    * a side shorter than `maxN` characters after whitespace-stripping
    * (so not all n orders exist) surface NULL for that side's average.
    *
    * Returns `(idCol, chrp_ppm, chrr_ppm, chrf)` where chrp/chrr are the
    * n-averaged ppm precisions/recalls and chrf the F-β (4 dp). */
  def chrF(
      df: DataFrame,
      idCol: Column,
      candCol: Column,
      refCol: Column,
      maxN: Int = 4,
      beta: Int = 2): DataFrame = {
    require(maxN >= 1 && beta >= 1,
      s"graft: chrF needs maxN >= 1 and beta >= 1, got ($maxN, $beta)")
    // stripped strings are projected ONCE to bound attributes — the HOF
    // lambdas below re-evaluate captured subtrees per element, so an
    // one fused per-row kernel pass over all char-gram orders, NO
    // shuffle; whitespace-stripping happens inside the kernel
    val o = graft.functions.NativeExprs.genOverlap(
      coalesce(candCol, lit("")), coalesce(refCol, lit("")),
      1 to maxN, charMode = true)
    val flat = df.select(idCol.as(idCol.toString), o.as("_o"))
    // n-averaged ppm P/R: mean over n of exact per-n ppm quotients —
    // integer DIV per n, then an integer DIV by the n-count, still
    // exact. All n orders must exist on a side (tot_maxN > 0 implies
    // the rest, but the conjunction states the contract directly).
    val allC = (1 to maxN).map(n => col(s"_o.tot_c_$n") > 0L).reduce(_ && _)
    val allR = (1 to maxN).map(n => col(s"_o.tot_r_$n") > 0L).reduce(_ && _)
    def avgPpm(tot: String): Column = expr("(" +
      (1 to maxN).map(n => s"((_o.clip_$n * 1000000L) DIV _o.${tot}_$n)")
        .mkString(" + ") + s") DIV ${maxN}L")
    val b2 = beta * beta
    flat
      .select(col(idCol.toString),
        when(allC, avgPpm("tot_c")).as("chrp_ppm"),
        when(allR, avgPpm("tot_r")).as("chrr_ppm"))
      .select(col(idCol.toString), col("chrp_ppm"), col("chrr_ppm"),
        when(col("chrp_ppm") + col("chrr_ppm") > 0L,
          floor(lit(1.0 + b2) * col("chrp_ppm") * col("chrr_ppm") /
            (lit(b2) * col("chrp_ppm") + col("chrr_ppm")) / 100.0 + 0.5)
            / 10000.0).as("chrf"))
  }

  // ————— sampled-correctness & preference-aggregation meters —————
  // The aggregation side of an LLM eval harness: n samples per task
  // (pass@k, majority vote), raters per item (Cohen's kappa), pairwise
  // battles per model (Bradley-Terry). Same discipline as above: exact
  // long/decimal counts, truncating ppm quotients, in-plan overflow
  // guards on every documented ceiling.

  /** Largest per-task sample count for which [[passAtK]]'s falling
    * factorials stay exact at order `k`: `10⁶·n^k` must fit
    * DECIMAL(38,0) on Spark and HUGEINT on DuckDB, so n ≤ 10^(32/k)
    * (~10¹⁶ at k=2, ~2.5M at k=5, ~1585 at k=10). */
  def passAtKMaxN(k: Int): Long =
    math.pow(10.0, 32.0 / k).toLong

  /** pass@k (Chen et al. 2021, HumanEval §2.1): per task with n
    * samples of which c are correct, the unbiased estimator
    * `1 − C(n−c,k)/C(n,k)` — the probability at least one of k drawn
    * samples is correct. Computed EXACTLY: the binomial ratio reduces
    * to a falling-factorial quotient `ff(n−c,k)/ff(n,k)` whose terms
    * are clamped-at-zero integers (n−c < k makes a term 0, so the
    * estimator is exactly 1 — no special case), carried in
    * DECIMAL(38,0) so `10⁶·ff` never wraps below [[passAtKMaxN]] rows
    * per task, ENFORCED in-plan ([[spearman]] precedent). Tasks with
    * n < k read NULL (estimator undefined; audit-then-drop).
    *
    * Plan shape: ONE hash aggregate to (task, n, c) — map-side
    * combined, the shuffle carries one thin row per task — then the
    * estimators are row-local integer arithmetic on the grid.
    *
    * Returns `(taskCol, n, c, pass_⟨k⟩_ppm per k)`. */
  def passAtK(
      df: DataFrame,
      taskCol: Column,
      correctCol: Column,
      ks: Seq[Int] = Seq(1, 5, 10)): DataFrame = {
    require(ks.nonEmpty && ks.forall(k => k >= 1 && k <= 32),
      s"graft: passAtK needs 1 <= k <= 32, got $ks")
    val name = taskCol.toString
    val grid = df
      .select(taskCol.as("_task"),
        correctCol.cast("boolean").cast("long").as("_ok"))
      .where(col("_task").isNotNull && col("_ok").isNotNull)
      .groupBy(col("_task").as(name))
      .agg(count(lit(1)).as("n"), sum(col("_ok")).as("c"))
    def ff(x: Column, k: Int): Column =
      (0 until k).map(i => greatest(x - lit(i.toLong), lit(0L))
        .cast("decimal(38,0)")).reduce(_ * _)
    ks.foldLeft(grid) { (acc, k) =>
      val bound = passAtKMaxN(k)
      val est = acc
        .withColumn("_num", ff(col("n") - col("c"), k))
        .withColumn("_den", ff(col("n"), k))
      est
        .withColumn(s"pass_${k}_ppm",
          when(col("n") > lit(bound),
            raise_error(format_string(
              s"graft: passAtK exactness ceiling exceeded at k=$k " +
                s"(n = %s > $bound samples/task) — falling factorials " +
                "would wrap; pre-sample per task", col("n"))).cast("long"))
          .otherwise(when(col("n") >= lit(k.toLong),
            lit(1000000L) - expr("(_num * 1000000) DIV _den"))))
        .drop("_num", "_den")
    }
  }

  /** Self-consistency / majority-vote accuracy (Wang et al. 2023):
    * per task, the modal answer across n samples against the gold
    * answer. Deterministic tie-break: among tied counts the SMALLEST
    * answer wins (struct-max on (count, −answer) — no window, no
    * sort). `gold` is expected constant per task; the deterministic
    * pick is min (a mixed-gold task reads as whatever min gives —
    * upstream data bug, not silently averaged).
    *
    * Plan shape: two hash aggregates — (task, answer) counts, then the
    * per-task struct-max — both map-side combined; the second shuffle
    * carries one row per DISTINCT answer per task, never the samples.
    *
    * Returns `(taskCol, n_samples, maj_answer, maj_count, gold,
    * correct)` — one row per task; accuracy is
    * `sum(correct)/count(*)` downstream. */
  def selfConsistency(
      df: DataFrame,
      taskCol: Column,
      answerCol: Column,
      goldCol: Column): DataFrame = {
    val name = taskCol.toString
    val counts = df
      .select(taskCol.as("_task"), answerCol.cast("long").as("_ans"),
        goldCol.cast("long").as("_gold"))
      .where(col("_task").isNotNull && col("_ans").isNotNull
        && col("_gold").isNotNull)
      .groupBy(col("_task"), col("_ans"))
      .agg(count(lit(1)).as("_cnt"), min(col("_gold")).as("_g"))
    counts
      .groupBy(col("_task").as(name))
      .agg(sum(col("_cnt")).as("n_samples"),
        max(struct(col("_cnt").as("_c"), (-col("_ans")).as("_na"))).as("_m"),
        min(col("_g")).as("gold"))
      .select(col(name), col("n_samples"),
        (-col("_m._na")).as("maj_answer"),
        col("_m._c").as("maj_count"), col("gold"))
      .withColumn("correct",
        (col("maj_answer") === col("gold")).cast("long"))
  }

  /** [[cohenKappa]]'s int64-exactness ceiling: the chance-agreement
    * cross term `Σ rowTotₖ·colTotₖ ≤ n²` enters scaled by 10⁶, so n
    * must stay under √(2⁶³/10⁶) ≈ 3.03M rows; 3M leaves margin. An
    * agreement set, not a corpus — pre-sample ([[spearman]] guidance). */
  val KappaMaxN: Long = 3000000L

  /** Cohen's kappa (1960): chance-corrected inter-rater agreement
    * between two categorical labelings — the standard read-out for
    * "do my two judges / my judge and my gold agree beyond chance".
    * All-integer: observed agreement `po = agree/n` and chance
    * agreement `pe = Σₖ rowTotₖ·colTotₖ / n²` reduce kappa to
    * `(n·agree − S) / (n² − S)` with `S = Σₖ rowTotₖ·colTotₖ` — exact
    * longs under [[KappaMaxN]] (ENFORCED in-plan). The numerator can
    * be NEGATIVE (worse-than-chance agreement), where Spark's DIV
    * truncates toward zero but an oracle's `//` floors — so the ppm
    * quotient uses the pmod floor-division identity
    * `(x − pmod(x,y)) / y`, exact and engine-portable on any sign.
    *
    * Plan shape: one hash aggregate to the (a,b) confusion grid
    * (bounded by the label-domain square) — eagerly cut via [[ckpt]]
    * so the total/marginal/cross consumers reread GRID rows instead of
    * re-scanning the corpus once each (measured: the lazy form planned
    * 6 parquet scans) — then two grid-local marginal aggregates joined
    * on the label and three 1-row frames broadcast together.
    *
    * Returns one row `(n, agree, s_cross, po_ppm, pe_ppm, kappa_ppm)`. */
  def cohenKappa(df: DataFrame, aCol: Column, bCol: Column): DataFrame = {
    val grid = ckpt.cut(df
      .select(aCol.cast("long").as("_a"), bCol.cast("long").as("_b"))
      .where(col("_a").isNotNull && col("_b").isNotNull)
      .groupBy(col("_a"), col("_b"))
      .agg(count(lit(1)).as("_n")))
    val tot = grid.agg(sum(col("_n")).as("n"),
      sum(when(col("_a") === col("_b"), col("_n")).otherwise(0L))
        .as("agree"))
    val s = grid.groupBy(col("_a").as("_k")).agg(sum(col("_n")).as("_ra"))
      .join(grid.groupBy(col("_b").as("_k")).agg(sum(col("_n")).as("_cb")),
        "_k")
      .agg(coalesce(sum(col("_ra") * col("_cb")), lit(0L)).as("s_cross"))
    tot.crossJoin(broadcast(s))
      .withColumn("_guard",
        when(col("n") > KappaMaxN,
          raise_error(format_string(
            "graft: cohenKappa int64-exactness ceiling exceeded (n = %s " +
              s"> $KappaMaxN rows) — the chance cross term would wrap; " +
              "pre-sample the agreement set", col("n"))).cast("long"))
        .otherwise(lit(0L)))
      .select(col("n"), col("agree"), col("s_cross"),
        when(col("n") > 0L, expr("(agree * 1000000 + _guard) DIV n"))
          .as("po_ppm"),
        when(col("n") > 0L, expr("(s_cross * 1000000) DIV (n * n)"))
          .as("pe_ppm"),
        when(col("n") * col("n") - col("s_cross") > 0L, expr(
          "(n * agree * 1000000 - s_cross * 1000000" +
            " - pmod(n * agree * 1000000 - s_cross * 1000000," +
            " n * n - s_cross)) DIV (n * n - s_cross)"))
          .as("kappa_ppm"))
  }

  /** Split-conformal threshold (Vovk et al.; the finite-sample-valid
    * prediction-set cutoff): the `⌈(n+1)(1−α)⌉`-th smallest calibration
    * nonconformity score, so flagging everything above it guarantees
    * ≥ 1−α coverage on exchangeable data. Exact order-statistic
    * selection over the VALUE GRID (per-value counts + running sum —
    * never a global sort of rows), with the rank computed in integer
    * arithmetic from `alphaPpm`: `k = ⌈(n+1)·(10⁶−α)/10⁶⌉` via the
    * ceiling-division identity. Scores must be QUANTIZED integers (the
    * [[aucRank]] guidance). EMPTY result when `k > n` — the calibration
    * set is too small for the requested coverage (standard conformal
    * requires n ≥ k); size n ≥ (1/α) − 1 before gating on the output.
    *
    * Returns one row `(n, k_rank, threshold, coverage_min_ppm)` with
    * `coverage_min_ppm = k·10⁶ DIV (n+1)`, the guaranteed coverage
    * floor. */
  def conformalThreshold(
      df: DataFrame,
      scoreCol: Column,
      alphaPpm: Long): DataFrame = {
    require(alphaPpm > 0 && alphaPpm < 1000000L,
      s"graft: conformalThreshold needs 0 < alphaPpm < 1e6, got $alphaPpm")
    val rows = df.select(scoreCol.cast("long").as("_s"))
      .where(col("_s").isNotNull)
    val wg = windows.boundedGlobal("score-grid", col("_s"))
    val run = wg.orderBy(col("_s"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val all = wg.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    rows.groupBy(col("_s")).agg(count(lit(1)).as("_c"))
      .withColumn("_cum", sum(col("_c")).over(run))
      .withColumn("n", sum(col("_c")).over(all))
      .withColumn("_k",
        expr(s"((n + 1) * ${1000000L - alphaPpm} + 999999) DIV 1000000"))
      .where(col("_cum") >= col("_k"))
      .groupBy(col("n"), col("_k").as("k_rank"))
      .agg(min(col("_s")).as("threshold"))
      .withColumn("coverage_min_ppm",
        expr("(k_rank * 1000000) DIV (n + 1)"))
  }

  /** Per-group classification-fairness readout — the demographic-parity
    * and equalized-odds table for a boolean screen (a quality filter, a
    * safety gate) across corpus slices: one hash-aggregate to per-group
    * exact confusion counts, ppm rates by truncating division. Gaps
    * (max−min across groups) are one tiny fold downstream of this
    * grid. Returns per group `(groupCol, n, tp, fp, fn, tn, tpr_ppm,
    * fpr_ppm, ppr_ppm)` — `ppr` is the predicted-positive rate
    * (demographic parity), `tpr`/`fpr` the equalized-odds pair; a rate
    * with an empty denominator is NULL, never 0 (absent ≠ zero). */
  def fairnessGaps(
      df: DataFrame,
      groupCol: Column,
      predCol: Column,
      labelCol: Column): DataFrame = {
    val base = df.select(groupCol.as("grp"),
        predCol.cast("boolean").as("_p"), labelCol.cast("boolean").as("_y"))
      .where(col("grp").isNotNull && col("_p").isNotNull
        && col("_y").isNotNull)
    base.groupBy(col("grp"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("_p") && col("_y"), 1L).otherwise(0L)).as("tp"),
        sum(when(col("_p") && !col("_y"), 1L).otherwise(0L)).as("fp"),
        sum(when(!col("_p") && col("_y"), 1L).otherwise(0L)).as("fn"),
        sum(when(!col("_p") && !col("_y"), 1L).otherwise(0L)).as("tn"))
      .withColumn("tpr_ppm",
        when(col("tp") + col("fn") > 0L,
          expr("(tp * 1000000) DIV (tp + fn)")))
      .withColumn("fpr_ppm",
        when(col("fp") + col("tn") > 0L,
          expr("(fp * 1000000) DIV (fp + tn)")))
      .withColumn("ppr_ppm",
        when(col("n") > 0L, expr("((tp + fp) * 1000000) DIV n")))
  }

  /** [[fleissKappa]] unit-count ceiling: the cross term `A·T²` is
    * ≲ N³·m⁴, which stays inside DECIMAL(38,0) for N ≤ 10⁹ at any
    * m ≤ 100 (10²⁷·10⁸ = 10³⁵ < 10³⁸). */
  val FleissMaxUnits: Long = 1000000000L

  /** Fleiss' kappa — chance-corrected agreement for a FIXED panel of
    * `m` raters per unit (the multi-annotator generalization of
    * [[cohenKappa]]; Fleiss 1971): from per-(unit, label) counts
    * `n_uc`, observed agreement `P̄o = (Σ n² − N·m)/(N·m(m−1))` and
    * chance agreement `P̄e = Σ_c S_c²/(N·m)²`, combined EXACTLY over a
    * common denominator — `κ = (A·T² − B·D₁)/(D₁·(T² − B))` with
    * `A = Σn² − Nm`, `B = ΣS_c²`, `T = Nm`, `D₁ = Nm(m−1)` — in
    * DECIMAL(38,0) (the [[passAtK]] widening), surfaced as ppm via the
    * pmod floor-division identity (negative κ must floor identically
    * on both engines — the [[cohenKappa]] discipline).
    *
    * The fixed-panel contract is ENFORCED in-plan: a unit whose rating
    * count ≠ m raises (a variable-rater table silently reweights units
    * otherwise — use Krippendorff-style weighting upstream instead).
    * Plan shape: one (unit, label) aggregate, two grid-sized folds, a
    * broadcast of three 1-row frames. Returns one row
    * `(n_units, m, po_ppm, pe_ppm, kappa_ppm)`. */
  def fleissKappa(
      df: DataFrame,
      unitCol: Column,
      labelCol: Column,
      m: Int): DataFrame = {
    require(m >= 2 && m <= 100,
      s"graft: fleissKappa needs 2 <= m <= 100 raters, got $m")
    val grid = ckpt.cut(df
      .select(unitCol.cast("long").as("_u"), labelCol.cast("long").as("_l"))
      .where(col("_u").isNotNull && col("_l").isNotNull)
      .groupBy(col("_u"), col("_l"))
      .agg(count(lit(1)).as("_n")))
    val units = grid.groupBy(col("_u"))
      .agg(sum(col("_n")).as("_mu"), sum(col("_n") * col("_n")).as("_sq"))
      .select(col("_u"),
        when(col("_mu") =!= m.toLong,
          raise_error(format_string(
            s"graft: fleissKappa fixed-panel contract broken — unit %s " +
              s"has %s ratings, expected m=$m", col("_u"), col("_mu"))))
          .otherwise(col("_sq")).as("_sq"))
    val a = units.agg(count(lit(1)).as("n_units"),
      coalesce(sum(col("_sq")), lit(0L)).as("_sumsq"))
      .select(col("n_units"),
        when(col("n_units") > FleissMaxUnits,
          raise_error(format_string(
            "graft: fleissKappa decimal ceiling exceeded (%s units > " +
              s"$FleissMaxUnits) — pre-sample the unit set",
            col("n_units"))).cast("long"))
        .otherwise(col("_sumsq")).as("_sumsq"))
    val b = grid.groupBy(col("_l")).agg(sum(col("_n")).as("_sc"))
      .agg(coalesce(sum(col("_sc") * col("_sc")), lit(0L)).as("_b"))
    a.crossJoin(broadcast(b))
      .select(col("n_units"), lit(m.toLong).as("m"),
        col("_sumsq").cast("decimal(38,0)").as("_sq"),
        col("_b").cast("decimal(38,0)").as("_bb"),
        (col("n_units") * m.toLong).cast("decimal(38,0)").as("_t"))
      .withColumn("_a", col("_sq") - col("_t"))
      .withColumn("_d1", col("_t") * lit((m - 1).toLong))
      .withColumn("po_ppm", when(col("_d1") > 0,
        expr("CAST((_a * 1000000) DIV _d1 AS LONG)")))
      .withColumn("pe_ppm", when(col("_t") > 0,
        expr("CAST((_bb * 1000000) DIV (_t * _t) AS LONG)")))
      .withColumn("kappa_ppm",
        when(col("_d1") > 0 && (col("_t") * col("_t") - col("_bb")) > 0,
          expr("CAST(((_a * _t * _t - _bb * _d1) * 1000000" +
            " - pmod((_a * _t * _t - _bb * _d1) * 1000000," +
            " _d1 * (_t * _t - _bb))) DIV (_d1 * (_t * _t - _bb))" +
            " AS LONG)")))
      .select(col("n_units"), col("m"), col("po_ppm"), col("pe_ppm"),
        col("kappa_ppm"))
  }

  /** Average precision per query (the MAP building block) — the one
    * classic IR aggregate next to [[ndcgAtK]]/[[mrrAtK]]/
    * [[precisionRecallAtK]]: over the full ranking by (score desc, tie
    * asc), each RELEVANT row at rank k contributes precision@k, and AP
    * is their mean over all relevant items. Exact-integer form: each
    * term quantizes to ppm FIRST (`(relcnt@k · 10⁶) DIV k`, positive
    * truncating DIV), the per-query sum of terms is an order-free long,
    * and the mean divides once (`ap_ppm_sum DIV n_rel`, positive) — so
    * the surfaced AP is engine-exact, the per-term-quantize discipline
    * of [[loglossBrier]]. Mean the `ap_ppm` column downstream for MAP.
    *
    * Plan shape: ONE window per query group — rank and the running
    * relevant count share the same (partition, order), so Catalyst
    * plans a single sort + window — then one group-keyed aggregate.
    * Recall's denominator needs every relevant row, so no group-limit
    * heap applies (the [[precisionRecallAtK]] full-ranking shape).
    * Queries with no relevant rows surface NULL `ap_ppm` (undefined,
    * not 0 — audit-then-drop).
    *
    * Returns `(qid, n_cand, n_rel, ap_ppm_sum, ap_ppm)`. */
  def averagePrecision(
      runs: DataFrame,
      qidCol: Column,
      relCol: Column,
      scoreCol: Column,
      tieCol: Column): DataFrame = {
    val base = runs.select(qidCol.as("qid"),
      (relCol > 0L).cast("long").as("_rel"), scoreCol.as("_s"),
      tieCol.as("_tie"))
    val w = Window.partitionBy(col("qid")).orderBy(col("_s").desc, col("_tie"))
    val run = w.rowsBetween(Window.unboundedPreceding, 0)
    base
      .withColumn("_rk", row_number().over(w))
      .withColumn("_relcnt", sum(col("_rel")).over(run))
      .withColumn("_term",
        when(col("_rel") === 1L, expr("(_relcnt * 1000000L) DIV _rk")))
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("n_cand"), sum(col("_rel")).as("n_rel"),
        coalesce(sum(col("_term")), lit(0L)).as("ap_ppm_sum"))
      .withColumn("ap_ppm",
        when(col("n_rel") > 0L, expr("ap_ppm_sum DIV n_rel")))
  }

  /** Krippendorff's alpha, nominal data — the agreement coefficient
    * that tolerates VARIABLE raters per unit and missing ratings (the
    * gap between [[cohenKappa]]'s two fixed raters and [[fleissKappa]]'s
    * fixed panel; Krippendorff 2004). From per-(unit, label) counts
    * `n_uc` with unit totals `m_u` (units with a single rating carry no
    * pair information and drop — the standard convention, surfaced via
    * `n_units` vs the caller's unit count):
    * observed disagreement mass `Do = Σ_u (m_u² − Σ_c n_uc²)/(m_u−1)`,
    * expected `De = (n² − Σ_c n_c²)/(n−1)` over the coincidence
    * marginals `n_c = Σ_u n_uc` and total `n = Σ_u m_u`, and
    * `α = 1 − Do/De = 1 − Do·(n−1)/(n² − Σ n_c²)`.
    *
    * Exactness: each unit's Do term quantizes to 1e-6 fixed point
    * (`((m_u² − Σn_uc²)·10⁶) DIV (m_u−1)` — non-negative integers, one
    * positive truncating DIV per unit, the [[loglossBrier]] per-term
    * discipline), marginals and `de_num = n² − Σn_c²` are exact longs,
    * and alpha is the one final quantized float chain (long→double is
    * IEEE-deterministic, so the 4-dp result is engine-identical).
    * `do_q6 ≤ n·10⁶` keeps the sum exact to n ≈ 9·10¹² ratings — no
    * practical ceiling; `de_num` squares n, so the in-plan guard raises
    * past [[KrippendorffMaxN]] (the [[spearman]] precedent).
    *
    * Plan shape: one (unit, label) hash aggregate (map-side combined —
    * 100 TB of rating rows cross the wire as one thin grid), cut via
    * [[ckpt]] so the unit-fold and marginal-fold consumers reread GRID
    * rows (the [[cohenKappa]] discipline), then two grid-sized folds
    * broadcast together.
    *
    * Returns one row `(n_units, n_total, do_q6, de_num, alpha_q4)`. */
  def krippendorffAlpha(
      df: DataFrame,
      unitCol: Column,
      labelCol: Column): DataFrame = {
    val grid = ckpt.cut(df
      .select(unitCol.cast("long").as("_u"), labelCol.cast("long").as("_l"))
      .where(col("_u").isNotNull && col("_l").isNotNull)
      .groupBy(col("_u"), col("_l"))
      .agg(count(lit(1)).as("_n")))
    val units = grid.groupBy(col("_u"))
      .agg(sum(col("_n")).as("_mu"), sum(col("_n") * col("_n")).as("_sq"))
      .where(col("_mu") >= 2L)
    val doSide = units.agg(count(lit(1)).as("n_units"),
      coalesce(sum(col("_mu")), lit(0L)).as("n_total"),
      // per-unit ceiling: (_mu² − _sq)·10⁶ wraps int64 once a single
      // unit carries more than ~3.04e6 ratings, a range the n_total
      // guard below (3e9) admits — raise at the offending unit
      coalesce(sum(
        when(col("_mu") > KrippendorffMaxUnitRatings,
          raise_error(format_string(
            "graft: krippendorffAlpha per-unit int64-exactness ceiling " +
              s"exceeded (unit %s has %s ratings > " +
              s"$KrippendorffMaxUnitRatings) — its Do term would wrap; " +
              "pre-sample the unit's ratings", col("_u"), col("_mu")))
            .cast("long"))
        .otherwise(expr("((_mu * _mu - _sq) * 1000000L) DIV (_mu - 1L)"))),
        lit(0L)).as("do_q6"))
    // marginals over KEPT units only — a dropped singleton must not
    // bias the chance model it can't contribute pairs to
    val deSide = grid.join(units.select(col("_u")), "_u")
      .groupBy(col("_l")).agg(sum(col("_n")).as("_nc"))
      .agg(coalesce(sum(col("_nc") * col("_nc")), lit(0L)).as("_sumc2"))
    doSide.crossJoin(broadcast(deSide))
      .withColumn("de_num",
        when(col("n_total") > KrippendorffMaxN,
          raise_error(format_string(
            "graft: krippendorffAlpha int64-exactness ceiling exceeded " +
              s"(n = %s > $KrippendorffMaxN ratings) — de_num = n² would " +
              "wrap; pre-sample the rating set", col("n_total")))
            .cast("long"))
        .otherwise(col("n_total") * col("n_total") - col("_sumc2")))
      .select(col("n_units"), col("n_total"), col("do_q6"), col("de_num"))
      .withColumn("alpha_q4",
        when(col("de_num") > 0L && col("n_total") > 1L,
          floor((lit(1.0) -
            col("do_q6").cast("double") * (col("n_total") - 1L).cast("double")
              / 1.0e6 / col("de_num").cast("double")) * 10000.0 + 0.5)
            / 10000.0))
  }

  /** [[krippendorffAlpha]]'s exactness ceiling: `de_num = n² − Σn_c²`
    * with n total ratings stays in int64 for n ≤ √(2⁶³) ≈ 3.03·10⁹
    * (unlike [[KappaMaxN]], whose cross term carries an extra 10⁶ ppm
    * scale and so caps 1000× lower); 3·10⁹ leaves margin, and the
    * `do_q6` sum (≤ n·10⁶ = 3·10¹⁵) stays far inside int64 too. */
  val KrippendorffMaxN: Long = 3000000000L

  /** Per-unit ceiling for [[krippendorffAlpha]]'s Do term: the worst
    * case `(_mu² − _sq)·10⁶ = (_mu² − _mu)·10⁶` (all counts 1) stays in
    * int64 for `_mu ≤ √(2⁶³/10⁶) ≈ 3.04·10⁶` ratings on ONE unit — a
    * range [[KrippendorffMaxN]] alone would admit. */
  val KrippendorffMaxUnitRatings: Long = 3000000L

  /** Integer weight table for [[rboAtD]]: `S(m) = Σ_{d=m..D}
    * (1−p)·p^(d−1)/d` quantized to 1e-9 fixed point, computed ONCE on
    * the driver so the Spark plan and any oracle share the SAME literal
    * longs (the [[ndcgDiscounts]] discipline — no engine-side
    * transcendental). `S(1)` is the maximum attainable truncated RBO
    * mass: a doc agreed at depth m contributes exactly `S(m)`. */
  def rboWeights(pPpm: Long, depth: Int): Seq[Long] = {
    require(pPpm > 0 && pPpm < 1000000L,
      s"graft: rboWeights needs 0 < pPpm < 1e6, got $pPpm")
    require(depth >= 1 && depth <= 1000,
      s"graft: rboWeights needs 1 <= depth <= 1000, got $depth")
    val p = pPpm / 1.0e6
    val terms = (1 to depth).map(d => (1 - p) * math.pow(p, d - 1) / d)
    terms.scanRight(0.0)(_ + _).init.map(s => math.floor(s * 1.0e9).toLong)
  }

  /** Rank-biased overlap at depth D (Webber, Moffat & Zobel 2010) —
    * top-weighted agreement between TWO RANKINGS of the same candidate
    * set per query (two retrieval runs, yesterday's index vs today's):
    * `RBO = (1−p) Σ_d p^(d−1)·|A_d ∩ B_d|/d`, truncated at `depth`
    * (the standard RBO@D, residual ignored). The [[kendallTau]] twin
    * for RANKINGS: tau weights all pairs equally, RBO geometrically
    * discounts depth — disagreement at rank 50 barely matters, at rank
    * 1 it dominates.
    *
    * Exact by restructuring: a doc at ranks (ra, rb) sits in every
    * intersection from depth `max(ra, rb)` down, so its total
    * contribution is the SUFFIX SUM `S(max(ra,rb))` — a driver-literal
    * integer table ([[rboWeights]]), making the per-query score one
    * order-free long sum (`rbo_q9 DIV 1` semantics; divide by `S(1)`
    * downstream for the [0,1] normalized form if desired).
    *
    * Plan shape: two rank-filter windows (`row_number ≤ depth`, which
    * InferWindowGroupLimit turns into bounded per-group heaps BEFORE
    * the shuffle — only ~depth rows per qid per task cross the wire),
    * ONE (qid, doc) equi-join of the two thin top-D sets, one
    * group-keyed sum. Ties break on the doc column (deterministic).
    *
    * Every input qid gets a row: a query whose two top-D sets are
    * DISJOINT has a well-defined RBO@D of 0, and silently dropping it
    * would overstate any downstream mean — so the per-qid sums
    * left-join back onto the distinct qid set (thin: one row per
    * query) and fill `(n_common, rbo_q9) = (0, 0)`.
    *
    * Returns `(qid, n_common, rbo_q9)` — q9 = 1e-9-quantized mass. */
  def rboAtD(
      runs: DataFrame,
      qidCol: Column,
      docCol: Column,
      scoreACol: Column,
      scoreBCol: Column,
      pPpm: Long = 900000L,
      depth: Int = 20): DataFrame = {
    val weights = rboWeights(pPpm, depth)
    val base = runs.select(qidCol.as("qid"), docCol.as("_doc"),
      scoreACol.as("_sa"), scoreBCol.as("_sb"))
    def topD(s: String, as: String): DataFrame = {
      val w = Window.partitionBy(col("qid")).orderBy(col(s).desc, col("_doc"))
      base.withColumn(as, row_number().over(w)).where(col(as) <= depth)
        .select(col("qid"), col("_doc"), col(as))
    }
    val perQid = topD("_sa", "_ra").join(topD("_sb", "_rb"), Seq("qid", "_doc"))
      .select(col("qid"),
        element_at(lit(weights.toArray), greatest(col("_ra"), col("_rb")))
          .as("_w"))
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("n_common"), sum(col("_w")).as("rbo_q9"))
    base.select(col("qid")).distinct()
      .join(perQid, Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        coalesce(col("rbo_q9"), lit(0L)).as("rbo_q9"))
  }

  /** [[adjustedRand]]'s DECIMAL(38,0) ceiling: the ppm-scaled cross
    * term `2·C·S·10⁶ ≲ n⁴·10⁶` stays inside 10³⁸ (and DuckDB HUGEINT)
    * for n ≤ 10⁸ rows — a LABELED eval set, not a corpus; pre-sample
    * ([[spearman]] guidance). */
  val AriMaxN: Long = 100000000L

  /** Adjusted Rand Index (Hubert & Arabie 1985) between two labelings —
    * the cluster-agreement meter for comparing a clustering
    * ([[graft.ops.linalg.kmeansFit]], [[graft.ops.graph.labelPropagation]],
    * [[graft.ops.dedup.nearDupClusters]]) against gold labels or another
    * run: the pair-counting Rand index, chance-corrected so random
    * agreement scores 0 (kappa's correction applied to pairs instead of
    * items). All-integer: from contingency counts `n_ij` with marginals
    * `a_i`, `b_j` and `comb(x) = x(x−1)/2`,
    * `ARI = (S_ij − S_a·S_b/C) / ((S_a+S_b)/2 − S_a·S_b/C)` with
    * `C = comb(n)` — cleared of denominators to
    * `(2·C·S_ij − 2·S_a·S_b) / (C·(S_a+S_b) − 2·S_a·S_b)`, every term
    * exact in DECIMAL(38,0) under [[AriMaxN]] (ENFORCED in-plan, the
    * [[fleissKappa]] widening), surfaced as ppm via the pmod
    * floor-division identity (ARI is NEGATIVE for worse-than-chance
    * splits — the [[cohenKappa]] portability discipline).
    *
    * Plan shape: one hash aggregate to the (a, b) contingency grid
    * (bounded by the label-domain product, map-side combined — 100 TB
    * of labeled rows cross the wire as one thin grid), cut via [[ckpt]]
    * so the cell/marginal folds reread GRID rows, then three grid-sized
    * folds broadcast together. Degenerate partitions (everything in one
    * cluster on both sides → den = 0) surface NULL, not 0.
    *
    * Returns one row `(n, s_ij, s_a, s_b, ari_ppm)` — the comb sums as
    * exact longs. */
  def adjustedRand(df: DataFrame, aCol: Column, bCol: Column): DataFrame = {
    val grid = ckpt.cut(df
      .select(aCol.cast("long").as("_a"), bCol.cast("long").as("_b"))
      .where(col("_a").isNotNull && col("_b").isNotNull)
      .groupBy(col("_a"), col("_b"))
      .agg(count(lit(1)).as("_n")))
    // c(c−1) is even, so the halving is an exact long shift — a float
    // `/2` would lose bits past 2⁵³ on corpus-scale marginals
    def comb(c: Column): Column = shiftright(c * (c - 1L), 1)
    val cells = grid.agg(sum(col("_n")).as("n"),
      coalesce(sum(comb(col("_n"))), lit(0L)).as("s_ij"))
    def marg(k: String, as: String) = grid.groupBy(col(k))
      .agg(sum(col("_n")).as("_m"))
      .agg(coalesce(sum(comb(col("_m"))), lit(0L)).as(as))
    cells
      .crossJoin(broadcast(marg("_a", "s_a")))
      .crossJoin(broadcast(marg("_b", "s_b")))
      .withColumn("_guard",
        when(col("n") > AriMaxN,
          raise_error(format_string(
            "graft: adjustedRand decimal ceiling exceeded (n = %s > " +
              s"$AriMaxN rows) — the 2·C·S cross term would wrap; " +
              "pre-sample the labeled set", col("n"))).cast("long"))
        .otherwise(lit(0L)))
      .select(col("n"), (col("s_ij") + col("_guard")).as("s_ij"),
        col("s_a"), col("s_b"),
        expr("""CASE WHEN
            CAST((n * (n - 1)) DIV 2 AS DECIMAL(38,0)) * (s_a + s_b)
              - 2 * CAST(s_a AS DECIMAL(38,0)) * s_b <> 0
          THEN CAST(((2 * CAST((n * (n - 1)) DIV 2 AS DECIMAL(38,0)) * s_ij
              - 2 * CAST(s_a AS DECIMAL(38,0)) * s_b) * 1000000
            - pmod((2 * CAST((n * (n - 1)) DIV 2 AS DECIMAL(38,0)) * s_ij
              - 2 * CAST(s_a AS DECIMAL(38,0)) * s_b) * 1000000,
              CAST((n * (n - 1)) DIV 2 AS DECIMAL(38,0)) * (s_a + s_b)
              - 2 * CAST(s_a AS DECIMAL(38,0)) * s_b))
            DIV (CAST((n * (n - 1)) DIV 2 AS DECIMAL(38,0)) * (s_a + s_b)
              - 2 * CAST(s_a AS DECIMAL(38,0)) * s_b) AS LONG)
          END""").as("ari_ppm"))
  }

  /** [[btRatings]] model-set ceiling — the pair grid squares it. */
  val BtMaxModels: Long = 10000L

  /** [[btRatings]] per-model game-count ceiling: each pair term
    * `nᵢⱼ·10¹² DIV (rᵢ+rⱼ)` is a LONG ≤ nᵢⱼ·5·10¹¹, and their per-model
    * sum must stay under 2⁶³ — games ≤ 9M per model leaves 2× margin.
    * BT is invariant to scaling all nᵢⱼ and Wᵢ by one factor, so a
    * larger battle table pre-divides its counts instead of widening
    * the arithmetic. */
  val BtMaxGamesPerModel: Long = 9000000L

  /** Bradley-Terry ratings from pairwise battles (the arena-leaderboard
    * aggregate): model i's rating rᵢ satisfies
    * `rᵢ = Wᵢ / Σⱼ nᵢⱼ/(rᵢ+rⱼ)` — solved by `iters` rounds of the
    * classic MM fixed point (Hunter 2004), in fixed-point integer
    * arithmetic: each pair term quantizes `nᵢⱼ·10¹² DIV (rᵢ+rⱼ)` (one
    * truncating DIV per pair, order-free long sum), the update divides
    * once per model, and a [[graph.hits]]-style deterministic integer
    * rescale (divide by `q = ceil(max/scale)`, clamp at 1) keeps every
    * rating in (0, scale] with no float normalization anywhere.
    *
    * Scale shape: the battle table aggregates ONCE to the ordered-pair
    * grid (≤ models² rows, in-plan guard at [[BtMaxModels]]) — 100 TB
    * of battles cross the wire as one map-side-combined count — and
    * the iteration joins the tiny rating frame onto the grid
    * ([[ckpt.cut]] per round, no driver collect). Ties: score them as
    * half-wins upstream by duplicating the row once per side, or drop
    * them; `aWinsCol` is a strict boolean.
    *
    * Returns `(model, games, wins, rating)` — rating in `scale`
    * fixed-point units, max model at `scale`; ORDER is the caller's. */
  def btRatings(
      matches: DataFrame,
      aCol: Column,
      bCol: Column,
      aWinsCol: Column,
      iters: Int = 3,
      scale: Long = 1000000L): DataFrame = {
    require(iters >= 1 && iters <= 64,
      s"graft: btRatings needs 1 <= iters <= 64, got $iters")
    val base = matches
      .select(aCol.cast("long").as("_a"), bCol.cast("long").as("_b"),
        aWinsCol.cast("boolean").as("_w"))
      .where(col("_a").isNotNull && col("_b").isNotNull
        && col("_w").isNotNull && col("_a") =!= col("_b"))
    val pairs = base
      .select(col("_a").as("_i"), col("_b").as("_j"), col("_w"))
      .unionAll(base.select(col("_b").as("_i"), col("_a").as("_j"), !col("_w")))
      .groupBy(col("_i"), col("_j"))
      .agg(count(lit(1)).as("_nij"),
        sum(col("_w").cast("long")).as("_wij"))
      .persist()
    val models = pairs.groupBy(col("_i"))
      .agg(sum(col("_nij")).as("games"), sum(col("_wij")).as("wins"))
    val nModels = models.agg(count(lit(1)).as("_nm"))
    var r = ckpt.cut(models
      .crossJoin(broadcast(nModels))
      .select(col("_i"), col("games"), col("wins"),
        when(col("_nm") > BtMaxModels,
          raise_error(format_string(
            s"graft: btRatings model-set ceiling exceeded (%s > " +
              s"$BtMaxModels models) — the pair grid squares it; " +
              "pre-bucket the model ids", col("_nm"))).cast("long"))
        .when(col("games") > BtMaxGamesPerModel,
          raise_error(format_string(
            "graft: btRatings game-count ceiling exceeded (%s > " +
              s"$BtMaxGamesPerModel games for model %s) — pair terms " +
              "would wrap; pre-divide the battle counts (BT is " +
              "invariant to a common factor)", col("games"), col("_i")))
            .cast("long"))
          .otherwise(lit(scale)).as("_r")))
    val q12 = scale * scale
    for (_ <- 0 until iters) {
      val d = pairs
        .join(r.select(col("_i"), col("_r").as("_ri")), "_i")
        .join(r.select(col("_i").as("_j"), col("_r").as("_rj")), "_j")
        .groupBy(col("_i"))
        .agg(sum(expr(s"(CAST(_nij AS DECIMAL(38,0)) * ${q12}L)" +
          " DIV (_ri + _rj)")).as("_d"))
      val raw = r.join(d, "_i")
        .select(col("_i"), col("games"), col("wins"),
          when(col("_d") > 0L,
            expr(s"(CAST(wins AS DECIMAL(38,0)) * ${q12}L) DIV _d"))
            .otherwise(lit(0L)).as("_raw"))
      val m = raw.agg(max(col("_raw")).as("_m"))
      r = ckpt.cut(raw.crossJoin(broadcast(m))
        .select(col("_i"), col("games"), col("wins"),
          greatest(expr(s"_raw DIV (1 + (greatest(_m, CAST(1 AS BIGINT))" +
            s" - 1) DIV CAST($scale AS BIGINT))"), lit(1L)).as("_r")))
    }
    val out = r.select(col("_i").as("model"), col("games"), col("wins"),
      col("_r").as("rating"))
    pairs.unpersist(false)
    out
  }
}
