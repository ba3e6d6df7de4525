package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.windows

/** Event-stream operators, written once against the unified
  * batch/streaming DataFrame surface: the same function builds the plan
  * for a parquet batch (driver correctness checks, backfills) and for a
  * `readStream` source with watermarked state (production). The reference
  * engine has no streaming at all (SURVEY.md §2.8) — north-star extension.
  *
  * Scale notes: both aggregations shuffle once on (window/user, key) —
  * uniformly distributed keys; Structured Streaming keeps state per key
  * and the watermark bounds it (late events beyond the horizon drop, state
  * for closed windows evicts), so state size is O(active keys), not
  * O(stream length).
  *
  * PRECONDITION for the epoch-arithmetic meters ([[seasonality]],
  * [[activeUsers]], [[trend]], [[timeToConvert]], [[seasonalAnomaly]]):
  * timestamps must be `>= 1970-01-01 UTC`. Their bucket/dow/hod math
  * relies on Spark's `DIV` (truncate toward zero) agreeing with DuckDB's
  * `//` (floor) — which holds exactly when epoch micros are non-negative;
  * for pre-epoch timestamps the two round in opposite directions (and
  * `pmod` vs `%` diverge on sign), so results would differ by one bucket.
  * Event-analytics corpora are post-1970 by construction; the contract is
  * documented rather than paid for with floor-division on every row.
  */
object EventStream {

  /** Tumbling- or SLIDING-window counts/sums per event type. With
    * `slide` set below `windowLen`, windows overlap and each event lands
    * in `windowLen / slide` of them (the moving-aggregate shape streaming
    * dashboards plot); Spark's `window()` expands the memberships in-row,
    * so the only shuffle is still the (window, type) aggregate, and in
    * streaming mode state holds one row per OPEN window×type — the
    * watermark closes and evicts them. For a streaming input set
    * `watermark` (e.g. "10 minutes") so window state can close; leave it
    * None for batch. Emits (window_start, event_type, n_events,
    * sum_value). */
  def windowedAgg(
      events: DataFrame,
      windowLen: String = "5 minutes",
      watermark: Option[String] = None,
      slide: Option[String] = None): DataFrame = {
    val src = watermark.map(events.withWatermark("ts", _)).getOrElse(events)
    src
      .groupBy(window(col("ts"), windowLen, slide.getOrElse(windowLen)).as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"),
        // Fixed-point companion: double sums depend on partition merge
        // order in the last ulps; the floored-micros long sum is exact and
        // therefore identical on every run and every engine.
        sum(floor(col("value") * 1e6).cast("long")).as("sum_value_micros"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"), col("sum_value_micros"))
  }

  /** Gap-based sessionization: consecutive events of a user belong to one
    * session while gaps stay under `gapMinutes`. Classic two-pass window
    * plan (lag → gap flag → running sum = session index), one shuffle on
    * user_id. Emits one row per session: (user_id, session_idx,
    * session_start, session_end, n_events, sum_value).
    *
    * Gaps compare at MICROSECOND precision — the timestamp's full stored
    * resolution — so this path and [[sessionizeStream]] draw identical
    * session boundaries on the same input (a second-truncated comparison
    * here would disagree with the stream on sub-second gaps straddling
    * the threshold). */
  def sessionize(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    events
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > gapMinutes * 60000000L,
          1).otherwise(0))
      .withColumn("session_idx", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
  }

  /** Extract a typed field from the JSON `props` payload — shuffle-free
    * scan work (`get_json_object` is a codegen expression). */
  def propInt(name: String): org.apache.spark.sql.Column =
    get_json_object(col("props"), s"$$.$name").cast("int")

  /** One event on the stateful-sessionization path. */
  final case class SessionEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)

  /** Open-session state kept per user between micro-batches. `start` and
    * `last` are epoch MICROSECONDS (the same precision the batch
    * [[sessionize]] compares at). */
  final case class SessionState(
      start: Long, last: Long, nEvents: Long, sumValue: Double)


  /** A closed session. */
  final case class ClosedSession(
      user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Long, sum_value: Double)

  /** TRUE streaming sessionization: per-user state via
    * `flatMapGroupsWithState` with a processing-time timeout. The batch
    * [[sessionize]] answers backfills; this one runs unbounded — state is
    * O(active users), sessions close either by an in-stream gap or by the
    * timeout firing with no new data. The two agree on session boundaries
    * for the same input (EventStreamSpec).
    *
    * 100 TB/unbounded notes: state is keyed and partitioned by user_id
    * (uniform), each value is four scalars; the timeout bounds state
    * lifetime so a dead user costs nothing after `gapMinutes`. */
  def sessionizeStream(
      events: org.apache.spark.sql.Dataset[SessionEvent],
      gapMinutes: Int = 30,
      /** Processing-time timeouts close idle sessions with no further
        * input (production). They also make the engine poll empty
        * micro-batches while any timer is armed, which starves
        * `processAllAvailable` — tests that drain synchronously set
        * false and rely on in-stream gap closure. */
      useTimeout: Boolean = true): org.apache.spark.sql.Dataset[ClosedSession] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    val gapUs = gapMinutes * 60000000L
    val timeoutConf =
      if (useTimeout) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout

    // Local defs (NOT object methods): the stateful closure must not
    // capture the enclosing non-serializable EventStream$ object.
    // Epoch micros = the timestamp's full stored resolution; getTime alone
    // truncates to milliseconds.
    def epochMicros(ts: java.sql.Timestamp): Long =
      math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L
    def timestampOfMicros(us: Long): java.sql.Timestamp = {
      val t = new java.sql.Timestamp(math.floorDiv(us, 1000000L) * 1000L)
      t.setNanos((math.floorMod(us, 1000000L) * 1000L).toInt)
      t
    }
    def close(u: Long, s: SessionState) = ClosedSession(
      u, timestampOfMicros(s.start), timestampOfMicros(s.last),
      s.nEvents, s.sumValue)

    events.groupByKey(_.user_id).flatMapGroupsWithState(
      OutputMode.Append, timeoutConf) {
      (user: Long, it: Iterator[SessionEvent], state: GroupState[SessionState]) =>
        if (state.hasTimedOut) {
          val out = state.getOption.map(close(user, _)).toSeq
          state.remove()
          out.iterator
        } else {
          val sorted = it.toSeq.sortBy(e => epochMicros(e.ts))
          var cur = state.getOption
          val closed = Seq.newBuilder[ClosedSession]
          sorted.foreach { e =>
            val t = epochMicros(e.ts)
            cur match {
              case Some(s) if t - s.last <= gapUs =>
                cur = Some(SessionState(s.start, t, s.nEvents + 1, s.sumValue + e.value))
              case Some(s) =>
                closed += close(user, s)
                cur = Some(SessionState(t, t, 1, e.value))
              case None =>
                cur = Some(SessionState(t, t, 1, e.value))
            }
          }
          cur.foreach { s =>
            state.update(s)
            if (useTimeout) state.setTimeoutDuration(gapUs / 1000L)
          }
          closed.result().iterator
        }
    }
  }

  /** Ordered funnel analysis: for each user, the earliest time of step 1,
    * the earliest step 2 AT OR AFTER it, the earliest step 3 at or after
    * that, and so on — then one row per funnel step with how many users
    * reached it. The strict "later step must follow the earlier one in
    * event time" semantics (not mere co-occurrence) is what product
    * analytics means by a funnel.
    *
    * Plan shape: the per-step earliest times are stacked conditional-min
    * WINDOW aggregates over the SAME user partition, so however many
    * steps the funnel has, there is exactly ONE shuffle on user_id; the
    * final per-step count is a tiny aggregate over distinct users.
    * Returns `(step, event_type, n_users)` with step 1-based. */
  def funnel(
      events: DataFrame,
      steps: Seq[String],
      userCol: String = "user_id",
      typeCol: String = "event_type",
      tsCol: String = "ts"): DataFrame = {
    require(steps.nonEmpty, "graft: funnel needs at least one step")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(userCol))
    val withReach = steps.zipWithIndex.foldLeft(events) { case (df, (step, i)) =>
      val cond =
        if (i == 0) col(typeCol) === step
        else col(typeCol) === step && col(tsCol) >= col(s"_t${i - 1}")
      df.withColumn(s"_t$i", min(when(cond, col(tsCol))).over(w))
    }
    val reachCols = steps.indices.map(i => max(col(s"_t$i")).as(s"_t$i"))
    val perUser = withReach.groupBy(col(userCol))
      .agg(reachCols.head, reachCols.tail: _*)
    // one pass: explode a reached-flags array, sum per step — referencing
    // perUser once per step would re-execute its shuffle per step
    perUser
      .select(posexplode(array(
        steps.indices.map(i => col(s"_t$i").isNotNull.cast("long")): _*))
        .as(Seq("p", "reached")))
      .groupBy(col("p")).agg(sum(col("reached")).as("n_users"))
      .select((col("p") + 1).cast("int").as("step"),
        element_at(array(steps.map(lit): _*), col("p") + 1).as("event_type"),
        col("n_users"))
      .orderBy(col("step"))
  }

  /** [[funnel]] with a conversion deadline: step i counts only when it
    * happens within `maxGapSec` of the user's step-(i−1) reach time —
    * the real product-funnel semantics ("purchased within an hour of
    * clicking"), where the unlimited form happily credits a purchase
    * three weeks after the click. Same greedy earliest-qualifying-event
    * semantics, same ONE user-keyed exchange feeding every step window,
    * same one-pass flags explode. */
  def funnelWindowed(
      events: DataFrame,
      steps: Seq[String],
      maxGapSec: Long,
      userCol: String = "user_id",
      typeCol: String = "event_type",
      tsCol: String = "ts"): DataFrame = {
    require(steps.nonEmpty, "graft: funnelWindowed needs at least one step")
    require(maxGapSec >= 1, "graft: funnelWindowed needs maxGapSec >= 1")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(userCol))
    val withReach = steps.zipWithIndex.foldLeft(events) { case (df, (step, i)) =>
      val cond =
        if (i == 0) col(typeCol) === step
        else col(typeCol) === step && col(tsCol) >= col(s"_t${i - 1}") &&
          expr(s"unix_micros($tsCol) - unix_micros(_t${i - 1})") <=
            maxGapSec * 1000000L
      df.withColumn(s"_t$i", min(when(cond, col(tsCol))).over(w))
    }
    val reachCols = steps.indices.map(i => max(col(s"_t$i")).as(s"_t$i"))
    val perUser = withReach.groupBy(col(userCol))
      .agg(reachCols.head, reachCols.tail: _*)
    perUser
      .select(posexplode(array(
        steps.indices.map(i => col(s"_t$i").isNotNull.cast("long")): _*))
        .as(Seq("p", "reached")))
      .groupBy(col("p")).agg(sum(col("reached")).as("n_users"))
      .select((col("p") + 1).cast("int").as("step"),
        element_at(array(steps.map(lit): _*), col("p") + 1).as("event_type"),
        col("n_users"))
      .orderBy(col("step"))
  }

  /** Session-scoped funnel: the step ladder must complete INSIDE one
    * session (gap-bounded, [[sessionize]] semantics) — the strictest of
    * the three funnel scopes (lifetime [[funnel]], deadline
    * [[funnelWindowed]], single-visit this). Counts SESSIONS reaching
    * each step, so a user converting in two visits counts twice at step
    * 1 and once at step 3 — the per-visit conversion rate product teams
    * actually mean by "funnel".
    *
    * Plan shape: session tagging is the sessionize lag+cumsum pass (one
    * user-keyed exchange); the step windows then partition by
    * (user, session) — the SAME user-keyed partitioning, so the one
    * exchange feeds everything; one flags explode at the end. */
  def sessionFunnel(
      events: DataFrame,
      steps: Seq[String],
      gapMinutes: Int = 30,
      userCol: String = "user_id",
      typeCol: String = "event_type",
      tsCol: String = "ts",
      idCol: String = "event_id"): DataFrame = {
    require(steps.nonEmpty, "graft: sessionFunnel needs at least one step")
    val byUser = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(idCol))
    val tagged = events
      .withColumn("_prev", lag(col(tsCol), 1).over(byUser))
      .withColumn("_new", when(col("_prev").isNull ||
        unix_micros(col(tsCol)) - unix_micros(col("_prev"))
          > gapMinutes * 60000000L, 1).otherwise(0))
      .withColumn("_sid", sum(col("_new")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val w = Window.partitionBy(col(userCol), col("_sid"))
    val withReach = steps.zipWithIndex.foldLeft(tagged) { case (df, (step, i)) =>
      val cond =
        if (i == 0) col(typeCol) === step
        else col(typeCol) === step && col(tsCol) >= col(s"_t${i - 1}")
      df.withColumn(s"_t$i", min(when(cond, col(tsCol))).over(w))
    }
    val reachCols = steps.indices.map(i => max(col(s"_t$i")).as(s"_t$i"))
    val perSession = withReach.groupBy(col(userCol), col("_sid"))
      .agg(reachCols.head, reachCols.tail: _*)
    perSession
      .select(posexplode(array(
        steps.indices.map(i => col(s"_t$i").isNotNull.cast("long")): _*))
        .as(Seq("p", "reached")))
      .groupBy(col("p")).agg(sum(col("reached")).as("n_sessions"))
      .select((col("p") + 1).cast("int").as("step"),
        element_at(array(steps.map(lit): _*), col("p") + 1).as("event_type"),
        col("n_sessions"))
      .orderBy(col("step"))
  }

  /** First-order Markov predictability: fit the [[transitions]] matrix
    * and score it IN-SAMPLE — per source state, the majority next event
    * and the fraction of transitions it explains. High accuracy = the
    * stream is mechanical (bots, scripted flows); low = genuinely
    * exploratory behavior. (In-sample by design: this meters the
    * STREAM's predictability, not a held-out model — split first for
    * that.)
    *
    * Plan shape: one user-keyed lag window (the transitions pass), one
    * (prev, cur) aggregate, and a states²-bounded rank — the majority
    * pick is a WindowGroupLimit heap. All-integer; `acc_bp` is a
    * positive quotient. Returns
    * `(prev_type, predicted, n_total, n_correct, acc_bp)`. */
  def markovPredictability(
      events: DataFrame,
      userCol: String = "user_id",
      typeCol: String = "event_type",
      tsCol: String = "ts",
      idCol: String = "event_id"): DataFrame = {
    val byUser = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol), col(idCol))
    val pairs = events
      .withColumn("_prev", lag(col(typeCol), 1).over(byUser))
      .where(col("_prev").isNotNull)
      .groupBy(col("_prev").as("prev_type"), col(typeCol).as("_cur"))
      .agg(count(lit(1)).as("_n"))
    val ranked = pairs.withColumn("_rk", row_number().over(
      Window.partitionBy(col("prev_type"))
        .orderBy(col("_n").desc, col("_cur"))))
    val pred = ranked.where(col("_rk") === 1)
      .select(col("prev_type"), col("_cur").as("predicted"),
        col("_n").as("n_correct"))
    pairs.groupBy(col("prev_type")).agg(sum(col("_n")).as("n_total"))
      .join(pred, "prev_type")
      .withColumn("acc_bp", expr("(n_correct * 10000L) DIV n_total"))
      .select(col("prev_type"), col("predicted"), col("n_total"),
        col("n_correct"), col("acc_bp"))
  }

  /** Seasonal-baseline anomaly screen: score every HOURLY bucket of
    * every series against its hour-of-week cell (same hour, same
    * weekday, all weeks) — the which-hour-broke detector that rolling
    * z-scores miss (a Monday-9am spike is normal FOR Monday 9am;
    * a 3am one is not). Series densify ([[denseSeries]] — an absent
    * bucket is a zero observation, and skipping it would bias every
    * cell mean); per (series, hour-of-week) the exact integer
    * sufficient statistics accumulate, and each bucket's z-score is the
    * one engine-identical float chain over them, floor-4dp. Cells with
    * zero variance yield null z (not ±∞).
    *
    * Plan shape: one hash aggregate to DOMAIN-bounded series rows, the
    * bounded spine, one (series, cell)-keyed stats aggregate (≤ 168
    * cells per series) joined back by broadcast. Returns
    * `(series, t, c, cell, z_q4)` for buckets with `|z| ≥ zMin`. */
  def seasonalAnomaly(
      events: DataFrame,
      zMin: Double = 2.0,
      seriesCol: String = "event_type",
      tsCol: String = "ts"): DataFrame = {
    val dense = denseSeries(events, 3600, seriesCol, tsCol)
      .select(col(seriesCol).as("series"), col("_t"), col("_c"),
        pmod(col("_t"), lit(168L)).as("cell"))
    val stats = dense.groupBy(col("series"), col("cell"))
      .agg(count(lit(1)).as("_n"), sum(col("_c")).as("_s1"),
        sum(col("_c") * col("_c")).as("_s2"))
    val nd = col("_n").cast("double")
    val mean = col("_s1").cast("double") / nd
    val variance = col("_s2").cast("double") / nd - mean * mean
    dense.join(broadcast(stats), Seq("series", "cell"))
      .withColumn("z_q4", when(variance > 0.0,
        graft.functions.vectors.quantize(
          (col("_c").cast("double") - mean) / sqrt(variance), 4)))
      .where(abs(col("z_q4")) >= zMin)
      .select(col("series"), col("_t").as("t"), col("_c").as("c"),
        col("cell"), col("z_q4"))
  }

  /** Event-time interval join (stream-stream capable): each left event
    * joins the right-side events of the SAME key whose timestamp falls in
    * `[left.ts - lookback, left.ts]` — the attribution/enrichment join
    * ("which clicks preceded this purchase within 10 minutes"). Right
    * columns come back `r_`-prefixed.
    *
    * The same plan runs batch (backfill twin, oracle-checked) and as a
    * true stream-stream join: with `watermark` set on BOTH sides,
    * Structured Streaming plans a StreamingSymmetricHashJoin whose
    * buffered state is EVICTED once the watermark passes the interval
    * bound — the time-bound condition is what makes unbounded two-stream
    * state finite (an unconstrained stream-stream equi-join would buffer
    * forever). Shuffle is one hash exchange per side on the join key.
    * Late rows beyond the watermark drop, as in every watermarked op. */
  def intervalJoin(
      left: DataFrame,
      right: DataFrame,
      keyCol: String = "user_id",
      tsCol: String = "ts",
      rightCols: Seq[String] = Seq("event_type", "value"),
      lookbackMinutes: Int = 10,
      watermark: Option[String] = None): DataFrame = {
    val l = watermark.map(left.withWatermark(tsCol, _)).getOrElse(left)
    val rProj = right.select(
      (Seq(col(keyCol).as("r_key"), col(tsCol).as("r_ts")) ++
        rightCols.map(c => col(c).as(s"r_$c"))): _*)
    val r = watermark.map(rProj.withWatermark("r_ts", _)).getOrElse(rProj)
    l.join(r,
      col(keyCol) === col("r_key") &&
        col("r_ts") <= col(tsCol) &&
        col("r_ts") >= col(tsCol) - expr(s"INTERVAL $lookbackMinutes MINUTES"))
      .drop("r_key")
  }

  /** Trailing event-time rolling aggregate: for every event, the count /
    * sum / mean of `valueCol` over that user's events in the trailing
    * `windowSec`-second interval (endpoints inclusive — the SQL
    * `RANGE BETWEEN windowSec-1 PRECEDING AND CURRENT ROW` frame over
    * whole-second event times). The moving-baseline primitive behind
    * rate limiting, anomaly scoring, and feature engineering
    * ("spend in the last hour at the moment of this event").
    *
    * Plan shape: ONE shuffle on `userCol`, then a RANGE-frame window —
    * Spark evaluates it with a sliding frame over each partition's sorted
    * run, never materializing per-row slices. A RANGE frame is keyed by
    * the ORDER BY value itself, so ties (same second) share a frame and
    * the result is deterministic with no tiebreak column. The sum is
    * carried in fixed-point micros (exact long arithmetic, order-free);
    * the mean divides once at the end — identical IEEE ops in any engine.
    *
    * 100 TB: state per window is O(frame rows) per task and frames never
    * cross users, so skew follows user activity — a user with millions of
    * events in one hour is a data-quality signal long before it is a
    * memory problem (frames hold two scalars, not rows, for count/sum). */
  def rollingAgg(
      events: DataFrame,
      windowSec: Int = 3600,
      userCol: String = "user_id",
      tsCol: String = "ts",
      valueCol: String = "value"): DataFrame = {
    require(windowSec >= 1, s"graft: windowSec must be positive, got $windowSec")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(userCol)).orderBy(col("epoch_s"))
      .rangeBetween(-(windowSec - 1L), Window.currentRow)
    events
      .withColumn("epoch_s", expr(s"unix_micros($tsCol) DIV 1000000"))
      .withColumn("_vq", floor(col(valueCol) * 1e6).cast("long"))
      .withColumn("mov_n", count(lit(1)).over(w))
      .withColumn("mov_sum_micros", sum(col("_vq")).over(w))
      .withColumn("mov_avg",
        graft.functions.vectors.quantize(col("mov_sum_micros") / 1000000.0 / col("mov_n"), 4))
      .drop("_vq")
  }

  /** Trailing-window z-score anomaly signal: how unusual each event's
    * value is against that user's OWN recent history (the trailing
    * `windowSec` RANGE frame, current event included). Algebra is
    * arranged so every intermediate is an EXACT integer:
    * `z = (n·v − Σv) / √(n·Σv² − (Σv)²)` over values quantized at
    * `scale` — one float division and one sqrt at the very end,
    * identical in any engine. Windows with zero variance (n = 1 or all
    * values equal) yield null, not ±∞.
    *
    * Same plan shape as [[rollingAgg]]: ONE user shuffle, RANGE-frame
    * window sums. Overflow headroom is the caller's via `scale`:
    * n·Σv² ≤ frameRows²·(maxV·scale)² must stay under 2⁶³ — the default
    * 1e3 holds to ~190k-row frames at values ≤ 500. */
  def rollingZScore(
      events: DataFrame,
      windowSec: Int = 3600,
      userCol: String = "user_id",
      tsCol: String = "ts",
      valueCol: String = "value",
      scale: Double = 1000.0): DataFrame = {
    require(windowSec >= 1, s"graft: windowSec must be positive, got $windowSec")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(userCol)).orderBy(col("epoch_s"))
      .rangeBetween(-(windowSec - 1L), Window.currentRow)
    events
      .withColumn("epoch_s", expr(s"unix_micros($tsCol) DIV 1000000"))
      .withColumn("_vq", floor(col(valueCol) * scale + 0.5).cast("long"))
      .withColumn("win_n", count(lit(1)).over(w))
      .withColumn("_s1", sum(col("_vq")).over(w))
      .withColumn("_s2", sum(col("_vq") * col("_vq")).over(w))
      .withColumn("_den2", col("win_n") * col("_s2") - col("_s1") * col("_s1"))
      .withColumn("z",
        when(col("_den2") > 0,
          graft.functions.vectors.quantize(
            (col("win_n") * col("_vq") - col("_s1")).cast("double") /
              sqrt(col("_den2").cast("double")), 4)))
      .drop("_vq", "_s1", "_s2", "_den2")
  }

  /** Per-user exponentially weighted moving average over each user's
    * last `k` events — the recency-weighted twin of [[rollingAgg]]'s
    * uniform window (trend detection, per-entity rate smoothing,
    * feature engineering where "recent" should outweigh "old").
    *
    * Decay is fixed at alpha = 1/2 with an explicitly NORMALIZED
    * bounded window: event at lag `j` (0 = current) carries weight
    * `2^(n-1-j) / (2^n − 1)` over the `n ≤ k` events present — which
    * converges to the textbook `s_t = ½v_t + ½s_{t-1}` stream as n
    * grows, and is well-defined from the very first event (no warmup
    * bias). Dyadic weights are the determinism trick: values quantize
    * to 1e-6 fixed-point longs and every weight is a power of two, so
    * the weighted numerator `Σ q_j·2^(n-1-j)` and denominator `2^n − 1`
    * are EXACT integers — order-free, partition-free, engine-free — and
    * the EWMA is one exactly-rounded double division at the end.
    *
    * Plan shape: ONE shuffle on `userCol`, then a ROWS frame ordered by
    * (event time, `idCol`) — the id tiebreak makes the frame a total
    * order, so the frame-ordered list (and therefore every digit) is
    * deterministic. Frames hold ≤ k longs per row; k ≤ 32 keeps
    * `2^k·1e6·maxV` far inside int64 headroom.
    *
    * Returns the input plus `(ewma_n, ewma)` (frame size; 4 dp). */
  def ewma(
      events: DataFrame,
      k: Int = 8,
      userCol: String = "user_id",
      tsCol: String = "ts",
      valueCol: String = "value",
      idCol: String = "event_id"): DataFrame = {
    require(k >= 1 && k <= 32, s"graft: ewma needs 1 <= k <= 32, got $k")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(userCol))
      .orderBy(col("_eus"), col(idCol))
      .rowsBetween(-(k - 1L), Window.currentRow)
    events
      .withColumn("_eus", expr(s"unix_micros($tsCol)"))
      .withColumn("_vq", floor(col(valueCol) * 1e6).cast("long"))
      .withColumn("_l", collect_list(col("_vq")).over(w))
      .withColumn("ewma_n", size(col("_l")).cast("bigint"))
      // oldest-first list: weight of element i (0-based) is 2^i — carried
      // as a running power in the fold, so no column-exponent shift needed
      .withColumn("_num", aggregate(col("_l"),
        struct(lit(0L).as("s"), lit(1L).as("p")),
        (acc, x) => struct(
          (acc.getField("s") + x * acc.getField("p")).as("s"),
          (acc.getField("p") * 2L).as("p")),
        acc => acc.getField("s")))
      .withColumn("ewma", graft.functions.vectors.quantize(
        col("_num").cast("double") /
          (expr("shiftleft(CAST(1 AS BIGINT), CAST(ewma_n AS INT))") - 1L)
            .cast("double") / 1e6, 4))
      .drop("_eus", "_vq", "_l", "_num")
  }

  /** Autocorrelation of the per-bucket event-count series, per event
    * type — the seasonality/burstiness diagnostic (a daily-cycled
    * stream shows a spike at lag 24h; a memoryless one decays to ~0
    * immediately): bucket the stream into `bucketSec` counts, DENSIFY
    * the series (an ACF over a series whose empty buckets were silently
    * skipped is wrong — zeros carry the signal), pair each bucket with
    * its lag-ℓ successor via `lead` for ℓ ∈ [1, maxLag], and emit
    * Pearson `r` per (type, lag), floor-4dp quantized; zero-variance
    * series yield null, not ±∞.
    *
    * Determinism discipline: the five sufficient statistics (Σx, Σy,
    * Σx², Σy², Σxy) accumulate as EXACT longs (counts are integers);
    * the correlation is then one double expression over them —
    * order-free, partition-free, engine-identical while the sums fit
    * 2⁶³ and their magnitudes stay below 2⁵³ (buckets sized for ~1e6
    * rows hold to ~1e9 buckets).
    *
    * Scale shape: one (type, bucket) hash aggregate collapses event
    * volume to DOMAIN-bounded series rows (timespan/bucketSec per type
    * — independent of row count); the dense spine is a bounded
    * `sequence` explode of the same size; the lead window partitions by
    * type over those series rows only. Returns
    * `(typeCol, lag, m, acf)`. */
  /** Densified per-bucket count series: `(typeCol, _t, _c)` for EVERY
    * bucket in each type's [min, max] range, zeros included. The series
    * length is DOMAIN-bounded (timespan / bucketSec per type —
    * independent of event volume): one hash aggregate collapses the
    * stream, then a bounded `sequence` explode supplies the spine. The
    * shared substrate of [[autocorr]] and [[changepoints]]. */
  private[graft] def denseSeries(
      events: DataFrame,
      bucketSec: Int,
      typeCol: String,
      tsCol: String): DataFrame = {
    val counts = events
      .withColumn("_t", expr(s"unix_micros($tsCol) DIV ${1000000L * bucketSec}"))
      .groupBy(col(typeCol), col("_t")).agg(count(lit(1)).as("_c"))
    counts.groupBy(col(typeCol))
      .agg(min(col("_t")).as("_t0"), max(col("_t")).as("_t1"))
      .select(col(typeCol), explode(sequence(col("_t0"), col("_t1"))).as("_t"))
      .join(counts, Seq(typeCol, "_t"), "left")
      .withColumn("_c", coalesce(col("_c"), lit(0L)))
  }

  def autocorr(
      events: DataFrame,
      bucketSec: Int = 3600,
      maxLag: Int = 3,
      typeCol: String = "event_type",
      tsCol: String = "ts"): DataFrame = {
    require(bucketSec >= 1, s"graft: bucketSec must be positive, got $bucketSec")
    require(maxLag >= 1, s"graft: maxLag must be positive, got $maxLag")
    import org.apache.spark.sql.expressions.Window
    val dense = denseSeries(events, bucketSec, typeCol, tsCol)
    val w = Window.partitionBy(col(typeCol)).orderBy(col("_t"))
    val leads = dense.select(
      Seq(col(typeCol), col("_c")) ++
        (1 to maxLag).map(l => lead(col("_c"), l).over(w).as(s"_l$l")): _*)
    val pairs = leads.select(col(typeCol), explode(array((1 to maxLag).map(l =>
        struct(lit(l).as("lag"), col("_c").as("x"), col(s"_l$l").as("y"))): _*))
        .as("p"))
      .select(col(typeCol), col("p.lag").as("lag"),
        col("p.x").as("x"), col("p.y").as("y"))
      .where(col("y").isNotNull)
    val agg = pairs.groupBy(col(typeCol), col("lag"))
      .agg(count(lit(1)).as("m"),
        sum(col("x")).as("_sx"), sum(col("y")).as("_sy"),
        sum(col("x") * col("x")).as("_sxx"),
        sum(col("y") * col("y")).as("_syy"),
        sum(col("x") * col("y")).as("_sxy"))
    def d(c: String): org.apache.spark.sql.Column = col(c).cast("double")
    val vx = d("m") * d("_sxx") - d("_sx") * d("_sx")
    val vy = d("m") * d("_syy") - d("_sy") * d("_sy")
    agg.select(col(typeCol), col("lag"), col("m"),
      when(vx > 0.0 && vy > 0.0,
        graft.functions.vectors.quantize(
          (d("m") * d("_sxy") - d("_sx") * d("_sy")) / (sqrt(vx) * sqrt(vy)),
          4)).as("acf"))
  }

  /** Change-point signal over the per-bucket count series — the sliding
    * two-sample split statistic (the practical mean-shift detector a
    * monitoring pipeline thresholds on): at every bucket `t` with `w`
    * full buckets on each side, compare the trailing window
    * `[t−w, t−1]` against the leading window `[t, t+w−1]`:
    * `stat = (mean_post − mean_pre) / sqrt((var_pre + var_post)/w + 1)`
    * — a regularized Welch-style t; the `+1` floor keeps quiet series
    * finite and deterministic (counts are integers, so a genuine level
    * shift of k events/bucket scores ≈ k·√w against stable noise).
    * Positive = level shift UP at `t`; the caller thresholds |stat| and
    * takes local maxima. Series densified via [[denseSeries]] — a gap
    * IS a level shift and must be visible, not skipped.
    *
    * Determinism discipline: the four window sufficient statistics
    * (Σx, Σx² per side) accumulate as exact longs over ROWS frames; the
    * statistic is one double expression — order-free, engine-identical.
    *
    * Scale shape: one stream-collapsing hash aggregate, one bounded
    * spine explode, ONE type-keyed window over domain-bounded series
    * rows carrying both frames. Returns `(typeCol, t, n_pre, n_post,
    * stat)` for full-window buckets only, stat floor-4dp. */
  def changepoints(
      events: DataFrame,
      bucketSec: Int = 3600,
      w: Int = 6,
      typeCol: String = "event_type",
      tsCol: String = "ts"): DataFrame = {
    require(bucketSec >= 1, s"graft: bucketSec must be positive, got $bucketSec")
    require(w >= 2, s"graft: window must be >= 2 buckets, got $w")
    import org.apache.spark.sql.expressions.Window
    val dense = denseSeries(events, bucketSec, typeCol, tsCol)
    val base = Window.partitionBy(col(typeCol)).orderBy(col("_t"))
    val pre = base.rowsBetween(-w, -1)
    val post = base.rowsBetween(0, w - 1)
    val stats = dense.select(col(typeCol), col("_t"),
      count(lit(1)).over(pre).as("n_pre"),
      sum(col("_c")).over(pre).as("_s1p"),
      sum(col("_c") * col("_c")).over(pre).as("_s2p"),
      count(lit(1)).over(post).as("n_post"),
      sum(col("_c")).over(post).as("_s1q"),
      sum(col("_c") * col("_c")).over(post).as("_s2q"))
    def d(c: String): org.apache.spark.sql.Column = col(c).cast("double")
    val wd = lit(w.toDouble)
    val varPre = (wd * d("_s2p") - d("_s1p") * d("_s1p")) / (wd * wd)
    val varPost = (wd * d("_s2q") - d("_s1q") * d("_s1q")) / (wd * wd)
    stats.where(col("n_pre") === w && col("n_post") === w)
      .select(col(typeCol), col("_t").as("t"), col("n_pre"), col("n_post"),
        graft.functions.vectors.quantize(
          ((d("_s1q") - d("_s1p")) / wd) / sqrt((varPre + varPost) / wd + 1.0),
          4).as("stat"))
  }

  /** Weekly cohort retention: users grouped by the epoch-week of their
    * first event (the cohort), counted at each later week offset they
    * reappear — the (cohort_week, week_offset, n_users) retention
    * triangle. Weeks are `epoch_day DIV 7` (pure integer arithmetic, no
    * calendar semantics to disagree across engines).
    *
    * Plan shape: distinct (user, week) and first-week-per-user both hash
    * by `userCol`, so the self-derived join is co-partitioned — one
    * logical shuffle on user, then a tiny (cohort, offset) aggregate.
    * The distinct collapses each user-week to one row BEFORE the join,
    * so event volume (the 100 TB axis) only pays the first scan. */
  def retention(
      events: DataFrame,
      userCol: String = "user_id",
      tsCol: String = "ts"): DataFrame = {
    val uw = events
      .select(col(userCol).as("u"),
        expr(s"unix_micros($tsCol) DIV 604800000000").as("week"))
      .distinct()
    val first = uw.groupBy(col("u")).agg(min(col("week")).as("cohort_week"))
    uw.join(first, "u")
      .groupBy(col("cohort_week"),
        (col("week") - col("cohort_week")).as("week_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Stream-static broadcast enrichment: join an unbounded stream to a
    * SMALL static dimension table (user → segment, device → model, …).
    * The static side broadcasts once per micro-batch plan — no stream
    * state, no watermark, no shuffle of the stream — which is why
    * dimension enrichment belongs on this path and NOT on the
    * stream-stream [[intervalJoin]] (state + watermarks are for two
    * UNBOUNDED sides). Left join: events with no dimension row pass
    * through with nulls — an enrichment gap must not drop events. */
  def enrichStream(
      stream: DataFrame,
      dim: DataFrame,
      key: String): DataFrame =
    stream.join(broadcast(dim), Seq(key), "left")

  /** Event-type transition matrix (first-order Markov counts): for every
    * consecutive pair of events of the SAME user in event-time order,
    * count (prev_type → type), plus each row's share of its source
    * state's outgoing transitions in fixed-point 1e-4 units (exact
    * integer `DIV` — no float row shares). The path-analysis primitive
    * behind "what do users do after a view".
    *
    * Plan shape: ONE shuffle on the user key for the lag window (ordered
    * by event time with the unique event id as tiebreak — deterministic
    * on ties), then a tiny (prev, cur) aggregate; the share is a window
    * over states² rows at most. */
  def transitions(
      events: DataFrame,
      userCol: String = "user_id",
      typeCol: String = "event_type",
      tsCol: String = "ts",
      idCol: String = "event_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol), col(idCol))
    val counted = events
      .withColumn("prev_type", lag(col(typeCol), 1).over(byUser))
      .where(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col(typeCol))
      .agg(count(lit(1)).as("n"))
    counted
      .withColumn("_out", sum(col("n")).over(
        Window.partitionBy(col("prev_type"))))
      .withColumn("share_4dp", expr("(n * 10000) DIV _out"))
      .drop("_out")
  }

  /** Conversation assembly: per user, the chronological transcript of
    * their first `maxTurns` events as one joined string plus turn/span
    * stats — the interaction-log → training-dialogue primitive (chat
    * fine-tuning data is exactly this shape: ordered turns flattened to
    * one sequence per conversation).
    *
    * Bound discipline: a user's whole history must never sit in one
    * aggregation buffer (a bot with 10M events would). The turn cap
    * rides [[rel.topKPerGroup]] FIRST — row_number ≤ k collapses to
    * WindowGroupLimit per-partition heaps, O(maxTurns) state — and only
    * the capped rows reach the collect_list, whose per-group state is
    * ≤ maxTurns by construction. Both stages key on the user, so
    * ReuseExchange plans one shuffle. Ordering is total via the
    * (ts, id) tiebreak, so the transcript string is deterministic. */
  def assembleDialogs(
      events: DataFrame,
      maxTurns: Int = 64,
      sep: String = " > ",
      userCol: String = "user_id",
      typeCol: String = "event_type",
      tsCol: String = "ts",
      idCol: String = "event_id"): DataFrame = {
    require(maxTurns >= 1, s"graft: assembleDialogs needs maxTurns >= 1, got $maxTurns")
    val capped = graft.ops.rel.topKPerGroup(
      events.select(col(userCol), col(typeCol), col(tsCol), col(idCol)),
      Seq(col(userCol)), Seq(col(tsCol).asc, col(idCol).asc), maxTurns, "_turn")
    capped
      .groupBy(col(userCol))
      .agg(
        count(lit(1)).as("n_turns"),
        min(col(tsCol)).as("first_ts"),
        max(col(tsCol)).as("last_ts"),
        sort_array(collect_list(struct(col(tsCol), col(idCol), col(typeCol))))
          .as("_seq"))
      .select(col(userCol), col("n_turns"), col("first_ts"), col("last_ts"),
        (unix_micros(col("last_ts")) - unix_micros(col("first_ts")))
          .divide(lit(1000000L)).cast("long").as("span_sec"),
        array_join(transform(col("_seq"), t => t.getField(typeCol)), sep)
          .as("transcript"))
  }

  /** Last-touch attribution: credit each conversion event to the LATEST
    * `touchType` event of the same user at or before it (the marketing-
    * analytics primitive; ties at the exact conversion instant count —
    * the touch "happened first" at equal timestamps, matching
    * [[graft.ops.asof.asofJoin]]'s right-before-left tie order, with
    * `(touch ts, touch id)` breaking same-timestamp touch ties
    * deterministically). Conversions with no prior touch land in the
    * `-1` organic bucket, visible rather than dropped. Revenue is
    * aggregated in integer cents (`floor(value·100)`) so the per-bucket
    * sums are exact and engine-reproducible — float sums depend on
    * reduction order.
    *
    * Plan shape: ONE shuffle on the user (the asof union-window idiom),
    * then one small aggregate on the campaign key. No per-conversion
    * subquery, no range self-join. Returns
    * `(campaign, n_conv, revenue_c)`. */
  def lastTouchAttribution(
      events: DataFrame,
      convType: String,
      touchType: String,
      campaign: org.apache.spark.sql.Column,
      userCol: String = "user_id",
      typeCol: String = "event_type",
      tsCol: String = "ts",
      idCol: String = "event_id",
      valueCol: String = "value"): DataFrame = {
    val conv = events.where(col(typeCol) === convType)
      .select(col(userCol), col(tsCol), col(idCol), col(valueCol))
    val touch = events.where(col(typeCol) === touchType)
      .select(col(userCol), col(tsCol), col(tsCol).as("_touch_ts"),
        col(idCol).as("_touch_id"), campaign.cast("long").as("_campaign"))
    graft.ops.asof.asofJoin(conv, touch, userCol, tsCol,
        Seq("_touch_ts", "_touch_id", "_campaign"))
      .groupBy(coalesce(col("_campaign"), lit(-1L)).as("campaign"))
      .agg(count(lit(1)).as("n_conv"),
        sum(floor(col(valueCol) * 100).cast("long")).as("revenue_c"))
  }

  /** Bot-regularity signals per user: inter-event gap statistics — gap
    * count, mean gap, and the coefficient of variation (stddev/mean) of
    * gaps. A scripted client fires on a timer, so its gaps are nearly
    * constant: LOW cv at high rate is the classic bot fingerprint, and
    * crawl/interaction corpora are filtered on exactly this signal
    * before training. Gaps are whole seconds clamped at `capGapSec`
    * (bounds Σg² so the integer moments never overflow: with the 86400 s
    * default cap the sums stay in BIGINT past 10⁹ events per user).
    *
    * Determinism: moments (n, Σg, Σg²) are exact BIGINT; mean and cv are
    * each ONE rounded float formula over those integers (the `rel.corr`
    * discipline), so both engines reproduce them bit-for-bit. The cv
    * numerator multiplies AS DOUBLES (`n·Σg²` would wrap BIGINT for a
    * billion-event user; the double product is IEEE-identical on both
    * engines and exact below 2⁵³ anyway).
    * cv = sqrt(n·Σg² − (Σg)²)/Σg (population), NULL when Σg = 0 — an
    * all-zero-gap burst has no meaningful scale and surfaces via
    * `mean_gap_s` = 0 instead.
    *
    * Plan shape: one user-keyed window (lag) and one aggregation on the
    * SAME key — a single shuffle. Returns
    * `(userCol, n_gaps, mean_gap_s, cv_gap)` for users with ≥ `minGaps`
    * gaps. */
  def botSignals(
      events: DataFrame,
      minGaps: Int = 10,
      capGapSec: Long = 86400L,
      userCol: String = "user_id",
      tsCol: String = "ts",
      idCol: String = "event_id"): DataFrame = {
    require(minGaps >= 1 && capGapSec >= 1,
      s"graft: botSignals needs minGaps >= 1, capGapSec >= 1")
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(idCol))
    val gaps = events
      .withColumn("_prev", lag(col(tsCol), 1).over(byUser))
      .where(col("_prev").isNotNull)
      .select(col(userCol),
        least(
          (unix_micros(col(tsCol)) - unix_micros(col("_prev")))
            .divide(lit(1000000L)).cast("long"),
          lit(capGapSec)).as("_g"))
    def r4(c: org.apache.spark.sql.Column) =
      floor(c * 10000.0 + 0.5) / 10000.0
    gaps.groupBy(col(userCol))
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("_g")).as("_sg"),
        sum(col("_g") * col("_g")).as("_sgg"))
      .where(col("n_gaps") >= minGaps)
      .select(col(userCol), col("n_gaps"),
        r4(col("_sg").cast("double") / col("n_gaps").cast("double"))
          .as("mean_gap_s"),
        when(col("_sg") > 0L, r4(
          sqrt(col("n_gaps").cast("double") * col("_sgg").cast("double")
            - col("_sg").cast("double") * col("_sg").cast("double"))
            / col("_sg").cast("double")))
          .as("cv_gap"))
  }

  /** Time-to-convert distribution: for each user, the gap between their
    * FIRST `fromType` event and the first `toType` event at or after it,
    * bucketed to `bucketSec` — one histogram row per bucket. The funnel-
    * latency companion to [[funnel]] (which counts WHO converts; this
    * measures HOW LONG conversion takes — the number an activation or
    * crawl-recrawl scheduler actually consumes). Users who never convert
    * after their first `fromType` simply have no row; count them via
    * [[funnel]].
    *
    * All integer: epoch-microsecond difference, floor seconds, floor
    * bucket — engine-exact. Plan shape: two user-keyed aggregations and
    * one user-keyed join (one exchange reused across all three), then a
    * tiny bucket-keyed count. Returns `(bucket, n_users)` where bucket
    * `b` covers `[b·bucketSec, (b+1)·bucketSec)`. */
  def timeToConvert(
      events: DataFrame,
      fromType: String,
      toType: String,
      bucketSec: Long = 3600L,
      userCol: String = "user_id",
      typeCol: String = "event_type",
      tsCol: String = "ts"): DataFrame = {
    require(bucketSec >= 1, s"graft: timeToConvert needs bucketSec >= 1")
    val firstFrom = events.where(col(typeCol) === fromType)
      .groupBy(col(userCol)).agg(min(col(tsCol)).as("_from_ts"))
    val conv = events.where(col(typeCol) === toType)
      .select(col(userCol), col(tsCol).as("_to_ts"))
      .join(firstFrom, userCol)
      .where(col("_to_ts") >= col("_from_ts"))
      .groupBy(col(userCol))
      .agg(min(col("_to_ts")).as("_to_ts"), min(col("_from_ts")).as("_from_ts"))
    conv
      .select(expr(s"((unix_micros(_to_ts) - unix_micros(_from_ts))" +
        s" DIV 1000000) DIV $bucketSec").as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Per-series OLS trend of event volume: bucket each series' events to
    * `bucketSec`, rebase bucket indexes to the series' first bucket, and
    * fit count-vs-time by least squares — surfaced as the EXACT integer
    * pair `slope = slope_num / slope_den` (`n·Σxy − Σx·Σy` over
    * `n·Σx² − (Σx)²`), since the slope is signed and a signed integer
    * division rounds differently across engines. The
    * is-this-source-growing-or-dying meter behind crawl scheduling and
    * mixture rebalancing; [[ewma]] smooths level, this measures drift.
    *
    * Plan shape: one (series, bucket) hash count, one series-keyed
    * window for the rebase (per-series state = its bucket count, bounded
    * by time-range/bucketSec), one series-keyed aggregation of the five
    * OLS sums. With rebased x ≤ buckets-per-series, the BIGINT sums
    * overflow only past ~10⁶ buckets per series — centuries of hourly
    * data. Returns `(series, n_buckets, slope_num, slope_den)`;
    * `slope_den` = 0 iff the series has one bucket (slope undefined). */
  def trend(
      events: DataFrame,
      bucketSec: Long = 3600L,
      seriesCol: String = "event_type",
      tsCol: String = "ts"): DataFrame = {
    require(bucketSec >= 1, s"graft: trend needs bucketSec >= 1")
    import org.apache.spark.sql.expressions.Window
    val b = events
      .select(col(seriesCol).as("series"),
        expr(s"(unix_micros($tsCol) DIV 1000000) DIV $bucketSec").as("_x"))
      .groupBy(col("series"), col("_x"))
      .agg(count(lit(1)).as("_y"))
    val rebased = b.withColumn("_xs",
      col("_x") - min(col("_x")).over(Window.partitionBy(col("series"))))
    rebased.groupBy(col("series"))
      .agg(count(lit(1)).as("n_buckets"),
        (count(lit(1)) * sum(col("_xs") * col("_y"))
          - sum(col("_xs")) * sum(col("_y"))).as("slope_num"),
        (count(lit(1)) * sum(col("_xs") * col("_xs"))
          - sum(col("_xs")) * sum(col("_xs"))).as("slope_den"))
  }

  /** One-sided CUSUM changepoint monitor (Page 1954) over a bucketed
    * volume series — the SEQUENTIAL drift detector the PSI/KS snapshot
    * meters can't replace: those score distributions window-by-window;
    * CUSUM accumulates small sustained shifts until they cross a
    * decision threshold, catching slow regressions early. Baseline μ is
    * the mean of the first `refN` buckets; the statistic
    * `S_i = max(0, S_{i-1} + x_i − μ − slack)` alarms when
    * `S_i > threshold`.
    *
    * EXACT integers — everything scales by `n_ref` so μ never divides:
    * `d_i = n_ref·x_i − sum_ref − slack·n_ref` and the recurrence folds
    * in longs; the surfaced `s_scaled` is S_i·n_ref and the alarm
    * compares against `threshold·n_ref`. Int64 ceiling: |s_scaled| ≤
    * buckets·n_ref·max_x ≲ 10⁴·10⁴·2⁴⁰ at any sane grid — guarded by
    * `maxBuckets` (the [[graft.ops.evals.isotonicFit]] in-plan
    * discipline).
    *
    * Scale shape: the corpus folds to the bucket grid in ONE map-side
    * combined aggregate (100 TB of events cross the wire as ≤
    * maxBuckets rows); the inherently-sequential recurrence runs as a
    * bounded in-plan HOF fold over ONE collected-array row (never on
    * the driver), then explodes back to the grid. Returns
    * `(bucket, x, s_scaled, alarm)` ordered by bucket. */
  def cusum(
      events: DataFrame,
      bucketSec: Long = 86400L,
      refN: Int = 7,
      slack: Long = 0L,
      threshold: Long = 100L,
      tsCol: String = "ts",
      maxBuckets: Int = 100000): DataFrame = {
    require(bucketSec >= 1 && refN >= 1 && slack >= 0L && threshold >= 1L,
      s"graft: cusum needs bucketSec/refN >= 1, slack >= 0, threshold >= 1")
    require(maxBuckets >= refN,
      s"graft: cusum needs maxBuckets >= refN, got $maxBuckets < $refN")
    cusumFrom(bucketGrid(events, bucketSec, tsCol), refN, slack, threshold,
      maxBuckets)
  }

  /** The batch event-time bucket grid every grid meter finishes from:
    * `(bucket, x)` with `bucket = epoch_sec DIV bucketSec` and `x` the
    * bucket's event count, in ONE map-side combined aggregate — the
    * same rows a complete [[cusumStream]] snapshot holds. */
  private[graft] def bucketGrid(
      events: DataFrame, bucketSec: Long, tsCol: String): DataFrame =
    events
      .select(expr(s"(unix_micros($tsCol) DIV 1000000) DIV $bucketSec")
        .as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("x"))

  /** Merge a `(bucket, x)` grid's duplicate bucket rows by addition (the
    * merge-by-addition sink contract) into `(_b, _x)`; with a `ceiling`,
    * a bucket count past it raises `op`'s int64-exactness error
    * in-plan. */
  private def mergedGrid(
      grid: DataFrame, op: String, ceiling: Option[Long]): DataFrame = {
    val merged = grid
      .groupBy(col("bucket").as("_b")).agg(sum(col("x")).as("_x"))
    ceiling.fold(merged)(c => merged.withColumn("_x",
      when(col("_x") > c,
        raise_error(format_string(
          s"graft: $op int64-exactness ceiling exceeded (bucket count " +
            s"%s > $c) — widen bucketSec", col("_x"))).cast("long"))
        .otherwise(col("_x"))))
  }

  /** The bounded front of every fold-based grid meter: [[mergedGrid]],
    * then ONE row holding the bucket-sorted `_a = array<(_b, _x)>`,
    * raising `op`'s maxBuckets error in-plan past `maxBuckets` buckets. */
  private def gridArray(
      grid: DataFrame, op: String, ceiling: Option[Long],
      maxBuckets: Int): DataFrame =
    mergedGrid(grid, op, ceiling)
      .agg(sort_array(collect_list(struct(col("_b"), col("_x")))).as("_a"))
      .withColumn("_a",
        when(size(col("_a")) > maxBuckets,
          raise_error(format_string(
            s"graft: $op bucket grid exceeds maxBuckets (%s > " +
              s"$maxBuckets) — widen bucketSec", size(col("_a")))))
        .otherwise(col("_a")))

  /** LIVE changepoint monitoring, the [[hllStream]]/[[histDriftStream]]
    * build/finish split applied to [[cusum]]: the stream side maintains
    * only the mergeable BUCKET GRID (one exact count per event-time
    * bucket — a watermarked window aggregation whose state is one thin
    * row per open bucket, evicted as the watermark passes), sink
    * snapshots merge by addition across restarts/backfills, and
    * [[cusumFrom]] turns any snapshot into the sequential statistic.
    * The recurrence itself is inherently ordered, so it lives in the
    * FINISH stage over ≤ maxBuckets grid rows, never in stream state —
    * 100 TB/day of events cross the wire as bucket counts. Because the
    * grid aggregation is the same arithmetic as batch, finishing a
    * complete snapshot equals batch [[cusum]] on the same events
    * (EventStreamSpec pins the law). Append mode once the watermark
    * closes a bucket. Emits `(bucket, x)`. */
  def cusumStream(
      events: DataFrame,
      bucketSec: Long = 86400L,
      tsCol: String = "ts",
      delay: String = "10 minutes"): DataFrame = {
    require(bucketSec >= 1, s"graft: cusumStream needs bucketSec >= 1")
    val src = if (events.isStreaming) events.withWatermark(tsCol, delay)
      else events
    src.groupBy(window(col(tsCol), s"$bucketSec seconds").as("_w"))
      .agg(count(lit(1)).as("x"))
      // epoch-aligned window start -> the SAME bucket id as batch cusum
      .select(expr(s"(unix_micros(_w.start) DIV 1000000) DIV $bucketSec")
        .as("bucket"), col("x"))
  }

  /** Holt LINEAR (double-exponential) smoothing over the event-time
    * bucket grid — adaptive level + trend with one-step-ahead forecasts
    * and residuals, the trend-FOLLOWING monitor between [[trend]]'s one
    * global OLS line and [[cusum]]'s mean-shift alarm: a gradual drift
    * the CUSUM baseline absorbs shows up here as a persistent trend
    * term, and the per-bucket residual is the seasonality-free anomaly
    * score.
    *
    * Exact DYADIC fixed point: `alpha = aNum/1024`, `beta = bNum/1024`,
    * state carried in q10 (value·1024), so every update is an integer
    * multiply-add followed by ONE arithmetic right-shift — floor
    * division by 1024, which Spark's `shiftright` and the oracle's `//`
    * compute identically, including on negative trends (the signed-DIV
    * truncate-vs-floor engine trap never arises). Init: `l₁ = x₁·1024`,
    * `t₁ = 0`; for t ≥ 2 the standard recurrence
    * `f = l + t; l' = (aNum·x·1024 + (1024−aNum)·f) >> 10;
    * t' = (bNum·(l'−l) + (1024−bNum)·t) >> 10`.
    * Int64 ceiling: `(1024−aNum)·(l+t)` needs bucket counts
    * ≤ [[HoltMaxX]] = 4·10¹² (ENFORCED in-plan) — past that, widen the
    * bucket.
    *
    * Plan shape: the [[cusum]] discipline — one bucket-grid aggregate
    * (map-side combined; 100 TB of events cross the wire as
    * ≤ `maxBuckets` rows, raise_error past that), the inherently
    * ordered recurrence as a bounded in-plan HOF fold over the grid
    * array, posexplode back to rows. The STREAMING twin is free:
    * [[cusumStream]]'s watermarked `(bucket, x)` grid is this op's
    * input contract, so `holtFrom(sink snapshot)` equals batch
    * [[holtLinear]] on the same events (EventStreamSpec pins the law).
    *
    * Returns `(bucket, x, level_fp, trend_fp, forecast_fp, err_fp,
    * forecast_q2)` — `_fp` columns are exact q10 longs; forecast/err
    * are null on the first bucket (nothing to forecast from). */
  def holtLinear(
      events: DataFrame,
      bucketSec: Long = 86400L,
      aNum: Int = 307,
      bNum: Int = 102,
      tsCol: String = "ts",
      maxBuckets: Int = 100000): DataFrame = {
    require(bucketSec >= 1, "graft: holtLinear needs bucketSec >= 1")
    holtFrom(bucketGrid(events, bucketSec, tsCol), aNum, bNum, maxBuckets)
  }

  /** [[holtLinear]]'s int64-exactness ceiling on one bucket's count:
    * `(1024−aNum)·(l+t)` with `l ≈ x·1024` wraps past x ≈ 8.8·10¹²;
    * enforced with headroom at 4·10¹². */
  val HoltMaxX: Long = 4000000000000L

  /** FINISH any `(bucket, x)` grid (a [[cusumStream]] sink snapshot, a
    * batch grid) into the Holt linear statistic — see [[holtLinear]].
    * Duplicate bucket rows re-fold by addition first (the
    * merge-by-addition sink contract). */
  def holtFrom(
      grid: DataFrame,
      aNum: Int = 307,
      bNum: Int = 102,
      maxBuckets: Int = 100000): DataFrame = {
    require(aNum >= 1 && aNum <= 1024 && bNum >= 0 && bNum <= 1024,
      s"graft: holtFrom needs 1 <= aNum <= 1024, 0 <= bNum <= 1024, " +
        s"got $aNum, $bNum")
    require(maxBuckets >= 1, "graft: holtFrom needs maxBuckets >= 1")
    // Holt linear IS the Holt-Winters fold with gNum = 0: the seasonal
    // update `(0·(x−l') + 1024·0) >> 10` keeps a one-slot ring at 0, and
    // with `s_prev = 0` the level, trend and forecast terms reduce to
    // Holt's term by term
    hwFit(gridArray(grid, "holt", Some(HoltMaxX), maxBuckets), 1, aNum, bNum,
      0).drop("season_fp")
  }

  /** Holt-WINTERS additive (triple-exponential) smoothing — [[holtLinear]]
    * plus a length-`period` seasonal ring, the monitor for metrics whose
    * "normal" has a weekly/daily shape: forecast
    * `f = l + t + s_{t−m}`, then
    * `l' = (aNum·(x·1024 − s_prev) + (1024−aNum)·(l+t)) >> 10`,
    * `t' = (bNum·(l'−l) + (1024−bNum)·t) >> 10`,
    * `s' = (gNum·(x·1024 − l') + (1024−gNum)·s_prev) >> 10` — the same
    * exact q10 dyadic fixed point as [[holtFrom]] (shiftright = floor
    * division on both engines, signed included).
    *
    * Seasonal PHASE is anchored to the ABSOLUTE bucket id
    * (`pos = bucket mod period`), not the row index — a gap in the grid
    * (no events that day) cannot rotate the ring, and with
    * `bucketSec = 86400, period = 7` the phase IS the day-of-week.
    * Cold start: the ring begins all-zero, so the first occurrence of
    * each phase behaves like plain Holt while its seasonal term is
    * learned from residuals — deterministic, no init heuristic to
    * disagree with the oracle about.
    *
    * Plan shape: identical to [[holtFrom]] — bucket-grid aggregate
    * (≤ `maxBuckets` in-plan), ordered recurrence as ONE bounded HOF
    * fold carrying `(l, t, ring[period])`, posexplode back. Returns
    * `(bucket, x, level_fp, trend_fp, season_fp, forecast_fp, err_fp,
    * forecast_q2)`; forecast/err null on the first bucket. */
  def holtWinters(
      events: DataFrame,
      bucketSec: Long = 86400L,
      period: Int = 7,
      aNum: Int = 307,
      bNum: Int = 102,
      gNum: Int = 205,
      tsCol: String = "ts",
      maxBuckets: Int = 100000): DataFrame = {
    require(bucketSec >= 1, "graft: holtWinters needs bucketSec >= 1")
    holtWintersFrom(bucketGrid(events, bucketSec, tsCol), period, aNum, bNum,
      gNum, maxBuckets)
  }

  /** Shared argument validation for the Holt-Winters family. */
  private def requireHwArgs(
      op: String, period: Int, aNum: Int, bNum: Int, gNum: Int,
      maxBuckets: Int): Unit = {
    require(period >= 2 && period <= 10000,
      s"graft: $op needs 2 <= period <= 10000, got $period")
    require(aNum >= 1 && aNum <= 1024 && bNum >= 0 && bNum <= 1024
        && gNum >= 0 && gNum <= 1024,
      s"graft: $op needs 1 <= aNum <= 1024, 0 <= bNum <= 1024, " +
        s"0 <= gNum <= 1024, got $aNum, $bNum, $gNum")
    require(maxBuckets >= 1, s"graft: $op needs maxBuckets >= 1")
  }

  /** ONE recurrence step `(l', t', s')` of the exact q10 Holt-Winters
    * update — the single definition both the fitting fold and the
    * forecast fold run, so the smoothing arithmetic cannot drift
    * between them. */
  private def hwStep(
      first: Column, sPrev: Column, l: Column, t: Column, xs: Column,
      aNum: Int, bNum: Int, gNum: Int): (Column, Column, Column) = {
    val l2 = when(first, xs).otherwise(
      shiftright(lit(aNum.toLong) * (xs - sPrev)
        + lit(1024L - aNum) * (l + t), 10))
    val t2 = when(first, lit(0L)).otherwise(
      shiftright(lit(bNum.toLong) * (l2 - l) + lit(1024L - bNum) * t, 10))
    val s2 = shiftright(lit(gNum.toLong) * (xs - l2)
      + lit(1024L - gNum) * sPrev, 10)
    (l2, t2, s2)
  }

  /** FINISH form of [[holtWinters]] over any `(bucket, x)` grid —
    * duplicate bucket rows re-merge by addition (the sink contract), so
    * a [[cusumStream]] snapshot feeds it directly. */
  def holtWintersFrom(
      grid: DataFrame,
      period: Int = 7,
      aNum: Int = 307,
      bNum: Int = 102,
      gNum: Int = 205,
      maxBuckets: Int = 100000): DataFrame = {
    requireHwArgs("holtWintersFrom", period, aNum, bNum, gNum, maxBuckets)
    hwFit(gridArray(grid, "holtWinters", Some(HoltMaxX), maxBuckets), period,
      aNum, bNum, gNum)
  }

  /** The exact q10 Holt-Winters fit over a [[gridArray]] row: ONE
    * bounded HOF fold carrying `(l, t, ring[period])` through [[hwStep]]
    * and the per-bucket `(l, t, s, f)` output array, posexploded back to
    * `(bucket, x, level_fp, trend_fp, season_fp, forecast_fp, err_fp,
    * forecast_q2)`; forecast/err null on the first bucket. */
  private def hwFit(
      arr: DataFrame, period: Int, aNum: Int, bNum: Int,
      gNum: Int): DataFrame = {
    val ring0 = array_repeat(lit(0L), period)
    val fold = aggregate(col("_a"),
      struct(
        array().cast("array<struct<l:bigint,t:bigint,s:bigint,f:bigint>>")
          .as("out"),
        lit(0L).as("l"), lit(0L).as("t"), ring0.as("se")),
      (st, e) => {
        val first = size(st.getField("out")) === 0
        val pos = pmod(e.getField("_b"), lit(period.toLong))
        val sPrev = element_at(st.getField("se"), (pos + 1L).cast("int"))
        val f = st.getField("l") + st.getField("t") + sPrev
        val (l2, t2, s2) = hwStep(first, sPrev, st.getField("l"),
          st.getField("t"), e.getField("_x") * 1024L, aNum, bNum, gNum)
        val fRec = when(first, lit(null).cast("long")).otherwise(f)
        val se2 = transform(st.getField("se"), (v, ix) =>
          when(ix.cast("bigint") === pos, s2).otherwise(v))
        struct(
          concat(st.getField("out"),
            array(struct(l2.as("l"), t2.as("t"), s2.as("s"), fRec.as("f"))))
            .as("out"),
          l2.as("l"), t2.as("t"), se2.as("se"))
      })
    arr.withColumn("_s", fold.getField("out"))
      .select(col("_s"), posexplode(col("_a")).as(Seq("_i", "_e")))
      .withColumn("_r", element_at(col("_s"), col("_i") + 1))
      .select(col("_e._b").as("bucket"), col("_e._x").as("x"),
        col("_r.l").as("level_fp"), col("_r.t").as("trend_fp"),
        col("_r.s").as("season_fp"), col("_r.f").as("forecast_fp"),
        (col("_e._x") * 1024L - col("_r.f")).as("err_fp"),
        graft.functions.vectors.quantize(
          col("_r.f").cast("double") / 1024.0, 2).as("forecast_q2"))
  }

  /** h-step-ahead FORECAST from the fitted [[holtWinters]] state — the
    * capacity-planning readout: run the same exact q10 fold, then
    * project `f(b_last + k) = l + k·t + s_ring[(b_last + k) mod m]`
    * for `k = 1..horizon` (the standard additive-HW multi-step form;
    * no smoothing past the data, the state is frozen at the last
    * observed bucket). Phase stays anchored to the ABSOLUTE bucket id,
    * so the projected day-of-week lines up with the calendar, gaps and
    * all. Same bounded plan as [[holtWintersFrom]] plus one in-row
    * `sequence` fan-out. Returns
    * `(bucket, step, forecast_fp, forecast_q2)`. */
  def holtWintersForecast(
      events: DataFrame,
      bucketSec: Long = 86400L,
      period: Int = 7,
      horizon: Int = 7,
      aNum: Int = 307,
      bNum: Int = 102,
      gNum: Int = 205,
      tsCol: String = "ts",
      maxBuckets: Int = 100000): DataFrame = {
    require(bucketSec >= 1, "graft: holtWintersForecast needs bucketSec >= 1")
    holtWintersForecastFrom(bucketGrid(events, bucketSec, tsCol), period,
      horizon, aNum, bNum, gNum, maxBuckets)
  }

  /** FINISH form of [[holtWintersForecast]] over any `(bucket, x)` grid
    * — the [[cusumStream]] sink-snapshot contract, like every other
    * grid meter's From form. */
  def holtWintersForecastFrom(
      grid: DataFrame,
      period: Int = 7,
      horizon: Int = 7,
      aNum: Int = 307,
      bNum: Int = 102,
      gNum: Int = 205,
      maxBuckets: Int = 100000): DataFrame = {
    require(horizon >= 1 && horizon <= 100000,
      s"graft: holtWintersForecast needs 1 <= horizon <= 100000, got $horizon")
    requireHwArgs("holtWintersForecastFrom", period, aNum, bNum, gNum,
      maxBuckets)
    val arr = gridArray(grid, "holtWinters", Some(HoltMaxX), maxBuckets)
    val ring0 = array_repeat(lit(0L), period)
    // the SAME hwStep recurrence as the fitting fold, but only the
    // FINAL state is kept — the fold carries no output array
    val fold = aggregate(col("_a"),
      struct(lit(0L).as("i"), lit(0L).as("l"), lit(0L).as("t"),
        ring0.as("se")),
      (st, e) => {
        val first = st.getField("i") === 0L
        val pos = pmod(e.getField("_b"), lit(period.toLong))
        val sPrev = element_at(st.getField("se"), (pos + 1L).cast("int"))
        val (l2, t2, s2) = hwStep(first, sPrev, st.getField("l"),
          st.getField("t"), e.getField("_x") * 1024L, aNum, bNum, gNum)
        val se2 = transform(st.getField("se"), (v, ix) =>
          when(ix.cast("bigint") === pos, s2).otherwise(v))
        struct((st.getField("i") + 1L).as("i"), l2.as("l"), t2.as("t"),
          se2.as("se"))
      })
    arr.where(size(col("_a")) > 0)
      .withColumn("_st", fold)
      .withColumn("_last", element_at(col("_a"), size(col("_a"))).getField("_b"))
      .select(col("_st"), col("_last"),
        explode(sequence(lit(1L), lit(horizon.toLong))).as("step"))
      .withColumn("bucket", col("_last") + col("step"))
      .withColumn("forecast_fp",
        col("_st.l") + col("step") * col("_st.t")
          + element_at(col("_st.se"),
            (pmod(col("bucket"), lit(period.toLong)) + 1L).cast("int")))
      .select(col("bucket"), col("step"), col("forecast_fp"),
        graft.functions.vectors.quantize(
          col("forecast_fp").cast("double") / 1024.0, 2).as("forecast_q2"))
  }

  /** FINISH a [[cusumStream]] sink snapshot (or any `(bucket, x)` grid)
    * into the CUSUM statistic: re-fold duplicate bucket rows by
    * addition (the merge-by-addition sink contract), then the exact
    * scaled recurrence of [[cusum]] over the bounded grid. */
  def cusumFrom(
      grid: DataFrame,
      refN: Int = 7,
      slack: Long = 0L,
      threshold: Long = 100L,
      maxBuckets: Int = 100000): DataFrame = {
    require(refN >= 1 && slack >= 0L && threshold >= 1L,
      s"graft: cusumFrom needs refN >= 1, slack >= 0, threshold >= 1")
    require(maxBuckets >= refN,
      s"graft: cusumFrom needs maxBuckets >= refN, got $maxBuckets < $refN")
    val arr = gridArray(grid, "cusum", None, maxBuckets)
    // baseline from the first refN buckets (fewer buckets than refN ->
    // whatever exists; n_ref rides the scaling so the math stays exact)
    val ref = struct(
      aggregate(slice(col("_a"), 1, refN), lit(0L),
        (acc, e) => acc + e.getField("_x")).as("sum"),
      least(size(col("_a")), lit(refN)).cast("long").as("n"))
    // the recurrence: state = (reversed running list of s, s); one pass
    val fold = aggregate(col("_a"),
      struct(array().cast("array<long>").as("out"), lit(0L).as("s")),
      (st, e) => {
        val d = col("_ref.n") * e.getField("_x") - col("_ref.sum") -
          lit(slack) * col("_ref.n")
        val s2 = greatest(lit(0L), st.getField("s") + d)
        struct(concat(st.getField("out"), array(s2)).as("out"), s2.as("s"))
      })
    arr.withColumn("_ref", ref)
      .withColumn("_s", fold.getField("out"))
      .select(col("_ref"), col("_s"),
        posexplode(col("_a")).as(Seq("_i", "_e")))
      .select(col("_e._b").as("bucket"), col("_e._x").as("x"),
        element_at(col("_s"), col("_i") + 1).as("s_scaled"),
        (element_at(col("_s"), col("_i") + 1) >
          lit(threshold) * col("_ref.n")).as("alarm"))
  }

  /** CUPED experiment readout (Deng, Xu, Kohavi & Walker, WSDM 2013):
    * per-user pre-period activity X (events before `cutoff`) and
    * post-period metric Y, per-variant exact sums, and the pooled
    * regression coefficient `theta = cov(X,Y)/var(X)` as a NUM/DEN pair
    * (`n·Σxy − Σx·Σy` over `n·Σx² − (Σx)²` — the [[trend]] OLS shape;
    * theta is signed, so no integer quotient is taken). The
    * variance-reduction readout an experimentation platform computes:
    * adjusted variant mean = `mean(Y) − θ·(mean(X) − mean(X_all))`,
    * assembled downstream in floats from these exact sums.
    *
    * Plan shape: one user-keyed aggregation (variant rides the group
    * key), then a per-variant rollup and a 1-row pooled reduction glued
    * back by broadcast — no windows, no second pass over the events.
    * Returns `(variant, n_users, sum_x, sum_y, theta_num, theta_den)`. */
  def cuped(
      events: DataFrame,
      cutoff: String,
      variant: Column,
      userCol: String = "user_id",
      tsCol: String = "ts"): DataFrame = {
    val per = events.groupBy(col(userCol), variant.as("variant"))
      .agg(
        sum(when(col(tsCol) < lit(cutoff).cast("timestamp"), 1L)
          .otherwise(0L)).as("_x"),
        sum(when(col(tsCol) >= lit(cutoff).cast("timestamp"), 1L)
          .otherwise(0L)).as("_y"))
    val pooled = per.agg(count(lit(1)).as("_n"),
        sum(col("_x")).as("_sx"), sum(col("_y")).as("_sy"),
        sum(col("_x") * col("_y")).as("_sxy"),
        sum(col("_x") * col("_x")).as("_sxx"))
      .select(
        (col("_n") * col("_sxy") - col("_sx") * col("_sy")).as("theta_num"),
        (col("_n") * col("_sxx") - col("_sx") * col("_sx")).as("theta_den"))
    per.groupBy(col("variant"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("_x")).as("sum_x"), sum(col("_y")).as("sum_y"))
      .crossJoin(broadcast(pooled))
  }

  /** Top entry paths: each user's first `n` events in event-time order,
    * joined into one `a > b > c` path string, counted across users —
    * the what-do-people-do-first product-analytics staple
    * ([[transitions]] is the one-step Markov view; this keeps order up
    * to depth `n`). Ties in `ts` break on the event id, so the path is
    * deterministic on any engine.
    *
    * Plan shape: the rank filter compiles to WindowGroupLimit (per-task
    * n-row heaps per user — never a full per-user sort), then one
    * user-keyed assembly whose state is ≤ n entries, then a tiny
    * path-keyed count with a bounded top-`topK`. Returns
    * `(path, n_users)`. */
  def topPaths(
      events: DataFrame,
      n: Int = 3,
      topK: Int = 20,
      userCol: String = "user_id",
      typeCol: String = "event_type",
      tsCol: String = "ts",
      idCol: String = "event_id"): DataFrame = {
    require(n >= 1 && topK >= 1,
      s"graft: topPaths needs n >= 1 and topK >= 1, got $n, $topK")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol).asc, col(idCol).asc)
    val paths = events
      .withColumn("_rn", row_number().over(w))
      .where(col("_rn") <= n)
      .groupBy(col(userCol))
      .agg(sort_array(collect_list(
        struct(col("_rn"), col(typeCol).as("_t")))).as("_s"))
      .select(array_join(
        transform(col("_s"), p => p.getField("_t")), " > ").as("path"))
    paths.groupBy(col("path"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc, col("path"))
      .limit(topK)
  }

  /** Day-of-week × hour-of-day seasonality profile: event counts over
    * the 7×24 calendar grid with integer basis-point shares — the
    * traffic-shape heatmap behind capacity planning and anomaly
    * baselines ([[autocorr]] detects that seasonality exists; this is
    * the profile itself). Both coordinates are ARITHMETIC, not calendar
    * functions — `dow = (days_since_epoch + 4) mod 7` (0 = Sunday;
    * 1970-01-01 was a Thursday) and `hod = hours mod 24` — because
    * calendar functions disagree across engines on week numbering while
    * integer arithmetic cannot.
    *
    * Plan shape: one hash aggregation to the ≤168-row grid; the share
    * window rides [[graft.ops.windows.boundedGlobal]] over those grid
    * rows only. Returns `(dow, hod, n, share_bp)`. */
  def seasonality(
      events: DataFrame,
      tsCol: String = "ts"): DataFrame = {
    val g = events
      .select(
        expr(s"((unix_micros($tsCol) DIV 1000000 DIV 86400) + 4) % 7")
          .as("dow"),
        expr(s"(unix_micros($tsCol) DIV 1000000 DIV 3600) % 24").as("hod"))
      .groupBy(col("dow"), col("hod"))
      .agg(count(lit(1)).as("n"))
    val w = graft.ops.windows.boundedGlobal("dow-hod grid <= 168 rows",
      col("dow"))
    g.withColumn("_total", sum(col("n")).over(w))
      .select(col("dow"), col("hod"), col("n"),
        expr("n * 10000 DIV _total").as("share_bp"))
  }

  /** Per-bucket count ceiling for [[decompose]] (ENFORCED in-plan):
    * detrended q6 cells (`x·10⁶`) summed over ≤ `maxBuckets` rows per
    * phase stay inside int64 at 5·10⁷ per bucket — widen `bucketSec`
    * past it. */
  val DecomposeMaxX: Long = 50000000L

  /** CLASSICAL additive seasonal decomposition of the event-time bucket
    * grid: `x = trend + seasonal + remainder` — the descriptive
    * counterpart to [[holtWinters]]'s adaptive smoother and the
    * pre-read for [[seasonalAnomaly]] ("is the metric's weekly shape
    * stable, and what's left once it's removed?").
    *
    * Method (Kendall/Stuart textbook form, odd symmetric window):
    * trend = mean of the buckets in `[b−period/2, b+period/2]` (RANGE
    * window on the bucket VALUE, so grid gaps shrink the window instead
    * of dragging in far-away buckets; edges use the partial window);
    * seasonal = phase-mean of the detrended series
    * (`phase = bucket mod period`), centered so the `period` indices
    * sum to ~0; remainder is what's left.
    *
    * Exactness: all three components are q6 longs via FLOORED integer
    * division (`(a − pmod(a, c)) DIV c` — exact division after the mod
    * subtraction, so Spark's truncating DIV and DuckDB's flooring `//`
    * agree on the negative cells the detrended series routinely has);
    * [[DecomposeMaxX]] is enforced in-plan.
    *
    * Plan shape: one bucket-grid aggregate (map-side combined, ≤
    * `maxBuckets` rows cross the wire), one bounded-global range
    * window, one `period`-sized phase aggregate broadcast back.
    * Returns `(bucket, x, phase, trend_q6, seasonal_q6,
    * remainder_q6)`. */
  def decompose(
      events: DataFrame,
      bucketSec: Long = 3600L,
      period: Int = 24,
      tsCol: String = "ts",
      maxBuckets: Int = 100000): DataFrame = {
    require(bucketSec >= 1, "graft: decompose needs bucketSec >= 1")
    decomposeFrom(bucketGrid(events, bucketSec, tsCol), period, maxBuckets)
  }

  /** FINISH form of [[decompose]] over any `(bucket, x)` grid —
    * duplicate bucket rows re-merge by addition (the sink contract), so
    * a [[cusumStream]] snapshot feeds it directly. */
  def decomposeFrom(
      grid: DataFrame,
      period: Int = 24,
      maxBuckets: Int = 100000): DataFrame = {
    require(period >= 2 && period <= 10000,
      s"graft: decompose needs 2 <= period <= 10000, got $period")
    require(maxBuckets >= 1, "graft: decompose needs maxBuckets >= 1")
    val h = period / 2
    val grid2 = mergedGrid(grid, "decompose", Some(DecomposeMaxX))
    val bg = graft.ops.windows.boundedGlobal("bucket-grid", col("_b"))
    val wCnt = bg.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val wMa = bg.orderBy(col("_b")).rangeBetween(-h, h)
    // floored integer division that both engines compute identically:
    // subtract the positive mod first, then divide exactly (see the
    // events_holt oracle note on DIV truncate-vs-floor)
    // the maxBuckets guard rides INSIDE _x (a consumed column): a guard
    // on a never-read helper column would be pruned by Catalyst and the
    // documented ceiling silently skipped (round-15 review finding)
    val trended = grid2
      .withColumn("_x",
        when(count(lit(1)).over(wCnt) > maxBuckets,
          raise_error(format_string(
            "graft: decompose bucket grid exceeds maxBuckets (%s > " +
              s"$maxBuckets) — widen bucketSec", count(lit(1)).over(wCnt)))
            .cast("long"))
          .otherwise(col("_x")))
      .withColumn("_ts", sum(col("_x")).over(wMa) * 1000000L)
      .withColumn("_tc", count(lit(1)).over(wMa))
      .withColumn("trend_q6",
        expr("(_ts - ((_ts % _tc + _tc) % _tc)) DIV _tc"))
      .withColumn("_d", col("_x") * 1000000L - col("trend_q6"))
      .withColumn("phase", pmod(col("_b"), lit(period.toLong)))
    val phases = trended.groupBy(col("phase"))
      .agg(sum(col("_d")).as("_sd"), count(lit(1)).as("_c"))
      .withColumn("_sraw",
        expr("(_sd - ((_sd % _c + _c) % _c)) DIV _c"))
    val center = phases.agg(sum(col("_sraw")).as("_gs"),
        count(lit(1)).as("_gc"))
      .withColumn("_g", expr("(_gs - ((_gs % _gc + _gc) % _gc)) DIV _gc"))
      .select(col("_g"))
    val seasonal = phases.crossJoin(broadcast(center))
      .select(col("phase"), (col("_sraw") - col("_g")).as("seasonal_q6"))
    trended.join(broadcast(seasonal), "phase")
      .select(col("_b").as("bucket"), col("_x").as("x"), col("phase"),
        col("trend_q6"), col("seasonal_q6"),
        (col("_d") - col("seasonal_q6")).as("remainder_q6"))
  }

  /** Robust per-bucket anomaly flag: deviation from the grid's LOWER
    * MEDIAN measured in MADs (median absolute deviation) — the
    * outlier detector that, unlike z-scores off the mean, one fat
    * incident day cannot drag ([[cusum]] finds sustained shifts; this
    * finds spikes). `flag = dev·1000 > k·mad` is an EXACT integer
    * comparison (`kMilli` = 3500 means 3.5 MADs); when the MAD is 0
    * (over half the buckets identical) any positive deviation flags —
    * the conventional degenerate-MAD reading.
    *
    * Lower-median convention: the `⌈n/2⌉`-th smallest under the total
    * order `(value, bucket)` — deterministic, engine-neutral, no
    * averaging of middle pairs (stays integer). Plan shape: the bucket
    * grid (≤ `maxBuckets` rows), two rank picks over bounded-global
    * windows, each 1-row result broadcast back. Returns
    * `(bucket, x, med, mad, dev, flag)`. */
  def robustZ(
      events: DataFrame,
      bucketSec: Long = 86400L,
      kMilli: Long = 3500L,
      tsCol: String = "ts",
      maxBuckets: Int = 100000): DataFrame = {
    require(bucketSec >= 1, "graft: robustZ needs bucketSec >= 1")
    robustZFrom(bucketGrid(events, bucketSec, tsCol), kMilli, maxBuckets)
  }

  /** FINISH form of [[robustZ]] over any `(bucket, x)` grid — the
    * [[cusumStream]] sink contract (duplicates re-merge by addition). */
  def robustZFrom(
      grid0: DataFrame,
      kMilli: Long = 3500L,
      maxBuckets: Int = 100000): DataFrame = {
    require(kMilli >= 0, s"graft: robustZ needs kMilli >= 0, got $kMilli")
    require(maxBuckets >= 1, "graft: robustZ needs maxBuckets >= 1")
    val grid = mergedGrid(grid0, "robustZ", None)
      .select(col("_b").as("bucket"), col("_x").as("x"))
    val bg = graft.ops.windows.boundedGlobal("bucket-grid", col("bucket"))
    val wCnt = bg.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    def lowerMedian(df: DataFrame, v: String): DataFrame = df
      .withColumn("_rn", row_number().over(bg.orderBy(col(v), col("bucket"))))
      .withColumn("_n",
        when(count(lit(1)).over(wCnt) > maxBuckets,
          raise_error(format_string(
            "graft: robustZ bucket grid exceeds maxBuckets (%s > " +
              s"$maxBuckets) — widen bucketSec", count(lit(1)).over(wCnt)))
            .cast("long"))
          .otherwise(count(lit(1)).over(wCnt)))
      .where(col("_rn") === expr("(_n + 1) DIV 2"))
      .select(col(v).as("_m"))
    val med = lowerMedian(grid, "x")
    val deved = grid.crossJoin(broadcast(med))
      .withColumn("dev", abs(col("x") - col("_m")))
    val mad = lowerMedian(deved.select(col("bucket"), col("dev").as("x")), "x")
      .select(col("_m").as("_mad"))
    deved.crossJoin(broadcast(mad))
      .select(col("bucket"), col("x"), col("_m").as("med"),
        col("_mad").as("mad"), col("dev"),
        (col("dev") * 1000L > lit(kMilli) * col("_mad")).cast("long")
          .as("flag"))
  }

  /** Rolling active users: per day, exact DAU and exact `windowDays`-day
    * rolling actives (WAU at the default 7), plus `stickiness_bp =
    * DAU·10000 / rolling` — the engagement ratio product dashboards
    * track. Exact, not sketched: the (user, day) distinct set is built
    * once (the big shuffle), then each user-day fans out to the ≤
    * `windowDays` day-windows it belongs to and a second distinct
    * collapses (user, window-day) — an exact rolling distinct with a
    * bounded ×windowDays expansion instead of a per-day re-scan. For
    * sketch-sized state at very long windows use [[hllMerge]]-style
    * approximation instead; this is the exact meter.
    *
    * Days are epoch-arithmetic (`epoch_sec DIV 86400`), engine-portable.
    * Returns `(day, dau, rolling, stickiness_bp)`; `day` is the epoch
    * day index, and the first `windowDays − 1` days of the data simply
    * have smaller windows (no padding rows). */
  def activeUsers(
      events: DataFrame,
      windowDays: Int = 7,
      userCol: String = "user_id",
      tsCol: String = "ts"): DataFrame = {
    require(windowDays >= 1,
      s"graft: activeUsers needs windowDays >= 1, got $windowDays")
    val ud = events
      .select(col(userCol).as("_u"),
        expr(s"unix_micros($tsCol) DIV 1000000 DIV 86400").as("_d"))
      .distinct()
    val dau = ud.groupBy(col("_d").as("day"))
      .agg(count(lit(1)).as("dau"))
    val maxDay = ud.agg(max(col("_d")).as("_max"))
    val rolling = ud
      .select(col("_u"), explode(sequence(col("_d"),
        col("_d") + lit(windowDays - 1))).as("day"))
      .distinct()
      .crossJoin(broadcast(maxDay))
      .where(col("day") <= col("_max"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("rolling"))
    // LEFT join from rolling: every DAU day is also a rolling day (a
    // user-day fans out to its own window), but a calendar day can have
    // rolling actives with ZERO fresh DAU — engagement-gap days, the
    // most interesting rows — so they must surface with dau = 0 rather
    // than vanish through an inner join.
    rolling.join(dau, Seq("day"), "left")
      .select(col("day"), coalesce(col("dau"), lit(0L)).as("dau"),
        col("rolling"),
        expr("coalesce(dau, 0) * 10000 DIV rolling").as("stickiness_bp"))
  }

  /** Event concentration: the share of all events produced by the
    * top-`k` heaviest users, in integer basis points — the
    * is-my-corpus-a-few-power-users screen run before trusting
    * engagement metrics (and, on a crawl, the is-one-host-dominating
    * screen with `userCol` = host). One user-keyed count, one bounded
    * global top-k (TakeOrderedAndProject), one 1-row total broadcast
    * back. Returns the top-k rows `(rnk, userCol, n_events, share_bp)`
    * plus their cumulative share. */
  def concentration(
      events: DataFrame,
      k: Int = 10,
      userCol: String = "user_id"): DataFrame = {
    require(k >= 1, s"graft: concentration needs k >= 1, got $k")
    val per = events.groupBy(col(userCol))
      .agg(count(lit(1)).as("n_events"))
    val total = per.agg(sum(col("n_events")).cast("long").as("_total"))
    val top = per
      .orderBy(col("n_events").desc, col(userCol).asc)
      .limit(k)
    val w = graft.ops.windows.boundedGlobal(s"top-k = $k rows",
      col(userCol))
    top.crossJoin(broadcast(total))
      .withColumn("rnk", row_number().over(
        w.orderBy(col("n_events").desc, col(userCol).asc)))
      .withColumn("_cum", sum(col("n_events")).over(
        w.orderBy(col("n_events").desc, col(userCol).asc)
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, 0)))
      .select(col("rnk"), col(userCol), col("n_events"),
        expr("n_events * 10000 DIV _total").as("share_bp"),
        expr("_cum * 10000 DIV _total").as("cum_share_bp"))
  }

  /** Sample-ratio-mismatch (SRM) check for an experiment allocation:
    * distinct UNITS (users) per variant against the uniform expectation,
    * with the chi-square statistic as an exact integer NUM/DEN pair —
    * `chi2 = Σ(n_i − t/k)²/(t/k) = Σ(k·n_i − t)² / (k·t)` — the guard
    * an experimentation platform runs before believing any readout
    * ([[cuped]] reduces variance; this catches a broken randomizer,
    * where no amount of variance reduction saves the experiment).
    *
    * Plan shape: one distinct on (variant, unit), one variant-keyed
    * count, a 1-row (k, total) reduction broadcast back. Returns one
    * row `(n_variants, n_units, chi2_num, chi2_den)`. */
  def srm(
      events: DataFrame,
      variant: Column,
      userCol: String = "user_id"): DataFrame = {
    val per = events.select(variant.as("variant"), col(userCol)).distinct()
      .groupBy(col("variant")).agg(count(lit(1)).as("_n"))
    val tot = per.agg(count(lit(1)).as("_k"), sum(col("_n")).as("_t"))
    per.crossJoin(broadcast(tot))
      .select(col("_k"), col("_t"),
        ((col("_k") * col("_n") - col("_t"))
          * (col("_k") * col("_n") - col("_t"))).as("_d2"))
      .groupBy(col("_k").as("n_variants"), col("_t").as("n_units"))
      .agg(sum(col("_d2")).as("chi2_num"))
      .withColumn("chi2_den", expr("n_variants * n_units"))
  }

  /** Kaplan-Meier survival over time-to-convert WITH censoring — the
    * estimator [[timeToConvert]] cannot give you: users who have not
    * converted by the end of the observation window still carry
    * information (they survived at least that long) and are censored at
    * the study end instead of dropped. Per user: entry = first
    * `fromType` event, conversion = first `toType` at/after entry,
    * duration = whole `bucketSec` buckets; non-converters censor at the
    * global max event time.
    *
    * Determinism discipline: per-bucket counts are exact integers;
    * survival is surfaced IN LOG SPACE as the running exact-integer sum
    * `ln_surv_q9 = Σ floor(ln((n_risk−n_event)/n_risk)·10⁹)` — a
    * per-element quantized transform summed order-free, never a float
    * product (`S(t) = exp(ln_surv_q9/10⁹)` downstream). Once the curve
    * hits zero (`n_event = n_risk`) the log diverges; from that bucket
    * on `ln_surv_q9` is null — a windowed degeneracy flag, not a
    * silently skipped term.
    *
    * Plan shape: two user-keyed aggregations and one user-keyed join
    * (exchange reused), a 1-row study-end reduction broadcast back,
    * then ONE cumulative window over duration buckets — domain-bounded
    * by timespan/bucketSec ([[windows.boundedGlobal]]), independent of
    * event volume. Returns
    * `(t, n_risk, n_event, n_censored, ln_surv_q9)`. */
  def kaplanMeier(
      events: DataFrame,
      fromType: String,
      toType: String,
      bucketSec: Long = 86400L,
      userCol: String = "user_id",
      typeCol: String = "event_type",
      tsCol: String = "ts"): DataFrame = {
    require(bucketSec >= 1, s"graft: kaplanMeier needs bucketSec >= 1")
    val entry = events.where(col(typeCol) === fromType)
      .groupBy(col(userCol)).agg(min(col(tsCol)).as("_from_ts"))
    val conv = events.where(col(typeCol) === toType)
      .select(col(userCol), col(tsCol).as("_to_ts"))
      .join(entry, userCol)
      .where(col("_to_ts") >= col("_from_ts"))
      .groupBy(col(userCol)).agg(min(col("_to_ts")).as("_to_ts"))
    val end = events.agg(max(col(tsCol)).as("_end_ts"))
    val durations = entry.join(conv, Seq(userCol), "left")
      .crossJoin(broadcast(end))
      .select(
        expr(s"((unix_micros(coalesce(_to_ts, _end_ts))" +
          s" - unix_micros(_from_ts)) DIV 1000000) DIV $bucketSec").as("t"),
        col("_to_ts").isNotNull.cast("long").as("_obs"))
    val byT = durations.groupBy(col("t"))
      .agg(count(lit(1)).as("_n_all"), sum(col("_obs")).as("n_event"),
        sum(lit(1L) - col("_obs")).as("n_censored"))
    val wPrev = windows.boundedGlobal("study-buckets", col("t"))
      .orderBy(col("t"))
    val risked = byT
      .withColumn("_total", sum(col("_n_all")).over(
        wPrev.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("n_risk", col("_total") - coalesce(
        sum(col("_n_all")).over(wPrev.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .withColumn("_term_q9",
        when(col("n_event") > 0L && col("n_event") < col("n_risk"),
          floor(log((col("n_risk") - col("n_event")).cast("double")
            / col("n_risk").cast("double")) * 1.0e9).cast("long"))
          .when(col("n_event") === 0L, lit(0L)))
      .withColumn("_dead", max((col("n_event") >= col("n_risk")).cast("long"))
        .over(wPrev.rowsBetween(Window.unboundedPreceding, 0)))
    risked
      .withColumn("ln_surv_q9",
        when(col("_dead") === 0L,
          sum(col("_term_q9")).over(wPrev.rowsBetween(Window.unboundedPreceding, 0))))
      .select(col("t"), col("n_risk"), col("n_event"), col("n_censored"),
        col("ln_surv_q9"))
  }

  /** Difference-in-differences readout: the 2×2 (variant × pre/post)
    * experiment table as ONE wide row of exact integers — per-cell
    * distinct users and value sums in integer cents —
    * plus the interaction estimate `did_4dp = (m̄₁₁−m̄₁₀) − (m̄₀₁−m̄₀₀)`
    * (cell means of cents-per-user) as the single rounded float, the
    * [[cuped]] discipline: exact sums first, one documented float
    * formula last. The parallel-trends readout for a rollout that
    * wasn't randomized.
    *
    * Plan shape: one (user, variant, period) aggregation, a 4-row
    * conditional rollup — no windows, one exchange. */
  def diffInDiff(
      events: DataFrame,
      cutoff: String,
      variant: Column,
      valueCol: String = "value",
      userCol: String = "user_id",
      tsCol: String = "ts"): DataFrame = {
    val per = events
      .select(variant.as("_v"),
        (col(tsCol) >= lit(cutoff).cast("timestamp")).cast("long").as("_post"),
        col(userCol).as("_u"),
        floor(col(valueCol) * 100.0).cast("long").as("_c"))
      .groupBy(col("_v"), col("_post"), col("_u"))
      .agg(sum(col("_c")).as("_s"))
    def cell(v: Int, p: Int, c: Column) =
      sum(when(col("_v") === v && col("_post") === p, c).otherwise(lit(0L)))
    val wide = per.agg(
      cell(0, 0, lit(1L)).as("u00"), cell(0, 0, col("_s")).as("cents00"),
      cell(0, 1, lit(1L)).as("u01"), cell(0, 1, col("_s")).as("cents01"),
      cell(1, 0, lit(1L)).as("u10"), cell(1, 0, col("_s")).as("cents10"),
      cell(1, 1, lit(1L)).as("u11"), cell(1, 1, col("_s")).as("cents11"))
    def m(s: String, u: String) = col(s).cast("double") / col(u).cast("double")
    wide.withColumn("did_4dp",
      when(col("u00") > 0L && col("u01") > 0L && col("u10") > 0L && col("u11") > 0L,
        graft.functions.vectors.quantize(
          (m("cents11", "u11") - m("cents10", "u10"))
            - (m("cents01", "u01") - m("cents00", "u00")), 4)))
  }

  /** Minimum-detectable-effect readout: the experiment-SIZING meter run
    * BEFORE a test ships — given the current variant split and the
    * per-user value distribution, the smallest absolute (cents) and
    * relative lift a two-sample test at α = 0.05 / power = 0.8 can
    * resolve: `mde = (z_{α/2} + z_β)·√(s²_pooled·(1/n₀ + 1/n₁))` with
    * the z-sum as the single literal 2.801585. An experiment whose
    * expected effect is below this number is not worth running — the
    * [[cuped]]/[[srm]]/[[diffInDiff]] family's fourth leg.
    *
    * Exactness discipline: per-user cents and their squares accumulate
    * as exact integer sums (one user-keyed aggregation, then a 1-row
    * conditional rollup — the [[diffInDiff]] shape); the MDE is one
    * documented float expression over those sums (sample variances,
    * pooled, sqrt — each step exactly-rounded IEEE, engine-identical),
    * floor-quantized at the end. Returns one row
    * `(n0, n1, cents0, cents1, mde_cents_q2, mde_rel_q4)` — nulls when
    * a variant has < 2 users (no variance) or control mean is 0 (no
    * relative base). */
  def mdeReadout(
      events: DataFrame,
      variant: Column,
      valueCol: String = "value",
      userCol: String = "user_id"): DataFrame = {
    val per = events
      .select(variant.as("_v"), col(userCol).as("_u"),
        floor(col(valueCol) * 100.0).cast("long").as("_c"))
      .groupBy(col("_v"), col("_u"))
      .agg(sum(col("_c")).as("_s"))
    def cell(v: Int, c: Column) =
      sum(when(col("_v") === v, c).otherwise(lit(0L)))
    val wide = per.agg(
      cell(0, lit(1L)).as("n0"), cell(0, col("_s")).as("cents0"),
      cell(0, col("_s") * col("_s")).as("_ss0"),
      cell(1, lit(1L)).as("n1"), cell(1, col("_s")).as("cents1"),
      cell(1, col("_s") * col("_s")).as("_ss1"))
    def nd(c: String) = col(c).cast("double")
    def sv(n: String, s: String, ss: String) =
      (nd(n) * nd(ss) - nd(s) * nd(s)) / (nd(n) * (nd(n) - lit(1.0)))
    val pooled = ((nd("n0") - lit(1.0)) * sv("n0", "cents0", "_ss0")
      + (nd("n1") - lit(1.0)) * sv("n1", "cents1", "_ss1")) /
      (nd("n0") + nd("n1") - lit(2.0))
    val mde = lit(2.801585) * sqrt(pooled * (lit(1.0) / nd("n0")
      + lit(1.0) / nd("n1")))
    val ok = col("n0") > 1L && col("n1") > 1L
    wide
      .withColumn("mde_cents_q2",
        when(ok, graft.functions.vectors.quantize(mde, 2)))
      .withColumn("mde_rel_q4",
        when(ok && col("cents0") > 0L, graft.functions.vectors.quantize(
          mde / (nd("cents0") / nd("n0")), 4)))
      .select(col("n0"), col("n1"), col("cents0"), col("cents1"),
        col("mde_cents_q2"), col("mde_rel_q4"))
  }

  /** Dense gap-filled value series: per-series `bucketSec` buckets over
    * the series' own [min, max] range, missing buckets supplied by the
    * bounded `sequence` spine and forward-filled with the last observed
    * sum (`observed = 0` marks fills; leading gaps before the first
    * observation cannot exist by construction since the range starts at
    * an observed bucket). The upstream primitive for any
    * equal-spacing consumer — [[autocorr]], [[changepoints]],
    * [[snaiveBacktest]] — when the metric is a VALUE (integer cents),
    * not a count where absence already means zero.
    *
    * Plan shape: the [[denseSeries]] contract — one stream-collapsing
    * hash aggregate, a domain-bounded spine explode, one series-keyed
    * window for the fill. Returns `(series, t, cents, observed)`. */
  def gapFill(
      events: DataFrame,
      bucketSec: Long = 3600L,
      seriesCol: String = "event_type",
      valueCol: String = "value",
      tsCol: String = "ts"): DataFrame = {
    require(bucketSec >= 1, s"graft: gapFill needs bucketSec >= 1")
    val sums = events
      .select(col(seriesCol).as("series"),
        expr(s"(unix_micros($tsCol) DIV 1000000) DIV $bucketSec").as("t"),
        floor(col(valueCol) * 100.0).cast("long").as("_c"))
      .groupBy(col("series"), col("t")).agg(sum(col("_c")).as("_cents"))
    val spine = sums.groupBy(col("series"))
      .agg(min(col("t")).as("_t0"), max(col("t")).as("_t1"))
      .select(col("series"), explode(sequence(col("_t0"), col("_t1"))).as("t"))
    val w = Window.partitionBy(col("series")).orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, 0)
    spine.join(sums, Seq("series", "t"), "left")
      .select(col("series"), col("t"),
        last(col("_cents"), ignoreNulls = true).over(w).as("cents"),
        col("_cents").isNotNull.cast("long").as("observed"))
  }

  /** Seasonal-naive forecast backtest: predict each bucket's event count
    * by the count one `season` earlier (lag-`season` persistence — the
    * canonical baseline every fancier forecaster must beat), scored
    * against the lag-1 persistence baseline. Per series:
    * `mae_num/mae_den` = exact Σ|y − y_{t−season}| over evaluable
    * buckets, `naive_num` = Σ|y − y_{t−1}| on the SAME buckets, and
    * `skill_ppm = mae_num·10⁶ DIV naive_num` (< 10⁶ means seasonality
    * is real and a seasonal scheduler beats a flat one). Series densify
    * via [[denseSeries]] — a silent gap is a zero, not a skipped lag.
    *
    * Plan shape: one hash aggregate, bounded spine, ONE series-keyed
    * window carrying both lags over domain-bounded series rows, then a
    * per-series rollup. Returns
    * `(series, n_eval, mae_num, mae_den, naive_num, skill_ppm)`. */
  def snaiveBacktest(
      events: DataFrame,
      bucketSec: Int = 3600,
      season: Int = 168,
      seriesCol: String = "event_type",
      tsCol: String = "ts"): DataFrame = {
    require(season >= 2, s"graft: snaiveBacktest needs season >= 2, got $season")
    val dense = denseSeries(events, bucketSec, seriesCol, tsCol)
    val w = Window.partitionBy(col(seriesCol)).orderBy(col("_t"))
    val lagged = dense.select(col(seriesCol).as("series"), col("_c"),
      lag(col("_c"), season).over(w).as("_ls"),
      lag(col("_c"), 1).over(w).as("_l1"))
      .where(col("_ls").isNotNull)
    lagged.groupBy(col("series"))
      .agg(count(lit(1)).as("n_eval"),
        sum(abs(col("_c") - col("_ls"))).as("mae_num"),
        count(lit(1)).as("mae_den"),
        sum(abs(col("_c") - col("_l1"))).as("naive_num"))
      .withColumn("skill_ppm",
        when(col("naive_num") > 0L,
          expr("(mae_num * 1000000) DIV naive_num")).cast("long"))
  }

  /** Cohort LTV curves: users grouped by the week of their FIRST event
    * (the cohort), value accumulated by weeks-since-joining (the age) —
    * the `(cohort, age) → cumulative cents per cohort user` triangle
    * behind every retention-revenue read ("do newer cohorts monetize
    * faster?"). [[retention]] counts who comes back; this weighs what
    * they're worth.
    *
    * Exactness: per-cell distinct-user counts and cent sums are exact
    * integers; the cumulative sum runs over AGE buckets (bounded by
    * timespan/bucket — the [[kaplanMeier]] window argument), and
    * `ltv_q4` = cumulative cents / cohort size is the one floor-4dp
    * float at the end.
    *
    * Plan shape: one user-keyed min (cohort assignment), one user-keyed
    * join back onto the stream (same key — the exchange reuses), one
    * (cohort, age) hash aggregate, a cohort-keyed cumulative window
    * over domain-bounded cells, and a broadcast of the grid-sized
    * cohort totals. Returns `(cohort, age, n_active, cents, cum_cents,
    * cohort_users, ltv_q4)`. */
  def cohortLtv(
      events: DataFrame,
      bucketSec: Long = 604800L,
      userCol: String = "user_id",
      tsCol: String = "ts",
      valueCol: String = "value"): DataFrame = {
    require(bucketSec >= 1, s"graft: cohortLtv needs bucketSec >= 1")
    val first = events.groupBy(col(userCol))
      .agg(min(col(tsCol)).as("_first_ts"))
    val aged = events
      .select(col(userCol), col(tsCol),
        floor(coalesce(col(valueCol), lit(0.0)) * 100.0).cast("long").as("_c"))
      .join(first, userCol)
      .select(col(userCol),
        expr(s"(unix_micros(_first_ts) DIV 1000000) DIV $bucketSec")
          .as("cohort"),
        expr(s"((unix_micros($tsCol) - unix_micros(_first_ts))" +
          s" DIV 1000000) DIV $bucketSec").as("age"),
        col("_c"))
    val cells = aged.groupBy(col("cohort"), col("age"))
      .agg(countDistinct(col(userCol)).as("n_active"),
        sum(col("_c")).as("cents"))
    val sizes = first
      .select(expr(s"(unix_micros(_first_ts) DIV 1000000) DIV $bucketSec")
        .as("cohort"))
      .groupBy(col("cohort")).agg(count(lit(1)).as("cohort_users"))
    val w = Window.partitionBy(col("cohort")).orderBy(col("age"))
      .rowsBetween(Window.unboundedPreceding, 0)
    cells
      .withColumn("cum_cents", sum(col("cents")).over(w))
      .join(broadcast(sizes), "cohort")
      .withColumn("ltv_q4",
        floor(col("cum_cents").cast("double") / col("cohort_users").cast("double")
          * 10000.0) / 10000.0)
      .select(col("cohort"), col("age"), col("n_active"), col("cents"),
        col("cum_cents"), col("cohort_users"), col("ltv_q4"))
  }

  /** Theil-Sen robust trend per series: the MEDIAN of all pairwise
    * bucket-count slopes `(c_j − c_i) / (t_j − t_i)` over the densified
    * series — the outlier-immune companion to [[trend]]'s OLS (one
    * traffic spike drags a least-squares slope arbitrarily; it moves
    * the pairwise-slope median by at most one rank). Sen 1968.
    *
    * Determinism discipline: a signed integer quotient per pair would
    * round differently across engines, so each slope stays an exact
    * `(num, den)` rational and the median is SELECTED, not computed —
    * pairs totally ordered by (num/den as ONE IEEE division — exactly
    * rounded, engine-identical; equal-valued fractions then tie-break
    * on num, den, t₁), and the lower-median pair's exact rational is
    * surfaced. No arithmetic on floats ever aggregates.
    *
    * Plan shape: one hash aggregate collapses event volume to
    * DOMAIN-bounded series rows (timespan/bucketSec — independent of
    * row count), the pair stage is a series-keyed self-join emitting
    * O(B²) rows for B buckets (B ≈ 30 daily / 720 hourly: the pair
    * count is a function of the TIME RANGE, not the data volume), and
    * one series-keyed window ranks them. Returns
    * `(series, n_pairs, med_num, med_den)` — slope = med_num/med_den in
    * counts per bucket. */
  def theilSen(
      events: DataFrame,
      bucketSec: Int = 86400,
      seriesCol: String = "event_type",
      tsCol: String = "ts"): DataFrame = {
    require(bucketSec >= 1, s"graft: theilSen needs bucketSec >= 1")
    val dense = denseSeries(events, bucketSec, seriesCol, tsCol)
      .select(col(seriesCol).as("series"), col("_t"), col("_c"))
    val lo = dense.select(col("series"), col("_t").as("_t1"), col("_c").as("_c1"))
    val hi = dense.select(col("series"), col("_t").as("_t2"), col("_c").as("_c2"))
    val pairs = lo.join(hi, Seq("series")).where(col("_t1") < col("_t2"))
      .select(col("series"), (col("_c2") - col("_c1")).as("num"),
        (col("_t2") - col("_t1")).as("den"), col("_t1"))
    val w = Window.partitionBy(col("series"))
    pairs
      .withColumn("_key", col("num").cast("double") / col("den").cast("double"))
      .withColumn("_rnk", row_number().over(
        w.orderBy(col("_key"), col("num"), col("den"), col("_t1"))))
      .withColumn("n_pairs", count(lit(1)).over(w))
      .where(col("_rnk") === expr("(n_pairs + 1) DIV 2"))
      .select(col("series"), col("n_pairs"),
        col("num").as("med_num"), col("den").as("med_den"))
  }

  /** One event on the stateful dialog-assembly path. */
  final case class TurnEvent(
      user_id: Long, ts: java.sql.Timestamp, event_id: Long, event_type: String)

  /** Open-dialog state: epoch-microsecond bounds plus the ≤ maxTurns kept
    * turn labels. `lastUs` tracks the latest event INCLUDING ones beyond
    * the cap (they keep the session alive); `capLastUs` is the last KEPT
    * turn's time — span is reported over kept turns, matching the batch
    * [[assembleDialogs]] contract. */
  final case class DialogState(
      startUs: Long, lastUs: Long, capLastUs: Long,
      turns: Seq[String], nSeen: Long)

  /** A closed dialog. */
  final case class ClosedDialog(
      user_id: Long, n_turns: Long, span_sec: Long, transcript: String,
      truncated: Boolean)

  /** TRUE streaming dialog assembly: the [[assembleDialogs]] twin for
    * unbounded interaction logs — per-user state via
    * `flatMapGroupsWithState`, a dialog closing either by an in-stream
    * gap (a new event more than `gapMinutes` after the last) or by the
    * processing-time timeout firing with no new data. On a
    * single-session-per-user input the two paths agree on
    * (n_turns, span_sec, transcript) — EventStreamSpec pins it.
    *
    * Unbounded-state discipline: state per user is the ≤ `maxTurns` kept
    * turn labels plus three scalars — O(maxTurns), NOT O(events): turns
    * past the cap bump `nSeen`/`lastUs` (the session stays alive, the
    * truncation surfaces in `truncated`) but are never buffered. The
    * per-batch slice is sorted in memory like [[sessionizeStream]]'s —
    * bounded by one user's events in ONE micro-batch, not their
    * history. */
  def assembleDialogsStream(
      events: org.apache.spark.sql.Dataset[TurnEvent],
      gapMinutes: Int = 30,
      maxTurns: Int = 64,
      sep: String = " > ",
      useTimeout: Boolean = true): org.apache.spark.sql.Dataset[ClosedDialog] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    require(maxTurns >= 1, s"graft: assembleDialogsStream needs maxTurns >= 1")
    val gapUs = gapMinutes * 60000000L
    val timeoutConf =
      if (useTimeout) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout

    // Local defs, not object methods — the sessionizeStream
    // serializability discipline.
    def epochMicros(ts: java.sql.Timestamp): Long =
      math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L
    def close(u: Long, s: DialogState) = ClosedDialog(
      u, s.turns.length.toLong, (s.capLastUs - s.startUs) / 1000000L,
      s.turns.mkString(sep), s.nSeen > maxTurns)

    events.groupByKey(_.user_id).flatMapGroupsWithState(
      OutputMode.Append, timeoutConf) {
      (user: Long, it: Iterator[TurnEvent], state: GroupState[DialogState]) =>
        if (state.hasTimedOut) {
          val out = state.getOption.map(close(user, _)).toSeq
          state.remove()
          out.iterator
        } else {
          val sorted = it.toSeq.sortBy(e => (epochMicros(e.ts), e.event_id))
          var cur = state.getOption
          val closed = Seq.newBuilder[ClosedDialog]
          sorted.foreach { e =>
            val t = epochMicros(e.ts)
            cur match {
              case Some(s) if t - s.lastUs <= gapUs =>
                cur = Some(
                  if (s.nSeen < maxTurns)
                    DialogState(s.startUs, t, t, s.turns :+ e.event_type, s.nSeen + 1)
                  else
                    DialogState(s.startUs, t, s.capLastUs, s.turns, s.nSeen + 1))
              case Some(s) =>
                closed += close(user, s)
                cur = Some(DialogState(t, t, t, Seq(e.event_type), 1L))
              case None =>
                cur = Some(DialogState(t, t, t, Seq(e.event_type), 1L))
            }
          }
          cur.foreach { s =>
            state.update(s)
            if (useTimeout) state.setTimeoutDuration(gapUs / 1000L)
          }
          closed.result().iterator
        }
    }
  }

  /** Streaming twin of the batch keep-first dedup
    * (`events_dedup_keepfirst`): emit the FIRST event per key and drop
    * later duplicates, with dedup state BOUNDED by the event-time
    * watermark — `dropDuplicatesWithinWatermark` evicts a key's state
    * once the watermark passes its event time, so unbounded streams don't
    * accumulate unbounded key state (plain `dropDuplicates` on a stream
    * would). Within any watermark window the two paths agree on an
    * in-event-time-order stream; the batch window-rank form remains the
    * backfill twin (EventStreamSpec pins the agreement). */
  def dedupKeepFirstStream(
      events: DataFrame,
      keyCols: Seq[String] = Seq("user_id", "event_type"),
      tsCol: String = "ts",
      delay: String = "10 minutes"): DataFrame =
    events
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** LIVE distinct-count state over a stream: the
    * [[graft.ops.sketch.hllRegisters]] aggregation applied to a streaming
    * DataFrame — one stateless projection (hash + two bit ops) and one
    * `max` per (group, register), which Structured Streaming maintains
    * incrementally in update mode with state BOUNDED at ≤ 2^p rows per
    * group FOREVER (registers only ratchet upward; no watermark needed —
    * a cardinality-over-all-time sketch has no late-data notion). An
    * exact streaming `count_distinct` would hold every seen value in
    * state; this holds `m` bytes-ish per group, the whole point of HLL
    * in a 100 TB/day ingest. Registers land in the sink table;
    * [[graft.ops.sketch.hllEstimate]] turns any snapshot into the
    * estimate, and because the aggregation is the SAME code as batch,
    * the stream state after n events is bit-identical to
    * `hllRegisters` over those n events as a batch (EventStreamSpec
    * pins this). */
  def hllStream(
      events: DataFrame,
      valueCol: org.apache.spark.sql.Column,
      groupCols: Seq[String],
      p: Int = 6): DataFrame =
    graft.ops.sketch.hllRegisters(events, valueCol, groupCols, p)

  /** Live trending items: the Misra-Gries heavy-hitter summary as a
    * STREAMING aggregation — the same unified-surface delegation as
    * [[hllStream]] (one builder, batch or stream). State per group is
    * the capacity-bounded MG buffer forever, whatever the stream volume.
    * In the exact regime (capacity ≥ distinct items per group) the
    * streamed state equals the batch summary of the same events
    * BIT-FOR-BIT (asserted in EventStreamSpec); past capacity both are
    * valid ε = n/capacity summaries (PODS'12 merge rule) that may order
    * evictions differently. Run in complete/update output mode. */
  def heavyHittersStream(
      events: DataFrame,
      itemCol: org.apache.spark.sql.Column,
      groupCols: Seq[String],
      capacity: Int = 256,
      topN: Int = 10): DataFrame =
    graft.ops.sketch.heavyHittersBy(events, groupCols, itemCol, capacity, topN)

  /** LIVE calibration-drift monitoring: the
    * [[graft.ops.evals.reliabilityGrid]] per-(window, bin) exact counts
    * as a watermarked streaming aggregation — the is-the-reward-model-
    * still-calibrated meter over a scored event stream. Three sums per
    * (window, bin), so state is `bins` rows per open window and the
    * sink's grid rows MERGE BY ADDITION across restarts/backfills;
    * [[graft.ops.evals.eceFrom]] turns any sink snapshot into per-window
    * ECE/MCE (the [[hllStream]] build/finish split). Because the
    * aggregation is the SAME code as batch, the stream's folded output
    * equals the batch grid of the same events (EventStreamSpec pins
    * this). Append mode once the watermark closes a window. */
  def calibrationStream(
      events: DataFrame,
      probPpmCol: org.apache.spark.sql.Column,
      labelCol: org.apache.spark.sql.Column,
      tsCol: String = "ts",
      windowDur: String = "1 hour",
      delay: String = "10 minutes",
      bins: Int = 10): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark(tsCol, delay)
      else events
    graft.ops.evals.reliabilityGrid(src, probPpmCol, labelCol,
      Seq(window(col(tsCol), windowDur).as("win")), bins)
  }

  /** LIVE preference-drift monitoring: [[graft.ops.evals.winRateGrid]]
    * per event-time window as a watermarked streaming aggregation — the
    * is-the-new-model-still-winning meter over a stream of paired
    * scores (A/B eval traffic, reward-model shadow scoring). Four sums
    * per window, so state is one thin row per open window and sink
    * snapshots merge by addition; [[graft.ops.evals.winRateFrom]] turns
    * any snapshot into the ppm win-rate conventions (the
    * [[calibrationStream]] build/finish split). Same code path as
    * batch, so stream ≡ batch on the same events (EventStreamSpec pins
    * this). Append mode once the watermark closes a window. */
  def winRateStream(
      events: DataFrame,
      aCol: org.apache.spark.sql.Column,
      bCol: org.apache.spark.sql.Column,
      tsCol: String = "ts",
      windowDur: String = "1 hour",
      delay: String = "10 minutes"): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark(tsCol, delay)
      else events
    graft.ops.evals.winRateGrid(src, aCol, bCol,
      Seq(window(col(tsCol), windowDur).as("win")))
  }

  /** LIVE distribution-drift monitoring: the [[graft.ops.sample
    * .histGrid]] per-(window, bin) exact counts as a watermarked
    * streaming aggregation — the is-the-input-distribution-still-the-
    * training-distribution meter over any quantized value stream
    * (score cents, token counts, ppm rates). One count per (window,
    * bin), so state is bins-per-open-window rows and sink snapshots
    * MERGE BY ADDITION; [[graft.ops.sample.psiFrom]] scores any
    * snapshot against a pinned reference histogram (the
    * [[calibrationStream]] build/finish split), and
    * [[graft.ops.sample.ksStat]] gates two snapshots exactly. Same
    * code path as batch, so stream ≡ batch on the same events
    * (EventStreamSpec pins this). Append mode once the watermark
    * closes a window. */
  def histDriftStream(
      events: DataFrame,
      valueCol: org.apache.spark.sql.Column,
      binWidth: Long,
      tsCol: String = "ts",
      windowDur: String = "1 hour",
      delay: String = "10 minutes"): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark(tsCol, delay)
      else events
    graft.ops.sample.histGrid(src, valueCol,
      Seq(window(col(tsCol), windowDur).as("win")), binWidth)
  }
}
