package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.streaming.EventStream

/** Known-answer tests for the survival / experiment / forecasting event
  * meters added round 10: Kaplan-Meier with censoring, the DiD 2×2,
  * gap fill, and the seasonal-naive backtest. */
class EventMetersSpec extends SparkSpec {
  import spark.implicits._

  private def ts(day: Int, hour: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-${day}%02d $hour%02d:00:00")

  private def ev(rows: (Long, Timestamp, Long, String, Double)*) =
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")

  test("cusum: flat series never alarms; a step shift accumulates and alarms") {
    // 7 ref days at 2 events/day, then a level shift to 5/day:
    // d = 7*x - 14; flat days fold to 0, each shifted day adds 21, so
    // s_scaled walks 21, 42, 63 and crosses threshold*n_ref = 8*7 = 56
    // on the third shifted day
    def burst(day: Int, n: Int) = (1 to n).map(i =>
      (day * 100L + i, ts(day), i.toLong, "e", 1.0))
    val shifted = ev(((1 to 7).flatMap(d => burst(d, 2)) ++
      (8 to 10).flatMap(d => burst(d, 5))): _*)
    val got = EventStream.cusum(shifted, bucketSec = 86400L, refN = 7,
        slack = 0L, threshold = 8L)
      .orderBy("bucket").collect()
    assert(got.length == 10)
    assert(got.take(7).forall(r => r.getLong(2) == 0L && !r.getBoolean(3)))
    assert(got.drop(7).map(_.getLong(2)).toSeq == Seq(21L, 42L, 63L))
    assert(got.drop(7).map(_.getBoolean(3)).toSeq ==
      Seq(false, false, true))
    // slack absorbs the shift: slack 3 makes d = 7*(x-2-3) = 0 on
    // shifted days too -> never alarms
    val slacked = EventStream.cusum(shifted, bucketSec = 86400L, refN = 7,
      slack = 3L, threshold = 8L)
    assert(slacked.where(col("alarm")).count() == 0L)
    intercept[IllegalArgumentException] {
      EventStream.cusum(shifted, refN = 0)
    }
  }

  test("holtLinear: driver replay of the dyadic recurrence; constant lock") {
    def burst(day: Int, n: Int) = (1 to n).map(i =>
      (day * 100L + i, ts(day), i.toLong, "e", 1.0))
    // a ramp: 2, 4, 6, 8, 10 events/day
    val ramp = ev((1 to 5).flatMap(d => burst(d, 2 * d)): _*)
    // driver twin: floorDiv(_, 1024) == arithmetic shiftright 10
    def replay(xs: Seq[Long], aNum: Long = 307L, bNum: Long = 102L)
        : Seq[(Long, Long, Option[Long])] = {
      var l = xs.head * 1024L; var t = 0L
      val out = scala.collection.mutable.ArrayBuffer(
        (l, 0L, Option.empty[Long]))
      xs.tail.foreach { x =>
        val f = l + t
        val l2 = Math.floorDiv(aNum * x * 1024L + (1024L - aNum) * f, 1024L)
        val t2 = Math.floorDiv(bNum * (l2 - l) + (1024L - bNum) * t, 1024L)
        out += ((l2, t2, Some(f))); l = l2; t = t2
      }
      out.toSeq
    }
    val want = replay(Seq(2L, 4L, 6L, 8L, 10L))
    val got = EventStream.holtLinear(ramp, bucketSec = 86400L)
      .orderBy("bucket").collect()
    assert(got.length == 5)
    got.zip(want).foreach { case (r, (l, t, f)) =>
      assert(r.getLong(2) == l && r.getLong(3) == t)
      assert(f.map(v => !r.isNullAt(4) && r.getLong(4) == v)
        .getOrElse(r.isNullAt(4)))
      f.foreach(v => assert(r.getLong(5) == r.getLong(1) * 1024L - v))
    }
    // the ramp's trend term is positive and the forecast chases upward
    assert(got.last.getLong(3) > 0L)
    // a constant series locks exactly: level = x*1024, trend 0, err 0
    val flat = ev((1 to 6).flatMap(d => burst(d, 3)): _*)
    val fr = EventStream.holtLinear(flat, bucketSec = 86400L)
      .orderBy("bucket").collect()
    assert(fr.forall(r => r.getLong(2) == 3L * 1024L && r.getLong(3) == 0L))
    assert(fr.drop(1).forall(r => r.getLong(5) == 0L))
    intercept[IllegalArgumentException] {
      EventStream.holtFrom(ramp.select(lit(1L).as("bucket"),
        lit(1L).as("x")), aNum = 0)
    }
  }

  test("holtWinters: driver replay with seasonal ring; flat lock; phase by bucket id") {
    def burst(day: Int, n: Int) = (1 to n).map(i =>
      (day * 100L + i, ts(day), i.toLong, "e", 1.0))
    // period-2 alternation: 2, 6, 2, 6, 2, 6 events/day
    val alt = ev((1 to 6).flatMap(d => burst(d, if (d % 2 == 1) 2 else 6)): _*)
    val buckets = (1 to 6).map(d =>
      ts(d).toInstant.getEpochSecond / 86400L)
    def replay(bx: Seq[(Long, Long)], period: Int = 7, aNum: Long = 307L,
        bNum: Long = 102L, gNum: Long = 205L)
        : Seq[(Long, Long, Long, Option[Long])] = {
      var l = 0L; var t = 0L
      val ring = Array.fill(period)(0L)
      var first = true
      val out =
        scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Option[Long])]
      bx.foreach { case (b, x) =>
        val pos = java.lang.Math.floorMod(b, period.toLong).toInt
        val sPrev = ring(pos)
        val xs = x * 1024L
        val f = if (first) None else Some(l + t + sPrev)
        val l2 = if (first) xs
          else Math.floorDiv(aNum * (xs - sPrev) + (1024L - aNum) * (l + t), 1024L)
        val t2 = if (first) 0L
          else Math.floorDiv(bNum * (l2 - l) + (1024L - bNum) * t, 1024L)
        val s2 = Math.floorDiv(gNum * (xs - l2) + (1024L - gNum) * sPrev, 1024L)
        ring(pos) = s2
        out += ((l2, t2, s2, f)); l = l2; t = t2; first = false
      }
      out.toSeq
    }
    val want = replay(buckets.zip(Seq(2L, 6L, 2L, 6L, 2L, 6L)))
    val got = EventStream.holtWinters(alt, bucketSec = 86400L)
      .orderBy("bucket").collect()
    assert(got.length == 6)
    got.zip(want).foreach { case (r, (l, t, s, f)) =>
      assert(r.getLong(2) == l && r.getLong(3) == t && r.getLong(4) == s)
      assert(f.map(v => !r.isNullAt(5) && r.getLong(5) == v)
        .getOrElse(r.isNullAt(5)))
      f.foreach(v => assert(r.getLong(6) == r.getLong(1) * 1024L - v))
    }
    // a constant series locks exactly: level = x*1024, trend 0, and the
    // seasonal ring stays identically 0 (no residual to absorb)
    val flat = ev((1 to 8).flatMap(d => burst(d, 3)): _*)
    val fr = EventStream.holtWinters(flat, bucketSec = 86400L)
      .orderBy("bucket").collect()
    assert(fr.forall(r => r.getLong(2) == 3L * 1024L && r.getLong(3) == 0L
      && r.getLong(4) == 0L))
    assert(fr.drop(1).forall(r => r.getLong(6) == 0L))
    // with period = 2 the alternating series' seasonal terms take on
    // opposite signs for the two phases once warmed up
    val p2 = EventStream.holtWinters(alt, bucketSec = 86400L, period = 2)
      .orderBy("bucket").collect()
    val lastTwo = p2.takeRight(2).map(_.getLong(4))
    assert(lastTwo.exists(_ > 0L) && lastTwo.exists(_ < 0L))
    intercept[IllegalArgumentException] {
      EventStream.holtWintersFrom(alt.select(lit(1L).as("bucket"),
        lit(1L).as("x")), period = 1)
    }
  }

  test("holtWintersForecast: flat lock projects the level; seasonal parity carries") {
    def burst(day: Int, n: Int) = (1 to n).map(i =>
      (day * 100L + i, ts(day), i.toLong, "e", 1.0))
    // constant series: l = 3*1024, t = 0, ring 0 -> every step forecasts 3
    val flat = ev((1 to 6).flatMap(d => burst(d, 3)): _*)
    val f = EventStream.holtWintersForecast(flat, bucketSec = 86400L,
      period = 7, horizon = 5).orderBy("step").collect()
    assert(f.length == 5)
    val lastB = ts(6).toInstant.getEpochSecond / 86400L
    assert(f.map(_.getLong(0)).toSeq == (1 to 5).map(lastB + _).toSeq)
    assert(f.forall(r => r.getLong(2) == 3L * 1024L && r.getDouble(3) == 3.0))
    // alternating 2/6 with period 2: the projected values alternate with
    // the bucket parity, consistent with the fitted ring's signs
    val alt = ev((1 to 8).flatMap(d => burst(d, if (d % 2 == 1) 2 else 6)): _*)
    val fit = EventStream.holtWinters(alt, bucketSec = 86400L, period = 2)
      .orderBy("bucket").collect()
    val ringByPhase = fit.takeRight(2)
      .map(r => (java.lang.Math.floorMod(r.getLong(0), 2L), r.getLong(4)))
      .toMap
    val fc = EventStream.holtWintersForecast(alt, bucketSec = 86400L,
      period = 2, horizon = 4).orderBy("step").collect()
    // the step-k forecast uses the ring slot of (b_last + k) mod 2 plus
    // the linear part l + k*t
    val (l, t) = (fit.last.getLong(2), fit.last.getLong(3))
    fc.foreach { r =>
      val phase = java.lang.Math.floorMod(r.getLong(0), 2L)
      assert(r.getLong(2) == l + r.getLong(1) * t + ringByPhase(phase),
        s"step ${r.getLong(1)}")
    }
    intercept[IllegalArgumentException] {
      EventStream.holtWintersForecast(flat, horizon = 0)
    }
  }

  test("decompose: flat lock, additive identity, signed seasonal split") {
    def burst(day: Int, n: Int) = (1 to n).map(i =>
      (day * 100L + i, ts(day), i.toLong, "e", 1.0))
    // flat: trend = x·1e6 exactly, seasonal and remainder identically 0
    val flat = ev((1 to 6).flatMap(d => burst(d, 3)): _*)
    val fr = EventStream.decompose(flat, bucketSec = 86400L, period = 2)
      .orderBy("bucket").collect()
    assert(fr.length == 6)
    assert(fr.forall(r => r.getLong(3) == 3000000L && r.getLong(4) == 0L
      && r.getLong(5) == 0L))
    // alternating 2/6: the two phase indices split with opposite signs,
    // phase is anchored to the bucket id, and the additive identity
    // x·1e6 = trend + seasonal + remainder holds row-for-row
    val alt = ev((1 to 6).flatMap(d => burst(d, if (d % 2 == 1) 2 else 6)): _*)
    val ar = EventStream.decompose(alt, bucketSec = 86400L, period = 2)
      .orderBy("bucket").collect()
    assert(ar.forall(r =>
      r.getLong(1) * 1000000L == r.getLong(3) + r.getLong(4) + r.getLong(5)))
    assert(ar.forall(r => r.getLong(2) == java.lang.Math.floorMod(
      r.getLong(0), 2L)))
    val byPhase = ar.groupBy(_.getLong(2)).view.mapValues(_.head.getLong(4))
    assert(byPhase.values.exists(_ > 0L) && byPhase.values.exists(_ < 0L))
    intercept[IllegalArgumentException] {
      EventStream.decompose(alt, period = 1)
    }
    // the maxBuckets ceiling must RAISE, not be pruned away with an
    // unused guard column (round-15 review finding)
    val e = intercept[Exception] {
      EventStream.decompose(alt, bucketSec = 86400L, period = 2,
        maxBuckets = 3).collect()
    }
    assert(e.getMessage.contains("decompose bucket grid exceeds maxBuckets"),
      e.getMessage)
  }

  test("every grid meter's maxBuckets guard raises with its own op name") {
    // six daily buckets against a three-bucket ceiling
    val six = ev((1 to 6).map(d => (d.toLong, ts(d), 1L, "e", 1.0)): _*)
    val day = 86400L
    Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "holt" -> (() => EventStream.holtLinear(six, day, maxBuckets = 3)),
      "holtWinters" -> (() =>
        EventStream.holtWinters(six, day, period = 2, maxBuckets = 3)),
      "holtWinters" -> (() =>
        EventStream.holtWintersForecast(six, day, period = 2, maxBuckets = 3)),
      "cusum" -> (() => EventStream.cusum(six, day, refN = 1, maxBuckets = 3)),
      "robustZ" -> (() => EventStream.robustZ(six, day, maxBuckets = 3))
    ).foreach { case (op, meter) =>
      val e = intercept[Exception](meter().collect())
      assert(e.getMessage.contains(
        s"graft: $op bucket grid exceeds maxBuckets (6 > 3) — widen bucketSec"),
        s"$op: ${e.getMessage}")
    }
  }

  test("robustZ: lower-median/MAD hand fixtures; degenerate MAD flags any deviation") {
    def burst(day: Int, n: Int) = (1 to n).map(i =>
      (day * 100L + i, ts(day), i.toLong, "e", 1.0))
    // counts 1..6 and a 100-spike: med = 4 (lower), MAD = 2; at k = 3.5
    // only dev 96 > 7 flags
    val spiky = ev(((1 to 6).flatMap(d => burst(d, d)) ++
      burst(7, 100)): _*)
    val r = EventStream.robustZ(spiky, bucketSec = 86400L, kMilli = 3500L)
      .orderBy("bucket").collect()
    assert(r.length == 7)
    assert(r.forall(_.getLong(2) == 4L))
    assert(r.forall(_.getLong(3) == 2L))
    assert(r.map(_.getLong(5)).toSeq == Seq(0L, 0L, 0L, 0L, 0L, 0L, 1L))
    // over half the buckets identical -> MAD 0 -> any deviation flags
    val flat6 = ev(((1 to 6).flatMap(d => burst(d, 3)) ++
      burst(7, 4)): _*)
    val f = EventStream.robustZ(flat6, bucketSec = 86400L, kMilli = 3500L)
      .orderBy("bucket").collect()
    assert(f.forall(_.getLong(3) == 0L))
    assert(f.map(_.getLong(5)).toSeq == Seq(0L, 0L, 0L, 0L, 0L, 0L, 1L))
  }

  test("kaplanMeier: textbook ladder with one censored user") {
    // u1 converts day 1, u2 day 1, u3 day 3, u4 never (censored at max
    // ts = day 5). Classic S: after t=1: 2/4 survive; t=3: 1/2 of the
    // remaining 2 → ln terms ln(2/4)+... per bucket.
    val df = ev(
      (1, ts(1), 1, "signup", 0.0), (2, ts(2), 1, "purchase", 1.0),
      (3, ts(1), 2, "signup", 0.0), (4, ts(2, 12), 2, "purchase", 1.0),
      (5, ts(1), 3, "signup", 0.0), (6, ts(4), 3, "purchase", 1.0),
      (7, ts(1), 4, "signup", 0.0), (8, ts(5), 4, "view", 1.0))
    val rows = EventStream.kaplanMeier(df, "signup", "purchase",
      bucketSec = 86400L).orderBy("t").collect()
    // durations: u1=1, u2=1 (1.5 floors to 1), u3=3, u4 censored at 4
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 3L, 4L))
    val byT = rows.map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(byT(1L) == ((4L, 2L, 0L)), "4 at risk, 2 convert on day 1")
    assert(byT(3L) == ((2L, 1L, 0L)), "2 at risk, 1 converts on day 3")
    assert(byT(4L) == ((1L, 0L, 1L)), "last user censored")
    val expectT1 = math.floor(math.log(2.0 / 4.0) * 1e9).toLong
    val expectT3 = expectT1 + math.floor(math.log(1.0 / 2.0) * 1e9).toLong
    assert(rows(0).getLong(4) == expectT1)
    assert(rows(1).getLong(4) == expectT3)
    assert(rows(2).getLong(4) == expectT3, "censoring does not move S")
  }

  test("kaplanMeier: curve reaching zero nulls the log from there on") {
    val df = ev(
      (1, ts(1), 1, "signup", 0.0), (2, ts(2), 1, "purchase", 1.0),
      (3, ts(1), 2, "signup", 0.0), (4, ts(2), 2, "purchase", 1.0))
    val rows = EventStream.kaplanMeier(df, "signup", "purchase",
      bucketSec = 86400L).orderBy("t").collect()
    assert(rows.length == 1 && rows(0).getLong(2) == rows(0).getLong(1))
    assert(rows(0).isNullAt(4), "S = 0 has no finite log")
  }

  test("diffInDiff: hand-computed 2x2 interaction") {
    // variant = user_id % 2; pre/post around Jan 15.
    val df = ev(
      (1, ts(10), 0, "view", 1.00), (2, ts(20), 0, "view", 2.00),
      (3, ts(10), 1, "view", 1.00), (4, ts(20), 1, "view", 4.00))
    val r = EventStream.diffInDiff(df, "2024-01-15", col("user_id") % 2)
      .head()
    // cells: u*=1 each; cents 100/200 (v0), 100/400 (v1)
    assert(Seq(0, 2, 4, 6).map(r.getLong) == Seq(1L, 1L, 1L, 1L))
    assert(Seq(1, 3, 5, 7).map(r.getLong) == Seq(100L, 200L, 100L, 400L))
    // did = (400-100) - (200-100) = 200 cents
    assert(r.getDouble(8) == 200.0)
  }

  test("gapFill: holes carry the last observed value, flagged") {
    val df = ev(
      (1, ts(1, 0), 1, "view", 1.50),
      (2, ts(1, 3), 1, "view", 2.25))
    val rows = EventStream.gapFill(df, bucketSec = 3600L)
      .orderBy("t").collect()
    assert(rows.length == 4)
    assert(rows.map(_.getLong(2)).toSeq == Seq(150L, 150L, 150L, 225L))
    assert(rows.map(_.getLong(3)).toSeq == Seq(1L, 0L, 0L, 1L))
  }

  test("snaiveBacktest: perfect weekly pattern scores skill 0") {
    // counts repeat with period 2 → lag-2 forecast is exact, lag-1 isn't.
    val rows = (0 until 12).flatMap { h =>
      val n = if (h % 2 == 0) 3 else 1
      (0 until n).map(i => (h.toLong * 10 + i, ts(1, h), 1L, "view", 0.0))
    }
    val df = rows.toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = EventStream.snaiveBacktest(df, bucketSec = 3600, season = 2)
      .head()
    assert(r.getLong(1) == 10L, "12 buckets, first 2 not evaluable")
    assert(r.getLong(2) == 0L, "seasonal forecast exact")
    assert(r.getLong(4) == 20L, "lag-1 misses by 2 per bucket")
    assert(r.getLong(5) == 0L, "skill ppm = 0")
  }

  test("theilSen: median slope ignores the outlier OLS would chase") {
    // counts per hour: 1,2,3,4,100,6 — a clean +1/hour drift with one
    // spike. Pairwise-slope median stays near 1; OLS would report ~9.
    val counts = Seq(1, 2, 3, 4, 100, 6)
    val rows = counts.zipWithIndex.flatMap { case (n, h) =>
      (0 until n).map(i => (h.toLong * 1000 + i, ts(1, h), 1L, "view", 0.0))
    }
    val df = rows.toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = EventStream.theilSen(df, bucketSec = 3600).head()
    assert(r.getLong(1) == 15L, "C(6,2) pairs")
    val slope = r.getLong(2).toDouble / r.getLong(3).toDouble
    assert(slope >= 0.5 && slope <= 1.5, s"robust slope ~1, got $slope")
  }

  test("theilSen: exact lower median on a tiny even-pair series") {
    // 3 buckets -> 3 pairs with slopes 1, 2, 3 -> median selects 2.
    val counts = Seq(1, 3, 3) // pairs: (0,1)=2, (0,2)=1 (den 2), (1,2)=0
    val rows = counts.zipWithIndex.flatMap { case (n, h) =>
      (0 until n).map(i => (h.toLong * 100 + i, ts(1, h), 1L, "view", 0.0))
    }
    val df = rows.toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = EventStream.theilSen(df, bucketSec = 3600).head()
    // slopes: 2/1, 2/2(=1), 0/1 -> ordered 0, 1, 2 -> median = 1 = 2/2
    assert(r.getLong(1) == 3L)
    assert(r.getLong(2) == 2L && r.getLong(3) == 2L, "median pair 2/2")
  }

  test("mdeReadout: hand-computed pooled MDE on a tiny balanced split") {
    // users 0,2 (variant 0) spend 1.00/3.00; users 1,3 (variant 1)
    // spend 2.00/2.00 -> cents {100,300} vs {200,200}.
    val df = ev(
      (1, ts(1), 0, "purchase", 1.00), (2, ts(2), 2, "purchase", 3.00),
      (3, ts(1), 1, "purchase", 2.00), (4, ts(2), 3, "purchase", 2.00))
    val r = EventStream.mdeReadout(df, col("user_id") % 2).head()
    assert((r.getLong(0), r.getLong(1)) == ((2L, 2L)))
    assert((r.getLong(2), r.getLong(3)) == ((400L, 400L)))
    // variances: v0 = 20000, v1 = 0; pooled = 10000; mde =
    // 2.801585*sqrt(10000*(1/2+1/2)) = 280.1585 -> q2 = 280.16
    assert(r.getDouble(4) == 280.16)
    // control mean 200 cents -> rel = 1.400793 -> q4 1.4008
    assert(r.getDouble(5) == 1.4008)
  }

  test("mdeReadout: a singleton variant yields null (no variance)") {
    val df = ev(
      (1, ts(1), 0, "purchase", 1.00), (2, ts(1), 1, "purchase", 2.00),
      (3, ts(2), 3, "purchase", 2.00))
    val r = EventStream.mdeReadout(df, col("user_id") % 2).head()
    assert(r.isNullAt(4) && r.isNullAt(5))
  }

  test("funnelWindowed: the deadline drops late conversions the plain funnel keeps") {
    // u1: view -> click +30min -> purchase +30min (all within 1h gaps)
    // u2: view -> click +2h (misses the 1h deadline) -> purchase
    val df = ev(
      (1, ts(1, 0), 1, "view", 0.0), (2, Timestamp.valueOf("2024-01-01 00:30:00"), 1, "click", 0.0),
      (3, ts(1, 1), 1, "purchase", 1.0),
      (4, ts(1, 0), 2, "view", 0.0), (5, ts(1, 2), 2, "click", 0.0),
      (6, ts(1, 3), 2, "purchase", 1.0))
    val windowed = EventStream.funnelWindowed(df,
      Seq("view", "click", "purchase"), maxGapSec = 3600L)
      .orderBy("step").collect().map(_.getLong(2)).toSeq
    assert(windowed == Seq(2L, 1L, 1L), "u2's 2h click misses the deadline")
    val plain = EventStream.funnel(df, Seq("view", "click", "purchase"))
      .orderBy("step").collect().map(_.getLong(2)).toSeq
    assert(plain == Seq(2L, 2L, 2L), "the unlimited funnel keeps both")
  }

  test("seasonalAnomaly: a spike against its own hour-of-week cell flags") {
    // series with hourly counts: 1 everywhere for two weeks, except one
    // cell gets 50 in week two -> that bucket's cell stats flag it.
    val rows = (0 until 336).flatMap { h =>
      val n = if (h == 200) 50 else 1
      (0 until n).map(i =>
        (h.toLong * 100 + i, Timestamp.valueOf("2024-01-01 00:00:00"), 1L,
          "view", 0.0))
    }.zipWithIndex.map { case ((id, _, u, t, v), _) => (id, u, t, v) }
    val df = rows.zipWithIndex.map { case ((id, u, t, v), _) =>
      val h = id / 100
      (id, new Timestamp(Timestamp.valueOf("2024-01-01 00:00:00").getTime
        + h * 3600L * 1000L), u, t, v)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = EventStream.seasonalAnomaly(df, zMin = 0.5).collect()
    assert(got.length == 2, "the spike and its week-one twin cell flag")
    // the hour-200 bucket is the positive outlier
    val spike = got.filter(_.getLong(2) == 50L)
    assert(spike.length == 1 && spike(0).getDouble(4) > 0.0)
  }

  test("sessionFunnel: cross-session ladders do not count; two visits count twice") {
    // u1 visit 1: view+click; (gap > 30min) visit 2: view+click+purchase.
    // A purchase in visit 2 must not complete visit 1's ladder.
    val df = ev(
      (1, Timestamp.valueOf("2024-01-01 00:00:00"), 1, "view", 0.0),
      (2, Timestamp.valueOf("2024-01-01 00:05:00"), 1, "click", 0.0),
      (3, Timestamp.valueOf("2024-01-01 02:00:00"), 1, "view", 0.0),
      (4, Timestamp.valueOf("2024-01-01 02:01:00"), 1, "click", 0.0),
      (5, Timestamp.valueOf("2024-01-01 02:02:00"), 1, "purchase", 1.0))
    val got = EventStream.sessionFunnel(df, Seq("view", "click", "purchase"),
      gapMinutes = 30).orderBy("step").collect().map(_.getLong(2)).toSeq
    assert(got == Seq(2L, 2L, 1L), "two sessions reach click, one converts")
  }

  test("markovPredictability: majority next-event and exact accuracy") {
    // user 1 path: a b a b a  -> transitions a->b x2, b->a x2
    // user 2 path: a c        -> a->c x1
    val rows = Seq(
      (1L, 1, "a"), (2L, 2, "b"), (3L, 3, "a"), (4L, 4, "b"), (5L, 5, "a"),
      (6L, 1, "a"), (7L, 2, "c")
    ).zipWithIndex.map { case ((id, h, t), i) =>
      (id, ts(1, h), if (id <= 5) 1L else 2L, t, 0.0)
    }
    val df = rows.toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = EventStream.markovPredictability(df).orderBy("prev_type")
      .collect()
    val a = got(0)
    assert(a.getString(0) == "a" && a.getString(1) == "b")
    assert(a.getLong(2) == 3L && a.getLong(3) == 2L && a.getLong(4) == 6666L)
    val b = got(1)
    assert(b.getString(0) == "b" && b.getString(1) == "a"
      && b.getLong(4) == 10000L)
  }

  test("cohortLtv: cumulative cents per cohort user, hand-built triangle") {
    // daily cohorts/ages (bucketSec=86400). u1 joins day 1, spends 1.00
    // then 2.00 on day 2; u2 joins day 1, spends 4.00, never returns;
    // u3 joins day 2, spends 8.00.
    val df = ev(
      (1, ts(1), 1, "view", 1.00), (2, ts(2), 1, "view", 2.00),
      (3, ts(1), 2, "view", 4.00), (4, ts(2), 3, "view", 8.00))
    val rows = EventStream.cohortLtv(df, bucketSec = 86400L)
      .orderBy("cohort", "age").collect()
    assert(rows.length == 3)
    val d1 = rows(0) // cohort day1, age 0: u1+u2 spend 500
    assert((d1.getLong(2), d1.getLong(3), d1.getLong(4), d1.getLong(5))
      == ((2L, 500L, 500L, 2L)))
    assert(d1.getDouble(6) == 250.0)
    val d2 = rows(1) // cohort day1, age 1: u1 spends 200 -> cum 700
    assert((d2.getLong(2), d2.getLong(3), d2.getLong(4)) == ((1L, 200L, 700L)))
    assert(d2.getDouble(6) == 350.0)
    val c2 = rows(2) // cohort day2, age 0: u3
    assert((c2.getLong(2), c2.getLong(4), c2.getLong(5)) == ((1L, 800L, 1L)))
  }
}
