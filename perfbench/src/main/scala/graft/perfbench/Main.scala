package graft.perfbench

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.core.{GraftJobCountListener, GraftJobCounts, GraftStatsListener, QueryStats}

/** graft benchmark driver: one process, one closed-loop client (this
  * thread), `local[nproc]` with `spark.sql.shuffle.partitions = nproc`.
  *
  * {{{
  * Main --workload ivf_gmm|dedup_docs --seed N --seconds S --trace 0|1
  *      --work DIR [--scale F] [--corrupt]
  * }}}
  *
  * Prints one JSON object as the last line of stdout: the end-to-end
  * metrics with `--trace 0`, the per-layer metrics with `--trace 1`.
  * `--scale` shrinks every corpus (the self-test runs at toy size);
  * `--corrupt` damages one answer before the output check, which must
  * then report the op as failed. */
object Main {
  /** Set-ups per run; `setup_s` reports their median. */
  val SetupReps = 3
  /** Seconds of untimed ops after the first op of each kind, so that
    * the timed phase does not start on the JIT's warm-up curve: with a
    * rule that stopped once three ops ran no faster than the three
    * before, ops still got 10-30% faster through the timed phase, and by
    * how much varied from run to run. Not part of `setup_s`. */
  val WarmUpS = 10.0

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: java.io.File, scale: Double, corrupt: Boolean)

  def parse(argv: Array[String]): Args = {
    val flags = Set("--corrupt")
    def go(rest: List[String], acc: Map[String, String]): Map[String, String] = rest match {
      case f :: tail if flags(f) => go(tail, acc + (f -> "1"))
      case k :: v :: tail if k.startsWith("--") => go(tail, acc + (k -> v))
      case Nil => acc
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }
    val m = go(argv.toList, Map.empty)
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    val trace = need("--trace")
    require(trace == "0" || trace == "1", s"--trace must be 0 or 1, got $trace")
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toDouble, trace == "1",
      new java.io.File(need("--work")), m.getOrElse("--scale", "1").toDouble, m.contains("--corrupt"))
  }

  final case class Done(op: Int, kind: String, traced: Boolean, ms: Double, cpuMs: Double,
      outcome: Option[Outcome], stats: Option[QueryStats], jobs: Option[GraftJobCounts])

  /** The timed phase: its ops, and process samples at its two ends. */
  final case class Phase(done: Seq[Done], a: ProcSample, b: ProcSample, heapLiveMb: Double) {
    def wallS: Double = (b.wallNs - a.wallNs) / 1e9
    def cpuMs: Double = (b.cpuNs - a.cpuNs) / 1e6
    def ms(kind: String): Seq[Double] = done.filter(_.kind == kind).map(_.ms)
    def cpuMsOf(kind: String): Seq[Double] = done.filter(_.kind == kind).map(_.cpuMs)
    /** Only the traced, or only the untraced, ops of the phase. */
    def only(traced: Boolean): Phase = copy(done = done.filter(_.traced == traced))
  }

  def session(work: java.io.File): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new java.io.File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new java.io.File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Run ops until `seconds` have passed and every kind of the pattern
    * has run at least once. With `listeners`, every odd pass of the
    * pattern is traced: its ops' spans are recorded and the listeners are
    * attached for each of them alone. The even passes run as in an
    * untraced run, so traced and untraced ops of every kind see the same
    * store and the same JVM, and their difference is the cost of tracing;
    * this needs two passes of the pattern. */
  def loop(w: Workload, seconds: Double,
      listeners: Option[(GraftStatsListener, GraftJobCountListener)]): Phase = {
    val spark = w.c.spark
    val minOps = w.pattern.length * (if (listeners.isDefined) 2 else 1)
    val done = ArrayBuffer[Done]()
    val a = Proc.sample()
    val end = a.wallNs + (seconds * 1e9).toLong
    var i = 0
    while (System.nanoTime() < end || i < minOps) {
      val op = w.op(i)
      val traced = listeners.filter(_ => i / w.pattern.length % 2 == 1)
      traced.foreach { case (s, j) =>
        s.reset(); j.reset()
        spark.listenerManager.register(s)
        spark.sparkContext.addSparkListener(j)
      }
      w.c.tracer.on = traced.isDefined
      w.c.tracer.setOp(i)
      val cpu0 = Proc.cpuNs()
      val t0 = System.nanoTime()
      val out =
        try Some(w.c.span("op." + op.kind)(op.run()))
        catch { case e: Exception => System.err.println(s"op $i (${op.kind}) threw: $e"); None }
      val ms = (System.nanoTime() - t0) / 1e6
      val cpuMs = (Proc.cpuNs() - cpu0) / 1e6
      w.c.tracer.on = false
      val (stats, jobs) = traced match {
        case Some((s, j)) =>
          var waited = 0
          while (s.lastQueryStats.isEmpty && waited < 2000) { Thread.sleep(5); waited += 5 }
          val got = (s.lastQueryStats, Some(j.snapshot()))
          spark.listenerManager.unregister(s)
          spark.sparkContext.removeSparkListener(j)
          got
        case None => (None, None)
      }
      done += Done(i, op.kind, traced.isDefined, ms, cpuMs, out, stats, jobs)
      i += 1
    }
    val b = Proc.sample()
    Phase(done.toSeq, a, b, Proc.heapLiveMb())
  }

  /** The end-to-end figures of one timed phase. Per-op figures weight
    * each kind's trimmed mean by its share of the pattern, so a partial
    * last cycle does not tilt them. */
  def endToEnd(w: Workload, p: Phase, failed: Int, recall: Double, setupS: Double): ListMap[String, (Double, String)] = {
    val weights = w.pattern.groupBy(identity).view.mapValues(_.size.toDouble).toMap
    def perOp(f: String => Seq[Double]) =
      weights.map { case (k, wt) => wt * Stat.trimmedMean(f(k)) }.sum / weights.values.sum
    val q = p.ms(w.queryKind)
    val n = p.done.length
    ListMap(
      "setup_s" -> (setupS, "s"),
      "query_p50_ms" -> (Stat.median(q), "ms"),
      "mix_ms_per_op" -> (perOp(p.ms), "ms"),
      "recall" -> (recall, "fraction"),
      "store_bytes_per_user_byte" -> (w.storeRatio, "ratio"),
      "cpu_ms_per_op" -> (perOp(p.cpuMsOf), "ms"),
      "ok_frac" -> (1.0 - failed.toDouble / n, "fraction"))
  }

  /** memcpy of `bytes` bytes and a scalar float·double dot loop over the
    * same bytes, single-threaded: the bounds the decode and score layers
    * are stated against. Best of five. */
  @volatile private var blackhole = 0.0

  def bounds(bytes: Long, dim: Int): (Double, Double) = {
    val n = math.max(dim, (bytes / 4 / dim * dim).toInt)
    val src = new Array[Float](n)
    val r = new Rng(1L)
    var i = 0
    while (i < n) { src(i) = r.nextSymFloat(); i += 1 }
    val dst = new Array[Float](n)
    val q = Array.fill(dim)(r.nextSymFloat().toDouble)
    def best(f: => Unit): Double = (1 to 5).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }.min
    val memcpyS = best(System.arraycopy(src, 0, dst, 0, n))
    val dotS = best {
      var row = 0
      while (row < n) {
        var acc = 0.0
        var j = 0
        while (j < dim) { acc += src(row + j).toDouble * q(j); j += 1 }
        blackhole += acc
        row += dim
      }
    }
    (n * 4.0 / memcpyS / 1e9, 2.0 * n / dotS / 1e9)
  }

  /** Output checks of every op, in parallel across ops. */
  def check(done: Seq[Done], corrupt: Boolean): Array[(Seq[String], Option[Double])] = {
    val outcomes = done.map(_.outcome).toArray
    if (corrupt) {
      val i = outcomes.indexWhere(_.isDefined)
      if (i >= 0) outcomes(i) = outcomes(i).map(_.corrupted)
    }
    val checked = new Array[(Seq[String], Option[Double])](outcomes.length)
    java.util.stream.IntStream.range(0, outcomes.length).parallel().forEach { i =>
      checked(i) = outcomes(i).map(_.check()).getOrElse((Seq("threw"), None))
    }
    checked
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    args.work.mkdirs()
    val spark = session(args.work)
    try run(spark, args)
    finally { spark.stop(); log("session stopped") }
  }

  private val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** Progress line on stderr, stamped with seconds since the JVM started. */
  def log(msg: String): Unit =
    System.err.println(f"[${(System.currentTimeMillis() - jvmStart) / 1e3}%7.2f s] $msg")

  def run(spark: SparkSession, args: Args): Unit = {
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val ctx = new Ctx(spark, args.seed, args.scale, new java.io.File(args.work, args.workload))
    val w = Workload(args.workload, ctx)
    val setups = (1 to SetupReps).map { _ =>
      val t0 = System.nanoTime(); w.setup(); (System.nanoTime() - t0) / 1e9
    }
    val t0 = System.nanoTime()
    w.warmUpKinds()
    val warmS = (System.nanoTime() - t0) / 1e9
    val setupS = sessionS + Stat.median(setups) + warmS
    val t1 = System.nanoTime()
    val warmOps = w.warmUp(WarmUpS)
    log(f"host cpus ${Proc.hostCpus}, session $sessionS%.2f s, corpus+index ${setups.map(s => f"$s%.2f").mkString(" ")} s, " +
      f"first op of each kind $warmS%.2f s, then $warmOps warm-up ops in ${(System.nanoTime() - t1) / 1e9}%.2f s")

    val listeners = if (!args.trace) None else {
      val s = GraftStatsListener.attach(spark, trackRowGroups = true, preserveObserved = false)
      val j = GraftJobCountListener.attach(spark)
      spark.listenerManager.unregister(s)
      spark.sparkContext.removeSparkListener(j)
      Some((s, j))
    }
    val phase = loop(w, args.seconds, listeners)
    ctx.tracer.setOp(-1)
    ctx.tracer.on = args.trace
    val probes = if (args.trace) w.probes() else Map.empty[String, Double]
    ctx.tracer.on = false

    val all = phase.done
    val checked = check(all, args.corrupt)
    checked.zipWithIndex.filter(_._1._1.nonEmpty).take(5).foreach { case ((errs, _), i) =>
      System.err.println(s"op $i (${all(i).kind}) wrong: ${errs.take(3).mkString("; ")}")
    }
    log(s"${checked.length} outcomes checked")
    all.groupBy(_.kind).foreach { case (k, ds) => log(s"$k ms (* traced): ${ds.map(d => f"${d.ms}%.0f" + (if (d.traced) "*" else "")).mkString(" ")}") }
    val failed = checked.count(_._1.nonEmpty)
    def summary(traced: Boolean) = {
      val idx = all.indices.filter(i => all(i).traced == traced)
      val rs = idx.filter(i => all(i).kind == w.recallKind).flatMap(i => checked(i)._2)
      endToEnd(w, phase.only(traced), idx.count(i => checked(i)._1.nonEmpty),
        if (rs.isEmpty) 1.0 else rs.sum / rs.length, setupS)
    }
    val plain = phase.only(traced = false)
    val e2e = summary(traced = false)
    val metrics: ListMap[String, (Double, String)] =
      if (!args.trace) e2e
      else Layers.metrics(w, phase.only(traced = true), ctx.tracer, probes, e2e, summary(traced = true),
        bounds(w.userBytes, dimOf(w)), failed.toDouble / all.length)

    if (args.trace) {
      val f = new java.io.File(args.work, s"trace-${args.workload}-${args.seed}.jsonl")
      val out = new java.io.PrintWriter(f, "UTF-8")
      try ctx.tracer.jsonLines.foreach(out.println) finally out.close()
      log(s"${ctx.tracer.spans.length} spans written to $f")
    }
    val (tailV, tailPct, tailN) = Stat.tail(plain.ms(w.queryKind))
    println(s"# ${args.workload} seed=${args.seed}: ${all.length} ops (${plain.done.length} untraced), " +
      f"${w.queryKind} tail = p$tailPct%.1f of $tailN samples ($tailV%.1f ms), " +
      f"peak RSS ${Proc.peakRssMb()}%.0f MB, host other-CPU share ${Proc.otherCpuFrac(plain.a, plain.b)}%.3f")
    println(Json.obj(
      "correct" -> (failed == 0),
      "attempted" -> all.length,
      "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) }))
  }

  /** Row width of the dot-loop bound: the vector dimension, or 64 floats
    * over a text corpus's bytes. */
  private def dimOf(w: Workload): Int = w match {
    case v: IvfGmm => v.dim
    case _ => 64
  }
}
