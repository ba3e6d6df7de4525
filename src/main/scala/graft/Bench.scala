package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** The EXACT 40 queries of the round-1 baseline recording
    * (BENCH_r01.json, 51.99 s at sf0.1) — the like-for-like comparable
    * as coverage grows. The suite TOTAL is count-dependent (each query
    * carries ~0.2-0.3 s of fixed session/plan/sink overhead, so 191
    * queries breach a 40-query absolute bar mechanically); this subset's
    * subtotal (`core_total` in the output) is the apples-to-apples
    * number against the 51.99 s baseline. Method recorded in
    * BASELINE.md. */
  val CoreBaselineQueries: Set[String] = Set(
    "events_dedup_keepfirst", "events_sessionize", "vec_full_pipeline",
    "rel_groupby_agg", "vec_l1_topk", "datetime_parse", "text_fingerprint",
    "events_window_agg", "ann_lsh_part_topk", "index_zorder_value",
    "vec_dot_topk", "rel_join_topn", "vec_l2_topk", "mm_features",
    "index_cosine_topk", "dedup_simhash", "dedup_minhash_sig", "dedup_exact",
    "vec_takemax_l2", "sample_split", "dedup_simhash_pairs", "text_clean",
    "meta_string_filter", "vec_quant_dot_topk", "sample_pack", "mm_frames",
    "ann_lsh_topk", "hybrid_rrf_topk", "meta_filter_pred", "ann_ivf_topk",
    "vec_cosine_topk", "text_stats", "vec_batch_perquery", "vec_score_filter",
    "dedup_minhash_pairs", "dedup_emb_neardup", "events_json_extract",
    "text_bm25_topk", "text_quality_langid", "vec_batch_merge")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.LocalSession("WARN")
    // Host-load stamps make a contended artifact SELF-IDENTIFYING: the
    // round-7 driver bench recorded scan-shaped queries 5-25x their quiet
    // numbers and nothing in the JSON proved the host was loaded — the
    // adjudication needed a full judge re-run (BASELINE.md's warning,
    // machine-readable). 1/5/15-min averages at start AND end bracket the
    // run.
    def loadavg(): String =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
        .split("\\s+").take(3).mkString(" ")
      catch { case _: Throwable => "unavailable" }
    val loadStart = loadavg()
    // Per-query phase split (prune/scan/score/merge from the executed
    // plan's own SQL metrics) in bench_full.json, plus the top-3 stamped
    // into the compact driver line — answers "why did X get slow" from
    // artifacts alone (the round-8 dedup_cluster_weights 7.4 s transient
    // needed a manual re-run precisely because the driver artifact had
    // no phases). ON by default; SPARK_GRAFT_PHASES=0 disables.
    val phasesOn = !sys.env.get("SPARK_GRAFT_PHASES").contains("0")
    val listener =
      if (phasesOn) Some(graft.core.GraftStatsListener.attach(spark)) else None
    val phaseJson = scala.collection.mutable.LinkedHashMap[String, String]()
    // Per-query JOB/STAGE/TASK/SPILL counts (r15 verdict item 3): a
    // SparkListener on the scheduler bus makes barrier-reduction
    // optimizations (checkpoint schedules, lazy trainer cuts) and spill
    // pathologies artifact-verifiable — `.explain` cannot show blocking
    // job counts, and the r15 dedup_spans_removed 16 s outlier had no
    // spill evidence in any artifact. Counts are reset per timed run and
    // the LAST successful run's snapshot is kept (plans are
    // deterministic, so every run has the same job count; the last run
    // is also the one min-of-N timing usually comes from, being warm).
    // ON by default; SPARK_GRAFT_JOBCOUNTS=0 disables.
    val jobCountsOn = !sys.env.get("SPARK_GRAFT_JOBCOUNTS").contains("0")
    val jcListener =
      if (jobCountsOn) Some(graft.core.GraftJobCountListener.attach(spark))
      else None
    val jobJson = scala.collection.mutable.LinkedHashMap[String, String]()
    // Untimed warmup: initialize codegen, shuffle machinery, and the
    // vectorized parquet reader once, so the first timed query measures
    // steady-state execution rather than one-time JVM/session setup
    // (~4 s otherwise attributed to whichever query happens to run first).
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/embeddings.parquet")
      .limit(1).collect()
    // One-time index builds happen here, NOT inside whichever indexed
    // query runs first — per-query numbers are steady-state, as a real
    // deployment amortizes builds across every query.
    SparkEntry.prebuildIndexes(spark, sfDir)
    // Optional focus list for perf iteration: SPARK_GRAFT_ONLY=q1,q2
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // Family sharding (suite-growth governance): SPARK_GRAFT_FAMILIES=
    // dedup,text runs only those name-prefix families, so the driver
    // can split a growing suite across invocations; the clean-core
    // pass still runs in every shard (16 s, and it is the cross-round
    // comparable), so sharded `value` totals sum to a full run's total
    // while each shard remains individually load-rule-checkable.
    val families = sys.env.get("SPARK_GRAFT_FAMILIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = {
      val base = only match {
        case Some(names) => SparkEntry.queries.filter { case (n, _) => names(n) }
        case None        => SparkEntry.queries
      }
      families match {
        case Some(fs) => base.filter { case (n, _) => fs(n.takeWhile(_ != '_')) }
        case None     => base
      }
    }
    // Two timed executions per query, keep the MIN: a single-shot number
    // in a shared JVM carries GC/JIT scheduling noise (observed 4x
    // outliers on per-row kernel queries); the min of two is the
    // steady-state cost a deployment actually pays.
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "2").toInt
    // PINNED clean-core measurement (BASELINE.md "Core-bench method"):
    // core_total drifted 14.8 -> 18.2 s across rounds 9-10 with every
    // plan pinned unchanged — the suspect is the other ~240 queries
    // polluting the JIT code cache and GC inside the shared JVM, plus
    // ambient load. So the 40-query core set is ALSO timed once FIRST,
    // immediately after warmup (the freshest this JVM gets), and
    // stamped as core_total_clean next to the in-suite core_total.
    // NOTE (BASELINE.md r11 discontinuity): running this pass first
    // pre-warms the 40 core plans, so the in-suite core_total measured
    // later is warmer than rounds 1-10 and is NOT cross-round
    // comparable — core_total_clean is the pinned comparable; in-suite
    // core_total remains only as a same-round consistency check.
    // Skipped under SPARK_GRAFT_ONLY (iteration runs, not comparables).
    // Each clean-pass query carries its own 1-min load stamp (taken right
    // after its timed runs): cross-round core_total_clean claims are only
    // comparable under a stated load ceiling (BASELINE.md "Core-bench
    // load rule") and the max stamp is the mechanical check — the r12
    // 15.6-18.8 s spread on identical plans was pure ambient load.
    // The clean pass RETRIES while the host is contended: two rounds
    // running, the driver artifact's own core_clean_load1_max stamp was
    // over the <2.0 ceiling (BASELINE.md "Core-bench load rule") and
    // the valid comparable had to come from a side run. Up to 3
    // attempts with a brief backoff; the attempt with the LOWEST max
    // load stamp is the one reported (it is the most valid
    // measurement), and the attempt count + each attempt's max load are
    // stamped so a still-contended artifact self-identifies.
    var coreCleanLoad = scala.collection.mutable.LinkedHashMap[String, String]()
    var coreClean: Map[String, Double] = Map.empty
    var coreCleanLoadMax: Double = 0.0
    val cleanAttemptLoads = scala.collection.mutable.ArrayBuffer.empty[Double]
    if (only.isEmpty) {
      val maxAttempts = sys.env.getOrElse("SPARK_GRAFT_CLEAN_ATTEMPTS", "3").toInt
      val backoffMs = sys.env.getOrElse("SPARK_GRAFT_CLEAN_BACKOFF_MS", "45000").toLong
      var attempt = 0
      var done = false
      while (!done) {
        val loadHere = scala.collection.mutable.LinkedHashMap[String, String]()
        val timesHere = CoreBaselineQueries.toSeq.sorted.flatMap { n =>
          SparkEntry.queries.get(n).flatMap { fn =>
            val ts = (0 until math.max(1, runs)).flatMap { _ =>
              val t0 = System.nanoTime()
              try {
                fn(spark, sfDir).write.format("noop").mode("overwrite").save()
                Some((System.nanoTime() - t0) / 1e9)
              } catch { case _: Throwable => None }
            }
            loadHere(n) = loadavg().split(" ").head
            if (ts.nonEmpty) Some(n -> ts.min) else None
          }
        }.toMap
        val maxHere = {
          val vs = loadHere.values.flatMap(v => scala.util.Try(v.toDouble).toOption)
          if (vs.isEmpty) 0.0 else vs.max
        }
        cleanAttemptLoads += maxHere
        if (attempt == 0 || maxHere < coreCleanLoadMax) {
          coreClean = timesHere; coreCleanLoad = loadHere
          coreCleanLoadMax = maxHere
        }
        attempt += 1
        done = coreCleanLoadMax < 2.0 || attempt >= maxAttempts
        if (!done) Thread.sleep(backoffMs)
      }
    }
    val coreCleanTotal = coreClean.values.sum
    val load1AfterClean = loadavg().split(" ").head
    // The timed action is a noop-sink WRITE, not count(): count() lets
    // the optimizer prune every computed column (and eliminate
    // unique-key outer joins), so projection-shaped queries would be
    // timed as bare parquet row counts. The noop sink materializes every
    // output row and column — the cost a consumer actually pays —
    // without paying disk.
    // A query whose runs ALL throw must not masquerade as a (very fast)
    // timing — min-of-N would otherwise record the failure latency as a
    // speedup. Failed queries report -1 and are named in an "errors" map
    // with the exception class+message of the last attempt.
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // Per-query 1-min load stamp for the FULL suite (taken right after
    // each query's timed runs): a named-row spike in the driver
    // artifact self-identifies as ambient load from the artifact alone
    // — the round-13 dedup_lines 4.3 s needed a manual re-run precisely
    // because only the clean-40 carried stamps.
    val qLoads = scala.collection.mutable.LinkedHashMap[String, String]()
    def timeQuery(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      // reset BEFORE the timed runs: the shared listener retains the
      // previous query's stats, and async delivery means "non-empty"
      // alone would attribute THOSE to this query (a query whose runs
      // all fail must record no phases at all, not stale ones)
      listener.foreach(_.reset())
      val times = (0 until math.max(1, runs)).flatMap { _ =>
        jcListener.foreach(_.reset())
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          val dt = (System.nanoTime() - t0) / 1e9
          jcListener.foreach(l => jobJson(name) = l.snapshot().json)
          Some(dt)
        } catch {
          case t: Throwable =>
            errors(name) = s"${t.getClass.getSimpleName}: " +
              Option(t.getMessage).getOrElse("").replaceAll("[\"\\\\\n\r\t]", " ").take(200)
            None
        }
      }
      listener.foreach { l =>
        // listener delivery is async; bounded wait like ScaleRehearsal
        var waited = 0
        while (l.lastQueryStats.isEmpty && waited < 2000) {
          Thread.sleep(20); waited += 20
        }
        l.lastQueryStats.foreach { st =>
          val p = st.phases
          phaseJson(name) = s"""{"prune_ms":${p.pruneMs},"scan_ms":${p.scanMs},""" +
            s""""score_ms":${p.scoreMs},"merge_ms":${p.mergeMs}}"""
        }
      }
      qLoads(name) = loadavg().split(" ").head
      if (times.nonEmpty) errors.remove(name) // transient failure, run succeeded
      if (times.nonEmpty) times.min else -1.0
    }
    val results = scala.collection.mutable.LinkedHashMap(
      selected.toSeq.map { case (name, fn) => name -> timeQuery(name, fn) }: _*)
    // FULL-SUITE load-rule retry (BASELINE.md "Core-bench load rule",
    // extended): the clean-core pass has always retried under ambient
    // load, but the suite section still published per-query numbers
    // inflated 2-8x by host contention, discountable only via their
    // stamps (six such rows in BENCH_r14). Any query whose post-run
    // 1-min load stamp breached the <2.0 ceiling is re-run ONCE at the
    // end of the suite (the host has usually calmed by then) and the
    // MIN is kept; the retried set + each retry's own load stamp are
    // published so a number that is STILL contended self-identifies.
    val retriedLoads = scala.collection.mutable.LinkedHashMap[String, String]()
    if (only.isEmpty) {
      val suspects = results.toSeq.collect { case (n, t)
        if t >= 0 && qLoads.get(n)
          .flatMap(v => scala.util.Try(v.toDouble).toOption)
          .exists(_ >= 2.0) => n }
      suspects.foreach { n =>
        selected.get(n).foreach { fn =>
          val prevLoad = qLoads(n)
          val t = timeQuery(n, fn)
          retriedLoads(n) = qLoads(n)
          if (!(t >= 0 && t < results(n))) qLoads(n) = prevLoad
          if (t >= 0 && t < results(n)) results(n) = t
        }
      }
    }
    // Queries whose KEPT measurement still carries a load stamp >= 2.0
    // after the retry pass: their numbers are stamped invalid-for-
    // comparison (r15 verdict item 1 — six "regressed" rows and a 16 s
    // outlier in BENCH_r15 were exactly such contended measurements).
    val contended: Seq[String] = results.keys.toSeq.filter { n =>
      qLoads.get(n).flatMap(v => scala.util.Try(v.toDouble).toOption)
        .exists(_ >= 2.0)
    }
    val ok = results.filter(_._2 >= 0)
    val total = if (ok.nonEmpty) ok.values.sum else 0.0
    // Like-for-like comparable vs the 51.99 s round-1 recording: the
    // subtotal of exactly the 40 round-1 queries (only meaningful on a
    // full-suite run; a SPARK_GRAFT_ONLY subset reports what it covers).
    val core = ok.filter { case (n, _) => CoreBaselineQueries(n) }
    val coreTotal = core.values.sum
    // Per-family subtotals (prefix before the first '_'): the compact
    // driver artifact buckets most queries into "_other_N", so a family
    // regression needs these to attribute itself from artifacts alone.
    val familyTotals: Seq[(String, Double)] = ok.toSeq
      .groupBy { case (n, _) =>
        val f = n.takeWhile(_ != '_'); if (f.isEmpty) "other" else f }
      .map { case (f, qs) => f -> qs.map(_._2).sum }
      .toSeq.sortBy(-_._2)
    def fmt(v: Double, dp: Int): String = {
      val s = BigDecimal(v).setScale(dp, BigDecimal.RoundingMode.HALF_UP)
      s.bigDecimal.toPlainString
    }
    // Full-precision per-query numbers go to a FILE for humans/diffing;
    // stdout gets ONE compact JSON line for the driver.
    val loadEnd = loadavg()
    val fullJson = {
      val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
        .mkString("{", ",", "}")
      val errs = errors.map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
        .mkString("{", ",", "}")
      val phases =
        if (phaseJson.isEmpty) ""
        else phaseJson.map { case (k, v) => "\"" + k + "\":" + v }
          .mkString(""","phases":{""", ",", "}")
      val perQuery = if (ok.nonEmpty) total / ok.size else 0.0
      val cleanLoads = coreCleanLoad
        .map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
        .mkString("{", ",", "}")
      val allLoads = qLoads
        .map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
        .mkString("{", ",", "}")
      val attempts = cleanAttemptLoads.mkString("[", ",", "]")
      val retries = retriedLoads
        .map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
        .mkString("{", ",", "}")
      val fams = familyTotals.map { case (f, v) => "\"" + f + "\":" + v }
        .mkString("{", ",", "}")
      val jobs =
        if (jobJson.isEmpty) ""
        else jobJson.map { case (k, v) => "\"" + k + "\":" + v }
          .mkString(""","jobcounts":{""", ",", "}")
      // Per-query VALIDITY stamp (r15 verdict item 1): a query whose
      // KEPT number was still measured under ambient load >= 2.0 even
      // after the end-of-suite retry is named here — its row in
      // "queries" is a contended measurement, not a plan fact.
      val contendedList = contended
        .map(n => "\"" + n + "\"").mkString("[", ",", "]")
      s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${ok.size},""" +
        s""""sec_per_query":$perQuery,"core_total":$coreTotal,"core_n":${core.size},""" +
        s""""core_total_clean":$coreCleanTotal,"core_clean_n":${coreClean.size},""" +
        s""""core_clean_load1_max":$coreCleanLoadMax,""" +
        s""""core_clean_attempt_loads":$attempts,""" +
        s""""core_clean_load1":$cleanLoads,""" +
        s""""load1_after_clean":"$load1AfterClean",""" +
        s""""runs":$runs,""" +
        s""""retried":$retries,""" +
        s""""contended":$contendedList,""" +
        s""""families":$fams,""" +
        s""""loadavg_start":"$loadStart","loadavg_end":"$loadEnd",""" +
        s""""queries":$qs,"loads":$allLoads,"errors":$errs$phases$jobs,"sf":"$sfDir"}"""
    }
    // Partial runs (SPARK_GRAFT_ONLY / SPARK_GRAFT_FAMILIES) must not
    // clobber the committed full-suite artifact: a round-13 isolated
    // run overwrote bench_full.json while the docs still described the
    // full-suite numbers (the advice finding). Full runs own
    // bench_full.json; everything else lands in bench_partial.json.
    val dumpPath =
      if (only.isEmpty && families.isEmpty) "bench_full.json"
      else "bench_partial.json"
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(dumpPath),
        (fullJson + "\n").getBytes("UTF-8"))
    } catch { case _: Throwable => () } // file dump is best-effort
    // The driver stores only the LAST 2000 chars of output and parses the
    // metric line out of that window, so the stdout line must fit there
    // alongside sbt's trailing "[success] ..." line. 3-decimal timings
    // (ms resolution — noise floor is ~10ms anyway) keep ~70 queries
    // under budget; if the map still overflows, the CHEAPEST queries are
    // summed into "_other" (the expensive ones are the ones worth
    // reading, and "value" stays the all-query total either way).
    // Failure visibility under truncation: -1 sentinel entries are PINNED
    // in the shown map (never folded into _other, whose count and sum
    // describe only dropped successes), and the errors map participates in
    // the budget — messages are clipped to 80 chars on the compact line
    // (bench_full.json keeps the 200-char form) and, only after the
    // queries map is already minimal, error entries shrink to the first K
    // plus an "_more_errors":N marker. Worst case (every query failing) is
    // ~1 query + a handful of named errors — still a parseable line.
    val budget = 1800
    val sfName = new java.io.File(sfDir).getName
    val failed = results.toSeq.filter(_._2 < 0).sortBy(_._1)
    val byCost = results.toSeq.filter(_._2 >= 0).sortBy(-_._2)
    val errSeq = errors.toSeq.map { case (k, v) => (k, v.take(80)) }
    def line(keepQ: Int, keepE: Int) = {
      val dropped = byCost.drop(keepQ)
      val shown = (failed ++ byCost.take(keepQ)).map { case (k, v) =>
        "\"" + k + "\":" + fmt(v, 3)
      } ++ (if (dropped.nonEmpty)
              Seq("\"_other_" + dropped.size + "\":" + fmt(dropped.map(_._2).sum, 3))
            else Nil)
      val errs =
        if (errSeq.isEmpty) ""
        else {
          val es = errSeq.take(keepE).map { case (k, v) => "\"" + k + "\":\"" + v + "\"" } ++
            (if (errSeq.size > keepE) Seq("\"_more_errors\":" + (errSeq.size - keepE)) else Nil)
          es.mkString(""","errors":{""", ",", "}")
        }
      // 1-min load at start/end + per-query mean + the 40-query core
      // subtotal ride the compact line too: the driver artifact alone
      // should reveal a contended run, normalize the total as coverage
      // grows (suite total is count-dependent), and carry the
      // like-for-like number against the round-1 40-query baseline
      // (core_total vs 51.99 s).
      val phasesTop =
        if (phaseJson.isEmpty) ""
        else {
          val top = byCost.take(3).flatMap { case (k, _) =>
            phaseJson.get(k).map(v => "\"" + k + "\":" + v) }
          if (top.isEmpty) ""
          else top.mkString(""","phases_top":{""", ",", "}")
        }
      // load stamps for the SHOWN expensive rows: a spike in the
      // compact artifact carries its own ambient-load evidence
      val loadsTop = {
        val top = byCost.take(5).flatMap { case (k, _) =>
          qLoads.get(k).map(v => "\"" + k + "\":\"" + v + "\"") }
        if (top.isEmpty) ""
        else top.mkString(""","loads_top":{""", ",", "}")
      }
      val fams = familyTotals.map { case (f, v) => "\"" + f + "\":" + fmt(v, 3) }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":${fmt(total, 3)},"unit":"sec",""" +
        s""""n_queries":${ok.size},"sec_per_query":${fmt(if (ok.nonEmpty) total / ok.size else 0.0, 3)},""" +
        s""""core_total":${fmt(coreTotal, 3)},"core_n":${core.size},""" +
        s""""core_total_clean":${fmt(coreCleanTotal, 3)},"core_clean_n":${coreClean.size},""" +
        s""""core_clean_load1_max":${fmt(coreCleanLoadMax, 2)},""" +
        s""""core_clean_attempts":${cleanAttemptLoads.size},""" +
        s""""retried_n":${retriedLoads.size},"contended_n":${contended.size},""" +
        s""""load1_start":"${loadStart.split(" ").head}","load1_end":"${loadEnd.split(" ").head}",""" +
        s""""families":$fams,""" +
        s""""queries":${shown.mkString("{", ",", "}")}$phasesTop$loadsTop$errs,"sf":"$sfName"}"""
    }
    var keepQ = byCost.size
    var keepE = errSeq.size
    var out = line(keepQ, keepE)
    while (out.length > budget && (keepQ > 1 || keepE > 0)) {
      if (keepQ > 1) keepQ -= 1 else keepE -= 1
      out = line(keepQ, keepE)
    }
    spark.stop()
    // Printed AFTER spark.stop() so no executor/shutdown log line can
    // land between this and end-of-output.
    println(out)
  }
}
