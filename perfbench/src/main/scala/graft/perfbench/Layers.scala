package graft.perfbench

import scala.collection.immutable.ListMap

/** Per-layer metrics of a traced run. Every workload reports the same
  * names; a layer the workload never calls reads 0 (no calls, no time).
  * Which end-to-end metric each one should move is in `layers.json`. */
object Layers {
  private val MB = 1024.0 * 1024.0

  def metrics(
      w: Workload,
      t: Main.Phase,
      tr: Tracer,
      probes: Map[String, Double],
      plain: ListMap[String, (Double, String)],
      traced: ListMap[String, (Double, String)],
      bound: (Double, Double),
      failFrac: Double): ListMap[String, (Double, String)] = {
    val (memcpyGbs, dotGflops) = bound
    val kinds = t.done.map(d => d.op -> d.kind).toMap
    def kindOf(op: Int): String = kinds.getOrElse(op, "")
    def med(xs: Seq[Double]) = Stat.median(xs)
    def spanMs(name: String, kinds: Set[String] = Set.empty): Seq[Double] =
      tr.spans.filter(s => s.name == name && (kinds.isEmpty || kinds(kindOf(s.op)))).map(_.ms).toSeq
    def p(name: String) = probes.getOrElse(name, 0.0)

    val coreOps = t.done.filter(d => d.kind == "knn" || d.kind == "filtered")
    val coreStats = coreOps.flatMap(_.stats)
    val rg = coreStats.flatMap(_.rowGroups)
    val annOps = t.done.filter(_.kind == "ann")
    val annStats = annOps.flatMap(_.stats)
    val dedupJobs = t.done.filter(_.kind == "dedup").flatMap(_.jobs)
    val allJobs = t.done.flatMap(_.jobs)
    val nRows = w match {
      case v: IvfGmm => v.rows.length.toDouble
      case _ => 0.0
    }

    val decodeMs = p("index.decode_ms")
    val decodeGbs = p("index.decode_gb_per_s")
    val scoreGflops = p("functions.score_gflop_per_s")
    val knnExec = med(spanMs("core.exec", Set("knn")))
    val selfMs = tr.selfMs
    def selfPerOp(prefix: String): Double =
      tr.spans.filter(s => s.op >= 0 && s.name.startsWith(prefix)).map(s => selfMs(s.id)).sum /
        math.max(1, t.done.length)
    val (tailMs, tailPct, tailN) = Stat.tail(t.ms(w.queryKind))

    val out = ListMap[String, (Double, String)](
      "index.build_ms" -> (p("index.build_ms"), "ms"),
      "index.build_mvec_per_s" -> (p("index.build_mvec_per_s"), "Mvec/s"),
      "index.bytes_on_disk" -> (p("index.bytes_on_disk"), "bytes"),
      "index.files" -> (p("index.files"), "count"),
      "index.row_groups" -> (p("index.row_groups"), "count"),
      "index.append_ms" -> (p("index.append_ms"), "ms"),
      "index.load_ms" -> (p("index.load_ms"), "ms"),
      "index.append_files_added" -> (p("index.append_files_added"), "count"),
      "index.count_ms" -> (p("index.count_ms"), "ms"),
      "index.decode_ms" -> (decodeMs, "ms"),
      "index.decode_gb_per_s" -> (decodeGbs, "GB/s"),
      "index.decode_vs_memcpy" -> (if (decodeGbs > 0) decodeGbs / w.c.cpus / memcpyGbs else 0.0, "ratio"),
      "core.plan_ms" -> (med(spanMs("core.plan")), "ms"),
      "core.exec_ms" -> (med(spanMs("core.exec")), "ms"),
      "core.rows_scanned" -> (med(coreStats.map(_.scannedRows.toDouble)), "count"),
      "core.rows_per_result" -> (med(coreStats.map(_.scannedRows / 10.0)), "ratio"),
      "core.bytes_read" -> (med(coreStats.map(_.bytesRead.toDouble)), "bytes"),
      "core.files_read" -> (med(coreStats.map(_.filesRead.toDouble)), "count"),
      "core.rowgroups_pruned_frac" -> (
        if (rg.isEmpty) 0.0 else rg.map(_.rowGroupsPruned).sum.toDouble / math.max(1, rg.map(_.rowGroupsTotal).sum),
        "fraction"),
      "functions.score_ms" -> (p("functions.score_ms"), "ms"),
      "functions.score_mvec_per_s_core" -> (p("functions.score_mvec_per_s_core"), "Mvec/s"),
      "functions.score_gflop_per_s" -> (scoreGflops, "GFLOP/s"),
      "functions.score_vs_scalar_dot" -> (if (scoreGflops > 0) scoreGflops / w.c.cpus / dotGflops else 0.0, "ratio"),
      "functions.topk_ms" -> (if (knnExec > 0) knnExec - p("probe.score_total_ms") else 0.0, "ms"),
      "ann.plan_ms" -> (med(spanMs("ann.plan")), "ms"),
      "ann.exec_ms" -> (med(spanMs("ann.exec")), "ms"),
      "ann.rows_scanned_frac" -> (if (nRows > 0) med(annStats.map(_.scannedRows.toDouble)) / nRows else 0.0, "fraction"),
      "ann.files_read" -> (med(annStats.map(_.filesRead.toDouble)), "count"),
      "ann.shuffle_mb" -> (med(annOps.flatMap(_.jobs).map(j => (j.shuffleWriteBytes + j.shuffleReadBytes) / MB)), "MB"),
      "dedup.exact_ms" -> (med(spanMs("dedup.exact")), "ms"),
      "dedup.minhash_ms" -> (p("dedup.minhash_ms"), "ms"),
      "dedup.pairs_ms" -> (med(spanMs("dedup.pairs")), "ms"),
      "dedup.cc_ms" -> (med(spanMs("dedup.cc")), "ms"),
      "dedup.candidate_pairs" -> (p("dedup.candidate_pairs"), "count"),
      "dedup.verified_frac" -> (p("dedup.verified_frac"), "fraction"),
      "dedup.shuffle_mb" -> (med(dedupJobs.map(j => (j.shuffleWriteBytes + j.shuffleReadBytes) / MB)), "MB"),
      "dedup.spill_mb" -> (med(dedupJobs.map(j => (j.memSpilledBytes + j.diskSpilledBytes) / MB)), "MB"),
      "dedup.stages" -> (med(dedupJobs.map(_.stages.toDouble)), "count"),
      "dedup.tasks" -> (med(dedupJobs.map(_.tasks.toDouble)), "count"),
      "proc.cpu_ms" -> (t.cpuMs, "ms"),
      "proc.peak_rss_mb" -> (Proc.peakRssMb(), "MB"),
      "proc.heap_live_mb" -> (t.heapLiveMb, "MB"),
      "proc.cores_busy" -> (t.cpuMs / 1e3 / t.wallS, "cores"),
      "jvm.gc_ms" -> ((t.b.gcMs - t.a.gcMs).toDouble, "ms"),
      "spark.jobs_per_op" -> (allJobs.map(_.jobs).sum.toDouble / math.max(1, allJobs.length), "count"),
      "spark.tasks_per_op" -> (allJobs.map(_.tasks).sum.toDouble / math.max(1, allJobs.length), "count"),
      "host.other_cpu_frac" -> (Proc.otherCpuFrac(t.a, t.b), "fraction"),
      "bound.memcpy_gb_per_s" -> (memcpyGbs, "GB/s"),
      "bound.scalar_dot_gflop_per_s" -> (dotGflops, "GFLOP/s"),
      "self.op_ms" -> (selfPerOp("op."), "ms"),
      "self.core_ms" -> (selfPerOp("core."), "ms"),
      "self.index_ms" -> (selfPerOp("index."), "ms"),
      "self.ann_ms" -> (selfPerOp("ann."), "ms"),
      "self.dedup_ms" -> (selfPerOp("dedup."), "ms"),
      "query.tail_ms" -> (tailMs, "ms"),
      "query.tail_pct" -> (tailPct, "percent"),
      "query.samples" -> (tailN.toDouble, "count"),
      "fail_frac" -> (failFrac, "fraction"))
    val overhead = Seq("query_p50_ms", "mix_ms_per_op", "cpu_ms_per_op").map { k =>
      s"trace.overhead_$k" -> (traced(k)._1 - plain(k)._1, plain(k)._2)
    }
    out ++ overhead
  }
}
