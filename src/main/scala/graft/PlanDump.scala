package graft

import java.nio.file.{Files, Paths}

/** Plan inspector and batch plan dumper for optimization evidence:
  * writes `.explain("formatted")` output of each named query to
  * `<outDir>/<name>_<tag>.txt` — one JVM for the whole list, so
  * capturing before/after plans for many queries pays the ~20 s session
  * spin-up once. With outDir `-` it prints each query's optimized
  * logical plan and formatted physical plan to stdout instead — the
  * loop for checking pushdown (`PushedFilters`), scan pruning
  * (`ReadSchema`), codegen spans, and shuffle/broadcast placement.
  *
  * Usage: sbt "runMain graft.PlanDump <tag> <outDir|-> <q1,q2,...|all> [sfDir]"
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val tag = args(0)
    val outDir = args(1)
    val names: Seq[String] =
      if (args(2) == "all") SparkEntry.queries.keys.toSeq.sorted
      else args(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val sfDir = args.lift(3).getOrElse("/root/testdata/sf0.001")
    val toStdout = outDir == "-"
    val spark = graft.core.LocalSession("ERROR")
    if (!toStdout) Files.createDirectories(Paths.get(outDir))
    SparkEntry.prebuildIndexes(spark, sfDir)
    // A fully failing capture run must not exit 0 (CI/scripts would
    // read it as success): count failures and unknown names, exit 1.
    var failed = 0
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None =>
          System.err.println(s"[plandump] unknown query: $name")
          failed += 1
        case Some(fn) =>
          try {
            val df = fn(spark, sfDir)
            val formatted = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            if (toStdout) {
              println(s"==== $name: optimized logical plan ====")
              println(df.queryExecution.optimizedPlan.toString.take(8000))
              println(s"==== $name: formatted physical plan ====")
              println(formatted)
            } else {
              Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"), formatted)
              println(s"[plandump] wrote $outDir/${name}_$tag.txt")
            }
          } catch {
            case e: Throwable =>
              System.err.println(s"[plandump] $name failed: ${e.getMessage}")
              failed += 1
          }
      }
    }
    spark.stop()
    if (failed > 0) {
      System.err.println(s"[plandump] $failed of ${names.size} dumps failed")
      sys.exit(1)
    }
  }
}
