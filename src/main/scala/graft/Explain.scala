package graft

/** Plan inspector: prints the formatted physical plan (and an optimized
  * logical summary) of one registered query — the iteration loop for
  * checking pushdown (`PushedFilters`), scan pruning (`ReadSchema`),
  * codegen spans, and shuffle/broadcast placement.
  *
  * Usage: sbt "runMain graft.Explain <queryName> [sfDir]"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("vec_cosine_topk")
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.001")
    val spark = graft.core.LocalSession("ERROR")
    val df = SparkEntry.queries(name)(spark, sfDir)
    println(s"==== $name: optimized logical plan ====")
    println(df.queryExecution.optimizedPlan.toString.take(8000))
    println(s"==== $name: formatted physical plan ====")
    df.explain("formatted")
    spark.stop()
  }
}
