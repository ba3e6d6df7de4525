package graft.core

import org.apache.spark.sql.SparkSession

/** The one local SparkSession every main builds, so `PlanDump` and the
  * other tools plan exactly what `Bench` times and `Verify`
  * checks: `local[SPARK_GRAFT_CPUS]` (default 4), the determinism pins
  * ([[EnvConf.PinnedKeys]]), the AQE coalescing posture and the
  * `SPARK_GRAFT_CONF` passthrough. */
object LocalSession {
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** `logLevel` is WARN or ERROR; `shufflePartitions` defaults to one per
    * core (ScaleRehearsal sizes it from the data instead). */
  def apply(logLevel: String, shufflePartitions: Int = cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toLong)
      // UTC: normalizeEventTs's NTZ->TZ cast is only value-preserving
      // under UTC
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // AQE partition-coalescing posture, env-parameterized for cluster
      // deployments (optimization guide §2.2 "fewer, larger reduce
      // partitions"): a 100 TB run sets SPARK_GRAFT_PARALLELISM_FIRST=
      // false + SPARK_GRAFT_ADVISORY_PART_BYTES=268435456 so partition
      // count derives from data size (the Spark docs' production
      // recommendation). The LOCAL defaults stay Spark's defaults:
      // size-based coalescing was MEASURED SLOWER here (ABBA pairs,
      // r15: pf=false 22-37% worse at 64m/2m/1m advisory — at sf0.1
      // the parallelism lost on 0.5-20 MB shuffles outweighs the
      // task-scheduling overhead saved; OPTIMIZATION_r15.md "Measured
      // and rejected"). Explicit repartition(n, …) calls (zipIndex /
      // prefixSum pinned exchanges) are untouched by AQE either way,
      // so partition-id-derived results cannot shift.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
        sys.env.getOrElse("SPARK_GRAFT_PARALLELISM_FIRST", "true"))
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        sys.env.getOrElse("SPARK_GRAFT_ADVISORY_PART_BYTES", "67108864"))
      // generic deployment-conf passthrough ("k=v;k2=v2") so cluster
      // postures (zstd shuffle codec, shuffled-hash preference, bigger
      // scan splits — guide §9) are reachable without a code edit, and
      // config experiments are paired-measurable without recompiling
      .config(EnvConf(sys.env.get("SPARK_GRAFT_CONF")))
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
