package graft

/** Tripwire audit for single-partition windows: runs every registered
  * query (or a SPARK_GRAFT_ONLY subset) at a small scale factor and
  * attributes each `WindowExec: No Partition Defined` warning to the
  * query that triggered it, via a log4j2 appender on the WindowExec
  * logger. The [[graft.ops.windows.boundedGlobal]] helper exists so that
  * audited, provably-bounded global windows DON'T warn — any query this
  * main reports is therefore an UNaudited global window: either a scale
  * bug or a site that must be routed through the helper with its bound
  * named.
  *
  * Usage: sbt "runMain graft.WindowAudit [sfDir]"
  */
object WindowAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.core.LocalSession("ERROR")

    // Count "No Partition Defined" events from WindowExec specifically;
    // everything else stays at ERROR so the report is the only output.
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.LoggerContext
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val appender = new AbstractAppender(
      "graft-window-audit", null, null, false, Property.EMPTY_ARRAY) {
      override def append(e: org.apache.logging.log4j.core.LogEvent): Unit =
        if (e.getMessage.getFormattedMessage.contains("No Partition Defined"))
          counter.incrementAndGet()
    }
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val winLogger = "org.apache.spark.sql.execution.window.WindowExec"
    val cfg = ctx.getConfiguration
    cfg.addAppender(appender)
    val loggerCfg = org.apache.logging.log4j.core.config.LoggerConfig
      .createLogger(false, Level.WARN, winLogger, null,
        Array.empty, Property.EMPTY_ARRAY, cfg, null)
    loggerCfg.addAppender(appender, Level.WARN, null)
    cfg.addLogger(winLogger, loggerCfg)
    ctx.updateLoggers()

    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    var flagged = 0
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
        val before = counter.get()
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          println(s"AUDIT $name ERROR ${e.getClass.getSimpleName}")
        }
        val n = counter.get() - before
        if (n > 0) { flagged += 1; println(s"AUDIT $name global_windows=$n") }
      }
    println(s"AUDIT done: $flagged queries with unaudited global windows")
    spark.stop()
  }
}
