package graft.core

/** Parses the `SPARK_GRAFT_CONF` deployment passthrough — a
  * `key=value;key=value` list applied to the session builder — so
  * cluster postures (shuffle codec, join preferences, scan split
  * sizes; optimization guide §9) are env-reachable without a code
  * edit, and config A/B experiments can be paired-measured without
  * recompiling. Malformed entries (no '=') are ignored rather than
  * failing the bench. */
object EnvConf {
  /** Determinism pins [[LocalSession]] sets explicitly: a passthrough entry
    * for one of these would silently override the pin (it is applied
    * AFTER them on the builder) and shift results while the correctness
    * gate still reports green under the same shifted posture — so they
    * are rejected with a stderr warning instead. */
  val PinnedKeys: Set[String] = Set(
    "spark.sql.session.timeZone",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.master")

  def apply(raw: Option[String]): Map[String, String] = {
    val parsed = raw.toSeq
      .flatMap(_.split(";"))
      .map(_.trim)
      .filter(_.contains("="))
      .map { kv =>
        val i = kv.indexOf('=')
        kv.substring(0, i).trim -> kv.substring(i + 1).trim
      }
      .filter { case (k, v) => k.nonEmpty && v.nonEmpty }
      .toMap
    val (pinned, ok) = parsed.partition { case (k, _) => PinnedKeys(k) }
    pinned.keys.foreach { k =>
      System.err.println(
        s"[graft] SPARK_GRAFT_CONF entry '$k' ignored: collides with a " +
          "pinned determinism config (see LocalSession.scala)")
    }
    ok
  }
}
