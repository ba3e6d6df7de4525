package graft.perfbench

import scala.collection.mutable.ArrayBuffer

/** A timed call into one layer. `parent` is -1 for a root span (an op or
  * an isolation probe); `op` is the op index, or -1 outside the op loop. */
final case class Span(id: Int, name: String, parent: Int, op: Int, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Spans are recorded only while `on`; otherwise
  * a span is a bare call, so untraced ops pay nothing. The
  * benchmark is single-threaded (one closed-loop client), so a stack
  * gives every span its parent. */
final class Tracer {
  var on = false
  val spans = ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var op = -1

  def setOp(i: Int): Unit = op = i

  def span[T](name: String)(f: => T): T =
    if (!on) f
    else {
      val id = spans.length
      val parent = stack.headOption.getOrElse(-1)
      spans += null
      stack = id :: stack
      val t0 = System.nanoTime()
      try f
      finally {
        spans(id) = Span(id, name, parent, op, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** Duration minus the part of it that child spans cover. */
  def selfMs: Map[Int, Double] = {
    val childMs = spans.filter(_.parent >= 0).groupMapReduce(_.parent)(_.ms)(_ + _)
    spans.map(s => s.id -> (s.ms - childMs.getOrElse(s.id, 0.0))).toMap
  }

  def jsonLines: Iterator[String] = {
    val self = selfMs
    spans.iterator.map(s => Json.obj(
      "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs, "self_ms" -> self(s.id)))
  }
}

object Stat {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Mean of the samples left after dropping the highest and lowest
    * tenth (at least one at each end from five samples up): uses every
    * ordinary sample, unlike the median, without letting one stall
    * dominate, unlike the mean. */
  def trimmedMean(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val cut = if (s.length >= 5) math.max(1, s.length / 10) else 0
    val kept = s.slice(cut, s.length - cut)
    if (kept.isEmpty) 0.0 else kept.sum / kept.length
  }

  /** The highest percentile with at least ten samples beyond it, as
    * `(value, percentile, samples)`; with ten samples or fewer there is
    * no such percentile and the maximum stands in. */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.length
    if (n == 0) (0.0, 0.0, 0)
    else if (n <= 10) (s.last, 100.0, n)
    else (s(n - 11), 100.0 * (n - 10) / n, n)
  }
}

/** Process and host counters read at the boundaries of a timed phase. */
final case class ProcSample(wallNs: Long, cpuNs: Long, gcMs: Long, hostBusy: Long, hostTotal: Long)

object Proc {
  import java.lang.management.ManagementFactory
  import scala.jdk.CollectionConverters._

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Aggregate `cpu` line of /proc/stat: (busy, total) jiffies. */
  private def hostJiffies(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      val idle = f(3) + f(4)
      val total = f.take(8).sum
      (total - idle, total)
    } finally src.close()
  }

  lazy val hostCpus: Int = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().count(l => l.startsWith("cpu") && l.length > 3 && l(3).isDigit)
    finally src.close()
  }

  def cpuNs(): Long = os.getProcessCpuTime

  def sample(): ProcSample = {
    val (b, t) = hostJiffies()
    ProcSample(System.nanoTime(), os.getProcessCpuTime,
      ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum, b, t)
  }

  /** Host busy share not explained by this process's own CPU time. */
  def otherCpuFrac(a: ProcSample, b: ProcSample): Double = {
    val host = (b.hostBusy - a.hostBusy).toDouble / math.max(1L, b.hostTotal - a.hostTotal)
    val own = (b.cpuNs - a.cpuNs).toDouble / math.max(1L, b.wallNs - a.wallNs) / hostCpus
    host - own
  }

  /** Heap still in use after a full collection, MB: the memory the run
    * retains, without the timing noise of when collections happened. */
  def heapLiveMb(): Double = {
    System.gc()
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Peak resident set (VmHWM) of this process, MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }
}

/** Minimal JSON writer for the result line and the span file. */
object Json {
  def value(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => value(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case s: Seq[_] => s.map(value).mkString("[", ",", "]")
    case other => throw new IllegalArgumentException(s"not JSON-encodable: $other")
  }
  def obj(kv: (String, Any)*): String = value(scala.collection.immutable.ListMap(kv: _*))
}
