package graft.perfbench

/** SplitMix64 (Steele, Lea & Flood, "Fast splittable pseudorandom number
  * generators", OOPSLA 2014). Every generated row seeds its own stream
  * from `(seed, tag, id)`, so any row can be regenerated on the driver
  * without reading the Parquet the program received, and the same seed
  * gives byte-identical corpora on every run and JVM. */
final class Rng(private var state: Long) {
  def nextLong(): Long = { state += Rng.Gamma; Rng.mix(state) }

  /** Uniform in [0, 1), 53 random bits. */
  def nextDouble(): Double = (nextLong() >>> 11).toDouble / (1L << 53).toDouble

  /** Uniform in [-1, 1): a 24-bit integer times a power of two, so the
    * float is exact and needs no rounding. */
  def nextSymFloat(): Float = ((nextLong() >>> 40).toInt - (1 << 23)).toFloat / (1 << 23).toFloat

  def nextInt(n: Int): Int = java.lang.Long.remainderUnsigned(nextLong(), n.toLong).toInt

  /** Standard normal by Box–Muller over StrictMath (bit-specified). */
  def nextGaussian(): Double = {
    val u1 = 1.0 - nextDouble()
    val u2 = nextDouble()
    StrictMath.sqrt(-2.0 * StrictMath.log(u1)) * StrictMath.cos(2.0 * StrictMath.PI * u2)
  }
}

object Rng {
  val Gamma = 0x9E3779B97F4A7C15L

  def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** The independent stream of row `id` in stream `tag` under `seed`. */
  def at(seed: Long, tag: Long, id: Long): Rng =
    new Rng(mix(mix(seed * Gamma + tag) + id * Gamma))

  // stream tags
  val CompTag = 3L
  val CenterTag = 4L
  val PointTag = 5L
  val OpTag = 6L
  val DocTag = 7L
  val SubstTag = 8L
}

/** One row of a vector corpus, as the program receives it. */
final case class VecRow(vec_id: Long, embedding: Array[Float], label: Int)

/** One row of the text corpus. */
final case class DocRow(id: Long, text: String)

/** Gaussian mixture: `comps` centres drawn N(0, 1) per coordinate; a
  * point is its component's centre plus N(0, sigma²) noise. Ids below
  * `comps` belong to component `id`, so the lowest ids (what
  * `ann.seedCentroids` takes) hold one point of every component and
  * IVF lists come out about equal in size whatever the seed; the
  * remaining ids pick their component at random. */
final case class GmmCorpus(seed: Long, dim: Int, comps: Int, sigma: Double) {
  @transient lazy val centres: Array[Array[Double]] = Array.tabulate(comps) { c =>
    val r = Rng.at(seed, Rng.CenterTag, c.toLong)
    Array.fill(dim)(r.nextGaussian())
  }
  def component(id: Long): Int =
    if (id < comps) id.toInt else Rng.at(seed, Rng.CompTag, id).nextInt(comps)
  def vec(id: Long): Array[Float] = {
    val c = centres(component(id))
    val r = Rng.at(seed, Rng.PointTag, id)
    Array.tabulate(dim)(i => (c(i) + sigma * r.nextGaussian()).toFloat)
  }
  def row(id: Long): VecRow = VecRow(id, vec(id), component(id) % 10)
}

/** Synthetic documents of `tokens` words from a Zipf(1) vocabulary of
  * `vocab` words. Ids `[0, nOrig)` are originals; the next `nExact` ids
  * are exact copies of ids `[0, nExact)`; the last `nNear` ids are
  * near copies of ids `[nExact, nExact + nNear)` with `substitutions`
  * token positions replaced by a different word. Sources are distinct,
  * so every planted group is a pair. */
final case class DocCorpus(
    seed: Long, n: Int, tokens: Int, vocab: Int,
    exactFrac: Double, nearFrac: Double, substitutions: Int) {
  val nExact: Int = (n * exactFrac).round.toInt
  val nNear: Int = (n * nearFrac).round.toInt
  val nOrig: Int = n - nExact - nNear
  require(nExact + nNear <= nOrig, "planted copies need distinct original sources")

  @transient lazy val cdf: Array[Double] = {
    val w = Array.tabulate(vocab)(r => 1.0 / (r + 1))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }

  private def word(i: Int): String = "w" + Integer.toString(i, 36)

  private def draw(r: Rng): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    math.min(if (i >= 0) i else -i - 1, vocab - 1)
  }

  private def originalIds(id: Long): Array[Int] = {
    val r = Rng.at(seed, Rng.DocTag, id)
    Array.fill(tokens)(draw(r))
  }

  /** Planted source of `id`, and whether the copy is exact. */
  def source(id: Long): Option[(Long, Boolean)] =
    if (id < nOrig) None
    else if (id < nOrig + nExact) Some((id - nOrig, true))
    else Some((id - nOrig, false))

  def wordIds(id: Long): Array[Int] = source(id) match {
    case None => originalIds(id)
    case Some((src, true)) => originalIds(src)
    case Some((src, false)) =>
      val w = originalIds(src)
      val r = Rng.at(seed, Rng.SubstTag, id)
      val positions = scala.collection.mutable.LinkedHashSet[Int]()
      while (positions.size < substitutions) positions += r.nextInt(tokens)
      positions.foreach { p =>
        var x = draw(r)
        while (x == w(p)) x = draw(r)
        w(p) = x
      }
      w
  }

  def text(id: Long): String = wordIds(id).map(word).mkString(" ")
  def row(id: Long): DocRow = DocRow(id, text(id))

  /** Distinct word 3-shingles, the set `dedup.wordShingles` builds. */
  def shingles(id: Long): Set[String] =
    text(id).split(' ').sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet

  /** Planted near-copy pairs `(source, copy)`. */
  def nearPairs: Seq[(Long, Long)] =
    (nOrig + nExact until n).map(j => ((j - nOrig).toLong, j.toLong))
}
