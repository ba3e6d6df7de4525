package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Metric, VecStore}
import graft.functions.vectors
import graft.index.VecIndex
import graft.ops.{ann, dedup}

/** What an op returned, checked against a driver-side recomputation after
  * the timed phase. `check` lists what was wrong (empty when correct) and
  * gives the op's recall where it has one. */
trait Outcome {
  def check(): (Seq[String], Option[Double])
  /** The same outcome with its answer deliberately damaged, so the
    * self-test can prove the check catches a wrong answer. */
  def corrupted: Outcome
}

/** One op of a workload's fixed sequence, with its input already made. */
final case class Op(kind: String, run: () => Outcome)

final class Ctx(
    val spark: SparkSession,
    val seed: Long,
    val scale: Double,
    val work: java.io.File) {
  val tracer = new Tracer
  def span[T](name: String)(f: => T): T = tracer.span(name)(f)
  def n(full: Int): Int = math.max(16, (full * scale).round.toInt)
  def path(name: String): String = new java.io.File(work, name).getAbsolutePath
  val cpus: Int = spark.sparkContext.defaultParallelism

  def dirBytes(p: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L) else f.length()
    walk(new java.io.File(p))
  }
}

/** Exact top-k on the driver over the regenerated rows, in the order and
  * arithmetic of the program: sequential double fold of float·double
  * products (`VecKernels.dot`), then `dot · inv(store) · inv(query)`. */
object Exact {
  def dot(v: Array[Float], q: Array[Double]): Double = {
    var acc = 0.0
    var i = 0
    while (i < v.length) { acc += v(i).toDouble * q(i); i += 1 }
    acc
  }

  def invNorm(v: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < v.length) { s += v(i).toDouble * v(i).toDouble; i += 1 }
    if (s > 0) 1.0 / math.sqrt(s) else 0.0
  }

  def cosine(v: Array[Float], inv: Double, q: Array[Double], qInv: Double): Double =
    dot(v, q) * inv * qInv

  /** Top-`k` (score desc, id asc) over ids `[0, n)` passing `keep`. */
  def topK(rows: ArrayBuffer[Array[Float]], invs: ArrayBuffer[Double], n: Int,
      q: Array[Double], k: Int, keep: Int => Boolean): (Array[Long], Array[Double]) = {
    val qInv = vectors.invNormOf(q.toSeq)
    val ids = Array.fill(k)(-1L)
    val sc = Array.fill(k)(Double.NegativeInfinity)
    var filled = 0
    var i = 0
    while (i < n) {
      if (keep(i)) {
        val s = cosine(rows(i), invs(i), q, qInv)
        if (filled < k || s > sc(k - 1)) {
          var j = math.min(filled, k - 1)
          while (j > 0 && s > sc(j - 1)) { sc(j) = sc(j - 1); ids(j) = ids(j - 1); j -= 1 }
          sc(j) = s; ids(j) = i.toLong
          if (filled < k) filled += 1
        }
      }
      i += 1
    }
    (ids.take(filled), sc.take(filled))
  }
}

/** A top-k answer and the exact answer it must equal, id for id and in
  * order, scores within 1e-9. */
final case class TopKOutcome(
    ids: Array[Long], scores: Array[Double], truth: () => (Array[Long], Array[Double]))
    extends Outcome {
  def check(): (Seq[String], Option[Double]) = {
    val (tIds, tSc) = truth()
    val errs = ArrayBuffer[String]()
    if (!ids.sameElements(tIds))
      errs += s"ids ${ids.mkString(",")} != exact ${tIds.mkString(",")}"
    else if (scores.zip(tSc).exists { case (a, b) => math.abs(a - b) > 1e-9 })
      errs += s"scores ${scores.mkString(",")} != exact ${tSc.mkString(",")}"
    val recall = if (tIds.isEmpty) 1.0 else ids.count(tIds.contains).toDouble / tIds.length
    (errs.toSeq, Some(recall))
  }
  def corrupted: Outcome =
    if (ids.length < 2) copy(ids = ids.map(_ + 1))
    else copy(ids = ids.updated(0, ids(1)).updated(1, ids(0)))
}

/** An outcome checked once, on demand, after the timed phase. */
final class LazyOutcome(r: => (Seq[String], Option[Double])) extends Outcome {
  private lazy val result = r
  def check(): (Seq[String], Option[Double]) = result
  def corrupted: Outcome = new LazyOutcome((result._1 :+ "corrupted", result._2))
}

/** A workload: a corpus made from the seed, set up as an index, and a
  * fixed, seeded sequence of ops cycling through `pattern`. */
abstract class Workload(val c: Ctx) {
  /** The op sequence, one kind per slot, repeated. */
  def pattern: Seq[String]
  /** The kind whose latency is the workload's query latency. */
  def queryKind: String
  /** The kind whose checked recall is the workload's `recall`. */
  def recallKind: String
  /** Generate the corpus into Parquet and build the index from it. */
  def setup(): Unit
  def op(i: Int): Op
  /** Stored bytes per byte of user data, measured right after set-up. */
  def storeRatio: Double
  /** Bytes of user data the isolation probes touch (for the bounds). */
  def userBytes: Long
  /** Isolation probes and counters, traced run only. */
  def probes(): Map[String, Double] = Map.empty
  protected val spark: SparkSession = c.spark
  protected def opRng(i: Int): Rng = Rng.at(c.seed, Rng.OpTag, i.toLong)

  /** Untimed: one op of each kind of the pattern. */
  def warmUpKinds(): Unit = pattern.distinct.foreach { k =>
    op(pattern.indexOf(k) - pattern.length).run()
  }

  /** Untimed: ops of the pattern, on inputs of their own, for `seconds`
    * seconds. Returns the number of ops run. */
  def warmUp(seconds: Double): Int = {
    val end = System.nanoTime() + (seconds * 1e9).toLong
    val first = -1000 * pattern.length // below the ops of warmUpKinds
    var n = 0
    while (System.nanoTime() < end) { op(first + n).run(); n += 1 }
    n
  }

  /** Median of three timed runs after one untimed run. */
  protected def probe(name: String)(f: => Any): Double = {
    f
    Stat.median((1 to 3).map { _ =>
      val t0 = System.nanoTime(); c.span(name)(f); (System.nanoTime() - t0) / 1e6
    })
  }
}

/** Gaussian-mixture 384-d corpus in an IVF layout with one list per
  * mixture component, `label` = component mod 10, so a label predicate
  * selects one or two lists and their row groups prune. Exact top-10 (a
  * full scan) and label-filtered top-10 beside batched IVF probes. Every
  * answer is checked against a driver-side copy of the corpus,
  * regenerated from the seed and never read back. Appends are an
  * isolation probe of the traced run, not timed ops: one adds a file per
  * list and takes seconds, so in the loop they would dominate the mix and
  * slow every later query as files accumulate. */
final class IvfGmm(c0: Ctx) extends Workload(c0) {
  import c0.spark.implicits._
  val dim = 384
  val n0: Int = c.n(20000)
  val lists = 16
  val batch = 16
  val nprobe = 2
  val appendN: Int = math.max(1, n0 / 100)
  val gen: GmmCorpus = GmmCorpus(c.seed, dim, comps = lists, sigma = 0.5)
  val pattern: Seq[String] = Seq("knn", "filtered", "knn", "ann")
  val queryKind = "knn"
  val recallKind = "ann"

  val rows = ArrayBuffer[Array[Float]]()
  val invs = ArrayBuffer[Double]()
  val labels = ArrayBuffer[Int]()
  var store: VecStore = _
  var built: VecIndex.BuildStats = _
  val buildMs = ArrayBuffer[Double]()
  var bytesOnDisk = 0L
  private val corpusPath = c.path("corpus")
  private val indexPath = c.path("index")

  private def addRows(ids: Range): Unit = ids.foreach { id =>
    val r = gen.row(id.toLong)
    rows += r.embedding; invs += Exact.invNorm(r.embedding); labels += r.label
  }

  def setup(): Unit = {
    rows.clear(); invs.clear(); labels.clear()
    addRows(0 until n0)
    val g = gen
    spark.range(0L, n0.toLong, 1L, c.cpus).map(id => g.row(id))
      .write.mode(SaveMode.Overwrite).parquet(corpusPath)
    val corpus = spark.read.parquet(corpusPath)
    val opts = VecIndex.BuildOptions(ivfCentroids = Some(ann.seedCentroids(corpus, lists)))
    val t0 = System.nanoTime()
    val (s, st) = VecIndex.build(corpus, indexPath, opts = opts)
    buildMs += (System.nanoTime() - t0) / 1e6
    store = s; built = st
    bytesOnDisk = c.dirBytes(indexPath)
  }

  def storeRatio: Double = bytesOnDisk.toDouble / (n0.toLong * dim * 4)
  def userBytes: Long = rows.length.toLong * dim * 4

  /** A corpus point plus small noise: clustered queries, as IVF assumes. */
  private def randomQuery(r: Rng): Array[Double] = {
    val base = rows(r.nextInt(n0))
    Array.tabulate(dim)(i => (base(i) + 0.05 * r.nextGaussian()).toFloat.toDouble)
  }

  private def knn(q: Array[Double], label: Option[Int]): Outcome = {
    val s = store
    val n = rows.length
    val plan = c.span("core.plan") {
      val p = s.query(q.toSeq, Metric.Cosine).take(10)
      val df = label.fold(p)(l => p.metaFilter(col("label") === l)).collect()
      df.queryExecution.executedPlan
      df
    }
    val got = c.span("core.exec")(plan.collect())
    TopKOutcome(got.map(_.getLong(0)), got.map(_.getDouble(1)),
      () => Exact.topK(rows, invs, n, q, 10, i => label.forall(_ == labels(i))))
  }

  def op(i: Int): Op = {
    val r = opRng(i)
    pattern(Math.floorMod(i, pattern.length)) match {
      case "knn" =>
        val q = randomQuery(r)
        Op("knn", () => knn(q, None))
      case "filtered" =>
        val q = randomQuery(r)
        val l = r.nextInt(10)
        Op("filtered", () => knn(q, Some(l)))
      case "ann" =>
        val qs = (0 until batch).map(j => (j.toLong, randomQuery(r)))
        Op("ann", () => {
          val plan = c.span("ann.plan") {
            val df = ann.ivfSearchBatch(store, qs.map { case (id, q) => (id, q.toSeq) }, 10, nprobe)
            df.queryExecution.executedPlan
            df
          }
          val got = c.span("ann.exec")(plan.collect())
          annOutcome(qs, got)
        })
    }
  }

  private def annOutcome(qs: Seq[(Long, Array[Double])], got: Array[Row]): Outcome = {
    val n = rows.length
    val byQuery = got.groupBy(_.getLong(0))
    new LazyOutcome({
      val errs = ArrayBuffer[String]()
      val recalls = qs.map { case (qid, q) =>
        val res = byQuery.getOrElse(qid, Array.empty[Row])
        val qInv = vectors.invNormOf(q.toSeq)
        res.foreach { row =>
          val id = row.getLong(1).toInt
          val want = vectors.quantizeOf(Exact.cosine(rows(id), invs(id), q, qInv), 4)
          if (row.getDouble(2) != want) errs += s"query $qid id $id score ${row.getDouble(2)} != $want"
        }
        val truth = Exact.topK(rows, invs, n, q, 10, _ => true)._1
        res.map(_.getLong(1)).count(truth.contains).toDouble / truth.length
      }
      (errs.toSeq, Some(recalls.sum / recalls.length))
    })
  }

  override def probes(): Map[String, Double] = {
    val setUp = built // the layout as set up, before the append probe grows it
    val df = store.df
    val q = randomQuery(opRng(-1))
    val qInv = vectors.invNormOf(q.toSeq)
    val countMs = probe("index.count")(df.count())
    val decodeMs = probe("index.decode")(df.agg(sum(size(col(store.vecCol)))).collect())
    val scoreMs = probe("functions.score")(df.agg(sum(vectors.score(Metric.Cosine,
      col(store.vecCol), vectors.vecLit(q.toSeq), store.invNormCol.map(col),
      Some(lit(qInv))))).collect())
    val filesAdded = ArrayBuffer[Double]()
    val appendMs = probe("index.append") {
      val first = rows.length
      // one input partition, so an append adds at most one file per list
      val df = spark.createDataset((first until first + appendN).map(id => gen.row(id.toLong)))
        .toDF().coalesce(1)
      val before = built.files
      val (s, st) = VecIndex.append(df, indexPath)
      require(st.rows == appendN, s"appended ${st.rows} rows, expected $appendN")
      store = s; built = st
      addRows(first until first + appendN)
      filesAdded += (st.files - before).toDouble
    }
    val loadMs = probe("index.load")(VecIndex.load(spark, indexPath).df.schema)
    val nRows = rows.length.toDouble
    val scoreOnlyMs = scoreMs - decodeMs
    // a rate over a time that noise drove to zero or below reads 0
    def perMs(x: Double, ms: Double) = if (ms > 0) x / ms else 0.0
    Map(
      "index.build_ms" -> Stat.median(buildMs.toSeq),
      "index.build_mvec_per_s" -> perMs(n0 / 1e3, Stat.median(buildMs.toSeq)),
      "index.bytes_on_disk" -> bytesOnDisk.toDouble,
      "index.files" -> setUp.files.toDouble,
      "index.row_groups" -> setUp.rowGroups.toDouble,
      "index.append_ms" -> appendMs,
      "index.append_files_added" -> Stat.median(filesAdded.toSeq),
      "index.load_ms" -> loadMs,
      "index.count_ms" -> countMs,
      "index.decode_ms" -> decodeMs,
      "index.decode_gb_per_s" -> perMs(userBytes / 1e6, decodeMs),
      "functions.score_ms" -> scoreOnlyMs,
      "functions.score_mvec_per_s_core" -> perMs(nRows / 1e3 / c.cpus, scoreOnlyMs),
      "functions.score_gflop_per_s" -> perMs(2.0 * nRows * dim / 1e6, scoreOnlyMs),
      "probe.score_total_ms" -> scoreMs)
  }
}

/** Synthetic documents with planted exact and near copies, through exact
  * dedup then MinHash-LSH near-dup clusters. */
final class DedupDocs(c0: Ctx) extends Workload(c0) {
  import c0.spark.implicits._
  val docs: DocCorpus = DocCorpus(c.seed, c.n(16000), tokens = 120, vocab = 20000,
    exactFrac = 0.05, nearFrac = 0.10, substitutions = 6)
  val pattern: Seq[String] = Seq("dedup")
  val queryKind = "dedup"
  val recallKind = "dedup"
  val threshold = 0.5
  private val corpusPath = c.path("docs")
  private var bytesOnDisk = 0L
  private lazy val textBytes: Long =
    (0 until docs.n).map(i => docs.text(i.toLong).getBytes("UTF-8").length.toLong).sum

  def setup(): Unit = {
    val d = docs
    spark.range(0L, docs.n.toLong, 1L, c.cpus).map(id => d.row(id))
      .write.mode(SaveMode.Overwrite).parquet(corpusPath)
    bytesOnDisk = c.dirBytes(corpusPath)
  }

  def storeRatio: Double = bytesOnDisk.toDouble / textBytes
  def userBytes: Long = textBytes

  /** `nearDupClusters` is `minhashNearDupPairs` then `connectedComponents`;
    * the op calls the two itself so that the traced run can time each
    * stage. Both modes run the same steps, and each stage's input is
    * materialized before the stage. */
  def op(i: Int): Op = Op("dedup", () => {
    val input = spark.read.parquet(corpusPath)
    val dd = c.span("dedup.exact")(dedup.exactDedup(input, "text", "id").localCheckpoint())
    val kept = dd.count()
    val pairs = c.span("dedup.pairs")(
      dedup.minhashNearDupPairs(dd, "text", "id", threshold).localCheckpoint())
    val cl = c.span("dedup.cc")(dedup.connectedComponents(pairs).collect())
    dedupOutcome(kept, cl.map(r => (r.getLong(0), r.getLong(1))))
  })

  private def jaccard(a: Set[String], b: Set[String]): Double =
    (a & b).size.toDouble / (a | b).size

  /** Exact dedup removes exactly the planted copies; every member of every
    * near-dup cluster has a true Jaccard of at least the threshold with
    * some other member, so a false merge fails the op; planted near-copy
    * pairs found in one cluster give the recall. */
  private def dedupOutcome(kept: Long, clusters: Array[(Long, Long)]): Outcome = new LazyOutcome({
    val errs = ArrayBuffer[String]()
    val removed = docs.n - kept
    if (removed != docs.nExact) errs += s"exact dedup removed $removed docs, planted ${docs.nExact}"
    clusters.groupBy(_._2).values.map(_.map(_._1)).foreach { members =>
      val sh = members.map(m => m -> docs.shingles(m)).toMap
      members.foreach { m =>
        val best = members.filter(_ != m).map(x => jaccard(sh(m), sh(x))).maxOption.getOrElse(0.0)
        if (best < threshold)
          errs += f"doc $m in cluster of ${members.length} has Jaccard $best%.3f < $threshold with every other member"
      }
    }
    val rep = clusters.toMap
    val planted = docs.nearPairs
    val found = planted.count { case (s, j) => rep.get(s).exists(r => rep.get(j).contains(r)) }
    (errs.toSeq, Some(found.toDouble / planted.length))
  })

  override def probes(): Map[String, Double] = {
    val input = spark.read.parquet(corpusPath)
    val dd = dedup.exactDedup(input, "text", "id").localCheckpoint()
    val mh = dedup.minhashed(dd, "text", "id", 16)
    val banded = mh.select(col("id"), explode(dedup.lshBands(col("sig"), 16, 8)).as("b"))
      .select(col("id"), col("b.band_idx").as("bi"), col("b.band_key").as("bk"))
    val x = banded.as("x")
    val y = banded.as("y")
    val candidates = x.join(y, col("x.bi") === col("y.bi") && col("x.bk") === col("y.bk") &&
        col("x.id") < col("y.id"))
      .select(col("x.id"), col("y.id")).distinct().count()
    val verified = dedup.minhashNearDupPairs(dd, "text", "id", threshold).count()
    val minhashMs = probe("dedup.minhash")(
      mh.write.format("noop").mode(SaveMode.Overwrite).save())
    Map(
      "dedup.minhash_ms" -> minhashMs,
      "dedup.candidate_pairs" -> candidates.toDouble,
      "dedup.verified_frac" -> verified.toDouble / math.max(1L, candidates))
  }
}

object Workload {
  val names: Seq[String] = Seq("ivf_gmm", "dedup_docs")
  def apply(name: String, c: Ctx): Workload = name match {
    case "ivf_gmm" => new IvfGmm(c)
    case "dedup_docs" => new DedupDocs(c)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected one of ${names.mkString(", ")})")
  }
}
