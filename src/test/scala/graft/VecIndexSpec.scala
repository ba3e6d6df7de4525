package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.core.{GraftStatsListener, Metric, VecStore}
import graft.index.VecIndex

/** Index build + load + stats (ref MetaStoreBuilder::build,
  * meta.rs:151-305, and MetaQueryStats, meta.rs:832-842). */
class VecIndexSpec extends SparkSpec {
  import spark.implicits._

  private val tmp = Files.createTempDirectory("graft-index-").toString

  test("build persists inv_norm; indexed search equals direct search") {
    val df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val (store, stats) = VecIndex.build(df, s"$tmp/emb_idx",
      opts = VecIndex.BuildOptions(sortBy = Seq("label")))
    assert(stats.rows == 500 && stats.dim == 64)
    assert(stats.rowGroups >= 1 && stats.files >= 1 && stats.rowGroups >= stats.files)
    assert(store.invNormCol.contains("inv_norm"))

    val q = (0 until 64).map(i => math.sin(i + 1.0))
    def run(s: VecStore) = s.query(q, Metric.Cosine)
      .metaFilter(col("label") >= 2).take(10).withScoreRounding(4)
      .collect().select("vec_id", "score").as[(Long, Double)].collect().toSeq

    val direct = run(VecStore(df))
    val indexed = run(store)
    assert(indexed == direct)

    // reference-style one-call stats table (display.rs:196-218): titled,
    // metric/value rows carrying the BuildStats fields
    val tbl = stats.formatTable
    assert(tbl.startsWith("Graft Index Build Stats"))
    val rowsLine = tbl.linesIterator.find(_.contains("| rows")).get
    assert(rowsLine.replaceAll("\\s+", " ").endsWith("| 500 |"))
    assert(tbl.contains("row_groups") && tbl.contains("build_total_ms"))
  }

  test("append adds segments: search sees old+new rows; dim mismatch rejected") {
    val base = (0 until 100)
      .map(i => (i.toLong, (0 until 8).map(d => math.sin(i * 13.0 + d)).toArray, i % 4))
      .toDF("vec_id", "embedding", "label")
    val (_, s0) = VecIndex.build(base, s"$tmp/app_idx",
      opts = VecIndex.BuildOptions(sortBy = Seq("label")))
    val extra = (100 until 130)
      .map(i => (i.toLong, (0 until 8).map(d => math.sin(i * 13.0 + d)).toArray, i % 4))
      .toDF("vec_id", "embedding", "label")
    val (store, s1) = VecIndex.append(extra, s"$tmp/app_idx")
    assert(s1.rows == 30 && s1.files > s0.files)      // segment-additive
    assert(store.df.count() == 130)
    // an appended vector is found exactly (inv_norm derived on append)
    val q = (0 until 8).map(d => math.sin(115 * 13.0 + d))
    val top = store.query(q, Metric.Cosine).take(1).withScoreRounding(4)
      .collect().select("vec_id").as[Long].head()
    assert(top == 115L)

    val ragged = Seq((999L, Array(1.0, 2.0), 0)).toDF("vec_id", "embedding", "label")
    val e = intercept[IllegalArgumentException] {
      VecIndex.append(ragged, s"$tmp/app_idx")
    }
    assert(e.getMessage.contains("dimension"))
  }

  test("append to an LSH-partitioned index lands rows in their bucket directories") {
    val dim = 8
    def vec(i: Int): Array[Double] = (0 until dim).map(d => math.sin(i * 7.0 + d)).toArray
    val base = (0 until 80).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    VecIndex.build(base, s"$tmp/app_lsh", opts = VecIndex.BuildOptions(lshBits = Some(3)))
    val extra = (80 until 100).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    val (store, _) = VecIndex.append(extra, s"$tmp/app_lsh")
    assert(store.indexMeta.flatMap(_.lshBits).contains(3)) // meta survives append
    // every appended row's persisted bucket equals its recomputed signature
    val bad = store.df.where(col("vec_id") >= 80)
      .where(col(VecIndex.LshBucketCol) =!=
        graft.ops.ann.lshSignature(col("embedding"), t = 0, nbits = 3, dim = dim))
      .count()
    assert(bad == 0 && store.df.count() == 100)
    // bucket-pruned search still finds an appended vector exactly
    val q = (0 until dim).map(d => math.sin(91 * 7.0 + d))
    val hits = graft.ops.ann.lshSearch(store, q, k = 3, nbits = 3)
      .select("vec_id").as[Long].collect()
    assert(hits.contains(91L))
  }

  test("uniform-dimension validation fails a ragged store") {
    val bad = Seq((0L, Seq(1.0, 2.0)), (1L, Seq(1.0, 2.0, 3.0))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      VecIndex.build(bad, s"$tmp/bad_idx")
    }
    assert(e.getMessage.contains("uniform"))
  }

  test("bloom filter + fpp options land in the parquet footers") {
    val df = spark.range(2000).select(
      col("id").as("vec_id"),
      concat(lit("name_"), col("id")).as("name"),
      array(Seq(sin(col("id").cast("double")), cos(col("id").cast("double"))): _*).as("embedding"))
    val opts = VecIndex.BuildOptions(bloomCols = Seq("name"), bloomNdv = 2000,
      bloomFpp = Some(0.005), numFiles = Some(1))
    VecIndex.build(df, s"$tmp/bloom_idx", opts = opts)
    import scala.jdk.CollectionConverters._
    // every row group of every data file carries a non-empty 'name' filter
    def assertBlooms(stage: String): Unit = new java.io.File(s"$tmp/bloom_idx").listFiles()
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
      .foreach { part =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(part.getAbsolutePath),
          spark.sessionState.newHadoopConf())
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try reader.getFooter.getBlocks.asScala.foreach { block =>
          val nameCol = block.getColumns.asScala.find(_.getPath.toDotString == "name").get
          assert(nameCol.getBloomFilterOffset >= 0,
            s"no bloom filter written for 'name' after $stage (${part.getName})")
          val bloom = reader.getBloomFilterDataReader(block).readBloomFilter(nameCol)
          assert(bloom != null && bloom.getBitsetSize > 0)
        } finally reader.close()
      }
    assertBlooms("build")
    // compact rewrites every file with the same options
    VecIndex.compact(spark, s"$tmp/bloom_idx", opts)
    assertBlooms("compact")
  }

  test("bloomMaxBytes clamps the written filter (with_bloom_bits analog)") {
    // Same data built twice: unconstrained vs a 64-byte ceiling. The
    // ndv=20000 sizing wants far more than 64 bytes, so the clamped
    // build must come back strictly smaller AND at most the ceiling
    // (parquet rounds the bitset to a power of two <= max.bytes).
    def bitsetSize(dir: String, maxBytes: Option[Int]): Int = {
      val df = spark.range(20000).select(
        col("id").as("vec_id"),
        concat(lit("name_"), col("id")).as("name"),
        array(Seq(sin(col("id").cast("double")), cos(col("id").cast("double"))): _*).as("embedding"))
      VecIndex.build(df, dir,
        opts = VecIndex.BuildOptions(bloomCols = Seq("name"), bloomNdv = 20000,
          bloomMaxBytes = maxBytes, numFiles = Some(1)))
      import scala.jdk.CollectionConverters._
      val part = new java.io.File(dir).listFiles()
        .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_")).head
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(part.getAbsolutePath),
        spark.sessionState.newHadoopConf())
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        val block = reader.getFooter.getBlocks.asScala.head
        val nameCol = block.getColumns.asScala.find(_.getPath.toDotString == "name").get
        assert(nameCol.getBloomFilterOffset >= 0, "no bloom filter written for 'name'")
        reader.getBloomFilterDataReader(block).readBloomFilter(nameCol).getBitsetSize
      } finally reader.close()
    }
    val free = bitsetSize(s"$tmp/bloom_free", None)
    val clamped = bitsetSize(s"$tmp/bloom_clamped", Some(64))
    assert(clamped <= 64, s"ceiling ignored: $clamped bytes written")
    assert(clamped < free, s"clamp had no effect ($clamped vs $free)")
  }

  test("empty / all-NULL input fails the build with a descriptive error") {
    val empty = Seq.empty[(Long, Seq[Double])].toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      VecIndex.build(empty, s"$tmp/empty_idx")
    }
    assert(e.getMessage.contains("no rows"))
  }

  test("sorted index + pushed filter scans fewer rows (zonemap pruning analog)") {
    // 20k rows, label-correlated layout, small row groups so statistics
    // pruning is observable — mirrors the reference's zonemap fixture
    // intent (tests/meta_zonemap_tests.rs:17-67).
    val n = 20000
    val df = spark.range(n.toLong).select(
      col("id").as("vec_id"),
      (col("id") * 97 % 100).cast("int").as("label"),
      array(Seq(sin(col("id").cast("double")), cos(col("id").cast("double"))): _*).as("embedding"))
    val (store, _) = VecIndex.build(df, s"$tmp/pruned_idx",
      opts = VecIndex.BuildOptions(sortBy = Seq("label"), rowGroupBytes = 64 * 1024, numFiles = Some(8)))

    val listener = GraftStatsListener.attach(spark, trackRowGroups = true)
    try {
      val q = store.query(Seq(1.0, 0.0), Metric.Cosine)
        .metaFilter(col("label") === 7).take(5).collect()
      q.count()
      // The listener is invoked asynchronously — poll briefly.
      var waited = 0
      while (listener.lastQueryStats.isEmpty && waited < 5000) {
        Thread.sleep(50); waited += 50
      }
      val stats = listener.lastQueryStats
      assert(stats.isDefined, "listener captured no stats")
      assert(stats.get.scans > 0 && stats.get.filesRead > 0,
        s"listener found no scans (trivial pass), got ${stats.get.pretty}")
      // 1/100 labels selected; with range layout the scan should touch a
      // small fraction of rows/files, never the whole store.
      assert(stats.get.scannedRows < n / 4,
        s"expected pruned scan, got ${stats.get.pretty}")
      // numFiles counts LISTED files (no partition dirs here, so all 8);
      // the pruning happens inside the reader at row-group granularity —
      // proven by the row-group report below, not by this metric.
      assert(stats.get.filesRead == 8, s"unexpected listing: ${stats.get.pretty}")

      // CONCRETE chunk-pruning counters (reference pruned_chunks /
      // evaluated_chunks): the label-sorted 64 KB row groups give many
      // groups, and label=7 can survive zonemaps in at most the groups
      // whose [min,max] straddle 7 — i.e. a handful, not the store.
      val report = graft.index.PruneStats.forQuery(q)
      assert(report.rowGroupsTotal >= 8, s"fixture too coarse: ${report.pretty}")
      assert(report.rowGroupsPruned > report.rowGroupsTotal / 2,
        s"expected most row groups pruned, got ${report.pretty}")
      assert(report.rowsTotal - report.rowsPruned < n / 4,
        s"evaluated rows should be a small fraction, got ${report.pretty}")
      // listener path carries the same counters
      assert(stats.get.rowGroups.isDefined &&
        stats.get.rowGroups.get.rowGroupsTotal > 0)
      // Per-phase split (reference MetaQueryStats prune/scan/score/merge):
      // every meter nonnegative, at least one phase actually metered, and
      // the task-summed total bounded by wall duration x parallelism (4
      // local cores; x8 leaves slack for timer granularity).
      val ph = stats.get.phases
      assert(ph.pruneMs >= 0 && ph.scanMs >= 0 && ph.scoreMs >= 0 && ph.mergeMs >= 0)
      assert(ph.totalMs > 0, s"phase meters all zero: ${ph.pretty}")
      assert(ph.totalMs <= math.max(1L, stats.get.durationMs) * 8,
        s"phases exceed task-parallel bound: ${ph.pretty} vs ${stats.get.durationMs} ms")
    } finally spark.listenerManager.unregister(listener)
  }

  test("delete rewrites only the files that contain matches") {
    val path = s"$tmp/del_idx"
    val df = (0 until 200)
      .map(i => (i.toLong, (0 until 8).map(d => math.sin(i * 7.0 + d)).toArray, i / 50))
      .toDF("vec_id", "embedding", "label")
    // label-sorted layout over 4 files: each label lives in ~1 file
    VecIndex.build(df, path,
      opts = VecIndex.BuildOptions(sortBy = Seq("label"), numFiles = Some(4)))
    def dataFiles() = new java.io.File(path).listFiles()
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
      .map(f => f.getName -> f.lastModified()).toMap
    val before = dataFiles()

    val st = VecIndex.delete(spark, path, col("label") === 2)
    assert(st.rowsDeleted == 50)
    assert(st.filesRewritten < before.size,
      s"selective delete must not rewrite the whole index: $st")
    val after = dataFiles()
    // untouched files survive byte-identical (same name, same mtime)
    val untouched = before.keySet.intersect(after.keySet)
    assert(untouched.nonEmpty)
    untouched.foreach(k => assert(before(k) == after(k), s"$k was rewritten"))

    val reopened = VecIndex.load(spark, path)
    assert(reopened.df.count() == 150)
    assert(reopened.df.filter(col("label") === 2).count() == 0)
    // delete is idempotent; NULL predicates keep rows (3-valued logic)
    assert(VecIndex.delete(spark, path, col("label") === 2).rowsDeleted == 0)
  }

  test("delete on a partitioned layout keeps bucket directories consistent") {
    val path = s"$tmp/del_lsh"
    val df = (0 until 120)
      .map(i => (i.toLong, (0 until 8).map(d => math.sin(i * 3.0 + d)).toArray, i % 3))
      .toDF("vec_id", "embedding", "label")
    VecIndex.build(df, path, opts = VecIndex.BuildOptions(lshBits = Some(3)))
    val st = VecIndex.delete(spark, path, col("vec_id") < 20)
    assert(st.rowsDeleted == 20)
    val store = VecIndex.load(spark, path)
    assert(store.df.count() == 100)
    // bucket column still partition-derived and search still correct
    val q = (0 until 8).map(d => math.sin(77 * 3.0 + d))
    val top = graft.ops.ann.lshSearch(store, q, k = 1, nbits = 3)
      .select("vec_id").as[Long].head()
    assert(top == 77L)
  }

  test("compact merges appended segments; search results unchanged") {
    val path = s"$tmp/cmp_idx"
    val mk = (r: Range) => r
      .map(i => (i.toLong, (0 until 8).map(d => math.sin(i * 11.0 + d)).toArray, i % 4))
      .toDF("vec_id", "embedding", "label")
    VecIndex.build(mk(0 until 80), path,
      opts = VecIndex.BuildOptions(sortBy = Seq("label")))
    VecIndex.append(mk(80 until 100), path)
    VecIndex.append(mk(100 until 120), path)
    val (filesBefore, _) = {
      val fs = new java.io.File(path).listFiles()
        .count(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
      (fs, 0)
    }
    val q = (0 until 8).map(d => math.sin(95 * 11.0 + d))
    def results() = VecIndex.load(spark, path).query(q, Metric.Cosine)
      .take(5).withScoreRounding(4).collect()
      .select("vec_id", "score").as[(Long, Double)].collect().toSeq
    val before = results()

    val stats = VecIndex.compact(spark, path,
      VecIndex.BuildOptions(sortBy = Seq("label"), numFiles = Some(2)))
    assert(stats.rows == 120 && stats.dim == 8)
    assert(stats.files < filesBefore, s"compaction must shrink file count: $stats")
    assert(results() == before)
  }

  test("append equals a fresh build for every layout; compact keeps rows and meta") {
    val dim = 8
    val rows = (0 until 180).map(i =>
      (i.toLong, (0 until dim).map(d => math.sin(i * 5.0 + d)).toArray, i % 3))
    def frame(r: Seq[(Long, Array[Double], Int)]) =
      r.toDF("vec_id", "embedding", "label").coalesce(1)
    val cents = (0 until 4).map(c => (c, (0 until dim).map(d => math.cos(c * 3.0 + d)): Seq[Double]))
    val cbs = (0 until 2).map(s => (0 until 4).map(c =>
      (0 until dim / 2).map(d => math.sin(s * 31.0 + c * 7.0 + d)): Seq[Double]))
    val layouts = Seq(
      "plain" -> VecIndex.BuildOptions(),
      "lsh" -> VecIndex.BuildOptions(lshBits = Some(3)),
      "ivf" -> VecIndex.BuildOptions(ivfCentroids = Some(cents)),
      "rp" -> VecIndex.BuildOptions(rpDims = Some(3)),
      "pq" -> VecIndex.BuildOptions(pqCodebooks = Some(cbs)),
      "ivfpq" -> VecIndex.BuildOptions(ivfCentroids = Some(cents), pqCodebooks = Some(cbs)))
    // every column, cast to string, in a sorted row list
    def content(s: VecStore): (Seq[String], Seq[String]) = {
      val cols = s.df.columns.toSeq.sorted
      (cols, s.df.select(cols.map(c => col(c).cast("string")): _*).collect()
        .map(_.toSeq.mkString("|")).toSeq.sorted)
    }
    layouts.foreach { case (name, opts) =>
      val (appended, fresh) = (s"$tmp/twin_${name}_app", s"$tmp/twin_${name}_full")
      VecIndex.build(frame(rows.take(120)), appended, opts = opts)
      val (store, _) = VecIndex.append(frame(rows.drop(120)), appended)
      val (full, _) = VecIndex.build(frame(rows), fresh, opts = opts)
      val want = content(full)
      assert(want._2.size == 180)
      assert(content(store) == want, s"$name: build + append != fresh build")
      assert(store.indexMeta == full.indexMeta && full.indexMeta.isDefined, name)

      VecIndex.compact(spark, appended, opts)
      val compacted = VecIndex.load(spark, appended)
      assert(content(compacted) == want, s"$name: compact changed rows")
      assert(compacted.indexMeta == full.indexMeta, s"$name: compact changed meta")
    }
  }

  test("append to an index emptied by delete takes the batch's dimension") {
    val mk = (r: Range, dim: Int) => r
      .map(i => (i.toLong, (0 until dim).map(d => math.sin(i * 9.0 + d)).toArray, i % 2))
      .toDF("vec_id", "embedding", "label")
    val plain = s"$tmp/emptied_plain"
    VecIndex.build(mk(0 until 40, 8), plain)
    assert(VecIndex.delete(spark, plain, lit(true)).rowsDeleted == 40)
    val (store, st) = VecIndex.append(mk(40 until 50, 8), plain)
    assert(st.rows == 10 && st.dim == 8 && store.df.count() == 10)
    val q = (0 until 8).map(d => math.sin(44 * 9.0 + d))
    assert(store.query(q, Metric.Cosine).take(1).collect()
      .select("vec_id").as[Long].head() == 44L)

    // a projection fixes the dimension even with no stored vector left
    val rp = s"$tmp/emptied_rp"
    VecIndex.build(mk(0 until 40, 8), rp, opts = VecIndex.BuildOptions(rpDims = Some(3)))
    VecIndex.delete(spark, rp, lit(true))
    val e = intercept[IllegalArgumentException] {
      VecIndex.append(mk(40 until 50, 6), rp)
    }
    assert(e.getMessage.contains("appended dimension 6 != stored dimension 8"))
    assert(VecIndex.append(mk(40 until 50, 8), rp)._1.df.count() == 10)
  }

  test("deleting every row of a partitioned index leaves a loadable empty index") {
    val dim = 8
    val mk = (r: Range) => r
      .map(i => (i.toLong, (0 until dim).map(d => math.sin(i * 7.0 + d)).toArray, i % 2))
      .toDF("vec_id", "embedding", "label")
    val cents = (0 until 2).map(c =>
      (c, (0 until dim).map(d => math.cos(c * 5.0 + d)): Seq[Double]))
    Seq(
      "lsh" -> VecIndex.BuildOptions(lshBits = Some(1)),
      "ivf" -> VecIndex.BuildOptions(ivfCentroids = Some(cents))
    ).foreach { case (name, opts) =>
      val path = s"$tmp/emptied_$name"
      VecIndex.build(mk(0 until 20), path, opts = opts)
      assert(VecIndex.delete(spark, path, lit(true)).rowsDeleted == 20, name)
      assert(spark.read.parquet(path).count() == 0, name)
      assert(VecIndex.load(spark, path).df.count() == 0, name)
      val (store, st) = VecIndex.append(mk(20 until 30), path)
      assert(st.rows == 10 && store.df.count() == 10, name)
      assert(VecIndex.load(spark, path).df.select("vec_id").as[Long].collect()
        .sorted.toSeq == (20L until 30L), name)
    }
  }

  test("z-order clustering: range filters on EITHER dimension prune row groups") {
    import graft.index.{zorder, PruneStats}
    // two independent uniform dims: a plain single-column sort would
    // leave the other dimension's zonemaps useless
    val df = (0 until 16384).map { i =>
      (i.toLong % 4096L, ((i * 2654435761L) % 4096L), s"r$i")
    }.toDF("x", "y", "tag")
    val path = Files.createTempDirectory("graft-zo-spec-").toString + "/t"
    zorder.writeClustered(df, path, "x", "y", bits = 12, files = 4,
      rowGroupBytes = 16 * 1024)
    val t = spark.read.parquet(path)
    // same rows back
    assert(t.count() == 16384)
    // a narrow range on EACH dimension must prune most row groups
    val rx = PruneStats.forQuery(t.where(col("x") >= 100 && col("x") <= 160))
    val ry = PruneStats.forQuery(t.where(col("y") >= 100 && col("y") <= 160))
    assert(rx.rowGroupsTotal >= 8, s"fixture too coarse: ${rx.pretty}")
    assert(rx.rowGroupsPruned > rx.rowGroupsTotal / 2, rx.pretty)
    assert(ry.rowGroupsPruned > ry.rowGroupsTotal / 2, ry.pretty)
  }
}
