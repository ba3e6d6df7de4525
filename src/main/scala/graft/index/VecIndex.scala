package graft.index

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{IndexMeta, VecStore}
import graft.functions.vectors

/** Index build — the Spark-native `MetaStoreBuilder::build`
  * (/root/reference/src/meta.rs:151-305).
  *
  * The reference's physical machinery maps 1:1 onto Parquet layout, so the
  * "index" is a Parquet dataset written with deliberate physical options:
  *
  *   - fixed-size row chunks carrying zonemaps (meta_compute.rs:134-140) →
  *     Parquet ROW GROUPS, whose min/max/null-count statistics the
  *     vectorized scan uses to skip whole groups when a predicate is
  *     pushed down (the reference's chunk pruning, meta.rs:407-544);
  *   - `with_chunk_size` (meta.rs:85-89) → `parquet.block.size` (bytes per
  *     row group) + an explicit range-partition/sort on the metadata
  *     columns users filter on, so each row group covers a NARROW value
  *     range and min/max pruning actually bites;
  *   - per-chunk string Bloom filters (`with_bloom_fpr`/`with_bloom_bits`,
  *     meta.rs:91-110) → Parquet column Bloom filters
  *     (`parquet.bloom.filter.enabled#col`);
  *   - precomputed per-row inverse norms (vec.rs:365-368) → a persisted
  *     `inv_norm` double column, so cosine queries skip the per-row norm
  *     entirely (`cosineWithInvNorms`).
  *
  * At cluster scale the sort is what makes the difference: a 100 TB store
  * range-partitioned on the hot filter columns turns every selective query
  * into a scan of a handful of files instead of the full dataset —
  * partition pruning and row-group pruning compose.
  */
object VecIndex {

  /** Name of the persisted inverse-norm column. */
  val InvNormCol = "inv_norm"

  /** Name of the persisted LSH bucket (partition) column. */
  val LshBucketCol = "lsh_bucket"

  /** Name of the persisted IVF cluster (partition) column. */
  val IvfClusterCol = "cluster_id"

  /** Name of the persisted JL random-projection column. */
  val RpVecCol = "rp_vec"

  /** Name of the persisted PQ code column. */
  val PqCodeCol = "pq_code"

  /** Directory (underscore-prefixed → invisible to parquet scans of the
    * index) holding the build-time [[graft.core.IndexMeta]]. */
  private val MetaDir = "_graft_meta"

  final case class BuildOptions(
      /** Metadata columns to range-partition + sort by; drives both file
        * and row-group zonemap locality (reference chunk locality). */
      sortBy: Seq[String] = Nil,
      /** String columns to emit Parquet Bloom filters for (reference
        * per-chunk blooms, meta.rs:91-110). */
      bloomCols: Seq[String] = Nil,
      /** Expected distinct values per bloom column (sizes the filter —
        * the reference sizes via fpr/bits, meta.rs:93-110). */
      bloomNdv: Long = 100000L,
      /** Target bloom false-positive rate (`with_bloom_fpr`,
        * meta.rs:91-99) → `parquet.bloom.filter.fpp`; None keeps the
        * parquet default (0.01). */
      bloomFpp: Option[Double] = None,
      /** Explicit ceiling on each bloom filter's size in BYTES
        * (`with_bloom_bits`, meta.rs:93-110 — the reference floors at 64
        * bits; parquet-mr instead caps: the ndv/fpp-derived size is
        * clamped to this many bytes, rounded to a power of two) →
        * `parquet.bloom.filter.max.bytes`. None keeps the parquet
        * default (1 MiB). */
      bloomMaxBytes: Option[Int] = None,
      /** Bytes per Parquet row group ≈ reference chunk_size. Default 16 MB
        * keeps row groups fine-grained enough to prune well while staying
        * large enough for vectorized scans. */
      rowGroupBytes: Long = 16L * 1024 * 1024,
      /** Output files of a `sortBy`/`zorderBy` layout (the range-
        * partition count; default: the default parallelism), and the
        * file count [[compact]] coalesces a flat, unsorted layout to. A
        * [[build]] with neither sort ignores it: its file count follows
        * the input's partitioning. At cluster scale set ≈
        * dataset_bytes / 512 MB. */
      numFiles: Option[Int] = None,
      /** Z-order layout: sort by the Morton interleave of these two
        * NON-NEGATIVE integer columns instead of a lexicographic
        * `sortBy`, so row-group pruning bites on pushed filters over
        * EITHER column (reference-roadmap Z-ordering). Ignored when
        * `sortBy` is non-empty. */
      zorderBy: Option[(String, String)] = None,
      /** When set, persist an `nbits`-wide hyperplane LSH signature
        * (table 0, [[graft.ops.ann.lshSignature]]) and PARTITION the
        * parquet layout by it. An ANN query then filters on the bucket
        * value, which Catalyst turns into directory-level partition
        * pruning: the other `2^nbits - 1` buckets are never read at all —
        * the 100 TB path for similarity search. */
      lshBits: Option[Int] = None,
      /** When set, assign every row to its nearest centroid
        * ([[graft.ops.ann.ivfAssign]]) at BUILD time and PARTITION the
        * layout by `cluster_id`; centroids persist in the index metadata
        * so a query probes its `nprobe` nearest lists via directory-level
        * partition pruning — non-probed lists are never read (the point
        * of IVF; assignment never runs at query time). Mutually exclusive
        * with `lshBits`. */
      ivfCentroids: Option[Seq[(Int, Seq[Double])]] = None,
      /** When set, persist a `pq_code` column (per-subspace nearest-
        * codeword ids, [[graft.ops.quant.pqEncode]]) and the codebooks in
        * the index metadata. Composable with `ivfCentroids` — the
        * IVF-PQ layout: probing prunes partitions, ADC scoring reads m
        * small ints per row instead of the float vector. Encoding runs
        * once at build, never at query time. */
      pqCodebooks: Option[Seq[Seq[Seq[Double]]]] = None,
      /** When set, persist an `rp_vec` column = the embedding projected
        * to this many dimensions through the deterministic JL matrix
        * ([[graft.functions.vectors.rpMatrix]]), and store the matrix in
        * the index metadata. A query then projects ONCE driver-side and
        * scores the slim column ([[graft.ops.ann.rpSearch]]) — the
        * dIn/dOut× byte-and-FLOP shrink is pre-paid at build like
        * `inv_norm`, never recomputed per scan. */
      rpDims: Option[Int] = None)

  /** Reference `MetaBuildStats` (meta.rs:844-852): rows, dim, chunk count
    * (row groups here), files, wall time. */
  final case class BuildStats(
      rows: Long, dim: Int, rowGroups: Int, files: Int, buildMs: Long, path: String) {
    /** One-call titled metric/value table — the reference's
      * `format_build_stats` display (display.rs:196-218). */
    def formatTable: String = graft.core.StatsDisplay.table(
      "Graft Index Build Stats",
      Seq(
        "rows" -> rows.toString,
        "dimensions" -> dim.toString,
        "row_groups" -> rowGroups.toString,
        "files" -> files.toString,
        "build_total_ms" -> buildMs.toString,
        "path" -> path))
  }

  /** Write `df` as a search-ready index at `path` and return the opened
    * store + build stats (reference `MetaBuildStats`, meta.rs:844-852). */
  def build(
      df: DataFrame,
      path: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      opts: BuildOptions = BuildOptions()): (VecStore, BuildStats) = {
    val t0 = System.nanoTime()
    val (dim, n) = uniformDim(df, vecCol, s"cannot build index at '$path'")
    val meta = metaOf(opts, dim)
    val withLayout = withLayoutCols(df, meta, vecCol, dim)

    // Range-partition + sort so zonemaps are tight per row group AND per
    // file. repartitionByRange is a full shuffle — an index build is a
    // one-time cost amortized over every query (same trade as the
    // reference's build step). An IVF layout shuffles on the cluster id
    // instead, so each cluster directory is written by one task.
    val parts = opts.numFiles.getOrElse(df.sparkSession.sparkContext.defaultParallelism)
    val laidOut = (opts.sortBy, opts.zorderBy) match {
      case (Nil, Some((a, b))) =>
        val z = zorder.zValue(col(a), col(b))
        withLayout.repartitionByRange(parts, z).sortWithinPartitions(z)
      case (Nil, None) if opts.ivfCentroids.isDefined =>
        withLayout.repartition(col(IvfClusterCol))
      case (Nil, None) => withLayout
      case (cols, _) =>
        withLayout.repartitionByRange(parts, cols.map(col): _*)
          .sortWithinPartitions(cols.map(col): _*)
    }

    writeLayout(laidOut, SaveMode.Overwrite, path, meta, opts)
    writeMetaValues(df.sparkSession, path, meta)

    val store = load(df.sparkSession, path, idCol, vecCol)
    val (files, groups) = countRowGroups(df.sparkSession, path)
    (store, BuildStats(n, dim, groups, files, (System.nanoTime() - t0) / 1000000, path))
  }

  /** Append rows to an existing index (the reference's roadmap mutability
    * item, README.md:204-215, realized log-structured): derive the SAME
    * layout columns build() wrote — `inv_norm`, and the LSH bucket or IVF
    * assignment taken from the PERSISTED index metadata, never from
    * caller options, so appended rows land in the correct partition
    * directories — and write additional parquet files into the same
    * dataset. Existing files are never rewritten (append is segment-
    * additive); new files carry their own zonemaps, so row-group pruning
    * keeps working, though range locality across old/new segments decays
    * with churn — re-run [[build]] to compact/re-sort when it matters.
    * `sortBy`/bloom/row-group options apply to the NEW files only.
    * Dimension is validated against the stored vectors up front; an
    * index emptied by [[delete]] takes the batch's dimension, checked
    * against the one its persisted projection or centroids fix. */
  def append(
      df: DataFrame,
      path: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      opts: BuildOptions = BuildOptions()): (VecStore, BuildStats) = {
    val t0 = System.nanoTime()
    val spark = df.sparkSession
    val meta = readMeta(spark, path).getOrElse(IndexMeta())
    val existing = spark.read.parquet(path)

    val (dim, n) = uniformDim(df, vecCol, s"cannot append to '$path'")
    val storedDim = existing.select(size(col(vecCol)).as("d"))
      .where(col("d").isNotNull).limit(1).collect()
      .headOption.map(_.getInt(0)).orElse(metaDim(meta))
    storedDim.foreach(sd => require(dim == sd,
      s"graft: appended dimension $dim != stored dimension $sd at '$path'"))

    // Column order must match the existing data files for parquet append.
    val ordered = withLayoutCols(df, meta, vecCol, dim)
      .select(existing.columns.toIndexedSeq.map(col): _*)
    val sorted =
      if (opts.sortBy.nonEmpty) ordered.sortWithinPartitions(opts.sortBy.map(col): _*)
      else ordered
    writeLayout(sorted, SaveMode.Append, path, meta, opts)

    val store = load(spark, path, idCol, vecCol)
    val (files, groups) = countRowGroups(spark, path)
    (store, BuildStats(n, dim, groups, files, (System.nanoTime() - t0) / 1000000, path))
  }

  /** The one uniform dimension of `df`'s non-NULL vectors, and how many
    * there are. The reference validates every vector at ingest
    * (vec.rs:357-372); here one tiny agg, not a collect of the data. An
    * empty input (or every embedding NULL) aggregates min/max to NULL and
    * fails with a descriptive error naming `what`, not an NPE on getInt. */
  private def uniformDim(df: DataFrame, vecCol: String, what: String): (Int, Long) = {
    val dims = df.select(size(col(vecCol)).as("d")).where(col("d").isNotNull)
      .agg(min("d").as("lo"), max("d").as("hi"), count(lit(1)).as("n")).head()
    require(!dims.isNullAt(0),
      s"graft: $what: input has no rows with a non-NULL '$vecCol' vector")
    val (lo, hi) = (dims.getInt(0), dims.getInt(1))
    require(lo == hi, s"embedding dimension must be uniform, found [$lo, $hi]")
    (lo, dims.getLong(2))
  }

  /** The layout a build with `opts` over `dim`-wide vectors persists —
    * the one translation of [[BuildOptions]] into an [[IndexMeta]]. */
  private def metaOf(opts: BuildOptions, dim: Int): IndexMeta = {
    require(!(opts.lshBits.isDefined && opts.ivfCentroids.isDefined),
      "graft: lshBits and ivfCentroids are mutually exclusive partition layouts")
    // rpDims = 0 would "succeed" into a degenerate index (empty rp_vec
    // arrays, empty persisted matrix) whose first rpSearch dies on a
    // bare mat.head — keep the error at the build layer, descriptive
    opts.rpDims.foreach(d => require(d >= 1,
      s"graft: BuildOptions.rpDims must be >= 1, got $d"))
    IndexMeta(opts.lshBits, lshTable = 0, opts.ivfCentroids, opts.pqCodebooks,
      opts.rpDims.map(vectors.rpMatrix(dim, _)))
  }

  /** The vector dimension `meta` itself fixes: the projection's input
    * width or the centroid length. None for other layouts. */
  private def metaDim(meta: IndexMeta): Option[Int] =
    meta.rpMatrix.flatMap(_.headOption).map(_.length)
      .orElse(meta.ivfCentroids.flatMap(_.headOption).map(_._2.length))

  /** Add the derived columns `meta` describes — `inv_norm`, then `rp_vec`,
    * `pq_code`, and the `lsh_bucket` or `cluster_id` partition column —
    * the one place both [[build]] and [[append]] decide an index layout. */
  private def withLayoutCols(df: DataFrame, meta: IndexMeta, vecCol: String, dim: Int): DataFrame = {
    val withInv = df.withColumn(InvNormCol, vectors.invNorm(col(vecCol)))
    val withRp = meta.rpMatrix.fold(withInv)(mat =>
      withInv.withColumn(RpVecCol, vectors.projectWith(col(vecCol), mat)))
    val withPq = meta.pqCodebooks.fold(withRp)(cbs =>
      graft.ops.quant.pqEncode(withRp, cbs, vecCol))
    (meta.lshBits, meta.ivfCentroids) match {
      case (Some(bits), _) =>
        withPq.withColumn(LshBucketCol,
          graft.ops.ann.lshSignature(col(vecCol), t = meta.lshTable, nbits = bits, dim = dim))
      case (_, Some(cents)) => graft.ops.ann.ivfAssign(withPq, cents, vecCol)
      case _ => withPq
    }
  }

  /** The directory-partition column of a layout: the LSH bucket or the
    * IVF cluster id, none for a flat layout. */
  private def partitionCol(meta: IndexMeta): Option[String] =
    if (meta.lshBits.isDefined) Some(LshBucketCol)
    else if (meta.ivfCentroids.isDefined) Some(IvfClusterCol)
    else None

  /** The one index data writer: row-group size and bloom filters from
    * `opts`, partition directories from `meta`. Bloom options are per
    * column (enable/ndv/fpp) plus the global size ceiling — parquet-mr
    * keys `max.bytes` off the writer, not the column, so `bloomMaxBytes`
    * clamps every bloom column at once. */
  private def writeLayout(
      df: DataFrame, mode: SaveMode, path: String, meta: IndexMeta, opts: BuildOptions): Unit = {
    var writer = df.write.mode(mode).option("parquet.block.size", opts.rowGroupBytes.toString)
    opts.bloomCols.foreach { c =>
      writer = writer
        .option(s"parquet.bloom.filter.enabled#$c", "true")
        .option(s"parquet.bloom.filter.expected.ndv#$c", opts.bloomNdv.toString)
      opts.bloomFpp.foreach(f =>
        writer = writer.option(s"parquet.bloom.filter.fpp#$c", f.toString))
    }
    if (opts.bloomCols.nonEmpty)
      opts.bloomMaxBytes.foreach(b =>
        writer = writer.option("parquet.bloom.filter.max.bytes", b.toString))
    partitionCol(meta).foreach(c => writer = writer.partitionBy(c))
    writer.parquet(path)
  }

  /** Stats returned by [[delete]]: how surgical the rewrite was. */
  final case class DeleteStats(
      rowsDeleted: Long, filesRewritten: Int, filesKept: Int, deleteMs: Long)

  /** Delete rows matching `pred` — the reference's roadmap mutability
    * item (README.md:204-215) in its log-structured form: only data files
    * that actually CONTAIN matching rows are rewritten (minus the
    * matches); every other file is left byte-identical. On a layout built
    * with `sortBy`/`lshBits`/`ivfCentroids`, a selective predicate
    * touches a handful of files out of a 100 TB dataset — the same
    * pruning that serves queries bounds the rewrite.
    *
    * Mechanics: matching rows' `_metadata.file_path` gives the affected
    * file list (driver-sized: a list of paths, never rows); those files
    * are re-read with the index as `basePath` (so partition-directory
    * columns survive), filtered, appended as fresh segment files into the
    * same directories, and the originals are then removed. Rewrite
    * happens BEFORE removal, so a crash mid-delete leaves transient
    * duplicates rather than data loss (re-run the delete to converge —
    * it is idempotent for a pure predicate). SQL three-valued logic:
    * rows where `pred` is NULL are KEPT, exactly like `DELETE WHERE`.
    * Rewritten files get the default [[BuildOptions]] row-group size. */
  def delete(spark: SparkSession, path: String, pred: org.apache.spark.sql.Column): DeleteStats = {
    val t0 = System.nanoTime()
    val df = spark.read.parquet(path)
    val affected = df.filter(pred)
      .select(col("_metadata.file_path").as("f")).distinct()
      .collect().map(_.getString(0)).sorted
    val (filesTotal, _) = countRowGroups(spark, path)
    if (affected.isEmpty)
      return DeleteStats(0L, 0, filesTotal, (System.nanoTime() - t0) / 1000000)

    val sub = spark.read.option("basePath", path).parquet(affected.toIndexedSeq: _*)
    val deleted = sub.filter(pred).count()
    val kept = sub.filter(!coalesce(pred, lit(false)))
      .select(df.columns.toIndexedSeq.map(col): _*)
    val meta = readMeta(spark, path).getOrElse(IndexMeta())
    writeLayout(kept, SaveMode.Append, path, meta, BuildOptions())
    // A partitioned write of no rows creates no file, and removing the
    // originals would leave an index with no schema. Keep one empty file
    // with the data schema in an existing partition directory instead:
    // the emptied index loads, reads and appends like a flat one.
    partitionCol(meta).foreach { c =>
      if (affected.length == filesTotal && kept.isEmpty)
        kept.drop(c).coalesce(1).write.mode(SaveMode.Append)
          .parquet(new org.apache.hadoop.fs.Path(affected.head).getParent.toString)
    }

    val conf = spark.sessionState.newHadoopConf()
    affected.foreach { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      p.getFileSystem(conf).delete(p, false)
    }
    DeleteStats(deleted, affected.length, filesTotal - affected.length,
      (System.nanoTime() - t0) / 1000000)
  }

  /** Compact an index in place: rewrite the dataset with the original
    * partition layout but fresh, right-sized files — the maintenance pass
    * that undoes [[append]]/[[delete]] segment fragmentation (many small
    * files → file-open overhead and loose zonemaps). Partitioned layouts
    * rewrite one file per partition directory; flat layouts re-sort by
    * `opts.sortBy` (restoring zonemap locality) or coalesce to
    * `opts.numFiles`. Row-group size and bloom filters come from `opts`,
    * as in [[build]]. Staged write-then-swap: the new dataset lands in a
    * temp sibling and replaces the index with two filesystem renames, so
    * readers never observe a half-compacted directory. Index metadata is
    * carried over verbatim. */
  def compact(
      spark: SparkSession,
      path: String,
      opts: BuildOptions = BuildOptions(),
      vecCol: String = "embedding"): BuildStats = {
    val t0 = System.nanoTime()
    val persisted = readMeta(spark, path)
    val meta = persisted.getOrElse(IndexMeta())
    val df = spark.read.parquet(path)
    val parts = opts.numFiles.getOrElse(spark.sparkContext.defaultParallelism)
    val laidOut = partitionCol(meta) match {
      case Some(c) => df.repartition(col(c))
      case None if opts.sortBy.nonEmpty =>
        df.repartitionByRange(parts, opts.sortBy.map(col): _*)
          .sortWithinPartitions(opts.sortBy.map(col): _*)
      case None => df.coalesce(parts)
    }
    val tmp = path + ".compact-tmp"
    writeLayout(laidOut, SaveMode.Overwrite, tmp, meta, opts)
    persisted.foreach(writeMetaValues(spark, tmp, _))

    val conf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(path)
    val tmpP = new org.apache.hadoop.fs.Path(tmp)
    val fs = root.getFileSystem(conf)
    fs.delete(root, true)
    fs.rename(tmpP, root)

    val reopened = spark.read.parquet(path)
    val n = reopened.count()
    val dim = reopened.select(size(col(vecCol)).as("d"))
      .where(col("d").isNotNull).limit(1).collect()
      .headOption.map(_.getInt(0)).getOrElse(0)
    val (files, groups) = countRowGroups(spark, path)
    BuildStats(n, dim, groups, files, (System.nanoTime() - t0) / 1000000, path)
  }

  /** Footer-only count of (files, row groups) under an index directory —
    * the reference's `n_chunks` build stat (meta.rs:847). */
  private def countRowGroups(spark: SparkSession, path: String): (Int, Int) = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(conf)
    val it = fs.listFiles(root, true)
    var files = 0
    var groups = 0
    while (it.hasNext) {
      val f = it.next()
      val name = f.getPath.getName
      if (name.endsWith(".parquet") && !name.startsWith("_") &&
          !f.getPath.toString.contains("/" + MetaDir + "/")) {
        files += 1
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f.getPath, conf))
        try groups += reader.getFooter.getBlocks.asScala.size
        finally reader.close()
      }
    }
    (files, groups)
  }

  /** Persist the build-time metadata under `_graft_meta` (underscore dir:
    * parquet scans of the index never see it). */
  private def writeMetaValues(spark: SparkSession, path: String, meta: IndexMeta): Unit = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // Explicit Row + schema, NOT a case-class/tuple .toDF: implicit
    // product-encoder derivation for this nested shape needs runtime
    // reflection that fails inside REPL-generated classloaders (Scala
    // 2.13 spark-shell/console), and an index build must work there too.
    val schema = StructType(Seq(
      StructField("lsh_bits", IntegerType, nullable = true),
      StructField("lsh_table", IntegerType, nullable = false),
      StructField("centroids", ArrayType(StructType(Seq(
        StructField("_1", IntegerType, nullable = false),
        StructField("_2", ArrayType(DoubleType, containsNull = false), nullable = false))),
        containsNull = false), nullable = false),
      StructField("has_ivf", BooleanType, nullable = false),
      StructField("pq_codebooks", ArrayType(ArrayType(
        ArrayType(DoubleType, containsNull = false), containsNull = false),
        containsNull = false), nullable = false),
      StructField("has_pq", BooleanType, nullable = false),
      StructField("rp_matrix", ArrayType(ArrayType(DoubleType, containsNull = false),
        containsNull = false), nullable = false),
      StructField("has_rp", BooleanType, nullable = false)))
    val row = Row(
      meta.lshBits.orNull, meta.lshTable,
      meta.ivfCentroids.getOrElse(Seq.empty[(Int, Seq[Double])])
        .map { case (cid, c) => Row(cid, c) },
      meta.ivfCentroids.isDefined,
      meta.pqCodebooks.getOrElse(Seq.empty[Seq[Seq[Double]]]), meta.pqCodebooks.isDefined,
      meta.rpMatrix.getOrElse(Seq.empty[Seq[Double]]), meta.rpMatrix.isDefined)
    spark.createDataFrame(
        java.util.Collections.singletonList(row), schema)
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$path/$MetaDir")
  }

  private def readMeta(spark: SparkSession, path: String): Option[IndexMeta] = {
    val metaPath = new org.apache.hadoop.fs.Path(path, MetaDir)
    val fs = metaPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(metaPath)) return None
    val r = spark.read.parquet(metaPath.toString).head()
    val lsh = if (r.isNullAt(r.fieldIndex("lsh_bits"))) None
      else Some(r.getInt(r.fieldIndex("lsh_bits")))
    val cents =
      if (r.getBoolean(r.fieldIndex("has_ivf")))
        Some(r.getSeq[org.apache.spark.sql.Row](r.fieldIndex("centroids"))
          .map(cr => (cr.getInt(0), cr.getSeq[Double](1).toIndexedSeq: Seq[Double]))
          .toIndexedSeq: Seq[(Int, Seq[Double])])
      else None
    // Indexes written before the PQ/RP fields existed have no such
    // columns — treat them as PQ-/RP-less rather than failing the read.
    val pq =
      if (r.schema.fieldNames.contains("has_pq") && r.getBoolean(r.fieldIndex("has_pq")))
        Some(r.getSeq[scala.collection.Seq[scala.collection.Seq[Double]]](r.fieldIndex("pq_codebooks"))
          .map(cb => cb.map(cw => cw.toIndexedSeq: Seq[Double]).toIndexedSeq: Seq[Seq[Double]])
          .toIndexedSeq: Seq[Seq[Seq[Double]]])
      else None
    val rp =
      if (r.schema.fieldNames.contains("has_rp") && r.getBoolean(r.fieldIndex("has_rp")))
        Some(r.getSeq[scala.collection.Seq[Double]](r.fieldIndex("rp_matrix"))
          .map(row => row.toIndexedSeq: Seq[Double])
          .toIndexedSeq: Seq[Seq[Double]])
      else None
    Some(IndexMeta(lsh, r.getInt(r.fieldIndex("lsh_table")), cents, pq, rp))
  }

  /** Open a previously built index (physical layout + build metadata). */
  def load(
      spark: SparkSession,
      path: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): VecStore = {
    val df = spark.read.parquet(path)
    val inv = if (df.columns.contains(InvNormCol)) Some(InvNormCol) else None
    VecStore(df, idCol, vecCol, inv, readMeta(spark, path))
  }
}
