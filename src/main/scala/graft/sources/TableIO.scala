package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The layout contract of the published datasets (SURVEY §1.5, §4):
  *
  *  - Hive partitioning by version/mode/year/geography/state/centroid_type
  *    in that order (/root/reference/README.md:334-353; path builder
  *    data/src/utils/times.py:113-137);
  *  - partition keys are strings and must stay strings — `state='01'`
  *    keeps its zero (create_public_files.py:79; our session sets
  *    partitionColumnTypeInference.enabled=false);
  *  - zstd Parquet (params.yaml:157-160);
  *  - rows ordered by (origin_id, destination_id) inside every file so
  *    row-group min/max stats prune point lookups — the reference gets
  *    this with a single-threaded DuckDB writer (create_public_files.py:
  *    66-69); Spark gets it scalably with repartition-by-partition-keys +
  *    sortWithinPartitions (O3);
  *  - target file size via maxRecordsPerFile (the 475 MB FILE_SIZE_BYTES
  *    analogue, create_public_files.py:95).
  */
object TableIO {
  val PartitionKeys: Seq[String] =
    Seq("version", "mode", "year", "geography", "state", "centroid_type")

  /** Partition keys whose value is provably one constant for the whole
    * write: the optimized plan's top projection aliases them to a
    * literal (constant folding has already run, so `lit("car")` and any
    * expression folding to one value both qualify). Detection is
    * best-effort — a non-Project top or a computed key simply yields
    * the empty map and [[writePartitioned]] keeps its general path.
    */
  private[graft] def constantKeys(
      df: DataFrame,
      partitionKeys: Seq[String]): Map[String, org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, Literal}
    df.queryExecution.optimizedPlan match {
      case p: org.apache.spark.sql.catalyst.plans.logical.Project =>
        p.projectList.collect {
          case Alias(l: Literal, name) if partitionKeys.contains(name) =>
            name -> org.apache.spark.sql.graftbridge.SqlBridge.column(l)
        }.toMap
      case _ => Map.empty
    }
  }

  /** Ordered, partitioned, zstd write. `orderCols` become the row-group
    * pruning index of the table (O3). `bloomCols` (column → expected
    * NDV) add parquet bloom filters for SECONDARY-key point lookups:
    * row-group min/max only prunes on the sort prefix, so an
    * `destination_id = X` probe against an origin-sorted table reads
    * every row group without one (IoSpec measures the skip).
    *
    * SCALE SHAPE (the round-7 probe lesson): hashing on the partition
    * keys alone serializes each Hive partition into ONE task — key
    * cardinality is FIXED (6 keys, ~50 states), so growing the data 10×
    * grows every task 10× while the task count stays put: write
    * wall-clock scales super-linearly with data and is unbounded at
    * 100 TB. Instead the shuffle is an AQE REBALANCE on the keys:
    * small key groups coalesce (tiny fixtures still get one file per
    * partition), and a group larger than `targetSliceBytes` SPLITS into
    * map-range slices written by parallel tasks — task work is capped
    * by bytes, not by key cardinality, so wall-clock scales with
    * data/cores at any volume. Each slice sorts independently
    * (`sortWithinPartitions`), so every FILE keeps the (keys, order)
    * row order — the reference's own contract is per-file order
    * (create_public_files.py:66-69), which is what row-group min/max
    * pruning needs; a multi-file partition costs a footer check per
    * extra file on point probes, bounded by the bloom/stats skip.
    *
    * mode="append" accretes new ordered files into an existing tree (the
    * incremental-merge path — each appended file keeps its own row-group
    * order, and compact() folds the accretion when file counts matter).
    */
  def writePartitioned(
      df: DataFrame,
      baseDir: String,
      orderCols: Seq[String],
      partitionKeys: Seq[String] = PartitionKeys,
      maxRecordsPerFile: Long = 10000000L,
      bloomCols: Seq[(String, Long)] = Nil,
      mode: String = "overwrite",
      targetSliceBytes: Long = 64L << 20): Unit = {
    val spark = df.sparkSession
    // Shuffle fewer bytes (optimization guide §2.3): partition keys that
    // are provably CONSTANT for this write (a foldable literal in the
    // optimized plan — version/mode/year/geography/centroid_type are
    // literals in every publish; only state varies) are dropped BEFORE
    // the rebalance exchange and re-attached above the sort. At matrix
    // volume the constants were most of the shuffled width (6 short
    // strings per row vs 2 ids + 1 double), and the sort comparator paid
    // 4-5 equal-string compares per row pair before reaching a
    // distinguishing key. Row order, file bytes and the published tree
    // are unchanged: the re-attached literals sit above the sort, and
    // partitionBy reads them by name.
    val constKeys = constantKeys(df, partitionKeys)
    val varKeys = partitionKeys.filterNot(constKeys.contains)
    val slim = if (constKeys.isEmpty) df else df.drop(constKeys.keys.toSeq: _*)
    // AQE sizes rebalance slices by the session's advisory partition
    // bytes; scope the override to this action (single-threaded session
    // use — Verify/Bench run queries sequentially)
    val advisoryKey = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val prev = spark.conf.getOption(advisoryKey)
    spark.conf.set(advisoryKey, targetSliceBytes.toString)
    try {
      // an orderCol that IS a constant partition key was a no-op sort
      // before the slim path and must stay one (the column no longer
      // exists in `slim`)
      val effOrder = orderCols.filterNot(constKeys.contains)
      val shaped = slim.hint("rebalance", varKeys.map(col): _*)
        .sortWithinPartitions((varKeys ++ effOrder).map(col): _*)
      val toWrite = constKeys.foldLeft(shaped) {
          case (d, (k, c)) => d.withColumn(k, c)
        }
      // Write-stage plan evidence (round-12 verdict ask #1a): the
      // read-back query's plan can never show the REBALANCE exchange
      // this writer executes, so when the debug property is set, dump
      // the shaped write frame's formatted plan (slim Project →
      // RebalancePartitions → Sort → re-attached literals) before
      // writing. Pure plan capture — no extra job. The file is keyed by
      // the basename plus a hash of the full output path, so tables that
      // share a basename under different parents keep their own dumps.
      sys.props.get("graft.write.plan.dir")
        .orElse(sys.env.get("GRAFT_WRITE_PLAN_DIR")).foreach { pd =>
        val d = java.nio.file.Paths.get(pd)
        java.nio.file.Files.createDirectories(d)
        val base = new org.apache.hadoop.fs.Path(baseDir).getName
        val key = f"${baseDir.hashCode}%08x"
        java.nio.file.Files.write(d.resolve(s"write_${base}_$key.txt"),
          toWrite.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      val w = toWrite.write
        .mode(mode)
        .option("compression", "zstd")
        .option("parquet.compression.codec.zstd.level",
          sys.env.getOrElse("SPARK_GRAFT_ZSTD_LEVEL", "3"))
        .option("maxRecordsPerFile", maxRecordsPerFile)
      val wb = bloomCols.foldLeft(w) { case (acc, (c, ndv)) =>
        acc.option(s"parquet.bloom.filter.enabled#$c", "true")
          .option(s"parquet.bloom.filter.expected.ndv#$c", ndv.toString)
      }
      wb.partitionBy(partitionKeys: _*).parquet(baseDir)
    } finally prev match {
      case Some(v) => spark.conf.set(advisoryKey, v)
      case None => spark.conf.unset(advisoryKey)
    }
    // a write under a registered MV base closes that view's freshness
    // window without user action (round-5 stretch ask)
    graft.plans.MvCatalog.invalidateByPath(baseDir)
  }

  /** Dual-destination publish (the reference writes each dataset to two
    * buckets — public and data, utils/times.py:100-107): ONE compute
    * pass produces the primary tree, and the mirror is a FILE COPY of
    * the committed bytes — never a second shuffle/sort/zstd encode, so
    * the mirror is byte-identical by construction and the Spark work is
    * exactly [[writePartitioned]]'s. The copy itself runs on a bounded
    * thread pool over the committed file list (pure FS I/O, no Spark
    * job; at cluster scale against object stores the same loop becomes
    * a distcp-style map-only job over this file list — the COMPUTE is
    * still not repeated, which is the contract that matters).
    */
  def writeMirrored(
      df: DataFrame,
      primaryDir: String,
      mirrorDir: String,
      orderCols: Seq[String],
      partitionKeys: Seq[String] = PartitionKeys,
      maxRecordsPerFile: Long = 10000000L,
      bloomCols: Seq[(String, Long)] = Nil,
      targetSliceBytes: Long = 64L << 20): Unit = {
    import org.apache.hadoop.fs.{FileUtil, Path}
    writePartitioned(df, primaryDir, orderCols, partitionKeys,
      maxRecordsPerFile, bloomCols, targetSliceBytes = targetSliceBytes)
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    val src = new Path(primaryDir)
    val srcFs = src.getFileSystem(conf)
    val dst = new Path(mirrorDir)
    val dstFs = dst.getFileSystem(conf)
    dstFs.delete(dst, true)
    val files = {
      val it = srcFs.listFiles(src, true)
      val b = Seq.newBuilder[Path]
      while (it.hasNext) { val f = it.next(); if (f.isFile) b += f.getPath }
      b.result()
    }
    val basePrefix = src.toUri.getPath
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(16, files.size.max(1)))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val copies = files.map { f =>
        Future {
          val rel = f.toUri.getPath.stripPrefix(basePrefix).stripPrefix("/")
          val to = new Path(dst, rel)
          dstFs.mkdirs(to.getParent)
          FileUtil.copy(srcFs, f, dstFs, to, false, true, conf)
        }
      }
      Await.result(Future.sequence(copies), Duration.Inf)
    } finally pool.shutdown()
    graft.plans.MvCatalog.invalidateByPath(mirrorDir)
  }

  /** Read a published tree back; partition columns are recovered from the
    * directory structure as strings (S2/S3).
    */
  def readPartitioned(
      spark: SparkSession,
      baseDir: String,
      schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    // enforce the string-typed partition-key contract even on sessions not
    // built by GraftSession
    spark.conf.set("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
    val r = spark.read.option("basePath", baseDir)
    // a registry schema keeps empty trees readable (a job with zero
    // missing pairs writes no files — consumers must not break on it)
    schema.fold(r)(r.schema).parquet(baseDir)
  }

  /** The publish projection (create_public_files.py:70-98): adds the
    * chunk_id recovered from the physical file name (F1) — the one column
    * whose value exists only at publish time.
    *
    * Parsed with substring_index instead of a regex (r13, guide §4
    * expression choice): the committer names files
    * `part-<seq>-<uuid>...`, so the digits between the (only) "part-"
    * and the next "-" are exactly what `regexp_extract(name,
    * "part-(\\d+)", 1)` returned — same values, but byte-level
    * UTF8String ops instead of a java.util.regex matcher + String
    * conversion per row. Measured on the 15 M-row q36 read-back: the
    * regex made the consumer 2.2 s vs 1.0 s without it; substring_index
    * removes most of that gap. Only the file-name component is parsed
    * (the scan's `_metadata.file_name`, so `df` must read files
    * directly, as [[readPartitioned]] does), and a name without "part-"
    * (a foreign or renamed file) yields "", the regex's no-match value,
    * never a fragment of the path. Cutting the name out of
    * `input_file_name()` instead made the same read-back 5.7 s against
    * 2.7 s (median of four warm runs each, local[4]).
    */
  def withChunkId(df: DataFrame): DataFrame = {
    val name = col("_metadata.file_name")
    df.withColumn("chunk_id",
      when(name.contains("part-"),
        substring_index(substring_index(name, "part-", -1), "-", 1))
        .otherwise(lit("")))
  }

  /** Small-file compaction — the operational hazard of any long-lived
    * partitioned tree (incremental publishes accrete files; at 100 TB the
    * NameNode/listing cost and per-file open overhead dominate reads).
    * Rewrites the tree through the same ordered-publish path (so the
    * row-group locality contract survives) into a temp dir, then swaps.
    * Returns (files before, files after).
    */
  def compact(
      spark: SparkSession,
      baseDir: String,
      orderCols: Seq[String],
      partitionKeys: Seq[String] = PartitionKeys,
      maxRecordsPerFile: Long = 10000000L): (Long, Long) = {
    import org.apache.hadoop.fs.Path
    val base = new Path(baseDir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def nFiles(p: Path): Long = {
      val it = fs.listFiles(p, true)
      var n = 0L
      while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
      n
    }
    val before = nFiles(base)
    val tmp = new Path(baseDir + ".compact-tmp")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    // materialize fully before touching the source tree
    writePartitioned(readPartitioned(spark, baseDir), tmp.toString,
      orderCols, partitionKeys, maxRecordsPerFile)
    fs.delete(base, true)
    fs.rename(tmp, base)
    (before, nFiles(base))
  }

  /** S8's deterministic public file names
    * (create_public_files.py:94 `FILENAME_PATTERN '{filename}-'` →
    * `times-0.parquet, times-1.parquet, ...` per partition dir). Spark's
    * committer owns in-flight names, so determinism is a post-write
    * rename pass (SURVEY §7.3 — cheaper and safer than a custom
    * committer): within each partition directory, part-files keep their
    * write order (part-NNNNN ascending = the sortWithinPartitions
    * order) and become `<prefix>-<seq>.parquet`. Idempotent.
    */
  def renameWithPattern(spark: SparkSession, baseDir: String, prefix: String): Long = {
    import org.apache.hadoop.fs.Path
    val base = new Path(baseDir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    var renamed = 0L
    def walk(dir: Path): Unit = {
      // crash recovery: a previously interrupted pass may have left data
      // in phase-1 temp names (dot-files, invisible to readers) —
      // complete their phase-2 rename before doing anything else
      fs.listStatus(dir).filter(e => !e.isDirectory &&
          e.getPath.getName.startsWith(".rename-tmp-")).foreach { e =>
        val dst = new Path(dir, e.getPath.getName.stripPrefix(".rename-tmp-"))
        if (fs.exists(dst)) fs.delete(dst, false)
        fs.rename(e.getPath, dst)
      }
      val entries = fs.listStatus(dir)
      val (dirs, files) = entries.partition(_.isDirectory)
      dirs.foreach(d => walk(d.getPath))
      val parts = files.map(_.getPath)
        // non-dot parquet files only (committer markers etc. are ignored)
        .filter(p => p.getName.endsWith(".parquet") && !p.getName.startsWith("."))
        .sortBy(_.getName)
      // zero-padded seq keeps lexicographic == write order, and the
      // two-phase rename (via temp names) cannot collide with leftovers
      // of a previously interrupted pass
      val targets = parts.zipWithIndex.map { case (p, i) =>
        p -> f"$prefix-$i%05d.parquet"
      }.filter { case (p, want) => p.getName != want }
      val tmps = targets.map { case (p, want) =>
        val tmp = new Path(p.getParent, s".rename-tmp-$want")
        fs.rename(p, tmp)
        (tmp, new Path(p.getParent, want))
      }
      tmps.foreach { case (tmp, dst) =>
        if (fs.exists(dst)) fs.delete(dst, false)
        fs.rename(tmp, dst)
        renamed += 1
      }
    }
    walk(base)
    renamed
  }

  /** F7: content MD5 of an input file (the reference records input-file
    * MD5s in the metadata audit row — data/src/utils/utils.py:46-52,
    * calculate_times.py:100-103). Streams through Hadoop FS so it works
    * for any supported filesystem, not just local paths.
    */
  def fileMd5(spark: SparkSession, path: String): String = {
    import org.apache.hadoop.fs.Path
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val md = java.security.MessageDigest.getInstance("MD5")
    val in = fs.open(p)
    try {
      val buf = new Array[Byte](1 << 16)
      var n = in.read(buf)
      while (n >= 0) {
        if (n > 0) md.update(buf, 0, n)
        n = in.read(buf)
      }
    } finally in.close()
    md.digest().map("%02x".format(_)).mkString
  }

  /** S11: object-store listing → per-directory rollups (the reference
    * walks paginated list_objects_v2 into a nested dict with per-dir
    * total_size / max_last_modified — /root/reference/data/src/utils/
    * cloudflare.py:35-121). Here the listing becomes a DataFrame and the
    * hierarchy rollup is one explode + groupBy: each file contributes a
    * row per ancestor directory. Listing is driver-side (metadata scale);
    * aggregation is distributed.
    */
  def treeStats(spark: SparkSession, baseDir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val path = new Path(baseDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
    val it = fs.listFiles(path, true)
    while (it.hasNext) {
      val f = it.next()
      val rel = f.getPath.toString.stripPrefix(fs.makeQualified(path).toString).stripPrefix("/")
      files += ((rel, f.getLen, f.getModificationTime))
    }
    val spark2 = spark
    import spark2.implicits._
    files.toSeq.toDF("rel_path", "size", "mtime")
      .withColumn("prefix", explode(expr(
        // every ancestor dir of the file, '' = root
        """transform(sequence(0, size(split(rel_path, '/')) - 1),
          |  i -> array_join(slice(split(rel_path, '/'), 1, i), '/'))""".stripMargin)))
      .groupBy(col("prefix"))
      .agg(
        sum(col("size")).as("total_size"),
        count(lit(1)).as("n_files"),
        max(col("mtime")).as("max_last_modified"))
  }

  /** The consumer-side index artifact: per-partition file and row counts
    * for a published tree, as one JSON file next to the data. This is the
    * engine-side equivalent of the reference's site index — the bucket
    * tree (filename/size per file, rollups per directory) that
    * create_public_site.py:118-146 renders and the map client reads to
    * locate parquet files before range-requesting row groups
    * (site/assets/js/map.js:583-614). Row counts come from ONE
    * distributed pass (group by input file); only the metadata-scale
    * listing is driver-side.
    */
  def writeConsumerIndex(spark: SparkSession, baseDir: String, indexFile: String): Unit = {
    import org.apache.hadoop.fs.Path
    val base = new Path(baseDir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // URI path normalization: input_file_name() returns an encoded URI
    // (file:///...), the FS listing returns Path form (file:/...) — the
    // decoded URI path is the common denominator
    val basePath = fs.makeQualified(base).toUri.getPath
    def rel(uriPath: String): String = uriPath.stripPrefix(basePath).stripPrefix("/")

    // file size/mtime: driver-side listing (metadata scale, like treeStats)
    val meta = scala.collection.mutable.Map.empty[String, (Long, Long)]
    val it = fs.listFiles(base, true)
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet"))
        meta(rel(f.getPath.toUri.getPath)) = (f.getLen, f.getModificationTime)
    }

    // row counts per file: one distributed aggregation over the tree
    val counts = readPartitioned(spark, baseDir)
      .groupBy(input_file_name().as("file"))
      .agg(count(lit(1)).as("rows"))
      .collect()
      .map(r => rel(new java.net.URI(r.getString(0)).getPath) -> r.getLong(1))
      .toMap

    def esc(s: String): String =
      s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      }

    // per-file entries, grouped into per-partition-directory rollups
    val files = meta.keys.toSeq.sorted
    val byDir = files.groupBy(f => f.split('/').dropRight(1).mkString("/"))
    val partitionsJson = byDir.toSeq.sortBy(_._1).map { case (dir, fl) =>
      val dirRows = fl.map(f => counts.getOrElse(f, 0L)).sum
      val dirSize = fl.map(f => meta(f)._1).sum
      val filesJson = fl.sorted.map { f =>
        val (size, mtime) = meta(f)
        s"""{"filename":"${esc(f.split('/').last)}","rows":${counts.getOrElse(f, 0L)},"size":$size,"last_modified":$mtime}"""
      }.mkString(",")
      s"""{"partition":"${esc(dir)}","n_files":${fl.size},"rows":$dirRows,"total_size":$dirSize,"files":[$filesJson]}"""
    }.mkString(",")
    val totalRows = counts.values.sum
    val json =
      s"""{"base":"${esc(baseDir)}","n_files":${files.size},"rows":$totalRows,"partitions":[$partitionsJson]}"""

    val out = new Path(indexFile)
    Option(out.getParent).foreach(fs.mkdirs(_))
    val os = fs.create(out, true)
    try os.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally os.close()
  }

  /** S10: the "pointer database" — views over the published tree
    * (/root/reference/data/src/utils/duckdb.py:40-84). Spark's catalog
    * does partition pruning through the view automatically (the DuckDB
    * version enumerates files and cannot prune — SURVEY §3.3).
    */
  def registerView(spark: SparkSession, name: String, baseDir: String): Unit = {
    readPartitioned(spark, baseDir).createOrReplaceTempView(name)
  }
}
