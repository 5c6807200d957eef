package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Minimal transactional table format — the lakehouse commit protocol in
  * its smallest honest form (the pattern under Delta/Iceberg, rebuilt
  * from first principles on plain Hadoop FS semantics):
  *
  *  - data files land under `data/<uuid>/` (never mutated, never
  *    renamed — writers produce, only [[vacuum]] deletes);
  *  - a snapshot is a manifest `_log/v<n>` listing its data directories,
  *    one per line;
  *  - COMMIT = create-exclusive of the next manifest version. Hadoop
  *    `create(path, overwrite=false)` is atomic, so two racing writers
  *    cannot both win a version: the loser re-reads the log and retries
  *    on top of the winner (optimistic concurrency, serialized history);
  *  - READERS resolve one manifest and never see partial state: a
  *    snapshot's files are immutable and vacuum only removes
  *    directories no retained manifest references.
  *
  * Time travel is therefore free — `read(dir, Some(v))` resolves an old
  * manifest. At 100 TB the log stays KB-sized (it lists directories,
  * not files) and commits are one small atomic write regardless of data
  * volume.
  */
object TxLog {

  /** Per-column batch statistics carried in the manifest. `kind` is
    * `l` (integral), `d` (floating) or `s` (UTF-8 string); min/max are
    * the decoded bounds over every file in the batch. Harvested from
    * parquet FOOTERS at commit time — the writer already produced the
    * row-group statistics, so collecting them costs one footer read per
    * file, never a data scan (the Iceberg/Delta manifest-stats pattern,
    * which is what makes planning-time file skipping free at 100 TB).
    */
  final case class ColStats(kind: String, min: String, max: String)

  /** Reserved stats key carrying the batch's exact ROW COUNT (footer
    * block counts summed — free at commit, no data scan). Prefixed with
    * a control char no practical column name contains, so it can never
    * shadow a real column's min/max in the pruning path. What it buys:
    * [[statsAgg]] answers `count(*) / min / max` straight from the
    * manifest — a metadata-only query that touches ZERO data files,
    * the Delta/Iceberg `SELECT count(*)` fast path that matters when
    * "the table" is 100 TB and the answer is already in the log.
    */
  private val RowsKey = "\u0001rows"

  /** Reserved per-column stats key for the batch's exact NULL count
    * (parquet footer `num_nulls`, summed across chunks). Known even for
    * columns whose min/max are unusable (an all-null column has no
    * bounds but a definite null count), so [[statsAgg]] can answer
    * `count(col)` / null-fraction questions metadata-only. Chunks that
    * don't record null counts drop the key (conservative decline, never
    * a fabricated zero).
    */
  private def nullsKey(col: String) = "\u0001n:" + col

  /** Reserved per-column stats key for the batch's KMV distinct-count
    * sketch (opt-in, [[commit]]'s `collectSketches`): the k smallest
    * distinct engine-portable u32 hashes of the column, sorted,
    * big-endian-packed and base64'd into the `min` slot (k in `max`).
    * KMV merges EXACTLY: the k smallest of a union of per-batch
    * k-smallest sets IS the global k-smallest set, so
    * [[approxDistinct]] answers table-level NDV from the manifest
    * alone, at any table size, with the same estimate a full scan
    * through [[graft.plans.KmvSketchAgg]] would produce.
    */
  private def sketchKey(col: String) = "\u0001kmv:" + col

  /** Reserved per-column stats key for the batch's equi-width HISTOGRAM
    * (opt-in, [[commit]]'s `collectHistograms`): exact integer bucket
    * counts over the batch's own [min, max], packed as
    * "lo,hi,c0,...,c{nb-1}" in the `min` slot (bucket count in `max`).
    * Bucket membership is pure integer arithmetic —
    * ((x − lo) · nb) div (hi − lo + 1) — so any engine replays it
    * bit-for-bit, and [[quantileBounds]] can answer quantile questions
    * METADATA-ONLY with guaranteed enclosing bounds (exact counts +
    * exact bucket value ranges ⇒ interval arithmetic on ranks, never an
    * estimate passed off as truth).
    */
  private def histKey(col: String) = "\u0001hist:" + col

  /** Reserved stats key for a batch's DELETION VECTOR ([[deleteVectored]]
    * merge-on-read deletes): `min` holds the table-relative path of a
    * parquet file of (path, row_idx) tombstones, `max` the tombstone
    * count. A batch line carrying this key means "these files, MINUS
    * these rows" -- every read path applies the vector with an
    * anti-join; metadata answers that assume stats describe the batch's
    * LIVE rows ([[statsAgg]], the TxAgg rule, [[approxDistinct]])
    * decline while any vector is present ([[purgeDeletes]] clears them).
    */
  /** Reserved BLOOM-map key for a text column's TOKEN bloom (opt-in,
    * [[commit]]'s `collectTokenBlooms`): a Bloom filter over the
    * batch's distinct whitespace tokens of the column, stored beside
    * the per-value blooms. What min/max and value blooms cannot do —
    * skip batches for a CONTAINS-TERM probe ([[readWhereToken]]) — the
    * token bloom does: the Elasticsearch-shaped "which files mention
    * this term" question answered from the manifest, no file I/O.
    */
  private def tokKey(col: String) = "\u0001tok:" + col

  private val DvKey = "\u0001dv"

  /** (dv path relative to the table dir, tombstone count) when the
    * line's batch carries a deletion vector.
    */
  private[graft] def dvOf(stats: Map[String, ColStats]): Option[(String, Long)] =
    stats.get(DvKey).map(st => (st.min, st.max.toLong))

  /** FS resolved PER TABLE PATH, not the default FS: a table living on
    * another scheme (s3a://, or the spec's chaos://) must commit and
    * read through ITS filesystem — `FileSystem.get(conf)` would
    * silently aim every metadata operation at the default FS.
    */
  private def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def logDir(tableDir: String) = new Path(s"$tableDir/_log")

  private def versionOf(p: Path): Option[Long] = {
    val n = p.getName
    if (n.startsWith("v")) n.drop(1).toLongOption else None
  }

  private def hintPath(tableDir: String) = new Path(logDir(tableDir), "_latest")

  /** Latest committed version, 0 when the table does not exist yet.
    *
    * O(1) at any history length: commits leave a best-effort `_latest`
    * hint next to the manifests; resolving reads the hint, verifies its
    * manifest exists, and probes FORWARD over the dense version line
    * until the first miss (a hint gone stale by k commits costs k + 1
    * existence checks, and the hint is rewritten every commit, so k is
    * the concurrent-writer count, not the history length). Any missing/
    * corrupt/unverifiable hint falls back to the one directory listing
    * a hint-less table always needed. SAFETY does not rest on the hint:
    * version claims are create-EXCLUSIVE, so a stale answer can only
    * cost a commit retry, never a wrong snapshot — but at object-store
    * scale, "LIST a 100k-entry prefix per metadata op" vs "one GET +
    * two HEADs" is the difference between a table format and a
    * scalability bug.
    */
  def latestVersion(spark: SparkSession, tableDir: String): Long = {
    val f = fs(spark, tableDir)
    val hinted =
      try {
        val in = f.open(hintPath(tableDir))
        val s0 = try scala.io.Source.fromInputStream(in).mkString.trim
          finally in.close()
        s0.toLongOption.getOrElse(-1L)
      } catch { case _: java.io.IOException => -1L }
    if (hinted > 0 && f.exists(new Path(logDir(tableDir), s"v$hinted"))) {
      var v = hinted
      while (f.exists(new Path(logDir(tableDir), s"v${v + 1}"))) v += 1
      v
    } else if (!f.exists(logDir(tableDir))) 0L
    else f.listStatus(logDir(tableDir))
      .flatMap(s => versionOf(s.getPath)).sorted.lastOption.getOrElse(0L)
  }

  private def readManifest(spark: SparkSession, tableDir: String, v: Long): Seq[String] =
    readManifestF(fs(spark, tableDir), tableDir, v)

  private def readManifestF(f: FileSystem, tableDir: String, v: Long): Seq[String] = {
    val in = f.open(new Path(logDir(tableDir), s"v$v"))
    try scala.io.Source.fromInputStream(in).getLines().filter(_.nonEmpty).toList
    finally in.close()
  }

  // ---- manifest line encoding: "<dir>" or "<dir>\t<stats>" where stats
  // is colkindminmax entries joined by , values
  // URL-encoded so arbitrary string bounds can't smuggle separators or
  // newlines into the manifest. A line without the tab is a legacy /
  // stats-less batch — readable forever, just never pruned.
  private[sources] def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
  private[sources] def dec(s: String) = java.net.URLDecoder.decode(s, "UTF-8")

  private val FieldSep = "\u0001"
  private val EntrySep = "\u0002"

  // A third tab field (since r7) carries the batch's Spark schema JSON:
  // schema-merged reads then union schemas straight from the manifest —
  // no footer sweep over the table, which is what keeps mergeSchema
  // planning O(log) instead of O(files) at 100 TB. Lines without it
  // (legacy) fall back to footer inference. A fourth field (opt-in)
  // carries per-column Bloom filters (base64) for planning-time POINT
  // skipping on keys whose per-batch ranges overlap.
  private def encodeLine(dir: String, stats: Map[String, ColStats],
      schemaJson: Option[String],
      bloomsB64: Map[String, String] = Map.empty): String = {
    val statsStr = stats.toSeq.sortBy(_._1).map { case (c, st) =>
      Seq(enc(c), st.kind, enc(st.min), enc(st.max)).mkString(FieldSep)
    }.mkString(EntrySep)
    val bloomStr = bloomsB64.toSeq.sortBy(_._1).map { case (c, b) =>
      Seq(enc(c), b).mkString(FieldSep)
    }.mkString(EntrySep)
    schemaJson match {
      case Some(sj) if bloomsB64.nonEmpty =>
        s"$dir\t$statsStr\t${enc(sj)}\t$bloomStr"
      case Some(sj) => s"$dir\t$statsStr\t${enc(sj)}"
      case None if stats.nonEmpty => s"$dir\t$statsStr"
      case None => dir
    }
  }

  private def parseLine(line: String): (String, Map[String, ColStats]) = {
    val (d, st, _) = parseLineFull(line); (d, st)
  }

  private def parseLineFull(line: String): (String, Map[String, ColStats],
      Option[org.apache.spark.sql.types.StructType]) = {
    val parts = line.split('\t')
    val stats = parts.drop(1).take(1).flatMap(_.split(EntrySep)).flatMap { e =>
      e.split(FieldSep) match {
        case Array(c, k, mn, mx) => Some(dec(c) -> ColStats(k, dec(mn), dec(mx)))
        case _ => None
      }
    }.toMap
    val schema = parts.drop(2).headOption.flatMap(sj =>
      scala.util.Try(org.apache.spark.sql.types.DataType.fromJson(dec(sj))
        .asInstanceOf[org.apache.spark.sql.types.StructType]).toOption)
    (parts(0), stats, schema)
  }

  /** Bloom membership probe for an arbitrary bound value — integral
    * and string types dispatch to their typed checks; any OTHER type
    * (a decimal, a date, …) returns true (conservative keep): the
    * filter was built via `stat.bloomFilter`, which only ever ingests
    * long/string items, so an untyped probe could THROW mid-planning
    * where the contract is "skipping is best-effort, never an error".
    */
  private def bloomMayContain(
      bf: org.apache.spark.util.sketch.BloomFilter, v: Any): Boolean = v match {
    case i: Int => bf.mightContainLong(i.toLong)
    case l: Long => bf.mightContainLong(l)
    case s: String => bf.mightContainString(s)
    case other => scala.util.Try(bf.mightContain(other)).getOrElse(true)
  }

  /** Per-batch bloom filters from the manifest's 4th field (col →
    * deserialized filter). Absent/corrupt entries simply disable bloom
    * skipping for that batch — never a wrong prune.
    */
  private def parseBlooms(
      line: String): Map[String, org.apache.spark.util.sketch.BloomFilter] = {
    val parts = line.split('\t')
    parts.drop(3).headOption.toSeq
      .flatMap(_.split(EntrySep)).flatMap { e =>
        e.split(FieldSep) match {
          case Array(c, b64) => scala.util.Try {
            val bytes = java.util.Base64.getDecoder.decode(b64)
            dec(c) -> org.apache.spark.util.sketch.BloomFilter
              .readFrom(new java.io.ByteArrayInputStream(bytes))
          }.toOption
          case _ => None
        }
      }.toMap
  }

  /** Parsed manifest of a committed version: (batch dir, stats). */
  def manifest(spark: SparkSession, tableDir: String,
      asOf: Option[Long] = None): Seq[(String, Map[String, ColStats])] = {
    val v = asOf.getOrElse(latestVersion(spark, tableDir))
    require(v > 0, s"no committed version in $tableDir")
    readManifest(spark, tableDir, v).map(parseLine)
  }

  /** Min/max per column for one written batch, read from the parquet
    * footers (no data scan). A column appears only when EVERY file in
    * the batch carries usable non-null statistics for it — missing or
    * exotic-typed stats drop the column, which disables skipping for it
    * but can never prune a batch that actually holds matching rows.
    *
    * Physical INT32/INT64 is trusted only after inspecting the LOGICAL
    * annotation: Spark writes decimal(≤18) as annotated ints whose
    * footer stats are UNSCALED (500 meaning 5.00 at scale 2), and
    * DATE/TIMESTAMP/unsigned ints as annotated ints in epoch units —
    * comparing any of those raw against user-unit query bounds would
    * prune batches that hold matching rows. Decimals are rescaled here,
    * DATE decodes to the ISO string java.sql.Date/LocalDate.toString
    * produce (fixed-width for years 0–9999 ⇒ byte order = date order),
    * and every annotation not explicitly handled drops the column
    * (conservative keep).
    */
  private def footerStats(spark: SparkSession, batchDir: Path): Map[String, ColStats] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import LogicalTypeAnnotation.{DateLogicalTypeAnnotation, DecimalLogicalTypeAnnotation, IntLogicalTypeAnnotation}
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    val f = batchDir.getFileSystem(conf)
    val files = f.listStatus(batchDir).map(_.getPath)
      .filter(_.getName.endsWith(".parquet"))
    var merged = Map.empty[String, ColStats]
    var dropped = Set.empty[String]
    var rows = 0L
    var nulls = Map.empty[String, Long]
    var nullsUnknown = Set.empty[String]
    files.foreach { p =>
      val rd = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
      try rd.getFooter.getBlocks.asScala.foreach { b =>
        rows += b.getRowCount
        b.getColumns.asScala.foreach { c =>
          val name = c.getPath.toDotString
          // exact null counts are independent of min/max usability (an
          // all-null column has no bounds but a definite null count);
          // any chunk without the count poisons the column to unknown
          val st0 = c.getStatistics
          if (st0 == null || !st0.isNumNullsSet || st0.getNumNulls < 0)
            nullsUnknown += name
          else nulls += name -> (nulls.getOrElse(name, 0L) + st0.getNumNulls)
          val pt = c.getPrimitiveType
          val ann = pt.getLogicalTypeAnnotation
          // decode: raw footer value -> user-unit bound string, applied
          // to both min and max below. None = kind unusable.
          val kindDecode: Option[(String, Any => Option[String])] =
            pt.getPrimitiveTypeName match {
              case INT32 | INT64 => ann match {
                case null => Some(("l", v => Some(v.toString)))
                case i: IntLogicalTypeAnnotation if i.isSigned =>
                  Some(("l", v => Some(v.toString)))
                case d: DecimalLogicalTypeAnnotation =>
                  Some(("d", v => Some(
                    BigDecimal(BigInt(v.toString), d.getScale).toString)))
                case _: DateLogicalTypeAnnotation =>
                  Some(("s", v => {
                    val day = java.time.LocalDate.ofEpochDay(v.toString.toLong)
                    // outside 0000-9999 the ISO form gains a sign/width
                    // and byte order breaks — drop rather than mis-prune
                    if (day.getYear >= 0 && day.getYear <= 9999)
                      Some(day.toString)
                    else None
                  }))
                case _ => None // TIMESTAMP/TIME/unsigned: units unknowable here
              }
              case FLOAT | DOUBLE => Some(("d", v => Some(v.toString)))
              case BINARY if ann
                  .isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
                Some(("s", v => Some(
                  v.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8)))
              case _ => None
            }
          val st = c.getStatistics
          kindDecode match {
            case Some((k, decode)) if st != null && !st.isEmpty && st.hasNonNullValue =>
              val bounds = for {
                mn <- decode(st.genericGetMin)
                mx <- decode(st.genericGetMax)
                // non-finite numeric bounds (NaN/Infinity) can't order —
                // drop the column rather than risk a wrong prune
                if k == "s" ||
                  (scala.util.Try(BigDecimal(mn)).isSuccess &&
                    scala.util.Try(BigDecimal(mx)).isSuccess)
              } yield (mn, mx)
              bounds match {
                case None => dropped += name; merged -= name
                case Some((mn, mx)) => merged.get(name) match {
                  case None if !dropped(name) =>
                    merged += name -> ColStats(k, mn, mx)
                  case Some(prev) =>
                    merged += name -> ColStats(k,
                      if (lte(k, mn, prev.min)) mn else prev.min,
                      if (lte(k, prev.max, mx)) mx else prev.max)
                  case _ => ()
                }
              }
            case Some(_) if st != null && st.isNumNullsSet &&
                st.getNumNulls == b.getRowCount =>
              // ALL-NULL chunk: no min/max in the footer, but it holds
              // zero values — skipping it keeps the batch bounds EXACT
              // (nulls never order). Dropping instead would poison every
              // sparse column of a wide table the moment one file's
              // chunk happens to be all null.
              ()
            case _ =>
              dropped += name
              merged -= name
          }
        }
      } finally rd.close()
    }
    // exact batch row count + per-column null counts ride along under
    // reserved keys — added AFTER the per-column merge so the column
    // min/max logic never sees them
    merged ++
      nulls.collect { case (c, n) if !nullsUnknown(c) =>
        nullsKey(c) -> ColStats("l", n.toString, n.toString)
      } +
      (RowsKey -> ColStats("l", rows.toString, rows.toString))
  }

  /** Unsigned UTF-8 byte order — parquet's string min/max order AND
    * Spark's UTF8String comparison. Java's String <= compares UTF-16
    * code units, which ranks supplementary-plane characters (surrogate
    * pairs, 0xD800-0xDFFF units) BELOW U+E000-U+FFFF while UTF-8 bytes
    * rank them above — a prune decided in the wrong order can drop a
    * batch that holds matching rows.
    */
  private[sources] def utf8Lte(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d < 0
      i += 1
    }
    x.length <= y.length
  }

  private def lte(kind: String, a: String, b: String): Boolean = kind match {
    case "s" => utf8Lte(a, b)
    case _ => BigDecimal(a) <= BigDecimal(b)
  }

  /** Does this batch's [min,max] overlap the query range [lo,hi]?
    * Unorderable probes (NaN/Infinity reach [[lte]]'s BigDecimal parse
    * via a double probe or a NaN join key) must DISABLE skipping, not
    * fail planning: conservative keep on exactly that parse failure
    * (NumberFormatException). Any OTHER exception is a planning bug
    * and must surface — an unconditional catch would silently disable
    * data skipping everywhere, an undiagnosable perf regression.
    */
  private def overlaps(st: ColStats, lo: Option[String], hi: Option[String]): Boolean =
    try lo.forall(l => lte(st.kind, l, st.max)) &&
      hi.forall(h => lte(st.kind, st.min, h))
    catch { case _: NumberFormatException => true }

  /** Commit `df` as the next version. `append = true` carries the
    * previous snapshot's directories forward; otherwise the new snapshot
    * replaces them (the old files stay on disk for time travel until
    * [[vacuum]]). Returns the committed version.
    */
  /** create-exclusive manifest write: atomic on a correct Hadoop FS —
    * ONLY the already-exists failure is a lost race (false). Any
    * failure AFTER create succeeds (manifest write/close) must delete
    * the claimed v-file and rethrow: leaving a truncated manifest as
    * the committed latest version would make readers silently resolve
    * a partial snapshot, and append-mode retries would carry the
    * corrupt directory list forward.
    */
  private def writeManifestExclusive(f: FileSystem, tableDir: String,
      version: Long, op: String, lines: Seq[String]): Boolean = {
    val target = new Path(logDir(tableDir), s"v$version")
    f.mkdirs(logDir(tableDir))
    val created =
      try Some(f.create(target, false))
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException |
            _: java.nio.file.FileAlreadyExistsException =>
          None // lost the race; caller re-reads the winner's log
        case e: java.io.IOException // FSes that signal the race untyped
            if e.getMessage != null &&
              e.getMessage.toLowerCase.contains("already exists") =>
          None
      }
    created.exists { out =>
      try {
        out.write(lines.mkString("\n").getBytes("UTF-8"))
        out.close()
      } catch {
        case e: Throwable =>
          try out.close() catch { case _: Throwable => () }
          try f.delete(target, false) catch { case _: Throwable => () }
          throw e
      }
      // committed: any MV registered over this table is now stale
      graft.plans.MvCatalog.invalidateByPath(tableDir)
      // best-effort operation record for [[history]] — a sidecar, never
      // load-bearing (a lost .info row reads back as nulls)
      try {
        val info = f.create(new Path(logDir(tableDir), s"v$version.info"), true)
        try info.write(
          s"$op\t${System.currentTimeMillis()}\t${lines.size}".getBytes("UTF-8"))
        finally info.close()
      } catch { case _: Throwable => () }
      // best-effort O(1) latest hint — advisory only (see
      // [[latestVersion]]); a lost/failed hint write costs a forward
      // probe or one listing, never correctness
      try {
        val out2 = f.create(hintPath(tableDir), true)
        try out2.write(version.toString.getBytes("UTF-8"))
        finally out2.close()
      } catch { case _: Throwable => () }
      // best-effort manifest checkpoint every CkptEvery commits —
      // advisory like the hint (readers fall back to per-version files)
      if (version % CkptEvery == 0L)
        try buildCheckpoint(f, tableDir, version)
        catch { case _: Throwable => () }
      true
    }
  }

  // ---- manifest checkpoints -----------------------------------------
  // Every [[CkptEvery]]-th commit consolidates the log into one
  // `_log/ckpt-v<version>` file: a history row per version (ts/op/
  // batch count, from the .info sidecars) plus BATCH-REFERENCE RUNS —
  // (dir, dvRel, firstVersion, lastVersion) intervals over the dense
  // version line (reference sets are unions of contiguous runs: a dir
  // leaves a snapshot only by rewrite/delete and returns only via
  // restore, which opens a new run). Enumeration-shaped ops
  // ([[history]], [[vacuum]], [[vacuumDryRun]]) then read checkpoint +
  // the post-checkpoint TAIL instead of one file per version — the
  // Delta-checkpoint answer to "100k commits = 100k metadata GETs".
  // Checkpoints are best-effort and advisory: every reader falls back
  // to the per-version files when absent/corrupt, and manifests are
  // immutable so a checkpoint can never go stale for the versions it
  // covers (a lost checkpoint costs reads, never correctness).
  private val CkptEvery = 10L

  private def ckptVersionOf(p: Path): Option[Long] = {
    val n = p.getName
    if (n.startsWith("ckpt-v")) n.stripPrefix("ckpt-v").toLongOption else None
  }

  /** (version covered, v → (op, ts, nbatches), reference runs). */
  /** `reliableFrom`: run CLASSIFICATION (changeFeed's append fast
    * path) is sound only for versions STRICTLY after it — a checkpoint
    * built after a vacuum reclaimed early manifests records first-seen
    * versions for dirs that are really carryovers, and classifying
    * from those would re-emit the whole table as inserts. 0 = the full
    * history existed at build time; Long.MaxValue = unknown (legacy
    * checkpoints without the field — classification off).
    */
  private case class Ckpt(version: Long,
      info: Map[Long, (Option[String], Option[Long], Option[Int])],
      runs: Seq[(String, Option[String], Long, Long)],
      reliableFrom: Long = Long.MaxValue)

  private def readInfoRow(f: FileSystem, tableDir: String, v: Long)
      : Option[(String, Long, Int)] =
    try {
      val in = f.open(new Path(logDir(tableDir), s"v$v.info"))
      val txt = try scala.io.Source.fromInputStream(in).mkString
        finally in.close()
      txt.split('\t') match {
        case Array(op, ts, n) => Some((op, ts.toLong, n.toInt))
        case _ => None
      }
    } catch { case _: java.io.IOException => None }

  private def readCkpt(f: FileSystem, tableDir: String, v: Long): Option[Ckpt] =
    scala.util.Try {
      val in = f.open(new Path(logDir(tableDir), s"ckpt-v$v"))
      val lines = try scala.io.Source.fromInputStream(in).getLines().toList
        finally in.close()
      require(lines.headOption.exists(_.startsWith("ckptv1\t")), "bad header")
      // optional 3rd header field: reliableFrom (absent on legacy
      // checkpoints — classification stays off for them)
      val reliableFrom = lines.head.split('\t')
        .lift(2).flatMap(_.toLongOption).getOrElse(Long.MaxValue)
      val info = Map.newBuilder[Long, (Option[String], Option[Long], Option[Int])]
      val runs = Seq.newBuilder[(String, Option[String], Long, Long)]
      lines.drop(1).foreach { l =>
        l.split('\t') match {
          case Array("i", iv, ts, op, n) =>
            info += iv.toLong -> (
              (if (op == "-") None else Some(dec(op)),
                ts.toLongOption, n.toIntOption))
          case Array("r", d, dv, first, last) =>
            runs += ((dec(d), if (dv == "-") None else Some(dec(dv)),
              first.toLong, last.toLong))
          case _ => ()
        }
      }
      Ckpt(v, info.result(), runs.result(), reliableFrom)
    }.toOption

  /** Latest readable checkpoint from an already-taken log listing. */
  private def latestCkptFrom(f: FileSystem, tableDir: String,
      statuses: Seq[org.apache.hadoop.fs.FileStatus]): Option[Ckpt] =
    statuses.flatMap(s => ckptVersionOf(s.getPath)).sorted.reverse
      .view.flatMap(v => readCkpt(f, tableDir, v)).headOption

  /** A manifest line's (batch dir, deletion-vector rel) identity. */
  private def lineRefs(line: String): (String, Option[String]) = {
    val (d, stats) = parseLine(line)
    (d, dvOf(stats).map(_._1))
  }

  /** Build + write `ckpt-v<version>` incrementally from the previous
    * checkpoint plus the ≤ [[CkptEvery]] manifests after it (amortized
    * ~1 manifest read per commit). Runs inside the commit path,
    * best-effort (callers swallow failures).
    */
  private def buildCheckpoint(f: FileSystem, tableDir: String,
      version: Long): Unit = {
    val statuses = f.listStatus(logDir(tableDir)).toSeq
    val prev = statuses.flatMap(s => ckptVersionOf(s.getPath))
      .filter(_ < version).sorted.reverse
      .view.flatMap(v => readCkpt(f, tableDir, v)).headOption
    val fromV = prev.map(_.version + 1L).getOrElse(1L)
    val existing = statuses.flatMap(s => versionOf(s.getPath)).toSet
    val info = Map.newBuilder[Long, (Option[String], Option[Long], Option[Int])]
    prev.foreach(p => info ++= p.info)
    (fromV to version).foreach { v =>
      val row = readInfoRow(f, tableDir, v)
      info += v -> ((row.map(_._1), row.map(_._2), row.map(_._3)))
    }
    // advance the reference runs over the tail manifests
    val done = Seq.newBuilder[(String, Option[String], Long, Long)]
    var open: Map[(String, Option[String]), Long] = prev match {
      case Some(p) =>
        val (o, d) = p.runs.partition(_._4 == p.version)
        done ++= d
        o.map(r => (r._1, r._2) -> r._3).toMap
      case None => Map.empty
    }
    (fromV to version).foreach { v =>
      val present: Set[(String, Option[String])] =
        if (existing(v)) readManifestF(f, tableDir, v).map(lineRefs).toSet
        else Set.empty
      val (still, gone) = open.partition { case (k, _) => present(k) }
      gone.foreach { case ((d, dv), first) => done += ((d, dv, first, v - 1L)) }
      open = still ++ present.filterNot(still.contains)
        .map(k => k -> v).toMap
    }
    val runs = done.result() ++ open.map { case ((d, dv), first) =>
      (d, dv, first, version)
    }
    // Trust boundary for run classification (changeFeed's checkpoint
    // fast path): a run's `first` is genuine only where BOTH the
    // version's and its predecessor's manifests existed at build time.
    // A build walking over vacuum-reclaimed manifests (present=empty)
    // records first-seen versions for dirs that are really carryovers;
    // classifying from those would re-emit the whole table as inserts.
    val missing = (fromV to version).filterNot(existing)
    // a LEGACY prev (two-field header) reads as MaxValue = "unknown for
    // everything it covered" — cap its contribution at prev.version
    // instead of inheriting MaxValue forever: run boundaries observed
    // strictly after prev.version come from manifests THIS build (and
    // its successors) actually read, so they are genuine. Genuine
    // reliableFrom values are ≤ version+1, so exactly-MaxValue can only
    // be the legacy sentinel.
    val prevReliable = prev.map(p =>
      if (p.reliableFrom == Long.MaxValue) p.version else p.reliableFrom)
      .getOrElse(0L)
    val reliableFrom = math.max(prevReliable,
      missing.maxOption.map(_ + 1L).getOrElse(0L))
    val body = (Seq(s"ckptv1\t$version\t$reliableFrom") ++
      info.result().toSeq.sortBy(_._1).map { case (v, (op, ts, n)) =>
        s"i\t$v\t${ts.map(_.toString).getOrElse("-")}\t${op.map(enc).getOrElse("-")}\t${n.map(_.toString).getOrElse("-")}"
      } ++
      runs.sortBy(r => (r._3, r._1)).map { case (d, dv, first, last) =>
        s"r\t${enc(d)}\t${dv.map(enc).getOrElse("-")}\t$first\t$last"
      }).mkString("\n")
    val out = f.create(new Path(logDir(tableDir), s"ckpt-v$version"), true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
  }

  private def metaPath(tableDir: String) = new Path(logDir(tableDir), "_meta")

  /** TABLE-LEVEL persistent CHECK constraints (Delta's `ALTER TABLE ADD
    * CONSTRAINT` shape): named SQL expressions stored beside the log in
    * `_log/_meta`; EVERY subsequent write path that adds rows —
    * [[commit]], [[commitPartitioned]], [[commitStreaming]], the
    * streaming sink — enforces all of them before any data lands, same
    * zero-trace atomicity as [[commit]]'s per-call `check`. SQL CHECK
    * semantics (NULL passes). Adding a constraint validates the CURRENT
    * snapshot first — a table can never hold a constraint its data
    * already violates. Constraints are metadata: adding/dropping never
    * rewrites data and costs one small file write.
    */
  def addConstraint(spark: SparkSession, tableDir: String, name: String,
      sqlExpr: String): Unit = {
    require(name.matches("[A-Za-z0-9_-]+"), s"bad constraint name '$name'")
    val f = fs(spark, tableDir)
    val v = latestVersion(spark, tableDir)
    if (v > 0) {
      import org.apache.spark.sql.functions.{expr, lit}
      val bad = read(spark, tableDir).filter(expr(sqlExpr) <=> lit(false))
        .limit(1).count()
      require(bad == 0L,
        s"constraint '$name' rejected: existing rows violate ($sqlExpr)")
    }
    val cur = constraints(spark, tableDir)
    require(!cur.contains(name), s"constraint '$name' already exists")
    writeConstraints(f, tableDir, cur + (name -> sqlExpr))
  }

  def dropConstraint(spark: SparkSession, tableDir: String, name: String): Unit = {
    val f = fs(spark, tableDir)
    val cur = constraints(spark, tableDir)
    require(cur.contains(name), s"no constraint '$name'")
    writeConstraints(f, tableDir, cur - name)
  }

  /** The table's stored constraints (name -> SQL expression). */
  def constraints(spark: SparkSession, tableDir: String): Map[String, String] = {
    val f = fs(spark, tableDir)
    try {
      val in = f.open(metaPath(tableDir))
      val txt = try scala.io.Source.fromInputStream(in).mkString
        finally in.close()
      txt.split('\n').filter(_.nonEmpty).flatMap { l =>
        l.split('\t') match {
          case Array(n, e) => Some(dec(n) -> dec(e))
          case _ => None
        }
      }.toMap
    } catch { case _: java.io.IOException => Map.empty }
  }

  private def writeConstraints(f: FileSystem, tableDir: String,
      cs: Map[String, String]): Unit = {
    f.mkdirs(logDir(tableDir))
    val out = f.create(metaPath(tableDir), true)
    try out.write(cs.toSeq.sortBy(_._1)
      .map { case (n, e) => s"${enc(n)}\t${enc(e)}" }
      .mkString("\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** Enforce the table's stored constraints on a batch about to land:
    * one bounded scan of the NEW rows only, zero-trace rejection.
    */
  private def enforceConstraints(spark: SparkSession, tableDir: String,
      df: DataFrame): Unit = {
    import org.apache.spark.sql.functions.{expr, lit}
    constraints(spark, tableDir).foreach { case (n, e) =>
      val bad = df.filter(expr(e) <=> lit(false)).limit(1).count()
      if (bad > 0) throw new IllegalArgumentException(
        s"write to $tableDir rejected: rows violate table constraint '$n' ($e)")
    }
  }

  /** Append-time TYPE guard: a batch whose recorded field type
    * CONFLICTS with an existing batch's recorded type would poison
    * every schema-merged read of the snapshot (additive evolution —
    * new or missing columns — stays allowed). Fail the write, not the
    * eventual reader.
    */
  private def appendTypeGuard(spark: SparkSession, tableDir: String,
      schema: org.apache.spark.sql.types.StructType): Unit = {
    val base0 = latestVersion(spark, tableDir)
    if (base0 > 0) {
      val prev = readManifest(spark, tableDir, base0)
        .flatMap(parseLineFull(_)._3).flatMap(_.fields)
        .map(fld => fld.name -> nullableNorm(
          org.apache.spark.sql.types.StructType(Seq(fld))).fields.head.dataType)
        .toMap
      nullableNorm(schema).fields.foreach { fld =>
        prev.get(fld.name).filter(_ != fld.dataType).foreach { other =>
          throw new IllegalArgumentException(
            s"append to $tableDir rejected: column '${fld.name}' is " +
              s"${fld.dataType.simpleString} but the table recorded " +
              s"${other.simpleString} — a type conflict would break " +
              "schema-merged reads; write to a new column or overwrite")
        }
      }
    }
  }

  def commit(spark: SparkSession, tableDir: String, df: DataFrame,
      append: Boolean = false, maxRetries: Int = 20,
      collectStats: Boolean = true,
      collectBlooms: Seq[(String, Long)] = Nil,
      collectSketches: Seq[(String, Int)] = Nil,
      collectTokenBlooms: Seq[(String, Long)] = Nil,
      collectHistograms: Seq[(String, Int)] = Nil,
      check: Option[org.apache.spark.sql.Column] = None): Long = {
    val f = fs(spark, tableDir)
    // writer-side CHECK invariant (Delta-style): a commit carrying rows
    // that evaluate the expression to FALSE is rejected BEFORE any data
    // lands — the table never holds a version with the bad rows, and a
    // rejected commit leaves zero trace (atomicity by construction:
    // nothing was written). SQL CHECK semantics: NULL passes.
    check.foreach { c =>
      import org.apache.spark.sql.functions.lit
      val bad = df.filter(c <=> lit(false)).limit(1).count()
      if (bad > 0) throw new IllegalArgumentException(
        s"commit to $tableDir rejected: rows violate CHECK ($c)")
    }
    enforceConstraints(spark, tableDir, df)
    if (append) appendTypeGuard(spark, tableDir, df.schema)
    val batch = s"data/${java.util.UUID.randomUUID().toString.take(12)}"
    df.write.parquet(s"$tableDir/$batch")
    // opt-in per-batch Bloom filters (col -> expected NDV): min/max can
    // only prune when batches partition the key's RANGE; a uuid-ish or
    // hash key overlaps every batch and point probes would read the
    // whole table. The filter costs one column scan of the JUST-WRITTEN
    // batch (page-cache warm) and ~1.2 KB per 1k NDV at 3% fpp in the
    // manifest; oversized filters (> 256 KB encoded) are dropped so a
    // mis-sized NDV can bloat planning, never break it.
    def encodedBloom(df0: DataFrame, c: String, ndv: Long): Option[String] =
      scala.util.Try {
        val bf = df0.stat.bloomFilter(c, ndv, 0.03)
        val bos = new java.io.ByteArrayOutputStream()
        bf.writeTo(bos)
        val b64 = java.util.Base64.getEncoder.encodeToString(bos.toByteArray)
        if (b64.length <= 256 * 1024) Some(b64) else None
      }.toOption.flatten
    val blooms = collectBlooms.flatMap { case (c, ndv) =>
      encodedBloom(spark.read.parquet(s"$tableDir/$batch"), c, ndv)
        .map(c -> _)
    }.toMap ++
    // token/phrase blooms: one extra column scan of the just-written
    // batch, exploded to the distinct 1-, 2- and 3-grams of the
    // column's whitespace tokens — a single filter answers both "which
    // batches mention TERM" and "which batches contain PHRASE" (up to
    // three words) probes
    collectTokenBlooms.flatMap { case (c, ndv) =>
      import org.apache.spark.sql.functions.{col => fcol, explode, expr, length}
      val w = spark.read.parquet(s"$tableDir/$batch")
        .select(org.apache.spark.sql.functions.split(fcol(c), "\\s+").as("__w"))
      val grams = (1 to 3).map { n =>
        w.where(org.apache.spark.sql.functions.size(fcol("__w")) >= n)
          .select(explode(expr(
            s"transform(sequence(0, size(__w) - $n), i -> concat_ws(' ', slice(__w, i + 1, $n)))"
          )).as("__t"))
      }.reduce(_.union(_)).filter(length(fcol("__t")) > 0)
      encodedBloom(grams, "__t", ndv).map(tokKey(c) -> _)
    }.toMap
    // opt-in per-batch KMV distinct-count sketches (col -> k): one
    // column scan of the just-written batch harvests the k smallest
    // distinct u32 hashes; k=1024 costs ~5.5 KB of manifest per column.
    // Because KMV union-merges exactly, [[approxDistinct]] later answers
    // table-level NDV metadata-only at any size.
    val sketches: Map[String, ColStats] = collectSketches.flatMap { case (c, k) =>
      scala.util.Try {
        import org.apache.spark.sql.functions.col
        val hs = spark.read.parquet(s"$tableDir/$batch")
          .select(graft.plans.KmvSketchAgg.u32(col(c)).as("h"))
          .where(col("h").isNotNull)
          .distinct().orderBy(col("h")).limit(k)
          .collect().map(_.getLong(0))
        sketchKey(c) -> ColStats("k", packSketch(hs), k.toString)
      }.toOption
    }.toMap
    // opt-in per-batch equi-width histograms (col -> buckets): one
    // bounded agg + one bucket groupBy of the just-written batch;
    // integer-only columns (quantile bounds need exact value ranges)
    val hists: Map[String, ColStats] = collectHistograms.flatMap { case (c, nb) =>
      scala.util.Try {
        import org.apache.spark.sql.functions.{col => fcol, count => fcount, expr, max => fmax, min => fmin}
        val d0 = spark.read.parquet(s"$tableDir/$batch")
        val mm = d0.agg(fmin(fcol(c)), fmax(fcol(c))).head()
        // decline when hi-lo+1 overflows Long (e.g. signed 64-bit hash
        // keys spanning > 2^63): packed zero-width buckets would feed
        // quantileBounds/countBounds wrong answers presented as CERTAIN
        // — no histogram means those APIs decline, which is the honest
        // guaranteed-enclosure contract
        if (mm.isNullAt(0) ||
            BigInt(mm.getLong(1)) - BigInt(mm.getLong(0)) + 1 > Long.MaxValue) None
        else {
          val lo = mm.getLong(0); val hi = mm.getLong(1)
          val w = hi - lo + 1L
          val counts = d0.where(fcol(c).isNotNull)
            .select(expr(
              s"CAST((CAST($c AS DECIMAL(38,0)) - $lo) * $nb div $w AS INT)").as("__b"))
            .groupBy(fcol("__b")).agg(fcount(org.apache.spark.sql.functions.lit(1)))
            .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
          val packed = (Seq(lo, hi) ++ (0 until nb).map(i =>
            counts.getOrElse(i, 0L))).mkString(",")
          Some(histKey(c) -> ColStats("h", packed, nb.toString))
        }
      }.toOption.flatten
    }.toMap
    val batchLine = encodeLine(batch,
      (if (collectStats) footerStats(spark, new Path(s"$tableDir/$batch"))
       else Map.empty[String, ColStats]) ++ sketches ++ hists,
      Some(df.schema.json),
      blooms)
    var attempt = 0
    while (attempt < maxRetries) {
      val base = latestVersion(spark, tableDir)
      val carried =
        if (append && base > 0) readManifest(spark, tableDir, base) else Nil
      if (writeManifestExclusive(f, tableDir, base + 1, if (append) "append" else "commit", carried :+ batchLine))
        return base + 1
      attempt += 1
    }
    throw new IllegalStateException(
      s"commit to $tableDir lost $maxRetries optimistic rounds")
  }

  /** One-pass VALUE-PARTITIONED commit: `df` lands as one batch dir per
    * distinct value of `byCol` — Hive-style partitioned layout
    * re-expressed as COMMIT DISCIPLINE. Because every batch is then
    * byCol-constant (footer min == max), the grouped metadata-aggregate
    * rule answers `GROUP BY byCol` scan-free and ordinary byCol filters
    * prune to one batch — with no partition columns in the schema
    * contract and no directory-layout coupling (the value lives in the
    * DATA, dirs are opaque).
    *
    * ONE compute pass: a shuffle on byCol routes each value to one task
    * (`partitionBy` on a CLONE column, so the data files KEEP byCol);
    * splitting the hive dirs into batch dirs is pure FS renames; stats
    * are the usual free footer harvest. NULL values land in their own
    * batch (the grouped rule's NULL group). A skewed value serializes
    * into one task's write — the classic hive-partitioning caveat,
    * acceptable at the append-per-day/per-lang cadence this targets.
    * Same append semantics + type guard + optimistic retry as
    * [[commit]]; a lost race retries the manifest only (the batch dirs
    * are already immutable).
    */
  def commitPartitioned(spark: SparkSession, tableDir: String, df: DataFrame,
      byCol: String, append: Boolean = false, maxRetries: Int = 20): Long = {
    import org.apache.spark.sql.functions.col
    require(df.columns.contains(byCol), s"no column $byCol in ${df.columns.toSeq}")
    val f = fs(spark, tableDir)
    if (append) appendTypeGuard(spark, tableDir, df.schema)
    enforceConstraints(spark, tableDir, df)
    // writer-private staging dir (UUID-suffixed, like commit's data
    // dirs): two concurrent commitPartitioned callers must never
    // delete/list each other's in-flight output, or one could commit a
    // manifest referencing dirs the other removed mid-rename
    val tmp = new Path(s"$tableDir/.partcommit-tmp-${java.util.UUID.randomUUID().toString.take(12)}")
    val lines =
      try {
        df.withColumn("__p", col(byCol))
          .repartition(col("__p"))
          .write.partitionBy("__p").parquet(tmp.toString)
        val parts = f.listStatus(tmp).filter(_.isDirectory)
          .sortBy(_.getPath.getName)
        parts.map { pd =>
          val batch = s"data/${java.util.UUID.randomUUID().toString.take(12)}"
          val dir = new Path(s"$tableDir/$batch")
          f.mkdirs(dir.getParent)
          f.rename(pd.getPath, dir)
          encodeLine(batch, footerStats(spark, dir), Some(df.schema.json))
        }.toSeq
      } finally f.delete(tmp, true)
    var attempt = 0
    while (attempt < maxRetries) {
      val base = latestVersion(spark, tableDir)
      val carried =
        if (append && base > 0) readManifest(spark, tableDir, base) else Nil
      if (writeManifestExclusive(f, tableDir, base + 1, "commit_partitioned", carried ++ lines))
        return base + 1
      attempt += 1
    }
    throw new IllegalStateException(
      s"commitPartitioned to $tableDir lost $maxRetries optimistic rounds")
  }

  /** Range-CLUSTERED commit: write `df` as up to `batches` batch dirs,
    * each a CONTIGUOUS range of `byCols` (one range-shuffle +
    * in-partition sort, the [[compactClustered]] write body for a fresh
    * frame). The manifest's per-batch min/max on `byCols` come out
    * tight and disjoint, so point/range probes ([[readWhere]],
    * [[readWhereIn]], TxPruneRule) prune to the touched fraction — the
    * committed-index layout: a postings table clustered by token, an
    * IVF list table clustered by cell. `append = true` carries the
    * previous snapshot forward and clusters ONLY the delta (incremental
    * index maintenance never rewrites the old batches; run
    * [[autoCluster]] when enough deltas accumulate).
    */
  def commitClustered(spark: SparkSession, tableDir: String, df: DataFrame,
      byCols: Seq[String], batches: Int = 8, append: Boolean = false,
      maxRetries: Int = 20): Long = {
    import org.apache.spark.sql.functions.col
    require(byCols.nonEmpty, "commitClustered needs at least one cluster column")
    val f = fs(spark, tableDir)
    enforceConstraints(spark, tableDir, df)
    if (append) appendTypeGuard(spark, tableDir, df.schema)
    // writer-private staging dir — commitPartitioned's concurrency contract
    val tmp = new Path(s"$tableDir/.cluster-tmp-${java.util.UUID.randomUUID().toString.take(12)}")
    val lines =
      try {
        df.repartitionByRange(batches, byCols.map(col): _*)
          .sortWithinPartitions(byCols.map(col): _*)
          .write.parquet(tmp.toString)
        // one range-contiguous FILE per partition; part-N order = key order
        val parts = f.listStatus(tmp).map(_.getPath)
          .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
        parts.map { p =>
          val batch = s"data/${java.util.UUID.randomUUID().toString.take(12)}"
          val dir = new Path(s"$tableDir/$batch")
          f.mkdirs(dir)
          f.rename(p, new Path(dir, p.getName))
          encodeLine(batch, footerStats(spark, dir), Some(df.schema.json))
        }.toSeq
      } finally f.delete(tmp, true)
    var attempt = 0
    while (attempt < maxRetries) {
      val base = latestVersion(spark, tableDir)
      val carried =
        if (append && base > 0) readManifest(spark, tableDir, base) else Nil
      if (writeManifestExclusive(f, tableDir, base + 1, "commit_clustered", carried ++ lines))
        return base + 1
      attempt += 1
    }
    throw new IllegalStateException(
      s"commitClustered to $tableDir lost $maxRetries optimistic rounds")
  }

  private def packSketch(hs: Array[Long]): String = {
    val bb = java.nio.ByteBuffer.allocate(hs.length * 4)
    hs.foreach(h => bb.putInt(h.toInt)) // u32 values round-trip via Int bits
    java.util.Base64.getEncoder.encodeToString(bb.array())
  }

  private def unpackSketch(s: String): Array[Long] = {
    val bytes = java.util.Base64.getDecoder.decode(s)
    val bb = java.nio.ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / 4)(bb.getInt() & 0xffffffffL)
  }

  /** METADATA-ONLY clustering health: for each column, how many of the
    * live-batch PAIRS have intersecting [min,max] ranges — computed
    * entirely from the manifest (a KB read at any table size). This is
    * the signal that decides when to [[compactClustered]]: a range-
    * partitioned key has 0 overlapping pairs (every range probe prunes
    * to ~1 batch), while a key committed in arrival order overlaps
    * everywhere (overlap_pairs == pairs ⇒ probes on it read the whole
    * table, and a Z-ORDER rewrite would pay for itself). Columns
    * without usable stats in some live batch report null counts rather
    * than a fabricated health.
    *
    * Output: `col, n_batches, overlap_pairs, pairs` — one row per
    * requested column, integers only (cross-engine hashable).
    */
  def clusterHealth(spark: SparkSession, tableDir: String,
      cols: Seq[String], asOf: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val v = asOf.getOrElse(latestVersion(spark, tableDir))
    require(v > 0, s"no committed version in $tableDir")
    val entries = readManifest(spark, tableDir, v).map(parseLine)
    val live = entries.filter(_._2.get(RowsKey).forall(_.min.toLong > 0L))
    val rows = cols.map { c =>
      val sts = live.map(_._2.get(c))
      val n = live.size.toLong
      val pairs = n * (n - 1) / 2
      if (sts.exists(_.isEmpty) || sts.isEmpty)
        (c, n, Option.empty[Long], pairs)
      else {
        val got = sts.flatten
        val kinds = got.map(_.kind).distinct
        if (kinds.size != 1) (c, n, Option.empty[Long], pairs)
        else {
          val k = kinds.head
          var overlap = 0L
          for (i <- got.indices; j <- (i + 1) until got.size) {
            val (a, b) = (got(i), got(j))
            if (lte(k, a.min, b.max) && lte(k, b.min, a.max)) overlap += 1L
          }
          (c, n, Some(overlap), pairs)
        }
      }
    }
    rows.toDF("col", "n_batches", "overlap_pairs", "pairs")
  }

  /** Measure-then-act maintenance: run [[compactClustered]] on `cols`
    * iff [[clusterHealth]] says the layout is degraded — the fraction
    * of overlapping batch pairs across the requested columns exceeds
    * `maxOverlapFraction` (columns without stats count as fully
    * overlapping: unknown layout is degraded layout). The decision
    * costs one KB-sized manifest read; only a YES pays the rewrite.
    * Returns the new version when it ran, None when the layout is
    * already healthy — so a scheduler can call this after every N
    * appends and the table self-optimizes exactly when probes start
    * reading too much.
    */
  /** Measured layout degradation: does the manifest's range-overlap
    * fraction over `cols` exceed `maxFraction`? One KB manifest read,
    * no file I/O; unknown overlap (stats-less batches) counts as fully
    * overlapping. The shared measure-then-act predicate behind
    * [[autoCluster]] and the index families' auto-compaction
    * ([[graft.operators.TextRetrieval.autoCompactIndex]]) — one policy,
    * not two copies to keep in sync.
    */
  def overlapDegraded(spark: SparkSession, tableDir: String,
      cols: Seq[String], maxFraction: Double): Boolean = {
    val h = clusterHealth(spark, tableDir, cols).collect()
    val pairs = h.map(_.getLong(3)).sum
    pairs > 0L && { // 0 or 1 batch: nothing to cluster
      val overlap = h.map(r =>
        Option(r.get(2)).map(_.asInstanceOf[Long]).getOrElse(r.getLong(3))).sum
      overlap.toDouble / pairs > maxFraction
    }
  }

  def autoCluster(spark: SparkSession, tableDir: String, cols: Seq[String],
      maxOverlapFraction: Double = 0.5, bits: Int = 16,
      batches: Int = 8): Option[Long] =
    if (!overlapDegraded(spark, tableDir, cols, maxOverlapFraction)) None
    else Some(compactClustered(spark, tableDir, cols, bits, batches))

  /** Surgical small-batch compaction (bin-packing OPTIMIZE — the
    * Delta/Iceberg answer to streaming ingest's many tiny commits):
    * fold ONLY the live batches whose manifest row count is below
    * `minRows` into one consolidated batch; every batch already big
    * enough (and every stats-less legacy batch — never surprise-rewrite
    * what can't be judged) carries into the new version VERBATIM, in
    * the original line order. Selection is METADATA-ONLY (the row
    * counts were harvested at commit); only the folded fraction is ever
    * read or written — at 100 TB that's "rewrite the KB-sized tail of
    * last hour's micro-batches", not the table. Folding a
    * vector-carrying small batch applies its deletion vector (a fold is
    * a rewrite, so it materializes: the folded batch starts
    * vector-free). Returns None (no new version) when fewer than
    * `minBatches` batches qualify; snapshot-pinned commit like
    * [[deleteWhere]].
    */
  def compactSmall(spark: SparkSession, tableDir: String, minRows: Long,
      minBatches: Int = 2, maxRetries: Int = 3): Option[Long] = {
    require(minBatches >= 2, s"folding fewer than 2 batches is a no-op")
    val f = fs(spark, tableDir)
    var attempt = 0
    while (attempt < maxRetries) {
      val base = latestVersion(spark, tableDir)
      require(base > 0, s"no committed version in $tableDir")
      val lines = readManifest(spark, tableDir, base)
      val small = lines.filter(l =>
        batchRows(parseLine(l)._2).exists(_ < minRows)).toSet
      if (small.size < minBatches) return None
      val kept = lines.filterNot(small)
      val entries = small.toSeq.map(parseLineFull)
      // mergeSchema: rewrite must carry the evolved column union (see
      // deleteWhere's note) — small batches are exactly where ragged
      // schemas accumulate
      val folded = applyDv(spark, tableDir,
        spark.read.option("mergeSchema", "true")
          .parquet(entries.map(e => s"$tableDir/${e._1}"): _*),
        entries.map(_._2))
      val batch = s"data/${java.util.UUID.randomUUID().toString.take(12)}"
      folded.coalesce(1).write.parquet(s"$tableDir/$batch")
      val batchLine = encodeLine(batch,
        footerStats(spark, new Path(s"$tableDir/$batch")),
        Some(folded.schema.json))
      if (latestVersion(spark, tableDir) == base &&
          writeManifestExclusive(f, tableDir, base + 1, "compact_small", kept :+ batchLine))
        return Some(base + 1)
      f.delete(new Path(s"$tableDir/$batch"), true)
      attempt += 1
    }
    throw new IllegalStateException(
      s"compactSmall on $tableDir lost $maxRetries optimistic rounds")
  }

  /** METADATA-ONLY quantile BOUNDS from the per-batch histograms
    * [[commit]] harvested (`collectHistograms`): for each requested
    * per-mille rank p, the r-th smallest value (r = ceil(N·p/1000),
    * N = non-null rows) is guaranteed to lie in the returned
    * [lb, ub] — derived purely by interval arithmetic over exact
    * bucket counts and exact integer bucket value ranges, so the
    * bounds are CERTAIN, not estimates (the honest counterpart of an
    * approx-percentile: at 100 TB, "p50 is between 1874 and 1903"
    * from a KB manifest read, with the scan reserved for when the gap
    * matters). Tighter with more buckets and with value-clustered
    * commits (narrow per-batch ranges ⇒ narrow bucket ranges). None
    * when any live batch lacks the histogram (legacy commits, rewrites
    * — which drop harvest-time stats, same contract as the KMV
    * sketches) or carries a deletion vector; Nil input → Nil.
    */
  def quantileBounds(spark: SparkSession, tableDir: String, colName: String,
      permille: Seq[Int], asOf: Option[Long] = None)
      : Option[Seq[(Int, Long, Long)]] = {
    require(permille.forall(p => p >= 1 && p <= 1000), s"bad ranks $permille")
    val v = asOf.getOrElse(latestVersion(spark, tableDir))
    require(v > 0, s"no committed version in $tableDir")
    val entries = readManifest(spark, tableDir, v).map(parseLine)
    if (entries.exists(e => dvOf(e._2).isDefined)) return None
    val live = entries.filter(_._2.get(RowsKey).forall(_.min.toLong > 0L))
    val hs = live.map(_._2.get(histKey(colName)))
    if (hs.isEmpty || hs.exists(_.isEmpty)) return None
    // (bucket value lo, bucket value hi, count) across all batches
    // bucket edges in BigInt: i*w overflows Long once w > 2^63/nb even
    // though every EDGE fits a Long (edges are <= hi by construction)
    val buckets = hs.flatten.flatMap { st =>
      val parts = st.min.split(',').map(_.toLong)
      val nb = st.max.toInt
      val (lo, hi) = (parts(0), parts(1))
      val w = BigInt(hi) - BigInt(lo) + 1
      (0 until nb).flatMap { i =>
        val c = parts(2 + i)
        if (c == 0L) None
        else Some(((BigInt(lo) + (BigInt(i) * w + nb - 1) / nb).toLong,
          (BigInt(lo) + (BigInt(i + 1) * w + nb - 1) / nb - 1).toLong, c))
      }
    }
    val n = buckets.map(_._3).sum
    if (n == 0L) return Some(permille.map(p => (p, 0L, 0L)))
    Some(permille.map { p =>
      val r = (n * p + 999L) / 1000L
      // ub: smallest bucket-top whose guaranteed-at-or-below mass >= r
      val ub = buckets.map(_._2).filter(t =>
        buckets.filter(_._2 <= t).map(_._3).sum >= r).min
      // lb: largest bucket-start below which even the maximal mass < r
      val lb = buckets.map(_._1).filter(s0 =>
        buckets.filter(_._1 < s0).map(_._3).sum < r).max
      (p, lb, ub)
    })
  }

  /** METADATA-ONLY range-count bounds — [[quantileBounds]]'s inverse,
    * and the selectivity-estimation primitive a planner wants: how many
    * rows have `colName` in [lo, hi]? Returns a CERTAIN [cMin, cMax]
    * from the same per-batch histograms — buckets fully inside the
    * probe count toward the floor, buckets merely overlapping toward
    * the ceiling. Exact (cMin == cMax) whenever the probe aligns with
    * bucket edges. Same decline contract as [[quantileBounds]].
    */
  def countBounds(spark: SparkSession, tableDir: String, colName: String,
      lo: Long, hi: Long, asOf: Option[Long] = None): Option[(Long, Long)] = {
    require(lo <= hi, s"bad range [$lo, $hi]")
    val v = asOf.getOrElse(latestVersion(spark, tableDir))
    require(v > 0, s"no committed version in $tableDir")
    val entries = readManifest(spark, tableDir, v).map(parseLine)
    if (entries.exists(e => dvOf(e._2).isDefined)) return None
    val live = entries.filter(_._2.get(RowsKey).forall(_.min.toLong > 0L))
    val hs = live.map(e => histCountBounds(e._2, colName, lo, hi))
    if (hs.isEmpty || hs.exists(_.isEmpty)) return None
    Some(hs.flatten.foldLeft((0L, 0L)) { case ((mn, mx), (a, b)) =>
      (mn + a, mx + b)
    })
  }

  /** ONE batch's histogram range-count bounds: CERTAIN [cMin, cMax] of
    * its rows with `colName` in [lo, hi] (null values never count —
    * the histogram only holds non-null values). Exact (cMin == cMax)
    * when the probe aligns with the batch's bucket edges, e.g. always
    * when buckets are single-valued (value range ≤ bucket count).
    * None when the batch carries no histogram for the column.
    * The planning-time primitive behind [[countBounds]] and
    * [[graft.plans.TxAggRule]]'s boundary-batch salvage.
    */
  private[graft] def histCountBounds(stats: Map[String, ColStats],
      colName: String, lo: Long, hi: Long): Option[(Long, Long)] =
    stats.get(histKey(colName)).map { st =>
      val parts = st.min.split(',').map(_.toLong)
      val nb = st.max.toInt
      val (bLo, bHi) = (parts(0), parts(1))
      // BigInt edge math — same rationale as quantileBounds (i*w can
      // overflow Long even when every edge fits)
      val w = BigInt(bHi) - BigInt(bLo) + 1
      var cMin = 0L; var cMax = 0L
      (0 until nb).foreach { i =>
        val c = parts(2 + i)
        if (c != 0L) {
          val vLo = (BigInt(bLo) + (BigInt(i) * w + nb - 1) / nb).toLong
          val vHi = (BigInt(bLo) + (BigInt(i + 1) * w + nb - 1) / nb - 1).toLong
          if (vLo >= lo && vHi <= hi) { cMin += c; cMax += c }
          else if (vHi >= lo && vLo <= hi) cMax += c
        }
      }
      (cMin, cMax)
    }

  /** METADATA-ONLY approximate distinct count of `colName` over a
    * snapshot, from the per-batch KMV sketches [[commit]] harvested
    * (`collectSketches`). The merge is EXACT — the k smallest hashes of
    * a union of per-batch k-smallest sets are the global k smallest —
    * so this returns bit-for-bit the estimate a full-table
    * [[graft.plans.KmvSketchAgg]] scan at the same k would: fewer than
    * k distinct hashes ⇒ the exact distinct count, else (k−1)·2³²/h_k.
    * Mixed per-batch k merges at the smallest k (still exact for that
    * k). None when any live batch lacks the sketch (legacy commits,
    * delete/merge rewrites — the caller falls back to a scan); Some(0)
    * for an empty snapshot.
    */
  def approxDistinct(spark: SparkSession, tableDir: String, colName: String,
      asOf: Option[Long] = None): Option[Double] = {
    val v = asOf.getOrElse(latestVersion(spark, tableDir))
    require(v > 0, s"no committed version in $tableDir")
    val entries = readManifest(spark, tableDir, v).map(parseLine)
    // deletion vectors: a sketch still counts tombstoned values -- the
    // estimate could only OVER-count, but the contract is "the same
    // answer a scan gives", so decline
    if (entries.exists(e => dvOf(e._2).isDefined)) return None
    val live = entries.filter(_._2.get(RowsKey).forall(_.min.toLong > 0L))
    mergeNdv(live.map(_._2), colName)
  }

  /** Merged KMV NDV estimate over a SUBSET of batch stats maps — the
    * [[approxDistinct]] merge core exposed for the planner's
    * scanned-dirs view ([[graft.plans.TxStatsRule]] feeds per-column
    * `distinctCount` to Catalyst CBO from exactly the batches a scan
    * touches). Same exact-merge semantics: the k smallest hashes of a
    * union of per-batch k-smallest sets ARE the global k smallest.
    * None when any line lacks the sketch (legacy commits, rewrites
    * without `collectSketches`) — the caller attaches nothing rather
    * than guess. DV handling is the CALLER's duty (tombstoned values
    * still count here, mirroring [[approxDistinct]]'s decline rule).
    */
  private[graft] def mergeNdv(lines: Seq[Map[String, ColStats]],
      colName: String): Option[Double] = {
    if (lines.isEmpty) return Some(0.0)
    val sks = lines.map(_.get(sketchKey(colName)))
    if (sks.exists(_.isEmpty)) return None
    val got = sks.flatten
    val k = got.map(_.max.toInt).min
    if (k < 2) return None
    val merged = got.flatMap(st => unpackSketch(st.min)).distinct.sorted
    if (merged.isEmpty) Some(0.0)
    else if (merged.length < k) Some(merged.length.toDouble)
    else Some((k - 1) * 4294967296.0 / merged(k - 1).toDouble)
  }

  /** EXACTLY-ONCE streaming append — the transactional sink contract a
    * `foreachBatch` writer needs. The batch directory is named
    * deterministically from (queryId, batchId) and the MANIFEST is the
    * sole source of truth: a replayed micro-batch whose dir the latest
    * manifest already references is a no-op (returns None). A crash
    * between the data write and the manifest commit leaves an orphan
    * dir the retry simply overwrites before committing — idempotence
    * rides the same create-exclusive manifest write as the commit
    * itself, never a side-channel marker that could desynchronize.
    * Two racing duplicates of one batch serialize on the manifest: the
    * loser re-reads, sees its dir committed, and backs off.
    */
  def commitStreaming(spark: SparkSession, tableDir: String, df: DataFrame,
      queryId: String, batchId: Long, maxRetries: Int = 20,
      collectStats: Boolean = true): Option[Long] = {
    val f = fs(spark, tableDir)
    val safeId = queryId.replaceAll("[^A-Za-z0-9_-]", "_")
    val batch = s"data/stream-$safeId-$batchId"
    def committed(v: Long): Boolean =
      v > 0 && readManifest(spark, tableDir, v).exists(parseLine(_)._1 == batch)
    if (committed(latestVersion(spark, tableDir))) return None
    enforceConstraints(spark, tableDir, df)
    df.write.mode("overwrite").parquet(s"$tableDir/$batch")
    val batchLine = encodeLine(batch,
      if (collectStats) footerStats(spark, new Path(s"$tableDir/$batch"))
      else Map.empty,
      Some(df.schema.json))
    var attempt = 0
    while (attempt < maxRetries) {
      val base = latestVersion(spark, tableDir)
      if (committed(base)) return None // a racing duplicate of this batch won
      val carried = if (base > 0) readManifest(spark, tableDir, base) else Nil
      if (writeManifestExclusive(f, tableDir, base + 1, "streaming_append", carried :+ batchLine))
        return Some(base + 1)
      attempt += 1
    }
    throw new IllegalStateException(
      s"commitStreaming to $tableDir lost $maxRetries optimistic rounds")
  }

  /** Surgical range DELETE: rewrite ONLY the batches whose committed
    * [min,max] for `colName` can overlap [lo,hi] — every other batch's
    * manifest line (and its files) carries into the new version
    * VERBATIM. At 100 TB this is the difference between a delete that
    * rewrites the touched fraction and one that rewrites the table:
    * the same manifest stats that skip reads now skip REWRITES. The
    * untouched bound sides are open (None = unbounded), matching
    * [[readWhere]]'s contract; batches without stats are conservatively
    * rewritten. Readers of prior versions are untouched (time travel
    * intact until [[vacuum]]).
    *
    * Concurrency: the rewrite is derived from a snapshot version; the
    * new manifest only commits if the table is STILL at that version
    * (otherwise the carried lines could drop a concurrent writer's
    * batches). A lost race re-derives and re-rewrites — the delete's
    * data write is re-run against the winner's snapshot, never merged
    * blindly.
    */
  def deleteWhere(spark: SparkSession, tableDir: String, colName: String,
      lo: Option[Any], hi: Option[Any], maxRetries: Int = 5): Long = {
    import org.apache.spark.sql.functions.col
    val f = fs(spark, tableDir)
    var attempt = 0
    while (attempt < maxRetries) {
      val base = latestVersion(spark, tableDir)
      require(base > 0, s"no committed version in $tableDir")
      val lines = readManifest(spark, tableDir, base)
      // the same two planning signals that skip READS skip rewrites:
      // min/max overlap for ranges, plus the committed bloom for POINT
      // deletes (the "erase this key" GDPR shape on a hash key, where
      // ranges overlap every batch)
      val point = (lo, hi) match {
        case (Some(a), Some(b)) if a == b => Some(a)
        case _ => None
      }
      val (touched, kept) = lines.partition { l =>
        val (_, stats) = parseLine(l)
        stats.get(colName).forall(st =>
          overlaps(st, lo.map(_.toString), hi.map(_.toString))) &&
        point.forall(v =>
          parseBlooms(l).get(colName).forall(bloomMayContain(_, v)))
      }
      if (touched.isEmpty) return base // nothing can match: no-op version
      require(lo.isDefined || hi.isDefined,
        "unbounded deleteWhere would truncate the table; commit an empty frame instead")
      val touchedDirs = touched.map(l => s"$tableDir/${parseLine(l)._1}")
      val inRange = (lo.map(l => col(colName) >= l) ++
        hi.map(h => col(colName) <= h)).reduce(_ && _)
      // NULL keys survive: !(null in range) is null, filter drops it —
      // coalesce keeps the SQL-standard "delete matches only" semantics
      // a touched batch may carry a deletion vector: the rewrite must
      // not resurrect its tombstoned rows, so apply it first (the
      // rewritten batch line then starts vector-free)
      // mergeSchema: on an additively-evolved table a plain read infers
      // ONE file's schema and the rewrite would silently drop columns
      // present only in other touched batches — permanent data loss
      val survivors = applyDv(spark, tableDir,
          spark.read.option("mergeSchema", "true").parquet(touchedDirs: _*),
          touched.map(parseLine(_)._2))
        .filter(org.apache.spark.sql.functions.coalesce(
          !inRange, org.apache.spark.sql.functions.lit(true)))
      val batch = s"data/${java.util.UUID.randomUUID().toString.take(12)}"
      survivors.write.parquet(s"$tableDir/$batch")
      val batchLine = encodeLine(batch,
        footerStats(spark, new Path(s"$tableDir/$batch")),
        Some(survivors.schema.json))
      // commit only on top of the SNAPSHOT the rewrite was derived from
      if (latestVersion(spark, tableDir) == base &&
          writeManifestExclusive(f, tableDir, base + 1, "delete", kept :+ batchLine))
        return base + 1
      // lost: drop the orphaned rewrite and re-derive from the winner
      f.delete(new Path(s"$tableDir/$batch"), true)
      attempt += 1
    }
    throw new IllegalStateException(
      s"deleteWhere on $tableDir lost $maxRetries optimistic rounds")
  }

  /** Anti-join the deletion vectors of `entries` (the manifest lines a
    * read selected) onto a scan of their batches: tombstoned (file, row)
    * positions disappear via parquet's own `_metadata.file_path` /
    * `row_index` columns. The vector side is KB-to-MB sized (it holds
    * tombstones, not data), so the planner broadcasts it and the scan
    * never shuffles; filters and column pruning still reach the parquet
    * scan under the join. No-op (the scan itself) when no entry carries
    * a vector.
    */
  /** [[applyDv]] with the scan SPLIT by vector-carriage: batches
    * without a deletion vector scan clean — no `_metadata` columns, no
    * anti-join — and only the vector-carrying batches pay the
    * tombstone join; the halves union. Tombstones concentrate in
    * recently-written batches, so at scale this confines the measured
    * read tax (`ab.dv_read`: ~7.5× on an all-batches join) to the
    * touched fraction. `mkScan` builds a scan for a dir subset with
    * the CALLER's schema/options decision (made over the full entry
    * set, so the two halves always agree).
    */
  private def applyDvSplit(spark: SparkSession, tableDir: String,
      dirEntries: Seq[(String, Map[String, ColStats])],
      mkScan: Seq[String] => DataFrame): DataFrame = {
    val (withDv, clean) = dirEntries.partition(e => dvOf(e._2).isDefined)
    if (withDv.isEmpty) mkScan(dirEntries.map(_._1))
    else {
      val joined = applyDv(spark, tableDir,
        mkScan(withDv.map(_._1)), withDv.map(_._2))
      if (clean.isEmpty) joined
      else mkScan(clean.map(_._1)).unionByName(joined)
    }
  }

  private def applyDv(spark: SparkSession, tableDir: String,
      base: DataFrame,
      entries: Seq[Map[String, ColStats]]): DataFrame = {
    import org.apache.spark.sql.functions.col
    val dvPaths = entries.flatMap(dvOf(_)).map(_._1).distinct
    if (dvPaths.isEmpty) return base
    val dv = spark.read.parquet(dvPaths.map(p => s"$tableDir/$p"): _*)
      .select(col("path").as("__dv_p"), col("row_idx").as("__dv_i"))
    val withMeta = base
      .withColumn("__dv_path", col("_metadata.file_path"))
      .withColumn("__dv_idx", col("_metadata.row_index"))
    withMeta.join(dv,
        withMeta("__dv_path") === dv("__dv_p") &&
          withMeta("__dv_idx") === dv("__dv_i"),
        "left_anti")
      .drop("__dv_path", "__dv_idx")
  }

  /** Re-encode a manifest line with its deletion-vector pointer replaced
    * (dir, schema, bloom fields carry byte-verbatim).
    */
  private def lineWithDv(line: String, dvRel: String, cnt: Long): String = {
    val parts = line.split('\t')
    val stats = parseLine(line)._2 - DvKey +
      (DvKey -> ColStats("v", dvRel, cnt.toString))
    val statsStr = stats.toSeq.sortBy(_._1).map { case (c, st) =>
      Seq(enc(c), st.kind, enc(st.min), enc(st.max)).mkString(FieldSep)
    }.mkString(EntrySep)
    (Seq(parts(0), statsStr) ++ parts.drop(2)).mkString("\t")
  }

  /** MERGE-ON-READ range DELETE (deletion vectors — the Delta/Iceberg
    * v2 "position delete" shape): instead of rewriting touched batches
    * ([[deleteWhere]]'s copy-on-write), write the matching (file, row)
    * positions as a TOMBSTONE parquet under `dv/` and re-point the
    * touched manifest lines at it — every data file carries into the
    * new version untouched, in the original line order. At 100 TB this
    * turns "delete 100 rows from a 1 GB batch" from a 1 GB rewrite into
    * a KB sidecar write; reads pay one broadcast anti-join against the
    * vector until [[purgeDeletes]] (or any compaction through [[read]])
    * materializes it.
    *
    * The same manifest signals that confine [[deleteWhere]]'s rewrite
    * (min/max overlap + committed blooms for point deletes) confine the
    * tombstone SCAN here. A re-deleted batch's existing tombstones are
    * unioned into the new vector (cumulative; the superseded vector
    * file stays referenced by older snapshots until [[vacuum]]). NULL
    * keys never match (SQL delete semantics). Touched lines' stats and
    * sketches intentionally go STALE — they describe the files, which
    * stays sound for PRUNING (file content is a superset of live rows);
    * metadata-only ANSWERS ([[statsAgg]], TxAgg, [[approxDistinct]])
    * decline while any vector is present. Commit is snapshot-pinned
    * like [[deleteWhere]].
    */
  def deleteVectored(spark: SparkSession, tableDir: String, colName: String,
      lo: Option[Any], hi: Option[Any], maxRetries: Int = 5): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    val f = fs(spark, tableDir)
    require(lo.isDefined || hi.isDefined,
      "unbounded deleteVectored would tombstone the table; commit an empty frame instead")
    var attempt = 0
    while (attempt < maxRetries) {
      val base = latestVersion(spark, tableDir)
      require(base > 0, s"no committed version in $tableDir")
      val lines = readManifest(spark, tableDir, base)
      val point = (lo, hi) match {
        case (Some(a), Some(b)) if a == b => Some(a)
        case _ => None
      }
      val touched = lines.filter { l =>
        val (_, stats) = parseLine(l)
        stats.get(colName).forall(st =>
          overlaps(st, lo.map(_.toString), hi.map(_.toString))) &&
        point.forall(v =>
          parseBlooms(l).get(colName).forall(bloomMayContain(_, v)))
      }.toSet
      if (touched.isEmpty) return base // nothing can match: no-op
      val touchedDirs = touched.toSeq.map(l => s"$tableDir/${parseLine(l)._1}")
      val inRange = (lo.map(l => col(colName) >= l) ++
        hi.map(h => col(colName) <= h)).reduce(_ && _)
      // delete matches ONLY: a null key evaluates inRange to null and
      // coalesce(false) keeps it out of the tombstones
      val matches = spark.read.parquet(touchedDirs: _*)
        .filter(coalesce(inRange, lit(false)))
        .select(col("_metadata.file_path").as("path"),
          col("_metadata.row_index").as("row_idx"))
      val oldDvs = touched.toSeq
        .flatMap(l => dvOf(parseLine(l)._2)).map(_._1).distinct
      val tomb = (if (oldDvs.isEmpty) matches
        else matches.union(
          spark.read.parquet(oldDvs.map(p => s"$tableDir/$p"): _*))
        ).distinct()
      val dvRel = s"dv/${java.util.UUID.randomUUID().toString.take(12)}"
      tomb.write.parquet(s"$tableDir/$dvRel")
      val cnt = spark.read.parquet(s"$tableDir/$dvRel").count()
      // original line ORDER preserved: only touched lines change, and
      // only their dv pointer
      val newLines = lines.map(l =>
        if (touched(l)) lineWithDv(l, dvRel, cnt) else l)
      if (latestVersion(spark, tableDir) == base &&
          writeManifestExclusive(f, tableDir, base + 1, "delete_vectored", newLines))
        return base + 1
      f.delete(new Path(s"$tableDir/$dvRel"), true)
      attempt += 1
    }
    throw new IllegalStateException(
      s"deleteVectored on $tableDir lost $maxRetries optimistic rounds")
  }

  /** Materialize deletion vectors: rewrite ONLY the vector-carrying
    * batches (their files minus their tombstones, folded into one new
    * batch); vector-free lines carry verbatim. After this the snapshot
    * is vector-free, so the metadata fast paths ([[statsAgg]], TxAgg,
    * [[approxDistinct]]) light up again and [[merge]] accepts the
    * table. No-op (current version) when nothing carries a vector.
    * Snapshot-pinned commit like [[deleteWhere]].
    */
  def purgeDeletes(spark: SparkSession, tableDir: String,
      maxRetries: Int = 5): Long = {
    val f = fs(spark, tableDir)
    var attempt = 0
    while (attempt < maxRetries) {
      val base = latestVersion(spark, tableDir)
      require(base > 0, s"no committed version in $tableDir")
      val lines = readManifest(spark, tableDir, base)
      val (dvLines, plain) = lines.partition(l =>
        dvOf(parseLine(l)._2).isDefined)
      if (dvLines.isEmpty) return base
      val entries = dvLines.map(parseLineFull)
      // mergeSchema: preserve the evolved column union (deleteWhere's note)
      val survivors = applyDv(spark, tableDir,
        spark.read.option("mergeSchema", "true")
          .parquet(entries.map(e => s"$tableDir/${e._1}"): _*),
        entries.map(_._2))
      val batch = s"data/${java.util.UUID.randomUUID().toString.take(12)}"
      survivors.write.parquet(s"$tableDir/$batch")
      val batchLine = encodeLine(batch,
        footerStats(spark, new Path(s"$tableDir/$batch")),
        Some(survivors.schema.json))
      if (latestVersion(spark, tableDir) == base &&
          writeManifestExclusive(f, tableDir, base + 1, "purge_deletes", plain :+ batchLine))
        return base + 1
      f.delete(new Path(s"$tableDir/$batch"), true)
      attempt += 1
    }
    throw new IllegalStateException(
      s"purgeDeletes on $tableDir lost $maxRetries optimistic rounds")
  }

  /** Measure-then-act DV maintenance — the policy the measured
    * `ab.dv_read` tax calibrates (FIXTURES §F): with [[applyDvSplit]]
    * the read tax is proportional to the TOMBSTONE-CARRYING fraction of
    * the scan, so purge exactly when that fraction outgrows
    * `maxDvFraction` (default the documented ~¼). The fraction is
    * measured in manifest ROW counts — a byte-exact fraction would cost
    * one `getContentSummary` per batch, O(table) metadata RPCs per
    * scheduler tick, and rows track bytes for a homogeneous schema —
    * so the decision is METADATA-ONLY (one KB manifest read). Only a
    * YES pays the rewrite, and the rewrite is [[purgeDeletes]]'
    * surgical one — vector-free batches carry verbatim. Returns the
    * new version when it purged, None when the table is vector-free or
    * still below the threshold — so a scheduler can call this after
    * every delete/merge burst and read plans (and the metadata-only
    * answer paths the vectors disable) recover exactly when the tax
    * says so. Batches without a recorded row count (legacy manifests)
    * count as vector-carrying — unknown is degraded.
    */
  def autoPurge(spark: SparkSession, tableDir: String,
      maxDvFraction: Double = 0.25): Option[Long] = {
    require(maxDvFraction >= 0.0 && maxDvFraction <= 1.0,
      s"bad maxDvFraction $maxDvFraction")
    val latest = latestVersion(spark, tableDir)
    require(latest > 0, s"no committed version in $tableDir")
    val entries = readManifest(spark, tableDir, latest).map(parseLine)
    val (withDv, clean) = entries.partition(e =>
      dvOf(e._2).isDefined || batchRows(e._2).isEmpty)
    if (withDv.forall(e => dvOf(e._2).isEmpty)) return None
    // a DV-carrying batch WITHOUT a row count (legacy manifest line)
    // makes the fraction unmeasurable — counting it zero would silently
    // disable the policy forever ("can never trigger"), so purge: the
    // rewrite re-commits those lines with stats-era row counts, making
    // every later measurement exact (one-time self-heal, not a loop).
    // The heal is GATED on the caller's policy being able to fire at
    // all (round-9 ADVICE): with maxDvFraction == 1.0 the caller said
    // "never purge", so an unmeasurable fraction changes nothing and
    // paying a full DV-batch rewrite on first contact with a legacy
    // manifest would bypass that. When it does fire, it logs why, so
    // an operator can attribute the unexpected rewrite.
    if (maxDvFraction < 1.0 &&
        withDv.exists(e => dvOf(e._2).isDefined && batchRows(e._2).isEmpty)) {
      System.err.println(s"[txlog] autoPurge $tableDir: DV-carrying " +
        "manifest line(s) lack row counts (legacy manifest) — purging " +
        "once to re-commit with measurable stats")
      return Some(purgeDeletes(spark, tableDir))
    }
    val dvRows = withDv.map(e => batchRows(e._2).getOrElse(0L)).sum
    val total = dvRows + clean.map(e => batchRows(e._2).getOrElse(0L)).sum
    if (total == 0L || dvRows.toDouble / total <= maxDvFraction) None
    else Some(purgeDeletes(spark, tableDir))
  }

  /** MERGE INTO — the Delta-style keyed upsert, rewritten to touch only
    * the files that hold matched keys. Semantics (classic SQL MERGE with
    * a single equi-key):
    *
    *  - a target row whose `keyCol` appears in `source` is UPDATED
    *    (replaced by the source row) or DELETED per `whenMatched`;
    *  - a source row matching no target row is INSERTED when
    *    `insertNotMatched` (null-keyed source rows never match — they
    *    insert);
    *  - a null-keyed target row never matches — it always survives;
    *  - duplicate keys in `source` are rejected (the SQL MERGE
    *    "nondeterministic multi-match" error), so the result is unique.
    *
    * TWO-PHASE file pruning — the part that matters at 100 TB:
    * phase 1 narrows candidates by the manifest's committed [min,max]
    * for `keyCol` (no file I/O), then a key-only probe scan of the
    * candidates joined against the source keys collects the DISTINCT
    * `input_file_name()`s that actually hold matches — batches with no
    * matched file carry into the new version VERBATIM (same manifest
    * line, same files). The rewrite then reads ONLY touched batches;
    * the anti/semi joins shuffle the touched fraction plus the delta,
    * never the table. Matched keys can only live in touched batches, so
    * not-matched detection needs no second pass over the table.
    *
    * Concurrency is snapshot-pinned like [[deleteWhere]]: the new
    * manifest commits only if the table is still at the derivation
    * version; a lost race discards the rewrite and re-derives.
    */
  def merge(spark: SparkSession, tableDir: String, source: DataFrame,
      keyCol: String, whenMatched: String = "update",
      insertNotMatched: Boolean = true, maxRetries: Int = 5): Long = {
    import org.apache.spark.sql.functions.{col, count, input_file_name, lit, max => fmax, min => fmin}
    require(whenMatched == "update" || whenMatched == "delete",
      s"whenMatched must be update|delete, got $whenMatched")
    val f = fs(spark, tableDir)
    val src = source.persist()
    try {
      // ONE pre-flight job for dup-check + emptiness + key bounds (three
      // separate jobs before this cost ~0.5s of fixed driver latency per
      // merge — at a 1000-merges/day ingest cadence that is real money)
      val pre = src.groupBy(col(keyCol)).agg(count(lit(1)).as("__n"))
        .agg(count(lit(1)).as("__groups"), fmax(col("__n")).as("__dupmax"),
          fmin(col(keyCol)).as("__lo"), fmax(col(keyCol)).as("__hi"))
        .head()
      if (pre.getLong(0) == 0L) return latestVersion(spark, tableDir)
      require(pre.getLong(1) <= 1L,
        s"merge source holds duplicate $keyCol keys — a target row would match more than one source row")
      // typed bounds drive BOTH the manifest prune (stringified, same
      // rule as deleteWhere) and a pushed filter on the probe scan so
      // parquet row-group stats prune it file-internally too
      val (loV, hiV) =
        if (pre.isNullAt(2)) (None, None) // all-null keys: nothing can match
        else (Some(pre.get(2)), Some(pre.get(3)))
      val (lo, hi) = (loV.map(_.toString), hiV.map(_.toString))
      val srcKeys = src.select(col(keyCol)).where(col(keyCol).isNotNull).distinct()
      var attempt = 0
      while (attempt < maxRetries) {
        val base = latestVersion(spark, tableDir)
        require(base > 0, s"no committed version in $tableDir")
        val lines = readManifest(spark, tableDir, base)
        // phase 1: manifest range prune (stats-less batches stay candidates)
        val candidates =
          if (lo.isEmpty) Nil
          else lines.filter { l =>
            parseLine(l)._2.get(keyCol).forall(st => overlaps(st, lo, hi))
          }
        // deletion vectors: a candidate batch would be REWRITTEN from a
        // raw read, resurrecting its tombstoned rows -- refuse loudly.
        // Vector-carrying batches OUTSIDE the key range are fine: their
        // lines carry into the new version verbatim, vectors included.
        candidates.find(l => dvOf(parseLine(l)._2).isDefined).foreach { l =>
          throw new IllegalStateException(
            s"merge on $tableDir: candidate batch ${parseLine(l)._1} carries " +
              "a deletion vector; run purgeDeletes first")
        }
        // phase 2: key-only probe scan -> the batch dirs that actually
        // hold matched keys (bounded collect: one row per touched FILE)
        val touchedUuids: Set[String] =
          if (candidates.isEmpty) Set.empty
          else spark.read.option("mergeSchema", "true")
            .parquet(candidates.map(l => s"$tableDir/${parseLine(l)._1}"): _*)
            .where(col(keyCol) >= org.apache.spark.sql.functions.lit(loV.get) &&
              col(keyCol) <= org.apache.spark.sql.functions.lit(hiV.get))
            .select(col(keyCol), input_file_name().as("__file"))
            .join(srcKeys, Seq(keyCol))
            .select(col("__file")).distinct().collect()
            .map(r => new Path(new java.net.URI(r.getString(0))).getParent.getName)
            .toSet
        val (touched, kept) = lines.partition(l =>
          touchedUuids.contains(new Path(parseLine(l)._1).getName))
        // mergeSchema: the target column set is the snapshot's UNION —
        // a plain read of an evolved table infers one file's schema and
        // the merge would rewrite touched batches without the evolved
        // columns (silent data loss)
        val tgtSchema = read(spark, tableDir, Some(base), mergeSchema = true).schema
        val tgtCols = tgtSchema.fieldNames.toSeq
        require(tgtCols.forall(src.columns.contains),
          s"merge source must carry every target column; missing ${tgtCols.filterNot(src.columns.contains)}")
        val srcAligned = src.select(tgtCols.map(col): _*)
        val touchedDf =
          if (touched.isEmpty) None
          // mergeSchema: the rewrite must carry the evolved column union
          // (deleteWhere's note); a target column living only in
          // UNtouched batches is still absent from this read — null-fill
          // it at the recorded type so select(tgtCols) stays total
          else Some {
            val raw = spark.read.option("mergeSchema", "true").parquet(
              touched.map(l => s"$tableDir/${parseLine(l)._1}"): _*)
            tgtSchema.fields.filterNot(f0 => raw.columns.contains(f0.name))
              .foldLeft(raw)((d, f0) => d.withColumn(f0.name,
                org.apache.spark.sql.functions.lit(null).cast(f0.dataType)))
          }
        val survivors = touchedDf.map(
          _.join(srcKeys, Seq(keyCol), "left_anti").select(tgtCols.map(col): _*))
        val fromSource: Option[DataFrame] = (whenMatched, insertNotMatched) match {
          case ("update", true) => Some(srcAligned) // matched -> update, rest -> insert
          case ("update", false) => touchedDf.map(t => srcAligned
            .join(t.select(col(keyCol)).distinct(), Seq(keyCol), "left_semi")
            .select(tgtCols.map(col): _*))
          case ("delete", true) => Some(touchedDf match {
            case Some(t) => srcAligned
              .join(t.select(col(keyCol)).distinct(), Seq(keyCol), "left_anti")
              .select(tgtCols.map(col): _*)
            case None => srcAligned
          })
          case _ => None // ("delete", false): matched rows just vanish
        }
        val newRows = (survivors.toSeq ++ fromSource.toSeq)
          .reduceOption(_.unionByName(_))
        val batch = s"data/${java.util.UUID.randomUUID().toString.take(12)}"
        val batchLineOpt = newRows.flatMap { df =>
          df.write.parquet(s"$tableDir/$batch")
          val dir = new Path(s"$tableDir/$batch")
          // an all-empty write leaves no parquet files: commit no line
          // (a dir with zero readable files would break later reads)
          if (f.listStatus(dir).exists(_.getPath.getName.endsWith(".parquet")))
            Some(encodeLine(batch, footerStats(spark, dir), Some(df.schema.json)))
          else { f.delete(dir, true); None }
        }
        if (latestVersion(spark, tableDir) == base &&
            writeManifestExclusive(f, tableDir, base + 1, "merge", kept ++ batchLineOpt))
          return base + 1
        // lost the race: drop the orphaned rewrite, re-derive on the winner
        f.delete(new Path(s"$tableDir/$batch"), true)
        attempt += 1
      }
      throw new IllegalStateException(
        s"merge on $tableDir lost $maxRetries optimistic rounds")
    } finally src.unpersist()
  }

  /** TIMESTAMP time travel: the latest version whose manifest was
    * committed at or before `tsMillis` (manifest-file modification time
    * — the commit's own durability instant; one log listing, metadata
    * only). Throws when the table's FIRST commit is later than the
    * probe — "the table did not exist yet" must not silently read
    * something else. Version mtimes are non-decreasing on a single
    * writer clock; racing writers within one clock tick resolve to the
    * higher version (max over qualifying versions, same as Delta).
    */
  def versionAt(spark: SparkSession, tableDir: String, tsMillis: Long): Long = {
    val f = fs(spark, tableDir)
    require(f.exists(logDir(tableDir)), s"no committed version in $tableDir")
    val stamped = f.listStatus(logDir(tableDir))
      .flatMap(st => versionOf(st.getPath).map(_ -> st.getModificationTime))
    require(stamped.nonEmpty, s"no committed version in $tableDir")
    val ok = stamped.filter(_._2 <= tsMillis)
    require(ok.nonEmpty,
      s"$tableDir has no version at or before $tsMillis " +
        s"(first commit at ${stamped.map(_._2).min})")
    ok.map(_._1).max
  }

  /** [[read]] at the snapshot current as of `tsMillis` ([[versionAt]]). */
  def readAsOfTimestamp(spark: SparkSession, tableDir: String,
      tsMillis: Long, mergeSchema: Boolean = false): DataFrame =
    read(spark, tableDir, Some(versionAt(spark, tableDir, tsMillis)),
      mergeSchema = mergeSchema)

  /** MERGE-ON-READ upsert (deletion-vector MERGE — the Delta DV-merge
    * shape): SEMANTICS identical to [[merge]] (update/delete matched,
    * optional insert, duplicate source keys rejected, null-keyed target
    * rows survive, null-keyed source rows insert) — EXECUTION rewrites
    * ZERO data files. Matched target positions are tombstoned into one
    * vector sidecar ([[deleteVectored]]'s shape, unioned with any
    * existing vectors on the touched batches) and the merge's output
    * rows (updates and/or inserts) land as ONE delta-sized appended
    * batch. At 100 TB this turns "upsert 1k rows into a 1 GB batch"
    * from a 1 GB rewrite into a KB tombstone + a KB append — the
    * write-amplification profile a CDC ingest cadence needs; the read
    * side pays the vector anti-join until [[purgeDeletes]].
    *
    * Existing vectors on candidate batches are handled natively: the
    * probe applies them first, so a key whose only occurrences are
    * already tombstoned counts as NOT matched (it inserts rather than
    * "updating" a dead row). The probe collects one row per touched
    * FILE (bounded) and the matched-position frame is delta-scaled —
    * nothing table-sized ever collects. Snapshot-pinned commit like
    * [[merge]]; a lost race discards the vector + batch and re-derives.
    */
  def mergeVectored(spark: SparkSession, tableDir: String, source: DataFrame,
      keyCol: String, whenMatched: String = "update",
      insertNotMatched: Boolean = true, maxRetries: Int = 5): Long = {
    import org.apache.spark.sql.functions.{col, count, lit, max => fmax, min => fmin}
    require(whenMatched == "update" || whenMatched == "delete",
      s"whenMatched must be update|delete, got $whenMatched")
    val f = fs(spark, tableDir)
    val src = source.persist()
    try {
      val pre = src.groupBy(col(keyCol)).agg(count(lit(1)).as("__n"))
        .agg(count(lit(1)).as("__groups"), fmax(col("__n")).as("__dupmax"),
          fmin(col(keyCol)).as("__lo"), fmax(col(keyCol)).as("__hi"))
        .head()
      if (pre.getLong(0) == 0L) return latestVersion(spark, tableDir)
      require(pre.getLong(1) <= 1L,
        s"merge source holds duplicate $keyCol keys — a target row would match more than one source row")
      val (loV, hiV) =
        if (pre.isNullAt(2)) (None, None)
        else (Some(pre.get(2)), Some(pre.get(3)))
      val (lo, hi) = (loV.map(_.toString), hiV.map(_.toString))
      val srcKeys = src.select(col(keyCol)).where(col(keyCol).isNotNull).distinct()
      var attempt = 0
      while (attempt < maxRetries) {
        val base = latestVersion(spark, tableDir)
        require(base > 0, s"no committed version in $tableDir")
        val lines = readManifest(spark, tableDir, base)
        val candidates =
          if (lo.isEmpty) Nil
          else lines.filter { l =>
            parseLine(l)._2.get(keyCol).forall(st => overlaps(st, lo, hi))
          }
        val candEntries = candidates.map(parseLineFull)
        // matched LIVE positions: key-range probe over the candidates
        // with their existing vectors applied, joined to source keys —
        // (key, file, row) rows, delta-scaled
        val matchedPos =
          if (candidates.isEmpty) None
          else {
            // mergeSchema: keyCol may be absent from SOME candidate
            // batches on an evolved table — plain inference from one
            // file would fail the probe's analysis
            val keyed = spark.read.option("mergeSchema", "true")
              .parquet(candEntries.map(e => s"$tableDir/${e._1}"): _*)
              .where(col(keyCol) >= lit(loV.get) && col(keyCol) <= lit(hiV.get))
              .select(col(keyCol),
                col("_metadata.file_path").as("__path"),
                col("_metadata.row_index").as("__idx"))
            val oldDvPaths = candEntries.flatMap(e => dvOf(e._2)).map(_._1).distinct
            val alive =
              if (oldDvPaths.isEmpty) keyed
              else keyed.join(
                spark.read.parquet(oldDvPaths.map(p => s"$tableDir/$p"): _*)
                  .select(col("path").as("__path"), col("row_idx").as("__idx")),
                Seq("__path", "__idx"), "left_anti")
            Some(alive.join(srcKeys, Seq(keyCol)).persist())
          }
        try {
          // one row per touched FILE (bounded collect, merge's own shape)
          val touchedUuids: Set[String] = matchedPos.map(
            _.select(col("__path")).distinct().collect()
              .map(r => new Path(new java.net.URI(r.getString(0))).getParent.getName)
              .toSet).getOrElse(Set.empty)
          val touched = lines.filter(l =>
            touchedUuids.contains(new Path(parseLine(l)._1).getName)).toSet
          val matchedKeys = matchedPos.map(_.select(col(keyCol)).distinct())
          // union column set on evolved tables (see merge's note)
          val tgtCols = read(spark, tableDir, Some(base), mergeSchema = true)
            .columns.toSeq
          require(tgtCols.forall(src.columns.contains),
            s"merge source must carry every target column; missing ${tgtCols.filterNot(src.columns.contains)}")
          val srcAligned = src.select(tgtCols.map(col): _*)
          val newRows: Option[DataFrame] = (whenMatched, insertNotMatched) match {
            case ("update", true) => Some(srcAligned)
            case ("update", false) => matchedKeys.map(mk =>
              srcAligned.join(mk, Seq(keyCol), "left_semi"))
            case ("delete", true) => Some(matchedKeys match {
              case Some(mk) => srcAligned.join(mk, Seq(keyCol), "left_anti")
              case None => srcAligned
            })
            case _ => None // ("delete", false): matched rows just vanish
          }
          // the new vector: this merge's tombstones + the touched
          // batches' existing tombstones (cumulative, one sidecar)
          val newTomb = matchedPos.map(_.select(
            col("__path").as("path"), col("__idx").as("row_idx")))
          val oldTombPaths = touched.toSeq
            .flatMap(l => dvOf(parseLine(l)._2)).map(_._1).distinct
          val tomb = newTomb.map { nt =>
            (if (oldTombPaths.isEmpty) nt
             else nt.union(
               spark.read.parquet(oldTombPaths.map(p => s"$tableDir/$p"): _*))
            ).distinct()
          }.filter(_ => touched.nonEmpty)
          val dvRel = s"dv/${java.util.UUID.randomUUID().toString.take(12)}"
          val dvCnt = tomb.map { t =>
            t.write.parquet(s"$tableDir/$dvRel")
            spark.read.parquet(s"$tableDir/$dvRel").count()
          }
          val batch = s"data/${java.util.UUID.randomUUID().toString.take(12)}"
          val batchLineOpt = newRows.flatMap { df =>
            df.write.parquet(s"$tableDir/$batch")
            val bd = new Path(s"$tableDir/$batch")
            if (f.listStatus(bd).exists(_.getPath.getName.endsWith(".parquet")))
              Some(encodeLine(batch, footerStats(spark, bd), Some(df.schema.json)))
            else { f.delete(bd, true); None }
          }
          val newLines = lines.map(l =>
            if (touched(l)) lineWithDv(l, dvRel, dvCnt.getOrElse(0L)) else l
          ) ++ batchLineOpt
          if (latestVersion(spark, tableDir) == base &&
              writeManifestExclusive(f, tableDir, base + 1, "merge_vectored", newLines))
            return base + 1
          f.delete(new Path(s"$tableDir/$dvRel"), true)
          f.delete(new Path(s"$tableDir/$batch"), true)
          attempt += 1
        } finally matchedPos.foreach(_.unpersist())
      }
      throw new IllegalStateException(
        s"mergeVectored on $tableDir lost $maxRetries optimistic rounds")
    } finally src.unpersist()
  }

  /** Snapshot read; `asOf = None` resolves the latest version.
    * `mergeSchema = true` unions the column sets of a snapshot whose
    * appended batches evolved the schema (absent columns read as null)
    * — the additive-evolution contract every table format honors.
    */
  def read(spark: SparkSession, tableDir: String, asOf: Option[Long] = None,
      mergeSchema: Boolean = false): DataFrame = {
    val v = asOf.getOrElse(latestVersion(spark, tableDir))
    require(v > 0, s"no committed version in $tableDir")
    val entries = readManifest(spark, tableDir, v).map(parseLineFull)
    // merged reads take the union from the manifest's recorded schemas
    // when every batch has one (planning never opens a footer); legacy
    // manifests fall back to Spark's distributed footer merge. The
    // schema decision is made ONCE over the full entry set so the
    // DV-split scan halves (applyDvSplit) always agree.
    val allDirs = entries.map { case (d, _, _) => s"$tableDir/$d" }
    val mkScan: Seq[String] => DataFrame = if (mergeSchema)
      unionSchema(entries.map(_._3)) match {
        case Some(sc) => ds => spark.read.schema(sc).parquet(ds: _*)
        case None =>
          // one footer sweep resolves the union; subsets reuse it
          val inferred = spark.read.option("mergeSchema", true)
            .parquet(allDirs: _*).schema
          ds => spark.read.schema(inferred).parquet(ds: _*)
      }
    else {
      // plain reads too skip footer inference when every batch RECORDED
      // the same schema (the unevolved common case — compared nullable-
      // normalized, since parquet always reads back nullable). At object-
      // store scale that's one fewer GET before planning; evolved or
      // legacy tables keep Spark's inference untouched.
      val rec = entries.map(_._3.map(nullableNorm))
      rec.headOption.flatten.filter(h => rec.forall(_.contains(h))) match {
        case Some(sc) => ds => spark.read.schema(sc).parquet(ds: _*)
        case None =>
          val inferred = spark.read.parquet(allDirs: _*).schema
          ds => spark.read.schema(inferred).parquet(ds: _*)
      }
    }
    applyDvSplit(spark, tableDir,
      entries.map(e => (s"$tableDir/${e._1}", e._2)), mkScan)
  }

  /** [[read]] plus registration with the AUTOMATIC pruning rule
    * ([[graft.plans.TxPruneRule]], injected via `GraftExtensions`): any
    * ordinary DataFrame/SQL filter over the returned scan gets
    * manifest-level file skipping at planning time — the engine's own
    * predicate pushdown reaching INTO the table format, no special read
    * API required. [[readWhere]]/[[readWhereAll]] remain for callers
    * that want explicit control (time travel, mergeSchema).
    */
  def table(spark: SparkSession, tableDir: String,
      mergeSchema: Boolean = false): DataFrame = {
    graft.plans.TxPruneRule.register(tableDir)
    read(spark, tableDir, mergeSchema = mergeSchema)
  }

  /** CHANGE FEED over `(fromV, toV]` — the incremental-consumer read
    * (Delta's `table_changes` / CDF): every row inserted or deleted by
    * each version, tagged `_change_type` ('insert' | 'delete') and
    * `_commit_version`. Updates (a [[merge]] upsert) surface as a
    * delete of the pre-image plus an insert of the post-image — the
    * two-row encoding every CDC consumer already handles ([[graft
    * .operators.Cdc.applyChanges]] replays it directly). A downstream
    * pipeline that last folded version N catches up by reading
    * `changeFeed(N, latest)` — never by rescanning the table, which at
    * 100 TB is the entire point.
    *
    * Per-version cost is confined to the batches that version TOUCHED
    * (the manifest diff names them — the same surgical bound the write
    * paid, never table-scaled):
    *  - pure appends classify METADATA-ONLY: new batch dirs are read
    *    and emitted as inserts verbatim, no diff work;
    *  - rewrites and DV flips diff old-live vs new-live rows of the
    *    touched dirs with `exceptAll` (multiplicity-exact: a batch
    *    holding a row twice and deleting one emits exactly one delete);
    *  - REORGANIZATIONS cancel by construction: a [[compact]]/
    *    [[autoCluster]]/z-order version rewrites content-identical rows
    *    (old ∖ new and new ∖ old are both empty ⇒ zero change rows),
    *    and a [[purgeDeletes]] version removes exactly the rows the
    *    old side's DV already hid ⇒ zero change rows. Physical layout
    *    is invisible to the feed, as CDC semantics require.
    *
    * Schema evolution: each version's diff reads BOTH sides under the
    * union of the touched batches' recorded schemas, so a pre-image row
    * from before a column existed carries null there (parquet's missing-
    * column fill), and cross-version rows union by name. `fromV = 0`
    * replays the initial commit as inserts. Versions whose batch dirs a
    * deeper [[vacuum]] has reclaimed cannot be replayed — callers keep
    * retention ≥ their consumers' lag, the standard CDC contract.
    *
    * Catch-up metadata cost is O(ckpt + tail + touched), not
    * O(versions): contiguous append runs classify from the manifest
    * checkpoint's reference runs without per-version manifest reads
    * (see the checkpoint block below); only versions the checkpoint
    * cannot prove append-only pay the two-manifest diff.
    */
  def changeFeed(spark: SparkSession, tableDir: String, fromV: Long,
      toV: Long): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val latest = latestVersion(spark, tableDir)
    require(fromV >= 0 && toV > fromV && toV <= latest,
      s"bad change-feed range ($fromV, $toV] over $tableDir at v$latest")
    val f = fs(spark, tableDir)
    // each manifest is read at most ONCE per feed (the diff path used
    // to read every version twice: as `cur` and as the next `prev`)
    val mcache = scala.collection.mutable.Map.empty[Long,
      Map[String, (Map[String, ColStats], Option[org.apache.spark.sql.types.StructType])]]
    def entriesOf(v: Long): Map[String, (Map[String, ColStats],
        Option[org.apache.spark.sql.types.StructType])] =
      if (v == 0) Map.empty
      else mcache.getOrElseUpdate(v,
        try readManifest(spark, tableDir, v).map(parseLineFull)
          .map(e => e._1 -> (e._2, e._3)).toMap
        catch { case e: java.io.IOException =>
          // the standard CDC retention contract, failed LOUD at planning
          // instead of as a task-level FileNotFound mid-replay
          throw new IllegalStateException(
            s"change feed over $tableDir needs manifest v$v, which a " +
              "vacuum has reclaimed — consumers must fold before retention " +
              "passes them (keep vacuum retainFrom ≤ fromV + 1)", e)
        })
    // CHECKPOINT-BACKED CATCH-UP (round-9 verdict #4): the manifest
    // checkpoint's reference runs already encode, for every version it
    // covers, which batch dirs were present — so contiguous APPEND
    // versions classify from the checkpoint alone, without the two
    // manifest GETs per version the diff path pays. A version v ≤ ckpt
    // is a pure append iff no run ends at v-1 (removals and DV flips
    // both end a run — the run's key is the (dir, dv) identity), and
    // its added dirs are the runs starting at v. Line stats/schema for
    // those dirs come from ONE anchor manifest (toV) when the dir
    // survives the window, else from the last manifest of the dir's
    // run — which the removing version's own diff already reads. A
    // catch-up over N appended versions therefore costs O(ckpt + tail
    // + touched dirs) metadata reads, not O(N). Bonus: append versions
    // whose own manifests a vacuum reclaimed stay replayable — the
    // fail-loud contract applies only when a replay NEEDS a reclaimed
    // manifest.
    val ckpt = latestCkptFrom(f, tableDir, f.listStatus(logDir(tableDir)).toSeq)
    val runEnds: Set[Long] =
      ckpt.map(c => c.runs.map(_._4).filter(_ < c.version).toSet)
        .getOrElse(Set.empty)
    val runStarts: Map[Long, Seq[(String, Option[String], Long, Long)]] =
      ckpt.map(_.runs.groupBy(_._3)).getOrElse(Map.empty)
    /** (dir, runLast) pairs when the checkpoint PROVES v a pure append
      * of vector-free dirs; None → the manifest-diff path decides.
      */
    def ckptAppend(v: Long): Option[Seq[(String, Long)]] = ckpt match {
      // v > reliableFrom: run boundaries are genuine only where the
      // build saw both v-1's and v's manifests — a checkpoint built
      // over vacuum-reclaimed manifests must not classify them (the
      // diff path below fails loud instead, per the retention contract)
      case Some(c) if v <= c.version && v > c.reliableFrom &&
          !runEnds.contains(v - 1) =>
        val started = runStarts.getOrElse(v, Nil)
        // a dir APPENDED carrying a deletion vector (a restore of a
        // vectored snapshot) needs the vector's manifest line — let the
        // diff path handle that version
        if (started.forall(_._2.isEmpty))
          Some(started.map(r => (r._1, r._4)).sortBy(_._1))
        else None
      case _ => None
    }
    def tagged(df: DataFrame, kind: String, v: Long): DataFrame =
      df.withColumn("_change_type", lit(kind))
        .withColumn("_commit_version", lit(v))
    // the pre-upgrade per-version manifest diff — still the path for
    // every version the checkpoint cannot prove append-only
    def diffVersion(v: Long): Option[DataFrame] = {
      val prev = entriesOf(v - 1)
      val cur = entriesOf(v)
      val added = (cur.keySet -- prev.keySet).toSeq.sorted
      val removed = (prev.keySet -- cur.keySet).toSeq.sorted
      val dvFlip = (cur.keySet & prev.keySet)
        .filter(d => dvOf(cur(d)._1) != dvOf(prev(d)._1)).toSeq.sorted
      if (added.isEmpty && removed.isEmpty && dvFlip.isEmpty) None
      else {
        // one reader schema for both sides: the union of every touched
        // batch's recorded schema (falls back to a footer merge only
        // for legacy lines) — pre-evolution rows null-fill new columns
        val touched = (added.map(cur) ++ removed.map(prev) ++
          dvFlip.map(cur) ++ dvFlip.map(prev))
        val dirsAll = (added ++ removed ++ dvFlip).distinct
          .map(d => s"$tableDir/$d")
        val sc = unionSchema(touched.map(_._2)).getOrElse(
          spark.read.option("mergeSchema", true).parquet(dirsAll: _*).schema)
        def scan(dirs: Seq[String],
            src: Map[String, (Map[String, ColStats], Option[_])]): DataFrame =
          applyDvSplit(spark, tableDir,
            dirs.map(d => (s"$tableDir/$d", src(d)._1)),
            ds => spark.read.schema(sc).parquet(ds: _*))
        if (removed.isEmpty && dvFlip.isEmpty)
          Some(tagged(scan(added, cur), "insert", v)) // append fast path
        else {
          val oldLive = scan(removed ++ dvFlip, prev)
          val newDirs = added ++ dvFlip
          val newLive =
            if (newDirs.isEmpty) oldLive.limit(0) else scan(newDirs, cur)
          Some(tagged(oldLive.exceptAll(newLive), "delete", v)
            .unionByName(tagged(newLive.exceptAll(oldLive), "insert", v)))
        }
      }
    }
    val perVersion = (fromV + 1 to toV).flatMap { v =>
      ckptAppend(v) match {
        case Some(added) if added.isEmpty => None // nothing touched
        case Some(added) =>
          // within a run the (dir, dv) identity — and the line's stats
          // and schema, which only a flip rewrites — are constant, so
          // ANY in-run manifest serves; prefer the shared toV anchor
          val lines = added.map { case (d, last) =>
            d -> entriesOf(math.min(last, toV)).get(d)
          }
          if (lines.exists(_._2.isEmpty)) diffVersion(v) // defensive
          else {
            val ls = lines.map { case (d, l) => (d, l.get) }
            val dirsAll = ls.map(x => s"$tableDir/${x._1}")
            val sc = unionSchema(ls.map(_._2._2)).getOrElse(
              spark.read.option("mergeSchema", true).parquet(dirsAll: _*).schema)
            Some(tagged(applyDvSplit(spark, tableDir,
              ls.map(x => (s"$tableDir/${x._1}", x._2._1)),
              ds => spark.read.schema(sc).parquet(ds: _*)), "insert", v))
          }
        case None => diffVersion(v)
      }
    }
    if (perVersion.isEmpty)
      tagged(read(spark, tableDir, asOf = Some(toV)).limit(0), "insert", toV)
    else {
      // balanced pairwise union: a consumer catching up over thousands
      // of versions gets an O(log n)-deep plan tree, not the linear
      // left-fold that stack-overflows the analyzer at that scale
      var level: Seq[DataFrame] = perVersion.toSeq
      while (level.size > 1)
        level = level.grouped(2).map {
          case Seq(a, b) => a.unionByName(b, allowMissingColumns = true)
          case Seq(a) => a
        }.toSeq
      level.head
    }
  }

  /** Range read with manifest-level file skipping: batches whose
    * committed [min,max] for `colName` cannot intersect [lo,hi] are
    * dropped BEFORE Spark ever lists or opens them — at 100 TB this is
    * the difference between planning over the touched fraction and
    * scanning footers of every file in the table. Batches without stats
    * for the column (legacy manifests, exotic types) are conservatively
    * kept; the residual `between` filter makes the result exact either
    * way, so pruning is a pure I/O win, never a semantics change.
    * Bounds are passed as strings/numbers matching the column type;
    * `None` leaves that side unbounded.
    */
  def readWhere(spark: SparkSession, tableDir: String, colName: String,
      lo: Option[Any], hi: Option[Any], asOf: Option[Long] = None,
      mergeSchema: Boolean = false): DataFrame =
    readWhereAll(spark, tableDir, Map(colName -> (lo, hi)), asOf, mergeSchema)

  /** Multi-column [[readWhere]]: every `col -> (lo, hi)` range must
    * overlap a batch's committed stats for the batch to survive — the
    * common `partition-key AND id-range` probe prunes on BOTH
    * dimensions at the manifest level. Ranges are ANDed; a column
    * without stats in some batch conservatively keeps that batch.
    * `mergeSchema` threads to the underlying scan so pruning a
    * schema-evolved append table cannot change the result schema
    * (without it, which columns appear would depend on WHICH batches
    * survive — pruning must stay a pure I/O win). The all-pruned
    * fallback reads the LATEST batch (deterministic, and the one whose
    * schema a fresh append just established) for schema only — the
    * residual predicate yields zero rows.
    */
  def readWhereAll(spark: SparkSession, tableDir: String,
      ranges: Map[String, (Option[Any], Option[Any])],
      asOf: Option[Long] = None, mergeSchema: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.col
    val v = asOf.getOrElse(latestVersion(spark, tableDir))
    require(v > 0, s"no committed version in $tableDir")
    val rawLines = readManifest(spark, tableDir, v)
    val entries = rawLines.map(parseLineFull)
    val kept = keptEntries(rawLines, ranges)
    // all-pruned fallback: the LATEST batch (deterministic, unlike
    // letting Spark pick a file at random); the residual predicate
    // yields zero rows against it either way
    val keptE = if (kept.nonEmpty) kept else entries.takeRight(1)
    val mkScan: Seq[String] => DataFrame =
      if (!mergeSchema) {
        // one schema decision for BOTH dv-split halves (a per-subset
        // inference could disagree on an evolved table)
        val inferred = spark.read
          .parquet(keptE.map(e => s"$tableDir/${e._1}"): _*).schema
        ds => spark.read.schema(inferred).parquet(ds: _*)
      }
      else unionSchema(entries.map(_._3)) match {
        // the schema pruning would have produced comes from the FULL
        // manifest, so which batches survive can never change it
        case Some(sc) => ds => spark.read.schema(sc).parquet(ds: _*)
        case None => // legacy lines without schema: one footer sweep
          val inferred = spark.read.option("mergeSchema", true)
            .parquet(entries.map { case (d, _, _) => s"$tableDir/$d" }: _*)
            .schema
          ds => spark.read.schema(inferred).parquet(ds: _*)
      }
    val deleted = applyDvSplit(spark, tableDir,
      keptE.map(e => (s"$tableDir/${e._1}", e._2)), mkScan)
    ranges.foldLeft(deleted) { case (df, (c, (lo, hi))) =>
      val b = lo.map(l => df.where(col(c) >= l)).getOrElse(df)
      hi.map(h => b.where(col(c) <= h)).getOrElse(b)
    }
  }

  /** CONTAINS-TERM read with manifest-level file skipping: batches
    * whose committed TOKEN bloom (opt-in at [[commit]],
    * `collectTokenBlooms`) says `term` is definitely absent from
    * `colName` are dropped before Spark lists them; batches without a
    * token bloom are conservatively kept, bloom false positives only
    * keep. The residual `array_contains(split(col))` filter makes the
    * result exact either way — pruning is a pure I/O win. Deletion
    * vectors of kept batches apply as on every read path. Min/max and
    * value blooms can never answer "which batches MENTION this term";
    * this is that answer, from a KB manifest read at any table size.
    */
  def readWhereToken(spark: SparkSession, tableDir: String, colName: String,
      term: String, asOf: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.{array_contains, col, expr, lit, size, split}
    val k = term.trim.split("\\s+").length
    require(k >= 1 && k <= 3 && term.trim.nonEmpty,
      s"probe must be a 1- to 3-word term/phrase, got '$term'")
    val v = asOf.getOrElse(latestVersion(spark, tableDir))
    require(v > 0, s"no committed version in $tableDir")
    val rawLines = readManifest(spark, tableDir, v)
    val entries = rawLines.map(parseLineFull)
    val keptIdx = rawLines.zipWithIndex.collect {
      case (line, i) if parseBlooms(line).get(tokKey(colName))
        .forall(bloomMayContain(_, term)) => i
    }
    val kept = (if (keptIdx.nonEmpty) keptIdx.map(entries)
      else entries.takeRight(1))
    val scan = spark.read.parquet(kept.map(e => s"$tableDir/${e._1}"): _*)
    val w = split(col(colName), "\\s+")
    applyDv(spark, tableDir, scan, kept.map(_._2))
      .filter(size(w) >= k && array_contains(expr(
        s"transform(sequence(0, size(split($colName, '\\\\s+')) - $k), " +
          s"i -> concat_ws(' ', slice(split($colName, '\\\\s+'), i + 1, $k)))"),
        lit(term)))
  }

  /** MEMBERSHIP read with manifest-level file skipping: keep only the
    * batches whose committed stats say SOME probe value could be
    * present — per value, the [min,max] range must contain it AND the
    * committed value bloom (when one exists) must not rule it out. On a
    * [[commitClustered]] table this is the committed-index probe: a
    * query's handful of keys (the tokens of a search query, the cells
    * an ANN probe selects) prunes a thousand-batch table to the few
    * batches whose key range is touched, from one KB manifest read.
    * Batches without stats for the column are conservatively kept; the
    * residual `isin` filter keeps results exact either way. `values`
    * must be DRIVER-BOUNDED (a query's keys, never a corpus column).
    * Deletion vectors of kept batches apply as on every read path.
    */
  def readWhereIn(spark: SparkSession, tableDir: String, colName: String,
      values: Seq[Any], asOf: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.col
    require(values.nonEmpty, "readWhereIn needs at least one probe value")
    val v = asOf.getOrElse(latestVersion(spark, tableDir))
    require(v > 0, s"no committed version in $tableDir")
    val rawLines = readManifest(spark, tableDir, v)
    val entries = rawLines.map(parseLineFull)
    val strs = values.map(_.toString)
    val kept = entries.zip(rawLines).collect {
      case (e @ (_, stats, _), line) if stats.get(colName).forall { st =>
        lazy val blooms = parseBlooms(line)
        values.zip(strs).exists { case (v0, s0) =>
          overlaps(st, Some(s0), Some(s0)) &&
            blooms.get(colName).forall(bloomMayContain(_, v0))
        }
      } => e
    }
    // all-pruned fallback: readWhereAll's deterministic schema batch
    val keptE = if (kept.nonEmpty) kept else entries.takeRight(1)
    // the manifest already recorded each batch's schema — use it (one
    // footer sweep per query otherwise; at object-store scale that's a
    // GET per kept batch of pure planning overhead). Legacy lines
    // without schemas fall back to inference.
    val scanSchema = unionSchema(keptE.map(_._3)).getOrElse(
      spark.read.parquet(keptE.map(e => s"$tableDir/${e._1}"): _*).schema)
    val mkScan: Seq[String] => DataFrame =
      ds => spark.read.schema(scanSchema).parquet(ds: _*)
    applyDvSplit(spark, tableDir,
      keptE.map(e => (s"$tableDir/${e._1}", e._2)), mkScan)
      .filter(col(colName).isin(values: _*))
  }

  /** The manifest-selection core shared by [[readWhereAll]] and the
    * automatic [[graft.plans.TxPruneRule]]: batches surviving the ANDed
    * per-column ranges. POINT probes (lo == hi, non-null) additionally
    * consult the batch's committed Bloom filter when one exists —
    * min/max prunes by RANGE, useless for uuid/hash keys whose
    * per-batch ranges all overlap; the bloom answers "definitely not in
    * this batch" regardless. False positives only KEEP a batch, and a
    * residual filter above the scan keeps results exact either way.
    */
  private def keptEntries(rawLines: Seq[String],
      ranges: Map[String, (Option[Any], Option[Any])])
      : Seq[(String, Map[String, ColStats],
        Option[org.apache.spark.sql.types.StructType])] = {
    val entries = rawLines.map(parseLineFull)
    val points = ranges.collect {
      case (c, (Some(lo), Some(hi))) if lo == hi => c -> lo
    }
    def bloomSays(line: String): Boolean =
      points.isEmpty || {
        val blooms = parseBlooms(line)
        points.forall { case (c, v0) =>
          blooms.get(c).forall(bloomMayContain(_, v0))
        }
      }
    entries.zip(rawLines).collect {
      case (e @ (_, stats, _), line) if ranges.forall { case (c, (lo, hi)) =>
          stats.get(c).forall(st =>
            overlaps(st, lo.map(_.toString), hi.map(_.toString)))
        } && bloomSays(line) => e
    }
  }

  /** Everything-nullable normalization of a recorded schema (parquet
    * reads are always nullable in Spark, so recorded non-null flags
    * must not leak into read plans or equality checks).
    */
  private def nullableNorm(s: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    def norm(dt: DataType): DataType = dt match {
      case st: StructType => StructType(st.fields.map(f =>
        f.copy(dataType = norm(f.dataType), nullable = true)))
      case a: ArrayType =>
        a.copy(elementType = norm(a.elementType), containsNull = true)
      case m: MapType => m.copy(keyType = norm(m.keyType),
        valueType = norm(m.valueType), valueContainsNull = true)
      case other => other
    }
    norm(s).asInstanceOf[StructType]
  }

  /** Streaming-source hook ([[TxLogSource]]): batch dirs ADDED and
    * REMOVED between two committed versions, absolute paths. `fromV <=
    * 0` means "from nothing" — the whole `toV` snapshot is the delta
    * (the stream's initial batch). Pure metadata: two KB-sized manifest
    * reads, independent of table size.
    */
  private[graft] def versionDelta(spark: SparkSession, tableDir: String,
      fromV: Long, toV: Long): (Seq[String], Seq[String]) = {
    val to = readManifest(spark, tableDir, toV).map(parseLine(_)._1)
    val from =
      if (fromV <= 0) Seq.empty
      else readManifest(spark, tableDir, fromV).map(parseLine(_)._1)
    val fromSet = from.toSet
    val toSet = to.toSet
    (to.filterNot(fromSet).map(d => s"$tableDir/$d"),
      from.filterNot(toSet).map(d => s"$tableDir/$d"))
  }

  /** Streaming-source hook: table-relative dv paths of version `v`'s
    * lines whose batch dir is in `dirs` (absolute). Pure metadata.
    */
  private[graft] def dvPathsForDirs(spark: SparkSession, tableDir: String,
      v: Long, dirs: Set[String]): Seq[String] =
    readManifest(spark, tableDir, v).flatMap { l =>
      val (d, st) = parseLine(l)
      if (dirs.contains(s"$tableDir/$d")) dvOf(st).map(p => s"$tableDir/${p._1}")
      else None
    }.distinct

  /** Whether any line of version `v` (latest when <= 0) carries a
    * deletion vector — the "metadata can't speak for the rows" flag.
    */
  private[graft] def hasDeletionVectors(spark: SparkSession,
      tableDir: String, v: Long = 0L): Boolean = {
    val ver = if (v > 0) v else latestVersion(spark, tableDir)
    ver > 0 && readManifest(spark, tableDir, ver)
      .exists(l => dvOf(parseLine(l)._2).isDefined)
  }

  /** Streaming-source hook: batch dirs present in BOTH versions whose
    * manifest LINE changed between them — today that means a deletion
    * vector appeared or grew ([[deleteVectored]]): the dir set is
    * unchanged but the data a read returns is not, which an append-only
    * stream consumer must treat like a rewrite. Pure metadata.
    */
  private[graft] def versionChangedShared(spark: SparkSession,
      tableDir: String, fromV: Long, toV: Long): Seq[String] = {
    if (fromV <= 0) return Seq.empty
    val from = readManifest(spark, tableDir, fromV)
      .map(l => parseLine(l)._1 -> l).toMap
    readManifest(spark, tableDir, toV)
      .filter(l => from.get(parseLine(l)._1).exists(_ != l))
      .map(l => s"$tableDir/${parseLine(l)._1}")
  }

  /** Streaming-source hook: the latest snapshot's schema from the
    * manifest's recorded batch schemas (additive union), falling back
    * to one footer read for legacy manifests. Never scans data.
    */
  private[graft] def snapshotSchema(spark: SparkSession, tableDir: String)
      : org.apache.spark.sql.types.StructType = {
    val v = latestVersion(spark, tableDir)
    require(v > 0, s"no committed version in $tableDir")
    val entries = readManifest(spark, tableDir, v).map(parseLineFull)
    unionSchema(entries.map(_._3)).getOrElse(
      spark.read.parquet(entries.map(e => s"$tableDir/${e._1}"): _*).schema)
  }

  /** Planning hook for [[graft.plans.TxAggRule]]: the LATEST snapshot's
    * batch dirs (absolute) plus each batch's parsed stats and recorded
    * schema. Pure metadata. None when the table has no committed
    * version.
    */
  private[graft] def aggSnapshot(spark: SparkSession, tableDir: String)
      : Option[(Seq[String], Seq[(Map[String, ColStats],
        Option[org.apache.spark.sql.types.StructType])])] = {
    val v = latestVersion(spark, tableDir)
    if (v <= 0) return None
    val parsed = readManifest(spark, tableDir, v).map(parseLineFull)
    // a deletion vector means manifest stats describe the FILES, not the
    // live rows -- metadata answers must decline until purgeDeletes
    if (parsed.exists(e => dvOf(e._2).isDefined)) return None
    Some((parsed.map(e => s"$tableDir/${e._1}"),
      parsed.map(e => (e._2, e._3))))
  }

  /** Exact FOOTER row count of one batch, when its manifest line
    * carries it (commits since the stats era always do) — a planning
    * input of [[graft.plans.TxStatsRule]]. Per-dir file rows are
    * immutable facts (files never rewrite in place), so they stay
    * valid for ANY scan of those dirs: the latest snapshot, a pruned
    * subset, or a time-travel read whose dirs survive into the latest
    * manifest. Deletion-vector tombstones are deliberately NOT
    * subtracted: the latest vectors do not apply to an older asOf scan
    * of the same dirs (indistinguishable from the roots alone), and
    * for join planning an over-estimate is the SAFE error direction —
    * an under-count could wrongly broadcast a large side, the exact
    * failure mode that rule exists to prevent.
    */
  private[graft] def batchRows(stats: Map[String, ColStats]): Option[Long] =
    stats.get(RowsKey).map(_.min.toLong)

  /** Exact footer null count of `col` in one batch, when recorded. */
  private[graft] def batchNulls(stats: Map[String, ColStats],
      col: String): Option[Long] =
    stats.get(nullsKey(col)).map(_.min.toLong)

  /** Kind-aware bound ordering, exposed for the planning rules. */
  private[graft] def kindLte(kind: String, a: String, b: String): Boolean =
    lte(kind, a, b)

  /** Planning-time hook for [[graft.plans.TxPruneRule]]: the LATEST
    * snapshot's (kept, all) batch dirs — ABSOLUTE paths — under the
    * ANDed ranges, or None when the table has no committed version.
    * Pure metadata (one log-dir list + one KB-sized manifest read).
    */
  private[graft] def pruneSnapshot(spark: SparkSession, tableDir: String,
      ranges: Map[String, (Option[Any], Option[Any])])
      : Option[(Seq[String], Seq[String])] = {
    val v = latestVersion(spark, tableDir)
    if (v <= 0) return None
    val rawLines = readManifest(spark, tableDir, v)
    val all = rawLines.map(parseLine(_)._1)
    val kept = keptEntries(rawLines, ranges).map(_._1)
    Some((kept.map(d => s"$tableDir/$d"), all.map(d => s"$tableDir/$d")))
  }

  /** Planning-time hook for [[graft.plans.DynPruneRule]]: the LATEST
    * snapshot's (kept, all) batch dirs under a KEY-SET probe — a batch
    * survives iff SOME key can be present: within the batch's committed
    * [min,max] for `colName` AND (when the commit recorded a bloom for
    * the column) bloom-possible. Much stronger than a [lo,hi] range for
    * scattered join keys: a batch between two keys' values prunes even
    * though it sits inside the overall range. Conservative throughout —
    * a batch without stats or bloom for the column is kept; an empty
    * key set keeps nothing (the equi-join's result is empty anyway).
    * Pure metadata: one log-dir list + one KB-sized manifest read.
    */
  private[graft] def pruneSnapshotKeys(spark: SparkSession, tableDir: String,
      colName: String, keys: Seq[Any]): Option[(Seq[String], Seq[String])] = {
    val v = latestVersion(spark, tableDir)
    if (v <= 0) return None
    val rawLines = readManifest(spark, tableDir, v)
    val all = rawLines.map(parseLine(_)._1)
    val kept = rawLines.map(l => (parseLineFull(l), l)).collect {
      case (((d, stats, _)), line) if {
          val bloom = parseBlooms(line).get(colName)
          stats.get(colName) match {
            case Some(st) => keys.exists { k =>
              overlaps(st, Some(k.toString), Some(k.toString)) &&
                bloom.forall(bloomMayContain(_, k))
            }
            case None => bloom match {
              case Some(b) => keys.exists(bloomMayContain(b, _))
              case None => true // no stats at all: conservative keep
            }
          }
        } => d
    }
    Some((kept.map(d => s"$tableDir/$d"), all.map(d => s"$tableDir/$d")))
  }

  /** Additive-evolution schema union over the manifest's recorded batch
    * schemas: fields in first-appearance order, all nullable (a column a
    * batch lacks reads as null). None when any batch predates schema
    * recording or two batches disagree on a field's type — callers fall
    * back to Spark's footer-merging inference for those.
    */
  private def unionSchema(
      ss: Seq[Option[org.apache.spark.sql.types.StructType]]):
      Option[org.apache.spark.sql.types.StructType] = {
    import org.apache.spark.sql.types.{StructField, StructType}
    if (ss.exists(_.isEmpty)) return None
    val fields = scala.collection.mutable.LinkedHashMap.empty[String, StructField]
    ss.flatten.foreach(_.fields.foreach { f =>
      fields.get(f.name) match {
        case None => fields(f.name) = f.copy(nullable = true)
        case Some(g) if g.dataType == f.dataType => ()
        case _ => return None
      }
    })
    Some(StructType(fields.values.toSeq))
  }

  /** METADATA-ONLY aggregate: `count(*)` plus per-column min/max for
    * `cols`, answered ENTIRELY from the manifest — the returned frame is
    * a one-row LocalRelation; no data file is listed, opened, or
    * scanned. This is the lakehouse `SELECT count(*) FROM t` fast path:
    * at 100 TB the answer was already computed file-by-file at commit
    * time (footer row counts + footer min/max), so the "query" is a
    * KB-sized log read on the driver.
    *
    * Returns None — caller falls back to an ordinary scan — whenever the
    * manifest cannot answer EXACTLY: a legacy batch without a row count,
    * a requested column missing stats in some non-empty batch (all-null
    * columns, exotic types), or inconsistent stat kinds across batches.
    * Min/max semantics match SQL (nulls ignored — parquet footer bounds
    * are over non-null values); a column that is entirely null in some
    * batch has no stats there and falls back, never fabricates.
    *
    * Output schema: `n_rows BIGINT, <col>_min, <col>_max …` typed by the
    * manifest kind (l→BIGINT, d→DOUBLE, s→STRING); with `includeNulls`
    * each column adds `<col>_nulls BIGINT` (exact footer null counts —
    * so `count(col)` = n_rows − nulls is metadata-only too), declining
    * when any non-empty batch predates null-count harvesting.
    */
  def statsAgg(spark: SparkSession, tableDir: String, cols: Seq[String],
      asOf: Option[Long] = None, includeNulls: Boolean = false): Option[DataFrame] = {
    import org.apache.spark.sql.types._
    val v = asOf.getOrElse(latestVersion(spark, tableDir))
    require(v > 0, s"no committed version in $tableDir")
    val entries = readManifest(spark, tableDir, v).map(parseLine)
    // deletion vectors: footer stats no longer describe the live rows
    if (entries.exists(e => dvOf(e._2).isDefined)) return None
    val rowCounts = entries.map(_._2.get(RowsKey).map(_.min.toLong))
    // batches with zero rows contribute nothing to min/max and must not
    // veto the metadata path by having no column stats
    val live = entries.filter(_._2.get(RowsKey).exists(_.min.toLong > 0L))
    val perCol = cols.map { c =>
      val sts = live.map(_._2.get(c))
      for {
        got <- if (sts.isEmpty || sts.exists(_.isEmpty)) None
               else Some(sts.flatten)
        k <- got.map(_.kind).distinct match {
          case Seq(one) => Some(one)
          case _ => None
        }
      } yield (c, k,
        got.map(_.min).reduce((a, b) => if (lte(k, a, b)) a else b),
        got.map(_.max).reduce((a, b) => if (lte(k, b, a)) a else b))
    }
    val nullsPerCol: Map[String, Option[Long]] = cols.map { c =>
      val ns = live.map(_._2.get(nullsKey(c)).map(_.min.toLong))
      c -> (if (ns.isEmpty || ns.exists(_.isEmpty)) None else Some(ns.flatten.sum))
    }.toMap
    if (rowCounts.exists(_.isEmpty) || live.isEmpty || perCol.exists(_.isEmpty) ||
        (includeNulls && nullsPerCol.values.exists(_.isEmpty)))
      None
    else {
      def dt(k: String): DataType = k match {
        case "l" => LongType
        case "d" => DoubleType
        case _ => StringType
      }
      def value(k: String, s0: String): Any = k match {
        case "l" => s0.toLong
        case "d" => s0.toDouble
        case _ => s0
      }
      val colStats = perCol.flatten
      val fields = StructField("n_rows", LongType, nullable = false) +:
        colStats.flatMap { case (c, k, _, _) =>
          Seq(StructField(s"${c}_min", dt(k)), StructField(s"${c}_max", dt(k))) ++
            (if (includeNulls) Seq(StructField(s"${c}_nulls", LongType)) else Nil)
        }
      val values: Seq[Any] = rowCounts.flatten.sum +:
        colStats.flatMap { case (c, k, mn, mx) =>
          Seq(value(k, mn), value(k, mx)) ++
            (if (includeNulls) Seq(nullsPerCol(c).get) else Nil)
        }
      Some(spark.createDataFrame(
        java.util.Collections.singletonList(
          org.apache.spark.sql.Row(values: _*)),
        StructType(fields.toArray)))
    }
  }

  /** OPTIMIZE: fold the latest snapshot's directories into one compact
    * write and commit it as a new version. Readers of old snapshots are
    * untouched (their directories survive until [[vacuum]]); the new
    * version reads the same rows from fewer, larger files.
    */
  def compact(spark: SparkSession, tableDir: String, partitions: Int = 1): Long =
    commit(spark, tableDir, read(spark, tableDir).repartition(partitions))

  /** OPTIMIZE ZORDER: rewrite the latest snapshot as `batches` batch
    * dirs, each a CONTIGUOUS interval of the Morton z-value over
    * `zCols` — i.e. a bounded box in (x, y, …) space. The manifest's
    * ordinary per-column min/max then become tight on EVERY interleaved
    * dimension for every batch, so [[readWhereAll]] skips batches on a
    * band probe of ANY of them — file-level multi-dim pruning with no
    * partition columns, stacking with the in-file row-group pruning a
    * z-sorted write already gives ([[graft.operators.ZOrder]]).
    *
    * ONE compute pass: a single range-shuffle on z writes `batches`
    * z-contiguous files; splitting them into batch dirs is pure FS
    * renames, and stats are the usual free footer harvest. Commit is
    * snapshot-pinned like [[deleteWhere]] — a lost race discards the
    * rewrite and re-derives.
    */
  def compactClustered(spark: SparkSession, tableDir: String,
      zCols: Seq[String], bits: Int = 16, batches: Int = 8,
      maxRetries: Int = 3): Long = {
    import org.apache.spark.sql.functions.col
    val f = fs(spark, tableDir)
    var attempt = 0
    while (attempt < maxRetries) {
      val base = latestVersion(spark, tableDir)
      require(base > 0, s"no committed version in $tableDir")
      val snap = read(spark, tableDir, Some(base))
      // writer-private staging dir — same concurrency contract as
      // commitPartitioned's (two optimistic writers never share staging)
      val tmp = new Path(s"$tableDir/.zorder-tmp-${java.util.UUID.randomUUID().toString.take(12)}")
      f.delete(tmp, true)
      snap.withColumn("__z",
          graft.operators.ZOrder.zValue(zCols.map(col), bits))
        .repartitionByRange(batches, col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.parquet(tmp.toString)
      // one z-contiguous FILE per range partition; part-N order = z order
      val parts = f.listStatus(tmp).map(_.getPath)
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      val lines = parts.map { p =>
        val batch = s"data/${java.util.UUID.randomUUID().toString.take(12)}"
        val dir = new Path(s"$tableDir/$batch")
        f.mkdirs(dir)
        f.rename(p, new Path(dir, p.getName))
        encodeLine(batch, footerStats(spark, dir), Some(snap.schema.json))
      }.toSeq
      f.delete(tmp, true)
      if (latestVersion(spark, tableDir) == base &&
          writeManifestExclusive(f, tableDir, base + 1, "optimize_zorder", lines))
        return base + 1
      // lost: remove the orphaned batch dirs and re-derive
      lines.map(parseLine(_)._1)
        .foreach(d => f.delete(new Path(s"$tableDir/$d"), true))
      attempt += 1
    }
    throw new IllegalStateException(
      s"compactClustered on $tableDir lost $maxRetries optimistic rounds")
  }

  /** RESTORE: make historical snapshot `toVersion` the new latest — a
    * pure manifest commit (the old version's lines, stats/schema/blooms
    * included, re-published as version latest+1). Zero data movement;
    * the restored version's directories are re-referenced by the new
    * head, so [[vacuum]] keeps them for as long as it keeps the head.
    * History is preserved, not rewritten: the bad versions stay
    * readable between `toVersion` and the restore point.
    */
  def restore(spark: SparkSession, tableDir: String, toVersion: Long,
      maxRetries: Int = 20): Long = {
    val f = fs(spark, tableDir)
    val lines = readManifest(spark, tableDir, toVersion)
    var attempt = 0
    while (attempt < maxRetries) {
      val base = latestVersion(spark, tableDir)
      require(toVersion <= base,
        s"restore target v$toVersion is ahead of latest v$base")
      if (writeManifestExclusive(f, tableDir, base + 1, "restore", lines))
        return base + 1
      attempt += 1
    }
    throw new IllegalStateException(
      s"restore on $tableDir lost $maxRetries optimistic rounds")
  }

  /** Change data feed between two committed versions: the minimal keyed
    * I/U/D batch (in [[graft.operators.Cdc.applyChanges]]' contract)
    * that turns snapshot `fromV` into snapshot `toV` — so downstream
    * consumers replicate by applying deltas instead of re-reading
    * snapshots. Delegates to [[graft.operators.Cdc.makePatch]]: digests
    * shuffle, payloads join back only for divergent keys.
    */
  def changes(spark: SparkSession, tableDir: String, keyCol: String,
      fromV: Long, toV: Long): DataFrame =
    graft.operators.Cdc.makePatch(
      read(spark, tableDir, Some(fromV)),
      read(spark, tableDir, Some(toV)),
      keyCol, seq = toV.toInt)

  /** DESCRIBE HISTORY: one row per committed version — version,
    * commit timestamp (millis), operation name, batch count — from the
    * `.info` sidecars each commit writes best-effort (pre-history
    * versions read back with null op/ts). Newest first. Metadata only,
    * and O(tail) metadata at that: versions covered by the latest
    * manifest checkpoint come from its consolidated rows (one read);
    * only post-checkpoint versions open their own sidecar. One log-dir
    * listing either way (it also discovers vacuumed-away versions).
    */
  def history(spark: SparkSession, tableDir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val f = fs(spark, tableDir)
    val statuses = f.listStatus(logDir(tableDir)).toSeq
    val vs = statuses.flatMap(st => versionOf(st.getPath)).sorted.reverse
    val ck = latestCkptFrom(f, tableDir, statuses)
    val rows = vs.map { v =>
      val info = ck.filter(_.version >= v) match {
        case Some(c) =>
          c.info.get(v).flatMap { case (op, ts, n) =>
            for (o <- op; t <- ts; k <- n) yield (o, t, k)
          }
        case None => readInfoRow(f, tableDir, v)
      }
      org.apache.spark.sql.Row(v, info.map(_._2).orNull,
        info.map(_._1).orNull, info.map(_._3).orNull)
    }
    spark.createDataFrame(
      java.util.Arrays.asList(rows: _*),
      StructType(Seq(
        StructField("version", LongType, nullable = false),
        StructField("timestamp_ms", LongType),
        StructField("operation", StringType),
        StructField("num_batches", IntegerType))))
  }

  /** Drop data directories referenced by NO manifest ≥ `retainFrom`
    * (and the manifests below it). Readers of retained snapshots are
    * unaffected — their files are never touched.
    */
  /** [[vacuum]] preview: the data dirs, vector files, and manifests a
    * real vacuum at `retainFrom` would delete, with their total bytes —
    * the look-before-you-leap every retention runbook wants. Touches
    * only metadata plus one `getContentSummary` per doomed path.
    */
  /** The (batch dirs, dv rels) referenced by any manifest in
    * [retainFrom, latest] — from the latest checkpoint's reference runs
    * plus the post-checkpoint tail manifests (O(tail) manifest reads;
    * no checkpoint → every retained manifest, as before). Missing
    * middles (a prior deeper vacuum) contribute nothing.
    */
  /** `keep*`: referenced by a RETAINED manifest — must survive.
    * `ever*`: referenced by ANY manifest (checkpoint runs cover the
    * vacuumed-away history) — used to tell a SUPERSEDED dir (reclaim
    * regardless of age) from a NEVER-referenced one, which may be an
    * in-flight write's not-yet-published batch (single-table commits
    * and multi-table stages both land data before their manifest).
    */
  private case class VacuumRefs(keep: Set[String], keepDv: Set[String],
      everData: Set[String], everDv: Set[String])

  private def keepRefs(f: FileSystem, tableDir: String, retainFrom: Long,
      latest: Long, statuses: Seq[org.apache.hadoop.fs.FileStatus])
      : VacuumRefs = {
    val ck = latestCkptFrom(f, tableDir, statuses).filter(_.version <= latest)
    val fromCk = ck.toSeq.flatMap(_.runs)
      .filter(_._4 >= retainFrom).map(r => (r._1, r._2))
    // ONLY a genuinely-absent manifest (a prior deeper vacuum removed
    // the middle) may contribute nothing; any other failure (transient
    // IO, corrupt-but-present manifest) must abort the vacuum — an
    // under-built keep-set here permanently deletes live data files.
    val tailFrom = ck.map(_.version + 1L).getOrElse(1L)
    val tailPairs = (tailFrom to latest).flatMap(v =>
      (try readManifestF(f, tableDir, v)
       catch { case _: java.io.FileNotFoundException => Nil })
        .map(l => v -> lineRefs(l)))
    val all = fromCk ++ tailPairs.filter(_._1 >= retainFrom).map(_._2)
    val ever = ck.toSeq.flatMap(_.runs).map(r => (r._1, r._2)) ++
      tailPairs.map(_._2)
    VacuumRefs(all.map(_._1).toSet, all.flatMap(_._2).toSet,
      ever.map(_._1).toSet, ever.flatMap(_._2).toSet)
  }

  /** Grace window for NEVER-referenced data/dv dirs: a dir no manifest
    * has ever named, younger than this, is presumed an in-flight
    * write's staged batch (plain commits and multi-table stages both
    * land data before their manifest) and is spared. SUPERSEDED dirs —
    * named by some manifest, retained by none — reclaim regardless of
    * age. 0 = the pre-round-11 behavior (reap every unreferenced dir).
    */
  val InFlightGraceMs: Long = 20L * 60L * 1000L

  /** ONE doomed-path classifier shared by [[vacuum]] (deletes) and
    * [[vacuumDryRun]] (lists) — two hand-synced copies of the
    * keep/ever/grace predicate is how a preview drifts from the action
    * it exists to predict. Returns (dirs to delete recursively, log
    * files to delete).
    */
  private def vacuumDoomed(f: FileSystem, tableDir: String,
      retainFrom: Long, latest: Long,
      statuses: Seq[org.apache.hadoop.fs.FileStatus],
      inFlightGraceMs: Long): (Seq[Path], Seq[Path]) = {
    val refs = keepRefs(f, tableDir, retainFrom, latest, statuses)
    val now = System.currentTimeMillis()
    // never-referenced + young = presumed in-flight write; spared.
    // Superseded (ever-referenced) dirs reclaim regardless of age.
    def spared(s: org.apache.hadoop.fs.FileStatus, ever: Boolean): Boolean =
      !ever && now - s.getModificationTime < inFlightGraceMs
    val dirs = Seq.newBuilder[Path]
    val dataRoot = new Path(s"$tableDir/data")
    if (f.exists(dataRoot)) f.listStatus(dataRoot).foreach { s =>
      val n = s"data/${s.getPath.getName}"
      if (!refs.keep.contains(n) && !spared(s, refs.everData.contains(n)))
        dirs += s.getPath
    }
    val dvRoot = new Path(s"$tableDir/dv")
    if (f.exists(dvRoot)) f.listStatus(dvRoot).foreach { s =>
      val n = s"dv/${s.getPath.getName}"
      if (!refs.keepDv.contains(n) && !spared(s, refs.everDv.contains(n)))
        dirs += s.getPath
    }
    val files = Seq.newBuilder[Path]
    statuses.foreach { s =>
      val n = s.getPath.getName
      val v = versionOf(s.getPath)
        .orElse(if (n.startsWith("v") && n.endsWith(".info"))
          n.stripPrefix("v").stripSuffix(".info").toLongOption else None)
        .orElse(ckptVersionOf(s.getPath))
      v.foreach(x => if (x < retainFrom) files += s.getPath)
    }
    (dirs.result(), files.result())
  }

  def vacuumDryRun(spark: SparkSession, tableDir: String,
      retainFrom: Long, force: Boolean = false,
      inFlightGraceMs: Long = InFlightGraceMs): (Seq[String], Long) = {
    val f = fs(spark, tableDir)
    val latest = latestVersion(spark, tableDir)
    require(retainFrom <= latest, s"retainFrom $retainFrom > latest $latest")
    // the preview must refuse exactly where the real vacuum will — a
    // dry run that lists doomed paths the vacuum then declines to
    // delete misleads the retention runbook it exists for
    if (!force) {
      requireNoLaggingConsumers(spark, tableDir, retainFrom)
      requireNoTaggedReclaim(spark, tableDir, retainFrom)
    }
    val statuses = f.listStatus(logDir(tableDir)).toSeq
    val (dirs, files) =
      vacuumDoomed(f, tableDir, retainFrom, latest, statuses, inFlightGraceMs)
    val doomed = (dirs ++ files).map(_.toString)
    val bytes = doomed.map(p =>
      scala.util.Try(f.getContentSummary(new Path(p)).getLength).getOrElse(0L)).sum
    (doomed.sorted, bytes)
  }

  // ---- multi-table atomic commit (round-11) -------------------------
  // The reference publishes `times`, `missing_pairs` and `metadata`
  // together (data/src/utils/times.py:100-107 writes the trio per
  // chunk); a crash between single-table commits leaves a published
  // state where the pair-count accounting (times + missing = n²) is
  // silently wrong. This is the lakehouse-native fix: a presumed-abort
  // two-phase protocol whose commit point is ONE create-exclusive file.
  //
  //   stage    — per table: write the batch dir (immutable, invisible
  //              until a manifest references it), record the intent in
  //              `txnDir/txn-<id>.staged` (tmp + rename: the intent is
  //              the txn's unique CLAIM TOKEN and must never exist
  //              truncated);
  //   decide   — RECORD: create `txn-<id>.commit` exclusively with the
  //              full body; CLAIM: rename the intent to
  //              `txn-<id>.committing`. The rename consumes its source,
  //              so a racing rollback's rename to `txn-<id>.rolling`
  //              and this claim can never both win (round-12: closes
  //              the decide-vs-rollback TOCTOU). Publishes happen only
  //              under a `.committing` marker, batch deletion only
  //              under `.rolling`;
  //   publish  — each table's normal optimistic manifest commit,
  //              idempotent (a batch already referenced after its
  //              staged base is never re-published, so recovery racing
  //              the coordinator can't double-append or clobber a later
  //              overwrite);
  //   forget   — delete the record, then the claim marker.
  //
  // The claim arbitration needs ATOMIC rename (HDFS, POSIX). On an
  // object store whose rename is copy+delete the claim degrades to the
  // staleness assumption alone (a recovery only claims intents older
  // than `staleAfterMs`, presuming the coordinator dead) — never worse
  // than the round-11 protocol; the DURABILITY point (the record) stays
  // a create-exclusive PUT either way.
  //
  // Crash anywhere: [[recoverMulti]] rolls FORWARD from a readable
  // `.commit` (the decision was durable) and BACK from a `.staged`
  // without one (nothing was ever visible). Readers keep per-table
  // snapshot isolation mid-flight; the cross-table guarantee is atomic
  // DURABILITY — after recovery, all tables reflect the transaction or
  // none do. A concurrent vacuum spares the staged (never-referenced)
  // batch dirs for [[InFlightGraceMs]] — run recovery before a stalled
  // transaction's batches can age out of the grace window.

  /** One table's write inside [[commitMulti]]. */
  case class MultiWrite(tableDir: String, df: DataFrame,
      append: Boolean = false)

  /** What [[recoverMulti]] did, by transaction id. */
  case class MultiRecovery(rolledForward: Seq[String], rolledBack: Seq[String])

  private[graft] case class StagedWrite(tableDir: String, batch: String,
      append: Boolean, baseV: Long, line: String)

  // body carries everything recovery needs (self-contained in either
  // file); the trailing "end" line distinguishes a complete record from
  // a crash-truncated one — a truncated `.commit` is NOT a decision
  private def txnBody(staged: Seq[StagedWrite]): String =
    ("mtxnv1" +:
      staged.map(s => Seq(enc(s.tableDir), enc(s.batch),
        if (s.append) "1" else "0", s.baseV.toString,
        java.util.Base64.getEncoder.encodeToString(s.line.getBytes("UTF-8"))
      ).mkString("\t")) :+ "end").mkString("\n")

  private def parseTxn(txt: String): Option[Seq[StagedWrite]] = {
    val lines = txt.split('\n').toSeq.filter(_.nonEmpty)
    if (!lines.headOption.contains("mtxnv1") || lines.lastOption != Some("end"))
      None
    else scala.util.Try {
      lines.tail.init.map { l =>
        val a = l.split('\t')
        StagedWrite(dec(a(0)), dec(a(1)), a(2) == "1", a(3).toLong,
          new String(java.util.Base64.getDecoder.decode(a(4)), "UTF-8"))
      }
    }.toOption
  }

  private def readTxnFile(f: FileSystem, p: Path): Option[Seq[StagedWrite]] =
    try {
      val in = f.open(p)
      val txt = try scala.io.Source.fromInputStream(in).mkString
        finally in.close()
      parseTxn(txt)
    } catch { case _: java.io.FileNotFoundException => None }

  /** Rename for claim arbitration: a racing claimant may consume the
    * source at any moment, and HDFS reports that as `false` — but
    * RawLocalFileSystem falls into its cross-fs COPY fallback and
    * throws FileNotFoundException instead. One helper so every claim
    * site treats "source vanished" uniformly as a lost race.
    */
  private[sources] def renameClaim(f: FileSystem, src: Path,
      dst: Path): Boolean =
    try f.rename(src, dst)
    catch { case _: java.io.FileNotFoundException => false }

  /** Write a COMPLETE txn file via tmp + rename, so a crash can
    * truncate only the tmp (swept age-gated by [[recoverMulti]]), never
    * the published file. Only the staging coordinator writes this
    * target, so no arbitration is needed — this is about completeness,
    * not exclusivity (the exclusivity primitive is the CLAIM rename of
    * the `.staged` file itself, see [[decideMulti]]/[[recoverMulti]]).
    */
  private[sources] def writeTxnFileAtomic(f: FileSystem, target: Path,
      body: String): Unit = {
    val tmp = new Path(target.getParent,
      target.getName + ".tmp-" + java.util.UUID.randomUUID().toString.take(8))
    val out = f.create(tmp, false)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    if (!f.rename(tmp, target)) {
      try f.delete(tmp, false) catch { case _: Throwable => () }
      throw new java.io.IOException(s"could not publish txn file $target")
    }
  }

  /** Stage every write: batch dirs land, the `.staged` intent records
    * them, NOTHING is visible to readers. Fails zero-trace (staged dirs
    * and the intent are removed) — the transaction never existed.
    */
  private[graft] def stageMulti(spark: SparkSession, txnDir: String,
      writes: Seq[MultiWrite], collectStats: Boolean = true)
      : (String, Seq[StagedWrite]) = {
    require(writes.nonEmpty, "empty transaction")
    require(writes.map(_.tableDir).distinct.size == writes.size,
      "one write per table per transaction")
    // validate EVERYTHING up front (constraints, append type) so a
    // rejected table aborts before any sibling's data lands
    writes.foreach { w =>
      enforceConstraints(spark, w.tableDir, w.df)
      if (w.append) appendTypeGuard(spark, w.tableDir, w.df.schema)
    }
    val tf = fs(spark, txnDir)
    tf.mkdirs(new Path(txnDir))
    val id = java.util.UUID.randomUUID().toString.take(12)
    val staged = scala.collection.mutable.ListBuffer.empty[StagedWrite]
    try {
      writes.foreach { w =>
        val batch = s"data/${java.util.UUID.randomUUID().toString.take(12)}"
        w.df.write.parquet(s"${w.tableDir}/$batch")
        val line = encodeLine(batch,
          if (collectStats)
            footerStats(spark, new Path(s"${w.tableDir}/$batch"))
          else Map.empty[String, ColStats],
          Some(w.df.schema.json))
        staged += StagedWrite(w.tableDir, batch, w.append,
          latestVersion(spark, w.tableDir), line)
      }
      // tmp + rename: the intent is the transaction's CLAIM TOKEN
      // (decide and rollback arbitrate by consuming it — see
      // [[decideMulti]]), so it must never exist truncated
      writeTxnFileAtomic(tf, new Path(txnDir, s"txn-$id.staged"),
        txnBody(staged.toSeq))
      (id, staged.toSeq)
    } catch { case e: Throwable =>
      staged.foreach { s =>
        try fs(spark, s.tableDir)
          .delete(new Path(s"${s.tableDir}/${s.batch}"), true)
        catch { case _: Throwable => () }
      }
      try tf.delete(new Path(txnDir, s"txn-$id.staged"), false)
      catch { case _: Throwable => () }
      throw e
    }
  }

  /** The COMMIT POINT — two steps whose combination is race-free:
    *
    *  1. RECORD: write the complete decision body to `txn-<id>.commit`
    *     (create-exclusive). The record alone decides nothing yet.
    *  2. CLAIM: atomically rename `txn-<id>.staged` →
    *     `txn-<id>.committing`. The intent file is the transaction's
    *     unique claim token: a rename consumes its source, so between
    *     this rename and a concurrent recovery's rename to
    *     `txn-<id>.rolling` EXACTLY ONE succeeds, and the surviving
    *     marker names the outcome. Publishes (here or in recovery)
    *     happen only under a `.committing` marker; batch deletion only
    *     under `.rolling` — the two can never interleave on one txn.
    *
    * This closes the round-11 TOCTOU (an exists-check on the intent
    * could pass while a recovery was mid-rollback): the outcome is now
    * decided by one atomic rename, not inferred from which files
    * happen to exist. A coordinator that stalls past the stale window
    * and loses the claim aborts loudly — unless a recovery claimed
    * COMMIT on its behalf (crash window between record and claim),
    * which it joins by falling through to the idempotent publishes.
    */
  private[graft] def decideMulti(spark: SparkSession, txnDir: String,
      id: String, staged: Seq[StagedWrite]): Unit = {
    val tf = fs(spark, txnDir)
    val sp = new Path(txnDir, s"txn-$id.staged")
    val cp = new Path(txnDir, s"txn-$id.commit")
    val cm = new Path(txnDir, s"txn-$id.committing")
    // cheap pre-check: a recovery that already rolled us back erased
    // the intent — abort before writing a record that would linger
    if (!tf.exists(sp) && !tf.exists(cm))
      throw new IllegalStateException(
        s"txn-$id aborted: its intent was claimed and rolled back by " +
          "a concurrent recovery (the stage outlived the stale window)")
    if (!tf.exists(cp)) {
      val out = tf.create(cp, false)
      try {
        out.write(txnBody(staged).getBytes("UTF-8"))
        out.close()
      } catch { case e: Throwable =>
        try out.close() catch { case _: Throwable => () }
        try tf.delete(cp, false) catch { case _: Throwable => () }
        staged.foreach { s =>
          try fs(spark, s.tableDir)
            .delete(new Path(s"${s.tableDir}/${s.batch}"), true)
          catch { case _: Throwable => () }
        }
        try tf.delete(sp, false) catch { case _: Throwable => () }
        throw e
      }
    }
    if (renameClaim(tf, sp, cm)) return // claim won: decision is COMMIT
    if (tf.exists(cm)) return // a recovery claimed commit on our behalf
    // claim lost. Either a recovery rolled us back (rolling marker or
    // already-finished rollback), or one rolled us fully FORWARD
    // (published everything and forgot the txn). Consult actual state:
    // every write visible = committed, join it; otherwise abort.
    if (staged.forall(s => publishedVersion(spark, s).isDefined)) return
    try tf.delete(cp, false) catch { case _: Throwable => () }
    throw new IllegalStateException(
      s"txn-$id aborted: its intent was claimed and rolled back by " +
        "a concurrent recovery (the stage outlived the stale window)")
  }

  /** The version (after the staged base) at which this staged write is
    * already visible, if any. Consults the live manifests AND the
    * manifest checkpoint's run history: a publish whose manifest (and
    * superseded batch dir) a later vacuum reclaimed is still named in
    * the checkpoint's runs — without that, a stale decision record
    * would re-publish an ancient overwrite over the current table.
    * ONE helper shared by publish, recovery and the consistent cut, so
    * they can never disagree about what "published" means.
    */
  private def publishedVersion(spark: SparkSession, s: StagedWrite)
      : Option[Long] = publishedVersionH(spark, s)._1

  /** (published version if provable, scan had vacuumed-away holes).
    * `holes = true` with `None` means UNPROVABLE-not-published: some
    * manifest in (baseV, latest] was reclaimed and no checkpoint names
    * the batch — the write may have published there and been
    * superseded. Callers deciding between "torn" and "superseded" must
    * not read that as a definite never-published.
    */
  private def publishedVersionH(spark: SparkSession, s: StagedWrite)
      : (Option[Long], Boolean) =
    publishedVersionScan(spark, s, s.baseV + 1L,
      latestVersion(spark, s.tableDir), priorHoles = false)

  /** The scan behind [[publishedVersionH]], restartable: probes
    * manifests `[fromV, toV]` only, carrying hole-knowledge from prior
    * rounds — [[publishStaged]]'s optimistic retry loop resumes from
    * its last probed version instead of rescanning from the staged
    * base, so losing R rounds to concurrent writers costs O(new
    * versions), not O(R × versions-behind).
    */
  private def publishedVersionScan(spark: SparkSession, s: StagedWrite,
      fromV: Long, toV: Long, priorHoles: Boolean): (Option[Long], Boolean) = {
    val f = fs(spark, s.tableDir)
    var holes = priorHoles
    // a HOLE is strictly a vacuumed-away manifest (FileNotFoundException)
    // — keepRefs' discipline. Any other IOException is a transient read
    // failure and must propagate: swallowing it here would let recovery
    // misclassify a genuinely torn decided txn as published-then-
    // superseded and silently forget the write.
    val found = (fromV to toV).find { v =>
      try readManifestF(f, s.tableDir, v).exists(l => parseLine(l)._1 == s.batch)
      catch { case _: java.io.FileNotFoundException => holes = true; false }
    }.orElse {
      // checkpoint history consult ONLY when the scan had vacuumed-away
      // holes — the happy path (base == latest, nothing missing) never
      // pays the checkpoint read
      if (!holes) None
      else {
        val statuses =
          try f.listStatus(logDir(s.tableDir)).toSeq
          catch { case _: java.io.FileNotFoundException => Seq.empty }
        latestCkptFrom(f, s.tableDir, statuses)
          .flatMap(_.runs.find(_._1 == s.batch).map(_._3))
          .filter(_ > s.baseV)
      }
    }
    (found, holes)
  }

  /** Publish one staged write — IDEMPOTENT: a batch already visible
    * after its staged base (live manifest or checkpoint history) is
    * never re-published, so a recovery racing the coordinator can
    * neither double-append the batch nor clobber a commit that landed
    * after it.
    */
  private[graft] def publishStaged(spark: SparkSession, s: StagedWrite,
      maxRetries: Int = 20): Long = {
    val f = fs(spark, s.tableDir)
    var attempt = 0
    // resume point: versions (s.baseV, probedTo] were already scanned
    // and do not contain the batch; each retry probes only what landed
    // since (round-11 advice — O(new versions), not O(retries × lag))
    var probedTo = s.baseV
    var seenHoles = false
    while (attempt < maxRetries) {
      val base = latestVersion(spark, s.tableDir)
      val (pub, holes) =
        publishedVersionScan(spark, s, probedTo + 1L, base, seenHoles)
      seenHoles = holes
      probedTo = math.max(probedTo, base)
      pub match {
        case Some(v) => return v
        case None =>
          // never publish a manifest naming a reclaimed dir — a vacuum
          // that outlived the in-flight grace turns roll-forward into a
          // bricked table otherwise (every read dies on a missing path)
          if (!f.exists(new Path(s"${s.tableDir}/${s.batch}")))
            throw new IllegalStateException(
              s"staged batch ${s.batch} of ${s.tableDir} no longer exists " +
                "(reclaimed?) and no manifest records it — cannot publish")
          val carried =
            if (s.append && base > 0) readManifest(spark, s.tableDir, base)
            else Nil
          if (writeManifestExclusive(f, s.tableDir, base + 1,
              if (s.append) "append" else "commit", carried :+ s.line))
            return base + 1
      }
      attempt += 1
    }
    throw new IllegalStateException(
      s"multi-commit publish to ${s.tableDir} lost $maxRetries optimistic rounds")
  }

  /** Atomically commit one batch to EACH of several tables: after this
    * returns (or after [[recoverMulti]] following a crash), either every
    * table reflects its write or none does. Returns tableDir → version.
    */
  def commitMulti(spark: SparkSession, txnDir: String,
      writes: Seq[MultiWrite], collectStats: Boolean = true)
      : Map[String, Long] = {
    val (id, staged) = stageMulti(spark, txnDir, writes, collectStats)
    decideMulti(spark, txnDir, id, staged)
    val versions = staged.map(s => s.tableDir -> publishStaged(spark, s)).toMap
    // forget: record first, then the claim marker — the intermediate
    // crash state (marker without record) reads as "publishes complete,
    // sweep the marker" in recovery
    val tf = fs(spark, txnDir)
    try tf.delete(new Path(txnDir, s"txn-$id.commit"), false)
    catch { case _: Throwable => () }
    try tf.delete(new Path(txnDir, s"txn-$id.committing"), false)
    catch { case _: Throwable => () }
    versions
  }

  /** Finish (or erase) every transaction a crashed coordinator left in
    * `txnDir`: a CLAIMED decision (`.commit` record + `.committing`
    * marker) → roll FORWARD (publish the staged writes, idempotently);
    * an undecided stale `.staged` intent → roll BACK by first CLAIMING
    * the abort (rename the intent to `.rolling` — the rename consumes
    * the unique claim token, so a racing [[decideMulti]] and this
    * rollback can never both win) and only then deleting the
    * never-visible batch dirs. A txn id whose files are unreadable in
    * an unreachable combination is damaged — fail loud, never guess.
    * Run at job start, before trusting cross-table invariants.
    *
    * Liveness fencing: an undecided `.staged` younger than
    * `staleAfterMs` is presumed to belong to a LIVE coordinator
    * between its stage and decide steps, and is left alone — rolling
    * it back under a running transaction would delete the batches its
    * decision is about to publish. A coordinator that stalls past the
    * window loses the claim rename and aborts at its decision point
    * instead of publishing over reclaimed dirs; one that recorded its
    * decision but crashed before claiming is finished by recovery
    * (claim then publish), so "decided" still means durable.
    *
    * Roll-forward honesty: a decided transaction whose unpublished
    * batches were reclaimed (a vacuum outlived [[InFlightGraceMs]])
    * can no longer be honored — if NONE of its writes ever became
    * visible, it rolls back (all-or-nothing preserved); if SOME did,
    * that is a genuinely torn state and recovery fails LOUD naming it
    * rather than publishing manifests over missing dirs.
    */
  def recoverMulti(spark: SparkSession, txnDir: String,
      staleAfterMs: Long = InFlightGraceMs): MultiRecovery = {
    val tf = fs(spark, txnDir)
    val dir = new Path(txnDir)
    if (!tf.exists(dir)) return MultiRecovery(Nil, Nil)
    val names = tf.listStatus(dir).toSeq.map(_.getPath.getName)
    def ageOf(p: Path): Long =
      try System.currentTimeMillis() - tf.getFileStatus(p).getModificationTime
      catch { case _: java.io.FileNotFoundException => Long.MaxValue }
    // sweep tmps from crashed atomic txn-file writes — age-gated, a
    // live writer's tmp is about to be renamed into place
    names.filter(n => n.startsWith("txn-") && n.contains(".tmp-")).foreach { n =>
      val p = new Path(txnDir, n)
      // ageOf reports a vanished file as infinitely stale; the delete of
      // an already-gone tmp is a no-op, so one sentinel serves both uses
      if (ageOf(p) >= staleAfterMs)
        try tf.delete(p, false) catch { case _: Throwable => () }
    }
    val ids = names
      .filterNot(_.contains(".tmp-"))
      .filter(n => n.startsWith("txn-") && (n.endsWith(".staged") ||
        n.endsWith(".committing") || n.endsWith(".commit") ||
        n.endsWith(".rolling")))
      .map(_.stripPrefix("txn-").stripSuffix(".staged")
        .stripSuffix(".committing").stripSuffix(".commit")
        .stripSuffix(".rolling"))
      .distinct.sorted
    val fwd = scala.collection.mutable.ListBuffer.empty[String]
    val back = scala.collection.mutable.ListBuffer.empty[String]

    def damaged(id: String): Nothing = throw new IllegalStateException(
      s"damaged transaction record txn-$id in $txnDir — present but " +
        "unreadable; repair or remove it explicitly")

    // under an ABORT claim (the rolling marker): no publish can ever
    // happen for this txn (publish requires the committing marker, whose
    // claim token this rename consumed), so batch deletion is safe
    def eraseRolledBack(id: String, staged: Seq[StagedWrite],
        cp: Path, rl: Path): Unit = {
      staged.foreach { s =>
        try fs(spark, s.tableDir)
          .delete(new Path(s"${s.tableDir}/${s.batch}"), true)
        catch { case _: Throwable => () }
      }
      // a late coordinator's record write may have landed after our
      // claim — erase it so the decision cannot be read back
      try tf.delete(cp, false) catch { case _: Throwable => () }
      tf.delete(rl, false)
      back += id
    }

    // under the COMMIT claim: classify each write — published
    // (provable), publishable (batch intact), provably-never-published-
    // and-gone, or AMBIGUOUS (batch gone, manifests vacuumed, no
    // checkpoint evidence — it may have published and been superseded)
    def rollForward(id: String, staged: Seq[StagedWrite],
        cp: Path, sp: Path, cm: Path): Unit = {
      val cls = staged.map { s =>
        val (pub, holes) = publishedVersionH(spark, s)
        val exists = pub.isDefined || fs(spark, s.tableDir)
          .exists(new Path(s"${s.tableDir}/${s.batch}"))
        (s, pub, exists, holes)
      }
      val goneProven = cls.filter { case (_, p, ex, h) =>
        p.isEmpty && !ex && !h }
      val ambiguous = cls.filter { case (_, p, ex, h) =>
        p.isEmpty && !ex && h }
      if (goneProven.nonEmpty && cls.exists(_._2.isDefined))
        throw new IllegalStateException(
          s"txn-$id is torn beyond repair: " +
            s"${cls.count(_._2.isDefined)} write(s) are visible but " +
            s"batch(es) ${goneProven.map(_._1.batch).mkString(", ")} " +
            "were reclaimed before ever publishing (vacuum outlived " +
            "the in-flight grace) — resolve manually, then delete " +
            "the txn files")
      if (goneProven.nonEmpty) {
        // decided but never-visible and batches reclaimed: honoring the
        // decision is impossible; all-or-nothing is preserved by rolling
        // the WHOLE txn back
        staged.foreach { s =>
          try fs(spark, s.tableDir)
            .delete(new Path(s"${s.tableDir}/${s.batch}"), true)
          catch { case _: Throwable => () }
        }
        try tf.delete(sp, false) catch { case _: Throwable => () }
        try tf.delete(cp, false) catch { case _: Throwable => () }
        try tf.delete(cm, false) catch { case _: Throwable => () }
        back += id
      } else {
        // writes with vacuumed evidence are superseded history (a
        // vacuum ran past them: nothing can replay there) — named,
        // never silently guessed wrong in the torn direction
        ambiguous.foreach { case (s, _, _, _) =>
          System.err.println(s"[txn] txn-$id: ${s.tableDir}/" +
            s"${s.batch} has vacuumed-away evidence; treating as " +
            "published-then-superseded") }
        // publish only what needs publishing — the classification
        // above already paid the scan for the rest
        cls.foreach { case (s, pub, ex, _) =>
          if (pub.isEmpty && ex) publishStaged(spark, s) }
        try tf.delete(sp, false) catch { case _: Throwable => () }
        tf.delete(cp, false)
        try tf.delete(cm, false) catch { case _: Throwable => () }
        fwd += id
      }
    }

    ids.foreach { id =>
      val sp = new Path(txnDir, s"txn-$id.staged")
      val cp = new Path(txnDir, s"txn-$id.commit")
      val cm = new Path(txnDir, s"txn-$id.committing")
      val rl = new Path(txnDir, s"txn-$id.rolling")
      // 1. an abort claim owns the txn whatever else exists: resume it
      readTxnFile(tf, rl) match {
        case Some(staged) => eraseRolledBack(id, staged, cp, rl)
        case None if tf.exists(rl) =>
          // the rolling marker is a renamed intent — unparsable means
          // tampering, never a protocol state
          damaged(id)
        case None => readTxnFile(tf, cp) match {
          case Some(staged) =>
            if (tf.exists(cm)) rollForward(id, staged, cp, sp, cm)
            else if (tf.exists(sp)) {
              // coordinator crashed between recording the decision and
              // claiming it. Finish the decide ourselves — but only for
              // a STALE intent (a live coordinator is about to claim);
              // the claim rename arbitrates if it races us
              if (ageOf(sp) >= staleAfterMs && renameClaim(tf, sp, cm))
                rollForward(id, staged, cp, sp, cm)
              // lost/withheld claim: the owner finishes; re-examine next run
            } else {
              // record present, claim token consumed, no marker: either
              // a completed claim whose marker was swept, or an abort
              // that raced a late record write. The classification
              // resolves it from actual state — all-gone-unpublished
              // rolls back (erasing the stray record), anything visible
              // or intact rolls forward
              rollForward(id, staged, cp, sp, cm)
            }
          case None if tf.exists(cp) =>
            // present-but-truncated record: a crash mid-decide, BEFORE
            // the claim — not a decision. Roll back from the intent
            // (claim-first); a live coordinator mid-write is protected
            // by the staleness gate on its intent
            readTxnFile(tf, sp) match {
              case Some(staged) =>
                if (ageOf(sp) >= staleAfterMs && renameClaim(tf, sp, rl))
                  eraseRolledBack(id, staged, cp, rl)
              case None =>
                // truncated record with no readable intent and no
                // marker is not a reachable protocol state — damage
                damaged(id)
            }
          case None =>
            if (tf.exists(cm)) {
              // cleanup crash tail: record already forgotten, publishes
              // done — sweep the marker
              try tf.delete(cm, false) catch { case _: Throwable => () }
            } else readTxnFile(tf, sp) match {
              case Some(staged) =>
                // undecided intent. Young = live coordinator between
                // its stage and decide steps: leave it alone. Stale =
                // crashed coordinator: claim the abort atomically FIRST
                // (rename consumes the intent — the round-11 TOCTOU is
                // gone: decide and rollback can no longer both win)
                if (ageOf(sp) >= staleAfterMs && renameClaim(tf, sp, rl))
                  eraseRolledBack(id, staged, cp, rl)
              case None if tf.exists(sp) => damaged(id)
              case None =>
                // absent-absent: a live coordinator can decide OR
                // complete between our listing and these reads — re-read
                // the record before declaring anything (round-11 advice:
                // a healthy decided txn must not abort the recovery run)
                readTxnFile(tf, cp) match {
                  case Some(staged) =>
                    if (tf.exists(cm)) rollForward(id, staged, cp, sp, cm)
                  // else: mid-decide, the live coordinator finishes
                  case None =>
                    if (tf.exists(cp) || tf.exists(sp)) damaged(id)
                  // else: completed and forgotten concurrently — healthy
                }
            }
        }
      }
    }
    MultiRecovery(fwd.toSeq, back.toSeq)
  }

  /** Cross-table CONSISTENT CUT: per-table versions at which no
    * multi-table transaction is half-visible. For every pending
    * decision (`.commit` file) whose writes are only PARTIALLY
    * published, each published table is capped below that publish —
    * the cut shows the pre-transaction state everywhere instead of the
    * torn middle. Fully-published pending txns (the coordinator just
    * hasn't forgotten them) are included — they're complete. The cap is
    * conservative: unrelated commits that landed after a torn txn's
    * publish on a table are excluded WITH it (versions are linear —
    * there is no consistent cut containing them but not the txn).
    * A version of 0 means the table has no pre-transaction snapshot.
    */
  def consistentVersions(spark: SparkSession, txnDir: String,
      tables: Seq[String]): Map[String, Long] = {
    val caps = scala.collection.mutable.Map[String, Long](
      tables.map(t => t -> latestVersion(spark, t)): _*)
    val tf = fs(spark, txnDir)
    val dir = new Path(txnDir)
    if (!tf.exists(dir)) return caps.toMap
    tf.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith("txn-") && n.endsWith(".commit"))
      .foreach { n =>
        readTxnFile(tf, new Path(txnDir, n)).foreach { staged =>
          // the SAME published-visibility helper recovery uses, so the
          // cut and roll-forward can never disagree about torn-ness
          val pubs = staged.map(s => s -> publishedVersion(spark, s))
          if (!pubs.forall(_._2.isDefined)) pubs.foreach {
            case (s, Some(v)) if caps.contains(s.tableDir) =>
              caps(s.tableDir) = math.min(caps(s.tableDir), v - 1L)
            case _ => ()
          }
        }
      }
    caps.toMap
  }

  /** [[read]] every table at the [[consistentVersions]] cut. A table
    * whose only content is a torn transaction (cut version 0) reads as
    * an EMPTY frame in the staged schema when one is recorded —
    * "nothing visible yet" is a legitimate consistent state, not an
    * error.
    */
  def readConsistent(spark: SparkSession, txnDir: String,
      tables: Seq[String]): Map[String, DataFrame] = {
    val cut = consistentVersions(spark, txnDir, tables)
    tables.map { t =>
      val v = cut(t)
      if (v > 0) t -> read(spark, t, asOf = Some(v))
      else {
        // recover a schema from a pending staged line for this table
        val tf = fs(spark, txnDir)
        val schema = tf.listStatus(new Path(txnDir)).toSeq
          .map(_.getPath.getName)
          .filter(n => n.startsWith("txn-") && n.endsWith(".commit"))
          .flatMap(n => readTxnFile(tf, new Path(txnDir, n)).toSeq.flatten)
          .collectFirst { case s if s.tableDir == t =>
            parseLineFull(s.line)._3
          }.flatten.getOrElse(throw new IllegalStateException(
            s"no committed version and no staged schema for $t"))
        t -> spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      }
    }.toMap
  }

  // ---- named cross-table snapshots: TAGS (round-12 verdict ask) -----
  // `readConsistent` computes a cross-table cut at call time; a
  // training run needs to NAME that cut and read exactly it later —
  // "run X trained on tag Y of (corpus, index, totals)" is the
  // reproducibility contract (the public analogues are Iceberg table
  // tags / Delta version-pinned reads, here spanning tables). A tag is
  //   - one pin file per table (`_log/tag-<name>`, the version) that
  //     [[vacuum]] respects exactly like a consumer ack, and
  //   - one cross-table manifest (`txnDir/tag-<name>`, tableDir →
  //     version), created EXCLUSIVELY, which is the tag's commit
  //     point.
  // Pins land first: a crash mid-tag leaves conservative litter
  // (versions over-protected, tag unreadable — dropTag cleans), never
  // a readable tag whose versions vacuum could reclaim.

  private def tagBody(cut: Map[String, Long]): String =
    ("tagv1" +: cut.toSeq.sortBy(_._1).map { case (t, v) =>
      s"${enc(t)}\t$v" } :+ "end").mkString("\n")

  private def parseTag(txt: String): Option[Map[String, Long]] = {
    val lines = txt.split('\n').toSeq.filter(_.nonEmpty)
    if (!lines.headOption.contains("tagv1") || lines.lastOption != Some("end"))
      None
    else scala.util.Try {
      lines.tail.init.map { l =>
        val a = l.split('\t'); (dec(a(0)), a(1).toLong)
      }.toMap
    }.toOption
  }

  /** Persist the CURRENT [[consistentVersions]] cut of `tables` under
    * `name`. Tags are immutable — re-tagging a live name fails;
    * [[dropTag]] first. Returns the pinned cut.
    */
  def tag(spark: SparkSession, txnDir: String, name: String,
      tables: Seq[String]): Map[String, Long] = {
    // ".tmp" is banned ANYWHERE in the name, not just as a suffix: the
    // listing/pin sweeps filter out the atomic-write tmp infix
    // (".tmp-"), so a legal-looking name containing it would produce a
    // tag that commits fine but is invisible to the vacuum gate — the
    // silent-unpin failure the gate exists to prevent
    require(name.matches("[A-Za-z0-9._-]+") && !name.contains(".tmp") &&
      !name.endsWith(".dropping"),
      s"bad tag name '$name'")
    require(tables.nonEmpty, "empty tag")
    val cut = consistentVersions(spark, txnDir, tables)
    cut.foreach { case (t, v) =>
      require(v >= 1L, s"table $t has no consistent visible version to tag") }
    val tf = fs(spark, txnDir)
    tf.mkdirs(new Path(txnDir))
    val mp = new Path(txnDir, s"tag-$name")
    if (tf.exists(mp)) throw new IllegalStateException(
      s"tag '$name' already exists in $txnDir — tags are immutable; " +
        "dropTag it first")
    // 1. per-table pins: vacuum starts respecting the cut NOW. With the
    // manifest absent (just checked), an existing pin of this name is a
    // crashed earlier tagger's litter — clear it so the rewrite cannot
    // fail on rename-no-overwrite stores
    cut.foreach { case (t, v) =>
      val f = fs(spark, t)
      val pin = new Path(logDir(t), s"tag-$name")
      try f.delete(pin, false) catch { case _: Throwable => () }
      writeTxnFileAtomic(f, pin, v.toString)
    }
    // lost the commit race: the winner's manifest is the truth — our
    // pin writes may have clobbered the winner's values, so repair
    // them to the manifest before failing (never delete: that would
    // unpin the winner)
    def loseToWinner(cause: Throwable): Nothing = {
      parseTag(try {
        val in = tf.open(mp)
        try scala.io.Source.fromInputStream(in).mkString finally in.close()
      } catch { case _: java.io.IOException => "" }).foreach { won =>
        won.foreach { case (t, v) =>
          val f = fs(spark, t)
          val pin = new Path(logDir(t), s"tag-$name")
          val current = try {
            val in = f.open(pin)
            Some(try scala.io.Source.fromInputStream(in).mkString.trim
              finally in.close())
          } catch { case _: java.io.IOException => None }
          // rewrite only a WRONG pin (delete+rewrite is a transient
          // unpin window — never open it when the value already agrees)
          if (!current.contains(v.toString)) try {
            f.delete(pin, false)
            writeTxnFileAtomic(f, pin, v.toString)
          } catch { case _: Throwable => () }
        }
      }
      throw new IllegalStateException(
        s"tag '$name' already exists in $txnDir — tags are immutable; " +
          "dropTag it first", cause)
    }
    // 1b. re-verify the cut is still live: a vacuum that passed the gate
    // BEFORE the pins landed may have reclaimed a pinned version in the
    // window — committing the tag anyway would produce a readable tag
    // whose read fails. Fail loud (retryable) and take the pins back —
    // UNLESS a racing same-name tagger committed a manifest meanwhile,
    // in which case the pins now guard the WINNER and deleting them
    // would silently unpin a live tag. Residual: a vacuum between this
    // check and the manifest create can still win the race; the
    // gate-before-delete on the vacuum side keeps that window at two
    // metadata ops.
    val vacuumed = cut.filter { case (t, v) =>
      !fs(spark, t).exists(new Path(logDir(t), s"v$v")) }
    if (vacuumed.nonEmpty) {
      if (tf.exists(mp)) loseToWinner(null)
      cut.keys.foreach { t =>
        try fs(spark, t).delete(new Path(logDir(t), s"tag-$name"), false)
        catch { case _: Throwable => () }
      }
      throw new IllegalStateException(
        s"tag '$name' lost a race with vacuum: version(s) ${vacuumed.toSeq
          .sorted.map { case (t, v) => s"$t@v$v" }.mkString(", ")} were " +
          "reclaimed before the pins landed — retry the tag")
    }
    // 2. the manifest — the tag's commit point (create-exclusive; a
    // racing tagger of the same name loses here, after writing pins
    // that dropTag can reclaim). Only the CREATE distinguishes a lost
    // race; a failure of our own write-after-create leaves a manifest
    // WE own, which must not sit there looking committed — delete it
    // and surface the real error.
    val out = try tf.create(mp, false) catch {
      case e: java.io.IOException =>
        if (tf.exists(mp)) loseToWinner(e) else throw e
    }
    try {
      try out.write(tagBody(cut).getBytes("UTF-8")) finally out.close()
    } catch { case e: Throwable =>
      try tf.delete(mp, false) catch { case _: Throwable => () }
      throw e
    }
    cut
  }

  /** The pinned cut of a tag; fails loud on a missing or damaged tag. */
  def tagVersions(spark: SparkSession, txnDir: String,
      name: String): Map[String, Long] = {
    val tf = fs(spark, txnDir)
    val mp = new Path(txnDir, s"tag-$name")
    val txt = try {
      val in = tf.open(mp)
      try scala.io.Source.fromInputStream(in).mkString finally in.close()
    } catch { case _: java.io.FileNotFoundException =>
      throw new IllegalStateException(s"no tag '$name' in $txnDir")
    }
    parseTag(txt).getOrElse(throw new IllegalStateException(
      s"damaged tag manifest tag-$name in $txnDir — repair or dropTag it"))
  }

  /** [[read]] every table of the tag at exactly its pinned version —
    * immune to every commit, compaction or overwrite since the tag.
    */
  def readTag(spark: SparkSession, txnDir: String,
      name: String): Map[String, DataFrame] =
    tagVersions(spark, txnDir, name).map { case (t, v) =>
      t -> read(spark, t, asOf = Some(v)) }

  /** Live tags in `txnDir` (manifest present = committed). */
  def tags(spark: SparkSession, txnDir: String): Seq[String] = {
    val tf = fs(spark, txnDir)
    if (!tf.exists(new Path(txnDir))) return Nil
    tf.listStatus(new Path(txnDir)).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith("tag-") && !n.contains(".tmp-") &&
        !n.endsWith(".dropping"))
      .map(_.stripPrefix("tag-")).sorted
  }

  /** Delete a tag: manifest FIRST (readers stop resolving it), then
    * the per-table pins (vacuum stops protecting it). Crash between
    * the two leaves only over-protection — re-run to finish.
    *
    * A crashed half-tag (pins written, manifest never committed) has no
    * manifest to enumerate its pins from, so cleaning one REQUIRES the
    * caller to pass `tables` — silently deleting nothing would leave
    * orphaned pins blocking vacuum forever through the very API the
    * vacuum error message directs operators to.
    */
  def dropTag(spark: SparkSession, txnDir: String, name: String,
      tables: Seq[String] = Nil): Unit = {
    val tf = fs(spark, txnDir)
    // the tombstone records the pinned-table list BEFORE the manifest
    // goes, so a crash between the manifest delete and the pin sweep is
    // re-runnable with no arguments (the "re-run to finish" contract —
    // the manifest was the only other record of which tables to sweep)
    val tomb = new Path(txnDir, s"tag-$name.dropping")
    def readTomb: Option[Seq[String]] = try {
      val in = tf.open(tomb)
      val txt = try scala.io.Source.fromInputStream(in).mkString
        finally in.close()
      Some(txt.split('\n').toSeq.filter(_.nonEmpty).map(dec))
    } catch { case _: java.io.FileNotFoundException => None }
    val fromManifest = // prefer the manifest's own table list
      try Some(tagVersions(spark, txnDir, name).keys.toSeq)
      catch { case _: IllegalStateException => None }
    val pinned = fromManifest.orElse(readTomb).getOrElse {
      if (tables.nonEmpty) tables
      else throw new IllegalStateException(
        s"tag '$name' has no manifest and no drop tombstone in $txnDir — " +
          "either it was already dropped, or a crashed tag() left only " +
          "per-table pins; in the latter case pass the tables whose pins " +
          "should be swept: dropTag(spark, txnDir, name, tables)")
    }
    if (fromManifest.isDefined)
      writeTxnFileAtomic(tf, tomb, pinned.map(enc).mkString("\n"))
    tf.delete(new Path(txnDir, s"tag-$name"), false)
    pinned.foreach { t =>
      try fs(spark, t).delete(new Path(logDir(t), s"tag-$name"), false)
      catch { case _: java.io.IOException => () }
    }
    try tf.delete(tomb, false) catch { case _: Throwable => () }
  }

  /** Tag pins of one table (name → pinned version), for the vacuum
    * gate. Damaged pins fail loud — the gate depends on them.
    */
  private def tablePins(f: FileSystem, tableDir: String): Map[String, Long] = {
    val dir = logDir(tableDir)
    if (!f.exists(dir)) return Map.empty
    f.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith("tag-") && !n.contains(".tmp-"))
      .map { n =>
        val p = new Path(dir, n)
        val in = f.open(p)
        val txt = try scala.io.Source.fromInputStream(in).mkString.trim
          finally in.close()
        n.stripPrefix("tag-") -> txt.toLongOption.getOrElse(
          throw new IllegalStateException(
            s"unparsable tag pin $p ('$txt') — repair or delete it " +
              "(dropTag) explicitly"))
      }.toMap
  }

  private def requireNoTaggedReclaim(spark: SparkSession,
      tableDir: String, retainFrom: Long): Unit = {
    val pinned = tablePins(fs(spark, tableDir), tableDir)
      .filter(_._2 < retainFrom)
    if (pinned.nonEmpty) throw new IllegalStateException(
      s"vacuum $tableDir retainFrom=$retainFrom would reclaim version(s) " +
        s"pinned by tag(s) ${pinned.toSeq.sorted
          .map { case (n, v) => s"$n@v$v" }.mkString(", ")}; dropTag " +
        "them, or pass force=true to break those snapshots knowingly")
  }

  /** CDC consumer registry (round-10): an incremental consumer records
    * the last source version it has folded, and [[vacuum]] refuses to
    * reclaim the replay window a registered consumer still needs — its
    * next catch-up reads `changeFeed(acked, latest)`, whose earliest
    * diff base is manifest `acked`. One tiny file per consumer
    * (`_log/consumer-<name>`), so concurrent consumers never
    * read-modify-write each other; acks are monotonic (a stale
    * re-delivery can't move a consumer backwards). This turns the
    * "keep retention ≥ consumer lag" convention into an enforced
    * contract — the failure it prevents is the silent one where a
    * scheduler vacuums on a size policy and a weekly dashboard's next
    * fold dies on a reclaimed manifest.
    */
  private def readConsumerAck(f: FileSystem, tableDir: String,
      name: String): Option[Long] = {
    def readAt(p: Path): Option[Long] =
      try {
        val in = f.open(p)
        val txt = try scala.io.Source.fromInputStream(in).mkString.trim
          finally in.close()
        // an unparsable ack is a DAMAGED pin, not an absent one — surface
        // it rather than silently unpinning the consumer (the vacuum gate
        // depends on this being loud)
        Some(txt.toLongOption.getOrElse(throw new IllegalStateException(
          s"unparsable consumer ack $p ('$txt') — repair or delete it " +
            "(dropConsumer) explicitly")))
      } catch { case _: java.io.FileNotFoundException => None }
    val p = new Path(logDir(tableDir), s"consumer-$name")
    readAt(p).orElse {
      // absence-with-tmp-present = a publish crashed between the old
      // pin's delete and the new pin's rename (ackConsumer only deletes
      // after the tmp is fully written and synced, so the tmp IS the
      // committed ack). Recover it by COPY, never by renaming the tmp:
      // stealing a LIVE acker's tmp would fail its rename, and its
      // delete-primary-then-retry path could erase the very pin we just
      // repaired into place (round-11 advice — the transiently-unpinned
      // window a concurrent vacuum could slip through). The tmp stays;
      // its owner renames or a later ack overwrites it.
      val tmp = new Path(logDir(tableDir), s"consumer-$name.tmp")
      readAt(tmp).map { v =>
        try {
          // create-exclusive: never clobber a primary a concurrent
          // acker published between our two reads
          val out = f.create(p, false)
          try out.write(v.toString.getBytes("UTF-8")) finally out.close()
        } catch { case _: java.io.IOException => () }
        v
      }.orElse(readAt(p))
    }
  }

  /** Names ending in `.tmp` are rejected (round-11): `consumer-X.tmp`
    * must unambiguously be X's in-flight publish for the crash
    * recovery in [[readConsumerAck]]/[[consumerAcks]]. A registry that
    * predates this rule and really holds a consumer literally named
    * `foo.tmp` will have its pin re-attributed to `foo` on first read;
    * `dropConsumer` under either name removes both files — re-register
    * under a legal name.
    */
  def ackConsumer(spark: SparkSession, tableDir: String, name: String,
      version: Long): Unit = {
    require(name.matches("[A-Za-z0-9._-]+") && !name.endsWith(".tmp"),
      s"bad consumer name '$name'")
    val latest = latestVersion(spark, tableDir)
    require(version >= 1 && version <= latest,
      s"ack $version outside committed range [1, $latest] of $tableDir")
    val f = fs(spark, tableDir)
    // monotonicity probe reads ONE file (never a _log listing — a
    // streaming view acks every trigger, and an O(history) LIST per
    // micro-batch is the metadata bug the _latest hint exists to avoid)
    if (readConsumerAck(f, tableDir, name).exists(_ >= version)) return
    // tmp + rename: the ack is LOAD-BEARING (it pins vacuum), so a
    // crash mid-write must leave the old pin intact, never a truncated
    // file that silently unpins the consumer
    val p = new Path(logDir(tableDir), s"consumer-$name")
    val tmp = new Path(logDir(tableDir), s"consumer-$name.tmp")
    val out = f.create(tmp, true)
    try out.write(version.toString.getBytes("UTF-8")) finally out.close()
    // rename-FIRST: most filesystems refuse an overwriting rename, so
    // only then delete the old pin and retry — shrinking the
    // no-primary window to delete→rename (which readConsumerAck /
    // consumerAcks recover from via the surviving tmp)
    if (!f.rename(tmp, p)) {
      // re-probe BEFORE deleting the primary: a reader's crash-repair
      // may have copied our own tmp's value into place — deleting it
      // would transiently erase the pin a concurrent vacuum depends on
      if (readConsumerAck(f, tableDir, name).exists(_ >= version)) return
      f.delete(p, false)
      if (!f.rename(tmp, p)) {
        // a concurrent reader may have REPAIRED our tmp into place
        // (readConsumerAck finishes crashed publishes) — if the
        // registry already holds >= version, the ack landed; failing a
        // correct state would crash a healthy maintenance trigger
        if (!readConsumerAck(f, tableDir, name).exists(_ >= version))
          throw new java.io.IOException(
            s"could not publish consumer ack $p")
      }
    }
  }

  /** Registered consumers and their acked versions. Fails loud on a
    * damaged ack file — see [[ackConsumer]].
    */
  def consumerAcks(spark: SparkSession, tableDir: String): Map[String, Long] = {
    val f = fs(spark, tableDir)
    val dir = logDir(tableDir)
    if (!f.exists(dir)) return Map.empty
    f.listStatus(dir).toSeq
      .map(_.getPath.getName)
      .filter(_.startsWith("consumer-"))
      // a name whose ONLY file is the tmp is a crashed publish —
      // readConsumerAck recovers its value, so it must appear here too
      // (dropping it would silently unpin the consumer from vacuum)
      .map(n => n.stripPrefix("consumer-").stripSuffix(".tmp"))
      .distinct
      .flatMap { name =>
        readConsumerAck(f, tableDir, name).map(name -> _)
      }.toMap
  }

  /** Deregister a consumer (its lag no longer pins retention). */
  def dropConsumer(spark: SparkSession, tableDir: String, name: String): Unit = {
    val f = fs(spark, tableDir)
    f.delete(new Path(logDir(tableDir), s"consumer-$name"), false)
    f.delete(new Path(logDir(tableDir), s"consumer-$name.tmp"), false)
  }

  private def requireNoLaggingConsumers(spark: SparkSession,
      tableDir: String, retainFrom: Long): Unit = {
    val lagging = consumerAcks(spark, tableDir).filter(_._2 < retainFrom)
    if (lagging.nonEmpty) throw new IllegalStateException(
      s"vacuum $tableDir retainFrom=$retainFrom would reclaim the replay " +
        s"window of registered consumer(s) ${lagging.toSeq.sorted
          .map { case (n, v) => s"$n@v$v" }.mkString(", ")}; fold them " +
        "forward (ackConsumer), dropConsumer the dead ones, or pass " +
        "force=true to break their feeds knowingly")
  }

  def vacuum(spark: SparkSession, tableDir: String, retainFrom: Long,
      force: Boolean = false,
      inFlightGraceMs: Long = InFlightGraceMs): Unit = {
    val f = fs(spark, tableDir)
    val latest = latestVersion(spark, tableDir)
    require(retainFrom <= latest, s"retainFrom $retainFrom > latest $latest")
    // registered consumers pin retention: reclaiming past the slowest
    // ack would break its next changeFeed(acked, latest) fold — and
    // tag pins protect named snapshots the same way (round-12)
    if (!force) {
      requireNoLaggingConsumers(spark, tableDir, retainFrom)
      requireNoTaggedReclaim(spark, tableDir, retainFrom)
    }
    val statuses = f.listStatus(logDir(tableDir)).toSeq
    // deletion-vector files referenced by any retained manifest survive
    // with their snapshots; superseded/purged vectors go with vacuum.
    // Never-referenced YOUNG dirs are in-flight writes — spared (see
    // [[InFlightGraceMs]]); a vacuum racing a commit or a multi-table
    // stage must not eat the batch its manifest is about to name.
    val (doomedDirs, doomedFiles) =
      vacuumDoomed(f, tableDir, retainFrom, latest, statuses, inFlightGraceMs)
    doomedDirs.foreach(p => f.delete(p, true))
    // manifests/info/checkpoints below the retention point go with
    // their versions (readers fall back to per-version files until the
    // next checkpoint)
    doomedFiles.foreach(p => f.delete(p, false))
  }
}
