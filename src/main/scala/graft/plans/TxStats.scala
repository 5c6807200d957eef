package graft.plans

import graft.sources.TxLog

import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.{CatalogColumnStat, CatalogStatistics, CatalogStorageFormat, CatalogTable, CatalogTableType}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types._

/** Manifest statistics → Catalyst `Statistics` for registered TxLog
  * scans — the engine's CBO feed.
  *
  * Without this, join planning sizes a parquet scan by its FILE BYTES
  * (`HadoopFsRelation.sizeInBytes`), and zstd text compresses so hard
  * that a multi-GB-in-memory frame can look broadcastable — the
  * driver-OOM failure mode that [[graft.GraftSession]]'s small static
  * broadcast threshold bounds for frames no manifest describes. The
  * TxLog manifest already holds the EXACT footer row count of every
  * batch (harvested free at commit; tombstones NOT
  * subtracted — they don't apply to asOf scans of the same dirs, and
  * over-estimating is the safe direction for broadcast decisions);
  * this rule reports it through the relation as
  * `CatalogStatistics(rowCount, rowCount × schema-derived row width)`,
  * so broadcast-vs-merge flips on real cardinalities at any scale —
  * the planner makes the decision from data. The index-backed
  * retrieval paths ([[graft.operators.TextRetrieval
  * .bm25TopKIndexed]], [[graft.operators.Similarity.ivfTopKIndexed]])
  * carry NO join hints for exactly this reason.
  *
  * COLUMN-level stats ride the same channel: per-column min/max (the
  * footer bounds the manifest already carries), exact null counts, and
  * KMV-merged NDV (when the table committed `collectSketches`) attach
  * as `CatalogColumnStat`s over exactly the scanned batches. Under
  * `spark.sql.cbo.enabled` that is what Catalyst's FilterEstimation /
  * JoinEstimation consume — a selective filter over a registered table
  * is COSTED from manifest facts (est. rows ≈ selectivity × exact
  * count), so a filtered-tiny side of a join broadcasts with no hint
  * even though the unfiltered table is huge: the ANALYZE TABLE
  * outcome, paid for at commit time instead of a second scan
  * (TxStatsSpec pins the flip). NDV attaches only from real sketches,
  * never a guess; bounds attach only when the manifest kind matches
  * the column's Catalyst type exactly (integral↔l, floating↔d with
  * finite bounds) — a skipped column falls back to Catalyst's own
  * defaults rather than feed the estimator fiction.
  *
  * Soundness / scope:
  *  - fires only on scans whose EVERY root path is a batch dir of a
  *    registered table's LATEST manifest (full snapshot reads and any
  *    manifest-pruned subset — per-dir row counts are immutable facts,
  *    so summing the scanned subset is exact; an unknown dir, e.g. a
  *    time-travel read of a vacuumed-away version, reports nothing);
  *  - attaches ONLY statistics (a synthetic `CatalogTable` whose
  *    `stats` field `LogicalRelation.computeStats` consults); the
  *    relation, output attributes and file index are untouched, so
  *    results cannot change — only plan choice;
  *  - scans that already carry a catalog table are left alone;
  *  - size = rowCount × `EstimationUtils.getSizePerRow(output)` — the
  *    same width model Catalyst uses everywhere above the scan, i.e.
  *    the IN-MEMORY size joins actually pay, not the compressed bytes;
  *  - NDV declines when any scanned batch carries a deletion vector
  *    (tombstoned values would over-count it past the "live rows"
  *    meaning CBO assigns; rows/bounds keep — over-estimates, the safe
  *    direction);
  *  - legacy manifests without row counts contribute nothing (fall
  *    back to file-size estimation rather than guess).
  */
object TxStatsRule extends Rule[LogicalPlan] {

  /** STATS-ONLY registrations: tables that want manifest row counts in
    * the planner WITHOUT enrolling in TxPrune/DynPrune (whose
    * planning-time work — and DynPrune's dim-side EXECUTION — is wasted
    * on scans the caller already manifest-pruned, e.g. the committed
    * retrieval indexes). `TxLog.table` registrations (TxPruneRule's
    * set) get stats too.
    */
  private val statsTables =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  def register(tableDir: String): Unit =
    statsTables.add(TxPruneRule.norm(tableDir))

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!TxPruneRule.anyRegistered && statsTables.isEmpty) plan
    else plan.transformUp {
      case l: LogicalRelation if l.catalogTable.isEmpty =>
        withStats(l).getOrElse(l)
    }

  private def withStats(l: LogicalRelation): Option[LogicalRelation] = {
    val fsRel = l.relation match {
      case h: HadoopFsRelation if h.partitionSchema.isEmpty => h
      case _ => return None
    }
    val roots = fsRel.location.rootPaths.map(p => TxPruneRule.norm(p.toString))
    if (roots.isEmpty) return None
    val tableDir = TxPruneRule.registeredDirOf(roots)
      .orElse(TxPruneRule.dirOf(roots).filter(statsTables.contains))
      .getOrElse(return None)
    val spark = fsRel.sparkSession
    val byDir =
      try TxLog.manifest(spark, tableDir).map { case (d, st) =>
        TxPruneRule.norm(s"$tableDir/$d") -> st
      }.toMap
      catch { case _: IllegalArgumentException => return None }
    // the SCANNED subset's stats lines (order irrelevant — sums/bounds
    // /KMV merges are commutative); any unknown dir disqualifies
    val lines = roots.map(r => byDir.getOrElse(r, return None))
    var rows = BigInt(0)
    lines.foreach(st =>
      rows += TxLog.batchRows(st).getOrElse(return None))
    val size = (rows * EstimationUtils.getSizePerRow(l.output)).max(BigInt(1))
    val anyDv = lines.exists(st => TxLog.dvOf(st).isDefined)
    val colStats = l.output.flatMap(a =>
      colStatFor(a.name, a.dataType, lines, anyDv).map(a.name -> _)).toMap
    val ct = CatalogTable(
      identifier = TableIdentifier("txlog_manifest_stats"),
      tableType = CatalogTableType.EXTERNAL,
      storage = CatalogStorageFormat.empty,
      schema = l.schema,
      provider = Some("parquet"),
      stats = Some(CatalogStatistics(size, Some(rows), colStats)))
    Some(l.copy(catalogTable = Some(ct)))
  }

  /** One column's `CatalogColumnStat` from the scanned lines, or None
    * when the manifest holds nothing CBO-safe for it. min/max use
    * `CatalogColumnStat`'s external string form — for the admitted
    * numeric types that IS the literal's string, which the manifest
    * already stores.
    */
  private def colStatFor(name: String, dt: DataType,
      lines: Seq[Map[String, TxLog.ColStats]],
      anyDv: Boolean): Option[CatalogColumnStat] = {
    val bounds: Option[(String, String)] = {
      val per = lines.map(_.get(name))
      if (per.isEmpty || per.exists(_.isEmpty)) None
      else {
        val cs = per.flatten
        val kindOk = cs.map(_.kind).distinct match {
          case Seq("l") => dt match {
            case ByteType | ShortType | IntegerType | LongType => true
            case _ => false
          }
          case Seq("d") => dt match {
            // NaN/Infinity bounds would feed the estimator unorderable
            // endpoints — decline them (same rule as range pruning)
            case FloatType | DoubleType => cs.forall(c =>
              scala.util.Try(c.min.toDouble).toOption.exists(_.isFinite) &&
              scala.util.Try(c.max.toDouble).toOption.exists(_.isFinite))
            case _ => false
          }
          case _ => false
        }
        if (!kindOk) None
        else {
          val kind = cs.head.kind
          val mn = cs.map(_.min).reduce((a, b) =>
            if (TxLog.kindLte(kind, a, b)) a else b)
          val mx = cs.map(_.max).reduce((a, b) =>
            if (TxLog.kindLte(kind, a, b)) b else a)
          Some((mn, mx))
        }
      }
    }
    val nulls: Option[BigInt] = {
      val per = lines.map(TxLog.batchNulls(_, name))
      if (per.exists(_.isEmpty)) None
      else Some(per.flatten.map(BigInt(_)).sum)
    }
    val ndv: Option[BigInt] =
      if (anyDv) None
      else TxLog.mergeNdv(lines, name)
        .map(d => BigInt(math.max(1L, math.round(d))))
    if (bounds.isEmpty && nulls.isEmpty && ndv.isEmpty) None
    else Some(CatalogColumnStat(
      distinctCount = ndv,
      min = bounds.map(_._1),
      max = bounds.map(_._2),
      nullCount = nulls,
      // fixed-width types: the exact in-memory width; variable-width:
      // decline (Catalyst falls back to its own default, which is a
      // MODEL it owns — not a fact we'd be inventing)
      avgLen = if (dt.isInstanceOf[NumericType]) Some(dt.defaultSize.toLong) else None,
      maxLen = if (dt.isInstanceOf[NumericType]) Some(dt.defaultSize.toLong) else None,
      histogram = None))
  }
}
