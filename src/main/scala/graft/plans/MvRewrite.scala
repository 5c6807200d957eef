package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

import scala.collection.concurrent.TrieMap

/** Materialized-view rewrite — aggregate navigation as a Catalyst
  * optimizer rule.
  *
  * At 100 TB the same `GROUP BY dim` rollups are recomputed constantly;
  * the warehouse answer is to materialize them once and have the
  * PLANNER substitute the view whenever a query's aggregate is
  * subsumed by it — users keep writing queries against the base table.
  * [[MvCatalog.register]] materializes `base GROUP BY g → count(1),
  * sum/min/max(measures)` to parquet and records the mapping;
  * [[MvRewriteRule]] (injected via `graft.GraftExtensions`) then
  * replaces any matching `Aggregate` over the base relation with a scan
  * of the view — a TB scan becomes a KB scan, no user opt-in.
  *
  * Matching is deliberately conservative (exact base paths, grouping
  * set equal to the view's, only count/sum/min/max without
  * DISTINCT/FILTER, nothing but column-pruning Projects between the
  * aggregate and the scan) — a near-miss silently falls through to the
  * normal plan, never to a wrong rewrite. Output attribute ids and
  * types are preserved via aliases, so parent operators are untouched.
  *
  * Staleness: a view is consulted only while its `valid` flag holds;
  * [[MvCatalog.invalidate]] drops it (e.g. after a base write), and a
  * CDC-maintained view can be kept fresh with
  * [[graft.operators.Cdc.incrementalAgg]] + re-register. The registry
  * is driver-side state — exactly where Catalyst rules run.
  */
object MvCatalog {

  /** Present when the view's base is a TxLog table and the view opted
    * into auto-refresh: enough to re-derive the view after a base
    * commit. `version` is the snapshot the current materialization
    * reflects.
    */
  final case class TxMv(
      tableDir: String,
      var version: Long,
      measureCols: Seq[String],
      mvPath: String)

  final case class MvEntry(
      name: String,
      var basePaths: Set[String],
      groupCols: Seq[String],
      measures: Map[String, String], // canonical agg key -> view column
      var view: LogicalRelation,
      var valid: Boolean,
      tx: Option[TxMv] = None)

  private val entries = TrieMap.empty[String, MvEntry]

  private def relationOf(spark: SparkSession, path: String): LogicalRelation =
    spark.read.parquet(path).queryExecution.analyzed.collectFirst {
      case l: LogicalRelation => l
    }.getOrElse(throw new IllegalStateException(s"no relation for $path"))

  private def viewAggs(measureCols: Seq[String]) =
    count(lit(1)).as("n") +:
      measureCols.flatMap(m => Seq(
        sum(col(m)).as(s"sum_$m"),
        min(col(m)).as(s"min_$m"),
        max(col(m)).as(s"max_$m")))

  private def materialize(
      base: org.apache.spark.sql.DataFrame,
      groupCols: Seq[String],
      measureCols: Seq[String],
      mvPath: String): Unit =
    // The materialization is itself a subsumable aggregate: with a prior
    // registration live, the rewrite rule would redirect THIS query to
    // the view directory the overwrite is about to clear (read-under-
    // overwrite -> FILE_NOT_EXIST). Suspend the rule for the rebuild.
    MvRewriteRule.suspend {
      val aggs = viewAggs(measureCols)
      base.groupBy(groupCols.map(col): _*)
        .agg(aggs.head, aggs.tail: _*)
        .write.mode("overwrite").parquet(mvPath)
    }

  private def measureMap(measureCols: Seq[String]): Map[String, String] =
    Map("count" -> "n") ++
      measureCols.flatMap(m => Seq(
        s"sum:$m" -> s"sum_$m", s"min:$m" -> s"min_$m", s"max:$m" -> s"max_$m"))

  /** Materialize `parquet(basePath) GROUP BY groupCols → count(1) AS n,
    * sum(m) AS sum_m, min(m) AS min_m, max(m) AS max_m` to `mvPath` and
    * register it for rewriting.
    */
  def register(
      spark: SparkSession,
      name: String,
      basePath: String,
      groupCols: Seq[String],
      measureCols: Seq[String],
      mvPath: String): Unit = {
    materialize(spark.read.parquet(basePath), groupCols, measureCols, mvPath)
    // re-registration overwrites the view's parquet: drop any stale
    // file-listing/cache state for the path before capturing the new
    // relation, or a previously-planned query could still reference the
    // replaced part files
    spark.catalog.refreshByPath(mvPath)
    entries(name) = MvEntry(
      name,
      rootPaths(relationOf(spark, basePath)),
      groupCols, measureMap(measureCols),
      relationOf(spark, mvPath),
      valid = true)
  }

  /** Auto-refreshing registration over a [[graft.sources.TxLog]] table:
    * a base commit still flips the view invalid (via
    * [[invalidateByPath]]), but the NEXT query over the base re-
    * maintains it instead of falling back to the base scan forever —
    * the DVC-style "derive when stale, skip when fresh" discipline
    * applied to derived tables. Append-only commits are maintained
    * INCREMENTALLY (aggregate the new batches only, merge into the
    * stored view — n/sum add, min/max compose under inserts; cost ∝
    * delta, the [[graft.operators.Cdc.incrementalAgg]] shape); an
    * overwrite, or a float-summed measure (re-summing partial float
    * sums is order-sensitive), falls back to a full rebuild.
    */
  def registerTx(
      spark: SparkSession,
      name: String,
      tableDir: String,
      groupCols: Seq[String],
      measureCols: Seq[String],
      mvPath: String): Unit = {
    val v = graft.sources.TxLog.latestVersion(spark, tableDir)
    val base = graft.sources.TxLog.read(spark, tableDir, Some(v))
    materialize(base, groupCols, measureCols, mvPath)
    spark.catalog.refreshByPath(mvPath)
    entries(name) = MvEntry(
      name,
      base.queryExecution.analyzed.collectFirst {
        case l: LogicalRelation => rootPaths(l)
      }.getOrElse(Set.empty),
      groupCols, measureMap(measureCols),
      relationOf(spark, mvPath),
      valid = true,
      tx = Some(TxMv(tableDir, v, measureCols, mvPath)))
  }

  def invalidate(name: String): Unit = entries.get(name).foreach(_.valid = false)
  def drop(name: String): Unit = entries.remove(name)

  /** Test hook: the registered entry, for plan/IO assertions. */
  private[graft] def entry(name: String): Option[MvEntry] = entries.get(name)

  /** All candidates that could answer an aggregate over `basePaths` —
    * the CALLER checks grouping/measure subsumption per entry, so two
    * views registered over the same base both get a chance (an
    * arbitrary-pick here used to shadow the matching one). A STALE
    * auto-refresh entry whose table's latest snapshot is exactly
    * `basePaths` is re-maintained here, on first lookup — planning-time
    * maintenance, driver-side like the rule itself.
    */
  def candidates(basePaths: Set[String]): Iterable[MvEntry] = {
    val live = entries.values.filter(e => e.valid && e.basePaths == basePaths)
    val refreshed = entries.values
      .filter(e => !e.valid && e.tx.isDefined)
      .flatMap(e => tryRefresh(e, basePaths))
    live ++ refreshed
  }

  private def normSet(ps: Iterable[String]): Set[String] =
    ps.map(normalize).toSet

  /** Re-maintain a stale TxLog-backed view iff the querying scan reads
    * the table's LATEST snapshot (`queryPaths` = its batch dirs).
    * Returns the entry refreshed-and-valid, or None (leaving the query
    * on its normal plan — never a wrong rewrite).
    */
  private def tryRefresh(e: MvEntry, queryPaths: Set[String]): Option[MvEntry] =
    e.synchronized {
      if (e.valid) return Some(e).filter(_.basePaths == queryPaths)
      val tx = e.tx.getOrElse(return None)
      val spark = SparkSession.active
      val latest = graft.sources.TxLog.latestVersion(spark, tx.tableDir)
      if (latest <= 0) return None
      val latestDirs = graft.sources.TxLog.manifest(spark, tx.tableDir, Some(latest))
        .map { case (d, _) => s"${tx.tableDir}/$d" }
      if (normSet(queryPaths) != normSet(latestDirs)) return None
      val recorded = normSet(e.basePaths)
      val newDirs = latestDirs.filterNot(d => recorded(normalize(d)))
      val appendOnly = recorded.subsetOf(normSet(latestDirs))
      val mvDst = new org.apache.hadoop.fs.Path(tx.mvPath)
      val mvOld = new org.apache.hadoop.fs.Path(tx.mvPath + ".refresh-old")
      val mvTmp = new org.apache.hadoop.fs.Path(tx.mvPath + ".refresh-tmp")
      val mvFs = mvDst.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // a swap that died between set-aside and publish left nothing at
      // mvPath with the PRE-refresh view intact at .refresh-old —
      // restore it (it is the version this entry's metadata describes;
      // the .refresh-tmp dir is a LATER version the fold below would
      // double-count against). mvMissing after recovery ⇒ the stored
      // materialization is unusable: rebuild from the snapshot.
      val mvMissing = MvRewriteRule.suspend {
        if (!mvFs.exists(mvDst) && mvFs.exists(mvOld)) mvFs.rename(mvOld, mvDst)
        !mvFs.exists(mvDst)
      }
      val floatSummed = !mvMissing && MvRewriteRule.suspend {
        val viewSchema = spark.read.parquet(tx.mvPath).schema
        tx.measureCols.exists(m => viewSchema.find(_.name == s"sum_$m")
          .exists(f => f.dataType == org.apache.spark.sql.types.DoubleType ||
            f.dataType == org.apache.spark.sql.types.FloatType))
      }
      MvRewriteRule.suspend {
        // crash-RECOVERABLE set-aside swap: write aside, set the live
        // dir aside, rename in. Every rename result is CHECKED (a
        // dropped boolean here is a silent no-materialization), and a
        // failed publish restores the set-aside dir before failing
        // loud. A concurrent reader never sees a HALF write — but
        // between the two renames nothing exists at mvPath, so a read
        // in that narrow window fails and is repaired on the next
        // catalog lookup (the mvMissing restore above). Truly gap-free
        // publish needs pointer indirection (a file naming the current
        // dir) rather than in-place renames; at one swap per refresh
        // the residual window is accepted and documented.
        def swapIn(merged: org.apache.spark.sql.DataFrame): Unit = {
          merged.write.mode("overwrite").parquet(mvTmp.toString)
          mvFs.delete(mvOld, true)
          if (mvFs.exists(mvDst) && !mvFs.rename(mvDst, mvOld))
            throw new java.io.IOException(
              s"mv refresh: could not set aside $mvDst")
          if (!mvFs.rename(mvTmp, mvDst)) {
            mvFs.rename(mvOld, mvDst)
            throw new java.io.IOException(
              s"mv refresh: could not publish $mvDst")
          }
          mvFs.delete(mvOld, true)
        }
        // rebuilds go through swapIn too — a direct overwrite of
        // mvPath recreates the torn-publish window this change closes
        // (swapIn handles a missing live dir: the set-aside is skipped)
        def rebuildFromSnapshot(): Unit = {
          val base = graft.sources.TxLog.read(spark, tx.tableDir, Some(latest))
          val aggs = viewAggs(tx.measureCols)
          swapIn(base.groupBy(e.groupCols.map(col): _*)
            .agg(aggs.head, aggs.tail: _*))
        }
        if (mvMissing) {
          rebuildFromSnapshot()
        } else if (appendOnly && newDirs.nonEmpty && !floatSummed) {
          // incremental: aggregate ONLY the delta batches, merge with
          // the stored view
          val deltaAggs = viewAggs(tx.measureCols)
          val delta = spark.read.parquet(newDirs: _*)
            .groupBy(e.groupCols.map(col): _*)
            .agg(deltaAggs.head, deltaAggs.tail: _*)
          val mergeAggs = sum(col("n")).as("n") +: tx.measureCols.flatMap(m => Seq(
            sum(col(s"sum_$m")).as(s"sum_$m"),
            min(col(s"min_$m")).as(s"min_$m"),
            max(col(s"max_$m")).as(s"max_$m")))
          val merged = spark.read.parquet(tx.mvPath).unionByName(delta)
            .groupBy(e.groupCols.map(col): _*)
            .agg(mergeAggs.head, mergeAggs.tail: _*)
          swapIn(merged)
        } else {
          // non-append history: fold the change feed into the stored
          // view (touched batches + the KB view, round-9 verdict #2);
          // when the fold cannot prove bit-equality (boundary delete,
          // vacuumed interval, float sums) rebuild from the snapshot.
          // A full replacement (no batch dir carried) would feed-scan
          // the whole table only to learn that — rebuild directly.
          val carriedAny = normSet(latestDirs).exists(recorded)
          val folded =
            if (floatSummed || !carriedAny) None
            else feedFoldPlan(spark, e, latest)
          folded match {
            case Some(merged) => swapIn(merged)
            case None => rebuildFromSnapshot()
          }
        }
      }
      spark.catalog.refreshByPath(tx.mvPath)
      e.view = relationOf(spark, tx.mvPath)
      e.basePaths = queryPaths
      tx.version = latest
      e.valid = true
      Some(e)
    }

  /** Change-feed fold of a stored TxLog-backed view to `latest`
    * (round-9 verdict #2 — unify the two MV systems): instead of
    * full-rebuilding on ANY non-append history, fold
    * `TxLog.changeFeed(stored_version, latest)` into the stored
    * materialization — inserts add, deletes subtract — reading ONLY the
    * interval's touched batches plus the KB-sized view. Returns the
    * merged view plan, or None when the fold cannot PROVE bit-equality
    * with a rebuild, in which case the caller rebuilds:
    *
    *  - the interval's replay manifests were vacuumed;
    *  - a delete (possibly) removed a group's stored min/max — the
    *    surviving extreme is unknowable without a rescan
    *    ([[graft.operators.Cdc.incrementalAgg]]'s documented contract:
    *    min/max are not delta-maintainable under deletes); the gate is
    *    conservative (`del_min <= stored_min` trips even when a
    *    duplicate would have kept the extreme alive);
    *  - a group both born and delete-touched inside the interval (no
    *    stored row to bound the check against).
    *
    * count/sum fold exactly for the associative types the rewrite
    * serves (the caller's `floatSummed` gate keeps float sums out);
    * NULL-measure rows contribute to `n` only, and a never-materialized
    * all-NULL group folds to a NULL sum the same way a fresh aggregate
    * would.
    */
  private[graft] def feedFoldPlan(spark: SparkSession, e: MvEntry,
      latest: Long): Option[org.apache.spark.sql.DataFrame] = {
    import graft.sources.TxLog
    val tx = e.tx.getOrElse(return None)
    if (tx.version < 1L || latest <= tx.version) return None
    val feed =
      try TxLog.changeFeed(spark, tx.tableDir, tx.version, latest)
      catch { case _: IllegalStateException => return None } // vacuumed
    val ins = col("_change_type") === "insert"
    val sign = when(ins, 1L).otherwise(-1L)
    val aggs = Seq(
      sum(sign).as("dn"),
      sum(when(!ins, 1L).otherwise(0L)).as("ndel")) ++
      tx.measureCols.flatMap(m => Seq(
        sum(sign * col(m)).as(s"dsum_$m"),
        min(when(ins, col(m))).as(s"imin_$m"),
        max(when(ins, col(m))).as(s"imax_$m"),
        min(when(!ins, col(m))).as(s"dmin_$m"),
        max(when(!ins, col(m))).as(s"dmax_$m")))
    val delta = feed.groupBy(e.groupCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
    val stored = spark.read.parquet(tx.mvPath)
    val viewType = stored.schema.map(f => f.name -> f.dataType).toMap
    // NULL-SAFE group equality — same reason as Cdc.maintainAggView's
    // fold: GROUP BY treats all NULL keys as one group
    val dside = delta.select(delta.columns.map(c => col(c).as(s"__d_$c")).toSeq: _*)
    val cond = e.groupCols.map(c => col(c) <=> col(s"__d_$c")).reduce(_ && _)
    // one materialization serves BOTH the trip check and the merged
    // write — without it the caller's write re-scans the feed's touched
    // batches, doubling the I/O the fold exists to save. The view is
    // KB-sized and the delta touched-groups-sized, so the checkpoint is
    // small by construction.
    val joined = graft.operators.Pins.pin(stored.join(dside, cond, "full_outer"))
    // rebuild triggers, per measure: a NON-NULL deleted value against
    //  - a stored extreme it may have been (del_min <= min / del_max >=
    //    max — conservative: a surviving duplicate still trips), or
    //  - a NULL stored extreme (the group's stored values are all NULL,
    //    so the deleted value was inserted IN-interval and the insert-
    //    composed min/max — and the 0-vs-NULL sum — would be wrong), or
    //  - no stored row at all (group born and delete-touched inside the
    //    interval).
    // A NULL-valued delete never trips: removing a NULL row changes no
    // extreme and no sum.
    val trip = tx.measureCols.map(m =>
      col(s"__d_dmin_$m").isNotNull && (
        col(s"min_$m").isNull ||
          col(s"__d_dmin_$m") <= col(s"min_$m") ||
          col(s"__d_dmax_$m") >= col(s"max_$m")))
      .reduceOption(_ || _).getOrElse(lit(false)) ||
      col("n").isNull
    if (joined.filter(col("__d_ndel") > 0L && trip).limit(1).count() > 0L)
      return None
    val outCols =
      e.groupCols.map(c => coalesce(col(c), col(s"__d_$c")).as(c)) ++
        Seq((coalesce(col("n"), lit(0L)) + coalesce(col("__d_dn"), lit(0L)))
          .cast(viewType("n")).as("n")) ++
        tx.measureCols.flatMap(m => Seq(
          // both sides NULL ⇒ no non-null contribution ever ⇒ NULL, the
          // value a fresh sum over the group would produce
          when(col(s"sum_$m").isNotNull || col(s"__d_dsum_$m").isNotNull,
            coalesce(col(s"sum_$m"), lit(0L)) +
              coalesce(col(s"__d_dsum_$m"), lit(0L)))
            .cast(viewType(s"sum_$m")).as(s"sum_$m"),
          least(col(s"min_$m"), col(s"__d_imin_$m"))
            .cast(viewType(s"min_$m")).as(s"min_$m"),
          greatest(col(s"max_$m"), col(s"__d_imax_$m"))
            .cast(viewType(s"max_$m")).as(s"max_$m")))
    Some(joined.select(outCols: _*)
      .filter(col("n") > 0L))
  }

  private def normalize(p: String): String =
    p.stripPrefix("file:").replaceAll("/+$", "")

  /** Auto-invalidation hook: any write landing at-or-under a registered
    * base path (or a base path landing under the written root) flips
    * the affected views invalid, closing the stale-view window without
    * user action. Called by [[graft.sources.TxLog.commit]] and
    * [[graft.sources.TableIO.writePartitioned]]; cheap no-op when
    * nothing is registered.
    */
  def invalidateByPath(writtenPath: String): Unit = {
    val w = normalize(writtenPath)
    entries.values.foreach { e =>
      if (e.valid && e.basePaths.exists { bp =>
          val b = normalize(bp)
          w == b || w.startsWith(b + "/") || b.startsWith(w + "/")
        }) e.valid = false
    }
  }

  def rootPaths(rel: LogicalRelation): Set[String] = rel.relation match {
    case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString).toSet
    case _ => Set.empty
  }
}

object MvRewriteRule extends Rule[LogicalPlan] {

  private val suspended = new ThreadLocal[Boolean] {
    override def initialValue: Boolean = false
  }

  /** Run `f` with the rewrite disabled on this thread (view rebuilds). */
  private[graft] def suspend[A](f: => A): A = {
    suspended.set(true)
    try f finally suspended.set(false)
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (suspended.get) plan
    else plan.transformUp {
      case agg: Aggregate => rewrite(agg).getOrElse(agg)
    }

  /** The base table's root paths under the aggregate, seen through
    * column-pruning Projects and — since r7 — Filters whose predicate
    * the caller can re-target at the view (conditions are returned for
    * that check; anything else kills the match). A cached base
    * (`InMemoryRelation`) still matches when its cached plan is a PLAIN
    * scan (no filters, no computed projections): the session caching
    * the base table must not silently disable aggregate navigation —
    * the KB-sized view scan beats re-aggregating even an in-memory
    * copy of the full table.
    */
  private def baseScan(plan: LogicalPlan): Option[(Set[String], Seq[Expression])] = plan match {
    case r: LogicalRelation => Some((MvCatalog.rootPaths(r), Nil))
    case m: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
      val phys = m.cacheBuilder.cachedPlan
      val unsafeNode = phys.collectFirst {
        case _: org.apache.spark.sql.execution.FilterExec => ()
        case p: org.apache.spark.sql.execution.ProjectExec
          if !p.projectList.forall(_.isInstanceOf[AttributeReference]) => ()
        case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.dataFilters.nonEmpty || f.partitionFilters.nonEmpty => ()
      }
      val paths = phys.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.rootPaths.map(_.toString)
      }.flatten.toSet
      if (unsafeNode.isEmpty && paths.nonEmpty) Some((paths, Nil)) else None
    case Project(projectList, child) if projectList.forall(_.isInstanceOf[AttributeReference]) =>
      baseScan(child)
    case Filter(cond, child)
        if cond.deterministic &&
          !cond.exists(_.isInstanceOf[PlanExpression[_]]) =>
      baseScan(child).map { case (p, cs) => (p, cond +: cs) }
    case _ => None
  }

  private def rewrite(agg: Aggregate): Option[LogicalPlan] = {
    val (paths, conds) = baseScan(agg.child).getOrElse(return None)
    val groupNames = agg.groupingExpressions.map {
      case a: AttributeReference => a.name
      case _ => return None
    }
    // a Filter between aggregate and scan is view-subsumed only when it
    // constrains GROUPING columns: the view's rows partition the base by
    // the full grouping key, so `WHERE dim = x` selects whole view rows.
    // A predicate touching a measure (or anything not grouped) slices
    // WITHIN groups, which no pre-aggregated view can answer — fall
    // through to the normal plan.
    def condsSubsumed(e: MvCatalog.MvEntry): Boolean =
      conds.forall(_.references.forall(a => e.groupCols.contains(a.name)))
    // try every registered view over this base: the first whose grouping
    // AND measures subsume the aggregate wins (an arbitrary single pick
    // used to shadow a matching sibling view — round-5 advice). A query
    // grouping by a SUBSET of the view's keys is answered by
    // re-aggregating the view (aggregate navigation proper).
    MvCatalog.candidates(paths).view
      .filter(e => groupNames.toSet.subsetOf(e.groupCols.toSet) && condsSubsumed(e))
      .flatMap(e => rewriteWith(agg, groupNames, conds, e))
      .headOption
  }

  import org.apache.spark.sql.types.{DataType, DecimalType, IntegerType, LongType}

  /** Re-summing PARTIAL sums is only value-identical to the base
    * aggregate when addition is associative — integer/decimal sums, not
    * float. Rollup sum/avg therefore require an integral view column;
    * min/max/count compose for any type.
    */
  private def associative(dt: DataType): Boolean =
    dt == LongType || dt == IntegerType || dt.isInstanceOf[DecimalType]

  private def rewriteWith(
      agg: Aggregate,
      groupNames: Seq[String],
      conds: Seq[Expression],
      entry: MvCatalog.MvEntry): Option[LogicalPlan] = {

    val exact = groupNames.toSet == entry.groupCols.toSet
    val view = entry.view.newInstance()
    val viewAttr = view.output.map(a => a.name -> a).toMap

    // re-target base-attribute references at the view's same-named
    // grouping columns (caller verified the subset) and filter the view
    // scan — `GROUP BY dim WHERE dim = x` becomes a filtered view read
    val scan: LogicalPlan = conds.foldLeft(view: LogicalPlan) { (p, c) =>
      Filter(c.transform {
        case a: AttributeReference => viewAttr.getOrElse(a.name, return None)
      }, p)
    }

    def measureAttr(key: String): Option[Attribute] =
      entry.measures.get(key).flatMap(viewAttr.get)

    /** avg(m) = sum_m / n in double. For integral inputs below the 2⁵³
      * exact-double envelope this matches Spark's Average bit-for-bit
      * (Average also accumulates integral input in double; integer
      * additions under 2⁵³ are exact in any order). Float measures are
      * rejected — their sum_m was accumulated in a different order than
      * Average's internal sum would be.
      */
    def avgExpr(sumAgg: Expression, nAgg: Expression): Expression =
      Divide(Cast(sumAgg, org.apache.spark.sql.types.DoubleType),
        Cast(nAgg, org.apache.spark.sql.types.DoubleType))

    if (exact) {
      val projections: Seq[NamedExpression] = agg.aggregateExpressions.map {
        case a: AttributeReference =>
          val mv = viewAttr.getOrElse(a.name, return None)
          Alias(castIfNeeded(mv, a.dataType), a.name)(exprId = a.exprId)
        case al @ Alias(AggregateExpression(fn, _, false, None, _), name) =>
          val repl: Expression = fn match {
            case Count(Seq(Literal(_, _))) =>
              measureAttr("count").getOrElse(return None)
            case Sum(ar: AttributeReference, _) =>
              // even verbatim substitution needs the associativity guard:
              // the stored float sum was accumulated in the VIEW build's
              // partition order, the query's Sum would use its own — the
              // two double results can differ in the last bits, so a
              // float-summed measure falls through rather than change
              // the query's bit pattern
              val s = measureAttr(s"sum:${ar.name}").getOrElse(return None)
              if (!associative(s.dataType)) return None
              s
            case Min(ar: AttributeReference) =>
              measureAttr(s"min:${ar.name}").getOrElse(return None)
            case Max(ar: AttributeReference) =>
              measureAttr(s"max:${ar.name}").getOrElse(return None)
            case Average(ar: AttributeReference, _) =>
              val s = measureAttr(s"sum:${ar.name}").getOrElse(return None)
              val n = measureAttr("count").getOrElse(return None)
              if (!associative(s.dataType)) return None
              avgExpr(s, n)
            case _ => return None
          }
          Alias(castIfNeeded2(repl, al.dataType), name)(exprId = al.exprId)
        case _ => return None
      }
      Some(Project(projections, scan))
    } else {
      // ROLLUP: GROUP BY a subset of the view keys over the view itself.
      // count → sum(n); sum → sum(sum_m) (associative types only);
      // min/max → min(min_m)/max(max_m); avg → sum(sum_m)/sum(n).
      def reAgg(fn: AggregateFunction): Expression =
        AggregateExpression(fn, org.apache.spark.sql.catalyst.expressions.aggregate.Complete,
          isDistinct = false)
      val aggExprs: Seq[NamedExpression] = agg.aggregateExpressions.map {
        case a: AttributeReference => // a grouping column
          val mv = viewAttr.getOrElse(a.name, return None)
          Alias(castIfNeeded(mv, a.dataType), a.name)(exprId = a.exprId)
        case al @ Alias(AggregateExpression(fn, _, false, None, _), name) =>
          val repl: Expression = fn match {
            case Count(Seq(Literal(_, _))) =>
              reAgg(Sum(measureAttr("count").getOrElse(return None)))
            case Sum(ar: AttributeReference, _) =>
              val s = measureAttr(s"sum:${ar.name}").getOrElse(return None)
              if (!associative(s.dataType)) return None
              reAgg(Sum(s))
            case Min(ar: AttributeReference) =>
              reAgg(Min(measureAttr(s"min:${ar.name}").getOrElse(return None)))
            case Max(ar: AttributeReference) =>
              reAgg(Max(measureAttr(s"max:${ar.name}").getOrElse(return None)))
            case Average(ar: AttributeReference, _) =>
              val s = measureAttr(s"sum:${ar.name}").getOrElse(return None)
              if (!associative(s.dataType)) return None
              avgExpr(reAgg(Sum(s)),
                reAgg(Sum(measureAttr("count").getOrElse(return None))))
            case _ => return None
          }
          Alias(castIfNeeded2(repl, al.dataType), name)(exprId = al.exprId)
        case _ => return None
      }
      val grouping = groupNames.map(n => viewAttr.getOrElse(n, return None))
      Some(Aggregate(grouping, aggExprs, scan))
    }
  }

  private def castIfNeeded(a: Attribute, to: org.apache.spark.sql.types.DataType): Expression =
    if (a.dataType == to) a else Cast(a, to)

  private def castIfNeeded2(e: Expression, to: org.apache.spark.sql.types.DataType): Expression =
    if (e.dataType == to) e else Cast(e, to)
}
