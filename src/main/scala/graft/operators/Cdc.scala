package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Change-data-capture merge: apply a batch of keyed INSERT / UPDATE /
  * DELETE rows to a base table — the incremental-publish step a rolling
  * corpus needs between full rebuilds (the same niche the reference's
  * missing-pairs merge in `data/scripts/fix_missing.sh` fills for route
  * chunks, generalized to row-level ops; see also [[graft.jobs.Reconcile]]).
  *
  * Semantics (MERGE INTO, last-writer-wins):
  *  - `changes` carries the full row schema of `base` plus `opCol`
  *    ('I' | 'U' | 'D') and `seqCol` (a monotone change sequence);
  *  - when several changes share a key, only the one with the highest
  *    (seq, op) wins — op breaks exact seq ties deterministically;
  *  - winner 'D' drops the key; 'I'/'U' upsert the change row; base rows
  *    with no change pass through.
  *
  * Scale shape: a change batch is ≪ the base table (GB vs TB), so the
  * base side is touched by exactly ONE broadcast anti-join on the
  * winning-change keys — the base never shuffles and stays partition-
  * pruned/bucketed however it was stored. Only the (small) change batch
  * pays a shuffle for its per-key window. With a change batch too big to
  * broadcast, Spark falls back to a sort-merge anti-join on its own —
  * same plan a warehouse MERGE compiles to.
  */
object Cdc {

  def applyChanges(
      base: DataFrame,
      changes: DataFrame,
      keyCol: String,
      opCol: String = "op",
      seqCol: String = "seq"): DataFrame = {
    val dataCols = base.columns.toSeq
    require(!dataCols.contains(opCol) && !dataCols.contains(seqCol),
      s"base must not already carry '$opCol'/'$seqCol'")
    val byKey = Window.partitionBy(col(keyCol))
      .orderBy(col(seqCol).desc, col(opCol).desc)
    val winner = changes
      .withColumn("__rk", row_number().over(byKey))
      .filter(col("__rk") === 1)
      .drop("__rk")
    val touched = winner.select(col(keyCol))
    val kept = base.join(broadcast(touched), Seq(keyCol), "left_anti")
    kept.unionByName(
      winner.filter(col(opCol) =!= "D")
        .select(dataCols.map(col): _*))
  }

  /** Incremental maintenance of an ADDITIVE aggregate view
    * (`GROUP BY dim → count(*), sum(val)`) under a CDC batch — the
    * materialized-view delta path: instead of rescanning the TB-scale
    * base after every merge, combine the stored aggregate with a delta
    * computed from the (small) change batch plus point-lookups of the
    * touched keys' old rows.
    *
    * delta = − old contributions of touched keys + winning non-delete
    * change rows; view' = view ⟕⟖ delta with counts/sums added and
    * zero-count groups dropped. Exactly equals a full recompute over
    * [[applyChanges]]' output (the spec and the q142 oracle verify
    * precisely that equality). Additive aggregates only — min/max are
    * not delta-maintainable under deletes without the full base.
    *
    * Scale shape: the base is touched once by a broadcast semi-join on
    * the touched keys (partition-pruned point reads when the base is
    * keyed/bucketed); everything else is change-batch-sized.
    */
  def incrementalAgg(
      viewAgg: DataFrame,
      base: DataFrame,
      changes: DataFrame,
      keyCol: String,
      dimCol: String,
      valCol: String,
      opCol: String = "op",
      seqCol: String = "seq"): DataFrame = {
    val byKey = Window.partitionBy(col(keyCol))
      .orderBy(col(seqCol).desc, col(opCol).desc)
    val winner = changes
      .withColumn("__rk", row_number().over(byKey))
      .filter(col("__rk") === 1)
      .drop("__rk")
    val touched = winner.select(col(keyCol))
    val removed = base.join(broadcast(touched), Seq(keyCol), "left_semi")
      .groupBy(col(dimCol))
      .agg((-count(lit(1))).as("dn"), (-sum(col(valCol))).as("dv"))
    val added = winner.filter(col(opCol) =!= "D")
      .groupBy(col(dimCol))
      .agg(count(lit(1)).as("dn"), sum(col(valCol)).as("dv"))
    val delta = removed.unionByName(added)
      .groupBy(col(dimCol))
      .agg(sum(col("dn")).as("dn"), sum(col("dv")).as("dv"))
    viewAgg.join(delta, Seq(dimCol), "full_outer")
      .select(col(dimCol),
        (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
        (coalesce(col("total"), lit(0L)) + coalesce(col("dv"), lit(0L))).as("total"))
      .filter(col("n") > 0)
  }

  /** Incremental maintenance of an INNER equi-JOIN view `V = A ⋈ B`
    * under INSERT-ONLY deltas — the classic differential rule:
    *
    *   ΔV = ΔA ⋈ (B ∪ ΔB)  ∪  A ⋈ ΔB
    *
    * (ΔA joins the WHOLE new B so ΔA⋈ΔB pairs appear exactly once; the
    * old A joins only ΔB). The caller appends ΔV to the stored view —
    * the TB-scale `A ⋈ B` recompute never runs again.
    *
    * Scale shape: both terms join a DELTA against a base, so with
    * `broadcastDeltas` (the normal case — micro-batch deltas are MBs
    * against a TB base) neither A nor B shuffles: two broadcast hash
    * joins, each a single pass over one base. Set it false when a
    * backfill-sized delta would not fit an executor.
    *
    * Requires disjoint non-key column names between A and B (the join
    * output carries both sides' columns, like the view itself).
    */
  def incrementalJoinDelta(
      aOld: DataFrame, aDelta: DataFrame,
      bOld: DataFrame, bDelta: DataFrame,
      keyA: String, keyB: String,
      broadcastDeltas: Boolean = true): DataFrame = {
    def bc(df: DataFrame) = if (broadcastDeltas) broadcast(df) else df
    val bNew = bOld.unionByName(bDelta)
    bc(aDelta).join(bNew, aDelta(keyA) === bNew(keyB))
      .unionByName(aOld.join(bc(bDelta), aOld(keyA) === bDelta(keyB)))
  }

  /** Type-2 slowly-changing-dimension history build: base rows become
    * seq-0 versions, every non-delete change opens a new version, and ANY
    * later change (including a delete) closes the one before it. Output is
    * the base schema plus `valid_from` (the opening seq), `valid_to` (the
    * closing seq, null while open) and `is_current`.
    *
    * The whole history is ONE window pass: union(base@seq0, changes)
    * shuffled by key, `lead(seq)` over (seq, op) gives each version its
    * closing seq, delete rows contribute a closure but no version row.
    * Ties on (key, seq) break on op — callers with concurrent writers
    * should disambiguate seq upstream.
    *
    * Scale shape: dimension-sized input shuffles once on its key; no
    * joins, no driver state. For TB histories under a small change batch
    * use [[scd2Apply]], which touches only changed keys.
    */
  def scd2(
      base: DataFrame,
      changes: DataFrame,
      keyCol: String,
      opCol: String = "op",
      seqCol: String = "seq"): DataFrame = {
    val dataCols = base.columns.toSeq
    val full = base
      .withColumn(opCol, lit("I"))
      .withColumn(seqCol, lit(0).cast(changes.schema(seqCol).dataType))
      .unionByName(changes)
    val w = Window.partitionBy(col(keyCol)).orderBy(col(seqCol), col(opCol))
    full
      .withColumn("valid_to", lead(col(seqCol), 1).over(w))
      .filter(col(opCol) =!= "D")
      .select(dataCols.map(col) ++ Seq(
        col(seqCol).as("valid_from"),
        col("valid_to"),
        col("valid_to").isNull.as("is_current")): _*)
  }

  /** Incremental SCD2 maintenance: fold a new change batch into an
    * existing [[scd2]] history WITHOUT re-windowing unchanged keys.
    * Requires every new seq to exceed every seq already in the history
    * (monotone change log). Untouched keys pass through via one broadcast
    * anti-join; for touched keys the open version (if any) is closed at
    * the key's first new seq and the new changes window among themselves.
    * Equals a full [[scd2]] rebuild over the concatenated change log —
    * CdcSpec asserts exactly that equality.
    */
  def scd2Apply(
      history: DataFrame,
      changes: DataFrame,
      keyCol: String,
      opCol: String = "op",
      seqCol: String = "seq"): DataFrame = {
    val dataCols = history.columns.toSeq
      .filterNot(Set("valid_from", "valid_to", "is_current"))
    val w = Window.partitionBy(col(keyCol)).orderBy(col(seqCol), col(opCol))
    val newVersions = changes
      .withColumn("valid_to", lead(col(seqCol), 1).over(w))
      .filter(col(opCol) =!= "D")
      .select(dataCols.map(col) ++ Seq(
        col(seqCol).as("valid_from"),
        col("valid_to"),
        col("valid_to").isNull.as("is_current")): _*)
    val firstSeq = changes.groupBy(col(keyCol))
      .agg(min(col(seqCol)).as("__close_at"))
    val untouched = history.join(
      broadcast(firstSeq.select(col(keyCol))), Seq(keyCol), "left_anti")
    val closed = history.join(broadcast(firstSeq), Seq(keyCol))
      .withColumn("valid_to",
        when(col("is_current"), col("__close_at")).otherwise(col("valid_to")))
      .withColumn("is_current", lit(false))
      .drop("__close_at")
    untouched.unionByName(closed).unionByName(newVersions)
  }

  /** Point-in-time (AS OF) read over an SCD2 history: for every probe
    * (key, at) return the version whose [valid_from, valid_to) interval
    * covers `at`. Deliberately a plain key equi-join + interval filter —
    * per key there are only a handful of versions, so the equi-join IS
    * the scale-correct plan (a generic interval join would shuffle the
    * same rows and lose the key co-location); probes broadcast when
    * small. Keys with no version at `at` (pre-insert / post-delete)
    * produce no row, matching dimension-lookup semantics.
    */
  def asOfRead(
      history: DataFrame,
      probes: DataFrame,
      keyCol: String,
      atCol: String): DataFrame =
    probes.join(history, Seq(keyCol))
      .filter(col("valid_from") <= col(atCol) &&
        (col("valid_to").isNull || col(atCol) < col("valid_to")))
      .drop("valid_from", "valid_to", "is_current")

  /** Keyed table diff — replica/migration verification: classify every
    * key of two same-schema tables as `added` (only in `after`),
    * `removed` (only in `before`), `changed` (both, any non-key column
    * differs) or `same`. Rows compare by an md5 digest of the JSON
    * encoding of all non-key columns (JSON quoting makes column
    * boundaries and NULLs unambiguous), so the shuffle carries
    * (key, 16-byte digest) — never row payloads — and one full-outer
    * join on the key does the whole comparison. The digest never leaves
    * the operator (output is (key, status)), so no cross-engine digest
    * replay is needed. One row per non-`same` key; per-class counts
    * ride in [[diffSummary]].
    */
  def diff(before: DataFrame, after: DataFrame, keyCol: String): DataFrame = {
    require(before.columns.sameElements(after.columns),
      s"schema mismatch: ${before.columns.mkString(",")} vs ${after.columns.mkString(",")}")
    val dataCols = before.columns.filterNot(_ == keyCol).sorted
    def digest(df: DataFrame) = df.select(col(keyCol),
      md5(to_json(struct(dataCols.map(col): _*))).as("h"))
    digest(before).as("b")
      .join(digest(after).as("a"), col("b." + keyCol) === col("a." + keyCol), "full_outer")
      .select(
        coalesce(col("b." + keyCol), col("a." + keyCol)).as(keyCol),
        when(col("b.h").isNull, "added")
          .when(col("a.h").isNull, "removed")
          .when(col("a.h") =!= col("b.h"), "changed")
          .otherwise("same").as("status"))
      .filter(col("status") =!= "same")
  }

  /** Closing the replication loop: the MINIMAL change batch that turns
    * `before` into `after` — [[diff]]'s classification with payloads
    * attached, emitted in [[applyChanges]]' contract (full row + op +
    * seq) so `applyChanges(before, makePatch(before, after)) ≡ after`
    * (CdcSpec pins the identity). Anti-entropy repair between replicas
    * reduces to diff → patch → merge with no full-table rewrite: only
    * divergent keys appear in the batch.
    *
    * Like [[diff]], row comparison is an md5-of-JSON digest, so the
    * full-outer join shuffles (key, digest) and payloads join back only
    * for the divergent keys.
    */
  def makePatch(
      before: DataFrame,
      after: DataFrame,
      keyCol: String,
      seq: Int = 1): DataFrame = {
    require(before.columns.sameElements(after.columns),
      s"schema mismatch: ${before.columns.mkString(",")} vs ${after.columns.mkString(",")}")
    val dataCols = before.columns.toSeq
    val d = diff(before, after, keyCol)
    val fromAfter = after.join(
        d.filter(col("status").isin("added", "changed")).select(col(keyCol), col("status")),
        Seq(keyCol), "inner")
      .select(dataCols.map(col) ++ Seq(
        when(col("status") === "added", "I").otherwise("U").as("op"),
        lit(seq).as("seq")): _*)
    val deletes = before.join(
        d.filter(col("status") === "removed").select(col(keyCol)),
        Seq(keyCol), "left_semi")
      .select(dataCols.map(col) ++ Seq(lit("D").as("op"), lit(seq).as("seq")): _*)
    fromAfter.unionByName(deletes)
  }

  /** Per-class counts of [[diff]] plus the surviving-key total. */
  def diffSummary(before: DataFrame, after: DataFrame, keyCol: String): DataFrame = {
    val d = diff(before, after, keyCol)
    d.groupBy(col("status")).agg(count(lit(1)).as("n"))
  }

  /** PERSISTENT additive aggregate view maintained from a table's
    * change feed — `SELECT dims…, count(*) n, sum(valCol) total GROUP
    * BY dims` over the live rows of the TxLog table at `srcDir`, kept
    * current WITHOUT ever rescanning the source: each call folds
    * `TxLog.changeFeed(lastFolded, latest)` — inserts add, deletes
    * subtract (the signed-delta rule [[incrementalAgg]] applies to
    * in-flight batches, here driven by the committed history itself) —
    * and commits the updated view. At 100 TB this is the difference
    * between "refresh the dashboard" costing a feed read of the week's
    * appends and costing a full-table aggregate.
    *
    * EXACTLY-ONCE by construction, with no side ledger: the watermark
    * rides IN the view — every row carries `_maintained_to` (the source
    * version the view reflects), so view content and watermark commit
    * atomically in one TxLog version and a crash between "fold" and
    * "record" cannot exist. A replayed trigger reads the watermark,
    * sees nothing new, and returns None without touching the table. An
    * EMPTY view (all groups deleted, or first call on an empty source)
    * carries no watermark row — the next call refolds from version 0,
    * which recomputes from scratch and is therefore always correct,
    * just not incremental (the one state where that cost is unavoidable
    * anyway). Additive aggregates only — min/max are not
    * delta-maintainable under deletes ([[incrementalAgg]]'s contract).
    *
    * Returns the source version now reflected, or None when already
    * current. Zero-count groups drop, so the view equals a fresh
    * aggregate over `TxLog.read(srcDir)` bit-for-bit (TxCdfSpec pins
    * it; q231 hash-verifies a four-version history against the oracle).
    * Meta columns: `_maintained_to` (the watermark) and `_nn` (signed
    * count of NON-NULL `valCol` contributions — SQL's `sum` over an
    * all-NULL group is NULL, not 0, and a fold that coalesced the total
    * to 0 would break the bit-for-bit contract for nullable value
    * columns; round-9 ADVICE). Consumers drop both before comparing.
    */
  def maintainAggView(spark: org.apache.spark.sql.SparkSession,
      srcDir: String, viewDir: String, dims: Seq[String],
      valCol: String, consumerName: Option[String] = None): Option[Long] = {
    import graft.sources.TxLog
    require(dims.nonEmpty, "at least one grouping column")
    val latest = TxLog.latestVersion(spark, srcDir)
    // a source with no commits yet is a no-op, not an error — a
    // maintenance loop (or streaming view) may start before the first
    // commit, and there is nothing to fold and nothing ackable
    // (ackConsumer requires version >= 1)
    if (latest <= 0) return None
    val haveView = TxLog.latestVersion(spark, viewDir) > 0
    val old = if (haveView) Some(TxLog.read(spark, viewDir)) else None
    val seen = old.flatMap(v =>
      v.limit(1).collect().headOption.map(_.getAs[Long]("_maintained_to")))
      .getOrElse(0L)
    if (seen >= latest) {
      // already current: still record the consumer's position, so a
      // freshly-named consumer pins retention from its first call.
      // The seen >= 1 guard keeps the invariant LOCAL (ackConsumer
      // requires an ack in [1, latest]) instead of leaning on the
      // empty-source early-return above staying in place.
      consumerName.filter(_ => seen >= 1L)
        .foreach(n => TxLog.ackConsumer(spark, srcDir, n, seen))
      return None
    }
    val next =
      if (seen == 0L) {
        // FROM-ZERO (re)fold — first call, or an emptied view that lost
        // its in-row watermark: a fresh aggregate over the SNAPSHOT,
        // never changeFeed(0, latest). The v0 feed replays v1's
        // manifest, which a routine vacuum may have reclaimed — the
        // snapshot read is always available, cheaper, and by definition
        // the value the fold contract promises to equal.
        TxLog.read(spark, srcDir).groupBy(dims.map(col): _*)
          .agg(count(lit(1)).as("n"), sum(col(valCol)).as("total"),
            count(col(valCol)).as("_nn"))
          .withColumn("_maintained_to", lit(latest))
      } else {
        val feed = TxLog.changeFeed(spark, srcDir, seen, latest)
        val sign = when(col("_change_type") === "insert", 1L).otherwise(-1L)
        // dv sums only non-null contributions (sign * NULL is NULL, which
        // sum skips); dnn counts them, signed, so the fold knows whether a
        // group's accumulated total represents any value at all
        val delta = feed.groupBy(dims.map(col): _*)
          .agg(sum(sign).as("dn"), sum(sign * col(valCol)).as("dv"),
            sum(sign * when(col(valCol).isNotNull, 1L).otherwise(0L)).as("dnn"))
        val base = old.map(_.drop("_maintained_to")).map { b =>
          // migration shim: a view written before `_nn` existed synthesizes
          // it from the stored total (NULL total = zero non-null
          // contributions; any value = "at least one" — preserves the
          // legacy fold's behavior for legacy rows instead of crashing the
          // first post-upgrade maintenance)
          if (b.columns.contains("_nn")) b
          else b.withColumn("_nn",
            when(col("total").isNull, 0L).otherwise(lit(1L)))
        }.getOrElse {
          // typed empty frame so the full-outer join below is schema-stable
          delta.select(dims.map(col) :+ col("dn").as("n") :+
            col("dv").as("total") :+ col("dnn").as("_nn"): _*)
            .limit(0)
        }
        // NULL-SAFE group equality: a NULL dim value is a legitimate group
        // (GROUP BY treats all NULLs as one), but a plain using-columns
        // full_outer never matches NULL keys — the base's null group and the
        // delta's would each survive as separate rows, duplicating the
        // group on every fold
        val dDelta = delta.select(
          dims.map(c => col(c).as(s"__d_$c")) ++ Seq(col("dn"), col("dv"), col("dnn")): _*)
        val cond = dims.map(c => col(c) <=> col(s"__d_$c")).reduce(_ && _)
        val nn = coalesce(col("_nn"), lit(0L)) + coalesce(col("dnn"), lit(0L))
        base.join(dDelta, cond, "full_outer")
          .select(dims.map(c => coalesce(col(c), col(s"__d_$c")).as(c)) ++ Seq(
            (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
            // all contributions NULL ⇒ the fresh aggregate's sum is NULL
            when(nn > 0L,
              coalesce(col("total"), lit(0L)) + coalesce(col("dv"), lit(0L)))
              .as("total"),
            nn.as("_nn")): _*)
          .filter(col("n") > 0L)
          .withColumn("_maintained_to", lit(latest))
      }
    TxLog.commit(spark, viewDir, next)
    // ack AFTER the fold committed: the registry must never claim a
    // version the view doesn't yet reflect (vacuum could then reclaim
    // the very manifests a crash-recovery refold needs)
    consumerName.foreach(n => TxLog.ackConsumer(spark, srcDir, n, latest))
    Some(latest)
  }
}
