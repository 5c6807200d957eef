package graft.jobs

import graft.routing._
import graft.schemas.Schemas
import graft.sources.{TableIO, TreeTxn}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Missing-pairs reconciliation — the reference's recovery loop
  * (`data/scripts/fix_missing.sh`: find chunks with missing pairs,
  * re-run them, merge) as one in-engine job. At national scale transient
  * routing failures are routine; the recovery contract is:
  *
  *  1. re-route ONLY the published missing (origin, destination) pairs
  *     that `times` does not already hold — never the full matrix, and
  *     never a pair a crashed run appended before its publish;
  *  2. append newly-routable rows to the `times` tree through the same
  *     ordered-publish sink (per-file row-group order survives; the tree
  *     accretes files, which [[graft.sources.TableIO.compact]] folds);
  *  3. rewrite `missing_pairs` to the still-missing remainder, derived
  *     from the WRITTEN tree (the same write-once principle as
  *     [[CalculateTimes]] — no in-memory matrix is trusted twice), and
  *     publish it through a [[TreeTxn]] under the job's `_txn` dir, so a
  *     crash never leaves the tree absent;
  *  4. pair-count conservation holds at every step:
  *     |times| + |missing| is invariant.
  *
  * Scale shape: the re-route sub-matrix is the product of the missing
  * pairs' DISTINCT origin and destination ids — usually a vanishing
  * fraction of the full OD space. Off-product cells that were already
  * routed are filtered by a semi-join against the missing set before
  * anything is appended, so the times tree never sees a duplicate pair.
  */
object Reconcile {

  final case class Result(
      nMissingBefore: Long, nReconciled: Long, nStillMissing: Long)

  /** Re-route the published missing pairs of `outDir` through `router`
    * (typically a fresh/healthy instance of the same backend) and merge.
    * Points are re-read from the published points table — snapped coords,
    * exactly what the original run routed (`use_snapped` contract).
    * `failpoint` is the crash-injection seam of the `missing_pairs`
    * publish, as in [[CalculateTimes.run]].
    */
  def missingPairs(
      spark: SparkSession,
      outDir: String,
      router: Router,
      cfg: CalculateTimes.Config,
      oSplit: Int = 5000,
      dSplit: Int = 5000,
      maxDepth: Int = 12,
      failpoint: String => Unit = _ => ()): Result = {
    import spark.implicits._
    val timesDir = s"$outDir/times"
    val missingDir = s"$outDir/missing_pairs"
    val pointsDir = s"$outDir/points"
    val txnDir = s"$outDir/_txn"

    // finish (or erase) a crashed run's publish before counting anything
    TreeTxn.recover(spark, txnDir)
    val nBefore = Pipeline.countPartitioned(spark, missingDir, Schemas.missingPairs)
    if (nBefore == 0) return Result(0, 0, 0)

    val missing = TableIO.readPartitioned(spark, missingDir, Some(Schemas.missingPairs))
      .select("origin_id", "destination_id")
    // what the WRITTEN `times` tree covers (2-column pruned scan); each
    // call lists the tree's files afresh
    def covered = TableIO.readPartitioned(spark, timesDir, Some(Schemas.missingPairs))
      .select("origin_id", "destination_id")
    // a run that crashed before its missing_pairs publish already appended
    // its rerouted pairs: those are in both trees, and only the rest is
    // rerouted, so a re-run republishes without appending them twice
    val pending = missing.join(covered, Seq("origin_id", "destination_id"), "left_anti")
    // bounded state: the distinct ids of the failed pairs (id strings
    // only; at the reference's scale missing pairs are a thin slice, and
    // the routed payload never rides this frame)
    val points = TableIO.readPartitioned(spark, pointsDir)
    def side(pointType: String, idCol: String) = points
      .filter(col("point_type") === pointType)
      .join(pending.select(col(idCol).as("id")).distinct(), Seq("id"), "left_semi")
      .select(col("id"), col("lon_snapped").as("lon"), col("lat_snapped").as("lat"))
      .as[RoutePoint]
      .collect()
    val (os, ds) = (side("origin", "origin_id"), side("destination", "destination_id"))

    val partCols: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      CalculateTimes.withPartitionCols(_, cfg, Some(CalculateTimes.stateOf(col("origin_id"))))

    if (os.nonEmpty && ds.nonEmpty) {
      val rerouted = TravelTimeMatrix.run(spark, os, ds, router, oSplit, dSplit, maxDepth).toDF()
      // only pairs that were actually pending AND now routed are merged —
      // the rest of the sub-product is already in the tree
      val fixed = rerouted
        .filter(col("duration_sec").isNotNull)
        .join(pending, Seq("origin_id", "destination_id"), "left_semi")
      TableIO.writePartitioned(
        partCols(fixed), timesDir, Seq("origin_id", "destination_id"),
        bloomCols = Seq("destination_id" -> 100000L),
        mode = "append")
    }

    // still-missing = published missing minus what the tree now covers
    val still = missing.join(covered, Seq("origin_id", "destination_id"), "left_anti")

    // stage the remainder beside the live tree (which `missing` is still
    // reading lazily) and swap it in by the atomic tree publish
    val tx = TreeTxn.begin(spark, txnDir, Seq("missing_pairs" -> missingDir))
    TableIO.writePartitioned(
      partCols(still).select("version", "mode", "year", "geography", "state",
        "centroid_type", "origin_id", "destination_id"),
      tx.staged("missing_pairs"), Seq("origin_id", "destination_id"))
    tx.commit(failpoint)

    val nAfter = Pipeline.countPartitioned(spark, missingDir, Schemas.missingPairs)
    Result(nBefore, nBefore - nAfter, nAfter)
  }
}
