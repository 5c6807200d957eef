package graft

import graft.sources.TxLog
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Change feed (`TxLog.changeFeed` — the `table_changes`/CDF read):
  * incremental consumers fold per-version insert/delete rows instead of
  * rescanning the table. The invariants here are the CDC contract:
  * snapshot(from) ⊎ inserts ∖ deletes = snapshot(to) (multiset-exact),
  * appends classify metadata-only, updates surface as delete+insert
  * pairs of CHANGED rows only, and physical reorganization emits
  * nothing.
  */
class TxCdfSpec extends AnyFunSuite {
  import SparkTestSession._

  private def fs = org.apache.hadoop.fs.FileSystem.get(
    spark.sparkContext.hadoopConfiguration)

  private def fresh(name: String): String = {
    val dir = s"${GraftSession.scratchBase}/cdf_$name"
    fs.delete(new Path(dir), true)
    dir
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** Multiset equality via exceptAll both ways. */
  private def sameBag(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  private def data(lo: Long, hi: Long): DataFrame =
    spark.range(lo, hi).select(col("id").as("k"),
      (col("id") % 10L).as("g"), (col("id") * 3L).as("v"))

  test("snapshot(from) + feed = snapshot(to), across append/merge/delete/reorg") {
    val t = fresh("reconstruct")
    TxLog.commit(spark, t, data(0L, 500L))                              // v1
    TxLog.commit(spark, t, data(500L, 900L), append = true)             // v2
    // v3: upsert — 50 updated pre/post pairs + 100 fresh inserts
    TxLog.merge(spark, t,
      data(450L, 600L).withColumn("v",
        when(col("k") < 500L, col("v") + 1000000L).otherwise(col("v")))
        .filter(col("k") < 500L || col("k") >= 900L)
        .unionByName(data(900L, 1000L)), "k")
    TxLog.deleteVectored(spark, t, "k", Some(100L), Some(150L))          // v4
    val v4 = TxLog.latestVersion(spark, t)
    val feed = TxLog.changeFeed(spark, t, 1L, v4).cache()
    val meta = Seq("_change_type", "_commit_version")
    val ins = feed.filter(col("_change_type") === "insert").drop(meta: _*)
    val del = feed.filter(col("_change_type") === "delete").drop(meta: _*)
    val reconstructed = TxLog.read(spark, t, asOf = Some(1L))
      .unionByName(ins).exceptAll(del)
    assert(sameBag(reconstructed, TxLog.read(spark, t)),
      "snapshot(1) + feed(1, latest) must equal snapshot(latest)")
    // the feed names each version's own rows
    assert(feed.filter(col("_commit_version") === 2L)
      .agg(count(lit(1))).head().getLong(0) == 400L)
    feed.unpersist()
  }

  test("append classifies as pure inserts; initial commit replays from v0") {
    val t = fresh("append")
    TxLog.commit(spark, t, data(0L, 100L))
    TxLog.commit(spark, t, data(100L, 130L), append = true)
    val full = TxLog.changeFeed(spark, t, 0L, 2L)
    assert(full.filter(col("_change_type") =!= "insert").isEmpty,
      "append-only history must contain no deletes")
    assert(rows(full.drop("_change_type", "_commit_version")) ==
      rows(data(0L, 130L)))
    // duplicate rows keep multiplicity: the feed is a multiset
    TxLog.commit(spark, t,
      data(0L, 1L).unionByName(data(0L, 1L)), append = true)
    val dup = TxLog.changeFeed(spark, t, 2L, 3L)
    assert(dup.count() == 2L, "two identical appended rows = two inserts")
  }

  test("merge emits delete+insert pairs for CHANGED rows only") {
    val t = fresh("merge")
    TxLog.commit(spark, t, data(0L, 400L))
    // update 10 rows; the other 390 carried through the rewritten
    // batches must NOT appear in the feed
    TxLog.merge(spark, t,
      data(0L, 10L).withColumn("v", col("v") + 7L), "k")
    val feed = TxLog.changeFeed(spark, t, 1L, 2L).cache()
    assert(feed.count() == 20L,
      "10 updates = 10 pre-image deletes + 10 post-image inserts")
    val del = feed.filter(col("_change_type") === "delete")
    val ins = feed.filter(col("_change_type") === "insert")
    assert(del.agg(max(col("k"))).head().getLong(0) == 9L)
    assert(sameBag(ins.select(col("k"), col("g"), col("v")),
      data(0L, 10L).withColumn("v", col("v") + 7L)))
    feed.unpersist()
  }

  test("physical reorganization is invisible: compact, cluster, purge") {
    val t = fresh("reorg")
    (0 until 4).foreach(i => TxLog.commit(spark, t,
      data(i * 50L, i * 50L + 50L), append = i > 0))
    TxLog.deleteVectored(spark, t, "k", Some(10L), Some(20L))            // v5
    val v5 = TxLog.latestVersion(spark, t)
    assert(TxLog.changeFeed(spark, t, 4L, v5).count() == 11L)
    TxLog.purgeDeletes(spark, t)                                         // v6
    TxLog.compactSmall(spark, t, minRows = 1000000L)                     // v7
    TxLog.autoCluster(spark, t, Seq("g"), maxOverlapFraction = 0.0)
    val last = TxLog.latestVersion(spark, t)
    assert(last > v5, "reorg must have produced versions")
    assert(TxLog.changeFeed(spark, t, v5, last).isEmpty,
      "purge/compact/cluster rewrite identical live content — zero change rows")
  }

  test("maintainAggView: feed-maintained aggregate ≡ fresh recompute at every step") {
    import graft.operators.Cdc
    val t = fresh("mav_src"); val v = fresh("mav_view")
    def recompute(): DataFrame = TxLog.read(spark, t)
      .groupBy(col("g")).agg(count(lit(1)).as("n"), sum(col("v")).as("total"))
    def view(): DataFrame = TxLog.read(spark, v).drop("_maintained_to", "_nn")
    TxLog.commit(spark, t, data(0L, 300L))
    assert(Cdc.maintainAggView(spark, t, v, Seq("g"), "v").contains(1L))
    assert(sameBag(view(), recompute()))
    // replayed trigger: no new source version, no view commit
    val vv = TxLog.latestVersion(spark, v)
    assert(Cdc.maintainAggView(spark, t, v, Seq("g"), "v").isEmpty)
    assert(TxLog.latestVersion(spark, v) == vv)
    // several source versions fold in ONE catch-up call: append + upsert
    // + DV delete, then reorg (which must contribute nothing)
    TxLog.commit(spark, t, data(300L, 500L), append = true)
    TxLog.merge(spark, t, data(10L, 20L).withColumn("v", col("v") + 5000L), "k")
    TxLog.deleteVectored(spark, t, "k", Some(100L), Some(180L))
    TxLog.purgeDeletes(spark, t)
    val srcV = TxLog.latestVersion(spark, t)
    assert(Cdc.maintainAggView(spark, t, v, Seq("g"), "v").contains(srcV))
    assert(sameBag(view(), recompute()),
      "maintained view must equal a fresh aggregate over the live snapshot")
    // a group whose every row is deleted drops from the view entirely
    TxLog.deleteVectored(spark, t, "v", Some(0L), Some(1000000000L))
    assert(Cdc.maintainAggView(spark, t, v, Seq("g"), "v").isDefined)
    assert(view().isEmpty && recompute().isEmpty)
    // empty-view watermark loss degrades to a correct from-zero refold
    TxLog.commit(spark, t, data(700L, 720L), append = true)
    assert(Cdc.maintainAggView(spark, t, v, Seq("g"), "v").isDefined)
    assert(sameBag(view(), recompute()))
  }

  test("maintainAggView: NULL group keys stay ONE group across folds") {
    import graft.operators.Cdc
    val t = fresh("mav_null"); val v = fresh("mav_null_view")
    def mk(lo: Long, hi: Long): DataFrame = spark.range(lo, hi).select(
      col("id").as("k"),
      when(col("id") % 2L === 0L, lit(null).cast("long"))
        .otherwise(col("id") % 3L).as("g"),
      (col("id") * 3L).as("v"))
    TxLog.commit(spark, t, mk(0L, 100L))
    assert(Cdc.maintainAggView(spark, t, v, Seq("g"), "v").isDefined)
    // the second fold's null-group delta must MERGE into the stored
    // null-group row (GROUP BY null semantics), not duplicate it —
    // plain using-columns join equality would split it
    TxLog.commit(spark, t, mk(100L, 200L), append = true)
    assert(Cdc.maintainAggView(spark, t, v, Seq("g"), "v").isDefined)
    val view = TxLog.read(spark, v).drop("_maintained_to", "_nn")
    val want = TxLog.read(spark, t).groupBy(col("g"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("total"))
    assert(sameBag(view, want))
    assert(view.filter(col("g").isNull).count() == 1,
      "exactly one NULL-group row")
  }

  test("maintainAggView: all-NULL value group carries NULL total, not 0 (r9 ADVICE)") {
    import graft.operators.Cdc
    val t = fresh("mav_nullval"); val v = fresh("mav_nullval_view")
    def recompute(): DataFrame = TxLog.read(spark, t)
      .groupBy(col("g")).agg(count(lit(1)).as("n"), sum(col("v")).as("total"))
    def view(): DataFrame = TxLog.read(spark, v).drop("_maintained_to", "_nn")
    // group 0: every v NULL; group 1: non-null — SQL's sum over an
    // all-NULL group is NULL, and the fold must preserve that, not
    // coalesce it to 0
    def mk(lo: Long, hi: Long): DataFrame = spark.range(lo, hi).select(
      col("id").as("k"), (col("id") % 2L).as("g"),
      when(col("id") % 2L === 0L, lit(null).cast("long"))
        .otherwise(col("id") * 3L).as("v"))
    TxLog.commit(spark, t, mk(0L, 20L))
    assert(Cdc.maintainAggView(spark, t, v, Seq("g"), "v").isDefined)
    assert(sameBag(view(), recompute()))
    assert(view().filter(col("g") === 0L).select(col("total")).head().isNullAt(0),
      "all-NULL group must store NULL total")
    // a non-null insert into that group flips the total to a value...
    TxLog.commit(spark, t, spark.range(100L, 101L).select(col("id").as("k"),
      lit(0L).as("g"), lit(7L).as("v")), append = true)
    assert(Cdc.maintainAggView(spark, t, v, Seq("g"), "v").isDefined)
    assert(sameBag(view(), recompute()))
    assert(view().filter(col("g") === 0L).select(col("total"))
      .head().getLong(0) == 7L)
    // ...and deleting it flips the fold back to NULL (nn returns to 0)
    TxLog.deleteVectored(spark, t, "k", Some(100L), Some(100L))
    assert(Cdc.maintainAggView(spark, t, v, Seq("g"), "v").isDefined)
    assert(sameBag(view(), recompute()))
    assert(view().filter(col("g") === 0L).select(col("total")).head().isNullAt(0))
  }

  test("feed range validation fails loud") {
    val t = fresh("bounds")
    TxLog.commit(spark, t, data(0L, 10L))
    intercept[IllegalArgumentException](TxLog.changeFeed(spark, t, 1L, 1L))
    intercept[IllegalArgumentException](TxLog.changeFeed(spark, t, 0L, 2L))
    intercept[IllegalArgumentException](TxLog.changeFeed(spark, t, -1L, 1L))
  }

  test("change feed across schema evolution: pre-evolution rows null-fill") {
    val t = fresh("evolve")
    TxLog.commit(spark, t, spark.range(0L, 5L).select(col("id").as("k")))
    TxLog.commit(spark, t, spark.range(5L, 8L)
      .select(col("id").as("k"), lit("x").as("tag")), append = true)
    TxLog.deleteVectored(spark, t, "k", Some(1L), Some(1L))
    val feed = TxLog.changeFeed(spark, t, 0L, 3L).cache()
    assert(feed.columns.toSet ==
      Set("k", "tag", "_change_type", "_commit_version"))
    // v1 rows predate the column: they carry NULL, including the v3
    // delete pre-image that lives in a pre-evolution batch
    assert(feed.filter(col("_commit_version") === 1L)
      .filter(col("tag").isNotNull).isEmpty)
    assert(feed.filter(col("_commit_version") === 2L)
      .filter(col("tag") =!= "x").isEmpty)
    val del = feed.filter(col("_change_type") === "delete").collect()
    assert(del.length == 1 && del.head.getAs[Long]("k") == 1L &&
      del.head.getAs[String]("tag") == null)
    feed.unpersist()
  }

  test("an emptied view refolds from the SNAPSHOT — vacuum-safe from-zero (review)") {
    import graft.operators.Cdc
    val t = fresh("mav_empty"); val v = fresh("mav_empty_view")
    TxLog.commit(spark, t, data(0L, 100L))
    assert(Cdc.maintainAggView(spark, t, v, Seq("g"), "v",
      consumerName = Some("dash")).contains(1L))
    // delete EVERYTHING: the view empties and loses its in-row watermark
    TxLog.deleteVectored(spark, t, "k", Some(0L), Some(1000L))
    TxLog.purgeDeletes(spark, t)
    assert(Cdc.maintainAggView(spark, t, v, Seq("g"), "v",
      consumerName = Some("dash")).isDefined)
    assert(TxLog.read(spark, v).isEmpty)
    // retention moves on — the early manifests go away entirely
    TxLog.commit(spark, t, data(200L, 260L), append = true)
    val latest = TxLog.latestVersion(spark, t)
    TxLog.vacuum(spark, t, retainFrom = latest, force = true)
    // the from-zero refold reads the SNAPSHOT, not changeFeed(0, ·)
    // whose v1 manifest is gone — it must succeed and equal a fresh
    // aggregate
    assert(Cdc.maintainAggView(spark, t, v, Seq("g"), "v",
      consumerName = Some("dash")).contains(latest))
    val view = TxLog.read(spark, v).drop("_maintained_to", "_nn")
    val want = TxLog.read(spark, t).groupBy(col("g"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("total"))
    assert(sameBag(view, want))
  }

  test("vacuum refuses to reclaim a registered consumer's replay window (r10)") {
    val t = fresh("consumer_lag")
    (1 to 5).foreach(i => TxLog.commit(spark, t,
      data(i * 10L, i * 10L + 10L), append = i > 1))
    TxLog.ackConsumer(spark, t, "etl", 2L)
    // reclaiming past the ack would break changeFeed(2, ...) — refuse,
    // and the DRY RUN must refuse identically (a preview that lists
    // paths the real vacuum then declines to delete misleads)
    val e = intercept[IllegalStateException](TxLog.vacuum(spark, t, retainFrom = 4L))
    assert(e.getMessage.contains("etl@v2"))
    intercept[IllegalStateException](TxLog.vacuumDryRun(spark, t, 4L))
    assert(TxLog.vacuumDryRun(spark, t, 4L, force = true)._1.nonEmpty)
    // a DAMAGED ack file is a loud error, never a silent unpin
    val bad = new Path(s"$t/_log/consumer-etl")
    val out = fs.create(bad, true)
    out.write("garbage".getBytes("UTF-8")); out.close()
    val e2 = intercept[IllegalStateException](TxLog.vacuum(spark, t, retainFrom = 4L))
    assert(e2.getMessage.contains("unparsable"))
    TxLog.dropConsumer(spark, t, "etl")
    TxLog.ackConsumer(spark, t, "etl", 2L)
    // within the window: proceeds, and the consumer's fold still plans
    TxLog.vacuum(spark, t, retainFrom = 2L)
    assert(TxLog.changeFeed(spark, t, 2L, 5L).count() == 30L)
    // acks are monotonic: a stale re-delivery can't move it backwards
    TxLog.ackConsumer(spark, t, "etl", 1L)
    assert(TxLog.consumerAcks(spark, t) == Map("etl" -> 2L))
    // the consumer folds forward; deeper vacuum unblocks
    TxLog.ackConsumer(spark, t, "etl", 4L)
    TxLog.vacuum(spark, t, retainFrom = 4L)
    // force overrides knowingly; drop removes the pin entirely
    intercept[IllegalStateException](TxLog.vacuum(spark, t, retainFrom = 5L))
    TxLog.vacuum(spark, t, retainFrom = 5L, force = true)
    TxLog.dropConsumer(spark, t, "etl")
    assert(TxLog.consumerAcks(spark, t).isEmpty)
  }

  test("maintainAggView acks its consumer position after each fold (r10)") {
    import graft.operators.Cdc
    val t = fresh("mav_ack"); val v = fresh("mav_ack_view")
    TxLog.commit(spark, t, data(0L, 100L))
    assert(Cdc.maintainAggView(spark, t, v, Seq("g"), "v",
      consumerName = Some("dash")).contains(1L))
    assert(TxLog.consumerAcks(spark, t) == Map("dash" -> 1L))
    TxLog.commit(spark, t, data(100L, 150L), append = true)
    assert(Cdc.maintainAggView(spark, t, v, Seq("g"), "v",
      consumerName = Some("dash")).contains(2L))
    assert(TxLog.consumerAcks(spark, t) == Map("dash" -> 2L))
    // replay no-op still re-affirms the position
    assert(Cdc.maintainAggView(spark, t, v, Seq("g"), "v",
      consumerName = Some("dash")).isEmpty)
    assert(TxLog.consumerAcks(spark, t) == Map("dash" -> 2L))
    // the view's pin keeps its replay window vacuum-safe by default:
    // a commit the view hasn't folded yet must not be reclaimed past
    // the ack (retainFrom ≤ ack keeps the diff base and is fine)
    TxLog.commit(spark, t, data(150L, 160L), append = true) // v3, unfolded
    TxLog.vacuum(spark, t, retainFrom = 2L) // = ack: diff base survives
    intercept[IllegalStateException](TxLog.vacuum(spark, t, retainFrom = 3L))
    // the stream/batch fold catches up and releases the pin
    assert(Cdc.maintainAggView(spark, t, v, Seq("g"), "v",
      consumerName = Some("dash")).contains(3L))
    TxLog.vacuum(spark, t, retainFrom = 3L)
  }

  test("checkpoint-backed catch-up: append runs replay in O(ckpt+tail) manifest reads (r9 #4)") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.countfs.impl", classOf[CountingFileSystem].getName)
    val t = s"countfs://${GraftSession.scratchBase}/cdf_ckpt_catchup"
    val cfs = new Path(t).getFileSystem(spark.sparkContext.hadoopConfiguration)
    cfs.delete(new Path(t), true)
    // 12 appends: the v10 checkpoint covers v1..v10, v11..v12 are tail
    (1 to 12).foreach(i => TxLog.commit(spark, t,
      data(i * 10L, i * 10L + 10L), append = i > 1))
    CountingFileSystem.opens.set(0L)
    val feed = TxLog.changeFeed(spark, t, 1L, 12L)
    val planningOpens = CountingFileSystem.opens.get()
    // checkpoint classification: v2..v10 need NO manifest reads; the
    // plan costs hint + ckpt + anchor(v12) + tail diff(v10, v11) ≈ 5
    // opens — the per-version walk paid 2 per version (~22)
    assert(planningOpens <= 8,
      s"append catch-up planning opened $planningOpens files")
    // and the feed is content-identical to the diff path's answer
    assert(feed.filter(col("_change_type") =!= "insert").isEmpty,
      "append-only history must contain no deletes")
    assert(rows(feed.drop("_change_type", "_commit_version")) ==
      rows(data(20L, 130L)))
    val perV = feed.groupBy(col("_commit_version"))
      .agg(count(lit(1)).as("c")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perV == (2L to 12L).map(_ -> 10L).toMap,
      s"each append version must tag exactly its own rows: $perV")
  }

  test("checkpointed MIXED history reconstructs exactly (ckpt appends + diff versions)") {
    val t = fresh("ckpt_mixed")
    (1 to 8).foreach(i => TxLog.commit(spark, t,
      data(i * 100L, i * 100L + 100L), append = i > 1)) // v1..v8
    TxLog.merge(spark, t,
      data(150L, 160L).withColumn("v", col("v") + 1000000L), "k") // v9
    TxLog.deleteVectored(spark, t, "k", Some(300L), Some(320L)) // v10 (+ckpt)
    (11 to 12).foreach(i => TxLog.commit(spark, t,
      data(i * 100L, i * 100L + 100L), append = true)) // v11..v12 tail
    val toV = TxLog.latestVersion(spark, t)
    assert(toV == 12L)
    val feed = TxLog.changeFeed(spark, t, 1L, toV).cache()
    val meta = Seq("_change_type", "_commit_version")
    val ins = feed.filter(col("_change_type") === "insert").drop(meta: _*)
    val del = feed.filter(col("_change_type") === "delete").drop(meta: _*)
    val reconstructed = TxLog.read(spark, t, asOf = Some(1L))
      .unionByName(ins).exceptAll(del)
    assert(sameBag(reconstructed, TxLog.read(spark, t)),
      "ckpt-classified appends + diff versions must reconstruct the snapshot")
    assert(feed.filter(col("_commit_version") === 5L)
      .agg(count(lit(1))).head().getLong(0) == 100L)
    feed.unpersist()
  }

  test("a checkpoint built over vacuumed manifests never classifies those versions (review)") {
    val t = fresh("ckpt_postvacuum")
    // 9 appends (below CkptEvery — no checkpoint yet), vacuum away the
    // early manifests, THEN the 10th commit builds the checkpoint: the
    // build walks missing manifests and must record the trust boundary
    (1 to 9).foreach(i => TxLog.commit(spark, t,
      data(i * 10L, i * 10L + 10L), append = i > 1))
    TxLog.vacuum(spark, t, retainFrom = 6L)
    TxLog.commit(spark, t, data(100L, 110L), append = true) // v10 + ckpt
    // the reclaimed range stays LOUD — the fast path must not quietly
    // re-emit carried dirs as inserts where the diff path used to throw
    val e = intercept[IllegalStateException](TxLog.changeFeed(spark, t, 5L, 10L))
    assert(e.getMessage.contains("vacuum"))
    // the trusted tail replays exactly: versions 7..10, 10 rows each,
    // never the pre-vacuum table re-emitted
    val feed = TxLog.changeFeed(spark, t, 6L, 10L)
    assert(feed.count() == 40L,
      "post-vacuum checkpoint must not re-emit carried dirs as inserts")
    assert(rows(feed.drop("_change_type", "_commit_version")) ==
      rows(data(70L, 100L).unionByName(data(100L, 110L))))
  }

  test("a crashed ack publish (tmp-only) still pins vacuum and reads back (r10 ADVICE)") {
    val t = fresh("ack_crash")
    (1 to 4).foreach(i => TxLog.commit(spark, t,
      data(i * 10L, i * 10L + 10L), append = i > 1))
    TxLog.ackConsumer(spark, t, "dash", 2L)
    // simulate the crash window ackConsumer's delete→rename leaves: the
    // primary is gone, the fully-written tmp survives
    val p = new Path(s"$t/_log/consumer-dash")
    val tmp = new Path(s"$t/_log/consumer-dash.tmp")
    val out = fs.create(tmp, true)
    try out.write("3".getBytes("UTF-8")) finally out.close()
    fs.delete(p, false)
    // the registry recovers the tmp value — absence-with-tmp-present is
    // a crashed publish, not an absent consumer
    assert(TxLog.consumerAcks(spark, t) == Map("dash" -> 3L))
    // …and the vacuum gate still sees the pin (the silent-unpin failure)
    intercept[IllegalStateException](TxLog.vacuum(spark, t, retainFrom = 4L))
    // the read best-effort-finished the crashed publish — by COPY, so
    // a LIVE acker's tmp is never stolen out from under its rename
    // (round-11 advice: a stolen tmp made the acker's delete-then-retry
    // path erase the reader's freshly repaired pin)
    assert(fs.exists(p), "recovery should republish the primary ack")
    assert(fs.exists(tmp),
      "repair must copy, not steal — the tmp belongs to its acker")
    // monotonicity against the recovered value: a stale re-ack no-ops
    TxLog.ackConsumer(spark, t, "dash", 2L)
    assert(TxLog.consumerAcks(spark, t) == Map("dash" -> 3L))
    TxLog.ackConsumer(spark, t, "dash", 4L)
    TxLog.vacuum(spark, t, retainFrom = 4L)
    TxLog.dropConsumer(spark, t, "dash")
  }

  test("maintainAggView on a source with no commits is a no-op, consumer or not (r10 ADVICE)") {
    import graft.operators.Cdc
    val t = fresh("agg_empty_src")
    val v = fresh("agg_empty_view")
    fs.mkdirs(new Path(s"$t/_log")) // dir exists, zero committed versions
    assert(Cdc.maintainAggView(spark, t, v, Seq("g"), "v").isEmpty)
    assert(Cdc.maintainAggView(spark, t, v, Seq("g"), "v",
      consumerName = Some("early")).isEmpty,
      "a consumer-named maintenance call must not throw on an empty source")
    assert(TxLog.consumerAcks(spark, t).isEmpty,
      "nothing ackable before the first commit")
    // first commit: the same loop starts folding and pinning normally
    TxLog.commit(spark, t, data(0L, 20L))
    assert(Cdc.maintainAggView(spark, t, v, Seq("g"), "v",
      consumerName = Some("early")).contains(1L))
    assert(TxLog.consumerAcks(spark, t) == Map("early" -> 1L))
  }

  test("a legacy (two-field) checkpoint caps — not poisons — reliableFrom (r10 ADVICE)") {
    val t = fresh("legacy_ckpt")
    (1 to 10).foreach(i => TxLog.commit(spark, t,
      data(i * 10L, i * 10L + 10L), append = i > 1)) // ckpt-v10 written
    def header(v: Long): Array[String] = {
      val in = fs.open(new Path(s"$t/_log/ckpt-v$v"))
      val lines = try scala.io.Source.fromInputStream(in).getLines().toList
        finally in.close()
      lines.head.split('\t')
    }
    // rewrite ckpt-v10 to the legacy two-field header (pre-upgrade build)
    val in = fs.open(new Path(s"$t/_log/ckpt-v10"))
    val body = try scala.io.Source.fromInputStream(in).getLines().toList
      finally in.close()
    val legacy = (body.head.split('\t').take(2).mkString("\t") +: body.tail)
      .mkString("\n")
    val out = fs.create(new Path(s"$t/_log/ckpt-v10"), true)
    try out.write(legacy.getBytes("UTF-8")) finally out.close()
    assert(header(10L).length == 2)
    (11 to 20).foreach(i => TxLog.commit(spark, t,
      data(i * 10L, i * 10L + 10L), append = true)) // ckpt-v20: prev=legacy
    // post-upgrade checkpoint: the legacy unknown is capped at
    // prev.version (10), never inherited as MaxValue forever
    val rf = header(20L)(2).toLong
    assert(rf == 10L, s"reliableFrom $rf should cap at the legacy prev version")
    // and the fast path actually works for the post-upgrade tail
    val feed = TxLog.changeFeed(spark, t, 10L, 20L)
    assert(feed.count() == 100L)
    assert(rows(feed.drop("_change_type", "_commit_version")) ==
      rows(data(110L, 210L)))
  }

  test("a feed spanning vacuumed versions fails loud at planning, not mid-replay") {
    val t = fresh("vacuumed")
    (0 until 3).foreach(i => TxLog.commit(spark, t,
      data(i * 10L, i * 10L + 10L), append = i > 0))
    TxLog.vacuum(spark, t, retainFrom = 2L)
    // replaying v2 needs manifest v1 (the diff base) — reclaimed
    val e = intercept[IllegalStateException](TxLog.changeFeed(spark, t, 1L, 3L))
    assert(e.getMessage.contains("vacuum"))
    // the retained tail still replays: v3's diff base (v2) survives
    assert(TxLog.changeFeed(spark, t, 2L, 3L).count() == 10L)
  }
}
