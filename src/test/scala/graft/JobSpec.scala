package graft

import graft.jobs.CalculateTimes
import graft.routing._
import graft.sources.TableIO
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end pipeline invariants (FIXTURES.md §C / SURVEY §5). */
class JobSpec extends AnyFunSuite {
  import SparkTestSession._

  private lazy val result = {
    val s = spark
    import s.implicits._
    val origins = (0 until 60).map(i => RawPoint(f"${i}%07d23", 120.0 + (i % 9) * 0.25, 28.0 + (i % 7) * 0.25))
    val dests = (0 until 15).map(i => RawPoint(f"${i + 500000}%07d41", 121.0 + (i % 5) * 0.25, 29.0 + (i % 11) * 0.25))
    val router = new SyntheticRouter(30.0,
      originIsland = p => p.id.startsWith("000001"),
      destIsland = _ => false)
    CalculateTimes.run(s, origins.toDS(), dests.toDS(),
      new GridSnapper(noSnapAboveLat = 44.0), router,
      CalculateTimes.Config(oSplit = 16, dSplit = 8, maxDepth = 10,
        outDir = "/tmp/graft_job_spec"))
  }

  test("pair conservation: |times| + |missing_pairs| = n_origins × n_destinations") {
    val times = TableIO.readPartitioned(spark, result.timesDir)
    val missing = TableIO.readPartitioned(spark, result.missingDir)
    val meta = spark.read.parquet(result.metadataDir).head
    assert(times.count() + missing.count() == meta.getAs[Long]("calc_n_pairs"))
    assert(missing.count() == meta.getAs[Long]("calc_n_missing_pairs"))
  }

  test("metadata carries the reference's full audit column set") {
    // /root/reference/data/src/utils/constants.py:57-83 (centroid_type is
    // the partition level)
    val want = Set(
      "run_id", "calc_datetime_finished", "calc_time_elapsed_sec",
      "calc_chunk_id", "calc_chunk_n_origins", "calc_chunk_n_destinations",
      "calc_n_origins", "calc_n_destinations", "calc_n_pairs",
      "calc_n_missing_pairs", "git_commit_sha_short", "git_commit_sha_long",
      "param_network_buffer_m", "param_destination_buffer_m",
      "param_max_split_size", "param_use_snapped",
      "file_input_origins_md5", "file_input_destinations_md5")
    val meta = spark.read.parquet(result.metadataDir)
    assert(want.subsetOf(meta.columns.toSet), want.diff(meta.columns.toSet).toString)
    val row = meta.head
    assert(row.getAs[String]("calc_chunk_id").matches("""\d+-\d+_\d+-\d+"""))
    assert(row.getAs[String]("git_commit_sha_short").length <= 7 ||
      row.getAs[String]("git_commit_sha_short") == "unknown")
  }

  test("no nulls outside duration_sec; missing_pairs has no duration column") {
    val times = TableIO.readPartitioned(spark, result.timesDir)
    assert(times.filter(col("origin_id").isNull || col("destination_id").isNull).isEmpty)
    assert(times.filter(col("duration_sec").isNull).isEmpty) // nulls split out
    val missing = TableIO.readPartitioned(spark, result.missingDir)
    assert(!missing.columns.contains("duration_sec"))
  }

  test("points table carries both point_types with snap fallback applied") {
    val points = TableIO.readPartitioned(spark, result.pointsDir)
    val types = points.select("point_type").distinct().collect().map(_.getString(0)).toSet
    assert(types == Set("origin", "destination"))
    assert(points.filter(col("lon_snapped").isNull).isEmpty) // P6 coalesce
  }

  test("partition keys are strings everywhere in the published tree") {
    Seq(result.timesDir, result.missingDir, result.pointsDir).foreach { d =>
      val schema = TableIO.readPartitioned(spark, d).schema
      TableIO.PartitionKeys.foreach { k =>
        assert(schema(k).dataType.typeName == "string", s"$d: $k")
      }
    }
  }

  test("matrix is routed exactly once and never left cached (write-once, derive missing)") {
    val s = spark
    import s.implicits._
    val origins = (0 until 40).map(i => RawPoint(f"${i}%07d23", 120.0 + (i % 9) * 0.25, 28.0 + (i % 7) * 0.25))
    val dests = (0 until 10).map(i => RawPoint(f"${i + 500000}%07d41", 121.0 + (i % 5) * 0.25, 29.0 + (i % 11) * 0.25))
    val base = new SyntheticRouter(30.0,
      originIsland = p => p.id.startsWith("000001"), destIsland = _ => false)
    val counting = new CountingRouter(base)

    // reference pass: the same matrix through the operator alone, one scan
    val snapper = new GridSnapper(noSnapAboveLat = 44.0)
    val ro = Snap(s, origins.toDS(), snapper).map(p => RoutePoint(p.id, p.lon_snapped, p.lat_snapped)).collect()
    val rd = Snap(s, dests.toDS(), snapper).map(p => RoutePoint(p.id, p.lon_snapped, p.lat_snapped)).collect()
    RouterCallSink.calls.set(0)
    TravelTimeMatrix.run(s, ro, rd, counting, 16, 8, 10).toDF().count()
    val singlePass = RouterCallSink.calls.get()
    assert(singlePass > 0)

    // the full job must not route any block a second time (no cache, no
    // second evaluation for the null split) ...
    val before = s.sparkContext.getPersistentRDDs.keySet
    RouterCallSink.calls.set(0)
    CalculateTimes.run(s, origins.toDS(), dests.toDS(), snapper, counting,
      CalculateTimes.Config(oSplit = 16, dSplit = 8, maxDepth = 10,
        outDir = "/tmp/graft_job_once"))
    assert(RouterCallSink.calls.get() == singlePass,
      s"job routed ${RouterCallSink.calls.get()} blocks vs $singlePass for one pass")
    // ... and must release every cache it created (the matrix is never
    // cached at all; point caches are unpersisted before returning)
    val leaked = s.sparkContext.getPersistentRDDs.keySet.diff(before)
    assert(leaked.isEmpty, s"job left cached RDDs: $leaked")
  }

  test("a crash between table publishes is recovered atomically: pair conservation survives (r12)") {
    val s = spark
    import s.implicits._
    val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
    val out = "/tmp/graft_job_crash"
    fs.delete(new org.apache.hadoop.fs.Path(out), true)
    val origins = (0 until 24).map(i => RawPoint(f"${i}%07d23", 120.0 + (i % 9) * 0.25, 28.0 + (i % 7) * 0.25))
    val dests = (0 until 8).map(i => RawPoint(f"${i + 500000}%07d41", 121.0 + (i % 5) * 0.25, 29.0 + (i % 11) * 0.25))
    val router = new SyntheticRouter(30.0,
      originIsland = p => p.id.startsWith("000001"), destIsland = _ => false)
    def job(fp: String => Unit) = CalculateTimes.run(
      s, origins.toDS(), dests.toDS(),
      new GridSnapper(noSnapAboveLat = 44.0), router,
      CalculateTimes.Config(oSplit = 16, dSplit = 8, maxDepth = 10, outDir = out),
      failpoint = fp)
    // the coordinator dies right after publishing `times` — the exact
    // window where the reference's trio goes inconsistent
    // (calc_n_pairs audited by a metadata row that never landed)
    val e = intercept[RuntimeException](job {
      case "published:times" => throw new RuntimeException("injected-crash")
      case _ => ()
    })
    assert(e.getMessage == "injected-crash")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$out/times")),
      "times published before the crash")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$out/metadata")),
      "metadata must NOT be visible — the crash state is torn")
    // next job start recovers BEFORE trusting anything (CalculateTimes
    // invokes this itself; driven directly here to assert the result)
    val rec = graft.sources.TreeTxn.recover(s, s"$out/_txn")
    assert(rec.rolledForward.size == 1 && rec.rolledBack.isEmpty)
    // the trio invariant the transaction exists to keep
    val times = TableIO.readPartitioned(s, s"$out/times")
    val missing = TableIO.readPartitioned(s, s"$out/missing_pairs")
    val meta = s.read.parquet(s"$out/metadata").head
    assert(times.count() + missing.count() == meta.getAs[Long]("calc_n_pairs"))
    assert(meta.getAs[Long]("calc_n_pairs") == 24L * 8L)
    assert(missing.count() == meta.getAs[Long]("calc_n_missing_pairs"))
    // a full re-run OVERWRITES the recovered publish atomically (its
    // own job-start recovery finds a clean txn dir)
    job(_ => ())
    val times2 = TableIO.readPartitioned(s, s"$out/times")
    val meta2 = s.read.parquet(s"$out/metadata").head
    assert(times2.count() + TableIO.readPartitioned(s, s"$out/missing_pairs").count() ==
      meta2.getAs[Long]("calc_n_pairs"))
  }
}

/** JVM-local router call counter (tests run local[*], one JVM). */
object RouterCallSink {
  val calls = new java.util.concurrent.atomic.AtomicInteger(0)
}

final class CountingRouter(inner: Router) extends Router {
  override def table(
      origins: IndexedSeq[RoutePoint],
      dests: IndexedSeq[RoutePoint]): Array[Array[Double]] = {
    RouterCallSink.calls.incrementAndGet()
    inner.table(origins, dests)
  }
}
