package graft

import graft.jobs.{CalculateTimes, Pipeline, Reconcile}
import graft.routing._
import graft.schemas.Schemas
import graft.sources.{TableIO, TreeTxn}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Missing-pairs reconciliation (fix_missing.sh semantics): a flaky run
  * followed by reconcile must converge to the full-route result, with
  * pair-count conservation at every step.
  */
class ReconcileSpec extends AnyFunSuite {
  import SparkTestSession._

  private def origins = (0 until 60).map(i =>
    RawPoint(f"${i}%07d23", 120.0 + (i % 9) * 0.25, 28.0 + (i % 7) * 0.25))
  private def dests = (0 until 15).map(i =>
    RawPoint(f"${i + 500000}%07d41", 121.0 + (i % 5) * 0.25, 29.0 + (i % 11) * 0.25))
  private val snapper = new GridSnapper(noSnapAboveLat = 44.0)
  private val cfg0 = CalculateTimes.Config(oSplit = 16, dSplit = 8, maxDepth = 10,
    outDir = "unset")

  private def timesSet(dir: String): Set[(String, String, Double)] =
    TableIO.readPartitioned(spark, dir)
      .select("origin_id", "destination_id", "duration_sec")
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet

  private def missingCount(out: String): Long =
    Pipeline.countPartitioned(spark, s"$out/missing_pairs", Schemas.missingPairs)

  private def fresh(out: String): Unit =
    org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(out), true)

  test("flaky run + reconcile converges to the full-route result; conservation holds") {
    val s = spark
    import s.implicits._
    val out = "/tmp/graft_reconcile_spec"
    fresh(out)
    // run 1: transient failures — every origin with prefix 000001 fails
    val flaky = new SyntheticRouter(30.0,
      originIsland = p => p.id.startsWith("000001"), destIsland = _ => false)
    CalculateTimes.run(s, origins.toDS(), dests.toDS(), snapper, flaky,
      cfg0.copy(outDir = out))
    val total = 60L * 15L
    val t1 = timesSet(s"$out/times").size
    val m1 = missingCount(out)
    assert(m1 > 0, "fixture must produce missing pairs")
    assert(t1 + m1 == total)

    // reconcile with a healthy router: everything recovers
    val healthy = new SyntheticRouter(30.0)
    val r = Reconcile.missingPairs(s, out, healthy, cfg0,
      oSplit = 16, dSplit = 8, maxDepth = 10)
    assert(r.nMissingBefore == m1)
    assert(r.nReconciled == m1)
    assert(r.nStillMissing == 0)
    assert(missingCount(out) == 0)

    // the merged tree equals a clean full-route run, value for value
    val ref = "/tmp/graft_reconcile_ref"
    fresh(ref)
    CalculateTimes.run(s, origins.toDS(), dests.toDS(), snapper, healthy,
      cfg0.copy(outDir = ref))
    assert(timesSet(s"$out/times") == timesSet(s"$ref/times"))
    // no duplicate pairs from the merge
    val merged = TableIO.readPartitioned(s, s"$out/times")
      .groupBy("origin_id", "destination_id").count()
      .filter(col("count") > 1)
    assert(merged.isEmpty)
  }

  test("persistent failures stay missing; conservation holds step by step") {
    val s = spark
    import s.implicits._
    val out = "/tmp/graft_reconcile_partial"
    fresh(out)
    // run 1: two failure classes — transient (origin 000001*) and
    // persistent (destination 050000[0-3]*)
    val flaky = new SyntheticRouter(30.0,
      originIsland = p => p.id.startsWith("000001"),
      destIsland = p => p.id.drop(6).take(1) == "3")
    CalculateTimes.run(s, origins.toDS(), dests.toDS(), snapper, flaky,
      cfg0.copy(outDir = out))
    val total = 60L * 15L
    val m1 = missingCount(out)
    assert(timesSet(s"$out/times").size + m1 == total)

    // reconcile fixes the transient class only
    val stillFlaky = new SyntheticRouter(30.0,
      originIsland = _ => false,
      destIsland = p => p.id.drop(6).take(1) == "3")
    val r = Reconcile.missingPairs(s, out, stillFlaky, cfg0,
      oSplit = 16, dSplit = 8, maxDepth = 10)
    assert(r.nMissingBefore == m1)
    assert(r.nStillMissing > 0 && r.nStillMissing < m1)
    assert(r.nReconciled == m1 - r.nStillMissing)
    assert(timesSet(s"$out/times").size + r.nStillMissing == total)

    // second reconcile against a healthy backend drains the rest
    val r2 = Reconcile.missingPairs(s, out, new SyntheticRouter(30.0), cfg0,
      oSplit = 16, dSplit = 8, maxDepth = 10)
    assert(r2.nStillMissing == 0)
    assert(timesSet(s"$out/times").size == total)
  }

  test("a crash inside the missing_pairs publish is recovered: the tree stays, conservation holds") {
    val s = spark
    import s.implicits._
    val out = "/tmp/graft_reconcile_crash"
    fresh(out)
    val flaky = new SyntheticRouter(30.0,
      originIsland = p => p.id.startsWith("000001"), destIsland = _ => false)
    CalculateTimes.run(s, origins.toDS(), dests.toDS(), snapper, flaky,
      cfg0.copy(outDir = out))
    val total = 60L * 15L
    val m1 = missingCount(out)
    assert(m1 > 0)
    val e = intercept[RuntimeException](Reconcile.missingPairs(s, out,
      new SyntheticRouter(30.0), cfg0, oSplit = 16, dSplit = 8, maxDepth = 10,
      failpoint = {
        case "claimed" => throw new RuntimeException("injected-crash")
        case _ => ()
      }))
    assert(e.getMessage == "injected-crash")
    // the rewrite is claimed but unpublished: the old tree is still live
    assert(missingCount(out) == m1)
    assert(TreeTxn.recover(s, s"$out/_txn").rolledForward.size == 1)
    assert(missingCount(out) == 0)
    assert(timesSet(s"$out/times").size == total)
    // a second reconcile finds nothing left to do
    assert(Reconcile.missingPairs(s, out, new SyntheticRouter(30.0), cfg0) ==
      Reconcile.Result(0, 0, 0))
  }

  test("a re-run after a crash before the missing_pairs claim appends no pair twice") {
    val s = spark
    import s.implicits._
    val flaky = new SyntheticRouter(30.0,
      originIsland = p => p.id.startsWith("000001"), destIsland = _ => false)
    def flakyRun(out: String): Long = {
      fresh(out)
      CalculateTimes.run(s, origins.toDS(), dests.toDS(), snapper, flaky,
        cfg0.copy(outDir = out))
      missingCount(out)
    }
    def reconcile(out: String, failpoint: String => Unit = _ => ()) =
      Reconcile.missingPairs(s, out, new SyntheticRouter(30.0), cfg0,
        oSplit = 16, dSplit = 8, maxDepth = 10, failpoint = failpoint)
    val total = 60L * 15L
    val out = "/tmp/graft_reconcile_rerun"
    val m1 = flakyRun(out)
    assert(m1 > 0)
    // the rerouted pairs are appended to `times`, then the decision is
    // recorded but never claimed: the pairs sit in both trees
    val e = intercept[RuntimeException](reconcile(out, {
      case "recorded" => throw new RuntimeException("injected-crash")
      case _ => ()
    }))
    assert(e.getMessage == "injected-crash")
    assert(missingCount(out) == m1)
    // the re-run (whose recovery leaves the fresh intent alone) only
    // republishes the remainder
    assert(reconcile(out) == Reconcile.Result(m1, m1, 0))
    val times = TableIO.readPartitioned(s, s"$out/times")
    assert(times.groupBy("origin_id", "destination_id").count()
      .filter(col("count") > 1).isEmpty, "a pair was appended twice")
    assert(times.count() + missingCount(out) == total)
    val ref = "/tmp/graft_reconcile_rerun_ref"
    assert(flakyRun(ref) == m1)
    reconcile(ref)
    assert(timesSet(s"$out/times") == timesSet(s"$ref/times"))
  }

  test("countPartitioned counts an empty tree as 0 and fails on an absent one") {
    val dir = "/tmp/graft_count_partitioned"
    fresh(dir)
    intercept[org.apache.spark.sql.AnalysisException](missingCount(dir))
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        Schemas.missingPairs)
      .write.parquet(s"$dir/missing_pairs")
    assert(missingCount(dir) == 0)
  }
}
