package perfbench

import java.nio.file.{Files, Paths}

import graft.GraftSession
import graft.jobs.CalculateTimes
import graft.operators.Dedup
import graft.routing._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** A router that is one second off on one pair and otherwise honest. */
final class OneSecondOff(inner: Router, o: String, d: String) extends Router {
  override def table(os: IndexedSeq[RoutePoint], ds: IndexedSeq[RoutePoint]): Array[Array[Double]] = {
    val m = inner.table(os, ds)
    for (i <- os.indices if os(i).id == o; j <- ds.indices if ds(j).id == d) m(i)(j) += 1.0
    m
  }
}

/** The benchmark's checks must catch a wrong answer: each test runs the
  * program once honestly (the check passes) and once with one planted
  * fault (the check fails).
  */
class NegativeControlSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = GraftSession.builder("perfbench-negative-control", "local[2]")
      .config("spark.sql.shuffle.partitions", "2").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  private val work = Paths.get("target", "negative-control").toAbsolutePath

  private def publish(od: Gen.OdSet, router: Router, name: String): CalculateTimes.Result = {
    Main.deleteTree(work.resolve(name))
    CalculateTimes.run(spark, Workloads.ds(spark, od.origins), Workloads.ds(spark, od.dests),
      new GridSnapper(od.noSnapAboveLat), router,
      CalculateTimes.Config(oSplit = 8, dSplit = 8, maxDepth = 12, outDir = work.resolve(name).toString))
  }

  test("a router one second off on one pair fails the publish check") {
    val od = Gen.odSet(seed = 7, nO = 24, nD = 16, nIslandO = 2, nIslandD = 1)
    val (io, id) = (od.islandO, od.islandD)
    val honest = new SyntheticRouter(od.speedMps, p => io.contains(p.id), p => id.contains(p.id))
    Check.published(publish(od, honest, "honest"), Workloads.expect(od))

    val o = od.origins.map(_.id).find(x => !io.contains(x)).get
    val d = od.dests.map(_.id).find(x => !id.contains(x)).get
    val e = intercept[CheckFailed] {
      Check.published(publish(od, new OneSecondOff(honest, o, d), "off"), Workloads.expect(od))
    }
    assert(e.getMessage.contains(s"($o,$d)"), e.getMessage)
  }

  test("a dropped duplicate fails the dedup check") {
    val corpus = Gen.corpus(seed = 7, clusters = 12, words = 300, edits = 2)
    val text = corpus.docs.toMap
    val want = corpus.expectedPairs.map { case (a, b) => (a, b) -> Gen.jaccard(text(a), text(b)) }.toMap
    assert(want.nonEmpty)
    val s = spark
    import s.implicits._
    val got = Dedup.minhashPairs(corpus.docs.toDF("doc_id", "text")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSeq
    Check.dedup(got, want)
    intercept[CheckFailed](Check.dedup(got.tail, want))
  }

  test("cross-cluster documents share no word") {
    val corpus = Gen.corpus(seed = 7, clusters = 12, words = 300, edits = 2)
    val words = corpus.docs.map { case (id, t) => corpus.clusterOf(id) -> t.split(" ").toSet }
      .groupBy(_._1).map { case (c, ws) => c -> ws.flatMap(_._2).toSet }
    for (a <- words.keys; b <- words.keys if a < b) assert(words(a).intersect(words(b)).isEmpty)
  }
}
