package graft

import graft.routing._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

class RoutingSpec extends AnyFunSuite {
  import SparkTestSession._

  private val failRouter = new SyntheticRouter(30.0, _ => true) // every block fails

  private def pts(ids: String*): IndexedSeq[RoutePoint] =
    ids.toIndexedSeq.map(i => RoutePoint(i, 120.0, 30.0))

  test("R2: 1x1 identical pair short-circuits to zero without routing") {
    val out = TravelTimeMatrix.routeBlock(failRouter, pts("x"), pts("x"), 0, 5).toList
    assert(out == List(TimeRecord("x", "x", Some(0.0))))
  }

  test("R3: failing 1x1 distinct pair emits null") {
    val out = TravelTimeMatrix.routeBlock(failRouter, pts("a"), pts("b"), 0, 5).toList
    assert(out == List(TimeRecord("a", "b", None)))
  }

  test("R3: max depth reached emits nulls for the whole block") {
    val out = TravelTimeMatrix.routeBlock(failRouter, pts("a", "b"), pts("c", "d"), 5, 5).toList
    assert(out.size == 4 && out.forall(_.duration_sec.isEmpty))
  }

  test("R3: quadtree isolates islands — only island pairs are null, pair set conserved") {
    val os = (0 until 37).map(i => RoutePoint(f"o$i%03d", 120.0 + i * 0.25, 30.0)).toIndexedSeq
    val ds = (0 until 23).map(i => RoutePoint(f"d$i%03d", 121.0, 30.0 + i * 0.25)).toIndexedSeq
    val islands = Set("o005", "o017", "d011")
    val router = new SyntheticRouter(30.0, p => islands(p.id), p => islands(p.id))
    val out = TravelTimeMatrix.routeBlock(router, os, ds, 0, 10).toList
    // pair conservation: found + missing == full cross product, each exactly once
    assert(out.size == os.size * ds.size)
    assert(out.map(r => (r.origin_id, r.destination_id)).toSet.size == out.size)
    val missing = out.filter(_.duration_sec.isEmpty)
    assert(missing.forall(r => islands(r.origin_id) || islands(r.destination_id)))
    assert(missing.size == 2 * ds.size + os.size - 2) // 2 island origins + 1 island dest, minus overlap
  }

  test("distributed run matches task-local routeBlock on the same inputs") {
    val s = spark
    val os = (0 until 50).map(i => RoutePoint(f"o$i%03d", 120.0 + (i % 7) * 0.25, 30.0 + (i % 5) * 0.25))
    val ds = (0 until 20).map(i => RoutePoint(f"d$i%03d", 121.0 + (i % 3) * 0.25, 31.0 + (i % 11) * 0.25))
    val router = new SyntheticRouter(30.0, p => p.id == "o013", p => p.id == "d007")
    val got = TravelTimeMatrix.run(s, os, ds, router, oSplit = 16, dSplit = 8, maxDepth = 10)
      .collect().map(r => (r.origin_id, r.destination_id) -> r.duration_sec).toMap
    val want = TravelTimeMatrix.routeBlock(router, os.toIndexedSeq, ds.toIndexedSeq, 0, 10)
      .map(r => (r.origin_id, r.destination_id) -> r.duration_sec).toMap
    assert(got == want)
    assert(got.size == 1000)
  }

  test("depth-capped NULL pairs follow contiguous chunks of Spark's id order") {
    val s = spark
    import s.implicits._
    // UTF-16 order puts "😀" (a surrogate pair) before "｡" (U+FF61); UTF-8
    // byte order, which orderBy("id") uses, puts it after
    val ids = Seq("b", "｡1", "｡2", "😀1", "😀2", "a", "😀0", "｡0")
    val dests = Seq("d0", "d1", "d2").map(RoutePoint(_, 121.0, 30.0))
    val planted = Set("｡2", "😀0")
    val oSplit = 3
    val chunks = ids.toDF("id").orderBy("id").as[String].collect().toSeq.grouped(oSplit).toSeq
    assert(chunks != ids.sorted.grouped(oSplit).toSeq, "fixture must separate the two orders")
    val want = (for (c <- chunks if planted.subsetOf(c.toSet); o <- c; d <- dests)
      yield (o, d.id)).toSet
    assert(want.nonEmpty, "both planted ids must share a chunk in Spark's order")
    val got = TravelTimeMatrix.run(s, ids.reverse.map(RoutePoint(_, 120.0, 30.0)), dests,
        new PairFailRouter(planted), oSplit = oSplit, dSplit = 2, maxDepth = 0)
      .collect()
    assert(got.length == ids.size * dests.size)
    assert(got.filter(_.duration_sec.isEmpty).map(r => (r.origin_id, r.destination_id)).toSet == want)
  }

  test("snap: grid snap + no-snap fallback + is_snapped") {
    val s = spark
    import s.implicits._
    val in = Seq(
      RawPoint("on_grid", 120.5, 30.0),   // already on grid → not snapped
      RawPoint("off_grid", 120.25, 30.25), // snaps up (half-away)
      RawPoint("no_snap", 120.25, 50.0))   // snapper refuses → fallback
    val out = Snap(s, in.toDS(), new GridSnapper(noSnapAboveLat = 45.0))
      .collect().map(p => p.id -> p).toMap
    assert(!out("on_grid").is_snapped)
    assert(out("off_grid").lon_snapped == 120.5 && out("off_grid").lat_snapped == 30.5)
    assert(out("off_grid").is_snapped)
    assert(out("no_snap").lon_snapped == 120.25 && !out("no_snap").is_snapped)
  }

  test("snap: backend calls are capped at batchSize regardless of partition size") {
    val s = spark
    import s.implicits._
    // a snapper that records every batch size it sees (driver-side via
    // accumulator-free trick: local[*] shares the JVM, so a static sink works)
    MaxBatchSink.sizes.clear()
    val in = (0 until 2350).map(i => RawPoint(f"p$i%05d", 120.0 + (i % 50) * 0.25, 30.0))
    val out = Snap(s, in.toDS().repartition(3), new RecordingSnapper, batchSize = 100)
      .collect()
    assert(out.length == in.size)
    assert(out.map(_.id).toSet == in.map(_.id).toSet)
    val sizes = MaxBatchSink.sizes.asScala.toList
    assert(sizes.nonEmpty && sizes.max <= 100, s"saw batch sizes ${sizes.distinct}")
    // every point snapped to the 0.5 grid exactly as with one big batch
    val direct = new GridSnapper().snap(in.map(p => (p.lon, p.lat)))
    val byId = out.map(p => p.id -> (p.lon_snapped, p.lat_snapped)).toMap
    in.zip(direct).foreach { case (p, s0) =>
      assert(byId(p.id) == s0.get)
    }
  }
}

/** Fails every block whose origins hold all of `planted`. */
final class PairFailRouter(planted: Set[String]) extends Router {
  override def table(os: IndexedSeq[RoutePoint], ds: IndexedSeq[RoutePoint]): Array[Array[Double]] =
    if (planted.subsetOf(os.map(_.id).toSet)) throw new RoutingFailure("planted pair")
    else Array.fill(os.length, ds.length)(1.0)
}

/** JVM-local sink recording batch sizes (tests run local[*], one JVM). */
object MaxBatchSink {
  val sizes = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
}

final class RecordingSnapper extends Snapper {
  private val inner = new GridSnapper()
  override def snap(batch: Seq[(Double, Double)]): Seq[Option[(Double, Double)]] = {
    MaxBatchSink.sizes.add(batch.size)
    inner.snap(batch)
  }
}
