package graft

import graft.operators.GraphOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class GraphSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  test("pageRank: 2-cycle is a fixed point at rank 1.0 exactly") {
    val e = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val r = GraphOps.pageRank(e, iters = 7).collect()
    assert(r.length == 2)
    r.foreach(row => assert(row.getAs[Long]("rank") == GraphOps.Scale))
  }

  test("pageRank: star graph — hub absorbs leaf mass, leaves decay to base") {
    // 4 leaves -> hub, hub -> leaf1 (so the hub isn't dangling)
    val e = Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 0L), (0L, 1L)).toDF("src", "dst")
    val r = GraphOps.pageRank(e, iters = 5)
      .collect().map(x => x.getAs[Long]("node") -> x.getAs[Long]("rank")).toMap
    val base = (15L * GraphOps.Scale) / 100L
    // leaves 2..4 get no in-edges: exactly the teleport base after round 1
    Seq(2L, 3L, 4L).foreach(n => assert(r(n) == base, s"leaf $n: ${r(n)}"))
    // hub outranks every leaf; leaf 1 (fed by hub) outranks the bare leaves
    assert(r(0L) > r(1L) && r(1L) > r(2L))
  }

  test("pageRank: bit-identical across partition counts (integer determinism)") {
    val e = Tables.orders(spark, sf0001).select(
      ($"o_custkey" % 97).as("src"), ($"o_orderkey" % 97).as("dst"))
    def run(parts: Int) = GraphOps.pageRank(e.repartition(parts), iters = 4)
      .collect().map(x => x.getAs[Long]("node") -> x.getAs[Long]("rank")).toMap
    assert(run(2) == run(11))
  }

  test("triangles: K4 plus a pendant edge, robust to direction/dups/self-loops") {
    // K4 on {1,2,3,4} = 4 triangles; node 5 hangs off 4 and closes none.
    // Edges arrive with duplicates, reversed copies, and a self-loop —
    // all must collapse before orientation.
    val e = Seq(
      (1L, 2L), (2L, 1L), (1L, 3L), (1L, 4L), (2L, 3L), (3L, 2L),
      (2L, 4L), (3L, 4L), (4L, 5L), (3L, 3L)).toDF("src", "dst")
    val got = GraphOps.triangles(e).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 2L, 3L), (1L, 2L, 4L), (1L, 3L, 4L), (2L, 3L, 4L)))
    // exactly once each — no duplicate enumeration
    assert(GraphOps.triangles(e).count() == 4)
  }

  test("triangles: equals brute force on the fixture-derived graph") {
    val e = Tables.orders(spark, sf0001).select(
      ($"o_custkey" % 97).as("src"), ($"o_orderkey" % 97).as("dst"))
    val got = GraphOps.triangles(e).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val adj = e.select(least($"src", $"dst").cast("long"), greatest($"src", $"dst").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).filter(p => p._1 != p._2).toSet
    val nodes = adj.flatMap(p => Seq(p._1, p._2)).toSeq.sorted
    val want = (for {
      i <- nodes.indices.iterator
      j <- (i + 1) until nodes.length
      if adj((nodes(i), nodes(j)))
      k <- (j + 1) until nodes.length
      if adj((nodes(j), nodes(k))) && adj((nodes(i), nodes(k)))
    } yield (nodes(i), nodes(j), nodes(k))).toSet
    assert(got == want, s"missing ${want.diff(got).size} / extra ${got.diff(want).size}")
  }

  test("kCore: peels a planted lollipop exactly; k+1 rounds = fixed point") {
    // K5 on {1..5} (degree 4 each) + a tail 5-6-7: at k=3 the tail peels
    // over two rounds and K5 survives with in-core degree 4
    val e = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L), (2L, 3L), (2L, 4L), (2L, 5L),
      (3L, 4L), (3L, 5L), (4L, 5L), (5L, 6L), (6L, 7L)).toDF("src", "dst")
    val got = GraphOps.kCore(e, k = 3, rounds = 4).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("core_deg")).toMap
    assert(got == Map(1L -> 4L, 2L -> 4L, 3L -> 4L, 4L -> 4L, 5L -> 4L))
    // empty core when k exceeds every degree
    assert(GraphOps.kCore(e, k = 6, rounds = 4).isEmpty)
  }

  test("kCore equals driver-side peeling to fixed point on seeded random graphs") {
    val rng = new scala.util.Random(42)
    for (trial <- 1 to 6) {
      val n = 6 + rng.nextInt(25)
      val m = 4 + rng.nextInt(40)
      val edges = (1 to m).map { _ =>
        val a = rng.nextInt(n); val b = rng.nextInt(n)
        (math.min(a, b).toLong, math.max(a, b).toLong)
      }.filter(p => p._1 != p._2).distinct
      if (edges.nonEmpty) {
        val k = 2 + rng.nextInt(3)
        // driver-side peel, tracking the depth to size the round budget
        var adj = edges.toSet
        var depth = 0
        var done = false
        while (!done) {
          val deg = adj.toSeq.flatMap(p => Seq(p._1, p._2))
            .groupBy(identity).view.mapValues(_.size).toMap
          val keep = deg.filter(_._2 >= k).keySet
          val next = adj.filter(p => keep(p._1) && keep(p._2))
          done = next == adj
          adj = next
          depth += 1
        }
        val want = adj.toSeq.flatMap(p => Seq(p._1, p._2))
          .groupBy(identity).view.mapValues(_.size.toLong).toMap
        val got = GraphOps.kCore(edges.toDF("src", "dst"), k, rounds = depth)
          .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("core_deg")).toMap
        assert(got == want, s"trial $trial n=$n m=${edges.size} k=$k depth=$depth")
      }
    }
  }

  test("kCore: q140's round budget reaches the fixed point on the fixture graph") {
    val e = Tables.orders(spark, sf0001).select(
      ($"o_custkey" % 2011).as("src"), ($"o_orderkey" % 2011).as("dst"))
    def run(r: Int) = GraphOps.kCore(e, k = 8, rounds = r).collect()
      .map(x => x.getAs[Long]("node") -> x.getAs[Long]("core_deg")).toMap
    assert(run(6) == run(7), "6 rounds is not yet the fixed point at k=8")
    // reliable-checkpoint mode (cluster path): identical output, frames on disk
    val ckpt = s"${GraftSession.scratchBase}/graft_kcore_spec"
    withCheckpointDir(ckpt) {
      val relDf = GraphOps.kCore(e, k = 8, rounds = 6)
      val rel = relDf.collect()
        .map(x => x.getAs[Long]("node") -> x.getAs[Long]("core_deg")).toMap
      assert(rel == run(6))
      assert(checkpointFiles(relDf).exists(_.contains("graft_kcore_spec")))
    }
  }

  test("pageRank: mass envelope — every rank in [base, n·scale]") {
    val e = Tables.orders(spark, sf0001).select(
      ($"o_custkey" % 97).as("src"), ($"o_orderkey" % 97).as("dst"))
    val r = GraphOps.pageRank(e, iters = 5)
    val base = (15L * GraphOps.Scale) / 100L
    val n = r.count()
    assert(r.filter($"rank" < base || $"rank" > lit(n) * GraphOps.Scale).isEmpty)
  }

  test("labelPropagation: two cliques with one bridge resolve to two communities") {
    // K4 {0,1,2,3} and K4 {10,11,12,13}, bridged 3-10; labels converge
    // to each clique's minimum (0 and 10) — the bridge cannot flip
    // either side (one vote vs three)
    val k4a = for (i <- 0L to 3L; j <- 0L to 3L if i < j) yield (i, j)
    val k4b = for (i <- 10L to 13L; j <- 10L to 13L if i < j) yield (i, j)
    val e = (k4a ++ k4b :+ ((3L, 10L))).toDF("src", "dst")
    val got = GraphOps.labelPropagation(e, rounds = 5).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L to 3L).forall(got(_) == 0L), s"clique A: $got")
    assert((10L to 13L).forall(got(_) == 10L), s"clique B: $got")
  }

  test("labelPropagation: deterministic across partition counts; rounds/rounds+1 fixed point") {
    val e = (for (i <- 0L until 40L) yield (i, (i * 7L + 3L) % 40L))
      .toDF("src", "dst")
    val a = GraphOps.labelPropagation(e.repartition(1), rounds = 6).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = GraphOps.labelPropagation(e.repartition(13), rounds = 6).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b, "partition count changed the labeling")
    // q218's round budget on ITS graph shape: fixture-scale convergence
    // is asserted by the oracle; here the clique fixture reaches its
    // fixed point (rounds == rounds+1)
    val cl = (for (i <- 0L to 4L; j <- 0L to 4L if i < j) yield (i, j))
      .toDF("src", "dst")
    val r3 = GraphOps.labelPropagation(cl, rounds = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val r4 = GraphOps.labelPropagation(cl, rounds = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r3 == r4 && r3.values.toSet == Set(0L))
  }

  test("labelPropagation: direction/duplicates/self-loops normalize away") {
    // triangle 1-2-3 expressed with reversed duplicates and a self-loop;
    // odd cycles converge under synchronous LPA (bipartite structures
    // oscillate — documented, still deterministic at a fixed round count)
    val e = Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 2L), (2L, 3L), (3L, 1L))
      .toDF("src", "dst")
    val got = GraphOps.labelPropagation(e, rounds = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet == Set(1L, 2L, 3L))
    assert(got.values.toSet == Set(1L))
  }
}
