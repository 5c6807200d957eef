package graft

import graft.routing._
import graft.sources.OsmPbf
import org.apache.spark.sql.functions.lit
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** Road-network routing: edge building from OSM frames, island pruning,
  * the broadcast-CSR Dijkstra router, and the distributed SSSP — each
  * cross-checked against an independent naive implementation.
  */
class NetworkSpec extends AnyFunSuite {
  import SparkTestSession._

  // ---- naive reference implementations -----------------------------

  /** Floyd–Warshall over a dense matrix — O(n³) ground truth. */
  private def floydWarshall(n: Int, edges: Seq[(Int, Int, Double)]): Array[Array[Double]] = {
    val d = Array.fill(n, n)(Double.PositiveInfinity)
    (0 until n).foreach(i => d(i)(i) = 0.0)
    edges.foreach { case (u, v, w) => if (w < d(u)(v)) d(u)(v) = w }
    for (k <- 0 until n; i <- 0 until n; j <- 0 until n)
      if (d(i)(k) + d(k)(j) < d(i)(j)) d(i)(j) = d(i)(k) + d(k)(j)
    d
  }

  private def randomGraph(rng: Random, n: Int, m: Int): Seq[(Int, Int, Double)] =
    (0 until m).map { _ =>
      (rng.nextInt(n), rng.nextInt(n), 1.0 + rng.nextInt(64).toDouble)
    }.filter { case (u, v, _) => u != v }

  /** Build a CsrGraph directly from an integer edge list (nodes on a
    * diagonal so every node has unique coordinates).
    */
  private def csrOf(n: Int, edges: Seq[(Int, Int, Double)]): RoadNetwork.CsrGraph = {
    import spark.implicits._
    val df = edges.toDF("s", "d", "w").select(
      $"s".cast("long").as("src"), $"d".cast("long").as("dst"),
      ($"s" * 0.01).as("src_lon"), ($"s" * 0.01).as("src_lat"),
      ($"d" * 0.01).as("dst_lon"), ($"d" * 0.01).as("dst_lat"),
      $"w".cast("double").as("sec"))
    RoadNetwork.buildCsr(df)
  }

  // ---- Dijkstra vs Floyd–Warshall ----------------------------------

  test("CSR Dijkstra matches Floyd-Warshall on random graphs") {
    val rng = new Random(42)
    (1 to 20).foreach { trial =>
      val n = 2 + rng.nextInt(14)
      val edges = randomGraph(rng, n, 3 * n)
      if (edges.nonEmpty) {
        val g = csrOf(n, edges)
        val truth = floydWarshall(n, edges)
        // graph may not contain isolated nodes; map via ids
        val pos = g.ids.map(_.toInt)
        pos.zipWithIndex.foreach { case (srcId, si) =>
          val dist = g.dijkstra(si)
          pos.zipWithIndex.foreach { case (dstId, di) =>
            assert(dist(di) == truth(srcId)(dstId),
              s"trial $trial: $srcId->$dstId got ${dist(di)} want ${truth(srcId)(dstId)}")
          }
        }
      }
    }
  }

  test("CH bucket many-to-many matches Floyd-Warshall on random graphs") {
    val rng = new Random(99)
    (1 to 20).foreach { trial =>
      val n = 2 + rng.nextInt(14)
      val edges = randomGraph(rng, n, 3 * n)
      if (edges.nonEmpty) {
        val csr = csrOf(n, edges)
        val ch = RoadNetwork.buildCh(csr)
        val truth = floydWarshall(n, edges)
        // weights are integers, so all path sums are exact regardless of
        // the association order shortcuts introduce
        val idx = csr.ids.indices.toArray
        val got = ch.table(idx, idx)
        csr.ids.zipWithIndex.foreach { case (sid, si) =>
          csr.ids.zipWithIndex.foreach { case (did, di) =>
            val want = truth(sid.toInt)(did.toInt)
            val g = got(si)(di)
            if (want.isInfinity) assert(g.isNaN, s"trial $trial: $sid->$did got $g want unreachable")
            else assert(g == want, s"trial $trial: $sid->$did got $g want $want")
          }
        }
      }
    }
  }

  test("CH equals plain Dijkstra on a 3600-node grid with mixed weights") {
    // 60x60 grid, both directions, weight varies by row/col parity —
    // cross-checks the two independent route implementations at a size
    // where the contraction order and shortcut set are nontrivial
    val W = 60
    val edges = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Double)]
    for (r <- 0 until W; c <- 0 until W) {
      val v = r * W + c
      if (c + 1 < W) {
        val w = if (r % 2 == 0) 3.0 else 7.0
        edges += ((v, v + 1, w)); edges += ((v + 1, v, w))
      }
      if (r + 1 < W) {
        val w = if (c % 3 == 0) 2.0 else 5.0
        edges += ((v, v + W, w)); edges += ((v + W, v, w))
      }
    }
    val g = csrOf(W * W, edges.toSeq)
    val ch = RoadNetwork.buildCh(g)
    val rng = new Random(5)
    val oNodes = Array.fill(12)(rng.nextInt(W * W))
    val dNodes = Array.fill(12)(rng.nextInt(W * W))
    val got = ch.table(oNodes, dNodes)
    oNodes.zipWithIndex.foreach { case (s, i) =>
      val truth = g.dijkstra(s)
      dNodes.zipWithIndex.foreach { case (t, j) =>
        assert(got(i)(j) == truth(t), s"$s->$t got ${got(i)(j)} want ${truth(t)}")
      }
    }
  }

  test("distributed SSSP matches Floyd-Warshall on random graphs") {
    import spark.implicits._
    val rng = new Random(7)
    (1 to 2).foreach { trial =>
      val n = 4 + rng.nextInt(8)
      val edges = randomGraph(rng, n, 3 * n)
      val truth = floydWarshall(n, edges)
      val eDf = edges.toDF("s", "d", "w").select(
        $"s".cast("long").as("src"), $"d".cast("long").as("dst"), $"w".cast("double").as("sec"))
      val sources = Seq(0L, (n - 1).toLong).toDF("id")
      val got = RoadNetwork.sssp(eDf, sources)
        .as[(Long, Long, Double)].collect()
        .map { case (s, v, d) => (s.toInt, v.toInt) -> d }.toMap
      for (s <- Seq(0, n - 1); v <- 0 until n) {
        val want = truth(s)(v)
        if (want.isInfinity) assert(!got.contains((s, v)), s"trial $trial: $s->$v should be unreachable")
        else assert(got((s, v)) == want, s"trial $trial: $s->$v got ${got.get((s, v))} want $want")
      }
    }
  }

  // ---- snapping -----------------------------------------------------

  test("grid snap equals brute-force nearest node") {
    val rng = new Random(11)
    val edges = randomGraph(rng, 40, 120)
    val g = csrOf(40, edges)
    (1 to 200).foreach { _ =>
      val lon = rng.nextDouble() * 0.6 - 0.1
      val lat = rng.nextDouble() * 0.6 - 0.1
      val got = g.snap(lon, lat, maxMeters = 200000.0)
      val brute = (0 until g.nodeCount)
        .map(i => (RoadNetwork.planarMeters(g.lons(i) - lon, g.lats(i) - lat), g.ids(i), i))
        .filter(_._1 <= 200000.0)
      if (brute.isEmpty) assert(got == -1)
      else {
        val best = brute.min
        assert(got == best._3, s"snap($lon,$lat) got $got want ${best._3}")
      }
    }
  }

  // ---- edge building ------------------------------------------------

  test("edges: consecutive pairs, oneway handling, speed classes, car-profile exclusions, maxspeed") {
    import spark.implicits._
    val nodes = Seq(
      (1L, 10.0, 0.0), (2L, 10.0, 0.125), (3L, 10.0, 0.25), (4L, 10.125, 0.0))
      .toDF("id", "lat", "lon")
    val ways = Seq(
      (100L, Array(1L, 2L, 3L), Map("highway" -> "primary")),          // bidirectional
      (101L, Array(1L, 4L), Map("highway" -> "residential", "oneway" -> "yes")),
      (102L, Array(2L, 4L), Map("highway" -> "service", "oneway" -> "-1")), // reverse only
      (103L, Array(3L, 4L), Map("building" -> "yes")),                 // not routable
      (104L, Array(1L, 3L), Map("highway" -> "footway")),              // class excluded
      (105L, Array(1L, 3L), Map("highway" -> "residential", "access" -> "no")),
      (106L, Array(3L, 4L), Map("highway" -> "residential", "motor_vehicle" -> "no")),
      (107L, Array(1L, 2L), Map("highway" -> "tertiary", "maxspeed" -> "36")), // 10 m/s
      (108L, Array(2L, 3L), Map("highway" -> "tertiary", "maxspeed" -> "30 mph",
        "oneway" -> "yes")),
      (109L, Array(2L, 3L), Map("highway" -> "motorway", "maxspeed" -> "none",
        "oneway" -> "yes")))                                           // junk -> class speed
      .toDF("id", "refs", "tags")
    val e = RoadNetwork.edges(nodes, ways)
      .select("src", "dst", "highway", "sec").as[(Long, Long, String, Double)]
      .collect().toSet
    val prim = 0.125 * 111320.0 / 22.0
    val res = 0.125 * 111320.0 / 8.0
    val svc = RoadNetwork.planarMeters(0.125, 0.125) / 5.0
    val ms36 = 0.125 * 111320.0 / (36.0 / 3.6)
    val mph30 = 0.125 * 111320.0 / (30.0 * 0.44704)
    val mwy = 0.125 * 111320.0 / 33.0
    assert(e == Set(
      (1L, 2L, "primary", prim), (2L, 3L, "primary", prim),
      (2L, 1L, "primary", prim), (3L, 2L, "primary", prim),
      (1L, 4L, "residential", res),
      (4L, 2L, "service", svc),
      (1L, 2L, "tertiary", ms36), (2L, 1L, "tertiary", ms36),
      (2L, 3L, "tertiary", mph30),
      (2L, 3L, "motorway", mwy)))
  }

  test("profiles: foot ignores oneway, bicycle honors oneway:bicycle and access overrides") {
    import spark.implicits._
    val nodes = Seq(
      (1L, 10.0, 0.0), (2L, 10.0, 0.125), (3L, 10.0, 0.25), (4L, 10.125, 0.0))
      .toDF("id", "lat", "lon")
    val ways = Seq(
      (200L, Array(1L, 2L), Map("highway" -> "residential", "oneway" -> "yes")),
      (201L, Array(2L, 3L), Map("highway" -> "residential", "oneway" -> "yes",
        "oneway:bicycle" -> "no")),
      (202L, Array(1L, 4L), Map("highway" -> "footway")),
      (203L, Array(2L, 4L), Map("highway" -> "footway", "bicycle" -> "yes")),
      (204L, Array(3L, 4L), Map("highway" -> "cycleway")),
      (205L, Array(1L, 3L), Map("highway" -> "residential", "bicycle" -> "no")),
      (206L, Array(2L, 3L), Map("highway" -> "motorway", "oneway" -> "yes")),
      (207L, Array(1L, 2L), Map("highway" -> "steps")),
      (208L, Array(3L, 4L), Map("highway" -> "residential", "access" -> "no",
        "foot" -> "yes")),
      (209L, Array(1L, 4L), Map("highway" -> "residential", "maxspeed" -> "36")))
      .toDF("id", "refs", "tags")

    def dirs(p: RoadNetwork.Profile) = RoadNetwork.edges(nodes, ways, p)
      .select("src", "dst", "highway", "sec").as[(Long, Long, String, Double)]
      .collect().groupBy(t => (t._1, t._2, t._3)).view.mapValues(_.map(_._4).toSet).toMap

    val foot = dirs(RoadNetwork.Foot)
    // oneway ignored: both directions on a oneway=yes street, flat 1.25 m/s
    val fsec = 0.125 * 111320.0 / 1.25
    assert(foot(((1L, 2L, "residential"))).contains(fsec))
    assert(foot(((2L, 1L, "residential"))).contains(fsec))
    // walkable on footway, steps, cycleway; access=no + foot=yes admits
    assert(foot.contains((1L, 4L, "footway")))
    assert(foot.contains((2L, 1L, "steps")))
    assert(foot.contains((3L, 4L, "cycleway")))
    assert(foot.contains((4L, 3L, "residential"))) // way 208
    // motorway excluded for pedestrians
    assert(!foot.keys.exists(_._3 == "motorway"))
    // maxspeed does not scale walking speed
    assert(foot(((1L, 4L, "residential"))).contains(fsec))

    val bike = dirs(RoadNetwork.Bicycle)
    // plain oneway honored (forward only) at 5.0 m/s
    val bres = 0.125 * 111320.0 / 5.0
    assert(bike(((1L, 2L, "residential"))).contains(bres))
    assert(!bike.contains((2L, 1L, "residential")))
    // oneway:bicycle=no restores contraflow
    assert(bike.contains((2L, 3L, "residential")) && bike.contains((3L, 2L, "residential")))
    // footway excluded unless bicycle=yes; cycleway routable; bicycle=no vetoes
    assert(!bike.contains((1L, 4L, "footway")))
    assert(bike.contains((2L, 4L, "footway")) && bike.contains((4L, 2L, "footway")))
    assert(bike.contains((3L, 4L, "cycleway")))
    assert(!bike.contains((1L, 3L, "residential")) && !bike.contains((3L, 1L, "residential")))
    // steps/motorway excluded; maxspeed ignored (class speed stands)
    assert(!bike.keys.exists(_._3 == "steps") && !bike.keys.exists(_._3 == "motorway"))
    assert(bike(((1L, 4L, "residential"))).contains(bres))
    // access=no with no bicycle tag vetoes (way 208 is foot-only)
    assert(!bike.contains((3L, 4L, "residential")))

    val car = dirs(RoadNetwork.Car)
    // car unchanged by the profile refactor: no cycleway/footway/steps,
    // oneway:bicycle is noise, maxspeed still overrides
    assert(!car.keys.exists(k => Set("cycleway", "footway", "steps").contains(k._3)))
    assert(!car.contains((3L, 2L, "residential"))) // oneway:bicycle doesn't apply
    assert(car(((1L, 4L, "residential"))).contains(0.125 * 111320.0 / 10.0))
    assert(car.contains((2L, 3L, "motorway")))
  }

  test("largestComponent drops islands, ties break deterministically") {
    import spark.implicits._
    // main component 1-2-3-4 (6 directed edges), island 10-11 (2 edges)
    val mk = (s: Long, d: Long) => (s, d, 0.0, 0.0, 0.0, 0.0, "x", 1.0, 1.0)
    val e = Seq(
      mk(1, 2), mk(2, 1), mk(2, 3), mk(3, 2), mk(3, 4), mk(4, 3),
      mk(10, 11), mk(11, 10))
      .toDF("src", "dst", "src_lon", "src_lat", "dst_lon", "dst_lat", "highway", "meters", "sec")
    val kept = RoadNetwork.largestComponent(e)
      .select("src", "dst").as[(Long, Long)].collect().toSet
    assert(kept == Set((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (3L, 4L), (4L, 3L)))
  }

  test("fused union-find pruning builds the same CSR as distributed largestComponent") {
    import spark.implicits._
    // three components: 4-cycle (largest), 3-path, 2-island; plus a
    // same-size tie pair {20,21} vs {10,11} — min-id component must win
    val mk = (s: Long, d: Long) => (s, d, s * 0.125, d * 0.125, d * 0.125, s * 0.125, "x", 1.0, 1.0)
    val e = Seq(
      mk(1, 2), mk(2, 1), mk(2, 3), mk(3, 2), mk(3, 4), mk(4, 3), mk(4, 1), mk(1, 4),
      mk(10, 11), mk(11, 10),
      mk(20, 21), mk(21, 20))
      .toDF("src", "dst", "src_lon", "src_lat", "dst_lon", "dst_lat", "highway", "meters", "sec")
    val viaCc = RoadNetwork.buildCsr(RoadNetwork.largestComponent(e))
    val fused = RoadNetwork.buildCsr(e, pruneIslands = true)
    assert(fused.ids.sameElements(viaCc.ids))
    assert(fused.offsets.sameElements(viaCc.offsets))
    assert(fused.targets.sameElements(viaCc.targets))
    assert(fused.weights.sameElements(viaCc.weights))
    // tie case alone: {10,11} vs {20,21} — both size 2, min id wins
    val tie = Seq(mk(20, 21), mk(21, 20), mk(10, 11), mk(11, 10))
      .toDF("src", "dst", "src_lon", "src_lat", "dst_lon", "dst_lat", "highway", "meters", "sec")
    val tieViaCc = RoadNetwork.buildCsr(RoadNetwork.largestComponent(tie))
    val tieFused = RoadNetwork.buildCsr(tie, pruneIslands = true)
    assert(tieFused.ids.sameElements(Array(10L, 11L)))
    assert(tieViaCc.ids.sameElements(tieFused.ids))
  }

  // ---- NetworkRouter through the matrix operator -------------------

  test("NetworkRouter on a uniform grid equals Manhattan closed form; off-graph points go missing") {
    import spark.implicits._
    // 4x5 grid, 0.125-degree spacing (binary-exact), all residential
    val W = 5; val H = 4
    val nodes = (for (r <- 0 until H; c <- 0 until W)
      yield (r * W + c + 1L, 30.0 + r * 0.125, -100.0 + c * 0.125))
      .toDF("id", "lat", "lon")
    val ways =
      ((0 until H).map(r => (200L + r, (1 to W).map(c => r * W + c.toLong).toArray,
        Map("highway" -> "residential"))) ++
        (0 until W).map(c => (300L + c, (0 until H).map(r => r * W + c + 1L).toArray,
          Map("highway" -> "residential"))))
        .toDF("id", "refs", "tags")
    val e = RoadNetwork.edges(nodes, ways)
    val rt = RoadNetwork.router(spark, e)
    val pts = (for (r <- 0 until H; c <- 0 until W)
      yield RoutePoint(f"P${r * W + c + 1}%03d", -100.0 + c * 0.125, 30.0 + r * 0.125)).toSeq
    val far = RoutePoint("X999", 50.0, 80.0) // unsnappable
    val got = TravelTimeMatrix.run(spark, pts :+ far, pts :+ far, rt,
        oSplit = 7, dSplit = 7, maxDepth = 3)
      .collect().map(t => (t.origin_id, t.destination_id) -> t.duration_sec).toMap
    val step = 0.125 * 111320.0 / 8.0
    for (a <- 0 until H * W; b <- 0 until H * W) {
      val manhattan = (math.abs(a / W - b / W) + math.abs(a % W - b % W)) * step
      assert(got((f"P${a + 1}%03d", f"P${b + 1}%03d")) == Some(manhattan))
    }
    assert(got(("X999", "P001")).isEmpty && got(("P001", "X999")).isEmpty)
    // unsnappable-to-itself is also missing: NaN cells never trigger the
    // quadtree, so the R2 1x1 short-circuit correctly does not apply
    assert(got(("X999", "X999")).isEmpty)
  }

  // ---- chain contraction -------------------------------------------

  test("contractChains preserves all distances between surviving nodes") {
    import spark.implicits._
    val rng = new Random(23)
    (1 to 3).foreach { trial =>
      // random graph + planted degree-2 chains hanging between its nodes
      val n = 4 + rng.nextInt(6)
      val base = randomGraph(rng, n, 2 * n)
        .flatMap { case (u, v, w) => Seq((u, v, w), (v, u, w)) } // symmetric core
      var next = n
      val chains = (0 until 4).flatMap { _ =>
        // distinct endpoints: an a==b length-1 "chain" gives the mid a
        // single distinct neighbor, which correctly does NOT contract
        val a = rng.nextInt(n); val b = (a + 1 + rng.nextInt(n - 1)) % n
        val len = 1 + rng.nextInt(4)
        val mids = (0 until len).map { _ => val m = next; next += 1; m }
        val path = a +: mids :+ b
        path.sliding(2).toSeq.flatMap { case Seq(x, y) =>
          val w = 1.0 + rng.nextInt(8).toDouble
          Seq((x, y, w), (y, x, w))
        }
      }
      val all = base ++ chains
      val truth = floydWarshall(next, all)
      val df = all.toDF("s", "d", "w").select(
        $"s".cast("long").as("src"), $"d".cast("long").as("dst"),
        ($"s" * 0.01).as("src_lon"), ($"s" * 0.01).as("src_lat"),
        ($"d" * 0.01).as("dst_lon"), ($"d" * 0.01).as("dst_lat"),
        lit("x").as("highway"), $"w".cast("double").as("meters"),
        $"w".cast("double").as("sec"))
      val contracted = RoadNetwork.contractChains(df,
        keep = Some((0 until n).map(_.toLong).toDF("id")))
      val g = RoadNetwork.buildCsr(contracted)
      // every surviving pair's Dijkstra distance == Floyd-Warshall truth
      g.ids.zipWithIndex.foreach { case (srcId, si) =>
        assert(srcId < n, s"trial $trial: interior node $srcId survived")
        val dist = g.dijkstra(si)
        g.ids.zipWithIndex.foreach { case (dstId, di) =>
          val want = truth(srcId.toInt)(dstId.toInt)
          val got = dist(di)
          assert(math.abs(got - want) <= 1e-9 * math.max(1.0, want.abs) || got == want,
            s"trial $trial: $srcId->$dstId got $got want $want")
        }
      }
    }
  }

  test("contractChains output feeds buildCh: distances survive both transforms composed") {
    import spark.implicits._
    val rng = new Random(77)
    // symmetric random core + hanging chains (as in the contraction test)
    val n = 6
    val base = randomGraph(rng, n, 2 * n)
      .flatMap { case (u, v, w) => Seq((u, v, w), (v, u, w)) }
    var next = n
    val chains = (0 until 3).flatMap { _ =>
      val a = rng.nextInt(n); val b = (a + 1 + rng.nextInt(n - 1)) % n
      val mids = (0 until 1 + rng.nextInt(3)).map { _ => val m = next; next += 1; m }
      (a +: mids :+ b).sliding(2).toSeq.flatMap { case Seq(x, y) =>
        val w = 1.0 + rng.nextInt(8).toDouble
        Seq((x, y, w), (y, x, w))
      }
    }
    val all = base ++ chains
    val truth = floydWarshall(next, all)
    val df = all.toDF("s", "d", "w").select(
      $"s".cast("long").as("src"), $"d".cast("long").as("dst"),
      ($"s" * 0.01).as("src_lon"), ($"s" * 0.01).as("src_lat"),
      ($"d" * 0.01).as("dst_lon"), ($"d" * 0.01).as("dst_lat"),
      lit("x").as("highway"), $"w".cast("double").as("meters"),
      $"w".cast("double").as("sec"))
    val contracted = RoadNetwork.contractChains(df,
      keep = Some((0 until n).map(_.toLong).toDF("id")))
    val ch = RoadNetwork.buildCh(RoadNetwork.buildCsr(contracted))
    val idx = ch.csr.ids.indices.toArray
    val got = ch.table(idx, idx)
    ch.csr.ids.zipWithIndex.foreach { case (sid, si) =>
      ch.csr.ids.zipWithIndex.foreach { case (did, di) =>
        val want = truth(sid.toInt)(did.toInt)
        if (want.isInfinity) assert(got(si)(di).isNaN)
        else assert(got(si)(di) == want, s"$sid->$did got ${got(si)(di)} want $want")
      }
    }
  }

  test("contractChains collapses a subdivided path to one edge per direction and keeps rings out") {
    import spark.implicits._
    // path 0 -(1,2,3 interior)- 4, plus an isolated degree-2 ring 10-11-12
    val hops = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L)).flatMap { case (a, b) =>
      Seq((a, b, 2.5), (b, a, 2.5))
    } ++ Seq((10L, 11L), (11L, 12L), (12L, 10L)).flatMap { case (a, b) =>
      Seq((a, b, 1.0), (b, a, 1.0))
    }
    val df = hops.toDF("src", "dst", "w").select(
      $"src", $"dst",
      lit(0.0).as("src_lon"), lit(0.0).as("src_lat"),
      lit(0.0).as("dst_lon"), lit(0.0).as("dst_lat"),
      lit("x").as("highway"), $"w".as("meters"), $"w".as("sec"))
    val out = RoadNetwork.contractChains(df)
      .select("src", "dst", "sec").as[(Long, Long, Double)].collect().toSet
    assert(out == Set((0L, 4L, 10.0), (4L, 0L, 10.0)))
  }

  // ---- turn restrictions -------------------------------------------

  /** Edge-state Bellman-Ford ground truth for restricted shortest
    * paths: O(E²) relaxation rounds, transitions banned by
    * (tail, via, head) triple.
    */
  private def bruteRestricted(
      n: Int,
      edges: IndexedSeq[(Int, Int, Double)],
      banned: Set[(Int, Int, Int)],
      source: Int): Array[Double] = {
    val m = edges.length
    val edist = Array.fill(m)(Double.PositiveInfinity)
    edges.zipWithIndex.foreach { case ((u, _, w), i) =>
      if (u == source && w < edist(i)) edist(i) = w
    }
    var changed = true
    var rounds = 0
    while (changed && rounds <= m + 1) {
      changed = false
      var i = 0
      while (i < m) {
        if (!edist(i).isInfinity) {
          val (u, v, _) = edges(i)
          var j = 0
          while (j < m) {
            val (u2, v2, w2) = edges(j)
            if (u2 == v && !banned.contains((u, v, v2)) && edist(i) + w2 < edist(j)) {
              edist(j) = edist(i) + w2; changed = true
            }
            j += 1
          }
        }
        i += 1
      }
      rounds += 1
    }
    val nodeDist = Array.fill(n)(Double.PositiveInfinity)
    nodeDist(source) = 0.0
    edges.zipWithIndex.foreach { case ((_, v, _), i) =>
      if (edist(i) < nodeDist(v)) nodeDist(v) = edist(i)
    }
    nodeDist
  }

  test("restricted edge-state Dijkstra matches edge-state Bellman-Ford on random graphs") {
    val rng = new Random(314)
    (1 to 12).foreach { trial =>
      val n = 3 + rng.nextInt(8)
      val edges = randomGraph(rng, n, 3 * n).toIndexedSeq
      if (edges.nonEmpty) {
        val g = csrOf(n, edges)
        // ban a few random transitions (ids == node ints in csrOf)
        val banned = (0 until rng.nextInt(5)).map { _ =>
          val (u, v, _) = edges(rng.nextInt(edges.length))
          val w = edges(rng.nextInt(edges.length))._2
          (u, v, w)
        }.toSet
        val bannedL = banned.map { case (a, b, c) => (a.toLong, b.toLong, c.toLong) }
        val vias = bannedL.map(_._2)
        val pos = g.ids.map(_.toInt)
        pos.zipWithIndex.foreach { case (srcId, si) =>
          val truth = bruteRestricted(n, edges, banned, srcId)
          val got = g.dijkstraRestricted(si, bannedL, vias)
          pos.zipWithIndex.foreach { case (dstId, di) =>
            assert(got(di) == truth(dstId),
              s"trial $trial: $srcId->$dstId got ${got(di)} want ${truth(dstId)} banned=$banned")
          }
          // empty ban set degenerates to plain node Dijkstra
          val plain = g.dijkstra(si)
          val unrestricted = g.dijkstraRestricted(si, Set.empty, Set.empty)
          pos.indices.foreach(di => assert(unrestricted(di) == plain(di)))
        }
      }
    }
  }

  test("restrictionTriples + bannedTriples: no_ bans one transition, only_ bans the rest") {
    import spark.implicits._
    // ways split at junction 1: [0,1] id 500, [1,2] id 502, [1,3] id 501
    val ways = Seq(
      (500L, Array(0L, 1L), Map("highway" -> "residential")),
      (502L, Array(1L, 2L), Map("highway" -> "residential")),
      (501L, Array(1L, 3L), Map("highway" -> "residential")))
      .toDF("id", "refs", "tags")
    val nodes = Seq(
      (0L, 30.0, -100.0), (1L, 30.0, -99.875), (2L, 30.0, -99.75), (3L, 29.875, -99.875))
      .toDF("id", "lat", "lon")
    val e = RoadNetwork.edges(nodes, ways)
    def rel(kind: String) = Seq(
      (900L, Array(500L, 1L, 501L), Array(1, 0, 1), Array("from", "via", "to"),
        Map("type" -> "restriction", "restriction" -> kind)))
      .toDF("id", "memberIds", "memberTypes", "memberRoles", "tags")
    val no = RoadNetwork.bannedTriples(e, RoadNetwork.restrictionTriples(rel("no_left_turn"), ways))
      .as[(Long, Long, Long)].collect().toSet
    assert(no == Set((0L, 1L, 3L)))
    // only_: coming from 0 at 1, every exit except 3 is banned (0 back
    // and 2 straight)
    val only = RoadNetwork.bannedTriples(e, RoadNetwork.restrictionTriples(rel("only_left_turn"), ways))
      .as[(Long, Long, Long)].collect().toSet
    assert(only == Set((0L, 1L, 0L), (0L, 1L, 2L)))
  }

  test("relations survive the pbf write/read round trip") {
    import spark.implicits._
    val path = "/tmp/graft_network_rels.pbf"
    val nodes = Seq(OsmPbf.PbfNode(1L, 30.0, -100.0, Map.empty))
    val ways = Seq(OsmPbf.PbfWay(500L, Array(1L), Map("highway" -> "service")))
    val rels = Seq(
      OsmPbf.PbfRelation(900L, Array(500L, 1L, 502L), Array(1, 0, 1),
        Array("from", "via", "to"),
        Map("type" -> "restriction", "restriction" -> "no_u_turn")),
      OsmPbf.PbfRelation(901L, Array(7L), Array(2), Array("outer"),
        Map("type" -> "multipolygon")))
    OsmPbf.writePbf(path, nodes, ways, rels)
    val got = OsmPbf.relations(spark, path)
      .as[(Long, Array[Long], Array[Int], Array[String], Map[String, String])]
      .collect().sortBy(_._1)
    assert(got.length == 2)
    assert(got(0)._1 == 900L && got(0)._2.toSeq == Seq(500L, 1L, 502L) &&
      got(0)._3.toSeq == Seq(1, 0, 1) && got(0)._4.toSeq == Seq("from", "via", "to") &&
      got(0)._5 == Map("type" -> "restriction", "restriction" -> "no_u_turn"))
    assert(got(1)._1 == 901L && got(1)._4.toSeq == Seq("outer") &&
      got(1)._5("type") == "multipolygon")
  }

  test("pbf -> edges -> router end-to-end (clip spine)") {
    import spark.implicits._
    val path = "/tmp/graft_network_spec.pbf"
    val nodes = (for (r <- 0 until 3; c <- 0 until 3)
      yield OsmPbf.PbfNode(r * 3 + c + 1L, 30.0 + r * 0.125, -100.0 + c * 0.125, Map.empty))
    val ways =
      (0 until 3).map(r => OsmPbf.PbfWay(50L + r, Array.tabulate(3)(c => r * 3 + c + 1L),
        Map("highway" -> "secondary"))) ++
        (0 until 3).map(c => OsmPbf.PbfWay(60L + c, Array.tabulate(3)(r => r * 3 + c + 1L),
          Map("highway" -> "secondary")))
    OsmPbf.writePbf(path, nodes, ways)
    val e = RoadNetwork.edges(OsmPbf.nodes(spark, path), OsmPbf.ways(spark, path))
    val g = RoadNetwork.buildCsr(e)
    val dist = g.dijkstra(g.ids.indexOf(1L))
    val step = 0.125 * 111320.0 / 17.0
    // pbf fixed-point decode (1e-9 * units) can differ from the planted
    // doubles by an ulp, so corner-to-corner gets a relative tolerance
    val want = 4 * step
    assert(math.abs(dist(g.ids.indexOf(9L)) - want) < 1e-6 * want)
  }
}
