package graft.queries

import graft.{QueryDef, QueryPack, Tables => T}
import graft.routing._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Road-network routing pack — the in-engine replacement for the
  * reference's OSRM sidecar (SURVEY §2.9; osrm-extract + osrm-routed in
  * /root/reference/.github/workflows/calculate-times.yaml:79-180),
  * oracle-checked end to end: way→edge expansion with the car speed
  * profile and oneway semantics (q102), distributed SSSP against a
  * recursive-CTE shortest path (q103), the broadcast-Dijkstra router
  * through the travel-time matrix against a closed form (q104), and the
  * full network spine — edges → island pruning → snap → Dijkstra →
  * matrix with missing pairs (q105).
  *
  * All coordinates are dyadic (0.125° grid, 0.03125°-scale snap offsets):
  * exact in binary, so step lengths are exactly 13915.0 m, per-hop times
  * are exact, and path sums are order-independent — Spark and DuckDB
  * agree bit for bit.
  *
  * The planted network is a W×H grid derived from customer keys (keys are
  * 0-based in the fixtures): node id = key < W·H at row-major position;
  * row ways from keys < H, column ways from keys < W — the fixture tables
  * remain the only input at every scale factor.
  */
object NetworkQueries extends QueryPack {

  private val W = 10
  private val H = 7
  private val Lon0 = -100.0
  private val Lat0 = 30.0
  private val Step = 0.125
  // residential step time: 0.125 * 111320 / 8.0
  private val StepSec = 1739.375

  // --- planted grid: nodes + ways (Spark side) ----------------------

  /** One node per customer key < W·H: id = key, row-major position. */
  private def gridNodes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    T.customer(s, dir)
      .filter($"c_custkey" < W * H)
      .select(
        $"c_custkey".as("id"),
        (lit(Lat0) + ($"c_custkey" / W).cast("long") * Step).as("lat"),
        (lit(Lon0) + ($"c_custkey" % W) * Step).as("lon"))
  }

  /** Row + column ways with per-way highway class and oneway flags
    * (mixed=true), or all-residential bidirectional (mixed=false).
    * `dagOnly` forces oneway=yes everywhere → a pure right/down DAG.
    */
  private def gridWays(s: SparkSession, dir: String,
      mixed: Boolean, dagOnly: Boolean): DataFrame = {
    import s.implicits._
    val cust = T.customer(s, dir)
    val rowClass =
      if (mixed)
        element_at(array(lit("primary"), lit("secondary"), lit("residential"), lit("tertiary")),
          (($"r" % 4) + 1).cast("int"))
      else lit("residential")
    val rowOneway =
      if (dagOnly) lit("yes")
      else if (mixed) when($"r" % 3 === 0, "yes").otherwise("no")
      else lit("no")
    // mixed rows r % 5 == 0 carry an explicit maxspeed=25 km/h override
    val rowTags =
      if (mixed)
        when($"r" % 5 === 0,
          map(lit("highway"), rowClass, lit("oneway"), rowOneway,
            lit("maxspeed"), lit("25")))
          .otherwise(map(lit("highway"), rowClass, lit("oneway"), rowOneway))
      else map(lit("highway"), rowClass, lit("oneway"), rowOneway)
    val rows = cust.filter($"c_custkey" < H)
      .select($"c_custkey".as("r"))
      .select(
        ($"r" + 1000L).as("id"),
        sequence($"r" * W, $"r" * W + (W - 1)).as("refs"),
        rowTags.as("tags"))
    val colClass =
      if (mixed)
        element_at(array(lit("trunk"), lit("unclassified"), lit("service")),
          (($"c" % 3) + 1).cast("int"))
      else lit("residential")
    val colOneway =
      if (dagOnly) lit("yes")
      else if (mixed) when($"c" % 4 === 0, "-1").otherwise("no")
      else lit("no")
    val cols = cust.filter($"c_custkey" < W)
      .select($"c_custkey".as("c"))
      .select(
        ($"c" + 2000L).as("id"),
        sequence($"c", lit(((H - 1) * W).toLong) + $"c", lit(W.toLong)).as("refs"),
        map(lit("highway"), colClass, lit("oneway"), colOneway).as("tags"))
    rows.unionByName(cols)
  }

  // --- the same grid in DuckDB SQL ----------------------------------

  /** CTEs: nodes / hfwd / vfwd — forward hops with class + oneway. */
  private val gridSql =
    s"""nodes AS (
       |  SELECT c_custkey AS id,
       |         $Lat0 + CAST(c_custkey // $W AS DOUBLE) * $Step AS lat,
       |         $Lon0 + CAST(c_custkey % $W AS DOUBLE) * $Step AS lon
       |  FROM customer WHERE c_custkey < ${W * H}),
       |rows_ AS (SELECT c_custkey AS r FROM customer WHERE c_custkey < $H),
       |cols_ AS (SELECT c_custkey AS c FROM customer WHERE c_custkey < $W),
       |hsteps AS (SELECT c_custkey AS k FROM customer WHERE c_custkey BETWEEN 1 AND ${W - 1}),
       |vsteps AS (SELECT c_custkey AS k FROM customer WHERE c_custkey BETWEEN 1 AND ${H - 1}),
       |hfwd AS (
       |  SELECT r * $W + k - 1 AS src, r * $W + k AS dst,
       |         CASE r % 4 WHEN 0 THEN 'primary' WHEN 1 THEN 'secondary'
       |                    WHEN 2 THEN 'residential' ELSE 'tertiary' END AS highway,
       |         CASE WHEN r % 3 = 0 THEN 'yes' ELSE 'no' END AS oneway,
       |         CASE WHEN r % 5 = 0 THEN CAST(25 AS DOUBLE) / 3.6
       |              ELSE CAST(NULL AS DOUBLE) END AS msp
       |  FROM rows_ CROSS JOIN hsteps),
       |vfwd AS (
       |  SELECT (k - 1) * $W + c AS src, k * $W + c AS dst,
       |         CASE c % 3 WHEN 0 THEN 'trunk' WHEN 1 THEN 'unclassified'
       |                    ELSE 'service' END AS highway,
       |         CASE WHEN c % 4 = 0 THEN '-1' ELSE 'no' END AS oneway,
       |         CAST(NULL AS DOUBLE) AS msp
       |  FROM cols_ CROSS JOIN vsteps)""".stripMargin

  private val speedSql =
    """CASE highway WHEN 'motorway' THEN 33.0 WHEN 'trunk' THEN 27.0
      |  WHEN 'primary' THEN 22.0 WHEN 'secondary' THEN 17.0
      |  WHEN 'tertiary' THEN 14.0 WHEN 'unclassified' THEN 11.0
      |  WHEN 'residential' THEN 8.0 WHEN 'service' THEN 5.0
      |  ELSE 10.0 END""".stripMargin

  /** directed + weighted edge CTE on top of [[gridSql]] — mirrors
    * [[RoadNetwork.edges]] arithmetic op for op.
    */
  private val edgeSql =
    s"""directed AS (
       |  SELECT src, dst, highway, msp FROM hfwd WHERE oneway <> '-1'
       |  UNION ALL SELECT dst, src, highway, msp FROM hfwd WHERE oneway <> 'yes'
       |  UNION ALL SELECT src, dst, highway, msp FROM vfwd WHERE oneway <> '-1'
       |  UNION ALL SELECT dst, src, highway, msp FROM vfwd WHERE oneway <> 'yes'),
       |e AS (
       |  SELECT d.src, d.dst, d.highway,
       |         sqrt((n2.lon - n1.lon) * (n2.lon - n1.lon)
       |            + (n2.lat - n1.lat) * (n2.lat - n1.lat)) * 111320.0 AS meters,
       |         sqrt((n2.lon - n1.lon) * (n2.lon - n1.lon)
       |            + (n2.lat - n1.lat) * (n2.lat - n1.lat)) * 111320.0
       |           / coalesce(d.msp, $speedSql) AS sec
       |  FROM directed d
       |  JOIN nodes n1 ON n1.id = d.src
       |  JOIN nodes n2 ON n2.id = d.dst)""".stripMargin

  // --- OD point synthesis for the matrix queries --------------------
  // Origins one per customer key (capped), destinations one per supplier
  // key: each sits near grid node (key * p) % (W*H) with a dyadic snap
  // offset < half the 0.125 spacing, so nearest-node snap is exact and
  // unambiguous.

  private val OCap = 30000
  private val DCap = 500

  private def matrixOrigins(s: SparkSession, dir: String, islandMod: Int): DataFrame = {
    import s.implicits._
    val node = ($"c_custkey" * 7) % (W * H)
    val base = T.customer(s, dir).filter($"c_custkey" < OCap)
    val main = base.select(
      concat(lit("O"), lpad($"c_custkey".cast("string"), 9, "0")).as("id"),
      (lit(Lon0) + (node % W) * Step + (($"c_custkey" % 3) - 1) * 0.03125).as("lon"),
      (lit(Lat0) + (node / W).cast("long") * Step + (($"c_custkey" % 5) - 2) * 0.015625).as("lat"),
      $"c_custkey".as("key"))
    if (islandMod <= 0) main.drop("key")
    else main.select(
      $"id",
      when($"key" % islandMod === 0, lit(Lon0 + 5.0 + 0.0625)).otherwise($"lon").as("lon"),
      when($"key" % islandMod === 0, lit(Lat0 + 0.0625)).otherwise($"lat").as("lat"))
  }

  private def matrixDests(s: SparkSession, dir: String, islandMod: Int): DataFrame = {
    import s.implicits._
    val node = ($"s_suppkey" * 11) % (W * H)
    val base = T.supplier(s, dir).filter($"s_suppkey" < DCap)
    val main = base.select(
      concat(lit("D"), lpad($"s_suppkey".cast("string"), 9, "0")).as("id"),
      (lit(Lon0) + (node % W) * Step + (($"s_suppkey" % 3) - 1) * 0.03125).as("lon"),
      (lit(Lat0) + (node / W).cast("long") * Step + (($"s_suppkey" % 7) - 3) * 0.0078125).as("lat"),
      $"s_suppkey".as("key"))
    if (islandMod <= 0) main.drop("key")
    else main.select(
      $"id",
      when($"key" % islandMod === 0, lit(Lon0 + 5.0 + 0.0625)).otherwise($"lon").as("lon"),
      when($"key" % islandMod === 0, lit(Lat0 + 0.0625)).otherwise($"lat").as("lat"))
  }

  /** Closed-form oracle for the uniform grid: Manhattan hops between the
    * snapped nodes × 1739.375 s/hop. The island predicates mark points
    * the island pruning makes unroutable → NULL duration.
    */
  private def matrixSql(islandO: String, islandD: String,
      stepSec: Double = StepSec): String =
    s"""o AS (
       |  SELECT 'O' || lpad(CAST(c_custkey AS VARCHAR), 9, '0') AS id,
       |         ((c_custkey * 7) % ${W * H}) // $W AS r,
       |         ((c_custkey * 7) % ${W * H}) % $W AS c,
       |         c_custkey AS key
       |  FROM customer WHERE c_custkey < $OCap),
       |d AS (
       |  SELECT 'D' || lpad(CAST(s_suppkey AS VARCHAR), 9, '0') AS id,
       |         ((s_suppkey * 11) % ${W * H}) // $W AS r,
       |         ((s_suppkey * 11) % ${W * H}) % $W AS c,
       |         s_suppkey AS key
       |  FROM supplier WHERE s_suppkey < $DCap)
       |SELECT o.id AS origin_id, d.id AS destination_id,
       |       CASE WHEN ($islandO) OR ($islandD) THEN NULL
       |            ELSE (abs(o.r - d.r) + abs(o.c - d.c)) * $stepSec END AS duration_sec
       |FROM o CROSS JOIN d""".stripMargin

  // ------------------------------------------------------------------

  override def queries: Seq[QueryDef] = Seq(

    // q102: ways → directed weighted edges. Mixed highway classes pick
    // their profile speed, rows r%5==0 carry an explicit maxspeed=25
    // override, oneway=yes drops the reverse hop, oneway=-1 drops the
    // forward hop. Planted junk — a footway, an access=no way, a
    // motor_vehicle=no way — must produce NO edges, and a "30 mph"
    // service way must convert imperial. Oracle rebuilds the surviving
    // pairs + weights in SQL (the junk ways simply don't appear).
    QueryDef(
      "q102_osm_edges",
      (s, dir) => {
        import s.implicits._
        val extras = T.customer(s, dir).filter($"c_custkey" < 4).select(
          ($"c_custkey" + 4000L).as("id"),
          element_at(array(
            array(lit(0L), lit(1L)),
            array(lit(1L), lit(2L)),
            array(lit(2L), lit(3L)),
            array(lit(60L), lit(61L))), ($"c_custkey" + 1).cast("int")).as("refs"),
          element_at(array(
            map(lit("highway"), lit("footway")),
            map(lit("highway"), lit("residential"), lit("access"), lit("no")),
            map(lit("highway"), lit("residential"), lit("motor_vehicle"), lit("no")),
            map(lit("highway"), lit("service"), lit("maxspeed"), lit("30 mph"),
              lit("oneway"), lit("yes"))), ($"c_custkey" + 1).cast("int")).as("tags"))
        RoadNetwork.edges(
          gridNodes(s, dir),
          gridWays(s, dir, mixed = true, dagOnly = false).unionByName(extras))
          .select("src", "dst", "highway", "meters", "sec")
      },
      Some(s"""WITH $gridSql,
              |$edgeSql,
              |mph AS (
              |  SELECT 60 AS src, 61 AS dst, 'service' AS highway,
              |         sqrt((n2.lon - n1.lon) * (n2.lon - n1.lon)
              |            + (n2.lat - n1.lat) * (n2.lat - n1.lat)) * 111320.0 AS meters,
              |         sqrt((n2.lon - n1.lon) * (n2.lon - n1.lon)
              |            + (n2.lat - n1.lat) * (n2.lat - n1.lat)) * 111320.0
              |           / (CAST(30 AS DOUBLE) * 0.44704) AS sec
              |  FROM nodes n1, nodes n2 WHERE n1.id = 60 AND n2.id = 61)
              |SELECT src, dst, highway, meters, sec FROM e
              |UNION ALL SELECT src, dst, highway, meters, sec FROM mph""".stripMargin)),

    // q103: distributed SSSP (the graph-larger-than-memory path) on the
    // right/down DAG with mixed per-way speeds, two sources. The oracle
    // enumerates every DAG path with a recursive CTE and keeps the min —
    // prefix-order additions on both sides, so doubles agree exactly.
    QueryDef(
      "q103_network_sssp",
      (s, dir) => {
        import s.implicits._
        val e = RoadNetwork.edges(
          gridNodes(s, dir), gridWays(s, dir, mixed = true, dagOnly = true))
        val sources = T.customer(s, dir)
          .filter($"c_custkey".isin(0, 11)).select($"c_custkey".as("id"))
        RoadNetwork.sssp(e, sources)
          .select($"source", $"node", $"dist_sec")
      },
      Some(s"""WITH RECURSIVE $gridSql,
              |dag AS (
              |  SELECT src, dst, highway, msp FROM hfwd
              |  UNION ALL SELECT src, dst, highway, msp FROM vfwd),
              |e AS (
              |  SELECT d.src, d.dst,
              |         sqrt((n2.lon - n1.lon) * (n2.lon - n1.lon)
              |            + (n2.lat - n1.lat) * (n2.lat - n1.lat)) * 111320.0
              |           / coalesce(d.msp, $speedSql) AS sec
              |  FROM dag d
              |  JOIN nodes n1 ON n1.id = d.src
              |  JOIN nodes n2 ON n2.id = d.dst),
              |walk AS (
              |  SELECT id AS source, id AS node, CAST(0.0 AS DOUBLE) AS dist
              |  FROM nodes WHERE id IN (0, 11)
              |  UNION ALL
              |  SELECT w.source, e.dst AS node, w.dist + e.sec AS dist
              |  FROM walk w JOIN e ON e.src = w.node)
              |SELECT source, node, min(dist) AS dist_sec
              |FROM walk GROUP BY source, node""".stripMargin)),

    // q104: the broadcast-Dijkstra NetworkRouter through the full
    // travel-time matrix operator (chunking + blocks + snap). Uniform
    // residential grid → shortest network time has the Manhattan closed
    // form; snap offsets are sub-half-cell so every point maps to its
    // planted node.
    QueryDef(
      "q104_network_matrix",
      (s, dir) => {
        import s.implicits._
        val e = RoadNetwork.edges(
          gridNodes(s, dir), gridWays(s, dir, mixed = false, dagOnly = false))
        val rt = RoadNetwork.router(s, e)
        TravelTimeMatrix.run(s,
          matrixOrigins(s, dir, 0).as[RoutePoint].collect(),
          matrixDests(s, dir, 0).as[RoutePoint].collect(),
          rt, oSplit = 1000, dSplit = 500, maxDepth = 3).toDF()
      },
      Some(s"WITH ${matrixSql("FALSE", "FALSE")}")),

    // q105: the network spine — edges → largest-component island pruning
    // → snap → Dijkstra → matrix. An island subgraph 400+ km off the
    // grid is pruned; points planted on it snap nowhere within the
    // 300 km reference buffer and surface as NULL missing pairs, the
    // reference's missing_pairs semantics without an OSRM process.
    QueryDef(
      "q105_network_spine",
      (s, dir) => {
        import s.implicits._
        val islandNodes = T.customer(s, dir).filter($"c_custkey" < 4)
          .select(
            ($"c_custkey" + 901L).as("id"),
            (lit(Lat0) + ($"c_custkey" / 2).cast("long") * Step).as("lat"),
            (lit(Lon0 + 5.0) + ($"c_custkey" % 2) * Step).as("lon"))
        val islandWays = T.customer(s, dir).filter($"c_custkey" < 2)
          .select(
            ($"c_custkey" + 3000L).as("id"),
            when($"c_custkey" === 0, array(lit(901L), lit(902L), lit(904L), lit(903L), lit(901L)))
              .otherwise(array(lit(901L), lit(904L))).as("refs"),
            map(lit("highway"), lit("residential")).as("tags"))
        val e = RoadNetwork.edges(
          gridNodes(s, dir).unionByName(islandNodes),
          gridWays(s, dir, mixed = false, dagOnly = false).unionByName(islandWays))
        // island pruning rides the broadcast build (union-find over the
        // collected edges); router(s, largestComponent(e)) is the same
        // result via distributed CC — NetworkSpec holds them equal
        val rt = RoadNetwork.routerPruned(s, e)
        TravelTimeMatrix.run(s,
          matrixOrigins(s, dir, 23).as[RoutePoint].collect(),
          matrixDests(s, dir, 29).as[RoutePoint].collect(),
          rt, oSplit = 1000, dSplit = 500, maxDepth = 3).toDF()
      },
      Some(s"WITH ${matrixSql("o.key % 23 = 0", "d.key % 29 = 0")}"),
      headline = true),

    // q107: the contraction-hierarchy router (what `osrm-routed
    // --algorithm ch` actually runs) through the same matrix as q104 —
    // rank ordering, witness-pruned shortcuts, and the bucket
    // many-to-many must reproduce the Manhattan closed form exactly
    // (dyadic per-hop times keep shortcut weight sums bit-exact).
    QueryDef(
      "q107_ch_matrix",
      (s, dir) => {
        import s.implicits._
        val e = RoadNetwork.edges(
          gridNodes(s, dir), gridWays(s, dir, mixed = false, dagOnly = false))
        val rt = RoadNetwork.chRouter(s, e)
        TravelTimeMatrix.run(s,
          matrixOrigins(s, dir, 0).as[RoutePoint].collect(),
          matrixDests(s, dir, 0).as[RoutePoint].collect(),
          rt, oSplit = 1000, dSplit = 500, maxDepth = 3).toDF()
      },
      Some(s"WITH ${matrixSql("FALSE", "FALSE")}"),
      // headline: the CH router is the reference's production algorithm
      // (osrm-routed --algorithm ch) — steady-state timing tracked per round
      headline = true),

    // q108: via-node turn restrictions honored end-to-end — relation
    // frame → (from, via, to) triples → banned set → edge-state
    // Dijkstra through the matrix. T-network A(0)–B(1)–C(2) with D(3)
    // under B; `no_left_turn` from way [A,B] via B onto way [B,D]
    // forces A→D to detour A→B→C→B→D (4 hops instead of 2); every
    // other pair keeps its tree distance. Ways are OSM-normalized
    // (split at the junction), matching the invariant the triple
    // extraction relies on.
    QueryDef(
      "q108_turn_restriction",
      (s, dir) => {
        import s.implicits._
        val keys = T.customer(s, dir).filter($"c_custkey" < 4)
          .select($"c_custkey".as("key"))
        val tNodes = keys.select(
          $"key".as("id"),
          (lit(Lat0) - when($"key" === 3, Step).otherwise(0.0)).as("lat"),
          (lit(Lon0) + element_at(
            array(lit(0.0), lit(Step), lit(2 * Step), lit(Step)),
            ($"key" + 1).cast("int"))).as("lon"))
        val tWays = keys.filter($"key" < 3).select(
          element_at(array(lit(500L), lit(501L), lit(502L)),
            ($"key" + 1).cast("int")).as("id"),
          element_at(array(
            array(lit(0L), lit(1L)),
            array(lit(1L), lit(3L)),
            array(lit(1L), lit(2L))), ($"key" + 1).cast("int")).as("refs"),
          map(lit("highway"), lit("residential")).as("tags"))
        val rels = keys.filter($"key" === 0).select(
          lit(900L).as("id"),
          array(lit(500L), lit(1L), lit(501L)).as("memberIds"),
          array(lit(1), lit(0), lit(1)).as("memberTypes"),
          array(lit("from"), lit("via"), lit("to")).as("memberRoles"),
          map(lit("type"), lit("restriction"),
            lit("restriction"), lit("no_left_turn")).as("tags"))
        val e = RoadNetwork.edges(tNodes, tWays)
        val bannedDf = RoadNetwork.bannedTriples(
          e, RoadNetwork.restrictionTriples(rels, tWays))
        val rt = RoadNetwork.restrictedRouter(s, e, bannedDf)
        val pts = tNodes.select(
          concat(lit("P"), $"id".cast("string")).as("id"), $"lon", $"lat")
        val rps = pts.as[RoutePoint].collect()
        TravelTimeMatrix.run(s, rps, rps, rt,
          oSplit = 1000, dSplit = 500, maxDepth = 3).toDF()
      },
      Some(s"""WITH o AS (
              |  SELECT c_custkey AS key, 'P' || CAST(c_custkey AS VARCHAR) AS id
              |  FROM customer WHERE c_custkey < 4),
              |d AS (
              |  SELECT c_custkey AS key, 'P' || CAST(c_custkey AS VARCHAR) AS id
              |  FROM customer WHERE c_custkey < 4)
              |SELECT o.id AS origin_id, d.id AS destination_id,
              |       CAST(CASE WHEN o.key = d.key THEN 0
              |                 WHEN o.key = 0 AND d.key = 3 THEN 4
              |                 ELSE (CASE WHEN o.key = 1 THEN 0 ELSE 1 END)
              |                    + (CASE WHEN d.key = 1 THEN 0 ELSE 1 END)
              |            END AS DOUBLE) * CAST($StepSec AS DOUBLE) AS duration_sec
              |FROM o CROSS JOIN d""".stripMargin)),

    // q106: degree-2 chain contraction (osrm-extract's geometry
    // compression) proven distance-preserving through the whole router:
    // the same uniform grid with every hop SUBDIVIDED by a midpoint
    // node (2× nodes, half-length hops) contracts back to the plain
    // grid, and the routed matrix equals q104's closed form exactly —
    // two 869.6875 s half-hops sum to one 1739.375 s hop, all dyadic.
    QueryDef(
      "q106_contracted_matrix",
      (s, dir) => {
        import s.implicits._
        val grid = gridNodes(s, dir)
        val hmids = grid.filter($"id" % W < W - 1)
          .select(($"id" + 10000L).as("id"), $"lat", ($"lon" + 0.0625).as("lon"))
        val vmids = grid.filter($"id" < (H - 1) * W)
          .select(($"id" + 20000L).as("id"), ($"lat" + 0.0625).as("lat"), $"lon")
        val cust = T.customer(s, dir)
        val rowWays = cust.filter($"c_custkey" < H)
          .select($"c_custkey".as("r"))
          .select(
            ($"r" + 1000L).as("id"),
            concat(
              flatten(transform(
                sequence($"r" * W, $"r" * W + (W - 2)),
                i => array(i, i + 10000L))),
              array($"r" * W + (W - 1))).as("refs"),
            map(lit("highway"), lit("residential")).as("tags"))
        val colWays = cust.filter($"c_custkey" < W)
          .select($"c_custkey".as("c"))
          .select(
            ($"c" + 2000L).as("id"),
            concat(
              flatten(transform(
                sequence($"c", lit(((H - 2) * W).toLong) + $"c", lit(W.toLong)),
                i => array(i, i + 20000L))),
              array(lit(((H - 1) * W).toLong) + $"c")).as("refs"),
            map(lit("highway"), lit("residential")).as("tags"))
        val e = RoadNetwork.edges(
          grid.unionByName(hmids).unionByName(vmids),
          rowWays.unionByName(colWays))
        // keep the base grid ids: snap targets must survive contraction
        // (corners are degree-2 and would otherwise collapse away)
        val rt = RoadNetwork.router(s,
          RoadNetwork.contractChains(e, keep = Some(grid.select("id"))))
        TravelTimeMatrix.run(s,
          matrixOrigins(s, dir, 0).as[RoutePoint].collect(),
          matrixDests(s, dir, 0).as[RoutePoint].collect(),
          rt, oSplit = 1000, dSplit = 500, maxDepth = 3).toDF()
      },
      Some(s"WITH ${matrixSql("FALSE", "FALSE")}")),

    // q123: the FOOT profile end-to-end (the reference's second `mode`,
    // data/params.yaml:40-45) — same grid, every way forced oneway=yes.
    // A car matrix would be right/down-only; pedestrians ignore oneway,
    // so the walking matrix is the full bidirectional Manhattan closed
    // form at 1.25 m/s: 0.125° × 111320 / 1.25 = 11132.0 s per hop,
    // dyadic so path sums are bit-exact.
    QueryDef(
      "q123_foot_matrix",
      (s, dir) => {
        import s.implicits._
        val e = RoadNetwork.edges(
          gridNodes(s, dir), gridWays(s, dir, mixed = false, dagOnly = true),
          RoadNetwork.Foot)
        val rt = RoadNetwork.router(s, e)
        TravelTimeMatrix.run(s,
          matrixOrigins(s, dir, 0).as[RoutePoint].collect(),
          matrixDests(s, dir, 0).as[RoutePoint].collect(),
          rt, oSplit = 1000, dSplit = 500, maxDepth = 3).toDF()
      },
      Some(s"WITH ${matrixSql("FALSE", "FALSE", stepSec = 11132.0)}")),

    // q124: the BICYCLE profile's routability delta — one planted way per
    // access rule. A bare footway is excluded but `bicycle=yes` admits
    // one (specific-beats-generic, overriding the class exclusion); a
    // cycleway routes (a car never would); `bicycle=no` vetoes a
    // residential; `oneway:bicycle=no` restores contraflow on a
    // oneway=yes street; and a posted maxspeed does NOT scale cycling
    // speed (class speed stands). Oracle reconstructs the surviving
    // directed edges + weights from the node grid.
    QueryDef(
      "q124_bicycle_edges",
      (s, dir) => {
        import s.implicits._
        val ways = T.customer(s, dir).filter($"c_custkey" < 6)
          .select($"c_custkey".as("k"))
          .select(
            ($"k" + 7000L).as("id"),
            array($"k", $"k" + 1L).as("refs"),
            element_at(array(
              map(lit("highway"), lit("footway")),
              map(lit("highway"), lit("footway"), lit("bicycle"), lit("yes")),
              map(lit("highway"), lit("cycleway")),
              map(lit("highway"), lit("residential"), lit("bicycle"), lit("no")),
              map(lit("highway"), lit("residential"), lit("oneway"), lit("yes"),
                lit("oneway:bicycle"), lit("no")),
              map(lit("highway"), lit("secondary"), lit("oneway"), lit("yes"),
                lit("maxspeed"), lit("25"))), ($"k" + 1).cast("int")).as("tags"))
        RoadNetwork.edges(gridNodes(s, dir), ways, RoadNetwork.Bicycle)
          .select("src", "dst", "highway", "meters", "sec")
      },
      Some(s"""WITH nodes AS (
              |  SELECT c_custkey AS id,
              |         $Lat0 + CAST(c_custkey // $W AS DOUBLE) * $Step AS lat,
              |         $Lon0 + CAST(c_custkey % $W AS DOUBLE) * $Step AS lon
              |  FROM customer WHERE c_custkey < ${W * H}),
              |expect AS (
              |  SELECT 1 AS src, 2 AS dst, 'footway' AS highway, 2.0 AS mps
              |  UNION ALL SELECT 2, 1, 'footway', 2.0
              |  UNION ALL SELECT 2, 3, 'cycleway', 6.0
              |  UNION ALL SELECT 3, 2, 'cycleway', 6.0
              |  UNION ALL SELECT 4, 5, 'residential', 5.0
              |  UNION ALL SELECT 5, 4, 'residential', 5.0
              |  UNION ALL SELECT 5, 6, 'secondary', 5.0)
              |SELECT e.src, e.dst, e.highway,
              |       sqrt((n2.lon - n1.lon) * (n2.lon - n1.lon)
              |          + (n2.lat - n1.lat) * (n2.lat - n1.lat)) * 111320.0 AS meters,
              |       sqrt((n2.lon - n1.lon) * (n2.lon - n1.lon)
              |          + (n2.lat - n1.lat) * (n2.lat - n1.lat)) * 111320.0 / e.mps AS sec
              |FROM expect e
              |JOIN nodes n1 ON n1.id = e.src
              |JOIN nodes n2 ON n2.id = e.dst""".stripMargin)),

    // ------------------------------------------------------------------
    // q132: fixed-point PageRank (operators/GraphOps.scala) — 5 Pregel
    // rounds over a deterministic fixture digraph. Ranks are 1e9-scaled
    // longs, contributions integer-divide, damping is (mass·85) div 100:
    // all-integer message sums are order-independent, so the result is
    // identical across partition counts AND engines — the oracle replays
    // the rounds as chained CTEs. One shuffle-join + one groupBy per
    // round; edges re-join on the same key every round (ReusedExchange /
    // co-partition territory at scale).
    QueryDef(
      "q132_pagerank",
      (s, dir) => {
        import s.implicits._
        graft.operators.GraphOps.pageRank(
          T.orders(s, dir).select(
            ($"o_custkey" % 311).as("src"),
            ($"o_orderkey" % 311).as("dst")),
          iters = 5)
      },
      Some {
        val rounds = (1 to 5).map { i =>
          s"""r$i AS (
             |  SELECT n.node,
             |    CAST(150000000 + COALESCE(m.inmass, 0) * 85 // 100 AS BIGINT) AS rank
             |  FROM nodes n LEFT JOIN (
             |    SELECT e.dst AS node, CAST(sum(r.rank // d.outdeg) AS BIGINT) AS inmass
             |    FROM e
             |    JOIN deg d ON e.src = d.src
             |    JOIN r${i - 1} r ON r.node = e.src
             |    GROUP BY 1) m ON n.node = m.node)""".stripMargin
        }.mkString(",\n")
        s"""WITH e AS (
           |  SELECT DISTINCT o_custkey % 311 AS src, o_orderkey % 311 AS dst
           |  FROM orders),
           |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
           |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
           |r0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS rank FROM nodes),
           |$rounds
           |SELECT node, rank FROM r5""".stripMargin
      }),

    // ------------------------------------------------------------------
    // q136: exact triangle enumeration (operators/GraphOps.triangles) —
    // degree-oriented wedge join (Suri & Vassilvitskii 2011), so a hub of
    // degree D never fans out D² wedges: orientation bounds every
    // out-degree at O(√m). The oracle enumerates each triangle once via
    // the canonical a<b<c triple join over the same derived graph, so
    // BOTH completeness and non-duplication hash-verify.
    QueryDef(
      "q136_triangles",
      (s, dir) => {
        import s.implicits._
        graft.operators.GraphOps.triangles(
          T.orders(s, dir).select(
            ($"o_custkey" % 997).as("src"),
            ($"o_orderkey" % 997).as("dst")))
      },
      Some("""WITH e AS (
             |  SELECT DISTINCT
             |    least(o_custkey % 997, o_orderkey % 997) AS u,
             |    greatest(o_custkey % 997, o_orderkey % 997) AS v
             |  FROM orders
             |  WHERE o_custkey % 997 <> o_orderkey % 997)
             |SELECT e1.u AS a, e1.v AS b, e2.v AS c
             |FROM e e1
             |JOIN e e2 ON e2.u = e1.v
             |JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v""".stripMargin)),

    // ------------------------------------------------------------------
    // q140: k-core decomposition (GraphOps.kCore) — 6 synchronous peel
    // rounds at k=8 over the mod-2011 orders graph (511 of 2011 nodes
    // peel at sf0.01; observed convergence depth 2, so 6 rounds IS the
    // fixed point — GraphSpec asserts rounds/rounds+1 equality). Pure
    // set operations, so the result is partition- and engine-
    // independent; the oracle replays the identical rounds as chained
    // CTEs and hash-verifies surviving nodes AND their in-core degrees.
    QueryDef(
      "q140_kcore",
      (s, dir) => {
        import s.implicits._
        graft.operators.GraphOps.kCore(
          T.orders(s, dir).select(
            ($"o_custkey" % 2011).as("src"),
            ($"o_orderkey" % 2011).as("dst")),
          k = 8, rounds = 6)
      },
      Some {
        // AS MATERIALIZED: round i references round i−1 three times, so
        // an inlining engine would expand the chain into a 3^rounds
        // plan (DuckDB hit EMFILE re-opening the parquet). Same blowup
        // the Spark side avoids by checkpointing each round.
        val rounds = (1 to 6).map { i =>
          s"""k$i AS MATERIALIZED (
             |  SELECT node FROM (
             |    SELECT node, count(*) AS deg FROM (
             |      SELECT u AS node FROM e${i - 1}
             |      UNION ALL SELECT v FROM e${i - 1}) t GROUP BY 1) d
             |  WHERE deg >= 8),
             |e$i AS MATERIALIZED (
             |  SELECT e.u, e.v FROM e${i - 1} e
             |  JOIN k$i a ON e.u = a.node
             |  JOIN k$i b ON e.v = b.node)""".stripMargin
        }.mkString(",\n")
        s"""WITH e0 AS MATERIALIZED (
           |  SELECT DISTINCT
           |    least(o_custkey % 2011, o_orderkey % 2011) AS u,
           |    greatest(o_custkey % 2011, o_orderkey % 2011) AS v
           |  FROM orders
           |  WHERE o_custkey % 2011 <> o_orderkey % 2011),
           |$rounds
           |SELECT node, count(*) AS core_deg FROM (
           |  SELECT u AS node FROM e6 UNION ALL SELECT v FROM e6) t
           |GROUP BY 1""".stripMargin
      }),

    // ------------------------------------------------------------------
    // q218: label-propagation community detection (GraphOps.
    // labelPropagation) — synchronous LPA with the deterministic
    // (most-frequent, then smallest) tie-break, 4 rounds over the
    // mod-499 orders graph. Every round is one label join + one integer
    // argmax, so the result is partition- and engine-independent; the
    // oracle replays the rounds as chained CTEs (the q132 pattern) with
    // row_number() implementing the identical tie-break.
    QueryDef(
      "q218_label_propagation",
      (s, dir) => {
        import s.implicits._
        graft.operators.GraphOps.labelPropagation(
          T.orders(s, dir).select(
            ($"o_custkey" % 499).as("src"),
            ($"o_orderkey" % 499).as("dst")),
          rounds = 4)
      },
      Some {
        val rounds = (1 to 4).map { i =>
          s"""r$i AS MATERIALIZED (
             |  SELECT node, label FROM (
             |    SELECT a AS node, label,
             |      row_number() OVER (PARTITION BY a ORDER BY c DESC, label) AS rn
             |    FROM (
             |      SELECT u.a, r.label, CAST(count(*) AS BIGINT) AS c
             |      FROM und u JOIN r${i - 1} r ON r.node = u.b
             |      GROUP BY 1, 2))
             |  WHERE rn = 1)""".stripMargin
        }.mkString(",\n")
        s"""WITH e0 AS MATERIALIZED (
           |  SELECT DISTINCT
           |    least(o_custkey % 499, o_orderkey % 499) AS u,
           |    greatest(o_custkey % 499, o_orderkey % 499) AS v
           |  FROM orders
           |  WHERE o_custkey % 499 <> o_orderkey % 499),
           |und AS MATERIALIZED (
           |  SELECT u AS a, v AS b FROM e0
           |  UNION ALL SELECT v AS a, u AS b FROM e0),
           |nodes AS (SELECT DISTINCT a AS node FROM und),
           |r0 AS (SELECT node, node AS label FROM nodes),
           |$rounds
           |SELECT node, label FROM r4""".stripMargin
      })
  )
}
