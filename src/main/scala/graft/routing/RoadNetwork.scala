package graft.routing

import graft.operators.Dedup
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** In-engine road-network routing — the stage the reference delegates to
  * an OSRM sidecar (`osrm-routed --algorithm ch`,
  * /root/reference/.github/workflows/calculate-times.yaml:178-180, fed by
  * `osrm-extract` over the state pbf). Everything OSRM does for the
  * reference — build a weighted graph from OSM ways, drop disconnected
  * islands, answer `/table` many-to-many time queries — is re-expressed
  * here on Spark primitives, so the full pipeline (pbf → network → travel
  * times) runs inside the engine with no external process.
  *
  * Three pieces, each picked for its scale regime:
  *  - [[edges]]: ways + nodes → directed weighted edge list. Pure
  *    DataFrame ops — consecutive ref pairs come from a `transform` over
  *    the refs array (no shuffle), coordinates from two equi-joins on
  *    node id (hash-partitionable at any scale).
  *  - [[largestComponent]]: OSRM's island-pruning
  *    (`small_component_size`) via the engine's pointer-jump connected
  *    components — O(log diameter) shuffle rounds.
  *  - [[NetworkRouter]]: a [[Router]] backend holding the contracted
  *    graph BROADCAST as CSR arrays; each matrix block runs plain
  *    Dijkstra task-locally. This is the reference's own memory model —
  *    its per-state OSRM network must fit the 16 GB runner
  *    (/root/reference/README.md:222-225) — so one graph per job unit,
  *    shipped once per executor, is the honest Spark translation.
  *  - [[sssp]]: when the graph does NOT fit one node (planet-scale),
  *    iterative frontier-relaxation SSSP as DataFrame joins —
  *    Bellman-Ford with only-improved frontiers, lineage truncated per
  *    round. O(shortest-path-hops) shuffles, each a narrow
  *    (node, source, dist) exchange.
  */
object RoadNetwork {

  /** A routing mode's way-interpretation rules — the knob OSRM exposes as
    * its Lua profiles and the reference sweeps as `mode: [car, bicycle,
    * foot]` (/root/reference/data/params.yaml:40-45; the workflow loops
    * `osrm-extract -p {mode}.lua`). Encodes public OSM access semantics:
    *
    *  - `excluded` highway classes are unroutable *by default*, but the
    *    mode-specific access tag overrides in BOTH directions: a
    *    `bicycle=yes` footway routes, a `bicycle=no` residential doesn't.
    *    The mode tag also overrides a generic `access=no` (OSM's access
    *    hierarchy: the more specific tag wins).
    *  - `honorsOneway=false` (foot): pedestrians ignore oneway entirely.
    *  - `onewayOverrideTag` (bicycle): `oneway:bicycle` beats `oneway`,
    *    so contraflow cycle lanes (`oneway=yes` + `oneway:bicycle=no`)
    *    route both ways.
    *  - `useMaxspeed` (car): an explicit maxspeed tag replaces the class
    *    speed; walking/cycling speeds don't scale with the posted limit.
    *
    * All speeds are m/s doubles chosen dyadic-friendly so the SQL oracles
    * reproduce hop times bit-for-bit.
    */
  final case class Profile(
      name: String,
      accessTag: String,
      speeds: Map[String, Double],
      defaultSpeed: Double,
      excluded: Seq[String],
      honorsOneway: Boolean,
      onewayOverrideTag: Option[String],
      useMaxspeed: Boolean)

  /** Car-profile speeds in m/s by OSM highway class — same shape as the
    * reference's OSRM car profile (public OSRM semantics), values chosen
    * for clean SQL reproducibility.
    */
  val CarSpeedsMps: Map[String, Double] = Map(
    "motorway" -> 33.0,
    "trunk" -> 27.0,
    "primary" -> 22.0,
    "secondary" -> 17.0,
    "tertiary" -> 14.0,
    "unclassified" -> 11.0,
    "residential" -> 8.0,
    "service" -> 5.0)
  val DefaultSpeedMps: Double = 10.0

  /** Highway classes a car profile never routes on. */
  val NonRoutable: Seq[String] = Seq(
    "footway", "cycleway", "path", "pedestrian", "steps", "bridleway",
    "corridor", "construction", "proposed")

  val Car: Profile = Profile(
    name = "car",
    accessTag = "motor_vehicle",
    speeds = CarSpeedsMps,
    defaultSpeed = DefaultSpeedMps,
    excluded = NonRoutable,
    honorsOneway = true,
    onewayOverrideTag = None,
    useMaxspeed = true)

  /** Bicycle: ~18 km/h (5.0 m/s — dyadic) on roads, faster on dedicated
    * cycleways, walking pace on a footway explicitly opened by
    * `bicycle=yes` (the dismount speed); pedestrian-only and
    * motorway-class ways excluded by default; `oneway:bicycle`
    * contraflow override.
    */
  val Bicycle: Profile = Profile(
    name = "bicycle",
    accessTag = "bicycle",
    speeds = Map(
      "cycleway" -> 6.0,
      "primary" -> 5.0, "secondary" -> 5.0, "tertiary" -> 5.0,
      "unclassified" -> 5.0, "residential" -> 5.0, "service" -> 4.0,
      "path" -> 3.0, "footway" -> 2.0, "pedestrian" -> 2.0),
    defaultSpeed = 5.0,
    excluded = Seq(
      "motorway", "trunk", "steps", "footway", "pedestrian", "bridleway",
      "corridor", "construction", "proposed"),
    honorsOneway = true,
    onewayOverrideTag = Some("oneway:bicycle"),
    useMaxspeed = false)

  /** Foot: flat 1.25 m/s (4.5 km/h — dyadic) everywhere walkable;
    * motorways/trunks are the only hard exclusions; oneway ignored.
    */
  val Foot: Profile = Profile(
    name = "foot",
    accessTag = "foot",
    speeds = Map.empty,
    defaultSpeed = 1.25,
    excluded = Seq("motorway", "trunk", "construction", "proposed"),
    honorsOneway = false,
    onewayOverrideTag = None,
    useMaxspeed = false)

  val Profiles: Map[String, Profile] =
    Seq(Car, Bicycle, Foot).map(p => p.name -> p).toMap

  /** Planar degree metric used across the engine's synthetic profiles:
    * sqrt(dLon² + dLat²) × 111320 m/deg. Every op is a single correctly
    * rounded IEEE operation, so ANSI SQL reproduces it bit-for-bit (the
    * haversine trig functions, by contrast, differ between libm
    * implementations in the last ulp and would break hash oracles).
    */
  def planarMeters(dLon: Double, dLat: Double): Double =
    math.sqrt(dLon * dLon + dLat * dLat) * 111320.0

  /** Directed weighted edge list from OSM frames.
    *
    * @param nodes   (id: Long, lat: Double, lon: Double, ...) as produced
    *                by [[graft.sources.OsmPbf.nodes]]
    * @param ways    (id: Long, refs: Array[Long], tags: Map[String,String])
    *                as produced by [[graft.sources.OsmPbf.ways]]
    * @param profile the routing mode ([[Car]] default; [[Bicycle]],
    *                [[Foot]] — the reference's three `mode` values)
    *
    * Keeps ways carrying a routable `highway` tag under the profile's
    * access rules: the mode tag (`motor_vehicle` / `bicycle` / `foot`)
    * wins when present (`no` vetoes anything, any other value admits even
    * an excluded class or `access=no` — OSM's specific-beats-generic
    * hierarchy); otherwise class not in `profile.excluded` and not
    * `access=no`. Consecutive ref pairs become edges; a reverse edge is
    * emitted unless the effective oneway is `yes` (only the reverse for
    * `-1`), where "effective" means: `no` for profiles that ignore oneway
    * (foot), else the profile's override tag (`oneway:bicycle`) if set,
    * else `oneway`. Weight = [[planarMeters]] / speed, where for
    * maxspeed-sensitive profiles an explicit `maxspeed` tag (plain km/h
    * number, or `N mph`) overrides the class speed; unparseable values
    * fall back to the class (OSRM's own lenient behavior). All
    * conversions are single correctly rounded IEEE ops, SQL-replayable.
    *
    * Scale: the pair expansion is a per-row `transform` + `explode`
    * (no shuffle); the two coordinate lookups are equi-joins on a long
    * key — broadcast when the node table is small, hash otherwise.
    * Output schema: (src, dst, src_lon, src_lat, dst_lon, dst_lat,
    * highway, meters, sec).
    */
  def edges(
      nodes: DataFrame,
      ways: DataFrame,
      profile: Profile = Car): DataFrame = {
    val classSpeed = profile.speeds.foldLeft(lit(profile.defaultSpeed)) {
      case (acc, (cls, v)) => when(col("highway") === cls, lit(v)).otherwise(acc)
    }
    // maxspeed override: "50" is km/h, "30 mph" imperial; junk → class
    val ms = element_at(col("tags"), "maxspeed")
    val msMps =
      if (!profile.useMaxspeed) lit(null).cast("double")
      else when(ms.isNull, lit(null).cast("double"))
        .when(ms.endsWith(" mph"),
          expr("try_cast(substring(element_at(tags, 'maxspeed'), 1, length(element_at(tags, 'maxspeed')) - 4) AS double)") * 0.44704)
        .otherwise(expr("try_cast(element_at(tags, 'maxspeed') AS double)") / 3.6)
    val modeVal = element_at(col("tags"), profile.accessTag)
    val defaultRoutable =
      !element_at(col("tags"), "highway").isin(profile.excluded: _*) &&
        coalesce(element_at(col("tags"), "access"), lit("yes")) =!= "no"
    val effOneway =
      if (!profile.honorsOneway) lit("no")
      else profile.onewayOverrideTag match {
        case Some(t) => coalesce(element_at(col("tags"), t),
          element_at(col("tags"), "oneway"), lit("no"))
        case None => coalesce(element_at(col("tags"), "oneway"), lit("no"))
      }
    val hw = ways
      .filter(map_contains_key(col("tags"), lit("highway")) &&
        when(modeVal.isNotNull, modeVal =!= "no").otherwise(defaultRoutable))
      .select(
        col("id").as("way_id"),
        element_at(col("tags"), "highway").as("highway"),
        effOneway.as("oneway"),
        msMps.as("maxspeed_mps"),
        col("refs"))
    // consecutive (refs[i], refs[i+1]) pairs, built inside the row
    val fwd = hw
      .withColumn("hop",
        explode(expr(
          "transform(sequence(0, size(refs) - 2), i -> struct(refs[i] AS a, refs[i + 1] AS b))")))
      .select(col("way_id"), col("highway"), col("oneway"), col("maxspeed_mps"),
        col("hop.a").as("src"), col("hop.b").as("dst"))
    val directed = fwd.filter(col("oneway") =!= "-1")
      .unionByName(
        fwd.filter(col("oneway") =!= "yes")
          .select(col("way_id"), col("highway"), col("oneway"), col("maxspeed_mps"),
            col("dst").as("src"), col("src").as("dst")))
    directed
      .join(nodes.select(col("id").as("src"),
        col("lon").as("src_lon"), col("lat").as("src_lat")), Seq("src"))
      .join(nodes.select(col("id").as("dst"),
        col("lon").as("dst_lon"), col("lat").as("dst_lat")), Seq("dst"))
      .withColumn("meters",
        sqrt(
          (col("dst_lon") - col("src_lon")) * (col("dst_lon") - col("src_lon")) +
            (col("dst_lat") - col("src_lat")) * (col("dst_lat") - col("src_lat"))) * lit(111320.0))
      .withColumn("sec", col("meters") / coalesce(col("maxspeed_mps"), classSpeed))
      .select("src", "dst", "src_lon", "src_lat", "dst_lon", "dst_lat",
        "highway", "meters", "sec")
  }

  /** Keep only edges of the largest connected component (undirected
    * sense) — OSRM's island pruning, which the reference relies on so
    * ferry-less islands rout as missing rather than garbage. Component
    * labels come from the engine's pointer-jump CC (O(log diameter)
    * rounds); the winning label is one aggregate row. Ties break to the
    * smallest label for determinism.
    */
  def largestComponent(edgeDf: DataFrame): DataFrame = {
    val cc = Dedup.connectedComponents(
      edgeDf.select(col("src").as("id_a"), col("dst").as("id_b")).distinct())
    val top = cc.groupBy("cluster").count()
      .orderBy(col("count").desc, col("cluster").asc)
      .limit(1)
      .select(col("cluster"))
    val keep = cc.join(broadcast(top), Seq("cluster")).select(col("id"))
    edgeDf
      .join(keep.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
      .join(keep.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
  }

  /** Largest-component filter over already-collected edge rows: a
    * path-halving union-find, O(E α). Once a graph is small enough to
    * broadcast, spending [[largestComponent]]'s log-diameter shuffle
    * rounds on island pruning is pure job-scheduling overhead — this is
    * the same pruning fused into the driver-side build. Tie-break parity
    * with the distributed path: component size desc, then smallest
    * member id (pointer-jump CC labels a component by its min id).
    */
  private def pruneRowsToLargestComponent(
      rows: Array[org.apache.spark.sql.Row]): Array[org.apache.spark.sql.Row] = {
    if (rows.isEmpty) return rows
    val idx = scala.collection.mutable.LongMap.empty[Int]
    val rawIds = scala.collection.mutable.ArrayBuffer.empty[Long]
    def ix(id: Long): Int = idx.getOrElseUpdate(id, { rawIds += id; rawIds.length - 1 })
    val ends = rows.map(r => (ix(r.getLong(0)), ix(r.getLong(1))))
    val parent = Array.tabulate(rawIds.length)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    ends.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val size = new Array[Int](rawIds.length)
    val minId = Array.fill(rawIds.length)(Long.MaxValue)
    var i = 0
    while (i < rawIds.length) {
      val r = find(i)
      size(r) += 1
      if (rawIds(i) < minId(r)) minId(r) = rawIds(i)
      i += 1
    }
    var top = -1
    i = 0
    while (i < rawIds.length) {
      if (find(i) == i &&
        (top < 0 || size(i) > size(top) ||
          (size(i) == size(top) && minId(i) < minId(top)))) top = i
      i += 1
    }
    rows.zip(ends).collect { case (r, (a, _)) if find(a) == top => r }
  }

  // ------------------------------------------------------------- CSR

  /** Compressed-sparse-row graph + uniform-grid snap index, broadcast to
    * executors. Node order is ascending id; `cellOf` buckets coordinates
    * at `cellDeg` for nearest-node search. Memory is O(V + E) primitive
    * arrays — the per-job-unit bound the reference already imposes on its
    * OSRM network.
    */
  final case class CsrGraph(
      ids: Array[Long],
      lons: Array[Double],
      lats: Array[Double],
      offsets: Array[Int],
      targets: Array[Int],
      weights: Array[Double],
      cellDeg: Double,
      cells: Map[(Int, Int), Array[Int]]) extends Serializable {

    def nodeCount: Int = ids.length

    /** tail node of each CSR edge slot (inverse of offsets), built once
      * per deserialized graph — used only by the restricted search.
      */
    @transient private lazy val tails: Array[Int] = {
      val t = new Array[Int](targets.length)
      var u = 0
      while (u < nodeCount) {
        var e = offsets(u)
        while (e < offsets(u + 1)) { t(e) = u; e += 1 }
        u += 1
      }
      t
    }

    private def cellOf(lon: Double, lat: Double): (Int, Int) =
      (math.floor(lon / cellDeg).toInt, math.floor(lat / cellDeg).toInt)

    /** Nearest node within `maxMeters` (planar metric), or -1. Searches
      * grid rings outward; terminates as soon as the best hit is closer
      * than the next ring can offer.
      */
    def snap(lon: Double, lat: Double, maxMeters: Double): Int = {
      val (cx, cy) = cellOf(lon, lat)
      val maxRing = math.ceil(maxMeters / (cellDeg * 111320.0)).toInt + 1
      var best = -1
      var bestM = maxMeters
      var ring = 0
      while (ring <= maxRing) {
        // once a hit exists, further rings can only be farther than
        // (ring - 1) whole cells away
        if (best >= 0 && (ring - 1).toDouble * cellDeg * 111320.0 > bestM) return best
        var dx = -ring
        while (dx <= ring) {
          var dy = -ring
          while (dy <= ring) {
            if (math.max(math.abs(dx), math.abs(dy)) == ring) {
              cells.get((cx + dx, cy + dy)).foreach { arr =>
                var k = 0
                while (k < arr.length) {
                  val i = arr(k)
                  val m = planarMeters(lons(i) - lon, lats(i) - lat)
                  if (m < bestM || (m == bestM && (best < 0 || ids(i) < ids(best)))) {
                    best = i; bestM = m
                  }
                  k += 1
                }
              }
            }
            dy += 1
          }
          dx += 1
        }
        ring += 1
      }
      best
    }

    /** Single-source Dijkstra over the CSR arrays; returns the distance
      * array (Double.PositiveInfinity = unreachable). Binary heap on
      * primitive arrays; early exit once `until` nodes of interest are
      * settled (pass null to settle everything).
      */
    def dijkstra(source: Int, until: java.util.BitSet = null): Array[Double] = {
      val n = nodeCount
      val dist = Array.fill(n)(Double.PositiveInfinity)
      val settled = new java.util.BitSet(n)
      var remaining = if (until == null) -1 else until.cardinality()
      // heap of (dist, node) encoded as two parallel arrays
      var heapSize = 0
      var hDist = new Array[Double](math.max(16, n / 4))
      var hNode = new Array[Int](hDist.length)
      def push(d: Double, v: Int): Unit = {
        if (heapSize == hDist.length) {
          hDist = java.util.Arrays.copyOf(hDist, heapSize * 2)
          hNode = java.util.Arrays.copyOf(hNode, heapSize * 2)
        }
        var i = heapSize; heapSize += 1
        while (i > 0 && hDist((i - 1) / 2) > d) {
          hDist(i) = hDist((i - 1) / 2); hNode(i) = hNode((i - 1) / 2); i = (i - 1) / 2
        }
        hDist(i) = d; hNode(i) = v
      }
      def pop(): Int = {
        val top = hNode(0)
        heapSize -= 1
        if (heapSize > 0) {
          val d = hDist(heapSize); val v = hNode(heapSize)
          var i = 0
          var c = 1
          while (c < heapSize) {
            if (c + 1 < heapSize && hDist(c + 1) < hDist(c)) c += 1
            if (hDist(c) >= d) c = heapSize
            else { hDist(i) = hDist(c); hNode(i) = hNode(c); i = c; c = 2 * i + 1 }
          }
          hDist(i) = d; hNode(i) = v
        }
        top
      }
      dist(source) = 0.0
      push(0.0, source)
      while (heapSize > 0 && remaining != 0) {
        val u = pop()
        if (!settled.get(u)) {
          settled.set(u)
          if (until != null && until.get(u)) remaining -= 1
          val d0 = dist(u)
          var e = offsets(u)
          while (e < offsets(u + 1)) {
            val v = targets(e)
            val nd = d0 + weights(e)
            if (nd < dist(v)) { dist(v) = nd; push(nd, v) }
            e += 1
          }
        }
      }
      dist
    }

    /** Dijkstra over EDGE states — exact under turn restrictions, where
      * plain node Dijkstra is wrong (the optimal path may revisit a
      * node to legalize a turn). A state is a CSR edge slot; transition
      * e→e2 at node h = targets(e) is allowed unless
      * (ids(tails(e)), ids(h), ids(targets(e2))) ∈ `banned`. Departures
      * from the source have no from-edge, so they are never restricted
      * (OSRM semantics for a trip starting at a junction). Edge states
      * settle in global distance order, so the FIRST settled state
      * arriving at a node fixes that node's distance.
      *
      * `vias` (the banned triples' middle nodes) gates the set lookup so
      * unrestricted junctions — virtually all of them — stay on the
      * same fast path as the node search.
      */
    def dijkstraRestricted(
        source: Int,
        banned: scala.collection.Set[(Long, Long, Long)],
        vias: scala.collection.Set[Long],
        until: java.util.BitSet = null): Array[Double] = {
      val n = nodeCount
      val nE = targets.length
      val nodeDist = Array.fill(n)(Double.PositiveInfinity)
      val nodeSettled = new java.util.BitSet(n)
      var remaining = if (until == null) -1 else until.cardinality()
      val edist = Array.fill(nE)(Double.PositiveInfinity)
      val esettled = new java.util.BitSet(nE)
      var heapSize = 0
      var hDist = new Array[Double](math.max(16, nE / 4))
      var hEdge = new Array[Int](hDist.length)
      def push(d: Double, v: Int): Unit = {
        if (heapSize == hDist.length) {
          hDist = java.util.Arrays.copyOf(hDist, heapSize * 2)
          hEdge = java.util.Arrays.copyOf(hEdge, heapSize * 2)
        }
        var i = heapSize; heapSize += 1
        while (i > 0 && hDist((i - 1) / 2) > d) {
          hDist(i) = hDist((i - 1) / 2); hEdge(i) = hEdge((i - 1) / 2); i = (i - 1) / 2
        }
        hDist(i) = d; hEdge(i) = v
      }
      def pop(): Int = {
        val top = hEdge(0)
        heapSize -= 1
        if (heapSize > 0) {
          val d = hDist(heapSize); val v = hEdge(heapSize)
          var i = 0
          var c = 1
          while (c < heapSize) {
            if (c + 1 < heapSize && hDist(c + 1) < hDist(c)) c += 1
            if (hDist(c) >= d) c = heapSize
            else { hDist(i) = hDist(c); hEdge(i) = hEdge(c); i = c; c = 2 * i + 1 }
          }
          hDist(i) = d; hEdge(i) = v
        }
        top
      }
      nodeDist(source) = 0.0
      nodeSettled.set(source)
      if (until != null && until.get(source)) remaining -= 1
      var e0 = offsets(source)
      while (e0 < offsets(source + 1)) {
        if (weights(e0) < edist(e0)) { edist(e0) = weights(e0); push(weights(e0), e0) }
        e0 += 1
      }
      while (heapSize > 0 && remaining != 0) {
        val e = pop()
        if (!esettled.get(e)) {
          esettled.set(e)
          val h = targets(e)
          val d = edist(e)
          if (!nodeSettled.get(h)) {
            nodeSettled.set(h)
            nodeDist(h) = d
            if (until != null && until.get(h)) remaining -= 1
          }
          val restrictedHere = vias.contains(ids(h))
          val tailId = if (restrictedHere) ids(tails(e)) else 0L
          var e2 = offsets(h)
          while (e2 < offsets(h + 1)) {
            if (!restrictedHere || !banned.contains((tailId, ids(h), ids(targets(e2))))) {
              val nd = d + weights(e2)
              if (nd < edist(e2)) { edist(e2) = nd; push(nd, e2) }
            }
            e2 += 1
          }
        }
      }
      nodeDist
    }
  }

  /** Collect an edge DataFrame into a broadcast-ready [[CsrGraph]].
    *
    * DRIVER-BOUNDED BY DESIGN: the reference's unit of work is one state
    * network held in one OSRM process (README.md:222-225); this is the
    * same envelope — V+E primitive arrays, not row objects. For graphs
    * beyond single-node memory use [[sssp]] instead.
    */
  def buildCsr(edgeDf: DataFrame, cellDeg: Double = 0.5,
      pruneIslands: Boolean = false): CsrGraph = {
    val collected = edgeDf
      .select(col("src").cast("long"), col("dst").cast("long"),
        col("src_lon").cast("double"), col("src_lat").cast("double"),
        col("dst_lon").cast("double"), col("dst_lat").cast("double"),
        col("sec").cast("double"))
      .collect()
    val rows = if (pruneIslands) pruneRowsToLargestComponent(collected) else collected
    val coord = scala.collection.mutable.LongMap.empty[(Double, Double)]
    rows.foreach { r =>
      coord.getOrElseUpdate(r.getLong(0), (r.getDouble(2), r.getDouble(3)))
      coord.getOrElseUpdate(r.getLong(1), (r.getDouble(4), r.getDouble(5)))
    }
    val ids = coord.keys.toArray.sorted
    val index = ids.zipWithIndex.toMap
    val lons = ids.map(coord(_)._1)
    val lats = ids.map(coord(_)._2)
    val n = ids.length
    val deg = new Array[Int](n + 1)
    rows.foreach(r => deg(index(r.getLong(0)) + 1) += 1)
    var i = 0
    while (i < n) { deg(i + 1) += deg(i); i += 1 }
    val offsets = deg.clone()
    val targets = new Array[Int](rows.length)
    val weights = new Array[Double](rows.length)
    val fill = offsets.clone()
    rows.foreach { r =>
      val s = index(r.getLong(0))
      targets(fill(s)) = index(r.getLong(1))
      weights(fill(s)) = r.getDouble(6)
      fill(s) += 1
    }
    val cells = (0 until n)
      .groupBy(k => (math.floor(lons(k) / cellDeg).toInt, math.floor(lats(k) / cellDeg).toInt))
      .map { case (c, ks) => c -> ks.toArray }
    CsrGraph(ids, lons, lats, offsets, targets, weights, cellDeg, cells)
  }

  /** [[Router]] backend over a broadcast [[CsrGraph]] — the in-engine
    * stand-in for the reference's `osrm-routed /table` call
    * (utils/times.py:456-462). Each block: snap points to nearest nodes
    * (grid-ring search), one Dijkstra per distinct origin node with
    * early exit once every destination node is settled. Unsnappable
    * points and unreachable destinations produce NaN cells → per-pair
    * missing rows, exactly OSRM's null durations; whole-block failure
    * (and thus quadtree recursion) never triggers spuriously.
    *
    * Scale: per-block work is O(distinct origins × E log V) task-local
    * CPU with zero shuffle; the graph ships once per executor via the
    * broadcast. maxSplit=5000 bounds matrix memory exactly as the
    * reference's max_table_size bounds OSRM's.
    */
  final class NetworkRouter(
      graph: Broadcast[CsrGraph],
      maxSnapMeters: Double = 300000.0,
      banned: Broadcast[Set[(Long, Long, Long)]] = null) extends Router {

    // banned triples' via nodes — gates the per-transition set lookup
    @transient private lazy val viaSet: Set[Long] =
      if (banned == null) Set.empty else banned.value.map(_._2)

    override def table(
        origins: IndexedSeq[RoutePoint],
        dests: IndexedSeq[RoutePoint]): Array[Array[Double]] = {
      val g = graph.value
      val oNode = origins.map(p => g.snap(p.lon, p.lat, maxSnapMeters)).toArray
      val dNode = dests.map(p => g.snap(p.lon, p.lat, maxSnapMeters)).toArray
      val wanted = new java.util.BitSet(g.nodeCount)
      dNode.foreach(d => if (d >= 0) wanted.set(d))
      val bSet = if (banned == null) null else banned.value
      // one Dijkstra per DISTINCT snapped origin node
      val byNode = oNode.distinct.filter(_ >= 0)
        .map(s => s -> (if (bSet == null || bSet.isEmpty) g.dijkstra(s, wanted)
          else g.dijkstraRestricted(s, bSet, viaSet, wanted)))
        .toMap
      Array.tabulate(origins.length) { i =>
        val dist = if (oNode(i) >= 0) byNode(oNode(i)) else null
        Array.tabulate(dests.length) { j =>
          if (dist == null || dNode(j) < 0) Double.NaN
          else {
            val d = dist(dNode(j))
            if (d.isInfinite) Double.NaN else d
          }
        }
      }
    }
  }

  // ------------------------------------------------- distributed SSSP

  /** Multi-source single-source-shortest-path as iterative DataFrame
    * relaxation — the scale path when the graph exceeds single-node
    * memory (planet-scale OSM: ~9B nodes). Classic frontier-style
    * Bellman-Ford: each round joins the improved frontier with the edge
    * list and keeps strictly-better distances; rounds are narrow
    * (node, source, dist) shuffles and lineage is truncated with
    * localCheckpoint so round N doesn't replay rounds 1..N−1.
    * Converges in O(max shortest-path hop count) rounds.
    *
    * @param edgeDf  (src, dst, sec) — directed weighted edges
    * @param sources one column `id`: source node per row
    * @return (source, node, dist_sec) for every reachable (source, node)
    */
  def sssp(edgeDf: DataFrame, sources: DataFrame, maxIters: Int = 50): DataFrame = {
    val e = graft.operators.Pins.pin(
      edgeDf.select(col("src").as("node"), col("dst"), col("sec")))
    var dist = graft.operators.Pins.pin(
      sources.select(col("id").as("source"), col("id").as("node"),
        lit(0.0).as("dist_sec")))
    var frontier = dist
    var i = 0
    var active = frontier.count()
    while (active > 0 && i < maxIters) {
      val cand = frontier.join(e, Seq("node"))
        .select(col("source"), col("dst").as("node"),
          (col("dist_sec") + col("sec")).as("cand_sec"))
        .groupBy("source", "node")
        .agg(min("cand_sec").as("cand_sec"))
      val joined = cand.join(dist, Seq("source", "node"), "left")
      val improved = graft.operators.Pins.pin(joined
        .filter(col("dist_sec").isNull || col("cand_sec") < col("dist_sec"))
        .select(col("source"), col("node"), col("cand_sec").as("dist_sec")))
      active = improved.count()
      if (active > 0) {
        // min-merge: one narrow shuffle, map-side partial agg
        dist = graft.operators.Pins.pin(dist.unionByName(improved)
          .groupBy("source", "node")
          .agg(min("dist_sec").as("dist_sec")))
        frontier = improved
      }
      i += 1
    }
    dist
  }

  /** Broadcast helper: build + broadcast the CSR graph and wrap it in a
    * [[NetworkRouter]] in one call.
    */
  def router(spark: SparkSession, edgeDf: DataFrame,
      maxSnapMeters: Double = 300000.0, cellDeg: Double = 0.5): NetworkRouter =
    new NetworkRouter(spark.sparkContext.broadcast(buildCsr(edgeDf, cellDeg)), maxSnapMeters)

  /** Network-backed [[Snapper]] — the in-engine form of the reference's
    * per-point OSRM `/nearest` call (times.py:645-683): each point snaps
    * to the nearest network node of the broadcast graph, or None beyond
    * `maxMeters` (the caller's coalesce-to-original then applies, P6).
    * Share the broadcast with the job's [[NetworkRouter]] so the graph
    * ships once per executor for both roles.
    */
  final class NetworkSnapper(
      graph: Broadcast[CsrGraph],
      maxMeters: Double = 300000.0) extends Snapper {
    override def snap(batch: Seq[(Double, Double)]): Seq[Option[(Double, Double)]] = {
      val g = graph.value
      batch.map { case (lon, lat) =>
        val i = g.snap(lon, lat, maxMeters)
        if (i < 0) None else Some((g.lons(i), g.lats(i)))
      }
    }
  }

  /** [[router]] with island pruning fused into the broadcast build
    * (driver-side union-find over the collected edges) — semantically
    * identical to `router(s, largestComponent(e))` (NetworkSpec proves
    * the equivalence) without the log-diameter shuffle rounds, which on
    * a broadcastable graph are pure scheduling overhead. Use the
    * distributed [[largestComponent]] when the graph exceeds single-node
    * memory and feeds [[sssp]] instead of a broadcast router.
    */
  def routerPruned(spark: SparkSession, edgeDf: DataFrame,
      maxSnapMeters: Double = 300000.0, cellDeg: Double = 0.5): NetworkRouter =
    new NetworkRouter(
      spark.sparkContext.broadcast(buildCsr(edgeDf, cellDeg, pruneIslands = true)),
      maxSnapMeters)

  /** [[router]] honoring a banned-transition frame (from
    * [[bannedTriples]]). Restrictions are a vanishing fraction of a
    * network (OSM has ~1 per thousand junctions), so collecting them to
    * the driver for broadcast rides the same envelope as the graph
    * itself.
    */
  def restrictedRouter(
      spark: SparkSession,
      edgeDf: DataFrame,
      bannedDf: DataFrame,
      maxSnapMeters: Double = 300000.0,
      cellDeg: Double = 0.5): NetworkRouter = {
    val b = bannedDf
      .select(col("from_node").cast("long"), col("via").cast("long"),
        col("to_node").cast("long"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    new NetworkRouter(
      spark.sparkContext.broadcast(buildCsr(edgeDf, cellDeg)),
      maxSnapMeters,
      spark.sparkContext.broadcast(b))
  }

  // ------------------------------------- contraction hierarchies

  /** Contraction-hierarchy overlay of a [[CsrGraph]] — the algorithm the
    * reference's router actually runs (`osrm-routed --algorithm ch`,
    * calculate-times.yaml:178-180). Nodes get a contraction rank; every
    * shortest path is then expressible as an up-then-down rank sequence,
    * so a point-to-point query touches only the two small "upward"
    * cones instead of the whole graph.
    *
    *  - `upOff/upTgt/upW`: forward edges (original + shortcuts) into
    *    HIGHER-ranked nodes — the forward search graph.
    *  - `bwdOff/bwdTgt/bwdW`: REVERSED edges whose forward orientation
    *    descends in rank — the backward search graph (a backward search
    *    from t over these computes exact dist(m → t) for every m on
    *    t's downward cone).
    *
    * Many-to-many uses OSRM's bucket algorithm: one backward search per
    * distinct destination node writes (dest, dist) entries into buckets
    * at each settled node; one forward search per distinct origin node
    * then scans buckets at its settled nodes and keeps the min sum.
    * Total work is O((|O| + |D|) × cone) instead of |O| full-graph
    * Dijkstras — the gap widens with graph size, which is exactly the
    * 100 TB argument for paying the one-time contraction.
    */
  final case class ChGraph(
      csr: CsrGraph,
      rank: Array[Int],
      upOff: Array[Int], upTgt: Array[Int], upW: Array[Double],
      bwdOff: Array[Int], bwdTgt: Array[Int], bwdW: Array[Double])
      extends Serializable {

    /** Upward Dijkstra from `source` over one of the two search CSRs;
      * returns (settledNodes, settledDists) as parallel arrays.
      */
    private def coneSearch(
        source: Int,
        off: Array[Int], tgt: Array[Int], w: Array[Double]): (Array[Int], Array[Double]) = {
      val dist = scala.collection.mutable.HashMap.empty[Int, Double]
      val settled = scala.collection.mutable.HashSet.empty[Int]
      val outN = scala.collection.mutable.ArrayBuffer.empty[Int]
      val outD = scala.collection.mutable.ArrayBuffer.empty[Double]
      val pq = new java.util.PriorityQueue[(Double, Int)](
        11, (a: (Double, Int), b: (Double, Int)) => java.lang.Double.compare(a._1, b._1))
      dist(source) = 0.0
      pq.add((0.0, source))
      while (!pq.isEmpty) {
        val (d, u) = pq.poll()
        if (!settled.contains(u)) {
          settled += u
          outN += u; outD += d
          var e = off(u)
          while (e < off(u + 1)) {
            val v = tgt(e)
            val nd = d + w(e)
            if (nd < dist.getOrElse(v, Double.PositiveInfinity)) {
              dist(v) = nd; pq.add((nd, v))
            }
            e += 1
          }
        }
      }
      (outN.toArray, outD.toArray)
    }

    /** Exact many-to-many durations between snapped node indices
      * (−1 = unsnapped → NaN row/col), via the bucket algorithm.
      */
    def table(oNode: Array[Int], dNode: Array[Int]): Array[Array[Double]] = {
      val n = csr.nodeCount
      // backward cones: buckets of (destSlot, dist) per settled node
      val distinctD = dNode.filter(_ >= 0).distinct
      val dSlot = distinctD.zipWithIndex.toMap
      val bucketN = Array.fill(n)(null: scala.collection.mutable.ArrayBuffer[(Int, Double)])
      distinctD.foreach { t =>
        val (ns, ds) = coneSearch(t, bwdOff, bwdTgt, bwdW)
        var i = 0
        while (i < ns.length) {
          val u = ns(i)
          if (bucketN(u) == null)
            bucketN(u) = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
          bucketN(u) += ((dSlot(t), ds(i)))
          i += 1
        }
      }
      // forward cones per distinct origin node
      val byOrigin = oNode.filter(_ >= 0).distinct.map { s =>
        val best = Array.fill(distinctD.length)(Double.PositiveInfinity)
        val (ns, ds) = coneSearch(s, upOff, upTgt, upW)
        var i = 0
        while (i < ns.length) {
          val b = bucketN(ns(i))
          if (b != null) {
            val fd = ds(i)
            b.foreach { case (slot, bd) =>
              if (fd + bd < best(slot)) best(slot) = fd + bd
            }
          }
          i += 1
        }
        s -> best
      }.toMap
      Array.tabulate(oNode.length) { i =>
        val best = if (oNode(i) >= 0) byOrigin(oNode(i)) else null
        Array.tabulate(dNode.length) { j =>
          if (best == null || dNode(j) < 0) Double.NaN
          else {
            val d = best(dSlot(dNode(j)))
            if (d.isInfinite) Double.NaN else d
          }
        }
      }
    }
  }

  /** Contract a [[CsrGraph]] into a [[ChGraph]].
    *
    * DRIVER-BOUNDED BY DESIGN like [[buildCsr]] — preprocessing is the
    * same one-state-network envelope the reference pays in its
    * `osrm-contract` CI step (calculate-times.yaml:100-120), done once
    * and broadcast.
    *
    * Ordering is the standard lazy heuristic: priority = edge
    * difference (shortcuts needed − edges removed) + contracted
    * neighbors; the heap re-evaluates a node when popped and re-inserts
    * if it is no longer minimal. Witness searches are bounded local
    * Dijkstras (`witnessSettleLimit`); truncating a witness search can
    * only ADD redundant shortcuts, never lose a shortest path, so
    * correctness is unconditional.
    */
  def buildCh(csr: CsrGraph, witnessSettleLimit: Int = 64): ChGraph = {
    import scala.collection.mutable
    val n = csr.nodeCount
    // dynamic adjacency over uncontracted nodes; (nbr -> weight), min kept
    val out = Array.fill(n)(mutable.LongMap.empty[Double])
    val in = Array.fill(n)(mutable.LongMap.empty[Double])
    var u0 = 0
    while (u0 < n) {
      var e = csr.offsets(u0)
      while (e < csr.offsets(u0 + 1)) {
        val v = csr.targets(e); val w = csr.weights(e)
        if (v != u0) {
          if (w < out(u0).getOrElse(v.toLong, Double.PositiveInfinity)) out(u0)(v.toLong) = w
          if (w < in(v).getOrElse(u0.toLong, Double.PositiveInfinity)) in(v)(u0.toLong) = w
        }
        e += 1
      }
      u0 += 1
    }
    val contracted = new Array[Boolean](n)
    val deletedNbrs = new Array[Int](n)
    val rank = new Array[Int](n)
    // all surviving forward edges incl. shortcuts: (src, dst, w)
    val finalSrc = mutable.ArrayBuffer.empty[Int]
    val finalDst = mutable.ArrayBuffer.empty[Int]
    val finalW = mutable.ArrayBuffer.empty[Double]

    /** min witness dist u→w in the uncontracted graph minus `skip`,
      * capped: stops when heap min > `bound` or settle budget is spent.
      */
    def witness(u: Int, targets: mutable.LongMap[Double], skip: Int, bound: Double): mutable.LongMap[Double] = {
      val dist = mutable.LongMap.empty[Double]
      val settled = mutable.LongMap.empty[Double] // node -> settled dist
      val pq = new java.util.PriorityQueue[(Double, Int)](
        11, (a: (Double, Int), b: (Double, Int)) => java.lang.Double.compare(a._1, b._1))
      dist(u.toLong) = 0.0
      pq.add((0.0, u))
      var budget = witnessSettleLimit
      var remainingTargets = targets.size
      while (!pq.isEmpty && budget > 0 && remainingTargets > 0 && pq.peek()._1 <= bound) {
        val (d, x) = pq.poll()
        if (!settled.contains(x.toLong)) {
          settled(x.toLong) = d
          if (targets.contains(x.toLong)) remainingTargets -= 1
          budget -= 1
          out(x).foreach { case (vL, w) =>
            val v = vL.toInt
            if (v != skip && !contracted(v)) {
              val nd = d + w
              if (nd < dist.getOrElse(vL, Double.PositiveInfinity)) {
                dist(vL) = nd; pq.add((nd, v))
              }
            }
          }
        }
      }
      settled
    }

    /** Shortcuts node v would need now: (u, w, weight) triples. */
    def neededShortcuts(v: Int): Seq[(Int, Int, Double)] = {
      val ins = in(v).toSeq.collect { case (uL, w) if !contracted(uL.toInt) => (uL.toInt, w) }
      val outs = out(v).toSeq.collect { case (wL, w) if !contracted(wL.toInt) => (wL.toInt, w) }
      if (ins.isEmpty || outs.isEmpty) Seq.empty
      else {
        val maxOut = outs.map(_._2).max
        ins.flatMap { case (u, wu) =>
          val targets = mutable.LongMap.empty[Double]
          outs.foreach { case (t, wt) => if (t != u) targets(t.toLong) = wt }
          if (targets.isEmpty) Seq.empty
          else {
            val settledW = witness(u, targets, skip = v, bound = wu + maxOut)
            outs.collect {
              case (t, wt) if t != u &&
                  settledW.getOrElse(t.toLong, Double.PositiveInfinity) > wu + wt =>
                (u, t, wu + wt)
            }
          }
        }
      }
    }

    def priority(v: Int): Double = {
      val sc = neededShortcuts(v).length
      val deg = in(v).count(kv => !contracted(kv._1.toInt)) +
        out(v).count(kv => !contracted(kv._1.toInt))
      (sc - deg).toDouble + deletedNbrs(v).toDouble * 0.5
    }

    val heap = new java.util.PriorityQueue[(Double, Int)](
      math.max(11, n), (a: (Double, Int), b: (Double, Int)) => java.lang.Double.compare(a._1, b._1))
    (0 until n).foreach(v => heap.add((priority(v), v)))
    var nextRank = 0
    while (!heap.isEmpty) {
      val (p, v) = heap.poll()
      if (!contracted(v)) {
        val pNow = priority(v)
        if (!heap.isEmpty && pNow > heap.peek()._1 + 1e-12) heap.add((pNow, v))
        else {
          // contract v: materialize its shortcuts, retire its edges
          val sc = neededShortcuts(v)
          sc.foreach { case (u, t, w) =>
            if (w < out(u).getOrElse(t.toLong, Double.PositiveInfinity)) {
              out(u)(t.toLong) = w; in(t)(u.toLong) = w
            }
          }
          rank(v) = nextRank; nextRank += 1
          contracted(v) = true
          // freeze v's edges to still-uncontracted neighbors (pairs with
          // an already-contracted endpoint were frozen at that earlier
          // contraction — including them again would duplicate edges)
          out(v).foreach { case (tL, w) =>
            val t = tL.toInt
            if (!contracted(t)) {
              finalSrc += v; finalDst += t; finalW += w
              deletedNbrs(t) += 1
            }
          }
          in(v).foreach { case (uL, w) =>
            val u = uL.toInt
            if (!contracted(u)) {
              finalSrc += u; finalDst += v; finalW += w
              deletedNbrs(u) += 1
            }
          }
        }
      }
    }
    // split the final edges into the two search CSRs
    val m = finalSrc.length
    val upDeg = new Array[Int](n + 1)
    val bwdDeg = new Array[Int](n + 1)
    var k = 0
    while (k < m) {
      val s = finalSrc(k); val d = finalDst(k)
      if (rank(d) > rank(s)) upDeg(s + 1) += 1 else bwdDeg(d + 1) += 1
      k += 1
    }
    var i = 0
    while (i < n) { upDeg(i + 1) += upDeg(i); bwdDeg(i + 1) += bwdDeg(i); i += 1 }
    val upOff = upDeg.clone(); val bwdOff = bwdDeg.clone()
    val upTgt = new Array[Int](upOff(n)); val upW = new Array[Double](upOff(n))
    val bwdTgt = new Array[Int](bwdOff(n)); val bwdW = new Array[Double](bwdOff(n))
    val upFill = upOff.clone(); val bwdFill = bwdOff.clone()
    k = 0
    while (k < m) {
      val s = finalSrc(k); val d = finalDst(k); val w = finalW(k)
      if (rank(d) > rank(s)) {
        upTgt(upFill(s)) = d; upW(upFill(s)) = w; upFill(s) += 1
      } else {
        bwdTgt(bwdFill(d)) = s; bwdW(bwdFill(d)) = w; bwdFill(d) += 1
      }
      k += 1
    }
    ChGraph(csr, rank, upOff, upTgt, upW, bwdOff, bwdTgt, bwdW)
  }

  /** [[Router]] backend over a broadcast [[ChGraph]] — the in-engine
    * equivalent of `osrm-routed --algorithm ch /table`. Snap shares the
    * CSR grid index; the block query is the bucket many-to-many.
    */
  final class ChRouter(
      graph: Broadcast[ChGraph],
      maxSnapMeters: Double = 300000.0) extends Router {
    override def table(
        origins: IndexedSeq[RoutePoint],
        dests: IndexedSeq[RoutePoint]): Array[Array[Double]] = {
      val g = graph.value
      g.table(
        origins.map(p => g.csr.snap(p.lon, p.lat, maxSnapMeters)).toArray,
        dests.map(p => g.csr.snap(p.lon, p.lat, maxSnapMeters)).toArray)
    }
  }

  /** Build + broadcast a contraction hierarchy and wrap it in a
    * [[ChRouter]] in one call.
    */
  def chRouter(spark: SparkSession, edgeDf: DataFrame,
      maxSnapMeters: Double = 300000.0, cellDeg: Double = 0.5): ChRouter =
    new ChRouter(spark.sparkContext.broadcast(buildCh(buildCsr(edgeDf, cellDeg))), maxSnapMeters)

  // -------------------------------------------- turn restrictions

  /** Via-node turn restrictions from OSM relation frames → node triples.
    *
    * OSRM's car profile honors `type=restriction` relations (from-way,
    * via-node, to-way with `restriction=no_left_turn` etc.); the
    * reference inherits that behavior from its sidecar, so the in-engine
    * router reproduces it. A via-NODE restriction names the transition
    * (x → via → y) where x is the from-way's node adjacent to via and y
    * the to-way's. All steps are equi-joins: members unpack per-row via
    * `arrays_zip`, adjacency comes from posexploded way refs.
    *
    * @return (via, from_node, to_node, kind) — kind is the raw
    *         `restriction` value (`no_*` forbids the one transition,
    *         `only_*` forbids every alternative)
    */
  def restrictionTriples(relations: DataFrame, ways: DataFrame): DataFrame = {
    val r = relations
      .filter(element_at(col("tags"), "type") === "restriction" &&
        map_contains_key(col("tags"), lit("restriction")))
      .select(
        col("id").as("rel_id"),
        element_at(col("tags"), "restriction").as("kind"),
        expr("arrays_zip(memberIds, memberTypes, memberRoles)").as("members"))
      .select(
        col("rel_id"), col("kind"),
        expr("filter(members, m -> m.memberRoles = 'from' AND m.memberTypes = 1)[0].memberIds")
          .as("from_way"),
        expr("filter(members, m -> m.memberRoles = 'via' AND m.memberTypes = 0)[0].memberIds")
          .as("via"),
        expr("filter(members, m -> m.memberRoles = 'to' AND m.memberTypes = 1)[0].memberIds")
          .as("to_way"))
      .filter(col("from_way").isNotNull && col("via").isNotNull && col("to_way").isNotNull)
    // node adjacent to `via` within a way (either side; a valid from/to
    // way ends at via, so exactly one adjacent ref exists there)
    val adj = ways
      .select(col("id").as("way_id"), posexplode(col("refs")).as(Seq("pos", "ref")))
    val viaPos = adj.select(
      col("way_id"), col("ref").as("via"), col("pos").as("via_pos"))
    val nbr = adj.join(viaPos, Seq("way_id"))
      .filter(abs(col("pos") - col("via_pos")) === 1)
      .select(col("way_id"), col("via"), col("ref").as("nbr"))
    r.join(nbr.withColumnRenamed("way_id", "from_way").withColumnRenamed("nbr", "from_node"),
        Seq("from_way", "via"))
      .join(nbr.withColumnRenamed("way_id", "to_way").withColumnRenamed("nbr", "to_node"),
        Seq("to_way", "via"))
      .select("via", "from_node", "to_node", "kind")
  }

  /** Expand restriction triples into the banned transition set the
    * router consumes: `no_*` bans its one transition; `only_*` bans
    * every out-neighbor of via except the mandated one (U-turn back to
    * the from node included — OSRM's interpretation).
    */
  def bannedTriples(edgeDf: DataFrame, triples: DataFrame): DataFrame = {
    val no = triples.filter(col("kind").startsWith("no_"))
      .select(col("from_node"), col("via"), col("to_node"))
    val onlyT = triples.filter(col("kind").startsWith("only_"))
    val outNbrs = edgeDf.select(col("src").as("via"), col("dst").as("out_nbr")).distinct()
    val only = onlyT.join(outNbrs, Seq("via"))
      .filter(col("out_nbr") =!= col("to_node"))
      .select(col("from_node"), col("via"), col("out_nbr").as("to_node"))
    no.unionByName(only).distinct()
  }

  // -------------------------------------------- chain contraction

  /** Collapse degree-2 geometry chains into single weighted edges — the
    * graph compression `osrm-extract` performs before contraction
    * proper. OSM ways are dominated by shape-only intermediate nodes
    * (every bend is a node); collapsing nodes with exactly two distinct
    * neighbors typically shrinks V and E several-fold, which shrinks
    * the broadcast CSR and every Dijkstra by the same factor while
    * preserving all distances between surviving nodes.
    *
    * Distributed pointer-jumping: each round, every edge ending at a
    * contractible node splices the unique continuation (the outgoing
    * edge that doesn't U-turn), so chain spans double and the loop ends
    * in O(log max-chain-length) rounds. All steps are equi-joins on
    * node ids. Finally only endpoint→endpoint spans are kept. Pure
    * degree-2 rings (no endpoints) can never stall, so spans carry a
    * hop count and any span longer than the contractible-node count —
    * necessarily a wrapped ring — is dropped as soon as it forms;
    * an isolated ring is unreachable from any surviving node anyway.
    *
    * Weights/meters sum along the chain; the span keeps the FIRST hop's
    * highway class and its endpoints' coordinates.
    *
    * @param keep nodes never contracted regardless of degree — snap
    *             targets, turn-restriction carriers, stop locations
    *             (one column `id`)
    */
  def contractChains(
      edgeDf: DataFrame,
      keep: Option[DataFrame] = None,
      maxRounds: Int = 12): DataFrame = {
    val cols = Seq("src", "dst", "src_lon", "src_lat", "dst_lon", "dst_lat",
      "highway", "meters", "sec")
    val e0 = graft.operators.Pins.pin(edgeDf.select(cols.map(col): _*)
      .filter(col("src") =!= col("dst")))
    // contractible = exactly two distinct undirected neighbors, minus keeps
    val deg2 = e0.select(col("src").as("id"), col("dst").as("nbr"))
      .union(e0.select(col("dst").as("id"), col("src").as("nbr")))
      .distinct()
      .groupBy("id").agg(count(lit(1)).as("deg"))
      .filter(col("deg") === 2)
      .select(col("id"))
    val contractible = graft.operators.Pins.pin(keep.fold(deg2)(k =>
        deg2.join(k.select(col(k.columns.head).as("id")), Seq("id"), "left_anti")))
    // a legitimate endpoint→endpoint span visits each contractible node
    // at most once → hops ≤ nContractible + 1; anything longer wrapped a
    // pure ring and is dead weight from then on
    val maxHops = contractible.count() + 1
    var spans = e0.withColumn("__hops", lit(1L))
    var round = 0
    var extendable = 1L
    while (extendable > 0 && round < maxRounds) {
      val endsAtC = spans.join(contractible.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
      val stopped = spans.join(contractible.withColumnRenamed("id", "dst"), Seq("dst"), "left_anti")
      extendable = endsAtC.limit(1).count()
      if (extendable > 0) {
        // unique continuation: the outgoing edge of `dst` that doesn't
        // U-turn back to `src` (≤ 1 exists since dst has 2 neighbors)
        val cont = spans.select(
          col("src").as("c_src"), col("dst").as("c_dst"),
          col("dst_lon").as("c_dlon"), col("dst_lat").as("c_dlat"),
          col("meters").as("c_m"), col("sec").as("c_s"), col("__hops").as("c_h"))
        val extended = endsAtC
          .join(cont, endsAtC("dst") === cont("c_src") && cont("c_dst") =!= endsAtC("src"),
            "inner")
          .select(col("src"), col("c_dst").as("dst"),
            col("src_lon"), col("src_lat"),
            col("c_dlon").as("dst_lon"), col("c_dlat").as("dst_lat"),
            col("highway"),
            (col("meters") + col("c_m")).as("meters"),
            (col("sec") + col("c_s")).as("sec"),
            (col("__hops") + col("c_h")).as("__hops"))
          .filter(col("__hops") <= maxHops)
        spans = graft.operators.Pins.pin(
          stopped.unionByName(extended))
      }
      round += 1
    }
    // keep only endpoint→endpoint spans
    spans
      .join(contractible.withColumnRenamed("id", "src"), Seq("src"), "left_anti")
      .join(contractible.withColumnRenamed("id", "dst"), Seq("dst"), "left_anti")
      .select(cols.map(col): _*)
  }
}
