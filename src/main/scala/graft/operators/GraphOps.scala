package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative graph algorithms as join/agg rounds over an edge DataFrame —
  * the Pregel shape expressed declaratively (each superstep = one
  * shuffle-join of ranks onto edges + one aggregation of messages by
  * destination), in the family of the pointer-jumping connected
  * components in [[Dedup.clusters]] and the distributed SSSP in
  * [[graft.routing.RoadNetwork]].
  *
  * Determinism design: ranks are FIXED-POINT LONGS (scale 1e9), every
  * per-edge contribution is an integer division, and the damping step is
  * `(mass * 85) div 100` — all integer ops, so message sums are
  * order-independent and the result is bit-identical across partition
  * counts, retries, AND engines (the oracle replays the rounds in SQL).
  * Floating-point PageRank cannot hash-verify: double sums depend on
  * aggregation order.
  */
object GraphOps {

  /** One unit of rank in fixed-point (1e9 = rank 1.0). */
  val Scale = 1000000000L

  /** Damped PageRank over directed edges (`src`, `dst`), `iters`
    * synchronous rounds from a uniform start of 1.0 per node. Damping is
    * the classic 0.85 (teleport base 0.15); dangling-node mass is
    * dropped (the standard "ignore dangling" variant — documented
    * semantics, consistent in the SQL replay). Parallel edges collapse;
    * self-loops participate normally.
    *
    * Scale shape: per round, ONE shuffle joining ranks to edges on src
    * (edges can be pre-partitioned by src once and reused — the join key
    * never changes) and one groupBy dst with map-side partial sums of
    * long messages. Lineage grows linearly in rounds; for production
    * round counts persist+checkpoint every few rounds (the round-count
    * here is small and bounded, same envelope as
    * [[Dedup.clusters]]' O(log diameter) pointer-jumping).
    */
  def pageRank(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 50, s"bad iteration count $iters")
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select($"src", $"dst").distinct()
    val deg = e.groupBy($"src").agg(count(lit(1)).as("outdeg"))
    val eDeg = e.join(deg, "src")
    val nodes = e.select($"src".as("node"))
      .union(e.select($"dst".as("node"))).distinct()
    val base = (15L * Scale) / 100L // 0.15 in fixed-point
    var ranks = nodes.select($"node", lit(Scale).as("rank"))
    for (_ <- 1 to iters) {
      val mass = eDeg.join(ranks, eDeg("src") === ranks("node"))
        .select($"dst", expr("rank div outdeg").as("c"))
        .groupBy($"dst").agg(sum($"c").as("inmass"))
      ranks = nodes.join(mass, nodes("node") === mass("dst"), "left")
        .select($"node",
          (lit(base) + expr("(coalesce(inmass, 0L) * 85) div 100")).as("rank"))
    }
    ranks
  }

  /** Exact triangle enumeration via degree ordering (Suri &
    * Vassilvitskii 2011; the MPC-standard "node-iterator++"). Edges are
    * undirected (direction and duplicates collapse, self-loops drop) and
    * each surviving edge is ORIENTED from its lower-(degree, id) endpoint
    * to the higher one. Wedges are then generated by a self-join on the
    * oriented source and closed against the canonical edge set.
    *
    * Output: one row per triangle, endpoints sorted ascending
    * (`a < b < c`) — the exhaustive answer, not a count, so an oracle can
    * hash-verify membership of every triangle.
    *
    * Scale shape: orientation bounds every node's OUT-degree at
    * O(√m) — a degree-D hub contributes wedges only through neighbors of
    * degree ≥ D, of which there are at most 2m/D — so the wedge join's
    * fan-out is Σ outdeg² ≤ O(m^1.5) worst-case and near-linear on
    * power-law graphs, instead of the Σ deg² hub blow-up of the naive
    * self-join. Three shuffles total (degree groupBy, wedge self-join,
    * closing join); payloads are bare (long, long) pairs throughout.
    */
  /** k-core of an undirected graph by synchronous peeling: `rounds`
    * rounds of "drop every node of degree < k, and every edge touching
    * one" (Matula & Beck 1983; the distributed formulation of
    * Montresor et al. 2013). Once the survivor set is stable a round is
    * a no-op, so any `rounds` ≥ the peel depth yields THE k-core;
    * callers verify convergence by comparing `rounds` and `rounds+1`
    * (or observing the fixed point like [[graft.routing.RoadNetwork]]'s
    * pointer-jumping). Output: surviving nodes with their in-core
    * degree (all ≥ k at the fixed point).
    *
    * Determinism: pure set operations — no floats, no ordering
    * sensitivity — so results are identical across partition counts and
    * engines; the oracle replays the rounds as chained CTEs.
    *
    * Scale shape: per round one degree groupBy (map-side partial) and
    * two semi-joins of edges against the (shrinking) survivor set —
    * payloads are bare long pairs. Each round MATERIALIZES its edge set
    * (eager localCheckpoint): round i references round i−1 three times
    * (its own copy plus both sides of the degree union), so an unpruned
    * lineage is a 3^rounds plan tree and Catalyst analysis, not the
    * data, becomes the cost. On a cluster call
    * `sparkContext.setCheckpointDir` first: executor loss invalidates
    * localCheckpoint blocks, reliable checkpoint files survive it (see
    * [[Pins]]).
    */
  def kCore(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1 && rounds <= 50, s"bad k=$k rounds=$rounds")
    val spark = edges.sparkSession
    import spark.implicits._
    var e = Pins.pin(edges
      .select(least($"src", $"dst").cast("long").as("u"),
              greatest($"src", $"dst").cast("long").as("v"))
      .filter($"u" =!= $"v")
      .distinct())
    for (_ <- 1 to rounds) {
      val deg = e.select($"u".as("node")).union(e.select($"v".as("node")))
        .groupBy($"node").agg(count(lit(1)).as("deg"))
      val keep = deg.filter($"deg" >= k).select($"node")
      e = Pins.pin(e.join(keep.select($"node".as("u")), Seq("u"), "left_semi")
        .join(keep.select($"node".as("v")), Seq("v"), "left_semi")
        .select($"u", $"v"))
    }
    e.select($"u".as("node")).union(e.select($"v".as("node")))
      .groupBy($"node").agg(count(lit(1)).as("core_deg"))
  }

  /** Synchronous label propagation (Raghavan et al. 2007's LPA, the
    * deterministic synchronous variant) — the community detector the
    * dedup-pair graph wants at corpus scale: near-linear work per
    * round, no modularity matrix, clusters = the label fixed groups.
    *
    * Semantics: undirected simple graph (direction/duplicates collapse,
    * self-loops drop); every node starts labeled with itself; each
    * round every node adopts the label MOST FREQUENT among its
    * neighbors' previous-round labels, ties broken by the SMALLEST
    * label — the deterministic tie-break that makes the result
    * partition-, retry- and engine-independent (classic LPA breaks
    * ties randomly; this variant is replayable as chained SQL CTEs,
    * the [[pageRank]] convention). Synchronous updates can oscillate
    * on bipartite-ish structures; a fixed round count keeps even that
    * deterministic, and callers verify convergence by comparing
    * `rounds` and `rounds+1` (the [[kCore]] contract).
    *
    * Scale shape: per round ONE shuffle-join of labels onto the static
    * adjacency (same join key every round — co-partition/ReusedExchange
    * territory) and one two-level aggregation: (node, label) counts
    * with map-side partials, then an order-free integer argmax via
    * `min(struct(-count, label))`. Payloads are bare long pairs; round
    * frames pin like [[kCore]]'s (lineage control + executor-loss
    * trade documented there).
    */
  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 50, s"bad rounds $rounds")
    val spark = edges.sparkSession
    import spark.implicits._
    val e0 = edges
      .select(least($"src", $"dst").cast("long").as("u"),
              greatest($"src", $"dst").cast("long").as("v"))
      .filter($"u" =!= $"v")
      .distinct()
    // both directions: messages flow along every incidence
    val und = Pins.pin(e0.select($"u".as("a"), $"v".as("b"))
      .union(e0.select($"v".as("a"), $"u".as("b"))))
    val nodes = und.select($"a".as("node")).distinct()
    var labels = nodes.select($"node", $"node".as("label"))
    for (_ <- 1 to rounds) {
      val counts = und.join(labels, und("b") === labels("node"))
        .groupBy($"a", $"label").agg(count(lit(1)).as("c"))
      // order-independent argmax: lexicographic struct min over
      // (-count, label) = most frequent, then smallest label
      val best = counts.groupBy($"a")
        .agg(min(struct((lit(0L) - $"c").as("nc"), $"label".as("l"))).as("m"))
        .select($"a".as("node"), $"m.l".as("label"))
      // every node has a neighbor by construction (nodes come from
      // edges), but stay total: a node with no message keeps its label
      labels = Pins.pin(nodes.join(best, Seq("node"), "left")
        .select($"node", coalesce($"label", $"node").as("label")))
    }
    labels
  }

  def triangles(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges
      .select(least($"src", $"dst").cast("long").as("u"),
              greatest($"src", $"dst").cast("long").as("v"))
      .filter($"u" =!= $"v")
      .distinct()
    val deg = e.select($"u".as("node")).union(e.select($"v".as("node")))
      .groupBy($"node").agg(count(lit(1)).as("deg"))
    // orient low-(deg, id) → high-(deg, id); ties broken by id so the
    // orientation is a strict total order (every edge oriented exactly once)
    val o = e
      .join(deg.select($"node".as("u"), $"deg".as("du")), "u")
      .join(deg.select($"node".as("v"), $"deg".as("dv")), "v")
      .select(
        when($"du" < $"dv" || ($"du" === $"dv" && $"u" < $"v"), $"u").otherwise($"v").as("lo"),
        when($"du" < $"dv" || ($"du" === $"dv" && $"u" < $"v"), $"v").otherwise($"u").as("hi"))
    val wedges = o.as("e1").join(o.as("e2"),
        col("e1.lo") === col("e2.lo") && col("e1.hi") < col("e2.hi"))
      .select(col("e1.lo").as("pivot"), col("e1.hi").as("b"), col("e2.hi").as("c"))
    wedges
      .join(e, least($"b", $"c") === $"u" && greatest($"b", $"c") === $"v")
      .select(array_sort(array($"pivot", $"b", $"c")).as("t"))
      .select($"t"(0).as("a"), $"t"(1).as("b"), $"t"(2).as("c"))
  }
}
