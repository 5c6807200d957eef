package graft

import org.apache.spark.sql.catalyst.expressions.{ArrayTransform, ScalaUDF}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.optimizer.BuildRight
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape assertions: the optimizations the engine's 100 TB story
  * depends on must be visible in the physical plan, not assumed.
  */
class PlanSpec extends AnyFunSuite {
  import SparkTestSession._

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf0001)
    df.collect() // finalize AQE so codegen stages are visible
    df.queryExecution.executedPlan.toString
  }

  test("q02: filters and projection reach the parquet scan") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters:"), p.take(800))
    assert(p.contains("p_size"), "p_size filter not pushed")
    // scan must not read columns the query doesn't use
    assert(!p.contains("p_brand"), "unpruned column p_brand in scan")
  }

  test("q03/q20: dimension joins broadcast (no fact-side shuffle for dims)") {
    assert(plan("q03_join_dims").contains("BroadcastHashJoin"))
    assert(plan("q20_fact_join").contains("BroadcastHashJoin"))
  }

  test("q11: global top-k plans as TakeOrderedAndProject (no full sort)") {
    assert(plan("q11_topk_global").contains("TakeOrderedAndProject"))
  }

  test("q01: aggregation runs inside whole-stage codegen with partial aggregation") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("*(1) HashAggregate"), "partial agg not codegen'd") // *(n) = codegen stage
    assert(p.contains("partial_"), "no map-side partial aggregation")
  }

  test("q71: dims broadcast, filters pushed, top-10 is TakeOrderedAndProject") {
    val p = plan("q71_shipping_priority")
    assert(p.contains("TakeOrderedAndProject(limit=10"))
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"), "segment filter not pushed to scan")
    assert(p.contains("partial_sum"), "no map-side partial aggregation")
  }

  test("q80: the disjunction splits per side and reaches both parquet scans") {
    val p = plan("q80_disjunctive_rev")
    // part side: OR of (brand,size) conjuncts pushed; lineitem side: OR of
    // quantity windows pushed — neither scan reads unfiltered rows
    assert(p.contains("Or(Or(And(EqualTo(p_brand"), "part-side OR not pushed:\n" + p.take(2000))
    assert(p.contains("Or(Or(And(GreaterThanOrEqual(l_quantity"), "lineitem-side OR not pushed")
  }

  test("q82: EXISTS / NOT EXISTS plan as semi and anti hash joins with non-equi conditions") {
    val p = plan("q82_waiting_supplier")
    assert(p.contains("LeftSemi"), p.take(1500))
    assert(p.contains("LeftAnti"))
    assert(p.contains("TakeOrderedAndProject(limit=20"))
  }

  test("q86: band join is an equi hash join on the bucket key, never a nested-loop") {
    val p = plan("q86_band_join")
    assert(p.contains("HashJoin [bkt"), "bucket equi-join missing:\n" + p.take(1500))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "band join degenerated to a cross product")
  }

  test("q89: the naive inequality join is rewritten by BandJoinRule (no nested loop)") {
    val p = plan("q89_band_join_auto")
    assert(p.contains("_graft_bkt"), "BandJoinRule did not fire:\n" + p.take(1200))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("q44: vec_dot is codegen'd (no UDF/eval fallback in the similarity path)") {
    val p = plan("q44_cosine_topk")
    assert(p.contains("vec_dot"), p.take(1200))
    assert(p.contains("*("), "no codegen stages")
    // top-k via window must use the group-limit optimization, not a full rank
    assert(p.contains("WindowGroupLimit"))
  }

  test("q94: near-dup candidates come from the banded equi-join, not an all-pairs product") {
    val p = plan("q94_lsh_neardup")
    assert(!p.contains("CartesianProduct"), "near-dup default path fell back to all-pairs")
    assert(p.contains("vec_dot"), "prefilter signature is not the codegen dot product")
  }

  test("q94: at shuffle scale the banded self-join reuses the signature exchange (single pass)") {
    // At fixture scale AQE may broadcast the tiny banded frame (fine —
    // signatures are cheap there). The 100 TB contract is the SHUFFLE
    // plan: both self-join sides canonicalize to the same exchange, so
    // the 128-projection signature stage runs once. Pin that path by
    // disabling broadcast, as a big corpus would.
    // own session: isolated SQLConf so parallel suites can't race this
    // conf (suites share one SparkContext)
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // AQE off: the cache manager is shared across sessions, and AQE's
    // between-stage re-planning re-applies cache substitution — if a
    // parallel suite caches the embeddings table mid-query, one self-join
    // side picks up InMemoryRelation and the exchanges stop canonicalizing
    // equal. Static planning substitutes the cache once for the whole
    // tree, so ReuseExchange fires deterministically.
    s.conf.set("spark.sql.adaptive.enabled", "false")
    val df = SparkEntry.queries("q94_lsh_neardup")(s, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange"),
      "banded self-join did not reuse the signature exchange:\n" + p.take(2000))
  }

  test("q41: at shuffle scale the minhash banded self-join reuses the signature exchange") {
    // Same 100 TB contract as the q94 pin: the 64-min signature aggregate
    // is the expensive stage, and the banded candidate self-join must
    // ride ONE exchange of it (canonicalization-equal sides), not compute
    // it twice. Broadcast off = the big-corpus plan; AQE off = immune to
    // a parallel suite caching the docs table mid-query (see q94 note).
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    val df = SparkEntry.queries("q41_dedup_minhash")(s, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange"),
      "minhash banded self-join did not reuse the signature exchange:\n" + p.take(2000))
  }

  test("minhash verify join: gram arrays broadcast when tiny, sort-merge above threshold") {
    // The operators carry no join hints: the session's static broadcast
    // threshold decides, and AQE may only broadcast what measured
    // shuffle bytes allow. Own sessions: isolated SQLConf (see q94).
    object Aqe extends AdaptiveSparkPlanHelper
    def grams(p: SparkPlan) = p.output.exists(a => a.name == "ga" || a.name == "gb")
    def broadcastGrams(p: SparkPlan) = Aqe.collect(p) {
      case j: BroadcastHashJoinExec
          if grams(if (j.buildSide == BuildRight) j.right else j.left) => j
    }
    def mergeGrams(p: SparkPlan) = Aqe.collect(p) {
      case j: SortMergeJoinExec if grams(j.left) || grams(j.right) => j
    }
    def run(s: org.apache.spark.sql.SparkSession) = {
      val df = graft.operators.Dedup.minhashPairs(Tables.documents(s, sf0001))
      df.collect()
      df.queryExecution.executedPlan.asInstanceOf[AdaptiveSparkPlanExec]
    }
    val tiny = run(spark.newSession())
    assert(broadcastGrams(tiny.executedPlan).size == 2,
      "a tiny corpus must broadcast both gram-array sides:\n" + tiny.executedPlan)
    // a threshold below the corpus scan's own estimate: the planner
    // picks sort-merge, and the measured gram arrays (larger than the
    // compressed-scan estimate) keep AQE from broadcasting them later
    val s = spark.newSession()
    val scanEst = Tables.documents(s, sf0001).queryExecution.optimizedPlan.stats.sizeInBytes
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", (scanEst / 8).toString)
    val big = run(s)
    assert(mergeGrams(big.initialPlan).size == 2,
      "gram-array joins must plan sort-merge:\n" + big.initialPlan)
    assert(broadcastGrams(big.executedPlan).isEmpty,
      "AQE must not broadcast a gram-array side:\n" + big.executedPlan)
  }

  test("minhash: gram sets and band buckets are codegen'd kernels (no UDF, lambda or eval fallback)") {
    object Aqe extends AdaptiveSparkPlanHelper
    val df = graft.operators.Dedup.minhashPairs(Tables.documents(spark, sf0001))
    df.collect()
    val nodes = Aqe.collect(df.queryExecution.executedPlan) { case p => p }
    val exprs = nodes.flatMap(_.expressions.flatMap(_.collect { case e => e }))
    assert(exprs.exists(_.isInstanceOf[graft.plans.MinHashBands]), nodes.mkString("\n"))
    assert(exprs.exists(_.isInstanceOf[graft.plans.WordNGrams]))
    val slow = exprs.filter(e => e.isInstanceOf[ScalaUDF] || e.isInstanceOf[ArrayTransform] ||
      e.isInstanceOf[CodegenFallback])
    assert(slow.isEmpty, slow.mkString("\n"))
    // both kernels run inside whole-stage codegen
    def inCodegen(kernel: Class[_]) = nodes.exists {
      case w: WholeStageCodegenExec =>
        w.child.exists(_.expressions.exists(_.exists(kernel.isInstance)))
      case _ => false
    }
    assert(inCodegen(classOf[graft.plans.MinHashBands]) &&
      inCodegen(classOf[graft.plans.WordNGrams]), nodes.mkString("\n"))
  }

  test("q109: duplicated spans plan is one gram exchange, no join, no cartesian") {
    val p = plan("q109_duplicated_spans")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(800))
    // the cross-doc test is a single gram-partitioned window (min!=max)
    // — NOT the aggregate+semi-join shape, which shuffled the window
    // expansion twice and re-exploded the texts for the second pass
    assert(p.contains("Window"), "cross-doc test must be the windowed shape")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "no join should remain in the spans plan:\n" + p.take(1200))
    // AQE's toString appends the pre-adaptive plan after "== Initial
    // Plan ==" — count exchanges in the FINAL plan section only
    val finalSection = p.split("== Initial Plan ==")(0)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(finalSection).size
    assert(exchanges == 1, s"expected exactly one gram exchange, got $exchanges")
  }

  test("q102: way-to-edge expansion joins node coordinates by hash equi-join, no nested loop") {
    val p = plan("q102_osm_edges")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(800))
    // the per-row pair expansion must be a generate, not a join
    assert(p.contains("Generate"), "consecutive-ref expansion not per-row")
  }

  test("q92: spatial candidates come from a hash equi-join on the grid cell, never a polygon scan") {
    val p = plan("q92_spatial_grid_join")
    assert(p.contains("BroadcastHashJoin") || p.contains("ShuffledHashJoin")
      || p.contains("SortMergeJoin"), p.take(1200))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "spatial join fell back to a nested loop")
    assert(p.contains("__cx") && p.contains("__cy"), "join key is not the grid cell")
    // overlap resolution is a min_by aggregation (one shuffle, map-side
    // partial agg), not a per-point window over a synthetic id
    assert(!p.contains("Window"), "grid join still resolves overlaps with a window:\n" + p.take(1500))
    assert(p.contains("min_by"), "first-match not a min_by aggregate")
  }

  test("q112: benchmark gram set broadcasts — the corpus side never shuffles for the join") {
    val p = plan("q112_contamination")
    assert(p.contains("BroadcastHashJoin"), "bench grams not broadcast:\n" + p.take(1200))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q118: exact-size sample plans as TakeOrderedAndProject, not a full sort") {
    assert(plan("q118_sample_exact").contains("TakeOrderedAndProject"))
  }

  test("q115: the composed mix keeps every stage's contract (broadcasts, no product, parallel window)") {
    val p = plan("q115_training_mix")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(1200))
    assert(p.contains("BroadcastHashJoin"), "bench gram set / flagged set not broadcast")
    assert(p.contains("windowspecdefinition(__pid"),
      "packing stage lost the partitioned prefix sum")
    assert(!p.contains("SinglePartition"), "a stage collapsed to one partition")
  }

  test("q125: the leak set reaches the corpus as a broadcast left join (corpus side unshuffled)") {
    val p = plan("q125_leakage_split")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // the OUTERMOST join (first in the plan dump) is the corpus⨝leak-set
    // join: it must be a broadcast LeftOuter — a sort-merge here would
    // mean the whole corpus shuffled for a dup-scale right side
    val firstJoin = Seq("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
      .map(k => (p.indexOf(k), k)).filter(_._1 >= 0).minBy(_._1)
    assert(firstJoin._2 == "BroadcastHashJoin", s"outermost join is ${firstJoin._2}:\n" + p.take(1500))
    assert(p.substring(firstJoin._1, math.min(p.length, firstJoin._1 + 200))
      .contains("LeftOuter"), "outermost broadcast join is not the left-outer split join")
  }

  test("q114: the running sum is a partitioned window, never a single-partition sort") {
    val p = plan("q114_pack_sequences")
    // the cumsum window must be keyed by the range-partition id (parallel),
    // not an empty partition spec (which Spark plans as Exchange SinglePartition)
    assert(p.contains("windowspecdefinition(__pid"),
      "prefix sum is not partition-local:\n" + p.take(1500))
    assert(!p.contains("SinglePartition"),
      "global-order window collapsed the stream to one partition:\n" + p.take(1500))
    // r12: the range-partitioned narrow frame is pinned (its two
    // consumers — the window pass and the totals collect — otherwise
    // re-ran the whole upstream chain, and the pin freezes the range
    // boundaries the __pid↔offset match relies on), so the final plan
    // reads the checkpoint RDD — assert the pin is present. The
    // range-partitioning itself is no longer visible in this plan (it
    // lives in the pinned build); its SEMANTICS are guarded by the
    // q114/q115 oracle hashes, which are order-sensitive through the
    // cumulative sum and would fail on any non-range repartition.
    assert(p.contains("Scan ExistingRDD"),
      "prefix sum input is not pinned (checkpoint scan missing):\n" +
        p.take(1500))
    // r12 ADVICE: "Scan ExistingRDD" alone is satisfied by ANY
    // localCheckpoint — keep a fast unit-level guard on the PINNED
    // BUILD's shape too: the pre-pin frame must range-partition by the
    // order key (a non-range repartition would only be caught by the
    // slower oracle-hash gates).
    val spark2 = spark
    import spark2.implicits._
    val build = graft.operators.TrainingPrep.prefixSumParts(
      Seq((1L, 2L), (3L, 4L)).toDF("doc_id", "ntok"),
      org.apache.spark.sql.functions.col("doc_id"))
    val bp = build.queryExecution.sparkPlan.toString
    assert(bp.contains("rangepartitioning(doc_id"),
      "prefix sum's pinned build is not range-partitioned by the order key:\n" +
        bp.take(1500))
  }

  test("q133/q134: similarity and interval joins never plan a nested loop") {
    Seq("q133_prefix_jaccard", "q134_interval_join").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q planned a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q planned a nested loop")
    }
  }

  test("q136: the triangle wedge join is a hash equi-join, never a product") {
    val p = plan("q136_triangles")
    assert(!p.contains("CartesianProduct"), "wedge join planned a cartesian product")
    assert(!p.contains("BroadcastNestedLoopJoin"), "wedge join planned a nested loop")
  }

  test("q137: the per-stratum quota cut pushes down as WindowGroupLimit") {
    assert(plan("q137_stratified_sample").contains("WindowGroupLimit"),
      "stratified sample did not plan the map-side k-row cut")
  }

  test("q166: grid-cluster adjacency is an equi hash join, never a product") {
    val p = plan("q166_grid_clusters")
    assert(!p.contains("CartesianProduct"), "adjacency planned a cartesian product")
    assert(!p.contains("BroadcastNestedLoopJoin"), "adjacency planned a nested loop")
  }

  test("q164: centroid sums partial-aggregate map-side; no vector shuffle") {
    val p = plan("q164_label_centroids")
    assert(p.contains("partial"), "no map-side partial aggregation in the centroid sum")
  }

  test("q159/q165: AS-OF reads and band tagging broadcast their small side") {
    // q159's fixture expands probes via a 3-row literal cross join — a
    // broadcast nested loop of a constant frame is fine; what must never
    // appear is an unpartitioned CartesianProduct, and the dimension
    // lookup itself must be a broadcast hash join on the key.
    Seq("q159_temporal_asof", "q165_quantile_bins").foreach { q =>
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q did not broadcast the small side")
      assert(!p.contains("CartesianProduct"), s"$q planned a cartesian product")
    }
  }

  test("q161: the MV rewrite survives to the physical plan (view scan, no aggregate)") {
    // at sf0.001 the q161 build registers the view then aggregates the
    // base — the physical plan must be a scan+project over the MV
    // parquet, with NO HashAggregate over the documents scan
    val p = plan("q161_mv_rewrite")
    assert(p.contains("graft_mv_docs"), s"view scan missing:\n${p.take(1200)}")
    assert(!p.contains("documents.parquet"), "rewritten plan still scans the base")
  }

  test("q147: the native as-of join plans AsOfJoinExec — no union, no window, no product") {
    val p = plan("q147_asof_native")
    assert(p.contains("AsOfJoin"), "custom strategy did not fire")
    assert(!p.contains("Window"), "native as-of must not fall back to the window sweep")
    assert(!p.contains("Union"), "native as-of must not union the sides")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "native as-of must never plan a product")
  }
}
