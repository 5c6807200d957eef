package perfbench

import java.nio.file.Path

import graft.jobs.CalculateTimes
import graft.operators.Dedup
import graft.routing._
import graft.sources.PointerCatalog
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.FileSourceScanExec

/** What one operation hands back: its item count and the independent check
  * of its output, run outside the timed region.
  */
final case class Done(items: Long, check: () => Unit)

/** A workload: a set-up that can be repeated from scratch, and a round of
  * operations every run repeats whole.
  */
trait Workload {
  /** Builds everything the operations need under `dir`, and returns the
    * independent check of what it built, run after set-up is timed.
    */
  def setup(dir: Path): () => Unit
  def opsPerRound: Int
  def warmupRounds: Int
  /** Operation `k` of a round; anything it writes goes under `dir`. */
  def op(k: Int, dir: Path): Done
  /** Bytes set-up stored per item. */
  def storedBytesPerItem: Double
  /** Per-layer metrics of layers only set-up exercises: a traced run reads
    * them from its traced set-up, not from the operations.
    */
  def setupLayers: Set[String] = Set.empty
  /** Per-layer metrics read from [[tracedExtra]] alone. */
  def extraLayers: Set[String] = Set.empty
  /** A call made in traced rounds only, traced as an operation of its own
    * ahead of each traced operation.
    */
  def tracedExtra(): Unit = ()
}

object Workloads {
  val names = Seq("lookup", "dedup")

  def apply(name: String, spark: SparkSession, seed: Long, tr: Trace): Workload = name match {
    case "lookup" => new Lookup(spark, seed, tr)
    case "dedup" => new DedupW(spark, seed, tr)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  val Partition = Map("version" -> "0.0.1", "mode" -> "car", "year" -> "2024",
    "geography" -> "county", "centroid_type" -> "weighted")

  /** What `CalculateTimes.run` must publish for `od` with `SyntheticRouter`
    * and `GridSnapper`; durations are exact, since the closed form repeats
    * the router's IEEE operations.
    */
  def expect(od: Gen.OdSet): Check.Expect =
    Check.Expect(od.origins.map(_.id), od.dests.map(_.id), od.durationOf, Partition)

  def treeDirs(r: CalculateTimes.Result): Seq[String] =
    Seq(r.timesDir, r.missingDir, r.pointsDir, r.metadataDir)

  def ds(spark: SparkSession, ps: Seq[RawPoint]): Dataset[RawPoint] = {
    import spark.implicits._
    spark.createDataset(ps)
  }

  /** Plan nodes of the final adaptive plan, subqueries included. */
  object Plans extends AdaptiveSparkPlanHelper {
    def nodes(p: SparkPlan): Seq[SparkPlan] = collectWithSubqueries(p) { case n => n }
  }
}
import Workloads._

/** Consumer queries over views attached from a pointer catalog, against a
  * tree published during set-up: pair, origin, destination-only (bloom
  * filter) and times ⋈ points lookups.
  */
final class Lookup(spark: SparkSession, seed: Long, tr: Trace) extends Workload {
  private var od: Gen.OdSet = _
  private var queries: IndexedSeq[Gen.Query] = _
  private var bytesPerPair = 0.0

  /** Publishes the served tree with `CalculateTimes.run` (so the flagship
    * job's cost shows in this workload's `setup_s`) and attaches its four
    * tables from a pointer catalog. Planted island ids make whole routing
    * blocks fail, so the quadtree split runs down to single pairs.
    */
  def setup(dir: Path): () => Unit = {
    od = Gen.odSet(seed, nO = 600, nD = 400, nIslandO = 5, nIslandD = 4)
    val (io, id) = (od.islandO, od.islandD)
    val res = tr.span("call", "jobs.CalculateTimes.run", "jobs.calculate_ms") {
      CalculateTimes.run(spark, ds(spark, od.origins), ds(spark, od.dests),
        tr.snapper(new GridSnapper(od.noSnapAboveLat)),
        tr.router(new SyntheticRouter(od.speedMps, p => io.contains(p.id), p => id.contains(p.id))),
        CalculateTimes.Config(oSplit = 100, dSplit = 100, maxDepth = 12, outDir = dir.resolve("tree").toString),
        failpoint = tr.failpoint)
    }
    val catalog = dir.resolve("catalog.tsv").toString
    PointerCatalog.save(catalog, Map("times" -> res.timesDir, "points" -> res.pointsDir,
      "missing_pairs" -> res.missingDir, "metadata" -> res.metadataDir))
    PointerCatalog.attach(spark, catalog)
    val sizes = Check.fileSizes(treeDirs(res))
    tr.add("sources.bytes_written", sizes.sum.toDouble)
    tr.add("sources.files_written", sizes.size.toDouble)
    bytesPerPair = sizes.sum.toDouble / od.nPairs
    queries = Gen.lookupRound(seed + 1, od, perKind)
    val want = expect(od)
    () => Check.published(res, want)
  }
  // query times differ by a fifth from one id to another, so a round
  // samples many ids to keep the median from depending on the seed
  private val perKind = 8
  val opsPerRound = 4 * perKind
  // query times fall for about 250 queries as the JIT compiles (a round
  // median of 70 ms in the first round, about 46 ms from the eighth on);
  // measuring earlier made the run's median depend on how far compilation
  // had got
  val warmupRounds = 8
  def storedBytesPerItem: Double = bytesPerPair

  // the operations only read: the job, routing, the write side of
  // `sources` and the stages they start show in the traced set-up
  override val setupLayers: Set[String] = Set(
    "jobs.calculate_ms", "jobs.commit_ms",
    "routing.router_calls", "routing.router_busy_ms", "routing.router_ok_ratio",
    "routing.snap_busy_ms", "routing.snap_points",
    "sources.bytes_written", "sources.files_written", "sources.fs_renames", "sources.fs_write_ops",
    "spark.stage_ms.jobs", "spark.stage_ms.routing", "spark.stage_ms.sources")

  private val keys = Partition.map { case (k, v) => s"t.$k = '$v'" }.mkString(" AND ")
  private def st(id: String) = s"t.state = '${id.substring(7, 9)}'"

  /** SQL and the expected rows, as sorted strings, from the closed form. */
  private def plan(q: Gen.Query): (String, Seq[String]) = {
    def dur(o: String, d: String) = od.durationOf(o, d)
    q match {
      case Gen.PairQ(o, d) =>
        (s"SELECT t.origin_id, t.destination_id, t.duration_sec FROM times t WHERE $keys AND ${st(o)} " +
          s"AND t.origin_id = '$o' AND t.destination_id = '$d'",
          dur(o, d).map(v => s"$o,$d,$v").toSeq)
      case Gen.OriginQ(o) =>
        (s"SELECT t.origin_id, t.destination_id, t.duration_sec FROM times t WHERE $keys AND ${st(o)} " +
          s"AND t.origin_id = '$o'",
          od.dests.flatMap(d => dur(o, d.id).map(v => s"$o,${d.id},$v")))
      case Gen.DestQ(d) =>
        (s"SELECT t.origin_id, t.destination_id, t.duration_sec FROM times t WHERE t.destination_id = '$d'",
          od.origins.flatMap(o => dur(o.id, d).map(v => s"${o.id},$d,$v")))
      case Gen.JoinQ(o) =>
        (s"SELECT t.origin_id, t.destination_id, t.duration_sec, p.lon, p.lat FROM times t " +
          s"JOIN points p ON p.id = t.destination_id WHERE $keys AND ${st(o)} AND t.origin_id = '$o' " +
          "AND p.point_type = 'destination'",
          od.dests.flatMap(d => dur(o, d.id).map(v => s"$o,${d.id},$v,${d.lon},${d.lat}")))
    }
  }

  def op(k: Int, dir: Path): Done = {
    val q = queries(k)
    val (sql, want) = plan(q)
    val rows = tr.span("call", s"sql.${q.kind}") {
      val df = spark.sql(sql)
      if (!tr.enabled) df.collect()
      else {
        tr.span("plan", "plans.executedPlan", "plans.plan_ms")(df.queryExecution.executedPlan)
        val rows = tr.span("exec", "collect", "plans.exec_ms")(df.collect())
        val scans = Plans.nodes(df.queryExecution.executedPlan).collect { case s: FileSourceScanExec => s }
        def m(k: String) = scans.flatMap(_.metrics.get(k)).map(_.value.toDouble).sum
        tr.add("sources.files_read", m("numFiles"))
        tr.add("sources.rows_scanned", m("numOutputRows"))
        tr.add("sources.rows_returned", rows.length.toDouble)
        rows
      }
    }
    Done(1, () => {
      val got = rows.map(_.toSeq.mkString(",")).sorted.toSeq
      Check.require(got == want.sorted,
        s"${q.kind} query '$sql' returned ${got.take(3)} (${got.size} rows), closed form ${want.sorted.take(3)} (${want.size} rows)")
    })
  }
}

/** MinHash near-duplicate detection over planted clusters: the operator
  * library, sharing no work with the travel-time job.
  */
final class DedupW(spark: SparkSession, seed: Long, tr: Trace) extends Workload {
  private var corpus: Gen.Corpus = _
  private var docs: DataFrame = _
  private var want: Map[(String, String), Double] = _
  private var sigBytesPerDoc = 0.0

  def setup(dir: Path): () => Unit = {
    import spark.implicits._
    corpus = Gen.corpus(seed, clusters = 20, words = 300, edits = 2)
    docs = corpus.docs.toDF("doc_id", "text")
    val text = corpus.docs.toMap
    want = corpus.expectedPairs.map { case (a, b) => (a, b) -> Gen.jaccard(text(a), text(b)) }.toMap
    // the persistable signature artifact a rolling ingest keeps per document
    val sigDir = dir.resolve("signatures").toString
    Dedup.minhashSignatures(docs).write.mode("overwrite").option("compression", "zstd").parquet(sigDir)
    val sizes = Check.fileSizes(Seq(sigDir))
    tr.add("sources.bytes_written", sizes.sum.toDouble)
    tr.add("sources.files_written", sizes.size.toDouble)
    sigBytesPerDoc = sizes.sum.toDouble / corpus.docs.size
    val ids = corpus.docs.map(_._1)
    () => Check.signatures(sigDir, ids, bands = 16)
  }
  val opsPerRound = 1
  // operation times fall for about a dozen calls as the JIT compiles
  val warmupRounds = 12
  def storedBytesPerItem: Double = sigBytesPerDoc

  // only set-up writes: the signature artifact
  override val setupLayers: Set[String] = Set(
    "sources.bytes_written", "sources.files_written", "sources.fs_renames", "sources.fs_write_ops")
  override val extraLayers: Set[String] = Set("operators.signature_ms")

  /** The signature stage alone, forced through a no-op sink. */
  override def tracedExtra(): Unit =
    tr.span("call", "operators.Dedup.minhashSignatures", "operators.signature_ms") {
      Dedup.minhashSignatures(docs).write.format("noop").mode("overwrite").save()
    }

  def op(k: Int, dir: Path): Done = {
    val pairs = tr.span("call", "operators.Dedup.minhashPairs") {
      val df = Dedup.minhashPairs(docs)
      val rows = df.collect()
      if (tr.enabled) {
        // LSH candidates: the distinct (id_a, id_b) aggregate ahead of verification
        val cand = Plans.nodes(df.queryExecution.executedPlan).collect {
          case h: HashAggregateExec if h.aggregateExpressions.isEmpty &&
              h.requiredChildDistributionExpressions.isDefined &&
              h.groupingExpressions.map(_.references.head.name) == Seq("id_a", "id_b") =>
            h.metrics("numOutputRows").value.toDouble
        }.sum
        tr.add("operators.candidates", cand)
        tr.add("operators.verified_pairs", rows.length.toDouble)
      }
      rows
    }
    Done(corpus.docs.size, () => Check.dedup(pairs.map(r => (r.getString(0), r.getString(1), r.getDouble(2))), want))
  }
}
