package graft

import graft.jobs.Pipeline
import graft.schemas.Schemas
import graft.sources.TableIO
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The DVC-graph driver (dvc.yaml:1-150 re-expressed): full national run
  * on fixtures, content-addressed skip, transitive invalidation, and the
  * reference's inter-stage invariants.
  */
class PipelineSpec extends AnyFunSuite {
  import SparkTestSession._

  private val root = "/tmp/graft_pipeline_spec"

  private lazy val firstRun = {
    org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(root), true)
    val stages = Pipeline.national(spark,
      Pipeline.NationalConfig(fixtureDir = sf0001, root = root,
        clipBufferMeters = 250000.0))
    Pipeline.repro(spark, s"$root/_stages", stages)
  }

  private def stages = Pipeline.national(spark,
    Pipeline.NationalConfig(fixtureDir = sf0001, root = root,
      clipBufferMeters = 250000.0))

  test("first repro runs every stage; all invariants hold") {
    assert(firstRun.forall(_.ran), firstRun.filterNot(_.ran).map(_.name).toString)
    assert(firstRun.map(_.name) == Seq(
      "fetch_tiger", "fetch_blockpop", "fetch_osm", "create_blockloc",
      "create_cenloc", "create_osmclip", "create_osmextract",
      "create_destpoint", "calculate_times", "publish_index",
      "create_tiles"))
  }

  test("second repro skips every stage (content-addressed, dvc semantics)") {
    firstRun
    val second = Pipeline.repro(spark, s"$root/_stages", stages)
    assert(second.forall(r => !r.ran), second.filter(_.ran).map(_.name).toString)
  }

  test("a missing output re-runs exactly the dirty suffix of the graph") {
    firstRun
    Pipeline.repro(spark, s"$root/_stages", stages) // ensure settled
    // blow away blockloc: blockloc re-runs; its rewrite re-hashes its
    // output (fresh part files), so cenloc → destpoint → times →
    // publish re-run transitively; the fetch stages and osmclip (which
    // depends only on tiger) must skip
    org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(s"$root/intermediate/blockloc"), true)
    val third = Pipeline.repro(spark, s"$root/_stages", stages)
    val ran = third.filter(_.ran).map(_.name).toSet
    assert(ran == Set("create_blockloc", "create_cenloc", "create_destpoint",
      "calculate_times", "publish_index", "create_tiles"), ran.toString)
  }

  test("force re-runs the named stage even when clean") {
    firstRun
    Pipeline.repro(spark, s"$root/_stages", stages)
    val forced = Pipeline.repro(spark, s"$root/_stages", stages,
      force = Set("create_cenloc"))
    assert(forced.find(_.name == "create_cenloc").exists(_.ran))
    assert(!forced.find(_.name == "fetch_tiger").exists(_.ran))
  }

  test("pair conservation and state-partitioned publish hold end-to-end") {
    firstRun
    val times = TableIO.readPartitioned(spark, s"$root/output/times")
    val nMissing = Pipeline.countPartitioned(spark, s"$root/output/missing_pairs", Schemas.missingPairs)
    val meta = spark.read.parquet(s"$root/output/metadata").head
    val n = times.count() + nMissing
    assert(n == meta.getAs[Long]("calc_n_pairs"))
    val nOrigins = meta.getAs[Long]("calc_n_origins")
    assert(nOrigins >= 3, s"destpoint kept only $nOrigins geographies")
    assert(n == nOrigins * meta.getAs[Long]("calc_n_destinations"))
    // routed durations exist and the grid distance is sane (all points
    // on one connected grid: nothing can go missing)
    assert(nMissing == 0)
    assert(times.filter(col("duration_sec").isNull).isEmpty)
    // the consumer index lists the published files with real row counts
    val idx = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/output/index/times.json")), "UTF-8")
    val idxRows = """"rows":(\d+)""".r.findFirstMatchIn(idx).map(_.group(1).toLong)
    assert(idxRows.contains(times.count()))
  }

  test("create_tiles: zoom-partitioned pyramid + per-mode file-count index") {
    firstRun
    val tiles = spark.read.parquet(s"$root/output/tiles")
    // zoom is the physical partition key (tile-server pruning)
    assert(tiles.columns.contains("zoom"))
    assert(tiles.select("zoom").distinct().count() == 9) // z2..z10
    // kept-only rows, cap respected
    assert(tiles.filter(!col("kept")).isEmpty)
    assert(tiles.filter(col("rnk") > 64).isEmpty)
    // quadkey depth == zoom
    assert(tiles.filter(length(col("quadkey")) =!= col("zoom")).isEmpty)
    // index JSON: mode -> state -> parquet file count over the published tree
    val idx = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/output/tiles_index.json")), "UTF-8")
    assert(idx.startsWith("""{"car": {"""), idx)
    val total = """: (\d+)""".r.findAllMatchIn(idx).map(_.group(1).toInt).sum
    val f = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val it = f.listFiles(new org.apache.hadoop.fs.Path(s"$root/output/times"), true)
    var nParquet = 0
    while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) nParquet += 1 }
    assert(total == nParquet, s"index total $total vs $nParquet files")
  }

  test("mode sweep: the foot pipeline publishes walking times (exact 6.4x car, dyadic)") {
    firstRun
    val footRoot = "/tmp/graft_pipeline_foot"
    org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(footRoot), true)
    Pipeline.repro(spark, s"$footRoot/_stages", Pipeline.national(spark,
      Pipeline.NationalConfig(fixtureDir = sf0001, root = footRoot,
        clipBufferMeters = 250000.0, mode = "foot")))
    def pairs(dir: String) = TableIO.readPartitioned(spark, dir)
      .select("origin_id", "destination_id", "duration_sec", "mode")
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getDouble(2), r.getString(3))).toMap
    val car = pairs(s"$root/output/times")
    val foot = pairs(s"$footRoot/output/times")
    assert(foot.keySet == car.keySet)
    // same residential grid, car 8.0 m/s vs foot 1.25 m/s: every walking
    // time is 6.4x the driving time (per-hop exactly; path sums can
    // differ in the last ulp because the two Dijkstras settle nodes in
    // different orders, so compare at 1e-12 relative)
    foot.foreach { case (k, (fd, fm)) =>
      assert(fm == "foot")
      val want = car(k)._1 * 6.4
      assert(math.abs(fd - want) <= 1e-12 * math.max(1.0, want),
        s"$k: foot $fd vs car ${car(k)._1}")
    }
  }
}
