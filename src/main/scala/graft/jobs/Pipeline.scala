package graft.jobs

import graft.etl.{Centroids, Destpoint, OsmClip}
import graft.geo.{Geometry, Tiles}
import graft.routing._
import graft.schemas.Schemas
import graft.sources.{GeoJson, OsmPbf, Shapefile, TableIO}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The reference's DVC dependency graph run in-engine — `dvc repro` over
  * `data/dvc.yaml:1-150` (fetch_tiger → fetch_blockpop → create_blockloc
  * → create_cenloc → create_osmclip → create_osmextract →
  * create_destpoint → calculate_times → publish) without the DVC
  * process: stages declare dep/out paths, a content digest of the deps
  * decides skip-vs-run, and the reference's inter-stage invariants
  * (row conservation, no-null keys, pair-count conservation) run as
  * declared checks.
  *
  * Skip semantics match DVC's: a stage re-runs iff the content hash of
  * its declared deps changed (or an out is missing). Because an upstream
  * stage that re-runs rewrites its outputs (new part files), downstream
  * hashes change transitively — edits anywhere in the graph re-run
  * exactly the dirty suffix.
  *
  * Everything here is driver-side orchestration of lazy Spark jobs: the
  * ledger I/O is metadata-scale, the stages themselves are the engine's
  * distributed operators.
  */
object Pipeline {

  final case class Stage(
      name: String,
      deps: Seq[String],
      outs: Seq[String],
      run: () => Unit,
      check: () => Unit = () => ())

  final case class StageResult(name: String, ran: Boolean, depMd5: String)

  private def fs(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Row count of a published partitioned table read with its registry
    * `schema`: a tree where no rows ever landed (only _SUCCESS — what a
    * fully-routable run's missing_pairs looks like) counts 0, and an
    * absent tree throws instead of reading as empty.
    */
  def countPartitioned(spark: SparkSession, dir: String, schema: StructType): Long =
    TableIO.readPartitioned(spark, dir, Some(schema)).count()

  /** Stable digest of a path (file or directory) for change detection.
    *
    * Default (`deep = false`): md5 over the sorted manifest of every
    * non-hidden file's (relative path, size, mtime) — METADATA scale,
    * one recursive listing, no data read. The only shape that survives
    * 100 TB dep trees: a per-repro full content read of every stage's
    * inputs would cost more than the stages themselves. It is the same
    * bet DVC's hash cache makes (a file whose size and mtime are
    * unchanged is unchanged); a rewrite never evades it (new part-file
    * names and mtimes).
    *
    * `deep = true` folds each file's full content md5 instead (F7) —
    * for small critical inputs or audit runs.
    *
    * A missing path digests as "absent" — so a stage whose dep appears
    * later re-runs.
    */
  def contentMd5(spark: SparkSession, path: String, deep: Boolean = false): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val f = fs(spark, path)
    if (!f.exists(p)) return "absent"
    val files = scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.FileStatus]
    def walk(dir: org.apache.hadoop.fs.Path): Unit =
      f.listStatus(dir).foreach { st =>
        val n = st.getPath.getName
        if (!n.startsWith(".") && !n.startsWith("_")) {
          if (st.isDirectory) walk(st.getPath)
          else files += st
        }
      }
    if (f.getFileStatus(p).isDirectory) walk(p)
    else files += f.getFileStatus(p)
    val base = p.toUri.getPath
    val md = java.security.MessageDigest.getInstance("MD5")
    files.sortBy(_.getPath.toUri.getPath).foreach { st =>
      val fp = st.getPath.toUri.getPath
      val rel = fp.stripPrefix(base).stripPrefix("/")
      val sig =
        if (deep) TableIO.fileMd5(spark, fp)
        else s"${st.getLen}:${st.getModificationTime}"
      md.update(s"$rel:$sig\n".getBytes("UTF-8"))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Run the stage list in order with content-addressed skip. The ledger
    * (one JSON file per stage under `ledgerDir`) records the dep digest
    * each stage last ran against. `force` names stages that run
    * regardless. Checks run on every pass — a skipped stage's invariants
    * still hold or the pipeline aborts.
    */
  def repro(
      spark: SparkSession,
      ledgerDir: String,
      stages: Seq[Stage],
      force: Set[String] = Set.empty,
      log: String => Unit = _ => ()): Seq[StageResult] = {
    val f = fs(spark, ledgerDir)
    f.mkdirs(new org.apache.hadoop.fs.Path(ledgerDir))
    stages.map { st =>
      val depMd5 = {
        val md = java.security.MessageDigest.getInstance("MD5")
        st.deps.foreach(d => md.update(s"$d=${contentMd5(spark, d)}\n".getBytes("UTF-8")))
        md.digest().map("%02x".format(_)).mkString
      }
      val ledger = new org.apache.hadoop.fs.Path(s"$ledgerDir/${st.name}.json")
      val recorded =
        if (!f.exists(ledger)) None
        else {
          val in = f.open(ledger)
          val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
          """"dep_md5"\s*:\s*"([0-9a-f]+)"""".r.findFirstMatchIn(txt).map(_.group(1))
        }
      val outsOk = st.outs.forall(o => f.exists(new org.apache.hadoop.fs.Path(o)))
      val mustRun = force.contains(st.name) || !outsOk || !recorded.contains(depMd5)
      if (mustRun) {
        log(s"[pipeline] RUN  ${st.name}")
        st.run()
        val out = f.create(ledger, true)
        try out.write(
          s"""{"stage": "${st.name}", "dep_md5": "$depMd5"}""".getBytes("UTF-8"))
        finally out.close()
      } else log(s"[pipeline] SKIP ${st.name}")
      st.check()
      StageResult(st.name, mustRun, depMd5)
    }
  }

  // ------------------------------------------------------------------
  // The national pipeline over the fixture tables: every reference stage,
  // real engine operators, one boundary "state" (geoid G1).
  // ------------------------------------------------------------------

  final case class NationalConfig(
      fixtureDir: String,
      root: String,
      stateGeoid: String = "G1",
      clipBufferMeters: Double = 120000.0,
      destBufferDeg: Double = 1.0,
      // routing mode, as the reference's `mode: [car, bicycle, foot]`
      // sweep (data/params.yaml:40-45) — selects the way-interpretation
      // profile AND the mode partition value of the published tree
      mode: String = "car")

  /** Stage list for [[repro]]. The fetch stages stand where the
    * reference's downloads sit (fetch_tiger.py / fetch_blockpop.py /
    * the geofabrik wget): they materialize the same artifact shapes
    * (a zipped shapefile, a population parquet, an osm.pbf) from the
    * fixture tables, deterministically; in production those three
    * `run()` bodies are [[graft.sources.HttpFetch]] /
    * [[graft.sources.CensusClient]] calls and nothing downstream
    * changes.
    */
  def national(spark: SparkSession, cfg: NationalConfig): Seq[Stage] = {
    import spark.implicits._
    val in = s"${cfg.root}/input"
    val mid = s"${cfg.root}/intermediate"
    val out = s"${cfg.root}/output"
    val tigerZip = s"$in/tiger/state.zip"
    val blockpopDir = s"$in/blockpop"
    val osmPbf = s"$in/osm/us.osm.pbf"
    val blocklocDir = s"$mid/blockloc"
    val cenlocDir = s"$mid/cenloc"
    val clipJson = s"$mid/osmclip/state=${cfg.stateGeoid}/boundary.geojson"
    val extractDir = s"$mid/osmextract"
    val destpointDir = s"$mid/destpoint"

    // planted geography: 5 vertical state strips over the block field
    def stripPolys: Seq[(String, String)] = (0 until 5).map { i =>
      (s"G$i", Geometry.rectWkt(120.001 + 5 * i, 28.001, 125.001 + 5 * i, 46.001))
    }

    // road grid covering the block field: 0.25° spacing, residential
    val gridW = 101
    val gridH = 73

    Seq(
      Stage(
        name = "fetch_tiger",
        deps = Seq.empty,
        outs = Seq(tigerZip),
        run = () => {
          new java.io.File(tigerZip).getParentFile.mkdirs()
          Shapefile.writeZip(tigerZip, "tl_graft_state",
            Seq(Shapefile.Field("GEOID", 'C', 4, 0)),
            stripPolys.map { case (g, wkt) => (Seq[Any](g), Geometry.parseWkt(wkt)) })
        }),

      Stage(
        name = "fetch_blockpop",
        deps = Seq(s"${cfg.fixtureDir}/customer.parquet"),
        outs = Seq(blockpopDir),
        run = () => graft.Tables.customer(spark, cfg.fixtureDir)
          .select(
            lpad($"c_custkey".cast("string"), 15, "0").as("block_id"),
            when($"c_acctbal" >= 9000.0, lit(1)).otherwise(lit(0)).as("population"))
          .write.mode("overwrite").parquet(blockpopDir)),

      Stage(
        name = "fetch_osm",
        deps = Seq.empty,
        outs = Seq(osmPbf),
        run = () => {
          // uniform residential grid over the block field (0.25° cells)
          val nodes = for (r <- 0 until gridH; c <- 0 until gridW) yield
            OsmPbf.PbfNode(r.toLong * gridW + c, 28.0 + r * 0.25, 120.0 + c * 0.25, Map.empty)
          val rows = (0 until gridH).map { r =>
            OsmPbf.PbfWay(1000000L + r,
              (0 until gridW).map(c => r.toLong * gridW + c).toArray,
              Map("highway" -> "residential"))
          }
          val cols = (0 until gridW).map { c =>
            OsmPbf.PbfWay(2000000L + c,
              (0 until gridH).map(r => r.toLong * gridW + c).toArray,
              Map("highway" -> "residential"))
          }
          new java.io.File(osmPbf).getParentFile.mkdirs()
          OsmPbf.writePbf(osmPbf, nodes, rows ++ cols)
        }),

      Stage(
        name = "create_blockloc",
        deps = Seq(blockpopDir),
        outs = Seq(blocklocDir),
        run = () => spark.read.parquet(blockpopDir)
          .select(
            $"block_id", $"population",
            (lit(120.0) + ($"block_id".cast("long") % 97) * 0.25).as("x"),
            (lit(28.0) + ($"block_id".cast("long") % 89) * 0.25).as("y"))
          .write.mode("overwrite").parquet(blocklocDir),
        check = () => {
          val bp = spark.read.parquet(blockpopDir)
          val bl = spark.read.parquet(blocklocDir)
          require(bl.count() == bp.count(), "blockloc row conservation")
          require(bl.filter($"x".isNull || $"y".isNull || $"population".isNull).isEmpty,
            "blockloc nulls")
        }),

      Stage(
        name = "create_cenloc",
        deps = Seq(blocklocDir, tigerZip),
        outs = Seq(cenlocDir),
        run = () => {
          val polys = Shapefile.loadZip(spark, tigerZip)
            .select("geoid", "wkt").collect()
            .map(r => (r.getString(0), r.getString(1))).sortBy(_._1).toSeq
          val assign = Geometry.assignUdf(polys)
          Centroids.cenloc(
            spark.read.parquet(blocklocDir)
              .withColumn("geoid", assign($"x", $"y"))
              .filter($"geoid".isNotNull))
            .write.mode("overwrite").parquet(cenlocDir)
        },
        check = () => {
          val cl = spark.read.parquet(cenlocDir)
          require(cl.count() == cl.select("geoid").distinct().count(), "cenloc geoid key")
          require(cl.filter($"x_wt".isNull || $"y_wt".isNull).isEmpty, "cenloc nulls")
          val blSum = spark.read.parquet(blocklocDir)
            .agg(sum("population")).head.getLong(0)
          val clSum = cl.agg(sum("population")).head.getLong(0)
          require(clSum <= blSum, "cenloc population exceeds blockloc")
        }),

      Stage(
        name = "create_osmclip",
        deps = Seq(tigerZip),
        outs = Seq(clipJson),
        // dateline-guard box shifted to the fixture hemisphere (the
        // reference's box covers CONUS; the planted field sits at
        // lon 120-145)
        run = () => OsmClip.run(spark, tigerZip, cfg.stateGeoid,
          cfg.clipBufferMeters, clipJson, bboxLonLat = (100.0, 10.0, 160.0, 60.0))),

      Stage(
        name = "create_osmextract",
        deps = Seq(osmPbf, clipJson),
        outs = Seq(s"$extractDir/nodes", s"$extractDir/ways"),
        run = () => {
          val boundary = GeoJson.readFeatureCollection(spark, clipJson).head._2
          val (n, w) = OsmPbf.clip(spark, osmPbf, Geometry.toWkt(boundary))
          n.write.mode("overwrite").parquet(s"$extractDir/nodes")
          w.write.mode("overwrite").parquet(s"$extractDir/ways")
        },
        check = () => {
          require(spark.read.parquet(s"$extractDir/nodes").count() > 0, "empty extract")
        }),

      Stage(
        name = "create_destpoint",
        deps = Seq(cenlocDir, clipJson),
        outs = Seq(destpointDir),
        run = () => {
          val boundary = GeoJson.readFeatureCollection(spark, clipJson).head._2
          Destpoint.run(spark.read.parquet(cenlocDir), boundary, cfg.destBufferDeg)
            .write.mode("overwrite").parquet(destpointDir)
        },
        check = () => {
          val dp = spark.read.parquet(destpointDir)
          val cl = spark.read.parquet(cenlocDir)
          require(dp.count() > 0 && dp.count() <= cl.count(), "destpoint subset")
        }),

      Stage(
        name = "calculate_times",
        deps = Seq(destpointDir, s"$extractDir/nodes", s"$extractDir/ways"),
        outs = Seq(s"$out/times", s"$out/points", s"$out/missing_pairs", s"$out/metadata"),
        run = () => {
          val e = RoadNetwork.edges(
            spark.read.parquet(s"$extractDir/nodes"),
            spark.read.parquet(s"$extractDir/ways"),
            RoadNetwork.Profiles(cfg.mode))
          val csr = spark.sparkContext.broadcast(
            RoadNetwork.buildCsr(e, pruneIslands = true))
          val router = new RoadNetwork.NetworkRouter(csr)
          val snapper = new RoadNetwork.NetworkSnapper(csr)
          val dp = spark.read.parquet(destpointDir)
          // 9-char ids whose chars 8-9 are the state partition key
          val origins = dp.select(
            concat(lit("0"), lpad($"geoid", 8, "0")).as("id"),
            $"x_wt".as("lon"), $"y_wt".as("lat")).as[RawPoint]
          val dests = origins
          CalculateTimes.run(spark, origins, dests, snapper, router,
            CalculateTimes.Config(mode = cfg.mode,
              oSplit = 4, dSplit = 4, maxDepth = 6,
              outDir = out,
              originsInputFile = None, destsInputFile = None))
          ()
        },
        check = () => {
          val times = TableIO.readPartitioned(spark, s"$out/times")
          val meta = spark.read.parquet(s"$out/metadata").head
          val nMissing = countPartitioned(spark, s"$out/missing_pairs", Schemas.missingPairs)
          require(times.count() + nMissing == meta.getAs[Long]("calc_n_pairs"),
            "pair conservation")
          require(times.filter($"duration_sec".isNull).isEmpty, "null duration in times")
        }),

      Stage(
        name = "publish_index",
        deps = Seq(s"$out/times", s"$out/points", s"$out/missing_pairs"),
        outs = Seq(s"$out/index"),
        run = () => {
          // one index artifact per published table (each tree has its own
          // partition structure); an empty missing_pairs publishes nothing
          TableIO.writeConsumerIndex(spark, s"$out/times", s"$out/index/times.json")
          TableIO.writeConsumerIndex(spark, s"$out/points", s"$out/index/points.json")
          if (countPartitioned(spark, s"$out/missing_pairs", Schemas.missingPairs) > 0)
            TableIO.writeConsumerIndex(spark, s"$out/missing_pairs",
              s"$out/index/missing_pairs.json")
        }),

      // The reference's tippecanoe stage (create_tiles.sh): a zoom
      // pyramid over the cenloc points (weight = population, densest
      // tiles thinned) written zoom-partitioned for tile-server pruning,
      // plus the per-mode parquet-file-count index JSON its map JS
      // iterates (create_tiles.sh:27-63) derived from the published
      // times partition tree.
      Stage(
        name = "create_tiles",
        deps = Seq(cenlocDir, s"$out/times"),
        outs = Seq(s"$out/tiles", s"$out/tiles_index.json"),
        run = () => {
          val cl = spark.read.parquet(cenlocDir).select(
            $"geoid".as("id"), $"x_wt".as("lon"), $"y_wt".as("lat"),
            $"population".cast("double").as("weight"))
          Tiles.pyramid(cl, "id", "lon", "lat", "weight",
            minZ = 2, maxZ = 10, cap = 64)
            .filter($"kept")
            .write.mode("overwrite").partitionBy("zoom")
            .parquet(s"$out/tiles")
          // {"<mode>": {"<state>": n_parquet_files}} over the published tree
          val f2 = fs(spark, s"$out/times")
          def countFiles(dir: org.apache.hadoop.fs.Path): Map[String, Int] = {
            val it = f2.listFiles(dir, true)
            val counts = scala.collection.mutable.Map.empty[String, Int]
            while (it.hasNext) {
              val p = it.next().getPath.toString
              if (p.endsWith(".parquet"))
                """state=([^/]+)""".r.findFirstMatchIn(p).foreach { m =>
                  counts(m.group(1)) = counts.getOrElse(m.group(1), 0) + 1
                }
            }
            counts.toMap
          }
          val states = countFiles(new org.apache.hadoop.fs.Path(s"$out/times"))
          val inner = states.toSeq.sortBy(_._1)
            .map { case (s0, n) => s""""$s0": $n""" }.mkString("{", ", ", "}")
          val outP = f2.create(
            new org.apache.hadoop.fs.Path(s"$out/tiles_index.json"), true)
          try outP.write(s"""{"${cfg.mode}": $inner}""".getBytes("UTF-8"))
          finally outP.close()
        },
        check = () => {
          val tiles = spark.read.parquet(s"$out/tiles")
          val cl = spark.read.parquet(cenlocDir)
          // every cenloc point survives at the deepest zoom (tiles are
          // ~40m there; fixture points are ≥0.25° apart, far under cap)
          require(tiles.filter($"zoom" === 10).count() == cl.count(),
            "deep-zoom tile conservation")
          require(tiles.filter($"rnk" > 64).isEmpty, "cap violated")
        })
    )
  }
}
