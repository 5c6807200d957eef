package graft.queries

import graft.{QueryDef, QueryPack, Tables => T}
import graft.etl.{Centroids, Destpoint}
import graft.geo.{Albers, Geometry, Tiles}
import graft.jobs.CalculateTimes
import graft.routing._
import graft.sources.TableIO
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.concurrent.TrieMap

/** Domain operator pack — the reference's own pipeline semantics (routing
  * matrix, snap, centroids, spatial join, partitioned publish) driven by
  * OD point sets derived *deterministically* from the fixture tables, so
  * every operator is still DuckDB-oracle-checkable.
  *
  * Coordinate synthesis uses dyadic steps (0.25°): every lon/lat is exact
  * in binary, so sums/averages of coordinates are order-independent and
  * cross-engine exact. Per-pair arithmetic (Manhattan-distance durations)
  * uses the same IEEE op order in Scala and SQL → bit-identical.
  */
object DomainQueries extends QueryPack {

  // --- shared OD point synthesis ------------------------------------
  // origins: one per customer; destinations: one per supplier (offset id
  // space so ids never collide). Islands (unroutable points — FIXTURES.md
  // §B10): custkey % 37 == 0 / suppkey % 41 == 0.

  private def originsDf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    T.customer(s, dir).select(
      lpad($"c_custkey".cast("string"), 9, "0").as("id"),
      (lit(120.0) + ($"c_custkey" % 97) * 0.25).as("lon"),
      (lit(28.0) + ($"c_custkey" % 89) * 0.25).as("lat"))
  }

  private def destsDf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    T.supplier(s, dir).select(
      lpad(($"s_suppkey" + 500000).cast("string"), 9, "0").as("id"),
      (lit(120.5) + ($"s_suppkey" % 83) * 0.25).as("lon"),
      (lit(28.5) + ($"s_suppkey" % 79) * 0.25).as("lat"))
  }

  private val originsSql =
    """origins AS (
      |  SELECT lpad(CAST(c_custkey AS VARCHAR), 9, '0') AS id,
      |         120.0 + (c_custkey % 97) * 0.25 AS lon,
      |         28.0 + (c_custkey % 89) * 0.25 AS lat,
      |         c_custkey AS okey
      |  FROM customer)""".stripMargin

  private val destsSql =
    """dests AS (
      |  SELECT lpad(CAST(s_suppkey + 500000 AS VARCHAR), 9, '0') AS id,
      |         120.5 + (s_suppkey % 83) * 0.25 AS lon,
      |         28.5 + (s_suppkey % 79) * 0.25 AS lat,
      |         s_suppkey AS dkey
      |  FROM supplier)""".stripMargin

  private val timesSql =
    s"""WITH $originsSql, $destsSql,
       |times AS (
       |  SELECT o.id AS origin_id, d.id AS destination_id,
       |    CASE WHEN o.okey % 37 = 0 OR d.dkey % 41 = 0 THEN NULL
       |         ELSE (abs(o.lon - d.lon) + abs(o.lat - d.lat)) * 111320.0 / 30.0
       |    END AS duration_sec
       |  FROM origins o CROSS JOIN dests d)""".stripMargin

  /** DuckDB mirror of [[cenlocFrame]] as a reusable CTE chain. */
  private val cenlocSql =
    """blocks AS (
      |  SELECT 120.0 + (c_custkey % 97) * 0.25 AS x,
      |         28.0 + (c_custkey % 89) * 0.25 AS y,
      |         CASE WHEN c_acctbal >= 9000.0 THEN 1 ELSE 0 END AS population
      |  FROM customer),
      |assigned AS (
      |  SELECT x, y, population,
      |    CASE WHEN y > 28.001 AND y < 46.001 AND x > 120.001 AND x < 145.001 THEN
      |      CASE WHEN x < 125.001 THEN 'G0'
      |           WHEN x < 130.001 THEN 'G1'
      |           WHEN x < 135.001 THEN 'G2'
      |           WHEN x < 140.001 THEN 'G3'
      |           ELSE 'G4' END
      |    END AS geoid
      |  FROM blocks),
      |cenloc AS (
      |  SELECT geoid, avg(x) AS x, avg(y) AS y,
      |    CASE WHEN sum(CAST(population AS DOUBLE)) = 0.0 THEN avg(x)
      |         ELSE sum(x * CAST(population AS DOUBLE)) / sum(CAST(population AS DOUBLE))
      |    END AS x_wt,
      |    CASE WHEN sum(CAST(population AS DOUBLE)) = 0.0 THEN avg(y)
      |         ELSE sum(y * CAST(population AS DOUBLE)) / sum(CAST(population AS DOUBLE))
      |    END AS y_wt,
      |    CAST(sum(population) AS BIGINT) AS population
      |  FROM assigned WHERE geoid IS NOT NULL GROUP BY geoid)""".stripMargin

  /** cenloc build shared by q29 and the q93 destpoint stage
    * (create_cenloc.py:82-153): spatial-assign blocks to geographies
    * (J4), weighted centroid per geography (A1).
    */
  private def cenlocFrame(s: SparkSession, dir: String): DataFrame =
    cenlocFromPolys(s, dir, (0 until 5).map { i =>
      (s"G$i", Geometry.rectWkt(120.001 + 5 * i, 28.001, 125.001 + 5 * i, 46.001))
    })

  private def cenlocFromPolys(
      s: SparkSession, dir: String, polys: Seq[(String, String)]): DataFrame = {
    import s.implicits._
    val assign = Geometry.assignUdf(polys)
    val blocks = T.customer(s, dir).select(
      (lit(120.0) + ($"c_custkey" % 97) * 0.25).as("x"),
      (lit(28.0) + ($"c_custkey" % 89) * 0.25).as("y"),
      when($"c_acctbal" >= 9000.0, lit(1)).otherwise(lit(0)).as("population"))
    Centroids.cenloc(
      blocks.withColumn("geoid", assign($"x", $"y")).filter($"geoid".isNotNull))
  }

  /** The full times table via the distributed matrix operator. The
    * synthetic router fails any block containing an island point, so the
    * NULL rows the oracle expects only emerge through R3 quadtree
    * isolation down to 1×1 — the whole R1-R4 machinery is on the
    * verified path.
    */
  private def routeTimes(s: SparkSession, dir: String): Dataset[TimeRecord] = {
    import s.implicits._
    val router = new SyntheticRouter(
      speedMps = 30.0,
      originIsland = p => p.id.toLong % 37 == 0,
      destIsland = p => (p.id.toLong - 500000) % 41 == 0)
    TravelTimeMatrix.run(
      s,
      originsDf(s, dir).as[RoutePoint].collect(),
      destsDf(s, dir).as[RoutePoint].collect(),
      router,
      oSplit = 512, dSplit = 64,
      // depth must cover log2(oSplit) so islands isolate to 1×1 —
      // semantics of a *hit* depth limit are unit-tested instead
      maxDepth = 12)
  }

  /** snapped-coordinate times CTE — CalculateTimes routes the snapped
    * frame (use_snapped), so the consumer-surface oracles re-derive the
    * snap arithmetic.
    */
  private val snappedTimesSql =
    s"""WITH $originsSql, $destsSql,
       |so AS (SELECT id, okey,
       |  CASE WHEN lat > 43.0 THEN lon ELSE round(lon * 2, 0) / 2 END AS slon,
       |  CASE WHEN lat > 43.0 THEN lat ELSE round(lat * 2, 0) / 2 END AS slat
       |  FROM origins),
       |sd AS (SELECT id, dkey,
       |  CASE WHEN lat > 43.0 THEN lon ELSE round(lon * 2, 0) / 2 END AS slon,
       |  CASE WHEN lat > 43.0 THEN lat ELSE round(lat * 2, 0) / 2 END AS slat
       |  FROM dests),
       |stimes AS (
       |  SELECT o.id AS origin_id, d.id AS destination_id,
       |    CASE WHEN o.okey % 37 = 0 OR d.dkey % 41 = 0 THEN NULL
       |         ELSE (abs(o.slon - d.slon) + abs(o.slat - d.slat)) * 111320.0 / 30.0
       |    END AS duration_sec
       |  FROM so o CROSS JOIN sd d)""".stripMargin

  /** One CalculateTimes publish per sf dir per JVM; q37-q39 all consume
    * the same published tree (mirroring real consumers of one publish).
    */
  private val published = TrieMap.empty[String, CalculateTimes.Result]
  private def ensurePublished(s: SparkSession, dir: String): CalculateTimes.Result =
    published.getOrElseUpdate(dir, {
      import s.implicits._
      val sfName = dir.replaceAll(".*/", "")
      val router = new SyntheticRouter(
        speedMps = 30.0,
        originIsland = p => p.id.toLong % 37 == 0,
        destIsland = p => (p.id.toLong - 500000) % 41 == 0)
      val result = CalculateTimes.run(
        s,
        originsDf(s, dir).as[RawPoint],
        destsDf(s, dir).as[RawPoint],
        new GridSnapper(noSnapAboveLat = 43.0),
        router,
        CalculateTimes.Config(oSplit = 512, dSplit = 64, maxDepth = 12,
          outDir = s"${graft.GraftSession.scratchBase}/graft_ct_$sfName",
          originsInputFile = Some(s"$dir/customer.parquet"),
          destsInputFile = Some(s"$dir/supplier.parquet")))
      // publish the pointer catalog consumers attach (S10)
      graft.sources.PointerCatalog.save(
        s"${graft.GraftSession.scratchBase}/graft_ct_$sfName/pointer.catalog",
        Map("graft_times" -> result.timesDir, "graft_points" -> result.pointsDir))
      result
    })

  private def attachCatalog(s: SparkSession, dir: String): Unit = {
    ensurePublished(s, dir)
    val sfName = dir.replaceAll(".*/", "")
    graft.sources.PointerCatalog.attach(s, s"${graft.GraftSession.scratchBase}/graft_ct_$sfName/pointer.catalog")
  }

  override def queries: Seq[QueryDef] = Seq(
    // ------------------------------------------------------------------
    // q30: the routing matrix operator end-to-end (R1 block routing, R2
    // short-circuit guard, R3 quadtree isolation, R4 tiling, J8 chunk
    // grid). Headline bench query.
    QueryDef(
      "q30_route_matrix",
      (s, dir) => routeTimes(s, dir).toDF(),
      Some(s"""$timesSql
              |SELECT origin_id, destination_id, duration_sec FROM times""".stripMargin),
      headline = true),

    // ------------------------------------------------------------------
    // q31: missing_pairs — the NULL-duration split (P4/U2,
    // calculate_times.py:71-79): same scan, second filter.
    QueryDef(
      "q31_missing_pairs",
      (s, dir) => {
        import s.implicits._
        routeTimes(s, dir).toDF()
          .filter($"duration_sec".isNull)
          .select($"origin_id", $"destination_id")
      },
      Some(s"""$timesSql
              |SELECT origin_id, destination_id FROM times WHERE duration_sec IS NULL""".stripMargin)),

    // ------------------------------------------------------------------
    // q32: snap operator (J7/R5) + coalesce fallback (P6) + derived
    // boolean (P7) → the published points table (B6 schema). The
    // synthetic snapper refuses lat > 43 to exercise the fallback.
    QueryDef(
      "q32_points_snap",
      (s, dir) => {
        import s.implicits._
        val snapper = new GridSnapper(noSnapAboveLat = 43.0)
        val o = Snap(s, originsDf(s, dir).as[RawPoint], snapper)
        val d = Snap(s, destsDf(s, dir).as[RawPoint], snapper)
        Snap.pointsTable(o, d)
      },
      Some(s"""WITH $originsSql, $destsSql,
              |pts AS (
              |  SELECT 'origin' AS point_type, id, lon, lat FROM origins
              |  UNION ALL
              |  SELECT 'destination' AS point_type, id, lon, lat FROM dests),
              |snapped AS (
              |  SELECT point_type, id, lon, lat,
              |    CASE WHEN lat > 43.0 THEN lon ELSE round(lon * 2, 0) / 2 END AS lon_snapped,
              |    CASE WHEN lat > 43.0 THEN lat ELSE round(lat * 2, 0) / 2 END AS lat_snapped
              |  FROM pts)
              |SELECT point_type, id, lon, lat, lon_snapped, lat_snapped,
              |  (lon <> lon_snapped OR lat <> lat_snapped) AS is_snapped
              |FROM snapped""".stripMargin)),

    // ------------------------------------------------------------------
    // q33: cenloc weighted centroids (A1 weighted mean with zero-weight
    // fallback, census.py:9-47) over a synthetic blockloc. Weight is
    // nonzero only for quantity ≥ 48, so ~1/6 of geoid groups have total
    // weight 0 and take the unweighted-mean fallback — the oracle checks
    // both branches.
    QueryDef(
      "q33_weighted_centroid",
      (s, dir) => {
        import s.implicits._
        val blockloc = T.lineitem(s, dir).select(
          lpad($"l_partkey".cast("string"), 5, "0").as("geoid"),
          (lit(120.0) + ($"l_partkey" % 89) * 0.25).as("x"),
          (lit(28.0) + ($"l_suppkey" % 79) * 0.25).as("y"),
          when($"l_quantity" >= 48.0, $"l_quantity".cast("int")).otherwise(0).as("population"))
        Centroids.cenloc(blockloc)
      },
      Some("""WITH blockloc AS (
             |  SELECT lpad(CAST(l_partkey AS VARCHAR), 5, '0') AS geoid,
             |    120.0 + (l_partkey % 89) * 0.25 AS x,
             |    28.0 + (l_suppkey % 79) * 0.25 AS y,
             |    CASE WHEN l_quantity >= 48.0 THEN CAST(l_quantity AS INT) ELSE 0 END AS population
             |  FROM lineitem)
             |SELECT geoid, avg(x) AS x, avg(y) AS y,
             |  CASE WHEN sum(CAST(population AS DOUBLE)) = 0.0 THEN avg(x)
             |       ELSE sum(x * CAST(population AS DOUBLE)) / sum(CAST(population AS DOUBLE))
             |  END AS x_wt,
             |  CASE WHEN sum(CAST(population AS DOUBLE)) = 0.0 THEN avg(y)
             |       ELSE sum(y * CAST(population AS DOUBLE)) / sum(CAST(population AS DOUBLE))
             |  END AS y_wt,
             |  CAST(sum(population) AS BIGINT) AS population
             |FROM blockloc GROUP BY geoid""".stripMargin),
      headline = true),

    // ------------------------------------------------------------------
    // q29: the cenloc ETL chain composed (create_cenloc.py:82-153):
    // spatial-assign blocks to geographies (J4 broadcast ray-cast — the
    // reference distrusts GEOID joins across years, create_cenloc.py:88-90)
    // → weighted centroid per geography (A1). One broadcast + one shuffle.
    QueryDef(
      "q29_cenloc_pipeline",
      (s, dir) => cenlocFrame(s, dir),
      Some(s"""WITH $cenlocSql
              |SELECT geoid, x, y, x_wt, y_wt, population FROM cenloc""".stripMargin)),

    // ------------------------------------------------------------------
    // q34: Albers EPSG:5071 forward+inverse roundtrip (F11,
    // census.py:50-71). The oracle is the identity on the inputs — the
    // roundtrip must return each coordinate to within 5e-5°, far above
    // the transform's ~1e-10 iteration error, so a projection-math bug
    // fails the hash.
    QueryDef(
      "q34_albers_roundtrip",
      (s, dir) => {
        import s.implicits._
        originsDf(s, dir)
          .withColumn("xy", Albers.fwd($"lon", $"lat"))
          .withColumn("ll", Albers.inv(element_at($"xy", 1), element_at($"xy", 2)))
          .select(
            $"id",
            round(element_at($"ll", 1), 4).as("lon_rt"),
            round(element_at($"ll", 2), 4).as("lat_rt"))
      },
      Some(s"""WITH $originsSql
              |SELECT id, round(lon, 4) AS lon_rt, round(lat, 4) AS lat_rt FROM origins""".stripMargin)),

    // ------------------------------------------------------------------
    // q35: spatial join J4/J5 — polygon-contains-point as a broadcast +
    // ray-casting UDF (create_cenloc.py:91 / create_destpoint.py:63-71).
    // Five adjacent rectangles play the TIGER polygons; bounds sit off the
    // 0.25° point lattice so no point lies on an edge.
    QueryDef(
      "q35_spatial_join",
      (s, dir) => {
        import s.implicits._
        val polys = (0 until 5).map { i =>
          (s"R$i", Geometry.rectWkt(120.001 + 5 * i, 28.001, 125.001 + 5 * i, 46.001))
        }
        val assign = Geometry.assignUdf(polys)
        originsDf(s, dir)
          .withColumn("geoid", assign($"lon", $"lat"))
          .filter($"geoid".isNotNull)
          .select($"id", $"geoid")
      },
      Some(s"""WITH $originsSql,
              |assigned AS (
              |  SELECT id,
              |    CASE WHEN lat > 28.001 AND lat < 46.001 AND lon > 120.001 AND lon < 145.001 THEN
              |      CASE WHEN lon < 125.001 THEN 'R0'
              |           WHEN lon < 130.001 THEN 'R1'
              |           WHEN lon < 135.001 THEN 'R2'
              |           WHEN lon < 140.001 THEN 'R3'
              |           ELSE 'R4' END
              |    END AS geoid
              |  FROM origins)
              |SELECT id, geoid FROM assigned WHERE geoid IS NOT NULL""".stripMargin)),

    // ------------------------------------------------------------------
    // q36: the publish path end-to-end (S7/S8 ordered partitioned zstd
    // sink → S2/S3 partitioned scan → F1 chunk_id from filename):
    // routing output written Hive-partitioned by the 6 string keys,
    // read back, aggregated per state. n_files = 1 per partition proves
    // the repartition-by-keys single-writer discipline (O3); the state
    // key's leading zeros surviving the roundtrip proves string-typed
    // partition keys (create_public_files.py:79).
    QueryDef(
      "q36_publish_roundtrip",
      (s, dir) => {
        import s.implicits._
        val sfName = dir.replaceAll(".*/", "")
        val out = s"${graft.GraftSession.scratchBase}/graft_publish_$sfName"
        val ptimes = routeTimes(s, dir).toDF()
          .withColumn("version", lit("0.0.1"))
          .withColumn("mode", lit("car"))
          .withColumn("year", lit("2024"))
          .withColumn("geography", lit("county"))
          .withColumn("state", substring($"origin_id", 8, 2))
          .withColumn("centroid_type", lit("weighted"))
        // fixture-proportionate slice target: the reference's production
        // geometry is ~475 MB files; at fixture scale 4 MB keeps the
        // sf0.1 tree a handful of coalesced write tasks (trivial bytes)
        // while the 10× probe's grown key groups SPLIT — holding the
        // knob constant across the 1×/10× scale probe is what makes the
        // probe's ratio measure the ENGINE (task work capped by bytes),
        // not the knob
        TableIO.writePartitioned(ptimes, out, Seq("origin_id", "destination_id"),
          targetSliceBytes = 4L << 20)
        val back = TableIO.withChunkId(TableIO.readPartitioned(s, out))
        back.groupBy($"state")
          .agg(
            count(lit(1)).as("n_rows"),
            count(when($"duration_sec".isNull, 1)).as("n_missing"),
            countDistinct($"chunk_id").as("n_files"))
      },
      Some(s"""$timesSql
              |SELECT substr(origin_id, 8, 2) AS state,
              |  count(*) AS n_rows,
              |  count(CASE WHEN duration_sec IS NULL THEN 1 END) AS n_missing,
              |  CAST(1 AS BIGINT) AS n_files
              |FROM times GROUP BY 1""".stripMargin),
      headline = true),

    // ------------------------------------------------------------------
    // q185: dual-destination publish (S8 mirrored — the reference writes
    // each dataset to both its public and data buckets,
    // utils/times.py:100-107). ONE compute pass publishes the primary;
    // the mirror is a file copy of the committed bytes (IoSpec proves
    // byte-identity and zero extra Spark jobs). Here the MIRROR tree is
    // the one read back and aggregated, so the oracle hash proves the
    // copied tree serves exactly the published rows.
    QueryDef(
      "q185_mirror_publish",
      (s, dir) => {
        import s.implicits._
        val sfName = dir.replaceAll(".*/", "")
        val out = s"${graft.GraftSession.scratchBase}/graft_mirp_$sfName"
        val mir = s"${graft.GraftSession.scratchBase}/graft_mirm_$sfName"
        val ptimes = routeTimes(s, dir).toDF()
          .withColumn("version", lit("0.0.1"))
          .withColumn("mode", lit("car"))
          .withColumn("year", lit("2024"))
          .withColumn("geography", lit("county"))
          .withColumn("state", substring($"origin_id", 8, 2))
          .withColumn("centroid_type", lit("weighted"))
        TableIO.writeMirrored(ptimes, out, mir, Seq("origin_id", "destination_id"))
        TableIO.readPartitioned(s, mir)
          .groupBy($"state")
          .agg(
            count(lit(1)).as("n_rows"),
            count(when($"duration_sec".isNull, 1)).as("n_missing"))
      },
      Some(s"""$timesSql
              |SELECT substr(origin_id, 8, 2) AS state,
              |  count(*) AS n_rows,
              |  count(CASE WHEN duration_sec IS NULL THEN 1 END) AS n_missing
              |FROM times GROUP BY 1""".stripMargin)),

    // ------------------------------------------------------------------
    // q37: the README flagship consumer query (README.md:88-98) over a
    // real CalculateTimes publish: all partition keys + an origin prefix,
    // answered through the catalog view with partition pruning + rowgroup
    // stats on the (origin_id, destination_id) ordering.
    QueryDef(
      "q37_consumer_flagship",
      (s, dir) => {
        attachCatalog(s, dir)
        s.sql("""SELECT origin_id, destination_id, duration_sec
                |FROM graft_times
                |WHERE version = '0.0.1' AND mode = 'car' AND year = '2024'
                |  AND geography = 'county' AND centroid_type = 'weighted'
                |  AND state = '23' AND origin_id LIKE '0000001%'""".stripMargin)
      },
      Some(s"""$snappedTimesSql
              |SELECT origin_id, destination_id, duration_sec
              |FROM stimes
              |WHERE duration_sec IS NOT NULL
              |  AND substr(origin_id, 8, 2) = '23'
              |  AND origin_id LIKE '0000001%'""".stripMargin)),

    // ------------------------------------------------------------------
    // q38: the README pair-coordinates consumer join (J6,
    // README.md:150-178): times ⟕ points twice with aliased relations.
    QueryDef(
      "q38_consumer_points_join",
      (s, dir) => {
        attachCatalog(s, dir)
        s.sql("""SELECT t.origin_id, t.destination_id, t.duration_sec,
                |  po.lon_snapped AS origin_lon, po.lat_snapped AS origin_lat,
                |  pd.lon_snapped AS dest_lon, pd.lat_snapped AS dest_lat
                |FROM graft_times t
                |LEFT JOIN graft_points po
                |  ON po.point_type = 'origin' AND po.id = t.origin_id
                |LEFT JOIN graft_points pd
                |  ON pd.point_type = 'destination' AND pd.id = t.destination_id
                |WHERE t.state = '23'""".stripMargin)
      },
      Some(s"""$snappedTimesSql
              |SELECT t.origin_id, t.destination_id, t.duration_sec,
              |  o.slon AS origin_lon, o.slat AS origin_lat,
              |  d.slon AS dest_lon, d.slat AS dest_lat
              |FROM stimes t
              |LEFT JOIN so o ON o.id = t.origin_id
              |LEFT JOIN sd d ON d.id = t.destination_id
              |WHERE t.duration_sec IS NOT NULL
              |  AND substr(t.origin_id, 8, 2) = '23'""".stripMargin)),

    // ------------------------------------------------------------------
    // q39: the metadata audit table's deterministic columns (A7,
    // calculate_times.py:96-133) — pair-conservation accounting
    // (n_pairs = |times| + |missing_pairs|) checked against first
    // principles in SQL.
    QueryDef(
      "q39_metadata_stats",
      (s, dir) => {
        val pub = ensurePublished(s, dir)
        s.read.parquet(pub.metadataDir)
          .select("calc_n_origins", "calc_n_destinations", "calc_n_pairs",
            "calc_n_missing_pairs", "param_use_snapped")
      },
      Some(s"""$snappedTimesSql
              |SELECT (SELECT count(*) FROM customer) AS calc_n_origins,
              |  (SELECT count(*) FROM supplier) AS calc_n_destinations,
              |  (SELECT count(*) FROM customer) * (SELECT count(*) FROM supplier) AS calc_n_pairs,
              |  (SELECT count(*) FROM stimes WHERE duration_sec IS NULL) AS calc_n_missing_pairs,
              |  true AS param_use_snapped""".stripMargin)),

    // ------------------------------------------------------------------
    // q239: the FLAGSHIP JOB's atomic trio publish (round-12) — the
    // reference writes times + missing_pairs + metadata as three
    // separate sinks (utils/times.py:100-107; calculate_times.py:69-133
    // computes the calc_n_pairs audit a torn publish falsifies). Here
    // the REAL CalculateTimes pipeline runs with a crash injected
    // right after its first tree publish, the torn state is proven
    // torn, TreeTxn.recover completes the transaction, and the query
    // returns per-state routed/missing counts PLUS the audit total —
    // the oracle recomputes all of it from first principles, so the
    // hash compare certifies crashed-then-recovered ≡ never-crashed.
    QueryDef(
      "q239_atomic_trio_publish",
      (s, dir) => {
        import s.implicits._
        val sfName = dir.replaceAll(".*/", "")
        val out = s"${graft.GraftSession.scratchBase}/graft_mtc_$sfName"
        val outP = new org.apache.hadoop.fs.Path(out)
        val f = outP.getFileSystem(s.sparkContext.hadoopConfiguration)
        f.delete(outP, true)
        val router = new SyntheticRouter(
          speedMps = 30.0,
          originIsland = p => p.id.toLong % 37 == 0,
          destIsland = p => (p.id.toLong - 500000) % 41 == 0)
        val died =
          try {
            CalculateTimes.run(s,
              originsDf(s, dir).as[RawPoint], destsDf(s, dir).as[RawPoint],
              new GridSnapper(noSnapAboveLat = 43.0), router,
              CalculateTimes.Config(oSplit = 512, dSplit = 64, maxDepth = 12,
                outDir = out),
              failpoint = {
                case "published:times" =>
                  throw new RuntimeException("injected-crash")
                case _ => ()
              })
            false
          } catch {
            case e: RuntimeException if e.getMessage == "injected-crash" => true
          }
        require(died, "q239: the injected crash must fire")
        require(f.exists(new org.apache.hadoop.fs.Path(s"$out/times")) &&
          !f.exists(new org.apache.hadoop.fs.Path(s"$out/metadata")),
          "q239: the crash state must be torn (times visible, audit not)")
        val rec = graft.sources.TreeTxn.recover(s, s"$out/_txn")
        require(rec.rolledForward.size == 1 && rec.rolledBack.isEmpty,
          s"q239: recovery must finish the claimed publish, got $rec")
        val times = s.read.parquet(s"$out/times")
        val missing = s.read.parquet(s"$out/missing_pairs")
        val audit = s.read.parquet(s"$out/metadata")
          .select($"calc_n_pairs", $"calc_n_missing_pairs").head
        require(times.count() + missing.count() == audit.getLong(0) &&
          missing.count() == audit.getLong(1),
          "q239: pair conservation must hold after recovery — the " +
            "invariant the atomic trio publish exists to keep")
        times.groupBy($"state")
          .agg(count(lit(1)).as("n_routed"))
          .join(missing.groupBy($"state")
            .agg(count(lit(1)).as("n_missing")), Seq("state"), "outer")
          .na.fill(0L, Seq("n_routed", "n_missing"))
          .withColumn("n_pairs_audited", lit(audit.getLong(0)))
      },
      Some(s"""$snappedTimesSql
              |SELECT substr(origin_id, 8, 2) AS state,
              |  count(CASE WHEN duration_sec IS NOT NULL THEN 1 END) AS n_routed,
              |  count(CASE WHEN duration_sec IS NULL THEN 1 END) AS n_missing,
              |  (SELECT count(*) FROM stimes) AS n_pairs_audited
              |FROM stimes GROUP BY 1""".stripMargin)),

    // ------------------------------------------------------------------
    // q86: band (range) join — a join type absent from both the reference
    // and Spark's builtins, composed from existing ops (SURVEY §7.3
    // preference order (a)): pairs within ±0.25° on both axes. The naive
    // plan is a cross join with an inequality filter (O(n·m)); the scale
    // path buckets one side by floor(lon/band) and explodes the other to
    // its 3 adjacent buckets, so candidates come from an *equi*-join on
    // the bucket key (shuffle-partitionable, skew-salted if needed) and
    // only candidates pay the exact predicate. Dyadic 0.25° lattice
    // coordinates keep every abs/compare exact cross-engine.
    QueryDef(
      "q86_band_join",
      (s, dir) => {
        import s.implicits._
        val band = 0.5
        val o = originsDf(s, dir)
          .select($"id".as("origin_id"), $"lon".as("olon"), $"lat".as("olat"),
            floor($"lon" / band).as("bkt"))
        val d = destsDf(s, dir)
          .select($"id".as("destination_id"), $"lon".as("dlon"), $"lat".as("dlat"),
            explode(array(floor($"lon" / band) - 1, floor($"lon" / band),
              floor($"lon" / band) + 1)).as("bkt"))
        o.join(d, Seq("bkt"))
          .filter(abs($"olon" - $"dlon") <= 0.25 && abs($"olat" - $"dlat") <= 0.25)
          .select($"origin_id", $"destination_id",
            (abs($"olon" - $"dlon") + abs($"olat" - $"dlat")).as("d_manhattan"))
      },
      Some(s"""WITH $originsSql, $destsSql
              |SELECT o.id AS origin_id, d.id AS destination_id,
              |  abs(o.lon - d.lon) + abs(o.lat - d.lat) AS d_manhattan
              |FROM origins o JOIN dests d
              |  ON abs(o.lon - d.lon) <= 0.25 AND abs(o.lat - d.lat) <= 0.25""".stripMargin)),

    // ------------------------------------------------------------------
    // q89: the SAME band join written naively (cross join + inequality
    // filter, no manual bucketing) — [[graft.plans.BandJoinRule]] must
    // rewrite it into the bucket equi-join at plan time, and the oracle
    // hash-check proves the planner rewrite preserves semantics exactly.
    QueryDef(
      "q89_band_join_auto",
      (s, dir) => {
        import s.implicits._
        val o = originsDf(s, dir)
          .select($"id".as("origin_id"), $"lon".as("olon"), $"lat".as("olat"))
        val d = destsDf(s, dir)
          .select($"id".as("destination_id"), $"lon".as("dlon"), $"lat".as("dlat"))
        o.crossJoin(d)
          .filter(abs($"olon" - $"dlon") <= 0.25 && abs($"olat" - $"dlat") <= 0.25)
          .select($"origin_id", $"destination_id",
            (abs($"olon" - $"dlon") + abs($"olat" - $"dlat")).as("d_manhattan"))
      },
      Some(s"""WITH $originsSql, $destsSql
              |SELECT o.id AS origin_id, d.id AS destination_id,
              |  abs(o.lon - d.lon) + abs(o.lat - d.lat) AS d_manhattan
              |FROM origins o JOIN dests d
              |  ON abs(o.lon - d.lon) <= 0.25 AND abs(o.lat - d.lat) <= 0.25""".stripMargin)),

    // ------------------------------------------------------------------
    // q92: the grid-bucketed spatial join — J4 at polygon counts where
    // the q35 broadcast linear scan stops being a plan (create_cenloc.py
    // sjoins 240k+ TIGER polygons). 450 adjacent 1°×1° rectangles tile
    // the fixture extent; candidates come from a hash equi-join on the
    // grid cell (PlanSpec asserts no nested-loop), refined by exact
    // ray-casting. The oracle recomputes the tiling arithmetically.
    QueryDef(
      "q92_spatial_grid_join",
      (s, dir) => {
        val polys = for { i <- 0 until 25; j <- 0 until 18 } yield
          (s"C${i}_$j", Geometry.rectWkt(120.001 + i, 28.001 + j, 121.001 + i, 29.001 + j))
        Geometry.gridAssign(originsDf(s, dir), col("lon"), col("lat"), polys,
            cellSize = 1.0, pointKey = Seq("id"))
          .select(col("id"), col("geoid"))
      },
      Some(s"""WITH $originsSql
              |SELECT id,
              |  'C' || CAST(CAST(floor(lon - 120.001) AS INT) AS VARCHAR) || '_' ||
              |         CAST(CAST(floor(lat - 28.001) AS INT) AS VARCHAR) AS geoid
              |FROM origins
              |WHERE lon > 120.001 AND lon < 145.001
              |  AND lat > 28.001 AND lat < 46.001""".stripMargin)),

    // ------------------------------------------------------------------
    // q93: the composed destpoint stage (create_destpoint.py:55-82) —
    // buffered state boundary → within-filters on BOTH centroid kinds →
    // geoid membership union (U3+P5 semi-join) → keep-list. With cenloc
    // (q29) and blockloc (q17) this closes the reference's 3-stage ETL
    // spine. The boundary rect is placed so the fixture exercises the
    // mixed membership paths (weighted-only / unweighted-only / both).
    // The oracle recomputes the buffered bounds with the same edge-offset
    // arithmetic (a miter buffer of an axis-aligned rect is exactly the
    // rect expanded by `dist` on every side).
    QueryDef(
      "q93_destpoint_pipeline",
      (s, dir) => {
        val boundary = Geometry.Polygon(Array(
          (123.0, 30.0), (131.9, 30.0), (131.9, 44.0), (123.0, 44.0)))
        Destpoint.run(cenlocFrame(s, dir), boundary, buffer = 1.0)
      },
      Some(s"""WITH $cenlocSql
              |SELECT geoid, x, y, x_wt, y_wt, population
              |FROM cenloc
              |WHERE (x > 122.0 AND x < 132.9 AND y > 29.0 AND y < 45.0)
              |   OR (x_wt > 122.0 AND x_wt < 132.9 AND y_wt > 29.0 AND y_wt < 45.0)
              |ORDER BY geoid""".stripMargin)),

    // ------------------------------------------------------------------
    // q95: multi-ring / multi-part spatial join — the general TIGER/CB
    // geometry case (every real polygon the reference sjoins,
    // create_cenloc.py:91, can be a MultiPolygon with interior rings:
    // lakes, enclaves, islands). A donut (outer ring + hole), a
    // two-part MULTIPOLYGON, and a lower-priority backdrop rect: points
    // in the hole MUST fall through the donut to the backdrop — a
    // single-outer-ring containment test misclassifies exactly those.
    // Same grid-bucketed equi-join plan as q92; the oracle recomputes
    // the ring arithmetic (hole via NOT, parts via OR).
    QueryDef(
      "q95_spatial_multiring",
      (s, dir) => {
        val donut = "POLYGON ((124.001 30.001, 130.001 30.001, 130.001 36.001, " +
          "124.001 36.001, 124.001 30.001), (126.001 32.001, 128.001 32.001, " +
          "128.001 34.001, 126.001 34.001, 126.001 32.001))"
        val twoPart = "MULTIPOLYGON (((134.001 30.001, 137.001 30.001, " +
          "137.001 33.001, 134.001 33.001, 134.001 30.001)), ((138.001 34.001, " +
          "141.001 34.001, 141.001 37.001, 138.001 37.001, 138.001 34.001)))"
        val polys = Seq(
          ("D", donut),
          ("M", twoPart),
          ("B", Geometry.rectWkt(120.001, 28.001, 145.001, 46.001)))
        Geometry.gridAssign(originsDf(s, dir), col("lon"), col("lat"), polys,
            cellSize = 4.0, pointKey = Seq("id"))
          .select(col("id"), col("geoid"))
      },
      Some(s"""WITH $originsSql
              |SELECT id,
              |  CASE
              |    WHEN lon > 124.001 AND lon < 130.001 AND lat > 30.001 AND lat < 36.001
              |         AND NOT (lon > 126.001 AND lon < 128.001 AND lat > 32.001 AND lat < 34.001)
              |      THEN 'D'
              |    WHEN (lon > 134.001 AND lon < 137.001 AND lat > 30.001 AND lat < 33.001)
              |      OR (lon > 138.001 AND lon < 141.001 AND lat > 34.001 AND lat < 37.001)
              |      THEN 'M'
              |    WHEN lon > 120.001 AND lon < 145.001 AND lat > 28.001 AND lat < 46.001
              |      THEN 'B'
              |  END AS geoid
              |FROM origins
              |WHERE lon > 120.001 AND lon < 145.001 AND lat > 28.001 AND lat < 46.001""".stripMargin)),

    // ------------------------------------------------------------------
    // q96: destpoint with a CONCAVE state boundary — the case the old
    // centroid-ray vertex offset buffered wrongly (real concave states:
    // MD, FL, LA; the reference buffers arbitrary boundaries with
    // shapely, create_destpoint.py:57-59). An L-shaped boundary, miter
    // buffer 1.0: the buffered region is exactly the union of the two
    // expanded arms (the reflex corner's miter vertex is the
    // intersection of its two offset edges), which the oracle encodes as
    // two rectangle tests.
    QueryDef(
      "q96_destpoint_concave",
      (s, dir) => {
        val ell = Geometry.Polygon(Array(
          (123.0, 30.0), (135.0, 30.0), (135.0, 40.0),
          (130.0, 40.0), (130.0, 44.0), (123.0, 44.0)))
        Destpoint.run(cenlocFrame(s, dir), ell, buffer = 1.0)
      },
      Some(s"""WITH $cenlocSql
              |SELECT geoid, x, y, x_wt, y_wt, population
              |FROM cenloc
              |WHERE ((x > 122.0 AND x < 136.0 AND y > 29.0 AND y < 41.0)
              |    OR (x > 122.0 AND x < 131.0 AND y > 29.0 AND y < 45.0))
              |   OR ((x_wt > 122.0 AND x_wt < 136.0 AND y_wt > 29.0 AND y_wt < 41.0)
              |    OR (x_wt > 122.0 AND x_wt < 131.0 AND y_wt > 29.0 AND y_wt < 45.0))
              |ORDER BY geoid""".stripMargin)),

    // ------------------------------------------------------------------
    // q97: the cenloc pipeline fed by REAL zipped-shapefile ingestion
    // (S4, census.py:74-97): the geography polygons arrive as a binary
    // .shp/.dbf archive (synthesized once per JVM — the sandbox has no
    // TIGER downloads), are parsed by the dependency-free ESRI/dBASE
    // reader with the reference's lowercase/digit-strip renames
    // (GEOID24 → geoid), and then drive the exact q29 spatial-assign +
    // weighted-centroid chain — same oracle as q29.
    QueryDef(
      "q97_cenloc_shapefile",
      (s, dir) => {
        val sfName = dir.replaceAll(".*/", "")
        val zip = s"/tmp/graft_shp_$sfName.zip"
        if (!new java.io.File(zip).exists()) {
          val recs = (0 until 5).map { i =>
            (Seq[Any](s"G$i"), Geometry.parseWkt(
              Geometry.rectWkt(120.001 + 5 * i, 28.001, 125.001 + 5 * i, 46.001)))
          }
          graft.sources.Shapefile.writeZip(zip, "tl_2024_graft",
            Seq(graft.sources.Shapefile.Field("GEOID24", 'C', 4, 0)), recs)
        }
        val gdf = graft.sources.Shapefile.loadZip(s, zip)
        val polys = gdf.select("geoid", "wkt").collect()
          .map(r => (r.getString(0), r.getString(1))).sortBy(_._1).toSeq
        cenlocFromPolys(s, dir, polys)
      },
      Some(s"""WITH $cenlocSql
              |SELECT geoid, x, y, x_wt, y_wt, population FROM cenloc""".stripMargin)),

    // ------------------------------------------------------------------
    // q98: the reference's FULL ETL spine composed end-to-end — blocks →
    // spatial-assign → weighted centroids (create_cenloc.py) → buffered
    // within-filter keep-list (create_destpoint.py) → OD expansion →
    // distributed route matrix (calculate_times.py), one oracle over the
    // whole chain. Weighted centroids become the routed coordinates,
    // exactly like the reference's centroid_type=weighted runs.
    QueryDef(
      "q98_reference_spine",
      (s, dir) => {
        import s.implicits._
        val boundary = Geometry.Polygon(Array(
          (123.0, 30.0), (131.9, 30.0), (131.9, 44.0), (123.0, 44.0)))
        val dest = Destpoint.run(cenlocFrame(s, dir), boundary, buffer = 1.0)
        val origins = dest.select(
          concat(lit("O"), $"geoid").as("id"),
          $"x_wt".as("lon"), $"y_wt".as("lat")).as[RoutePoint].collect()
        val dests = dest.select(
          concat(lit("D"), $"geoid").as("id"),
          $"x_wt".as("lon"), $"y_wt".as("lat")).as[RoutePoint].collect()
        TravelTimeMatrix.run(s, origins, dests,
          new SyntheticRouter(speedMps = 30.0),
          oSplit = 2, dSplit = 2, maxDepth = 4).toDF()
      },
      Some(s"""WITH $cenlocSql,
              |dp AS (
              |  SELECT geoid, x_wt, y_wt FROM cenloc
              |  WHERE (x > 122.0 AND x < 132.9 AND y > 29.0 AND y < 45.0)
              |     OR (x_wt > 122.0 AND x_wt < 132.9 AND y_wt > 29.0 AND y_wt < 45.0))
              |SELECT 'O' || a.geoid AS origin_id, 'D' || b.geoid AS destination_id,
              |  (abs(a.x_wt - b.x_wt) + abs(a.y_wt - b.y_wt)) * 111320.0 / 30.0 AS duration_sec
              |FROM dp a CROSS JOIN dp b""".stripMargin)),

    // ------------------------------------------------------------------
    // q100: F13 bbox intersection clip (create_osmclip.py:50-54 — the
    // dateline guard box). Integer-coordinate rectangles clip through the
    // REAL Sutherland–Hodgman path; axis-parallel clip edges snap
    // intersection coordinates exactly, so the engine's clipped bbox is
    // bit-equal to the oracle's GREATEST/LEAST arithmetic. Disjoint and
    // zero-width-touch rectangles must come back null (fully clipped).
    QueryDef(
      "q100_bbox_clip",
      (s, dir) => {
        import s.implicits._
        val clipU = udf { (x1: Double, y1: Double, x2: Double, y2: Double) =>
          val p = Geometry.parseWkt(Geometry.rectWkt(x1, y1, x2, y2))
            .clipBbox(10.0, 10.0, 60.0, 50.0)
          if (p.rings.isEmpty) null
          else { val (a, b, c, d) = p.bbox; Array(a, b, c, d) }
        }
        T.customer(s, dir).select(
          $"c_custkey",
          ($"c_custkey" % 83).cast("double").as("x1"),
          (($"c_custkey" * 3) % 71).cast("double").as("y1"),
          (($"c_custkey" % 83) + ($"c_custkey" % 29) + 1).cast("double").as("x2"),
          ((($"c_custkey" * 3) % 71) + ($"c_custkey" % 17) + 1).cast("double").as("y2"))
          .withColumn("bb", clipU($"x1", $"y1", $"x2", $"y2"))
          .select($"c_custkey", $"x1", $"y1", $"x2", $"y2",
            $"bb" (0).as("cxmin"), $"bb" (1).as("cymin"),
            $"bb" (2).as("cxmax"), $"bb" (3).as("cymax"))
      },
      Some("""WITH r AS (
             |  SELECT c_custkey,
             |    CAST(c_custkey % 83 AS DOUBLE) AS x1,
             |    CAST((c_custkey * 3) % 71 AS DOUBLE) AS y1,
             |    CAST((c_custkey % 83) + (c_custkey % 29) + 1 AS DOUBLE) AS x2,
             |    CAST((c_custkey * 3) % 71 + (c_custkey % 17) + 1 AS DOUBLE) AS y2
             |  FROM customer),
             |o AS (
             |  SELECT *, GREATEST(x1, 10.0) < LEAST(x2, 60.0)
             |        AND GREATEST(y1, 10.0) < LEAST(y2, 50.0) AS ov FROM r)
             |SELECT c_custkey, x1, y1, x2, y2,
             |  CASE WHEN ov THEN GREATEST(x1, 10.0) END AS cxmin,
             |  CASE WHEN ov THEN GREATEST(y1, 10.0) END AS cymin,
             |  CASE WHEN ov THEN LEAST(x2, 60.0) END AS cxmax,
             |  CASE WHEN ov THEN LEAST(y2, 50.0) END AS cymax
             |FROM o""".stripMargin)),

    // ------------------------------------------------------------------
    // q101: S12 OSM pbf decode proven real — planted nodes (id/coords/tag
    // derived from c_custkey) go through the full container: varint/
    // zigzag/delta encode → zlib blob → distributed blob decode. OSM's
    // fixed-point model (granularity 100 = 1e-7°) makes the roundtrip
    // exact for these coords, and the decoder's `1e-9 * (offset + 100 *
    // units)` arithmetic is replayed verbatim in the oracle.
    QueryDef(
      "q101_osm_pbf",
      (s, dir) => {
        import s.implicits._
        val keys = T.customer(s, dir).select($"c_custkey").collect().map(_.getLong(0))
        val nodes = keys.toSeq.map { c =>
          graft.sources.OsmPbf.PbfNode(c,
            30.0 + (c % 1000) * 0.001, -100.0 + (c % 500) * 0.002,
            Map("name" -> s"n$c"))
        }
        val path = s"/tmp/graft_pbf_q101_${dir.replaceAll(".*/", "")}.pbf"
        graft.sources.OsmPbf.writePbf(path, nodes, Nil)
        graft.sources.OsmPbf.nodes(s, path).select(
          $"id", $"lat", $"lon", element_at($"tags", "name").as("name"))
      },
      Some("""SELECT c_custkey AS id,
             |  1e-9 * (30000000000 + (c_custkey % 1000) * 1000000) AS lat,
             |  1e-9 * (-100000000000 + (c_custkey % 500) * 2000000) AS lon,
             |  'n' || CAST(c_custkey AS VARCHAR) AS name
             |FROM customer""".stripMargin)),

    // ------------------------------------------------------------------
    // q128: tile pyramid with densest-coalesce retention — the in-engine
    // analog of the reference's tippecanoe stage (create_tiles.sh:20-24).
    // Slippy z/x/y + quadkey are pure double arithmetic (exact tile
    // indices for z ≤ 30) replayed verbatim in SQL; per-tile thinning is
    // a rank window (weight desc, id asc), tippecanoe's
    // --coalesce-densest-as-needed as a declarative plan. One explode
    // (5 zooms), one shuffle on the tile key.
    QueryDef(
      "q128_tile_pyramid",
      (s, dir) => {
        import s.implicits._
        val pts = T.customer(s, dir).select(
          $"c_custkey".as("id"),
          (lit(120.0) + ($"c_custkey" % 97) * 0.25).as("lon"),
          (lit(28.0) + ($"c_custkey" % 89) * 0.25).as("lat"),
          $"c_acctbal".as("weight"))
        Tiles.pyramid(pts, "id", "lon", "lat", "weight",
          minZ = 4, maxZ = 8, cap = 8)
      },
      Some(s"""WITH pts AS (
              |  SELECT c_custkey AS id,
              |         120.0 + (c_custkey % 97) * 0.25 AS lon,
              |         28.0 + (c_custkey % 89) * 0.25 AS lat,
              |         c_acctbal AS weight
              |  FROM customer),
              |t AS (
              |  SELECT id, lon, lat, weight,
              |         unnest(generate_series(4, 8)) AS zoom FROM pts),
              |$tileXySql,
              |r AS (
              |  SELECT zoom, tile_x, tile_y, id, weight,
              |    CAST(row_number() OVER (PARTITION BY zoom, tile_x, tile_y
              |                            ORDER BY weight DESC, id) AS BIGINT) AS rnk,
              |    count(*) OVER (PARTITION BY zoom, tile_x, tile_y) AS n_in_tile
              |  FROM xy)
              |SELECT CAST(zoom AS BIGINT) AS zoom, tile_x, tile_y,
              |  $quadkeySql AS quadkey,
              |  id, weight, rnk, rnk <= 8 AS kept, n_in_tile
              |FROM r""".stripMargin),
      headline = true),

    // q129: tile-level manifest rollup over the q128 pyramid (counts +
    // kept counts + weight mass per tile) — what the reference's tile
    // index JSON is derived from. Weight sums are exact: acctbal is
    // 2-decimal fixed-point, so summing in cents and dividing once keeps
    // the oracle bit-identical.
    QueryDef(
      "q129_tile_stats",
      (s, dir) => {
        import s.implicits._
        val pts = T.customer(s, dir).select(
          $"c_custkey".as("id"),
          (lit(120.0) + ($"c_custkey" % 97) * 0.25).as("lon"),
          (lit(28.0) + ($"c_custkey" % 89) * 0.25).as("lat"),
          round($"c_acctbal" * 100).cast("long").as("weight"))
        Tiles.tileStats(
          Tiles.pyramid(pts, "id", "lon", "lat", "weight",
            minZ = 4, maxZ = 8, cap = 8), "weight")
      },
      Some(s"""WITH pts AS (
              |  SELECT c_custkey AS id,
              |         120.0 + (c_custkey % 97) * 0.25 AS lon,
              |         28.0 + (c_custkey % 89) * 0.25 AS lat,
              |         CAST(round(c_acctbal * 100, 0) AS BIGINT) AS weight
              |  FROM customer),
              |t AS (
              |  SELECT id, lon, lat, weight,
              |         unnest(generate_series(4, 8)) AS zoom FROM pts),
              |$tileXySql,
              |r AS (
              |  SELECT zoom, tile_x, tile_y, id, weight,
              |    CAST(row_number() OVER (PARTITION BY zoom, tile_x, tile_y
              |                            ORDER BY weight DESC, id) AS BIGINT) AS rnk
              |  FROM xy)
              |SELECT CAST(zoom AS BIGINT) AS zoom, tile_x, tile_y,
              |  $quadkeySql AS quadkey,
              |  count(*) AS n_features,
              |  CAST(sum(CASE WHEN rnk <= 8 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
              |  CAST(sum(weight) AS BIGINT) AS weight
              |FROM r
              |GROUP BY 1, 2, 3, 4""".stripMargin))
  )

  /** Shared oracle fragment: slippy tile x/y from (lon, lat, zoom) —
    * mirrors [[Tiles.tileX]]/[[Tiles.tileY]] exactly.
    */
  private val tileXySql =
    """xy AS (
      |  SELECT id, weight, zoom,
      |    CAST(floor((lon + 180.0) / 360.0 * pow(2.0, zoom)) AS BIGINT) AS tile_x,
      |    CAST(floor((1.0 - ln(tan(radians(lat)) + 1.0 / cos(radians(lat))) / pi())
      |         / 2.0 * pow(2.0, zoom)) AS BIGINT) AS tile_y
      |  FROM t)""".stripMargin

  /** Shared oracle fragment: base-4 quadkey — mirrors [[Tiles.quadkey]]. */
  private val quadkeySql =
    """array_to_string(list_transform(generate_series(zoom - 1, 0, -1),
      |    i -> CAST(CAST(floor(tile_x / pow(2.0, i)) AS BIGINT) % 2
      |              + 2 * (CAST(floor(tile_y / pow(2.0, i)) AS BIGINT) % 2) AS VARCHAR)),
      |    '')""".stripMargin
}
