package graft

import graft.plans.WeightedMeanAgg
import graft.schemas.Schemas
import graft.sources.TableIO
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SchemaSpec extends AnyFunSuite {
  import SparkTestSession._

  test("registry: published trees conform to the version-keyed table specs") {
    // reuse JobSpec's published tree layout by running a minimal job here
    val s = spark
    import s.implicits._
    import graft.routing._
    import graft.jobs.CalculateTimes
    val result = CalculateTimes.run(s,
      Seq(RawPoint("000000101", 120.0, 30.0), RawPoint("000000202", 121.0, 31.0)).toDS(),
      Seq(RawPoint("000500301", 122.0, 32.0)).toDS(),
      new GridSnapper(), new SyntheticRouter(30.0, originIsland = _.id == "000000202"),
      CalculateTimes.Config(outDir = "/tmp/graft_schema_spec"))
    val spec = Schemas.registry("0.0.1")

    def dataCols(dir: String, extraPartitionLevels: Seq[String]): Seq[(String, String)] = {
      val df = TableIO.readPartitioned(spark, dir)
      df.schema.fields
        .filterNot(f => (TableIO.PartitionKeys ++ extraPartitionLevels).contains(f.name))
        .map(f => f.name -> f.dataType.typeName).toSeq
    }
    assert(dataCols(result.timesDir, Nil) ==
      spec("times").schema.fields.map(f => f.name -> f.dataType.typeName).toSeq)
    assert(dataCols(result.pointsDir, Seq("point_type")) ==
      spec("points").schema.fields.filterNot(_.name == "point_type")
        .map(f => f.name -> f.dataType.typeName).toSeq)
    assert(dataCols(result.missingDir, Nil) ==
      spec("missing_pairs").schema.fields.map(f => f.name -> f.dataType.typeName).toSeq)
    val metaCols = spark.read.parquet(result.metadataDir).schema.fields
      .filterNot(f => TableIO.PartitionKeys.contains(f.name)).map(_.name).toSet
    assert(Schemas.metadata.fields.map(_.name).toSet.subsetOf(metaCols))
  }

  test("empty published tree stays readable with the registry schema") {
    val s = spark
    import s.implicits._
    import graft.routing._
    import graft.jobs.CalculateTimes
    // no islands → zero missing pairs → missing_pairs tree has no files
    val result = CalculateTimes.run(s,
      Seq(RawPoint("000000101", 120.0, 30.0)).toDS(),
      Seq(RawPoint("000500301", 122.0, 32.0)).toDS(),
      new GridSnapper(), new SyntheticRouter(30.0),
      CalculateTimes.Config(outDir = "/tmp/graft_schema_empty_spec"))
    intercept[Exception] { // schema inference on an empty tree fails...
      TableIO.readPartitioned(spark, result.missingDir).count()
    }
    val withSchema = TableIO.readPartitioned( // ...the registry keeps it readable
      spark, result.missingDir, Some(Schemas.missingPairs))
    assert(withSchema.count() == 0)
  }

  test("params validation rejects malformed inputs (F2)") {
    Schemas.Params("0.0.1", "car", "2024", "tract", "weighted") // ok
    intercept[IllegalArgumentException](Schemas.Params("x", "car", "2024", "tract", "weighted"))
    intercept[IllegalArgumentException](Schemas.Params("0.0.1", "plane", "2024", "tract", "weighted"))
    intercept[IllegalArgumentException](Schemas.Params("0.0.1", "car", "24", "tract", "weighted"))
    intercept[IllegalArgumentException](Schemas.Params("0.0.1", "car", "2024", "city", "weighted"))
  }

  test("declarative weighted-mean aggregate matches the 3-agg formula incl. zero-weight fallback") {
    val s = spark
    import s.implicits._
    val df = Seq(
      ("a", 10.0, 1.0), ("a", 20.0, 3.0),   // weighted: (10+60)/4 = 17.5
      ("b", 5.0, 0.0), ("b", 15.0, 0.0))    // zero weight → mean = 10.0
      .toDF("g", "v", "w")
    val got = df.groupBy($"g")
      .agg(WeightedMeanAgg.weightedMean($"v", $"w").as("wm"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got("a") == 17.5)
    assert(got("b") == 10.0)
    // equivalence with the formula version on real data
    val block = Tables.lineitem(spark, sf0001).select(
      ($"l_partkey" % 20).as("g"), $"l_extendedprice".as("v"), $"l_discount".as("w"))
    val formula = block.groupBy($"g")
      .agg(graft.etl.Centroids.weightedMean($"v", $"w").as("wm"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val declarative = block.groupBy($"g")
      .agg(WeightedMeanAgg.weightedMean($"v", $"w").as("wm"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    formula.foreach { case (k, v) =>
      assert(math.abs(declarative(k) - v) < 1e-9, s"group $k")
    }
  }
}
