package graft

import graft.operators.Skew
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Scale-technique demonstrations: salting for aggregation skew, bucketed
  * co-located joins, dynamic partition overwrite. These assert the
  * *plan shapes* the 100 TB deployment depends on.
  */
class ScaleSpec extends AnyFunSuite {
  import SparkTestSession._

  test("salted aggregation matches plain aggregation and spreads the hot key") {
    val s = spark
    import s.implicits._
    // skewed: key 0 owns 90% of rows
    val df = (0 until 20000).map(i => (if (i % 10 != 0) 0L else (i % 97).toLong, 1L))
      .toDF("k", "v")
    val plain = df.groupBy($"k").agg(count(lit(1)).as("n_rows"), sum($"v").as("sum_v"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val salted = Skew.saltedAgg(df, "k", salts = 8, sums = Seq("v"))
      .collect().map(r => r.getAs[Long]("k") -> (r.getAs[Long]("n_rows"), r.getAs[Long]("sum_v"))).toMap
    assert(salted == plain)
    // the plan must aggregate on (k, _salt) before the final merge on k
    val planStr = Skew.saltedAgg(df, "k", 8, Seq("v")).queryExecution.executedPlan.toString
    assert(planStr.contains("_salt"), "no salt phase in plan")
  }

  test("salted join matches the plain join and runs on (key, salt)") {
    // own session: isolated SQLConf (parallel suites share one SparkContext)
    val s = spark.newSession()
    import s.implicits._
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // the salting case: dim too big to broadcast
    // fact: key 0 owns 90% of rows — one task would own it in a plain SMJ
    val fact = (0 until 20000).map(i => (if (i % 10 != 0) 0L else (i % 97).toLong, i.toLong))
      .toDF("k", "v")
    val dim = (0L until 97L).map(k => (k, s"dim_$k")).toDF("k", "name")
    val plain = fact.join(dim, Seq("k")).select("k", "v", "name")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val saltedDf = graft.operators.SkewJoin.salted(fact, dim, "k", salts = 8, saltSource = col("v"))
    val salted = saltedDf.select("k", "v", "name")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(salted == plain)
    val planStr = saltedDf.queryExecution.executedPlan.toString
    assert(planStr.contains("_salt"), "join does not run on the salt key")
  }

  test("compaction merges small files and preserves data + ordering contract") {
    val s = spark
    import s.implicits._
    val dir = "/tmp/graft_compact_spec"
    val df = (0 until 5000).map(i => (f"id$i%05d", i.toDouble, "0.0.1", "car", "2024",
        "county", f"${i % 3}%02d", "weighted"))
      .toDF("origin_id", "duration_sec", "version", "mode", "year",
        "geography", "state", "centroid_type")
    // force many tiny files
    graft.sources.TableIO.writePartitioned(df, dir, Seq("origin_id"), maxRecordsPerFile = 100L)
    val (before, after) = graft.sources.TableIO.compact(s, dir, Seq("origin_id"))
    assert(before > after, s"no compaction: $before -> $after")
    assert(after == 3, s"expected 1 file per state partition, got $after")
    val back = graft.sources.TableIO.readPartitioned(s, dir)
    assert(back.count() == 5000)
    // per-file ordering survives (row-group pruning contract)
    val oneFile = back.select(input_file_name().as("f"), $"origin_id")
      .collect().groupBy(_.getString(0)).values.head.map(_.getString(1)).toSeq
    assert(oneFile == oneFile.sorted, "in-file ordering lost after compaction")
  }

  test("AQE splits a skewed sort-merge join at runtime (skew=true)") {
    // own session: isolated SQLConf (parallel suites share one SparkContext)
    val s = spark.newSession()
    import s.implicits._
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // shrink the skew thresholds so fixture-scale data triggers the
    // same OptimizeSkewedJoin rewrite a 100 TB hot key would
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16k")
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16k")
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    val fact = (0 until 200000)
      .map(i => (if (i % 20 != 0) 0L else (i % 97).toLong, i.toLong)).toDF("k", "v")
    val dim = (0L until 97L).map(k => (k, s"d$k")).toDF("k", "name")
    val joined = fact.join(dim, Seq("k"))
    // collect() (not count()) so THIS plan instance executes and AQE
    // finalizes it — count() runs a separate plan tree
    assert(joined.collect().length == 200000)
    val planStr = joined.queryExecution.executedPlan.toString
    assert(planStr.contains("skew=true"), "AQE did not split the skewed join:\n" + planStr.take(1200))
  }

  test("bucketed tables join without a shuffle exchange") {
    // own session: isolated SQLConf (parallel suites share one SparkContext)
    val s = spark.newSession()
    import s.implicits._
    try {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force non-broadcast
      s.sql("DROP TABLE IF EXISTS b_orders")
      s.sql("DROP TABLE IF EXISTS b_customer")
      // the in-memory catalog forgets tables across JVMs but warehouse
      // files persist — clear leftovers or CREATE hits LOCATION_ALREADY_EXISTS
      Seq("b_orders", "b_customer").foreach { t =>
        val p = java.nio.file.Paths.get(s"/tmp/graft_warehouse/$t")
        if (java.nio.file.Files.exists(p)) {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
            .foreach(java.nio.file.Files.delete)
        }
      }
      Tables.orders(s, sf0001).write.mode("overwrite")
        .bucketBy(8, "o_custkey").sortBy("o_custkey").saveAsTable("b_orders")
      Tables.customer(s, sf0001).write.mode("overwrite")
        .bucketBy(8, "c_custkey").saveAsTable("b_customer")
      val j = s.table("b_orders")
        .join(s.table("b_customer"), $"o_custkey" === $"c_custkey")
      j.collect()
      val planStr = j.queryExecution.executedPlan.toString
      assert(planStr.contains("SortMergeJoin") || planStr.contains("ShuffledHashJoin"), planStr.take(400))
      assert(!planStr.contains("Exchange hashpartitioning"),
        "bucketed join still shuffled:\n" + planStr.take(1200))
    } finally {
      // catalog entries are shared across sessions — clean up for other suites
      s.sql("DROP TABLE IF EXISTS b_orders")
      s.sql("DROP TABLE IF EXISTS b_customer")
    }
  }

  test("dynamic partition overwrite rewrites only the touched partition") {
    // own session: partitionOverwriteMode must not leak to parallel suites
    val s = spark.newSession()
    import s.implicits._
    val dir = "/tmp/graft_dpo_spec"
    val mkDf = (states: Seq[(String, String)]) => states.toDF("id", "state")
    s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    mkDf(Seq(("a", "01"), ("b", "02"))).write.mode("overwrite")
      .partitionBy("state").parquet(dir)
    // overwrite only state=02
    mkDf(Seq(("c", "02"))).write.mode("overwrite").partitionBy("state").parquet(dir)
    val back = graft.sources.TableIO.readPartitioned(s, dir)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(back == Set(("a", "01"), ("c", "02"))) // 01 untouched, 02 replaced
  }
}
