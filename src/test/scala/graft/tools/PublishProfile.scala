package graft.tools

import graft.routing._
import graft.sources.TableIO
import graft.{GraftSession, Tables => T}
import org.apache.spark.sql.functions._

/** Diagnostic: decompose q36_publish_roundtrip cost into route / write /
  * read+agg on SPARK_GRAFT_SF_DIR.
  */
object PublishProfile {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val s = GraftSession.local("publish-profile")
    import s.implicits._

    def timed[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[profile] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }

    val origins = T.customer(s, dir).select(
      lpad($"c_custkey".cast("string"), 9, "0").as("id"),
      (lit(120.0) + ($"c_custkey" % 97) * 0.25).as("lon"),
      (lit(28.0) + ($"c_custkey" % 89) * 0.25).as("lat"))
    val dests = T.supplier(s, dir).select(
      lpad(($"s_suppkey" + 500000).cast("string"), 9, "0").as("id"),
      (lit(120.5) + ($"s_suppkey" % 83) * 0.25).as("lon"),
      (lit(28.5) + ($"s_suppkey" % 79) * 0.25).as("lat"))
    val router = new SyntheticRouter(
      speedMps = 30.0,
      originIsland = p => p.id.toLong % 37 == 0,
      destIsland = p => (p.id.toLong - 500000) % 41 == 0)

    val os = origins.as[RoutePoint].collect()
    val ds = dests.as[RoutePoint].collect()
    def routed = TravelTimeMatrix.run(
      s, os, ds, router,
      oSplit = 512, dSplit = 64, maxDepth = 12)

    timed("route only (noop write)") {
      routed.toDF().write.format("noop").mode("overwrite").save()
    }

    val ptimes = routed.toDF()
      .withColumn("version", lit("0.0.1"))
      .withColumn("mode", lit("car"))
      .withColumn("year", lit("2024"))
      .withColumn("geography", lit("county"))
      .withColumn("state", substring($"origin_id", 8, 2))
      .withColumn("centroid_type", lit("weighted"))

    val out = "/tmp/graft_profile_publish"
    timed("route + partitioned zstd write") {
      TableIO.writePartitioned(ptimes, out, Seq("origin_id", "destination_id"))
    }
    // finer decomposition (r13): where inside publish+readback the time
    // goes — exchange+sort alone, the parquet encode+commit, the
    // read-back scan alone, then the full chunk_id+agg consumer
    timed("route + rebalance exchange + sort (noop, no parquet)") {
      ptimes.drop("version", "mode", "year", "geography", "centroid_type")
        .hint("rebalance", col("state"))
        .sortWithinPartitions(col("state"), col("origin_id"), col("destination_id"))
        .write.format("noop").mode("overwrite").save()
    }
    timed("route + partitioned zstd write (2nd)") {
      TableIO.writePartitioned(ptimes, out, Seq("origin_id", "destination_id"))
    }
    timed("read back scan only (all cols, noop)") {
      TableIO.readPartitioned(s, out)
        .write.format("noop").mode("overwrite").save()
    }
    timed("read back duration_sec only (noop)") {
      TableIO.readPartitioned(s, out).select($"state", $"duration_sec")
        .write.format("noop").mode("overwrite").save()
    }
    timed("read back + chunk_id + agg (q36 consumer)") {
      TableIO.withChunkId(TableIO.readPartitioned(s, out))
        .groupBy($"state")
        .agg(count(lit(1)).as("n_rows"),
          count(when($"duration_sec".isNull, 1)).as("n_missing"),
          countDistinct($"chunk_id").as("n_files"))
        .write.format("noop").mode("overwrite").save()
    }
    timed("read back + agg WITHOUT chunk_id (regex cost probe)") {
      TableIO.readPartitioned(s, out)
        .groupBy($"state")
        .agg(count(lit(1)).as("n_rows"),
          count(when($"duration_sec".isNull, 1)).as("n_missing"))
        .write.format("noop").mode("overwrite").save()
    }
    s.stop()
  }
}
