package graft

import graft.operators.ZOrder
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ZOrderSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private def mortonRef(vals: Seq[Long], bits: Int): Long = {
    var z = 0L
    val k = vals.size
    for (i <- 0 until bits; j <- 0 until k)
      z |= ((vals(j) >> i) & 1L) << (i * k + j)
    z
  }

  test("zValue equals the reference interleave for 2 and 3 columns") {
    val rows = Seq((0L, 0L, 0L), (1L, 2L, 3L), (511L, 0L, 257L),
      (123L, 456L, 789L), (65535L, 65535L, 65535L))
    val df = rows.toDF("x", "y", "w")
    val got2 = df.select(ZOrder.zValue(Seq($"x", $"y"), 16).as("z"))
      .as[Long].collect().toSeq
    assert(got2 == rows.map(r => mortonRef(Seq(r._1, r._2), 16)))
    val got3 = df.select(ZOrder.zValue(Seq($"x", $"y", $"w"), 16).as("z"))
      .as[Long].collect().toSeq
    assert(got3 == rows.map(r => mortonRef(Seq(r._1, r._2, r._3), 16)))
  }

  test("z-clustering prunes on EVERY dimension; a linear sort only on its prefix") {
    val s = spark
    val grid = (0 until 512).flatMap(x => (0 until 512).map(y => (x.toLong, y.toLong)))
      .toDF("x", "y")

    def rowsRead(dir: String, pred: org.apache.spark.sql.Column): Long = {
      val q = s.read.parquet(dir).filter(pred)
      q.collect()
      q.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.head.metrics("numOutputRows").value
    }

    val zDir = "/tmp/graft_zorder_spec/z"
    val linDir = "/tmp/graft_zorder_spec/linear"
    grid.withColumn("__z", ZOrder.zValue(Seq($"x", $"y"), bits = 9))
      .repartitionByRange(8, $"__z").sortWithinPartitions($"__z").drop("__z")
      .write.mode("overwrite")
      .option("parquet.block.size", (64 * 1024).toString)
      .parquet(zDir)
    grid.repartitionByRange(8, $"x").sortWithinPartitions($"x")
      .write.mode("overwrite")
      .option("parquet.block.size", (64 * 1024).toString)
      .parquet(linDir)

    val total = 512L * 512L
    val yBand = $"y" >= 200L && $"y" <= 215L // 3% of rows
    // x-sorted layout: y stats are loose in every group -> full scan
    val linRead = rowsRead(linDir, yBand)
    val zRead = rowsRead(zDir, yBand)
    assert(linRead > total / 2,
      s"fixture broken: linear layout unexpectedly pruned y ($linRead)")
    assert(zRead < linRead / 4,
      s"z layout read $zRead of $total on a y band; linear read $linRead")
    // the same layout still prunes x (no regression vs the linear sort)
    val xBand = $"x" >= 0L && $"x" <= 15L
    assert(rowsRead(zDir, xBand) < total / 4)
    // and a 2-d box touches a small fraction
    val box = xBand && yBand
    assert(rowsRead(zDir, box) < total / 8,
      "2-d box should read a small fraction under z clustering")
    // correctness: same rows as the linear layout
    assert(s.read.parquet(zDir).filter(box).count() ==
      s.read.parquet(linDir).filter(box).count())
  }
}
