package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites. */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("graft-test", "local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  /** Run `body` with reliable checkpoints under `dir`, then clear the
    * dir again so later suites keep the localCheckpoint path (clearing
    * with null is legal on a local master).
    */
  def withCheckpointDir[T](dir: String)(body: => T): T = {
    spark.sparkContext.setCheckpointDir(dir)
    try body finally spark.sparkContext.setCheckpointDir(null)
  }

  /** Reliable checkpoint files the plan of `df` reads (empty for a
    * localCheckpoint or an unpinned frame).
    */
  def checkpointFiles(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.getCheckpointFile
    }.flatten

  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"
}
