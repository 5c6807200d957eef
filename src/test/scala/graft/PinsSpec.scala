package graft

import org.scalatest.funsuite.AnyFunSuite

/** The shared pin primitive: every eager multi-consumer checkpoint routes
  * through one helper, which is reliable once the context has a
  * checkpoint dir.
  */
class PinsSpec extends AnyFunSuite {
  import SparkTestSession._
  import graft.operators.Pins

  private def localFile(uri: String) =
    new java.io.File(new org.apache.hadoop.fs.Path(uri).toUri.getPath)

  test("local mode: lineage truncated to a checkpoint scan, rows intact") {
    val spark2 = spark
    import spark2.implicits._
    val df = Pins.pin(Seq(1, 2, 3).toDF("x"))
    assert(df.queryExecution.sparkPlan.toString.contains("Scan ExistingRDD"),
      df.queryExecution.sparkPlan.toString.take(500))
    assert(df.as[Int].collect().sorted.toSeq == Seq(1, 2, 3))
    assert(checkpointFiles(df).isEmpty, "no checkpoint dir: executor storage only")
  }

  test("checkpoint dir set: pins are reliable and disk-backed") {
    val spark2 = spark
    import spark2.implicits._
    val dir = java.nio.file.Files.createTempDirectory("pins-spec").toString
    withCheckpointDir(dir) {
      // two pins of the same shape: both stay readable
      val a = Pins.pin(Seq(1, 2).toDF("x"))
      val b = Pins.pin(Seq(3, 4).toDF("x"))
      assert(a.as[Int].collect().sorted.toSeq == Seq(1, 2))
      assert(b.as[Int].collect().sorted.toSeq == Seq(3, 4))
      // each pin reads its own files under the dir (recomputable after
      // executor loss), not an executor-storage block
      val (fa, fb) = (checkpointFiles(a), checkpointFiles(b))
      assert(fa.size == 1 && fb.size == 1 && fa != fb, s"$fa / $fb")
      (fa ++ fb).foreach { f =>
        assert(f.contains("pins-spec"), f)
        assert(localFile(f).listFiles().exists(_.getName.startsWith("part-")), f)
      }
    }
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
  }

  test("checkpoint dir set: a dropped pin's files are reclaimed") {
    val spark2 = spark
    import spark2.implicits._
    val dir = java.nio.file.Files.createTempDirectory("pins-gc").toString
    withCheckpointDir(dir) {
      // the frame lives only inside this function
      def pinOnce(): java.io.File = {
        val df = Pins.pin(Seq(5, 6, 7).toDF("x"))
        assert(df.count() == 3L)
        localFile(checkpointFiles(df).head)
      }
      val rddDir = pinOnce()
      assert(rddDir.getName.startsWith("rdd-") && rddDir.isDirectory, rddDir)
      val deadline = System.nanoTime() + 10L * 1000000000L
      while (rddDir.exists() && System.nanoTime() < deadline) {
        System.gc()
        Thread.sleep(200)
      }
      assert(!rddDir.exists(), s"$rddDir still present 10 s after its frame was dropped")
    }
  }
}
