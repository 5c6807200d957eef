package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

import graft.GraftSession

/** One benchmark run in a fresh JVM:
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --cpus <n> --work <dir> [--traces <dir>]
  *
  * Set-up is repeated three times from scratch (the median counts), then a
  * few warm-up rounds run, then whole rounds of operations run until
  * `--seconds` have passed. Each set-up and each operation is timed alone;
  * its output is checked afterwards, outside the timed region, and a wrong
  * output anywhere, warm-up included, makes the run incorrect. The last
  * line of standard output is the result object.
  *
  * With `--trace 1` rounds alternate between traced and untraced, and the
  * per-layer metrics are medians over the traced operations.
  */
object Main {

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_ms" -> "ms", "items_per_s" -> "1/s",
    "stored_bytes_per_item" -> "B", "heap_peak_mb" -> "MiB")

  val PerLayer: Seq[(String, String)] = Seq(
    "jobs.calculate_ms" -> "ms", "jobs.commit_ms" -> "ms",
    "routing.router_calls" -> "count", "routing.router_busy_ms" -> "ms",
    "routing.router_ok_ratio" -> "ratio", "routing.snap_busy_ms" -> "ms",
    "routing.snap_points" -> "count",
    "sources.bytes_written" -> "B", "sources.files_written" -> "count",
    "sources.fs_renames" -> "count", "sources.fs_write_ops" -> "count",
    "sources.files_read" -> "count", "sources.bytes_read" -> "B",
    "sources.rows_scanned_per_row" -> "ratio",
    "plans.plan_ms" -> "ms", "plans.exec_ms" -> "ms",
    "operators.signature_ms" -> "ms", "operators.candidates_per_pair" -> "ratio",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.shuffle_write_mb" -> "MiB", "spark.shuffle_read_mb" -> "MiB",
    "spark.spill_mb" -> "MiB", "spark.task_skew" -> "ratio") ++
    Trace.Modules.map(m => s"spark.stage_ms.$m" -> "ms") ++ Seq(
    "jvm.gc_ms" -> "ms", "jvm.alloc_mb" -> "MiB",
    "trace.op_p50_ms" -> "ms", "trace.untraced_op_p50_ms" -> "ms", "trace.overhead_ms" -> "ms",
    // a tail only where a run has at least ten operations beyond it (lookup)
    "op_p90_ms" -> "ms")

  /** Per-layer metrics that are ratios of two per-operation sums. */
  private val Ratios = Seq(
    "routing.router_ok_ratio" -> ("routing.router_ok", "routing.router_calls"),
    "sources.rows_scanned_per_row" -> ("sources.rows_scanned", "sources.rows_returned"),
    "operators.candidates_per_pair" -> ("operators.candidates", "operators.verified_pairs"))

  val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val name = a("workload")
    require(Workloads.names.contains(name), s"unknown workload '$name'")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a.get("trace").contains("1")
    val cpus = a("cpus").toInt
    val work = Paths.get(a("work")).toAbsolutePath
    Files.createDirectories(work)

    val b = GraftSession.builder("perfbench", s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.default.parallelism", cpus.toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      // the status store keeps this many finished jobs, stages and SQL
      // executions; small limits stop its growth from reading as the
      // program's heap
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "20")
      .config("spark.ui.retainedTasks", "200")
      .config("spark.sql.ui.retainedExecutions", "5")
    if (traced) b.config("spark.hadoop.fs.file.impl", classOf[CountingFileSystem].getName)
    val spark = b.getOrCreate()
    try {
      spark.sparkContext.setLogLevel("WARN")
      val sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
      log(f"session ready $sessionS%.3f s after JVM start")
      val tr = new Trace(spark.sparkContext)
      val w = Workloads(name, spark, seed, tr)

      // set-up, repeated from scratch; the last one stays for the run and,
      // in a traced run, is traced as operation 0
      var setupLayer = Map.empty[String, Double]
      var setupWrong = false
      val setupS = (0 until SetupReps).map { rep =>
        val dir = work.resolve(s"setup-$rep")
        val traceThis = traced && rep == SetupReps - 1
        tr.beginOp(0, traceThis)
        val t0 = System.nanoTime()
        val check = tr.span("setup", s"$name set-up")(w.setup(dir))
        val s = (System.nanoTime() - t0) / 1e9
        val layer = tr.endOp()
        if (traceThis) setupLayer = layer
        val c0 = System.nanoTime()
        try check()
        catch { case e: CheckFailed => log(s"set-up check failed: ${e.getMessage}"); setupWrong = true }
        if (rep > 0) deleteTree(work.resolve(s"setup-${rep - 1}"))
        log(f"set-up $rep: $s%.3f s, check ${(System.nanoTime() - c0) / 1e9}%.3f s")
        s
      }
      val heap = new HeapPeak
      heap.sample()

      var n = 0L
      final case class Op(ms: Double, ok: Boolean, wrong: Boolean, items: Long,
          traced: Boolean, layer: Map[String, Double])
      // per-layer values of the traced extra calls, one per traced operation
      val extras = mutable.ArrayBuffer.empty[Map[String, Double]]
      def runOp(k: Int, withTrace: Boolean): Op = {
        if (withTrace && w.extraLayers.nonEmpty) {
          n += 1
          tr.beginOp(n, traced = true)
          w.tracedExtra()
          extras += tr.endOp()
        }
        n += 1
        val dir = work.resolve(s"op-$n")
        tr.beginOp(n, withTrace)
        val t0 = System.nanoTime()
        val cpu0 = cpuNanos()
        val done = try Right(tr.span("op", s"$name[$k]")(w.op(k, dir)))
          catch { case e: Exception => Left(e) }
        val ms = (System.nanoTime() - t0) / 1e6
        val cpuMs = (cpuNanos() - cpu0) / 1e6
        val layer = tr.endOp()
        val c0 = System.nanoTime()
        val (ok, wrong) = done match {
          case Right(d) =>
            try { d.check(); (true, false) }
            catch { case e: CheckFailed =>
              log(s"check failed: ${e.getMessage}"); (false, true) }
          case Left(e) =>
            log(s"operation failed: $e"); (false, false)
        }
        deleteTree(dir)
        log(f"op $n%d ($k%d${if (withTrace) ", traced" else ""}): $ms%.1f ms (process CPU $cpuMs%.0f ms), " +
          f"check+cleanup ${(System.nanoTime() - c0) / 1e6}%.1f ms")
        Op(ms, ok, wrong, done.map(_.items).getOrElse(0L), withTrace, layer)
      }

      val warm = for (_ <- 0 until w.warmupRounds; k <- 0 until w.opsPerRound) yield runOp(k, withTrace = false)
      heap.sample()

      val ops = mutable.ArrayBuffer.empty[Op]
      val start = System.nanoTime()
      var round = 0
      // a traced run needs an untraced round too
      val minRounds = if (traced) 2 else 1
      while (round < minRounds || (System.nanoTime() - start) / 1e9 < seconds) {
        val roundTraced = traced && round % 2 == 0
        for (k <- 0 until w.opsPerRound) ops += runOp(k, roundTraced)
        round += 1
      }
      heap.sample()

      val measured = ops.filterNot(_.traced)
      val metrics: Seq[(String, Double)] = if (!traced) {
        val ms = measured.map(_.ms).toSeq
        Seq(
          "setup_s" -> (sessionS + Stats.median(setupS)),
          "op_p50_ms" -> Stats.quantile(ms, 0.5),
          "items_per_s" -> measured.filter(_.ok).map(_.items).sum / (ms.sum / 1000.0),
          "stored_bytes_per_item" -> w.storedBytesPerItem,
          "heap_peak_mb" -> heap.peakMb)
      } else {
        val t = ops.filter(_.traced)
        // each metric is read from one source the workload names: its
        // traced set-up, its traced extra calls, or its traced operations
        def source(m: String): Seq[Map[String, Double]] =
          if (w.setupLayers(m)) Seq(setupLayer)
          else if (w.extraLayers(m)) extras.toSeq
          else t.map(_.layer).toSeq
        def sum(ls: Seq[Map[String, Double]], k: String) = ls.map(_.getOrElse(k, 0.0)).sum
        def med(m: String) = Stats.median(source(m).map(_.getOrElse(m, 0.0)))
        val ratios = Ratios.map { case (m, (num, den)) =>
          val from = source(m)
          m -> (if (sum(from, den) > 0) sum(from, num) / sum(from, den) else 0.0)
        }.toMap
        val tP50 = Stats.median(t.map(_.ms).toSeq)
        val uP50 = Stats.median(measured.map(_.ms).toSeq)
        val special = ratios ++ Map(
          "op_p90_ms" -> Stats.quantile(measured.map(_.ms).toSeq, 0.9),
          "trace.op_p50_ms" -> tP50, "trace.untraced_op_p50_ms" -> uP50, "trace.overhead_ms" -> (tP50 - uP50))
        tr.write(Paths.get(a.getOrElse("traces", work.resolve("traces").toString))
          .resolve(s"$name-seed$seed.jsonl"))
        PerLayer.map { case (m, _) => m -> special.getOrElse(m, med(m)) }
      }
      val units = (EndToEnd ++ PerLayer).toMap
      val body = metrics.map { case (m, v) =>
        s""""$m": {"value": ${Json.num(v)}, "unit": "${units(m)}"}""" }.mkString(", ")
      val failed = measured.count(!_.ok)
      // a wrong answer, in set-up, warm-up or a measured operation, makes
      // the run incorrect; a measured operation that threw only counts as
      // failed
      val correct = !setupWrong && !(warm ++ ops).exists(_.wrong)
      println(s"""{"correct": $correct, "attempted": ${measured.size}, """ +
        s""""failed": $failed, "metrics": {$body}}""")
    } finally spark.stop()
  }

  def cpuNanos(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case o: com.sun.management.OperatingSystemMXBean => o.getProcessCpuTime
    case _ => 0L
  }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }
}

/** Highest heap in use right after a full collection, sampled after
  * set-up, after warm-up and after the measured rounds — outside timed
  * operations. Spark frees the blocks of broadcasts and shuffles that died
  * with a query only after a collection has found them unreachable, from
  * its cleaner thread; the second collection counts the heap once those
  * are gone.
  */
final class HeapPeak {
  private var peak = 0L
  def sample(): Unit = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    Main.log(f"heap after full GC: ${used / 1048576.0}%.1f MiB")
    peak = math.max(peak, used)
  }
  def peakMb: Double = peak / (1024.0 * 1024.0)
}
