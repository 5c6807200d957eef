package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.routing.{RoutePoint, Router, Snapper}
import org.apache.hadoop.fs.{FSDataOutputStream, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.SparkContext
import org.apache.spark.perfbenchbridge.Bus
import org.apache.spark.scheduler._

/** Counters bumped from inside Spark tasks. Each task deserializes its own
  * copy of a router or snapper, so the counts live in one static place
  * (local mode: tasks share the driver JVM).
  */
object Probe {
  val routerCalls, routerOk, routerNanos = new AtomicLong
  val snapPoints, snapNanos = new AtomicLong
  val fsRenames, fsWriteOps = new AtomicLong
}

/** Router wrapper the traced run passes into `CalculateTimes.run`. */
final class TracedRouter(inner: Router) extends Router {
  override def table(o: IndexedSeq[RoutePoint], d: IndexedSeq[RoutePoint]): Array[Array[Double]] = {
    val t0 = System.nanoTime()
    Probe.routerCalls.incrementAndGet()
    try { val m = inner.table(o, d); Probe.routerOk.incrementAndGet(); m }
    finally Probe.routerNanos.addAndGet(System.nanoTime() - t0)
  }
}

final class TracedSnapper(inner: Snapper) extends Snapper {
  override def snap(batch: Seq[(Double, Double)]): Seq[Option[(Double, Double)]] = {
    val t0 = System.nanoTime()
    try inner.snap(batch)
    finally {
      Probe.snapNanos.addAndGet(System.nanoTime() - t0)
      Probe.snapPoints.addAndGet(batch.size)
    }
  }
}

/** The local file system with counters for the namespace operations a
  * tree publish is made of — Hadoop's statistics for the local scheme count
  * bytes only. Installed for the `file` scheme in traced runs.
  */
class CountingFileSystem extends LocalFileSystem {
  override def rename(src: Path, dst: Path): Boolean = {
    Probe.fsRenames.incrementAndGet()
    Probe.fsWriteOps.incrementAndGet()
    super.rename(src, dst)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    Probe.fsWriteOps.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    Probe.fsWriteOps.incrementAndGet()
    super.mkdirs(f, permission)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    Probe.fsWriteOps.incrementAndGet()
    super.delete(f, recursive)
  }
}

/** One span: a call the benchmark makes into a layer, a Spark job, or the
  * operation enclosing them. Times are epoch microseconds.
  */
final case class Span(id: Long, parent: Long, op: Long, kind: String, name: String,
    startUs: Long, endUs: Long)

/** Spark-side counters for the operation in flight, fed by a listener the
  * benchmark registers. Job spans hang under the benchmark span that was
  * open when the job started (carried in a local property).
  */
final class EngineListener(spans: mutable.ArrayBuffer[Span]) extends SparkListener {
  var jobs, stages, tasks = 0L
  var shuffleWrite, shuffleRead, spill = 0L
  val stageMs = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  var skew = 1.0
  private val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val openJobs = mutable.Map.empty[Int, (Long, Long, String, Long)]

  def reset(): Unit = synchronized {
    jobs = 0; stages = 0; tasks = 0; shuffleWrite = 0; shuffleRead = 0; spill = 0
    stageMs.clear(); skew = 1.0; taskMs.clear()
  }

  // SQL executions carry the call site of the action that started them;
  // adaptive query stages run their jobs from a pool thread whose own
  // stack no longer reaches the program
  private val execSite = mutable.Map.empty[Long, (String, String)]
  private val stageModule = mutable.Map.empty[Int, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart => synchronized {
      execSite(x.executionId) = (x.description, x.details)
    }
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd => synchronized {
      execSite.remove(x.executionId)
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val last = e.stageInfos.maxByOption(_.stageId)
    val (name, site) = prop("spark.sql.execution.id").flatMap(x => execSite.get(x.toLong))
      .getOrElse((last.map(_.name).getOrElse(s"job ${e.jobId}"), last.map(_.details).getOrElse("")))
    e.stageIds.foreach(stageModule(_) = Trace.moduleOf(site))
    openJobs(e.jobId) = (prop(Trace.SpanProp).map(_.toLong).getOrElse(-1L),
      prop(Trace.OpProp).map(_.toLong).getOrElse(-1L), name, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    openJobs.remove(e.jobId).foreach { case (parent, op, name, start) =>
      spans += Span(Trace.nextId(), parent, op, "spark_job", name, start * 1000, e.time * 1000)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
    val si = e.stageInfo
    for (s <- si.submissionTime; c <- si.completionTime)
      stageMs(stageModule.getOrElse(si.stageId, Trace.moduleOf(si.details))) += (c - s).toDouble
    taskMs.remove(si.stageId).filter(_.size >= 2).foreach { ts =>
      val sorted = ts.sorted
      val med = sorted(sorted.size / 2).toDouble
      if (med > 0) skew = math.max(skew, sorted.last / med)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    Option(e.taskMetrics).foreach { m =>
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.diskBytesSpilled
    }
  }
}

/** Tracing for one run. Disabled, every hook is a pass-through; enabled,
  * it keeps spans in memory, counts at the layer boundaries the benchmark
  * calls through, and turns the counters into per-operation metrics.
  */
final class Trace(sc: SparkContext) {
  import Trace._
  val spans = mutable.ArrayBuffer.empty[Span]
  private val listener = new EngineListener(spans)
  private var on = false
  private var op = -1L
  private val stack = mutable.Stack.empty[Long]
  private val values = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private var before: Map[String, Double] = Map.empty
  /** failpoint name → epoch microseconds, for the operation in flight */
  val failpoints = mutable.Map.empty[String, Long]

  def enabled: Boolean = on

  def router(r: Router): Router = if (on) new TracedRouter(r) else r
  def snapper(s: Snapper): Snapper = if (on) new TracedSnapper(s) else s
  val failpoint: String => Unit = name => if (on) failpoints(name) = nowUs()

  /** Adds to a per-operation metric (no-op when untraced). */
  def add(metric: String, v: Double): Unit = if (on) values(metric) += v

  /** Runs `f` as a child span of the innermost open one; `metric`, if
    * given, accumulates the span's duration in ms.
    */
  def span[T](kind: String, name: String, metric: String = null)(f: => T): T =
    if (!on) f
    else {
      val id = nextId()
      val parent = stack.headOption.getOrElse(-1L)
      val t0 = nowUs()
      stack.push(id); sc.setLocalProperty(SpanProp, id.toString)
      try f
      finally {
        stack.pop()
        sc.setLocalProperty(SpanProp, stack.headOption.map(_.toString).orNull)
        val t1 = nowUs()
        spans += Span(id, parent, op, kind, name, t0, t1)
        if (metric != null) add(metric, (t1 - t0) / 1000.0)
      }
    }

  def beginOp(id: Long, traced: Boolean): Unit = {
    on = traced
    if (on) {
      op = id
      values.clear(); failpoints.clear()
      Bus.drain(sc)
      listener.reset()
      sc.addSparkListener(listener)
      sc.setLocalProperty(OpProp, id.toString)
      before = counters()
    }
  }

  /** Ends the operation; returns its per-layer values when traced. */
  def endOp(): Map[String, Double] =
    if (!on) Map.empty
    else {
      Bus.drain(sc)
      sc.removeSparkListener(listener)
      sc.setLocalProperty(OpProp, null)
      on = false
      val after = counters()
      val d = after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
      val l = listener
      val mb = 1024.0 * 1024.0
      val fromListener = Map(
        "spark.jobs" -> l.jobs.toDouble, "spark.stages" -> l.stages.toDouble,
        "spark.tasks" -> l.tasks.toDouble,
        "spark.shuffle_write_mb" -> l.shuffleWrite / mb,
        "spark.shuffle_read_mb" -> l.shuffleRead / mb,
        "spark.spill_mb" -> l.spill / mb,
        "spark.task_skew" -> l.skew) ++
        Modules.map(m => s"spark.stage_ms.$m" -> l.stageMs(m))
      val commit = for (c <- failpoints.get("claimed");
        p <- failpoints.collect { case (k, v) if k.startsWith("published:") => v }.maxOption)
        yield "jobs.commit_ms" -> (p - c) / 1000.0
      d ++ fromListener ++ commit ++ values
    }

  private def counters(): Map[String, Double] = {
    val fs = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    Map(
      "routing.router_calls" -> Probe.routerCalls.get.toDouble,
      "routing.router_ok" -> Probe.routerOk.get.toDouble,
      "routing.router_busy_ms" -> Probe.routerNanos.get / 1e6,
      "routing.snap_points" -> Probe.snapPoints.get.toDouble,
      "routing.snap_busy_ms" -> Probe.snapNanos.get / 1e6,
      "sources.fs_renames" -> Probe.fsRenames.get.toDouble,
      "sources.fs_write_ops" -> Probe.fsWriteOps.get.toDouble,
      "sources.bytes_read" -> fs.map(_.getBytesRead.toDouble).sum,
      "jvm.gc_ms" -> gcMs.toDouble,
      "jvm.alloc_mb" -> allocatedBytes() / (1024.0 * 1024.0))
  }

  /** Spans as JSON lines, written once when the run ends. */
  def write(file: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(file.getParent)
    val lines = spans.sortBy(s => (s.op, s.startUs)).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"kind":"${s.kind}",""" +
        s""""name":"${Json.esc(s.name)}","start_us":${s.startUs},"end_us":${s.endUs},""" +
        s""""self_us":${selfUs(s)}}"""
    }
    java.nio.file.Files.write(file, lines.asJava)
  }

  /** Duration minus the part of it that child spans cover. */
  def selfUs(s: Span): Long = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startUs max s.startUs, k.endUs min s.endUs))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var (lo, hi) = (Long.MinValue, Long.MinValue)
    kids.foreach { case (a, b) =>
      if (a > hi) { if (hi > lo) covered += hi - lo; lo = a; hi = b } else hi = hi max b
    }
    if (hi > lo) covered += hi - lo
    (s.endUs - s.startUs) - covered
  }
}

object Trace {
  val SpanProp = "perfbench.span"
  val OpProp = "perfbench.op"
  val Modules = Seq("jobs", "routing", "sources", "operators", "bench", "other")
  private val ids = new AtomicLong
  def nextId(): Long = ids.incrementAndGet()

  private val epochUs0 = System.currentTimeMillis() * 1000
  private val nano0 = System.nanoTime()
  def nowUs(): Long = epochUs0 + (System.nanoTime() - nano0) / 1000

  /** The module of a stage: the innermost program frame of its call site
    * (`graft.sources.TableIO$.writePartitioned(...)` → `sources`), or
    * `bench` when the benchmark itself issued the action.
    */
  def moduleOf(callSite: String): String =
    callSite.linesIterator.map(_.trim).collectFirst {
      case l if l.startsWith("graft.") =>
        val pkg = l.split('(').head.split('.')
        if (pkg.length > 2 && Modules.contains(pkg(1))) pkg(1) else "other"
      case l if l.startsWith("perfbench.") => "bench"
    }.getOrElse("other")

  def allocatedBytes(): Double = ManagementFactory.getThreadMXBean match {
    case t: com.sun.management.ThreadMXBean =>
      t.getThreadAllocatedBytes(t.getAllThreadIds).filter(_ > 0).sum.toDouble
    case _ => 0.0
  }
}
