package graft

import org.apache.spark.sql.SparkSession

/** Session factory encoding the engine's scale defaults.
  *
  * Tuned for the target deployment (many-executor cluster over ~100 TB of
  * zstd Parquet) while remaining correct on a single node:
  *  - AQE on: runtime coalescing of shuffle partitions + skew-join splitting
  *    replaces hand-tuned chunk geometry (the reference sizes its work grid
  *    statically — /root/reference/data/params.yaml:14-29).
  *  - shuffle.partitions matches local cores here; on a real cluster this is
  *    overridden per-job (2-3x total cores) and AQE coalesces down.
  *  - partition column type inference OFF: Hive partition keys stay strings
  *    so `state='01'` keeps its leading zero (the reference pins
  *    `hive_types_autocast = false` — data/src/create_public_files.py:79).
  *  - session timezone pinned UTC (reference timestamps are UTC —
  *    data/src/calculate_times.py:110).
  *  - checkpoint files are reclaimed by the ContextCleaner once their
  *    frame is unreachable (reliable [[graft.operators.Pins]] pins).
  */
object GraftSession {
  /** Local thread count and shuffle width: `SPARK_GRAFT_CPUS`, else the
    * cores this JVM sees.
    */
  private val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  def builder(appName: String = "graft", master: String = ""): SparkSession.Builder = {
    val b = SparkSession
      .builder()
      .appName(appName)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
      .config("spark.sql.parquet.compression.codec", "zstd")
      // The one broadcast policy: Catalyst sizes a plan from COMPRESSED
      // file bytes, so a frame it under-reads can only build a bounded
      // broadcast; larger sides are left to AQE, whose adaptive threshold
      // follows this one and reads measured shuffle bytes. 1 MiB lies
      // below every corpus-scaled join side of the 10x probe corpus
      // (smallest: q133/q210's per-doc frames, 1.13 MiB estimated).
      .config("spark.sql.autoBroadcastJoinThreshold", (1L << 20).toString)
      // No AQE shuffled-hash rewrite: measured no win on q210 (OPTIMIZATION_r12.md).
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    if (master.nonEmpty) b.master(master) else b
  }

  /** Scratch base for fixture publish targets — same rationale as the
    * `spark.local.dir` choice in [[local]]: single-node runs have only
    * the virtio root volume as "disk", whose writeback throttling adds
    * multi-second noise to write-heavy passes; tmpfs stands in for the
    * executor-local scratch a cluster job would write before upload.
    */
  def scratchBase: String =
    if (new java.io.File("/dev/shm").isDirectory) "/dev/shm/graft-out" else "/tmp"

  def local(appName: String = "graft"): SparkSession = {
    val b = builder(appName, s"local[$cpus]")
    // Single-node runs: put shuffle/spill files on tmpfs when present.
    // On a real cluster these land on executor-local disks; here the
    // only "local disk" is the shared virtio root volume, whose
    // writeback throttling turns repeated shuffle-heavy passes into
    // 5-8x outliers (observed on the publish path). RAM-backed scratch
    // is the faithful stand-in for executor-local NVMe.
    if (new java.io.File("/dev/shm").isDirectory)
      b.config("spark.local.dir", "/dev/shm/graft-scratch")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
