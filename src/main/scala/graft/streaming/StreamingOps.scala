package graft.streaming

import graft.{Tables => T}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Structured Streaming surface. The reference has no streams (SURVEY
  * §2.10) — this is the extension track: the events table replayed as a
  * file stream through a windowed aggregation.
  *
  * Locally the parquet fixture drives the stream synchronously
  * (processAllAvailable + memory sink); in production the same plan runs
  * over a real source with `outputMode(append)` + watermark, and the
  * aggregation state lives in the state store.
  */
object StreamingOps {

  /** Tumbling-hour counts per event_type, computed by a streaming query.
    * `ts` arrives as nanos-since-epoch (see Tables.load); the bucket is
    * exact integer arithmetic.
    */
  def hourlyCounts(spark: SparkSession, sfDir: String, queryName: String = "graft_stream_hourly"): DataFrame = {
    import spark.implicits._
    val schema = T.eventsRawSchema(spark, sfDir)
    val stream = T.normalizeEventTs(spark.readStream
      .schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir))
    val agg = stream
      .groupBy((expr("ts div 3600000000000") * 3600).as("hour_epoch"), $"event_type")
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(queryName)
      .start()
    try q.processAllAvailable()
    finally q.stop()
    spark.table(queryName)
  }

  /** LEFT OUTER stream-stream funnel: every purchase emits — attributed
    * to its in-window signups when they exist, with nulls once the
    * watermark proves no signup can still arrive. This is the streaming
    * operation the inner funnel cannot express: "purchases WITHOUT a
    * signup" requires the state store to hold the purchase until the
    * signup-side watermark passes the join window, then emit the null
    * row — Spark's outer stream-stream join semantics, exercised
    * end-to-end here.
    *
    * `dir` holds events-schema parquet files. On a bounded file stream
    * the watermark only advances when NEW data arrives, and outer-join
    * state evicts one batch BEHIND the newest watermark — so after
    * draining the real files the operator injects two rounds of
    * far-future punctuation events (sentinel user −1, one per side,
    * each round a separate micro-batch): round one advances the
    * watermark past every real row, round two triggers the eviction
    * pass that flushes the remaining outer nulls. On an unbounded
    * source the live event flow plays that role and no punctuation is
    * needed.
    */
  def streamStreamFunnelOuter(spark: SparkSession, dir: String,
      queryName: String = "graft_ss_outer"): DataFrame = {
    import spark.implicits._
    val schema = T.eventsRawSchema(spark, dir)
    def side(eventType: String, idAs: String, tsAs: String) = T.normalizeEventTs(
      spark.readStream.schema(schema).parquet(dir))
      .filter($"event_type" === eventType)
      .select(
        $"user_id".as(s"${idAs}_user"),
        $"event_id".as(s"${idAs}_event"),
        timestamp_micros(expr("ts div 1000")).as(tsAs))
      .withWatermark(tsAs, "2 hours")
    val purchases = side("purchase", "p", "p_ts")
    val signups = side("signup", "s", "s_ts")
    // NOTE: the sentinel filter must NOT live inside the streaming plan —
    // a deterministic filter on p_user pushes below the watermark node
    // into the parquet scan, the punctuation file is skipped wholesale,
    // and the watermark (hence outer-row eviction) never advances. The
    // sentinels are dropped from the SINK table instead.
    val joined = purchases.join(
        signups,
        expr("""p_user = s_user AND s_ts <= p_ts AND s_ts >= p_ts - INTERVAL 1 HOUR"""),
        "left_outer")
      .select(
        $"p_user".as("user_id"), $"p_event".as("purchase_event"),
        $"s_event".as("signup_event"),
        unix_timestamp($"p_ts").as("p_epoch"), unix_timestamp($"s_ts").as("s_epoch"))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName(queryName).start()
    try {
      q.processAllAvailable()
      writePunctuation(spark, dir, plusDays = 30, name = "zz_punct1")
      q.processAllAvailable()
      writePunctuation(spark, dir, plusDays = 31, name = "zz_punct2")
      q.processAllAvailable()
    } finally q.stop()
    spark.table(queryName).filter($"user_id" =!= -1L)
  }

  /** Stream-STATIC enrichment join: the event stream joined per
    * micro-batch against a batch dimension table — the third Structured
    * Streaming join mode (beside stream-stream and stateless maps).
    * No state store and no watermark are involved: each micro-batch
    * plans a fresh batch join, so the dimension may even change between
    * batches (it re-resolves). With a broadcast-sized dimension every
    * micro-batch is a map-side hash join — the 100 TB shape for
    * enriching a firehose with slowly-changing reference data.
    */
  def streamStaticEnrich(
      spark: SparkSession,
      sfDir: String,
      dim: DataFrame,
      dimKey: String,
      dimCols: Seq[String],
      queryName: String = "graft_ss_static"): DataFrame = {
    import spark.implicits._
    val schema = T.eventsRawSchema(spark, sfDir)
    val stream = T.normalizeEventTs(spark.readStream
        .schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(sfDir))
      .select($"event_id", $"user_id", $"event_type",
        expr("CAST(round(value * 100, 0) AS LONG)").as("vc"))
    val joined = stream.join(
        broadcast(dim.select((dimKey +: dimCols).map(col): _*)),
        stream("user_id") === dim(dimKey), "left")
      .groupBy(col("event_type"), col(dimCols.head))
      .agg(count(lit(1)).as("n"), sum($"vc").as("cents"))
    val q = joined.writeStream.outputMode("complete")
      .format("memory").queryName(queryName).start()
    try q.processAllAvailable()
    finally q.stop()
    spark.table(queryName)
  }

  /** Transactionally-maintained streaming materialized view: a CDC
    * change feed drives BOTH a versioned base table and its rollup view
    * through [[graft.sources.TxLog]] — every micro-batch commits base
    * vN+1 (MERGE) and view vN+1 (incremental delta, never a base
    * rescan) as snapshots, so the two tables stay version-aligned and
    * any historical (base, view) pair is a consistent cut readable via
    * time travel.
    *
    * `maxFilesPerTrigger = 1` + lexicographic file naming gives the
    * ordered-batch application [[streamingCdcApply]]'s contract needs.
    * Returns the final view snapshot; "incremental-under-streaming
    * equals one-shot batch rollup" is the q172 oracle property.
    */
  def streamingMvMaintain(
      spark: SparkSession,
      inDir: String,
      base: DataFrame,
      tableBase: String,
      keyCol: String,
      dimCol: String,
      valCol: String): DataFrame = {
    import graft.sources.TxLog
    val baseDir = s"$tableBase/base"
    val mvDir = s"$tableBase/mv"
    TxLog.commit(spark, baseDir, base)
    TxLog.commit(spark, mvDir,
      base.groupBy(col(dimCol))
        .agg(count(lit(1)).as("n"), sum(col(valCol)).as("total")))
    val chSchema = org.apache.spark.sql.types.StructType(
      base.schema.fields ++ Seq(
        org.apache.spark.sql.types.StructField("op",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("seq",
          org.apache.spark.sql.types.IntegerType)))
    val q = spark.readStream.schema(chSchema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
      .writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        if (!b.isEmpty) {
          val cur = TxLog.read(spark, baseDir)
          val mv = TxLog.read(spark, mvDir)
          TxLog.commit(spark, baseDir,
            graft.operators.Cdc.applyChanges(cur, b, keyCol))
          TxLog.commit(spark, mvDir,
            graft.operators.Cdc.incrementalAgg(mv, cur, b, keyCol, dimCol, valCol))
        }
        ()
      }
      .start()
    try q.processAllAvailable()
    finally q.stop()
    TxLog.read(spark, mvDir)
  }

  /** One purchase + one signup at real-max + `plusDays`, sentinel user
    * −1, written as a single new file so the source sees a fresh batch.
    */
  private def writePunctuation(spark: SparkSession, dir: String,
      plusDays: Int, name: String): Unit = {
    import spark.implicits._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.option("pathGlobFilter", "events.parquet").parquet(dir)
    val farTs = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        (max($"ts") + lit(plusDays * 24L * 3600L * 1000000000L)).as("ts2")
      case _ => (max($"ts") + expr(s"INTERVAL $plusDays DAYS")).as("ts2")
    }
    val punct = raw.agg(farTs)
      .select(explode(array(lit("purchase"), lit("signup"))).as("event_type"), $"ts2")
      .select(lit(-1L).as("event_id"), $"ts2".as("ts"), lit(-1L).as("user_id"),
        $"event_type", lit(0.0).as("value"), lit("{}").as("props"))
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = org.apache.hadoop.fs.FileSystem.get(conf)
    punct.repartition(1).write.mode("overwrite").parquet(s"$dir/../_ptmp_$name")
    val part = fs.globStatus(
      new org.apache.hadoop.fs.Path(s"$dir/../_ptmp_$name/part-*.parquet")).head.getPath
    fs.rename(part, new org.apache.hadoop.fs.Path(s"$dir/$name.parquet"))
  }

  /** Exactly-once streaming ingest into a [[graft.sources.TxLog]]
    * table: each micro-batch appends through
    * [[graft.sources.TxLog.commitStreaming]], whose deterministic
    * (queryId, batchId) batch naming makes checkpoint replays no-ops —
    * the transactional-sink guarantee Spark's file sinks approximate
    * with a separate `_spark_metadata` log, carried here by the table's
    * own manifest. Returns the final snapshot.
    */
  def streamingTxIngest(
      spark: SparkSession,
      inDir: String,
      schema: org.apache.spark.sql.types.StructType,
      tableDir: String,
      queryId: String): DataFrame = {
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
      .writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        graft.sources.TxLog.commitStreaming(spark, tableDir, b, queryId, id)
        ()
      }
      .start()
    try q.processAllAvailable()
    finally q.stop()
    graft.sources.TxLog.read(spark, tableDir)
  }

  /** Transactionally-maintained streaming JOIN view: insert-only
    * micro-batches of the A side maintain a TxLog-backed `A ⋈ B` view
    * through the differential rule ([[graft.operators.Cdc
    * .incrementalJoinDelta]] with an empty B delta: ΔV = ΔA ⋈ B) —
    * the base join never recomputes, each batch appends its delta.
    * Deltas commit via [[graft.sources.TxLog.commitStreaming]], so the
    * manifest is the idempotence ledger: checkpoint replays of a
    * micro-batch no-op and the view stays exactly-once, same contract
    * as [[streamingTxIngest]]. Per batch the work is ONE broadcast
    * join of the delta against B — the stream never touches the
    * accumulated view rows.
    */
  def streamingJoinMaintain(
      spark: SparkSession,
      inDir: String,
      aSchema: org.apache.spark.sql.types.StructType,
      aInit: DataFrame,
      b: DataFrame,
      tableBase: String,
      keyA: String,
      keyB: String,
      queryId: String): DataFrame = {
    import graft.sources.TxLog
    val viewDir = s"$tableBase/joinview"
    TxLog.commit(spark, viewDir, aInit.join(b, aInit(keyA) === b(keyB)))
    val emptyB = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), b.schema)
    val q = spark.readStream.schema(aSchema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val delta = graft.operators.Cdc.incrementalJoinDelta(
            aInit, batch, b, emptyB, keyA, keyB)
          TxLog.commitStreaming(spark, viewDir, delta, queryId, batchId)
          ()
        }
      }
      .start()
    try q.processAllAvailable()
    finally q.stop()
    TxLog.read(spark, viewDir)
  }

  /** Streaming CDC upsert: change batches (full rows + op/seq, the
    * [[graft.operators.Cdc.applyChanges]] contract) arrive as a file
    * stream and maintain a materialized key-bucketed table in
    * `stateDir`. Each micro-batch touches ONLY the hash-buckets its keys
    * fall in: current rows of touched buckets are read back (partition-
    * pruned scan), merged with the batch, and rewritten via DYNAMIC
    * partition overwrite — untouched buckets are never read or written,
    * which is what makes a TB-scale materialization maintainable from a
    * GB-scale change feed. The read-back frame is pinned
    * (localCheckpoint) before the overwrite both to break the
    * read-from/overwrite cycle and because the merge is cheap relative
    * to a re-scan; a production deployment would put a transaction log
    * (or table format) around the swap for crash atomicity.
    *
    * Ordering contract: sequential application of batches equals one
    * combined [[graft.operators.Cdc.applyChanges]] when `seqCol` is
    * globally monotone across batches AND batches arrive in seq order —
    * the state keeps no tombstones, so a lower-seq change arriving after
    * the higher-seq delete it lost to would resurrect the row (the
    * standard tombstone-retention trade; documented, spec-pinned).
    */
  def streamingCdcApply(spark: SparkSession, inDir: String, stateDir: String,
      keyCol: String, nBuckets: Int = 8,
      opCol: String = "op", seqCol: String = "seq"): DataFrame = {
    import org.apache.hadoop.fs.Path
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val schema = spark.read.parquet(inDir).schema
    // string-typed bucket: partition keys stay strings end-to-end (the
    // session disables partition type inference), so the touched-bucket
    // filter prunes directories without a cast in the way
    def bucketOf(c: org.apache.spark.sql.Column) =
      pmod(xxhash64(c), lit(nBuckets)).cast("string")
    val stream = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(inDir)
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val s2 = batch.sparkSession
        val b = batch.localCheckpoint(true)
        val touched = b.select(bucketOf(col(keyCol)).as("__bucket")).distinct()
          .collect().map(_.getString(0)) // bounded by nBuckets
        val cur =
          if (fs.exists(new Path(stateDir)))
            s2.read.parquet(stateDir)
              .filter(col("__bucket").isin(touched: _*))
              .drop("__bucket")
              .localCheckpoint(true) // pin: we overwrite what we just read
          else s2.createDataFrame(s2.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            org.apache.spark.sql.types.StructType(
              schema.filterNot(f => f.name == opCol || f.name == seqCol)))
        graft.operators.Cdc.applyChanges(cur, b, keyCol, opCol, seqCol)
          .withColumn("__bucket", bucketOf(col(keyCol)))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("__bucket")
          .parquet(stateDir)
      }
      .start()
    try q.processAllAvailable()
    finally q.stop()
    spark.read.parquet(stateDir).drop("__bucket")
  }
}
