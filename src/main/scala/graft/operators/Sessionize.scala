package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Gap-based sessionization of the event stream — two implementations of
  * the same semantics:
  *
  *  - [[batch]]: window functions (lag → gap flag → running sum = session
  *    id) + one aggregate. Shuffles once on user_id; the session id is a
  *    per-user running count so the whole user timeline never needs to fit
  *    anywhere special.
  *  - [[streaming]]: `flatMapGroupsWithState` — the production streaming
  *    shape with explicit per-user state (open session accumulator) and
  *    event-time timeout. Used on unbounded sources where the batch
  *    window is impossible.
  *
  * Timestamps are treated at microsecond resolution (`ts div 1000`):
  * events.parquet carries nanos, but µs is what survives every engine on
  * the oracle path, and sub-µs session gaps are not a thing.
  */
object Sessionize {
  val GapUs: Long = 1800L * 1000000L // 30 min

  final case class SessionRow(
      user_id: Long, session_id: Long, session_start: Long,
      n_events: Long, total_value: Double)

  def batch(events: DataFrame): DataFrame = {
    val byTime = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    events
      .select(
        col("user_id"), col("event_id"),
        expr("ts div 1000").as("us"),
        expr("CAST(round(value * 100, 0) AS LONG)").as("vc"))
      .withColumn("prev", lag(col("us"), 1).over(byTime))
      .withColumn("new_s",
        when(col("prev").isNull || col("us") - col("prev") > GapUs, 1L).otherwise(0L))
      .withColumn("session_id",
        sum(col("new_s")).over(byTime.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        expr("min(us) div 1000000").as("session_start"),
        count(lit(1)).as("n_events"),
        (sum(col("vc")).cast("double") / 100.0).as("total_value"))
  }

  /** Per-EVENT session assignment — [[batch]]'s window half without the
    * final aggregate, for operators that need the session id on every row
    * (sequence mining, funnel slicing). Same one-shuffle-on-user_id shape.
    */
  def assign(events: DataFrame): DataFrame = {
    val byTime = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    events
      .select(
        col("user_id"), col("event_id"), col("event_type"),
        expr("ts div 1000").as("us"))
      .withColumn("prev", lag(col("us"), 1).over(byTime))
      .withColumn("new_s",
        when(col("prev").isNull || col("us") - col("prev") > GapUs, 1L).otherwise(0L))
      .withColumn("session_id",
        sum(col("new_s")).over(byTime.rowsBetween(Window.unboundedPreceding, 0)))
      .drop("prev", "new_s")
  }

  /** Within-session event-type bigram mining: adjacent (type → next type)
    * transitions per session, counted corpus-wide — the order-1 Markov
    * transition table behind "what do users do next" analyses. Rides
    * [[assign]]'s user_id shuffle (the session window partitions by a
    * strictly finer key, so no second exchange) and ends in one tiny
    * type×type aggregate.
    */
  def bigrams(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("session_id"))
      .orderBy(col("us"), col("event_id"))
    assign(events)
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("a"), col("next_type").as("b"))
      .agg(count(lit(1)).as("n"))
  }

  // public: encoder-generated code must be able to construct these
  final case class Ev(user_id: Long, event_id: Long, us: Long, vc: Long)
  final case class Open(sessionId: Long, startUs: Long, lastUs: Long, n: Long, cents: Long)

  /** Streaming variant. For the bounded fixture the source is the parquet
    * file stream; state closes sessions on the 30-min event gap. The final
    * open session per user is flushed by a terminal punctuation event the
    * caller appends (tests) or, on a live stream, by the state timeout.
    */
  def streaming(spark: SparkSession, sfDir: String, queryName: String = "graft_sessions"): DataFrame = {
    import spark.implicits._
    val schema = graft.Tables.eventsRawSchema(spark, sfDir)
    val src = graft.Tables.normalizeEventTs(spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(sfDir))
      .select(
        col("user_id"), col("event_id"),
        expr("ts div 1000").as("us"),
        expr("CAST(round(value * 100, 0) AS LONG)").as("vc"))
      .as[Ev]

    val out = src
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (user: Long, evs: Iterator[Ev], state: GroupState[Open]) => {
          val sorted = evs.toVector.sortBy(e => (e.us, e.event_id))
          var open = state.getOption
          val closed = Vector.newBuilder[SessionRow]
          sorted.foreach { e =>
            open match {
              case Some(o) if e.us - o.lastUs <= GapUs =>
                open = Some(o.copy(lastUs = e.us, n = o.n + 1, cents = o.cents + e.vc))
              case Some(o) =>
                closed += SessionRow(user, o.sessionId, o.startUs / 1000000L, o.n, o.cents / 100.0)
                open = Some(Open(o.sessionId + 1, e.us, e.us, 1, e.vc))
              case None =>
                open = Some(Open(1, e.us, e.us, 1, e.vc))
            }
          }
          open.foreach(state.update)
          closed.result().iterator
        })

    val q = out.writeStream.outputMode("append")
      .format("memory").queryName(queryName).start()
    try q.processAllAvailable()
    finally q.stop()
    spark.table(queryName)
  }
}
