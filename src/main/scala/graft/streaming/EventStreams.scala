package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface over the events table: watermarked
  * windowed aggregation and stateful sessionization.
  *
  * The transforms are written once and applied to BOTH batch and
  * streaming frames (the Dataset API is the same logical plan either
  * way) — StreamingSpec asserts the stream result equals the batch
  * result on the same files. Scale notes: the windowed agg is a standard two-phase
  * (partial → final) agg keyed by (window, event_type); sessionization
  * state is per-user and bounded by the watermark, so state store size
  * tracks active users, not history.
  */
object EventStreams {

  final case class Event(event_id: Long, ts: java.sql.Timestamp,
      user_id: Long, event_type: String, value: Option[Double])

  final case class UserSessions(user_id: Long, n_events: Long, n_sessions: Long)

  /** Per-user session state for [[sessionizeStateful]]. */
  final case class SessionState(nEvents: Long, nSessions: Long, lastUs: Long)

  /** Hourly tumbling-window aggregate; watermark bounds state on the
    * streaming path and is a no-op on batch.
    */
  def hourlyAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Sliding-window aggregate (1 h windows every 15 min): each event
    * lands in size/slide = 4 windows — Spark expands window membership
    * with a generator BEFORE the partial agg, so the shuffle carries
    * (window, type) partial sums, never the 4× event rows. Watermark
    * bounds streaming state exactly as in [[hourlyAgg]].
    */
  def slidingAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Batch sessionization (gaps-and-islands with a lag window): a new
    * session starts after `gapSeconds` of user inactivity. This is the
    * oracle-checkable equivalent of [[sessionizeStateful]].
    */
  def sessionizeBatch(events: DataFrame, gapSeconds: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    events
      .withColumn("prev_us",
        lag(graft.functions.TimeFunctions.epochMicros(events, "ts"), 1).over(w))
      .withColumn("new_session",
        when(col("prev_us").isNull ||
          graft.functions.TimeFunctions.epochMicros(events, "ts") -
            col("prev_us") > gapSeconds * 1000000L, 1L)
          .otherwise(0L))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), sum("new_session").as("n_sessions"))
  }

  /** Streaming stateful sessionization via flatMapGroupsWithState:
    * per-user state = (event count, session count, last event time).
    * Emits one row per user per batch in Update mode.
    *
    * State is watermark-bounded via EventTimeTimeout: once a user's last
    * event is older than the watermark by more than the session gap, no
    * future event can extend that session, so the state is evicted (a
    * returning user restarts counting — the standard bounded-state
    * tradeoff; the streaming path applies `watermark` to `ts` itself so
    * the timeout clock advances).
    */
  def sessionizeStateful(events: Dataset[Event], gapSeconds: Long,
      watermark: String = "2 hours"): Dataset[UserSessions] = {
    import events.sparkSession.implicits._

    val input =
      if (events.isStreaming) events.withWatermark("ts", watermark)
      else events
    val timeout =
      if (events.isStreaming) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    input.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, UserSessions](
        OutputMode.Update, timeout) {
        (userId: Long, it: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            // session can no longer be extended — evict, nothing new to emit
            state.remove()
            Iterator.empty
          } else {
            val sorted = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var s = state.getOption.getOrElse(SessionState(0L, 0L, Long.MinValue))
            sorted.foreach { e =>
              val us = e.ts.getTime * 1000L
              val newSession = s.lastUs == Long.MinValue ||
                us - s.lastUs > gapSeconds * 1000000L
              s = SessionState(s.nEvents + 1,
                s.nSessions + (if (newSession) 1 else 0), us)
            }
            state.update(s)
            if (timeout == GroupStateTimeout.EventTimeTimeout) {
              val at = math.max(s.lastUs / 1000L + gapSeconds * 1000L,
                state.getCurrentWatermarkMs() + 1L)
              state.setTimeoutTimestamp(at)
            }
            Iterator(UserSessions(userId, s.nEvents, s.nSessions))
          }
      }
  }

  /** Streaming exact deduplication: drop events whose payload fingerprint
    * was already seen, with state bounded by the watermark (duplicates
    * arriving more than `watermark` late are not caught — the standard
    * streaming-dedup contract; state size tracks the watermark window,
    * not history).
    *
    * Dedup is on the payload fingerprint ALONE via
    * `dropDuplicatesWithinWatermark` — a duplicate payload re-delivered
    * with a different timestamp is still dropped (keying on (fp, ts)
    * would let it through). Spark rejects that operator on batch frames,
    * so the batch path uses plain global dropDuplicates("fp"): same
    * semantics when the data spans one watermark horizon.
    */
  def dedupStream(events: DataFrame, watermark: String = "2 hours"): DataFrame = {
    val fp = events.withColumn("fp", graft.functions.TextFunctions.fingerprint(
      concat_ws("|", col("user_id"), col("event_type"), col("props"))))
    if (fp.isStreaming)
      fp.withWatermark("ts", watermark).dropDuplicatesWithinWatermark("fp")
    else fp.dropDuplicates("fp")
  }

  /** Stream-stream inner join (self-join of the event stream):
    * purchases attributed to same-user clicks that happened within
    * `windowSeconds` BEFORE the purchase (inclusive both ends).
    *
    * Streaming path: both sides carry watermarks and the join condition
    * is an event-time RANGE over both — exactly what Spark needs to
    * bound stream-stream join state (clicks older than
    * watermark + window are evicted from the state store; without the
    * range the state would grow forever). Batch path: the identical
    * plan is an ordinary range join, so the result is
    * oracle-checkable and stream==batch is asserted on the same files.
    */
  def attributePurchases(events: DataFrame, windowSeconds: Long = 1800L,
      watermark: String = "2 hours"): DataFrame = {
    val clicks0 = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("click_ts"))
    val purch0 = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("purchase_ts"))
    val (clicks, purch) =
      if (events.isStreaming)
        (clicks0.withWatermark("click_ts", watermark),
          purch0.withWatermark("purchase_ts", watermark))
      else (clicks0, purch0)
    clicks.join(purch,
        col("c_user") === col("p_user") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") +
            expr(s"INTERVAL $windowSeconds SECONDS"))
      .select(col("c_user").as("user_id"), col("click_id"), col("purchase_id"))
  }

  /** Stream-stream LEFT OUTER attribution: every purchase, with its
    * qualifying same-user click when one exists within `windowSeconds`
    * before it, and NULL click columns otherwise ("organic"
    * conversions stay in the result — the inner join silently drops
    * them).
    *
    * Streaming path: outer stream-stream joins additionally require
    * the watermark + event-time range so the engine KNOWS when a
    * purchase can no longer find a click — only then is the
    * null-padded row emitted and its state evicted. Consequence tested
    * in StreamingSpec: unmatched rows appear once the watermark passes
    * purchase_ts + window, so a tail purchase needs later data to
    * flush it (batch equality holds after a watermark-advancing flush
    * event). Batch path: the identical plan is an ordinary left range
    * join.
    */
  def attributePurchasesLeft(events: DataFrame,
      windowSeconds: Long = 1800L,
      watermark: String = "2 hours"): DataFrame = {
    val clicks0 = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("click_ts"))
    val purch0 = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("purchase_ts"))
    val (clicks, purch) =
      if (events.isStreaming)
        (clicks0.withWatermark("click_ts", watermark),
          purch0.withWatermark("purchase_ts", watermark))
      else (clicks0, purch0)
    purch.join(clicks,
        col("p_user") === col("c_user") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") +
            expr(s"INTERVAL $windowSeconds SECONDS"),
        "left_outer")
      .select(col("p_user").as("user_id"), col("purchase_id"),
        col("click_id"))
  }

  /** File-source streaming read of an events parquet (schema pinned from
    * a batch probe; nanos ts normalized like the batch path). The
    * session must read nanosecond timestamps as longs
    * (`spark.sql.legacy.parquet.nanosAsLong`, set by every
    * [[graft.LocalSpark]] session); a session without it is refused
    * rather than reconfigured.
    */
  def readStreamEvents(spark: SparkSession, path: String): DataFrame = {
    graft.Tables.requireNanosAsLong(spark, "readStreamEvents")
    val schema = spark.read.parquet(path).schema
    graft.Tables.normalize(
      spark.readStream.schema(schema).parquet(path))
  }
}
