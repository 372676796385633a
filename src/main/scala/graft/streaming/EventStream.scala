package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

final case class UserEvent(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                           event_type: String, value: Double)

final case class UserRunningState(n_events: Long, total_value: Double)
final case class UserRunningCount(user_id: Long, n_events: Long, total_value: Double)
final case class ClosedSession(user_id: Long, session_start: java.sql.Timestamp, n_events: Long)
final case class SessionState(start: Long, last: Long, n: Long)

/** Structured Streaming surface (SURVEY §2 q21 + §3): the same
  * declarative transforms run in batch and under `readStream` — Spark's
  * unified model — so correctness is oracle-checked in batch (q21) while
  * the streaming path adds only the watermark and state lifecycle.
  *
  * Scale: windowed aggregation state is partitioned by (window, key) —
  * the shuffle that already exists for the groupBy — and the watermark
  * bounds state size; mapGroupsWithState keys partition by user_id with
  * idle-timeout eviction.
  */
object EventStream {

  /** Tumbling 1 h window × event_type aggregate — the shared transform.
    * In batch this is exactly q21's plan; in streaming, call
    * `withWatermark("ts", …)` upstream (see `windowedStream`).
    */
  def windowedAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum(col("value").cast(DecimalType(18, 4))), 2).cast("double").as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))

  /** Streaming variant: bounded state via a 2 h watermark. */
  def windowedStream(events: DataFrame): DataFrame =
    windowedAgg(events.withWatermark("ts", "2 hours"))

  /** SLIDING 1 h / 15 min window × event_type aggregate (q58's batch
    * semantics): each event belongs to 4 overlapping windows — state is
    * ×4, which is why the watermark matters more here than for tumbling.
    */
  def slidingAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum(col("value").cast(DecimalType(18, 4))), 2).cast("double").as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))

  /** Streaming sliding windows with watermark-bounded ×4 state. */
  def slidingStream(events: DataFrame): DataFrame =
    slidingAgg(events.withWatermark("ts", "2 hours"))

  /** Custom keyed state: running per-user event counts/value via
    * mapGroupsWithState with idle-state timeout (update-mode output).
    */
  def runningUserCounts(events: Dataset[UserEvent]): Dataset[UserRunningCount] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserRunningState, UserRunningCount](
        GroupStateTimeout.NoTimeout) {
        case (userId, batch, state: GroupState[UserRunningState]) =>
          val prev = state.getOption.getOrElse(UserRunningState(0L, 0.0))
          var n = prev.n_events
          var v = prev.total_value
          batch.foreach { e => n += 1; v += e.value }
          state.update(UserRunningState(n, v))
          UserRunningCount(userId, n, v)
      }
  }

  /** Stream-stream inner join: for every click, the views by the same
    * user within the following hour. Both sides carry watermarks and the
    * join condition bounds event time on both sides, so Spark can size
    * the join state and evict rows older than watermark − bound — the
    * only formulation that survives unbounded streams. The identical
    * expression runs in batch (the spec's oracle).
    */
  def clickThenView(clicks: DataFrame, views: DataFrame): DataFrame = {
    val l = clicks.select(col("user_id").as("c_user"), col("ts").as("c_ts"),
      col("event_id").as("click_id"))
    val r = views.select(col("user_id").as("v_user"), col("ts").as("v_ts"),
      col("event_id").as("view_id"))
    l.join(r, expr(
      "c_user = v_user AND v_ts > c_ts AND v_ts <= c_ts + INTERVAL 1 HOUR"))
      .select(col("c_user").as("user_id"), col("click_id"), col("view_id"),
        col("c_ts"), col("v_ts"))
  }

  /** Streaming variant with the state-bounding watermarks. */
  def clickThenViewStream(clicks: DataFrame, views: DataFrame): DataFrame =
    clickThenView(
      clicks.withWatermark("ts", "2 hours"),
      views.withWatermark("ts", "2 hours"))

  /** Custom gap-based sessionization via flatMapGroupsWithState with
    * event-time timeout: a session closes when 30 min pass with no event
    * (decided by the watermark, not wall clock). Sessions that close
    * inside a batch emit immediately; the open tail lives in keyed state
    * with a timeout at last + gap, so state stays O(active users).
    * This is the hand-rolled equivalent of q24's native session_window —
    * the shape to use when session logic needs custom state (e.g. carry
    * per-session aggregates the built-in can't express).
    */
  def sessionizeWithState(events: Dataset[UserEvent]): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    val gapMs = 30L * 60 * 1000
    events
      .withWatermark("ts", "1 minute")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, ClosedSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (userId, batch, state: GroupState[SessionState]) =>
          val times = batch.map(_.ts.getTime).toSeq.sorted
          val closed = Seq.newBuilder[ClosedSession]
          if (times.isEmpty) {
            // woken by timeout: the open session's gap has passed
            state.getOption.foreach { s =>
              closed += ClosedSession(userId, new java.sql.Timestamp(s.start), s.n)
            }
            state.remove()
          } else {
            var cur = state.getOption.getOrElse(SessionState(times.head, times.head, 0L))
            for (t <- times) {
              if (t - cur.last > gapMs) {
                closed += ClosedSession(userId, new java.sql.Timestamp(cur.start), cur.n)
                cur = SessionState(t, t, 1L)
              } else cur = SessionState(cur.start, t, cur.n + 1)
            }
            state.update(cur)
            state.setTimeoutTimestamp(cur.last + gapMs)
          }
          closed.result().iterator
      }
  }

  /** Exactly-once batch sink via foreachBatch: each micro-batch lands in
    * a directory keyed by its batchId with mode=overwrite, so a replayed
    * batch (restart after failure between sink write and offset commit)
    * overwrites its own previous partial output instead of duplicating —
    * idempotence is what upgrades Structured Streaming's at-least-once
    * replay into end-to-end exactly-once for non-transactional sinks.
    */
  def startIdempotentParquetSink(df: DataFrame, outDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        batch.write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
      }
      .option("checkpointLocation", s"$outDir/_checkpoint")
      .start()
}
