package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

import graft.model.Schemas
import graft.operators.Upsert

/** Structured Streaming surface: the reference streams CSV bytes into a
  * keyed upsert sink (`internal/writer/writer.go:40-129` — transport-level
  * streaming, no event time); this module supplies both that ingest shape
  * and the event-time operators the reference lacks (SURVEY.md §2
  * "Streaming": watermarks, windowed aggs, stateful sessionization).
  *
  * Scale: state is partitioned by the grouping key across executors;
  * watermarks bound state size. `foreachBatch` gives the micro-batch
  * boundary the reference's 12 000-row chunks approximated, with Spark
  * managing backpressure instead of a hand-rolled bounded channel.
  */
object Streams {

  /** Watermarked tumbling-window counts per event type — the streaming
    * twin of [[graft.EventQueries.tumbling]] (same transform, plus the
    * watermark that lets the state store evict closed windows).
    */
  def windowedCounts(events: DataFrame,
                     watermark: String = "10 minutes",
                     windowLen: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("n"), col("total_value"))

  /** One event on the wire. */
  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                         event_type: String, value: Double)

  /** A closed (or force-flushed) session. */
  final case class Session(user_id: Long, sess_start: Timestamp,
                           sess_end: Timestamp, n_events: Long)

  final case class SessionState(start: Long, end: Long, n: Long)

  /** Stateful sessionization with an inactivity gap, via
    * flatMapGroupsWithState: per-user state holds the open session;
    * events extend it or close it and open the next. Emits closed
    * sessions; processing-time timeout flushes idle users' state.
    */
  def sessionize(events: Dataset[Event], gapMs: Long = 30L * 60 * 1000)
      : Dataset[Session] =
    sessionFold(events, GroupStateTimeout.ProcessingTimeTimeout, gapMs) {
      case (state, Some(_)) => state.setTimeoutDuration(gapMs)
      case (state, None) => state.remove()
    }

  /** Event-time sessionization: like [[sessionize]], but sessions close
    * when the WATERMARK passes their gap deadline rather than on a
    * wall-clock timer — late data within the watermark still extends the
    * right session, and replaying history yields identical sessions
    * (processing-time timeouts would differ run to run).
    */
  def sessionizeEventTime(events: Dataset[Event],
                          gapMs: Long = 30L * 60 * 1000,
                          watermark: String = "10 minutes"): Dataset[Session] =
    sessionFold(events.withWatermark("ts", watermark),
        GroupStateTimeout.EventTimeTimeout, gapMs) { (state, open) =>
      // close when event time (the watermark) passes the gap
      open.foreach(s => state.setTimeoutTimestamp(s.end + gapMs))
    }

  /** The session state machine both sessionizers share. A timed-out
    * group emits its open session and drops the state; otherwise the
    * group's events, in (ts, event_id) order, extend the open session or
    * close it and open the next, and the still-open session is stored.
    * `arm` then sets the variant's timeout for that open session (None
    * when the group has none).
    */
  private def sessionFold(events: Dataset[Event], timeout: GroupStateTimeout,
                          gapMs: Long)
                         (arm: (GroupState[SessionState], Option[SessionState]) => Unit)
      : Dataset[Session] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](OutputMode.Append, timeout) {
        (user: Long, it: Iterator[Event], state: GroupState[SessionState]) =>
          def emit(s: SessionState) =
            Session(user, new Timestamp(s.start), new Timestamp(s.end), s.n)
          if (state.hasTimedOut) {
            val out = state.getOption.map(emit)
            state.remove()
            out.iterator
          } else {
            val sorted = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var cur = state.getOption
            val closed = Seq.newBuilder[Session]
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.end <= gapMs =>
                  // min/max on both bounds: a late within-watermark event
                  // may precede the stored start, and replay must yield
                  // the same session whether it arrived early or late
                  cur = Some(s.copy(start = math.min(s.start, t),
                    end = math.max(s.end, t), n = s.n + 1))
                case Some(s) =>
                  closed += emit(s)
                  cur = Some(SessionState(t, t, 1))
                case None =>
                  cur = Some(SessionState(t, t, 1))
              }
            }
            cur.foreach(state.update)
            arm(state, cur)
            closed.result().iterator
          }
      }
  }

  /** Streaming exact dedup: watermark-bounded state keyed on event_id.
    * The watermark is what keeps the dedup state finite — without it
    * every id ever seen stays resident; with it, ids older than the
    * watermark are evicted, which at 100 TB/day is the difference
    * between a working pipeline and an OOM. `dropDuplicatesWithinWatermark`
    * (not plain `dropDuplicates(id)`) is what ties the state to the
    * watermark — a keys-only dedup would ignore it and grow forever.
    */
  def dedupStream(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream interval join: each purchase matched to the same
    * user's clicks in the preceding `windowSpec`. Watermarks on BOTH
    * sides + the time-range predicate let the state store discard rows
    * that can no longer match.
    */
  def purchaseClickJoin(events: DataFrame,
                        windowSpec: String = "10 minutes"): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"),
        col("value").as("click_value"))
      .withWatermark("click_ts", windowSpec)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"),
        col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", windowSpec)
    purchases.join(clicks, expr(
      s"""p_user = user_id AND
         |click_ts >= purchase_ts - INTERVAL $windowSpec AND
         |click_ts <= purchase_ts""".stripMargin))
      .select(col("p_user").as("user_id"), col("purchase_id"),
        col("purchase_ts"), col("click_ts"), col("click_value"))
  }

  /** The reference's flagship path as a stream: watch a directory for CSV
    * files, dedup each micro-batch per key, and append to a parquet
    * "table" — `foreachBatch` is where a JDBC upsert sink
    * ([[graft.sinks.JdbcUpsertSink]]) would slot in against a real DB.
    *
    * Winner semantics: a CSV batch carries no row-order column, so the
    * per-key winner is lastWins' deterministic column tiebreak — stable
    * across retries and partitionings, but NOT "last row in the file"
    * (the reference's cross-chunk order is nondeterministic anyway,
    * SURVEY.md §1.4). Feeds with a real sequence column should pass it
    * instead of the batch id.
    */
  def csvIngestStream(spark: SparkSession, inDir: String, outDir: String,
                      checkpoint: String): StreamingQuery =
    spark.readStream
      .schema(Schemas.locations)
      .option("header", "true")
      .csv(inDir)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        Upsert.lastWins(batch, Seq("locid"), lit(id))
          .write.mode("append").parquet(outDir)
        ()
      }
      .start()

  /** [[csvIngestStream]] generalized to feeds that carry their own
    * sequence column, run to completion over the files already present
    * (`Trigger.AvailableNow`). Each micro-batch keeps its per-key winner
    * BY the data's own `seqCol` — not the batch id — so the accumulated
    * output merges to the same result regardless of how the source split
    * the files into batches. This is the form the driver gate checks for
    * batch/stream equivalence.
    */
  def csvUpsertAvailableNow(spark: SparkSession, inDir: String,
                            outDir: String, checkpoint: String,
                            schema: org.apache.spark.sql.types.StructType,
                            keys: Seq[String], seqCol: String): StreamingQuery =
    spark.readStream
      .schema(schema)
      .option("header", "true")
      .csv(inDir)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        Upsert.lastWins(batch, keys, col(seqCol))
          .write.mode("append").parquet(outDir)
        ()
      }
      .start()
}
