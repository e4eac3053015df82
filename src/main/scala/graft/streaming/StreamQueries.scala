package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StringType, StructField, StructType}

import graft.{Queries, RefQueries}
import graft.model.Schemas
import graft.operators.Upsert
import graft.sources.Gen

/** Driver-gated Structured Streaming query: the reference's flagship
  * ingest path (CSV files → keyed last-write-wins upsert,
  * `internal/writer/writer.go:40-129`) run THROUGH the streaming engine
  * (`readStream` → `foreachBatch` → parquet) and oracle-checked against
  * the same DuckDB SQL as the batch twin `ref_ingest_dedup` — a green
  * hash row here proves batch/stream equivalence under the gate, not
  * just in unit tests.
  */
object StreamQueries {
  import Queries.Q

  /** locations + the explicit sequence column the upsert orders on. */
  private val seqSchema: StructType =
    StructType(Schemas.locations.fields :+ StructField("seq", LongType))

  /** Distinct scratch dirs per invocation: a rerun in the same JVM must
    * not hit a checkpoint that says the input files were already done.
    */
  private val invocation = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Stage a DataFrame as ONE named CSV file inside the stream's input
    * dir (the file-stream source discovers loose files, not the
    * directory-per-write layout `DataFrameWriter.csv` produces).
    *
    * Fast path: every staged frame is gate-sized (≤ ~20k rows after the
    * user filter) with primitive columns, so it is collected and written
    * driver-side in one job — the `coalesce(1)` write each staging
    * previously paid ran the Hadoop commit protocol (task temp dir +
    * two renames) per file, and the 13 stream gates stage ~40 files
    * between them, which made input STAGING a visible slice of the
    * measured streaming floor. Values are formatted exactly as the
    * explicit-schema CSV reader parses them back (Long/Int `toString`,
    * Double `toString` — round-trip exact in the same JVM); any value
    * the plain formatter cannot guarantee (quote/comma/CR/LF/empty, a
    * non-primitive type, a null that a non-string column would reread
    * as null anyway) falls back to the original Spark writer path,
    * keeping semantics identical by construction.
    *
    * Guarded (r10): the driver-side collect is bounded by [[StageRowCap]]
    * — the probe collects `cap + 1` rows, and a frame that exceeds the
    * cap routes to the distributed Spark writer instead, so a future
    * gate staging a corpus-sized frame degrades to the slow path rather
    * than silently OOMing the driver. Returns true when the driver fast
    * path wrote the file (the spec pins both routes).
    */
  private[streaming] val StageRowCap = 200 * 1000

  private[streaming] def stageCsv(df: DataFrame,
                                  inDir: String, name: String,
                                  cap: Int = StageRowCap): Boolean = {
    def plain(v: Any): Option[String] = v match {
      case null => None
      case s: String =>
        if (s.isEmpty || s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
          None
        else Some(s)
      case l: java.lang.Long => Some(l.toString)
      case i: java.lang.Integer => Some(i.toString)
      case d: java.lang.Double => Some(d.toString)
      case f: java.lang.Float => Some(f.toString)
      case b: java.lang.Boolean => Some(b.toString)
      case _ => None
    }
    val header = df.columns.map(_.toUpperCase).mkString(",")
    // CollectLimit probe: ≤ cap rows come back in the same partition
    // order a full collect() would use; cap+1 rows back means the frame
    // is over the cap and must not live on the driver.
    val rows = df.limit(cap + 1).collect()
    val sb = new java.lang.StringBuilder(header).append('\n')
    val ok = rows.length <= cap && rows.forall { r =>
      val cells = (0 until r.length).map(i => plain(r.get(i)))
      if (cells.forall(_.isDefined)) {
        sb.append(cells.map(_.get).mkString(",")).append('\n'); true
      } else false
    }
    if (ok) {
      Files.write(Paths.get(s"$inDir/$name.csv"),
        sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } else {
      val staging = s"$inDir/_staging_$name"
      Gen.writeCsv(df.coalesce(1), staging)
      val listing = Files.list(Paths.get(staging))
      val part =
        try listing.toArray.map(_.toString).filter(p => p.endsWith(".csv")).head
        finally listing.close()
      Files.move(Paths.get(part), Paths.get(s"$inDir/$name.csv"))
    }
    ok
  }

  /** Staged-input dir memoized per (gate, sf dir): the staged CSV corpus
    * is pure input prep — a deterministic function of the read-only
    * testdata — so reruns in the same JVM (bench reps, Verify after the
    * specs) reuse the files instead of re-collecting and re-writing
    * them; the STREAM itself always re-runs end to end against a fresh
    * output/checkpoint pair ([[freshOutCk]]), so the operator under
    * test is never cached. The build block must fully populate the dir
    * (files + mtime stamps) before returning; its Long result (usually
    * the corpus max event time driving the sentinels) is memoized
    * alongside so gates that need the staging-time scalar after the
    * stream don't re-derive it.
    */
  private def stagedInputs(gate: String, dir: String)(build: String => Long):
      (String, Long) =
    graft.Artifacts.memo(s"stream.staged|$gate|$dir") {
      val in = s"${graft.Scratch.dir}/graft_stream_in_" +
        s"${graft.Scratch.runToken}_${gate}_${invocation.incrementAndGet()}"
      Files.createDirectories(Paths.get(in))
      (in, build(in))
    }

  /** Fresh (output, checkpoint) dirs for one streaming-gate invocation:
    * a rerun in the same JVM must not hit a checkpoint that says the
    * input files were already done.
    */
  private def freshOutCk(): (String, String) = {
    val root = s"${graft.Scratch.dir}/graft_stream_" +
      s"${graft.Scratch.runToken}_${invocation.incrementAndGet()}"
    (s"$root/out", s"$root/ck")
  }

  /** State-store partitions for the oracle-gated streaming queries.
    * Every stateful operator runs one state store per shuffle partition
    * per micro-batch, each paying open/commit file IO — at the gate
    * corpus's row counts that overhead dwarfs the data (measured: a
    * 4-batch stream-stream join spent ~70 task-seconds per batch across
    * 32 partitions on state machinery). Size this to throughput × key
    * cardinality in production; 4 is ample for the gate (measured r9:
    * 8 → 4 cut the 14-gate stream subtotal ~15% with identical hashes —
    * the stores are commit-bound, not compute-bound, at gate scale).
    */
  private val StatePartitions = 4

  /** Run a streaming query with [[StatePartitions]]
    * state partitions (fresh checkpoints pin partitioning at first run,
    * so the setting takes effect per gate invocation), restoring the
    * session's batch settings afterwards.
    *
    * Floor profile (r10 at sf0.1, BENCH_NOTES.md receipts): a gate's cost is
    * ~400-700 ms per micro-batch almost independent of rows — addBatch
    * is stage-scheduling + state-store task machinery (a 0-row
    * watermark batch still burns ~250 ms/task of executor time), wal +
    * offset commits are ~70 ms/batch on tmpfs, incremental re-planning
    * ~100 ms/batch. Batch COUNT is semantics (file splits, sentinel
    * cadence) and state partitions 1 vs 4 measured ±6% — so the two
    * levers adopted below are the semantics-neutral residue: defer
    * state maintenance past any gate's lifetime (no snapshot/cleanup
    * work inside a ≤5-batch run) and retain only 2 batches of metadata
    * (all a restart — stream_restart_resume included — ever reads).
    * Together ≈10% off the subtotal; the remaining floor is per-batch
    * machinery that amortizes at production batch sizes.
    */
  private def withStatePartitions[A](s: SparkSession)
                                    (body: => A): A =
    graft.Confs.withConf(s,
      "spark.sql.shuffle.partitions" -> StatePartitions.toString,
      "spark.sql.streaming.stateStore.maintenanceInterval" -> "600s",
      "spark.sql.streaming.minBatchesToRetain" -> "2")(body)

  /** The file-stream source every gate reads its staged CSVs through:
    * header row, explicit schema, one file per micro-batch (so the
    * mtime-ordered files ARE the batch sequence).
    */
  private def csvStream(s: SparkSession, schema: String, in: String): DataFrame =
    s.readStream
      .schema(schema)
      .option("header", "true")
      .option("maxFilesPerTrigger", "1")
      .csv(in)

  /** Run `df` to completion into an append-mode parquet sink under
    * [[withStatePartitions]]. `df` is by-name so the frame is built inside
    * the conf scope.
    */
  private def runToParquet(s: SparkSession, df: => DataFrame,
                           out: String, ck: String): Unit =
    withStatePartitions(s)(df
      .writeStream
      .format("parquet")
      .option("path", out)
      .option("checkpointLocation", ck)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination())

  /** Batches must be DISCOVERED in order: the file source sorts by
    * modification time, and files staged driver-side ms apart can share
    * one. Stamps each `(file, offsetMs)` at `base`'s mtime + offset;
    * setLastModified reports failure via a boolean, so fail loudly rather
    * than let a gate flake on a filesystem that ignores it.
    */
  private def stampAfter(base: String, later: (String, Long)*): Unit = {
    val b = new java.io.File(base)
    val t0 = b.lastModified()
    require(later.forall { case (f, ms) => new java.io.File(f).setLastModified(t0 + ms) },
      s"could not order staged batch files by mtime under ${b.getParent}")
  }

  private val DayUs = 86400L * 1000000

  /** Each sentinel column's value; `event_id` and `us` are per sentinel. */
  private val sentinelCells: Map[String, (DataType, (Long, Long) => Any)] = Map(
    "event_id" -> ((LongType, (id, _) => id)),
    "us" -> ((LongType, (_, us) => us)),
    "user_id" -> ((LongType, (_, _) => -1L)),
    "event_type" -> ((StringType, (_, _) => "__sentinel__")),
    "value" -> ((DoubleType, (_, _) => 0.0)))

  /** Stage `b1`, then the two sentinel batches the append-mode event-time
    * gates need, and return `b1`'s max `us` (read back from the staged
    * CSV instead of re-scanning the SF-scaling source a second time).
    *
    * Append mode only emits state once the watermark passes it, so a
    * finite replay would otherwise hold its tail in state forever. TWO
    * sentinel batches: `b2` (one day past the corpus, event_id -1)
    * advances the watermark past every real window or session; `b3` (two
    * days, event_id -2) forces one more micro-batch in which that
    * advanced watermark actually EMITS the held state. Each sentinel is one row with `b1`'s columns in `b1`'s order:
    * user -1 (so it sessionizes apart from real users), type
    * `__sentinel__`, value 0.0. A column with no sentinel value fails.
    */
  private[streaming] def stageWithSentinels(s: SparkSession, in: String,
                                            b1: DataFrame, csvSchema: String): Long = {
    val unknown = b1.columns.filterNot(sentinelCells.contains)
    require(unknown.isEmpty,
      s"no sentinel value for column(s) ${unknown.mkString(", ")}")
    stageCsv(b1, in, "b1")
    val maxUs = s.read.schema(csvSchema).option("header", "true")
      .csv(s"$in/b1.csv").agg(max(col("us"))).head().getLong(0)
    val schema = StructType(b1.columns.map(c => StructField(c, sentinelCells(c)._1)))
    for (k <- 1 to 2) {
      val row = Row.fromSeq(b1.columns.toSeq.map(c => sentinelCells(c)._2(-k, maxUs + k * DayUs)))
      stageCsv(s.createDataFrame(java.util.List.of(row), schema), in, s"b${k + 1}")
    }
    stampAfter(s"$in/b1.csv", s"$in/b2.csv" -> 10000L, s"$in/b3.csv" -> 20000L)
    maxUs
  }

  /** Same corpus and same expected result as `ref_ingest_dedup`, but the
    * rows travel as CSV files through a streaming query: two files (base
    * batch seq=1, duplicate-key batch seq=2) land in a watched dir, the
    * stream runs to completion with `Trigger.AvailableNow`, each
    * micro-batch upserts into parquet, and the final read merges the
    * accumulated batches. Because per-batch winners keep their data
    * `seq`, the result is identical whether the source saw one batch or
    * ten — the property that makes the plan replay-safe at scale.
    */
  val streamIngestDedup: Q = (s, _) => {
    val (in, _) = stagedInputs("ingest", "gen") { in =>
      stageCsv(Gen.locations(s, 1000).withColumn("seq", lit(1L)), in, "b1")
      stageCsv(Gen.locations(s, 200)
        .withColumn("business", concat(lit("DUP_"), col("business")))
        .withColumn("seq", lit(2L)), in, "b2")
      0L
    }
    val (out, ck) = freshOutCk()
    withStatePartitions(s)(
      Streams.csvUpsertAvailableNow(s, in, out, ck, seqSchema,
        Seq("locid"), "seq").awaitTermination())
    Upsert.lastWins(s.read.schema(seqSchema).parquet(out),
      Seq("locid"), col("seq")).orderBy("locid")
  }

  /** Event-TIME streaming under the gate: the events feed replayed as
    * CSV files through `readStream` → watermark → 10-minute tumbling
    * windows → append-mode parquet, run to completion with
    * `Trigger.AvailableNow`, and hash-checked against the batch SQL.
    *
    * Append mode only emits a window once the watermark passes it, so a
    * finite replay would otherwise hold its tail windows in state
    * forever. Two sentinel events (one and two days past the corpus)
    * advance the watermark beyond every real window, and the follow-up
    * micro-batches emit the held state before AvailableNow terminates;
    * the sentinels' own rows are dropped in the final batch read (NOT
    * in the stream — see the in-line note on filter pushdown). The
    * oracle knows nothing about any of this — it is the plain batch
    * GROUP BY — which is exactly the claim being gated: event-time
    * streaming and batch agree row-for-row.
    */
  val streamTumblingCounts: Q = (s, dir) => {
    import s.implicits._
    import graft.functions.Exact.dsum
    val csvSchema = "event_id BIGINT, us BIGINT, event_type STRING, value DOUBLE"
    val (in, _) = stagedInputs("tumbling", dir) { in =>
      stageWithSentinels(s, in, graft.Tables(s, dir, "events")
        .filter($"user_id" <= 300)
        .select($"event_id", unix_micros($"ts".cast("timestamp")).as("us"),
          $"event_type", $"value"), csvSchema)
    }
    val (out, ck) = freshOutCk()
    runToParquet(s, csvStream(s, csvSchema, in)
      // watermarks require TimestampType; the session is UTC, so the
      // final cast to NTZ restores the corpus's naive wall-clock for
      // the dump (comparator reads both engines' output tz-naive).
      // NOTE: no sentinel filter here — a stream-side filter gets
      // PUSHED BELOW the EventTimeWatermark node by the optimizer, so
      // the sentinels would never advance the watermark (measured: the
      // two tail windows stayed unemitted). Sentinel rows flow through
      // the aggregation and are dropped in the batch read below.
      .withColumn("ts", timestamp_micros($"us"))
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "10 minutes"), $"event_type")
      .agg(count(lit(1)).as("n"), dsum($"value").as("total_value"))
      .select($"window.start".cast("timestamp_ntz").as("w_start"),
        $"event_type", $"n", $"total_value"), out, ck)
    s.read.parquet(out)
      .filter($"event_type" =!= "__sentinel__")
      .orderBy($"w_start", $"event_type")
  }

  val streamTumblingSql: String = {
    import graft.functions.Exact.sqlDsum
    s"""SELECT time_bucket(INTERVAL '10 minutes', ts) AS w_start, event_type,
       |  COUNT(*) AS n, ${sqlDsum("value")} AS total_value
       |FROM events WHERE user_id <= 300
       |GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin
  }

  /** SLIDING windows under the gate (same sentinel-watermark technique as
    * [[streamTumblingCounts]]): 10-minute windows sliding every 5, so
    * every event lands in two windows and append mode must hold BOTH
    * until the watermark clears them. Sentinel rows land a day past the
    * corpus in their own windows; the final batch read drops every
    * window starting after the last real event (sentinel windows are the
    * only ones there).
    */
  val streamSlidingCounts: Q = (s, dir) => {
    import s.implicits._
    import graft.functions.Exact.dsum
    val csvSchema = "event_id BIGINT, us BIGINT, value DOUBLE"
    val (in, maxUs) = stagedInputs("sliding", dir) { in =>
      stageWithSentinels(s, in, graft.Tables(s, dir, "events")
        .filter($"user_id" <= 300)
        .select($"event_id", unix_micros($"ts".cast("timestamp")).as("us"),
          $"value"), csvSchema)
    }
    val (out, ck) = freshOutCk()
    runToParquet(s, csvStream(s, csvSchema, in)
      .withColumn("ts", timestamp_micros($"us"))
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "10 minutes", "5 minutes"))
      .agg(count(lit(1)).as("n"), dsum($"value").as("total_value"))
      .select($"window.start".cast("timestamp_ntz").as("w_start"),
        $"n", $"total_value"), out, ck)
    s.read.parquet(out)
      .filter($"w_start" <= timestamp_micros(lit(maxUs)).cast("timestamp_ntz"))
      .orderBy($"w_start")
  }

  val streamSlidingSql: String = {
    import graft.functions.Exact.sqlDsum
    s"""WITH e AS (SELECT value,
       |    time_bucket(INTERVAL '5 minutes', ts) AS tb
       |  FROM events WHERE user_id <= 300),
       |w AS (SELECT value,
       |    unnest([tb, tb - INTERVAL '5 minutes']) AS w_start FROM e)
       |SELECT w_start, COUNT(*) AS n, ${sqlDsum("value")} AS total_value
       |FROM w GROUP BY 1 ORDER BY w_start""".stripMargin
  }

  /** Streaming TRENDING TOP-K: per 1-hour tumbling window, the top-3
    * event types by count — the live-dashboard shape (trending topics,
    * hot endpoints) a batch rank cannot serve. The ranking rides
    * `foreachBatch` on the APPEND-mode windowed aggregate: a window's
    * groups all finalize in the SAME micro-batch (the watermark update
    * that closes the window is batch-global), so ranking inside the
    * emitted batch ranks complete windows — no cross-batch state
    * beyond the windowed aggregation Spark already keeps. Per batch
    * the rank input is |closed windows × types| rows, never events.
    * The sentinel-watermark discipline and mtime-ordered staging
    * follow [[streamTumblingCounts]]; the oracle replays the same
    * top-3 as a batch window rank.
    */
  val streamTrendingTopk: Q = (s, dir) => {
    import s.implicits._
    val csvSchema = "event_id BIGINT, us BIGINT, event_type STRING"
    val (in, _) = stagedInputs("trending", dir) { in =>
      stageWithSentinels(s, in, graft.Tables(s, dir, "events")
        .select($"event_id", unix_micros($"ts".cast("timestamp")).as("us"),
          $"event_type"), csvSchema)
    }
    val (out, ck) = freshOutCk()
    withStatePartitions(s)(csvStream(s, csvSchema, in)
      .withColumn("ts", timestamp_micros($"us"))
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select($"window.start".cast("timestamp_ntz").as("w_start"),
        $"event_type", $"n")
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("w_start")).orderBy(col("n").desc, col("event_type"))
        // idempotent under micro-batch RETRY: each batch owns its
        // batch_id partition and dynamic-overwrites ONLY that partition,
        // so a task failure after a partial commit re-runs to the same
        // bytes instead of appending duplicate (w_start, event_type)
        // rows — the exactly-once guarantee the file sink gives its
        // siblings, recovered for the foreachBatch rank.
        // Only windows-closing batches emit rows (append mode): skip the
        // dynamic-overwrite commit machinery on the empty ones. The
        // batch is PERSISTED first so the emptiness probe and the write
        // share one evaluation of the windowed aggregate (a bare
        // isEmpty would re-run the agg for the write on the non-empty
        // batch — costing more than the skipped empty commits save).
        val b = batch.persist()
        try {
          if (b.count() > 0)
            b.withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
              .withColumn("batch_id", lit(batchId))
              .write.mode("overwrite")
              .option("partitionOverwriteMode", "dynamic")
              .partitionBy("batch_id")
              .parquet(out)
        } finally { b.unpersist(); () }
      }
      .option("checkpointLocation", ck)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination())
    // only window-closing batches write, so a corpus whose windows never
    // close would leave `out` uncreated — fall back to an empty frame of
    // the expected schema instead of a path-not-found read
    val raw =
      if (Files.exists(Paths.get(out))) s.read.parquet(out)
      else s.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType.fromDDL(
          "w_start TIMESTAMP_NTZ, event_type STRING, n BIGINT, rk INT"))
    raw
      .filter($"event_type" =!= "__sentinel__")
      .select($"w_start", $"event_type", $"n", $"rk")
      .orderBy($"w_start", $"rk")
  }

  val streamTrendingTopkSql: String =
    s"""WITH c AS (
       |  SELECT time_bucket(INTERVAL '1 hour', ts) AS w_start, event_type,
       |    COUNT(*) AS n
       |  FROM events GROUP BY 1, 2),
       |r AS (SELECT *, CAST(row_number() OVER (
       |    PARTITION BY w_start ORDER BY n DESC, event_type) AS INT) AS rk
       |  FROM c)
       |SELECT w_start, event_type, n, rk FROM r
       |WHERE rk <= 3 ORDER BY w_start, rk""".stripMargin

  /** SESSION windows under the gate: Structured Streaming's native
    * `session_window` (30-minute inactivity gap) with merging state,
    * checked against the SAME batch formulation the lag/running-sum
    * oracle uses — the strongest equivalence claim in the streaming
    * surface, since sessions are the one window shape whose state
    * MERGES as events arrive. Sentinels run under user_id -1 so they
    * sessionize separately; the per-user session ordinal the batch
    * oracle numbers is re-derived from the emitted session starts.
    */
  val streamSessions: Q = (s, dir) => {
    import s.implicits._
    import graft.functions.Exact.dsum
    val csvSchema = "event_id BIGINT, user_id BIGINT, us BIGINT, value DOUBLE"
    val (in, _) = stagedInputs("sessions", dir) { in =>
      stageWithSentinels(s, in, graft.Tables(s, dir, "events")
        .filter($"user_id" <= 300)
        .select($"event_id", $"user_id",
          unix_micros($"ts".cast("timestamp")).as("us"), $"value"), csvSchema)
    }
    val (out, ck) = freshOutCk()
    runToParquet(s, csvStream(s, csvSchema, in)
      .withColumn("ts", timestamp_micros($"us"))
      .withWatermark("ts", "30 minutes")
      .groupBy($"user_id", session_window($"ts", "30 minutes"))
      .agg(min($"ts").as("ss"), max($"ts").as("se"),
        count(lit(1)).as("n_events"), dsum($"value").as("total_value"))
      .select($"user_id",
        $"ss".cast("timestamp_ntz").as("sess_start"),
        $"se".cast("timestamp_ntz").as("sess_end"),
        $"n_events", $"total_value"), out, ck)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"sess_start")
    s.read.parquet(out)
      .filter($"user_id" >= 0)
      .withColumn("session_n", row_number().over(w).cast("long"))
      .select($"user_id", $"session_n", $"sess_start", $"sess_end",
        $"n_events", $"total_value")
      .orderBy($"user_id", $"session_n")
  }

  val streamSessionsSql: String = {
    import graft.functions.Exact.sqlDsum
    s"""WITH e AS (
       |  SELECT user_id, event_id, ts, value, epoch_us(ts) AS us
       |  FROM events WHERE user_id <= 300),
       |flagged AS (
       |  SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > ${30L * 60 * 1000000}
       |                 THEN 1 ELSE 0 END AS new_sess
       |  FROM (SELECT *, lag(us, 1) OVER (PARTITION BY user_id
       |          ORDER BY us, event_id) AS prev_us FROM e)),
       |sess AS (
       |  SELECT *, SUM(new_sess) OVER (PARTITION BY user_id
       |    ORDER BY us, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_n
       |  FROM flagged)
       |SELECT user_id, CAST(session_n AS BIGINT) AS session_n,
       |  MIN(ts) AS sess_start, MAX(ts) AS sess_end,
       |  COUNT(*) AS n_events, ${sqlDsum("value")} AS total_value
       |FROM sess GROUP BY user_id, session_n
       |ORDER BY user_id, session_n""".stripMargin
  }

  /** CUSTOM-STATE sessionization under the gate: the same 30-minute-gap
    * sessions as [[streamSessions]], but computed by the user-written
    * `flatMapGroupsWithState` operator ([[Streams.sessionizeEventTime]]
    * — explicit per-user GroupState, event-time timeouts) instead of
    * the native `session_window`. Three formulations of one semantics
    * now share one oracle: batch SQL ≡ native session_window stream ≡
    * hand-rolled GroupState stream — the strongest claim available for
    * the custom-state escape hatch, because the state machine's every
    * branch (extend/close/timeout) must agree with the declarative
    * form to hash-match. Sessions held in state emit via EventTime
    * TIMEOUT here (not window eviction), so the two sentinel batches
    * drive: first advances the watermark past every real session's
    * `end + gap`, second fires the timeout branch that flushes them.
    *
    * [[Streams.Session]] tracks epoch MILLIS (`Timestamp.getTime`);
    * the corpus carries microsecond timestamps, so the gate feeds the
    * stream ms-TRUNCATED event times and the oracle sessionizes the
    * identically truncated stream — resolution is a staging choice,
    * the state machine is what's under test.
    */
  val streamCustomStateSessions: Q = (s, dir) => {
    import s.implicits._
    val csvSchema = "event_id BIGINT, user_id BIGINT, us BIGINT, value DOUBLE"
    val (in, _) = stagedInputs("customstate", dir) { in =>
      stageWithSentinels(s, in, graft.Tables(s, dir, "events")
        .filter($"user_id" <= 300)
        .select($"event_id", $"user_id",
          // ms-truncate in pure integer math (um − um mod 1000)
          (unix_micros($"ts".cast("timestamp")) -
            pmod(unix_micros($"ts".cast("timestamp")), lit(1000L))).as("us"),
          $"value"), csvSchema)
    }
    val (out, ck) = freshOutCk()
    runToParquet(s, Streams.sessionizeEventTime(csvStream(s, csvSchema, in)
        .select($"event_id", timestamp_micros($"us").as("ts"), $"user_id",
          lit("e").as("event_type"), $"value")
        .as[Streams.Event], gapMs = 30L * 60 * 1000, watermark = "30 minutes")
      .toDF(), out, ck)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"sess_start")
    s.read.parquet(out)
      .filter($"user_id" >= 0)
      .withColumn("session_n", row_number().over(w).cast("long"))
      .select($"user_id", $"session_n",
        $"sess_start".cast("timestamp_ntz").as("sess_start"),
        $"sess_end".cast("timestamp_ntz").as("sess_end"), $"n_events")
      .orderBy($"user_id", $"session_n")
  }

  val streamCustomStateSessionsSql: String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, epoch_us(ts) // 1000 * 1000 AS us
       |  FROM events WHERE user_id <= 300),
       |flagged AS (
       |  SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > ${30L * 60 * 1000000}
       |                 THEN 1 ELSE 0 END AS new_sess
       |  FROM (SELECT *, lag(us, 1) OVER (PARTITION BY user_id
       |          ORDER BY us, event_id) AS prev_us FROM e)),
       |sess AS (
       |  SELECT *, SUM(new_sess) OVER (PARTITION BY user_id
       |    ORDER BY us, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_n
       |  FROM flagged)
       |SELECT user_id, CAST(session_n AS BIGINT) AS session_n,
       |  make_timestamp(MIN(us)) AS sess_start,
       |  make_timestamp(MAX(us)) AS sess_end,
       |  COUNT(*) AS n_events
       |FROM sess GROUP BY user_id, session_n
       |ORDER BY user_id, session_n""".stripMargin

  /** One side of the interval-join gates: the staged `c`/`p` dir as a
    * file stream, columns prefixed `click_`/`purchase_`, watermarked 1 h.
    */
  private def joinSide(s: SparkSession, path: String, prefix: String): DataFrame =
    csvStream(s, "event_id BIGINT, user_id BIGINT, us BIGINT", path)
      .select(col("event_id").as(s"${prefix}_id"), col("user_id").as(s"${prefix}_user"),
        timestamp_micros(col("us")).as(s"${prefix}_ts"))
      .withWatermark(s"${prefix}_ts", "1 hour")

  /** STREAM-STREAM interval join under the gate: clicks and purchases
    * replayed as two independent file streams, inner-joined on user
    * with `purchase.ts ∈ [click.ts, click.ts + 30 min]`. Each side is
    * split across two files (`maxFilesPerTrigger 1`), so matches MUST
    * cross micro-batch boundaries — the join state, not batch
    * coincidence, produces the result. Inner interval joins emit on
    * match (the watermark only bounds state retention), so no sentinel
    * batches are needed; the watermark + the range condition are what
    * let Spark expire click state at scale instead of buffering the
    * full click history.
    */
  val streamIntervalJoin: Q = (s, dir) => {
    import s.implicits._
    // two sub-dirs under one memoized root: each side is its own file
    // stream source (a file source lists its dir non-recursively)
    val (root, _) = stagedInputs("intervaljoin", dir) { root =>
      val in = s"$root/c"; val inP = s"$root/p"
      Files.createDirectories(Paths.get(in))
      Files.createDirectories(Paths.get(inP))
      val ev = graft.Tables(s, dir, "events").filter($"user_id" <= 300)
        .select($"event_id", $"user_id",
          unix_micros($"ts".cast("timestamp")).as("us"), $"event_type")
      val clicks = ev.filter($"event_type" === "click").drop("event_type")
      val purchases = ev.filter($"event_type" === "purchase").drop("event_type")
      // two files per side: even/odd event ids — forces cross-batch matches
      stageCsv(clicks.filter($"event_id" % 2 === 0), in, "c1")
      stageCsv(clicks.filter($"event_id" % 2 =!= 0), in, "c2")
      stageCsv(purchases.filter($"event_id" % 2 === 0), inP, "p1")
      stageCsv(purchases.filter($"event_id" % 2 =!= 0), inP, "p2")
      stampAfter(s"$in/c1.csv", s"$in/c2.csv" -> 10000L, s"$inP/p2.csv" -> 10000L)
      0L
    }
    val (out, ck) = freshOutCk()
    runToParquet(s, joinSide(s, s"$root/c", "click")
      .join(joinSide(s, s"$root/p", "purchase"),
        $"click_user" === $"purchase_user" &&
          $"purchase_ts" >= $"click_ts" &&
          $"purchase_ts" <= $"click_ts" + expr("INTERVAL 30 MINUTES"))
      .select($"click_id", $"purchase_id", $"click_user".as("user_id"),
        (unix_micros($"purchase_ts") - unix_micros($"click_ts")).as("delta_us")),
      out, ck)
    s.read.parquet(out).orderBy($"click_id", $"purchase_id")
  }

  /** Shared body of the outer interval-join gates: identical two-sided
    * staging and sentinel cadence, parameterized join mode. LEFT OUTER
    * emits unmatched clicks null-padded at state expiry; FULL OUTER
    * additionally emits unmatched purchases — the complete join-mode
    * matrix for stream-stream interval joins. `user_id` coalesces
    * across sides because full-outer rows may carry either side alone
    * (for leftOuter the click side is never null, so the coalesce is
    * the identity there and the two gates share one body).
    */
  private def outerIntervalGate(s: SparkSession, dir: String,
                                mode: String): DataFrame = {
    import s.implicits._
    val (root, _) = stagedInputs("outerinterval", dir) { root =>
      val in = s"$root/c"; val inP = s"$root/p"
      Files.createDirectories(Paths.get(in))
      Files.createDirectories(Paths.get(inP))
      val ev = graft.Tables(s, dir, "events").filter($"user_id" <= 300)
        .select($"event_id", $"user_id",
          unix_micros($"ts".cast("timestamp")).as("us"), $"event_type")
      val clicks = ev.filter($"event_type" === "click").drop("event_type")
      val purchases = ev.filter($"event_type" === "purchase").drop("event_type")
      // ONE real-data file per side (r13): the cross-batch-match property
      // is [[streamIntervalJoin]]'s gate (which keeps its two-file split);
      // THESE gates' tested property is watermark-driven null-padded
      // emission at state expiry, which the sentinel cadence below
      // carries — so the outer gates drop the extra real-data trigger
      // (one micro-batch less per side per run, same result rows)
      stageCsv(clicks, in, "c1")
      stageCsv(purchases, inP, "p1")
      val maxUs = ev.agg(max($"us")).head().getLong(0)
      def sentinel(tag: Long, days: Long) =
        Seq((tag, -1L, maxUs + days * 86400L * 1000000))
          .toDF("event_id", "user_id", "us")
      // ONE trailing sentinel pair (r15): the pair advances both sides'
      // watermarks past every real click/purchase's expiry point, and
      // the EVICTION batch is the engine's own required no-data batch —
      // a stateful operator whose watermark advance enables eviction
      // reports it still requires a batch, and AvailableNow only
      // terminates when no operator does. The r13 second sentinel pair
      // duplicated that machinery (2 micro-batches per gate saved;
      // hash-identical at all three SFs).
      stageCsv(sentinel(-1L, 1), in, "c2")
      stageCsv(sentinel(-3L, 1), inP, "p2")
      stampAfter(s"$in/c1.csv", s"$in/c2.csv" -> 10000L, s"$inP/p2.csv" -> 10000L)
      maxUs
    }
    val (out, ck) = freshOutCk()
    runToParquet(s, joinSide(s, s"$root/c", "click")
      .join(joinSide(s, s"$root/p", "purchase"),
        $"click_user" === $"purchase_user" &&
          $"purchase_ts" >= $"click_ts" &&
          $"purchase_ts" <= $"click_ts" + expr("INTERVAL 30 MINUTES"),
        mode)
      .select($"click_id", $"purchase_id",
        coalesce($"click_user", $"purchase_user").as("user_id"),
        (unix_micros($"purchase_ts") - unix_micros($"click_ts")).as("delta_us")),
      out, ck)
    s.read.parquet(out)
      .filter($"user_id" >= 0)
      .orderBy(coalesce($"click_id", lit(-1L)),
        coalesce($"purchase_id", lit(-1L)))
  }

  /** STREAM-STREAM LEFT OUTER interval join under the gate — the outer
    * semantics batch users get wrong first: an unmatched click must
    * surface exactly once, null-padded, and only when the watermark
    * proves no matching purchase can still arrive (state expiry emits
    * it — nothing else may). Staging mirrors [[streamIntervalJoin]]
    * (two files per side, cross-batch matches forced), plus the
    * sentinel-watermark technique from [[streamTumblingCounts]] applied
    * to BOTH sides: the join's event-time clock is the min of the two
    * sides' watermarks, so each side stages two far-future sentinel
    * files (user -1) — the first pair advances both watermarks past
    * every real click's expiry point, the second pair drives the
    * micro-batch in which the join state actually evicts and emits the
    * null-padded rows before AvailableNow terminates. The sentinels
    * pair only with each other (no real user is -1) and are dropped in
    * the final batch read. Oracle = the plain batch LEFT JOIN with the
    * identical interval predicate; the order key coalesces the nullable
    * purchase_id (Spark sorts nulls first, DuckDB last — never let a
    * NULL reach the comparator's sort).
    */
  val streamOuterIntervalJoin: Q = (s, dir) =>
    outerIntervalGate(s, dir, "leftOuter")

  /** FULL OUTER stream-stream interval join: unmatched rows from BOTH
    * sides must emerge null-padded exactly once at watermark-driven
    * state expiry. Oracle = the batch FULL JOIN with the identical
    * interval predicate.
    */
  val streamFullOuterIntervalJoin: Q = (s, dir) =>
    outerIntervalGate(s, dir, "fullOuter")

  val streamFullOuterIntervalJoinSql: String =
    s"""WITH c AS (SELECT event_id, user_id, ts FROM events
       |           WHERE event_type = 'click' AND user_id <= 300),
       |p AS (SELECT event_id, user_id, ts FROM events
       |      WHERE event_type = 'purchase' AND user_id <= 300)
       |SELECT c.event_id AS click_id, p.event_id AS purchase_id,
       |  COALESCE(c.user_id, p.user_id) AS user_id,
       |  epoch_us(p.ts) - epoch_us(c.ts) AS delta_us
       |FROM c FULL JOIN p
       |  ON c.user_id = p.user_id
       |  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL '30 minutes'
       |ORDER BY COALESCE(click_id, -1), COALESCE(purchase_id, -1)""".stripMargin

  val streamOuterIntervalJoinSql: String =
    s"""SELECT c.event_id AS click_id, p.event_id AS purchase_id,
       |  c.user_id,
       |  epoch_us(p.ts) - epoch_us(c.ts) AS delta_us
       |FROM events c LEFT JOIN events p
       |  ON c.user_id = p.user_id AND p.event_type = 'purchase'
       |  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL '30 minutes'
       |WHERE c.event_type = 'click' AND c.user_id <= 300
       |ORDER BY click_id, COALESCE(purchase_id, -1)""".stripMargin

  /** STREAMING DEDUPLICATION under the gate: the events feed replayed
    * with a 25% duplicate tail (a re-delivered file — the at-least-once
    * failure mode every ingest pipeline has), streamed through
    * `dropDuplicates(event_id)` with a watermark bounding the dedup
    * state. Duplicates arrive in a LATER micro-batch than their
    * originals, so suppressing them proves the keyed state works across
    * batches, not within one. Append mode emits first-seen rows
    * immediately; the oracle is the plain batch aggregate over the
    * original (duplicate-free) events.
    */
  val streamDedup: Q = (s, dir) => {
    import s.implicits._
    import graft.functions.Exact.dsum
    val (in, _) = stagedInputs("dedup", dir) { in =>
      val ev = graft.Tables(s, dir, "events")
        .filter($"user_id" <= 300)
        .select($"event_id", unix_micros($"ts".cast("timestamp")).as("us"),
          $"event_type", $"value")
      stageCsv(ev, in, "b1")
      // the re-delivered file: every 4th event again, byte-identical
      stageCsv(ev.filter($"event_id" % 4 === 0), in, "b2")
      stampAfter(s"$in/b1.csv", s"$in/b2.csv" -> 10000L)
      0L
    }
    val (out, ck) = freshOutCk()
    runToParquet(s, csvStream(s,
        "event_id BIGINT, us BIGINT, event_type STRING, value DOUBLE", in)
      .withColumn("ts", timestamp_micros($"us"))
      .withWatermark("ts", "1 hour")
      .dropDuplicates("event_id"), out, ck)
    s.read.parquet(out)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), countDistinct($"event_id").as("n_ids"),
        dsum($"value").as("total_value"))
      .orderBy($"event_type")
  }

  val streamDedupSql: String = {
    import graft.functions.Exact.sqlDsum
    s"""SELECT event_type, COUNT(*) AS n, COUNT(DISTINCT event_id) AS n_ids,
       |  ${sqlDsum("value")} AS total_value
       |FROM events WHERE user_id <= 300
       |GROUP BY event_type ORDER BY event_type""".stripMargin
  }

  /** `dropDuplicatesWithinWatermark` state-EVICTION semantics under the
    * gate — the production-correctness difference from the unbounded
    * [[streamDedup]]: dedup state for a key is released once the
    * watermark passes its event time + delay, so the operator runs with
    * BOUNDED state on unbounded key spaces — at the price that a
    * re-delivery arriving after eviction is emitted AGAIN. This gate
    * pins all three outcomes a re-delivered event can have.
    *
    * b1 stages the corpus (watermark after it: wm₁ = max(ts) − 1 h).
    * b2 and b3 re-deliver the last 6 h of events at +3 h and +8 h
    * ingest timestamps (the at-least-once-with-fresh-ingest-time shape
    * the operator was built for). The measured semantics the oracle
    * encodes — expiry is swept at each batch's END, with that batch's
    * own watermark, AFTER the batch's lookups ran:
    *   - b2 emits NOTHING: no key was swept at b1's end (wm₀ = 0), so
    *     every non-late b2 row still finds its key live and dedups;
    *     rows with ts′ < wm₁ are dropped as late before the lookup;
    *   - after b2, keys with ts + 1 h < wm₁ are swept;
    *   - b3 re-emits exactly those swept keys (`src='b3'` rows — the
    *     bounded-state trade made visible) and dedups the still-live
    *     rest; nothing in b3 is late against wm₂ = max(b2 ts′) − 1 h.
    * Boundary strictness never decides a row BY CONSTRUCTION: the
    * re-delivery slice is strictly inside (mt−6h, mt] and excludes the
    * exact eviction-equality instant mt−2h, so no staged row can land
    * on a watermark or sweep boundary even if the corpus regenerates.
    */
  val streamDedupEvict: Q = (s, dir) => {
    import s.implicits._
    import graft.functions.Exact.dsum
    val (in, _) = stagedInputs("dedupevict", dir) { in =>
      val ev = graft.Tables(s, dir, "events")
        .filter($"user_id" <= 300)
        .select($"event_id", unix_micros($"ts".cast("timestamp")).as("us"),
          $"event_type", $"value")
      // the corpus max drives both staging (the 6 h re-delivery slice)
      // and the oracle's watermark arithmetic; 1-row driver read, the
      // documented sentinel-parameterization pattern
      val maxUs = ev.agg(max($"us")).head().getLong(0)
      val H = 3600000000L // one hour of microseconds
      stageCsv(ev.select(lit("b1").as("src"), $"event_id", $"us",
        $"event_type", $"value"), in, "b1")
      // The re-delivery slice is STRICTLY inside (mt-6h, mt] and excludes the
      // exact eviction-boundary instant mt-2h (where ts+1h = wm1): no staged
      // row can ever sit on a watermark or sweep equality, so neither Spark's
      // late-drop strictness nor eviction <=-vs-< can decide an emitted row.
      val slice = ev.filter($"us" > maxUs - 6 * H && $"us" =!= maxUs - 2 * H)
      stageCsv(slice
        .select(lit("b2").as("src"), $"event_id", ($"us" + 3 * H).as("us"),
          $"event_type", $"value"), in, "b2")
      stageCsv(slice
        .select(lit("b3").as("src"), $"event_id", ($"us" + 8 * H).as("us"),
          $"event_type", $"value"), in, "b3")
      stampAfter(s"$in/b1.csv", s"$in/b2.csv" -> 10000L, s"$in/b3.csv" -> 20000L)
      maxUs
    }
    val (out, ck) = freshOutCk()
    runToParquet(s, csvStream(s,
        "src STRING, event_id BIGINT, us BIGINT, event_type STRING, value DOUBLE", in)
      .withColumn("ts", timestamp_micros($"us"))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id"), out, ck)
    s.read.parquet(out)
      .groupBy($"event_type", $"src")
      .agg(count(lit(1)).as("n"), dsum($"value").as("total_value"))
      .orderBy($"event_type", $"src")
  }

  val streamDedupEvictSql: String = {
    import graft.functions.Exact.sqlDsum
    s"""WITH ev AS (
       |  SELECT event_id, ts, event_type, value FROM events WHERE user_id <= 300),
       |mx AS (SELECT max(ts) AS mt FROM ev),
       |emitted AS (
       |  SELECT 'b1' AS src, event_type, value FROM ev
       |  UNION ALL
       |  -- b2 contributes nothing (state is swept at batch END, after
       |  -- its lookups); b3 re-emits the keys swept after b2
       |  -- (ts + 1h < wm1 = mt - 1h) -- none of b3 is late against
       |  -- wm2 = mt + 2h since the slice floor is STRICTLY above mt - 6h
       |  -- (= wm2 - 8h), and the eviction-equality instant mt - 2h is
       |  -- excluded from the slice
       |  SELECT 'b3', event_type, value FROM ev, mx
       |  WHERE ts > mt - INTERVAL 6 HOUR
       |    AND ts <> mt - INTERVAL 2 HOUR
       |    AND ts + INTERVAL 1 HOUR < mt - INTERVAL 1 HOUR
       |    AND ts + INTERVAL 8 HOUR > mt + INTERVAL 2 HOUR)
       |SELECT event_type, src, CAST(COUNT(*) AS BIGINT) AS n,
       |  ${sqlDsum("value")} AS total_value
       |FROM emitted GROUP BY event_type, src ORDER BY event_type, src""".stripMargin
  }

  val streamIntervalJoinSql: String =
    s"""SELECT c.event_id AS click_id, p.event_id AS purchase_id,
       |  c.user_id,
       |  epoch_us(p.ts) - epoch_us(c.ts) AS delta_us
       |FROM events c JOIN events p ON c.user_id = p.user_id
       |WHERE c.event_type = 'click' AND p.event_type = 'purchase'
       |  AND c.user_id <= 300
       |  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL '30 minutes'
       |ORDER BY click_id, purchase_id""".stripMargin

  /** Stream-STATIC join under the gate (the remaining join shape —
    * `stream_interval_join` covers stream-stream): the events feed
    * replayed through `readStream` is enriched against a static
    * category dimension (broadcast per micro-batch, stateless) before a
    * watermarked tumbling aggregation keyed on the JOINED-IN column.
    * The watermark is applied BEFORE the join, so the sentinel rows —
    * whose type matches no dim row and which the inner join therefore
    * drops — still advance event time and flush the held windows: the
    * join cannot be allowed to eat the clock. Oracle = the plain batch
    * join+GROUP BY.
    */
  val streamStaticJoin: Q = (s, dir) => {
    import s.implicits._
    import graft.functions.Exact.dsum
    val csvSchema = "event_id BIGINT, us BIGINT, event_type STRING, value DOUBLE"
    val (in, _) = stagedInputs("staticjoin", dir) { in =>
      stageWithSentinels(s, in, graft.Tables(s, dir, "events")
        .filter($"user_id" <= 300)
        .select($"event_id", unix_micros($"ts".cast("timestamp")).as("us"),
          $"event_type", $"value"), csvSchema)
    }
    val (out, ck) = freshOutCk()
    val dim = Seq(("purchase", "revenue"), ("click", "engagement"),
      ("view", "engagement"), ("signup", "acquisition"), ("error", "ops"))
      .toDF("event_type", "category")
    runToParquet(s, csvStream(s, csvSchema, in)
      .withColumn("ts", timestamp_micros($"us"))
      .withWatermark("ts", "10 minutes")
      .join(broadcast(dim), "event_type")
      .groupBy(window($"ts", "10 minutes"), $"category")
      .agg(count(lit(1)).as("n"), dsum($"value").as("total_value"))
      .select($"window.start".cast("timestamp_ntz").as("w_start"),
        $"category", $"n", $"total_value"), out, ck)
    s.read.parquet(out).orderBy($"w_start", $"category")
  }

  val streamStaticJoinSql: String = {
    import graft.functions.Exact.sqlDsum
    s"""SELECT time_bucket(INTERVAL '10 minutes', ts) AS w_start, category,
       |  COUNT(*) AS n, ${sqlDsum("value")} AS total_value
       |FROM events JOIN (VALUES ('purchase', 'revenue'),
       |  ('click', 'engagement'), ('view', 'engagement'),
       |  ('signup', 'acquisition'), ('error', 'ops'))
       |  dim(event_type, category) USING (event_type)
       |WHERE user_id <= 300
       |GROUP BY 1, 2 ORDER BY w_start, category""".stripMargin
  }

  /** STREAMING MERGE INTO THE LAKE TABLE under the gate — the path a
    * production pipeline runs as "readStream → foreachBatch → MERGE
    * INTO versioned table" (Delta/Iceberg streaming upsert), composed
    * here from the two surfaces that already gate separately: the
    * file-stream source and [[graft.operators.Snapshots]]. Each
    * micro-batch becomes ONE atomic, partition-scoped commit: read the
    * latest version, last-wins-merge the batch into only the partitions
    * the batch touches, carry every other partition's files forward,
    * publish the next manifest. Batch 1 updates only the F partition
    * (seq 1), batch 2 touches every partition (seq 2) and inserts new
    * keys; `maxFilesPerTrigger=1` + mtime ordering make the commit
    * sequence deterministic (v2 then v3). The gate then reads ALL THREE
    * versions — the streaming writer must leave the same history a
    * batch writer would: v1 the base load, v2 exactly base+batch1, v3
    * the full fold. Stored rows keep their winning `seq`, so a key
    * re-updated across batches resolves by data order, not arrival
    * luck, and replaying a batch is idempotent.
    *
    * Driver-side calls inside foreachBatch (`isEmpty`, the 3-value
    * `touched` collect) mirror Delta's dynamic-partition-overwrite
    * planning step: per-batch metadata, bounded by the partition-value
    * cardinality, never by corpus size.
    */
  val streamLakeUpsert: Q = (s, dir) => {
    import s.implicits._
    import graft.functions.Exact.dsum
    val (in, _) = stagedInputs("lakeupsert", dir) { in =>
      val orders = graft.Tables(s, dir, "orders")
      val u1 = orders.filter($"o_orderkey" % 3 === 0 && $"o_orderstatus" === "F")
        .select($"o_orderkey", ($"o_totalprice" * 2).as("o_totalprice"),
          lit("u1").as("src"), lit(1L).as("seq"), $"o_orderstatus")
      val u2 = orders.filter($"o_orderkey" % 5 === 0)
        .select($"o_orderkey", ($"o_totalprice" * 3).as("o_totalprice"),
          lit("u2").as("src"), lit(2L).as("seq"), $"o_orderstatus")
      stageCsv(u1, in, "b1")
      stageCsv(u2, in, "b2")
      stampAfter(s"$in/b1.csv", s"$in/b2.csv" -> 10000L)
      0L
    }
    val (_, ck) = freshOutCk()
    // the versioned lake root is FRESH per invocation — the stream under
    // test commits v2/v3 on top of the v1 base load; the base load is
    // deterministic input prep, so it is built once and COPIED per
    // invocation (the vacuum-fixture discipline — snapshot manifests
    // hold relative file names, so the copy needs no rewriting)
    val (baseRoot, _) = stagedInputs("lakeupsert_v1", dir) { _ =>
      0L // key reuses the staging memo; the fixture lives beside it
    }
    val fixRoot = s"${baseRoot}_v1root"
    synchronized {
      if (!Files.exists(Paths.get(fixRoot))) {
        val orders = graft.Tables(s, dir, "orders")
        val base = orders.filter($"o_orderkey" % 2 === 0)
          .select($"o_orderkey", $"o_totalprice", lit("base").as("src"),
            lit(0L).as("seq"), $"o_orderstatus")
          .repartition($"o_orderstatus")
        graft.operators.Snapshots.commit(s, fixRoot, base, "o_orderstatus")
      }
    }
    val root = s"${graft.Scratch.dir}/graft_lake_stream_" +
      s"${graft.Scratch.runToken}_${invocation.incrementAndGet()}"
    graft.Scratch.copyTree(Paths.get(fixRoot), Paths.get(root))
    val csvSchema = "o_orderkey BIGINT, o_totalprice DOUBLE, src STRING, " +
      "seq BIGINT, o_orderstatus STRING"
    withStatePartitions(s)(csvStream(s, csvSchema, in)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // AvailableNow can fire a trailing no-data batch; committing it
        // would publish a duplicate version — skip, don't commit empty
        if (!batch.isEmpty) {
          val touched = batch.select($"o_orderstatus").distinct()
            .collect().map(_.getString(0)).toSet
          val latest = graft.operators.Snapshots.latestVersion(root)
          val live = graft.operators.Snapshots.read(s, root, latest)
            .filter($"o_orderstatus".isin(touched.toSeq: _*))
          // NOTE r14: no pre-write clustering here, unlike the batch lake
          // gates — this runs under withStatePartitions (4 shuffle
          // partitions), so the unclustered write emits ≤4×3 files and a
          // clustering exchange per commit costs more than it saves; the
          // base commit below/above runs OUTSIDE the stream confs at 32
          // partitions and keeps its repartition.
          val merged = graft.operators.Upsert.lastWins(
            live.unionByName(batch), Seq("o_orderkey"), col("seq"))
          graft.operators.Snapshots.commit(s, root, merged, "o_orderstatus",
            carry = rel =>
              !touched.exists(v => rel.contains(s"o_orderstatus=$v/")))
          ()
        }
      }
      .option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination())
    val latest = graft.operators.Snapshots.latestVersion(root)
    require(latest == 3, s"expected 3 committed versions, found $latest")
    def stateAt(v: Int) = graft.operators.Snapshots.read(s, root, v)
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n_rows"), dsum($"o_totalprice").as("total"),
        sum(($"src" === "u1").cast("long")).as("n_u1"),
        sum(($"src" === "u2").cast("long")).as("n_u2"))
      .withColumn("version", lit(v))
    (1 to 3).map(stateAt).reduce(_ unionByName _)
      .select($"version", $"o_orderstatus", $"n_rows", $"total",
        $"n_u1", $"n_u2")
      .orderBy($"version", $"o_orderstatus")
  }

  val streamLakeUpsertSql: String = {
    import graft.functions.Exact.sqlDsum
    s"""WITH base AS (
       |  SELECT o_orderkey, o_orderstatus, o_totalprice, 'base' AS src, 0 AS seq
       |  FROM orders WHERE o_orderkey % 2 = 0),
       |u1 AS (
       |  SELECT o_orderkey, o_orderstatus, o_totalprice * 2 AS o_totalprice,
       |    'u1' AS src, 1 AS seq
       |  FROM orders WHERE o_orderkey % 3 = 0 AND o_orderstatus = 'F'),
       |u2 AS (
       |  SELECT o_orderkey, o_orderstatus, o_totalprice * 3 AS o_totalprice,
       |    'u2' AS src, 2 AS seq
       |  FROM orders WHERE o_orderkey % 5 = 0),
       |v2 AS (
       |  SELECT o_orderkey, o_orderstatus, o_totalprice, src, seq FROM (
       |    SELECT *, row_number() OVER (PARTITION BY o_orderkey
       |      ORDER BY seq DESC) AS rn
       |    FROM (SELECT * FROM base UNION ALL SELECT * FROM u1))
       |  WHERE rn = 1),
       |v3 AS (
       |  SELECT o_orderkey, o_orderstatus, o_totalprice, src, seq FROM (
       |    SELECT *, row_number() OVER (PARTITION BY o_orderkey
       |      ORDER BY seq DESC) AS rn
       |    FROM (SELECT * FROM v2 UNION ALL SELECT * FROM u2))
       |  WHERE rn = 1),
       |states AS (
       |  SELECT 1 AS version, o_orderstatus, o_totalprice, src FROM base
       |  UNION ALL SELECT 2, o_orderstatus, o_totalprice, src FROM v2
       |  UNION ALL SELECT 3, o_orderstatus, o_totalprice, src FROM v3)
       |SELECT version, o_orderstatus, COUNT(*) AS n_rows,
       |  ${sqlDsum("o_totalprice")} AS total,
       |  CAST(SUM(CASE WHEN src = 'u1' THEN 1 ELSE 0 END) AS BIGINT) AS n_u1,
       |  CAST(SUM(CASE WHEN src = 'u2' THEN 1 ELSE 0 END) AS BIGINT) AS n_u2
       |FROM states GROUP BY version, o_orderstatus
       |ORDER BY version, o_orderstatus""".stripMargin
  }

  /** CHECKPOINT-RESUME under the gate — the restart semantics every
    * production stream depends on: run the watermarked tumbling
    * aggregation to completion on the first two staged files, STOP,
    * then start a NEW query (same plan, same checkpoint, same sink)
    * after a third file lands. The restarted query must recover the
    * watermark and the held window state from the checkpoint, discover
    * only the new file, emit the tail windows exactly once, and leave
    * a sink whose total content matches the plain batch oracle — the
    * full replay/exactly-once contract (offset log + state store +
    * file-sink metadata log) in one hash.
    *
    * Staging is memoized like every gate; since r15 the FIRST query
    * lifetime is memoized too (a deterministic function of the staged
    * inputs — the vacuum-fixture discipline): its finished checkpoint +
    * sink dirs are built once per (JVM, sf dir), b3 lands in the run
    * dir AFTER that lifetime ends, and each invocation copies the
    * pre-restart checkpoint/sink pair and runs the RESTART lifetime
    * fresh — recovery of the watermark, the seen-files offset log, the
    * held window state, and exactly-once tail emission all re-execute
    * per run, which is precisely the semantics under test. The copied
    * sink's metadata log references the fixture's part files (kept
    * alive by the memo) and the restart appends its own — the final
    * read sees both, exactly as a restarted production sink would.
    */
  val streamRestartResume: Q = (s, dir) => {
    import s.implicits._
    import graft.functions.Exact.dsum
    val csvSchema = "event_id BIGINT, us BIGINT, event_type STRING, value DOUBLE"
    val (staged, _) = stagedInputs("restart", dir) { in =>
      stageWithSentinels(s, in, graft.Tables(s, dir, "events")
        .filter($"user_id" <= 300)
        .select($"event_id", unix_micros($"ts".cast("timestamp")).as("us"),
          $"event_type", $"value"), csvSchema)
    }
    // one definition, two query lifetimes: the restarted stream must be
    // the same plan for the checkpoint to bind
    def runToCompletion(runIn: String, out: String, ck: String): Unit =
      runToParquet(s, csvStream(s, csvSchema, runIn)
        .withColumn("ts", timestamp_micros($"us"))
        .withWatermark("ts", "10 minutes")
        .groupBy(window($"ts", "10 minutes"), $"event_type")
        .agg(count(lit(1)).as("n"), dsum($"value").as("total_value"))
        .select($"window.start".cast("timestamp_ntz").as("w_start"),
          $"event_type", $"n", $"total_value"), out, ck)
    val (runIn, fixOut, fixCk) = graft.Artifacts.memo(s"stream.restart|$dir") {
      val in = s"${graft.Scratch.dir}/graft_stream_" +
        s"${graft.Scratch.runToken}_${invocation.incrementAndGet()}_in"
      Files.createDirectories(Paths.get(in))
      def arrive(name: String): Unit = {
        Files.copy(Paths.get(s"$staged/$name.csv"), Paths.get(s"$in/$name.csv"))
        require(new java.io.File(s"$in/$name.csv").setLastModified(
          new java.io.File(s"$staged/$name.csv").lastModified()),
          s"could not carry staged mtime onto $in/$name.csv")
      }
      arrive("b1"); arrive("b2")
      val (o, c) = freshOutCk()
      runToCompletion(in, o, c)
      // the third file lands AFTER the first query's lifetime ended; its
      // offsets are NOT in the fixture checkpoint, so every copied
      // restart discovers it as new input
      arrive("b3")
      (in, o, c)
    }
    val (out, ck) = freshOutCk()
    graft.Scratch.copyTree(Paths.get(fixOut), Paths.get(out))
    graft.Scratch.copyTree(Paths.get(fixCk), Paths.get(ck))
    // the sink metadata log stores ABSOLUTE file URIs; a relocated sink
    // must have them rewritten onto the copy or the read-side file index
    // (which trusts only entries under its own base path) sees nothing —
    // the standard chore of relocating a checkpointed sink
    val metaDir = Paths.get(out, "_spark_metadata")
    import scala.jdk.CollectionConverters._
    val metaList = Files.list(metaDir)
    try metaList.iterator().asScala.filter(Files.isRegularFile(_))
      .foreach { f =>
        // the in-place rewrite invalidates any Hadoop checksum sidecar a
        // checksummed FileSystem would have copied alongside — drop them
        // so a relocated sink can never read as a ChecksumException
        if (f.getFileName.toString.matches("^\\..*\\.crc$")) Files.delete(f)
        else {
          val crc = f.resolveSibling("." + f.getFileName.toString + ".crc")
          Files.deleteIfExists(crc)
          val txt = new String(Files.readAllBytes(f),
            java.nio.charset.StandardCharsets.UTF_8)
          Files.write(f, txt.replace(fixOut, out)
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
      }
    finally metaList.close()
    runToCompletion(runIn, out, ck)
    s.read.parquet(out)
      .filter($"event_type" =!= "__sentinel__")
      .orderBy($"w_start", $"event_type")
  }

  val all: Map[String, (Q, Option[String])] = Map(
    "stream_restart_resume" -> (streamRestartResume, Some(streamTumblingSql)),
    "stream_lake_upsert" -> (streamLakeUpsert, Some(streamLakeUpsertSql)),
    // the batch twin's oracle IS the contract: stream result == batch result
    "stream_ingest_dedup" -> (streamIngestDedup, Some(RefQueries.ingestDedupSql)),
    "stream_static_join" -> (streamStaticJoin, Some(streamStaticJoinSql)),
    "stream_tumbling_counts" -> (streamTumblingCounts, Some(streamTumblingSql)),
    "stream_sliding_counts" -> (streamSlidingCounts, Some(streamSlidingSql)),
    "stream_trending_topk" -> (streamTrendingTopk, Some(streamTrendingTopkSql)),
    "stream_sessions_30m" -> (streamSessions, Some(streamSessionsSql)),
    "stream_custom_state_sessions" ->
      (streamCustomStateSessions, Some(streamCustomStateSessionsSql)),
    "stream_interval_join" -> (streamIntervalJoin, Some(streamIntervalJoinSql)),
    "stream_outer_interval_join" ->
      (streamOuterIntervalJoin, Some(streamOuterIntervalJoinSql)),
    "stream_full_outer_interval_join" ->
      (streamFullOuterIntervalJoin, Some(streamFullOuterIntervalJoinSql)),
    "stream_dedup_watermark" -> (streamDedup, Some(streamDedupSql)),
    "stream_dedup_state_evict" -> (streamDedupEvict, Some(streamDedupEvictSql))
  )
}
