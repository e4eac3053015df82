package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec

class StreamsSpec extends SparkSpec {

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 00:$minute%02d:00")

  test("windowedCounts over a memory stream matches the batch result") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[Streams.Event]
    val events = Seq(
      Streams.Event(1, ts(1), 10, "click", 1.0),
      Streams.Event(2, ts(4), 10, "click", 2.0),
      Streams.Event(3, ts(11), 11, "view", 3.0),
      Streams.Event(4, ts(12), 10, "click", 4.0))
    mem.addData(events: _*)

    val q = Streams.windowedCounts(mem.toDF())
      .writeStream.format("memory").queryName("wc")
      .outputMode("complete").start()
    try { q.processAllAvailable() } finally q.stop()

    val streamed = s.table("wc")
      .select($"w_start", $"event_type", $"n", $"total_value")
      .orderBy($"w_start", $"event_type")
      .collect().map(_.toSeq).toSeq
    val batch = Streams.windowedCounts(events.toDF())
      .orderBy($"w_start", $"event_type")
      .collect().map(_.toSeq).toSeq
    assert(streamed == batch)
    // [00:00,00:10): 2 clicks; [00:10,00:20): 1 click + 1 view
    assert(streamed.map(_(2)) == Seq(2L, 1L, 1L))
  }

  test("sessionize groups events by inactivity gap per user") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[Streams.Event]
    // user 10: events at 00:01, 00:05 (same session), 00:59 (new session)
    // user 11: single event
    mem.addData(
      Streams.Event(1, ts(1), 10, "click", 1.0),
      Streams.Event(2, ts(5), 10, "click", 1.0),
      Streams.Event(3, ts(59), 10, "click", 1.0),
      Streams.Event(4, ts(30), 11, "view", 1.0))

    val q = Streams.sessionize(mem.toDS(), gapMs = 30L * 60 * 1000)
      .writeStream.format("memory").queryName("sess")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try { q.awaitTermination(120000) } finally q.stop()

    // only CLOSED sessions are emitted: user 10's first (01..05, 2 events)
    val closed = s.table("sess").as[Streams.Session].collect().toSeq
    assert(closed == Seq(Streams.Session(10, ts(1), ts(5), 2)))
  }

  test("event-time sessionization closes sessions when the watermark passes the gap") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[Streams.Event]
    val q = Streams.sessionizeEventTime(mem.toDS(), gapMs = 30L * 60 * 1000)
      .writeStream.format("memory").queryName("sess_et")
      .outputMode("append").start()
    try {
      // batch 1: one open session for user 10 (events at 00:01, 00:05)
      mem.addData(
        Streams.Event(1, ts(1), 10, "click", 1.0),
        Streams.Event(2, ts(5), 10, "click", 1.0))
      q.processAllAvailable()
      assert(s.table("sess_et").count() == 0) // still open
      // batch 2: an event 2h later advances the watermark (1:50) far past
      // the session's deadline (00:05 + 30min) -> session times out
      mem.addData(Streams.Event(3, Timestamp.valueOf("2024-01-01 02:00:00"), 99, "view", 1.0))
      q.processAllAvailable()
      // timeouts fire as of the NEXT batch's watermark evaluation
      mem.addData(Streams.Event(4, Timestamp.valueOf("2024-01-01 02:01:00"), 99, "view", 1.0))
      q.processAllAvailable()
      val closed = s.table("sess_et").as[Streams.Session].collect().toSeq
      assert(closed.contains(Streams.Session(10, ts(1), ts(5), 2)), closed.toString)
    } finally q.stop()
  }

  test("a late event earlier than the open session's start extends it backward") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[Streams.Event]
    val q = Streams.sessionizeEventTime(mem.toDS(), gapMs = 30L * 60 * 1000)
      .writeStream.format("memory").queryName("sess_late")
      .outputMode("append").start()
    try {
      mem.addData(Streams.Event(1, ts(10), 10, "click", 1.0))
      q.processAllAvailable()
      mem.addData(Streams.Event(2, ts(5), 10, "click", 1.0)) // late, earlier
      q.processAllAvailable()
      // advance the watermark far past the session deadline, then one
      // more batch so the event-time timeout fires
      mem.addData(Streams.Event(3, Timestamp.valueOf("2024-01-01 02:00:00"), 99, "view", 1.0))
      q.processAllAvailable()
      mem.addData(Streams.Event(4, Timestamp.valueOf("2024-01-01 02:01:00"), 99, "view", 1.0))
      q.processAllAvailable()
      val closed = s.table("sess_late").as[Streams.Session].collect().toSeq
      assert(closed.contains(Streams.Session(10, ts(5), ts(10), 2)), closed.toString)
    } finally q.stop()
  }

  test("dedupStream drops repeated event ids within the watermark") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[Streams.Event]
    mem.addData(
      Streams.Event(1, ts(1), 10, "click", 1.0),
      Streams.Event(1, ts(1), 10, "click", 1.0), // dup id
      Streams.Event(2, ts(2), 10, "click", 2.0))
    val q = Streams.dedupStream(mem.toDF())
      .writeStream.format("memory").queryName("dd")
      .outputMode("append").start()
    try { q.processAllAvailable() } finally q.stop()
    val ids = s.table("dd").select("event_id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L))
  }

  test("stream-stream interval join pairs purchases with preceding clicks only") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[Streams.Event]
    mem.addData(
      Streams.Event(1, ts(1), 10, "click", 1.5),   // within window of purchase@05
      Streams.Event(2, ts(5), 10, "purchase", 9.0),
      Streams.Event(3, ts(20), 10, "click", 2.5),  // AFTER the purchase: no match
      Streams.Event(4, ts(3), 11, "click", 3.5))   // other user
    val q = Streams.purchaseClickJoin(mem.toDF())
      .writeStream.format("memory").queryName("pcj")
      .outputMode("append").start()
    try { q.processAllAvailable() } finally q.stop()
    val got = s.table("pcj")
      .select($"user_id", $"purchase_id", $"click_value")
      .as[(Long, Long, Double)].collect().toSeq
    assert(got == Seq((10L, 2L, 1.5)))
  }

  test("left-outer interval join emits unmatched clicks null-padded at state expiry") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val clickMem = MemoryStream[(Long, Long, Timestamp)]
    val purchMem = MemoryStream[(Long, Long, Timestamp)]
    def side(mem: MemoryStream[(Long, Long, Timestamp)], p: String) =
      mem.toDF().toDF(s"${p}_id", s"${p}_user", s"${p}_ts")
        .withWatermark(s"${p}_ts", "10 minutes")
    val joined = side(clickMem, "click").join(side(purchMem, "purchase"),
      expr("""click_user = purchase_user AND
             |purchase_ts >= click_ts AND
             |purchase_ts <= click_ts + INTERVAL 30 MINUTES""".stripMargin),
      "leftOuter")
    val q = joined.select($"click_id", $"purchase_id")
      .writeStream.format("memory").queryName("oij")
      .outputMode("append").start()
    try {
      // click 1 matches purchase 101; click 2 (other user) never matches
      clickMem.addData((1L, 10L, ts(1)), (2L, 20L, ts(5)))
      purchMem.addData((101L, 10L, ts(10)))
      q.processAllAvailable()
      // two sentinel rounds per side: the first advances BOTH watermarks
      // past every real click's expiry point, the second drives the
      // batch in which the state actually evicts (watermarks computed at
      // batch end apply to the NEXT batch)
      for (h <- Seq(2, 3)) {
        clickMem.addData((-h.toLong, -1L, Timestamp.valueOf(f"2024-01-01 0$h%d:00:00")))
        purchMem.addData((-10L * h, -1L, Timestamp.valueOf(f"2024-01-01 0$h%d:00:00")))
        q.processAllAvailable()
      }
    } finally q.stop()
    val streamed = s.table("oij")
      .filter($"click_id" > 0)
      .as[(Long, Option[Long])].collect().toSet
    // the unmatched click surfaced exactly once, null-padded, and the
    // result equals the batch left join over the same (real) rows
    val batchClicks = Seq((1L, 10L, ts(1)), (2L, 20L, ts(5)))
      .toDF("click_id", "click_user", "click_ts")
    val batchPurchases = Seq((101L, 10L, ts(10)))
      .toDF("purchase_id", "purchase_user", "purchase_ts")
    val batch = batchClicks.join(batchPurchases,
        expr("""click_user = purchase_user AND
               |purchase_ts >= click_ts AND
               |purchase_ts <= click_ts + INTERVAL 30 MINUTES""".stripMargin),
        "leftOuter")
      .select($"click_id", $"purchase_id")
      .as[(Long, Option[Long])].collect().toSet
    assert(streamed == batch)
    assert(streamed == Set((1L, Some(101L)), (2L, None)))
  }

  test("skewed state: a hot user with ~50% of events keeps session state key-bounded") {
    // The driver gates run a near-uniform corpus; this is the 100x-scale
    // risk they never exercise: one user carrying half of all events.
    // AQE cannot rebalance streaming state, so the bound must come from
    // the OPERATOR shape — sessionization state is one aggregate per
    // USER (start, end, n), never per event, so 12 000 events across
    // 501 users must hold ~501 state rows, and the hot user's 6 000
    // events collapse into ONE session row.
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val mem = MemoryStream[Streams.Event]
    val q = Streams.sessionizeEventTime(mem.toDS(), gapMs = 30L * 60 * 1000)
      .writeStream.format("memory").queryName("skew_sess")
      .outputMode("append").start()
    try {
      var id = 0L
      for (b <- 0 until 3) {
        val t0 = base + b * 120000L // 2 min apart: one hot session
        val evs = (0 until 2000).map { i =>
          id += 1
          Streams.Event(id, new Timestamp(t0 + (i % 110) * 1000L), 0L, "click", 1.0)
        } ++ (0 until 2000).map { i =>
          id += 1
          Streams.Event(id, new Timestamp(t0 + (i % 110) * 1000L),
            1L + i % 500, "click", 1.0)
        }
        mem.addData(evs: _*)
        q.processAllAvailable()
      }
      val peakState = q.recentProgress
        .flatMap(p => Option(p.stateOperators).toSeq.flatten)
        .map(_.numRowsTotal).foldLeft(0L)(math.max)
      assert(peakState >= 501,
        s"expected one state row per user, saw only $peakState")
      assert(peakState <= 1100,
        s"state rows $peakState track EVENTS, not users — skew unbounded")
      // close everything: sentinel advances the watermark 3h, next batch
      // fires the event-time timeouts
      for (h <- Seq(3, 4)) {
        mem.addData(Streams.Event(-h.toLong,
          Timestamp.valueOf(f"2024-01-01 0$h%d:00:00"), 999L, "view", 1.0))
        q.processAllAvailable()
      }
      val hot = s.table("skew_sess").as[Streams.Session].collect()
        .filter(_.user_id == 0L)
      assert(hot.map(_.n_events).sum == 6000,
        s"hot user's 6000 events must land in closed sessions, got $hot")
      assert(hot.length == 1, s"one contiguous hot session, got ${hot.length}")
    } finally q.stop()
  }

  test("skewed state: interval-join state on a hot key drains at watermark passage") {
    // One user on BOTH join sides with ~75% of clicks: the output is
    // legitimately large (every purchase matches every hot click in its
    // interval — that is the join's semantics), but the STATE must not
    // outlive the watermark: after two sentinel rounds the stores hold
    // only the sentinels, hot key or not.
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val clickMem = MemoryStream[(Long, Long, Timestamp)]
    val purchMem = MemoryStream[(Long, Long, Timestamp)]
    def side(mem: MemoryStream[(Long, Long, Timestamp)], p: String) =
      mem.toDF().toDF(s"${p}_id", s"${p}_user", s"${p}_ts")
        .withWatermark(s"${p}_ts", "10 minutes")
    val cond = expr("""click_user = purchase_user AND
                      |purchase_ts >= click_ts AND
                      |purchase_ts <= click_ts + INTERVAL 30 MINUTES""".stripMargin)
    val q = side(clickMem, "click").join(side(purchMem, "purchase"), cond)
      .select($"click_id", $"purchase_id")
      .writeStream.format("memory").queryName("skew_oij")
      .outputMode("append").start()
    val clicks = (0 until 3000).map(i =>
      (i.toLong, 0L, new Timestamp(base + (i % 300) * 1000L))) ++
      (0 until 1000).map(i =>
        (3000L + i, 1L + i % 500, new Timestamp(base + (i % 300) * 1000L)))
    val purchases = (0 until 10).map(i =>
      (100000L + i, 0L, new Timestamp(base + 300000L + i * 1000L)))
    try {
      clickMem.addData(clicks: _*)
      purchMem.addData(purchases: _*)
      q.processAllAvailable()
      val peak = q.recentProgress
        .flatMap(p => Option(p.stateOperators).toSeq.flatten)
        .map(_.numRowsTotal).foldLeft(0L)(math.max)
      assert(peak >= 4000, s"join state must hold the batch's rows, saw $peak")
      for (h <- Seq(2, 3)) {
        clickMem.addData((-h.toLong, -1L, Timestamp.valueOf(f"2024-01-01 0$h%d:00:00")))
        purchMem.addData((-10L * h, -1L, Timestamp.valueOf(f"2024-01-01 0$h%d:00:00")))
        q.processAllAvailable()
      }
      val finalState = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(finalState <= 16,
        s"hot-key state must drain after the watermark passes, $finalState rows left")
      // correctness under skew: streamed matches the batch inner join
      val streamed = s.table("skew_oij").filter($"click_id" >= 0).count()
      val batchCount = clicks.toDF("click_id", "click_user", "click_ts")
        .join(purchases.toDF("purchase_id", "purchase_user", "purchase_ts"), cond)
        .count()
      assert(streamed == batchCount && streamed > 25000,
        s"streamed $streamed vs batch $batchCount")
    } finally q.stop()
  }

  test("csvIngestStream dedups per key within each micro-batch") {
    val s = spark
    import s.implicits._
    withTempDir("graft_stream") { tmp =>
      val inDir = s"$tmp/in"; val outDir = s"$tmp/out"; val cp = s"$tmp/cp"
      new java.io.File(inDir).mkdirs()
      val csv = "locid,loctimezone,country,locname,business\n" +
        "L1,tz1,US,a,b1\nL2,tz2,UK,c,d\nL1,tz9,DE,e,b2\n"
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$inDir/f1.csv"), csv)

      val q = Streams.csvIngestStream(s, inDir, outDir, cp)
      try { q.processAllAvailable() } finally q.stop()

      val out = s.read.parquet(outDir)
      assert(out.count() == 2) // L1 deduped
      assert(out.filter($"locid" === "L1").count() == 1)
    }
  }

  test("stageCsv caps the driver collect and routes over-cap frames to the writer") {
    val s = spark
    import s.implicits._
    withTempDir("graft_stage_guard") { dir =>
      val df = (1 to 8).map(i => (i.toLong, s"name$i")).toDF("id", "name")
      // within cap → driver fast path (returns true)
      assert(StreamQueries.stageCsv(df, dir, "small", cap = 100))
      // over cap → distributed Spark writer fallback (returns false), with
      // the identical single-file contract and identical parsed contents
      assert(!StreamQueries.stageCsv(df, dir, "big", cap = 5))
      def rd(n: String) =
        s.read.option("header", "true").csv(s"$dir/$n.csv")
          .orderBy($"ID".cast("long"))
          .collect().map(_.toSeq).toSeq
      assert(rd("small") == rd("big"))
      assert(rd("small").length == 8)
    }
  }

  test("stageWithSentinels stages b1's columns as two sentinel rows a day apart") {
    val s = spark
    import s.implicits._
    val t0 = 1704067200000000L // 2024-01-01 00:00 UTC in micros: b1's max us
    val (d1, d2) = (t0 + 86400000000L, t0 + 2 * 86400000000L)
    // the four column shapes the sentinel gates stage: (b1 schema, b1,
    // b2.csv, b3.csv); the sentinel user -1 sessionizes apart from real users
    val shapes = Seq(
      ("event_id BIGINT, us BIGINT, event_type STRING, value DOUBLE",
        Seq((1L, t0 - 5, "click", 1.5), (2L, t0, "view", 2.5))
          .toDF("event_id", "us", "event_type", "value"),
        s"EVENT_ID,US,EVENT_TYPE,VALUE\n-1,$d1,__sentinel__,0.0\n",
        s"EVENT_ID,US,EVENT_TYPE,VALUE\n-2,$d2,__sentinel__,0.0\n"),
      ("event_id BIGINT, us BIGINT, value DOUBLE",
        Seq((1L, t0, 1.5), (2L, t0 - 5, 2.5)).toDF("event_id", "us", "value"),
        s"EVENT_ID,US,VALUE\n-1,$d1,0.0\n",
        s"EVENT_ID,US,VALUE\n-2,$d2,0.0\n"),
      ("event_id BIGINT, us BIGINT, event_type STRING",
        Seq((1L, t0, "click"), (2L, t0 - 5, "view"))
          .toDF("event_id", "us", "event_type"),
        s"EVENT_ID,US,EVENT_TYPE\n-1,$d1,__sentinel__\n",
        s"EVENT_ID,US,EVENT_TYPE\n-2,$d2,__sentinel__\n"),
      ("event_id BIGINT, user_id BIGINT, us BIGINT, value DOUBLE",
        Seq((1L, 7L, t0, 1.5), (2L, 8L, t0 - 5, 2.5))
          .toDF("event_id", "user_id", "us", "value"),
        s"EVENT_ID,USER_ID,US,VALUE\n-1,-1,$d1,0.0\n",
        s"EVENT_ID,USER_ID,US,VALUE\n-2,-1,$d2,0.0\n"))
    withTempDir("graft_sentinels") { root =>
      def text(f: String) = java.nio.file.Files.readString(java.nio.file.Paths.get(f))
      def mtime(f: String) = new java.io.File(f).lastModified()
      for (((ddl, b1, b2, b3), i) <- shapes.zipWithIndex) {
        val in = s"$root/shape$i"
        new java.io.File(in).mkdirs()
        assert(StreamQueries.stageWithSentinels(s, in, b1, ddl) == t0)
        assert(text(s"$in/b2.csv") == b2)
        assert(text(s"$in/b3.csv") == b3)
        assert(mtime(s"$in/b2.csv") == mtime(s"$in/b1.csv") + 10000)
        assert(mtime(s"$in/b3.csv") == mtime(s"$in/b1.csv") + 20000)
      }
      // a column with no sentinel value is rejected before anything is staged
      val e = intercept[IllegalArgumentException](StreamQueries.stageWithSentinels(
        s, root, Seq((1L, t0, "b1")).toDF("event_id", "us", "src"),
        "event_id BIGINT, us BIGINT, src STRING"))
      assert(e.getMessage.contains("src"), e.getMessage)
      assert(!new java.io.File(s"$root/b1.csv").exists())
    }
  }

  /** Runs `body` on a fresh temp dir and deletes the dir afterwards. */
  private def withTempDir(prefix: String)(body: String => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    try body(dir.toString) finally graft.Scratch.deleteRecursively(dir)
  }
}
