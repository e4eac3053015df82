package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.sql.{Connection, DriverManager}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Relational, Upsert}
import graft.sinks.JdbcUpsertSink
import graft.sinks.JdbcUpsertSink.DerbyUpsert
import graft.sources.{CsvIngest, Gen}

/** One benchmark run in one JVM: set up the workload's inputs, warm up,
  * repeat whole rounds of the workload's operation for the given seconds,
  * and write what it observed to `<work>/observed.json`. Outputs are
  * dumped for run.py, which checks them against results it derives
  * without the program.
  */
object Main {
  /** Untimed operations before the timed ones; see README.md. */
  val WarmImports = 10
  val WarmPages = 40
  /** The fewest timed operations a run makes; see README.md. */
  val MinImports = 12
  val MinPages = 100

  /** `freshRows` and `pageRows` are the input sizes, passed in by run.py
    * from expected.py, which derives the expected results from them.
    */
  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: Path, cpus: Int, freshRows: Long, pageRows: Long)

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", Paths.get(kv("work")).toAbsolutePath, kv("cpus").toInt,
      kv("fresh_rows").toLong, kv("page_rows").toLong)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .config("spark.cleaner.periodicGC.interval", "90s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect()
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val run = new Run(spark, a)
    val obs = try run.go() finally spark.stop()
    Files.write(a.work.resolve("observed.json"),
      Json(obs + ("session_s" -> sessionS)).getBytes(UTF_8))
  }
}

final class Run(spark: SparkSession, a: Main.Args) {
  import Main.{MinImports, MinPages, WarmImports, WarmPages}

  private val tracer = new Tracer(a.trace)
  private val counters = new Counters
  if (a.trace) spark.sparkContext.addSparkListener(counters)

  private val dbPath = a.work.resolve("db")
  private val url = s"jdbc:derby:$dbPath;create=true"
  private val locCols = Seq("locid", "loctimezone", "country", "locname", "business")

  private def now(): Long = System.nanoTime()
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  private def timed[A](body: => A): (A, Double) = { val t = now(); val r = body; (r, secs(t)) }

  private def gcMs(): Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  private def snapshot(): Map[String, Double] = {
    org.apache.spark.ListenerDrain(spark.sparkContext)
    counters.snapshot + ("jvm.gc_ms" -> gcMs().toDouble)
  }

  /** Rounds of `op` until `a.seconds` have passed and at least `minRounds`
    * ran. The minimums are set so that they, not the clock, end a run
    * (see README.md): every run then attempts the same operations, and the
    * JIT's warm-up trend weighs the same in each. Returns the per-round
    * results and the engine counters per round.
    */
  private def rounds[A](minRounds: Int)(op: Int => A): (Seq[A], Map[String, Double]) = {
    val before = if (a.trace) snapshot() else Map.empty[String, Double]
    val out = mutable.ArrayBuffer[A]()
    val t0 = now()
    while (out.size < minRounds || secs(t0) < a.seconds) out += op(out.size)
    val perRound =
      if (!a.trace) Map.empty[String, Double]
      else snapshot().map { case (k, v) => k -> (v - before(k)) / out.size }
    (out.toSeq, perRound)
  }

  def go(): Map[String, Any] = {
    Files.createDirectories(a.work)
    val body = a.workload match {
      case "import_fresh" => importFresh()
      case "browse_pages" => browsePages()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    body ++ Map("workload" -> a.workload, "seed" -> a.seed, "cpus" -> a.cpus,
      "spans" -> tracer.json)
  }

  // ---- inputs -------------------------------------------------------------

  /** Gen's rows in an order fixed by the seed, written as the reference's
    * CSV (one file per core).
    */
  private def writeSeededCsv(df: DataFrame, path: Path): Unit =
    Gen.writeCsv(df.orderBy(xxhash64(col("locid"), lit(a.seed))), path.toString)

  // ---- database -------------------------------------------------------------

  private def withConn[A](f: Connection => A): A = {
    val c = DriverManager.getConnection(url)
    try f(c) finally c.close()
  }

  private def exec(sql: String*): Unit = withConn { c =>
    sql.foreach { s => val st = c.createStatement(); try st.execute(s) finally st.close() }
  }

  private def longQuery(sql: String): Long = withConn { c =>
    val st = c.createStatement()
    try { val rs = st.executeQuery(sql); rs.next(); rs.getLong(1) } finally st.close()
  }

  private def tableExists(name: String): Boolean =
    longQuery(s"SELECT COUNT(*) FROM SYS.SYSTABLES WHERE TABLENAME = '${name.toUpperCase}'") > 0

  private def freshTable(): Unit = {
    if (tableExists("locations")) exec("DROP TABLE locations")
    JdbcUpsertSink.ensureTable(url, DerbyUpsert)
  }

  private def rowCount(): Long = longQuery("SELECT COUNT(*) FROM locations")

  /** Allocated bytes of the table's and its index's data files; the log is
    * not counted.
    */
  private def storedBytes(): Long = {
    exec("CALL SYSCS_UTIL.SYSCS_CHECKPOINT_DATABASE()")
    longQuery("SELECT SUM((NUMALLOCATEDPAGES + NUMFREEPAGES) * PAGESIZE) FROM " +
      "TABLE (SYSCS_DIAG.SPACE_TABLE('APP', 'LOCATIONS')) T")
  }

  /** The table read over plain JDBC, one tab-separated row per line. */
  private def dumpTable(path: Path): Long = withConn { c =>
    val st = c.createStatement()
    val w = Files.newBufferedWriter(path, UTF_8)
    var n = 0L
    try {
      val rs = st.executeQuery(s"SELECT ${locCols.mkString(", ")} FROM locations")
      while (rs.next()) {
        w.write((1 to 5).map(rs.getString).mkString("\t")); w.write('\n'); n += 1
      }
      n
    } finally { w.close(); st.close() }
  }

  private def shutdownDb(): Unit =
    try DriverManager.getConnection(s"jdbc:derby:$dbPath;shutdown=true")
    catch { case e: java.sql.SQLException if e.getSQLState == "08006" => () }

  // ---- the import path ------------------------------------------------------

  /** The timed operation: from the `readLocations` call to the return of
    * `write`. `sinkUrl` is `url`, or in a traced run the probe's URL for it.
    */
  private def importFile(csv: Path, sinkUrl: String = url): Double = tracer.span("import") {
    val t = now()
    val ds = tracer.span("sources.readLocations") {
      CsvIngest.readLocations(spark, csv.toString)
    }
    tracer.span("sinks.write") {
      JdbcUpsertSink.write(ds, sinkUrl, parallelism = a.cpus, dialect = DerbyUpsert)
    }
    secs(t)
  }

  private def importRounds(csv: Path, sinkUrl: String): (Seq[Map[String, Any]], Map[String, Double]) =
    rounds(MinImports) { i =>
      freshTable()
      val s = importFile(csv, sinkUrl)
      val dump = a.work.resolve(s"table-$i.tsv")
      Map("s" -> s, "stored_bytes" -> storedBytes(),
        "table_rows" -> dumpTable(dump), "dump" -> dump.getFileName.toString)
    }

  /** Set-up steps, each timed; the repeated ones report every repetition. */
  private val setupSteps = mutable.LinkedHashMap[String, Any]()
  private def setupStep[A](name: String)(body: => A): A = tracer.span(s"setup.$name") {
    val (r, s) = timed(body); setupSteps(name) = s; r
  }
  /** Input generation runs three times; set-up reports its median. */
  private def repeatedSetup(name: String)(body: => Unit): Unit = {
    val ts = (1 to 3).map { _ => tracer.span(s"setup.$name")(timed(body)._2) }
    setupSteps(name) = ts
  }

  private def importFresh(): Map[String, Any] = {
    val csv = a.work.resolve("in/fresh")
    repeatedSetup("inputs") { writeSeededCsv(Gen.locations(spark, a.freshRows), csv) }
    setupStep("warmup") { (1 to WarmImports).foreach { _ => freshTable(); importFile(csv) } }
    // a traced run's imports write through the probe, which records what
    // the sink sends to the database
    val sinkUrl = if (a.trace) SinkProbe.url(url) else url
    val (rs, perRound) = importRounds(csv, sinkUrl)
    val sink = if (a.trace) (SinkProbe.figures _).tupled(SinkProbe.drain()) else Map.empty
    val layers = if (a.trace) importLayers(csv) else Map.empty
    shutdownDb()
    Map("setup" -> setupSteps, "rounds" -> rs, "per_round" -> perRound,
      "layers" -> layers, "sink" -> sink)
  }

  /** Traced run only: parse, and parse with dedup, each measured alone on
    * the same file, materialized with Spark's no-op sink.
    */
  private def importLayers(csv: Path): Map[String, Any] = {
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def median(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
    val parse = median((1 to 3).map { _ =>
      tracer.span("sources.parse")(timed(noop(CsvIngest.readLocations(spark, csv.toString).toDF()))._2)
    })
    val parseDedup = median((1 to 3).map { _ =>
      tracer.span("operators.lastWins")(timed(noop(Upsert.lastWins(
        CsvIngest.readLocations(spark, csv.toString).toDF(), Seq("locid"), lit(0L))))._2)
    })
    val rowsIn = CsvIngest.readLocations(spark, csv.toString).count()
    val rowsOut = Upsert.lastWins(CsvIngest.readLocations(spark, csv.toString).toDF(),
      Seq("locid"), lit(0L)).count()
    Map("parse_s" -> parse, "parse_dedup_s" -> parseDedup, "rows_in" -> rowsIn,
      "rows_out" -> rowsOut)
  }

  // ---- the read path --------------------------------------------------------

  private def browsePages(): Map[String, Any] = {
    val csv = a.work.resolve("in/table")
    repeatedSetup("inputs") { writeSeededCsv(Gen.locations(spark, a.pageRows), csv) }
    setupStep("populate") { freshTable(); importFile(csv) }
    // read back with the cpus-way predicate split of the JDBC read gate
    val predicates = (0 until a.cpus)
      .map(k => s"MOD(CAST(SUBSTR(locid, 4) AS BIGINT), ${a.cpus}) = $k").toArray
    val table = spark.read.jdbc(url, "locations", predicates, new java.util.Properties())
    val cols = locCols.map(col)
    val pages = (a.pageRows / 10).toInt
    def page(offset: Int): String = tracer.span("page", "offset" -> offset) {
      val p = tracer.span("operators.page")(Relational.page(table, Seq(col("locid")), 10, offset))
      tracer.span("operators.jsonPage") {
        Relational.jsonPage(p, cols).collect().head.getString(0)
      }
    }
    val warmRnd = new java.util.Random(a.seed + 1)
    setupStep("warmup") { (1 to WarmPages).foreach(_ => page(10 * warmRnd.nextInt(pages))) }
    // the first page, the last page, then one page drawn by the seed from
    // each of MinPages - 2 equal strata of the table, in a seeded order: a
    // page's cost grows with its offset, so every run covers the offsets
    // alike
    val rnd = new java.util.Random(a.seed)
    val strata = MinPages - 2
    val order = new java.util.ArrayList[Integer]((0 until strata).map(Int.box).asJava)
    java.util.Collections.shuffle(order, rnd)
    def pageAt(i: Int): Int = i match {
      case 0 => 0
      case 1 => pages - 1
      case _ if i - 2 < strata =>
        val lo = order.get(i - 2) * pages / strata
        val hi = (order.get(i - 2) + 1) * pages / strata
        lo + rnd.nextInt(hi - lo)
      case _ => rnd.nextInt(pages)
    }
    val out = Files.newBufferedWriter(a.work.resolve("pages.jsonl"), UTF_8)
    val (ms, perRound) =
      try rounds(MinPages) { i =>
        val offset = 10 * pageAt(i)
        val (json, s) = timed(page(offset))
        out.write(Json(Map("offset" -> offset, "json" -> json))); out.write('\n')
        s * 1e3
      } finally out.close()
    val layers =
      if (!a.trace) Map.empty
      else {
        val scans = (1 to 5).map { _ =>
          tracer.span("sources.jdbc_scan")(timed(table.write.format("noop").mode("overwrite").save())._2)
        }
        Map("jdbc_scan_s" -> scans.sorted.apply(2))
      }
    val storedPerRow = storedBytes().toDouble / rowCount()
    shutdownDb()
    Map("setup" -> setupSteps, "page_ms" -> ms, "per_round" -> perRound,
      "table_rows" -> a.pageRows, "stored_bytes_per_row" -> storedPerRow,
      "layers" -> layers)
  }
}

/** A minimal JSON writer for the observation file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case x => quote(x.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case '\r' => b ++= "\\r"
      case c if c < ' ' => b ++= "\\u%04x".format(c.toInt)
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
