package graft.sources

import java.sql.{Connection, DriverManager, SQLException}
import java.util.Properties
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen => SGen, Prop, Test}

import graft.SparkSpec
import graft.operators.Relational
import graft.sinks.JdbcUpsertSink

/** [[JdbcPage]] against Spark's own plan, `orderBy(k).offset(o).limit(n)`,
  * on in-memory Derby databases: row for row, and as `jsonPage` strings.
  */
class JdbcPageSpec extends SparkSpec {

  private val dbN = new AtomicInteger(0)

  /** A fresh in-memory database, dropped after `body`. */
  private def withDb(body: String => Unit): Unit = {
    val name = s"graftpage${dbN.incrementAndGet()}"
    try body(s"jdbc:derby:memory:$name;create=true")
    finally
      // Derby reports a successful drop as SQLException 08006
      try DriverManager.getConnection(s"jdbc:derby:memory:$name;drop=true")
      catch { case e: SQLException if e.getSQLState == "08006" => () }
  }

  private def withConn[A](url: String)(f: Connection => A): A = {
    val c = DriverManager.getConnection(url)
    try f(c) finally c.close()
  }

  private def exec(url: String, sql: String*): Unit = withConn(url) { c =>
    sql.foreach { s => val st = c.createStatement(); try st.execute(s) finally st.close() }
  }

  private def insertLocations(url: String, keys: Seq[String]): Unit = withConn(url) { c =>
    val ps = c.prepareStatement("INSERT INTO locations VALUES (?, ?, ?, ?, ?)")
    try {
      keys.zipWithIndex.foreach { case (k, i) =>
        ps.setString(1, k); ps.setString(2, s"tz${i % 3}"); ps.setString(3, s"c${i % 4}")
        ps.setString(4, s"name$i"); ps.setString(5, if (i % 5 == 0) null else s"biz$i")
        ps.addBatch()
      }
      ps.executeBatch()
    } finally ps.close()
  }

  /** perfbench's table: the sink's Derby DDL, keyed on `locid`. */
  private def locations(url: String, keys: Seq[String]): Unit = {
    JdbcUpsertSink.ensureTable(url, JdbcUpsertSink.DerbyUpsert)
    insertLocations(url, keys)
  }

  private def locIds(n: Int): Seq[String] =
    new scala.util.Random(7).shuffle((1 to n).map(i => s"LOC$i"))

  /** perfbench's `ways`-way predicate split of the JDBC read gate. */
  private def modSplit(url: String, ways: Int): DataFrame =
    spark.read.jdbc(url, "locations",
      (0 until ways).map(k => s"MOD(CAST(SUBSTR(locid, 4) AS BIGINT), $ways) = $k").toArray,
      new Properties())

  /** The page read through [[JdbcPage]] equals Spark's plan's page. */
  private def samePage(df: DataFrame, key: Column, limit: Int, offset: Int): Seq[Row] = {
    val got = Relational.page(df, Seq(key), limit, offset)
    assert(got.queryExecution.analyzed.toString.contains("LogicalRDD"),
      "the JdbcPage read must apply:\n" + got.queryExecution.analyzed)
    val want = df.orderBy(key).offset(offset).limit(limit)
    val rows = got.collect().toSeq
    assert(rows == want.collect().toSeq, s"offset $offset, limit $limit")
    val cols = df.columns.toSeq.map(col)
    assert(Relational.jsonPage(got, cols).collect().head.getString(0) ==
      Relational.jsonPage(want, cols).collect().head.getString(0))
    rows
  }

  // ---- why ORDER BY and OFFSET are not pushed into Derby -------------------

  test("Derby orders and compares strings unlike Spark, so a pushed ORDER BY differs") {
    // Derby pads the shorter string with spaces ("a\t" < "a ") and compares
    // UTF-16 code units (the surrogate of U+1F600 < U+E000); Spark compares
    // UTF-8 bytes, that is code points, with the shorter prefix first. A
    // page whose ORDER BY ran in Derby could therefore hold other rows
    // than Spark's page, which is why JdbcPage sorts the keys in Spark.
    val keys = Seq("a", "a\t", "\uD83D\uDE00", "\uE000", "\uFFFD")
    withDb { url =>
      exec(url, "CREATE TABLE s (k VARCHAR(10) PRIMARY KEY)")
      withConn(url) { c =>
        val ps = c.prepareStatement("INSERT INTO s VALUES (?)")
        try keys.foreach { k => ps.setString(1, k); ps.executeUpdate() } finally ps.close()
        val derby = {
          val st = c.createStatement()
          val rs = st.executeQuery("SELECT k FROM s ORDER BY k")
          try Iterator.continually(rs).takeWhile(_.next()).map(_.getString(1)).toList
          finally st.close()
        }
        assert(derby == Seq("a\t", "a", "\uD83D\uDE00", "\uE000", "\uFFFD"))
        // trailing spaces do not count in Derby's comparison: "a " is "a"
        val dup = intercept[SQLException] {
          val ps2 = c.prepareStatement("INSERT INTO s VALUES ('a ')")
          try ps2.executeUpdate() finally ps2.close()
        }
        assert(dup.getSQLState == "23505", dup.getSQLState)
      }
      val sparkOrder = spark.read.jdbc(url, "s", new Properties())
        .orderBy("k").collect().map(_.getString(0)).toSeq
      assert(sparkOrder == Seq("a", "a\t", "\uE000", "\uFFFD", "\uD83D\uDE00"))
    }
  }

  // ---- equivalence --------------------------------------------------------

  test("perfbench's 2-way MOD split: first, last full, short last, past the end, limit 0") {
    withDb { url =>
      locations(url, locIds(1195))
      val df = modSplit(url, 2)
      assert(samePage(df, col("locid"), 10, 0).size == 10)
      assert(samePage(df, col("locid"), 10, 1180).size == 10)
      assert(samePage(df, col("locid"), 10, 1190).size == 5)
      assert(samePage(df, col("locid"), 10, 1195).isEmpty)
      assert(samePage(df, col("locid"), 10, 5000).isEmpty)
      assert(samePage(df, col("locid"), 0, 10).isEmpty)
      // more keys than one IN (...) statement fetches
      assert(samePage(df, col("locid"), 1100, 50).size == 1100)
      samePage(df.select("locname", "locid"), col("locid"), 7, 33)
    }
  }

  test("overlapping predicates repeat rows; predicates that leave rows out drop them") {
    withDb { url =>
      locations(url, locIds(40))
      val twice = spark.read.jdbc(url, "locations", Array("1=1", "1=1"), new Properties())
      assert(twice.count() == 80)
      // a key's two copies straddle a page boundary at odd offsets
      Seq(0, 9, 35, 79).foreach(o => samePage(twice, col("locid"), 10, o))
      assert(samePage(twice, col("locid"), 80, 0).size == 80)
      val gaps = spark.read.jdbc(url, "locations",
        Array("MOD(CAST(SUBSTR(locid, 4) AS BIGINT), 3) = 0", "locid = 'LOC1'",
          "country IS NULL"), new Properties())
      assert(gaps.count() == 14)
      Seq(0, 5, 13).foreach(o => samePage(gaps, col("locid"), 4, o))
    }
  }

  test("no predicates, and Spark's partitionColumn range partitions on an integral key") {
    withDb { url =>
      locations(url, locIds(30))
      val plain = spark.read.jdbc(url, "locations", new Properties())
      Seq(0, 12, 28).foreach(o => samePage(plain, col("locid"), 5, o))
      exec(url, "CREATE TABLE nums (id BIGINT PRIMARY KEY, grp INT, label VARCHAR(20))")
      withConn(url) { c =>
        val ps = c.prepareStatement("INSERT INTO nums VALUES (?, ?, ?)")
        try {
          new scala.util.Random(3).shuffle((-20 to 60).toList).foreach { i =>
            ps.setLong(1, i * 1000L); ps.setInt(2, i % 7)
            ps.setString(3, if (i % 9 == 0) null else s"n$i"); ps.addBatch()
          }
          ps.executeBatch()
        } finally ps.close()
      }
      val ranged = spark.read.jdbc(url, "nums", "id", 0L, 40000L, 4, new Properties())
      assert(ranged.rdd.getNumPartitions == 4)
      Seq(0, 17, 75, 81).foreach(o => samePage(ranged, col("id"), 6, o))
      samePage(ranged, col("id").desc, 6, 3)
    }
  }

  test("descending order") {
    withDb { url =>
      locations(url, locIds(53))
      val df = modSplit(url, 3)
      Seq(0, 10, 50).foreach(o => samePage(df, col("locid").desc, 10, o))
      samePage(df, desc("locid"), 4, 1)
    }
  }

  test("keys that Derby orders unlike Spark page in Spark's order") {
    // Spark reads the unpaired surrogate "a\uDC00" as "a?", which it sorts
    // before "a\u00E9"; Derby's UTF-16 order puts it after
    val odd = Seq("a", "a\t", "\uD83D\uDE00", "\uE000", "\uFFFD", "a\uDC00", "a\u00E9", "b",
      "A", "", "a\u0000", "\u00E9", "e\u0301")
    withDb { url =>
      locations(url, odd)
      val df = spark.read.jdbc(url, "locations", Array("1=1", "locid < 'b'"), new Properties())
      (0 to df.count().toInt).foreach(o => samePage(df, col("locid"), 3, o))
      (0 to 5).foreach(o => samePage(df, col("locid").desc, 4, o))
    }
  }

  test("pages of any size tile the table exactly once") {
    withDb { url =>
      locations(url, locIds(37))
      val table = modSplit(url, 2)
      val keys = table.orderBy("locid").select("locid").collect().map(_.getString(0)).toSeq
      val tiles = Prop.forAll(SGen.choose(1, 13)) { pageSize =>
        val pages = (0 until (37 + pageSize - 1) / pageSize).map { p =>
          Relational.page(table, Seq(col("locid")), pageSize, p * pageSize)
            .select("locid").collect().map(_.getString(0)).toSeq
        }
        pages.flatten == keys && pages.init.forall(_.size == pageSize)
      }
      val result = Test.check(Test.Parameters.default.withMinSuccessfulTests(8), tiles)
      assert(result.passed, result.status)
    }
  }

  test("the page is read at every action, not when it is planned") {
    withDb { url =>
      locations(url, locIds(12))
      val page = Relational.page(modSplit(url, 2), Seq(col("locid")), 100, 0)
      assert(page.collect().length == 12)
      insertLocations(url, Seq("LOC0"))
      val again = page.collect().map(_.getString(0)).toSeq
      assert(again.size == 13 && again.head == "LOC0", again)
    }
  }

  test("the JSON page plans as one task: JdbcPage, no exchange, no top-k") {
    withDb { url =>
      locations(url, locIds(50))
      val df = modSplit(url, 2)
      val json = Relational.jsonPage(Relational.page(df, Seq(col("locid")), 10, 20),
        df.columns.toSeq.map(col))
      json.collect()
      val p = json.queryExecution.executedPlan.toString
      assert(p.contains("JdbcPage(locations, LOCID, 20, 10)"), p)
      assert(!p.contains("Exchange") && !p.contains("TakeOrderedAndProject"), p)
      assert(json.rdd.getNumPartitions == 1)
    }
  }
}
