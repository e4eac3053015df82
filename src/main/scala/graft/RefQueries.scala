package graft

import org.apache.spark.sql.functions._

import graft.operators.{Relational, Upsert}
import graft.sources.{CsvIngest, Gen}

/** Queries covering the reference's own operator surface (SURVEY.md §2
  * O1-O17): generator, CSV ingest, keyed upsert/dedup, pagination, JSON
  * page, counters.
  */
object RefQueries {
  import Queries.Q

  /** O14 — deterministic synthetic locations (reference: parallel CSV
    * generator, `cmd/gen_file/main.go`).
    */
  val genLocations: Q = (s, _) => Gen.locations(s, 1000).orderBy("locid")

  /** O1-O3 — CSV write + by-name header-bound read roundtrip
    * (`internal/writer/writer.go:74-99`). The oracle checks the roundtrip
    * preserves the generated values exactly.
    */
  val csvRoundtrip: Q = (s, _) => {
    val tmp = s"${graft.Scratch.dir}/graft_csv_roundtrip_" +
      Scratch.runToken
    Gen.writeCsv(Gen.locations(s, 500), tmp)
    CsvIngest.readLocations(s, tmp).toDF().orderBy("locid")
  }

  /** O13 complement — error-TOLERANT ingest: the reference (and
    * [[csvRoundtrip]]) abort on the first ragged row (FAILFAST); a
    * 100 TB backfill usually wants the other contract — parse what
    * parses, quarantine what doesn't. PERMISSIVE mode with a
    * corrupt-record column captures each bad line verbatim; the gate
    * checks the good/quarantined split and that good-row values
    * survive. The file plants a corrupt line at every id ≡ 3 (mod 7),
    * so the oracle is closed-form arithmetic over `range`.
    */
  val csvPermissive: Q = (s, _) => {
    import s.implicits._
    val tmp = s"${graft.Scratch.dir}/graft_csv_permissive_" + Scratch.runToken
    val lines = (0 until 140).map { id =>
      if (id % 7 == 3) s"oops_truncated_line_$id"
      else s"$id,${id * 3L},name$id"
    }
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(tmp))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$tmp/data.csv"),
      ("a,b,name" +: lines).mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    s.read
      .schema("a BIGINT, b BIGINT, name STRING, _bad STRING")
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_bad")
      .csv(tmp)
      // the aggregate must reference EVERY data column: the CSV parser
      // prunes unread columns, and a line whose only token feeds a
      // pruned column parses "clean" — _bad never gets set (measured:
      // 140/0 instead of 120/20 when `a` was unread)
      .agg(
        sum($"_bad".isNull.cast("long")).as("n_good"),
        sum($"_bad".isNotNull.cast("long")).as("n_quarantined"),
        sum($"a").as("sum_a"),
        sum($"b").as("sum_b"),
        countDistinct($"name").as("n_names"))
  }

  val csvPermissiveSql: String =
    """SELECT CAST(SUM(CASE WHEN range % 7 <> 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_good,
      |  CAST(SUM(CASE WHEN range % 7 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_quarantined,
      |  CAST(SUM(CASE WHEN range % 7 <> 3 THEN range END) AS BIGINT) AS sum_a,
      |  CAST(SUM(CASE WHEN range % 7 <> 3 THEN range * 3 END) AS BIGINT) AS sum_b,
      |  COUNT(DISTINCT CASE WHEN range % 7 <> 3 THEN 'name' || range END) AS n_names
      |FROM range(140)""".stripMargin

  /** §1.4 — intra-batch duplicate keys resolved deterministically
    * last-write-wins (the reference would fail the chunk; SURVEY.md §1.4).
    */
  val ingestDedup: Q = (s, _) => {
    val base = Gen.locations(s, 1000).withColumn("seq", lit(1L))
    val dups = Gen.locations(s, 200)
      .withColumn("business", concat(lit("DUP_"), col("business")))
      .withColumn("seq", lit(2L))
    Upsert.lastWins(base.unionByName(dups), Seq("locid"), col("seq"))
      .orderBy("locid")
  }

  val ingestDedupSql: String =
    s"""WITH base AS (SELECT *, 1 AS seq FROM (${Gen.locationsSql(1000)})),
       |dups AS (SELECT locid, loctimezone, country, locname,
       |                'DUP_' || business AS business, 2 AS seq
       |         FROM (${Gen.locationsSql(200)})),
       |u AS (SELECT *, row_number() OVER (PARTITION BY locid ORDER BY seq DESC) AS rn
       |      FROM (SELECT * FROM base UNION ALL SELECT * FROM dups))
       |SELECT locid, loctimezone, country, locname, business,
       |  CAST(seq AS BIGINT) AS seq
       |FROM u WHERE rn = 1 ORDER BY locid""".stripMargin

  /** O6 — the upsert sink's merge semantics as a relational op
    * (`internal/db/db.go:63-72`): existing rows survive unless an incoming
    * row shares the key, in which case incoming values win.
    */
  val upsertMerge: Q = (s, dir) => {
    import s.implicits._
    val orders = Tables(s, dir, "orders")
    val existing = orders.filter($"o_orderkey" % 2 === 0)
      .select($"o_orderkey", $"o_orderstatus", $"o_totalprice", lit("base").as("src"))
    val incoming = orders.filter($"o_orderkey" % 3 === 0)
      .select($"o_orderkey", $"o_orderstatus",
        ($"o_totalprice" * 2).as("o_totalprice"), lit("update").as("src"))
    Upsert.upsert(existing, incoming, Seq("o_orderkey"), lit(0L))
      .orderBy("o_orderkey")
  }

  val upsertMergeSql: String =
    """WITH existing AS (
      |  SELECT o_orderkey, o_orderstatus, o_totalprice, 'base' AS src, 0 AS seq
      |  FROM orders WHERE o_orderkey % 2 = 0),
      |incoming AS (
      |  SELECT o_orderkey, o_orderstatus, o_totalprice * 2 AS o_totalprice,
      |         'update' AS src, 1 AS seq
      |  FROM orders WHERE o_orderkey % 3 = 0),
      |u AS (SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) AS rn
      |      FROM (SELECT * FROM existing UNION ALL SELECT * FROM incoming))
      |SELECT o_orderkey, o_orderstatus, o_totalprice, src
      |FROM u WHERE rn = 1 ORDER BY o_orderkey""".stripMargin

  /** O9 — deterministic LIMIT/OFFSET page (`internal/db/db.go:111-137`). */
  val pagination: Q = (s, dir) => {
    import s.implicits._
    Relational.page(Tables(s, dir, "orders"), Seq($"o_orderkey"), 20, 100)
  }

  val paginationSql: String =
    "SELECT * FROM orders ORDER BY o_orderkey LIMIT 20 OFFSET 100"

  /** O10 — server-side JSON array page (`internal/db/db.go:113-118`). */
  val jsonPage: Q = (s, dir) => {
    import s.implicits._
    Relational.jsonPage(
      Tables(s, dir, "orders").filter($"o_orderkey" < 10),
      Seq($"o_orderkey", $"o_orderstatus", $"o_orderpriority"))
  }

  val jsonPageSql: String =
    """SELECT CAST(coalesce(to_json(list_sort(list(struct_pack(
      |  o_orderkey := o_orderkey, o_orderstatus := o_orderstatus,
      |  o_orderpriority := o_orderpriority)))), '[]') AS VARCHAR) AS page_json
      |FROM orders WHERE o_orderkey < 10""".stripMargin

  /** The reference's headline workload at its actual scale: generate
    * 1 000 000 locations (`cmd/gen_file/main.go:14`), write CSV, read it
    * back through the header-bound ingest, and report structural
    * invariants. The oracle recomputes them from the generator formula.
    */
  val gen1mRoundtrip: Q = (s, dir) => {
    import s.implicits._
    // path suffixed per sf dir AND per JVM: concurrent runs — different
    // SFs, or two harness invocations on the SAME sf dir — must not
    // overwrite each other's CSV mid-read
    val tmp = s"${graft.Scratch.dir}/graft_gen_1m_" +
      dir.replaceAll("[^A-Za-z0-9]", "_") + "_" + Scratch.runToken
    Gen.writeCsv(Gen.locations(s, 1000000L), tmp)
    CsvIngest.readLocations(s, tmp).toDF().agg(
      count(lit(1)).as("n_rows"),
      countDistinct($"locid").as("n_keys"),
      min($"locid").as("first_key"),
      max($"locid").as("last_key"),
      countDistinct($"country").as("n_countries"))
  }

  val gen1mRoundtripSql: String =
    s"""SELECT COUNT(*) AS n_rows, COUNT(DISTINCT locid) AS n_keys,
       |  MIN(locid) AS first_key, MAX(locid) AS last_key,
       |  COUNT(DISTINCT country) AS n_countries
       |FROM (${Gen.locationsSql(1000000L)})""".stripMargin

  /** JSON-lines source roundtrip: the documents table written as JSON
    * and read back through an explicit schema, then aggregated to
    * structural invariants the oracle recomputes from the parquet
    * original — proves the JSON source preserves every row and byte
    * (octet_length, not character length: byte counts are
    * engine-identical on any input; codepoint-vs-UTF-16 counting is
    * not). Same pattern as the CSV roundtrip, one format over.
    */
  val jsonRoundtrip: Q = (s, dir) => {
    import s.implicits._
    val tmp = s"${graft.Scratch.dir}/graft_json_docs_" +
      dir.replaceAll("[^A-Za-z0-9]", "_") + "_" + Scratch.runToken
    Tables(s, dir, "documents").select($"doc_id", $"lang", $"text")
      .write.mode("overwrite").json(tmp)
    s.read.schema("doc_id BIGINT, lang STRING, text STRING").json(tmp)
      .agg(
        count(lit(1)).as("n_rows"),
        countDistinct($"doc_id").as("n_docs"),
        sum(octet_length($"text")).as("total_bytes"),
        countDistinct($"lang").as("n_langs"),
        min($"doc_id").as("first_id"),
        max($"doc_id").as("last_id"))
  }

  val jsonRoundtripSql: String =
    """SELECT COUNT(*) AS n_rows, COUNT(DISTINCT doc_id) AS n_docs,
      |  CAST(SUM(strlen(text)) AS BIGINT) AS total_bytes,
      |  COUNT(DISTINCT lang) AS n_langs,
      |  MIN(doc_id) AS first_id, MAX(doc_id) AS last_id
      |FROM documents""".stripMargin

  /** ORC source/sink roundtrip (the third columnar-adjacent format next
    * to parquet and JSON): orders written as ORC and read back, checked
    * by value invariants — including an exact-decimal double sum, so a
    * single corrupted price cell would flip the hash.
    */
  val orcRoundtrip: Q = (s, dir) => {
    import s.implicits._
    import graft.functions.Exact._
    val tmp = s"${graft.Scratch.dir}/graft_orc_orders_" +
      dir.replaceAll("[^A-Za-z0-9]", "_") + "_" + Scratch.runToken
    Tables(s, dir, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_orderstatus", $"o_totalprice")
      .write.mode("overwrite").orc(tmp)
    s.read.orc(tmp).agg(
      count(lit(1)).as("n_rows"),
      countDistinct($"o_orderkey").as("n_orders"),
      countDistinct($"o_orderstatus").as("n_statuses"),
      dsum($"o_totalprice").as("total_price"),
      min($"o_orderkey").as("first_key"),
      max($"o_orderkey").as("last_key"))
  }

  val orcRoundtripSql: String = {
    import graft.functions.Exact._
    s"""SELECT COUNT(*) AS n_rows, COUNT(DISTINCT o_orderkey) AS n_orders,
       |  COUNT(DISTINCT o_orderstatus) AS n_statuses,
       |  ${sqlDsum("o_totalprice")} AS total_price,
       |  MIN(o_orderkey) AS first_key, MAX(o_orderkey) AS last_key
       |FROM orders""".stripMargin
  }

  /** Compressed-CSV roundtrip — the gzip ingest path a crawl pipeline
    * actually receives (WARC sidecars, log exports): orders → gzip CSV
    * (one .csv.gz per partition, splittability lost by the codec — the
    * documented trade a deployment sizes files around) → schema-bound
    * read-back, aggregated against the unchanged parquet oracle. The
    * timestamp column round-trips through the CSV text form, so the
    * min/max pin the formatter/parser pair too.
    */
  val csvGzipRoundtrip: Q = (s, dir) => {
    import s.implicits._
    import graft.functions.Exact._
    val tmp = s"${graft.Scratch.dir}/graft_csvgz_orders_" +
      dir.replaceAll("[^A-Za-z0-9]", "_") + "_" + Scratch.runToken
    // explicit MICROSECOND format on both sides: Spark's default CSV
    // timestampNTZFormat carries millisecond precision only, so a corpus
    // regeneration with sub-millisecond order dates would silently
    // truncate on write and hash-mismatch the parquet oracle (r11 ADVICE)
    val ntzFmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    Tables(s, dir, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_orderstatus",
        $"o_totalprice", $"o_orderdate")
      .write.mode("overwrite")
      .option("header", "true").option("compression", "gzip")
      .option("timestampNTZFormat", ntzFmt)
      .csv(tmp)
    s.read
      .schema("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
        "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ")
      .option("header", "true")
      .option("timestampNTZFormat", ntzFmt)
      .csv(tmp)
      .agg(
        count(lit(1)).as("n_rows"),
        countDistinct($"o_orderkey").as("n_orders"),
        countDistinct($"o_orderstatus").as("n_statuses"),
        dsum($"o_totalprice").as("total_price"),
        min($"o_orderkey").as("first_key"),
        max($"o_orderkey").as("last_key"),
        min($"o_orderdate").as("first_date"),
        max($"o_orderdate").as("last_date"))
  }

  // def, not val: avroRoundtripSql initializes later in the object
  def csvGzipRoundtripSql: String = avroRoundtripSql

  /** Avro roundtrip — the remaining mainstream lake format in the
    * matrix (parquet/CSV/JSON/ORC/JDBC already gated). Rides the
    * purpose-built [[graft.sources.AvroIO]] container-file pair (the
    * spark-avro connector is not on this classpath): orders → one Avro
    * container per partition → file-parallel read-back, aggregated
    * against the unchanged parquet oracle. o_orderdate exercises the
    * timestamp-micros logical type end-to-end — a dropped/shifted
    * micros value moves min/max and breaks the hash.
    */
  val avroRoundtrip: Q = (s, dir) => {
    import s.implicits._
    import graft.functions.Exact._
    val tmp = s"${graft.Scratch.dir}/graft_avro_orders_" +
      dir.replaceAll("[^A-Za-z0-9]", "_") + "_" + Scratch.runToken
    graft.sources.AvroIO.write(
      Tables(s, dir, "orders")
        .select($"o_orderkey", $"o_custkey", $"o_orderstatus",
          $"o_totalprice", $"o_orderdate"),
      tmp)
    graft.sources.AvroIO.read(s, tmp).agg(
      count(lit(1)).as("n_rows"),
      countDistinct($"o_orderkey").as("n_orders"),
      countDistinct($"o_orderstatus").as("n_statuses"),
      dsum($"o_totalprice").as("total_price"),
      min($"o_orderkey").as("first_key"),
      max($"o_orderkey").as("last_key"),
      min($"o_orderdate").as("first_date"),
      max($"o_orderdate").as("last_date"))
  }

  val avroRoundtripSql: String = {
    import graft.functions.Exact._
    s"""SELECT COUNT(*) AS n_rows, COUNT(DISTINCT o_orderkey) AS n_orders,
       |  COUNT(DISTINCT o_orderstatus) AS n_statuses,
       |  ${sqlDsum("o_totalprice")} AS total_price,
       |  MIN(o_orderkey) AS first_key, MAX(o_orderkey) AS last_key,
       |  MIN(o_orderdate) AS first_date, MAX(o_orderdate) AS last_date
       |FROM orders""".stripMargin
  }

  /** JSONL quarantine lines: valid objects, type/shape failures, and
    * syntactic garbage — each chosen so the two engines' validity
    * notions agree (no single-quote leniency: the Spark parse sets
    * allowSingleQuotes=false to match strict JSON; no string-encoded
    * numbers, where Jackson and try_cast disagree; top-level non-objects
    * count as malformed on both sides via json_type = 'OBJECT').
    */
  private val jsonlLines: Seq[(Long, String)] = Seq(
    (1L, """{"id": 1, "v": "alpha"}"""),
    (2L, """{"id": 2, "v": "beta", "extra": true}"""),
    (3L, """{"id": "three", "v": "gamma"}"""), // type failure on id
    (4L, """{"v": "delta"}"""), // missing id
    (5L, "not json at all"),
    (6L, """{"id": 5, "v": "eps"""), // truncated
    (7L, "[1, 2, 3]"), // valid JSON, not an object
    (8L, """  {"id": 8, "v": "whitespace ok"}  """),
    (9L, ""),
    (10L, """{"id": 10, "v": null}"""),
    (11L, "{'id': 11, 'v': 'single'}")) // strict JSON rejects '

  /** Malformed-input ROUTING, not abortion — the quarantine half of the
    * reference's error-propagation contract (O13 gates the FAILFAST
    * half): every JSONL line is classified `malformed` (the parser
    * quarantined the RECORD — syntactic garbage, a non-object top
    * level, or a field whose value has the wrong TYPE; probe-measured:
    * Spark's PERMISSIVE corrupt-record column is set for all three),
    * `coerce_fail` (clean parse but the required id field is absent) or
    * `ok`, with fields nulled for malformed rows — the dead-letter-queue
    * shape a production ingest runs so one bad line costs one
    * quarantined row, never the batch. Map-only per line.
    */
  val jsonlQuarantine: Q = (s, _) => {
    import s.implicits._
    val st = org.apache.spark.sql.types.StructType
      .fromDDL("id BIGINT, v STRING, _bad STRING")
    // parse ONCE behind a Generate barrier (explode of a 1-element array —
    // no row multiplication): CollapseProject would otherwise re-inline
    // the from_json into every downstream reference, evaluating the parse
    // three times per line (r12 verdict; at ingest scale the triple parse
    // is real money). Class and fields both derive from the one struct.
    val parsed = jsonlLines.toDF("line_no", "line")
      .select($"line_no",
        explode(array(from_json($"line", st, Map(
          "allowSingleQuotes" -> "false",
          "columnNameOfCorruptRecord" -> "_bad")))).as("j"))
    parsed
      .select($"line_no",
        when($"j".isNull || $"j._bad".isNotNull, "malformed")
          .when($"j.id".isNull, "coerce_fail")
          .otherwise("ok").as("cls"),
        $"j")
      .select($"line_no", $"cls",
        // fields are NULLED for malformed rows (PERMISSIVE retains
        // partial fields on a type failure — the quarantine must not)
        when($"cls" =!= "malformed", $"j.id").as("id"),
        when($"cls" =!= "malformed", $"j.v").as("v"))
      .orderBy($"line_no")
  }

  val jsonlQuarantineSql: String = {
    val rows = jsonlLines.map { case (i, l) =>
      s"(CAST($i AS BIGINT), '${l.replace("'", "''")}')"
    }.mkString(",\n    ")
    s"""WITH lines(line_no, line) AS (VALUES
       |    $rows),
       |cls AS (
       |  SELECT line_no, line,
       |    CASE WHEN NOT json_valid(line) OR json_type(line) <> 'OBJECT'
       |           OR (json_type(line, '$$.id') IS NOT NULL AND
       |               json_type(line, '$$.id') NOT IN ('UBIGINT', 'BIGINT'))
       |           OR (json_type(line, '$$.v') IS NOT NULL AND
       |               json_type(line, '$$.v') NOT IN ('VARCHAR', 'NULL'))
       |           THEN 'malformed'
       |         WHEN json_type(line, '$$.id') IS NULL THEN 'coerce_fail'
       |         ELSE 'ok' END AS cls
       |  FROM lines)
       |SELECT line_no, cls,
       |  CASE WHEN cls = 'malformed' THEN NULL
       |       ELSE try_cast(json_extract_string(line, '$$.id') AS BIGINT)
       |  END AS id,
       |  CASE WHEN cls = 'malformed' THEN NULL
       |       ELSE json_extract_string(line, '$$.v') END AS v
       |FROM cls ORDER BY line_no""".stripMargin
  }

  /** O12 — row counters (`internal/writer/writer.go:52,63-64`). */
  val counts: Q = (s, dir) => {
    import s.implicits._
    Tables(s, dir, "lineitem").agg(
      count(lit(1)).as("n_rows"),
      countDistinct($"l_orderkey").as("n_orders"))
  }

  val countsSql: String =
    "SELECT COUNT(*) AS n_rows, COUNT(DISTINCT l_orderkey) AS n_orders FROM lineitem"

  /** O6 twin on the READ side — JDBC as a parallel SOURCE, not just a
    * sink: the generated locations upsert into embedded Derby through
    * the real dialect seam, then come back via `spark.read.jdbc` with
    * an explicit predicate partitioning (4 disjoint MOD classes over
    * the numeric key suffix → 4 concurrent connections/tasks, the shape
    * a production extract uses so one task doesn't serialize the whole
    * table). The aggregate gates the full write→read cycle against the
    * generator oracle — if either direction dropped or duplicated a
    * row, counts and min/max keys diverge.
    */
  val jdbcParallelRead: Q = (s, _) => {
    import s.implicits._
    import graft.sinks.JdbcUpsertSink
    val n = 2000L
    val url = s"jdbc:derby:${graft.Scratch.dir}/jdbc_read_${Scratch.runToken};create=true"
    JdbcUpsertSink.ensureTable(url, JdbcUpsertSink.DerbyUpsert)
    JdbcUpsertSink.write(Gen.locations(s, n).as[graft.model.Location], url,
      parallelism = 4, dialect = JdbcUpsertSink.DerbyUpsert)
    val predicates = (0 until 4)
      .map(k => s"MOD(CAST(SUBSTR(locid, 4) AS BIGINT), 4) = $k").toArray
    s.read.jdbc(url, "locations", predicates, new java.util.Properties())
      .groupBy($"country")
      .agg(count(lit(1)).as("n"),
        min($"locid").as("first_loc"), max($"locid").as("last_loc"),
        countDistinct($"business").as("n_businesses"))
      .orderBy($"country")
  }

  val jdbcParallelReadSql: String =
    s"""SELECT country, COUNT(*) AS n,
       |  MIN(locid) AS first_loc, MAX(locid) AS last_loc,
       |  COUNT(DISTINCT business) AS n_businesses
       |FROM (${Gen.locationsSql(2000)})
       |GROUP BY country ORDER BY country""".stripMargin

  /** Error-tolerant JSON-lines ingest — [[csvPermissive]]'s sibling for
    * the other text format: malformed lines (truncated JSON, wrong
    * types) land in the corrupt-record column instead of aborting the
    * import, good rows aggregate normally. Same closed-form oracle
    * trick: the planted corruption pattern is periodic, so the expected
    * counts/sums are computable in SQL without reading the file.
    */
  val jsonPermissive: Q = (s, _) => {
    import s.implicits._
    val tmp = s"${graft.Scratch.dir}/graft_json_permissive_" + Scratch.runToken
    val lines = (0 until 140).map { id =>
      if (id % 7 == 3) s"""{"a": $id, "b": """ // truncated mid-object
      else s"""{"a": $id, "b": ${id * 3L}, "name": "name$id"}"""
    }
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(tmp))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$tmp/data.json"),
      lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    s.read
      .schema("a BIGINT, b BIGINT, name STRING, _bad STRING")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_bad")
      .json(tmp)
      .agg(
        sum($"_bad".isNull.cast("long")).as("n_good"),
        sum($"_bad".isNotNull.cast("long")).as("n_quarantined"),
        sum($"a").as("sum_a"),
        sum($"b").as("sum_b"),
        countDistinct($"name").as("n_names"))
  }

  val jsonPermissiveSql: String =
    """WITH ids AS (SELECT i AS id FROM range(0, 140) t(i)),
      |good AS (SELECT id FROM ids WHERE id % 7 <> 3)
      |SELECT
      |  (SELECT COUNT(*) FROM good) AS n_good,
      |  (SELECT COUNT(*) FROM ids WHERE id % 7 = 3) AS n_quarantined,
      |  (SELECT CAST(SUM(id) AS BIGINT) FROM good) AS sum_a,
      |  (SELECT CAST(SUM(id * 3) AS BIGINT) FROM good) AS sum_b,
      |  (SELECT COUNT(DISTINCT 'name' || CAST(id AS VARCHAR)) FROM good) AS n_names""".stripMargin

  val all: Map[String, (Q, Option[String])] = Map(
    "ref_json_permissive" -> (jsonPermissive, Some(jsonPermissiveSql)),
    "ref_jdbc_parallel_read" -> (jdbcParallelRead, Some(jdbcParallelReadSql)),
    "ref_gen_locations" -> (genLocations, Some(Gen.locationsSql(1000) + " ORDER BY locid")),
    "ref_csv_roundtrip" -> (csvRoundtrip, Some(Gen.locationsSql(500) + " ORDER BY locid")),
    "ref_csv_permissive" -> (csvPermissive, Some(csvPermissiveSql)),
    "ref_gen_1m_roundtrip" -> (gen1mRoundtrip, Some(gen1mRoundtripSql)),
    "ref_ingest_dedup" -> (ingestDedup, Some(ingestDedupSql)),
    "ref_upsert_merge" -> (upsertMerge, Some(upsertMergeSql)),
    "ref_pagination" -> (pagination, Some(paginationSql)),
    "ref_json_page" -> (jsonPage, Some(jsonPageSql)),
    "ref_json_roundtrip" -> (jsonRoundtrip, Some(jsonRoundtripSql)),
    "ref_orc_roundtrip" -> (orcRoundtrip, Some(orcRoundtripSql)),
    "ref_avro_roundtrip" -> (avroRoundtrip, Some(avroRoundtripSql)),
    "ref_csv_gzip_roundtrip" -> (csvGzipRoundtrip, Some(csvGzipRoundtripSql)),
    "ref_jsonl_quarantine" -> (jsonlQuarantine, Some(jsonlQuarantineSql)),
    "ref_counts" -> (counts, Some(countsSql))
  )
}
