package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** SQL entry-point parity gates. Every other gate declares its plan via
  * the DataFrame DSL; nothing proved that a SQL-FIRST user of the engine
  * — temp views + `spark.sql(...)` text, with the custom function
  * surface resolving through the SQL parser — gets bit-identical
  * results. These route representative shapes (scan-heavy aggregate,
  * ranking window + join, the as-of union-window composition, and the
  * native-expression surface) through SQL text, hash-gated against the
  * SAME DuckDB oracles as their DSL twins where one exists.
  *
  * The Spark SQL strings intentionally spell out the decimal detour
  * (`CAST(SUM(CAST(x AS DECIMAL(22,6))) AS DOUBLE)`) exactly as
  * [[graft.functions.Exact]] builds it in the DSL: same expression tree
  * after parsing, same values on any partitioning.
  *
  * Scale: each gate's physical plan is identical to its DSL twin's
  * (Catalyst resolves both to the same logical plan), so the §9 scale
  * receipts carry over — this surface guards the ENTRY POINT, not a new
  * operator.
  */
object SqlQueries {
  import Queries.Q

  /** Register the tables a gate reads as temp views (through [[Tables]],
    * so schema fixups and the function-registry choke point both apply)
    * and run the SQL text. Views are re-registered per call: queries run
    * sequentially, so a later dir simply replaces the views.
    */
  private def overViews(s: SparkSession, dir: String, tables: Seq[String],
      sql: String): DataFrame = {
    tablesAsViews(s, dir, tables)
    s.sql(sql)
  }

  /** View registration alone — for gates that issue more than one SQL
    * statement (e.g. a materialized intermediate stage).
    */
  private def tablesAsViews(s: SparkSession, dir: String,
      tables: Seq[String]): Unit =
    tables.foreach(t => Tables(s, dir, t).createOrReplaceTempView(s"graft_$t"))

  val sqlQ1: Q = (s, dir) => overViews(s, dir, Seq("lineitem"),
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(22,6))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(22,6))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(22,6))) AS DOUBLE) AS sum_disc_price,
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(22,6))) AS DOUBLE) AS sum_charge,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(22,6))) AS DOUBLE) / COUNT(1) AS avg_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(22,6))) AS DOUBLE) / COUNT(1) AS avg_price,
      |  CAST(SUM(CAST(l_discount AS DECIMAL(22,6))) AS DOUBLE) / COUNT(1) AS avg_disc,
      |  COUNT(1) AS count_order
      |FROM graft_lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin)

  val sqlWindowTop3: Q = (s, dir) => overViews(s, dir,
    Seq("customer", "nation"),
    """SELECT n_name, c_custkey, c_acctbal, rk FROM (
      |  SELECT c_custkey, c_nationkey, c_acctbal,
      |    dense_rank() OVER (PARTITION BY c_nationkey
      |                       ORDER BY c_acctbal DESC, c_custkey) AS rk
      |  FROM graft_customer) c
      |JOIN graft_nation ON c_nationkey = n_nationkey
      |WHERE rk <= 3 ORDER BY n_name, rk, c_custkey""".stripMargin)

  /** The as-of composition ([[AdvancedJoins.asofPurchaseClick]]) as pure
    * SQL text — union the tagged sides, carry the latest click forward
    * with `last(..., true) IGNORE NULLS` over the (key, time) window.
    * The oracle stays DuckDB's native ASOF LEFT JOIN.
    */
  val sqlAsof: Q = (s, dir) => overViews(s, dir, Seq("events"),
    """WITH c0 AS (
      |  SELECT user_id, ts, value,
      |    row_number() OVER (PARTITION BY user_id, ts
      |                       ORDER BY event_id DESC) AS rn
      |  FROM graft_events WHERE event_type = 'click'),
      |c AS (SELECT user_id, ts, value, 0 AS tag,
      |        CAST(NULL AS BIGINT) AS purchase_id
      |      FROM c0 WHERE rn = 1),
      |p AS (SELECT user_id, ts, CAST(NULL AS DOUBLE) AS value, 1 AS tag,
      |        event_id AS purchase_id
      |      FROM graft_events WHERE event_type = 'purchase'),
      |u AS (SELECT * FROM c UNION ALL SELECT * FROM p),
      |w AS (SELECT user_id, purchase_id, ts, tag,
      |    last(CASE WHEN tag = 0 THEN ts END, true) OVER (
      |      PARTITION BY user_id ORDER BY ts, tag
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS click_ts,
      |    last(CASE WHEN tag = 0 THEN value END, true) OVER (
      |      PARTITION BY user_id ORDER BY ts, tag
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS click_value
      |  FROM u)
      |SELECT user_id, purchase_id, ts, click_ts, click_value
      |FROM w WHERE tag = 1 ORDER BY purchase_id""".stripMargin)

  /** The native expression surface under the SQL parser: grapheme_count,
    * codepoints, nfc_normalize, and rolling_hash64 resolving from
    * SQL text (the [[graft.functions.Registry]] triples, the same
    * registration [[graft.Tables]] runs on every session).
    */
  val sqlNativeFns: Q = (s, _) => {
    import s.implicits._
    graft.functions.Registry.registerAll(s)
    graft.text.Utf8Queries.docs.toDF("doc_id", "text", "lang")
      .createOrReplaceTempView("graft_utf8_docs")
    s.sql(
      """SELECT doc_id,
        |  grapheme_count(text) AS n_graphemes,
        |  size(codepoints(text)) AS n_codepoints,
        |  md5(nfc_normalize(text)) AS nfc_fp,
        |  rolling_hash64(regexp_replace(text, '[^ -~]', '')) AS ascii_fp
        |FROM graft_utf8_docs ORDER BY doc_id""".stripMargin)
  }

  val sqlNativeFnsSql: String = {
    val cp = graft.functions.Codepoints.sql("text")
    val rh = graft.functions.RollingHash64.sql(
      "regexp_replace(text, '[^ -~]', '', 'g')")
    s"""WITH ${graft.text.Utf8Queries.sqlDocsCte},
       |t AS (SELECT doc_id, text FROM utf8_docs)
       |SELECT doc_id,
       |  CAST(length_grapheme(text) AS INTEGER) AS n_graphemes,
       |  CAST(length($cp) AS INTEGER) AS n_codepoints,
       |  md5(nfc_normalize(text)) AS nfc_fp,
       |  $rh AS ascii_fp
       |FROM t ORDER BY doc_id""".stripMargin
  }

  /** MinHash-LSH near-dup dedup as pure SQL text (r11 VERDICT #8 — the
    * dedup family's entry-point twin): the same corpus construction,
    * native `word_shingles`/`minhash_md5` resolving through the SQL
    * parser, banding via posexplode + collect_list, the hot-band cap as
    * a window, exact-Jaccard verify. Hash-gated against the SAME oracle
    * as `dedup_minhash_lsh`. (Note: `agg_grouping_sets` needs no twin —
    * its DSL gate is ALREADY issued as spark.sql text.)
    *
    * Plans intentionally NOT identical to the DSL twin (the twin keeps
    * its own banding/verify SQL text), but since r17 the twin shares
    * the DSL family's materialization discipline: the shingle table is
    * the `shingledCorpus` scratch-parquet artifact all five DSL dedup
    * gates read, and the band table is a persisted SQL-text stage
    * (read twice by the candidate self-join). Same values, pinned by
    * the shared hash gate.
    */
  val sqlDedupMinhash: Q = (s, dir) => {
    import graft.text.DedupQueries.{K => k, R => r}
    val cap = graft.text.NearDup.LshBandCap
    graft.functions.Registry.registerAll(s)
    // same +10000 planted-variant scheme as the DSL twin — same loud
    // corpus-drift guard (collisions would be green-but-wrong in BOTH
    // engines, invisible to the hash gate)
    graft.text.DedupQueries.assertVariantIdHeadroom(s, dir)
    // r17 (verdict item 3): the inlined CTE chain re-derived the
    // tokenize+shingle stream PER REFERENCE — `shingled` is read three
    // times (sig + both sides of the exact-Jaccard verify), so the
    // regex/split/shingle per-row work ran 3× per rep. Two-step fix,
    // each A/B'd (alternating reps; OPTIMIZATION_r17.md §2):
    //  (a) an in-memory CACHE of the rebuilt shingle table LOST
    //      (3.54 vs 2.88 s median — caching 10k big string arrays
    //      costs more than one recompute; null recorded, don't
    //      re-try);
    //  (b) reading the `shingledCorpus` scratch-parquet ARTIFACT the
    //      five DSL dedup gates already share (r16 "read the index
    //      artifact" pattern) WON. The artifact is built from the
    //      IDENTICAL corpus expressions (same tokenize, ≥15 filter,
    //      +10000 slice variant, word_shingles(…, 3)), so values are
    //      unchanged and the shared oracle still pins them.
    // The small band table (docs × bands short strings) is its own
    // SQL-text stage behind the CacheTracker hook — the candidate
    // self-join reads it twice, exactly the DSL gate's persist shape.
    // All query logic remains SQL text; minhash_md5 / posexplode /
    // the banding window still resolve through the SQL parser.
    graft.text.DedupQueries.shingledCorpus(s, dir)
      .createOrReplaceTempView("graft_shingled_mh")
    val bandt = s.sql(
      s"""WITH sig AS (SELECT doc_id, posexplode(minhash_md5(sh, $k)) AS (i, h)
         |        FROM graft_shingled_mh)
         |SELECT doc_id, CAST(floor(i / $r) AS INT) AS band,
         |  array_join(transform(array_sort(collect_list(struct(i, h))),
         |    st -> st.h), '|') AS mh
         |FROM sig GROUP BY doc_id, CAST(floor(i / $r) AS INT)""".stripMargin)
    graft.CacheTracker.persistTracked(bandt)
      .createOrReplaceTempView("graft_bandt_mh")
    s.sql(
      s"""WITH sized AS (
         |  SELECT doc_id, band, mh,
         |    COUNT(*) OVER (PARTITION BY band, mh) AS gsz FROM graft_bandt_mh),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM sized a JOIN sized b ON a.band = b.band AND a.mh = b.mh
         |  WHERE a.gsz <= $cap AND a.doc_id < b.doc_id),
         |j AS (
         |  SELECT doc_a, doc_b,
         |    CAST(size(array_intersect(sa.sh, sb.sh)) AS DOUBLE) /
         |      CAST(size(array_union(sa.sh, sb.sh)) AS DOUBLE) AS jaccard
         |  FROM cand JOIN graft_shingled_mh sa ON cand.doc_a = sa.doc_id
         |            JOIN graft_shingled_mh sb ON cand.doc_b = sb.doc_id)
         |SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.4
         |ORDER BY doc_a, doc_b""".stripMargin)
  }

  /** The bucket-grid interval-overlap join as SQL text — same grid
    * explode, same exactly-once cell rule, against the DSL twin's
    * inequality-join oracle.
    */
  val sqlIntervalOverlap: Q = (s, dir) => {
    val hourUs = 3600L * 1000000L
    val dayUs = 24L * hourUs
    overViews(s, dir, Seq("events"),
      s"""WITH ev AS (
         |  SELECT user_id, event_type,
         |    unix_micros(CAST(ts AS TIMESTAMP)) AS us
         |  FROM graft_events),
         |a AS (SELECT user_id, us div $dayUs AS day,
         |        MIN(us) AS as_, MAX(us) + 1 AS ae
         |      FROM ev GROUP BY user_id, us div $dayUs),
         |b AS (SELECT event_type, us div $hourUs AS hr,
         |        MIN(us) AS bs, MAX(us) + 1 AS be
         |      FROM ev GROUP BY event_type, us div $hourUs),
         |aexp AS (SELECT user_id, as_, ae,
         |    explode(sequence(as_ div $hourUs, (ae - 1) div $hourUs)) AS g
         |  FROM a),
         |bexp AS (SELECT event_type, bs, be,
         |    explode(sequence(bs div $hourUs, (be - 1) div $hourUs)) AS g
         |  FROM b)
         |SELECT event_type, COUNT(*) AS n_pairs,
         |  COUNT(DISTINCT user_id) AS n_users
         |FROM aexp JOIN bexp USING (g)
         |WHERE as_ < be AND bs < ae
         |  AND g = greatest(as_, bs) div $hourUs
         |GROUP BY event_type ORDER BY event_type""".stripMargin)
  }

  /** Brute-force exact kNN as SQL text — the vector family's entry-point
    * twin, with the native `dot_exact_dec` kernel resolving through the
    * SQL parser inside the hoisted-norm/cosine formulation.
    */
  val sqlKnnBrute: Q = (s, dir) => {
    graft.functions.Registry.registerAll(s)
    // REPARTITION hint mirrors the DSL twin's r17 spread: the one-file
    // embeddings scan otherwise runs every exact-decimal kernel on one
    // core (knnrep A/B receipt)
    overViews(s, dir, Seq("embeddings"),
      s"""WITH emb AS (
        |  SELECT /*+ REPARTITION(${s.sparkContext.defaultParallelism}) */
        |    vec_id, embedding,
        |    sqrt(dot_exact_dec(embedding, embedding)) AS xn
        |  FROM graft_embeddings),
        |q AS (SELECT vec_id AS q_id, embedding AS q_emb, xn AS qxn
        |      FROM emb WHERE vec_id < 5),
        |scored AS (
        |  SELECT q_id, vec_id,
        |    dot_exact_dec(embedding, q_emb) / (xn * qxn) AS cosine
        |  FROM emb CROSS JOIN q WHERE vec_id <> q_id),
        |ranked AS (SELECT *, row_number() OVER (
        |    PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rank
        |  FROM scored)
        |SELECT q_id, vec_id, round(cosine, 9) AS cosine, rank
        |FROM ranked WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin)
  }

  val all: Map[String, (Q, Option[String])] = Map(
    "sql_q1_pricing" -> (sqlQ1, Some(Queries.q1PricingSummarySql)),
    "sql_window_top3" -> (sqlWindowTop3, Some(TpchQueries.windowTop3Sql)),
    "sql_asof_purchase_click" -> (sqlAsof, Some(AdvancedJoins.asofSql)),
    "sql_native_functions" -> (sqlNativeFns, Some(sqlNativeFnsSql)),
    "sql_dedup_minhash" ->
      (sqlDedupMinhash, Some(graft.text.DedupQueries.minhashLshSql)),
    "sql_interval_overlap" ->
      (sqlIntervalOverlap, Some(AdvancedJoins.intervalOverlapSql)),
    "sql_knn_brute" -> (sqlKnnBrute, Some(graft.vector.SimilarityQueries.knnBruteSql)))
}
