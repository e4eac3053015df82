package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.sources.JdbcPage

/** The reference's read-path operators (O9-O11 in SURVEY.md §2). */
object Relational {

  /** Deterministic LIMIT/OFFSET pagination (`internal/db/db.go:111-137`).
    *
    * The reference pages with no ORDER BY, so page contents are
    * unspecified; this port requires explicit sort keys (SURVEY.md §7.4).
    *
    * A bare JDBC table sorted on its primary key is read by
    * [[graft.sources.JdbcPage]]: one task streams the key index, windows
    * the keys in Spark's order and fetches only the page's rows, and the
    * result declares one partition, so [[jsonPage]] plans no exchange.
    * It applies when `df` is a V1 JDBC relation read with `dbtable` (no
    * `query`, `sessionInitStatement`, `prepareQuery` or `customSchema`),
    * under at most projections of bare columns, and `sortKeys` is one
    * string or integral column, ascending or descending, that the
    * database reports as the table's whole primary key.
    *
    * Anything else (a filter, two sort keys, a non-unique key, an
    * expression key, a non-JDBC source) is planned by Spark as
    * TakeOrderedAndProject: every partition scans all of its rows and
    * keeps its top `offset + limit`, and the exchange carries up to that
    * many rows per partition, so a page costs a full scan and grows with
    * its offset.
    */
  def page(df: DataFrame, sortKeys: Seq[Column], limit: Int, offset: Int): DataFrame =
    JdbcPage(df, sortKeys, limit, offset)
      .getOrElse(df.orderBy(sortKeys: _*).offset(offset).limit(limit))

  /** JSON page encoding (O10; `internal/db/db.go:113-118`):
    * `COALESCE(json_agg(rows), '[]')` becomes
    * `coalesce(to_json(sort_array(collect_list(struct(...)))), '[]')`.
    * sort_array (by the first struct field) replaces relying on collected
    * order, which Spark does not guarantee after a shuffle.
    */
  def jsonPage(df: DataFrame, cols: Seq[Column]): DataFrame =
    df.agg(
      coalesce(to_json(sort_array(collect_list(struct(cols: _*)))), lit("[]"))
        .as("page_json"))
}
