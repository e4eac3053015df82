package org.apache.spark.sql.execution.datasources.jdbc

import java.sql.{Connection, PreparedStatement, ResultSet}

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, SortOrder}
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.jdbc.JdbcDialects
import org.apache.spark.sql.sources.BaseRelation
import org.apache.spark.sql.types.{DataType, StructType}

/** graft's one door into Spark's `private[sql]` JDBC and Dataset pieces
  * (the `DatasetFactory` pattern): matching a V1 `JDBCRelation`, Spark's
  * own JDBC row conversion, and a DataFrame over a `LogicalRDD`. The logic
  * that uses them lives in `graft.sources.JdbcPage`; no other graft file
  * reaches into this package.
  */
object GraftJdbc {

  /** A V1 JDBC relation as graft reads it: its options, its schema and
    * the `whereClause` of each of its partitions (null: every row).
    * Serializable, so it ships with an RDD to the task that reads.
    */
  final class Source private[GraftJdbc] (
      options: JDBCOptions,
      val schema: StructType,
      val whereClauses: Seq[String]) extends Serializable {

    /** The option `name` the relation was read with (case-insensitive). */
    def option(name: String): Option[String] = options.parameters.get(name)

    /** The table or subquery the relation reads, as Spark's scan puts it
      * after FROM.
      */
    def table: String = options.tableOrQuery

    def quote(column: String): String =
      JdbcDialects.get(options.url).quoteIdentifier(column)

    /** A connection opened the way Spark's JDBC scan opens one. */
    def connect(): Connection =
      JdbcDialects.get(options.url).createConnectionFactory(options)(-1)

    /** A forward-only statement with the relation's fetch size and query
      * timeout.
      */
    def prepare(conn: Connection, sql: String): PreparedStatement = {
      val st = conn.prepareStatement(sql, ResultSet.TYPE_FORWARD_ONLY,
        ResultSet.CONCUR_READ_ONLY)
      st.setFetchSize(options.fetchSize)
      st.setQueryTimeout(options.queryTimeout)
      st
    }

    /** `rs`'s leading columns converted as Spark's JDBC scan converts
      * them, against `schema`. Each row is one reused mutable row, and the
      * iterator closes `rs` when it is exhausted; between `next` calls `rs`
      * stays on the row just returned. Call it inside a task.
      */
    def rows(rs: ResultSet, schema: StructType): Iterator[InternalRow] =
      JdbcUtils.resultSetToSparkInternalRows(rs, JdbcDialects.get(options.url),
        schema, TaskContext.get().taskMetrics().inputMetrics)
  }

  def source(relation: BaseRelation): Option[Source] = relation match {
    case r: JDBCRelation if r.parts.forall(_.isInstanceOf[JDBCPartition]) =>
      Some(new Source(r.jdbcOptions, r.schema,
        r.parts.toSeq.map(_.asInstanceOf[JDBCPartition].whereClause)))
    case _ => None
  }

  /** Spark's ordering of `dt`'s internal values, the one its sort uses. */
  def ordering(dt: DataType): Ordering[Any] = PhysicalDataType.ordering(dt)

  /** A DataFrame over `rdd` that declares one partition, sorted by
    * `ordering`. Every action recomputes `rdd`.
    */
  def singlePartition(spark: SparkSession, output: Seq[Attribute],
      rdd: RDD[InternalRow], ordering: Seq[SortOrder]): DataFrame = {
    val session = spark.asInstanceOf[classic.SparkSession]
    classic.Dataset.ofRows(session,
      LogicalRDD(output, rdd, SinglePartition, ordering, isStreaming = false)(session))
  }
}
