package graft.sources

import java.sql.Connection
import java.util.Locale

import scala.collection.mutable

import org.apache.spark.{Partition, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Descending, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Sort}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.datasources.jdbc.GraftJdbc
import org.apache.spark.sql.types._

/** A LIMIT/OFFSET page of a JDBC table, sorted on its primary key, read
  * in one task instead of a scan of every partition and a shuffle.
  *
  * The page's ORDER BY and OFFSET stay out of the database. Derby pads
  * strings with spaces and compares UTF-16 code units, so its order
  * differs from Spark's UTF-8 byte order: it sorts "a\t" before "a" and
  * U+1F600 before U+E000 (JdbcPageSpec pins both). Skipping rows inside
  * Derby is also slow: its index scan fetches the base row of every
  * skipped row. So the read streams only the key index, and Spark's own
  * comparator picks the window:
  *
  *   1. stream `SELECT k, m FROM t ORDER BY k`, where `m` is how many of
  *      the relation's partition predicates hold for the row, so the key
  *      multiset is exactly the relation's, overlaps and gaps included;
  *   2. sort the keys, as Spark's JDBC conversion produces them, with
  *      Spark's ordering of the key type (a stable sort: keys that Spark
  *      holds equal keep the database's order);
  *   3. expand each key by its `m` and cut `[offset, offset + limit)`;
  *   4. fetch the window's rows with `WHERE k IN (...)` on the database's
  *      own key values, and convert them with Spark's JDBC conversion.
  *
  * All of it runs on one read-only connection in one REPEATABLE READ
  * transaction, inside the task, at every action: nothing is cached.
  * The task holds every key of the table in memory, and the page's rows.
  */
object JdbcPage {

  /** Rows fetched per `IN (...)` statement: Derby's compile time grows
    * faster than the list (2,000 keys took 0.5 s, 10,000 took 56 s).
    */
  private val FetchBatch = 500

  /** The page as one single-task read, when `df` is a bare V1 JDBC
    * relation read from a table (optionally projected to bare columns)
    * and `sortKeys` is the one string or integral column that the
    * database reports as the table's whole primary key; otherwise None.
    * The primary key is read from the database's metadata here, at plan
    * time, as Spark reads the relation's schema.
    */
  def apply(df: DataFrame, sortKeys: Seq[Column], limit: Int, offset: Int): Option[DataFrame] =
    if (sortKeys.size != 1 || limit < 0 || offset < 0) None
    else df.orderBy(sortKeys: _*).queryExecution.analyzed match {
      case Sort(Seq(order @ SortOrder(key: AttributeReference, _, _, _)), true, child, _) =>
        for {
          rel <- bareColumns(child)
          source <- GraftJdbc.source(rel.relation)
          if readsTable(source)
          columnOf = rel.output.map(_.exprId).zip(source.schema.fields).toMap
          keyField <- columnOf.get(key.exprId)
          if sortable(keyField.dataType) && primaryKey(source) == Seq(keyField.name)
        } yield {
          val read = new PageRDD(df.sparkSession.sparkContext, source, keyField,
            StructType(child.output.map(a => columnOf(a.exprId))),
            order.direction == Descending, offset.toLong, limit.toLong)
          read.setName(s"JdbcPage(${source.table}, ${keyField.name}, $offset, $limit)")
          GraftJdbc.singlePartition(df.sparkSession, child.output, read, Seq(order))
        }
      case _ => None
    }

  private def sortable(dt: DataType): Boolean = dt match {
    case _: StringType | ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** The JDBC leaf under a chain of projections of bare columns. */
  private def bareColumns(plan: LogicalPlan): Option[LogicalRelation] = plan match {
    case r: LogicalRelation => Some(r)
    case Project(list, child) if list.forall(_.isInstanceOf[AttributeReference]) =>
      bareColumns(child)
    case _ => None
  }

  /** A `dbtable` read with no option that changes what a statement sees. */
  private def readsTable(source: GraftJdbc.Source): Boolean =
    source.option("dbtable").isDefined && source.option("query").isEmpty &&
      Seq("sessionInitStatement", "prepareQuery", "customSchema")
        .forall(source.option(_).isEmpty)

  /** The columns of the table's primary key; empty when the table has
    * none or its name is not a plain, unquoted `[schema.]table`.
    */
  private def primaryKey(source: GraftJdbc.Source): Seq[String] = {
    val parts = source.table.split('.').toSeq
    if (parts.size > 2 || !parts.forall(_.matches("[A-Za-z_][A-Za-z0-9_$]*"))) Nil
    else {
      val conn = source.connect()
      try {
        val md = conn.getMetaData
        def stored(id: String): String =
          if (md.storesUpperCaseIdentifiers) id.toUpperCase(Locale.ROOT)
          else if (md.storesLowerCaseIdentifiers) id.toLowerCase(Locale.ROOT)
          else id
        val (schema, table) =
          if (parts.size == 2) (stored(parts(0)), stored(parts(1)))
          else (conn.getSchema, stored(parts(0)))
        val rs = md.getPrimaryKeys(conn.getCatalog, schema, table)
        try Iterator.continually(rs).takeWhile(_.next()).map(_.getString("COLUMN_NAME")).toList
        finally rs.close()
      } finally conn.close()
    }
  }

  private case object OnlyPartition extends Partition { val index = 0 }

  /** One key of the stream: its value as Spark reads it, its raw value
    * as the database returns it, and its multiplicity in the relation.
    */
  private final case class Key(value: Any, raw: AnyRef, copies: Int)

  /** The page read: one partition that returns the page's rows in Spark's
    * order of `key`, each as often as the relation holds it.
    */
  private final class PageRDD(
      sc: org.apache.spark.SparkContext,
      source: GraftJdbc.Source,
      key: StructField,
      schema: StructType,
      descending: Boolean,
      offset: Long,
      limit: Long) extends RDD[InternalRow](sc, Nil) {

    override protected def getPartitions: Array[Partition] = Array(OnlyPartition)

    override def compute(split: Partition, context: TaskContext): Iterator[InternalRow] =
      if (limit == 0) Iterator.empty
      else {
        val conn = source.connect()
        try {
          conn.setAutoCommit(false)
          conn.setReadOnly(true)
          conn.setTransactionIsolation(Connection.TRANSACTION_REPEATABLE_READ)
          val window = cut(keys(conn))
          val rows = fetch(conn, window.map(_._1.raw))
          conn.commit()
          window.iterator.flatMap { case (k, n) => Iterator.fill(n)(rows(k.raw)) }
        } finally conn.close()
      }

    private val keyCol = source.quote(key.name)

    /** Every key with a nonzero multiplicity, in Spark's order. */
    private def keys(conn: Connection): Array[Key] = {
      val copies = source.whereClauses
        .map(w => if (w == null) "1" else s"CASE WHEN ($w) THEN 1 ELSE 0 END")
        .mkString(" + ")
      val st = source.prepare(conn, s"SELECT $keyCol, $copies FROM ${source.table} ORDER BY $keyCol")
      val out = mutable.ArrayBuilder.make[Key]
      try {
        val rs = st.executeQuery()
        val it = source.rows(rs, StructType(Seq(key)))
        while (it.hasNext) {
          val value = it.next().get(0, key.dataType)
          val n = rs.getInt(2)
          if (n > 0) out += Key(value, rs.getObject(1), n)
        }
      } finally st.close()
      val sorted = out.result()
      val ord = GraftJdbc.ordering(key.dataType)
      val cmp = if (descending) ord.reverse else ord
      java.util.Arrays.sort(sorted, (a: Key, b: Key) => cmp.compare(a.value, b.value))
      sorted
    }

    /** The keys that overlap `[offset, offset + limit)` of the expanded
      * sequence, with how many of each key's copies fall inside it.
      */
    private def cut(keys: Array[Key]): Seq[(Key, Int)] = {
      val end = offset + limit
      val out = mutable.ArrayBuffer[(Key, Int)]()
      var pos = 0L
      var i = 0
      while (i < keys.length && pos < end) {
        val k = keys(i)
        val inside = math.min(end, pos + k.copies) - math.max(offset, pos)
        if (inside > 0) out += k -> inside.toInt
        pos += k.copies
        i += 1
      }
      out.toSeq
    }

    /** The rows of the raw keys `raws`, by raw key. The key is selected
      * once more after the page's columns, and read raw from the row the
      * conversion just returned.
      */
    private def fetch(conn: Connection, raws: Seq[AnyRef]): Map[AnyRef, InternalRow] = {
      val cols = (schema.fieldNames :+ key.name).map(source.quote).mkString(", ")
      raws.grouped(FetchBatch).flatMap { batch =>
        val st = source.prepare(conn, s"SELECT $cols FROM ${source.table} " +
          s"WHERE $keyCol IN (${batch.map(_ => "?").mkString(", ")})")
        try {
          batch.zipWithIndex.foreach { case (k, i) => st.setObject(i + 1, k) }
          val rs = st.executeQuery()
          val it = source.rows(rs, schema)
          val got = mutable.ArrayBuffer[(AnyRef, InternalRow)]()
          while (it.hasNext) {
            val row = it.next().copy()
            got += rs.getObject(schema.length + 1) -> row
          }
          got
        } finally st.close()
      }.toMap
    }
  }
}
