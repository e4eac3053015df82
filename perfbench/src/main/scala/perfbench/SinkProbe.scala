package perfbench

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.sql.{Connection, DriverManager, PreparedStatement}
import java.util.Properties
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

/** Observes what the sink sends to the database. A traced import hands
  * `JdbcUpsertSink.write` the URL `jdbc:perfbench:<url>`; this driver opens
  * `<url>` and wraps each connection, so that every connection the sink
  * opens and every batch it executes is recorded: its statement, its rows,
  * the rows it changed and its time. Nothing about the sink's split or
  * chunk size is assumed; the figures are what `write` did.
  */
object SinkProbe {
  val Prefix = "jdbc:perfbench:"

  /** One `executeBatch` on connection `conn`. */
  final case class Batch(conn: Int, sql: String, rows: Int, changed: Long, ns: Long)

  private val connections = new AtomicInteger
  private val batches = new ConcurrentLinkedQueue[Batch]

  DriverManager.registerDriver(Driver)

  def url(inner: String): String = Prefix + inner

  /** The connections opened and the batches run since the last drain. */
  def drain(): (Int, Seq[Batch]) = synchronized {
    val out = Iterator.continually(batches.poll()).takeWhile(_ != null).toVector
    (connections.getAndSet(0), out)
  }

  object Driver extends java.sql.Driver {
    def acceptsURL(u: String): Boolean = u.startsWith(Prefix)
    def connect(u: String, info: Properties): Connection =
      if (!acceptsURL(u)) null
      else wrapConnection(connections.incrementAndGet(),
        DriverManager.getConnection(u.stripPrefix(Prefix), info))
    def getPropertyInfo(u: String, info: Properties) = Array.empty[java.sql.DriverPropertyInfo]
    def getMajorVersion = 1
    def getMinorVersion = 0
    def jdbcCompliant = false
    def getParentLogger = throw new java.sql.SQLFeatureNotSupportedException
  }

  private def call(target: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
    try m.invoke(target, Option(args).getOrElse(Array.empty[AnyRef]): _*)
    catch { case e: InvocationTargetException => throw e.getCause }

  private def proxy[A](iface: Class[A], h: InvocationHandler): A =
    Proxy.newProxyInstance(getClass.getClassLoader, Array[Class[_]](iface), h).asInstanceOf[A]

  private def wrapConnection(id: Int, c: Connection): Connection =
    proxy(classOf[Connection], (_: AnyRef, m: Method, args: Array[AnyRef]) =>
      call(c, m, args) match {
        case ps: PreparedStatement if m.getName == "prepareStatement" =>
          wrapStatement(id, args(0).toString, ps)
        case r => r
      })

  private def wrapStatement(conn: Int, sql: String, ps: PreparedStatement): PreparedStatement = {
    var rows = 0
    proxy(classOf[PreparedStatement], (_: AnyRef, m: Method, args: Array[AnyRef]) =>
      m.getName match {
        case "addBatch" if args == null || args.isEmpty =>
          rows += 1; call(ps, m, args)
        case "executeBatch" =>
          val t = System.nanoTime()
          val counts = ps.executeBatch()
          batches.add(Batch(conn, sql.trim, rows, counts.iterator.map(math.max(_, 0).toLong).sum,
            System.nanoTime() - t))
          rows = 0
          counts
        case _ => call(ps, m, args)
      })
  }

  /** The sink's figures from the batches of one or more writes. A chunk is
    * an UPDATE batch and the INSERT batch that follows it on the same
    * connection, as `DerbyUpsert.upsertChunk` sends them; its time is the
    * time of both batches.
    */
  def figures(conns: Int, bs: Seq[Batch]): Map[String, Any] = {
    def isUpdate(b: Batch) = b.sql.toUpperCase.startsWith("UPDATE")
    val chunkMs = bs.groupBy(_.conn).values.flatMap { own =>
      own.foldLeft(Vector.empty[Double]) { (acc, b) =>
        if (isUpdate(b) || acc.isEmpty) acc :+ b.ns / 1e6
        else acc.init :+ (acc.last + b.ns / 1e6)
      }
    }.toSeq
    val (upd, ins) = bs.partition(isUpdate)
    Map("connections" -> conns, "chunk_ms" -> chunkMs,
      "chunk_rows" -> bs.filter(isUpdate).map(_.rows),
      "update_attempts" -> upd.map(_.rows.toLong).sum,
      "update_hits" -> upd.map(_.changed).sum,
      "inserts" -> ins.map(_.changed).sum,
      "update_ms" -> upd.map(_.ns).sum / 1e6, "insert_ms" -> ins.map(_.ns).sum / 1e6)
  }
}
