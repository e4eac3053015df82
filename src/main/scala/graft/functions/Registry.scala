package graft.functions

import org.apache.spark.sql.SparkSession

/** One-stop imperative registration of the engine's custom expression
  * surface — the one registration path: [[graft.Tables]] calls
  * [[registerAll]] on every session before a table is read.
  * Registration is idempotent — re-registering replaces the same entry.
  */
object Registry {

  /** Typed extraction of a foldable int argument — a null or non-integer
    * literal gets a contract error at analysis, not a bare NPE/CCE.
    */
  private[functions] def literalInt(e: org.apache.spark.sql.catalyst.expressions.Expression,
                                    fn: String, role: String): Int =
    e.eval() match {
      case n: Number => n.intValue()
      case other => throw new IllegalArgumentException(
        s"$fn requires a non-null integer literal for $role, got: $other")
    }

  /** Registration is once-per-session: guarded on the last function so
    * the per-table-load call site costs one registry lookup, not four
    * synchronized writes per Tables() call.
    */
  def registerAll(spark: SparkSession): Unit =
    if (!spark.sessionState.functionRegistry.functionExists(NfcNormalize.ident)) {
      RollingHash64.register(spark)
      MinHashMd5.register(spark)
      SignBits.register(spark)
      DotExactDec.register(spark)
      WordShingles.register(spark)
      DotDouble.register(spark)
      GraphemeCount.register(spark)
      Codepoints.register(spark)
      // newest last: the guard probes this one, so a session registered
      // by older code re-registers the full (grown) surface
      NfcNormalize.register(spark)
    }
}
