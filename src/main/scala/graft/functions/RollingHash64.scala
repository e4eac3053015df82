package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: polynomial rolling hash of a string's
  * UTF-8 bytes, h_i = (31·h_{i-1} + byte_i) mod (2^31 − 1), as LongType.
  *
  * This is the document-fingerprinting primitive (content shard keys,
  * cheap near-identity pre-clustering). A native expression rather than a
  * Scala UDF because it sits in the per-row hot path of a 100 TB scan:
  * doGenCode emits a tight primitive loop inside WholeStageCodegen — no
  * row boxing, no serialization, no lambda dispatch per character — and
  * the interpreted path (nullSafeEval) stays as the fallback semantics.
  *
  * The modulus keeps every intermediate within 2^36, so the arithmetic is
  * exact in any engine's 64-bit integers; for ASCII inputs the same fold
  * over code points reproduces it in ANSI SQL (the DuckDB oracle).
  */
case class RollingHash64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"rolling_hash64 requires a string argument, got ${child.dataType}")
  override def dataType: DataType = LongType
  override def prettyName: String = "rolling_hash64"

  private final val Mod = 2147483647L

  override protected def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    var h = 0L
    var i = 0
    while (i < bytes.length) {
      h = (h * 31L + (bytes(i) & 0xffL)) % Mod
      i += 1
    }
    h
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val bytes = ctx.freshName("bytes")
      val i = ctx.freshName("i")
      val h = ctx.freshName("h")
      s"""
         |byte[] $bytes = $c.getBytes();
         |long $h = 0L;
         |for (int $i = 0; $i < $bytes.length; $i++) {
         |  $h = ($h * 31L + ($bytes[$i] & 0xffL)) % ${Mod}L;
         |}
         |${ev.value} = $h;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): RollingHash64 =
    copy(child = newChild)
}

object RollingHash64 {

  private[functions] val ident = FunctionIdentifier("rolling_hash64")
  private[functions] val info =
    new ExpressionInfo(classOf[RollingHash64].getName, "rolling_hash64")
  private[functions] val builder = (args: Seq[Expression]) => {
    require(args.length == 1, "rolling_hash64 takes exactly one argument")
    RollingHash64(args.head)
  }

  /** Imperative registration on an existing session — after this,
    * `expr("rolling_hash64(col)")` and SQL both resolve it.
    */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.registerFunction(ident, info, builder)

  /** DuckDB mirror (ASCII inputs: code points == UTF-8 bytes). */
  def sql(e: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(range(1, length($e) + 1), i -> CAST(ord(substr($e, i, 1)) AS BIGINT))), " +
      s"(a, b) -> (a * 31 + b) % 2147483647)"
}
