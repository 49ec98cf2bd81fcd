package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.GraftBridge

/** Polynomial rolling hash over a string's bytes — a document fingerprint
  * (builder-mandated Tier E text-analysis op).
  *
  * h = Σ byte_i · B^i  (mod 2^64, via natural long wraparound), B = 31.
  *
  * A native Catalyst `Expression` with `doGenCode` (not a UDF): fingerprints
  * sit in the hot path of 100 TB dedup scans, so the loop must stay inside
  * whole-stage codegen with zero boxing / no Scala closure dispatch.
  */
case class RollingHash(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"rolling_hash requires a string argument, got ${child.dataType}")
  override def dataType: DataType = LongType
  override def prettyName: String = "rolling_hash"

  override protected def nullSafeEval(input: Any): Any =
    RollingHash.hashBytes(input.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val bytes = ctx.freshName("bytes")
      val i = ctx.freshName("i")
      val h = ctx.freshName("h")
      s"""
         |byte[] $bytes = $c.getBytes();
         |long $h = 0L;
         |for (int $i = $bytes.length - 1; $i >= 0; $i--) {
         |  $h = $h * 31L + ($bytes[$i] & 0xffL);
         |}
         |${ev.value} = $h;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): RollingHash =
    copy(child = newChild)
}

object RollingHash {
  def hashBytes(bytes: Array[Byte]): Long = {
    var h = 0L
    var i = bytes.length - 1
    while (i >= 0) { h = h * 31L + (bytes(i) & 0xffL); i -= 1 }
    h
  }

  /** Column-level entry point: `rolling_hash($"text")`. */
  def rolling_hash(c: Column): Column =
    GraftBridge.column(RollingHash(GraftBridge.expression(c)))
}
