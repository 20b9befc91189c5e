package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** THE portable 32-bit hash — `conv(substring(md5(c), 1, 8), 16, 10)`
  * (the first 8 md5 hex digits as a u32-ranged long) — computed
  * directly: digest once into bytes, take the first 4 bytes big-endian.
  * Identical value for every input (the hex render, substring and
  * base-16 parse are just a detour through strings); Md5U32Spec pins
  * the equivalence property.
  *
  * Why it exists: the Catalyst chain pays a MessageDigest provider
  * lookup, a 32-char hex render, a substring and an interpreted base
  * conversion per row — on the explode'd token/shingle streams that
  * feed feature hashing, DSIR bigrams, minhash and every
  * hash-routing decision, that chain was the scan-stage hot spot. Here
  * the digest object is thread-local (reset per call) and no string is
  * ever built.
  */
case class Md5U32(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"md5_u32 needs a string child, got ${child.dataType}")

  override def prettyName: String = "md5_u32"

  override def nullSafeEval(input: Any): Any =
    java.lang.Long.valueOf(Md5U32.hash(input.asInstanceOf[UTF8String]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.Md5U32.hash($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Md5U32 {
  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 4 md5 bytes of the UTF-8 input, big-endian, as an unsigned
    * 32-bit value in a long — bit-identical to parsing the first 8 hex
    * digits of `md5(input)` in base 16.
    */
  def hash(s: UTF8String): Long = {
    val d = md.get()
    d.reset()
    val dig = d.digest(s.getBytes)
    ((dig(0) & 0xffL) << 24) | ((dig(1) & 0xffL) << 16) |
      ((dig(2) & 0xffL) << 8) | (dig(3) & 0xffL)
  }

  def md5_u32(c: Column): Column = {
    val shim = org.apache.spark.sql.GraftColumnShim
    shim.column(Md5U32(shim.expression(c)))
  }
}
