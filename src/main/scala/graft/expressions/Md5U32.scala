package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
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
case class Md5U32(child: Expression) extends UnaryExpression with NativeKernel {
  override def prettyName: String = "md5_u32"
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = LongType
  override protected def helper = (Md5U32, "hash")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
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

  def md5_u32(c: Column): Column = NativeKernel(c)(Md5U32(_))
}
