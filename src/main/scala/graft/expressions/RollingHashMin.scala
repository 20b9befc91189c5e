package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Rolling-hash document fingerprint (the brief's "document
  * fingerprinting (rolling hash)") as a NATIVE Catalyst expression with
  * whole-stage codegen.
  *
  * Computes `min` over the polynomial (Rabin–Karp) hashes of every k-byte
  * window of the UTF-8 text in ONE O(n) pass with an O(1) rolling update
  * — shift-tolerant (a shared k-gram anywhere yields the same candidate
  * hash), unlike [[graft.llm.TextStats.fingerprint]]'s whole-text md5.
  * The same computation via native `transform`/`substring` higher-order
  * functions would be O(n·k) AND interpreted; a Scala UDF would box every
  * row. The arithmetic is a wrapping long multiply — plain JVM
  * semantics, not ANSI SQL arithmetic.
  *
  * Texts shorter than k hash their whole content (one window).
  */
case class RollingHashMin(child: Expression, k: Int)
  extends UnaryExpression with NativeKernel {
  require(k >= 1, s"rolling_hash_min: window k must be >= 1, got $k")
  override def prettyName: String = "rolling_hash_min"
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = LongType
  override protected def helper = (RollingHashMin, "hash")
  override protected def state = Seq(k)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object RollingHashMin {
  /** Polynomial base; wrapping 64-bit arithmetic is the hash space. */
  final val B = 1000003L

  /** Min window hash of the UTF-8 bytes of `s`. */
  def hash(s: UTF8String, k: Int): Long = {
    val bytes = s.getBytes
    val n = bytes.length
    if (n == 0) return 0L
    val kk = if (n < k) n else k
    var pow = 1L
    var i = 0
    while (i < kk - 1) { pow *= B; i += 1 }
    var h = 0L
    i = 0
    while (i < kk) { h = h * B + (bytes(i) & 0xFF); i += 1 }
    var mn = h
    i = kk
    while (i < n) {
      h = (h - (bytes(i - kk) & 0xFF) * pow) * B + (bytes(i) & 0xFF)
      if (h < mn) mn = h
      i += 1
    }
    mn
  }

  def rolling_hash_min(c: Column, k: Int = 16): Column =
    NativeKernel(c)(RollingHashMin(_, k))
}
