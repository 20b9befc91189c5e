package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The PORTABLE (md5-hex-digit) 64-bit SimHash of an ALREADY-NORMALIZED
  * string — [[graft.llm.Dedup.simhash]]'s whole per-document
  * computation as ONE per-row pass: distinct words, one md5 per word,
  * 64 integer votes from the first-16-hex-digit nibble bits, sign-pack.
  *
  * What it replaces (and why it is exactly equal):
  *   - `explode(array_distinct(split(norm, " ")))` → byte-scan split on
  *     0x20 (the regex " " matches exactly one space byte; UTF-8 never
  *     embeds 0x20 in a multi-byte sequence) keeping leading/trailing
  *     empty words (split's limit −1 semantics), dedup via a hash set —
  *     each DISTINCT word votes exactly once, order-free integer sums;
  *   - `conv(substring(md5(w), c+1, 1), 16, 10)` for c = 0…15 → the
  *     nibbles of the digest's first 8 bytes (even c = high nibble of
  *     byte c/2, odd c = low);
  *   - vote i: `((digit[i/4] >> (i%4)) & 1) == 1 ? +1 : −1`, bucket bit
  *     i set iff the vote sum is > 0, bit 63 landing in the sign bit
  *     via `1L << 63` — all verbatim.
  *
  * Null text → NULL (the caller filters those rows out, replicating the
  * old groupBy's absent-row behavior for null documents — a non-null
  * normalized string always produces ≥ 1 word, "" included, so row
  * presence matches exactly). CALLER CONTRACT (same as the old
  * aggregation only for id-unique inputs, which every caller is): one
  * output row per input row.
  *
  * This removes the explode (corpus × words row blow-up), the 16
  * hex-digit projections per word, and the 64-conditional-sum
  * per-id hash aggregation — the whole fingerprint is narrow and
  * shuffle-free.
  */
case class SimhashMd5(child: Expression) extends UnaryExpression with NativeKernel {
  override def prettyName: String = "simhash_md5"
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = LongType
  override protected def helper = (SimhashMd5, "simhash")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object SimhashMd5 {
  private val digestTl = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def simhash(norm: UTF8String): Long = {
    val bytes = norm.getBytes
    val votes = new Array[Int](64)
    val seen = new java.util.HashSet[UTF8String]()
    val md = digestTl.get()
    var start = 0
    var i = 0
    val n = bytes.length
    while (i <= n) {
      if (i == n || bytes(i) == 0x20) {
        val w = UTF8String.fromBytes(bytes, start, i - start)
        if (seen.add(w)) {
          md.reset()
          md.update(bytes, start, i - start)
          val d = md.digest()
          // first 8 digest bytes = hex digits 0..15; bit b of the
          // word's hash = bit (b % 4) of hex digit (b / 4)
          var b = 0
          while (b < 64) {
            val c = b >> 2
            val digit =
              if ((c & 1) == 0) (d(c >> 1) >> 4) & 0xF
              else d(c >> 1) & 0xF
            votes(b) += (if (((digit >> (b & 3)) & 1) == 1) 1 else -1)
            b += 1
          }
        }
        start = i + 1
      }
      i += 1
    }
    var packed = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) packed |= (1L << b)
      b += 1
    }
    packed
  }

  def simhash_md5(norm: Column): Column = NativeKernel(norm)(SimhashMd5(_))
}
