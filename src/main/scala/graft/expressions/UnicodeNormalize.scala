package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode text normalization as a native codegen'd Catalyst expression:
  * NFC composition (`strip = false`) or accent stripping (`strip = true`
  * — NFD-decompose, drop combining marks, NFC-recompose), the standard
  * canonicalization step before tokenizing / hashing / deduplicating a
  * multilingual corpus (the same document crawled twice can arrive in
  * composed and decomposed forms and would otherwise hash differently).
  * `compat = true` switches both regimes to the COMPATIBILITY forms
  * (NFKC / NFKD) — ligatures split (ﬁ→fi), fullwidth and circled forms
  * fold (Ａ→A, ①→1), compatibility spaces become U+0020 — the
  * SentencePiece nmt-NFKC-family default a production tokenizer
  * normalizes with before segmenting.
  *
  * A pure-ASCII input (the common case in an English-heavy corpus) is
  * returned untouched after a byte scan — no decode, no `Normalizer`
  * call, no allocation — so the expression costs one branchy pass where
  * it can and the full ICU-free `java.text.Normalizer` path only where
  * non-ASCII bytes actually appear.
  *
  * Accent stripping drops NON_SPACING_MARK characters after canonical
  * decomposition — 'á'→'a', 'ç'→'c', 'ñ'→'n'. Characters whose accent is
  * not a combining mark under NFD (e.g. 'ø', 'đ') are left as-is; that
  * is the Unicode-faithful behavior and callers wanting locale-style
  * transliteration need a mapping table, not normalization.
  */
case class UnicodeNormalize(child: Expression, strip: Boolean,
                            compat: Boolean = false)
  extends UnaryExpression with NativeKernel {
  override def prettyName: String =
    if (strip) { if (compat) "strip_accents_nfkc" else "strip_accents" }
    else if (compat) "unicode_nfkc" else "unicode_nfc"
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = StringType
  override protected def helper = (UnicodeNormalize, "normalize")
  override protected def state = Seq(strip, compat)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object UnicodeNormalize {

  def normalize(u: UTF8String, strip: Boolean, compat: Boolean = false): UTF8String = {
    // ASCII fast path: ASCII is normalization-invariant under all four
    // forms (NFC/NFD/NFKC/NFKD) and accent-free already
    var i = 0
    val n = u.numBytes()
    var ascii = true
    while (ascii && i < n) { if (u.getByte(i) < 0) ascii = false; i += 1 }
    if (ascii) return u
    val s = u.toString
    val deForm = if (compat) java.text.Normalizer.Form.NFKD
                 else java.text.Normalizer.Form.NFD
    val reForm = if (compat) java.text.Normalizer.Form.NFKC
                 else java.text.Normalizer.Form.NFC
    val out =
      if (strip) {
        val nfd = java.text.Normalizer.normalize(s, deForm)
        val sb = new java.lang.StringBuilder(nfd.length)
        var j = 0
        while (j < nfd.length) {
          val ch = nfd.charAt(j)
          if (Character.getType(ch) != Character.NON_SPACING_MARK) sb.append(ch)
          j += 1
        }
        java.text.Normalizer.normalize(sb, reForm)
      } else java.text.Normalizer.normalize(s, reForm)
    UTF8String.fromString(out)
  }

  /** NFC-compose. */
  def unicode_nfc(c: Column): Column = NativeKernel(c)(UnicodeNormalize(_, strip = false))

  /** NFD-decompose, drop combining marks, NFC-recompose. */
  def strip_accents(c: Column): Column = NativeKernel(c)(UnicodeNormalize(_, strip = true))

  /** NFKC compatibility composition — the tokenizer-regime normalizer
    * (SentencePiece's nmt-NFKC family): ligatures split, fullwidth/
    * circled/unit forms fold, compatibility spaces become U+0020.
    */
  def unicode_nfkc(c: Column): Column =
    NativeKernel(c)(UnicodeNormalize(_, strip = false, compat = true))
}
