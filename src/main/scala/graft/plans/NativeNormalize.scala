package graft.plans

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Native Unicode text canonicalization — the normalization pass an LLM
  * corpus pipeline runs before hashing, deduplication, or tokenization so
  * that byte-different encodings of the SAME text ("é" vs "e"+U+0301)
  * cannot defeat exact dedup, shingle hashing, or vocabulary counts.
  *
  *  - `graft_nfc(s)`: Unicode NFC canonical composition
  *    (java.text.Normalizer). The cross-engine mirror is DuckDB's
  *    `nfc_normalize` — both implement the same Unicode canonical
  *    composition, so results are byte-equal.
  *  - `graft_strip_accents(s)`: NFD decomposition, drop every non-spacing
  *    combining mark (Unicode category Mn), recompose NFC — "déjà" →
  *    "deja", "ñ" → "n", "a"+U+0301 → "a". Mirror: DuckDB
  *    `strip_accents` (utf8proc stripmark), identical on Latin accented
  *    letters and combining marks; parity is asserted by the driver
  *    oracle on exactly the planted character set (the q73 regex-parity
  *    discipline: use the subset where both engines provably agree).
  *
  * Why native (the [[NativeHash48]] pattern): there is no Column-algebra
  * form of Unicode normalization at all — the alternatives are a Scala
  * UDF (boxing + encoder round-trip per row, opaque to codegen) or
  * `translate` with a hand-enumerated accent table (wrong the moment a
  * combining mark appears, and table size grows without bound).
  * StaticInvoke stays inside whole-stage codegen as one direct static
  * call. Both methods take an O(n) pure-ASCII fast path that returns the
  * input UTF8String unchanged — ASCII dominates real corpora, so the
  * common row never allocates, never builds a String, and never touches
  * the Normalizer.
  */
object NativeNormalize {

  /** All-ASCII iff the byte count equals the char count (any multi-byte
    * UTF-8 sequence makes numBytes > numChars).
    */
  private def isAscii(s: UTF8String): Boolean = s.numBytes == s.numChars

  def nfc(s: UTF8String): UTF8String = {
    if (isAscii(s)) return s
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }

  def stripAccents(s: UTF8String): UTF8String = {
    if (isAscii(s)) return s
    val d = java.text.Normalizer.normalize(s.toString,
      java.text.Normalizer.Form.NFD)
    val sb = new java.lang.StringBuilder(d.length)
    var i = 0
    while (i < d.length) {
      val cp = d.codePointAt(i)
      if (Character.getType(cp) != Character.NON_SPACING_MARK)
        sb.appendCodePoint(cp)
      i += Character.charCount(cp)
    }
    UTF8String.fromString(java.text.Normalizer.normalize(sb.toString,
      java.text.Normalizer.Form.NFC))
  }

  private[plans] def builder(method: String)(args: Seq[Expression]): Expression = {
    require(args.length == 1, s"graft_$method(s) takes 1 argument")
    StaticInvoke(
      classOf[NativeNormalize.type],
      StringType,
      method,
      args,
      inputTypes = Seq(StringType),
      propagateNull = true,
      returnNullable = false)
  }
}
