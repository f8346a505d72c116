package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode text normalization for corpus preprocessing — the first
  * pass of every real ingestion pipeline (crawled text arrives in
  * mixed normalization forms: the same visible word can be NFC or
  * NFD, making exact dedup, token counts and vocabulary all see
  * phantom variants). Two codegen'd expressions:
  *
  *  - `nfc_normalize`: canonical composition (NFC) via
  *    `java.text.Normalizer` — "é" as `e` + combining acute becomes
  *    the single composed codepoint, so byte-level equality matches
  *    visual equality.
  *  - `strip_accents`: canonical decomposition, drop every combining
  *    mark (Unicode category M), recompose — "Café" → "Cafe", "ñ" →
  *    "n", while non-decomposable letters (ø, ß, œ) pass through.
  *    The same semantics as DuckDB's utf8proc-backed `strip_accents`,
  *    which is what keeps the declared query hash-checkable.
  *
  * Both are single-pass static calls dispatched from generated code
  * (the codec-expression shape): map-side, no shuffle, linear in
  * input splits — and both short-circuit to the input for pure-ASCII
  * strings, the overwhelmingly common case in a large corpus.
  */
object UnicodeNorm {

  /** ASCII fast path: normalization is the identity on ASCII, and a
    * byte scan is far cheaper than a Normalizer pass.
    */
  private[functions] def isAscii(s: UTF8String): Boolean = {
    val n = s.numBytes()
    var i = 0
    while (i < n) {
      if ((s.getByte(i) & 0x80) != 0) return false
      i += 1
    }
    true
  }
}

case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "nfc_normalize"

  override def nullSafeEval(input: Any): Any =
    NfcNormalize.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.NfcNormalize.compute($c)")

  override protected def withNewChildInternal(
      newChild: Expression): NfcNormalize = copy(child = newChild)
}

object NfcNormalize {

  /** Called from generated code; must stay public + static-shaped. */
  def compute(s: UTF8String): UTF8String =
    if (UnicodeNorm.isAscii(s)) s
    else UTF8String.fromString(java.text.Normalizer.normalize(
      s.toString, java.text.Normalizer.Form.NFC))
}

case class StripAccents(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "strip_accents"

  override def nullSafeEval(input: Any): Any =
    StripAccents.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.StripAccents.compute($c)")

  override protected def withNewChildInternal(
      newChild: Expression): StripAccents = copy(child = newChild)
}

object StripAccents {

  private val Marks = java.util.regex.Pattern.compile("\\p{M}+")

  /** Called from generated code; must stay public + static-shaped. */
  def compute(s: UTF8String): UTF8String =
    if (UnicodeNorm.isAscii(s)) s
    else {
      val nfd = java.text.Normalizer.normalize(s.toString,
        java.text.Normalizer.Form.NFD)
      val stripped = Marks.matcher(nfd).replaceAll("")
      UTF8String.fromString(java.text.Normalizer.normalize(stripped,
        java.text.Normalizer.Form.NFC))
    }
}
