package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: Unicode ACCENT FOLDING — canonical (NFD)
  * decomposition followed by combining-mark removal (`résumé` → `resume`,
  * `Ñandú` → `Nandu`), the canonical text-normalization step every
  * multilingual training-data pipeline runs before tokenization /
  * fingerprinting (Unicode TR#15; the "strip_accents" of scikit-learn /
  * Lucene ASCIIFolding / DuckDB). Canonical, not compatibility (NFKD),
  * decomposition: DuckDB's `strip_accents` keeps `ª`, `²`, NBSP, ligatures
  * and full-width forms, and so does this. No Spark built-in exists; the UDF
  * alternative would box every row and block whole-stage codegen — this
  * expression participates in codegen via [[doGenCode]] (the generated
  * code calls the same static fold as the interpreted path, so both modes
  * are bit-identical). ASCII fast path: strings with no high code points
  * return the input UTF8String UNCHANGED (zero allocation) — at 100 TB
  * the overwhelmingly-ASCII corpus pays nothing for the capability.
  *
  * Reference tie-in: generalizes the reference's byte-level normalize
  * (`greeter_client.cc:317-331` strips non-alphanumeric ASCII) to the
  * Unicode reality of web-scale corpora.
  */
case class UnicodeFold(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "unicode_fold"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"unicode_fold expects a string argument, got ${child.dataType.simpleString}")

  override def nullSafeEval(input: Any): Any =
    UnicodeFold.fold(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.UnicodeFold.fold($c)")

  override protected def withNewChildInternal(newChild: Expression): UnicodeFold =
    copy(child = newChild)
}

object UnicodeFold {
  /** Static fold shared by interpreted eval and generated code. */
  def fold(s: UTF8String): UTF8String = {
    // ASCII fast path: NFD is identity on ASCII and there are no marks
    // to strip — return the input buffer untouched
    if (isAscii(s)) s
    else {
      val n = java.text.Normalizer.normalize(s.toString, java.text.Normalizer.Form.NFD)
      val sb = new java.lang.StringBuilder(n.length)
      var i = 0
      while (i < n.length) {
        val cp = n.codePointAt(i)
        val t = Character.getType(cp)
        if (t != Character.NON_SPACING_MARK && t != Character.COMBINING_SPACING_MARK &&
            t != Character.ENCLOSING_MARK) {
          sb.appendCodePoint(cp)
        }
        i += Character.charCount(cp)
      }
      UTF8String.fromString(sb.toString)
    }
  }

  private def isAscii(s: UTF8String): Boolean = {
    val n = s.numBytes()
    var i = 0
    while (i < n) {
      if ((s.getByte(i) & 0x80) != 0) return false
      i += 1
    }
    true
  }
}
