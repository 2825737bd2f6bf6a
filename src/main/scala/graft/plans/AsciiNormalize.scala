package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the reference's byte-level normalize
  * (`greeter_client.cc:316-321`, `isalnum || isspace` then `tolower`) as
  * ONE pass over the UTF-8 bytes — keep `a-z`, `0-9` and Java's `\s` set
  * (`' ' \t \n \x0B \f \r`), map `A-Z` to `a-z`, drop every other byte.
  * Every byte of a multi-byte UTF-8 sequence is ≥ 0x80, so every non-ASCII
  * char is dropped whole and the output is always valid ASCII.
  *
  * This is exactly `lower(regexp_replace(c, "[^a-zA-Z0-9\\s]", ""))`: the
  * regex keeps only ASCII, and on ASCII `lower` is the `A-Z` shift. The
  * regex form costs a `java.util.regex` matcher walk per row; this one is a
  * table lookup per byte. Participates in whole-stage codegen via
  * [[doGenCode]], which calls the same static [[AsciiNormalize.normalize]]
  * as interpreted eval, so both modes are bit-identical. Not registered as
  * a SQL function: `TextPipeline.normalize` is its one entry point.
  */
case class AsciiNormalize(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "ascii_normalize"
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"ascii_normalize expects a string argument, got ${child.dataType.simpleString}")

  override def nullSafeEval(input: Any): Any =
    AsciiNormalize.normalize(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.AsciiNormalize.normalize($c)")

  override protected def withNewChildInternal(newChild: Expression): AsciiNormalize =
    copy(child = newChild)
}

object AsciiNormalize {
  /** Output byte for each ASCII input byte; 0 means drop (NUL is not kept). */
  private val Out: Array[Byte] = Array.tabulate[Byte](128) { b =>
    if (b >= 'a' && b <= 'z' || b >= '0' && b <= '9' || b == ' ' || b >= 0x09 && b <= 0x0d) b.toByte
    else if (b >= 'A' && b <= 'Z') (b + ('a' - 'A')).toByte
    else 0
  }

  /** Static normalize shared by interpreted eval, generated code and the
    * RDD twin (`TextPipeline.wordCountRdd`). */
  def normalize(s: UTF8String): UTF8String = {
    val n = s.numBytes()
    val out = new Array[Byte](n)
    var k = 0
    var i = 0
    while (i < n) {
      val b = s.getByte(i)
      // bytes ≥ 0x80 are negative as a signed Byte: dropped
      if (b >= 0) {
        val o = Out(b)
        if (o != 0) { out(k) = o; k += 1 }
      }
      i += 1
    }
    UTF8String.fromBytes(out, 0, k)
  }
}
