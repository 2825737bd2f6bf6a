package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, IntegerType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst GENERATOR for word n-gram shingling — the custom-UDTF
  * leg of the extension surface (scalar kernel: [[CosineSimilarity]],
  * typed aggregate: `TopKAggregator`, whole operator: `TopKPerGroupExec`,
  * and now a table-generating function).
  *
  * `word_ngrams(words, n)` emits one `(pos, shingle)` row per n-length
  * sliding window over the word array. The composable formulation —
  * `posexplode(transform(sequence(0, size(words) - n), i ->
  * array_join(slice(words, i + 1, n), ' ')))` — evaluates its lambda
  * interpreted and materializes the full index + shingle arrays per doc
  * before exploding; this generator builds each shingle with one
  * `concatWs` and streams rows into `GenerateExec` with no intermediate
  * array values. MEASURED (single-JVM alternating A/B, sf0.1, 250k
  * shingles): 0.27 s vs 0.34 s per full pass — a real but modest ~1.3×
  * (the interpreted lambda runs per doc here, not per aggregate column,
  * so this stage never hit the 15-25× worst case BACKLOG records for
  * signature-wide HOFs).
  *
  * Shingling semantics match `Dedup.shinglesRaw` exactly: duplicates kept
  * (MinHash needs the raw stream), short arrays (< n words) emit nothing,
  * empty-string words participate like any other word.
  */
case class WordNgrams(child: Expression, n: Int)
    extends UnaryExpression with Generator with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if n >= 1 => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"word_ngrams expects (array<string>, n >= 1), got ${child.dataType.simpleString}, n=$n")
  }

  override def elementSchema: StructType = new StructType()
    .add("pos", IntegerType, nullable = false)
    .add("shingle", StringType, nullable = false)

  override def prettyName: String = "word_ngrams"

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val data = child.eval(input)
    if (data == null) return Nil
    val arr = data.asInstanceOf[ArrayData]
    val len = arr.numElements()
    if (len < n) return Nil
    val words = new Array[UTF8String](len)
    var i = 0
    while (i < len) { words(i) = arr.getUTF8String(i); i += 1 }
    val sep = WordNgrams.Sep
    (0 to len - n).iterator.map { p =>
      val slice = java.util.Arrays.copyOfRange(words, p, p + n)
      InternalRow(p, UTF8String.concatWs(sep, slice: _*))
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WordNgrams {
  private val Sep: UTF8String = UTF8String.fromString(" ")

  /** Expression builder for registry injection: the n argument must be a
    * foldable integer literal (evaluated at plan time).
    */
  def fromExprs(exprs: Seq[Expression]): WordNgrams = {
    require(exprs.length == 2 && exprs(1).foldable,
      "word_ngrams(words, n) requires a literal n")
    val v = exprs(1).eval()
    require(v != null && v.isInstanceOf[Number],
      s"word_ngrams(words, n) requires a non-null integer literal n, got $v")
    WordNgrams(exprs(0), v.asInstanceOf[Number].intValue())
  }}
