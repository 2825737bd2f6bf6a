package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.plans.{CosineSimilarity, CountMinSketchAgg, DotProductLong, LogHistSketchAgg, TopKStrategy, UnicodeFold, WordNgrams}

/** The engine's session extensions, installed on every session by
  * [[Sessions.build]] (`withExtensions`) — the one wiring point for:
  *  - the SQL functions `cosine_sim`, `dot_i64`, `word_ngrams`,
  *    `cms_sketch`, `unicode_fold` and `loghist_sketch`;
  *  - the `table_changes(...)` table-valued function;
  *  - the [[graft.plans.TopKPerGroupPlan]] planner strategy.
  *
  * No optimizer rule is injected. [[graft.plans.MvRewrite]] is armed on
  * one session clone by registering an MV on it, because the MV gates use
  * the un-armed base session as the control their answers are compared
  * against. [[graft.plans.RewriteRankFilterToTopK]] stays opt-in, so the
  * plans of hand-written `row_number` windows do not change under it.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, cls, builder) =>
      e.injectFunction((FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), builder))
    }
    // SELECT * FROM table_changes('cat.ns.t', start[, end])
    e.injectTableFunction(graft.sources.v2.TableChanges.functionDescription)
    e.injectPlannerStrategy(_ => TopKStrategy)
  }
}

object GraftExtensions {
  /** (SQL name, expression class, builder) of every injected function. */
  private val functions: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("cosine_sim", classOf[CosineSimilarity], exprs => CosineSimilarity(exprs(0), exprs(1))),
    ("dot_i64", classOf[DotProductLong], exprs => DotProductLong(exprs(0), exprs(1))),
    ("word_ngrams", classOf[WordNgrams], WordNgrams.fromExprs),
    ("cms_sketch", classOf[CountMinSketchAgg], exprs => CountMinSketchAgg(exprs.head)),
    ("unicode_fold", classOf[UnicodeFold], exprs => UnicodeFold(exprs.head)),
    ("loghist_sketch", classOf[LogHistSketchAgg], exprs => LogHistSketchAgg(exprs.head)))
}
