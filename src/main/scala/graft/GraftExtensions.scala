package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SparkSessionExtensions entry point: makes every graft native function
  * available to plain SQL on any session built with
  * `.withExtensions(new GraftExtensions)` (or
  * `spark.sql.extensions=graft.GraftExtensions`):
  *
  * {{{
  *   SELECT cosine_distance(a.embedding, b.embedding) FROM ...
  *   SELECT topk_by_distance(dist, id, 10) FROM ... GROUP BY qid
  *   SELECT minhash_text(text, 2, 128, 42) FROM docs
  * }}}
  *
  * For sessions we don't construct, [[graft.functions.registerAll]] does the
  * same registration at runtime. Both share one builder table.
  *
  * It also injects [[graft.plans.TagPromotionRule]]. It registers no
  * planner strategy: the operators that build graft's logical nodes call
  * [[graft.plans.install]], so those nodes plan on every session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    graft.functions.builders.foreach { case (name, builder) =>
      e.injectFunction(
        (FunctionIdentifier(name), new ExpressionInfo("graft", name), builder))
    }
    e.injectOptimizerRule(_ => graft.plans.TagPromotionRule)
  }
}
