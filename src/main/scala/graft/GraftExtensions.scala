package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.Expression
import graft.functions.{DotProduct, L2Normalize}

/** SparkSessionExtensions entry point: registers the engine's custom
  * Catalyst expressions as SQL functions so `spark.sql` users get the
  * codegen'd hot path too:
  *
  *   SparkSession.builder().withExtensions(new GraftExtensions) ...
  *   spark.sql("SELECT dot_product(embedding, other) ...")
  *
  * The engine's one planner Strategy, `BatchEmbedStrategy` (the
  * batched embedding node), is not injected here: `BatchEmbed.embedColumn`
  * installs it on the frame's own session, because sessions built
  * without these extensions (the benches) embed too. Every other
  * operator compiles to existing physical nodes.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(
      (new org.apache.spark.sql.catalyst.FunctionIdentifier("dot_product"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[DotProduct].getName, "dot_product"),
        (children: Seq[Expression]) => DotProduct(children(0), children(1))))
    ext.injectFunction(
      (new org.apache.spark.sql.catalyst.FunctionIdentifier("l2_normalize"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[L2Normalize].getName, "l2_normalize"),
        (children: Seq[Expression]) => L2Normalize(children.head)))
  }
}
