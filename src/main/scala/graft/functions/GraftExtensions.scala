package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point for graft's native expressions —
  * the deployment-grade registration path:
  *
  *   --conf spark.sql.extensions=graft.functions.GraftExtensions
  *   // as every graft main sets it ([[graft.GraftSession]]), or
  *   // builder.withExtensions(new GraftExtensions)
  *
  * (The per-session `VectorFunctions.register`/`TextFunctions.register`
  * helpers register the same functions on an already-built session, which
  * the query registry uses since the driver owns session construction.)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def fn(name: String, builder: Seq[Expression] => Expression)
      : (FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder) =
    (new FunctionIdentifier(name),
      new ExpressionInfo("graft.functions", name),
      builder)

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(fn("dot_product", { exprs =>
      require(exprs.length == 2, "dot_product(a, b)")
      DotProduct(exprs.head, exprs(1))
    }))
    ext.injectFunction(fn("md5h61", { exprs =>
      require(exprs.length == 1, "md5h61(bytes)")
      Md5Hash61(exprs.head)
    }))
    ext.injectFunction(fn("pq_encode", PqEncodeCodes.fromExprs))
    ext.injectFunction(fn("distinct_shingles", { exprs =>
      require(exprs.length == 2, "distinct_shingles(tokens, n)")
      val n = exprs(1).eval(org.apache.spark.sql.catalyst.InternalRow.empty)
        .asInstanceOf[Int]
      DistinctShingles(exprs.head, n)
    }))
    // top-k-per-group: declarative row_number filter -> bounded-heap exec
    ext.injectOptimizerRule(_ => graft.plans.RewriteTopKPerGroup)
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerGroupStrategy)
  }
}
