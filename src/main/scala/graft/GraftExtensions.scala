package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SparkSessionExtensions entry point: registers graft's native
  * expressions as SQL functions so pure-SQL users get them too:
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *
  * SQL surface: t_cdf(t, df), graft_dot(a, b), word_shingles(text, w),
  * shingle_min_hash(text, w).
  * (Programmatic callers can instead use graft.functions.Graft.register
  * or the typed Column APIs.)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => graft.plans.SquareRewriteRule)
    graft.functions.Graft.sqlFunctions.foreach { case (name, cls, build) =>
      ext.injectFunction(
        (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build))
    }
  }
}
