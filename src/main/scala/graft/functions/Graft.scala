package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, Literal}
import org.apache.spark.sql.types.DoubleType

import graft.expressions.{DotProduct, ShingleMinHash, StudentTCdf, WordShingles}

/** Session-level registration of graft's native Catalyst expressions so
  * they're callable from SQL / `expr(...)` — e.g. `t_cdf(x, df)`,
  * `graft_dot(a, b)`, `word_shingles(text, 3)`,
  * `shingle_min_hash(text, 5)`.
  * Idempotent; call once per session (queries call it defensively).
  */
object Graft {
  def register(spark: SparkSession): Unit = {
    sqlFunctions.foreach { case (name, _, build) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, build, "built-in")
    }
    if (!spark.experimental.extraOptimizations.contains(graft.plans.SquareRewriteRule)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.SquareRewriteRule
    }
  }

  /** graft's SQL functions as (name, expression class, builder): the one
    * table both [[register]] and [[graft.GraftExtensions]] install.
    */
  private[graft] val sqlFunctions: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("t_cdf", classOf[StudentTCdf],
      exprs => StudentTCdf(Cast(exprs(0), DoubleType), Cast(exprs(1), DoubleType))),
    ("graft_dot", classOf[DotProduct], exprs => DotProduct(exprs(0), exprs(1))),
    ("word_shingles", classOf[WordShingles],
      exprs => WordShingles(exprs(0), intLit(exprs(1), "word_shingles width"))),
    ("shingle_min_hash", classOf[ShingleMinHash],
      exprs => ShingleMinHash(exprs(0), intLit(exprs(1), "shingle_min_hash width"))))

  /** Width arguments are plan-time constants (they select the generated
    * kernel), so the SQL form requires an integer literal.
    */
  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got ${other.sql}")
  }

  /** Probabilistic momentum (reference ratios.py:121 / src/lib.rs:8):
    * t.cdf(IR, df = n-1) where IR = mean(a-b)/std(a-b). SQL snippet to
    * use inside an aggregation over columns `ra`, `rb`.
    */
  val probMomSql: String =
    "t_cdf(avg(ra - rb) / stddev_samp(ra - rb), cast(count(ra - rb) - 1 as double))"
}
