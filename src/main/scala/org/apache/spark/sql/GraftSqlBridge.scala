package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Column ⇄ Expression bridge. Spark 4 hides Expression-backed Column
  * construction behind private[sql] (classic.ExpressionUtils); graft's
  * native expressions (DotProduct, StudentTCdf) need exactly that hook,
  * so this one-file shim lives in the sql package. It also reads the
  * few other private[sql]/private[spark] members graft needs (artifact
  * state, codegen counters). No Spark internals are re-implemented here.
  */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Release the storage blocks behind a `localCheckpoint()`ed frame.
    * `Dataset.unpersist` only consults the CacheManager, which never
    * registered a checkpoint's RDD — the blocks stay pinned until the
    * session dies. Iterative operators (Dedup.clusters) checkpoint per
    * round and must free the superseded rounds explicitly.
    */
  def unpersistCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case l: execution.LogicalRDD => l.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Whether a stream started from `s` may run its tasks under the
    * caller's class loader: true unless `s` holds session-scoped
    * artifacts (an `addArtifact` jar or class file), which only an
    * isolated loader can see. Resolves `s`'s own artifact state first,
    * under its current conf, so a stream start that turns isolation off
    * for its clone cannot leave `s` itself un-isolated.
    */
  def canShareLoader(s: SparkSession): Boolean = {
    val am = s.asInstanceOf[classic.SparkSession].artifactManager
    am.state
    // Scala-protected flag, public in bytecode: the one Spark itself
    // reads to decide whether a session's loader must be applied
    !classOf[artifact.ArtifactManager].getMethod("sessionArtifactAdded")
      .invoke(am).asInstanceOf[java.util.concurrent.atomic.AtomicBoolean].get
  }

  /** Generated classes Janino has compiled in this JVM so far (driver
    * and, in local mode, every task). */
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Nanoseconds spent compiling those classes. */
  def codegenCompileNanos: Long =
    catalyst.expressions.codegen.CodeGenerator.compileTime
}
