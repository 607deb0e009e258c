package graft

import org.apache.spark.sql.SparkSession

/** The session settings every graft main and the test fixture share. */
object GraftSession {
  /** `local[cpus]` with one shuffle partition per core, the UTC session
    * zone, nanosecond parquet timestamps read as Long (Tables.load
    * rebuilds them), and the UI off. InferFiltersFromGenerate is
    * excluded: it turns every explode(f(x)) into a pushed-down
    * size(f(x)) > 0 filter that RE-EVALUATES f per row — pure overhead
    * for the shingle/token/band pipelines here.
    */
  def builder(cpus: String): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.optimizer.excludedRules",
      "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
    .config("spark.ui.enabled", "false")
}
