package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{Registry, RelQueries}

/** Driver contract: every query's DataFrame builder and its DuckDB
  * oracle, by name. Each query is registered once, builder and oracle
  * side by side, in its family's object under [[graft.queries]]; see
  * that package for where a query lives and the oracle-parity
  * conventions.
  */
object SparkEntry {

  /** Per-tag replay phase timings (seconds), recorded by the streaming
    * replay harness for the bench: `stage` = tempdir + source-file
    * staging, `wall` = stream start → termination summed over the tag's
    * runs, `addBatch` = Σ micro-batch addBatch durations from the
    * progress log (the actual operator execution — wall minus addBatch
    * is AvailableNow startup/checkpoint infra). Bench clears this before
    * each query and reads it after, so a streaming query's record can
    * split harness cost from engine cost.
    */
  val replayStats =
    scala.collection.concurrent.TrieMap[String, (Double, Double, Double)]()

  /** Non-streaming setup cost (sec) a query pays at build time before
    * its timed plan runs — today the bucketed CTAS writes of
    * rel_bucketed_join (at scale that layout is written ONCE per lake
    * refresh; the join is what runs per query). Bench clears and reads
    * this per rep so the record splits setup from the operator cost.
    */
  val setupStats = scala.collection.concurrent.TrieMap[String, Double]()

  /** Flagship: TPC-H-Q1-shaped pricing summary on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    RelQueries.relPricingSummary(spark, "/root/testdata/sf0.001")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Registry.queries

  val oracleSql: Map[String, String] = Registry.oracleSql
}
