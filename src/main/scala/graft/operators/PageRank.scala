package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Integer PageRank (op 317; TextRank, op 326, is its weighted case):
  * ranks live on the 1e-9 grid as longs, an edge carries
  * `(rank(src) · wt) div st` of its source's rank, and damping 0.85 is
  * `·17 div 20` — exact long arithmetic with NO float summation, so any
  * engine/partitioning replays it bit-for-bit (the dropped remainders
  * are the standard integer-PageRank mass leak; a SQL oracle's `//`
  * drops the same ones). Unweighted graphs pass wt = 1, st = out-degree.
  *
  * `nodes` (node): every node once; `edges` (src, dst, wt, st): st =
  * Σ wt over src's out-edges. r0 = 1e9 div n, then each of 3 rounds
  * r' = 1.5e8 div n + 17·inflow div 20. Returns (node, rq).
  *
  * The edges, the node list (n riding each row) and every round are
  * localCheckpointed — 5 eager jobs — so no round re-derives
  * the graph build or an earlier round.
  */
object PageRank {

  def integerRank(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val es = edges.localCheckpoint()
    val ns = nodes.crossJoin(broadcast(nodes.agg(count(lit(1)).as("nn"))))
      .localCheckpoint()
    val r0 = ns.select(col("node"), col("nn"),
      expr("1000000000 div nn").as("rq"))
    val rF = (1 to 3).foldLeft(r0) { (rank, _) =>
      val inflow = es
        .join(rank.select(col("node").as("src"), col("rq")), "src")
        .withColumn("c", expr("(rq * wt) div st"))
        .groupBy(col("dst")).agg(sum(col("c")).as("inflow"))
      val next = ns
        .join(inflow, col("node") === col("dst"), "left")
        .select(col("node"), col("nn"),
          (expr("150000000 div nn") +
            expr("(17 * coalesce(inflow, 0L)) div 20")).as("rq"))
        .localCheckpoint()
      org.apache.spark.sql.GraftSqlBridge.unpersistCheckpoint(rank)
      next
    }
    rF.select(col("node"), col("rq"))
  }
}
