package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.expressions.DotProduct
import graft.functions.SMAX

/** Lloyd's k-means and nearest-centroid search over centroid sets held
  * on ONE row — the shared engine of [[Cluster.kmeans]] and [[Pq]]'s
  * IVF cells (one group each) and of [[Pq]]'s per-subspace codebooks
  * (group = `sub`).
  *
  * The centroid row has one column, `cs`: every centroid as
  * struct(g, cid, cv, cn2 = |cv|²), sorted by (g, cid). Points are
  * (id, g, x) rows; each one crosses the broadcast row and scores the
  * centroids of its own group as `_s = cn2 − 2·x·cv` (|x|² is constant
  * per point). The argmin is the smallest struct(_s, cid) under Spark's
  * ordering: distance ties go to the lowest cid, NaN sorts last and
  * −0.0 equals 0.0. Assignment is map-only: the points cross the one
  * broadcast row, and nothing shuffles by point.
  *
  * Scale rule: the centroid row is k·dim doubles copied to every task,
  * and each point scores every centroid of its group, so k is bounded
  * by [[graft.functions.SMAX]] and checked before any job runs.
  */
private[operators] object Lloyd {

  /** The `k` lowest-id rows of `v`: the seed rule of every centroid set. */
  def seeds(v: DataFrame, k: Int): DataFrame = {
    require(k >= 1 && k <= SMAX,
      s"centroid count $k is outside 1..SMAX = $SMAX")
    v.orderBy(col("id")).limit(k)
  }

  /** The one-row centroid table of (g, cid, cv) rows. */
  def centroidRow(cent: DataFrame): DataFrame =
    cent.agg(array_sort(collect_list(struct(col("g"), col("cid"), col("cv"),
      DotProduct(col("cv"), col("cv")).as("cn2")))).as("cs"))

  /** struct(_s, cid) for every centroid of group `g`, against point `x`;
    * reads the centroid row's `cs` column.
    */
  def scores(x: Column, g: Column): Column =
    transform(filter(col("cs"), c => c("g") === g), c =>
      struct((c("cn2") - lit(2.0) * DotProduct(x, c("cv"))).as("_s"),
        c("cid").as("cid")))

  /** `pts` (id, g, x) with `_m` = struct(_s, cid) of the nearest
    * centroid of its group in the centroid row `cs`.
    */
  def assign(pts: DataFrame, cs: DataFrame): DataFrame =
    pts.crossJoin(broadcast(cs))
      .select(col("*"), array_min(scores(col("x"), col("g"))).as("_m"))
      .drop("cs")

  /** The centroid row after `iters` Lloyd updates of `seeds` (g, cid, cv)
    * over `pts` (id, g, x). Each update sums 1e-6-quantized longs per
    * component (order-independent, SURVEY §6) and divides once in
    * double; a centroid that loses all its points drops out.
    */
  def train(pts: DataFrame, seeds: DataFrame, iters: Int): DataFrame =
    (1 to iters).foldLeft(centroidRow(seeds)) { (cs, _) =>
      centroidRow(assign(pts, cs)
        .select(col("g"), col("_m.cid").as("cid"),
          posexplode(col("x")).as(Seq("pos", "val")))
        .select(col("g"), col("cid"), col("pos"),
          floor(col("val") * 1e6 + 0.5).cast("long").as("qv"))
        .groupBy(col("g"), col("cid"), col("pos"))
        .agg(sum(col("qv")).as("sq"), count(lit(1)).as("cnt"))
        .groupBy(col("g"), col("cid"))
        .agg(transform(array_sort(collect_list(struct(col("pos"),
            (col("sq").cast("double") / col("cnt") / 1e6).as("comp")))),
          s => s.getField("comp")).as("cv")))
    }
}
