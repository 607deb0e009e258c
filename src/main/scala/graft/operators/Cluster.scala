package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.expressions.DotProduct

/** Embedding clustering for corpus analysis (SURVEY §2 op 85):
  * fixed-iteration Lloyd's k-means over an embedding column, the
  * standard tool for topic bucketing / diversity sampling / semantic
  * sharding of a training corpus (and the index-training step of IVF,
  * [[Similarity.ivfTopK]]).
  *
  * Deterministic by construction so a SQL oracle replays it exactly:
  * seeds are the k lowest-id vectors; assignment breaks distance ties
  * on the lowest centroid id; centroid updates sum 1e-6-quantized
  * longs (order-independent — a parallel double sum would wiggle low
  * bits per SURVEY §6), then divide once in double.
  *
  * Scale shape ([[Lloyd]]): the whole (assign → update)^iters chain is
  * ONE declarative plan — each iteration broadcasts ONE row holding the
  * k centroids, assigns every vector by a map-only argmin over that
  * row, runs one map-side-combinable (cid, pos) aggregation (the 64×
  * posexplode fan-out collapses to k·dim rows per task before the
  * shuffle), and folds the k new centroids back into one row. iters+1
  * passes over the data, exactly Lloyd's cost; no pair expansion, no
  * shuffle by vector, no driver-side state (MLlib's KMeans collects
  * centroids to the driver every iteration; here they stay
  * plan-internal, so the job is resumable and the lineage is
  * auditable). Clusters that lose all members drop out (standard Lloyd
  * variant); k ≤ [[graft.functions.SMAX]] and iters is a small
  * constant, so the row and the plan stay bounded.
  */
object Cluster {

  /** (id, cluster) assignment after `iters` Lloyd updates from the
    * k-lowest-id seeds. `cluster` is the seed vector's id.
    */
  def kmeans(df: DataFrame, idCol: String, vecCol: String,
             k: Int = 8, iters: Int = 2): DataFrame =
    kmeansAssigned(df, idCol, vecCol, k, iters)
      .select(col("id"), col("cid").as("cluster"))

  /** Final assignment with the vector riding along: (id, cid, v) —
    * the building block SemDeDup composes on.
    */
  private[operators] def kmeansAssigned(
      df: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): DataFrame = {
    val v = df.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
    // argmin_c |x-c|² = argmin_c (|c|² - 2·x·c); |x|² is constant per x.
    // The winning score rides along so pruning can recover the true
    // distance (d² = |x|² + score) without re-scanning the centroids.
    val pts = v.select(col("id"), lit(0).as("g"), col("v").as("x"))
    val seeds = Lloyd.seeds(v, k)
      .select(lit(0).as("g"), col("id").as("cid"), col("v").as("cv"))
    Lloyd.assign(pts, Lloyd.train(pts, seeds, iters))
      .select(col("id"), col("_m.cid").as("cid"), col("x").as("v"),
        col("_m._s").as("score"))
  }

  /** Cluster-based data pruning (Sorscher et al. 2022, "Beyond neural
    * scaling laws", arXiv:2206.14486 — the SSL-prototypes metric; the
    * density step of D4, Tirumala et al. 2023, arXiv:2308.12284):
    * rank every vector by its distance to its assigned k-means
    * centroid and keep the `keepFrac` HARDEST (farthest) examples per
    * cluster — prototypical (near-centroid) examples are the redundant
    * ones at scale, so they prune first.
    *
    * Deterministic for oracle replay: distance quantizes to 1e-6 longs
    * before ranking, rank ties break on the lowest id, and the keep
    * cutoff is `rank <= ceil(keepFrac · clusterSize)` — integer math
    * after the one quantized compare.
    *
    * Scale shape: [[kmeansAssigned]]'s cost (iters+1 linear passes,
    * one broadcast centroid row) plus ONE window over the cluster key — no
    * pair expansion at all, which is exactly why the published recipes
    * run it at web scale where pairwise dedup can't.
    */
  def clusterPrune(df: DataFrame, idCol: String, vecCol: String,
                   keepFrac: Double, k: Int = 8, iters: Int = 2): DataFrame = {
    val a = kmeansAssigned(df, idCol, vecCol, k, iters)
      // d² = |x|² + (|c|² − 2·x·c); same association as the oracle SQL.
      .withColumn("_d2q",
        floor((DotProduct(col("v"), col("v")) + col("score")) * 1e6 + 0.5)
          .cast("long"))
    val w = Window.partitionBy(col("cid"))
    a.withColumn("rnk",
        row_number().over(w.orderBy(col("_d2q").desc, col("id"))).cast("long"))
      .withColumn("keep",
        col("rnk") <= ceil(lit(keepFrac) * count(lit(1)).over(w)))
      .select(col("id"), col("cid").as("cluster"),
        (col("_d2q").cast("double") / 1e6).as("dist2"),
        col("rnk"), col("keep"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * near-duplicate pairs via k-means sharding — cluster the
    * embeddings, then compare pairs ONLY within a cluster and keep
    * those with cosine ≥ `threshold`. The published recipe for
    * web-scale semantic dedup: the k-means shard bounds the pair
    * expansion the way LSH bands do for MinHash, but with
    * data-adaptive (centroid) buckets instead of random projections.
    *
    * Scale shape: pair cost is Σ_c n_c² — SIZE k TO THE CORPUS
    * (k ≈ n/targetClusterSize, the same rule as IVF's √n cells) up to
    * the one-row centroid bound [[graft.functions.SMAX]], and
    * `maxCluster` caps a degenerate hot cluster to a bounded recall
    * trade, not an OOM (see [[Dedup.DefaultMaxBucket]]). Candidate
    * ids travel skinny through the cluster aggregation; vectors
    * re-attach via shuffle_hash key joins (O(n·dim) never broadcasts
    * — same lesson the scale probe taught embeddingCosinePairs).
    */
  def semanticDedupPairs(df: DataFrame, idCol: String, vecCol: String,
                         threshold: Double, k: Int = 8, iters: Int = 2,
                         maxCluster: Int = Dedup.DefaultMaxBucket): DataFrame =
    pairsFromAssign(kmeansAssigned(df, idCol, vecCol, k, iters), df,
      idCol, vecCol, threshold, maxCluster)

  private def pairsFromAssign(assign: DataFrame, df: DataFrame,
                              idCol: String, vecCol: String,
                              threshold: Double,
                              maxCluster: Int): DataFrame = {
    // Pairs within a cluster: ids only (each id is in exactly one
    // cluster, so pairs are already unique — no distinct needed).
    val cand = assign.groupBy(col("cid"))
      .agg(collect_list(col("id")).as("ids"))
      .where(size(col("ids")) > 1 && size(col("ids")) <= maxCluster)
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .where(col("id_a") < col("id_b"))
    val v = df.select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("n", Similarity.normNative(col("v")))
    val a = v.select(col("id").as("id_a"), col("v").as("va"), col("n").as("na"))
      .hint("shuffle_hash")
    val b = v.select(col("id").as("id_b"), col("v").as("vb"), col("n").as("nb"))
      .hint("shuffle_hash")
    cand.join(a, "id_a").join(b, "id_b")
      .withColumn("cosine",
        Similarity.dotNative(col("va"), col("vb")) / (col("na") * col("nb")))
      .where(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
  }

  /** SemDeDup verdicts — [[semanticDedupPairs]] made actionable: the
    * ≥τ pair graph resolves to connected components
    * ([[Dedup.clusters]]' min-label propagation), and within each
    * component ONE member is kept — the farthest from its k-means
    * centroid (Abbas et al. §3 keep the LEAST prototypical member;
    * distance ties → lowest id). Output rows cover the dup-component
    * members only (untouched docs are implicitly kept, the
    * [[Dedup.clusters]] convention): (id, component, keep,
    * canonical_id) with canonical_id = the kept member — never null,
    * the [[Dedup.exact]] canonical-id convention.
    *
    * Scale shape: pairs + O(diameter) label-propagation rounds +
    * [[clusterPrune]]'s distance pass + one per-component argmax —
    * every piece already bounded; nothing new shuffles corpus-wide.
    */
  def semanticDedupVerdict(df: DataFrame, idCol: String, vecCol: String,
                           threshold: Double, k: Int = 8, iters: Int = 2,
                           maxCluster: Int = Dedup.DefaultMaxBucket): DataFrame = {
    // ONE kmeans chain feeds both the pair sharding and the
    // centroid-distance ranking. Sharing the DataFrame object is not
    // enough — Catalyst does not dedupe common subplans, so without
    // materialization the pairs path (consumed eagerly inside
    // Dedup.clusters) and the distance path would each re-run the
    // iters+1-pass Lloyd chain. localCheckpoint pins the (id, cid, v,
    // score) assignment once — at cluster scale swap for `checkpoint`
    // with a checkpoint dir, which is the plan you'd want at 100 TB
    // anyway (the assignment table is the natural restart point).
    val assign = kmeansAssigned(df, idCol, vecCol, k, iters).localCheckpoint()
    val pairs = pairsFromAssign(assign, df, idCol, vecCol, threshold,
      maxCluster)
    val comp = Dedup.clusters(pairs, "id_a", "id_b")
      .select(col("id"), col("cluster_id").as("component"))
    val dist = assign.select(col("id"),
      (floor((DotProduct(col("v"), col("v")) + col("score")) * 1e6 + 0.5)
        .cast("long").cast("double") / 1e6).as("dist2"))
    val m = comp.join(dist, "id")
    val kept = m.groupBy(col("component"))
      .agg(max_by(col("id"), struct(col("dist2"), -col("id"))).as("keep_id"))
    m.join(kept, "component")
      .select(col("id"), col("component"),
        (col("id") === col("keep_id")).as("keep"),
        col("keep_id").as("canonical_id"))
  }
}
