package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.expressions.DotProduct

/** Product quantization (Jégou et al. 2011, "Product Quantization for
  * Nearest Neighbor Search") — SURVEY §2 op 87. The standard
  * compression path for embedding stores: split each dim-d vector
  * into `m` subvectors, quantize each against a per-subspace codebook
  * of `k` centroids, and store only the m code ids (64 d × 8 B →
  * m bytes-ish). Search runs over codes via ADC (asymmetric distance
  * computation): the query builds an m×k table of exact
  * subspace distances once, and every corpus vector's distance is a
  * sum of m table lookups — no corpus-side float math at all.
  *
  * Deterministic for oracle replay: codebooks seed from the
  * subvectors of the k lowest-id corpus vectors (the same seed rule
  * as [[Similarity.ivfTopK]] cells and [[Cluster.kmeans]]), optionally
  * refined by `iters` grouped-Lloyd passes (op 95 — the "trained"
  * codebooks of the paper, all m subspace k-means problems in one
  * plan); code assignment breaks distance ties on the lowest centroid
  * id; ADC sums 1e-6-quantized longs so the m-term reduction is
  * order-independent (SURVEY §6).
  *
  * Scale shape: encoding is one broadcast codebook row (m·k·subDim
  * doubles) and a map-only argmin per (id, sub) — linear in corpus
  * rows, no shuffle ([[Lloyd]]). ADC search shuffles NOTHING corpus-sized:
  * the distance table is |queries|·m·k rows (broadcast), the per-pair
  * work is a long add, and the top-k window partitions by query.
  */
object Pq {

  /** Per-subspace codebook: seeds are the subvectors of the k
    * lowest-id vectors; `iters` grouped-Lloyd refinements (all m
    * subspace k-means problems advance together in ONE declarative
    * plan — [[Lloyd]] with the subspace as the group, so the
    * per-iteration cost is exactly [[Cluster.kmeans]]'s). Returns the
    * one-row centroid table: `cs` holds the m·k (g = sub, cid, cv, cn2)
    * centroids — always broadcast.
    *
    * Same determinism conventions as [[Cluster.kmeans]]: argmin ties →
    * lowest cid, centroid means over 1e-6-quantized longs, clusters
    * that lose all members drop out.
    */
  private def codebook(v: DataFrame, k: Int, m: Int, subDim: Int,
                       iters: Int): DataFrame =
    Lloyd.train(subvecs(v, m, subDim),
      subvecs(Lloyd.seeds(v, k), m, subDim)
        .select(col("g"), col("id").as("cid"), col("x").as("cv")),
      iters)

  /** (id, g = subspace, x = subvector) rows. */
  private def subvecs(df: DataFrame, m: Int, subDim: Int): DataFrame =
    df.select(col("id"), explode(sequence(lit(0), lit(m - 1))).as("g"),
        col("v"))
      .select(col("id"), col("g"),
        slice(col("v"), col("g") * subDim + 1, lit(subDim)).as("x"))

  private def idv(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))

  /** PQ codes, exploded: (id, sub, code) — code is the seed vector id
    * whose subvector is nearest (argmin |x_s − c_s|², ties → lowest).
    */
  def encode(df: DataFrame, idCol: String, vecCol: String,
             k: Int = 16, m: Int = 8, dim: Int = 64,
             iters: Int = 0): DataFrame = {
    val v = idv(df, idCol, vecCol)
    encodeWith(v, codebook(v, k, m, dim / m, iters), m, dim / m)
  }

  /** Code assignment against an already-built codebook row — the
    * shared second half of [[encode]], split out so the ADC searches
    * broadcast the SAME codebook row to the encoder and the distance
    * table: the two broadcasts are one reused exchange, so the seed
    * limit and the Lloyd chain run once per search.
    */
  private def encodeWith(v: DataFrame, cb: DataFrame, m: Int,
                         subDim: Int): DataFrame =
    Lloyd.assign(subvecs(v, m, subDim), cb)
      .select(col("id"), col("g").as("sub"), col("_m.cid").as("code"))

  /** Exact per-subspace distances from each query to every codebook
    * centroid: (qid, sub, cid, d2q) with d2 = |q_s|² − 2·q_s·c_s + |c_s|²
    * quantized to 1e-6 longs, so the m-term ADC sum is order-independent.
    */
  private def distTable(queries: DataFrame, cb: DataFrame, m: Int,
                        subDim: Int): DataFrame =
    subvecs(queries, m, subDim).crossJoin(broadcast(cb))
      .select(col("id").as("qid"), col("g").as("sub"), col("x"),
        inline(filter(col("cs"), c => c("g") === col("g"))))
      .select(col("qid"), col("sub"), col("cid"),
        floor((DotProduct(col("x"), col("x")) -
          lit(2.0) * DotProduct(col("x"), col("cv")) + col("cn2")) * 1e6
          + 0.5).cast("long").as("d2q"))

  /** The `topK` smallest ADC sums per query, ties → lowest neighbor id. */
  private def ranked(scored: DataFrame, topK: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sq"), col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        (col("sq").cast("double") / 1e6).as("adc_d2"))
  }

  /** IVF+PQ (the combined index of Jégou et al. 2011 §V / the Faiss
    * "IVFx,PQy" recipe): coarse-quantize the corpus into `nCells`
    * inverted lists, then run ADC only inside the `nProbe` cells
    * nearest each query — the per-query candidate set shrinks from n
    * to ~nProbe·n/nCells, which is what makes PQ search usable when
    * exhaustive [[adcTopK]] (queries × corpus lookups) stops fitting
    * the latency budget. Size `nCells ≈ √n` (the IVF rule), up to the
    * one-row centroid bound [[graft.functions.SMAX]].
    *
    * Determinism: cells seed from the nCells lowest-id corpus vectors;
    * corpus assignment is argmin (|c|² − 2·x·c, ties → lowest cell);
    * query probing takes the nProbe best cells by the same order.
    *
    * Scale shape: the cell row (nCells·dim) and query-probe table
    * (|queries|·nProbe) broadcast; codes stay distributed and fan out
    * only to the queries probing their cell; nothing corpus-sized
    * shuffles or broadcasts — [[adcTopK]]'s shape with the candidate
    * generation bounded by the inverted lists.
    */
  def ivfAdcTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                 vecCol: String, topK: Int, nCells: Int = 16,
                 nProbe: Int = 4, k: Int = 16, m: Int = 8,
                 dim: Int = 64, iters: Int = 0): DataFrame = {
    val cv = idv(corpus, idCol, vecCol)
    val cb = codebook(cv, k, m, dim / m, iters)
    // one cell row for the corpus assignment and the query probe (one
    // reused broadcast, like the codebook's)
    val cells = Lloyd.centroidRow(Lloyd.seeds(cv, nCells)
      .select(lit(0).as("g"), col("id").as("cid"), col("v").as("cv")))
    def asPoints(df: DataFrame) = df.select(col("id"), lit(0).as("g"),
      col("v").as("x"))
    val ccells = Lloyd.assign(asPoints(cv), cells)
      .select(col("id"), col("_m.cid").as("cell_id"))
    val codes = encodeWith(cv, cb, m, dim / m)
      .join(ccells, "id")
      .select(col("id").as("neighbor_id"), col("sub"), col("code"),
        col("cell_id"))
    val qcells = asPoints(idv(queries, idCol, vecCol))
      .crossJoin(broadcast(cells))
      .select(col("id").as("qid"), explode(slice(array_sort(
        Lloyd.scores(col("x"), col("g"))), 1, nProbe)).as("_c"))
      .select(col("qid"), col("_c.cid").as("cell_id"))
    val dt = distTable(idv(queries, idCol, vecCol), cb, m, dim / m)
    ranked(codes
      .join(broadcast(qcells), "cell_id")
      .join(broadcast(dt),
        codes("sub") === dt("sub") && codes("code") === dt("cid") &&
          qcells("qid") === dt("qid"))
      .groupBy(dt("qid").as("query_id"), col("neighbor_id"))
      .agg(sum(col("d2q")).as("sq")), topK)
  }

  /** ADC top-k: exact per-subspace distances from each query to every
    * codebook centroid (an m·k table per query), then each corpus
    * vector scores as the sum of its m code lookups. Approximate by
    * construction (corpus vectors are quantized); `adc_d2` is the
    * squared L2 distance to the quantized corpus vector.
    */
  def adcTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
              vecCol: String, topK: Int, k: Int = 16, m: Int = 8,
              dim: Int = 64, iters: Int = 0): DataFrame = {
    val cv = idv(corpus, idCol, vecCol)
    val cb = codebook(cv, k, m, dim / m, iters)
    val codes = encodeWith(cv, cb, m, dim / m)
      .select(col("id").as("neighbor_id"), col("sub"), col("code"))
    val dt = distTable(idv(queries, idCol, vecCol), cb, m, dim / m)
    ranked(codes
      .join(broadcast(dt),
        codes("sub") === dt("sub") && codes("code") === dt("cid"))
      .groupBy(dt("qid").as("query_id"), col("neighbor_id"))
      .agg(sum(col("d2q")).as("sq")), topK)
  }
}
