package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** Approximate nearest-neighbour search over the embeddings table. */
object AnnQueries {

  /** Op-286/296 shared kernel: brute top-3 in the SQ8-reconstructed
    * space — query AND corpus encoded against the CORPUS-trained
    * per-dim [min,max] ranges (codes clipped to [0,255], the Faiss
    * SQ8 recipe), reconstructed, ranked by reconstructed cosine. The
    * range table is a 64-row broadcast; encode/decode is per-row map
    * algebra — the codec adds NO shuffle to the brute plan.
    */
  private def sq8TopK(s: SparkSession, dir: String): DataFrame = {
    val e = tbl(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val corpus = e.where(col("vec_id") >= 5)
    val ranges = corpus.select(posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("pos")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .groupBy()
      .agg(
        transform(array_sort(collect_list(struct(col("pos"), col("mn")))),
          s => s.getField("mn")).as("mns"),
        transform(array_sort(collect_list(struct(col("pos"), col("mx")))),
          s => s.getField("mx")).as("mxs"))
    def recon(df: DataFrame) = df.crossJoin(broadcast(ranges))
      .withColumn("rv", transform(col("v"), (x, i) => {
        val mn = element_at(col("mns"), i + 1)
        val mx = element_at(col("mxs"), i + 1)
        val code = least(greatest(
          floor((x - mn) / (mx - mn) * 255.0 + 0.5), lit(0.0)), lit(255.0))
        when(mx === mn, mn).otherwise(mn + code / 255.0 * (mx - mn))
      }))
      .select(col("vec_id"), col("rv"))
    Similarity.bruteForceTopK(recon(e.where(col("vec_id") < 5)),
      recon(corpus), "vec_id", "rv", 3)
  }

  private def lshBucketSql(v: String) = lshBucketSqlAt(v, 0, 4)

    // Shared between the pairs oracle and the clusters oracle's
    // recursive closure (nested WITH — DuckDB scopes it to the CTE).
    // ann_topk_ivf and its labeled hard-negative twin share this one
    // CTE chain (the SQL mirror of ivfTopKImpl's labelCol threading):
    // `labeled` adds the label columns through cells/probes, the
    // same-label exclusion on the candidate join, and the label output.
  private def ivfOracle(labeled: Boolean): String = {
      def l(s: String) = if (labeled) s else ""
      s"""WITH c AS (SELECT vec_id AS neighbor_id${l(", label AS cl")}, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id >= 5),
        |cent AS (
        |  SELECT neighbor_id AS cell_id, cv AS centv FROM c ORDER BY neighbor_id LIMIT 16
        |), ccells AS (
        |  SELECT neighbor_id,${l(" cl,")} cv, cell_id FROM (
        |    SELECT c.neighbor_id,${l(" c.cl,")} c.cv, cent.cell_id,
        |      row_number() OVER (PARTITION BY c.neighbor_id ORDER BY
        |        list_dot_product(c.cv, cent.centv) /
        |          (sqrt(list_dot_product(c.cv, c.cv)) * sqrt(list_dot_product(cent.centv, cent.centv))) DESC,
        |        cent.cell_id) AS cr
        |    FROM c CROSS JOIN cent
        |  ) WHERE cr <= 1
        |), q AS (SELECT vec_id AS query_id,${l(" label AS ql,")} embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
        |probes AS (
        |  SELECT query_id,${l(" ql,")} qv, cell_id FROM (
        |    SELECT q.query_id,${l(" q.ql,")} q.qv, cent.cell_id,
        |      row_number() OVER (PARTITION BY q.query_id ORDER BY
        |        list_dot_product(q.qv, cent.centv) /
        |          (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(cent.centv, cent.centv))) DESC,
        |        cent.cell_id) AS qr
        |    FROM q CROSS JOIN cent
        |  ) WHERE qr <= 4
        |), s AS (
        |  SELECT query_id, neighbor_id,${l(" cl,")}
        |    list_dot_product(qv, cv) /
        |      (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cosine
        |  FROM ccells JOIN probes USING (cell_id)${l("\n  WHERE cl IS DISTINCT FROM ql")}
        |), r AS (
        |  SELECT query_id, neighbor_id,${l(" cl,")} cosine,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
        |  FROM s
        |)
        |SELECT query_id, rnk, neighbor_id,${l(" cl::BIGINT AS neighbor_label,")} round(cosine, 6) AS cosine
        |FROM r WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin
    }

  val registry: Seq[(String, Registration)] = Seq(
    // Hard-negative mining over the labeled embeddings (op 114).
    "ann_hard_negatives" -> Query((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      Similarity.hardNegativesTopK(
          e.where(col("vec_id") < 5), e.where(col("vec_id") >= 5),
          "vec_id", "embedding", "label", 3)
        .withColumn("rnk", col("rank").cast("long")).drop("rank")
        .select(col("query_id"), col("rnk"), col("neighbor_id"),
          col("neighbor_label").cast("long").as("neighbor_label"),
          col("cosine"))
    },
      """WITH q AS (SELECT vec_id AS query_id, label AS ql, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
          |c AS (SELECT vec_id AS neighbor_id, label AS cl, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id >= 5),
          |s AS (
          |  SELECT query_id, neighbor_id, cl,
          |    list_dot_product(qv, cv) /
          |      (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cosine
          |  FROM q CROSS JOIN c WHERE cl IS DISTINCT FROM ql
          |), r AS (
          |  SELECT query_id, neighbor_id, cl, cosine,
          |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
          |  FROM s
          |)
          |SELECT query_id, rnk, neighbor_id, cl::BIGINT AS neighbor_label, round(cosine, 6) AS cosine
          |FROM r WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin),
    // The IVF scale path of op 114: same mining through probed cells.
    "ann_hard_negatives_ivf" -> Query((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      Similarity.hardNegativesIvfTopK(
          e.where(col("vec_id") < 5), e.where(col("vec_id") >= 5),
          "vec_id", "embedding", "label", 3)
        .withColumn("rnk", col("rank").cast("long")).drop("rank")
        .select(col("query_id"), col("rnk"), col("neighbor_id"),
          col("neighbor_label").cast("long").as("neighbor_label"),
          col("cosine"))
    },
      ivfOracle(labeled = true)),

    // ---- similarity search (ops 51-52)
    "ann_topk_bruteforce" -> Query((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      Similarity.bruteForceTopK(
          e.where(col("vec_id") < 5), e.where(col("vec_id") >= 5),
          "vec_id", "embedding", 3)
        .withColumn("rnk", col("rank").cast("long")).drop("rank")
        .select(col("query_id"), col("rnk"), col("neighbor_id"), col("cosine"))
    },
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
          |c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id >= 5),
          |s AS (
          |  SELECT query_id, neighbor_id,
          |    list_dot_product(qv, cv) /
          |      (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cosine
          |  FROM q CROSS JOIN c
          |), r AS (
          |  SELECT query_id, neighbor_id, cosine,
          |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
          |  FROM s
          |)
          |SELECT query_id, rnk, neighbor_id, round(cosine, 6) AS cosine
          |FROM r WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin),
    // SQ8-reconstructed top-k (op 286): search over the op-89 int8
    // codec — both sides encode against the CORPUS-trained per-dim
    // [min,max] ranges (codes clipped to [0,255], the Faiss SQ8
    // recipe), reconstruct, and rank by reconstructed cosine. This is
    // the asymmetric-distance search the 8×-smaller store actually
    // serves; comparing its neighbor sets with ann_topk_bruteforce
    // measures the codec's retrieval cost. The range table is a
    // 64-row broadcast; encode/decode is per-row map algebra — the
    // compression adds NO shuffle to the brute plan.
    "ann_topk_sq8" -> Query((s, dir) =>
      sq8TopK(s, dir)
        .withColumn("rnk", col("rank").cast("long")).drop("rank")
        .select(col("query_id"), col("rnk"), col("neighbor_id"), col("cosine")),
      // op 286: same corpus-trained ranges, same clipped-code
      // reconstruction (identical parenthesization), same ranking.
      """WITH c0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id >= 5),
          |q0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 5),
          |ex AS (SELECT unnest(range(0, len(v))) AS pos, unnest(v) AS x FROM c0),
          |rg AS (SELECT pos, min(x) AS mn, max(x) AS mx FROM ex GROUP BY pos),
          |rng AS (SELECT list(mn ORDER BY pos) AS mns, list(mx ORDER BY pos) AS mxs FROM rg),
          |cr AS (
          |  SELECT vec_id AS neighbor_id,
          |    list_transform(list_zip(v, mns, mxs), s ->
          |      CASE WHEN s[3] = s[2] THEN s[2]
          |           ELSE s[2] + least(greatest(floor((s[1] - s[2]) / (s[3] - s[2]) * 255.0 + 0.5), 0.0), 255.0)
          |                       / 255.0 * (s[3] - s[2]) END) AS cv
          |  FROM c0 CROSS JOIN rng
          |), qr AS (
          |  SELECT vec_id AS query_id,
          |    list_transform(list_zip(v, mns, mxs), s ->
          |      CASE WHEN s[3] = s[2] THEN s[2]
          |           ELSE s[2] + least(greatest(floor((s[1] - s[2]) / (s[3] - s[2]) * 255.0 + 0.5), 0.0), 255.0)
          |                       / 255.0 * (s[3] - s[2]) END) AS qv
          |  FROM q0 CROSS JOIN rng
          |), sc AS (
          |  SELECT query_id, neighbor_id,
          |    list_dot_product(qv, cv) /
          |      (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cosine
          |  FROM qr CROSS JOIN cr
          |), rk AS (
          |  SELECT query_id, neighbor_id, cosine,
          |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
          |  FROM sc
          |)
          |SELECT query_id, rnk, neighbor_id, round(cosine, 6) AS cosine
          |FROM rk WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin),
    // SQ8 retrieval-quality audit (op 296): recall@3 of the op-286
    // reconstructed-space search against the full-precision brute
    // ground truth — the measured basis for shipping the 8×-smaller
    // store (the op-237 evaluation pattern applied to the codec).
    "ann_recall_sq8" -> Query((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      Similarity.recallAtK(
          sq8TopK(s, dir),
          Similarity.bruteForceTopK(e.where(col("vec_id") < 5),
            e.where(col("vec_id") >= 5), "vec_id", "embedding", 3), 3)
        .select(col("query_id"), col("n_hits"),
          round(col("recall"), 6).as("recall"))
    },
      // op 296: the op-286 reconstructed ranking joined against the
      // full-precision brute top-3 (the ann_recall evaluation shape).
      """WITH c0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id >= 5),
          |q0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 5),
          |ex AS (SELECT unnest(range(0, len(v))) AS pos, unnest(v) AS x FROM c0),
          |rg AS (SELECT pos, min(x) AS mn, max(x) AS mx FROM ex GROUP BY pos),
          |rng AS (SELECT list(mn ORDER BY pos) AS mns, list(mx ORDER BY pos) AS mxs FROM rg),
          |cr AS (
          |  SELECT vec_id AS neighbor_id,
          |    list_transform(list_zip(v, mns, mxs), s ->
          |      CASE WHEN s[3] = s[2] THEN s[2]
          |           ELSE s[2] + least(greatest(floor((s[1] - s[2]) / (s[3] - s[2]) * 255.0 + 0.5), 0.0), 255.0)
          |                       / 255.0 * (s[3] - s[2]) END) AS cv
          |  FROM c0 CROSS JOIN rng
          |), qr AS (
          |  SELECT vec_id AS query_id,
          |    list_transform(list_zip(v, mns, mxs), s ->
          |      CASE WHEN s[3] = s[2] THEN s[2]
          |           ELSE s[2] + least(greatest(floor((s[1] - s[2]) / (s[3] - s[2]) * 255.0 + 0.5), 0.0), 255.0)
          |                       / 255.0 * (s[3] - s[2]) END) AS qv
          |  FROM q0 CROSS JOIN rng
          |), sc AS (
          |  SELECT query_id, neighbor_id,
          |    list_dot_product(qv, cv) /
          |      (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cosine
          |  FROM qr CROSS JOIN cr
          |), ap AS (
          |  SELECT query_id, neighbor_id FROM (
          |    SELECT query_id, neighbor_id,
          |      row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
          |    FROM sc
          |  ) WHERE rnk <= 3
          |), bs AS (
          |  SELECT q0.vec_id AS query_id, c0.vec_id AS neighbor_id,
          |    list_dot_product(q0.v, c0.v) /
          |      (sqrt(list_dot_product(q0.v, q0.v)) * sqrt(list_dot_product(c0.v, c0.v))) AS cosine
          |  FROM q0 CROSS JOIN c0
          |), exa AS (
          |  SELECT query_id, neighbor_id FROM (
          |    SELECT query_id, neighbor_id,
          |      row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
          |    FROM bs
          |  ) WHERE rnk <= 3
          |), h AS (
          |  SELECT e.query_id, count(*) AS n_hits
          |  FROM exa e JOIN ap a USING (query_id, neighbor_id)
          |  GROUP BY e.query_id
          |)
          |SELECT q.query_id,
          |  CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
          |  round(CAST(coalesce(n_hits, 0) AS DOUBLE) / 3, 6) AS recall
          |FROM (SELECT DISTINCT query_id FROM exa) q LEFT JOIN h USING (query_id)
          |ORDER BY query_id""".stripMargin),
    // MIPS top-k (op 208): maximum INNER PRODUCT — the retrieval
    // objective when magnitudes carry signal (recommender scores,
    // un-normalized rerankers) where cosine ANN ranks wrong. Scores
    // are INTEGER folds of 1e-4-quantized components (exact under any
    // order, so top-k by (score, id) is a total order both engines
    // agree on bit-for-bit). Brute scan is the small-query-set
    // baseline (queries broadcast); at scale the standard reduction
    // (Bachrach 2014: augment with √(M²−‖x‖²) → cosine problem) runs
    // this through the op-52/63 LSH/IVF machinery unchanged.
    "ann_topk_mips" -> Query((s, dir) => {
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), transform(col("embedding")
          .cast("array<double>"),
          x => floor(x * 1e4 + 0.5).cast("long")).as("q"))
      val qs = e.where(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("q").as("qv"))
      val cands = e.where(col("vec_id") >= 3)
        .select(col("vec_id").as("neighbor_id"), col("q").as("cv"))
      val wQ = Window.partitionBy(col("query_id"))
        .orderBy(col("ip_q").desc, col("neighbor_id"))
      cands.crossJoin(broadcast(qs))
        .withColumn("ip_q", aggregate(
          zip_with(col("qv"), col("cv"), (a, b) => a * b),
          lit(0L), (acc, x) => acc + x))
        .withColumn("rank", row_number().over(wQ).cast("long"))
        .where(col("rank") <= 5)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("ip_q") / 1e8, 6).as("inner_product"))
    },
      // op 208: identical 1e-4 component quantization, integer inner
      // products → the (score, id) top-k is the same total order.
      """WITH v AS (
          |  SELECT vec_id, list_transform(embedding::DOUBLE[],
          |    x -> CAST(floor(x * 1e4 + 0.5) AS BIGINT)) AS q
          |  FROM embeddings
          |), qs AS (SELECT vec_id AS query_id, q AS qv FROM v WHERE vec_id < 3),
          |cs AS (SELECT vec_id AS neighbor_id, q AS cv FROM v WHERE vec_id >= 3),
          |sc AS (
          |  SELECT query_id, neighbor_id,
          |    CAST(list_sum(list_transform(range(1, len(qv) + 1),
          |      i -> qv[i] * cv[i])) AS BIGINT) AS ip_q
          |  FROM cs CROSS JOIN qs
          |), rk AS (
          |  SELECT *, CAST(row_number() OVER (
          |    PARTITION BY query_id ORDER BY ip_q DESC, neighbor_id)
          |    AS BIGINT) AS rank
          |  FROM sc
          |)
          |SELECT query_id, rank, neighbor_id,
          |  round(ip_q / 1e8, 6) AS inner_product
          |FROM rk WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
    // Approximate by design but fully deterministic (md5-derived planes
    // / lowest-id centroids), so DuckDB replays the exact same buckets.
    "ann_topk_lsh" -> Query((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      Similarity.lshTopK(
          e.where(col("vec_id") < 5), e.where(col("vec_id") >= 5),
          "vec_id", "embedding", 3, EmbDim)
        .withColumn("rnk", col("rank").cast("long")).drop("rank")
        .select(col("query_id"), col("rnk"), col("neighbor_id"), col("cosine"))
    },
      s"""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
          |c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id >= 5),
          |qb AS (SELECT query_id, qv, ${lshBucketSql("qv")} AS bucket FROM q),
          |cb AS (SELECT neighbor_id, cv, ${lshBucketSql("cv")} AS bucket FROM c),
          |s AS (
          |  SELECT query_id, neighbor_id,
          |    list_dot_product(qv, cv) /
          |      (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cosine
          |  FROM cb JOIN qb USING (bucket)
          |), r AS (
          |  SELECT query_id, neighbor_id, cosine,
          |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
          |  FROM s
          |)
          |SELECT query_id, rnk, neighbor_id, round(cosine, 6) AS cosine
          |FROM r WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin),
    // Range search (op 384): ALL bucket-mates with cosine ≥ 0.25 —
    // the "everything this similar" API next to top-k, same LSH
    // candidate generator (and oracle chain) as ann_topk_lsh.
    "ann_range_search" -> Query((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      Similarity.lshRangeSearch(
          e.where(col("vec_id") < 5), e.where(col("vec_id") >= 5),
          "vec_id", "embedding", 0.25, EmbDim)
    },
      // op 384: the ann_topk_lsh candidate chain with the range
      // predicate on the RAW cosine (both engines compute the
      // identical double, so the ≥ 0.25 cut is engine-exact).
      s"""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
          |c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id >= 5),
          |qb AS (SELECT query_id, qv, ${lshBucketSql("qv")} AS bucket FROM q),
          |cb AS (SELECT neighbor_id, cv, ${lshBucketSql("cv")} AS bucket FROM c),
          |s AS (
          |  SELECT query_id, neighbor_id,
          |    list_dot_product(qv, cv) /
          |      (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cosine
          |  FROM cb JOIN qb USING (bucket)
          |)
          |SELECT query_id, neighbor_id, round(cosine, 6) AS cosine
          |FROM s WHERE cosine >= 0.25
          |ORDER BY query_id, neighbor_id""".stripMargin),
    // kNN graph over the whole corpus (op 150): the SemDeDup /
    // SSL-prototype / hard-negative precursor — every vector's top-3
    // cosine neighbors among candidates sharing ANY of its 2 LSH
    // tables' sign buckets (OR'd tables, the standard recall
    // amplification). Bucket-join shaped: no all-pairs scan; a pair
    // met in both tables collapses via the per-pair max (cosine is
    // identical on every meeting). At 100 TB this is the per-batch
    // neighbor-graph build: candidates shuffle on (table, bucket),
    // cost ∝ Σ bucket², never N² — with Similarity.knnGraph's
    // DefaultMaxBucket cap bounding the worst single bucket (the
    // oracle replays the cap via a bucket-count CTE); size planes
    // with Similarity.planesForN at real corpus scale.
    "ann_knn_graph" -> Query((s, dir) =>
      Similarity.knnGraph(tbl(s, dir, "embeddings"), "vec_id", "embedding",
          3, EmbDim, planes = annPlanes(s))
        .withColumn("rnk", col("rank").cast("long")).drop("rank")
        .select(col("query_id"), col("rnk"), col("neighbor_id"),
          round(col("cosine"), 6).as("cosine")),
      // kNN graph: both LSH tables replayed (offsets 0 and 4), pair
      // dedup by max over identical cosines, self-pairs excluded.
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          |t0 AS (
          |  SELECT vec_id, v, 0 AS tbl, ${lshBucketSqlAt("v", 0, 4)} AS bucket FROM e
          |  UNION ALL
          |  SELECT vec_id, v, 4 AS tbl, ${lshBucketSqlAt("v", 4, 4)} AS bucket FROM e
          |), t AS (
          |  SELECT * FROM (
          |    SELECT *, count(*) OVER (PARTITION BY tbl, bucket) AS bc FROM t0
          |  ) WHERE bc <= 10000
          |), p AS (
          |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
          |    max(list_dot_product(a.v, b.v) /
          |        (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))) AS cosine
          |  FROM t a JOIN t b ON a.tbl = b.tbl AND a.bucket = b.bucket
          |  WHERE b.vec_id <> a.vec_id
          |  GROUP BY 1, 2
          |), r AS (
          |  SELECT query_id, neighbor_id, cosine,
          |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
          |  FROM p
          |)
          |SELECT query_id, rnk, neighbor_id, round(cosine, 6) AS cosine
          |FROM r WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin),
    // kNN symmetry (op 390): the fraction of op-150 graph edges that
    // are MUTUAL (a→b and b→a) — the standard index-quality
    // diagnostic beside op 218's hubness (asymmetry = hubs crowding
    // out reciprocal structure). One self-intersect of the edge list.
    "ann_mutual_knn" -> Query((s, dir) => {
      // r15: g feeds THREE consumers (both intersect legs + the edge
      // count) — without a pin the LSH-banded kNN-graph build (the
      // Σ bucket² candidate join + top-k window) runs three times.
      // The pinned relation is the n×k edge list (r14 pin rule: heavy
      // producer, bounded output). At cluster scale swap for
      // `checkpoint` (the SemDeDup convention).
      val g = Similarity.knnGraph(tbl(s, dir, "embeddings"), "vec_id",
          "embedding", 3, EmbDim, planes = annPlanes(s))
        .select(col("query_id").as("src"), col("neighbor_id").as("dst"))
        .localCheckpoint()
      val mutual = g.intersect(
        g.select(col("dst").as("src"), col("src").as("dst")))
      g.agg(count(lit(1)).as("n_edges"))
        .crossJoin(mutual.agg(count(lit(1)).as("n_mutual")))
        .select(col("n_edges"), col("n_mutual"),
          (floor(col("n_mutual").cast("double")
            / col("n_edges").cast("double") * 1e6 + 0.5) / 1e6)
            .as("mutual_frac"))
    },
      // op 390: the op-150 edge CTE self-joined on reversed pairs —
      // each mutual ORDERED pair counts once, matching the Spark
      // intersect of the edge list with its swap.
      s"""WITH $KNN_EDGE_CTES, m AS (
          |  SELECT a.src, a.dst FROM g a
          |  JOIN g b ON b.src = a.dst AND b.dst = a.src
          |)
          |SELECT (SELECT count(*) FROM g) AS n_edges,
          |  (SELECT count(*) FROM m) AS n_mutual,
          |  floor((SELECT count(*) FROM m)::DOUBLE /
          |        (SELECT count(*) FROM g)::DOUBLE * 1e6 + 0.5) / 1e6
          |    AS mutual_frac""".stripMargin),
    // Leave-one-out kNN label accuracy (op 360; the probe-accuracy
    // representation metric — "do nearest neighbors share labels", the
    // supervised complement of recall/NDCG): predicted label = majority
    // vote of the op-150 graph's 3 neighbors (ties → smallest label,
    // deterministic), accuracy per class from exact counts. Reuses the
    // kNN edge list; votes/majority are keyed windows over ≤3-row
    // groups.
    "ann_knn_classifier" -> Query((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val g = Similarity.knnGraph(emb, "vec_id", "embedding", 3, EmbDim,
          planes = annPlanes(s))
        .select(col("query_id"), col("neighbor_id"))
      val votes = g.join(emb.select(col("vec_id").as("neighbor_id"),
          col("label").as("nlabel")), "neighbor_id")
        .groupBy(col("query_id"), col("nlabel")).agg(count(lit(1)).as("v"))
      val wv = Window.partitionBy(col("query_id"))
        .orderBy(col("v").desc, col("nlabel"))
      val pred = votes.withColumn("r", row_number().over(wv))
        .where(col("r") === 1)
        .select(col("query_id").as("vec_id"), col("nlabel").as("pred"))
      pred.join(emb.select(col("vec_id"), col("label")), "vec_id")
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          sum((col("pred") === col("label")).cast("long")).as("n_correct"))
        .select(col("label").cast("long").as("label"), col("n"),
          col("n_correct"),
          (floor(col("n_correct").cast("double") / col("n") * 1e6
            + lit(0.5)) / 1e6).as("accuracy"))
    },
      // op 360: same edge CTEs, same majority vote (count desc, label
      // asc), exact-count accuracy on the q6 grid.
      s"""WITH $KNN_EDGE_CTES, votes AS (
          |  SELECT g.src AS query_id, e2.label AS nlabel, count(*) AS v
          |  FROM g JOIN embeddings e2 ON e2.vec_id = g.dst
          |  GROUP BY 1, 2
          |), pred AS (
          |  SELECT query_id AS vec_id, nlabel AS pred
          |  FROM (
          |    SELECT *, row_number() OVER (PARTITION BY query_id
          |      ORDER BY v DESC, nlabel) AS r
          |    FROM votes
          |  ) WHERE r = 1
          |)
          |SELECT CAST(e.label AS BIGINT) AS label,
          |  count(*) AS n,
          |  CAST(sum(CASE WHEN p.pred = e.label THEN 1 ELSE 0 END)
          |    AS BIGINT) AS n_correct,
          |  floor(CAST(sum(CASE WHEN p.pred = e.label THEN 1 ELSE 0 END)
          |    AS DOUBLE) / count(*) * 1e6 + 0.5) / 1e6 AS accuracy
          |FROM pred p JOIN embeddings e USING (vec_id)
          |GROUP BY e.label ORDER BY label""".stripMargin),
    // Triangle counting + local clustering coefficient on the op-150
    // kNN graph (op 341; the classic two-join distributed shape) —
    // "how clique-y is each embedding's neighborhood", the community/
    // redundancy diagnostic PageRank (op 317) can't see. Canonical
    // a<b<c ordering counts each triangle once: und(a,b) ⋈ und(b,c)
    // gives wedges (a<b<c by construction), the second join checks the
    // closing edge (a,c). Edge list is n·k rows; both joins key on a
    // single vertex — no all-pairs anywhere. und is localCheckpointed
    // (used 4×: two wedge legs, the closer, degrees).
    "ann_triangles" -> Query((s, dir) => {
      val g = Similarity.knnGraph(tbl(s, dir, "embeddings"), "vec_id",
          "embedding", 3, EmbDim, planes = annPlanes(s))
        .select(col("query_id").as("src"), col("neighbor_id").as("dst"))
      val und = g.select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .distinct().localCheckpoint()
      val wedges = und.join(und.select(col("a").as("b"), col("b").as("c")),
        "b")
      val tris = wedges
        .join(und.select(col("a"), col("b").as("c")), Seq("a", "c"))
        .select(col("a"), col("b"), col("c"))
      val perV = tris
        .select(explode(array(col("a"), col("b"), col("c"))).as("vec_id"))
        .groupBy(col("vec_id")).agg(count(lit(1)).as("n_tri"))
      val deg = und.select(explode(array(col("a"), col("b"))).as("vec_id"))
        .groupBy(col("vec_id")).agg(count(lit(1)).as("degree"))
      deg.join(perV, Seq("vec_id"), "left")
        .select(col("vec_id"), col("degree"),
          coalesce(col("n_tri"), lit(0L)).as("n_triangles"),
          when(col("degree") >= 2,
            floor(lit(2.0) * coalesce(col("n_tri"), lit(0L))
              / (col("degree") * (col("degree") - 1)) * 1e6 + lit(0.5)) / 1e6)
            .otherwise(lit(0.0)).as("clustering"))
    },
      // op 341: same edge CTEs, canonical-order triangle joins, q6
      // floor on the exact-integer coefficient division.
      s"""WITH $KNN_EDGE_CTES, und AS (
          |  SELECT least(src, dst) AS a, greatest(src, dst) AS b
          |  FROM g GROUP BY 1, 2
          |), tri AS (
          |  SELECT e1.a, e1.b, e2.c
          |  FROM und e1
          |  JOIN (SELECT a AS b, b AS c FROM und) e2 USING (b)
          |  JOIN (SELECT a, b AS c FROM und) e3 USING (a, c)
          |), pv AS (
          |  SELECT v AS vec_id, count(*) AS n_tri FROM (
          |    SELECT a AS v FROM tri UNION ALL SELECT b FROM tri
          |    UNION ALL SELECT c FROM tri)
          |  GROUP BY 1
          |), dg AS (
          |  SELECT v AS vec_id, count(*) AS degree FROM (
          |    SELECT a AS v FROM und UNION ALL SELECT b FROM und)
          |  GROUP BY 1
          |)
          |SELECT dg.vec_id, degree,
          |  CAST(coalesce(n_tri, 0) AS BIGINT) AS n_triangles,
          |  CASE WHEN degree >= 2
          |    THEN floor(2.0 * coalesce(n_tri, 0) / (degree * (degree - 1))
          |      * 1e6 + 0.5) / 1e6
          |    ELSE 0.0 END AS clustering
          |FROM dg LEFT JOIN pv USING (vec_id) ORDER BY vec_id""".stripMargin),
    // Truncated-embedding recall (op 171, the Matryoshka question):
    // how much top-k fidelity survives keeping only the first half of
    // each vector — recallAtK with the truncated-space brute top-k as
    // "approx" vs the full-dimension ground truth. At 100 TB this is
    // the measured basis for halving the vector store.
    "ann_recall_truncated" -> Query((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      def half(df: org.apache.spark.sql.DataFrame) =
        df.withColumn("embedding", slice(col("embedding"), 1, EmbDim / 2))
      val q = e.where(col("vec_id") < 5)
      val c = e.where(col("vec_id") >= 5)
      Similarity.recallAtK(
          Similarity.bruteForceTopK(half(q), half(c), "vec_id",
            "embedding", 3),
          Similarity.bruteForceTopK(q, c, "vec_id", "embedding", 3), 3)
        .select(col("query_id"), col("n_hits"),
          round(col("recall"), 6).as("recall"))
    },
      // Same two-chain recall shape, approx side on qv[1:32]/cv[1:32]
      // (DuckDB list slices are 1-based inclusive = first 32 dims).
      s"""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
          |c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id >= 5),
          |sb AS (
          |  SELECT query_id, neighbor_id,
          |    list_dot_product(qv, cv) /
          |      (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cosine
          |  FROM q CROSS JOIN c
          |), gt AS (
          |  SELECT query_id, neighbor_id FROM (
          |    SELECT query_id, neighbor_id,
          |      row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
          |    FROM sb) WHERE rnk <= 3
          |), st AS (
          |  SELECT query_id, neighbor_id,
          |    list_dot_product(qv[1:${EmbDim / 2}], cv[1:${EmbDim / 2}]) /
          |      (sqrt(list_dot_product(qv[1:${EmbDim / 2}], qv[1:${EmbDim / 2}])) *
          |       sqrt(list_dot_product(cv[1:${EmbDim / 2}], cv[1:${EmbDim / 2}]))) AS cosine
          |  FROM q CROSS JOIN c
          |), ap AS (
          |  SELECT query_id, neighbor_id FROM (
          |    SELECT query_id, neighbor_id,
          |      row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
          |    FROM st) WHERE rnk <= 3
          |)
          |SELECT gt.query_id,
          |  CAST(count(ap.neighbor_id) AS BIGINT) AS n_hits,
          |  round(CAST(count(ap.neighbor_id) AS DOUBLE) / 3, 6) AS recall
          |FROM gt LEFT JOIN ap ON gt.query_id = ap.query_id
          |  AND gt.neighbor_id = ap.neighbor_id
          |GROUP BY gt.query_id ORDER BY gt.query_id""".stripMargin),
    // Recall@3 of the LSH index vs brute-force ground truth (op 158):
    // the tuning feedback loop — left join from the exact side keeps
    // zero-recall queries visible.
    "ann_recall" -> Query((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val q = e.where(col("vec_id") < 5)
      val c = e.where(col("vec_id") >= 5)
      Similarity.recallAtK(
          Similarity.lshTopK(q, c, "vec_id", "embedding", 3, EmbDim),
          Similarity.bruteForceTopK(q, c, "vec_id", "embedding", 3), 3)
        .select(col("query_id"), col("n_hits"),
          round(col("recall"), 6).as("recall"))
    },
      // Both top-3 CTEs replayed (brute = ground truth, LSH =
      // approx), intersected per query; left join keeps recall-0 rows.
      s"""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
          |c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id >= 5),
          |sb AS (
          |  SELECT query_id, neighbor_id,
          |    list_dot_product(qv, cv) /
          |      (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cosine
          |  FROM q CROSS JOIN c
          |), gt AS (
          |  SELECT query_id, neighbor_id FROM (
          |    SELECT query_id, neighbor_id,
          |      row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
          |    FROM sb) WHERE rnk <= 3
          |),
          |qb AS (SELECT query_id, qv, ${lshBucketSql("qv")} AS bucket FROM q),
          |cb AS (SELECT neighbor_id, cv, ${lshBucketSql("cv")} AS bucket FROM c),
          |sl AS (
          |  SELECT query_id, neighbor_id,
          |    list_dot_product(qv, cv) /
          |      (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cosine
          |  FROM cb JOIN qb USING (bucket)
          |), ap AS (
          |  SELECT query_id, neighbor_id FROM (
          |    SELECT query_id, neighbor_id,
          |      row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
          |    FROM sl) WHERE rnk <= 3
          |)
          |SELECT gt.query_id,
          |  CAST(count(ap.neighbor_id) AS BIGINT) AS n_hits,
          |  round(CAST(count(ap.neighbor_id) AS DOUBLE) / 3, 6) AS recall
          |FROM gt LEFT JOIN ap ON gt.query_id = ap.query_id
          |  AND gt.neighbor_id = ap.neighbor_id
          |GROUP BY gt.query_id ORDER BY gt.query_id""".stripMargin),
    // NDCG@3 of the LSH ranking vs brute truth (op 318; the
    // POSITION-aware companion to op 158's recall — recall can't see
    // that the one true neighbor sits at rank 3, NDCG can). Binary
    // relevance against the exact top-3; the rank discounts
    // 1/log2(i+1) are PRECOMPUTED 1e-9-grid integer constants
    // (1e9, 630929754, 5e8 — no libm in either engine), so per-query
    // DCG is an exact long sum and NDCG one double division by the
    // constant ideal (2130929754). Queries whose LSH buckets return
    // nothing keep a 0 row via the left join from the query set.
    "ann_ndcg" -> Query((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val q = e.where(col("vec_id") < 5)
      val c = e.where(col("vec_id") >= 5)
      val gt = Similarity.bruteForceTopK(q, c, "vec_id", "embedding", 3)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("rel"))
      val disc = when(col("rank") === 1, 1000000000L)
        .when(col("rank") === 2, 630929754L).otherwise(500000000L)
      val scored = Similarity.lshTopK(q, c, "vec_id", "embedding", 3, EmbDim)
        .join(gt, Seq("query_id", "neighbor_id"), "left")
        .withColumn("g", coalesce(col("rel"), lit(0L)) * disc)
        .groupBy(col("query_id"))
        .agg(sum(col("g")).as("dcg"),
          sum(coalesce(col("rel"), lit(0L))).as("n_hits"))
      q.select(col("vec_id").as("query_id"))
        .join(scored, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          round(coalesce(col("dcg"), lit(0L)).cast("double")
            / 2130929754.0, 6).as("ndcg"))
    },
      // op 318: same integer discount table over the same LSH/brute
      // CTEs; per-query DCG an exact long sum, one double division.
      s"""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
          |c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id >= 5),
          |sb AS (
          |  SELECT query_id, neighbor_id,
          |    list_dot_product(qv, cv) /
          |      (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cosine
          |  FROM q CROSS JOIN c
          |), gt AS (
          |  SELECT query_id, neighbor_id FROM (
          |    SELECT query_id, neighbor_id,
          |      row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
          |    FROM sb) WHERE rnk <= 3
          |),
          |qb AS (SELECT query_id, qv, ${lshBucketSql("qv")} AS bucket FROM q),
          |cb AS (SELECT neighbor_id, cv, ${lshBucketSql("cv")} AS bucket FROM c),
          |sl AS (
          |  SELECT query_id, neighbor_id,
          |    list_dot_product(qv, cv) /
          |      (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cosine
          |  FROM cb JOIN qb USING (bucket)
          |), ap AS (
          |  SELECT query_id, neighbor_id, rnk FROM (
          |    SELECT query_id, neighbor_id,
          |      row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
          |    FROM sl) WHERE rnk <= 3
          |), sc AS (
          |  SELECT ap.query_id,
          |    sum(CASE WHEN gt.neighbor_id IS NOT NULL THEN
          |      CASE ap.rnk WHEN 1 THEN 1000000000
          |                  WHEN 2 THEN 630929754 ELSE 500000000 END
          |      ELSE 0 END) AS dcg,
          |    CAST(sum(CASE WHEN gt.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
          |      AS BIGINT) AS n_hits
          |  FROM ap LEFT JOIN gt ON gt.query_id = ap.query_id
          |    AND gt.neighbor_id = ap.neighbor_id
          |  GROUP BY ap.query_id
          |)
          |SELECT q.query_id,
          |  coalesce(n_hits, 0) AS n_hits,
          |  round(CAST(coalesce(dcg, 0) AS DOUBLE) / 2130929754.0, 6) AS ndcg
          |FROM q LEFT JOIN sc ON sc.query_id = q.query_id
          |ORDER BY q.query_id""".stripMargin),
    // IVF tuning curve (op 237, the op-168 recall evaluation swept
    // over nProbe): recall@3 vs exact ground truth at nProbe ∈
    // {1,2,4} — the measured probe/recall trade every IVF deployment
    // sizes against (recall rises with probes, cost is
    // nProbe·n/nCells). Ground truth computed ONCE; mean recall is
    // the exact integer ratio Σhits/(3·queries).
    "ann_recall_vs_probes" -> Query((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val q = e.where(col("vec_id") < 5)
      val c = e.where(col("vec_id") >= 5)
      // r14: the IVF index (centroids + cell-assigned corpus) is
      // IDENTICAL across the three probe settings — build it ONCE and
      // pin it (the ivfCorpusIndex "materialize the index relations"
      // convention) instead of re-running the N·√n assignment pass per
      // probe point; pin the exact baseline too (Catalyst re-plans a
      // shared DataFrame subtree per consumer). Same deterministic
      // index → identical recall rows.
      val (cent0, cells0) =
        Similarity.ivfCorpusIndex(c, "vec_id", "embedding", nCells = 16)
      val cent = cent0.localCheckpoint()
      val cells = cells0.localCheckpoint()
      val exact = Similarity.bruteForceTopK(q, c, "vec_id", "embedding", 3)
        .localCheckpoint()
      Seq(1, 2, 4).map { p =>
        Similarity.recallAtK(
            Similarity.ivfSearchIndexed(q, "vec_id", "embedding", 3,
              nProbe = p, cent, cells),
            exact, 3)
          .agg(count(lit(1)).as("n_queries"),
            sum(col("n_hits")).as("total_hits"))
          .select(lit(p).as("n_probe"), col("n_queries"), col("total_hits"),
            round(col("total_hits").cast("double") /
              (col("n_queries") * 3).cast("double"), 6).as("recall"))
      }.reduce(_.unionByName(_))
    },
      // op 237: the ivfOracle chain with qr swept over the probe
      // levels via a lateral probe-level join; hits vs the shared
      // brute ground truth.
      """WITH c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id >= 5),
          |cent AS (SELECT neighbor_id AS cell_id, cv AS centv FROM c ORDER BY neighbor_id LIMIT 16),
          |ccells AS (
          |  SELECT neighbor_id, cv, cell_id FROM (
          |    SELECT c.neighbor_id, c.cv, cent.cell_id,
          |      row_number() OVER (PARTITION BY c.neighbor_id ORDER BY
          |        list_dot_product(c.cv, cent.centv) /
          |          (sqrt(list_dot_product(c.cv, c.cv)) * sqrt(list_dot_product(cent.centv, cent.centv))) DESC,
          |        cent.cell_id) AS cr
          |    FROM c CROSS JOIN cent
          |  ) WHERE cr <= 1
          |),
          |q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
          |sb AS (
          |  SELECT query_id, neighbor_id,
          |    list_dot_product(qv, cv) /
          |      (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cosine
          |  FROM q CROSS JOIN c
          |), gt AS (
          |  SELECT query_id, neighbor_id FROM (
          |    SELECT query_id, neighbor_id,
          |      row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
          |    FROM sb) WHERE rnk <= 3
          |), pr AS (
          |  SELECT query_id, qv, cell_id,
          |    row_number() OVER (PARTITION BY query_id ORDER BY
          |      list_dot_product(qv, centv) /
          |        (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(centv, centv))) DESC,
          |      cell_id) AS qr
          |  FROM q CROSS JOIN cent
          |), lv AS (SELECT unnest([1, 2, 4]) AS n_probe),
          |cand AS (
          |  SELECT lv.n_probe, pr.query_id, ccells.neighbor_id,
          |    list_dot_product(pr.qv, ccells.cv) /
          |      (sqrt(list_dot_product(pr.qv, pr.qv)) * sqrt(list_dot_product(ccells.cv, ccells.cv))) AS cosine
          |  FROM pr JOIN lv ON pr.qr <= lv.n_probe
          |  JOIN ccells ON pr.cell_id = ccells.cell_id
          |), ap AS (
          |  SELECT n_probe, query_id, neighbor_id FROM (
          |    SELECT n_probe, query_id, neighbor_id,
          |      row_number() OVER (PARTITION BY n_probe, query_id ORDER BY cosine DESC, neighbor_id) AS rnk
          |    FROM cand) WHERE rnk <= 3
          |), h AS (
          |  SELECT n_probe, count(*) AS total_hits
          |  FROM ap JOIN gt USING (query_id, neighbor_id) GROUP BY n_probe
          |)
          |SELECT lv.n_probe, (SELECT count(*) FROM q) AS n_queries,
          |  CAST(COALESCE(h.total_hits, 0) AS BIGINT) AS total_hits,
          |  round(CAST(COALESCE(h.total_hits, 0) AS DOUBLE) /
          |        CAST((SELECT count(*) FROM q) * 3 AS DOUBLE), 6) AS recall
          |FROM lv LEFT JOIN h USING (n_probe) ORDER BY lv.n_probe""".stripMargin),
    "ann_topk_ivf" -> Query((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      Similarity.ivfTopK(
          e.where(col("vec_id") < 5), e.where(col("vec_id") >= 5),
          "vec_id", "embedding", 3)
        .withColumn("rnk", col("rank").cast("long")).drop("rank")
        .select(col("query_id"), col("rnk"), col("neighbor_id"), col("cosine"))
    },
      ivfOracle(labeled = false)),
    "ann_topk_pq" -> Query((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      graft.operators.Pq.adcTopK(
          e.where(col("vec_id") < 5), e.where(col("vec_id") >= 5),
          "vec_id", "embedding", 3)
        .withColumn("rnk", col("rank").cast("long")).drop("rank")
        .select(col("query_id"), col("rnk"), col("neighbor_id"), col("adc_d2"))
    },
      (s"WITH $PQ_CTES, " +
          "q AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 5), " +
          "dt AS (SELECT qs.id AS query_id, cb.sub, cb.cid, " +
          "CAST(floor((list_dot_product(qs.sv, qs.sv) - 2 * list_dot_product(qs.sv, cb.cv) " +
          "+ list_dot_product(cb.cv, cb.cv)) * 1e6 + 0.5) AS BIGINT) AS d2q " +
          "FROM (SELECT id, s.range AS sub, list_slice(v, s.range*8 + 1, s.range*8 + 8) AS sv " +
          "FROM q, range(0, 8) s) qs JOIN cb ON qs.sub = cb.sub), " +
          "adc AS (SELECT dt.query_id, enc.id AS neighbor_id, sum(dt.d2q) AS sq " +
          "FROM enc JOIN dt ON enc.sub = dt.sub AND enc.code = dt.cid " +
          "GROUP BY dt.query_id, enc.id) " +
          "SELECT query_id, r AS rnk, neighbor_id, CAST(sq AS DOUBLE) / 1e6 AS adc_d2 FROM (" +
          "SELECT query_id, neighbor_id, sq, row_number() OVER (PARTITION BY query_id " +
          "ORDER BY sq, neighbor_id) AS r FROM adc) WHERE r <= 3 " +
          "ORDER BY query_id, rnk")),
    "ann_topk_ivfpq" -> Query((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      graft.operators.Pq.ivfAdcTopK(
          e.where(col("vec_id") < 5), e.where(col("vec_id") >= 5),
          "vec_id", "embedding", 3, nCells = 16, nProbe = 4)
        .withColumn("rnk", col("rank").cast("long")).drop("rank")
        .select(col("query_id"), col("rnk"), col("neighbor_id"), col("adc_d2"))
    },
      // IVF+PQ: same enc/dt as ann_topk_pq, with the ADC join gated by
      // the corpus cell assignment × the query's nProbe probed cells.
      (s"WITH $PQ_CTES, " +
          "cells AS (SELECT id AS cell_id, v AS centv FROM v ORDER BY id LIMIT 16), " +
          "cc AS (SELECT id, cell_id FROM (" +
          "SELECT v.id, cells.cell_id, row_number() OVER (PARTITION BY v.id " +
          "ORDER BY list_dot_product(cells.centv, cells.centv) " +
          "- 2 * list_dot_product(v.v, cells.centv), cells.cell_id) AS r " +
          "FROM v CROSS JOIN cells) WHERE r = 1), " +
          "q AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 5), " +
          "qc AS (SELECT qid, cell_id FROM (" +
          "SELECT q.id AS qid, cells.cell_id, row_number() OVER (PARTITION BY q.id " +
          "ORDER BY list_dot_product(cells.centv, cells.centv) " +
          "- 2 * list_dot_product(q.v, cells.centv), cells.cell_id) AS r " +
          "FROM q CROSS JOIN cells) WHERE r <= 4), " +
          "dt AS (SELECT qs.id AS query_id, cb.sub, cb.cid, " +
          "CAST(floor((list_dot_product(qs.sv, qs.sv) - 2 * list_dot_product(qs.sv, cb.cv) " +
          "+ list_dot_product(cb.cv, cb.cv)) * 1e6 + 0.5) AS BIGINT) AS d2q " +
          "FROM (SELECT id, s.range AS sub, list_slice(v, s.range*8 + 1, s.range*8 + 8) AS sv " +
          "FROM q, range(0, 8) s) qs JOIN cb ON qs.sub = cb.sub), " +
          "adc AS (SELECT dt.query_id, enc.id AS neighbor_id, sum(dt.d2q) AS sq " +
          "FROM enc JOIN cc ON enc.id = cc.id JOIN qc ON cc.cell_id = qc.cell_id " +
          "JOIN dt ON enc.sub = dt.sub AND enc.code = dt.cid AND qc.qid = dt.query_id " +
          "GROUP BY dt.query_id, enc.id) " +
          "SELECT query_id, r AS rnk, neighbor_id, CAST(sq AS DOUBLE) / 1e6 AS adc_d2 FROM (" +
          "SELECT query_id, neighbor_id, sq, row_number() OVER (PARTITION BY query_id " +
          "ORDER BY sq, neighbor_id) AS r FROM adc) WHERE r <= 3 " +
          "ORDER BY query_id, rnk")),
    "ann_topk_hamming" -> Query((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      graft.operators.Embed.hammingTopK(
          e.where(col("vec_id") < 5), e.where(col("vec_id") >= 5),
          "vec_id", "embedding", 3)
        .withColumn("rnk", col("rank").cast("long")).drop("rank")
        .select(col("query_id"), col("rnk"), col("neighbor_id"),
          col("hamming"))
    },
      ("WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings), " +
          "e AS (SELECT id, unnest(range(0, len(v))) AS pos, unnest(v) AS x FROM v), " +
          "bw AS (SELECT id, CAST(floor(pos / 32.0) AS BIGINT) AS w, " +
          "CAST(sum(CASE WHEN x > 0 THEN CAST(pow(2.0, pos % 32) AS BIGINT) ELSE 0 END) " +
          "AS BIGINT) AS word FROM e GROUP BY 1, 2), " +
          "hd AS (SELECT q.id AS query_id, n.id AS neighbor_id, " +
          "CAST(sum(bit_count(xor(q.word, n.word))) AS BIGINT) AS hamming " +
          "FROM bw q JOIN bw n ON q.w = n.w AND q.id < 5 AND n.id >= 5 " +
          "GROUP BY q.id, n.id) " +
          "SELECT query_id, r AS rnk, neighbor_id, hamming FROM (" +
          "SELECT query_id, neighbor_id, hamming, row_number() OVER (" +
          "PARTITION BY query_id ORDER BY hamming, neighbor_id) AS r FROM hd) " +
          "WHERE r <= 3 ORDER BY query_id, rnk")),
    // kNN-graph hubness (op 218): the in-degree distribution of the
    // op-150 directed top-k graph — hubs (points that appear in
    // many neighbor lists) are the known failure mode of
    // high-dimensional kNN (Radovanović et al. 2010) and the thing
    // SemDeDup/prune thresholds must be robust to. Left join keeps
    // in-degree-0 nodes; two keyed integer aggs.
    "ann_hubness" -> Query((s, dir) => {
      val g = Similarity.knnGraph(tbl(s, dir, "embeddings"), "vec_id",
        "embedding", 3, EmbDim, planes = annPlanes(s))
      val deg = tbl(s, dir, "embeddings").select(col("vec_id"))
        .join(g.groupBy(col("neighbor_id")).agg(count(lit(1)).as("d")),
          col("vec_id") === col("neighbor_id"), "left")
        .select(coalesce(col("d"), lit(0L)).as("in_deg"))
      deg.groupBy(col("in_deg")).agg(count(lit(1)).as("n_nodes"))
    },
      // op 218: the op-150 graph re-aggregated to in-degrees, with a
      // left join keeping in-degree-0 nodes.
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          |t0 AS (
          |  SELECT vec_id, v, 0 AS tbl, ${lshBucketSqlAt("v", 0, 4)} AS bucket FROM e
          |  UNION ALL
          |  SELECT vec_id, v, 4 AS tbl, ${lshBucketSqlAt("v", 4, 4)} AS bucket FROM e
          |), t AS (
          |  SELECT * FROM (
          |    SELECT *, count(*) OVER (PARTITION BY tbl, bucket) AS bc FROM t0
          |  ) WHERE bc <= 10000
          |), p AS (
          |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
          |    max(list_dot_product(a.v, b.v) /
          |        (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))) AS cosine
          |  FROM t a JOIN t b ON a.tbl = b.tbl AND a.bucket = b.bucket
          |  WHERE b.vec_id <> a.vec_id
          |  GROUP BY 1, 2
          |), r AS (
          |  SELECT query_id, neighbor_id,
          |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
          |  FROM p
          |), deg AS (
          |  SELECT e.vec_id, COALESCE(d.d, 0) AS in_deg
          |  FROM e LEFT JOIN (
          |    SELECT neighbor_id, count(*) AS d FROM r WHERE rnk <= 3 GROUP BY 1
          |  ) d ON e.vec_id = d.neighbor_id
          |)
          |SELECT in_deg, count(*) AS n_nodes
          |FROM deg GROUP BY in_deg ORDER BY in_deg""".stripMargin)
  )
}
