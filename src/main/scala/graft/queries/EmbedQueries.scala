package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{dot, let, SMAX}
import graft.operators.{Cluster, PageRank, Similarity}

/** Embedding-store compression, clustering and graph operators. */
object EmbedQueries {

  /** Centered 1e-4-quantized embedding rows and the top principal
    * direction after 5 quantized power iterations + one final
    * multiply — the shared engine of embed_power_iter (op 198) and
    * embed_whitening (op 327). Returns (means(pos, mu, n, sxx, sx),
    * rows(id, xqa), top(nrm, va)); `top` is ONE row: the last product's
    * norm and the quantized direction `va` in pos order. See op 198's
    * scaladoc for the exactness/headroom argument (every iteration an
    * integer fold, norms through DECIMAL(19,0)², bit-for-bit on any
    * engine).
    */
  private def embTopPc(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val ex = tbl(s, dir, "embeddings")
      .select(col("vec_id").as("id"),
        posexplode(col("embedding").cast("array<double>"))
          .as(Seq("pos", "x")))
      .withColumn("xq0", floor(col("x") * 1e4 + 0.5).cast("long"))
    val means = ex.groupBy(col("pos"))
      .agg((sum(col("xq0")).cast("double") / count(lit(1)) / 1e4).as("mu"),
        count(lit(1)).as("n"),
        sum(col("xq0") * col("xq0")).as("sxx"), sum(col("xq0")).as("sx"))
    // `rows` is read by every power step: pin it (the Dedup.clusters
    // idiom) so the explode + centering + array assembly runs once, not
    // once per step. It is the one corpus-sized pin and the natural
    // restart point; at cluster scale swap for `checkpoint` (the
    // SemDeDup convention, Cluster.semanticDedupVerdict).
    val rows = ex.join(broadcast(means.select(col("pos"), col("mu"))), "pos")
      .withColumn("xq", floor((col("x") - col("mu")) * 1e4 + 0.5)
        .cast("long"))
      .groupBy(col("id"))
      .agg(transform(array_sort(collect_list(struct(col("pos"),
          col("xq")))), e => e.getField("xq")).as("xqa"))
      .localCheckpoint()
    // One power step on the one-row iterate `va`: per pos,
    // w = Σ_rows xq·⌊xq·va/1e4⌋, then va' = round(w/|w|·1e4) with |w|
    // summed exactly in DECIMAL(19,0)².
    def step(state: DataFrame): DataFrame = rows.crossJoin(broadcast(state))
      .select(posexplode(col("xqa")).as(Seq("pos", "xqe")),
        floor(dot(col("xqa"), col("va"), lit(0L)) / 1e4).cast("long")
          .as("ssc"))
      .groupBy(col("pos")).agg(sum(col("xqe") * col("ssc")).as("w"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("w")))),
        e => e.getField("w")).as("w"))
      .select(let(sqrt(aggregate(col("w"), lit(0).cast("decimal(38,0)"),
          (acc, w) => acc + w.cast("decimal(19,0)") * w.cast("decimal(19,0)"))
          .cast("double"))) { nrm =>
        struct(nrm.as("nrm"), transform(col("w"), w =>
          floor(w.cast("double") / nrm * 1e4 + 0.5).cast("long")).as("va"))
      }.as("top"))
      .select(col("top.nrm"), col("top.va"))
    val v0 = rows.agg(array_repeat(
      lit(math.floor(1.0 / 8.0 * 1e4 + 0.5).toLong),
      max(size(col("xqa")))).as("va"))
    (means, rows, (1 to 6).foldLeft(v0)((v, _) => step(v)))
  }

  /** CTE chain replaying Pq.encode(iters = n) — grouped Lloyd over
    * all m=8 subspaces at once (op 95): v, sv, c0, (a1, c1), …, enc.
    * Same conventions as kmeansCtes with `sub` in every partition and
    * group key. Plain concatenation — no stripMargin.
    */
  private def pqTrainedCtes(k: Int, iters: Int): String = {
    def assign(a: String, c: String, out: String) =
      s"$a AS (SELECT $out FROM (" +
        s"SELECT sv.id, sv.sub, c.cid, sv.sv, row_number() OVER (PARTITION BY sv.id, sv.sub " +
        "ORDER BY list_dot_product(c.cv, c.cv) - 2 * list_dot_product(sv.sv, c.cv), " +
        s"c.cid) AS r FROM sv JOIN $c c ON sv.sub = c.sub) WHERE r = 1)"
    def update(a: String, c: String) =
      s"$c AS (SELECT sub, cid, list(comp ORDER BY pos) AS cv FROM (" +
        "SELECT sub, cid, pos, CAST(sum(qv) AS DOUBLE) / count(*) / 1e6 AS comp FROM (" +
        "SELECT sub, cid, unnest(range(1, len(sv) + 1)) AS pos, " +
        "unnest(list_transform(sv, x -> CAST(floor(x * 1e6 + 0.5) AS BIGINT))) AS qv " +
        s"FROM $a) GROUP BY sub, cid, pos) GROUP BY sub, cid)"
    val mid = (1 to iters)
      .map(t => assign(s"a$t", s"c${t - 1}", "id, sub, cid, sv") + ", " +
        update(s"a$t", s"c$t"))
      .mkString(", ")
    "v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id >= 5), " +
      "sv AS (SELECT id, s.range AS sub, list_slice(v, s.range*8 + 1, s.range*8 + 8) AS sv " +
      "FROM v, range(0, 8) s), " +
      s"c0 AS (SELECT s.range AS sub, seed.id AS cid, " +
      "list_slice(seed.v, s.range*8 + 1, s.range*8 + 8) AS cv " +
      s"FROM (SELECT id, v FROM v ORDER BY id LIMIT $k) seed, range(0, 8) s), " +
      mid + ", " +
      assign("enc", s"c$iters", "id, sub, cid AS code")
  }

  val registry: Seq[(String, Registration)] = Seq(
    // MMR diversity rerank (op 365; Carbonell/Goldstein 1998): pick 3
    // of each query's top-10 brute candidates greedily by λ·rel −
    // (1−λ)·max-sim-to-selected — the dedupe-aware retrieval the raw
    // top-k can't do (near-identical neighbors crowd out coverage).
    // λ = 0.7 as INTEGER algebra: relevance and pair cosines quantize
    // to 1e-9 longs, score = 7·relq − 3·simq (exact ×10), ties →
    // smallest id. Each query is ONE row holding its candidates and
    // their 10×10 quantized similarity grid; the 3 picks run as an
    // `aggregate` over that row and replay bit-for-bit. At 100 TB the
    // candidate set comes from the ANN index; the rerank touches k²
    // pairs per query.
    "embed_mmr_rerank" -> Query((s, dir) => {
      import graft.expressions.DotProduct
      def cos(a: Column, b: Column) = DotProduct(a, b) /
        (sqrt(DotProduct(a, a)) * sqrt(DotProduct(b, b)))
      def q9(x: Column) = floor(x * 1e9 + lit(0.5)).cast("long")
      val nCand = 10
      require(nCand <= SMAX, s"MMR candidate count $nCand exceeds SMAX = $SMAX")
      val emb = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val q = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("v").as("qv"))
      val c = emb.where(col("vec_id") >= 5)
        .select(col("vec_id").as("neighbor_id"), col("v").as("cv"))
      val wq = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("neighbor_id"))
      val cand = c.crossJoin(broadcast(q))
        .withColumn("cosine", cos(col("qv"), col("cv")))
        .withColumn("rnk", row_number().over(wq)).where(col("rnk") <= nCand)
        .groupBy(col("query_id"))
        .agg(array_sort(collect_list(struct(col("neighbor_id"), col("cv"),
          q9(col("cosine")).as("relq"), col("cosine")))).as("c"))
      val cs = col("c")
      // sim(i)(j) = quantized cosine of candidate i to candidate j
      val grid = transform(cs, a =>
        transform(cs, b => q9(cos(a("cv"), b("cv")))))
      // the best unpicked candidate index, ties → smallest id; null once
      // every candidate is picked
      def best(sim: Column, picked: Column): Column = {
        def score(i: Column) = when(size(picked) === 0, cs(i)("relq"))
          .otherwise(lit(7) * cs(i)("relq") -
            lit(3) * array_max(transform(picked, p => sim(i)(p))))
        array_min(transform(
          filter(sequence(lit(0), size(cs) - 1),
            i => !array_contains(picked, i)),
          i => struct((-score(i)).as("k"), cs(i)("neighbor_id").as("id"),
            i.as("i"))))("i")
      }
      cand.select(col("query_id"), cs, let(grid) { sim =>
          aggregate(sequence(lit(1), lit(3)), array().cast("array<int>"),
            (picked, _) => concat(picked, array(best(sim, picked))))
        }.as("picked"))
        .select(col("query_id"), cs,
          posexplode(col("picked")).as(Seq("p", "i")))
        .where(col("i").isNotNull)
        .select(col("query_id"), (col("p") + 1).cast("long").as("pick"),
          cs(col("i"))("neighbor_id").as("neighbor_id"),
          round(cs(col("i"))("cosine"), 6).as("cosine"))
    },
      // op 365: same brute top-10, same 1e-9 quantization, same
      // 7·rel − 3·maxsim integer greedy unrolled 3 steps.
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
          |c AS (SELECT vec_id AS neighbor_id, v AS cv FROM e WHERE vec_id >= 5),
          |sc AS (
          |  SELECT query_id, neighbor_id, cv,
          |    list_dot_product(qv, cv) /
          |      (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))
          |      AS cosine
          |  FROM c CROSS JOIN q
          |), top AS (
          |  SELECT query_id, neighbor_id, cv, cosine,
          |    CAST(floor(cosine * 1e9 + 0.5) AS BIGINT) AS relq
          |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
          |    ORDER BY cosine DESC, neighbor_id) AS rnk FROM sc)
          |  WHERE rnk <= 10
          |), pair AS (
          |  SELECT a.query_id, a.neighbor_id AS ni, b.neighbor_id AS nj,
          |    CAST(floor(list_dot_product(a.cv, b.cv) /
          |      (sqrt(list_dot_product(a.cv, a.cv))
          |       * sqrt(list_dot_product(b.cv, b.cv))) * 1e9 + 0.5)
          |      AS BIGINT) AS simq
          |  FROM top a JOIN top b
          |    ON a.query_id = b.query_id AND a.neighbor_id <> b.neighbor_id
          |), p1 AS (
          |  SELECT query_id, neighbor_id AS s1 FROM (
          |    SELECT query_id, neighbor_id, row_number() OVER (
          |      PARTITION BY query_id ORDER BY relq DESC, neighbor_id) AS r
          |    FROM top) WHERE r = 1
          |), r2 AS (
          |  SELECT t.query_id, t.neighbor_id,
          |    7 * t.relq - 3 * p.simq AS score
          |  FROM top t
          |  JOIN p1 ON p1.query_id = t.query_id AND t.neighbor_id <> p1.s1
          |  JOIN pair p ON p.query_id = t.query_id
          |    AND p.ni = t.neighbor_id AND p.nj = p1.s1
          |), p2 AS (
          |  SELECT query_id, neighbor_id AS s2 FROM (
          |    SELECT query_id, neighbor_id, row_number() OVER (
          |      PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS r
          |    FROM r2) WHERE r = 1
          |), r3 AS (
          |  SELECT t.query_id, t.neighbor_id,
          |    7 * t.relq - 3 * greatest(pa.simq, pb.simq) AS score
          |  FROM top t
          |  JOIN p1 ON p1.query_id = t.query_id AND t.neighbor_id <> p1.s1
          |  JOIN p2 ON p2.query_id = t.query_id AND t.neighbor_id <> p2.s2
          |  JOIN pair pa ON pa.query_id = t.query_id
          |    AND pa.ni = t.neighbor_id AND pa.nj = p1.s1
          |  JOIN pair pb ON pb.query_id = t.query_id
          |    AND pb.ni = t.neighbor_id AND pb.nj = p2.s2
          |), p3 AS (
          |  SELECT query_id, neighbor_id AS s3 FROM (
          |    SELECT query_id, neighbor_id, row_number() OVER (
          |      PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS r
          |    FROM r3) WHERE r = 1
          |), picks AS (
          |  SELECT query_id, CAST(1 AS BIGINT) AS pick, s1 AS neighbor_id
          |    FROM p1
          |  UNION ALL SELECT query_id, 2, s2 FROM p2
          |  UNION ALL SELECT query_id, 3, s3 FROM p3
          |)
          |SELECT picks.query_id, pick, picks.neighbor_id,
          |  round(top.cosine, 6) AS cosine
          |FROM picks JOIN top
          |  ON top.query_id = picks.query_id
          |  AND top.neighbor_id = picks.neighbor_id
          |ORDER BY picks.query_id, pick""".stripMargin),
    // ---- product quantization (op 87): codes + ADC search
    "embed_pq_codes" -> Query((s, dir) =>
      graft.operators.Pq.encode(
          tbl(s, dir, "embeddings").where(col("vec_id") >= 5),
          "vec_id", "embedding")
        .select(col("id").as("vec_id"), col("sub").cast("long").as("sub"),
          col("code")),
      (s"WITH $PQ_CTES SELECT id AS vec_id, sub, code FROM enc " +
          "ORDER BY vec_id, sub")),
    "embed_pq_trained" -> Query((s, dir) =>
      graft.operators.Pq.encode(
          tbl(s, dir, "embeddings").where(col("vec_id") >= 5),
          "vec_id", "embedding", iters = 2)
        .select(col("id").as("vec_id"), col("sub").cast("long").as("sub"),
          col("code")),
      (s"WITH ${pqTrainedCtes(16, 2)} " +
          "SELECT id AS vec_id, sub, code FROM enc ORDER BY vec_id, sub")),
    // PageRank over the op-150 kNN graph (op 317; corpus centrality —
    // the representative-document signal cluster-based curation ranks
    // by): graft.operators.PageRank.integerRank, the unweighted case
    // (wt = 1, st = out-degree), 3 iterations on the ≤3N-row edge
    // relation; the graph build is the one data-sized stage (same
    // capped-bucket shape as op 150).
    "embed_pagerank" -> Query((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      // r15 note: pinning `edges` itself before this join was tried
      // and measured FLAT (interleaved min-of-3, 2.72 → 2.83 s) — the
      // two edge legs sit inside ONE plan here, where ReuseExchange
      // can share the identical pairs-aggregation subtree, unlike the
      // cross-action re-derivations the r14/r15 pins target. Reverted
      // per the r14 rule: keep only pins that pay for their
      // materialization.
      val edges = Similarity.knnGraph(emb, "vec_id", "embedding", 3,
          EmbDim, planes = annPlanes(s))
        .select(col("query_id").as("src"), col("neighbor_id").as("dst"))
      PageRank.integerRank(
          emb.select(col("vec_id").as("node")),
          edges.join(edges.groupBy(col("src")).agg(count(lit(1)).as("st")), "src")
            .withColumn("wt", lit(1L)))
        .select(col("node").as("vec_id"),
          (col("rq").cast("double") / 1e9).as("pagerank"))
    },
      // op 317: the op-150 edge CTE verbatim, then 3 PageRank
      // iterations unrolled — every step integer division on the 1e-9
      // grid (// is BIGINT floor division; both engines drop identical
      // remainders), so ranks match bit-for-bit.
      {
        val iters = (1 to 3).map { i =>
          s"""i$i AS (
             |  SELECT dst, sum(rq // od) AS inflow
             |  FROM g JOIN od USING (src)
             |  JOIN r${i - 1} ON r${i - 1}.vec_id = g.src
             |  GROUP BY dst
             |), r$i AS (
             |  SELECT emb.vec_id,
             |    150000000 // nn + (17 * coalesce(inflow, 0)) // 20 AS rq
             |  FROM (SELECT vec_id FROM embeddings) emb CROSS JOIN nn
             |  LEFT JOIN i$i ON i$i.dst = emb.vec_id
             |)""".stripMargin
        }.mkString(", ")
        s"""WITH $KNN_EDGE_CTES, od AS (SELECT src, count(*) AS od FROM g GROUP BY src),
          |nn AS (SELECT count(*) AS nn FROM embeddings),
          |r0 AS (
          |  SELECT vec_id, 1000000000 // nn AS rq
          |  FROM embeddings CROSS JOIN nn
          |), $iters
          |SELECT vec_id, CAST(rq AS DOUBLE) / 1e9 AS pagerank
          |FROM r3 ORDER BY vec_id""".stripMargin
      }),
    "embed_kmeans" -> Query((s, dir) =>
      Cluster.kmeans(tbl(s, dir, "embeddings"), "vec_id", "embedding",
          k = 8, iters = 2)
        .select(col("id").as("vec_id"), col("cluster")),
      (s"WITH ${kmeansCtes("SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings", 8, 2)} " +
          "SELECT id AS vec_id, cid AS cluster FROM akm ORDER BY vec_id")),
    // Cluster quality vs ground truth (op 389): purity and NMI of
    // the op-85 k-means assignment against the embeddings' labels —
    // the representation-eval report run after every re-embed. The
    // contingency table is (k × labels)-sized; purity is an exact
    // rational, NMI's ln terms are identical doubles from exact
    // integer counts (the op-155 log-parity precedent).
    "embed_cluster_purity" -> Query((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      // r14: the contingency table feeds FIVE consumers (row/col/total
      // margins, purity, MI) — pin it so the iters+1-pass Lloyd chain
      // upstream runs once, not once per consumer (op-317 convention;
      // the pinned relation is ≤ k·|labels| rows — flat in corpus,
      // SCALE §19). At cluster scale swap for `checkpoint` (the
      // SemDeDup convention, Cluster.semanticDedupVerdict).
      val ct = Cluster.kmeans(e, "vec_id", "embedding", k = 8, iters = 2)
        .join(e.select(col("vec_id").as("id"), col("label")), "id")
        .groupBy(col("cluster"), col("label")).agg(count(lit(1)).as("n"))
        .localCheckpoint()
      val rowT = ct.groupBy(col("cluster")).agg(sum(col("n")).as("nc"))
      val colT = ct.groupBy(col("label")).agg(sum(col("n")).as("nl"))
      val nT = ct.agg(sum(col("n")).as("nn"))
      val nD = col("nn").cast("double")
      val pur = ct.groupBy(col("cluster")).agg(max(col("n")).as("mx"))
        .agg(sum(col("mx")).as("pur_num"))
      val hC = rowT.crossJoin(broadcast(nT))
        .agg(sum(-(col("nc").cast("double") / nD)
          * log(col("nc").cast("double") / nD)).as("h_c"))
      val hL = colT.crossJoin(broadcast(nT))
        .agg(sum(-(col("nl").cast("double") / nD)
          * log(col("nl").cast("double") / nD)).as("h_l"))
      val mi = ct.join(broadcast(rowT), "cluster")
        .join(broadcast(colT), "label").crossJoin(broadcast(nT))
        .agg(sum((col("n").cast("double") / nD)
          * log(nD * col("n").cast("double")
            / (col("nc").cast("double") * col("nl").cast("double"))))
          .as("mi"))
      val nClus = rowT.agg(count(lit(1)).as("n_clusters"))
      pur.crossJoin(hC).crossJoin(hL).crossJoin(mi)
        .crossJoin(nT).crossJoin(nClus)
        .select(col("nn").as("n"), col("n_clusters"),
          (floor(col("pur_num").cast("double") / nD * 1e6 + 0.5) / 1e6)
            .as("purity"),
          (round(when(col("h_c") > 0 && col("h_l") > 0,
            col("mi") / sqrt(col("h_c") * col("h_l"))), 6) + lit(0.0))
            .as("nmi"))
    },
      // op 389: the op-85 assignment replay joined to labels — exact
      // integer contingency, the same ln composition (round 6).
      (s"WITH ${kmeansCtes("SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings", 8, 2)}, " +
          """ct AS (
            |  SELECT akm.cid AS cluster, e.label, count(*) AS n
            |  FROM akm JOIN embeddings e ON e.vec_id = akm.id
            |  GROUP BY akm.cid, e.label
            |), rowt AS (SELECT cluster, CAST(sum(n) AS BIGINT) AS nc FROM ct GROUP BY cluster),
            |colt AS (SELECT label, CAST(sum(n) AS BIGINT) AS nl FROM ct GROUP BY label),
            |nt AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM ct),
            |pur AS (
            |  SELECT CAST(sum(mx) AS BIGINT) AS pur_num
            |  FROM (SELECT cluster, max(n) AS mx FROM ct GROUP BY cluster)
            |), hc AS (
            |  SELECT sum(-(nc::DOUBLE / nn) * ln(nc::DOUBLE / nn)) AS h_c
            |  FROM rowt CROSS JOIN nt
            |), hl AS (
            |  SELECT sum(-(nl::DOUBLE / nn) * ln(nl::DOUBLE / nn)) AS h_l
            |  FROM colt CROSS JOIN nt
            |), mi AS (
            |  SELECT sum((n::DOUBLE / nn) * ln(nn::DOUBLE * n / (nc::DOUBLE * nl))) AS mi
            |  FROM ct JOIN rowt USING (cluster) JOIN colt USING (label)
            |  CROSS JOIN nt
            |), nclus AS (SELECT count(*) AS n_clusters FROM rowt)
            |SELECT nn AS n, n_clusters,
            |  floor(pur_num::DOUBLE / nn * 1e6 + 0.5) / 1e6 AS purity,
            |  round(CASE WHEN h_c > 0 AND h_l > 0
            |    THEN mi / sqrt(h_c * h_l) END, 6) + 0.0 AS nmi
            |FROM nt CROSS JOIN nclus CROSS JOIN pur
            |CROSS JOIN hc CROSS JOIN hl CROSS JOIN mi""".stripMargin)),
    // ---- embedding-store ops: cluster pruning (op 88), int8 scalar
    // quantization (op 89), JL random projection (op 90)
    "embed_prune" -> Query((s, dir) =>
      Cluster.clusterPrune(tbl(s, dir, "embeddings"), "vec_id", "embedding",
          keepFrac = 0.5, k = 8, iters = 2)
        .select(col("id").as("vec_id"), col("cluster"), col("dist2"),
          col("rnk"), col("keep")),
      // Cluster pruning: the kmeans chain's final assignment joined
      // back to its centroids; d² = |x|² + (|c|² − 2·x·c), same
      // association and 1e-6 quantization as Cluster.clusterPrune.
      (s"WITH ${kmeansCtes("SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings", 8, 2)}, " +
          "d AS (SELECT akm.id, akm.cid, " +
          "CAST(floor((list_dot_product(akm.v, akm.v) + (list_dot_product(c2.cv, c2.cv) " +
          "- 2 * list_dot_product(akm.v, c2.cv))) * 1e6 + 0.5) AS BIGINT) AS d2q " +
          "FROM akm JOIN c2 USING (cid)) " +
          "SELECT id AS vec_id, cid AS cluster, CAST(d2q AS DOUBLE) / 1e6 AS dist2, " +
          "rnk, rnk <= ceil(0.5 * cnt) AS keep FROM (" +
          "SELECT id, cid, d2q, row_number() OVER (PARTITION BY cid " +
          "ORDER BY d2q DESC, id) AS rnk, " +
          "count(*) OVER (PARTITION BY cid) AS cnt FROM d) " +
          "ORDER BY vec_id")),
    "embed_sq8" -> Query((s, dir) =>
      graft.operators.Embed.scalarQuantizeInt8(
          tbl(s, dir, "embeddings"), "vec_id", "embedding")
        .select(col("id").as("vec_id"), col("code_digest"),
          col("max_abs_err"), col("mean_abs_err")),
      // SQ8: per-dimension corpus [min,max] ranges; code/recon/error
      // formulas written with identical association to Embed.scala.
      ("WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings), " +
          "e AS (SELECT id, unnest(range(1, len(v) + 1)) AS pos, unnest(v) AS x FROM v), " +
          "st AS (SELECT pos, min(x) AS mn, max(x) AS mx FROM e GROUP BY pos), " +
          "c AS (SELECT id, pos, x, mn, mx, " +
          "CASE WHEN mx = mn THEN 0 ELSE " +
          "CAST(floor((x - mn) / (mx - mn) * 255.0 + 0.5) AS BIGINT) END AS code " +
          "FROM e JOIN st USING (pos)), " +
          "r AS (SELECT id, pos, code, " +
          "CAST(floor(abs(x - (mn + CAST(code AS DOUBLE) / 255.0 * (mx - mn))) * 1e6 " +
          "+ 0.5) AS BIGINT) AS eq FROM c) " +
          "SELECT id AS vec_id, " +
          "md5(string_agg(code::VARCHAR, ',' ORDER BY pos)) AS code_digest, " +
          "CAST(max(eq) AS DOUBLE) / 1e6 AS max_abs_err, " +
          "sum(eq)::DOUBLE / count(*) / 1e6 AS mean_abs_err " +
          "FROM r GROUP BY id ORDER BY vec_id")),
    // Top principal component by IN-PLAN power iteration (op 198 —
    // the linear-algebra sibling of the in-plan Lloyd k-means, op 85):
    // v ← C·v / ||C·v|| iterated 5 times from the uniform start, then
    // one final multiply yields the loadings, the top eigenvalue, and
    // its explained-variance share. No driver-side state, no collect:
    // the iterate and its norm ride on ONE broadcast row, and each
    // iteration is ONE map-side-combinable (pos) aggregation over rows
    // carrying the centered vector — the per-row x·v is an
    // INTEGER fold (1e-4-quantized components × 1e-4-quantized v), the
    // per-dim Σ x_d·(x·v) are integer sums, and the 64-element norm
    // squares through DECIMAL(19,0)² (long² would overflow; a float
    // sum's association would wiggle) — so every engine replays v
    // bit-for-bit. Centering means come from quantized integer sums.
    // Integer headroom: |Σ xq·ssc| ≤ N·dim·(1.2e4)²·8 ≈ N·1e10 — exact
    // to N ≈ 1e8 rows; beyond that, coarsen the grid one decade.
    "embed_power_iter" -> Query((s, dir) => {
      val (means, _, top) = embTopPc(s, dir)
      val scalars = means
        .withColumn("varp", ((col("sxx").cast("double")
          - col("sx").cast("double") * col("sx") / col("n")) / col("n")
          / 1e8).cast("decimal(30,12)"))
        .agg(sum(col("varp")).cast("double").as("totvar"),
          max(col("n")).cast("double").as("nn"))
      top.crossJoin(broadcast(scalars))
        .select(posexplode(col("va")).as(Seq("pos", "vq")), col("nrm"),
          col("nn"), col("totvar"))
        .select(col("pos"),
          (round(col("vq") / 1e4, 4) + lit(0.0)).as("loading"),
          (round(col("nrm") / 1e8 / col("nn"), 6) + lit(0.0)).as("eigval"),
          (round(col("nrm") / 1e8 / col("nn") / col("totvar"), 4)
            + lit(0.0)).as("var_share"))
    },
      // op 198: the 6 power-iteration steps unrolled as generated
      // CTEs — identical integer folds, identical DECIMAL(19,0)²
      // norms, identical floor re-quantization, so v replays
      // bit-for-bit; pos here is 0-based (range(0,64) zipped with the
      // component unnest) because pos IS an output column.
      {
        val iterCtes = (1 to 6).map { t =>
          s"""s$t AS (
            |  SELECT id, CAST(floor(CAST(sum(xq * vq) AS BIGINT) / 1e4) AS BIGINT) AS ssc
            |  FROM e JOIN v${t - 1} USING (pos) GROUP BY id
            |), w$t AS (
            |  SELECT pos, CAST(sum(xq * ssc) AS BIGINT) AS w
            |  FROM e JOIN s$t USING (id) GROUP BY pos
            |), n$t AS (
            |  SELECT sqrt(CAST(sum(CAST(w AS DECIMAL(19,0)) * CAST(w AS DECIMAL(19,0))) AS DOUBLE)) AS nrm FROM w$t
            |), v$t AS (
            |  SELECT pos, CAST(floor(CAST(w AS DOUBLE) / nrm * 1e4 + 0.5) AS BIGINT) AS vq
            |  FROM w$t, n$t
            |)""".stripMargin
        }.mkString(",\n")
        s"""WITH x0 AS (
          |  SELECT vec_id AS id, unnest(range(0, 64)) AS pos,
          |    unnest(embedding::DOUBLE[]) AS x
          |  FROM embeddings
          |), q0 AS (
          |  SELECT id, pos, x, CAST(floor(x * 1e4 + 0.5) AS BIGINT) AS xq0
          |  FROM x0
          |), m AS (
          |  SELECT pos, CAST(sum(xq0) AS DOUBLE) / count(*) / 1e4 AS mu,
          |    count(*) AS n, CAST(sum(xq0 * xq0) AS BIGINT) AS sxx,
          |    CAST(sum(xq0) AS BIGINT) AS sx
          |  FROM q0 GROUP BY pos
          |), e AS (
          |  SELECT id, q0.pos, CAST(floor((x - mu) * 1e4 + 0.5) AS BIGINT) AS xq
          |  FROM q0 JOIN m ON q0.pos = m.pos
          |), v0 AS (SELECT pos, 1250::BIGINT AS vq FROM m),
          |$iterCtes,
          |tv AS (
          |  SELECT CAST(sum(CAST((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) / n / 1e8 AS DECIMAL(30,12))) AS DOUBLE) AS totvar,
          |    CAST(max(n) AS DOUBLE) AS nn
          |  FROM m
          |)
          |SELECT pos, round(vq / 1e4, 4) + 0.0 AS loading,
          |  round(nrm / 1e8 / nn, 6) + 0.0 AS eigval,
          |  round(nrm / 1e8 / nn / totvar, 4) + 0.0 AS var_share
          |FROM v6, n6, tv ORDER BY pos""".stripMargin
      }),
    // All-but-the-top whitening (op 327; Mu/Viswanath 2018): the
    // standard embedding post-process for retrieval — center, then
    // project out the top principal direction, which in real
    // embedding stores soaks up a large common component and washes
    // out cosine contrast. Reuses the op-198 quantized power-iter
    // engine (embTopPc) verbatim: per-vector coefficient d = Σ xq·vq
    // is an exact long fold, the removed component (d·vq)/1e8 floors
    // on identical doubles (d ≲ 6e13 ≪ 2^53), so the corrected
    // components replay bit-for-bit. Long output format (vec_id, pos,
    // xw) — the op-90 embed_rp convention. At 100 TB: the PC fit is
    // the op-198 cost, the projection a map-only second pass.
    "embed_whitening" -> Query((s, dir) => {
      val (_, rows, top) = embTopPc(s, dir)
      rows.crossJoin(broadcast(top.select(col("va"))))
        .withColumn("d", dot(col("xqa"), col("va"), lit(0L)))
        .select(col("id").as("vec_id"), col("d"), col("va"),
          posexplode(col("xqa")).as(Seq("pos", "xq")))
        .select(col("vec_id"), col("pos").cast("long").as("pos"),
          ((col("xq") - floor(col("d").cast("double") * col("va")(col("pos"))
            / 1e8 + 0.5).cast("long")).cast("double") / 1e4).as("xw"))
    },
      // op 327: the op-198 CTE chain through v6, then the exact-long
      // per-vector coefficient and the same floored projection.
      {
        val iterCtes = (1 to 6).map { t =>
          s"""s$t AS (
            |  SELECT id, CAST(floor(CAST(sum(xq * vq) AS BIGINT) / 1e4) AS BIGINT) AS ssc
            |  FROM e JOIN v${t - 1} USING (pos) GROUP BY id
            |), w$t AS (
            |  SELECT pos, CAST(sum(xq * ssc) AS BIGINT) AS w
            |  FROM e JOIN s$t USING (id) GROUP BY pos
            |), n$t AS (
            |  SELECT sqrt(CAST(sum(CAST(w AS DECIMAL(19,0)) * CAST(w AS DECIMAL(19,0))) AS DOUBLE)) AS nrm FROM w$t
            |), v$t AS (
            |  SELECT pos, CAST(floor(CAST(w AS DOUBLE) / nrm * 1e4 + 0.5) AS BIGINT) AS vq
            |  FROM w$t, n$t
            |)""".stripMargin
        }.mkString(",\n")
        s"""WITH x0 AS (
          |  SELECT vec_id AS id, unnest(range(0, 64)) AS pos,
          |    unnest(embedding::DOUBLE[]) AS x
          |  FROM embeddings
          |), q0 AS (
          |  SELECT id, pos, x, CAST(floor(x * 1e4 + 0.5) AS BIGINT) AS xq0
          |  FROM x0
          |), m AS (
          |  SELECT pos, CAST(sum(xq0) AS DOUBLE) / count(*) / 1e4 AS mu
          |  FROM q0 GROUP BY pos
          |), e AS (
          |  SELECT id, q0.pos, CAST(floor((x - mu) * 1e4 + 0.5) AS BIGINT) AS xq
          |  FROM q0 JOIN m ON q0.pos = m.pos
          |), v0 AS (SELECT pos, 1250::BIGINT AS vq FROM m),
          |$iterCtes,
          |d AS (
          |  SELECT id, CAST(sum(xq * vq) AS BIGINT) AS d
          |  FROM e JOIN v6 USING (pos) GROUP BY id
          |)
          |SELECT id AS vec_id, pos,
          |  (xq - CAST(floor(CAST(d AS DOUBLE) * vq / 1e8 + 0.5) AS BIGINT))
          |    / 1e4 AS xw
          |FROM e JOIN v6 USING (pos) JOIN d USING (id)
          |ORDER BY vec_id, pos""".stripMargin
      }),
    // Class-scatter report (op 193, the Fisher-criterion diagnostic —
    // is the embedding space separable by label?): per label, the
    // within-class variance (mean per-dim var) and the distance of the
    // class centroid to the global centroid; fisher = between²/within.
    // EXACTNESS: components quantize to 1e-6 longs → per-(label, dim)
    // sums are integers, centroids exact integer ratios; per-dim
    // double terms then sum through DECIMAL casts (order-free, the
    // quote_stats convention). Shape: explode → ONE (label, dim) hash
    // agg (64·K rows) → label-sized algebra; the raw corpus is read
    // once, and the "global" pass is a rollup of the label sums, not
    // a rescan.
    "embed_class_scatter" -> Query((s, dir) => {
      val e = tbl(s, dir, "embeddings")
        .select(col("label"),
          posexplode(col("embedding").cast("array<double>"))
            .as(Seq("pos", "x")))
        .withColumn("xq", floor(col("x") * 1e6 + 0.5).cast("long"))
      val byLab = e.groupBy(col("label"), col("pos"))
        .agg(count(lit(1)).as("n"), sum(col("xq")).as("sq"),
          sum(col("xq") * col("xq")).as("sq2"))
      val glob = byLab.groupBy(col("pos"))
        .agg(sum(col("sq")).as("gsq"), sum(col("n")).as("gn"))
      byLab.join(broadcast(glob), "pos")
        .withColumn("vard",
          (col("sq2").cast("double") / col("n")
            - pow(col("sq").cast("double") / col("n"), 2)) / 1e12)
        .withColumn("diffsq",
          pow(col("sq").cast("double") / col("n")
            - col("gsq").cast("double") / col("gn"), 2))
        .groupBy(col("label"))
        .agg(max(col("n")).as("n_vecs"),
          (sum(col("vard").cast("decimal(30,12)")).cast("double")
            / count(lit(1))).as("wv"),
          (sum(col("diffsq").cast("decimal(38,6)")).cast("double") / 1e12)
            .as("bsq"))
        .select(col("label"), col("n_vecs"),
          round(col("wv"), 6).as("within_var"),
          round(sqrt(col("bsq")), 6).as("between_dist"),
          (round(when(col("wv") > 0, col("bsq") / col("wv")), 6) + lit(0.0))
            .as("fisher"))
    },
      // op 193: same integer (label, dim) sums, same exact centroid
      // ratios, DECIMAL-cast per-dim term sums; pos is 1-based here
      // vs 0-based in Spark — it is only an internal join key.
      """WITH v AS (SELECT label, embedding::DOUBLE[] AS v FROM embeddings),
          |e AS (SELECT label, unnest(range(1, len(v) + 1)) AS pos,
          |      CAST(floor(unnest(v) * 1e6 + 0.5) AS BIGINT) AS xq FROM v),
          |bl AS (SELECT label, pos, count(*) AS n,
          |       CAST(sum(xq) AS BIGINT) AS sq,
          |       CAST(sum(xq * xq) AS BIGINT) AS sq2
          |       FROM e GROUP BY 1, 2),
          |g AS (SELECT pos, CAST(sum(sq) AS BIGINT) AS gsq,
          |      CAST(sum(n) AS BIGINT) AS gn FROM bl GROUP BY pos),
          |d AS (SELECT label, n,
          |      (CAST(sq2 AS DOUBLE) / n - pow(CAST(sq AS DOUBLE) / n, 2)) / 1e12 AS vard,
          |      pow(CAST(sq AS DOUBLE) / n - CAST(gsq AS DOUBLE) / gn, 2) AS diffsq
          |      FROM bl JOIN g USING (pos)),
          |a AS (SELECT label, max(n) AS n_vecs,
          |      CAST(sum(CAST(vard AS DECIMAL(30,12))) AS DOUBLE) / count(*) AS wv,
          |      CAST(sum(CAST(diffsq AS DECIMAL(38,6))) AS DOUBLE) / 1e12 AS bsq
          |      FROM d GROUP BY label)
          |SELECT label, n_vecs, round(wv, 6) AS within_var,
          |  round(sqrt(bsq), 6) AS between_dist,
          |  round(CASE WHEN wv > 0 THEN bsq / wv END, 6) + 0.0 AS fisher
          |FROM a ORDER BY label""".stripMargin),
    "embed_rp" -> Query((s, dir) =>
      graft.operators.Embed.randomProject(
          tbl(s, dir, "embeddings"), "vec_id", "embedding",
          outDim = 16, dim = 64)
        .select(col("id").as("vec_id"), col("pos"), col("y")),
      // JL projection: ±1 signs from md5 nibble parity of "jl_i_j";
      // per-term 1e-6-quantized longs, /√16 after the exact sum.
      ("WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings), " +
          "e AS (SELECT id, unnest(range(0, len(v))) AS pos, unnest(v) AS x FROM v), " +
          "m AS (SELECT p.range AS pos, o.range AS opos, " +
          "1 - 2 * (CAST(strpos('0123456789abcdef', " +
          "substr(md5('jl_' || p.range || '_' || o.range), 1, 1)) - 1 AS BIGINT) % 2) AS s " +
          "FROM range(0, 64) p, range(0, 16) o) " +
          "SELECT id AS vec_id, opos AS pos, " +
          "floor(sum(s * CAST(floor(x * 1e6 + 0.5) AS BIGINT))::DOUBLE " +
          "/ sqrt(16.0) + 0.5) / 1e6 AS y " +
          "FROM e JOIN m USING (pos) " +
          "GROUP BY id, opos ORDER BY vec_id, pos")),
    // Sign quantization + Hamming search over packed codes (op 97)
    "embed_binary" -> Query((s, dir) =>
      graft.operators.Embed.binarize(
          tbl(s, dir, "embeddings"), "vec_id", "embedding")
        .select(col("id").as("vec_id"), col("w"), col("word")),
      // Sign bits packed 32/long (sum of distinct masks ≡ OR); hamming
      // = Σ_w bit_count(xor), ties → lowest neighbor id.
      ("WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings), " +
          "e AS (SELECT id, unnest(range(0, len(v))) AS pos, unnest(v) AS x FROM v) " +
          "SELECT id AS vec_id, CAST(floor(pos / 32.0) AS BIGINT) AS w, " +
          "CAST(sum(CASE WHEN x > 0 THEN CAST(pow(2.0, pos % 32) AS BIGINT) ELSE 0 END) " +
          "AS BIGINT) AS word FROM e GROUP BY 1, 2 ORDER BY vec_id, w")),
    // Centroid-distance outliers (op 220, the op-85/88 family's
    // per-point diagnostic): top-3 farthest vectors from their
    // label's centroid. Centroids are exact integer-sum ratios
    // (1e-6-quantized components, the op-176 convention); per-point
    // squared distances quantize each dim's term to 1e-12 longs so
    // the 64-dim sum is an exact integer — the (label, dist, id)
    // order is a total order on both engines. Broadcast centroid
    // join, one rank window.
    "embed_centroid_outliers" -> Query((s, dir) => {
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          posexplode(col("embedding").cast("array<double>"))
            .as(Seq("pos", "x")))
        .withColumn("xq", floor(col("x") * 1e6 + 0.5).cast("long"))
      val cen = e.groupBy(col("label"), col("pos"))
        .agg(count(lit(1)).as("n"), sum(col("xq")).as("sq"))
      val d2 = e.join(broadcast(cen), Seq("label", "pos"))
        .withColumn("m", col("sq").cast("double") / col("n").cast("double"))
        .withColumn("diff", col("xq").cast("double") / 1e6 - col("m") / 1e6)
        .withColumn("t",
          floor(col("diff") * col("diff") * 1e12 + 0.5).cast("long"))
        .groupBy(col("label"), col("vec_id"))
        .agg(sum(col("t")).as("s2"))
      val w = Window.partitionBy(col("label"))
        .orderBy(col("s2").desc, col("vec_id"))
      d2.withColumn("rnk", row_number().over(w).cast("long"))
        .where(col("rnk") <= 3)
        .select(col("label"), col("rnk"), col("vec_id"),
          round(sqrt(col("s2").cast("double") / 1e12), 6).as("dist"))
    },
      // op 220: same 1e-6 component quantization, same exact
      // integer-ratio centroids, same 1e-12-quantized per-dim terms.
      """WITH e AS (
          |  SELECT vec_id, label,
          |    unnest(range(0, len(embedding))) AS pos,
          |    unnest(list_transform(embedding::DOUBLE[],
          |      x -> CAST(floor(x * 1e6 + 0.5) AS BIGINT))) AS xq
          |  FROM embeddings
          |), cen AS (
          |  SELECT label, pos, count(*) AS n, sum(xq) AS sq FROM e GROUP BY 1, 2
          |), d AS (
          |  SELECT e.label, e.vec_id,
          |    CAST(floor(
          |      (CAST(e.xq AS DOUBLE) / 1e6 - (CAST(c.sq AS DOUBLE) / CAST(c.n AS DOUBLE)) / 1e6)
          |      * (CAST(e.xq AS DOUBLE) / 1e6 - (CAST(c.sq AS DOUBLE) / CAST(c.n AS DOUBLE)) / 1e6)
          |      * 1e12 + 0.5) AS BIGINT) AS t
          |  FROM e JOIN cen c ON e.label = c.label AND e.pos = c.pos
          |), s AS (
          |  SELECT label, vec_id, sum(t) AS s2 FROM d GROUP BY 1, 2
          |), rk AS (
          |  SELECT label, vec_id, s2,
          |    row_number() OVER (PARTITION BY label ORDER BY s2 DESC, vec_id) AS rnk
          |  FROM s
          |)
          |SELECT label, rnk, vec_id, round(sqrt(CAST(s2 AS DOUBLE) / 1e12), 6) AS dist
          |FROM rk WHERE rnk <= 3 ORDER BY label, rnk""".stripMargin),
    // Simplified silhouette per label (op 227 — cluster-quality QA
    // for the op-85/86/88 family): s = (b − a)/max(a, b) with a =
    // distance to the OWN label centroid and b = the nearest OTHER
    // centroid (centroid-based silhouette — the all-pairs original
    // is O(n²) and adds nothing at this granularity). Same exact
    // integer-ratio centroids and 1e-12-quantized per-dim terms as
    // op 220, so a/b/s are identical doubles; b's argmin runs on
    // INTEGER s2. Per-label mean on 1e-6-quantized s + misplaced
    // (s < 0) count. Broadcast centroid join, no shuffle beyond the
    // per-vector agg.
    "embed_silhouette" -> Query((s, dir) => {
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          posexplode(col("embedding").cast("array<double>"))
            .as(Seq("pos", "x")))
        .withColumn("xq", floor(col("x") * 1e6 + 0.5).cast("long"))
        // r14: e feeds the centroid agg AND the distance join — pin
        // the exploded components so the embeddings scan runs once.
        .localCheckpoint()
      val cen = e.groupBy(col("label"), col("pos"))
        .agg(count(lit(1)).as("n"), sum(col("xq")).as("sq"))
        .select(col("label").as("clabel"), col("pos"),
          (col("sq").cast("double") / col("n").cast("double")).as("m"))
      val terms = e.join(broadcast(cen), Seq("pos"))
        .withColumn("diff", col("xq").cast("double") / 1e6 - col("m") / 1e6)
        .withColumn("t",
          floor(col("diff") * col("diff") * 1e12 + 0.5).cast("long"))
        .groupBy(col("vec_id"), col("label"), col("clabel"))
        .agg(sum(col("t")).as("s2"))
        // r14: terms feeds both the own-cluster and min-other legs —
        // pin the (vec, label)-sized distance table.
        .localCheckpoint()
      val own = terms.where(col("label") === col("clabel"))
        .select(col("vec_id"), col("label"),
          sqrt(col("s2").cast("double") / 1e12).as("a"))
      val oth = terms.where(col("label") =!= col("clabel"))
        .groupBy(col("vec_id"), col("label"))
        .agg(min(col("s2")).as("bmin"))
        .select(col("vec_id"), col("label"),
          sqrt(col("bmin").cast("double") / 1e12).as("b"))
      // broadcast hint: the pinned inputs carry no size estimate, so
      // without it the n-row a/b join planwise falls back to SMJ.
      own.join(broadcast(oth), Seq("vec_id", "label"))
        // a = b = 0 (a point sitting on two centroids) must drop,
        // not ANSI-abort on 0/0.
        .where(greatest(col("a"), col("b")) > 0)
        .withColumn("qs", floor((col("b") - col("a")) /
          greatest(col("a"), col("b")) * 1e6 + 0.5).cast("long"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          (floor(sum(col("qs")).cast("double") / count(lit(1)) + 0.5) / 1e6)
            .as("mean_silhouette"),
          sum(when(col("qs") < 0, 1L).otherwise(0L)).as("n_misplaced"))
    },
      // op 227: the op-220 distance kernel against ALL centroids,
      // argmin on integer s2, the same (b−a)/max quantization.
      """WITH e AS (
          |  SELECT vec_id, label,
          |    unnest(range(0, len(embedding))) AS pos,
          |    unnest(list_transform(embedding::DOUBLE[],
          |      x -> CAST(floor(x * 1e6 + 0.5) AS BIGINT))) AS xq
          |  FROM embeddings
          |), cen AS (
          |  SELECT label AS clabel, pos,
          |    CAST(sum(xq) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS m
          |  FROM e GROUP BY label, pos
          |), terms AS (
          |  SELECT e.vec_id, e.label, c.clabel,
          |    sum(CAST(floor((CAST(e.xq AS DOUBLE) / 1e6 - c.m / 1e6)
          |      * (CAST(e.xq AS DOUBLE) / 1e6 - c.m / 1e6) * 1e12 + 0.5) AS BIGINT)) AS s2
          |  FROM e JOIN cen c ON e.pos = c.pos
          |  GROUP BY 1, 2, 3
          |), own AS (
          |  SELECT vec_id, label, sqrt(CAST(s2 AS DOUBLE) / 1e12) AS a
          |  FROM terms WHERE label = clabel
          |), oth AS (
          |  SELECT vec_id, label, sqrt(CAST(min(s2) AS DOUBLE) / 1e12) AS b
          |  FROM terms WHERE label <> clabel GROUP BY 1, 2
          |), sil AS (
          |  SELECT o.label,
          |    CAST(floor((t.b - o.a) / greatest(o.a, t.b) * 1e6 + 0.5) AS BIGINT) AS qs
          |  FROM own o JOIN oth t USING (vec_id, label)
          |  WHERE greatest(o.a, t.b) > 0
          |)
          |SELECT label, count(*) AS n_vecs,
          |  floor(CAST(sum(qs) AS DOUBLE) / count(*) + 0.5) / 1e6 AS mean_silhouette,
          |  CAST(sum(CASE WHEN qs < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_misplaced
          |FROM sil GROUP BY label ORDER BY label""".stripMargin),
    // Per-dimension variance spectrum + participation ratio (op 230,
    // the cheap intrinsic-dimension probe the op-198 power iteration
    // refines): population variance per dimension from 1e-6-quantized
    // integer sums, then effective_dim = (Σλ)²/Σλ² — 64 means the
    // space is isotropic, ≪64 says truncation (op 171) is safe.
    // Cross-dim sums are integer again (λ quantized to 1e-12, λ²
    // through DECIMAL(19,0)²), so the single-row report is
    // engine-exact. Two tiny hash aggs.
    // Pairwise-similarity distribution (op 277): the embedding-space
    // health check behind near-dup thresholds — cosine of each
    // DETERMINISTIC consecutive-id pair (id, id+1), quantized to 1e-6
    // longs, histogrammed into 0.1 bins with exact-integer per-bin
    // means. No sampling RNG (the pairing is the id order), no
    // all-pairs blowup: one equi-join on adjacent ids (sort-merge on
    // vec_id at scale — N pairs total, not N²), then a tiny keyed agg.
    // Cosines use the codegen'd native dot (bit-identical sequential
    // fold to DuckDB's list_dot_product, the ANN-family precedent).
    // Per-label L2-norm distribution (op 280): the embedding-store
    // calibration read — un-normalized stores skew cosine vs dot
    // ranking, and a label whose norms drift flags an encoder issue.
    // Norms quantize to 1e-6 longs (codegen'd native dot; identical
    // sequential fold in DuckDB), then exact integer/decimal sums
    // give mean and population std — one map + one keyed agg.
    "embed_norm_stats" -> Query((s, dir) => {
      val dec = (c: Column) => c.cast("decimal(19,0)")
      val e = tbl(s, dir, "embeddings")
        .select(col("label"),
          floor(Similarity.normNative(col("embedding").cast("array<double>"))
            * 1e6 + 0.5).cast("long").as("qn"))
      e.groupBy(col("label"))
        .agg(count(lit(1)).as("n"), sum(col("qn")).as("sq"),
          min(col("qn")).as("mn"), max(col("qn")).as("mx"),
          sum(dec(col("qn")) * dec(col("qn"))).as("sq2"))
        .withColumn("mean", col("sq").cast("double") / 1e6 / col("n"))
        .withColumn("v", col("sq2").cast("double") / 1e12 / col("n") -
          col("mean") * col("mean"))
        .select(col("label"), col("n"),
          round(col("mean"), 6).as("mean_norm"),
          (round(when(col("v") >= 0, sqrt(col("v"))), 6) + lit(0.0))
            .as("std_norm"),
          (col("mn").cast("double") / 1e6).as("min_norm"),
          (col("mx").cast("double") / 1e6).as("max_norm"))
    },
      // op 230: same 1e-6 component quantization, per-dim population
      // variance, λ re-quantized to 1e-12 with λ² through
      // DECIMAL(19,0)².
      // op 280: same 1e-6 norm quantization, exact sums, same
      // population-variance algebra and guards.
      """WITH e AS (
          |  SELECT label,
          |    CAST(floor(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
          |      * 1e6 + 0.5) AS BIGINT) AS qn
          |  FROM embeddings
          |), a AS (
          |  SELECT label, count(*) AS n, CAST(sum(qn) AS BIGINT) AS sq,
          |    min(qn) AS mn, max(qn) AS mx,
          |    sum(CAST(qn AS DECIMAL(19,0)) * CAST(qn AS DECIMAL(19,0))) AS sq2
          |  FROM e GROUP BY label
          |), m AS (
          |  SELECT label, n, CAST(sq AS DOUBLE) / 1e6 / n AS mean,
          |    CAST(sq2 AS DOUBLE) / 1e12 / n
          |      - (CAST(sq AS DOUBLE) / 1e6 / n) * (CAST(sq AS DOUBLE) / 1e6 / n) AS v,
          |    mn, mx
          |  FROM a
          |)
          |SELECT label, n, round(mean, 6) AS mean_norm,
          |  round(CASE WHEN v >= 0 THEN sqrt(v) END, 6) + 0.0 AS std_norm,
          |  CAST(mn AS DOUBLE) / 1e6 AS min_norm,
          |  CAST(mx AS DOUBLE) / 1e6 AS max_norm
          |FROM m ORDER BY label""".stripMargin),
    // Isotropy diagnostics (op 381; Mu & Viswanath 2018's
    // "all-but-the-top" premise): how far the embedding cloud leans
    // on a common direction. mean pairwise cosine over ALL n(n−1)
    // ordered pairs computed WITHOUT any pair join via the sum-vector
    // identity Σ_{i≠j} v̂ᵢ·v̂ⱼ = ‖Σv̂‖² − Σ‖v̂‖²: components
    // quantize to 1e-6 longs, per-dimension sums and their squares
    // are DECIMAL-exact, so the statistic is an exact rational. One
    // posexplode + one dim-keyed agg + two 1-row aggs — linear in
    // n·dim at any corpus size (the 100 TB shape: no pair
    // materialization ever).
    "embed_isotropy" -> Query((s, dir) => {
      val dec = (c: Column) => c.cast("decimal(38,0)")
      val e = tbl(s, dir, "embeddings")
        .select(col("embedding").cast("array<double>").as("v"))
        .withColumn("nm", Similarity.normNative(col("v")))
        .where(col("nm") > 0)
      val comps = e.select(col("nm"), posexplode(col("v")).as(Seq("pos", "c")))
        .select(col("pos"),
          floor(col("c") / col("nm") * 1e6 + 0.5).cast("long").as("qc"))
      val byPos = comps.groupBy(col("pos"))
        .agg(sum(col("qc")).as("sq"),
          sum(dec(col("qc")) * dec(col("qc"))).as("sq2"))
      val tot = byPos.agg(count(lit(1)).as("dim"),
        sum(dec(col("sq")) * dec(col("sq"))).as("s2"),
        sum(col("sq2")).as("selfsq"))
      val nRel = e.agg(count(lit(1)).as("n"))
      val nD = col("n").cast("double")
      tot.crossJoin(broadcast(nRel))
        .select(col("n"), col("dim"),
          round((col("s2").cast("double") - col("selfsq").cast("double"))
            / 1e12 / (nD * (nD - 1.0)), 6).as("mean_pairwise_cosine"),
          round(sqrt(col("s2").cast("double")) / 1e6 / nD, 6)
            .as("mean_vector_norm"))
    },
      // op 381: identical quantized normalized components; the
      // ‖Σv̂‖² − Σ‖v̂‖² identity on DECIMAL-exact sums.
      s"""WITH e AS (
          |  SELECT vec_id, embedding::DOUBLE[] AS v,
          |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nm
          |  FROM embeddings
          |), ok AS (SELECT * FROM e WHERE nm > 0),
          |comps AS (
          |  SELECT r.range AS pos,
          |    CAST(floor(v[CAST(r.range AS INT) + 1] / nm * 1e6 + 0.5)
          |      AS BIGINT) AS qc
          |  FROM ok CROSS JOIN range(0, $EmbDim) r
          |), bypos AS (
          |  SELECT pos, CAST(sum(qc) AS BIGINT) AS sq,
          |    sum(CAST(qc AS DECIMAL(38,0)) * CAST(qc AS DECIMAL(38,0))) AS sq2
          |  FROM comps GROUP BY pos
          |), tot AS (
          |  SELECT count(*) AS dim,
          |    sum(CAST(sq AS DECIMAL(38,0)) * CAST(sq AS DECIMAL(38,0))) AS s2,
          |    CAST(sum(sq2) AS DECIMAL(38,0)) AS selfsq
          |  FROM bypos
          |), n0 AS (SELECT count(*) AS n FROM ok)
          |SELECT n, dim,
          |  round((CAST(s2 AS DOUBLE) - CAST(selfsq AS DOUBLE)) / 1e12
          |    / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)), 6)
          |    AS mean_pairwise_cosine,
          |  round(sqrt(CAST(s2 AS DOUBLE)) / 1e6 / CAST(n AS DOUBLE), 6)
          |    AS mean_vector_norm
          |FROM tot CROSS JOIN n0""".stripMargin),
    "embed_pair_sim" -> Query((s, dir) => {
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .where(Similarity.dotNative(col("v"), col("v")) > 0)
      val a = e.select(col("vec_id").as("id"), col("v").as("va"))
      val b = e.select((col("vec_id") - 1).as("id"), col("v").as("vb"))
      val cosQ = floor(Similarity.dotNative(col("va"), col("vb")) /
        (Similarity.normNative(col("va")) * Similarity.normNative(col("vb")))
        * 1e6 + 0.5).cast("long")
      a.join(b, "id")
        .select(cosQ.as("q"))
        .withColumn("bin", floor(col("q").cast("double") / 1e5).cast("long"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_pairs"),
          round(sum(col("q")).cast("double") / 1e6 / count(lit(1)), 6)
            .as("avg_cos"))
    },
      // op 277: same adjacent-id pairing, identical cosine
      // parenthesization, same 1e-6 quantization and 0.1 bins.
      """WITH e AS (
          |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
          |  WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
          |), p AS (
          |  SELECT CAST(floor(list_dot_product(a.v, b.v) /
          |      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
          |      * 1e6 + 0.5) AS BIGINT) AS q
          |  FROM e a JOIN e b ON b.vec_id = a.vec_id + 1
          |)
          |SELECT CAST(floor(CAST(q AS DOUBLE) / 1e5) AS BIGINT) AS bin,
          |  count(*) AS n_pairs,
          |  round(CAST(sum(q) AS DOUBLE) / 1e6 / count(*), 6) AS avg_cos
          |FROM p GROUP BY bin ORDER BY bin""".stripMargin),
    "embed_dim_variance" -> Query((s, dir) => {
      val e = tbl(s, dir, "embeddings")
        .select(posexplode(col("embedding").cast("array<double>"))
          .as(Seq("pos", "x")))
        .withColumn("xq", floor(col("x") * 1e6 + 0.5).cast("long"))
      val dec = (c: Column) => c.cast("decimal(19,0)")
      val lam = e.groupBy(col("pos"))
        .agg(count(lit(1)).as("n"), sum(col("xq")).as("sq"),
          sum(dec(col("xq")) * dec(col("xq"))).as("sq2"))
        .withColumn("v", col("sq2").cast("double") / 1e12 / col("n") -
          (col("sq").cast("double") / 1e6 / col("n")) *
          (col("sq").cast("double") / 1e6 / col("n")))
        .withColumn("lq", floor(col("v") * 1e12 + 0.5).cast("long"))
      lam.agg(count(lit(1)).as("n_dims"),
          (sum(col("lq")).cast("double") / 1e12).as("tv"),
          (max(col("lq")).cast("double") / 1e12).as("mv"),
          (sum(dec(col("lq")) * dec(col("lq"))).cast("double") / 1e24)
            .as("s2"))
        .select(col("n_dims"),
          round(col("tv"), 6).as("total_var"),
          round(col("mv"), 6).as("max_var"),
          round(col("tv") * col("tv") / col("s2"), 6).as("effective_dim"))
    },
      """WITH e AS (
          |  SELECT unnest(range(0, len(embedding))) AS pos,
          |    unnest(list_transform(embedding::DOUBLE[],
          |      x -> CAST(floor(x * 1e6 + 0.5) AS BIGINT))) AS xq
          |  FROM embeddings
          |), lam AS (
          |  SELECT pos, count(*) AS n, sum(xq) AS sq,
          |    sum(CAST(xq AS DECIMAL(19,0)) * CAST(xq AS DECIMAL(19,0))) AS sq2
          |  FROM e GROUP BY pos
          |), lq AS (
          |  SELECT pos,
          |    CAST(floor((CAST(sq2 AS DOUBLE) / 1e12 / n -
          |      (CAST(sq AS DOUBLE) / 1e6 / n) * (CAST(sq AS DOUBLE) / 1e6 / n))
          |      * 1e12 + 0.5) AS BIGINT) AS lq
          |  FROM lam
          |), a AS (
          |  SELECT count(*) AS n_dims,
          |    CAST(sum(lq) AS DOUBLE) / 1e12 AS tv,
          |    CAST(max(lq) AS DOUBLE) / 1e12 AS mv,
          |    CAST(sum(CAST(lq AS DECIMAL(19,0)) * CAST(lq AS DECIMAL(19,0))) AS DOUBLE) / 1e24 AS s2
          |  FROM lq
          |)
          |SELECT n_dims, round(tv, 6) AS total_var, round(mv, 6) AS max_var,
          |  round(tv * tv / s2, 6) AS effective_dim
          |FROM a""".stripMargin)
  )
}
