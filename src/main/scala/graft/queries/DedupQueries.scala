package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Cluster, Corpus, Dedup, Multimodal}

/** Exact, near-duplicate and semantic deduplication, and their
  * evaluation against planted duplicates. */
object DedupQueries {

  /** Shared dedup-index evaluation report (ops 169/370/371): the
    * candidate-pair set of a near-dup family graded against an exact
    * ground-truth pair set — one row of (n_truth, n_found, n_hit,
    * precision, recall). Both inputs are the already-bucketed linear
    * operators; the intersect is a pair-key join, and the three
    * 1-row aggregates cross-join for free.
    */
  private def dedupEvalReport(truthPairs: DataFrame,
                              foundPairs: DataFrame): DataFrame = {
    // r14: each pair set feeds BOTH the intersect and its own count —
    // Catalyst re-plans a shared subtree per consumer, so without
    // pinning the expensive exact-Jaccard truth op (and the candidate
    // op) runs twice per report. The pinned relations are pair lists,
    // tiny next to the shingle joins that produce them (planted-dup-
    // linear, SCALE §19). At cluster scale swap for `checkpoint` (the
    // SemDeDup convention, Cluster.semanticDedupVerdict).
    val truth = truthPairs.select(col("id_a"), col("id_b")).localCheckpoint()
    val found = foundPairs.select(col("id_a"), col("id_b")).localCheckpoint()
    val hit = found.intersect(truth)
    truth.agg(count(lit(1)).as("n_truth"))
      .crossJoin(found.agg(count(lit(1)).as("n_found")))
      .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
      .select(col("n_truth"), col("n_found"), col("n_hit"),
        round(col("n_hit").cast("double") / col("n_found"), 6)
          .as("precision"),
        round(col("n_hit").cast("double") / col("n_truth"), 6)
          .as("recall"))
  }

  /** Embeddings corpus with planted exact-duplicate vectors. */
  private def embCorpus(s: SparkSession, dir: String): DataFrame = {
    val e = tbl(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    e.unionAll(e.where(col("vec_id") % 50 === 0)
      .select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
  }

  private val ECORPUS_CTE =
    """ecorpus AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  UNION ALL SELECT vec_id + 100000, embedding FROM embeddings WHERE vec_id % 50 = 0
      |)""".stripMargin

  /** Shared CTE prefix for the SemDeDup oracles: planted embedding
    * corpus, the kmeans chain (…akm, c2 in scope), size-gated cells,
    * norm-annotated members. Plain concatenation — no stripMargin.
    */
  private def SEM_CTES: String =
    s"$ECORPUS_CTE, " +
      kmeansCtes("SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM ecorpus", 8, 2) + ", " +
      "sz AS (SELECT cid FROM akm GROUP BY cid HAVING count(*) > 1 AND count(*) <= 10000), " +
      "nn AS (SELECT id, cid, v, sqrt(list_dot_product(v, v)) AS nm FROM akm JOIN sz USING (cid))"

  /** Within-cluster ≥τ pair select over SEM_CTES' `nn`. */
  private val SEM_PAIRS_SELECT: String =
    "SELECT a.id AS id_a, b.id AS id_b, " +
      "round(list_dot_product(a.v, b.v) / (a.nm * b.nm), 6) AS cosine " +
      "FROM nn a JOIN nn b ON a.cid = b.cid AND a.id < b.id " +
      "WHERE list_dot_product(a.v, b.v) / (a.nm * b.nm) >= 0.99"

  private val hexpr = (1 to 8).map(i =>
      s"(strpos('0123456789abcdef', substr(md5(_w), $i, 1)) - 1) * ${math.pow(16, 8 - i).toLong}"
    ).mkString("(", " + ", ")")

  private val minhashPairsSql =
      s"""$minhashBandsCte
        |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
        |ORDER BY id_a, id_b""".stripMargin

  val registry: Seq[(String, Registration)] = Seq(
    // Incremental MinHash-LSH dedup (op 109): the planted copies are
    // the "new batch", the original documents the indexed corpus.
    "dedup_incremental" -> Query((s, dir) => {
      val corpus = docCorpus(s, dir)
      Dedup.minhashLshIncremental(
          corpus.where(col("doc_id") >= 1000000),
          corpus.where(col("doc_id") < 1000000), "doc_id", "text")
    },
      // Incremental twin: index buckets (min id, count) from the
      // original docs; planted copies query them. Same bands chain.
      minhashIncrementalSql),

    // ---- dedup (ops 46-50)
    "dedup_exact" -> Query((s, dir) =>
      Dedup.exact(docCorpus(s, dir), "doc_id", "text")
        .select(col("doc_id"), col("canonical_id"), col("is_dup")),
      s"""WITH $CORPUS_CTE
          |SELECT doc_id,
          |  min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
          |  doc_id != min(doc_id) OVER (PARTITION BY md5(text)) AS is_dup
          |FROM corpus ORDER BY doc_id""".stripMargin),
    "dedup_minhash_lsh" -> Query((s, dir) =>
      Dedup.minhashLshPairs(docCorpus(s, dir), "doc_id", "text"),
      minhashPairsSql),
    "dedup_clusters" -> Query((s, dir) =>
      Dedup.clusters(Dedup.minhashLshPairs(docCorpus(s, dir), "doc_id", "text"),
          "id_a", "id_b"),
      // Transitive closure over the SAME pairs the minhash oracle
      // emits: DuckDB's recursive CTE computes min-reachable-id per
      // member — the fixed point the Spark label propagation converges
      // to, so the two engines must agree exactly.
      s"""WITH RECURSIVE pairs AS (
          |  $minhashPairsSql
          |), edges AS (
          |  SELECT id_a AS src, id_b AS dst FROM pairs
          |  UNION SELECT id_b, id_a FROM pairs
          |), reach AS (
          |  SELECT src, dst FROM edges
          |  UNION
          |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
          |  WHERE e.dst != r.src
          |)
          |SELECT src AS id, least(src, min(dst)) AS cluster_id
          |FROM reach GROUP BY src ORDER BY id""".stripMargin),
    // Duplicate-cluster size histogram (op 203, the dedup report's
    // shape diagnostic): how big are the near-dup families — a corpus
    // of pairs dedups cheaply, a power-law tail of giant clusters is
    // where hot-bucket caps and keep-one policies earn their keep.
    // Two keyed aggs over the op-81 component table; n_dup_docs =
    // (size−1)·clusters is what keep-one-per-cluster would remove.
    "dedup_cluster_stats" -> Query((s, dir) =>
      Dedup.clusters(Dedup.minhashLshPairs(docCorpus(s, dir), "doc_id", "text"),
          "id_a", "id_b")
        .groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
        .groupBy(col("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"),
          ((col("cluster_size") - 1) * count(lit(1))).as("n_dup_docs")),
      // op 203: the op-81 component table re-aggregated twice.
      s"""WITH RECURSIVE pairs AS (
          |  $minhashPairsSql
          |), edges AS (
          |  SELECT id_a AS src, id_b AS dst FROM pairs
          |  UNION SELECT id_b, id_a FROM pairs
          |), reach AS (
          |  SELECT src, dst FROM edges
          |  UNION
          |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
          |  WHERE e.dst != r.src
          |), comp AS (
          |  SELECT src AS id, least(src, min(dst)) AS cluster_id
          |  FROM reach GROUP BY src
          |), sz AS (
          |  SELECT cluster_id, count(*) AS cluster_size
          |  FROM comp GROUP BY cluster_id
          |)
          |SELECT cluster_size, count(*) AS n_clusters,
          |  CAST((cluster_size - 1) * count(*) AS BIGINT) AS n_dup_docs
          |FROM sz GROUP BY cluster_size ORDER BY cluster_size""".stripMargin),
    "dedup_simhash" -> Query((s, dir) =>
      Dedup.simhash(docCorpus(s, dir), "doc_id", "text"),
      s"""$TOKS_CTE, tok AS (
          |  SELECT doc_id, unnest(toks) AS _w FROM t
          |), h AS (SELECT doc_id, CAST($hexpr AS BIGINT) AS hv FROM tok),
          |bits AS (
          |  SELECT doc_id, r.range AS b,
          |    CASE WHEN (hv >> CAST(r.range AS INT)) & 1 = 1 THEN 1 ELSE -1 END AS sgn
          |  FROM h CROSS JOIN range(0, 32) r
          |), sums AS (SELECT doc_id, b, sum(sgn) AS sc FROM bits GROUP BY doc_id, b)
          |SELECT doc_id,
          |  CAST(sum(CASE WHEN sc > 0 THEN CAST(pow(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
          |FROM sums GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    "dedup_simhash_pairs" -> Query((s, dir) =>
      Dedup.simhashPairs(docCorpus(s, dir), "doc_id", "text", maxHamming = 3)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming")),
      // Pigeonhole banding replayed in SQL: 4×8-bit bands of the same
      // sign-sum fingerprint, candidates from exact band matches,
      // bit_count(xor) verification.
      s"""$TOKS_CTE, tok AS (
          |  SELECT doc_id, unnest(toks) AS _w FROM t
          |), h AS (SELECT doc_id, CAST($hexpr AS BIGINT) AS hv FROM tok),
          |bits AS (
          |  SELECT doc_id, r.range AS b,
          |    CASE WHEN (hv >> CAST(r.range AS INT)) & 1 = 1 THEN 1 ELSE -1 END AS sgn
          |  FROM h CROSS JOIN range(0, 32) r
          |), sums AS (SELECT doc_id, b, sum(sgn) AS sc FROM bits GROUP BY doc_id, b),
          |fp AS (
          |  SELECT doc_id,
          |    CAST(sum(CASE WHEN sc > 0 THEN CAST(pow(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
          |  FROM sums GROUP BY doc_id
          |), bands AS (
          |  SELECT doc_id, simhash, r.range AS band,
          |    (simhash >> CAST(8 * r.range AS INT)) & 255 AS bucket
          |  FROM fp CROSS JOIN range(0, 4) r
          |), cand AS (
          |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
          |    bit_count(xor(a.simhash, b.simhash)) AS hamming
          |  FROM bands a JOIN bands b
          |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
          |)
          |SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming
          |FROM cand WHERE hamming <= 3 ORDER BY id_a, id_b""".stripMargin),
    "dedup_ngram_jaccard" -> Query((s, dir) =>
      Dedup.ngramJaccardPairs(docCorpus(s, dir), "doc_id", "text"),
      s"""$TOKS_CTE, sh AS (
          |  SELECT doc_id AS id, unnest(list_distinct(list_transform(
          |    range(1, greatest(len(toks)-2, 1) + 1),
          |    i -> array_to_string(toks[i:i+2], ' ')))) AS sh
          |  FROM t
          |), sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
          |-- stop-shingle cap: postings lists over DefaultMaxBucket
          |-- (10000) are dropped on the Spark side before pairing, so
          |-- the oracle must drop them too or the hash match is latent
          |-- on no shingle ever exceeding the cap.
          |capped AS (
          |  SELECT id, sh FROM sh
          |  QUALIFY count(*) OVER (PARTITION BY sh) BETWEEN 2 AND 10000
          |),
          |common AS (
          |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS common
          |  FROM capped a JOIN capped b ON a.sh = b.sh AND a.id < b.id
          |  GROUP BY a.id, b.id
          |), j AS (
          |  SELECT id_a, id_b,
          |    common::DOUBLE / (sa.sz + sb.sz - common)::DOUBLE AS jaccard
          |  FROM common
          |  JOIN sizes sa ON sa.id = id_a
          |  JOIN sizes sb ON sb.id = id_b
          |)
          |SELECT id_a, id_b, round(jaccard, 6) AS jaccard
          |FROM j WHERE jaccard >= 0.2 ORDER BY id_a, id_b""".stripMargin),
    // Directed shingle containment (op 319; Broder 1997's second
    // resemblance measure): the asymmetric quote/subset signal —
    // a short doc pasted whole into a long one clears containment
    // while its Jaccard drowns in the long side's union.
    "dedup_containment" -> Query((s, dir) =>
      Dedup.containmentPairs(docCorpus(s, dir), "doc_id", "text",
          threshold = 0.5),
      // op 319: same postings algebra, both directed containments.
      s"""$TOKS_CTE, sh AS (
          |  SELECT doc_id AS id, unnest(list_distinct(list_transform(
          |    range(1, greatest(len(toks)-2, 1) + 1),
          |    i -> array_to_string(toks[i:i+2], ' ')))) AS sh
          |  FROM t
          |), sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
          |-- same stop-shingle cap parity as dedup_ngram_jaccard: the
          |-- Spark side drops postings lists over 10000 before pairing.
          |capped AS (
          |  SELECT id, sh FROM sh
          |  QUALIFY count(*) OVER (PARTITION BY sh) BETWEEN 2 AND 10000
          |),
          |common AS (
          |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS common
          |  FROM capped a JOIN capped b ON a.sh = b.sh AND a.id < b.id
          |  GROUP BY a.id, b.id
          |), j AS (
          |  SELECT id_a, id_b,
          |    common::DOUBLE / sa.sz::DOUBLE AS ca,
          |    common::DOUBLE / sb.sz::DOUBLE AS cb
          |  FROM common
          |  JOIN sizes sa ON sa.id = id_a
          |  JOIN sizes sb ON sb.id = id_b
          |)
          |SELECT id_a, id_b, round(ca, 6) AS containment_a,
          |  round(cb, 6) AS containment_b
          |FROM j WHERE greatest(ca, cb) >= 0.5
          |ORDER BY id_a, id_b""".stripMargin),
    "dedup_embedding" -> Query((s, dir) =>
      Dedup.embeddingCosinePairs(embCorpus(s, dir), "vec_id", "embedding",
          0.99, EmbDim),
      // Replays the 4-table × 8-plane sign-LSH candidate generation of
      // Dedup.embeddingCosinePairs exactly (same md5-derived plane
      // literals), then the same exact-cosine verification — the
      // approximate operator is still hash-checkable.
      s"""WITH $ECORPUS_CTE, v AS (
          |  SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM ecorpus
          |), keys AS (
          |${(0 until 4).map(t =>
             s"  SELECT id, $t AS tbl, ${lshBucketSqlAt("v", t * 8, 8)} AS bucket FROM v")
             .mkString("\n  UNION ALL\n")}
          |), cand AS (
          |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
          |  FROM keys a JOIN keys b ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.id < b.id
          |), p AS (
          |  SELECT id_a, id_b,
          |    list_dot_product(va.v, vb.v) /
          |      (sqrt(list_dot_product(va.v, va.v)) * sqrt(list_dot_product(vb.v, vb.v))) AS cosine
          |  FROM cand JOIN v va ON va.id = id_a JOIN v vb ON vb.id = id_b
          |)
          |SELECT id_a, id_b, round(cosine, 6) AS cosine
          |FROM p WHERE cosine >= 0.99 ORDER BY id_a, id_b""".stripMargin),
    // Dedup-index evaluation (op 169, the ann_recall pattern on the
    // dedup family): precision/recall of the MinHash-LSH candidate
    // pairs against exact n-gram-Jaccard ≥ 0.5 ground truth on the
    // planted-dup corpus — the measured basis for choosing k/bands
    // (the S-curve in numbers, not in faith). One-row report; both
    // pair sets are the already-bucketed ops, the intersect is a
    // pair-key join.
    "dedup_eval" -> Query((s, dir) => {
      val c = docCorpus(s, dir)
      dedupEvalReport(
        Dedup.ngramJaccardPairs(c, "doc_id", "text", threshold = 0.5),
        Dedup.minhashLshPairs(c, "doc_id", "text"))
    },
      // op 169: the bands chain + the exact-Jaccard chain composed in
      // one statement (jsh renamed to avoid the bands CTE's sh).
      s"""$minhashBandsCte,
          |jsh AS (
          |  SELECT doc_id AS id, unnest(list_distinct(list_transform(
          |    range(1, greatest(len(toks)-2, 1) + 1),
          |    i -> array_to_string(toks[i:i+2], ' ')))) AS jg
          |  FROM t
          |), sizes AS (SELECT id, count(*) AS sz FROM jsh GROUP BY id),
          |-- same 10000 stop-shingle cap as the Spark-side truth
          |jcap AS (
          |  SELECT id, jg FROM jsh
          |  QUALIFY count(*) OVER (PARTITION BY jg) BETWEEN 2 AND 10000
          |),
          |common AS (
          |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS common
          |  FROM jcap a JOIN jcap b ON a.jg = b.jg AND a.id < b.id
          |  GROUP BY a.id, b.id
          |), truth AS (
          |  SELECT id_a, id_b FROM common
          |  JOIN sizes sa ON sa.id = id_a
          |  JOIN sizes sb ON sb.id = id_b
          |  WHERE common::DOUBLE / (sa.sz + sb.sz - common)::DOUBLE >= 0.5
          |), found AS (
          |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          |  FROM bands a JOIN bands b
          |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
          |), hit AS (SELECT * FROM found INTERSECT SELECT * FROM truth)
          |SELECT
          |  (SELECT count(*) FROM truth) AS n_truth,
          |  (SELECT count(*) FROM found) AS n_found,
          |  (SELECT count(*) FROM hit) AS n_hit,
          |  round((SELECT count(*) FROM hit)::DOUBLE /
          |        (SELECT count(*) FROM found), 6) AS precision,
          |  round((SELECT count(*) FROM hit)::DOUBLE /
          |        (SELECT count(*) FROM truth), 6) AS recall""".stripMargin),
    // Op-169 harness extended to the OTHER two near-dup families
    // (r12 verdict ask #7): SimHash banding and directed containment
    // graded against the SAME exact n-gram-Jaccard ≥ 0.5 ground
    // truth, so every family's knob (k/bands, maxHamming, radius)
    // has a measured recall/precision basis, not a chosen one.
    // SimHash's hamming≤3 gate is a DIFFERENT similarity geometry
    // (angular, frequency-weighted) than set-Jaccard — the report
    // quantifies exactly how far the two disagree on this corpus.
    "dedup_eval_simhash" -> Query((s, dir) => {
      val c = docCorpus(s, dir)
      dedupEvalReport(
        Dedup.ngramJaccardPairs(c, "doc_id", "text", threshold = 0.5),
        Dedup.simhashPairs(c, "doc_id", "text", maxHamming = 3))
    },
      // op 370: the op-169 report with SimHash banding as the
      // candidate generator — same exact-Jaccard truth chain.
      s"""$TOKS_CTE, tok AS (
          |  SELECT doc_id, unnest(toks) AS _w FROM t
          |), h AS (SELECT doc_id, CAST($hexpr AS BIGINT) AS hv FROM tok),
          |bits AS (
          |  SELECT doc_id, r.range AS b,
          |    CASE WHEN (hv >> CAST(r.range AS INT)) & 1 = 1 THEN 1 ELSE -1 END AS sgn
          |  FROM h CROSS JOIN range(0, 32) r
          |), sums AS (SELECT doc_id, b, sum(sgn) AS sc FROM bits GROUP BY doc_id, b),
          |fp AS (
          |  SELECT doc_id,
          |    CAST(sum(CASE WHEN sc > 0 THEN CAST(pow(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
          |  FROM sums GROUP BY doc_id
          |), sbands AS (
          |  SELECT doc_id, simhash, r.range AS band,
          |    (simhash >> CAST(8 * r.range AS INT)) & 255 AS bucket
          |  FROM fp CROSS JOIN range(0, 4) r
          |), found AS (
          |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          |  FROM sbands a JOIN sbands b
          |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
          |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
          |), jsh AS (
          |  SELECT doc_id AS id, unnest(list_distinct(list_transform(
          |    range(1, greatest(len(toks)-2, 1) + 1),
          |    i -> array_to_string(toks[i:i+2], ' ')))) AS jg
          |  FROM t
          |), sizes AS (SELECT id, count(*) AS sz FROM jsh GROUP BY id),
          |jcap AS (
          |  SELECT id, jg FROM jsh
          |  QUALIFY count(*) OVER (PARTITION BY jg) BETWEEN 2 AND 10000
          |),
          |common AS (
          |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS common
          |  FROM jcap a JOIN jcap b ON a.jg = b.jg AND a.id < b.id
          |  GROUP BY a.id, b.id
          |), truth AS (
          |  SELECT id_a, id_b FROM common
          |  JOIN sizes sa ON sa.id = id_a
          |  JOIN sizes sb ON sb.id = id_b
          |  WHERE common::DOUBLE / (sa.sz + sb.sz - common)::DOUBLE >= 0.5
          |), hit AS (SELECT * FROM found INTERSECT SELECT * FROM truth)
          |SELECT
          |  (SELECT count(*) FROM truth) AS n_truth,
          |  (SELECT count(*) FROM found) AS n_found,
          |  (SELECT count(*) FROM hit) AS n_hit,
          |  round((SELECT count(*) FROM hit)::DOUBLE /
          |        (SELECT count(*) FROM found), 6) AS precision,
          |  round((SELECT count(*) FROM hit)::DOUBLE /
          |        (SELECT count(*) FROM truth), 6) AS recall""".stripMargin),
    // Containment is ASYMMETRIC by design (short-inside-long), so
    // graded against symmetric Jaccard truth its "false positives"
    // are mostly the quote/subset pairs Jaccard cannot see — the
    // precision number here is the measured size of that gap.
    "dedup_eval_containment" -> Query((s, dir) => {
      val c = docCorpus(s, dir)
      dedupEvalReport(
        Dedup.ngramJaccardPairs(c, "doc_id", "text", threshold = 0.5),
        Dedup.containmentPairs(c, "doc_id", "text", threshold = 0.5))
    },
      // op 371: the op-169 report with directed containment as the
      // candidate generator — truth and found share ONE capped
      // postings chain (both are views over the same `common` CTE).
      s"""$TOKS_CTE, jsh AS (
          |  SELECT doc_id AS id, unnest(list_distinct(list_transform(
          |    range(1, greatest(len(toks)-2, 1) + 1),
          |    i -> array_to_string(toks[i:i+2], ' ')))) AS jg
          |  FROM t
          |), sizes AS (SELECT id, count(*) AS sz FROM jsh GROUP BY id),
          |jcap AS (
          |  SELECT id, jg FROM jsh
          |  QUALIFY count(*) OVER (PARTITION BY jg) BETWEEN 2 AND 10000
          |),
          |common AS (
          |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS common
          |  FROM jcap a JOIN jcap b ON a.jg = b.jg AND a.id < b.id
          |  GROUP BY a.id, b.id
          |), j AS (
          |  SELECT id_a, id_b,
          |    common::DOUBLE / (sa.sz + sb.sz - common)::DOUBLE AS jac,
          |    common::DOUBLE / sa.sz::DOUBLE AS ca,
          |    common::DOUBLE / sb.sz::DOUBLE AS cb
          |  FROM common
          |  JOIN sizes sa ON sa.id = id_a
          |  JOIN sizes sb ON sb.id = id_b
          |), truth AS (SELECT id_a, id_b FROM j WHERE jac >= 0.5),
          |found AS (SELECT id_a, id_b FROM j WHERE greatest(ca, cb) >= 0.5),
          |hit AS (SELECT * FROM found INTERSECT SELECT * FROM truth)
          |SELECT
          |  (SELECT count(*) FROM truth) AS n_truth,
          |  (SELECT count(*) FROM found) AS n_found,
          |  (SELECT count(*) FROM hit) AS n_hit,
          |  round((SELECT count(*) FROM hit)::DOUBLE /
          |        (SELECT count(*) FROM found), 6) AS precision,
          |  round((SELECT count(*) FROM hit)::DOUBLE /
          |        (SELECT count(*) FROM truth), 6) AS recall""".stripMargin),
    // Op-169 harness on the pHash family (op 404, r13 verdict #4):
    // the 2-of-4 band candidate set graded BEFORE the Hamming verify
    // against exact Hamming≤10 ground truth. The banding does NOT
    // pigeonhole-guarantee radius 10 (10 errors can touch 3 of 4
    // 16-bit bands, killing every 2-band combo), so its recall is a
    // MEASURED number, not an implied one; precision quantifies what
    // the exact-verify step has to filter. Truth is the op-169
    // eval-scoped brute baseline: an all-pairs broadcast
    // nested-loop over the n-doc × 4-long band relation — quadratic
    // BY DEFINITION of an exact-truth eval, sized to the eval
    // corpus, never part of the production dedup path (that path is
    // the banded op 385).
    "dedup_eval_phash" -> Query((s, dir) => {
      val hb = Multimodal.dHashBands(
        Multimodal.withSyntheticPng(docCorpus(s, dir), "doc_id", "text"),
        "doc_id", "image").localCheckpoint()
      val cand = dHashCandPairs(hb)
      val ha = hb.select(col("doc_id").as("id_a"), col("h0").as("a0"),
        col("h1").as("a1"), col("h2").as("a2"), col("h3").as("a3"))
      val hbb = hb.select(col("doc_id").as("id_b"), col("h0").as("b0"),
        col("h1").as("b1"), col("h2").as("b2"), col("h3").as("b3"))
      val ham = bit_count(col("a0").bitwiseXOR(col("b0"))) +
        bit_count(col("a1").bitwiseXOR(col("b1"))) +
        bit_count(col("a2").bitwiseXOR(col("b2"))) +
        bit_count(col("a3").bitwiseXOR(col("b3")))
      val truth = broadcast(ha).crossJoin(hbb)
        .where(col("id_a") < col("id_b") && ham <= 10)
        .select(col("id_a"), col("id_b"))
      dedupEvalReport(truth, cand)
    },
      // op 404: the cand set graded raw against exact all-pairs
      // Hamming≤10 truth (brute nested-loop over the n×4-long hv
      // relation — eval-scoped, like every op-169 truth chain).
      s"""WITH $CORPUS_CTE, $PHASH_CTE, truth AS (
          |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
          |  FROM hv a JOIN hv b ON a.doc_id < b.doc_id
          |  WHERE bit_count(xor(a.h0, b.h0)) + bit_count(xor(a.h1, b.h1))
          |    + bit_count(xor(a.h2, b.h2)) + bit_count(xor(a.h3, b.h3)) <= 10
          |), hit AS (SELECT * FROM cand INTERSECT SELECT * FROM truth)
          |SELECT
          |  (SELECT count(*) FROM truth) AS n_truth,
          |  (SELECT count(*) FROM cand) AS n_found,
          |  (SELECT count(*) FROM hit) AS n_hit,
          |  round((SELECT count(*) FROM hit)::DOUBLE /
          |        (SELECT count(*) FROM cand), 6) AS precision,
          |  round((SELECT count(*) FROM hit)::DOUBLE /
          |        (SELECT count(*) FROM truth), 6) AS recall""".stripMargin),
    "dedup_chunks" -> Query((s, dir) =>
      Corpus.chunkDedup(tbl(s, dir, "documents"), "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_chunks"),
          col("n_dup_chunks"), col("clean_text")),
      """WITH t AS (
          |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
          |  FROM documents
          |), ch AS (
          |  SELECT doc_id,
          |    unnest(range(0, greatest(CAST(ceil(len(toks) / 10.0) AS INT), 1))) AS pos,
          |    unnest(list_transform(
          |      range(0, greatest(CAST(ceil(len(toks) / 10.0) AS INT), 1)),
          |      i -> array_to_string(list_slice(toks, i*10 + 1, i*10 + 10), ' '))) AS chunk
          |  FROM t
          |), h AS (SELECT doc_id, pos, chunk, md5(chunk) AS hh FROM ch),
          |f AS (SELECT hh, count(*) AS c FROM h GROUP BY hh)
          |SELECT doc_id,
          |  count(*) AS n_chunks,
          |  CAST(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
          |  coalesce(array_to_string(
          |    list(chunk ORDER BY pos) FILTER (WHERE c < 2), ' '), '') AS clean_text
          |FROM h JOIN f USING (hh)
          |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // Overlapping-window substring dedup (op 96) on the planted-dup
    // corpus: the +2000000 exact copies must show full-length runs.
    "dedup_windows" -> Query((s, dir) =>
      Corpus.windowDedup(docCorpus(s, dir), "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_windows"),
          col("n_dup_windows"), col("max_dup_run")),
      // Overlapping windows with positions; islands trick (pos −
      // row_number constant within a run) for the longest dup run.
      (s"""WITH $CORPUS_CTE,
          |t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM corpus),
          |""".stripMargin +
          "g AS (SELECT doc_id, " +
          "unnest(list_transform(range(1, greatest(len(toks)-7, 1) + 1), i -> i - 1)) AS pos, " +
          "unnest(list_transform(range(1, greatest(len(toks)-7, 1) + 1), " +
          "i -> md5(array_to_string(toks[i:i+7], ' ')))) AS h FROM t), " +
          "freq AS (SELECT h, count(*) AS c FROM g GROUP BY h), " +
          "fl AS (SELECT doc_id, pos, (c >= 2) AS dup FROM g JOIN freq USING (h)), " +
          "tot AS (SELECT doc_id, count(*) AS n_windows, " +
          "CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows " +
          "FROM fl GROUP BY doc_id), " +
          "runs AS (SELECT doc_id, max(rn) AS max_dup_run FROM (" +
          "SELECT doc_id, grp, count(*) AS rn FROM (" +
          "SELECT doc_id, pos, pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp " +
          "FROM fl WHERE dup) GROUP BY doc_id, grp) GROUP BY doc_id) " +
          "SELECT tot.doc_id, n_windows, n_dup_windows, " +
          "coalesce(max_dup_run, 0) AS max_dup_run " +
          "FROM tot LEFT JOIN runs USING (doc_id) ORDER BY doc_id")),
    "dedup_semantic" -> Query((s, dir) =>
      Cluster.semanticDedupPairs(embCorpus(s, dir), "vec_id", "embedding",
          0.99, k = 8, iters = 2),
      (s"WITH $SEM_CTES $SEM_PAIRS_SELECT ORDER BY id_a, id_b")),
    "dedup_semantic_verdict" -> Query((s, dir) =>
      Cluster.semanticDedupVerdict(embCorpus(s, dir), "vec_id", "embedding",
          0.99, k = 8, iters = 2)
        .select(col("id").as("vec_id"), col("component"), col("keep"),
          col("canonical_id")),
      // SemDeDup verdicts: pair graph → recursive closure (the
      // dedup_clusters pattern) → keep the farthest-from-centroid
      // member per component (d2q DESC, id ASC), canonical = kept id.
      (s"WITH RECURSIVE $SEM_CTES, " +
          s"pairs AS ($SEM_PAIRS_SELECT), " +
          "edges AS (SELECT id_a AS src, id_b AS dst FROM pairs " +
          "UNION SELECT id_b, id_a FROM pairs), " +
          "reach AS (SELECT src, dst FROM edges " +
          "UNION SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src " +
          "WHERE e.dst != r.src), " +
          "comp AS (SELECT src AS id, least(src, min(dst)) AS component " +
          "FROM reach GROUP BY src), " +
          "d AS (SELECT akm.id, " +
          "CAST(floor((list_dot_product(akm.v, akm.v) + (list_dot_product(c2.cv, c2.cv) " +
          "- 2 * list_dot_product(akm.v, c2.cv))) * 1e6 + 0.5) AS BIGINT) AS d2q " +
          "FROM akm JOIN c2 USING (cid)), " +
          "kept AS (SELECT component, id AS keep_id FROM (" +
          "SELECT comp.id, comp.component, row_number() OVER (PARTITION BY component " +
          "ORDER BY d.d2q DESC, comp.id) AS r FROM comp JOIN d ON comp.id = d.id) " +
          "WHERE r = 1) " +
          "SELECT comp.id AS vec_id, comp.component, " +
          "comp.id = kept.keep_id AS keep, kept.keep_id AS canonical_id " +
          "FROM comp JOIN kept USING (component) ORDER BY vec_id")),
    // Canonical doc per duplicate cluster (op 217 — the keep-one
    // policy the op-81/203 reports motivate): within each connected
    // component, keep the LONGEST text, ties to the smallest id — a
    // deterministic total order, so "which copy survives dedup" is
    // engine- and partitioning-independent. One window over the
    // (tiny) component table joined to text lengths.
    "dedup_canonical" -> Query((s, dir) => {
      val comp = Dedup.clusters(
        Dedup.minhashLshPairs(docCorpus(s, dir), "doc_id", "text"),
        "id_a", "id_b")
      val lens = docCorpus(s, dir)
        .select(col("doc_id").as("id"), length(col("text")).as("len"))
      val w = Window.partitionBy(col("cluster_id"))
        .orderBy(col("len").desc, col("id"))
      comp.join(lens, "id")
        .withColumn("rn", row_number().over(w))
        .withColumn("cluster_size",
          count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
        .where(col("rn") === 1)
        .select(col("cluster_id"), col("id").as("canonical_id"),
          col("len").cast("long").as("canonical_len"), col("cluster_size"),
          (col("cluster_size") - 1).as("n_removed"))
    },
      // op 217: the op-81 component table joined to corpus text
      // lengths, the same (len DESC, id) keep-one window.
      s"""WITH RECURSIVE pairs AS (
          |  $minhashPairsSql
          |), edges AS (
          |  SELECT id_a AS src, id_b AS dst FROM pairs
          |  UNION SELECT id_b, id_a FROM pairs
          |), reach AS (
          |  SELECT src, dst FROM edges
          |  UNION
          |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
          |  WHERE e.dst != r.src
          |), comp AS (
          |  SELECT src AS id, least(src, min(dst)) AS cluster_id
          |  FROM reach GROUP BY src
          |), $CORPUS_CTE,
          |lens AS (SELECT doc_id AS id, length(text) AS len FROM corpus),
          |j AS (
          |  SELECT comp.cluster_id, comp.id, lens.len,
          |    row_number() OVER (PARTITION BY comp.cluster_id
          |                       ORDER BY lens.len DESC, comp.id) AS rn,
          |    count(*) OVER (PARTITION BY comp.cluster_id) AS cs
          |  FROM comp JOIN lens ON comp.id = lens.id
          |)
          |SELECT cluster_id, id AS canonical_id,
          |  CAST(len AS BIGINT) AS canonical_len,
          |  cs AS cluster_size, cs - 1 AS n_removed
          |FROM j WHERE rn = 1 ORDER BY cluster_id""".stripMargin)
  )
}
