package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.expressions.DotProduct

/** Approximate-nearest-neighbor search over embedding columns (SURVEY §2
  * ops 51-52). Baseline: brute-force cosine top-k (exact, O(Q·N) — fine
  * when the query side is small/broadcastable). Scale path: LSH
  * random-hyperplane bucketing, which shuffles on bucket keys so the
  * candidate set per query is bounded.
  *
  * Hot-path note: Spark's higher-order functions (aggregate/zip_with)
  * are interpreted, not codegen'd — pathological in O(n²) kernels — so
  * the hot path uses the native [[graft.expressions.DotProduct]]
  * expression (codegen'd primitive loop, sequential order → results
  * bit-identical to the interpreted fold and the DuckDB oracle).
  */
object Similarity {

  /** Interpreted fold dot product (any dimension; not for hot loops). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Native codegen'd dot product (tight loop — see DotProduct). */
  def dotNative(a: Column, b: Column): Column = DotProduct(a, b)

  def normNative(v: Column): Column = sqrt(DotProduct(v, v))

  /** Exact top-k cosine neighbors for each query vector. Norms are
    * computed once per side (O(n·d)), so each of the Q·N pairs costs a
    * single codegen'd dot product. The query side broadcasts.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                     vecCol: String, k: Int): DataFrame =
    bruteTopK(queries, corpus, idCol, vecCol, k, labelCol = None)

  /** Shared broadcast-crossJoin + rank pipeline behind
    * [[bruteForceTopK]] and [[hardNegativesTopK]]: one norm per side,
    * one codegen'd dot per pair, row_number ≤ k per query. With
    * `labelCol`, both sides carry the label, same-label pairs are
    * filtered before ranking, and the neighbor's label is emitted.
    */
  private def bruteTopK(queries: DataFrame, corpus: DataFrame,
                        idCol: String, vecCol: String, k: Int,
                        labelCol: Option[String]): DataFrame = {
    def side(df: DataFrame, id: String, v: String, l: String) = {
      val base = df.select(col(idCol).as(id) +: labelCol.toSeq.map(c => col(c).as(l)) :+
        col(vecCol).cast("array<double>").as(v): _*)
      base.withColumn(v + "n", normNative(col(v)))
    }
    val q = side(queries, "query_id", "qv", "ql")
    val c = side(corpus, "neighbor_id", "cv", "cl")
    val paired = c.crossJoin(broadcast(q))
    // Null-safe exclusion: a NULL label is its own class (NULL vs NULL
    // is same-label, NULL vs 'x' is a valid negative) — the naive =!=
    // would NULL out the predicate and silently drop every pair that
    // touches a NULL label.
    val scored = labelCol.fold(paired)(_ => paired.where(!(col("cl") <=> col("ql"))))
      .withColumn("cosine",
        dotNative(col("qv"), col("cv")) / (col("qvn") * col("cvn")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    val ranked = scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
    ranked.select(Seq(col("query_id"), col("rank"), col("neighbor_id")) ++
      labelCol.map(_ => col("cl").as("neighbor_label")) :+
      round(col("cosine"), 6).as("cosine"): _*)
  }

  /** Hard-negative mining for contrastive training: exact top-k cosine
    * neighbors per query among corpus rows with a DIFFERENT label —
    * the closest wrong-class examples, the ones a contrastive loss
    * learns most from. Same brute shape as [[bruteForceTopK]] (the
    * label predicate rides the scored join, so nothing extra
    * shuffles); at corpus scale swap the cross join for the IVF/LSH
    * candidate generation exactly as the top-k family does, keeping
    * the label filter on the candidate set.
    */
  def hardNegativesTopK(queries: DataFrame, corpus: DataFrame,
                        idCol: String, vecCol: String, labelCol: String,
                        k: Int): DataFrame =
    bruteTopK(queries, corpus, idCol, vecCol, k, labelCol = Some(labelCol))

  /** Deterministic pseudo-random hyperplane component for (plane p,
    * dim d): md5-derived uniform in [-1, 1). Computed driver-side once
    * (plane count × dim values) and inlined as literals — the per-row
    * projection is then a pure codegen'd expression.
    */
  def planeComponent(p: Int, d: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"${p}_$d".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 8), 16).toDouble / 2147483648.0 - 1.0
  }

  /** Sign bucket of a vector under `planes` md5-derived hyperplanes:
    * plane vectors are driver-computed literals, projections are native
    * dot products. */
  def lshBucket(vec: Column, planes: Int, dim: Int): Column =
    lshBucketAt(vec, 0, planes, dim)

  /** Sign bucket under planes [offset, offset+planes) — lets callers
    * build several independent hash tables (offset = t·planes) whose
    * candidate sets are OR'd, the standard LSH recall amplification.
    */
  def lshBucketAt(vec: Column, offset: Int, planes: Int, dim: Int): Column =
    (0 until planes).map { j =>
      val plane = typedLit((0 until dim).map(d => planeComponent(offset + j, d)))
      when(dotNative(vec, plane) >= 0, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)

  /** IVF-style ANN: the corpus is coarse-quantized into `nCells`
    * inverted lists (deterministic centroids: the lowest-id corpus
    * vectors), each vector assigned to its max-cosine centroid; a query
    * probes its `nProbe` closest cells and ranks only those lists.
    * At 100 TB the inverted lists shuffle on cell_id and the centroid
    * table broadcasts — no all-pairs scan.
    *
    * SIZE nCells TO THE CORPUS: per-list length is ~n/nCells and query
    * cost is nProbe·n/nCells, so fixed cells on a growing corpus decays
    * toward brute force. The classic IVF rule `nCells ≈ √n` balances
    * the broadcast centroid table (O(nCells·dim)) against list length;
    * the default 16 suits n ≲ 10⁴.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
              vecCol: String, k: Int, nCells: Int = 16,
              nProbe: Int = 4): DataFrame =
    ivfTopKImpl(queries, corpus, idCol, vecCol, k, nCells, nProbe,
      labelCol = None)

  /** Hard-negative mining through the IVF index — the scale path of
    * [[hardNegativesTopK]]: candidates come from the query's nProbe
    * nearest cells (nProbe·n/nCells of the corpus, not all of it) and
    * the same-label exclusion rides the candidate join. Approximate
    * exactly as [[ivfTopK]] is (a negative outside the probed cells is
    * missed), deterministic for the same reasons (lowest-id centroids,
    * total-order tie-breaks) — so an oracle replays it bit-for-bit.
    */
  def hardNegativesIvfTopK(queries: DataFrame, corpus: DataFrame,
                           idCol: String, vecCol: String, labelCol: String,
                           k: Int, nCells: Int = 16,
                           nProbe: Int = 4): DataFrame =
    ivfTopKImpl(queries, corpus, idCol, vecCol, k, nCells, nProbe,
      labelCol = Some(labelCol))

  /** Cell-assignment score with zero-norm vectors pinned to -Inf: a
    * degenerate vector still deterministically lands in its lowest-id
    * cell on every engine, instead of null/NaN ordering silently
    * dropping it from the argmax (it would stay indexed but unfindable).
    */
  private def cellScore(vec: String, norm: String): Column = {
    val den = col(norm) * col("centn")
    when(den =!= 0, dotNative(col(vec), col("centv")) / den)
      .otherwise(lit(Double.NegativeInfinity))
  }

  /** IVF index build: (centroid table, cell-assigned corpus). This is
    * the expensive half — ONE corpus×nCells assignment pass (N·√n
    * distance comps at the √n cell rule), paid once per corpus refresh
    * and amortized over every later search batch. At small Q the build
    * dominates end-to-end IVF (the Scale probe measures the split), so
    * production mining materializes both relations to parquet — the
    * [[graft.operators.Dedup.minhashIndexRelation]] convention — and
    * streams query batches against them via [[ivfSearchIndexed]].
    */
  def ivfCorpusIndex(corpus: DataFrame, idCol: String, vecCol: String,
                     nCells: Int, labelCol: Option[String] = None)
      : (DataFrame, DataFrame) = {
    val c = corpus.select(col(idCol).as("neighbor_id") +:
        labelCol.toSeq.map(l => col(l).as("cl")) :+
        col(vecCol).cast("array<double>").as("cv"): _*)
      .withColumn("cn", normNative(col("cv")))
    val cent = c.orderBy(col("neighbor_id")).limit(nCells)
      .select(col("neighbor_id").as("cell_id"), col("cv").as("centv"),
        col("cn").as("centn"))
    // Corpus→cell is argmax (take=1): a max_by hash aggregate with
    // map-side partials — NOT a window, which would shuffle and sort
    // corpus×nCells rows by vector id. Tie-break (-cell_id) matches the
    // probe window's (cosine DESC, cell_id ASC).
    val corpusCells = c.crossJoin(broadcast(cent))
      .withColumn("_cs", cellScore("cv", "cn"))
      .groupBy(col("neighbor_id").as("nid"))
      .agg(max_by(
        struct(Seq(col("cell_id"), col("cv"), col("cn")) ++
          labelCol.map(_ => col("cl")): _*),
        struct(col("_cs"), -col("cell_id"))).as("_m"))
      .select(Seq(col("nid"), col("_m.cell_id").as("cell_id"),
        col("_m.cv").as("cv"), col("_m.cn").as("cn")) ++
        labelCol.map(_ => col("_m.cl").as("cl")): _*)
    (cent, corpusCells)
  }

  /** Search a prebuilt IVF index (see [[ivfCorpusIndex]]): probe the
    * query's nProbe nearest cells, exact-rank the candidates. Per-query
    * cost is nProbe·n/nCells candidate scores + the broadcast centroid
    * probe — independent of how the index was produced (in-plan or
    * read back from parquet).
    */
  def ivfSearchIndexed(queries: DataFrame, idCol: String, vecCol: String,
                       k: Int, nProbe: Int, cent: DataFrame,
                       corpusCells: DataFrame,
                       labelCol: Option[String] = None): DataFrame = {
    val q = queries.select(col(idCol).as("query_id") +:
        labelCol.toSeq.map(l => col(l).as("ql")) :+
        col(vecCol).cast("array<double>").as("qv"): _*)
      .withColumn("qn", normNative(col("qv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("_cs").desc, col("cell_id"))
    val probes = q.crossJoin(broadcast(cent))
      .withColumn("_cs", cellScore("qv", "qn"))
      .withColumn("_r", row_number().over(w)).where(col("_r") <= nProbe)
      .drop("centv", "centn", "_cs", "_r")
    val candidates = corpusCells.join(probes, "cell_id")
    // Null-safe, like bruteTopK: NULL labels form their own class
    // instead of nulling the predicate and vanishing from the mine.
    val scored = labelCol.fold(candidates)(_ =>
        candidates.where(!(col("cl") <=> col("ql"))))
      .withColumn("cosine",
        dotNative(col("qv"), col("cv")) / (col("qn") * col("cn")))
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("nid"))
    scored.withColumn("rank", row_number().over(wRank))
      .where(col("rank") <= k)
      .select(Seq(col("query_id"), col("rank"),
        col("nid").as("neighbor_id")) ++
        labelCol.map(_ => col("cl").as("neighbor_label")) :+
        round(col("cosine"), 6).as("cosine"): _*)
  }

  private def ivfTopKImpl(queries: DataFrame, corpus: DataFrame,
                          idCol: String, vecCol: String, k: Int,
                          nCells: Int, nProbe: Int,
                          labelCol: Option[String]): DataFrame = {
    val (cent, corpusCells) =
      ivfCorpusIndex(corpus, idCol, vecCol, nCells, labelCol)
    ivfSearchIndexed(queries, idCol, vecCol, k, nProbe, cent, corpusCells,
      labelCol)
  }

  /** LSH-bucketed ANN: brute-force ranking *within* sign buckets.
    * Recall < 1 (approximate by design); at 100 TB this shuffles on the
    * bucket key instead of broadcasting the whole corpus.
    *
    * SIZE planes TO THE CORPUS (same rule as
    * [[graft.operators.Dedup.embeddingCosinePairs]]): bucket occupancy
    * is ~n/2^planes and per-query cost tracks it, so
    * `planes ≈ log2(n / targetOccupancy)`. Single-table, so each extra
    * plane costs recall on far neighbours — prefer IVF with probes when
    * recall matters more than latency. Default 4 suits n ≲ 10⁴.
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
              vecCol: String, k: Int, dim: Int, planes: Int = 4): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("qv"))
      .withColumn("bucket", lshBucket(col("qv"), planes, dim))
      .withColumn("qn", normNative(col("qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).cast("array<double>").as("cv"))
      .withColumn("bucket", lshBucket(col("cv"), planes, dim))
      .withColumn("cn", normNative(col("cv")))
    val scored = c.join(q, "bucket")
      .withColumn("cosine",
        dotNative(col("qv"), col("cv")) / (col("qn") * col("cn")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cosine"), 6).as("cosine"))
  }

  /** LSH-bucketed RANGE search (op 384) — the other first-class
    * vector-search API next to top-k: ALL corpus vectors whose cosine
    * with a query is ≥ `minCosine`, candidates restricted to the
    * query's sign-LSH bucket (the [[lshTopK]] candidate generator, so
    * recall characteristics and the oracle replay are shared). Range
    * queries are what dedup-style "everything this similar" retrieval
    * runs where top-k's fixed k under- or over-fetches. Same scale
    * shape as lshTopK: one bucket equi-join, no all-pairs; result
    * size is data-dependent by design.
    */
  def lshRangeSearch(queries: DataFrame, corpus: DataFrame, idCol: String,
                     vecCol: String, minCosine: Double, dim: Int,
                     planes: Int = 4): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("qv"))
      .withColumn("bucket", lshBucket(col("qv"), planes, dim))
      .withColumn("qn", normNative(col("qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).cast("array<double>").as("cv"))
      .withColumn("bucket", lshBucket(col("cv"), planes, dim))
      .withColumn("cn", normNative(col("cv")))
    c.join(q, "bucket")
      .withColumn("cosine",
        dotNative(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .where(col("cosine") >= minCosine)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cosine"), 6).as("cosine"))
  }

  /** Plane count sized to the corpus for the kNN-graph build:
    * `max(4, floor(log2 n) - 4)` targets ~16 vectors per sign bucket,
    * so Σ bucket² stays near-linear in n (the Scale probe's rule).
    */
  def planesForN(n: Long): Int =
    math.max(4, (math.log(n.toDouble) / math.log(2)).toInt - 4)

  /** Corpus-wide kNN graph (SURVEY §2 op 150): every vector's top-k
    * cosine neighbors among candidates sharing ANY of its LSH tables'
    * sign buckets (OR'd tables, the standard recall amplification).
    * Bucket-join shaped — candidates shuffle on (table, bucket), cost
    * ∝ Σ bucket², never N²; a pair met in both tables collapses via
    * the per-pair max (cosine is identical on every meeting).
    *
    * HOT-BUCKET CAP (same convention as
    * [[graft.operators.Dedup.DefaultMaxBucket]]): a degenerate bucket —
    * a dense near-duplicate cluster, exactly what a dedup-bound corpus
    * has — would cost c² pairs in ONE task. Buckets holding more than
    * `maxBucket` vectors are dropped from that table (both join sides,
    * so the filter is symmetric); a vector in a hot bucket can still
    * meet neighbors through its OTHER tables, and a bucket hotter than
    * the cap carries no per-pair signal worth quadratic work — the
    * same recall trade the dedup family documents. Deterministic, so a
    * SQL oracle replays it with a bucket-count CTE. Pass Int.MaxValue
    * for exact uncapped runs.
    *
    * SIZE planes TO THE CORPUS via [[planesForN]]; `tableOffsets`
    * defaults to two independent tables (offsets 0 and `planes`).
    * Returns (query_id, rank, neighbor_id, cosine) with cosine raw
    * (callers round for display/oracles).
    */
  def knnGraph(df: DataFrame, idCol: String, vecCol: String, k: Int,
               dim: Int, planes: Int = 4,
               tableOffsets: Seq[Int] = Seq.empty,
               maxBucket: Int = Dedup.DefaultMaxBucket): DataFrame =
    knnTopK(knnPairs(df, idCol, vecCol, dim, planes, tableOffsets,
      maxBucket), k)

  /** The candidate edges of [[knnGraph]]: one (query_id, neighbor_id,
    * cosine) row per pair sharing a capped bucket in any table.
    */
  def knnPairs(df: DataFrame, idCol: String, vecCol: String, dim: Int,
               planes: Int = 4, tableOffsets: Seq[Int] = Seq.empty,
               maxBucket: Int = Dedup.DefaultMaxBucket): DataFrame = {
    val capped = knnIndexRelation(df, idCol, vecCol, dim, planes,
      tableOffsets, maxBucket)
    val q = capped.select(col("_id").as("query_id"), col("v").as("qv"),
      col("nm").as("qn"), col("bucket"), col("tbl"))
    val c = capped.select(col("_id").as("neighbor_id"), col("v").as("cv"),
      col("nm").as("cn"), col("bucket"), col("tbl"))
    q.join(c, Seq("tbl", "bucket"))
      .where(col("neighbor_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(max(dotNative(col("qv"), col("cv"))
        / (col("qn") * col("cn"))).as("cosine"))
  }

  /** The k best neighbours per query of (query_id, neighbor_id, cosine)
    * edges, ties to the lower neighbor id: (query_id, rank,
    * neighbor_id, cosine).
    */
  def knnTopK(pairs: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    pairs.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
  }

  /** Recall@k evaluation of an approximate ANN result against the
    * exact ground truth — the index-tuning feedback loop every
    * approximate similarity stack needs (pick planes/probes by
    * measured recall on a query sample, not by faith). Inputs are two
    * (query_id, neighbor_id, ...) top-k results (e.g. [[lshTopK]] vs
    * [[bruteForceTopK]] on the same query sample); output is one row
    * per ground-truth query: n_hits = |approx ∩ exact| and recall =
    * n_hits/k. Queries the approximate index missed entirely (empty
    * bucket) still appear, at recall 0 — a left join from the exact
    * side, not an inner join, so the metric can't silently drop the
    * worst cases.
    *
    * Scale shape: one equi-join on (query_id, neighbor_id) between two
    * k·|sample|-row relations + a keyed count — negligible next to
    * producing either input; run it on a sampled query set.
    */
  def recallAtK(approx: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    val a = approx.select(col("query_id"), col("neighbor_id"))
    val g = exact.select(col("query_id"), col("neighbor_id"))
    val hits = g.join(a, Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
    g.select(col("query_id")).distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)).cast("double") / k).as("recall"))
  }

  /** The kNN graph's capped candidate index as a standalone relation
    * — (\_id, v, nm, bucket, tbl), one row per vector per LSH table,
    * hot buckets dropped (see [[knnGraph]]'s cap rationale). Public so
    * the streaming twin materializes it ONCE (parquet) and probes it
    * per micro-batch: because the pair join is on equal (tbl, bucket),
    * capping the index side alone is equivalent to the batch op's
    * symmetric cap — a query vector in a dropped bucket finds zero
    * candidates there either way — so streamed probes of the same
    * corpus reproduce [[knnGraph]] exactly.
    *
    * The cap is a bucket-count aggregate joined back — NOT a window
    * count: the agg combines map-side to one row per (tbl, bucket)
    * (≤ tables·2^planes rows of 16 B), so AQE broadcasts it and the
    * main rows never take an extra shuffle/sort for the filter. (A
    * measured window-count variant doubled the probe's wall-time —
    * it re-shuffled AND re-sorted every carried vector payload.) If
    * the bucket table ever outgrows broadcast (planes ≈ log2 n keeps
    * it at ~n/16 rows), AQE falls back to a shuffle join already
    * co-partitioned with the pair join's keys.
    */
  def knnIndexRelation(df: DataFrame, idCol: String, vecCol: String,
                       dim: Int, planes: Int = 4,
                       tableOffsets: Seq[Int] = Seq.empty,
                       maxBucket: Int = Dedup.DefaultMaxBucket): DataFrame = {
    val offsets = if (tableOffsets.nonEmpty) tableOffsets else Seq(0, planes)
    val e = df.select(col(idCol).as("_id"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("nm", normNative(col("v")))
    val tabs = offsets.map { off =>
      e.select(col("_id"), col("v"), col("nm"),
        lshBucketAt(col("v"), off, planes, dim).as("bucket"),
        lit(off).as("tbl"))
    }
    val all = tabs.reduce(_ unionAll _)
    if (maxBucket == Int.MaxValue) all
    else {
      val ok = all.groupBy(col("tbl"), col("bucket"))
        .agg(count(lit(1)).as("_bc"))
        .where(col("_bc") <= maxBucket)
        .select(col("tbl"), col("bucket"))
      all.join(ok, Seq("tbl", "bucket"))
    }
  }

  /** Stateless probe of a materialized [[knnIndexRelation]]: each
    * arriving vector hashes into its LSH tables' buckets and joins the
    * index on (tbl, bucket) — a stream-static equi-join, no state
    * store at all (the op-115 pattern: the index carries the history,
    * the stream is map-shaped) — emitting raw (query_id, neighbor_id,
    * cosine) candidate edges. A pair met in both tables emits twice
    * with identical cosine; rank/compact at the sink
    * (`groupBy(query, neighbor).max(cosine)` + top-k window), where
    * duplicate emissions collapse for free. Streaming-safe: works on a
    * streaming `queries` DataFrame in Append mode.
    */
  def knnProbe(queries: DataFrame, index: DataFrame, idCol: String,
               vecCol: String, dim: Int, planes: Int = 4,
               tableOffsets: Seq[Int] = Seq.empty): DataFrame = {
    val offsets = if (tableOffsets.nonEmpty) tableOffsets else Seq(0, planes)
    val qv = queries.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("qv"))
      .withColumn("qn", normNative(col("qv")))
    val probes = offsets.map { off =>
      qv.select(col("query_id"), col("qv"), col("qn"),
        lshBucketAt(col("qv"), off, planes, dim).as("bucket"),
        lit(off).as("tbl"))
    }.reduce(_ unionAll _)
    probes.join(index, Seq("tbl", "bucket"))
      .where(col("_id") =!= col("query_id"))
      .select(col("query_id"), col("_id").as("neighbor_id"),
        (dotNative(col("qv"), col("v")) / (col("qn") * col("nm")))
          .as("cosine"))
  }
}
