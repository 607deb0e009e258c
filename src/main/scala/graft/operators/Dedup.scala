package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Text

/** Deduplication operators for training-data pipelines (SURVEY §2 ops
  * 46-50). Every op is a `DataFrame => DataFrame` transform built from
  * explode→join→groupBy shapes — the standard shuffle-scalable
  * formulations (a 100 TB corpus shuffles on shingle/bucket/band keys;
  * no pairwise all-to-all except inside LSH buckets).
  *
  * Engine-neutral hashing: md5 hex strings (lexicographic min = minhash)
  * — never Spark's murmur `hash()`, which no oracle can reproduce.
  */
object Dedup {

  /** Word w-shingles (distinct), as space-joined strings — native
    * expression (see [[graft.expressions.WordShingles]]; the HOF chain
    * was the dedup bottleneck).
    */
  def shingles(text: Column, w: Int = 3): Column =
    graft.expressions.WordShingles(text, w)

  /** Exact dedup: canonical id = min id within an md5(text) group.
    * One hash-shuffle on the digest; at scale this is the cheapest
    * possible dedup (no text comparison after the digest). All input
    * columns ride along (appending canonical_id/is_dup), so pipelines
    * filter in place instead of joining the verdict back — the join
    * would recompute the whole upstream subtree (Spark reuses only
    * identical Exchanges, not arbitrary subplans).
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(md5(col(textCol)))
    df.withColumn("canonical_id", min(col(idCol)).over(w))
      .withColumn("is_dup", col(idCol) =!= col("canonical_id"))
  }

  /** Modulus for the affine minhash family (2^32). */
  private[graft] val MinhashMod = 4294967296L

  /** Default cap on a bucket/posting id list ([[bucketPairs]]). The
    * in-bucket pair expansion aggregates each bucket's ids into ONE
    * collect_list row, so an unbounded hot bucket (a stop-shingle in
    * millions of docs, a degenerate band signature) concentrates O(c)
    * heap on one executor and c² candidate pairs downstream. 10k ids ≈
    * 80 KB buffer and ≤5·10⁷ pairs — safe; and a bucket hotter than that
    * carries no per-pair signal worth quadratic work (the standard
    * stop-shingle drop). Pass Int.MaxValue explicitly for exact uncapped
    * runs.
    */
  val DefaultMaxBucket = 10000

  /** The in-bucket pair expansion of every candidate generator here
    * and [[Cluster.semanticDedupPairs]]: each pair of `member`s sharing
    * a `bucket` of 2..`maxBucket` members, as columns `a`, `b` with
    * `key(a) < key(b)` — once per shared bucket. Generated WITHIN each
    * bucket (groupBy + double explode), not by a bucket self-join: the
    * keyed input is computed once instead of twice, and one shuffle
    * replaces two.
    */
  private[graft] def bucketPairs(keyed: DataFrame, bucket: Seq[Column],
                                 member: Column, maxBucket: Int,
                                 key: Column => Column = identity): DataFrame =
    keyed.groupBy(bucket: _*)
      .agg(collect_list(member).as("ids"))
      .where(size(col("ids")) > 1 && size(col("ids")) <= maxBucket)
      .select(explode(col("ids")).as("a"), col("ids"))
      .select(col("a"), explode(col("ids")).as("b"))
      .where(key(col("a")) < key(col("b")))

  /** MinHash signatures: k min values per doc under the affine family
    * h_i(s) = (a(s) + i·b(s)) mod 2^32, where a,b are the first two
    * 32-bit words of md5(s) — ONE digest per posting instead of k
    * (the k-digest variant spent >80% of dedup CPU inside md5), and
    * integer mins aggregate/shuffle cheaper than 32-char hex strings.
    * Engine-neutral: any SQL engine reproduces a,b from the md5 hex.
    * Returns (id, sig_0..sig_{k-1}); explode + k min-aggregates,
    * map-side combinable, one shuffle on id.
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 8, shingleWidth: Int = 3): DataFrame = {
    val ex = df.select(col(idCol),
        explode(shingles(col(textCol), shingleWidth)).as("_sh"))
      .withColumn("_hex", md5(col("_sh")))
      .withColumn("_a", conv(substring(col("_hex"), 1, 8), 16, 10).cast("long"))
      .withColumn("_b", conv(substring(col("_hex"), 9, 8), 16, 10).cast("long"))
    val mins = (0 until k).map(i =>
      min((col("_a") + lit(i.toLong) * col("_b")) % lit(MinhashMod)).as(s"sig_$i"))
    ex.groupBy(col(idCol)).agg(mins.head, mins.tail: _*)
  }

  /** (id, band, bucket) LSH band keys for every doc: the shared front
    * half of [[minhashLshPairs]] and [[minhashLshIncremental]]. Single
    * pass over the signatures — bands as an exploded array of
    * (band, bucket) structs, NOT a union of per-band selects, which
    * would recompute the shingle explosion `bands` times. The
    * '|'-joined integer sigs ARE the bucket key — unambiguous, and
    * cheaper than hashing them again.
    */
  private def lshBandKeys(df: DataFrame, idCol: String, textCol: String,
                          k: Int, bands: Int, shingleWidth: Int): DataFrame = {
    require(k % bands == 0,
      s"minhash signature length k=$k must be divisible by bands=$bands " +
        "(trailing signature columns would be silently dropped, weakening LSH recall)")
    val rows = k / bands
    val sigs = minhashSignatures(df, idCol, textCol, k, shingleWidth)
    val bandArr = array((0 until bands).map { b =>
      val sigCols = (b * rows until (b + 1) * rows).map(i => col(s"sig_$i"))
      struct(lit(b).as("band"), concat_ws("|", sigCols: _*).as("bucket"))
    }: _*)
    sigs.select(col(idCol), explode(bandArr).as("bb"))
      .select(col(idCol), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** MinHash + LSH banding: docs sharing any band bucket become candidate
    * pairs. bands*rowsPerBand = k. Output: distinct (id_a < id_b) pairs.
    * The band bucket join bounds candidates — the scale path for near-dup
    * at 100 TB (vs quadratic all-pairs).
    */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      k: Int = 8, bands: Int = 4,
                      shingleWidth: Int = 3,
                      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    // LSH buckets are small by construction; maxBucket caps the c²
    // blowup of a degenerate one (every doc sharing a band signature).
    bucketPairs(lshBandKeys(df, idCol, textCol, k, bands, shingleWidth),
        Seq(col("band"), col("bucket")), col(idCol), maxBucket)
      .distinct()
      .select(col("a").as("id_a"), col("b").as("id_b"))
  }

  /** Incremental MinHash-LSH dedup: flag NEW docs against an EXISTING
    * corpus without re-pairing the corpus with itself — the daily-
    * ingest shape at 100 TB, where re-running all-corpus dedup per
    * batch would cost O(corpus) instead of O(batch).
    *
    * The index side collapses to ONE row per (band, bucket) —
    * (min id, member count) — before the join: that aggregate IS the
    * LSH index, is corpus-sized at most (in practice far smaller), can
    * be precomputed/persisted between batches, and makes the join
    * build side as small as possible. New docs join their band keys
    * against it; a hit means some indexed doc shares the band
    * signature. dup_of = min over hit buckets of the bucket-min id =
    * the earliest indexed sharer overall (every sharer is bounded by
    * its own bucket's min — the same convention as the streaming twin,
    * streaming/Stateful.minhashDedupStream).
    *
    * Buckets hotter than maxBucket are dropped from the index (the
    * stop-shingle rule, as in [[minhashLshPairs]]): a band signature
    * shared by >10k docs carries no near-dup signal, and dropping it
    * bounds the join fan-out per new doc to bands·maxBucket.
    *
    * Output: one row per flagged new doc — (id, dup_of).
    */
  def minhashLshIncremental(newDocs: DataFrame, index: DataFrame,
                            idCol: String, textCol: String,
                            k: Int = 8, bands: Int = 4,
                            shingleWidth: Int = 3,
                            maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val idx = lshBandKeys(index, idCol, textCol, k, bands, shingleWidth)
      .groupBy(col("band"), col("bucket"))
      .agg(min(col(idCol)).as("_min_id"), count(lit(1)).as("_c"))
      .where(col("_c") <= maxBucket)
    val q = lshBandKeys(newDocs, idCol, textCol, k, bands, shingleWidth)
    earliestSharer(q.join(idx, Seq("band", "bucket"))
      .select(col(idCol), col("_min_id").as("dup_of")), idCol)
  }

  /** Per doc, the least `dup_of` over its (idCol, dup_of) bucket hits:
    * each hit is its bucket's minimum id, which bounds every sharer in
    * that bucket, so the least hit is the earliest sharer overall.
    */
  def earliestSharer(hits: DataFrame, idCol: String): DataFrame =
    hits.groupBy(col(idCol)).agg(min(col("dup_of")).as("dup_of"))

  /** 32-bit SimHash fingerprints from whitespace tokens. Token hash =
    * first 8 md5 hex chars as an int; fingerprint bit j set iff the
    * signed bit-j sum over tokens is positive.
    *
    * One groupBy(id) with 32 bit-count sums — NOT an explode(×32) +
    * double aggregation, which would shuffle 32 rows per token. The
    * sign-sum identity: sum(±1 for bit j) = 2·ones_j − n, so bit j is
    * set iff 2·sum(bit_j) > n. All partial-aggregatable built-ins.
    */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = df.select(col(idCol),
      explode(Text.tokens(col(textCol))).as("_w"))
    val h = tok.withColumn("_h", conv(substring(md5(col("_w")), 1, 8), 16, 10).cast("long"))
    val bitSums = (0 until 32).map(b =>
      sum(expr(s"shiftright(_h, $b) & 1")).as(s"_s$b"))
    val fp = (0 until 32).map(b =>
      when(col(s"_s$b") * 2 > col("_n"), lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ + _)
    h.groupBy(col(idCol))
      .agg(count(lit(1)).as("_n"), bitSums: _*)
      .select(col(idCol), fp.as("simhash"))
  }

  /** SimHash near-duplicate pairs: docs whose 32-bit fingerprints differ
    * in at most `maxHamming` bits. Pigeonhole banding: the fingerprint
    * splits into maxHamming+1 bit bands, and any pair within the radius
    * must match EXACTLY on at least one band — so candidates come from a
    * band-bucket join (the same LSH shape as minhash banding, one
    * shuffle on (band, bucket)), then bit_count(xor) verifies the true
    * hamming distance. Fingerprints ride through the bucket aggregation
    * (id + int), so no re-join against the corpus is needed.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3,
                   maxBucket: Int = DefaultMaxBucket): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 32,
      s"maxHamming must be in [0, 32), got $maxHamming")
    val bands = maxHamming + 1
    val fps = simhash(df, idCol, textCol)
      .select(col(idCol).as("id"), col("simhash"))
    // 32 bits cut into `bands` near-equal chunks: band b covers bits
    // [floor(32b/bands), floor(32(b+1)/bands)).
    val bandArr = array((0 until bands).map { b =>
      val lo = 32 * b / bands
      val hi = 32 * (b + 1) / bands
      val mask = (1L << (hi - lo)) - 1L
      struct(lit(b).as("band"),
        shiftright(col("simhash"), lo).bitwiseAND(lit(mask)).as("bucket"))
    }: _*)
    val keyed = fps.select(col("id"), col("simhash"), explode(bandArr).as("bb"))
      .select(col("id"), col("simhash"),
        col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    bucketPairs(keyed, Seq(col("band"), col("bucket")),
        struct(col("id"), col("simhash")), maxBucket, _.getField("id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  /** (id_a, id_b, common = |A∩B|, sz_a = |A|, sz_b) for every doc
    * pair sharing a kept shingle — the front half of
    * [[ngramJaccardPairs]] and [[containmentPairs]]. |A| is
    * size(shingle array), attached to every posting at explosion time (a
    * sizes relation would re-explode the corpus or cost a third
    * shuffle); pair hits inside each posting list count |A∩B|, so the
    * postings shuffle ONCE. maxPostings drops stop-shingles, so capped
    * runs UNDERCOUNT |A∩B| slightly for pairs sharing a dropped shingle
    * — the standard recall/cost trade at 100 TB.
    */
  private def shingleOverlaps(df: DataFrame, idCol: String, textCol: String,
                              shingleWidth: Int, maxPostings: Int): DataFrame = {
    val sh = df
      .select(col(idCol).as("id"), shingles(col(textCol), shingleWidth).as("_arr"))
      .select(col("id"), size(col("_arr")).as("sz"), explode(col("_arr")).as("sh"))
    bucketPairs(sh, Seq(col("sh")), struct(col("id"), col("sz")), maxPostings,
        _.getField("id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("common"),
        // min of a per-id constant: deterministic under partial agg
        min(col("a.sz")).as("sz_a"), min(col("b.sz")).as("sz_b"))
  }

  /** Exact n-gram Jaccard similarity for candidate pairs, via the
    * explode-join-count formulation: |A∩B| from [[shingleOverlaps]],
    * |A∪B| = |A|+|B|-|A∩B|. Shuffles on the shingle key — linear in
    * total postings, never materializes the full pair matrix.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        shingleWidth: Int = 3, threshold: Double = 0.2,
                        maxPostings: Int = DefaultMaxBucket): DataFrame =
    shingleOverlaps(df, idCol, textCol, shingleWidth, maxPostings)
      .withColumn("jaccard",
        col("common").cast("double") /
          (col("sz_a") + col("sz_b") - col("common")).cast("double"))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))

  /** Directed shingle containment C(A→B) = |A∩B| / |A| — the
    * ASYMMETRIC near-dup signal Jaccard can't see: a short document
    * quoted whole inside a much longer one has high containment but
    * low Jaccard (the union is dominated by the long side). Standard
    * for quote/subset detection in corpus curation (Broder 1997's
    * second resemblance measure).
    *
    * The same [[shingleOverlaps]] as [[ngramJaccardPairs]], emitting
    * BOTH directions' containment per unordered pair; kept when
    * either direction clears the threshold. Same stop-shingle cap,
    * same slight undercount trade under capping.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       shingleWidth: Int = 3, threshold: Double = 0.5,
                       maxPostings: Int = DefaultMaxBucket): DataFrame =
    shingleOverlaps(df, idCol, textCol, shingleWidth, maxPostings)
      .withColumn("containment_a",
        col("common").cast("double") / col("sz_a").cast("double"))
      .withColumn("containment_b",
        col("common").cast("double") / col("sz_b").cast("double"))
      .where(greatest(col("containment_a"), col("containment_b")) >= threshold)
      .select(col("id_a"), col("id_b"),
        round(col("containment_a"), 6).as("containment_a"),
        round(col("containment_b"), 6).as("containment_b"))

  /** Embedding near-duplicates: pairs with cosine >= threshold, with
    * candidates generated by sign-LSH bucketing (never all-pairs).
    *
    * `tables` independent hash tables of `planes` hyperplanes each
    * (planes [t·planes, (t+1)·planes) of the md5-derived family in
    * [[Similarity.lshBucketAt]]); a pair is a candidate if it collides
    * in ANY table — the standard OR-amplification, so recall on a pair
    * at angle θ is 1−(1−(1−θ/π)^planes)^tables (≈ 99.1% at cosine 0.99
    * with 4×8), and exact duplicates are always found. Candidates are
    * verified with the exact cosine. Deterministic planes → any SQL
    * engine replays the same buckets, so even this approximate operator
    * is hash-checkable.
    *
    * Scale shape: one shuffle on (table, bucket) for candidates, one
    * shuffle on id to re-attach vectors — linear in n, never the n²/2
    * crossJoin (the old baseline survives as
    * [[embeddingCosinePairsBrute]]).
    *
    * SIZE THE PLANES TO THE CORPUS: bucket occupancy is ~n/2^planes per
    * table, and candidate pairs grow with occupancy² — fixed planes on
    * a growing corpus is quadratic creep. Set
    * `planes ≈ log2(n / targetOccupancy)` (e.g. n=10⁸, occupancy 64 →
    * 21 planes); recall lost per extra plane is recovered by adding a
    * table (OR-amplification). The default 8 suits n ≲ 10⁴.
    */
  def embeddingCosinePairs(df: DataFrame, idCol: String, vecCol: String,
                           threshold: Double, dim: Int, planes: Int = 8,
                           tables: Int = 4,
                           maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val v = normedVectors(df, idCol, vecCol)
    // One row per (table, vector): a single exploded array of structs,
    // not `tables` unioned selects (which would rescan the corpus).
    val tb = array((0 until tables).map { t =>
      struct(lit(t).as("tbl"),
        Similarity.lshBucketAt(col("v"), t * planes, planes, dim).as("bucket"))
    }: _*)
    val keys = v.select(col("id"), explode(tb).as("tb"))
      .select(col("id"), col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
    // distinct() because a pair may collide in several tables.
    verifyCosine(
      bucketPairs(keys, Seq(col("tbl"), col("bucket")), col("id"), maxBucket)
        .distinct(),
      v, threshold)
  }

  /** (id, v, n) — vectors as doubles with their norms, once per vector,
    * so each verified pair costs one native dot product.
    */
  private[graft] def normedVectors(df: DataFrame, idCol: String,
                                   vecCol: String): DataFrame =
    df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("n", Similarity.normNative(col("v")))

  /** (s, vs, ns): one side of a cosine verify. */
  private def side(v: DataFrame, s: String): DataFrame =
    v.select(col("id").as(s), col("v").as("v" + s), col("n").as("n" + s))

  /** (id_a, id_b, cosine rounded to 6) of the sided pairs at cosine >= threshold. */
  private def keepCosine(pairs: DataFrame, threshold: Double): DataFrame =
    pairs.withColumn("cosine",
        Similarity.dotNative(col("va"), col("vb")) / (col("na") * col("nb")))
      .where(col("cosine") >= threshold)
      .select(col("a").as("id_a"), col("b").as("id_b"),
        round(col("cosine"), 6).as("cosine"))

  /** Exact cosine verify of skinny (a, b) id candidates: vectors
    * re-attach via two key joins (shuffle on id — vectors never ride
    * through a bucket aggregation). shuffle_hash, never broadcast: the
    * vector relation is O(n·dim) bytes — at 100k×64d the Scale probe saw
    * Spark pick a broadcast build and die with
    * notEnoughMemoryToBuildAndBroadcast.
    */
  private[graft] def verifyCosine(cand: DataFrame, v: DataFrame,
                                  threshold: Double): DataFrame =
    keepCosine(cand.join(side(v, "a").hint("shuffle_hash"), "a")
      .join(side(v, "b").hint("shuffle_hash"), "b"), threshold)

  /** Duplicate-cluster resolution: connected components over a pair
    * relation (from [[minhashLshPairs]], [[simhashPairs]], …), labeling
    * every member with the MINIMUM id in its component — the canonical
    * doc a pipeline keeps. Pairs say "these two match"; a pipeline needs
    * "these k form one group, keep exactly one", and transitive matches
    * (A~B, B~C but never A~C) make that a graph problem, not a groupBy.
    *
    * Algorithm: distributed min-label propagation. labels start at
    * min(id, min neighbor); each round every node takes the min of its
    * label and its neighbors' labels. Converges in O(component diameter)
    * rounds — for dedup graphs the diameter is small (LSH bands emit
    * near-cliques), so the driver loop runs ~2-4 rounds of pure
    * DataFrame joins; each round is fully distributed (this is the same
    * scheme GraphX/Pregel CC uses, without the RDD detour).
    * `localCheckpoint` truncates the growing lineage each round — at
    * cluster scale swap for `checkpoint` with a checkpoint dir.
    *
    * Returns (id, cluster_id) for every id that appears in ≥1 pair;
    * singletons are absent by construction (their cluster is
    * themselves). Deterministic — min over a fixed edge set — so a SQL
    * oracle can replay it with a recursive reachability CTE.
    */
  def clusters(pairs: DataFrame, aCol: String, bCol: String,
               maxIters: Int = 20): DataFrame = {
    val fwd = pairs.select(col(aCol).cast("long").as("src"),
      col(bCol).cast("long").as("dst"))
    val edges = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint() // reused every round: cut off the pair pipeline
    var labels = edges.groupBy(col("src").as("id"))
      .agg(min(col("dst")).as("nbr_min"))
      .select(col("id"), least(col("id"), col("nbr_min")).as("cluster_id"))
      .localCheckpoint()
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      // Propagate: min label among each node's neighbors, then fold
      // into the node's own label. Two shuffles per round (join + agg),
      // both on the id key.
      val nbrMin = edges.join(labels, edges("dst") === labels("id"))
        .groupBy(edges("src").as("id"))
        .agg(min(col("cluster_id")).as("nbr_min"))
      val next = labels.join(nbrMin, "id")
        .select(col("id"), least(col("cluster_id"), col("nbr_min"))
          .as("cluster_id"))
        .localCheckpoint()
      converged = next.alias("n")
        .join(labels.alias("o"), col("n.id") === col("o.id"))
        .where(col("n.cluster_id") < col("o.cluster_id"))
        .isEmpty
      // `next` is eagerly materialized by its own checkpoint, so the
      // superseded round's blocks can be released — without this, every
      // round's full label table stays pinned in executor storage until
      // the session dies. (Dataset.unpersist is a CacheManager no-op
      // for checkpoints, hence the bridge.)
      org.apache.spark.sql.GraftSqlBridge.unpersistCheckpoint(labels)
      labels = next
      i += 1
    }
    org.apache.spark.sql.GraftSqlBridge.unpersistCheckpoint(edges)
    labels
  }

  /** Exact all-pairs cosine dedup — the O(n²) brute-force baseline
    * (recall 1 by construction). Only for small/sampled corpora; the
    * LSH-bucketed [[embeddingCosinePairs]] is the at-scale default.
    */
  def embeddingCosinePairsBrute(df: DataFrame, idCol: String, vecCol: String,
                                threshold: Double): DataFrame = {
    val v = normedVectors(df, idCol, vecCol)
    keepCosine(side(v, "a").crossJoin(side(v, "b")).where(col("a") < col("b")),
      threshold)
  }
}
