package graft
package queries

import org.apache.spark.sql.functions._

/** Data-layout planning: shards, pruning, compaction, z-order. */
object LayoutQueries {

  val registry: Seq[(String, Registration)] = Seq(

    // ---- write-side layout planning (ops 139-140)
    // op 139: per-source size-budgeted shard manifest — the "~512 MB
    // output files" rule as a deterministic plan both engines replay.
    "layout_shard_plan" -> Query((s, dir) => {
      val d = tbl(s, dir, "documents")
      graft.operators.Layout.shardPlan(d, "source", "doc_id", "n_chars",
          target = 2000L)
        .groupBy(col("source"), col("shard_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("shard_chars"))
    },
      // Layout planners (ops 139-140): integer-exact window prefix /
      // bit-interleave algebra, replayed verbatim.
      """WITH p AS (
          |  SELECT source, n_chars,
          |    CAST(coalesce(sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 2000
          |      AS BIGINT) AS shard_id
          |  FROM documents)
          |SELECT source, shard_id, count(*) AS n_docs,
          |  CAST(sum(n_chars) AS BIGINT) AS shard_chars
          |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // Skipping manifest (op 179, the Iceberg/Delta file-stats story):
    // per shard of the op-139 plan, the min/max/count/null-count
    // column stats a scan planner prunes on — a shard whose
    // [min, max] misses the predicate never opens. Dense doc_id
    // ranges + n_chars spans make the pruning effectiveness visible;
    // same one window pass + one keyed agg as the plan itself.
    // Zone-map pruning report (op 367; the min/max-statistics payoff):
    // for the range predicate doc_id BETWEEN 100 AND 500, a shard is
    // prunable iff its [min_id, max_id] zone misses the range — the
    // report every lakehouse table-format (Iceberg/Delta) derives from
    // file statistics, here computed over the op-139/179 manifest. Per
    // source: shard/byte counts scanned vs pruned + the prune rate —
    // the number that justifies sort-order/z-order choices at 100 TB.
    "layout_prune_report" -> Query((s, dir) => {
      val man = graft.operators.Layout
        .shardPlan(tbl(s, dir, "documents"), "source", "doc_id", "n_chars",
          target = 2000L)
        .groupBy(col("source"), col("shard_id"))
        .agg(min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"),
          sum(col("n_chars").cast("long")).as("bytes"))
      val prunable = col("max_id") < 100L || col("min_id") > 500L
      man.groupBy(col("source"))
        .agg(count(lit(1)).as("n_shards"),
          sum(prunable.cast("long")).as("n_pruned"),
          sum((!prunable).cast("long")).as("n_scanned"),
          sum(when(!prunable, col("bytes")).otherwise(0L))
            .as("bytes_scanned"))
        .select(col("source"), col("n_shards"), col("n_pruned"),
          col("n_scanned"), col("bytes_scanned"),
          (floor(col("n_pruned").cast("double") / col("n_shards") * 1e6
            + lit(0.5)) / 1e6).as("prune_rate"))
    },
      // op 367: same manifest, same zone-miss rule, exact counts.
      """WITH p AS (
          |  SELECT source, doc_id, n_chars,
          |    CAST(coalesce(sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 2000
          |      AS BIGINT) AS shard_id
          |  FROM documents
          |), man AS (
          |  SELECT source, shard_id, min(doc_id) AS min_id,
          |    max(doc_id) AS max_id, CAST(sum(n_chars) AS BIGINT) AS bytes
          |  FROM p GROUP BY 1, 2
          |), f AS (
          |  SELECT *, (max_id < 100 OR min_id > 500) AS prunable FROM man
          |)
          |SELECT source, count(*) AS n_shards,
          |  CAST(sum(CASE WHEN prunable THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_pruned,
          |  CAST(sum(CASE WHEN prunable THEN 0 ELSE 1 END) AS BIGINT)
          |    AS n_scanned,
          |  CAST(sum(CASE WHEN prunable THEN 0 ELSE bytes END) AS BIGINT)
          |    AS bytes_scanned,
          |  floor(CAST(sum(CASE WHEN prunable THEN 1 ELSE 0 END) AS DOUBLE)
          |    / count(*) * 1e6 + 0.5) / 1e6 AS prune_rate
          |FROM f GROUP BY source ORDER BY source""".stripMargin),

    // Compaction planner (op 344): the OPTIMIZE bin-packer over the
    // op-139 shard manifest — files under 3000 "bytes" pack into dense
    // 10000-byte compaction bins (exclusive prefix div, pure function
    // of the manifest), big files keep their layout. The planner scans
    // METADATA (#files rows), the shape a 100 TB lake's OPTIMIZE runs
    // nightly; report = per (source, action, bin) file counts + exact
    // byte totals.
    "layout_compaction" -> Query((s, dir) => {
      val files = graft.operators.Layout
        .shardPlan(tbl(s, dir, "documents"), "source", "doc_id", "n_chars",
          target = 2000L)
        .groupBy(col("source"), col("shard_id"))
        .agg(sum(col("n_chars").cast("long")).as("bytes"))
      graft.operators.Layout
        .compactionPlan(files, "source", "shard_id", "bytes",
          small = 3000L, target = 10000L)
        .groupBy(col("source"), col("action"), col("bin"))
        .agg(count(lit(1)).as("n_files"), sum(col("bytes")).as("total_bytes"),
          min(col("shard_id")).as("min_shard"),
          max(col("shard_id")).as("max_shard"))
    },
      // op 344: same shard manifest, same exclusive small-size prefix
      // div — all integers, hash-exact.
      """WITH p AS (
          |  SELECT source, doc_id, n_chars,
          |    CAST(coalesce(sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 2000
          |      AS BIGINT) AS shard_id
          |  FROM documents
          |), f AS (
          |  SELECT source, shard_id, CAST(sum(n_chars) AS BIGINT) AS bytes
          |  FROM p GROUP BY 1, 2
          |), c AS (
          |  SELECT source, shard_id, bytes,
          |    CASE WHEN bytes < 3000 THEN 'compact' ELSE 'keep' END AS action,
          |    CASE WHEN bytes < 3000 THEN
          |      CAST(coalesce(sum(CASE WHEN bytes < 3000 THEN bytes ELSE 0 END)
          |        OVER (PARTITION BY source ORDER BY shard_id
          |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          |        // 10000 AS BIGINT)
          |      ELSE -1 END AS bin
          |  FROM f
          |)
          |SELECT source, action, bin, count(*) AS n_files,
          |  CAST(sum(bytes) AS BIGINT) AS total_bytes,
          |  min(shard_id) AS min_shard, max(shard_id) AS max_shard
          |FROM c GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),
    // Hash-layout balance report (op 401): rows and byte mass per
    // doc_id-modulo bucket for a 32-bucket plan, summarized to the
    // max/mean skew factors — the pre-flight check before committing
    // a bucketed-table layout (op 65's join locality is only worth
    // it if the buckets balance). All-integer; one keyed agg + one
    // 32-row agg.
    "layout_bucket_balance" -> Query((s, dir) => {
      val b = tbl(s, dir, "documents")
        .select(pmod(col("doc_id"), lit(32)).cast("long").as("bucket"),
          col("n_chars"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
      b.agg(count(lit(1)).as("n_buckets"),
          sum(col("n_docs")).as("total_docs"),
          min(col("n_docs")).as("min_docs"), max(col("n_docs")).as("max_docs"),
          max(col("n_chars")).as("max_chars"),
          sum(col("n_chars")).as("total_chars"))
        .select(col("n_buckets"), col("total_docs"), col("min_docs"),
          col("max_docs"),
          (floor(col("max_docs").cast("double") * col("n_buckets")
            / col("total_docs").cast("double") * 1e6 + 0.5) / 1e6)
            .as("row_skew"),
          (floor(col("max_chars").cast("double") * col("n_buckets")
            / col("total_chars").cast("double") * 1e6 + 0.5) / 1e6)
            .as("byte_skew"))
    },
      // op 401: same modulo buckets, exact integer skew inputs.
      """WITH b AS (
          |  SELECT doc_id % 32 AS bucket, count(*) AS n_docs,
          |    CAST(sum(n_chars) AS BIGINT) AS n_chars
          |  FROM documents GROUP BY doc_id % 32
          |)
          |SELECT count(*) AS n_buckets,
          |  CAST(sum(n_docs) AS BIGINT) AS total_docs,
          |  min(n_docs) AS min_docs, max(n_docs) AS max_docs,
          |  floor(CAST(max(n_docs) AS DOUBLE) * count(*)
          |    / CAST(sum(n_docs) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS row_skew,
          |  floor(CAST(max(n_chars) AS DOUBLE) * count(*)
          |    / CAST(sum(n_chars) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS byte_skew
          |FROM b""".stripMargin),
    "layout_manifest" -> Query((s, dir) => {
      val d = tbl(s, dir, "documents")
      graft.operators.Layout.shardPlan(d, "source", "doc_id", "n_chars",
          target = 2000L)
        .groupBy(col("source"), col("shard_id"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"),
          min(col("n_chars")).cast("long").as("min_chars"),
          max(col("n_chars")).cast("long").as("max_chars"),
          sum(col("lang").isNull.cast("long")).as("null_lang"))
    },
      """WITH p AS (
          |  SELECT source, doc_id, n_chars, lang,
          |    CAST(coalesce(sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 2000
          |      AS BIGINT) AS shard_id
          |  FROM documents)
          |SELECT source, shard_id, count(*) AS n_rows,
          |  min(doc_id) AS min_id, max(doc_id) AS max_id,
          |  CAST(min(n_chars) AS BIGINT) AS min_chars,
          |  CAST(max(n_chars) AS BIGINT) AS max_chars,
          |  CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_lang
          |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // Scan-amplification audit of the op-179 manifest (op 202 — the
    // metric behind "did the layout actually enable skipping?"): 10
    // evenly-spaced probe points per source's id range, each counting
    // the shards whose [min,max] contain it — a point predicate opens
    // avg_touched files of n_shards; skip_frac is what pruning saves.
    // Everything is integer (probe positions by exact floor division,
    // touch counts, 10-probe mean = exact ratio); the manifest
    // relation is shard-sized, so the probe join is trivial.
    "layout_overlap" -> Query((s, dir) => {
      val d = tbl(s, dir, "documents")
      val man = graft.operators.Layout.shardPlan(d, "source", "doc_id",
          "n_chars", target = 2000L)
        .groupBy(col("source"), col("shard_id"))
        .agg(min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
      val spans = man.groupBy(col("source"))
        .agg(min(col("min_id")).as("lo"), max(col("max_id")).as("hi"),
          count(lit(1)).as("n_shards"))
      val probes = spans
        .withColumn("j", explode(sequence(lit(0), lit(9))))
        .withColumn("p", col("lo") + floor((col("hi") - col("lo"))
          * col("j") / 9.0).cast("long"))
      val touched = probes.select(col("source"), col("j"), col("p"))
        .join(man, "source")
        .where(col("p") >= col("min_id") && col("p") <= col("max_id"))
        .groupBy(col("source"), col("j")).agg(count(lit(1)).as("t"))
      probes.join(touched, Seq("source", "j"), "left")
        .withColumn("tt", coalesce(col("t"), lit(0L)))
        .groupBy(col("source"))
        .agg(max(col("n_shards")).as("n_shards"),
          round(sum(col("tt")).cast("double") / 10.0, 4).as("avg_touched"),
          round(lit(1.0) - sum(col("tt")).cast("double") / 10.0
            / max(col("n_shards")), 4).as("skip_frac"))
    },
      // op 202: same shard plan, same exact-floor probe positions,
      // same left-join zero-touch handling.
      """WITH p AS (
          |  SELECT source, doc_id,
          |    CAST(coalesce(sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 2000
          |      AS BIGINT) AS shard_id
          |  FROM documents
          |), man AS (
          |  SELECT source, shard_id, min(doc_id) AS min_id,
          |    max(doc_id) AS max_id
          |  FROM p GROUP BY 1, 2
          |), spans AS (
          |  SELECT source, min(min_id) AS lo, max(max_id) AS hi,
          |    count(*) AS n_shards
          |  FROM man GROUP BY source
          |), probes AS (
          |  SELECT source, n_shards, j.j AS j,
          |    lo + CAST(floor((hi - lo) * j.j / 9.0) AS BIGINT) AS pp
          |  FROM spans CROSS JOIN (SELECT range AS j FROM range(0, 10)) j
          |), touched AS (
          |  SELECT probes.source, j, count(*) AS t
          |  FROM probes JOIN man ON probes.source = man.source
          |    AND pp >= min_id AND pp <= max_id
          |  GROUP BY 1, 2
          |)
          |SELECT source, max(n_shards) AS n_shards,
          |  round(CAST(sum(coalesce(t, 0)) AS DOUBLE) / 10.0, 4) AS avg_touched,
          |  round(1.0 - CAST(sum(coalesce(t, 0)) AS DOUBLE) / 10.0
          |        / max(n_shards), 4) AS skip_frac
          |FROM probes LEFT JOIN touched USING (source, j)
          |GROUP BY source ORDER BY source""".stripMargin),
    // op 140: z-order layout audit — interleave (user, hour-of-corpus)
    // to 8 bits each, bucket the 16-bit z-key into 256 files, report
    // each file's span on BOTH dims (the pruning story: a z-clustered
    // file bounds every interleaved dimension, a time-sorted one only
    // bounds time). Pure integer algebra so the oracle replays it.
    "layout_zorder" -> Query((s, dir) => {
      val e = events(s, dir)
      val stamped = e.withColumn("h",
          expr("least(greatest((unix_micros(ts) - 1704067200000000L) " +
            "div 3600000000L, 0L), 719L)"))
        .withColumn("hb", expr("(h * 256) div 720"))
        .withColumn("z", graft.operators.Layout.zorderValue(
          Seq(col("user_id"), col("hb")), bits = 8))
        .withColumn("file_id", expr("z div 256"))
      stamped.groupBy(col("file_id"))
        .agg(count(lit(1)).as("n_rows"),
          (max(col("user_id")) - min(col("user_id"))).as("user_span"),
          (max(col("h")) - min(col("h"))).as("hour_span"))
    },
      s"""WITH d AS (
          |  SELECT user_id,
          |    least(greatest((epoch_us(ts) - 1704067200000000) // 3600000000, 0), 719) AS h
          |  FROM events),
          |q AS (SELECT user_id, h, (h * 256) // 720 AS hb FROM d),
          |z AS (SELECT user_id, h,
          |  CAST((${graft.operators.Layout.zorderSql(Seq("user_id", "hb"), 8)}) // 256 AS BIGINT) AS file_id
          |  FROM q)
          |SELECT file_id, count(*) AS n_rows,
          |  CAST(max(user_id) - min(user_id) AS BIGINT) AS user_span,
          |  CAST(max(h) - min(h) AS BIGINT) AS hour_span
          |FROM z GROUP BY 1 ORDER BY 1""".stripMargin)
  )
}
