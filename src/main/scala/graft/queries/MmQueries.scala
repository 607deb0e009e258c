package graft
package queries

import org.apache.spark.sql.functions._

import graft.operators.Multimodal

/** Multimodal binary-media columns. */
object MmQueries {

  val registry: Seq[(String, Registration)] = Seq(

    // ---- multimodal kernels (op 57) — all oracle-backed and all REAL
    // pixel work: synthetic-but-genuine PNGs round-trip through ImageIO
    // and every kernel operates on the decoded raster. The oracle
    // predicts each output from the md5-derived pixel formula
    // pixel(x,y) = digest[(x+y) mod 16] (grayscale PNG is lossless),
    // replaying the exact IEEE-double bilinear / integer-tile /
    // histogram arithmetic.
    "mm_decode" -> Query((s, dir) =>
      Multimodal.decodeImage(
          Multimodal.withSyntheticPng(tbl(s, dir, "documents"), "doc_id", "text"),
          "doc_id", "image")
        .select(col("doc_id"), col("width"), col("height"),
          round(col("mean_px"), 6).as("mean_px")),
      // Predicts the REAL ImageIO decode: digest bytes from md5 nibbles,
      // dims (1+d0%64, 1+d1%64), pixel(x,y) = d[(x+y)%16]; mean over the
      // w×h grid via bounded range + filter (DuckDB range() wants
      // constant args). Lossless PNG → decoded samples = formula.
      """WITH b AS (SELECT doc_id, md5(text) AS h FROM documents),
          |d AS (
          |  SELECT doc_id, list_transform(range(0, 16), i ->
          |    (strpos('0123456789abcdef', substr(h, 2*i + 1, 1)) - 1) * 16
          |    + strpos('0123456789abcdef', substr(h, 2*i + 2, 1)) - 1) AS bytes
          |  FROM b
          |), dim AS (
          |  SELECT doc_id, 1 + bytes[1] % 64 AS w, 1 + bytes[2] % 64 AS h, bytes
          |  FROM d
          |), px AS (
          |  SELECT doc_id, w, h, bytes[((x.range + y.range) % 16) + 1] AS p
          |  FROM dim CROSS JOIN range(0, 64) x CROSS JOIN range(0, 64) y
          |  WHERE x.range < w AND y.range < h
          |)
          |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
          |  round(sum(p)::DOUBLE / (w * h), 6) AS mean_px
          |FROM px GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin),
    // Perceptual-hash near-dup over the media column (op 385): dHash
    // fingerprints (Krawetz's 8×8 gradient hash) from the REAL
    // decoded rasters, then band-blocked pairing with the standard
    // LSH AND-composition: a candidate must share a PAIR of 16-bit
    // bands (any of the C(4,2)=6 combos — a 32-bit blocking key).
    // Single-band blocking is n²/2¹⁶ in random collisions (the 50×
    // probe measured the quadratic creep: 14 s at 50k docs → 145 s
    // at 250k); the AND pair drops that to n²/2³² while still
    // catching every pair with ≥2 clean bands — Hamming ≤ 2
    // guaranteed by pigeonhole, and the exact/near dups this detects
    // in practice (identical payloads) match on ALL bands. Kept if
    // total Hamming ≤ 10. The decode is the mapPartitions media
    // kernel; all hashing/pairing is integer Column algebra.
    "mm_phash_dedup" -> Query((s, dir) => {
      // localCheckpoint: the band relation (4 longs per doc) is read
      // three times below; pinning it pays the PNG encode+decode
      // kernel once instead of three times.
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
      cand.join(ha, "id_a").join(hbb, "id_b")
        .select(col("id_a"), col("id_b"), ham.cast("long").as("hamming"))
        .where(col("hamming") <= 10)
    },
      // op 385: the mm_decode pixel replay (the PNG is the md5 grid)
      // → 9×8 nearest-sample dHash bits → 4×16-bit bands → the same
      // band-blocked candidate join and Hamming ≤ 10 cut.
      s"""WITH $CORPUS_CTE, $PHASH_CTE, ham AS (
          |  SELECT id_a, id_b,
          |    CAST(bit_count(xor(a.h0, b.h0)) + bit_count(xor(a.h1, b.h1))
          |      + bit_count(xor(a.h2, b.h2)) + bit_count(xor(a.h3, b.h3))
          |      AS BIGINT) AS hamming
          |  FROM cand JOIN hv a ON a.doc_id = id_a JOIN hv b ON b.doc_id = id_b
          |)
          |SELECT id_a, id_b, hamming FROM ham
          |WHERE hamming <= 10 ORDER BY id_a, id_b""".stripMargin),
    "mm_resize" -> Query((s, dir) => {
      import s.implicits._
      Multimodal.resizeBilinear(
          Multimodal.withSyntheticPng(tbl(s, dir, "documents"), "doc_id", "text"),
          "doc_id", "image", w = 8, h = 8)
        .as[(Long, Int, Int, Array[Byte])]
        .map { case (id, w, h, px) =>
          (id, w.toLong, h.toLong,
            math.floor(px.map(_ & 0xff).sum.toDouble / px.length * 1e6 + 0.5) / 1e6)
        }
        .toDF("doc_id", "width", "height", "mean_pixel")
    },
      // Multimodal kernel oracles: the synthetic PNG is lossless, so the
      // decoded raster is pixel(x,y) = digest[(x+y) mod 16] with digest
      // byte i rebuilt from md5 hex nibbles 2i+1, 2i+2 via strpos; each
      // oracle then replays the kernel's arithmetic exactly (IEEE-double
      // bilinear taps for resize, integer-division gridlines for frames,
      // mod-dim sample histogram for embed).
      """WITH b AS (SELECT doc_id, md5(text) AS hx FROM documents),
          |d AS (
          |  SELECT doc_id, list_transform(range(0, 16), i ->
          |    (strpos('0123456789abcdef', substr(hx, 2*i + 1, 1)) - 1) * 16
          |    + strpos('0123456789abcdef', substr(hx, 2*i + 2, 1)) - 1) AS bytes
          |  FROM b
          |), dim AS (
          |  SELECT doc_id, 1 + bytes[1] % 64 AS w, 1 + bytes[2] % 64 AS h, bytes
          |  FROM d
          |), sxy AS (
          |  SELECT doc_id, w, h, bytes,
          |    least(greatest((ox.range + 0.5) * w / 8.0 - 0.5, 0), w - 1) AS sx,
          |    least(greatest((oy.range + 0.5) * h / 8.0 - 0.5, 0), h - 1) AS sy
          |  FROM dim CROSS JOIN range(0, 8) ox CROSS JOIN range(0, 8) oy
          |), ip AS (
          |  SELECT doc_id, bytes,
          |    CAST(floor(sx) AS BIGINT) AS x0, CAST(floor(sy) AS BIGINT) AS y0,
          |    least(CAST(floor(sx) AS BIGINT) + 1, w - 1) AS x1,
          |    least(CAST(floor(sy) AS BIGINT) + 1, h - 1) AS y1,
          |    sx - floor(sx) AS fx, sy - floor(sy) AS fy
          |  FROM sxy
          |), p AS (
          |  SELECT doc_id,
          |    floor((1 - fy) * ((1 - fx) * bytes[((x0 + y0) % 16) + 1]
          |                      + fx * bytes[((x1 + y0) % 16) + 1])
          |        + fy * ((1 - fx) * bytes[((x0 + y1) % 16) + 1]
          |                + fx * bytes[((x1 + y1) % 16) + 1]) + 0.5) AS px
          |  FROM ip
          |)
          |SELECT doc_id, CAST(8 AS BIGINT) AS width, CAST(8 AS BIGINT) AS height,
          |  floor(sum(px) / 64.0 * 1e6 + 0.5) / 1e6 AS mean_pixel
          |FROM p GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    "mm_frames" -> Query((s, dir) => {
      import s.implicits._
      Multimodal.frameGrid(
          Multimodal.withSyntheticPng(tbl(s, dir, "documents"), "doc_id", "text"),
          "doc_id", "image", gx = 2, gy = 2)
        .as[(Long, Int, Int, Int, Array[Byte])]
        .map { case (id, f, w, h, px) =>
          (id, f.toLong, w.toLong, h.toLong,
            math.floor(px.map(_ & 0xff).sum.toDouble / px.length * 1e6 + 0.5) / 1e6)
        }
        .toDF("doc_id", "frame_idx", "width", "height", "mean_px")
    },
      """WITH b AS (SELECT doc_id, md5(text) AS hx FROM documents),
          |d AS (
          |  SELECT doc_id, list_transform(range(0, 16), i ->
          |    (strpos('0123456789abcdef', substr(hx, 2*i + 1, 1)) - 1) * 16
          |    + strpos('0123456789abcdef', substr(hx, 2*i + 2, 1)) - 1) AS bytes
          |  FROM b
          |), dim AS (
          |  SELECT doc_id, 1 + bytes[1] % 64 AS w, 1 + bytes[2] % 64 AS h, bytes
          |  FROM d
          |), t AS (
          |  SELECT doc_id, w, h, bytes, ty.range * 2 + tx.range AS frame_idx,
          |    (tx.range * w) // 2 AS x0, ((tx.range + 1) * w) // 2 AS x1,
          |    (ty.range * h) // 2 AS y0, ((ty.range + 1) * h) // 2 AS y1
          |  FROM dim CROSS JOIN range(0, 2) tx CROSS JOIN range(0, 2) ty
          |), px AS (
          |  SELECT doc_id, frame_idx, x1 - x0 AS fw, y1 - y0 AS fh,
          |    bytes[((x.range + y.range) % 16) + 1] AS p
          |  FROM t CROSS JOIN range(0, 64) x CROSS JOIN range(0, 64) y
          |  WHERE x1 > x0 AND y1 > y0
          |    AND x.range >= x0 AND x.range < x1 AND y.range >= y0 AND y.range < y1
          |)
          |SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
          |  CAST(fw AS BIGINT) AS width, CAST(fh AS BIGINT) AS height,
          |  floor(sum(p)::DOUBLE / (fw * fh) * 1e6 + 0.5) / 1e6 AS mean_px
          |FROM px GROUP BY doc_id, frame_idx, fw, fh
          |ORDER BY doc_id, frame_idx""".stripMargin),
    "mm_embed" -> Query((s, dir) =>
      Multimodal.featureExtract(
          Multimodal.withSyntheticPng(tbl(s, dir, "documents"), "doc_id", "text"),
          "doc_id", "image", dim = 64)
        .select(col("doc_id"),
          expr("size(filter(embedding, x -> x > 0))").cast("long").as("n_bins"),
          (expr("array_position(embedding, array_max(embedding))") - 1)
            .cast("long").as("top_bin")),
      """WITH b AS (SELECT doc_id, md5(text) AS hx FROM documents),
          |d AS (
          |  SELECT doc_id, list_transform(range(0, 16), i ->
          |    (strpos('0123456789abcdef', substr(hx, 2*i + 1, 1)) - 1) * 16
          |    + strpos('0123456789abcdef', substr(hx, 2*i + 2, 1)) - 1) AS bytes
          |  FROM b
          |), dim AS (
          |  SELECT doc_id, 1 + bytes[1] % 64 AS w, 1 + bytes[2] % 64 AS h, bytes
          |  FROM d
          |), px AS (
          |  SELECT doc_id, bytes[((x.range + y.range) % 16) + 1] % 64 AS bin
          |  FROM dim CROSS JOIN range(0, 64) x CROSS JOIN range(0, 64) y
          |  WHERE x.range < w AND y.range < h
          |), c AS (
          |  SELECT doc_id, bin, count(*) AS cnt FROM px GROUP BY doc_id, bin
          |), r AS (
          |  SELECT doc_id, bin,
          |    row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, bin) AS rn,
          |    count(*) OVER (PARTITION BY doc_id) AS n_bins
          |  FROM c
          |)
          |SELECT doc_id, CAST(n_bins AS BIGINT) AS n_bins,
          |  CAST(bin AS BIGINT) AS top_bin
          |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin),
    // Audio-column plumbing (op 243, the op-57 family's audio leg):
    // synthetic raw-PCM binary payloads (md5-derived — no wav codec
    // ships in a JDK, and raw PCM is what a codec decodes INTO),
    // framed per 64 samples with RMS energy + zero-crossing rate —
    // the classic silence/voicing gates. Batched mapPartitions like
    // every media kernel; integer sums → SQL-exact doubles.
    "mm_audio" -> Query((s, dir) =>
      Multimodal.audioFrameEnergy(
          Multimodal.withSyntheticPcm(tbl(s, dir, "documents"),
            "doc_id", "text"),
          "doc_id", "audio")
        .select(col("doc_id"), col("frame_id"), col("n_samples"),
          round(col("rms"), 6).as("rms"), round(col("zcr"), 6).as("zcr")),
      // op 243: the same md5-derived PCM samples, integer frame sums.
      """WITH b AS (SELECT doc_id, md5(text) AS h FROM documents),
          |d AS (
          |  SELECT doc_id, list_transform(range(0, 16), i ->
          |    (strpos('0123456789abcdef', substr(h, 2*i + 1, 1)) - 1) * 16
          |    + strpos('0123456789abcdef', substr(h, 2*i + 2, 1)) - 1) AS bytes
          |  FROM b
          |), nn AS (SELECT doc_id, bytes, 256 + (bytes[1] % 8) * 64 AS n FROM d),
          |smp AS (
          |  SELECT doc_id, i.range AS i,
          |    CAST(floor(i.range / 64) AS BIGINT) AS frame_id,
          |    ((bytes[(i.range % 16) + 1]
          |      + i.range * (bytes[((i.range + 5) % 16) + 1] % 7)) % 256) - 128 AS s
          |  FROM nn CROSS JOIN range(0, 1024) i WHERE i.range < n
          |), sgn AS (
          |  SELECT doc_id, frame_id, i, s,
          |    CASE WHEN s >= 0 THEN 1 ELSE -1 END AS sg,
          |    lag(CASE WHEN s >= 0 THEN 1 ELSE -1 END) OVER (
          |      PARTITION BY doc_id, frame_id ORDER BY i) AS pg
          |  FROM smp
          |)
          |SELECT doc_id, frame_id, CAST(64 AS BIGINT) AS n_samples,
          |  round(sqrt(CAST(sum(s * s) AS DOUBLE) / 64), 6) AS rms,
          |  round(CAST(sum(CASE WHEN pg IS NOT NULL AND sg <> pg THEN 1 ELSE 0 END) AS DOUBLE) / 63, 6) AS zcr
          |FROM sgn GROUP BY doc_id, frame_id
          |ORDER BY doc_id, frame_id""".stripMargin)
  )
}
