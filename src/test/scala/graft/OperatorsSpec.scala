package graft

import org.apache.spark.sql.functions._

import graft.operators.{AsOfJoin, Dedup, Multimodal, Similarity}

class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  test("exact dedup finds planted duplicate, canonical = min id") {
    val df = Seq((1L, "x y z"), (2L, "a b c"), (3L, "x y z")).toDF("doc_id", "text")
    val out = Dedup.exact(df, "doc_id", "text").orderBy($"doc_id")
      .select($"doc_id", $"text", $"canonical_id", $"is_dup")
      .as[(Long, String, Long, Boolean)].collect()
    // input columns ride along; verdict columns appended
    assert(out.sameElements(Array(
      (1L, "x y z", 1L, false), (2L, "a b c", 2L, false),
      (3L, "x y z", 1L, true))))
  }

  test("minhash LSH pairs identical docs, not disjoint ones") {
    val df = Seq(
      (1L, "a b c d e f g h"), (2L, "a b c d e f g h"),
      (3L, "q r s t u v w x")).toDF("doc_id", "text")
    val pairs = Dedup.minhashLshPairs(df, "doc_id", "text")
      .as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("bucket pairs: maxBucket members kept, maxBucket + 1 dropped, singletons silent") {
    // bucket 1 holds exactly 4 members, bucket 2 holds 5, bucket 3 one;
    // rows arrive in descending id order so a < b is the filter's doing
    val rows = ((1L to 4L).map(id => (1, id)) ++ (11L to 15L).map(id => (2, id)) :+
      (3, 21L)).reverse.toDF("bucket", "id")
    def pairs(max: Int) = Dedup.bucketPairs(rows, Seq($"bucket"), $"id", max)
      .as[(Long, Long)].collect().toSeq.sorted
    def all(ids: Seq[Long]) = for (a <- ids; b <- ids if a < b) yield (a, b)
    assert(pairs(4) == all(1L to 4L))
    assert(pairs(5) == (all(1L to 4L) ++ all(11L to 15L)).sorted)
    assert(pairs(Int.MaxValue) == pairs(5))
    // struct members pair on their key, once each
    val keyed = Dedup.bucketPairs(rows, Seq($"bucket"), struct($"id", $"bucket"), 4,
        _.getField("id"))
      .select($"a.id", $"b.id").as[(Long, Long)].collect().toSeq.sorted
    assert(keyed == all(1L to 4L))
  }

  test("brute cosine pairs hold every LSH pair at the same cosine and every exact duplicate") {
    val rnd = new scala.util.Random(17)
    val base = (1L to 60L).map(i => (i, Array.fill(8)(rnd.nextGaussian())))
    // ids 101-105 copy ids 1-5 exactly; ids 201-205 copy ids 6-10 with noise
    val exact = (1L to 5L).map(i => (100 + i, base(i.toInt - 1)._2))
    val near = (6L to 10L).map(i => (200 + i - 5, base(i.toInt - 1)._2.map(_ + rnd.nextGaussian() * 0.01)))
    val df = (base ++ exact ++ near).map { case (i, v) => (i, v.toSeq) }.toDF("vec_id", "embedding")
    val lsh = Dedup.embeddingCosinePairs(df, "vec_id", "embedding", 0.95, dim = 8, planes = 4)
      .as[(Long, Long, Double)].collect()
    val brute = Dedup.embeddingCosinePairsBrute(df, "vec_id", "embedding", 0.95)
      .as[(Long, Long, Double)].collect()
    val bruteCos = brute.map { case (a, b, c) => (a, b) -> c }.toMap
    // the baseline is every pair at cosine >= 0.95, once, as a < b
    val vecs = (base ++ exact ++ near).sortBy(_._1)
    def dot(x: Array[Double], y: Array[Double]) = x.indices.map(i => x(i) * y(i)).sum
    val allPairs = for ((a, x) <- vecs; (b, y) <- vecs if a < b
      if dot(x, y) / (math.sqrt(dot(x, x)) * math.sqrt(dot(y, y))) >= 0.95) yield (a, b)
    assert(bruteCos.size == brute.length && bruteCos.keySet == allPairs.toSet)
    assert(lsh.nonEmpty && lsh.forall { case (a, b, c) => bruteCos.get((a, b)).contains(c) })
    val dupPairs = (1L to 5L).map(i => (i, 100 + i))
    assert(dupPairs.forall(p => bruteCos.get(p).contains(1.0)))
    assert(dupPairs.forall(p => lsh.exists { case (a, b, _) => (a, b) == p }))
    assert((6L to 10L).forall(i => bruteCos.contains((i, 200 + i - 5))))
  }

  test("clusters: transitive chain resolves to one component, min id wins") {
    // 1-2, 2-3, 3-4 chain (1~4 never paired directly) + separate 10-11:
    // label propagation must walk the chain, not just the direct pairs.
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id_a", "id_b")
    val out = Dedup.clusters(pairs, "id_a", "id_b")
      .as[(Long, Long)].collect().toSet
    assert(out == Set((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L),
      (10L, 10L), (11L, 10L)))
  }

  test("clusters: empty pairs yields empty labeling") {
    val pairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.clusters(pairs, "id_a", "id_b").isEmpty)
  }

  test("simhash: identical docs share fingerprints, disjoint docs differ") {
    val df = Seq(
      (1L, "a b c d e f g h"), (2L, "a b c d e f g h"),
      (3L, "q r s t u v w x")).toDF("doc_id", "text")
    val fp = Dedup.simhash(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1L) == fp(2L))
    assert(fp(1L) != fp(3L))
    assert(fp(1L) >= 0 && fp(1L) < (1L << 32))
  }

  test("ngram jaccard: identical docs score 1.0") {
    val df = Seq((1L, "a b c d e"), (2L, "a b c d e")).toDF("doc_id", "text")
    val out = Dedup.ngramJaccardPairs(df, "doc_id", "text")
      .as[(Long, Long, Double)].collect()
    assert(out.length == 1 && out(0) == ((1L, 2L, 1.0)))
  }

  test("brute-force top-k ranks an identical vector first with cosine 1") {
    val q = Seq((0L, Array(1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val c = Seq(
      (10L, Array(1.0f, 0.0f, 0.0f)),
      (11L, Array(0.9f, 0.1f, 0.0f)),
      (12L, Array(0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(q, c, "vec_id", "embedding", 2)
      .orderBy($"rank").as[(Long, Int, Long, Double)].collect()
    assert(out(0)._3 == 10L && out(0)._4 == 1.0)
    assert(out(1)._3 == 11L)
  }

  test("as-of join picks latest prior quote per key, null when none") {
    val trades = Seq((1L, 100L, 10L, 5.0), (1L, 50L, 11L, 6.0), (2L, 10L, 12L, 7.0))
      .toDF("user_id", "ts", "event_id", "value")
    val quotes = Seq((1L, 90L, 20L, 1.5), (1L, 40L, 21L, 1.2), (2L, 99L, 22L, 9.9))
      .toDF("user_id", "ts", "quote_id", "quote_value")
    val out = AsOfJoin.backward(trades, quotes, "user_id", "ts",
        Seq("quote_id", "quote_value"))
      .orderBy($"event_id")
      .select($"event_id", $"right_quote_id")
      .as[(Long, Option[Long])].collect()
    assert(out.sameElements(Array(
      (10L, Some(20L)),   // latest quote at ts<=100 is ts=90
      (11L, Some(21L)),   // latest quote at ts<=50 is ts=40
      (12L, None))))      // user 2 has no quote before ts=10
  }

  test("forward as-of picks earliest following quote, ties match") {
    val trades = Seq((1L, 100L, 10L, 5.0), (1L, 50L, 11L, 6.0), (2L, 999L, 12L, 7.0))
      .toDF("user_id", "ts", "event_id", "value")
    val quotes = Seq((1L, 90L, 20L, 1.5), (1L, 100L, 21L, 1.2), (2L, 99L, 22L, 9.9))
      .toDF("user_id", "ts", "quote_id", "quote_value")
    val out = AsOfJoin.forward(trades, quotes, "user_id", "ts",
        Seq("quote_id", "quote_value"))
      .orderBy($"event_id")
      .select($"event_id", $"right_quote_id")
      .as[(Long, Option[Long])].collect()
    assert(out.sameElements(Array(
      (10L, Some(21L)),   // quote AT ts=100 matches (>= includes ties)
      (11L, Some(20L)),   // earliest quote at ts>=50 is ts=90
      (12L, None))))      // user 2 has no quote after ts=999
  }

  test("simhash pairs finds near-identical docs within the hamming radius") {
    val df = Seq(
      (1L, "a b c d e f g h"), (2L, "a b c d e f g h"),
      (3L, "q r s t u v w x")).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(df, "doc_id", "text", maxHamming = 3)
      .as[(Long, Long, Int)].collect().toSeq
    assert(pairs == Seq((1L, 2L, 0))) // identical docs collide at hamming 0
  }

  test("multimodal decode round-trips a real PNG through ImageIO") {
    val df = Seq((1L, "hello world"), (2L, "foo")).toDF("doc_id", "text")
    val out = Multimodal.decodeImage(
      Multimodal.withSyntheticPng(df, "doc_id", "text"), "doc_id", "image")
    assert(out.columns.toSeq == Seq("doc_id", "width", "height", "mean_px"))
    val rows = out.orderBy($"doc_id").collect()
    assert(rows.length == 2)
    // decoded dims must equal the md5-derived formula (lossless codec)
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach { r =>
      val text = if (r.getLong(0) == 1L) "hello world" else "foo"
      val d = md.digest(text.getBytes("UTF-8"))
      assert(r.getLong(1) == 1 + (d(0) & 0xff) % 64)
      assert(r.getLong(2) == 1 + (d(1) & 0xff) % 64)
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 255.0)
    }
  }

  test("media ops reject empty payloads with the offending row id") {
    val df = Seq((7L, Array.emptyByteArray)).toDF("doc_id", "image")
    val e = intercept[org.apache.spark.SparkException] {
      Multimodal.resizeBilinear(df, "doc_id", "image", 4, 4).collect()
    }
    assert(e.getMessage.contains("empty media payload")
      || Option(e.getCause).exists(_.getMessage.contains("empty media payload")))
  }

  test("hard negatives exclude the query's own label") {
    val mk = (id: Long, l: Int, v: Seq[Double]) => (id, l, v.toArray)
    val q = Seq(mk(1L, 0, Seq(1.0, 0.0))).toDF("vec_id", "label", "embedding")
    val c = Seq(
      mk(10L, 0, Seq(1.0, 0.0)),     // same label, cosine 1 — must be excluded
      mk(11L, 1, Seq(0.9, 0.1)),     // different label, closest negative
      mk(12L, 1, Seq(0.0, 1.0)))     // different label, orthogonal
      .toDF("vec_id", "label", "embedding")
    val out = Similarity.hardNegativesTopK(q, c, "vec_id", "embedding", "label", 2)
      .select($"rank", $"neighbor_id").as[(Int, Long)].collect().toSeq
    assert(out == Seq((1, 11L), (2, 12L)))
  }

  test("hard negatives treat a NULL label as its own class, not a sinkhole") {
    val mk = (id: Long, l: Option[Int], v: Seq[Double]) => (id, l, v.toArray)
    val c = Seq(
      mk(10L, Some(0), Seq(1.0, 0.0)),
      mk(11L, None, Seq(0.9, 0.1)),
      mk(12L, Some(1), Seq(0.0, 1.0)))
      .toDF("vec_id", "label", "embedding")
    // Labeled query: the NULL-label corpus row IS a valid negative.
    val q0 = Seq(mk(1L, Some(0), Seq(1.0, 0.0))).toDF("vec_id", "label", "embedding")
    val got0 = Similarity.hardNegativesTopK(q0, c, "vec_id", "embedding", "label", 3)
      .select($"neighbor_id").as[Long].collect().toSet
    assert(got0 == Set(11L, 12L))
    // NULL-label query: other NULL-label rows are same-class, the
    // labeled rows are negatives — not the zero-candidate blackout a
    // null-hostile =!= filter would produce.
    val qn = Seq(mk(2L, None, Seq(1.0, 0.0))).toDF("vec_id", "label", "embedding")
    val gotN = Similarity.hardNegativesTopK(qn, c, "vec_id", "embedding", "label", 3)
      .select($"neighbor_id").as[Long].collect().toSet
    assert(gotN == Set(10L, 12L))
  }

  test("IVF hard negatives equal the brute variant when every cell is probed") {
    val rnd = new scala.util.Random(99)
    val mk = (id: Long) => (id, (id % 3).toInt,
      Array.fill(8)(rnd.nextDouble() * 2 - 1))
    val q = (0L until 3L).map(mk).toDF("vec_id", "label", "embedding")
    val c = (10L until 40L).map(mk).toDF("vec_id", "label", "embedding")
    val brute = Similarity.hardNegativesTopK(q, c, "vec_id", "embedding", "label", 5)
      .collect().map(_.toSeq).toSet
    val ivf = Similarity.hardNegativesIvfTopK(q, c, "vec_id", "embedding",
        "label", 5, nCells = 4, nProbe = 4)
      .collect().map(_.toSeq).toSet
    assert(ivf == brute)
  }

  test("incremental minhash flags new docs against the index only") {
    val index = Seq(
      (1L, "a b c d e f g h"), (5L, "a b c d e f g h"),
      (3L, "q r s t u v w x")).toDF("doc_id", "text")
    val fresh = Seq(
      (10L, "a b c d e f g h"),   // dup of indexed 1 and 5 → dup_of = 1
      (11L, "m n o p m n o p"))   // novel → absent
      .toDF("doc_id", "text")
    val out = Dedup.minhashLshIncremental(fresh, index, "doc_id", "text")
      .as[(Long, Long)].collect().toSet
    assert(out == Set((10L, 1L)))
    // new docs are never paired with EACH OTHER (that's the batch op's
    // job): two identical fresh docs with no indexed twin emit nothing
    val fresh2 = Seq((20L, "z1 z2 z3 z4 z5 z6 z7 z8"),
      (21L, "z1 z2 z3 z4 z5 z6 z7 z8")).toDF("doc_id", "text")
    assert(Dedup.minhashLshIncremental(fresh2, index, "doc_id", "text")
      .count() == 0)
  }

  test("normalize collapses whitespace runs and strips control chars") {
    import graft.functions.Text
    val df = Seq(
      (1L, "  a\t\tb  c\r\n d  "),
      (2L, "already clean")).toDF("doc_id", "text")
    val out = df.select($"doc_id", Text.normalize($"text").as("t"))
      .orderBy($"doc_id").as[(Long, String)].collect()
    assert(out(0)._2 == "a b c d")
    assert(out(1)._2 == "already clean")
  }
}
