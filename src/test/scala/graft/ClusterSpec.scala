package graft

import org.apache.spark.sql.functions._

import graft.operators.Cluster

class ClusterSpec extends SparkSpec {
  import spark.implicits._

  test("kmeans separates two well-separated blobs; cluster = seed id") {
    // Blob A around (0, 0), blob B around (10, 10); ids interleave so
    // the two lowest-id seeds (0 → A, 1 → B) start one in each blob.
    val pts = (0L until 20L).map { i =>
      val base = if (i % 2 == 0) 0.0 else 10.0
      (i, Seq(base + (i % 5) * 0.1, base - (i % 3) * 0.1))
    }
    val df = pts.toDF("vec_id", "embedding")
    val out = Cluster.kmeans(df, "vec_id", "embedding", k = 2, iters = 2)
      .as[(Long, Long)].collect().toMap
    assert(out.size == 20)
    (0L until 20L).foreach { i =>
      assert(out(i) == i % 2, s"vec $i assigned ${out(i)}")
    }
  }

  test("kmeans is deterministic under repartitioning") {
    val df = (0L until 100L)
      .map(i => (i, Seq((i % 7).toDouble, (i % 11).toDouble, (i % 13).toDouble)))
      .toDF("vec_id", "embedding")
    val a = Cluster.kmeans(df, "vec_id", "embedding", k = 4, iters = 2)
      .as[(Long, Long)].collect().sorted.toSeq
    val b = Cluster.kmeans(df.repartition(13), "vec_id", "embedding", k = 4, iters = 2)
      .as[(Long, Long)].collect().sorted.toSeq
    assert(a == b)
    assert(a.map(_._2).distinct.size > 1) // non-degenerate clustering
  }

  test("semanticDedupPairs finds planted near-dups, only within clusters") {
    // Blob A near (1, 0): ids 0, 2 identical (cosine 1), id 4 rotated
    // off-axis (cosine < .99). Blob B near (0, 1): ids 1, 3 identical.
    // Cross-blob pairs share no cluster and must not be compared.
    val df = Seq(
      (0L, Seq(1.0, 0.0)), (2L, Seq(1.0, 0.0)), (4L, Seq(1.0, 0.2)),
      (1L, Seq(0.0, 1.0)), (3L, Seq(0.0, 1.0)))
      .toDF("vec_id", "embedding")
    val out = Cluster.semanticDedupPairs(df, "vec_id", "embedding",
        threshold = 0.99, k = 2, iters = 2)
      .orderBy($"id_a", $"id_b").as[(Long, Long, Double)].collect().toSeq
    assert(out == Seq((0L, 2L, 1.0), (1L, 3L, 1.0)))
  }

  test("semanticDedupVerdict keeps the farthest member per dup component") {
    // Blob A: ids 0, 2 at (1,0) and id 4 slightly off-center — all
    // pairwise cosine ≥ .99, so one component; id 4 is farthest from
    // the centroid and must be the keeper. Blob B: ids 1, 3 identical —
    // distance tie breaks to the lowest id.
    val df = Seq(
      (0L, Seq(1.0, 0.0)), (2L, Seq(1.0, 0.0)), (4L, Seq(1.0, 0.05)),
      (1L, Seq(0.0, 1.0)), (3L, Seq(0.0, 1.0)))
      .toDF("vec_id", "embedding")
    val out = Cluster.semanticDedupVerdict(df, "vec_id", "embedding",
        threshold = 0.99, k = 2, iters = 2)
      .orderBy($"id").as[(Long, Long, Boolean, Long)].collect().toSeq
    assert(out == Seq(
      (0L, 0L, false, 4L), (1L, 1L, true, 1L), (2L, 0L, false, 4L),
      (3L, 1L, false, 1L), (4L, 0L, true, 4L)))
  }

  test("semanticDedupPairs skips clusters above maxCluster") {
    val df = (0L until 10L).map(i => (i, Seq(1.0, 0.0))).toDF("vec_id", "embedding")
    val capped = Cluster.semanticDedupPairs(df, "vec_id", "embedding",
      threshold = 0.9, k = 1, iters = 1, maxCluster = 5)
    assert(capped.count() == 0)
    val uncapped = Cluster.semanticDedupPairs(df, "vec_id", "embedding",
      threshold = 0.9, k = 1, iters = 1)
    assert(uncapped.count() == 45) // all 10-choose-2 identical pairs
  }

  test("clusterPrune keeps the keepFrac farthest per cluster") {
    // Two blobs of 10; keepFrac=0.5 must keep exactly 5 per cluster,
    // and every kept distance must be >= every dropped distance.
    val pts = (0L until 20L).map { i =>
      val base = if (i % 2 == 0) 0.0 else 10.0
      (i, Seq(base + (i % 5) * 0.1, base - (i % 3) * 0.1))
    }
    val df = pts.toDF("vec_id", "embedding")
    val out = Cluster.clusterPrune(df, "vec_id", "embedding",
        keepFrac = 0.5, k = 2, iters = 2)
      .select($"id", $"cluster", $"dist2", $"keep")
      .as[(Long, Long, Double, Boolean)].collect().toSeq
    assert(out.size == 20)
    out.groupBy(_._2).foreach { case (c, rows) =>
      val (kept, dropped) = rows.partition(_._4)
      assert(kept.size == 5, s"cluster $c kept ${kept.size}")
      assert(kept.map(_._3).min >= dropped.map(_._3).max,
        s"cluster $c dropped a harder example than it kept")
    }
  }

  test("clusterPrune keepFrac=1 keeps everything; deterministic under repartitioning") {
    val df = (0L until 60L)
      .map(i => (i, Seq((i % 7).toDouble, (i % 11).toDouble)))
      .toDF("vec_id", "embedding")
    val all = Cluster.clusterPrune(df, "vec_id", "embedding", keepFrac = 1.0)
    assert(all.where(!$"keep").count() == 0)
    val a = Cluster.clusterPrune(df, "vec_id", "embedding", keepFrac = 0.3)
      .as[(Long, Long, Double, Long, Boolean)].collect().sorted.toSeq
    val b = Cluster.clusterPrune(df.repartition(13), "vec_id", "embedding",
        keepFrac = 0.3)
      .as[(Long, Long, Double, Long, Boolean)].collect().sorted.toSeq
    assert(a == b)
  }

  test("more than SMAX centroids fail at build time, before any job") {
    val df = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)))
      .toDF("vec_id", "embedding")
    val sc = spark.sparkContext
    sc.setJobGroup("cluster-smax", "k past SMAX")
    // semanticDedupVerdict pins its assignment eagerly, so a late check
    // would show up as a job in the group.
    val e = try intercept[IllegalArgumentException] {
      Cluster.semanticDedupVerdict(df, "vec_id", "embedding",
        threshold = 0.99, k = graft.functions.SMAX + 1)
    } finally sc.clearJobGroup()
    assert(e.getMessage.contains("SMAX"), e.getMessage)
    assert(sc.statusTracker.getJobIdsForGroup("cluster-smax").isEmpty)
  }

  test("kmeans ties break to the lowest centroid id") {
    // Both seeds are the same point, so every vector is equidistant:
    // everything must land in the lower seed id.
    val df = Seq(
      (0L, Seq(1.0, 1.0)), (1L, Seq(1.0, 1.0)),
      (2L, Seq(5.0, -3.0)), (3L, Seq(-2.0, 4.0)))
      .toDF("vec_id", "embedding")
    val out = Cluster.kmeans(df, "vec_id", "embedding", k = 2, iters = 1)
      .as[(Long, Long)].collect().toMap
    assert(out.values.toSet == Set(0L))
  }
}
