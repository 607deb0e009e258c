package graft

import org.apache.spark.sql.functions._

import graft.sources.Tables

class SourcesSpec extends SparkSpec {
  import spark.implicits._

  test("square rewrite rule: pow(x,2) becomes a multiply in the plan") {
    functions.Graft.register(spark)
    val df = Seq(1.5, 2.5).toDF("x").select(pow($"x", 2.0).as("sq"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("(x#") && optimized.toLowerCase.contains("* x#")
      || !optimized.contains("POWER"), optimized)
    assert(df.as[Double].collect().sorted.sameElements(Array(2.25, 6.25)))
  }

  test("rel_pow2_rewrite: driver query runs the rewritten multiply") {
    functions.Graft.register(spark)
    val df = SparkEntry.queries("rel_pow2_rewrite")(spark, "/root/testdata/sf0.001")
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("POWER"),
      "pow(x,2) survived optimization: " + optimized.take(800))
    // value half: exact integral squares match a local replay
    val got = df.collect().map(r =>
      r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val want = Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
      .select($"l_returnflag", $"l_quantity").as[(String, Double)].collect()
      .groupBy(_._1).map { case (k, xs) =>
        k -> (xs.length.toLong, xs.map(x => x._2 * x._2).sum) }
    assert(got == want, s"got $got want $want")
  }

  test("bucketed tables join without a shuffle (co-located merge join)") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    val o = Tables.load(s2, "/root/testdata/sf0.001", "orders")
    val l = Tables.load(s2, "/root/testdata/sf0.001", "lineitem")
    Tables.writeBucketed(o.select($"o_orderkey", $"o_totalprice"),
      "orders_b", Seq("o_orderkey"), 4)
    Tables.writeBucketed(l.select($"l_orderkey", $"l_quantity"),
      "lineitem_b", Seq("l_orderkey"), 4)
    val joined = s2.table("orders_b").join(s2.table("lineitem_b"),
      col("o_orderkey") === col("l_orderkey"))
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join still shuffles:\n${plan.take(1200)}")
    assert(joined.count() > 0)
  }

  test("registerViews exposes every table to SQL") {
    Tables.registerViews(spark, "/root/testdata/sf0.001")
    assert(spark.sql("SELECT count(*) FROM lineitem").as[Long].head() > 0)
    assert(spark.sql("SELECT count(*) FROM events").as[Long].head() > 0)
  }

  test("NTZ parquet (isAdjustedToUTC=false) loads as TimestampType, value-exact") {
    import org.apache.spark.sql.types._
    // Write a fixture whose ts is TIMESTAMP_NTZ — what pandas/pyarrow
    // naive timestamps become in Spark 4's reader — plus an NTZ date col
    // on a non-events table name, to pin the generalized normalization.
    val dir = java.nio.file.Files.createTempDirectory("graft-ntz").toString
    val micros = Seq(1712928600000000L, 1712928601500000L)
    spark.createDataFrame(
        spark.sparkContext.parallelize(micros.zipWithIndex.map { case (us, i) =>
          org.apache.spark.sql.Row(i.toLong, us)
        }),
        StructType(Seq(StructField("event_id", LongType),
          StructField("ts_us", LongType))))
      .withColumn("ts", timestamp_micros($"ts_us").cast(TimestampNTZType))
      .drop("ts_us")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    // raw read must come back NTZ or the fixture proves nothing
    assert(spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType ==
      TimestampNTZType)
    val loaded = Tables.load(spark, dir, "events")
    assert(loaded.schema("ts").dataType == TimestampType)
    val got = loaded.orderBy($"event_id")
      .select(unix_micros($"ts")).as[Long].collect()
    assert(got.toSeq == micros,
      s"NTZ→TZ cast not value-exact under UTC: ${got.toSeq}")
    // generalized path: any table, any NTZ column name
    spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(1L, 1712928600000000L))),
        StructType(Seq(StructField("o_orderkey", LongType),
          StructField("us", LongType))))
      .withColumn("o_orderdate", timestamp_micros($"us").cast(TimestampNTZType))
      .drop("us")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    assert(Tables.load(spark, dir, "orders").schema("o_orderdate").dataType ==
      TimestampType)
  }

  test("partitioned writes prune partitions on filtered reads") {
    val out = java.nio.file.Files.createTempDirectory("graft-part").toString
    val ev = Tables.load(spark, "/root/testdata/sf0.001", "events")
    Tables.writePartitioned(
      ev.select($"event_id", $"value", $"event_type"), out, Seq("event_type"))
    val back = spark.read.parquet(out).where($"event_type" === "click")
    back.collect()
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(event_type"),
      s"no partition pruning in scan:\n${plan.take(1200)}")
    // pruned scan must not read the other types' directories
    val n = back.count()
    val total = spark.read.parquet(out).count()
    assert(n > 0 && n < total)
  }

  test("fromNanos pins the ns->us truncation contract (toward zero)") {
    val df = Seq(
      (1L, 1500L),          // post-epoch, sub-us remainder -> earlier
      (2L, 999L),           // under one us -> 0
      (3L, -1500L),         // pre-epoch -> truncates LATER (toward 0)
      (4L, 1712928600000000000L), // exact us boundary -> exact
      (5L, -1000L)          // negative exact boundary -> exact
    ).toDF("event_id", "ts")
    val out = Tables.fromNanos(df, "ts")
    assert(out.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    val us = out.select($"event_id",
        org.apache.spark.sql.functions.unix_micros($"ts"))
      .as[(Long, Long)].collect().toMap
    assert(us(1L) == 1L)
    assert(us(2L) == 0L)
    assert(us(3L) == -1L)
    assert(us(4L) == 1712928600000000L)
    assert(us(5L) == -1L)
  }

  test("a file set's first load starts at most one job, a second load none") {
    val dir = java.nio.file.Files.createTempDirectory("graft-schema").toString
    Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .write.parquet(s"$dir/t.parquet")
    val first = jobCount(Tables.load(spark, dir, "t"))
    val second = jobCount(Tables.load(spark, dir, "t"))
    assert(first <= 1, s"first load ran $first jobs")
    assert(second == 0, s"second load ran $second jobs")
    assert(Tables.load(spark, dir, "t").as[(Long, String)].collect().sorted
      .sameElements(Array((1L, "a"), (2L, "b"))))
  }

  test("a table rewritten with an added column shows it on the next load") {
    val dir = java.nio.file.Files.createTempDirectory("graft-schema").toString
    Seq(1L, 2L).toDF("k").write.parquet(s"$dir/t.parquet")
    assert(Tables.load(spark, dir, "t").columns.toSeq == Seq("k"))
    Seq((3L, 4.0)).toDF("k", "x")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val again = Tables.load(spark, dir, "t")
    assert(again.columns.toSeq == Seq("k", "x"))
    assert(again.as[(Long, Double)].collect().toSeq == Seq((3L, 4.0)))
  }

  test("spark.sql.parquet.binaryAsString flipped between loads gives each type") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    import org.apache.spark.sql.types.{BinaryType, StringType}
    // Written without Spark's schema in the footer: a bare BINARY column
    // is what binaryAsString reinterprets.
    val dir = java.nio.file.Files.createTempDirectory("graft-schema").toString
    val schema = MessageTypeParser.parseMessageType("message m { required binary b; }")
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/t.parquet"))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("b", "x"))
    finally w.close()
    val key = "spark.sql.parquet.binaryAsString"
    try {
      spark.conf.set(key, "false")
      assert(Tables.load(spark, dir, "t").schema("b").dataType == BinaryType)
      spark.conf.set(key, "true")
      val asString = Tables.load(spark, dir, "t")
      assert(asString.schema("b").dataType == StringType)
      assert(asString.as[String].collect().toSeq == Seq("x"))
      spark.conf.set(key, "false")
      assert(Tables.load(spark, dir, "t").schema("b").dataType == BinaryType)
    } finally spark.conf.unset(key)
  }

  test("each sf0.001 table loads with the schema of a plain read, normalized") {
    val dir = "/root/testdata/sf0.001"
    Tables.All.foreach { t =>
      val plain = spark.read.parquet(s"$dir/$t.parquet")
      val want = Tables.normalizeTimestamps(
        if (t == "events") Tables.normalizeEventTs(plain) else plain).schema
      // twice: the first load may infer, the second reads the cache
      assert(Tables.load(spark, dir, t).schema == want, t)
      assert(Tables.load(spark, dir, t).schema == want, t)
    }
  }

  test("a table under a relative path loads and stages without touching its files") {
    val base = java.nio.file.Files.createDirectories(java.nio.file.Paths.get("target"))
    val rel = java.nio.file.Files.createTempDirectory(base, "graft-rel")
    assert(!rel.isAbsolute, rel)
    val dir = rel.toString
    val path = s"$dir/t.parquet"
    try {
      Seq((1L, "a"), (2L, "b")).toDF("k", "v").repartition(2).write.parquet(path)
      val files = Tables.dataFiles(spark, path)
      val lens = files.map { case (r, f) => r -> f.getLen }
      assert(files.nonEmpty && files.forall { case (r, f) =>
        r == f.getPath.getName && r.startsWith("part-") && f.getLen > 0 }, lens)
      assert(Tables.load(spark, dir, "t").count() == 2)
      val in = graft.queries.StreamingQueries.stageSource(spark, path, "t", files)
      assert(spark.read.parquet(in).count() == 2)
      assert(Tables.dataFiles(spark, path).map { case (r, f) => r -> f.getLen } == lens)
      assert(Tables.load(spark, dir, "t").as[(Long, String)].collect().sorted
        .sameElements(Array((1L, "a"), (2L, "b"))))
    } finally {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  test("a read with the cached schema still prunes partitions and pushes filters") {
    val out = java.nio.file.Files.createTempDirectory("graft-part").toString
    Tables.writePartitioned(Seq((1L, 2.0, "click"), (2L, 5.0, "view"))
      .toDF("event_id", "value", "event_type"), out, Seq("event_type"))
    Tables.read(spark, out)
    val back = Tables.read(spark, out)
      .where($"event_type" === "click" && $"value" > 1.0)
    assert(back.schema == spark.read.parquet(out).schema)
    assert(back.select($"event_id").as[Long].collect().toSeq == Seq(1L))
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(event_type"),
      s"no partition pruning in scan:\n${plan.take(1200)}")
    assert(plan.contains("PushedFilters: [IsNotNull(value), GreaterThan(value,1.0)]"),
      s"no filter pushdown in scan:\n${plan.take(1200)}")
  }
}
