package graft

import graft.sources.Tables

class ScaleSpec extends SparkSpec {

  test("writeTables writes the testdata schemas at sf0.1's row counts × factor") {
    val dir = java.nio.file.Files.createTempDirectory("graft-scale-spec").toFile
    try check(dir.toString)
    finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  private def check(dir: String): Unit = {
    Scale.writeTables(spark, dir, 0.01)
    // sf0.1 × 0.01: sf0.001's own counts, except its documents and
    // embeddings (500 each), which are not sf0.1's / 100
    val want = Map("region" -> 5L, "nation" -> 25L, "customer" -> 150L,
      "supplier" -> 10L, "part" -> 200L, "orders" -> 1500L,
      "lineitem" -> 6000L, "events" -> 1000L, "documents" -> 50L,
      "embeddings" -> 20L)
    assert(Scale.Sf01Rows.keys.toSeq == Tables.All)
    for (t <- Tables.All) {
      val got = spark.read.parquet(s"$dir/$t.parquet")
      val ref = spark.read.parquet(s"/root/testdata/sf0.001/$t.parquet")
      assert(got.schema == ref.schema, s"$t schema")
      assert(got.count() == want(t), s"$t rows")
      assert(Scale.rowCount(t, 0.01) == want(t), s"$t rowCount")
    }
  }
}
