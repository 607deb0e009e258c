package graft

/** Ad-hoc single-query timing harness, plus the isolation cross-check
  * the full-suite record ships with (r12 verdict #6):
  *
  *   BenchOne <name>[,<name>…] [reps]   — print per-rep wall times
  *   BenchOne --sweep [n]               — min-of-3 the n (default 25)
  *     slowest queries of this round's BENCH_LOCAL record and write
  *     BENCHONE_<round>.json, so per-query regressions in the suite
  *     record can always be checked against isolated cost (the r12
  *     record carried 3-30× environmental pollution on six queries
  *     with no committed isolation control to prove it).
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.Graft.register(spark)

    def time(name: String): Double = {
      val t0 = System.nanoTime()
      // noop sink so the measured plan keeps every output column
      // (count() would let Catalyst prune the computation — see Bench).
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    if (args.headOption.contains("--sweep")) {
      val n = if (args.length > 1) args(1).toInt else 25
      val round = sys.env.getOrElse("SPARK_GRAFT_ROUND", "r14")
      val rec = Bench.parseQueries(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"BENCH_LOCAL_$round.json")), "UTF-8"))
      val slowest = rec.toSeq.sortBy(-_._2).take(n)
      def r3(v: Double) = math.round(v * 1000) / 1000.0
      val mins = slowest.map { case (name, suite) =>
        val ts = (1 to 3).map { i =>
          val dt = time(name)
          println(f"$name rep$i $dt%.2f s (suite: $suite%.2f)")
          dt
        }
        name -> (ts.min, suite)
      }
      val body = mins.sortBy(-_._2._1).map { case (k, (m, s)) =>
        s"\"" + k + "\":{\"min3\":" + r3(m) + ",\"suite\":" + r3(s) + "}"
      }.mkString("{", ",", "}")
      val line = s"""{"round":"$round","reps":3,"n":${mins.size},"queries":$body}"""
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"BENCHONE_$round.json"),
        (line + "\n").getBytes("UTF-8"))
      println(line)
    } else {
      val reps = if (args.length > 1) args(1).toInt else 3
      args(0).split(",").foreach { name =>
        (1 to reps).foreach { i =>
          println(f"$name rep$i ${time(name)}%.2f s")
        }
      }
    }
    spark.stop()
  }
}
