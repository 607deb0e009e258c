package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{GraftSqlBridge, SparkSession}
import org.apache.spark.sql.execution.ExplainMode

/** Query tools over `SparkEntry.queries`, one session per run:
  *
  *   Tool time <name>[,<name>…] [reps]  — per-rep wall time (default 3
  *     reps), with the generated classes the rep compiled and the ms
  *     Janino spent on them (`CodegenMetrics`; in local mode that counts
  *     the tasks too). A warm rep that still compiles is recompiling
  *     code it already had.
  *   Tool sweep [n]                     — min-of-3 the n (default 25)
  *     slowest queries of the round's BENCH_LOCAL record and write
  *     BENCHONE_<round>.json ($SPARK_GRAFT_ROUND, default r14), so a
  *     per-query regression in the suite record can be checked against
  *     its isolated cost
  *   Tool explain <outDir> <q1,q2,…> [suffix] — each query's
  *     `explain("formatted")` to `<outDir>/<q><suffix>.txt`
  *   Tool audit <out.tsv> [q1,q2,…]     — one plan-shape row (operator
  *     counts: Exchange, Sort, join strategies, codegen spans) per
  *     query, all queries by default
  *
  * A name that is not a registered query fails before a session is
  * built.
  *
  * time/sweep read $SPARK_GRAFT_SF_DIR (default sf0.1) on
  * `local[$SPARK_GRAFT_CPUS]` (default 32); explain/audit read
  * $SPARK_GRAFT_SF_DIR (default sf0.01) on `local[8]`.
  *
  * Pinned-query caveat: localCheckpoint() is EAGER, so building a
  * pinned query's DataFrame executes the pinned subtree, and its plan
  * renders that subtree as `Scan ExistingRDD` — explain and audit
  * EXCLUDE the checkpoint-producer operators that still run once at
  * build time. Compare pinned queries by wall-clock (which charges
  * those jobs), not by scan counts alone.
  */
object Tool {
  def main(args: Array[String]): Unit = {
    val cmd = args.headOption.getOrElse("")
    val rest = args.drop(1)
    val timing = cmd == "time" || cmd == "sweep"
    require(timing || cmd == "explain" || cmd == "audit",
      s"usage: Tool time|sweep|explain|audit …, got '$cmd'")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      if (timing) "/root/testdata/sf0.1" else "/root/testdata/sf0.01")
    lazy val slow = slowest(if (rest.nonEmpty) rest(0).toInt else 25)
    // every named query is checked before a session is built
    val names: Seq[String] = cmd match {
      case "time" => rest(0).split(",").toSeq
      case "sweep" => slow.map(_._1)
      case "explain" => rest(1).split(",").toSeq
      case "audit" => rest.lift(1).fold(SparkEntry.queries.keys.toSeq.sorted)(_.split(",").toSeq)
    }
    graft.queries.Registry.requireRegistered(names)
    val cpus = if (timing) sys.env.getOrElse("SPARK_GRAFT_CPUS", "32") else "8"
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.Graft.register(spark)
    cmd match {
      case "time" =>
        val reps = if (rest.length > 1) rest(1).toInt else 3
        names.foreach { name =>
          (1 to reps).foreach { i =>
            val c0 = GraftSqlBridge.codegenCompiles
            val n0 = GraftSqlBridge.codegenCompileNanos
            val dt = time(spark, sfDir, name)
            val compiles = GraftSqlBridge.codegenCompiles - c0
            val ms = (GraftSqlBridge.codegenCompileNanos - n0) / 1e6
            println(f"$name rep$i $dt%.2f s $compiles%d compiles $ms%.0f ms")
          }
        }
      case "sweep" =>
        sweep(spark, sfDir, slow)
      case "explain" =>
        explain(spark, sfDir, rest(0), names,
          if (rest.length > 2) rest(2) else "")
      case "audit" =>
        audit(spark, sfDir, rest(0), names)
    }
    spark.stop()
  }

  /** One timed run of `name` into the noop sink, so the measured plan
    * keeps every output column (count() would let Catalyst prune the
    * computation — see Bench).
    */
  private def time(spark: SparkSession, sfDir: String, name: String): Double = {
    val t0 = System.nanoTime()
    SparkEntry.queries(name)(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  private def round: String = sys.env.getOrElse("SPARK_GRAFT_ROUND", "r14")

  /** The `n` slowest queries of the round's BENCH_LOCAL record, with
    * their suite seconds.
    */
  private def slowest(n: Int): Seq[(String, Double)] = {
    val rec = Bench.parseQueries(new String(Files.readAllBytes(
      Paths.get(s"BENCH_LOCAL_$round.json")), "UTF-8"))
    rec.toSeq.sortBy(-_._2).take(n)
  }

  private def sweep(spark: SparkSession, sfDir: String,
                    slowest: Seq[(String, Double)]): Unit = {
    def r3(v: Double) = math.round(v * 1000) / 1000.0
    val mins = slowest.map { case (name, suite) =>
      val ts = (1 to 3).map { i =>
        val dt = time(spark, sfDir, name)
        println(f"$name rep$i $dt%.2f s (suite: $suite%.2f)")
        dt
      }
      name -> (ts.min, suite)
    }
    val body = mins.sortBy(-_._2._1).map { case (k, (m, s)) =>
      s"\"" + k + "\":{\"min3\":" + r3(m) + ",\"suite\":" + r3(s) + "}"
    }.mkString("{", ",", "}")
    val line = s"""{"round":"$round","reps":3,"n":${mins.size},"queries":$body}"""
    Files.write(Paths.get(s"BENCHONE_$round.json"), (line + "\n").getBytes("UTF-8"))
    println(line)
  }

  private def formatted(spark: SparkSession, sfDir: String, name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution
      .explainString(ExplainMode.fromString("formatted"))

  private def explain(spark: SparkSession, sfDir: String, outDir: String,
                      names: Seq[String], suffix: String): Unit = {
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      try Files.write(Paths.get(s"$outDir/$name$suffix.txt"),
        formatted(spark, sfDir, name).getBytes("UTF-8"))
      catch {
        case e: Throwable =>
          System.err.println(s"[explain] $name failed: ${e.getMessage}")
      }
    }
  }

  private def audit(spark: SparkSession, sfDir: String, out: String,
                    names: Seq[String]): Unit = {
    def count(plan: String, token: String): Int =
      token.r.findAllMatchIn(plan).size
    val sb = new StringBuilder
    sb.append("query\texchange\tsort\tsmj\tbhj\tshj\tbnlj\tcartesian\twindow\tcodegen\tscans\n")
    names.distinct.sorted.foreach { name =>
      try {
        // count only the numbered-operator list (before "details")
        val head = formatted(spark, sfDir, name).split("\n\n")(0)
        sb.append((name +: Seq("\\bExchange\\b", "\\bSort\\b",
            "SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
            "BroadcastNestedLoopJoin", "CartesianProduct", "\\bWindow\\b",
            "WholeStageCodegen", "Scan parquet").map(count(head, _)))
          .mkString("\t") + "\n")
      } catch {
        case e: Throwable =>
          // ERR rows padded to the header's column count so a partial
          // audit can't silently mis-parse downstream
          sb.append((Seq(name, s"ERR ${e.getClass.getSimpleName}") ++
            Seq.fill(9)("ERR")).mkString("\t") + "\n")
      }
    }
    Files.write(Paths.get(out), sb.toString.getBytes("UTF-8"))
  }
}
