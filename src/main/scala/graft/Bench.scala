package graft
import org.apache.spark.sql.SparkSession

object Bench {
  /** Collapse per-rep wall-clock samples to the recorded min. A query
    * whose every rep failed is OMITTED entirely — recording 0.0 would
    * deflate total_sec and read as "fast" in the archived record (the
    * errors map is the place that names the failure). */
  def collapse(reps: Map[String, Seq[Double]]): Map[String, Double] =
    reps.collect { case (k, ts) if ts.nonEmpty => k -> ts.min }

  /** Per-query minima from a committed BENCH_LOCAL_*.json line: the
    * substring of the "queries" object only (the streaming/setup_split
    * objects carry nested numbers a whole-file regex would swallow).
    * Used as the prior-round reference for outlier re-runs. */
  def parseQueries(json: String): Map[String, Double] = {
    val start = json.indexOf("\"queries\":{")
    if (start < 0) Map.empty
    else {
      val body = json.substring(start + 11, json.indexOf('}', start))
      """"([a-z0-9_]+)":([0-9.]+)""".r.findAllMatchIn(body)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    }
  }

  /** Per-query min3 isolation controls from a BENCHONE_r*.json line
    * (format: {"queries":{"name":{"min3":X,"suite":Y},…}}). */
  def parseBenchOne(json: String): Map[String, Double] =
    """"([a-z0-9_]+)":\{"min3":([0-9.]+)""".r.findAllMatchIn(json)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap

  /** Tightest committed per-query reference across prior rounds: min
    * over every BENCH_LOCAL_r*.json in cwd except the current round's
    * own mirror, min-merged with every BENCHONE_r*.json isolation
    * control (r13 verdict #2: suite records alone leave a blind spot
    * for 2-3× host pressure — the BENCHONE min3 is the honest
    * isolated cost and usually the tighter bound). Min-merging across
    * rounds keeps one polluted round (r12's end-of-round run recorded
    * 3-30× isolated cost on six queries) from poisoning the
    * reference the outlier detector compares to. */
  def priorRecords(excludeRound: String): Map[String, Double] = {
    val dir = new java.io.File(".")
    val all = Option(dir.listFiles()).getOrElse(Array.empty)
    def slurp(f: java.io.File): String =
      new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    val suite = all
      .filter(f => f.getName.matches("BENCH_LOCAL_r\\d+\\.json") &&
        f.getName != s"BENCH_LOCAL_$excludeRound.json")
      .flatMap { f =>
        try parseQueries(slurp(f)).toSeq catch { case _: Throwable => Nil }
      }
    val isolated = all
      .filter(_.getName.matches("BENCHONE_r\\d+\\.json"))
      .flatMap { f =>
        try parseBenchOne(slurp(f)).toSeq catch { case _: Throwable => Nil }
      }
    (suite ++ isolated).groupBy(_._1)
      .map { case (k, vs) => k -> vs.map(_._2).min }
  }

  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(b.getCollectionTime, 0L)).sum
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.Graft.register(spark)
    // Warm up JIT/codegen + the parquet reader on EVERY table so the
    // first query touching each one isn't charged footer/metadata setup.
    graft.sources.Tables.All.foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").count()
      catch { case _: Throwable => () }
    }
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").count().collect()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // Each query runs REPS times and records the MIN: a single-shot
    // timing on a loaded host charges other processes' CPU to whichever
    // query they landed on (this misrepresented the engine by ~2.5× two
    // rounds running); min-of-2 keeps the record within noise of a
    // clean-host run while only doubling bench wall-clock.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt
    // For streaming_* queries: (harness setup sec, micro-batch exec sec)
    // of the rep that produced the recorded min — splits replay infra
    // (tempdir staging + AvailableNow startup/checkpoint) from operator
    // execution (Σ addBatch), so the record stops charging harness cost
    // to the engine.
    val streamSplit = scala.collection.mutable.LinkedHashMap[String, (Double, Double)]()
    // For queries with build-time setup (the bucketed CTAS writes):
    // (setup sec, main sec = recorded − setup) of the min rep — the
    // layout write happens once per lake refresh at scale, so charging
    // it to the per-query join cost misreads the operator.
    val setupSplit = scala.collection.mutable.LinkedHashMap[String, (Double, Double)]()
    // JVM-wide GC wall-clock charged to the min rep of each query —
    // the self-diagnosis channel for a polluted run (r12's committed
    // record carried 3-30× environmental cost on six queries with
    // nothing in the record to say so; sustained GC time is the
    // memory-pressure signature, flat GC under a slow rep points at
    // host contention instead).
    val gcSec = scala.collection.mutable.LinkedHashMap[String, Double]()

    // (wall sec, stream split, setup split, gc sec) for one execution.
    def runOnce(name: String,
                fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : Option[(Double, (Double, Double), Option[Double], Double)] = {
      SparkEntry.replayStats.clear()
      SparkEntry.setupStats.clear()
      val gc0 = gcMillis()
      val t0 = System.nanoTime()
      // noop sink, NOT count(): a count() lets ColumnPruning discard
      // every computed column, so the plan being timed degenerates to a
      // parquet count-scan for pure select/window queries. The noop
      // writer consumes every output column — nothing can be pruned.
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        val split = SparkEntry.replayStats.values.foldLeft((0.0, 0.0)) {
          case ((su, ex), (stage, wall, addBatch)) =>
            (su + stage + math.max(wall - addBatch, 0.0), ex + addBatch)
        }
        Some((dt, split, SparkEntry.setupStats.get(name),
          (gcMillis() - gc0) / 1e3))
      } catch {
        case e: Throwable =>
          // A swallowed failure must not masquerade as a fast query:
          // record it so the JSON line shows exactly what broke.
          errors += name -> e.toString.replaceAll("[\"\\\\\n\r\t]", " ").take(120)
          None
      }
    }

    def record(name: String,
               times: Seq[(Double, (Double, Double), Option[Double], Double)])
        : Option[Double] =
      collapse(Map(name -> times.map(_._1))).get(name).map { dt =>
        val (_, split, setup, gc) = times.minBy(_._1)
        if (split != (0.0, 0.0)) streamSplit(name) = split
        setup.foreach(su => setupSplit(name) = (su, math.max(dt - su, 0.0)))
        gcSec(name) = gc
        dt
      }

    // SORTED-BY-NAME execution and emission order (stable across
    // rounds even as queries move around the source): round-over-round
    // diffs of BENCH_LOCAL align positionally, so environmental drift
    // shows up as a block shift instead of an unreadable scatter.
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
    val results = scala.collection.mutable.LinkedHashMap[String, Double]()
    ordered.foreach { case (name, fn) =>
      var times = (1 to reps).flatMap(_ => runOnce(name, fn))
      // Cold-start policy (r12 verdict #8): first-rep JIT/codegen cost
      // ran 5.8× on eod_factor_ols, so with reps=2 the min still
      // carries partial warmup for late-added heavy queries. When the
      // rep spread exceeds 2×, one more rep buys a genuinely warm min.
      if (times.size >= 2 && times.map(_._1).max > 2.0 * times.map(_._1).min)
        times ++= runOnce(name, fn)
      record(name, times).foreach(results(name) = _)
    }

    // Outlier re-run (r12 verdict #1b, widened per r13 verdict #2):
    // any query whose recorded min exceeds 2× the tightest committed
    // reference — min over prior-round suite records AND BENCHONE
    // isolation controls — gets a fresh min-of-2 appended after the
    // sweep. If the first pass hit transient host pressure (the r12
    // failure mode: six queries at 3-30× isolated cost, BOTH reps
    // inside the same pressure window; r13's residual: seven queries
    // at 2-3×, under the old 3× line), the later re-run catches the
    // engine's real cost. Re-run deltas are recorded so the final
    // line shows what was environmental. Queries new this round have
    // no reference yet and are not requeued — their honest record
    // lands via the BENCHONE sweep the same round.
    val round = sys.env.getOrElse("SPARK_GRAFT_ROUND", "r14")
    val prior = try priorRecords(round) catch { case _: Throwable => Map.empty[String, Double] }
    val requeued = scala.collection.mutable.LinkedHashMap[String, (Double, Double)]()
    results.keys.toSeq.foreach { name =>
      val dt = results(name)
      prior.get(name).foreach { p =>
        if (dt > 2.0 * p && dt > 1.0) {
          val fresh = (1 to 2).flatMap(_ =>
            runOnce(name, SparkEntry.queries(name)))
          // Side-effects (gc/stream/setup splits) commit only when the
          // re-run WINS — otherwise the emitted splits would describe
          // a different execution than the recorded wall time — and
          // the requeued map always carries the real re-run min so
          // the JSON shows what the re-run measured.
          collapse(Map(name -> fresh.map(_._1))).get(name).foreach { fd =>
            if (fd < dt) {
              record(name, fresh)
              results(name) = fd
            }
            requeued(name) = (dt, fd)
          }
        }
      }
    }

    def r3(v: Double) = math.round(v * 1000) / 1000.0
    // Emission in the same sorted-by-name order as execution.
    val qs = results.toSeq.sortBy(_._1)
      .map { case (k, v) => s"\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val gcs = gcSec.toSeq.sortBy(_._1).filter(_._2 >= 0.05)
      .map { case (k, v) => s"\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val requeues = requeued.map { case (k, (old, fresh)) =>
      s"\"" + k + "\":{\"first\":" + r3(old) + ",\"rerun\":" + r3(fresh) + "}"
    }.mkString("{", ",", "}")
    // Error strings are capped (120 chars each, ≤12 entries shown) and
    // the map goes LAST in the line: three rounds running, the archived
    // BENCH json was truncated mid-errors-map and the per-query timings
    // were lost with it. Small capped errors at the very end can't push
    // the timings past any truncation limit.
    val errs = errors.take(12).map { case (k, v) =>
      s"\"" + k + "\":\"" + v + "\""
    }.mkString("{", ",", "}")
    val streaming = streamSplit.toSeq.sortBy(_._1).map { case (k, (su, ex)) =>
      s"\"" + k + "\":{\"setup\":" + r3(su) + ",\"exec\":" + r3(ex) + "}"
    }.mkString("{", ",", "}")
    val setups = setupSplit.toSeq.sortBy(_._1).map { case (k, (su, mn)) =>
      s"\"" + k + "\":{\"setup\":" + r3(su) + ",\"main\":" + r3(mn) + "}"
    }.mkString("{", ",", "}")
    val harness = r3(streamSplit.values.map(_._1).sum)
    val total = r3(results.values.sum)
    val totalGc = r3(gcSec.values.sum)
    // The headline total appears BOTH first (spec position) and last
    // (duplicated as total_sec): the driver may keep only the tail of
    // this line, and r5's record lost the leading "value" field to that
    // truncation — the trailing copy makes the total indestructible.
    val line = s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","n_queries":${results.size},"n_errors":${errors.size},"harness_sec":$harness,"gc_total_sec":$totalGc,"requeued":$requeues,"streaming":$streaming,"setup_split":$setups,"gc":$gcs,"queries":$qs,"errors":$errs,"total_sec":$total}"""
    // Four rounds running, the archived BENCH json died to stdout noise
    // AFTER the line (state-store shutdown stack traces land past the
    // driver's tail window). Silence logging and stop Spark BEFORE
    // printing so the JSON is the final stdout content, and mirror the
    // line to a committed file as the belt-and-suspenders record.
    spark.sparkContext.setLogLevel("OFF")
    spark.stop()
    // r15 (r14 verdict #2): the mirror filename encodes the core count —
    // the driver re-runs the bench at a lower cpu count and the second
    // run used to OVERWRITE the matched-core mirror, destroying the only
    // full per-query record of the graded 32-core run. The plain name is
    // kept (as a copy) for the default 32-cpu run only, so the
    // prior-round reference scan (priorRecords) still sees exactly the
    // matched-core records.
    def writeMirror(name: String): Unit =
      try java.nio.file.Files.write(
        java.nio.file.Paths.get(name), (line + "\n").getBytes("UTF-8"))
      catch { case _: Throwable => () } // read-only cwd must not kill the print
    writeMirror(s"BENCH_LOCAL_${round}_c$cpus.json")
    if (cpus == "32") writeMirror(s"BENCH_LOCAL_$round.json")
    else System.err.println(s"[bench] BENCH_LOCAL_$round.json not " +
      s"written: SPARK_GRAFT_CPUS=$cpus, not 32")
    println(line)
    // The LAST stdout line is what the driver parses. r15 (r14 verdict
    // #2): it now carries the per-query map too — the driver's PERF
    // per-query channel came back empty two rounds running because the
    // final line held only totals. Field order keeps the headline total
    // first (spec position) AND duplicated at the very end (total_sec),
    // with the per-query map in between; diagnostics (requeues, gc,
    // splits, errors) stay in the full line above and the mirror files.
    println(s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","n_queries":${results.size},"n_errors":${errors.size},"queries":$qs,"mirror":"BENCH_LOCAL_${round}_c$cpus.json","total_sec":$total}""")
  }
}
