package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** JVM side of the benchmark (driven by perfbench/run.py).
  *
  * Runs one workload's queries from `SparkEntry.queries` one at a time in
  * a closed loop (one client), each into the noop sink, and writes what
  * it measured to `<out>/result.json`. It never calls into the library
  * except through `SparkEntry.queries(name)(spark, dir)`, the write, and
  * the `replayStats` map; everything else comes from Spark's public
  * listener APIs.
  *
  * Phases: set-up three times (session, `Graft.register`, table warm-up;
  * the median is reported), one cold pass, one untimed pass that dumps
  * each query's rows for the DuckDB oracle check and reads the post-GC
  * heap, one untimed warm-up pass, then warm passes until `seconds`
  * have passed (whole passes only, at least two).
  * With `trace`, warm passes alternate untraced/traced and the traced
  * ones record spans to `<out>/spans.jsonl`.
  *
  * Usage: Harness <workload> <dataDir> <outDir> <seconds> <trace 0|1> <cpus>
  */
object Harness {

  private val setupReps = 3

  def main(args: Array[String]): Unit = {
    val Array(workload, dataDir, outDir, secondsArg, traceArg, cpusArg) = args
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    val cpus = cpusArg.toInt
    val out = Paths.get(outDir)
    Files.createDirectories(out)
    val clock = new Clock

    // ---------------------------------------------------------- set-up
    val procStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val setupS = mutable.ArrayBuffer[Double]()
    var spark: SparkSession = null
    for (i <- 0 until setupReps) {
      if (spark != null) spark.stop()
      val t0 = if (i == 0) procStart else clock.nowMs
      spark = newSession(cpus, outDir)
      spark.sparkContext.setLogLevel("WARN")
      graft.functions.Graft.register(spark)
      Workloads.tables(workload).foreach(t => spark.read.parquet(s"$dataDir/$t.parquet").count())
      setupS += (clock.nowMs - t0) / 1e3
    }
    val session = spark

    val queries = Workloads(workload)
    val builders = SparkEntry.queries
    val oracles = SparkEntry.oracleSql
    val errors = mutable.LinkedHashMap[String, String]()

    def runOne(name: String, tracer: Option[Tracer]): Option[Double] = {
      SparkEntry.replayStats.clear()
      tracer.foreach(_.beginQuery(name))
      val t0 = clock.nowMs
      try {
        val df = builders(name)(session, dataDir)
        val t1 = clock.nowMs
        df.write.format("noop").mode("overwrite").save()
        val t2 = clock.nowMs
        tracer.foreach(_.endQuery(t0, t1, t2))
        Some((t2 - t0) / 1e3)
      } catch {
        case e: Throwable =>
          tracer.foreach(_.abandonQuery())
          errors.getOrElseUpdate(name, oneLine(e))
          None
      }
    }

    // ------------------------------------------------------ cold pass
    val coldT0 = clock.nowMs
    queries.foreach(runOne(_, None))
    val coldPassS = (clock.nowMs - coldT0) / 1e3

    // ------------------------------------- oracle dump and heap probe
    // Untimed. It also lets the JIT finish what the cold pass started:
    // the first pass after the cold one ran 10-30% slower than the next.
    val mem = ManagementFactory.getMemoryMXBean
    var heapPeak = 0L
    val dumped = mutable.ArrayBuffer[String]()
    queries.foreach { name =>
      SparkEntry.replayStats.clear()
      try {
        val df = builders(name)(session, dataDir)
        if (oracles.contains(name)) {
          df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/dump/$name")
          dumped += name
        } else df.write.format("noop").mode("overwrite").save()
        // Post-GC heap while the query's DataFrame (and with it any
        // pinned blocks and loaded state stores) is still reachable. The
        // second collection follows Spark's ContextCleaner, which drops
        // earlier queries' shuffle and broadcast state only after the
        // first one; reading after one GC varied by 15% between runs.
        System.gc()
        Thread.sleep(100)
        System.gc()
        heapPeak = math.max(heapPeak, mem.getHeapMemoryUsage.getUsed)
        java.lang.ref.Reference.reachabilityFence(df)
      } catch {
        case e: Throwable => errors.getOrElseUpdate(name, oneLine(e))
      }
    }

    // One more untimed pass, through the same noop write the timed
    // passes use: the JIT is still compiling after the dump pass, and a
    // timed first warm pass ran 10-25% slower than the ones after it.
    queries.foreach(runOne(_, None))

    // ---------------------------------------------------- warm passes
    val tracer = if (trace) Some(new Tracer(session, clock, out)) else None
    val samples = mutable.ArrayBuffer[(String, Double, Int)]()
    val passes = mutable.ArrayBuffer[(Boolean, Double, Int)]()
    val warmT0 = clock.nowMs
    var pass = 0
    // Whole passes until `seconds` have passed, and at least two, so a
    // traced run always has an untraced and a traced pass.
    while ((clock.nowMs - warmT0) / 1e3 < seconds || pass < 2) {
      val traced = trace && pass % 2 == 1
      if (traced) tracer.foreach(_.attach()) else tracer.foreach(_.detach())
      val p0 = clock.nowMs
      var n = 0
      queries.foreach { q =>
        runOne(q, if (traced) tracer else None).foreach { s =>
          samples += ((q, s, pass)); n += 1
        }
      }
      passes += ((traced, (clock.nowMs - p0) / 1e3, n))
      pass += 1
    }
    tracer.foreach { t => t.detach(); t.close() }
    val warmS = (clock.nowMs - warmT0) / 1e3

    val json = new StringBuilder("{")
    json ++= s""""workload":${q(workload)},"cpus":$cpus,"""
    json ++= s""""queries":${queries.map(q).mkString("[", ",", "]")},"""
    json ++= s""""setup_s":${setupS.mkString("[", ",", "]")},"""
    json ++= s""""cold_pass_s":$coldPassS,"warm_s":$warmS,"""
    json ++= s""""passes":${passes.map { case (t, w, n) =>
      s"""{"traced":$t,"wall_s":$w,"n":$n}""" }.mkString("[", ",", "]")},"""
    json ++= s""""samples":${samples.map { case (n, s, p) =>
      s"""[${q(n)},$s,$p]""" }.mkString("[", ",", "]")},"""
    json ++= s""""heap_live_peak_mb":${heapPeak / 1048576.0},"""
    json ++= s""""dumped":${dumped.map(q).mkString("[", ",", "]")},"""
    json ++= s""""oracle_sql":${queries.filter(oracles.contains)
      .map(n => s"${q(n)}:${q(oracles(n))}").mkString("{", ",", "}")},"""
    json ++= s""""errors":${errors.map { case (k, v) => s"${q(k)}:${q(v)}" }
      .mkString("{", ",", "}")}}"""
    Files.writeString(out.resolve("result.json"), json.toString)
    session.sparkContext.setLogLevel("OFF")
    session.stop()
  }

  def newSession(cpus: Int, outDir: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$outDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$outDir/warehouse")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()

  def oneLine(e: Throwable): String =
    String.valueOf(e).replaceAll("\\s+", " ").take(300)

  /** JSON string literal. */
  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** Wall clock in epoch milliseconds with nanoTime resolution, so harness
  * spans line up with the epoch-millisecond times Spark's events carry. */
final class Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}
