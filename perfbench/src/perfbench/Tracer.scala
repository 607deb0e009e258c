package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchAccess
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry

/** Span recorder for the traced run. One `query` span per query with
  * `build` and `write` children; Spark jobs (with their stages) hang off
  * whichever of those they ran in, or off the `stream` span of the
  * structured-streaming query that ran them; the write command's
  * `QueryPlanningTracker` phases hang off `write`; micro-batches hang off
  * their `stream`. Spans stay in memory until [[close]].
  *
  * All times are epoch milliseconds. Listener events carry whole
  * milliseconds; harness boundaries carry fractions (see [[Clock]]).
  */
final class Tracer(spark: SparkSession, clock: Clock, out: Path) {
  private val spans = mutable.ArrayBuffer[String]()
  private var nextId = 0L

  private final class Job(val id: Int, val start: Long, val stageIds: Seq[Int],
                          val stream: Option[String], val pin: Boolean) {
    var end: Long = start
    val submitted = mutable.Set[Int]()
  }
  private final class Stage(val info: StageInfo, val taskMs: Seq[Long])
  private final class Stream(val id: String, val start: Double) {
    var end: Double = Double.NaN
    val progress = mutable.ArrayBuffer[org.apache.spark.sql.streaming.StreamingQueryProgress]()
  }

  // Filled from listener threads; read after the bus is drained.
  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stages = mutable.ArrayBuffer[Stage]()
  private val taskMs = mutable.Map[(Int, Int), mutable.ArrayBuffer[Long]]()
  private val phases = mutable.ArrayBuffer[(String, Long, Long, Int)]()
  private val streams = mutable.LinkedHashMap[String, Stream]()
  private var rddBytes = 0L

  private var name = ""
  private var gc0 = 0L
  private var codegen0 = 0L

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock {
      val stream = Option(e.properties).flatMap(p =>
        Option(p.getProperty("sql.streaming.queryId")))
      // A stage's name is its call site: "localCheckpoint at X.scala:N".
      val pin = e.stageInfos.exists(_.name.startsWith("localCheckpoint"))
      jobs(e.jobId) = new Job(e.jobId, e.time, e.stageIds, stream, pin)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = lock {
      jobs.values.find(_.stageIds.contains(e.stageInfo.stageId))
        .foreach(_.submitted += e.stageInfo.stageId)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock {
      taskMs.getOrElseUpdate((e.stageId, e.stageAttemptId),
        mutable.ArrayBuffer[Long]()) += e.taskInfo.duration
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock {
      val i = e.stageInfo
      stages += new Stage(i, taskMs.remove((i.stageId, i.attemptNumber()))
        .map(_.toSeq).getOrElse(Nil))
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = lock {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.isValid) rddBytes += b.memSize + b.diskSize
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      lock {
        val n = Tracer.exchanges(qe.executedPlan)
        qe.tracker.phases.foreach { case (phase, p) =>
          phases += ((phase, p.startTimeMs, p.endTimeMs, if (phase == "planning") n else 0))
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = lock {
      streams(e.id.toString) = new Stream(e.id.toString, clock.nowMs)
    }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = lock {
      streams.get(e.progress.id.toString).foreach(_.progress += e.progress)
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = lock {
      streams.get(e.id.toString).foreach(_.end = clock.nowMs)
    }
  }

  private def lock(body: => Unit): Unit = synchronized(body)

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  private def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(b.getCollectionTime, 0L)).sum

  def beginQuery(q: String): Unit = {
    PerfbenchAccess.drainListenerBus(spark.sparkContext)
    lock {
      jobs.clear(); stages.clear(); taskMs.clear(); phases.clear()
      streams.clear(); rddBytes = 0L
    }
    name = q
    gc0 = gcMs()
    codegen0 = PerfbenchAccess.codegenCompiles
  }

  /** A failed query leaves no spans. */
  def abandonQuery(): Unit = PerfbenchAccess.drainListenerBus(spark.sparkContext)

  def endQuery(t0: Double, t1: Double, t2: Double): Unit = {
    val gc = gcMs() - gc0
    val compiles = PerfbenchAccess.codegenCompiles - codegen0
    PerfbenchAccess.drainListenerBus(spark.sparkContext)
    lock {
      val replay = SparkEntry.replayStats.values
      val qid = span("query", name, -1, t0, t2, Seq(
        "gc_ms" -> gc, "codegen_compiles" -> compiles, "rdd_block_bytes" -> rddBytes,
        "replay_stage_s" -> replay.map(_._1).sum,
        "replay_wall_s" -> replay.map(_._2).sum))
      val bid = span("build", name, qid, t0, t1, Nil)
      val wid = span("write", name, qid, t1, t2, Nil)
      val streamSpan = streams.values.map { st =>
        val ps = st.progress
        def dur(k: String) = ps.flatMap(p => Option(p.durationMs.get(k))).map(_.longValue).sum
        val ops = ps.flatMap(_.stateOperators)
        // State size is the last batch's, summed over the operators.
        val last = ps.lastOption.map(_.stateOperators.toSeq).getOrElse(Nil)
        val end = if (st.end.isNaN) t1 else st.end
        val sid = span("stream", name, bid, st.start, end, Seq(
          "batches" -> ps.size, "add_batch_ms" -> dur("addBatch"),
          "wal_ms" -> (dur("walCommit") + dur("commitOffsets")),
          "state_commit_ms" -> ops.map(_.commitTimeMs).sum,
          "state_rows" -> last.map(_.numRowsTotal).sum,
          "state_bytes" -> last.map(_.memoryUsedBytes).sum))
        ps.foreach { p =>
          val s = Instant.parse(p.timestamp).toEpochMilli.toDouble
          val d = Option(p.durationMs.get("triggerExecution")).map(_.doubleValue).getOrElse(0.0)
          span("batch", name, sid, s, s + d, Seq(
            "add_batch_ms" -> Option(p.durationMs.get("addBatch")).map(_.longValue).getOrElse(0L),
            "input_rows" -> p.numInputRows))
        }
        st.id -> sid
      }.toMap
      val jobSpan = jobs.values.map { j =>
        val parent = j.stream.flatMap(streamSpan.get)
          .getOrElse(if (j.start < t1) bid else wid)
        j.id -> span("job", name, parent, j.start, j.end, Seq(
          "stages_skipped" -> (j.stageIds.size - j.submitted.size),
          "pin" -> (if (j.pin) 1 else 0)))
      }.toMap
      stages.foreach { s =>
        val i = s.info
        def m(f: TaskMetrics => Long): Long = Option(i.taskMetrics).map(f).getOrElse(0L)
        val parent = jobs.values.find(_.stageIds.contains(i.stageId))
          .flatMap(j => jobSpan.get(j.id)).getOrElse(qid)
        val sorted = s.taskMs.sorted
        val straggler =
          if (sorted.isEmpty) 0L else sorted.last - sorted(sorted.size / 2)
        span("stage", name, parent,
          i.submissionTime.getOrElse(0L).toDouble, i.completionTime.getOrElse(0L).toDouble, Seq(
            "tasks" -> i.numTasks,
            "task_run_ms" -> m(_.executorRunTime),
            "task_cpu_ns" -> m(_.executorCpuTime),
            "straggler_ms" -> straggler,
            "shuffle_write_bytes" -> m(_.shuffleWriteMetrics.bytesWritten),
            "shuffle_read_bytes" -> m(_.shuffleReadMetrics.totalBytesRead),
            "spill_bytes" -> m(t => t.memoryBytesSpilled + t.diskBytesSpilled),
            "input_rows" -> m(_.inputMetrics.recordsRead),
            "input_bytes" -> m(_.inputMetrics.bytesRead)))
      }
      // Planning phases of actions run by the write; actions a builder
      // runs itself are construction work and stay inside `build`.
      phases.filter { case (phase, s, _, _) => phase != "parsing" && s >= t1 - 1 }
        .foreach { case (phase, s, e, n) => span("phase", phase, wid, s, e, Seq("exchanges" -> n)) }
    }
  }

  private def span(kind: String, spanName: String, parent: Long, start: Double,
                   end: Double, attrs: Seq[(String, AnyVal)]): Long = {
    nextId += 1
    val a = attrs.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    spans += s"""{"id":$nextId,"parent":$parent,"kind":"$kind","name":${Harness.q(spanName)},"start":$start,"end":$end,"attrs":$a}"""
    nextId
  }

  /** Writes every span recorded so far, one JSON object a line. */
  def close(): Unit =
    Files.write(out.resolve("spans.jsonl"), spans.asJava)
}

object Tracer {
  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
  import org.apache.spark.sql.execution.exchange.Exchange

  /** Shuffle and broadcast exchanges in an executed plan (the final
    * adaptive plan where AQE ran; reused exchanges are not counted). */
  def exchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case s: QueryStageExec => exchanges(s.plan)
    case e: Exchange => 1 + e.children.map(exchanges).sum
    case other => (other.children ++ other.subqueries).map(exchanges).sum
  }
}
