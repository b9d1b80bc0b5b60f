package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The traced run's instruments: an in-memory span tree (run -> pass ->
  * face/kernel -> build/plan/exec) and listeners whose job, stage, task
  * and streaming-progress counts land on the face whose span tagged the
  * job (local property [[Probe.SpanKey]]). */
final class Probe(sc: SparkContext, runId: String) {
  private val epochNs0 = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()
  private def nowNs = epochNs0 + (System.nanoTime() - nano0)

  private final case class Span(id: Long, parent: Long, kind: String,
      name: String, start: Long, var end: Long = -1L)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private var nextId = 1L
  private val root = newSpan("run", runId)

  private def newSpan(kind: String, name: String): Span = {
    val s = Span(nextId, stack.headOption.map(_.id).getOrElse(0L), kind,
      name, nowNs)
    nextId += 1
    spans += s
    s
  }

  def open(kind: String, name: String): Unit = {
    if (stack.isEmpty) stack.push(root)
    val s = newSpan(kind, name)
    stack.push(s)
    if (kind == "face" || kind == "kernel") {
      counters.remove(name)
      streamFace = name
      sc.setLocalProperty(Probe.SpanKey, name)
    }
  }

  def close(): Unit = stack.pop().end = nowNs

  /** Close every span up to and including the face/kernel span `name`
    * (an exception may leave build/exec open). */
  def closeAll(name: String): Unit = {
    var done = false
    while (!done && stack.size > 1) {
      val s = stack.pop()
      s.end = nowNs
      done = (s.kind == "face" || s.kind == "kernel") && s.name == name
    }
    sc.setLocalProperty(Probe.SpanKey, null)
  }

  /** The optimizer and planner phases of the face's final DataFrame, as a
    * child span of the face. */
  def planSpan(name: String,
      phases: Map[String, QueryPlanningTracker.PhaseSummary]): Unit = {
    val ps = Seq("optimization", "planning").flatMap(phases.get)
    if (ps.nonEmpty) {
      val face = spans.reverseIterator
        .find(s => s.name == name && (s.kind == "face" || s.kind == "kernel"))
      spans += Span(nextId, face.map(_.id).getOrElse(0L), "plan", name,
        ps.map(_.startTimeMs).min * 1000000L,
        ps.map(_.endTimeMs).max * 1000000L)
      nextId += 1
    }
  }

  // ---- listener counters, keyed by face/kernel name ----
  private val counters = new java.util.concurrent.ConcurrentHashMap[
    String, mutable.Map[String, Double]]
  private val stageSpan =
    new java.util.concurrent.ConcurrentHashMap[Int, String]

  private def add(span: String, kvs: (String, Double)*): Unit =
    if (span != null) {
      val m = counters.computeIfAbsent(span,
        _ => mutable.Map.empty[String, Double].withDefaultValue(0.0))
      m.synchronized(kvs.foreach { case (k, v) => m(k) += v })
    }

  private def spanOf(p: java.util.Properties): String =
    if (p == null) null else p.getProperty(Probe.SpanKey)

  /** Streaming progress lands on the face open when the event is
    * delivered: the bus is drained at every face boundary, and the faces
    * run their queries on child sessions, so only the context-wide bus
    * sees them (as `onOtherEvent`). */
  @volatile private var streamFace: String = null

  private val listener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case q: StreamingQueryListener.QueryProgressEvent =>
        val p = q.progress
        val d = p.durationMs
        def ms(k: String): Double =
          if (d.containsKey(k)) d.get(k).doubleValue else 0.0
        add(streamFace, "stream_batches" -> 1,
          "stream_trigger_ms" -> ms("triggerExecution"),
          "stream_add_batch_ms" -> ms("addBatch"),
          "stream_query_planning_ms" -> ms("queryPlanning"),
          "stream_wal_commit_ms" -> ms("walCommit"),
          "stream_commit_offsets_ms" -> ms("commitOffsets"),
          "stream_latest_offset_ms" -> ms("latestOffset"),
          "stream_state_rows" ->
            p.stateOperators.map(_.numRowsTotal.toDouble).sum,
          "stream_state_commit_ms" ->
            p.stateOperators.map(_.commitTimeMs.toDouble).sum)
      case _ =>
    }

    override def onJobStart(e: SparkListenerJobStart): Unit =
      add(spanOf(e.properties), "jobs" -> 1)

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val s = spanOf(e.properties)
      if (s != null) {
        stageSpan.put(e.stageInfo.stageId, s)
        add(s, "stages" -> 1)
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stageSpan.get(e.stageId)
      val m = e.taskMetrics
      if (s != null && m != null) {
        val info = e.taskInfo
        val delay = math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          info.gettingResultTime)
        add(s, "tasks" -> 1, "sched_delay_ms" -> delay.toDouble,
          "run_ms" -> m.executorRunTime.toDouble,
          "cpu_ns" -> m.executorCpuTime.toDouble,
          "gc_ms" -> m.jvmGCTime.toDouble,
          "shuffle_write_b" -> m.shuffleWriteMetrics.bytesWritten.toDouble,
          "shuffle_read_b" -> m.shuffleReadMetrics.totalBytesRead.toDouble,
          "spill_mem_b" -> m.memoryBytesSpilled.toDouble,
          "spill_disk_b" -> m.diskBytesSpilled.toDouble,
          "bytes_read" -> m.inputMetrics.bytesRead.toDouble)
      }
    }
  }

  def attach(): Unit = sc.addSparkListener(listener)

  def detach(): Unit = {
    Bus.drain(sc)
    sc.removeSparkListener(listener)
  }

  /** The listener totals of one face execution (drains the bus first). */
  def countersOf(name: String): Map[String, Double] = {
    Bus.drain(sc)
    val m = counters.remove(name)
    if (m == null) Map.empty else m.synchronized(m.toMap)
  }

  def writeSpans(path: Path): Unit = {
    root.end = nowNs
    val lines = spans.map(s => Json.render(mutable.LinkedHashMap(
      "run" -> runId, "id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
      "name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end)))
    Files.write(path, lines.mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8))
  }
}

object Probe {
  val SpanKey = "perfbench.span"
}
