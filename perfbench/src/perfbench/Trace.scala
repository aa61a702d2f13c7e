package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans the benchmark writes around its own calls into the engine's
  * modules. Disabled spans cost one branch; enabled spans are kept in
  * memory and written out when the run ends. Parent links follow the
  * calling thread.
  */
final class Trace(val enabled: Boolean) {
  import Trace.Span

  private val ids = new AtomicLong(0L)
  private val current = new ThreadLocal[Long] { override def initialValue(): Long = 0L }
  private val spans = mutable.ArrayBuffer.empty[Span]

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = current.get
      val t0 = System.nanoTime()
      current.set(id)
      try body
      finally {
        current.set(parent)
        val s = Span(id, parent, name, t0, System.nanoTime())
        spans.synchronized(spans += s)
      }
    }

  /** Total duration (ms) of the spans called `name`. */
  def totalMs(name: String): Double =
    spans.synchronized(spans.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e6).sum)

  def count(name: String): Int = spans.synchronized(spans.count(_.name == name))

  def writeJsonl(path: String): Unit = {
    val lines = spans.synchronized(spans.toList).map { s =>
      Json(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs))
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), lines.mkString("", "\n", "\n"))
  }
}

object Trace {
  final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long)
}

/** Layer counters read from Spark's public listener events: jobs,
  * stages and tasks (scheduler), task run/CPU/GC time (executor), scan
  * input and write output (tables), shuffle bytes, waits and spill, and
  * every streaming progress event on the shared bus — including those
  * of queries started from `newSession()` sessions, which a session's
  * own StreamingQueryListener would not see.
  */
final class LayerListener extends SparkListener {
  val c: mutable.Map[String, Double] = mutable.Map.from(Seq(
    "scheduler.jobs", "scheduler.stages_planned", "scheduler.stages", "scheduler.tasks",
    "scheduler.task_launch_wait_ms", "executor.run_ms", "executor.cpu_ms", "executor.gc_ms",
    "tables.input_bytes", "tables.input_records", "tables.output_bytes",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.fetch_wait_ms",
    "shuffle.spill_memory_bytes", "shuffle.spill_disk_bytes", "shuffle.skew").map(_ -> 0.0))
  private val stageSubmitted = mutable.Map.empty[Int, Long]
  private val stageReads = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  val progress: mutable.ArrayBuffer[StreamingQueryProgress] = mutable.ArrayBuffer.empty

  private def add(k: String, v: Double): Unit = c(k) = c(k) + v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    add("scheduler.jobs", 1)
    add("scheduler.stages_planned", e.stageInfos.size)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSubmitted(e.stageInfo.stageId) =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    add("scheduler.stages", 1)
    stageReads.remove(e.stageInfo.stageId).foreach { reads =>
      if (reads.size >= 2) {
        val sorted = reads.sorted
        val median = sorted(sorted.size / 2)
        if (median > 0) c("shuffle.skew") = math.max(c("shuffle.skew"), sorted.last.toDouble / median)
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("scheduler.tasks", 1)
    stageSubmitted.get(e.stageId).foreach { s =>
      add("scheduler.task_launch_wait_ms", math.max(0L, e.taskInfo.launchTime - s).toDouble)
    }
    val m = e.taskMetrics
    if (m != null) {
      add("executor.run_ms", m.executorRunTime.toDouble)
      add("executor.cpu_ms", m.executorCpuTime / 1e6)
      add("executor.gc_ms", m.jvmGCTime.toDouble)
      add("tables.input_bytes", m.inputMetrics.bytesRead.toDouble)
      add("tables.input_records", m.inputMetrics.recordsRead.toDouble)
      add("tables.output_bytes", m.outputMetrics.bytesWritten.toDouble)
      add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
      add("shuffle.spill_memory_bytes", m.memoryBytesSpilled.toDouble)
      add("shuffle.spill_disk_bytes", m.diskBytesSpilled.toDouble)
      stageReads.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty[Long]) +=
        m.shuffleReadMetrics.totalBytesRead
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: StreamingQueryListener.QueryProgressEvent => synchronized(progress += p.progress)
    case _ => ()
  }

  /** Counters after the bus has delivered every posted event. */
  def snapshot(spark: SparkSession): Map[String, Double] = {
    org.apache.spark.perfbench.BusDrain(spark.sparkContext)
    synchronized {
      val m = c.toMap
      m + ("scheduler.stages_skipped" ->
        math.max(0.0, m.getOrElse("scheduler.stages_planned", 0.0) - m.getOrElse("scheduler.stages", 0.0)))
    }
  }
}

/** Catalyst phase times (analysis, optimization, planning) of every
  * action run on the benchmark's main session, from
  * `QueryExecution.tracker`.
  */
final class PhaseListener extends QueryExecutionListener {
  val c: mutable.Map[String, Double] = mutable.Map.from(
    Seq("analysis", "optimization", "planning").map(p => s"catalyst.${p}_ms" -> 0.0))

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    qe.tracker.phases.foreach { case (phase, s) =>
      c(s"catalyst.${phase}_ms") = c.getOrElse(s"catalyst.${phase}_ms", 0.0) + s.durationMs.toDouble
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** Listeners installed for a traced timed phase, removed afterwards. */
final class Tracing(spark: SparkSession) {
  val layers = new LayerListener
  val phases = new PhaseListener
  spark.sparkContext.addSparkListener(layers)
  spark.listenerManager.register(phases)

  def stop(): Map[String, Double] = {
    val m = layers.snapshot(spark)
    spark.sparkContext.removeSparkListener(layers)
    spark.listenerManager.unregister(phases)
    m ++ phases.synchronized(phases.c.toMap)
  }
}
