package perfbench

import scala.collection.mutable

/** An output with an oracle: `sql` (DuckDB dialect) over the generated
  * tables, or over the taxi slice's events when `slice`. The oracle's
  * answers are digested once into `perfbench/expected.json`.
  */
final case class Check(name: String, sql: String, slice: Boolean)

/** A workload: an untimed set-up that warms the JVM, the code caches and
  * the engine's fixture caches, then a timed phase of whole units
  * (passes or drains). Every op reports the digest of its output.
  */
trait Workload {
  def setup(rec: Record): Unit

  /** Units that fill about `seconds` at the seed commit on a 4-core
    * machine; at least one. A fixed count, so every run does the same work.
    */
  def units(seconds: Double): Int

  def measure(units: Int, trace: Trace, rec: Record): Unit

  /** Removes the workload's own scratch files. */
  def close(): Unit = ()

  /** Per-layer metrics the workload derives from streaming progress
    * (zero for a workload that runs no stream).
    */
  def streamingLayers(progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]): Map[String, Double] =
    Workload.StreamingLayers.map(_ -> 0.0).toMap
}

object Workload {
  val StreamingLayers: Seq[String] = Seq(
    "streaming.batches", "streaming.useful_batch_ratio", "streaming.input_rows",
    "streaming.query_planning_ms", "streaming.wal_commit_ms", "streaming.commit_offsets_ms",
    "streaming.latest_offset_ms", "streaming.add_batch_ms", "streaming.trigger_ms",
    "state.rows_total", "state.memory_bytes", "state.rows_updated", "state.update_ms",
    "state.removal_ms", "state.commit_ms", "state.rows_dropped_by_watermark",
    "checkpoint.files", "checkpoint.bytes")
}

/** Samples of one phase: ops with their output digests, latency
  * samples and unit walls. Whether an op's output is right is decided
  * by run.py against the expected digests.
  */
final class Record {
  var attempted = 0
  val failures: mutable.ArrayBuffer[(String, String)] = mutable.ArrayBuffer.empty
  val samplesMs: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
  val ops: mutable.ArrayBuffer[Map[String, Any]] = mutable.ArrayBuffer.empty
  val walls: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
  val extra: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty

  /** An op that returned; `latencyMs` is its latency sample, if it is one. */
  def op(name: String, latencyMs: Option[Double], out: Fingerprint): Unit = synchronized {
    attempted += 1
    ops += Map("op" -> name, "ms" -> latencyMs, "fp" -> out.toMap)
  }

  def fail(name: String, why: String): Unit = synchronized {
    attempted += 1
    failures += name -> why
    Console.err.println(s"[perfbench] FAILED $name: $why")
  }

  def fail(name: String, e: Throwable): Unit = fail(name, e.toString)

  def wall(seconds: Double): Unit = synchronized(walls += seconds)

  def toMap: Map[String, Any] = synchronized(Map(
    "attempted" -> attempted,
    "failures" -> failures.map { case (n, w) => Map("op" -> n, "error" -> w) }.toList,
    "samples_ms" -> samplesMs.toList,
    "ops" -> ops.toList,
    "walls_s" -> walls.toList) ++ extra)
}
