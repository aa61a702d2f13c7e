package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.UUID

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.queries.TaxiQueries
import graft.streaming.{CellEvent, KeyedUpsertSink, RideEvent, TaxiPipelines, TaxiReplay}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.StateStoreBridge
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

/** `taxi_replay`: the reference's three keyed pipelines — running
  * totals (Update mode into a keyed upsert sink), 15/5-minute sliding
  * windows (Append) and early-firing windows — over the seeded
  * out-of-order ride feed, in two phases:
  *
  *  - paced: an open loop that feeds fixed-size chunks of the serving-
  *    ordered slice at absolute deadlines [[PacedBatchMs]] apart, so a
  *    stall delays later chunks instead of slowing the feed. Each
  *    chunk's result latency runs from its deadline to the end of the
  *    micro-batch that consumed it. This exposes the per-micro-batch
  *    floor.
  *  - backlog: a closed loop that drains the whole feed from
  *    [[BacklogChunks]] large gz JSONL chunks, exposing the per-row
  *    state and aggregation work.
  *
  * The early-firing pipeline is fed in event-time order, the order its
  * fire sequence is defined against; the other two get the seeded
  * serving delays. Outputs are checked against the batch twins'
  * oracles over the same events.
  */
final class TaxiWorkload(
    spark: SparkSession,
    dataDir: String,
    sliceDir: String,
    workDir: String,
    seed: Long) extends Workload {
  import TaxiWorkload._

  private var full: Seq[RideEvent] = Nil
  private var sliceOoo: Vector[Seq[RideEvent]] = Vector.empty
  private var sliceOrd: Vector[Seq[RideEvent]] = Vector.empty
  private var sliceSentinel: RideEvent = _
  private var backlogDirs: Map[String, String] = Map.empty
  private val phaseOf = mutable.Map.empty[UUID, String]
  private val ckptStats = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  /** Replay sessions: a `newSession()` per replay with the engine's
    * replay-session settings (2 state partitions, no no-data batches,
    * the java.nio checkpoint manager, no checkpoint checksums, 1 ms
    * polling), and enough retained progress for the latency join.
    */
  private def streamSession(): SparkSession = {
    val ss = spark.newSession()
    Seq(
      "spark.sql.shuffle.partitions" -> "2",
      "spark.sql.streaming.noDataMicroBatches.enabled" -> "false",
      "spark.sql.streaming.checkpointFileManagerClass" ->
        "org.apache.spark.sql.graftbridge.NioCheckpointFileManager",
      "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false",
      "spark.sql.streaming.pollingDelay" -> "1ms",
      "spark.sql.streaming.numRecentProgressUpdates" -> "10000"
    ).foreach { case (k, v) => ss.conf.set(k, v) }
    ss
  }

  /** The three pipelines of one replay, with benchmark-owned
    * checkpoint and sink directories under the work dir.
    */
  private final class Pipelines(ss: SparkSession, phase: String, trace: Trace) {
    private val id = UUID.randomUUID().toString.replace("-", "")
    private val ckpt = Seq("total", "sliding", "early").map(p => p -> s"$workDir/ckpt/$id-$p").toMap
    private val sink = new KeyedUpsertSink(Seq("cell"), s"$workDir/sink/$id")
    private val slidingName = s"perfbench_sliding_$id"
    private val earlyName = s"perfbench_early_$id"
    var queries: Seq[StreamingQuery] = Nil

    def start(total: DataFrame, sliding: DataFrame, early: DataFrame): Unit = {
      import ss.implicits._
      def started(q: => StreamingQuery): StreamingQuery = {
        val s = trace.span("streaming.query_start")(q)
        phaseOf.synchronized(phaseOf(s.runId) = phase)
        s
      }
      val qt = started(TaxiPipelines.totalArrivalCount(total, Watermark)
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckpt("total"))
        .foreachBatch { (batch: DataFrame, batchId: Long) => sink.upsert(batch, batchId) }
        .start())
      val qs = started(TaxiPipelines.slidingArrivalCount(sliding, Watermark)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt("sliding"))
        .format("memory").queryName(slidingName).start())
      val qe = started(TaxiPipelines.earlyArrivalCount(
          TaxiPipelines.cellEvents(early, Watermark).as[CellEvent], EarlyThreshold)
        .toDF().writeStream.outputMode("append")
        .option("checkpointLocation", ckpt("early"))
        .format("memory").queryName(earlyName).start())
      queries = Seq(qt, qs, qe)
    }

    def awaitAll(): Unit = queries.foreach(_.processAllAvailable())

    def outputs: Seq[(String, DataFrame)] = Seq(
      "total" -> sink.toDF(ss),
      // the zero-weight flush sentinel's windows carry cnt = 0
      "sliding" -> ss.table(slidingName).filter(col("cnt") > 0),
      "early" -> ss.table(earlyName).filter(!col("isFinal"))
        .select(col("cell"), col("wEndMs").as("w_end_ms"),
          // early fire sums strictly increase within a pane, so cnt
          // order is fire order
          row_number().over(Window.partitionBy(col("cell"), col("wEndMs")).orderBy(col("cnt")))
            .cast("long").as("seq"),
          col("cnt").as("early_cnt")))

    def stopAndClean(): Unit = {
      queries.foreach(_.stop())
      if (trace.enabled) {
        val files = ckpt.values.toSeq.flatMap(d => walk(Paths.get(d)))
        ckptStats.synchronized {
          ckptStats(s"$phase.files") += files.size
          ckptStats(s"$phase.bytes") += files.map(f => Files.size(f).toDouble).sum
          ckptStats(s"$phase.replays") += 1
        }
      }
      sink.close()
      ckpt.values.foreach(d => deleteTree(Paths.get(d)))
      queries.foreach(q => StateStoreBridge.unloadQuery(q.runId))
    }
  }

  /** One op per pipeline output: its digest, checked by run.py. */
  private def report(phase: String, p: Pipelines, rec: Record): Unit =
    p.outputs.foreach { case (n, df) =>
      val name = s"taxi_${phase}_$n"
      try rec.op(name, None, Fingerprint.of(df)) catch { case NonFatal(e) => rec.fail(name, e) }
    }

  def setup(rec: Record): Unit = {
    full = TaxiReplay.ridesFromEvents(spark, dataDir).collect().toSeq
    val slice = TaxiReplay.ridesFromEvents(spark, sliceDir).collect().toSeq
    val chunk = math.ceil(slice.size.toDouble / PacedChunks).toInt
    sliceOoo = TaxiReplay.servingOrder(slice, MaxDelayMs, seed).grouped(chunk).toVector
    sliceOrd = TaxiReplay.servingOrder(slice, 0L, seed).grouped(chunk).toVector
    sliceSentinel = TaxiReplay.sentinelAfter(slice)
    val ooo = TaxiReplay.servingOrder(full, MaxDelayMs, seed)
    val sentinel = TaxiReplay.sentinelAfter(full)
    backlogDirs = Map(
      "total" -> TaxiReplay.writeJsonlChunks(ooo, BacklogChunks),
      "sliding" -> TaxiReplay.writeJsonlChunks(ooo :+ sentinel, BacklogChunks, flushChunk = Seq(sentinel)),
      "early" -> TaxiReplay.writeJsonlChunks(TaxiReplay.servingOrder(full, 0L, seed), BacklogChunks))
    val off = new Trace(false)
    // warm-up: a closed-loop replay of the first chunks, then one drain
    paced(off, rec, pace = false, chunks = WarmChunks)
    drain(off, rec)
  }

  /** The paced replay, then as many drains as fit in the rest. */
  def units(seconds: Double): Int =
    math.max(1, ((seconds - PacedChunks * PacedBatchMs / 1000.0) / DrainSeconds).toInt)

  def measure(units: Int, trace: Trace, rec: Record): Unit = {
    trace.span("taxi.paced")(paced(trace, rec, pace = true, chunks = sliceOoo.size))
    for (_ <- 0 until units) rec.wall(trace.span("taxi.backlog")(drain(trace, rec)))
    rec.extra("events") = full.size
  }

  /** One paced replay of the slice; records per-chunk result latency,
    * generator lag and the largest backlog of fed-but-unconsumed chunks.
    */
  private def paced(trace: Trace, rec: Record, pace: Boolean, chunks: Int): Unit = {
    val ss = streamSession()
    val (msT, dfT) = TaxiReplay.memoryStream(ss)
    val (msS, dfS) = TaxiReplay.memoryStream(ss)
    val (msE, dfE) = TaxiReplay.memoryStream(ss)
    val p = new Pipelines(ss, "paced", trace)
    try {
      p.start(dfT, dfS, dfE)
      val lags = mutable.ArrayBuffer.empty[Double]
      var maxBacklog = 0L
      val startNs = System.nanoTime()
      val startMs = System.currentTimeMillis()
      for (k <- 0 until chunks) {
        val deadline = startNs + (k + 1) * PacedBatchMs * 1000000L
        if (pace) {
          val sleepNs = deadline - System.nanoTime()
          if (sleepNs > 0) Thread.sleep(sleepNs / 1000000L, (sleepNs % 1000000L).toInt)
        }
        trace.span("taxi.feed") {
          msT.addData(sliceOoo(k)); msS.addData(sliceOoo(k)); msE.addData(sliceOrd(k))
        }
        if (pace) {
          lags += (System.nanoTime() - deadline) / 1e6
          maxBacklog = math.max(maxBacklog, p.queries.map(q => k + 1 - consumed(q)).max)
        } else p.awaitAll()
      }
      p.awaitAll()
      // flush the sliding windows: the sentinel advances the watermark,
      // a second micro-batch applies it
      msS.addData(Seq(sliceSentinel)); p.awaitAll()
      msS.addData(Seq(sliceSentinel)); p.awaitAll()
      if (pace) {
        p.queries.foreach { q =>
          val done = q.recentProgress.toSeq.sortBy(_.timestamp).map(pr => endOffset(pr) -> completionMs(pr))
          for (k <- 0 until chunks) done.find(_._1 >= k) match {
            case Some((_, at)) => rec.samplesMs += at - (startMs + (k + 1) * PacedBatchMs)
            case None => rec.fail(s"paced_chunk_$k", s"chunk $k never consumed by ${q.name}")
          }
        }
        rec.extra("generator_lag_ms") = lags.toList
        rec.extra("backlog_max_chunks") = maxBacklog
        report("paced", p, rec)
      }
    } catch { case NonFatal(e) => rec.fail("taxi_paced", e) }
    finally p.stopAndClean()
  }

  /** Drains the whole feed through all three pipelines; returns the wall
    * time (s) from the first query start to the last query caught up.
    */
  private def drain(trace: Trace, rec: Record): Double = {
    val ss = streamSession()
    val p = new Pipelines(ss, "backlog", trace)
    try {
      val t0 = System.nanoTime()
      p.start(TaxiReplay.openJsonlStream(ss, backlogDirs("total")),
        TaxiReplay.openJsonlStream(ss, backlogDirs("sliding")),
        TaxiReplay.openJsonlStream(ss, backlogDirs("early")))
      p.awaitAll()
      val wall = (System.nanoTime() - t0) / 1e9
      report("backlog", p, rec)
      wall
    } catch { case NonFatal(e) => rec.fail("taxi_backlog", e); Double.NaN }
    finally p.stopAndClean()
  }

  override def close(): Unit = backlogDirs.values.foreach(d => deleteTree(Paths.get(d)))

  override def streamingLayers(progress: Seq[StreamingQueryProgress]): Map[String, Double] = {
    def phase(pr: StreamingQueryProgress) = phaseOf.synchronized(phaseOf.get(pr.runId))
    def dur(pr: StreamingQueryProgress, k: String): Double =
      Option(pr.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
    def ops(pr: StreamingQueryProgress) = pr.stateOperators.toSeq
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val paced = progress.filter(phase(_).contains("paced"))
    val backlog = progress.filter(phase(_).contains("backlog"))
    val drains = math.max(1.0, backlog.map(_.runId).distinct.size / 3.0)
    val lastPerQuery = backlog.groupBy(_.runId).values.map(_.maxBy(_.batchId)).toSeq
    val replays = math.max(1.0, ckptStats("paced.replays"))
    Map(
      "streaming.batches" -> paced.size.toDouble,
      "streaming.useful_batch_ratio" ->
        (if (paced.isEmpty) 0.0 else paced.count(_.numInputRows > 0).toDouble / paced.size),
      "streaming.input_rows" -> paced.map(_.numInputRows.toDouble).sum,
      "streaming.query_planning_ms" -> mean(paced.map(dur(_, "queryPlanning"))),
      "streaming.wal_commit_ms" -> mean(paced.map(dur(_, "walCommit"))),
      "streaming.commit_offsets_ms" -> mean(paced.map(dur(_, "commitOffsets"))),
      "streaming.latest_offset_ms" -> mean(paced.map(dur(_, "latestOffset"))),
      "streaming.add_batch_ms" -> backlog.map(dur(_, "addBatch")).sum / drains,
      "streaming.trigger_ms" -> backlog.map(dur(_, "triggerExecution")).sum / drains,
      "state.rows_total" -> lastPerQuery.flatMap(ops).map(_.numRowsTotal.toDouble).sum / drains,
      "state.memory_bytes" -> lastPerQuery.flatMap(ops).map(_.memoryUsedBytes.toDouble).sum / drains,
      "state.rows_updated" -> backlog.flatMap(ops).map(_.numRowsUpdated.toDouble).sum / drains,
      "state.update_ms" -> backlog.flatMap(ops).map(_.allUpdatesTimeMs.toDouble).sum / drains,
      "state.removal_ms" -> backlog.flatMap(ops).map(_.allRemovalsTimeMs.toDouble).sum / drains,
      "state.commit_ms" -> mean(paced.map(ops(_).map(_.commitTimeMs.toDouble).sum)),
      "state.rows_dropped_by_watermark" -> progress.flatMap(ops).map(_.numRowsDroppedByWatermark.toDouble).sum,
      "checkpoint.files" -> ckptStats("paced.files") / replays,
      "checkpoint.bytes" -> ckptStats("paced.bytes") / replays)
  }
}

object TaxiWorkload {
  val MaxDelayMs = 60000L // the reference's maxDelaySecs
  val Watermark = "60 seconds"
  val EarlyThreshold = 3
  val PacedChunks = 12
  val PacedBatchMs = 600L
  val WarmChunks = 2
  val BacklogChunks = 4
  val DrainSeconds = 3.0

  /** Each pipeline's batch twin, over the same events. */
  def checks: Seq[Check] = {
    val twins = Seq(
      "total" -> TaxiQueries.oracleSql("taxi_total_count"),
      "sliding" -> TaxiQueries.oracleSql("taxi_sliding_count"),
      "early" -> TaxiQueries.earlyFiresSql(EarlyThreshold))
    for ((phase, slice) <- Seq("paced" -> true, "backlog" -> false); (p, sql) <- twins)
      yield Check(s"taxi_${phase}_$p", sql, slice)
  }

  private def endOffset(p: StreamingQueryProgress): Long =
    p.sources.headOption.flatMap(s => Option(s.endOffset)).map(_.trim.toLong).getOrElse(-1L)

  private def completionMs(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble +
      Option(p.durationMs.get("triggerExecution")).map(_.toDouble).getOrElse(0.0)

  /** Chunks a query has consumed: its last completed end offset + 1. */
  private def consumed(q: StreamingQuery): Long =
    Option(q.lastProgress).map(endOffset(_) + 1).getOrElse(0L)

  private def walk(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
    }

  private def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.iterator().asScala.toList.reverse.foreach(p => Files.deleteIfExists(p)) finally s.close()
    }
}
