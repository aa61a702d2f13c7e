package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One benchmark run in a fresh JVM. It sets up the workload (untimed
  * warm-up), measures a timed phase with tracing off, and with
  * `--trace 1` repeats the same units with listeners and spans on to
  * collect the per-layer numbers. The raw samples and output digests go
  * to `--out` as JSON; `perfbench/run.py` turns them into metrics and
  * checks the digests.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *     --data <dir> --slice <dir> --work <dir> --out <file> --cpus <n>
  *
  * Two helper modes serve `perfbench/refresh_expected.py`:
  *   perfbench.Main --checks <file>        every oracle check, as JSON
  *   perfbench.Main --digest <dir> --out <file> --cpus <n>
  *                                         digests of <dir>/<name>/ parquet
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    if (opt.contains("checks")) writeChecks(opt("checks"))
    else if (opt.contains("digest")) digest(opt("digest"), opt("out"), opt("cpus").toInt)
    else run(opt)
  }

  private def session(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def writeChecks(out: String): Unit = {
    val all = Seq(
      "sql_batch" -> BatchWorkload.checks(BatchWorkload.SqlBatch),
      "curation" -> BatchWorkload.checks(BatchWorkload.Curation),
      "taxi_replay" -> TaxiWorkload.checks)
    Files.writeString(Paths.get(out), Json(all.flatMap { case (w, cs) =>
      cs.map(c => Map("workload" -> w, "name" -> c.name, "sql" -> c.sql, "slice" -> c.slice))
    }))
  }

  private def digest(dir: String, out: String, cpus: Int): Unit = {
    val spark = session(cpus, dir)
    try {
      val names = Files.list(Paths.get(dir)).iterator().asScala.filter(Files.isDirectory(_))
        .map(_.getFileName.toString).filterNot(_ == "spark-local").toSeq.sorted
      Files.writeString(Paths.get(out), Json(names.map(n =>
        n -> Fingerprint.of(spark.read.parquet(s"$dir/$n")).toMap).toMap))
    } finally spark.stop()
  }

  private def run(opt: Map[String, String]): Unit = {
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = opt("work")
    val cpus = opt("cpus").toInt
    val spark = session(cpus, work)
    val wl: Workload = workload match {
      case "sql_batch" =>
        new BatchWorkload(spark, BatchWorkload.SqlBatch, BatchWorkload.SqlBatchPassSeconds, opt("data"), seed)
      case "curation" =>
        new BatchWorkload(spark, BatchWorkload.Curation, BatchWorkload.CurationPassSeconds, opt("data"), seed)
      case "taxi_replay" => new TaxiWorkload(spark, opt("data"), opt("slice"), work, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    try {
      val setupRec = new Record
      wl.setup(setupRec)
      out("setup_s") = Machine.sinceStartS()
      out("calib_ms") = Machine.calibMs()
      out("loadavg_before") = Machine.loadAvg1m()
      val j0 = Machine.cpuJiffies()
      val timed = new Record
      val units = wl.units(seconds)
      wl.measure(units, new Trace(false), timed)
      out("steal_pct") = Machine.stealPct(j0, Machine.cpuJiffies())
      out("loadavg_after") = Machine.loadAvg1m()
      out("setup") = setupRec.toMap
      out("timed") = timed.toMap + ("units" -> units)
      if (traced) {
        val trace = new Trace(true)
        val rec = new Record
        val tracing = new Tracing(spark)
        val t0 = System.nanoTime()
        trace.span("timed")(wl.measure(units, trace, rec))
        val wallMs = (System.nanoTime() - t0) / 1e6
        val layers = tracing.stop()
        def perCall(name: String) = if (trace.count(name) == 0) 0.0 else trace.totalMs(name) / trace.count(name)
        out("traced") = rec.toMap + ("units" -> units) + ("wall_ms" -> wallMs)
        out("layers") = layers.filter(_._1 != "scheduler.stages_planned") ++
          wl.streamingLayers(tracing.layers.progress.synchronized(tracing.layers.progress.toList)) ++
          Kernels.measure(spark, opt("data"), trace) ++ Map(
            "queries.build_ms" -> perCall("queries.build"),
            "queries.materialize_ms" -> perCall("queries.materialize"),
            "streaming.query_start_ms" -> perCall("streaming.query_start"),
            "executor.busy_share" -> layers.getOrElse("executor.run_ms", 0.0) / (wallMs * cpus))
        val spans = s"$work/spans.jsonl"
        trace.writeJsonl(spans)
        out("spans") = spans
      }
    } catch { case NonFatal(e) =>
      out("error") = e.toString
      e.printStackTrace()
    } finally {
      out("peak_rss_mb") = Machine.peakRssMb()
      out("heap_peak_mb") = Machine.heapPeakMb()
      out("jit_ms") = Machine.jitMs()
      out("cpus") = cpus
      wl.close()
      spark.stop()
    }
    Files.writeString(Paths.get(opt("out")), Json(out))
  }
}
