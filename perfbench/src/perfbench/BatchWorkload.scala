package perfbench

import scala.util.Random
import scala.util.control.NonFatal

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, SparkSession}

/** `sql_batch` and `curation`: one-shot registry entries run in a
  * closed loop, one after another in a seeded order. Set-up runs every
  * entry once untimed; the timed phase then runs whole passes. Each
  * execution reports its result digest, so a throw or a wrong answer
  * counts as a failed op and never as a time.
  */
final class BatchWorkload(
    spark: SparkSession,
    entries: Seq[String],
    passSeconds: Double,
    dataDir: String,
    seed: Long) extends Workload {

  private val registry: Map[String, (SparkSession, String) => DataFrame] = SparkEntry.queries

  /** Entry order of pass `pass` (-1 = set-up): a seeded permutation. */
  private def order(pass: Int): Seq[String] = new Random(seed * 1000003L + pass).shuffle(entries)

  private def runEntry(n: String, trace: Trace, rec: Record, timed: Boolean): Unit = {
    val t0 = System.nanoTime()
    try {
      val fp = trace.span("entry:" + n) {
        val df = trace.span("queries.build")(registry(n)(spark, dataDir))
        trace.span("queries.materialize")(Fingerprint.of(df))
      }
      rec.op(n, if (timed) Some((System.nanoTime() - t0) / 1e6) else None, fp)
    } catch { case NonFatal(e) => rec.fail(n, e) }
  }

  def setup(rec: Record): Unit = {
    entries.filterNot(registry.contains).foreach(n => throw new IllegalArgumentException(s"unknown entry $n"))
    order(-1).foreach(runEntry(_, new Trace(false), rec, timed = false))
  }

  def units(seconds: Double): Int = math.max(1, (seconds / passSeconds).toInt)

  def measure(units: Int, trace: Trace, rec: Record): Unit =
    for (pass <- 0 until units) {
      val p0 = System.nanoTime()
      order(pass).foreach(runEntry(_, trace, rec, timed = true))
      rec.wall((System.nanoTime() - p0) / 1e9)
    }
}

object BatchWorkload {
  /** One-shot Catalyst queries: TPC-H-style entries for aggregation,
    * joins, windows and correlated subqueries; the taxi pipelines' eight
    * batch twins; and the four write-path storage entries.
    */
  val SqlBatchPassSeconds = 10.0
  val SqlBatch: Seq[String] = Seq(
    "q1_pricing_summary", "q3_join_agg", "q6_topk_per_group", "q12_correlated_subquery",
    "taxi_total_count", "taxi_running_count", "taxi_sliding_count", "taxi_tumbling_count",
    "taxi_ride_duration", "taxi_od_matrix", "taxi_etl_explode", "taxi_concurrency",
    "docs_dynamic_overwrite", "docs_wap_publish", "docs_compaction_bins", "docs_time_travel")

  /** Dedup, text and vector-search pipelines: the minhash chain with its
    * verify join and iterative k-core peel, the hand-written n-gram verify
    * join, and the winnow and dot-product kernels.
    */
  val CurationPassSeconds = 6.0
  val Curation: Seq[String] = Seq(
    "dedup_minhash_estimate", "dedup_kcore", "dedup_ngram_jaccard", "text_winnow", "knn_brute")

  def checks(entries: Seq[String]): Seq[Check] = {
    val oracle = SparkEntry.oracleSql
    entries.map(n => Check(n, oracle.getOrElse(n, throw new IllegalArgumentException(s"no oracle for $n")),
      slice = false))
  }
}
