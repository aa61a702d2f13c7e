package perfbench

import graft.functions.TextFunctions
import graft.functions.expressions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-row cost of the engine's native kernels, each timed as one
  * projection of its public column function over in-memory copies of
  * `documents` (text kernels) or `embeddings` (vector kernel). Inputs
  * are replicated to about [[TargetRows]] rows and materialised first,
  * so the timing is the projection plus a sum, not the scan.
  */
object Kernels {
  val TargetRows = 8000
  private val Reps = 3

  private def replicated(df: DataFrame): DataFrame = {
    val n = math.max(1L, df.count())
    val k = math.max(1L, TargetRows / n)
    df.crossJoin(df.sparkSession.range(k).toDF("rep")).drop("rep").localCheckpoint()
  }

  /** Median wall time (ns) per row of `agg` over `df`, after one warm run. */
  private def nsPerRow(df: DataFrame, agg: Column, trace: Trace, name: String): Double = {
    val rows = df.count().toDouble
    df.agg(agg).collect()
    val times = (1 to Reps).map { _ =>
      val t0 = System.nanoTime()
      trace.span("functions." + name)(df.agg(agg).collect())
      (System.nanoTime() - t0).toDouble
    }.sorted
    times(Reps / 2) / rows
  }

  def measure(spark: SparkSession, dataDir: String, trace: Trace): Map[String, Double] = {
    val docs = replicated(spark.read.parquet(s"$dataDir/documents.parquet")
      .select(col("doc_id"), col("text")))
    val shingles = spark.read.parquet(s"$dataDir/documents.parquet")
      .select(col("doc_id"), SortedShingleHashes(col("text"), 5).as("sh"))
    val shPairs = replicated(shingles.as("a")
      .join(shingles.as("b"), col("b.doc_id") === col("a.doc_id") + 1)
      .select(col("a.sh").as("x"), col("b.sh").as("y")))
    val emb = spark.read.parquet(s"$dataDir/embeddings.parquet")
    val vecPairs = replicated(emb.as("a")
      .join(emb.as("b"), col("b.vec_id") === col("a.vec_id") + 1)
      .select(col("a.embedding").as("x"), col("b.embedding").as("y")))
    val text = col("text")
    Map(
      "SortedShingleHashes" -> nsPerRow(docs, sum(size(SortedShingleHashes(text, 5))), trace, "SortedShingleHashes"),
      "MinHashSignature" -> nsPerRow(docs, sum(size(MinHashSignature(text, 16, 5))), trace, "MinHashSignature"),
      "WinnowFingerprints" -> nsPerRow(docs,
        sum(size(WinnowFingerprints(TextFunctions.tokens(text), 5, 4))), trace, "WinnowFingerprints"),
      "DotProductFloat" -> nsPerRow(vecPairs, sum(DotProductFloat(col("x"), col("y"))), trace, "DotProductFloat"),
      "SortedIntersectSize" -> nsPerRow(shPairs, sum(SortedIntersectSize(col("x"), col("y"))), trace, "SortedIntersectSize")
    ).map { case (k, v) => s"functions.${k}_ns_per_row" -> v }
  }
}
