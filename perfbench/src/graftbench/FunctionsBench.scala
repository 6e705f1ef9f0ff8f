package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Per-row cost of the native expressions in isolation: one expression
  * over cached generated rows, minus a bare scan of the same columns, both
  * through the noop sink. The median difference of several alternating
  * repetitions, divided by the row count, is the ns/row figure.
  */
object FunctionsBench {
  val Rows = 20000
  val Reps = 5

  def run(spark: SparkSession, data: String, tr: Tracer): Map[String, Double] = {
    // the workload's documents, repeated up to Rows; bpe_encode gets each
    // document's first eight lowercased words as its pre-tokens
    val docs = spark.read.parquet(s"$data/documents.parquet").select(col("text"))
    val texts = cached(docs
      .crossJoin(spark.range(Rows / docs.count() + 1))
      .select(col("text"), slice(split(lower(col("text")), " "), 1, 8).as("toks"))
      .limit(Rows))
    def vec(salt: Int, t: String): Column =
      transform(sequence(lit(0), lit(63)),
        i => (pmod(xxhash64(col("id"), i, lit(salt)), lit(2001L)) - 1000).cast(t))
    val vectors = cached(spark.range(Rows).select(
      vec(1, "double").as("fa"), vec(2, "double").as("fb"),
      vec(3, "int").as("ia"), vec(4, "int").as("ib")))
    val out = Map(
      "functions.content_key_ns_row" -> perRow(tr, "content_key", texts, "text", "content_key64(text)"),
      "functions.bpe_encode_ns_row" -> perRow(tr, "bpe_encode", texts, "toks", "bpe_encode(toks)"),
      "functions.cosine_sim_ns_row" -> perRow(tr, "cosine_sim", vectors, "fa, fb", "cosine_sim(fa, fb)"),
      "functions.int_dot_ns_row" -> perRow(tr, "int_dot", vectors, "ia, ib", "int_dot(ia, ib)"))
    texts.unpersist(blocking = true)
    vectors.unpersist(blocking = true)
    out
  }

  private def cached(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_ONLY)
    p.count()
    p
  }

  private def timeNoop(df: DataFrame): Long = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    System.nanoTime() - t0
  }

  private def perRow(tr: Tracer, name: String, df: DataFrame, baseCols: String,
                     expression: String): Double = tr.span(s"functions.$name") {
    val base = df.selectExpr(baseCols.split(", ").toIndexedSeq: _*)
    val withExpr = df.selectExpr(expression)
    timeNoop(base)
    timeNoop(withExpr)
    val diffs = (1 to Reps).map(_ => timeNoop(withExpr) - timeNoop(base)).sorted
    diffs(Reps / 2).toDouble / Rows
  }
}
