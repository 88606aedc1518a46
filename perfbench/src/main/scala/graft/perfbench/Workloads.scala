package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry
import graft.operators.Pipelines

/** One closed-loop operation: a call into a public graft entry point
  * that ends in a sink. A `query` op is a `SparkEntry.queries` function
  * written to the `noop` sink (every output column consumed); a
  * `publish` op is a `Pipelines.*` product whose sink is its own
  * partitioned publish, returning the read-back registry row. `table`
  * names the input table whose rows the op consumes. */
final case class Op(name: String, kind: String, table: String) {
  /** Build the op's DataFrame (graft's operator layer: eager pins and
    * driver-side fits run here). */
  def build(spark: SparkSession, dir: String, outDir: String): DataFrame =
    kind match {
      case "query" => SparkEntry.queries(name)(spark, dir)
      case "publish" => Workloads.publishes(name)(spark, dir, s"$outDir/$name")
    }

  /** Drive the built frame into its sink; publish ops return their
    * registry rows. */
  def sink(df: DataFrame): Array[Row] = kind match {
    case "query" =>
      df.write.mode("overwrite").format("noop").save()
      Array.empty
    case "publish" => df.collect()
  }
}

object Workloads {
  /** The `Pipelines` products some workload's op list names. */
  val publishes: Map[String, (SparkSession, String, String) => DataFrame] = Map(
    "qc_publish" -> ((s, d, o) => Pipelines.qcPublish(s, d, o)),
    "corpus_curate_publish" -> ((s, d, o) => Pipelines.corpusCuratePublish(s, d, o)),
    "embedding_curate_publish" ->
      ((s, d, o) => Pipelines.embeddingCuratePublish(s, d, o)))

  private def q(table: String)(names: String*): Seq[Op] =
    names.map(Op(_, "query", table))
  private def p(table: String)(names: String*): Seq[Op] =
    names.map(Op(_, "publish", table))

  /** Closed-loop operation lists, in pass order. */
  val ops: Map[String, Seq[Op]] = Map(
    "climate_products" -> (
      p("events")("qc_publish") ++
      q("events")("grid_grib_decode", "danger_levels")),
    "series_kernels" -> q("events")(
      "ts_ewma", "ts_theil_sen", "ts_mann_kendall", "ts_seasonal_mk",
      "ts_mann_whitney", "ts_dtw_ref", "ts_rolling_median", "ts_hurst",
      "ts_autocorr", "ts_ljung_box"),
    "corpus_dedup" -> (
      q("documents")("dedup_minhash_lsh", "dedup_ngram_jaccard",
        "dedup_incremental", "dedup_lsh_audit") ++
      q("embeddings")("dedup_embedding_lsh", "dedup_embedding_lsh_audit",
        "knn_graph_ivf", "dedup_semantic") ++
      p("documents")("corpus_curate_publish") ++
      p("embeddings")("embedding_curate_publish")))
}
