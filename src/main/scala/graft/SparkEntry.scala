package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{Analytics, BboxSummary, Curation, Dedup, Evolution, Graph, Multimodal, Pipeline, Relational, Retrieval, Scd, Similarity, Sketches, SqlSurface, StarPipeline, TemporalJoins, TextAnalysis, Topics, Training}
import graft.sources.Sources
import graft.streaming.StreamOps

/** The engine's query contract (SURVEY.md §7).
  *
  * Every query is one [[Q]] entry of a [[QueryModule]]: its name, its
  * Spark builder and its DuckDB oracle, declared together. `queries` and
  * `oracleSql` both derive from [[modules]], so each query has exactly one
  * oracle, and a name listed twice, in one module or across two, fails the
  * build of either map. Column aliases match between builder and oracle by
  * construction (the correctness compare sorts columns by name before
  * hashing).
  */
object SparkEntry {

  /** Flagship: the star-schema build (SURVEY §7.1 step 4) — dims via
    * distinct + deterministic surrogate keys, fact via broadcast left
    * joins. Driver smoke-checks rows > 0 on sf0.001.
    */
  def entry(spark: SparkSession): DataFrame =
    StarPipeline.fact(spark, "/root/testdata/sf0.001")

  /** The query modules, each listed once. */
  def modules: Seq[QueryModule] = Seq(
    Sources, Relational, StarPipeline, Topics, Analytics, TextAnalysis, Dedup,
    Similarity, Multimodal, StreamOps, BboxSummary, TemporalJoins, Pipeline,
    Training, Curation, Scd, Sketches, SqlSurface, Retrieval, Evolution, Graph)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Q.queries(modules.flatMap(_.entries))

  /** For each key in `queries`, its oracle: equivalent SQL that DuckDB runs
    * on the same parquet tables.
    */
  def oracleSql: Map[String, String] = Q.oracles(modules.flatMap(_.entries))
}
