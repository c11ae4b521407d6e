package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` holds one entry per declared operator from SURVEY.md §2;
  * `oracleSql` holds the DuckDB-dialect equivalent for every key. Both
  * are assembled from the per-area modules so each operator's Spark
  * implementation and oracle live side by side.
  */
object SparkEntry {
  /** All declared operators, grouped by module. */
  def defs: Seq[QueryDef] =
    Relational.all ++ Functions.all ++ Text.all ++ Similarity.all ++
      Events.all ++ Swivel.all ++ Typed.all ++
      Dedup.all ++ TextAnalysis.all ++ Ann.all ++ Multimodal.all ++
      Extras.all ++ Sketch.all ++ Formats.all ++ Scale.all ++
      Pipelines.all ++ Graph.all ++ Quality.all ++ Unigram.all ++
      Curation.all ++ Alignment.all ++ Wordpiece.all ++ TpchSqlParity.all ++
      Retrieval.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.aggGroupby.fn(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    defs.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] =
    defs.map(q => q.name -> q.oracle).toMap
}
