package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sources and sinks (SURVEY.md §2.1).
  *
  * The reference ingests plain-text corpora (one document per line) and
  * emits sharded matrix files + vocab/sums; this engine's gated source is
  * parquet, but the library keeps the full ingest/egress surface:
  * - text lines → (doc_id, text) corpora (the reference's own source),
  * - csv/json passthroughs (Spark-native, schema-on-read),
  * - plain and shard-partitioned parquet sinks.
  */
object Sources {

  /** Read a plain-text corpus, one document per line →
    * (doc_id BIGINT, text STRING).
    *
    * doc_id is unique and stable for a fixed file layout but NOT
    * contiguous (partition-encoded, like the reference's implicit
    * line-offset ids only matter for identity). At 100 TB this is the only
    * id scheme that needs no global pass; use `contiguousIds = true` to
    * pay one zipWithIndex-style exchange for dense ids when a trainer
    * requires them.
    */
  def textCorpus(spark: SparkSession, path: String,
      contiguousIds: Boolean = false): DataFrame = {
    val lines = spark.read.text(path)
    if (contiguousIds) {
      // Dense ids WITHOUT a single-partition global window: zipWithIndex
      // assigns contiguous indices from per-partition offsets (one small
      // count pass over partition sizes), preserving partition order —
      // the same distributed ranking buildVocab uses. The order is the
      // file/partition order, matching what the line-offset ids of the
      // reference's text ingest imply.
      import spark.implicits._
      lines.select(col("value")).as[String].rdd
        .zipWithIndex()
        .map { case (text, i) => (i, text) }
        .toDF("doc_id", "text")
    } else {
      lines.select(monotonically_increasing_id().as("doc_id"), col("value").as("text"))
    }
  }

  def csv(spark: SparkSession, path: String, header: Boolean = true): DataFrame =
    spark.read.option("header", header.toString).option("inferSchema", "true").csv(path)

  /** ORC passthroughs — the other columnar format Spark bundles natively
    * (same pushdown/pruning surface as parquet; Avro is absent from this
    * distribution's jars, so it is deliberately NOT offered). */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def writeOrc(df: DataFrame, dir: String): Unit =
    df.write.mode("overwrite").orc(dir)

  /** Write the sharded co-occurrence matrix as parquet partitioned by
    * (row_shard, col_shard) — the semantic equivalent of the reference's
    * per-shard TFRecord files (format parity out of scope offline;
    * SURVEY §2.1): one directory per shard, each holding that submatrix's
    * COO cells. The repartition co-locates each shard before the write so
    * a shard is one file, not one fragment per upstream task.
    */
  def writeShards(shards: DataFrame, dir: String): Unit =
    shards
      .repartition(col("row_shard"), col("col_shard"))
      .write.mode("overwrite")
      .partitionBy("row_shard", "col_shard")
      .parquet(dir)

  /** Write vocab / marginals as single-file parquet side outputs (driver
    * metadata scale — mirrors row_vocab.txt / row_sums.txt). */
  def writeSideOutput(df: DataFrame, dir: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(dir)

  /** Write a BUCKETED, per-bucket-sorted parquet table — the 100 TB
    * co-located-join layout: two fact tables bucketed on their join key
    * with the same bucket count sort-merge join with ZERO Exchange
    * (SourcesSpec pins the shuffle-free plan). Registered as an external
    * table at `dir` (bucketing metadata lives in the session catalog;
    * on a real cluster this is the shared metastore). The one-time
    * bucket-write shuffle is the amortized price for every subsequent
    * join/aggregation on that key.
    */
  def writeBucketed(df: DataFrame, table: String, dir: String,
      buckets: Int, key: String): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .option("path", dir)
      .format("parquet")
      .saveAsTable(table)
}
