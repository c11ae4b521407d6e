package graft.sources

import java.io.{BufferedOutputStream, OutputStream}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Sources and sinks (SURVEY.md §2.1).
  *
  * The reference ingests plain-text corpora (one document per line) and
  * emits sharded matrix files + vocab/sums; this engine's gated source is
  * parquet, but the library keeps the full ingest/egress surface:
  * - text lines → (doc_id, text) corpora (the reference's own source),
  * - csv/json passthroughs (Spark-native, schema-on-read),
  * - plain and shard-partitioned parquet sinks,
  * - the one executor-owned shard-file sink (`writeShardFiles`) and its
  *   reader (`readShardFiles`) under every hand-rolled binary format:
  *   `.pb` and TFRecord (`TfExample`), tar (`WebDataset`), MDS
  *   (`MdsShard`) and Avro (`AvroFile`).
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
      // count pass over partition sizes), preserving partition order.
      // The order is the file/partition order, matching what the
      // line-offset ids of the reference's text ingest imply.
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

  /** Write the sharded co-occurrence matrix as parquet partitioned by
    * (row_shard, col_shard) — the columnar alternative to the reference's
    * per-shard `.pb` files (`TfExample.writeSwivelPbShards` writes those):
    * one directory per shard, each holding that submatrix's COO cells. The repartition co-locates each shard before the write so
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

  /** The executor-owned shard-file sink every hand-rolled binary writer
    * shares. One file per distinct `key` value:
    * - files under `dir` matching `glob` are deleted first, so a rerun
    *   that lands fewer shards leaves no stale file for a reader's glob;
    * - rows are repartitioned on `key` and sorted by `key ++ sortBy`
    *   within each partition, so one task owns each shard and its bytes
    *   are deterministic;
    * - the owning task opens one buffered stream at `dir/fileName(row)`
    *   (named from the shard's first row) and hands `encode` the stream
    *   and the shard's rows in order; `encode` consumes them all and
    *   returns its record count;
    * - the driver collects `(file, records)` — one entry per shard — and
    *   requires every reported file to be visible. An executor writes
    *   through java.nio, so `dir` must be on a filesystem the executors
    *   share with the driver.
    */
  def writeShardFiles(rows: DataFrame, dir: String, glob: String,
      key: Seq[String], sortBy: Seq[String], fileName: Row => String)(
      encode: (OutputStream, Iterator[Row]) => Long): Seq[(String, Long)] = {
    val root = Paths.get(dir)
    Files.createDirectories(root)
    val stale = root.getFileSystem.getPathMatcher(s"glob:$glob")
    val old = Files.list(root)
    try old.filter(p => stale.matches(p.getFileName)).forEach(p => Files.delete(p))
    finally old.close()
    import rows.sparkSession.implicits._
    val keyIdx = key.map(rows.schema.fieldIndex).toArray
    val written = rows
      .repartition(key.map(col): _*)
      .sortWithinPartitions((key ++ sortBy).map(col): _*)
      .mapPartitions { it: Iterator[Row] =>
        val buf = it.buffered
        new Iterator[(String, Long)] {
          def hasNext: Boolean = buf.hasNext
          def next(): (String, Long) = {
            val first = buf.head
            val name = fileName(first)
            val shard = new Iterator[Row] {
              def hasNext: Boolean =
                buf.hasNext && keyIdx.forall(i => buf.head.get(i) == first.get(i))
              def next(): Row = buf.next()
            }
            val out = new BufferedOutputStream(Files.newOutputStream(Paths.get(dir, name)))
            val n = try encode(out, shard) finally out.close()
            require(!shard.hasNext, s"encoder for $name left rows unwritten")
            (name, n)
          }
        }
      }
      .collect() // shard-count-bounded
    val invisible = written.map(_._1).filterNot(n => Files.exists(Paths.get(dir, n)))
    if (invisible.nonEmpty)
      throw new IllegalStateException(
        s"${invisible.length} executor-written shard file(s) under $dir are not visible " +
          s"to the driver (e.g. ${invisible.head}): deploy with a filesystem shared " +
          "between executors and driver")
    written.toSeq
  }

  /** The read half of `writeShardFiles`: every file under `dir` whose name
    * matches `glob`, as (path, content) — one binaryFile scan, each file
    * decoded whole by the task that reads it (files are shard-sized). */
  def readShardFiles(spark: SparkSession, dir: String,
      glob: String): Dataset[(String, Array[Byte])] = {
    import spark.implicits._
    spark.read.format("binaryFile").option("pathGlobFilter", glob).load(dir)
      .select(col("path"), col("content")).as[(String, Array[Byte])]
  }
}
