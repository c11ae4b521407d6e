package graft.sources

import java.io.{BufferedOutputStream, OutputStream}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, Row, SparkSession}
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

  /** What one task of `writeShardFiles` runs: `encode` writes one
    * shard's rows, in order, to the shard's stream and returns its record
    * count; `result` is the task's one result once every shard it owns is
    * written. */
  trait ShardTask[S] {
    def encode(out: OutputStream, shard: Iterator[Row]): Long
    def result: S
  }

  /** `writeShardFiles` with a stateless encoder, one task per shard key
    * (AQE may coalesce small shards into one task); returns each file
    * with its record count. */
  def writeShardFiles(rows: DataFrame, dir: String, glob: String,
      key: Seq[String], sortBy: Seq[String], fileName: Row => String)(
      encode: (OutputStream, Iterator[Row]) => Long): Seq[(String, Long)] =
    writeShardFiles(rows, dir, glob, key, (key ++ sortBy).map(col), fileName, stripes = 0) { () =>
      val f = encode
      new ShardTask[Boolean] {
        def encode(out: OutputStream, shard: Iterator[Row]): Long = f(out, shard)
        def result: Boolean = true
      }
    }(Encoders.scalaBoolean)._1

  /** The executor-owned shard-file sink every hand-rolled binary writer
    * shares. One file per distinct `key` value:
    * - files under `dir` matching `glob` are deleted first, so a rerun
    *   that lands fewer shards leaves no stale file for a reader's glob;
    * - rows are repartitioned on `key`, or with `stripes` > 0 into
    *   exactly `stripes` tasks on the first key column alone (its value
    *   is the task's index, in [0, stripes); AQE cannot coalesce an
    *   explicit count), so one task owns each shard, or each stripe of
    *   shards;
    * - within a task rows are sorted by `order`, which must keep each
    *   shard's rows together (a shard whose rows come apart fails the
    *   write) and makes a shard's bytes deterministic;
    * - each task makes one `ShardTask` with `task`; for each of its
    *   shards it opens one buffered stream at `dir/fileName(row)` (named
    *   from the shard's first row) and hands `encode` the stream and the
    *   shard's rows in order, which it must consume;
    * - the driver collects each task's `(file, records)` and its
    *   `result` (task-count-bounded) and requires every reported file to
    *   be visible. An executor writes through java.nio, so `dir` must be
    *   on a filesystem the executors share with the driver.
    * Returns every file with its record count, and every task's result.
    */
  def writeShardFiles[S: Encoder](rows: DataFrame, dir: String, glob: String,
      key: Seq[String], order: Seq[Column], fileName: Row => String,
      stripes: Int)(task: () => ShardTask[S]): (Seq[(String, Long)], Seq[S]) = {
    val root = Paths.get(dir)
    Files.createDirectories(root)
    val stale = root.getFileSystem.getPathMatcher(s"glob:$glob")
    val old = Files.list(root)
    try old.filter(p => stale.matches(p.getFileName)).forEach(p => Files.delete(p))
    finally old.close()
    import rows.sparkSession.implicits._
    val keyIdx = key.map(rows.schema.fieldIndex).toArray
    val parted =
      if (stripes > 0) rows.repartitionById(stripes, col(key.head).cast("int"))
      else rows.repartition(key.map(col): _*)
    val perTask = parted
      .sortWithinPartitions(order: _*)
      .mapPartitions { it: Iterator[Row] =>
        val t = task()
        val buf = it.buffered
        val files = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
        while (buf.hasNext) {
          val first = buf.head
          val name = fileName(first)
          require(!files.exists(_._1 == name), s"the rows of $name are not together in their task")
          val shard = new Iterator[Row] {
            def hasNext: Boolean =
              buf.hasNext && keyIdx.forall(i => buf.head.get(i) == first.get(i))
            def next(): Row = buf.next()
          }
          val out = new BufferedOutputStream(Files.newOutputStream(Paths.get(dir, name)))
          val n = try t.encode(out, shard) finally out.close()
          require(!shard.hasNext, s"encoder for $name left rows unwritten")
          files += name -> n
        }
        Iterator.single((files.toSeq, t.result))
      }(Encoders.tuple(implicitly[Encoder[Seq[(String, Long)]]], implicitly[Encoder[S]]))
      .collect() // task-count-bounded
    val written = perTask.toSeq.flatMap(_._1)
    val invisible = written.map(_._1).filterNot(n => Files.exists(Paths.get(dir, n)))
    if (invisible.nonEmpty)
      throw new IllegalStateException(
        s"${invisible.length} executor-written shard file(s) under $dir are not visible " +
          s"to the driver (e.g. ${invisible.head}): deploy with a filesystem shared " +
          "between executors and driver")
    (written, perTask.toSeq.map(_._2))
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
