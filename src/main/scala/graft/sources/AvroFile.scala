package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Avro OBJECT CONTAINER FILE sink + source built on the avro core
  * runtime Spark already bundles (`avro-1.12.1.jar`) — the external
  * `spark-avro` DataSource module is NOT on this classpath, so the
  * format surface is completed the `TfExample` way: executors own the
  * files through the shared `Sources.writeShardFiles` sink, the driver
  * never sees a row, and the read side is one `Sources.readShardFiles`
  * scan fanned out through the container decoder.
  *
  * OCF layout (public spec, file format version 1): magic `Obj\x01`,
  * a metadata map carrying `avro.schema` (the writer schema JSON) and
  * `avro.codec`, a RANDOM 16-byte sync marker, then blocks of
  * (record count, byte size, deflated record data, sync marker). The
  * sync marker makes file BYTES nondeterministic run to run — which is
  * why the gated relation hashes round-tripped VALUES, never bytes
  * (the scan_orc convention: the oracle aggregates the ORIGINAL
  * parquet, so the hash certifies writer+reader preserve every value).
  *
  * At scale: shard ownership via one repartition on the shard key;
  * each task streams records through the avro encoder into its own
  * file (deflate block codec — java.util.zip, no extra dependency);
  * the read is file-parallel with per-file decode inside the iterator.
  * Schema travels IN the file (self-describing, like ORC) — the reader
  * parses it from the container metadata, no out-of-band schema.
  */
object AvroFile {

  /** The export schema: long / string / int / double / string — one
    * field per scalar family the fixture exercises. */
  private val CustomerSchemaJson =
    """{"type":"record","name":"Customer","fields":[
      |{"name":"c_custkey","type":"long"},
      |{"name":"c_name","type":"string"},
      |{"name":"c_nationkey","type":"int"},
      |{"name":"c_acctbal","type":"double"},
      |{"name":"c_mktsegment","type":"string"}]}""".stripMargin

  /** Write `(shard, c_custkey, c_name, c_nationkey, c_acctbal,
    * c_mktsegment)` rows as one `customer-SSS.avro` OCF per shard under
    * `dir`, on `Sources.writeShardFiles`; records are custkey-sorted
    * within a shard so each file's record SEQUENCE is deterministic even
    * though its sync-marker bytes are not. */
  def writeCustomerAvro(rows: DataFrame, dir: String): Unit =
    Sources.writeShardFiles(
      rows.select(col("shard").cast("long"), col("c_custkey").cast("long"),
        col("c_name"), col("c_nationkey").cast("int"),
        col("c_acctbal").cast("double"), col("c_mktsegment")),
      dir, "customer-*.avro", Seq("shard"), Seq("c_custkey"),
      r => f"customer-${r.getLong(0)}%03d.avro") { (out, shard) =>
      // schema parsed task-side from the JSON literal: avro Schema
      // serializability is a version detail this closure never bets on
      val schema = new org.apache.avro.Schema.Parser().parse(CustomerSchemaJson)
      val w = new org.apache.avro.file.DataFileWriter(
        new org.apache.avro.generic.GenericDatumWriter[
          org.apache.avro.generic.GenericRecord](schema))
      w.setCodec(org.apache.avro.file.CodecFactory.deflateCodec(6))
      w.create(schema, out)
      // records STREAM through the encoder's block buffer — task heap
      // holds one record plus one compressed block, never the shard
      try shard.foldLeft(0L) { (n, r) =>
        val rec = new org.apache.avro.generic.GenericData.Record(schema)
        rec.put("c_custkey", r.getLong(1))
        rec.put("c_name", r.getString(2))
        rec.put("c_nationkey", r.getInt(3))
        rec.put("c_acctbal", r.getDouble(4))
        rec.put("c_mktsegment", r.getString(5))
        w.append(rec)
        n + 1
      } finally w.close()
    }

  /** Read every `customer-SSS.avro` OCF under `dir` back as customer
    * rows, decoding each container inside the reading task. The reader
    * takes the schema FROM the container (null reader schema → writer
    * schema), certifying the self-describing path end to end; `Utf8`
    * values are materialized to String at the row boundary. */
  def readCustomerAvro(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Sources.readShardFiles(s, dir, "customer-*.avro")
      .flatMap { case (_, bytes) =>
        val rd = new org.apache.avro.file.DataFileReader(
          new org.apache.avro.file.SeekableByteArrayInput(bytes),
          new org.apache.avro.generic.GenericDatumReader[
            org.apache.avro.generic.GenericRecord]())
        new Iterator[(Long, String, Int, Double, String)] {
          def hasNext: Boolean = { val h = rd.hasNext; if (!h) rd.close(); h }
          def next(): (Long, String, Int, Double, String) = {
            val g = rd.next()
            (g.get("c_custkey").asInstanceOf[Long],
              g.get("c_name").toString,
              g.get("c_nationkey").asInstanceOf[Int],
              g.get("c_acctbal").asInstanceOf[Double],
              g.get("c_mktsegment").toString)
          }
        }
      }
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
  }
}
