package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** MDS-style sized-index binary shard sink + source — the MosaicML
  * StreamingDataset layout in its essentials (mosaicml/streaming's MDS
  * shard: a leading little-endian uint32 sample count, a (n+1)-entry
  * uint32 offset table, then the concatenated sample bytes, plus an
  * `index.json` manifest beside the shards), hand-rolled like the
  * TFRecord/Avro/WebDataset drivers on the shared `Sources` shard-file
  * sink (no format library offline; the format IS the byte arithmetic).
  * The offset table is the point of the format: sample i occupies
  * [off(i), off(i+1)), so a training loader seeks straight to any
  * sample — the random-access property that makes global shuffles
  * cheap at 100 TB (read two u32s, then exactly one sample's bytes;
  * WebDataset's tar must stream to position). The
  * reader exercises exactly that: each shard's probe sample is located
  * through the table, never by scanning predecessors.
  *
  * Per-sample encoding here: int64 LE doc_id + uint32 LE text byte
  * length + UTF-8 text — fixed 12 bytes of framing per sample, so the
  * ORACLE computes the exact shard byte size from column lengths alone:
  * bytes = 4 + 4·(n+1) + Σ (12 + text_bytes).
  *
  * Determinism: samples sorted by doc_id within a shard; no timestamps,
  * no compression — byte-identical shards for identical inputs at any
  * parallelism.
  */
object MdsShard {

  private def u32(v: Long): Array[Byte] = {
    // fail at WRITE time, naming the format limit: toInt alone would
    // silently wrap a >u32 sample count or byte offset into a corrupt
    // offset table the reader only catches later as a framing error
    require(v >= 0L && v <= 0xffffffffL,
      s"mds u32 field out of range: $v (format limit 2^32-1 — shard too large; split into more shards)")
    ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN).putInt(v.toInt).array
  }
  private def readU32(b: Array[Byte], off: Int): Long =
    ByteBuffer.wrap(b, off, 4).order(ByteOrder.LITTLE_ENDIAN).getInt.toLong & 0xffffffffL

  private[graft] def sample(docId: Long, text: Array[Byte]): Array[Byte] = {
    val b = ByteBuffer.allocate(12 + text.length).order(ByteOrder.LITTLE_ENDIAN)
    b.putLong(docId).putInt(text.length).put(text)
    b.array
  }

  /** Write one `docs-SSS.mds` per shard on `Sources.writeShardFiles`,
    * plus a driver-written `index.json` naming every shard with its
    * sample count and byte size — the manifest a streaming loader opens
    * first. The samples of a shard are buffered in memory before the
    * write because the offset table PRECEDES the data; that buffer is the
    * shard size itself, which production MDS writers cap (~64 MB per
    * shard) for exactly this reason — shard count, not shard size, is the
    * scale lever. Input: (shard long, doc_id long, text). */
  def writeDocShards(docs: DataFrame, dir: String): Unit = {
    val written = Sources.writeShardFiles(
      docs.select(col("shard").cast("long"), col("doc_id").cast("long"), col("text")),
      dir, "{docs-*.mds,index.json}", Seq("shard"), Seq("doc_id"),
      r => f"docs-${r.getLong(0)}%03d.mds") { (out, shard) =>
      val samples = shard.map { r =>
        // fail with the doc named instead of an opaque executor NPE:
        // the documents-table contract is text NOT NULL, so a null
        // here is an upstream bug worth a readable message
        require(!r.isNullAt(2),
          s"mds writer: null text for doc_id ${r.getLong(1)} (shard ${r.getLong(0)}) — text must be non-null")
        sample(r.getLong(1), r.getString(2).getBytes("UTF-8"))
      }.toIndexedSeq
      val n = samples.length.toLong
      out.write(u32(n))
      samples.scanLeft(4L + 4L * (n + 1))(_ + _.length).foreach(off => out.write(u32(off)))
      samples.foreach(out.write)
      n
    }
    val manifest = written.sortBy(w => w._1.stripPrefix("docs-").stripSuffix(".mds").toLong)
      .map { case (file, n) =>
        val bytes = java.nio.file.Files.size(java.nio.file.Paths.get(dir, file))
        s"""{"shard":"$file","samples":$n,"bytes":$bytes}"""
      }.mkString("[\n", ",\n", "\n]")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "index.json"),
      manifest.getBytes("UTF-8"))
  }

  /** Read shards back as (shard, doc_id, text_bytes, is_probe); per
    * shard the offset table is verified end to end (monotone, first =
    * header length, last = file length) and the PROBE sample — index
    * n/2 — is located THROUGH the table (the random-access read path),
    * flagged so the gate can pin which doc_id the seek landed on. */
  def readDocShards(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Sources.readShardFiles(spark, dir, "docs-*.mds")
      .flatMap { case (path, bytes) =>
        val shard = path.replaceAll(".*docs-(\\d+)\\.mds$", "$1").toLong
        val n = readU32(bytes, 0).toInt
        val off = (0 to n).map(i => readU32(bytes, 4 + 4 * i))
        require(off.head == 4L + 4L * (n + 1),
          s"mds $path: first offset ${off.head} != header length")
        // ordered BEFORE the file-length equality so a table CLAIMING a
        // size past the 2 GiB single-buffer bound (the truncated read of
        // an oversized shard, or a corrupt table) fails naming the REAL
        // limit rather than a puzzling length mismatch; a genuinely
        // >2 GiB file never reaches here — binaryFile caps content at
        // the JVM array bound upstream (after the equality require, this
        // check would be unreachable)
        require(off.last <= Int.MaxValue.toLong,
          s"mds $path: offset table claims ${off.last} bytes — past the 2 GiB single-buffer read limit; split into more shards")
        require(off.last == bytes.length.toLong,
          s"mds $path: last offset ${off.last} != file length ${bytes.length}")
        require(off.zip(off.tail).forall { case (a, b) => a <= b },
          s"mds $path: offset table not monotone")
        val probe = n / 2
        (0 until n).map { i =>
          val start = off(i).toInt
          val docId = ByteBuffer.wrap(bytes, start, 8)
            .order(ByteOrder.LITTLE_ENDIAN).getLong
          val tlen = readU32(bytes, start + 8)
          require(12 + tlen == off(i + 1) - off(i),
            s"mds $path: sample $i framed length mismatch")
          (shard, docId, tlen, i == probe)
        }
      }
      .toDF("shard", "doc_id", "text_bytes", "is_probe")
  }
}
