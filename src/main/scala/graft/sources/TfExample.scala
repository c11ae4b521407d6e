package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import graft.swivel.SwivelPrep

/** Dependency-free encoder for `tensorflow.Example` protos and TFRecord
  * framing — the reference pipeline's ACTUAL output format (one serialized
  * Example per co-occurrence shard, `shard-RRR-CCC.pb`), which SURVEY §2.1
  * had declared out of scope. The wire format is small enough to hand-roll
  * from the public protobuf spec (varints + length-delimited fields) and
  * the public `example.proto`/`feature.proto` schemas:
  *
  *   Example  { Features features = 1 }
  *   Features { map<string, Feature> feature = 1 }   // entry: key=1, value=2
  *   Feature  { oneof { BytesList=1, FloatList=2, Int64List=3 } }
  *   Int64List { repeated int64 value = 1 [packed] }
  *   FloatList { repeated float value = 1 [packed] }
  *
  * TfExampleSpec proves the layout two ways: golden bytes computed by hand
  * from the spec, and an independent mini-parser round-trip.
  */
object TfExample {

  private def varint(n: Long): Array[Byte] = {
    var v = n
    val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
    while ((v & ~0x7fL) != 0L) { out += ((v & 0x7f) | 0x80).toByte; v >>>= 7 }
    out += (v & 0x7f).toByte
    out.toArray
  }

  private def lenDelim(field: Int, payload: Array[Byte]): Array[Byte] =
    varint((field.toLong << 3) | 2L) ++ varint(payload.length.toLong) ++ payload

  /** Int64List message: packed varints (values here are non-negative ids
    * and counts, so no 10-byte two's-complement case arises). */
  def int64List(values: Seq[Long]): Array[Byte] =
    lenDelim(1, values.toArray.flatMap(varint))

  /** FloatList message: packed 4-byte little-endian IEEE754. */
  def floatList(values: Seq[Float]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 * values.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    values.foreach(bb.putFloat)
    lenDelim(1, bb.array())
  }

  /** Feature carrying an Int64List (oneof field 3). */
  def int64Feature(values: Seq[Long]): Array[Byte] = lenDelim(3, int64List(values))

  /** Feature carrying a FloatList (oneof field 2). */
  def floatFeature(values: Seq[Float]): Array[Byte] = lenDelim(2, floatList(values))

  /** Serialized Example from (name, encoded Feature) pairs; map entries are
    * emitted in the given order (protobuf map order is unspecified — fixed
    * order here keeps output bytes deterministic). */
  def example(features: Seq[(String, Array[Byte])]): Array[Byte] = {
    val featuresMsg = features.toArray.flatMap { case (k, f) =>
      lenDelim(1, lenDelim(1, k.getBytes("UTF-8")) ++ lenDelim(2, f))
    }
    lenDelim(1, featuresMsg)
  }

  private def crcMasked(b: Array[Byte]): Int = {
    val c = new java.util.zip.CRC32C
    c.update(b)
    val v = c.getValue.toInt
    ((v >>> 15) | (v << 17)) + 0xa282ead8
  }

  /** One TFRecord frame around a payload: length (8B LE) + masked CRC32C of
    * the length bytes + payload + masked CRC32C of the payload — for the
    * record-stream variant of the sink (the reference's per-shard files are
    * raw single-Example `.pb`, but TFRecord readers want this framing). */
  def tfRecordFrame(payload: Array[Byte]): Array[Byte] = {
    val lenB = java.nio.ByteBuffer.allocate(8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putLong(payload.length.toLong).array()
    def le4(i: Int) = java.nio.ByteBuffer.allocate(4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(i).array()
    lenB ++ le4(crcMasked(lenB)) ++ payload ++ le4(crcMasked(payload))
  }

  /** BytesList feature (`Feature.bytes_list`, field 1): each value is its
    * own length-delimited entry (bytes are never packed). */
  def bytesFeature(values: Seq[Array[Byte]]): Array[Byte] =
    lenDelim(1, values.toArray.flatMap(v => lenDelim(1, v)))

  /** One decoded Feature's values. A Feature carries one list kind, so at
    * most one of the three is non-empty. */
  final case class Feature(int64: Seq[Long], float: Seq[Float], bytes: Seq[Array[Byte]])

  /** Decode a serialized Example into name -> Feature — the read half of
    * the wire format, for this module's own files and for the reference
    * pipeline's output, without any protobuf dependency. Handles what
    * canonical encoders legally emit: an empty list may be OMITTED
    * entirely (a Feature of zero length), and a repeated packed field may
    * arrive as MULTIPLE chunks — chunks are concatenated in order. A
    * BytesList holds one field-1 entry per value. A Feature kind other
    * than Int64List, FloatList or BytesList fails fast rather than being
    * skipped, as do unpacked int64 values and an omitted Features field.
    */
  def parseExample(bytes: Array[Byte]): Map[String, Feature] = {
    var pos = 0
    def varintAt(): Long = {
      var shift = 0; var v = 0L; var more = true
      while (more) {
        val x = bytes(pos); pos += 1
        v |= (x & 0x7fL) << shift; shift += 7; more = (x & 0x80) != 0
      }
      v
    }
    def delim(): (Int, Int) = { val n = varintAt().toInt; val s = pos; pos += n; (s, s + n) }
    require(varintAt() == 0x0a, "not an Example: missing features tag")
    val (fs, fe) = delim()
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Feature]
    pos = fs
    while (pos < fe) {
      require(varintAt() == 0x0a, "bad Features entry tag")
      val (entryStart, entryEnd) = delim()
      pos = entryStart // descend into the entry
      require(varintAt() == 0x0a, "bad map key tag")
      val (ks, ke) = delim()
      val key = new String(bytes.slice(ks, ke), "UTF-8")
      pos = ke
      require(varintAt() == 0x12, "bad map value tag")
      val (vs, ve) = delim()
      pos = vs
      // Feature message: zero or one list field in practice (an omitted
      // empty list leaves the message EMPTY — vs == ve)
      val longs = scala.collection.mutable.ArrayBuffer.empty[Long]
      val floats = scala.collection.mutable.ArrayBuffer.empty[Float]
      val bs = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
      while (pos < ve) {
        val kind = varintAt()
        require(kind == 0x1a || kind == 0x12 || kind == 0x0a, s"unexpected Feature kind $kind")
        val (ls, le) = delim()
        pos = ls // descend into the list message; may itself be empty
        while (pos < le) {
          require(varintAt() == 0x0a, "bad list value tag")
          val (ps, pe) = delim() // a packed chunk, or one bytes value
          kind match {
            case 0x1a => // Int64List
              pos = ps
              while (pos < pe) longs += varintAt()
            case 0x12 => // FloatList
              val bb = java.nio.ByteBuffer.wrap(bytes, ps, pe - ps)
                .order(java.nio.ByteOrder.LITTLE_ENDIAN)
              (0 until (pe - ps) / 4).foreach(_ => floats += bb.getFloat)
            case _ => // BytesList
              bs += bytes.slice(ps, pe)
          }
          pos = pe
        }
        pos = le
      }
      out(key) = Feature(longs.toSeq, floats.toSeq, bs.toSeq)
      pos = entryEnd
    }
    out.toMap
  }

  /** Split a TFRecord stream into its framed payloads, verifying both
    * masked CRC32Cs per record (a corrupt length or payload fails fast —
    * silent truncation would undercount the corpus). */
  def tfRecordFrames(stream: Array[Byte]): Seq[Array[Byte]] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    var pos = 0
    while (pos < stream.length) {
      val lenB = stream.slice(pos, pos + 8)
      val len = java.nio.ByteBuffer.wrap(lenB)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong.toInt
      val lenCrc = java.nio.ByteBuffer.wrap(stream, pos + 8, 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
      require(lenCrc == crcMasked(lenB), s"TFRecord length CRC mismatch at $pos")
      val payload = stream.slice(pos + 12, pos + 12 + len)
      val payCrc = java.nio.ByteBuffer.wrap(stream, pos + 12 + len, 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
      require(payCrc == crcMasked(payload), s"TFRecord payload CRC mismatch at $pos")
      out += payload
      pos += 12 + len + 4
    }
    out.toSeq
  }

  /** Sharded-TFRecord writer for the doc and emb exports, on
    * `Sources.writeShardFiles`: one `<prefix>-SSS.tfrecord` per shard, a
    * stream of framed Examples written one record at a time (task heap
    * holds one record, not the shard). `rows` must carry the long `shard`
    * column at position 0 plus a per-shard sort key at position 1, so
    * shard bytes are deterministic. */
  private def writeShardedTfRecords(rows: DataFrame, dir: String,
      prefix: String, mkExample: Row => Array[Byte]): Unit =
    Sources.writeShardFiles(rows, dir, s"$prefix-*.tfrecord", Seq("shard"),
        Seq(rows.columns(1)), r => f"$prefix%s-${r.getLong(0)}%03d.tfrecord") {
      (out, shard) =>
        shard.foldLeft(0L) { (n, r) => out.write(tfRecordFrame(mkExample(r))); n + 1 }
    }

  /** Document TFRecord export — the training-data handoff format (what a
    * TF/JAX input pipeline reads): one `docs-SSS.tfrecord` per shard,
    * each a stream of framed Examples {id: int64, text: bytes,
    * n_tokens: int64}. */
  def writeDocTfRecords(docs: DataFrame, dir: String): Unit =
    writeShardedTfRecords(
      docs.select(col("shard").cast("long"), col("doc_id").cast("long"),
        col("text"), col("n_tokens").cast("long")),
      dir, "docs",
      r => example(Seq(
        "id" -> int64Feature(Seq(r.getLong(1))),
        "n_tokens" -> int64Feature(Seq(r.getLong(3))),
        "text" -> bytesFeature(Seq(r.getString(2).getBytes("UTF-8"))))))

  /** Embedding TFRecord export — the FLOAT-wire sibling of
    * `writeDocTfRecords` (docs gate the int64+bytes families; this
    * gates packed float32 lists, the column a trainer's input pipeline
    * actually consumes): one `emb-SSS.tfrecord` per shard, each a
    * stream of framed Examples {id: int64, label: int64,
    * emb: float32[64]}. */
  def writeEmbTfRecords(emb: DataFrame, dir: String): Unit =
    writeShardedTfRecords(
      emb.select(col("shard").cast("long"), col("vec_id").cast("long"),
        col("label").cast("long"), col("embedding")),
      dir, "emb",
      r => example(Seq(
        "id" -> int64Feature(Seq(r.getLong(1))),
        "label" -> int64Feature(Seq(r.getLong(2))),
        "emb" -> floatFeature(r.getSeq[Float](3)))))

  /** Read embedding TFRecord shards back into (vec_id, label, embedding
    * float[]). */
  def readEmbTfRecords(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Sources.readShardFiles(spark, dir, "emb-*.tfrecord")
      .flatMap { case (_, stream) =>
        tfRecordFrames(stream).map { ex =>
          val f = parseExample(ex)
          (f("id").int64.head, f("label").int64.head, f("emb").float)
        }
      }
      .toDF("vec_id", "label", "embedding")
  }

  /** Read document TFRecord shards back into (doc_id, text, n_tokens) —
    * frames + Examples decoded by the reading task. */
  def readDocTfRecords(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Sources.readShardFiles(spark, dir, "docs-*.tfrecord")
      .flatMap { case (_, stream) =>
        tfRecordFrames(stream).map { ex =>
          val f = parseExample(ex)
          (f("id").int64.head, new String(f("text").bytes.head, "UTF-8"),
            f("n_tokens").int64.head)
        }
      }
      .toDF("doc_id", "text", "n_tokens")
  }

  /** Read `shard-RRR-CCC.pb` files back into the shard cell relation —
    * the migration path for corpora already prepared by the reference:
    * its output files become this engine's input. `weight` comes back as
    * FLOAT — the format stores float32, so the reader is honest about the
    * precision the bytes carry.
    */
  def readSwivelPbShards(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val name = "shard-(\\d+)-(\\d+)\\.pb".r
    Sources.readShardFiles(spark, dir, "shard-*.pb")
      .flatMap { case (path, bytes) =>
        val base = path.substring(path.lastIndexOf('/') + 1)
        val m = name.findFirstMatchIn(base).getOrElse(
          throw new IllegalArgumentException(s"not a shard file: $base"))
        val (r, c) = (m.group(1).toLong, m.group(2).toLong)
        val f = parseExample(bytes)
        val gRows = f("global_row").int64
        val gCols = f("global_col").int64
        val lr = f("sparse_local_row").int64
        val lc = f("sparse_local_col").int64
        val w = f("sparse_value").float
        lr.indices.map { i =>
          (r, c, lr(i), lc(i), gRows(lr(i).toInt), gCols(lc(i).toInt), w(i))
        }
      }
      .toDF("row_shard", "col_shard", "local_row", "local_col",
        "global_row", "global_col", "weight")
  }

  /** What `writeSwivelPbShards` wrote: its cell count, and from a counts
    * relation with n1..nW each row's integer totals over its cells,
    * `rowTotals(id * W + k - 1)` = Σ n_k of row id (empty from a weighted
    * relation). */
  final case class PbShards(cells: Long, rowTotals: Array[Long])

  /** Write the sharded co-occurrence matrix in the reference's own output
    * format: one `shard-RRR-CCC.pb` file per (row_shard, col_shard), each a
    * serialized Example with the shard's row/col id lists and its nonzero
    * cells in (local_row, local_col) order —
    *   global_row / global_col : Int64List, ids k*numShards + shardIdx
    *   sparse_local_row/col    : Int64List, one entry per nonzero cell
    *   sparse_value            : FloatList, the cell weights
    * `cells` is a counts relation (row_id, col_id, n1..nW) whose cells may
    * be split over several rows (`SwivelPrep.partialCounts`, or the
    * merged `cellCounts`), or a weighted relation as `SwivelPrep.shard`
    * returns it (global_row, global_col, weight; one row per cell).
    *
    * The rows shuffle once, on the row stripe row_id % numShards, into
    * exactly numShards tasks (`Sources.writeShardFiles`). Each task sorts
    * its stripe by (col_id % numShards, row_id, col_id), sums each cell's
    * partial n_k, weighs it (`SwivelPrep.cellWeight`), writes the stripe's
    * files and returns the n_k totals of its rows; nothing shard-sized
    * ever sits on the driver. A rerun into the same `dir` first deletes
    * the old grid; an empty vocabulary has zero shards, so the old grid is
    * deleted and no file is written.
    */
  def writeSwivelPbShards(cells: DataFrame, numShards: Int, vocabSize: Int,
      dir: String): PbShards = {
    val rowsPerShard = if (numShards == 0) 0 else vocabSize / numShards
    require(numShards >= 0 && rowsPerShard * numShards == vocabSize,
      s"vocabSize $vocabSize must be a multiple of numShards $numShards")
    val w = cells.columns.count(_.matches("n\\d+"))
    val (rowId, colId) =
      if (w == 0) (col("global_row"), col("global_col")) else (col("row_id"), col("col_id"))
    val values = if (w == 0) Seq(col("weight").cast("double")) else (1 to w).map(k => col(s"n$k"))
    val stripes = math.max(numShards, 1)
    val rows = cells.select(Seq((rowId % stripes).as("row_shard"), (colId % stripes).as("col_shard"),
      rowId.cast("long").as("row_id"), colId.cast("long").as("col_id")) ++ values: _*)
    // a stripe's cells in (col_shard, row_id, col_id) order as one long,
    // below vocabSize², so the sort compares prefixes only
    val order = expr(s"(col_shard * $rowsPerShard + row_id div $stripes) * $vocabSize + col_id")
    import cells.sparkSession.implicits._
    val (written, totals) = Sources.writeShardFiles(rows, dir, "shard-*.pb",
      Seq("row_shard", "col_shard"), Seq(order), r => pbName(r.getLong(0), r.getLong(1)),
      stripes)(() => new StripeTask(numShards, rowsPerShard, w))
    // the reference layout contains ALL numShards² files — a shard with
    // zero nonzero cells still carries its global id stripes. Such pairs
    // never appear in `cells`, so backfill them here (each missing file
    // is a few hundred bytes; the loop touches only the holes, usually
    // none on a dense co-occurrence matrix)
    for (r <- 0L until numShards; c <- 0L until numShards) {
      val p = java.nio.file.Paths.get(dir, pbName(r, c))
      if (!java.nio.file.Files.exists(p))
        java.nio.file.Files.write(p, shardExample(r, c, numShards, rowsPerShard, Nil, Nil, Nil))
    }
    val rowTotals = new Array[Long](if (w == 0) 0 else vocabSize * w)
    for ((r, t) <- totals.flatten; local <- 0 until rowsPerShard)
      System.arraycopy(t, local * w, rowTotals, (local * numShards + r.toInt) * w, w)
    PbShards(written.map(_._2).sum, rowTotals)
  }

  /** One stripe task of `writeSwivelPbShards` over rows (row_shard,
    * col_shard, row_id, col_id, n1..nW | weight) sorted by (col_shard,
    * row_id, col_id): encodes each shard, and keeps the n_k totals of
    * each stripe's rows by local row. */
  private final class StripeTask(numShards: Int, rowsPerShard: Int, w: Int)
      extends Sources.ShardTask[Seq[(Long, Array[Long])]] {
    private val totals = scala.collection.mutable.LinkedHashMap.empty[Long, Array[Long]]
    private val n = new Array[Long](w)

    def encode(out: java.io.OutputStream, shard: Iterator[Row]): Long = {
      val rows = shard.buffered
      val (r, c) = (rows.head.getLong(0), rows.head.getLong(1))
      val rowTotals = totals.getOrElseUpdate(r, new Array[Long](rowsPerShard * w))
      val localRows, localCols = Seq.newBuilder[Long]
      val weights = Seq.newBuilder[Float]
      var cells = 0L
      while (rows.hasNext) {
        val first = rows.next()
        val (x, y) = (first.getLong(2), first.getLong(3))
        val weight = if (w == 0) first.getDouble(4) else {
          for (k <- 0 until w) n(k) = first.getLong(4 + k)
          while (rows.hasNext && rows.head.getLong(2) == x && rows.head.getLong(3) == y) {
            val more = rows.next()
            for (k <- 0 until w) n(k) += more.getLong(4 + k)
          }
          val at = (x / numShards).toInt * w
          for (k <- 0 until w) rowTotals(at + k) += n(k)
          SwivelPrep.cellWeight(n, 0, w)
        }
        localRows += x / numShards
        localCols += y / numShards
        weights += weight.toFloat
        cells += 1
      }
      out.write(shardExample(r, c, numShards, rowsPerShard, localRows.result(),
        localCols.result(), weights.result()))
      cells
    }

    def result: Seq[(Long, Array[Long])] = totals.toSeq
  }

  private def pbName(r: Long, c: Long): String = f"shard-$r%03d-$c%03d.pb"

  /** One shard's Example: global id stripes + the (possibly empty)
    * sparse cell lists in (local_row, local_col) order. */
  private def shardExample(r: Long, c: Long, numShards: Int, rowsPerShard: Int,
      localRows: Seq[Long], localCols: Seq[Long], weights: Seq[Float]): Array[Byte] =
    example(Seq(
      "global_row" -> int64Feature((0 until rowsPerShard).map(k => k.toLong * numShards + r)),
      "global_col" -> int64Feature((0 until rowsPerShard).map(k => k.toLong * numShards + c)),
      "sparse_local_row" -> int64Feature(localRows),
      "sparse_local_col" -> int64Feature(localCols),
      "sparse_value" -> floatFeature(weights)))
}
