package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import graft.sources.TfExample
import graft.swivel.SwivelPrep

/** Byte-level proof of the hand-rolled tensorflow.Example encoding
  * (SURVEY §2.1 format parity): golden bytes derived by hand from the
  * protobuf wire spec, an INDEPENDENT mini-parser round-trip (written
  * against the spec, not the encoder), and the end-to-end Swivel shard
  * `.pb` sink against the shard relation.
  */
class TfExampleSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // ---- independent mini-parser (wire spec only: varints + len-delim) ----
  private class Reader(b: Array[Byte], var pos: Int = 0) {
    def hasMore(end: Int): Boolean = pos < end
    def varint(): Long = {
      var shift = 0; var v = 0L; var more = true
      while (more) {
        val x = b(pos); pos += 1
        v |= (x & 0x7fL) << shift; shift += 7; more = (x & 0x80) != 0
      }
      v
    }
    def lenDelim(): (Int, Int) = { val n = varint().toInt; val s = pos; pos += n; (s, s + n) }
  }

  /** Parse a serialized Example into name -> (int64s, floats). */
  private def parseExample(bytes: Array[Byte]): Map[String, (Seq[Long], Seq[Float])] = {
    val r = new Reader(bytes)
    assert(r.varint() == 0x0a, "Example.features tag")           // field 1, wire 2
    val (fs, fe) = r.lenDelim()
    val out = scala.collection.mutable.LinkedHashMap.empty[String, (Seq[Long], Seq[Float])]
    r.pos = fs
    while (r.hasMore(fe)) {
      assert(r.varint() == 0x0a, "Features.feature entry tag")   // field 1, wire 2
      val (es, ee) = r.lenDelim()
      r.pos = es
      assert(r.varint() == 0x0a, "map key tag")
      val (ks, ke) = r.lenDelim()
      val key = new String(bytes.slice(ks, ke), "UTF-8")
      r.pos = ke
      assert(r.varint() == 0x12, "map value tag")                // field 2, wire 2
      val (vs, ve) = r.lenDelim()
      r.pos = vs
      val kind = r.varint()                                      // Feature oneof
      val (ls, le) = r.lenDelim()
      r.pos = ls
      assert(r.varint() == 0x0a, "packed list tag")
      val (ps, pe) = r.lenDelim()
      kind match {
        case 0x1a =>                                             // Int64List
          val vals = scala.collection.mutable.ArrayBuffer.empty[Long]
          r.pos = ps
          while (r.hasMore(pe)) vals += r.varint()
          out(key) = (vals.toSeq, Nil)
        case 0x12 =>                                             // FloatList
          val bb = java.nio.ByteBuffer.wrap(bytes, ps, pe - ps)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          val vals = (0 until (pe - ps) / 4).map(_ => bb.getFloat)
          out(key) = (Nil, vals)
        case k => fail(s"unexpected Feature kind tag $k")
      }
      r.pos = ee
    }
    assert(r.pos == bytes.length)
    out.toMap
  }

  test("golden bytes: Example{v: Int64List[1, 300]} matches the wire spec by hand") {
    // varint(300) = AC 02; Int64List = 0A 03 01 AC 02; Feature(field 3) =
    // 1A 05 ...; entry = key(0A 01 76) + value(12 07 ...) wrapped 0A 0C;
    // Example = 0A 0E <Features>
    val got = TfExample.example(Seq("v" -> TfExample.int64Feature(Seq(1L, 300L))))
    val want = Array(
      0x0a, 0x0e, 0x0a, 0x0c, 0x0a, 0x01, 0x76, 0x12, 0x07, 0x1a, 0x05,
      0x0a, 0x03, 0x01, 0xac, 0x02).map(_.toByte)
    assert(got.toSeq == want.toSeq)
  }

  test("golden bytes: FloatList carries packed little-endian IEEE754") {
    // 1.5f = 3FC00000 big-endian -> 00 00 C0 3F little-endian
    val got = TfExample.floatFeature(Seq(1.5f))
    assert(got.toSeq == Array(0x12, 0x06, 0x0a, 0x04, 0x00, 0x00, 0xc0, 0x3f)
      .map(_.toByte).toSeq)
  }

  test("independent parser round-trips a mixed Example") {
    val ex = TfExample.example(Seq(
      "ids" -> TfExample.int64Feature(Seq(0L, 7L, 1234567L)),
      "ws" -> TfExample.floatFeature(Seq(0.25f, -3.5f))))
    val parsed = parseExample(ex)
    assert(parsed("ids")._1 == Seq(0L, 7L, 1234567L))
    assert(parsed("ws")._2 == Seq(0.25f, -3.5f))
  }

  test("TFRecord frame: length + masked CRC32C framing verifies") {
    val payload = "hello tfrecord".getBytes("UTF-8")
    val frame = TfExample.tfRecordFrame(payload)
    val bb = java.nio.ByteBuffer.wrap(frame).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    assert(bb.getLong(0) == payload.length.toLong)
    assert(frame.slice(12, 12 + payload.length).toSeq == payload.toSeq)
    def mask(v: Int) = ((v >>> 15) | (v << 17)) + 0xa282ead8
    val c1 = new java.util.zip.CRC32C; c1.update(frame, 0, 8)
    assert(bb.getInt(8) == mask(c1.getValue.toInt))
    val c2 = new java.util.zip.CRC32C; c2.update(payload)
    assert(bb.getInt(12 + payload.length) == mask(c2.getValue.toInt))
  }

  test("bytes feature: golden wire bytes, doc-Example round-trip, frame stream + CRC fail-fast") {
    // BytesList{value: ["ab"]}: Feature field 1 (0x0a), BytesList len 4,
    // inner value field 1 (0x0a) len 2, bytes — assembled by hand
    val bf = TfExample.bytesFeature(Seq("ab".getBytes("UTF-8")))
    assert(bf.toSeq == Seq(0x0a, 0x04, 0x0a, 0x02, 'a'.toByte, 'b'.toByte).map(_.toByte))
    // doc Example: int64 + bytes features parse back exactly
    val ex = TfExample.example(Seq(
      "id" -> TfExample.int64Feature(Seq(42L)),
      "text" -> TfExample.bytesFeature(Seq("hello world".getBytes("UTF-8")))))
    val parsed = TfExample.parseExample(ex)
    assert(parsed("id").int64 == Seq(42L))
    assert(new String(parsed("text").bytes.head, "UTF-8") == "hello world")
    // a two-record frame stream splits back into both payloads
    val ex2 = TfExample.example(Seq("id" -> TfExample.int64Feature(Seq(7L))))
    val stream = TfExample.tfRecordFrame(ex) ++ TfExample.tfRecordFrame(ex2)
    val frames = TfExample.tfRecordFrames(stream)
    assert(frames.length == 2 && frames(0).toSeq == ex.toSeq && frames(1).toSeq == ex2.toSeq)
    // corrupting one payload byte must fail fast, not silently drop data
    val corrupt = stream.clone(); corrupt(13) = (corrupt(13) ^ 0x01).toByte
    intercept[IllegalArgumentException] { TfExample.tfRecordFrames(corrupt) }
  }

  test("decoder accepts canonical-writer variants: omitted empty field, chunked packed list") {
    // canonical protobuf encoders OMIT an empty packed field (Feature
    // message of zero length) and may split a repeated packed field into
    // MULTIPLE chunks — our own encoder does neither, so build the bytes
    // by hand from the wire spec.
    def b(xs: Int*) = xs.map(_.toByte).toArray
    // entry 1: key "e" -> Feature with EMPTY Int64List (field omitted):
    //   value message is empty (len 0)
    val emptyEntry = b(0x0a, 0x05, 0x0a, 0x01, 'e', 0x12, 0x00)
    // entry 2: key "x" -> Int64List [1] and [300] as TWO packed chunks
    //   list msg: 0A 01 01  0A 02 AC 02  (7 bytes); Feature: 1A 07 ...
    val chunked = b(0x0a, 0x0e, 0x0a, 0x01, 'x', 0x12, 0x09,
      0x1a, 0x07, 0x0a, 0x01, 0x01, 0x0a, 0x02, 0xac, 0x02)
    val payload = emptyEntry ++ chunked
    val ex = b(0x0a, payload.length) ++ payload
    val parsed = graft.sources.TfExample.parseExample(ex)
    assert(parsed("e") == TfExample.Feature(Nil, Nil, Nil))
    assert(parsed("x").int64 == Seq(1L, 300L))
  }

  test("decoder fails fast on an unknown Feature kind") {
    // key "k" -> Feature field 4 (tag 0x22), an empty message
    val entry = Seq(0x0a, 0x01, 'k', 0x12, 0x02, 0x22, 0x00).map(_.toByte).toArray
    val body = Array(0x0a.toByte, entry.length.toByte) ++ entry
    val ex = Array(0x0a.toByte, body.length.toByte) ++ body
    intercept[IllegalArgumentException](TfExample.parseExample(ex))
  }

  test("writeSwivelPbShards backfills empty shards so the full grid exists") {
    // a 1-doc corpus where tokens 'a','b' co-occur but some shard pairs
    // get no cells — every numShards² file must still exist and decode
    // to its global id stripes with empty sparse lists
    val docs = Seq((0L, "a a b")).toDF("doc_id", "text")
    val vocab = SwivelPrep.buildVocab(docs, minCount = 1, shardSize = 1)
    val vocabSize = vocab.count().toInt
    val numShards = vocabSize // shardSize = 1
    val shards = SwivelPrep.shard(SwivelPrep.cooc(docs, vocab, 2), vocab, 1)
    val dir = Files.createTempDirectory("graft_pb_grid").toString
    TfExample.writeSwivelPbShards(SwivelPrep.cellCounts(docs, vocab, 2), numShards, vocabSize,
      dir)
    val files = new java.io.File(dir).listFiles().map(_.getName).toSet
    val expected = (for (r <- 0 until numShards; c <- 0 until numShards)
      yield f"shard-$r%03d-$c%03d.pb").toSet
    assert(files == expected, s"grid incomplete: ${expected -- files}")
    // an empty shard still decodes with its stripes
    val present = shards.select("row_shard", "col_shard").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val holes = (for (r <- 0L until numShards; c <- 0L until numShards)
      yield (r, c)).filterNot(present)
    holes.headOption.foreach { case (r, c) =>
      val f = parseExample(Files.readAllBytes(
        Paths.get(f"$dir/shard-$r%03d-$c%03d.pb")))
      assert(f("global_row")._1.nonEmpty)
      assert(f("sparse_local_row")._1.isEmpty)
    }
  }

  test("readSwivelPbShards: write -> read round-trips the shard relation at float precision") {
    val docs = Seq((0L, "a a b b c c d d"), (1L, "a b c d a b c d"))
      .toDF("doc_id", "text")
    val vocab = SwivelPrep.buildVocab(docs, minCount = 1, shardSize = 2)
    val vocabSize = vocab.count().toInt
    val numShards = vocabSize / 2
    val shards = SwivelPrep.shard(SwivelPrep.cooc(docs, vocab, 2), vocab, 2)
    val dir = Files.createTempDirectory("graft_pb_rt").toString
    TfExample.writeSwivelPbShards(shards, numShards, vocabSize, dir)
    val back = TfExample.readSwivelPbShards(spark, dir)
      .orderBy("row_shard", "col_shard", "local_row", "local_col")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getFloat(6)))
      .toSeq
    val want = shards
      .orderBy("row_shard", "col_shard", "local_row", "local_col")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6).toFloat))
      .toSeq
    assert(back == want)
    assert(back.nonEmpty)
  }

  test("Swivel .pb shard sink: files decode back to exactly the shard relation") {
    val docs = Seq((0L, "a a b b c c d d"), (1L, "a b c d a b c d"))
      .toDF("doc_id", "text")
    val vocab = SwivelPrep.buildVocab(docs, minCount = 1, shardSize = 2)
    val vocabSize = vocab.count().toInt
    val numShards = vocabSize / 2
    val shards = SwivelPrep.shard(SwivelPrep.cooc(docs, vocab, 2), vocab, 2)
    val dir = Files.createTempDirectory("graft_pb").toString
    TfExample.writeSwivelPbShards(shards, numShards, vocabSize, dir)
    val want = shards
      .select("row_shard", "col_shard", "local_row", "local_col", "weight")
      .as[(Long, Long, Long, Long, Double)].collect()
      .groupBy(t => (t._1, t._2))
    assert(want.nonEmpty)
    want.foreach { case ((r, c), cells) =>
      val path = Paths.get(f"$dir/shard-$r%03d-$c%03d.pb")
      assert(Files.exists(path), s"missing shard file $path")
      val parsed = parseExample(Files.readAllBytes(path))
      // row/col id lists are the shard's full global-id stripes
      assert(parsed("global_row")._1 ==
        (0 until vocabSize / numShards).map(k => k.toLong * numShards + r))
      assert(parsed("global_col")._1 ==
        (0 until vocabSize / numShards).map(k => k.toLong * numShards + c))
      // sparse cells in (local_row, local_col) order with float weights
      val sorted = cells.sortBy(t => (t._3, t._4))
      assert(parsed("sparse_local_row")._1 == sorted.map(_._3).toSeq)
      assert(parsed("sparse_local_col")._1 == sorted.map(_._4).toSeq)
      assert(parsed("sparse_value")._2 == sorted.map(_._5.toFloat).toSeq)
    }
  }

  test("writeSwivelPbShards: split counts, merged counts and the shard relation write the same files") {
    import org.apache.spark.sql.functions.{col, expr}
    val docs = Seq((0L, "a a b b c c d d"), (1L, "a b c d a b c d"), (2L, "d c b a a"))
      .toDF("doc_id", "text")
    val vocab = SwivelPrep.buildVocab(docs, minCount = 1, shardSize = 2)
    val (vocabSize, numShards, w) = (4, 2, 3)
    val counts = SwivelPrep.cellCounts(docs, vocab, w)
    // every cell's counts in two rows, as the pair tasks may split them
    def part(f: Int => String) =
      counts.select(col("row_id") +: col("col_id") +: (1 to w).map(k => expr(f(k)).as(s"n$k")): _*)
    val split = part(k => s"n$k div 2").union(part(k => s"n$k - n$k div 2"))
    def write(cells: org.apache.spark.sql.DataFrame) = {
      val dir = Files.createTempDirectory("graft_pb_forms").toString
      (dir, TfExample.writeSwivelPbShards(cells, numShards, vocabSize, dir))
    }
    def files(dir: String) = new java.io.File(dir).listFiles().sortBy(_.getName)
      .map(f => f.getName -> Files.readAllBytes(f.toPath).toSeq).toSeq
    val (splitDir, fromSplit) = write(split)
    val (countsDir, fromCounts) = write(counts)
    val (shardsDir, fromShards) = write(SwivelPrep.shard(SwivelPrep.cellsFromCounts(counts, w),
      vocab, 2))
    assert(files(splitDir).length == numShards * numShards)
    assert(files(splitDir) == files(countsDir))
    assert(files(splitDir) == files(shardsDir))
    assert(fromSplit.cells == counts.count())
    assert(fromCounts.cells == fromSplit.cells && fromShards.cells == fromSplit.cells)
    // the row totals are each row's summed n_k, which weigh to the marginals
    assert(fromSplit.rowTotals.toSeq == fromCounts.rowTotals.toSeq)
    assert(fromShards.rowTotals.isEmpty)
    val marg = SwivelPrep.marginalsFromCounts(counts, w).as[(Long, Double)].collect().toMap
    assert((0 until vocabSize).map(id => SwivelPrep.cellWeight(fromSplit.rowTotals, id * w, w)) ==
      (0 until vocabSize).map(id => marg.getOrElse(id.toLong, 0.0)))
  }
}
