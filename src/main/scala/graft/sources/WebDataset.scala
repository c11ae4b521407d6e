package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** WebDataset tar-shard sink + source (the webdataset.github.io loader
  * convention: a POSIX ustar archive per shard, each sample a run of
  * consecutive entries sharing a basename — `000000017.json` +
  * `000000017.txt`), hand-rolled like the TFRecord/Avro drivers: the
  * container format is driven directly — no tar library on this offline
  * classpath, and the format is 512-byte block arithmetic.
  *
  * Determinism: ustar headers carry mode 0644, uid/gid 0, mtime 0 —
  * byte-identical archives for identical inputs at any parallelism
  * (entries sorted by doc_id within a shard), which is what lets the
  * ORACLE compute the exact tar byte count from column lengths alone:
  * size = 1024 (trailer) + Σ per entry (512 header + data rounded up to
  * 512). The reader re-verifies every header checksum, so a corrupted
  * block fails loudly, not as silently-wrong training data.
  */
object WebDataset {

  /** value as `width-1` zero-padded octal digits + NUL (the ustar
    * numeric-field convention). */
  private def octal(v: Long, width: Int): Array[Byte] = {
    val s = java.lang.Long.toOctalString(v)
    ("0" * (width - 1 - s.length) + s + "\u0000").getBytes("US-ASCII")
  }

  /** One POSIX ustar entry: 512-byte header + data + zero pad to the
    * next block boundary. */
  private[graft] def tarEntry(name: String, data: Array[Byte]): Array[Byte] = {
    val h = new Array[Byte](512)
    val nameB = name.getBytes("US-ASCII")
    require(nameB.length <= 100, s"tar name too long: $name")
    System.arraycopy(nameB, 0, h, 0, nameB.length)
    System.arraycopy(octal(0x1a4L, 8), 0, h, 100, 8) // mode 0644
    System.arraycopy(octal(0L, 8), 0, h, 108, 8) // uid
    System.arraycopy(octal(0L, 8), 0, h, 116, 8) // gid
    System.arraycopy(octal(data.length.toLong, 12), 0, h, 124, 12) // size
    System.arraycopy(octal(0L, 12), 0, h, 136, 12) // mtime
    java.util.Arrays.fill(h, 148, 156, ' '.toByte) // chksum = spaces while summing
    h(156) = '0' // typeflag: regular file
    System.arraycopy(("ustar\u0000" + "00").getBytes("US-ASCII"), 0, h, 257, 8)
    var sum = 0L
    var i = 0
    while (i < 512) { sum += h(i) & 0xff; i += 1 }
    val cs = java.lang.Long.toOctalString(sum)
    System.arraycopy(("0" * (6 - cs.length) + cs + "\u0000 ").getBytes("US-ASCII"),
      0, h, 148, 8)
    val pad = (512 - data.length % 512) % 512
    h ++ data ++ new Array[Byte](pad)
  }

  /** Parse a tar stream into (name, data) entries, re-verifying every
    * header checksum; stops at the zero trailer block. */
  private[graft] def tarEntries(stream: Array[Byte]): Seq[(String, Array[Byte])] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Array[Byte])]
    var off = 0
    while (off + 512 <= stream.length && stream(off) != 0) {
      var sum = 0L
      var i = 0
      while (i < 512) {
        sum += (if (i >= 148 && i < 156) ' '.toByte else stream(off + i)) & 0xff
        i += 1
      }
      val stored = java.lang.Long.parseLong(
        new String(stream, off + 148, 6, "US-ASCII"), 8)
      require(stored == sum,
        s"tar header checksum mismatch at offset $off: stored $stored computed $sum")
      var e = off
      while (e < off + 100 && stream(e) != 0) e += 1
      val name = new String(stream, off, e - off, "US-ASCII")
      val size = java.lang.Long.parseLong(
        new String(stream, off + 124, 11, "US-ASCII"), 8).toInt
      out += ((name, java.util.Arrays.copyOfRange(
        stream, off + 512, off + 512 + size)))
      off += 512 + ((size + 511) / 512) * 512
    }
    out.toSeq
  }

  /** The per-sample metadata JSON — built identically by the oracle as a
    * string concatenation, so its BYTE length is gate-checkable. */
  private def metaJson(docId: Long, lang: String, nTokens: Long): String =
    s"""{"doc_id":$docId,"lang":"$lang","n_tokens":$nTokens}"""

  /** Write one `docs-SSS.tar` per shard on `Sources.writeShardFiles`:
    * each doc contributes `%09d.json` (metadata) then `%09d.txt`
    * (payload), docs sorted by id, then the 1024-byte zero trailer.
    * Input: (shard long, doc_id long, text, lang, n_tokens long). */
  def writeDocShards(docs: DataFrame, dir: String): Unit =
    Sources.writeShardFiles(
      docs.select(col("shard").cast("long"), col("doc_id").cast("long"),
        col("text"), col("lang"), col("n_tokens").cast("long")),
      dir, "docs-*.tar", Seq("shard"), Seq("doc_id"),
      r => f"docs-${r.getLong(0)}%03d.tar") { (out, shard) =>
      val n = shard.foldLeft(0L) { (n, r) =>
        val base = f"${r.getLong(1)}%09d"
        out.write(tarEntry(s"$base.json",
          metaJson(r.getLong(1), r.getString(3), r.getLong(4)).getBytes("UTF-8")))
        out.write(tarEntry(s"$base.txt", r.getString(2).getBytes("UTF-8")))
        n + 1
      }
      out.write(new Array[Byte](1024)) // tar trailer
      n
    }

  /** Read the tar shards back into (doc_id, text, meta); entries are
    * paired by basename inside the reading task. */
  def readDocShards(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Sources.readShardFiles(spark, dir, "docs-*.tar")
      .flatMap { case (_, stream) =>
        tarEntries(stream)
          .groupBy(_._1.takeWhile(_ != '.'))
          .toSeq
          .map { case (base, entries) =>
            val byExt = entries.map { case (n, d) =>
              n.dropWhile(_ != '.') -> d
            }.toMap
            (base.toLong,
              new String(byExt(".txt"), "UTF-8"),
              new String(byExt(".json"), "UTF-8"))
          }
      }
      .toDF("doc_id", "text", "meta")
  }
}
