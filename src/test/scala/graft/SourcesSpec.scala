package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import graft.sources.Sources
import graft.swivel.SwivelPrep

/** Sources/sinks round-trips (SURVEY §2.1). */
class SourcesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("textCorpus: one doc per line, unique ids; contiguous ids dense") {
    val dir = Files.createTempDirectory("graft_txt").toFile
    val f = new java.io.File(dir, "corpus.txt")
    Files.write(f.toPath, "a b a\nc d\ne".getBytes)
    val df = Sources.textCorpus(spark, f.getAbsolutePath)
    assert(df.count() == 3)
    assert(df.select("doc_id").distinct().count() == 3)
    assert(df.select("text").as[String].collect().toSet == Set("a b a", "c d", "e"))
    val dense = Sources.textCorpus(spark, f.getAbsolutePath, contiguousIds = true)
    assert(dense.select("doc_id").as[Long].collect().sorted.toSeq == Seq(0L, 1L, 2L))
  }

  test("writeShards: partitioned layout round-trips the shard relation") {
    val docs = Seq((0L, "a a b b c c d d"), (1L, "a b c d a b c d"))
      .toDF("doc_id", "text")
    val vocab = SwivelPrep.buildVocab(docs, minCount = 1, shardSize = 2)
    val shards = SwivelPrep.shard(SwivelPrep.cooc(docs, vocab, 2), vocab, 2)
    val out = Files.createTempDirectory("graft_shards").toString
    Sources.writeShards(shards, out)
    val back = spark.read.parquet(out)
    assert(back.count() == shards.count())
    // partition columns survive as columns; per-shard dirs exist
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.exists(_.startsWith("row_shard=")))
    val a = shards.orderBy("global_row", "global_col")
      .select("row_shard", "col_shard", "global_row", "global_col", "weight")
      .collect().toSeq
    // partition-dir values re-infer as int — cast back to the written type
    import org.apache.spark.sql.functions.col
    val b = back.orderBy("global_row", "global_col")
      .select(col("row_shard").cast("long"), col("col_shard").cast("long"),
        col("global_row"), col("global_col"), col("weight"))
      .collect().toSeq
    assert(a == b)
  }

  test("vocab side output round-trips") {
    val docs = Seq((0L, "x x y y")).toDF("doc_id", "text")
    val vocab = SwivelPrep.buildVocab(docs, minCount = 1, shardSize = 2)
    val out = Files.createTempDirectory("graft_vocab").toString
    Sources.writeSideOutput(vocab, out)
    assert(spark.read.parquet(out).orderBy("id").collect().toSeq ==
      vocab.orderBy("id").collect().toSeq)
  }

  test("bucketed tables sort-merge join with ZERO shuffle (co-located join)") {
    import org.apache.spark.sql.functions.col
    val d = "/root/testdata/sf0.001"
    val dir1 = Files.createTempDirectory("graft_bkt_o").toString
    val dir2 = Files.createTempDirectory("graft_bkt_c").toString
    Sources.writeBucketed(Tables.orders(spark, d)
      .select("o_orderkey", "o_custkey", "o_totalprice"),
      "b_orders", dir1, buckets = 4, key = "o_custkey")
    Sources.writeBucketed(Tables.customer(spark, d)
      .select("c_custkey", "c_name"),
      "b_customer", dir2, buckets = 4, key = "c_custkey")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
    try {
      val joined = spark.table("b_orders")
        .join(spark.table("b_customer"),
          col("o_custkey") === col("c_custkey"))
      joined.collect() // materialize → final AQE plan
      val p = joined.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(p.contains("SortMergeJoin"))
      // the whole point of the bucketed layout: both sides are already
      // hash-distributed and sorted on the join key — no Exchange at all
      assert(!p.contains("Exchange"), s"bucketed join still shuffles:\n$p")
      assert(joined.count() ==
        Tables.orders(spark, d).join(Tables.customer(spark, d),
          col("o_custkey") === col("c_custkey")).count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_customer")
    }
  }

  test("join_bucketed declared key: no Exchange below the SortMergeJoin") {
    import graft.ops.Extras
    // an own session: the `finally` drops the tables its memo entry
    // points at, which must not be the shared session's entry
    val s = spark.newSession()
    try {
      val df = Extras.joinBucketedPlan(s, "/root/testdata/sf0.001")
      df.collect() // materialize → final AQE plan
      val p = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(p.contains("SortMergeJoin"), s"expected SMJ:\n$p")
      // An unbucketed orders⋈lineitem SMJ needs one Exchange per side
      // BELOW the join plus the aggregate/sort shuffles above it. The
      // bucketed layout removes exactly the below-join pair, so the whole
      // plan carries at most 2 Exchanges (hash agg + range sort), and the
      // SMJ's subtree (everything printed after the join node) has none.
      val exchanges = "Exchange".r.findAllIn(p).size
      assert(exchanges <= 2, s"expected <=2 Exchanges (above-join only), got $exchanges:\n$p")
      val belowJoin = p.substring(p.indexOf("SortMergeJoin"))
      assert(!belowJoin.contains("Exchange"),
        s"bucketed join key still shuffles below the join:\n$belowJoin")
    } finally {
      val sfx = graft.ops.Extras.bucketedTableSuffix(s, "/root/testdata/sf0.001")
      s.sql(s"DROP TABLE IF EXISTS graft_bkt_orders_$sfx")
      s.sql(s"DROP TABLE IF EXISTS graft_bkt_lineitem_$sfx")
    }
  }

  test("csv/json round-trip preserves quoting-hostile strings and doubles exactly") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    // the values the scan_csv/scan_json keys rely on surviving: doubles
    // via shortest-repr round-trip, strings through the quoting path
    val src = Seq(
      (1L, "plain", 0.1),
      (2L, "comma, inside", 0.1 + 0.2),          // 0.30000000000000004
      (3L, "he said \"hi\"", 1.23e-11),
      (4L, "trailing space ", -9876543.2101))
      .toDF("k", "s", "v")
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("s", StringType), StructField("v", DoubleType)))
    val dir = sys.props("java.io.tmpdir") + "/graft_fmt_spec"
    src.write.mode("overwrite").option("header", "true")
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .csv(s"$dir/csv")
    val csvBack = spark.read.option("header", "true").schema(schema).csv(s"$dir/csv")
    assert(csvBack.except(src).isEmpty && src.except(csvBack).isEmpty,
      "csv round-trip changed values")
    src.write.mode("overwrite").json(s"$dir/json")
    val jsonBack = spark.read.schema(schema).json(s"$dir/json")
    assert(jsonBack.except(src).isEmpty && src.except(jsonBack).isEmpty,
      "json round-trip changed values")
  }

  test("avro OCF round-trip preserves hostile values exactly; schema read from container") {
    // adversarial rows for every schema field: non-representable and
    // negative doubles, unicode + quote-hostile strings, negative int,
    // Long.MinValue-adjacent key — all must survive the deflate-coded
    // container byte-exactly, with the reader taking the schema from
    // the file itself (null reader schema).
    val src = Seq(
      (0L, "plain", 7, 0.1, "AUTO"),
      (3L, "comma, \"quoted\" — ünïcode", -3, 0.1 + 0.2, "HOUSE"),
      (5L, "trailing space ", 0, -9.87e-300, "HOUSE"),
      (9007199254740993L, "", 24, -0.0, "AUTO"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .withColumn("shard", org.apache.spark.sql.functions.col("c_custkey") % 2)
    val dir = sys.props("java.io.tmpdir") + "/graft_avro_spec"
    graft.sources.AvroFile.writeCustomerAvro(src, dir)
    val back = graft.sources.AvroFile.readCustomerAvro(spark, dir)
    val want = src.drop("shard")
    assert(back.except(want).isEmpty && want.except(back).isEmpty,
      "avro round-trip changed values")
    assert(back.count() == 4)
    // shard ownership: one container file per shard value
    val files = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(files == Set("customer-000.avro", "customer-001.avro"), files)
  }

  test("avro: a rerun with fewer shards reads back exactly its own rows") {
    import org.apache.spark.sql.functions.{col, lit}
    val dir = Files.createTempDirectory("graft_avro_rerun").toString
    def rows(keys: Seq[Long], shards: Int) =
      keys.map(k => (k, s"c$k", k.toInt, k * 0.5, "AUTO"))
        .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
        .withColumn("shard", col("c_custkey") % lit(shards.toLong))
    graft.sources.AvroFile.writeCustomerAvro(rows(Seq(1L, 2L, 3L, 4L), 2), dir)
    val second = rows(Seq(10L, 11L), 1)
    graft.sources.AvroFile.writeCustomerAvro(second, dir)
    val back = graft.sources.AvroFile.readCustomerAvro(spark, dir)
    assert(back.orderBy("c_custkey").collect().toSeq ==
      second.drop("shard").orderBy("c_custkey").collect().toSeq)
  }

  test("scan_partitioned declared key: partition-pruned to 2 of 5 directories") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val df = graft.ops.Scale.scanPartitionedPlan(spark, "/root/testdata/sf0.001")
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // the predicate must live in PartitionFilters (directory-level prune),
    // NOT as a row-level data filter over a full scan
    assert(p.contains("PartitionFilters") && p.contains("event_type"),
      s"no partition filter on the scan:\n$p")
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[Long] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case s: QueryStageExec        => scans(s.plan)
      case f: FileSourceScanExec    => Seq(f.selectedPartitions.partitionCount)
      case other                    => other.children.flatMap(scans)
    }
    val counts = scans(df.queryExecution.executedPlan)
    assert(counts == Seq(2),
      s"expected exactly the 2 matching partitions selected, got $counts")
  }

  test("maintenance_compact: 64 fragments -> 4 files, relation preserved, no shuffle") {
    val d = "/root/testdata/sf0.001"
    graft.ops.Formats.compactPlan(spark, d).collect()
    val root = graft.ops.QueryDef.tmpRoot("fmt", d) + "/compact"
    def parquets(p: String) =
      new java.io.File(p).listFiles.count(_.getName.endsWith(".parquet"))
    assert(parquets(s"$root/fragmented") == 64,
      "fragmentation stage must produce 64 small files")
    assert(parquets(s"$root/compacted") == 4,
      "compaction must land exactly the 4 coalesced files")
    val frag = spark.read.parquet(s"$root/fragmented")
    val comp = spark.read.parquet(s"$root/compacted")
    assert(frag.count() == comp.count(), "compaction changed the row count")
    // coalesce is a narrow repack: the compaction job must carry NO Exchange
    val plan = graft.ops.Formats.compactWrite(spark, root)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"compaction shuffled:\n$plan")
  }

  test("join_dpp declared key: RUNTIME dynamic partition pruning reads 2 of 5 directories") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val df = graft.ops.Scale.joinDppPlan(spark, "/root/testdata/sf0.001")
    df.collect()
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case s: QueryStageExec        => scans(s.plan)
      case f: FileSourceScanExec    => Seq(f)
      case other                    => other.children.flatMap(scans)
    }
    val all = scans(df.queryExecution.executedPlan)
    // the fact scan must carry a dynamicpruningexpression partition filter
    // (no static predicate on event_type exists anywhere in the query —
    // the prune can only come from the dim side at run time)
    val fact = all.filter(_.toString.contains("dynamicpruning"))
    assert(fact.nonEmpty,
      s"no dynamicpruningexpression on any scan:\n${df.queryExecution.executedPlan}")
    val n = fact.head.metrics("numPartitions").value
    assert(n == 2, s"expected the 2 surviving partitions read at runtime, got $n")
  }

  test("WebDataset tar: entry round-trip, checksum verification, and system-tar interop") {
    import graft.sources.WebDataset
    val meta = """{"doc_id":4,"lang":"es","n_tokens":41}""".getBytes("UTF-8")
    val text = "hello tar world".getBytes("UTF-8")
    val stream = WebDataset.tarEntry("000000004.json", meta) ++
      WebDataset.tarEntry("000000004.txt", text) ++ new Array[Byte](1024)
    // own-reader round trip (checksums re-verified inside tarEntries)
    val entries = WebDataset.tarEntries(stream)
    assert(entries.map(_._1) == Seq("000000004.json", "000000004.txt"))
    assert(new String(entries(1)._2, "UTF-8") == "hello tar world")
    assert(entries(0)._2.toSeq == meta.toSeq)
    // block arithmetic: header + 512-padded data per entry + 1024 trailer
    assert(stream.length == 512 + 512 + 512 + 512 + 1024)
    // a flipped payload byte inside the header block must fail the checksum
    val corrupt = stream.clone(); corrupt(60) = 'X'.toByte
    intercept[IllegalArgumentException](WebDataset.tarEntries(corrupt))
    // interop: the system tar must list and extract the archive
    val f = Files.createTempFile("graft_wds", ".tar")
    Files.write(f, stream)
    if (new java.io.File("/usr/bin/tar").exists() ||
        new java.io.File("/bin/tar").exists()) {
      import scala.sys.process._
      val names = Seq("tar", "-tf", f.toString).!!.trim.split("\n").toSeq
      assert(names == Seq("000000004.json", "000000004.txt"),
        s"system tar listed: $names")
      // !! appends a trailing newline to the captured stdout
      val payload = Seq("tar", "-xOf", f.toString, "000000004.txt").!!
      assert(payload.stripSuffix("\n") == "hello tar world")
    }
  }

  test("scan_jsonl_gz: 4 real gzip members (magic bytes), truncation fails loudly") {
    val q = graft.ops.Formats.all.find(_.name == "scan_jsonl_gz").get
    val d = "/root/testdata/sf0.001"
    assert(q.fn(spark, d).collect().nonEmpty)
    val pid = java.lang.ProcessHandle.current().pid()
    val staged = new java.io.File(sys.props("java.io.tmpdir"))
      .listFiles().filter(_.getName.startsWith(s"graft_fmt_p${pid}_"))
      .map(f => new java.io.File(f, "jsonlgz")).find(_.isDirectory).get
    val parts = staged.listFiles().filter(_.getName.endsWith(".gz"))
    assert(parts.length == 4, s"expected 4 gz members, got ${parts.length}")
    parts.foreach { f =>
      val b = Files.readAllBytes(f.toPath)
      assert((b(0) & 0xff) == 0x1f && (b(1) & 0xff) == 0x8b,
        s"${f.getName} is not gzip")
    }
    // a truncated member must fail the read, never silently drop rows
    val broken = Files.createTempDirectory("graft_gz_broken").toString
    parts.zipWithIndex.foreach { case (f, i) =>
      val b = Files.readAllBytes(f.toPath)
      val out = if (i == 0) b.take(b.length - 5).toArray else b
      Files.write(java.nio.file.Paths.get(broken, f.getName), out)
    }
    intercept[Exception] {
      spark.read.schema("doc_id LONG, lang STRING, text STRING")
        .json(broken).agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1))).collect()
    }
  }

  test("MdsShard: offset-table layout hand-decoded, probe seek, manifest, corruption detection") {
    import graft.sources.MdsShard
    import java.nio.{ByteBuffer, ByteOrder}
    val docs = Seq((0L, 7L, "alpha"), (0L, 9L, "bravo charlie"), (0L, 12L, "d"),
      (1L, 3L, "echo")).toDF("shard", "doc_id", "text")
    val dir = Files.createTempDirectory("graft_mds").toString
    MdsShard.writeDocShards(docs, dir)
    // hand-decode shard 0 (3 samples sorted by doc_id; header 4 + 4·4 = 20;
    // sample bytes 12+5, 12+13, 12+1 → offsets 20, 37, 62, 75)
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(s"$dir/docs-000.mds"))
    def u32(off: Int) =
      ByteBuffer.wrap(bytes, off, 4).order(ByteOrder.LITTLE_ENDIAN).getInt
    assert(u32(0) == 3)
    assert(Seq(u32(4), u32(8), u32(12), u32(16)) == Seq(20, 37, 62, 75))
    assert(bytes.length == 75)
    // random access: sample 1's doc_id read THROUGH the offset table
    assert(ByteBuffer.wrap(bytes, u32(8), 8)
      .order(ByteOrder.LITTLE_ENDIAN).getLong == 9L)
    // reader round-trip; probe = index n/2 (shard 0 → doc 9, shard 1 → doc 3)
    val got = MdsShard.readDocShards(spark, dir)
      .as[(Long, Long, Long, Boolean)].collect().toSet
    assert(got == Set((0L, 7L, 5L, false), (0L, 9L, 13L, true),
      (0L, 12L, 1L, false), (1L, 3L, 4L, true)), s"got $got")
    // the driver-written manifest names every shard with its exact size
    val idx = new String(
      Files.readAllBytes(java.nio.file.Paths.get(s"$dir/index.json")), "UTF-8")
    assert(idx.contains("""{"shard":"docs-000.mds","samples":3,"bytes":75}"""))
    assert(idx.contains("""{"shard":"docs-001.mds","samples":1,"bytes":28}"""))
    // a corrupted offset table must fail the framing check loudly
    val corrupt = bytes.clone(); corrupt(8) = (corrupt(8) ^ 1).toByte
    Files.write(java.nio.file.Paths.get(s"$dir/docs-000.mds"), corrupt)
    intercept[Exception](MdsShard.readDocShards(spark, dir).collect())
  }

  test("MdsShard: null text fails at write time naming the doc, not as an executor NPE") {
    import graft.sources.MdsShard
    val docs = Seq((0L, 7L, "ok"), (0L, 9L, null: String))
      .toDF("shard", "doc_id", "text")
    val dir = Files.createTempDirectory("graft_mds_null").toString
    val e = intercept[Exception](MdsShard.writeDocShards(docs, dir))
    // the require's message (with doc_id 9 named) must survive Spark's
    // task-failure wrapping
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(m => m.contains("doc_id 9") && m.contains("non-null")),
      s"expected a named null-text failure, got: ${msgs(e).mkString(" | ")}")
  }
}
