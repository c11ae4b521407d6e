package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables
import Det._

/** Gated text-format source keys (SURVEY.md §2.1): each key
  * writes a table subset out through a Spark text-format sink, reads it
  * back through the matching source with an EXPLICIT schema, and emits a
  * deterministic aggregate of the round-tripped rows. The oracle computes
  * the same aggregate from the original parquet — so the driver's hash
  * certifies the writer+reader pair preserves every value exactly
  * (doubles survive via shortest-repr round-trip, strings via quoting).
  *
  * Schema-on-read is explicit, never inferred: inference costs an extra
  * pass at scale and can mistype columns on adversarial corpora; the
  * library treats text formats as schema-carried-out-of-band.
  *
  * Files land in a deterministic temp dir per sfDir (same convention as
  * `join_bucketed`) so Bench reps overwrite instead of littering.
  */
object Formats {

  private def fmtDir(d: String, fmt: String): String =
    QueryDef.tmpRoot("fmt", d) + "/" + fmt

  /** CSV round-trip over customer (int64/int32/double/string columns —
    * c_name included so quoted strings with '#' exercise the quoting
    * path): per-segment counts + exact-decimal acctbal sums. */
  val scanCsv = QueryDef(
    "scan_csv",
    """SELECT c_mktsegment,
      |       CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(c_custkey) AS BIGINT) AS sum_key,
      |       CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
      |FROM customer GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin) { (s, d) =>
    val dir = fmtDir(d, "csv")
    Tables.customer(s, d)
      .select("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.mode("overwrite").option("header", "true")
      // the WRITER trims surrounding whitespace by default — disable both
      // trims so string values round-trip byte-exact (SourcesSpec pins
      // this on a trailing-space fixture)
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .csv(dir)
    val schema = StructType(Seq(
      StructField("c_custkey", LongType),
      StructField("c_name", StringType),
      StructField("c_nationkey", IntegerType),
      StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType)))
    s.read.option("header", "true").schema(schema).csv(dir)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"),
        sum(col("c_custkey")).as("sum_key"),
        sum(dec(col("c_acctbal"))).cast("double").as("sum_bal"))
      .orderBy("c_mktsegment")
  }

  /** CSV QUARANTINE — the ingestion pattern `scan_csv` stops short of:
    * real feeds carry malformed rows, and production readers run
    * PERMISSIVE with a corrupt-record column so bad rows are COUNTED
    * AND KEPT (quarantined) instead of killing the job (FAILFAST) or
    * vanishing (DROPMALFORMED). Dirt is planted deterministically in
    * the writer (every 37th key gets an unparseable numeric, every
    * 41st a truncated line — the quality_expectations convention), the
    * reader classifies via `_corrupt_record`, and the gate carries the
    * quarantine ledger: totals per failure class plus exact aggregates
    * over the SURVIVING rows only — which certifies the quarantine
    * boundary itself (a row leaking either way moves a sum). The
    * oracle derives the same ledger from the clean table. Scale: the
    * malformed-row path is scan-stage per-row work; one aggregate.
    *
    * The ledger references EVERY schema column on purpose: Spark's CSV
    * column pruning (spark.sql.csv.parser.columnPruning.enabled) only
    * flags a row corrupt if a PARSED column is malformed, so an
    * aggregate that skipped c_mktsegment would silently un-quarantine
    * the truncated rows — measured 3-row leak before this guard. */
  val scanCsvQuarantine = QueryDef(
    "scan_csv_quarantine",
    """WITH cls AS (
      |  SELECT c_custkey, c_acctbal, c_nationkey, c_mktsegment,
      |    c_custkey % 37 = 0 AS bad_num,
      |    c_custkey % 41 = 0 AND c_custkey % 37 <> 0 AS short_row
      |  FROM customer
      |)
      |SELECT CAST(count(*) AS BIGINT) AS n_total,
      |  CAST(sum(CASE WHEN NOT bad_num AND NOT short_row THEN 1 ELSE 0 END) AS BIGINT) AS n_good,
      |  CAST(sum(CASE WHEN bad_num OR short_row THEN 1 ELSE 0 END) AS BIGINT) AS n_quarantined,
      |  CAST(sum(CASE WHEN bad_num THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_number,
      |  CAST(sum(CASE WHEN short_row THEN 1 ELSE 0 END) AS BIGINT) AS n_short_row,
      |  CAST(sum(CASE WHEN NOT bad_num AND NOT short_row THEN c_custkey END) AS BIGINT) AS sum_key_good,
      |  CAST(sum(CASE WHEN NOT bad_num AND NOT short_row
      |           THEN CAST(c_acctbal AS DECIMAL(18,4)) END) AS DOUBLE) AS sum_bal_good,
      |  CAST(sum(CASE WHEN NOT bad_num AND NOT short_row THEN c_nationkey END) AS BIGINT) AS sum_nat_good,
      |  CAST(count(DISTINCT CASE WHEN NOT bad_num AND NOT short_row THEN c_mktsegment END) AS BIGINT) AS n_segments_good
      |FROM cls""".stripMargin) { (s, d) =>
    val dir = fmtDir(d, "csvq")
    Tables.customer(s, d).select(
        when(col("c_custkey") % 37 === 0,
          concat_ws(",", col("c_custkey"), col("c_nationkey"), lit("12.3oops"),
            col("c_mktsegment")))
        .when(col("c_custkey") % 41 === 0,
          concat_ws(",", col("c_custkey"), col("c_nationkey")))
        .otherwise(concat_ws(",", col("c_custkey"), col("c_nationkey"),
          col("c_acctbal"), col("c_mktsegment")))
        .as("value"))
      .write.mode("overwrite").text(dir)
    val schema = StructType(Seq(
      StructField("c_custkey", LongType),
      StructField("c_nationkey", IntegerType),
      StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType),
      StructField("_corrupt_record", StringType)))
    val r = s.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(dir)
    val q = col("_corrupt_record").isNotNull
    r.agg(count(lit(1)).as("n_total"),
        sum(when(!q, 1L).otherwise(0L)).as("n_good"),
        sum(when(q, 1L).otherwise(0L)).as("n_quarantined"),
        sum(when(q && col("c_custkey") % 37 === 0, 1L).otherwise(0L)).as("n_bad_number"),
        sum(when(q && col("c_custkey") % 37 =!= 0, 1L).otherwise(0L)).as("n_short_row"),
        sum(when(!q, col("c_custkey"))).as("sum_key_good"),
        sum(when(!q, dec(col("c_acctbal")))).cast("double").as("sum_bal_good"),
        sum(when(!q, col("c_nationkey"))).as("sum_nat_good"),
        countDistinct(when(!q, col("c_mktsegment"))).as("n_segments_good"))
  }

  /** JSON-lines round-trip over orders (status/price/key — the timestamp
    * column stays out: JSON carries no type metadata and timestamp
    * serialization is format-config surface, not this key's subject):
    * per-status counts, max key, exact-decimal totalprice sums. */
  val scanJson = QueryDef(
    "scan_json",
    """SELECT o_orderstatus,
      |       CAST(count(*) AS BIGINT) AS n,
      |       CAST(max(o_orderkey) AS BIGINT) AS max_key,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
      |FROM orders GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin) { (s, d) =>
    val dir = fmtDir(d, "json")
    Tables.orders(s, d)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .write.mode("overwrite").json(dir)
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType)))
    s.read.schema(schema).json(dir)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        max(col("o_orderkey")).as("max_key"),
        sum(dec(col("o_totalprice"))).cast("double").as("sum_price"))
      .orderBy("o_orderstatus")
  }

  /** ORC round-trip over part — the other columnar format Spark bundles
    * natively (same pushdown/pruning surface as parquet). ORC is
    * self-describing, so unlike csv/json the read needs no explicit
    * schema: the key certifies the writer encodes and the reader decodes
    * every value (int32/int64/double/string columns) exactly. DuckDB
    * never reads ORC — the oracle aggregates the ORIGINAL parquet, which
    * is exactly why the hash certifies the round-trip. */
  val scanOrc = QueryDef(
    "scan_orc",
    """SELECT p_brand,
      |       CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(p_size) AS BIGINT) AS sum_size,
      |       CAST(sum(CAST(p_retailprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
      |FROM part GROUP BY p_brand
      |ORDER BY p_brand""".stripMargin) { (s, d) =>
    val dir = fmtDir(d, "orc")
    Tables.part(s, d)
      .select("p_partkey", "p_brand", "p_size", "p_retailprice")
      .write.mode("overwrite").orc(dir)
    s.read.orc(dir)
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n"),
        sum(col("p_size")).cast("long").as("sum_size"),
        sum(dec(col("p_retailprice"))).cast("double").as("sum_price"))
      .orderBy("p_brand")
  }

  /** XML round-trip over supplier via Spark 4's NATIVE xml datasource
    * (row-per-element layout, explicit schema on read — same
    * schema-out-of-band discipline as csv/json; XML inference is an
    * extra pass at scale). Doubles survive via shortest-repr toString,
    * strings via XML entity escaping. Oracle aggregates the original
    * parquet, so the hash certifies the writer+reader pair. */
  val scanXml = QueryDef(
    "scan_xml",
    """SELECT s_nationkey,
      |       CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(s_suppkey) AS BIGINT) AS sum_key,
      |       CAST(sum(CAST(s_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
      |FROM supplier GROUP BY s_nationkey
      |ORDER BY s_nationkey""".stripMargin) { (s, d) =>
    val dir = fmtDir(d, "xml")
    Tables.supplier(s, d)
      .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      .write.mode("overwrite")
      .option("rootTag", "suppliers").option("rowTag", "supplier")
      .xml(dir)
    val schema = StructType(Seq(
      StructField("s_suppkey", LongType),
      StructField("s_name", StringType),
      StructField("s_nationkey", IntegerType),
      StructField("s_acctbal", DoubleType)))
    s.read.option("rowTag", "supplier").schema(schema).xml(dir)
      .groupBy("s_nationkey")
      .agg(count(lit(1)).as("n"),
        sum(col("s_suppkey")).as("sum_key"),
        sum(dec(col("s_acctbal"))).cast("double").as("sum_bal"))
      .orderBy("s_nationkey")
  }

  /** Small-file compaction — the table-maintenance job every long-lived
    * 100 TB deployment runs (streaming ingestion and per-batch sinks
    * fragment tables into thousands of small files; scan cost is then
    * dominated by file open/footer overhead, not bytes): deliberately
    * fragment events into 64 small files, compact with `coalesce` — the
    * no-shuffle narrow repack (each output file concatenates whole input
    * partitions; a `repartition` would pay a full shuffle for nothing) —
    * and aggregate from the compacted layout. SourcesSpec pins the file
    * counts (64 → 4) and that the compaction plan has no Exchange.
    *
    * The oracle aggregates the ORIGINAL table: compaction is physical
    * layout only, so the relation must be bit-identical. */
  val maintenanceCompact = QueryDef(
    "maintenance_compact",
    """SELECT event_type,
      |       CAST(count(*) AS BIGINT) AS n,
      |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
      |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
    compactPlan(s, d)
  }

  /** The declared plan for `maintenance_compact`, exposed so SourcesSpec
    * can pin the layout facts on exactly what the driver runs. */
  def compactPlan(s: SparkSession, d: String): DataFrame = {
    val root = fmtDir(d, "compact")
    graft.Tables.events(s, d)
      .select("event_id", "user_id", "event_type", "value")
      .repartition(64)
      .write.mode("overwrite").parquet(root + "/fragmented")
    compactWrite(s, root)
    s.read.parquet(root + "/compacted")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        sum(Det.dec(col("value"))).cast("double").as("sum_value"))
      .orderBy("event_type")
  }

  /** The compaction job itself: 64 fragments → 4 files, NO shuffle. */
  def compactWrite(s: SparkSession, root: String): DataFrame = {
    val df = s.read.parquet(root + "/fragmented").coalesce(4)
    df.write.mode("overwrite").parquet(root + "/compacted")
    df
  }

  /** Schema-EVOLUTION read — the drift case every long-lived table hits:
    * files written before a column existed sit next to files written
    * after, and one read must see the union schema with NULLs where the
    * old files have no column. Orders split deterministically by key
    * parity into a v1 landing (no o_orderpriority) and a v2 landing
    * (with it), read back as ONE relation via mergeSchema; the aggregate
    * keeps the NULL-priority group (the v1 rows) live at every SF, and
    * the oracle recomputes from the original table with the same parity
    * rule — the hash certifies both that the union schema resolves and
    * that no row or value is lost across the schema boundary.
    *
    * At scale: mergeSchema is a FOOTER union (one footer read per file,
    * no data pass); production tables pin the merged schema in a
    * catalog, but the read semantics certified here are identical. */
  val scanEvolution = QueryDef(
    "scan_evolution",
    """SELECT CASE WHEN o_orderkey % 2 = 0 THEN NULL
      |            ELSE o_orderpriority END AS priority,
      |       CAST(count(*) AS BIGINT) AS n,
      |       CAST(max(o_orderkey) AS BIGINT) AS max_key,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
      |         AS sum_price
      |FROM orders
      |GROUP BY priority
      |ORDER BY priority NULLS FIRST""".stripMargin) { (s, d) =>
    val dir = fmtDir(d, "evolve")
    val ord = Tables.orders(s, d)
      .select("o_orderkey", "o_totalprice", "o_orderpriority")
    // v1 files predate the priority column; v2 files carry it
    ord.filter(col("o_orderkey") % 2 === 0)
      .drop("o_orderpriority")
      .write.mode("overwrite").parquet(dir + "/v1")
    ord.filter(col("o_orderkey") % 2 =!= 0)
      .write.mode("overwrite").parquet(dir + "/v2")
    s.read.option("mergeSchema", "true")
      .parquet(dir + "/v1", dir + "/v2")
      .groupBy(col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("n"),
        max(col("o_orderkey")).as("max_key"),
        sum(dec(col("o_totalprice"))).cast("double").as("sum_price"))
      .orderBy(col("priority").asc_nulls_first)
  }

  /** TFRecord EXPORT round-trip — the training-data handoff format (the
    * file a TF/JAX input pipeline actually consumes): documents become
    * framed `tf.train.Example` records {id: int64, text: bytes,
    * n_tokens: int64} in one `docs-SSS.tfrecord` stream per shard
    * (doc_id % 4), written by the owning executor task, read back via a
    * binaryFile scan with BOTH masked CRC32Cs verified per record. The
    * per-shard aggregate is computed from the ROUND-TRIPPED rows while
    * the oracle computes it from the original table — the hash certifies
    * the hand-rolled wire format (varint, BytesList, TFRecord framing)
    * loses nothing. Completes the format surface:
    * parquet/csv/json/orc/xml/pb/tfrecord. */
  val exportTfrecord = QueryDef(
    "export_tfrecord",
    """SELECT doc_id % 4 AS shard,
      |       CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(doc_id) AS BIGINT) AS sum_id,
      |       CAST(sum(length(text)) AS BIGINT) AS sum_text_len,
      |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens
      |FROM documents GROUP BY shard ORDER BY shard""".stripMargin) { (s, d) =>
    val dir = fmtDir(d, "tfrecord")
    graft.sources.TfExample.writeDocTfRecords(
      Tables.documents(s, d).select(
        (col("doc_id") % 4).as("shard"), col("doc_id"), col("text"),
        size(split(col("text"), " ")).cast("long").as("n_tokens")),
      dir)
    graft.sources.TfExample.readDocTfRecords(s, dir)
      .groupBy((col("doc_id") % 4).as("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("sum_id"),
        sum(length(col("text")).cast("long")).as("sum_text_len"),
        sum(col("n_tokens")).as("sum_tokens"))
      .orderBy("shard")
  }

  /** Avro OCF round-trip over customer via the hand-rolled
    * `graft.sources.AvroFile` sink+source (the external spark-avro
    * DataSource is not on this offline classpath; the avro core runtime
    * is — so the container format is driven directly, the TfExample
    * discipline). 4 deflate-compressed shard files written by the
    * executors that own them, read back through one binaryFile scan
    * with the schema taken from the container itself. The aggregate
    * gates every scalar family the schema carries (long key sums,
    * int nationkey sums, IEEE double acctbal through the exact-decimal
    * cast, string segments as group keys) against the ORIGINAL parquet
    * — DuckDB never reads Avro, which is exactly why the hash certifies
    * the writer+reader pair preserves each value bit-exactly. */
  val scanAvro = QueryDef(
    "scan_avro",
    """SELECT c_mktsegment,
      |       CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(c_custkey) AS BIGINT) AS sum_key,
      |       CAST(sum(c_nationkey) AS BIGINT) AS sum_nat,
      |       CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
      |FROM customer GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin) { (s, d) =>
    val dir = fmtDir(d, "avro")
    graft.sources.AvroFile.writeCustomerAvro(
      Tables.customer(s, d)
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          col("c_acctbal"), col("c_mktsegment"))
        .withColumn("shard", col("c_custkey") % 4),
      dir)
    graft.sources.AvroFile.readCustomerAvro(s, dir)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"),
        sum(col("c_custkey")).as("sum_key"),
        sum(col("c_nationkey").cast("long")).as("sum_nat"),
        sum(dec(col("c_acctbal"))).cast("double").as("sum_bal"))
      .orderBy("c_mktsegment")
  }

  /** MERGE-ON-READ delete-vector scan — the lakehouse read pattern the
    * maintenance family stops short of (compact rewrites files, zorder
    * re-clusters; neither DELETES): a write lands the base table
    * untouched plus a side DELETE VECTOR file (the keys of deleted rows
    * — every 37th doc), and the read applies the vector as a LEFT ANTI
    * join before anything downstream sees a row. This is how
    * Delta/Iceberg/Hudi serve deletes without rewriting data files:
    * deletion cost is O(|deleted keys|) at write time, reads pay one
    * key-bounded anti join until the next compaction folds the vector
    * in. The vector is broadcast-sized by construction (keys only);
    * at 100 TB position-based vectors additionally partition-align so
    * each task reads only its own file's vector — the key-based form
    * gated here is the engine-semantics half. Oracle recomputes from
    * the original table with the same key rule, certifying no row is
    * lost or resurrected across the base+vector split. */
  val scanMorDeletes = QueryDef(
    "scan_mor_deletes",
    """SELECT lang, CAST(count(*) AS BIGINT) AS n_live,
      |       CAST(sum(n_chars) AS BIGINT) AS chars_live
      |FROM documents WHERE doc_id % 37 <> 0
      |GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
    val root = fmtDir(d, "mor")
    val docs = graft.Tables.documents(s, d)
    docs.write.mode("overwrite").parquet(root + "/base")
    docs.filter(col("doc_id") % 37 === 0).select("doc_id")
      .write.mode("overwrite").parquet(root + "/deletes")
    val base = s.read.parquet(root + "/base")
    val dv = s.read.parquet(root + "/deletes")
      .withColumnRenamed("doc_id", "del_id")
    base
      .join(broadcast(dv), col("doc_id") === col("del_id"), "left_anti")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_live"),
        sum(col("n_chars")).as("chars_live"))
      .orderBy("lang")
  }

  /** PARTITION RETENTION enforcement — the lifecycle op that completes
    * the maintenance family (compact rewrites files, zorder re-clusters,
    * mor_deletes removes rows; THIS removes whole PARTITIONS by age, the
    * way every production table enforces a TTL): events land
    * day-partitioned (`partitionBy` — the layout that makes retention an
    * O(1) metadata/directory operation instead of a data rewrite), the
    * enforcement pass deletes partition directories older than the
    * cutoff, and the read-back proves three things under one hash — the
    * drop removed exactly the expired days (partition accounting), the
    * surviving rows are byte-intact (count + exact-decimal sum), and the
    * partition column round-trips as a real DATE (directory-name type
    * inference). At 100 TB the delete is per-directory against the
    * manifest/filesystem, no executor touches surviving data, and
    * readers after the drop prune to surviving partitions by
    * construction. Oracle recomputes from the original table with the
    * same cutoff rule. */
  val maintenanceRetention = QueryDef(
    "maintenance_retention",
    """WITH e AS (
      |  SELECT CAST(ts AS DATE) AS day, value FROM events
      |), acct AS (
      |  SELECT CAST(count(DISTINCT CASE WHEN day >= DATE '2024-01-15' THEN day END) AS BIGINT) AS n_days_kept,
      |         CAST(count(DISTINCT CASE WHEN day <  DATE '2024-01-15' THEN day END) AS BIGINT) AS n_days_dropped
      |  FROM e
      |), live AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_rows_live,
      |         min(day) AS min_day, max(day) AS max_day,
      |         CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |  FROM e WHERE day >= DATE '2024-01-15'
      |)
      |SELECT acct.n_days_kept, acct.n_days_dropped,
      |       live.n_rows_live, live.min_day, live.max_day, live.sum_value
      |FROM acct, live""".stripMargin) { (s, d) =>
    // the oracle's ungrouped `live` aggregate yields its one row even on
    // a fixture with ZERO surviving days (count 0, null min/max/sum) —
    // matching the Spark side's global agg, so a degenerate input is a
    // legitimate 1-row relation, not a 0-vs-1-row shape mismatch (the
    // stream_file_sink guard class)
    val root = fmtDir(d, "retention")
    val cutoff = java.time.LocalDate.parse("2024-01-15")
    graft.Tables.events(s, d)
      .select(col("event_id"), col("value"), to_date(col("ts")).as("day"))
      // cluster by the partition column before the partitioned write
      // (guide §6 / Iceberg hash distribution-mode): without this every
      // input split writes its own file into EVERY day directory —
      // splits × days tiny files (measured 32 × ~30 ≈ 900 files per run
      // on the 32-split bench mirror, +2.3 s) — where one shuffle of the
      // skinny (id, value, day) rows yields one well-sized file per day
      // at any input layout
      .repartition(col("day"))
      .write.mode("overwrite").partitionBy("day").parquet(root + "/t")
    // the enforcement pass: drop expired partition DIRECTORIES — a
    // metadata-level operation, no data rewrite, no executor involvement.
    // Non-date partition names (day=__HIVE_DEFAULT_PARTITION__ from a
    // null day) are RETAINED, not crashed on — retention only ever
    // drops provably-expired partitions.
    val base = new java.io.File(root + "/t")
    val dropped = Option(base.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("day="))
      .filter(f => scala.util.Try(java.time.LocalDate
        .parse(f.getName.stripPrefix("day="))).toOption.exists(_.isBefore(cutoff)))
    dropped.foreach(dir => Staging.deleteTree(dir.getPath))
    // null-ts rows survive the drop as day=__HIVE_DEFAULT_PARTITION__
    // (retention never deletes them) but the oracle's `day >= DATE`
    // predicate excludes them — filter them out of the LIVE accounting
    // too so the retained-null-partition policy and the gate cannot
    // diverge if the events fixture ever gains null timestamps
    // (a no-op on the current all-non-null fixture)
    val live = s.read.parquet(root + "/t").filter(col("day").isNotNull)
    live
      .agg(count(lit(1)).as("n_rows_live"),
        countDistinct(col("day")).as("n_days_kept"),
        min(col("day")).as("min_day"), max(col("day")).as("max_day"),
        sum(Det.dec(col("value"))).cast("double").as("sum_value"))
      .select(col("n_days_kept"), lit(dropped.size.toLong).as("n_days_dropped"),
        col("n_rows_live"), col("min_day"), col("max_day"), col("sum_value"))
  }

  /** TIME-TRAVEL READ over a versioned table — the last lakehouse read
    * surface beside MOR deletes, retention and compaction: a table lands
    * as version snapshots (v=0 baseline; v=1 after a deterministic
    * update wave — every 10th customer's balance +100.00), and ONE
    * relation reads BOTH versions after v=1 exists. The hash certifies
    * version ISOLATION — writing v=1 must not disturb a single v=0
    * byte (v=0's aggregates equal the pre-update oracle exactly) — and
    * snapshot correctness (v=1 equals the post-update rule). Snapshot-
    * per-version is the simplest time-travel layout; production tables
    * keep deltas + manifests, but the READ semantics certified here
    * (address a version, get exactly that version's data) are the
    * contract, and `stream_upsert_sink` already gates the incremental-
    * delta construction of such versions. Exact cents arithmetic
    * end-to-end. */
  /** The exact-cents customer projection the three snapshot keys
    * (`scan_time_travel`, `maintenance_vacuum`, `scan_cdf`) all stage
    * from — one Spark helper + one oracle CTE, so a cents-convention
    * change lands once. */
  private def centsBase(s: SparkSession, d: String): DataFrame =
    graft.Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment"),
        round(col("c_acctbal") * 100).cast("long").as("cents"))

  private val centsBaseCte =
    """base AS (
      |  SELECT c_custkey, c_mktsegment,
      |         CAST(round(c_acctbal * 100) AS BIGINT) AS cents
      |  FROM customer
      |)""".stripMargin

  val scanTimeTravel = QueryDef(
    "scan_time_travel",
    s"""WITH $centsBaseCte, v1 AS (
      |  SELECT c_mktsegment,
      |         CASE WHEN c_custkey % 10 = 0 THEN cents + 10000 ELSE cents END AS cents
      |  FROM base
      |)
      |SELECT 0 AS version, c_mktsegment, CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(cents) AS BIGINT) AS sum_cents
      |FROM base GROUP BY c_mktsegment
      |UNION ALL
      |SELECT 1, c_mktsegment, CAST(count(*) AS BIGINT), CAST(sum(cents) AS BIGINT)
      |FROM v1 GROUP BY c_mktsegment
      |ORDER BY version, c_mktsegment""".stripMargin) { (s, d) =>
    val root = fmtDir(d, "timetravel")
    val base = centsBase(s, d)
    base.write.mode("overwrite").parquet(root + "/v=0")
    base
      .withColumn("cents",
        when(col("c_custkey") % 10 === 0, col("cents") + 10000L)
          .otherwise(col("cents")))
      .write.mode("overwrite").parquet(root + "/v=1")
    def versionAgg(v: Int): DataFrame =
      s.read.parquet(s"$root/v=$v")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
        .select(lit(v).as("version"), col("c_mktsegment"), col("n"),
          col("sum_cents"))
    versionAgg(0).unionByName(versionAgg(1))
      .orderBy("version", "c_mktsegment")
  }

  /** VACUUM — the version GC that closes the lakehouse write loop
    * (`stream_upsert_sink` builds versions, `scan_time_travel`
    * addresses them, `maintenance_retention` expires ROWS; THIS expires
    * SNAPSHOTS): four staged versions, retention = keep latest 2, the
    * two expired version directories physically deleted. The gate
    * carries the surviving versions' per-segment aggregates — certifying
    * vacuum touched nothing it retained — plus the ledger (versions
    * before/after, and a filesystem-checked boolean that the expired
    * directories are really gone, which the oracle asserts TRUE). At
    * scale vacuum is a metadata operation: list version dirs, drop those
    * below the watermark — no data scan of retained versions beyond
    * this key's own verification read. */
  val maintenanceVacuum = QueryDef(
    "maintenance_vacuum",
    s"""WITH $centsBaseCte, vs AS (
      |  SELECT v, c_mktsegment,
      |         CASE WHEN c_custkey % 10 = v THEN cents + 10000 * v ELSE cents END AS cents
      |  FROM base, (SELECT unnest([2, 3]) AS v)
      |)
      |SELECT CAST(v AS INTEGER) AS version, c_mktsegment,
      |       CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents,
      |       CAST(4 AS BIGINT) AS n_versions_before,
      |       CAST(2 AS BIGINT) AS n_versions_after,
      |       TRUE AS expired_gone
      |FROM vs GROUP BY v, c_mktsegment
      |ORDER BY version, c_mktsegment""".stripMargin) { (s, d) =>
    val root = fmtDir(d, "vacuum")
    val base = centsBase(s, d)
    for (v <- 0 to 3)
      base.withColumn("cents",
          when(col("c_custkey") % 10 === v, col("cents") + 10000L * v)
            .otherwise(col("cents")))
        .write.mode("overwrite").parquet(s"$root/v=$v")
    val before = Option(new java.io.File(root).listFiles()).toSeq.flatten
      .count(f => f.isDirectory && f.getName.startsWith("v="))
    for (v <- 0 to 1) Staging.deleteTree(s"$root/v=$v")
    val after = Option(new java.io.File(root).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("v="))
      .map(_.getName.stripPrefix("v=").toInt).sorted
    val gone = !new java.io.File(s"$root/v=0").exists() &&
      !new java.io.File(s"$root/v=1").exists()
    after.map { v =>
      s.read.parquet(s"$root/v=$v")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
        .select(lit(v).as("version"), col("c_mktsegment"), col("n"),
          col("sum_cents"),
          lit(before.toLong).as("n_versions_before"),
          lit(after.size.toLong).as("n_versions_after"),
          lit(gone).as("expired_gone"))
    }.reduce(_ unionByName _)
      .orderBy("version", "c_mktsegment")
  }

  /** Embedding TFRecord round-trip — the FLOAT-wire completion of the
    * export family (`export_tfrecord` certifies int64 + bytes features;
    * a trainer's actual input is packed float32 lists, until now covered
    * only by TfExampleSpec, not the driver hash): embeddings shard out
    * as framed Examples, read back, and the gate compares PER-VECTOR
    * squared norms against the ORIGINAL parquet — the LE-IEEE754 wire
    * preserves every float bit, the float→double cast is exact, and the
    * sequential dot is the same fold both sides, so one flipped mantissa
    * bit anywhere in writer or parser moves a gated value. Per-vector
    * rows on purpose: a SUM of norms would be association-order
    * noise; the per-row value is order-free. */
  val exportTfrecordEmb = QueryDef(
    "export_tfrecord_emb",
    """WITH v AS (
      |  SELECT vec_id, label,
      |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
      |  FROM embeddings
      |)
      |SELECT vec_id, CAST(label AS BIGINT) AS label,
      |       round(list_dot_product(ve, ve), 4) AS norm2
      |FROM v ORDER BY vec_id LIMIT 300""".stripMargin) { (s, d) =>
    val dir = fmtDir(d, "tfemb")
    graft.sources.TfExample.writeEmbTfRecords(
      Tables.embeddings(s, d).withColumn("shard", col("vec_id") % 4), dir)
    graft.sources.TfExample.readEmbTfRecords(s, dir)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        round(Similarity.dot(Similarity.vecD(col("embedding")),
          Similarity.vecD(col("embedding"))), 4).as("norm2"))
      .orderBy("vec_id").limit(300)
  }

  /** JSONL EXPORT round-trip — the interchange format most LLM data
    * tooling actually speaks (one JSON object per line; the HuggingFace
    * / OpenAI-fine-tune / WebDataset-manifest convention), completing
    * the export family beside the two TFRecord keys: documents become
    * `{"doc_id":…,"lang":…,"text":…,"n_tokens":…}` lines written
    * through the text sink partitioned by shard (doc_id % 4), read
    * back through the JSON source with an EXPLICIT schema (house rule:
    * schema out-of-band, no inference pass), grouped by the
    * DIRECTORY-derived shard column — so the gate certifies both the
    * value round-trip (JSON string escaping included) and that every
    * record landed in its owning shard. The oracle computes the same
    * aggregate from the original parquet; `n_langs` pins the lang
    * field, the id/len/token sums pin the rest.
    *
    * Scale shape: one scan-stage projection + `to_json` per row out,
    * one schema'd scan + combinable aggregate back — shard-parallel in
    * both directions, no shuffle except the 4-group rollup. */
  val exportJsonl = QueryDef(
    "export_jsonl",
    """SELECT doc_id % 4 AS shard,
      |       CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
      |       CAST(sum(doc_id) AS BIGINT) AS sum_id,
      |       CAST(sum(length(text)) AS BIGINT) AS sum_text_len,
      |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens
      |FROM documents GROUP BY shard ORDER BY shard""".stripMargin) { (s, d) =>
    val dir = fmtDir(d, "jsonl")
    Tables.documents(s, d)
      .select((col("doc_id") % 4).as("shard"),
        to_json(struct(col("doc_id"), col("lang"), col("text"),
          size(split(col("text"), " ")).cast("long").as("n_tokens")))
          .as("line"))
      .write.mode("overwrite").partitionBy("shard").text(dir)
    s.read
      .schema("doc_id LONG, lang STRING, text STRING, n_tokens LONG")
      .json(dir)
      .groupBy(col("shard").cast("long").as("shard"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("doc_id")).as("sum_id"),
        sum(length(col("text")).cast("long")).as("sum_text_len"),
        sum(col("n_tokens")).as("sum_tokens"))
      .orderBy("shard")
  }

  /** CHANGE-DATA-FEED READ — the diff between two table
    * snapshots as typed change rows (Delta CDF / Iceberg changelog
    * semantics: insert / delete / update_preimage / update_postimage),
    * closing the snapshot loop `scan_time_travel` opened (address a
    * version) and `merge_cdc` applies (consume a feed): THIS produces
    * the feed from two staged versions. v1 derives deterministically
    * from v0 (customer): every key % 17 = 3 DELETED, % 10 = 0 UPDATED
    * (+100.00), % 23 = 5 re-INSERTED under a fresh key (offset
    * max(key)+1 — collision-free at any SF) — all
    * four change types live at every SF. Diff = ONE full-outer
    * equi-join on the snapshot key, change rows emitted in the same
    * pass (array+explode, no per-type rescan); the gate carries the
    * per-(change_type, segment) accounting a downstream consumer
    * checkpoints against. At 100 TB a table format derives the feed
    * from the transaction log without scanning either snapshot — the
    * join here is the format-agnostic fallback (and the semantics
    * contract the log-derived feed must match). */
  val scanCdf = QueryDef(
    "scan_cdf",
    s"""WITH $centsBaseCte, v1 AS (
      |  SELECT c_custkey, c_mktsegment,
      |         CASE WHEN c_custkey % 10 = 0 THEN cents + 10000 ELSE cents END AS cents
      |  FROM base WHERE c_custkey % 17 <> 3
      |  UNION ALL
      |  SELECT c_custkey + (SELECT max(c_custkey) + 1 FROM base),
      |         c_mktsegment, cents + 555 FROM base
      |  WHERE c_custkey % 23 = 5
      |), j AS (
      |  SELECT v0.c_mktsegment AS seg0, v1.c_mktsegment AS seg1,
      |         v0.cents AS cents0, v1.cents AS cents1
      |  FROM base v0 FULL OUTER JOIN v1 ON v0.c_custkey = v1.c_custkey
      |), ch AS (
      |  SELECT 'a_insert' AS change_type, seg1 AS c_mktsegment, cents1 AS cents
      |  FROM j WHERE cents0 IS NULL
      |  UNION ALL
      |  SELECT 'b_delete', seg0, cents0 FROM j WHERE cents1 IS NULL
      |  UNION ALL
      |  SELECT 'c_update_pre', seg0, cents0 FROM j
      |  WHERE cents0 IS NOT NULL AND cents1 IS NOT NULL AND cents0 <> cents1
      |  UNION ALL
      |  SELECT 'd_update_post', seg1, cents1 FROM j
      |  WHERE cents0 IS NOT NULL AND cents1 IS NOT NULL AND cents0 <> cents1
      |)
      |SELECT change_type, c_mktsegment, CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(cents) AS BIGINT) AS sum_cents
      |FROM ch GROUP BY change_type, c_mktsegment
      |ORDER BY change_type, c_mktsegment""".stripMargin) { (s, d) =>
    val root = fmtDir(d, "cdf")
    centsBase(s, d).write.mode("overwrite").parquet(root + "/v=0")
    // v1 derives from the MATERIALIZED v=0 snapshot (one scan of the
    // small landed projection, not two more passes over the source
    // table), with a collision-safe re-insert offset
    // past the key domain at any SF (a fixed 10^7 collides once the
    // table exceeds 10M keys)
    val staged0 = s.read.parquet(root + "/v=0")
    val off = staged0.agg(max(col("c_custkey"))).head.getLong(0) + 1L
    staged0.filter(col("c_custkey") % 17 =!= 3)
      .withColumn("cents",
        when(col("c_custkey") % 10 === 0, col("cents") + 10000L)
          .otherwise(col("cents")))
      .unionByName(staged0.filter(col("c_custkey") % 23 === 5)
        .select((col("c_custkey") + off).as("c_custkey"),
          col("c_mktsegment"), (col("cents") + 555L).as("cents")))
      .write.mode("overwrite").parquet(root + "/v=1")
    val v0 = s.read.parquet(root + "/v=0")
      .select(col("c_custkey"), col("c_mktsegment").as("seg0"),
        col("cents").as("cents0"))
    val v1 = s.read.parquet(root + "/v=1")
      .select(col("c_custkey"), col("c_mktsegment").as("seg1"),
        col("cents").as("cents1"))
    // one full-outer pass; each row expands to its 0-2 change rows
    // in place (array+explode) — no per-change-type rescan of the join
    v0.join(v1, Seq("c_custkey"), "full_outer")
      .select(explode(expr(
        """CASE
          |  WHEN cents0 IS NULL THEN
          |    array(named_struct('t', 'a_insert', 'seg', seg1, 'cts', cents1))
          |  WHEN cents1 IS NULL THEN
          |    array(named_struct('t', 'b_delete', 'seg', seg0, 'cts', cents0))
          |  WHEN cents0 <> cents1 THEN array(
          |    named_struct('t', 'c_update_pre', 'seg', seg0, 'cts', cents0),
          |    named_struct('t', 'd_update_post', 'seg', seg1, 'cts', cents1))
          |  ELSE array()
          |END""".stripMargin)).as("k"))
      .select(col("k.t").as("change_type"), col("k.seg").as("c_mktsegment"),
        col("k.cts").as("cents"))
      .groupBy("change_type", "c_mktsegment")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
      .orderBy("change_type", "c_mktsegment")
  }

  /** WEBDATASET TAR-SHARD EXPORT — the multimodal
    * training-loader handoff format (webdataset.github.io: a POSIX tar
    * per shard, each sample a basename-grouped run of entries —
    * `%09d.json` metadata + `%09d.txt` payload), completing the export
    * family's container coverage (TFRecord = framed protobuf, JSONL =
    * lines, Avro = OCF, THIS = the tar samples loader PyTorch/DALI
    * stacks stream). Hand-rolled ustar writer+reader
    * (`graft.sources.WebDataset`, the TfExample discipline — no tar
    * library offline), deterministic headers (mode 0644, uid/gid 0,
    * mtime 0, ids sorted within shard), reader re-verifies every header
    * checksum. The gate certifies the WIRE layer: per shard, the
    * read-back sample accounting (ids, text bytes, metadata bytes —
    * the oracle rebuilds the exact JSON string) AND the tar file's
    * actual byte size vs the oracle's 512-byte block arithmetic
    * (1024 trailer + Σ 512·headers + data rounded up) — a padding or
    * framing bug shifts `tar_bytes` even when the payload survives.
    * Executor-owned shard files; read = one binaryFile scan. */
  val exportWebdataset = QueryDef(
    "export_webdataset",
    """WITH m AS (
      |  SELECT doc_id % 4 AS shard, doc_id,
      |         CAST(strlen(text) AS BIGINT) AS tb,
      |         CAST(strlen('{"doc_id":' || doc_id || ',"lang":"' || lang ||
      |                     '","n_tokens":' || len(string_split(text, ' ')) || '}')
      |              AS BIGINT) AS mb
      |  FROM documents
      |)
      |SELECT shard, CAST(count(*) AS BIGINT) AS n_samples,
      |       CAST(sum(doc_id) AS BIGINT) AS sum_id,
      |       CAST(sum(tb) AS BIGINT) AS sum_text_bytes,
      |       CAST(sum(mb) AS BIGINT) AS sum_meta_bytes,
      |       CAST(1024 + sum(512 + (tb + 511) // 512 * 512
      |                       + 512 + (mb + 511) // 512 * 512) AS BIGINT) AS tar_bytes
      |FROM m GROUP BY shard ORDER BY shard""".stripMargin) { (s, d) =>
    val dir = fmtDir(d, "wds")
    graft.sources.WebDataset.writeDocShards(
      Tables.documents(s, d).select(
        (col("doc_id") % 4).as("shard"), col("doc_id"), col("text"),
        col("lang"), size(split(col("text"), " ")).cast("long").as("n_tokens")),
      dir)
    val samples = graft.sources.WebDataset.readDocShards(s, dir)
      .groupBy((col("doc_id") % 4).as("shard"))
      .agg(count(lit(1)).as("n_samples"),
        sum(col("doc_id")).as("sum_id"),
        sum(octet_length(col("text")).cast("long")).as("sum_text_bytes"),
        sum(octet_length(col("meta")).cast("long")).as("sum_meta_bytes"))
    val sizes = s.read.format("binaryFile")
      .option("pathGlobFilter", "docs-*.tar").load(dir)
      .select(regexp_extract(col("path"), "docs-(\\d+)\\.tar", 1)
        .cast("long").as("shard"), col("length").as("tar_bytes"))
    samples.join(sizes, Seq("shard"))
      .select(col("shard"), col("n_samples"), col("sum_id"),
        col("sum_text_bytes"), col("sum_meta_bytes"), col("tar_bytes"))
      .orderBy("shard")
  }

  /** MDS SIZED-INDEX SHARD EXPORT — the offset-table loader format
    * (MosaicML StreamingDataset's shard layout: uint32 sample count +
    * (n+1)-entry offset table + concatenated samples + index.json),
    * closing the export family's loader-format matrix: TFRecord =
    * framed protobuf stream, WebDataset = tar sample runs, THIS = the
    * random-access shape (sample i is two u32 reads + one ranged read —
    * what makes global sample shuffles cheap on a 100 TB corpus, where
    * a streaming format must scan to position). Hand-rolled writer +
    * reader (`graft.sources.MdsShard`); the reader verifies the whole
    * offset table (monotone, first = header length, last = file length,
    * per-sample framing) and locates each shard's PROBE sample (index
    * n/2) through the table — so the gate certifies the seek path, not
    * just the stream path. The oracle pins per shard: the sample
    * accounting, the exact wire size from 12-byte framing arithmetic
    * (4 + 4·(n+1) + Σ(12+tb)) vs the file's ACTUAL byte length, and the
    * probe doc_id via the identical rank arithmetic. */
  val exportMds = QueryDef(
    "export_mds",
    """WITH m AS (
      |  SELECT doc_id % 4 AS shard, doc_id,
      |         CAST(strlen(text) AS BIGINT) AS tb,
      |         row_number() OVER (PARTITION BY doc_id % 4 ORDER BY doc_id) AS rn,
      |         count(*) OVER (PARTITION BY doc_id % 4) AS n
      |  FROM documents
      |)
      |SELECT shard, CAST(count(*) AS BIGINT) AS n_samples,
      |       CAST(sum(doc_id) AS BIGINT) AS sum_id,
      |       CAST(sum(tb) AS BIGINT) AS sum_text_bytes,
      |       CAST(4 + 4 * (count(*) + 1) + sum(12 + tb) AS BIGINT) AS mds_bytes,
      |       CAST(max(CASE WHEN rn = n // 2 + 1 THEN doc_id END) AS BIGINT)
      |         AS probe_doc_id
      |FROM m GROUP BY shard ORDER BY shard""".stripMargin) { (s, d) =>
    val dir = fmtDir(d, "mds")
    graft.sources.MdsShard.writeDocShards(
      Tables.documents(s, d).select(
        (col("doc_id") % 4).as("shard"), col("doc_id"), col("text")),
      dir)
    val samples = graft.sources.MdsShard.readDocShards(s, dir)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_samples"),
        sum(col("doc_id")).as("sum_id"),
        sum(col("text_bytes")).as("sum_text_bytes"),
        max(when(col("is_probe"), col("doc_id"))).as("probe_doc_id"))
    val sizes = s.read.format("binaryFile")
      .option("pathGlobFilter", "docs-*.mds").load(dir)
      .select(regexp_extract(col("path"), "docs-(\\d+)\\.mds", 1)
        .cast("long").as("shard"), col("length").as("mds_bytes"))
    samples.join(sizes, Seq("shard"))
      .select(col("shard"), col("n_samples"), col("sum_id"),
        col("sum_text_bytes"), col("mds_bytes"), col("probe_doc_id"))
      .orderBy("shard")
  }

  /** SHARD-BALANCE PLANNER — the assignment step that runs BEFORE any
    * sharded export (MDS/WebDataset/TFRecord): loader throughput is
    * gated by the slowest shard, so the planner must bound the byte
    * spread across shards. A global size-sorted round-robin gives the
    * best stripe but needs a TOTAL order — one reducer sorting the
    * corpus. This plans with BANDED STRIPING instead: documents bucket
    * into size bands (32-byte wide), rank within their band (the
    * window partitions by band — embarrassingly parallel), and stripe
    * rank-mod-k across the k shards. Within a band all items are
    * near-equal size, so the stripe balances almost as tightly as the
    * global sort while every stage stays partitioned (at 100 TB the
    * band cardinality is the size domain, not the corpus). The gate
    * hashes the per-shard accounting AND the realized spread
    * ((max − min)·100 div max over shard bytes), so a planner
    * regression that unbalances the stripe fails the hash, not just a
    * dashboard. Byte model = the MDS sample framing (12 + text bytes),
    * so the plan is exactly what `export_mds` would cut. */
  val exportShardPlan = QueryDef(
    "export_shard_plan",
    """WITH m AS (
      |  SELECT doc_id, CAST(strlen(text) + 12 AS BIGINT) AS bytes,
      |         CAST((strlen(text) + 12) // 32 AS BIGINT) AS band
      |  FROM documents
      |), r AS (
      |  SELECT doc_id, bytes,
      |         (row_number() OVER (PARTITION BY band
      |            ORDER BY bytes DESC, doc_id) - 1) % 8 AS shard
      |  FROM m
      |), g AS (
      |  SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
      |         CAST(sum(bytes) AS BIGINT) AS shard_bytes
      |  FROM r GROUP BY shard
      |), sp AS (
      |  SELECT max(shard_bytes) AS mx, min(shard_bytes) AS mn FROM g
      |)
      |SELECT shard, n_docs, shard_bytes,
      |       CAST(mx AS BIGINT) AS max_bytes, CAST(mn AS BIGINT) AS min_bytes,
      |       CAST(((mx - mn) * 100) // mx AS BIGINT) AS spread_pct
      |FROM g, sp ORDER BY shard""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val m = Tables.documents(s, d)
      .select(col("doc_id"),
        // octet_length ↔ the oracle's strlen: BYTE count, not chars —
        // a multi-byte UTF-8 doc must band identically on both engines
        // (and the byte model must match what export_mds actually cuts)
        (octet_length(col("text")).cast("long") + 12L).as("bytes"))
      .withColumn("band", expr("bytes div 32"))
    val w = Window.partitionBy("band").orderBy(col("bytes").desc, col("doc_id"))
    val g = m
      .withColumn("shard", pmod(row_number().over(w) - 1, lit(8)).cast("long"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("bytes")).as("shard_bytes"))
      .localCheckpoint() // 8 rows, two consumers — one corpus pass, not two
    g.crossJoin(broadcast(
        g.agg(max(col("shard_bytes")).as("mx"), min(col("shard_bytes")).as("mn"))))
      .select(col("shard"), col("n_docs"), col("shard_bytes"),
        col("mx").as("max_bytes"), col("mn").as("min_bytes"),
        expr("((mx - mn) * 100) div mx").as("spread_pct"))
      .orderBy("shard")
  }

  /** GZIP-COMPRESSED JSONL INGEST — the wire shape web-corpus data
    * actually arrives in (a Common Crawl dump is tens of thousands of
    * gzip members; `scan_json` certifies the parser, THIS certifies
    * the CODEC path): documents round-trip through 4 gzip JSONL part
    * files and the read-back aggregates must match the table-derived
    * oracle exactly — a single corrupted byte fails the member CRC and
    * the job, a silently-wrong decode fails the hash. The scale lesson
    * this key encodes: gzip is NOT splittable, so one file = one read
    * task and PARALLELISM IS THE FILE COUNT — a 100 TB gz corpus is
    * ingestible exactly because it ships as ~100k members (CC's own
    * layout), never as one stream; the 4-file staging here is that
    * contract in miniature. SourcesSpec pins the files really are gzip
    * (magic bytes) and that a truncated member fails loudly. */
  val scanJsonlGz = QueryDef(
    "scan_jsonl_gz",
    """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(doc_id) AS BIGINT) AS sum_id,
      |       CAST(sum(strlen(text)) AS BIGINT) AS sum_text_bytes,
      |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
    val dir = fmtDir(d, "jsonlgz")
    Tables.documents(s, d)
      .select(to_json(struct(col("doc_id"), col("lang"), col("text"))).as("value"))
      .repartition(4)
      .write.mode("overwrite").option("compression", "gzip").text(dir)
    s.read.schema("doc_id LONG, lang STRING, text STRING").json(dir)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("sum_id"),
        sum(octet_length(col("text")).cast("long")).as("sum_text_bytes"),
        sum(size(split(col("text"), " ")).cast("long")).as("sum_tokens"))
      .orderBy("lang")
  }

  val all: Seq[QueryDef] = Seq(scanCsv, scanJson, scanOrc, scanXml,
    maintenanceCompact, scanEvolution, exportTfrecord, scanAvro,
    scanMorDeletes, maintenanceRetention, scanTimeTravel, scanCsvQuarantine,
    maintenanceVacuum, exportTfrecordEmb, exportJsonl, scanCdf,
    exportWebdataset, exportMds, exportShardPlan, scanJsonlGz)
}
