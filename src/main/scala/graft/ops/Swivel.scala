package graft.ops

import org.apache.spark.sql.functions._
import graft.Tables
import graft.swivel.SwivelPrep

/** Declared Swivel queries (SURVEY.md §2.6) binding the fixed corpus
  * parameters windowSize=10, minCount=5, shardSize=8, plus the DuckDB
  * oracle CTE chain mirroring each stage.
  */
object Swivel {
  val WindowSize = 10
  val MinCount = 5
  val ShardSize = 8

  /** Shared DuckDB CTE prefix: tokens → vocab → id-mapped tokens → ordered
    * in-window pairs (both orientations) → per-distance counts per cell.
    * Weight = fixed-order Σ_d n_d/d (matches SwivelPrep.cellsFromCounts). */
  private val weightSql: String =
    (1 to WindowSize).map(k => s"sum(CASE WHEN dd = $k THEN 1 ELSE 0 END) / $k.0")
      .mkString(" + ")

  private val baseCte: String =
    s"""WITH tok AS (
       |  SELECT doc_id,
       |         CAST(generate_subscripts(string_split(text, ' '), 1) AS BIGINT) AS pos,
       |         unnest(string_split(text, ' ')) AS token
       |  FROM documents
       |), vcnt AS (
       |  SELECT token, CAST(count(*) AS BIGINT) AS cnt
       |  FROM tok GROUP BY token HAVING count(*) >= $MinCount
       |), vrk AS (
       |  SELECT token, cnt,
       |         row_number() OVER (ORDER BY cnt DESC, token) AS rn,
       |         count(*) OVER () AS total
       |  FROM vcnt
       |), vocab AS (
       |  SELECT CAST(rn - 1 AS BIGINT) AS id, token, cnt
       |  FROM vrk WHERE rn <= (total // $ShardSize) * $ShardSize
       |), tid AS (
       |  SELECT t.doc_id, t.pos, v.id FROM tok t JOIN vocab v USING (token)
       |), prs AS (
       |  SELECT a.id AS x, b.id AS y, CAST(b.pos - a.pos AS INT) AS dd
       |  FROM tid a JOIN tid b
       |    ON a.doc_id = b.doc_id AND b.pos > a.pos AND b.pos <= a.pos + $WindowSize
       |), pboth AS (
       |  SELECT x AS row_id, y AS col_id, dd FROM prs
       |  UNION ALL
       |  SELECT y AS row_id, x AS col_id, dd FROM prs
       |), cells AS (
       |  SELECT row_id, col_id, round($weightSql, 4) AS weight
       |  FROM pboth GROUP BY row_id, col_id
       |)""".stripMargin

  val swivelTokenize = QueryDef(
    "swivel_tokenize",
    s"""$baseCte
       |SELECT doc_id, pos, token FROM tok ORDER BY doc_id, pos""".stripMargin) { (s, d) =>
    SwivelPrep.tokenize(Tables.documents(s, d)).orderBy("doc_id", "pos")
  }

  val swivelVocab = QueryDef(
    "swivel_vocab",
    s"""$baseCte
       |SELECT id, token, cnt FROM vocab ORDER BY id""".stripMargin) { (s, d) =>
    SwivelPrep.buildVocab(Tables.documents(s, d), MinCount, ShardSize).orderBy("id")
  }

  /** Swivel prep landed once per (session, dataset): the vocab, its size
    * and the cell counts of the one pair pass, as `SwivelMain` lands them.
    * Every key over the co-occurrence matrix reads this landing, except
    * `swivel_cooc_salted`, whose own salted aggregation over the pairs is
    * the path it gates. */
  private def prepared(s: org.apache.spark.sql.SparkSession, d: String) =
    Memo.once(s, d, "swivel.counts") {
      val docs = Tables.documents(s, d)
      SwivelPrep.prepare(docs, SwivelPrep.rankVocab(docs, MinCount, ShardSize), ShardSize,
        WindowSize)
    }

  private val cellsOracle =
    s"""$baseCte
       |SELECT row_id, col_id, weight FROM cells ORDER BY row_id, col_id""".stripMargin

  val swivelCooc = QueryDef("swivel_cooc", cellsOracle) { (s, d) =>
    prepared(s, d).cells.orderBy("row_id", "col_id")
  }

  /** The skew-hardened two-level aggregation, gated with the IDENTICAL
    * oracle as swivel_cooc: salting merges exact integer n_d counts, and
    * the final weight uses the same fixed-order Σ n_d/d, so the relation
    * is bit-identical to `cooc` by construction, and the Zipfian-scale
    * path is hash-checked at every SF instead of only by a fixture spec.
    */
  val swivelCoocSalted = QueryDef("swivel_cooc_salted", cellsOracle) { (s, d) =>
    SwivelPrep.coocSalted(Tables.documents(s, d), prepared(s, d).vocab, WindowSize)
      .orderBy("row_id", "col_id")
  }

  val swivelMarginals = QueryDef(
    "swivel_marginals",
    s"""$baseCte
       |SELECT row_id AS id, round($weightSql, 4) AS marginal
       |FROM pboth GROUP BY id ORDER BY id""".stripMargin) { (s, d) =>
    prepared(s, d).marginals.orderBy("id")
  }

  /** Scaled integer cell weight for the PMI key: Σ n_d · (2520/d) with
    * 2520 = LCM(1..10) — the exact-integer form of $weightSql. */
  private val scaledWeightSql: String =
    (1 to WindowSize).map(k =>
      s"sum(CASE WHEN dd = $k THEN ${2520 / k} ELSE 0 END)").mkString(" + ")

  /** Positive-PMI report over the co-occurrence matrix — the quantity
    * Swivel's objective approximates (SwivelPrep.pmiCells holds the
    * determinism + scale rationale: LCM-rescaled integer weights,
    * HUGEINT/DECIMAL(38,0) product, integral div, log never runs). Top
    * 30 supported cells by PMI ratio in micro-units. */
  val swivelPmi = QueryDef(
    "swivel_pmi",
    s"""$baseCte, scells AS (
       |  SELECT row_id, col_id, $scaledWeightSql AS sw
       |  FROM pboth GROUP BY row_id, col_id
       |), rmarg AS (
       |  SELECT row_id, sum(sw) AS smi FROM scells GROUP BY row_id
       |), tot AS (
       |  SELECT sum(sw) AS st FROM scells
       |)
       |SELECT c.row_id, c.col_id, CAST(c.sw AS BIGINT) AS sw,
       |  CAST(CAST(c.sw AS HUGEINT) * t.st * 1000000
       |       // (CAST(r1.smi AS HUGEINT) * r2.smi) AS BIGINT) AS ratio_ppm
       |FROM scells c
       |JOIN rmarg r1 ON c.row_id = r1.row_id
       |JOIN rmarg r2 ON c.col_id = r2.row_id
       |CROSS JOIN tot t
       |WHERE c.sw >= 7560
       |ORDER BY ratio_ppm DESC, c.row_id, c.col_id LIMIT 30""".stripMargin) {
    (s, d) =>
      SwivelPrep.pmiCells(prepared(s, d).counts, WindowSize, minScaled = 7560L, topK = 30)
  }

  private val shardCte =
    s""", nsh AS (
       |  SELECT (count(*) // $ShardSize) AS num_shards FROM vocab
       |), shards AS (
       |  SELECT row_id % num_shards AS row_shard,
       |         col_id % num_shards AS col_shard,
       |         row_id // num_shards AS local_row,
       |         col_id // num_shards AS local_col,
       |         row_id AS global_row, col_id AS global_col, weight
       |  FROM cells, nsh
       |)""".stripMargin

  val swivelShard = QueryDef(
    "swivel_shard",
    s"""$baseCte$shardCte
       |SELECT * FROM shards ORDER BY global_row, global_col""".stripMargin) { (s, d) =>
    prepared(s, d).shards.orderBy("global_row", "global_col")
  }

  val swivelShardStats = QueryDef(
    "swivel_shard_stats",
    s"""$baseCte$shardCte
       |SELECT row_shard, col_shard, CAST(count(*) AS BIGINT) AS n_cells
       |FROM shards GROUP BY row_shard, col_shard
       |ORDER BY row_shard, col_shard""".stripMargin) { (s, d) =>
    prepared(s, d).shards
      .groupBy("row_shard", "col_shard")
      .agg(count(lit(1)).as("n_cells"))
      .orderBy("row_shard", "col_shard")
  }

  /** The `.pb` shard sink + source under the driver's hash — the
    * reference's own `shard-RRR-CCC.pb` tensorflow.Example output format,
    * gated end to end rather than only by golden-byte specs: write the
    * landed cell counts through `TfExample.writeSwivelPbShards` (the
    * writer SwivelMain feeds with the pair pass's partial counts), read
    * the files back via `readSwivelPbShards` (one `binaryFile` scan), and
    * emit the cell relation, as the csv/json/orc/xml/bucketed/partitioned
    * sinks are gated. The oracle is `swivel_shard`'s SQL with ONE honest change:
    * the wire format stores float32 (`sparse_value` is a FloatList), so
    * both engines quantize the 4dp weight double→FLOAT — the same
    * round-to-nearest-even cast on the same double yields identical bits,
    * and the emitted FLOAT column certifies exactly the precision the
    * bytes carry. Empty shards exist as stripe-only files but contribute
    * no cells, so the read-back relation is exactly `shards`. */
  val swivelShardPb = QueryDef(
    "swivel_shard_pb",
    s"""$baseCte$shardCte
       |SELECT row_shard, col_shard, local_row, local_col,
       |       global_row, global_col, CAST(weight AS FLOAT) AS weight
       |FROM shards ORDER BY global_row, global_col""".stripMargin) { (s, d) =>
    val p = prepared(s, d)
    // deterministic temp dir per sfDir (join_bucketed/scan_csv convention);
    // the sink deletes a stale grid from an older vocab before writing
    val dir = QueryDef.tmpRoot("pb", d)
    graft.sources.TfExample.writeSwivelPbShards(p.counts, p.numShards, p.vocabSize, dir)
    graft.sources.TfExample.readSwivelPbShards(s, dir)
      .select("row_shard", "col_shard", "local_row", "local_col",
        "global_row", "global_col", "weight")
      .orderBy("global_row", "global_col")
  }

  val all: Seq[QueryDef] = Seq(swivelTokenize, swivelVocab, swivelCooc,
    swivelCoocSalted, swivelMarginals, swivelPmi, swivelShard, swivelShardStats,
    swivelShardPb)
}
