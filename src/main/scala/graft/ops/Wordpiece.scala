package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** WORDPIECE ENCODING — greedy longest-match-first subword
  * segmentation (the BERT tokenizer algorithm: Wu et al. 2016,
  * arXiv:1609.08144 §4.1; Devlin et al. 2019): from each position take
  * the LONGEST inventory piece that matches, then continue after it.
  * Third member of the tokenizer family beside `text_bpe_encode`
  * (merge-rule replay) and `text_unigram_encode` (min-piece Viterbi) —
  * same inventory-segmentation shape, genuinely different semantics:
  * greedy maximal-munch can emit MORE pieces than the min-piece optimum
  * (EdgeSpec pins an inventory where the longest first piece forces a
  * worse tail: "abcde" over {ab, abc, cde} + chars goes abc|d|e = 3
  * greedy vs ab|cde = 2 optimal), and production stacks ship all three.
  *
  * Inventory: all single characters plus the top-60 multi-char
  * substrings (len 2..4) by corpus-weighted span count under the total
  * order (cnt DESC, piece ASC) — the unigram SEED rule, derived
  * independently here so the key is self-contained. Membership is all
  * the greedy scan needs (no probabilities), which is why WordPiece
  * decoding is rank-free and trivially deterministic cross-engine.
  * Characters are never pruned, so the scan always advances and every
  * in-scope word segments totally.
  *
  * Scale shape: the greedy chain runs once per DISTINCT vocab word
  * over the fixed 42-span grid (vocab-bounded; the ≤ 90-row inventory
  * broadcasts), unrolled as 12 pure-projection steps — position k
  * selects the precomputed longest-match successor nxt_j of position
  * k−1, so the whole chain is one whole-stage-codegen projection, no
  * join per step. The corpus token stream pays ONE (word → n_pieces)
  * dictionary join plus a combinable per-lang sum — the
  * text_bpe_encode / text_unigram_encode plan. The oracle replays
  * inventory, successor table, and the 12-step chain as CTEs (one CTE
  * per step — the lateral-alias-blowup guard).
  */
object Wordpiece {
  private val MaxLen = 12 // word length bound ([a-z]{2,12})
  private val MaxPiece = 4 // piece length bound
  private val SeedMulti = 60 // multi-char pieces kept

  /** The shared (w, wc, len) vocab relation — derived ONCE per gated
    * run and fed to both the inventory seed and the greedy chain (they
    * previously each re-scanned the corpus for it). */
  private[graft] def vocabOf(docs: DataFrame): DataFrame =
    docs.select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w").rlike(s"^[a-z]{2,$MaxLen}$$"))
      .groupBy("w").agg(count(lit(1)).as("wc"))
      .withColumn("len", length(col("w")).cast("int"))

  /** The fixed (j, i) span grid (42 rows). */
  private def gridOf(s: SparkSession): DataFrame = {
    import s.implicits._
    broadcast((for {
      i <- 1 to MaxLen; j <- math.max(0, i - MaxPiece) until i
    } yield (j, i)).toDF("j", "i"))
  }

  /** Greedy segmentation report over an EXPLICIT piece inventory —
    * the unit-testable core (EdgeSpec feeds an adversarial inventory
    * where maximal munch emits MORE pieces than the min-piece optimum;
    * the gated key derives the corpus one). Emits one row per lang:
    * words / chars / pieces / multi-char pieces used / tokens-per-100-
    * chars micro. */
  private[graft] def encodeGreedyWith(docs: DataFrame, v: DataFrame,
      inventory: Seq[String]): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val inv = broadcast(inventory.distinct.toDF("piece"))
    val grid = gridOf(s)
    val pres = v.crossJoin(grid).filter(col("i") <= col("len"))
      .select(col("w"), col("len"), col("j"), col("i"),
        expr("substring(w, j + 1, i - j)").as("piece"))
      .join(inv, Seq("piece"))
    // longest-match successor per start position: nxt_j = max matching i
    val nx = pres.groupBy("w", "len", "j").agg(max(col("i")).as("nxt"))
    val nxtCols = (0 until MaxLen).map(j =>
      max(when(col("j") === j, col("nxt"))).as(s"nxt_$j"))
    var df = nx.groupBy("w", "len").agg(nxtCols.head, nxtCols.tail: _*)
    // the greedy chain: p0 = 0; p_k = nxt[p_{k-1}] until the word ends
    df = df.withColumn("p0", lit(0))
    for (k <- 1 to MaxLen) {
      val step = (1 until MaxLen).foldLeft(
        when(col(s"p${k - 1}") >= col("len"), col(s"p${k - 1}"))
          .when(col(s"p${k - 1}") === 0, col("nxt_0"))) { (acc, j) =>
        acc.when(col(s"p${k - 1}") === j, col(s"nxt_$j"))
      }
      df = df.withColumn(s"p$k", step)
    }
    val advanced = (1 to MaxLen).map(k =>
      when(col(s"p$k") > col(s"p${k - 1}"), 1L).otherwise(0L))
    val multi = (1 to MaxLen).map(k =>
      when(col(s"p$k") - col(s"p${k - 1}") >= 2, 1L).otherwise(0L))
    val np = df.select(col("w"), col("len"),
      advanced.reduce(_ + _).as("n_pieces"),
      multi.reduce(_ + _).as("n_multi"))
    val tok = docs.select(col("lang"),
      explode(split(col("text"), " ")).as("w"))
    tok.join(np, Seq("w"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_words"),
        sum(col("len").cast("long")).as("n_chars"),
        sum(col("n_pieces")).as("n_tokens"),
        sum(col("n_multi")).as("n_multi_pieces"))
      .select(col("lang"), col("n_words"), col("n_chars"), col("n_tokens"),
        col("n_multi_pieces"),
        expr("n_tokens * 100000000L div n_chars").as("tpc_micro"))
  }

  /** Corpus-derived inventory: every single character appearing in
    * vocab words plus the top-`SeedMulti` multi-char spans by
    * (Σ wc DESC, piece ASC). Bounded driver state (≤ 26 + 60 rows —
    * the trained-index collect discipline). */
  private def corpusInventoryFromVocab(v: DataFrame): Seq[String] = {
    val s = v.sparkSession
    import s.implicits._
    val grid = gridOf(s)
    val sp = v.crossJoin(grid).filter(col("i") <= col("len"))
      .select(expr("substring(w, j + 1, i - j)").as("piece"),
        col("wc"), (col("i") - col("j")).as("plen"))
    val chars = sp.filter(col("plen") === 1).select("piece").distinct()
      .as[String].collect().toSeq
    val multi = sp.filter(col("plen") > 1)
      .groupBy("piece").agg(sum(col("wc")).as("cnt"))
      .orderBy(col("cnt").desc, col("piece")).limit(SeedMulti)
      .select("piece").as[String].collect().toSeq
    chars ++ multi
  }

  private def chainSql: String = {
    val steps = (1 to MaxLen).map { k =>
      val cases = (1 until MaxLen)
        .map(j => s"WHEN p${k - 1} = $j THEN nxt_$j").mkString(" ")
      s"""c$k AS (SELECT *, CASE WHEN p${k - 1} >= len THEN p${k - 1}
         |  WHEN p${k - 1} = 0 THEN nxt_0 $cases END AS p$k
         |  FROM c${k - 1})""".stripMargin
    }
    steps.mkString(",\n")
  }

  private def oracleSql: String = {
    val nxtPivot = (0 until MaxLen)
      .map(j => s"max(CASE WHEN j = $j THEN nxt END) AS nxt_$j")
      .mkString(",\n    ")
    val adv = (1 to MaxLen)
      .map(k => s"(CASE WHEN p$k > p${k - 1} THEN 1 ELSE 0 END)")
      .mkString(" + ")
    val mlt = (1 to MaxLen)
      .map(k => s"(CASE WHEN p$k - p${k - 1} >= 2 THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH v AS (
       |  SELECT w, count(*) AS wc, len(w) AS len
       |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE regexp_matches(w, '^[a-z]{2,$MaxLen}$$') GROUP BY w
       |), sp AS (
       |  SELECT w, wc, len, CAST(j AS INT) AS j, CAST(i AS INT) AS i,
       |    substr(w, CAST(j + 1 AS INT), CAST(i - j AS INT)) AS piece
       |  FROM v, unnest(generate_series(0, ${MaxLen - 1})) AS a(j),
       |       unnest(generate_series(1, $MaxLen)) AS b(i)
       |  WHERE i > j AND i - j <= $MaxPiece AND i <= len
       |), inv AS (
       |  SELECT DISTINCT piece FROM sp WHERE i - j = 1
       |  UNION
       |  SELECT piece FROM (
       |    SELECT piece, sum(wc) AS cnt FROM sp WHERE i - j > 1
       |    GROUP BY piece ORDER BY cnt DESC, piece LIMIT $SeedMulti)
       |), nx AS (
       |  SELECT sp.w, sp.len, sp.j, max(sp.i) AS nxt
       |  FROM sp JOIN inv USING (piece) GROUP BY sp.w, sp.len, sp.j
       |), c0 AS (
       |  SELECT w, len,
       |    $nxtPivot,
       |    0 AS p0
       |  FROM nx GROUP BY w, len
       |),
       |$chainSql,
       |np AS (
       |  SELECT w, len, $adv AS n_pieces, $mlt AS n_multi FROM c$MaxLen
       |), tok AS (
       |  SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents
       |)
       |SELECT t.lang, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(np.len) AS BIGINT) AS n_chars,
       |  CAST(sum(np.n_pieces) AS BIGINT) AS n_tokens,
       |  CAST(sum(np.n_multi) AS BIGINT) AS n_multi_pieces,
       |  CAST(sum(np.n_pieces) * 100000000 // sum(np.len) AS BIGINT)
       |    AS tpc_micro
       |FROM tok t JOIN np ON t.w = np.w
       |GROUP BY t.lang ORDER BY t.lang""".stripMargin
  }

  val textWordpieceEncode = QueryDef("text_wordpiece_encode", oracleSql) {
    (s, d) =>
      val docs = Tables.documents(s, d)
      // one vocab derivation feeds the inventory collects AND the chain
      val v = vocabOf(docs).localCheckpoint()
      encodeGreedyWith(docs, v, corpusInventoryFromVocab(v)).orderBy("lang")
  }

  val all: Seq[QueryDef] = Seq(textWordpieceEncode)
}
