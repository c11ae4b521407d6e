package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** UNIGRAM-LM TOKENIZER TRAINING (the SentencePiece-unigram family,
  * Kudo 2018, arXiv:1804.10959) — the other mainstream subword
  * tokenizer beside BPE (`text_bpe_*`): seed a piece inventory from
  * frequent substrings, then EM rounds where the E-step computes each
  * piece's EXPECTED count over all segmentations of every word
  * (forward–backward over the segmentation lattice — true soft EM, not
  * a Viterbi approximation) and the M-step re-estimates piece
  * probabilities and prunes the inventory to the survivors.
  *
  * Determinism discipline (what makes this hash-gateable cross-engine):
  *  - The lattice DP runs over a FIXED unrolled position grid (word
  *    length ≤ 12, piece length ≤ 4), so every α/β value is one
  *    explicitly-parenthesized arithmetic expression — both engines
  *    evaluate the identical IEEE tree (the cosine-kernel convention).
  *  - The M-step quantizes each word's expected-count contribution to
  *    an INTEGER (round(wc·E·10⁹)) before aggregating, so the
  *    cross-partition sum is order-free — exactly the quantized-Lloyd
  *    trick that made `sim_ann_kmeans` oracle-replayable.
  *  - Piece probabilities are add-one smoothed, p = (cnt+1)/(tot+n),
  *    computed from those integers — no piece ever reaches p = 0, so
  *    every lattice has positive mass and no 0/0 appears anywhere.
  *  - Prune rank is (integer cnt DESC, piece ASC) — a total order.
  *
  * Scale shape: ONE corpus scan builds the weighted word vocabulary
  * (combinable groupBy — the `text_bpe_pairs` argument: a 100 TB corpus
  * with a 10 M-word vocabulary pays the scan once); every EM round is
  * then VOCAB-bounded — the span grid is a 42-row broadcast, the model
  * a ≤ 100-row broadcast, the per-round aggregate one combinable
  * integer groupBy. Inter-round model state is driver-held (≤ 100
  * rows — the k-means centroid-state pattern), 2 rounds = 2 jobs.
  * The oracle unrolls both rounds as CTEs (pivot → one projection
  * CTE per α/β DP level → unnest of the 42 span contributions →
  * integer sums), the sim_ann_kmeans / text_bpe_merge discipline.
  */
object Unigram {
  private val MaxLen = 12 // word length bound ([a-z]{2,12})
  private val MaxPiece = 4 // piece length bound
  private val SeedMulti = 60 // multi-char pieces seeded
  private val KeepMulti = 48 // multi-char pieces kept per prune
  private val Rounds = 2
  private val QScale = "1000000000.0" // integer-quantization scale (1e9)

  /** The fixed (j, i) span grid: 0 ≤ j < i ≤ MaxLen, i − j ≤ MaxPiece.
    * A span covers word characters j+1..i (1-based substring). */
  private val allSpans: Seq[(Int, Int)] =
    for { i <- 1 to MaxLen; j <- math.max(0, i - MaxPiece) until i }
      yield (j, i)

  /** (w, wc, len) weighted word vocabulary — the only corpus-touching
    * relation. */
  private[graft] def vocab(docs: DataFrame): DataFrame =
    docs.select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w").rlike(s"^[a-z]{2,$MaxLen}$$"))
      .groupBy("w").agg(count(lit(1)).as("wc"))
      .withColumn("len", length(col("w")).cast("int"))

  /** (w, wc, len, j, i, piece): every span occurrence of every vocab
    * word — the 42-row grid broadcast against the vocabulary. */
  private def spansOf(v: DataFrame): DataFrame = {
    val s = v.sparkSession
    import s.implicits._
    val grid = broadcast(allSpans.toDF("j", "i"))
    v.crossJoin(grid).filter(col("i") <= col("len"))
      .select(col("w"), col("wc"), col("len"), col("j"), col("i"),
        expr("substring(w, j + 1, i - j)").as("piece"))
  }

  /** One E-step: expected integer counts per piece under model
    * (piece → p), via forward–backward over the span lattice. The
    * model is a driver-held Seq (bounded), broadcast into the span
    * join. Returns (piece, cnt: Long). */
  def expectedCounts(v: DataFrame, model: Seq[(String, Double)]): DataFrame = {
    val s = v.sparkSession
    import s.implicits._
    val m = broadcast(model.toDF("piece", "p"))
    val occ = spansOf(v).join(m, Seq("piece"))
    // pivot the lattice to one row per word with p_<j>_<i> columns
    val pCols = allSpans.map { case (j, i) =>
      max(when(col("j") === j && col("i") === i, col("p"))).as(s"p_${j}_$i")
    }
    var df = occ.groupBy("w", "wc", "len").agg(pCols.head, pCols.tail: _*)
    // forward: a0 = 1; a_i = Σ_j a_j · p_{j,i} (j ascending, left-assoc)
    df = df.withColumn("a0", lit(1.0))
    for (i <- 1 to MaxLen) {
      val terms = (math.max(0, i - MaxPiece) until i).map(j =>
        coalesce(col(s"a$j") * col(s"p_${j}_$i"), lit(0.0)))
      df = df.withColumn(s"a$i", when(col("len") >= i, terms.reduce(_ + _)))
    }
    df = df.withColumn("z",
      (3 to MaxLen).foldLeft(when(col("len") === 2, col("a2"))) {
        (acc, i) => acc.when(col("len") === i, col(s"a$i"))
      })
    // backward: b_len = 1; b_i = Σ_j p_{i,j} · b_j (j ascending)
    for (i <- MaxLen to 0 by -1) {
      val terms = ((i + 1) to math.min(MaxLen, i + MaxPiece)).map(j =>
        coalesce(col(s"p_${i}_$j") * col(s"b$j"), lit(0.0)))
      val tail = if (terms.isEmpty) lit(1.0)
        else when(col("len") > i, terms.reduce(_ + _))
      df = df.withColumn(s"b$i", when(col("len") === i, lit(1.0)).otherwise(tail))
    }
    // per-span contribution, integer-quantized BEFORE the global sum
    val contribs = allSpans.map { case (j, i) =>
      struct(
        expr(s"substring(w, ${j + 1}, ${i - j})").as("piece"),
        round(col("wc") * (((col(s"a$j") * col(s"p_${j}_$i")) * col(s"b$i")) /
          col("z")) * expr(QScale)).cast("long").as("c"))
    }
    df.select(explode(array(contribs: _*)).as("e"))
      .filter(col("e.c").isNotNull)
      .groupBy(col("e.piece").as("piece"))
      .agg(sum(col("e.c")).as("cnt"))
  }

  /** Add-one-smoothed probabilities from integer counts — the exact
    * double both engines compute: (cnt+1)/(tot+n). */
  private def toProbs(cnts: Seq[(String, Long)]): Seq[(String, Double)] = {
    val tot = cnts.map(_._2).sum
    val n = cnts.size
    cnts.map { case (pc, c) => pc -> (c + 1).toDouble / (tot + n).toDouble }
  }

  /** chars ∪ top-`keep` multi-char pieces by (cnt DESC, piece ASC);
    * `chars` keeps its full membership with count 0 when absent (the
    * SentencePiece coverage rule: single characters are never pruned). */
  private def prune(cnts: Seq[(String, Long)], chars: Seq[String],
      keep: Int): Seq[(String, Long)] = {
    val byPiece = cnts.toMap
    val charRows = chars.sorted.map(c => c -> byPiece.getOrElse(c, 0L))
    val multi = cnts.filter(_._1.length > 1)
      .sortBy { case (pc, c) => (-c, pc) }.take(keep)
    charRows ++ multi
  }

  // ---------------------------------------------------------------- oracle

  /** Pivot column list p_<j>_<i> over CTE `occ` (w, wc, len, j, i, p). */
  private def pivotSql: String = allSpans.map { case (j, i) =>
    s"max(CASE WHEN j = $j AND i = $i THEN p END) AS p_${j}_$i"
  }.mkString(",\n    ")

  /** α/β/z DP levels as ONE CTE PER LEVEL (each a plain `SELECT *,
    * <level expr>` over the previous), mirroring `expectedCounts`'s
    * withColumn chain term for term (left-associated sums, same
    * coalesce). One level per CTE matters: expressing the chain as
    * lateral column aliases in a single SELECT makes DuckDB INLINE each
    * alias into its consumers, and the branching-factor-4, depth-12
    * recurrence explodes to millions of expression nodes (observed OOM
    * in the binder); separate projections compute each level once. */
  private def alphaBetaCtes(r: Int): Seq[(String, String)] = {
    val levels = Seq.newBuilder[(String, String)]
    levels += (s"l${r}a0" -> "1.0 AS a0")
    for (i <- 1 to MaxLen) {
      val terms = (math.max(0, i - MaxPiece) until i)
        .map(j => s"coalesce(a$j * p_${j}_$i, 0.0)")
        .reduce((a, b) => s"($a + $b)")
      levels += (s"l${r}a$i" -> s"CASE WHEN len >= $i THEN $terms END AS a$i")
    }
    levels += (s"l${r}z" -> ("CASE " + (2 to MaxLen)
      .map(i => s"WHEN len = $i THEN a$i").mkString(" ") + " END AS z"))
    for (i <- MaxLen to 0 by -1) {
      val terms = ((i + 1) to math.min(MaxLen, i + MaxPiece))
        .map(j => s"coalesce(p_${i}_$j * b$j, 0.0)")
      val e = if (terms.isEmpty) s"CASE WHEN len = $i THEN 1.0 END AS b$i"
        else s"CASE WHEN len = $i THEN 1.0 WHEN len > $i THEN ${
          terms.reduce((a, b) => s"($a + $b)")} END AS b$i"
      levels += (s"l${r}b$i" -> e)
    }
    levels.result()
  }

  /** The level CTEs chained over `w$r`, ending in an alias `l$r`. */
  private def alphaBetaSql(r: Int): String = {
    val levels = alphaBetaCtes(r)
    val chained = levels.zipWithIndex.map { case ((name, e), ix) =>
      val src = if (ix == 0) s"w$r" else levels(ix - 1)._1
      s"$name AS (SELECT *, $e FROM $src)"
    }
    (chained :+ s"l$r AS (SELECT * FROM ${levels.last._1})").mkString(",\n")
  }

  /** The 42 per-span quantized contributions as an unnest list. */
  private def contribSql: String = allSpans.map { case (j, i) =>
    s"{'piece': substr(w, ${j + 1}, ${i - j}), " +
      s"'c': CAST(round(wc * (((a$j * p_${j}_$i) * b$i) / z) * $QScale) AS BIGINT)}"
  }.mkString(",\n    ")

  /** One EM round as CTEs: model `m<r-1>` (piece, cnt) → probs →
    * lattice → expected counts `c<r>` → pruned model `m<r>`. */
  private def roundSql(r: Int): String =
    s"""mp$r AS (
       |  SELECT piece, CAST(cnt + 1 AS DOUBLE) /
       |    (SELECT CAST(sum(cnt) + count(*) AS DOUBLE) FROM m${r - 1}) AS p
       |  FROM m${r - 1}
       |), occ$r AS (
       |  SELECT sp.w, sp.wc, sp.len, sp.j, sp.i, mp.p
       |  FROM spans sp JOIN mp$r mp USING (piece)
       |), w$r AS (
       |  SELECT w, wc, len,
       |    $pivotSql
       |  FROM occ$r GROUP BY w, wc, len
       |),
       |${alphaBetaSql(r)},
       |e$r AS (
       |  SELECT unnest([
       |    $contribSql
       |  ]) AS e FROM l$r
       |), c$r AS (
       |  SELECT e.piece AS piece, CAST(sum(e.c) AS BIGINT) AS cnt
       |  FROM e$r WHERE e.c IS NOT NULL GROUP BY e.piece
       |), m$r AS (
       |  SELECT ch.piece, coalesce(c.cnt, 0) AS cnt
       |  FROM chars ch LEFT JOIN c$r c USING (piece)
       |  UNION ALL
       |  SELECT piece, cnt FROM (
       |    SELECT piece, cnt FROM c$r WHERE length(piece) > 1
       |    ORDER BY cnt DESC, piece LIMIT $KeepMulti)
       |)""".stripMargin

  /** The shared training CTE chain (`WITH wd AS ... m$Rounds`), ending
    * WITHOUT a final SELECT, so the train oracle and the encode oracle
    * both concatenate onto it — rather than one string-splitting the
    * other, which made a harmless reformat of the train oracle silently
    * corrupt the encode oracle (round-12 advice). */
  def trainPrefixSql: String =
    s"""WITH wd AS (
       |  SELECT w, CAST(count(*) AS BIGINT) AS wc, CAST(length(w) AS INT) AS len
       |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE regexp_full_match(w, '[a-z]{2,$MaxLen}') GROUP BY w
       |), grid AS (
       |  SELECT j, i FROM (SELECT unnest(generate_series(0, ${MaxLen - 1})) AS j),
       |       (SELECT unnest(generate_series(1, $MaxLen)) AS i)
       |  WHERE j < i AND i - j <= $MaxPiece
       |), spans AS (
       |  SELECT w, wc, len, j, i, substr(w, CAST(j + 1 AS INT), CAST(i - j AS INT)) AS piece
       |  FROM wd, grid WHERE i <= len
       |), sc AS (
       |  SELECT piece, CAST(sum(wc) AS BIGINT) AS cnt FROM spans GROUP BY piece
       |), chars AS (
       |  SELECT piece, cnt FROM sc WHERE length(piece) = 1
       |), m0 AS (
       |  SELECT piece, cnt FROM chars
       |  UNION ALL
       |  SELECT piece, cnt FROM (
       |    SELECT piece, cnt FROM sc WHERE length(piece) > 1
       |    ORDER BY cnt DESC, piece LIMIT $SeedMulti)
       |),
       |${(1 to Rounds).map(roundSql).mkString(",\n")}""".stripMargin

  def oracleSql: String =
    s"""$trainPrefixSql
       |SELECT piece, CAST(length(piece) AS BIGINT) AS piece_len, cnt
       |FROM m$Rounds ORDER BY cnt DESC, piece""".stripMargin

  /** One training run per (session, sfDir), shared by
    * `text_unigram_train` (emits the inventory) and
    * `text_unigram_encode` (applies it): training is deterministic, so
    * sharing cannot move a hash, and the EM collect rounds run once
    * instead of once per consumer. */
  private def cachedTrain(s: SparkSession, d: String): Seq[(String, Long)] =
    Memo.once(s, d, "unigram.train")(trainFinal(Tables.documents(s, d)))

  /** Full training run as the raw (piece, cnt) inventory. */
  private def trainFinal(docs: DataFrame): Seq[(String, Long)] = {
    val s = docs.sparkSession
    import s.implicits._
    val v = vocab(docs).localCheckpoint()
    val seed = spansOf(v).groupBy("piece").agg(sum(col("wc")).as("cnt"))
      .as[(String, Long)].collect().toSeq
    val chars = seed.filter(_._1.length == 1).map(_._1)
    var model = toProbs(prune(seed, chars, SeedMulti))
    var last: Seq[(String, Long)] = Seq.empty
    for (_ <- 1 to Rounds) {
      val cnts = expectedCounts(v, model).as[(String, Long)].collect().toSeq
      last = prune(cnts, chars, KeepMulti)
      model = toProbs(last)
    }
    last
  }

  /** Full training run: seed → `Rounds` EM rounds → final inventory
    * with round-`Rounds` expected counts. Driver state is the ≤ 100-row
    * model between rounds. */
  def train(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    trainFinal(docs).toDF("piece", "cnt")
      .select(col("piece"), length(col("piece")).cast("long").as("piece_len"),
        col("cnt"))
      .orderBy(col("cnt").desc, col("piece"))
  }

  val textUnigramTrain = QueryDef("text_unigram_train", oracleSql) { (s, d) =>
    import s.implicits._
    cachedTrain(s, d).toDF("piece", "cnt")
      .select(col("piece"), length(col("piece")).cast("long").as("piece_len"),
        col("cnt"))
      .orderBy(col("cnt").desc, col("piece"))
  }

  // ---------------------------------------------------------- encode

  private val EncBig = 1000000L // piece-count weight in the DP objective
  private val EncSent = 900000000000000L // unreachable-edge sentinel

  /** UNIGRAM-LM ENCODING — the apply half of the tokenizer (the
    * `text_bpe_encode` symmetry: train emits the inventory, THIS costs
    * the corpus under it): each in-scope word is segmented over the
    * trained round-`Rounds` inventory and the per-language compression
    * report (words, chars, tokens, tokens-per-100-chars in micro) is
    * the gated relation.
    *
    * The segmentation objective is the deterministic integer twin of
    * SentencePiece's Viterbi decode (the text_unigram_train
    * quantization discipline): primary = fewest pieces, tiebreak =
    * most-frequent pieces, encoded as one integer shortest-path DP
    * d_i = min_j (d_j + EncBig − q(piece_{j,i})) where q = 200 − rank
    * of the piece in the trained inventory's total order (cnt DESC,
    * piece ASC — rank is engine-invariant where raw float
    * probabilities are not, and q is a monotone proxy for them).
    * Single characters are never pruned from the inventory, so every
    * word is segmentable and d is total. n_pieces falls out as
    * d div EncBig + 1 (every edge scores 1 ≤ q < EncBig).
    *
    * Scale shape: the DP runs once per DISTINCT vocab word over the
    * same fixed 42-span grid as training (vocab-bounded, the span grid
    * and ≤ 100-row scored inventory broadcast); the corpus token
    * stream then pays ONE dictionary join against (word → n_pieces)
    * and a combinable per-lang sum — the text_bpe_encode plan.
    * Out-of-scope words (non-[a-z]{2,12}) are not encodable by this
    * inventory and drop at the join, in scope both engines. */
  def encodeReport(docs: DataFrame, model: Seq[(String, Long)]): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val ranked = model.sortBy { case (pc, c) => (-c, pc) }.zipWithIndex
      .map { case ((pc, _), ix) => (pc, math.max(200L - (ix + 1), 1L)) }
    val m = broadcast(ranked.toDF("piece", "q"))
    val v = vocab(docs)
    val occ = spansOf(v).join(m, Seq("piece"))
    val qCols = allSpans.map { case (j, i) =>
      max(when(col("j") === j && col("i") === i, col("q"))).as(s"q_${j}_$i")
    }
    var df = occ.groupBy("w", "len").agg(qCols.head, qCols.tail: _*)
    df = df.withColumn("d0", lit(0L))
    for (i <- 1 to MaxLen) {
      val terms = (math.max(0, i - MaxPiece) until i).map(j =>
        coalesce(col(s"d$j") + lit(EncBig) - col(s"q_${j}_$i"), lit(EncSent)))
      val best = if (terms.size == 1) terms.head else least(terms: _*)
      df = df.withColumn(s"d$i", when(col("len") >= i, best))
    }
    val dFin = (3 to MaxLen).foldLeft(when(col("len") === 2, col("d2"))) {
      (acc, i) => acc.when(col("len") === i, col(s"d$i"))
    }
    val np = df.withColumn("d", dFin.cast("long"))
      .select(col("w"), col("len"),
        expr(s"d div $EncBig + 1").as("n_pieces"))
    val tok = docs.select(col("lang"),
      explode(split(col("text"), " ")).as("w"))
    tok.join(np, Seq("w"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_words"),
        sum(col("len").cast("long")).as("n_chars"),
        sum(col("n_pieces")).as("n_tokens"))
      .select(col("lang"), col("n_words"), col("n_chars"), col("n_tokens"),
        expr("n_tokens * 100000000L div n_chars").as("tpc_micro"))
  }

  /** Encode DP levels, one CTE per level (the alphaBetaSql discipline —
    * a lateral-alias chain would inline exponentially in the binder). */
  private def encodeLevelSql: String = {
    val levels = Seq.newBuilder[(String, String)]
    levels += ("ed0" -> "CAST(0 AS BIGINT) AS d0")
    for (i <- 1 to MaxLen) {
      val ts = (math.max(0, i - MaxPiece) until i)
        .map(j => s"coalesce(d$j + $EncBig - q_${j}_$i, $EncSent)")
      val best = if (ts.size == 1) ts.head else s"least(${ts.mkString(", ")})"
      levels += (s"ed$i" ->
        s"CASE WHEN len >= $i THEN $best END AS d$i")
    }
    val chained = levels.result().zipWithIndex.map { case ((name, e), ix) =>
      val src = if (ix == 0) "wq" else s"ed${ix - 1}"
      s"$name AS (SELECT *, $e FROM $src)"
    }
    chained.mkString(",\n")
  }

  private def encodePivotSql: String = allSpans.map { case (j, i) =>
    s"max(CASE WHEN j = $j AND i = $i THEN q END) AS q_${j}_$i"
  }.mkString(",\n    ")

  def encodeOracleSql: String = {
    s"""$trainPrefixSql,
       |mr AS (
       |  SELECT piece, greatest(200 - row_number()
       |    OVER (ORDER BY cnt DESC, piece), 1) AS q
       |  FROM m$Rounds
       |), qocc AS (
       |  SELECT sp.w, sp.len, sp.j, sp.i, mr.q
       |  FROM spans sp JOIN mr USING (piece)
       |), wq AS (
       |  SELECT w, len,
       |    $encodePivotSql
       |  FROM qocc GROUP BY w, len
       |),
       |$encodeLevelSql,
       |np AS (
       |  SELECT w, len,
       |    (CASE ${(2 to MaxLen).map(i => s"WHEN len = $i THEN d$i")
                .mkString(" ")} END) // $EncBig + 1 AS n_pieces
       |  FROM ed$MaxLen
       |), tok AS (
       |  SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents
       |)
       |SELECT t.lang, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(np.len) AS BIGINT) AS n_chars,
       |  CAST(sum(np.n_pieces) AS BIGINT) AS n_tokens,
       |  CAST(sum(np.n_pieces) * 100000000 // sum(np.len) AS BIGINT)
       |    AS tpc_micro
       |FROM tok t JOIN np ON t.w = np.w
       |GROUP BY t.lang ORDER BY t.lang""".stripMargin
  }

  val textUnigramEncode = QueryDef("text_unigram_encode", encodeOracleSql) {
    (s, d) =>
      encodeReport(Tables.documents(s, d), cachedTrain(s, d)).orderBy("lang")
  }

  val all: Seq[QueryDef] = Seq(textUnigramTrain, textUnigramEncode)
}
