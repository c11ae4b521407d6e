package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Post-training (alignment) data construction: DPO preference-pair
  * assembly and DoReMi domain reweighting. Same house discipline as
  * `Curation`: all-integer gated relations, a DuckDB oracle replaying
  * the identical pipeline, scale rationale per key.
  */
object Alignment {

  private val B = 1099511627776L // 2^40 — the labelprop packing base
  private val MarginMicro = 10000L // 1% minimum preference margin

  /** THE DPO candidate relation (doc_id, lang, source, prompt, n_resp,
    * score) — prompt = first 12 tokens, response = rest, score =
    * distinct-token ratio in micro units, length gate n_resp ≥ 20.
    * ONE definition shared by `pipeline_dpo` (pair assembly) and
    * `align_bt_rank` (duel construction): both scaladocs cite "the DPO
    * candidate relation", so the projection must not fork. */
  def dpoCandidates(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"), col("source"),
        split(col("text"), " ").as("toks"))
      .select(col("doc_id"), col("lang"), col("source"),
        array_join(slice(col("toks"), 1, 12), " ").as("prompt"),
        (size(col("toks")) - 12).cast("long").as("n_resp"),
        (size(array_distinct(expr("slice(toks, 13, size(toks))")))
          .cast("long") * 1000000L).as("ndm"))
      .filter(col("n_resp") >= 20)
      .withColumn("score", expr("ndm div n_resp")).drop("ndm")

  /** DPO PREFERENCE-PAIR CONSTRUCTION (Rafailov et al. 2023,
    * arXiv:2305.18290 consumes these; the construction recipe is the
    * standard "best-vs-worst response per prompt" harvesting): treat
    * the first 12 tokens as the prompt and the rest as a candidate
    * response (the pipeline_sft convention), score each response by
    * its distinct-token ratio in micro units (the repetition screen as
    * a preference signal — planted dup-token docs land at the bottom),
    * and per (lang, prompt) group emit the pair (chosen = best,
    * rejected = worst) when the group has ≥ 2 candidates and the
    * score margin clears 1%. The fixture's near-duplicate groups share
    * 12-token prompts with genuinely different responses at every SF,
    * so the pair branch fires by construction.
    *
    * Determinism: chosen is the max of ONE packed integer
    * score·2⁴⁰ + (2⁴⁰−1−doc_id) ("max score, then min doc_id") and
    * rejected the min of score·2⁴⁰ + doc_id ("min score, then min
    * doc_id") — the labelprop total-order packing, no window/argmax
    * tie semantics. Safe while scores < 2²³ micro and doc_id < 2⁴⁰.
    *
    * Scale shape: scoring is a scan-stage projection; grouping is ONE
    * (lang, prompt)-keyed combinable aggregate (two packed max/min);
    * the chosen/rejected response lengths come back via two keyed
    * joins of the PAIR relation (prompt-bounded, far smaller than the
    * corpus) against the narrow candidate relation; the funnel is a
    * per-lang combinable rollup. Nothing quadratic, no window over the
    * corpus. */
  val pipelineDpo = QueryDef(
    "pipeline_dpo",
    s"""WITH base AS (
       |  SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
       |), cand AS (
       |  SELECT doc_id, lang,
       |    array_to_string(toks[1:12], ' ') AS prompt,
       |    len(toks) - 12 AS n_resp,
       |    len(list_distinct(toks[13:])) * 1000000
       |      // (len(toks) - 12) AS score
       |  FROM base WHERE len(toks) - 12 >= 20
       |), grp AS (
       |  SELECT lang, prompt, count(*) AS n_cand,
       |    max(score * $B + ($B - 1 - doc_id)) AS ckey,
       |    min(score * $B + doc_id) AS rkey
       |  FROM cand GROUP BY lang, prompt
       |), pair AS (
       |  SELECT lang, prompt,
       |    ($B - 1) - (ckey % $B) AS chosen_doc,
       |    ckey // $B AS chosen_score,
       |    rkey % $B AS rejected_doc,
       |    rkey // $B AS rejected_score
       |  FROM grp
       |  WHERE n_cand >= 2 AND ckey // $B - rkey // $B >= $MarginMicro
       |), tokd AS (
       |  SELECT p.lang,
       |    c1.n_resp + c2.n_resp + 36 AS pair_tokens,
       |    p.chosen_score - p.rejected_score AS margin
       |  FROM pair p
       |  JOIN cand c1 ON p.chosen_doc = c1.doc_id
       |  JOIN cand c2 ON p.rejected_doc = c2.doc_id
       |), docs AS (
       |  SELECT lang, count(*) AS n_docs FROM base GROUP BY lang
       |), cnd AS (
       |  SELECT lang, count(*) AS n_candidates,
       |    count(DISTINCT prompt) AS n_prompts
       |  FROM cand GROUP BY lang
       |), mul AS (
       |  SELECT lang,
       |    sum(CASE WHEN n_cand >= 2 THEN 1 ELSE 0 END) AS n_groups_multi
       |  FROM grp GROUP BY lang
       |), pr AS (
       |  SELECT lang, count(*) AS n_pairs, sum(pair_tokens) AS sum_pair_tokens,
       |    min(margin) AS min_margin
       |  FROM tokd GROUP BY lang
       |)
       |SELECT d.lang, CAST(d.n_docs AS BIGINT) AS n_docs,
       |  CAST(coalesce(c.n_candidates, 0) AS BIGINT) AS n_candidates,
       |  CAST(coalesce(c.n_prompts, 0) AS BIGINT) AS n_prompts,
       |  CAST(coalesce(m.n_groups_multi, 0) AS BIGINT) AS n_groups_multi,
       |  CAST(coalesce(p.n_pairs, 0) AS BIGINT) AS n_pairs,
       |  CAST(coalesce(p.sum_pair_tokens, 0) AS BIGINT) AS sum_pair_tokens,
       |  CAST(coalesce(p.min_margin, 0) AS BIGINT) AS min_margin_micro
       |FROM docs d
       |LEFT JOIN cnd c ON d.lang = c.lang
       |LEFT JOIN mul m ON d.lang = m.lang
       |LEFT JOIN pr p ON d.lang = p.lang
       |ORDER BY d.lang""".stripMargin) { (s, d) =>
    val base = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("toks"))
    val cand = dpoCandidates(Tables.documents(s, d)).drop("source")
    val grp = cand.groupBy("lang", "prompt")
      .agg(count(lit(1)).as("n_cand"),
        max(col("score") * B + (lit(B - 1) - col("doc_id"))).as("ckey"),
        min(col("score") * B + col("doc_id")).as("rkey"))
    val pair = grp
      .filter(col("n_cand") >= 2 &&
        expr(s"ckey div $B - rkey div $B") >= MarginMicro)
      .select(col("lang"),
        (lit(B - 1) - col("ckey") % B).as("chosen_doc"),
        expr(s"ckey div $B").as("chosen_score"),
        (col("rkey") % B).as("rejected_doc"),
        expr(s"rkey div $B").as("rejected_score"))
    val nr = cand.select(col("doc_id"), col("n_resp"))
    val tokd = pair
      .join(nr.withColumnRenamed("doc_id", "chosen_doc")
        .withColumnRenamed("n_resp", "r1"), Seq("chosen_doc"))
      .join(nr.withColumnRenamed("doc_id", "rejected_doc")
        .withColumnRenamed("n_resp", "r2"), Seq("rejected_doc"))
      .select(col("lang"), (col("r1") + col("r2") + 36).as("pair_tokens"),
        (col("chosen_score") - col("rejected_score")).as("margin"))
    val docs = base.groupBy("lang").agg(count(lit(1)).as("n_docs"))
    val cnd = cand.groupBy("lang")
      .agg(count(lit(1)).as("n_candidates"),
        countDistinct(col("prompt")).as("n_prompts"))
    val mul = grp.groupBy("lang")
      .agg(sum(when(col("n_cand") >= 2, 1L).otherwise(0L))
        .as("n_groups_multi"))
    val pr = tokd.groupBy("lang")
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("pair_tokens")).as("sum_pair_tokens"),
        min(col("margin")).as("min_margin"))
    docs.join(cnd, Seq("lang"), "left")
      .join(mul, Seq("lang"), "left")
      .join(pr, Seq("lang"), "left")
      .select(col("lang"), col("n_docs"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_prompts"), lit(0L)).as("n_prompts"),
        coalesce(col("n_groups_multi"), lit(0L)).as("n_groups_multi"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("sum_pair_tokens"), lit(0L)).as("sum_pair_tokens"),
        coalesce(col("min_margin"), lit(0L)).as("min_margin_micro"))
      .orderBy("lang")
  }

  private val MwRounds = 3
  private val Eta = 4L // multiplicative-weights step: w·(1e6 + Eta·excess)

  /** DOREMI DOMAIN REWEIGHTING (Xie et al. 2023, arXiv:2305.10429):
    * compute a training mixture over domains (the `source` column) by
    * upweighting domains with EXCESS LOSS over a reference. The loss
    * proxy here is the corpus bigram LM (text_lm_score's integer micro
    * conditionals): a domain's loss is 10⁶ − its mean conditional
    * micro-probability (less predictable = higher loss), the reference
    * is the corpus-wide mean, and excess = max(loss − ref, 0) — the
    * DoReMi clipped-excess rule. The Group-DRO multiplicative-weights
    * ascent runs `MwRounds` fixed rounds in its LINEAR-update form
    * w ← w·(1 + η·excess) with renormalization (the textbook MW
    * variant of DoReMi's exp update — exp is not integer-replayable;
    * the linear form preserves the fixed point's ordering), every
    * round in exact integer micro arithmetic.
    *
    * Output per domain: docs, mean predictability, excess loss, final
    * mixture weight (micro), and docs-per-100k-sample under the
    * mixture — the artifact a pretraining sampler consumes.
    *
    * Scale shape: the per-domain loss table is |domains| rows (≤ 20
    * here; thousands at worst in production) built from ONE corpus
    * scan through the lm_score dictionary join — the corpus never
    * shuffles again; every MW round is arithmetic on that tiny
    * relation with a 1-row broadcast total (sim_ann_kmeans round
    * discipline). The oracle replays rounds as CTEs. */
  val sampleDoremi = QueryDef(
    "sample_doremi", {
      val rounds = (1 to MwRounds).map { r =>
        s"""u$r AS (
           |  SELECT source, n_docs, avg_micro, excess,
           |    w * (1000000 + $Eta * excess) // 1000000 AS wu
           |  FROM w${r - 1}
           |), w$r AS (
           |  SELECT source, n_docs, avg_micro, excess,
           |    wu * 1000000 // (SELECT sum(wu) FROM u$r) AS w
           |  FROM u$r
           |)""".stripMargin
      }.mkString(",\n")
      s"""${TextAnalysis.bigramLmCte("source")}, dom AS (
         |  SELECT bg.source,
         |    count(DISTINCT bg.doc_id) AS n_docs,
         |    sum(micro) // count(*) AS avg_micro
         |  FROM bg JOIN dict ON bg.w1 = dict.w1 AND bg.w2 = dict.w2
         |  GROUP BY bg.source
         |), ref AS (
         |  SELECT sum(micro) // count(*) AS base_micro
         |  FROM bg JOIN dict ON bg.w1 = dict.w1 AND bg.w2 = dict.w2
         |), w0 AS (
         |  SELECT source, n_docs, avg_micro,
         |    greatest(base_micro - avg_micro, 0) AS excess,
         |    CAST(1000000 // (SELECT count(*) FROM dom) AS BIGINT) AS w
         |  FROM dom, ref
         |),
         |$rounds
         |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
         |  CAST(avg_micro AS BIGINT) AS avg_micro,
         |  CAST(excess AS BIGINT) AS excess_micro,
         |  CAST(w AS BIGINT) AS w_micro,
         |  CAST(w // 10 AS BIGINT) AS n_per_100k
         |FROM w$MwRounds ORDER BY source""".stripMargin
    }) { (s, d) =>
    val (bg, dict) = TextAnalysis.bigramLm(Tables.documents(s, d), "source")
    val scored = bg.join(dict, Seq("w1", "w2")).localCheckpoint()
    val dom = scored.groupBy("source")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        expr("sum(micro) div count(1)").as("avg_micro"))
    val ref = scored.agg(expr("sum(micro) div count(1)").as("base_micro"))
    val nDom = broadcast(dom.agg(count(lit(1)).as("nd")))
    var w = dom.crossJoin(broadcast(ref)).crossJoin(nDom)
      .select(col("source"), col("n_docs"), col("avg_micro"),
        greatest(col("base_micro") - col("avg_micro"), lit(0L)).as("excess"),
        expr("1000000L div nd").as("w"))
    for (_ <- 1 to MwRounds) {
      val u = w.withColumn("wu",
        expr(s"w * (1000000L + $Eta * excess) div 1000000L"))
      val tot = broadcast(u.agg(sum(col("wu")).as("tw")))
      w = u.crossJoin(tot)
        .select(col("source"), col("n_docs"), col("avg_micro"), col("excess"),
          expr("wu * 1000000L div tw").as("w"))
    }
    w.select(col("source"), col("n_docs"), col("avg_micro"),
        col("excess").as("excess_micro"), col("w").as("w_micro"),
        expr("w div 10").as("n_per_100k"))
      .orderBy("source")
  }

  private val BtRounds = 3

  /** BRADLEY-TERRY RANK AGGREGATION core (Bradley & Terry 1952; the MM
    * fixed-point iteration of Hunter 2004, doi:10.1214/aos/1079120141 —
    * the "Zermelo" update): turn pairwise preference outcomes into
    * global player strengths, the aggregation step an RLHF reward
    * pipeline runs over its comparison corpus before training. Input:
    * (win_src, lose_src) comparison rows. Laplace smoothing adds one
    * virtual win AND one virtual loss to EVERY unordered player pair
    * (including pairs that never met) so every strength is positive and
    * the MM update never divides by zero. `BtRounds` fixed rounds of
    *   w_i <- W_i / sum_j n_ij/(w_i + w_j),  then renormalize,
    * all in exact integer arithmetic: the per-pair term is
    * n_ij·10⁹ div (w_i + w_j) (order-free integer sum), the update
    * W_i·10⁹ div den_i, the renormalization w_i·P·10⁶ div Σw. Safe
    * while n_ij < 9·10⁹ comparisons per pair.
    *
    * Output per player: raw wins, raw comparisons, final strength
    * micro, rank (strength DESC, source ASC — total order).
    *
    * Scale shape: comparisons collapse to ≤P² pair stats via ONE
    * combinable aggregate (the corpus never shuffles again); the MM
    * rounds then run driver-side on that bounded model state (the
    * MLlib codebook pattern — see the inline note) and the final
    * P-row strengths broadcast back for the output join.
    */
  def btRank(cmp: DataFrame, rounds: Int = BtRounds): DataFrame = {
    val s = cmp.sparkSession
    val lo = least(col("win_src"), col("lose_src"))
    val hi = greatest(col("win_src"), col("lose_src"))
    val raw = cmp.select(lo.as("a"), hi.as("b"),
        when(col("win_src") < col("lose_src"), 1L).otherwise(0L).as("wa"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("n_cmp"), sum(col("wa")).as("wins_a"))
    val srcs = cmp.select(col("win_src").as("src"))
      .union(cmp.select(col("lose_src").as("src"))).distinct()
    val grid = broadcast(srcs.toDF("a")).crossJoin(broadcast(srcs.toDF("b")))
      .filter(col("a") < col("b"))
    // MM rounds run DRIVER-SIDE on the collected smoothed pair stats —
    // the MLlib bounded-model pattern (the kmeans/PQ codebooks do the
    // same): the corpus collapsed to ≤P² rows in the ONE distributed
    // aggregate above, P is the player count (sources/models — tens in
    // practice, ≤ low thousands before the O(P²) driver array is even
    // megabytes), and 3 rounds of joins over ≤P-row relations as
    // distributed jobs would be pure scheduler latency. Arithmetic is
    // the identical integer sequence the oracle unrolls.
    val pairStats = grid.join(raw, Seq("a", "b"), "left")
      .select(col("a"), col("b"),
        (coalesce(col("n_cmp"), lit(0L)) + 2L).as("nij"),
        (coalesce(col("wins_a"), lit(0L)) + 1L).as("wij"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val players = (pairStats.map(_._1) ++ pairStats.map(_._2)).distinct.sorted
    val p = players.length.toLong
    // (opponent, nij, my smoothed wins) per player — built in ONE
    // O(P²) pass over the pair array (each pair contributes one entry
    // to each side), not a per-player rescan.
    val oppBuf = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.ArrayBuffer[(String, Long, Long)]]
    pairStats.foreach { case (a, b, n, wa) =>
      oppBuf.getOrElseUpdate(a,
        scala.collection.mutable.ArrayBuffer.empty) += ((b, n, wa))
      oppBuf.getOrElseUpdate(b,
        scala.collection.mutable.ArrayBuffer.empty) += ((a, n, n - wa))
    }
    val opp: Map[String, Array[(String, Long, Long)]] =
      players.map(i => i -> oppBuf.get(i).map(_.toArray)
        .getOrElse(Array.empty)).toMap
    val bigW = players.map(i => i -> opp(i).map(_._3).sum).toMap
    var w = players.map(_ -> 1000000L).toMap
    for (_ <- 1 to rounds) {
      val wr = players.map { i =>
        val den = opp(i).map { case (j, n, _) =>
          n * 1000000000L / (w(i) + w(j)) }.sum
        i -> bigW(i) * 1000000000L / den
      }.toMap
      val z = wr.values.sum
      w = players.map(i => i -> wr(i) * (p * 1000000L) / z).toMap
    }
    import s.implicits._
    val strengths = players.map(i => (i, w(i))).toSeq.toDF("i", "w")
    val rawTot = cmp.select(col("win_src").as("i"), lit(1L).as("win"))
      .union(cmp.select(col("lose_src").as("i"), lit(0L).as("win")))
      .groupBy("i")
      .agg(sum(col("win")).as("n_wins"), count(lit(1)).as("n_cmp"))
    broadcast(strengths).join(rawTot, Seq("i"), "left")
      .select(col("i").as("source"),
        coalesce(col("n_wins"), lit(0L)).as("n_wins"),
        coalesce(col("n_cmp"), lit(0L)).as("n_comparisons"),
        col("w").as("w_micro"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("w_micro").desc, col("source"))))
      .orderBy("rank")
  }

  /** Gated Bradley-Terry over the corpus's own preference signal: the
    * DPO candidate relation (prompt = first 12 tokens, response scored
    * by distinct-token ratio) yields one comparison per cross-SOURCE
    * candidate pair within a (lang, prompt) group whose score margin
    * clears 1% — "which SOURCE wins quality duels" — and the MM rounds
    * aggregate those duels into source strengths. The oracle replays
    * comparisons, smoothing, and all three integer MM rounds as CTEs. */
  /** The BT oracle tail (`raw … ORDER BY rank`, over a CTE named `cmp`
    * of (win_src, lose_src) rows): smoothing grid, the three unrolled
    * integer MM rounds, raw totals and the ranked output — shared by
    * `align_bt_rank` and `align_bt_rank_capped` so the MM arithmetic
    * has exactly one oracle formulation. */
  private def btOracleTail: String = {
    val rounds = (1 to BtRounds).map { r =>
      s"""den$r AS (
         |  SELECT d.i, sum(d.nij * 1000000000 // (wi.w + wj.w)) AS den
         |  FROM dir d JOIN w${r - 1} wi ON d.i = wi.i
         |             JOIN w${r - 1} wj ON d.j = wj.i
         |  GROUP BY d.i
         |), wr$r AS (
         |  SELECT t.i, t.W * 1000000000 // den$r.den AS wr
         |  FROM tot t JOIN den$r ON t.i = den$r.i
         |), w$r AS (
         |  SELECT i, CAST(wr * ((SELECT p FROM np) * 1000000)
         |    // (SELECT sum(wr) FROM wr$r) AS BIGINT) AS w
         |  FROM wr$r
         |)""".stripMargin
    }.mkString(",\n")
    s"""raw AS (
       |  SELECT least(win_src, lose_src) AS a, greatest(win_src, lose_src) AS b,
       |    count(*) AS n_cmp,
       |    sum(CASE WHEN win_src < lose_src THEN 1 ELSE 0 END) AS wins_a
       |  FROM cmp GROUP BY 1, 2
       |), srcs AS (
       |  SELECT win_src AS src FROM cmp UNION SELECT lose_src FROM cmp
       |), grid AS (
       |  SELECT s1.src AS a, s2.src AS b FROM srcs s1 JOIN srcs s2 ON s1.src < s2.src
       |), sm AS (
       |  SELECT g.a, g.b, coalesce(r.n_cmp, 0) + 2 AS nij,
       |    coalesce(r.wins_a, 0) + 1 AS wij
       |  FROM grid g LEFT JOIN raw r ON g.a = r.a AND g.b = r.b
       |), dir AS (
       |  SELECT a AS i, b AS j, nij, wij AS w_i FROM sm
       |  UNION ALL
       |  SELECT b AS i, a AS j, nij, nij - wij AS w_i FROM sm
       |), tot AS (
       |  SELECT i, sum(w_i) AS W, sum(nij) AS n_sm FROM dir GROUP BY i
       |), np AS (
       |  SELECT count(*) AS p FROM srcs
       |), w0 AS (
       |  SELECT i, CAST(1000000 AS BIGINT) AS w FROM tot
       |),
       |$rounds,
       |rawtot AS (
       |  SELECT i, sum(win) AS n_wins, count(*) AS n_cmp FROM (
       |    SELECT win_src AS i, 1 AS win FROM cmp
       |    UNION ALL SELECT lose_src AS i, 0 AS win FROM cmp)
       |  GROUP BY i
       |)
       |SELECT w.i AS source,
       |  CAST(coalesce(rawtot.n_wins, 0) AS BIGINT) AS n_wins,
       |  CAST(coalesce(rawtot.n_cmp, 0) AS BIGINT) AS n_comparisons,
       |  CAST(w.w AS BIGINT) AS w_micro,
       |  CAST(row_number() OVER (ORDER BY w.w DESC, w.i) AS INT) AS rank
       |FROM w$BtRounds w LEFT JOIN rawtot ON w.i = rawtot.i
       |ORDER BY rank""".stripMargin
  }

  val alignBtRank = QueryDef(
    "align_bt_rank", {
      s"""WITH base AS (
         |  SELECT doc_id, lang, source, string_split(text, ' ') AS toks
         |  FROM documents
         |), cand AS (
         |  SELECT doc_id, lang, source,
         |    array_to_string(toks[1:12], ' ') AS prompt,
         |    len(list_distinct(toks[13:])) * 1000000
         |      // (len(toks) - 12) AS score
         |  FROM base WHERE len(toks) - 12 >= 20
         |), ${duelsCte("prompt")}, $btOracleTail""".stripMargin
    }) { (s, d) =>
    val cand = dpoCandidates(Tables.documents(s, d))
      .select("doc_id", "lang", "source", "prompt", "score")
    btRank(duels(cand, "prompt"))
  }

  /** The margin-cleared cross-source duels (win_src, lose_src) among
    * candidates sharing lang and `group`. */
  private def duels(cand: DataFrame, group: String): DataFrame =
    cand.as("x").join(cand.as("y"),
        col("x.lang") === col("y.lang") && col(s"x.$group") === col(s"y.$group") &&
          col("x.doc_id") < col("y.doc_id"))
      .filter(col("x.source") =!= col("y.source") &&
        abs(col("x.score") - col("y.score")) >= MarginMicro)
      .select(
        when(col("x.score") > col("y.score"), col("x.source"))
          .otherwise(col("y.source")).as("win_src"),
        when(col("x.score") > col("y.score"), col("y.source"))
          .otherwise(col("x.source")).as("lose_src"))

  /** DuckDB twin of `duels` over a `cand` CTE. Starts mid-WITH. */
  private def duelsCte(group: String): String =
    s"""cmp AS (
       |  SELECT CASE WHEN x.score > y.score THEN x.source ELSE y.source END AS win_src,
       |         CASE WHEN x.score > y.score THEN y.source ELSE x.source END AS lose_src
       |  FROM cand x JOIN cand y
       |    ON x.lang = y.lang AND x.$group = y.$group AND x.doc_id < y.doc_id
       |  WHERE x.source <> y.source AND abs(x.score - y.score) >= $MarginMicro
       |)""".stripMargin

  private val DuelPools = 16
  private val DuelCap = 8

  /** BRADLEY-TERRY WITH THE DUEL-SAMPLING CAP GATED — the bounded-duel
    * form `btRank`'s scaladoc promises for production (a corpus whose
    * prompt groups widen makes the duel relation quadratic; real
    * preference pipelines SUBSAMPLE duels before fitting). The
    * same-prompt duel relation of `align_bt_rank` cannot exercise a cap
    * on this fixture (its prompt groups are all width ≤ 2 — the cap
    * would be decorative), so this key gates the cap on the
    * production-shape duel pool: candidates land in `DuelPools`
    * deterministic md5 pools per lang (the sample_dsir bucket idiom —
    * pools play the role of wide prompt groups), each pool is CAPPED at
    * its `DuelCap` lowest-id candidates (rn ≤ k under the total order,
    * mirrored in the oracle), and duels are the cross-source
    * margin-cleared pairs among survivors. Total duels are bounded by
    * construction at langs·pools·C(k,2) — CONSTANT in corpus size — and
    * the cap is LIVE at every SF (pool widths 13–116 vs k = 8, so
    * capped and uncapped relations differ everywhere). Same integer MM
    * rounds, same tail (`btOracleTail`). */
  val alignBtRankCapped = QueryDef(
    "align_bt_rank_capped",
    s"""WITH base AS (
       |  SELECT doc_id, lang, source, string_split(text, ' ') AS toks
       |  FROM documents
       |), cand0 AS (
       |  SELECT doc_id, lang, source,
       |    array_to_string(toks[1:12], ' ') AS prompt,
       |    len(list_distinct(toks[13:])) * 1000000
       |      // (len(toks) - 12) AS score
       |  FROM base WHERE len(toks) - 12 >= 20
       |), pooled AS (
       |  SELECT doc_id, lang, source, score,
       |    CAST(CAST('0x' || substr(md5(prompt), 1, 3) AS INTEGER) AS BIGINT)
       |      % $DuelPools AS pool
       |  FROM cand0
       |), cand AS (
       |  SELECT doc_id, lang, source, score, pool FROM (
       |    SELECT doc_id, lang, source, score, pool,
       |      row_number() OVER (PARTITION BY lang, pool ORDER BY doc_id) AS rn
       |    FROM pooled)
       |  WHERE rn <= $DuelCap
       |), ${duelsCte("pool")}, $btOracleTail""".stripMargin) { (s, d) =>
    val pooled = dpoCandidates(Tables.documents(s, d))
      .select(col("doc_id"), col("lang"), col("source"), col("score"),
        (conv(substring(md5(col("prompt").cast("binary")), 1, 3), 16, 10)
          .cast("long") % DuelPools).as("pool"))
    val capped = pooled
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("lang", "pool").orderBy("doc_id")))
      .filter(col("rn") <= DuelCap)
      .drop("rn")
    btRank(duels(capped, "pool"))
  }

  val all: Seq[QueryDef] = Seq(pipelineDpo, sampleDoremi, alignBtRank,
    alignBtRankCapped)
}
