package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Corpus-curation recipes layered on the documents table: the C4/
  * MassiveText cross-document line removal, DSIR importance resampling,
  * CCNet perplexity bucketing, and the SFT-pair construction funnel.
  * Each key follows the house gate discipline: an all-integer relation,
  * a DuckDB oracle replaying the identical pipeline, and a scale
  * rationale in the scaladoc.
  */
object Curation {

  /** The planted boilerplate "line" (exactly 8 tokens — one full chunk
    * width, so it is identical wherever it appears). */
  private val Footer = "subscribe to the news letter follow us here"

  /** CROSS-DOCUMENT LINE DEDUPLICATION — the C4 recipe (Raffel et al.
    * 2020 §2.2 discard repeated lines; MassiveText/Gopher A.1.2 drops
    * whole docs that are mostly duplicate lines). The fixture text has
    * no newlines, so "lines" are synthesized exactly like a packer
    * shards: consecutive 8-token chunks. Boilerplate is then PLANTED
    * the way it arrives in a crawl (the pipeline_pretrain planting
    * discipline): 40% of docs gain a canonical 8-token footer line, and
    * every doc_id % 31 == 0 doc is REPLACED by two footer copies (a
    * pure-boilerplate page). A line appearing in ≥ 3 distinct documents
    * is boilerplate and removed from every document; a document losing
    * more than half its lines is dropped entirely — so both the
    * line-removal and the doc-drop branch fire by construction at every
    * SF (the dup-heavy fixture also contributes natural ≥3-doc repeats:
    * 20/17/128 lines at the three SFs, handled identically by both
    * engines). Output: per-language funnel of docs, dropped docs,
    * lines, removed lines, and surviving tokens.
    *
    * At scale: chunking is a scan-stage projection (no explode-join);
    * detection is ONE count-distinct aggregate keyed by line and the
    * mark-back is the same line-keyed equi-join — the dedup_exact plan
    * shape on the line relation, two linear shuffles total. The
    * boilerplate side is NOT broadcast by assumption: its size is
    * bounded by repeated-line volume, which a crawl can make large, so
    * the join stays a shuffled hash join and AQE may demote it to
    * broadcast when small. */
  def lineDedup(docs: DataFrame): DataFrame = {
    val chunks = expr(
      "transform(sequence(0, (size(toks) + 7) div 8 - 1), " +
        "i -> array_join(slice(toks, cast(i * 8 + 1 as int), 8), ' '))")
    val lines = docs
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("toks"))
      .withColumn("lns",
        when(col("doc_id") % 31 === 0, array(lit(Footer), lit(Footer)))
          .when(col("doc_id") % 5 < 2, concat(chunks, array(lit(Footer))))
          .otherwise(chunks))
      .select(col("doc_id"), col("lang"), explode(col("lns")).as("line"))
    val boiler = lines.groupBy("line")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 3)
      .select(col("line").as("bline"))
    val perDoc = lines
      .join(boiler, col("line") === col("bline"), "left")
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("bline").isNotNull, 1L).otherwise(0L)).as("n_removed"),
        sum(when(col("bline").isNull,
          size(split(col("line"), " ")).cast("long")).otherwise(0L))
          .as("toks_kept"))
      .withColumn("dropped", col("n_removed") * 2 > col("n_lines"))
    perDoc.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("dropped"), 1L).otherwise(0L)).as("n_docs_dropped"),
        sum(col("n_lines")).as("n_lines"),
        sum(col("n_removed")).as("n_lines_removed"),
        sum(when(!col("dropped"), col("toks_kept")).otherwise(0L))
          .as("n_toks_kept"))
  }

  val textLineDedup = QueryDef(
    "text_line_dedup",
    s"""WITH base AS (
       |  SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
       |), built AS (
       |  SELECT doc_id, lang,
       |    CASE WHEN doc_id % 31 = 0 THEN ['$Footer', '$Footer']
       |         WHEN doc_id % 5 < 2 THEN list_append(
       |           list_transform(range(CAST((len(toks) + 7) // 8 AS BIGINT)),
       |             i -> array_to_string(toks[(i*8+1):(i*8+8)], ' ')), '$Footer')
       |         ELSE
       |           list_transform(range(CAST((len(toks) + 7) // 8 AS BIGINT)),
       |             i -> array_to_string(toks[(i*8+1):(i*8+8)], ' '))
       |    END AS lns
       |  FROM base
       |), lines AS (
       |  SELECT doc_id, lang, unnest(lns) AS line FROM built
       |), boiler AS (
       |  SELECT line FROM lines GROUP BY line
       |  HAVING count(DISTINCT doc_id) >= 3
       |), perdoc AS (
       |  SELECT l.doc_id, l.lang, count(*) AS n_lines,
       |    sum(CASE WHEN b.line IS NOT NULL THEN 1 ELSE 0 END) AS n_removed,
       |    sum(CASE WHEN b.line IS NULL
       |        THEN len(string_split(l.line, ' ')) ELSE 0 END) AS toks_kept
       |  FROM lines l LEFT JOIN boiler b ON l.line = b.line
       |  GROUP BY l.doc_id, l.lang
       |)
       |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN n_removed * 2 > n_lines THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_docs_dropped,
       |  CAST(sum(n_lines) AS BIGINT) AS n_lines,
       |  CAST(sum(n_removed) AS BIGINT) AS n_lines_removed,
       |  CAST(sum(CASE WHEN n_removed * 2 > n_lines THEN 0 ELSE toks_kept END)
       |    AS BIGINT) AS n_toks_kept
       |FROM perdoc GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
    lineDedup(Tables.documents(s, d)).orderBy("lang")
  }

  /** DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
    * arXiv:2302.03169): select raw-corpus documents that look like a
    * small TARGET domain by importance weight under hashed n-gram
    * feature distributions. Target here = source 'src0' (5% of the
    * corpus — the "quality corpus" stand-in); features = token bigrams
    * hashed to 4096 buckets (md5 prefix, the cross-engine hash
    * idiom). Per bucket, add-one-smoothed occurrence rates for target
    * and raw are quantized to nano units, their ratio to micro units,
    * and a document scores the MEAN bucket ratio over its bigram
    * occurrences — the integer-quantized form of DSIR's log-likelihood
    * ratio (quantization is applied identically in both engines, the
    * text_unigram_train discipline; a monotone transform of the ratio
    * preserves the selection order). Output: the 25 highest-scoring
    * non-target documents — the resampled batch head.
    *
    * At scale: the bucket table is ≤ 4096 rows however large the
    * corpus (tc/rc/totals are combinable sums), so the λ dictionary
    * BROADCASTS; the corpus feature stream pays one broadcast join and
    * one doc-keyed combinable aggregate, and the top-25 is
    * TakeOrderedAndProject — no global sort, no corpus×corpus work.
    * The only caveat at 100 TB is λ quantization coarsening as raw
    * totals grow (nano rates underflow around 10^9 bucket mass), noted
    * here because the A/B is deterministic either way. */
  def dsirSelect(docs: DataFrame, buckets: Int = 4096): DataFrame = {
    val feats = docs
      .select(col("doc_id"), col("lang"),
        (col("source") === "src0").as("tgt"),
        split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), col("lang"), col("tgt"), explode(expr(
        "transform(sequence(0, size(toks) - 2), " +
          "i -> concat(toks[i], ' ', toks[i + 1]))")).as("f"))
      .withColumn("b",
        conv(substring(md5(col("f").cast("binary")), 1, 3), 16, 10)
          .cast("long"))
    val bstats = feats.groupBy("b")
      .agg(count(lit(1)).as("rc"),
        sum(when(col("tgt"), 1L).otherwise(0L)).as("tc"))
    val totals = bstats
      .agg(sum(col("rc")).as("rt"), sum(col("tc")).as("tt"))
    val lam = bstats.crossJoin(broadcast(totals))
      .select(col("b"),
        expr(s"((tc + 1) * 1000000000L div (tt + $buckets)) * 1000000L" +
          s" div greatest((rc + 1) * 1000000000L div (rt + $buckets), 1)")
          .as("lam_micro"))
    feats.filter(!col("tgt"))
      .join(broadcast(lam), Seq("b"))
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_feats"),
        expr("sum(lam_micro) div count(1)").as("score_micro"))
      .orderBy(col("score_micro").desc, col("doc_id"))
      .limit(25)
  }

  val sampleDsir = QueryDef(
    "sample_dsir",
    """WITH base AS (
      |  SELECT doc_id, lang, source = 'src0' AS tgt,
      |         string_split(text, ' ') AS toks
      |  FROM documents WHERE len(string_split(text, ' ')) >= 2
      |), feats AS (
      |  SELECT doc_id, lang, tgt,
      |    toks[CAST(i AS INT)] || ' ' || toks[CAST(i AS INT) + 1] AS f
      |  FROM base, unnest(generate_series(1, len(toks) - 1)) AS t(i)
      |), hashed AS (
      |  SELECT doc_id, lang, tgt,
      |    CAST(CAST('0x' || substr(md5(f), 1, 3) AS INTEGER) AS BIGINT) AS b
      |  FROM feats
      |), bstats AS (
      |  SELECT b, count(*) AS rc,
      |         sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS tc
      |  FROM hashed GROUP BY b
      |), totals AS (
      |  SELECT sum(rc) AS rt, sum(tc) AS tt FROM bstats
      |), lam AS (
      |  SELECT b,
      |    ((tc + 1) * 1000000000 // (tt + 4096)) * 1000000
      |      // greatest((rc + 1) * 1000000000 // (rt + 4096), 1) AS lam_micro
      |  FROM bstats, totals
      |)
      |SELECT h.doc_id, h.lang, CAST(count(*) AS BIGINT) AS n_feats,
      |  CAST(sum(lam_micro) // count(*) AS BIGINT) AS score_micro
      |FROM hashed h JOIN lam USING (b)
      |WHERE NOT h.tgt
      |GROUP BY h.doc_id, h.lang
      |ORDER BY score_micro DESC, doc_id LIMIT 25""".stripMargin) { (s, d) =>
    dsirSelect(Tables.documents(s, d))
  }

  /** CCNET PERPLEXITY BUCKETS (Wenzek et al. 2020): score every
    * document with a corpus-trained LM, split each language into
    * head / middle / tail terciles by score, and report the bucket
    * rollup — the quality-tier assignment the CCNet pipeline publishes
    * and downstream mixers consume. The LM is the text_lm_score
    * corpus bigram model (integer micro conditional rates; higher mean
    * rate = more predictable = head). Terciles are exact by per-lang
    * rank over the total order (score DESC, doc_id): rank*3 ≤ n is
    * head, ≤ 2n middle, else tail.
    *
    * At scale: the model dictionary and per-doc scoring are the
    * text_lm_score plan (combinable aggregates + one dictionary join).
    * The per-lang rank is a window over the SCORED relation — one row
    * of 3 integers per doc, 10^4 smaller than the corpus — and CCNet
    * production replaces the exact rank with broadcast approximate
    * cutoffs from a percentile sketch; the exact form is kept here
    * because the oracle gate demands bit-equality, and the narrow
    * relation keeps the per-lang partition at ~16 bytes/doc. */
  val textPerplexityBucket = QueryDef(
    "text_perplexity_bucket",
    s"""${TextAnalysis.bigramLmCte("lang")}, sc AS (
      |  SELECT bg.doc_id, bg.lang, count(*) AS n_bigrams,
      |         sum(micro) // count(*) AS avg_micro
      |  FROM bg JOIN dict ON bg.w1 = dict.w1 AND bg.w2 = dict.w2
      |  GROUP BY bg.doc_id, bg.lang
      |), rk AS (
      |  SELECT *,
      |    row_number() OVER (PARTITION BY lang
      |                       ORDER BY avg_micro DESC, doc_id) AS r,
      |    count(*) OVER (PARTITION BY lang) AS n
      |  FROM sc
      |), bk AS (
      |  SELECT lang,
      |    CASE WHEN r * 3 <= n THEN 'head'
      |         WHEN r * 3 <= 2 * n THEN 'middle' ELSE 'tail' END AS bucket,
      |    n_bigrams, avg_micro
      |  FROM rk
      |)
      |SELECT lang, bucket, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_bigrams) AS BIGINT) AS n_bigrams,
      |  CAST(min(avg_micro) AS BIGINT) AS min_score,
      |  CAST(max(avg_micro) AS BIGINT) AS max_score
      |FROM bk GROUP BY lang, bucket ORDER BY lang, bucket""".stripMargin) {
    (s, d) =>
      val (bg, dict) = TextAnalysis.bigramLm(Tables.documents(s, d), "lang")
      val scored = bg.join(dict, Seq("w1", "w2"))
        .groupBy("doc_id", "lang")
        .agg(count(lit(1)).as("n_bigrams"),
          expr("sum(micro) div count(1)").as("avg_micro"))
      val ranked = scored
        .withColumn("r", row_number().over(Window.partitionBy("lang")
          .orderBy(col("avg_micro").desc, col("doc_id"))))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("lang")))
        .withColumn("bucket",
          when(col("r") * 3 <= col("n"), "head")
            .when(col("r") * 3 <= col("n") * 2, "middle")
            .otherwise("tail"))
      ranked.groupBy("lang", "bucket")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_bigrams")).as("n_bigrams"),
          min(col("avg_micro")).as("min_score"),
          max(col("avg_micro")).as("max_score"))
        .orderBy("lang", "bucket")
  }

  /** SFT-PAIR CONSTRUCTION FUNNEL — the instruction-tuning sibling of
    * pipeline_pretrain: turn raw documents into (prompt, response)
    * training pairs through the standard gauntlet, reported per
    * language as a cumulative funnel. Stages: (1) split — prompt =
    * first 12 tokens, response = the rest; (2) length — response ≥ 20
    * tokens; (3) quality — response distinct-token ratio ≥ 50% (the
    * repetition screen; the fixture's dup-token docs fail it at every
    * SF); (4) prompt dedup — keep the min doc_id per exact prompt (an
    * SFT set must not repeat prompts across epochs); (5)
    * decontamination — drop any pair whose full document fingerprint
    * matches the benchmark set (doc_id % 97, matched by CONTENT so
    * planted duplicate copies drop too); (6) render — the chat
    * template costs 6 wrapper tokens, so a final pair is 18 +
    * response tokens. All-integer.
    *
    * At scale: stages 1-2 and 6 are scan-stage projections; stage 3 is
    * one token-keyed combinable aggregate per doc; stage 4 is a
    * prompt-hash window min (the dedup_exact keeper shape); stage 5 is
    * a broadcast anti-join against the ~1% benchmark fingerprints.
    * One corpus shuffle per keyed stage, nothing quadratic, top
    * relation never leaves per-doc granularity until the final lang
    * rollup. */
  val pipelineSft = QueryDef(
    "pipeline_sft",
    """WITH base AS (
      |  SELECT doc_id, lang, text, string_split(text, ' ') AS toks
      |  FROM documents
      |), st AS (
      |  SELECT doc_id, lang, text,
      |    array_to_string(toks[1:12], ' ') AS prompt,
      |    len(toks) - 12 AS n_resp,
      |    len(list_distinct(toks[13:])) AS nd
      |  FROM base
      |), f AS (
      |  SELECT doc_id, lang, prompt, n_resp,
      |    (n_resp >= 20) AS s_len,
      |    (n_resp >= 20 AND nd * 2 >= n_resp) AS s_qual,
      |    md5(text) AS fp
      |  FROM st
      |), dd AS (
      |  SELECT *,
      |    (s_qual AND doc_id = min(CASE WHEN s_qual THEN doc_id END)
      |       OVER (PARTITION BY md5(prompt))) AS s_dedup
      |  FROM f
      |), bench AS (
      |  SELECT DISTINCT md5(text) AS bfp FROM documents WHERE doc_id % 97 = 0
      |), fin AS (
      |  SELECT dd.*, (s_dedup AND b.bfp IS NULL) AS s_final
      |  FROM dd LEFT JOIN bench b ON dd.fp = b.bfp
      |)
      |SELECT lang, CAST(count(*) AS BIGINT) AS n_raw,
      |  CAST(sum(CASE WHEN s_len THEN 1 ELSE 0 END) AS BIGINT) AS n_len_ok,
      |  CAST(sum(CASE WHEN s_qual THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_ok,
      |  CAST(sum(CASE WHEN s_dedup THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_prompt_unique,
      |  CAST(sum(CASE WHEN s_final THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs,
      |  CAST(sum(CASE WHEN s_final THEN n_resp + 18 ELSE 0 END) AS BIGINT)
      |    AS n_sft_tokens
      |FROM fin GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val st = docs
      .select(col("doc_id"), col("lang"), col("text"),
        split(col("text"), " ").as("toks"))
      .select(col("doc_id"), col("lang"), col("text"),
        array_join(slice(col("toks"), 1, 12), " ").as("prompt"),
        (size(col("toks")) - 12).cast("long").as("n_resp"),
        size(array_distinct(expr("slice(toks, 13, size(toks))")))
          .cast("long").as("nd"))
    val f = st.select(col("doc_id"), col("lang"), col("prompt"),
      col("n_resp"),
      (col("n_resp") >= 20).as("s_len"),
      (col("n_resp") >= 20 && col("nd") * 2 >= col("n_resp")).as("s_qual"),
      md5(col("text").cast("binary")).as("fp"))
    val dd = f.withColumn("s_dedup",
      col("s_qual") &&
        col("doc_id") === min(when(col("s_qual"), col("doc_id")))
          .over(Window.partitionBy(md5(col("prompt").cast("binary")))))
    val bench = broadcast(docs.filter(col("doc_id") % 97 === 0)
      .select(md5(col("text").cast("binary")).as("bfp")).distinct())
    val fin = dd.join(bench, col("fp") === col("bfp"), "left")
      .withColumn("s_final", col("s_dedup") && col("bfp").isNull)
    fin.groupBy("lang")
      .agg(count(lit(1)).as("n_raw"),
        sum(when(col("s_len"), 1L).otherwise(0L)).as("n_len_ok"),
        sum(when(col("s_qual"), 1L).otherwise(0L)).as("n_quality_ok"),
        sum(when(col("s_dedup"), 1L).otherwise(0L)).as("n_prompt_unique"),
        sum(when(col("s_final"), 1L).otherwise(0L)).as("n_pairs"),
        sum(when(col("s_final"), col("n_resp") + 18).otherwise(0L))
          .as("n_sft_tokens"))
      .orderBy("lang")
  }

  private val AnnealB1 = 1000000000L // phase-1 (stable) token budget
  private val AnnealB2 = 100000000L // phase-2 (anneal) token budget

  /** TWO-PHASE CURRICULUM MIX ("annealing" — the Llama 3 recipe,
    * arXiv:2407.21783 §3.1.3: the final training phase upsamples
    * very-high-quality sources; OLMo 2 and MiniCPM report the same
    * two-phase schedule): per SOURCE, the phase-1 budget follows the
    * natural token distribution (b1 = B1·tokens div total) while the
    * phase-2 anneal budget follows quality EXCESS over the worst source
    * (b2 = B2·(q − q_min) div Σ(q − q_min)) — so the lowest-quality
    * source is dropped from the anneal by construction and the branch
    * is live at every SF. Quality = mean per-doc distinct-token ratio
    * in micro (the pipeline_dpo scoring signal, aggregated per source
    * as the exact integer sum-div-count). `upsample2_micro` =
    * b2·10⁶ div tokens is the anneal-phase epoch factor a mix loader
    * consumes (> 10⁶ means the source repeats — the upsampling Llama 3
    * describes).
    *
    * At scale: one scan-stage per-doc projection, one source-keyed
    * combinable aggregate (sources are bounded), two 1-row broadcast
    * totals; nothing corpus-sized past the first aggregate. All
    * arithmetic integer div, mirrored in the oracle; Σ(q − q_min) is
    * floor-guarded to 1 so a uniform-quality corpus yields b2 = 0
    * everywhere instead of a division failure. */
  /** (source, n_docs, n_tokens, qual_micro) — the per-source size and
    * quality relation both mix planners (`sample_anneal`,
    * `sample_epoch_cap`) consume. Quality = mean per-doc distinct-token
    * ratio in integer micro (the pipeline_dpo scoring signal). One
    * scan-stage projection + one source-keyed combinable aggregate;
    * sources are bounded, so everything after this is a constant-size
    * relation however large the corpus. */
  private def perSourceQuality(docs: DataFrame): DataFrame = docs
    .select(col("source"), split(col("text"), " ").as("toks"))
    .select(col("source"), size(col("toks")).cast("long").as("nt"),
      (size(array_distinct(col("toks"))).cast("long") * 1000000L).as("ndm"))
    .withColumn("ratio", expr("ndm div nt"))
    .groupBy("source")
    .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"),
      expr("sum(ratio) div count(1)").as("qual_micro"))

  /** The shared oracle prefix producing `per` — the DuckDB replay of
    * `perSourceQuality`. */
  private val perSourceQualityCte: String =
    """scored AS (
      |  SELECT source, len(string_split(text, ' ')) AS nt,
      |    len(list_distinct(string_split(text, ' '))) * 1000000
      |      // len(string_split(text, ' ')) AS ratio
      |  FROM documents
      |), per AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(nt) AS BIGINT) AS n_tokens,
      |    CAST(sum(ratio) // count(*) AS BIGINT) AS qual_micro
      |  FROM scored GROUP BY source
      |)""".stripMargin

  def annealMix(docs: DataFrame, b1: Long = AnnealB1,
      b2: Long = AnnealB2): DataFrame = {
    val per = perSourceQuality(docs)
    val tot = broadcast(per.agg(sum(col("n_tokens")).as("tt"),
      min(col("qual_micro")).as("qmin")))
    val withT = per.crossJoin(tot)
      .withColumn("excess", col("qual_micro") - col("qmin"))
    val den = broadcast(withT.agg(
      greatest(sum(col("excess")), lit(1L)).as("den")))
    withT.crossJoin(den)
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("qual_micro"),
        expr(s"$b1 * n_tokens div tt").as("b1_tokens"),
        expr(s"$b2 * excess div den").as("b2_tokens"))
      .withColumn("upsample2_micro",
        expr("b2_tokens * 1000000L div n_tokens"))
      .orderBy("source")
  }

  val sampleAnneal = QueryDef(
    "sample_anneal",
    s"""WITH $perSourceQualityCte, tot AS (
       |  SELECT sum(n_tokens) AS tt, min(qual_micro) AS qmin FROM per
       |), ex AS (
       |  SELECT per.*, qual_micro - qmin AS excess, tt FROM per, tot
       |), den AS (
       |  SELECT greatest(sum(excess), 1) AS den FROM ex
       |)
       |SELECT source, n_docs, n_tokens, qual_micro,
       |  CAST($AnnealB1 * n_tokens // tt AS BIGINT) AS b1_tokens,
       |  CAST($AnnealB2 * excess // den.den AS BIGINT) AS b2_tokens,
       |  CAST(($AnnealB2 * excess // den.den) * 1000000 // n_tokens AS BIGINT)
       |    AS upsample2_micro
       |FROM ex, den ORDER BY source""".stripMargin) { (s, d) =>
    annealMix(Tables.documents(s, d))
  }

  /** Hard repeat ceiling: ~4 epochs is where repeating data stops being
    * nearly as good as fresh data (Muennighoff et al. 2023, Fig. 1). */
  private val EpochCap = 4L

  /** DATA-CONSTRAINED EPOCH ALLOCATION (Muennighoff et al. 2023,
    * "Scaling Data-Constrained Language Models", arXiv:2305.16264): when
    * the compute-optimal token budget exceeds the unique corpus — the
    * regime every frontier run is now in — data is REPEATED, but returns
    * decay so fast past ~4 epochs that extra repeats are wasted compute.
    * The planner: budget B = 4·total (compute worth 4 corpus epochs),
    * desired per-source allocation proportional to QUALITY share (the
    * perSourceQuality signal — better sources earn more of the budget),
    * hard cap at 4 epochs of the source; the overflow from capped
    * sources is redistributed once to the uncapped sources proportional
    * to size, re-capped (both guards live at every SF: 9-10 of 20
    * sources cap, and redistribution pushes further sources to the
    * ceiling). `epochs_x1024` = alloc·2¹⁰ div tokens is the repeat
    * factor the loader consumes (4096 = at the cap).
    *
    * Overflow discipline: shares are quantized to 2¹⁰ fixed point and
    * the budget is DIVIDED FIRST — desired = (B div 1024)·(q·1024 div
    * Σq) — so every intermediate stays ≤ max(B, n·1024) and the whole
    * plan fits in i64 at 100 TB token counts (~2·10¹³), where the naive
    * B·q product overflows. The quantization error (< B/1024 + one
    * share unit) is deterministic and identical in both engines.
    *
    * At scale: the corpus is touched exactly once (the shared
    * perSourceQuality scan-aggregate); everything after is arithmetic
    * over the bounded source relation with two 1-row broadcast totals —
    * the same shape as `sample_anneal`. */
  def epochCapMix(docs: DataFrame): DataFrame = {
    val per = perSourceQuality(docs)
    val tot = broadcast(per.agg(sum(col("n_tokens")).as("tt"),
      sum(col("qual_micro")).as("sq")))
    val a1 = per.crossJoin(tot)
      .withColumn("desired",
        expr(s"(($EpochCap * tt) div 1024) * ((qual_micro * 1024) div sq)"))
      .withColumn("cap", expr(s"$EpochCap * n_tokens"))
      .withColumn("alloc1", least(col("desired"), col("cap")))
      .withColumn("capped", col("desired") > col("cap"))
    val lv = broadcast(a1.agg(
      sum(col("desired") - col("alloc1")).as("l"),
      greatest(coalesce(sum(when(!col("capped"), col("n_tokens"))), lit(0L)),
        lit(1L)).as("un")))
    a1.crossJoin(lv)
      .withColumn("extra", when(col("capped"), lit(0L))
        .otherwise(expr("(l div 1024) * ((n_tokens * 1024) div un)")))
      .withColumn("alloc_tokens",
        least(col("alloc1") + col("extra"), col("cap")))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("qual_micro"), col("desired").as("desired_tokens"),
        col("alloc_tokens"),
        expr("alloc_tokens * 1024 div n_tokens").as("epochs_x1024"),
        col("capped"))
      .orderBy("source")
  }

  val sampleEpochCap = QueryDef(
    "sample_epoch_cap",
    s"""WITH $perSourceQualityCte, tot AS (
       |  SELECT sum(n_tokens) AS tt, sum(qual_micro) AS sq FROM per
       |), a1 AS (
       |  SELECT per.*,
       |    (($EpochCap * tt) // 1024) * ((qual_micro * 1024) // sq) AS desired,
       |    $EpochCap * n_tokens AS cap
       |  FROM per, tot
       |), a2 AS (
       |  SELECT *, least(desired, cap) AS alloc1, desired > cap AS capped
       |  FROM a1
       |), lv AS (
       |  SELECT CAST(sum(desired - alloc1) AS BIGINT) AS l,
       |    greatest(CAST(coalesce(
       |      sum(CASE WHEN NOT capped THEN n_tokens END), 0) AS BIGINT), 1)
       |      AS un
       |  FROM a2
       |), fin AS (
       |  SELECT a2.*, CASE WHEN capped THEN 0
       |    ELSE (l // 1024) * ((n_tokens * 1024) // un) END AS extra
       |  FROM a2, lv
       |)
       |SELECT source, n_docs, n_tokens, qual_micro,
       |  CAST(desired AS BIGINT) AS desired_tokens,
       |  CAST(least(alloc1 + extra, cap) AS BIGINT) AS alloc_tokens,
       |  CAST(least(alloc1 + extra, cap) * 1024 // n_tokens AS BIGINT)
       |    AS epochs_x1024,
       |  capped
       |FROM fin ORDER BY source""".stripMargin) { (s, d) =>
    epochCapMix(Tables.documents(s, d))
  }

  /** Per-source cap for the domain-cap key: 16 of each source's 25
    * docs survive — deep enough that the rank ORDER (not just set
    * membership) is exercised, shallow enough that the cut line falls
    * inside every source. */
  private val DomainCap = 16

  /** PER-DOMAIN QUALITY QUOTA — the RefinedWeb/C4 anti-concentration
    * motion: a crawl is dominated by a few giant hosts, so curation
    * caps each domain's contribution, keeping only its top-N documents
    * by quality score (source here stands in for the registered
    * domain). The score is the text_quality composite re-expressed in
    * EXACT INTEGER MICRO-UNITS with truncating division (the pagerank
    * determinism discipline): the double `round(q, 4)` form has
    * cross-engine ties at the 4th decimal (a 0.96125 landed 0.9612 vs
    * 0.9613 at sf0.1), and a SELECTION key cannot tolerate a tied
    * score deciding who survives differently per engine. Term algebra:
    * 0.5·min(nt,100)/100 + 0.3·(1 − |avg−5|/10) + 0.2·(1 − nl/nt)
    * with avg = (nc+1−nt)/nt becomes
    * 5000·min(nt,100) + 300000 − (30000·|nc+1−6·nt|) div nt
    * + 200000 − (200000·nl) div nt — all BIGINT, ranking-equivalent.
    *
    * The cap is NOT a rank window: `row_number() OVER (PARTITION BY
    * source ORDER BY quality DESC)` has no partial-aggregate step, so
    * the exchange would carry every document row to the domain's one
    * reducer — the exact hot-domain straggler the cap exists to remove
    * (one host can be 10% of a crawl). Instead the quota is the
    * combinable bounded top-k aggregate (TopKAgg, the kNN-graph/shard
    * discipline): each scan partition reduces a domain's rows to one
    * ≤ cap-entry buffer BEFORE the shuffle, so the exchange carries
    * domains · cap entries regardless of how skewed the domain is.
    * posexplode re-emits the kept ids in rank order; quality is
    * re-attached by a broadcast-sized join against the kept ids only
    * (domains · cap rows — never the corpus). Total order
    * (quality DESC, doc_id ASC) on both engines; quality is the
    * already-gated 4dp-rounded composite, identical expression tree.
    *
    * At 100 TB: two corpus scans (quota build, then keeper re-emit
    * through the broadcast), one partial-aggregated exchange of
    * ≤ domains · cap buffer entries — the corpus itself is never
    * shuffled, which is what makes the quota safe to run as the first
    * curation stage. */
  val curationDomainCap = QueryDef(
    "curation_domain_cap",
    s"""WITH q AS (
       |  SELECT doc_id, source,
       |    CAST(5000 * least(n_tokens, 100) + 300000
       |      - (30000 * abs(n_chars_txt + 1 - 6 * n_tokens)) // n_tokens
       |      + 200000 - (200000 * n_long) // n_tokens AS BIGINT) AS quality_micro
       |  FROM (
       |    SELECT doc_id, source,
       |      CAST(length(text) AS BIGINT) AS n_chars_txt,
       |      CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |      CAST(len(list_filter(string_split(text, ' '), t -> length(t) > 6)) AS BIGINT) AS n_long
       |    FROM documents)
       |), r AS (
       |  SELECT source, doc_id, quality_micro,
       |    row_number() OVER (PARTITION BY source
       |                       ORDER BY quality_micro DESC, doc_id) AS rank,
       |    count(*) OVER (PARTITION BY source) AS n_docs
       |  FROM q
       |)
       |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
       |       CAST(rank AS INT) AS rank, doc_id, quality_micro
       |FROM r WHERE rank <= $DomainCap ORDER BY source, rank""".stripMargin) {
    (s, d) =>
    val toks = split(col("text"), " ")
    val scored = Tables.documents(s, d)
      .select(col("source"), col("doc_id"),
        length(col("text")).cast("long").as("nc"),
        size(toks).cast("long").as("nt"),
        size(filter(toks, t => length(t) > 6)).cast("long").as("nl"))
      .select(col("source"), col("doc_id"),
        (lit(5000L) * least(col("nt"), lit(100L)) + lit(300000L)
          - expr("(30000 * abs(nc + 1 - 6 * nt)) div nt")
          + lit(200000L) - expr("(200000 * nl) div nt")).as("quality_micro"))
    val kept = scored.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        graft.functions.TopKAgg.topk(col("quality_micro").cast("double"),
          col("doc_id"), DomainCap).as("ids"))
      .select(col("source"), col("n_docs"),
        posexplode(col("ids")).as(Seq("rank0", "doc_id")))
      .select(col("source"), col("n_docs"),
        (col("rank0") + 1).cast("int").as("rank"), col("doc_id"))
    // re-attach quality: the kept side is ≤ domains·cap rows, so it
    // BROADCASTS and the scored corpus streams past it un-shuffled
    scored.join(broadcast(kept), Seq("source", "doc_id"))
      .select(col("source"), col("n_docs"), col("rank"), col("doc_id"),
        col("quality_micro"))
      .orderBy("source", "rank")
  }

  val all: Seq[QueryDef] =
    Seq(textLineDedup, sampleDsir, textPerplexityBucket, pipelineSft,
      sampleAnneal, sampleEpochCap, curationDomainCap)
}
