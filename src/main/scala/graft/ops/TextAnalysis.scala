package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Text-analysis operators for a training-data pipeline (NORTH-STAR):
  * language ID, quality scoring, token counting, document fingerprinting.
  * All pure built-in/higher-order-function pipelines — codegen-friendly,
  * embarrassingly parallel per document, no UDFs.
  */
object TextAnalysis {

  /** Per-language marker-token lists for the n-gram/stopword language-ID
    * heuristic. Real corpora would use trained char-n-gram profiles; the
    * mechanism (per-language token-hit scores + deterministic argmax) is
    * the same.
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is", "to", "in"),
    "de" -> Seq("der", "die", "das", "und", "nicht", "ist", "ein"),
    "es" -> Seq("el", "la", "los", "que", "y", "es", "una"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une", "dans"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "他"))

  /** (doc_id, lang, predicted_lang, s_<lang>…): marker-hit counts per
    * language + deterministic argmax (ties resolve in langMarkers order).
    */
  def languageId(docs: DataFrame): DataFrame = {
    // the widened col("*") projection appends s_<lang> score columns and
    // predicted_lang; a caller whose input already carries one of those
    // names would get an ambiguous/shadowed select — fail loudly instead,
    // so the shared helper's output namespace stays safe
    val reserved = langMarkers.map { case (l, _) => s"s_$l" }.toSet + "predicted_lang"
    val clash = docs.columns.filter(reserved.contains)
    require(clash.isEmpty,
      s"languageId input must not already carry ${clash.mkString(", ")}")
    val toks = split(col("text"), " ")
    // preserves every input column (pipeline_pretrain filters on the
    // prediction and keeps flowing the working text); the standalone
    // keys project what they gate afterwards
    val scored = docs.select(
      (col("*") +:
        langMarkers.map { case (l, ms) =>
          size(filter(toks, t => t.isin(ms.map(lit): _*))).cast("long").as(s"s_$l")
        }): _*)
    // argmax with first-wins tie-break, as one nested CASE chain
    val langs = langMarkers.map(_._1)
    val pred = langs.zipWithIndex.foldRight(lit(langs.head): Column) {
      case ((l, i), els) =>
        val geAll = langs.drop(i + 1)
          .map(o => col(s"s_$l") >= col(s"s_$o"))
          .foldLeft(langs.take(i).map(o => col(s"s_$l") > col(s"s_$o"))
            .foldLeft(lit(true): Column)(_ && _))(_ && _)
        when(geAll, lit(l)).otherwise(els)
    }
    scored.withColumn("predicted_lang", pred)
  }

  /** DuckDB SQL fragments for the langid argmax — shared by the
    * text_langid relation and the text_langid_confusion rollup. */
  private def langidScoreColsSql: String = langMarkers.map { case (l, ms) =>
    val inList = ms.map(m => s"'$m'").mkString("(", ", ", ")")
    s"CAST(len(list_filter(string_split(text, ' '), t -> t IN $inList)) AS BIGINT) AS s_$l"
  }.mkString(",\n  ")
  private def langidPredSql: String = {
    val langs = langMarkers.map(_._1)
    langs.zipWithIndex.reverse.foldLeft(s"'${langs.head}'") {
      case (els, (l, i)) =>
        val conds = langs.take(i).map(o => s"s_$l > s_$o") ++
          langs.drop(i + 1).map(o => s"s_$l >= s_$o")
        val cond = if (conds.isEmpty) "TRUE" else conds.mkString(" AND ")
        s"CASE WHEN $cond THEN '$l' ELSE $els END"
    }
  }

  val textLangid = QueryDef(
    "text_langid", {
      val langs = langMarkers.map(_._1)
      s"""SELECT doc_id, lang, $langidPredSql AS predicted_lang,
         |  ${langs.map(l => s"s_$l").mkString(", ")}
         |FROM (SELECT doc_id, lang,
         |  $langidScoreColsSql
         |  FROM documents)
         |ORDER BY doc_id LIMIT 200""".stripMargin
    }) { (s, d) =>
    languageId(Tables.documents(s, d))
      .select((Seq(col("doc_id"), col("lang"), col("predicted_lang")) ++
        langMarkers.map { case (l, _) => col(s"s_$l") }): _*)
      .orderBy("doc_id")
      .limit(200)
  }

  /** Deterministic marker injection for the langid benchmark corpus:
    * three markers of the doc's LABEL language appended (en unchanged
    * — its markers occur naturally). The fixture's lang column is a
    * label uncorrelated with its English-ish text, so measuring the
    * classifier against it raw would gate noise; the injected corpus
    * (the text_dedup_url synthesized-dirt convention) makes the label
    * recoverable but CONTESTED — three injected markers beat weak
    * natural English evidence and lose to strong, so both the diagonal
    * and the en-column misclassifications stay live. */
  private val langidInjectSql: String =
    """text || CASE lang
      |    WHEN 'de' THEN ' der die das'
      |    WHEN 'es' THEN ' el la los'
      |    WHEN 'fr' THEN ' le les et'
      |    WHEN 'zh' THEN ' 的 是 了' ELSE '' END""".stripMargin
  private def langidInject(docs: DataFrame): DataFrame =
    docs.withColumn("text", concat(col("text"),
      when(col("lang") === "de", " der die das")
        .when(col("lang") === "es", " el la los")
        .when(col("lang") === "fr", " le les et")
        .when(col("lang") === "zh", " 的 是 了")
        .otherwise("")))

  /** LANGID CONFUSION MATRIX — the measured-quality gate for the marker
    * heuristic (the sim_nearest_centroid discipline applied to text:
    * `text_langid` runs the classifier; THIS hashes how well it
    * recovers a planted label under contested evidence): per
    * (label, predicted) pair the doc count, plus integer recall percent
    * on the diagonal — a marker-list regression (dropped stop word,
    * broken tie order) now moves gated numbers instead of silently
    * degrading the filter downstream. One scan + one (lang, pred)
    * rollup + a broadcast per-lang totals join. */
  val textLangidConfusion = QueryDef(
    "text_langid_confusion",
    s"""WITH inj AS (
       |  SELECT doc_id, lang, $langidInjectSql AS text FROM documents
       |), scored AS (
       |  SELECT doc_id, lang, $langidScoreColsSql
       |  FROM inj
       |), pred AS (
       |  SELECT lang, $langidPredSql AS predicted_lang FROM scored
       |), cm AS (
       |  SELECT lang, predicted_lang, CAST(count(*) AS BIGINT) AS n_docs
       |  FROM pred GROUP BY lang, predicted_lang
       |), tot AS (
       |  SELECT lang, CAST(sum(n_docs) AS BIGINT) AS n_lang FROM cm GROUP BY lang
       |)
       |SELECT cm.lang, cm.predicted_lang, cm.n_docs,
       |  CAST(CASE WHEN cm.lang = cm.predicted_lang
       |       THEN (100 * cm.n_docs) // tot.n_lang ELSE NULL END AS BIGINT) AS recall_pct
       |FROM cm JOIN tot ON cm.lang = tot.lang
       |ORDER BY cm.lang, cm.predicted_lang""".stripMargin) { (s, d) =>
    val cm = languageId(langidInject(Tables.documents(s, d)))
      .groupBy("lang", "predicted_lang")
      .agg(count(lit(1)).as("n_docs"))
    val tot = cm.groupBy("lang").agg(sum(col("n_docs")).as("n_lang"))
    cm.join(broadcast(tot), "lang")
      .select(col("lang"), col("predicted_lang"), col("n_docs"),
        when(col("lang") === col("predicted_lang"),
          expr("(100 * n_docs) div n_lang")).otherwise(lit(null).cast("long"))
          .as("recall_pct"))
      .orderBy("lang", "predicted_lang")
  }

  /** Per-document quality features + composite score: token count, mean
    * token length, long-token ratio, digit ratio. Formula is arbitrary but
    * fixed; all arithmetic is the identical expression tree on both
    * engines (integer counts → one double division each).
    */
  def qualityScore(docs: DataFrame): DataFrame = {
    val toks = split(col("text"), " ")
    docs.select(col("doc_id"), col("lang"),
        length(col("text")).cast("long").as("n_chars_txt"),
        size(toks).cast("long").as("n_tokens"),
        size(filter(toks, t => length(t) > 6)).cast("long").as("n_long"),
        length(regexp_replace(col("text"), "[^0-9]", "")).cast("long").as("n_digits"))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        ((col("n_chars_txt") - col("n_tokens") + 1).cast("double") / col("n_tokens"))
          .as("avg_token_len"),
        (col("n_long").cast("double") / col("n_tokens")).as("long_ratio"),
        (col("n_digits").cast("double") / col("n_chars_txt")).as("digit_ratio"))
      .withColumn("quality",
        round(least(col("n_tokens").cast("double") / 100.0, lit(1.0)) * 0.5
          + (lit(1.0) - abs(col("avg_token_len") - 5.0) / 10.0) * 0.3
          + (lit(1.0) - col("long_ratio")) * 0.2, 4))
  }

  val textQuality = QueryDef(
    "text_quality",
    """SELECT doc_id, lang, n_tokens,
      |  avg_token_len, long_ratio, digit_ratio,
      |  round(least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.5
      |    + (1.0 - abs(avg_token_len - 5.0) / 10.0) * 0.3
      |    + (1.0 - long_ratio) * 0.2, 4) AS quality
      |FROM (
      |  SELECT doc_id, lang, n_tokens,
      |    CAST(n_chars_txt - n_tokens + 1 AS DOUBLE) / n_tokens AS avg_token_len,
      |    CAST(n_long AS DOUBLE) / n_tokens AS long_ratio,
      |    CAST(n_digits AS DOUBLE) / n_chars_txt AS digit_ratio
      |  FROM (
      |    SELECT doc_id, lang,
      |      CAST(length(text) AS BIGINT) AS n_chars_txt,
      |      CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |      CAST(len(list_filter(string_split(text, ' '), t -> length(t) > 6)) AS BIGINT) AS n_long,
      |      CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT) AS n_digits
      |    FROM documents)
      |)
      |ORDER BY doc_id LIMIT 200""".stripMargin) { (s, d) =>
    qualityScore(Tables.documents(s, d)).orderBy("doc_id").limit(200)
  }

  /** Token counting three ways per source: whitespace tokens, regex
    * word tokens (alnum runs), and the chars/4 BPE-count heuristic. */
  val textTokens = QueryDef(
    "text_tokens",
    """SELECT source,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
      |  CAST(sum(len(list_filter(regexp_split_to_array(text, '[^a-zA-Z0-9]+'), t -> t <> ''))) AS BIGINT) AS re_tokens,
      |  CAST(sum(CAST(ceil(length(text) / 4.0) AS BIGINT)) AS BIGINT) AS est_bpe_tokens
      |FROM documents GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("ws_tokens"),
        sum(size(filter(split(col("text"), "[^a-zA-Z0-9]+"), t => t =!= "")).cast("long"))
          .as("re_tokens"),
        sum(ceil(length(col("text")) / 4.0)).as("est_bpe_tokens"))
      .orderBy("source")
  }

  /** Content-defined document fingerprint: md5 over the sorted distinct
    * 3-gram shingle hashes (an order-invariant set hash — the rolling-hash
    * shingles are the winnowing features). Documents sharing a fingerprint
    * have identical shingle sets.
    */
  def fingerprints(docs: DataFrame): DataFrame =
    Functions.shingles(docs)
      .select(col("doc_id"), md5(col("shingle")).as("h"))
      .groupBy("doc_id")
      .agg(md5(concat_ws("", array_sort(collect_list(col("h"))))).as("fp"))

  val textFingerprint = QueryDef(
    "text_fingerprint",
    s"""${Functions.distinctShingleCte("documents")},
       |fps AS (
       |  SELECT doc_id, md5(string_agg(md5(shingle), '' ORDER BY md5(shingle))) AS fp
       |  FROM shd GROUP BY doc_id
       |)
       |SELECT doc_id, fp,
       |  CAST(count(*) OVER (PARTITION BY fp) AS BIGINT) AS n_same_fp
       |FROM fps ORDER BY doc_id LIMIT 200""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    fingerprints(Tables.documents(s, d))
      .withColumn("n_same_fp", count(lit(1)).over(Window.partitionBy("fp")))
      .orderBy("doc_id")
      .limit(200)
  }

  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val LongNumRe = "[0-9]{4,}"

  /** PII scrubbing: redact emails and long digit runs, count redactions.
    * Pure regexp built-ins (codegen, embarrassingly parallel). The
    * patterns avoid backreferences/lookaround so Java regex (Spark) and
    * RE2 (DuckDB) agree symbol-for-symbol; EdgeSpec carries the semantic
    * proof on planted PII (the gate corpus contains none).
    *
    * The scrub is sequential — emails first, digit runs on the RESULT —
    * and n_longnums is counted on the same email-scrubbed intermediate,
    * so the counts state exactly what the scrub replaced (a digit run
    * inside an email is one <EMAIL> redaction, not also a <NUM>).
    */
  def piiScrub(docs: DataFrame): DataFrame = {
    val emailScrubbed = regexp_replace(col("text"), EmailRe, "<EMAIL>")
    docs.select(col("doc_id"),
      size(regexp_extract_all(col("text"), lit(EmailRe), lit(0))).cast("long").as("n_emails"),
      size(regexp_extract_all(emailScrubbed, lit(LongNumRe), lit(0))).cast("long").as("n_longnums"),
      substring(
        regexp_replace(emailScrubbed, LongNumRe, "<NUM>"), 1, 60).as("scrubbed60"))
  }

  val textPiiScrub = QueryDef(
    "text_pii_scrub",
    s"""SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '$EmailRe')) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(
       |    regexp_replace(text, '$EmailRe', '<EMAIL>', 'g'), '$LongNumRe')) AS BIGINT)
       |    AS n_longnums,
       |  substr(regexp_replace(regexp_replace(text, '$EmailRe', '<EMAIL>', 'g'),
       |    '$LongNumRe', '<NUM>', 'g'), 1, 60) AS scrubbed60
       |FROM documents ORDER BY doc_id LIMIT 200""".stripMargin) { (s, d) =>
    piiScrub(Tables.documents(s, d)).orderBy("doc_id").limit(200)
  }

  /** Deterministic content-hash train/val split — the reproducible
    * alternative to rand()-sampling for dataset splits: subset is a pure
    * function of doc_id (first hex nibble of md5 ≤ 'b' → train, 12/16 =
    * 75%), identical on any engine, any partitioning, any rerun. */
  def hashSplit(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      when(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 1) <= "b",
        "train").otherwise("val").as("subset"))

  val sampleSplit = QueryDef(
    "sample_split",
    """SELECT subset, CAST(count(*) AS BIGINT) AS n_docs,
      |  min(doc_id) AS min_id, max(doc_id) AS max_id
      |FROM (
      |  SELECT doc_id,
      |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'b'
      |      THEN 'train' ELSE 'val' END AS subset
      |  FROM documents)
      |GROUP BY subset ORDER BY subset""".stripMargin) { (s, d) =>
    hashSplit(Tables.documents(s, d))
      .groupBy("subset")
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"))
      .orderBy("subset")
  }

  /** Deterministic per-stratum (per-language) downsampling: a doc is kept
    * iff the first byte of md5(lang ‖ ':' ‖ doc_id) falls below the
    * stratum's threshold — en keeps 128/256 = 50%, every other language
    * 64/256 = 25%. Like hashSplit, membership is a pure function of the
    * row (no rand()): identical on any engine, partitioning, or rerun,
    * and at 100 TB the filter evaluates streaming in the scan stage with
    * no shuffle at all. The lang prefix decorrelates the sample from
    * hashSplit's subsets (different hash input → independent strata).
    */
  def stratifiedSample(docs: DataFrame): DataFrame = {
    val b = conv(substring(
      md5(concat(col("lang"), lit(":"), col("doc_id").cast("string")).cast("binary")),
      1, 2), 16, 10).cast("int")
    val thr = when(col("lang") === "en", lit(128)).otherwise(lit(64))
    docs.withColumn("keep", b < thr)
  }

  val sampleStratified = QueryDef(
    "sample_stratified",
    """WITH k AS (
      |  SELECT lang, doc_id,
      |    CAST('0x' || substr(md5(lang || ':' || CAST(doc_id AS VARCHAR)), 1, 2) AS INTEGER)
      |      < (CASE WHEN lang = 'en' THEN 128 ELSE 64 END) AS keep
      |  FROM documents
      |)
      |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  min(CASE WHEN keep THEN doc_id END) AS first_kept,
      |  max(CASE WHEN keep THEN doc_id END) AS last_kept
      |FROM k GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
    stratifiedSample(Tables.documents(s, d))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        min(when(col("keep"), col("doc_id"))).as("first_kept"),
        max(when(col("keep"), col("doc_id"))).as("last_kept"))
      .orderBy("lang")
  }

  /** Benchmark decontamination: drop training documents whose
    * order-invariant content fingerprint matches any benchmark document.
    * The benchmark here is the docs with doc_id % 97 == 0 — and the match
    * is by CONTENT, not id (real decontamination has no id linking a
    * benchmark to the crawl), so the training corpus is the WHOLE table
    * and the benchmark members themselves are what the fingerprint match
    * finds and drops (≈1% per stratum on this dup-free corpus; any
    * crawl-side copy of a benchmark doc would be dropped the same way).
    * The benchmark fingerprint set is small by construction, so the
    * match is a BROADCAST join against the training stream — the 100 TB
    * shape for exact-match decontamination (no shuffle of the corpus).
    * One pass produces both counts: a left join + conditional sum
    * instead of separate semi/anti joins. Docs under 3 tokens have no
    * shingles hence no fingerprint — they cannot match and survive.
    */
  def decontaminate(docs: DataFrame): DataFrame = {
    val withFp = docs.join(fingerprints(docs), Seq("doc_id"), "left")
    // fingerprint ONLY the ~1% benchmark docs (fp is per-doc, so this is
    // exactly the benchmark fp set) — guaranteed cheap rather than
    // hoping the optimizer pushes a filter through the full-corpus join
    val evalFps = fingerprints(docs.filter(col("doc_id") % 97 === 0))
      .select(col("fp").as("efp")).distinct()
    withFp
      .join(broadcast(evalFps), col("fp") === col("efp"), "left")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_train"),
        sum(when(col("efp").isNotNull, 1L).otherwise(0L)).as("n_dropped"))
      .select(col("lang"), col("n_train"), col("n_dropped"),
        (col("n_train") - col("n_dropped")).as("n_kept"))
  }

  val textDecontaminate = QueryDef(
    "text_decontaminate",
    s"""${Functions.distinctShingleCte("documents")},
       |fps AS (
       |  SELECT doc_id, md5(string_agg(md5(shingle), '' ORDER BY md5(shingle))) AS fp
       |  FROM shd GROUP BY doc_id
       |), dd AS (
       |  SELECT d.doc_id, d.lang, f.fp FROM documents d LEFT JOIN fps f USING (doc_id)
       |), ev AS (
       |  SELECT DISTINCT fp FROM dd WHERE doc_id % 97 = 0 AND fp IS NOT NULL
       |), t AS (
       |  SELECT dd.lang, CASE WHEN ev.fp IS NOT NULL THEN 1 ELSE 0 END AS dropped
       |  FROM dd LEFT JOIN ev ON dd.fp = ev.fp
       |)
       |SELECT lang, CAST(count(*) AS BIGINT) AS n_train,
       |  CAST(sum(dropped) AS BIGINT) AS n_dropped,
       |  CAST(count(*) - sum(dropped) AS BIGINT) AS n_kept
       |FROM t GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
    decontaminate(Tables.documents(s, d)).orderBy("lang")
  }

  /** DuckDB 13-gram CTE pair over `rel`: `<name>` is the DISTINCT
    * (doc_id, shingle) 13-token-gram relation (trailing windows NULL out
    * through the lead chain and are filtered, matching
    * `Functions.shingles(_, 13)`'s size ≥ n guard). */
  private def gram13Cte(rel: String, name: String): String = {
    val leads = (1 to 12).map(i => s"lead(tok, $i) OVER w").mkString(" || ' ' || ")
    s"""${name}0 AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
       |         generate_subscripts(string_split(text, ' '), 1) AS p
       |  FROM $rel
       |), ${name}1 AS (
       |  SELECT doc_id, tok || ' ' || $leads AS shingle
       |  FROM ${name}0 WINDOW w AS (PARTITION BY doc_id ORDER BY p)
       |), $name AS (
       |  SELECT DISTINCT doc_id, shingle FROM ${name}1 WHERE shingle IS NOT NULL
       |)""".stripMargin
  }

  /** N-GRAM-OVERLAP DECONTAMINATION (the GPT-3 appendix-C / PaLM
    * production recipe): a training document is dropped if it shares ANY
    * 13-token-gram with the benchmark set — the finer-grained sibling of
    * `text_decontaminate`'s whole-document fingerprint, built to catch
    * PARTIAL contamination (a benchmark question quoted inside an
    * otherwise-novel document), which no whole-doc method can see. The
    * fixture has no natural 13-gram overlap, so the key PLANTS the exact
    * failure case (the pipeline_pretrain planting discipline): for every
    * benchmark doc (doc_id % 97), a training doc quoting its first 15
    * tokens inside fresh surrounding text. The gated funnel reports, per
    * lang, how many training docs the n-gram method drops NEXT TO how
    * many the fingerprint method would have dropped — 0 by construction
    * for the planted quotes; the delta IS the method's reason to exist.
    * Benchmark docs of < 13 tokens yield quotes with no complete 13-gram
    * and their planted docs survive, so both funnel outcomes occur.
    *
    * Scale shape: the benchmark n-gram set is ~1% of the corpus and
    * BROADCASTS (the production recipe's hash-set-per-worker); the
    * corpus side streams its shingles through that broadcast join with
    * no corpus shuffle, and the post-match distinct is bounded by
    * contaminated-doc volume, not corpus volume. */
  def ngramDecontaminate(docs0: DataFrame, n: Int = 13): DataFrame = {
    val docs = docs0.select(col("doc_id"), col("lang"), col("text"))
    val quote = array_join(slice(split(col("text"), " "), 1, 15), " ")
    val planted = docs.filter(col("doc_id") % 97 === 0)
      .select((col("doc_id") + 3000000L).as("doc_id"), col("lang"),
        concat(lit("quote : "), quote,
          lit(" : end of quote unrelated tail")).as("text"))
    val train = docs.filter(col("doc_id") % 97 =!= 0).unionByName(planted)
    val bench = docs.filter(col("doc_id") % 97 === 0)
    val bsh = broadcast(Functions.shingles(bench.select("doc_id", "text"), n)
      .select("shingle").distinct())
    val hits = Functions.shingles(train.select("doc_id", "text"), n)
      .join(bsh, "shingle").select("doc_id").distinct()
      .withColumn("ng", lit(1L))
    val bfp = broadcast(bench.select(md5(col("text")).as("bh")).distinct())
    train.join(hits, Seq("doc_id"), "left")
      .join(bfp, md5(col("text")) === col("bh"), "left")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_train"),
        sum(when(col("ng").isNotNull, 1L).otherwise(0L)).as("n_dropped_ngram"),
        sum(when(col("bh").isNotNull, 1L).otherwise(0L)).as("n_dropped_fp"))
      .select(col("lang"), col("n_train"), col("n_dropped_ngram"),
        col("n_dropped_fp"),
        (col("n_train") - col("n_dropped_ngram")).as("n_kept"))
  }

  val textDecontaminateNgram = QueryDef(
    "text_decontaminate_ngram",
    s"""WITH base AS (SELECT doc_id, lang, text FROM documents),
       |planted AS (
       |  SELECT doc_id + 3000000 AS doc_id, lang,
       |    'quote : ' || array_to_string((string_split(text, ' '))[1:15], ' ')
       |      || ' : end of quote unrelated tail' AS text
       |  FROM base WHERE doc_id % 97 = 0
       |), train AS (
       |  SELECT * FROM base WHERE doc_id % 97 <> 0
       |  UNION ALL SELECT * FROM planted
       |), bench AS (SELECT * FROM base WHERE doc_id % 97 = 0),
       |${gram13Cte("bench", "bsh")},
       |${gram13Cte("train", "tsh")},
       |hits AS (
       |  SELECT DISTINCT doc_id FROM tsh
       |  WHERE shingle IN (SELECT shingle FROM bsh)
       |), bfp AS (SELECT DISTINCT md5(text) AS bh FROM bench)
       |SELECT t.lang, CAST(count(*) AS BIGINT) AS n_train,
       |  CAST(sum(CASE WHEN h.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_dropped_ngram,
       |  CAST(sum(CASE WHEN md5(t.text) IN (SELECT bh FROM bfp)
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped_fp,
       |  CAST(count(*) - sum(CASE WHEN h.doc_id IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_kept
       |FROM train t LEFT JOIN hits h USING (doc_id)
       |GROUP BY t.lang ORDER BY t.lang""".stripMargin) { (s, d) =>
    ngramDecontaminate(Tables.documents(s, d)).orderBy("lang")
  }

  /** Sequence packing for training batches: documents are streamed in
    * doc_id order within `buckets` parallel streams (bucket = doc_id %
    * buckets) and concatenated; a document's bin is the token-budget
    * window its FIRST token falls in (bin = prefix_tokens div budget —
    * next-fit packing with straddle, the standard pretraining concat
    * layout). Bucketing is what makes this scale: a GLOBAL ordered
    * prefix sum would be a single-partition window (the one Spark
    * anti-pattern this codebase bans), while per-bucket windows are
    * embarrassingly parallel and real packers shard exactly this way.
    * Output: per (bucket, bin) document and token counts.
    */
  def packBins(docs: DataFrame, buckets: Int = 32, budget: Long = 512L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("bucket").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.select(col("doc_id"), (col("doc_id") % buckets).as("bucket"),
      size(split(col("text"), " ")).cast("long").as("n_toks"))
      .withColumn("cum", sum(col("n_toks")).over(w))
      .withColumn("bin", expr(s"(cum - n_toks) div $budget"))
      .groupBy("bucket", "bin")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
  }

  val textPack = QueryDef(
    "text_pack",
    """WITH t AS (
      |  SELECT doc_id, doc_id % 32 AS bucket,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
      |  FROM documents
      |), c AS (
      |  SELECT *, sum(n_toks) OVER (PARTITION BY bucket ORDER BY doc_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM t
      |)
      |SELECT bucket, CAST((cum - n_toks) // 512 AS BIGINT) AS bin,
      |       CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(n_toks) AS BIGINT) AS n_tokens
      |FROM c GROUP BY bucket, bin
      |ORDER BY bucket, bin""".stripMargin) { (s, d) =>
    packBins(Tables.documents(s, d)).orderBy("bucket", "bin")
  }

  /** Corpus-level top-20 token bigrams (all occurrences, not per-doc
    * distinct): one explode + one combinable groupBy — linear, and the
    * top-k is TakeOrderedAndProject, never a global sort. */
  val textNgrams = QueryDef(
    "text_ngrams",
    """WITH pos AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
      |         generate_subscripts(string_split(text, ' '), 1) AS p
      |  FROM documents
      |), bg AS (
      |  SELECT tok || ' ' || lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY p) AS bigram
      |  FROM pos
      |)
      |SELECT bigram, CAST(count(*) AS BIGINT) AS cnt
      |FROM bg WHERE bigram IS NOT NULL
      |GROUP BY bigram ORDER BY cnt DESC, bigram LIMIT 20""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(toks) - 2), i -> concat_ws(' ', toks[i], toks[i + 1]))"))
        .as("bigram"))
      .groupBy("bigram")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("bigram"))
      .limit(20)
  }

  /** TF-IDF term weighting over the corpus — the classic retrieval /
    * quality-filter score, and the canonical broadcast-dictionary shape
    * at scale: term frequencies are one combinable groupBy over the
    * exploded tokens, document frequencies are a second groupBy over the
    * (doc, term) relation (vocabulary-sized — the side a cluster
    * broadcasts or shuffle-joins as a dictionary), and the corpus size N
    * enters as a 1-row broadcast. Smooth-IDF: tf · (ln((N+1)/(df+1))+1).
    *
    * Determinism (§2.9): `ln` is NOT cross-engine bit-stable (measured
    * 3/20 000 one-ulp diffs between Java Math.log and DuckDB's libm on
    * this host), so the double score never drives row SELECTION or
    * ORDER — the emitted rows are picked by exact integer predicates
    * (every 41st doc, tf ≥ 2) and ordered by (doc_id, token); the
    * ln-score is a VALUE column rounded to 4dp, and the gate corpora are
    * empirically checked to keep every emitted score ≥ 1e-6 away from a
    * rounding boundary (a one-ulp libm diff moves it ~1e-12 relative).
    */
  val textTfidf = QueryDef(
    "text_tfidf",
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
      |), tf AS (
      |  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
      |  FROM tok GROUP BY doc_id, token
      |), dfx AS (
      |  SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY token
      |), nn AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n FROM documents
      |)
      |SELECT doc_id, token, tf, df,
      |       round(tf * (ln((n + 1.0) / (df + 1.0)) + 1.0), 4) AS tfidf
      |FROM tf JOIN dfx USING (token), nn
      |WHERE doc_id % 41 = 0 AND tf >= 2
      |ORDER BY doc_id, token""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
    val tok = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
    val tf = tok.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val nn = docs.agg(count(lit(1)).as("n"))
    // df via a whole-partition window over the tf relation, NOT a
    // tf-join-tf: the join formulation evaluates (and at scale, scans and
    // explodes) the corpus twice — once per branch; the window computes
    // doc frequencies in the same single pass, one shuffle on token
    // (plan-audited: 7 Exchanges with two corpus scans → 5 with one)
    tf.withColumn("df", count(lit(1)).over(Window.partitionBy("token")))
      .filter(col("doc_id") % 41 === 0 && col("tf") >= 2)
      .crossJoin(broadcast(nn))
      .select(col("doc_id"), col("token"), col("tf"), col("df"),
        round(col("tf") * (log((col("n") + lit(1.0)) / (col("df") + lit(1.0))) + lit(1.0)), 4)
          .as("tfidf"))
      .orderBy("doc_id", "token")
  }

  /** Deterministic epoch shuffle — the training-loader reorder as a pure
    * function of (epoch, doc_id): sort key = md5("epoch<k>:" ‖ doc_id),
    * reproducible on any engine/partitioning/rerun and different per
    * epoch, the same content-hash discipline as `sample_split` (rand()
    * cannot survive a hash gate or a task retry). The gated relation is
    * the first 100 docs of the epoch-0 order, which plans as
    * TakeOrderedAndProject (top-k, no global sort); the full-epoch form
    * at scale is `repartitionByRange(skey)` + within-partition sort —
    * the standard distributed shuffle-for-training layout.
    */
  val sampleShuffle = QueryDef(
    "sample_shuffle",
    """SELECT doc_id, md5('epoch0:' || CAST(doc_id AS VARCHAR)) AS skey
      |FROM documents
      |ORDER BY skey, doc_id LIMIT 100""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        md5(concat(lit("epoch0:"), col("doc_id").cast("string"))).as("skey"))
      .orderBy("skey", "doc_id")
      .limit(100)
  }

  /** End-to-end corpus-cleanse PIPELINE — the composition a real
    * training-data user runs, gated as one relation: quality filter
    * (≥ 5 tokens) → exact dedup (min doc_id per content hash) →
    * benchmark decontamination (drop survivors whose content hash
    * matches any doc_id % 97 benchmark doc) → per-language survivor
    * counts and token totals. Two column-pruned corpus scans (the main
    * stream, and the ~1% benchmark branch — re-scanning beats caching
    * the full corpus for one projected column); the dedup is one
    * combinable groupBy on the hash; the benchmark set broadcasts into
    * an anti-join — at 100 TB this whole pipeline is two shuffles
    * (hash groupBy, final lang aggregate) plus a broadcast.
    */
  val pipelineCleanse = QueryDef(
    "pipeline_cleanse",
    """WITH base AS (
      |  SELECT doc_id, lang,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
      |         md5(text) AS h
      |  FROM documents
      |), f AS (
      |  SELECT * FROM base WHERE n_toks >= 5
      |), k AS (
      |  SELECT h, min(doc_id) AS doc_id FROM f GROUP BY h
      |), dd AS (
      |  SELECT f.* FROM f JOIN k USING (h, doc_id)
      |), bench AS (
      |  SELECT DISTINCT h FROM base WHERE doc_id % 97 = 0
      |)
      |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(n_toks) AS BIGINT) AS n_tokens
      |FROM dd
      |WHERE NOT EXISTS (SELECT 1 FROM bench b WHERE b.h = dd.h)
      |GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
    val base = Tables.documents(s, d).select(col("doc_id"), col("lang"),
      size(split(col("text"), " ")).cast("long").as("n_toks"),
      md5(col("text")).as("h"))
    val filtered = base.filter(col("n_toks") >= 5)
    val keepers = filtered.groupBy("h").agg(min("doc_id").as("doc_id"))
    val deduped = filtered.join(keepers, Seq("h", "doc_id"))
    val bench = base.filter(col("doc_id") % 97 === 0).select("h").distinct()
    deduped.join(broadcast(bench), Seq("h"), "left_anti")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
      .orderBy("lang")
  }

  /** Boilerplate/markup removal — the HTML-strip pass every web-crawl
    * pipeline runs before dedup/quality. The synthetic corpus carries no
    * markup, so the key first wraps each doc in a deterministic HTML
    * shell (title/body/footer tags built from the row's own columns —
    * the same live-at-every-SF fake-payload discipline as the multimodal
    * stubs), then strips: remove tags, collapse whitespace, trim. Both
    * engines run the identical patterns (`<[^>]+>`, `\s+` — RE2-safe,
    * no backrefs); emitted counts pin how much markup was removed, the
    * cleaned prefix pins the reconstruction. Pure codegen regexp
    * built-ins, embarrassingly parallel — no shuffle below the top-k. */
  val textStripMarkup = QueryDef(
    "text_strip_markup",
    """SELECT doc_id,
      |  CAST(len(regexp_extract_all(
      |    '<html><head><title>' || lang || '</title></head><body><p class="doc">'
      |      || text || '</p><br/><footer>' || source || '</footer></body></html>',
      |    '<[^>]+>')) AS BIGINT) AS n_tags,
      |  CAST(length(text) AS BIGINT) AS len_text,
      |  substr(trim(regexp_replace(regexp_replace(
      |    '<html><head><title>' || lang || '</title></head><body><p class="doc">'
      |      || text || '</p><br/><footer>' || source || '</footer></body></html>',
      |    '<[^>]+>', ' ', 'g'), '\s+', ' ', 'g')), 1, 60) AS cleaned60
      |FROM documents ORDER BY doc_id LIMIT 200""".stripMargin) { (s, d) =>
    val html = concat(
      lit("<html><head><title>"), col("lang"),
      lit("</title></head><body><p class=\"doc\">"), col("text"),
      lit("</p><br/><footer>"), col("source"),
      lit("</footer></body></html>"))
    Tables.documents(s, d)
      .select(col("doc_id"),
        size(regexp_extract_all(html, lit("<[^>]+>"), lit(0)))
          .cast("long").as("n_tags"),
        length(col("text")).cast("long").as("len_text"),
        substring(trim(regexp_replace(
          regexp_replace(html, "<[^>]+>", " "), "\\s+", " ")), 1, 60)
          .as("cleaned60"))
      .orderBy("doc_id")
      .limit(200)
  }

  /** Per-document repetition signals — the Gopher-style repetition
    * filters pretraining pipelines cut on (repeated boilerplate is the
    * top corpus pathology MinHash misses inside a single doc):
    * duplicate-token fraction (tokens belonging to a type occurring > 1
    * time in the doc) and top-bigram coverage (occurrences of the doc's
    * most frequent bigram over all its bigrams). Both ratios in integer
    * PPM (×10^6 floor division) — exact BIGINTs, no double division.
    *
    * Scale: both branches shuffle on a doc_id-prefixed key, so the
    * per-doc rollups reuse the same partitioning (subset rule, no second
    * exchange per branch); everything is combinable partial aggregation.
    * Docs with < 2 tokens have no bigram and drop from the relation on
    * both sides (inner join). */
  def repetitionSignals(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), split(col("text"), " ").as("a"))
      .filter(size(col("a")) >= 2)
    val tf = toks.select(col("doc_id"), explode(col("a")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("cnt"))
    val perDoc = tf.groupBy("doc_id").agg(
      sum(col("cnt")).as("n_tokens"),
      sum(when(col("cnt") > 1, col("cnt")).otherwise(0L)).as("n_dup"))
    val bgc = toks.select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(a) - 2), i -> concat_ws(' ', a[i], a[i + 1]))"))
        .as("bigram"))
      .groupBy("doc_id", "bigram").agg(count(lit(1)).as("cnt"))
    val perDocBg = bgc.groupBy("doc_id")
      .agg(max(col("cnt")).as("top_cnt"), sum(col("cnt")).as("n_bigrams"))
    perDoc.join(perDocBg, Seq("doc_id"))
      .select(col("doc_id"), col("n_tokens"),
        expr("(n_dup * 1000000L) div n_tokens").as("dup_tok_ppm"),
        expr("(top_cnt * 1000000L) div n_bigrams").as("top_bigram_ppm"))
      .orderBy("doc_id")
  }

  val textRepetition = QueryDef(
    "text_repetition",
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
      |), tf AS (
      |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS cnt
      |  FROM tok GROUP BY doc_id, tok
      |), d AS (
      |  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens,
      |         CAST(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS BIGINT) AS n_dup
      |  FROM tf GROUP BY doc_id
      |), pos AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
      |         generate_subscripts(string_split(text, ' '), 1) AS p
      |  FROM documents WHERE len(string_split(text, ' ')) >= 2
      |), bgc AS (
      |  SELECT doc_id, bigram, CAST(count(*) AS BIGINT) AS cnt FROM (
      |    SELECT doc_id,
      |           tok || ' ' || lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY p)
      |             AS bigram
      |    FROM pos)
      |  WHERE bigram IS NOT NULL GROUP BY doc_id, bigram
      |), b AS (
      |  SELECT doc_id, CAST(max(cnt) AS BIGINT) AS top_cnt,
      |         CAST(sum(cnt) AS BIGINT) AS n_bigrams
      |  FROM bgc GROUP BY doc_id
      |)
      |SELECT d.doc_id, d.n_tokens,
      |       CAST((n_dup * 1000000) // n_tokens AS BIGINT) AS dup_tok_ppm,
      |       CAST((top_cnt * 1000000) // n_bigrams AS BIGINT) AS top_bigram_ppm
      |FROM d JOIN b USING (doc_id)
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    repetitionSignals(Tables.documents(s, d))
  }

  /** Deterministic WEIGHTED Bernoulli sampling — importance sampling for
    * training-data mixes (sample long docs proportionally more), with the
    * same no-rand() discipline as `sample_split`: keep a doc iff the
    * md5-derived 32-bit uniform of its id clears the weight threshold,
    * i.e. u32 · max_w < w · 2^32, ALL IN EXACT INTEGERS (u32 < 2^32,
    * max_w ≤ 10^6 keeps the products < 2^53 — no double ever enters the
    * predicate, so the kept SET is engine-exact, not just the hash).
    * Membership is a pure function of doc_id: stable across engines,
    * partitioning, reruns, and task retries.
    *
    * Scale: the max-weight side is a 1-row broadcast; the filter then
    * evaluates streaming in the scan stage — no shuffle at all. */
  def weightedSample(docs: DataFrame): DataFrame = {
    val u32 = conv(substring(
      md5(concat(lit("wsample:"), col("doc_id").cast("string")).cast("binary")),
      1, 8), 16, 10).cast("long")
    val mx = docs.agg(max(col("n_chars")).as("max_chars"))
    docs.crossJoin(broadcast(mx))
      .filter(u32 * col("max_chars") < col("n_chars") * lit(4294967296L))
      .select(col("doc_id"), col("n_chars"))
      .orderBy("doc_id")
  }

  val sampleWeighted = QueryDef(
    "sample_weighted",
    """WITH mx AS (SELECT max(n_chars) AS max_chars FROM documents)
      |SELECT doc_id, n_chars
      |FROM documents, mx
      |WHERE CAST('0x' || substr(md5('wsample:' || CAST(doc_id AS VARCHAR)), 1, 8)
      |        AS BIGINT) * max_chars
      |      < n_chars * 4294967296
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    weightedSample(Tables.documents(s, d))
  }

  /** Token-rarity document scoring — the corpus-level gibberish/OCR-noise
    * signal `text_quality`'s per-doc shape ratios cannot see: a document
    * whose tokens are individually well-formed but globally RARE (typos,
    * OCR confusions, machine-generated junk) scores low on mean document
    * frequency. Per doc, over its DISTINCT whitespace tokens: the sum of
    * each token's corpus document frequency and the mean in integer PPM
    * floor division (BIGINT-exact, `div` trunc ≡ `//` floor on
    * non-negative counts — the event_markov discipline). The df is a
    * whole-partition count window over the distinct (doc_id, token)
    * relation, NOT a df-table join back — one token shuffle computes df
    * AND carries the rows (the text_tfidf plan lesson); the per-doc
    * rollup is the only other shuffle. Output = the 20 rarest docs.
    */
  val textRarity = QueryDef(
    "text_rarity",
    """WITH tok AS (
      |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
      |  FROM documents
      |), dfw AS (
      |  SELECT doc_id, CAST(count(*) OVER (PARTITION BY token) AS BIGINT) AS df
      |  FROM tok
      |), per AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
      |         CAST(sum(df) AS BIGINT) AS sum_df
      |  FROM dfw GROUP BY doc_id
      |)
      |SELECT doc_id, n_tok, sum_df,
      |       CAST(sum_df * 1000000 // n_tok AS BIGINT) AS avg_df_ppm
      |FROM per
      |ORDER BY avg_df_ppm, doc_id LIMIT 20""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .distinct()
      .withColumn("df", count(lit(1)).over(Window.partitionBy("token")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"), sum(col("df")).as("sum_df"))
      .select(col("doc_id"), col("n_tok"), col("sum_df"),
        expr("(sum_df * 1000000) div n_tok").as("avg_df_ppm"))
      .orderBy(col("avg_df_ppm"), col("doc_id"))
      .limit(20)
  }

  /** Data-MIX construction — the mixture-sampling pass that assembles a
    * training corpus from per-source/language weights (the missing piece
    * between `sample_stratified`'s fixed rates and `sample_weighted`'s
    * per-row weights): each language gets a kept-doc BUDGET of
    * weight × 60; languages over budget are hash-downsampled to it,
    * languages under budget keep everything (both branches live at every
    * SF — en always samples, zh's ×15 upweight always caps). The keep
    * rule is `u32(md5('mix:' ‖ doc_id)) < floor(w·60·2^32 / n_lang)` —
    * the per-lang threshold is ONE exact integer computed on the
    * |langs|-row count relation (all products < 2^52), so membership is a
    * pure row function both engines evaluate identically (the
    * sample_split discipline: no rand(), retry-safe). Plan: one
    * combinable count pass, the tiny threshold table broadcast back, the
    * hash filter in the scan stage, one final lang rollup — two keyed
    * shuffles on `lang` at any corpus size.
    */
  val sampleMix = QueryDef(
    "sample_mix",
    """WITH counts AS (
      |  SELECT lang, CAST(count(*) AS BIGINT) AS n,
      |         CASE lang WHEN 'en' THEN 1 WHEN 'de' THEN 3 WHEN 'es' THEN 2
      |                   WHEN 'fr' THEN 2 WHEN 'zh' THEN 15 ELSE 1 END AS wt
      |  FROM documents GROUP BY lang
      |), thr AS (
      |  SELECT lang, (wt * 60 * 4294967296) // n AS t FROM counts
      |), k AS (
      |  SELECT d.lang, d.n_chars,
      |         CAST('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8)
      |           AS BIGINT) < t AS keep
      |  FROM documents d JOIN thr ON d.lang = thr.lang
      |)
      |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |       CAST(sum(CASE WHEN keep THEN n_chars END) AS BIGINT) AS kept_chars
      |FROM k GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val wt = when(col("lang") === "en", 1L).when(col("lang") === "de", 3L)
      .when(col("lang") === "es", 2L).when(col("lang") === "fr", 2L)
      .when(col("lang") === "zh", 15L).otherwise(1L)
    val thresholds = docs.groupBy("lang").agg(count(lit(1)).as("n"))
      .withColumn("wt", wt)
      .select(col("lang"), expr("(wt * 60 * 4294967296) div n").as("t"))
    val h = conv(substring(md5(concat(lit("mix:"), col("doc_id").cast("string"))),
      1, 8), 16, 10).cast("long")
    docs.join(broadcast(thresholds), "lang")
      .withColumn("keep", h < col("t"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("keep"), col("n_chars"))).as("kept_chars"))
      .orderBy("lang")
  }

  /** One BPE merge round — the pair-count pass at the heart of
    * byte-pair-encoding tokenizer training: corpus word frequencies, then
    * adjacent-symbol pair counts WEIGHTED by word frequency (round 1:
    * symbols are characters), then the merge candidates (top pairs).
    *
    * The classic BPE efficiency argument, kept intact at scale: the pair
    * explode runs over the DISTINCT-word vocabulary (each distinct word
    * contributes its pairs once, weighted by its corpus count), so pair
    * generation is bounded by vocab × word length — NOT corpus token
    * count. A 100 TB corpus with a 10 M-word vocabulary explodes ~100 M
    * pairs regardless of how many trillions of tokens it holds; only the
    * vocab groupBy touches the corpus, and it is one combinable
    * aggregation. Both groupBys are keyed shuffles; top-20 is per-
    * partition heaps (TakeOrderedAndProject). Ties break on the pair
    * string so the boundary is deterministic.
    */
  val textBpePairs = QueryDef(
    "text_bpe_pairs",
    """WITH w AS (
      |  SELECT unnest(string_split(text, ' ')) AS w FROM documents
      |), v AS (
      |  SELECT w, count(*) AS wc FROM w WHERE length(w) >= 2 GROUP BY w
      |), p AS (
      |  SELECT substr(w, CAST(i AS INT), 2) AS pair, wc
      |  FROM v, unnest(generate_series(1, length(w) - 1)) AS t(i)
      |)
      |SELECT pair, CAST(sum(wc) AS BIGINT) AS cnt
      |FROM p GROUP BY pair ORDER BY cnt DESC, pair LIMIT 20""".stripMargin) {
    (s, d) =>
      Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) >= 2)
        .groupBy("w").agg(count(lit(1)).as("wc"))
        .select(col("wc"), explode(expr(
          "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
          .as("pair"))
        .groupBy("pair").agg(sum(col("wc")).as("cnt"))
        .orderBy(col("cnt").desc, col("pair"))
        .limit(20)
  }

  /** One oracle round of BPE training: pair counts over the current
    * vocabulary's symbol sequences, the argmax pair (ties lexicographic),
    * and the merged vocabulary. */
  private def bpeRoundCte(r: Int): String =
    s"""p$r AS (
       |  SELECT syms[CAST(i AS INT)] AS x, syms[CAST(i AS INT) + 1] AS y,
       |         CAST(sum(wc) AS BIGINT) AS cnt
       |  FROM (SELECT string_split(substr(seq, 2, length(seq) - 2), ')(') AS syms, wc
       |        FROM v${r - 1}),
       |       unnest(generate_series(1, len(syms) - 1)) AS t(i)
       |  GROUP BY x, y
       |), t$r AS (
       |  SELECT x, y, cnt FROM p$r ORDER BY cnt DESC, x, y LIMIT 1
       |), v$r AS (
       |  SELECT replace(seq, '(' || x || ')(' || y || ')', '(' || x || y || ')') AS seq, wc
       |  FROM v${r - 1}, t$r
       |)""".stripMargin

  private val BpeRounds = 8

  /** BPE tokenizer TRAINING — the iterative merge loop `text_bpe_pairs`
    * computes only round 1 of: 8 rounds of (count adjacent symbol pairs
    * over the vocabulary, weighted by corpus word count) → (merge the
    * top pair everywhere) → repeat, emitting the learned merge table
    * (step, x, y, cnt) — exactly what a real tokenizer trainer persists.
    * Scope: words matching ^[a-z]{2,}$ (keeps the symbol alphabet
    * disjoint from the sequence delimiters below).
    *
    * Representation: a word's symbol sequence is the string
    * "(s1)(s2)…(sk)" — each symbol individually wrapped. Merging pair
    * (x, y) is then ONE literal (non-regex) string replace of "(x)(y)"
    * with "(xy)": the wrappers make matches anchor exactly at symbol
    * boundaries (no suffix/prefix false hits), adjacent occurrences
    * share no characters (so both engines' left-to-right non-overlapping
    * replace implements the classic greedy merge — "(e)(e)(e)" merges
    * once), and a replacement can never CREATE a new occurrence of the
    * same pattern. Validated against a hand-rolled reference BPE trainer
    * during development; EdgeSpec pins a planted vocab exercising the
    * left-to-right non-overlap rule, a lexicographic tie, and a
    * multi-character symbol join.
    *
    * Scale shape: all work after the corpus-touching vocab groupBy is
    * VOCAB-bounded (the text_bpe_pairs argument — a 100 TB corpus with a
    * 10 M-word vocabulary pays the corpus scan once; each round is then
    * one explode + one combinable groupBy over vocab rows). The per-round
    * argmax is a 1-row driver collect (the k-means centroid-state
    * pattern: bounded state, 8 rounds = 8 jobs); the vocabulary is
    * localCheckpointed once so round N does not replay the corpus scan.
    * The oracle unrolls the identical 8 rounds as CTEs (the
    * sim_ann_kmeans / graph_sssp discipline). */
  /** The trainer core over a weighted vocabulary (w, wc) of [a-z]{2,}
    * words: `rounds` greedy merges. Returns the learned merge table AND
    * the post-merge vocabulary (seq, wc) — the ENCODED form every word
    * holds after training, which `text_bpe_encode` consumes (a trainer
    * that throws its final vocab away forces the apply pass to re-run
    * all merges). Exposed so specs can drive it with planted corpora. */
  def bpeTrainFull(vocab: DataFrame,
      rounds: Int): (Seq[(Int, String, String, Long)], DataFrame) = {
    var v = vocab
      .select(regexp_replace(col("w"), "(.)", "($1)").as("seq"), col("wc"))
      .localCheckpoint()
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    for (r <- 1 to rounds) {
      val top = v
        .select(col("wc"),
          split(expr("substring(seq, 2, length(seq) - 2)"), "\\)\\(").as("s"))
        .filter(size(col("s")) >= 2)
        .select(col("wc"), explode(expr(
          "transform(sequence(0, size(s) - 2)," +
            " i -> struct(s[i] AS x, s[i + 1] AS y))")).as("p"))
        .groupBy(col("p.x").as("x"), col("p.y").as("y"))
        .agg(sum(col("wc")).as("cnt"))
        .orderBy(col("cnt").desc, col("x"), col("y"))
        .limit(1).collect()
      require(top.nonEmpty,
        s"bpeTrain: vocabulary exhausted at round $r — fewer than " +
          s"$rounds merges exist (oracle would diverge; lower rounds)")
      val (x, y, cnt) =
        (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
      merges += ((r, x, y, cnt))
      // symbols are [a-z]+ by construction — safe inside SQL literals
      v = v.select(
        expr(s"replace(seq, '($x)($y)', '($x$y)')").as("seq"), col("wc"))
    }
    (merges.result(), v)
  }

  /** Merge-table-only form (planted-corpus specs). */
  def bpeTrain(vocab: DataFrame, rounds: Int): Seq[(Int, String, String, Long)] =
    bpeTrainFull(vocab, rounds)._1

  /** One corpus-vocabulary BPE training per (session, sfDir), shared by
    * `text_bpe_merge` (consumes the merge table) and `text_bpe_encode`
    * (consumes the trained vocabulary): training is deterministic, so
    * sharing cannot move a hash, and the 8 driver-collect rounds run
    * once instead of once per consumer. */
  private def cachedBpe(s: SparkSession,
      d: String): (Seq[(Int, String, String, Long)], DataFrame) =
    Memo.once(s, d, "text_analysis.bpe") {
      val vocab = Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(col("w").rlike("^[a-z]{2,}$"))
        .groupBy("w").agg(count(lit(1)).as("wc"))
      val (merges, vfinal) = bpeTrainFull(vocab, BpeRounds)
      (merges, vfinal.localCheckpoint())
    }

  val textBpeMerge = QueryDef(
    "text_bpe_merge",
    s"""WITH w AS (
       |  SELECT unnest(string_split(text, ' ')) AS w FROM documents
       |), v0 AS (
       |  SELECT regexp_replace(w, '(.)', '(\\1)', 'g') AS seq, count(*) AS wc
       |  FROM w WHERE regexp_full_match(w, '[a-z]{2,}') GROUP BY w
       |),
       |${(1 to BpeRounds).map(bpeRoundCte).mkString(",\n")}
       |${(1 to BpeRounds).map(r =>
            s"SELECT CAST($r AS INT) AS step, x, y, cnt FROM t$r")
            .mkString("\nUNION ALL ")}
       |ORDER BY step""".stripMargin) { (s, d) =>
    import s.implicits._
    cachedBpe(s, d)._1.toDF("step", "x", "y", "cnt")
  }

  /** BPE ENCODING — the apply half of the tokenizer lineage
    * (`text_bpe_pairs` = one round's statistic, `text_bpe_merge` = the
    * training loop, THIS = the trained tokenizer applied to the corpus):
    * per language, how many tokens the corpus costs under the learned
    * 8-merge vocabulary vs its character count — the tokens-per-char
    * compression report every tokenizer evaluation runs. The word is
    * recovered from the trained sequence by stripping the wrappers
    * (symbols concatenate back to the word — no side channel), so the
    * encoded vocabulary (w, n_sym) is a dictionary the corpus word
    * stream pays ONE join against (the text_lm_score dictionary shape);
    * everything after is combinable integer sums + one exact micro
    * ratio. Out-of-scope words (non-[a-z]{2,}) are not encodable by
    * this vocabulary and drop at the join — in scope both engines. */
  val textBpeEncode = QueryDef(
    "text_bpe_encode",
    s"""WITH w AS (
       |  SELECT unnest(string_split(text, ' ')) AS w FROM documents
       |), v0 AS (
       |  SELECT regexp_replace(w, '(.)', '(\\1)', 'g') AS seq, count(*) AS wc
       |  FROM w WHERE regexp_full_match(w, '[a-z]{2,}') GROUP BY w
       |),
       |${(1 to BpeRounds).map(bpeRoundCte).mkString(",\n")},
       |enc AS (
       |  SELECT translate(seq, '()', '') AS w,
       |         CAST(len(string_split(substr(seq, 2, length(seq) - 2), ')(')) AS BIGINT) AS n_sym
       |  FROM v$BpeRounds
       |), tok AS (
       |  SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents
       |)
       |SELECT t.lang, CAST(count(*) AS BIGINT) AS n_words,
       |       CAST(sum(length(t.w)) AS BIGINT) AS sum_chars,
       |       CAST(sum(e.n_sym) AS BIGINT) AS sum_tokens,
       |       CAST((1000000 * sum(e.n_sym)) // sum(length(t.w)) AS BIGINT)
       |         AS tok_per_char_micro
       |FROM tok t JOIN enc e ON t.w = e.w
       |GROUP BY t.lang ORDER BY t.lang""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val vfinal = cachedBpe(s, d)._2
    val enc = vfinal.select(
      translate(col("seq"), "()", "").as("w"),
      size(split(expr("substring(seq, 2, length(seq) - 2)"), "\\)\\("))
        .cast("long").as("n_sym"))
    docs.select(col("lang"), explode(split(col("text"), " ")).as("w"))
      .join(enc, "w")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("w"))).as("sum_chars"),
        sum(col("n_sym")).as("sum_tokens"),
        expr("(1000000L * sum(n_sym)) div sum(length(w))")
          .as("tok_per_char_micro"))
      .orderBy("lang")
  }

  /** The corpus bigram LM: the bigram stream (doc_id, carried columns,
    * w1, w2) and its dictionary (w1, w2, micro), micro = count(w1 w2) ·
    * 10⁶ div count(w1 ·) in exact integers. */
  def bigramLm(docs: DataFrame, carry: String*): (DataFrame, DataFrame) = {
    val keep = ("doc_id" +: carry).map(col)
    val bg = docs.select(keep :+ split(col("text"), " ").as("toks"): _*)
      .filter(size(col("toks")) >= 2)
      .select(keep :+ explode(expr(
        "transform(sequence(0, size(toks) - 2)," +
          " i -> struct(toks[i] AS w1, toks[i + 1] AS w2))")).as("b"): _*)
      .select(keep ++ Seq(col("b.w1").as("w1"), col("b.w2").as("w2")): _*)
    val uc = bg.groupBy("w1").agg(count(lit(1)).as("ucnt"))
    val dict = bg.groupBy("w1", "w2").agg(count(lit(1)).as("bcnt"))
      .join(uc, "w1")
      .select(col("w1"), col("w2"), expr("bcnt * 1000000L div ucnt").as("micro"))
    (bg, dict)
  }

  /** DuckDB twin of `bigramLm`, carrying `carry` (if any) beside doc_id:
    * `pos`, the bigram stream `bg`, its counts `bc`/`uc` and `dict`. */
  def bigramLmCte(carry: String = ""): String = {
    val w = "toks[CAST(i AS INT)] AS w1, toks[CAST(i AS INT) + 1] AS w2"
    val (c, bgSelect) =
      if (carry.isEmpty) ("", s"doc_id, $w") else (s"$carry, ", s"doc_id, $carry,\n    $w")
    s"""WITH pos AS (
       |  SELECT doc_id, ${c}string_split(text, ' ') AS toks FROM documents
       |), bg AS (
       |  SELECT $bgSelect
       |  FROM pos, unnest(generate_series(1, len(toks) - 1)) AS t(i)
       |  WHERE len(toks) >= 2
       |), bc AS (
       |  SELECT w1, w2, count(*) AS bcnt FROM bg GROUP BY 1, 2
       |), uc AS (
       |  SELECT w1, count(*) AS ucnt FROM bg GROUP BY 1
       |), dict AS (
       |  SELECT bc.w1, bc.w2, bcnt * 1000000 // ucnt AS micro
       |  FROM bc JOIN uc ON bc.w1 = uc.w1
       |)""".stripMargin
  }

  /** Bigram language-model scoring — the perplexity-filter analog that
    * keeps every arithmetic step exact: train bigram/left-unigram counts
    * on the corpus itself, score each document by its mean and minimum
    * conditional transition probability P(w2|w1) = B(w1,w2)/U(w1), and
    * surface the 25 least-predictable documents (the quality-filter drop
    * candidates).
    *
    * Determinism (§2.9): probabilities never exist as doubles — each
    * bigram's conditional is the exact integer micro-probability
    * `B·10⁶ div U` (B ≤ U so it lives in [0, 10⁶]), per-doc mean is
    * another integer floor division, and selection/order ride
    * (avg_micro, doc_id) — all BIGINT on both engines.
    *
    * Scale shape: the count tables are vocabulary-bounded (U) and
    * bigram-vocabulary-bounded (B) — the dictionary a cluster broadcasts
    * or bucket-joins (tfidf discipline); they merge into ONE dictionary
    * before touching the corpus, so the corpus-sized bigram stream pays
    * exactly one join plus its doc_id rollup. Every aggregation is
    * combinable; nothing driver-side.
    */
  val textLmScore = QueryDef(
    "text_lm_score",
    s"""${bigramLmCte()}
       |SELECT bg.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |       CAST(sum(micro) // count(*) AS BIGINT) AS avg_micro,
      |       CAST(min(micro) AS BIGINT) AS min_micro
      |FROM bg JOIN dict ON bg.w1 = dict.w1 AND bg.w2 = dict.w2
      |GROUP BY bg.doc_id ORDER BY avg_micro ASC, doc_id LIMIT 25""".stripMargin) {
    (s, d) =>
      val (bg, dict) = bigramLm(Tables.documents(s, d))
      bg.join(dict, Seq("w1", "w2"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          expr("sum(micro) div count(1)").as("avg_micro"),
          min(col("micro")).as("min_micro"))
        .orderBy(col("avg_micro").asc, col("doc_id"))
        .limit(25)
  }

  /** Category-blocklist filter report — the safety/compliance pass every
    * curation pipeline runs beside `text_pii_scrub` (that key REDACTS;
    * this one SCORES against term lists and flags documents for drop):
    * token-exact hits per category via a BROADCAST dictionary join (the
    * scalable form — a real blocklist is 10⁴-10⁶ terms, far past regex
    * alternation limits, and the tokens side never shuffles), per-doc
    * category counts as one combinable conditional aggregate, a
    * threshold verdict, and a per-language rollup with both branches
    * live at every SF. All-integer. */
  val textBlocklist = QueryDef(
    "text_blocklist",
    """WITH bl(w, cat) AS (
      |  VALUES ('spark','code'),('hash','code'),('merge','code'),
      |         ('table','db'),('row','db'),('window','db')
      |), tok AS (
      |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
      |  FROM documents
      |), hits AS (
      |  SELECT t.doc_id, t.lang,
      |         sum(CASE WHEN b.cat = 'code' THEN 1 ELSE 0 END) AS code_hits,
      |         sum(CASE WHEN b.cat = 'db' THEN 1 ELSE 0 END) AS db_hits
      |  FROM tok t LEFT JOIN bl b ON t.w = b.w
      |  GROUP BY t.doc_id, t.lang
      |), v AS (
      |  SELECT lang, code_hits, db_hits,
      |         (code_hits >= 3 OR code_hits + db_hits >= 8) AS flagged
      |  FROM hits
      |)
      |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(CASE WHEN flagged THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_flagged,
      |       CAST(sum(code_hits) AS BIGINT) AS sum_code,
      |       CAST(sum(db_hits) AS BIGINT) AS sum_db
      |FROM v GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
    import s.implicits._
    val bl = Seq(("spark", "code"), ("hash", "code"), ("merge", "code"),
      ("table", "db"), ("row", "db"), ("window", "db")).toDF("w", "cat")
    val hits = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("w"))
      .join(broadcast(bl), Seq("w"), "left")
      .groupBy("doc_id", "lang")
      .agg(sum(when(col("cat") === "code", 1L).otherwise(0L)).as("code_hits"),
        sum(when(col("cat") === "db", 1L).otherwise(0L)).as("db_hits"))
    hits
      .withColumn("flagged",
        col("code_hits") >= 3 || col("code_hits") + col("db_hits") >= 8)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("flagged"), 1L).otherwise(0L)).as("n_flagged"),
        sum(col("code_hits")).as("sum_code"),
        sum(col("db_hits")).as("sum_db"))
      .orderBy("lang")
  }

  /** Temperature-scaled mixture sampling (T = 2, i.e. weights ∝ √n) —
    * the multilingual-corpus balancing rule (low-resource languages
    * upweighted relative to their share) that `sample_mix`'s FIXED
    * weights can't express: here the weight comes from the data itself.
    * Exactness hinges on √: isqrt_l = floor(√n_l) is exact in BOTH
    * engines because IEEE sqrt is correctly rounded (the only double in
    * the pipeline, consumed immediately by floor on a value whose
    * correctly-rounded form is never on the wrong side of an integer for
    * n < 2^52); the per-language BUDGET is then the pure integer share
    * B·isqrt_l div Σ isqrt of a fixed 120-doc budget, the per-doc keep
    * THRESHOLD divides it by the language's population (rate ∝ 1/√n —
    * low-resource languages keep at a HIGHER rate, the whole point of
    * temperature sampling), and membership is the md5 keep rule
    * (sample_split discipline: no rand(), retry-safe, one scan). Two
    * keyed shuffles on `lang` at any corpus size. */
  val sampleTemperature = QueryDef(
    "sample_temperature",
    """WITH counts AS (
      |  SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents
      |  GROUP BY lang
      |), iq AS (
      |  SELECT lang, n, CAST(floor(sqrt(n)) AS BIGINT) AS isq FROM counts
      |), tot AS (
      |  SELECT sum(isq) AS s FROM iq
      |), thr AS (
      |  SELECT lang, n, isq,
      |         (isq * 120 * 4294967296) // (n * s) AS t FROM iq, tot
      |), k AS (
      |  SELECT d.lang, thr.t, thr.isq,
      |         CAST('0x' || substr(md5('temp:' || CAST(doc_id AS VARCHAR)),
      |           1, 8) AS BIGINT) < thr.t AS keep
      |  FROM documents d JOIN thr ON d.lang = thr.lang
      |)
      |SELECT lang, CAST(min(isq) AS BIGINT) AS isqrt_n,
      |       CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      |FROM k GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val iq = docs.groupBy("lang").agg(count(lit(1)).as("n"))
      .select(col("lang"), col("n"),
        floor(sqrt(col("n"))).cast("long").as("isq"))
    val tot = iq.agg(sum(col("isq")).as("s"))
    val thr = iq.crossJoin(broadcast(tot))
      .select(col("lang"), col("isq"),
        expr("(isq * 120 * 4294967296L) div (n * s)").as("t"))
    val h = conv(substring(md5(concat(lit("temp:"),
      col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long")
    docs.join(broadcast(thr), "lang")
      .withColumn("keep", h < col("t"))
      .groupBy("lang")
      .agg(min(col("isq")).as("isqrt_n"),
        count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))
      .orderBy("lang")
  }

  /** POISSONIZED BOOTSTRAP over the corpus — the one-pass scalable form
    * of the bootstrap CI (the exact multinomial resample couples every
    * row globally and cannot fan out; drawing each row's replica count
    * i.i.d. Poisson(1) decouples rows and is the standard streaming/
    * map-reduce bootstrap): 32 replicas, each row's count c ∈ 0..5
    * derived from a 40-bit md5 draw against FIXED integer thresholds —
    * the Poisson(1) CDF in 2⁴⁰ units, truncated at 5 (mass 8·10⁻⁴
    * folded into the tail cap), so the draw is the sample_split md5
    * discipline (deterministic, retry-safe, no rand()) and every count
    * is an exact integer both engines recompute. Per replica: effective
    * n, the n_chars sum, and the mean in exact integer micro-units —
    * the spread across the 32 replica means IS the bootstrap CI of mean
    * doc length. One corpus pass with a 32-way generator fan-out and a
    * 32-group combinable sum — no resample materializes, nothing on the
    * driver. */
  val sampleBootstrap = QueryDef(
    "sample_bootstrap",
    """WITH d AS (
      |  SELECT doc_id, n_chars, unnest(generate_series(0, 31)) AS r
      |  FROM documents
      |), u AS (
      |  SELECT r, n_chars,
      |    CAST('0x' || substr(md5('bs:' || CAST(doc_id AS VARCHAR) || ':' ||
      |      CAST(r AS VARCHAR)), 1, 10) AS BIGINT) AS u
      |  FROM d
      |), c AS (
      |  SELECT r, n_chars,
      |    (CASE WHEN u >= 404487723187 THEN 1 ELSE 0 END) +
      |    (CASE WHEN u >= 808975446375 THEN 1 ELSE 0 END) +
      |    (CASE WHEN u >= 1011219307969 THEN 1 ELSE 0 END) +
      |    (CASE WHEN u >= 1078633928500 THEN 1 ELSE 0 END) +
      |    (CASE WHEN u >= 1095487583633 THEN 1 ELSE 0 END) AS c
      |  FROM u
      |)
      |SELECT CAST(r AS INTEGER) AS replica,
      |       CAST(sum(c) AS BIGINT) AS n_eff,
      |       CAST(sum(c * n_chars) AS BIGINT) AS sum_chars,
      |       CAST((sum(c * n_chars) * 1000000) // NULLIF(sum(c), 0) AS BIGINT)
      |         AS mean_micro
      |FROM c GROUP BY r ORDER BY replica""".stripMargin) { (s, d) =>
    val u = conv(substring(md5(concat(lit("bs:"), col("doc_id").cast("string"),
      lit(":"), col("r").cast("string"))), 1, 10), 16, 10).cast("long")
    val cdf = Seq(404487723187L, 808975446375L, 1011219307969L,
      1078633928500L, 1095487583633L)
    val cExpr = cdf.map(t => when(col("u") >= t, 1L).otherwise(0L))
      .reduce(_ + _)
    Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"),
        explode(sequence(lit(0), lit(31))).as("r"))
      .select(col("r"), col("n_chars"), u.as("u"))
      .select(col("r"), col("n_chars"), cExpr.as("c"))
      .groupBy("r")
      .agg(sum(col("c")).as("n_eff"),
        sum(col("c") * col("n_chars")).as("sum_chars"),
        expr("CAST((sum(c * n_chars) * 1000000) div NULLIF(sum(c), 0) AS BIGINT)")
          .as("mean_micro"))
      .select(col("r").cast("int").as("replica"), col("n_eff"),
        col("sum_chars"), col("mean_micro"))
      .orderBy("replica")
  }

  /** Fixed-SIZE deterministic sample per stratum — the bottom-k-by-hash
    * companion to the fixed-RATE samplers (split/stratified keep a hash
    * fraction; THIS keeps exactly k per language): rank docs inside each
    * language by md5(text ‖ doc_id) — a uniform, rerun-stable priority,
    * doc_id appended so the sf0.1 duplicate texts still get distinct
    * priorities — and keep row_number ≤ k. This is the classic bottom-k
    * / priority-sample construction: the k smallest hashes of any stream
    * are a uniform without-replacement sample, and two nodes' bottom-k
    * sets MERGE by taking the bottom-k of the union (how a 1000-executor
    * sample coordinates without a shuffle of everything: Spark's
    * WindowGroupLimit pushes the rank filter to a per-partition top-k
    * heap BEFORE the exchange, so only ≤k rows per partition per
    * language travel). */
  val sampleBottomk = QueryDef(
    "sample_bottomk",
    """WITH p AS (
      |  SELECT lang, doc_id, md5(text || CAST(doc_id AS VARCHAR)) AS pri
      |  FROM documents
      |), r AS (
      |  SELECT lang, doc_id, pri,
      |         row_number() OVER (PARTITION BY lang ORDER BY pri, doc_id) AS rk
      |  FROM p
      |)
      |SELECT lang, CAST(rk AS INT) AS rk, doc_id, pri
      |FROM r WHERE rk <= 5
      |ORDER BY lang, rk""".stripMargin) { (s, d) =>
    val pri = Tables.documents(s, d)
      .select(col("lang"), col("doc_id"),
        md5(concat(col("text"), col("doc_id").cast("string")).cast("binary"))
          .as("pri"))
    pri
      .withColumn("rk",
        row_number().over(Window.partitionBy("lang").orderBy("pri", "doc_id")))
      .filter(col("rk") <= 5)
      .select(col("lang"), col("rk"), col("doc_id"), col("pri"))
      .orderBy("lang", "rk")
  }

  /** Per-document keyword extraction — top-3 tokens by tf × quantized
    * idf. `text_tfidf` emits the score; THIS ranks by it, and ranking is
    * where cross-engine doubles bite: two candidates within an ulp of
    * ln() would make the top-3 slice engine-dependent. So the RANKING
    * score is exact-integer: idf quantized to the power-of-two bucket of
    * the document frequency via bit length (33 − length(bin(df)) — both
    * engines' `bin` is exact), score = tf · bucket, ties by token ASC —
    * a total integer order, the §2.9 discipline applied to ranking
    * (real retrieval stacks quantize scores for exactly this stability
    * reason). Two keyed shuffles (token for df, doc for the top-3) and
    * the rank filter gets the same two-phase WindowGroupLimit push as
    * sample_bottomk — ≤3 rows per partition per doc travel. */
  val textKeywords = QueryDef(
    "text_keywords",
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
      |), tf AS (
      |  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
      |  FROM tok GROUP BY doc_id, token
      |), dfx AS (
      |  SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY token
      |), sc AS (
      |  SELECT doc_id, token, tf, df,
      |         tf * (33 - length(bin(df))) AS score
      |  FROM tf JOIN dfx USING (token)
      |), rk AS (
      |  SELECT doc_id, token, tf, df, score,
      |         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, token) AS rnk
      |  FROM sc WHERE doc_id % 7 = 0
      |)
      |SELECT doc_id, CAST(rnk AS INT) AS rnk, token, tf, df, score
      |FROM rk WHERE rnk <= 3
      |ORDER BY doc_id, rnk""".stripMargin) { (s, d) =>
    keywordsTopK(Tables.documents(s, d), col("doc_id") % 7 === 0, k = 3)
      .orderBy("doc_id", "rnk")
  }

  /** The text_keywords kernel: top-k tokens by tf × power-of-two-
    * quantized idf for the docs matching `keepPred`, with document
    * frequencies from the WHOLE corpus (the subset must not shift
    * everyone's idf — keepPred applies after the df window). Split out
    * so EdgeSpec can plant score ties. */
  def keywordsTopK(corpus: DataFrame, keepPred: Column, k: Int): DataFrame = {
    val tf = corpus
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val sc = tf
      .withColumn("df", count(lit(1)).over(Window.partitionBy("token")))
      .filter(keepPred)
      .withColumn("score", col("tf") * (lit(33) - length(bin(col("df")))))
    sc.withColumn("rnk", row_number()
        .over(Window.partitionBy("doc_id").orderBy(col("score").desc, col("token"))))
      .filter(col("rnk") <= k)
      .select("doc_id", "rnk", "token", "tf", "df", "score")
  }

  /** Gopher-style RULE-SET document filter (Rae et al. 2021's repetition
    * / length / stop-word heuristics, adapted so every rule has both
    * branches live on this corpus): per-document booleans for five
    * published-filter rules plus the conjunction. Unlike `text_quality`
    * (one blended score), the rule report keeps each signal auditable —
    * the form production filters actually ship, because a corpus owner
    * needs to know WHICH rule fired before tuning it. Every test is
    * exact INTEGER arithmetic (ratio thresholds cross-multiplied:
    * mean-word-length ∈ [3.6, 4.4] becomes 10·cw between 36·nw and
    * 44·nw), so no float ever forms and the hash is trivially stable.
    *
    * Plan: one explode to (doc, token) counts, then ONE combinable
    * per-doc aggregate carrying all five statistics (total/distinct/max
    * frequency/char mass/stop-word mass ride the same shuffle) — linear
    * in corpus tokens, the dedup_exact scan shape, unchanged at 100 TB. */
  /** Shared DuckDB fragments for the Gopher rule statistics — used by
    * the text_gopher_rules oracle AND pipeline_dataset_card's keep_pct
    * (the langidScoreColsSql convention: one source of truth so a
    * threshold tune cannot silently diverge the two oracles). Starts
    * mid-WITH; callers open the WITH. */
  private[ops] val gopherStatsCteSql: String =
    """toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
      |), pt AS (
      |  SELECT doc_id, tok, count(*) AS cnt FROM toks GROUP BY doc_id, tok
      |), pd AS (
      |  SELECT doc_id,
      |    CAST(sum(cnt) AS BIGINT) AS nw,
      |    CAST(sum(length(tok) * cnt) AS BIGINT) AS cw,
      |    CAST(count(*) AS BIGINT) AS nd,
      |    CAST(max(cnt) AS BIGINT) AS maxf,
      |    CAST(sum(CASE WHEN tok IN ('the','a','to','of','and','in','is','on')
      |             THEN cnt ELSE 0 END) AS BIGINT) AS n_stop
      |  FROM pt GROUP BY doc_id
      |)""".stripMargin
  /** Same stats CTE over an arbitrary (doc_id, text) relation name —
    * the Functions.distinctShingleCte convention. Starts mid-WITH. */
  private[ops] def gopherStatsCteOver(rel: String): String =
    gopherStatsCteSql.replace("FROM documents", s"FROM $rel")

  private[ops] val gopherKeepSql: String =
    """(nw BETWEEN 30 AND 90 AND 10 * cw BETWEEN 36 * nw AND 44 * nw
      |   AND n_stop >= 2 AND 2 * nd >= nw AND 10 * maxf <= nw)""".stripMargin

  val textGopherRules = QueryDef(
    "text_gopher_rules",
    s"""WITH $gopherStatsCteSql
      |SELECT doc_id, nw AS n_words,
      |  nw BETWEEN 30 AND 90 AS word_count_ok,
      |  10 * cw BETWEEN 36 * nw AND 44 * nw AS mean_len_ok,
      |  n_stop >= 2 AS stopword_ok,
      |  2 * nd >= nw AS ttr_ok,
      |  10 * maxf <= nw AS rep_ok,
      |  $gopherKeepSql AS keep
      |FROM pd ORDER BY doc_id""".stripMargin) { (s, d) =>
    gopherRules(Tables.documents(s, d)).orderBy("doc_id")
  }

  /** Per-doc token stats (nw, cw, nd, maxf, n_stop) — the shared input
    * of the gopher rule report and pipeline_pretrain's quality stage. */
  def gopherStats(docs: DataFrame): DataFrame = {
    val stopSet = Seq("the", "a", "to", "of", "and", "in", "is", "on")
    val pt = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("cnt"))
    pt.groupBy("doc_id").agg(
      sum(col("cnt")).as("nw"),
      sum(length(col("tok")) * col("cnt")).as("cw"),
      count(lit(1)).as("nd"),
      max(col("cnt")).as("maxf"),
      sum(when(col("tok").isInCollection(stopSet), col("cnt")).otherwise(0L))
        .as("n_stop"))
  }

  /** The rule-report kernel over a (doc_id, text) relation — split out so
    * EdgeSpec can fire each rule on planted documents. */
  def gopherRules(docs: DataFrame): DataFrame = {
    val pd = gopherStats(docs)
    val wordCountOk = col("nw").between(30, 90)
    val meanLenOk = (lit(10) * col("cw")).between(lit(36) * col("nw"), lit(44) * col("nw"))
    val stopwordOk = col("n_stop") >= 2
    val ttrOk = lit(2) * col("nd") >= col("nw")
    val repOk = lit(10) * col("maxf") <= col("nw")
    pd.select(col("doc_id"), col("nw").as("n_words"),
      wordCountOk.as("word_count_ok"), meanLenOk.as("mean_len_ok"),
      stopwordOk.as("stopword_ok"), ttrOk.as("ttr_ok"), repOk.as("rep_ok"),
      (wordCountOk && meanLenOk && stopwordOk && ttrOk && repOk).as("keep"))
  }

  /** GROUP-AWARE train/val split with a gated LEAKAGE CERTIFICATE — the
    * splitter a dedup-aware corpus actually needs: `sample_split` hashes
    * per document, so near-identical documents from one source can (and
    * do) straddle the train/val boundary and leak; hashing the GROUP key
    * (source) sends every document of a group to the same side. The
    * relation gates both methods side by side — per method, train/val
    * doc counts and the number of straddling groups — so the hash
    * certifies the property itself: group_hash rows must show 0
    * straddlers while doc_hash shows ~every group straddling. Subset
    * membership stays a pure row function (md5, no rand() — the
    * hashSplit discipline); one source-keyed combinable aggregate + a
    * two-row rollup, no shuffle beyond the group key at any scale. */
  val sampleGroupSplit = QueryDef(
    "sample_group_split",
    """WITH d AS (
      |  SELECT doc_id, source,
      |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'b'
      |      THEN 'train' ELSE 'val' END AS doc_subset,
      |    CASE WHEN substr(md5(source), 1, 1) <= 'b'
      |      THEN 'train' ELSE 'val' END AS grp_subset
      |  FROM documents
      |), per_src AS (
      |  SELECT source,
      |    count(DISTINCT doc_subset) AS ds,
      |    count(DISTINCT grp_subset) AS gs,
      |    sum(CASE WHEN doc_subset = 'train' THEN 1 ELSE 0 END) AS doc_train,
      |    sum(CASE WHEN grp_subset = 'train' THEN 1 ELSE 0 END) AS grp_train,
      |    count(*) AS n
      |  FROM d GROUP BY source
      |)
      |SELECT method, n_train, n_val, n_straddling_groups FROM (
      |  SELECT 'doc_hash' AS method,
      |    CAST(sum(doc_train) AS BIGINT) AS n_train,
      |    CAST(sum(n - doc_train) AS BIGINT) AS n_val,
      |    CAST(sum(CASE WHEN ds = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_straddling_groups
      |  FROM per_src
      |  UNION ALL
      |  SELECT 'group_hash',
      |    CAST(sum(grp_train) AS BIGINT), CAST(sum(n - grp_train) AS BIGINT),
      |    CAST(sum(CASE WHEN gs = 2 THEN 1 ELSE 0 END) AS BIGINT)
      |  FROM per_src
      |) ORDER BY method""".stripMargin) { (s, d) =>
    val dd = Tables.documents(s, d).select(col("doc_id"), col("source"),
      when(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 1) <= "b",
        "train").otherwise("val").as("doc_subset"),
      when(substring(md5(col("source").cast("binary")), 1, 1) <= "b",
        "train").otherwise("val").as("grp_subset"))
    val perSrc = dd.groupBy("source").agg(
      countDistinct(col("doc_subset")).as("ds"),
      countDistinct(col("grp_subset")).as("gs"),
      sum(when(col("doc_subset") === "train", 1L).otherwise(0L)).as("doc_train"),
      sum(when(col("grp_subset") === "train", 1L).otherwise(0L)).as("grp_train"),
      count(lit(1)).as("n"))
    val docRow = perSrc.agg(
      sum(col("doc_train")).as("n_train"),
      sum(col("n") - col("doc_train")).as("n_val"),
      sum(when(col("ds") === 2, 1L).otherwise(0L)).as("n_straddling_groups"))
      .select(lit("doc_hash").as("method"), col("n_train"), col("n_val"),
        col("n_straddling_groups"))
    val grpRow = perSrc.agg(
      sum(col("grp_train")).as("n_train"),
      sum(col("n") - col("grp_train")).as("n_val"),
      sum(when(col("gs") === 2, 1L).otherwise(0L)).as("n_straddling_groups"))
      .select(lit("group_hash").as("method"), col("n_train"), col("n_val"),
        col("n_straddling_groups"))
    docRow.unionByName(grpRow).orderBy("method")
  }

  /** K-FOLD assignment — the cross-validation completion of the split
    * family (`sample_split` is one holdout; k-fold gives every doc
    * exactly one validation turn): fold = first md5 byte of
    * "fold:doc_id" mod 5, a pure row function (hashSplit discipline —
    * no rand(), partitioning/rerun/engine invariant), and the gated
    * report carries per fold both sides of the rotation — validation
    * size/token mass and the complementary train size — plus the
    * conservation row making "every doc in exactly one fold" a hashed
    * fact (Σ n_val = corpus). One scan + one 5-group combinable
    * aggregate + a broadcast totals join. */
  val sampleKfold = QueryDef(
    "sample_kfold",
    """WITH f AS (
      |  SELECT doc_id,
      |    CAST('0x' || substr(md5('fold:' || CAST(doc_id AS VARCHAR)), 1, 2) AS INTEGER) % 5 AS fold,
      |    len(string_split(text, ' ')) AS nw
      |  FROM documents
      |), per AS (
      |  SELECT fold, CAST(count(*) AS BIGINT) AS n_val,
      |         CAST(sum(nw) AS BIGINT) AS n_tokens_val
      |  FROM f GROUP BY fold
      |), tot AS (
      |  SELECT CAST(sum(n_val) AS BIGINT) AS n_total FROM per
      |)
      |SELECT CAST(fold AS BIGINT) AS fold, n_val,
      |       CAST(n_total - n_val AS BIGINT) AS n_train, n_tokens_val
      |FROM per, tot ORDER BY fold""".stripMargin) { (s, d) =>
    val f = Tables.documents(s, d)
      .select(col("doc_id"),
        (conv(substring(md5(concat(lit("fold:"), col("doc_id").cast("string"))
          .cast("binary")), 1, 2), 16, 10).cast("int") % 5).as("fold"),
        size(split(col("text"), " ")).cast("long").as("nw"))
    val per = f.groupBy("fold")
      .agg(count(lit(1)).as("n_val"), sum(col("nw")).as("n_tokens_val"))
    val tot = per.agg(sum(col("n_val")).as("n_total"))
    per.crossJoin(broadcast(tot))
      .select(col("fold").cast("long").as("fold"), col("n_val"),
        (col("n_total") - col("n_val")).as("n_train"), col("n_tokens_val"))
      .orderBy("fold")
  }

  /** FULL PRETRAINING-CORPUS RECIPE as one hashed relation — the modern
    * pipeline end-to-end (strip markup → language ID → quality rules →
    * exact dedup → MinHash near-dedup → benchmark decontamination →
    * temperature mix → sequence packing → TFRecord export round-trip),
    * gated as a stage FUNNEL: one row per stage with surviving doc and
    * token counts plus a stage-specific aux metric (tags stripped, dup
    * pairs found, pack bins, export shards). 275 operators are proven
    * individually; this key proves the COMPOSITION — any stage
    * regression moves its row and every row downstream.
    *
    * Corpus: the documents table plus planted dirt the clean fixture
    * lacks (the text_dedup_url / plantNearDups convention): exact
    * copies of every doc_id % 41 == 0 doc (+1e6 ids) and near copies
    * (3 appended tokens, +2e6 ids) of every doc_id % 43 == 0 doc, then
    * per-label marker injection (langidInject) so the language label
    * is recoverable-but-contested. Each planted pathology is caught by
    * exactly the stage built for it: injection → langid filter
    * (predicted == label), exact copies → the content-hash keeper,
    * near copies → the MinHash/Jaccard pass.
    *
    * Quality stage uses the RELAXED production profile of the gopher
    * stats (nw 10–200, mean len 3–6, ≥1 stopword, nd·4 ≥ nw,
    * maxf·5 ≤ nw — ~90% keep on this corpus at every SF); the strict
    * research thresholds stay gated by `text_gopher_rules`.
    *
    * Scale/plan notes: stage outputs are materialized
    * (localCheckpoint here; landed tables at 100 TB — the Landed
    * discipline), so each stage's work runs ONCE. Per stage: strip +
    * langid are scan-local expressions (no shuffle); quality is 2
    * keyed shuffles (token, doc) of a 3-column projection; exact dedup
    * 1 shuffle (hash groupBy); MinHash is the banded (band, h)-keyed
    * candidate join (never all-pairs); decontamination is a broadcast
    * anti-join (the benchmark set is small by construction); the mix
    * is 1 lang-keyed shuffle + a broadcast threshold; packing is
    * per-bucket windows (never a global prefix sum); export is the
    * executor-owned TFRecord shard sink. Planting reads the projected
    * table once (checkpointed before the 3-branch union). */
  val pipelinePretrain = QueryDef(
    "pipeline_pretrain",
    s"""WITH pl0 AS (
       |  SELECT doc_id, lang, text FROM documents
       |), pl1 AS (
       |  SELECT doc_id, lang, text FROM pl0
       |  UNION ALL
       |  SELECT doc_id + 1000000, lang, text FROM pl0 WHERE doc_id % 41 = 0
       |  UNION ALL
       |  SELECT doc_id + 2000000, lang, text || ' pad pad pad' FROM pl0
       |  WHERE doc_id % 43 = 0
       |), inj AS (
       |  SELECT doc_id, lang, $langidInjectSql AS text FROM pl1
       |), pp0 AS (
       |  SELECT doc_id, lang,
       |    '<html><body><p class="doc">' || text || '</p><br/></body></html>' AS html
       |  FROM inj
       |), ppt AS (
       |  SELECT doc_id, lang,
       |    trim(regexp_replace(regexp_replace(html, '<[^>]+>', ' ', 'g'),
       |      '\\s+', ' ', 'g')) AS text,
       |    CAST(len(regexp_extract_all(html, '<[^>]+>')) AS BIGINT) AS n_tags
       |  FROM pp0
       |), pq AS (
       |  SELECT doc_id, lang, text, n_tags,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
       |    md5(text) AS h
       |  FROM ppt
       |), sc AS (
       |  SELECT doc_id, lang, $langidScoreColsSql
       |  FROM pq
       |), en AS (
       |  SELECT pq.* FROM pq JOIN (
       |    SELECT doc_id FROM (SELECT doc_id, lang, $langidPredSql AS pl FROM sc)
       |    WHERE pl = lang) m USING (doc_id)
       |),
       |${gopherStatsCteOver("en")},
       |gk AS (
       |  SELECT doc_id FROM pd
       |  WHERE nw BETWEEN 10 AND 200 AND 10 * cw BETWEEN 30 * nw AND 60 * nw
       |    AND n_stop >= 1 AND 4 * nd >= nw AND 5 * maxf <= nw
       |), gs AS (
       |  SELECT en.* FROM en JOIN gk USING (doc_id)
       |), ek AS (
       |  SELECT h, min(doc_id) AS doc_id FROM gs GROUP BY h
       |), ex AS (
       |  SELECT gs.* FROM gs JOIN ek USING (h, doc_id)
       |),
       |${Text.shingleStatsCte("ex")}, prs AS (
       |${Text.jaccardPairsSql}
       |), ndp AS (
       |  SELECT ex.* FROM ex WHERE doc_id NOT IN (SELECT j FROM prs)
       |), bench AS (
       |  SELECT DISTINCT h FROM pq WHERE doc_id % 97 = 0
       |), dc AS (
       |  SELECT ndp.* FROM ndp
       |  WHERE NOT EXISTS (SELECT 1 FROM bench b WHERE b.h = ndp.h)
       |), cnts AS (
       |  SELECT lang, CAST(count(*) AS BIGINT) AS n FROM dc GROUP BY lang
       |), iq AS (
       |  SELECT lang, n, CAST(floor(sqrt(n)) AS BIGINT) AS isq FROM cnts
       |), tt AS (
       |  SELECT sum(isq) AS s FROM iq
       |), thr AS (
       |  SELECT lang, (isq * 120 * 4294967296) // (n * s) AS t FROM iq, tt
       |), mx AS (
       |  SELECT dc.* FROM dc JOIN thr USING (lang)
       |  WHERE CAST('0x' || substr(md5('temp:' || CAST(doc_id AS VARCHAR)),
       |    1, 8) AS BIGINT) < thr.t
       |), pkc AS (
       |  SELECT doc_id % 32 AS bucket, n_toks,
       |    sum(n_toks) OVER (PARTITION BY doc_id % 32 ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM mx
       |), pkb AS (
       |  SELECT bucket, (cum - n_toks) // 512 AS bin,
       |    CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(n_toks) AS BIGINT) AS n_tokens
       |  FROM pkc GROUP BY bucket, bin
       |)
       |SELECT * FROM (
       |  SELECT 'a_raw' AS stage, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
       |    CAST(sum(CASE WHEN doc_id >= 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS aux
       |  FROM pl1
       |  UNION ALL
       |  SELECT 'b_strip', CAST(count(*) AS BIGINT),
       |    CAST(sum(n_toks) AS BIGINT), CAST(sum(n_tags) AS BIGINT) FROM pq
       |  UNION ALL
       |  SELECT 'c_langid', CAST(count(*) AS BIGINT),
       |    CAST(sum(n_toks) AS BIGINT), CAST(0 AS BIGINT) FROM en
       |  UNION ALL
       |  SELECT 'd_quality', CAST(count(*) AS BIGINT),
       |    CAST(sum(n_toks) AS BIGINT), CAST(0 AS BIGINT) FROM gs
       |  UNION ALL
       |  SELECT 'e_dedup_exact', CAST(count(*) AS BIGINT),
       |    CAST(sum(n_toks) AS BIGINT), CAST(0 AS BIGINT) FROM ex
       |  UNION ALL
       |  SELECT 'f_dedup_near', CAST(count(*) AS BIGINT),
       |    CAST(sum(n_toks) AS BIGINT),
       |    (SELECT CAST(count(*) AS BIGINT) FROM prs) FROM ndp
       |  UNION ALL
       |  SELECT 'g_decontam', CAST(count(*) AS BIGINT),
       |    CAST(sum(n_toks) AS BIGINT), CAST(0 AS BIGINT) FROM dc
       |  UNION ALL
       |  SELECT 'h_mix', CAST(count(*) AS BIGINT),
       |    CAST(sum(n_toks) AS BIGINT), CAST(0 AS BIGINT) FROM mx
       |  UNION ALL
       |  SELECT 'i_pack', CAST(sum(n_docs) AS BIGINT),
       |    CAST(sum(n_tokens) AS BIGINT), CAST(count(*) AS BIGINT) FROM pkb
       |  UNION ALL
       |  SELECT 'j_export', CAST(count(*) AS BIGINT),
       |    CAST(sum(n_toks) AS BIGINT),
       |    CAST(count(DISTINCT doc_id % 4) AS BIGINT) FROM mx
       |) ORDER BY stage""".stripMargin) { (s, d) =>
    // ---- plant + inject (one projected scan, checkpointed pre-union)
    val docs0 = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("text")).localCheckpoint()
    val planted = docs0
      .unionByName(docs0.filter(col("doc_id") % 41 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("lang"), col("text")))
      .unionByName(docs0.filter(col("doc_id") % 43 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("lang"),
          concat(col("text"), lit(" pad pad pad")).as("text")))
    // raw (pre-inject, pre-strip) token count rides INTO the pq
    // checkpoint: otherwise the a_raw funnel row re-runs the plant union
    // + split over docs0 inside the final action; carrying the 8-byte
    // count per row lets a_raw aggregate the same checkpoint b_strip
    // reads. Identical value by construction — the
    // column is computed from planted.text exactly where a_raw computed
    // it, before injection and markup.
    val injected = langidInject(planted
      .withColumn("raw_nt", size(split(col("text"), " ")).cast("long")))
    // ---- strip markup
    val html = concat(lit("<html><body><p class=\"doc\">"), col("text"),
      lit("</p><br/></body></html>"))
    val pq = injected
      .select(col("doc_id"), col("lang"), col("raw_nt"),
        trim(regexp_replace(regexp_replace(html, "<[^>]+>", " "), "\\s+", " "))
          .as("text"),
        size(regexp_extract_all(html, lit("<[^>]+>"), lit(0)))
          .cast("long").as("n_tags"))
      .withColumn("n_toks", size(split(col("text"), " ")).cast("long"))
      .withColumn("h", md5(col("text")))
      .localCheckpoint()
    val pqCols = pq.columns.map(col).toSeq
    // ---- language filter: prediction must confirm the label.
    // Checkpointed: `en` feeds BOTH the quality-keep
    // derivation and the c_langid funnel row — without the checkpoint
    // the marker-scoring pass over the whole planted corpus ran twice
    // (once in the gs build, once re-derived inside the final funnel
    // action).
    val en = languageId(pq).filter(col("predicted_lang") === col("lang"))
      .select(pqCols: _*).localCheckpoint()
    // ---- quality: relaxed production profile of the gopher stats
    val keepIds = gopherStats(en.select(col("doc_id"), col("text")))
      .filter(col("nw").between(10, 200) &&
        (lit(10) * col("cw")).between(lit(30) * col("nw"), lit(60) * col("nw")) &&
        col("n_stop") >= 1 && lit(4) * col("nd") >= col("nw") &&
        lit(5) * col("maxf") <= col("nw"))
      .select("doc_id")
    val gs = en.join(keepIds, "doc_id").localCheckpoint()
    // ---- exact dedup: min-id keeper per content hash
    val ek = gs.groupBy("h").agg(min("doc_id").as("doc_id"))
    val ex = gs.join(ek, Seq("h", "doc_id")).localCheckpoint()
    // ---- MinHash near-dedup: banded candidates + exact-Jaccard refilter.
    // The oracle computes exhaustive all-pairs Jaccard >= 0.5, so the
    // hash match rides the 16-band LSH reaching FULL recall — a
    // probabilistic equivalence (miss-all-bands p ~ 1.5e-5 at j = 0.5),
    // deterministic on the fixed fixtures (xxhash64, no RNG) and pinned
    // structurally by EdgeSpec's "banding == brute force on the planted
    // %43 near-copies" test, which fails with a readable pair diff if a
    // fixture or sketch change ever lands a pair in the miss window.
    val prs = Dedup.minHashNearDupFromShingles(
        Functions.shingles(ex.select(col("doc_id"), col("text"))))
      .select("i", "j").localCheckpoint()
    val ndp = ex.join(prs.select(col("j").as("doc_id")).distinct(),
      Seq("doc_id"), "left_anti").localCheckpoint()
    // ---- decontamination by content fingerprint (benchmark = % 97 docs)
    val bench = pq.filter(col("doc_id") % 97 === 0).select("h").distinct()
    val dc = ndp.join(broadcast(bench), Seq("h"), "left_anti")
    // ---- temperature mix (T = 2) over the surviving populations
    val iq = dc.groupBy("lang").agg(count(lit(1)).as("n"))
      .select(col("lang"), col("n"), floor(sqrt(col("n"))).cast("long").as("isq"))
    val tot = iq.agg(sum(col("isq")).as("s"))
    val thr = iq.crossJoin(broadcast(tot))
      .select(col("lang"), expr("(isq * 120 * 4294967296L) div (n * s)").as("t"))
    val hKeep = conv(substring(md5(concat(lit("temp:"),
      col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long")
    val mx = dc.join(broadcast(thr), "lang").filter(hKeep < col("t"))
      .select(pqCols: _*).localCheckpoint()
    // ---- pack + TFRecord export round-trip of the mixed corpus
    val pkb = packBins(mx.select(col("doc_id"), col("text")))
    val dir = QueryDef.tmpRoot("pretrain_tfr", d)
    graft.sources.TfExample.writeDocTfRecords(
      mx.select((col("doc_id") % 4).as("shard"), col("doc_id"), col("text"),
        col("n_toks").as("n_tokens")), dir)
    val rt = graft.sources.TfExample.readDocTfRecords(s, dir)
    // ---- the funnel
    def row(stage: String, df: DataFrame, aux: org.apache.spark.sql.Column) =
      df.agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"),
        aux.as("aux"))
        .select(lit(stage).as("stage"), col("n_docs"), col("n_tokens"), col("aux"))
    row("a_raw",
        pq.select(col("doc_id"), col("raw_nt").as("n_toks")),
        sum(when(col("doc_id") >= 1000000L, 1L).otherwise(0L)))
      .unionByName(row("b_strip", pq, sum(col("n_tags"))))
      .unionByName(row("c_langid", en, lit(0L)))
      .unionByName(row("d_quality", gs, lit(0L)))
      .unionByName(row("e_dedup_exact", ex, lit(0L)))
      .unionByName(row("f_dedup_near", ndp, lit(0L))
        .drop("aux").crossJoin(broadcast(prs.agg(count(lit(1)).as("aux")))))
      .unionByName(row("g_decontam", dc, lit(0L)))
      .unionByName(row("h_mix", mx, lit(0L)))
      .unionByName(pkb.agg(sum(col("n_docs")).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"), count(lit(1)).as("aux"))
        .select(lit("i_pack").as("stage"), col("n_docs"), col("n_tokens"),
          col("aux")))
      .unionByName(rt.agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          countDistinct(col("doc_id") % 4).as("aux"))
        .select(lit("j_export").as("stage"), col("n_docs"), col("n_tokens"),
          col("aux")))
      .orderBy("stage")
  }

  val all: Seq[QueryDef] = Seq(textLangid, textQuality, textTokens, textFingerprint,
    textPiiScrub, sampleSplit, sampleStratified, textPack, textDecontaminate,
    textNgrams, textTfidf, sampleShuffle, pipelineCleanse, textStripMarkup,
    textRepetition, sampleWeighted, textRarity, sampleMix, textBpePairs,
    textLmScore, textBlocklist, sampleTemperature, textBpeMerge,
    textBpeEncode, sampleBootstrap, sampleBottomk, textKeywords,
    textGopherRules, sampleGroupSplit, textLangidConfusion, sampleKfold,
    pipelinePretrain, textDecontaminateNgram)
}
