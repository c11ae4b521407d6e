package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import Det._

/** Text / document pipeline operators — dedup + corpus stats
  * (SURVEY.md §2.7; NORTH-STAR LLM-pipeline surface).
  */
object Text {

  val textStats = QueryDef(
    "text_stats",
    """SELECT lang,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |  CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars,
      |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        sum(col("n_chars")).as("sum_chars"),
        (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"),
        sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
      .orderBy("lang")
  }

  /** Exact deduplication by content hash. At 100 TB this is the cheapest
    * dedup pass: one shuffle on a 128-bit hash, combinable aggregates.
    */
  def exactDupGroups(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("h"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keeper"))

  val dedupExact = QueryDef(
    "dedup_exact",
    """SELECT md5(text) AS h,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  min(doc_id) AS keeper
      |FROM documents GROUP BY h ORDER BY h LIMIT 100""".stripMargin) { (s, d) =>
    exactDupGroups(Tables.documents(s, d)).orderBy("h").limit(100)
  }

  /** Near-duplicate pairs by exact 3-gram-shingle Jaccard.
    *
    * Candidate generation is a shingle equi-join (never a cartesian): only
    * documents sharing at least one shingle meet. At 100 TB the candidate
    * generator swaps to MinHash-LSH banding (`dedup_minhash`, see
    * Dedup.minHashNearDupFromShingles) — the final exact-Jaccard filter
    * below stays the same, so results are scale-invariant for any
    * candidate set with perfect recall at the threshold.
    */
  def nearDupPairs(docs: DataFrame, threshold: Double = 0.5): DataFrame =
    nearDupPairsFromShingles(Functions.shingles(docs), threshold)

  /** Co-shingle candidate statistics (i, j, inter, ni, nj) over a
    * (doc_id, shingle) relation — the SHARED INVARIANT of the whole
    * fuzzy-dedup family: Jaccard, containment, keeper selection, and
    * edit-distance verification are all score formulas / graph passes
    * over this one relation. A production pipeline computes it once and
    * feeds every consumer; the gated keys do the same through
    * `landedShingleStats` (the graph family's landed discipline). */
  def shingleStatsFromShingles(sh: DataFrame): DataFrame = {
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    sh.as("x")
      .join(sh.as("y"),
        col("x.shingle") === col("y.shingle") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("i"), col("y.doc_id").as("j"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.as("si"), col("i") === col("si.doc_id"))
      .join(sizes.as("sj"), col("j") === col("sj.doc_id"))
      .select(col("i"), col("j"), col("inter"),
        col("si.n").as("ni"), col("sj.n").as("nj"))
  }

  /** Exact-duplicate keeper representatives (min doc_id per content
    * hash) — the kd relation both `_dedup` linear siblings collapse to
    * before the pair kernel. */
  def keeperDocs(docs: DataFrame): DataFrame = {
    val keepers = docs
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    docs.join(keepers, Seq("doc_id")).select("doc_id", "text")
  }

  /** The landed co-shingle statistics of the corpus documents table
    * (and, under the `_kd` tag, of its exact-dedup keeper subset):
    * built once per (session, dataset), read by dedup_near,
    * dedup_containment, dedup_keeper, text_editdist and the two kd
    * siblings. Values are unchanged — every consumer applies its score
    * formula to the same integers. */
  private def landedShingleStats(s: SparkSession, d: String): DataFrame =
    Landed.once(s, d, "text.shstats") {
      shingleStatsFromShingles(Functions.shingles(Tables.documents(s, d)))
    }

  private def landedShingleStatsKd(s: SparkSession, d: String): DataFrame =
    Landed.once(s, d, "text.shstats_kd") {
      shingleStatsFromShingles(Functions.shingles(keeperDocs(Tables.documents(s, d))))
    }

  /** DuckDB twin of `shingleStatsFromShingles` over `rel`'s shingles:
    * `shd`, the per-document `sizes` and the co-shingle counts `inter`
    * (i < j). Opens the WITH over `documents` and continues one otherwise
    * (`Functions.distinctShingleCte`). */
  def shingleStatsCte(rel: String): String =
    s"""${Functions.distinctShingleCte(rel)},
       |sizes AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
       |inter AS (
       |  SELECT x.doc_id AS i, y.doc_id AS j, count(*) AS inter
       |  FROM shd x JOIN shd y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
       |  GROUP BY i, j
       |)""".stripMargin

  /** DuckDB twin of `keeperDocs` (`kd`) followed by the stats over it —
    * the relation `landedShingleStatsKd` lands. */
  private val shingleStatsKdCte =
    s"""WITH k AS (
       |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
       |), kd AS (
       |  SELECT d.doc_id, d.text FROM documents d JOIN k ON d.doc_id = k.doc_id
       |), ${shingleStatsCte("kd")}""".stripMargin

  /** Jaccard selector over the stats relation. */
  def nearDupPairsFromStats(st: DataFrame, threshold: Double = 0.5): DataFrame =
    st.select(col("i"), col("j"),
        (col("inter") / (col("ni") + col("nj") - col("inter"))).as("jac_raw"))
      .filter(col("jac_raw") >= threshold)
      .select(col("i"), col("j"), round(col("jac_raw"), 4).as("jac"))

  /** DuckDB twin of the Jaccard selector at 0.5 as a CTE body: the
    * (i, j) pairs of `inter` over `sizes`. */
  val jaccardPairsSql: String =
    """  SELECT i, j FROM (
      |    SELECT i, j, inter.inter / (si.n + sj.n - inter.inter) AS jac_raw
      |    FROM inter
      |    JOIN sizes si ON inter.i = si.doc_id
      |    JOIN sizes sj ON inter.j = sj.doc_id
      |  ) WHERE jac_raw >= 0.5""".stripMargin

  /** The exact-Jaccard pair kernel over an ALREADY-COMPUTED (doc_id,
    * shingle) relation — split out so a caller that runs BOTH dedup
    * kernels (the recall gate) can derive the shingle relation once
    * and feed each. */
  def nearDupPairsFromShingles(sh: DataFrame, threshold: Double = 0.5): DataFrame =
    nearDupPairsFromStats(shingleStatsFromShingles(sh), threshold)

  val dedupNear = QueryDef(
    "dedup_near",
    s"""${shingleStatsCte("documents")}
       |SELECT i, j, round(jac_raw, 4) AS jac FROM (
       |  SELECT i, j, inter.inter / (si.n + sj.n - inter.inter) AS jac_raw
       |  FROM inter
       |  JOIN sizes si ON inter.i = si.doc_id
       |  JOIN sizes sj ON inter.j = sj.doc_id
       |) WHERE jac_raw >= 0.5
       |ORDER BY i, j""".stripMargin) { (s, d) =>
    nearDupPairsFromStats(landedShingleStats(s, d)).orderBy("i", "j")
  }

  /** Asymmetric CONTAINMENT dedup — the subset-duplication measure
    * symmetric Jaccard dilutes away: cont(A→B) = |sh(A)∩sh(B)| / |sh(A)|
    * is 1.0 when A's shingles all appear in B (a quote or boilerplate
    * block inside a larger doc scores jac ≈ |A|/|B| ≈ 0 but cont = 1).
    * Emits each candidate pair whose LARGER direction clears the
    * threshold, tagged with the contained (more-covered) doc — the row a
    * cleanse pipeline drops. Same shingle equi-join candidate generation
    * as `nearDupPairs` (never cartesian; quadratic only in the output on
    * dup-heavy corpora, by contract). This is the selector over the
    * stats relation. */
  def containmentPairsFromStats(st: DataFrame, threshold: Double): DataFrame =
    st.select(col("i"), col("j"),
        (col("inter") / col("ni")).as("cont_i"),
        (col("inter") / col("nj")).as("cont_j"))
      .filter(greatest(col("cont_i"), col("cont_j")) >= threshold)
      .select(col("i"), col("j"),
        round(greatest(col("cont_i"), col("cont_j")), 4).as("cont"),
        when(col("cont_i") >= col("cont_j"), col("i")).otherwise(col("j"))
          .as("contained"))

  /** DuckDB twin of `containmentPairsFromStats` at 0.8 over a stats CTE
    * prefix. */
  private def containmentOracle(stats: String): String =
    s"""$stats, c AS (
       |  SELECT i, j, inter.inter / si.n AS cont_i, inter.inter / sj.n AS cont_j
       |  FROM inter
       |  JOIN sizes si ON inter.i = si.doc_id
       |  JOIN sizes sj ON inter.j = sj.doc_id
       |)
       |SELECT i, j, round(greatest(cont_i, cont_j), 4) AS cont,
       |       CASE WHEN cont_i >= cont_j THEN i ELSE j END AS contained
       |FROM c WHERE greatest(cont_i, cont_j) >= 0.8
       |ORDER BY i, j""".stripMargin

  val dedupContainment = QueryDef(
    "dedup_containment",
    containmentOracle(shingleStatsCte("documents"))) { (s, d) =>
    containmentPairsFromStats(landedShingleStats(s, d), threshold = 0.8)
      .orderBy("i", "j")
  }

  /** The LINEAR-scale sibling of `dedup_containment` (the same
    * keeper-first shape as `text_editdist_dedup`, which measured 17×
    * faster at 10× on the dup-heavy corpus): collapse exact-copy sets to
    * one keeper representative FIRST (content-hash groupBy — one linear
    * shuffle), then run the shingle-containment candidate join over
    * UNIQUE texts only. Containment candidate volume grows as copy² on a
    * dup-heavy corpus (every pair of copies of a contained/container
    * text meets in the equi-join); collapsing first bounds it by
    * DISTINCT content, not copy count — the 100 TB form. The emitted
    * pairs are the containment relations among distinct contents; an
    * exact copy of a contained doc is already handled by the exact-dedup
    * pass, so nothing is lost. */
  val dedupContainmentDedup = QueryDef(
    "dedup_containment_dedup",
    containmentOracle(shingleStatsKdCte)) { (s, d) =>
    containmentPairsFromStats(landedShingleStatsKd(s, d), threshold = 0.8)
      .orderBy("i", "j")
  }

  /** INCREMENTAL dedup — the shape a production corpus actually runs:
    * a NEW batch (every 10th doc) is deduplicated AGAINST the existing
    * corpus (the rest), never corpus-against-itself. Per increment doc:
    * the minimum base doc it exactly duplicates (content-hash index
    * probe), the minimum base doc it near-duplicates (Jaccard ≥ 0.5 over
    * 3-gram shingles, candidates restricted to incr×base — base×base
    * pairs never form), and the resulting disposition
    * (exact / near / keep).
    *
    * Scale shape: at 100 TB the base side is a LANDED index (content
    * hashes + LSH bands built once, appended per batch), and the
    * increment probes it — work scales with the INCREMENT, not the
    * corpus (the exact probe is a broadcast-able or bucketed hash join;
    * the candidate join swaps to the dedup_minhash banded generator,
    * identical final filter). One shingle derivation serves both sides
    * (side is a residue predicate pushed to the scan). */
  val dedupIncremental = QueryDef(
    "dedup_incremental",
    s"""${Functions.distinctShingleCte("documents")},
       |sizes AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
       |inter AS (
       |  SELECT x.doc_id AS i, y.doc_id AS b, count(*) AS inter
       |  FROM shd x JOIN shd y ON x.shingle = y.shingle
       |  WHERE x.doc_id % 10 = 0 AND y.doc_id % 10 <> 0
       |  GROUP BY i, b
       |), near AS (
       |  SELECT i, min(b) AS near_dup_of FROM (
       |    SELECT i, b, inter.inter / (si.n + sb.n - inter.inter) AS jac
       |    FROM inter
       |    JOIN sizes si ON inter.i = si.doc_id
       |    JOIN sizes sb ON inter.b = sb.doc_id
       |  ) WHERE jac >= 0.5 GROUP BY i
       |), idx AS (
       |  SELECT md5(text) AS h, min(doc_id) AS base_id
       |  FROM documents WHERE doc_id % 10 <> 0 GROUP BY h
       |), ex AS (
       |  SELECT d.doc_id, idx.base_id AS exact_dup_of
       |  FROM documents d LEFT JOIN idx ON md5(d.text) = idx.h
       |  WHERE d.doc_id % 10 = 0
       |)
       |SELECT ex.doc_id, ex.exact_dup_of, near.near_dup_of,
       |  CASE WHEN ex.exact_dup_of IS NOT NULL THEN 'exact'
       |       WHEN near.near_dup_of IS NOT NULL THEN 'near'
       |       ELSE 'keep' END AS verdict
       |FROM ex LEFT JOIN near ON ex.doc_id = near.i
       |ORDER BY ex.doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val isIncr = col("doc_id") % 10 === 0
    val idx = docs.filter(!isIncr)
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("base_id"))
    val ex = docs.filter(isIncr)
      .select(col("doc_id"), md5(col("text")).as("h"))
      .join(idx, Seq("h"), "left")
      .select(col("doc_id"), col("base_id").as("exact_dup_of"))
    val sh = Functions.shingles(docs)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val near = sh.as("x").filter(col("x.doc_id") % 10 === 0)
      .join(sh.as("y").filter(col("y.doc_id") % 10 =!= 0),
        col("x.shingle") === col("y.shingle"))
      .groupBy(col("x.doc_id").as("i"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.as("si"), col("i") === col("si.doc_id"))
      .join(sizes.as("sb"), col("b") === col("sb.doc_id"))
      .filter(col("inter") / (col("si.n") + col("sb.n") - col("inter")) >= 0.5)
      .groupBy("i").agg(min(col("b")).as("near_dup_of"))
    ex.join(near, col("doc_id") === col("i"), "left")
      .select(col("doc_id"), col("exact_dup_of"), col("near_dup_of"),
        when(col("exact_dup_of").isNotNull, lit("exact"))
          .when(col("near_dup_of").isNotNull, lit("near"))
          .otherwise(lit("keep")).as("verdict"))
      .orderBy("doc_id")
  }

  /** Connected-component keeper: iterate min-label propagation over the
    * near-dup graph to fixpoint (≤ maxRounds), so chained dups (A~B~C
    * with A≁C) share one keeper — the true component minimum. Each round
    * is ONE Spark job: the new label relation is lazily localCheckpoint-ed
    * and the changed-label count is taken over it, so the same action
    * materializes the checkpoint (lineage stays one round deep) and
    * decides convergence — no separate isEmpty pass. The previous round's
    * checkpoint blocks are released deterministically once the next round
    * is down (only the final, linear label relation stays resident; at
    * 100 TB the edge list is the cached invariant and only the label
    * relation moves per round). maxRounds bounds worst-case chains —
    * exceeding it without convergence THROWS rather than silently
    * returning non-component labels (near-dup components in real corpora
    * are near-cliques, converging in 1-2 rounds; a deep chain needs a
    * larger maxRounds, not wrong keepers).
    */
  def nearDupKeepers(docs: DataFrame, threshold: Double = 0.5,
      maxRounds: Int = 10): DataFrame =
    nearDupKeepersFromPairs(nearDupPairs(docs, threshold).select("i", "j"),
      maxRounds)

  /** The component fixpoint over an already-computed (i, j) pair
    * relation — the gated key feeds the landed stats through this. */
  def nearDupKeepersFromPairs(pairs: DataFrame,
      maxRounds: Int = 10): DataFrame = {
    val edges = pairs
      .union(pairs.select(col("j").as("i"), col("i").as("j")))
      .toDF("src", "dst")
      .persist()
    var labels = edges.groupBy(col("src").as("doc_id"))
      .agg(least(min(col("dst")), col("src")).as("comp"),
        count(lit(1)).as("n_neighbors"))
      .localCheckpoint()
    var rounds = 0
    var converged = false
    while (rounds < maxRounds && !converged) {
      val viaNeighbors = edges
        .join(labels.select(col("doc_id").as("dst"), col("comp").as("nbComp")), "dst")
        .select(col("src").as("doc_id"), col("nbComp").as("cand"))
      val next = labels.select(col("doc_id"), col("comp").as("cand"))
        .union(viaNeighbors)
        .groupBy("doc_id").agg(min(col("cand")).as("comp"))
        .join(labels.select(col("doc_id"), col("comp").as("prev"), col("n_neighbors")), "doc_id")
        .select(col("doc_id"), col("comp"), col("prev"), col("n_neighbors"))
        .localCheckpoint(eager = false)
      // count() computes every partition, which both materializes the lazy
      // checkpoint and yields the convergence signal in a single job
      converged = next.filter(col("comp") < col("prev")).count() == 0
      org.apache.spark.sql.graft.bridge.releaseLocalCheckpoint(labels)
      labels = next
      rounds += 1
    }
    edges.unpersist()
    if (!converged)
      throw new IllegalStateException(
        s"nearDupKeepers did not converge in $maxRounds rounds — component " +
          "diameter exceeds maxRounds; raise maxRounds (labels would be " +
          "silently non-minimal otherwise)")
    labels.select(col("doc_id"), col("comp").as("keeper"), col("n_neighbors"))
  }

  /** DuckDB twin of `nearDupKeepersFromPairs` over the Jaccard-0.5 pairs
    * of the corpus: `pairs`, the symmetric `edges`, and (from
    * `keeperReachCte`) the recursive component minimum `reach`. */
  val keeperEdgesCte: String =
    s"""${shingleStatsCte("documents")},
       |pairs AS (
       |$jaccardPairsSql
       |),
       |edges AS (
       |  SELECT i AS src, j AS dst FROM pairs
       |  UNION ALL
       |  SELECT j AS src, i AS dst FROM pairs
       |)""".stripMargin

  val keeperReachCte: String =
    """reach AS (
      |  WITH RECURSIVE r(doc_id, m) AS (
      |    SELECT src, src FROM edges
      |    UNION
      |    SELECT e.src, r.m FROM edges e JOIN r ON e.dst = r.doc_id
      |  )
      |  SELECT doc_id, min(m) AS keeper FROM r GROUP BY doc_id
      |)""".stripMargin

  val dedupKeeper = QueryDef(
    "dedup_keeper",
    s"""$keeperEdgesCte,
       |deg AS (
       |  SELECT src AS doc_id, CAST(count(*) AS BIGINT) AS n_neighbors
       |  FROM edges GROUP BY src
       |),
       |$keeperReachCte
       |SELECT deg.doc_id, keeper, n_neighbors
       |FROM deg JOIN reach ON deg.doc_id = reach.doc_id
       |ORDER BY deg.doc_id""".stripMargin) { (s, d) =>
    // Oracle: transitive closure (recursive CTE) → true component minimum,
    // matching the iterated min-propagation fixpoint.
    nearDupKeepersFromPairs(
      nearDupPairsFromStats(landedShingleStats(s, d)).select("i", "j"))
      .orderBy("doc_id")
  }

  /** Both edit-distance oracles: the Jaccard-0.5 candidates of a stats
    * CTE prefix, verified by Levenshtein over the texts of `rel`. */
  private def editdistOracle(stats: String, rel: String): String =
    s"""$stats, cand AS (
       |  SELECT i, j
       |  FROM inter
       |  JOIN sizes si ON inter.i = si.doc_id
       |  JOIN sizes sj ON inter.j = sj.doc_id
       |  WHERE inter.inter / (si.n + sj.n - inter.inter) >= 0.5
       |)
       |SELECT c.i, c.j,
       |       CAST(levenshtein(a.text, b.text) AS BIGINT) AS editdist
       |FROM cand c
       |JOIN $rel a ON c.i = a.doc_id
       |JOIN $rel b ON c.j = b.doc_id
       |ORDER BY c.i, c.j""".stripMargin

  /** Edit-distance refilter of the near-dup candidates — the
    * character-level verification pass a fuzzy-dedup pipeline runs after
    * shingle blocking (catches rewordings Jaccard scores high but edit
    * distance exposes, and vice versa). Levenshtein is O(len²) per pair,
    * so it NEVER runs all-pairs: only the shingle-blocked candidate set
    * (linear-ish, equi-join generated) reaches it — the same
    * candidates-then-exact-check shape as dedup_minhash/dedup_embed_lsh.
    * Both engines implement textbook unit-cost Levenshtein; the corpus is
    * ASCII so code-unit vs codepoint semantics cannot diverge. */
  val textEditdist = QueryDef(
    "text_editdist",
    editdistOracle(shingleStatsCte("documents"), "documents")) { (s, d) =>
    val docs = Tables.documents(s, d)
    val texts = docs.select(col("doc_id"), col("text"))
    // Exact-duplicate short-circuit: identical text ⟺ distance 0, so the
    // O(len²) kernel runs ONLY on genuinely differing candidates. On a
    // dup-heavy corpus the candidate set is dominated by exact copies
    // (measured 11.6× runtime growth at 10× without this — each identical
    // pair paid the full quadratic compare for a guaranteed 0). The guard
    // compares the texts themselves (O(len), short-circuits on the first
    // differing byte) rather than md5 — same win, no collision assumption
    // equating hash with identity.
    nearDupPairsFromStats(landedShingleStats(s, d)).select("i", "j")
      .join(texts.as("a"), col("i") === col("a.doc_id"))
      .join(texts.as("b"), col("j") === col("b.doc_id"))
      .select(col("i"), col("j"),
        when(col("a.text") === col("b.text"), lit(0L))
          .otherwise(levenshtein(col("a.text"), col("b.text")).cast("long"))
          .as("editdist"))
      .orderBy("i", "j")
  }

  /** The LINEAR-scale sibling of `text_editdist` (the dedup_embed →
    * dedup_embed_lsh precedent): exact dedup to keeper representatives
    * FIRST, then shingle-block and edit-distance-verify over UNIQUE texts
    * only. On a dup-heavy corpus this is the difference between quadratic
    * and linear: the 10× replicated table collapses back to the sf0.1
    * unique-text set before the self-join, so candidate volume is bounded
    * by distinct content, not copy count. Every surviving pair has
    * differing texts by construction — the kernel always does real work. */
  val textEditdistDedup = QueryDef(
    "text_editdist_dedup",
    editdistOracle(shingleStatsKdCte, "kd")) { (s, d) =>
    val kd = keeperDocs(Tables.documents(s, d))
    nearDupPairsFromStats(landedShingleStatsKd(s, d)).select("i", "j")
      .join(kd.as("a"), col("i") === col("a.doc_id"))
      .join(kd.as("b"), col("j") === col("b.doc_id"))
      .select(col("i"), col("j"),
        levenshtein(col("a.text"), col("b.text")).cast("long").as("editdist"))
      .orderBy("i", "j")
  }

  /** N-GRAM NOVELTY — the per-document CONTRIBUTION metric curation
    * pipelines rank by (what does this document add that the corpus
    * ordered before it didn't have?): for each doc, its distinct 3-gram
    * count, how many of those the doc INTRODUCES (no lower doc_id
    * carries them — id order standing in for crawl order), and the
    * integer novelty percentage. The span/dedup keys ask "what repeats";
    * this asks the curator's dual — "what is new" — and a boilerplate-
    * heavy document scores near 0 while a fresh one scores near 100.
    * Scale: ONE shingle-keyed min aggregate (combinable — first_doc is
    * a min) + one doc-keyed rollup; both shuffles are linear in corpus
    * shingles, never pairwise, and at 100 TB shingles travel hashed. */
  val textNgramNovelty = QueryDef(
    "text_ngram_novelty",
    s"""${Functions.distinctShingleCte("documents")},
       |firsts AS (
       |  SELECT shingle, min(doc_id) AS first_doc FROM shd GROUP BY shingle
       |)
       |SELECT s.doc_id,
       |  CAST(count(*) AS BIGINT) AS n_shingles,
       |  CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       |  CAST((100 * sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)) // count(*) AS BIGINT) AS novelty_pct
       |FROM shd s JOIN firsts f ON s.shingle = f.shingle
       |GROUP BY s.doc_id
       |ORDER BY s.doc_id LIMIT 400""".stripMargin) { (s, d) =>
    val shd = Functions.shingles(Tables.documents(s, d))
    val firsts = shd.groupBy("shingle").agg(min(col("doc_id")).as("first_doc"))
    shd.join(firsts, "shingle")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        expr("(100 * n_novel) div n_shingles").as("novelty_pct"))
      .orderBy("doc_id")
      .limit(400)
  }

  /** SPAN-level duplication — the substring signal doc-level dedup can't
    * see (the "Deduplicating Training Data Makes Language Models Better"
    * finding, approximated at fixed span length): every 8-token span
    * occurring in ≥ 2 DISTINCT documents, ranked by document reach. A
    * memorization-risk / boilerplate report: doc-level Jaccard dilutes a
    * duplicated paragraph inside two otherwise-different documents to
    * ~0, but the span count flags it directly.
    *
    * Scale: one explode to distinct (doc, span) rows, one combinable
    * span-keyed groupBy — linear in corpus tokens, never pairwise (the
    * suffix-array approach this approximates is superlinear to build
    * and needs global order; fixed-length spans shuffle-partition
    * freely). At 100 TB spans travel as 8-byte hashes (xxhash64 of the
    * span), not text — identical plan shape. */
  val textSpanDedup = QueryDef(
    "text_span_dedup",
    {
      val leads = (1 until 8).map(j => s"lead(tok, $j) OVER w").mkString(" || ' ' || ")
      s"""WITH pos AS (
       |  SELECT doc_id,
       |         unnest(string_split(text, ' ')) AS tok,
       |         generate_subscripts(string_split(text, ' '), 1) AS p
       |  FROM documents
       |), sh AS (
       |  SELECT doc_id, tok || ' ' || $leads AS span
       |  FROM pos WINDOW w AS (PARTITION BY doc_id ORDER BY p)
       |), shd AS (
       |  SELECT DISTINCT doc_id, span FROM sh WHERE span IS NOT NULL
       |)
       |SELECT span, CAST(count(*) AS BIGINT) AS n_docs,
       |       min(doc_id) AS first_doc
       |FROM shd GROUP BY span HAVING count(*) >= 2
       |ORDER BY n_docs DESC, span LIMIT 20""".stripMargin
    }) { (s, d) =>
    Functions.shingles(Tables.documents(s, d), 8)
      .groupBy("shingle")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") >= 2)
      .select(col("shingle").as("span"), col("n_docs"), col("first_doc"))
      .orderBy(col("n_docs").desc, col("span"))
      .limit(20)
  }

  /** URL-canonicalization dedup — the first dedup pass of every
    * web-crawl pipeline (cheaper than any content compare and applied
    * before it): the same page arrives under host-case / default-port /
    * utm-tracking-param / trailing-slash / fragment variants, and the
    * canonical form collapses them without ever reading the payload.
    * Variant dirt is synthesized deterministically (4 variants per page:
    * clean, UPPER-host + :443, utm-tagged, trailing-slash + fragment) so
    * every rule fires at every SF; canonicalization is a pure
    * scan-stage regex projection (strip fragment, strip utm_* params,
    * strip trailing slash, lowercase host, drop default port via the
    * host character class) in the Java∩RE2 pattern subset (fn_regex
    * discipline), followed by ONE host-keyed count/distinct aggregate.
    *
    * At scale: per-row projection + one keyed shuffle — canonical-key
    * grouping is the exact-dedup plan (dedup_exact) with the key derived
    * instead of hashed; no pairs, no content reads. */
  val textDedupUrl = QueryDef(
    "text_dedup_url",
    """WITH u AS (
      |  SELECT doc_id,
      |         'https://' || CASE WHEN doc_id % 4 = 1
      |             THEN upper('src' || CAST((doc_id // 4) % 20 AS VARCHAR))
      |             ELSE 'src' || CAST((doc_id // 4) % 20 AS VARCHAR) END
      |           || '.example.com'
      |           || CASE WHEN doc_id % 4 = 1 THEN ':443' ELSE '' END
      |           || '/d' || CAST((doc_id // 4) % 7 AS VARCHAR)
      |           || '/page-' || CAST(doc_id // 4 AS VARCHAR)
      |           || CASE WHEN doc_id % 4 = 2
      |                THEN '?utm_source=feed&utm_campaign=c'
      |                     || CAST(doc_id % 3 AS VARCHAR)
      |              WHEN doc_id % 4 = 3 THEN '/' ELSE '' END
      |           || CASE WHEN doc_id % 4 = 3
      |                THEN '#sec-' || CAST(doc_id % 5 AS VARCHAR)
      |              ELSE '' END AS url
      |  FROM documents
      |), c AS (
      |  SELECT doc_id,
      |    regexp_replace(regexp_replace(regexp_replace(
      |      url, '#.*$', ''), '[?&]utm_[a-z]+=[^&]*', '', 'g'), '/$', '')
      |      AS stripped
      |  FROM u
      |), k AS (
      |  SELECT doc_id,
      |    'https://' || lower(regexp_extract(stripped, '^https://([^/:?#]+)', 1))
      |      || regexp_extract(stripped, '^https://[^/?#]+(/[^?#]*)', 1)
      |      AS canonical,
      |    lower(regexp_extract(stripped, '^https://([^/:?#]+)', 1)) AS host
      |  FROM c
      |)
      |SELECT host, CAST(count(*) AS BIGINT) AS n_urls,
      |       CAST(count(DISTINCT canonical) AS BIGINT) AS n_pages,
      |       CAST(count(*) - count(DISTINCT canonical) AS BIGINT)
      |         AS n_collapsed,
      |       min(canonical) AS sample_page
      |FROM k GROUP BY host ORDER BY host""".stripMargin) { (s, d) =>
    // doc_id div 4 — the exact integer page id ('/' would be double division)
    val pid = expr("doc_id div 4")
    val pidHost = concat(lit("src"), (pid % 20).cast("string"))
    val url = concat(
      lit("https://"),
      when(col("doc_id") % 4 === 1, upper(pidHost)).otherwise(pidHost),
      lit(".example.com"),
      when(col("doc_id") % 4 === 1, lit(":443")).otherwise(lit("")),
      lit("/d"), (pid % 7).cast("string"),
      lit("/page-"), pid.cast("string"),
      when(col("doc_id") % 4 === 2,
        concat(lit("?utm_source=feed&utm_campaign=c"),
          (col("doc_id") % 3).cast("string")))
        .when(col("doc_id") % 4 === 3, lit("/")).otherwise(lit("")),
      when(col("doc_id") % 4 === 3,
        concat(lit("#sec-"), (col("doc_id") % 5).cast("string")))
        .otherwise(lit("")))
    val stripped = regexp_replace(regexp_replace(regexp_replace(
      url, "#.*$", ""), "[?&]utm_[a-z]+=[^&]*", ""), "/$", "")
    val host = lower(regexp_extract(stripped, "^https://([^/:?#]+)", 1))
    val canonical = concat(lit("https://"), host,
      regexp_extract(stripped, "^https://[^/?#]+(/[^?#]*)", 1))
    Tables.documents(s, d)
      .select(canonical.as("canonical"), host.as("host"))
      .groupBy("host")
      .agg(count(lit(1)).as("n_urls"),
        countDistinct(col("canonical")).as("n_pages"),
        (count(lit(1)) - countDistinct(col("canonical"))).as("n_collapsed"),
        min(col("canonical")).as("sample_page"))
      .orderBy("host")
  }

  /** WINNOWING fingerprint selection (the MOSS local-fingerprint
    * algorithm) over a (doc_id, text) relation: positional 3-gram token
    * shingles, a 40-bit md5-prefix hash per shingle, and per trailing
    * window of `w` consecutive shingle positions the MINIMAL hash with
    * ties to the RIGHTMOST position (robust winnowing) — selected via
    * ONE integer total order, score = h·2²⁰ + (2²⁰−1−pos), so min(score)
    * over a ROWS w−1 PRECEDING frame IS the (min h, max pos) choice and
    * both coordinates decode arithmetically (the labelprop score
    * discipline; safe while docs stay under 2²⁰ tokens — 10⁴× beyond
    * this corpus). Windows are evaluated at EVERY position (prefix
    * windows included), so documents with fewer than w shingles still
    * fingerprint: short docs select their overall minimum — the
    * guarantee "every w-window contributes ≥ 1 fingerprint" holds with
    * no length cutoff. Exact-dedup hashes the whole doc; span_dedup
    * keys fixed 8-grams; THIS selects the position-robust ~2/(w+1)
    * density subset real plagiarism/near-dup indexes store.
    *
    * Scale shape: shingling is a generator off the scan (no shuffle),
    * the frame min is one doc-keyed window sort, and both rollups are
    * combinable doc-keyed aggregates — linear end to end, nothing
    * pairwise, nothing on the driver. */
  def winnowFingerprints(docs: DataFrame, w: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val P = 1048576L // 2^20
    val sh = docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(0, size(toks) - 3), i -> " +
          "concat_ws(' ', toks[i], toks[i + 1], toks[i + 2]))")))
      .select(col("doc_id"), (col("pos") + 1).as("pos"),
        conv(substring(md5(col("col")), 1, 10), 16, 10).cast("long").as("h"))
    val score = col("h") * P + (lit(P - 1) - col("pos"))
    val sel = sh
      .withColumn("sel", min(score).over(
        Window.partitionBy("doc_id").orderBy("pos").rowsBetween(-(w - 1), 0)))
    val fps = sel.select(col("doc_id"), col("sel")).distinct()
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_fp"),
        sum(expr(s"sel div $P")).as("sum_h"),
        min(expr(s"sel div $P")).as("min_h"))
    val counts = sh.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    counts.join(fps, "doc_id")
      .select(col("doc_id"), col("n_shingles"), col("n_fp"),
        expr("n_fp * 1000000 div n_shingles").as("density_ppm"),
        col("sum_h"), col("min_h"))
  }

  val textWinnow = QueryDef(
    "text_winnow",
    """WITH pos AS (
      |  SELECT doc_id,
      |         unnest(string_split(text, ' ')) AS tok,
      |         generate_subscripts(string_split(text, ' '), 1) AS p
      |  FROM documents
      |), sh0 AS (
      |  SELECT doc_id, p AS pos,
      |         tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS g
      |  FROM pos WINDOW w AS (PARTITION BY doc_id ORDER BY p)
      |), sh AS (
      |  SELECT doc_id, pos,
      |         CAST('0x' || substr(md5(g), 1, 10) AS BIGINT) AS h
      |  FROM sh0 WHERE g IS NOT NULL
      |), sel0 AS (
      |  SELECT doc_id,
      |         min(h * 1048576 + (1048575 - pos)) OVER
      |           (PARTITION BY doc_id ORDER BY pos
      |            ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS sel
      |  FROM sh
      |), fp AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp,
      |         CAST(sum(sel // 1048576) AS BIGINT) AS sum_h,
      |         CAST(min(sel // 1048576) AS BIGINT) AS min_h
      |  FROM (SELECT DISTINCT doc_id, sel FROM sel0) GROUP BY doc_id
      |), cnt AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles
      |  FROM sh GROUP BY doc_id
      |)
      |SELECT cnt.doc_id, n_shingles, n_fp,
      |       n_fp * 1000000 // n_shingles AS density_ppm, sum_h, min_h
      |FROM cnt JOIN fp ON cnt.doc_id = fp.doc_id
      |ORDER BY 1 LIMIT 300""".stripMargin) { (s, d) =>
    winnowFingerprints(Tables.documents(s, d))
      .orderBy("doc_id").limit(300)
  }

  /** Prefix-bucket dedup — the boilerplate heuristic production crawls
    * run BEFORE content hashing (pages sharing a long leading span are
    * mirror/template copies even when tails differ; the fixture plants
    * the truth: 228 docs share a 60-char prefix with another at sf0.1,
    * 22 at sf0.01, so the key is live at every SF while `dedup_exact`'s
    * whole-content buckets stay almost all singletons). Same linear
    * shape as dedup_exact — the bucket key is substr(text, 1, 60)
    * instead of md5(text), one combinable groupBy, min-id keeper,
    * ≥2-member buckets reported. The 60-char key is what shuffles, not
    * the document — at 100 TB hash the prefix for a fixed-width key
    * (here it stays raw so the oracle pins the bucket contents
    * byte-exactly). */
  val textDedupPrefix = QueryDef(
    "text_dedup_prefix",
    """SELECT substr(text, 1, 60) AS prefix,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  min(doc_id) AS keeper,
      |  CAST(sum(n_chars) AS BIGINT) AS bucket_chars
      |FROM documents
      |GROUP BY prefix HAVING count(*) >= 2
      |ORDER BY prefix""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .groupBy(substring(col("text"), 1, 60).as("prefix"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keeper"),
        sum(col("n_chars")).as("bucket_chars"))
      .filter(col("n_docs") >= 2)
      .orderBy("prefix")
  }

  val all: Seq[QueryDef] = Seq(textStats, dedupExact, dedupNear, dedupKeeper,
    textEditdist, textEditdistDedup, dedupContainment, dedupContainmentDedup,
    dedupIncremental, textSpanDedup, textDedupUrl, textWinnow,
    textDedupPrefix, textNgramNovelty)
}
