package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Embedding-similarity operators (NORTH-STAR surface).
  *
  * Dot products are sequential left folds over `zip_with` — the same
  * association order DuckDB's `list_dot_product` uses, so cosine values
  * are bit-comparable; the emitted value is additionally rounded to 4dp
  * and every ORDER BY ties-breaks on ids.
  *
  * Scale path: exact all-pairs is inherently O(N²) FLOPs, so the scalable
  * form is `allPairsCos` — a BLOCKED product (each vector replicated to
  * the B block-pairs containing its block, equi-join on the block-pair
  * key, dense compute per partition): O(N·B) shuffle rows, O((N/B)²·d)
  * FLOPs per task, bounded memory, no BroadcastNestedLoopJoin and no
  * broadcast of the full relation. Sub-quadratic candidate generation
  * (hyperplane LSH in `Ann.lshNearDup`, IVF buckets in `Ann.ivfTopK`)
  * only pays off in the high-cosine regime (real near-dup corpora); on
  * this near-orthogonal synthetic embedding table (top pair cos ≈ 0.5–0.6)
  * every LSH parameterization either loses recall at the 0.5 threshold or
  * emits ~all pairs, so the gated exact queries use the blocked kernel and
  * the LSH path is EdgeSpec-proven on planted near-dups.
  */
object Similarity {

  /** float[] → double[] (exact cast; DuckDB lists compute in double). */
  def vecD(c: Column): Column = transform(c, _.cast("double"))

  /** Sequential dot product — a native codegen Expression
    * (graft.functions.DotProduct): the same left-to-right double
    * accumulation as `aggregate(zip_with(...))` and DuckDB's
    * list_dot_product (bit-identical results), minus the per-element
    * lambda interpretation that dominated the N² kNN pipelines.
    */
  def dot(a: Column, b: Column): Column = graft.functions.DotProduct.dot(a, b)

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  /** vec_id, ve (double[]), nrm — shared prep. */
  private def vecs(s: SparkSession, d: String): DataFrame = {
    val v = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), vecD(col("embedding")).as("ve"))
    v.select(col("vec_id"), col("label"), col("ve"), l2norm(col("ve")).as("nrm"))
  }

  private val vecCte =
    """WITH v AS (
      |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
      |  FROM embeddings
      |), n AS (
      |  SELECT vec_id, label, ve, sqrt(list_dot_product(ve, ve)) AS nrm FROM v
      |)""".stripMargin

  /** Exact all-pairs cosine as a BLOCKED product. Input must carry
    * (vec_id, ve double[], nrm); output (i, j, cos_raw) with i < j, one
    * row per unordered pair — bit-identical values to the theta-join form
    * (the sequential dot product is symmetric), but the plan is an
    * equi-join on the (bp, bq) block-pair key: each vector is replicated
    * to the `blocks` block-pairs containing its block, so the shuffle
    * carries O(N·B) rows, every task owns one dense (N/B)² tile, and no
    * side is broadcast or nested-loop joined. B ≈ √(2 × desired tasks).
    */
  def allPairsCos(n: DataFrame, blocks: Int = 16): DataFrame = {
    val s = n.sparkSession
    import s.implicits._
    val bp = broadcast(
      (for { p <- 0 until blocks; q <- p until blocks } yield (p, q)).toDF("bp", "bq"))
    val tagged = n.select(col("vec_id"), col("ve"), col("nrm"),
      pmod(col("vec_id"), lit(blocks)).cast("int").as("blk"))
    val lhs = tagged.join(bp, col("blk") === col("bp"))
      .select(col("bp"), col("bq"),
        col("vec_id").as("lid"), col("ve").as("lve"), col("nrm").as("lnrm"))
    val rhs = tagged.join(bp, col("blk") === col("bq"))
      .select(col("bp").as("pb"), col("bq").as("qb"),
        col("vec_id").as("rid"), col("ve").as("rve"), col("nrm").as("rnrm"))
    lhs.join(rhs, col("bp") === col("pb") && col("bq") === col("qb"))
      // same-block tiles hold both orderings of a pair (lid<rid keeps one);
      // cross-block tiles hold each pair exactly once (bp < bq).
      .filter(col("bp") < col("bq") || col("lid") < col("rid"))
      .select(
        least(col("lid"), col("rid")).as("i"),
        greatest(col("lid"), col("rid")).as("j"),
        (dot(col("lve"), col("rve")) / (col("lnrm") * col("rnrm"))).as("cos_raw"))
  }

  val simKnn = QueryDef(
    "sim_knn",
    s"""$vecCte
       |SELECT a.vec_id AS i, b.vec_id AS j,
       |       round(list_dot_product(a.ve, b.ve) / (a.nrm * b.nrm), 4) AS cos
       |FROM n a JOIN n b ON a.vec_id < b.vec_id
       |ORDER BY cos DESC, i, j LIMIT 20""".stripMargin) { (s, d) =>
    allPairsCos(vecs(s, d).select("vec_id", "ve", "nrm"))
      .select(col("i"), col("j"), round(col("cos_raw"), 4).as("cos"))
      .orderBy(col("cos").desc, col("i"), col("j"))
      .limit(20)
  }

  val simSearch = QueryDef(
    "sim_search",
    s"""$vecCte
       |SELECT b.vec_id,
       |       round(list_dot_product(a.ve, b.ve) / (a.nrm * b.nrm), 4) AS cos
       |FROM n a JOIN n b ON a.vec_id = 0 AND b.vec_id <> 0
       |ORDER BY cos DESC, b.vec_id LIMIT 10""".stripMargin) { (s, d) =>
    // k-NN search for one query vector: the 1-row query side broadcasts;
    // the scan side streams — the exact shape that scales out.
    val n = vecs(s, d)
    val q = n.filter(col("vec_id") === 0)
      .select(col("ve").as("qve"), col("nrm").as("qnrm"))
    n.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(dot(col("qve"), col("ve")) / (col("qnrm") * col("nrm")), 4).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(10)
  }

  val multimodalJoin = QueryDef(
    "multimodal_join",
    s"""$vecCte
       |SELECT doc_id, lang, n_chars, label, round(nrm, 4) AS l2_norm
       |FROM documents JOIN n ON doc_id = vec_id
       |ORDER BY doc_id LIMIT 100""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .join(vecs(s, d), col("doc_id") === col("vec_id"))
      .select(col("doc_id"), col("lang"), col("n_chars"), col("label"),
        round(col("nrm"), 4).as("l2_norm"))
      .orderBy("doc_id")
      .limit(100)
  }

  /** ColBERT-style late-interaction (MaxSim) retrieval — the multi-vector
    * generalization of `sim_search`: the query is a SET of vectors (the 8
    * lowest-id label-0 embeddings), each candidate group (label) is a set,
    * and the score is Σ_q max_d cos(q, d). Per-q maxes are pure selection
    * (engine-safe on bit-identical cosines); the cross-q SUM would be an
    * association-order-dependent double aggregate, so it is pivoted into
    * 8 columns and added in one FIXED left-to-right chain — the
    * `sim_ann_pq` ADC discipline.
    *
    * Scale: the query set is a ≤8-row broadcast; candidates stream
    * through the scan side (one cos per (vector, q) — 8·N FLOP rows, no
    * self-join); the (label, qi) max and label pivot are combinable
    * aggregates over a |labels|·8-row state. */
  def maxSim(emb: DataFrame, queryLabel: Int, nq: Int): DataFrame = {
    val n = emb
    val wq = org.apache.spark.sql.expressions.Window
      .orderBy("q_id") // ≤nq rows post-limit: trivial window
    val q = n.filter(col("label") === queryLabel)
      .select(col("vec_id").as("q_id"), col("ve").as("qve"),
        col("nrm").as("qnrm"))
      .orderBy("q_id").limit(nq)
      .withColumn("qi", row_number().over(wq) - 1)
    val qb = broadcast(q)
    val pairs = n.join(qb, col("vec_id") === col("q_id"), "left_anti")
      .crossJoin(qb)
      .select(col("label"), col("qi"),
        (dot(col("qve"), col("ve")) / (col("qnrm") * col("nrm"))).as("c"))
    val mx = pairs.groupBy("label", "qi").agg(max(col("c")).as("m"))
    val pivCols = (0 until nq).map(i =>
      max(when(col("qi") === i, col("m"))).as(s"m$i"))
    val piv = mx.groupBy("label").agg(pivCols.head, pivCols.tail: _*)
    val chain = (1 until nq).foldLeft(col("m0")) { (acc, i) => acc + col(s"m$i") }
    piv.select(col("label"), round(chain, 4).as("maxsim"))
      .orderBy(col("maxsim").desc, col("label"))
      .limit(10)
  }

  val simMaxSim = QueryDef(
    "sim_maxsim",
    s"""$vecCte, q AS (
       |  SELECT vec_id AS q_id, ve AS qve, nrm AS qnrm,
       |         row_number() OVER (ORDER BY vec_id) - 1 AS qi
       |  FROM (SELECT * FROM n WHERE label = 0 ORDER BY vec_id LIMIT 8)
       |), pairs AS (
       |  SELECT d.label, q.qi,
       |         list_dot_product(q.qve, d.ve) / (q.qnrm * d.nrm) AS c
       |  FROM n d, q WHERE d.vec_id NOT IN (SELECT q_id FROM q)
       |), mx AS (
       |  SELECT label, qi, max(c) AS m FROM pairs GROUP BY label, qi
       |), p AS (
       |  SELECT label,
       |         max(CASE WHEN qi = 0 THEN m END) AS m0,
       |         max(CASE WHEN qi = 1 THEN m END) AS m1,
       |         max(CASE WHEN qi = 2 THEN m END) AS m2,
       |         max(CASE WHEN qi = 3 THEN m END) AS m3,
       |         max(CASE WHEN qi = 4 THEN m END) AS m4,
       |         max(CASE WHEN qi = 5 THEN m END) AS m5,
       |         max(CASE WHEN qi = 6 THEN m END) AS m6,
       |         max(CASE WHEN qi = 7 THEN m END) AS m7
       |  FROM mx GROUP BY label
       |)
       |SELECT label,
       |       round(((((((m0 + m1) + m2) + m3) + m4) + m5) + m6) + m7, 4)
       |         AS maxsim
       |FROM p ORDER BY maxsim DESC, label LIMIT 10""".stripMargin) { (s, d) =>
    maxSim(vecs(s, d), queryLabel = 0, nq = 8)
  }

  /** One MMR selection step as a SQL template (the pagerank/Lloyd
    * unrolled-round pattern): score every unselected candidate by
    * 0.7·rel − 0.3·(max cosine to the selected set), take the argmax
    * with a vec_id tie-break. */
  private val MmrStep =
    """mK AS (
      |  SELECT c.vec_id, c.rel, max(p.cos) AS mx
      |  FROM cand c JOIN pcd p ON p.a = c.vec_id
      |    AND p.b IN (SELECT vec_id FROM selJ)
      |  WHERE c.vec_id NOT IN (SELECT vec_id FROM selJ)
      |  GROUP BY c.vec_id, c.rel
      |), sK AS (
      |  SELECT vec_id, rel, K AS step FROM mK
      |  ORDER BY 0.7 * rel - 0.3 * mx DESC, vec_id LIMIT 1
      |), selK AS (
      |  SELECT vec_id FROM selJ UNION ALL SELECT vec_id FROM sK
      |)""".stripMargin

  private def mmrStep(k: Int): String =
    MmrStep.replace("mK", s"m$k").replace("sK", s"s$k")
      .replace("selK", s"sel$k").replace("selJ", s"sel${k - 1}")
      .replace(" K AS step", s" $k AS step")

  /** The greedy MMR core over a bounded candidate shortlist of
    * (vec_id, vector, norm, rel): pick `k`, each maximizing
    * 0.7·rel − 0.3·(max cos to the picked set), vec_id tie-break.
    * Pairwise cosines use the SAME left-fold accumulation as the
    * distributed DotProduct / DuckDB's list_dot_product, so every score
    * is bit-identical to the oracle's replay. Exposed for EdgeSpec's
    * planted-diversity pin. */
  private[graft] def mmrGreedy(rows: Array[(Long, Array[Double], Double, Double)],
      k: Int): Vector[(Long, Double)] = {
    def dotSeq(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    val byId = rows.map(r => r._1 -> r).toMap
    def cosOf(x: Long, y: Long): Double = {
      val (_, xv, xn, _) = byId(x); val (_, yv, yn, _) = byId(y)
      dotSeq(xv, yv) / (xn * yn)
    }
    var selected = Vector(
      rows.map(r => (r._1, r._4)).sortBy { case (id, rel) => (-rel, id) }.head)
    for (_ <- 2 to k) {
      val pick = rows.iterator
        .filterNot(r => selected.exists(_._1 == r._1))
        .map { r =>
          val mx = selected.map(sel => cosOf(r._1, sel._1)).max
          (r._1, r._4, 0.7 * r._4 - 0.3 * mx)
        }
        .toSeq.sortBy { case (id, _, score) => (-score, id) }.head
      selected :+= ((pick._1, pick._2))
    }
    selected
  }

  /** Maximal-marginal-relevance rerank — the diversity-selection stage a
    * training-data pipeline runs AFTER retrieval (near-duplicate
    * retrieved items waste the data budget; MMR trades relevance against
    * redundancy): from the top-50 cosine candidates of `sim_search`'s
    * query, greedily pick 5, each maximizing 0.7·rel − 0.3·(max cos to
    * the already-picked set), vec_id tie-break.
    *
    * Scale split: candidate RETRIEVAL is the distributed part (broadcast
    * 1-row query, scan-side cosines, TakeOrderedAndProject top-50 — the
    * sim_search shape at any corpus size). The greedy selection itself is
    * inherently sequential over the 50-row shortlist, so it runs on the
    * driver over BOUNDED collects (50 rel rows + 50 vectors → 1225
    * pairwise cosines, the `pqQueryTopK` bounded-collect class); each pairwise
    * dot is the same left-fold accumulation as the distributed
    * DotProduct, so every score is bit-identical to the oracle's
    * list_dot_product replay. The oracle unrolls the 4 greedy steps as
    * CTE rounds (the sim_ann_kmeans pattern). */
  val simRerankMmr = QueryDef(
    "sim_rerank_mmr",
    s"""$vecCte,
       |q AS (SELECT ve, nrm FROM n WHERE vec_id = 0),
       |cand AS (
       |  SELECT b.vec_id, b.ve, b.nrm,
       |         list_dot_product(q.ve, b.ve) / (q.nrm * b.nrm) AS rel
       |  FROM n b, q WHERE b.vec_id <> 0
       |  ORDER BY rel DESC, b.vec_id LIMIT 50
       |), pcd AS (
       |  SELECT a.vec_id AS a, b.vec_id AS b,
       |         list_dot_product(a.ve, b.ve) / (a.nrm * b.nrm) AS cos
       |  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id
       |), s1 AS (
       |  SELECT vec_id, rel, 1 AS step FROM cand ORDER BY rel DESC, vec_id LIMIT 1
       |), sel1 AS (SELECT vec_id FROM s1),
       |${mmrStep(2)},
       |${mmrStep(3)},
       |${mmrStep(4)},
       |${mmrStep(5)}
       |SELECT CAST(step AS INT) AS step, vec_id, round(rel, 4) AS rel
       |FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2
       |      UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4
       |      UNION ALL SELECT * FROM s5)
       |ORDER BY step""".stripMargin) { (s, d) =>
    val n = vecs(s, d)
    val q = n.filter(col("vec_id") === 0)
      .select(col("ve").as("qve"), col("nrm").as("qnrm"))
    val cand = n.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("ve"), col("nrm"),
        (dot(col("qve"), col("ve")) / (col("qnrm") * col("nrm"))).as("rel"))
      .orderBy(col("rel").desc, col("vec_id"))
      .limit(50)
    // bounded collect (50 rows): the greedy stage's working set
    val rows = cand.collect().map { r =>
      (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2), r.getDouble(3))
    }
    val selected = mmrGreedy(rows, k = 5)
    import s.implicits._
    selected.zipWithIndex
      .map { case ((id, rel), ix) => (ix + 1, id, rel) }
      .toDF("step", "vec_id", "rel_raw")
      // Spark round ≡ DuckDB round (the established 4dp boundary rule) —
      // never a hand-rolled rint on the driver
      .select(col("step"), col("vec_id"), round(col("rel_raw"), 4).as("rel"))
  }

  /** One-row pair-set recall report — the shared shape of the dedup
    * recall gates (`dedup_embed_lsh_recall`, `dedup_minhash_recall`):
    * |exact pairs|, |approx pairs|, |overlap| and integer recall
    * percent. Both inputs localCheckpoint (each feeds a count AND the
    * overlap join — Spark does no cross-subtree CSE, so the expensive
    * kernels would otherwise execute twice). A degenerate empty exact
    * set reports the vacuous 100 (matching the constant-form oracles)
    * instead of a NULL division. */
  def pairRecallReport(exactPairs: DataFrame, approxPairs: DataFrame): DataFrame = {
    val e = exactPairs.select("i", "j").localCheckpoint()
    val a = approxPairs.select("i", "j").localCheckpoint()
    e.agg(count(lit(1)).as("n_exact"))
      .crossJoin(a.agg(count(lit(1)).as("n_lsh")))
      .crossJoin(e.join(a, Seq("i", "j")).agg(count(lit(1)).as("n_overlap")))
      .select(col("n_exact"), col("n_lsh"), col("n_overlap"),
        when(col("n_exact") === 0, lit(100L))
          .otherwise(expr("(100 * n_overlap) div n_exact")).as("recall_pct"))
  }

  /** Deterministic ±1 Johnson–Lindenstrauss sign matrix (16 × 64): entry
    * (j, i) is the parity of the first md5 byte of "j:i" — computed ONCE
    * here and embedded as literals in BOTH engines, so the projection is
    * a shared constant rather than a per-row hash computation. At 100 TB
    * this is exactly how JL deploys: the matrix is a broadcast constant
    * folded into codegen, the projection a narrow per-row map. */
  private[ops] val jlSigns: IndexedSeq[IndexedSeq[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until 16).map(j => (0 until 64).map { i =>
      val b = md.digest(s"$j:$i".getBytes("UTF-8"))(0)
      1.0 - 2.0 * (((b & 0xff) % 2).toDouble)
    })
  }

  /** JL RANDOM PROJECTION with a measured distortion gate — the
    * dimensionality-reduction member the sketch family lacks
    * (`sim_pca_power` learns directions from data; JL needs none): each
    * 64-d embedding maps to 16 dims through the fixed ±1 sign matrix,
    * and for every consecutive-id pair the relation carries ‖Δx‖²,
    * the unbiased estimate ‖Δy‖²/16, their ratio and the |ratio−1| ≤ 0.5
    * distortion boolean — BOTH branches live (measured ~85% within,
    * matching the m=16 JL variance 2/m), and both engines compute the
    * identical doubles because every dot product is the same sequential
    * fold (DotProduct ↔ list_dot_product) over identical operands.
    * Projections are computed per vector THEN differenced (the serving
    * shape — linearity holds only in exact arithmetic, so the oracle
    * mirrors the same order of operations). One narrow projection +
    * one vec_id-keyed self-join; no window, no global sort. */
  val simJlProjection = QueryDef(
    "sim_jl_projection",
    {
      val yList = jlSigns.map(row =>
        "list_dot_product(ve, [" + row.map(s => if (s > 0) "1.0" else "-1.0").mkString(",") + "])")
        .mkString("[", ",\n      |    ", "]")
      s"""WITH v AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
      |  FROM embeddings
      |), p AS (
      |  SELECT vec_id, ve,
      |    $yList AS y
      |  FROM v
      |), pr AS (
      |  SELECT a.vec_id AS i, b.vec_id AS j,
      |    list_dot_product(list_transform(range(1, 65), k -> a.ve[k] - b.ve[k]),
      |                     list_transform(range(1, 65), k -> a.ve[k] - b.ve[k])) AS d2_orig,
      |    list_dot_product(list_transform(range(1, 17), k -> a.y[k] - b.y[k]),
      |                     list_transform(range(1, 17), k -> a.y[k] - b.y[k])) / 16 AS d2_est
      |  FROM p a JOIN p b ON b.vec_id = a.vec_id + 1
      |)
      |SELECT i, j, round(d2_orig, 6) AS d2_orig, round(d2_est, 6) AS d2_est,
      |  round(d2_est / d2_orig, 4) AS ratio,
      |  abs(d2_est / d2_orig - 1) <= 0.5 AS within_05
      |FROM pr WHERE d2_orig > 0 ORDER BY i""".stripMargin
    }) { (s, d) =>
    val v = Tables.embeddings(s, d)
      .select(col("vec_id"), vecD(col("embedding")).as("ve"))
    val yCols = jlSigns.map(row =>
      dot(col("ve"), array(row.map(lit(_)): _*)))
    val p = v.select(col("vec_id"), col("ve"), array(yCols: _*).as("y"))
    val a = p.select(col("vec_id").as("i"), col("ve").as("ave"), col("y").as("ay"))
    val b = p.select(col("vec_id").as("j"), col("ve").as("bve"), col("y").as("by"))
    val pr = a.join(b, col("j") === col("i") + 1)
      .select(col("i"), col("j"),
        dot(zip_with(col("ave"), col("bve"), _ - _),
          zip_with(col("ave"), col("bve"), _ - _)).as("d2_orig"),
        (dot(zip_with(col("ay"), col("by"), _ - _),
          zip_with(col("ay"), col("by"), _ - _)) / 16).as("d2_est"))
    // identical consecutive vectors (d2_orig = 0) would make the ratio
    // 0/0 — NaN in Spark, engine-dependent in SQL dialects; a zero
    // distance carries no distortion information, so the pair is
    // excluded in BOTH engines (dormant on current fixtures, guarded
    // against a fixture regen)
    pr.filter(col("d2_orig") > 0)
      .select(col("i"), col("j"),
        round(col("d2_orig"), 6).as("d2_orig"), round(col("d2_est"), 6).as("d2_est"),
        round(col("d2_est") / col("d2_orig"), 4).as("ratio"),
        (abs(col("d2_est") / col("d2_orig") - 1) <= 0.5).as("within_05"))
      .orderBy("i")
  }

  /** HARD-NEGATIVE MINING — the triplet/contrastive-training data op
    * (for each anchor, the most-similar vectors of a DIFFERENT label
    * are exactly the negatives that carry gradient; random negatives
    * are trivially separable): per anchor from the bounded query set,
    * the top-3 cross-label candidates by cosine, ranked. Label-aware
    * where `sim_knn` is label-blind — the mined relation is what a
    * dataloader joins against at training time. Scale: the 20-row
    * anchor set broadcasts against the streaming corpus (the
    * sim_search shape ×20), then one anchor-keyed top-k rank (20
    * partitions, WindowGroupLimit heaps); no corpus×corpus pair ever
    * forms. */
  val simHardNegatives = QueryDef(
    "sim_hard_negatives",
    s"""$vecCte
       |SELECT anchor, rnk, neg_id, neg_label, cos FROM (
       |  SELECT a.vec_id AS anchor,
       |         b.vec_id AS neg_id, b.label AS neg_label,
       |         round(list_dot_product(a.ve, b.ve) / (a.nrm * b.nrm), 4) AS cos,
       |         row_number() OVER (
       |           PARTITION BY a.vec_id
       |           ORDER BY list_dot_product(a.ve, b.ve) / (a.nrm * b.nrm) DESC,
       |                    b.vec_id) AS rnk
       |  FROM n a JOIN n b ON b.label <> a.label
       |  WHERE a.vec_id < 20
       |) WHERE rnk <= 3
       |ORDER BY anchor, rnk""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val n = vecs(s, d)
    val anchors = n.filter(col("vec_id") < 20)
      .select(col("vec_id").as("anchor"), col("label").as("albl"),
        col("ve").as("ave"), col("nrm").as("anrm"))
    val w = Window.partitionBy("anchor")
      .orderBy(col("cos_raw").desc, col("neg_id"))
    n.crossJoin(broadcast(anchors))
      .filter(col("label") =!= col("albl"))
      .select(col("anchor"), col("vec_id").as("neg_id"), col("label").as("neg_label"),
        (dot(col("ave"), col("ve")) / (col("anrm") * col("nrm"))).as("cos_raw"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select(col("anchor"), col("rnk"), col("neg_id"), col("neg_label"),
        round(col("cos_raw"), 4).as("cos"))
      .orderBy("anchor", "rnk")
  }

  val all: Seq[QueryDef] = Seq(simKnn, simSearch, multimodalJoin, simMaxSim,
    simRerankMmr, simJlProjection, simHardNegatives)
}
