package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.streaming.StreamOps

/** Approximate nearest-neighbor search — the scale path beside the exact
  * `sim_search` baseline (NORTH-STAR surface).
  *
  * IVF (inverted-file) layout: pick C coarse centroids, assign every
  * vector to its nearest centroid (one bucket each), and at query time
  * scan only the `nprobe` buckets whose centroids are nearest the query.
  * At 100 TB the assignment is one broadcast join (C centroids) + one
  * shuffle keyed by bucket, and a query touches nprobe/C of the data.
  * Centroid selection here is deterministic (the first C vectors by id —
  * a stand-in for k-means||; the operator contract is unchanged).
  */
object Ann {

  /** (vec_id, ve double[], nrm) — shared vector prep. */
  def prep(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), Similarity.vecD(col("embedding")).as("ve"))
      .select(col("vec_id"), col("ve"), Similarity.l2norm(col("ve")).as("nrm"))

  /** The oracle's `WITH v0`: vec_id and the embedding as DOUBLE[]. */
  private def v0Cte: String =
    """WITH v0 AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
      |  FROM embeddings
      |)""".stripMargin

  /** `v0` plus `v` (vec_id, ve, nrm) — the oracle mirror of `prep`. */
  private def vCtes: String =
    s"""$v0Cte, v AS (
       |  SELECT vec_id, ve, sqrt(list_dot_product(ve, ve)) AS nrm FROM v0
       |)""".stripMargin

  /** The query set of every multi-query Ann gate. */
  private val Qids: Seq[Long] = Seq(0L, 101L, 202L)

  private def qidList: String = Qids.mkString("(", ", ", ")")

  /** `qs` (qid, qve, qnrm): the query vectors of `Qids`. */
  private def qsCte: String =
    s"""qs AS (
       |  SELECT vec_id AS qid, ve AS qve, nrm AS qnrm FROM v
       |  WHERE vec_id IN $qidList
       |)""".stripMargin

  /** `probed` (qid, cid): each query's 4 nearest trained centroids of
    * `c3` — the serving probe of every two-level index gate. */
  private def probedCte: String =
    """probed AS (SELECT qid, cid FROM (
      |  SELECT q.qid, c.cid, row_number() OVER (PARTITION BY q.qid
      |    ORDER BY list_dot_product(q.qve, c.cve) / (q.qnrm * c.cnrm) DESC, c.cid) AS rn
      |  FROM qs q, c3 c) WHERE rn <= 4)""".stripMargin

  /** Nearest-centroid assignment by cosine against an explicit centroid
    * relation (cid, cve, cnrm) — centroids broadcast, ties → lowest cid.
    * Output: (vec_id, ve, nrm, bucket).
    *
    * The rank-1 argmax is a COMBINABLE max-struct aggregate over the
    * skinny (vec_id, cid, ccos) relation, with the vectors joined back
    * at NODE level: a rank window would shuffle all n·c crossJoin rows —
    * carrying ve/nrm whenever a consumer used them downstream, which at
    * the c-scaled 100× study point is a corpus×c vector-width exchange.
    * Partial aggregation collapses each
    * scan partition to one row per vec_id BEFORE the exchange, so the
    * assignment shuffle is n skinny rows however large c grows.
    * Tie-break identical to the window form (ccos DESC, cid ASC): the
    * struct max compares ccos first, then −cid; both shapes compare the
    * same doubles, and both order NaN greatest. */
  def assignTo(v: DataFrame, cents: DataFrame): DataFrame = {
    val best = v.select("vec_id", "ve", "nrm").crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cid"),
        (Similarity.dot(col("ve"), col("cve")) / (col("nrm") * col("cnrm"))).as("ccos"))
      .groupBy("vec_id")
      .agg(max(struct(col("ccos"), (-col("cid")).as("ncid"))).as("b"))
      .select(col("vec_id"), (-col("b.ncid")).as("bucket"))
    v.select("vec_id", "ve", "nrm").join(best, Seq("vec_id"))
      .select(col("vec_id"), col("ve"), col("nrm"), col("bucket"))
  }

  /** Anchor count of the two-level coarse quantizer: g = ⌈√c⌉, the
    * classic inverted-multi-index split that balances the two probe
    * stages (g anchor dots + ~c/g within-group dots per point). */
  def anchorCount(c: Long): Int = math.ceil(math.sqrt(c.toDouble)).toInt

  /** TWO-LEVEL (hierarchical) nearest-centroid assignment — the
    * production build path of a large-c IVF index (faiss trains an
    * HNSW/IMI coarse quantizer over the centroids for exactly this
    * reason; Babenko & Lempitsky's inverted multi-index is the
    * published form): with c(n) = n/200 centroids the flat `assignTo`
    * costs n·c ∝ n²/200 dot products — the one remaining superlinear
    * build in the ANN family. Here the g = ⌈√c⌉ lowest-cid centroids
    * act as ANCHORS (the seed convention applied to the centroid
    * relation itself); each centroid groups under its nearest anchor,
    * and each point routes nearest-anchor → best centroid WITHIN that
    * anchor's group: n·(g + c/g) ≈ 2n√c dots, restoring a sub-quadratic
    * build (n^1.5/√200) that shards by vec_id like any scan.
    *
    * Totality (every point gets a bucket): a point can only route to an
    * anchor id, and `centroidGroups` pins every anchor's own centroid
    * to its own group UNCONDITIONALLY — so the within-group candidate
    * set of a routed point is never empty, independent of any
    * floating-point tie convention (see centroidGroups' scaladoc for
    * why the weaker colinear-tie argument was not enough). AnnSpec pins
    * a duplicate-anchor fixture; sim_ann_ivf2 gates the count against
    * the corpus-side oracle count.
    *
    * Determinism: both argmax stages are the same combinable max-struct
    * aggregate as `assignTo` (ties → lowest id, NaN greatest), and the
    * per-point result depends only on (point, model) — per-row
    * independent, so base ∪ increment decomposition (the upsert keys'
    * contract) holds exactly as it does for the flat form. The oracle
    * mirror is `twoLevelAfCtes`. Output: the skinny (vec_id, bucket).
    *
    * Shuffle audit: the anchor stage is one partial-aggregating
    * exchange of n SKINNY rows (the assignTo discipline); the group
    * stage joins the anchor choice back to the vectors and re-uses the
    * vec_id hash partitioning for its own aggregate (no extra
    * exchange); centroids and groups ride broadcasts. */
  /** The g lowest-cid centroids as the anchor relation (aid, ave, anrm). */
  def anchorsOf(cents: DataFrame, g: Int): DataFrame =
    broadcast(cents.orderBy(col("cid")).limit(g)
      .select(col("cid").as("aid"), col("cve").as("ave"), col("cnrm").as("anrm")))

  /** Centroid → anchor group (cid, gid): every ANCHOR is pinned to its
    * OWN group unconditionally; only non-anchor centroids route by
    * argmax cosine (ties → lowest aid). The pin is what makes totality
    * unconditional rather than tie-convention-dependent: cosines are
    * computed from different operand bits at the centroid stage and the
    * point stage, so two COLINEAR-but-not-bitwise-identical anchors
    * (possible after milli-quantized Lloyd means) could otherwise
    * round an ulp apart in the two stages and leave a routed-to anchor
    * with an empty group. With the pin, any
    * gid a point can route to holds at least that anchor's centroid. */
  def centroidGroups(cents: DataFrame, anch: DataFrame): DataFrame = {
    val self = anch.select(col("aid").as("cid"), col("aid").as("gid"))
    cents.join(anch.select(col("aid").as("cid")), Seq("cid"), "left_anti")
      .crossJoin(anch)
      .select(col("cid"),
        (Similarity.dot(col("cve"), col("ave")) / (col("cnrm") * col("anrm"))).as("acos"),
        col("aid"))
      .groupBy("cid")
      .agg(max(struct(col("acos"), (-col("aid")).as("naid"))).as("b"))
      .select(col("cid"), (-col("b.naid")).as("gid"))
      .unionByName(self)
  }

  /** The two-level routing against a PRE-BUILT (anchors, grouped
    * centroids) pair — the per-microbatch form: the model structure is
    * frozen, so a streaming ingester derives (anch, centsG) once and
    * routes every batch through this without re-counting or
    * re-broadcasting. Output is the SKINNY
    * (vec_id, bucket) index relation — unlike `assignTo` there is no
    * vector-carrying rejoin, because every index-build consumer drops
    * ve/nrm immediately and the rejoin would cost one full-corpus
    * exchange per build. */
  def twoLevelAssignWith(v: DataFrame, anch: DataFrame,
      centsG: DataFrame): DataFrame = {
    // point → anchor (n·g dots, one skinny partial-agg exchange)
    val pa = v.select("vec_id", "ve", "nrm").crossJoin(anch)
      .select(col("vec_id"), col("aid"),
        (Similarity.dot(col("ve"), col("ave")) / (col("nrm") * col("anrm"))).as("acos"))
      .groupBy("vec_id")
      .agg(max(struct(col("acos"), (-col("aid")).as("naid"))).as("b"))
      .select(col("vec_id"), (-col("b.naid")).as("gid"))
    // point → best centroid within its group (n·(c/g) candidate rows;
    // the broadcast gid join preserves the vec_id partitioning, so the
    // final argmax aggregates without another exchange)
    v.select("vec_id", "ve", "nrm").join(pa, Seq("vec_id"))
      .join(centsG, Seq("gid"))
      .select(col("vec_id"), col("cid"),
        (Similarity.dot(col("ve"), col("cve")) / (col("nrm") * col("cnrm"))).as("ccos"))
      .groupBy("vec_id")
      .agg(max(struct(col("ccos"), (-col("cid")).as("ncid"))).as("b"))
      .select(col("vec_id"), (-col("b.ncid")).as("bucket"))
  }

  /** Derives the frozen routing structure from the model: the anchor
    * relation and the grouped-centroid broadcast `twoLevelAssignWith`
    * routes against. One tiny count job on the driver-held model DF. */
  def twoLevelStructure(cents: DataFrame): (DataFrame, DataFrame) = {
    val anch = anchorsOf(cents, anchorCount(cents.count()))
    (anch, broadcast(cents.join(centroidGroups(cents, anch), Seq("cid"))))
  }

  def twoLevelAssign(v: DataFrame, cents: DataFrame): DataFrame = {
    val (anch, centsG) = twoLevelStructure(cents)
    twoLevelAssignWith(v, anch, centsG)
  }

  /** Centroid relation from data-vector ids (the deterministic seed). */
  def centroidsFromIds(v: DataFrame, centroidIds: Seq[Long]): DataFrame =
    v.filter(col("vec_id").isin(centroidIds: _*))
      .select(col("vec_id").as("cid"), col("ve").as("cve"), col("nrm").as("cnrm"))

  /** Top-k by cosine for the query vector against an explicit centroid
    * relation, scanning only the nprobe buckets nearest the query. */
  /** The nprobe coarse buckets nearest a prepped 1-row query relation
    * (qve, qnrm), by centroid cosine with the centroid-id tie-break —
    * the probe stage is a hash-gated determinism contract shared by
    * `ivfTopKWith` AND the composed `sim_ann_ivf_pq`, so it has exactly
    * one implementation. */
  def probedBuckets(cents: DataFrame, q: DataFrame, nprobe: Int): DataFrame =
    cents.crossJoin(broadcast(q))
      .select(col("cid").as("pbucket"),
        (Similarity.dot(col("qve"), col("cve")) / (col("qnrm") * col("cnrm"))).as("pcos"))
      .orderBy(col("pcos").desc, col("pbucket"))
      .limit(nprobe)
      .select("pbucket")

  def ivfTopKWith(emb: DataFrame, queryId: Long, cents: DataFrame,
      nprobe: Int, k: Int): DataFrame = {
    val v = prep(emb)
    val assigned = assignTo(v, cents)
    val q = v.filter(col("vec_id") === queryId)
      .select(col("ve").as("qve"), col("nrm").as("qnrm"))
    val probed = probedBuckets(cents, q, nprobe)
    assigned
      .join(broadcast(probed), col("bucket") === col("pbucket"))
      .filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(Similarity.dot(col("qve"), col("ve")) / (col("qnrm") * col("nrm")), 4).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
  }

  /** Top-k by cosine with data-vector centroids (the gated, oracle-
    * mirrored form: centroid = the first C vectors by id). */
  def ivfTopK(emb: DataFrame, queryId: Long, centroidIds: Seq[Long],
      nprobe: Int, k: Int): DataFrame =
    ivfTopKWith(emb, queryId, centroidsFromIds(prep(emb), centroidIds), nprobe, k)

  /** The broadcast query vectors (qid, qve, qnrm) of `qids`. */
  private def queryVecs(v: DataFrame, qids: Seq[Long]): DataFrame =
    broadcast(v.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("qid"), col("ve").as("qve"),
        col("nrm").as("qnrm")))

  /** Each query's `nprobe` nearest centroids by cosine, (pcos DESC, cid)
    * order: (qid, cid, pcos, pr) with pr the probe rank. */
  private def probedCentroids(q: DataFrame, cents: DataFrame,
      nprobe: Int): DataFrame =
    q.crossJoin(broadcast(cents))
      .select(col("qid"), col("cid"),
        (Similarity.dot(col("qve"), col("cve")) / (col("qnrm") * col("cnrm")))
          .as("pcos"))
      .withColumn("pr", row_number().over(
        Window.partitionBy("qid").orderBy(col("pcos").desc, col("cid"))))
      .filter(col("pr") <= nprobe)

  /** Multi-query IVF top-k over an EXPLICIT index relation
    * (vec_id, bucket) — the serving read path of `sim_ann_upsert`,
    * where the index is a maintained artifact (landed base lists +
    * assign-only increment) rather than derived inline. Per-query
    * probe is the rank-≤-nprobe centroid window over the broadcast
    * (queries × centroids) relation; the index joins the broadcast
    * probe list on bucket, vectors join back at candidate level, and
    * the top-k is a per-qid window over nprobe/c of the corpus. */
  def ivfTopKMulti(v: DataFrame, index: DataFrame, cents: DataFrame,
      qids: Seq[Long], nprobe: Int, k: Int): DataFrame = {
    val q = queryVecs(v, qids)
    val probed = broadcast(probedCentroids(q, cents, nprobe)
      .select(col("qid"), col("cid").as("bucket")))
    val rnK = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
    index.join(probed, Seq("bucket"))
      .join(v, Seq("vec_id"))
      .join(q, Seq("qid"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        round(Similarity.dot(col("qve"), col("ve")) /
          (col("qnrm") * col("nrm")), 4).as("cos"))
      .withColumn("rn", row_number().over(rnK)).filter(col("rn") <= k)
      .select("qid", "vec_id")
  }

  /** Hash-stable Lloyd refinement (the agg_regression integer-moments
    * pattern applied to k-means): each round is one broadcast-assign pass
    * with centroid STATE held on the driver between rounds (c·dim
    * doubles — the MLlib KMeans pattern; the data is never collected),
    * which keeps the lineage flat. The centroid UPDATE accumulates
    * per-dimension INTEGER sums of milli-quantized components
    * (q = round(x·1000) as BIGINT) instead of double sums, so the
    * aggregation is exact at any partitioning and the rebuilt centroid
    * component (s / 1000.0) / n is two correctly-rounded IEEE divisions
    * on identical operands in both engines. Assignment keeps the RAW
    * vectors (cosine rank vs the exact-derived centroids — the same
    * left-to-right dot fold `sim_ann_ivf` already hash-gates), so the
    * only approximation the quantization introduces is in WHERE the
    * centroids sit (≤0.5e-3 per component per round — far below the
    * bucket-boundary scale), not in what the query measures. This is
    * what converts `sim_ann_kmeans` from a recall-gated no-oracle key to
    * a fully hash-gated one: every Lloyd round is reproducible SQL.
    * Driver state per round: c·dim mean components + the flat
    * (cid, sub, mean) collect is c·dim rows. Seed = the first c vectors
    * in vec_id order (NOT `vec_id < c`, which yields fewer seeds when
    * low ids are absent). Zero input vectors give zero centroids: the
    * typed empty (cid, cve, cnrm) relation, which every consumer then
    * carries through as an empty index. */
  def kmeansCentroidsQuantized(v: DataFrame, c: Int, iters: Int): DataFrame = {
    val s = v.sparkSession
    import s.implicits._
    // flat (vec_id, sub, q) relation: one row per vector component,
    // q exact integer — the PQ flat-relation trick, reused
    val qv = v.select(col("vec_id"), posexplode(col("ve")))
      .select(col("vec_id"), col("pos").as("sub"),
        round(col("col") * 1000).cast("long").as("q"))
    def toDf(cents: Seq[(Long, Array[Double])]): DataFrame =
      broadcast(cents.toDF("cid", "cve")
        .select(col("cid"), col("cve"), Similarity.l2norm(col("cve")).as("cnrm")))
    var cents = v.orderBy(col("vec_id")).limit(c)
      .select(col("vec_id").as("cid"), col("ve").as("cve"))
      .as[(Long, Array[Double])].collect().toSeq
    var i = 0
    while (i < iters && cents.nonEmpty) {
      val assigned = assignTo(v, toDf(cents))
        .select(col("vec_id"), col("bucket").as("cid"))
      // exact integer sums per (cluster, dimension); the mean components
      // derive on the driver from c·dim bounded rows (empty clusters
      // drop out — no member rows, no group)
      val flat = assigned.join(qv, Seq("vec_id"))
        .groupBy("cid", "sub")
        .agg(sum(col("q")).as("s"), count(lit(1)).as("n"))
        .select(col("cid"), col("sub"),
          (col("s").cast("double") / lit(1000.0) / col("n")).as("m"))
        .as[(Long, Int, Double)].collect()
      cents = flat.groupBy(_._1).map { case (cid, rows) =>
        val arr = new Array[Double](rows.map(_._2).max + 1)
        rows.foreach { case (_, sub, m) => arr(sub) = m }
        (cid, arr)
      }.toSeq.sortBy(_._1)
      i += 1
    }
    toDf(cents)
  }

  // ---- Hyperplane LSH: sub-quadratic candidate generation for the
  // high-cosine regime (real near-dup corpora). On near-orthogonal data
  // at low thresholds it degrades to ~all pairs — see Similarity's
  // scaladoc for why the gated exact queries stay on the blocked kernel.

  /** splitmix64 — deterministic pseudo-random stream for hyperplanes. */
  private def mix64(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Deterministic Rademacher (±1) hyperplane `plane` of dimension dim.
    * The per-plane stream is seeded through its OWN mix64 pass before the
    * component index enters, so planes never share a component stream at
    * any dim (a linear `plane*K + cIdx` scheme overlaps once dim > K,
    * silently correlating planes for common embedding dims like 256/768
    * and degrading LSH recall). */
  private def hyperplane(seed: Long, plane: Int, dim: Int): Array[Double] = {
    val planeSeed = mix64(seed + plane)
    Array.tabulate(dim)(cIdx => if (mix64(planeSeed + cIdx) < 0) -1.0 else 1.0)
  }

  /** (vec_id, band, bkey): signed-random-projection band keys. Bit r of a
    * band's key is [dot(ve, h) >= 0] for that band's r-th hyperplane —
    * rowsPerBand bits per band, `bands` bands. Collision probability for
    * a pair at angle θ is (1 − θ/π)^rowsPerBand per band.
    */
  def lshBands(v: DataFrame, dim: Int, bands: Int, rowsPerBand: Int,
      seed: Long = 42L): DataFrame = {
    // ONE flat plane matrix referenced by a single compact codegen
    // expression (LshBandKeys). Unrolled bands×rows DotProduct columns
    // blow the whole-stage-codegen size limit and run the projection
    // interpreted; the triple-loop expression keeps the stage codegen'd
    // at any bands/rows/dim, with identical key values (same left-to-right
    // accumulation, same >= 0 threshold, same splitmix64 planes).
    val flat: Array[Double] =
      Array.range(0, bands * rowsPerBand).flatMap(p => hyperplane(seed, p, dim))
    // repartition BEFORE the projection, with an EXPLICIT partition count:
    // the input rows are tiny and the projection is compute-dense
    // (bands×rows×dim multiply-adds per row) — AQE sizes shuffle
    // partitions by BYTES, so a byte-coalesced exchange would funnel the
    // stage into one task. Pinning to defaultParallelism spreads it
    // across every core; at real scale the count is the cluster's, not a
    // constant.
    val par = v.sparkSession.sparkContext.defaultParallelism
    v.repartition(par, col("vec_id"))
      .select(col("vec_id"),
        posexplode(graft.functions.LshBandKeys.bandKeys(
          col("ve"), flat, bands, rowsPerBand, dim)).as(Seq("band", "bkey")))
  }

  /** Candidate pairs (i < j) sharing any band key — the shuffle is keyed
    * by (band, bkey): bounded bucket joins, never all-pairs. */
  def lshCandidates(v: DataFrame, dim: Int, bands: Int = 16,
      rowsPerBand: Int = 8, seed: Long = 42L): DataFrame = {
    // the explicit (band, bkey) repartition materializes the band keys
    // ONCE into an Exchange that both sides of the self-join reuse —
    // without it each alias recomputes the projection and shuffles
    // separately
    val bk = lshBands(v, dim, bands, rowsPerBand, seed)
      .repartition(col("band"), col("bkey"))
    bk.as("x").join(bk.as("y"), Seq("band", "bkey"))
      .filter(col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("i"), col("y.vec_id").as("j"))
      .distinct()
  }

  /** LSH-bucketed embedding near-dup: banded candidates + exact-cosine
    * refilter. Same output contract as Dedup.embeddingNearDup whenever
    * every qualifying pair collides in some band (high-threshold regime;
    * EdgeSpec proves equality on planted near-dups). */
  def lshNearDup(emb: DataFrame, threshold: Double, dim: Int,
      bands: Int = 16, rowsPerBand: Int = 8, seed: Long = 42L): DataFrame = {
    val v = prep(emb)
    val cand = lshCandidates(v, dim, bands, rowsPerBand, seed)
    cand
      .join(v.select(col("vec_id").as("i"), col("ve").as("ive"), col("nrm").as("inrm")), Seq("i"))
      .join(v.select(col("vec_id").as("j"), col("ve").as("jve"), col("nrm").as("jnrm")), Seq("j"))
      .select(col("i"), col("j"),
        (Similarity.dot(col("ive"), col("jve")) / (col("inrm") * col("jnrm"))).as("cos_raw"))
      .filter(col("cos_raw") >= threshold)
      .select(col("i"), col("j"), round(col("cos_raw"), 4).as("cos"))
  }

  /** The embeddings table with a planted near-duplicate of every vector:
    * copy vec_id + 100000 is the original shifted by +0.01 per component —
    * cos(v, v') ≈ 0.9968 on this table, while the closest NON-planted pair
    * sits at ≈ 0.62 (measured at every SF), so threshold 0.99 makes the
    * exact near-dup relation exactly the planted (i, i+100000) pairs. This
    * manufactures the high-cosine regime the LSH path is FOR (the raw
    * table is near-orthogonal — see Similarity's scaladoc) out of the
    * mandated input tables, deterministically on both engines.
    */
  def plantNearDups(emb: DataFrame, offset: Long = 100000L, eps: Double = 0.01): DataFrame = {
    // IN-PLAN guard: a corpus with vec_id >= offset would silently
    // collide planted ids with real ones and corrupt the near-dup
    // relation — raise_error evaluates streaming in the scan stage (no
    // extra job at composition time; an eager max+collect would also
    // re-run once per timed bench rep) and fails the query loudly on
    // the first offending row.
    // NULL vec_id also lands in the otherwise branch (NULL < offset is
    // NULL, not true) — coalesce keeps the diagnostic message non-null
    val guarded = when(col("vec_id") < offset, col("vec_id"))
      .otherwise(raise_error(concat(
        lit("plantNearDups: vec_id "),
        coalesce(col("vec_id").cast("string"), lit("NULL")),
        lit(s" >= offset $offset — planted ids would collide"))).cast("long"))
    val v = emb.select(guarded.as("vec_id"),
      Similarity.vecD(col("embedding")).as("embedding"))
    v.union(v.select((col("vec_id") + offset).as("vec_id"),
      transform(col("embedding"), x => x + lit(eps)).as("embedding")))
  }

  val dedupEmbedLsh = QueryDef(
    "dedup_embed_lsh",
    // Oracle = the exact all-pairs cosine relation at the 0.99 threshold
    // over the planted union. The hyperplane-LSH candidate generator is an
    // optimization, not a semantics change; like dedup_minhash, the gate
    // pins DETERMINISTIC recall on the fixed corpora (splitmix64 planes,
    // no RNG) — a planted pair at cos 0.9968 misses all 16 bands with
    // p ≈ 2e-12 per fresh corpus, and equality vs exact is verified at
    // sf0.001/0.01/0.1.
    s"""$v0Cte, u AS (
      |  SELECT vec_id, ve FROM v0
      |  UNION ALL
      |  SELECT vec_id + 100000 AS vec_id, list_transform(ve, x -> x + 0.01) AS ve
      |  FROM v0
      |), n AS (
      |  SELECT vec_id, ve, sqrt(list_dot_product(ve, ve)) AS nrm FROM u
      |)
      |SELECT i, j, round(cos_raw, 4) AS cos FROM (
      |  SELECT a.vec_id AS i, b.vec_id AS j,
      |         list_dot_product(a.ve, b.ve) / (a.nrm * b.nrm) AS cos_raw
      |  FROM n a JOIN n b ON a.vec_id < b.vec_id
      |) WHERE cos_raw >= 0.99
      |ORDER BY i, j""".stripMargin) { (s, d) =>
    lshNearDup(plantNearDups(Tables.embeddings(s, d)), threshold = 0.99, dim = 64)
      .orderBy("i", "j")
  }

  /** Measured recall of the hyperplane-LSH banding against its exact
    * twin — `sim_ann_recall`'s discipline applied to the DEDUP family:
    * `dedup_embed_lsh` gates pairwise equality with the exact relation,
    * but nothing gated the recall METRIC itself. One row:
    * |exact pairs|, |LSH pairs|, |overlap|, and integer recall percent
    * over the planted high-cosine corpus. The oracle emits the exact
    * count in all three slots with recall 100 — the measured identity
    * the pairwise gate proves holds on these corpora (a planted pair at
    * cos 0.9968 misses all 16 bands with p ≈ 2e-12) — so a banding or
    * plane regression that drops ANY pair now fails the hash with a
    * readable recall number instead of a silent relation diff. Both
    * sides are the already-bounded kernels: the exact side is the
    * blocked all-pairs tile join, the LSH side is (band, bkey)-keyed
    * candidate generation + refilter; the overlap join is pair-bounded. */
  val dedupEmbedLshRecall = QueryDef(
    "dedup_embed_lsh_recall",
    s"""$v0Cte, u AS (
      |  SELECT vec_id, ve FROM v0
      |  UNION ALL
      |  SELECT vec_id + 100000 AS vec_id, list_transform(ve, x -> x + 0.01) AS ve
      |  FROM v0
      |), n AS (
      |  SELECT vec_id, ve, sqrt(list_dot_product(ve, ve)) AS nrm FROM u
      |), e AS (
      |  SELECT a.vec_id AS i, b.vec_id AS j
      |  FROM n a JOIN n b ON a.vec_id < b.vec_id
      |  WHERE list_dot_product(a.ve, b.ve) / (a.nrm * b.nrm) >= 0.99
      |), c AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_exact FROM e
      |)
      |SELECT n_exact, n_exact AS n_lsh, n_exact AS n_overlap,
      |       CAST(100 AS BIGINT) AS recall_pct
      |FROM c""".stripMargin) { (s, d) =>
    // Both pair relations LAND once per (session, dataset) — the
    // dedup_minhash_recall discipline (its mhlshp/mhexp landings): the
    // recall certification's dominant cost is re-deriving the exact and
    // LSH kernels on every invocation, and both derive deterministically
    // from the fixed planted corpus (splitmix64 planes, no RNG).
    // dedup_embed_lsh keeps its own UNLANDED derivation — it IS the
    // derivation under measurement; this key measures the RECALL.
    val exact = Landed.once(s, d, "ann.elshexp") {
      Dedup.embeddingNearDup(plantNearDups(Tables.embeddings(s, d)), 0.99)
        .select("i", "j")
    }
    val lsh = Landed.once(s, d, "ann.elshp") {
      lshNearDup(plantNearDups(Tables.embeddings(s, d)),
        threshold = 0.99, dim = 64).select("i", "j")
    }
    Similarity.pairRecallReport(exact, lsh)
  }

  /** `name` = each vector's nearest centroid by cosine (ties → lowest
    * cid) over the `from` pairing of `v` vectors and `c` centroids —
    * the one assignment expression of every Lloyd round and final `af`. */
  private def nearestCte(name: String, from: String): String =
    s"""$name AS (SELECT vec_id, cid FROM (
       |  SELECT v.vec_id, c.cid, row_number() OVER (PARTITION BY v.vec_id
       |    ORDER BY list_dot_product(v.ve, c.cve) / (v.nrm * c.cnrm) DESC, c.cid) AS rn
       |  FROM $from) WHERE rn = 1)""".stripMargin

  /** One Lloyd round of the oracle: assignment rank under the previous
    * centroids, exact integer per-dim sums, rebuilt mean components.
    * `src` is the TRAINING relation (the full corpus `v`, or the
    * bounded sample `vs`); `qv` must hold the quantized components of
    * the same relation. */
  private def kmeansRoundCte(r: Int, src: String): String =
    s"""${nearestCte(s"a$r", s"$src v, c${r - 1} c")},
       |s$r AS (SELECT a.cid, q.sub, CAST(sum(q.q) AS BIGINT) AS s,
       |               CAST(count(*) AS BIGINT) AS n
       |  FROM a$r a JOIN qv q USING (vec_id) GROUP BY a.cid, q.sub),
       |c$r AS (SELECT cid, cve, sqrt(list_dot_product(cve, cve)) AS cnrm FROM (
       |  SELECT cid, list(CAST(s AS DOUBLE) / 1000.0 / n ORDER BY sub) AS cve
       |  FROM s$r GROUP BY cid))""".stripMargin

  /** Bounded-sample Lloyd training: a sampled model trains on the
    * lowest-`TrainSample` vec_ids and ASSIGNS the full corpus —
    * SemDeDup's own recipe. With c(n) = max(8, n div 200) the per-round
    * train cost is TrainSample·c ∝ n (linear), instead of the unsampled
    * n·c ∝ n²/200 (measured at 175 s cold at 100×). The sample
    * predicate is the seed convention itself (lowest ids), replayed
    * identically by the oracle; at sf0.1 the sample (1024 of 2000
    * vectors) is LIVE inside the hash gate. When c(n) exceeds the
    * sample, the seed caps at the sample size in both engines (the
    * LIMIT c of a K-row relation). */
  private final val TrainSample = 1024

  /** Cluster-count CAP for the production serving build:
    * c_eff = min(max(8, n div 200), CapC). Uncapped c ∝ n is the
    * family's last asymptotic scale-killer — the grouped-centroid
    * relation `twoLevelAssignWith` broadcasts grows O(n) bytes (~2.5 GB
    * at 10⁹ vectors, past any broadcast threshold) and the build's
    * n·2√c dot work grows O(n^1.5). With the cap the broadcast is
    * constant-size and the build LINEAR: n·2√CapC dots, ~45/point here.
    * 512 (not SemDeDup's production ~10⁵) so the cap BINDS at the 100×
    * study fixture (200k vectors → uncapped c = 1000 > 512) — the
    * decade row then measures the capped regime, not a no-op; at the
    * gate SFs (c ≤ 10) the `least` is live in both engines but
    * non-binding, so the capped and scaled models coincide there by
    * construction. Production sizing scales CapC to the cluster budget
    * (FAISS guidance ~√n to 16√n, capped by centroid-table memory). */
  private[graft] final val CapC = 512

  /** c of the fixed-c model, and the data-vector seed count of the
    * `sim_ann_ivf` family (centroid = the first C vectors by id). */
  private final val NCentroids = 8
  private val centroidIds: Seq[Long] = (1L to NCentroids.toLong)

  /** One trained quantized-Lloyd IVF model, and the single definition
    * both engines build it from. A model is its corpus (`base`, an SQL
    * predicate over vec_id that Spark and DuckDB both evaluate; None =
    * every vector), its c rule (fixed 8, or `scaled` c = max(8, n div
    * 200) optionally capped) and whether Lloyd runs on the
    * lowest-`TrainSample` sample. From it:
    *  - `cents`: the model, trained once per (session, dataset);
    *  - `lists`: its two-level index over the corpus, landed once;
    *  - `oraclePrefix`: the DuckDB replay of both.
    * A trained index is shared by every key that serves from it (a
    * production system trains once and amortizes over the query
    * stream); training is deterministic, so sharing cannot move a hash.
    * Each model has its own memo and landing: the capped and scaled
    * models coincide at the gate SFs but are still trained apart, so
    * two builds never share state the gate does not prove they share. */
  private final case class IvfModel(tag: String, base: Option[String],
      scaled: Boolean, cap: Option[Int], sampled: Boolean) {

    private def corpus(s: SparkSession, d: String): DataFrame = {
      val v = prep(Tables.embeddings(s, d))
      base.fold(v)(p => v.filter(expr(p)))
    }

    /** The centroid relation (cid, cve, cnrm), 3 Lloyd rounds: a
      * broadcast local DF of driver-held state, safe to share. A
      * constant-c model runs no count and no checkpoint. */
    def cents(s: SparkSession, d: String): DataFrame =
      Memo.once(s, d, s"ann.kmc.$tag") {
        val v = if (scaled) corpus(s, d).localCheckpoint() else corpus(s, d)
        val c = if (!scaled) NCentroids else {
          val sc = math.max(8L, v.count() / 200L)
          cap.fold(sc)(k => math.min(sc, k.toLong)).toInt
        }
        val train =
          if (sampled) v.orderBy(col("vec_id")).limit(TrainSample).localCheckpoint()
          else v
        kmeansCentroidsQuantized(train, c, iters = 3)
      }

    /** The model's serving index (vec_id, bucket): its corpus routed by
      * `twoLevelAssign`, landed once per (session, dataset), so the
      * artifact never depends on which consumer runs first. */
    def lists(s: SparkSession, d: String): DataFrame = {
      val c = cents(s, d)
      Landed.once(s, d, s"ann.ivf.$tag") { twoLevelAssign(corpus(s, d), c) }
    }

    /** `WITH v0 …`: vector prep, the corpus (`vb`) and sample (`vs`)
      * relations, the quantized components `qv` of the training
      * relation, the seed `c0`, 3 unrolled Lloyd rounds to `c3` (every
      * round is bit-identical across engines, see
      * kmeansCentroidsQuantized) and, `withAf`, the final assignment
      * `af` of the FULL corpus `v`: flat for the constant-c model (n·8
      * dots), the two-level mirror of `lists` for the scaled ones. The
      * fixed model seeds with `IN (… LIMIT 8)`, the scaled ones with a
      * row_number cut at the data-derived c. */
    def oraclePrefix(withAf: Boolean = true): String = {
      val corp = if (base.isDefined) "vb" else "v"
      val train = if (sampled) "vs" else corp
      val vb = base.map(p =>
        s"""vb AS (
           |  SELECT vec_id, ve, nrm FROM v WHERE $p
           |)""".stripMargin)
      val vs = Option.when(sampled)(
        s"""vs AS (
           |  SELECT vec_id, ve, nrm FROM (
           |    SELECT vec_id, ve, nrm, row_number() OVER (ORDER BY vec_id) AS srn
           |    FROM $corp)
           |  WHERE srn <= $TrainSample
           |)""".stripMargin)
      val qv =
        s"""qv AS (
           |  SELECT vec_id, CAST(generate_subscripts(ve, 1) AS INT) AS sub,
           |         CAST(round(unnest(ve) * 1000) AS BIGINT) AS q
           |  FROM $train
           |)""".stripMargin
      val c0 = if (!scaled)
        s"""c0 AS (
           |  SELECT vec_id AS cid, ve AS cve, nrm AS cnrm FROM $train
           |  WHERE vec_id IN (SELECT vec_id FROM $train ORDER BY vec_id LIMIT $NCentroids)
           |)""".stripMargin
      else {
        val sc = "greatest(8, nv // 200)"
        s"""c0 AS (
           |  SELECT vec_id AS cid, ve AS cve, nrm AS cnrm FROM (
           |    SELECT vec_id, ve, nrm, row_number() OVER (ORDER BY vec_id) AS rn,
           |           (SELECT count(*) FROM $corp) AS nv
           |    FROM $train)
           |  WHERE rn <= ${cap.fold(sc)(k => s"least($sc, $k)")}
           |)""".stripMargin
      }
      val af = if (scaled) twoLevelAfCtes else nearestCte("af", "v, c3 c")
      val ctes = Seq(vCtes) ++ vb ++ vs ++ Seq(qv, c0)
      (Seq(ctes.mkString(", ")) ++ (1 to 3).map(kmeansRoundCte(_, train)) ++
        Option.when(withAf)(af)).mkString(",\n")
    }
  }

  private object IvfModel {
    val Fixed = IvfModel("fixed", None, scaled = false, cap = None, sampled = false)
    val Scaled = IvfModel("scaled", None, scaled = true, cap = None, sampled = true)
    /** The production build; see CapC. */
    val Capped = IvfModel("capped", None, scaled = true, cap = Some(CapC), sampled = true)
    /** `sim_ann_upsert`'s serving model: trained on the BASE corpus only
      * (vec_id % 10 ≠ 7) — a maintained index's model predates the rows
      * later upserted into it, so the increment must not influence
      * training. */
    val UpsertBase = IvfModel("upsb", Some("vec_id % 10 <> 7"), scaled = true,
      cap = None, sampled = true)
  }

  /** The oracle mirror of `twoLevelAssign`, appended after a prefix's
    * `c3`: `anch` = the ⌈√c⌉ lowest-cid centroids, `cg` = centroid →
    * nearest-anchor group, `pa` = point → nearest anchor, and the final
    * `af` = best centroid within the point's group — same tie-breaks
    * (cos DESC, id ASC) at every stage, so the CTE name `af` means
    * "the index lists" to every downstream consumer regardless of
    * which build produced it. */
  private def twoLevelAfCtes: String =
    s"""anch AS (SELECT cid AS aid, cve AS ave, cnrm AS anrm FROM (
       |  SELECT cid, cve, cnrm, row_number() OVER (ORDER BY cid) AS arn,
       |         (SELECT count(*) FROM c3) AS nc FROM c3)
       |  WHERE arn <= CAST(ceil(sqrt(nc)) AS BIGINT)),
       |cg AS (
       |  SELECT aid AS cid, aid AS gid FROM anch
       |  UNION ALL
       |  SELECT cid, aid AS gid FROM (
       |    SELECT c.cid, a.aid, row_number() OVER (PARTITION BY c.cid
       |      ORDER BY list_dot_product(c.cve, a.ave) / (c.cnrm * a.anrm) DESC, a.aid) AS rn
       |    FROM c3 c, anch a
       |    WHERE c.cid NOT IN (SELECT aid FROM anch)) WHERE rn = 1),
       |pa AS (SELECT vec_id, aid AS gid FROM (
       |  SELECT v.vec_id, a.aid, row_number() OVER (PARTITION BY v.vec_id
       |    ORDER BY list_dot_product(v.ve, a.ave) / (v.nrm * a.anrm) DESC, a.aid) AS rn
       |  FROM v v, anch a) WHERE rn = 1),
       |${nearestCte("af", "v v JOIN pa USING (vec_id) JOIN cg ON cg.gid = pa.gid" +
          "\n  JOIN c3 c ON c.cid = cg.cid")}""".stripMargin

  val simAnnKmeans = QueryDef(
    "sim_ann_kmeans",
    // The Lloyd UPDATE is exact integer sums of milli-quantized
    // components, so DuckDB replays all 3 rounds bit-identically — see
    // kmeansCentroidsQuantized. The 3 unrolled rounds (IvfModel.Fixed)
    // are the whole algorithm: assignment rank (the sim_ann_ivf
    // expression), integer moment sums, correctly-rounded mean rebuild.
    s"""${IvfModel.Fixed.oraclePrefix()},
       |q0 AS (SELECT ve AS qve, nrm AS qnrm FROM v WHERE vec_id = 0),
       |probed AS (
       |  SELECT cid AS pbucket FROM c3, q0
       |  ORDER BY list_dot_product(qve, cve) / (qnrm * cnrm) DESC, cid
       |  LIMIT 4)
       |SELECT af.vec_id, round(list_dot_product(qve, v.ve) / (qnrm * v.nrm), 4) AS cos
       |FROM af JOIN probed ON af.cid = pbucket JOIN v ON af.vec_id = v.vec_id, q0
       |WHERE af.vec_id <> 0
       |ORDER BY cos DESC, af.vec_id LIMIT 10""".stripMargin) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    ivfTopKWith(emb, queryId = 0L, IvfModel.Fixed.cents(s, d), nprobe = 4, k = 10)
  }

  /** SEMANTIC DEDUP (the SemDeDup recipe, Abbas et al. 2023 —
    * arXiv:2303.09540): cluster the embedding space with the trained
    * kmeans model, then find duplicate pairs ONLY within each cluster
    * (cos ≥ τ) and keep the lowest-id member of every duplicate
    * relation — the modern LLM-corpus dedup family that catches
    * paraphrases exact/MinHash dedup cannot see. The within-cluster
    * restriction IS the scale design: candidate generation is an
    * equi-join keyed by cluster id (n²/c pair work instead of n², and
    * each cluster's tile is one shuffle partition's local job — at
    * 100 TB c grows with the corpus, SemDeDup uses ~10⁵ clusters, and
    * the per-cluster work stays bounded). Keeper rule: a vector is
    * DROPPED iff a lower-id vector in ITS cluster sits at cos ≥ τ —
    * deterministic, single-pass, no iteration (the component-min
    * fixpoint `dedup_keeper` gates separately on the text side).
    *
    * Gated relation: per-cluster corpus accounting (n_vecs, qualifying
    * pair count, dropped, kept) — the dedup-rate report a corpus run
    * ships. The oracle replays the identical quantized-Lloyd model
    * (IvfModel.Fixed — bit-identical rounds), so cluster
    * membership, pairs and keepers all hash-match. τ = 0.5 because the
    * fixture embeddings are near-orthogonal (see Similarity's
    * scaladoc): 0.5 is this table's "semantic duplicate" regime, the
    * same threshold `dedup_embed` gates.
    *
    * Shuffle audit: one exchange keyed by cid feeds BOTH sides of the
    * self-join (explicit repartition → ReuseExchange) and both
    * aggregates reuse the cid partitioning; centroids ride a broadcast.
    */
  val dedupSemantic = QueryDef(
    "dedup_semantic",
    s"""${IvfModel.Fixed.oraclePrefix()},
       |$semanticDedupOracleBody""".stripMargin) { (s, d) =>
    val v = prep(Tables.embeddings(s, d))
    // the trained model is the cached per-(session, dataset) index the
    // kmeans ANN keys already share — SemDeDup amortizes the same way
    semanticDedupReport(v, IvfModel.Fixed.cents(s, d))
  }

  /** The SemDeDup per-cluster accounting over an explicit trained
    * model, FLAT-assigned — the fixed-c gate (`dedup_semantic`), where
    * c = 8 makes the n·c assignment trivially linear and the exact
    * nearest-centroid membership is the LOCAL semantics audit. The
    * c-scaled deploy gate routes through `semanticDedupReportOf` over
    * the two-level lists instead (see dedupSemanticScaled). */
  def semanticDedupReport(v: DataFrame, cents: DataFrame): DataFrame =
    semanticDedupReportOf(assignTo(v, cents)
      .select(col("bucket").as("cid"), col("vec_id"), col("ve"), col("nrm")))

  /** The SemDeDup per-cluster accounting over an EXPLICIT membership
    * relation (cid, vec_id, ve, nrm) — the kernel both gates share, so
    * they differ ONLY in how the membership was assigned (flat exact
    * vs two-level routed). */
  def semanticDedupReportOf(m0: DataFrame): DataFrame = {
    val m = m0.repartition(col("cid"))
    val pairs = m.as("x").join(m.as("y"),
        col("x.cid") === col("y.cid") && col("x.vec_id") < col("y.vec_id"))
      .filter(Similarity.dot(col("x.ve"), col("y.ve")) /
        (col("x.nrm") * col("y.nrm")) >= 0.5)
      .select(col("x.cid").as("cid"), col("x.vec_id").as("i"),
        col("y.vec_id").as("j"))
    val drp = pairs.groupBy("cid")
      .agg(count(lit(1)).as("n_pairs"), countDistinct(col("j")).as("n_dropped"))
    val sz = m.groupBy("cid").agg(count(lit(1)).as("n_vecs"))
    sz.join(drp, Seq("cid"), "left")
      .select(col("cid"), col("n_vecs"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
        (col("n_vecs") - coalesce(col("n_dropped"), lit(0L))).as("n_kept"))
      .orderBy("cid")
  }

  /** The per-cluster accounting CTEs appended after a model prefix's
    * `af` — shared text for every SemDeDup gate, so the three keys
    * (fixed-c / scaled / capped) differ ONLY in the prefix. */
  private def semanticDedupOracleBody: String =
    """m AS (
      |  SELECT af.cid, v.vec_id, v.ve, v.nrm FROM af JOIN v USING (vec_id)
      |), pairs AS (
      |  SELECT x.cid, x.vec_id AS i, y.vec_id AS j
      |  FROM m x JOIN m y ON x.cid = y.cid AND x.vec_id < y.vec_id
      |  WHERE list_dot_product(x.ve, y.ve) / (x.nrm * y.nrm) >= 0.5
      |), drp AS (
      |  SELECT cid, CAST(count(*) AS BIGINT) AS n_pairs,
      |         CAST(count(DISTINCT j) AS BIGINT) AS n_dropped
      |  FROM pairs GROUP BY cid
      |), sz AS (
      |  SELECT cid, CAST(count(*) AS BIGINT) AS n_vecs FROM m GROUP BY cid
      |)
      |SELECT sz.cid, sz.n_vecs,
      |       CAST(coalesce(drp.n_pairs, 0) AS BIGINT) AS n_pairs,
      |       CAST(coalesce(drp.n_dropped, 0) AS BIGINT) AS n_dropped,
      |       CAST(sz.n_vecs - coalesce(drp.n_dropped, 0) AS BIGINT) AS n_kept
      |FROM sz LEFT JOIN drp USING (cid)
      |ORDER BY sz.cid""".stripMargin

  /** SemDeDup membership from a model's landed (vec_id, bucket) lists:
    * the skinny index joined back to the vectors on vec_id (lists carry
    * no ve/nrm by design). */
  private def semanticDedupFromLists(s: SparkSession, d: String,
      model: IvfModel): DataFrame =
    semanticDedupReportOf(model.lists(s, d)
      .join(prep(Tables.embeddings(s, d)), Seq("vec_id"))
      .select(col("bucket").as("cid"), col("vec_id"), col("ve"), col("nrm")))

  /** SEMANTIC DEDUP AT DEPLOY SHAPE — `dedup_semantic` with the cluster
    * count SCALED with the corpus: c(n) = max(8, n div 200), replayed
    * identically in the oracle (the seed CTE derives c from the data).
    * This converts a kernel study's measured claim — c ∝ n
    * keeps the within-cluster tiles ~200 vectors wide, so candidate
    * work is LINEAR in the corpus (Σ_b n_b² ≈ n·200 instead of n²/8) —
    * from tools/ evidence into a gated key: at sf0.1 c = 10 (the
    * dynamic-c machinery is live inside the hash gate), at 100× data
    * c = 1000. The fixed-c twin stays gated as the LOCAL semantics
    * audit. Training is BOUNDED-SAMPLE Lloyd (SemDeDup's own recipe,
    * gated; see TrainSample).
    *
    * ASSIGNMENT is the landed TWO-LEVEL serving lists: membership comes
    * from the scaled model's shared `lists` (the same (vec_id, bucket)
    * relation `sim_ann_ivf2`/delete/filtered/rebalance read), built by
    * `twoLevelAssign` at 2n√c dots instead of assignTo's n·c = n²/200.
    * This is SemDeDup at deploy shape end to end: the cluster index a
    * production corpus already maintains for serving IS the dedup
    * partition — one build, every consumer. The oracle routes
    * identically (`twoLevelAfCtes`); the fixed-c twin keeps the flat
    * exact assignment as the local semantics audit. */
  val dedupSemanticScaled = QueryDef(
    "dedup_semantic_scaled",
    s"""${IvfModel.Scaled.oraclePrefix()},
       |$semanticDedupOracleBody""".stripMargin) { (s, d) =>
    semanticDedupFromLists(s, d, IvfModel.Scaled)
  }

  /** SEMANTIC DEDUP UNDER THE CAPPED PRODUCTION MODEL — the
    * second consumer class of the capped build (`sim_ann_ivf2_capped`
    * is the serving one): at true corpus scale SemDeDup itself runs
    * under the capped cluster budget (its published deploy uses ~10⁵
    * clusters for 10⁹ docs — a CAP, not c ∝ n forever), so the dedup
    * gate must exist for the model production actually trains. Same
    * accounting kernel and oracle body as the scaled twin; only the
    * model prefix (and its landed lists artifact) differ. Where the cap
    * is non-binding the report coincides with the scaled one by
    * construction; at the 100× fixture the cap binds (c_eff = 512) and
    * the tiles widen to n/c_eff ≈ 390 — the cap trades per-tile width
    * for a bounded model, the documented production tradeoff. */
  val dedupSemanticCapped = QueryDef(
    "dedup_semantic_capped",
    s"""${IvfModel.Capped.oraclePrefix()},
       |$semanticDedupOracleBody""".stripMargin) { (s, d) =>
    semanticDedupFromLists(s, d, IvfModel.Capped)
  }

  /** Int8 scalar quantization of the embedding table — the memory-scale
    * path for ANN at 100 TB (64 int8 codes vs 64 floats per vector, ~4×
    * less shuffle/cache). Global [lo, hi] range from a bounded (2-double)
    * min/max aggregate; code q = round((x−lo)·255/(hi−lo)),
    * reconstruction x̂ = lo + q·(hi−lo)/255. Output per vector: the max
    * code and the max absolute reconstruction error (4dp) — the
    * quantizer's quality relation, hash-matched against DuckDB computing
    * the identical IEEE expression tree (same op order, both engines
    * round-half-away for the positive codes).
    */
  def quantizeError(emb: DataFrame): DataFrame = {
    val v = emb.select(col("vec_id"), Similarity.vecD(col("embedding")).as("ve"))
    // the [lo, hi] range rides the plan as a broadcast 1-row aggregate
    // (no driver collect, no extra job per invocation — the same shape
    // as agg_histogram); Det.guardedHi raises a diagnostic error on a
    // degenerate constant column and passes an empty input through (the
    // crossJoin's fact side is empty too → zero rows, like the oracle)
    val mm = broadcast(v.select(explode(col("ve")).as("x"))
      .agg(min(col("x")).as("lo"),
        graft.ops.Det.guardedHi(min(col("x")), max(col("x")), "quantizeError").as("hi")))
    val rng = col("hi") - col("lo")
    val q = (x: org.apache.spark.sql.Column) =>
      round((x - col("lo")) * lit(255.0) / rng)
    val err = (x: org.apache.spark.sql.Column) =>
      abs(x - (col("lo") + q(x) * rng / lit(255.0)))
    v.crossJoin(mm).select(col("vec_id"),
      array_max(transform(col("ve"), x => q(x))).cast("long").as("qmax"),
      round(array_max(transform(col("ve"), x => err(x))), 4).as("max_qerr"))
  }

  val simQuantize = QueryDef(
    "sim_quantize",
    // the oracle recomputes lo/hi in SQL (min/max are order-independent)
    // and mirrors the expression tree operation-for-operation: (x-lo)*255
    // then /(hi-lo); reconstruction (q*(hi-lo))/255 then +lo
    """WITH v AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
      |  FROM embeddings
      |), mm AS (
      |  SELECT min(x) AS lo, max(x) AS hi FROM (SELECT unnest(ve) AS x FROM v)
      |)
      |SELECT vec_id,
      |  CAST(list_max(list_transform(ve, x -> round((x - lo) * 255 / (hi - lo)))) AS BIGINT) AS qmax,
      |  round(list_max(list_transform(ve,
      |    x -> abs(x - (lo + round((x - lo) * 255 / (hi - lo)) * (hi - lo) / 255)))), 4) AS max_qerr
      |FROM v, mm
      |ORDER BY vec_id""".stripMargin) { (s, d) =>
    quantizeError(Tables.embeddings(s, d)).orderBy("vec_id")
  }

  /** The trained PQ index of the gated PQ keys (dim=64, m=8,
    * codebook=16), trained once per (session, sfDir); codes are
    * localCheckpointed so consumers re-read the encoded relation
    * instead of re-running the assignment join per action. */
  private def cachedPqIndex(s: SparkSession, d: String): PqIndex =
    Memo.once(s, d, "ann.pqi") {
      val ix = pqIndex(Tables.embeddings(s, d), dim = 64)
      ix.copy(codes = ix.codes.localCheckpoint())
    }

  val simAnnIvf = QueryDef(
    "sim_ann_ivf",
    s"""$ivfSeedCtes, q AS (
         |  SELECT ve AS qve, nrm AS qnrm FROM v WHERE vec_id = 0
         |), probed AS (
         |  SELECT cid AS pbucket FROM cents, q
         |  ORDER BY list_dot_product(qve, cve) / (qnrm * cnrm) DESC, cid
         |  LIMIT 2
         |)
         |SELECT vec_id, round(list_dot_product(qve, ve) / (qnrm * nrm), 4) AS cos
         |FROM assigned JOIN probed ON bucket = pbucket, q
         |WHERE vec_id <> 0
         |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin) { (s, d) =>
    ivfTopK(Tables.embeddings(s, d), queryId = 0L, centroidIds, nprobe = 2, k = 10)
  }

  /** MEASURED ANN RECALL as a gated relation — the quality bound every
    * approximate index must report beside its speedup: per query, the
    * overlap between the IVF top-10 (nprobe=2 of 8 buckets) and the
    * exact brute-force top-10, hashed by the driver. This turns "the
    * IVF path is approximate" from a caveat into a measured, regression-
    * gated number (the sketch keys' bounded-error discipline applied to
    * the ANN family); a centroid or probe regression that silently
    * drops recall now fails the hash. Three fixed queries; both
    * rankings use the house expression trees (raw-double exact rank,
    * rounded IVF rank — each bit-identical across engines, vec_id
    * tie-break) so the overlap count is deterministic.
    *
    * Scale: the exact side is the one-scan broadcast-query kernel, the
    * IVF side probes 2 buckets; the join is top-k-bounded. */
  /** Exact brute-force top-k per query id (qid, vec_id) — the reference
    * side every measured-recall gate compares against: one scan with the
    * query set broadcast, per-query row_number rank (raw-double cosine,
    * vec_id tie-break). */
  def exactTopK(v: DataFrame, qids: Seq[Long], k: Int): DataFrame = {
    val q = v.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("qid"), col("ve").as("qve"),
        col("nrm").as("qnrm"))
    val rnW = Window.partitionBy("qid")
      .orderBy(col("cos").desc, col("vec_id"))
    v.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        (Similarity.dot(col("ve"), col("qve")) / (col("nrm") * col("qnrm")))
          .as("cos"))
      .withColumn("rn", row_number().over(rnW))
      .filter(col("rn") <= k)
      .select("qid", "vec_id")
  }

  /** Per-query overlap of an approximate (qid, vec_id) top-k relation
    * against the exact top-k — the gated recall relation shared by the
    * IVF, k-means and PQ gates. */
  def recallOverlap(v: DataFrame, approx: DataFrame, qids: Seq[Long],
      k: Int): DataFrame =
    exactTopK(v, qids, k).join(approx, Seq("qid", "vec_id"))
      .groupBy("qid")
      .agg(count(lit(1)).as("n_overlap"),
        // count·100 div k, NOT count·(100/k): Scala Int division would
        // silently mis-scale any k that does not divide 100 (k=3 →
        // 3/3 reported as 99%); identical values for the gated k=10
        expr(s"count(1) * 100 div $k").as("recall_pct"))
      .orderBy("qid")

  /** IVF-style recall gate against an explicit centroid relation: the
    * approximate side is `ivfTopKWith` per query at the given nprobe. */
  def ivfRecallGate(emb: DataFrame, cents: DataFrame, qids: Seq[Long],
      nprobe: Int, k: Int = 10): DataFrame = {
    val v = prep(emb)
    val ivf = qids.map(qid =>
        ivfTopKWith(emb, qid, cents, nprobe, k)
          .select(lit(qid).as("qid"), col("vec_id")))
      .reduce(_ unionByName _)
    recallOverlap(v, ivf, qids, k)
  }

  /** `assigned` (vec_id, ve, nrm, bucket): every vector's flat bucket
    * under the centroid relation `c` (cosine DESC, cid ASC). */
  private def assignedCte(c: String): String =
    s"""assigned AS (
       |  SELECT vec_id, ve, nrm, cid AS bucket FROM (
       |    SELECT v.vec_id, v.ve, v.nrm, c.cid,
       |      row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY list_dot_product(v.ve, c.cve) / (v.nrm * c.cnrm) DESC, c.cid) AS rn
       |    FROM v, $c c
       |  ) WHERE rn = 1
       |)""".stripMargin

  /** The data-vector-seeded IVF: vectors, the fixed centroids `cents`
    * (the first C vectors by id) and the flat assignment. */
  private def ivfSeedCtes: String = {
    val cidList = centroidIds.mkString("(", ", ", ")")
    s"""$vCtes, cents AS (
       |  SELECT vec_id AS cid, ve AS cve, nrm AS cnrm FROM v WHERE vec_id IN $cidList
       |), ${assignedCte("cents")}""".stripMargin
  }

  /** `exact` (qid, vec_id): the brute-force top-10 of each `qs` query. */
  private def exactCte: String =
    """exact AS (
      |  SELECT qid, vec_id FROM (
      |    SELECT q.qid, v.vec_id, row_number() OVER (PARTITION BY q.qid
      |      ORDER BY list_dot_product(q.qve, v.ve) / (q.qnrm * v.nrm) DESC,
      |               v.vec_id) AS rn
      |    FROM v, qs q WHERE v.vec_id <> q.qid
      |  ) WHERE rn <= 10
      |)""".stripMargin

  /** `probed$sfx` (each query's `nprobe` nearest centroids of `c`) and
    * `ivf$sfx` (the rounded-cosine top-10 over `assigned` in those
    * buckets): the per-query IVF side of the flat recall gates. */
  private def ivfProbeCtes(c: String, nprobe: Int, sfx: String = ""): String =
    s"""probed$sfx AS (
       |  SELECT qid, cid AS pbucket FROM (
       |    SELECT q.qid, c.cid, row_number() OVER (PARTITION BY q.qid
       |      ORDER BY list_dot_product(q.qve, c.cve) / (q.qnrm * c.cnrm) DESC, c.cid) AS rn
       |    FROM qs q, $c c
       |  ) WHERE rn <= $nprobe
       |), ivf$sfx AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT p.qid, a.vec_id, row_number() OVER (PARTITION BY p.qid
       |      ORDER BY round(list_dot_product(q.qve, a.ve) / (q.qnrm * a.nrm), 4) DESC,
       |               a.vec_id) AS rn
       |    FROM assigned a
       |    JOIN probed$sfx p ON a.bucket = p.pbucket
       |    JOIN qs q ON q.qid = p.qid
       |    WHERE a.vec_id <> p.qid
       |  ) WHERE rn <= 10
       |)""".stripMargin

  /** Shared DuckDB preamble for the IVF recall gates (sim_ann_recall and
    * sim_ann_nprobe_curve): vectors, fixed centroids, bucket assignment,
    * the query set and the nprobe-independent exact top-10 — one source
    * of truth so an assignment or tie-break change cannot silently
    * diverge the two oracles (the Similarity.vecCte convention). */
  private def ivfGateCtePrefix: String = s"$ivfSeedCtes, $qsCte, $exactCte"

  val simAnnRecall = QueryDef(
    "sim_ann_recall",
    s"""$ivfGateCtePrefix, ${ivfProbeCtes("cents", 2)}
       |SELECT e.qid, CAST(count(*) AS BIGINT) AS n_overlap,
       |       CAST(count(*) * 10 AS BIGINT) AS recall_pct
       |FROM exact e JOIN ivf i ON e.qid = i.qid AND e.vec_id = i.vec_id
       |GROUP BY e.qid ORDER BY e.qid""".stripMargin) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    ivfRecallGate(emb, centroidsFromIds(prep(emb), centroidIds),
      qids = Qids, nprobe = 2)
  }

  /** Measured recall for the k-means-refined ANN path: `sim_ann_kmeans`
    * gates its own top-10 but not its RETRIEVAL QUALITY (a Lloyd-round
    * or probe regression that silently dropped recall would pass that
    * hash). Same relation shape as `sim_ann_recall`, with
    * the trained quantized centroids (3 reproducible Lloyd rounds)
    * instead of the raw data-vector seed, and the kmeans key's nprobe=4.
    * The oracle replays the 3 Lloyd rounds (IvfModel.Fixed) and then the
    * per-query IVF/exact rank + overlap. */
  val simAnnKmeansRecall = QueryDef(
    "sim_ann_kmeans_recall",
    s"""${IvfModel.Fixed.oraclePrefix(withAf = false)},
       |${assignedCte("c3")}, $qsCte, ${ivfProbeCtes("c3", 4)}, $exactCte
       |SELECT e.qid, CAST(count(*) AS BIGINT) AS n_overlap,
       |       CAST(count(*) * 10 AS BIGINT) AS recall_pct
       |FROM exact e JOIN ivf i ON e.qid = i.qid AND e.vec_id = i.vec_id
       |GROUP BY e.qid ORDER BY e.qid""".stripMargin) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    ivfRecallGate(emb, IvfModel.Fixed.cents(s, d),
      qids = Qids, nprobe = 4)
  }

  /** Product quantization ANN — the billion-scale compression path that
    * completes the family (brute → IVF → LSH → int8 → PQ): the 64-dim
    * vector becomes m=8 codebook codes (8 bytes vs 256 — the asymmetric-
    * distance-computation memory shape). Per subspace, a 16-centroid
    * codebook is Lloyd-refined from the deterministic first-16-by-id
    * seed (16·8 doubles of driver state per subspace — bounded); dot
    * products decompose exactly over subspaces, so the ADC score is
    * Σ_s dot(q_s, codebook_s[code_s(x)]) normalized by the TRUE stored
    * norms. The quantizer is cosine-consistent with the house kernels
    * any ADC ranking error is repaired by the standard production shape:
    * ADC SHORTLIST (top-10·k, codes only — the corpus vectors never
    * join) then EXACT cosine re-rank of the fetched shortlist. At 100 TB
    * the shortlist pass touches m bytes per vector instead of the full
    * float row.
    */
  /** A trained PQ index: prepped vectors, the flat per-subspace
    * relation, the quantized-Lloyd codebooks and the encoded codes —
    * built ONCE and shared across queries (`pqQueryTopK`), exactly how a
    * production index amortizes training over its query stream. */
  final case class PqIndex(v: DataFrame, subv: DataFrame,
      cents: Seq[(Int, Long, Array[Double])], codes: DataFrame, m: Int)

  def pqIndex(emb: DataFrame, dim: Int, m: Int = 8,
      codebook: Int = 16): PqIndex = {
    require(dim % m == 0, s"pqIndex: dim $dim not divisible by m $m")
    val subLen = dim / m
    val s = emb.sparkSession
    import s.implicits._
    val v = prep(emb)
    // ONE flat (vec_id, sub, sve) relation carries every subspace, so all
    // m codebooks train SIMULTANEOUSLY: a Lloyd iteration is ONE job
    // (assign + per-(sub,bucket) mean over the flat relation) instead of
    // one per subspace — the m sequential trainings this replaced cost
    // 11.2 s at sf0.1; the flat shape is ~10×. Driver state per round:
    // m·codebook·subLen doubles — bounded.
    val subv = v.select(col("vec_id"),
        explode(expr(s"transform(sequence(0, ${m - 1}), " +
          s"si -> struct(si AS sub, slice(ve, si * $subLen + 1, $subLen) AS sve))"))
          .as("e"))
      .select(col("vec_id"), col("e.sub").as("sub"), col("e.sve").as("sve"))
    def centsDf(cents: Seq[(Int, Long, Array[Double])]) =
      broadcast(cents.toDF("csub", "cid", "cve")
        .select(col("csub"), col("cid"), col("cve"),
          (Similarity.dot(col("cve"), col("cve")) / 2).as("chalf")))
    // L2-nearest assignment — argmax(dot − ‖c‖²/2), NOT the direction-
    // only cosine of assignTo: PQ reconstructs magnitudes, and a
    // scale-blind quantizer measurably halves shortlist recall here.
    def assign(cents: Seq[(Int, Long, Array[Double])]): DataFrame = {
      val rn = Window.partitionBy("sub", "vec_id")
        .orderBy(col("l2score").desc, col("cid"))
      subv.join(centsDf(cents), col("sub") === col("csub"))
        .select(col("vec_id"), col("sub"), col("sve"), col("cid"),
          (Similarity.dot(col("sve"), col("cve")) - col("chalf")).as("l2score"))
        .withColumn("rn", row_number().over(rn))
        .filter(col("rn") === 1)
    }
    // deterministic seed: the first `codebook` vectors by id, every sub;
    // an empty corpus seeds no codebooks, and every round below then
    // collects nothing, so the codes come out empty
    val seedIds = v.orderBy(col("vec_id")).limit(codebook)
      .select("vec_id").as[Long].collect().toSeq
    var cents: Seq[(Int, Long, Array[Double])] =
      subv.filter(col("vec_id").isin(seedIds: _*))
        .select(col("sub"), col("vec_id"), col("sve"))
        .as[(Int, Long, Array[Double])].collect().toSeq
    // flat quantized per-component relation (vec_id, sub, j, q) — the
    // hash-stable Lloyd update (the kmeansCentroidsQuantized pattern):
    // codebook means rebuild from exact INTEGER sums of
    // milli-quantized components, so every round is reproducible SQL
    // instead of an association-order-dependent double sum.
    val qsubv = subv.select(col("vec_id"), col("sub"), posexplode(col("sve")))
      .select(col("vec_id"), col("sub"), col("pos").as("j"),
        round(col("col") * 1000).cast("long").as("q"))
    var i = 0
    while (i < 2) { // Lloyd rounds, ONE job each; empty clusters drop out
      val flat = assign(cents).select("vec_id", "sub", "cid")
        .join(qsubv, Seq("vec_id", "sub"))
        .groupBy("sub", "cid", "j")
        .agg(sum(col("q")).as("s"), count(lit(1)).as("n"))
        .select(col("sub"), col("cid"), col("j"),
          (col("s").cast("double") / lit(1000.0) / col("n")).as("mean"))
        .as[(Int, Long, Int, Double)].collect() // m·codebook·subLen rows
      cents = flat.groupBy(t => (t._1, t._2)).map { case ((sub, cid), rows) =>
        val arr = new Array[Double](rows.map(_._3).max + 1)
        rows.foreach { case (_, _, j, mv) => arr(j) = mv }
        (sub, cid, arr)
      }.toSeq.sortBy(t => (t._1, t._2))
      i += 1
    }
    // encode: m codes per vector (the PQ compressed representation)
    PqIndex(v, subv, cents,
      assign(cents).select(col("vec_id"), col("sub"), col("cid")), m)
  }

  /** Top-k for one query against a trained `PqIndex`: ADC shortlist
    * (codes + the broadcast distance table only — corpus vectors never
    * join) then exact-cosine re-rank of the fetched shortlist. */
  def pqQueryTopK(ix: PqIndex, queryId: Long, shortlist: Int = 100,
      k: Int = 10, restrictTo: Option[DataFrame] = None): DataFrame = {
    val s = ix.v.sparkSession
    import s.implicits._
    val PqIndex(v, subv, cents, codes0, m) = ix
    // optional IVF-style candidate restriction (sim_ann_ivf_pq): only
    // codes of the member set participate in the ADC aggregate — the
    // coarse index prunes BEFORE the fine scoring, never after
    val codes = restrictTo.fold(codes0)(mem =>
      codes0.join(mem.select(col("vec_id")), Seq("vec_id"), "left_semi"))
    // ADC distance table: query subvector · every codebook centroid —
    // m × codebook rows, computed on the driver and broadcast everywhere
    val qsub: Map[Int, Array[Double]] =
      subv.filter(col("vec_id") === queryId)
        .select(col("sub"), col("sve"))
        .as[(Int, Array[Double])].collect().toMap
    // an empty corpus trains no codebooks: the distance table, and so the
    // result, is empty; otherwise the query must be one of its vectors
    require(cents.isEmpty || qsub.size == m,
      s"pqQueryTopK: query $queryId has ${qsub.size} of $m subvectors")
    val dtab = broadcast(cents.flatMap { case (sub, cid, cve) =>
      qsub.get(sub).map(q => (sub, cid, q.zip(cve).map { case (a, b) => a * b }.sum))
    }.toDF("sub", "cid", "dpart"))
    val qnrm = v.filter(col("vec_id") === queryId)
      .select(col("nrm").as("qnrm"), col("ve").as("qfull"))
    // shortlist by ADC score — only codes and the tiny table participate.
    // The m per-subspace parts add in a FIXED left-to-right chain (one
    // conditional sum per subspace — each picks exactly one row — then
    // d0+d1+…+d(m−1)), not a groupBy sum whose association order depends
    // on row arrival: with the quantized codebooks this makes the whole
    // ADC score reproducible cross-engine.
    val dcols = (0 until m).map(i =>
      sum(when(col("sub") === i, col("dpart"))).as(s"d$i"))
    val adot = (0 until m).map(i => col(s"d$i")).reduceLeft(_ + _)
    val short = codes.join(dtab, Seq("sub", "cid"))
      .groupBy("vec_id").agg(dcols.head, dcols.tail: _*)
      .select(col("vec_id"), adot.as("adot"))
      .join(v.select(col("vec_id"), col("nrm")), Seq("vec_id"))
      .filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(qnrm))
      .select(col("vec_id"), (col("adot") / (col("nrm") * col("qnrm"))).as("acos"))
      .orderBy(col("acos").desc, col("vec_id"))
      .limit(shortlist)
    // exact re-rank of the fetched shortlist vectors only
    short.join(v, Seq("vec_id"))
      .crossJoin(broadcast(qnrm))
      .select(col("vec_id"),
        round(Similarity.dot(col("qfull"), col("ve")) / (col("qnrm") * col("nrm")), 4)
          .as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
  }

  /** One PQ Lloyd round of the oracle: L2-nearest assignment rank per
    * (subspace, vector), exact integer per-component sums, rebuilt mean
    * codebooks with their half-norms. */
  private def pqRoundCte(r: Int): String =
    s"""pa$r AS (SELECT vec_id, sub, cid FROM (
       |  SELECT s.vec_id, s.sub, c.cid, row_number() OVER (PARTITION BY s.sub, s.vec_id
       |    ORDER BY list_dot_product(s.sve, c.cve) - c.chalf DESC, c.cid) AS rn
       |  FROM sv s JOIN pc${r - 1} c ON s.sub = c.sub) WHERE rn = 1),
       |ps$r AS (SELECT a.sub, a.cid, q.j, CAST(sum(q.q) AS BIGINT) AS s,
       |                CAST(count(*) AS BIGINT) AS n
       |  FROM pa$r a JOIN qsv q ON a.vec_id = q.vec_id AND a.sub = q.sub
       |  GROUP BY a.sub, a.cid, q.j),
       |pc$r AS (SELECT sub, cid, cve, list_dot_product(cve, cve) / 2 AS chalf FROM (
       |  SELECT sub, cid, list(CAST(s AS DOUBLE) / 1000.0 / n ORDER BY j) AS cve
       |  FROM ps$r GROUP BY sub, cid))""".stripMargin

  /** The oracle's PQ training and encoding, the twin of `pqIndex`:
    * subvectors `sv`, their milli-quantized components `qsv`, the seed
    * codebooks `pc0`, two Lloyd rounds and the `codes`. */
  private val pqCodesCte =
    s"""sv AS (
       |  SELECT vec_id, CAST(t.sub AS INT) AS sub,
       |         list_slice(ve, t.sub * 8 + 1, t.sub * 8 + 8) AS sve
       |  FROM v, (SELECT unnest(generate_series(0, 7)) AS sub) t
       |), qsv AS (
       |  SELECT vec_id, sub, CAST(generate_subscripts(sve, 1) AS INT) AS j,
       |         CAST(round(unnest(sve) * 1000) AS BIGINT) AS q
       |  FROM sv
       |), pc0 AS (
       |  SELECT sub, vec_id AS cid, sve AS cve, list_dot_product(sve, sve) / 2 AS chalf
       |  FROM sv WHERE vec_id IN (SELECT vec_id FROM v ORDER BY vec_id LIMIT 16)
       |),
       |${pqRoundCte(1)},
       |${pqRoundCte(2)},
       |codes AS (SELECT vec_id, sub, cid FROM (
       |  SELECT s.vec_id, s.sub, c.cid, row_number() OVER (PARTITION BY s.sub, s.vec_id
       |    ORDER BY list_dot_product(s.sve, c.cve) - c.chalf DESC, c.cid) AS rn
       |  FROM sv s JOIN pc2 c ON s.sub = c.sub) WHERE rn = 1)""".stripMargin

  /** The ADC score's m = 8 per-subspace parts d0 … d7 over the subspace
    * column `sub`, one conditional sum each (`pqQueryTopK`'s `dcols`). */
  private def adcSums(sub: String): String =
    (0 until 8).map(k => s"    sum(CASE WHEN $sub = $k THEN dpart END) AS d$k")
      .mkString(",\n")

  val simAnnPq = QueryDef(
    "sim_ann_pq",
    // Oracle-backed by the same two moves as sim_ann_kmeans plus one:
    // (1) Lloyd codebook means rebuild from exact integer sums of
    // milli-quantized components, so
    // both 2 training rounds replay bit-identically; (2) the ADC score
    // adds its m=8 per-subspace parts in a FIXED left-to-right chain
    // (d0+d1+…+d7 below — conditional one-row sums, not an
    // association-order-dependent aggregate). Everything else was already
    // deterministic: L2 assignment rank, the driver-computed distance
    // table (a left fold = list_dot_product), the exact-cosine re-rank.
    s"""$vCtes, $pqCodesCte,
       |qs AS (SELECT sub, sve AS qsve FROM sv WHERE vec_id = 0),
       |dtab AS (SELECT c.sub, c.cid, list_dot_product(q.qsve, c.cve) AS dpart
       |  FROM pc2 c JOIN qs q ON c.sub = q.sub),
       |q0 AS (SELECT ve AS qve, nrm AS qnrm FROM v WHERE vec_id = 0),
       |adc AS (SELECT vec_id,
       |${adcSums("sub")}
       |  FROM codes JOIN dtab USING (sub, cid) GROUP BY vec_id),
       |short AS (SELECT a.vec_id,
       |    (d0 + d1 + d2 + d3 + d4 + d5 + d6 + d7) / (v.nrm * q0.qnrm) AS acos
       |  FROM adc a JOIN v ON a.vec_id = v.vec_id, q0
       |  WHERE a.vec_id <> 0
       |  ORDER BY acos DESC, a.vec_id LIMIT 100)
       |SELECT s.vec_id, round(list_dot_product(q0.qve, v.ve) / (q0.qnrm * v.nrm), 4) AS cos
       |FROM short s JOIN v ON s.vec_id = v.vec_id, q0
       |ORDER BY cos DESC, s.vec_id LIMIT 10""".stripMargin) { (s, d) =>
    pqQueryTopK(cachedPqIndex(s, d), queryId = 0L)
  }

  /** Measured recall for the PQ path — the last approximate path whose
    * retrieval quality no hash protected: per query, overlap of the
    * PQ ADC-shortlist → exact-re-rank top-10 against the brute-force
    * top-10. The index (codebooks + codes) trains ONCE and serves all
    * three queries (`pqIndex`/`pqQueryTopK`) — at 100 TB codebook
    * training amortizes over the whole query stream, never per query.
    * The oracle replays the 2 quantized Lloyd rounds, the encoding, and
    * the per-query ADC rank / re-rank / exact rank, all per-qid via
    * row_number (= the Spark side's per-query orderBy + limit). */
  val simAnnPqRecall = QueryDef(
    "sim_ann_pq_recall",
    s"""$vCtes, $pqCodesCte,
       |qsub AS (SELECT vec_id AS qid, sub, sve AS qsve FROM sv
       |  WHERE vec_id IN $qidList),
       |dtab AS (SELECT q.qid, c.sub, c.cid, list_dot_product(q.qsve, c.cve) AS dpart
       |  FROM pc2 c JOIN qsub q ON c.sub = q.sub),
       |qn AS (SELECT vec_id AS qid, ve AS qve, nrm AS qnrm FROM v
       |  WHERE vec_id IN $qidList),
       |adc AS (SELECT d.qid, codes.vec_id,
       |${adcSums("codes.sub")}
       |  FROM codes JOIN dtab d ON codes.sub = d.sub AND codes.cid = d.cid
       |  GROUP BY d.qid, codes.vec_id),
       |short AS (SELECT qid, vec_id FROM (
       |  SELECT a.qid, a.vec_id, row_number() OVER (PARTITION BY a.qid
       |    ORDER BY (d0 + d1 + d2 + d3 + d4 + d5 + d6 + d7) / (v.nrm * qn.qnrm) DESC,
       |             a.vec_id) AS rn
       |  FROM adc a JOIN v ON a.vec_id = v.vec_id JOIN qn ON a.qid = qn.qid
       |  WHERE a.vec_id <> a.qid) WHERE rn <= 100),
       |pqtop AS (SELECT qid, vec_id FROM (
       |  SELECT s.qid, s.vec_id, row_number() OVER (PARTITION BY s.qid
       |    ORDER BY round(list_dot_product(qn.qve, v.ve) / (qn.qnrm * v.nrm), 4) DESC,
       |             s.vec_id) AS rn
       |  FROM short s JOIN v ON s.vec_id = v.vec_id JOIN qn ON s.qid = qn.qid)
       |  WHERE rn <= 10),
       |exact AS (SELECT qid, vec_id FROM (
       |  SELECT q.qid, v.vec_id, row_number() OVER (PARTITION BY q.qid
       |    ORDER BY list_dot_product(q.qve, v.ve) / (q.qnrm * v.nrm) DESC,
       |             v.vec_id) AS rn
       |  FROM v, qn q WHERE v.vec_id <> q.qid) WHERE rn <= 10)
       |SELECT e.qid, CAST(count(*) AS BIGINT) AS n_overlap,
       |       CAST(count(*) * 10 AS BIGINT) AS recall_pct
       |FROM exact e JOIN pqtop i ON e.qid = i.qid AND e.vec_id = i.vec_id
       |GROUP BY e.qid ORDER BY e.qid""".stripMargin) { (s, d) =>
    val ix = cachedPqIndex(s, d)
    val pq = Qids.map(qid =>
        pqQueryTopK(ix, qid).select(lit(qid).as("qid"), col("vec_id")))
      .reduce(_ unionByName _)
    recallOverlap(ix.v, pq, Qids, k = 10)
  }

  /** Exact-integer POWER ITERATION for the top principal direction of
    * the (uncentered) embedding Gram matrix — the dimension-reduction /
    * index-rotation primitive an ANN pipeline runs before IVF or PQ
    * (OPQ's rotation, spectral whitening, dominant-axis pruning all
    * start from this vector). Floating-point matrix iteration is never
    * hash-gateable (summation order changes the low bits), so every
    * step here is EXACT integer arithmetic both engines reproduce:
    * vectors quantize once to q = round(10⁴·x) (identical double
    * product + half-away round on both sides), the iterate starts at
    * all-ones, and each round is w_j = Σᵢ qᵢⱼ·(qᵢ·v) with the iterate
    * rescaled by a truncating 10⁶ divide between rounds (div and
    * DuckDB's // both truncate toward zero, signed values included —
    * pinned in AnnSpec). Two rounds: the second's products can reach
    * ~10²⁰, so its sums ride DECIMAL(38,0)/HUGEINT; with BIGINT terms
    * capped near 8·10¹⁸ the fixed 10⁶ rescale has ~10⁵× corpus headroom
    * beyond sf0.1 — at larger N the divisor is the parameter to grow
    * (the fixed-shard-count convention).
    *
    * Scale shape: each round is ONE corpus pass — the per-row dot
    * (qᵢ·v) needs no join (round 1's v is all-ones; round 2's rides a
    * broadcast 1-row sorted array built by sort_array(collect_list))
    * and the only shuffle is the 64-group combinable sum. No
    * corpus-sized join, shuffle-by-vector, or driver collect anywhere.
    * Output: per dim, the round-1 and round-2 rescaled iterates plus
    * the Rayleigh-quotient proxy lam_ppm = ⌊10⁶·Σv2·v1 / Σv1·v1⌋ —
    * an exact-integer eigenvalue witness (NULL on the degenerate
    * all-zero iterate, both engines). */
  def pcaPowerIterate(emb: DataFrame): DataFrame = {
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val base = emb
      .select(col("vec_id"),
        transform(Similarity.vecD(col("embedding")),
          x => round(x * lit(10000.0)).cast("long")).as("qa"))
    val w1 = base
      .withColumn("s1", aggregate(col("qa"), lit(0L), (a, x) => a + x))
      .selectExpr("posexplode(qa) as (j, q)", "s1")
      .groupBy("j").agg(sum(col("q") * col("s1")).as("w1"))
    val v1 = w1.select(col("j"), expr("w1 div 1000000").as("v1"))
    // the 64-entry iterate as ONE broadcast row, j-sorted by construction
    // (sort_array on (j, v1) structs — order-insensitive to the agg)
    val v1row = v1
      .agg(transform(array_sort(collect_list(struct(col("j"), col("v1")))),
        s => s.getField("v1")).as("v1a"))
    val w2 = base.crossJoin(broadcast(v1row))
      .withColumn("s2",
        aggregate(zip_with(col("qa"), col("v1a"), (q, w) => q * w),
          lit(0L), (a, x) => a + x))
      .selectExpr("posexplode(qa) as (j, q)", "s2")
      .groupBy("j")
      .agg(sum(col("q").cast(dec38) * col("s2")).as("w2r"))
    val v2 = w2.select(col("j"), expr("CAST(w2r div 1000000 AS BIGINT)").as("v2"))
    // the Rayleigh scalar rides a single-partition window over the
    // 64-row dim relation (the sort_nulls bounded-window convention) —
    // one pass, no scalar crossJoin, no duplicated w2 subtree
    val wAll = Window.partitionBy().rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    v1.join(v2, "j")
      .withColumn("num", sum(col("v1").cast(dec38) * col("v2")).over(wAll))
      .withColumn("den", sum(col("v1").cast(dec38) * col("v1")).over(wAll))
      .select(col("j").cast("int").as("dim"), col("v1"), col("v2"),
        expr("CAST((num * 1000000) div NULLIF(den, 0) AS BIGINT)").as("lam_ppm"))
      .orderBy("dim")
  }

  val simPcaPower = QueryDef(
    "sim_pca_power",
    """WITH e AS (
      |  SELECT vec_id AS i, generate_subscripts(embedding, 1) - 1 AS j,
      |         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 10000) AS BIGINT) AS q
      |  FROM embeddings
      |), s1 AS (SELECT i, sum(q) AS s1 FROM e GROUP BY i),
      |w1 AS (SELECT j, sum(e.q * s1.s1) AS w1 FROM e JOIN s1 USING (i) GROUP BY j),
      |v1 AS (SELECT j, w1 // 1000000 AS v1 FROM w1),
      |s2 AS (SELECT i, sum(e.q * v1.v1) AS s2 FROM e JOIN v1 USING (j) GROUP BY i),
      |w2 AS (SELECT j, sum(CAST(e.q AS HUGEINT) * s2.s2) AS w2r
      |       FROM e JOIN s2 USING (i) GROUP BY j),
      |v2 AS (SELECT j, CAST(w2r // 1000000 AS BIGINT) AS v2 FROM w2),
      |ray AS (SELECT CAST(sum(CAST(v1.v1 AS HUGEINT) * v2.v2) * 1000000
      |                    // NULLIF(sum(CAST(v1.v1 AS HUGEINT) * v1.v1), 0)
      |               AS BIGINT) AS lam_ppm
      |        FROM v1 JOIN v2 USING (j))
      |SELECT CAST(v1.j AS INTEGER) AS dim, CAST(v1.v1 AS BIGINT) AS v1,
      |       v2.v2 AS v2, ray.lam_ppm
      |FROM v1 JOIN v2 USING (j) CROSS JOIN ray
      |ORDER BY dim""".stripMargin) { (s, d) =>
    pcaPowerIterate(Tables.embeddings(s, d))
  }

  /** IVF + PQ composed (the production FAISS `IVFx,PQy`-flat shape):
    * the coarse index prunes candidates to the nprobe nearest buckets,
    * the PQ codes ADC-score ONLY those members, the exact re-rank fetches
    * only the shortlist. At 100 TB this is the serving topology — the
    * corpus is partitioned by coarse bucket, a query touches nprobe
    * partitions, and per-vector work inside them is m code lookups
    * against a broadcast distance table; neither full vectors nor
    * non-member codes ever move. Both component indexes are the cached
    * per-(session, dataset) trained forms their own gate keys verify
    * (data-vector coarse centroids = sim_ann_ivf; quantized-Lloyd
    * codebooks = sim_ann_pq), so the composition adds exactly one
    * semi-join. The relation folds the measured-recall discipline in:
    * each of the top-10 carries `in_exact10`, so composition-induced
    * recall loss (coarse pruning can drop true neighbors the flat PQ
    * scan would keep) is hash-gated in the same row set. */
  val simAnnIvfPq = QueryDef(
    "sim_ann_ivf_pq", {
      val cidList = centroidIds.mkString("(", ", ", ")")
      s"""$vCtes, $pqCodesCte,
         |cents AS (
         |  SELECT vec_id AS ccid, ve AS ccve, nrm AS ccnrm FROM v WHERE vec_id IN $cidList
         |), assigned AS (
         |  SELECT vec_id, ccid AS bucket FROM (
         |    SELECT v.vec_id, c.ccid,
         |      row_number() OVER (PARTITION BY v.vec_id
         |        ORDER BY list_dot_product(v.ve, c.ccve) / (v.nrm * c.ccnrm) DESC, c.ccid) AS rn
         |    FROM v, cents c
         |  ) WHERE rn = 1
         |), q0 AS (
         |  SELECT ve AS qve, nrm AS qnrm FROM v WHERE vec_id = 0
         |), probed AS (
         |  SELECT ccid AS pbucket FROM cents, q0
         |  ORDER BY list_dot_product(qve, ccve) / (qnrm * ccnrm) DESC, ccid
         |  LIMIT 2
         |), members AS (
         |  SELECT a.vec_id FROM assigned a JOIN probed ON a.bucket = pbucket
         |),
         |qs AS (SELECT sub, sve AS qsve FROM sv WHERE vec_id = 0),
         |dtab AS (SELECT c.sub, c.cid, list_dot_product(q.qsve, c.cve) AS dpart
         |  FROM pc2 c JOIN qs q ON c.sub = q.sub),
         |adc AS (SELECT vec_id,
         |${adcSums("sub")}
         |  FROM codes JOIN dtab USING (sub, cid)
         |  WHERE vec_id IN (SELECT vec_id FROM members)
         |  GROUP BY vec_id),
         |short AS (SELECT a.vec_id,
         |    (d0 + d1 + d2 + d3 + d4 + d5 + d6 + d7) / (v.nrm * q0.qnrm) AS acos
         |  FROM adc a JOIN v ON a.vec_id = v.vec_id, q0
         |  WHERE a.vec_id <> 0
         |  ORDER BY acos DESC, a.vec_id LIMIT 100),
         |topk AS (
         |  SELECT s.vec_id, round(list_dot_product(q0.qve, v.ve) / (q0.qnrm * v.nrm), 4) AS cos
         |  FROM short s JOIN v ON s.vec_id = v.vec_id, q0
         |  ORDER BY cos DESC, s.vec_id LIMIT 10),
         |ex AS (
         |  SELECT vec_id FROM (
         |    SELECT v.vec_id, row_number() OVER (
         |      ORDER BY list_dot_product(v.ve, q0.qve) / (v.nrm * q0.qnrm) DESC, v.vec_id) AS rn
         |    FROM v, q0 WHERE v.vec_id <> 0
         |  ) WHERE rn <= 10)
         |SELECT t.vec_id, t.cos, e.vec_id IS NOT NULL AS in_exact10
         |FROM topk t LEFT JOIN ex e ON t.vec_id = e.vec_id
         |ORDER BY t.cos DESC, t.vec_id""".stripMargin
    }) { (s, d) =>
    val ix = cachedPqIndex(s, d)
    val v = ix.v
    val cdf = centroidsFromIds(v, centroidIds)
    val assigned = assignTo(v, cdf)
    val q = v.filter(col("vec_id") === 0L)
      .select(col("ve").as("qve"), col("nrm").as("qnrm"))
    val probed = probedBuckets(cdf, q, nprobe = 2)
    val members = assigned
      .join(broadcast(probed), col("bucket") === col("pbucket"))
      .select("vec_id")
    val top = pqQueryTopK(ix, queryId = 0L, restrictTo = Some(members))
    top
      .join(exactTopK(v, Seq(0L), 10).select(col("vec_id").as("evid")),
        col("vec_id") === col("evid"), "left")
      .select(col("vec_id"), col("cos"),
        col("evid").isNotNull.as("in_exact10"))
      .orderBy(col("cos").desc, col("vec_id"))
  }

  /** NPROBE TUNING CURVE — the gated form of the tradeoff an ANN
    * operator actually tunes (`sim_ann_recall` pins ONE operating
    * point; a deployment picks nprobe by reading the recall curve and
    * paying for the knee): per (nprobe ∈ {1, 2, 4}, query), measured
    * top-10 overlap with the exact answer — so the whole curve, not one
    * sample of it, sits under the driver hash, and recall is
    * structurally non-decreasing in nprobe (probed buckets are nested).
    * Same bucketed machinery as sim_ann_recall; the three settings
    * share the assignment relation and differ only in the probe-rank
    * cut, so the added cost is two more bucket-bounded top-k passes. */
  val simAnnNprobeCurve = QueryDef(
    "sim_ann_nprobe_curve", {
      val perNp = Seq(1, 2, 4).map { np =>
        s"""${ivfProbeCtes("cents", np, np.toString)}, r$np AS (
           |  SELECT CAST($np AS BIGINT) AS nprobe, e.qid,
           |         CAST(count(*) AS BIGINT) AS n_overlap,
           |         CAST(count(*) * 10 AS BIGINT) AS recall_pct
           |  FROM exact e JOIN ivf$np i ON e.qid = i.qid AND e.vec_id = i.vec_id
           |  GROUP BY e.qid
           |)""".stripMargin
      }.mkString(", ")
      s"""$ivfGateCtePrefix, $perNp
         |SELECT * FROM (
         |  SELECT * FROM r1 UNION ALL SELECT * FROM r2 UNION ALL SELECT * FROM r4
         |) ORDER BY nprobe, qid""".stripMargin
    }) { (s, d) =>
    // FUSED curve — the beam_curve fusion applied here: three unioned
    // ivfRecallGate branches would run 3 qids × 3 settings of the same
    // assignment/probe/exact subtrees (ReusedExchange dedupes identical
    // subtrees at runtime but the per-np candidate joins and ranks still
    // triple). Probed buckets are NESTED in nprobe (the key's own gated
    // property), so ONE dataflow carries a per-(qid, centroid) probe
    // rank pr, scores each in-bucket candidate ONCE, tags rows with the
    // settings where pr ≤ nprobe, and ranks per (nprobe, qid).
    // Equivalences, term by term against ivfRecallGate/ivfTopKWith:
    // probe rank = probedBuckets' (pcos DESC, cid) order as a window
    // (nested cuts replay LIMIT nprobe for every np); candidate rank =
    // the same round(·,4)/vec_id total order as orderBy+LIMIT 10; the
    // exact side and the overlap aggregate are recallOverlap's own
    // expressions. Hash-gated identical at 3 SFs.
    val v = prep(Tables.embeddings(s, d))
    val cents = centroidsFromIds(v, centroidIds)
    val q = queryVecs(v, Qids)
    val probed = broadcast(probedCentroids(q, cents, 4)
      .select("qid", "cid", "pr"))
    val cand = assignTo(v, cents)
      .join(probed, col("bucket") === col("cid"))
      .join(q, Seq("qid"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), col("pr"),
        round(Similarity.dot(col("qve"), col("ve")) /
          (col("qnrm") * col("nrm")), 4).as("c"))
    val rnT = Window.partitionBy("nprobe", "qid")
      .orderBy(col("c").desc, col("vec_id"))
    val ivf = cand
      .select(col("qid"), col("vec_id"), col("pr"), col("c"),
        explode(array(lit(1L), lit(2L), lit(4L))).as("nprobe"))
      .filter(col("pr") <= col("nprobe"))
      .withColumn("rn", row_number().over(rnT))
      .filter(col("rn") <= 10)
      .select("nprobe", "qid", "vec_id")
    ivf.join(exactTopK(v, Qids, 10), Seq("qid", "vec_id"))
      .groupBy("nprobe", "qid")
      .agg(count(lit(1)).as("n_overlap"),
        expr("count(1) * 100 div 10").as("recall_pct"))
      .select(col("nprobe"), col("qid"), col("n_overlap"), col("recall_pct"))
      .orderBy("nprobe", "qid")
  }

  /** Directed top-M cosine kNN graph, LANDED once per (session,
    * dataset) — the index-build half of the graph-ANN family. Built
    * from the blocked all-pairs kernel (each unordered pair's cosine
    * computed once, both directions ranked); at 100 TB the build is
    * NN-descent or IVF-bucketed candidate generation instead of
    * all-pairs, but the landed artifact — an (i, j) adjacency relation
    * partitioned by source — and everything downstream are identical,
    * which is why construction is behind `Landed.once` (the amortized
    * index discipline of `IvfModel`). */
  def knnGraph(s: SparkSession, d: String, m: Int): DataFrame =
    Landed.once(s, d, s"ann.knng$m") {
      val v = prep(Tables.embeddings(s, d))
      val p = Similarity.allPairsCos(v.select("vec_id", "ve", "nrm"))
      val dir = p.select(col("i"), col("j"), col("cos_raw"))
        .unionByName(p.select(col("j").as("i"), col("i").as("j"),
          col("cos_raw")))
      val w = Window.partitionBy("i").orderBy(col("cos_raw").desc, col("j"))
      dir.withColumn("rn", row_number().over(w)).filter(col("rn") <= m)
        .select("i", "j")
    }

  /** Fixed-round beam search over a kNN graph (the NSW/HNSW search
    * kernel, flattened to its deterministic SQL-replayable core): the
    * beam starts at fixed entry points, each round expands every beam
    * node's graph neighbors and keeps the `beamW` best-by-query
    * (rounded cosine, vec_id tie-break), and after `rounds` rounds the
    * answer is the beam's top-k excluding the query itself. The classic
    * best-first search with a visited set converges adaptively;
    * fixed-round expansion is its bounded-depth form — same navigation
    * principle, deterministic cost, and (unlike a priority queue) a
    * relational per-round expression both engines replay exactly.
    * Per-query work is rounds·beamW·M scored candidates — INDEPENDENT
    * of corpus size, the property that makes graph ANN the serving-path
    * winner; the graph lookup is an equi-join on the landed adjacency,
    * and the beam is broadcast (≤ queries·beamW rows) so expansion
    * never shuffles the graph. */
  def beamSearchTopK(v: DataFrame, knn: DataFrame, qids: Seq[Long],
      entryN: Int, beamW: Int, rounds: Int, k: Int): DataFrame = {
    val q = queryVecs(v, qids)
    // Per-round prune as ONE bounded aggregation: distinct() THEN a
    // (qid)-window rank would be two exchanges of the candidate
    // relation per round. Candidates per
    // query are ≤ beamW·(M+1) at ANY corpus size (the beam-search
    // invariant), so a per-qid collect_set of (−c, vec_id) structs,
    // sorted and sliced, computes the identical top-beamW in one
    // exchange: set-dedup replaces distinct (duplicate candidates score
    // identically — same codegen dot on the same rows), and the struct
    // sort (−c asc, vec_id asc) replays the window's (c desc, vec_id)
    // total order exactly, −0.0/0.0 included (both orders are
    // java.lang.Double.compare on the same values).
    // PRECONDITION (documented rather than guarded): no
    // zero-norm vector may reach `v` — a 0/0 cosine is NaN, which a
    // window's `c DESC` orders FIRST (NaN greatest) while
    // `(−c) ASC` orders LAST (−NaN is NaN, still greatest), so a NaN
    // candidate would change beam contents versus the oracle's window
    // formulation. The embeddings fixtures contain no zero vector at any
    // SF (every hash passes), and `prep` is shared by every ANN key, so
    // the guard lives here as a contract, not as a per-row filter every
    // consumer would pay.
    def score(cand: DataFrame, limit: Int, exclSelf: Boolean) = {
      val scored = cand.join(v, Seq("vec_id")).join(q, Seq("qid"))
        .select(col("qid"), col("vec_id"),
          round(Similarity.dot(col("qve"), col("ve")) /
            (col("qnrm") * col("nrm")), 4).as("c"))
      (if (exclSelf) scored.filter(col("vec_id") =!= col("qid")) else scored)
        .groupBy("qid")
        .agg(slice(sort_array(collect_set(
          struct((-col("c")).as("nc"), col("vec_id")))), 1, limit).as("top"))
        .select(col("qid"), explode(col("top")).as("t"))
        .select(col("qid"), col("t.vec_id").as("vec_id"))
    }
    // deterministic entry points: the entryN lowest vector ids (the
    // centroid-seed convention) paired with every query
    var beam = q.select("qid")
      .crossJoin(v.orderBy("vec_id").limit(entryN).select("vec_id"))
    for (_ <- 1 to rounds)
      beam = score(
        beam.unionByName(
          knn.join(broadcast(beam.withColumnRenamed("vec_id", "i")), Seq("i"))
            .select(col("qid"), col("j").as("vec_id"))),
        beamW, exclSelf = false)
    score(beam, k, exclSelf = true)
  }

  /** Sub-quadratic kNN-graph BUILD — the scale path `knnGraph`'s
    * scaladoc promises: candidate pairs come from an IVF bucketing
    * (each vector multi-assigned to its `nprobe` nearest trained-kmeans
    * centroids, so near-boundary true neighbors share at least one
    * bucket — the SemDeDup join shape of `dedup_semantic`), scored
    * inside the bucket tile, and ranked top-M per source in both
    * directions. The model is the c-SCALED sample-trained one: with
    * c(n) = max(8, n div 200) the buckets stay ~200·nprobe wide at every
    * corpus size, so pair
    * work Σ_b n_b² ≈ 200·nprobe²·n is LINEAR in n — the fixed-c=8 model
    * made it (nprobe·n)²/8, measured 272–484 s cold at 10× and the
    * documented DNF twin at 100×.
    *
    * Shuffle audit: the multi-assignment rank runs on the
    * SKINNY (vec_id, cid, ccos) relation and the vectors join back at
    * NODE level (n·nprobe rows), then ONE cid exchange feeds both
    * self-join sides and pairs leave the tile already scored and skinny
    * (i, j, cos) — the previous shape deduped skinny pairs first and
    * re-joined the vector table to score them, shuffling pair-count ×
    * vector-width bytes. A pair sharing several probe buckets is scored
    * once per shared bucket (≤ nprobe, bit-identical value each time)
    * and collapsed by a combinable skinny max. Landed once per
    * (session, dataset) like its quadratic twin; `sim_ann_graph_build`
    * hash-gates both its edge recall against the all-pairs graph and
    * the beam-search recall it supports. */
  def knnGraphIvf(s: SparkSession, d: String, m: Int, nprobe: Int): DataFrame = {
    val cents = IvfModel.Scaled.cents(s, d)
    Landed.once(s, d, s"ann.knngivfs${m}p$nprobe") {
      val v = prep(Tables.embeddings(s, d))
      // both per-group ranks run as the COMBINABLE bounded top-k
      // aggregate (TopKAgg): a rank window has no partial step, so a
      // multi-assign window would shuffle n·c rows and a final top-M
      // window every directional candidate row
      // (353M at the 100× study point) — the aggregate caps the
      // exchanges at n and n·M rows. Identical rank semantics
      // (score DESC, id ASC, NaN greatest) — the (i, j) set is
      // hash-identical.
      val topk = graft.functions.TopKAgg.topk _
      // TWO-LEVEL multi-assign: rank only the centroids of
      // each point's top-2 anchor groups instead of ALL c. The flat
      // n·c scoring is n²/200 with the scaled model — linear tile pair
      // work (constant ~nprobe·200 bucket width) rides on top of a
      // superlinear scoring stage that overtakes it at the next decade;
      // routing brings scoring to n·(g + 2c/g). Same hierarchy the
      // serving index builds by (`twoLevelStructure`), oracle-mirrored
      // by the `pag` CTE in ivfGraphOracleCtes.
      val (anch, centsG) = twoLevelStructure(cents)
      val pag = v.select("vec_id", "ve", "nrm").crossJoin(anch)
        .select(col("vec_id"), col("aid"),
          (Similarity.dot(col("ve"), col("ave")) / (col("nrm") * col("anrm")))
            .as("acos"))
        .groupBy("vec_id").agg(topk(col("acos"), col("aid"), 2).as("gs"))
        .select(col("vec_id"), explode(col("gs")).as("gid"))
      val ma0 = v.join(pag, Seq("vec_id"))
        .join(centsG, Seq("gid"))
        .select(col("vec_id"), col("cid"),
          (Similarity.dot(col("ve"), col("cve")) / (col("nrm") * col("cnrm")))
            .as("ccos"))
        .groupBy("vec_id").agg(topk(col("ccos"), col("cid"), nprobe).as("cs"))
        .select(col("vec_id"), explode(col("cs")).as("cid"))
      val ma = ma0.join(v, Seq("vec_id"))
        .select(col("cid"), col("vec_id"), col("ve"), col("nrm"))
        .repartition(col("cid"))
      val p = ma.as("x").join(ma.as("y"),
          col("x.cid") === col("y.cid") && col("x.vec_id") < col("y.vec_id"))
        .select(col("x.vec_id").as("i"), col("y.vec_id").as("j"),
          (Similarity.dot(col("x.ve"), col("y.ve")) /
            (col("x.nrm") * col("y.nrm"))).as("cos_raw"))
        .groupBy("i", "j").agg(max(col("cos_raw")).as("cos_raw"))
      val dir = p.select(col("i"), col("j"), col("cos_raw"))
        .unionByName(p.select(col("j").as("i"), col("i").as("j"),
          col("cos_raw")))
      dir.groupBy("i").agg(topk(col("cos_raw"), col("j"), m).as("js"))
        .select(col("i"), explode(col("js")).as("j"))
    }
  }

  /** One beam round of the oracle: previous beam ∪ its graph neighbors,
    * re-ranked by rounded query cosine, top `beamW` kept. `p` prefixes
    * the CTE names so several beam chains (the beam-width curve) can
    * coexist in one oracle. */
  private def beamRoundCte(r: Int, beamW: Int, p: String = "hb"): String =
    s"""$p$r AS (SELECT qid, vec_id FROM (
       |  SELECT c.qid, c.vec_id, row_number() OVER (PARTITION BY c.qid
       |    ORDER BY round(list_dot_product(q.qve, v.ve) / (q.qnrm * v.nrm), 4) DESC,
       |             c.vec_id) AS rn
       |  FROM (SELECT qid, vec_id FROM $p${r - 1}
       |        UNION
       |        SELECT b.qid, k.j AS vec_id FROM $p${r - 1} b
       |        JOIN knn k ON b.vec_id = k.i) c
       |  JOIN v ON c.vec_id = v.vec_id
       |  JOIN qs q ON q.qid = c.qid
       |) WHERE rn <= $beamW)""".stripMargin

  /** Shared oracle tail for the graph-ANN gates: 8 lowest-id entry
    * points, 4 unrolled beam rounds at width 16 over whatever CTE is
    * named `knn`, the beam's final top-10 (`hnsw`) and the exact
    * brute-force top-10 (`exact`) for the queries in `qs` — one
    * formulation so `sim_ann_hnsw` (all-pairs-built graph) and
    * `sim_ann_graph_build` (IVF-built graph) cannot silently diverge
    * in search semantics. */
  private def beamOracleTail: String =
    s"""hb0 AS (
       |  SELECT qid, vec_id FROM qs,
       |    (SELECT vec_id FROM v ORDER BY vec_id LIMIT 8)
       |),
       |${beamRoundCte(1, 16)},
       |${beamRoundCte(2, 16)},
       |${beamRoundCte(3, 16)},
       |${beamRoundCte(4, 16)},
       |hnsw AS (SELECT qid, vec_id FROM (
       |  SELECT b.qid, b.vec_id, row_number() OVER (PARTITION BY b.qid
       |    ORDER BY round(list_dot_product(q.qve, v.ve) / (q.qnrm * v.nrm), 4) DESC,
       |             b.vec_id) AS rn
       |  FROM hb4 b JOIN v ON b.vec_id = v.vec_id JOIN qs q ON q.qid = b.qid
       |  WHERE b.vec_id <> b.qid
       |) WHERE rn <= 10),
       |exact AS (SELECT qid, vec_id FROM (
       |  SELECT q.qid, v.vec_id, row_number() OVER (PARTITION BY q.qid
       |    ORDER BY list_dot_product(q.qve, v.ve) / (q.qnrm * v.nrm) DESC,
       |             v.vec_id) AS rn
       |  FROM v, qs q WHERE v.vec_id <> q.qid
       |) WHERE rn <= 10)""".stripMargin

  /** GRAPH-BASED ANN (the HNSW/NSW family) with a hash-gated recall
    * relation — completes the ANN portfolio beside IVF, kmeans, PQ and
    * LSH: a landed deterministic kNN graph (`knnGraph`) searched by
    * fixed-round beam expansion (`beamSearchTopK`), measured per query
    * against the exact brute-force top-10 exactly like
    * `sim_ann_recall`. The oracle replays the whole path: the kNN
    * graph from each pair's cosine computed once (both directions
    * ranked), 4 unrolled beam rounds from the 8 lowest-id entry
    * points at beam width 16, final top-10, per-query overlap.
    * Parameters were tuned against the oracle (M=8/entry 4/beam 12/
    * 3 rounds navigated to 10-80% on the near-orthogonal sf0.1 table;
    * M=16/entry 8/beam 16/4 rounds reaches 100% at every SF — beating
    * the IVF baseline's probe budget by visiting ≤ rounds·beam·M ≈ 10³
    * vectors regardless of corpus size, vs nprobe/C of the corpus). */
  val simAnnHnsw = QueryDef(
    "sim_ann_hnsw",
    s"""$vCtes, $qsCte, pr AS (
       |  SELECT a.vec_id AS i, b.vec_id AS j,
       |         list_dot_product(a.ve, b.ve) / (a.nrm * b.nrm) AS c
       |  FROM v a JOIN v b ON a.vec_id < b.vec_id
       |), dk AS (
       |  SELECT i, j, c FROM pr UNION ALL SELECT j AS i, i AS j, c FROM pr
       |), knn AS (
       |  SELECT i, j FROM (
       |    SELECT i, j, row_number() OVER (PARTITION BY i
       |      ORDER BY c DESC, j) AS rn FROM dk
       |  ) WHERE rn <= 16
       |),
       |$beamOracleTail
       |SELECT e.qid, CAST(count(*) AS BIGINT) AS n_overlap,
       |       CAST(count(*) * 10 AS BIGINT) AS recall_pct
       |FROM exact e JOIN hnsw h ON e.qid = h.qid AND e.vec_id = h.vec_id
       |GROUP BY e.qid ORDER BY e.qid""".stripMargin) { (s, d) =>
    val v = prep(Tables.embeddings(s, d))
    val approx = beamSearchTopK(v, knnGraph(s, d, m = 16),
      qids = Qids, entryN = 8, beamW = 16, rounds = 4, k = 10)
    recallOverlap(v, approx, qids = Qids, k = 10)
  }

  /** SUB-QUADRATIC GRAPH BUILD, gated — completes the graph-ANN family
    * the way `dedup_minhash` completed text dedup: `sim_ann_hnsw`
    * proved the landed-graph + beam-search SERVING path but built its
    * index with the quadratic all-pairs twin; this key gates the scale
    * build (`knnGraphIvf` — IVF-bucketed candidates off the shared
    * trained-kmeans model, (nprobe·n)²/c pair work) by measuring, per
    * query, the beam-search recall the IVF-built graph achieves against
    * the exact brute-force top-10, AND the global edge recall of the
    * IVF graph against the all-pairs-built graph (both landed, both
    * amortized). The oracle replays the full path: quantized-Lloyd
    * model (IvfModel.Scaled — bit-identical rounds), rn ≤ 3
    * multi-assignment (nprobe = 3 on both sides), distinct co-bucketed
    * pairs scored once, top-16
    * per direction, then the shared beam tail (beamOracleTail) and the
    * all-pairs twin for the edge numbers. A candidate-generation
    * regression now fails the hash with readable recall columns instead
    * of hiding behind the quadratic build. */
  /** The IVF-built kNN-graph oracle chain (`ma … knn`, over the trained
    * `c3` model and `v` — the c-SCALED sample-trained model of
    * `IvfModel.Scaled.oraclePrefix`) — the replay of
    * `knnGraphIvf(m=16, nprobe=3)`, shared by `sim_ann_graph_build`,
    * `align_bitext_knn` and `sim_ann_beam_curve` so the graph the keys
    * gate has exactly one oracle formulation. */
  /** MATERIALIZED discipline: the unrolled beam rounds reference their
    * predecessor TWICE each (direct ∪ graph-expanded), so an INLINED
    * `knn` re-executes ~2^rounds times per chain — tolerable while `ma`
    * was one cheap window, a multi-minute blowup once the two-level
    * routing made each re-execution a 4-way join.
    * MATERIALIZED pins one execution per query; values are unchanged. */
  private val ivfGraphOracleCtes: String =
    """pag AS MATERIALIZED (SELECT vec_id, aid AS gid FROM (
      |  SELECT v.vec_id, a.aid, row_number() OVER (PARTITION BY v.vec_id
      |    ORDER BY list_dot_product(v.ve, a.ave) / (v.nrm * a.anrm) DESC, a.aid) AS rn
      |  FROM v, anch a) WHERE rn <= 2),
      |ma AS MATERIALIZED (SELECT cid, vec_id FROM (
      |  SELECT v.vec_id, c.cid, row_number() OVER (PARTITION BY v.vec_id
      |    ORDER BY list_dot_product(v.ve, c.cve) / (v.nrm * c.cnrm) DESC, c.cid) AS rn
      |  FROM v JOIN pag USING (vec_id) JOIN cg ON cg.gid = pag.gid
      |  JOIN c3 c ON c.cid = cg.cid) WHERE rn <= 3),
      |cand AS (
      |  SELECT DISTINCT x.vec_id AS i, y.vec_id AS j
      |  FROM ma x JOIN ma y ON x.cid = y.cid AND x.vec_id < y.vec_id),
      |gp AS (
      |  SELECT cand.i, cand.j,
      |         list_dot_product(a.ve, b.ve) / (a.nrm * b.nrm) AS c
      |  FROM cand JOIN v a ON cand.i = a.vec_id JOIN v b ON cand.j = b.vec_id),
      |gd AS (SELECT i, j, c FROM gp UNION ALL SELECT j AS i, i AS j, c FROM gp),
      |knn AS MATERIALIZED (SELECT i, j FROM (
      |  SELECT i, j, row_number() OVER (PARTITION BY i
      |    ORDER BY c DESC, j) AS rn FROM gd) WHERE rn <= 16)""".stripMargin

  val simAnnGraphBuild = QueryDef(
    "sim_ann_graph_build",
    s"""${IvfModel.Scaled.oraclePrefix()},
       |$ivfGraphOracleCtes,
       |apr AS (
       |  SELECT a.vec_id AS i, b.vec_id AS j,
       |         list_dot_product(a.ve, b.ve) / (a.nrm * b.nrm) AS c
       |  FROM v a JOIN v b ON a.vec_id < b.vec_id),
       |adk AS (SELECT i, j, c FROM apr UNION ALL SELECT j AS i, i AS j, c FROM apr),
       |aknn AS (SELECT i, j FROM (
       |  SELECT i, j, row_number() OVER (PARTITION BY i
       |    ORDER BY c DESC, j) AS rn FROM adk) WHERE rn <= 16),
       |eo AS (SELECT CAST(count(*) AS BIGINT) AS n_edge_overlap
       |       FROM knn JOIN aknn USING (i, j)),
       |et AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM aknn),
       |$qsCte,
       |$beamOracleTail
       |SELECT e.qid, CAST(count(*) AS BIGINT) AS n_overlap,
       |       CAST(count(*) * 10 AS BIGINT) AS recall_pct,
       |       eo.n_edge_overlap,
       |       CAST(eo.n_edge_overlap * 100 // et.n_edges AS BIGINT) AS edge_recall_pct
       |FROM exact e JOIN hnsw h ON e.qid = h.qid AND e.vec_id = h.vec_id, eo, et
       |GROUP BY e.qid, eo.n_edge_overlap, et.n_edges
       |ORDER BY e.qid""".stripMargin) { (s, d) =>
    val v = prep(Tables.embeddings(s, d))
    val gIvf = knnGraphIvf(s, d, m = 16, nprobe = 3)
    val gAll = knnGraph(s, d, m = 16)
    val edges = broadcast(gIvf.join(gAll, Seq("i", "j"))
      .agg(count(lit(1)).as("n_edge_overlap"))
      .crossJoin(gAll.agg(count(lit(1)).as("n_edges")))
      .select(col("n_edge_overlap"),
        expr("n_edge_overlap * 100 div n_edges").as("edge_recall_pct")))
    val approx = beamSearchTopK(v, gIvf, Qids, entryN = 8, beamW = 16,
      rounds = 4, k = 10)
    recallOverlap(v, approx, Qids, k = 10).crossJoin(edges).orderBy("qid")
  }

  /** MARGIN-BASED BITEXT MINING core (Artetxe & Schwenk 2019,
    * arXiv:1811.01136 — the CCMatrix/LASER parallel-corpus recipe):
    * raw cosine over-selects "hub" targets that sit close to EVERYTHING;
    * the ratio-margin score divides each candidate cosine by the mean of
    * the two endpoints' k-NN cosines, so a pair is mined only when it is
    * close RELATIVE to what its endpoints usually see. Input `m` carries
    * (cid, vec_id, ve, nrm, side 0|1); candidates are cross-side pairs
    * WITHIN a cluster (the SemDeDup candidate join — production mines
    * over an ANN index's retrievals, and the margin normalizer is
    * likewise computed over the retrieved set, per the paper's §3.2
    * k-NN-over-index setup).
    *
    * Determinism: cosines quantized to FLOOR micro (floor is identical
    * cross-engine where round-half differs on negatives), only positive
    * cosines kept as candidates — the plausible-translation screen, and
    * it keeps every later integer division on uniformly positive
    * operands as a belt-and-braces simplification (NOT an engine-
    * divergence fix: Spark's `div` and DuckDB's `//` BOTH truncate
    * toward zero, verified -7//2 = -3 in DuckDB), k-NN
    * averages as integer sum-div-count over the top-k under the total
    * order (cmic DESC, partner id), margin_micro = 2·cmic·10⁶ div
    * (avg_a + avg_b), and the forward/backward best-pair selection is
    * two row_number windows under total orders. Mining strategy =
    * "max-margin forward, then best-source-per-target" (the paper's
    * max-score intersection shape).
    *
    * Scale: candidate generation is the cluster-keyed equi-join (n²/c
    * pair work, tiles partition-local, c grows with the corpus); the
    * k-NN windows and the fw/bw selections run over the CANDIDATE
    * relation keyed by node — no corpus-sized window, nothing global
    * until the final top-20 TakeOrdered. */
  def bitextMineFrom(m: DataFrame, k: Int = 4, topN: Int = 20): DataFrame = {
    val x = m.filter(col("side") === 0)
      .select(col("cid"), col("vec_id").as("a_id"), col("ve").as("ave"),
        col("nrm").as("anrm"))
    val y = m.filter(col("side") === 1)
      .select(col("cid"), col("vec_id").as("b_id"), col("ve").as("bve"),
        col("nrm").as("bnrm"))
    val pc = x.join(y, "cid")
      .select(col("cid"), col("a_id"), col("b_id"),
        floor(Similarity.dot(col("ave"), col("bve")) /
          (col("anrm") * col("bnrm")) * lit(1000000.0)).cast("long").as("cmic"))
      .filter(col("cmic") > 0)
    marginMineTail(pc, k, topN, carryCid = true)
  }

  /** DuckDB twin of `marginMineTail` at k = 4, top 20, over a candidate
    * relation `pc`: neighborhood means `na`/`nb`, margins `sc`, and the
    * forward/backward picks `fw`/`bw`. Starts mid-WITH. */
  private def marginMineOracle(carryCid: Boolean): String = {
    val c = if (carryCid) "cid, " else ""
    s"""ra AS (
       |  SELECT ${c}a_id, b_id, cmic,
       |    row_number() OVER (PARTITION BY a_id ORDER BY cmic DESC, b_id) AS rna,
       |    row_number() OVER (PARTITION BY b_id ORDER BY cmic DESC, a_id) AS rnb
       |  FROM pc
       |), na AS (
       |  SELECT a_id, sum(cmic) // count(*) AS avga FROM ra WHERE rna <= 4 GROUP BY a_id
       |), nb AS (
       |  SELECT b_id, sum(cmic) // count(*) AS avgb FROM ra WHERE rnb <= 4 GROUP BY b_id
       |), sc AS (
       |  SELECT ${if (carryCid) "pc.cid, " else ""}pc.a_id, pc.b_id, pc.cmic,
       |    CAST((2 * pc.cmic * 1000000) // (na.avga + nb.avgb) AS BIGINT) AS margin_micro
       |  FROM pc JOIN na USING (a_id) JOIN nb USING (b_id)
       |  WHERE na.avga + nb.avgb > 0
       |), fw AS (
       |  SELECT * FROM (
       |    SELECT sc.*, row_number() OVER (PARTITION BY a_id
       |      ORDER BY margin_micro DESC, b_id) AS rf FROM sc) WHERE rf = 1
       |), bw AS (
       |  SELECT * FROM (
       |    SELECT fw.*, row_number() OVER (PARTITION BY b_id
       |      ORDER BY margin_micro DESC, a_id) AS rb FROM fw) WHERE rb = 1
       |)
       |SELECT a_id, b_id, ${c}cmic AS cos_micro, margin_micro
       |FROM bw ORDER BY margin_micro DESC, a_id LIMIT 20""".stripMargin
  }

  /** The margin arithmetic + forward/backward selection over an
    * already-built positive-cosine candidate relation (a_id, b_id,
    * cmic [, cid]) — shared by the cluster-tile miner
    * (`align_bitext_mine`) and the ANN-k-capped miner
    * (`align_bitext_knn`) so the two differ ONLY in candidate
    * generation. */
  private def marginMineTail(pc: DataFrame, k: Int, topN: Int,
      carryCid: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ra = pc
      .withColumn("rna", row_number().over(
        Window.partitionBy("a_id").orderBy(col("cmic").desc, col("b_id"))))
      .withColumn("rnb", row_number().over(
        Window.partitionBy("b_id").orderBy(col("cmic").desc, col("a_id"))))
    val na = ra.filter(col("rna") <= k).groupBy("a_id")
      .agg(expr("sum(cmic) div count(1)").as("avga"))
    val nb = ra.filter(col("rnb") <= k).groupBy("b_id")
      .agg(expr("sum(cmic) div count(1)").as("avgb"))
    val carried = if (carryCid) Seq(col("cid")) else Nil
    val sc = pc.join(na, "a_id").join(nb, "b_id")
      .filter(col("avga") + col("avgb") > 0)
      .select(carried ++ Seq(col("a_id"), col("b_id"), col("cmic"),
        expr("2 * cmic * 1000000L div (avga + avgb)").as("margin_micro")): _*)
    val fw = sc.withColumn("rf", row_number().over(
        Window.partitionBy("a_id").orderBy(col("margin_micro").desc, col("b_id"))))
      .filter(col("rf") === 1)
    val bw = fw.withColumn("rb", row_number().over(
        Window.partitionBy("b_id").orderBy(col("margin_micro").desc, col("a_id"))))
      .filter(col("rb") === 1)
    bw.select(Seq(col("a_id"), col("b_id")) ++ carried ++
        Seq(col("cmic").as("cos_micro"), col("margin_micro")): _*)
      .orderBy(col("margin_micro").desc, col("a_id")).limit(topN)
  }

  /** Gated bitext mining over the trained kmeans clusters: sides are the
    * vec_id parity (the fixture's deterministic two-corpus split), the
    * cluster model is the shared cached index (`IvfModel.Fixed`), and
    * the oracle replays the identical Lloyd rounds + candidate join +
    * margin arithmetic. Output: top-20 mined pairs by margin. */
  val alignBitextMine = QueryDef(
    "align_bitext_mine",
    s"""${IvfModel.Fixed.oraclePrefix()},
       |m AS (
       |  SELECT af.cid, v.vec_id, v.ve, v.nrm, v.vec_id % 2 AS side
       |  FROM af JOIN v USING (vec_id)
       |), cand AS (
       |  SELECT x.cid, x.vec_id AS a_id, y.vec_id AS b_id,
       |    CAST(floor(list_dot_product(x.ve, y.ve) / (x.nrm * y.nrm) * 1000000) AS BIGINT) AS cmic
       |  FROM m x JOIN m y ON x.cid = y.cid AND x.side = 0 AND y.side = 1
       |), pc AS (
       |  SELECT * FROM cand WHERE cmic > 0
       |), ${marginMineOracle(carryCid = true)}""".stripMargin) { (s, d) =>
    val v = prep(Tables.embeddings(s, d))
    val m = assignTo(v, IvfModel.Fixed.cents(s, d))
      .select(col("bucket").as("cid"), col("vec_id"), col("ve"), col("nrm"),
        (col("vec_id") % 2).as("side"))
      .repartition(col("cid"))
    bitextMineFrom(m)
  }

  /** BITEXT MINING AT DEPLOY SHAPE — `align_bitext_mine` with the
    * candidate set capped per node at the ANN k: candidates are the
    * CROSS-SIDE edges of the landed IVF-built
    * kNN graph (`knnGraphIvf`, top-16 per direction) instead of full
    * within-cluster tiles, so each node contributes ≤ 2·16 candidates and
    * the mining pass is LINEAR in the corpus however wide the clusters
    * get — exactly the paper's §3.2 setup (mine over an ANN index's
    * retrievals; the margin normalizer is computed over the retrieved
    * set). The fixed-c tile miner stays gated as the LOCAL semantics
    * audit. Same margin arithmetic, forward/backward selection and
    * top-20 as the tile miner (`marginMineTail` — one kernel). Oracle
    * replays the trained model, the IVF graph (shared
    * `ivfGraphOracleCtes` with `sim_ann_graph_build`), the parity-side
    * normalization and all margin arithmetic. */
  val alignBitextKnn = QueryDef(
    "align_bitext_knn",
    s"""${IvfModel.Scaled.oraclePrefix()},
       |$ivfGraphOracleCtes,
       |bc AS (
       |  SELECT DISTINCT CASE WHEN i % 2 = 0 THEN i ELSE j END AS a_id,
       |                  CASE WHEN i % 2 = 0 THEN j ELSE i END AS b_id
       |  FROM knn WHERE i % 2 <> j % 2
       |), pc0 AS (
       |  SELECT bc.a_id, bc.b_id,
       |    CAST(floor(list_dot_product(a.ve, b.ve) / (a.nrm * b.nrm) * 1000000) AS BIGINT) AS cmic
       |  FROM bc JOIN v a ON bc.a_id = a.vec_id JOIN v b ON bc.b_id = b.vec_id
       |), pc AS (
       |  SELECT * FROM pc0 WHERE cmic > 0
       |), ${marginMineOracle(carryCid = false)}""".stripMargin) { (s, d) =>
    val v = prep(Tables.embeddings(s, d))
    val g = knnGraphIvf(s, d, m = 16, nprobe = 3)
    val bc = g.filter(col("i") % 2 =!= col("j") % 2)
      .select(when(col("i") % 2 === 0, col("i")).otherwise(col("j")).as("a_id"),
        when(col("i") % 2 === 0, col("j")).otherwise(col("i")).as("b_id"))
      .distinct()
    val pc = bc
      .join(v.select(col("vec_id").as("a_id"), col("ve").as("ave"),
        col("nrm").as("anrm")), Seq("a_id"))
      .join(v.select(col("vec_id").as("b_id"), col("ve").as("bve"),
        col("nrm").as("bnrm")), Seq("b_id"))
      .select(col("a_id"), col("b_id"),
        floor(Similarity.dot(col("ave"), col("bve")) /
          (col("anrm") * col("bnrm")) * lit(1000000.0)).cast("long").as("cmic"))
      .filter(col("cmic") > 0)
    marginMineTail(pc, k = 4, topN = 20, carryCid = false)
  }

  /** BEAM-WIDTH TUNING CURVE for graph ANN — the graph-family
    * counterpart of `sim_ann_nprobe_curve` (that key gates IVF's whole
    * recall/cost knob under the hash; THIS gates the graph searcher's):
    * per beam width w ∈ {4, 8, 16}, the per-query recall of 4-round
    * beam search over the landed IVF-built kNN graph against the exact
    * brute-force top-10. The curve is the tuning artifact a serving
    * deployment actually reads — per-query cost is rounds·w·M scored
    * candidates (corpus-independent), so the width knob trades exactly
    * this gated recall against a linear cost factor. Graph, model and
    * query set are the family's shared cached artifacts (one build
    * feeds `sim_ann_graph_build`, `align_bitext_knn` and this); the
    * oracle replays the trained model, the IVF graph
    * (`ivfGraphOracleCtes`) and three width-suffixed beam chains
    * through the shared `beamRoundCte`. Recall convention matches
    * `recallOverlap`: a query with zero overlap at a width has no row
    * (the nprobe-curve convention, identical in both engines). */
  val simAnnBeamCurve = QueryDef(
    "sim_ann_beam_curve", {
      val perW = Seq(4, 8, 16).map { w =>
        val p = s"bw${w}r"
        s"""${p}0 AS (
           |  SELECT qid, vec_id FROM qs,
           |    (SELECT vec_id FROM v ORDER BY vec_id LIMIT 8)
           |),
           |${beamRoundCte(1, w, p)},
           |${beamRoundCte(2, w, p)},
           |${beamRoundCte(3, w, p)},
           |${beamRoundCte(4, w, p)},
           |res$w AS (SELECT qid, vec_id FROM (
           |  SELECT b.qid, b.vec_id, row_number() OVER (PARTITION BY b.qid
           |    ORDER BY round(list_dot_product(q.qve, v.ve) / (q.qnrm * v.nrm), 4) DESC,
           |             b.vec_id) AS rn
           |  FROM ${p}4 b JOIN v ON b.vec_id = v.vec_id JOIN qs q ON q.qid = b.qid
           |  WHERE b.vec_id <> b.qid
           |) WHERE rn <= 10),
           |r$w AS (
           |  SELECT CAST($w AS BIGINT) AS beam_w, e.qid,
           |         CAST(count(*) AS BIGINT) AS n_overlap,
           |         CAST(count(*) * 10 AS BIGINT) AS recall_pct
           |  FROM ex e JOIN res$w h ON e.qid = h.qid AND e.vec_id = h.vec_id
           |  GROUP BY e.qid
           |)""".stripMargin
      }.mkString(",\n")
      s"""${IvfModel.Scaled.oraclePrefix()},
         |$ivfGraphOracleCtes,
         |$qsCte,
         |ex AS (SELECT qid, vec_id FROM (
         |  SELECT q.qid, v.vec_id, row_number() OVER (PARTITION BY q.qid
         |    ORDER BY list_dot_product(q.qve, v.ve) / (q.qnrm * v.nrm) DESC,
         |             v.vec_id) AS rn
         |  FROM v, qs q WHERE v.vec_id <> q.qid
         |) WHERE rn <= 10),
         |$perW
         |SELECT * FROM (
         |  SELECT * FROM r4 UNION ALL SELECT * FROM r8 UNION ALL SELECT * FROM r16
         |) ORDER BY beam_w, qid""".stripMargin
    }) { (s, d) =>
    // The three width chains run FUSED in one plan: beam rows
    // carry a beam_w tag, each round expands/scores/prunes all widths
    // together (window partitioned by (beam_w, qid), per-row limit
    // rn <= beam_w), and the exact side computes once — 4 expansion
    // rounds + 1 final scoring instead of 3 × (4 + 1). Per-width rows
    // are identical to the unfused beamSearchTopK chains (same entry
    // set, same expansion, same rounded-cosine total order, same
    // prune), so the oracle's three width-suffixed chains replay
    // unchanged.
    val v = prep(Tables.embeddings(s, d))
    val g = knnGraphIvf(s, d, m = 16, nprobe = 3)
    val q = queryVecs(v, Qids)
    val entry = v.orderBy("vec_id").limit(8).select("vec_id")
    // one-exchange per-round prune (beamSearchTopK's form,
    // with the limit a per-row COLUMN — each width tag keeps its own
    // beam_w candidates out of one shared aggregation)
    def score(cand: DataFrame, limit: org.apache.spark.sql.Column,
        exclSelf: Boolean): DataFrame = {
      val scored = cand.join(v, Seq("vec_id")).join(q, Seq("qid"))
        .select(col("beam_w"), col("qid"), col("vec_id"),
          round(Similarity.dot(col("qve"), col("ve")) /
            (col("qnrm") * col("nrm")), 4).as("c"))
      (if (exclSelf) scored.filter(col("vec_id") =!= col("qid")) else scored)
        .groupBy("beam_w", "qid")
        .agg(sort_array(collect_set(
          struct((-col("c")).as("nc"), col("vec_id")))).as("topAll"))
        .select(col("beam_w"), col("qid"),
          explode(slice(col("topAll"), lit(1), limit)).as("t"))
        .select(col("beam_w"), col("qid"), col("t.vec_id").as("vec_id"))
    }
    var beam = Seq(4, 8, 16).map(w =>
        q.select(lit(w.toLong).as("beam_w"), col("qid")).crossJoin(entry))
      .reduce(_ unionByName _)
    for (_ <- 1 to 4)
      beam = score(
        beam.unionByName(
          g.join(broadcast(beam.withColumnRenamed("vec_id", "i")), Seq("i"))
            .select(col("beam_w"), col("qid"), col("j").as("vec_id"))),
        limit = col("beam_w").cast("int"), exclSelf = false)
    val top = score(beam, limit = lit(10), exclSelf = true)
    top.join(exactTopK(v, Qids, k = 10), Seq("qid", "vec_id"))
      .groupBy("beam_w", "qid")
      .agg(count(lit(1)).as("n_overlap"),
        expr("count(1) * 100 div 10").as("recall_pct"))
      .orderBy("beam_w", "qid")
  }

  /** INCREMENTAL ANN INDEX MAINTENANCE: a 100 TB serving index is maintained
    * incrementally, never rebuilt — new rows are ASSIGNED into the
    * existing IVF lists under the existing trained model, with no
    * retrain (the FAISS `add` motion; the dedup analog is
    * `dedup_incremental`, where increment × base work never forms
    * base × base). Base corpus = vec_id % 10 ≠ 7; increment = the
    * % 10 = 7 rows arriving later. The base lists are a LANDED
    * artifact (the serving index on disk); the upsert job assigns ONLY
    * the increment (|inc|·(g + c/g) dot products through the two-level
    * quantizer — increment-bounded, the
    * property the 10× row records) and the merged index is the
    * landed-lists ∪ increment-lists union. Gate: per-query recall of
    * nprobe=4 IVF top-10 over the MERGED index vs the exact top-10
    * over the full corpus, plus the increment size — so a maintenance
    * regression (increment influencing training, rows lost in the
    * merge, probe missing fresh rows) fails the hash with readable
    * recall/count columns.
    *
    * Determinism: assignment is per-row independent, so base-assign ∪
    * increment-assign ≡ full-corpus assign under the SAME model —
    * which is exactly what the oracle replays (train on the base
    * sample, `af` over full v); AnnSpec pins the equivalence on the
    * Spark side. */
  /** The batch-vs-maintained-index recall replay shared by
    * `sim_ann_upsert` and `stream_ann_upsert`: train on the base
    * sample, assign the FULL corpus under that model (`af` — which
    * base-assign ∪ increment-assign must equal, the per-row-independent
    * determinism the keys gate), probe the merged index, compare to
    * exact. One oracle string, two ingestion paths: the hash certifies
    * the STREAMED maintenance reaches exactly the batch answer — the
    * exactly-once claim, the `stream_upsert_sink` ↔ `merge_cdc`
    * relationship replayed for the ANN index. */
  private val upsertOracleSql: String =
    s"""${IvfModel.UpsertBase.oraclePrefix()},
       |$servingRecallCtes,
       |ni AS (SELECT CAST(count(*) AS BIGINT) AS n_inserted FROM v
       |       WHERE vec_id % 10 = 7)
       |SELECT e.qid, CAST(count(*) AS BIGINT) AS n_overlap,
       |       CAST(count(*) * 10 AS BIGINT) AS recall_pct, ni.n_inserted
       |FROM exact e JOIN appx h ON e.qid = h.qid AND e.vec_id = h.vec_id, ni
       |GROUP BY e.qid, ni.n_inserted
       |ORDER BY e.qid""".stripMargin

  /** Probe + recall tail over a maintained (merged) index — shared by
    * the batch and streaming upsert gates so the serving read path has
    * exactly one implementation. */
  private def upsertRecallReport(v: DataFrame, merged: DataFrame,
      cents: DataFrame, nIns: DataFrame): DataFrame = {
    val approx = ivfTopKMulti(v, merged, cents, Qids, nprobe = 4, k = 10)
    recallOverlap(v, approx, Qids, k = 10)
      .crossJoin(broadcast(nIns)).orderBy("qid")
  }

  val simAnnUpsert = QueryDef("sim_ann_upsert", upsertOracleSql) { (s, d) =>
    val v = prep(Tables.embeddings(s, d))
    val inc = v.filter(col("vec_id") % 10 === 7)
    val cents = IvfModel.UpsertBase.cents(s, d)
    val baseLists = IvfModel.UpsertBase.lists(s, d)
    // the upsert job: assign-only, touches ONLY the increment — routed
    // through the same two-level quantizer as the base lists (the
    // oracle's single `af` over the full corpus requires base and
    // increment to share one assignment function)
    val merged = baseLists.unionByName(twoLevelAssign(inc, cents))
    upsertRecallReport(v, merged, cents,
      inc.agg(count(lit(1)).as("n_inserted")))
  }

  /** STREAMING ANN INDEX MAINTENANCE — the ingestion motion behind
    * `sim_ann_upsert` run as an actual checkpointed stream through
    * `StreamOps.fileStream`: a production serving index is fed by a
    * STREAM of fresh embeddings — each microbatch is assigned under the
    * frozen base model (assign-only, the FAISS `add` motion) and
    * appended to the maintained lists; the gate probes the merged index
    * (landed base lists ∪ streamed lists) and hash-matches THE SAME
    * oracle as the batch upsert. That equality is the exactly-once claim
    * for index ingestion — batch slicing, file pick order and crash
    * replay all land the same index because per-row assignment is
    * independent and keyed (the `stream_upsert_sink` ↔ `merge_cdc`
    * relationship, replayed for the ANN family). The read side dedups
    * the sink by (vec_id, bucket) so a replayed batch cannot double a
    * row — assignment determinism makes the append idempotent under
    * dedup. `n_inserted` counts the SINK (not the source), so a dropped
    * or double-counted row fails the gate with a readable column.
    *
    * Scale: each microbatch costs |batch|·(g + c/g) broadcast dot
    * products through the frozen two-level structure + one append —
    * increment-bounded, never touching base lists; the probe is the
    * shared nprobe/c serving read path. */
  val streamAnnUpsert = QueryDef("stream_ann_upsert", upsertOracleSql) {
    (s, d) =>
    val v = prep(Tables.embeddings(s, d))
    // model + base lists: the sim_ann_upsert artifacts (one shared
    // build, both ingestion paths)
    val cents = IvfModel.UpsertBase.cents(s, d)
    val baseLists = IvfModel.UpsertBase.lists(s, d)
    // the routing structure is a pure function of the FROZEN base model:
    // derive it once here, not per microbatch (no per-batch count jobs
    // or re-broadcasts on the ingest hot path)
    val (anch, centsG) = twoLevelStructure(cents)
    // a file-source microbatch inherits the staged file's partition count
    // (one file -> ONE task), which would serialize the |batch|·(g + c/g)
    // assignment dots; re-spread by key over a BOUNDED 8 partitions
    // before the CPU-heavy stage (measured 38 -> ~7 s warm at the 100x
    // study point under the flat assignment; an unbounded spread would
    // also leave shuffle-partition-count tiny sink files per batch — list
    // compaction is `sim_ann_delete`'s motion, not the ingester's).
    // Assignment is per-row deterministic, so the spread cannot move the
    // hash.
    val assign = (batch: DataFrame) =>
      twoLevelAssignWith(prep(batch).repartition(8, col("vec_id")), anch, centsG)
    val lists = StreamOps.FileSink(
      dir => (batch: DataFrame, _: Long) =>
        assign(batch).coalesce(8).write.mode("append").parquet(dir),
      schema = sch => assign(s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row], sch)).schema)
    // the increment arrives as 4 staged microbatches
    val streamed = StreamOps.fileStream(s, d, "annup",
      Tables.embeddings(s, d).filter(col("vec_id") % 10 === 7)
        .select(col("vec_id"), col("embedding"),
          pmod(expr("vec_id div 10"), lit(4)).cast("int").as("b")),
      lists)(_())
      .distinct()
    upsertRecallReport(v, baseLists.unionByName(streamed), cents,
      streamed.agg(count(lit(1)).as("n_inserted")))
  }

  /** TWO-LEVEL IVF BUILD: the serving-index lists (`IvfModel.lists`,
    * the artifact `sim_ann_delete`/`sim_ann_filtered`/`sim_ann_rebalance`
    * maintain and probe) are built by `twoLevelAssign` — the
    * ⌈√c⌉-anchor hierarchical coarse quantizer (faiss's
    * quantizer-over-the-quantizer; Babenko & Lempitsky's inverted
    * multi-index) — instead of the flat n·c assignment, which at
    * c(n) = n/200 is n²/200 (a measured 33–44 s landing at the 100×
    * point). This
    * key IS the build contract: it lands the lists and gates
    * (a) search recall of nprobe=4 top-10 over them vs exact brute
    * force — on this near-orthogonal fixture the two-level lists sit
    * in the SAME recall band as the flat build (sf0.1: 10/9/4 vs
    * 10/6/3 of 10), because the loss is the fixture's flat-cosine
    * regime, not the hierarchy; (b) TOTALITY — Spark's n_indexed is the
    * MEASURED count of the landed artifact while the oracle's is the
    * CORPUS count (the measured-identity convention), so a dropped
    * point fails the hash even if both engines' routing would drop it
    * symmetrically (and `centroidGroups`' anchor self-pin makes a drop
    * structurally impossible besides); and
    * (c) the structure counts (n_centroids, n_groups) a build report
    * ships. The oracle replays anchors/groups/routing bit-identically
    * (`twoLevelAfCtes`). */
  /** The probe-and-rank CTEs of a serving gate over a model prefix's
    * `af`: `qs`, `probed`, the nprobe-4 top-10 `appx` over the index and
    * the exact top-10 `exact` — shared by the upsert and build gates. */
  private def servingRecallCtes: String =
    s"""$qsCte, $probedCte,
       |appx AS (SELECT qid, vec_id FROM (
       |  SELECT p.qid, af.vec_id, row_number() OVER (PARTITION BY p.qid
       |    ORDER BY round(list_dot_product(q.qve, v.ve) / (q.qnrm * v.nrm), 4) DESC,
       |             af.vec_id) AS rn
       |  FROM probed p JOIN af ON af.cid = p.cid JOIN v ON v.vec_id = af.vec_id
       |  JOIN qs q ON q.qid = p.qid
       |  WHERE af.vec_id <> p.qid) WHERE rn <= 10),
       |exact AS (SELECT qid, vec_id FROM (
       |  SELECT q.qid, v.vec_id, row_number() OVER (PARTITION BY q.qid
       |    ORDER BY list_dot_product(q.qve, v.ve) / (q.qnrm * v.nrm) DESC,
       |             v.vec_id) AS rn
       |  FROM v, qs q WHERE v.vec_id <> q.qid) WHERE rn <= 10)""".stripMargin

  /** The build-contract oracle body shared by `sim_ann_ivf2` and its
    * capped twin — everything after the model prefix (which is the only
    * thing the two keys differ in). */
  private def ivf2OracleBody: String =
    s"""$servingRecallCtes,
       |acc AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM v) AS n_indexed,
       |               (SELECT CAST(count(*) AS BIGINT) FROM c3) AS n_centroids,
       |               (SELECT CAST(count(DISTINCT gid) AS BIGINT) FROM cg) AS n_groups)
       |SELECT e.qid, CAST(count(*) AS BIGINT) AS n_overlap,
       |       CAST(count(*) * 10 AS BIGINT) AS recall_pct,
       |       acc.n_indexed, acc.n_centroids, acc.n_groups
       |FROM exact e JOIN appx h ON e.qid = h.qid AND e.vec_id = h.vec_id, acc
       |GROUP BY e.qid, acc.n_indexed, acc.n_centroids, acc.n_groups
       |ORDER BY e.qid""".stripMargin

  /** The Spark side of the build contract over a model and its landed
    * lists — recall vs exact, totality, structure counts; shared by
    * `sim_ann_ivf2` and `sim_ann_ivf2_capped`. */
  private def ivf2Report(s: SparkSession, d: String, model: IvfModel): DataFrame = {
    val v = prep(Tables.embeddings(s, d))
    val cents = model.cents(s, d)
    val lists = model.lists(s, d)
    val approx = ivfTopKMulti(v, lists, cents, Qids, nprobe = 4, k = 10)
    val nc = cents.count()
    val gUsed = centroidGroups(cents, anchorsOf(cents, anchorCount(nc)))
      .select("gid").distinct().count()
    // n_indexed counts the LANDED artifact (the totality gate), the
    // structure counts are driver-held model state (bounded at c rows)
    val acc = broadcast(lists.agg(count(lit(1)).as("n_indexed"))
      .withColumn("n_centroids", lit(nc))
      .withColumn("n_groups", lit(gUsed)))
    recallOverlap(v, approx, Qids, k = 10).crossJoin(acc).orderBy("qid")
  }

  val simAnnIvf2 = QueryDef(
    "sim_ann_ivf2",
    s"""${IvfModel.Scaled.oraclePrefix()},
       |$ivf2OracleBody""".stripMargin) { (s, d) =>
    ivf2Report(s, d, IvfModel.Scaled)
  }

  /** THE CAPPED PRODUCTION BUILD, the family-level fix of the
    * uncapped-c boundary: `sim_ann_ivf2`
    * under c_eff = min(max(8, n div 200), CapC). What the cap buys at
    * 100 TB (CapC's scaladoc has the arithmetic): the grouped-centroid
    * broadcast is CONSTANT-size instead of O(n) bytes, and the
    * two-level build is LINEAR (n·2√CapC dots) instead of O(n^1.5) —
    * the two failure modes of c ∝ n at 10⁹ vectors. The gate is the
    * same build contract as the uncapped twin (recall vs exact,
    * totality, structure counts) with the oracle's c0 CTE carrying the
    * identical `least(greatest(8, nv // 200), CapC)` — the cap
    * machinery is inside the hash gate in both engines (non-binding at
    * the gate SFs where c ≤ 10, BINDING at the 100× study fixture
    * where uncapped c = 1000 → c_eff = 512; the decade row measures
    * that regime). Lists land under their own tag: the capped model is
    * a different artifact and must never alias the scaled one. */
  val simAnnIvf2Capped = QueryDef(
    "sim_ann_ivf2_capped",
    s"""${IvfModel.Capped.oraclePrefix()},
       |$ivf2OracleBody""".stripMargin) { (s, d) =>
    ivf2Report(s, d, IvfModel.Capped)
  }

  /** ANN INDEX DELETION + COMPACTION — completes the index maintenance
    * story `sim_ann_upsert` opened: add + delete are the two motions a
    * 100 TB serving index lives by. Deletes (vec_id %
    * 10 = 3) are first TOMBSTONED — an anti-join applied at read time,
    * the delete-vector motion `scan_mor_deletes` gates on the scan side
    * (FAISS `remove_ids` semantics; no index rewrite on the delete
    * path) — and separately COMPACTED: the lists rewritten without the
    * tombstones (the periodic rewrite that reclaims space). The gate
    * checks BOTH: per-query recall of nprobe=4 top-10 over the
    * tombstoned index vs the exact top-10 over the SURVIVING corpus
    * (a deleted id leaking into the probe fails the recall columns),
    * the delete count, and `compact_match` — the Spark-side relation
    * equality of the tombstone-probe and compacted-probe results (both
    * exceptAll directions; the oracle emits true, the
    * dedup_embed_lsh_recall measured-identity convention).
    *
    * Scale: the tombstone anti-join is delete-vector-bounded; the
    * compaction is one linear rewrite of the surviving lists; both
    * probes touch nprobe/c of the corpus. */
  /** Tombstone application over the serving lists — deletes drop as an
    * ANTI JOIN on the index relation (never a rescan or rebuild). Split
    * out so PlanSpec can pin the LeftAnti shape directly: the key's
    * certified approx relations are localCheckpoint-ed (computed once,
    * shared by the exceptAll certification and the recall report),
    * which hides this subtree from the key's final executed plan. */
  def tombstoneApplied(lists: DataFrame, del: DataFrame): DataFrame =
    lists.join(del, Seq("vec_id"), "left_anti")

  /** `sim_ann_delete`'s inputs: the scaled model's landed serving lists
    * and the delete vector (vec_id % 10 = 3). */
  private[graft] def deleteInputs(s: SparkSession, d: String): (DataFrame, DataFrame) =
    (IvfModel.Scaled.lists(s, d),
      prep(Tables.embeddings(s, d)).filter(col("vec_id") % 10 === 3).select("vec_id"))

  val simAnnDelete = QueryDef(
    "sim_ann_delete",
    s"""${IvfModel.Scaled.oraclePrefix()},
       |sv AS (
       |  SELECT vec_id, ve, nrm FROM v WHERE vec_id % 10 <> 3
       |), ai AS (
       |  SELECT af.vec_id, af.cid FROM af JOIN sv USING (vec_id)
       |), $qsCte, $probedCte,
       |appx AS (SELECT qid, vec_id FROM (
       |  SELECT p.qid, ai.vec_id, row_number() OVER (PARTITION BY p.qid
       |    ORDER BY round(list_dot_product(q.qve, v.ve) / (q.qnrm * v.nrm), 4) DESC,
       |             ai.vec_id) AS rn
       |  FROM probed p JOIN ai ON ai.cid = p.cid JOIN v ON v.vec_id = ai.vec_id
       |  JOIN qs q ON q.qid = p.qid
       |  WHERE ai.vec_id <> p.qid) WHERE rn <= 10),
       |exact AS (SELECT qid, vec_id FROM (
       |  SELECT q.qid, sv.vec_id, row_number() OVER (PARTITION BY q.qid
       |    ORDER BY list_dot_product(q.qve, sv.ve) / (q.qnrm * sv.nrm) DESC,
       |             sv.vec_id) AS rn
       |  FROM sv, qs q WHERE sv.vec_id <> q.qid) WHERE rn <= 10),
       |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_deleted FROM v
       |       WHERE vec_id % 10 = 3)
       |SELECT e.qid, CAST(count(*) AS BIGINT) AS n_overlap,
       |       CAST(count(*) * 10 AS BIGINT) AS recall_pct, nd.n_deleted,
       |       true AS compact_match
       |FROM exact e JOIN appx h ON e.qid = h.qid AND e.vec_id = h.vec_id, nd
       |GROUP BY e.qid, nd.n_deleted
       |ORDER BY e.qid""".stripMargin) { (s, d) =>
    val v = prep(Tables.embeddings(s, d))
    val cents = IvfModel.Scaled.cents(s, d)
    // the serving index: the shared two-level build (sim_ann_ivf2's
    // contract), landed before the compaction closure
    val (lists, del) = deleteInputs(s, d)
    val tomb = tombstoneApplied(lists, del)
    val compacted = Landed.once(s, d, "ann.ivfdelc") { tombstoneApplied(lists, del) }
    // bounded relations (<= Qids·k rows each), MATERIALIZED once:
    // un-checkpointed, the two exceptAll actions plus the final report
    // would re-run the full probe pipeline per action — approxT three
    // times, approxC twice, 35 AQE jobs per invocation for a key whose
    // certified relations are 30 rows. localCheckpoint is the
    // sql_tpch_parity certification shape taken to completion: each
    // side computes exactly once; the equality check and the recall
    // report run on the materialized blocks.
    val approxT = ivfTopKMulti(v, tomb, cents, Qids, nprobe = 4, k = 10)
      .localCheckpoint()
    val approxC = ivfTopKMulti(v, compacted, cents, Qids, nprobe = 4, k = 10)
      .localCheckpoint()
    val matches = approxT.exceptAll(approxC).isEmpty &&
      approxC.exceptAll(approxT).isEmpty
    val vSurv = v.filter(col("vec_id") % 10 =!= 3)
    recallOverlap(vSurv, approxT, Qids, k = 10)
      .crossJoin(broadcast(del.agg(count(lit(1)).as("n_deleted"))))
      .withColumn("compact_match", lit(matches))
      .orderBy("qid")
  }

  /** FILTERED ANN SEARCH — completes the serving trio with
    * `sim_ann_upsert`/`sim_ann_delete`: top-k constrained by a
    * metadata predicate — here "same label as the query" (the
    * tenant/category-scoped search every production vector store
    * serves; the classic hard case because the constraint thins the
    * probed buckets). Strategy = PRE-FILTER on the index side: the
    * probed IVF lists join the label map and drop cross-label
    * candidates BEFORE scoring (single-stage, no over-fetch heuristics
    * — deterministic, and the recall gate measures exactly what the
    * constraint costs: a probed bucket with < k same-label rows
    * surfaces as sub-100 recall, which the oracle replays). Exact side
    * = brute force over the label-constrained corpus. Output per
    * query: overlap, recall, and the constrained corpus size
    * (n_in_label — the selectivity the serving planner would read).
    * Index artifact and model are shared with `sim_ann_delete` (same
    * landed full-corpus lists — one build, three consumers). */
  val simAnnFiltered = QueryDef(
    "sim_ann_filtered",
    s"""${IvfModel.Scaled.oraclePrefix()},
       |lb AS (
       |  SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings
       |), qs AS (
       |  SELECT v.vec_id AS qid, v.ve AS qve, v.nrm AS qnrm, lb.label AS qlabel
       |  FROM v JOIN lb USING (vec_id) WHERE v.vec_id IN $qidList
       |), $probedCte,
       |appx AS (SELECT qid, vec_id FROM (
       |  SELECT p.qid, af.vec_id, row_number() OVER (PARTITION BY p.qid
       |    ORDER BY round(list_dot_product(q.qve, v.ve) / (q.qnrm * v.nrm), 4) DESC,
       |             af.vec_id) AS rn
       |  FROM probed p JOIN af ON af.cid = p.cid
       |  JOIN lb ON lb.vec_id = af.vec_id
       |  JOIN qs q ON q.qid = p.qid AND lb.label = q.qlabel
       |  JOIN v ON v.vec_id = af.vec_id
       |  WHERE af.vec_id <> p.qid) WHERE rn <= 10),
       |exact AS (SELECT qid, vec_id FROM (
       |  SELECT q.qid, v.vec_id, row_number() OVER (PARTITION BY q.qid
       |    ORDER BY list_dot_product(q.qve, v.ve) / (q.qnrm * v.nrm) DESC,
       |             v.vec_id) AS rn
       |  FROM v JOIN lb USING (vec_id)
       |  JOIN qs q ON lb.label = q.qlabel
       |  WHERE v.vec_id <> q.qid) WHERE rn <= 10),
       |nl AS (
       |  SELECT q.qid, CAST(count(*) AS BIGINT) AS n_in_label
       |  FROM lb JOIN qs q ON lb.label = q.qlabel GROUP BY q.qid
       |)
       |SELECT e.qid, CAST(count(*) AS BIGINT) AS n_overlap,
       |       CAST(count(*) * 10 AS BIGINT) AS recall_pct, nl.n_in_label
       |FROM exact e JOIN appx h ON e.qid = h.qid AND e.vec_id = h.vec_id
       |JOIN nl ON nl.qid = e.qid
       |GROUP BY e.qid, nl.n_in_label
       |ORDER BY e.qid""".stripMargin) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val v = prep(emb)
    val cents = IvfModel.Scaled.cents(s, d)
    // the SAME landed serving lists sim_ann_delete reads (one two-level
    // build, all maintenance/serving consumers)
    val lists = IvfModel.Scaled.lists(s, d)
    val lb = emb.select(col("vec_id"), col("label").cast("long").as("label"))
    val q = broadcast(v.join(lb, Seq("vec_id"))
      .filter(col("vec_id").isin(Qids: _*))
      .select(col("vec_id").as("qid"), col("ve").as("qve"),
        col("nrm").as("qnrm"), col("label").as("qlabel")))
    val probed = broadcast(probedCentroids(q, cents, 4)
      .select(col("qid"), col("cid").as("bucket")))
    val rnK = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
    val appx = lists.join(probed, Seq("bucket"))
      .join(lb, Seq("vec_id"))
      .join(q, Seq("qid"))
      .filter(col("label") === col("qlabel") && col("vec_id") =!= col("qid"))
      .join(v, Seq("vec_id"))
      .select(col("qid"), col("vec_id"),
        round(Similarity.dot(col("qve"), col("ve")) /
          (col("qnrm") * col("nrm")), 4).as("cos"))
      .withColumn("rn", row_number().over(rnK)).filter(col("rn") <= 10)
      .select("qid", "vec_id")
    val exact = v.join(lb, Seq("vec_id"))
      .join(q, col("label") === col("qlabel"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        (Similarity.dot(col("qve"), col("ve")) / (col("qnrm") * col("nrm")))
          .as("cos"))
      .withColumn("rn", row_number().over(rnK)).filter(col("rn") <= 10)
      .select("qid", "vec_id")
    val nl = lb.join(q, col("label") === col("qlabel"))
      .groupBy("qid").agg(count(lit(1)).as("n_in_label"))
    exact.join(appx, Seq("qid", "vec_id"))
      .groupBy("qid")
      .agg(count(lit(1)).as("n_overlap"),
        expr("count(1) * 100 div 10").as("recall_pct"))
      .join(broadcast(nl), Seq("qid"))
      .orderBy("qid")
  }

  /** Rebalance threshold: a list is oversized above mean + mean/16.
    * The fixture's trained lists are well balanced (max ≈ 1.13× mean),
    * so the tight ε = 1/16 keeps the branch LIVE at every SF (2/2/1
    * lists over at the three SFs); a production store rebalances at
    * 2–4× mean after heavy upserts — the motion below is identical,
    * only this constant moves. */
  private def rebalanceCap(nv: Long, nc: Long): Long =
    nv / nc + nv / (16L * nc)

  /** IVF LIST REBALANCING — the remaining maintenance motion after
    * `sim_ann_upsert` add and `sim_ann_delete` remove: sustained
    * upserts skew the inverted lists, and an oversized list degrades
    * every query probing it (the bucket scan is the per-probe cost), so
    * a production store periodically REBALANCES — the balanced-k-means
    * motion (Malinen & Fränti 2014; FAISS reclusters oversized lists
    * the same way). Deterministic one-round recipe: lists above the
    * size cap keep their `cap` most-attached members and move the rest
    * to the best centroid OTHER than the stored one. Attachment =
    * margin = cos(row, stored centroid) − cos(row, best other): low
    * margin means the row sits on the Voronoi boundary (under the
    * two-level build a hierarchy-misrouted member can even go
    * NEGATIVE — exactly the rows a rebalancer should move first), so
    * evicting it degrades its probe recall least. Gate: the per-list
    * accounting relation (bucket, n_before, n_out, n_in, n_after) —
    * the artifact a maintenance job ships.
    *
    * Scale shape: sizes are one combinable count over the landed lists
    * (the SAME artifact `sim_ann_delete`/`sim_ann_filtered` read — one
    * build, five consumers); only OVERSIZED lists' members join their
    * vectors back, and each member scores only the centroids of its
    * top-2 anchor groups (router-consistent candidates — see the
    * in-body comment for why plain "skew-bounded" was not bound enough
    * at large c); the stored-vs-best-other margin is ONE combinable
    * conditional aggregate over the skinny candidate relation —
    * cos(stored) from the cid = bucket row, the runner-up a max-struct
    * over the cid ≠ bucket rows, so no rank window ever sees it;
    * the keep/evict window partitions by oversized list (list-size-
    * bounded groups). Everything downstream is ≤ c rows. */
  val simAnnRebalance = QueryDef(
    "sim_ann_rebalance",
    s"""${IvfModel.Scaled.oraclePrefix()},
       |sz AS (
       |  SELECT cid, CAST(count(*) AS BIGINT) AS n_before FROM af GROUP BY cid
       |), cp AS (
       |  SELECT sum(n_before) // count(*)
       |       + sum(n_before) // (16 * count(*)) AS cap
       |  FROM sz
       |), ov AS (
       |  SELECT cid FROM sz, cp WHERE n_before > cap
       |), mem AS (
       |  SELECT af.vec_id, af.cid AS bucket, v.ve, v.nrm
       |  FROM af JOIN ov USING (cid) JOIN v USING (vec_id)
       |), pa2 AS (
       |  SELECT vec_id, aid AS gid FROM (
       |    SELECT m.vec_id, a.aid, row_number() OVER (PARTITION BY m.vec_id
       |      ORDER BY list_dot_product(m.ve, a.ave) / (m.nrm * a.anrm) DESC, a.aid) AS rn
       |    FROM mem m, anch a) WHERE rn <= 2
       |), mcc AS (
       |  SELECT m.vec_id, m.bucket, c.cid,
       |         list_dot_product(m.ve, c.cve) / (m.nrm * c.cnrm) AS ccos
       |  FROM mem m JOIN pa2 USING (vec_id) JOIN cg ON cg.gid = pa2.gid
       |  JOIN c3 c ON c.cid = cg.cid
       |), r2 AS (
       |  SELECT vec_id, bucket, cid, ccos,
       |         row_number() OVER (PARTITION BY vec_id
       |           ORDER BY ccos DESC, cid) AS rn
       |  FROM mcc WHERE cid <> bucket
       |), st AS (
       |  SELECT vec_id, ccos AS cos1 FROM mcc WHERE cid = bucket
       |), m2 AS (
       |  SELECT r2.vec_id, r2.bucket,
       |         round(st.cos1 - r2.ccos, 4) AS margin, r2.cid AS to_cid
       |  FROM r2 JOIN st USING (vec_id) WHERE rn = 1
       |), mv AS (
       |  SELECT vec_id, bucket AS from_cid, to_cid FROM (
       |    SELECT m2.*, row_number() OVER (PARTITION BY bucket
       |      ORDER BY margin DESC, vec_id) AS krn FROM m2), cp
       |  WHERE krn > cap
       |), oc AS (
       |  SELECT from_cid AS cid, CAST(count(*) AS BIGINT) AS n_out
       |  FROM mv GROUP BY 1
       |), ic AS (
       |  SELECT to_cid AS cid, CAST(count(*) AS BIGINT) AS n_in
       |  FROM mv GROUP BY 1
       |), sb AS (
       |  SELECT sz.cid, sz.n_before, CAST(coalesce(oc.n_out, 0) AS BIGINT)
       |           AS n_out
       |  FROM sz LEFT JOIN oc ON oc.cid = sz.cid
       |)
       |SELECT coalesce(sb.cid, ic.cid) AS bucket,
       |       CAST(coalesce(sb.n_before, 0) AS BIGINT) AS n_before,
       |       CAST(coalesce(sb.n_out, 0) AS BIGINT) AS n_out,
       |       CAST(coalesce(ic.n_in, 0) AS BIGINT) AS n_in,
       |       CAST(coalesce(sb.n_before, 0) - coalesce(sb.n_out, 0)
       |            + coalesce(ic.n_in, 0) AS BIGINT) AS n_after
       |FROM sb FULL JOIN ic ON ic.cid = sb.cid
       |ORDER BY bucket""".stripMargin) { (s, d) =>
    val v = prep(Tables.embeddings(s, d))
    rebalanceReport(v, IvfModel.Scaled.cents(s, d), IvfModel.Scaled.lists(s, d))
  }

  /** (vec_id, bucket, margin, to_cid) from the skinny members×centroids
    * relation (vec_id, bucket, cid, ccos): rank 1 is the STORED
    * assignment (cid = bucket — exactly one row), rank 2 a combinable
    * max-struct over the cid ≠ bucket rows with the oracle rank
    * window's tie-break (ccos DESC, cid ASC). One partial-aggregating
    * exchange of member-count rows however large c grows — PlanSpec
    * pins that no Window ever sees this relation. */
  def marginToRunnerUp(mcc: DataFrame): DataFrame =
    mcc.groupBy("vec_id", "bucket").agg(
      max(when(col("cid") === col("bucket"), col("ccos"))).as("cos1"),
      max(when(col("cid") =!= col("bucket"),
        struct(col("ccos"), (-col("cid")).as("ncid")))).as("b2"))
      .select(col("vec_id"), col("bucket"),
        round(col("cos1") - col("b2.ccos"), 4).as("margin"),
        (-col("b2.ncid")).as("to_cid"))

  /** The rebalance motion over an explicit (v, model, lists) triple —
    * see `simAnnRebalance` for the contract. Separated so the spec can
    * drive it on a constructed skew fixture. */
  def rebalanceReport(v: DataFrame, cents: DataFrame,
      lists: DataFrame): DataFrame = {
    val sizes = lists.groupBy("bucket").agg(count(lit(1)).as("n_before"))
    // bounded driver state: (corpus rows, non-empty lists) in ONE
    // c-row aggregate over sizes — the mean a rebalancer actually
    // thresholds against; mirrored by the oracle's `cp` over `sz`. An
    // empty index has no lists, so nothing is oversized.
    val st = sizes.agg(sum(col("n_before")), count(lit(1))).head()
    val cap = if (st.getLong(1) == 0L) 0L else rebalanceCap(st.getLong(0), st.getLong(1))
    val over = sizes.filter(col("n_before") > cap).select("bucket")
    val mem = lists.join(broadcast(over), Seq("bucket"))
      .join(v, Seq("vec_id"))
    // ROUTER-CONSISTENT candidates: score each member only
    // against the centroids of its top-2 anchor groups — the same
    // quantizer the index routes by (faiss reassigns through its own
    // coarse quantizer) — instead of ALL c centroids. "Skew-bounded"
    // was not bound enough: a sample-trained large-c model skews ~half
    // the corpus oversized (measured at the 100× point, flat AND
    // two-level builds alike), so members×c was ~n·c all over again
    // (106 s at 100×). members·(g + 2c/g) restores the sub-quadratic
    // bound, and the stored bucket is always a candidate (it is the
    // best centroid of the member's top-1 anchor group by
    // construction), so cos1 — the keep/evict attachment — is exact;
    // to_cid is quantizer-consistent: the evicted member lands exactly
    // where a fresh insert of that vector would.
    val (anch, centsG) = twoLevelStructure(cents)
    val pa2 = mem.select("vec_id", "ve", "nrm").crossJoin(anch)
      .select(col("vec_id"), col("aid"),
        (Similarity.dot(col("ve"), col("ave")) / (col("nrm") * col("anrm")))
          .as("acos"))
      .groupBy("vec_id")
      .agg(graft.functions.TopKAgg.topk(col("acos"), col("aid"), 2).as("gids"))
      .select(col("vec_id"), explode(col("gids")).as("gid"))
    val mcc = mem.join(pa2, Seq("vec_id"))
      .join(centsG, Seq("gid"))
      .select(col("vec_id"), col("bucket"), col("cid"),
        (Similarity.dot(col("ve"), col("cve")) / (col("nrm") * col("cnrm")))
          .as("ccos"))
    val m2 = marginToRunnerUp(mcc)
    val krn = Window.partitionBy("bucket")
      .orderBy(col("margin").desc, col("vec_id"))
    // the move list is eviction-bounded (Σ oversize − cap); cache it so
    // the out- and in-count branches share one computation instead of
    // each re-running the margin chain (the plan otherwise duplicates
    // the whole members×c subtree). persist, not localCheckpoint: the
    // cached plan stays visible to PlanSpec's combinable-margin pin,
    // and the session cache manager dedups by plan so bench reps reuse
    // one entry
    val mv = m2.withColumn("krn", row_number().over(krn))
      .filter(col("krn") > cap)
      .select(col("vec_id"), col("bucket").as("from_cid"), col("to_cid"))
      .persist()
    val oc = broadcast(mv.groupBy(col("from_cid").as("bucket"))
      .agg(count(lit(1)).as("n_out")))
    // no broadcast hint on the receive side: it joins FULL OUTER below
    // (hash/broadcast strategies cannot preserve both sides), and both
    // relations are <= c rows anyway
    val ic = mv.groupBy(col("to_cid").as("bucket"))
      .agg(count(lit(1)).as("n_in"))
    // outer join on the receive side: a row can be evicted TO a
    // centroid whose list was empty (a centroid that is nobody's
    // rank-1 can still be a runner-up); that bucket must appear in the
    // accounting with n_before = 0, else Σ n_after < Σ n_before and
    // conservation — the relation's contract — breaks
    sizes.join(oc, Seq("bucket"), "left").join(ic, Seq("bucket"), "outer")
      .select(col("bucket"),
        coalesce(col("n_before"), lit(0L)).as("n_before"),
        coalesce(col("n_out"), lit(0L)).as("n_out"),
        coalesce(col("n_in"), lit(0L)).as("n_in"),
        (coalesce(col("n_before"), lit(0L))
          - coalesce(col("n_out"), lit(0L))
          + coalesce(col("n_in"), lit(0L))).as("n_after"))
      .orderBy("bucket")
  }

  private val KcSelect = 8
  private val KcB = 1099511627776L // 2^40 packing base

  /** K-CENTER GREEDY CORESET SELECTION (farthest-point sampling; the
    * active-learning coreset of Sener & Savarese 2018,
    * arXiv:1708.00489): pick the seed, then repeatedly select the point
    * FARTHEST from everything selected so far — the k points that
    * minimize (2-approximately) the maximum distance from any corpus
    * point to its nearest selected representative. The data-selection
    * op a finetuning pipeline runs to pick a maximally-diverse subset.
    *
    * Distance = cosine distance in FLOOR micro (10⁶ − floor(cos·10⁶) —
    * integer, cross-engine); the argmax each round is ONE combinable
    * packed max (mind·2⁴⁰ + (2⁴⁰−1−vec_id): "max distance, then min
    * id" — the labelprop packing, no window); the selected vector
    * re-enters as a 1-row broadcast and the running min-distance
    * updates with `least` in one scan-stage projection. Monotone
    * coverage: radius (the max-min distance at selection time) is
    * non-increasing by construction — EdgeSpec pins that AND that the
    * selection covers every planted cluster before revisiting one.
    * Already-selected points sit at mind = 0 and are never re-picked
    * while any point has mind > 0 (k ≪ distinct vectors by contract).
    *
    * Output: (step, vec_id, radius_micro) for the seed + 7 selections.
    *
    * Scale shape: k rounds × (one corpus-linear packed-max aggregate +
    * one broadcast-1-row distance update); localCheckpoint per round
    * keeps lineage flat (the dedup_keeper discipline). Nothing
    * pairwise, nothing collected but the k-row output. */
  def kcenterSelect(v: DataFrame, k: Int = KcSelect): DataFrame = {
    val s = v.sparkSession
    import s.implicits._
    val seed = v.filter(col("vec_id") === 0L)
      .select(col("ve").as("nve"), col("nrm").as("nnrm"))
    def withDistTo(cur: DataFrame, sel: DataFrame): DataFrame =
      cur.crossJoin(broadcast(sel))
        .withColumn("d", lit(1000000L) -
          floor(Similarity.dot(col("ve"), col("nve")) /
            (col("nrm") * col("nnrm")) * lit(1000000.0)).cast("long"))
    var cur = withDistTo(v, seed)
      .select(col("vec_id"), col("ve"), col("nrm"),
        when(col("vec_id") === 0L, lit(0L)).otherwise(col("d")).as("mind"))
      .localCheckpoint()
    var out = Seq((0, 0L, 1000000L)).toDF("step", "vec_id", "radius_micro")
    for (r <- 1 until k) {
      val mx = cur.agg(max(col("mind") * KcB +
        (lit(KcB - 1) - col("vec_id"))).as("mx"))
      val sel = broadcast(mx.select(
        (lit(KcB - 1) - (col("mx") % KcB)).as("nid"),
        expr(s"mx div $KcB").as("radius")))
      out = out.union(sel.select(lit(r).as("step"), col("nid").as("vec_id"),
        col("radius").as("radius_micro")))
      val nv = broadcast(v.join(sel, col("vec_id") === col("nid"))
        .select(col("nid"), col("ve").as("nve"), col("nrm").as("nnrm")))
      // The just-selected point is clamped to mind = 0 explicitly (not
      // left to floor(cos(v,v)·10⁶) = 10⁶, which float rounding can
      // leave at 1 micro) so the never-re-picked invariant holds even
      // on a fully-covered corpus. Mirrored in the oracle.
      cur = withDistTo(cur, nv)
        .select(col("vec_id"), col("ve"), col("nrm"),
          when(col("vec_id") === col("nid"), lit(0L))
            .otherwise(least(col("mind"), col("d"))).as("mind"))
        .localCheckpoint()
    }
    out.orderBy("step")
  }

  private def kcRoundCte(r: Int): String =
    s"""s$r AS (
       |  SELECT ($KcB - 1) - (mx % $KcB) AS nid, mx // $KcB AS radius
       |  FROM (SELECT max(mind * $KcB + ($KcB - 1 - vec_id)) AS mx FROM m${r - 1})
       |), m$r AS (
       |  SELECT m.vec_id, m.ve, m.nrm,
       |    CASE WHEN m.vec_id = nv.nid THEN 0
       |         ELSE least(m.mind, 1000000 - CAST(floor(
       |           list_dot_product(m.ve, nv.ve) / (m.nrm * nv.nrm) * 1000000)
       |           AS BIGINT)) END AS mind
       |  FROM m${r - 1} m,
       |       (SELECT v.vec_id AS nid, v.ve, v.nrm
       |        FROM v JOIN s$r ON v.vec_id = s$r.nid) nv
       |)""".stripMargin

  val sampleKcenter = QueryDef(
    "sample_kcenter",
    s"""$vCtes, sd AS (
       |  SELECT ve AS sve, nrm AS snrm FROM v WHERE vec_id = 0
       |), m0 AS (
       |  SELECT v.vec_id, v.ve, v.nrm,
       |    CASE WHEN v.vec_id = 0 THEN 0
       |         ELSE 1000000 - CAST(floor(
       |           list_dot_product(v.ve, sd.sve) / (v.nrm * sd.snrm) * 1000000)
       |           AS BIGINT) END AS mind
       |  FROM v, sd
       |),
       |${(1 until KcSelect).map(kcRoundCte).mkString(",\n")}
       |SELECT CAST(step AS INT) AS step, CAST(vec_id AS BIGINT) AS vec_id,
       |  CAST(radius_micro AS BIGINT) AS radius_micro FROM (
       |  SELECT 0 AS step, 0 AS vec_id, 1000000 AS radius_micro
       |${(1 until KcSelect).map(r =>
          s"  UNION ALL SELECT $r, nid, radius FROM s$r").mkString("\n")}
       |) ORDER BY step""".stripMargin) { (s, d) =>
    kcenterSelect(prep(Tables.embeddings(s, d)))
  }

  /** RAG INGESTION FUNNEL — the end-to-end pipeline that
    * turns a raw document corpus into a maintained serving index,
    * stitching the session's retrieval family into the landed index
    * path (the `pipeline_pretrain` funnel shape, applied to retrieval):
    * chunk every document (w = 32 / stride 24 — `text_chunk`'s
    * contract, shared `Retrieval.chunkRel`), dedup chunks exactly by
    * content fingerprint (`dedup_exact`'s motion at chunk granularity —
    * on the dup-heavy 10×/100× fixtures this stage collapses the
    * corpus), elect the min-doc_id keeper per unique chunk, and route
    * the keeper documents' embeddings through the SHARED two-level
    * serving index (`ivfdell` — the same landed artifact
    * `sim_ann_ivf2`/delete/filtered/rebalance maintain). Gated
    * relation: the per-stage accounting (chunks → unique → keepers →
    * routed → buckets) an ingestion run ships.
    *
    * Scale shape: chunking is the zero-shuffle narrow map; the chunk
    * dedup is one md5-keyed combinable aggregate; the keeper relation
    * is unique-chunk-sized; routing joins keepers against the landed
    * lists (no rebuild — the `sim_ann_upsert` assign-only discipline).
    * The three chunk-relation scans here are the gate's accounting; a
    * production run lands the chunk table once (it IS the ingestion
    * output) and reads the stats from the landing. */
  val pipelineRag = QueryDef(
    "pipeline_rag",
    s"""${IvfModel.Scaled.oraclePrefix()},
       |${Retrieval.chunkRelCtes("documents")},
       |rck AS (
       |  SELECT chunk_md5, min(doc_id) AS doc_id FROM rch GROUP BY chunk_md5
       |), rkd AS (
       |  SELECT DISTINCT doc_id FROM rck
       |), rrt AS (
       |  SELECT rkd.doc_id, af.cid FROM rkd JOIN af ON af.vec_id = rkd.doc_id
       |)
       |SELECT * FROM (
       |  SELECT 'a_chunks' AS stage, CAST(count(*) AS BIGINT) AS n FROM rch
       |  UNION ALL
       |  SELECT 'b_unique', CAST(count(DISTINCT chunk_md5) AS BIGINT) FROM rch
       |  UNION ALL
       |  SELECT 'c_keepers', CAST(count(*) AS BIGINT) FROM rkd
       |  UNION ALL
       |  SELECT 'd_routed', CAST(count(*) AS BIGINT) FROM rrt
       |  UNION ALL
       |  SELECT 'e_buckets', CAST(count(DISTINCT cid) AS BIGINT) FROM rrt
       |) ORDER BY stage""".stripMargin) { (s, d) =>
    val ch = Retrieval.chunkRel(Tables.documents(s, d))
      .select("doc_id", "chunk_md5")
    val lists = IvfModel.Scaled.lists(s, d)
    val st = ch.agg(count(lit(1)).as("a"),
      countDistinct(col("chunk_md5")).as("b"))
    val kd = ch.groupBy("chunk_md5").agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id").distinct()
    val routed = kd.join(lists, kd("doc_id") === lists("vec_id"))
      .select(kd("doc_id"), lists("bucket"))
    val rt = routed.agg(count(lit(1)).as("d"),
      countDistinct(col("bucket")).as("e"))
    val kc = kd.agg(count(lit(1)).as("c"))
    st.crossJoin(broadcast(kc)).crossJoin(broadcast(rt))
      .select(expr(
        "stack(5, 'a_chunks', a, 'b_unique', b, 'c_keepers', c, " +
          "'d_routed', d, 'e_buckets', e) AS (stage, n)"))
      .orderBy("stage")
  }

  /** RANGE (radius) SEARCH over the shared serving index — the
    * threshold query the top-k family can't express: "every vector
    * within cos ≥ τ of the query", whose result SIZE is data-dependent
    * (faiss `range_search`; the serving shape behind SemDeDup-style
    * threshold sweeps and near-dup mining around a probe point). Served
    * exactly like the top-k keys — per-query probe of the 4 nearest
    * coarse lists over the landed two-level index (`ivfdell`, the same
    * artifact `sim_ann_delete`/`sim_ann_filtered` maintain), then an
    * exact-cosine THRESHOLD filter instead of a rank window: no per-qid
    * sort at all, the candidate stream filters in place (at 100 TB the
    * scan touches nprobe/c of the corpus and emits matches combinably —
    * a rank window would buffer candidates per query for an order the
    * threshold never needed). The per-query accounting (candidates
    * scored, matches) rides a combinable groupBy re-attached by a
    * 3-row broadcast. The gated contract is the PROBED result: recall
    * vs brute force is the index's already-gated property
    * (`sim_ann_ivf2`); what this key certifies is that the radius
    * semantics over the lists are exact and engine-identical. τ = 0.3
    * sits below the fixture's top-cosine band (max ≈ 0.33–0.45 across
    * SFs) so every query keeps live matches at every SF. */
  val simAnnRange = QueryDef(
    "sim_ann_range",
    s"""${IvfModel.Scaled.oraclePrefix()},
       |$qsCte, $probedCte,
       |cand AS (
       |  SELECT p.qid, af.vec_id,
       |         round(list_dot_product(q.qve, v.ve) / (q.qnrm * v.nrm), 4) AS cos
       |  FROM probed p JOIN af ON af.cid = p.cid
       |  JOIN v ON v.vec_id = af.vec_id
       |  JOIN qs q ON q.qid = p.qid
       |  WHERE af.vec_id <> p.qid
       |), cnt AS (
       |  SELECT qid, CAST(count(*) AS BIGINT) AS n_cand,
       |         CAST(sum(CASE WHEN cos >= 0.3 THEN 1 ELSE 0 END) AS BIGINT) AS n_match
       |  FROM cand GROUP BY qid
       |)
       |SELECT c.qid, c.vec_id, c.cos, cnt.n_cand, cnt.n_match
       |FROM cand c JOIN cnt USING (qid) WHERE c.cos >= 0.3
       |ORDER BY c.qid, c.cos DESC, c.vec_id""".stripMargin) { (s, d) =>
    val v = prep(Tables.embeddings(s, d))
    val cents = IvfModel.Scaled.cents(s, d)
    val lists = IvfModel.Scaled.lists(s, d)
    val q = queryVecs(v, Qids)
    val probed = broadcast(probedCentroids(q, cents, 4)
      .select(col("qid"), col("cid").as("bucket")))
    val cand = lists.join(probed, Seq("bucket"))
      .join(q, Seq("qid"))
      .filter(col("vec_id") =!= col("qid"))
      .join(v, Seq("vec_id"))
      .select(col("qid"), col("vec_id"),
        round(Similarity.dot(col("qve"), col("ve")) /
          (col("qnrm") * col("nrm")), 4).as("cos"))
      // two consumers (accounting + threshold filter): materialize the
      // probe-bounded candidate relation once instead of re-running the
      // lists⋈vectors scan and the per-candidate cosines for each
      .localCheckpoint()
    val cnt = cand.groupBy("qid")
      .agg(count(lit(1)).as("n_cand"),
        sum(when(col("cos") >= 0.3, 1L).otherwise(0L)).as("n_match"))
    cand.filter(col("cos") >= 0.3)
      .join(broadcast(cnt), Seq("qid"))
      .select(col("qid"), col("vec_id"), col("cos"), col("n_cand"),
        col("n_match"))
      .orderBy(col("qid"), col("cos").desc, col("vec_id"))
  }

  val all: Seq[QueryDef] = Seq(simAnnIvf, dedupEmbedLsh, simAnnKmeans, simQuantize, simAnnRecall,
    simAnnPq, simAnnKmeansRecall, simAnnPqRecall, dedupEmbedLshRecall, simPcaPower,
    simAnnIvfPq, simAnnNprobeCurve, dedupSemantic, dedupSemanticScaled,
    dedupSemanticCapped,
    simAnnHnsw, simAnnGraphBuild, simAnnBeamCurve, alignBitextMine,
    alignBitextKnn, simAnnUpsert, streamAnnUpsert, simAnnIvf2, simAnnIvf2Capped,
    simAnnDelete, simAnnFiltered, simAnnRebalance, sampleKcenter, pipelineRag,
    simAnnRange)
}
