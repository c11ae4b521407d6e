package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import Det._

/** Probabilistic-filter / sketch operators (SURVEY.md §2.7b).
  *
  * Both operators are built from md5 — the one hash both engines compute
  * bit-identically (§2.9) — so their probabilistic behavior (bloom false
  * positives, CMS collision overestimates) is DETERMINISTIC and sits under
  * the driver's hash gate, not just a statistical spec bound.
  */
object Sketch {

  /** h-th 32-bit slice of md5(key) reduced to a table of `m` positions.
    * Slice 0 = hex chars 1-8, slice 1 = chars 9-16 (32 bits each, so any
    * m up to 2^32 divides evenly deterministic cross-engine). */
  private def hashMod(key: Column, slice: Int, m: Int): Column =
    conv(substring(md5(key.cast("string")), 1 + 8 * slice, 8), 16, 10)
      .cast("long") % m

  /** Bloom-filter semi-join reduction — the runtime-filter pattern that
    * turns a fact-dim join at 100 TB into a pre-shuffle fact-scan filter:
    * the small side's join keys are hashed into an m-bit bloom set (k=2
    * md5-derived hash functions), the set broadcasts, and the fact side
    * drops every row whose key misses either bit BEFORE any join
    * shuffle. Output keeps fact rows that pass the filter, tagged with
    * whether they truly match (`matched`) — false positives survive the
    * bloom but fail the exact join, exactly as in a production runtime
    * filter where the exact join afterwards is what guarantees
    * correctness.
    *
    * The bit set is represented declaratively as a ≤m-row DISTINCT
    * position table broadcast into two semi-joins (Spark's own
    * InBloomFilter runtime filters compile to the same
    * broadcast-prefilter shape); the exact join is a broadcast left
    * join on the true key. m is a parameter so tests can force
    * saturation/collisions on tiny fixtures.
    */
  def bloomSemiJoin(fact: DataFrame, factKey: String,
      small: DataFrame, smallKey: String, m: Int): DataFrame = {
    val bits = small.select(explode(array(
        hashMod(col(smallKey), 0, m), hashMod(col(smallKey), 1, m))).as("b"))
      .distinct() // ≤ m rows by construction — always broadcastable
      // (explode over both slices = ONE scan of the small side; a
      // union of two projections would scan it twice)
    val withH = fact
      .withColumn("h1", hashMod(col(factKey), 0, m))
      .withColumn("h2", hashMod(col(factKey), 1, m))
    withH
      .join(broadcast(bits.withColumnRenamed("b", "h1")), Seq("h1"), "left_semi")
      .join(broadcast(bits.withColumnRenamed("b", "h2")), Seq("h2"), "left_semi")
      .join(broadcast(small.select(col(smallKey).as("__k"))),
        col(factKey) === col("__k"), "left")
      .withColumn("matched", col("__k").isNotNull)
      .drop("h1", "h2", "__k")
  }

  /** Gated key: bloom-prefilter `lineitem` against the ~1% of orders with
    * `o_orderkey % 97 = 0` (m = 65536 bits), then the exact join. The
    * single-row relation pins the bloom's exact candidate count — so the
    * false-positive set itself is hash-gated, not just the final answer.
    * At sf0.1 the small side sets ~2.9k of 65536 bits (≈4.5% fill), the
    * per-row pass probability is fill², and every surviving non-match is
    * a deterministic md5 collision both engines reproduce.
    */
  val joinBloom = QueryDef(
    "join_bloom",
    """WITH small AS (
      |  SELECT o_orderkey AS k FROM orders WHERE o_orderkey % 97 = 0
      |), bits AS (
      |  SELECT DISTINCT CAST('0x'||substr(md5(CAST(k AS VARCHAR)),1,8) AS BIGINT) % 65536 AS b FROM small
      |  UNION
      |  SELECT DISTINCT CAST('0x'||substr(md5(CAST(k AS VARCHAR)),9,8) AS BIGINT) % 65536 AS b FROM small
      |), cand AS (
      |  SELECT l_orderkey, l_quantity
      |  FROM lineitem
      |  WHERE CAST('0x'||substr(md5(CAST(l_orderkey AS VARCHAR)),1,8) AS BIGINT) % 65536 IN (SELECT b FROM bits)
      |    AND CAST('0x'||substr(md5(CAST(l_orderkey AS VARCHAR)),9,8) AS BIGINT) % 65536 IN (SELECT b FROM bits)
      |)
      |SELECT CAST(count(*) AS BIGINT) AS n_candidates,
      |       CAST(count(k) AS BIGINT) AS n_matched,
      |       CAST(sum(CASE WHEN k IS NOT NULL THEN CAST(l_quantity AS DECIMAL(18,4)) END) AS DOUBLE) AS sum_qty
      |FROM cand LEFT JOIN small ON l_orderkey = k""".stripMargin) { (s, d) =>
    val small = Tables.orders(s, d)
      .filter(col("o_orderkey") % 97 === 0)
      .select(col("o_orderkey"))
    val cand = bloomSemiJoin(
      Tables.lineitem(s, d).select(col("l_orderkey"), col("l_quantity")),
      "l_orderkey", small, "o_orderkey", m = 65536)
    cand.agg(
      count(lit(1)).as("n_candidates"),
      count(when(col("matched"), lit(1))).as("n_matched"),
      sum(when(col("matched"), dec(col("l_quantity"))))
        .cast("double").as("sum_qty"))
  }

  /** Count-min-sketch counter table over a token column: `depth` hash
    * rows × `buckets` per row, counter(r, b) = occurrences of tokens
    * hashing to bucket b under hash function r. The whole sketch is
    * depth×width counters REGARDLESS of corpus size — the mergeable
    * fixed-state shape that replaces an unbounded exact frequency map at
    * 100 TB (partial aggregation merges sketches map-side). The depth
    * hash functions are the four independent 32-bit SLICES of ONE
    * md5(token) — one hash computation per occurrence instead of depth
    * salted ones; hashing is the dominant per-row cost at scale
    * (depth ≤ 4 by construction: md5 has exactly four 32-bit slices). */
  def cmsCounters(tokens: DataFrame, tokenCol: String,
      depth: Int, width: Int): DataFrame = {
    require(depth <= 4, "depth > 4 needs more than one md5 of slices")
    tokens
      .select(explode(array((0 until depth).map { r =>
        struct(lit(r).as("r"), hashMod(col(tokenCol), r, width).as("bucket"))
      }: _*)).as("rb"))
      .select(col("rb.r").as("r"), col("rb.bucket").as("bucket"))
      .groupBy("r", "bucket")
      .agg(count(lit(1)).as("cnt"))
  }

  /** CMS point estimate per probe token: min over the depth rows of the
    * probed counter — ≥ the exact count always (collisions only add). */
  def cmsEstimate(counters: DataFrame, probes: DataFrame, tokenCol: String,
      depth: Int, width: Int): DataFrame = {
    val probed = probes.select(col("*"),
      explode(array((0 until depth).map { r =>
        struct(lit(r).as("r"), hashMod(col(tokenCol), r, width).as("bucket"))
      }: _*)).as("rb"))
      .select(probes.columns.map(col).toIndexedSeq :+ col("rb.r").as("r")
        :+ col("rb.bucket").as("bucket"): _*)
    probed
      .join(broadcast(counters), Seq("r", "bucket")) // ≤ depth·width rows
      .groupBy(probes.columns.map(col).toIndexedSeq: _*)
      .agg(min(col("cnt")).as("est"))
  }

  /** Gated key: 4×512 CMS (the four md5 slices as hash rows) over all
    * document token occurrences, probed at
    * the exact top-10 tokens (count DESC, token ASC tie-break). Emits
    * exact vs estimated counts; with 512 buckets against a larger
    * vocabulary the estimates include real collision overestimates, and
    * since the collisions are md5-determined both engines agree on every
    * estimate — the sketch error itself is hash-gated. */
  val aggSketchCms = QueryDef(
    "agg_sketch_cms",
    """WITH tok AS (
      |  SELECT unnest(string_split(text, ' ')) AS token FROM documents
      |), rs AS (SELECT unnest([0, 1, 2, 3]) AS r
      |), rb AS (
      |  SELECT r, CAST('0x'||substr(md5(token), 1 + 8*r, 8) AS BIGINT) % 512 AS bucket
      |  FROM tok, rs
      |), counters AS (
      |  SELECT r, bucket, count(*) AS cnt FROM rb GROUP BY r, bucket
      |), ex AS (
      |  SELECT token, CAST(count(*) AS BIGINT) AS exact_n FROM tok GROUP BY token
      |), top AS (
      |  SELECT token, exact_n FROM ex ORDER BY exact_n DESC, token LIMIT 10
      |), probe AS (
      |  SELECT token, exact_n, r,
      |         CAST('0x'||substr(md5(token), 1 + 8*r, 8) AS BIGINT) % 512 AS bucket
      |  FROM top, rs
      |)
      |SELECT token, exact_n, CAST(min(cnt) AS BIGINT) AS est_n
      |FROM probe JOIN counters USING (r, bucket)
      |GROUP BY token, exact_n
      |ORDER BY exact_n DESC, token""".stripMargin) { (s, d) =>
    val tok = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("token"))
    val counters = cmsCounters(tok, "token", depth = 4, width = 512)
    val top = tok.groupBy("token").agg(count(lit(1)).as("exact_n"))
      .orderBy(col("exact_n").desc, col("token")).limit(10)
    cmsEstimate(counters, top, "token", depth = 4, width = 512)
      .select(col("token"), col("exact_n"), col("est").as("est_n"))
      .orderBy(col("exact_n").desc, col("token"))
  }

  /** Sketch MERGEABILITY — the property that makes sketches the 100 TB
    * answer and the one `agg_approx_distinct` (a single-level rollup)
    * doesn't exercise: PARTIAL DataSketches-HLL sketches built per
    * (event_type, user-shard) — the shape of a pre-aggregated daily
    * sketch table — are UNION-MERGED per event_type (`hll_union_agg`)
    * and only then estimated. At 100 TB the partial level is a landed
    * rollup maintained per ingest batch; reports of any grain merge
    * fixed-width register blobs (~2.5 KB at lgK=12) without touching
    * raw data, and the merge is associative/commutative so any shuffle
    * tree is correct. Gate: the `agg_approx_distinct` bounded-error
    * shape — the driver hashes per-group EXACT distinct counts plus a
    * Spark-computed `within_2pct` boolean (measured union error ≤ 0.53%
    * at sf0.1 across every group; the estimator is deterministic for a
    * fixed lgK so the boolean is stable). The exact column is gate
    * scaffolding; production ships only the sketches. */
  val aggSketchHllMerge = QueryDef(
    "agg_sketch_hll_merge",
    """SELECT event_type,
      |  CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
      |  TRUE AS within_2pct
      |FROM events GROUP BY event_type
      |ORDER BY event_type""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val partial = ev
      .groupBy(col("event_type"), pmod(col("user_id"), lit(8)).as("shard"))
      .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"))
    val merged = partial.groupBy("event_type")
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"), lit(false)))
        .as("est"))
    val exact = ev.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("exact_users"))
    merged.join(exact, "event_type")
      // |est − exact| ≤ 0.02·exact in exact integer arithmetic (×50)
      .select(col("event_type"), col("exact_users"),
        (abs(col("est") - col("exact_users")) * 50 <= col("exact_users"))
          .as("within_2pct"))
      .orderBy("event_type")
  }

  /** EXACT mergeable distinct-count via bitmaps — `agg_sketch_hll_merge`'s
    * lossless sibling (the Spark 4 bitmap_* surface): user ids map to
    * (bucket, bit) positions, per (event_type, bucket, ingest-shard) a
    * fixed 4 KB bitmap is constructed, shard bitmaps OR-merge per
    * (event_type, bucket), and per-bucket popcounts sum per event_type —
    * three combinable levels, every intermediate a bounded-width blob,
    * and the result EXACT (so the driver hashes the count itself — no
    * error-bound scaffolding needed). This is the pre-aggregated
    * distinct-count rollup shape for MODERATE-cardinality ids at 100 TB
    * (bitmap bytes scale with id range per bucket; HLL wins when ids are
    * unbounded); the OR is associative/commutative so any merge tree —
    * per-batch, per-day, per-report — is correct. */
  val aggBitmapDistinct = QueryDef(
    "agg_bitmap_distinct",
    """SELECT event_type,
      |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      |FROM events GROUP BY event_type
      |ORDER BY event_type""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .select(col("event_type"), col("user_id"),
        expr("bitmap_bucket_number(user_id)").as("bucket"),
        pmod(col("user_id"), lit(4)).as("shard"))
      .groupBy("event_type", "bucket", "shard")
      .agg(expr("bitmap_construct_agg(bitmap_bit_position(user_id))")
        .as("bm"))
      .groupBy("event_type", "bucket")
      .agg(expr("bitmap_count(bitmap_or_agg(bm))").as("bucket_n"))
      .groupBy("event_type")
      .agg(sum(col("bucket_n")).as("n_users"))
      .orderBy("event_type")
  }

  /** Misra–Gries heavy hitters per group — the ORDER-DEPENDENT member of
    * the sketch family, gated the only way an order-dependent sketch can
    * be: through its order-INVARIANT guarantees. The summary state
    * (graft.functions.MisraGriesAgg, 3 counters) legitimately varies
    * with Spark's arrival/merge order, so the relation under the hash is
    * the DETERMINISTIC true-heavy-hitter set (exact count·4 > group
    * size, computed by a plain exact groupBy riding the same scan) with
    * three theory-guaranteed booleans evaluated against the live
    * summary: membership (true count > n/4 ⇒ present), underestimation
    * (est ≤ true always), and the additive bound ((true − est)·4 ≤ n,
    * preserved across any merge tree — Agarwal et al. 2012). A summary
    * implementation bug — overcount, lost counter, broken merge cut —
    * flips a boolean or drops a row and fails the driver hash, while
    * legitimate order variation cannot. Scale: the sketch partial is a
    * ≤3-entry map per task per group at any corpus; the exact companion
    * is itself combinable (this fixture's lang domain is 5 — the exact
    * side exists to gate the sketch, the sketch to replace it when the
    * domain is unbounded). */
  val aggHeavyHitters = QueryDef(
    "agg_heavy_hitters",
    """WITH e AS (
      |  SELECT source, lang, CAST(count(*) AS BIGINT) AS exact_count
      |  FROM documents GROUP BY source, lang
      |), ns AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_source
      |  FROM documents GROUP BY source
      |)
      |SELECT e.source, e.lang, e.exact_count, ns.n_source,
      |       TRUE AS in_summary, TRUE AS underest_ok, TRUE AS bound_ok
      |FROM e JOIN ns ON e.source = ns.source
      |WHERE e.exact_count * 4 > ns.n_source
      |ORDER BY e.source, e.lang""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d).select("source", "lang")
    val mg = udaf(new graft.functions.MisraGriesAgg(3))
    val est = docs.groupBy("source").agg(mg(col("lang")).as("summary"))
      .select(col("source"), explode(col("summary")).as(Seq("lang", "est")))
    val exact = docs.groupBy("source", "lang")
      .agg(count(lit(1)).as("exact_count"))
    val n = docs.groupBy("source").agg(count(lit(1)).as("n_source"))
    exact.join(n, "source")
      .filter(col("exact_count") * 4 > col("n_source"))
      .join(est, Seq("source", "lang"), "left")
      .select(col("source"), col("lang"), col("exact_count"), col("n_source"),
        col("est").isNotNull.as("in_summary"),
        coalesce(col("est") <= col("exact_count"), lit(false)).as("underest_ok"),
        coalesce((col("exact_count") - col("est")) * 4 <= col("n_source"),
          lit(false)).as("bound_ok"))
      .orderBy("source", "lang")
  }

  /** HLL set-operation analytics — AUDIENCE OVERLAP by inclusion–
    * exclusion: |A∩B| ≈ est(A) + est(B) − est(A∪B), the only way a
    * register sketch answers intersections (HLL registers union
    * losslessly via max; they cannot intersect), and the standard
    * audience-overlap estimator at 100 TB where the exact answer needs
    * a distinct-join of two id streams. Per audience pair the relation
    * gates the EXACT companions (|A|, |B|, |A∪B|, |A∩B| — plain
    * distinct aggregates riding the same scan) plus a bounded-error
    * boolean: |est∩ − exact∩| · 20 ≤ |A∪B| (5% of the union — the
    * inclusion–exclusion error is relative to the UNION, not the
    * intersection; lgk=12 ⇒ ~1.6% rse per term). The sketches are
    * order-invariant (registers max-merge), so the boolean is
    * deterministic on these corpora — the agg_sketch_hll_merge
    * discipline extended from counts to set algebra. Partials stay
    * (type, shard)-combinable; the union sketch merges the SAME
    * partials, so both audiences and their union ride one scan. */
  val aggHllIntersect = QueryDef(
    "agg_hll_intersect",
    """WITH u AS (SELECT DISTINCT event_type, user_id FROM events),
      |pairs(ta, tb) AS (VALUES ('click', 'purchase'), ('view', 'signup')),
      |x AS (
      |  SELECT ta, tb,
      |    (SELECT count(*) FROM u WHERE event_type = ta) AS exact_a,
      |    (SELECT count(*) FROM u WHERE event_type = tb) AS exact_b,
      |    (SELECT count(DISTINCT user_id) FROM u WHERE event_type IN (ta, tb)) AS exact_union,
      |    (SELECT count(*) FROM
      |       (SELECT user_id FROM u WHERE event_type = ta)
      |       NATURAL JOIN (SELECT user_id FROM u WHERE event_type = tb)) AS exact_inter
      |  FROM pairs
      |)
      |SELECT ta AS type_a, tb AS type_b,
      |  CAST(exact_a AS BIGINT) AS exact_a, CAST(exact_b AS BIGINT) AS exact_b,
      |  CAST(exact_union AS BIGINT) AS exact_union,
      |  CAST(exact_inter AS BIGINT) AS exact_inter,
      |  TRUE AS inter_within_5pct_of_union
      |FROM x ORDER BY type_a""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val partial = ev
      .groupBy(col("event_type"), pmod(col("user_id"), lit(8)).as("shard"))
      .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"))
      .localCheckpoint() // three estimates per pair ride the same partials
    val users = ev.select("event_type", "user_id").distinct()
      .localCheckpoint() // ~10 exact-companion branches read it — without
      // this each branch re-scans events and re-runs the distinct
    def audiencePair(ta: String, tb: String): DataFrame = {
      def estOf(types: Seq[String], name: String) =
        partial.filter(col("event_type").isin(types: _*))
          .agg(hll_sketch_estimate(hll_union_agg(col("sk"), lit(false)))
            .as(name))
      def exactOf(types: Seq[String], name: String) =
        users.filter(col("event_type").isin(types: _*))
          .agg(countDistinct(col("user_id")).as(name))
      val inter = users.filter(col("event_type") === ta).select("user_id")
        .join(users.filter(col("event_type") === tb).select("user_id"), "user_id")
        .agg(count(lit(1)).as("exact_inter"))
      estOf(Seq(ta), "est_a").crossJoin(estOf(Seq(tb), "est_b"))
        .crossJoin(estOf(Seq(ta, tb), "est_union"))
        .crossJoin(exactOf(Seq(ta), "exact_a"))
        .crossJoin(exactOf(Seq(tb), "exact_b"))
        .crossJoin(exactOf(Seq(ta, tb), "exact_union"))
        .crossJoin(inter)
        .select(lit(ta).as("type_a"), lit(tb).as("type_b"),
          col("exact_a"), col("exact_b"), col("exact_union"), col("exact_inter"),
          (abs(col("est_a") + col("est_b") - col("est_union")
            - col("exact_inter")) * 20 <= col("exact_union"))
            .as("inter_within_5pct_of_union"))
    }
    audiencePair("click", "purchase")
      .unionByName(audiencePair("view", "signup"))
      .orderBy("type_a")
  }

  /** KMV (k-minimum-values / theta) sketch with SET DIFFERENCE — the
    * estimator family HLL structurally lacks (`agg_hll_intersect` gets
    * intersection by inclusion–exclusion but difference error compounds;
    * a theta sketch carries SAMPLES, so any set expression is a filter
    * over the union sample): the 256 smallest normalized hashes of the
    * (user, day) activity union, each carrying its inA/inB membership,
    * estimate |A∪B| = (k−1)/u_(k) and |A∩B| / |A\B| / |B\A| as kept-
    * fraction shares. The union bottom-k IS `sample_bottomk`'s machinery
    * (global top-k → per-partition heaps, TakeOrderedAndProject) — the
    * sketch is that sample plus membership flags.
    *
    * The sketch values never cross the engine boundary (xxhash64 has no
    * DuckDB analog — the agg_approx_distinct convention): the gated
    * relation carries the EXACT companions (full-outer membership
    * aggregate) plus Spark-computed bounded-error booleans (each
    * estimate within 20% of the UNION — ~3σ at k=256), which the oracle
    * asserts TRUE; deterministic hashing makes the booleans stable, and
    * the union sizes (264 / 2 614 / 26 460 across SFs) keep k < n so
    * the estimating branch — not a degenerate exact copy — is what the
    * gate exercises at every SF. */
  val aggSketchKmv = QueryDef(
    "agg_sketch_kmv",
    """WITH p AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
      |  WHERE event_type = 'purchase'
      |), c AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
      |  WHERE event_type = 'click'
      |), u AS (
      |  SELECT coalesce(p.user_id, c.user_id) AS user_id,
      |         coalesce(p.d, c.d) AS d,
      |         p.user_id IS NOT NULL AS in_a, c.user_id IS NOT NULL AS in_b
      |  FROM p FULL OUTER JOIN c ON p.user_id = c.user_id AND p.d = c.d
      |)
      |SELECT CAST(count(*) AS BIGINT) AS exact_union,
      |  CAST(sum(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END) AS BIGINT) AS exact_intersect,
      |  CAST(sum(CASE WHEN in_a AND NOT in_b THEN 1 ELSE 0 END) AS BIGINT) AS exact_a_only,
      |  CAST(sum(CASE WHEN in_b AND NOT in_a THEN 1 ELSE 0 END) AS BIGINT) AS exact_b_only,
      |  TRUE AS union_within_20pct, TRUE AS intersect_within_20pct,
      |  TRUE AS diff_within_20pct
      |FROM u""".stripMargin) { (s, d) =>
    val k = 256
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("ts").cast("date").as("d"), col("event_type"))
    def side(tpe: String) =
      ev.filter(col("event_type") === tpe).select("user_id", "d").distinct()
    val a = side("purchase").withColumn("in_a", lit(true))
    val b = side("click").withColumn("in_b", lit(true))
    val u = a.join(b, Seq("user_id", "d"), "full_outer")
      .select(col("user_id"), col("d"),
        coalesce(col("in_a"), lit(false)).as("in_a"),
        coalesce(col("in_b"), lit(false)).as("in_b"))
    kmvLedger(u, k)
  }

  /** The KMV ledger kernel over a (user_id, d, in_a, in_b) membership
    * relation — split out so SketchSpec can pin the under-full branch
    * (n < k ⇒ the estimate IS the exact count) on a planted set. */
  def kmvLedger(u: DataFrame, k: Int): DataFrame = {
    val exact = u.agg(count(lit(1)).as("exact_union"),
      sum(when(col("in_a") && col("in_b"), 1L).otherwise(0L)).as("exact_intersect"),
      sum(when(col("in_a") && !col("in_b"), 1L).otherwise(0L)).as("exact_a_only"),
      sum(when(col("in_b") && !col("in_a"), 1L).otherwise(0L)).as("exact_b_only"))
    // normalized hash in (0, 1): signed xxhash64 shifted to unsigned scale
    val sk = u.withColumn("uh",
        (xxhash64(col("user_id"), col("d")).cast("double") / 1.8446744073709552e19) + 0.5)
      // (user_id, d) tiebreak makes the bottom-k slice a TOTAL order: an
      // xxhash64 collision at the k-th boundary would otherwise make the
      // kept set — and the gated membership-share booleans —
      // partition-order dependent
      .orderBy("uh", "user_id", "d").limit(k)
    // standard KMV under-full rule: while the sketch holds every element
    // (n < k) the "estimate" IS the exact kept count — (k−1)/u_(k) is
    // only the k-th order statistic's estimator once the sketch is full
    // (the smallest SF's union sits 8 elements above k, so the fallback
    // guards a thinner fixture, not the current gates)
    val est = sk.agg(max(col("uh")).as("uk"), count(lit(1)).as("n_kept"),
        sum(when(col("in_a") && col("in_b"), 1L).otherwise(0L)).as("k_int"),
        sum(when(col("in_a") && !col("in_b"), 1L).otherwise(0L)).as("k_a"),
        sum(when(col("in_b") && !col("in_a"), 1L).otherwise(0L)).as("k_b"))
      .select(when(col("n_kept") < k, col("n_kept").cast("double"))
          .otherwise((lit(k) - 1) / col("uk")).as("est_union"),
        col("n_kept"), col("k_int"), col("k_a"), col("k_b"))
    exact.crossJoin(broadcast(est))
      .select(col("exact_union"), col("exact_intersect"),
        col("exact_a_only"), col("exact_b_only"),
        (abs(col("est_union") - col("exact_union")) * 5 <= col("exact_union"))
          .as("union_within_20pct"),
        // share denominators use n_kept (= k when full, = n when under-
        // full) so the under-full branch degrades to exact shares too
        (abs(col("est_union") * col("k_int") / col("n_kept") - col("exact_intersect")) * 5
          <= col("exact_union")).as("intersect_within_20pct"),
        (abs(col("est_union") * col("k_a") / col("n_kept") - col("exact_a_only")) * 5
          <= col("exact_union") &&
         abs(col("est_union") * col("k_b") / col("n_kept") - col("exact_b_only")) * 5
          <= col("exact_union")).as("diff_within_20pct"))
  }

  val all: Seq[QueryDef] = Seq(joinBloom, aggSketchCms, aggSketchHllMerge,
    aggBitmapDistinct, aggHeavyHitters, aggHllIntersect, aggSketchKmv)
}
