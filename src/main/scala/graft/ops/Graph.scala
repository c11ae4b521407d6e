package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Iterative graph analytics (SURVEY.md §2.7b): PageRank over a
  * co-occurrence graph — the iterated join+aggregate family the rest of
  * the inventory lacks (`dedup_keeper`'s min-label propagation is the
  * reachability member; this is the weighted-score member).
  *
  * Everything is INTEGER micro-rank arithmetic (1.0 ≡ 1 000 000) with
  * truncating division on non-negative operands, so every rank at every
  * iteration is a BIGINT both engines agree on bit-for-bit — the same
  * discipline as `event_attribution`'s micro-cent credits. No doubles
  * exist anywhere in the computation, so iteration count cannot compound
  * rounding drift.
  */
object Graph {

  /** The 1996 supplier co-engagement graph, degree-carrying (u, v, d) —
    * the shared base of `graph_pagerank` and (via orientation)
    * `graph_triangles`. Like every edge relation below it is landed once
    * per (session, dataset): a real pipeline lands a graph once and fans
    * out kernels, instead of re-deriving the fact self-join per kernel. */
  private def supplier96Edges(s: SparkSession, d: String): DataFrame =
    Landed.once(s, d, "graph.sup96") {
      val ord96 = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp_ntz") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp_ntz"))
        .select("o_orderkey")
      val li = Tables.lineitem(s, d).select("l_orderkey", "l_suppkey")
        .join(ord96, col("l_orderkey") === col("o_orderkey"))
        .drop("o_orderkey")
      val edges = supplierEdges(li)
      val deg = edges.groupBy("u").agg(count(lit(1)).as("d"))
      edges.join(deg, "u")
    }

  /** DuckDB twin of `supplier96Edges`: the edges `e0` and degrees `deg`. */
  private val supplier96Cte =
    """WITH ord96 AS (
      |  SELECT o_orderkey FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      |    AND o_orderdate <  TIMESTAMP '1997-01-01'
      |), li AS (
      |  SELECT l_orderkey, l_suppkey FROM lineitem
      |  JOIN ord96 ON l_orderkey = o_orderkey
      |), e0 AS (
      |  SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
      |  FROM li a JOIN li b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey <> b.l_suppkey
      |), deg AS (
      |  SELECT u, CAST(count(*) AS BIGINT) AS d FROM e0 GROUP BY u
      |)""".stripMargin

  /** Degree-oriented (x, y, yd) form of the 1996 supplier graph, landed
    * separately: the wedge self-join scans it three times. */
  private def supplier96Oriented(s: SparkSession, d: String): DataFrame = {
    val base = supplier96Edges(s, d)
    // landed MULTI-SPLIT: the wedge join's probe side inherits its
    // parallelism from this file's split count — a single-split landing
    // serializes the whole quadratic wedge stage on one task, and a
    // repartition on every read would be a per-invocation shuffle of a
    // relation that never changes. Writing the landed relation with session-parallelism
    // splits pays the spread ONCE at land time — the bench-mirror
    // lesson applied to a landed intermediate; at 100 TB the writer of
    // this relation produces many splits anyway and the repartition is
    // the write's natural clustering, not a tuning knob.
    Landed.once(s, d, "graph.sup96or")(
      orientByDegree(base.select("u", "v"))
        .repartition(s.sparkContext.defaultParallelism))
  }

  /** The part co-purchase graph — parts bought together in ≥ 2 DISTINCT
    * orders ("repeat affinity", which keeps the graph sparse where raw
    * co-occurrence is near-complete) — as the SYMMETRIC multiplicity
    * relation (u, v, c), u ≠ v. Shared base of `graph_components`
    * (u < v projection), `graph_linkpred` / `graph_khop` (bare pairs)
    * and `graph_sssp` (w = 1000 div c edge costs). */
  private def partCoEdges(s: SparkSession, d: String): DataFrame =
    Landed.once(s, d, "graph.partco") {
      val li = Tables.lineitem(s, d).select("l_orderkey", "l_partkey")
      li.toDF("ok", "u").join(li.toDF("ok", "v"), Seq("ok"))
        .filter(col("u") =!= col("v"))
        .distinct()
        .groupBy("u", "v").agg(count(lit(1)).as("c"))
        .filter(col("c") >= 2)
    }

  /** DuckDB twin of `partCoEdges`' pair build: `pr`, the distinct
    * (order, u, v) part pairs with u `op` v. */
  private def partCoPairsCte(op: String): String =
    s"""pr AS (
       |  SELECT DISTINCT a.l_orderkey AS ok, a.l_partkey AS u, b.l_partkey AS v
       |  FROM lineitem a JOIN lineitem b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey $op b.l_partkey
       |)""".stripMargin

  /** `pr`, then `rel`: the bare (u, v) pairs of `partCoEdges`. */
  private def partCoCte(rel: String, op: String = "<>"): String =
    s"""${partCoPairsCte(op)}, $rel AS (
       |  SELECT u, v FROM pr GROUP BY u, v HAVING count(*) >= 2
       |)""".stripMargin

  /** `graph_linkpred`'s hub-capped adjacency (each center's 32
    * smallest-id neighbors), landed: the wedge self-join reads the
    * capped file twice instead of re-running the window per side. */
  private def partCoCapped(s: SparkSession, d: String): DataFrame = {
    val base = partCoEdges(s, d)
    Landed.once(s, d, "graph.partco_cap") {
      base.withColumn("rn",
          row_number().over(Window.partitionBy("u").orderBy("v")))
        .filter(col("rn") <= 32).select("u", "v")
    }
  }

  /** Directed co-occurrence edges: supplier u → v iff both appear in the
    * same order (u ≠ v). The self-join meets on l_orderkey, so candidate
    * pairs are bounded by per-order lineitem count (single digits) —
    * linear in the fact table, never |S|². Symmetric by construction, so
    * every node has out-degree ≥ 1 and PageRank has no dangling mass. */
  def supplierEdges(li: DataFrame): DataFrame = {
    val a = li.select(col("l_orderkey"), col("l_suppkey").as("u"))
    val b = li.select(col("l_orderkey"), col("l_suppkey").as("v"))
    a.join(b, Seq("l_orderkey"))
      .filter(col("u") =!= col("v"))
      .select("u", "v").distinct()
  }

  /** The iteration core over a degree-carrying (u, v, d) edge relation
    * and a (node) vertex relation: `iters` rounds of
    *   r'(v) = 150000 + 85 · Σ_{u→v} (r(u) div d(u)) div 100
    * i.e. damping 0.85 in micro-units with truncating division. Each
    * round is one edge⋈rank join on u (AQE broadcasts the node-sized
    * rank side at test SFs, shuffle-joins at web scale) plus one
    * combinable sum on v. */
  def iterateWithDeg(ed: DataFrame, nodes: DataFrame, iters: Int): DataFrame = {
    var r = nodes.withColumn("r", lit(1000000L))
    for (_ <- 1 to iters) {
      r = ed.join(r, col("u") === col("node"))
        .select(col("v"), expr("r div d").as("c"))
        .groupBy("v")
        .agg(sum(col("c")).as("s"))
        .select(col("v").as("node"),
          (lit(150000L) + expr("(85 * s) div 100")).as("r"))
    }
    r
  }

  /** PageRank over the 1996 co-engagement graph: scope the fact table to
    * one order-year (a real analysis window — and what keeps the edge
    * build proportionate to the question asked), iterating over the
    * SHARED landed degree-carrying edge relation (`supplier96Edges`). At
    * 100 TB the edge build is the expensive pass — every production graph
    * pipeline lands it first and fans kernels out from the file, which is
    * also what keeps the 3-iteration lineage from recomputing the fact
    * self-join (and the degree aggregate — it rides IN the edge file)
    * every round. The oracle replays the identical 3 rounds as unrolled
    * CTEs (the `sim_ann_kmeans` Lloyd-round pattern) with `//` floor
    * division — equal to `div` truncation on these non-negative
    * operands. */
  def pagerankPlan(s: SparkSession, d: String): DataFrame = {
    val ed = supplier96Edges(s, d)
    val nodes = ed.select(col("u").as("node")).distinct()
    iterateWithDeg(ed, nodes, 3)
      .orderBy(col("r").desc, col("node"))
      .limit(25)
      .select(col("node"), col("r").as("rank_micro"))
  }

  private val Round =
    """SELECT e.v AS node,
      |       CAST(150000 + (85 * sum(PREV.r // e.d)) // 100 AS BIGINT) AS r
      |FROM edges e
      |JOIN PREV ON e.u = PREV.node
      |GROUP BY e.v""".stripMargin

  val graphPagerank = QueryDef(
    "graph_pagerank",
    s"""$supplier96Cte, edges AS (
       |  SELECT e0.u, e0.v, deg.d FROM e0 JOIN deg ON e0.u = deg.u
       |), r0 AS (
       |  SELECT u AS node, CAST(1000000 AS BIGINT) AS r FROM deg
       |), r1 AS (
       |${Round.replace("PREV", "r0")}
       |), r2 AS (
       |${Round.replace("PREV", "r1")}
       |), r3 AS (
       |${Round.replace("PREV", "r2")}
       |)
       |SELECT node, r AS rank_micro FROM r3
       |ORDER BY r DESC, node LIMIT 25""".stripMargin) { (s, d) =>
    pagerankPlan(s, d)
  }

  /** Degree-oriented edge relation from a SYMMETRIC directed (u, v) edge
    * set: each undirected edge appears ONCE as (x, y, yd) with x the
    * endpoint of lower (degree, id) and yd = degree of y. This is the
    * classic triangle-counting orientation: every wedge is counted at its
    * LOWEST-degree vertex, so per-node wedge work is bounded by the
    * out-degree under orientation (O(√m) on any graph — the arboricity
    * bound), never by the raw degree of hub nodes. Without it a single
    * celebrity hub of degree 10^6 contributes 10^12 wedges; with it the
    * hub's wedges are charged to its low-degree neighbors.
    */
  def orientByDegree(e0: DataFrame): DataFrame = {
    val deg = e0.groupBy("u").agg(count(lit(1)).as("d"))
    val du = deg.select(col("u").as("uu"), col("d").as("du"))
    val dv = deg.select(col("u").as("vv"), col("d").as("dv"))
    e0.filter(col("u") < col("v")) // one row per undirected edge
      .join(du, col("u") === col("uu"))
      .join(dv, col("v") === col("vv"))
      .select(
        when(col("du") < col("dv") ||
             (col("du") === col("dv") && col("u") < col("v")), col("u"))
          .otherwise(col("v")).as("x"),
        when(col("du") < col("dv") ||
             (col("du") === col("dv") && col("u") < col("v")), col("v"))
          .otherwise(col("u")).as("y"),
        when(col("du") < col("dv") ||
             (col("du") === col("dv") && col("u") < col("v")), col("dv"))
          .otherwise(col("du")).as("yd"))
  }

  /** Per-node triangle counts over an ALREADY-ORIENTED (x, y, yd) edge
    * relation ([[orientByDegree]] of a symmetric (u, v) one): wedges meet
    * on the oriented center x (equi key; the (yd, y) order predicate
    * rides as a join filter so each unordered wedge appears once), then
    * close against a third oriented edge — oriented (y1, y2) is exactly
    * x = y1 when (yd1, y1) < (yd2, y2), so the closing join is equi on
    * BOTH endpoints. Each triangle is found exactly once and explodes to
    * its three member nodes for the rollup. The single source of truth
    * for the wedge order predicate and closing-join shape behind
    * `trianglesPlan` (parquet-landed orientation). */
  def wedgeTriangles(ed: DataFrame): DataFrame = {
    // parallelism of the wedge stage comes from the INPUT's split/
    // partition count (both joins broadcast, so the probe side's layout
    // is the stage's layout): the landed oriented relation is written
    // multi-split (supplier96Oriented), so no per-read repartition is
    // needed here.
    val a = ed.select(col("x"), col("y").as("y1"), col("yd").as("yd1"))
    val b = ed.select(col("x"), col("y").as("y2"), col("yd").as("yd2"))
    val c = ed.select(col("x").as("cx"), col("y").as("cy"))
    a.join(b, Seq("x"))
      .filter(col("yd1") < col("yd2") ||
        (col("yd1") === col("yd2") && col("y1") < col("y2")))
      .join(c, col("y1") === col("cx") && col("y2") === col("cy"))
      .select(explode(array(col("x"), col("y1"), col("y2"))).as("node"))
      .groupBy("node")
      .agg(count(lit(1)).as("n_tri"))
  }

  /** Gated key: per-supplier triangle participation in the 1996
    * co-engagement graph — the cohesion measure (how clustered is each
    * node's neighborhood) that PageRank's centrality misses. Shares the
    * pagerank base (`supplier96Edges`) and lands the ORIENTED relation
    * once (`supplier96Oriented`) before the 3-way self-join (three scans
    * of a small landed file beat three replays of the fact self-join
    * lineage). All counts BIGINT — nothing to round.
    */
  def trianglesPlan(s: SparkSession, d: String): DataFrame =
    wedgeTriangles(supplier96Oriented(s, d))
      .orderBy(col("n_tri").desc, col("node"))
      .limit(15)

  val graphTriangles = QueryDef(
    "graph_triangles",
    s"""$supplier96Cte, ed AS (
      |  SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
      |              THEN e.u ELSE e.v END AS x,
      |         CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
      |              THEN e.v ELSE e.u END AS y,
      |         CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
      |              THEN dv.d ELSE du.d END AS yd
      |  FROM e0 e JOIN deg du ON e.u = du.u JOIN deg dv ON e.v = dv.u
      |  WHERE e.u < e.v
      |), tri AS (
      |  SELECT a.x AS n1, a.y AS n2, b.y AS n3
      |  FROM ed a
      |  JOIN ed b ON a.x = b.x
      |    AND (a.yd < b.yd OR (a.yd = b.yd AND a.y < b.y))
      |  JOIN ed c ON c.x = a.y AND c.y = b.y
      |), nodes AS (
      |  SELECT n1 AS node FROM tri
      |  UNION ALL SELECT n2 FROM tri
      |  UNION ALL SELECT n3 FROM tri
      |)
      |SELECT node, CAST(count(*) AS BIGINT) AS n_tri
      |FROM nodes GROUP BY node
      |ORDER BY n_tri DESC, node LIMIT 15""".stripMargin) { (s, d) =>
    trianglesPlan(s, d)
  }

  /** Connected components by ALTERNATING large-star / small-star edge
    * rewriting (the MapReduce CC algorithm of Kiveris et al., "Connected
    * Components in MapReduce and Beyond" — public algorithm): each round
    * rewrites the edge set so every node hooks onto the minimum of its
    * neighborhood, converging to a forest of depth-1 stars rooted at each
    * component's minimum id in O(log n) rounds REGARDLESS of graph
    * diameter — the property plain label propagation (`dedup_keeper`,
    * diameter-bounded rounds) lacks, and the reason this is the 100 TB
    * shape for path-heavy graphs. No per-node neighbor lists are ever
    * collected: each phase is a groupBy-min plus an equi-join emit, so a
    * degree-10^6 hub costs one combinable aggregate, never a 10^6-element
    * collect_list buffer.
    *
    * Input: canonical undirected pairs (lo < hi), distinct. Output: the
    * converged star edges (root, member) — member ∈ component(root),
    * root = min id of the component, root itself not listed as a member.
    * Convergence is detected STRUCTURALLY (the edge set is a star forest:
    * every member has exactly one root and no root is itself a member) —
    * the actual postcondition, cheaper and stronger than set-equality
    * with the previous round. Exceeding maxRounds THROWS (the
    * nearDupKeepers discipline: never silently return non-components).
    */
  def altStarComponents(pairs0: DataFrame, maxRounds: Int = 20): DataFrame = {
    import org.apache.spark.sql.graft.bridge.releaseLocalCheckpoint
    // one large-star + small-star rewrite, LAZY (no action, no checkpoint)
    def rewriteRound(e: DataFrame): DataFrame = {
      // large-star: every node's strictly-greater neighbors hook onto the
      // min of its closed neighborhood
      val sym = e.select(col("lo").as("u"), col("hi").as("v"))
        .union(e.select(col("hi").as("u"), col("lo").as("v")))
      val mins = sym.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      // m <= u < v. NO intermediate distinct: the dedupe here
      // was one full exchange per round and is semantically redundant —
      // mins2's `min` is duplicate-insensitive and `next` ends in its own
      // distinct, so duplicate (m, v) edges (two centers u1, u2 of v
      // sharing one min) only ride through one combinable aggregate and
      // one join before being collapsed. Duplicate multiplicity is
      // bounded by deg(v) — never larger than the sym relation the round
      // already carries, so nothing grows asymptotically at any scale.
      val ls = sym.filter(col("v") > col("u")).join(mins, "u")
        .select(col("m").as("lo"), col("v").as("hi"))
      // small-star: every node and its smaller neighbors hook onto the
      // min of the smaller neighborhood
      val sym2 = ls.select(col("lo").as("u"), col("hi").as("v"))
        .union(ls.select(col("hi").as("u"), col("lo").as("v")))
      val smaller = sym2.filter(col("v") < col("u"))
      val mins2 = smaller.groupBy("u").agg(min("v").as("m"))
      smaller.join(mins2, "u").filter(col("v") =!= col("m"))
        .select(col("m").as("lo"), col("v").as("hi"))
        .union(mins2.select(col("m").as("lo"), col("u").as("hi")))
        .distinct()
    }
    var e = pairs0.select(col("lo"), col("hi")).distinct().localCheckpoint()
    var rounds = 0
    var star = false
    // One rewrite round per action. Batching two rounds per action does
    // not pay: with two lazy rounds and one checkpoint, each round reads
    // its input twice (the sym unions), so the un-truncated lineage
    // recomputes round 1 ~4× (warm 3.5 → 9.0 s); with a lazy mid-round
    // checkpoint the convergence test already rides the checkpoint job,
    // so a stride saves only a tiny aggregate, while at 100 TB
    // overshooting convergence mid-stride costs a whole extra pass over
    // the edge set. AQE stays on: runtime coalescing carries the loop
    // (AQE off: 5.6 s at 4 shuffle partitions, 11.7 s at 32).
    while (rounds < maxRounds && !star) {
      val next = rewriteRound(e).localCheckpoint(eager = false)
      // star-forest test in ONE job (not an aggregate plus a left-semi
      // isEmpty — two actions per round on the suite's heaviest key): tag each endpoint with its role, then per-id role sums
      // decide both conditions at once — star ⟺ no member has two roots
      // (every hi appears once) AND no root is itself a member (no id
      // carries both roles). The same action materializes the lazy
      // checkpoint (nearDupKeepers' one-job-does-both pattern).
      val roles = next.select(col("hi").as("id"),
          lit(1L).as("asMember"), lit(0L).as("asRoot"))
        .union(next.select(col("lo").as("id"),
          lit(0L).as("asMember"), lit(1L).as("asRoot")))
      val v = roles.groupBy("id")
        .agg(sum(col("asMember")).as("m"), sum(col("asRoot")).as("r"))
        .agg(
          sum(when(col("m") > 1, 1L).otherwise(0L)).as("multiRoot"),
          sum(when(col("m") > 0 && col("r") > 0, 1L).otherwise(0L)).as("rootIsMember"))
        .first()
      // empty edge set (no rows → null sums) is vacuously a star forest
      star = (v.isNullAt(0) || v.getLong(0) == 0L) &&
        (v.isNullAt(1) || v.getLong(1) == 0L)
      releaseLocalCheckpoint(e)
      e = next
      rounds += 1
    }
    if (!star) throw new IllegalStateException(
      s"altStarComponents did not converge in $maxRounds rounds — " +
        "raise maxRounds (output would be non-star edges otherwise)")
    e
  }

  /** Gated key: component sizes of the part co-purchase graph — parts
    * bought together in ≥ 2 distinct orders ("repeat affinity", which
    * keeps the graph sparse where raw co-occurrence is near-complete).
    * The pair build meets on l_orderkey (bounded by per-order item count
    * — linear in the fact table), the multiplicity filter is one
    * combinable count on the pair key, and the star edges land per-round
    * shuffles keyed on single node ids.
    */
  val graphComponents = QueryDef(
    "graph_components",
    s"""WITH RECURSIVE ${partCoCte("p2", "<")}, e0 AS (
      |  SELECT u, v FROM p2 UNION ALL SELECT v, u FROM p2
      |), nodes AS (
      |  SELECT DISTINCT u AS n FROM e0
      |), r AS (
      |  SELECT n AS node, n AS lbl FROM nodes
      |  UNION
      |  SELECT e0.v, r.lbl FROM r JOIN e0 ON e0.u = r.node WHERE r.lbl < e0.v
      |), comp AS (
      |  SELECT node, min(lbl) AS root FROM r GROUP BY node
      |)
      |SELECT root, CAST(count(*) AS BIGINT) AS size
      |FROM comp GROUP BY root
      |ORDER BY size DESC, root LIMIT 15""".stripMargin) { (s, d) =>
    // u < v projection of the shared symmetric landed relation: the
    // symmetric multiplicity c is identical for (u,v) and (v,u), so this
    // equals the direct u < v pair build the key originally ran
    val pairs = partCoEdges(s, d)
      .filter(col("u") < col("v"))
      .select(col("u").as("lo"), col("v").as("hi"))
    altStarComponents(pairs)
      .groupBy(col("lo").as("root"))
      .agg((count(lit(1)) + 1).as("size")) // members + the root itself
      .orderBy(col("size").desc, col("root"))
      .limit(15)
  }

  /** Link prediction by neighborhood similarity — the remaining classic
    * graph kernel (pagerank = centrality, triangles = cohesion,
    * components = reachability; this = "which non-edges SHOULD exist"):
    * over the part co-purchase graph (the graph_components base — parts
    * bought together in ≥ 2 distinct orders; the supplier graph is
    * complete at the smallest SF, leaving no non-edges to rank), for
    * every NON-ADJACENT part pair sharing ≥ 1 neighbor, the
    * common-neighbor count and neighborhood Jaccard
    * |N(a)∩N(b)| / |N(a)∪N(b)| in integer PPM (floor division — BIGINT
    * exact, the event_markov discipline). Top 15 by (jac_ppm, a, b).
    *
    * Scale: wedges meet on the CENTER node equi key, so per-center work
    * is deg(w)² — for common-neighbor semantics the center is fixed (the
    * wedge's w IS the shared neighbor), so the triangle-count degree
    * orientation cannot re-anchor the wedge. The 10× dup-heavy study
    * measured the uncapped kernel at 18× (298 M wedges, max degree 222
    * — the ×10 orders densify the same part universe), so hubs take the
    * standard cap treatment AS PART OF THE GATED SEMANTICS: each center
    * vouches only for its 32 smallest-id neighbors (row_number ≤ 32 —
    * deterministic and ORACLE-MIRRORED, so the hash stays exact at any
    * SF; a sampled cap would be neither). Wedge work is Σ min(d,32)² —
    * 20.5 M at 10× (15× less); `common` becomes a documented lower
    * bound wherever the cap bites (the recall trade every production
    * common-neighbor kernel makes for celebrity nodes), while the
    * Jaccard denominator keeps TRUE degrees. The landed edge file is
    * scanned 4× (cap derivation, two wedge sides via the landed capped
    * file, adjacency anti-join) instead of replaying the fact self-join
    * lineage. */
  val graphLinkpred = QueryDef(
    "graph_linkpred",
    s"""WITH ${partCoCte("e0")}, deg AS (
      |  SELECT u, CAST(count(*) AS BIGINT) AS d FROM e0 GROUP BY u
      |), ec AS (
      |  SELECT u, v FROM (
      |    SELECT u, v, row_number() OVER (PARTITION BY u ORDER BY v) AS rn
      |    FROM e0
      |  ) WHERE rn <= 32
      |), cn AS (
      |  SELECT w1.v AS a, w2.v AS b, CAST(count(*) AS BIGINT) AS common
      |  FROM ec w1 JOIN ec w2 ON w1.u = w2.u AND w1.v < w2.v
      |  GROUP BY a, b
      |), ne AS (
      |  SELECT cn.a, cn.b, cn.common FROM cn
      |  WHERE NOT EXISTS (SELECT 1 FROM e0 WHERE e0.u = cn.a AND e0.v = cn.b)
      |)
      |SELECT ne.a, ne.b, ne.common,
      |       CAST((1000000 * ne.common) // (da.d + db.d - ne.common) AS BIGINT)
      |         AS jac_ppm
      |FROM ne
      |JOIN deg da ON ne.a = da.u
      |JOIN deg db ON ne.b = db.u
      |ORDER BY jac_ppm DESC, ne.a, ne.b LIMIT 15""".stripMargin) { (s, d) =>
    // shared landed part co-purchase relation (repeat-affinity
    // sparsification keeps the non-edge set — what link prediction
    // ranks — live at every SF) + its landed hub-capped adjacency
    val e0 = partCoEdges(s, d).select("u", "v")
    val ec = partCoCapped(s, d)
    linkpredScores(e0, ec)
      .orderBy(col("jac_ppm").desc, col("a"), col("b"))
      .limit(15)
  }

  /** The linkpred scoring core over a symmetric (u, v) edge relation and
    * its capped adjacency (same relation with each u's neighbor list
    * truncated — pass the full relation to disable the cap): wedge join
    * on the center, adjacency anti-join, common-neighbor count +
    * neighborhood Jaccard in integer PPM with TRUE degrees. */
  def linkpredScores(e0: DataFrame, ec: DataFrame): DataFrame = {
    val deg = e0.groupBy("u").agg(count(lit(1)).as("d"))
    val cn = ec.select(col("u").as("w"), col("v").as("a"))
      .join(ec.select(col("u").as("w"), col("v").as("b")), Seq("w"))
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("common"))
    cn.join(e0.select(col("u").as("a"), col("v").as("b")), Seq("a", "b"),
        "left_anti")
      .join(deg.select(col("u").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("u").as("b"), col("d").as("db")), "b")
      .select(col("a"), col("b"), col("common"),
        expr("(1000000 * common) div (da + db - common)").as("jac_ppm"))
  }

  /** Seed-bounded k-hop reach (ego-network features) — the frontier-
    * expansion BFS shape (the per-level map-join + distinct of a Pregel
    * superstep) with BOTH blowup knobs bounded: k is fixed (3) and the
    * seed set is 10 deterministic nodes (smallest ids carrying an edge),
    * so every frontier is a seed-tagged relation the optimizer can
    * broadcast against the landed edge file. Per seed: the count of
    * distinct nodes within 1, 2, and 3 hops (cumulative, self excluded).
    * Unbounded-k reachability is `graph_components`' job (alternating
    * stars, O(log n) rounds); fixed-k ego features are THIS shape at any
    * corpus size — work per level is |frontier ⋈ edges|, deduped by the
    * per-level distinct before the next expansion (never re-walking
    * multiplicities). All-BIGINT. */
  val graphKhop = QueryDef(
    "graph_khop",
    s"""WITH ${partCoCte("e0")}, seeds AS (
      |  SELECT u AS seed FROM e0 GROUP BY u ORDER BY u LIMIT 10
      |), r1 AS (
      |  SELECT DISTINCT s.seed, e.v FROM seeds s JOIN e0 e ON e.u = s.seed
      |), r2 AS (
      |  SELECT DISTINCT seed, v FROM (
      |    SELECT r1.seed, e.v FROM r1 JOIN e0 e ON e.u = r1.v
      |    UNION SELECT seed, v FROM r1
      |  ) WHERE v <> seed
      |), r3 AS (
      |  SELECT DISTINCT seed, v FROM (
      |    SELECT r2.seed, e.v FROM r2 JOIN e0 e ON e.u = r2.v
      |    UNION SELECT seed, v FROM r2
      |  ) WHERE v <> seed
      |)
      |SELECT s.seed,
      |  CAST((SELECT count(*) FROM r1 WHERE r1.seed = s.seed) AS BIGINT) AS n_1hop,
      |  CAST((SELECT count(*) FROM r2 WHERE r2.seed = s.seed) AS BIGINT) AS n_2hop,
      |  CAST((SELECT count(*) FROM r3 WHERE r3.seed = s.seed) AS BIGINT) AS n_3hop
      |FROM seeds s ORDER BY s.seed""".stripMargin) { (s, d) =>
    khopReach(partCoEdges(s, d).select("u", "v"), nSeeds = 10).orderBy("seed")
  }

  /** Bounded-round weighted shortest paths (Bellman-Ford relaxation) —
    * `graph_khop`'s min-plus complement: khop asks REACH (is there a
    * ≤k-hop path), this asks the CHEAPEST ≤3-edge path under an integer
    * edge cost (1000 div co-order-count — stronger ties are cheaper),
    * the seed-bounded ego form of the SSSP shape every distributed graph
    * engine ships. Each relaxation round is |frontier ⋈ edges| + one
    * (seed, node) min-groupBy — the Pregel superstep as two keyed
    * shuffles, rounds fixed at 3 so the blowup knobs stay bounded
    * exactly as khop's. Costs are pure integers (floor div on exact
    * counts); per-seed rollups are combinable min/max/sum/count. The
    * oracle unrolls the three rounds as CTEs with the same min-merge.
    *
    * At 100 TB: frontier relations are seed-tagged and key-partitioned;
    * unbounded-round SSSP adds only a convergence loop over the same
    * per-round plan (the graph_components localCheckpoint discipline). */
  val graphSssp = QueryDef(
    "graph_sssp",
    s"""WITH ${partCoPairsCte("<>")}, ew AS (
      |  SELECT u, v, 1000 // count(*) AS w
      |  FROM pr GROUP BY u, v HAVING count(*) >= 2
      |), seeds AS (
      |  SELECT u AS seed FROM ew GROUP BY u ORDER BY u LIMIT 10
      |), d1 AS (
      |  SELECT s.seed, e.v, min(e.w) AS cost
      |  FROM seeds s JOIN ew e ON e.u = s.seed
      |  GROUP BY s.seed, e.v
      |), d2 AS (
      |  SELECT seed, v, min(cost) AS cost FROM (
      |    SELECT d1.seed, e.v, d1.cost + e.w AS cost
      |    FROM d1 JOIN ew e ON e.u = d1.v
      |    UNION ALL SELECT seed, v, cost FROM d1
      |  ) WHERE v <> seed GROUP BY seed, v
      |), d3 AS (
      |  SELECT seed, v, min(cost) AS cost FROM (
      |    SELECT d2.seed, e.v, d2.cost + e.w AS cost
      |    FROM d2 JOIN ew e ON e.u = d2.v
      |    UNION ALL SELECT seed, v, cost FROM d2
      |  ) WHERE v <> seed GROUP BY seed, v
      |)
      |SELECT seed, CAST(count(*) AS BIGINT) AS n_reached,
      |       CAST(min(cost) AS BIGINT) AS min_cost,
      |       CAST(max(cost) AS BIGINT) AS max_cost,
      |       CAST(sum(cost) AS BIGINT) AS sum_cost
      |FROM d3 GROUP BY seed ORDER BY seed""".stripMargin) { (s, d) =>
    // edge cost = 1000 div co-order-count, projected off the shared
    // landed multiplicity relation (stronger ties are cheaper)
    val ew = partCoEdges(s, d)
      .select(col("u"), col("v"), expr("1000 div c").as("w"))
    ssspCosts(ew, nSeeds = 10)
      .groupBy("seed")
      .agg(count(lit(1)).as("n_reached"),
        min(col("cost")).as("min_cost"),
        max(col("cost")).as("max_cost"),
        sum(col("cost")).as("sum_cost"))
      .orderBy("seed")
  }

  /** The bounded Bellman-Ford core over a weighted (u, v, w) edge
    * relation: per seed (the `nSeeds` smallest edge-bearing ids), the
    * min cost per reached node over paths of ≤ 3 edges (self excluded).
    * Each round: relax one edge off the current frontier, min-merge with
    * the standing distances. */
  def ssspCosts(ew: DataFrame, nSeeds: Int): DataFrame = {
    val seeds = ew.select(col("u").as("seed")).distinct()
      .orderBy("seed").limit(nSeeds)
    val d1 = seeds
      .join(ew.select(col("u").as("seed"), col("v"), col("w")), Seq("seed"))
      .groupBy("seed", "v").agg(min(col("w")).as("cost"))
    def relax(r: DataFrame): DataFrame =
      r.select(col("seed"), col("v").as("x"), col("cost"))
        .join(ew.select(col("u").as("x"), col("v"), col("w")), Seq("x"))
        .select(col("seed"), col("v"), (col("cost") + col("w")).as("cost"))
        .union(r.select("seed", "v", "cost"))
        .filter(col("v") =!= col("seed"))
        .groupBy("seed", "v").agg(min(col("cost")).as("cost"))
    relax(relax(d1))
  }

  /** The k-hop reach core over a symmetric (u, v) edge relation: per
    * seed (the `nSeeds` smallest edge-bearing node ids), the cumulative
    * distinct-node counts at hop depths 1..3 (self excluded). */
  def khopReach(e0: DataFrame, nSeeds: Int): DataFrame = {
    val seeds = e0.select(col("u").as("seed")).distinct()
      .orderBy("seed").limit(nSeeds)
    def expand(r: DataFrame): DataFrame =
      r.select(col("seed"), col("v").as("x"))
        .join(e0.select(col("u").as("x"), col("v")), Seq("x"))
        .select("seed", "v")
        .union(r.select("seed", "v"))
        .distinct()
        .filter(col("v") =!= col("seed"))
    val r1 = seeds
      .join(e0.select(col("u").as("seed"), col("v")), Seq("seed"))
      .select("seed", "v").distinct()
    val r2 = expand(r1)
    val r3 = expand(r2)
    def cnt(r: DataFrame, name: String): DataFrame =
      r.groupBy("seed").agg(count(lit(1)).as(name))
    seeds
      .join(cnt(r1, "n_1hop"), Seq("seed"), "left")
      .join(cnt(r2, "n_2hop"), Seq("seed"), "left")
      .join(cnt(r3, "n_3hop"), Seq("seed"), "left")
      .select(col("seed"),
        coalesce(col("n_1hop"), lit(0L)).as("n_1hop"),
        coalesce(col("n_2hop"), lit(0L)).as("n_2hop"),
        coalesce(col("n_3hop"), lit(0L)).as("n_3hop"))
  }

  /** Synchronous label-propagation core over a symmetric (u, v) edge
    * relation: `iters` rounds of "every node adopts the MOST FREQUENT
    * label among its neighbors, ties to the smallest label" — the
    * mode-adoption community kernel (components = min-adoption
    * reachability; this partitions by local label majority, a genuinely
    * different fixpoint). Determinism needs a total order on (count,
    * label), which both engines get from ONE integer: score =
    * c·2⁴⁰ + (2⁴⁰−1−lbl), so max(score) is "max count, then min label"
    * and the winning label is recovered arithmetically (no argmax/
    * window, no engine-defined tie semantics). Safe while labels < 2⁴⁰
    * and degree < 2²³ — both orders of magnitude beyond any SF here.
    * Each round is one edge⋈label join (labels shuffle on the node key;
    * the edge side stays partitioned) plus two combinable aggregates —
    * the Pregel superstep as keyed shuffles, same as pagerank. */
  def labelPropagate(e0: DataFrame, iters: Int): DataFrame = {
    val B = 1099511627776L // 2^40
    var labels = e0.select(col("u").as("node")).distinct()
      .withColumn("lbl", col("node"))
    for (_ <- 1 to iters) {
      labels = e0.join(labels, col("v") === col("node"))
        .groupBy(col("u"), col("lbl")).agg(count(lit(1)).as("c"))
        .groupBy(col("u").as("node"))
        .agg((lit(B - 1) -
          (max(col("c") * B + (lit(B - 1) - col("lbl"))) % B)).as("lbl"))
    }
    labels
  }

  private val LpRound =
    """SELECT node,
      |  1099511627775 - (max(c * 1099511627776 + (1099511627775 - lbl))
      |                   % 1099511627776) AS lbl
      |FROM (SELECT e.u AS node, PREV.lbl AS lbl, count(*) AS c
      |      FROM p2 e JOIN PREV ON e.v = PREV.node GROUP BY 1, 2)
      |GROUP BY node""".stripMargin

  /** DuckDB twin of `labelPropagate(p2, 4)`: the labels `l0` … `l4`. */
  private val labelpropCtes =
    s"""l0 AS (
       |  SELECT DISTINCT u AS node, u AS lbl FROM p2
       |), l1 AS (
       |${LpRound.replace("PREV", "l0")}
       |), l2 AS (
       |${LpRound.replace("PREV", "l1")}
       |), l3 AS (
       |${LpRound.replace("PREV", "l2")}
       |), l4 AS (
       |${LpRound.replace("PREV", "l3")}
       |)""".stripMargin

  /** Gated key: label-propagation communities of the part co-purchase
    * graph — 4 fixed synchronous rounds over the SAME landed symmetric
    * relation every other part-graph kernel shares (`partCoEdges` —
    * derived once per session, read from file by all consumers). Four
    * rounds is the classic LPA budget (most labels stabilize in 3–5
    * sweeps on sparse graphs); fixed-round + total-order ties makes the
    * result a deterministic relation both engines agree on exactly, the
    * pagerank/kmeans bounded-iteration discipline. The oracle unrolls
    * the 4 rounds as CTEs with the identical score arithmetic. */
  val graphLabelprop = QueryDef(
    "graph_labelprop",
    s"""WITH ${partCoCte("p2")}, $labelpropCtes
       |SELECT lbl AS community, CAST(count(*) AS BIGINT) AS size
       |FROM l4 GROUP BY lbl
       |ORDER BY size DESC, community LIMIT 15""".stripMargin) { (s, d) =>
    labelPropagate(partCoEdges(s, d).select("u", "v"), 4)
      .groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).as("size"))
      .orderBy(col("size").desc, col("community"))
      .limit(15)
  }

  /** Bounded k-core peeling core over a symmetric (u, v) edge relation:
    * `rounds` rounds of "compute degrees, drop every node with degree
    * < k, restrict edges to survivors", emitting one census row per
    * round over the POST-round graph — edge-bearing node count,
    * directed edge count, and node-id checksums (sum/min/max) so a
    * single wrongly-kept or wrongly-peeled node shifts the hash. The
    * true core is the peel's fixpoint; a fixed round budget is the
    * khop/sssp/labelprop gated-semantics discipline (sparse graphs
    * stabilize in a handful of sweeps, and the census trajectory gates
    * every intermediate state, not just the end). Each round is ONE
    * combinable degree aggregate plus two semi-joins on the node key —
    * the peel as keyed shuffles, nothing ever on the driver; a node
    * whose every neighbor was peeled carries no edge and drops out of
    * the census (degree-0 by definition of the edge-bearing graph). */
  def kcoreCensus(e0: DataFrame, k: Int, rounds: Int): DataFrame = {
    var edges = e0.select("u", "v")
    var census: Seq[DataFrame] = Nil
    for (r <- 1 to rounds) {
      val surv = edges.groupBy("u").agg(count(lit(1)).as("dg"))
        .filter(col("dg") >= k).select("u")
      edges = edges
        .join(surv, Seq("u"), "left_semi")
        .join(surv.withColumnRenamed("u", "v"), Seq("v"), "left_semi")
        .select("u", "v")
        // one materialization per round: the census reads it twice and
        // the next round's peel reads it again (graph_components'
        // localCheckpoint discipline, keeps the per-round plan flat)
        .localCheckpoint(eager = false)
      census = census :+ edges
        .agg(countDistinct(col("u")).as("n_nodes"),
          count(lit(1)).as("n_edges"),
          coalesce(sum_distinct(col("u")), lit(0L)).as("sum_node"),
          coalesce(min(col("u")), lit(0L)).as("min_node"),
          coalesce(max(col("u")), lit(0L)).as("max_node"))
        .select(lit(r).cast("int").as("round"), col("n_nodes"),
          col("n_edges"), col("sum_node"), col("min_node"), col("max_node"))
    }
    census.reduce(_ unionByName _)
  }

  private def KcRound(prev: String, k: Int): String =
    s"""SELECT e.u, e.v FROM $prev e
       |JOIN (SELECT u FROM $prev GROUP BY u HAVING count(*) >= $k) a ON e.u = a.u
       |JOIN (SELECT u FROM $prev GROUP BY u HAVING count(*) >= $k) b ON e.v = b.u""".stripMargin

  private def KcCensus(r: Int, rel: String): String =
    s"""SELECT CAST($r AS INTEGER) AS round,
       |  CAST(count(DISTINCT u) AS BIGINT) AS n_nodes,
       |  CAST(count(*) AS BIGINT) AS n_edges,
       |  CAST(coalesce(sum(DISTINCT u), 0) AS BIGINT) AS sum_node,
       |  CAST(coalesce(min(u), 0) AS BIGINT) AS min_node,
       |  CAST(coalesce(max(u), 0) AS BIGINT) AS max_node
       |FROM $rel""".stripMargin

  /** Gated key: 3-core peeling census of the part co-purchase graph —
    * 4 fixed peel rounds over the SAME landed symmetric relation every
    * other part-graph kernel shares (`partCoEdges`). k-core is the
    * degeneracy kernel the family lacked (components = reachability,
    * labelprop = majority adoption, THIS = iterated degree pruning —
    * the standard dense-substructure / spam-subgraph filter); the
    * census-per-round output gates the whole peel trajectory. Oracle
    * unrolls the 4 rounds as CTEs; `sum(DISTINCT u)` is exact over the
    * node set because ids are distinct values. */
  val graphKcore = QueryDef(
    "graph_kcore",
    s"""WITH ${partCoCte("p2")}, e1 AS (
       |${KcRound("p2", 3)}
       |), e2 AS (
       |${KcRound("e1", 3)}
       |), e3 AS (
       |${KcRound("e2", 3)}
       |), e4 AS (
       |${KcRound("e3", 3)}
       |)
       |${KcCensus(1, "e1")}
       |UNION ALL ${KcCensus(2, "e2")}
       |UNION ALL ${KcCensus(3, "e3")}
       |UNION ALL ${KcCensus(4, "e4")}
       |ORDER BY round""".stripMargin) { (s, d) =>
    kcoreCensus(partCoEdges(s, d).select("u", "v"), 3, 4)
      .orderBy("round")
  }

  /** The bipartite-projection edge relation ITSELF, gated — every graph
    * kernel here consumes the part co-purchase projection (order ⋈ part
    * bipartite incidence → part–part repeat-affinity edges), but until
    * this key only the kernels' OUTPUTS were hashed; a projection bug
    * that two kernels happened to absorb symmetrically was invisible.
    * This emits the top-200 heaviest edges of the landed shared relation
    * (u < v half, weight = distinct co-orders, total (c, u, v) order) —
    * so the derivation the whole family rides is now pinned byte-exact,
    * and the Landed.once memo means the key costs one parquet read when
    * any kernel already ran. Scale: the projection meets on l_orderkey
    * (pairs bounded by per-order basket size, never |parts|²) and the
    * ≥2-distinct-orders filter keeps it sparse — the standard
    * bipartite-projection discipline. */
  val graphProjectBipartite = QueryDef(
    "graph_project_bipartite",
    s"""WITH ${partCoPairsCte("<")}
      |SELECT u, v, c FROM (
      |  SELECT u, v, CAST(count(*) AS BIGINT) AS c
      |  FROM pr GROUP BY u, v HAVING count(*) >= 2
      |)
      |ORDER BY c DESC, u, v LIMIT 200""".stripMargin) { (s, d) =>
    partCoEdges(s, d)
      .filter(col("u") < col("v"))
      .select("u", "v", "c")
      .orderBy(col("c").desc, col("u"), col("v"))
      .limit(200)
  }

  /** DEGREE ASSORTATIVITY of the part co-purchase graph — the one-number
    * mixing summary (Newman 2002: Pearson correlation of endpoint
    * degrees over directed edges; r > 0 hubs link hubs, r < 0 hubs link
    * leaves) that tells an operator whether the graph's hubs cluster —
    * the property that decides if the hub cap (`graph_linkpred`) and
    * salting actually matter. The agg_regression discipline verbatim:
    * degrees are exact integers, the five moment sums accumulate as
    * BIGINTs (deg ≤ 10³, edges ≤ 10⁶ keeps every product < 2⁶³), and
    * the closed-form correlation is ONE double tree over identical
    * operands. Plan: one degree aggregate + two key joins against the
    * landed edges + one scalar aggregate — no iteration, no window. */
  val graphAssortativity = QueryDef(
    "graph_assortativity",
    s"""WITH ${partCoCte("e")}, deg AS (
      |  SELECT u AS n, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY u
      |), m AS (
      |  SELECT CAST(count(*) AS BIGINT) AS s,
      |    CAST(sum(du.d) AS BIGINT) AS sx, CAST(sum(dv.d) AS BIGINT) AS sy,
      |    CAST(sum(du.d * du.d) AS BIGINT) AS sxx,
      |    CAST(sum(dv.d * dv.d) AS BIGINT) AS syy,
      |    CAST(sum(du.d * dv.d) AS BIGINT) AS sxy
      |  FROM e JOIN deg du ON e.u = du.n JOIN deg dv ON e.v = dv.n
      |)
      |SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
      |  s AS n_edges,
      |  round((CAST(s AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
      |    / (sqrt(CAST(s AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
      |       * sqrt(CAST(s AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 6)
      |    AS assortativity
      |FROM m""".stripMargin) { (s, d) =>
    val e = partCoEdges(s, d).select("u", "v")
    val deg = e.groupBy("u").agg(count(lit(1)).as("d"))
      .select(col("u").as("n"), col("d"))
    val m = e.join(deg.select(col("n"), col("d").as("du")), col("u") === col("n")).drop("n")
      .join(deg.select(col("n"), col("d").as("dv")), col("v") === col("n")).drop("n")
      .agg(count(lit(1)).as("s"),
        sum(col("du")).as("sx"), sum(col("dv")).as("sy"),
        sum(col("du") * col("du")).as("sxx"),
        sum(col("dv") * col("dv")).as("syy"),
        sum(col("du") * col("dv")).as("sxy"))
    val nNodes = deg.agg(count(lit(1)).as("n_nodes"))
    m.crossJoin(broadcast(nNodes))
      .select(col("n_nodes"), col("s").as("n_edges"),
        round((col("s").cast("double") * col("sxy") - col("sx").cast("double") * col("sy"))
          / (sqrt(col("s").cast("double") * col("sxx") - col("sx").cast("double") * col("sx"))
            * sqrt(col("s").cast("double") * col("syy") - col("sy").cast("double") * col("sy"))), 6)
          .as("assortativity"))
  }

  /** MODULARITY of the label-propagation communities (Newman 2006,
    * arXiv:physics/0602124): Q = Σ_c [ e_c/E − (d_c/E)² ] over the
    * DIRECTED symmetric edge count E = 2m, where e_c is the
    * intra-community directed edge count and d_c the community degree
    * sum — the standard quality score a community pipeline reports
    * beside the partition itself. Communities are the same 4-round LPA
    * fixpoint `graph_labelprop` gates, on the same landed
    * `partCoEdges` graph; gated per community (top 15 by size):
    * nodes, intra edges, degree sum, and the integer-micro Q
    * contribution (e_c·10⁶ div E) − ((d_c·10⁶ div E)²) div 10⁶ —
    * each factor ≤ 10⁶ before squaring, so the arithmetic stays in
    * int64 while E < 9·10¹² directed edges (far past any per-partition
    * graph here; shard the ratio scale down for a true web graph).
    *
    * Scale shape: two label-keyed joins of the edge relation against
    * the node-sized label map (the LPA-round plan itself), one
    * combinable aggregate per community, and a 1-row E broadcast —
    * everything keyed, nothing quadratic; LPA rounds amortize over the
    * shared landed graph. */
  val graphModularity = QueryDef(
    "graph_modularity",
    s"""WITH ${partCoCte("p2")}, $labelpropCtes, e2 AS (
       |  SELECT count(*) AS ec FROM p2
       |), lbl AS (
       |  SELECT e.u, e.v, lu.lbl AS cu, lv.lbl AS cv
       |  FROM p2 e JOIN l4 lu ON e.u = lu.node JOIN l4 lv ON e.v = lv.node
       |), com AS (
       |  SELECT cu AS community,
       |    sum(CASE WHEN cu = cv THEN 1 ELSE 0 END) AS intra_edges,
       |    count(*) AS deg_sum
       |  FROM lbl GROUP BY cu
       |), sz AS (
       |  SELECT lbl AS community, count(*) AS n_nodes FROM l4 GROUP BY lbl
       |)
       |SELECT s.community, CAST(s.n_nodes AS BIGINT) AS n_nodes,
       |  CAST(c.intra_edges AS BIGINT) AS intra_edges,
       |  CAST(c.deg_sum AS BIGINT) AS deg_sum,
       |  CAST(c.intra_edges * 1000000 // ec
       |    - ((c.deg_sum * 1000000 // ec) * (c.deg_sum * 1000000 // ec))
       |      // 1000000 AS BIGINT) AS q_micro
       |FROM sz s JOIN com c ON s.community = c.community, e2
       |ORDER BY n_nodes DESC, s.community LIMIT 15""".stripMargin) { (s, d) =>
    val e = partCoEdges(s, d).select("u", "v")
    val labels = labelPropagate(e, 4).localCheckpoint()
    val e2 = broadcast(e.agg(count(lit(1)).as("ec")))
    val lbl = e
      .join(labels.select(col("node").as("u"), col("lbl").as("cu")), Seq("u"))
      .join(labels.select(col("node").as("v"), col("lbl").as("cv")), Seq("v"))
    val com = lbl.groupBy(col("cu").as("community"))
      .agg(sum(when(col("cu") === col("cv"), 1L).otherwise(0L))
        .as("intra_edges"),
        count(lit(1)).as("deg_sum"))
    val sz = labels.groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).as("n_nodes"))
    sz.join(com, Seq("community")).crossJoin(e2)
      .select(col("community"), col("n_nodes"), col("intra_edges"),
        col("deg_sum"),
        (expr("intra_edges * 1000000L div ec") -
          expr("((deg_sum * 1000000L div ec) * (deg_sum * 1000000L div ec))" +
            " div 1000000L")).as("q_micro"))
      .orderBy(col("n_nodes").desc, col("community"))
      .limit(15)
  }

  private val WalkLen = 5
  private val WalkB = 1099511627776L // 2^40 packing base
  private val ChkP = 1000000007L

  /** One hash-random walk step: frontier (walk, cur) x edges (u, v) ->
    * the next frontier. The successor of `cur` in walk `walk` at step
    * `t` is the neighbor minimizing the 12-bit md5 prefix of
    * "walk:t:cur:v" (ties -> smallest v via the packed key) — the
    * deterministic integer twin of DeepWalk's uniform neighbor draw,
    * cross-engine replayable through the md5-prefix idiom
    * (`sample_dsir`'s hash). One keyed join + one combinable packed-min
    * aggregate; no window, no driver state. */
  private def walkStep(f: DataFrame, e: DataFrame, t: Int): DataFrame =
    f.join(e, col("cur") === col("u"))
      .select(col("walk"),
        (conv(substring(md5(concat(
            col("walk").cast("string"), lit(s":$t:"),
            col("cur").cast("string"), lit(":"),
            col("v").cast("string")).cast("binary")), 1, 3), 16, 10)
          .cast("long") * WalkB + col("v")).as("pk"))
      .groupBy("walk").agg(min(col("pk")).as("k"))
      .select(col("walk"), (col("k") % WalkB).as("cur"))

  /** DEEPWALK CORPUS GENERATION (Perozzi et al. 2014, arXiv:1403.6652)
    * over an explicit symmetric (u, v) edge relation: two walks per
    * start node (walk ids 2n, 2n+1), `walkLen` hash-random steps, and a
    * per-step gated summary — walks alive, distinct current nodes, and
    * an order-free trajectory checksum sum((walk·1000003 + cur) mod p)
    * that pins every walk's position without materializing the corpus
    * in the gate. The walk CORPUS itself is the (step, walk, cur)
    * union this summary aggregates — the skip-gram training input.
    *
    * Scale shape: the frontier is 2·|V| rows forever (symmetric edges
    * mean no dead ends); each step is ONE equi-join against the landed
    * edge relation plus ONE combinable packed-min aggregate, so a
    * 100 TB graph pays walkLen keyed shuffles of node-sized relations
    * and the edge scan amortizes over the landed file. localCheckpoint
    * between steps cuts the 5-deep lineage (the LPA discipline). */
  def deepwalkStats(edges: DataFrame, walkLen: Int = WalkLen): DataFrame = {
    val e = edges.select("u", "v")
    val f0 = e.select(col("u")).distinct()
      .select(explode(array(col("u") * 2, col("u") * 2 + 1)).as("walk"),
        col("u").as("cur"))
    var f = f0
    var tagged = f0.withColumn("step", lit(0))
    for (t <- 1 to walkLen) {
      f = walkStep(f, e, t).localCheckpoint()
      tagged = tagged.union(f.withColumn("step", lit(t)))
    }
    tagged.groupBy("step")
      .agg(count(lit(1)).as("n_walks"),
        countDistinct(col("cur")).as("n_nodes"),
        sum((col("walk") * 1000003L + col("cur")) % ChkP).as("chk"))
      .orderBy("step")
  }

  private def walkStepCte(t: Int): String =
    s"""k$t AS (
       |  SELECT f.walk,
       |    min(CAST(CAST('0x' || substr(md5(CAST(f.walk AS VARCHAR) || ':$t:' ||
       |      CAST(f.cur AS VARCHAR) || ':' || CAST(e.v AS VARCHAR)), 1, 3)
       |      AS INTEGER) AS BIGINT) * $WalkB + e.v) AS k
       |  FROM f${t - 1} f JOIN p2 e ON f.cur = e.u GROUP BY f.walk
       |), f$t AS (
       |  SELECT walk, k % $WalkB AS cur FROM k$t
       |)""".stripMargin

  /** Gated on the same landed co-purchase part graph as labelprop /
    * modularity; the oracle unrolls the 5 steps as CTE pairs (packed-min
    * then decode) over the identical md5-prefix successor rule. */
  val graphDeepwalk = QueryDef(
    "graph_deepwalk",
    s"""WITH ${partCoCte("p2")}, w0 AS (
       |  SELECT DISTINCT u AS node FROM p2
       |), f0 AS (
       |  SELECT node * 2 AS walk, node AS cur FROM w0
       |  UNION ALL
       |  SELECT node * 2 + 1 AS walk, node AS cur FROM w0
       |),
       |${(1 to WalkLen).map(walkStepCte).mkString(",\n")},
       |allf AS (
       |  SELECT 0 AS step, walk, cur FROM f0
       |${(1 to WalkLen).map(t =>
           s"  UNION ALL SELECT $t AS step, walk, cur FROM f$t").mkString("\n")}
       |)
       |SELECT CAST(step AS INT) AS step,
       |  CAST(count(*) AS BIGINT) AS n_walks,
       |  CAST(count(DISTINCT cur) AS BIGINT) AS n_nodes,
       |  CAST(sum((walk * 1000003 + cur) % $ChkP) AS BIGINT) AS chk
       |FROM allf GROUP BY step ORDER BY step""".stripMargin) { (s, d) =>
    deepwalkStats(partCoEdges(s, d).select("u", "v"))
  }

  /** HITS (Kleinberg 1999) over the DIRECTED 1996 engagement graph
    * customer → supplier (an order links the buying customer to each
    * supplying supplier): hubs are customers whose orders reach the
    * strong suppliers, authorities are suppliers reached by the strong
    * customers — the mutually-recursive pair PageRank's single score
    * collapses. On a bipartite edge set the two scores live on disjoint
    * node sets, so the key emits both sides under a role column.
    *
    * Determinism: the pagerank discipline — integer micro-units with
    * truncating division (`div` ≡ DuckDB `//` on non-negative
    * operands), and the classic max-normalization after every half-step
    * (h ← h·10⁶ div max h) so the fixpoint scale is pinned without any
    * double sqrt (the L2 norm the textbook uses is the one piece that
    * won't cross engines bit-exact; max-normalization is the standard
    * integer-friendly variant and converges to the same ranking).
    * Overflow headroom: score ≤ 10⁶, so a sum is ≤ degree·10⁶ and the
    * scaled numerator ≤ degree·10¹² — safe to degree ~10⁶; a web-scale
    * run divides by max BEFORE rescaling (two-step div, same floor).
    *
    * Scale shape per half-step: one edge ⋈ score join on the score key
    * (AQE broadcasts the node-sized side at test SFs, shuffle-joins at
    * web scale), one combinable sum, one 1-row broadcast for the max —
    * 3 unrolled rounds, no driver-side state. */
  val graphHits = QueryDef(
    "graph_hits", {
      val round = (i: Int, prev: String) =>
        s"""hr$i AS (
           |  SELECT e.c, sum($prev.a) AS hs FROM e JOIN $prev ON e.s = $prev.node
           |  GROUP BY e.c
           |), h$i AS (
           |  SELECT c, (hs * 1000000) // (SELECT max(hs) FROM hr$i) AS h FROM hr$i
           |), ar$i AS (
           |  SELECT e.s, sum(h$i.h) AS sa FROM e JOIN h$i ON e.c = h$i.c
           |  GROUP BY e.s
           |), a$i AS (
           |  SELECT s AS node, (sa * 1000000) // (SELECT max(sa) FROM ar$i) AS a
           |  FROM ar$i
           |)""".stripMargin
      s"""WITH ord96 AS (
         |  SELECT o_orderkey, o_custkey FROM orders
         |  WHERE o_orderdate >= TIMESTAMP '1996-01-01'
         |    AND o_orderdate <  TIMESTAMP '1997-01-01'
         |), e AS (
         |  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
         |  FROM ord96 JOIN lineitem ON l_orderkey = o_orderkey
         |), a0 AS (
         |  SELECT DISTINCT s AS node, CAST(1000000 AS BIGINT) AS a FROM e
         |),
         |${round(1, "a0")},
         |${round(2, "a1")},
         |${round(3, "a2")},
         |au AS (
         |  SELECT 'auth' AS role, node, CAST(a AS BIGINT) AS score_micro
         |  FROM a3 ORDER BY a DESC, node LIMIT 10
         |), hu AS (
         |  SELECT 'hub' AS role, c AS node, CAST(h AS BIGINT) AS score_micro
         |  FROM h3 ORDER BY h DESC, node LIMIT 10
         |)
         |SELECT role, node, score_micro
         |FROM (SELECT * FROM au UNION ALL SELECT * FROM hu)
         |ORDER BY role, score_micro DESC, node""".stripMargin
    }) { (s, d) =>
    // the directed (c, s) edge relation lands ONCE per (session, dataset)
    // — the supplier96Edges discipline: the fact join + distinct is the
    // expensive pass, and SIX iteration joins consume the relation
    val e = Landed.once(s, d, "graph.hits96") {
      val ord96 = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp_ntz") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp_ntz"))
        .select(col("o_orderkey"), col("o_custkey"))
      ord96
        .join(Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("c"), col("l_suppkey").as("s")).distinct()
    }
    var a = e.select(col("s").as("node")).distinct()
      .withColumn("a", lit(1000000L))
    var h: DataFrame = null
    for (_ <- 1 to 3) {
      // each raw-score relation is node-sized and consumed TWICE (by its
      // own max subquery and by the next half-step): localCheckpoint it
      // so the two consumers read materialized blocks — without the cut,
      // every max branch replays the whole iteration lineage and the
      // recompute tree doubles per half-step (measured 12.9 s at 10×;
      // 6 bounded checkpoint jobs bring it to edge-join cost)
      val hr = e.join(a, col("s") === col("node"))
        .groupBy("c").agg(sum(col("a")).as("hs")).localCheckpoint()
      h = hr.crossJoin(broadcast(hr.agg(max(col("hs")).as("hm"))))
        .select(col("c"), expr("(hs * 1000000) div hm").as("h"))
      val ar = e.join(h, Seq("c"))
        .groupBy("s").agg(sum(col("h")).as("sa")).localCheckpoint()
      a = ar.crossJoin(broadcast(ar.agg(max(col("sa")).as("am"))))
        .select(col("s").as("node"), expr("(sa * 1000000) div am").as("a"))
    }
    val au = a.orderBy(col("a").desc, col("node")).limit(10)
      .select(lit("auth").as("role"), col("node"),
        col("a").cast("long").as("score_micro"))
    val hu = h.orderBy(col("h").desc, col("c")).limit(10)
      .select(lit("hub").as("role"), col("c").as("node"),
        col("h").cast("long").as("score_micro"))
    au.unionAll(hu).orderBy(col("role"), col("score_micro").desc, col("node"))
  }

  val all: Seq[QueryDef] = Seq(graphPagerank, graphTriangles, graphComponents,
    graphLinkpred, graphKhop, graphSssp, graphLabelprop, graphKcore,
    graphProjectBipartite, graphAssortativity, graphModularity, graphDeepwalk,
    graphHits)
}
