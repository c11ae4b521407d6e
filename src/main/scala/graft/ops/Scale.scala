package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import Det._

/** Scale-machinery keys (SURVEY.md §2.1/§2.3/§2.4, round 7): the physical
  * layouts and skew defenses a 100 TB deployment leans on, each gated as a
  * declared relation so the driver's hash certifies the machinery does not
  * change the answer.
  *
  * - `scan_partitioned`: hive-style partitioned layout + partition-PRUNED
  *   read (the directory-level analog of `join_bucketed`'s bucket layout).
  * - `join_salted`: explicit salt-exploded equi-join — the skew remedy for
  *   a hot join key, provably identical to the plain join.
  * - `sql_frontend`: the `spark.sql` entry point over registered views —
  *   the same engine surface users reach without the DataFrame API.
  * - `window_ntile` / `agg_filtered`: quantile bucketing and FILTER-clause
  *   aggregation, both single-shuffle shapes.
  * - `agg_approx_percentile`: sketch quantiles (no oracle — PropertySpec
  *   gates rank error against the exact percentiles).
  */
object Scale {

  /** Deterministic temp location per sfDir (same convention as
    * `join_bucketed` / Formats) so Bench reps overwrite, not litter. */
  private def partDir(d: String): String =
    QueryDef.tmpRoot("part", d) + "/events"

  /** Write events hive-partitioned by `event_type`, then read back with a
    * partition-column predicate and aggregate. At 100 TB the pruned read
    * touches only the 2 matching directories out of 5 — no row of any
    * other partition is opened (SourcesSpec pins `PartitionFilters` on the
    * scan and the pruned partition count). The repartition before the
    * write co-locates each partition's rows so a partition is one file
    * per task-group, not one fragment per upstream task.
    *
    * The oracle aggregates the same predicate over the ORIGINAL table —
    * partitioning is physical layout only, so the relation is identical.
    */
  val scanPartitioned = QueryDef(
    "scan_partitioned",
    """SELECT event_type,
      |       CAST(count(*) AS BIGINT) AS n,
      |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
      |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM events WHERE event_type IN ('purchase', 'signup')
      |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
    scanPartitionedPlan(s, d)
  }

  /** The declared plan for `scan_partitioned`, exposed so SourcesSpec can
    * pin partition pruning on exactly what the driver runs. */
  def scanPartitionedPlan(s: SparkSession, d: String): DataFrame = {
    Tables.events(s, d)
      .select("event_id", "user_id", "event_type", "value")
      .repartition(col("event_type"))
      .write.mode("overwrite")
      .partitionBy("event_type")
      .parquet(partDir(d))
    s.read.parquet(partDir(d))
      .filter(col("event_type").isin("purchase", "signup"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        sum(dec(col("value"))).cast("double").as("sum_value"))
      .orderBy("event_type")
  }

  private val Salts = 8

  /** Salt-exploded skew join: events (the fact, where one hot `user_id`
    * would overwhelm a single reducer) joined to customer (the dim). The
    * fact side gets a deterministic salt in [0, 8) derived from its own
    * row id; the dim side is exploded ×8 so every (key, salt) pair still
    * meets its match — the hot key's rows now spread across 8 reducers
    * instead of one. Salt never reaches the output, so the relation is
    * EXACTLY the plain join's, and the oracle is the plain join.
    * (`swivel_cooc_salted` gates the aggregation analog; this key gates
    * the join analog. AQE's runtime skew split — PlanSpec-pinned — covers
    * sort-merge joins; explicit salting is the remedy that also works for
    * hash aggregation layers and pre-AQE engines.)
    */
  val joinSalted = QueryDef(
    "join_salted",
    """SELECT c_mktsegment,
      |       CAST(count(*) AS BIGINT) AS n_events,
      |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
      |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM events JOIN customer ON user_id = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) { (s, d) =>
    val fact = Tables.events(s, d)
      .select(col("user_id"), col("value"),
        pmod(col("event_id"), lit(Salts)).as("salt"))
    val dim = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment"),
        explode(sequence(lit(0L), lit(Salts - 1L))).as("salt"))
    // hint("shuffle_hash") keeps the join a shuffled one at every SF so
    // the (key, salt) partitioning is actually exercised (a broadcast of
    // the small dim would be legal but would bypass the salt machinery
    // this key exists to certify).
    fact.join(dim.hint("shuffle_hash"),
        fact("user_id") === dim("c_custkey") && fact("salt") === dim("salt"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(dec(col("value"))).cast("double").as("sum_value"))
      .orderBy("c_mktsegment")
  }

  /** Two-phase salted per-key top-k — the WINDOW-surface complement of
    * `join_salted` (that key salts a skewed join; this one salts a
    * skewed ranking): per-key window top-k over a Zipfian/hot key is the
    * classic single-reducer straggler at 100 TB, because ONE task must
    * sort the hot key's entire partition even though only k rows
    * survive. Remedy: phase 1 ranks within (key, salt) — the hot key's
    * rows spread across `salts` reducers, each keeping only its local
    * top-k — then phase 2 re-ranks the ≤ salts·k survivors per key.
    * Equal to the plain window by a standard argument: the global top-k
    * under a TOTAL order (value DESC, event_id) is contained in the
    * union of per-salt top-ks, and phase 2 applies the identical order.
    * Salt is deterministic (event_id mod salts — the join_salted
    * discipline, retry-safe, no rand()) and never reaches the output,
    * so the oracle is the PLAIN one-phase window. PlanSpec pins the
    * two-Window / two-exchange shape. */
  def skewTopK(ev: DataFrame, k: Int, salts: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val phase1 = Window.partitionBy(col("event_type"), col("salt"))
      .orderBy(col("value").desc, col("event_id"))
    val phase2 = Window.partitionBy(col("event_type"))
      .orderBy(col("value").desc, col("event_id"))
    ev.select(col("event_type"), col("event_id"), col("value"),
        pmod(col("event_id"), lit(salts.toLong)).as("salt"))
      .withColumn("rn", row_number().over(phase1))
      .filter(col("rn") <= k)
      .withColumn("rk", row_number().over(phase2))
      .filter(col("rk") <= k)
      .select(col("event_type"), col("rk"), col("event_id"), col("value"))
  }

  val windowSkewTopk = QueryDef(
    "window_skew_topk",
    """SELECT event_type, CAST(rk AS INT) AS rk, event_id, value FROM (
      |  SELECT event_type, event_id, value,
      |         row_number() OVER (PARTITION BY event_type
      |                            ORDER BY value DESC, event_id) AS rk
      |  FROM events
      |) WHERE rk <= 3 ORDER BY event_type, rk""".stripMargin) { (s, d) =>
    skewTopK(Tables.events(s, d), k = 3, salts = Salts)
      .orderBy("event_type", "rk")
  }

  /** Shared SQL text for `sql_frontend` — written in the dialect
    * intersection (standard CTE + window + join + FILTER-free aggregates)
    * so the IDENTICAL string runs on both engines: what Spark executes is
    * literally what DuckDB checks. */
  private val FrontendSql =
    """WITH rev AS (
      |  SELECT o_custkey,
      |         CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
      |         CAST(count(*) AS BIGINT) AS n_orders
      |  FROM orders GROUP BY o_custkey
      |)
      |SELECT c_mktsegment, c_custkey, revenue, n_orders
      |FROM (
      |  SELECT c.c_mktsegment, c.c_custkey, r.revenue, r.n_orders,
      |         row_number() OVER (PARTITION BY c.c_mktsegment
      |                            ORDER BY r.revenue DESC, c.c_custkey) AS rk
      |  FROM rev r JOIN customer c ON r.o_custkey = c.c_custkey
      |) ranked
      |WHERE rk <= 3
      |ORDER BY c_mktsegment, revenue DESC, c_custkey""".stripMargin

  /** The `spark.sql` front end: register the parquet tables as temp views
    * and run a multi-feature query (CTE + aggregate + join + ranked
    * window + top-k filter) through the SQL entry point. Catalyst plans
    * SQL and DataFrame code identically, so everything the other keys pin
    * (pushdown, two-phase agg, broadcast) holds here too — this key
    * certifies the parser/analyzer surface itself. */
  val sqlFrontend = QueryDef("sql_frontend", FrontendSql) { (s, d) =>
    Tables.orders(s, d).createOrReplaceTempView("orders")
    Tables.customer(s, d).createOrReplaceTempView("customer")
    s.sql(FrontendSql)
  }

  /** ntile quantile bucketing: assign each customer an acctbal quartile
    * within its segment. The ORDER BY carries a tiebreak column
    * (c_custkey) so the total order — and therefore every bucket
    * assignment — is engine-independent; both engines implement the
    * SQL-standard ntile (first `n_rows % k` buckets take the extra row).
    * One shuffle on the partition key; the window input is never
    * global-sorted. */
  val windowNtile = QueryDef(
    "window_ntile",
    """SELECT c_custkey, c_mktsegment,
      |       CAST(ntile(4) OVER (PARTITION BY c_mktsegment
      |                           ORDER BY c_acctbal, c_custkey) AS INT) AS quartile
      |FROM customer ORDER BY c_custkey""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment"),
        ntile(4).over(Window.partitionBy("c_mktsegment")
          .orderBy(col("c_acctbal"), col("c_custkey"))).as("quartile"))
      .orderBy("c_custkey")
  }

  /** FILTER-clause aggregation: per-segment counts/sums restricted by
    * per-aggregate predicates, all in ONE pass over the table (one
    * two-phase hash aggregate — never one scan per predicate). Spark
    * spells it `count_if` / `sum(CASE)`; the oracle uses the standard
    * FILTER clause — same relation. */
  val aggFiltered = QueryDef(
    "agg_filtered",
    """SELECT c_mktsegment,
      |       CAST(count(*) FILTER (WHERE c_acctbal > 0) AS BIGINT) AS n_pos,
      |       CAST(count(*) FILTER (WHERE c_acctbal < 0) AS BIGINT) AS n_neg,
      |       CAST(sum(CAST(c_acctbal AS DECIMAL(18,4)))
      |            FILTER (WHERE c_acctbal > 0) AS DOUBLE) AS sum_pos,
      |       CAST(count(DISTINCT c_nationkey) FILTER (WHERE c_acctbal > 5000)
      |            AS BIGINT) AS n_rich_nations
      |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) {
    (s, d) =>
      Tables.customer(s, d)
        .groupBy("c_mktsegment")
        .agg(
          count_if(col("c_acctbal") > 0).as("n_pos"),
          count_if(col("c_acctbal") < 0).as("n_neg"),
          sum(when(col("c_acctbal") > 0, dec(col("c_acctbal"))))
            .cast("double").as("sum_pos"),
          countDistinct(when(col("c_acctbal") > 5000, col("c_nationkey")))
            .as("n_rich_nations"))
        .orderBy("c_mktsegment")
  }

  /** Sketch quantiles: approx_percentile (Greenwald-Khanna) per group at
    * accuracy 10000 — the constant-memory path when an exact
    * `agg_percentile` sort-based pass is too expensive at scale. No
    * cross-engine oracle exists for the sketch VALUES (DuckDB's
    * approx_quantile is t-digest — different algorithm, different
    * answers), so — promoted round 9 from no-oracle (VERDICT r8 item 7,
    * the agg_approx_distinct shape) — the driver gates the guarantee GK
    * actually makes: RANK error. The returned p50/p90/p99 values are
    * joined back against the group and their realized ranks counted; the
    * hash gates the exact group size plus the Spark-computed claim that
    * every rank landed within 1% of its target (TRUE on the oracle
    * side; the 0.01·n + 1 slack covers tie-run boundaries). Measured max
    * rank error ≤ 4.1e-4 at all three SFs and the sketch is
    * deterministic, so the boolean is stable. PropertySpec's per-
    * estimate rank gate stays. The rank-verification join is gate
    * scaffolding — at 100 TB the operator ships only the sketch pass. */
  val aggApproxPercentile = QueryDef(
    "agg_approx_percentile",
    """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
      |  TRUE AS within_rank_1pct
      |FROM lineitem GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    val li = Tables.lineitem(s, d)
      .select(col("l_returnflag"), col("l_extendedprice"))
    val sk = li.groupBy("l_returnflag")
      .agg(percentile_approx(col("l_extendedprice"),
        array(lit(0.5), lit(0.9), lit(0.99)), lit(10000)).as("approx_pcts"))
      .select(col("l_returnflag"),
        element_at(col("approx_pcts"), 1).as("p50"),
        element_at(col("approx_pcts"), 2).as("p90"),
        element_at(col("approx_pcts"), 3).as("p99"))
    li.join(broadcast(sk), "l_returnflag")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(when(col("l_extendedprice") <= col("p50"), 1L).otherwise(0L))
          .as("r50"),
        sum(when(col("l_extendedprice") <= col("p90"), 1L).otherwise(0L))
          .as("r90"),
        sum(when(col("l_extendedprice") <= col("p99"), 1L).otherwise(0L))
          .as("r99"))
      // |r/n − p| ≤ 0.01 + 1/n per quantile, in exact integer arithmetic
      // (×100): |100·r − 100p·n| ≤ n + 100
      .select(col("l_returnflag"), col("n"),
        ((abs(col("r50") * 100 - col("n") * 50) <= col("n") + 100) &&
         (abs(col("r90") * 100 - col("n") * 90) <= col("n") + 100) &&
         (abs(col("r99") * 100 - col("n") * 99) <= col("n") + 100))
          .as("within_rank_1pct"))
      .orderBy("l_returnflag")
  }

  /** Shared SQL for `join_lateral` — a correlated LATERAL subquery (top-2
    * orders per selected customer), the relational form of a dependent
    * per-row subplan. Catalyst decorrelates it into a ranked-window join
    * (DecorrelateInnerQuery + RewriteCorrelatedScalarSubquery), so the
    * executed plan is set-at-a-time — never one subquery execution per
    * outer row, which is the difference between this surface scaling and
    * not. Dialect-intersection text; deterministic via the inner total
    * order and the outer key filter. */
  private[graft] val LateralSql =
    """SELECT c.c_custkey, c.c_mktsegment, t.o_orderkey, t.o_totalprice
      |FROM customer c,
      |LATERAL (
      |  SELECT o_orderkey, o_totalprice FROM orders o
      |  WHERE o.o_custkey = c.c_custkey
      |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
      |) t
      |WHERE c.c_custkey % 100 = 0
      |ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey""".stripMargin

  val joinLateral = QueryDef("join_lateral", LateralSql) { (s, d) =>
    Tables.orders(s, d).createOrReplaceTempView("orders")
    Tables.customer(s, d).createOrReplaceTempView("customer")
    s.sql(LateralSql)
  }

  /** Shared SQL for `subquery_scalar` — an uncorrelated scalar subquery
    * threshold (orders above 1.5× the mean price — ~25% of the uniform
    * price distribution, live at every SF; 2× would select nothing since
    * max ≈ 2×mean). The subquery executes
    * ONCE and broadcasts as a literal into the fact predicate (Spark:
    * `Subquery` + `ReusedSubquery` nodes) — the set-at-a-time shape, not
    * a per-row re-evaluation. The mean is DECIMAL-exact sum ÷ count in
    * both engines (identical IEEE operands), so the comparison boundary
    * is engine-independent. */
  private[graft] val ScalarSubSql =
    """SELECT o_orderkey, o_totalprice
      |FROM orders
      |WHERE o_totalprice > 1.5 * (
      |  SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) / count(*)
      |  FROM orders)
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin

  val subqueryScalar = QueryDef("subquery_scalar", ScalarSubSql) { (s, d) =>
    Tables.orders(s, d).createOrReplaceTempView("orders")
    s.sql(ScalarSubSql)
  }

  /** CDC merge / upsert — MERGE-statement semantics over plain tables
    * (no transactional format in this distribution, so the upsert is the
    * relation itself): a deterministic changeset (every 10th customer's
    * acctbal +100, plus new rows keyed above the base range for every
    * 500th) merged into the base — updates override matched keys,
    * inserts append. The shape is anti-join + union (one shuffle on the
    * key each, both combinable), NOT a full-outer-join coalesce of every
    * column — at 100 TB the changeset is ~1% of the base and only the
    * keys travel from the base side. Emitted per-segment totals pin both
    * paths: sums see the +100s, counts see the inserts. */
  val mergeUpsert = QueryDef(
    "merge_upsert",
    """WITH updates AS (
      |  SELECT c_custkey, c_name, c_nationkey, c_acctbal + 100 AS c_acctbal,
      |         c_mktsegment
      |  FROM customer WHERE c_custkey % 10 = 0
      |), inserts AS (
      |  SELECT c_custkey + 10000000 AS c_custkey, 'NEW-' || c_name AS c_name,
      |         c_nationkey, c_acctbal, c_mktsegment
      |  FROM customer WHERE c_custkey % 500 = 0
      |), changeset AS (
      |  SELECT * FROM updates UNION ALL SELECT * FROM inserts
      |), merged AS (
      |  SELECT * FROM changeset
      |  UNION ALL
      |  SELECT * FROM customer
      |  WHERE c_custkey NOT IN (SELECT c_custkey FROM changeset)
      |)
      |SELECT c_mktsegment,
      |       CAST(count(*) AS BIGINT) AS n,
      |       CAST(count(*) FILTER (WHERE c_custkey >= 10000000) AS BIGINT) AS n_new,
      |       CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
      |FROM merged GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) {
    (s, d) =>
      val base = Tables.customer(s, d)
      // Insert keys live at base+10M; if a scale factor ever pushes real
      // custkeys to that range the anti-join would silently eat base rows
      // (both engines drifting identically — the gate would keep passing
      // while the upsert semantics changed). Guard with a bounded 1-value
      // max (footer-stats cheap, same class as sim_quantize's min/max).
      val maxKey = base.agg(max("c_custkey")).first().getLong(0)
      require(maxKey < 10000000L,
        s"merge_upsert: base c_custkey max $maxKey collides with the 10M insert-key offset")
      val updates = base.filter(col("c_custkey") % 10 === 0)
        .withColumn("c_acctbal", col("c_acctbal") + 100)
      val inserts = base.filter(col("c_custkey") % 500 === 0)
        .withColumn("c_custkey", col("c_custkey") + 10000000L)
        .withColumn("c_name", concat(lit("NEW-"), col("c_name")))
      val changeset = updates.unionByName(inserts)
      val merged = changeset.unionByName(
        base.join(changeset.select("c_custkey"), Seq("c_custkey"), "left_anti"))
      merged.groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"),
          count_if(col("c_custkey") >= 10000000L).as("n_new"),
          sum(dec(col("c_acctbal"))).cast("double").as("sum_bal"))
        .orderBy("c_mktsegment")
  }

  /** Shared SQL for `subquery_in` — the IN-subquery form of the semi
    * join: Catalyst rewrites it to a LeftSemi plan (RewritePredicate-
    * Subquery), so the parser surface and the `join_semi` DataFrame
    * surface converge on the same physical shape — this key certifies
    * the rewrite path itself. Customers with an above-threshold order,
    * per segment. */
  private[graft] val InSubSql =
    """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n
      |FROM customer
      |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  val subqueryIn = QueryDef("subquery_in", InSubSql) { (s, d) =>
    Tables.orders(s, d).createOrReplaceTempView("orders")
    Tables.customer(s, d).createOrReplaceTempView("customer")
    s.sql(InSubSql)
  }

  /** Explicit NULL ordering — a real cross-engine trap: Spark's default
    * is NULLS FIRST for ASC, DuckDB's is NULLS LAST, so any sort over a
    * nullable key silently diverges unless the direction is spelled out.
    * The key deterministically nulls a stripe (every 7th customer) and
    * emits one ascending NULLS LAST and one descending NULLS FIRST
    * ordering rank — both explicit in both engines. The ranked input is
    * BOUNDED first (c_custkey ≤ 2100 — a constant-size slice at any SF),
    * because the global rank window is single-partition by nature: the
    * scale discipline is "bound the input", the same rule as the
    * bounded-collect exceptions, not "global-window the corpus". */
  val sortNulls = QueryDef(
    "sort_nulls",
    """SELECT c_custkey,
      |       CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_nationkey END AS k,
      |       CAST(row_number() OVER (ORDER BY
      |         CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_nationkey END
      |           ASC NULLS LAST, c_custkey) AS BIGINT) AS rk_last,
      |       CAST(row_number() OVER (ORDER BY
      |         CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_nationkey END
      |           DESC NULLS FIRST, c_custkey) AS BIGINT) AS rk_first
      |FROM customer WHERE c_custkey <= 2100
      |ORDER BY c_custkey LIMIT 300""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val k = when(col("c_custkey") % 7 === 0, lit(null)).otherwise(col("c_nationkey"))
    Tables.customer(s, d)
      .filter(col("c_custkey") <= 2100)
      .select(col("c_custkey"), k.as("k"))
      .select(col("c_custkey"), col("k"),
        row_number().over(Window.orderBy(col("k").asc_nulls_last, col("c_custkey")))
          .cast("long").as("rk_last"),
        row_number().over(Window.orderBy(col("k").desc_nulls_first, col("c_custkey")))
          .cast("long").as("rk_first"))
      .orderBy("c_custkey")
      .limit(300)
  }

  /** LIMIT/OFFSET pagination over a total order — page 3 of the price
    * ranking. Spark plans the combined form as a single ordered-limit
    * (CollectLimit with offset), never a global sort + driver skip. */
  val sortOffset = QueryDef(
    "sort_offset",
    """SELECT o_orderkey, o_totalprice
      |FROM orders ORDER BY o_totalprice DESC, o_orderkey
      |LIMIT 50 OFFSET 100""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .select("o_orderkey", "o_totalprice")
      .offset(100)
      .limit(50)
  }

  /** SCD type-2 versioned merge — the history-keeping counterpart of
    * `merge_upsert` (which keeps only the latest row): every change to a
    * key APPENDS a version, and each version carries its validity
    * interval [valid_from, valid_to) with valid_to = the next version's
    * timestamp (NULL while current) — the lakehouse dimension-history
    * shape. Two deterministic change rounds are derived from the base
    * relation (the merge_upsert convention); the history is one window
    * (`lead` over version ts per key) on the unioned versions.
    *
    * Balance arithmetic stays exact: +100/+200 on the stored 2dp double
    * is the identical IEEE operation on identical operands in both
    * engines (§2.9 rule 10), and the emitted raw double never drives
    * ordering.
    *
    * Scale: the union is change-volume-sized, the window shuffles once on
    * the key, and only keys WITH history reach the output — base rows
    * that never changed are filtered in the scan stage. */
  val mergeScd2 = QueryDef(
    "merge_scd2",
    """WITH v0 AS (
      |  SELECT c_custkey, c_acctbal, CAST(0 AS BIGINT) AS ver_ts
      |  FROM customer WHERE c_custkey % 10 = 0
      |), v1 AS (
      |  SELECT c_custkey, c_acctbal + 100 AS c_acctbal, CAST(1 AS BIGINT) AS ver_ts
      |  FROM customer WHERE c_custkey % 10 = 0
      |), v2 AS (
      |  SELECT c_custkey, c_acctbal + 200 AS c_acctbal, CAST(2 AS BIGINT) AS ver_ts
      |  FROM customer WHERE c_custkey % 20 = 0
      |), hist AS (
      |  SELECT * FROM v0 UNION ALL SELECT * FROM v1 UNION ALL SELECT * FROM v2
      |)
      |SELECT c_custkey, ver_ts AS valid_from,
      |       lead(ver_ts, 1) OVER (PARTITION BY c_custkey ORDER BY ver_ts)
      |         AS valid_to,
      |       c_acctbal,
      |       lead(ver_ts, 1) OVER (PARTITION BY c_custkey ORDER BY ver_ts)
      |         IS NULL AS is_current
      |FROM hist
      |ORDER BY c_custkey, valid_from""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val base = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_acctbal"))
    val v0 = base.filter(col("c_custkey") % 10 === 0)
      .withColumn("ver_ts", lit(0L))
    val v1 = base.filter(col("c_custkey") % 10 === 0)
      .withColumn("c_acctbal", col("c_acctbal") + 100)
      .withColumn("ver_ts", lit(1L))
    val v2 = base.filter(col("c_custkey") % 20 === 0)
      .withColumn("c_acctbal", col("c_acctbal") + 200)
      .withColumn("ver_ts", lit(2L))
    val w = Window.partitionBy("c_custkey").orderBy("ver_ts")
    v0.unionByName(v1).unionByName(v2)
      .withColumn("valid_to", lead(col("ver_ts"), 1).over(w))
      .select(col("c_custkey"), col("ver_ts").as("valid_from"),
        col("valid_to"), col("c_acctbal"),
        col("valid_to").isNull.as("is_current"))
      .orderBy("c_custkey", "valid_from")
  }

  /** POINT-IN-TIME join against the SCD2 dimension history — the
    * temporal-correctness join behind every feature store and
    * leakage-free training set: each fact row must see the dimension
    * version that was valid AT ITS OWN timestamp, not today's row
    * (`merge_scd2` builds the history; this key consumes it). The
    * dimension history here is date-anchored: base balance effective
    * 1996-01-01 for every 10th customer, +100 effective 1997-01-01 for
    * the same keys, +200 effective 1998-01-01 for every 20th — so
    * pre-1996 orders genuinely precede ALL history (the null branch is
    * live at every SF) and each later order straddles a different
    * version.
    *
    * The plan is the join_asof union-tag machinery generalized to a
    * versioned dimension: version rows (tag 0) and probe rows (tag 1)
    * union into one (key, date, tag) relation, ONE shuffle on the key
    * sorts it, and `last(..., ignoreNulls)` over the running frame picks
    * each probe's governing version — no join operator at all, and no
    * interval-containment theta join (whose banding would shuffle the
    * fact twice). Equal dates sort version-first, so `valid_from` is
    * inclusive exactly as the oracle's `>=` bound; the next version row
    * supersedes automatically, which IS the `< valid_to` bound for a
    * gaplessly chained history (PropertySpec pins that chaining on
    * merge_scd2). Exact DECIMAL sums; +100/+200 on the stored 2dp double
    * is the identical IEEE op both engines compute (§2.9 rule 10).
    */
  val joinPit = QueryDef(
    "join_pit",
    """WITH keys AS (
      |  SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey % 10 = 0
      |), hist AS (
      |  SELECT c_custkey, DATE '1996-01-01' AS valid_from, c_acctbal FROM keys
      |  UNION ALL
      |  SELECT c_custkey, DATE '1997-01-01', c_acctbal + 100 FROM keys
      |  UNION ALL
      |  SELECT c_custkey, DATE '1998-01-01', c_acctbal + 200
      |  FROM keys WHERE c_custkey % 20 = 0
      |), h AS (
      |  SELECT c_custkey, valid_from, c_acctbal,
      |         lead(valid_from, 1) OVER
      |           (PARTITION BY c_custkey ORDER BY valid_from) AS valid_to
      |  FROM hist
      |), probe AS (
      |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS odate, o_totalprice
      |  FROM orders WHERE o_custkey % 10 = 0
      |)
      |SELECT coalesce(h.valid_from, DATE '1900-01-01') AS valid_from,
      |       CAST(count(*) AS BIGINT) AS n_orders,
      |       CAST(sum(CAST(h.c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal,
      |       CAST(sum(CAST(p.o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
      |FROM probe p
      |LEFT JOIN h ON p.o_custkey = h.c_custkey
      |  AND p.odate >= h.valid_from
      |  AND (h.valid_to IS NULL OR p.odate < h.valid_to)
      |GROUP BY 1
      |ORDER BY 1""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val keys = Tables.customer(s, d)
      .filter(col("c_custkey") % 10 === 0)
      .select(col("c_custkey").as("k"), col("c_acctbal"))
    val hist = keys
      .select(col("k"), lit("1996-01-01").cast("date").as("dt"),
        col("c_acctbal").as("bal"))
      .unionByName(keys.select(col("k"),
        lit("1997-01-01").cast("date").as("dt"),
        (col("c_acctbal") + 100).as("bal")))
      .unionByName(keys.filter(col("k") % 20 === 0).select(col("k"),
        lit("1998-01-01").cast("date").as("dt"),
        (col("c_acctbal") + 200).as("bal")))
      .select(col("k"), col("dt"), lit(0).as("tag"), col("bal"),
        col("dt").as("vfrom"), lit(null).cast("double").as("price"))
    val probe = Tables.orders(s, d)
      .filter(col("o_custkey") % 10 === 0)
      .select(col("o_custkey").as("k"),
        col("o_orderdate").cast("date").as("dt"), lit(1).as("tag"),
        lit(null).cast("double").as("bal"),
        lit(null).cast("date").as("vfrom"), col("o_totalprice").as("price"))
    val w = Window.partitionBy("k").orderBy("dt", "tag")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist.unionByName(probe)
      .select(col("k"), col("tag"), col("price"),
        last(col("bal"), ignoreNulls = true).over(w).as("bal_at"),
        last(col("vfrom"), ignoreNulls = true).over(w).as("valid_from"))
      .filter(col("tag") === 1)
      .withColumn("valid_from",
        coalesce(col("valid_from"), lit("1900-01-01").cast("date")))
      .groupBy("valid_from")
      .agg(count(lit(1)).as("n_orders"),
        sum(dec(col("bal_at"))).cast("double").as("sum_bal"),
        sum(dec(col("price"))).cast("double").as("sum_price"))
      .orderBy("valid_from")
  }

  /** Deterministic temp root for the DPP layout (partDir convention). */
  private def dppDir(d: String): String =
    QueryDef.tmpRoot("dpp", d)

  /** Dynamic partition pruning — the RUNTIME analog of
    * `scan_partitioned`'s static prune: the fact table is laid out
    * hive-partitioned on the join key, the dim side carries a filter the
    * planner cannot fold into a static partition predicate (`category`
    * lives only in the dim), and Catalyst's PartitionPruning rule turns
    * the broadcast join's build side into a `dynamicpruningexpression`
    * partition filter on the fact scan — at 100 TB the fact read opens
    * only the 2 of 5 directories whose keys survive the dim filter,
    * decided at run time, for free off the already-built broadcast
    * (reuseBroadcastOnly). SourcesSpec pins the dynamic filter on the
    * scan and the runtime partition count.
    *
    * The oracle joins the same dim relation (distinct event types +
    * derived category) against the ORIGINAL table — the partitioned
    * layout is physical only, so the relation is identical. */
  val joinDpp = QueryDef(
    "join_dpp",
    """WITH dim AS (
      |  SELECT DISTINCT event_type,
      |         CASE WHEN event_type IN ('click', 'view') THEN 'engagement'
      |              ELSE 'conversion' END AS category
      |  FROM events
      |)
      |SELECT e.event_type, CAST(count(*) AS BIGINT) AS n,
      |       CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users,
      |       CAST(sum(CAST(e.value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM events e JOIN dim ON e.event_type = dim.event_type
      |WHERE dim.category = 'engagement'
      |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin) { (s, d) =>
    joinDppPlan(s, d)
  }

  /** The declared plan for `join_dpp`, exposed so SourcesSpec can pin the
    * dynamic pruning on exactly what the driver runs. */
  def joinDppPlan(s: SparkSession, d: String): DataFrame = {
    val root = dppDir(d)
    Tables.events(s, d)
      .select("event_id", "user_id", "event_type", "value")
      .repartition(col("event_type"))
      .write.mode("overwrite")
      .partitionBy("event_type")
      .parquet(root + "/events")
    Tables.events(s, d).select("event_type").distinct()
      .withColumn("category",
        when(col("event_type").isin("click", "view"), "engagement")
          .otherwise("conversion"))
      .write.mode("overwrite").parquet(root + "/dim")
    val fact = s.read.parquet(root + "/events")
    val dim = s.read.parquet(root + "/dim")
      .filter(col("category") === "engagement")
    fact.join(broadcast(dim), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        sum(dec(col("value"))).cast("double").as("sum_value"))
      .orderBy("event_type")
  }

  /** Shared SQL for `subquery_exists` — correlated EXISTS / NOT EXISTS,
    * the predicate-subquery forms `subquery_in` does not reach: the
    * EXISTS branch correlates on a NON-equi comparison against the outer
    * row's own column (an order bigger than 40× the customer's balance),
    * which no IN-list can express. Catalyst's RewritePredicateSubquery
    * decorrelates both branches into one LeftSemi and one LeftAnti join —
    * never a per-outer-row subplan — so the pair costs two joins at any
    * scale (PlanSpec pins the join types). `c_acctbal * 40` is the
    * identical IEEE double op on the identical stored operand in both
    * engines (§2.9 rule 10). */
  private[graft] val ExistsSql =
    """SELECT c_custkey, c_mktsegment, c_acctbal
      |FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey
      |                AND o.o_totalprice > c.c_acctbal * 40)
      |  AND NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey
      |                    AND o.o_orderstatus = 'P')
      |ORDER BY c_custkey""".stripMargin

  val subqueryExists = QueryDef("subquery_exists", ExistsSql) { (s, d) =>
    Tables.orders(s, d).createOrReplaceTempView("orders")
    Tables.customer(s, d).createOrReplaceTempView("customer")
    s.sql(ExistsSql)
  }

  /** ANALYZE-style table statistics — the catalog-stats job behind every
    * cost-based optimizer (and the third maintenance kernel, alongside
    * compact = layout and zonemap = skipping): per column of `orders`,
    * the non-null count, exact NDV, and min/max, emitted as one
    * (col_name, …) row each. ONE full-table pass computes every
    * column's counters simultaneously (the classic ANALYZE shape — never
    * a pass per column); the single aggregate row then unpivots via
    * `stack` (driver-free, constant-width). Multiple COUNT(DISTINCT)s
    * plan through Catalyst's Expand (input ×n_cols before the partial
    * agg) — the exact-NDV cost every engine pays; at 100 TB the swap is
    * approx_count_distinct per column in the SAME single pass (the
    * `agg_approx_distinct` key gates that sketch's error bound).
    * Min/max cross the engine boundary as strings per §2.9: BIGINT and
    * DATE render identically in both engines; the DOUBLE price column is
    * carried as exact integer CENTS (round ×100 → BIGINT) — a raw
    * double's shortest-round-trip string is writer-defined and never
    * crosses the boundary.
    */
  val maintenanceAnalyze = QueryDef(
    "maintenance_analyze",
    """WITH a AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |    CAST(count(o_orderkey) AS BIGINT) AS nn1,
      |    CAST(count(DISTINCT o_orderkey) AS BIGINT) AS ndv1,
      |    CAST(min(o_orderkey) AS VARCHAR) AS mn1,
      |    CAST(max(o_orderkey) AS VARCHAR) AS mx1,
      |    CAST(count(o_custkey) AS BIGINT) AS nn2,
      |    CAST(count(DISTINCT o_custkey) AS BIGINT) AS ndv2,
      |    CAST(min(o_custkey) AS VARCHAR) AS mn2,
      |    CAST(max(o_custkey) AS VARCHAR) AS mx2,
      |    CAST(count(o_orderstatus) AS BIGINT) AS nn3,
      |    CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS ndv3,
      |    CAST(min(o_orderstatus) AS VARCHAR) AS mn3,
      |    CAST(max(o_orderstatus) AS VARCHAR) AS mx3,
      |    CAST(count(o_orderdate) AS BIGINT) AS nn4,
      |    CAST(count(DISTINCT CAST(o_orderdate AS DATE)) AS BIGINT) AS ndv4,
      |    CAST(min(CAST(o_orderdate AS DATE)) AS VARCHAR) AS mn4,
      |    CAST(max(CAST(o_orderdate AS DATE)) AS VARCHAR) AS mx4,
      |    CAST(count(o_totalprice) AS BIGINT) AS nn5,
      |    CAST(count(DISTINCT CAST(round(o_totalprice * 100) AS BIGINT))
      |      AS BIGINT) AS ndv5,
      |    CAST(min(CAST(round(o_totalprice * 100) AS BIGINT)) AS VARCHAR)
      |      AS mn5,
      |    CAST(max(CAST(round(o_totalprice * 100) AS BIGINT)) AS VARCHAR)
      |      AS mx5
      |  FROM orders
      |)
      |SELECT 'o_orderkey' AS col_name, n_rows, nn1 AS n_nonnull,
      |       ndv1 AS ndv, mn1 AS min_val, mx1 AS max_val FROM a
      |UNION ALL
      |SELECT 'o_custkey', n_rows, nn2, ndv2, mn2, mx2 FROM a
      |UNION ALL
      |SELECT 'o_orderstatus', n_rows, nn3, ndv3, mn3, mx3 FROM a
      |UNION ALL
      |SELECT 'o_orderdate', n_rows, nn4, ndv4, mn4, mx4 FROM a
      |UNION ALL
      |SELECT 'o_totalprice_cents', n_rows, nn5, ndv5, mn5, mx5 FROM a
      |ORDER BY col_name""".stripMargin) { (s, d) =>
    val o = Tables.orders(s, d)
      .withColumn("odate", col("o_orderdate").cast("date"))
      .withColumn("cents",
        expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
    // min/max of the STRING column ride in a separate no-grouping pass
    // cross-joined onto the stats row (1 row × 1 row): a string min/max
    // buffer is immutable and would force the whole Expand-based
    // multi-distinct aggregate into SortAggregate — a full sort of the
    // corpus×6 expanded rows (round-15 measurement; the Quality.profile
    // fix applied to the same plan shape). All remaining buffers are
    // mutable longs/dates, so the NDV pass stays a HashAggregate.
    o.agg(
        count(lit(1)).as("n_rows"),
        count(col("o_orderkey")).as("nn1"),
        countDistinct(col("o_orderkey")).as("ndv1"),
        min(col("o_orderkey")).cast("string").as("mn1"),
        max(col("o_orderkey")).cast("string").as("mx1"),
        count(col("o_custkey")).as("nn2"),
        countDistinct(col("o_custkey")).as("ndv2"),
        min(col("o_custkey")).cast("string").as("mn2"),
        max(col("o_custkey")).cast("string").as("mx2"),
        count(col("o_orderstatus")).as("nn3"),
        countDistinct(col("o_orderstatus")).as("ndv3"),
        count(col("odate")).as("nn4"),
        countDistinct(col("odate")).as("ndv4"),
        min(col("odate")).cast("string").as("mn4"),
        max(col("odate")).cast("string").as("mx4"),
        count(col("cents")).as("nn5"),
        countDistinct(col("cents")).as("ndv5"),
        min(col("cents")).cast("string").as("mn5"),
        max(col("cents")).cast("string").as("mx5"))
      .crossJoin(broadcast(o.agg(
        min(col("o_orderstatus")).cast("string").as("mn3"),
        max(col("o_orderstatus")).cast("string").as("mx3"))))
      .selectExpr(
        """stack(5,
          |  'o_orderkey', n_rows, nn1, ndv1, mn1, mx1,
          |  'o_custkey', n_rows, nn2, ndv2, mn2, mx2,
          |  'o_orderstatus', n_rows, nn3, ndv3, mn3, mx3,
          |  'o_orderdate', n_rows, nn4, ndv4, mn4, mx4,
          |  'o_totalprice_cents', n_rows, nn5, ndv5, mn5, mx5
          |) AS (col_name, n_rows, n_nonnull, ndv, min_val, max_val)"""
          .stripMargin)
      .orderBy("col_name")
  }

  /** Zone-map construction + pruning audit — the data-skipping statistics
    * job behind every lakehouse OPTIMIZE/ANALYZE: for a date-clustered
    * layout (zone = 90-day l_shipdate range — the per-file min/max proxy;
    * real deployments key zones by file, which no cross-engine oracle can
    * name), one combinable pass collects per-zone row counts and min/max
    * of the cluster and a secondary column, then a representative
    * predicate (Q3 1996) is evaluated AGAINST THE STATS ALONE: `skippable`
    * marks zones whose [min, max] is disjoint from the predicate range —
    * the zones a stats-aware scan never opens. Zone count is
    * calendar-bounded (~28 for the 7-year table) at ANY corpus size; the
    * single shuffle carries 6 counters per zone. Day arithmetic is exact
    * integer (`div` trunc ≡ `//` floor on the non-negative post-1970
    * epoch days).
    */
  val maintenanceZonemap = QueryDef(
    "maintenance_zonemap",
    """WITH z AS (
      |  SELECT (CAST(l_shipdate AS DATE) - DATE '1970-01-01') // 90 AS zone,
      |         CAST(l_shipdate AS DATE) AS ship, l_orderkey
      |  FROM lineitem
      |), zm AS (
      |  SELECT zone, CAST(count(*) AS BIGINT) AS n_rows,
      |         min(ship) AS min_ship, max(ship) AS max_ship,
      |         CAST(min(l_orderkey) AS BIGINT) AS min_okey,
      |         CAST(max(l_orderkey) AS BIGINT) AS max_okey
      |  FROM z GROUP BY zone
      |)
      |SELECT zone, n_rows, min_ship, max_ship, min_okey, max_okey,
      |       (max_ship < DATE '1996-07-01' OR min_ship > DATE '1996-09-30')
      |         AS skippable
      |FROM zm ORDER BY zone""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .select(expr("datediff(CAST(l_shipdate AS DATE), DATE '1970-01-01') div 90")
          .as("zone"),
        col("l_shipdate").cast("date").as("ship"), col("l_orderkey"))
      .groupBy("zone")
      .agg(count(lit(1)).as("n_rows"),
        min(col("ship")).as("min_ship"), max(col("ship")).as("max_ship"),
        min(col("l_orderkey")).as("min_okey"),
        max(col("l_orderkey")).as("max_okey"))
      .withColumn("skippable",
        col("max_ship") < lit("1996-07-01").cast("date") ||
          col("min_ship") > lit("1996-09-30").cast("date"))
      .orderBy("zone")
  }

  /** Z-ORDER clustering — the multi-dimensional layout job behind
    * OPTIMIZE ZORDER BY: `maintenance_zonemap` shows a date-sorted table
    * skips on dates but NOT on orderkeys; interleaving the bits of both
    * dimensions makes zones rectangular in (orderkey, shipdate) space so
    * range predicates on EITHER column skip zones. Pipeline: one min/max
    * aggregate per dimension (parquet-footer cheap, broadcast as a 1-row
    * cross join — the sim_quantize pattern), each dim gridded to 8 bits
    * by exact integer floor division, the two grids bit-interleaved to a
    * 16-bit Morton z-value (three shift-or-mask spread rounds — pure
    * integer, identical in both engines), rows assigned to 32 equi-width
    * z-range zones by another floor division (per-row arithmetic — no
    * global sort, no single-partition ntile window; at 100 TB the write
    * is `repartitionByRange(zval)` with exactly this zone arithmetic as
    * the range key). Output: per-zone row counts, grid min/max per dim,
    * and skippability of the SAME middle-quarter range predicate on each
    * dim — the gate certifies both dims skip, which is the entire point
    * of z-ordering. */
  val maintenanceZorder = QueryDef(
    "maintenance_zorder",
    """WITH li AS (
      |  SELECT l_orderkey AS ok,
      |         (CAST(l_shipdate AS DATE) - DATE '1970-01-01') AS day
      |  FROM lineitem
      |), b AS (
      |  SELECT min(ok) AS okmin, max(ok) AS okmax,
      |         min(day) AS dmin, max(day) AS dmax
      |  FROM li
      |), g AS (
      |  SELECT ((ok - okmin) * 255) // (okmax - okmin) AS gx,
      |         ((day - dmin) * 255) // (dmax - dmin) AS gd
      |  FROM li, b
      |), s1 AS (
      |  SELECT gx, gd, (gx | (gx << 4)) & 3855 AS x1,
      |                 (gd | (gd << 4)) & 3855 AS d1 FROM g
      |), s2 AS (
      |  SELECT gx, gd, (x1 | (x1 << 2)) & 13107 AS x2,
      |                 (d1 | (d1 << 2)) & 13107 AS d2 FROM s1
      |), s3 AS (
      |  SELECT gx, gd, ((x2 | (x2 << 1)) & 21845)
      |               | (((d2 | (d2 << 1)) & 21845) << 1) AS zval FROM s2
      |), zm AS (
      |  SELECT zval // 2048 AS zone,
      |         CAST(count(*) AS BIGINT) AS n_rows,
      |         min(gx) AS min_gx, max(gx) AS max_gx,
      |         min(gd) AS min_gd, max(gd) AS max_gd
      |  FROM s3 GROUP BY zone
      |)
      |SELECT zone, n_rows, min_gx, max_gx, min_gd, max_gd,
      |       (max_gx < 96 OR min_gx > 159) AS skip_ok,
      |       (max_gd < 96 OR min_gd > 159) AS skip_date
      |FROM zm ORDER BY zone""".stripMargin) { (s, d) =>
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("ok"),
        expr("datediff(CAST(l_shipdate AS DATE), DATE '1970-01-01')")
          .cast("long").as("day"))
    val b = li.agg(min("ok").as("okmin"), max("ok").as("okmax"),
      min("day").as("dmin"), max("day").as("dmax"))
    def spread(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      val a = (c.bitwiseOR(shiftleft(c, 4))).bitwiseAND(lit(3855L))
      val b2 = (a.bitwiseOR(shiftleft(a, 2))).bitwiseAND(lit(13107L))
      (b2.bitwiseOR(shiftleft(b2, 1))).bitwiseAND(lit(21845L))
    }
    val g = li.crossJoin(broadcast(b))
      .select(
        // integer floor division on non-negative operands (§2.9): `div`,
        // never double `/` + cast (trunc of an inexact double quotient
        // can land one below the exact floor)
        expr("((ok - okmin) * 255) div (okmax - okmin)").as("gx"),
        expr("((day - dmin) * 255) div (dmax - dmin)").as("gd"))
      .withColumn("zval", spread(col("gx"))
        .bitwiseOR(shiftleft(spread(col("gd")), 1)))
    g.groupBy(expr("zval div 2048").as("zone"))
      .agg(count(lit(1)).as("n_rows"),
        min("gx").as("min_gx"), max("gx").as("max_gx"),
        min("gd").as("min_gd"), max("gd").as("max_gd"))
      .withColumn("skip_ok", col("max_gx") < 96 || col("min_gx") > 159)
      .withColumn("skip_date", col("max_gd") < 96 || col("min_gd") > 159)
      .orderBy("zone")
  }

  /** CDC changelog APPLY — the third merge form (`merge_upsert` = one
    * batched changeset, latest state only; `merge_scd2` = full history;
    * this = an ORDERED insert/update/delete log squashed then applied):
    * the Debezium/lakehouse-ingest shape. The changelog is derived from
    * the event log — each purchase is an upsert of that user's balance
    * (cents of the event value), each error a delete — and ops are
    * sequenced by `event_id`, so a key that is upserted then deleted
    * ends deleted, and vice versa.
    *
    * Two phases, both single-shuffle: (1) LATEST-WINS SQUASH — one
    * combinable `max_by(struct(op, value), event_id)` groupBy collapses
    * the log to one op per key (at 100 TB this is the per-microbatch
    * reduction; `max_by` merges associatively so any partial tree is
    * correct — multi-batch squash is max_by over batch winners);
    * (2) MERGE — one full-outer key join against the snapshot: no op →
    * kept, latest delete → row dropped (present or not), latest upsert →
    * updated when matched / inserted when not. Only the squashed log
    * (key-count-bounded, ~changelog keys) meets the snapshot; with the
    * snapshot bucketed on the key only the squashed side shuffles.
    *
    * Output pins every path: per-status row counts and exact-cents
    * balance sums (2-dp doubles → `round(*100)` BIGINT on both engines —
    * the event_rfm rounding discipline; deletes are visible in the
    * kept/updated counts). Every 7th-residue user keys above the base
    * range (the merge_upsert insert-offset convention, same 10M guard),
    * so insert-new-key AND delete-absent-key ops are live at every SF. */
  val mergeCdc = QueryDef(
    "merge_cdc",
    """WITH cdc AS (
      |  SELECT user_id + CASE WHEN user_id % 7 = 3 THEN 10000000 ELSE 0 END
      |           AS k,
      |         arg_max(event_type, event_id) AS op,
      |         arg_max(value, event_id) AS v
      |  FROM events WHERE event_type IN ('purchase', 'error')
      |  GROUP BY k
      |), snap AS (
      |  SELECT c_custkey AS k,
      |         CAST(round(c_acctbal * 100, 0) AS BIGINT) AS bal_cents
      |  FROM customer
      |), merged AS (
      |  SELECT CASE WHEN c.op IS NULL THEN 'kept'
      |              WHEN c.op = 'error' THEN 'deleted'
      |              WHEN s.k IS NULL THEN 'inserted'
      |              ELSE 'updated' END AS status,
      |         CASE WHEN c.op = 'purchase'
      |              THEN CAST(round(c.v * 100, 0) AS BIGINT)
      |              ELSE s.bal_cents END AS bal_cents
      |  FROM snap s FULL JOIN cdc c ON s.k = c.k
      |)
      |SELECT status, CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(bal_cents) AS BIGINT) AS sum_bal_cents
      |FROM merged WHERE status <> 'deleted'
      |GROUP BY status ORDER BY status""".stripMargin) { (s, d) =>
    val log = Tables.events(s, d)
      .filter(col("event_type").isin("purchase", "error"))
    val squashed = log.groupBy(
        (col("user_id") + when(col("user_id") % 7 === 3, 10000000L)
          .otherwise(0L)).as("k"))
      .agg(max_by(struct(col("event_type").as("op"), col("value").as("v")),
        col("event_id")).as("last"))
      .select(col("k"), col("last.op").as("op"), col("last.v").as("v"))
    val base = Tables.customer(s, d)
    val maxKey = base.agg(max("c_custkey")).first().getLong(0)
    require(maxKey < 10000000L,
      s"merge_cdc: base c_custkey max $maxKey collides with the 10M insert-key offset")
    val snap = base
      .select(col("c_custkey").as("k"),
        round(col("c_acctbal") * 100, 0).cast("long").as("bal_cents"))
    snap.join(squashed, Seq("k"), "full")
      .select(
        when(col("op").isNull, lit("kept"))
          .when(col("op") === "error", lit("deleted"))
          .when(col("bal_cents").isNull, lit("inserted"))
          .otherwise(lit("updated")).as("status"),
        when(col("op") === "purchase",
          round(col("v") * 100, 0).cast("long"))
          .otherwise(col("bal_cents")).as("bal"))
      .filter(col("status") =!= "deleted")
      .groupBy("status")
      .agg(count(lit(1)).as("n"), sum(col("bal")).as("sum_bal_cents"))
      .orderBy("status")
  }

  /** The combinable daily partial behind `maintenance_incremental_agg`:
    * per (epoch-day, event_type), row count and exact-DECIMAL value sum —
    * both MERGEABLE partials (sum of counts, sum of decimal sums), which
    * is what makes the incremental refresh exact. */
  private def dailyPartial(ev: DataFrame): DataFrame =
    ev.select(expr("unix_micros(cast(ts as timestamp)) div 86400000000")
        .as("day"),
      col("event_type"), dec(col("value")).as("dv"))
      .groupBy("day", "event_type")
      .agg(count(lit(1)).as("n"), sum(col("dv")).as("sdv"))

  /** Incremental AGGREGATE maintenance — the materialized-view refresh
    * every reporting pipeline runs when a new batch of events lands:
    * the historical daily rollup is a LANDED file (built once per
    * session per dataset — at 100 TB it already exists), the refresh
    * aggregates ONLY the increment (one combinable groupBy over the new
    * slice) and merges it with the landed partials by re-aggregating
    * the union on the group key — exact because both measures are
    * mergeable partials (counts add; exact-DECIMAL sums add). The
    * cutoff is MID-DAY (12:00) on purpose: the boundary day has partial
    * rows in BOTH the base and the increment, so the merge arithmetic
    * is provably live, not a disjoint concatenation. The oracle is the
    * full recompute — the hash certifies refresh == rebuild. Work at
    * refresh time scales with the increment, never the history (the
    * dedup_incremental discipline applied to aggregation). */
  val maintenanceIncrementalAgg = QueryDef(
    "maintenance_incremental_agg",
    """WITH e AS (
      |  SELECT epoch_us(ts) // 86400000000 AS day, event_type,
      |         CAST(value AS DECIMAL(18,4)) AS dv
      |  FROM events
      |)
      |SELECT day, event_type, CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(dv) AS DOUBLE) AS sum_value
      |FROM e GROUP BY day, event_type
      |ORDER BY day, event_type""".stripMargin) { (s, d) =>
    val cut = lit("2024-01-25 12:00:00").cast("timestamp_ntz")
    val base = Landed.once(s, d, "scale.mv_daily")(
      dailyPartial(Tables.events(s, d).filter(col("ts") < cut)))
    val inc = dailyPartial(Tables.events(s, d).filter(col("ts") >= cut))
    base.unionByName(inc)
      .groupBy("day", "event_type")
      .agg(sum(col("n")).as("n"), sum(col("sdv")).as("sdv"))
      .select(col("day"), col("event_type"), col("n"),
        col("sdv").cast("double").as("sum_value"))
      .orderBy("day", "event_type")
  }

  /** CLUSTERING-DEPTH metric — the layout-quality number OPTIMIZE
    * reports and the diagnostic that MOTIVATES `maintenance_zorder`:
    * for each zone (the zonemap's 90-day file stand-ins), how many
    * zones' [min, max] intervals on a column overlap it — i.e. how many
    * files a point query on that column must read. A perfectly
    * clustered column has depth 1 (every zone overlaps only itself); an
    * unclustered one approaches the zone count. The relation gates both
    * dimensions of the same layout side by side: ship (the sort key —
    * avg depth ≈ 1×) vs orderkey (unclustered — depth ≈ n_zones), the
    * quantified version of zonemap's "skips on dates but NOT on
    * orderkeys". Scale shape: per-zone min/max is ONE combinable
    * aggregate over the fact; the overlap join runs on the ZONE
    * relation — file-count-sized METADATA, exactly what a table format
    * stores in its manifest — never on rows. */
  val maintenanceClusteringDepth = QueryDef(
    "maintenance_clustering_depth",
    """WITH z AS (
      |  SELECT (CAST(l_shipdate AS DATE) - DATE '1970-01-01') // 90 AS zone,
      |         (CAST(l_shipdate AS DATE) - DATE '1970-01-01') AS day, l_orderkey
      |  FROM lineitem
      |), zm AS (
      |  SELECT zone,
      |         CAST(min(day) AS BIGINT) AS lo_s, CAST(max(day) AS BIGINT) AS hi_s,
      |         CAST(min(l_orderkey) AS BIGINT) AS lo_k, CAST(max(l_orderkey) AS BIGINT) AS hi_k
      |  FROM z GROUP BY zone
      |), dims AS (
      |  SELECT 'ship' AS dim, zone, lo_s AS lo, hi_s AS hi FROM zm
      |  UNION ALL
      |  SELECT 'okey', zone, lo_k, hi_k FROM zm
      |), ov AS (
      |  SELECT a.dim, a.zone, CAST(count(*) AS BIGINT) AS depth
      |  FROM dims a JOIN dims b
      |    ON a.dim = b.dim AND a.lo <= b.hi AND b.lo <= a.hi
      |  GROUP BY a.dim, a.zone
      |)
      |SELECT dim, CAST(count(*) AS BIGINT) AS n_zones,
      |       CAST((100 * sum(depth)) // count(*) AS BIGINT) AS avg_depth_x100,
      |       max(depth) AS max_depth
      |FROM ov GROUP BY dim ORDER BY dim""".stripMargin) { (s, d) =>
    val zm = Tables.lineitem(s, d)
      .select(expr("datediff(CAST(l_shipdate AS DATE), DATE '1970-01-01')").as("day"),
        col("l_orderkey"))
      .withColumn("zone", expr("day div 90"))
      .groupBy("zone")
      .agg(min(col("day")).cast("long").as("lo_s"), max(col("day")).cast("long").as("hi_s"),
        min(col("l_orderkey")).cast("long").as("lo_k"),
        max(col("l_orderkey")).cast("long").as("hi_k"))
    val dims = zm.select(lit("ship").as("dim"), col("zone"), col("lo_s").as("lo"), col("hi_s").as("hi"))
      .unionByName(zm.select(lit("okey").as("dim"), col("zone"), col("lo_k").as("lo"), col("hi_k").as("hi")))
    val ov = dims.as("a").join(dims.as("b"),
        col("a.dim") === col("b.dim") && col("a.lo") <= col("b.hi") && col("b.lo") <= col("a.hi"))
      .groupBy(col("a.dim").as("dim"), col("a.zone").as("zone"))
      .agg(count(lit(1)).as("depth"))
    ov.groupBy("dim")
      .agg(count(lit(1)).as("n_zones"),
        expr("(100 * sum(depth)) div count(*)").as("avg_depth_x100"),
        max(col("depth")).as("max_depth"))
      .orderBy("dim")
  }

  val all: Seq[QueryDef] = Seq(
    scanPartitioned, joinSalted, sqlFrontend,
    windowNtile, aggFiltered, aggApproxPercentile,
    joinLateral, subqueryScalar, mergeUpsert,
    subqueryIn, sortNulls, sortOffset, mergeScd2,
    joinDpp, subqueryExists, maintenanceZonemap, joinPit,
    maintenanceAnalyze, mergeCdc, maintenanceZorder, windowSkewTopk,
    maintenanceIncrementalAgg, maintenanceClusteringDepth)
}
