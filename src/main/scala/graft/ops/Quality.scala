package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Data-quality expectation checking — the validation pass every
  * production pipeline (and every LLM-data curation run) executes before
  * a table is allowed downstream: declarative constraints (primary-key
  * uniqueness, referential integrity, value ranges, domain membership)
  * evaluated in bulk, reported as one (check, n_checked, n_violations,
  * pass) relation. The public shape is the Deequ / dbt-test /
  * Great-Expectations contract: constraints compile to aggregates, never
  * row-by-row assertions.
  *
  * Scale shape: every check is either ONE combinable aggregate over its
  * table (range/domain: a conditional sum riding a single scan;
  * uniqueness: count minus count-distinct, Catalyst's two-phase
  * distinct) or ONE key join + aggregate (referential integrity: LEFT
  * join, null-partner conditional sum — at 100 TB the dim side
  * broadcasts or bucket-joins and only keys travel). The six checks are
  * independent single-pass jobs unioned into the report — embarrassingly
  * parallel across tables, no cross-check dependency.
  *
  * Violation liveness (the fn_try / merge_cdc discipline): two checks
  * take deterministic row-derived dirt so the FAIL branch is live at
  * every SF (every 400th order key shifted onto its neighbor → duplicate
  * PKs; every 97th event's user offset past the customer range → FK
  * orphans), two fire on the natural data (acctbal outside [-900, 9900],
  * discount above the 0.08 cap), and two hold on the clean data
  * (lineitem→orders integrity, the 5-segment domain) so the PASS branch
  * is live too. All counters exact BIGINTs; double comparisons are on
  * stored values with shared literals — no arithmetic crosses engines.
  */
object Quality {

  private val Segments =
    Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  val qualityExpectations = QueryDef(
    "quality_expectations",
    s"""WITH u AS (
       |  SELECT 'customer_acctbal_range' AS check_name,
       |         CAST(count(*) AS BIGINT) AS n_checked,
       |         CAST(sum(CASE WHEN c_acctbal < -900 OR c_acctbal > 9900
       |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
       |  FROM customer
       |  UNION ALL
       |  SELECT 'customer_mktsegment_domain',
       |         CAST(count(*) AS BIGINT),
       |         CAST(sum(CASE WHEN c_mktsegment NOT IN
       |                       (${Segments.map("'" + _ + "'").mkString(", ")})
       |                       THEN 1 ELSE 0 END) AS BIGINT)
       |  FROM customer
       |  UNION ALL
       |  SELECT 'events_fk_customer', CAST(count(*) AS BIGINT),
       |         CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |  FROM (SELECT CASE WHEN event_id % 97 = 0 THEN user_id + 10000000
       |                    ELSE user_id END AS u FROM events) e
       |  LEFT JOIN customer c ON e.u = c.c_custkey
       |  UNION ALL
       |  SELECT 'lineitem_discount_cap', CAST(count(*) AS BIGINT),
       |         CAST(sum(CASE WHEN l_discount > 0.08 THEN 1 ELSE 0 END) AS BIGINT)
       |  FROM lineitem
       |  UNION ALL
       |  SELECT 'lineitem_fk_orders', CAST(count(*) AS BIGINT),
       |         CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |  FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  UNION ALL
       |  SELECT 'orders_pk_unique', CAST(count(*) AS BIGINT),
       |         CAST(count(*) - count(DISTINCT k) AS BIGINT)
       |  FROM (SELECT CASE WHEN o_orderkey % 400 = 0 THEN o_orderkey + 1
       |                    ELSE o_orderkey END AS k FROM orders)
       |)
       |SELECT check_name, n_checked, n_violations, n_violations = 0 AS pass
       |FROM u ORDER BY check_name""".stripMargin) { (s, d) =>
    val cust = Tables.customer(s, d)
    val li = Tables.lineitem(s, d)
    val acctbal = cust
      .agg(count(lit(1)).as("n_checked"),
        sum(when(col("c_acctbal") < -900 || col("c_acctbal") > 9900, 1L)
          .otherwise(0L)).as("n_violations"))
      .select(lit("customer_acctbal_range").as("check_name"),
        col("n_checked"), col("n_violations"))
    val domain = cust
      .agg(count(lit(1)).as("n_checked"),
        sum(when(!col("c_mktsegment").isin(Segments: _*), 1L).otherwise(0L))
          .as("n_violations"))
      .select(lit("customer_mktsegment_domain").as("check_name"),
        col("n_checked"), col("n_violations"))
    val evFk = Tables.events(s, d)
      .select(when(col("event_id") % 97 === 0, col("user_id") + 10000000L)
        .otherwise(col("user_id")).as("u"))
      .join(cust.select(col("c_custkey")), col("u") === col("c_custkey"), "left")
      .agg(count(lit(1)).as("n_checked"),
        sum(when(col("c_custkey").isNull, 1L).otherwise(0L)).as("n_violations"))
      .select(lit("events_fk_customer").as("check_name"),
        col("n_checked"), col("n_violations"))
    val discount = li
      .agg(count(lit(1)).as("n_checked"),
        sum(when(col("l_discount") > 0.08, 1L).otherwise(0L)).as("n_violations"))
      .select(lit("lineitem_discount_cap").as("check_name"),
        col("n_checked"), col("n_violations"))
    val liFk = li.select(col("l_orderkey"))
      .join(Tables.orders(s, d).select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left")
      .agg(count(lit(1)).as("n_checked"),
        sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("n_violations"))
      .select(lit("lineitem_fk_orders").as("check_name"),
        col("n_checked"), col("n_violations"))
    val pk = Tables.orders(s, d)
      .select(when(col("o_orderkey") % 400 === 0, col("o_orderkey") + 1)
        .otherwise(col("o_orderkey")).as("k"))
      .agg(count(lit(1)).as("n_checked"),
        (count(lit(1)) - countDistinct(col("k"))).as("n_violations"))
      .select(lit("orders_pk_unique").as("check_name"),
        col("n_checked"), col("n_violations"))
    Seq(acctbal, domain, evFk, discount, liFk, pk)
      .reduce(_ unionByName _)
      .withColumn("pass", col("n_violations") === 0)
      .orderBy("check_name")
  }

  /** Distribution-drift report between two time windows — the monitoring
    * pass a production pipeline runs to catch upstream shifts before they
    * poison training data (the PSI / KS-test family, reduced to its
    * engine-exact core): the event `value` measure binned into 10 fixed
    * buckets, per-bucket counts for the early vs late half of the
    * observation window, each half's bucket share in exact integer PPM,
    * and the absolute share shift. The PSI's ln() term is deliberately
    * NOT computed — libm ln differs across engines so it can never be
    * hash-gated; the per-bucket share deltas are the auditable inputs a
    * monitor thresholds anyway (Σ|Δ|/2 is total-variation distance, a
    * bounded drift statistic in its own right, recoverable from this
    * relation by one sum).
    *
    * Scale shape: ONE combinable groupBy over the corpus (both windows'
    * counts as conditional sums in the same pass — never two scans); the
    * share/window arithmetic runs on the 10-row bucket relation (the
    * sort_nulls bounded-single-partition convention). Binning divides by
    * the same double literal on both engines (identical operands,
    * identical op ⇒ identical bin), floor to BIGINT. */
  val qualityDrift = QueryDef(
    "quality_drift",
    """WITH b AS (
      |  SELECT least(CAST(floor(value / 33.0) AS BIGINT), 9) AS bin,
      |         CASE WHEN ts < TIMESTAMP '2024-01-15' THEN 1 ELSE 0 END AS early
      |  FROM events
      |), c AS (
      |  SELECT bin,
      |         CAST(sum(early) AS BIGINT) AS a_cnt,
      |         CAST(sum(1 - early) AS BIGINT) AS b_cnt
      |  FROM b GROUP BY bin
      |), t AS (
      |  SELECT bin, a_cnt, b_cnt,
      |         CAST(sum(a_cnt) OVER () AS BIGINT) AS a_tot,
      |         CAST(sum(b_cnt) OVER () AS BIGINT) AS b_tot
      |  FROM c
      |)
      |SELECT bin, a_cnt, b_cnt,
      |       (a_cnt * 1000000) // a_tot AS a_ppm,
      |       (b_cnt * 1000000) // b_tot AS b_ppm,
      |       abs((a_cnt * 1000000) // a_tot - (b_cnt * 1000000) // b_tot)
      |         AS shift_ppm
      |FROM t ORDER BY bin""".stripMargin) { (s, d) =>
    val early = when(col("ts") < lit("2024-01-15").cast("timestamp_ntz"), 1L)
      .otherwise(0L)
    val c = Tables.events(s, d)
      .select(least(floor(col("value") / lit(33.0)).cast("long"), lit(9L)).as("bin"),
        early.as("early"))
      .groupBy("bin")
      .agg(sum(col("early")).as("a_cnt"),
        sum(lit(1L) - col("early")).as("b_cnt"))
    val tot = org.apache.spark.sql.expressions.Window.partitionBy()
    c.select(col("bin"), col("a_cnt"), col("b_cnt"),
        sum(col("a_cnt")).over(tot).as("a_tot"),
        sum(col("b_cnt")).over(tot).as("b_tot"))
      .select(col("bin"), col("a_cnt"), col("b_cnt"),
        expr("(a_cnt * 1000000) div a_tot").as("a_ppm"),
        expr("(b_cnt * 1000000) div b_tot").as("b_ppm"),
        abs(expr("(a_cnt * 1000000) div a_tot") -
          expr("(b_cnt * 1000000) div b_tot")).as("shift_ppm"))
      .orderBy("bin")
  }

  /** IQR OUTLIER fence report per customer segment — the Tukey-fence
    * robust-outlier pass a data-quality monitor runs beside the
    * expectation checks (`quality_expectations` tests declared
    * constraints; THIS finds the undeclared tails). Everything is
    * EXACT INTEGER: acctbal lifts to cents once (round of the same
    * double product — identical both engines), quartiles are the
    * TYPE-1 (lower-value, no interpolation) order statistics at rank
    * ⌊(n−1)/4⌋+1 and ⌊3(n−1)/4⌋+1 — the value AT a rank is multiset-
    * determined, so row_number tie order cannot matter — and the
    * 1.5·IQR fences compare cross-multiplied by 2 (2c < 2q1 − 3·IQR)
    * so no fractional fence ever forms (the q22/q17 discipline applied
    * to a robust statistic; interpolated quantiles inside a PREDICATE
    * would be a 1-ulp hash hazard — rank statistics are not).
    *
    * Scale shape: one segment-keyed window sort for ranks, one
    * combinable conditional aggregate for the quartiles (broadcast back
    * — segments are bounded), one conditional-count pass for the
    * fences. Nothing pairwise, nothing on the driver. */
  val qualityOutliers = QueryDef(
    "quality_outliers",
    """WITH c AS (
      |  SELECT c_mktsegment AS seg,
      |         CASE WHEN c_custkey % 47 = 0
      |                THEN CAST(round(c_acctbal * 100) AS BIGINT) + 5000000
      |              WHEN c_custkey % 53 = 0
      |                THEN CAST(round(c_acctbal * 100) AS BIGINT) - 5000000
      |              ELSE CAST(round(c_acctbal * 100) AS BIGINT) END AS cents
      |  FROM customer
      |), r AS (
      |  SELECT seg, cents,
      |         row_number() OVER (PARTITION BY seg ORDER BY cents) AS rn,
      |         count(*) OVER (PARTITION BY seg) AS n
      |  FROM c
      |), q AS (
      |  SELECT seg, max(n) AS n,
      |         max(CASE WHEN rn = (n - 1) // 4 + 1 THEN cents END) AS q1,
      |         max(CASE WHEN rn = (3 * (n - 1)) // 4 + 1 THEN cents END) AS q3
      |  FROM r GROUP BY seg
      |)
      |SELECT q.seg, CAST(q.n AS BIGINT) AS n, q.q1 AS q1_cents, q.q3 AS q3_cents,
      |       CAST(sum(CASE WHEN 2 * c.cents < 2 * q.q1 - 3 * (q.q3 - q.q1)
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_out_lo,
      |       CAST(sum(CASE WHEN 2 * c.cents > 2 * q.q3 + 3 * (q.q3 - q.q1)
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_out_hi,
      |       min(c.cents) AS min_cents, max(c.cents) AS max_cents
      |FROM c JOIN q ON c.seg = q.seg
      |GROUP BY q.seg, q.n, q.q1, q.q3
      |ORDER BY q.seg""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    // deterministic fat-tail dirt (the quality_expectations liveness
    // discipline): every 47th key shifts +50 000.00 — always past the
    // high fence — and every 53rd −50 000.00 — always past the low one,
    // so both outlier branches are live at every SF; the ±5M cents sit
    // ~3× beyond any fence this data can produce
    val cents0 = round(col("c_acctbal") * 100).cast("long")
    val c = Tables.customer(s, d)
      .select(col("c_mktsegment").as("seg"),
        when(col("c_custkey") % 47 === 0, cents0 + 5000000L)
          .when(col("c_custkey") % 53 === 0, cents0 - 5000000L)
          .otherwise(cents0).as("cents"))
    val w = Window.partitionBy("seg")
    val r = c
      .withColumn("rn", row_number().over(w.orderBy("cents")))
      .withColumn("n", count(lit(1)).over(w))
    val q = r.groupBy("seg")
      .agg(max(col("n")).as("n"),
        max(when(col("rn") === expr("(n - 1) div 4 + 1"), col("cents"))).as("q1"),
        max(when(col("rn") === expr("(3 * (n - 1)) div 4 + 1"), col("cents"))).as("q3"))
    c.join(q, "seg")
      .groupBy(col("seg"), col("n"), col("q1"), col("q3"))
      .agg(
        sum(when(lit(2) * col("cents") < lit(2) * col("q1") - lit(3) * (col("q3") - col("q1")),
          1L).otherwise(0L)).as("n_out_lo"),
        sum(when(lit(2) * col("cents") > lit(2) * col("q3") + lit(3) * (col("q3") - col("q1")),
          1L).otherwise(0L)).as("n_out_hi"),
        min(col("cents")).as("min_cents"), max(col("cents")).as("max_cents"))
      .select(col("seg"), col("n"), col("q1").as("q1_cents"), col("q3").as("q3_cents"),
        col("n_out_lo"), col("n_out_hi"), col("min_cents"), col("max_cents"))
      .orderBy("seg")
  }

  /** Column-profiling report — the DISCOVERY half of data quality
    * (`quality_expectations` checks declared constraints; THIS computes
    * the per-column statistics you write constraints FROM — the
    * Deequ-profiler / `ANALYZE`-for-humans surface): per column, row
    * count, null count, exact distinct count, and type-aware min/max
    * (numeric → DOUBLE, string → lexicographic VARCHAR, timestamp →
    * counts only: cross-engine timestamp RENDERING is not hash-safe, so
    * the profile declines to stringify it — the §2.9 discipline applied
    * to a schema decision). One nullable derived column
    * (non-BUILDING segment) keeps the null-count branch live.
    *
    * Scale shape: ONE aggregate pass per table computes every column's
    * statistics simultaneously (the n exact distincts share a single
    * Expand-based aggregate — one scan, not one scan per column), then
    * the single stats row explodes into the long-format report. At
    * 100 TB the profile is one combinable job per table; columns never
    * cause extra scans. */
  val qualityProfile = QueryDef(
    "quality_profile", {
      def num(t: String, c: String) =
        s"""SELECT '$t' AS tbl, '$c' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  CAST(min($c) AS DOUBLE) AS min_num, CAST(max($c) AS DOUBLE) AS max_num,
           |  CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
           |FROM $t""".stripMargin
      def str(t: String, c: String, expr: String) =
        s"""SELECT '$t', '$c', CAST(count(*) AS BIGINT),
           |  CAST(sum(CASE WHEN $expr IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           |  CAST(count(DISTINCT $expr) AS BIGINT),
           |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           |  min($expr), max($expr)
           |FROM $t""".stripMargin
      def ts(t: String, c: String) =
        s"""SELECT '$t', '$c', CAST(count(*) AS BIGINT),
           |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           |  CAST(count(DISTINCT $c) AS BIGINT),
           |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           |  CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
           |FROM $t""".stripMargin
      Seq(
        num("customer", "c_custkey"),
        str("customer", "c_name", "c_name"),
        num("customer", "c_nationkey"),
        num("customer", "c_acctbal"),
        str("customer", "c_mktsegment", "c_mktsegment"),
        str("customer", "seg_nonbuilding",
          "CASE WHEN c_mktsegment = 'BUILDING' THEN NULL ELSE c_mktsegment END"),
        num("orders", "o_orderkey"),
        num("orders", "o_custkey"),
        str("orders", "o_orderstatus", "o_orderstatus"),
        num("orders", "o_totalprice"),
        ts("orders", "o_orderdate")
      ).mkString("", "\nUNION ALL\n", "\nORDER BY tbl, col_name")
    }) { (s, d) =>
    def nNull(c: Column) = sum(when(c.isNull, 1L).otherwise(0L))
    def profile(df: DataFrame, tbl: String,
        cols: Seq[(String, Column, String)]): DataFrame = {
      // kind: "num" | "str" | "ts" — decides which min/max slot is
      // populated in the long-format row.
      //
      // The string min/max aggregates ride in their OWN no-grouping pass,
      // cross-joined back onto the single stats row (both sides are
      // exactly 1 row). Measured: a min/max over a STRING
      // column carries an immutable (variable-length) aggregation buffer,
      // which forces the WHOLE multi-distinct aggregate — including the
      // Expand×(n_cols+1) first level that computes the exact NDVs — into
      // SortAggregate, i.e. a full sort of corpus×(n_cols+1) expanded
      // rows on a 7-column key. Splitting them keeps the heavy Expand
      // pass hash-based (mutable long/double buffers only) and the extra
      // pass is a column-pruned scan of just the string columns with a
      // 1-row result — cheaper at any scale than sorting the expanded
      // corpus. Same aggregates, same values, bit-identical report.
      val aggs = cols.zipWithIndex.flatMap { case ((_, c, kind), i) =>
        Seq(nNull(c).as(s"nn_$i"), countDistinct(c).as(s"nd_$i")) ++
          (kind match {
            case "num" => Seq(min(c).cast("double").as(s"mn_$i"),
              max(c).cast("double").as(s"mx_$i"))
            case _     => Seq.empty
          })
      }
      val strAggs = cols.zipWithIndex.collect { case ((_, c, "str"), i) =>
        Seq(min(c).as(s"mns_$i"), max(c).as(s"mxs_$i"))
      }.flatten
      val main = df.agg(count(lit(1)).as("n_rows"), aggs: _*)
      val one =
        if (strAggs.isEmpty) main
        else main.crossJoin(broadcast(df.agg(strAggs.head, strAggs.tail: _*)))
      val rows = cols.zipWithIndex.map { case ((name, _, kind), i) =>
        struct(
          lit(tbl).as("tbl"), lit(name).as("col_name"), col("n_rows"),
          col(s"nn_$i").as("n_null"), col(s"nd_$i").as("n_distinct"),
          (if (kind == "num") col(s"mn_$i") else lit(null).cast("double"))
            .as("min_num"),
          (if (kind == "num") col(s"mx_$i") else lit(null).cast("double"))
            .as("max_num"),
          (if (kind == "str") col(s"mns_$i") else lit(null).cast("string"))
            .as("min_str"),
          (if (kind == "str") col(s"mxs_$i") else lit(null).cast("string"))
            .as("max_str"))
      }
      one.select(explode(array(rows: _*)).as("r")).select("r.*")
    }
    val cust = profile(Tables.customer(s, d), "customer", Seq(
      ("c_custkey", col("c_custkey"), "num"),
      ("c_name", col("c_name"), "str"),
      ("c_nationkey", col("c_nationkey"), "num"),
      ("c_acctbal", col("c_acctbal"), "num"),
      ("c_mktsegment", col("c_mktsegment"), "str"),
      ("seg_nonbuilding",
        when(col("c_mktsegment") === "BUILDING", lit(null))
          .otherwise(col("c_mktsegment")), "str")))
    val ord = profile(Tables.orders(s, d), "orders", Seq(
      ("o_orderkey", col("o_orderkey"), "num"),
      ("o_custkey", col("o_custkey"), "num"),
      ("o_orderstatus", col("o_orderstatus"), "str"),
      ("o_totalprice", col("o_totalprice"), "num"),
      ("o_orderdate", col("o_orderdate"), "ts")))
    cust.unionByName(ord).orderBy("tbl", "col_name")
  }

  /** HOT-KEY SKEW diagnostic — the report a 100 TB operator runs BEFORE
    * choosing a remedy (the suite gates three remedies — `join_salted`,
    * `window_skew_topk`, `swivel_cooc_salted` — this key gates the
    * detector that says WHICH keys need them): per join-key, its row
    * count, exact integer skew ratio vs the mean key (×100), corpus
    * share in basis points, the hot flag (count > 2× mean), and the
    * actionable output — the salt count (⌈count/mean⌉, capped at 16)
    * that would level the key, i.e. exactly the `Salts` parameter the
    * remedy keys take. All arithmetic is integer cross-multiplication
    * (cnt·K vs 2·T — no float ever forms).
    *
    * The fixture's natural keys are uniform (dead hot branch), so the
    * key is a DERIVED Zipf-ish id (the text_dedup_url synthesized-dirt
    * convention): every 4th user collapses onto key 0 (~25% of rows,
    * ~16× mean), the rest spread over 64 — both branches live at every
    * SF. Plan: ONE map-side-combinable count per key + a broadcast
    * 1-row totals join — two aggregates, no window, no sort until the
    * bounded top-20. */
  val qualitySkew = QueryDef(
    "quality_skew",
    """WITH k AS (
      |  SELECT CASE WHEN user_id % 4 = 0 THEN 0 ELSE user_id % 64 END AS zkey
      |  FROM events
      |), pk AS (
      |  SELECT zkey, CAST(count(*) AS BIGINT) AS cnt FROM k GROUP BY zkey
      |), tot AS (
      |  SELECT CAST(sum(cnt) AS BIGINT) AS t, CAST(count(*) AS BIGINT) AS nk
      |  FROM pk
      |)
      |SELECT zkey, cnt,
      |  (100 * cnt * nk) // t AS skew_x100,
      |  (10000 * cnt) // t AS share_bp,
      |  cnt * nk > 2 * t AS is_hot,
      |  CASE WHEN cnt * nk > 2 * t
      |       THEN least(16, (cnt * nk + t - 1) // t) ELSE 1 END AS salts
      |FROM pk, tot
      |ORDER BY cnt DESC, zkey LIMIT 20""".stripMargin) { (s, d) =>
    val pk = Tables.events(s, d)
      .select(when(col("user_id") % 4 === 0, 0L)
        .otherwise(col("user_id") % 64).as("zkey"))
      .groupBy("zkey").agg(count(lit(1)).as("cnt"))
    val tot = pk.agg(sum(col("cnt")).as("t"), count(lit(1)).as("nk"))
    pk.crossJoin(broadcast(tot))
      .select(col("zkey"), col("cnt"),
        expr("(100 * cnt * nk) div t").as("skew_x100"),
        expr("(10000 * cnt) div t").as("share_bp"),
        (col("cnt") * col("nk") > lit(2) * col("t")).as("is_hot"),
        when(col("cnt") * col("nk") > lit(2) * col("t"),
          least(lit(16L), expr("(cnt * nk + t - 1) div t"))).otherwise(1L).as("salts"))
      .orderBy(col("cnt").desc, col("zkey"))
      .limit(20)
  }

  /** VOLUME-ANOMALY monitor — the single most-deployed production data
    * quality check (did today's partition arrive at the expected size?):
    * per ingest day, its row count, the trailing 7-day baseline, and an
    * integer cross-multiplied alarm when the day falls outside
    * [60%, 140%] of the trailing mean (n·cnt·10 < 6·sum / > 14·sum — no
    * float, no division). The baseline EXCLUDES the current day (an
    * anomalous day must not defend itself) and arms only after 3
    * baseline days. Dirt: one day is deterministically thinned to 30%
    * (the quality_expectations planted-violation convention) so the
    * alarm branch is live at every SF. Scale shape: the fact pays ONE
    * combinable per-day count; the trailing window runs on the per-day
    * relation — calendar-sized METADATA (365 rows/year), where a
    * global-order window is free (the clustering_depth precedent). */
  val qualityVolumeAnomaly = QueryDef(
    "quality_volume_anomaly",
    """WITH e AS (
      |  SELECT CAST(ts AS DATE) AS day, event_id FROM events
      |  WHERE NOT (CAST(ts AS DATE) = DATE '2024-01-15' AND event_id % 10 >= 3)
      |), pd AS (
      |  SELECT day, CAST(count(*) AS BIGINT) AS n FROM e GROUP BY day
      |), w AS (
      |  SELECT day, n,
      |    CAST(sum(n) OVER t AS BIGINT) AS base_sum,
      |    CAST(count(*) OVER t AS BIGINT) AS base_days
      |  FROM pd WINDOW t AS (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
      |)
      |SELECT day, n, base_sum, base_days,
      |  (base_days >= 3 AND (10 * n * base_days < 6 * base_sum
      |                       OR 10 * n * base_days > 14 * base_sum)) AS alarm
      |FROM w ORDER BY day""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val pd = Tables.events(s, d)
      .select(col("ts").cast("date").as("day"), col("event_id"))
      .filter(!(col("day") === lit("2024-01-15").cast("date") &&
        col("event_id") % 10 >= 3))
      .groupBy("day").agg(count(lit(1)).as("n"))
    val t = Window.orderBy("day").rowsBetween(-7, -1)
    pd.select(col("day"), col("n"),
        sum(col("n")).over(t).as("base_sum"),
        count(lit(1)).over(t).as("base_days"))
      .withColumn("alarm",
        col("base_days") >= 3 &&
          (lit(10) * col("n") * col("base_days") < lit(6) * col("base_sum") ||
           lit(10) * col("n") * col("base_days") > lit(14) * col("base_sum")))
      .orderBy("day")
  }

  /** K-ANONYMITY AUDIT (Sweeney 2002, "k-Anonymity: a model
    * for protecting privacy") — the privacy gate a data-release /
    * training-corpus pipeline runs beside the PII scrub
    * (`text_pii_scrub` removes direct identifiers; THIS measures
    * re-identification risk from QUASI-identifiers): group the table by
    * the QI tuple (nation, market segment, balance sign — chosen so the
    * violating branch is live at every SF: 99/92/23 groups under k at
    * the three SFs) and report, per nation, the equivalence-class
    * statistics a release decision reads — group count, the nation's
    * k-anonymity (min class size), classes under k = 8, and the rows a
    * k-anonymization pass would suppress. Both branches live: sf0.1
    * nations with zero violations PASS in the same relation.
    *
    * Scale shape: one combinable QI groupBy (the class sizes), one
    * nation-keyed rollup over the class relation (bounded by the QI
    * domain, not the corpus) — the same two-phase shape at 100 TB, with
    * the class relation as the broadcastable release artifact. */
  val qualityKAnon = QueryDef(
    "quality_k_anon",
    """WITH cls AS (
      |  SELECT c_nationkey, c_mktsegment,
      |         CASE WHEN c_acctbal < 0 THEN 'neg' ELSE 'pos' END AS bal_sign,
      |         CAST(count(*) AS BIGINT) AS n
      |  FROM customer GROUP BY c_nationkey, c_mktsegment, bal_sign
      |)
      |SELECT c_nationkey, CAST(sum(n) AS BIGINT) AS n_rows,
      |       CAST(count(*) AS BIGINT) AS n_classes,
      |       CAST(min(n) AS BIGINT) AS k_anonymity,
      |       CAST(sum(CASE WHEN n < 8 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
      |       CAST(sum(CASE WHEN n < 8 THEN n ELSE 0 END) AS BIGINT) AS n_suppressed
      |FROM cls GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin) { (s, d) =>
    val cls = Tables.customer(s, d)
      .groupBy(col("c_nationkey"), col("c_mktsegment"),
        when(col("c_acctbal") < 0, "neg").otherwise("pos").as("bal_sign"))
      .agg(count(lit(1)).as("n"))
    cls.groupBy("c_nationkey")
      .agg(sum(col("n")).as("n_rows"),
        count(lit(1)).as("n_classes"),
        min(col("n")).as("k_anonymity"),
        sum(when(col("n") < 8, 1L).otherwise(0L)).as("n_violating"),
        sum(when(col("n") < 8, col("n")).otherwise(0L)).as("n_suppressed"))
      .orderBy("c_nationkey")
  }

  /** L-DIVERSITY AUDIT (Machanavajjhala et al. 2007,
    * "l-Diversity: privacy beyond k-anonymity") — the follow-on check
    * to `quality_k_anon`: a class can be large (k-anonymous) yet leak
    * its members' sensitive attribute when every member SHARES it, so
    * the release gate also requires ≥ l distinct sensitive values per
    * equivalence class. Here over documents: QI = (source, 50-char
    * length bucket — the crawl-metadata pair a corpus release exposes),
    * sensitive attribute = lang; classes with l < 3 are the
    * homogeneity-attack surface. Reported per source (the k_anon
    * rollup shape): rows, classes, the source's l-diversity (min
    * distinct-lang count), classes under l = 3, and the rows those
    * classes expose — violating AND passing branches live at every SF
    * (123/141/23 classes under l across the three SFs).
    *
    * Scale shape: one combinable (QI → count, count-distinct) groupBy
    * — Catalyst's two-phase distinct keeps the sensitive column's
    * domain, not the corpus, in the aggregate state — then a rollup
    * bounded by the QI domain. */
  val qualityLDiversity = QueryDef(
    "quality_l_diversity",
    """WITH cls AS (
      |  SELECT source, n_chars // 50 AS len_bucket,
      |         CAST(count(*) AS BIGINT) AS n,
      |         CAST(count(DISTINCT lang) AS BIGINT) AS l
      |  FROM documents GROUP BY source, len_bucket
      |)
      |SELECT source, CAST(sum(n) AS BIGINT) AS n_rows,
      |       CAST(count(*) AS BIGINT) AS n_classes,
      |       CAST(min(l) AS BIGINT) AS l_diversity,
      |       CAST(sum(CASE WHEN l < 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
      |       CAST(sum(CASE WHEN l < 3 THEN n ELSE 0 END) AS BIGINT) AS n_exposed
      |FROM cls GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
    val cls = Tables.documents(s, d)
      .groupBy(col("source"), expr("n_chars div 50").as("len_bucket"))
      .agg(count(lit(1)).as("n"), countDistinct(col("lang")).as("l"))
    cls.groupBy("source")
      .agg(sum(col("n")).as("n_rows"),
        count(lit(1)).as("n_classes"),
        min(col("l")).as("l_diversity"),
        sum(when(col("l") < 3, 1L).otherwise(0L)).as("n_violating"),
        sum(when(col("l") < 3, col("n")).otherwise(0L)).as("n_exposed"))
      .orderBy("source")
  }

  /** T-CLOSENESS (Li, Li & Venkatasubramanian 2007) — the third rung of
    * the release-audit ladder: k-anonymity bounds re-identification,
    * l-diversity blocks the homogeneity attack, but a class can still
    * LEAK by its sensitive-value DISTRIBUTION diverging from the
    * table's (the skewness attack: a class that is 90% one language in
    * a 20%-baseline corpus tells the attacker a lot even with l ≥ 3
    * distinct values). t-closeness requires every equivalence class's
    * sensitive distribution to stay within distance t of the global
    * one. For an unordered categorical attribute the paper's EMD
    * reduces to total variation distance — ½ Σ_lang |p_class − p_global|
    * — computed here in integer micro-units with truncating division
    * (the pagerank determinism discipline), so the audit is exact
    * arithmetic on counts, never a double sum. Absent languages
    * contribute |0 − p_global|: the class spine is classes × the
    * bounded lang domain (a broadcast), so a class missing a language
    * entirely is measured, not skipped.
    *
    * Scale: one combinable (QI, lang) groupBy over the corpus; all
    * later relations are bounded by classes × langs (the k_anon rollup
    * discipline). Threshold t = 0.25 (250 000 micro) keeps both
    * branches live on this fixture. */
  val qualityTCloseness = QueryDef(
    "quality_t_closeness",
    """WITH cl AS (
      |  SELECT source, n_chars // 50 AS len_bucket, lang,
      |         CAST(count(*) AS BIGINT) AS cnt
      |  FROM documents GROUP BY source, len_bucket, lang
      |), ct AS (
      |  SELECT source, len_bucket, CAST(sum(cnt) AS BIGINT) AS n_c
      |  FROM cl GROUP BY source, len_bucket
      |), gl AS (
      |  SELECT lang, CAST(count(*) AS BIGINT) AS cnt_l,
      |         CAST((SELECT count(*) FROM documents) AS BIGINT) AS n
      |  FROM documents GROUP BY lang
      |), spine AS (
      |  SELECT ct.source, ct.len_bucket, ct.n_c, gl.lang, gl.cnt_l, gl.n,
      |         coalesce(cl.cnt, 0) AS cnt
      |  FROM ct CROSS JOIN gl
      |  LEFT JOIN cl ON cl.source = ct.source
      |    AND cl.len_bucket = ct.len_bucket AND cl.lang = gl.lang
      |), tvd AS (
      |  SELECT source, len_bucket, n_c,
      |         CAST(sum(abs(cnt * 1000000 // n_c - cnt_l * 1000000 // n)) // 2
      |              AS BIGINT) AS tvd_micro
      |  FROM spine GROUP BY source, len_bucket, n_c
      |)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_classes,
      |       CAST(max(tvd_micro) AS BIGINT) AS max_tvd_micro,
      |       CAST(sum(CASE WHEN tvd_micro > 250000 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_violating,
      |       CAST(sum(CASE WHEN tvd_micro > 250000 THEN n_c ELSE 0 END) AS BIGINT)
      |         AS n_exposed
      |FROM tvd GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val cl = docs
      .groupBy(col("source"), expr("n_chars div 50").as("len_bucket"), col("lang"))
      .agg(count(lit(1)).as("cnt"))
    val ct = cl.groupBy("source", "len_bucket").agg(sum(col("cnt")).as("n_c"))
    val gl = docs.groupBy("lang").agg(count(lit(1)).as("cnt_l"))
      .crossJoin(broadcast(docs.agg(count(lit(1)).as("n"))))
    val spine = ct.crossJoin(broadcast(gl))
      .join(cl, Seq("source", "len_bucket", "lang"), "left")
      .select(col("source"), col("len_bucket"), col("n_c"), col("cnt_l"),
        col("n"), coalesce(col("cnt"), lit(0L)).as("cnt"))
    val tvd = spine
      .groupBy("source", "len_bucket", "n_c")
      .agg(expr("sum(abs(cnt * 1000000 div n_c - cnt_l * 1000000 div n)) div 2")
        .as("tvd_micro"))
    tvd.groupBy("source")
      .agg(count(lit(1)).as("n_classes"),
        max(col("tvd_micro")).as("max_tvd_micro"),
        sum(when(col("tvd_micro") > 250000L, 1L).otherwise(0L)).as("n_violating"),
        sum(when(col("tvd_micro") > 250000L, col("n_c")).otherwise(0L))
          .as("n_exposed"))
      .orderBy("source")
  }

  /** DIFFERENTIALLY-PRIVATE RELEASE AUDIT — the fourth rung of the
    * release ladder (k-anonymity → l-diversity → t-closeness → noise):
    * the syntactic audits bound what a class reveals, but only NOISE
    * bounds what the released COUNTS themselves reveal (Dwork et al.
    * 2006 — differential privacy; the per-source histogram is the
    * canonical sensitivity-1 query). Mechanism: binomial noise
    * B(32, ½) − 16 per source (σ = √32/2 ≈ 2.83 — the discrete
    * Gaussian-approximating mechanism of Dwork, Kenthapadi, McSherry,
    * Mironov & Naor 2006, "Our Data, Ourselves"), released count
    * clamped at 0. The noise draw here is a PINNED TAPE — bit_count of
    * 32 salted md5 bits per source — because a hash-gated relation
    * must be deterministic: what the gate certifies is the MECHANISM
    * ARITHMETIC (tape → centered noise → clamped release, identical on
    * both engines bit-for-bit); a production release swaps the tape
    * for CSPRNG draws and nothing else changes. The audit relation
    * keeps n_true beside n_released (it certifies the mechanism; it is
    * not itself the release artifact).
    *
    * Scale: one combinable source groupBy; the tape is computed per
    * GROUP (bounded), never per row. */
  val qualityDpRelease = QueryDef(
    "quality_dp_release",
    """WITH g AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_true FROM documents
      |  GROUP BY source
      |), t AS (
      |  SELECT source, n_true,
      |    CAST(bit_count(CAST('0x' || substr(md5('dp1:' || source), 1, 8)
      |      AS BIGINT)) AS BIGINT) - 16 AS noise
      |  FROM g
      |)
      |SELECT source, n_true, noise,
      |       greatest(n_true + noise, 0) AS n_released,
      |       CAST(abs(noise) AS BIGINT) AS abs_err
      |FROM t ORDER BY source""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .groupBy("source").agg(count(lit(1)).as("n_true"))
      .select(col("source"), col("n_true"),
        (expr("bit_count(cast(conv(substr(md5('dp1:' || source), 1, 8), 16, 10) as bigint))")
          .cast("long") - 16L).as("noise"))
      .select(col("source"), col("n_true"), col("noise"),
        greatest(col("n_true") + col("noise"), lit(0L)).as("n_released"),
        abs(col("noise")).as("abs_err"))
      .orderBy("source")
  }

  val all: Seq[QueryDef] = Seq(qualityExpectations, qualityDrift, qualityOutliers,
    qualityProfile, qualitySkew, qualityVolumeAnomaly, qualityKAnon,
    qualityLDiversity, qualityTCloseness, qualityDpRelease)
}
