package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.streaming.StreamOps
import Det._

/** Event-stream operators: sessionization + the deterministic batch
  * analogs of the Structured Streaming windows (SURVEY.md §2.7). The true
  * streaming semantics (watermark eviction over MemoryStream) are covered
  * by StreamingSpec — not oracle-checkable.
  *
  * All time arithmetic is on epoch microseconds (BIGINT) so both engines
  * compare integers, never intervals.
  */
object Events {

  private def eus = unix_micros(col("ts").cast("timestamp"))

  /** Integer bucket division matching the oracle's `//` EXACTLY at
    * every input: DuckDB 1.0.0's integer `//` TRUNCATES toward zero,
    * the same as Spark's `div` (verified this session: `(-7) // 2 = -3`
    * in DuckDB — floor would be −4; an earlier version of this helper
    * computed exact FLOOR via `x − pmod(x, y)` under a docstring
    * claiming `//` floors, which is Python's operator, not DuckDB's —
    * a latent divergence for every pre-1970 timestamp). Truncation on
    * BOTH sides makes bucket ids engine-identical at ANY input;
    * pre-1970 instants bucket by truncation (−0.5 day → day 0) on both
    * engines alike — a shared convention, not a divergence. Takes the
    * operand as a SQL expression string because integer `div` only
    * exists in the SQL surface, not the Column API. */
  private[ops] def bucketDiv(x: String, y: Long) =
    expr(s"($x) div ${y}L")

  /** Banded interval self-join: pairs of events per user with
    * 0 < ts_b − ts_a ≤ maxGapUs and id_a < id_b.
    *
    * Instead of matching every same-user pair and filtering (per-user
    * workload grows quadratically in events/user), each event is banded
    * into its maxGap-sized time bucket and the probe side joins bucket b
    * against {b, b−1}: any qualifying pair lands in one of the two bucket
    * combinations, and each candidate set is bounded by bucket occupancy —
    * the interval-join plan that survives dense users at 100 TB. Output:
    * a.* ++ b.* column sets for downstream aggregation.
    */
  def intervalSelfJoin(events: DataFrame, maxGapUs: Long): DataFrame = {
    val e = events.select(col("event_id"), col("user_id"), col("ts"),
      col("event_type"), eus.as("eus"))
      .withColumn("bucket", expr(s"eus div $maxGapUs"))
    val a = e.alias("a")
    val bSide = e.select(col("event_id"), col("user_id"), col("ts"),
        col("event_type"), col("eus"),
        explode(array(col("bucket"), col("bucket") - 1)).as("bucket"))
      .alias("b")
    a.join(bSide,
        col("a.user_id") === col("b.user_id") &&
        col("a.bucket") === col("b.bucket") &&
        col("a.event_id") < col("b.event_id") &&
        col("b.eus") > col("a.eus") &&
        col("b.eus") <= col("a.eus") + maxGapUs)
  }

  /** Two-sided banded interval join: (l, r) pairs per user with
    * 0 < r.eus − l.eus ≤ maxGapUs — the batch shape of a stream-stream
    * interval join. Same banding argument as `intervalSelfJoin`: the left
    * side claims its own gap-bucket and the next one, so every
    * qualifying pair meets on an equi key and candidate sets stay
    * bucket-occupancy-bounded at any density — never a per-user
    * cartesian. Output: l.* (prefixed l_) ++ r.* (prefixed r_) with both
    * eus columns.
    */
  def intervalJoin(left: DataFrame, right: DataFrame, maxGapUs: Long): DataFrame = {
    val l = left.select(col("event_id").as("l_event_id"), col("user_id"),
        eus.as("l_eus"))
      .withColumn("bucket",
        explode(array(expr(s"l_eus div $maxGapUs"), expr(s"l_eus div $maxGapUs") + 1)))
    val r = right.select(col("event_id").as("r_event_id"), col("user_id"),
        eus.as("r_eus"))
      .withColumn("bucket", expr(s"r_eus div $maxGapUs"))
    l.join(r, Seq("user_id", "bucket"))
      .filter(col("r_eus") > col("l_eus") &&
        col("r_eus") <= col("l_eus") + maxGapUs)
      .drop("bucket")
  }

  /** As-of join within one event stream: for each `leftType` event, the
    * most recent `rightType` event by the same user at/before its ts
    * (ties at equal ts include the right event; among tied rights the max
    * event_id wins). Implemented as the union-tag trick: one shuffle on
    * user_id + one sort, no join. Output: left (event_id, user_id) +
    * matched right event_id (nullable).
    */
  def asofJoin(events: DataFrame, leftType: String, rightType: String,
      outCol: String): DataFrame = {
    val tagged = events
      .filter(col("event_type").isin(rightType, leftType))
      .select(col("event_id"), col("user_id"), col("ts"),
        when(col("event_type") === rightType, 0).otherwise(1).as("tag"),
        when(col("event_type") === rightType, col("event_id")).as("r_id"))
    val w = Window.partitionBy("user_id").orderBy("ts", "tag", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged.withColumn(outCol, last(col("r_id"), ignoreNulls = true).over(w))
      .filter(col("tag") === 1)
      .select(col("event_id"), col("user_id"), col(outCol))
  }

  /** Forward as-of join with tolerance — the mirror of `asofJoin` and the
    * other half of the asof semantics event pipelines use ("the first
    * click AT/AFTER this impression, within 10 minutes"): for each left
    * event the EARLIEST right event of the same user with
    * r.ts ∈ [l.ts, l.ts + tolerance] (ties at equal ts include the right
    * event; among tied rights the MIN event_id wins — "first"). Same
    * union-tag machinery, reflected: lefts tag 0 so equal-ts rights sort
    * after them, and `first(ignoreNulls)` over the CURRENT ROW →
    * UNBOUNDED FOLLOWING frame picks the next right in (ts, event_id)
    * order — one shuffle on user_id + one sort, no join at any scale.
    * The tolerance applies as a post-predicate on the matched right's
    * epoch-µs (carried through the same frame), nulling out matches
    * beyond the horizon. */
  def asofJoinFwd(events: DataFrame, leftType: String, rightType: String,
      outCol: String, toleranceUs: Long): DataFrame = {
    val tagged = events
      .filter(col("event_type").isin(rightType, leftType))
      .select(col("event_id"), col("user_id"), col("ts"), eus.as("eus"),
        when(col("event_type") === rightType, 1).otherwise(0).as("tag"),
        when(col("event_type") === rightType, col("event_id")).as("r_id"),
        when(col("event_type") === rightType, eus).as("r_eus"))
    val w = Window.partitionBy("user_id").orderBy("ts", "tag", "event_id")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    tagged
      .withColumn("nxt_id", first(col("r_id"), ignoreNulls = true).over(w))
      .withColumn("nxt_eus", first(col("r_eus"), ignoreNulls = true).over(w))
      .filter(col("tag") === 0)
      .select(col("event_id"), col("user_id"),
        when(col("nxt_eus") <= col("eus") + toleranceUs, col("nxt_id")).as(outCol))
  }

  /** Nearest as-of join — the bidirectional member that completes the
    * asof family (backward = `asofJoin`, forward = `asofJoinFwd`, THIS =
    * whichever right event is CLOSEST in time, either side): for each
    * left event, the right event minimizing |Δt|, ties preferring the
    * at/before side (the finance "nearest quote" rule), with each side
    * keeping its own family tie convention (at/before: max event_id;
    * after: min event_id). ONE shuffle on user_id + ONE sort serves BOTH
    * directions: the backward candidate rides a PRECEDING `last(…,
    * ignoreNulls)` frame and the forward candidate a FOLLOWING
    * `first(…, ignoreNulls)` frame over the same sorted relation —
    * still no join operator at any scale. Same-ts rights sort before
    * lefts, so a Δt=0 match is the backward candidate and wins the tie
    * by construction. */
  def asofJoinNearest(events: DataFrame, leftType: String, rightType: String,
      outCol: String): DataFrame = {
    val tagged = events
      .filter(col("event_type").isin(rightType, leftType))
      .select(col("event_id"), col("user_id"), col("ts"), eus.as("eus"),
        when(col("event_type") === rightType, 0).otherwise(1).as("tag"),
        when(col("event_type") === rightType, col("event_id")).as("r_id"),
        when(col("event_type") === rightType, eus).as("r_eus"))
    val ord = Window.partitionBy("user_id").orderBy("ts", "tag", "event_id")
    val wb = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = ord.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    tagged
      .withColumn("prev_id", last(col("r_id"), ignoreNulls = true).over(wb))
      .withColumn("prev_eus", last(col("r_eus"), ignoreNulls = true).over(wb))
      .withColumn("next_id", first(col("r_id"), ignoreNulls = true).over(wf))
      .withColumn("next_eus", first(col("r_eus"), ignoreNulls = true).over(wf))
      .filter(col("tag") === 1)
      .select(col("event_id"), col("user_id"),
        when(col("next_id").isNull, col("prev_id"))
          .when(col("prev_id").isNull, col("next_id"))
          .when(col("eus") - col("prev_eus") <= col("next_eus") - col("eus"),
            col("prev_id"))
          .otherwise(col("next_id")).as(outCol))
  }

  /** 30-minute-gap sessionization: gap strictly greater than the threshold
    * starts a new session (gap == 30 min exactly → same session).
    * Batch analog of `session_window($"ts", "30 minutes")`; the
    * library-level streaming variant lives in graft.streaming.
    */
  def sessionize(events: DataFrame, gapUs: Long = 1800000000L): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    events
      .select(col("user_id"), col("event_id"), col("ts"), eus.as("eus"))
      .withColumn("prev_eus", lag(col("eus"), 1).over(w))
      .withColumn("new_sess",
        when(col("prev_eus").isNull || col("eus") - col("prev_eus") > gapUs, 1).otherwise(0))
      .withColumn("session_id",
        sum(col("new_sess")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("long"))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"), min(col("ts")).as("t_start"), max(col("ts")).as("t_end"))
  }

  /** DuckDB twin of `sessionize` up to its `new_sess` flags (`x`, `f`). */
  private val sessionStartsCte =
    """WITH x AS (
      |  SELECT user_id, event_id, ts, epoch_us(ts) AS eus,
      |         lag(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_eus
      |  FROM events
      |), f AS (
      |  SELECT *, CASE WHEN prev_eus IS NULL OR eus - prev_eus > 1800000000 THEN 1 ELSE 0 END AS new_sess
      |  FROM x
      |)""".stripMargin

  /** The same 30-minute sessionization over epoch microseconds, through
    * the per-user running `session_id` (`sid`), as `join_overlap` and
    * `stream_stateful_session` replay it. */
  private val sessionIdsCte =
    """WITH x AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS eus,
      |         lag(epoch_us(ts), 1) OVER (PARTITION BY user_id
      |                                    ORDER BY ts, event_id) AS prev_eus
      |  FROM events
      |), f AS (
      |  SELECT *, CASE WHEN prev_eus IS NULL OR eus - prev_eus > 1800000000
      |                 THEN 1 ELSE 0 END AS new_sess
      |  FROM x
      |), sid AS (
      |  SELECT *, sum(new_sess) OVER (PARTITION BY user_id
      |            ORDER BY eus, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM f
      |)""".stripMargin

  val sessionizeQ = QueryDef(
    "sessionize",
    s"""$sessionStartsCte, sid AS (
      |  SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM f
      |)
      |SELECT user_id, session_id, CAST(count(*) AS BIGINT) AS n_events,
      |       min(ts) AS t_start, max(ts) AS t_end
      |FROM sid GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin) { (s, d) =>
    sessionize(Tables.events(s, d)).orderBy("user_id", "session_id")
  }

  val streamTumbling = QueryDef(
    "stream_tumbling",
    """SELECT date_trunc('hour', ts) AS window_start, event_type,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY window_start, event_type
      |ORDER BY window_start, event_type""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(dec(col("value"))).cast("double").as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"), col("sum_value"))
      .orderBy("window_start", "event_type")
  }

  val streamSliding = QueryDef(
    "stream_sliding",
    """WITH g AS (
      |  SELECT make_timestamp((epoch_us(ts) // 1800000000) * 1800000000) AS g30 FROM events
      |)
      |SELECT window_start, CAST(count(*) AS BIGINT) AS n FROM (
      |  SELECT g30 AS window_start FROM g
      |  UNION ALL
      |  SELECT g30 - INTERVAL 30 MINUTE AS window_start FROM g
      |) GROUP BY window_start ORDER BY window_start""".stripMargin) { (s, d) =>
    // 1h windows every 30min: each event lands in exactly two windows
    // (epoch-aligned grid on both engines).
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour", "30 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("n"))
      .orderBy("window_start")
  }

  val streamWatermark = QueryDef(
    "stream_watermark",
    """WITH m AS (
      |  SELECT *, epoch_us(ts) AS eus,
      |         max(epoch_us(ts)) OVER (PARTITION BY event_type ORDER BY event_id
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rmax
      |  FROM events
      |)
      |SELECT date_trunc('hour', ts) AS window_start, event_type,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM m WHERE eus >= rmax - 3600000000
      |GROUP BY window_start, event_type
      |ORDER BY window_start, event_type""".stripMargin) { (s, d) =>
    // Deterministic batch projection of withWatermark("ts", "1 hour"):
    // drop any event more than 1h behind the running per-type max event
    // time (arrival order = event_id), then tumbling-aggregate the rest.
    val w = Window.partitionBy("event_type").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .withColumn("eus", eus)
      .withColumn("rmax", max(col("eus")).over(w))
      .filter(col("eus") >= col("rmax") - 3600000000L)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(dec(col("value"))).cast("double").as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"), col("sum_value"))
      .orderBy("window_start", "event_type")
  }

  val streamSession = QueryDef(
    "stream_session",
    // Native session_window agrees with `sessionize` at the boundary:
    // an event EXACTLY gap distance after the last one still merges
    // (verified on 4.1.2 — two events 30 min apart yield ONE session
    // with end = last + gap), so the island condition is the same
    // strictly-greater `>` as sessionize. The key's value is the NATIVE
    // operator and its (session_start, session_end = last + gap,
    // n_events) output shape; session_end via exact epoch-µs arithmetic
    // on both engines.
    s"""$sessionStartsCte, sid AS (
      |  SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM f
      |)
      |SELECT user_id, min(ts) AS session_start,
      |       make_timestamp(max(eus) + 1800000000) AS session_end,
      |       CAST(count(*) AS BIGINT) AS n_events
      |FROM sid GROUP BY user_id, session_id
      |ORDER BY user_id, session_start""".stripMargin) { (s, d) =>
    // the batch form of the Structured Streaming
    // `groupBy(session_window($"ts", gap))` aggregation — the streaming
    // variant (same operator, MemoryStream source) is proven equivalent
    // in StreamingSpec
    Tables.events(s, d)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))
      .orderBy("user_id", "session_start")
  }

  /** Trailing-1-hour per-user rolling aggregates via a TIME range frame —
    * the event-time companion of `window_range_frame`'s numeric frame:
    * frame membership is `eus - 3_600_000_000 <= peer_eus <= eus` on
    * epoch-µs BIGINT, so both engines bound the frame with identical
    * integer arithmetic (a native INTERVAL frame would re-open the
    * timestamp-semantics surface for no gain). Same-instant rows are
    * RANGE peers and share the frame in both engines. One shuffle on
    * user_id; the frame scan is the standard streaming-window shape.
    */
  val windowTimeRange = QueryDef(
    "window_time_range",
    """WITH b AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS eus,
      |         CAST(value AS DECIMAL(18,4)) AS dv
      |  FROM events
      |)
      |SELECT user_id, event_id, eus,
      |       CAST(count(*) OVER w AS BIGINT) AS n_1h,
      |       CAST(sum(dv) OVER w AS DOUBLE) AS sum_1h
      |FROM b
      |WINDOW w AS (PARTITION BY user_id ORDER BY eus
      |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, eus, event_id LIMIT 1000""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("eus")
      .rangeBetween(-3600000000L, Window.currentRow)
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), eus.as("eus"),
        dec(col("value")).as("dv"))
      .select(col("user_id"), col("event_id"), col("eus"),
        count(lit(1)).over(w).as("n_1h"),
        sum(col("dv")).over(w).cast("double").as("sum_1h"))
      .orderBy("user_id", "eus", "event_id")
      .limit(1000)
  }

  /** Deterministic batch projection of the streaming exact-dedup surface
    * (`dropDuplicatesWithinWatermark`): first arrival wins per business
    * key. The stream dedups on event_id (unique
    * in this corpus), so the batch key dedups on (user_id, event_type) —
    * a key with real duplicates — keeping the full first row by event
    * time (ties break on event_id, the arrival order) plus the count of
    * suppressed later rows. One shuffle on the dedup key; in streaming
    * the same key is the state key with watermark-bounded retention.
    */
  val streamDedup = QueryDef(
    "stream_dedup",
    """WITH r AS (
      |  SELECT user_id, event_type, event_id, ts,
      |         row_number() OVER (PARTITION BY user_id, event_type
      |                            ORDER BY ts, event_id) AS rn,
      |         count(*) OVER (PARTITION BY user_id, event_type) AS n_key
      |  FROM events
      |)
      |SELECT user_id, event_type, event_id, ts,
      |       CAST(n_key - 1 AS BIGINT) AS n_suppressed
      |FROM r WHERE rn = 1
      |ORDER BY user_id, event_type""".stripMargin) { (s, d) =>
    firstArrival(Tables.events(s, d)).orderBy("user_id", "event_type")
  }

  /** First arrival per (user_id, event_type) by (ts, event_id) with the
    * suppressed-duplicate count — the batch form behind `stream_dedup`. */
  def firstArrival(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    val wAll = Window.partitionBy("user_id", "event_type")
    events
      .select(col("user_id"), col("event_type"), col("event_id"), col("ts"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n_suppressed", count(lit(1)).over(wAll) - 1)
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** Ordered conversion funnel view → click → purchase: per user, the
    * earliest view, the earliest click STRICTLY after it, the earliest
    * purchase strictly after that — then one row per stage with how many
    * users reached it and the summed µs from first view. Each stage is a
    * conditional min-aggregate joined user-to-user (all three join inputs
    * are user-level aggregates already partitioned on user_id, so the
    * exchanges reuse); nothing holds per-user event lists, so dense users
    * cost nothing extra at scale. All arithmetic on epoch-µs BIGINT.
    */
  val eventFunnel = QueryDef(
    "event_funnel",
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS eus FROM events
      |), v AS (
      |  SELECT user_id, min(eus) AS t1 FROM e WHERE event_type = 'view' GROUP BY user_id
      |), c AS (
      |  SELECT e.user_id, min(eus) AS t2, min(t1) AS t1
      |  FROM e JOIN v USING (user_id)
      |  WHERE event_type = 'click' AND eus > t1 GROUP BY e.user_id
      |), p AS (
      |  SELECT e.user_id, min(eus) AS t3, min(t1) AS t1
      |  FROM e JOIN c USING (user_id)
      |  WHERE event_type = 'purchase' AND eus > t2 GROUP BY e.user_id
      |)
      |SELECT * FROM (
      |  SELECT 0 AS stage_idx, 'view' AS stage,
      |         CAST(count(*) AS BIGINT) AS n_users,
      |         CAST(sum(t1 - t1) AS BIGINT) AS sum_us_from_first FROM v
      |  UNION ALL
      |  SELECT 1, 'click', CAST(count(*) AS BIGINT),
      |         CAST(sum(t2 - t1) AS BIGINT) FROM c
      |  UNION ALL
      |  SELECT 2, 'purchase', CAST(count(*) AS BIGINT),
      |         CAST(sum(t3 - t1) AS BIGINT) FROM p
      |) ORDER BY stage_idx""".stripMargin) { (s, d) =>
    funnel(Tables.events(s, d), Seq("view", "click", "purchase"))
  }

  /** Ordered-funnel stage counts for an arbitrary stage sequence — the
    * function behind `event_funnel`. Stage k counts users whose earliest
    * stage-k event is STRICTLY after their stage-(k-1) anchor time. */
  def funnel(events: DataFrame, stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    val e = events.select(col("user_id"), col("event_type"), eus.as("eus"))
    // per-user anchor times, stage by stage: (user_id, t1, tk)
    val head = e.filter(col("event_type") === stages.head)
      .groupBy("user_id").agg(min(col("eus")).as("t1"))
      .withColumn("tk", col("t1"))
    val users = stages.tail.scanLeft(head) { (prev, stage) =>
      e.filter(col("event_type") === stage)
        .join(prev.select("user_id", "t1", "tk"), Seq("user_id"))
        .filter(col("eus") > col("tk"))
        .groupBy("user_id").agg(min(col("eus")).as("tk"), min(col("t1")).as("t1"))
    }
    users.zip(stages).zipWithIndex.map { case ((u, stage), i) =>
      u.agg(count(lit(1)).as("n_users"),
        sum(col("tk") - col("t1")).as("sum_us_from_first"))
        .select(lit(i).as("stage_idx"), lit(stage).as("stage"),
          col("n_users"), col("sum_us_from_first"))
    }.reduce(_ unionAll _).orderBy("stage_idx")
  }

  /** Batch gate for the stream-stream interval join surface: view→click
    * pairs per user within 30 minutes (strictly-after, inclusive at the
    * exact gap), aggregated per user. The STREAMING form of the same
    * relation (two watermarked streams, time-bound join condition,
    * bounded state) is proven equal to [[intervalJoin]] in StreamingSpec;
    * the banded batch plan is what the same pipeline costs when replayed
    * over history.
    */
  val streamJoin = QueryDef(
    "stream_join",
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS eus FROM events
      |), p AS (
      |  SELECT v.user_id, c.eus - v.eus AS gap_us
      |  FROM e v JOIN e c ON v.user_id = c.user_id
      |   AND v.event_type = 'view' AND c.event_type = 'click'
      |   AND c.eus - v.eus > 0 AND c.eus - v.eus <= 1800000000
      |)
      |SELECT user_id, CAST(count(*) AS BIGINT) AS n_pairs,
      |       CAST(min(gap_us) AS BIGINT) AS min_gap_us,
      |       CAST(max(gap_us) AS BIGINT) AS max_gap_us
      |FROM p GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    intervalJoin(
      ev.filter(col("event_type") === "view"),
      ev.filter(col("event_type") === "click"), maxGapUs = 1800000000L)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_pairs"),
        min(col("r_eus") - col("l_eus")).as("min_gap_us"),
        max(col("r_eus") - col("l_eus")).as("max_gap_us"))
      .orderBy("user_id")
  }

  /** Cohort retention: users grouped by first-activity day; for each
    * (cohort_day, day offset) the count of cohort users active that day.
    * Day arithmetic on epoch-day BIGINT (eus div 86.4e9) so both engines
    * bucket identically; "active" is the DISTINCT (user, day) relation,
    * so the count is exact distinct users without a count-distinct
    * shuffle. Two shuffles at any scale: the per-user cohort aggregate
    * and the (cohort, offset) rollup.
    */
  val eventRetention = QueryDef(
    "event_retention",
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events
      |), cohort AS (
      |  SELECT user_id, min(day) AS cohort_day FROM e GROUP BY user_id
      |), active AS (
      |  SELECT DISTINCT user_id, day FROM e
      |)
      |SELECT cohort_day, day - cohort_day AS offset_days,
      |       CAST(count(*) AS BIGINT) AS n_users
      |FROM active JOIN cohort USING (user_id)
      |GROUP BY cohort_day, offset_days
      |ORDER BY cohort_day, offset_days""".stripMargin) { (s, d) =>
    val e = Tables.events(s, d)
      .select(col("user_id"), eus.as("eus"))
      .select(col("user_id"), bucketDiv("eus", 86400000000L).as("day"))
    val cohort = e.groupBy("user_id").agg(min(col("day")).as("cohort_day"))
    val active = e.distinct()
    active.join(cohort, Seq("user_id"))
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("offset_days"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort_day", "offset_days")
  }

  /** Gap-filling time-spine resample: purchase counts per 10-minute
    * bucket over the full activity range, INCLUDING empty buckets as
    * explicit zero rows (~20 k purchases over 43 200 buckets at sf0.1 —
    * the gaps are live at every SF; hourly buckets would be fully covered
    * and make the fill vacuous). The spine generates from the 1-row
    * min/max bounds via sequence+explode — bounded by calendar time, not
    * data volume (a year of 10-min buckets is 52 k rows at ANY corpus
    * size), then repartitioned so the downstream join parallelizes; the
    * counts side is one combinable aggregate. Epoch-µs integer division
    * keeps bucket edges engine-exact. */
  /** Library form of the gap-filling spine: per `bucketUs` bucket the
    * event count over [min, max] activity, empty buckets as zeros. */
  def resampleBuckets(ev: DataFrame, bucketUs: Long): DataFrame = {
    val e = ev.select(
      bucketDiv("unix_micros(cast(ts as timestamp))", bucketUs).as("bucket"))
    val bounds = e.agg(min(col("bucket")).as("lo"), max(col("bucket")).as("hi"))
    val spine = bounds
      .select(explode(sequence(col("lo"), col("hi"))).as("bucket"))
      .repartition(col("bucket"))
    val counts = e.groupBy("bucket").agg(count(lit(1)).as("n"))
    spine.join(counts, Seq("bucket"), "left")
      .select(col("bucket"),
        timestamp_micros(col("bucket") * bucketUs).cast("timestamp_ntz")
          .as("bucket_start"),
        coalesce(col("n"), lit(0L)).as("n"))
      .orderBy("bucket")
  }

  val eventsResample = QueryDef(
    "events_resample",
    """WITH e AS (
      |  SELECT epoch_us(ts) // 600000000 AS bucket
      |  FROM events WHERE event_type = 'purchase'
      |), b AS (SELECT min(bucket) AS lo, max(bucket) AS hi FROM e),
      |spine AS (SELECT unnest(generate_series(lo, hi)) AS bucket FROM b),
      |c AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n FROM e GROUP BY bucket)
      |SELECT s.bucket, make_timestamp(s.bucket * 600000000) AS bucket_start,
      |       coalesce(c.n, 0) AS n
      |FROM spine s LEFT JOIN c ON s.bucket = c.bucket
      |ORDER BY s.bucket""".stripMargin) { (s, d) =>
    resampleBuckets(
      Tables.events(s, d).filter(col("event_type") === "purchase"),
      bucketUs = 600000000L)
  }

  /** Gaps-and-islands: maximal runs of consecutive same-type events per
    * user (value-based runs — the complement of time-gap sessionization:
    * `sessionize` breaks on silence, this breaks on the value changing).
    * The classic two-row_number difference — `rn(user) − rn(user, type)`
    * is constant exactly within a run — then one aggregate per island.
    *
    * Scale: ONE shuffle on user_id serves everything downstream —
    * HashPartitioning(user_id) satisfies the (user_id, event_type)
    * window's clustering (subset rule) and the island groupBy's, so the
    * plan is shuffle → sort → two window passes → partial+final agg with
    * no further exchange. Order (eus, event_id) is total per user, so
    * island ids are engine-independent. */
  def gapsIslands(events: DataFrame): DataFrame = {
    val e = events.select(col("event_id"), col("user_id"),
      col("event_type"), eus.as("eus"))
    val wAll = Window.partitionBy("user_id").orderBy("eus", "event_id")
    val wTyp = Window.partitionBy("user_id", "event_type")
      .orderBy("eus", "event_id")
    e.withColumn("grp",
        row_number().over(wAll) - row_number().over(wTyp))
      .groupBy("user_id", "event_type", "grp")
      .agg(min(col("eus")).as("t_start_us"), max(col("eus")).as("t_end_us"),
        count(lit(1)).as("n_events"), min(col("event_id")).as("first_event_id"))
      .select(col("user_id"), col("event_type"), col("t_start_us"),
        col("t_end_us"), col("n_events"), col("first_event_id"))
      .orderBy("user_id", "t_start_us", "first_event_id")
  }

  val windowGapsIslands = QueryDef(
    "window_gaps_islands",
    """WITH e AS (
      |  SELECT event_id, user_id, event_type, epoch_us(ts) AS eus FROM events
      |), g AS (
      |  SELECT *,
      |         row_number() OVER (PARTITION BY user_id ORDER BY eus, event_id)
      |       - row_number() OVER (PARTITION BY user_id, event_type
      |                            ORDER BY eus, event_id) AS grp
      |  FROM e
      |)
      |SELECT user_id, event_type,
      |       CAST(min(eus) AS BIGINT) AS t_start_us,
      |       CAST(max(eus) AS BIGINT) AS t_end_us,
      |       CAST(count(*) AS BIGINT) AS n_events,
      |       CAST(min(event_id) AS BIGINT) AS first_event_id
      |FROM g GROUP BY user_id, event_type, grp
      |ORDER BY user_id, t_start_us, first_event_id""".stripMargin) { (s, d) =>
    gapsIslands(Tables.events(s, d))
  }

  /** Linear multi-touch attribution: every purchase's value is split
    * equally across ALL of that user's clicks in the preceding lookback
    * window (strictly before the purchase, within 7 days), and each click
    * accumulates its credit — the many-to-many windowed credit assignment
    * marketing pipelines run, where `join_asof` is the single-touch
    * (last-click-takes-all) special case.
    *
    * Determinism: credit is computed in integer MICRO-CENTS with floor
    * division (`value_cents * 10^6 div n_touch` — both engines floor on
    * nonnegative operands), so the per-click sums are exact BIGINTs; no
    * double division ever happens.
    *
    * Scale: candidates come from the same gap-bucket banding as
    * `intervalJoin` (clicks claim bucket b and b+1 at lookback width, so
    * every qualifying pair meets on an equi key — never a per-user
    * cartesian); n_touch is a window over purchase_id (a shuffle, but on
    * the already-filtered pair relation); the final rollup shuffles on
    * click_id. Three keyed shuffles, each over data bounded by the pair
    * relation — the shape that survives dense users. */
  def linearAttribution(events: DataFrame, lookbackUs: Long): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), eus.as("c_eus"))
      .withColumn("bucket", explode(array(
        expr(s"c_eus div $lookbackUs"), expr(s"c_eus div $lookbackUs") + 1)))
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        eus.as("p_eus"),
        round(col("value") * 100, 0).cast("long").as("value_cents"))
      .withColumn("bucket", expr(s"p_eus div $lookbackUs"))
    val pairs = clicks.join(purchases, Seq("user_id", "bucket"))
      .filter(col("p_eus") > col("c_eus") &&
        col("p_eus") <= col("c_eus") + lookbackUs)
      .drop("bucket")
    val wP = Window.partitionBy("purchase_id")
    pairs.withColumn("n_touch", count(lit(1)).over(wP))
      .withColumn("credit", expr("(value_cents * 1000000L) div n_touch"))
      .groupBy("click_id", "user_id")
      .agg(count(lit(1)).as("n_purchases"),
        sum(col("credit")).as("credit_microcents"))
      .orderBy("click_id")
  }

  /** The clicks `c` and purchases `p` (integer cents) both attribution
    * oracles pair up. */
  private val clickPurchaseCte =
    """WITH c AS (
      |  SELECT event_id AS click_id, user_id, epoch_us(ts) AS c_eus
      |  FROM events WHERE event_type = 'click'
      |), p AS (
      |  SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS p_eus,
      |         CAST(round(value * 100, 0) AS BIGINT) AS value_cents
      |  FROM events WHERE event_type = 'purchase'
      |)""".stripMargin

  val eventAttribution = QueryDef(
    "event_attribution",
    s"""$clickPurchaseCte, pairs AS (
      |  SELECT c.click_id, c.user_id, p.purchase_id, p.value_cents
      |  FROM c JOIN p ON c.user_id = p.user_id
      |   AND p.p_eus > c.c_eus AND p.p_eus <= c.c_eus + 604800000000
      |), t AS (
      |  SELECT *, count(*) OVER (PARTITION BY purchase_id) AS n_touch
      |  FROM pairs
      |)
      |SELECT click_id, user_id,
      |       CAST(count(*) AS BIGINT) AS n_purchases,
      |       CAST(sum((value_cents * 1000000) // n_touch) AS BIGINT)
      |         AS credit_microcents
      |FROM t GROUP BY click_id, user_id
      |ORDER BY click_id""".stripMargin) { (s, d) =>
    linearAttribution(Tables.events(s, d), lookbackUs = 604800000000L)
  }

  /** POSITION-BASED (U-shaped) attribution — the other published credit
    * model (`event_attribution` splits evenly; marketers' 40/20/40
    * gives discovery and closing touches the weight): per purchase the
    * touches rank by (time, click_id), the first and last take 40%
    * each, the middle splits the remaining 20% evenly; 1-touch paths
    * take 100%, 2-touch 50/50 (the standard degenerations — first=last
    * never double-pays because the CASE tests rank boundaries in
    * order). Same micro-cent integer discipline and floor-loss
    * convention as the linear model; one extra rank window over the
    * same purchase-keyed pairs, no new shuffle key. */
  val eventAttributionPosition = QueryDef(
    "event_attribution_position",
    s"""$clickPurchaseCte, pairs AS (
      |  SELECT c.click_id, c.user_id, p.purchase_id, p.value_cents, c.c_eus
      |  FROM c JOIN p ON c.user_id = p.user_id
      |   AND p.p_eus > c.c_eus AND p.p_eus <= c.c_eus + 604800000000
      |), t AS (
      |  SELECT *,
      |    count(*) OVER (PARTITION BY purchase_id) AS n_touch,
      |    row_number() OVER (PARTITION BY purchase_id ORDER BY c_eus, click_id) AS rn
      |  FROM pairs
      |), credited AS (
      |  SELECT click_id, user_id,
      |    CASE WHEN n_touch = 1 THEN value_cents * 1000000
      |         WHEN n_touch = 2 THEN (value_cents * 1000000) // 2
      |         WHEN rn = 1 OR rn = n_touch THEN (value_cents * 1000000 * 40) // 100
      |         ELSE (value_cents * 1000000 * 20) // (100 * (n_touch - 2)) END AS credit
      |  FROM t
      |)
      |SELECT click_id, user_id,
      |       CAST(count(*) AS BIGINT) AS n_purchases,
      |       CAST(sum(credit) AS BIGINT) AS credit_microcents
      |FROM credited GROUP BY click_id, user_id
      |ORDER BY click_id""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), eus.as("c_eus"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        eus.as("p_eus"), round(col("value") * 100, 0).cast("long").as("value_cents"))
    val pairs = c.join(p, col("user_id") === col("p_user") &&
        col("p_eus") > col("c_eus") &&
        col("p_eus") <= col("c_eus") + 604800000000L)
      .select(col("click_id"), col("user_id"), col("purchase_id"),
        col("value_cents"), col("c_eus"))
    val wCnt = Window.partitionBy("purchase_id")
    val wRnk = Window.partitionBy("purchase_id").orderBy(col("c_eus"), col("click_id"))
    pairs
      .withColumn("n_touch", count(lit(1)).over(wCnt))
      .withColumn("rn", row_number().over(wRnk))
      .withColumn("credit",
        when(col("n_touch") === 1, col("value_cents") * 1000000L)
          .when(col("n_touch") === 2, expr("(value_cents * 1000000) div 2"))
          .when(col("rn") === 1 || col("rn") === col("n_touch"),
            expr("(value_cents * 1000000 * 40) div 100"))
          .otherwise(expr("(value_cents * 1000000 * 20) div (100 * (n_touch - 2))")))
      .groupBy("click_id", "user_id")
      .agg(count(lit(1)).as("n_purchases"), sum(col("credit")).as("credit_microcents"))
      .orderBy("click_id")
  }

  /** Top-20 user journey trigrams — path mining over the per-user event
    * sequence (the "common paths" product-analytics op): each user's
    * events in (ts, event_id) order yield sliding event-type 3-grams via
    * two leads over ONE window (same shuffle + sort on user_id), then a
    * combinable global count and a top-k that plans as
    * TakeOrderedAndProject — no global sort at any corpus size. Path
    * space is bounded by |event_type|³, so the final aggregate state is
    * tiny regardless of row count. Ties at equal count break on path. */
  def topPaths(events: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("eus", "event_id")
    events.select(col("user_id"), col("event_type"), eus.as("eus"),
        col("event_id"))
      .select(col("event_type").as("e1"),
        lead(col("event_type"), 1).over(w).as("e2"),
        lead(col("event_type"), 2).over(w).as("e3"))
      .filter(col("e3").isNotNull)
      .select(concat_ws(">", col("e1"), col("e2"), col("e3")).as("path"))
      .groupBy("path").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path"))
      .limit(k)
  }

  val eventPaths = QueryDef(
    "event_paths",
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS eus, event_id FROM events
      |), t AS (
      |  SELECT event_type AS e1,
      |         lead(event_type, 1) OVER (PARTITION BY user_id
      |                                   ORDER BY eus, event_id) AS e2,
      |         lead(event_type, 2) OVER (PARTITION BY user_id
      |                                   ORDER BY eus, event_id) AS e3
      |  FROM e
      |)
      |SELECT e1 || '>' || e2 || '>' || e3 AS path,
      |       CAST(count(*) AS BIGINT) AS n
      |FROM t WHERE e3 IS NOT NULL
      |GROUP BY path ORDER BY n DESC, path LIMIT 20""".stripMargin) { (s, d) =>
    topPaths(Tables.events(s, d), k = 20)
  }

  /** Rate-anomaly detection over the gap-filled 10-minute spine: a bucket
    * is anomalous when its event count deviates from the trailing
    * 6-bucket (1-hour) history by more than 3 sigma. The z-score test is
    * algebraically cleared of division so it is ALL-INTEGER —
    * z² > 9  ⇔  (n·x − s)² > 9·(n·ss − s²) with s/ss the trailing sum and
    * sum-of-squares — no double arithmetic anywhere, so the flagged SET
    * is engine-exact (the standard z-test, not an approximation of it).
    * Building on the resample spine means silent-outage buckets (count 0
    * after a busy hour) flag exactly like spikes.
    *
    * Scale: the spine is calendar-bounded; the trailing stats are one
    * ROWS-frame window over the bucket order (single range partition of
    * a 52 k-row/year relation at ANY corpus size — the window input is
    * spine-sized, never event-sized). Buckets without 6 full history rows
    * are not scored. */
  def rateAnomalies(ev: DataFrame, bucketUs: Long, trail: Int): DataFrame = {
    val spine = resampleBuckets(ev, bucketUs).select(col("bucket"), col("n"))
    val w = Window.orderBy("bucket").rowsBetween(-trail, -1)
    spine
      .withColumn("hist", count(lit(1)).over(w))
      .withColumn("s", sum(col("n")).over(w))
      .withColumn("ss", sum(col("n") * col("n")).over(w))
      .filter(col("hist") === trail)
      .withColumn("znum",
        (lit(trail) * col("n") - col("s")) * (lit(trail) * col("n") - col("s")))
      .withColumn("zden", lit(trail) * col("ss") - col("s") * col("s"))
      .filter(col("znum") > lit(9L) * col("zden"))
      .select(col("bucket"), col("n"), col("s").as("trail_sum"),
        col("znum").as("z2_num"), col("zden").as("z2_den"))
      .orderBy("bucket")
  }

  val eventAnomaly = QueryDef(
    "event_anomaly",
    """WITH e AS (
      |  SELECT epoch_us(ts) // 600000000 AS bucket
      |  FROM events WHERE event_type = 'purchase'
      |), b AS (SELECT min(bucket) AS lo, max(bucket) AS hi FROM e),
      |spine AS (SELECT unnest(generate_series(lo, hi)) AS bucket FROM b),
      |c AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n FROM e GROUP BY bucket),
      |s AS (
      |  SELECT sp.bucket, coalesce(c.n, 0) AS n
      |  FROM spine sp LEFT JOIN c ON sp.bucket = c.bucket
      |), t AS (
      |  SELECT bucket, n,
      |         count(*) OVER w AS hist,
      |         CAST(sum(n) OVER w AS BIGINT) AS s,
      |         CAST(sum(n * n) OVER w AS BIGINT) AS ss
      |  FROM s WINDOW w AS (ORDER BY bucket ROWS BETWEEN 6 PRECEDING
      |                      AND 1 PRECEDING)
      |)
      |SELECT bucket, n, s AS trail_sum,
      |       CAST((6 * n - s) * (6 * n - s) AS BIGINT) AS z2_num,
      |       CAST(6 * ss - s * s AS BIGINT) AS z2_den
      |FROM t WHERE hist = 6 AND (6 * n - s) * (6 * n - s) > 9 * (6 * ss - s * s)
      |ORDER BY bucket""".stripMargin) { (s, d) =>
    rateAnomalies(
      Tables.events(s, d).filter(col("event_type") === "purchase"),
      bucketUs = 600000000L, trail = 6)
  }

  /** Interval-OVERLAP join — the third member of the interval family
    * (`join_range` joins value ranges, `intervalJoin` joins points within
    * a gap; this joins SPANS that intersect): pairs of intervals with
    * a.s ≤ b.e AND b.s ≤ a.e (inclusive — touching endpoints overlap).
    *
    * Scale shape: each interval explodes to the band buckets its span
    * covers (bounded by span/band + 1), candidates meet on the bucket
    * equi key, and each qualifying pair is kept exactly ONCE — in the
    * first bucket both occupy, bucket == max(bucket(a.s), bucket(b.s)),
    * which for an overlapping pair always lies inside both spans (the
    * max of starts is ≤ the min of ends). No distinct, no cartesian;
    * candidate sets are bounded by per-bucket occupancy at any N. */
  def overlapJoin(intervals: DataFrame, bandUs: Long): DataFrame = {
    def side(p: String) = intervals.select(
      col("user_id").as(s"${p}_user"), col("session_id").as(s"${p}_sid"),
      col("s_eus").as(s"${p}_s"), col("e_eus").as(s"${p}_e"))
    val a = side("a").withColumn("bucket",
      explode(expr(s"sequence(a_s div $bandUs, a_e div $bandUs)")))
    val b = side("b").withColumn("bucket",
      explode(expr(s"sequence(b_s div $bandUs, b_e div $bandUs)")))
    a.join(b, Seq("bucket"))
      .filter(col("a_user") < col("b_user") &&
        col("a_s") <= col("b_e") && col("b_s") <= col("a_e") &&
        col("bucket") === greatest(expr(s"a_s div $bandUs"),
          expr(s"b_s div $bandUs")))
      .drop("bucket")
  }

  val joinOverlap = QueryDef(
    "join_overlap",
    s"""$sessionIdsCte, sess AS (
      |  SELECT user_id, session_id, min(eus) AS s_eus, max(eus) AS e_eus
      |  FROM sid GROUP BY user_id, session_id
      |)
      |SELECT a.user_id AS a_user, b.user_id AS b_user,
      |       CAST(count(*) AS BIGINT) AS n_overlaps,
      |       CAST(sum(least(a.e_eus, b.e_eus) - greatest(a.s_eus, b.s_eus))
      |         AS BIGINT) AS overlap_us
      |FROM sess a JOIN sess b ON a.user_id < b.user_id
      |  AND a.s_eus <= b.e_eus AND b.s_eus <= a.e_eus
      |GROUP BY a_user, b_user
      |ORDER BY a_user, b_user""".stripMargin) { (s, d) =>
    // concurrent-session analysis: which user pairs are active at the
    // same time, and for how long — sessions as the interval relation
    val sess = sessionize(Tables.events(s, d))
      .select(col("user_id"), col("session_id"),
        unix_micros(col("t_start").cast("timestamp")).as("s_eus"),
        unix_micros(col("t_end").cast("timestamp")).as("e_eus"))
    overlapJoin(sess, bandUs = 3600000000L)
      .groupBy(col("a_user"), col("b_user"))
      .agg(count(lit(1)).as("n_overlaps"),
        sum(least(col("a_e"), col("b_e")) - greatest(col("a_s"), col("b_s")))
          .as("overlap_us"))
      .orderBy("a_user", "b_user")
  }

  /** End-to-end streaming INGESTION under the oracle hash: an actual
    * running Structured Streaming query, file source → filter →
    * idempotent foreachBatch parquet sink → landed table (the other
    * `stream_*` batch-form keys prove their streaming equivalence only
    * in StreamingSpec). Runs through `StreamOps.fileStream`.
    *
    * The staged input is split into 3 batches, so the query really
    * executes 3 microbatches through the checkpoint path. The sink lands
    * RAW filtered rows (no aggregate), which makes the landed relation
    * independent of batch slicing: the read-back aggregate is the batch
    * answer, which is exactly the exactly-once claim the key certifies
    * (the crash-replay half is proven in StreamingSpec on the same
    * `parquetBatchWriter`).
    *
    * At scale this is the standard landing pipeline: each microbatch is a
    * distributed parquet job into its own `batch_id=` partition; the
    * read-back aggregate shuffles once on user_id. */
  val streamFileSink = QueryDef(
    "stream_file_sink",
    """SELECT user_id, CAST(count(*) AS BIGINT) AS n_purchases,
      |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM events WHERE event_type = 'purchase'
      |GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
    // stage only the columns the pipeline touches (scan-stage pruning
    // applies to the staging write like any other query)
    StreamOps.fileStream(s, d, "ssink",
      Tables.events(s, d).select("event_id", "user_id", "event_type", "value")
        .withColumn("b", pmod(col("event_id"), lit(3)).cast("int")),
      StreamOps.FileSink.batches) { source =>
      source().filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "value")
    }
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_purchases"),
        sum(dec(col("value"))).cast("double").as("sum_value"))
      .orderBy("user_id")
  }

  /** CHECKPOINT RECOVERY under the oracle hash: the other checkpointed
    * file-stream gates prove state persistence WITHIN a run; this key
    * proves recovery ACROSS a restart, which is what checkpoints are
    * for. `StreamOps.restartResumeLanded` runs a checkpointed
    * complete-mode aggregation over half the staged batches, `stop()`s,
    * lands the other half, and starts a NEW query from the same
    * checkpoint; the gated relation is the final landed snapshot, which
    * equals the batch aggregate over ALL events iff both the offset log
    * (no re-read of committed files) and the state store (no loss of
    * pre-restart aggregates) recovered exactly — either failure doubles
    * or halves counts and fails the hash. StreamingSpec additionally
    * pins the no-duplicate-consumption counts per query life. */
  val streamRestartResume = QueryDef(
    "stream_restart_resume",
    """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
      |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
    val (snapshot, _, _) = StreamOps.restartResumeLanded(s, d, "srestart",
      Tables.events(s, d).select(col("event_id"), col("user_id"), col("value"),
        pmod(col("event_id"), lit(6)).cast("int").as("b")),
      restartAt = 3)
    snapshot.orderBy("user_id")
  }

  /** ARBITRARY STATEFUL PROCESSING under the driver's hash — the
    * `flatMapGroupsWithState` surface the session_window keys can't
    * reach (custom per-key state, incremental emission on event-time
    * timeout), run as an ACTUAL streaming query through
    * `StreamOps.fileStream`: events staged to files → readStream (real
    * microbatches through the checkpoint) →
    * `StreamOps.statefulSessionsWatermarked` (per-user session-list
    * state, sessions emit exactly when the watermark passes last+gap) →
    * idempotent foreachBatch parquet sink → landed per-session relation,
    * which must equal BATCH `sessionize` exactly (the oracle replays the
    * batch form).
    *
    * Determinism scaffold: the watermark delay (90 days) exceeds the
    * corpus span, so no real event can be late in ANY file order — the
    * stateful operator's exact-batch-parity guarantee applies
    * unconditionally (StreamingSpec proves the tight-watermark behavior:
    * late-drop, bridging, timeout emission). The flush sentinel (a
    * far-future event on user −1) is staged as the last batch, so it is
    * consumed after every real file; its batch advances the watermark
    * past every real session and the engine's no-data batch fires every
    * timeout. At scale the tight-watermark form bounds state by the
    * disorder horizon; the wide delay here trades that bound for
    * hash-exact parity (state = all open sessions, user-bounded). */
  val streamStatefulSession = QueryDef(
    "stream_stateful_session",
    s"""$sessionIdsCte
       |SELECT user_id, min(eus) AS s_eus, max(eus) AS e_eus,
      |       CAST(count(*) AS BIGINT) AS n_events
      |FROM sid GROUP BY user_id, session_id
      |ORDER BY user_id, s_eus""".stripMargin) { (s, d) =>
    def tagged = {
      val ev = Tables.events(s, d)
      ev.select(col("user_id"), col("ts"),
          pmod(col("event_id"), lit(3)).cast("int").as("b"))
        .unionByName(s.range(1).select(lit(-1L).as("user_id"),
          lit("2025-01-01 00:00:00").cast(ev.schema("ts").dataType).as("ts"),
          lit(3).as("b")))
    }
    StreamOps.fileStream(s, d, "sstate", tagged, StreamOps.FileSink.batches) {
      source => StreamOps
        .statefulSessionsWatermarked(source(), gapUs = 1800000000L,
          watermark = "2160 hours")
        .toDF("user_id", "s_eus", "e_eus", "n_events")
    }
      .filter(col("user_id") >= 0)
      .orderBy("user_id", "s_eus")
  }

  /** STREAMING CDC-apply — `merge_cdc`'s changelog squash run as an
    * actual streaming query through `StreamOps.fileStream`: the
    * purchase/error changelog staged to files, consumed in real
    * microbatches through a checkpoint, each batch MERGED into a
    * versioned keyed parquet state by `StreamOps.cdcMergeWriter` (per-key
    * arg-max by event_id — associative, commutative, idempotent, so
    * batch slicing, file pick order and crash replay all land the same
    * fixpoint; tombstones kept in state so a delete can outrank an upsert
    * arriving later with an older sequence number, and filtered here at
    * read time). The oracle replays the squash as one batch aggregate —
    * the hash certifies the incremental cross-batch merge reaches exactly
    * the batch answer, which is the exactly-once claim for a MERGE sink
    * (the lakehouse streaming-ingest shape: Debezium feed → foreachBatch
    * MERGE INTO).
    *
    * At scale each version write is one keyed shuffle of
    * (previous state ⋈ squashed batch); state is key-bounded, versions
    * batch-bounded (compaction is `maintenance_compact`'s job). */
  val streamUpsertSink = QueryDef(
    "stream_upsert_sink",
    """WITH cdc AS (
      |  SELECT user_id AS k, arg_max(event_type, event_id) AS op,
      |         arg_max(value, event_id) AS v, max(event_id) AS eid
      |  FROM events WHERE event_type IN ('purchase', 'error')
      |  GROUP BY user_id
      |)
      |SELECT k % 10 AS residue, CAST(count(*) AS BIGINT) AS n_keys,
      |       CAST(sum(CAST(round(v * 100, 0) AS BIGINT)) AS BIGINT)
      |         AS sum_cents,
      |       CAST(max(eid) AS BIGINT) AS max_eid
      |FROM cdc WHERE op = 'purchase'
      |GROUP BY residue ORDER BY residue""".stripMargin) { (s, d) =>
    StreamOps.fileStream(s, d, "usink",
      Tables.events(s, d)
        .filter(col("event_type").isin("purchase", "error"))
        .select(col("user_id").as("k"), col("event_type").as("op"),
          col("value").as("v"), col("event_id"),
          pmod(col("event_id"), lit(3)).cast("int").as("b")),
      StreamOps.FileSink.cdcMerge)(_())
      .filter(col("op") =!= "error")
      .groupBy((col("k") % 10).as("residue"))
      .agg(count(lit(1)).as("n_keys"),
        sum(round(col("v") * 100, 0).cast("long")).as("sum_cents"),
        max(col("event_id")).as("max_eid"))
      .orderBy("residue")
  }

  /** DAU / rolling-7-day WAU / stickiness per day — the engagement
    * report every event pipeline ships. Rolling DISTINCT users defeats
    * pre-aggregation (a 7-day distinct is not the sum of dailies), so
    * the scalable form is the CONTRIBUTION EXPLODE: dedup to (user, day)
    * once, explode each user-day to the ≤7 target days it makes the user
    * active for, dedup (user, target-day), count per day — work is a
    * fixed ×7 of the user-day relation, every step a keyed shuffle or
    * combinable count, never a per-day window over raw events and never
    * count_distinct over a RANGE frame (which Spark cannot do without
    * re-scanning each frame). The corpus edge is a 1-row max-day
    * broadcast; stickiness is the exact integer DAU·10⁶ div WAU (the
    * event_attribution micro-unit discipline). */
  val eventActiveUsers = QueryDef(
    "event_active_users",
    """WITH ud AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
      |), span AS (
      |  SELECT max(day) AS max_day FROM ud
      |), dau AS (
      |  SELECT day, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY day
      |), contrib AS (
      |  SELECT DISTINCT ud.user_id, ud.day + CAST(i AS INT) AS day
      |  FROM ud, unnest(generate_series(0, 6)) AS t(i)
      |), wau AS (
      |  SELECT c.day, CAST(count(*) AS BIGINT) AS wau
      |  FROM contrib c, span WHERE c.day <= span.max_day
      |  GROUP BY c.day
      |)
      |SELECT d.day, d.dau, w.wau,
      |       CAST(d.dau * 1000000 // w.wau AS BIGINT) AS stick_ppm
      |FROM dau d JOIN wau w ON d.day = w.day
      |ORDER BY d.day""".stripMargin) { (s, d) =>
    val ud = Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val maxDay = ud.agg(max(col("day")).as("max_day"))
    val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
    val wau = ud
      .select(col("user_id"), explode(expr("sequence(0, 6)")).as("i"),
        col("day"))
      .select(col("user_id"), expr("date_add(day, i)").as("day"))
      .distinct()
      .crossJoin(broadcast(maxDay))
      .filter(col("day") <= col("max_day"))
      .groupBy("day").agg(count(lit(1)).as("wau"))
    dau.join(wau, "day")
      .select(col("day"), col("dau"), col("wau"),
        expr("dau * 1000000L div wau").as("stick_ppm"))
      .orderBy("day")
  }

  /** First-order Markov transition model over per-user event-type
    * sequences — the normalized counterpart of `event_paths` (which mines
    * raw top-k trigrams): for every (src → dst) transition the count and
    * its probability within src's outgoing distribution, in integer PPM
    * (floor division — the event_attribution micro-unit discipline, so
    * the relation is BIGINT-exact in both engines; `div` trunc ≡ `//`
    * floor on these non-negative counts).
    *
    * Scale: one user_id shuffle + sort feeds the lead window (the
    * event_paths shape); transition counts are combinable partial aggs
    * into an |event_type|²-bounded state, and the row-count totals join
    * is over that bounded relation — nothing downstream of the window
    * scales with the corpus. */
  val eventMarkov = QueryDef(
    "event_markov",
    """WITH seq AS (
      |  SELECT user_id, event_type,
      |         lead(event_type) OVER (PARTITION BY user_id
      |                                ORDER BY ts, event_id) AS next_type
      |  FROM events
      |), cnt AS (
      |  SELECT event_type AS src, next_type AS dst, CAST(count(*) AS BIGINT) AS n
      |  FROM seq WHERE next_type IS NOT NULL GROUP BY src, dst
      |), tot AS (
      |  SELECT src, CAST(sum(n) AS BIGINT) AS t FROM cnt GROUP BY src
      |)
      |SELECT c.src, c.dst, c.n, CAST((1000000 * c.n) // t.t AS BIGINT) AS p_ppm
      |FROM cnt c JOIN tot t ON c.src = t.src
      |ORDER BY c.src, c.dst""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val cnt = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("src"), col("next_type").as("dst"))
      .agg(count(lit(1)).as("n"))
    val tot = cnt.groupBy(col("src").as("t_src"))
      .agg(sum(col("n")).as("t"))
    cnt.join(tot, col("src") === col("t_src"))
      .select(col("src"), col("dst"), col("n"),
        expr("(1000000 * n) div t").as("p_ppm"))
      .orderBy("src", "dst")
  }

  /** LEFT OUTER interval join — the unmatched-detection form of
    * `stream_join` ("views that never got a click inside 30 minutes"):
    * per user the view count, qualifying pair count, and the number of
    * views with NO click in their window. Its streaming form, a
    * left-outer stream-stream join (null rows emitted only once the
    * watermark proves absence), is driven in StreamingSpec on the same
    * condition shape.
    *
    * Plan: the inner pair side reuses the banded `intervalJoin`
    * (gap-bucket equi candidates, never per-user cartesian); outer-ness
    * is recovered as counts — matched views from the pair relation,
    * unmatched as n_views − n_matched — so no null rows are ever
    * materialized and every aggregate is combinable. Three user_id-keyed
    * shuffles, all bounded by the view/pair relations at any scale. */
  val streamJoinOuter = QueryDef(
    "stream_join_outer",
    """WITH e AS (
      |  SELECT user_id, event_type, event_id, epoch_us(ts) AS eus FROM events
      |), v AS (
      |  SELECT user_id, event_id, eus FROM e WHERE event_type = 'view'
      |), c AS (
      |  SELECT user_id, event_id, eus FROM e WHERE event_type = 'click'
      |), j AS (
      |  SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id
      |  FROM v LEFT JOIN c ON v.user_id = c.user_id
      |    AND c.eus - v.eus > 0 AND c.eus - v.eus <= 1800000000
      |)
      |SELECT user_id,
      |  CAST(count(DISTINCT view_id) AS BIGINT) AS n_views,
      |  CAST(count(click_id) AS BIGINT) AS n_pairs,
      |  CAST(count(DISTINCT CASE WHEN click_id IS NULL THEN view_id END) AS BIGINT)
      |    AS n_unmatched
      |FROM j GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val v = ev.filter(col("event_type") === "view")
    val pairs = intervalJoin(v, ev.filter(col("event_type") === "click"),
      maxGapUs = 1800000000L)
    val perPairs = pairs.groupBy("user_id")
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("l_event_id")).as("n_matched"))
    v.groupBy("user_id").agg(count(lit(1)).as("n_views"))
      .join(perPairs, Seq("user_id"), "left")
      .select(col("user_id"), col("n_views"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        (col("n_views") - coalesce(col("n_matched"), lit(0L))).as("n_unmatched"))
      .orderBy("user_id")
  }

  /** RFM segmentation — the recency/frequency/monetary user scoring every
    * growth/CRM pipeline derives from the event stream: per user, days
    * since last purchase (vs the fixed 2024-02-01 anchor — corpus is
    * January 2024), purchase count, and exact-DECIMAL spend; each
    * dimension scored 1-3 by fixed thresholds and users rolled up per
    * (r, f, m) cell. ONE combinable per-user aggregate (3 counters), a
    * scan-stage score projection, and a ≤27-cell rollup — two keyed
    * shuffles at any corpus size, state bounded by users then by cells.
    * Thresholds live on integer day counts and BIGINT cents (spend
    * scored on the exact DECIMAL sum ×100 — no double compare).
    */
  val eventRfm = QueryDef(
    "event_rfm",
    """WITH p AS (
      |  SELECT user_id, CAST(ts AS DATE) AS d, value
      |  FROM events WHERE event_type = 'purchase'
      |), u AS (
      |  SELECT user_id,
      |    DATE '2024-02-01' - max(d) AS rec_days,
      |    CAST(count(*) AS BIGINT) AS freq,
      |    CAST(sum(CAST(floor(CAST(value AS DECIMAL(18,4)) * 100) AS BIGINT))
      |      AS BIGINT) AS cents
      |  FROM p GROUP BY user_id
      |), s AS (
      |  SELECT user_id,
      |    CASE WHEN rec_days <= 7 THEN 3 WHEN rec_days <= 14 THEN 2 ELSE 1 END AS r,
      |    CASE WHEN freq >= 15 THEN 3 WHEN freq >= 8 THEN 2 ELSE 1 END AS f,
      |    CASE WHEN cents >= 150000 THEN 3 WHEN cents >= 75000 THEN 2 ELSE 1 END AS m,
      |    cents
      |  FROM u
      |)
      |SELECT r, f, m, CAST(count(*) AS BIGINT) AS n_users,
      |       CAST(sum(cents) AS BIGINT) AS seg_cents
      |FROM s GROUP BY r, f, m ORDER BY r, f, m""".stripMargin) { (s, d) =>
    val perUser = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(
        datediff(lit("2024-02-01").cast("date"), max(col("ts").cast("date")))
          .as("rec_days"),
        count(lit(1)).as("freq"),
        // integer cents PER ROW via explicit floor on the exact decimal,
        // identical on both engines (a bare decimal→long
        // cast truncates toward zero in Spark but rounds in DuckDB — they
        // agreed only because 2-dp values make sum×100 integral)
        sum(floor(dec(col("value")) * 100).cast("long")).as("cents"))
    perUser
      .select(
        when(col("rec_days") <= 7, 3).when(col("rec_days") <= 14, 2)
          .otherwise(1).as("r"),
        when(col("freq") >= 15, 3).when(col("freq") >= 8, 2)
          .otherwise(1).as("f"),
        when(col("cents") >= 150000L, 3).when(col("cents") >= 75000L, 2)
          .otherwise(1).as("m"),
        col("cents"))
      .groupBy("r", "f", "m")
      .agg(count(lit(1)).as("n_users"), sum(col("cents")).as("seg_cents"))
      .orderBy("r", "f", "m")
  }

  /** Sequence-pattern matching over per-user event streams —
    * MATCH_RECOGNIZE-lite: each user's (ts, event_id)-ordered event-type
    * initials collapse to ONE string, and row-pattern predicates become
    * plain regexes over it ('v[cv]*p' = a view leading through
    * clicks/views to a purchase; 'ee' = consecutive errors; '^s' =
    * signup-first user). The complement of `event_paths` (fixed-length
    * trigrams) and `event_funnel` (fixed stage order with arbitrary
    * gaps): patterns here express ADJACENCY and repetition. One user_id
    * shuffle builds the sequences (per-user state bounded by that user's
    * activity — the sessionize bound, not corpus-sized); the pattern
    * flags are scan-stage regexes over the sequence relation and the
    * final rollup is one combinable row. Patterns sit in the Java∩RE2
    * intersection (fn_regex discipline); initials are distinct across
    * the 5 event types, so the encoding is lossless.
    */
  val eventSeqMatch = QueryDef(
    "event_seq_match",
    """WITH seqs AS (
      |  SELECT user_id,
      |         string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
      |           AS seq
      |  FROM events GROUP BY user_id
      |)
      |SELECT CAST(count(*) AS BIGINT) AS n_users,
      |  CAST(sum(CASE WHEN regexp_matches(seq, 'v[cv]*p') THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_browse_buy,
      |  CAST(sum(CASE WHEN regexp_matches(seq, 'ee') THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_double_err,
      |  CAST(sum(CASE WHEN regexp_matches(seq, '^s') THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_signup_first,
      |  CAST(sum(length(seq)) AS BIGINT) AS n_events
      |FROM seqs""".stripMargin) { (s, d) =>
    val seqs = Tables.events(s, d)
      .select(col("user_id"),
        struct(col("ts"), col("event_id"),
          substring(col("event_type"), 1, 1).as("i")).as("st"))
      .groupBy("user_id")
      .agg(concat_ws("",
        transform(array_sort(collect_list(col("st"))), x => x.getField("i")))
        .as("seq"))
    seqs.agg(
      count(lit(1)).as("n_users"),
      sum(when(col("seq").rlike("v[cv]*p"), 1L).otherwise(0L))
        .as("n_browse_buy"),
      sum(when(col("seq").rlike("ee"), 1L).otherwise(0L)).as("n_double_err"),
      sum(when(col("seq").rlike("^s"), 1L).otherwise(0L))
        .as("n_signup_first"),
      sum(length(col("seq")).cast("long")).as("n_events"))
  }

  /** Seasonal-naive forecast BACKTEST — the evaluation loop every
    * demand/traffic forecasting pipeline runs before trusting a model:
    * predict each day's purchase count as the SAME WEEKDAY one week
    * earlier (period-7 seasonal naive — the baseline every real model
    * must beat) and report per-day actual, forecast and absolute error
    * over the window that has a 7-day predecessor. Everything is exact
    * integers (counts and their differences); the "model" is one
    * date-shifted self-join of the per-day rollup — at 100 TB the daily
    * rollup is the only corpus-touching pass (one combinable groupBy),
    * and the backtest join runs on the days-sized relation. A real
    * horizon/champion-challenger backtest swaps the forecast projection;
    * the join-actuals-to-lagged-forecast shape is this one. */
  val eventForecastBacktest = QueryDef(
    "event_forecast_backtest",
    """WITH daily AS (
      |  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
      |  FROM events WHERE event_type = 'purchase' GROUP BY day
      |)
      |SELECT a.day, a.n AS n_actual, f.n AS n_forecast,
      |       CAST(abs(a.n - f.n) AS BIGINT) AS abs_err
      |FROM daily a JOIN daily f ON a.day = f.day + 7
      |ORDER BY a.day""".stripMargin) { (s, d) =>
    val daily = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val fc = daily.select(date_add(col("day"), 7).as("day"),
      col("n").as("n_forecast"))
    daily.join(fc, "day")
      .select(col("day"), col("n").as("n_actual"), col("n_forecast"),
        abs(col("n") - col("n_forecast")).as("abs_err"))
      .orderBy("day")
  }

  /** A/B experiment report — the analysis pass behind every product
    * experiment: users assigned to variants by the deterministic md5
    * keep rule (sample_split discipline — retry-safe, no rand(), the
    * assignment an experimentation platform derives from the user id),
    * per-variant exposed-user and converted-user counts (converted =
    * ≥ 1 purchase), and the conversion rate in exact integer PPM. One
    * per-user aggregate (combinable min/max over the event stream) +
    * one ≤2-row variant rollup — two keyed shuffles at any corpus
    * size; the lift computation is driver-free integer arithmetic. */
  val eventAbTest = QueryDef(
    "event_ab_test",
    """WITH u AS (
      |  SELECT user_id,
      |    CASE WHEN CAST('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)),
      |      1, 8) AS BIGINT) % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
      |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
      |  FROM events GROUP BY user_id
      |)
      |SELECT variant, CAST(count(*) AS BIGINT) AS n_users,
      |       CAST(sum(converted) AS BIGINT) AS n_converted,
      |       CAST((1000000 * sum(converted)) // count(*) AS BIGINT) AS conv_ppm
      |FROM u GROUP BY variant ORDER BY variant""".stripMargin) { (s, d) =>
    val h = conv(substring(md5(concat(lit("ab:"),
      col("user_id").cast("string"))), 1, 8), 16, 10).cast("long")
    val u = Tables.events(s, d)
      .select(col("user_id"),
        when(h % 2 === 0, "A").otherwise("B").as("variant"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("p"))
      .groupBy("user_id", "variant")
      .agg(max(col("p")).as("converted"))
    u.groupBy("variant")
      .agg(count(lit(1)).as("n_users"),
        sum(col("converted")).as("n_converted"),
        expr("(1000000L * sum(converted)) div count(1)").as("conv_ppm"))
      .orderBy("variant")
  }

  /** Survival (churn) table over user lifespans — the Kaplan-Meier-style
    * life table a retention analysis starts from: per observed lifespan t
    * (days between a user's first and last event), how many users were
    * still "alive" at t (n_at_risk — the reverse cumulative count) and
    * how many ended exactly at t, plus the survival fraction in exact
    * integer PPM of the cohort. Scale shape: ONE per-user combinable
    * min/max aggregate is the only corpus-touching pass; everything
    * after (the lifespan histogram, the reverse running sum, the ppm)
    * runs on the days-sized relation, where the single-partition window
    * is BOUNDED by the observation window length, not the corpus (the
    * sort_nulls convention). Day bucketing on epoch-day BIGINTs so both
    * engines bin identically; rows exist only at OBSERVED lifespans
    * (the classic life table is event-time-indexed). */
  val eventSurvival = QueryDef(
    "event_survival",
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events
      |), ls AS (
      |  SELECT user_id, max(day) - min(day) AS t FROM e GROUP BY user_id
      |), ended AS (
      |  SELECT t, CAST(count(*) AS BIGINT) AS n_ended FROM ls GROUP BY t
      |), sv AS (
      |  SELECT t, n_ended,
      |         CAST(sum(n_ended) OVER (ORDER BY t DESC) AS BIGINT) AS n_at_risk,
      |         CAST(sum(n_ended) OVER () AS BIGINT) AS n_total
      |  FROM ended
      |)
      |SELECT t, n_at_risk, n_ended,
      |       (n_at_risk * 1000000) // n_total AS survival_ppm
      |FROM sv ORDER BY t""".stripMargin) { (s, d) =>
    survivalTable(Tables.events(s, d))
  }

  /** The life-table kernel behind `event_survival`, over any (user_id,
    * ts) event stream — factored so EdgeSpec can pin the reverse
    * cumulative and the ppm floor on a planted log. */
  def survivalTable(ev: DataFrame): DataFrame = {
    val ls = ev
      .select(col("user_id"), eus.as("eus"))
      .select(col("user_id"), bucketDiv("eus", 86400000000L).as("day"))
      .groupBy("user_id")
      .agg((max(col("day")) - min(col("day"))).as("t"))
    val ended = ls.groupBy("t").agg(count(lit(1)).as("n_ended"))
    val cum = Window.orderBy(col("t").desc)
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy()
    ended
      .select(col("t"), col("n_ended"),
        sum(col("n_ended")).over(cum).as("n_at_risk"),
        sum(col("n_ended")).over(tot).as("n_total"))
      .select(col("t"), col("n_at_risk"), col("n_ended"),
        expr("(n_at_risk * 1000000) div n_total").as("survival_ppm"))
      .orderBy("t")
  }

  /** The gap-filling observation spine shared by `events_ffill` and
    * `events_interp` — one definition of the per-(user, day) closing
    * value and the per-user [first, last] day spine, so the pick
    * tie-break and the spine bounds cannot drift between the two fill
    * keys: (user_id, day, v) with v null on gap days; the day's
    * closing value is latest by (ts, event_id) — both engines'
    * identical tie rule — and the spine endpoints are observed by
    * construction. */
  def dailyObsSpine(ev: DataFrame): DataFrame = {
    val e = ev
      .select(col("user_id"), col("event_id"), col("value"), eus.as("eus"))
      .withColumn("day", bucketDiv("eus", 86400000000L))
    val pick = Window.partitionBy("user_id", "day")
      .orderBy(col("eus").desc, col("event_id").desc)
    val obs = e.withColumn("rn", row_number().over(pick))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("day"), col("value").as("v"))
    val spine = e.groupBy("user_id")
      .agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      .select(col("user_id"), explode(sequence(col("lo"), col("hi"))).as("day"))
    spine.join(obs, Seq("user_id", "day"), "left")
  }

  /** DuckDB twin of `dailyObsSpine`: the spine `j` (user_id, day, v). */
  private val dailyObsSpineCte =
    """WITH e AS (
      |  SELECT user_id, event_id, value, epoch_us(ts) AS eus,
      |         epoch_us(ts) // 86400000000 AS day
      |  FROM events
      |), obs AS (
      |  SELECT user_id, day, value AS v FROM (
      |    SELECT user_id, day, value,
      |           row_number() OVER (PARTITION BY user_id, day
      |                              ORDER BY eus DESC, event_id DESC) AS rn
      |    FROM e) WHERE rn = 1
      |), b AS (
      |  SELECT user_id, min(day) AS lo, max(day) AS hi FROM e GROUP BY user_id
      |), spine AS (
      |  SELECT user_id, unnest(generate_series(lo, hi)) AS day FROM b
      |), j AS (
      |  SELECT s.user_id, s.day, obs.v
      |  FROM spine s LEFT JOIN obs ON s.user_id = obs.user_id AND s.day = obs.day
      |)""".stripMargin

  /** Forward-fill (LOCF) onto a per-user daily spine — the panel-data
    * completion every feature store / sensor pipeline runs (pandas
    * ffill at engine scale): `events_resample` fills COUNT gaps with
    * zeros; THIS carries the last observed VALUE across gap days. Per
    * user and day, the day's closing value (latest by (ts, event_id) —
    * a keyed row_number pick, both engines' tie rule identical), a
    * spine of every day in the user's own [first, last] activity span
    * (sequence+explode — bounded by users × span days, never corpus
    * size), and last-observation-carried-forward via the ignoreNulls
    * last() frame. The first spine day is observed by construction
    * (the span starts at an event), so the filled value is never null.
    * The double value is CARRIED, never computed on (determinism class
    * (a) — a raw stored double both engines pass through bit-exact).
    *
    * Scale shape: one (user, day)-keyed pick, one user-keyed min/max
    * aggregate, one user-keyed LOCF window — all linear keyed shuffles;
    * the spine join parallelizes on the same user key. */
  val eventsFfill = QueryDef(
    "events_ffill",
    s"""$dailyObsSpineCte
       |SELECT user_id, CAST(day AS BIGINT) AS day,
       |       last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ffill,
      |       (v IS NOT NULL) AS observed
      |FROM j ORDER BY user_id, day LIMIT 500""".stripMargin) { (s, d) =>
    val locf = Window.partitionBy("user_id").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dailyObsSpine(Tables.events(s, d))
      .select(col("user_id"), col("day"),
        last(col("v"), ignoreNulls = true).over(locf).as("value_ffill"),
        col("v").isNotNull.as("observed"))
      .orderBy("user_id", "day").limit(500)
  }

  /** LINEAR TIME-SERIES INTERPOLATION onto the per-user daily spine —
    * the continuous-signal sibling of `events_ffill` (LOCF carries a
    * step function; a sensor/metric feature pipeline lerps between the
    * bracketing observations instead — pandas `interpolate('linear')`
    * at engine scale). Same spine construction as ffill: per (user,
    * day) closing value by the identical keyed row_number pick, a
    * sequence+explode spine over the user's own [first, last] activity
    * span. The bracketing observations come from the TWO one-pass
    * ignoreNulls window fills — last() over the preceding frame (LOCF)
    * and first() over the following frame (NOCB) — never a self-join
    * or per-gap as-of probe. Both frames INCLUDE the current row and
    * the spine's endpoints are observed by construction, so prev/next
    * are always defined; on an observed day prev == next and the lerp
    * denominator would be 0, so that branch returns the stored value
    * unchanged. The filled value is
    *   v_prev + (v_next − v_prev) · (day − d_prev)/(d_next − d_prev)
    * with the ratio computed as a double of exact BIGINT differences —
    * determinism class (c): bit-identical operands through the
    * identical IEEE operation tree on both engines.
    *
    * Scale shape: identical to ffill — one (user, day)-keyed pick, one
    * user-keyed span aggregate, two user-keyed window passes over the
    * spine (one exchange: both windows share the user_id partitioning;
    * the second sorts within the same partition). Nothing grows faster
    * than users × span days. */
  val eventsInterp = QueryDef(
    "events_interp",
    s"""$dailyObsSpineCte, f AS (
      |  SELECT user_id, day, v,
      |    last_value(v IGNORE NULLS) OVER wf AS v_prev,
      |    last_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
      |      OVER wf AS d_prev,
      |    first_value(v IGNORE NULLS) OVER wb AS v_next,
      |    first_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
      |      OVER wb AS d_next
      |  FROM j
      |  WINDOW wf AS (PARTITION BY user_id ORDER BY day
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |         wb AS (PARTITION BY user_id ORDER BY day
      |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
      |)
      |SELECT user_id, CAST(day AS BIGINT) AS day,
      |       CASE WHEN d_next = d_prev THEN v_prev
      |            ELSE v_prev + (v_next - v_prev) *
      |              (CAST(day - d_prev AS DOUBLE) / CAST(d_next - d_prev AS DOUBLE))
      |       END AS value_interp,
      |       (v IS NOT NULL) AS observed
      |FROM f ORDER BY user_id, day LIMIT 500""".stripMargin) { (s, d) =>
    val wf = Window.partitionBy("user_id").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wb = Window.partitionBy("user_id").orderBy("day")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val dayObs = when(col("v").isNotNull, col("day"))
    dailyObsSpine(Tables.events(s, d))
      .select(col("user_id"), col("day"), col("v"),
        last(col("v"), ignoreNulls = true).over(wf).as("v_prev"),
        last(dayObs, ignoreNulls = true).over(wf).as("d_prev"),
        first(col("v"), ignoreNulls = true).over(wb).as("v_next"),
        first(dayObs, ignoreNulls = true).over(wb).as("d_next"))
      .select(col("user_id"), col("day"),
        when(col("d_next") === col("d_prev"), col("v_prev"))
          .otherwise(col("v_prev") + (col("v_next") - col("v_prev")) *
            ((col("day") - col("d_prev")).cast("double") /
              (col("d_next") - col("d_prev")).cast("double")))
          .as("value_interp"),
        col("v").isNotNull.as("observed"))
      .orderBy("user_id", "day").limit(500)
  }

  /** CUSUM CHANGE-POINT DETECTION (Page 1954) over the zero-filled
    * daily purchase spine — the sequential LEVEL-SHIFT detector
    * `event_anomaly`'s pointwise z-test can't express: a z-test flags a
    * single wild bucket, CUSUM accumulates small persistent deviations
    * until a sustained shift crosses the decision interval (the
    * data-quality monitor a 100 TB ingestion pipeline runs on its daily
    * volumes). One-sided positive CUSUM, all INTEGER micro-units:
    * reference μ = the mean count of the CALIBRATION PREFIX — the first
    * half of the spine — not the whole series (a reference that
    * includes the shifted segment absorbs the very shift it must
    * detect: with a +60% step over the last third, the whole-series
    * mean rises enough that S never crosses h — the self-contamination
    * every production monitor avoids by calibrating on history), slack
    * k = μ/10, deviation d_t = n_t·10⁶ − μ − k, and the recursion
    * S_t = max(0, S_{t−1} + d_t) computed WITHOUT recursion via the
    * reflection identity S_t = P_t − min(0, min_{i≤t} P_i) (P = prefix
    * sum) — two running windows over the calendar-bounded spine, which
    * is what makes the sequential test expressible as one declarative
    * plan. Alarm at S > 3μ. This fixture is STATIONARY (30 days,
    * CV ≈ 4% at sf0.1), so the gated state is the quiescent half of the
    * contract — zero false alarms at every SF, with the full S_t
    * trajectory hashed; EdgeSpec plants a +60% level shift in a
    * synthetic stream and pins that the alarm fires, with the
    * detection delay, at exactly the replayer's day.
    *
    * Scale: the spine is calendar-bounded (365 rows/year at ANY corpus
    * size), so the single-partition running windows are bounded by the
    * calendar, never the corpus — the event_anomaly discipline. */
  val eventChangepoint = QueryDef(
    "event_changepoint",
    """WITH e AS (
      |  SELECT epoch_us(ts) // 86400000000 AS bucket
      |  FROM events WHERE event_type = 'purchase'
      |), b AS (SELECT min(bucket) AS lo, max(bucket) AS hi FROM e),
      |spine AS (SELECT unnest(generate_series(lo, hi)) AS bucket FROM b),
      |c AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n FROM e GROUP BY bucket),
      |s AS (
      |  SELECT spine.bucket, coalesce(c.n, 0) AS n
      |  FROM spine LEFT JOIN c USING (bucket)
      |), m AS (
      |  SELECT CAST((sum(CASE WHEN bucket <= lo + (hi - lo) // 2 THEN n END)
      |    * 1000000)
      |    // sum(CASE WHEN bucket <= lo + (hi - lo) // 2 THEN 1 END) AS BIGINT)
      |    AS mu
      |  FROM s, b
      |), dev AS (
      |  SELECT bucket, n, mu, n * 1000000 - mu - mu // 10 AS dv FROM s, m
      |), p AS (
      |  SELECT bucket, n, mu,
      |         sum(dv) OVER (ORDER BY bucket
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd
      |  FROM dev
      |)
      |SELECT bucket AS day, n,
      |       CAST(pd - least(min(pd) OVER (ORDER BY bucket
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS BIGINT)
      |         AS cusum_micro,
      |       (pd - least(min(pd) OVER (ORDER BY bucket
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)) > 3 * mu
      |         AS alarm
      |FROM p ORDER BY day""".stripMargin) { (s, d) =>
    cusumDaily(Tables.events(s, d).filter(col("event_type") === "purchase"))
  }

  /** The CUSUM core over any event stream (shared by the gated key and
    * EdgeSpec's planted-shift replay). */
  def cusumDaily(ev: DataFrame): DataFrame = {
    val spine = resampleBuckets(ev, 86400000000L).select("bucket", "n")
      .localCheckpoint() // consumed by bounds, calibration AND the trajectory
    val b = spine.agg(min(col("bucket")).as("lo"), max(col("bucket")).as("hi"))
    val mu = spine.crossJoin(broadcast(b))
      .filter(col("bucket") <= col("lo") + expr("(hi - lo) div 2"))
      .agg(expr("(sum(n) * 1000000) div count(1)").as("mu"))
    val wRun = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.crossJoin(broadcast(mu))
      .select(col("bucket"), col("n"), col("mu"),
        (col("n") * 1000000L - col("mu") - expr("mu div 10")).as("dv"))
      .withColumn("pd", sum(col("dv")).over(wRun))
      .withColumn("cusum_micro",
        col("pd") - least(min(col("pd")).over(wRun), lit(0L)))
      .select(col("bucket").as("day"), col("n"), col("cusum_micro"),
        (col("cusum_micro") > lit(3L) * col("mu")).as("alarm"))
      .orderBy("day")
  }

  /** EMBARGOED TEMPORAL SPLIT — the leakage-safe evaluation split for
    * time-dependent data (the "purged/embargoed" split of de Prado,
    * Advances in Financial Machine Learning ch. 7, and the standard
    * honest eval for any forecasting/ranking model): train = days
    * before the cut minus a 7-day embargo, eval = days at/after the
    * cut, the embargo absorbing the boundary rows whose features/labels
    * straddle it (a random split — `sample_split` — leaks future
    * information backward; the 80% cut is lo + 4·span div 5). The gate
    * also reports the GROUP leakage an embargo cannot fix: per subset,
    * how many of its users are also active in another subset (the
    * signal that tells a pipeline it needs `sample_group_split`
    * instead when identity dominates time). Deterministic integer day
    * arithmetic throughout.
    *
    * Scale: ONE corpus scan lands the day-tagged (day, user) relation
    * (two longs per event — far narrower than the corpus), from which
    * the bounds, the rollup and the user-bounded distinct (subset,
    * user) relation all derive; the leakage count re-joins that
    * distinct relation broadcast. Without the cut the four consumers
    * would each replay the table scan. */
  val sampleTimeSplit = QueryDef(
    "sample_time_split",
    """WITH e AS (
      |  SELECT epoch_us(ts) // 86400000000 AS day, user_id
      |  FROM events
      |), b AS (
      |  SELECT min(day) + 4 * (max(day) - min(day)) // 5 AS cut
      |  FROM e
      |), t AS (
      |  SELECT CASE WHEN day < cut - 7 THEN 'train'
      |              WHEN day < cut THEN 'embargo'
      |              ELSE 'eval' END AS subset, day, user_id
      |  FROM e, b
      |), su AS (SELECT DISTINCT subset, user_id FROM t),
      |multi AS (
      |  SELECT user_id FROM su GROUP BY user_id HAVING count(*) >= 2
      |), leak AS (
      |  SELECT subset, CAST(count(*) AS BIGINT) AS n_shared_users
      |  FROM su JOIN multi USING (user_id) GROUP BY subset
      |)
      |SELECT t.subset, CAST(count(*) AS BIGINT) AS n_events,
      |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
      |       CAST(min(day) AS BIGINT) AS day_lo,
      |       CAST(max(day) AS BIGINT) AS day_hi,
      |       coalesce(any_value(leak.n_shared_users), 0) AS n_shared_users
      |FROM t LEFT JOIN leak ON t.subset = leak.subset
      |GROUP BY t.subset ORDER BY t.subset""".stripMargin) { (s, d) =>
    val e = Tables.events(s, d)
      .select(bucketDiv("unix_micros(cast(ts as timestamp))", 86400000000L)
        .as("day"), col("user_id"))
      .localCheckpoint() // one table scan feeds bounds, rollup AND leakage
    val b = e.agg(expr("min(day) + 4 * (max(day) - min(day)) div 5").as("cut"))
    val t = e.crossJoin(broadcast(b))
      .select(when(col("day") < col("cut") - 7, "train")
        .when(col("day") < col("cut"), "embargo")
        .otherwise("eval").as("subset"), col("day"), col("user_id"))
    val su = t.select("subset", "user_id").distinct()
      .localCheckpoint() // user-bounded, consumed by multi AND leak
    val multi = su.groupBy("user_id").agg(count(lit(1)).as("ns"))
      .filter(col("ns") >= 2).select("user_id")
    val leak = su.join(multi, Seq("user_id"))
      .groupBy("subset").agg(count(lit(1)).as("n_shared_users"))
    t.groupBy("subset")
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        min(col("day")).as("day_lo"), max(col("day")).as("day_hi"))
      .join(broadcast(leak), Seq("subset"), "left")
      .select(col("subset"), col("n_events"), col("n_users"),
        col("day_lo"), col("day_hi"),
        coalesce(col("n_shared_users"), lit(0L)).as("n_shared_users"))
      .orderBy("subset")
  }

  /** REAL WATERMARK LATE-DROP under the oracle hash — the append-mode
    * watermark contract, run through `StreamOps.fileStream`: a window
    * EMITS EXACTLY ONCE when the watermark passes it, its state is
    * evicted, and any row arriving for it afterwards is DROPPED — never
    * re-emitted, never re-opened. Three staged batches consume in the
    * runner's forced order: b0 = days 1–10 minus the odd-event_id rows
    * of days 1–8; b1 = days 11–30 (advances the watermark past the
    * day-1–8 windows, which emit and evict); b2 = the held-back odd rows
    * of days 1–8, arriving AFTER their windows were finalized — the
    * engine must drop every one. A far-future sentinel, staged as the
    * last batch b3, then flushes the surviving windows. The oracle
    * computes daily counts WITHOUT the late rows; a leak would either
    * re-emit the day-1–8 windows (duplicate window rows) or inflate
    * their counts — both fail the hash. (Spark's semantics permit
    * KEEPING a late row whose window is still open, so the gated claim
    * is the hard half of the contract: finalized windows are immutable.)
    *
    * At 100 TB the same query shape runs with trigger-sized batches;
    * lateness capacity is the watermark delay, state is bounded by the
    * windows in flight, and exactly-once emission is what makes an
    * append-mode sink usable as a fact table. */
  val streamLateDrop = QueryDef(
    "stream_late_drop",
    """WITH e AS (
      |  SELECT CAST(ts AS DATE) AS d, event_id FROM events
      |  WHERE NOT (CAST(ts AS DATE) <= DATE '2024-01-08' AND event_id % 2 = 1)
      |)
      |SELECT epoch_us(CAST(d AS TIMESTAMP)) AS win_start_eus,
      |       CAST(count(*) AS BIGINT) AS n
      |FROM e GROUP BY d ORDER BY win_start_eus""".stripMargin) { (s, d) =>
    def tagged = {
      // watermarks require TIMESTAMP (not NTZ); the UTC session makes the
      // cast instant-identical to the oracle's NTZ arithmetic
      val ev = Tables.events(s, d)
        .select(col("ts").cast("timestamp").as("ts"), col("event_id"))
      val day = col("ts").cast("date")
      val lateSlice = day <= lit("2024-01-08").cast("date") &&
        col("event_id") % 2 === 1
      ev.select(col("ts"),
          when(lateSlice, lit(2))
            .when(day <= lit("2024-01-10").cast("date"), lit(0))
            .otherwise(lit(1)).as("b"))
        .unionByName(s.range(1).select(
          lit("2025-01-01 00:00:00").cast("timestamp").as("ts"),
          lit(3).as("b")))
    }
    StreamOps.fileStream(s, d, "latedrop", tagged, StreamOps.FileSink.batches) {
      source => source()
        .withWatermark("ts", "24 hours")
        .groupBy(window(col("ts"), "1 day").as("w"))
        .agg(count(lit(1)).as("n"))
        .select(unix_micros(col("w.start").cast("timestamp")).as("win_start_eus"),
          col("n"))
    }
      // drop the sentinel's own window (it never emits — the watermark
      // stops at it — but guard against a future flush convention)
      .filter(col("win_start_eus") < 1706745600000000L)
      .orderBy("win_start_eus")
  }

  /** REAL CHECKPOINTED STREAM-STREAM JOIN — two-sided join state, run
    * through `StreamOps.fileStream`. The signup and purchase sides read
    * the same staged files as two independent FileStreamSources, and
    * batches are split by event_id % 3 — INTERLEAVED, so ~8/9 of matched
    * pairs have their two sides arrive in DIFFERENT microbatches and can
    * only match through the join's checkpointed state buffers; a state
    * loss or premature eviction drops pairs and fails the hash
    * against the batch-join oracle. No watermark on purpose: an inner
    * stream-stream join without one legally buffers both sides forever,
    * which is exactly what makes every pair's emission GUARANTEED
    * independent of arrival order (the interleaved split makes event time
    * non-monotonic across batches, so any watermark would drop real
    * rows); the production trade-off — watermarks to bound state at the
    * cost of a lateness contract — is `stream_late_drop`'s gated subject.
    * At scale the join state shuffles on user_id like any keyed state;
    * the landed relation re-aggregates per user. */
  val streamJoinSink = QueryDef(
    "stream_join_sink",
    """WITH p AS (
      |  SELECT v.user_id, epoch_us(c.ts) - epoch_us(v.ts) AS gap_us
      |  FROM events v JOIN events c
      |    ON v.user_id = c.user_id
      |   AND v.event_type = 'signup' AND c.event_type = 'purchase'
      |   AND epoch_us(c.ts) - epoch_us(v.ts) > 0
      |   AND epoch_us(c.ts) - epoch_us(v.ts) <= 7200000000
      |)
      |SELECT user_id, CAST(count(*) AS BIGINT) AS n_pairs,
      |       CAST(min(gap_us) AS BIGINT) AS min_gap_us,
      |       CAST(max(gap_us) AS BIGINT) AS max_gap_us
      |FROM p GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
    StreamOps.fileStream(s, d, "sjoin",
      Tables.events(s, d)
        .filter(col("event_type").isin("signup", "purchase"))
        .select(col("ts").cast("timestamp").as("ts"), col("user_id"),
          col("event_type"), col("event_id"),
          pmod(col("event_id"), lit(3)).cast("int").as("b")),
      StreamOps.FileSink.batches) { source =>
      def side(tpe: String, pre: String) = source()
        .filter(col("event_type") === tpe)
        .select(col("user_id").as(s"${pre}_user"), col("ts").as(s"${pre}_ts"),
          col("event_id").as(s"${pre}_id"))
      side("signup", "l").join(side("purchase", "r"),
          expr("l_user = r_user AND r_ts > l_ts AND r_ts <= l_ts + interval 2 hours"))
        .select(col("l_user").as("user_id"),
          (unix_micros(col("r_ts")) - unix_micros(col("l_ts"))).as("gap_us"))
    }
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_pairs"),
        min(col("gap_us")).as("min_gap_us"),
        max(col("gap_us")).as("max_gap_us"))
      .orderBy("user_id")
  }

  /** BOT-REGULARITY detection — the abuse-filter read on event cadence
    * (humans arrive bursty; automation arrives on a clock): per user,
    * the squared coefficient of variation of inter-event gaps, flagged
    * bot when CV² < 0.1 — cross-multiplied to exact integers
    * (10·(n·Σg² − (Σg)²) < (Σg)², gaps in SECONDS so every product
    * stays far under 2⁶³). Every 29th user's events are deterministically
    * RE-TIMED onto a perfect 300 s grid (first-event anchor + rank·300 —
    * the planted-dirt convention) so the bot branch is live at every SF
    * while the other 28/29 exercise the human branch. Plan: two
    * user-keyed window passes (rank/anchor, then lag) + one combinable
    * moment aggregate — the agg_regression shape on a derived series. */
  val eventBotRegularity = QueryDef(
    "event_bot_regularity",
    """WITH e AS (
      |  SELECT user_id, event_id, ts,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
      |    min(epoch_us(ts)) OVER (PARTITION BY user_id) AS t0
      |  FROM events
      |), t AS (
      |  SELECT user_id, event_id,
      |    CASE WHEN user_id % 29 = 0 THEN t0 + (rn - 1) * 300000000
      |         ELSE epoch_us(ts) END AS eus
      |  FROM e
      |), g AS (
      |  SELECT user_id,
      |    (eus - lag(eus) OVER (PARTITION BY user_id ORDER BY eus, event_id)) // 1000000 AS gs
      |  FROM t
      |), m AS (
      |  SELECT user_id, CAST(count(gs) AS BIGINT) AS n_gaps,
      |    CAST(sum(gs) AS BIGINT) AS sg, CAST(sum(gs * gs) AS BIGINT) AS sgg
      |  FROM g WHERE gs IS NOT NULL GROUP BY user_id
      |  -- sum(gs) > 0 guards the cv² division: a user whose gaps all
      |  -- floor to 0 s would divide by zero (an engine-divergent
      |  -- failure: DuckDB errors, Spark NULLs) and carries no cadence
      |  -- signal anyway
      |  HAVING count(gs) >= 5 AND sum(gs) > 0
      |)
      |SELECT user_id, n_gaps,
      |  CAST(sg // n_gaps AS BIGINT) AS mean_gap_s,
      |  CAST((1000 * (n_gaps * sgg - sg * sg)) // (sg * sg) AS BIGINT) AS cv2_x1000,
      |  10 * (n_gaps * sgg - sg * sg) < sg * sg AS is_bot
      |FROM m ORDER BY user_id""".stripMargin) { (s, d) =>
    val wRank = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val wUser = Window.partitionBy("user_id")
    val m = Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("ts"), eus.as("raw_eus"))
      .withColumn("rn", row_number().over(wRank))
      .withColumn("t0", min(col("raw_eus")).over(wUser))
      .withColumn("eus",
        when(col("user_id") % 29 === 0, col("t0") + (col("rn") - 1) * 300000000L)
          .otherwise(col("raw_eus")))
      .withColumn("gs", expr("(eus - lag(eus) over (partition by user_id order by eus, event_id)) div 1000000"))
      .filter(col("gs").isNotNull)
      .groupBy("user_id")
      .agg(count(col("gs")).as("n_gaps"), sum(col("gs")).as("sg"),
        sum(col("gs") * col("gs")).as("sgg"))
      .filter(col("n_gaps") >= 5 && col("sg") > 0)
    m.select(col("user_id"), col("n_gaps"),
        expr("sg div n_gaps").as("mean_gap_s"),
        expr("(1000 * (n_gaps * sgg - sg * sg)) div (sg * sg)").as("cv2_x1000"),
        (lit(10) * (col("n_gaps") * col("sgg") - col("sg") * col("sg")) <
          col("sg") * col("sg")).as("is_bot"))
      .orderBy("user_id")
  }

  /** Max concurrent sessions per day — the interval-concurrency SWEEP
    * LINE, the analytics shape `join_overlap` (pairwise) and `sessionize`
    * (derivation) both stop short of: how many sessions are open AT ONCE.
    * Sessions are the 30-min-gap sessionization scoped per (user, day);
    * each contributes a +1 at its start and a −1 at its end, and the
    * running sum of deltas ordered by (ts, delta DESC) — starts before
    * ends at the same instant, i.e. touching sessions overlap, and the
    * RANGE frame aggregates tied points together so the order within a
    * tie never matters — is the concurrency profile. Peak = max of the
    * profile; peak_ts = the earliest instant achieving it.
    *
    * Scale shape: the day is the partition key, so every window is
    * day-bounded — the sweep parallelizes across days (no global-order
    * single-reducer tail; at 100 TB the same sweep runs per day/hour
    * bucket with per-bucket offsets, the bucketed-prefix-sum
    * discipline). Everything is exact integers on µs timestamps. */
  val eventConcurrency = QueryDef(
    "event_concurrency",
    """WITH e AS (
      |  SELECT user_id, event_id, ts, CAST(ts AS DATE) AS day, epoch_us(ts) AS eus,
      |         lag(epoch_us(ts), 1) OVER (PARTITION BY user_id, CAST(ts AS DATE) ORDER BY ts, event_id) AS prev_eus
      |  FROM events
      |), f AS (
      |  SELECT *, CASE WHEN prev_eus IS NULL OR eus - prev_eus > 1800000000 THEN 1 ELSE 0 END AS new_sess
      |  FROM e
      |), sid AS (
      |  SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id, day ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM f
      |), sess AS (
      |  SELECT user_id, day, session_id, min(ts) AS st, max(ts) AS en
      |  FROM sid GROUP BY user_id, day, session_id
      |), pts AS (
      |  SELECT day, st AS ts, 1 AS delta FROM sess
      |  UNION ALL
      |  SELECT day, en, -1 FROM sess
      |), run AS (
      |  SELECT day, ts, delta,
      |         CAST(sum(delta) OVER (PARTITION BY day ORDER BY ts, delta DESC) AS INT) AS conc
      |  FROM pts
      |), mx AS (
      |  SELECT day, max(conc) AS max_concurrent FROM run GROUP BY day
      |), ns AS (
      |  SELECT day, CAST(count(*) AS BIGINT) AS n_sessions FROM sess GROUP BY day
      |)
      |SELECT mx.day, ns.n_sessions, mx.max_concurrent, min(run.ts) AS peak_ts
      |FROM run JOIN mx ON run.day = mx.day AND run.conc = mx.max_concurrent
      |JOIN ns ON mx.day = ns.day
      |GROUP BY mx.day, ns.n_sessions, mx.max_concurrent
      |ORDER BY mx.day""".stripMargin) { (s, d) =>
    concurrencyByDay(Tables.events(s, d)).orderBy("day")
  }

  /** The event_concurrency kernel on any events-shaped frame (EdgeSpec
    * plants boundary intervals through this). */
  def concurrencyByDay(events: DataFrame, gapUs: Long = 1800000000L): DataFrame = {
    val wUser = Window.partitionBy("user_id", "day").orderBy("ts", "event_id")
    val sess = events
      .select(col("user_id"), col("event_id"), col("ts"),
        col("ts").cast("date").as("day"), eus.as("eus"))
      .withColumn("prev_eus", lag(col("eus"), 1).over(wUser))
      .withColumn("new_sess",
        when(col("prev_eus").isNull || col("eus") - col("prev_eus") > gapUs, 1)
          .otherwise(0))
      .withColumn("session_id",
        sum(col("new_sess"))
          .over(wUser.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("long"))
      .groupBy("user_id", "day", "session_id")
      .agg(min(col("ts")).as("st"), max(col("ts")).as("en"))
    val pts = sess.select(col("day"), col("st").as("ts"), lit(1).as("delta"))
      .unionByName(sess.select(col("day"), col("en").as("ts"),
        lit(-1).as("delta")))
    val run = pts.withColumn("conc",
      sum(col("delta"))
        .over(Window.partitionBy("day").orderBy(col("ts"), col("delta").desc))
        .cast("int"))
    val mx = run.groupBy("day").agg(max(col("conc")).as("max_concurrent"))
    val ns = sess.groupBy("day").agg(count(lit(1)).as("n_sessions"))
    run.join(mx, Seq("day")).filter(col("conc") === col("max_concurrent"))
      .join(ns, Seq("day"))
      .groupBy("day", "n_sessions", "max_concurrent")
      .agg(min(col("ts")).as("peak_ts"))
      .select("day", "n_sessions", "max_concurrent", "peak_ts")
  }

  val all: Seq[QueryDef] = Seq(sessionizeQ, streamTumbling, streamSliding,
    streamWatermark, streamSession, windowTimeRange, streamDedup, eventFunnel,
    streamJoin, eventRetention, eventsResample, windowGapsIslands,
    eventAttribution, eventPaths, eventAnomaly, joinOverlap, streamFileSink,
    eventMarkov, streamJoinOuter, eventRfm, eventSeqMatch,
    streamStatefulSession, streamUpsertSink, eventActiveUsers,
    eventForecastBacktest, eventAbTest, eventSurvival, eventsFfill,
    eventConcurrency, streamLateDrop, streamJoinSink, eventBotRegularity,
    eventAttributionPosition, streamRestartResume, eventsInterp,
    eventChangepoint, sampleTimeSplit)
}
