package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Relational

/** Plan-shape guards (SURVEY §5.2-5): cheap regressions pinning the
  * physical-plan properties the 100 TB design depends on. */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val d = "/root/testdata/sf0.001"

  private def plan(q: graft.ops.QueryDef): String =
    q.fn(spark, d).queryExecution.executedPlan.toString

  test("join_broadcast plans as BroadcastHashJoin (no shuffle of the fact side)") {
    assert(plan(Relational.joinBroadcast).contains("BroadcastHashJoin"))
  }

  test("filter_pred pushes predicates into the parquet scan") {
    val p = plan(Relational.filterPred)
    assert(p.contains("PushedFilters: ["))
    assert(p.contains("IsNotNull") || p.contains("GreaterThan") || p.contains("In("))
  }

  test("scan_project prunes to the 4 selected columns at the scan") {
    val p = plan(Relational.scanProject)
    assert(p.contains("ReadSchema"))
    assert(!p.contains("l_shipdate")) // pruned column must not be read
  }

  test("sort_multi top-k plans as TakeOrderedAndProject, not a global sort") {
    assert(plan(Relational.sortMulti).contains("TakeOrderedAndProject"))
  }

  test("agg_groupby uses two-phase hash aggregation (map-side partial)") {
    val p = plan(Relational.aggGroupby)
    assert("HashAggregate".r.findAllIn(p).length >= 2)
  }

  test("whole-stage codegen covers the Q1 pipeline") {
    // AQE's plan toString omits codegen wrappers — execute, then read the
    // formatted explain of the final adaptive plan (codegen stage ids).
    val df = Relational.aggGroupby.fn(spark, d)
    df.collect()
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // Spark 4.1 formatted explain marks codegen spans as "[codegen id : N]"
    assert(formatted.contains("codegen id :"))
  }

  test("sim_knn and dedup_embed plan as blocked equi-joins (no nested-loop N² join)") {
    for (q <- Seq(graft.ops.Similarity.simKnn, graft.ops.Dedup.dedupEmbed)) {
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"${q.name} still plans an unblocked N² join")
    }
  }

  test("dedup_simhash aggregates with map-side partial merge (two-phase ObjectHashAggregate)") {
    val p = plan(graft.ops.Dedup.dedupSimhash)
    // the SimHashAgg buffer must partial-merge before the doc_id shuffle:
    // 256 B/group over the wire, not the token stream
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2)
    assert(p.contains("simhashagg") || p.contains("SimHashAgg") || p.contains("simhash"))
  }

  test("LSH band projection stays inside whole-stage codegen (LshBandKeys)") {
    val emb = graft.Tables.embeddings(spark, d)
    val v = graft.ops.Ann.prep(emb)
    val df = graft.ops.Ann.lshBands(v, dim = 64, bands = 16, rowsPerBand = 8)
    df.collect() // materialize so AQE reports the FINAL plan
    // read only the final-plan section (the Initial Plan echo below it
    // never carries codegen markers); WSCG shows as a "*(n) " prefix in
    // the tree string
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val gen = p.linesIterator.find(_.contains("Generate")).getOrElse("")
    assert(gen.contains("lshbandkeys"), s"band projection not a single expression: $gen")
    // the unrolled-128-column formulation this replaced ran interpreted
    assert(gen.trim.stripPrefix("+- ").startsWith("*"),
      s"Generate stage not codegen'd: $gen")
  }

  test("join_asof plans with a single shuffle (one Exchange before the window)") {
    val p = plan(Relational.joinAsof)
    // union-tag trick: expect no SortMergeJoin / BroadcastHashJoin at all
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"))
    assert(p.contains("Window") || p.contains("RunningWindowFunction"))
  }

  test("AQE splits a skewed sort-merge join partition at runtime (skew=true)") {
    // The runtime half of the skew story: swivel_cooc_salted is the
    // DECLARED skew path (explicit salting, driver-gated); this pins the
    // OTHER half — Spark's adaptive skew-join split, which re-plans a
    // pathological partition without any query change. A 100 TB join
    // with one hot key must not serialize on one reducer.
    import org.apache.spark.sql.functions.{col, when}
    val s = spark
    val keep = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> s.conf.getOption(k)).toMap
    try {
      s.conf.set("spark.sql.adaptive.enabled", "true")
      s.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      // thresholds scaled to a test-sized table (shuffle blocks are
      // compressed, so the hot partition is ~1 MB, not its raw 20 MB):
      // a partition is "skewed" past 64 KB and 2x the median, split to
      // ~16 KB targets
      s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      // 90% of fact rows share key 0 — one reducer would take ~9x the
      // median partition; the payload column defeats compression enough
      // for the size stats to see the skew
      import org.apache.spark.sql.functions.{concat_ws, md5, lit}
      val fact = s.range(0, 200000)
        .select(when(col("id") % 10 =!= 0, 0L).otherwise(col("id") % 1000).as("k"),
          md5(concat_ws("-", lit("pad"), col("id"))).as("v"))
      val dim = s.range(0, 1000).select(col("id").as("k"), (col("id") * 2).as("w"))
      val joined = fact.hint("merge").join(dim, "k")
      // collect() (not count()) so the AQE final plan belongs to THIS
      // QueryExecution — count() plans a separate query
      assert(joined.collect().length == 200000)
      val p = joined.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(p.contains("SortMergeJoin"), s"expected SMJ:\n$p")
      // AQE's OptimizeSkewedJoin marks the re-planned join "skew=true"
      assert(p.contains("skew=true"),
        s"AQE did not split the skewed partition:\n$p")
    } finally keep.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  test("join_bloom: fact side scans once and never shuffles (broadcast runtime-filter shape)") {
    val df = graft.ops.Sketch.joinBloom.fn(spark, d)
    df.collect() // materialize → AQE final plan on THIS QueryExecution
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // one lineitem scan feeding two broadcast LeftSemi prefilters + the
    // broadcast exact join — the fact side reaches the aggregate without
    // any Exchange; the only exchanges are the small-side bits build and
    // the single-row result collection
    assert("lineitem\\.parquet".r.findAllIn(p).length == 1,
      s"fact side scanned more than once:\n$p")
    assert("LeftSemi".r.findAllIn(p).length == 2, s"expected 2 semi prefilters:\n$p")
    val factSide = p.substring(p.indexOf("LeftSemi"))
    assert(!factSide.split("BroadcastQueryStage")(0).contains("Exchange hashpartitioning"),
      s"fact side shuffles before the join:\n$p")
  }

  test("join_lateral decorrelates: WindowGroupLimit top-k + one join, never a per-row subplan") {
    val p = plan(graft.ops.Scale.joinLateral)
    // Catalyst rewrites the correlated LATERAL into a ranked-window join;
    // WindowGroupLimit caps each group at k rows BEFORE the full window —
    // the set-at-a-time shape this key certifies
    assert(p.contains("WindowGroupLimit"), s"lateral not decorrelated to group-limit:\n$p")
    assert(p.contains("Join"), s"expected a relational join:\n$p")
    assert(!p.contains("CartesianProduct"), s"lateral fell back to cartesian:\n$p")
  }

  test("subquery_scalar: the threshold subquery plans once, outer stays top-k") {
    val p = plan(graft.ops.Scale.subqueryScalar)
    // the plan text repeats the node (expression reference + subtree),
    // so count DISTINCT subquery ids: one threshold, computed once
    val ids = "Subquery subquery#(\\d+)".r.findAllMatchIn(p).map(_.group(1)).toSet
    assert(ids.size == 1, s"expected exactly one distinct scalar subquery, got $ids:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"outer should be top-k, not global sort:\n$p")
  }

  test("join_salted: both sides shuffle on (key, salt) — the hot key spreads over 8 reducers") {
    val df = graft.ops.Scale.joinSalted.fn(spark, d)
    df.collect() // materialize → AQE final plan
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p.contains("ShuffledHashJoin"), s"salted join must not broadcast:\n$p")
    // each side's Exchange must hash on BOTH the join key and the salt —
    // that two-column partitioning is the skew spread this key certifies
    val saltedExchanges = "Exchange hashpartitioning\\([^)]*salt".r.findAllIn(p).length
    assert(saltedExchanges == 2,
      s"expected both join inputs partitioned by (key, salt), got $saltedExchanges:\n$p")
  }

  private def hashExchanges(p: String): Int =
    "Exchange hashpartitioning".r.findAllIn(p).length

  test("window_gaps_islands: ONE user_id shuffle serves both windows and the island agg") {
    val p = plan(graft.ops.Events.windowGapsIslands)
    // HashPartitioning(user_id) satisfies the (user_id, event_type) window
    // and the (user_id, event_type, grp) groupBy by the subset rule — any
    // second hash exchange means that co-partitioning broke
    assert(hashExchanges(p) == 1, s"expected exactly 1 hash exchange:\n$p")
  }

  test("event_paths: top-k plans as TakeOrderedAndProject over two keyed shuffles") {
    val p = plan(graft.ops.Events.eventPaths)
    assert(p.contains("TakeOrderedAndProject"), s"top-20 must not global-sort:\n$p")
    assert(hashExchanges(p) == 2, // user_id window + path count
      s"expected exactly 2 hash exchanges:\n$p")
  }

  test("sample_weighted: the data path never shuffles (scan-stage filter)") {
    val p = plan(graft.ops.TextAnalysis.sampleWeighted)
    // only the 1-row max agg (SinglePartition) and the ordered-output range
    // exchange are allowed — a hash exchange means the filter left the scan
    assert(hashExchanges(p) == 0, s"expected no hash exchange:\n$p")
    assert(p.contains("BroadcastExchange"), s"max side must broadcast:\n$p")
  }

  test("sim_maxsim: query set broadcasts; candidates never cartesian-join") {
    val p = plan(graft.ops.Similarity.simMaxSim)
    assert(!p.contains("CartesianProduct"), s"fell back to cartesian:\n$p")
    // the 8-row query side must be the broadcast build side of both the
    // anti-join (query exclusion) and the pair expansion
    assert("BroadcastExchange".r.findAllIn(p).length >= 2, p)
  }

  test("subquery_exists: EXISTS/NOT EXISTS decorrelate to LeftSemi + LeftAnti joins") {
    val p = plan(graft.ops.Scale.subqueryExists)
    // RewritePredicateSubquery must turn both correlated branches into
    // joins — a per-outer-row subplan would show as no semi/anti join
    assert(p.contains("LeftSemi"), s"EXISTS did not decorrelate:\n$p")
    assert(p.contains("LeftAnti"), s"NOT EXISTS did not decorrelate:\n$p")
  }

  test("pipeline_tpch_q3: filters reach every scan; top-10 is TakeOrderedAndProject") {
    val p = plan(graft.ops.Pipelines.pipelineTpchQ3)
    assert(p.contains("TakeOrderedAndProject"), s"top-k fell to a global sort:\n$p")
    // the segment filter must be pushed into the customer parquet scan,
    // not evaluated post-join
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"),
      s"segment filter not pushed to the scan:\n$p")
    assert(p.contains("GreaterThan(l_shipdate"),
      s"shipdate filter not pushed to the scan:\n$p")
  }

  test("pipeline_tpch_q18: HAVING filters between partial and re-join; top-k ordered-limit") {
    val p = plan(graft.ops.Pipelines.pipelineTpchQ18)
    assert(p.contains("TakeOrderedAndProject"), s"top-k fell to a global sort:\n$p")
    assert(p.contains("HashAggregate"), p)
  }

  test("pipeline_tpch_q5: region + date filters reach the scans; 6-way join never cartesians") {
    val p = plan(graft.ops.Pipelines.pipelineTpchQ5)
    assert(p.contains("EqualTo(r_name,ASIA)"),
      s"region filter not pushed to the scan:\n$p")
    assert(p.contains("GreaterThanOrEqual(o_orderdate"),
      s"order-date filter not pushed to the scan:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"snowflake join degenerated to an unkeyed join:\n$p")
  }

  test("pipeline_tpch_q10: returnflag + quarter filters reach the scans; top-20 ordered-limit") {
    val p = plan(graft.ops.Pipelines.pipelineTpchQ10)
    assert(p.contains("TakeOrderedAndProject"), s"top-k fell to a global sort:\n$p")
    assert(p.contains("EqualTo(l_returnflag,R)"),
      s"returnflag filter not pushed to the scan:\n$p")
    assert(p.contains("GreaterThanOrEqual(o_orderdate"),
      s"order-date filter not pushed to the scan:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"join degenerated to an unkeyed join:\n$p")
  }

  test("pipeline_tpch_q7: shipdate + nation-name filters reach the scans; no unkeyed join") {
    val p = plan(graft.ops.Pipelines.pipelineTpchQ7)
    assert(p.contains("LessThan(l_shipdate"),
      s"shipdate filter not pushed to the scan:\n$p")
    // each nation ROLE is pre-filtered to the pair at its own scan — the
    // pushdown-friendly residue of the disjunctive pair predicate
    assert(p.contains("In(n_name"),
      s"nation-pair residue not pushed to the nation scans:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"join degenerated to an unkeyed join:\n$p")
  }

  test("pipeline_tpch_q1: date filter pushed; ONE two-phase aggregate carries all 7 measures") {
    val p = plan(graft.ops.Pipelines.pipelineTpchQ1)
    assert(p.contains("LessThanOrEqual(l_shipdate"),
      s"shipdate filter not pushed to the scan:\n$p")
    // all measures must ride one partial+final aggregate pair — a second
    // aggregate pair would mean a second corpus pass
    assert(hashExchanges(p) == 1, s"expected exactly 1 hash exchange:\n$p")
  }

  test("pipeline_tpch_q4: correlated EXISTS plans as a left-semi join; quarter filter pushed") {
    val p = plan(graft.ops.Pipelines.pipelineTpchQ4)
    assert(p.contains("LeftSemi"), s"EXISTS shape lost — no semi join:\n$p")
    assert(p.contains("GreaterThanOrEqual(o_orderdate"),
      s"quarter filter not pushed to the orders scan:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"semi join degenerated to an unkeyed join:\n$p")
  }

  test("pipeline_tpch_q6: every predicate reaches the scan; no shuffle at all") {
    val p = plan(graft.ops.Pipelines.pipelineTpchQ6)
    // the PushedFilters list is TRUNCATED in plan toString (…), so assert
    // on its stable prefix plus the in-plan Filter node for the later ones
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount), IsNotNull(l_quantity)"),
      s"scan carries no pushed filters:\n$p")
    assert(p.contains("(l_discount#") && p.contains("(l_quantity#"),
      s"discount band / quantity cap missing from the scan-stage filter:\n$p")
    // single global aggregate: partials meet at one SinglePartition
    // exchange — a hash exchange would mean a grouped shuffle snuck in
    assert(hashExchanges(p) == 0, s"expected no hash exchange:\n$p")
  }

  test("pipeline_tpch_q12: date window pushed; both CASE counts in one aggregate pair") {
    val p = plan(graft.ops.Pipelines.pipelineTpchQ12)
    assert(p.contains("GreaterThanOrEqual(l_shipdate"),
      s"date window not pushed to the lineitem scan:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"order join degenerated:\n$p")
  }

  test("pipeline_tpch_q14: month window pushed; promo ratio is one aggregate, no second pass") {
    val p = plan(graft.ops.Pipelines.pipelineTpchQ14)
    assert(p.contains("GreaterThanOrEqual(l_shipdate"),
      s"month window not pushed to the lineitem scan:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"part join degenerated:\n$p")
    // numerator and denominator must share one aggregate — two HashAggregate
    // PAIRS would be two corpus passes (allow partial+final = 2 nodes)
    assert("HashAggregate".r.findAllIn(p).length <= 2,
      s"ratio split into multiple aggregate passes:\n$p")
  }

  test("pipeline_tpch_q16: NOT IN plans as an anti join; distinct count is the Expand aggregate") {
    val p = plan(graft.ops.Pipelines.pipelineTpchQ16)
    assert(p.contains("LeftAnti"), s"exclusion lost its anti join:\n$p")
    assert(p.contains("In(p_size"), s"size filter not pushed to the part scan:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-20 fell to a global sort:\n$p")
  }

  test("pipeline_tpch_q22: scalar threshold broadcasts; dormancy is an anti join; recency pushed") {
    val p = plan(graft.ops.Pipelines.pipelineTpchQ22)
    assert(p.contains("LeftAnti"), s"NOT EXISTS lost its anti join:\n$p")
    assert(p.contains("BroadcastExchange"), s"1-row threshold did not broadcast:\n$p")
    assert(p.contains("GreaterThanOrEqual(o_orderdate"),
      s"recency window not pushed to the orders scan:\n$p")
  }

  test("graph_labelprop: every superstep join is keyed — no cartesian, no nested loop") {
    val p = plan(graft.ops.Graph.graphLabelprop)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"a propagation round degenerated to an unkeyed join:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-15 fell to a global sort:\n$p")
  }

  test("maintenance_incremental_agg: refresh reads the LANDED MV; only the increment scans events") {
    val p = plan(graft.ops.Scale.maintenanceIncrementalAgg)
    assert(p.contains("graft_ld_scale.mv_daily_"),
      s"base rollup not read from the landed file — history recomputed:\n$p")
    // the increment's cutoff must reach the events scan (one slice read,
    // never the whole history)
    assert(p.contains("GreaterThanOrEqual(ts"),
      s"increment cutoff not pushed to the events scan:\n$p")
  }

  test("pipeline_tpch_q13: filter rides the outer join (zero bucket survives); no cartesian") {
    val p = plan(graft.ops.Pipelines.pipelineTpchQ13)
    assert(p.contains("LeftOuter"), s"outer join lost — zero-order customers dropped:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"join degenerated:\n$p")
  }

  test("pipeline_tpch_q15: the 1-row max broadcasts; quarter filter reaches the scan") {
    val p = plan(graft.ops.Pipelines.pipelineTpchQ15)
    assert(p.contains("BroadcastExchange"), s"max did not broadcast:\n$p")
    assert(p.contains("GreaterThanOrEqual(l_shipdate"),
      s"quarter filter not pushed:\n$p")
  }

  test("pipeline_tpch_q17: brand filter pushed; per-part aggregate joins back on the key") {
    val p = plan(graft.ops.Pipelines.pipelineTpchQ17)
    assert(p.contains("EqualTo(p_brand,Brand#3)"),
      s"brand filter not pushed to the part scan:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"aggregate-rejoin degenerated:\n$p")
  }

  test("pipeline_tpch_q21: EXISTS/NOT EXISTS plan as semi + anti joins on the order key") {
    val p = plan(graft.ops.Pipelines.pipelineTpchQ21)
    assert(p.contains("LeftSemi"), s"multi-supplier EXISTS lost its semi join:\n$p")
    assert(p.contains("LeftAnti"), s"sole-culprit NOT EXISTS lost its anti join:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-20 fell to a global sort:\n$p")
  }

  test("pipeline_tpch_q8: region + date filters reach the scans; 7-table join never cartesians") {
    val p = plan(graft.ops.Pipelines.pipelineTpchQ8)
    assert(p.contains("EqualTo(r_name,ASIA)"), s"region filter not pushed:\n$p")
    assert(p.contains("GreaterThanOrEqual(o_orderdate"),
      s"date window not pushed to the orders scan:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"snowflake degenerated:\n$p")
  }

  test("event_active_users: contribution explode carries no window; counts are keyed aggs") {
    val p = plan(graft.ops.Events.eventActiveUsers)
    // the rolling distinct must be explode + hash aggregates — a RANGE
    // window with count_distinct would show as a Window node (unsupported
    // distinct frames fall to per-frame re-scans)
    assert(!p.contains("Window"), s"rolling distinct fell to a window:\n$p")
    assert(p.contains("Generate explode") || p.contains("explode"),
      s"contribution explode missing:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"max-day closure cartesianed:\n$p")
  }

  test("text_bpe_pairs: exactly two aggregates, no join — the vocab-bounded shape") {
    val p = plan(graft.ops.TextAnalysis.textBpePairs)
    // corpus → vocab groupBy → pair explode → pair groupBy; a join or a
    // third shuffle would mean the explode left the vocab side
    assert(!p.contains("Join"), s"pair generation joined the corpus:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 2, s"expected 2 keyed shuffles (vocab, pair), got $exchanges:\n$p")
  }

  test("text_lm_score: the corpus-sized bigram stream pays exactly one dictionary join") {
    val p = plan(graft.ops.TextAnalysis.textLmScore)
    // dict = bc ⋈ uc (vocab-bounded) merges BEFORE the corpus join
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"LM dictionary join degenerated:\n$p")
    assert(p.contains("div"), s"micro-prob lost the integer div:\n$p")
  }

  test("text_dedup_url: canonicalization is scan-stage; one keyed aggregate, no join") {
    val p = plan(graft.ops.Text.textDedupUrl)
    assert(!p.contains("Join"), s"URL dedup joined:\n$p")
    // count_distinct goes through Expand + two-phase agg on the host key
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 2, s"more shuffles than the host-keyed distinct needs:\n$p")
  }

  test("graph_linkpred: capped wedge join is equi-keyed, never cartesian") {
    val p = plan(graft.ops.Graph.graphLinkpred)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"wedge/anti joins fell off the equi key:\n$p")
    // Jaccard's floor division must stay integer (no double division node)
    assert(p.contains("div"), s"jac_ppm lost the integer div:\n$p")
  }

  test("window_skew_topk: two-phase shape — (key, salt) ranking before the per-key pass") {
    val p = plan(graft.ops.Scale.windowSkewTopk)
    // two Window operators: the salted partial rank and the final rank
    assert("Window ".r.findAllIn(p).length >= 2,
      s"two-phase window collapsed to one pass:\n$p")
    // phase 1 partitions by BOTH the key and the salt (the skew spread)
    assert(p.contains("salt"), s"salt column missing from the plan:\n$p")
    assert("Exchange hashpartitioning\\(event_type[^,]*, salt".r
      .findFirstIn(p).isDefined,
      s"phase-1 exchange is not keyed on (event_type, salt):\n$p")
  }

  test("pipeline_tpch_q19: the OR's residues reach both scans") {
    val p = plan(graft.ops.Pipelines.pipelineTpchQ19)
    // brand-union residue on the part scan, quantity range on lineitem
    assert(p.contains("In(p_brand"), s"brand residue not pushed:\n$p")
    assert(p.contains("GreaterThanOrEqual(l_quantity")
      || p.contains("LessThanOrEqual(l_quantity"),
      s"quantity residue not pushed:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("maintenance_analyze: two orders scans — wide NDV pass + pruned string pass — and the NDV Expand stays hash-based") {
    val p = plan(graft.ops.Scale.maintenanceAnalyze)
    // exactly 2 scans: the multi-distinct Expand pass over all profiled
    // columns, plus the split-out string min/max pass (a string min/max
    // buffer is immutable and would force the WHOLE Expand aggregate into
    // SortAggregate — a full sort of corpus×6 expanded rows)
    assert("Scan parquet".r.findAllIn(p).length == 2,
      s"ANALYZE re-scans the table per column:\n$p")
    assert(p.contains("Expand"), s"multi-distinct lost its Expand shape:\n$p")
    // the point of the split: the aggregate consuming Expand must be a
    // HashAggregate (the zero-key string pass may legitimately plan as a
    // sortless SortAggregate — only the Expand consumer is corpus×6-sized)
    assertExpandFeedsHashAggregate(p)
  }

  /** In a formatted plan tree, every `Expand` node's PARENT line must be a
    * HashAggregate — a SortAggregate there means an immutable (string)
    * aggregation buffer demoted the whole multi-distinct pass to a full
    * sort of the expanded corpus. */
  private def assertExpandFeedsHashAggregate(p: String): Unit = {
    val tree = p.linesIterator.takeWhile(!_.startsWith("(")).toIndexedSeq
    tree.zipWithIndex.filter(_._1.contains("Expand")).foreach { case (_, i) =>
      assert(i > 0 && tree(i - 1).contains("HashAggregate"),
        s"Expand consumer is not a HashAggregate (string buffer in the multi-distinct agg?):\n$p")
    }
  }

  test("sketch merges (hll_merge, bitmap_distinct) aggregate in combinable phases, no cartesian") {
    // hll sketches ride ObjectHashAggregate; bitmap_construct/or_agg plan
    // as SortAggregate — either way the map-side partial_ phase must
    // exist (combinable state crossing the shuffle, not raw rows)
    for (q <- Seq(graft.ops.Sketch.aggSketchHllMerge,
        graft.ops.Sketch.aggBitmapDistinct)) {
      val p = plan(q)
      assert(p.contains("partial_"),
        s"${q.name}: sketch agg lost its map-side partial phase:\n$p")
      assert(!p.contains("CartesianProduct"), s"${q.name}:\n$p")
    }
  }

  test("text_span_dedup: one combinable span-keyed aggregation, never pairwise") {
    val p = plan(graft.ops.Text.textSpanDedup)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"span report formed pairs:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-20 fell to a global sort:\n$p")
  }

  test("graph_kcore: every peel round is keyed semi-join work — no cartesian, no nested loop") {
    val p = plan(graft.ops.Graph.graphKcore)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"a peel round degenerated to an unkeyed join:\n$p")
  }

  test("sim_pca_power: two corpus passes, iterate rides a broadcast — never a corpus-sized join") {
    val p = plan(graft.ops.Ann.simPcaPower)
    // both matvec rounds must aggregate into the 64-dim groups without
    // ever shuffling the corpus through a join: the round-2 iterate is a
    // broadcast 1-row array, so any sort-merge/shuffled-hash join means
    // the per-row dot product regressed to a q ⋈ s join
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"power-iteration round regressed to a corpus join:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"the 64-entry iterate did not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"unkeyed shuffle join in the iterate plan:\n$p")
    // the ONLY nested-loop is the 1-row Rayleigh scalar attach (the
    // quantizeError broadcast-scalar pattern) — a second one would mean
    // the 64-row dim join lost its hash key
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 1,
      s"more than the scalar-attach nested loop:\n$p")
  }

  test("text_winnow: fingerprint selection is one doc-keyed window — never pairwise") {
    val p = plan(graft.ops.Text.textWinnow)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"winnowing formed pairs:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-300 fell to a global sort:\n$p")
  }

  test("sample_bottomk: rank filter pushes to two-phase WindowGroupLimit (partial heap before the exchange)") {
    val p = plan(graft.ops.TextAnalysis.sampleBottomk)
    // the 100 TB shape: a per-partition top-k heap BEFORE the lang
    // shuffle and the final group limit after — only <=k rows per
    // (partition, lang) ever travel
    assert("WindowGroupLimit".r.findAllIn(p).length >= 2,
      s"bottom-k lost the pre-shuffle partial group limit:\n$p")
  }

  test("agg_heavy_hitters: MG summary aggregates object-hash with map-side partials, no pairs") {
    val p = plan(graft.ops.Sketch.aggHeavyHitters)
    assert(p.contains("ObjectHashAggregate"),
      s"typed MG aggregator fell off object-hash aggregation:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"heavy-hitter gate formed pairs:\n$p")
  }

  test("quality_profile: one wide NDV pass + one pruned string pass per table, Expand stays hash-based") {
    val p = plan(graft.ops.Quality.qualityProfile)
    // 2 tables × (multi-distinct Expand pass + split-out string min/max
    // pass) = 4 scans; anything more means a per-column re-scan crept in
    assert("Scan parquet".r.findAllIn(p).length == 4,
      s"per-column profiling re-scanned a table:\n$p")
    assertExpandFeedsHashAggregate(p)
  }

  test("tpch q2/q9/q11/q20: keyed joins only; q20's gate is a semi-join chain; q2 pushes the part filters") {
    import graft.ops.Pipelines
    for (q <- Seq(Pipelines.pipelineTpchQ2, Pipelines.pipelineTpchQ9,
        Pipelines.pipelineTpchQ11, Pipelines.pipelineTpchQ20)) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"),
        s"${q.name}: unkeyed join in the partsupp pipeline:\n$p")
    }
    val p20 = plan(Pipelines.pipelineTpchQ20)
    assert("LeftSemi".r.findAllIn(p20).length >= 2,
      s"q20 lost a semi-join of its gate chain:\n$p20")
    val p2 = plan(Pipelines.pipelineTpchQ2)
    // anchored to PushedFilters — a post-scan Filter node referencing
    // p_size must NOT satisfy this (the first draft's `p_size#` fallback
    // was vacuously true)
    assert(p2.contains("LessThanOrEqual(p_size"),
      s"q2's part size filter did not reach the parquet scan:\n$p2")
  }

  test("scan_mor_deletes: the delete vector applies as a broadcast anti join before the aggregate") {
    val p = plan(graft.ops.Formats.scanMorDeletes)
    assert(p.contains("LeftAnti"), s"deletes did not apply as an anti join:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"the key-only delete vector did not broadcast:\n$p")
  }

  test("sim_ann_ivf_pq: coarse pruning is a pre-ADC semi-join; no cartesian") {
    val p = plan(graft.ops.Ann.simAnnIvfPq)
    assert(p.contains("LeftSemi"),
      s"IVF membership did not restrict the codes before ADC:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"unkeyed corpus join in the composed plan:\n$p")
  }

  test("event_concurrency: day-partitioned sweep — no global-order window, no pairs") {
    val p = plan(graft.ops.Events.eventConcurrency)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"concurrency sweep formed pairs:\n$p")
    // every window carries a partition spec (user/day or day) — a
    // missing spec would collapse the sweep to one reducer
    assert(!p.toLowerCase.contains("windowspecdefinition()"),
      s"unpartitioned window in the sweep:\n$p")
  }

  test("window_ewma: the 8 lags share ONE window node (one user_id shuffle)") {
    val p = plan(graft.ops.Extras.windowEwma)
    assert("Window ".r.findAllIn(p).length == 1,
      s"the 8 lag expressions split into multiple Window nodes:\n$p")
  }

  test("quality_skew: totals side broadcasts; per-key count is two-phase") {
    val p = plan(graft.ops.Quality.qualitySkew)
    assert(p.contains("BroadcastExchange"),
      s"the 1-row totals relation did not broadcast:\n$p")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"per-key count lost its map-side partial:\n$p")
  }

  test("dedup_cdc_chunks: no join anywhere — chunker is scan-stage, then one aggregate") {
    val p = plan(graft.ops.Dedup.dedupCdcChunks)
    assert(!p.contains("Join"), s"the array chunker should need no join:\n$p")
  }

  test("sim_jl_projection: sign matrix folds to literals (no join for the matrix)") {
    val p = plan(graft.ops.Similarity.simJlProjection)
    // exactly the one vec_id self-join; a matrix-as-relation mistake
    // would add a second join or a nested loop
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"JL projection planned an unkeyed join:\n$p")
  }

  test("graph_assortativity / maintenance_clustering_depth: no cartesian in the metadata joins") {
    for (q <- Seq(graft.ops.Graph.graphAssortativity,
        graft.ops.Scale.maintenanceClusteringDepth)) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"),
        s"${q.name}: metadata join degenerated to a cartesian:\n$p")
    }
  }

  test("text_unigram_train: every EM-round lattice join rides broadcasts (no vocab shuffle join)") {
    // the unigram trainer's per-round plan: span grid (42 rows) and
    // model (≤ 100 rows) both broadcast against the vocabulary — the
    // corpus-scale design depends on rounds never shuffling the vocab
    // into a join; the only exchanges allowed are the two aggregation
    // shuffles (pivot groupBy + final piece groupBy)
    val v = graft.ops.Unigram.vocab(graft.Tables.documents(spark, d))
    val model = Seq("a" -> 0.5, "b" -> 0.25, "ab" -> 0.25)
    val p = graft.ops.Unigram.expectedCounts(v, model)
      .queryExecution.executedPlan.toString
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"EM round shuffled a join side:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"EM round lost its broadcasts:\n$p")
  }

  test("sample_dsir: λ dictionary and totals ride broadcasts; top-25 is TakeOrdered, not a global sort") {
    // the 100 TB shape: the ≤4096-row bucket stats and 1-row totals
    // broadcast against the corpus feature stream, and the final top-k
    // is TakeOrderedAndProject — a shuffled λ join or a global Sort
    // would put corpus-sized data through a wide exchange
    val p = plan(graft.ops.Curation.sampleDsir)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"λ dictionary join lost its broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-25 degenerated to a global sort:\n$p")
  }

  test("graph_deepwalk: every step is a keyed join + combinable agg — no cartesian, no window") {
    // the 100 TB shape: walkLen keyed shuffles of node-sized frontiers;
    // a CartesianProduct or a per-walk Window would be the wrong kernel
    val p = plan(graft.ops.Graph.graphDeepwalk)
    assert(!p.contains("CartesianProduct"), s"walk step went cartesian:\n$p")
    assert(!p.contains("Window"), s"walk step grew a window:\n$p")
  }

  test("align_bitext_mine: candidates ride the cluster-keyed equi-join; final top-20 is TakeOrdered") {
    val p = plan(graft.ops.Ann.alignBitextMine)
    assert(!p.contains("CartesianProduct"),
      s"cross-side candidates degenerated to a cartesian:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 degenerated to a global sort:\n$p")
  }

  test("align_bt_rank: the comparison corpus collapses once; MM rounds never cartesian") {
    // the 100 TB shape: corpus-sized data shuffles exactly in the
    // (lang, prompt) duel join and the one pair-stats aggregate; every
    // MM round is P-bounded arithmetic on broadcasts
    val p = plan(graft.ops.Alignment.alignBtRank)
    assert(!p.contains("CartesianProduct"), s"BT went cartesian:\n$p")
  }

  test("minhash banding: candidate generation is a (band, hash)-keyed equi-join, never cartesian") {
    // the 100 TB property the cluster contract rides on: candidates
    // come from the posexplode band join — an all-pairs fallback would
    // surface as a nested-loop/cartesian here
    val p = plan(graft.ops.Dedup.dedupMinhash)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"banded candidates degenerated to all-pairs:\n$p")
  }

  test("align_bitext_knn: candidates ride the landed adjacency; final top-20 is TakeOrdered") {
    val p = plan(graft.ops.Ann.alignBitextKnn)
    assert(!p.contains("CartesianProduct"),
      s"ANN-capped candidates degenerated to a cartesian:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 degenerated to a global sort:\n$p")
  }

  test("sample_anneal: two-phase hash aggregation, no corpus-wide window") {
    val p = plan(graft.ops.Curation.sampleAnneal)
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"source rollup lost map-side partials:\n$p")
    assert(!p.contains("Window"), s"anneal arithmetic grew a window:\n$p")
  }

  test("sample_epoch_cap: two-phase hash aggregation, no corpus-wide window") {
    val p = plan(graft.ops.Curation.sampleEpochCap)
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"source rollup lost map-side partials:\n$p")
    assert(!p.contains("Window"), s"epoch-cap arithmetic grew a window:\n$p")
  }

  test("sim_ann_upsert: increment assignment and merged probe never go cartesian") {
    // the maintenance contract: the upsert job is increment x centroids
    // (broadcast) + keyed joins into the landed lists — an unkeyed
    // corpus join anywhere would mean the merge re-derives base state
    val p = plan(graft.ops.Ann.simAnnUpsert)
    assert(!p.contains("CartesianProduct"),
      s"upsert path degenerated to a cartesian:\n$p")
  }

  test("sim_ann_rebalance: no cartesian; margin stage aggregates, never windows, the members-by-centroids relation") {
    val p = plan(graft.ops.Ann.simAnnRebalance)
    assert(!p.contains("CartesianProduct"),
      s"rebalance path degenerated to a cartesian:\n$p")
    // the margin stage pinned in isolation (string-counting windows on
    // the full key is cache-layout-dependent): the x-c relation must
    // reach its exchange already collapsed to one row per member — a
    // rank window here would shuffle members*c rows
    import spark.implicits._
    val mcc = Seq((1L, 0L, 0L, 0.9), (1L, 0L, 1L, 0.1),
      (2L, 0L, 0L, 0.8), (2L, 0L, 1L, 0.3))
      .toDF("vec_id", "bucket", "cid", "ccos")
    val mp = graft.ops.Ann.marginToRunnerUp(mcc)
      .queryExecution.executedPlan.toString
    assert(!mp.contains("Window"),
      s"margin rank grew a window over the x-c relation:\n$mp")
    // struct-max plans as SortAggregate; what matters is the map-side
    // partial collapsing each scan partition BEFORE the exchange
    assert(mp.contains("partial_max"),
      s"margin aggregate lost its map-side partial:\n$mp")
  }

  test("sim_ann_ivf2: two-level build has no cartesian; both argmax stages aggregate, never window") {
    val p = plan(graft.ops.Ann.simAnnIvf2)
    assert(!p.contains("CartesianProduct"),
      s"two-level build degenerated to a cartesian:\n$p")
    // the build stage in isolation: point→anchor and point→best-centroid
    // are combinable max-struct aggregates — a rank window on either
    // stage would shuffle every candidate row (n·g or n·c/g of them)
    // instead of one collapsed row per vector per scan partition
    import spark.implicits._
    val v = graft.ops.Ann.prep(Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)),
      (2L, Array(0.7f, 0.7f)), (3L, Array(0.9f, 0.1f)))
      .toDF("vec_id", "embedding"))
    import org.apache.spark.sql.functions.col
    val cents = v.select(col("vec_id").as("cid"), col("ve").as("cve"),
      col("nrm").as("cnrm"))
    val bp = graft.ops.Ann.twoLevelAssign(v, cents)
      .queryExecution.executedPlan.toString
    assert(!bp.contains("Window"),
      s"a two-level argmax stage grew a window:\n$bp")
    assert(bp.contains("partial_max"),
      s"two-level argmax lost its map-side partial:\n$bp")
  }

  test("sim_ann_delete: tombstones apply as an anti join; no cartesian") {
    val p = plan(graft.ops.Ann.simAnnDelete)
    assert(!p.contains("CartesianProduct"),
      s"delete path degenerated to a cartesian:\n$p")
    // Round 16: the certified approx relations localCheckpoint (each
    // computes once for the exceptAll certification + recall report),
    // so the tombstone subtree no longer prints in the key's final
    // plan — pin the LeftAnti on the tombstone application itself,
    // over a real index-shaped relation.
    import spark.implicits._
    val lists = Seq((0L, 1L), (3L, 1L), (13L, 2L)).toDF("vec_id", "bucket")
    val del = Seq(3L, 13L).toDF("vec_id")
    val tp = graft.ops.Ann.tombstoneApplied(lists, del)
      .queryExecution.executedPlan.toString
    assert(tp.contains("LeftAnti"),
      s"the delete vector did not apply as an anti join:\n$tp")
    // and on the key's own inputs: its landed serving lists and delete
    // vector, the relations its tombstone probe and compaction read
    val (keyLists, keyDel) = graft.ops.Ann.deleteInputs(spark, d)
    val kp = graft.ops.Ann.tombstoneApplied(keyLists, keyDel)
      .queryExecution.executedPlan.toString
    assert(kp.contains("LeftAnti") && !kp.contains("CartesianProduct"),
      s"the key's delete vector did not apply as an anti join:\n$kp")
  }

  test("sim_ann_filtered: label constraint and probe ride keyed/broadcast joins; no cartesian") {
    val p = plan(graft.ops.Ann.simAnnFiltered)
    assert(!p.contains("CartesianProduct"),
      s"filtered probe degenerated to a cartesian:\n$p")
  }

  test("cdc boundary scan runs as the native expression inside whole-stage codegen") {
    val docs = graft.Tables.documents(spark, d)
    val df = docs.select(org.apache.spark.sql.functions.col("doc_id"),
      graft.functions.CdcBoundaries.boundaries(
        org.apache.spark.sql.functions.col("text")).as("bpos"))
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p.contains("cdcboundaries"), s"native expression missing from plan:\n$p")
    // the projection carrying it must sit inside a WSCG stage ("*(n)")
    val proj = p.linesIterator.find(_.contains("cdcboundaries")).getOrElse("")
    assert(proj.trim.stripPrefix("+- ").startsWith("*"),
      s"cdc boundary projection left whole-stage codegen: $proj")
  }

  test("curation_domain_cap: the quota is a combinable aggregate, never a rank window") {
    val p = plan(graft.ops.Curation.curationDomainCap)
    // the per-domain cap must partially aggregate (TopKAgg rides an
    // ObjectHashAggregate pair) — a Window here would shuffle every
    // corpus row to its domain's single reducer
    assert(!p.contains("Window"), s"domain cap grew a rank window:\n$p")
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2,
      s"top-k buffer lost its partial step:\n$p")
    // the keeper re-attach must broadcast the bounded kept side
    assert(p.contains("BroadcastHashJoin"), s"keeper re-attach shuffled:\n$p")
    assert(!p.contains("CartesianProduct"), s"fell back to cartesian:\n$p")
  }

  test("sim_ann_range: candidates filter in place — no rank window past the bounded probe stage") {
    val p = plan(graft.ops.Ann.simAnnRange)
    // windows are legal only on BOUNDED relations upstream (the probe
    // rank over queries × centroids orders by pcos; the shared model
    // lineage ranks assignments) — the CANDIDATE stream itself must
    // threshold-filter, never rank: no window may order by the
    // candidate cosine `cos` (negative-lookbehind excludes `pcos`)
    val candWindows = p.linesIterator
      .filter(_.contains("windowspecdefinition"))
      .filter(l => "(?<![a-z])cos#\\d+".r.findFirstIn(l).isDefined).toSeq
    assert(candWindows.isEmpty,
      s"radius filter grew a candidate-stream window:\n${candWindows.mkString("\n")}")
    assert(!p.contains("CartesianProduct"), s"fell back to cartesian:\n$p")
    // list members and vectors meet on keyed/broadcast joins
    assert(p.contains("BroadcastHashJoin"), s"probe join shuffled:\n$p")
  }

  test("global (partition-less) windows ride only bounded inputs across the ANN sampling + report-tail family") {
    // Pins the r14 verdict's watch-list item: a full verify sweep logs
    // 185 `WindowExec: No Partition Defined` warnings — today all on
    // bounded relations (model rows, ≤TrainSample samples, post-LIMIT
    // top-k), but nothing stopped a future key from putting a global
    // window on a corpus path, which at 100 TB funnels every row
    // through ONE task. Bounded-by-construction here = the logical
    // child KNOWS its row bound (maxRows — set by Limit, LocalRelation,
    // single-row aggregates, and preserved through projections/joins of
    // bounded sides). Any global window whose input cannot prove a
    // bound fails with the key and the window named — the allowed
    // sites are exactly the provably bounded ones.
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val keys = Seq(
      graft.ops.Ann.simAnnKmeans, graft.ops.Ann.simAnnKmeansRecall,
      graft.ops.Ann.dedupSemantic, graft.ops.Ann.dedupSemanticScaled,
      graft.ops.Ann.simAnnIvf2, graft.ops.Ann.simAnnIvf2Capped,
      graft.ops.Ann.simAnnUpsert, graft.ops.Ann.simAnnDelete,
      graft.ops.Ann.simAnnFiltered, graft.ops.Ann.simAnnRebalance,
      graft.ops.Ann.simAnnRange, graft.ops.Ann.simAnnNprobeCurve)
    val offenders = keys.flatMap { q =>
      q.fn(spark, d).queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty && w.child.maxRows.isEmpty =>
          s"${q.name}: global window ${w.windowExpressions.map(_.sql).mkString(", ")}" +
            s" over unbounded input ${w.child.nodeName}"
      }
    }
    assert(offenders.isEmpty,
      s"global windows over unbounded inputs:\n${offenders.mkString("\n")}")
  }
}
