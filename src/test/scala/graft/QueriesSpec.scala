package graft

import org.scalatest.funsuite.AnyFunSuite

/** Wiring smoke: every declared query executes at sf0.001 and every
  * oracle key has a query (the driver's t1/t2 preconditions). */
class QueriesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val d = "/root/testdata/sf0.001"

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracleSql keys = queries keys") {
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet)
  }

  // Keys audited to legitimately carry a global (partition-less) window
  // over an input whose row bound the optimizer cannot PROVE (maxRows
  // empty) but which is bounded by construction — each entry names the
  // audit. Keep this list justified: an unaudited key failing the sweep
  // below is exactly the 100 TB regression the guard exists to catch
  // (a global window funnels every input row through ONE task).
  private val globalWindowAudited: Map[String, String] = Map(
    "align_bt_rank" -> ("rank over the Bradley-Terry model relation: a " +
      "LocalRelation of P items left-joined to P-bounded stats (P² " +
      "driver state by the key's contract) — the join hides the bound"),
    "align_bt_rank_capped" -> "same P-bounded BT model relation as align_bt_rank",
    "event_anomaly" -> ("trailing-window stats over the per-day-bucket " +
      "aggregate: rows = distinct time buckets (calendar-bounded, not " +
      "corpus-bounded) — the standard daily-series anomaly shape"),
    "event_changepoint" -> ("CUSUM prefix sums over the per-bucket " +
      "aggregate — rows = distinct time buckets (calendar-bounded)"),
    "event_survival" -> ("Kaplan-Meier at-risk tail over the per-duration " +
      "aggregate — rows = distinct durations in days (calendar-bounded)"),
    "quality_drift" -> ("PSI normalizers over the 10-bin histogram " +
      "aggregate (bin = least(floor(v/33), 9) — ≤10 rows by construction)"),
    "quality_volume_anomaly" -> ("trailing-7 baseline over the per-day " +
      "volume aggregate — rows = distinct days (calendar-bounded)"),
    "sim_pca_power" -> ("Rayleigh-quotient sums over the per-dimension " +
      "moment aggregate — rows = vector dimensionality (64)"),
    "sort_nulls" -> ("order-pinning row_number for the null-ordering " +
      "certification over the c_custkey ≤ 2100 slice — the PK-range " +
      "predicate bounds rows at any corpus scale"))

  test("globalWindowAudited entries are live: each names a declared key that still carries an unprovable global window") {
    // a stale entry would silently whitelist a future unrelated query
    // reusing the name (review finding) — every audit must stay earned
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    for ((name, why) <- globalWindowAudited) {
      assert(SparkEntry.queries.contains(name),
        s"stale audit entry: $name is no longer a declared key — remove it")
      val n = SparkEntry.queries(name)(spark, d)
        .queryExecution.optimizedPlan.collect {
          case w: LWindow if w.partitionSpec.isEmpty && w.child.maxRows.isEmpty => w
        }.size
      assert(n > 0, s"stale audit entry: $name no longer carries an " +
        s"unprovable global window — remove it (was: $why)")
    }
  }

  // sha256 of every `SparkEntry.oracleSql` string, one `key<TAB>hex` line
  // per key in src/test/resources/oracle_sql.sha256. Many oracles are
  // assembled from shared SQL fragments; a refactor of one that moves a
  // byte of any key's DuckDB replay fails here with the key named. A
  // deliberate oracle change updates its line in the same commit.
  test("every oracleSql string matches its pinned sha256") {
    def sha256(s: String): String =
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val src = scala.io.Source.fromResource("oracle_sql.sha256", getClass.getClassLoader)
    val pinned = try src.getLines().filter(_.nonEmpty).map { line =>
      val Array(k, hex) = line.split('\t'); k -> hex
    }.toMap finally src.close()
    val keys = SparkEntry.oracleSql.keySet
    assert(pinned.keySet == keys,
      s"unpinned: ${(keys -- pinned.keySet).toSeq.sorted.mkString(", ")}; " +
        s"stale pins: ${(pinned.keySet -- keys).toSeq.sorted.mkString(", ")}")
    val moved = keys.toSeq.sorted.filterNot(k => sha256(SparkEntry.oracleSql(k)) == pinned(k))
    assert(moved.isEmpty, s"oracle SQL changed for: ${moved.mkString(", ")}")
  }

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"query $name executes at sf0.001") {
      val df = fn(spark, d)
      // suite-wide scale guard (round 15, generalizing the PlanSpec ANN
      // pin): every global window must ride an input that can prove its
      // row bound (Limit / LocalRelation / 1-row aggregate lineage)
      if (!globalWindowAudited.contains(name)) {
        import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
        val offenders = df.queryExecution.optimizedPlan.collect {
          case w: LWindow if w.partitionSpec.isEmpty && w.child.maxRows.isEmpty =>
            s"global window over unbounded ${w.child.nodeName}"
        }
        assert(offenders.isEmpty,
          s"$name: ${offenders.mkString("; ")} — bound the input or audit the site in globalWindowAudited")
      }
      assert(df.count() >= 0)
    }
  }
}
