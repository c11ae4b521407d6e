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

  // sha256 of each Ann key's `SparkEntry.oracleSql` string. The Ann
  // oracles are assembled from shared SQL fragments (IvfModel and its
  // CTEs); a refactor of them that moves a byte of any key's DuckDB
  // replay fails here with the key named.
  private val annOracleSha256: Map[String, String] = Map(
    "sim_ann_ivf" ->
      "ea192f2e3daa76bac68c05fd71306f45210208a27e32e30fc6640f51b3adad4b",
    "dedup_embed_lsh" ->
      "8e77ec959a8a138fad255de7ccf578adddde74c72034f7512c592213c22a3549",
    "sim_ann_kmeans" ->
      "7acf82bedf46bb24ce1b081d9a7b2e7611f4f1b6c640f30609dfd817be08fb6d",
    "sim_quantize" ->
      "24e2594032bbb363bd3dd6588380025ff3aa1df3bd22ae3e040a4c757b2d30f5",
    "sim_ann_recall" ->
      "7abf0e466f0fb464956dbf081342b1de1ad21d72c4d51c64a7f80638fb2630a7",
    "sim_ann_pq" ->
      "9ed792b37b427d60868a520f287befacf0b12b34e84f68eb1a80ce1013603a74",
    "sim_ann_kmeans_recall" ->
      "ddfc338edb857f1a5e36aec6068e3bc6d8310ee417f022fba2ded98521f1071a",
    "sim_ann_pq_recall" ->
      "7892a9080ac97229df655586aebf69a6adf6c9747f4da1b4a1bfb3e0c929a326",
    "dedup_embed_lsh_recall" ->
      "94e5bde788bf786d087ffa1e2eeb91886565595515b3f0563e33b9a97bbc91bd",
    "sim_pca_power" ->
      "23df091ed05a5380173546499e78993595ed24c48f456680a02cc4173631c132",
    "sim_ann_ivf_pq" ->
      "93bac7d87238970de74799fc16d3694a20a8c4efc703a97f523b18c2fca713b4",
    "sim_ann_nprobe_curve" ->
      "3370f99b1077bde3226977749090493d09852495e200e4aa061c28a3c9ec880a",
    "dedup_semantic" ->
      "b593e26139fb898411452dd5b677e179f483dc5c13d7d2da43d04ebc2685940c",
    "dedup_semantic_scaled" ->
      "2abe3b537fdf2eb5b44fd4b6f502ea17208b2e39c29ab68eb3a858a947d50610",
    "dedup_semantic_capped" ->
      "a2991bb83fbb30f7543e441f0243ad2d0aa97ae56244bcba39162f80c01f8471",
    "sim_ann_hnsw" ->
      "1bfb6531ba5902503da09c9fe9ae394e51b0a1360e245c6d26b52c1daec2998d",
    "sim_ann_graph_build" ->
      "7cc9e4ed5f576210ab16ddc3ab53e0f5ff073454487922e78b2faee460cc0d0e",
    "sim_ann_beam_curve" ->
      "7ef416a9ad9f0dddbd5ec2f56d85c19c50870b45a6e733efcfd26668539e4df8",
    "align_bitext_mine" ->
      "495d36e7f4c66d35ae19dca9d6b4359e0c19d900f0bf9296b0b259209c53fd66",
    "align_bitext_knn" ->
      "a62704b0c853e67e98a525146e00a5750b0ee0c81fc1746bf9f03ac5f703b427",
    "sim_ann_upsert" ->
      "1dfbe2d7c68c81cca41d1891ca28a806c692f30d32f7ef395967f5a25648ae2f",
    "stream_ann_upsert" ->
      "1dfbe2d7c68c81cca41d1891ca28a806c692f30d32f7ef395967f5a25648ae2f",
    "sim_ann_ivf2" ->
      "eb5afa3ea95dcfc0e301e12c4593848bb1bb2a7bfe9a0f052aa3852a900f29f5",
    "sim_ann_ivf2_capped" ->
      "29d92913d31b8bff2464abc306b25d1d0204bb3dfe8d39abe252a23b8a9cb669",
    "sim_ann_delete" ->
      "832f63b7a7014d5c6e3254f9dac5732257c12db29c6ce93005b5dda0351f1eca",
    "sim_ann_filtered" ->
      "9895b1fc28e54e1342187719fcd30bc85dde20e7bdf007fad704407a614b9cb4",
    "sim_ann_rebalance" ->
      "eec2235017b09ab5f6342e0c1b35617c7970f9501c43f633953a7fba1387d338",
    "sample_kcenter" ->
      "0ff06221a0f905d4c05fb27bf5d0b774224bc01419c63ebdf7b453ab08092ded",
    "pipeline_rag" ->
      "a7df48206a17eef75675400ee34db41d10f48b7ce45b80e60cb1fc01e448a10d",
    "sim_ann_range" ->
      "4c02f809c18f36db866bed0d180632663e6c782ba76e48a49e576d8be78a6d7f")

  test("every Ann key's oracleSql matches its pinned sha256") {
    def sha256(s: String): String =
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val names = graft.ops.Ann.all.map(_.name)
    assert(names.toSet == annOracleSha256.keySet && names.size == 30)
    val moved = names.filterNot(n => sha256(SparkEntry.oracleSql(n)) == annOracleSha256(n))
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
