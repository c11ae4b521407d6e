package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Events, Similarity, Text, TextAnalysis}

/** Edge-semantics goldens: as-of ties, sessionize gap boundary, dedup
  * keeper choice (FIXTURES.md fixture guidance). */
class EdgeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private def events(rows: (Long, String, Long, String)*) =
    rows.toDF("event_id", "tstr", "user_id", "event_type")
      .select(col("event_id"),
        to_timestamp(col("tstr")).cast("timestamp_ntz").as("ts"),
        col("user_id"), col("event_type"))

  test("asof: same-timestamp click counts; ties pick max event_id; no prior → null") {
    val ev = events(
      (1L, "2024-01-01 00:00:03", 1L, "error"),  // before any click → null
      (2L, "2024-01-01 00:00:05", 1L, "click"),
      (3L, "2024-01-01 00:00:10", 1L, "click"),
      (4L, "2024-01-01 00:00:10", 1L, "error"),  // tie with click 3 → 3
      (5L, "2024-01-01 00:00:20", 1L, "click"),
      (6L, "2024-01-01 00:00:20", 1L, "click"),  // two clicks same ts
      (7L, "2024-01-01 00:00:20", 1L, "error"))  // → max id = 6
    val got = Events.asofJoin(ev, "error", "click", "click_id")
      .orderBy("event_id")
      .collect().map(r => (r.getLong(0), Option(r.get(2)).map(_.asInstanceOf[Long])))
    assert(got.toSeq == Seq((1L, None), (4L, Some(3L)), (7L, Some(6L))))
  }

  test("asofJoinNearest: |Δt| ties prefer the at/before side; per-side id conventions hold") {
    val ev = events(
      (1L, "2024-01-01 00:00:00", 1L, "click"),
      (2L, "2024-01-01 00:00:10", 1L, "error"),  // equidistant 10s both ways → bwd click 1
      (3L, "2024-01-01 00:00:20", 1L, "click"),
      (10L, "2024-01-01 01:00:00", 2L, "error"), // only a LATER click exists → fwd
      (11L, "2024-01-01 01:00:05", 2L, "click"),
      (20L, "2024-01-01 02:00:00", 3L, "click"), // same-ts click: Δt=0 wins
      (21L, "2024-01-01 02:00:00", 3L, "error"),
      (30L, "2024-01-01 03:00:00", 4L, "error")) // no clicks → null
    val got = Events.asofJoinNearest(ev, "error", "click", "click_id")
      .orderBy("event_id")
      .collect().map(r => (r.getLong(0), Option(r.get(2)).map(_.asInstanceOf[Long])))
    assert(got.toSeq == Seq(
      (2L, Some(1L)), (10L, Some(11L)), (21L, Some(20L)), (30L, None)))
  }

  test("sessionize: gap of exactly 30 min stays; strictly greater splits") {
    val ev = events(
      (1L, "2024-01-01 00:00:00", 1L, "click"),
      (2L, "2024-01-01 00:30:00", 1L, "click"),  // gap == 30 min → same session
      (3L, "2024-01-01 01:00:00.000001", 1L, "click"), // 30min+1µs → new session
      (4L, "2024-01-01 10:00:00", 2L, "click"))  // other user interleaved
      .withColumn("value", lit(1.0))
    val got = Events.sessionize(ev)
      .orderBy("user_id", "session_id")
      .select("user_id", "session_id", "n_events")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 1L, 2L), (1L, 2L, 1L), (2L, 1L, 1L)))
  }

  test("banded interval join equals the naive per-user range join") {
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "user_id", "ts", "event_type")
    val gap = org.apache.spark.sql.functions.expr("INTERVAL 5 MINUTES")
    val naive = ev.alias("a").join(ev.alias("b"),
        col("a.user_id") === col("b.user_id") &&
        col("a.event_id") < col("b.event_id") &&
        col("b.ts") > col("a.ts") && col("b.ts") <= col("a.ts") + gap)
      .select(col("a.event_id").as("i"), col("b.event_id").as("j"))
      .as[(Long, Long)].collect().toSet
    val banded = Events.intervalSelfJoin(ev, 300000000L)
      .select(col("a.event_id").as("i"), col("b.event_id").as("j"))
      .as[(Long, Long)].collect().toSet
    assert(banded == naive)
    assert(banded.nonEmpty)
  }

  test("sessionize boundary agrees with Spark session_window at equal gap") {
    // Declared rule (SURVEY §5.2-3): gap == threshold stays in the
    // session. Verified empirically: Spark's session_window ALSO merges
    // an event arriving exactly at session end (end = last ts + gap), so
    // the batch analog and the streaming operator share boundary
    // semantics — this test pins that agreement.
    import org.apache.spark.sql.functions.{session_window, count => fcount}
    val ev = events(
      (1L, "2024-01-01 00:00:00", 1L, "click"),
      (2L, "2024-01-01 00:30:00", 1L, "click")) // gap exactly 30 min
    assert(Events.sessionize(ev).count() == 1)
    val sw = ev.groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(fcount(lit(1))).count()
    assert(sw == 1)
  }

  test("dedup_exact: identical texts group; keeper is min doc_id") {
    val docs = Seq(
      (10L, "same same same"), (3L, "same same same"), (7L, "unique text here"))
      .toDF("doc_id", "text")
    val got = Text.exactDupGroups(docs)
      .orderBy(desc("n_docs"))
      .select("n_docs", "keeper").as[(Long, Long)].collect().toSeq
    assert(got == Seq((2L, 3L), (1L, 7L)))
  }

  test("near-dup: one-token edit scores high Jaccard; unique text pairs none") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy cat today"),
      (3L, "completely different words appear in this document body"))
      .toDF("doc_id", "text")
    val pairs = Text.nearDupPairs(docs, threshold = 0.3)
      .as[(Long, Long, Double)].collect().toSeq
    assert(pairs.map(p => (p._1, p._2)) == Seq((1L, 2L)))
    assert(pairs.head._3 > 0.3 && pairs.head._3 < 1.0)
  }

  test("minhash LSH finds the same pairs as the exact shingle join") {
    val docs = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "a b c d e f g h i k"),
      (3L, "z y x w v u t s r q"),
      (4L, "z y x w v u t s r q"))
      .toDF("doc_id", "text")
    val exact = Text.nearDupPairs(docs, 0.5).select("i", "j")
      .as[(Long, Long)].collect().toSet
    val lsh = Dedup.minHashNearDup(docs, k = 16, threshold = 0.5).select("i", "j")
      .as[(Long, Long)].collect().toSet
    assert(lsh == exact)
    assert(exact.contains((3L, 4L))) // identical docs always recalled
  }

  test("simhash: identical texts → identical fingerprint; disjoint texts differ") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "one two three four five six"))
      .toDF("doc_id", "text")
    val fp = Dedup.simHash(docs).as[(Long, Long)].collect().toMap
    assert(fp(1L) == fp(2L))
    assert(fp(1L) != fp(3L))
  }

  test("stream_session merges an exact-gap pair into one session (boundary pin)") {
    // the gate corpora contain no consecutive same-user pair at EXACTLY
    // 30 minutes, so the oracle match alone cannot pin this boundary —
    // this fixture can: session_window merges at equal gap (verified on
    // 4.1.2), end = last + gap
    val ev = events(
      (1L, "2024-01-01 00:00:00", 1L, "click"),
      (2L, "2024-01-01 00:30:00", 1L, "click"),  // exactly gap → merges
      (3L, "2024-01-01 01:00:00.000001", 1L, "click")) // gap+1µs → splits
    val got = ev.groupBy(col("user_id"),
        session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("session_window.start").cast("timestamp").as("s"), col("n"))
      .orderBy("s")
      .collect().map(r => (r.getTimestamp(0), r.getLong(1))).toSeq
    assert(got == Seq((ts("2024-01-01 00:00:00"), 2L),
      (ts("2024-01-01 01:00:00.000001"), 1L)))
  }

  test("SimHashAgg equals the declarative 64×sum(CASE) formulation bit-for-bit") {
    import org.apache.spark.sql.functions._
    // varied doc lengths + shared tokens + an empty-token case (double
    // space) to exercise counter ties and both hash halves
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta  gamma"),
      (3L, "one two three four five six seven eight nine ten"),
      (4L, "alpha one beta two gamma three"),
      (5L, "z"))
      .toDF("doc_id", "text")
    val viaAgg = Dedup.simHash(docs).as[(Long, Long)].collect().toMap
    // the reference formulation the DuckDB oracle uses: 64 conditional
    // ±1 sums then the signed bit recombination
    val toks = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("token"))
      .withColumn("m", md5(col("token")))
      .withColumn("thi", conv(substring(col("m"), 1, 8), 16, 10).cast("long"))
      .withColumn("tlo", conv(substring(col("m"), 9, 8), 16, 10).cast("long"))
    val bitSums = (0 until 64).map { b =>
      val (src, sh) = if (b < 32) (col("tlo"), b) else (col("thi"), b - 32)
      sum(when(shiftright(src, sh).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$b")
    }
    val fpExpr = (0 until 64).map(b =>
      when(col(s"b$b") > 0, lit(1L << b)).otherwise(0L)).reduce(_ + _)
    val viaSums = toks.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), fpExpr.as("simhash"))
      .as[(Long, Long)].collect().toMap
    assert(viaAgg == viaSums)
  }

  test("keeper fixpoint: a 3-chain (A~B~C, A≁C) converges to one component keeper") {
    // jac(1,2)=7/9, jac(2,3)=6/10, jac(1,3)=5/11 < 0.5 — a genuine chain.
    val docs = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "a b c d e f g h i K"),
      (3L, "X Y c d e f g h i K"),
      (4L, "totally unrelated tokens compose this other document body here now"))
      .toDF("doc_id", "text")
    // one round of min-propagation: each doc's min over itself and its
    // direct neighbors — consistent only when components are cliques
    val pairs = Text.nearDupPairs(docs)
    val oneRound = pairs.select(col("i").as("doc_id"), col("j").as("nb"))
      .union(pairs.select(col("j").as("doc_id"), col("i").as("nb")))
      .groupBy("doc_id").agg(least(min(col("nb")), col("doc_id")).as("keeper"))
      .as[(Long, Long)].collect().toMap
    assert(oneRound == Map(1L -> 1L, 2L -> 1L, 3L -> 2L)) // chain end inconsistent
    val fixpoint = Text.nearDupKeepers(docs)
      .select("doc_id", "keeper").as[(Long, Long)].collect().toMap
    assert(fixpoint == Map(1L -> 1L, 2L -> 1L, 3L -> 1L)) // true component min
  }

  test("simhash hamming banding finds exactly the brute-force hamming ≤ 3 pairs") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"), // exact dup → hamming 0
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (4L, "one two three four five six seven eight nine ten"),
      (5L, "unrelated words entirely compose this very different text body"))
      .toDF("doc_id", "text")
    val fp = Dedup.simHash(docs).as[(Long, Long)].collect().toMap
    val brute = (for {
      (i, fi) <- fp.toSeq; (j, fj) <- fp.toSeq if i < j
      h = java.lang.Long.bitCount(fi ^ fj) if h <= 3
    } yield (i, j, h)).toSet
    val got = Dedup.simHashNearDup(docs).as[(Long, Long, Int)].collect().toSet
    assert(got == brute)
    assert(brute.exists(_._3 == 0)) // the planted exact dup is recalled
  }

  test("pipeline_pretrain near-dedup: MinHash banding == brute force on the planted %43 near-copies") {
    // pipeline_pretrain's f_dedup_near stage hash-matches an oracle that
    // computes EXHAUSTIVE all-pairs Jaccard >= 0.5, while the Spark side
    // uses 16-band/1-row LSH candidates + exact-Jaccard refilter — a
    // probabilistic, not structural, equivalence (a pair at j = 0.5 can
    // miss all 16 bands with p up to (1-0.5)^16 ~ 1.5e-5). This pin
    // replays the pipeline's exact planting (doc_id % 43 copies with
    // " pad pad pad" appended) and proves banding == brute force over
    // it, so a sketch/band regression or fixture change fails HERE with
    // a readable pair diff instead of desyncing the downstream funnel
    // hash (round-11 advice).
    val docs0 = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    val planted = docs0.unionByName(
      docs0.filter(col("doc_id") % 43 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat(col("text"), lit(" pad pad pad")).as("text")))
    val sh = graft.ops.Functions.shingles(planted).localCheckpoint()
    val banded = Dedup.minHashNearDupFromShingles(sh)
      .select("i", "j").as[(Long, Long)].collect().toSet
    val brute = Text.nearDupPairsFromShingles(sh)
      .select("i", "j").as[(Long, Long)].collect().toSet
    assert(banded == brute)
    // the planted near-copies are genuinely exercised: at least one
    // (%43 doc, +2000000 copy) pair clears the threshold and is recalled
    assert(brute.exists { case (i, j) => j == i + 2000000L })
  }

  test("pii scrub redacts planted emails and long digit runs") {
    val docs = Seq(
      (1L, "contact john.doe@example.com or call 12345678 soon"),
      (2L, "short 123 stays but 9876 goes"),
      (3L, "no pii in this document at all"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.piiScrub(docs).orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect()
    assert(got(0)._2 == 1 && got(0)._3 == 1)
    assert(got(0)._4.contains("<EMAIL>") && got(0)._4.contains("<NUM>"))
    assert(!got(0)._4.contains("example.com") && !got(0)._4.contains("12345678"))
    assert(got(1)._3 == 1 && got(1)._4.contains("123 stays"))
    assert(got(2)._2 == 0 && got(2)._3 == 0)
  }

  test("hash split is a pure function of doc_id and covers every row") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val s1 = TextAnalysis.hashSplit(docs).as[(Long, String)].collect().toMap
    val s2 = TextAnalysis.hashSplit(docs.repartition(7)).as[(Long, String)].collect().toMap
    assert(s1 == s2) // partitioning-invariant
    assert(s1.size == docs.count())
    val frac = s1.values.count(_ == "train").toDouble / s1.size
    assert(frac > 0.6 && frac < 0.9) // ~12/16 expected
  }

  test("decimal-exact sums: 0.005-style values that break double accumulation") {
    val df = Seq.fill(1000)(0.01).toDF("v")
    val got = df.agg(sum(col("v").cast("decimal(18,4)")).cast("double")).as[Double].head()
    assert(got == 10.0) // double accumulation would give 9.999999999999831
  }

  test("time range frame boundary pin: peers share the frame, exact-1h is inclusive") {
    // the window_time_range oracle encodes two boundaries NO gate row
    // exercises (verified: zero same-instant pairs and zero exact-1h
    // pairs at all three SFs) — rule 11 says pin them. DuckDB on the
    // same fixture gives n = 2,2,3,2 (checked empirically): same-instant
    // rows are RANGE peers and see each other; a row exactly gap later
    // still includes them (inclusive frame start); one µs past drops them.
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("eus")
      .rangeBetween(-3600000000L, Window.currentRow)
    val got = Seq((1L, 10L, 0L), (1L, 11L, 0L),
      (1L, 12L, 3600000000L), (1L, 13L, 3600000001L))
      .toDF("user_id", "event_id", "eus")
      .select(col("event_id"), count(lit(1)).over(w).as("n"))
      .orderBy("event_id")
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((10L, 2L), (11L, 2L), (12L, 3L), (13L, 2L)))
  }

  test("funnel: stage events at EXACTLY the anchor instant do not advance (strictly-after)") {
    val ev = events(
      // user 1: click at the same instant as the first view → stage 2 NOT reached
      (1L, "2024-01-01 00:00:10", 1L, "view"),
      (2L, "2024-01-01 00:00:10", 1L, "click"),
      (3L, "2024-01-01 00:00:20", 1L, "purchase"), // can't count: no click anchor
      // user 2: full funnel, purchase tied with click → stage 3 NOT reached
      (4L, "2024-01-01 00:00:10", 2L, "view"),
      (5L, "2024-01-01 00:00:11", 2L, "click"),
      (6L, "2024-01-01 00:00:11", 2L, "purchase"),
      // user 3: full funnel; click BEFORE the first view is ignored
      (7L, "2024-01-01 00:00:05", 3L, "click"),
      (8L, "2024-01-01 00:00:10", 3L, "view"),
      (9L, "2024-01-01 00:00:12", 3L, "click"),
      (10L, "2024-01-01 00:00:15", 3L, "purchase"))
    val got = Events.funnel(ev, Seq("view", "click", "purchase"))
      .select("stage", "n_users", "sum_us_from_first")
      .as[(String, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("view", 3L, 0L),
      ("click", 2L, 1000000L + 2000000L), // users 2 (+1 s) and 3 (+2 s)
      ("purchase", 1L, 5000000L)))        // user 3 only (+5 s from view)
  }

  test("firstArrival: equal-ts duplicates break on event_id; suppressed count per key") {
    val ev = events(
      (5L, "2024-01-01 00:00:10", 1L, "view"), // tie on ts → min event_id wins
      (2L, "2024-01-01 00:00:10", 1L, "view"),
      (9L, "2024-01-01 00:00:05", 1L, "view"), // earlier ts beats smaller ids
      (1L, "2024-01-01 00:00:50", 1L, "click"),
      (4L, "2024-01-01 00:00:55", 1L, "click"))
    val got = Events.firstArrival(ev)
      .select("event_type", "event_id", "n_suppressed")
      .orderBy("event_type")
      .as[(String, Long, Long)].collect().toSeq
    assert(got == Seq(("click", 1L, 1L), ("view", 9L, 2L)))
  }

  test("join_lateral: top-2 per customer, price tie broken by orderkey, no-order customer absent") {
    Seq((100L, "A", 10.0), (200L, "A", 10.0), (300L, "B", 0.0))
      .toDF("c_custkey", "c_mktsegment", "c_acctbal")
      .createOrReplaceTempView("customer")
    // c100: three orders, top price tied between keys 1 and 2 → keep 1;
    // c200: one order; c300: zero orders → excluded by the inner lateral
    Seq((1L, 100L, 50.0), (2L, 100L, 50.0), (3L, 100L, 40.0), (4L, 200L, 9.0))
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
      .createOrReplaceTempView("orders")
    val got = spark.sql(graft.ops.Scale.LateralSql)
      .as[(Long, String, Long, Double)].collect().toSeq
    assert(got == Seq(
      (100L, "A", 1L, 50.0), (100L, "A", 2L, 50.0), // tie → both, keyed order
      (200L, "A", 4L, 9.0)))
  }

  test("subquery_scalar: a price exactly at 1.5x the mean is excluded (strict >)") {
    // sum 1000 over 5 rows → mean exactly 200, threshold exactly 300:
    // the 300.0 row sits ON the boundary (excluded), 301.0 clears it
    Seq((1L, 100.0), (2L, 200.0), (3L, 300.0), (4L, 301.0), (5L, 99.0))
      .toDF("o_orderkey", "o_totalprice")
      .createOrReplaceTempView("orders")
    val got = spark.sql(graft.ops.Scale.ScalarSubSql)
      .as[(Long, Double)].collect().toSeq
    assert(got == Seq((4L, 301.0)), s"strict-> boundary violated: $got")
  }

  test("resampleBuckets: an edge-exact event opens its bucket; interior gaps emit zeros") {
    val ev = events(
      (1L, "2024-01-01 00:00:00", 1L, "purchase"),  // exactly bucket 0 edge
      (2L, "2024-01-01 00:09:59.999999", 1L, "purchase"), // last µs of bucket 0
      (3L, "2024-01-01 00:30:00", 1L, "purchase"))  // bucket 3 edge; 1-2 empty
    val base = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
      .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L / 600000000L
    val got = Events.resampleBuckets(ev, 600000000L)
      .select("bucket", "n").as[(Long, Long)].collect().toSeq
    assert(got == Seq((base, 2L), (base + 1, 0L), (base + 2, 0L), (base + 3, 1L)))
  }

  test("gapsIslands: runs split on type change; equal-ts order breaks on event_id") {
    val ev = events(
      (1L, "2024-01-01 00:00:00", 1L, "view"),
      (2L, "2024-01-01 00:00:10", 1L, "view"),   // run of 2 views
      (3L, "2024-01-01 00:00:20", 1L, "click"),  // type change → new island
      (4L, "2024-01-01 00:00:30", 1L, "view"),   // back to view → THIRD island
      (5L, "2024-01-01 00:00:40", 2L, "view"),   // other user independent
      (6L, "2024-01-01 00:00:50", 1L, "view"),   // equal ts as 7; id 6 first …
      (7L, "2024-01-01 00:00:50", 1L, "click"))  // … so view joins island, click splits
    val got = Events.gapsIslands(ev)
      .select("user_id", "event_type", "n_events", "first_event_id")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, "view", 2L, 1L), (1L, "click", 1L, 3L), (1L, "view", 2L, 4L),
      (1L, "click", 1L, 7L), (2L, "view", 1L, 5L)))
  }

  test("linearAttribution: equal split with floor; strict-before and 7d horizon") {
    val ev = Seq(
      // user 1: two clicks then a 100.01 purchase → 50.005 each, floored
      (1L, "2024-01-01 00:00:00", 1L, "click", 0.0),
      (2L, "2024-01-01 00:00:10", 1L, "click", 0.0),
      (3L, "2024-01-01 00:00:20", 1L, "purchase", 100.01),
      // click AT the purchase instant: p_eus > c_eus is strict → excluded
      (4L, "2024-01-01 00:00:20", 1L, "click", 0.0),
      // user 2: click exactly 7 days before → inclusive horizon
      (5L, "2024-01-01 00:00:00", 2L, "click", 0.0),
      (6L, "2024-01-08 00:00:00", 2L, "purchase", 10.0),
      // user 3: click 7 days + 1 µs before → outside
      (7L, "2024-01-01 00:00:00.000000", 3L, "click", 0.0),
      (8L, "2024-01-08 00:00:00.000001", 3L, "purchase", 10.0))
      .toDF("event_id", "tstr", "user_id", "event_type", "value")
      .select(col("event_id"),
        to_timestamp(col("tstr")).cast("timestamp_ntz").as("ts"),
        col("user_id"), col("event_type"), col("value"))
    val got = Events.linearAttribution(ev, lookbackUs = 604800000000L)
      .select("click_id", "n_purchases", "credit_microcents")
      .as[(Long, Long, Long)].collect().toSeq
    // 100.01 → 10001 cents → 10001e6 µc div 2 = 5000500000 each (exact here)
    assert(got == Seq(
      (1L, 1L, 5000500000L), (2L, 1L, 5000500000L), (5L, 1L, 1000000000L)))
  }

  test("repetitionSignals: known ppm on tiny docs; 1-token doc drops") {
    val docs = Seq(
      (1L, "a a b"),      // dup toks 2/3; bigrams {a a, a b} top 1/2
      (2L, "x y z"),      // all unique → dup 0; bigrams all distinct → 1/2
      (3L, "w w w w"),    // all dup 4/4; bigram "w w" ×3 of 3 → 10^6
      (4L, "solo"))       // no bigram → dropped
      .toDF("doc_id", "text")
    val got = TextAnalysis.repetitionSignals(docs)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 3L, 666666L, 500000L),
      (2L, 3L, 0L, 500000L),
      (3L, 4L, 1000000L, 1000000L)))
  }

  test("weightedSample: max-weight rows always kept; zero weight never; pure fn") {
    val docs = (1L to 400L).map(i =>
      (i, if (i % 7 == 0) 0L else if (i % 3 == 0) 500L else 500L - i))
      .toDF("doc_id", "n_chars")
    val kept = TextAnalysis.weightedSample(docs)
      .as[(Long, Long)].collect().toSeq
    // weight == max ⇒ u32·max < max·2^32 ⇔ u32 < 2^32 — unconditionally kept
    assert((1L to 400L).filter(_ % 7 != 0).filter(_ % 3 == 0)
      .forall(i => kept.contains((i, 500L))))
    assert(kept.forall(_._2 > 0), "zero-weight row sampled")
    val again = TextAnalysis.weightedSample(docs).as[(Long, Long)].collect().toSeq
    assert(kept == again, "sample not deterministic")
  }

  test("topPaths: overlapping trigrams counted; cross-user isolation; tie → path order") {
    val ev = events(
      (1L, "2024-01-01 00:00:00", 1L, "view"),
      (2L, "2024-01-01 00:00:01", 1L, "click"),
      (3L, "2024-01-01 00:00:02", 1L, "view"),
      (4L, "2024-01-01 00:00:03", 1L, "click"),   // v>c>v, c>v>c
      (5L, "2024-01-01 00:00:00", 2L, "view"),
      (6L, "2024-01-01 00:00:01", 2L, "click"),
      (7L, "2024-01-01 00:00:02", 2L, "view"))    // v>c>v again (no cross-user)
    val got = Events.topPaths(ev, k = 5)
      .as[(String, Long)].collect().toSeq
    assert(got == Seq(("view>click>view", 2L), ("click>view>click", 1L)))
  }

  test("rateAnomalies: exact 3-sigma boundary excluded (strict >); spike past it flags") {
    // 10-min bucket counts b0..b7 = [2,2,2,0,0,0,4,6] (b3-b5 are spine
    // zeros). b6's trailing history [2,2,2,0,0,0]: s=6, ss=12, zden=36,
    // znum=(6*4-6)^2=324 == 9*zden → exactly 3 sigma → NOT anomalous.
    // b7's history [2,2,0,0,0,4]: s=8, ss=24, zden=80, znum=(6*6-8)^2=784
    // > 720 → anomalous. b0-b5 have <6 history rows → unscored.
    val counts = Seq(0 -> 2, 1 -> 2, 2 -> 2, 6 -> 4, 7 -> 6)
    val rows = for {
      (b, n) <- counts
      i <- 0 until n
    } yield (b * 100L + i, s"2024-01-01 0${b / 6}:${b % 6}0:00", 1L, "purchase")
    val ev = events(rows: _*)
    val got = Events.rateAnomalies(ev, bucketUs = 600000000L, trail = 6)
      .select("n", "trail_sum", "z2_num", "z2_den")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((6L, 8L, 784L, 80L)))
  }

  test("overlapJoin: equals naive theta-join; touch-overlap inclusive; multi-band pair kept once") {
    // band = 100 µs. Spans chosen to cross several bands (dedup stress),
    // touch exactly (inclusive boundary), nest, and miss by 1 µs.
    val iv = Seq(
      (1L, 1L, 0L, 350L),     // crosses bands 0-3
      (2L, 1L, 150L, 600L),   // overlaps user 1 across bands 1-3 → ONE row
      (3L, 1L, 350L, 360L),   // touches user 1's end exactly → overlap 0 µs
      (4L, 1L, 351L, 400L),   // misses user 1 by 1 µs (but overlaps 2, 3)
      (5L, 1L, 700L, 700L))   // point interval, disjoint from all
      .toDF("user_id", "session_id", "s_eus", "e_eus")
    val got = Events.overlapJoin(iv, bandUs = 100L)
      .select("a_user", "b_user")
      .as[(Long, Long)].collect().toSeq.sorted
    val naive = iv.as("a").crossJoin(iv.as("b"))
      .filter(col("a.user_id") < col("b.user_id") &&
        col("a.s_eus") <= col("b.e_eus") && col("b.s_eus") <= col("a.e_eus"))
      .select(col("a.user_id"), col("b.user_id"))
      .as[(Long, Long)].collect().toSeq.sorted
    assert(got == naive, s"banded $got != naive $naive")
    assert(got == Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L)))
  }

  test("containmentPairs: a doc inside a larger doc scores cont 1.0 where jaccard dilutes") {
    // doc 2 = doc 1's text embedded in much more material: every shingle
    // of 1 appears in 2 → cont = 1.0, while jaccard is far below 0.5
    // (dedup_near would MISS this pair at its threshold)
    val quote = "alpha beta gamma delta epsilon zeta"
    val filler = (1 to 40).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, quote),
      (2L, s"$filler $quote"),
      (3L, "unrelated words only here")).toDF("doc_id", "text")
    val got = Text.containmentPairsFromStats(
        Text.shingleStatsFromShingles(graft.ops.Functions.shingles(docs)), threshold = 0.8)
      .select("i", "j", "cont", "contained")
      .as[(Long, Long, Double, Long)].collect().toSeq
    assert(got == Seq((1L, 2L, 1.0, 1L)), s"containment missed the planted subset: $got")
    val jac = Text.nearDupPairs(docs, threshold = 0.5).count()
    assert(jac == 0, "jaccard at 0.5 should dilute away the subset pair")
  }

  test("maxSim: identical group scores nq; orthogonal group scores 0") {
    // 4-dim: query = 2 unit basis vectors (label 0); label 1 repeats them,
    // label 2 is orthogonal to both
    val rows = Seq(
      (0L, 0, Seq(1.0, 0.0, 0.0, 0.0)), (1L, 0, Seq(0.0, 1.0, 0.0, 0.0)),
      (10L, 1, Seq(1.0, 0.0, 0.0, 0.0)), (11L, 1, Seq(0.0, 1.0, 0.0, 0.0)),
      (20L, 2, Seq(0.0, 0.0, 1.0, 0.0)), (21L, 2, Seq(0.0, 0.0, 0.0, 1.0)))
    val emb = rows.toDF("vec_id", "label", "ve")
      .withColumn("nrm", sqrt(graft.functions.DotProduct.dot(col("ve"), col("ve"))))
    val got = Similarity.maxSim(emb, queryLabel = 0, nq = 2)
      .as[(Int, Double)].collect().toMap
    // label 0's remaining vectors: none (both consumed as the query) — so
    // label 0 is absent; label 1 matches the query exactly, label 2 never
    assert(got == Map(1 -> 2.0, 2 -> 0.0))
  }

  test("triangleCounts: K4-minus-an-edge — two triangles, per-node shares") {
    // edges {1-2, 1-3, 2-3, 2-4, 3-4}: triangles {1,2,3} and {2,3,4}.
    // nodes 2 and 3 sit in both; 1 and 4 in one each.
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
    val sym = (und ++ und.map(_.swap)).toDF("u", "v")
    val got = graft.ops.Graph.wedgeTriangles(graft.ops.Graph.orientByDegree(sym))
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 1L), s"got $got")
  }

  test("triangleCounts: star graph has no triangles; orientation points at the hub") {
    val und = Seq((1L, 2L), (1L, 3L), (1L, 4L))
    val sym = (und ++ und.map(_.swap)).toDF("u", "v")
    assert(graft.ops.Graph.wedgeTriangles(graft.ops.Graph.orientByDegree(sym))
      .count() == 0)
    // deg(hub 1) = 3, leaves = 1 → every oriented edge starts at a leaf,
    // so the degree-3 hub never pays the wedge join
    val ed = graft.ops.Graph.orientByDegree(sym)
      .as[(Long, Long, Long)].collect().toSet
    assert(ed == Set((2L, 1L, 3L), (3L, 1L, 3L), (4L, 1L, 3L)), s"got $ed")
  }

  test("altStarComponents: long path collapses to one star at the min") {
    // a diameter-7 path is the case plain label propagation needs 7 rounds
    // for; alternating stars must still converge (in O(log n)) and root
    // every node at the component minimum
    val pairs = (1L to 7L).map(i => (i, i + 1)).toDF("lo", "hi")
    val got = graft.ops.Graph.altStarComponents(pairs)
      .as[(Long, Long)].collect().toSet
    assert(got == (2L to 8L).map(m => (1L, m)).toSet, s"got $got")
  }

  test("altStarComponents: disjoint components keep separate roots") {
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), // triangle at 1
      (10L, 11L), (11L, 12L)) // path at 10
      .toDF("lo", "hi")
    val got = graft.ops.Graph.altStarComponents(pairs)
      .as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L), (1L, 3L), (10L, 11L), (10L, 12L)), s"got $got")
  }

  test("linkpredScores: path graph — each non-adjacent pair scored via its shared neighbor") {
    // path 1–2–3–4: non-edges sharing a neighbor are (1,3) via 2 and
    // (2,4) via 3; (1,4) shares none and must NOT appear.
    // jac(1,3) = 1/(d1+d3−1) = 1/2 → 500000 ppm; same for (2,4).
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    val e0 = (und ++ und.map(_.swap)).toDF("u", "v")
    val got = graft.ops.Graph.linkpredScores(e0, e0)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 3L, 1L, 500000L), (2L, 4L, 1L, 500000L)),
      s"got $got")
  }

  test("linkpredScores: hub cap bounds which pairs the center vouches for") {
    // star: hub 1 — leaves 2..5. Uncapped, the hub vouches all 6 leaf
    // pairs; capped to its 2 smallest-id neighbors it vouches only (2,3).
    // True degrees stay uncapped: jac(2,3) = 1/(1+1−1) = 1.0.
    val und = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L))
    val e0 = (und ++ und.map(_.swap)).toDF("u", "v")
    val uncapped = graft.ops.Graph.linkpredScores(e0, e0)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(uncapped.map(t => (t._1, t._2)) ==
      Set((2L, 3L), (2L, 4L), (2L, 5L), (3L, 4L), (3L, 5L), (4L, 5L)),
      s"got $uncapped")
    import org.apache.spark.sql.expressions.Window
    val ec = e0.withColumn("rn", row_number()
        .over(Window.partitionBy("u").orderBy("v")))
      .filter(col("rn") <= 2).select("u", "v")
    val capped = graft.ops.Graph.linkpredScores(e0, ec)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(capped == Set((2L, 3L, 1L, 1000000L)), s"got $capped")
  }

  test("khopReach: path graph — cumulative reach grows one node per hop from the ends") {
    // path 1–2–3–4–5; seeds = all 5 nodes.
    // seed 1: hop sets {2}, {2,3}, {2,3,4}; seed 3: {2,4}, {1,2,4,5}, same.
    val und = (1L to 4L).map(i => (i, i + 1))
    val e0 = (und ++ und.map(_.swap)).toDF("u", "v")
    val got = graft.ops.Graph.khopReach(e0, nSeeds = 10)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == Set(
      (1L, 1L, 2L, 3L), (2L, 2L, 3L, 4L), (3L, 2L, 4L, 4L),
      (4L, 2L, 3L, 4L), (5L, 1L, 2L, 3L)), s"got $got")
  }

  test("pagerank: exact integer ranks on a hand-computed 3-node path graph") {
    // path graph 1–2–3, symmetric edges; deg(1)=deg(3)=1, deg(2)=2.
    // r0 = 1e6 each; hand-unrolled micro-rank updates with truncating div:
    //   r1: ends 150000+85*(1000000 div 2) div 100 = 575000; mid 1850000
    //   r2: ends 936250; mid 1127500
    //   r3: ends 150000+(85*(1127500 div 2)) div 100 = 629187; mid 1741625
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("u", "v")
    // the gated path's form: degrees ride in the edge relation
    val ed = edges.join(edges.groupBy("u").agg(count(lit(1)).as("d")), "u")
    val got = graft.ops.Graph.iterateWithDeg(ed, ed.select(col("u").as("node")).distinct(), 3)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 629187L, 2L -> 1741625L, 3L -> 629187L), s"got $got")
    // conservation sanity: total mass stays within floor-loss of 3e6
    assert(got.values.sum <= 3000000L)
  }

  test("mmrGreedy: redundancy penalty demotes the near-duplicate of the first pick") {
    // query-relevance order: 1 (rel .95), 2 (rel .94, near-identical to 1),
    // 3 (rel .60, orthogonal to both). Pure top-k would pick (1, 2);
    // MMR at λ=0.7 must pick the diverse 3 at step 2:
    //   score(2) = .7·.94 − .3·cos(2,1)≈1  ≈ .358
    //   score(3) = .7·.60 − .3·0           = .42
    val rows: Array[(Long, Array[Double], Double, Double)] = Array(
      (1L, Array(1.0, 0.0), 1.0, 0.95),
      (2L, Array(0.999, 0.0447), 1.0, 0.94),
      (3L, Array(0.0, 1.0), 1.0, 0.60))
    val got = graft.ops.Similarity.mmrGreedy(rows, k = 3).map(_._1)
    assert(got == Vector(1L, 3L, 2L), s"got $got")
  }

  test("mmrGreedy: ties break on vec_id; k=1 is pure argmax-rel") {
    val e = Array(1.0, 0.0)
    val rows: Array[(Long, Array[Double], Double, Double)] = Array(
      (7L, e, 1.0, 0.9), (5L, e, 1.0, 0.9), (9L, e, 1.0, 0.2))
    assert(graft.ops.Similarity.mmrGreedy(rows, 1).map(_._1) == Vector(5L))
    // identical vectors → identical scores at step 2: lower id wins
    assert(graft.ops.Similarity.mmrGreedy(rows, 2).map(_._1) == Vector(5L, 7L))
  }

  test("eventMarkov relation: PPM floor division and per-src normalization on a tiny log") {
    val ev = Seq(
      (1L, "2024-01-01 10:00:00", 1L, "view"),
      (2L, "2024-01-01 10:01:00", 1L, "view"),
      (3L, "2024-01-01 10:02:00", 1L, "click"),
      (4L, "2024-01-01 10:00:00", 2L, "view"),
      (5L, "2024-01-01 10:03:00", 2L, "purchase"))
      .toDF("event_id", "tstr", "user_id", "event_type")
      .withColumn("ts", col("tstr").cast("timestamp_ntz")).drop("tstr")
    // transitions: u1 view→view, view→click; u2 view→purchase
    // src=view totals 3: view→view 1 (333333), view→click 1, view→purchase 1
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val cnt = ev.withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("src"), col("next_type").as("dst"))
      .agg(count(lit(1)).as("n"))
    val tot = cnt.groupBy(col("src").as("t_src")).agg(sum(col("n")).as("t"))
    val got = cnt.join(tot, col("src") === col("t_src"))
      .select(col("src"), col("dst"), expr("(1000000 * n) div t").as("p_ppm"))
      .as[(String, String, Long)].collect().toSet
    assert(got == Set(("view", "view", 333333L), ("view", "click", 333333L),
      ("view", "purchase", 333333L)), s"got $got")
  }

  test("textBpePairs: vocab-weighted pair counts equal the naive all-occurrence counts") {
    // The scale claim: exploding pairs over DISTINCT words weighted by
    // word count must equal counting pairs over every word occurrence.
    val docs = Seq(
      (0L, "low lower lowest low"),
      (1L, "new newer low"),
      (2L, "ab ab ab")).toDF("doc_id", "text")
    def naive(texts: Seq[String]): Map[String, Long] =
      texts.flatMap(_.split(" ")).filter(_.length >= 2)
        .flatMap(w => w.sliding(2))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val want = naive(Seq("low lower lowest low", "new newer low", "ab ab ab"))
    // textBpePairs reads Tables.documents(d) — drive the same kernel on
    // the inline fixture instead
    val kernel = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy("w").agg(count(lit(1)).as("wc"))
      .select(col("wc"), explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
        .as("pair"))
      .groupBy("pair").agg(sum(col("wc")).as("cnt"))
      .as[(String, Long)].collect().toMap
    assert(kernel == want, s"got $kernel want $want")
    // 'ab' appears 3 times as one word => weighted count 3 via wc, not 1
    assert(kernel("ab") == 3L)
  }

  test("textLmScore: micro-probs bounded, per-doc mean matches a naive recompute") {
    val d = "/root/testdata/sf0.001"
    val rows = TextAnalysis.textLmScore.fn(spark, d)
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.length == 25)
    rows.foreach { case (_, n, avg, mn) =>
      assert(n >= 1 && mn >= 0 && mn <= avg && avg <= 1000000L,
        s"bounds violated: n=$n avg=$avg min=$mn")
    }
    // independent naive recompute of the worst doc's score from raw text
    val (docId, nBg, avgMicro, minMicro) = rows.head
    val texts = graft.Tables.documents(spark, d)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    val bigrams = texts.flatMap { case (id, t) =>
      val w = t.split(" "); w.indices.dropRight(1).map(i => (id, w(i), w(i + 1)))
    }
    val bc = bigrams.groupBy(b => (b._2, b._3)).view.mapValues(_.length.toLong).toMap
    val uc = bigrams.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val micros = bigrams.filter(_._1 == docId)
      .map { case (_, w1, w2) => bc((w1, w2)) * 1000000L / uc(w1) }
    assert(micros.length.toLong == nBg)
    assert(micros.sum / micros.length == avgMicro)
    assert(micros.min == minMicro)
  }

  test("ssspCosts: min-cost beats direct edge; 3-edge bound excludes cheaper 4-hop path") {
    // chain 1-2-3-4-5 at cost 1 per edge, plus direct 1->4 (100), 1->5 (10):
    //   cost(1,4) = 3 (three hops beat the direct 100)
    //   cost(1,5) = 10 (the 4-hop cost-4 path exceeds the 3-edge bound)
    val ew = Seq(
      (1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L), (4L, 5L, 1L),
      (1L, 4L, 100L), (1L, 5L, 10L)).toDF("u", "v", "w")
    val got = graft.ops.Graph.ssspCosts(ew, nSeeds = 10)
      .as[(Long, Long, Long)].collect()
      .map { case (s, v, c) => ((s, v), c) }.toMap
    assert(got((1L, 4L)) == 3L, s"relaxation missed the cheaper 3-hop path: $got")
    assert(got((1L, 5L)) == 10L, s"bound leaked a 4-edge path: $got")
    assert(got((1L, 2L)) == 1L && got((1L, 3L)) == 2L)
    assert(got((2L, 5L)) == 3L) // 2-3-4-5 within the bound
  }

  test("supplierEdges: co-occurrence is symmetric, self-pair-free, distinct") {
    val li = Seq((1L, 10L), (1L, 20L), (1L, 20L), (2L, 20L), (3L, 30L))
      .toDF("l_orderkey", "l_suppkey")
    val got = graft.ops.Graph.supplierEdges(li)
      .as[(Long, Long)].collect().toSet
    // order 1 links 10 and 20 both ways (once, despite the dup lineitem);
    // order 2 is a single-supplier order → no edge; 30 is isolated
    assert(got == Set((10L, 20L), (20L, 10L)))
  }

  test("labelPropagate: bridged triangles settle into two majority communities") {
    // triangle {1,2,3} — triangle {10,11,12}, bridged 3–10: majority
    // adoption must keep the two triangles as separate communities with
    // the bridge endpoints claimed by their own triangle's majority.
    // Hand-run of the 4 synchronous rounds (min-label ties):
    //   r1: 1→2 2→1 3→1 10→3 11→10 12→10
    //   r2: 1→1 2→1 3→1 10→10 11→3 12→3
    //   r3: 1→1 2→1 3→1 10→3  11→3 12→3
    //   r4: 1→1 2→1 3→1 10→3  11→3 12→3  (stable)
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L), (3L, 10L))
    val e0 = (und ++ und.map(_.swap)).toDF("u", "v")
    val got = graft.ops.Graph.labelPropagate(e0, 4)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 3L, 11L -> 3L, 12L -> 3L), s"got $got")
  }

  test("labelPropagate: majority beats smaller label; tie falls to the min label") {
    // star center 5 with neighbors 7,8 labeled by their own ids plus
    // pendant 1: round 1 at node 5 sees labels {7,8,1} all count 1 →
    // tie → min = 1. Node 9 (attached to 7 twice via symmetric dup? no
    // — single edge) adopts 7. One round isolates the tie rule.
    val und = Seq((5L, 7L), (5L, 8L), (5L, 1L), (9L, 7L))
    val e0 = (und ++ und.map(_.swap)).toDF("u", "v")
    val got = graft.ops.Graph.labelPropagate(e0, 1)
      .as[(Long, Long)].collect().toMap
    assert(got(5L) == 1L, s"tie must fall to min label: $got")
    assert(got(9L) == 7L && got(1L) == 5L && got(7L) == 5L, s"got $got")
  }

  test("sample_bootstrap matches an independent plain-Scala Poissonized resampler") {
    def u40(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(5).map(b => f"$b%02x").mkString, 16)
    }
    val cdf = Seq(404487723187L, 808975446375L, 1011219307969L,
      1078633928500L, 1095487583633L)
    val docs = (1L to 10L).map(i => (i, "t" * i.toInt, 7 * i)).toSeq
    val want = (0 until 32).map { r =>
      val cs = docs.map { case (id, _, n) =>
        (cdf.count(t => u40(s"bs:$id:$r") >= t).toLong, n)
      }
      val nEff = cs.map(_._1).sum
      val sumC = cs.map { case (c, n) => c * n }.sum
      (r, nEff, sumC, if (nEff == 0) null else (sumC * 1000000L / nEff): Any)
    }
    val df = docs.toDF("doc_id", "text", "n_chars")
    val dir = sys.props("java.io.tmpdir") + "/graft_bs_spec"
    df.write.mode("overwrite").parquet(dir + "/documents.parquet")
    val q = graft.ops.TextAnalysis.all.find(_.name == "sample_bootstrap").get
    val got = q.fn(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) null else r.getLong(3): Any)).toSeq
    assert(got == want, s"got $got\nwant $want")
    // the resample must actually vary across replicas
    assert(got.map(_._2).distinct.size > 1)
  }

  test("events_ffill: gap days carry the last observed value; same-day pick is latest (ts, event_id)") {
    val day = 86400000000L
    def ts(us: Long) = new java.sql.Timestamp(us / 1000)
    // user 1: day 0 has TWO events (event 11 later → its value 9.5 wins),
    // days 1-2 are gaps, day 3 observes 7.0; user 2: single day.
    val ev = Seq(
      (10L, 1L, 100L, 5.0),
      (11L, 1L, 200L, 9.5),
      (12L, 1L, 3 * day + 5L, 7.0),
      (20L, 2L, day + 1L, 2.5))
      .map { case (e, u, us, v) => (e, u, ts(us), v) }
      .toDF("event_id", "user_id", "ts", "value")
      .withColumn("ts", col("ts").cast("timestamp_ntz"))
    val q = graft.ops.Events.all.find(_.name == "events_ffill").get
    // drive the library form through a temp parquet so Tables.events reads it
    val dir = sys.props("java.io.tmpdir") + "/graft_ffill_spec"
    ev.write.mode("overwrite").parquet(dir + "/events.parquet")
    val got = q.fn(spark, dir)
      .as[(Long, Long, Double, Boolean)].collect().toSeq
    assert(got == Seq(
      (1L, 0L, 9.5, true), (1L, 1L, 9.5, false), (1L, 2L, 9.5, false),
      (1L, 3L, 7.0, true), (2L, 1L, 2.5, true)), s"got $got")
  }

  test("winnowFingerprints matches an independent plain-Scala winnower (ties, prefix windows, short docs)") {
    // reference implementation: 3-gram shingles at 1-based positions,
    // h = first 10 hex chars of md5, per trailing <=4-window the
    // (min h, rightmost pos) choice, fingerprints = distinct choices.
    def md5h(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(5).map(b => f"$b%02x").mkString, 16)
    }
    def ref(text: String): Option[(Long, Long, Long, Long, Long)] = {
      val t = text.split(" ")
      if (t.length < 3) return None
      val hs = (0 to t.length - 3).map(i => md5h(t.slice(i, i + 3).mkString(" ")))
      val P = 1048576L
      val scores = hs.zipWithIndex.map { case (h, i) => h * P + (P - 1 - (i + 1)) }
      val sel = scores.indices.map(p =>
        scores.slice(math.max(0, p - 3), p + 1).min).distinct
      val fh = sel.map(_ / P)
      Some((hs.size.toLong, fh.size.toLong,
        fh.size.toLong * 1000000L / hs.size, fh.sum, fh.min))
    }
    val docs = Seq(
      (1L, "t u v"),                         // single shingle
      (2L, "a a a a a a a"),                 // all-tie: rightmost-min selects every window end
      (3L, "the quick brown fox jumps over the lazy dog near the old quiet river bank today"),
      (4L, "x y"))                           // too short: no row
      .toDF("doc_id", "text")
    val got = graft.ops.Text.winnowFingerprints(docs)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5, r._6)).toMap
    val want = Seq(1L, 2L, 3L).flatMap(id =>
      ref(docs.filter(col("doc_id") === id).head.getString(1)).map(id -> _)).toMap
    assert(got == want, s"got $got\nwant $want")
    // the all-tie doc pins the rightmost rule: every window end selected
    assert(got(2L)._2 == got(2L)._1)
  }

  test("kcoreCensus: progressive peel — pendant, then bridge, then tail, then stable") {
    // K4 {1,2,3,4} plus a tail: 5–{6,2,3}, 6–{5,1,7}, pendant 7–6.
    // Hand-run of 4 peel rounds at k=3:
    //   r1 peels 7 (deg 1)        → 6 nodes, 10 und. edges
    //   r2 peels 6 (deg 2 after)  → 5 nodes,  8 und. edges
    //   r3 peels 5 (deg 2 after)  → K4: 4 nodes, 6 und. edges
    //   r4 stable (all deg 3)
    val und = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (5L, 6L), (5L, 2L), (5L, 3L), (6L, 1L), (6L, 7L))
    val e0 = (und ++ und.map(_.swap)).toDF("u", "v")
    val got = graft.ops.Graph.kcoreCensus(e0, 3, 4)
      .orderBy("round")
      .as[(Int, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1, 6L, 20L, 21L, 1L, 6L),
      (2, 5L, 16L, 15L, 1L, 5L),
      (3, 4L, 12L, 10L, 1L, 4L),
      (4, 4L, 12L, 10L, 1L, 4L)), s"got $got")
  }

  test("kcoreCensus: a graph that peels to empty reports zero census rows") {
    // path 1–2–3: no node ever reaches degree 3 → round 1 empties it;
    // the census must still emit all 4 rounds with zeroed checksums.
    val und = Seq((1L, 2L), (2L, 3L))
    val e0 = (und ++ und.map(_.swap)).toDF("u", "v")
    val got = graft.ops.Graph.kcoreCensus(e0, 3, 4)
      .orderBy("round")
      .as[(Int, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq.tabulate(4)(r => (r + 1, 0L, 0L, 0L, 0L, 0L)), s"got $got")
  }

  test("survivalTable: reverse cumulative at-risk counts and ppm floor on a planted log") {
    // user 1: one day (t=0); users 2,3: three-day span (t=2) →
    // ended = {0→1, 2→2}; at_risk = {0→3, 2→2}; ppm = 1000000, 666666
    val ev = Seq(
      (1L, "2024-01-01 10:00:00"),
      (2L, "2024-01-01 09:00:00"), (2L, "2024-01-03 09:00:00"),
      (3L, "2024-01-02 09:00:00"), (3L, "2024-01-04 23:00:00"))
      .toDF("user_id", "tstr")
      .select(col("user_id"),
        to_timestamp(col("tstr")).cast("timestamp_ntz").as("ts"))
    val got = Events.survivalTable(ev)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((0L, 3L, 1L, 1000000L), (2L, 2L, 2L, 666666L)),
      s"got $got")
  }

  test("minhashRecallCollapsed: equals the full-corpus recall report on a copy-heavy corpus") {
    // content A ×3 copies, a near-dup A' ×2 copies, an unrelated B, and a
    // 2-token doc ×2 (no shingles — must contribute NOTHING, same as the
    // full kernels). The collapsed computation must reproduce the full
    // pairRecallReport numbers exactly: C(m,2) same-content terms plus
    // m_i·m_j cross-content weights.
    val a = "the quick brown fox jumps over the lazy dog"
    val a2 = "the quick brown fox jumps over the lazy cat" // high shingle overlap
    val b = "completely different content with no shared shingles at all"
    val docs = Seq(
      (1L, a), (2L, a), (3L, a),
      (10L, a2), (11L, a2),
      (20L, b),
      (30L, "too short"), (31L, "too short"))
      .toDF("doc_id", "text")
    val full = graft.ops.Similarity.pairRecallReport(
      Text.nearDupPairs(docs), Dedup.minHashNearDup(docs))
      .as[(Long, Long, Long, Long)].collect().head
    // the gate's collapsed relations (landed there), built inline
    val reps = Dedup.repsOf(docs)
    val sh = graft.ops.Functions.shingles(reps.select("doc_id", "text"))
    val collapsed = Dedup.recallCollapsedCore(reps,
        Text.nearDupPairsFromShingles(sh).select("i", "j"),
        Dedup.minHashNearDupFromShingles(sh).select("i", "j"))
      .as[(Long, Long, Long, Long)].collect().head
    assert(collapsed == full, s"collapsed $collapsed != full $full")
    // liveness: same-content terms C(3,2)+C(2,2)=4 must be inside the count
    assert(full._1 >= 4, s"planted duplicate pairs missing: $full")
  }

  test("minhashClusters: keeper-first cluster output over a copy-heavy corpus") {
    // same fixture family as the collapsed-recall test: copies must
    // cluster with their near-dup neighbors (one component of 5 docs,
    // keeper = global min id), the singleton shingled doc and the
    // shingle-less exact dups must NOT appear.
    val a = "the quick brown fox jumps over the lazy dog"
    val a2 = "the quick brown fox jumps over the lazy cat"
    val b = "completely different content with no shared shingles at all"
    val docs = Seq(
      (1L, a), (2L, a), (3L, a),
      (10L, a2), (11L, a2),
      (20L, b),
      (30L, "too short"), (31L, "too short"))
      .toDF("doc_id", "text")
    // the gate's collapsed relations (landed there), built inline
    val reps = Dedup.repsOf(docs)
    val sh = graft.ops.Functions.shingles(reps.select("doc_id", "text"))
    val got = Dedup.minhashClustersCore(docs, reps, sh,
        Dedup.minHashNearDupFromShingles(sh).select("i", "j"))
      .as[(Long, Long, Long)].collect().toSet
    val want = Set(1L, 2L, 3L, 10L, 11L).map(id => (id, 1L, 5L))
    assert(got == want, s"got $got")
  }

  test("annealMix: worst source dropped from the anneal, budgets follow size then quality") {
    // three sources: A high-quality (all-distinct tokens), B mid, C
    // low (heavy repetition). Phase-1 budgets follow token counts;
    // phase-2 must give C (the q_min source) EXACTLY zero, and A more
    // than B.
    val docs = Seq(
      (1L, "a", "one two three four"), (2L, "a", "five six seven eight"),
      (3L, "b", "one two one two"), (4L, "b", "three four three five"),
      (5L, "c", "one one one one"), (6L, "c", "two two two two"))
      .toDF("doc_id", "source", "text")
    val got = graft.ops.Curation.annealMix(docs, b1 = 1000L, b2 = 1000L)
      .select("source", "n_tokens", "b1_tokens", "b2_tokens")
      .as[(String, Long, Long, Long)].collect().toSeq
    val bySrc = got.map(r => r._1 -> r).toMap
    assert(got.map(_._2).sum == 24 && got.forall(_._3 == 1000L * 8 / 24),
      s"phase-1 budgets wrong: $got")
    assert(bySrc("c")._4 == 0L, s"q_min source must get zero anneal: $got")
    assert(bySrc("a")._4 > bySrc("b")._4 && bySrc("b")._4 > 0,
      s"anneal must order by quality excess: $got")
  }

  test("rebalanceReport: oversized list evicts its lowest-margin rows; empty receiving list stays in the accounting") {
    import graft.ops.{Ann, Similarity}
    // three centroids; list 0 holds five vectors fanning off the x
    // axis, list 1 holds one, centroid 2 has NO members. n=6 over 2
    // non-empty lists -> cap=3, so list 0 (size 5) keeps its three
    // highest-margin members (ids 1,2,3 — nearest the x axis) and
    // evicts id 4 to centroid 1 and id 5 (the only y<0 vector) to
    // centroid 2 — which must appear in the report with n_before = 0
    // (conservation: sum n_after == sum n_before).
    def withNorm(df: org.apache.spark.sql.DataFrame, vc: String, nc: String) =
      df.withColumn(nc, Similarity.l2norm(col(vc)))
    val v = withNorm(Seq(
      (1L, Seq(1.0, 0.0)), (2L, Seq(1.0, 0.1)), (3L, Seq(1.0, 0.2)),
      (4L, Seq(1.0, 0.5)), (5L, Seq(1.0, -0.8)), (6L, Seq(0.0, 1.0)))
      .toDF("vec_id", "ve"), "ve", "nrm")
    val cents = withNorm(Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)),
      (2L, Seq(0.0, -1.0))).toDF("cid", "cve"), "cve", "cnrm")
    val lists = Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 0L), (5L, 0L),
      (6L, 1L)).toDF("vec_id", "bucket")
    val got = Ann.rebalanceReport(v, cents, lists)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((0L, 5L, 2L, 0L, 3L), (1L, 1L, 0L, 1L, 2L),
      (2L, 0L, 0L, 1L, 1L)), s"got $got")
    assert(got.map(_._2).sum == got.map(_._5).sum,
      s"rebalance lost rows (conservation): $got")
  }

  test("epochCapMix: quality source hits the 4-epoch cap, overflow redistributed to the uncapped") {
    // source a: 128 distinct tokens (q = 10^6) — quality share far above
    // size share, so its desired allocation exceeds 4 epochs and CAPS;
    // source b: 384 repeats of one token (q ~ 2.6k) — uncapped, and the
    // redistribution of a's overflow must push its allocation above its
    // own quality-share desire while staying under ITS cap.
    val docs = Seq(
      (1L, "a", (0 until 128).map("t" + _).mkString(" ")),
      (2L, "b", Seq.fill(384)("x").mkString(" ")))
      .toDF("doc_id", "source", "text")
    val got = graft.ops.Curation.epochCapMix(docs)
      .select("source", "n_tokens", "desired_tokens", "alloc_tokens",
        "epochs_x1024", "capped")
      .as[(String, Long, Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    val (_, na, _, aa, ea, ca) = got("a")
    val (_, nb, db, ab, eb, cb) = got("b")
    assert(ca && aa == 4 * na && ea == 4096,
      s"quality source must sit exactly at the 4-epoch cap: $got")
    assert(!cb && ab > db && ab <= 4 * nb && eb < 4096,
      s"uncapped source must gain redistribution under its cap: $got")
    assert(aa + ab <= 4 * (na + nb), s"allocation exceeded the budget: $got")
  }

  test("skewTopK: equals the one-phase window, value ties broken by event_id across salts") {
    // one hot key ("click") with VALUE TIES landing in different salt
    // buckets (event_ids 8 and 9 differ mod 8), so the phase-2 re-rank
    // must order tied survivors from different phase-1 partitions; a
    // cold key ("view") pins the k > group-size edge
    val ev = Seq(
      (8L, "click", 50.0), (9L, "click", 50.0), (16L, "click", 50.0),
      (1L, "click", 99.0), (2L, "click", 10.0), (3L, "click", 99.0),
      (4L, "view", 7.0), (12L, "view", 7.0))
      .toDF("event_id", "event_type", "value")
    val got = graft.ops.Scale.skewTopK(ev, k = 3, salts = 8)
      .as[(String, Int, Long, Double)].collect().toSet
    // plain one-phase truth: click ranks 99.0@1, 99.0@3, then the 50.0
    // tie block ordered by event_id -> 8; view has only 2 rows
    assert(got == Set(
      ("click", 1, 1L, 99.0), ("click", 2, 3L, 99.0), ("click", 3, 8L, 50.0),
      ("view", 1, 4L, 7.0), ("view", 2, 12L, 7.0)), s"mismatch: $got")
  }

  test("bpeTrain: greedy left-to-right merge, multi-char symbols, lexicographic ties") {
    // vocab: "aaa"×3, "abab"×2, "ba"×4.
    // round 1 pairs: (a,a): 2·3=6 [aaa has pairs (a,a),(a,a)],
    //   (a,b): 2·2=4, (b,a): 2+4=6 — tie 6 between (a,a) and (b,a):
    //   lexicographic picks (a,a). Greedy merge: "aaa" -> [aa, a]
    //   (LEFT-TO-RIGHT non-overlap: only ONE merge fires in "aaa").
    // round 2: vocab now aa·a ×3, a·b·a·b ×2, b·a ×4 →
    //   (aa,a):3, (a,b):4, (b,a):6 — top (b,a)=6. "abab" -> a·ba·b? no:
    //   merge (b,a) in [a,b,a,b] -> [a, ba, b]; "ba" -> [ba].
    // round 3: pairs (aa,a):3, (a,ba):2, (ba,b):2 — top (aa,a)=3,
    //   a MULTI-CHAR symbol join: "aa"+"a" -> "aaa".
    val vocab = Seq(("aaa", 3L), ("abab", 2L), ("ba", 4L)).toDF("w", "wc")
    val got = TextAnalysis.bpeTrain(vocab, 3)
    assert(got == Seq((1, "a", "a", 6L), (2, "b", "a", 6L), (3, "aa", "a", 3L)),
      s"merge table mismatch: $got")
  }

  test("concurrencyByDay: touching sessions both count; gap splits; peak_ts is the earliest max instant") {
    // user 1: one session 00:00–00:10 (two events, 10-min gap).
    // user 2: session 00:10–00:10 (single event) — STARTS at the instant
    //   user 1's session is still open (inclusive overlap → conc 2) and
    //   its own end at the same instant must not cancel before counting.
    // user 3: events at 01:00 and 01:40 — 40-min gap > 30 → TWO
    //   single-event sessions, never concurrent with anything.
    // day 2: one lone session (peak 1, its own start).
    val ev = events(
      (1L, "2024-01-01 00:00:00", 1L, "view"),
      (2L, "2024-01-01 00:10:00", 1L, "view"),
      (3L, "2024-01-01 00:10:00", 2L, "view"),
      (4L, "2024-01-01 01:00:00", 3L, "view"),
      (5L, "2024-01-01 01:40:00", 3L, "view"),
      (6L, "2024-01-02 09:00:00", 1L, "view"))
    val got = Events.concurrencyByDay(ev).orderBy("day")
      // peak_ts is TIMESTAMP_NTZ → collects as LocalDateTime
      .collect().map(r => (r.getDate(0).toString, r.getLong(1), r.getInt(2),
        r.getAs[java.time.LocalDateTime](3).toString))
    assert(got.toSeq == Seq(
      ("2024-01-01", 4L, 2, "2024-01-01T00:10"),
      ("2024-01-02", 1L, 1, "2024-01-02T09:00")), s"mismatch: ${got.toSeq}")
  }

  test("keywordsTopK: integer score ranks, token ASC breaks exact score ties") {
    // corpus of 4 docs; "rare" df=1 (bucket 33−1=32), "zz"/"aa" df=1 too.
    // doc 0: rare×2 → score 64 top; then aa and zz both ×1 score 32 —
    //   EXACT tie → token ASC puts aa before zz.
    // "common" df=4 → bucket 33−3=30 (bin(4)=100), score 30 sits below
    //   both despite df being the only difference.
    val docs = Seq(
      (0L, "rare rare aa zz common"),
      (1L, "common x1"), (2L, "common x2"), (3L, "common x3"))
      .toDF("doc_id", "text")
    val got = graft.ops.TextAnalysis.keywordsTopK(docs, col("doc_id") === 0, 3)
      .orderBy("rnk")
      .collect().map(r => (r.getInt(1), r.getString(2), r.getLong(5)))
    assert(got.toSeq == Seq((1, "rare", 64L), (2, "aa", 32L), (3, "zz", 32L)),
      s"mismatch: ${got.toSeq}")
  }

  test("ewmaReport: head renormalization, power-of-two weights, exact num/den") {
    // one user, values 1.00, 2.00, 3.00 → cents 100, 200, 300
    val ev = Seq((1L, "2024-01-01 00:00:01", 7L, 1.00),
      (2L, "2024-01-01 00:00:02", 7L, 2.00),
      (3L, "2024-01-01 00:00:03", 7L, 3.00))
      .toDF("event_id", "tstr", "user_id", "value")
      .select(col("event_id"), to_timestamp(col("tstr")).cast("timestamp_ntz").as("ts"),
        col("user_id"), col("value"))
    val got = graft.ops.Extras.ewmaReport(ev).orderBy("event_id")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    // row1: num=128·100, den=128 → ewma = 1.0 exactly (head = raw value)
    // row2: num=128·200+64·100, den=192 → 32000/19200 = 5/3
    // row3: num=128·300+64·200+32·100, den=224 → 54400/22400 = 17/7
    assert(got.toSeq == Seq(
      (1L, 12800L, 128L, 1.0),
      (2L, 32000L, 192L, 32000.0 / 19200),
      (3L, 54400L, 224L, 54400.0 / 22400)), s"mismatch: ${got.toSeq}")
  }

  test("gopherRules: each rule fires on its planted violator") {
    def words(w: String, n: Int) = Seq.fill(n)(w).mkString(" ")
    val docs = Seq(
      (0L, "the a short"),                                   // 3 words → word_count_ok false
      (1L, "the a " + (1 to 48).map(i => f"wordy$i%02d").mkString(" ")), // mean len 6.8 → mean_len_ok false
      (2L, (1 to 40).map(i => f"tok$i%02d").mkString(" ")),  // no stopwords → stopword_ok false
      (3L, "the a " + words("dup", 38)),                     // maxf=38 of 40 → rep_ok+ttr_ok false
      // 40 words, 2 stop, each wrdN ×2 (maxf=2), nd=21, cw=174 → mean 4.35 → all pass
      (4L, "the a " + (1 to 38).map(i => "wrd" + (i % 19)).mkString(" ")))
      .toDF("doc_id", "text")
    val got = graft.ops.TextAnalysis.gopherRules(docs).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getBoolean(2), r.getBoolean(3),
        r.getBoolean(4), r.getBoolean(5), r.getBoolean(6), r.getBoolean(7)))
    assert(got(0)._2 == false && got(0)._7 == false, s"doc0 ${got(0)}")
    assert(got(1)._2 && !got(1)._3 && !got(1)._7, s"doc1 ${got(1)}")
    assert(!got(2)._4 && got(2)._2, s"doc2 ${got(2)}")
    assert(!got(3)._5 && !got(3)._6 && !got(3)._7, s"doc3 ${got(3)}")
    assert(got(4) == ((4L, true, true, true, true, true, true)), s"doc4 ${got(4)}")
  }

  test("cdcChunks: boundaries move with content (prefix insertion preserves tail chunks)") {
    val t = (1 to 60).map(i => Seq("scan", "table", "filter", "window", "batch",
      "column", "join")(i % 7)).mkString(" ")
    val docs = Seq((0L, t), (1L, "zqj xvw " + t), (2L, "tiny")).toDF("doc_id", "text")
    val ch = Dedup.cdcChunks(docs).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getString(1)).toSet).toMap
    // chunk concatenation reconstructs the document exactly
    val ordered = Dedup.cdcChunks(docs).collect().filter(_.getLong(0) == 0L).map(_.getString(1))
    assert(ordered.mkString("") == t, "chunks must partition the text")
    // sub-window doc → one chunk, the whole text
    assert(ch(2L) == Set("tiny"))
    // the CDC property: a head insertion disturbs only chunks touching
    // the junction — every other chunk of doc 0 reappears in doc 1
    val missing = ch(0L) -- ch(1L)
    assert(ch(0L).size >= 4, s"need several chunks, got ${ch(0L).size}")
    assert(missing.size <= 1, s"prefix insertion broke tail chunks: $missing")
  }

  test("nearestCentroidConfusion: separable clusters give a perfect diagonal; a planted outlier defects") {
    // two well-separated 4-d clusters + one label-0 vector sitting inside
    // cluster 1 → exactly one off-diagonal cell (0 → 1)
    def v(xs: Double*) = xs.map(_.toFloat).toArray
    val emb = Seq(
      (0L, 0, v(1, 0, 0, 0)), (1L, 0, v(1.1, 0, 0, 0)), (2L, 0, v(0.9, 0, 0, 0)),
      (3L, 1, v(0, 5, 0, 0)), (4L, 1, v(0, 5.1, 0, 0)), (5L, 1, v(0, 4.9, 0, 0)),
      (6L, 0, v(0, 5.05, 0, 0))) // labeled 0, lives in cluster 1
      .toDF("vec_id", "label", "embedding")
    val got = graft.ops.Typed.nearestCentroidConfusion(emb)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
    // centroid of label 0 is dragged toward cluster 1 by the outlier but
    // stays nearest for the three x-axis vectors; the outlier lands on 1
    assert(got == Set((0, 0, 3L), (0, 1, 1L), (1, 1, 3L)), s"mismatch: $got")
  }

  test("lineDedup: planted footer is removed everywhere and pure-boilerplate docs drop") {
    // 6 docs, one lang: ids 0 and 31 are %31==0 → two footer lines,
    // both removed → dropped. ids 5,10 (%5<2) gain the footer → footer
    // seen in ≥3 distinct docs → boilerplate. ids 13,24 are clean, and
    // no 8-token chunk repeats across docs → their lines all survive.
    val docs = Seq(
      (0L, "en", "ignored replaced by footer"),
      (31L, "en", "also ignored"),
      (5L, "en", (1 to 16).map(i => s"a$i").mkString(" ")),
      (10L, "en", (1 to 16).map(i => s"b$i").mkString(" ")),
      (13L, "en", (1 to 16).map(i => s"c$i").mkString(" ")),
      (24L, "en", (1 to 16).map(i => s"d$i").mkString(" ")))
      .toDF("doc_id", "lang", "text")
    val r = graft.ops.Curation.lineDedup(docs).collect()
    assert(r.length == 1)
    val row = r(0)
    // n_docs=6; dropped = the two %31 docs; lines = 2+2 + 3+3 + 2+2 = 14
    // removed = 4 footer (from %31) + 2 footer (appended) = 6
    assert(row.getAs[Long]("n_docs") == 6L)
    assert(row.getAs[Long]("n_docs_dropped") == 2L)
    assert(row.getAs[Long]("n_lines") == 14L)
    assert(row.getAs[Long]("n_lines_removed") == 6L)
    // kept tokens: the four 16-token docs keep their 16 content tokens
    assert(row.getAs[Long]("n_toks_kept") == 64L)
  }

  test("dsirSelect: docs made of target-corpus bigrams outrank docs of raw-only bigrams") {
    // target (src0) speaks 'alpha beta' language; raw speaks 'x y'.
    // Among the NON-target docs, the one quoting target bigrams must
    // rank first and the pure-raw doc last.
    val mk = (n: Int, ws: Seq[String]) =>
      Iterator.continually(ws).flatten.take(n).mkString(" ")
    val docs = (
      (0 until 8).map(i =>
        (i.toLong, "en", "src0", mk(24, Seq("alpha", "beta", "gamma")))) ++
        Seq((100L, "en", "src1", mk(24, Seq("alpha", "beta", "gamma"))),
          (101L, "en", "src1", mk(24, Seq("x", "y", "z")))))
      .toDF("doc_id", "lang", "source", "text")
    val got = graft.ops.Curation.dsirSelect(docs)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(got == Seq(100L, 101L), s"order: $got")
  }

  test("text_perplexity_bucket: per-lang terciles partition every scored doc head/middle/tail") {
    val d = "/root/testdata/sf0.001"
    val rows = graft.ops.Curation.textPerplexityBucket.fn(spark, d).collect()
    val perLang = rows.groupBy(_.getString(0))
    for ((lang, rs) <- perLang) {
      val byBucket = rs.map(r => r.getString(1) -> r.getAs[Long]("n_docs")).toMap
      assert(byBucket.keySet == Set("head", "middle", "tail"), s"$lang: $byBucket")
      val n = byBucket.values.sum
      // exact terciles: ranks r*3<=n head, <=2n middle — sizes differ by ≤1
      assert(byBucket.values.max - byBucket.values.min <= 1,
        s"$lang tercile sizes skewed: $byBucket (n=$n)")
      // head is the high-score bucket: its min_score ≥ tail's max_score
      val head = rs.find(_.getString(1) == "head").get
      val tail = rs.find(_.getString(1) == "tail").get
      assert(head.getAs[Long]("min_score") >= tail.getAs[Long]("max_score"),
        s"$lang bucket order inverted")
    }
  }

  test("unigram encodeReport: min-piece DP uses a multi-char piece when present, rank breaks ties") {
    // inventory: chars a,b,c (low rank) + piece 'ab' → 'ab' segments as
    // ONE piece, 'abc' as 2 ('ab'+'c'), 'cc' as 2 chars. Corpus of 3
    // one-word docs, one lang each ordered by lang for determinism.
    val docs = Seq(("en", "ab abc"), ("fr", "cc")).toDF("lang", "text")
    val model = Seq(("ab", 100L), ("a", 50L), ("b", 40L), ("c", 30L))
    val r = graft.ops.Unigram.encodeReport(docs, model)
      .orderBy("lang").collect()
      .map(x => (x.getString(0), x.getAs[Long]("n_words"),
        x.getAs[Long]("n_chars"), x.getAs[Long]("n_tokens"))).toSeq
    // en: 'ab' = 1 piece, 'abc' = 2 pieces → 3 tokens over 5 chars
    assert(r == Seq(("en", 2L, 5L, 3L), ("fr", 1L, 2L, 2L)), s"got $r")
  }

  test("pipeline_sft: funnel is monotone and drops every benchmark-content doc") {
    val d = "/root/testdata/sf0.001"
    val rows = graft.ops.Curation.pipelineSft.fn(spark, d).collect()
    for (r <- rows) {
      val (raw, len, qual, uniq, fin) = (r.getAs[Long]("n_raw"),
        r.getAs[Long]("n_len_ok"), r.getAs[Long]("n_quality_ok"),
        r.getAs[Long]("n_prompt_unique"), r.getAs[Long]("n_pairs"))
      assert(raw >= len && len >= qual && qual >= uniq && uniq >= fin,
        s"${r.getString(0)}: funnel not monotone: $r")
      // tokens: every final pair costs ≥ 20 + 18
      assert(r.getAs[Long]("n_sft_tokens") >= fin * 38L)
    }
    // the benchmark members themselves (doc_id % 97 == 0, response long
    // enough, quality ok, min-id of their prompt) must not survive:
    // re-run with only benchmark docs as input and full corpus bench —
    // cheap proxy: assert the funnel lost SOMETHING to decontamination
    // at sf0.001 (planted %97 docs pass earlier stages by construction)
    val totFin = rows.map(_.getAs[Long]("n_pairs")).sum
    val totUniq = rows.map(_.getAs[Long]("n_prompt_unique")).sum
    assert(totFin < totUniq, "decontamination stage never fired")
  }

  test("kcenterSelect: covers every planted cluster before revisiting one; radii non-increasing") {
    // Three tight 2-D clusters around (1,0), (0,1), (-1,0.2); seed is
    // vec 0 in cluster A. Farthest-point must visit clusters B and C
    // (in SOME order) in steps 1-2 before picking any second point of
    // an already-covered cluster, and the selection radius must be
    // non-increasing — the 2-approximation's defining structure.
    def cl(base: (Double, Double), ids: Seq[Long], eps: Double) =
      ids.zipWithIndex.map { case (id, k) =>
        (id, Seq(base._1 + eps * k, base._2 - eps * k)) }
    val pts = cl((1.0, 0.0), Seq(0L, 3L, 6L), 0.01) ++
      cl((0.0, 1.0), Seq(1L, 4L, 7L), 0.01) ++
      cl((-1.0, 0.2), Seq(2L, 5L, 8L), 0.01)
    val cluster = Map[Long, Int](0L -> 0, 3L -> 0, 6L -> 0,
      1L -> 1, 4L -> 1, 7L -> 1, 2L -> 2, 5L -> 2, 8L -> 2)
    val v = pts.toDF("vec_id", "ve")
      .select(col("vec_id"), col("ve"),
        graft.ops.Similarity.l2norm(col("ve")).as("nrm"))
    val got = graft.ops.Ann.kcenterSelect(v, k = 4).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got.map(_._1) == Seq(0, 1, 2, 3))
    val picked = got.map(_._2)
    assert(picked(0) == 0L)
    // steps 1-2 reach the two uncovered clusters
    assert(Set(cluster(picked(1)), cluster(picked(2))) == Set(1, 2),
      s"selection failed to cover clusters first: $got")
    // radii non-increasing after the seed sentinel
    val radii = got.drop(1).map(_._3)
    assert(radii == radii.sorted.reverse, s"radius not monotone: $got")
  }

  test("encodeGreedy: maximal munch emits MORE pieces than the min-piece optimum on the planted inventory") {
    // Inventory: chars a-e,x,y plus {ab, abc, cde}. For "abcde" greedy
    // takes the LONGEST first piece abc (over ab), stranding the tail
    // as d|e → 3 pieces; the min-piece segmentation ab|cde needs 2.
    // "xy" has only single chars → 2 pieces, 0 multi. This is the
    // semantic difference from text_unigram_encode's Viterbi, pinned.
    val docs = Seq(("en", "abcde abcde xy")).toDF("lang", "text")
    val inv = Seq("a", "b", "c", "d", "e", "x", "y", "ab", "abc", "cde")
    val r = graft.ops.Wordpiece.encodeGreedyWith(docs, graft.ops.Wordpiece.vocabOf(docs), inv)
      .collect()
    assert(r.length == 1)
    val row = r(0)
    assert(row.getAs[Long]("n_words") == 3L)
    assert(row.getAs[Long]("n_chars") == 12L)
    // greedy: abc|d|e = 3 per "abcde" (optimal would be 2), x|y = 2
    assert(row.getAs[Long]("n_tokens") == 8L,
      s"greedy chain broke: $row")
    // exactly one multi-char piece (abc) per "abcde", none in "xy"
    assert(row.getAs[Long]("n_multi_pieces") == 2L)
    assert(row.getAs[Long]("tpc_micro") == 8L * 100000000L / 12L)
  }

  test("btRank: integer MM rounds replay bit-for-bit; head-to-head dominance outranks schedule padding") {
    // A beats B 8-2; B beats C 6-4; A and C never meet (smoothing fills
    // the pair). Raw wins tie A and B at 8, and B has twice the
    // comparisons — but BT reads the head-to-head: A must rank first.
    // The full gated relation must equal a plain-Scala replica of the
    // smoothed integer MM rounds (pinning smoothing, div order, and
    // renormalization exactly).
    val cmp = (Seq.fill(8)(("A", "B")) ++ Seq.fill(2)(("B", "A")) ++
      Seq.fill(6)(("B", "C")) ++ Seq.fill(4)(("C", "B")))
      .toDF("win_src", "lose_src")
    // replica: smoothed pair stats keyed (a<b): nij, wins_a
    val sm = Map(("A", "B") -> (12L, 9L), ("B", "C") -> (12L, 7L),
      ("A", "C") -> (2L, 1L))
    val players = Seq("A", "B", "C")
    def oppWins(i: String) = sm.map { case ((a, b), (n, wa)) =>
      if (i == a) (b, n, wa) else if (i == b) (a, n, n - wa) else null
    }.filter(_ != null)
    val bigW = players.map(i => i -> oppWins(i).map(_._3).sum).toMap
    var w = players.map(_ -> 1000000L).toMap
    for (_ <- 1 to 3) {
      val wr = players.map { i =>
        val den = oppWins(i).map { case (j, n, _) =>
          n * 1000000000L / (w(i) + w(j)) }.sum
        i -> bigW(i) * 1000000000L / den
      }.toMap
      val z = wr.values.sum
      w = players.map(i => i -> wr(i) * (3L * 1000000L) / z).toMap
    }
    val expect = players.map { i =>
      val (wins, n) = i match {
        case "A" => (8L, 10L); case "B" => (8L, 20L); case "C" => (4L, 10L)
      }
      (i, wins, n, w(i))
    }.sortBy(r => (-r._4, r._1)).zipWithIndex
      .map { case ((s, wi, n, wm), k) => (s, wi, n, wm, k + 1) }
    val got = graft.ops.Alignment.btRank(cmp).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getInt(4))).toSeq
    assert(got == expect, s"got $got\nexpect $expect")
    assert(got.head._1 == "A", "head-to-head dominance lost to schedule padding")
  }

  test("bitextMine: the margin demotes a hub target that raw cosine would pick") {
    // One cluster. Side A (even ids): a2=(1,.2), a4=(1,-.2).
    // Side B (odd ids): hub b1=(1,0) — close to BOTH a's, so its kNN
    // average is high; b3=(1,-.55) — uniquely close-ish to a4 only;
    // b5=(0,1) — far from everything (and cos(a4,b5)<0 → filtered).
    // Raw cosine: a4's best target is the hub (cos(a4,b1)=.9806 >
    // cos(a4,b3)=.9537). Margin: the hub's high normalizer flips it —
    // margin(a4,b3)=1.044 > margin(a4,b1)=1.007. The mined set must be
    // {(2,1),(4,3)}: a4 pairs with b3, NOT the hub.
    def mkRow(id: Long, x: Double, y: Double) =
      (0L, id, Seq(x, y), math.sqrt(x * x + y * y), id % 2)
    val m = Seq(
      mkRow(2L, 1.0, 0.2), mkRow(4L, 1.0, -0.2),
      mkRow(1L, 1.0, 0.0), mkRow(3L, 1.0, -0.55), mkRow(5L, 0.0, 1.0))
      .toDF("cid", "vec_id", "ve", "nrm", "side")
    val got = graft.ops.Ann.bitextMineFrom(m).collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).toSet
    assert(got == Set((2L, 1L), (4L, 3L)), s"mined: $got")
    // sanity on the raw-cosine counterfactual the pin rests on
    assert(1.0 * 1.0 + (-0.2) * 0.0 > 0) // cos(a4,b1) > 0
    val cosA4B1 = 1.0 / (math.sqrt(1.04) * 1.0)
    val cosA4B3 = (1.0 + 0.11) / (math.sqrt(1.04) * math.sqrt(1.3025))
    assert(cosA4B1 > cosA4B3, "fixture broke: hub no longer wins on raw cos")
  }

  test("deepwalkStats: trajectories replay the md5-prefix successor rule exactly") {
    // Path graph 1-2-3 (symmetric). Six walks (two per node), 3 steps.
    // A scala replica of the successor rule walks the same graph; the
    // gated per-step (n_walks, n_nodes, chk) rows must match it bit-
    // for-bit — pinning hash text, packing, tiebreak, and checksum.
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L))
      .toDF("u", "v")
    val adj = Map(1L -> Seq(2L), 2L -> Seq(1L, 3L), 3L -> Seq(2L))
    def h12(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(f"${d(0)}%02x${(d(1) & 0xf0) >> 4}%01x", 16)
    }
    val B = 1099511627776L
    var cur = Map[Long, Long]() ++ (for (n <- Seq(1L, 2L, 3L); w <- 0 to 1)
      yield (n * 2 + w) -> n)
    val expect = scala.collection.mutable.ArrayBuffer[(Int, Long, Long, Long)]()
    def snap(step: Int): Unit = expect += ((step, cur.size.toLong,
      cur.values.toSet.size.toLong,
      cur.map { case (w, c) => (w * 1000003L + c) % 1000000007L }.sum))
    snap(0)
    for (t <- 1 to 3) {
      cur = cur.map { case (w, c) =>
        w -> adj(c).map(v => h12(s"$w:$t:$c:$v") * B + v).min % B }
      snap(t)
    }
    val got = graft.ops.Graph.deepwalkStats(edges, walkLen = 3).collect()
      .map(r => (r.getAs[Int]("step"), r.getAs[Long]("n_walks"),
        r.getAs[Long]("n_nodes"), r.getAs[Long]("chk"))).toSeq
    assert(got == expect.toSeq, s"got $got\nexpect $expect")
  }

  test("scan_cdf change counts replay the staged edit rules; pre/post rows pair up") {
    val d = "/root/testdata/sf0.001"
    val rows = graft.ops.Formats.scanCdf.fn(spark, d).collect()
    val byType = rows.groupBy(_.getString(0))
      .map { case (t, rs) => t -> rs.map(_.getAs[Long]("n")).sum }
    assert(byType.keySet ==
      Set("a_insert", "b_delete", "c_update_pre", "d_update_post"),
      "all four change types must be live at the smallest SF")
    assert(byType("c_update_pre") == byType("d_update_post"),
      "every update emits exactly one preimage and one postimage")
    // the staged edit rules, replayed from the base table
    val cust = graft.Tables.customer(spark, d)
      .select(col("c_custkey")).collect().map(_.getLong(0))
    assert(byType("b_delete") == cust.count(_ % 17 == 3))
    assert(byType("a_insert") == cust.count(_ % 23 == 5))
    assert(byType("c_update_pre") ==
      cust.count(k => k % 10 == 0 && k % 17 != 3))
    // pre/post images must pair PER SEGMENT (segments never change in
    // the staged edits), not just in total — a postimage emitted with
    // the wrong attribution keeps the totals equal but breaks this
    val bySeg = rows.filter(r => r.getString(0).startsWith("c_") ||
        r.getString(0).startsWith("d_"))
      .groupBy(r => (r.getString(0), r.getString(1)))
      .map { case (k, rs) => k -> rs.map(_.getAs[Long]("n")).sum }
    for (((t, seg), n) <- bySeg if t == "c_update_pre")
      assert(bySeg.getOrElse(("d_update_post", seg), 0L) == n,
        s"segment $seg: pre=$n post=${bySeg.get(("d_update_post", seg))}")
  }

  test("quality_k_anon accounting conserves rows; suppression is bounded per nation") {
    val d = "/root/testdata/sf0.001"
    val rows = graft.ops.Quality.qualityKAnon.fn(spark, d).collect()
    val total = graft.Tables.customer(spark, d).count()
    assert(rows.map(_.getAs[Long]("n_rows")).sum == total,
      "per-nation rows must partition the table")
    assert(rows.exists(_.getAs[Long]("n_violating") > 0),
      "the violating branch must be live at the smallest SF")
    // independent plain-Scala replication of one nation's statistics
    // (the deepwalk golden discipline) — pins the k<8 threshold and the
    // violating/suppressed semantics against a shared spec-level bug
    // the hash gate cannot see
    val nat = rows.head.getAs[Int]("c_nationkey")
    val cls = graft.Tables.customer(spark, d)
      .filter(col("c_nationkey") === nat)
      .select(col("c_mktsegment"),
        (col("c_acctbal") < 0).as("neg"))
      .collect()
      .groupBy(r => (r.getString(0), r.getBoolean(1)))
      .map(_._2.length.toLong)
    val r0 = rows.head
    assert(r0.getAs[Long]("n_rows") == cls.sum)
    assert(r0.getAs[Long]("n_classes") == cls.size)
    assert(r0.getAs[Long]("k_anonymity") == cls.min)
    assert(r0.getAs[Long]("n_violating") == cls.count(_ < 8))
    assert(r0.getAs[Long]("n_suppressed") == cls.filter(_ < 8).sum)
  }

  test("quality_l_diversity replays one source's class stats in plain Scala") {
    val d = "/root/testdata/sf0.001"
    val rows = graft.ops.Quality.qualityLDiversity.fn(spark, d).collect()
    assert(rows.exists(_.getAs[Long]("n_violating") > 0),
      "the homogeneity-attack branch must be live at the smallest SF")
    val src = rows.head.getAs[String]("source")
    // independent replication of (class count, l-diversity, violations,
    // exposed rows) for one source — pins the l<3 threshold and the
    // distinct-lang semantics against a shared spec-level bug
    val docs = graft.Tables.documents(spark, d)
      .filter(col("source") === src)
      .select(expr("n_chars div 50").as("b"), col("lang"))
      .collect().map(r => r.getLong(0) -> r.getString(1))
    // .toSeq BEFORE .map: mapping a Map to (len, l) pairs would rebuild
    // a Map and silently merge classes with identical stats
    val byClass = docs.groupBy(_._1).toSeq.map { case (_, xs) =>
      (xs.length.toLong, xs.map(_._2).distinct.length.toLong)
    }
    val r0 = rows.head
    assert(r0.getAs[Long]("n_rows") == byClass.map(_._1).sum)
    assert(r0.getAs[Long]("n_classes") == byClass.size)
    assert(r0.getAs[Long]("l_diversity") == byClass.map(_._2).min)
    assert(r0.getAs[Long]("n_violating") == byClass.count(_._2 < 3))
    assert(r0.getAs[Long]("n_exposed") ==
      byClass.filter(_._2 < 3).map(_._1).sum)
  }

  test("events_interp: gap days lerp between brackets; observed days keep the stored value") {
    val day = 86400000000L
    def ts(us: Long) = new java.sql.Timestamp(us / 1000)
    // user 1: day 0 observed twice (event 11 later → closing value 10.0),
    // days 1-3 are gaps, day 4 observes 50.0 → exact quarters 20/30/40
    // (gap/denominator a power of two so the lerp doubles are exact);
    // user 2: a single observed day emits one observed row.
    val ev = Seq(
      (10L, 1L, 100L, 3.0),
      (11L, 1L, 200L, 10.0),
      (12L, 1L, 4 * day + 5L, 50.0),
      (20L, 2L, day + 1L, 2.5))
      .map { case (e, u, us, v) => (e, u, ts(us), v) }
      .toDF("event_id", "user_id", "ts", "value")
      .withColumn("ts", col("ts").cast("timestamp_ntz"))
    val dir = sys.props("java.io.tmpdir") + "/graft_interp_spec"
    ev.write.mode("overwrite").parquet(dir + "/events.parquet")
    val q = graft.ops.Events.all.find(_.name == "events_interp").get
    val got = q.fn(spark, dir).as[(Long, Long, Double, Boolean)].collect().toSeq
    assert(got == Seq(
      (1L, 0L, 10.0, true), (1L, 1L, 20.0, false), (1L, 2L, 30.0, false),
      (1L, 3L, 40.0, false), (1L, 4L, 50.0, true), (2L, 1L, 2.5, true)),
      s"got $got")
  }

  test("bucketDiv: pre-1970 instants bucket by TRUNCATION on both engines (day −0.5 → day 0)") {
    // DuckDB 1.0.0's integer `//` truncates toward zero (verified:
    // (-7)//2 = -3), same as Spark's `div` — the exact-floor helper this
    // replaced put 1969-12-31 23:00 on day −1 while every `//` oracle
    // puts it on day 0. This pins the shared truncation convention.
    val ev = Seq(
      (1L, 1L, java.sql.Timestamp.valueOf("1969-12-31 23:00:00"), 5.0),
      (2L, 1L, java.sql.Timestamp.valueOf("1970-01-01 01:00:00"), 7.0))
      .toDF("event_id", "user_id", "ts", "value")
      .withColumn("ts", col("ts").cast("timestamp_ntz"))
    val dir = sys.props("java.io.tmpdir") + "/graft_pre1970_spec"
    ev.write.mode("overwrite").parquet(dir + "/events.parquet")
    val q = graft.ops.Events.all.find(_.name == "events_ffill").get
    val got = q.fn(spark, dir).as[(Long, Long, Double, Boolean)].collect().toSeq
    // both events truncate to day 0; the later one (event 2) is the
    // day's closing value — one spine row, no phantom day −1
    assert(got == Seq((1L, 0L, 7.0, true)), s"got $got")
  }

  test("graph_hits matches an independent max-normalized integer HITS replayer") {
    // bipartite engagement graph: c1 → {s10, s20}, c2 → {s20}
    val dir = sys.props("java.io.tmpdir") + "/graft_hits_spec"
    Seq((100L, 1L, "1996-05-01 00:00:00"), (101L, 1L, "1996-06-01 00:00:00"),
        (102L, 2L, "1996-07-01 00:00:00"),
        (103L, 9L, "1995-01-01 00:00:00")) // outside the window: must not edge
      .toDF("o_orderkey", "o_custkey", "dstr")
      .select(col("o_orderkey"), col("o_custkey"),
        to_timestamp(col("dstr")).cast("timestamp_ntz").as("o_orderdate"))
      .write.mode("overwrite").parquet(dir + "/orders.parquet")
    Seq((100L, 10L), (101L, 20L), (102L, 20L), (103L, 10L))
      .toDF("l_orderkey", "l_suppkey")
      .write.mode("overwrite").parquet(dir + "/lineitem.parquet")
    // independent replayer: integer micro-units, truncating division,
    // max-normalization after every half-step — 3 rounds
    val edges = Seq((1L, 10L), (1L, 20L), (2L, 20L))
    var a = edges.map(_._2).distinct.map(_ -> 1000000L).toMap
    var h = Map.empty[Long, Long]
    for (_ <- 1 to 3) {
      val hr = edges.groupBy(_._1).map { case (c, es) => c -> es.map(e => a(e._2)).sum }
      val hm = hr.values.max
      h = hr.map { case (c, v) => c -> v * 1000000L / hm }
      val ar = edges.groupBy(_._2).map { case (s, es) => s -> es.map(e => h(e._1)).sum }
      val am = ar.values.max
      a = ar.map { case (s, v) => s -> v * 1000000L / am }
    }
    val want =
      a.toSeq.map { case (n, v) => ("auth", n, v) }
        .sortBy { case (_, n, v) => (-v, n) } ++
      h.toSeq.map { case (n, v) => ("hub", n, v) }
        .sortBy { case (_, n, v) => (-v, n) }
    val q = graft.ops.Graph.all.find(_.name == "graph_hits").get
    val got = q.fn(spark, dir).as[(String, Long, Long)].collect().toSeq
    assert(got == want, s"got $got\nwant $want")
    // every round ends max-normalized: each side's top score is exactly 10⁶
    assert(got.count(_._3 == 1000000L) == 2)
  }

  test("quality_t_closeness: TVD micro-units match a hand-computed distribution audit") {
    val dir = sys.props("java.io.tmpdir") + "/graft_tclose_spec"
    // global: 5 en + 5 fr (p = 500000 each). Class X/b0 = 3 en + 1 fr
    // → tvd = (|750000−500000| + |250000−500000|) div 2 = 250000 (NOT
    // violating under strict >); X/b1 = 2 fr → the absent-language
    // branch: tvd = (500000 + 500000) div 2 = 500000 (violating);
    // Y/b0 = 2 en + 2 fr → tvd 0.
    val docs = Seq(
      (1L, "en", "X", 10L), (2L, "en", "X", 20L), (3L, "en", "X", 30L),
      (4L, "fr", "X", 40L),
      (5L, "fr", "X", 60L), (6L, "fr", "X", 70L),
      (7L, "en", "Y", 10L), (8L, "en", "Y", 20L),
      (9L, "fr", "Y", 30L), (10L, "fr", "Y", 40L))
      .toDF("doc_id", "lang", "source", "n_chars")
      .withColumn("text", lit("t"))
    docs.write.mode("overwrite").parquet(dir + "/documents.parquet")
    val q = graft.ops.Quality.all.find(_.name == "quality_t_closeness").get
    val got = q.fn(spark, dir).as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(("X", 2L, 500000L, 1L, 2L), ("Y", 1L, 0L, 0L, 0L)),
      s"got $got")
  }

  test("event_changepoint: a planted +60% level shift fires the alarm at the replayer's day") {
    val day = 86400000000L
    def ts(us: Long) = new java.sql.Timestamp(us / 1000)
    // 20 quiet days at 10 events/day, then 10 shifted days at 16/day
    val counts = Seq.fill(20)(10) ++ Seq.fill(10)(16)
    val ev = counts.zipWithIndex.flatMap { case (c, d) =>
      (0 until c).map(i => (d * 100L + i, 1L, d * day + i * 1000L, "purchase"))
    }.map { case (e, u, us, t) => (e, u, ts(us), t, 1.0) }
      .toDF("event_id", "user_id", "ts", "event_type", "value")
      .withColumn("ts", col("ts").cast("timestamp_ntz"))
    val dir = sys.props("java.io.tmpdir") + "/graft_cusum_spec"
    ev.write.mode("overwrite").parquet(dir + "/events.parquet")
    // independent integer replayer: calibration-prefix mu (first half of
    // the spine), slack mu/10, reflection identity
    val n = counts.map(_.toLong)
    val cal = n.take((n.length - 1) / 2 + 1)
    val mu = cal.sum * 1000000L / cal.length
    val dev = n.map(_ * 1000000L - mu - mu / 10)
    val prefix = dev.scanLeft(0L)(_ + _).tail
    val s = prefix.zipWithIndex.map { case (p, i) =>
      p - math.min(prefix.take(i + 1).min, 0L)
    }
    val want = n.indices.map(d =>
      (d.toLong, n(d), s(d), s(d) > 3 * mu))
    val q = graft.ops.Events.all.find(_.name == "event_changepoint").get
    val got = q.fn(spark, dir).as[(Long, Long, Long, Boolean)].collect().toSeq
    assert(got == want, s"got $got\nwant $want")
    // the shift is detected: the alarm fires, never before the shift
    // day, and within a bounded delay after it
    val firstAlarm = got.indexWhere(_._4)
    val wantFirst = want.indexWhere(_._4)
    assert(firstAlarm == wantFirst && firstAlarm >= 20,
      s"alarm at $firstAlarm, replayer says $wantFirst")
    assert(firstAlarm <= 26, s"detection delay too long: day $firstAlarm")
    // the quiet prefix never alarms (the gated fixture's certified state)
    assert(got.take(20).forall(!_._4))
  }

  test("sample_time_split: embargo absorbs the boundary; group leakage counts cross-subset users") {
    val day = 86400000000L
    def ts(us: Long) = new java.sql.Timestamp(us / 1000)
    // span 0..28 → cut = 4·28 div 5 = 22: train < 15, embargo 15–21, eval ≥ 22
    val ev = Seq(
      (1L, 1L, 0L), (2L, 2L, 3L),            // train: u1, u2
      (3L, 4L, 17L), (4L, 5L, 20L),          // embargo: u4, u5
      (5L, 1L, 28L), (6L, 3L, 25L), (7L, 5L, 24L)) // eval: u1, u3, u5
      .map { case (e, u, d) => (e, u, ts(d * day), "click", 1.0) }
      .toDF("event_id", "user_id", "ts", "event_type", "value")
      .withColumn("ts", col("ts").cast("timestamp_ntz"))
    val dir = sys.props("java.io.tmpdir") + "/graft_tsplit_spec"
    ev.write.mode("overwrite").parquet(dir + "/events.parquet")
    val q = graft.ops.Events.all.find(_.name == "sample_time_split").get
    val got = q.fn(spark, dir)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("embargo", 2L, 2L, 17L, 20L, 1L),   // u5 also in eval
      ("eval", 3L, 3L, 24L, 28L, 2L),      // u1 (train), u5 (embargo)
      ("train", 2L, 2L, 0L, 3L, 1L)),      // u1 also in eval
      s"got $got")
  }

  test("quality_dp_release: tape replay matches; negative noise clamps a small count at zero") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    def tapeNoise(source: String): Long =
      java.lang.Long.bitCount(
        java.lang.Long.parseLong(md5hex("dp1:" + source).take(8), 16)) - 16L
    // find a source whose pinned tape is negative enough to clamp n=1
    val clampSrc = (0 until 200).map(i => s"s$i")
      .find(s => tapeNoise(s) <= -2L).get
    val sources = Seq(("big", 50), ("mid", 7), (clampSrc, 1))
    val docs = sources.flatMap { case (src, n) =>
      (0 until n).map(i => (src.hashCode.toLong * 1000 + i, "t", "en", src, 1L))
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = sys.props("java.io.tmpdir") + "/graft_dp_spec"
    docs.write.mode("overwrite").parquet(dir + "/documents.parquet")
    val q = graft.ops.Quality.all.find(_.name == "quality_dp_release").get
    val got = q.fn(spark, dir)
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    val want = sources.map { case (src, n) =>
      val nz = tapeNoise(src)
      src -> ((n.toLong, nz, math.max(n + nz, 0L), math.abs(nz)))
    }.toMap
    assert(got == want, s"got $got\nwant $want")
    // the clamp branch is live and the binomial tape is range-bounded
    assert(got(clampSrc)._3 == 0L)
    assert(got.values.forall(v => v._2 >= -16L && v._2 <= 16L))
  }

  test("export_shard_plan matches a plain-Scala banded striper and balances a skewed corpus") {
    // sizes span several 32-byte bands, with one giant-doc band of ONE
    // member (stripe puts it alone on shard 0 of its band) and a dense
    // small band where the mod-8 stripe rotates
    val texts = (0 until 40).map(i => "x" * (20 + i % 5)) ++    // dense band
      (0 until 10).map(i => "y" * (100 + 7 * i)) ++             // mid bands
      Seq("z" * 400)                                            // giant band
    val docs = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = sys.props("java.io.tmpdir") + "/graft_shardplan_spec"
    docs.write.mode("overwrite").parquet(dir + "/documents.parquet")
    // independent replayer: band = bytes div 32, rank in band by
    // (bytes DESC, doc_id), shard = (rank-1) mod 8
    val m = texts.zipWithIndex.map { case (t, i) =>
      (i.toLong, t.length.toLong + 12L) }
    val assigned = m.groupBy(_._2 / 32).toSeq.flatMap { case (_, ds) =>
      ds.sortBy { case (id, b) => (-b, id) }.zipWithIndex
        .map { case ((id, b), r) => (r % 8, b) }
    }
    val g = assigned.groupBy(_._1).map { case (sh, xs) =>
      (sh.toLong, xs.size.toLong, xs.map(_._2).sum) }.toSeq.sortBy(_._1)
    val mx = g.map(_._3).max; val mn = g.map(_._3).min
    val want = g.map { case (sh, n, b) => (sh, n, b, mx, mn, (mx - mn) * 100 / mx) }
    val q = graft.ops.Formats.all.find(_.name == "export_shard_plan").get
    val got = q.fn(spark, dir)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == want, s"got $got\nwant $want")
  }

  test("curation_domain_cap matches a plain-Scala micro-score ranker (cap binds, ties break by doc_id)") {
    def micro(text: String): Long = {
      val toks = text.split(" ", -1)
      val nc = text.length.toLong
      val nt = toks.length.toLong
      val nl = toks.count(_.length > 6).toLong
      5000L * math.min(nt, 100L) + 300000L -
        (30000L * math.abs(nc + 1 - 6 * nt)) / nt +
        200000L - (200000L * nl) / nt
    }
    // source A: 20 docs, 17 of them the identical text (one tie block
    // crossing the cap boundary — survivor choice is pure doc_id);
    // source B: 3 docs (under the cap: all survive, n_docs = 3)
    val aTexts = (0 until 17).map(_ => "the same eight token text repeats here") ++
      Seq("a superb document with many many informative tokens inside",
        "tiny", "loooooooong tokens dominate this particular document sample")
    val docs = (aTexts.zipWithIndex.map { case (t, i) => (i.toLong, t, "A") } ++
      Seq((100L, "short and sweet", "B"), (101L, "b doc two", "B"),
        (102L, "b doc three has more words", "B")))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val dir = sys.props("java.io.tmpdir") + "/graft_domcap_spec"
    docs.write.mode("overwrite").parquet(dir + "/documents.parquet")
    val rows = docs.select("source", "doc_id", "text")
      .as[(String, Long, String)].collect().toSeq
    val want = rows.groupBy(_._1).toSeq.flatMap { case (src, ds) =>
      val ranked = ds.map { case (_, id, t) => (id, micro(t)) }
        .sortBy { case (id, m) => (-m, id) }
      ranked.take(16).zipWithIndex.map { case ((id, m), i) =>
        (src, ds.size.toLong, i + 1, id, m)
      }
    }.sortBy(r => (r._1, r._3))
    val q = graft.ops.Curation.all.find(_.name == "curation_domain_cap").get
    val got = q.fn(spark, dir).as[(String, Long, Int, Long, Long)].collect().toSeq
    assert(got == want, s"got $got\nwant $want")
    // the cap binds on A: exactly 16 of 20 survive, and the tie block
    // fills by ascending doc_id
    assert(got.count(_._1 == "A") == 16)
  }
}
