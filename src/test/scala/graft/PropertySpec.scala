package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.apache.spark.sql.functions._
import graft.swivel.SwivelPrep
import graft.ops.{Events, Text}

/** ScalaCheck-generator-driven properties (SURVEY §5.2-4), sampled with
  * fixed seeds (no scalatest-plus bridge in the offline cache; each sample
  * runs Spark jobs, so the sample counts stay small and deterministic). */
class PropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  private val corpusGen: Gen[Seq[String]] = for {
    nDocs <- Gen.choose(1, 6)
    docs <- Gen.listOfN(nDocs, for {
      n <- Gen.choose(1, 20)
      toks <- Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d", "e"))
    } yield toks.mkString(" "))
  } yield docs

  private def toDf(texts: Seq[String]) =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")

  test("cooc is symmetric and marginals sum to total matrix weight") {
    for (texts <- samples(corpusGen, 4)) {
      val d = toDf(texts)
      val vocab = SwivelPrep.buildVocab(d, minCount = 1, shardSize = 1)
      val cells = SwivelPrep.cooc(d, vocab, windowSize = 3).cache()
      val asMap = cells.as[(Long, Long, Double)].collect()
        .map { case (r, c, w) => ((r, c), w) }.toMap
      asMap.foreach { case ((r, c), w) => assert(asMap((c, r)) == w) }
      if (asMap.nonEmpty) {
        val totalCells = cells.agg(sum("weight")).as[Double].head()
        val totalMarg = SwivelPrep.marginals(d, vocab, windowSize = 3)
          .agg(sum("marginal")).as[Double].head()
        assert(math.abs(totalCells - totalMarg) < 0.05) // 4dp rounding slack
      }
      cells.unpersist()
    }
  }

  test("cells and marginals derived from cellCounts equal cooc and marginals exactly") {
    for (texts <- samples(corpusGen, 4)) {
      val d = toDf(texts)
      val vocab = SwivelPrep.buildVocab(d, minCount = 1, shardSize = 1)
      val counts = SwivelPrep.cellCounts(d, vocab, windowSize = 3)
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
      assert(rows(SwivelPrep.cellsFromCounts(counts, 3)) == rows(SwivelPrep.cooc(d, vocab, 3)))
      assert(rows(SwivelPrep.marginalsFromCounts(counts, 3)) ==
        rows(SwivelPrep.marginals(d, vocab, 3)))
    }
  }

  test("cellWeight equals the cellsFromCounts and marginalsFromCounts columns bit for bit") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val rng = new scala.util.Random(7)
    for (w <- Seq(1, 3, 10, 32)) {
      // 30 rows of random counts, small and large, many zero; with w = 32
      // an odd n32 alone puts the sum on a .00005 tie (1/32 = 0.03125)
      val counts = (0 until 600).map { i =>
        val n = Array.tabulate(w)(_ =>
          if (rng.nextInt(3) == 0) 0L else rng.nextInt(if (i % 2 == 0) 7 else 1000000).toLong)
        if (w == 32 && i % 5 == 0) { java.util.Arrays.fill(n, 0L); n(31) = 2L * i + 1 }
        ((i % 30).toLong, i.toLong, n)
      }
      val schema = StructType(("row_id" +: "col_id" +: (1 to w).map(k => s"n$k"))
        .map(StructField(_, LongType, nullable = false)))
      val df = spark.createDataFrame(java.util.Arrays.asList(
        counts.map { case (r, c, n) => Row.fromSeq(r +: c +: n.toSeq) }: _*), schema)
      def bits(x: Double) = java.lang.Double.doubleToRawLongBits(x)
      val cells = SwivelPrep.cellsFromCounts(df, w).as[(Long, Long, Double)].collect()
        .map { case (_, c, x) => c -> bits(x) }.toMap
      assert(counts.map { case (_, c, n) => c -> bits(SwivelPrep.cellWeight(n, 0, w)) }.toMap ==
        cells, s"cells, window $w")
      val totals = counts.groupMapReduce(_._1)(_._3)(_.zip(_).map { case (a, b) => a + b })
      val marg = SwivelPrep.marginalsFromCounts(df, w).as[(Long, Double)].collect()
        .map { case (r, x) => r -> bits(x) }.toMap
      assert(totals.map { case (r, n) => r -> bits(SwivelPrep.cellWeight(n, 0, w)) } == marg,
        s"marginals, window $w")
    }
    // the tie rounds half up, as Spark's round does
    assert(SwivelPrep.cellWeight(Array.fill(31)(0L) :+ 1L, 0, 32) == 0.0313)
    assert(SwivelPrep.cellWeight(Array.fill(31)(0L) :+ 3L, 0, 32) == 0.0938)
  }

  // frequent and rare tokens, so minCount > 1 leaves OOV gaps; documents
  // from 1 token (shorter than any window) up to 25; the last generated
  // row reuses the first row's doc_id and one more row has a null doc_id
  private val rowsGen: Gen[Seq[(Option[Long], String)]] = for {
    nDocs <- Gen.choose(2, 5)
    texts <- Gen.listOfN(nDocs, for {
      n <- Gen.choose(1, 25)
      toks <- Gen.listOfN(n, Gen.frequency(
        8 -> Gen.oneOf("a", "b", "c", "d"), 1 -> Gen.oneOf("p", "q", "r", "s", "t")))
    } yield toks.mkString(" "))
    nullText <- Gen.listOfN(6, Gen.oneOf("a", "b", "c"))
  } yield texts.zipWithIndex.map { case (t, i) =>
    (Some(if (i == nDocs - 1) 0L else i.toLong), t)
  } :+ (None, nullText.mkString(" "))

  /** Each non-null doc_id's in-vocab (pos, id) tokens, its rows merged. */
  private def docTokens(rows: Seq[(Option[Long], String)],
      ids: Map[String, Long]): Map[Long, Seq[(Long, Long)]] =
    rows.collect { case (Some(doc), text) =>
      doc -> text.split(" ").zipWithIndex.collect {
        case (tok, p) if ids.contains(tok) => (p + 1L, ids(tok))
      }.toSeq
    }.groupMapReduce(_._1)(_._2)(_ ++ _)

  /** Both orientations of every in-window pair, by nested loops. */
  private def nestedPairs(byDoc: Map[Long, Seq[(Long, Long)]], w: Int): Seq[(Long, Long, Int)] =
    for {
      toks <- byDoc.values.toSeq
      (pa, x) <- toks
      (pb, y) <- toks if pb > pa && pb - pa <= w
      pair <- Seq((x, y, (pb - pa).toInt), (y, x, (pb - pa).toInt))
    } yield pair

  private def vocabIds(vocab: org.apache.spark.sql.DataFrame): Map[String, Long] =
    vocab.select("token", "id").as[(String, Long)].collect().toMap

  test("coocPairs equals a nested-loop reference over (doc_id, pos, id)") {
    for ((rows, i) <- samples(rowsGen, 4).zipWithIndex) {
      val d = rows.toDF("doc_id", "text")
      val vocab = SwivelPrep.buildVocab(d, minCount = 1 + i % 3, shardSize = 1)
      val byDoc = docTokens(rows, vocabIds(vocab))
      for (w <- Seq(1, 3, 10)) {
        val got = SwivelPrep.coocPairs(d, vocab, w).as[(Long, Long, Int)].collect().toSeq
        assert(got.sorted == nestedPairs(byDoc, w).sorted, s"sample $i, window $w")
      }
    }
  }

  test("countCells equals a nested-loop reference, alone and in Spark, across its flush cap") {
    // the smallest table a window allows flushes every few tokens, so a
    // cell's counts arrive in several partial rows that the merge sums
    def cell(r: org.apache.spark.sql.Row, w: Int) =
      (r.getLong(0), r.getLong(1)) -> (2 until w + 2).map(r.getLong)
    var flushed = Set.empty[Int]
    for ((rows, i) <- samples(rowsGen, 4).zipWithIndex) {
      val d = rows.toDF("doc_id", "text")
      val vocab = SwivelPrep.buildVocab(d, minCount = 1 + i % 3, shardSize = 1)
      val byDoc = docTokens(rows, vocabIds(vocab))
      for (w <- Seq(1, 3, 10)) {
        val want = nestedPairs(byDoc, w).groupBy(p => (p._1, p._2)).map { case (k, ps) =>
          k -> (1 to w).map(dd => ps.count(_._3 == dd).toLong)
        }
        val cap = Integer.highestOneBit(8 * w - 1) * 2 // the least power of two ≥ 8w
        // the kernel alone, on (doc_id, pos, id) sorted as the pair shuffle hands them over
        val sorted = byDoc.toSeq.flatMap { case (doc, toks) =>
          toks.map { case (p, id) => (doc, p, id) } }.sorted
        val partial = SwivelPrep.countCells(w, sorted.iterator, cap).map(cell(_, w)).toSeq
        if (partial.map(_._1).distinct.size < partial.size) flushed += w
        assert(partial.groupMapReduce(_._1)(_._2)(_.zip(_).map { case (a, b) => a + b }) == want,
          s"kernel, sample $i, window $w")
        // the whole pair pass, with its null doc_id and merged rows
        for (got <- Seq(SwivelPrep.cellCounts(d, vocab, w, cap), SwivelPrep.cellCounts(d, vocab, w)))
          assert(got.collect().map(cell(_, w)).toMap == want, s"cellCounts, sample $i, window $w")
      }
    }
    assert(flushed == Set(1, 3, 10))
  }

  test("vocab: size is a multiple of shard_size and ids are dense") {
    for {
      texts <- samples(corpusGen, 3)
      shardSize <- 1 to 3
    } {
      val v = SwivelPrep.buildVocab(toDf(texts), minCount = 1, shardSize = shardSize)
      val ids = v.select("id").as[Long].collect().sorted
      assert(ids.length % shardSize == 0)
      assert(ids.toSeq == (0L until ids.length.toLong))
    }
  }

  test("near-dup pairs: jaccard in (0,1], i<j") {
    for (texts <- samples(corpusGen, 4)) {
      val pairs = Text.nearDupPairs(toDf(texts), threshold = 0.1)
        .as[(Long, Long, Double)].collect()
      pairs.foreach { case (i, j, jac) =>
        assert(i < j); assert(jac > 0.0 && jac <= 1.0)
      }
    }
  }

  test("sessionize: wider gap → fewer-or-equal sessions; events conserved") {
    val gaps = Seq(60000000L, 600000000L, 3600000000L) // 1min, 10min, 1h in µs
    val offsetsGen = Gen.listOfN(20, Gen.choose(0L, 7200L))
    for (offsets <- samples(offsetsGen, 3); nUsers <- 1 to 2) {
      val ev = offsets.zipWithIndex.map { case (off, i) =>
        (i.toLong, java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime + off * 1000,
          (i % nUsers).toLong)
      }.toDF("event_id", "ms", "user_id")
        .select(col("event_id"), timestamp_millis(col("ms")).cast("timestamp_ntz").as("ts"),
          col("user_id"))
      val counts = gaps.map { g =>
        val s = Events.sessionize(ev, g).cache()
        val nSess = s.count()
        assert(s.agg(sum("n_events")).as[Long].head() == offsets.length)
        s.unpersist()
        nSess
      }
      assert(counts == counts.sorted.reverse)
    }
  }

  test("approx_count_distinct(rsd=0.02) within 5% of exact on orders") {
    val d = "/root/testdata/sf0.001"
    val rows = Tables.orders(spark, d).groupBy("o_orderpriority")
      .agg(approx_count_distinct(col("o_custkey"), 0.02).as("approx"),
        countDistinct(col("o_custkey")).as("exact"))
      .as[(String, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (_, approx, exact) =>
      assert(math.abs(approx - exact).toDouble / exact <= 0.05)
    }
  }

  test("set ops: union_all count adds; intersect/except match set algebra") {
    val listGen = Gen.listOf(Gen.choose(0, 20))
    for ((xs, ys) <- samples(listGen, 4).zip(samples(listGen, 4).reverse)) {
      val a = xs.toDF("v"); val b = ys.toDF("v")
      assert(a.union(b).count() == xs.length + ys.length)
      val inter = a.intersect(b).as[Int].collect().toSet
      val exc = a.except(b).as[Int].collect().toSet
      assert(inter == (xs.toSet & ys.toSet))
      assert(exc == (xs.toSet -- ys.toSet))
      assert((inter & exc).isEmpty)
    }
  }

  test("stratified sample is partitioning-invariant and hits only declared strata") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    def res(parts: Int) = graft.ops.TextAnalysis
      .stratifiedSample(docs.repartition(parts))
      .groupBy("lang").agg(sum(when(col("keep"), 1L).otherwise(0L)).as("k"))
      .orderBy("lang").collect().toSeq
    assert(res(3) == res(11)) // membership is a pure row function
    // rates land near the declared thresholds (50% en / 25% others)
    val got = graft.ops.TextAnalysis.stratifiedSample(docs)
      .groupBy("lang")
      .agg(count(lit(1)).as("n"), sum(when(col("keep"), 1L).otherwise(0L)).as("k"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    got.foreach { case (lang, n, k) =>
      val expect = if (lang == "en") 0.5 else 0.25
      assert(math.abs(k.toDouble / n - expect) < 0.2, s"$lang: $k/$n vs $expect")
    }
  }

  test("tfidf: df bounded by corpus size, emitted rows honor the exact predicates") {
    val d = "/root/testdata/sf0.001"
    val n = graft.Tables.documents(spark, d).count()
    val rows = graft.ops.TextAnalysis.textTfidf.fn(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (docId, tf, df, score) =>
      assert(docId % 41 == 0 && tf >= 2)     // the exact selection predicates
      assert(df >= 1 && df <= n)             // a doc frequency is a doc count
      assert(score > 0)                      // smooth idf >= 1 and tf >= 2
    }
  }

  test("zonemap: zones partition the table and skippable zones truly miss the predicate") {
    val d = "/root/testdata/sf0.001"
    val zm = graft.ops.Scale.maintenanceZonemap.fn(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getDate(2).toString, r.getDate(3).toString, r.getBoolean(6)))
    val li = Tables.lineitem(spark, d)
    assert(zm.map(_._2).sum == li.count()) // every row in exactly one zone
    // a zone the stats mark skippable must contain ZERO predicate rows —
    // the data-skipping soundness guarantee
    val hitZones = li
      .filter(col("l_shipdate").cast("date")
        .between(lit("1996-07-01"), lit("1996-09-30")))
      .select(expr("datediff(CAST(l_shipdate AS DATE), DATE '1970-01-01') div 90"))
      .as[Long].collect().toSet
    zm.foreach { case (zone, _, mn, mx, skip) =>
      assert(mn <= mx)
      if (skip) assert(!hitZones.contains(zone), s"zone $zone skipped but has rows")
    }
    // and the predicate window itself must be non-degenerate at this SF
    assert(zm.exists(_._5) && zm.exists(!_._5))
  }

  test("text_rarity: ppm mean bounded by corpus size; singleton-token docs are rarest") {
    val d = "/root/testdata/sf0.001"
    val n = graft.Tables.documents(spark, d).count()
    val rows = graft.ops.TextAnalysis.textRarity.fn(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, nTok, sumDf, ppm) =>
      assert(nTok >= 1 && sumDf >= nTok)      // each df >= 1
      assert(ppm >= 1000000L)                 // mean df >= 1 in ppm
      assert(ppm <= n * 1000000L)             // mean df <= corpus size
      assert(ppm == sumDf * 1000000L / nTok)  // the exact floor division
    }
    // emitted in rarity order
    assert(rows.map(_._4).toSeq == rows.map(_._4).toSeq.sorted)
  }

  test("sample_mix: over-budget langs sample near target, under-budget keep all") {
    val d = "/root/testdata/sf0.001"
    val rows = graft.ops.TextAnalysis.sampleMix.fn(spark, d)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val weights = Map("en" -> 1L, "de" -> 3L, "es" -> 2L, "fr" -> 2L, "zh" -> 15L)
    rows.foreach { case (lang, n, kept) =>
      val budget = weights(lang) * 60
      assert(kept <= n)
      if (n <= budget) assert(kept == n, s"$lang under budget must keep all")
      else {
        // hash-Bernoulli at rate budget/n: expect within 4 sigma of target
        val sigma = math.sqrt(budget.toDouble * (1 - budget.toDouble / n))
        assert(math.abs(kept - budget) <= 4 * sigma + 1,
          s"$lang kept $kept vs budget $budget (n=$n)")
      }
    }
    // the fixture exercises BOTH branches
    assert(rows.exists { case (l, n, _) => n <= weights(l) * 60 })
    assert(rows.exists { case (l, n, _) => n > weights(l) * 60 })
  }

  test("sample_shuffle: a deterministic permutation prefix, stable across reruns") {
    val d = "/root/testdata/sf0.001"
    val a = graft.ops.TextAnalysis.sampleShuffle.fn(spark, d)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val b = graft.ops.TextAnalysis.sampleShuffle.fn(spark, d)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(a == b)                                    // rerun-stable
    assert(a.map(_._1).distinct.length == a.length)   // no doc repeats
    assert(a.map(_._2) == a.map(_._2).sorted)         // emitted in key order
    // the hash order is not the id order — it actually shuffles
    assert(a.map(_._1) != a.map(_._1).sorted)
  }

  test("agg_mode: the mode's count is the max count of its group") {
    val d = "/root/testdata/sf0.001"
    val li = graft.Tables.lineitem(spark, d)
    val modes = graft.ops.Extras.aggMode.fn(spark, d)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    val maxCounts = li.groupBy(col("l_returnflag"), col("l_quantity").cast("double"))
      .count().groupBy("l_returnflag").agg(max("count"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(modes.nonEmpty)
    modes.foreach { case (flag, _, cnt) => assert(cnt == maxCounts(flag)) }
  }

  test("agg_approx_percentile: every estimate's rank error is within 1% of its target") {
    val d = "/root/testdata/sf0.001"
    val targets = Seq(0.5, 0.9, 0.99)
    // the raw sketch (the gated relation now emits the rank-bound boolean
    // instead of the values — round 9; this test keeps gating the values)
    val rows = graft.Tables.lineitem(spark, d)
      .groupBy("l_returnflag")
      .agg(percentile_approx(col("l_extendedprice"),
        array(lit(0.5), lit(0.9), lit(0.99)), lit(10000)).as("a"))
      .select(col("l_returnflag"), element_at(col("a"), 1),
        element_at(col("a"), 2), element_at(col("a"), 3))
      .collect().map(r => r.getString(0) -> Seq(r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    // and the gated relation's in-plan rank-bound claim holds everywhere
    assert(graft.ops.Scale.aggApproxPercentile.fn(spark, d)
      .collect().forall(_.getBoolean(2)), "within_rank_1pct must be all-TRUE")
    assert(rows.nonEmpty)
    val byFlag = graft.Tables.lineitem(spark, d)
      .select(col("l_returnflag"), col("l_extendedprice"))
      .collect().map(r => (r.getString(0), r.getDouble(1)))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sorted }
    // Greenwald-Khanna's contract is RANK accuracy (eps = 1/10000 at this
    // setting), not value accuracy — so gate the achieved rank of each
    // returned value against its target quantile.
    rows.foreach { case (flag, approx) =>
      val sorted = byFlag(flag); val n = sorted.length
      targets.zip(approx).foreach { case (p, v) =>
        val rank = sorted.count(_ <= v).toDouble / n
        assert(math.abs(rank - p) <= 0.01,
          s"$flag p=$p: value $v has rank $rank (n=$n)")
      }
    }
  }

  test("events_resample: the gap-fill is live (zero buckets exist) and conserves events") {
    val d = "/root/testdata/sf0.001"
    val rows = graft.ops.Events.eventsResample.fn(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(rows.exists(_._2 == 0L), "no empty bucket — the fill never fired")
    assert(rows.map(_._2).sum ==
      graft.Tables.events(spark, d).filter(col("event_type") === "purchase").count(),
      "spine counts must conserve the purchase total")
    val buckets = rows.map(_._1)
    assert(buckets.toSeq == (buckets.min to buckets.max).toSeq,
      "spine must be contiguous from min to max bucket")
  }

  test("window_ntile: per-segment quartile sizes differ by at most 1 and respect the order") {
    val d = "/root/testdata/sf0.001"
    val rows = graft.ops.Scale.windowNtile.fn(spark, d).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    val bal = graft.Tables.customer(spark, d)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    rows.groupBy(_._2).foreach { case (_, seg) =>
      val sizes = seg.groupBy(_._3).view.mapValues(_.length).values
      assert(sizes.max - sizes.min <= 1, "ntile sizes must differ by <=1")
      // every quartile-2 member's (bal, key) must sort >= every quartile-1 max
      val byQ = seg.groupBy(_._3).view
        .mapValues(_.map(t => (bal(t._1), t._1)).max).toMap
      (1 until 4).foreach { q =>
        if (byQ.contains(q) && byQ.contains(q + 1)) {
          val lowMax = byQ(q)
          val hiMin = seg.filter(_._3 == q + 1).map(t => (bal(t._1), t._1)).min
          assert(Ordering[(Double, Long)].lteq(lowMax, hiMin),
            s"quartile $q overlaps quartile ${q + 1}")
        }
      }
    }
  }

  test("merge_upsert: inserts live, and the balance delta is exactly 100 per updated row") {
    val d = "/root/testdata/sf0.001"
    val merged = graft.ops.Scale.mergeUpsert.fn(spark, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(merged.map(_._3).sum > 0, "no inserted rows — the insert path never fired")
    val base = graft.Tables.customer(spark, d)
    val nBase = base.count()
    val nUpd = base.filter(col("c_custkey") % 10 === 0).count()
    val nIns = base.filter(col("c_custkey") % 500 === 0).count()
    assert(merged.map(_._2).sum == nBase + nIns, "merged count = base + inserts")
    assert(nUpd > 0 && nIns > 0)
    // exact-decimal check: merged sum - (base sum + inserted-copy sum) = 100 * updates
    val dec18 = (c: org.apache.spark.sql.Column) =>
      c.cast(org.apache.spark.sql.types.DecimalType(18, 4))
    val baseSum = base.agg(sum(dec18(col("c_acctbal")))).head.getDecimal(0)
    val insSum = base.filter(col("c_custkey") % 500 === 0)
      .agg(sum(dec18(col("c_acctbal")))).head.getDecimal(0)
    val mergedSum = BigDecimal(merged.map(t => BigDecimal(t._4)).sum.toString)
    assert((mergedSum - BigDecimal(baseSum) - BigDecimal(insSum))
      .compare(BigDecimal(100) * nUpd) == 0,
      "balance delta must be exactly 100 per updated row")
  }

  test("pack bins conserve tokens and number contiguously per bucket") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val bins = graft.ops.TextAnalysis.packBins(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val totalTokens = docs
      .agg(sum(size(split(col("text"), " ")).cast("long"))).head.getLong(0)
    assert(bins.map(_._4).sum == totalTokens) // every token lands in a bin
    assert(bins.map(_._3).sum == docs.count()) // every doc lands in a bin
    bins.groupBy(_._1).foreach { case (bucket, bs) =>
      val ids = bs.map(_._2).sorted.toSeq
      assert(ids == (0L until ids.length).toSeq,
        s"bucket $bucket bins not contiguous: ${ids.mkString(",")}")
    }
  }

  test("gapsIslands partitions the event set: island sizes sum to the row count") {
    val ev = graft.Tables.events(spark, "/root/testdata/sf0.001")
    val islands = Events.gapsIslands(ev)
    val sums = islands.agg(
      sum(col("n_events")).cast("long"),
      count(lit(1))).head
    assert(sums.getLong(0) == ev.count(), "islands must cover every event exactly once")
    // islands are maximal: consecutive islands of one user never share a type
    val bad = islands
      .withColumn("prev_type", lag(col("event_type"), 1).over(
        org.apache.spark.sql.expressions.Window.partitionBy("user_id")
          .orderBy("t_start_us", "first_event_id")))
      .filter(col("prev_type") === col("event_type")).count()
    assert(bad == 0, s"$bad adjacent same-type islands — runs not maximal")
  }

  test("linearAttribution conserves credit up to per-purchase floor loss") {
    val ev = graft.Tables.events(spark, "/root/testdata/sf0.001")
    val attr = Events.linearAttribution(ev, lookbackUs = 604800000000L)
    val credited = attr.agg(sum(col("credit_microcents")).cast("long")).head.getLong(0)
    // attributed purchases = purchases with >= 1 click strictly before
    // within 7 days; their exact value in micro-cents bounds the credit:
    // floor division loses < n_touch micro-cents per purchase
    val pairs = Events.intervalJoin(
      ev.filter(col("event_type") === "click"),
      ev.filter(col("event_type") === "purchase"), maxGapUs = 604800000000L)
    val attributed = pairs.select(col("r_event_id")).distinct()
    val valueMc = ev.filter(col("event_type") === "purchase")
      .join(attributed, col("event_id") === col("r_event_id"))
      .agg(sum(round(col("value") * 100, 0).cast("long") * 1000000L).cast("long"))
      .head.getLong(0)
    val nPairs = pairs.count()
    assert(credited <= valueMc, "credit exceeds attributed purchase value")
    assert(credited > valueMc - nPairs, "floor loss exceeded one micro-cent per pair")
  }

  test("merge_scd2: intervals chain gaplessly and exactly one version is current per key") {
    val rows = graft.ops.Scale.mergeScd2.fn(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getBoolean(4)))
    rows.groupBy(_._1).foreach { case (key, vs) =>
      val sorted = vs.sortBy(_._2).toSeq
      assert(sorted.count(_._4) == 1, s"key $key: not exactly one current version")
      assert(sorted.last._4 && sorted.last._3.isEmpty,
        s"key $key: current version must be last with open valid_to")
      sorted.sliding(2).foreach {
        case Seq(a, b) => assert(a._3.contains(b._2),
          s"key $key: valid_to ${a._3} != next valid_from ${b._2} (gap/overlap)")
        case _ => ()
      }
      // %20 keys saw both change rounds (3 versions), the rest one (2)
      assert(sorted.length == (if (key % 20 == 0) 3 else 2), s"key $key: ${sorted.length} versions")
    }
  }

  test("repetitionSignals ppm values stay in range; top bigram is never zero") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val r = graft.ops.TextAnalysis.repetitionSignals(docs)
    val bad = r.filter(
      col("dup_tok_ppm") < 0 || col("dup_tok_ppm") > 1000000 ||
      col("top_bigram_ppm") <= 0 || col("top_bigram_ppm") > 1000000).count()
    assert(bad == 0)
  }

  test("labelPropagate: labels are always graph node ids; reruns are bit-identical") {
    // random sparse graphs: every adopted label must be some node's id
    // (mode-of-neighbor-labels can never invent a value), and the
    // score-arithmetic tie rule makes the whole fixpoint deterministic —
    // a rerun on the same edges must produce the identical labeling.
    val edgeGen: Gen[Seq[(Long, Long)]] = for {
      n <- Gen.choose(3, 10)
      m <- Gen.choose(2, 15)
      es <- Gen.listOfN(m, for {
        u <- Gen.choose(0L, n.toLong)
        v <- Gen.choose(0L, n.toLong)
      } yield (u, v))
    } yield es.filter { case (u, v) => u != v }
    for (es <- samples(edgeGen, 4) if es.nonEmpty) {
      val e0 = (es ++ es.map(_.swap)).toDF("u", "v")
      val nodes = es.flatMap { case (u, v) => Seq(u, v) }.toSet
      val run1 = graft.ops.Graph.labelPropagate(e0, 4)
        .as[(Long, Long)].collect().toMap
      val run2 = graft.ops.Graph.labelPropagate(e0, 4)
        .as[(Long, Long)].collect().toMap
      assert(run1.keySet == nodes, s"node set mismatch: $run1 vs $nodes")
      assert(run1.values.toSet.subsetOf(nodes), s"invented label: $run1")
      assert(run1 == run2, s"nondeterministic: $run1 vs $run2")
    }
  }

  test("kcoreCensus: the census is monotone non-increasing and matches a plain-Scala peeler") {
    val edgeGen: Gen[Seq[(Long, Long)]] = for {
      n <- Gen.choose(4, 12)
      m <- Gen.choose(3, 25)
      es <- Gen.listOfN(m, for {
        u <- Gen.choose(0L, n.toLong)
        v <- Gen.choose(0L, n.toLong)
      } yield (u, v))
    } yield es.filter { case (u, v) => u != v }.distinct
    def refPeel(und: Set[(Long, Long)], k: Int, rounds: Int): Seq[(Long, Long)] = {
      var e = und.flatMap(p => Set(p, p.swap))
      (1 to rounds).map { _ =>
        val deg = e.groupBy(_._1).view.mapValues(_.size).toMap
        val surv = deg.filter(_._2 >= k).keySet
        e = e.filter { case (u, v) => surv(u) && surv(v) }
        (e.map(_._1).toSet.size.toLong, e.size.toLong)
      }
    }
    for (es <- samples(edgeGen, 4) if es.nonEmpty) {
      val e0 = (es ++ es.map(_.swap)).distinct.toDF("u", "v")
      val got = graft.ops.Graph.kcoreCensus(e0, 3, 4)
        .orderBy("round")
        .as[(Int, Long, Long, Long, Long, Long)].collect().toSeq
      val want = refPeel(es.toSet, 3, 4)
      assert(got.map(r => (r._2, r._3)) == want,
        s"census mismatch: got $got want $want (edges $es)")
      // peeling only removes: node and edge counts never increase
      assert(got.map(_._2) == got.map(_._2).sorted.reverse, s"nodes grew: $got")
      assert(got.map(_._3) == got.map(_._3).sorted.reverse, s"edges grew: $got")
    }
  }

  test("winnowFingerprints: the every-window coverage guarantee holds on random corpora") {
    // winnowing's defining property: every window of w consecutive
    // shingle positions contains at least one selected fingerprint
    // position (selection = each window's min-score decode).
    for (corpus <- samples(corpusGen, 3)) {
      val docs = corpus.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val sel = graft.ops.Text.winnowFingerprints(docs, w = 4)
      // recover the selected positions by re-deriving them: min_h rides
      // the relation, but positions need the internal sel column — use
      // density instead: n_fp >= ceil(n_shingles / 4) is implied by
      // coverage (each fingerprint covers <= 4 window ends)
      val bad = sel.filter(col("n_fp") * 4 < col("n_shingles")).count()
      assert(bad == 0, "a doc has too few fingerprints for full window coverage")
      // and selection can never exceed the shingle count
      assert(sel.filter(col("n_fp") > col("n_shingles")).count() == 0)
    }
  }

  test("concurrencyByDay matches a plain-Scala sweep on random interval sets") {
    // random per-user event minutes over two days; the reference
    // recomputes sessions (30-min gap) and the RANGE-frame sweep
    // semantics directly: at instant t, the +1 peer group sees all
    // starts at t (touching sessions overlap), the -1 group adds the
    // ends; peak_ts is the earliest instant whose group value hits max.
    val evGen: Gen[Seq[(Long, Long, Int, Int)]] = for {
      nU <- Gen.choose(1, 4)
      evs <- Gen.listOfN(nU * 4, for {
        u <- Gen.choose(1L, nU.toLong)
        day <- Gen.choose(0, 1)
        minute <- Gen.choose(0, 24 * 60 - 1)
      } yield (u, day, minute))
    } yield evs.zipWithIndex.map { case ((u, day, m), i) => (i.toLong, u, day, m) }
    for (evs <- samples(evGen, 6) if evs.nonEmpty) {
      val df = evs.toDF("event_id", "user_id", "day0", "minute")
        .select(col("event_id"), col("user_id"),
          // 2024-03-01 00:00:00 UTC = 1709251200; UTC session → the ntz
          // cast keeps the wall clock
          timestamp_seconds(lit(1709251200L) + col("day0") * 86400L +
            col("minute") * 60L).cast("timestamp_ntz").as("ts"))
      val got = graft.ops.Events.concurrencyByDay(df).orderBy("day")
        .collect().map(r => (r.getDate(0).toString, r.getLong(1), r.getInt(2),
          r.getAs[java.time.LocalDateTime](3)))
      // reference
      val want = evs.groupBy(e => (e._2, e._3)).toSeq.flatMap { case ((u, day), es) =>
        val ms = es.map(_._4).sorted
        val sessions = ms.foldLeft(List.empty[(Int, Int)]) {
          case (Nil, m)             => List((m, m))
          case ((st, en) :: t, m)   =>
            if (m - en > 30) (m, m) :: (st, en) :: t else (st, m) :: t
        }
        sessions.map { case (st, en) => (day, st, en) }
      }
      val wantByDay = want.groupBy(_._1).toSeq.sortBy(_._1).map { case (day, ss) =>
        val starts = ss.groupBy(_._2).view.mapValues(_.size).toMap
        val ends = ss.groupBy(_._3).view.mapValues(_.size).toMap
        val instants = (starts.keySet ++ ends.keySet).toSeq.sorted
        var prefix = 0
        var best = Int.MinValue
        var peak = -1
        for (t <- instants) {
          val cPlus = prefix + starts.getOrElse(t, 0)
          val cMinus = cPlus - ends.getOrElse(t, 0)
          for (c <- Seq(cPlus, cMinus) if c > best) { best = c; peak = t }
          prefix = cMinus
        }
        (day, ss.size.toLong, best, peak)
      }
      assert(got.length == wantByDay.length, s"day count: ${got.toSeq} vs $wantByDay")
      got.zip(wantByDay).foreach { case ((gd, gn, gc, gts), (day, n, c, peak)) =>
        assert(gd == f"2024-03-${day + 1}%02d", s"day: $gd vs $day")
        assert(gn == n, s"n_sessions @$gd: $gn vs $n (${evs})")
        assert(gc == c, s"max_concurrent @$gd: $gc vs $c (${evs})")
        val gMin = gts.getHour * 60 + gts.getMinute
        assert(gMin == peak, s"peak @$gd: $gMin vs $peak (${evs})")
      }
    }
  }

  test("MisraGriesAgg: order-invariant guarantees hold over random streams and merge trees") {
    // The agg_heavy_hitters gate rests on three theory bounds that must
    // hold for ANY partitioning and ANY merge order (Spark fixes
    // neither). Exercise them directly (no Spark — the Aggregator's own
    // reduce/merge): random Zipf-ish streams, random partition cuts,
    // random left/right merge fold.
    val counters = 3
    val streamGen: Gen[(List[String], List[Int], Long)] = for {
      n <- Gen.choose(1, 300)
      xs <- Gen.listOfN(n, Gen.frequency(
        8 -> Gen.const("hot"), 3 -> Gen.const("warm"),
        1 -> Gen.oneOf("c1", "c2", "c3", "c4", "c5", "c6")))
      nCuts <- Gen.choose(0, 6)
      cuts <- Gen.listOfN(nCuts, Gen.choose(0, n))
      mergeSeed <- Gen.choose(0L, Long.MaxValue)
    } yield (xs, cuts, mergeSeed)
    for ((xs, cuts, mergeSeed) <- samples(streamGen, 25)) {
      val agg = new graft.functions.MisraGriesAgg(counters)
      val parts = (0 +: cuts.sorted :+ xs.length).distinct.sorted
        .sliding(2).map { case Seq(a, b) => xs.slice(a, b) }.toList
      val bufs = parts.map(p => p.foldLeft(agg.zero)(agg.reduce))
      val rnd = new scala.util.Random(mergeSeed)
      val merged = rnd.shuffle(bufs).reduceLeft(agg.merge)
      val est = agg.finish(merged)
      val exact = xs.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val n = xs.length.toLong
      assert(est.size <= counters, s"summary overflowed: $est")
      est.foreach { case (k, e) =>
        assert(e <= exact(k), s"overestimate for $k: $e > ${exact(k)}")
      }
      exact.foreach { case (k, f) =>
        val e = est.getOrElse(k, 0L)
        assert((f - e) * (counters + 1) <= n,
          s"additive bound broken for $k: exact $f est $e n $n")
        if (f * (counters + 1) > n)
          assert(est.contains(k), s"true heavy hitter $k missing from $est")
      }
    }
  }

  test("TopKAgg ≡ the rank window under heavy ties, NaN scores and any partitioning") {
    import org.apache.spark.sql.expressions.Window
    // heavy ties (8 score values across 500 rows), NaN rows (which both
    // Double.compare and a DESC sort place above every value), and ids
    // reused across groups
    val rnd = new scala.util.Random(42)
    val rows = (0 until 500).map { i =>
      val score =
        if (i % 97 == 0) Double.NaN else rnd.nextInt(8).toDouble
      (s"g${rnd.nextInt(5)}", score, (rnd.nextInt(40) + 1).toLong)
    }
    def viaAgg(parts: Int) = rows.toDF("g", "score", "id")
      .repartition(parts)
      .groupBy("g")
      .agg(graft.functions.TopKAgg.topk(col("score"), col("id"), 3).as("ids"))
      .select(col("g"), posexplode(col("ids")).as(Seq("r", "id")))
      .as[(String, Int, Long)].collect().toSet
    val win = rows.toDF("g", "score", "id")
      .withColumn("rn", row_number().over(
        Window.partitionBy("g").orderBy(col("score").desc, col("id"))))
      .filter(col("rn") <= 3)
      .select(col("g"), (col("rn") - 1).cast("int").as("r"), col("id"))
      .as[(String, Int, Long)].collect().toSet
    val one = viaAgg(1)
    assert(one == win, s"agg(1 partition) diverged from the rank window")
    // merge-order insensitivity: the partial buffers combine to the same
    // relation at any partitioning
    assert(viaAgg(7) == one)
    assert(viaAgg(13) == one)
  }
}
