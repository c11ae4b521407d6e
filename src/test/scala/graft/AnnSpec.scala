package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.{Ann, Dedup, Similarity}

/** Scale-path equivalence for the embedding operators: the blocked exact
  * all-pairs kernel vs the theta-join form, hyperplane-LSH candidates on
  * planted near-dups, and k-means IVF recall on planted clusters. */
class AnnSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val d = "/root/testdata/sf0.001"

  test("blocked all-pairs cosine equals the theta-join brute force") {
    val n = Ann.prep(Tables.embeddings(spark, d))
    val brute = n.as("a").join(n.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("i"), col("b.vec_id").as("j"),
        round(Similarity.dot(col("a.ve"), col("b.ve")) /
          (col("a.nrm") * col("b.nrm")), 4).as("cos"))
      .as[(Long, Long, Double)].collect().toSet
    val blocked = Similarity.allPairsCos(n)
      .select(col("i"), col("j"), round(col("cos_raw"), 4).as("cos"))
      .as[(Long, Long, Double)].collect().toSet
    assert(blocked == brute)
    assert(blocked.size == { val c = n.count(); (c * (c - 1) / 2).toInt })
  }

  /** Planted corpus: `clusters` base vectors, `perCluster` noisy copies
    * each (cos vs base ≳ 0.99), plus `noise` unrelated vectors. */
  private def planted(clusters: Int, perCluster: Int, noise: Int, dim: Int) = {
    val rnd = new scala.util.Random(7)
    def unit() = {
      val v = Array.fill(dim)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val bases = Array.fill(clusters)(unit())
    val rows = (for {
      c <- 0 until clusters
      k <- 0 until perCluster
    } yield {
      val jitter = unit().map(_ * 0.05f)
      val v = bases(c).zip(jitter).map { case (a, b) => a + b }
      ((c * perCluster + k).toLong, c, v)
    }) ++ (0 until noise).map(i =>
      ((clusters * perCluster + i).toLong, -1, unit()))
    rows.toDF("vec_id", "label", "embedding")
  }

  test("hyperplane-LSH near-dup equals exact on planted near-dups, with fewer candidates") {
    val emb = planted(clusters = 6, perCluster = 5, noise = 60, dim = 32)
    val exact = Dedup.embeddingNearDup(emb, 0.9)
      .as[(Long, Long, Double)].collect().toSet
    assert(exact.size >= 6 * 10) // every intra-cluster pair qualifies
    val lsh = Ann.lshNearDup(emb, 0.9, dim = 32)
      .as[(Long, Long, Double)].collect().toSet
    assert(lsh == exact)
    val n = emb.count()
    val nCand = Ann.lshCandidates(Ann.prep(emb), dim = 32).count()
    assert(nCand < n * (n - 1) / 2 / 4) // sub-quadratic in practice
  }

  test("dedup_embed_lsh (declared key): LSH pairs = exactly the planted near-dups") {
    val got = Ann.dedupEmbedLsh.fn(spark, d)
      .select("i", "j").as[(Long, Long)].collect().toSet
    val nVecs = Tables.embeddings(spark, d).count()
    val want = (0L until nVecs).map(i => (i, i + 100000L)).toSet
    assert(got == want) // full recall at 0.99 on the planted pairs, nothing else
  }

  test("sim_ann_kmeans (declared key): recall ≥ 0.9 vs exact top-10 on the real table") {
    val approx = Ann.simAnnKmeans.fn(spark, d)
      .select("vec_id").as[Long].collect().toSet
    assert(approx.size == 10)
    val exact = Similarity.allPairsCos(Ann.prep(Tables.embeddings(spark, d)))
      .filter(col("i") === 0L || col("j") === 0L)
      .select(when(col("i") === 0L, col("j")).otherwise(col("i")).as("other"),
        col("cos_raw"))
      .orderBy(col("cos_raw").desc, col("other"))
      .limit(10).select("other").as[Long].collect().toSet
    assert((approx & exact).size >= 9)
  }

  test("sim_ann_pq (declared key): recall ≥ 0.9 vs exact top-10 on the real table") {
    val approx = Ann.simAnnPq.fn(spark, d)
      .select("vec_id").as[Long].collect().toSet
    assert(approx.size == 10)
    val exact = Similarity.allPairsCos(Ann.prep(Tables.embeddings(spark, d)))
      .filter(col("i") === 0L || col("j") === 0L)
      .select(when(col("i") === 0L, col("j")).otherwise(col("i")).as("other"),
        col("cos_raw"))
      .orderBy(col("cos_raw").desc, col("other"))
      .limit(10).select("other").as[Long].collect().toSet
    assert((approx & exact).size >= 9,
      s"PQ shortlist+rerank recall too low: ${(approx & exact).size}/10")
  }

  test("sim_ann_upsert: assign-only merge ≡ full-corpus assignment under the base model") {
    // the determinism the key's oracle rides on: assignment is per-row
    // independent, so landed-base-lists ∪ increment-lists is EXACTLY the
    // full-corpus assignment under the same (base-trained) model — a
    // merge that lost rows, double-assigned, or let the increment
    // influence training would break this relation equality
    val v = Ann.prep(Tables.embeddings(spark, d))
    val base = v.filter(col("vec_id") % 10 =!= 7)
    val cents = Ann.kmeansCentroidsQuantized(
      base.orderBy("vec_id").limit(1024).localCheckpoint(), c = 8, iters = 3)
    val merged = Ann.assignTo(base, cents).select("vec_id", "bucket")
      .unionByName(Ann.assignTo(v.filter(col("vec_id") % 10 === 7), cents)
        .select("vec_id", "bucket"))
    val full = Ann.assignTo(v, cents).select("vec_id", "bucket")
    assert(merged.exceptAll(full).isEmpty && full.exceptAll(merged).isEmpty)
  }

  test("twoLevelAssign: total, valid, and per-row independent on the real table") {
    val v = Ann.prep(Tables.embeddings(spark, d))
    val cents = Ann.kmeansCentroidsQuantized(
      v.orderBy("vec_id").limit(1024).localCheckpoint(), c = 8, iters = 3)
    val lists = Ann.twoLevelAssign(v, cents).select("vec_id", "bucket")
      .localCheckpoint()
    // totality: every vector indexed exactly once (the sim_ann_ivf2
    // n_indexed gate), every bucket a real centroid
    val n = v.count()
    assert(lists.count() == n)
    assert(lists.select("vec_id").distinct().count() == n)
    assert(lists.join(cents, col("bucket") === col("cid")).count() == n)
    // per-row independence (the upsert keys' contract, now riding the
    // two-level path): base ∪ increment ≡ full corpus under one model
    val merged = Ann.twoLevelAssign(v.filter(col("vec_id") % 10 =!= 7), cents)
      .select("vec_id", "bucket")
      .unionByName(Ann.twoLevelAssign(v.filter(col("vec_id") % 10 === 7), cents)
        .select("vec_id", "bucket"))
    assert(merged.exceptAll(lists).isEmpty && lists.exceptAll(merged).isEmpty)
  }

  test("sim_ann_ivf2_capped: c_eff = min(max(8, n div 200), CapC), and where the cap is non-binding the capped build coincides with the scaled one") {
    val n = Tables.embeddings(spark, d).count()
    val rep = Ann.simAnnIvf2Capped.fn(spark, d).localCheckpoint()
    val cEff = math.min(math.max(8L, n / 200L), Ann.CapC.toLong)
    assert(rep.select("n_centroids").distinct().as[Long].collect().toSeq
      == Seq(cEff), s"capped build trained ≠ $cEff centroids")
    // the broadcast side of the build is bounded by the STRUCTURE, not
    // the corpus: ≤ ⌈√c_eff⌉ groups (constant once the cap binds)
    val g = rep.select("n_groups").distinct().as[Long].collect().head
    assert(g <= math.ceil(math.sqrt(cEff.toDouble)).toLong)
    // at gate SFs c ≤ 10 < CapC: the least() is live but non-binding,
    // so the capped report must equal the scaled twin's exactly — the
    // hash-continuity premise of shipping the cap as a separate key
    val unc = Ann.simAnnIvf2.fn(spark, d)
    assert(rep.exceptAll(unc).isEmpty && unc.exceptAll(rep).isEmpty,
      "capped and scaled builds diverge where the cap is non-binding")
  }

  test("twoLevelAssign: totality survives colinear (duplicate) anchors") {
    // anchors = the 3 lowest cids (g = ⌈√8⌉); cid 2 duplicates cid 1, so
    // the exact-tie route sends centroid 2 (and every point that would
    // pick anchor 2) to anchor 1 — group(2) is EMPTY but no point routes
    // to it: the scaladoc's totality argument, pinned
    val emb = Seq(
      1L -> Array(1.0f, 0.0f), 2L -> Array(1.0f, 0.0f),
      3L -> Array(0.0f, 1.0f), 4L -> Array(0.7f, 0.7f),
      5L -> Array(0.9f, 0.1f), 6L -> Array(0.1f, 0.9f),
      7L -> Array(-1.0f, 0.2f), 8L -> Array(0.5f, -0.5f))
      .toDF("vec_id", "embedding")
    val v = Ann.prep(emb)
    val cents = v.select(col("vec_id").as("cid"), col("ve").as("cve"),
      col("nrm").as("cnrm"))
    val lists = Ann.twoLevelAssign(v, cents).select("vec_id", "bucket")
      .localCheckpoint()
    assert(lists.count() == 8)
    assert(lists.select("vec_id").distinct().count() == 8)
    // with every vector its own centroid, flat assignment is the
    // identity; the hierarchy must agree wherever the route is exact —
    // at minimum the anchors themselves stay self-assigned (up to the
    // colinear tie collapsing 2 onto 1's group, where cos is still 1)
    import spark.implicits._
    val m = lists.as[(Long, Long)].collect().toMap
    assert(m(1L) == 1L)
    assert(Set(1L, 2L).contains(m(2L))) // colinear: either is cos 1.0
    assert(m(3L) == 3L)
  }

  test("sim_ann_delete: a tombstoned index never returns a deleted id") {
    // the serving invariant: after the delete anti-join, NO probe can
    // surface a tombstoned vector — even one that would be top-1
    val v = Ann.prep(Tables.embeddings(spark, d))
    val cents = Ann.kmeansCentroidsQuantized(
      v.orderBy("vec_id").limit(1024).localCheckpoint(), c = 8, iters = 3)
    val lists = Ann.assignTo(v, cents).select("vec_id", "bucket")
      .localCheckpoint()
    val del = v.filter(col("vec_id") % 10 === 3).select("vec_id")
    val tomb = lists.join(del, Seq("vec_id"), "left_anti")
    val pt = Ann.ivfTopKMulti(v, tomb, cents, Seq(0L, 101L, 202L),
      nprobe = 4, k = 10).localCheckpoint()
    assert(pt.count() > 0)
    assert(pt.join(del, Seq("vec_id")).isEmpty)
  }

  test("plantNearDups refuses an offset that would collide with real vec_ids") {
    val emb = Seq((0L, Array(1.0f, 0.0f)), (100001L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    // the guard is IN-PLAN (raise_error in the scan-stage projection):
    // composition stays lazy and free; the error fires on execution
    val e = intercept[Exception] {
      Ann.plantNearDups(emb).count() // default offset 100000 < max vec_id 100001
    }
    assert(e.getMessage.contains("collide"))
    // a safe offset (strictly above the max id) is accepted
    assert(Ann.plantNearDups(emb, offset = 200000L).count() == 4L)
  }

  test("k-means IVF reaches recall ≥ 0.9 vs exact top-10 on planted clusters") {
    val emb = planted(clusters = 4, perCluster = 40, noise = 0, dim = 16)
    val cents = Ann.kmeansCentroidsQuantized(Ann.prep(emb), c = 4, iters = 3)
    val approx = Ann.ivfTopKWith(emb, queryId = 0L, cents, nprobe = 1, k = 10)
      .select("vec_id").as[Long].collect().toSet
    val exact = Similarity.allPairsCos(Ann.prep(emb))
      .filter(col("i") === 0L || col("j") === 0L)
      .select(when(col("i") === 0L, col("j")).otherwise(col("i")).as("other"),
        col("cos_raw"))
      .orderBy(col("cos_raw").desc, col("other"))
      .limit(10).select("other").as[Long].collect().toSet
    assert((approx & exact).size >= 9)
  }

  test("upsert gates return their typed empty relation on empty embeddings") {
    // a zero-row embeddings table trains zero centroids and codebooks
    // and indexes nothing; the ingestion, rebalance and PQ paths must
    // still return the schema they return on real data, as their DuckDB
    // oracle does
    val empty = java.nio.file.Files.createTempDirectory("graft_empty_emb").toString
    Tables.embeddings(spark, d).limit(0).write.parquet(s"$empty/embeddings.parquet")
    for (g <- Seq(Ann.simAnnUpsert, Ann.streamAnnUpsert, Ann.simAnnRebalance,
        Ann.simAnnPq, Ann.simAnnPqRecall, Ann.simAnnIvfPq)) {
      val real = g.fn(spark, d)
      val got = g.fn(spark, empty)
      assert(got.count() == 0L, s"${g.name}: rows on empty embeddings")
      assert(got.schema.map(f => (f.name, f.dataType)) ==
        real.schema.map(f => (f.name, f.dataType)),
        s"${g.name}: ${got.schema.simpleString} vs ${real.schema.simpleString}")
    }
  }

  test("integral division truncates toward zero for signed longs AND decimals (the pca rescale contract)") {
    // DuckDB's // truncates toward zero (-7 // 2 = -3, verified against
    // 1.0.0); the pca iterate divides SIGNED values, so Spark's div must
    // agree on longs and on the DECIMAL(38,0) round-2 sums.
    val r = spark.sql(
      """SELECT -7 div 2, 7 div 2, CAST(-7 AS DECIMAL(38,0)) div 2,
        |       CAST(-2000000000000000000000 AS DECIMAL(38,0)) div 1000000
        |""".stripMargin).head
    assert(r.getLong(0) == -3L && r.getLong(1) == 3L)
    assert(r.getLong(2) == -3L)
    assert(r.getLong(3) == -2000000000000000L)
  }

  test("pcaPowerIterate: hand-run two rounds on a planted signed matrix") {
    // vectors (1,0), (-1,0), (0,0.5): q rows (10000,0), (-10000,0), (0,5000)
    //   s1 = (10000, -10000, 5000)
    //   w1 = (10000·10000 + (-10000)(-10000), 5000·5000) = (2e8, 2.5e7)
    //   v1 = w1 div 1e6 = (200, 25)
    //   s2 = (2e6, -2e6, 125000)
    //   w2 = (1e4·2e6 + (-1e4)(-2e6), 5000·125000) = (4e10, 6.25e8)
    //   v2 = (40000, 625)
    //   lam_ppm = (200·40000 + 25·625)·1e6 div (200² + 25²)
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(-1.0f, 0.0f)),
      (2L, Array(0.0f, 0.5f))).toDF("vec_id", "embedding")
    val got = Ann.pcaPowerIterate(emb)
      .as[(Int, Long, Long, Long)].collect().toSeq
    val lam = (200L * 40000L + 25L * 625L) * 1000000L / (200L * 200L + 25L * 25L)
    assert(got == Seq((0, 200L, 40000L, lam), (1, 25L, 625L, lam)), s"got $got")
  }
}
