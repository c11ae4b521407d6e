package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.graft.ListenerBus
import org.apache.spark.sql.util.QueryExecutionListener
import graft.ops.{ColdWork, Swivel}
import graft.swivel.{SwivelMain, SwivelPrep}

/** Hand-computed goldens for the Swivel prep pipeline (SURVEY §5.2-3). */
class SwivelSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs(texts: String*) =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")

  test("tokenize: 1-based positions, whitespace split") {
    val got = SwivelPrep.tokenize(docs("a b a")).orderBy("pos")
      .as[(Long, Long, String)].collect()
    assert(got.toSeq == Seq((0L, 1L, "a"), (0L, 2L, "b"), (0L, 3L, "a")))
  }

  test("cooc golden: 'a b a', window 2 — 1/d weights, symmetric, self-pair doubled") {
    val d = docs("a b a")
    val vocab = SwivelPrep.buildVocab(d, minCount = 1, shardSize = 1)
    // counts: a=2, b=1 → ids a=0, b=1
    assert(vocab.orderBy("id").as[(Long, String, Long)].collect().toSeq ==
      Seq((0L, "a", 2L), (1L, "b", 1L)))
    val cells = SwivelPrep.cooc(d, vocab, windowSize = 2)
      .orderBy("row_id", "col_id").as[(Long, Long, Double)].collect().toSeq
    // pairs: (a@1,b@2,d=1), (a@1,a@3,d=2), (b@2,a@3,d=1); both orientations:
    // C[a][a] = 1/2 + 1/2 = 1.0 ; C[a][b] = C[b][a] = 1/1 + 1/1 = 2.0
    assert(cells == Seq((0L, 0L, 1.0), (0L, 1L, 2.0), (1L, 0L, 2.0)))
    val marg = SwivelPrep.marginals(d, vocab, windowSize = 2)
      .orderBy("id").as[(Long, Double)].collect().toSeq
    // row sums: a: 1.0 + 2.0 = 3.0 ; b: 2.0
    assert(marg == Seq((0L, 3.0), (1L, 2.0)))
    // the same relations derived from the per-cell distance counts (n1, n2)
    val counts = SwivelPrep.cellCounts(d, vocab, windowSize = 2)
    assert(counts.orderBy("row_id", "col_id").as[(Long, Long, Long, Long)].collect().toSeq ==
      Seq((0L, 0L, 0L, 2L), (0L, 1L, 2L, 0L), (1L, 0L, 2L, 0L)))
    assert(SwivelPrep.cellsFromCounts(counts, 2).orderBy("row_id", "col_id")
      .as[(Long, Long, Double)].collect().toSeq == cells)
    assert(SwivelPrep.marginalsFromCounts(counts, 2).orderBy("id")
      .as[(Long, Double)].collect().toSeq == marg)
  }

  test("vocab: count ties break token-ASC; truncation to shard_size multiple") {
    // a,b,c count 3; d count 2; minCount=2 keeps all 4; shardSize=3 → keep 3
    val d = docs("a b c d", "b c a d", "c a b")
    val v = SwivelPrep.buildVocab(d, minCount = 2, shardSize = 3)
      .orderBy("id").as[(Long, String, Long)].collect().toSeq
    assert(v == Seq((0L, "a", 3L), (1L, "b", 3L), (2L, "c", 3L)))
  }

  test("vocab: min_count filter drops rare tokens before ranking") {
    val d = docs("x x y")
    val v = SwivelPrep.buildVocab(d, minCount = 2, shardSize = 1)
      .as[(Long, String, Long)].collect().toSeq
    assert(v == Seq((0L, "x", 2L)))
  }

  test("cooc: out-of-vocab tokens drop but positions keep original distances") {
    // 'a z b': z is OOV (minCount=2 with one z)… use explicit truncation:
    // vocab {a,b} via minCount=2; pair (a@1, b@3) has d=2, not 1.
    val d = docs("a z b", "a b z a b")
    val vocab = SwivelPrep.buildVocab(d, minCount = 2, shardSize = 2)
    assert(vocab.select("token").as[String].collect().toSet == Set("a", "b"))
    val pairs = SwivelPrep.coocPairs(docs("a z b"), vocab, windowSize = 2)
      .as[(Long, Long, Int)].collect().toSeq
    // only (a,b,d=2) + mirror — distance measured on original positions
    assert(pairs.toSet == Set((0L, 1L, 2), (1L, 0L, 2)))
  }

  test("coocSalted produces exactly the cells of cooc (skew path is lossless)") {
    val d = docs("a b a c a b", "b c a a", "a a a a a a")
    val vocab = SwivelPrep.buildVocab(d, minCount = 1, shardSize = 1)
    val plain = SwivelPrep.cooc(d, vocab, 3)
      .orderBy("row_id", "col_id").as[(Long, Long, Double)].collect().toSeq
    val salted = SwivelPrep.coocSalted(d, vocab, 3, saltBuckets = 4)
      .orderBy("row_id", "col_id").as[(Long, Long, Double)].collect().toSeq
    assert(salted == plain)
  }

  test("shard: id % num_shards assignment, dense locals") {
    val d = docs("a a b b c c d d", "a b c d")
    val vocab = SwivelPrep.buildVocab(d, minCount = 1, shardSize = 2)
    assert(vocab.count() == 4) // → num_shards = 2
    val cells = SwivelPrep.cooc(d, vocab, 2)
    val sh = SwivelPrep.shard(cells, vocab, shardSize = 2)
    val bad = sh.filter(
      org.apache.spark.sql.functions.expr(
        "row_shard <> global_row % 2 OR local_row <> global_row div 2 OR " +
        "col_shard <> global_col % 2 OR local_col <> global_col div 2"))
    assert(bad.count() == 0)
  }

  private def corpus(lines: String*): Path = {
    val dir = Files.createTempDirectory("swivel-main")
    Files.write(dir.resolve("corpus.txt"), lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    dir
  }

  /** The executed plans of every query `f` runs on `session`. */
  private def executedPlans(session: SparkSession)(f: => Unit): Seq[SparkPlan] = {
    val plans = new ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    ListenerBus.drain(session)
    session.listenerManager.register(listener)
    try { f; ListenerBus.drain(session) } finally session.listenerManager.unregister(listener)
    plans.asScala.toSeq
  }

  private object PlanNodes extends AdaptiveSparkPlanHelper {
    private def onDocId(keys: Seq[Expression]) = keys.exists(_.references.exists(_.name == "doc_id"))

    /** A join keyed on doc_id on both sides: the windowed pair self-join. */
    def docIdJoin(plan: SparkPlan): Boolean = collectWithSubqueries(plan) {
      case j: BaseJoinExec if onDocId(j.leftKeys) && onDocId(j.rightKeys) => j
    }.nonEmpty

    /** A shuffle hash-partitioned on doc_id: the sliding-window pair pass. */
    def docIdShuffle(plan: SparkPlan): Boolean = collectWithSubqueries(plan) {
      case e: ShuffleExchangeExec if (e.outputPartitioning match {
        case h: HashPartitioning => onDocId(h.expressions)
        case _ => false
      }) => e
    }.nonEmpty
  }

  test("SwivelMain.run: one pair pass feeds shards, side files and marginals") {
    val dir = corpus("a b a c b a", "c a b b a", "b c a a c b")
    val out = dir.resolve("out").toString
    val opts = SwivelMain.Options(input = dir.resolve("corpus.txt").toString, outDir = out,
      shardSize = 1, minCount = 1, windowSize = 3, outputFormat = "pb")
    val plans = executedPlans(spark)(SwivelMain.run(spark, opts))
    assert(plans.count(PlanNodes.docIdJoin) == 0)
    assert(plans.count(PlanNodes.docIdShuffle) == 1)
    val d = graft.sources.Sources.textCorpus(spark, opts.input)
    val vocab = SwivelPrep.buildVocab(d, 1, 1)
    val marg = SwivelPrep.marginals(d, vocab, 3).orderBy("id").as[(Long, Double)].collect()
    def lines(name: String) = scala.io.Source.fromFile(s"$out/$name").getLines().toSeq
    assert(lines("row_sums.txt") == marg.toSeq.map { case (_, m) => f"$m%.4f" })
    assert(lines("col_vocab.txt") == Seq("a", "b", "c"))
    val cells = graft.sources.TfExample.readSwivelPbShards(spark, s"$out/shards_pb")
      .select("global_row", "global_col", "weight").as[(Long, Long, Float)].collect().toSet
    assert(cells == SwivelPrep.cooc(d, vocab, 3).as[(Long, Long, Double)].collect()
      .map { case (r, c, w) => (r, c, w.toFloat) }.toSet)
  }

  test("the nine swivel_* keys in one session: two pair passes, one cold landing") {
    val s = spark.newSession()
    val c0 = ColdWork.count
    val plans = executedPlans(s) {
      Swivel.all.foreach(q =>
        q.fn(s, "/root/testdata/sf0.001").write.format("noop").mode("overwrite").save())
    }
    // the shared `swivel.counts` landing, and swivel_cooc_salted's own
    // salted aggregation over the pairs
    assert(plans.count(PlanNodes.docIdShuffle) == 2)
    assert(ColdWork.count - c0 == 1)
  }

  test("the nine swivel_* keys return their typed empty relation on empty documents") {
    // a zero-row documents table has an empty vocabulary and zero shards;
    // every key must still return the schema it returns on real data, as
    // its DuckDB oracle does
    val sf = "/root/testdata/sf0.001"
    val empty = Files.createTempDirectory("graft_empty_docs").toString
    Tables.documents(spark, sf).limit(0).write.parquet(s"$empty/documents.parquet")
    for (q <- Swivel.all) {
      val real = q.fn(spark, sf)
      val got = q.fn(spark, empty)
      assert(got.count() == 0L, s"${q.name}: rows on empty documents")
      assert(got.schema.map(f => (f.name, f.dataType)) ==
        real.schema.map(f => (f.name, f.dataType)),
        s"${q.name}: ${got.schema.simpleString} vs ${real.schema.simpleString}")
    }
  }

  test("SwivelMain.run: a rerun with fewer shards leaves exactly its own .pb grid") {
    val dir = corpus("a b a c b a d", "c a b b a d d", "b c a a c b d")
    val out = dir.resolve("out").toString
    def run(shardSize: Int) = SwivelMain.run(spark, SwivelMain.Options(
      input = dir.resolve("corpus.txt").toString, outDir = out,
      shardSize = shardSize, minCount = 1, windowSize = 3, outputFormat = "pb"))
    run(1) // vocab of 4 → a 4×4 grid
    run(2) // the same vocab → a 2×2 grid
    val files = new java.io.File(s"$out/shards_pb").listFiles().map(_.getName).toSet
    assert(files == (for (r <- 0 until 2; c <- 0 until 2) yield f"shard-$r%03d-$c%03d.pb").toSet)
    val d = graft.sources.Sources.textCorpus(spark, dir.resolve("corpus.txt").toString)
    val vocab = SwivelPrep.buildVocab(d, 1, 2)
    val want = SwivelPrep.shard(SwivelPrep.cooc(d, vocab, 3), vocab, 2)
      .as[(Long, Long, Long, Long, Long, Long, Double)].collect()
      .map(t => t.copy(_7 = t._7.toFloat)).toSet
    val got = graft.sources.TfExample.readSwivelPbShards(spark, s"$out/shards_pb")
      .as[(Long, Long, Long, Long, Long, Long, Float)].collect().toSet
    assert(got == want)
  }

  test("SwivelMain.run: an empty vocabulary writes no shards and does not throw") {
    val dir = corpus("a b", "c")
    for (fmt <- Seq("pb", "parquet")) {
      val out = dir.resolve(s"out_$fmt")
      SwivelMain.run(spark, SwivelMain.Options(input = dir.resolve("corpus.txt").toString,
        outDir = out.toString, shardSize = 8, minCount = 1, outputFormat = fmt))
      assert(!Files.exists(out.resolve("shards_pb")) && !Files.exists(out.resolve("shards")))
      assert(spark.read.parquet(out.resolve("vocab").toString).count() == 0)
      assert(spark.read.parquet(out.resolve("row_sums").toString).count() == 0)
    }
  }
}
