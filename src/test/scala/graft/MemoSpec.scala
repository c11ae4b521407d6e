package graft

import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{ColdWork, Landed, Memo}

/** The session memo behind every once-per-session landing: one build
  * per (session, dataset, tag), re-entrant builds, no entry on failure. */
class MemoSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private def fresh(): String = "memo-spec-" + java.util.UUID.randomUUID()

  test("Memo.once: two calls with one key run build once and note one cold build") {
    val d = fresh()
    val builds = new AtomicInteger(0)
    val c0 = ColdWork.count
    val a = Memo.once(spark, d, "spec.one") { builds.incrementAndGet(); Seq(1L, 2L) }
    val b = Memo.once(spark, d, "spec.one") { builds.incrementAndGet(); Seq(3L) }
    assert(a == Seq(1L, 2L) && (b eq a))
    assert(builds.get == 1)
    assert(ColdWork.count - c0 == 1)
    // another tag on the same (session, dataset) is its own entry
    assert(Memo.once(spark, d, "spec.two")(Seq(3L)) == Seq(3L))
  }

  test("Memo.once: concurrent callers of one key share a single build") {
    val d = fresh()
    val builds = new AtomicInteger(0)
    val gate = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val fs = (1 to 4).map(_ => pool.submit(new java.util.concurrent.Callable[String] {
        def call(): String = {
          gate.await()
          Memo.once(spark, d, "spec.race") { builds.incrementAndGet(); Thread.sleep(50); "v" }
        }
      }))
      gate.countDown()
      assert(fs.map(_.get()).toSet == Set("v"))
      assert(builds.get == 1)
    } finally pool.shutdownNow()
  }

  test("Landed.once: a build that lands another tag inside its closure") {
    import spark.implicits._
    val d = fresh()
    val c0 = ColdWork.count
    val outer = Landed.once(spark, d, "spec.outer") {
      val base = Landed.once(spark, d, "spec.base")(Seq(1L, 2L, 3L).toDF("x"))
      base.select(($"x" * 10).as("y"))
    }
    assert(outer.as[Long].collect().sorted.toSeq == Seq(10L, 20L, 30L))
    assert(ColdWork.count - c0 == 2)
    // both landings are memoized: reading again builds nothing
    val again = Landed.once(spark, d, "spec.outer")(sys.error("rebuilt"))
    assert(again.count() == 3 && ColdWork.count - c0 == 2)
  }

  test("Memo.once: a build that throws leaves no entry; the next call builds") {
    val d = fresh()
    val builds = new AtomicInteger(0)
    val e = intercept[IllegalStateException] {
      Memo.once[String](spark, d, "spec.fail")(throw new IllegalStateException("boom"))
    }
    assert(e.getMessage == "boom")
    assert(Memo.once(spark, d, "spec.fail") { builds.incrementAndGet(); "ok" } == "ok")
    assert(Memo.once(spark, d, "spec.fail") { builds.incrementAndGet(); "again" } == "ok")
    assert(builds.get == 1)
  }
}
