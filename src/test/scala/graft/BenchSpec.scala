package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {
  test("staleMirrors: only roots of other layouts, never a current-layout mirror") {
    val tmp = Files.createTempDirectory("mirrors")
    Seq("graft_bench_mirror_v4_aa", "graft_bench_mirror_v5_aa", "graft_bench_mirror_v5_bb",
      "graft_bench_mirror_cc", "other_dir").foreach(n => Files.createDirectory(tmp.resolve(n)))
    val stale = Bench.staleMirrors(tmp.toFile, "graft_bench_mirror_v5_").map(_.getName).toSet
    assert(stale == Set("graft_bench_mirror_v4_aa", "graft_bench_mirror_cc"))
  }

  test("timeReps: a failed rep never becomes a best or cold time; the key is listed failed") {
    val spark = TestSpark.spark
    val d = "bench-spec-" + java.util.UUID.randomUUID()
    var flakyCalls = 0
    val r = Bench.timeReps(Seq("ok", "boom", "flaky", "cold", "cold_boom"), reps = 3) {
      case "ok" => ()
      case "boom" => throw new RuntimeException("boom")
      case "flaky" =>
        flakyCalls += 1
        // the failing rep is the fast one: recorded as best it would win
        if (flakyCalls == 1) throw new RuntimeException("flaky")
        Thread.sleep(30)
      case "cold" => graft.ops.Memo.once(spark, d, "spec.cold")("built")
      case "cold_boom" =>
        // rep 1 notes cold work, then fails: no cold_s entry may result
        graft.ops.Memo.once[String](spark, d, "spec.cold_boom")(sys.error("cold boom"))
    }
    assert(r.failed == Seq("boom", "flaky", "cold_boom"))
    assert(!r.best.contains("boom") && !r.best.contains("cold_boom"))
    assert(r.best("flaky") >= 0.03)
    assert(r.best.keySet == Set("ok", "flaky", "cold"))
    assert(r.coldS.keySet == Set("cold"))
  }
}
