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
}
