package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** One gated operator: a Spark implementation plus the DuckDB oracle
  * producing the identical relation on the same parquet tables.
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: String)

object QueryDef {
  def apply(name: String, oracle: String)(
      fn: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, fn, oracle)

  /** Shared temp root for operators that stage files (bucketed tables,
    * landed edge relations, streaming checkpoints/sinks). Two collision
    * classes are closed here (round-9 advice): the root embeds the JVM's
    * pid so two CONCURRENT drivers over the same dataset cannot wipe each
    * other's checkpoints mid-run, and it embeds the sanitized dataset
    * path itself (not a 32-bit hash of it) so two distinct datasets can
    * never map to one directory. Stable within a process, so bench reps
    * overwrite the same staging instead of accumulating; /tmp roots from
    * past processes are bounded by process count and cleared on reboot. */
  def tmpRoot(tag: String, d: String): String = {
    cleanupHook
    sys.props("java.io.tmpdir") + "/graft_" + tag + "_p" +
      java.lang.ProcessHandle.current().pid() + "_" +
      d.replaceAll("[^A-Za-z0-9._-]", "_")
  }

  /** JVM shutdown hook deleting every `graft_*_p<thisPid>_*` staging
    * root this process created (Landed relations, bucketed tables,
    * streaming checkpoints/sinks). Pid-scoping already prevents
    * cross-process collisions and a reboot clears /tmp, but a
    * long-lived host running many driver/test processes accumulates
    * dead roots between reboots (review finding) — exit-time cleanup
    * bounds /tmp at one process's footprint. Registered lazily on the
    * first tmpRoot call so pure-batch runs add no hook; failures are
    * swallowed (nothing may throw on the exit path — the pid scoping
    * means a leftover root is a nuisance, not a correctness hazard).
    * The cross-process bench mirror (/tmp/graft_bench_mirror_*) is
    * deliberately NOT deleted: it is an inter-run cache keyed by the
    * fixture dir and guarded by its _MIRROR_READY marker. */
  private lazy val cleanupHook: Unit = {
    val pidTag = "_p" + java.lang.ProcessHandle.current().pid() + "_"
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      Option(new java.io.File(sys.props("java.io.tmpdir")).listFiles())
        .toSeq.flatten
        .filter(f => f.getName.startsWith("graft_") && f.getName.contains(pidTag))
        .foreach(f => try Staging.deleteTree(f.getPath)
          catch { case _: Throwable => () })
    }, "graft-staging-cleanup"))
  }
}

/** Cross-engine determinism helpers (SURVEY §2.9).
  *
  * Strategy: every floating-point output is either (a) a raw stored double
  * passed through untouched, (b) an exact DECIMAL computation cast to
  * DOUBLE at the boundary (bit-identical in any engine), or (c) a double
  * expression built from bit-identical operands with the identical
  * operation tree on both sides (IEEE 754 determinism). Rounding is used
  * only on irreducibly-double values and always on already-identical
  * doubles.
  */
object Det {
  /** Exact-sum cast for ≤2dp money/measure columns (FIXTURES.md). */
  def dec(c: Column): Column = c.cast(DecimalType(18, 4))
  /** Tight money cast used inside products so scales stay small. */
  def money(c: Column): Column = c.cast(DecimalType(12, 2))
  /** 2dp rate in [0,1] (discount, tax). */
  def rate(c: Column): Column = c.cast(DecimalType(4, 2))
  def dbl(c: Column): Column = c.cast(DoubleType)

  /** Shared in-plan guard for range-normalizing operators
    * (agg_histogram, sim_quantize): a DEGENERATE non-empty range
    * (hi == lo, i.e. a constant column) raises a diagnostic error
    * instead of the opaque NaN-cast failure the division would cause
    * downstream; an EMPTY input (null max) passes the null through —
    * the fact side of the crossJoin is empty too, so the query returns
    * zero rows, matching the oracle. */
  import org.apache.spark.sql.functions.{when, raise_error, lit}
  def guardedHi(lo: Column, hi: Column, opName: String): Column =
    when(hi.isNotNull && !(hi > lo),
      raise_error(lit(s"$opName: degenerate range (hi <= lo)")).cast(DoubleType))
      .otherwise(hi)
}

/** Counts session-scoped one-time work: every `Memo.once` build bumps
  * it when it actually runs (never on a memo hit). Bench snapshots the
  * counter around rep 1 of each key, and a key whose first invocation
  * triggered a build gets its rep-1 wall time recorded in the
  * artifact's "cold_s" map, so the min-of-reps stat can never erase
  * the one-time cost from the record. A build is attributed to
  * whichever key paid it, which is exactly what the wall clock says. */
object ColdWork {
  private val n = new java.util.concurrent.atomic.AtomicLong(0L)
  private[ops] def note(): Unit = { n.incrementAndGet(); () }
  def count: Long = n.get
}

/** The one session memo: each derived artifact (landed relation,
  * trained index, collected vocabulary, certification report) is built
  * once per (session, dataset, tag) and fed to every later consumer.
  * Tags carry an owner prefix (`"ann.pqi"`, `"swivel.vocab"`) so two
  * modules cannot alias. Entries owned by stopped sessions drop first:
  * they would pin checkpoint blocks and the dead session for the
  * process lifetime otherwise.
  *
  * The map holds only a cheap holder; the build runs in the holder's
  * lazy val, outside the map's bin lock. So a build may call `once`
  * for another tag, concurrent callers of one key wait for the single
  * build, and a build that throws leaves no entry — the next call
  * retries it. */
object Memo {
  private final class Cell(build: () => AnyRef) {
    lazy val value: AnyRef = { ColdWork.note(); build() }
  }

  private val cells =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), Cell]()

  def once[T <: AnyRef](s: SparkSession, d: String, tag: String)(build: => T): T = {
    cells.keySet.removeIf(_._1.sparkContext.isStopped)
    val key = (s, d, tag)
    val cell = cells.computeIfAbsent(key, _ => new Cell(() => build))
    try cell.value.asInstanceOf[T]
    catch { case e: Throwable => cells.remove(key, cell); throw e }
  }
}

/** A relation landed as parquet once per (session, dataset, tag) and
  * read back by every key that consumes the same derived base relation.
  * At 100 TB these derived dims are landed tables maintained beside the
  * facts — landing once per session is the local-mode analog. The path
  * is tmpRoot-stable within a process so bench reps reuse the file. */
object Landed {
  def once(s: SparkSession, d: String, tag: String)(
      build: => DataFrame): DataFrame = {
    val path = Memo.once(s, d, tag) {
      // the path embeds the OWNING SESSION (identity hash), not just
      // pid+dataset: two live sessions in one JVM get separate memo
      // entries, and without this one's overwrite would delete the
      // directory the other is lazily scanning mid-read
      val root = QueryDef.tmpRoot(
        "ld_" + tag + "_s" + Integer.toHexString(System.identityHashCode(s)), d)
      build.write.mode("overwrite").parquet(root)
      root
    }
    s.read.parquet(path)
  }
}

/** Shared filesystem staging helpers (the Events/Formats tmp-dir
  * lifecycle): failures THROW (java.nio) — a silently-failed delete
  * surfaces later as an opaque driver hash mismatch, an IOException
  * surfaces here with the path in hand. */
object Staging {
  def deleteTree(root: String): Unit = {
    val p = java.nio.file.Paths.get(root)
    if (java.nio.file.Files.exists(p)) {
      val walk = java.nio.file.Files.walk(p)
      try
        walk.sorted(java.util.Comparator.reverseOrder())
          .forEach(f => java.nio.file.Files.delete(f))
      finally walk.close()
    }
  }
}
