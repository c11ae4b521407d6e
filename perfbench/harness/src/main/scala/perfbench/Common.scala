package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def write(v: Any): String = mapper.writeValueAsString(v)
}

/** Harness options, passed by `perfbench/run.py`. */
final case class Opts(workload: String, runDir: String, input: String,
    seconds: Double, trace: Boolean, cores: Int,
    swivelArgs: Seq[String], keys: Seq[String])

object Common {
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private val started = System.nanoTime()
  /** A progress line on stderr, which run.py keeps in the run's log. */
  def note(msg: String): Unit = System.err.println(f"[perfbench +${secs(started)}%.1fs] $msg")

  /** A fresh session whose scratch space lies under the run directory,
    * plus the time it took to start it and run one warm-up query. */
  def session(o: Opts, conf: Seq[(String, String)] = Nil): (SparkSession, Double) = {
    val t0 = System.nanoTime()
    val b = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${o.runDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.runDir}/warehouse")
    conf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.range(1000).selectExpr("sum(id)").collect()
    (spark, secs(t0))
  }

  /** Untraced: operations until `seconds` have passed, at least five.
    * Traced: six, untraced and traced in ABBA order after the first two,
    * so their wall times give the tracing overhead. In both, the first two
    * operations warm the JVM up and run.py leaves their times out. */
  def operations(o: Opts)(op: (Int, Boolean) => Map[String, Any]): Seq[Map[String, Any]] =
    if (o.trace) Seq(false, false, false, true, true, false).zipWithIndex.map { case (t, i) => op(i, t) }
    else {
      val t0 = System.nanoTime()
      val b = Seq.newBuilder[Map[String, Any]]
      var i = 0
      while (i < 5 || secs(t0) < o.seconds) { b += op(i, false); i += 1 }
      b.result()
    }

  def bytesUnder(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val walk = Files.walk(p)
      try walk.filter(Files.isRegularFile(_)).mapToLong((f: Path) => Files.size(f)).sum()
      finally walk.close()
    }
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Counters of a span and everything below it. */
  final case class Totals(jobs: Long, stages: Long, tasks: Long, runMs: Long,
      gcMs: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long,
      scan: Long, pairJoinPlans: Long)

  def totals(s: Span): Totals = Trace.subtree(s).foldLeft(
    Totals(0, 0, 0, 0, 0, 0, 0, 0, 0, 0)) { (t, x) =>
    Totals(t.jobs + x.jobs, t.stages + x.stages, t.tasks + x.tasks,
      t.runMs + x.runMs, t.gcMs + x.gcMs, t.shuffleWrite + x.shuffleWrite,
      t.shuffleRead + x.shuffleRead, t.spill + x.spill, t.scan + x.scan,
      t.pairJoinPlans + x.pairJoinPlans)
  }

  def seconds(s: Span): Double = (s.end - s.start) / 1e9
  def mb(bytes: Long): Double = bytes / 1048576.0

  /** The Spark-engine layer metrics of one traced call. */
  def sparkLayer(s: Span, cores: Int, peakStorage: Long): Map[String, Double] = {
    val t = totals(s)
    Map(
      "spark.jobs" -> t.jobs.toDouble,
      "spark.stages" -> t.stages.toDouble,
      "spark.tasks" -> t.tasks.toDouble,
      "spark.busy_share" -> t.runMs / 1000.0 / (seconds(s) * cores),
      "spark.executor_run_s" -> t.runMs / 1000.0,
      "spark.shuffle_write_mb" -> mb(t.shuffleWrite),
      "spark.shuffle_read_mb" -> mb(t.shuffleRead),
      "spark.spill_mb" -> mb(t.spill),
      "spark.gc_s" -> t.gcMs / 1000.0,
      "spark.scan_mb" -> mb(t.scan),
      "spark.peak_storage_mb" -> mb(peakStorage))
  }
}
