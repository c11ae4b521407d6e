package graft

import org.apache.spark.sql.SparkSession

/** The local session `graft.Verify` and `graft.Bench` run on. */
object LocalSession {
  /** A `local[cpus]` session with `cpus` shuffle partitions, where `cpus`
    * is `SPARK_GRAFT_CPUS` (default 4); returns the session and `cpus`.
    * A value that is not a positive integer is rejected here, before it
    * can size the session or reach a bench record. */
  def apply(): (SparkSession, Int) = {
    val raw = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val cpus = raw.toIntOption.getOrElse(0)
    require(cpus > 0, s"SPARK_GRAFT_CPUS must be a positive integer, not '$raw'")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts is INT64 TIMESTAMP(NANOS) — illegal for Spark 4's reader
      // without this; Tables.events converts the nanos to TIMESTAMP_NTZ.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    (spark, cpus)
  }
}
