package perfbench

import java.nio.file.{Files, Paths}

import graft.SparkEntry
import graft.ops._
import Common._

/** The operator suite: each selected `SparkEntry.queries` key, fully
  * materialized as a parquet write that keeps every column and the final
  * sort, in fixed order, on a fresh session per pass. */
object SuiteRuns {
  /** Module membership, from each module's public `all`. */
  val modules: Seq[(String, Seq[QueryDef])] = Seq(
    "relational" -> Relational.all, "functions" -> Functions.all,
    "text" -> Text.all, "similarity" -> Similarity.all, "events" -> Events.all,
    "swivel" -> Swivel.all, "typed" -> Typed.all, "dedup" -> Dedup.all,
    "text_analysis" -> TextAnalysis.all, "ann" -> Ann.all,
    "multimodal" -> Multimodal.all, "extras" -> Extras.all, "sketch" -> Sketch.all,
    "formats" -> Formats.all, "scale" -> Scale.all, "pipelines" -> Pipelines.all,
    "graph" -> Graph.all, "quality" -> Quality.all, "unigram" -> Unigram.all,
    "curation" -> Curation.all, "alignment" -> Alignment.all,
    "wordpiece" -> Wordpiece.all, "tpch_sql_parity" -> TpchSqlParity.all,
    "retrieval" -> Retrieval.all)

  private val conf = Seq(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true")

  /** One pass over the keys. Each pass has its own java.io.tmpdir, so no
    * landed relation or persisted report carries over between passes. */
  private def pass(o: Opts, idx: Int, traced: Boolean): Map[String, Any] = {
    val dir = s"${o.runDir}/pass$idx"
    val tmp = s"$dir/tmp"
    Files.createDirectories(Paths.get(tmp))
    System.setProperty("java.io.tmpdir", tmp)
    val (spark, setup) = session(o, conf :+ ("spark.sql.shuffle.partitions" -> o.cores.toString))
    val sc = spark.sparkContext
    note(s"suite pass $idx${if (traced) " (traced)" else ""}")
    if (traced) { Trace.install(spark); Trace.resetStoragePeak() }
    val queries = SparkEntry.queries
    def one(k: String): Map[String, Any] = {
      val c0 = ColdWork.count
      val write = () => queries(k)(spark, o.input).write.mode("overwrite").parquet(s"$dir/out/$k")
      val rec: Map[String, Any] = try {
        if (traced) {
          val (_, s) = Trace.span(sc, s"key.$k", "call")(write())
          Map("wall_s" -> seconds(s), "self_s" -> Trace.selfNs(s) / 1e9,
            "jobs" -> totals(s).jobs)
        } else {
          val t0 = System.nanoTime()
          write()
          Map("wall_s" -> secs(t0))
        }
      } catch { case e: Throwable => Map("error" -> e.toString) }
      rec ++ Map("key" -> k, "cold_work" -> (ColdWork.count - c0))
    }
    try {
      val t0 = System.nanoTime()
      val (keys, layer) =
        if (traced) {
          val (ks, s) = Trace.span(sc, "operator_suite", "call")(o.keys.map(one))
          (ks, sparkLayer(s, o.cores, Trace.storagePeakBytes) +
            ("ops.storage_residue_mb" -> mb(Trace.storageBytes)))
        } else (o.keys.map(one), Map.empty[String, Double])
      Map("setup_s" -> setup, "wall_s" -> secs(t0), "out_dir" -> s"$dir/out",
        "traced" -> traced, "keys" -> keys, "tmp_mb" -> mb(bytesUnder(tmp))) ++ layer
    } finally spark.stop()
  }

  def run(o: Opts): Map[String, Any] = {
    val reps = operations(o)((i, traced) => pass(o, i, traced))
    val module = modules.flatMap { case (m, qs) => qs.map(_.name -> m) }.toMap
    val oracles = SparkEntry.oracleSql.filter { case (k, _) => o.keys.contains(k) }
    Map("reps" -> reps, "module_of" -> module, "oracle_sql" -> oracles)
  }
}
