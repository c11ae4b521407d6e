package perfbench

/** Entry point of the benchmark's JVM side; `perfbench/run.py` starts it,
  * checks the outputs it leaves and prints the metrics. Writes
  * `<run_dir>/result.json` and, in a traced run, `<run_dir>/spans.jsonl`. */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val o = Opts(
      workload = a("workload"), runDir = a("run_dir"), input = a("input"),
      seconds = a("seconds").toDouble,
      trace = a("trace") == "1", cores = a("cores").toInt,
      swivelArgs = a.getOrElse("swivel_args", "").split(" ").filter(_.nonEmpty).toSeq,
      keys = a.getOrElse("keys", "").split(",").filter(_.nonEmpty).toSeq)
    val result = o.workload match {
      case "operator_suite" => SuiteRuns.run(o)
      case _                => SwivelRuns.run(o)
    }
    Common.note("done")
    if (o.trace) Trace.dump(s"${o.runDir}/spans.jsonl")
    val full = result ++ Map("peak_rss_mb" -> Common.peakRssMb(), "run_id" -> Trace.runId)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"${o.runDir}/result.json"), Json.write(full))
    System.exit(0)
  }
}
