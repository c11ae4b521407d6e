package graft.swivel

import org.apache.spark.sql.SparkSession
import graft.sources.Sources

/** End-to-end Swivel-prep CLI — the spark-submit entry point mirroring the
  * reference driver's flag surface (SURVEY.md §3.1 E1: --input,
  * --output_dir, --shard_size, --min_count, --window_size).
  *
  * Reads a corpus (plain-text lines or a parquet documents table), ranks
  * its vocab on the driver (`SwivelPrep.rankVocab`) and lands the per-cell
  * distance counts of the one pair pass once (`SwivelPrep.prepare`); the
  * cells, the marginals and the shards all read that landing, and the
  * sizes it reports are driver facts. Writes:
  *   <output_dir>/shards/   parquet partitioned by (row_shard, col_shard)
  *                          (or shards_pb/ + the .txt side files for pb)
  *   <output_dir>/vocab/    (id, token, cnt)
  *   <output_dir>/row_sums/ (id, marginal)   [= col sums; matrix symmetric]
  */
object SwivelMain {
  private val usage =
    """usage: graft.swivel.SwivelMain --input <path> --output_dir <dir>
      |        [--input_format text|parquet] [--shard_size 4096]
      |        [--min_count 5] [--window_size 10] [--output_format parquet|pb]""".stripMargin

  /** The CLI flags, with the reference driver's defaults. */
  final case class Options(input: String, outDir: String, shardSize: Int = 4096,
      minCount: Int = 5, windowSize: Int = 10, inputFormat: String = "text",
      outputFormat: String = "parquet")

  /** Flag parsing; prints the usage and exits 2 without --input/--output_dir. */
  private def parse(args: Array[String]): Options = {
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def required(k: String) = opts.getOrElse(k, { System.err.println(usage); sys.exit(2) })
    val d = Options(required("input"), required("output_dir"))
    d.copy(
      shardSize = opts.get("shard_size").fold(d.shardSize)(_.toInt),
      minCount = opts.get("min_count").fold(d.minCount)(_.toInt),
      windowSize = opts.get("window_size").fold(d.windowSize)(_.toInt),
      inputFormat = opts.getOrElse("input_format", d.inputFormat),
      outputFormat = opts.getOrElse("output_format", d.outputFormat))
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val builder = SparkSession.builder()
      .appName("swivel-prep")
      .config("spark.sql.session.timeZone", "UTC")
    // under spark-submit the master comes from the submit config; default
    // to local[*] for direct java invocation
    val spark = (if (sys.props.contains("spark.master")) builder
                 else builder.master("local[*]")).getOrCreate()
    try run(spark, opts) finally spark.stop()
  }

  /** Runs one layer of `run`, then logs to stderr its seconds and the
    * driver facts `facts` reads off its result. */
  private def layer[A](name: String)(f: => A)(facts: A => String): A = {
    val t0 = System.nanoTime()
    val a = f
    System.err.println(f"swivel-prep $name%s: ${facts(a)}%s in ${(System.nanoTime() - t0) / 1e9}%.3f s")
    a
  }

  /** The whole pipeline on `spark`, corpus to every output file, with one
    * stderr line per layer. */
  def run(spark: SparkSession, opts: Options): Unit = {
    import opts._
    val docs = inputFormat match {
      case "parquet" => spark.read.parquet(input).select("doc_id", "text")
      case _         => Sources.textCorpus(spark, input)
    }
    val ranked = layer("vocab")(SwivelPrep.rankVocab(docs, minCount, shardSize))(r =>
      s"${r.length} rows")
    val prepared = layer("cells")(SwivelPrep.prepare(docs, ranked, shardSize, windowSize))(_ =>
      "counts landed")
    import prepared.{counts, marginals, numShards, shards, tokens, vocab, vocabSize}
    val pb = outputFormat == "pb"
    val cells = if (vocabSize == 0) {
      // corpus smaller than one shard: vocab truncates to zero — mirror
      // the parquet path's graceful empty output instead of crashing in
      // the .pb writer's require
      System.err.println(
        s"swivel-prep: vocabulary is empty after truncation to a multiple " +
          s"of shard_size=$shardSize — no shards to write")
      0L
    } else if (pb) {
      // the reference trainer's own input layout: one serialized
      // tensorflow.Example per shard (shard-RRR-CCC.pb)
      layer("shards")(graft.sources.TfExample.writeSwivelPbShards(shards,
        numShards, vocabSize, s"$outDir/shards_pb"))(n =>
        s"${numShards * numShards} files, $n cells")
    } else layer("shards") {
      Sources.writeShards(shards, s"$outDir/shards")
      counts.count()
    }(n => s"$n cells")
    layer("side files") {
      // vocab and sums are driver-bounded (truncated vocabulary): the
      // marginals are collected once and feed both the sums text files
      // and the row_sums/ parquet
      val margRows = marginals.collect()
      if (pb && vocabSize > 0) {
        // the vocab/sums TEXT side files the reference trainer loads
        // beside the .pb shards; the matrix is symmetric, so row and col
        // files are identical. Every vocab id gets a sum line; ids with
        // no in-window pairs are 0
        val sums = Array.fill(vocabSize)(0.0)
        margRows.foreach(r => sums(r.getLong(0).toInt) = r.getDouble(1))
        def writeLines(name: String, lines: Iterable[String]): Unit =
          java.nio.file.Files.write(java.nio.file.Paths.get(s"$outDir/$name"),
            (lines.mkString("\n") + "\n").getBytes("UTF-8"))
        writeLines("row_vocab.txt", tokens)
        writeLines("col_vocab.txt", tokens)
        // plain-decimal, never scientific: Double.toString renders small
        // 4dp-rounded marginals as "1.0E-4", which diverges from the
        // reference tooling's one-plain-value-per-line sums layout. The
        // marginals are 4dp-rounded upstream, so fixed %.4f is exact.
        writeLines("row_sums.txt", sums.map(v => f"$v%.4f"))
        writeLines("col_sums.txt", sums.map(v => f"$v%.4f"))
      }
      Sources.writeSideOutput(vocab, s"$outDir/vocab")
      Sources.writeSideOutput(
        spark.createDataFrame(java.util.Arrays.asList(margRows: _*), marginals.schema),
        s"$outDir/row_sums")
      if (pb && vocabSize > 0) 6 else 2
    }(n => s"$n files")
    println(s"swivel-prep done: vocab=$vocabSize cells=$cells -> $outDir")
    // free the landed counts: `run` may share a long-lived session
    org.apache.spark.sql.graft.bridge.releaseLocalCheckpoint(counts)
  }
}
