package graft.swivel

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import graft.sources.{Sources, TfExample}

/** End-to-end Swivel-prep CLI — the spark-submit entry point mirroring the
  * reference driver's flag surface (SURVEY.md §3.1 E1: --input,
  * --output_dir, --shard_size, --min_count, --window_size).
  *
  * Reads a corpus (plain-text lines or a parquet documents table) and
  * ranks its vocab on the driver (`SwivelPrep.rankVocab`). For `.pb`
  * output the pair pass's partial cell counts go straight to
  * `TfExample.writeSwivelPbShards`: one shuffle on the row stripe, whose
  * tasks write the shards and return their rows' n_k totals, from which
  * the driver computes the marginals; nothing lands. For parquet output
  * the counts land once (`SwivelPrep.prepare`) and the shards and the
  * marginals read that landing. Writes:
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

  private val flags = Set("input", "output_dir", "shard_size", "min_count", "window_size",
    "input_format", "output_format")

  /** Flag parsing: the options, or what is wrong with `args` — a flag
    * that is unknown, repeated or has no value, a missing --input or
    * --output_dir, a size that is not a positive integer, or a format
    * outside its choices. */
  private[graft] def parse(args: Array[String]): Either[String, Options] = {
    val pairs = args.grouped(2).toSeq
    val bad = pairs.collectFirst {
      case Array(k, _) if !k.startsWith("--") || !flags(k.drop(2)) => s"unknown flag $k"
      case Array(k) => s"flag $k has no value"
      case Array(k, v) if v.startsWith("--") => s"flag $k has no value"
    }
    val opts = pairs.collect { case Array(k, v) => k.drop(2) -> v }.toMap
    def int(k: String, default: Int): Either[String, Int] = opts.get(k) match {
      case None => Right(default)
      case Some(v) => v.toIntOption.filter(_ > 0).toRight(s"--$k must be a positive integer, not $v")
    }
    def choice(k: String, default: String, of: Set[String]): Either[String, String] = {
      val v = opts.getOrElse(k, default)
      if (of(v)) Right(v) else Left(s"--$k must be one of ${of.mkString("|")}, not $v")
    }
    def required(k: String) = opts.get(k).toRight(s"--$k is required")
    val d = Options("", "")
    for {
      _ <- bad.toLeft(())
      _ <- Either.cond(opts.size == pairs.size, (), "a flag is given twice")
      input <- required("input")
      outDir <- required("output_dir")
      shardSize <- int("shard_size", d.shardSize)
      minCount <- int("min_count", d.minCount)
      windowSize <- int("window_size", d.windowSize)
      inputFormat <- choice("input_format", d.inputFormat, Set("text", "parquet"))
      outputFormat <- choice("output_format", d.outputFormat, Set("parquet", "pb"))
    } yield Options(input, outDir, shardSize, minCount, windowSize, inputFormat, outputFormat)
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args).fold({ err =>
      System.err.println(s"swivel-prep: $err\n$usage")
      sys.exit(2)
    }, identity)
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

  /** The schema of `row_sums/`, as `SwivelPrep.marginalsFromCounts` has it. */
  private val marginalSchema = StructType(Seq(
    StructField("id", LongType, nullable = false), StructField("marginal", DoubleType)))

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
    val tokens = ranked.map(_._1)
    val vocab = SwivelPrep.vocabRelation(spark, ranked)
    val vocabSize = tokens.length
    val numShards = vocabSize / shardSize
    val pb = outputFormat == "pb"
    // each (id, marginal) of a row with any in-window pair; the sums are
    // driver-bounded (truncated vocabulary) and feed both the sums text
    // files and the row_sums/ parquet
    val (cells, marginals) = if (vocabSize == 0) {
      // corpus smaller than one shard: vocab truncates to zero — mirror
      // the parquet path's graceful empty output instead of crashing in
      // the .pb writer's require
      System.err.println(
        s"swivel-prep: vocabulary is empty after truncation to a multiple " +
          s"of shard_size=$shardSize — no shards to write")
      (0L, Array.empty[(Long, Double)])
    } else if (pb) layer("shards") {
      // the reference trainer's own input layout: one serialized
      // tensorflow.Example per shard (shard-RRR-CCC.pb)
      val written = TfExample.writeSwivelPbShards(
        SwivelPrep.partialCounts(docs, vocab, windowSize), numShards, vocabSize,
        s"$outDir/shards_pb")
      val totals = written.rowTotals
      (written.cells, (0 until vocabSize).iterator
        .filter(id => (0 until windowSize).exists(k => totals(id * windowSize + k) != 0L))
        .map(id => id.toLong -> SwivelPrep.cellWeight(totals, id * windowSize, windowSize))
        .toArray)
    }(r => s"${numShards * numShards} files, ${r._1} cells")
    else layer("shards") {
      val prepared = SwivelPrep.prepare(docs, ranked, shardSize, windowSize)
      Sources.writeShards(prepared.shards, s"$outDir/shards")
      val result = (prepared.counts.count(),
        prepared.marginals.collect().map(r => r.getLong(0) -> r.getDouble(1)))
      // free the landed counts: `run` may share a long-lived session
      org.apache.spark.sql.graft.bridge.releaseLocalCheckpoint(prepared.counts)
      result
    }(r => s"${r._1} cells")
    layer("side files") {
      if (pb && vocabSize > 0) {
        // the vocab/sums TEXT side files the reference trainer loads
        // beside the .pb shards; the matrix is symmetric, so row and col
        // files are identical. Every vocab id gets a sum line; ids with
        // no in-window pairs are 0
        val sums = Array.fill(vocabSize)(0.0)
        marginals.foreach { case (id, m) => sums(id.toInt) = m }
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
      Sources.writeSideOutput(spark.createDataFrame(java.util.Arrays.asList(
        marginals.map { case (id, m) => Row(id, m) }: _*), marginalSchema), s"$outDir/row_sums")
      if (pb && vocabSize > 0) 6 else 2
    }(n => s"$n files")
    println(s"swivel-prep done: vocab=$vocabSize cells=$cells -> $outDir")
  }
}
