package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{Sources, TfExample}
import graft.swivel.{SwivelMain, SwivelPrep}
import Common._

/** The Swivel workload: unmodified `SwivelMain.main` from corpus to `.pb`
  * shards, and in the traced run each pipeline layer on its own. */
object SwivelRuns {
  private def flag(o: Opts, name: String, default: String): String =
    o.swivelArgs.grouped(2).collectFirst { case Seq(k, v) if k == s"--$name" => v }
      .getOrElse(default)

  /** One SwivelMain run in a fresh session. SwivelMain finds the session
    * through `getOrCreate` and stops it when it is done. */
  private def rep(o: Opts, out: String, traced: Boolean): Map[String, Any] = {
    val (spark, setup) = session(o, conf(o))
    if (traced) { Trace.install(spark); Trace.resetStoragePeak() }
    val args = Array("--input", o.input, "--output_dir", out) ++ o.swivelArgs
    val base = Map[String, Any]("setup_s" -> setup, "out_dir" -> out, "traced" -> traced)
    note(s"SwivelMain -> $out${if (traced) " (traced)" else ""}")
    try {
      if (traced) {
        val (_, s) = Trace.span(spark.sparkContext, "swivel_main", "call")(SwivelMain.main(args))
        base ++ Map("wall_s" -> seconds(s), "pair_joins" -> totals(s).pairJoinPlans) ++
          sparkLayer(s, o.cores, Trace.storagePeakBytes)
      } else {
        val t0 = System.nanoTime()
        SwivelMain.main(args)
        base + ("wall_s" -> secs(t0))
      }
    } catch {
      case e: Throwable => base + ("error" -> e.toString)
    } finally spark.stop()
  }

  /** One shuffle partition per core: the corpora are small enough that
    * Spark's default of 200 would time task overhead, not the pipeline. */
  private def conf(o: Opts) = Seq("spark.sql.shuffle.partitions" -> o.cores.toString)

  /** SwivelMain runs, then in the traced run the layer spans. */
  def run(o: Opts): Map[String, Any] = {
    val reps = operations(o)((i, traced) => rep(o, s"${o.runDir}/out/rep$i", traced))
    val decoded = decodePb(o, reps)
    Map("reps" -> reps, "decoded" -> decoded) ++
      (if (o.trace) Map("layers" -> layers(o)) else Map.empty)
  }

  /** Decodes the `.pb` shards of the last successful run with the
    * engine's own reader, into parquet the correctness check reads; the
    * check compares every other run's shard files with that run's bytes.
    * Not timed. */
  private def decodePb(o: Opts, reps: Seq[Map[String, Any]]): Option[String] =
    reps.filterNot(_.contains("error")).lastOption.map { r =>
      note("decoding .pb shards")
      val out = r("out_dir").toString
      val (spark, _) = session(o, conf(o))
      try TfExample.readSwivelPbShards(spark, s"$out/shards_pb")
        .write.mode("overwrite").parquet(s"$out/decoded")
      finally spark.stop()
      out
    }

  /** Full materialization of every column the relation carries. */
  private def materialize(df: DataFrame): Long = df.queryExecution.toRdd.count()

  /** Each layer on the landed output of the layer before it, so each
    * span times one layer's own work. */
  private def layers(o: Opts): Map[String, Double] = {
    note("layer spans")
    val (spark, _) = session(o, conf(o))
    Trace.install(spark)
    try layerSpans(o, spark) finally spark.stop()
  }

  private def layerSpans(o: Opts, spark: SparkSession): Map[String, Double] = {
    val sc = spark.sparkContext
    val shardSize = flag(o, "shard_size", "4096").toInt
    val minCount = flag(o, "min_count", "5").toInt
    val window = flag(o, "window_size", "10").toInt
    val out = s"${o.runDir}/layers"
    def call[A](name: String)(f: => A): (A, Double) = {
      val (r, s) = Trace.span(sc, name)(f)
      (r, seconds(s))
    }

    val (docs, readS) = call("sources.read")(Sources.textCorpus(spark, o.input).localCheckpoint())
    val (tokens, tokenizeS) = call("swivel.tokenize")(materialize(SwivelPrep.tokenize(docs)))
    val (vocab, vocabS) = call("swivel.vocab")(SwivelPrep.buildVocab(docs, minCount, shardSize))
    val vocabSize = vocab.count()
    val (pairs, pairsS) = call("swivel.pairs")(materialize(SwivelPrep.coocPairs(docs, vocab, window)))
    val (cells, cellsS) = call("swivel.cells")(
      SwivelPrep.cooc(docs, vocab, window).localCheckpoint())
    val nCells = cells.count()
    val (marg, margS) = call("swivel.marginals")(
      SwivelPrep.marginals(docs, vocab, window).localCheckpoint())
    val (_, shardS) = call("swivel.shard")(materialize(SwivelPrep.shard(cells, vocab, shardSize)))
    val (_, writeShardsS) = call("sources.write_shards") {
      TfExample.writeSwivelPbShards(SwivelPrep.shard(cells, vocab, shardSize),
        (vocabSize / shardSize).toInt, vocabSize.toInt, s"$out/shards_pb")
    }
    val (_, writeSideS) = call("sources.write_side") {
      writeSideTexts(spark, vocab, marg, out)
      Sources.writeSideOutput(vocab, s"$out/vocab")
      Sources.writeSideOutput(marg, s"$out/row_sums")
    }
    // Σ over documents of (in-vocab tokens)²: the candidates the doc_id
    // self-join compares before its position filter
    val (candidates, _) = call("check.pair_candidates") {
      SwivelPrep.tokenize(docs).join(broadcast(vocab.select("token")), "token")
        .groupBy("doc_id").count()
        .agg(sum(col("count") * col("count"))).head().getLong(0)
    }
    Map(
      "sources.read_s" -> readS,
      "sources.write_shards_s" -> writeShardsS,
      "sources.write_side_s" -> writeSideS,
      "swivel.tokenize_s" -> tokenizeS,
      "swivel.vocab_s" -> vocabS,
      "swivel.pairs_s" -> pairsS,
      "swivel.cells_s" -> cellsS,
      "swivel.marginals_s" -> margS,
      "swivel.shard_s" -> shardS,
      "swivel.tokens" -> tokens.toDouble,
      "swivel.vocab_size" -> vocabSize.toDouble,
      "swivel.pairs" -> pairs.toDouble,
      "swivel.cells" -> nCells.toDouble,
      "swivel.pair_candidates" -> candidates.toDouble,
      "swivel.pair_yield" -> pairs.toDouble / candidates)
  }

  /** The vocab and sums text files SwivelMain writes beside `.pb` shards. */
  private def writeSideTexts(spark: SparkSession, vocab: DataFrame, marg: DataFrame,
      out: String): Unit = {
    import spark.implicits._
    val tokens = vocab.orderBy("id").select("token").as[String].collect()
    val sums = vocab.select(col("id")).join(marg, Seq("id"), "left")
      .select(col("id"), coalesce(col("marginal"), lit(0.0)).as("m"))
      .orderBy("id").select("m").as[Double].collect()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    def lines(name: String, ls: Seq[String]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$out/$name"),
        (ls.mkString("\n") + "\n").getBytes("UTF-8"))
    lines("row_vocab.txt", tokens.toSeq)
    lines("col_vocab.txt", tokens.toSeq)
    lines("row_sums.txt", sums.toSeq.map(v => f"$v%.4f"))
    lines("col_sums.txt", sums.toSeq.map(v => f"$v%.4f"))
  }
}
