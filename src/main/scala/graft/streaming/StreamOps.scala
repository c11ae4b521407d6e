package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StreamingQuery}
import org.apache.spark.sql.types.StructType

/** Structured Streaming operators (SURVEY.md §2.7 streaming truth;
  * NORTH-STAR): the custom-state sessionizer behind
  * `stream_stateful_session`, the foreachBatch sinks, and
  * [[StreamOps.fileStream]], the one runner for the checkpointed
  * file-stream gates that are hash-checked against DuckDB oracles.
  * StreamingSpec also drives the sessionizer over MemoryStream with
  * controlled disorder (late-row drop, session bridging, timeout
  * emission).
  *
  * At scale these are the standard shuffle-on-key stateful operators;
  * the watermark bounds state size.
  */
object StreamOps {

  /** Open-session state per user: (session start, last event, count),
    * all epoch-µs. */
  type SessionState = (Long, Long, Long)

  /** Insert one event into a user's still-mutable sessions, preserving
    * the invariant: sorted by start, pairwise separated by STRICTLY more
    * than `gapUs` (equal-gap merges, matching batch `sessionize` and
    * `session_window`). The event merges every session whose
    * `[start-gap, last+gap]` envelope contains it — at most two, and the
    * merged result keeps the invariant (it stays > gap away from every
    * non-merged session because each constituent was).
    */
  private def insertEvent(sessions: List[SessionState], eus: Long,
      gapUs: Long): List[SessionState] = {
    val (near, far) = sessions.partition { case (s0, l0, _) =>
      eus >= s0 - gapUs && eus <= l0 + gapUs }
    val merged =
      if (near.isEmpty) (eus, eus, 1L)
      else (math.min(near.map(_._1).min, eus),
        math.max(near.map(_._2).max, eus), near.map(_._3).sum + 1L)
    (merged :: far).sortBy(_._1)
  }

  /** CUSTOM-state sessionization via `flatMapGroupsWithState` — the
    * KeyValueGroupedDataset stateful surface, with per-key state the
    * built-in `session_window` aggregation cannot hold — driven by a real
    * event-time watermark (`GroupStateTimeout.EventTimeTimeout`).
    * Guarantee: the emitted sessions are EXACTLY batch `sessionize` over
    * the events the watermark admitted —
    *
    *  - events older than the watermark are dropped DETERMINISTICALLY by
    *    the stateful operator before they reach the merge logic, so a
    *    late event never opens a wrong singleton session;
    *  - state holds ALL of a user's still-mutable sessions (those with
    *    `last + gap >= watermark`), not just the newest, so an admitted
    *    out-of-order event always lands in its true session — including
    *    bridging two open sessions into one;
    *  - a session is emitted exactly when the watermark passes
    *    `last + gap` (event-time timeout or a later batch) — at that
    *    point no admissible event can change it, so the emission is
    *    final and needs no closing event per key.
    *
    * The session list is bounded by the disorder horizon: only sessions
    * inside the trailing `watermark delay + gap` window stay in state
    * (typically one). At 100 TB the state store therefore scales with
    * ACTIVE users in the watermark window, not all users ever seen.
    *
    * Input: a DataFrame with `user_id` and event-time `ts`; the merge
    * arithmetic runs on epoch-µs derived in-plan (`unix_micros`),
    * identical to the batch operator.
    */
  def statefulSessionsWatermarked(events: DataFrame,
      gapUs: Long = 1800000000L,
      watermark: String = "1 hour"): Dataset[(Long, Long, Long, Long)] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id"), col("ts").cast("timestamp").as("ts"),
        unix_micros(col("ts").cast("timestamp")).as("eus"))
      .withWatermark("ts", watermark)
      .as[(Long, java.sql.Timestamp, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[List[SessionState], (Long, Long, Long, Long)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[(Long, java.sql.Timestamp, Long)],
         state: GroupState[List[SessionState]]) =>
          var sessions = state.getOption.getOrElse(Nil)
          it.map(_._3).toSeq.sorted.foreach { eus =>
            sessions = insertEvent(sessions, eus, gapUs)
          }
          // A session is final once the watermark passes last+gap: a merge
          // needs an event <= last+gap, and every future event is >= the
          // watermark. (getCurrentWatermarkMs is the watermark this batch
          // filtered with, so "final" here is already safe to emit.)
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val (closed, open) = sessions.partition { case (_, l0, _) =>
            l0 + gapUs < wmUs }
          if (open.isEmpty) state.remove()
          else {
            state.update(open)
            // wake when the earliest open session becomes final (ms API;
            // round up, and stay strictly above the current watermark as
            // setTimeoutTimestamp requires)
            val nextUs = open.map { case (_, l0, _) => l0 + gapUs }.min
            state.setTimeoutTimestamp(
              math.max(nextUs / 1000L + 1L, state.getCurrentWatermarkMs() + 1L))
          }
          closed.map { case (s0, l0, n0) => (uid, s0, l0, n0) }.iterator
      }
  }

  /** Idempotent exactly-once parquet sink for `foreachBatch` — the
    * sinks/recovery surface of Structured Streaming: every microbatch
    * lands in its own `batch_id=` partition via DYNAMIC partition
    * overwrite, so a batch replayed after a crash BETWEEN the sink write
    * and the checkpoint's offset commit overwrites its own partition
    * instead of appending a duplicate. Idempotence (batch_id keying), not
    * a transaction, is what upgrades foreachBatch's at-least-once replay
    * to exactly-once landed data — the standard recipe for any
    * non-transactional sink. StreamingSpec drives the actual crash:
    * write happens, commit doesn't, restart replays, result is exact.
    *
    * At scale the per-batch write is a normal distributed parquet job;
    * dynamic overwrite touches only the replayed batch's partition, never
    * the table. */
  def parquetBatchWriter(outDir: String): (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) =>
      batch.withColumn("batch_id", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(outDir)

  /** Streaming CDC-apply sink for `foreachBatch` — the MERGE-into-state
    * counterpart of `parquetBatchWriter`'s append-only landing: each
    * microbatch of changelog rows (k, op, v, event_id) is squashed to
    * per-key latest (arg-max by event_id) and merged with the previous
    * state version; the merged state lands under `v=<batchId>`.
    *
    * Correctness rests on the merge operator, not on delivery order:
    * per-key arg-max by a total sequence (event_id) is ASSOCIATIVE,
    * COMMUTATIVE and IDEMPOTENT, so (a) microbatch boundaries and file
    * pick order cannot change the fixpoint, (b) a crash-replayed batch
    * recomputes its version from the same predecessor and lands the
    * identical state (exactly-once landed data from at-least-once
    * replay — the parquetBatchWriter recipe lifted to merge), and
    * (c) delete tombstones MUST stay in state: a tombstone's event_id
    * has to be able to beat an upsert arriving in a later batch with an
    * older sequence number. Tombstones are filtered at READ time, never
    * at merge time.
    *
    * At scale each version write is one keyed shuffle (state ⋈ batch on
    * k, both squashed); versions are retained per batch here (bounded by
    * the staged-file count) — a production table compacts old versions,
    * which is `maintenance_compact`'s job, orthogonal to the merge. */
  def cdcMergeWriter(stateRoot: String): (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) => {
      val s = batch.sparkSession
      val squash = (df: DataFrame) =>
        df.groupBy("k")
          .agg(max_by(struct(col("op"), col("v")), col("event_id")).as("last"),
            max(col("event_id")).as("event_id"))
          .select(col("k"), col("last.op").as("op"), col("last.v").as("v"),
            col("event_id"))
      val prev = keyedDirs(stateRoot, "v").map(_._1).filter(_ < batchId).lastOption
      val cur = squash(batch)
      val merged = prev match {
        case None => cur
        case Some(p) => squash(s.read.parquet(s"$stateRoot/v=$p").unionByName(cur))
      }
      merged.write.mode("overwrite").parquet(s"$stateRoot/v=$batchId")
    }

  /** The `key=<n>` subdirectories of `dir` (batch tags, state versions),
    * by n ascending; empty when `dir` does not exist. */
  private def keyedDirs(dir: String, key: String): Seq[(Long, java.io.File)] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith(key + "="))
      .map(f => (f.getName.stripPrefix(key + "=").toLong, f))
      .sortBy(_._1)

  /** Where a [[fileStream]] run lands its microbatches. `write(dir)` is
    * the foreachBatch body landing into the run's sink directory, `mode`
    * the query's output mode, `schema` the landed schema as a function of
    * the query's output schema, and `landed(dir)` the directory holding
    * the landed relation. The runner reads that directory back with
    * `schema`, so a run in which no batch landed still returns a typed
    * (empty) relation. */
  final case class FileSink(
      write: String => (DataFrame, Long) => Unit,
      mode: OutputMode = OutputMode.Append(),
      schema: StructType => StructType = identity,
      landed: String => String = identity)

  object FileSink {
    /** Each microbatch in its own `batch_id=` partition
      * ([[parquetBatchWriter]]); read back as the query's output columns,
      * without the `batch_id` directory column. */
    val batches: FileSink = FileSink(parquetBatchWriter)

    /** [[cdcMergeWriter]] state; the landed relation is the latest
      * version, tombstones included (the caller filters them). */
    val cdcMerge: FileSink = FileSink(cdcMergeWriter,
      landed = dir => keyedDirs(dir, "v").lastOption.fold(dir)(_._2.getPath))
  }

  /** The one runner for the checkpointed file-stream gates — every
    * streaming query whose landed output is hash-checked against a
    * DuckDB oracle goes through it:
    *
    *  - `stream_file_sink`: raw filtered rows, append landing;
    *  - `stream_stateful_session`: `flatMapGroupsWithState` event-time
    *    timers ([[statefulSessionsWatermarked]]);
    *  - `stream_upsert_sink`: CDC merge into versioned keyed state;
    *  - `stream_late_drop`: append-mode watermark (finalized windows drop
    *    late rows);
    *  - `stream_join_sink`: stream-stream join state over two independent
    *    sources;
    *  - `stream_ann_upsert`: ANN index ingestion under a frozen model;
    *  - `stream_restart_resume`: checkpoint recovery across a stop and
    *    restart ([[restartResumeLanded]]).
    *
    * `tagged` carries the stream's data columns plus an Int batch tag
    * `b`. It derives deterministically from the fixture, so it is staged
    * once per (session, dataset, tag) and shared by every rep: one
    * parquet file per `b=` directory with pinned increasing mtimes, so
    * batch `b` is consumed before batch `b + 1` whatever the staging
    * wall clock did (FileStreamSource picks oldest mtime first). The
    * staged input is immutable across runs: a key that needs a
    * watermark-flush sentinel stages it as its last batch, because
    * appending one mid-run would change the shared staging and cost an
    * extra full-state checkpoint commit per run. The stream schema is
    * the staged relation's own schema without `b`, never inferred from
    * the files, so an empty input stages, streams and lands nothing and
    * the gate still returns its typed relation.
    *
    * Every run gets a fresh root under `tmpRoot(tag, d)`: the staged
    * batches are hard-linked into its watched `in/`, and its checkpoint
    * and sink start empty, so the streaming query, its offset log, its
    * state store and its landed output are all per-run. `query` builds
    * the streaming plan from a source factory; each call opens an
    * independent FileStreamSource (`maxFilesPerTrigger=1`, one
    * microbatch per staged file), so a self-join reads the input twice.
    * The query drains with `processAllAvailable` and stops; the landed
    * relation is read back with the sink's schema. */
  def fileStream(s: SparkSession, d: String, tag: String,
      tagged: => DataFrame, sink: FileSink)(
      query: (() => DataFrame) => DataFrame): DataFrame =
    run(s, d, tag, tagged, sink, restarts = Nil)(query)._1

  /** CHECKPOINT RESTART/RESUME — the property checkpoints exist FOR, run
    * for real through [[fileStream]]'s runner: life 1 consumes the
    * batches tagged below `restartAt` with a complete-mode aggregation
    * (groupBy user_id → count/sum), drains and STOPS; only then are the
    * remaining batches linked into the watched directory, and life 2
    * starts a NEW query from the SAME checkpoint. Exactly-once across the
    * restart requires both recoveries to work: the offset log must mark
    * life-1's files committed (or life 2 would re-read them and counts
    * would double) and the state store must recover life-1's running
    * aggregates (or the first half's contribution would vanish). Either
    * failure moves the final snapshot away from the batch answer.
    *
    * Each microbatch's full aggregate state overwrites the sink
    * (complete mode); the landed table after life 2 is the batch
    * aggregate over all batches iff exactly-once held. Returns (landed
    * snapshot, life-1 input rows, life-2 input rows) so callers can pin
    * no-duplicate-consumption directly: life-2 rows must equal the later
    * batches' row count, not the whole input.
    *
    * Scale note: complete-mode state is group-cardinality-bounded
    * (user_id here); a 100 TB deployment lands update-mode deltas into
    * a merge sink instead (`stream_upsert_sink` gates that shape) but
    * recovers through the identical offset-log + state-store path. */
  def restartResumeLanded(s: SparkSession, d: String, tag: String,
      tagged: => DataFrame, restartAt: Int): (DataFrame, Long, Long) = {
    val snapshot = FileSink(
      dir => (batch: DataFrame, _: Long) => batch.write.mode("overwrite").parquet(dir),
      OutputMode.Complete())
    val (landed, lives) = run(s, d, tag, tagged, snapshot, Seq(restartAt)) { src =>
      src().groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
    }
    // recentProgress is a ring buffer capped at
    // spark.sql.streaming.numRecentProgressUpdates (default 100): the
    // per-life row counts are exact only while no entry was evicted, so
    // assert that rather than silently undercounting
    val cap = s.conf.get("spark.sql.streaming.numRecentProgressUpdates", "100").toInt
    val Seq(rows1, rows2) = lives.map { q =>
      require(q.recentProgress.length < cap,
        s"restartResume row counts need microbatches (${q.recentProgress.length}) " +
          s"< progress retention ($cap)")
      q.recentProgress.map(_.numInputRows).sum
    }
    (landed, rows1, rows2)
  }

  /** The runner behind [[fileStream]] and [[restartResumeLanded]]: one
    * query life per span of batch tags between consecutive `restarts`,
    * all lives on one checkpoint and sink. Returns the landed relation
    * and each life's stopped query. */
  private def run(s: SparkSession, d: String, tag: String,
      tagged: => DataFrame, sink: FileSink, restarts: Seq[Int])(
      query: (() => DataFrame) => DataFrame): (DataFrame, Seq[StreamingQuery]) = {
    val (staged, schema) = stagedOnce(s, d, tag, tagged)
    val root = graft.ops.QueryDef.tmpRoot(tag, d)
    val (in, out) = (root + "/in", root + "/out")
    graft.ops.Staging.deleteTree(root)
    Seq(in, out).foreach(p => new java.io.File(p).mkdirs())
    val stream = query(() => s.readStream.schema(schema)
      .option("recursiveFileLookup", "true")
      .option("maxFilesPerTrigger", "1")
      .parquet(in))
    val bounds = Long.MinValue +: restarts.map(_.toLong) :+ Long.MaxValue
    val batches = keyedDirs(staged, "b")
    val lives = withStatePartitions(s) {
      bounds.zip(bounds.tail).map { case (lo, hi) =>
        // a later life's batches appear under the watched dir only after
        // the previous life stopped, so it can reach them only by
        // resuming the committed offset log
        for ((b, dir) <- batches if b >= lo && b < hi)
          linkBatch(dir, s"$in/b=$b")
        val q = stream.writeStream
          .outputMode(sink.mode)
          .option("checkpointLocation", root + "/ckpt")
          .foreachBatch(sink.write(out))
          .start()
        try q.processAllAvailable() finally q.stop()
        q
      }
    }
    (s.read.schema(sink.schema(stream.schema))
      .option("recursiveFileLookup", "true")
      .parquet(sink.landed(out)), lives)
  }

  /** The staged input of one (session, dataset, tag), landed once through
    * `Memo.once`; returns its directory and the stream schema. The path
    * embeds the owning session (identity hash), not just pid + dataset —
    * the `Landed.once` discipline: without it a second live session in
    * the same JVM would wipe and restage the directory the first
    * session's streaming query is reading. */
  private def stagedOnce(s: SparkSession, d: String, tag: String,
      tagged: => DataFrame): (String, StructType) =
    graft.ops.Memo.once(s, d, "stream." + tag) {
      val dir = graft.ops.QueryDef.tmpRoot("sland_" + tag +
        "_s" + Integer.toHexString(System.identityHashCode(s)), d) + "/in"
      graft.ops.Staging.deleteTree(dir)
      val t = tagged
      stageBatches(t, dir)
      (dir, t.drop("b").schema)
    }

  /** ONE write (one scan) of the batch-tagged relation: the tag becomes
    * the `b=` directory and never reaches the data files (the stream
    * reads with `recursiveFileLookup`, which skips partition discovery).
    * Each batch directory's mtimes are then pinned to a fixed increasing
    * ladder. */
  private def stageBatches(tagged: DataFrame, dir: String): Unit = {
    tagged.repartition(1).write.partitionBy("b").parquet(dir)
    for ((b, bdir) <- keyedDirs(dir, "b"); f <- bdir.listFiles())
      // a failed mtime pin must fail FAST: on a filesystem where
      // setLastModified silently no-ops, batch order falls back to the
      // staging wall clock, and the forced consumption order the
      // late-drop and join-sink gates depend on degrades into an opaque
      // hash mismatch
      require(f.setLastModified(1700000000000L + b * 60000L),
        s"mtime pin failed: $f")
  }

  /** Hard-link the data files of one staged batch directory into `dst`
    * (same /tmp filesystem — O(1) metadata per file, no Spark job); a
    * link shares the pinned mtime. `_`/`.`-prefixed bookkeeping files
    * are skipped (FileStreamSource ignores them). Falls back to a copy
    * that keeps the mtime if the link fails (cross-device staging
    * root). */
  private def linkBatch(src: java.io.File, dst: String): Unit = {
    new java.io.File(dst).mkdirs()
    for (f <- src.listFiles()
         if !f.getName.startsWith("_") && !f.getName.startsWith(".")) {
      val tgt = new java.io.File(dst, f.getName).toPath
      try java.nio.file.Files.createLink(tgt, f.toPath)
      catch { case _: java.io.IOException =>
        java.nio.file.Files.copy(f.toPath, tgt,
          java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
      }
    }
  }

  /** `spark.sql.shuffle.partitions` while a [[fileStream]] query runs.
    * The conf sizes BOTH the exchange and the state-store INSTANCE
    * COUNT, and every microbatch commits every instance — so a
    * batch-sized partition count turns into pure per-batch commit
    * overhead on keyed state this small (measured 3× on the
    * stream-stream join: 18.5 s → 6.0 s at 8 partitions,
    * hash-identical). At 100 TB state volume you size up; for a
    * 150-key session state you size down. The count is baked into each
    * checkpoint at first start; checkpoints here are per-run, so the
    * setting is self-consistent. */
  private val StatePartitions = 8

  /** Run `body` with `spark.sql.shuffle.partitions` at
    * [[StatePartitions]], restoring the session conf after. The swap
    * mutates the SESSION-global conf for the body's duration; the lock
    * serializes streaming runs so two concurrent runs cannot bake each
    * other's partition count into a checkpoint. A non-streaming key running concurrently in the same
    * session would still read the temporary value — the harness runs
    * keys sequentially per session (Verify and Bench both do), which
    * this depends on. */
  private def withStatePartitions[T](s: SparkSession)(body: => T): T =
    confSwapLock.synchronized {
      val prev = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", StatePartitions.toString)
      try body finally s.conf.set("spark.sql.shuffle.partitions", prev)
    }

  private val confSwapLock = new Object
}
