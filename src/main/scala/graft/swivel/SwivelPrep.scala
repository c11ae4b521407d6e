package graft.swivel

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Swivel embedding-prep pipeline, re-expressed relationally
  * (SURVEY.md §2.6; semantics follow the published Swivel prep algorithm —
  * arXiv:1602.02215 §2 and its prep.py/fastprep companions; the reference
  * repo `src-d/swivel-spark-prep` distributes exactly this computation on
  * Spark).
  *
  * Pipeline: tokenize → frequency-ranked truncated vocab → windowed
  * 1/d-weighted symmetric co-occurrence counts → marginals → fixed-size
  * shard assignment. All stages are DataFrame→DataFrame and composable;
  * the gated queries bind windowSize=10, minCount=5, shardSize=8.
  *
  * Determinism: co-occurrence weights are Σ_d n_d/d — the per-distance
  * counts n_d are exact integers and the ≤windowSize-term division chain
  * is evaluated in a fixed left-to-right order, so the resulting double is
  * identical under ANY partitioning/aggregation order (no double-sum
  * nondeterminism), in Spark and in the DuckDB oracle alike.
  *
  * Scale posture (100 TB corpus): tokenize is embarrassingly parallel per
  * document; the vocab is the only global structure: one token-count
  * aggregate, filtered on minCount, is collected and ranked on the driver.
  * It holds fewer than vocabSize + shardSize rows, the same bound the
  * vocab broadcast and the `.txt` side files bring to the driver. Pair
  * generation is one doc_id shuffle of in-vocab token ids, then linear
  * work per document (a sorted sliding window — one huge document is one
  * sorted linear-time task, never a quadratic one) whose pairs each task
  * counts per cell in a bounded table. Those partial counts shuffle
  * once more: for `prepare`'s landing on (row_id, col_id), where a hot
  * (Zipfian) row spreads across its column partners; for SwivelMain's
  * `.pb` shards on the row stripe row_id % numShards, one task per
  * stripe, which merges each cell's partial rows in sorted order, writes
  * the stripe's numShards shard files and returns its rows' integer n_k
  * totals, from which the driver computes the marginals
  * (`TfExample.writeSwivelPbShards`). A stripe holds 1/numShards of the
  * cells, and its task sorts them with Spark's spilling sorter.
  */
object SwivelPrep {

  /** (doc_id, pos, token) — whitespace split, 1-based position. */
  def tokenize(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), posexplode(split(col("text"), " ")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"), col("col").as("token"))

  /** Unsigned lexicographic byte order — the order Spark SQL's UTF8String
    * and DuckDB's VARCHAR comparisons both use. JVM String.compareTo
    * (UTF-16 code units) diverges from it for supplementary-plane text
    * (emoji sort before U+E000–U+FFFF in UTF-16 but after in UTF-8), so
    * the rank tie-break must compare UTF-8 bytes to match the oracle. */
  private implicit val utf8Ord: Ordering[Array[Byte]] = (a, b) => {
    var i = 0
    var res = 0
    val n = math.min(a.length, b.length)
    while (res == 0 && i < n) {
      res = (a(i) & 0xff) - (b(i) & 0xff)
      i += 1
    }
    if (res != 0) res else a.length - b.length
  }

  /** The frequency-ranked vocabulary on the driver: the (token, cnt) of
    * every token with count ≥ minCount, ranked by (count DESC, token's
    * UTF-8 bytes ASC) and truncated to the largest multiple of shardSize;
    * a token's id is its index. One token-count aggregate is collected:
    * it holds fewer than vocabSize + shardSize rows, the same bound the
    * vocab broadcast and the `.txt` side files already bring to the
    * driver. */
  def rankVocab(docs: DataFrame, minCount: Int, shardSize: Int): Array[(String, Long)] = {
    import docs.sparkSession.implicits._
    val kept = tokenize(docs).groupBy("token").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
      .as[(String, Long)].collect()
    kept.sortBy { case (t, c) => (-c, t.getBytes(java.nio.charset.StandardCharsets.UTF_8)) }
      .take(kept.length / shardSize * shardSize)
  }

  /** A ranked vocabulary as a local (id, token, cnt) relation. */
  private[swivel] def vocabRelation(spark: SparkSession, ranked: Array[(String, Long)]): DataFrame = {
    import spark.implicits._
    ranked.toSeq.zipWithIndex.map { case ((t, c), i) => (i.toLong, t, c) }
      .toDF("id", "token", "cnt")
  }

  /** Frequency-ranked vocabulary (`rankVocab`) as (id, token, cnt), ids
    * dense in [0, vocabSize): a local relation, so it holds no storage
    * blocks and nothing has to release it. */
  def buildVocab(docs: DataFrame, minCount: Int, shardSize: Int): DataFrame =
    vocabRelation(docs.sparkSession, rankVocab(docs, minCount, shardSize))

  /** Ordered in-window pairs with distance: for every in-vocab token pair
    * in the same document with 0 < d = pos_b − pos_a ≤ windowSize, BOTH
    * orientations (the matrix is symmetric; a self-pair (t,t,d) therefore
    * contributes twice to cell (t,t)).
    * Output: (row_id, col_id, dd).
    *
    * fastprep's sliding window, in linear time per document: one shuffle
    * of (doc_id, pos, id) on doc_id, a sort by (doc_id, pos) within each
    * partition, then `windowPairs` walks each document once. A document is
    * its doc_id (integral, as every corpus reader here makes it): rows
    * sharing one merge by position, and a null doc_id pairs with nothing.
    * Tokens at equal positions never pair.
    */
  def coocPairs(docs: DataFrame, vocab: DataFrame, windowSize: Int): DataFrame = {
    import docs.sparkSession.implicits._
    docTokens(docs, vocab)
      .mapPartitions(rows => windowPairs(windowSize, rows))
      .toDF("row_id", "col_id", "dd")
  }

  /** The in-vocab (doc_id, pos, id) of every token, shuffled on doc_id and
    * sorted by (doc_id, pos) within each partition: the input both pair
    * kernels walk. */
  private def docTokens(docs: DataFrame, vocab: DataFrame): Dataset[(Long, Long, Long)] = {
    import docs.sparkSession.implicits._
    // Out-of-vocab tokens drop at this broadcast join, BEFORE pair
    // generation — order matters for semantics (distances are measured on
    // original positions, but pairs only form between in-vocab tokens).
    tokenize(docs)
      .join(broadcast(vocab.select("token", "id")), "token")
      .where(col("doc_id").isNotNull)
      .select(col("doc_id"), col("pos"), col("id"))
      .repartition(col("doc_id"))
      .sortWithinPartitions("doc_id", "pos")
      .as[(Long, Long, Long)]
  }

  /** fastprep's sliding window over rows sorted by (doc_id, pos): after
    * `push` of a token, the current document's earlier tokens at most `w`
    * positions back sit at [lo, end) of `poss`/`ids`. The deque lives in
    * primitive arrays (a boxed ArrayDeque of tuples measured ~20% slower
    * on the pair pass); `push` compacts them to the front when full and
    * doubles them when more than half is live. */
  private final class Window(w: Int) {
    var poss = new Array[Long](64)
    var ids = new Array[Long](64)
    var lo, end = 0
    private var hi = 0
    private var doc = 0L

    def push(d: Long, p: Long, t: Long): Unit = {
      if (lo == hi || d != doc) { lo = 0; hi = 0; doc = d }
      while (lo < hi && poss(lo) < p - w) lo += 1
      if (hi == poss.length) {
        val live = hi - lo
        if (live * 2 > poss.length) {
          poss = java.util.Arrays.copyOf(poss, poss.length * 2)
          ids = java.util.Arrays.copyOf(ids, ids.length * 2)
        }
        System.arraycopy(poss, lo, poss, 0, live)
        System.arraycopy(ids, lo, ids, 0, live)
        lo = 0; hi = live
      }
      poss(hi) = p; ids(hi) = t; hi += 1
      end = hi - 1
      while (end > lo && poss(end - 1) == p) end -= 1
    }
  }

  /** Both orientations of every in-window pair over `rows` sorted by
    * (doc_id, pos). */
  private def windowPairs(w: Int, rows: Iterator[(Long, Long, Long)])
      : Iterator[(Long, Long, Int)] = new Iterator[(Long, Long, Int)] {
    private val win = new Window(w)
    // the newest token, and the window entries [at, end) it still pairs
    // with; `mirror` marks the (id, y) orientation of entry `at` as due
    private var pos, id = 0L
    private var at, end = 0
    private var mirror = false

    def hasNext: Boolean = {
      while (at >= end && rows.hasNext) {
        val (d, p, t) = rows.next()
        win.push(d, p, t)
        pos = p; id = t; at = win.lo; end = win.end
      }
      at < end
    }

    def next(): (Long, Long, Int) = {
      if (!hasNext) throw new NoSuchElementException
      val y = win.ids(at)
      val dd = (pos - win.poss(at)).toInt
      if (mirror) { mirror = false; at += 1; (id, y, dd) }
      else { mirror = true; (y, id, dd) }
    }
  }

  /** Slots the pair-counting table grows to before it flushes: at
    * W = 10 a slot is 88 bytes, so a full table is 23 MB per task. */
  private val CellSlots = 1 << 18

  /** The window's pairs counted per cell inside the task: an
    * open-addressing table of (row_id, col_id) keys, packed into one long
    * (ids are below vocabSize, an Int), with `w` long counters per key.
    * The table starts at 1024 slots and doubles up to `maxSlots`, kept at
    * most half full; when a token's ≤ 2w pairs might not fit, it flushes
    * every key as a partial (row_id, col_id, n1..nW) row, so memory stays
    * bounded on any partition and a key may come out more than once. */
  private[graft] def countCells(w: Int, rows: Iterator[(Long, Long, Long)],
      maxSlots: Int): Iterator[Row] = new Iterator[Row] {
    require(Integer.bitCount(maxSlots) == 1 && maxSlots >= 8 * w,
      s"maxSlots $maxSlots must be a power of two of at least ${8 * w}")
    private val win = new Window(w)
    private var keys = Array.fill(math.min(1024, maxSlots))(-1L)
    private var counts = new Array[Long](keys.length * w)
    private var live = 0
    private var out: Iterator[Row] = Iterator.empty

    def hasNext: Boolean = {
      while (!out.hasNext && rows.hasNext) {
        while (live + 2 * w <= maxSlots / 2 && rows.hasNext) {
          val (d, p, t) = rows.next()
          win.push(d, p, t)
          var i = win.lo
          while (i < win.end) {
            val y = win.ids(i)
            val k = (p - win.poss(i)).toInt - 1
            add((y << 32) | t, k)
            add((t << 32) | y, k)
            i += 1
          }
        }
        out = flush()
      }
      out.hasNext
    }

    def next(): Row = {
      if (!hasNext) throw new NoSuchElementException
      out.next()
    }

    private def slot(key: Long, ks: Array[Long]): Int = {
      val mask = ks.length - 1
      val h = key * 0x9e3779b97f4a7c15L
      var i = (h ^ (h >>> 32)).toInt & mask
      while (ks(i) != -1L && ks(i) != key) i = (i + 1) & mask
      i
    }

    private def add(key: Long, k: Int): Unit = {
      if (live * 2 >= keys.length && keys.length < maxSlots) grow()
      val i = slot(key, keys)
      if (keys(i) == -1L) { keys(i) = key; live += 1 }
      counts(i * w + k) += 1
    }

    private def grow(): Unit = {
      val (oldKeys, oldCounts) = (keys, counts)
      keys = Array.fill(oldKeys.length * 2)(-1L)
      counts = new Array[Long](keys.length * w)
      for (j <- oldKeys.indices if oldKeys(j) != -1L) {
        val i = slot(oldKeys(j), keys)
        keys(i) = oldKeys(j)
        System.arraycopy(oldCounts, j * w, counts, i * w, w)
      }
    }

    /** Every key as a row, clearing its slot as the row is read. */
    private def flush(): Iterator[Row] = {
      live = 0
      keys.indices.iterator.filter(keys(_) != -1L).map { i =>
        val row = new Array[Any](w + 2)
        row(0) = keys(i) >>> 32
        row(1) = keys(i) & 0xffffffffL
        for (k <- 0 until w) row(k + 2) = counts(i * w + k)
        keys(i) = -1L
        java.util.Arrays.fill(counts, i * w, i * w + w, 0L)
        new GenericRow(row)
      }
    }
  }

  /** Exact integer per-distance counts n1..nW grouped by `keys`: counted
    * from the `dd` column of a pair relation, or summed from the n_k
    * columns of a counts relation (integer sums, so any grouping order
    * lands the same totals). */
  private def distanceCounts(df: DataFrame, windowSize: Int, keys: String*): DataFrame = {
    val fromPairs = df.columns.contains("dd")
    val n = (1 to windowSize).map(k =>
      (if (fromPairs) sum(when(col("dd") === k, 1L).otherwise(0L)) else sum(col(s"n$k")))
        .as(s"n$k"))
    df.groupBy(keys.map(col): _*).agg(n.head, n.tail: _*)
  }

  /** Fixed-order left-to-right Σ_k term(n_k, k) over the count columns —
    * see the determinism note in the object scaladoc. */
  private def fromCounts(windowSize: Int)(term: (Column, Int) => Column): Column =
    (1 to windowSize).map(k => term(col(s"n$k"), k)).reduceLeft(_ + _)

  /** Σ_k n_k/k rounded 4dp at the boundary. */
  private def weight(windowSize: Int): Column =
    round(fromCounts(windowSize)((n, k) => n / lit(k.toDouble)), 4)

  /** `weight` in Scala, over n_1..n_w at `n(from)`..`n(from + w - 1)`:
    * the same left-to-right double sum of n_k/k, then Spark's `round(_, 4)`
    * on a double (HALF_UP on its shortest decimal form, which is what
    * `BigDecimal.valueOf` reads). The `.pb` stripe tasks weigh cells with
    * it and the driver weighs the marginals; PropertySpec pins it to
    * `cellsFromCounts` and `marginalsFromCounts` bit for bit. */
  private[graft] def cellWeight(n: Array[Long], from: Int, w: Int): Double = {
    var sum = n(from).toDouble
    var k = 2
    while (k <= w) {
      sum += n(from + k - 1).toDouble / k
      k += 1
    }
    java.math.BigDecimal.valueOf(sum).setScale(4, java.math.RoundingMode.HALF_UP).doubleValue
  }

  /** Per-cell pair counts: (row_id, col_id, n1..nW), n_k the number of
    * in-window co-occurrences at distance k. Every other Swivel relation
    * (cells, marginals, shards) derives from these exact integers, so
    * `prepare` lands them once and every consumer reads that landing.
    * One sum per n_k merges the pair tasks' `partialCounts`. */
  def cellCounts(docs: DataFrame, vocab: DataFrame, windowSize: Int): DataFrame =
    cellCounts(docs, vocab, windowSize, CellSlots)

  private[graft] def cellCounts(docs: DataFrame, vocab: DataFrame, windowSize: Int,
      maxSlots: Int): DataFrame =
    distanceCounts(partialCounts(docs, vocab, windowSize, maxSlots), windowSize,
      "row_id", "col_id")

  /** The pair pass's own output: each pair task counts its cells
    * (`countCells`) into (row_id, col_id, n1..nW) rows, so a cell's counts
    * may be split over several rows, from several tasks or flushes; their
    * integer sums are `cellCounts`. */
  private[graft] def partialCounts(docs: DataFrame, vocab: DataFrame, windowSize: Int,
      maxSlots: Int = CellSlots): DataFrame = {
    val schema = StructType(("row_id" +: "col_id" +: (1 to windowSize).map(k => s"n$k"))
      .map(StructField(_, LongType, nullable = false)))
    docTokens(docs, vocab)
      .mapPartitions(rows => countCells(windowSize, rows, maxSlots))(Encoders.row(schema))
  }

  /** Co-occurrence cells from `cellCounts`: (row_id, col_id, weight). */
  def cellsFromCounts(counts: DataFrame, windowSize: Int): DataFrame =
    counts.select(col("row_id"), col("col_id"), weight(windowSize).as("weight"))

  /** Row sums of the (symmetric) co-occurrence matrix per token id from
    * `cellCounts` (or straight from `coocPairs`): the per-row integer
    * totals of each n_k, then the same fixed-order weight, so marginals
    * sum the UNROUNDED cell weights. */
  def marginalsFromCounts(counts: DataFrame, windowSize: Int): DataFrame =
    distanceCounts(counts, windowSize, "row_id")
      .select(col("row_id").as("id"), weight(windowSize).as("marginal"))

  /** Co-occurrence cells: (row_id, col_id, weight) with weight = Σ 1/d
    * over all in-window co-occurrences, rounded 4dp at the boundary. */
  def cooc(docs: DataFrame, vocab: DataFrame, windowSize: Int): DataFrame =
    cellsFromCounts(cellCounts(docs, vocab, windowSize), windowSize)

  /** Skew-hardened variant: Zipfian corpora make the hot tokens' cells
    * (e.g. (the,the)) receive a large share of all pairs, so a single
    * reducer per hot cell can bottleneck even with AQE skew handling.
    * Two-level aggregation: salt the groupBy key with a per-row bucket,
    * partially count per (cell, salt), then merge the integer n_d counts —
    * exact integer sums, so the final fixed-order weight is bit-identical
    * to `cooc`. Salting costs one extra (tiny, cell-level) shuffle; use
    * when the corpus is known to be heavily skewed.
    */
  def coocSalted(docs: DataFrame, vocab: DataFrame, windowSize: Int,
      saltBuckets: Int = 64): DataFrame = {
    val salted = coocPairs(docs, vocab, windowSize)
      .withColumn("salt", pmod(hash(col("row_id"), col("col_id"), monotonically_increasing_id()), lit(saltBuckets)))
    val partials = distanceCounts(salted, windowSize, "row_id", "col_id", "salt")
    cellsFromCounts(distanceCounts(partials, windowSize, "row_id", "col_id"), windowSize)
  }

  /** Positive-PMI report over the co-occurrence matrix — the quantity
    * Swivel's training objective approximates, surfaced as a gated
    * relation with EVERY step exact: the Σ n_d/d cell weight is rescaled
    * by LCM(1..windowSize) into an exact integer (Σ n_d · (L/d) — no
    * double ever forms), marginals and the matrix total are integer
    * sums of those, and the PMI ratio x_ij·T / (x_i·x_j) is carried in
    * micro-units through a DECIMAL(38,0) product with an integral `div`
    * (the 128-bit-safe path: x_ij·T·10⁶ overflows BIGINT on hub cells).
    * log() never runs — monotone in the ratio, so ranking by ratio IS
    * ranking by PMI and the emitted integer is engine-identical.
    *
    * Scale: over the `cellCounts` cells, a vocab-bounded marginal
    * groupBy, a 1-row total broadcast, two vocab-bounded marginal joins
    * onto the cell relation, top-k per-partition heaps. */
  def pmiCells(counts: DataFrame, windowSize: Int, minScaled: Long, topK: Int): DataFrame = {
    val lcm = (1 to windowSize).foldLeft(1L)((a, k) =>
      a * k / BigInt(a).gcd(BigInt(k)).toLong)
    val cells = counts.select(col("row_id"), col("col_id"),
      fromCounts(windowSize)((n, k) => n * lit(lcm / k)).as("sw"))
    val marg = cells.groupBy("row_id").agg(sum(col("sw")).as("smi"))
    val tot = cells.agg(sum(col("sw")).as("st"))
    cells
      .join(marg, "row_id")
      .join(marg.select(col("row_id").as("col_id"), col("smi").as("smj")),
        "col_id")
      .crossJoin(broadcast(tot))
      .filter(col("sw") >= minScaled)
      .select(col("row_id"), col("col_id"), col("sw"),
        expr("CAST(sw AS DECIMAL(38,0)) * CAST(st AS DECIMAL(38,0)) * 1000000" +
          " div (CAST(smi AS DECIMAL(38,0)) * CAST(smj AS DECIMAL(38,0)))")
          .as("ratio_ppm"))
      .orderBy(col("ratio_ppm").desc, col("row_id"), col("col_id"))
      .limit(topK)
  }

  /** Row sums of the (symmetric) co-occurrence matrix per token id,
    * aggregated straight from the pair relation. */
  def marginals(docs: DataFrame, vocab: DataFrame, windowSize: Int): DataFrame =
    marginalsFromCounts(coocPairs(docs, vocab, windowSize), windowSize)

  /** Shard assignment: row_shard = id % numShards, local index
    * id / numShards, with numShards = vocabSize / shardSize (vocabSize is
    * a multiple of shardSize by construction). The 1-row numShards scalar
    * broadcasts. */
  def shard(coocCells: DataFrame, vocab: DataFrame, shardSize: Int): DataFrame =
    shardBy(coocCells.crossJoin(broadcast(
      vocab.agg((count(lit(1)) / shardSize).cast("long").as("num_shards")))))

  /** `shard` over cells that carry their long `num_shards` column. */
  private def shardBy(cells: DataFrame): DataFrame =
    cells.select(
      (col("row_id") % col("num_shards")).as("row_shard"),
      (col("col_id") % col("num_shards")).as("col_shard"),
      expr("row_id div num_shards").as("local_row"),
      expr("col_id div num_shards").as("local_col"),
      col("row_id").as("global_row"),
      col("col_id").as("global_col"),
      col("weight"))

  /** Swivel prep landed once: the ranked vocab's tokens in id order, the
    * vocab relation and the per-cell distance counts of the one pair pass.
    * The cells, the marginals and the shards all derive from `counts`;
    * the sizes are driver facts, so no derived relation runs a job to
    * learn them. */
  final case class Prepared(tokens: IndexedSeq[String], vocab: DataFrame, counts: DataFrame,
      windowSize: Int, shardSize: Int) {
    def vocabSize: Int = tokens.length
    def numShards: Int = vocabSize / shardSize
    lazy val cells: DataFrame = cellsFromCounts(counts, windowSize)
    lazy val marginals: DataFrame = marginalsFromCounts(counts, windowSize)
    lazy val shards: DataFrame = shardBy(cells.withColumn("num_shards", lit(numShards.toLong)))
  }

  /** The vocab of `ranked` (from `rankVocab`), then the cell counts over
    * it landed with an eager local checkpoint, whose storage blocks stay
    * until the caller releases them or its session stops. */
  def prepare(docs: DataFrame, ranked: Array[(String, Long)], shardSize: Int,
      windowSize: Int): Prepared = {
    val vocab = vocabRelation(docs.sparkSession, ranked)
    Prepared(ranked.map(_._1).toIndexedSeq, vocab,
      cellCounts(docs, vocab, windowSize).localCheckpoint(), windowSize, shardSize)
  }
}
