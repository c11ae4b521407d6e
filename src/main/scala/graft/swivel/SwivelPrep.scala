package graft.swivel

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

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
  * document; the vocab is the only global structure and is bounded by
  * truncation (broadcast-joined, never collected); pair generation is one
  * doc_id shuffle of in-vocab token ids, then linear work per document (a
  * sorted sliding window — one huge document is one sorted linear-time
  * task, never a quadratic one); cooc cells shuffle once on
  * (row_id, col_id); sharding is a pure projection. Hot (Zipfian) tokens
  * skew the cooc shuffle — AQE skew-join handles it, and the groupBy key
  * (row_id, col_id) already spreads a hot row across its column partners.
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

  /** Frequency-ranked vocabulary: keep count ≥ minCount, rank by
    * (count DESC, token ASC), truncate to the largest multiple of
    * shardSize; ids dense in [0, vocabSize).
    *
    * Ranking is a distributed range-partitioned sort + zipWithIndex — a
    * deliberate RDD drop-down: a global `row_number()` window would pull
    * every surviving token into ONE partition, which dies at 100 TB corpus
    * scale (10⁷–10⁸ distinct tokens pre-truncation), while zipWithIndex
    * assigns the identical dense ranks from per-partition offsets. Output
    * ids are byte-identical to the window formulation ((count DESC,
    * token ASC) is a total order).
    */
  def buildVocab(docs: DataFrame, minCount: Int, shardSize: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // The token-count relation has three consumers (the truncation count,
    // the sortBy sample pass, the sort shuffle): persist it so the corpus
    // is tokenized exactly ONCE — at 100 TB each extra evaluation is a
    // full corpus scan. The returned vocab is materialized with an eager
    // localCheckpoint (bounded by truncation — the same structure the
    // reference writes out as a vocab file), so the counts cache can be
    // released before returning: no unbounded storage blocks outlive the
    // call, and the caller's DataFrame never re-executes the corpus scan.
    val counts = tokenize(docs).groupBy("token").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
      .persist()
    try {
      val total = counts.count()
      val keep = (total / shardSize) * shardSize
      counts.select(col("token"), col("cnt")).as[(String, Long)].rdd
        .sortBy({ case (t, c) =>
          (-c, t.getBytes(java.nio.charset.StandardCharsets.UTF_8)) })
        .zipWithIndex()
        .collect { case ((t, c), i) if i < keep => (i, t, c) }
        .toDF("id", "token", "cnt")
        .localCheckpoint()
    } finally counts.unpersist(blocking = false)
  }

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
      .mapPartitions(rows => windowPairs(windowSize, rows))
      .toDF("row_id", "col_id", "dd")
  }

  /** Both orientations of every in-window pair over `rows` sorted by
    * (doc_id, pos): each token pairs with the current document's earlier
    * tokens at most `w` positions back, held in a deque that drops entries
    * as the window slides past them. */
  private def windowPairs(w: Int, rows: Iterator[(Long, Long, Long)])
      : Iterator[(Long, Long, Int)] = new Iterator[(Long, Long, Int)] {
    // the deque: (pos, id) of the current document's tokens in [lo, hi),
    // in primitive arrays (a boxed ArrayDeque of tuples measured ~20%
    // slower on the pair pass); `slide` compacts them to the front when
    // full and doubles them when more than half is live
    private var poss = new Array[Long](64)
    private var ids = new Array[Long](64)
    private var lo, hi = 0
    private var doc = 0L
    // the newest token, and the deque entries [at, end) it still pairs
    // with; `mirror` marks the (id, y) orientation of entry `at` as due
    private var pos, id = 0L
    private var at, end = 0
    private var mirror = false

    def hasNext: Boolean = {
      while (at >= end && rows.hasNext) slide()
      at < end
    }

    def next(): (Long, Long, Int) = {
      if (!hasNext) throw new NoSuchElementException
      val y = ids(at)
      val dd = (pos - poss(at)).toInt
      if (mirror) { mirror = false; at += 1; (id, y, dd) }
      else { mirror = true; (y, id, dd) }
    }

    private def slide(): Unit = {
      val (d, p, t) = rows.next()
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
      pos = p; id = t
      at = lo; end = hi - 1
      while (end > lo && poss(end - 1) == p) end -= 1
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

  /** Per-cell pair counts: (row_id, col_id, n1..nW), n_k the number of
    * in-window co-occurrences at distance k. Every other Swivel relation
    * (cells, marginals, shards) derives from these exact integers, so
    * `prepare` lands them once and every consumer reads that landing. */
  def cellCounts(docs: DataFrame, vocab: DataFrame, windowSize: Int): DataFrame =
    distanceCounts(coocPairs(docs, vocab, windowSize), windowSize, "row_id", "col_id")

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
  def shard(coocCells: DataFrame, vocab: DataFrame, shardSize: Int): DataFrame = {
    val ns = vocab.agg((count(lit(1)) / shardSize).cast("long").as("num_shards"))
    coocCells.crossJoin(broadcast(ns))
      .select(
        (col("row_id") % col("num_shards")).as("row_shard"),
        (col("col_id") % col("num_shards")).as("col_shard"),
        expr("row_id div num_shards").as("local_row"),
        expr("col_id div num_shards").as("local_col"),
        col("row_id").as("global_row"),
        col("col_id").as("global_col"),
        col("weight"))
  }

  /** Swivel prep landed once: the vocab, its size and the per-cell
    * distance counts of the one pair pass. The cells, the marginals and
    * the shards all derive from `counts`. */
  final case class Prepared(vocab: DataFrame, vocabSize: Int, counts: DataFrame,
      windowSize: Int, shardSize: Int) {
    def numShards: Int = vocabSize / shardSize
    lazy val cells: DataFrame = cellsFromCounts(counts, windowSize)
    lazy val marginals: DataFrame = marginalsFromCounts(counts, windowSize)
    lazy val shards: DataFrame = shard(cells, vocab, shardSize)
  }

  /** The vocab (landed by `buildVocab`), its size, then the cell counts
    * landed with an eager local checkpoint. Both landings hold storage
    * blocks until the caller releases them or its session stops. */
  def prepare(docs: DataFrame, minCount: Int, shardSize: Int, windowSize: Int): Prepared = {
    val vocab = buildVocab(docs, minCount, shardSize)
    val vocabSize = vocab.count().toInt
    Prepared(vocab, vocabSize, cellCounts(docs, vocab, windowSize).localCheckpoint(),
      windowSize, shardSize)
  }
}
