package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Multimodal-column plumbing (NORTH-STAR surface): opaque `binary`
  * payloads with typed metadata, decoded/feature-extracted via a
  * partition-iterator transform — the Scala analog of a Pandas-UDF
  * `mapInPandas` stage.
  *
  * The actual image/audio decode is STUBBED (no codec libraries in this
  * environment): `decodeStub` derives deterministic fake
  * width/height/format/features from the payload bytes. Everything around
  * it — the binary column, the schema, the per-partition batch iteration,
  * the downstream relational joins — is real and is what matters at
  * scale: payloads stay opaque byte arrays end-to-end (no row-by-row JVM
  * object churn), decode parallelism is partition-level, and metadata
  * lands in ordinary columns Catalyst can prune and filter on.
  */
object Multimodal {

  /** Attach a deterministic synthetic binary payload per document (md5 of
    * the text, as 16 raw bytes) — the stand-in for a real image/audio
    * blob column read from storage. */
  def withPayload(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"), unhex(md5(col("text"))).as("payload"))

  /** Decoded-media metadata row. */
  case class MediaMeta(doc_id: Long, width: Int, height: Int, fmt: String, feat0: Double)

  /** Partition-iterator decode stub: real decoders (JPEG/PNG/audio frames)
    * would run here, batched per partition; the fake derives metadata from
    * the payload bytes deterministically. ??? → replace with codec calls.
    */
  def decodeStub(payloads: DataFrame)(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    payloads.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, b) =>
          val w = 64 + (b(0) & 0x7f)
          val h = 64 + (b(1) & 0x7f)
          val fmt = (b(2) & 0xff) % 3 match {
            case 0 => "jpeg"; case 1 => "png"; case _ => "webp"
          }
          // fake feature: first payload byte scaled to [0,1), 4dp
          val feat0 = math.round(((b(3) & 0xff) / 256.0) * 10000.0) / 10000.0
          MediaMeta(id, w, h, fmt, feat0)
        }
      }.toDF()
  }

  val multimodalDecode = QueryDef(
    "multimodal_decode",
    // Oracle: the payload is unhex(md5(text)), so byte k of the blob IS
    // hex chars 2k+1..2k+2 of md5(text) — DuckDB recomputes the stub's
    // byte arithmetic from the hex string (md5 is bit-identical across
    // engines). b % 128 == b & 0x7f and b % 3 match the stub's masks
    // because the hex parse yields the UNSIGNED byte value (the Scala
    // side masks its signed bytes with & 0xff / & 0x7f for the same
    // reason). feat0: k/256.0 is an exact binary double, and both
    // engines round half away from zero for positives, so round(·, 4)
    // equals the stub's math.round(x * 10000) / 10000. The mapPartitions
    // iterator stays the Spark-side decode surface — the oracle checks
    // its OUTPUT, proving the plumbing end-to-end.
    """WITH b AS (
      |  SELECT doc_id, lang,
      |    CAST('0x' || substr(md5(text), 1, 2) AS INTEGER) AS b0,
      |    CAST('0x' || substr(md5(text), 3, 2) AS INTEGER) AS b1,
      |    CAST('0x' || substr(md5(text), 5, 2) AS INTEGER) AS b2,
      |    CAST('0x' || substr(md5(text), 7, 2) AS INTEGER) AS b3
      |  FROM documents
      |)
      |SELECT doc_id, lang,
      |  64 + (b0 % 128) AS width,
      |  64 + (b1 % 128) AS height,
      |  CASE b2 % 3 WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png' ELSE 'webp' END AS fmt,
      |  round(b3 / 256.0, 4) AS feat0
      |FROM b ORDER BY doc_id LIMIT 200""".stripMargin) { (s, d) =>
    implicit val spark: SparkSession = s
    val docs = Tables.documents(s, d)
    decodeStub(withPayload(docs))
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .select(col("doc_id"), col("lang"), col("width"), col("height"),
        col("fmt"), col("feat0"))
      .orderBy("doc_id")
      .limit(200)
  }

  /** One sampled frame: index within the payload, 16-bit intensity,
    * fake 25fps timeline position. */
  case class FrameSample(doc_id: Long, frame_idx: Int, intensity: Int, ts_ms: Int)

  /** Partition-iterator FRAME-SAMPLING stub — the video analog of
    * `decodeStub`: treat the 16-byte payload as 8 two-byte frames and
    * emit every `stride`-th one (a real sampler would seek keyframes in
    * the container here; the plumbing — flatMap fan-out per payload,
    * partition-level parallelism, typed frame rows Catalyst can prune —
    * is the part that matters at scale, where sampling fans one blob row
    * out to many frame rows WITHOUT materializing unsampled frames).
    */
  def frameSampleStub(payloads: DataFrame, stride: Int = 3)(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    payloads.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, b) =>
          (0 until 8 by stride).map { f =>
            val intensity = ((b(2 * f) & 0xff) << 8) | (b(2 * f + 1) & 0xff)
            FrameSample(id, f, intensity, f * 40)
          }
        }
      }.toDF()
  }

  val multimodalFramesample = QueryDef(
    "multimodal_framesample",
    // Oracle: frame f's two payload bytes are hex chars 4f+1..4f+4 of
    // md5(text), so the 16-bit big-endian intensity is one hex parse;
    // the stride-3 sample of 8 frames is the fixed list [0,3,6]. All
    // emitted columns are exact integers — no float surface at all.
    """WITH f AS (
      |  SELECT doc_id, unnest([0, 3, 6]) AS frame_idx, md5(text) AS h
      |  FROM documents WHERE doc_id % 7 = 0
      |)
      |SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx,
      |       CAST('0x' || substr(h, 4 * frame_idx + 1, 4) AS INTEGER) AS intensity,
      |       CAST(frame_idx * 40 AS INTEGER) AS ts_ms
      |FROM f ORDER BY doc_id, frame_idx LIMIT 600""".stripMargin) { (s, d) =>
    implicit val spark: SparkSession = s
    frameSampleStub(withPayload(Tables.documents(s, d)
      .filter(col("doc_id") % 7 === 0)))
      .orderBy("doc_id", "frame_idx")
      .limit(600)
  }

  /** One resized thumbnail row: 4 "pixels", each the integer mean of 4
    * consecutive payload bytes. */
  case class Thumb(doc_id: Long, out_w: Int, out_h: Int,
      p0: Int, p1: Int, p2: Int, p3: Int)

  /** Partition-iterator RESIZE stub — the image analog of `decodeStub`:
    * treat the 16-byte payload as a 4×4 grayscale image and box-downsample
    * to 2×2 (each output pixel = integer mean of a 4-byte block; a real
    * resizer would run its kernel here). Downsampling inside the decode
    * stage is the scale property: the full-resolution pixels never leave
    * the iterator, only the thumbnail lands in columns. */
  def resizeStub(payloads: DataFrame)(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    payloads.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, b) =>
          def px(p: Int): Int =
            (0 until 4).map(i => b(4 * p + i) & 0xff).sum / 4
          Thumb(id, 2, 2, px(0), px(1), px(2), px(3))
        }
      }.toDF()
  }

  val multimodalResize = QueryDef(
    "multimodal_resize",
    // Oracle: output pixel p averages payload bytes 4p..4p+3 = hex chars
    // 8p+1..8p+8 of md5(text), integer-div 4 — exact integers end-to-end.
    {
      val px = (0 until 4).map { p =>
        val bytes = (0 until 4).map(i =>
          s"CAST('0x' || substr(h, ${8 * p + 2 * i + 1}, 2) AS INTEGER)").mkString(" + ")
        s"CAST(($bytes) // 4 AS INTEGER) AS p$p"
      }.mkString(",\n      |       ")
      s"""WITH b AS (
      |  SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 5 = 0
      |)
      |SELECT doc_id, CAST(2 AS INTEGER) AS out_w, CAST(2 AS INTEGER) AS out_h,
      |       $px
      |FROM b ORDER BY doc_id LIMIT 300""".stripMargin
    }) { (s, d) =>
    implicit val spark: SparkSession = s
    resizeStub(withPayload(Tables.documents(s, d).filter(col("doc_id") % 5 === 0)))
      .orderBy("doc_id")
      .limit(300)
  }

  /** Per-payload feature vector: byte min/max/range, total mass, and
    * "edge energy" (sum of absolute consecutive-byte differences) — all
    * exact integers. */
  case class MediaFeatures(doc_id: Long, b_min: Int, b_max: Int,
      b_range: Int, b_sum: Int, edge_energy: Int)

  /** Partition-iterator FEATURE-EXTRACT stub — where a real embedding /
    * signal-statistics model would run, batched per partition; the fake
    * computes deterministic integer statistics over the payload bytes.
    * Features are a fixed-width projection of an opaque blob: the blob
    * stays in the iterator, the features land in prunable columns. */
  def featureStub(payloads: DataFrame)(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    payloads.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, b) =>
          val u = b.map(_ & 0xff)
          val edge = (1 until u.length).map(i => math.abs(u(i) - u(i - 1))).sum
          MediaFeatures(id, u.min, u.max, u.max - u.min, u.sum, edge)
        }
      }.toDF()
  }

  val multimodalFeatures = QueryDef(
    "multimodal_features",
    // Oracle: all five statistics recomputed from the 16 md5 hex bytes
    // with least/greatest/abs over INTEGER — no float surface.
    {
      val bytes = (0 until 16).map(i =>
        s"CAST('0x' || substr(md5(text), ${2 * i + 1}, 2) AS INTEGER) AS b$i").mkString(",\n      |    ")
      val bs = (0 until 16).map(i => s"b$i")
      val edge = (1 until 16).map(i => s"abs(b${i} - b${i - 1})").mkString(" + ")
      s"""WITH b AS (
      |  SELECT doc_id,
      |    $bytes
      |  FROM documents WHERE doc_id % 3 = 0
      |)
      |SELECT doc_id,
      |  CAST(least(${bs.mkString(", ")}) AS INTEGER) AS b_min,
      |  CAST(greatest(${bs.mkString(", ")}) AS INTEGER) AS b_max,
      |  CAST(greatest(${bs.mkString(", ")}) - least(${bs.mkString(", ")}) AS INTEGER) AS b_range,
      |  CAST(${bs.mkString(" + ")} AS INTEGER) AS b_sum,
      |  CAST($edge AS INTEGER) AS edge_energy
      |FROM b ORDER BY doc_id LIMIT 400""".stripMargin
    }) { (s, d) =>
    implicit val spark: SparkSession = s
    featureStub(withPayload(Tables.documents(s, d).filter(col("doc_id") % 3 === 0)))
      .orderBy("doc_id")
      .limit(400)
  }

  /** Per-payload perceptual hash row. */
  case class PHash(doc_id: Long, phash: Long)

  /** Partition-iterator AVERAGE-HASH stub — the perceptual-dedup decode
    * surface: bit k of the hash is "byte k above the payload mean"
    * (`b_k·16 > Σb` — integer-exact, no division), packed into a 16-bit
    * hash. A real aHash thresholds the 8×8 downsampled luma against its
    * mean — identical structure, 64 bits; the blob never leaves the
    * iterator, only the fixed-width hash lands. */
  def aHashStub(payloads: DataFrame)(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    payloads.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, b) =>
          val u = b.map(_ & 0xff)
          val s = u.sum
          val h = u.zipWithIndex.foldLeft(0L) { case (acc, (v, k)) =>
            if (v * 16 > s) acc | (1L << k) else acc
          }
          PHash(id, h)
        }
      }.toDF()
  }

  /** Perceptual-hash image dedup — dedup_exact's shape lifted onto the
    * multimodal decode surface: hash in the iterator, then ONE linear
    * groupBy on the hash picks each bucket's min-id keeper (identical
    * payloads — the planted exact-copy docs — always collide, the aHash
    * guarantee for identical images). Near-dup at scale is the
    * dedup_simhash_near machinery verbatim: 4×16-bit Hamming bands over
    * the 64-bit production hash. Oracle recomputes the threshold bits
    * from the md5 hex bytes — exact integers end-to-end. */
  val multimodalDedup = QueryDef(
    "multimodal_dedup",
    {
      val bytes = (0 until 16).map(i =>
        s"CAST('0x' || substr(md5(text), ${2 * i + 1}, 2) AS INTEGER) AS b$i").mkString(",\n      |    ")
      val bs = (0 until 16).map(i => s"b$i")
      val hash = (0 until 16).map(i =>
        s"(CASE WHEN b$i * 16 > s THEN ${1L << i} ELSE 0 END)").mkString(" + ")
      s"""WITH b AS (
      |  SELECT doc_id,
      |    $bytes
      |  FROM documents
      |), p AS (
      |  SELECT doc_id, CAST($hash AS BIGINT) AS phash
      |  FROM (SELECT *, ${bs.mkString(" + ")} AS s FROM b)
      |), k AS (
      |  SELECT phash, min(doc_id) AS keeper FROM p GROUP BY phash
      |)
      |SELECT p.doc_id, p.phash, k.keeper, k.keeper < p.doc_id AS is_dup
      |FROM p JOIN k ON p.phash = k.phash
      |ORDER BY p.doc_id LIMIT 500""".stripMargin
    }) { (s, d) =>
    implicit val spark: SparkSession = s
    val ph = aHashStub(withPayload(Tables.documents(s, d)))
    val keepers = ph.groupBy("phash").agg(min(col("doc_id")).as("keeper"))
    ph.join(keepers, "phash")
      .select(col("doc_id"), col("phash"), col("keeper"),
        (col("keeper") < col("doc_id")).as("is_dup"))
      .orderBy("doc_id")
      .limit(500)
  }

  /** One audio analysis window: index, exact integer energy (sum of
    * squared signed samples), silence flag. */
  case class AudioWindow(doc_id: Long, win_idx: Int, energy: Long,
      silent: Boolean)

  /** Partition-iterator AUDIO-ENERGY stub — the audio member of the
    * decode family (decode = image metadata, framesample = video,
    * resize = image kernel, THIS = PCM frame analysis): treat the
    * 16-byte payload as 8 signed 16-bit big-endian PCM samples
    * (two's complement — 0x0000 decodes to 0, 0x8000 to −32768, the
    * standard s16be wire layout), compute per-window (2 samples) energy
    * as the EXACT integer sum of squares — the measure a real
    * silence/VAD detector thresholds, with the sqrt/RMS deliberately
    * left off so no float ever forms — and flag windows under the
    * threshold as silence. A real decoder would seek PCM frames in the
    * container here; the fan-out of one blob row into typed window rows
    * without materializing the raw samples is the part that matters at
    * scale. */
  def audioEnergyStub(payloads: DataFrame, silenceBelow: Long = 100000000L)(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    payloads.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, b) =>
          (0 until 4).map { w =>
            def sample(s: Int): Long =
              (((b(2 * s) & 0xff) << 8) | (b(2 * s + 1) & 0xff)).toShort.toLong
            val v0 = sample(2 * w); val v1 = sample(2 * w + 1)
            val energy = v0 * v0 + v1 * v1
            AudioWindow(id, w, energy, energy < silenceBelow)
          }
        }
      }.toDF()
  }

  /** DuckDB twin of `audioEnergyStub`'s sample parse over every 5th
    * document: windows `f`, raw halves `r`, signed samples `v`. */
  private val audioSamplesCte =
    """WITH f AS (
      |  SELECT doc_id, unnest([0, 1, 2, 3]) AS win_idx, md5(text) AS h
      |  FROM documents WHERE doc_id % 5 = 0
      |), r AS (
      |  SELECT doc_id, win_idx,
      |    CAST(CAST('0x' || substr(h, 8 * win_idx + 1, 4) AS INT) AS BIGINT) AS r0,
      |    CAST(CAST('0x' || substr(h, 8 * win_idx + 5, 4) AS INT) AS BIGINT) AS r1
      |  FROM f
      |), v AS (
      |  SELECT doc_id, win_idx,
      |    CASE WHEN r0 >= 32768 THEN r0 - 65536 ELSE r0 END AS v0,
      |    CASE WHEN r1 >= 32768 THEN r1 - 65536 ELSE r1 END AS v1
      |  FROM r
      |)""".stripMargin

  val multimodalAudioEnergy = QueryDef(
    "multimodal_audio_energy",
    // Oracle: sample s is the 16-bit big-endian TWO'S-COMPLEMENT parse
    // of hex chars 4s+1..4s+4 of md5(text) (raw >= 32768 wraps to
    // raw - 65536); window w covers samples 2w, 2w+1. Energy is an
    // exact BIGINT in both engines; the silence branch is live at every
    // SF (uniform md5 samples put ~4-5% of windows under the
    // threshold).
    s"""$audioSamplesCte
       |SELECT doc_id, CAST(win_idx AS INTEGER) AS win_idx,
      |       CAST(v0 * v0 + v1 * v1 AS BIGINT) AS energy,
      |       (v0 * v0 + v1 * v1 < 100000000) AS silent
      |FROM v ORDER BY doc_id, win_idx LIMIT 600""".stripMargin) { (s, d) =>
    implicit val spark: SparkSession = s
    audioEnergyStub(withPayload(Tables.documents(s, d)
      .filter(col("doc_id") % 5 === 0)))
      .orderBy("doc_id", "win_idx")
      .limit(600)
  }

  /** One scene-boundary candidate: frame index, exact integer distance
    * to the previous frame, cut flag. */
  case class SceneCut(doc_id: Long, frame_idx: Int, diff: Long, is_cut: Boolean)

  /** Partition-iterator SCENE-CUT stub — the video ANALYSIS member of
    * the decode family (framesample emits frames; THIS detects
    * boundaries between them): treat the 16-byte payload as 8 two-byte
    * frame intensities (the framesample wire convention) and flag a cut
    * wherever the inter-frame absolute difference STRICTLY exceeds the
    * threshold — the exact-integer skeleton of the frame-difference /
    * perceptual-hash-distance detectors real shot-boundary pipelines
    * run. A real decoder would compare downsampled luma histograms or
    * frame pHashes here; the shape that matters at scale is identical:
    * one blob row fans out to per-boundary rows inside the iterator,
    * full frames never land in columns. */
  def sceneCutStub(payloads: DataFrame, cutAbove: Long = 30000L)(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    payloads.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, b) =>
          def intensity(f: Int): Long =
            (((b(2 * f) & 0xff) << 8) | (b(2 * f + 1) & 0xff)).toLong
          (1 until 8).map { f =>
            val diff = math.abs(intensity(f) - intensity(f - 1))
            SceneCut(id, f, diff, diff > cutAbove)
          }
        }
      }.toDF()
  }

  val multimodalScenecut = QueryDef(
    "multimodal_scenecut",
    // Oracle: frame f's unsigned 16-bit big-endian intensity is hex
    // chars 4f+1..4f+4 of md5(text); the boundary row at f compares
    // frames f and f-1. Exact integers end-to-end; uniform md5 frames
    // put ~29% of boundaries over the threshold, so both branches are
    // live at every SF.
    """WITH f AS (
      |  SELECT doc_id, unnest([1, 2, 3, 4, 5, 6, 7]) AS frame_idx,
      |         md5(text) AS h
      |  FROM documents WHERE doc_id % 6 = 0
      |), v AS (
      |  SELECT doc_id, frame_idx,
      |    CAST(CAST('0x' || substr(h, 4 * frame_idx + 1, 4) AS INT) AS BIGINT) AS cur,
      |    CAST(CAST('0x' || substr(h, 4 * (frame_idx - 1) + 1, 4) AS INT) AS BIGINT) AS prev
      |  FROM f
      |)
      |SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx,
      |       CAST(abs(cur - prev) AS BIGINT) AS diff,
      |       (abs(cur - prev) > 30000) AS is_cut
      |FROM v ORDER BY doc_id, frame_idx LIMIT 700""".stripMargin) { (s, d) =>
    implicit val spark: SparkSession = s
    sceneCutStub(withPayload(Tables.documents(s, d)
      .filter(col("doc_id") % 6 === 0)))
      .orderBy("doc_id", "frame_idx")
      .limit(700)
  }

  /** Silence TRIMMING over the audio-energy windows — the edit decision
    * a speech pipeline derives from the VAD pass (`audioEnergyStub` is
    * the detector; THIS is what a preprocessor does with it): per clip,
    * the first and last voiced window, the silent-window count, and the
    * kept-span length after trimming leading/trailing silence. The
    * threshold is RAISED vs the energy key (6e8 ≈ the mean window
    * energy of uniform samples) so roughly a third of windows are
    * silent and whole-clip silence occurs naturally — both the trim
    * arithmetic and the all-silent null branch stay live. One
    * combinable per-clip aggregate over the iterator-side window
    * fan-out; conditional min/max carry the span — no window function,
    * no second pass. */
  val multimodalSilenceTrim = QueryDef(
    "multimodal_silence_trim",
    // Oracle: the audio-energy sample parse (two's-complement 16-bit
    // big-endian halves of md5(text)), aggregated per clip with the
    // 600000000 trim threshold.
    s"""$audioSamplesCte, w AS (
      |  SELECT doc_id, win_idx,
      |         (v0 * v0 + v1 * v1 < 600000000) AS silent
      |  FROM v
      |)
      |SELECT doc_id,
      |  CAST(min(CASE WHEN NOT silent THEN win_idx END) AS INTEGER) AS first_voiced,
      |  CAST(max(CASE WHEN NOT silent THEN win_idx END) AS INTEGER) AS last_voiced,
      |  CAST(sum(CASE WHEN silent THEN 1 ELSE 0 END) AS BIGINT) AS n_silent,
      |  CAST(coalesce(max(CASE WHEN NOT silent THEN win_idx END)
      |        - min(CASE WHEN NOT silent THEN win_idx END) + 1, 0) AS BIGINT)
      |    AS n_kept
      |FROM w GROUP BY doc_id ORDER BY doc_id LIMIT 500""".stripMargin) { (s, d) =>
    implicit val spark: SparkSession = s
    trimReport(audioEnergyStub(withPayload(Tables.documents(s, d)
      .filter(col("doc_id") % 5 === 0)), silenceBelow = 600000000L))
      .orderBy("doc_id")
      .limit(500)
  }

  /** The per-clip trim aggregation behind `multimodal_silence_trim`,
    * over any (doc_id, win_idx, silent) window relation — factored so
    * MultimodalSpec can pin the span arithmetic and the all-silent
    * branch on planted clips. */
  def trimReport(windows: DataFrame): DataFrame =
    windows.groupBy("doc_id")
      .agg(
        min(when(!col("silent"), col("win_idx"))).as("first_voiced"),
        max(when(!col("silent"), col("win_idx"))).as("last_voiced"),
        sum(when(col("silent"), 1L).otherwise(0L)).as("n_silent"),
        coalesce(max(when(!col("silent"), col("win_idx"))) -
          min(when(!col("silent"), col("win_idx"))) + 1, lit(0))
          .cast("long").as("n_kept"))

  /** Stub media-embedding row: 16 dims from the 16 payload bytes. */
  case class MediaEmb(doc_id: Long, iemb: Array[Double])

  /** Partition-iterator embedding stub — where a real CLIP image tower
    * would run (batched per partition, GPU-friendly batch shape); the
    * fake maps payload byte k to dimension k as (b_k & 0xff)/256.0, so
    * the oracle can recompute every dimension from the md5 hex. */
  def embedStub(payloads: DataFrame)(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    payloads.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, b) => MediaEmb(id, b.map(x => (x & 0xff) / 256.0)) }
      }.toDF()
  }

  /** CLIP-SCORE PAIR FILTERING (the LAION recipe — Schuhmann et al.
    * 2021, arXiv:2111.02114: score every image-text pair with the CLIP
    * cosine and keep pairs above a cut): text tower = the first 16
    * dims of the document's embedding-table vector (vec_id aligns with
    * doc_id in the fixture); image tower = `embedStub` over the binary
    * payload (real plumbing, stubbed weights — the multimodal house
    * convention). Scores floor-quantized to micro; retention is
    * RANK-based — each language keeps its top half under the total
    * order (smic DESC, doc_id) — the top-p% form of the filter (LAION's
    * fixed 0.28 cut assumes real CLIP score calibration, which a stub
    * tower cannot supply; rank retention exercises the identical
    * machinery and keeps both branches firing at every SF).
    *
    * Gated per-lang funnel: pairs, mean score micro, kept pairs, kept
    * tokens. Scale: both towers are scan-stage (the image side a
    * partition-iterator batch); the join is doc-keyed; the rank window
    * runs over the NARROW scored relation (3 ints + lang per doc); the
    * funnel is one combinable rollup. */
  val multimodalClipFilter = QueryDef(
    "multimodal_clip_filter",
    """WITH t AS (
      |  SELECT vec_id AS doc_id,
      |    list_transform(embedding[1:16], x -> CAST(x AS DOUBLE)) AS temb
      |  FROM embeddings
      |), im AS (
      |  SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens,
      |    list_transform(generate_series(1, 16), k ->
      |      CAST(CAST('0x' || substr(md5(text), CAST(2*k-1 AS INT), 2) AS INTEGER)
      |        AS DOUBLE) / 256.0) AS iemb
      |  FROM documents
      |), sc AS (
      |  SELECT im.doc_id, im.lang, im.n_tokens,
      |    CAST(floor(list_dot_product(t.temb, im.iemb) /
      |      (sqrt(list_dot_product(t.temb, t.temb)) *
      |       sqrt(list_dot_product(im.iemb, im.iemb))) * 1000000) AS BIGINT) AS smic
      |  FROM im JOIN t ON im.doc_id = t.doc_id
      |), rk AS (
      |  SELECT lang, n_tokens, smic,
      |    row_number() OVER (PARTITION BY lang ORDER BY smic DESC, doc_id) AS rn,
      |    count(*) OVER (PARTITION BY lang) AS cnt
      |  FROM sc
      |)
      |SELECT lang, CAST(count(*) AS BIGINT) AS n_pairs,
      |  CAST(sum(smic) // count(*) AS BIGINT) AS avg_clip_micro,
      |  CAST(sum(CASE WHEN rn * 2 <= cnt THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST(sum(CASE WHEN rn * 2 <= cnt THEN n_tokens ELSE 0 END) AS BIGINT)
      |    AS n_kept_tokens
      |FROM rk GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
    implicit val sp: SparkSession = s
    val docs = Tables.documents(s, d)
    val base = docs.select(col("doc_id"), col("lang"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val ie = embedStub(withPayload(docs))
    val te = Tables.embeddings(s, d).select(col("vec_id").as("doc_id"),
      expr("slice(transform(embedding, x -> CAST(x AS DOUBLE)), 1, 16)")
        .as("temb"))
    val sc = base.join(te, "doc_id").join(ie, "doc_id")
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        floor(Similarity.dot(col("temb"), col("iemb")) /
          (Similarity.l2norm(col("temb")) * Similarity.l2norm(col("iemb"))) *
          lit(1000000.0)).cast("long").as("smic"))
    import org.apache.spark.sql.expressions.Window
    val rk = sc
      .withColumn("rn", row_number().over(
        Window.partitionBy("lang").orderBy(col("smic").desc, col("doc_id"))))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy("lang")))
    rk.groupBy("lang")
      .agg(count(lit(1)).as("n_pairs"),
        expr("sum(smic) div count(1)").as("avg_clip_micro"),
        sum(when(col("rn") * 2 <= col("cnt"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("rn") * 2 <= col("cnt"), col("n_tokens")).otherwise(0L))
          .as("n_kept_tokens"))
      .orderBy("lang")
  }

  val all: Seq[QueryDef] = Seq(multimodalDecode, multimodalFramesample,
    multimodalResize, multimodalFeatures, multimodalDedup,
    multimodalAudioEnergy, multimodalScenecut, multimodalSilenceTrim,
    multimodalClipFilter)
}
