package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Query

/** Multimodal-column plumbing for a training-data pipeline: media as
  * opaque `binary` payloads + typed metadata, processed in batched
  * per-partition passes (the Scala analog of mapInPandas: one iterator
  * per partition, library calls amortized across a batch, no
  * per-row JVM↔native churn).
  *
  * The container has no image/audio codecs, so the decode kernel is a
  * clearly-marked deterministic STUB (parses our synthetic header); the
  * Spark-side contract — schema, partitioning, batch iteration, null
  * handling — is real and tested. Swapping `StubCodec` for a JNI/FFI
  * codec changes no plan shape.
  */
object Multimodal {

  case class Media(media_id: Long, kind: String, payload: Array[Byte])
  case class MediaMeta(media_id: Long, kind: String, width: Int, height: Int,
      n_frames: Int, bytes: Long)
  case class Frame(media_id: Long, kind: String, frame_idx: Int, frame: Array[Byte])

  /** Deterministic synthetic media derived from the documents table:
    * payload = 16-byte header (kind, w, h, frames) + content bytes.
    * Stands in for a real binary column read from parquet/object store. */
  def mediaTable(spark: SparkSession, dir: String): Dataset[Media] = {
    import spark.implicits._
    graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), col("n_chars"))
      .as[(Long, String, Long)]
      .map { case (id, text, nChars) =>
        val kind = (id % 3) match {
          case 0 => "image"; case 1 => "audio"; case _ => "video"
        }
        Media(id, kind, StubCodec.encode(kind, id, text, nChars))
      }
  }

  /** Batched "decode": extract typed metadata from each payload.
    * mapPartitions so a real codec would init once per partition. */
  def decodeMeta(spark: SparkSession, media: Dataset[Media]): Dataset[MediaMeta] = {
    import spark.implicits._
    media.mapPartitions { it =>
      // per-partition codec init would go here (expensive handle reuse)
      val codec = StubCodec
      it.map { m =>
        val (w, h, f) = codec.decodeHeader(m.payload)
        MediaMeta(m.media_id, m.kind, w, h, f, m.payload.length.toLong)
      }
    }
  }

  /** Batched frame sampling: videos → every k-th "frame" (stub slices
    * payload); images pass through as frame 0; audio yields none. */
  def sampleFrames(spark: SparkSession, media: Dataset[Media], everyK: Int): Dataset[Frame] = {
    require(everyK >= 1, s"everyK must be >= 1, got $everyK")
    import spark.implicits._
    media.mapPartitions { it =>
      val codec = StubCodec
      it.flatMap { m =>
        m.kind match {
          case "image" =>
            Iterator.single(Frame(m.media_id, m.kind, 0, codec.body(m.payload)))
          case "video" =>
            val (_, _, frames) = codec.decodeHeader(m.payload)
            (0 until frames by everyK).iterator.map(i =>
              Frame(m.media_id, m.kind, i, codec.frameSlice(m.payload, i)))
          case _ => Iterator.empty
        }
      }
    }
  }

  /** "Feature extraction" over frames: fixed-width feature vector per
    * frame (stub: byte histogram folded to 8 dims). The plan shape —
    * binary in, Array[Float] out, batched — is the real contract. */
  def frameFeatures(spark: SparkSession, frames: Dataset[Frame]): DataFrame = {
    import spark.implicits._
    frames.mapPartitions { it =>
      it.map(f => (f.media_id, f.frame_idx, StubCodec.features(f.frame)))
    }.toDF("media_id", "frame_idx", "features")
  }

  /** Pipeline summary metadata aggregate, fully columnar after decode. */
  def mediaStats(spark: SparkSession, dir: String): DataFrame = {
    val meta = decodeMeta(spark, mediaTable(spark, dir))
    meta.groupBy(col("kind"))
      .agg(count(lit(1)).as("n"),
        sum(col("bytes")).as("total_bytes"),
        avg(col("width")).as("avg_width"),
        max(col("n_frames")).as("max_frames"))
      .orderBy(col("kind"))
  }

  /** Frame-sampling rollup: run the real batched sampleFrames pass
    * (every 4th frame), then count sampled frames per kind. Driver-
    * checkable because the stub codec's header fields are pure
    * arithmetic over documents columns. */
  def frameSampleStats(spark: SparkSession, dir: String): DataFrame = {
    val frames = sampleFrames(spark, mediaTable(spark, dir), everyK = 4)
    // kind travels WITH each frame (carried through the Frame schema),
    // not re-derived from id arithmetic — stays correct if the sampler
    // ever emits frames for more kinds
    frames.select(col("media_id"), col("kind"), col("frame_idx"))
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n_frames_sampled"),
        countDistinct(col("media_id")).as("n_media"))
      .orderBy(col("kind"))
  }

  /** Batched resize: downsample every image/video until its longest
    * side fits [[ResizeMaxDim]] (repeated integer halving — the
    * thumbnail/preprocess pass before feature extraction). The stub
    * "resample" strides the body bytes by 2^levels; a real codec swap
    * changes the kernel, not the plan: mapPartitions batch in, binary
    * payload out, metadata recomputed from the new header. */
  private[multimodal] val ResizeMaxDim = 128

  def resizeMedia(spark: SparkSession, media: Dataset[Media]): Dataset[Media] = {
    import spark.implicits._
    media.mapPartitions { it =>
      val codec = StubCodec
      it.map { m =>
        if (m.kind == "audio") m
        else Media(m.media_id, m.kind, codec.resize(m.payload, ResizeMaxDim))
      }
    }
  }

  /** Resize rollup: run the real batched resize pass, then aggregate
    * the NEW headers — integer-exact, so the oracle can recompute the
    * halving levels from the documents columns. */
  def resizeStats(spark: SparkSession, dir: String): DataFrame = {
    val resized = decodeMeta(spark,
      resizeMedia(spark, mediaTable(spark, dir)))
      .filter(col("kind") =!= "audio")
    resized.groupBy(col("kind"))
      .agg(count(lit(1)).as("n"),
        sum(col("bytes")).as("total_bytes_resized"),
        sum(col("width").cast("long")).as("total_width_resized"),
        max(col("width")).as("max_width_resized"))
      .orderBy(col("kind"))
  }

  /** DuckDB oracles: the stub codec's header math re-expressed in SQL
    * (kind = doc_id%3; width = 64 + (doc_id%16)*32; n_frames =
    * video ? 8 + doc_id%24 : 1; payload = 16-byte header + utf8 text).
    * The decode/sample plumbing itself runs only on the Spark side —
    * the oracle checks its observable output. */
  val mediaStatsSql: String =
    """SELECT kind, COUNT(*) AS n,
      |  CAST(SUM(bytes) AS BIGINT) AS total_bytes,
      |  AVG(width) AS avg_width,
      |  MAX(n_frames) AS max_frames
      |FROM (
      |  SELECT
      |    CASE WHEN doc_id % 3 = 0 THEN 'image'
      |         WHEN doc_id % 3 = 1 THEN 'audio'
      |         ELSE 'video' END AS kind,
      |    16 + strlen(text) AS bytes,
      |    CAST(64 + (doc_id % 16) * 32 AS INT) AS width,
      |    CAST(CASE WHEN doc_id % 3 = 2 THEN 8 + doc_id % 24 ELSE 1 END AS INT)
      |      AS n_frames
      |  FROM documents) t
      |GROUP BY kind ORDER BY kind""".stripMargin

  val frameSampleStatsSql: String =
    """WITH m AS (
      |  SELECT doc_id AS media_id,
      |    CASE WHEN doc_id % 3 = 0 THEN 'image'
      |         WHEN doc_id % 3 = 1 THEN 'audio'
      |         ELSE 'video' END AS kind,
      |    CASE WHEN doc_id % 3 = 2 THEN 8 + doc_id % 24 ELSE 1 END AS n_frames
      |  FROM documents)
      |SELECT kind,
      |  CAST(SUM(CASE WHEN kind = 'video'
      |                THEN CAST(CEIL(n_frames / 4.0) AS BIGINT)
      |                ELSE 1 END) AS BIGINT) AS n_frames_sampled,
      |  COUNT(*) AS n_media
      |FROM m WHERE kind <> 'audio'
      |GROUP BY kind ORDER BY kind""".stripMargin

  /** levels = smallest L with max(w,h) >> L <= 128; resized payload =
    * 16-byte header + ceil(len / 2^L) stride-sampled body bytes.
    * Because >> floors, level L admits dims up to 129*2^L - 1 (e.g.
    * 257 >> 1 = 128, so 257 is level 1, NOT 2) — the ladder thresholds
    * are 129*2^L - 1, not powers of two. Covers dims to 4127 exactly
    * (stub headers max at 544); the closed-form fallback
    * CEIL(LOG2((max+1)/129)) is the same predicate solved for L and
    * keeps larger dims correct rather than silently capping. */
  val resizeStatsSql: String =
    """WITH m AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 3 = 0 THEN 'image'
      |         WHEN doc_id % 3 = 1 THEN 'audio'
      |         ELSE 'video' END AS kind,
      |    CAST(64 + (doc_id % 16) * 32 AS INT) AS w,
      |    CAST(64 + (n_chars % 16) * 32 AS INT) AS h,
      |    strlen(text) AS len
      |  FROM documents),
      |lv AS (
      |  SELECT kind, w, len,
      |    CASE WHEN GREATEST(w, h) <= 128 THEN 0
      |         WHEN GREATEST(w, h) <= 257 THEN 1
      |         WHEN GREATEST(w, h) <= 515 THEN 2
      |         WHEN GREATEST(w, h) <= 1031 THEN 3
      |         WHEN GREATEST(w, h) <= 2063 THEN 4
      |         WHEN GREATEST(w, h) <= 4127 THEN 5
      |         ELSE CAST(CEIL(LOG2((GREATEST(w, h) + 1) / 129.0)) AS INT)
      |         END AS l
      |  FROM m WHERE kind <> 'audio')
      |SELECT kind, COUNT(*) AS n,
      |  CAST(SUM(16 + (len + (1 << l) - 1) // (1 << l)) AS BIGINT)
      |    AS total_bytes_resized,
      |  CAST(SUM(w // (1 << l)) AS BIGINT) AS total_width_resized,
      |  CAST(MAX(w // (1 << l)) AS INT) AS max_width_resized
      |FROM lv GROUP BY kind ORDER BY kind""".stripMargin

  /** Scene-cut (shot boundary) detection over the sampled frame
    * stream — the segmentation pass a video-training pipeline runs to
    * pick clip boundaries. The pipeline is real: batched frame
    * sampling (binary slices through mapPartitions), a per-frame
    * energy, then a per-video lag window flagging frames whose energy
    * jumps >25% from the previous sample; a video's segments =
    * cuts + 1. The ENERGY KERNEL is the stub standing in for a real
    * luma-histogram distance (no codecs in this container): frame
    * byte-length ×1000 plus a deterministic per-(video, frame) mix —
    * swap [[StubCodec]] energy for a real decoder and the plan shape
    * (sample → per-partition kernel → one window per video → rollup)
    * is unchanged.
    *
    * Scale shape: media_id is the parallel unit end-to-end — the
    * sampler, the kernel, and the lag window all key on it; the
    * rollup is one hash-agg. Integer arithmetic only. */
  def sceneCuts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val frames = sampleFrames(spark, mediaTable(spark, dir), everyK = 4)
      .filter((f: Frame) => f.kind == "video")
    val energies = frames.mapPartitions { it =>
      it.map(f => (f.media_id, f.frame_idx,
        f.frame.length.toLong * 1000L +
          (f.media_id * 131L + f.frame_idx * 31L) % 997L))
    }.toDF("media_id", "frame_idx", "energy")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("media_id")).orderBy(col("frame_idx"))
    energies
      .withColumn("prev", lag(col("energy"), 1).over(w))
      .withColumn("jump", abs(col("energy") - col("prev")))
      .withColumn("is_cut", col("prev").isNotNull &&
        col("jump") * 4 > greatest(col("energy"), col("prev")))
      .groupBy(col("media_id"))
      .agg(count(lit(1)).as("n_frames_sampled"),
        sum(when(col("is_cut"), 1L).otherwise(0L)).as("n_cuts"),
        (sum(when(col("is_cut"), 1L).otherwise(0L)) + 1L).as("n_segments"),
        coalesce(max(col("jump")), lit(0L)).as("max_jump"))
      .orderBy(col("media_id"))
  }

  /** Oracle: the stub energy recomputed from the header/slicing math
    * (chunk = max(len/frames, 1); sampled idx 0,4,…; slice length =
    * min(start+chunk, len) − start with start = min(idx·chunk,
    * len−1)), then the same lag window. */
  val sceneCutsSql: String =
    """WITH v AS (
      |  SELECT doc_id AS media_id,
      |    CAST(8 + doc_id % 24 AS BIGINT) AS n_frames,
      |    CAST(strlen(text) AS BIGINT) AS len
      |  FROM documents WHERE doc_id % 3 = 2),
      |f AS (
      |  SELECT media_id, CAST(i AS INT) AS frame_idx, n_frames, len,
      |    GREATEST(len // GREATEST(n_frames, 1), 1) AS chunk
      |  FROM v, UNNEST(range(0, n_frames, 4)) t(i)),
      |e AS (
      |  SELECT media_id, frame_idx,
      |    (CASE WHEN len = 0 THEN 0
      |          ELSE LEAST(LEAST(frame_idx * chunk, len - 1) + chunk, len)
      |               - LEAST(frame_idx * chunk, len - 1) END) * 1000
      |    + (media_id * 131 + frame_idx * 31) % 997 AS energy
      |  FROM f),
      |l AS (
      |  SELECT media_id, energy,
      |    LAG(energy) OVER (PARTITION BY media_id ORDER BY frame_idx)
      |      AS prev
      |  FROM e)
      |SELECT media_id, COUNT(*) AS n_frames_sampled,
      |  CAST(SUM(CASE WHEN prev IS NOT NULL
      |    AND ABS(energy - prev) * 4 > GREATEST(energy, prev)
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts,
      |  CAST(SUM(CASE WHEN prev IS NOT NULL
      |    AND ABS(energy - prev) * 4 > GREATEST(energy, prev)
      |    THEN 1 ELSE 0 END) + 1 AS BIGINT) AS n_segments,
      |  CAST(COALESCE(MAX(ABS(energy - prev)), 0) AS BIGINT) AS max_jump
      |FROM l GROUP BY media_id ORDER BY media_id""".stripMargin

  // ------------------------------------------------ audio VAD
  /** Voice-activity detection over the audio rows — the stub twin of
    * an energy-threshold VAD: the payload BODY is framed into 160-byte
    * "20 ms" windows in one batched per-partition pass over the binary
    * column (the real plumbing a PCM decoder would use); each frame's
    * stub energy is its byte count ×100 plus a deterministic jitter,
    * and a frame is "voiced" iff jitter ≥ 28 (≈2/3 duty cycle — pure
    * arithmetic, so DuckDB replays it from strlen). Per audio: frame
    * count, voiced count, speech ratio permille, and the longest
    * voiced run (gaps-and-islands on frame index).
    *
    * Scale shape: frames explode ≤ len/160 rows per audio inside the
    * partition pass (no shuffle until the per-media hash-agg); the
    * islands window partitions by media_id — each audio is one
    * parallel unit, never a global sort. */
  def audioVad(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val frames = mediaTable(spark, dir)
      .filter((m: Media) => m.kind == "audio")
      .mapPartitions { it =>
        it.flatMap { m =>
          val len = m.payload.length - 16
          val n = math.max(1, (len + 159) / 160)
          (0 until n).iterator.map { f =>
            val chunk = math.max(0, math.min(160, len - f * 160))
            val jitter = (m.media_id * 37 + f * 17) % 83
            (m.media_id, f, chunk.toLong * 100L + jitter, jitter >= 28)
          }
        }
      }.toDF("media_id", "frame_idx", "energy", "voiced")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("media_id")).orderBy(col("frame_idx"))
    val runs = frames.filter(col("voiced"))
      .withColumn("isl", col("frame_idx") - row_number().over(w))
      .groupBy(col("media_id"), col("isl")).agg(count(lit(1)).as("run"))
      .groupBy(col("media_id")).agg(max(col("run")).as("lr"))
    frames.groupBy(col("media_id"))
      .agg(count(lit(1)).as("n_frames"),
        sum(when(col("voiced"), 1L).otherwise(0L)).as("n_voiced"))
      .join(runs, Seq("media_id"), "left")
      .withColumn("speech_permille", expr("1000 * n_voiced DIV n_frames"))
      .withColumn("longest_voiced_run", coalesce(col("lr"), lit(0L)))
      .select(col("media_id"), col("n_frames"), col("n_voiced"),
        col("speech_permille"), col("longest_voiced_run"))
      .orderBy(col("media_id"))
  }

  val audioVadSql: String =
    """WITH a AS (
      |  SELECT doc_id AS media_id, CAST(strlen(text) AS BIGINT) AS len
      |  FROM documents WHERE doc_id % 3 = 1),
      |f AS (
      |  SELECT media_id, CAST(i AS INT) AS frame_idx,
      |    (media_id * 37 + i * 17) % 83 AS jitter
      |  FROM a, UNNEST(range(0, GREATEST((len + 159) // 160, 1))) t(i)),
      |v AS (
      |  SELECT media_id, frame_idx, jitter >= 28 AS voiced FROM f),
      |r AS (
      |  SELECT media_id, frame_idx - ROW_NUMBER() OVER (
      |      PARTITION BY media_id ORDER BY frame_idx) AS isl
      |  FROM v WHERE voiced),
      |runs AS (
      |  SELECT media_id, MAX(cnt) AS lr FROM (
      |    SELECT media_id, isl, COUNT(*) AS cnt FROM r GROUP BY 1, 2)
      |  GROUP BY 1)
      |SELECT v.media_id, COUNT(*) AS n_frames,
      |  CAST(SUM(CASE WHEN voiced THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_voiced,
      |  CAST(1000 * SUM(CASE WHEN voiced THEN 1 ELSE 0 END) // COUNT(*)
      |    AS BIGINT) AS speech_permille,
      |  CAST(COALESCE(MAX(runs.lr), 0) AS BIGINT) AS longest_voiced_run
      |FROM v LEFT JOIN runs USING (media_id)
      |GROUP BY 1 ORDER BY media_id""".stripMargin

  // ----------------------------------------- perceptual-hash dedup
  /** Media near-dup detection via a 64-bit perceptual hash: sample 64
    * evenly-spaced body bytes per payload, threshold each against the
    * sample mean, and bucket media by (kind, bit pattern) — the
    * pHash/aHash recipe real image dedup runs after decode, here over
    * the stub payload (whose body is the UTF-8 text, so byte k ≡
    * character code k and the DuckDB oracle mirrors the sampling with
    * substr/ord). Unlike exact dedup, near-identical payloads that
    * differ in a few bytes usually land in the same bucket — the
    * robustness that makes perceptual hashing the media twin of
    * MinHash.
    *
    * Scale shape: the hash is a stateless per-row projection (64
    * samples regardless of payload size — resolution-independent by
    * construction), then one (kind, hash) hash-agg. The
    * recall/precision trade lives in the bit count, not in any join:
    * there is never a pairwise stage. */
  def phashBuckets(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"),
        when(col("doc_id") % 3 === 0, "image")
          .when(col("doc_id") % 3 === 1, "audio")
          .otherwise("video").as("kind"))
    // UNROLLED, not higher-order: transform/aggregate lambdas are
    // codegen-fallback and this is a per-row key computation — the
    // zorder/minhash lesson. 64 explicit sample columns (projected
    // once, shared by the mean and the bit string) keep the whole
    // hash inside whole-stage codegen. A/B'd at sf0.1: 2.44 s HOF
    // form -> 1.65 s unrolled.
    val sampleCols = (0 until 64).map(j => expr(
      s"ascii(substr(text, CAST(1 + ($j * length(text)) DIV 64 AS INT), 1))")
      .as(s"s$j"))
    val hashed = docs
      .select(col("kind") +: sampleCols: _*)
      .withColumn("ssum",
        (0 until 64).map(j => col(s"s$j").cast("long")).reduce(_ + _))
      .withColumn("m", expr("ssum DIV 64"))
      .withColumn("phash", concat((0 until 64).map(j =>
        when(col(s"s$j") > col("m"), lit("1")).otherwise(lit("0"))): _*))
    hashed.groupBy(col("kind"), col("phash"))
      .agg(count(lit(1)).as("sz"))
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n_buckets"),
        sum(col("sz")).as("n_media"),
        sum(when(col("sz") > 1, 1L).otherwise(0L)).as("n_dup_buckets"),
        sum(when(col("sz") > 1, col("sz") - 1).otherwise(0L))
          .as("n_redundant"),
        max(col("sz")).as("max_bucket"))
      .orderBy(col("kind"))
  }

  val phashBucketsSql: String =
    """WITH h AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 3 = 0 THEN 'image'
      |         WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
      |    list_transform(range(0, 64),
      |      j -> ord(substr(text, CAST(1 + (j * length(text)) // 64 AS INT), 1)))
      |      AS samples
      |  FROM documents),
      |p AS (
      |  SELECT kind,
      |    array_to_string(list_transform(samples,
      |      b -> CASE WHEN b > (list_reduce(samples, (a, x) -> a + x) // 64)
      |           THEN '1' ELSE '0' END), '') AS phash
      |  FROM h),
      |g AS (SELECT kind, phash, CAST(COUNT(*) AS BIGINT) AS sz
      |      FROM p GROUP BY 1, 2)
      |SELECT kind, COUNT(*) AS n_buckets,
      |  CAST(SUM(sz) AS BIGINT) AS n_media,
      |  CAST(SUM(CASE WHEN sz > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_dup_buckets,
      |  CAST(SUM(CASE WHEN sz > 1 THEN sz - 1 ELSE 0 END) AS BIGINT)
      |    AS n_redundant,
      |  MAX(sz) AS max_bucket
      |FROM g GROUP BY kind ORDER BY kind""".stripMargin

  // ------------------------------------ perceptual-hash near-dup join
  /** Near-duplicate MEDIA pairs by banded Hamming join over the
    * 64-bit perceptual hash: the 4×16-bit bands are the Hamming-space
    * LSH ([[phashBuckets]] counts only EXACT hash collisions; this
    * finds pairs within distance 6 — re-encodes, crops, watermarks).
    * Candidates share a band within their kind; the confirm is
    * bit_count(xor) over the four band words. Banding guarantees
    * every pair at distance ≤ 3 (pigeonhole: 3 flipped bits cannot
    * touch all 4 bands) and is probabilistic up to 6 — the standard
    * banded-LSH recall contract, stated rather than hidden.
    *
    * Scale shape: the hash is the same unrolled codegen projection as
    * phashBuckets (computed once, materialized — 4 band joins reuse
    * it); candidate cost is Σ bucket² per 16-bit band within kind —
    * the dedup tier's declared LSH cost, never n²; the Hamming
    * confirm is 4 xor+popcount ops per candidate.
    *
    * BMP-only byte-sampling assumption (stand-in for real codec
    * bytes): Spark `ascii()` reads the first UTF-16 code unit while
    * the DuckDB oracle's `ord()` reads the Unicode codepoint — they
    * agree on every BMP character (all fixtures) but would diverge if
    * a supplementary-plane character (emoji, rare CJK) landed exactly
    * on a sampled position. A production port feeding real media
    * bytes reads uint8 from the binary column and never hits this;
    * if non-BMP text corpora enter scope, switch the sampler to the
    * md5-hex ladder used by the dedup tier (codepoint-stable on both
    * engines). */
  def phashNearDupPairs(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"),
        when(col("doc_id") % 3 === 0, "image")
          .when(col("doc_id") % 3 === 1, "audio")
          .otherwise("video").as("kind"))
    val sampleCols = (0 until 64).map(j => expr(
      s"ascii(substr(text, CAST(1 + ($j * length(text)) DIV 64 AS INT), 1))")
      .as(s"s$j"))
    val withSamples = docs
      .select(col("doc_id") +: col("kind") +: sampleCols: _*)
      .withColumn("ssum",
        (0 until 64).map(j => col(s"s$j").cast("long")).reduce(_ + _))
      .withColumn("m", expr("ssum DIV 64"))
    val bandCols = (0 until 4).map(k =>
      (0 until 16).map(j =>
        when(col(s"s${k * 16 + j}") > col("m"), lit(1L << j))
          .otherwise(lit(0L))).reduce(_ + _).as(s"b$k"))
    val sig = graft.operators.Materialize.eager(
      withSamples.select(col("doc_id") +: col("kind") +: bandCols: _*))
    val branches = (0 until 4).map { k =>
      sig.as("a").join(sig.as("b"),
          col("a.kind") === col("b.kind") &&
          col(s"a.b$k") === col(s"b.b$k") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.kind").as("kind"), col("a.doc_id").as("da"),
          col("b.doc_id").as("db"))
    }
    val cand = branches.reduce(_ unionByName _).distinct()
    val av = sig.select(col("doc_id").as("da"),
      col("b0").as("ab0"), col("b1").as("ab1"),
      col("b2").as("ab2"), col("b3").as("ab3"))
    val bv = sig.select(col("doc_id").as("db"),
      col("b0").as("bb0"), col("b1").as("bb1"),
      col("b2").as("bb2"), col("b3").as("bb3"))
    cand.join(av, "da").join(bv, "db")
      .withColumn("hd", expr(
        """bit_count(ab0 ^ bb0) + bit_count(ab1 ^ bb1) +
          |bit_count(ab2 ^ bb2) + bit_count(ab3 ^ bb3)""".stripMargin)
        .cast("long"))
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n_candidate_pairs"),
        sum(when(col("hd") <= 6, 1L).otherwise(0L)).as("n_neardup_pairs"),
        min(col("hd")).as("min_hamming"))
      .orderBy(col("kind"))
  }

  val phashNearDupPairsSql: String =
    """WITH h AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 3 = 0 THEN 'image'
      |         WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
      |    list_transform(range(0, 64),
      |      j -> ord(substr(text, CAST(1 + (j * length(text)) // 64 AS INT), 1)))
      |      AS samples
      |  FROM documents),
      |hm AS (
      |  SELECT doc_id, kind, samples,
      |    CAST(list_sum(samples) AS BIGINT) // 64 AS m
      |  FROM h),
      |sig AS (
      |  SELECT doc_id, kind,
      |    CAST(list_sum(list_transform(range(0, 16),
      |      j -> CASE WHEN samples[0*16+j+1] > m THEN 1 << j ELSE 0 END))
      |      AS BIGINT) AS b0,
      |    CAST(list_sum(list_transform(range(0, 16),
      |      j -> CASE WHEN samples[1*16+j+1] > m THEN 1 << j ELSE 0 END))
      |      AS BIGINT) AS b1,
      |    CAST(list_sum(list_transform(range(0, 16),
      |      j -> CASE WHEN samples[2*16+j+1] > m THEN 1 << j ELSE 0 END))
      |      AS BIGINT) AS b2,
      |    CAST(list_sum(list_transform(range(0, 16),
      |      j -> CASE WHEN samples[3*16+j+1] > m THEN 1 << j ELSE 0 END))
      |      AS BIGINT) AS b3
      |  FROM hm),
      |cand AS (
      |  SELECT DISTINCT kind, da, db FROM (
      |    SELECT a.kind, a.doc_id AS da, b.doc_id AS db
      |    FROM sig a JOIN sig b ON a.kind = b.kind AND a.b0 = b.b0
      |      AND a.doc_id < b.doc_id
      |    UNION ALL
      |    SELECT a.kind, a.doc_id, b.doc_id
      |    FROM sig a JOIN sig b ON a.kind = b.kind AND a.b1 = b.b1
      |      AND a.doc_id < b.doc_id
      |    UNION ALL
      |    SELECT a.kind, a.doc_id, b.doc_id
      |    FROM sig a JOIN sig b ON a.kind = b.kind AND a.b2 = b.b2
      |      AND a.doc_id < b.doc_id
      |    UNION ALL
      |    SELECT a.kind, a.doc_id, b.doc_id
      |    FROM sig a JOIN sig b ON a.kind = b.kind AND a.b3 = b.b3
      |      AND a.doc_id < b.doc_id)),
      |hd AS (
      |  SELECT c.kind,
      |    CAST(bit_count(xor(sa.b0, sb.b0)) + bit_count(xor(sa.b1, sb.b1))
      |       + bit_count(xor(sa.b2, sb.b2)) + bit_count(xor(sa.b3, sb.b3))
      |      AS BIGINT) AS hd
      |  FROM cand c
      |  JOIN sig sa ON sa.doc_id = c.da
      |  JOIN sig sb ON sb.doc_id = c.db)
      |SELECT kind, COUNT(*) AS n_candidate_pairs,
      |  CAST(SUM(CASE WHEN hd <= 6 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_neardup_pairs,
      |  MIN(hd) AS min_hamming
      |FROM hd GROUP BY kind ORDER BY kind""".stripMargin

  // --------------------------------------- aspect-ratio bucketing
  /** Aspect-ratio bucketed batching (the SDXL-style training trick:
    * batch images of like aspect so per-batch resize hits one target
    * shape and padding waste stays low): assign every image to the
    * log-nearest rung of a fixed 7-rung AR ladder (1:8 … 8:1 in
    * powers of two) and report per-rung occupancy plus the padding
    * waste an aspect-preserving fit into that rung costs. A rung
    * with high avg waste means the ladder is too coarse for the
    * corpus; empty rungs mean wasted batch shapes.
    *
    * All-integer: ar = w·1000 DIV h; "log-nearest rung" needs no
    * logs — the decision boundaries are the geometric midpoints
    * √(bᵢ·bᵢ₊₁), pre-verified integer thresholds (t² < bᵢ·bᵢ₊₁ <
    * (t+1)² for each), so assignment is one CASE ladder per row —
    * no join, no explode, no window. Waste of fitting ar into rung
    * b is 1000 − 1000·min(ar,b) DIV max(ar,b) (the uncovered area
    * share of the rung rectangle, exact for the same-area ladder).
    *
    * Scale shape: the decode pass every mm_ query pays, then one
    * scalar CASE + a ≤7-group hash-agg — output O(ladder). */
  def aspectBuckets(spark: SparkSession, dir: String): DataFrame = {
    val meta = decodeMeta(spark, mediaTable(spark, dir))
    meta.filter(col("kind") === "image")
      .select(expr("width * 1000 DIV height").as("ar"))
      .select(col("ar"), expr(
        """CASE WHEN ar <= 176 THEN 125 WHEN ar <= 353 THEN 250
          |WHEN ar <= 707 THEN 500 WHEN ar <= 1414 THEN 1000
          |WHEN ar <= 2828 THEN 2000 WHEN ar <= 5656 THEN 4000
          |ELSE 8000 END""".stripMargin).cast("long")
          .as("bucket_ar_milli"))
      .withColumn("waste_pm", expr(
        "1000 - LEAST(ar, bucket_ar_milli) * 1000" +
          " DIV GREATEST(ar, bucket_ar_milli)"))
      .groupBy(col("bucket_ar_milli"))
      .agg(count(lit(1)).as("n_images"),
        expr("SUM(waste_pm) DIV COUNT(*)").as("avg_waste_pm"),
        max(col("waste_pm")).as("max_waste_pm"))
      .orderBy(col("bucket_ar_milli"))
  }

  val aspectBucketsSql: String =
    """WITH img AS (
      |  SELECT (CAST(64 + (doc_id % 16) * 32 AS BIGINT) * 1000)
      |      // CAST(64 + (n_chars % 16) * 32 AS BIGINT) AS ar
      |  FROM documents WHERE doc_id % 3 = 0),
      |b AS (
      |  SELECT ar,
      |    CAST(CASE WHEN ar <= 176 THEN 125 WHEN ar <= 353 THEN 250
      |      WHEN ar <= 707 THEN 500 WHEN ar <= 1414 THEN 1000
      |      WHEN ar <= 2828 THEN 2000 WHEN ar <= 5656 THEN 4000
      |      ELSE 8000 END AS BIGINT) AS bucket_ar_milli
      |  FROM img),
      |w AS (
      |  SELECT bucket_ar_milli,
      |    1000 - LEAST(ar, bucket_ar_milli) * 1000
      |      // GREATEST(ar, bucket_ar_milli) AS waste_pm
      |  FROM b)
      |SELECT bucket_ar_milli, COUNT(*) AS n_images,
      |  CAST(SUM(waste_pm) // COUNT(*) AS BIGINT) AS avg_waste_pm,
      |  MAX(waste_pm) AS max_waste_pm
      |FROM w GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Map[String, Query] = Map(
    "mm_aspect_buckets" -> Query(aspectBuckets, aspectBucketsSql),
    "mm_phash_buckets" -> Query(phashBuckets, phashBucketsSql),
    "mm_phash_neardup_pairs" -> Query(phashNearDupPairs, phashNearDupPairsSql),
    "mm_media_stats" -> Query(mediaStats, mediaStatsSql),
    "mm_frame_sample" -> Query(frameSampleStats, frameSampleStatsSql),
    "mm_resize_stats" -> Query(resizeStats, resizeStatsSql),
    "mm_scene_cuts" -> Query(sceneCuts, sceneCutsSql),
    "mm_audio_vad" -> Query((s, d) => audioVad(s, d), audioVadSql))
}

/** STUB codec — deterministic fake in place of image/audio libraries
  * (not present in this container). Header layout (16 bytes):
  * [0] kind, [1..4] width, [5..8] height, [9..12] n_frames, [13..15] pad. */
object StubCodec extends Serializable {
  private def putInt(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = (v >> 24).toByte; b(off + 1) = (v >> 16).toByte
    b(off + 2) = (v >> 8).toByte; b(off + 3) = v.toByte
  }
  private def getInt(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xff) << 24) | ((b(off + 1) & 0xff) << 16) |
      ((b(off + 2) & 0xff) << 8) | (b(off + 3) & 0xff)

  def encode(kind: String, id: Long, text: String, nChars: Long): Array[Byte] = {
    val body = text.getBytes("UTF-8")
    val out = new Array[Byte](16 + body.length)
    out(0) = kind.head.toByte
    putInt(out, 1, 64 + (id % 16).toInt * 32)       // width
    putInt(out, 5, 64 + (nChars % 16).toInt * 32)   // height
    putInt(out, 9, if (kind == "video") 8 + (id % 24).toInt else 1)
    System.arraycopy(body, 0, out, 16, body.length)
    out
  }

  def decodeHeader(payload: Array[Byte]): (Int, Int, Int) =
    (getInt(payload, 1), getInt(payload, 5), getInt(payload, 9))

  def body(payload: Array[Byte]): Array[Byte] =
    java.util.Arrays.copyOfRange(payload, 16, payload.length)

  def frameSlice(payload: Array[Byte], idx: Int): Array[Byte] = {
    val b = body(payload)
    if (b.isEmpty) b
    else {
      val chunk = math.max(b.length / math.max(getInt(payload, 9), 1), 1)
      val start = math.min(idx * chunk, b.length - 1)
      java.util.Arrays.copyOfRange(b, start, math.min(start + chunk, b.length))
    }
  }

  /** Resize: halve both dims until the longest side fits maxDim, and
    * stride-sample the body by 2^levels (ceil count). Header rewritten
    * with the new dims; frame count unchanged. */
  def resize(payload: Array[Byte], maxDim: Int): Array[Byte] = {
    val (w, h, frames) = decodeHeader(payload)
    var l = 0
    while (math.max(w, h) >> l > maxDim) l += 1
    if (l == 0) payload
    else {
      val stride = 1 << l
      val b = body(payload)
      val newLen = (b.length + stride - 1) / stride
      val out = new Array[Byte](16 + newLen)
      out(0) = payload(0)
      putInt(out, 1, w >> l)
      putInt(out, 5, h >> l)
      putInt(out, 9, frames)
      var i = 0
      while (i < newLen) { out(16 + i) = b(i * stride); i += 1 }
      out
    }
  }

  /** 8-dim folded byte histogram, L1-normalized — stand-in embedding. */
  def features(frame: Array[Byte]): Array[Float] = {
    val h = new Array[Float](8)
    frame.foreach(b => h((b & 0xff) % 8) += 1f)
    val s = math.max(h.sum, 1f)
    h.map(_ / s)
  }
}
