package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.MediaAsset

/** Multimodal-column plumbing: image/audio/video as opaque `binary`
  * columns plus typed metadata, with decode / feature-extract /
  * frame-sample implemented as per-partition batch operators.
  *
  * The actual media codecs are NOT available in this environment, so
  * the byte-level decode is a clearly-marked deterministic STUB
  * ([[StubDecoder]]); everything Spark-side — schema, partitioning,
  * batch shape, the mapPartitions contract — is real and tested. A
  * production deployment swaps [[MediaDecoder]] for a JNI/FFI-backed
  * implementation without touching any plan shape.
  */
object Multimodal {

  /** Decoder contract: one partition-batch of payloads in, features
    * out. Implementations must be thread-safe per partition. */
  trait MediaDecoder extends Serializable {
    def imageDims(payload: Array[Byte]): (Int, Int)
    def audioDurationMs(payload: Array[Byte], sampleRate: Int): Long
    def frameOffsets(payload: Array[Byte], nFrames: Int): Seq[Long]
  }

  /** STUB: deterministic fake decode — derives plausible metadata from
    * payload bytes only, so tests are reproducible. Replace with a real
    * codec (libjpeg/ffmpeg) in production. */
  object StubDecoder extends MediaDecoder {
    def imageDims(p: Array[Byte]): (Int, Int) = {
      val h = p.foldLeft(17L)((a, b) => a * 31 + (b & 0xff))
      (64 + (h % 64).toInt * 16, 64 + ((h >> 8) % 64).toInt * 16)
    }
    def audioDurationMs(p: Array[Byte], sampleRate: Int): Long =
      p.length.toLong * 1000 / math.max(sampleRate, 1)
    def frameOffsets(p: Array[Byte], nFrames: Int): Seq[Long] =
      if (p.isEmpty) Nil
      else (0 until nFrames).map(i => i.toLong * p.length / math.max(nFrames, 1))
  }

  /** Asset-store exact dedup ledger: group by payload digest (+ byte
    * length, which rules out the remaining digest-collision window),
    * count copies, keep the min asset_id. Runs BEFORE any decode so a
    * duplicated media object is fetched/featurized once; shuffle ∝
    * distinct payloads, the same shape as text exact dedup. Expects
    * (asset_id, payload). */
  def payloadDedup(assets: DataFrame): DataFrame =
    assets
      .groupBy(md5(col("payload")).as("payload_md5"),
        length(col("payload")).cast("long").as("byte_len"))
      .agg(count(lit(1)).as("n_copies"), min(col("asset_id")).as("keeper"))

  /** 60-bit average-hash ("aHash") perceptual fingerprint per asset —
    * the classic perceptual-dedup front end (sample the image to a
    * small gray grid, threshold at the mean, pack the bits),
    * stub-decoded: the 60 "pixels" are character samples at evenly
    * spaced payload offsets (the [[MediaDecoder]] stub convention —
    * real decode is environment-blocked, the Spark-side shape is the
    * product; a real decoder swaps in the 8×8 luma grid and nothing
    * downstream changes). Thresholding is exact-integer
    * (p·60 > Σp, strict — no mean division ever materializes), so the
    * fingerprint is bit-deterministic and DuckDB replays it. 60 bits,
    * not 64: the top nibble stays clear so every shift and sum is
    * positive long/BIGINT arithmetic in both engines (DuckDB checks
    * BIGINT overflow where a JVM long would silently wrap to the sign
    * bit). Emits (doc_id, simhash) — the fingerprint column is named
    * for [[Dedup.simhashPairs]], whose pigeonhole banding then finds
    * near-dup pairs with guaranteed recall, never all-pairs.
    *
    * Scale: one narrow map over the corpus (codegen'd higher-order
    * functions, no UDF, no shuffle). The batch frame is PlanCached
    * (the [[Dedup.simhash]] convention) because the banded self-join
    * downstream references it on BOTH sides — un-materialized, the
    * collapsed HOF chain re-evaluates through the join (measured
    * 185 s vs 1.6 s at sf0.1 for the pair step). Streaming frames
    * cannot persist, and the gate's probe side is per-micro-batch
    * anyway, so they pass through uncached. */
  def ahashFingerprints(docs: DataFrame): DataFrame = {
    val fp = docs.filter(length(col("text")) >= 1)
      .select(col("doc_id"),
        expr("""transform(sequence(0, 59), i ->
          CAST(ascii(substring(text,
            CAST(1 + (i * length(text)) DIV 60 AS INT), 1)) AS BIGINT))""")
          .as("px"))
      .select(col("doc_id"), col("px"),
        expr("aggregate(px, CAST(0 AS BIGINT), (acc, x) -> acc + x)").as("sp"))
      .select(col("doc_id"),
        expr("""aggregate(sequence(0, 59), CAST(0 AS BIGINT), (acc, i) ->
          acc + IF(element_at(px, CAST(i + 1 AS INT)) * 60 > sp,
            shiftleft(CAST(1 AS BIGINT), CAST(i AS INT)),
            CAST(0 AS BIGINT)))""").as("simhash"))
    if (docs.isStreaming) fp
    else graft.ops.PlanCache.cached("ahash-60", docs)(fp)
  }

  /** 120-bit wide twin of [[ahashFingerprints]] — the BAND-WIDTH
    * scale path: at corpus scale the 60-bit hash's 8–9-bit pigeonhole
    * segments collide heavily (candidates grow ~N²/2^w), while two
    * 60-bit words give 8 segments of 15 bits — a 32 768-value band
    * space — with guaranteed recall up to Hamming radius 7. Same
    * stub-decode sampling at twice the grid density; same exact
    * integer thresholding (p·120 > Σp); both words stay sign-safe.
    * Emits (doc_id, h0, h1) for [[Dedup.simhashPairsWide]].
    * PlanCached on the batch path like the narrow twin. */
  def ahashFingerprintsWide(docs: DataFrame): DataFrame = {
    def word(off: Int): String =
      s"""aggregate(sequence(0, 59), CAST(0 AS BIGINT), (acc, i) ->
          acc + IF(element_at(px, CAST(i + $off + 1 AS INT)) * 120 > sp,
            shiftleft(CAST(1 AS BIGINT), CAST(i AS INT)),
            CAST(0 AS BIGINT)))"""
    val fp = docs.filter(length(col("text")) >= 1)
      .select(col("doc_id"),
        expr("""transform(sequence(0, 119), i ->
          CAST(ascii(substring(text,
            CAST(1 + (i * length(text)) DIV 120 AS INT), 1)) AS BIGINT))""")
          .as("px"))
      .select(col("doc_id"), col("px"),
        expr("aggregate(px, CAST(0 AS BIGINT), (acc, x) -> acc + x)").as("sp"))
      .select(col("doc_id"),
        expr(word(0)).as("h0"), expr(word(60)).as("h1"))
    if (docs.isStreaming) fp
    else graft.ops.PlanCache.cached("ahash-120", docs)(fp)
  }

  /** e6-quantized 8-point DCT-II basis, row-major A[u·8+k] =
    * round(c(u)·cos(π(2k+1)u/16)·10⁶) with c(0)=√(1/8), c(u>0)=1/2 —
    * computed ONCE at build time in Scala and pasted as the same
    * integer literals into both the Spark plan and the oracle SQL, so
    * no engine ever evaluates a transcendental (the ModelWeights
    * convention: quantize the constants, keep the data math exact). */
  private[graft] val DctBasisE6: Seq[Long] =
    (for (u <- 0 until 8; k <- 0 until 8) yield {
      val c = if (u == 0) math.sqrt(1.0 / 8.0) else 0.5
      math.round(c * math.cos(math.Pi * (2 * k + 1) * u / 16.0) * 1e6)
    }).toSeq

  /** 63-bit DCT perceptual hash ("pHash", the frequency-domain
    * upgrade of [[ahashFingerprints]]): an 8×8 gray grid (the stub
    * samples payload characters at evenly spaced offsets — a real
    * decoder swaps in the downsampled luma grid and nothing
    * downstream changes), then the exact 2-D DCT + med2-threshold +
    * bit-pack fused into the native
    * [[graft.functions.DctHash63]] expression. The grid sampling
    * stays a column HOF (one transform per row — the single
    * expression reference means CollapseProject inlining evaluates it
    * once); everything past it is imperative in the expression, which
    * is what makes it tractable — the composed HOF chain inlined
    * stage-into-lambda and multiplied to ~10⁹ interpreted evals per
    * document (see the expression's doc). Where aHash only sees the
    * global mean, the DCT separates coarse structure from texture — a
    * brightness-shifted or noise-dusted copy keeps its low-frequency
    * signs, which is why production perceptual dedup is DCT-based.
    * Bit-deterministic; DuckDB replays the identical integer algebra
    * from the same [[DctBasisE6]] literals. Emits (doc_id, simhash)
    * for [[Dedup.simhashPairs]] banding; PlanCached on the batch path
    * like the aHash twins. */
  def dctFingerprints(docs: DataFrame): DataFrame = {
    val fp = docs.filter(length(col("text")) >= 1)
      .select(col("doc_id"),
        graft.functions.DctHash63.dctHash63(
          expr("""transform(sequence(0, 63), i ->
            CAST(ascii(substring(text,
              CAST(1 + (i * length(text)) DIV 64 AS INT), 1)) AS BIGINT))"""))
          .as("simhash"))
    if (docs.isStreaming) fp
    else graft.ops.PlanCache.cached("dct-63", docs)(fp)
  }

  /** Wrap any DataFrame with a binary `payload` column into the typed
    * asset shape. Metadata that is derivable without a codec
    * (byte_len) is computed as columns; codec-dependent fields start 0. */
  def toAssets(df: DataFrame, mediaType: String): DataFrame =
    df.select(
      col("asset_id"), lit(mediaType).as("media_type"), col("payload"),
      octet_length(col("payload")).cast("long").as("byte_len"),
      lit(0).as("width"), lit(0).as("height"),
      lit(16000).as("sample_rate"), lit(0L).as("duration_ms"))

  /** Decode pass: per-partition batch decode (the Scala analog of a
    * pandas-batch UDF — one decoder instance per partition, amortized
    * across the batch; payload bytes never cross the driver). */
  def decodeImages(assets: Dataset[MediaAsset], dec: MediaDecoder = StubDecoder)
      : Dataset[MediaAsset] = {
    implicit val enc = assets.encoder
    assets.mapPartitions { it =>
      it.map { a =>
        val (w, h) = dec.imageDims(a.payload)
        a.copy(width = w, height = h)
      }
    }
  }

  /** Audio decode pass: per-partition batch, filling duration from the
    * payload and configured sample rate (same contract as
    * [[decodeImages]]; swap the decoder for a real codec). */
  def decodeAudio(assets: Dataset[MediaAsset], dec: MediaDecoder = StubDecoder)
      : Dataset[MediaAsset] = {
    implicit val enc = assets.encoder
    assets.mapPartitions { it =>
      it.map(a => a.copy(duration_ms = dec.audioDurationMs(a.payload, a.sample_rate)))
    }
  }

  /** Resize planning: fit each image into a `maxSide`-bounded box
    * preserving aspect ratio — the geometry half of a batch resize.
    * The pixel work belongs to the swapped-in codec; this computes
    * (and records on the asset) exactly the target dims a codec would
    * apply, per partition like every other media pass. Images already
    * inside the box pass through unchanged — the no-upscale rule
    * training pipelines use. */
  def resizeImages(assets: Dataset[MediaAsset], maxSide: Int): Dataset[MediaAsset] = {
    implicit val enc = assets.encoder
    assets.mapPartitions { it =>
      it.map { a =>
        val side = math.max(a.width, a.height)
        if (side <= maxSide || side == 0) a
        else {
          val s = maxSide.toDouble / side
          a.copy(
            width = math.max(1, math.round(a.width * s).toInt),
            height = math.max(1, math.round(a.height * s).toInt))
        }
      }
    }
  }

  /** Feature extraction: payload bytes → dense Array[Float] vector,
    * batched per partition (the Scala analog of a pandas-batch UDF).
    * The STUB featurizer is a normalized 64-bin byte histogram —
    * deterministic and shape-compatible with the `embeddings` table,
    * so extracted features flow straight into graft.ext.Similarity
    * (media → features → ANN is the end-to-end multimodal path). A
    * real deployment swaps in a vision/audio encoder behind the same
    * signature. */
  def extractFeatures(assets: DataFrame, dims: Int = 64): DataFrame = {
    val spark = assets.sparkSession
    import spark.implicits._
    val rows = assets.select(col("asset_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, payload) =>
          val hist = new Array[Float](dims)
          var i = 0
          while (i < payload.length) { hist((payload(i) & 0xff) % dims) += 1f; i += 1 }
          val n = math.max(payload.length, 1).toFloat
          var j = 0
          while (j < dims) { hist(j) /= n; j += 1 }
          (id, hist)
        }
      }
    rows.toDF("vec_id", "embedding").withColumn("label", lit(0))
  }

  /** Frame sampling: n evenly spaced windows per video payload —
    * exploded to one row per frame, preserving asset metadata.
    *
    * Byte mode (default) slices the raw BINARY payload at byte offsets
    * — the shape a real codec consumes. `sliceChars = true` decodes the
    * payload as UTF-8 and samples CHARACTER windows at character
    * offsets instead: offsets and slice lengths are then defined in ONE
    * unit on both the engine and the (character-based DuckDB substr)
    * oracle, so results stay well-defined for multi-byte text payloads
    * — the registry's m_frame_sample uses this mode. */
  def sampleFrames(assets: DataFrame, nFrames: Int, frameLen: Int,
      sliceChars: Boolean = false): DataFrame = {
    val measured =
      if (sliceChars) assets.withColumn("frame_unit_len", length(col("payload").cast("string")).cast("long"))
      else assets.withColumn("frame_unit_len", col("byte_len"))
    val sliced = measured
      .withColumn("frame_idx", explode(sequence(lit(0), lit(nFrames - 1))))
      .withColumn("frame_off",
        (col("frame_idx").cast("long") * col("frame_unit_len") / nFrames).cast("long"))
      .withColumn("frame",
        if (sliceChars)
          expr(s"substring(cast(payload as string), cast(frame_off as int) + 1, $frameLen)")
        else
          expr(s"substring(payload, cast(frame_off as int) + 1, $frameLen)"))
    sliced.select(col("asset_id"), col("frame_idx"), col("frame_off"), col("frame"))
  }
}
