package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: image/audio/video as opaque `binary`
  * columns plus a typed metadata struct, with decode/feature-extract as
  * batched partition-local transforms.
  *
  * The image path is REAL end-to-end: [[BmpCodec]] is a pure-JVM
  * 24-bit BMP encoder/decoder, so `withBmpMedia` → [[extractFeatures]]
  * → [[resizeDecoded]] runs on actual decoded pixels. Formats needing
  * native codecs this container doesn't ship (JPEG/audio/video) fall
  * back to the honestly-labeled [[FakeCodec]] stub behind the same
  * seam — the plumbing (schema, partitioning, batch shape) is
  * identical either way.
  */
object Multimodal {

  val metaSchema: StructType = StructType(Seq(
    StructField("format", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("duration_ms", IntegerType),
    StructField("channels", IntegerType)))

  /** STUB decoder: deterministic bytes -> fixed-dim float feature
    * vector via a rolling hash (a real impl would JPEG-decode +
    * pool). Marked fake on purpose; everything around it is real.
    */
  object FakeCodec {
    def features(bytes: Array[Byte], dim: Int): Array[Float] = {
      val out = new Array[Float](dim)
      var h = 1125899906842597L
      var i = 0
      while (i < bytes.length) {
        h = 31 * h + bytes(i)
        out(math.floorMod(i, dim)) += (h % 1000L) / 1000.0f
        i += 1
      }
      out
    }
  }

  /** Attach a fake media payload + metadata to any table (test/dev
    * harness for the pipeline; production reads real binary columns).
    */
  def withFakeMedia(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("media", col(textCol).cast("binary"))
      .withColumn("meta", struct(
        lit("fake/raw").as("format"),
        (pmod(xxhash64(col(textCol)), lit(1920L)).cast("int") + 32)
          .as("width"),
        (pmod(xxhash64(col(textCol), lit(1)), lit(1080L)).cast("int") + 32)
          .as("height"),
        (pmod(xxhash64(col(textCol), lit(2)), lit(60000L)).cast("int"))
          .as("duration_ms"),
        lit(2).as("channels")))

  /** Attach REAL media: a deterministic synthetic BMP per row (keyed
    * off the text) with metadata read back from the actual encoded
    * image. Dev-harness generator; production reads real binary
    * columns with the same schema.
    */
  def withBmpMedia(df: DataFrame, textCol: String): DataFrame = {
    val outSchema = df.schema
      .add("media", BinaryType)
      .add("meta", metaSchema)
    val enc = RowEncoder.encoderFor(outSchema)
    val idx = df.schema.fieldIndex(textCol)
    df.mapPartitions { it =>
      it.map { r =>
        val bytes = BmpCodec.synthesize(String.valueOf(r.get(idx)))
        val (w, h, _) = BmpCodec.decode(bytes)
        Row.fromSeq(r.toSeq :+ bytes :+ Row("image/bmp", w, h, 0, 0))
      }
    }(enc)
  }

  /** Attach REAL audio: a deterministic synthetic 16-bit PCM WAV per
    * row with metadata (duration, channels) read back from the actual
    * encoded clip.
    */
  def withWavMedia(df: DataFrame, textCol: String): DataFrame = {
    val outSchema = df.schema
      .add("media", BinaryType)
      .add("meta", metaSchema)
    val enc = RowEncoder.encoderFor(outSchema)
    val idx = df.schema.fieldIndex(textCol)
    df.mapPartitions { it =>
      it.map { r =>
        val bytes = WavCodec.synthesize(String.valueOf(r.get(idx)))
        val (_, channels, _) = WavCodec.decode(bytes)
        val meta = Row("audio/wav", 0, 0, WavCodec.durationMs(bytes), channels)
        Row.fromSeq(r.toSeq :+ bytes :+ meta)
      }
    }(enc)
  }

  /** Feature extraction over the binary column: batched, partition-
    * local, no shuffle. Batches bound peak memory per task the way
    * arrow-batched decoders do; `dim` fixes the output schema. The
    * `codec` seam defaults to the real BMP decoder; pass
    * [[WavCodec.features]] for audio or `FakeCodec.features` for
    * formats without a JVM codec.
    */
  def extractFeatures(df: DataFrame, binaryCol: String, dim: Int,
                      batchSize: Int = 64, as: String = "features",
                      codec: (Array[Byte], Int) => Array[Float] =
                        BmpCodec.features): DataFrame = {
    val outSchema = df.schema.add(as, ArrayType(FloatType, containsNull = false))
    val enc = RowEncoder.encoderFor(outSchema)
    val idx = df.schema.fieldIndex(binaryCol)
    df.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.map { r =>
          val bytes = r.getAs[Array[Byte]](idx)
          val feats =
            if (bytes == null) new Array[Float](dim)
            else codec(bytes, dim)
          Row.fromSeq(r.toSeq :+ feats.toSeq)
        }
      }
    }(enc)
  }

  /** REAL resize: nearest-neighbor downscale of the decoded pixels so
    * max(w, h) <= maxSide, re-encoded in place; metadata recomputed
    * from the actual resized image. Partition-local, batched, no
    * shuffle — same scale shape as [[extractFeatures]].
    */
  def resizeDecoded(df: DataFrame, maxSide: Int,
                    binaryCol: String = "media",
                    metaCol: String = "meta"): DataFrame = {
    val enc = RowEncoder.encoderFor(df.schema)
    val bIdx = df.schema.fieldIndex(binaryCol)
    val mIdx = df.schema.fieldIndex(metaCol)
    df.mapPartitions { it =>
      it.map { r =>
        val bytes = r.getAs[Array[Byte]](bIdx)
        if (bytes == null) r
        else {
          val resized = BmpCodec.resize(bytes, maxSide)
          val (w, h, _) = BmpCodec.decode(resized)
          val m = r.getStruct(mIdx)
          val newMeta = Row(m.get(0), w, h, m.get(3), m.get(4))
          Row.fromSeq(r.toSeq.updated(bIdx, resized).updated(mIdx, newMeta))
        }
      }
    }(enc)
  }

  /** Perceptual 64-bit image hash (dHash) from REAL decoded pixels —
    * partition-local, batched, no shuffle (same scale shape as
    * [[extractFeatures]]): the narrow first stage of image near-dup
    * detection. Feed the result to [[Dedup.hammingBandPairs]] for the
    * banded candidate join — at 100 TB only the 8-byte hashes ever
    * shuffle, never pixels. Null media hashes to 0.
    */
  def phash(df: DataFrame, binaryCol: String, batchSize: Int = 64,
            as: String = "phash"): DataFrame = {
    val outSchema = df.schema.add(as, LongType)
    val enc = RowEncoder.encoderFor(outSchema)
    val idx = df.schema.fieldIndex(binaryCol)
    df.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.map { r =>
          val bytes = r.getAs[Array[Byte]](idx)
          val sig = if (bytes == null) 0L else BmpCodec.dhash64(bytes)
          Row.fromSeq(r.toSeq :+ sig)
        }
      }
    }(enc)
  }

  /** REAL pixel transform: decode, shift every channel by `delta`
    * (clamped to [0, 255]), re-encode — partition-local, batched, no
    * shuffle. The dev-harness mutation for perceptual-hash tests (a
    * brightness-shifted copy is BYTE-different, so exact dedup can't
    * see it, but adjacent-cell luma ORDER is preserved wherever no
    * channel clamps, so its dHash stays within a few bits).
    */
  def withBrightness(df: DataFrame, binaryCol: String,
                     delta: Int): DataFrame = {
    val enc = RowEncoder.encoderFor(df.schema)
    val idx = df.schema.fieldIndex(binaryCol)
    df.mapPartitions { it =>
      it.map { r =>
        val bytes = r.getAs[Array[Byte]](idx)
        if (bytes == null) r
        else {
          val (w, h, rgb) = BmpCodec.decode(bytes)
          val out = rgb.map(b =>
            math.max(0, math.min(255, (b & 0xff) + delta)).toByte)
          Row.fromSeq(r.toSeq.updated(idx, BmpCodec.encode(w, h, out)))
        }
      }
    }(enc)
  }

  /** Attach REAL video: a deterministic synthetic GVID clip per row
    * (scene A drifting into a hard cut to scene B at a row-keyed
    * frame — see [[VideoCodec.synthesize]]) with metadata read back
    * from the actual container. Completes the image/audio/VIDEO
    * multimodal triple; production reads real binary columns with the
    * same schema.
    */
  def withVideoMedia(df: DataFrame, textCol: String, idCol: String,
                     nFrames: Int = 8): DataFrame = {
    val outSchema = df.schema
      .add("media", BinaryType)
      .add("meta", metaSchema)
    val enc = RowEncoder.encoderFor(outSchema)
    val tIdx = df.schema.fieldIndex(textCol)
    val iIdx = df.schema.fieldIndex(idCol)
    df.mapPartitions { it =>
      it.map { r =>
        val cutAt = 2 + (math.floorMod(r.getLong(iIdx), 5L)).toInt
        val bytes = VideoCodec.synthesize(String.valueOf(r.get(tIdx)),
          nFrames, cutAt)
        val (frameMs, frames) = VideoCodec.decode(bytes)
        val meta = Row("video/gvid", 0, 0, frameMs * frames.length,
          frames.length)
        Row.fromSeq(r.toSeq :+ bytes :+ meta)
      }
    }(enc)
  }

  /** Decode + temporally sample a video column: one OUTPUT row per
    * sampled frame (`every`-th), carrying (frame_idx, ts_ms, the
    * frame's 64-bit dHash, mean luma) — partition-local, batched, no
    * shuffle, and the container is parsed ONCE per row with only the
    * sampled frames' pixels decoded. Downstream shot analytics
    * (cut = consecutive sampled dHashes far apart) is then plain
    * relational work over skinny rows — at 100 TB pixels never leave
    * the decode task; only 8-byte hashes + scalars do.
    */
  def videoFrames(df: DataFrame, binaryCol: String, every: Int,
                  batchSize: Int = 16): DataFrame = {
    val outSchema = df.schema
      .add("frame_idx", IntegerType)
      .add("ts_ms", IntegerType)
      .add("dhash", LongType)
      .add("luma", DoubleType)
    val enc = RowEncoder.encoderFor(outSchema)
    val idx = df.schema.fieldIndex(binaryCol)
    df.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.flatMap { r =>
          val bytes = r.getAs[Array[Byte]](idx)
          if (bytes == null) Iterator.empty
          else {
            val (frameMs, frames) = VideoCodec.decode(bytes)
            frames.zipWithIndex
              .filter { case (_, i) => i % every == 0 }
              .map { case (f, i) =>
                val (_, _, rgb) = BmpCodec.decode(f)
                var s = 0L
                var j = 0
                while (j < rgb.length) { s += (rgb(j) & 0xff); j += 1 }
                Row.fromSeq(r.toSeq :+ i :+ (i * frameMs) :+
                  BmpCodec.dhash64(f) :+ s.toDouble / rgb.length)
              }
          }
        }
      }
    }(enc)
  }

  /** 64-bit audio spectral fingerprint from REAL decoded samples
    * ([[WavCodec.fingerprint64]]: 2 frames × 32 geometric Goertzel
    * bands,
    * gain-invariant relative-energy bits) — partition-local, batched,
    * no shuffle; the audio twin of [[phash]]. Feed the result to
    * [[Dedup.hammingBandPairs]]: at 100 TB only 8-byte prints ever
    * shuffle, never waveforms. Null media prints to 0.
    */
  def audioFingerprint(df: DataFrame, binaryCol: String,
                       batchSize: Int = 64,
                       as: String = "afp"): DataFrame = {
    val outSchema = df.schema.add(as, LongType)
    val enc = RowEncoder.encoderFor(outSchema)
    val idx = df.schema.fieldIndex(binaryCol)
    df.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.map { r =>
          val bytes = r.getAs[Array[Byte]](idx)
          val sig = if (bytes == null) 0L else WavCodec.fingerprint64(bytes)
          Row.fromSeq(r.toSeq :+ sig)
        }
      }
    }(enc)
  }

  /** REAL waveform transform: decode, apply uniform gain + hash-keyed
    * low-level dither, re-encode ([[WavCodec.withGain]]) —
    * partition-local, no shuffle. The dev-harness mutation for audio
    * fingerprint tests (byte-different, perceptually the same tone).
    */
  def withAudioGain(df: DataFrame, binaryCol: String,
                    gain: Double): DataFrame = {
    val enc = RowEncoder.encoderFor(df.schema)
    val idx = df.schema.fieldIndex(binaryCol)
    df.mapPartitions { it =>
      it.map { r =>
        val bytes = r.getAs[Array[Byte]](idx)
        if (bytes == null) r
        else Row.fromSeq(r.toSeq.updated(idx,
          WavCodec.withGain(bytes, gain)))
      }
    }(enc)
  }

  /** Metadata-level resize: recompute width/height bounded by
    * `maxSide`, keep bytes (decode stubbed). Pure Column ops.
    */
  def resize(df: DataFrame, maxSide: Int): DataFrame = {
    val w = col("meta.width"); val h = col("meta.height")
    val scale = least(lit(1.0), lit(maxSide.toDouble) / greatest(w, h))
    df.withColumn("meta", struct(
      col("meta.format").as("format"),
      greatest(lit(1), (w * scale).cast("int")).as("width"),
      greatest(lit(1), (h * scale).cast("int")).as("height"),
      col("meta.duration_ms").as("duration_ms"),
      col("meta.channels").as("channels")))
  }

  /** Frame sampling plan for video-ish media: one row per sampled
    * frame timestamp (every `everyMs`), via sequence+explode — the
    * generate pattern that scales (no driver loop, no UDF).
    */
  def frameSample(df: DataFrame, everyMs: Int): DataFrame =
    df.withColumn("frame_ms",
      explode(sequence(lit(0), greatest(col("meta.duration_ms") - 1, lit(0)),
        lit(everyMs))))

  /** Per-frame window feature from REAL decoded samples: RMS over
    * [frame_ms, frame_ms + windowMs) of the row's WAV payload.
    * Partition-local, no shuffle. Each frame row re-decodes its media
    * (bounded by frames-per-doc; a production codec with seek support
    * would decode once per doc and stream windows — the plumbing shape
    * here is identical).
    */
  def frameWindowRms(df: DataFrame, binaryCol: String, frameMsCol: String,
                     windowMs: Int, as: String = "win_rms"): DataFrame = {
    val outSchema = df.schema.add(as, DoubleType)
    val enc = RowEncoder.encoderFor(outSchema)
    val bIdx = df.schema.fieldIndex(binaryCol)
    val fIdx = df.schema.fieldIndex(frameMsCol)
    df.mapPartitions { it =>
      it.map { r =>
        val bytes = r.getAs[Array[Byte]](bIdx)
        val frameMs = r.getAs[Number](fIdx).longValue()
        val rms =
          if (bytes == null) 0.0
          else WavCodec.windowRms(bytes, frameMs, windowMs)
        Row.fromSeq(r.toSeq :+ rms)
      }
    }(enc)
  }
}
