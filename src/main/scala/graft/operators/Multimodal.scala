package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal (image/audio/video) column plumbing.
  *
  * Media travels as opaque `binary` columns plus a typed metadata struct —
  * the columnar layout that keeps 100 TB of media scannable: metadata
  * predicates push down to parquet and prune row groups without touching
  * payload bytes; payloads stream through `mapPartitions` in bounded
  * batches so executor memory stays flat.
  *
  * Codec boundary (settled in r10): IMAGE decode is REAL for the formats
  * the JDK itself ships codecs for — PNG/BMP/GIF/JPEG through
  * javax.imageio ([[decodeLumaGrid]] → [[phashDecoded]] /
  * [[decodedNearDuplicates]], spec-gated on planted images) — and AUDIO
  * decode is REAL for the containers javax.sound.sampled parses
  * (WAV/AU/AIFF PCM, [[decodeAudioSamples]] → [[audioFingerprintDecoded]]
  * / [[decodedAudioNearDuplicates]], spec-gated on planted waveforms).
  * Only VIDEO demux has no JDK codec and stays stubbed — a FINAL
  * declared boundary (round-11 probe: no ffmpeg/jcodec/javacv in the
  * environment, zero egress): `decodeStub` derives a deterministic fake
  * feature vector from the payload bytes, and the Spark-side contract —
  * schema, batching, partitioning, null passthrough — is real and
  * tested; swap `decodeStub`'s body for a JNI/ffmpeg call in production.
  */
object Multimodal {

  /** Typed metadata carried beside every media payload. */
  case class MediaMeta(
      mediaType: String, // "image" | "audio" | "video"
      format: String,    // "jpeg", "wav", ...
      width: Int,
      height: Int,
      durationMs: Long)

  case class MediaRow(id: Long, meta: MediaMeta, payload: Array[Byte])

  case class MediaFeatures(id: Long, featureDim: Int, features: Array[Float])

  /** Synthesize a deterministic media table from any keyed source (test
    * fixture: payload bytes derived from the id).
    */
  def synthetic(spark: SparkSession, n: Int, payloadBytes: Int = 256): Dataset[MediaRow] = {
    import spark.implicits._
    spark.range(n).map { r =>
      val id = r
      val rnd = new java.util.Random(id) // deterministic per id
      val payload = new Array[Byte](payloadBytes)
      rnd.nextBytes(payload)
      MediaRow(id,
        MediaMeta(if (id % 3 == 0) "image" else if (id % 3 == 1) "audio" else "video",
          if (id % 3 == 0) "jpeg" else if (id % 3 == 1) "wav" else "mp4",
          width = 64 + (id % 8).toInt * 32, height = 64 + (id % 5).toInt * 32,
          durationMs = if (id % 3 == 0) 0L else 1000L + id % 60000),
        payload)
    }
  }

  /** STUB decode (FINAL boundary, round-11 environment probe: no
    * ffmpeg/jcodec/javacv available and zero egress): deterministic fake
    * "embedding" from payload bytes. The swap point for a real codec is
    * exactly this function body; everything around it is real and tested.
    */
  private[operators] def decodeStub(payload: Array[Byte], dim: Int): Array[Float] = {
    val out = new Array[Float](dim)
    var h = 1125899906842597L
    var i = 0
    while (i < payload.length) { h = 31 * h + payload(i); i += 1 }
    val rnd = new java.util.Random(h)
    var j = 0
    while (j < dim) { out(j) = rnd.nextFloat() * 2f - 1f; j += 1 }
    out
  }

  /** Decode/feature-extract: partition-streaming over binary payloads in
    * bounded batches (the `mapInPandas` batch shape, Scala-side). Null or
    * empty payloads pass through as empty feature arrays rather than
    * failing the task.
    */
  def extractFeatures(media: Dataset[MediaRow], dim: Int = 64,
      batchSize: Int = 128): Dataset[MediaFeatures] = {
    implicit val enc: Encoder[MediaFeatures] = Encoders.product[MediaFeatures]
    media.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        // batch boundary = where a real codec would init/reuse native ctx
        batch.iterator.map { m =>
          if (m.payload == null || m.payload.isEmpty)
            MediaFeatures(m.id, 0, Array.empty)
          else MediaFeatures(m.id, dim, decodeStub(m.payload, dim))
        }
      }
    }
  }

  /** Resize stub: maps payloads to new dimensions, updating the metadata
    * struct and deriving a deterministic resized payload (scaled length).
    * The real implementation swaps the payload transform for an image
    * library; the Spark contract — metadata stays queryable/pushdown-able,
    * payload transforms stream per partition — is what's tested.
    */
  def resize(media: Dataset[MediaRow], width: Int, height: Int): Dataset[MediaRow] = {
    implicit val enc: Encoder[MediaRow] = Encoders.product[MediaRow]
    media.mapPartitions { it =>
      it.map { m =>
        if (m.meta.mediaType != "image") m
        else {
          val scale = (width.toLong * height) /
            math.max(m.meta.width.toLong * m.meta.height, 1L).toDouble
          val newLen = math.max(1, (m.payload.length * scale).toInt)
          val resized = java.util.Arrays.copyOf(m.payload, newLen)
          m.copy(meta = m.meta.copy(width = width, height = height), payload = resized)
        }
      }
    }
  }

  /** Build a media table from any (id, text) source with engine-portable
    * column arithmetic: media type/format/dims derived from the id,
    * payload = the text's UTF-8 bytes. Gives the binary-column plumbing a
    * deterministic, SQL-checkable surface (a real corpus loads real bytes
    * through the same schema); pure Column ops, so it scales as one
    * narrow stage.
    */
  def fromKeyedText(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val id = col(idCol)
    df.select(id.as("id"),
      struct(
        when(pmod(id, lit(3)) === 0, "image")
          .when(pmod(id, lit(3)) === 1, "audio").otherwise("video").as("mediaType"),
        when(pmod(id, lit(3)) === 0, "jpeg")
          .when(pmod(id, lit(3)) === 1, "wav").otherwise("mp4").as("format"),
        (lit(64) + pmod(id, lit(8)) * 32).cast("int").as("width"),
        (lit(64) + pmod(id, lit(5)) * 32).cast("int").as("height"),
        when(pmod(id, lit(3)) === 0, lit(0L))
          .otherwise(lit(1000L) + pmod(id, lit(60000))).as("durationMs")).as("meta"),
      encode(col(textCol), "UTF-8").as("payload"))
  }

  /** Integer average-hash perceptual signature of the payload bytes —
    * [[graft.functions.PhashBytes]]: cells over the byte stream, bit =
    * cell mean vs payload mean by exact integer cross-multiply, so the
    * signature is engine-replayable (for an ASCII-text-derived fixture
    * payload a DuckDB oracle recomputes it character-by-character — the
    * q_io_binary_files ASCII-corpus assumption). This closes the DEDUP
    * half of the multimodal boundary without a codec: a real deployment
    * swaps the byte stream for decoded luma pixels and keeps everything
    * downstream (banding, verify, clustering) unchanged.
    */
  def phash(payload: org.apache.spark.sql.Column, bits: Int = 60): org.apache.spark.sql.Column =
    graft.functions.HashExpressions.phashBytes(payload, bits)

  /** Perceptual near-duplicate payload pairs within `maxHamming` bits,
    * through the SAME chunk-LSH spine as simhash text dedup
    * ([[Dedup.simhashPairsFromSigs]]): pigeonhole chunking → bucket join →
    * first-agreeing-chunk exact-once filter → exact Hamming verify. One
    * narrow signature pass over payloads (never shuffled), then all
    * quadratic work confined inside chunk buckets — the 100 TB shape.
    */
  def payloadNearDuplicates(df: DataFrame, idCol: String, payloadCol: String,
      maxHamming: Int = 3, bits: Int = 60): DataFrame = {
    val sigs = Materialize.once(df.select(col(idCol).as("__id"),
      phash(col(payloadCol), bits).as("__sig")))
    Dedup.simhashPairsFromSigs(sigs, maxHamming)
  }

  /** REAL codec for the formats the JDK itself decodes (PNG, BMP, GIF,
    * JPEG via javax.imageio — no external library): payload bytes →
    * integer BT.601 luma plane box-downsampled to a `grid`×`grid` byte
    * matrix, the canonical average-hash input. Returns None for payloads
    * ImageIO cannot decode (truncated, not an image, unsupported format)
    * — flagged downstream, never a task failure. This closes the declared
    * codec stub boundary for one real path; audio/video demux stays out
    * of scope (no JDK codec exists).
    *
    * All-integer arithmetic (sums + one division per grid cell), so the
    * luma grid — and everything hashed from it — is deterministic across
    * JVMs/platforms for a given decoded pixel matrix.
    */
  private[graft] def decodeLumaGrid(payload: Array[Byte], grid: Int = 8): Option[Array[Byte]] = {
    if (payload == null || payload.length == 0) return None
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      if (img == null || img.getWidth < 1 || img.getHeight < 1) None
      else {
        val w = img.getWidth
        val h = img.getHeight
        val sums = new Array[Long](grid * grid)
        val counts = new Array[Long](grid * grid)
        var y = 0
        while (y < h) {
          val gy = (y.toLong * grid / h).toInt
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            val luma = (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
              (rgb & 0xff) * 114) / 1000
            val c = gy * grid + (x.toLong * grid / w).toInt
            sums(c) += luma
            counts(c) += 1
            x += 1
          }
          y += 1
        }
        Some(Array.tabulate(grid * grid)(c =>
          (if (counts(c) == 0) 0L else sums(c) / counts(c)).toByte))
      }
    } catch { case _: Exception => None }
  }

  /** Perceptual hash of the DECODED pixels: javax.imageio decode →
    * 8×8 luma grid → [[graft.functions.PhashBytes]] over the 64 grid
    * bytes (each hash cell ≈ one grid cell vs the whole-image mean — the
    * classic average-hash). Unlike the byte-level [[phash]], two
    * encodings of the SAME pixels (a PNG and a BMP of one image) hash
    * EQUAL, and re-encoded/nearly-identical images land within a small
    * Hamming distance — the property a dedup signature over media needs.
    *
    * Decode streams per partition in bounded batches (the
    * [[extractFeatures]] shape); undecodable payloads get a null hash and
    * a false `decoded` flag rather than failing the task or silently
    * falling back to byte hashing. Output: (id, decoded, phash).
    */
  def phashDecoded(media: Dataset[MediaRow], bits: Int = 60,
      batchSize: Int = 128): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        // batch boundary = where a real native codec would reuse its ctx
        batch.iterator.map(m => (m.id, decodeLumaGrid(m.payload)))
      }
    }.toDF("id", "__grid")
      .select(col("id"), col("__grid").isNotNull.as("decoded"),
        when(col("__grid").isNotNull, phash(col("__grid"), bits)).as("phash"))
  }

  /** REAL feature extraction for decodable images: the normalized,
    * mean-centered luma grid as the feature vector (the classic
    * raw-pixel baseline embedding — what you'd feed IVF/PQ before a
    * learned model exists). Decoded rows carry featureDim = grid², the
    * values in [-1, 1] (luma/127.5 − 1 shifted by the grid mean so
    * brightness cancels); undecodable payloads fall back to the declared
    * [[decodeStub]] so the pipeline shape (every row gets a vector of
    * the same dim) is preserved and the stub boundary stays visible in
    * the `decoded` flag rather than silently changing schema. Feeds the
    * existing ANN surface ([[graft.operators.Similarity]]) unchanged.
    * Output: Dataset[(id, decoded, features)] via DataFrame columns
    * (id, decoded, featureDim, features).
    */
  def extractFeaturesDecoded(media: Dataset[MediaRow], grid: Int = 8,
      batchSize: Int = 128): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    val dim = grid * grid
    media.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { m =>
          decodeLumaGrid(m.payload, grid) match {
            case Some(g) =>
              val raw = g.map(b => (b & 0xff) / 127.5f - 1f)
              val mean = raw.sum / dim
              (m.id, true, dim, raw.map(_ - mean))
            case None =>
              (m.id, false, dim,
                if (m.payload == null || m.payload.isEmpty) new Array[Float](dim)
                else decodeStub(m.payload, dim))
          }
        }
      }
    }.toDF("id", "decoded", "featureDim", "features")
  }

  /** Perceptual near-duplicate pairs over DECODED pixels — the
    * [[payloadNearDuplicates]] spine (pigeonhole chunk-LSH → bucket join
    * → exact Hamming verify) fed by [[phashDecoded]] instead of the byte
    * hash, so visually-identical media dedup across container formats.
    * Undecodable rows are excluded (no signature exists for them).
    */
  def decodedNearDuplicates(media: Dataset[MediaRow], maxHamming: Int = 3,
      bits: Int = 60): DataFrame = {
    val sigs = Materialize.once(phashDecoded(media, bits)
      .where(col("decoded"))
      .select(col("id").as("__id"), col("phash").as("__sig")))
    Dedup.simhashPairsFromSigs(sigs, maxHamming)
  }

  /** Metadata-only filter that never touches payload bytes — verifies (via
    * .explain) that payload columns are pruned from the scan when only
    * meta predicates/projections are used.
    */
  def filterByMeta(media: DataFrame, mediaType: String, minWidth: Int): DataFrame =
    media.where(col("meta.mediaType") === mediaType && col("meta.width") >= minWidth)
      .select(col("id"), col("meta"))

  // ---- Audio lane ---------------------------------------------------

  /** Sign-of-delta-frame-energy acoustic fingerprint of the payload's
    * samples — [[graft.functions.AudioFingerprint]]: `bits`+1 frames,
    * per-frame integer energy, bit = "energy rose into this frame". The
    * energy-CONTOUR hash (amplitude-invariant), the audio analog of
    * [[phash]]'s brightness-grid hash; for an ASCII-text-derived fixture
    * payload a DuckDB oracle replays it character-by-character.
    */
  def audioFingerprint(payload: org.apache.spark.sql.Column,
      bits: Int = 60): org.apache.spark.sql.Column =
    graft.functions.HashExpressions.audioFingerprint(payload, bits)

  /** Acoustic near-duplicate payload pairs within `maxHamming` bits —
    * the [[payloadNearDuplicates]] chunk-LSH spine fed by the audio
    * fingerprint: one narrow signature pass, quadratic work confined
    * inside chunk buckets.
    */
  def audioNearDuplicates(df: DataFrame, idCol: String, payloadCol: String,
      maxHamming: Int = 3, bits: Int = 60): DataFrame = {
    val sigs = Materialize.once(df.select(col(idCol).as("__id"),
      audioFingerprint(col(payloadCol), bits).as("__sig")))
    Dedup.simhashPairsFromSigs(sigs, maxHamming)
  }

  /** Minimal RIFF/WAVE container around 16-bit little-endian mono PCM —
    * the fixture-side encoder for the REAL decode path (the decode goes
    * through javax.sound's WAV parser, not this writer, so round-trip
    * specs exercise a genuine codec boundary).
    */
  private[graft] def wavBytes(samples: Array[Int], sampleRate: Int = 8000): Array[Byte] = {
    val dataLen = samples.length * 2
    val buf = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1) // PCM, mono
      .putInt(sampleRate).putInt(sampleRate * 2).putShort(2).putShort(16)
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    samples.foreach(s => buf.putShort(s.toShort))
    buf.array()
  }

  /** Minimal Sun AU container around 16-bit BIG-endian mono PCM — the
    * second real JDK-parsed container, so cross-container identity specs
    * (WAV vs AU of the same waveform) go through two genuinely different
    * parsers and byte orders.
    */
  private[graft] def auBytes(samples: Array[Int], sampleRate: Int = 8000): Array[Byte] = {
    val dataLen = samples.length * 2
    val buf = java.nio.ByteBuffer.allocate(24 + dataLen)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    buf.put(".snd".getBytes("US-ASCII")).putInt(24).putInt(dataLen)
      .putInt(3) // encoding 3 = 16-bit linear PCM
      .putInt(sampleRate).putInt(1) // mono
    samples.foreach(s => buf.putShort(s.toShort))
    buf.array()
  }

  /** REAL audio codec for the containers the JDK itself parses (WAV, AU,
    * AIFF via javax.sound.sampled — no external library): payload bytes →
    * signed 16-bit mono PCM samples. Non-16-bit or multi-channel streams
    * are converted through AudioSystem's PCM_SIGNED conversion (channel 0
    * kept), so every decodable payload lands in ONE canonical sample
    * space and two containers of the same waveform decode identically.
    * Returns None for payloads javax.sound cannot parse (truncated, not
    * audio, unsupported) — flagged downstream, never a task failure.
    */
  private[graft] def decodeAudioSamples(payload: Array[Byte]): Option[Array[Int]] = {
    if (payload == null || payload.length == 0) return None
    try {
      val raw = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
      val f = raw.getFormat
      val target = new javax.sound.sampled.AudioFormat(
        javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
        f.getSampleRate, 16, f.getChannels, f.getChannels * 2, f.getSampleRate, false)
      val in =
        if (f.matches(target)) raw
        else javax.sound.sampled.AudioSystem.getAudioInputStream(target, raw)
      val bytes = in.readAllBytes()
      val ch = in.getFormat.getChannels
      val n = bytes.length / (2 * ch)
      val out = new Array[Int](n)
      var i = 0
      while (i < n) {
        val off = i * 2 * ch // channel 0 of frame i, little-endian
        out(i) = ((bytes(off + 1).toInt << 8) | (bytes(off) & 0xff))
        i += 1
      }
      Some(out)
    } catch { case _: Exception => None }
  }

  /** Acoustic fingerprint of the DECODED samples: javax.sound decode →
    * [[graft.functions.AudioFingerprint.hashSamples]] over the PCM
    * stream (the same energy/bit arithmetic as the byte lane). Two
    * containers of the SAME waveform (a WAV and an AU) fingerprint
    * EQUAL, and amplitude-rescaled copies fingerprint EQUAL — the
    * properties an audio dedup signature needs. Decode streams per
    * partition in bounded batches; unparseable payloads get a null hash
    * and a false `decoded` flag. Output: (id, decoded, afp).
    */
  def audioFingerprintDecoded(media: Dataset[MediaRow], bits: Int = 60,
      batchSize: Int = 128): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { m =>
          decodeAudioSamples(m.payload) match {
            case Some(s) =>
              (m.id, true, Some(graft.functions.AudioFingerprint.hashSamples(s, bits)))
            case None => (m.id, false, None: Option[Long])
          }
        }
      }
    }.toDF("id", "decoded", "afp")
  }

  /** REAL feature extraction for decodable audio: the per-frame
    * log-free RMS contour as the feature vector (frame energies from the
    * same partition as the fingerprint, each √(E/cnt) normalized by the
    * stream's peak RMS so amplitude cancels) — the classic cheap
    * audio embedding before a learned model exists, ANN-composable like
    * the image luma grid. Undecodable payloads fall back to the declared
    * [[decodeStub]] with `decoded=false`, preserving the
    * every-row-gets-a-vector pipeline shape. Output: (id, decoded,
    * featureDim, features).
    */
  def audioFeaturesDecoded(media: Dataset[MediaRow], frames: Int = 32,
      batchSize: Int = 128): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { m =>
          decodeAudioSamples(m.payload) match {
            case Some(s) if s.nonEmpty =>
              val e = new Array[Long](frames)
              val cnt = new Array[Long](frames)
              var i = 0
              while (i < s.length) {
                val f = ((i.toLong * frames) / s.length).toInt
                e(f) += s(i).toLong * s(i); cnt(f) += 1
                i += 1
              }
              val rms = Array.tabulate(frames)(f =>
                if (cnt(f) == 0) 0f else math.sqrt(e(f).toDouble / cnt(f)).toFloat)
              val peak = rms.max
              (m.id, true, frames,
                if (peak == 0f) rms else rms.map(_ / peak))
            case _ =>
              (m.id, false, frames,
                if (m.payload == null || m.payload.isEmpty) new Array[Float](frames)
                else decodeStub(m.payload, frames))
          }
        }
      }
    }.toDF("id", "decoded", "featureDim", "features")
  }

  /** Acoustic near-duplicate pairs over DECODED samples — the
    * [[decodedNearDuplicates]] spine fed by [[audioFingerprintDecoded]],
    * so the same waveform dedups across container formats and amplitude
    * scalings. Unparseable rows are excluded (no signature exists).
    */
  def decodedAudioNearDuplicates(media: Dataset[MediaRow], maxHamming: Int = 3,
      bits: Int = 60): DataFrame = {
    val sigs = Materialize.once(audioFingerprintDecoded(media, bits)
      .where(col("decoded"))
      .select(col("id").as("__id"), col("afp").as("__sig")))
    Dedup.simhashPairsFromSigs(sigs, maxHamming)
  }

  // ---- Video lane ---------------------------------------------------

  /** Scene-change keyframe selection over a fixed-frame-size payload: the
    * payload is sliced into `frameBytes` frames (a raw/uncompressed
    * container; a real demuxer would replace the slicing, everything
    * downstream is codec-free), each frame perceptually hashed
    * ([[phash]]), and a frame is a KEYFRAME when its hash moves more than
    * `changeBits` Hamming bits from the previous frame — the classic
    * cheap shot-boundary detector, reduced to its integer core.
    *
    * Pure Column ops end-to-end: a `transform(sequence(...))` slice +
    * posexplode (one narrow stage, payload read once), the codegen'd
    * [[graft.functions.PhashBytes]] per frame, and a per-video `lag`
    * window (frames-per-video is bounded by payload size, so the window
    * partition never skews; videos distribute across executors on id).
    * All-integer ⇒ a DuckDB oracle replays it exactly.
    *
    * Output: (id, frame_index, fhash, hamming_prev [−1 for frame 0],
    * keyframe 1/0).
    */
  def keyframes(df: DataFrame, idCol: String, payloadCol: String,
      frameBytes: Int = 64, changeBits: Int = 10): DataFrame = {
    require(frameBytes > 0, s"frameBytes must be positive, got $frameBytes")
    import org.apache.spark.sql.expressions.Window
    val fb = frameBytes
    val framed = df
      .select(col(idCol).as("id"), col(payloadCol).as("payload"))
      .select(col("id"), posexplode(expr(
        // greatest(..., 0) keeps sequence() ascending for empty payloads;
        // the length(frame) > 0 filter then drops the one empty slice
        s"""transform(sequence(0, greatest((length(payload) + $fb - 1) div $fb - 1, 0)),
            f -> substring(payload, f * $fb + 1, $fb))""")))
      .withColumnsRenamed(Map("pos" -> "frame_index", "col" -> "frame"))
      .where(length(col("frame")) > 0)
    val w = Window.partitionBy("id").orderBy("frame_index")
    framed
      .select(col("id"), col("frame_index"), phash(col("frame")).as("fhash"))
      .withColumn("__prev", lag(col("fhash"), 1).over(w))
      .select(col("id"), col("frame_index"), col("fhash"),
        when(col("__prev").isNull, lit(-1))
          .otherwise(expr("bit_count(fhash ^ __prev)")).cast("int").as("hamming_prev"),
        when(col("__prev").isNull ||
          expr("bit_count(fhash ^ __prev)") > changeBits, lit(1))
          .otherwise(lit(0)).cast("int").as("keyframe"))
  }

  /** Frame-sample stub for video: emit every `stride`-th synthetic frame
    * reference (real impl would demux; the Spark shape — one row per
    * sampled frame, bounded memory — is the point).
    */
  def sampleFrames(media: Dataset[MediaRow], stride: Int = 10): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter((m: MediaRow) => m.meta.mediaType == "video")
      .flatMap { m =>
        val frames = (m.meta.durationMs / 1000L * 30L).toInt // 30fps fake
        (0 until frames by stride).map(f => (m.id, f))
      }.toDF("id", "frame_index")
  }
}
