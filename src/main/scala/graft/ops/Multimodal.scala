package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Media record as it would arrive from a lake: opaque bytes + typed
  * metadata. */
case class MediaRecord(doc_id: Long, payload: Array[Byte], width: Int, height: Int)

/** Features produced by the decode stage. */
case class MediaFeatures(
    doc_id: Long, n_bytes: Long, head_byte: Int, tail_byte: Int,
    brightness: Int, width: Int, height: Int)

/** One sampled frame emitted by the frame-sampling stage. */
case class MediaFrame(doc_id: Long, frame_idx: Long, frame_bytes: Long, frame_md5: String)

/** Multimodal-column pipeline (SURVEY §7.4): treat media as opaque `binary`
  * payloads with typed metadata, and run a decode/feature-extract stage as a
  * typed `mapPartitions` over the bytes — the Scala analogue of a
  * batched-UDF decode stage (one iterator per partition, so a real decoder
  * would amortize its codec/model initialization per partition, not per row).
  *
  * The JDK ships real codecs for three modalities and those paths use
  * them — PNG via `javax.imageio` ([[MultimodalPipeline.imageStats]]),
  * WAV/PCM via `javax.sound.sampled`
  * ([[MultimodalPipeline.audioStats]]), and multi-frame VIDEO via the
  * animated-GIF reader ([[MultimodalPipeline.videoStats]] — real
  * container parse, real per-frame LZW decode, uniform keyframe stride).
  * [[MultimodalPipeline.decodeStub]]/[[MultimodalPipeline.frameSampleStub]]
  * remain as the CODEC-FREE baseline over opaque payloads (byte-level
  * features and fixed-width slicing — what a pipeline runs on formats it
  * has no decoder for), exercising the same binary-column plumbing.
  */
object MultimodalPipeline {

  /** STUB decode (VIDEO-class payloads — the JDK ships no video codec;
    * the image and audio paths run real decodes): replace with a real
    * codec. Deterministic pure function of the payload bytes + metadata. */
  def decodeStub(r: MediaRecord): MediaFeatures = {
    val n = r.payload.length
    val head = if (n > 0) r.payload(0) & 0xff else 0
    val tail = if (n > 0) r.payload(n - 1) & 0xff else 0
    MediaFeatures(r.doc_id, n.toLong, head, tail, (head + tail) / 2, r.width, r.height)
  }

  /** Binary "media" records synthesized from `documents` (UTF-8 payload
    * bytes; width/height from metadata arithmetic) — the testdata has no real
    * media column, so the text bytes stand in as the opaque payload. */
  def mediaRecords(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .filter(length(col("text")) > 0)
      .select(
        col("doc_id"),
        encode(col("text"), "UTF-8").as("payload"),
        (col("n_chars") % 640).cast("int").as("width"),
        ((col("doc_id") * 37) % 480).cast("int").as("height"))

  /** Decode/feature-extract over partition-batched binary payloads. */
  def features(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    mediaRecords(s, d)
      .as[MediaRecord]
      .mapPartitions(_.map(decodeStub))
      .toDF()
      .select(col("doc_id"), col("n_bytes"),
        col("head_byte").cast("long").as("head_byte"),
        col("tail_byte").cast("long").as("tail_byte"),
        col("brightness").cast("long").as("brightness"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"))
  }

  /** Fixed frame width (bytes) the sampler slices the payload into. */
  private val frameSize = 32

  /** At most this many frames are kept per document. */
  private val maxFrames = 4L

  /** STUB frame-sample: the payload is treated as a sequence of fixed-size
    * frames (a real video pipeline gets these from the container index) and
    * a uniform stride keeps ≤ [[maxFrames]] of them — the standard
    * "N keyframes per clip" sampling a training pipeline does BEFORE the
    * expensive per-frame model. Emits each kept frame's index, byte length
    * (the tail frame may run short), and content digest. Pure function of
    * the bytes — a codec drop-in replaces the slicing, not the plumbing. */
  def frameSampleStub(r: MediaRecord): Iterator[MediaFrame] = {
    val n = r.payload.length
    val frames = ((n + frameSize - 1) / frameSize).toLong
    val stride = math.max(1L, math.ceil(frames.toDouble / maxFrames).toLong)
    Iterator.range(0L, frames, stride).map { i =>
      val off = (i * frameSize).toInt
      val len = math.min(frameSize, n - off)
      val bytes = java.util.Arrays.copyOfRange(r.payload, off, off + len)
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(bytes).map("%02x".format(_)).mkString
      MediaFrame(r.doc_id, i, len.toLong, md5)
    }
  }

  /** Frame sampling over partition-batched payloads (one flatMap row per
    * kept frame — output volume is bounded by maxFrames × documents, never
    * by payload size). */
  def frames(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    mediaRecords(s, d)
      .as[MediaRecord]
      .mapPartitions(_.flatMap(frameSampleStub))
      .toDF()
      .select(col("doc_id"), col("frame_idx"), col("frame_bytes"), col("frame_md5"))
  }

  /** Deterministic GRAY pixel formula for the VIDEO fixtures — pure
    * integer arithmetic in (doc_id, frame, x, y), the video twin of
    * [[pix]]: the oracle recomputes the expected per-frame statistics
    * without any codec, so a decode that misparses the GIF container, the
    * frame count, or the palette cannot hash-match (GIF's LZW is
    * lossless and the fixture writes its own 256-gray palette). */
  private[ops] def vidGray(docId: Long, f: Long, x: Long, y: Long): Int =
    ((docId * 7 + f * 11 + x * 3 + y * 5) % 256).toInt

  /** Frame count 2..5 — past [[maxFrames]] at 5, so the keyframe stride
    * actually bites on a quarter of the fixtures. */
  private[ops] def vidFrames(docId: Long): Int = (2 + docId % 4).toInt
  private def vidW(docId: Long): Int = (8 + docId % 5).toInt
  private def vidH(docId: Long): Int = (8 + (docId * 3) % 5).toInt

  /** Real multi-frame VIDEO containers, one per document: an animated GIF
    * (the one multi-frame video container the JDK ships a real codec for —
    * round-13 verdict #4) of [[vidFrames]] frames whose gray pixels follow
    * [[vidGray]], written frame-by-frame through `javax.imageio`'s GIF
    * sequence writer with an explicit 256-gray palette (palette-exact:
    * no quantizer in the loop). FIXTURE half only — everything downstream
    * of the `binary` column is the production path, the [[imageRecords]]
    * discipline. */
  def videoRecords(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"))
      .as[Long]
      .mapPartitions { ids =>
        val grays = Array.tabulate(256)(_.toByte)
        val cm = new java.awt.image.IndexColorModel(8, 256, grays, grays, grays)
        ids.map(id => (id, encodeGif(id, vidFrames(id), cm)))
      }
      .toDF("doc_id", "gif")
  }

  /** One clip's GIF bytes — the fixture encoder shared by the full-length
    * corpus and the trimmed-copy variants (`nFrames` is the caller's, so
    * a trimmed clip is a genuinely re-encoded shorter container, not a
    * byte-sliced one). */
  private def encodeGif(id: Long, nFrames: Int,
      cm: java.awt.image.IndexColorModel): Array[Byte] = {
    val w = vidW(id); val h = vidH(id)
    val out = new java.io.ByteArrayOutputStream()
    val writer = javax.imageio.ImageIO
      .getImageWritersByFormatName("gif").next()
    val ios = javax.imageio.ImageIO.createImageOutputStream(out)
    // try/finally: ImageOutputStream may hold an on-disk cache file
    // (ImageIO.useCache default) — a throw must not leak it on a
    // long-lived executor
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      var f = 0
      while (f < nFrames) {
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, cm)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            img.getRaster.setSample(x, y, 0, vidGray(id, f, x, y))
            x += 1
          }
          y += 1
        }
        writer.writeToSequence(
          new javax.imageio.IIOImage(img, null, null), null)
        f += 1
      }
      writer.endWriteSequence()
    } finally {
      writer.dispose()
      ios.close()
    }
    out.toByteArray
  }

  /** REAL video decode (`x_mm_video_stats`): `javax.imageio`'s GIF reader
    * parses the animated container — `getNumImages` walks the frame
    * directory, `read(i)` LZW-decodes actual frame pixels — so the video
    * modality now holds the same no-stub standard as the PNG and WAV
    * paths. Keyframe sampling keeps ≤ [[maxFrames]] frames per clip by
    * uniform stride (the [[frameSampleStub]] semantics, applied to REAL
    * container frames — only the kept frames are decoded, the skipped
    * ones cost a directory walk, not an LZW pass); per kept frame it
    * emits width/height and the exact gray sum — the brightness signal a
    * video-curation gate thresholds before the per-frame model stages.
    * Decode runs in `mapPartitions`; output is O(maxFrames) per clip
    * regardless of resolution or duration. */
  def videoStats(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    videoRecords(s, d)
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, gif) =>
        val iis = javax.imageio.ImageIO.createImageInputStream(
          new java.io.ByteArrayInputStream(gif))
        val reader = javax.imageio.ImageIO
          .getImageReadersByFormatName("gif").next()
        // try/finally: a malformed container throws out of the parse (the
        // intended fail-loudly path) — the ImageInputStream may back onto
        // an on-disk cache file (ImageIO.useCache default) and retried
        // failing tasks on a long-lived executor must not leak it
        try {
          reader.setInput(iis)
          val nf = reader.getNumImages(true)
          val stride = math.max(1, math.ceil(nf.toDouble / maxFrames).toInt)
          (0 until nf by stride).map { fi =>
            val img = reader.read(fi)
            val w = img.getWidth; val h = img.getHeight
            var sum = 0L
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                sum += (img.getRGB(x, y) & 0xff).toLong // gray: B == G == R
                x += 1
              }
              y += 1
            }
            (id, fi.toLong, w.toLong, h.toLong, sum)
          }.toList
        } finally {
          reader.dispose()
          iis.close()
        }
      })
      .toDF("doc_id", "frame_idx", "width", "height", "gray_sum")
  }

  /** Deterministic RGB pixel formula for the PNG fixtures — pure integer
    * arithmetic in (doc_id, x, y), so the DuckDB oracle can compute the
    * EXPECTED channel statistics without any codec: if [[imageStats]]'s
    * real decode disagrees, the decode (not the oracle) is wrong. PNG is
    * lossless, so agreement is exact by construction. */
  private[ops] def pix(docId: Long, x: Long, y: Long): (Int, Int, Int) = (
    (((docId + 7 * x + 13 * y) % 256).toInt),
    (((2 * docId + 5 * x + 11 * y) % 256).toInt),
    (((3 * docId + x * y) % 256).toInt))

  /** Image record: doc id + real encoded PNG bytes. */
  private def pngWidth(docId: Long): Int = (8 + docId % 9).toInt
  private def pngHeight(docId: Long): Int = (8 + (docId * 3) % 9).toInt

  /** Real PNG payloads, one per document: a small RGB image whose pixels
    * follow [[pix]], encoded through the JDK's ImageIO PNG writer. This is
    * the FIXTURE half (the testdata lake carries no media column, so the
    * bytes are synthesized deterministically); everything downstream of the
    * `binary` column is the production path. */
  def imageRecords(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    imageRecordsOf(Tables.documents(s, d).select(col("doc_id")).as[Long])
  }

  /** [[imageRecords]] over any id set — the form the streamed alignment
    * gate feeds per micro-batch. */
  private[graft] def imageRecordsOf(ids: org.apache.spark.sql.Dataset[Long]): DataFrame = {
    val s = ids.sparkSession
    import s.implicits._
    ids
      .mapPartitions(_.map { id =>
        val w = pngWidth(id); val h = pngHeight(id)
        val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val (r, g, b) = pix(id, x, y)
            img.setRGB(x, y, (r << 16) | (g << 8) | b)
            x += 1
          }
          y += 1
        }
        val out = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", out)
        (id, out.toByteArray)
      })
      .toDF("doc_id", "png")
  }

  /** REAL image decode (round-9 verdict #7): `javax.imageio` parses the PNG
    * container and inflates actual pixels — no codec stub on this path (the
    * [[decodeStub]]/[[frameSampleStub]] pair remains only where the JDK
    * ships no codec, e.g. video). Emits per-image width/height and exact
    * per-channel integer sums — the brightness/colorfulness statistics an
    * image-curation pipeline gates on before the expensive model stages.
    * Decode runs in `mapPartitions` so a heavier codec would amortize its
    * init per partition; output is O(1) per image regardless of pixel
    * count. */
  def imageStats(s: SparkSession, d: String): DataFrame =
    imageStatsOf(imageRecords(s, d))

  /** [[imageStats]] over any (doc_id, png) frame — per-micro-batch form. */
  private[graft] def imageStatsOf(recs: DataFrame): DataFrame = {
    val s = recs.sparkSession
    import s.implicits._
    recs
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, png) =>
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
        val w = img.getWidth; val h = img.getHeight
        var rs = 0L; var gs = 0L; var bs = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val p = img.getRGB(x, y)
            rs += (p >> 16) & 0xff; gs += (p >> 8) & 0xff; bs += p & 0xff
            x += 1
          }
          y += 1
        }
        (id, w.toLong, h.toLong, w.toLong * h, rs, gs, bs)
      })
      .toDF("doc_id", "width", "height", "n_px", "r_sum", "g_sum", "b_sum")
  }

  /** Deterministic 16-bit PCM sample formula for the WAV fixtures — the
    * audio twin of [[pix]]: pure integer arithmetic in (doc_id, i), so
    * the oracle recomputes the expected sample statistics without any
    * codec, and a decode that misreads the RIFF container, the
    * endianness, or the sample width cannot hash-match (PCM is
    * lossless). */
  private[ops] def pcm(docId: Long, i: Long): Int =
    (((docId * 31 + i * i * 7) % 65536) - 32768).toInt

  private[ops] def wavSamples(docId: Long): Int = (256 + docId % 256).toInt

  /** Threshold above which a sample counts as CLIPPED (near full-scale):
    * the audio-curation signal — recordings that slam the rails carry
    * distortion a speech/audio model should not train on. */
  private[ops] val clipAbs = 32000

  /** Real WAV payloads, one per document: 16-bit signed PCM mono at 8 kHz
    * whose samples follow [[pcm]], written through the JDK's
    * `javax.sound.sampled` WAV encoder — the FIXTURE half; everything
    * downstream of the `binary` column is the production path (the same
    * discipline as [[imageRecords]]' PNG side). */
  def audioRecords(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"))
      .as[Long]
      .mapPartitions(_.map { id =>
        val n = wavSamples(id)
        val bytes = new Array[Byte](n * 2)
        var i = 0
        while (i < n) {
          val v = pcm(id, i)
          bytes(2 * i) = (v & 0xff).toByte          // little-endian PCM
          bytes(2 * i + 1) = ((v >> 8) & 0xff).toByte
          i += 1
        }
        val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
        val ais = new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(bytes), fmt, n.toLong)
        val out = new java.io.ByteArrayOutputStream()
        javax.sound.sampled.AudioSystem.write(
          ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
        (id, out.toByteArray)
      })
      .toDF("doc_id", "wav")
  }

  /** REAL audio decode (`x_mm_audio_stats`): `javax.sound.sampled` parses
    * the RIFF/WAVE container (fmt chunk → sample rate / width / channels,
    * data chunk → frames) and the samples are reassembled from the
    * decoded little-endian frames — the JDK ships a WAV codec, so the
    * audio path holds the same no-stub standard as the PNG path (the
    * [[decodeStub]] stand-in now covers only video, where the JDK ships
    * nothing). Emits the per-clip statistics an audio-curation pipeline
    * gates on before the expensive model stages: exact sample count,
    * integer loudness proxy (sum |s|), peak |s|, and the CLIPPED-sample
    * count (|s| ≥ [[clipAbs]] — rail-slamming distortion). Decode runs in
    * `mapPartitions`; output is O(1) per clip regardless of duration. */
  def audioStats(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    audioRecords(s, d)
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, wav) =>
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(wav))
        val fmt = ais.getFormat
        require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1,
          s"unexpected decoded format for clip $id: $fmt")
        val bytes = ais.readAllBytes()
        val n = bytes.length / 2
        var sumAbs = 0L; var peak = 0L; var clipped = 0L
        var i = 0
        while (i < n) {
          // decoded PCM frames in the container's own byte order
          val lo = bytes(2 * i) & 0xff
          val hi = bytes(2 * i + 1).toInt
          val v = if (fmt.isBigEndian) ((bytes(2 * i).toInt << 8) | (bytes(2 * i + 1) & 0xff))
                  else ((hi << 8) | lo)
          val a = math.abs(v.toLong)
          sumAbs += a
          if (a > peak) peak = a
          if (a >= clipAbs) clipped += 1
          i += 1
        }
        (id, n.toLong, math.round(fmt.getSampleRate).toLong, sumAbs, peak, clipped)
      })
      .toDF("doc_id", "n_samples", "sample_rate", "sum_abs", "peak_abs", "n_clipped")
  }

  // ---------------------------------------------------------------------
  // AUDIO NEAR-DUP: fixed-width window fingerprints + truncated-copy
  // detection — the acoustic member of the dedup family, completing the
  // image ([[imageNearDup]]) / video ([[clipDup]]) / audio triptych on
  // ONE prefix-pair core ([[clipPrefixPairs]] is modality-agnostic: it
  // sees (doc, frame, 2-long fingerprint) rows, nothing else).

  /** Fixed window width (samples). FIXED WIDTH, not fixed count — the
    * property that makes truncation detection exact: cutting a clip at a
    * window boundary leaves every leading window's samples (hence its
    * fingerprint) bit-identical, where [[phashGrid]]'s fixed-count blocks
    * would re-stretch over the shorter clip and change every window. */
  private[graft] val audioWin = 64

  /** Per-window acoustic fingerprint: `e_sum` = Σ|sample| (integer
    * loudness) and `zcr` = zero-crossing count (sign changes between
    * consecutive samples within the window) — the two cheapest robust
    * audio features, both exact integers, computed from the REAL WAV
    * decode ([[audioStats]]' codec path). The tail window may be partial
    * and carries its own values; truncation drops whole windows. */
  def audioFingerprint(s: SparkSession, d: String): DataFrame =
    IndexStore.read(s, IndexStore.audioFp, d)
      .getOrElse(audioFingerprintOf(audioRecords(s, d)))

  private[graft] def audioFingerprintOf(recs: DataFrame): DataFrame = {
    val s = recs.sparkSession
    import s.implicits._
    recs.as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, wav) =>
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(wav))
        val fmt = ais.getFormat
        require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1,
          s"unexpected decoded format for clip $id: $fmt")
        val bytes = ais.readAllBytes()
        val n = bytes.length / 2
        def sample(i: Int): Int = {
          val lo = bytes(2 * i) & 0xff
          val hi = bytes(2 * i + 1).toInt
          if (fmt.isBigEndian) (bytes(2 * i).toInt << 8) | (bytes(2 * i + 1) & 0xff)
          else (hi << 8) | lo
        }
        val nWin = (n + audioWin - 1) / audioWin
        (0 until nWin).map { w =>
          var e = 0L; var z = 0L
          var i = w * audioWin
          val end = math.min(n, (w + 1) * audioWin)
          while (i < end) {
            val v = sample(i)
            e += math.abs(v.toLong)
            if (i > w * audioWin && ((v >= 0) != (sample(i - 1) >= 0))) z += 1
            i += 1
          }
          (id, w.toLong, e, z)
        }.toList
      })
      .toDF("doc_id", "win_idx", "e_sum", "zcr")
  }

  /** Truncated-copy fixture: clips in the slice get a RE-ENCODED copy
    * cut to [[audioTruncSamples]] samples (exactly 4 full windows — a
    * window-aligned cut, so every kept window is bit-identical to the
    * original's), keyed `doc_id + audioVariantOffset`. The slice excludes
    * clips already at 256 samples (the cut must SHORTEN). */
  private[graft] val audioVariantOffset = 30000000L
  private[graft] val audioVariantMod = 6L
  private[graft] val audioVariantRem = 1L
  private[graft] val audioTruncSamples = 256

  private[graft] def truncatedAudioRecords(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    truncatedAudioRecordsOf(
      Tables.documents(s, d).select(col("doc_id")).as[Long]
        .filter((id: Long) =>
          id % audioVariantMod == audioVariantRem && id % 256 != 0))
  }

  /** [[truncatedAudioRecords]] over any id set — the per-micro-batch form
    * (ids are ORIGINAL clip ids; the slice filter is the caller's). */
  private[graft] def truncatedAudioRecordsOf(ids: org.apache.spark.sql.Dataset[Long]): DataFrame = {
    val s = ids.sparkSession
    import s.implicits._
    ids.mapPartitions(_.map { id =>
        requireOriginalId(id)
        val n = audioTruncSamples
        val bytes = new Array[Byte](n * 2)
        var i = 0
        while (i < n) {
          val v = pcm(id, i)
          bytes(2 * i) = (v & 0xff).toByte
          bytes(2 * i + 1) = ((v >> 8) & 0xff).toByte
          i += 1
        }
        val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
        val ais = new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(bytes), fmt, n.toLong)
        val out = new java.io.ByteArrayOutputStream()
        javax.sound.sampled.AudioSystem.write(
          ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
        (id + audioVariantOffset, out.toByteArray)
      })
      .toDF("doc_id", "wav")
  }

  /** A fingerprint frame relation in [[clipPrefixPairs]]' shape — the
    * window features ride as the 2-long "fingerprint" columns. */
  private def audioAsFrames(fp: DataFrame): DataFrame =
    fp.select(col("doc_id"), col("win_idx").as("frame_idx"),
      col("e_sum").as("phash_lo"), col("zcr").as("phash_hi"))

  /** TRUNCATED-COPY DETECTION over originals ∪ cut variants — the SAME
    * prefix-pair semantics (and code) as [[clipDup]]: clip s is a leading
    * window-aligned cut of clip l iff every one of s's windows matches
    * l's at the same index (first-window candidates, ≤8-window verify);
    * the all-pairs spelling lives only in the oracle. */
  def audioDup(s: SparkSession, d: String): DataFrame = {
    val fh = Lineage.cut(audioAsFrames(
      audioFingerprint(s, d).unionAll(
        audioFingerprintOf(truncatedAudioRecords(s, d)))))
    clipPrefixPairs(fh, fh)
  }

  /** IMAGE-TEXT ALIGNMENT SCORING (`x_mm_alignment`) — the CLIP-filter
    * shape, the modality-pairing signal a multimodal curation pipeline
    * gates on (LAION's cosine ≥ 0.28 cut): each document's IMAGE
    * embedding is scored against its TEXT embedding by an exact integer
    * dot product, and the pair is kept only when the alignment clears the
    * threshold — mis-paired image/caption rows (the dominant failure of
    * web-scraped pairs) are what this drops.
    *
    * Fixture mapping (the lake carries no real CLIP embeddings):
    *  - the text side is the `embeddings` row paired by id
    *    (`vec_id = doc_id`), milli-quantized to integers — the corpus's
    *    actual embedding space;
    *  - the image side runs the REAL PNG decode ([[imageStats]] — codec
    *    parse + pixel inflation, nothing stubbed) and lifts the decoded
    *    channel statistics into the text space through a deterministic
    *    integer projection head (`(r_sum·(k+1) + g_sum·(k+2) +
    *    b_sum·(k+3)) mod 2001 − 1000` per dimension k) — the
    *    clearly-marked stand-in for the vision tower, exactly
    *    [[decodeStub]]'s discipline: the plumbing (decode → embed → pair
    *    join → score → gate) is production-shaped, the learned weights
    *    are not in the container.
    *
    * All arithmetic is integer (engine-exact, like `x_model_gate`'s
    * milli-unit logits): the score is a sum of 64 bounded products, the
    * gate is `align_fp >= 0` — positive alignment keeps the pair. Plan
    * shape: one decode pass (`mapPartitions`, O(1) out per image), one
    * id-equi join against the embeddings table, map-side score — at
    * 100 TB both sides partition by the id key and nothing else moves. */
  def alignment(s: SparkSession, d: String): DataFrame =
    alignmentOf(imageStats(s, d), textVectors(s, d))

  /** The milli-quantized text-embedding side of the pair join (static in
    * the streamed gate — derived once at query start). */
  private[graft] def textVectors(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).select(col("vec_id").as("doc_id"),
      expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))")
        .as("tv"))

  /** [[alignment]] over any decoded-stats frame — ONE definition shared
    * by the batch form and the streamed gate, so the two cannot drift. */
  private[graft] def alignmentOf(stats: DataFrame, tv: DataFrame): DataFrame =
    stats
      .select(col("doc_id"), col("r_sum"), col("g_sum"), col("b_sum"))
      .join(Hints.broadcastSmall(tv), Seq("doc_id"))
      .withColumn("iv", expr(
        "transform(sequence(0, size(tv) - 1), " +
          "k -> ((r_sum * (k + 1) + g_sum * (k + 2) + b_sum * (k + 3)) % 2001) - 1000)"))
      .select(col("doc_id"),
        expr("aggregate(zip_with(iv, tv, (a, b) -> a * b), 0L, (acc, v) -> acc + v)")
          .as("align_fp"))
      .withColumn("is_aligned", col("align_fp") >= 0)

  /** MULTIMODAL CURATION LEDGER (`x_mm_curation`): the composed admission
    * funnel for image-text PAIRS — the multimodal twin of the text-side
    * `x_curation_pipeline`: a pair enters training only if its TEXT
    * passes the learned quality gate ([[TextAnalysis.modelGate]] — off
    * the memoized per-doc feature base) AND its modalities actually
    * belong together ([[alignment]]'s CLIP-shaped integer gate). Emits
    * the per-(lang, source) accountability rollup — pairs seen, pairs
    * admitted, text-rejected, mis-aligned, and the admitted token budget
    * — the ledger a dataset card cites for the multimodal split.
    * Documents with no paired embedding drop at the inner join (no
    * pairing ⇒ not multimodal training material). Plan: both gates are
    * per-doc relations keyed by doc_id (one compact join each), the
    * rollup is one low-cardinality exchange — nothing corpus-sized moves
    * beyond the gates' own documented passes. */
  def mmCuration(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"), col("lang"), col("source"))
      .join(TextAnalysis.modelGate(s, d)
        .select(col("doc_id"), col("n_words"), col("is_admit")), "doc_id")
      .join(alignment(s, d).select(col("doc_id"), col("is_aligned")), "doc_id")
      .groupBy(col("lang"), col("source"))
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(when(col("is_admit") && col("is_aligned"), 1L).otherwise(0L))
          .as("n_admitted"),
        sum(when(!col("is_admit"), 1L).otherwise(0L)).as("n_text_rejected"),
        sum(when(!col("is_aligned"), 1L).otherwise(0L)).as("n_misaligned"),
        sum(when(col("is_admit") && col("is_aligned"), col("n_words"))
          .otherwise(0L)).as("tokens_admitted"))

  // ---------------------------------------------------------------------
  // MULTIMODAL NEAR-DUP: perceptual block-hash fingerprints (r14 verdict
  // #8's named candidate tier — SimHash-family dedup applied to decoded
  // pixel blocks, reusing [[graft.ops.Dedup.simhashPairs]]' band-bucket
  // discipline and this file's real-decode path).

  /** Block grid: 8×8 = 64 mean-luma blocks → a 64-bit fingerprint carried
    * as two 32-bit words (`phash_lo` bits 0–31, `phash_hi` 32–63; BIGINT
    * bit 63 is sign territory in both engines, so the split keeps every
    * shift in safe range). */
  private[graft] val phashGrid = 8

  /** The blockhash fingerprint of one decoded image, in pure integer
    * arithmetic so the DuckDB oracle reproduces it bit-for-bit from the
    * pixel formula: luma = r+g+b per pixel; pixel (x,y) belongs to block
    * (⌊x·8/w⌋, ⌊y·8/h⌋); bit i (i = by·8+bx) is set iff the block's mean
    * luma exceeds the image mean — compared cross-multiplied
    * (`blockSum·nPx > totalSum·blockPx`), never divided, so there is no
    * rounding mode to disagree on. Resolution-invariant by construction:
    * a k× nearest-neighbor upscale multiplies every operand of the
    * comparison by k², flipping nothing — the property that makes
    * blockhash find RESIZED copies, which is what a multimodal
    * dedup pass actually hunts. */
  private def blockHashOf(img: java.awt.image.BufferedImage): (Long, Long) = {
    val w = img.getWidth; val h = img.getHeight
    val g = phashGrid
    val sums = new Array[Long](g * g)
    val cnts = new Array[Long](g * g)
    var tot = 0L
    var y = 0
    while (y < h) {
      val by = y * g / h
      var x = 0
      while (x < w) {
        val bx = x * g / w
        val p = img.getRGB(x, y)
        val luma = ((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)
        val i = by * g + bx
        sums(i) += luma; cnts(i) += 1; tot += luma
        x += 1
      }
      y += 1
    }
    val nPx = w.toLong * h
    var lo = 0L; var hi = 0L
    var i = 0
    while (i < g * g) {
      if (sums(i) * nPx > tot * cnts(i)) {
        if (i < 32) lo |= 1L << i else hi |= 1L << (i - 32)
      }
      i += 1
    }
    (lo, hi)
  }

  /** Fingerprints of the corpus images: real PNG decode → [[blockHashOf]].
    * `mapPartitions` only because a codec forces it (the [[imageStats]]
    * precedent); output is 2 longs per image regardless of pixel count.
    * Served from the persisted [[IndexStore]] when one is configured —
    * the decode is THE cost of this family at scale, and a deployment
    * pays it once per corpus snapshot (`tools.IndexBuild`), not once per
    * session (`IndexPersistSpec` pins store ≡ decode). */
  def imagePhash(s: SparkSession, d: String): DataFrame =
    IndexStore.read(s, IndexStore.imagePhash, d)
      .getOrElse(imagePhashOf(imageRecords(s, d)))

  /** [[imagePhash]] over any (doc_id, png) frame — the per-micro-batch
    * form the streamed ingest probe feeds. */
  private[graft] def imagePhashOf(recs: DataFrame): DataFrame = {
    val s = recs.sparkSession
    import s.implicits._
    recs.as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, png) =>
        val (lo, hi) = blockHashOf(
          javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png)))
        (id, lo, hi)
      })
      .toDF("doc_id", "phash_lo", "phash_hi")
  }

  /** Resized-copy fixture: doc ids in the [[variantSlice]] get a 2×
    * nearest-neighbor upscale of their ORIGINAL image, re-encoded through
    * the real PNG writer and keyed `doc_id + variantOffset` — the
    * arriving "re-posted thumbnail/upscale" a visual dedup pass exists to
    * catch. The upscale runs on the DECODED original pixels, so the
    * variant's bytes are a genuinely different PNG whose blockhash is
    * provably equal on this slice ([[variantMod]]'s alignment note). */
  private[graft] val variantOffset = 10000000L

  /** Corpus-id keyspace guard (ADVICE r15): every corpus-vs-variant
    * classification in this family — probe arrival splits, the oracles'
    * `doc_id >= offset` predicates, the three fixed bands at 10M/20M/30M
    * ([[variantOffset]]/[[clipVariantOffset]]/[[audioVariantOffset]]) —
    * assumes original doc ids sit below [[variantOffset]]. A corpus id at
    * or above it would alias originals into the variant keyspace and
    * misclassify rows with NO error, so every variant-record generator
    * checks per row (free inside the codec loop) and
    * `tools.IndexBuild` checks the corpus max once per build. */
  private[graft] def requireOriginalId(id: Long): Unit =
    require(id < variantOffset,
      s"doc_id $id >= variant offset $variantOffset — corpus ids this " +
        "large would alias into the synthetic-variant keyspace and " +
        "misclassify corpus-vs-variant rows silently")

  /** Variant slice: doc_id % 9 == 0 — exactly the 8×8 fixtures
    * (pngWidth = 8 + id%9 = 8; their 2× upscales are 16×16), whose
    * dimensions are BLOCK-ALIGNED (8 | w and 8 | h). Alignment is what
    * makes the 2× upscale's fingerprint PROVABLY equal: with blocks an
    * exact k pixels wide, every upscaled sub-pixel ⌊(2u+r)/2k⌋ lands in
    * its source pixel's block ⌊u/k⌋ (r/2 < 1 can never cross an integer
    * boundary), so each block's (sum, count) scales by exactly 4 and no
    * cross-multiplied comparison flips. On non-aligned dims blockhash is
    * only approximately resolution-invariant (boundary sub-pixels split
    * across blocks) — the standard perceptual-hash caveat, stated here
    * rather than papered over; production near-dup passes pair it with a
    * Hamming threshold for exactly that reason. */
  private[graft] val variantMod = 9L
  private[graft] val variantRem = 0L

  private[graft] def imageVariantRecords(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    imageVariantRecordsOf(
      Tables.documents(s, d).select(col("doc_id")).as[Long]
        .filter((id: Long) => id % variantMod == variantRem))
  }

  /** [[imageVariantRecords]] over any id set — the per-micro-batch form
    * the streamed ingest probe feeds (ids are ORIGINAL doc ids; the slice
    * filter is the caller's). */
  private[graft] def imageVariantRecordsOf(ids: org.apache.spark.sql.Dataset[Long]): DataFrame = {
    val s = ids.sparkSession
    import s.implicits._
    ids.mapPartitions(_.map { id =>
        requireOriginalId(id)
        val w = pngWidth(id); val h = pngHeight(id)
        val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val (r, g, b) = pix(id, x, y)
            img.setRGB(x, y, (r << 16) | (g << 8) | b)
            x += 1
          }
          y += 1
        }
        val up = new java.awt.image.BufferedImage(2 * w, 2 * h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var yy = 0
        while (yy < 2 * h) {
          var xx = 0
          while (xx < 2 * w) {
            up.setRGB(xx, yy, img.getRGB(xx / 2, yy / 2))
            xx += 1
          }
          yy += 1
        }
        val out = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(up, "png", out)
        (id + variantOffset, out.toByteArray)
      })
      .toDF("doc_id", "png")
  }

  /** Banding for the near-dup candidate join: 4 × 16-bit bands over the
    * 64-bit fingerprint — two fingerprints within Hamming distance 3 MUST
    * agree on at least one whole band (pigeonhole: 4 bands, ≤3 flipped
    * bits), so the bucket join loses no true pair at [[phashHammingMax]].
    * 16-bit keys (65536 buckets/band) keep Σcnt² candidate volume far
    * below all-pairs; at 100 TB widen to 8×8-bit bands only if the
    * threshold must rise (the [[graft.ops.Dedup.simhashPairs]] trade). */
  private[graft] val phashHammingMax = 3L

  private def phashBands(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"), col("phash_lo"), col("phash_hi"),
      explode(expr(
        "transform(sequence(0, 3), b -> named_struct(" +
          "'band', CAST(b AS BIGINT), " +
          "'bkey', CASE WHEN b < 2 THEN shiftright(phash_lo, b * 16) & 65535 " +
          "ELSE shiftright(phash_hi, (b - 2) * 16) & 65535 END))")).as("bb"))
      .select(col("doc_id"), col("phash_lo"), col("phash_hi"),
        col("bb.band").as("band"), col("bb.bkey").as("bkey"))

  /** VISUAL NEAR-DUP PAIRS over originals ∪ resized variants: band-bucket
    * candidate join + exact Hamming verify (two `bit_count`s per pair) —
    * every (original, 2×-upscale) pair surfaces at Hamming 0 by
    * [[blockHashOf]]'s invariance, plus any genuine ≤3-bit collisions.
    * The ORACLE is all-pairs over formula-computed fingerprints — a
    * SEMANTIC pin: the banded engine must find exactly the pairs
    * brute-force finds, so a banding bug (lost bucket, wrong shift)
    * hash-fails rather than hiding behind a mirrored implementation. */
  def imageNearDup(s: SparkSession, d: String): DataFrame =
    phashPairs(Lineage.cut(
      imagePhash(s, d).unionAll(imagePhashOf(imageVariantRecords(s, d)))))

  /** Banded candidate pairs + exact Hamming verify over any fingerprint
    * relation — shared by [[imageNearDup]] (corpus ∪ variants) and
    * [[imageDedupSavings]] (corpus only). */
  private def phashPairs(sig: DataFrame): DataFrame = {
    val bands = phashBands(sig)
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        (expr("bit_count(a.phash_lo ^ b.phash_lo)") +
          expr("bit_count(a.phash_hi ^ b.phash_hi)")).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= phashHammingMax)
  }

  /** VISUAL-DEDUP ROI REPORT — [[graft.ops.Dedup.dedupSavings]]'s
    * accountability rollup applied to PIXELS: images are clustered by
    * EXACT fingerprint (perceptually identical — Hamming 0), then per
    * cluster SIZE: clusters, images, the images a keep-first policy
    * drops, and the PIXELS those drops free (the storage/decode budget a
    * multimodal pipeline owner actually pays in). Exact-fingerprint
    * grouping, not transitive near-dup chaining, is the deliberate
    * policy: a Hamming-≤3 TRANSITIVE closure links chains of pairwise-
    * similar-but-end-to-end-different images (and its closure is a graph
    * fixpoint — the [[imageDedupGate]] threshold stays a PAIRWISE
    * serving decision); a storage report should only claim savings for
    * content the survivor actually reproduces. Survivor = the min-id
    * member (the gate's keep-first policy — the ADVICE-r14 dedupSavings
    * lesson, honored from birth). Plan: one groupBy on the 2-long
    * fingerprint — no graph iteration, no pair join; singletons ride
    * through as the size-1 row, so the image total reconciles against
    * the corpus count at any scale. */
  def imageDedupSavings(s: SparkSession, d: String): DataFrame = {
    val sig = Lineage.cut(imagePhash(s, d))
    val px = imageStats(s, d).select(col("doc_id"), col("n_px"))
    sig.join(px, "doc_id")
      .groupBy(col("phash_lo"), col("phash_hi"))
      .agg(count(lit(1)).as("sz"), sum(col("n_px")).as("tot_px"),
        min(struct(col("doc_id"), col("n_px"))).getField("n_px").as("keep_px"))
      .select(col("sz"), (col("tot_px") - col("keep_px")).as("red_px"))
      .groupBy(col("sz").as("comp_size"))
      .agg(count(lit(1)).as("n_components"),
        sum(col("sz")).as("n_docs"),
        sum(col("sz") - 1).as("n_redundant"),
        sum(col("red_px")).as("redundant_px"))
  }

  /** VISUAL-DEDUP ADMISSION GATE over the standing corpus: the
    * [[graft.ops.Dedup.exact]] min-id keep policy applied to PIXELS —
    * per image, the smallest lower-id near-duplicate (Hamming ≤
    * [[phashHammingMax]]) if any, and the keep verdict a curation funnel
    * consumes (keep the first-seen copy, drop visual re-posts). Same
    * band-bucket candidate discipline as [[imageNearDup]]; the oracle is
    * the all-pairs spelling (semantic pin). One row per corpus image —
    * the gate relation an admission pipeline joins on doc_id. */
  def imageDedupGate(s: SparkSession, d: String): DataFrame = {
    val sig = Lineage.cut(imagePhash(s, d))
    val bands = phashBands(sig)
    val dupOf = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") > col("b.doc_id"))
      .select(col("a.doc_id").as("doc_id"), col("b.doc_id").as("cand"),
        (expr("bit_count(a.phash_lo ^ b.phash_lo)") +
          expr("bit_count(a.phash_hi ^ b.phash_hi)")).cast("long").as("hamming"))
      .filter(col("hamming") <= phashHammingMax)
      .groupBy(col("doc_id"))
      .agg(min(col("cand")).as("dup_of"))
    sig.select(col("doc_id"))
      .join(dupOf, Seq("doc_id"), "left")
      .select(col("doc_id"), col("dup_of"), col("dup_of").isNull.as("is_kept"))
  }

  /** Ingest-time visual dedup decision, batch form (the streamed twin is
    * [[graft.streaming.IngestStream]]): each ARRIVING image (the resized
    * variants) probes the STANDING corpus fingerprint index through the
    * band buckets; emit per arrival the best match (lowest Hamming, ties
    * to the smallest corpus id) and the duplicate verdict. One row per
    * arriving image — the admit/reject column an ingest gate consumes. */
  def imagePhashProbe(s: SparkSession, d: String): DataFrame =
    phashProbeOf(imagePhashOf(imageVariantRecords(s, d)),
      Lineage.cut(imagePhash(s, d)))

  /** The probe against a given standing index — ONE definition shared by
    * the batch form and the streamed twin. */
  private[graft] def phashProbeOf(arriving: DataFrame, standing: DataFrame): DataFrame = {
    val a = phashBands(arriving)
    val c = phashBands(standing)
    val hits = a.as("a").join(c.as("c"),
        col("a.band") === col("c.band") && col("a.bkey") === col("c.bkey"))
      .select(col("a.doc_id").as("new_id"), col("c.doc_id").as("corpus_id"),
        (expr("bit_count(a.phash_lo ^ c.phash_lo)") +
          expr("bit_count(a.phash_hi ^ c.phash_hi)")).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= phashHammingMax)
      .groupBy(col("new_id"))
      .agg(min(struct(col("hamming"), col("corpus_id"))).as("best"))
      .select(col("new_id"), col("best.corpus_id").as("dup_of"),
        col("best.hamming").as("hamming"))
    arriving.select(col("doc_id").as("new_id"))
      .join(hits, Seq("new_id"), "left")
      .select(col("new_id"), col("dup_of"),
        coalesce(col("hamming"), lit(-1L)).as("hamming"),
        col("dup_of").isNotNull.as("is_dup"))
  }

  // ---------------------------------------------------------------------
  // VIDEO-CLIP NEAR-DUP: per-frame perceptual fingerprints + trimmed-copy
  // detection — the temporal member of the visual dedup family.

  /** Per-frame fingerprints of the video corpus: real GIF container parse
    * + per-frame LZW decode → [[blockHashOf]] per frame. ALL frames are
    * decoded (unlike [[videoStats]]' keyframe stride): duplication
    * detection needs the full sequence, and the fixture bounds it at ≤5
    * frames × ≤144 px per clip — at scale the stride would return as a
    * pre-filter stage, with the full pass reserved for band-candidate
    * clips. Output is 2 longs per FRAME, never pixels. */
  def videoPhash(s: SparkSession, d: String): DataFrame =
    IndexStore.read(s, IndexStore.videoPhash, d)
      .getOrElse(videoPhashOf(videoRecords(s, d)))

  private[graft] def videoPhashOf(recs: DataFrame): DataFrame = {
    val s = recs.sparkSession
    import s.implicits._
    recs.as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, gif) =>
        val iis = javax.imageio.ImageIO.createImageInputStream(
          new java.io.ByteArrayInputStream(gif))
        val reader = javax.imageio.ImageIO
          .getImageReadersByFormatName("gif").next()
        try {
          reader.setInput(iis)
          (0 until reader.getNumImages(true)).map { fi =>
            val (lo, hi) = blockHashOf(reader.read(fi))
            (id, fi.toLong, lo, hi)
          }.toList
        } finally {
          reader.dispose()
          iis.close()
        }
      })
      .toDF("doc_id", "frame_idx", "phash_lo", "phash_hi")
  }

  /** Trimmed-copy fixture: clips in the slice get a RE-ENCODED copy with
    * the last frame dropped (the classic re-upload: same content, shorter
    * cut), keyed `doc_id + clipVariantOffset`. The slice requires ≥3
    * source frames so every trimmed copy still has ≥2. */
  private[graft] val clipVariantOffset = 20000000L
  private[graft] val clipVariantMod = 7L
  private[graft] val clipVariantRem = 3L

  private[graft] def trimmedClipRecords(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    trimmedClipRecordsOf(
      Tables.documents(s, d).select(col("doc_id")).as[Long]
        .filter((id: Long) =>
          id % clipVariantMod == clipVariantRem && vidFrames(id) >= 3))
  }

  /** [[trimmedClipRecords]] over any id set (ids are ORIGINAL clip ids;
    * the slice filter is the caller's) — the per-micro-batch form the
    * streamed clip probe feeds. */
  private[graft] def trimmedClipRecordsOf(ids: org.apache.spark.sql.Dataset[Long]): DataFrame = {
    val s = ids.sparkSession
    import s.implicits._
    ids.mapPartitions { it =>
        val grays = Array.tabulate(256)(_.toByte)
        val cm = new java.awt.image.IndexColorModel(8, 256, grays, grays, grays)
        it.map { id =>
          requireOriginalId(id)
          (id + clipVariantOffset, encodeGif(id, vidFrames(id) - 1, cm))
        }
      }
      .toDF("doc_id", "gif")
  }

  /** TRIMMED-COPY DETECTION over originals ∪ trimmed variants: clip s is
    * a leading cut of clip l iff nf_s < nf_l and every one of s's frames
    * hash-matches l's frame at the same index. Candidates come from a
    * FIRST-FRAME fingerprint equi-join (a trimmed copy must share frame
    * 0 — the temporal pigeonhole), so candidate volume is Σ first-frame-
    * bucket², never all-pairs; the verify joins ≤nf_s ≤5 frame rows per
    * candidate. The ORACLE is the all-pairs prefix check over formula-
    * computed frame hashes — the [[imageNearDup]] semantic-pin stance:
    * the candidate join must find exactly what brute force finds. */
  def clipDup(s: SparkSession, d: String): DataFrame = {
    val fh = Lineage.cut(
      videoPhash(s, d).unionAll(videoPhashOf(trimmedClipRecords(s, d))))
    clipPrefixPairs(fh, fh)
  }

  /** The prefix-pair core: short-side clips that are full leading cuts of
    * long-side clips — ONE definition shared by [[clipDup]] (both sides =
    * corpus ∪ variants) and the streamed ingest probe (short = arriving
    * micro-batch, long = the standing corpus). `nf_s < nf_l` excludes
    * self-pairs when the sides coincide. */
  private[graft] def clipPrefixPairs(shortFh: DataFrame, longFh: DataFrame): DataFrame = {
    val nfS = shortFh.groupBy(col("doc_id")).agg(count(lit(1)).as("nf"))
    val nfL = longFh.groupBy(col("doc_id")).agg(count(lit(1)).as("nf"))
    val f0s = shortFh.filter(col("frame_idx") === 0).join(nfS, "doc_id")
    val f0l = longFh.filter(col("frame_idx") === 0).join(nfL, "doc_id")
    val cand = f0s.as("a").join(f0l.as("b"),
        col("a.phash_lo") === col("b.phash_lo") &&
          col("a.phash_hi") === col("b.phash_hi") &&
          col("a.nf") < col("b.nf"))
      .select(col("a.doc_id").as("short_id"), col("b.doc_id").as("long_id"),
        col("a.nf").as("n_short"))
    cand
      .join(shortFh.select(col("doc_id").as("short_id"), col("frame_idx"),
        col("phash_lo").as("alo"), col("phash_hi").as("ahi")), "short_id")
      .filter(col("frame_idx") < col("n_short"))
      .join(longFh.select(col("doc_id").as("long_id"), col("frame_idx"),
        col("phash_lo").as("blo"), col("phash_hi").as("bhi")),
        Seq("long_id", "frame_idx"))
      .groupBy(col("short_id"), col("long_id"), col("n_short"))
      .agg(sum(when(col("alo") === col("blo") && col("ahi") === col("bhi"), 1L)
        .otherwise(0L)).as("n_match"))
      .filter(col("n_match") === col("n_short"))
      .select(col("short_id"), col("long_id"), col("n_short").as("n_shared"))
  }

  /** THE FULL MULTIMODAL ADMISSION FUNNEL (`x_mm_curation_dedup`) —
    * [[mmCuration]] with the third gate a production pass actually runs:
    * a pair enters training only if its TEXT passes the learned quality
    * gate AND its modalities belong together AND its image is not a
    * visual re-post ([[imageDedupGate]]'s keep-first verdict). The
    * rollup adds the `n_visual_dup` accountability column — what the
    * dedup gate alone rejected — so the funnel's losses are attributable
    * per stage. Plan: three per-doc gate relations, each one compact
    * doc_id-keyed join; the dedup gate's fingerprints read the persisted
    * store when configured. */
  def mmCurationDedup(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"), col("lang"), col("source"))
      .join(TextAnalysis.modelGate(s, d)
        .select(col("doc_id"), col("n_words"), col("is_admit")), "doc_id")
      .join(alignment(s, d).select(col("doc_id"), col("is_aligned")), "doc_id")
      .join(imageDedupGate(s, d).select(col("doc_id"), col("is_kept")), "doc_id")
      .groupBy(col("lang"), col("source"))
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(when(col("is_admit") && col("is_aligned") && col("is_kept"), 1L)
          .otherwise(0L)).as("n_admitted"),
        sum(when(!col("is_admit"), 1L).otherwise(0L)).as("n_text_rejected"),
        sum(when(!col("is_aligned"), 1L).otherwise(0L)).as("n_misaligned"),
        sum(when(!col("is_kept"), 1L).otherwise(0L)).as("n_visual_dup"),
        sum(when(col("is_admit") && col("is_aligned") && col("is_kept"),
          col("n_words")).otherwise(0L)).as("tokens_admitted"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x_mm_curation_dedup" -> mmCurationDedup,
    "x_mm_video_phash" -> videoPhash,
    "x_mm_clip_dup" -> clipDup,
    "x_mm_audio_fp" -> audioFingerprint,
    "x_mm_audio_dup" -> audioDup,
    "x_mm_features" -> features,
    "x_mm_frames" -> frames,
    "x_mm_image_stats" -> imageStats,
    "x_mm_video_stats" -> videoStats,
    "x_mm_alignment" -> alignment,
    "x_mm_curation" -> mmCuration,
    "x_mm_audio_stats" -> audioStats,
    "x_mm_image_phash" -> imagePhash,
    "x_mm_image_neardup" -> imageNearDup,
    "x_mm_phash_probe" -> imagePhashProbe,
    "x_mm_dedup_gate" -> imageDedupGate,
    "x_mm_dedup_savings" -> imageDedupSavings)

  /** CTE chain computing blockhash fingerprints from the PIXEL FORMULA —
    * the oracle never sees PNG bytes (the `x_mm_image_stats` contract), so
    * a decode, grid, or bit-assembly bug cannot hash-match. With
    * `withVariants` the chain also fingerprints the 2×-upscale fixture
    * (pixel (x,y) = original (x//2, y//2) — DuckDB `//` floors, matching
    * the integer division of the nearest-neighbor upscale). NOTE DuckDB
    * `^` is POWER; xor is the `xor()` function. */
  private def phashSqlCtes(withVariants: Boolean): String = {
    val ids =
      if (withVariants)
        s"""SELECT doc_id, doc_id AS src, 1 AS scale FROM documents
           |  UNION ALL
           |  SELECT doc_id + $variantOffset, doc_id, 2 FROM documents
           |  WHERE doc_id % $variantMod = $variantRem"""
      else "SELECT doc_id, doc_id AS src, 1 AS scale FROM documents"
    s"""ids AS (
       |  ${ids.stripMargin}
       |),
       |dim AS (SELECT doc_id, src, scale,
       |          scale * (8 + src % 9) AS w, scale * (8 + (src * 3) % 9) AS h
       |        FROM ids),
       |pxs AS (SELECT doc_id, src, scale, w, h, unnest(range(0, w)) AS x FROM dim),
       |pys AS (SELECT doc_id, src, scale, w, h, x, unnest(range(0, h)) AS y FROM pxs),
       |plm AS (SELECT doc_id, x * 8 // w AS bx, y * 8 // h AS by,
       |          ((src + 7 * (x // scale) + 13 * (y // scale)) % 256)
       |          + ((2 * src + 5 * (x // scale) + 11 * (y // scale)) % 256)
       |          + ((3 * src + (x // scale) * (y // scale)) % 256) AS luma
       |        FROM pys),
       |blk AS (SELECT doc_id, by * 8 + bx AS idx,
       |          CAST(sum(luma) AS BIGINT) AS bsum,
       |          CAST(count(*) AS BIGINT) AS bpx
       |        FROM plm GROUP BY 1, 2),
       |ptot AS (SELECT doc_id, CAST(sum(bsum) AS BIGINT) AS tsum,
       |           CAST(sum(bpx) AS BIGINT) AS tpx FROM blk GROUP BY 1),
       |pbits AS (SELECT b.doc_id, b.idx,
       |            CASE WHEN b.bsum * t.tpx > t.tsum * b.bpx THEN 1 ELSE 0 END AS bit
       |          FROM blk b JOIN ptot t USING (doc_id)),
       |ph AS (SELECT doc_id,
       |         CAST(COALESCE(sum(CASE WHEN idx < 32
       |           THEN bit * (CAST(1 AS BIGINT) << idx) END), 0) AS BIGINT) AS phash_lo,
       |         CAST(COALESCE(sum(CASE WHEN idx >= 32
       |           THEN bit * (CAST(1 AS BIGINT) << (idx - 32)) END), 0) AS BIGINT) AS phash_hi
       |       FROM pbits GROUP BY 1)""".stripMargin
  }

  /** Frame-hash twin of [[phashSqlCtes]]: blockhash fingerprints of every
    * GIF frame from the GRAY FORMULA (luma = 3·gray — the indexed
    * grayscale palette decodes to r = g = b). With `withVariants` the
    * chain also fingerprints the trimmed-copy fixture: SAME frames (a cut
    * changes length, not content), one fewer of them. */
  private def videoPhashSqlCtes(withVariants: Boolean): String = {
    val ids =
      if (withVariants)
        s"""SELECT doc_id, doc_id AS src, 2 + doc_id % 4 AS nf FROM documents
           |  UNION ALL
           |  SELECT doc_id + $clipVariantOffset, doc_id, 1 + doc_id % 4 FROM documents
           |  WHERE doc_id % $clipVariantMod = $clipVariantRem AND doc_id % 4 >= 1"""
      else "SELECT doc_id, doc_id AS src, 2 + doc_id % 4 AS nf FROM documents"
    s"""vids AS (
       |  ${ids.stripMargin}
       |),
       |vdim AS (SELECT doc_id, src, nf,
       |           8 + src % 5 AS w, 8 + (src * 3) % 5 AS h
       |         FROM vids),
       |vfr AS (SELECT doc_id, src, w, h, unnest(range(0, nf)) AS fi FROM vdim),
       |vxs AS (SELECT doc_id, src, w, h, fi, unnest(range(0, w)) AS x FROM vfr),
       |vys AS (SELECT doc_id, src, w, h, fi, x, unnest(range(0, h)) AS y FROM vxs),
       |vlm AS (SELECT doc_id, fi, x * 8 // w AS bx, y * 8 // h AS by,
       |          3 * ((src * 7 + fi * 11 + x * 3 + y * 5) % 256) AS luma
       |        FROM vys),
       |vblk AS (SELECT doc_id, fi, by * 8 + bx AS idx,
       |           CAST(sum(luma) AS BIGINT) AS bsum,
       |           CAST(count(*) AS BIGINT) AS bpx
       |         FROM vlm GROUP BY 1, 2, 3),
       |vtot AS (SELECT doc_id, fi, CAST(sum(bsum) AS BIGINT) AS tsum,
       |           CAST(sum(bpx) AS BIGINT) AS tpx FROM vblk GROUP BY 1, 2),
       |vbits AS (SELECT b.doc_id, b.fi, b.idx,
       |            CASE WHEN b.bsum * t.tpx > t.tsum * b.bpx THEN 1 ELSE 0 END AS bit
       |          FROM vblk b JOIN vtot t USING (doc_id, fi)),
       |vph AS (SELECT doc_id, CAST(fi AS BIGINT) AS frame_idx,
       |          CAST(COALESCE(sum(CASE WHEN idx < 32
       |            THEN bit * (CAST(1 AS BIGINT) << idx) END), 0) AS BIGINT) AS phash_lo,
       |          CAST(COALESCE(sum(CASE WHEN idx >= 32
       |            THEN bit * (CAST(1 AS BIGINT) << (idx - 32)) END), 0) AS BIGINT) AS phash_hi
       |        FROM vbits GROUP BY 1, 2)""".stripMargin
  }

  /** Window-fingerprint twin of [[videoPhashSqlCtes]] for the AUDIO
    * family: per-window Σ|sample| and zero-crossing counts from the PCM
    * FORMULA (the oracle never sees WAV bytes). With `withVariants` the
    * chain also fingerprints the 256-sample window-aligned cuts. */
  private def audioFpSqlCtes(withVariants: Boolean): String = {
    val ids =
      if (withVariants)
        s"""SELECT doc_id, doc_id AS src, 256 + doc_id % 256 AS n FROM documents
           |  UNION ALL
           |  SELECT doc_id + $audioVariantOffset, doc_id, $audioTruncSamples FROM documents
           |  WHERE doc_id % $audioVariantMod = $audioVariantRem AND doc_id % 256 <> 0"""
      else "SELECT doc_id, doc_id AS src, 256 + doc_id % 256 AS n FROM documents"
    s"""aids AS (
       |  ${ids.stripMargin}
       |),
       |ai AS (SELECT doc_id, src, unnest(range(0, n)) AS i FROM aids),
       |asmp AS (SELECT doc_id, i, i // $audioWin AS w,
       |           ((src * 31 + i * i * 7) % 65536) - 32768 AS v
       |         FROM ai),
       |aprv AS (SELECT doc_id, i, w, v,
       |           lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
       |         FROM asmp),
       |afp AS (SELECT doc_id, CAST(w AS BIGINT) AS win_idx,
       |          CAST(sum(abs(v)) AS BIGINT) AS e_sum,
       |          CAST(count(*) FILTER (i % $audioWin <> 0
       |            AND (v >= 0) <> (pv >= 0)) AS BIGINT) AS zcr
       |        FROM aprv GROUP BY 1, 2)""".stripMargin
  }

  /** The streamed audio probe's oracle — referenced from
    * [[graft.streaming.IngestStream]]: all-pairs window-prefix check
    * restricted to (arriving cut, standing original) pairs. */
  private[graft] def audioProbeOracle: String =
    s"""WITH ${audioFpSqlCtes(withVariants = true)},
       |anf AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nf FROM afp GROUP BY 1),
       |apr AS (SELECT a.doc_id AS new_id, b.doc_id AS src_id, sn.nf AS n_short,
       |          count(*) FILTER (a.e_sum = b.e_sum AND a.zcr = b.zcr) AS n_match
       |        FROM afp a
       |        JOIN anf sn ON sn.doc_id = a.doc_id
       |        JOIN afp b ON b.win_idx = a.win_idx
       |        JOIN anf ln ON ln.doc_id = b.doc_id AND sn.nf < ln.nf
       |        WHERE a.win_idx < sn.nf
       |          AND a.doc_id >= $audioVariantOffset
       |          AND b.doc_id < $audioVariantOffset
       |        GROUP BY 1, 2, 3)
       |SELECT new_id, src_id, CAST(n_short AS BIGINT) AS n_shared
       |FROM apr WHERE n_match = n_short""".stripMargin

  /** The streamed clip probe's oracle: the all-pairs prefix check
    * restricted to (arriving variant, standing original) pairs —
    * referenced from [[graft.streaming.IngestStream]]. */
  private[graft] def clipProbeOracle: String =
    s"""WITH ${videoPhashSqlCtes(withVariants = true)},
       |nfr AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nf FROM vph GROUP BY 1),
       |pr AS (SELECT a.doc_id AS new_id, b.doc_id AS src_id, sn.nf AS n_short,
       |         count(*) FILTER (a.phash_lo = b.phash_lo
       |                          AND a.phash_hi = b.phash_hi) AS n_match
       |       FROM vph a
       |       JOIN nfr sn ON sn.doc_id = a.doc_id
       |       JOIN vph b ON b.frame_idx = a.frame_idx
       |       JOIN nfr ln ON ln.doc_id = b.doc_id AND sn.nf < ln.nf
       |       WHERE a.frame_idx < sn.nf
       |         AND a.doc_id >= $clipVariantOffset
       |         AND b.doc_id < $clipVariantOffset
       |       GROUP BY 1, 2, 3)
       |SELECT new_id, src_id, CAST(n_short AS BIGINT) AS n_shared
       |FROM pr WHERE n_match = n_short""".stripMargin

  /** Oracle mirrors the stub arithmetic on the source text. PRECONDITION
    * (checked by `MultimodalSpec`): the synthetic `documents.text` is pure
    * ASCII, where DuckDB's `ascii()` codepoint of the first/last *character*
    * equals the stub's first/last UTF-8 *byte*. On non-ASCII corpora the
    * engine side is the byte-true one; the oracle would need octet-indexed
    * extraction, which DuckDB lacks a direct function for. `n_bytes` is
    * byte-exact (`octet_length`) regardless. */
  val oracle: Map[String, String] = Map(
    "x_mm_features" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  CAST(ascii(substr(text, 1, 1)) AS BIGINT) AS head_byte,
        |  CAST(ascii(substr(text, length(text), 1)) AS BIGINT) AS tail_byte,
        |  CAST((ascii(substr(text, 1, 1)) + ascii(substr(text, length(text), 1))) // 2 AS BIGINT) AS brightness,
        |  CAST(n_chars % 640 AS BIGINT) AS width,
        |  CAST((doc_id * 37) % 480 AS BIGINT) AS height
        |FROM documents WHERE length(text) > 0""".stripMargin,
    // Same ASCII precondition: substr by characters == slicing by bytes, so
    // DuckDB's md5 of the text slice equals the stub's md5 of the byte frame.
    "x_mm_frames" ->
      """WITH f AS (SELECT doc_id, text,
        |             CAST(ceil(CAST(octet_length(encode(text)) AS DOUBLE) / 32) AS BIGINT) AS n_frames
        |           FROM documents WHERE length(text) > 0),
        |s AS (SELECT doc_id, text, n_frames,
        |        greatest(1, CAST(ceil(CAST(n_frames AS DOUBLE) / 4) AS BIGINT)) AS stride
        |      FROM f),
        |i AS (SELECT doc_id, text, unnest(range(0, n_frames, stride)) AS frame_idx FROM s)
        |SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
        |       CAST(length(substr(text, CAST(frame_idx * 32 + 1 AS BIGINT), 32)) AS BIGINT) AS frame_bytes,
        |       md5(substr(text, CAST(frame_idx * 32 + 1 AS BIGINT), 32)) AS frame_md5
        |FROM i""".stripMargin,
    // Frame statistics from the GRAY FORMULA — the oracle never sees the
    // GIF bytes, so a decode that misparses the animated container (frame
    // count, dimensions, palette, LZW) cannot hash-match; the stride
    // arithmetic mirrors the engine's uniform ≤4-keyframe rule.
    "x_mm_video_stats" ->
      """WITH d AS (SELECT doc_id, 8 + doc_id % 5 AS w, 8 + (doc_id * 3) % 5 AS h,
        |             2 + doc_id % 4 AS nf
        |           FROM documents),
        |s AS (SELECT doc_id, w, h, nf,
        |        greatest(1, CAST(ceil(CAST(nf AS DOUBLE) / 4) AS BIGINT)) AS stride
        |      FROM d),
        |f AS (SELECT doc_id, w, h, unnest(range(0, nf, stride)) AS fi FROM s),
        |xs AS (SELECT doc_id, w, h, fi, unnest(range(0, w)) AS x FROM f),
        |ys AS (SELECT doc_id, w, h, fi, x, unnest(range(0, h)) AS y FROM xs)
        |SELECT doc_id, CAST(fi AS BIGINT) AS frame_idx,
        |       CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |       CAST(sum((doc_id * 7 + fi * 11 + x * 3 + y * 5) % 256) AS BIGINT) AS gray_sum
        |FROM ys GROUP BY 1, 2, 3, 4""".stripMargin,
    // The oracle recomputes the channel sums from the PIXEL FORMULA — it
    // never sees the PNG bytes, so a decode that misreads the container or
    // the pixel layout cannot hash-match (PNG is lossless; the engine path
    // is encode → real ImageIO decode → sums).
    "x_mm_image_stats" ->
      """WITH d AS (SELECT doc_id, 8 + doc_id % 9 AS w, 8 + (doc_id * 3) % 9 AS h
        |           FROM documents),
        |xs AS (SELECT doc_id, w, h, unnest(range(0, w)) AS x FROM d),
        |ys AS (SELECT doc_id, w, h, x, unnest(range(0, h)) AS y FROM xs)
        |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |       count(*) AS n_px,
        |       CAST(sum((doc_id + 7 * x + 13 * y) % 256) AS BIGINT) AS r_sum,
        |       CAST(sum((2 * doc_id + 5 * x + 11 * y) % 256) AS BIGINT) AS g_sum,
        |       CAST(sum((3 * doc_id + x * y) % 256) AS BIGINT) AS b_sum
        |FROM ys GROUP BY 1, 2, 3""".stripMargin,
    // Channel sums come from the pixel formula (the engine's arrive via the
    // real PNG decode — a wrong decode cannot hash-match, as in
    // x_mm_image_stats); the projection head and milli-quantization mirror
    // the engine integer-for-integer.
    "x_mm_alignment" ->
      """WITH d AS (SELECT doc_id, 8 + doc_id % 9 AS w, 8 + (doc_id * 3) % 9 AS h
        |           FROM documents),
        |xs AS (SELECT doc_id, w, h, unnest(range(0, w)) AS x FROM d),
        |ys AS (SELECT doc_id, w, h, x, unnest(range(0, h)) AS y FROM xs),
        |px AS (SELECT doc_id,
        |         CAST(sum((doc_id + 7 * x + 13 * y) % 256) AS BIGINT) AS r_sum,
        |         CAST(sum((2 * doc_id + 5 * x + 11 * y) % 256) AS BIGINT) AS g_sum,
        |         CAST(sum((3 * doc_id + x * y) % 256) AS BIGINT) AS b_sum
        |       FROM ys GROUP BY 1),
        |j AS (SELECT p.doc_id, p.r_sum, p.g_sum, p.b_sum,
        |        list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS tv
        |      FROM px p JOIN embeddings e ON e.vec_id = p.doc_id),
        |sc AS (SELECT doc_id,
        |         CAST(list_dot_product(
        |           list_transform(range(0, len(tv)),
        |             k -> ((r_sum * (k + 1) + g_sum * (k + 2) + b_sum * (k + 3)) % 2001) - 1000),
        |           tv) AS BIGINT) AS align_fp
        |       FROM j)
        |SELECT doc_id, align_fp, align_fp >= 0 AS is_aligned FROM sc""".stripMargin,
    // Sample statistics from the PCM formula — the oracle never sees the
    // WAV bytes, so a decode that misreads the RIFF container or the
    // sample encoding cannot hash-match (the x_mm_image_stats contract,
    // applied to audio).
    "x_mm_audio_stats" ->
      """WITH d AS (SELECT doc_id, 256 + doc_id % 256 AS n FROM documents),
        |i AS (SELECT doc_id, n, unnest(range(0, n)) AS i FROM d),
        |sm AS (SELECT doc_id, n,
        |         abs(((doc_id * 31 + i * i * 7) % 65536) - 32768) AS a
        |       FROM i)
        |SELECT doc_id,
        |  CAST(max(n) AS BIGINT) AS n_samples,
        |  CAST(8000 AS BIGINT) AS sample_rate,
        |  CAST(sum(a) AS BIGINT) AS sum_abs,
        |  CAST(max(a) AS BIGINT) AS peak_abs,
        |  CAST(count(*) FILTER (a >= 32000) AS BIGINT) AS n_clipped
        |FROM sm GROUP BY doc_id""".stripMargin,
    // Composes the model-gate CTE chain (one SQL spelling of the gate,
    // TextAnalysis.modelGateSqlCtes) with the alignment CTEs above and
    // rolls up per stratum.
    "x_mm_curation" ->
      s"""WITH ${TextAnalysis.modelGateSqlCtes()},
        |dd AS (SELECT doc_id, 8 + doc_id % 9 AS w2, 8 + (doc_id * 3) % 9 AS h2
        |       FROM documents),
        |xs AS (SELECT doc_id, w2, h2, unnest(range(0, w2)) AS x FROM dd),
        |ys AS (SELECT doc_id, w2, h2, x, unnest(range(0, h2)) AS y FROM xs),
        |px AS (SELECT doc_id,
        |         CAST(sum((doc_id + 7 * x + 13 * y) % 256) AS BIGINT) AS r_sum,
        |         CAST(sum((2 * doc_id + 5 * x + 11 * y) % 256) AS BIGINT) AS g_sum,
        |         CAST(sum((3 * doc_id + x * y) % 256) AS BIGINT) AS b_sum
        |       FROM ys GROUP BY 1),
        |jj AS (SELECT p2.doc_id, p2.r_sum, p2.g_sum, p2.b_sum,
        |        list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS tv
        |      FROM px p2 JOIN embeddings e ON e.vec_id = p2.doc_id),
        |sc AS (SELECT doc_id,
        |         CAST(list_dot_product(
        |           list_transform(range(0, len(tv)),
        |             k -> ((r_sum * (k + 1) + g_sum * (k + 2) + b_sum * (k + 3)) % 2001) - 1000),
        |           tv) AS BIGINT) AS align_fp
        |       FROM jj),
        |al AS (SELECT doc_id, align_fp >= 0 AS is_aligned FROM sc)
        |SELECT d.lang, d.source,
        |  CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(COALESCE(sum(CASE WHEN mg.is_admit AND al.is_aligned THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_admitted,
        |  CAST(COALESCE(sum(CASE WHEN NOT mg.is_admit THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_text_rejected,
        |  CAST(COALESCE(sum(CASE WHEN NOT al.is_aligned THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_misaligned,
        |  CAST(COALESCE(sum(CASE WHEN mg.is_admit AND al.is_aligned THEN mg.n_words ELSE 0 END), 0) AS BIGINT) AS tokens_admitted
        |FROM documents d
        |JOIN mg ON mg.doc_id = d.doc_id
        |JOIN al ON al.doc_id = d.doc_id
        |GROUP BY 1, 2""".stripMargin,
    // The three-gate funnel: the curation chain above composed with the
    // visual dedup gate's min-id keep policy (phash CTEs + all-pairs hit)
    "x_mm_curation_dedup" ->
      s"""WITH ${TextAnalysis.modelGateSqlCtes()},
        |${phashSqlCtes(withVariants = false)},
        |ghit2 AS (SELECT a.doc_id, min(b.doc_id) AS dup_of
        |          FROM ph a JOIN ph b ON b.doc_id < a.doc_id
        |          WHERE bit_count(xor(a.phash_lo, b.phash_lo))
        |                + bit_count(xor(a.phash_hi, b.phash_hi)) <= $phashHammingMax
        |          GROUP BY 1),
        |gk2 AS (SELECT p.doc_id, h.dup_of IS NULL AS is_kept
        |        FROM ph p LEFT JOIN ghit2 h USING (doc_id)),
        |dd AS (SELECT doc_id, 8 + doc_id % 9 AS w2, 8 + (doc_id * 3) % 9 AS h2
        |       FROM documents),
        |xs AS (SELECT doc_id, w2, h2, unnest(range(0, w2)) AS x FROM dd),
        |ys AS (SELECT doc_id, w2, h2, x, unnest(range(0, h2)) AS y FROM xs),
        |px AS (SELECT doc_id,
        |         CAST(sum((doc_id + 7 * x + 13 * y) % 256) AS BIGINT) AS r_sum,
        |         CAST(sum((2 * doc_id + 5 * x + 11 * y) % 256) AS BIGINT) AS g_sum,
        |         CAST(sum((3 * doc_id + x * y) % 256) AS BIGINT) AS b_sum
        |       FROM ys GROUP BY 1),
        |jj AS (SELECT p2.doc_id, p2.r_sum, p2.g_sum, p2.b_sum,
        |        list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS tv
        |      FROM px p2 JOIN embeddings e ON e.vec_id = p2.doc_id),
        |sc2 AS (SELECT doc_id,
        |         CAST(list_dot_product(
        |           list_transform(range(0, len(tv)),
        |             k -> ((r_sum * (k + 1) + g_sum * (k + 2) + b_sum * (k + 3)) % 2001) - 1000),
        |           tv) AS BIGINT) AS align_fp
        |       FROM jj),
        |al AS (SELECT doc_id, align_fp >= 0 AS is_aligned FROM sc2)
        |SELECT d.lang, d.source,
        |  CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(COALESCE(sum(CASE WHEN mg.is_admit AND al.is_aligned AND k.is_kept
        |       THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_admitted,
        |  CAST(COALESCE(sum(CASE WHEN NOT mg.is_admit THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_text_rejected,
        |  CAST(COALESCE(sum(CASE WHEN NOT al.is_aligned THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_misaligned,
        |  CAST(COALESCE(sum(CASE WHEN NOT k.is_kept THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_visual_dup,
        |  CAST(COALESCE(sum(CASE WHEN mg.is_admit AND al.is_aligned AND k.is_kept
        |       THEN mg.n_words ELSE 0 END), 0) AS BIGINT) AS tokens_admitted
        |FROM documents d
        |JOIN mg ON mg.doc_id = d.doc_id
        |JOIN al ON al.doc_id = d.doc_id
        |JOIN gk2 k ON k.doc_id = d.doc_id
        |GROUP BY 1, 2""".stripMargin,
    // Per-window acoustic fingerprints from the PCM formula — a RIFF
    // parse, endianness, or windowing bug cannot hash-match.
    "x_mm_audio_fp" ->
      s"""WITH ${audioFpSqlCtes(withVariants = false)}
         |SELECT doc_id, win_idx, e_sum, zcr FROM afp""".stripMargin,
    // SEMANTIC oracle: all-pairs window-prefix check over the union with
    // the window-aligned cuts — the first-window candidate join must
    // find exactly this set.
    "x_mm_audio_dup" ->
      s"""WITH ${audioFpSqlCtes(withVariants = true)},
         |anf AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nf FROM afp GROUP BY 1),
         |apr AS (SELECT a.doc_id AS short_id, b.doc_id AS long_id, sn.nf AS n_short,
         |          count(*) FILTER (a.e_sum = b.e_sum AND a.zcr = b.zcr) AS n_match
         |        FROM afp a
         |        JOIN anf sn ON sn.doc_id = a.doc_id
         |        JOIN afp b ON b.win_idx = a.win_idx
         |        JOIN anf ln ON ln.doc_id = b.doc_id AND sn.nf < ln.nf
         |        WHERE a.win_idx < sn.nf
         |        GROUP BY 1, 2, 3)
         |SELECT short_id, long_id, CAST(n_short AS BIGINT) AS n_shared
         |FROM apr WHERE n_match = n_short""".stripMargin,
    // Per-frame fingerprints from the gray formula — a container parse,
    // frame decode, grid, or bit-assembly bug cannot hash-match.
    "x_mm_video_phash" ->
      s"""WITH ${videoPhashSqlCtes(withVariants = false)}
         |SELECT doc_id, frame_idx, phash_lo, phash_hi FROM vph""".stripMargin,
    // SEMANTIC oracle for the trimmed-copy detector: ALL-PAIRS prefix
    // check (every shorter clip against every longer one, frame by
    // frame) — the first-frame candidate join must find exactly this.
    "x_mm_clip_dup" ->
      s"""WITH ${videoPhashSqlCtes(withVariants = true)},
         |nfr AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nf FROM vph GROUP BY 1),
         |pr AS (SELECT a.doc_id AS short_id, b.doc_id AS long_id, sn.nf AS n_short,
         |         count(*) FILTER (a.phash_lo = b.phash_lo
         |                          AND a.phash_hi = b.phash_hi) AS n_match
         |       FROM vph a
         |       JOIN nfr sn ON sn.doc_id = a.doc_id
         |       JOIN vph b ON b.frame_idx = a.frame_idx
         |       JOIN nfr ln ON ln.doc_id = b.doc_id AND sn.nf < ln.nf
         |       WHERE a.frame_idx < sn.nf
         |       GROUP BY 1, 2, 3)
         |SELECT short_id, long_id, CAST(n_short AS BIGINT) AS n_shared
         |FROM pr WHERE n_match = n_short""".stripMargin,
    // Fingerprints from the pixel formula — a real-decode + grid + bit
    // assembly that disagrees in ANY bit cannot hash-match.
    "x_mm_image_phash" ->
      s"""WITH ${phashSqlCtes(withVariants = false)}
         |SELECT doc_id, phash_lo, phash_hi FROM ph""".stripMargin,
    // SEMANTIC oracle: brute-force all-pairs Hamming over the
    // formula-computed fingerprints — the banded engine must find exactly
    // this set (pigeonhole-lossless at <=3), so a lost bucket or wrong
    // shift fails the hash instead of hiding in a mirrored banding.
    "x_mm_image_neardup" ->
      s"""WITH ${phashSqlCtes(withVariants = true)}
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       CAST(bit_count(xor(a.phash_lo, b.phash_lo))
         |            + bit_count(xor(a.phash_hi, b.phash_hi)) AS BIGINT) AS hamming
         |FROM ph a JOIN ph b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.phash_lo, b.phash_lo))
         |      + bit_count(xor(a.phash_hi, b.phash_hi)) <= $phashHammingMax""".stripMargin,
    // exact-fingerprint groups, per-size ROI rollup; survivor = min id
    // (the gate's keep-first policy); keep_px via min-id correlated join
    "x_mm_dedup_savings" ->
      s"""WITH ${phashSqlCtes(withVariants = false)},
         |gpx AS (SELECT doc_id,
         |          CAST((8 + doc_id % 9) * (8 + (doc_id * 3) % 9) AS BIGINT) AS n_px
         |        FROM documents),
         |gj AS (SELECT p.phash_lo, p.phash_hi, p.doc_id, x.n_px
         |       FROM ph p JOIN gpx x USING (doc_id)),
         |gc AS (SELECT phash_lo, phash_hi, CAST(count(*) AS BIGINT) AS sz,
         |         CAST(sum(n_px) AS BIGINT) AS tot_px,
         |         CAST(arg_min(n_px, doc_id) AS BIGINT) AS keep_px
         |       FROM gj GROUP BY 1, 2)
         |SELECT sz AS comp_size,
         |       CAST(count(*) AS BIGINT) AS n_components,
         |       CAST(sum(sz) AS BIGINT) AS n_docs,
         |       CAST(sum(sz - 1) AS BIGINT) AS n_redundant,
         |       CAST(sum(tot_px - keep_px) AS BIGINT) AS redundant_px
         |FROM gc GROUP BY 1""".stripMargin,
    // min-id keep policy over the standing corpus, all-pairs spelling
    // (the semantic pin on the banded engine plan)
    "x_mm_dedup_gate" ->
      s"""WITH ${phashSqlCtes(withVariants = false)},
         |ghit AS (SELECT a.doc_id, min(b.doc_id) AS dup_of
         |         FROM ph a JOIN ph b ON b.doc_id < a.doc_id
         |         WHERE bit_count(xor(a.phash_lo, b.phash_lo))
         |               + bit_count(xor(a.phash_hi, b.phash_hi)) <= $phashHammingMax
         |         GROUP BY 1)
         |SELECT p.doc_id, h.dup_of, h.dup_of IS NULL AS is_kept
         |FROM ph p LEFT JOIN ghit h USING (doc_id)""".stripMargin,
    // Per-arrival best match (lowest Hamming, ties to the smallest corpus
    // id) + the duplicate verdict; -1 hamming = no match within threshold.
    "x_mm_phash_probe" ->
      s"""WITH ${phashSqlCtes(withVariants = true)},
         |hit AS (SELECT n.doc_id AS new_id, o.doc_id AS corpus_id,
         |          CAST(bit_count(xor(n.phash_lo, o.phash_lo))
         |               + bit_count(xor(n.phash_hi, o.phash_hi)) AS BIGINT) AS hamming
         |        FROM ph n JOIN ph o
         |          ON n.doc_id >= $variantOffset AND o.doc_id < $variantOffset
         |        WHERE bit_count(xor(n.phash_lo, o.phash_lo))
         |              + bit_count(xor(n.phash_hi, o.phash_hi)) <= $phashHammingMax),
         |best AS (SELECT new_id, corpus_id, hamming FROM (
         |           SELECT new_id, corpus_id, hamming,
         |             row_number() OVER (PARTITION BY new_id
         |               ORDER BY hamming, corpus_id) AS rnk
         |           FROM hit) WHERE rnk = 1)
         |SELECT v.doc_id AS new_id, b.corpus_id AS dup_of,
         |       CAST(COALESCE(b.hamming, -1) AS BIGINT) AS hamming,
         |       b.corpus_id IS NOT NULL AS is_dup
         |FROM (SELECT doc_id FROM ph WHERE doc_id >= $variantOffset) v
         |LEFT JOIN best b ON b.new_id = v.doc_id""".stripMargin)
}
