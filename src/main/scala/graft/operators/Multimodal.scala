package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (SURVEY §2 #49).
  *
  * Treats media as opaque `binary` columns with typed metadata, the way a
  * 100 TB training pipeline stores images/audio next to text. The decode /
  * feature-extract step is a clearly-marked deterministic STUB (no codec
  * libraries in this environment), but every piece of Spark plumbing is
  * real: binary column synthesis, a typed `Dataset` boundary with
  * case-class encoders, partition-preserving `mapPartitions` with
  * iterator-at-a-time batching (the same shape a JNI decoder or Pandas-UDF
  * batch would use), and a narrow plan — no shuffle anywhere.
  */
object Multimodal {

  case class MediaIn(doc_id: Long, blob: Array[Byte], width: Int, height: Int, format: String)
  case class MediaFeat(doc_id: Long, width: Int, height: Int, format: String,
                       n_bytes: Int, mean_byte: Double, checksum: Long)

  /** STUB decoder: a real implementation would decode `blob` with an image
    * codec; this computes deterministic byte statistics instead, preserving
    * the exact call shape (per-partition iterator in, iterator out).
    */
  private def decodeStub(rows: Iterator[MediaIn]): Iterator[MediaFeat] =
    rows.map { m =>
      var sum = 0L
      var crc = 1469598103934665603L // FNV-1a 64 offset basis
      var i = 0
      while (i < m.blob.length) {
        val b = m.blob(i) & 0xff
        sum += b
        crc = (crc ^ b) * 1099511628211L
        i += 1
      }
      MediaFeat(m.doc_id, m.width, m.height, m.format, m.blob.length,
        if (m.blob.length == 0) 0d else sum.toDouble / m.blob.length, crc)
    }

  /** The synthesized media table (binary + typed metadata) from documents.
    * Null text = no media asset: dropped HERE, at synthesis, so the typed
    * codec boundary never sees a null payload (a real decoder would NPE
    * exactly like the stub did before this filter).
    */
  def mediaTable(documents: DataFrame): DataFrame =
    documents.filter(col("text").isNotNull).select(
      col("doc_id"),
      unhex(md5(col("text"))).as("blob"),
      (col("doc_id") % 640 + 64).cast("int").as("width"),
      (col("doc_id") % 480 + 48).cast("int").as("height"),
      element_at(array(lit("png"), lit("jpeg"), lit("webp")), (col("doc_id") % 3 + 1).cast("int")).as("format"))

  /** Run the stub decode through the typed mapPartitions boundary. */
  def mediaFeatures(documents: DataFrame): DataFrame = {
    val ds: Dataset[MediaIn] = mediaTable(documents).as(Encoders.product[MediaIn])
    ds.mapPartitions(decodeStub)(Encoders.product[MediaFeat]).toDF()
  }

  /** Frame sampling as pure column plumbing: split the binary payload into
    * fixed-size frames and keep every `stride`-th one (a video keyframe
    * sample at 100 TB has exactly this plan shape — a generator over binary
    * slices, no shuffle, no UDF; a real decoder would replace the
    * `substring` slicing inside the same generator).
    */
  def frameSample(documents: DataFrame, frameBytes: Int = 4, stride: Int = 2): DataFrame =
    mediaTable(documents)
      .filter(length(col("blob")) >= frameBytes)
      .select(col("doc_id"), col("format"), col("blob"),
        explode(sequence(lit(0), (length(col("blob")) / frameBytes).cast("int") - 1, lit(stride)))
          .as("frame_idx"))
      .select(col("doc_id"), col("format"), col("frame_idx"),
        col("blob").substr(col("frame_idx") * frameBytes + 1, lit(frameBytes)).as("frame"))

  // ---- real codec round-trip (#73) -----------------------------------------
  case class ImageIn(doc_id: Long, png: Array[Byte])
  case class ImageFeat(doc_id: Long, width: Int, height: Int,
                       mean_r: Double, mean_g: Double, mean_b: Double)

  /** Deterministic pixel value for (doc, x, y) — shared by the encoder and
    * the round-trip spec.
    */
  private[graft] def pixelRgb(docId: Long, x: Int, y: Int): Int = {
    val r = ((docId * 31 + x * 7 + y * 13) % 256).toInt
    val g = ((docId * 17 + x * 3 + y * 5) % 256).toInt
    val b = ((docId * 29 + x * 11 + y * 19) % 256).toInt
    (r << 16) | (g << 8) | b
  }

  /** Synthesize a REAL PNG binary column — 8×8 RGB images encoded with the
    * JDK's ImageIO (no external codec libraries needed). This is the
    * ingest-side twin of [[imageDecode]]: together they are a genuine
    * encode → binary column → decode round-trip, not a stub.
    */
  def imageTable(documents: DataFrame, w: Int = 8, h: Int = 8): DataFrame = {
    val ds = documents.select(col("doc_id")).as(Encoders.scalaLong)
    ds.mapPartitions { ids =>
      // codec setup ONCE PER PARTITION (ImageIO.write creates and disposes
      // a writer per call — the dominant cost for small images); the
      // image buffer is reused too. This is the general per-partition
      // amortization pattern any codec boundary should use.
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("png").next()
      val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      ids.map { id =>
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) { img.setRGB(x, y, pixelRgb(id, x, y)); x += 1 }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
        writer.setOutput(ios)
        writer.write(img)
        ios.close()
        ImageIn(id, bos.toByteArray)
      }
    }(Encoders.product[ImageIn]).toDF()
  }

  /** REAL decode: `ImageIO.read` over the binary column through the same
    * typed `mapPartitions` boundary the stub uses — per-row codec work,
    * partition-preserving, zero shuffle; a third-party decoder (JNI,
    * TurboJPEG, ffmpeg) plugs into this exact seam. Emits dimensions +
    * per-channel means (the normalization statistics a training pipeline
    * extracts).
    */
  def imageDecode(documents: DataFrame): DataFrame = {
    val ds: Dataset[ImageIn] = imageTable(documents).as(Encoders.product[ImageIn])
    ds.mapPartitions { rows =>
      // reader created once per partition (ImageIO.read builds a fresh
      // reader chain per call), reset per image via setInput
      val reader = javax.imageio.ImageIO.getImageReadersByFormatName("png").next()
      rows.map { m =>
        val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
          new java.io.ByteArrayInputStream(m.png))
        reader.setInput(iis, true, true)
        val img = reader.read(0)
        iis.close()
        val (w, h) = (img.getWidth, img.getHeight)
        var (sr, sg, sb) = (0L, 0L, 0L)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val p = img.getRGB(x, y)
            sr += (p >> 16) & 0xff; sg += (p >> 8) & 0xff; sb += p & 0xff
            x += 1
          }
          y += 1
        }
        val n = (w * h).toDouble
        ImageFeat(m.doc_id, w, h, sr / n, sg / n, sb / n)
      }
    }(Encoders.product[ImageFeat]).toDF()
  }

  // ---- real audio round-trip (#74) -----------------------------------------
  case class AudioIn(doc_id: Long, wav: Array[Byte])
  case class AudioFeat(doc_id: Long, sample_rate: Int, channels: Int,
                       n_samples: Int, rms: Double, peak: Int)

  private val SAMPLE_RATE = 8000f
  private val N_SAMPLES = 64

  /** Deterministic 16-bit PCM sample for (doc, i) — shared by the encoder
    * and the round-trip spec.
    */
  private[graft] def pcmSample(docId: Long, i: Int): Short =
    (((docId * 37 + i.toLong * 911) % 65536L) - 32768L).toShort

  /** Synthesize a REAL WAV binary column — 16-bit mono PCM encoded with
    * the JDK's javax.sound.sampled (no external codec libraries). The
    * audio twin of [[imageTable]].
    */
  def audioTable(documents: DataFrame): DataFrame = {
    val ds = documents.select(col("doc_id")).as(Encoders.scalaLong)
    ds.mapPartitions { ids =>
      val fmt = new javax.sound.sampled.AudioFormat(SAMPLE_RATE, 16, 1, true, false)
      ids.map { id =>
        val pcm = new Array[Byte](N_SAMPLES * 2)
        var i = 0
        while (i < N_SAMPLES) {
          val s = pcmSample(id, i)
          pcm(2 * i) = (s & 0xff).toByte
          pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
          i += 1
        }
        val ais = new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), fmt, N_SAMPLES.toLong)
        val bos = new java.io.ByteArrayOutputStream()
        javax.sound.sampled.AudioSystem.write(ais,
          javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
        AudioIn(id, bos.toByteArray)
      }
    }(Encoders.product[AudioIn]).toDF()
  }

  /** REAL decode: `AudioSystem.getAudioInputStream` over the binary column
    * through the typed boundary — emits format metadata + RMS/peak (the
    * loudness statistics an audio-filtering pipeline extracts).
    */
  def audioDecode(documents: DataFrame): DataFrame = {
    val ds: Dataset[AudioIn] = audioTable(documents).as(Encoders.product[AudioIn])
    ds.mapPartitions { rows =>
      rows.map { a =>
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(a.wav))
        val fmt = ais.getFormat
        val pcm = ais.readAllBytes()
        val n = pcm.length / 2
        var (sumSq, peak) = (0d, 0)
        var i = 0
        while (i < n) {
          val s = ((pcm(2 * i) & 0xff) | (pcm(2 * i + 1) << 8)).toShort.toInt
          sumSq += s.toDouble * s
          if (math.abs(s) > peak) peak = math.abs(s)
          i += 1
        }
        AudioFeat(a.doc_id, fmt.getSampleRate.toInt, fmt.getChannels, n,
          if (n == 0) 0d else math.sqrt(sumSq / n), peak)
      }
    }(Encoders.product[AudioFeat]).toDF()
  }

  // ---- real image resize (#56) ---------------------------------------------
  case class ResizedImage(doc_id: Long, width: Int, height: Int, px_hex: String)

  /** REAL nearest-neighbor image resize through the codec seam: decode the
    * PNG binary column ([[imageTable]]'s real ImageIO encode), resample
    * with deterministic integer source-index math
    * (`sx = ox * srcW / outW`, floor division — the classic NN map), and
    * emit the resized pixels as row-major `RRGGBB` hex (binary would break
    * the gate's row sort; hex is injective, see the frame_sample note).
    *
    * Same partition-preserving typed `mapPartitions` boundary and
    * once-per-partition reader amortization as [[imageDecode]] — zero
    * shuffle, and a JNI/TurboJPEG resampler plugs into the identical seam.
    * Because the source pixels are a closed-form function of
    * (doc_id, x, y) ([[pixelRgb]]) and PNG is lossless, the full
    * encode → decode → resample path IS oracle-checkable: the DuckDB twin
    * recomputes the expected output straight from the formula.
    */
  def imageResize(documents: DataFrame, outW: Int = 5, outH: Int = 3,
                  srcW: Int = 8, srcH: Int = 8): DataFrame = {
    val ds: Dataset[ImageIn] = imageTable(documents, srcW, srcH).as(Encoders.product[ImageIn])
    ds.mapPartitions { rows =>
      val reader = javax.imageio.ImageIO.getImageReadersByFormatName("png").next()
      rows.map { m =>
        val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
          new java.io.ByteArrayInputStream(m.png))
        reader.setInput(iis, true, true)
        val img = reader.read(0)
        iis.close()
        val (w, h) = (img.getWidth, img.getHeight)
        val sb = new java.lang.StringBuilder(outW * outH * 6)
        var oy = 0
        while (oy < outH) {
          val sy = oy * h / outH
          var ox = 0
          while (ox < outW) {
            val sx = ox * w / outW
            sb.append("%06x".format(img.getRGB(sx, sy) & 0xffffff))
            ox += 1
          }
          oy += 1
        }
        ResizedImage(m.doc_id, outW, outH, sb.toString)
      }
    }(Encoders.product[ResizedImage]).toDF()
  }

}
