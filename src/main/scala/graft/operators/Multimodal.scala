package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: opaque `binary` payloads with typed
  * metadata, plus batch decode / feature-extract / frame-sample stages.
  *
  * The reference decodes opaque LoRa byte payloads into typed fields
  * (MyDatacollector/lib/MyLoRaCode.py:434-530); the training-data analogue
  * is image/audio/video blobs with decode UDFs. Every decode stage here is
  * REAL and JDK-native — PNG via `javax.imageio` ([[decodeImages]]), WAV
  * PCM via `javax.sound` ([[decodeAudio]]), animated GIF frame sampling
  * ([[sampleVideoFrames]]) — no stubs; a production deployment would swap
  * the codec inside the same mapPartitions shape for formats the JDK
  * lacks (JPEG2000, MP4, …).
  *
  * Scale notes (100 TB): blobs ride in the row (parquet binary); decode is
  * a mapPartitions pass so per-batch library init (a real codec would be
  * expensive to construct) amortizes across a partition, mirroring
  * mapInPandas batch semantics. Repartition by byte size before decode so
  * a few huge media files don't skew executors.
  */
object Multimodal {

  /** A media row: opaque bytes + metadata a catalog would carry. */
  case class MediaRecord(media_id: Long, mime: String, content: Array[Byte])

  /** Decoded features of one media object (stub schema: what an image
    * decode would yield). */
  case class DecodedMedia(media_id: Long, width: Int, height: Int,
                          n_frames: Int, brightness: Double)

  /** Wrap a text corpus as a media table: content = UTF-8 bytes, mime
    * from the source column. Models binary ingestion without external
    * fixtures (the driver testdata has no blob column). */
  def asMediaTable(docs: DataFrame, id: Column, text: Column,
                   source: Column): DataFrame =
    docs.select(id.as("media_id"),
      concat(lit("application/x-"), source).as("mime"),
      text.cast("binary").as("content"))

  /** Deterministic synthetic image corpus: one REAL PNG per id. Dimensions
    * and the gray value of each pixel are closed-form functions of the id
    * (`w = 8 + id%9`, `h = 8 + (id*7)%9`, `gray(x,y) = (id + 3x + 5y) % 256`),
    * so an oracle can compute the expected decode output arithmetically
    * while the engine path round-trips through actual PNG encode bytes.
    * PNG is lossless, so decoded pixels equal the generation rule exactly. */
  def syntheticPng(id: Long): Array[Byte] =
    syntheticPngWith(id,
      javax.imageio.ImageIO.getImageWritersByFormatName("png").next())

  /** Encode one synthetic PNG through a caller-held writer — the
    * per-partition-reuse form ([[syntheticPngTable]]): `ImageIO.write`
    * re-runs writer-plugin discovery on EVERY call, which at media-corpus
    * row counts costs more than the encode itself. */
  private def syntheticPngWith(id: Long,
      writer: javax.imageio.ImageWriter): Array[Byte] = {
    val w = 8 + Math.floorMod(id, 9L).toInt
    val h = 8 + Math.floorMod(id * 7, 9L).toInt
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = Math.floorMod(id + 3L * x + 5L * y, 256L).toInt
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    // in-memory cache: no per-row tmp-file churn on executors
    javax.imageio.ImageIO.setUseCache(false)
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.write(img)
    } finally ios.close()
    bos.toByteArray
  }

  /** Media table of real PNG blobs keyed by an id column. */
  def syntheticPngTable(docs: DataFrame, id: Column): Dataset[MediaRecord] = {
    import docs.sparkSession.implicits._
    docs.select(id.cast("long")).as[Long]
      .mapPartitions { it =>
        // one writer per partition, not per row (plugin discovery amortized);
        // released at task end, not GC time
        val writer =
          javax.imageio.ImageIO.getImageWritersByFormatName("png").next()
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => writer.dispose()))
        it.map(i => MediaRecord(i, "image/png", syntheticPngWith(i, writer)))
      }
  }

  /** REAL image decode: `javax.imageio` (JDK built-in — works headless,
    * no external codec deps) reads each blob back to pixels; width/height/
    * brightness come from the decoded image, not from metadata. Brightness
    * is mean luminance `(r+g+b)/3` over all pixels. Decoder state is
    * per-partition (one reader thread, no per-row codec construction) —
    * the batch shape a TB-scale media pipeline needs. Undecodable blobs
    * surface as an error row marker (negative dims) rather than killing
    * the job, mirroring the reference's tolerate-and-log decode loop
    * (MyDatacollector/lib/MyLoRaCode.py:434-530). */
  def decodeImages(media: Dataset[MediaRecord]): Dataset[DecodedMedia] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      // One PNG reader per partition: ImageIO.read runs reader-plugin
      // discovery per CALL, which dominates at small-image row counts.
      // Non-PNG blobs fall back to the discovery path; garbage falls
      // through both into the error row.
      val pngReader =
        javax.imageio.ImageIO.getImageReadersByFormatName("png").next()
      Option(org.apache.spark.TaskContext.get())
        .foreach(_.addTaskCompletionListener[Unit](_ => pngReader.dispose()))
      it.map { m =>
        // ImageIO.read returns null only when NO reader claims the bytes;
        // a recognized-but-corrupt blob (valid magic, truncated body)
        // THROWS from the format reader instead — catch both paths into
        // the same error row.
        val img = try {
          val iis = javax.imageio.ImageIO.createImageInputStream(
            new java.io.ByteArrayInputStream(m.content))
          try { pngReader.setInput(iis, true, true); pngReader.read(0) }
          finally iis.close()
        } catch { case _: Exception =>
          try javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(m.content))
          catch { case _: Exception => null }
        }
        if (img == null) DecodedMedia(m.media_id, -1, -1, 0, Double.NaN)
        else {
          val (w, h) = (img.getWidth, img.getHeight)
          var sum = 0.0
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val rgb = img.getRGB(x, y)
              sum += ((rgb >> 16 & 0xff) + (rgb >> 8 & 0xff) + (rgb & 0xff)) / 3.0
              x += 1
            }
            y += 1
          }
          DecodedMedia(m.media_id, w, h, 1, sum / (w * h))
        }
      }
    }
  }

  /** Decoded features of one audio object. `rms`/`peak` are normalized to
    * [-1, 1] full scale; `sum_sq` style exactness notes in [[decodeAudio]]. */
  case class DecodedAudio(media_id: Long, sample_rate: Int, n_samples: Long,
                          duration_s: Double, rms: Double, peak: Double)

  /** Deterministic synthetic audio corpus: one REAL RIFF/WAVE file per id
    * (PCM signed 16-bit little-endian, mono, 8 kHz). Sample count and every
    * sample value are closed-form functions of the id
    * (`n = 64 + id%65`, `s(i) = (id·31 + i·17) mod 65536 − 32768`), so an
    * oracle computes the expected decode output arithmetically while the
    * engine path round-trips through actual WAV container bytes (PCM is
    * lossless — decoded samples equal the generation rule exactly). */
  def syntheticWav(id: Long): Array[Byte] = {
    val n = 64 + Math.floorMod(id, 65L).toInt
    val dataLen = n * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1) // PCM
      .putShort(1) // mono
      .putInt(8000).putInt(16000) // sample rate, byte rate
      .putShort(2).putShort(16)   // block align, bits/sample
    bb.put("data".getBytes("US-ASCII")).putInt(dataLen)
    var i = 0
    while (i < n) {
      bb.putShort((Math.floorMod(id * 31 + i * 17L, 65536L) - 32768).toShort)
      i += 1
    }
    bb.array()
  }

  /** Media table of real WAV blobs keyed by an id column. */
  def syntheticWavTable(docs: DataFrame, id: Column): Dataset[MediaRecord] = {
    import docs.sparkSession.implicits._
    docs.select(id.cast("long")).as[Long]
      .mapPartitions(_.map(i => MediaRecord(i, "audio/wav", syntheticWav(i))))
  }

  /** One parsed PCM payload: (sampleRate, dataOffset, dataLen). */
  private type PcmSlice = (Int, Int, Int)

  /** Direct RIFF/WAVE walker for the 16-bit mono PCM layout (r12): the
    * JDK's `AudioSystem`/`WaveFileReader` header parse costs ~50 µs per
    * call AND is serialized JVM-globally (measured: 50 k headers 3.1 s
    * on 1 thread, 4.1 s on 32 — negative scaling; r12 probe), which on a
    * 32-core executor turns a trivial decode into the partition
    * bottleneck. The RIFF container is a public, trivial format (chunk
    * walk: "RIFF"+size+"WAVE", then "fmt "/"data" chunks), so the hot
    * path parses it directly — same zero-dep-codec stance as the XLSX/
    * HTML readers — and anything that is not strict 16-bit mono PCM
    * falls back to the JDK SPI below. Returns None for any shape the
    * walker does not PROVABLY handle. */
  private def parseWavPcm16Mono(b: Array[Byte]): Option[PcmSlice] = {
    @inline def u16(o: Int) = ((b(o) & 0xff) | ((b(o + 1) & 0xff) << 8))
    @inline def u32(o: Int): Long =
      (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
        ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)
    @inline def tag(o: Int, t: String): Boolean =
      b(o) == t(0).toByte && b(o + 1) == t(1).toByte &&
        b(o + 2) == t(2).toByte && b(o + 3) == t(3).toByte
    if (b.length < 44 || !tag(0, "RIFF") || !tag(8, "WAVE")) return None
    var off = 12
    var rate = -1
    var ok = false
    var data: Option[(Int, Int)] = None
    while (off + 8 <= b.length && (data.isEmpty || !ok)) {
      val len = u32(off + 4)
      if (len > Int.MaxValue || off + 8 + len > b.length) return None
      val l = len.toInt
      if (tag(off, "fmt ")) {
        if (l < 16) return None
        val codec = u16(off + 8); val ch = u16(off + 10)
        val bits = u16(off + 22)
        rate = u32(off + 12).toInt
        ok = codec == 1 && ch == 1 && bits == 16 && rate > 0
        if (!ok) return None // non-PCM16-mono: let the SPI decide
      } else if (tag(off, "data")) {
        data = Some((off + 8, l))
      }
      off += 8 + l + (l & 1) // chunks are word-aligned (RIFF padding)
    }
    if (ok) data.map { case (o, l) => (rate, o, l) } else None
  }

  /** REAL audio decode; sample count, duration, RMS and peak come from
    * the decoded samples, not from metadata. The hot path is the direct
    * [[parseWavPcm16Mono]] container walk; any other container/layout
    * goes through the JDK's public `AudioFileReader` SPI (loaded once
    * per partition — `AudioSystem`'s per-call registry lookup is
    * synchronized). Both paths produce identical rows on WAV input
    * (spec-pinned in MultimodalSpec). The squared-sample sum is kept
    * as an exact integer (16-bit samples: Σs² ≤ n·2³⁰, no rounding) and
    * normalized only at the end, so the oracle's integer arithmetic lands
    * on the identical double. Undecodable blobs surface as an error row
    * (negative rate) rather than killing the job — the reference's
    * tolerate-and-log decode stance (MyLoRaCode.py:434-530). */
  def decodeAudio(media: Dataset[MediaRecord]): Dataset[DecodedAudio] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // Resolve the JDK's AudioFileReader SPI providers ONCE per
      // partition (r12): `AudioSystem.getAudioInputStream` routes every
      // call through a SYNCHRONIZED service-registry lookup, so 32
      // parallel decode tasks serialized on one JVM-global lock — the
      // sf1 bench got SLOWER with more splits (2.4 s @ 1 task → 4.7 s
      // @ 32). This is precisely the per-batch codec init this
      // mapPartitions exists for; the per-row path below is the same
      // public SPI AudioSystem itself consults.
      val readers = {
        val l = java.util.ServiceLoader.load(
          classOf[javax.sound.sampled.spi.AudioFileReader],
          Thread.currentThread().getContextClassLoader)
        val b = scala.collection.mutable.ArrayBuffer[javax.sound.sampled.spi.AudioFileReader]()
        l.forEach(r => b += r)
        b.toSeq
      }
      def open(bytes: Array[Byte]): javax.sound.sampled.AudioInputStream = {
        val s = new java.io.ByteArrayInputStream(bytes)
        readers.iterator.flatMap { r =>
          s.reset()
          try Some(r.getAudioInputStream(s))
          catch { case _: javax.sound.sampled.UnsupportedAudioFileException => None }
        }.nextOption().getOrElse(
          throw new javax.sound.sampled.UnsupportedAudioFileException(
            "no SPI reader accepts this container"))
      }
      def pcmStats(id: Long, rate: Int, buf: Array[Byte], off: Int,
                   len: Int, bigEndian: Boolean): DecodedAudio = {
        val bb = java.nio.ByteBuffer.wrap(buf).order(
          if (bigEndian) java.nio.ByteOrder.BIG_ENDIAN
          else java.nio.ByteOrder.LITTLE_ENDIAN)
        val n = len / 2
        var sumSq = 0L
        var peak = 0L
        var i = 0
        while (i < n) {
          val s = bb.getShort(off + i * 2).toLong
          sumSq += s * s
          if (math.abs(s) > peak) peak = math.abs(s)
          i += 1
        }
        DecodedAudio(id, rate, n,
          n.toDouble / rate,
          if (n == 0) 0.0
          else math.sqrt(sumSq.toDouble / (n.toDouble * 32768.0 * 32768.0)),
          peak.toDouble / 32768.0)
      }
      it.map { m =>
        try {
          parseWavPcm16Mono(m.content) match {
            case Some((rate, off, len)) => // hot path: zero-copy slice
              pcmStats(m.media_id, rate, m.content, off, len, bigEndian = false)
            case None => // anything else: the JDK SPI decides
              val ain = open(m.content)
              try {
                val fmt = ain.getFormat
                require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1,
                  s"unsupported PCM layout: $fmt")
                val bytes = ain.readAllBytes()
                pcmStats(m.media_id, fmt.getSampleRate.toInt, bytes, 0,
                  bytes.length, fmt.isBigEndian)
              } finally ain.close()
          }
        } catch { case _: Exception =>
          DecodedAudio(m.media_id, -1, 0, 0.0, Double.NaN, Double.NaN)
        }
      }
    }
  }

  /** Decoded features of one multi-frame (video-like) object: container
    * dims, total frame count, and mean luminance over the SAMPLED frames
    * (every `stride`-th), the cheap proxy a 100 TB video pipeline
    * computes instead of decoding every frame. */
  case class DecodedVideo(media_id: Long, width: Int, height: Int,
                          n_frames: Int, sampled_frames: Int,
                          sampled_brightness: Double)

  /** Deterministic synthetic multi-frame corpus: one REAL animated GIF per
    * id (the one multi-frame container the JDK reads AND writes without
    * external codecs). Frame count, dims and every pixel are closed-form:
    * `frames = 1 + id%7`, `w = 8 + id%5`, `h = 8 + (id·3)%5`,
    * `gray(f,x,y) = (id + 11f + 3x + 5y) % 256`. A grayscale frame has
    * ≤ 256 distinct colors, so GIF's palette encodes it losslessly —
    * decoded samples equal the rule exactly (spec-enforced). */
  def syntheticGif(id: Long): Array[Byte] = {
    val frames = 1 + Math.floorMod(id, 7L).toInt
    val w = 8 + Math.floorMod(id, 5L).toInt
    val h = 8 + Math.floorMod(id * 3, 5L).toInt
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.setUseCache(false)
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    var f = 0
    while (f < frames) {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      val raster = img.getRaster
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          raster.setSample(x, y, 0,
            Math.floorMod(id + 11L * f + 3L * x + 5L * y, 256L).toInt)
          x += 1
        }
        y += 1
      }
      writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
      f += 1
    }
    writer.endWriteSequence()
    writer.dispose()
    ios.close()
    bos.toByteArray
  }

  /** Media table of real animated-GIF blobs keyed by an id column. */
  def syntheticGifTable(docs: DataFrame, id: Column): Dataset[MediaRecord] = {
    import docs.sparkSession.implicits._
    docs.select(id.cast("long")).as[Long]
      .mapPartitions(_.map(i => MediaRecord(i, "image/gif", syntheticGif(i))))
  }

  /** REAL frame sampling: the ImageIO GIF reader enumerates container
    * frames (`getNumImages`), and only every `stride`-th frame is decoded
    * to pixels — the I/O pattern that makes frame-sampling cheap at scale
    * (decode cost ∝ sampled frames, not total). Reader instance reused
    * across a partition (codec construction amortized); undecodable blobs
    * yield an error row (negative dims). */
  def sampleVideoFrames(media: Dataset[MediaRecord],
                        stride: Int): Dataset[DecodedVideo] = {
    require(stride >= 1, "stride must be >= 1")
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      val reader = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
      Option(org.apache.spark.TaskContext.get())
        .foreach(_.addTaskCompletionListener[Unit](_ => reader.dispose()))
      it.map { m =>
        try {
          val iis = javax.imageio.ImageIO.createImageInputStream(
            new java.io.ByteArrayInputStream(m.content))
          try {
            reader.setInput(iis, false)
            val n = reader.getNumImages(true)
            var sum = 0L
            var pixels = 0L
            var sampled = 0
            var w = 0; var h = 0
            var f = 0
            while (f < n) {
              val img = reader.read(f)
              w = img.getWidth; h = img.getHeight
              var y = 0
              while (y < h) {
                var x = 0
                while (x < w) {
                  sum += (img.getRGB(x, y) & 0xff)
                  x += 1
                }
                y += 1
              }
              pixels += w.toLong * h
              sampled += 1
              f += stride
            }
            DecodedVideo(m.media_id, w, h, n, sampled,
              if (pixels == 0) 0.0 else sum.toDouble / pixels)
          } finally iis.close()
        } catch { case _: Exception =>
          DecodedVideo(m.media_id, -1, -1, 0, 0, Double.NaN)
        }
      }
    }
  }

  /** Column-level feature extraction on the binary payload — byte count
    * and a strided byte-code checksum ("frame sampling": every `stride`-th
    * byte). Pure codegen-able expressions; the DuckDB oracle mirrors them
    * over the original text (ASCII corpus ⇒ byte == char code). */
  def byteFeatures(media: DataFrame, stride: Int): DataFrame =
    media.select(col("media_id"), col("mime"),
      octet_length(col("content")).as("n_bytes"),
      // empty blobs: sequence(1, 0, step) throws; DuckDB's range(1,1,16)
      // yields an empty list and a NULL sum — match that with a guard.
      when(octet_length(col("content")) === 0, lit(null).cast("long"))
        .otherwise(aggregate(
          sequence(lit(1), octet_length(col("content")), lit(stride)),
          lit(0L),
          (acc, i) => acc +
            ascii(call_function("substr", col("content").cast("string"), i, lit(1)))))
        .as("sample_checksum"),
      (floor(octet_length(col("content")) / 64) + 1).as("n_frames"))
}
