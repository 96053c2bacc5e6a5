package graft.operators

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables

/** Multimodal columns: media as opaque `binary` + typed metadata, decoded
  * with REAL codecs (reference analogue: the pipeline's binary artifact
  * handling, 04_1_XGB_traintest.R:402).
  *
  * The corpus ships no media files, so the asset table is *generated*
  * deterministically from `documents.doc_id`: a tiny grayscale raster whose
  * pixel(i) = (seed + i) mod 256, encoded as a real PNG (`javax.imageio`,
  * JDK built-in, headless — no native codecs) for even doc_ids and a
  * byte-exact 24bpp BMP for odd ones. Decode is the REAL `ImageIO.read`
  * path for both formats — PNG dimensions/pixels only exist after a real
  * inflate + unfilter, so the decoded pixel sum is genuine decoder output,
  * not an echo of the generator. The DuckDB oracle replays everything from
  * closed forms: the PNG header prefix is fixed by the spec given
  * (w, h, 8-bit, grayscale), the BMP layout is fully deterministic, and
  * sum_{i<n} (s+i) mod 256 has a closed form.
  *
  * Scale notes: payloads are created and decoded inside one `mapPartitions`
  * pass — they never shuffle; the `documents` scan prunes to `doc_id` only.
  */
object Multimodal {

  /** `ImageIO`'s default stream cache is DISK-backed: every
    * `ImageIO.write`/`read` without an explicit Image*Stream creates and
    * deletes a temp FILE — measured 3× the whole codec cost at this
    * payload size (PNG write 157→47 µs, read 117→37 µs without it). All
    * engine payloads are small in-memory byte arrays, so memory-cached
    * streams are strictly better; runs in each JVM that loads this object
    * (driver and executors alike). */
  private val _useMemCache: Unit = ImageIO.setUseCache(false)

  final case class Asset(doc_id: Long, fmt: String, width: Int, height: Int,
                         payload: Array[Byte])
  /** Real decoder output: dims/bands/pixel-sum from `ImageIO.read`, plus a
    * nearest-neighbor resize of the decoded raster to `RzW`×`RzH`. */
  final case class DecodedAsset(doc_id: Long, fmt: String,
                                dec_w: Long, dec_h: Long, dec_bands: Long,
                                px_sum: Long, rz_px_sum: Long,
                                payload: Array[Byte])

  /** Fixed resize target for the registered query (oracle replays the
    * nearest-neighbor source-index arithmetic at these dims). */
  val RzW = 10
  val RzH = 8

  /** Deterministic per-doc image spec — the single source of truth shared
    * with the oracle SQL (see SparkEntry q_image_decode). */
  def imageSpec(docId: Long): (Int, Int, Long) = {
    val w = (8 + docId % 24).toInt
    val h = (8 + (docId * 7) % 16).toInt
    val seed = (docId * 131 + 17) % 256
    (w, h, seed)
  }

  private def grayImage(w: Int, h: Int, seed: Long): BufferedImage = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
    val r = img.getRaster
    var i = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        r.setSample(x, y, 0, ((seed + i) % 256).toInt)
        x += 1; i += 1
      }
      y += 1
    }
    img
  }

  /** Real PNG encode (JDK ImageIO writer; 8-bit grayscale → color type 0,
    * no interlace — the 29-byte signature+IHDR prefix is spec-fixed). */
  def encodePng(w: Int, h: Int, seed: Long): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    ImageIO.write(grayImage(w, h, seed), "png", bos)
    bos.toByteArray
  }

  /** Byte-exact 24bpp bottom-up BMP (54-byte header, 4-byte row padding) —
    * manual layout so EVERY byte, including file size, is oracle-computable;
    * decoding still goes through the real ImageIO BMP codec. */
  def encodeBmp(w: Int, h: Int, seed: Long): Array[Byte] = {
    val stride = (w * 3 + 3) / 4 * 4
    val fileSize = 54 + stride * h
    val b = new Array[Byte](fileSize)
    def putLE(off: Int, v: Int, n: Int): Unit = {
      var i = 0
      while (i < n) { b(off + i) = (v >>> (8 * i)).toByte; i += 1 }
    }
    b(0) = 'B'; b(1) = 'M'
    putLE(2, fileSize, 4); putLE(10, 54, 4); putLE(14, 40, 4)
    putLE(18, w, 4); putLE(22, h, 4); putLE(26, 1, 2); putLE(28, 24, 2)
    putLE(34, stride * h, 4)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = ((seed + y.toLong * w + x) % 256).toByte
        val off = 54 + (h - 1 - y) * stride + x * 3 // bottom-up rows
        b(off) = v; b(off + 1) = v; b(off + 2) = v
        x += 1
      }
      y += 1
    }
    b
  }

  /** Generate the asset table: real PNG payloads (even doc_id) / real BMP
    * payloads (odd). Only `doc_id` is read from `documents` — the scan
    * prunes to one column. */
  def assets(spark: SparkSession, dir: String): Dataset[Asset] = {
    val spark2 = spark
    import spark2.implicits._
    // repartition the 8-byte key column before the codec pass: each row
    // fans out into a real PNG/BMP encode, and a single-file scan of the
    // tiny pruned column would otherwise serialize that on one core
    Tables.documents(spark, dir).select(col("doc_id")).as[Long]
      .repartition(col("doc_id"))
      .mapPartitions(_.map { id =>
        val (w, h, seed) = imageSpec(id)
        if (id % 2 == 0) Asset(id, "png", w, h, encodePng(w, h, seed))
        else Asset(id, "bmp", w, h, encodeBmp(w, h, seed))
      })
  }

  /** REAL decode: `ImageIO.read` (PNG inflate+unfilter / BMP bottom-up
    * 24bpp), then band-0 pixel sum and a nearest-neighbor resample of the
    * decoded raster. For the grayscale corpus band 0 is the gray channel in
    * both layouts (PNG gray → 1 band; BMP → 3 identical BGR bands). */
  def decodeAsset(a: Asset): DecodedAsset = {
    val img = ImageIO.read(new ByteArrayInputStream(a.payload))
    require(img != null, s"undecodable ${a.fmt} payload for doc ${a.doc_id}")
    val (w, h) = (img.getWidth, img.getHeight)
    val raster = img.getRaster
    var pxSum = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { pxSum += raster.getSample(x, y, 0); x += 1 }
      y += 1
    }
    var rzSum = 0L
    var ty = 0
    while (ty < RzH) {
      var tx = 0
      while (tx < RzW) {
        rzSum += raster.getSample(tx * w / RzW, ty * h / RzH, 0)
        tx += 1
      }
      ty += 1
    }
    DecodedAsset(a.doc_id, a.fmt, w, h, raster.getNumBands.toLong,
      pxSum, rzSum, a.payload)
  }

  /** Per-partition batch decode over the typed Dataset — payloads stay in
    * their partition; one decoder pass per row. */
  def extractFeatures(assets: Dataset[Asset]): Dataset[DecodedAsset] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions(_.map(decodeAsset))
  }

  /** Real resize: decode, nearest-neighbor resample the decoded raster to
    * `tw`×`th`, re-encode in the asset's own format. */
  def resize(assets: Dataset[Asset], tw: Int, th: Int): Dataset[Asset] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions(_.map { a =>
      val img = ImageIO.read(new ByteArrayInputStream(a.payload))
      require(img != null, s"undecodable ${a.fmt} payload for doc ${a.doc_id}")
      val (sw, sh) = (img.getWidth, img.getHeight)
      val out = new BufferedImage(tw, th, BufferedImage.TYPE_BYTE_GRAY)
      var ty = 0
      while (ty < th) {
        var tx = 0
        while (tx < tw) {
          out.getRaster.setSample(tx, ty, 0,
            img.getRaster.getSample(tx * sw / tw, ty * sh / th, 0))
          tx += 1
        }
        ty += 1
      }
      val payload =
        if (a.fmt == "png") {
          val bos = new ByteArrayOutputStream()
          ImageIO.write(out, "png", bos)
          bos.toByteArray
        } else {
          // re-encode BMP from the resized raster via the byte-exact layout
          val stride = (tw * 3 + 3) / 4 * 4
          val b = new Array[Byte](54 + stride * th)
          System.arraycopy(encodeBmp(tw, th, 0), 0, b, 0, 54)
          var y = 0
          while (y < th) {
            var x = 0
            while (x < tw) {
              val v = out.getRaster.getSample(x, y, 0).toByte
              val off = 54 + (th - 1 - y) * stride + x * 3
              b(off) = v; b(off + 1) = v; b(off + 2) = v
              x += 1
            }
            y += 1
          }
          b
        }
      Asset(a.doc_id, a.fmt, tw, th, payload)
    })
  }

  // -- video --------------------------------------------------------------

  final case class VideoAsset(doc_id: Long, payload: Array[Byte])
  /** Real per-frame decoder output for a sampled video frame. */
  final case class VideoFrame(doc_id: Long, n_frames: Long, frame_idx: Long,
                              dec_w: Long, dec_h: Long, px_sum: Long)

  /** Every `FrameStride`-th frame of each video is decoded (frame 0 always
    * included) — the sampling knob of the frame-extraction operator. */
  val FrameStride = 2

  /** Deterministic per-doc video spec (w, h, frames, seed) — the single
    * source of truth shared with the q_video_frames oracle. Dims are
    * 8-aligned (whole JPEG MCUs); frame f is SOLID gray
    * (seed + 17·f) mod 256. A constant 8×8 block is a DC-only DCT whose
    * quantized coefficient reconstructs the value exactly (verified for
    * all 256 grays at every spec dim), so the REAL lossy codec yields a
    * closed-form pixel sum: w·h·gray(f). */
  def videoSpec(docId: Long): (Int, Int, Int, Long) = {
    val w = (16 + 8 * (docId % 3)).toInt
    val h = (16 + 8 * (docId % 2)).toInt
    val frames = (4 + docId % 5).toInt
    val seed = (docId * 53 + 11) % 256
    (w, h, frames, seed)
  }

  def frameGray(seed: Long, f: Int): Int = ((seed + 17L * f) % 256).toInt

  /** MJPEG-style container: the payload is simply the concatenation of
    * real JPEG frames — exactly the layout of motion-JPEG streams, where a
    * demuxer splits on JPEG markers. The writer is caller-supplied:
    * `ImageIO.write`'s per-call registry scan + stream wrap is ~3× the
    * actual encode (measured 126 vs 40 µs/frame), so the query path holds
    * ONE `ImageWriter` per partition. */
  private def encodeVideoWith(writer: javax.imageio.ImageWriter, w: Int,
                              h: Int, frames: Int, seed: Long): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    var f = 0
    while (f < frames) {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
      val v = frameGray(seed, f)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { img.getRaster.setSample(x, y, 0, v); x += 1 }
        y += 1
      }
      val mos = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
      writer.setOutput(mos)
      writer.write(img)
      mos.close()
      f += 1
    }
    bos.toByteArray
  }

  /** Generate the video asset table — real concatenated-JPEG payloads from
    * the doc_id spec. The documents scan prunes to doc_id only; the tiny
    * key column is REPARTITIONED before the codec pass (an 8-byte-per-row
    * shuffle) because the generator fans each row out into frames-many
    * real JPEG encodes — without it a single-file scan serializes the
    * codec work on one core. One writer per partition (see encodeVideoWith). */
  def videoAssets(spark: SparkSession, dir: String): Dataset[VideoAsset] = {
    val spark2 = spark
    import spark2.implicits._
    Tables.documents(spark, dir).select(col("doc_id")).as[Long]
      .repartition(col("doc_id"))
      .mapPartitions { it =>
        val writer = ImageIO.getImageWritersByFormatName("jpg").next()
        new Iterator[VideoAsset] {
          private var disposed = false
          def hasNext: Boolean = {
            val h = it.hasNext
            if (!h && !disposed) { writer.dispose(); disposed = true }
            h
          }
          def next(): VideoAsset = {
            val id = it.next()
            val (w, h, frames, seed) = videoSpec(id)
            VideoAsset(id, encodeVideoWith(writer, w, h, frames, seed))
          }
        }
      }
  }

  /** Walk ONE JPEG frame starting at `off` (which must point at SOI) and
    * return the offset just past its EOI marker. A raw 0xFFD8 byte scan is
    * NOT a sound demuxer: byte-stuffing (FF → FF 00) protects only the
    * entropy-coded scan data, while marker-segment payloads (DQT/DHT/APPn
    * tables) are length-delimited and may legally contain FF D8 — a frame
    * would be false-split there. Walking the segment structure — marker +
    * big-endian length for framed segments, stuffed-FF/RSTn skipping
    * inside scan data — cannot false-split, and a truncated or corrupt
    * frame fails loudly at the exact offset. */
  private def jpegFrameEnd(p: Array[Byte], off: Int, docId: Long): Int = {
    def u8(k: Int): Int = {
      require(k < p.length,
        s"truncated JPEG frame at byte $k for doc $docId")
      p(k) & 0xFF
    }
    require(u8(off) == 0xFF && u8(off + 1) == 0xD8,
      s"expected SOI at byte $off for doc $docId")
    var i = off + 2
    while (true) {
      require(u8(i) == 0xFF,
        s"expected JPEG marker at byte $i for doc $docId")
      while (u8(i + 1) == 0xFF) i += 1 // fill bytes before a marker
      val m = u8(i + 1)
      i += 2
      if (m == 0xD9) return i // EOI — end of this frame
      if (m != 0x01 && !(m >= 0xD0 && m <= 0xD7)) { // standalone: TEM/RSTn
        val len = (u8(i) << 8) | u8(i + 1) // framed segment: 2-byte length
        require(len >= 2, s"bad JPEG segment length at byte $i for doc $docId")
        i += len
        if (m == 0xDA) { // SOS: entropy-coded data until a real marker
          var inScan = true
          while (inScan) {
            if (u8(i) != 0xFF) i += 1
            else {
              val n = u8(i + 1)
              if (n == 0x00 || (n >= 0xD0 && n <= 0xD7)) i += 2 // stuffed/RST
              else inScan = false
            }
          }
        }
      }
    }
    i // unreachable — loop exits via EOI return or a require
  }

  /** REAL frame demux + decode: walk the concatenated JPEG frames by
    * segment structure ([[jpegFrameEnd]] — marker lengths + scan-data
    * byte-stuffing, so a FF D8 inside a table payload can never
    * false-split a frame), decode every `stride`-th frame with
    * `ImageIO.read` (the real lossy JPEG path: huffman decode → dequant →
    * IDCT), and report dims + pixel sum FROM THE DECODER OUTPUT. A
    * truncated or corrupt frame fails loudly. */
  private def decodeFramesWith(reader: javax.imageio.ImageReader,
                               a: VideoAsset, stride: Int): Seq[VideoFrame] = {
    val p = a.payload
    val soi = scala.collection.mutable.ArrayBuffer.empty[Int]
    val ends = scala.collection.mutable.ArrayBuffer.empty[Int]
    var off = 0
    while (off + 1 < p.length &&
           (p(off) & 0xFF) == 0xFF && (p(off + 1) & 0xFF) == 0xD8) {
      soi += off
      off = jpegFrameEnd(p, off, a.doc_id)
      ends += off
    }
    require(soi.nonEmpty, s"no JPEG frames in video payload for doc ${a.doc_id}")
    require(off == p.length,
      s"trailing bytes after frame ${soi.length - 1} (offset $off of " +
        s"${p.length}) for doc ${a.doc_id}")
    val n = soi.length
    (0 until n by stride).map { f =>
      val end = ends(f)
      val mis = new javax.imageio.stream.MemoryCacheImageInputStream(
        new ByteArrayInputStream(p, soi(f), end - soi(f)))
      val img =
        try { reader.setInput(mis); reader.read(0) }
        catch { case e: Exception =>
          throw new IllegalArgumentException(
            s"undecodable frame $f for doc ${a.doc_id}", e)
        } finally mis.close()
      require(img != null, s"undecodable frame $f for doc ${a.doc_id}")
      val (w, h) = (img.getWidth, img.getHeight)
      var pxSum = 0L
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { pxSum += img.getRaster.getSample(x, y, 0); x += 1 }
        y += 1
      }
      VideoFrame(a.doc_id, n.toLong, f.toLong, w.toLong, h.toLong, pxSum)
    }
  }

  /** REAL frame demux + decode: walk the concatenated JPEG frames by
    * segment structure (see [[jpegFrameEnd]]), decode every `stride`-th
    * frame (the real lossy JPEG path: huffman decode → dequant → IDCT),
    * and report dims + pixel sum FROM THE DECODER OUTPUT. A truncated or
    * corrupt frame fails loudly. One-shot form; the query path reuses one
    * `ImageReader` per partition (per-call `ImageIO.read` is ~5× the
    * decode — 101 vs 18 µs/frame). */
  def decodeVideoFrames(a: VideoAsset,
                        stride: Int = FrameStride): Seq[VideoFrame] = {
    val reader = ImageIO.getImageReadersByFormatName("jpg").next()
    try decodeFramesWith(reader, a, stride)
    finally reader.dispose()
  }

  /** q_video_frames: per-doc sampled-frame decode gate — the demuxed frame
    * count and every sampled frame's decoded dims + pixel sum, all
    * reconstructed by the oracle from the doc_id spec's closed forms. One
    * input row fans out WITHIN its partition — no shuffle after the
    * key-column repartition in `videoAssets`; one reader per partition. */
  def videoFramesQuery(spark: SparkSession, dir: String): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    videoAssets(spark, dir).mapPartitions { it =>
      val reader = ImageIO.getImageReadersByFormatName("jpg").next()
      new Iterator[Seq[VideoFrame]] {
        private var disposed = false
        def hasNext: Boolean = {
          val h = it.hasNext
          if (!h && !disposed) { reader.dispose(); disposed = true }
          h
        }
        def next(): Seq[VideoFrame] =
          decodeFramesWith(reader, it.next(), FrameStride)
      }.flatten
    }.toDF()
      .orderBy("doc_id", "frame_idx")
  }

  /** q_image_decode: the per-doc byte-level decode gate. Header fields are
    * parsed from the ACTUAL payload bytes at fixed offsets in SQL (PNG IHDR
    * big-endian at byte 17; BMP BITMAPINFOHEADER little-endian at byte 19);
    * decoded dims/bands/pixel-sums come from the real decoder. The oracle
    * reconstructs all of it from the doc_id spec. */
  def decodeQuery(spark: SparkSession, dir: String): DataFrame = {
    def byteAt(off: Int) = // 1-based offset → unsigned byte value
      conv(hex(substring(col("payload"), off, 1)), 16, 10).cast(LongType)
    def le4(off: Int) =
      byteAt(off) + byteAt(off + 1) * 256L + byteAt(off + 2) * 65536L +
        byteAt(off + 3) * 16777216L
    val isPng = col("fmt") === "png"
    extractFeatures(assets(spark, dir)).toDF()
      .select(
        col("doc_id"), col("fmt"),
        when(isPng, hex(substring(col("payload"), 1, 29)))
          .otherwise(hex(substring(col("payload"), 1, 2))).as("hdr_hex"),
        when(isPng, conv(hex(substring(col("payload"), 17, 4)), 16, 10)
          .cast(LongType)).otherwise(le4(19)).as("hdr_w"),
        when(isPng, conv(hex(substring(col("payload"), 21, 4)), 16, 10)
          .cast(LongType)).otherwise(le4(23)).as("hdr_h"),
        col("dec_w"), col("dec_h"), col("dec_bands"),
        col("px_sum"), col("rz_px_sum"),
        when(!isPng, length(col("payload")).cast(LongType)).as("n_bytes"))
      .orderBy("doc_id")
  }

  /** q_multimodal_meta: corpus-level profile of the REAL decode — asset and
    * per-format counts, decoded pixel totals, and the (deterministic) BMP
    * byte volume. PNG byte volume is intentionally absent: deflate output
    * length is an encoder detail, not part of the decode contract. */
  def query(spark: SparkSession, dir: String): DataFrame =
    extractFeatures(assets(spark, dir)).toDF()
      .agg(
        count(lit(1)).as("n_assets"),
        sum(when(col("fmt") === "png", 1L).otherwise(0L)).as("n_png"),
        sum(when(col("fmt") === "bmp", 1L).otherwise(0L)).as("n_bmp"),
        sum(col("dec_w") * col("dec_h")).as("total_px"),
        sum(col("px_sum")).as("total_px_sum"),
        sum(when(col("fmt") === "bmp", length(col("payload")).cast(LongType))
          .otherwise(0L)).as("bmp_bytes"))

  // -- audio --------------------------------------------------------------

  final case class AudioAsset(doc_id: Long, payload: Array[Byte])
  /** Real `javax.sound` decoder output: format fields and frame count from
    * `AudioSystem.getAudioInputStream`, sample sum from the stream's
    * decoded PCM bytes. */
  final case class DecodedAudio(doc_id: Long, dec_rate: Long,
                                dec_channels: Long, dec_bits: Long,
                                dec_frames: Long, sample_sum: Long,
                                payload: Array[Byte])

  /** Deterministic per-doc WAV spec (rate, channels, frames, seed) — the
    * single source of truth shared with the q_audio_decode oracle.
    * 16-bit PCM throughout; sample(i) over the interleaved stream is
    * ((seed + 13·i) mod 65536) − 32768. */
  def audioSpec(docId: Long): (Int, Int, Int, Long) = {
    val rate = Seq(8000, 11025, 16000, 22050)((docId % 4).toInt)
    val channels = 1 + (docId % 2).toInt
    val frames = 64 + (docId % 192).toInt
    val seed = (docId * 37 + 5) % 65536
    (rate, channels, frames, seed)
  }

  /** Byte-exact canonical 44-byte-header PCM WAV — manual layout so every
    * byte is oracle-computable; decoding still goes through the real
    * `javax.sound` RIFF/WAVE parser. */
  def encodeWav(rate: Int, channels: Int, frames: Int,
                seed: Long): Array[Byte] = {
    val dataSize = frames * channels * 2
    val b = new Array[Byte](44 + dataSize)
    def putLE(off: Int, v: Int, n: Int): Unit = {
      var i = 0
      while (i < n) { b(off + i) = (v >>> (8 * i)).toByte; i += 1 }
    }
    def putTag(off: Int, s: String): Unit =
      s.getBytes("US-ASCII").copyToArray(b, off)
    putTag(0, "RIFF"); putLE(4, 36 + dataSize, 4); putTag(8, "WAVE")
    putTag(12, "fmt "); putLE(16, 16, 4); putLE(20, 1, 2)
    putLE(22, channels, 2); putLE(24, rate, 4)
    putLE(28, rate * channels * 2, 4); putLE(32, channels * 2, 2)
    putLE(34, 16, 2); putTag(36, "data"); putLE(40, dataSize, 4)
    var i = 0
    while (i < frames * channels) {
      val s = (((seed + 13L * i) % 65536) - 32768).toInt
      putLE(44 + i * 2, s & 0xFFFF, 2)
      i += 1
    }
    b
  }

  /** Generate the audio asset table — real WAV payloads from the doc_id
    * spec; the documents scan prunes to doc_id only. */
  def audioAssets(spark: SparkSession, dir: String): Dataset[AudioAsset] = {
    val spark2 = spark
    import spark2.implicits._
    Tables.documents(spark, dir).select(col("doc_id")).as[Long]
      .repartition(col("doc_id")) // see assets(): spread the codec fan-out
      .mapPartitions(_.map { id =>
        val (rate, ch, fr, seed) = audioSpec(id)
        AudioAsset(id, encodeWav(rate, ch, fr, seed))
      })
  }

  /** REAL audio decode: `AudioSystem.getAudioInputStream` parses the
    * RIFF/WAVE chunk structure (headless, JDK built-in) and exposes the
    * PCM format + framed stream; the sample sum is computed from the
    * BYTES THE DECODER RETURNS, not from the generator — a mis-parsed
    * header (wrong data offset, wrong frame size) changes the sum. */
  def decodeAudio(a: AudioAsset): DecodedAudio = {
    val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new ByteArrayInputStream(a.payload))
    val fmt = in.getFormat
    val frames = in.getFrameLength
    val data = in.readAllBytes()
    in.close()
    var sum = 0L
    var i = 0
    while (i + 1 < data.length) {
      // little-endian signed 16-bit, interleaved channels
      sum += ((data(i) & 0xFF) | (data(i + 1).toInt << 8)).toShort.toLong
      i += 2
    }
    DecodedAudio(a.doc_id, fmt.getSampleRate.toLong, fmt.getChannels.toLong,
      fmt.getSampleSizeInBits.toLong, frames, sum, a.payload)
  }

  /** q_audio_decode: per-doc byte-level audio gate — RIFF/WAVE/fmt header
    * fields parsed from the ACTUAL payload bytes at fixed offsets in SQL
    * style, decode fields from the real `javax.sound` parser. The oracle
    * reconstructs everything from the doc_id spec. */
  def audioDecodeQuery(spark: SparkSession, dir: String): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    def byteAt(off: Int) = // 1-based offset → unsigned byte value
      conv(hex(substring(col("payload"), off, 1)), 16, 10).cast(LongType)
    def le(off: Int, n: Int): org.apache.spark.sql.Column =
      (0 until n).map(i => byteAt(off + i) * (1L << (8 * i)))
        .reduce(_ + _)
    audioAssets(spark, dir).mapPartitions(_.map(decodeAudio)).toDF()
      .select(
        col("doc_id"),
        hex(substring(col("payload"), 1, 4)).as("riff_hex"),
        hex(substring(col("payload"), 9, 4)).as("wave_hex"),
        le(23, 2).as("hdr_channels"), le(25, 4).as("hdr_rate"),
        le(35, 2).as("hdr_bits"), le(41, 4).as("data_bytes"),
        col("dec_rate"), col("dec_channels"), col("dec_bits"),
        col("dec_frames"), col("sample_sum"),
        length(col("payload")).cast(LongType).as("n_bytes"))
      .orderBy("doc_id")
  }
}
