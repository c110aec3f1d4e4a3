package graft.functions

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column handling: image/audio/video as opaque `binary` columns
  * with typed metadata, processed by per-partition batch functions — the
  * Scala analog of `mapInPandas` batch UDFs.
  *
  * Decode support is split honestly in two:
  *  - REAL pure-JVM decoders for self-describing formats — WAV/PCM16, PPM
  *    (P6), BMP 24bpp — extracting dimensions, sample rate, duration, mean
  *    luma, RMS amplitude ([[decodeMedia]], MultimodalSpec golden tests).
  *  - a clearly-marked STUB for codec-requiring formats (JPEG/PNG/MP4 — no
  *    codec libraries in this container), kept deterministic so the
  *    distributed plumbing is testable end-to-end.
  * Everything around them — schema, batching, partition sizing, the
  * mapPartitions plumbing — is the real shape a decode pipeline has at
  * scale: payloads stay off the driver, metadata flows as columns, the
  * decode stage is a narrow map over binary blobs.
  */
object Multimodal {

  /** Typed record: an opaque payload + its metadata. */
  case class MediaRecord(media_id: Long, kind: String, payload: Array[Byte])
  case class DecodedMeta(media_id: Long, kind: String, byte_len: Long,
      digest: String, width: Int, height: Int, n_frames: Int)

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("payload", BinaryType, nullable = false)))

  /** STUB DECODER — deterministic fake. A real pipeline would decode the
    * codec here (JPEG/PNG/WAV headers); this derives plausible dimensions
    * from the payload so the distributed plumbing is testable end-to-end. */
  private[functions] def stubDecode(payload: Array[Byte]): (Int, Int, Int) = {
    val len = payload.length
    val w = 64 + (len % 577)          // fake width
    val h = 64 + ((len / 7) % 431)    // fake height
    val frames = 1 + (len % 24)       // fake frame count
    (w, h, frames)
  }

  /** Decode + feature-extract as a per-partition batch over binary payloads
    * (the `mapInPandas` shape: one JVM-side batch loop per partition, payload
    * bytes never leave the executor). */
  def decode(ds: Dataset[MediaRecord]): Dataset[DecodedMeta] = {
    implicit val enc: Encoder[DecodedMeta] = Encoders.product[DecodedMeta]
    ds.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("SHA-256")
      it.map { r =>
        val (w, h, f) = stubDecode(r.payload)
        md.reset()
        val digest = md.digest(r.payload).map("%02x".format(_)).mkString
        DecodedMeta(r.media_id, r.kind, r.payload.length.toLong, digest, w, h, f)
      }
    }
  }

  // -------------------------------------------------------------------
  // REAL decoders for self-describing formats (pure JVM, no codec libs):
  // WAV/PCM, PPM (P6), BMP (24bpp). Formats that need codec libraries
  // (JPEG/PNG/MP4) stay on the stub path, clearly reported as "unknown".
  // -------------------------------------------------------------------

  /** Decoded media features — the real article for WAV/PPM/BMP payloads. */
  case class MediaInfo(format: String, width: Int, height: Int,
      sampleRate: Int, channels: Int, nSamples: Long, durationMs: Long,
      meanLuma: Double, rmsAmplitude: Double)

  private def u16le(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
  private def u32le(b: Array[Byte], o: Int): Long =
    (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
      ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)

  def sniffFormat(p: Array[Byte]): String =
    if (p.length >= 12 && p(0) == 'R' && p(1) == 'I' && p(2) == 'F' && p(3) == 'F'
      && p(8) == 'W' && p(9) == 'A' && p(10) == 'V' && p(11) == 'E') "wav"
    else if (p.length >= 2 && p(0) == 'P' && p(1) == '6') "ppm"
    else if (p.length >= 2 && p(0) == 'B' && p(1) == 'M') "bmp"
    else "unknown"

  /** The ONE RIFF chunk walk behind [[decodeWav]] and [[wavSamples]] —
    * a guard fix (like the hostile-length stop below) must not have a
    * second copy to miss. Returns (rate, channels, bits, dataOff, dataLen);
    * missing chunks leave their zero/-1 defaults for the caller's require. */
  private def parseWavChunks(p: Array[Byte]): (Int, Int, Int, Int, Long) = {
    var off = 12
    var rate = 0; var channels = 0; var bits = 0
    var dataOff = -1; var dataLen = 0L
    var walking = true
    while (walking && off + 8 <= p.length) {
      val id = new String(p.slice(off, off + 4), "US-ASCII")
      val len = u32le(p, off + 4)
      if (id == "fmt ") {
        channels = u16le(p, off + 10)
        rate = u32le(p, off + 12).toInt
        bits = u16le(p, off + 22)
      } else if (id == "data") { dataOff = off + 8; dataLen = len }
      // hostile/malformed chunk length (>= 2^31 truncates negative) must
      // fail the record, not hang the executor in a non-advancing or
      // backwards loop; len == 0 is legal and still advances by 8
      if (len.toInt < 0) walking = false
      else off += 8 + len.toInt + (len.toInt & 1) // chunks are word-aligned
    }
    (rate, channels, bits, dataOff, dataLen)
  }

  /** RIFF/WAVE with a PCM16 `fmt ` + `data` chunk: sample rate, channels,
    * sample count, duration and RMS amplitude (normalized to [0,1]). */
  def decodeWav(p: Array[Byte]): MediaInfo = {
    val (rate, channels, bits, dataOff, dataLen) = parseWavChunks(p)
    require(rate > 0 && dataOff >= 0, "not a PCM WAV")
    require(bits == 16, s"only PCM16 supported, got $bits-bit")
    // a fmt chunk declaring 0 channels is malformed, not a crash: the
    // frame-size division below would throw a bare ArithmeticException
    require(channels > 0, s"malformed fmt chunk: $channels channels")
    val nFrames = dataLen / (2 * channels)
    var i = dataOff
    var sumSq = 0.0
    val end = math.min(dataOff + dataLen, p.length.toLong).toInt
    while (i + 1 < end) {
      val s = (u16le(p, i).toShort).toDouble / 32768.0
      sumSq += s * s
      i += 2
    }
    val nS = (end - dataOff) / 2
    MediaInfo("wav", 0, 0, rate, channels, nFrames,
      if (rate > 0) nFrames * 1000L / rate else 0L, 0.0,
      if (nS > 0) math.sqrt(sumSq / nS) else 0.0)
  }

  /** The ONE P6 header parse behind [[decodePpm]] and [[ppmPixels]]:
    * (width, height, maxval, raster offset). maxval is bounded to 255 —
    * a spec-valid 2-byte-per-sample P6 (maxval up to 65535) would
    * otherwise be silently mis-read at 1 byte/sample over half its
    * raster, producing wrong stats with no error. */
  private def parsePpmHeader(p: Array[Byte]): (Int, Int, Int, Int) = {
    var off = 2
    def skipWs(): Unit = {
      var go = true
      while (go && off < p.length) {
        if (p(off) == '#') while (off < p.length && p(off) != '\n') off += 1
        else if (Character.isWhitespace(p(off))) off += 1
        else go = false
      }
    }
    def readInt(): Int = {
      skipWs()
      var v = 0
      while (off < p.length && p(off) >= '0' && p(off) <= '9') {
        v = v * 10 + (p(off) - '0'); off += 1
      }
      v
    }
    val w = readInt(); val h = readInt(); val maxV = readInt()
    off += 1 // single whitespace after maxval
    require(w > 0 && h > 0 && maxV > 0, "not a P6 PPM")
    require(maxV <= 255, s"only 1-byte-per-sample P6 supported, maxval $maxV")
    (w, h, maxV, off)
  }

  /** Binary PPM (P6): width/height and mean pixel value over all RGB bytes. */
  def decodePpm(p: Array[Byte]): MediaInfo = {
    val (w, h, maxV, off) = parsePpmHeader(p)
    var sum = 0.0
    val end = math.min(off + 3L * w * h, p.length.toLong).toInt
    var i = off
    while (i < end) { sum += (p(i) & 0xff); i += 1 }
    val n = end - off
    MediaInfo("ppm", w, h, 0, 0, 0, 0,
      if (n > 0) sum / n / maxV else 0.0, 0.0)
  }

  /** BMP (BITMAPINFOHEADER, uncompressed 24bpp): dimensions + mean luma. */
  def decodeBmp(p: Array[Byte]): MediaInfo = {
    // sniffFormat accepts any 'BM' prefix — a truncated header must fail
    // the record's require path, not ArrayIndexOutOfBounds mid-scan
    require(p.length >= 34, s"truncated BMP header (${p.length} bytes)")
    val pixOff = u32le(p, 10).toInt
    val w = u32le(p, 18).toInt
    val h = u32le(p, 22).toInt
    val bpp = u16le(p, 28)
    val compression = u32le(p, 30)
    require(w > 0 && h != 0 && bpp == 24, s"only uncompressed 24bpp BMP (got $bpp)")
    // an RLE/bitfields file with bpp=24 in the header would otherwise be
    // silently summed as raw pixels — wrong luma with no error
    require(compression == 0L, s"only BI_RGB (uncompressed) BMP, got $compression")
    val rows = math.abs(h)
    val rowBytes = ((w * 3 + 3) / 4) * 4 // rows pad to 4-byte boundaries
    var sum = 0.0; var n = 0L
    var r = 0
    while (r < rows) {
      var c = 0
      val base = pixOff + r * rowBytes
      while (c < w && base + c * 3 + 2 < p.length) {
        // stored BGR; mean over all channels
        sum += (p(base + c * 3) & 0xff) + (p(base + c * 3 + 1) & 0xff) +
          (p(base + c * 3 + 2) & 0xff)
        n += 3
        c += 1
      }
      r += 1
    }
    MediaInfo("bmp", w, rows, 0, 0, 0, 0, if (n > 0) sum / n / 255.0 else 0.0, 0.0)
  }

  /** Dispatch on magic bytes; unknown formats return a stub-shaped record
    * (format = "unknown") rather than failing the batch. */
  def decodeMedia(p: Array[Byte]): MediaInfo = sniffFormat(p) match {
    case "wav" => decodeWav(p)
    case "ppm" => decodePpm(p)
    case "bmp" => decodeBmp(p)
    case _ =>
      val (w, h, _) = stubDecode(p)
      MediaInfo("unknown", w, h, 0, 0, 0, 0, 0.0, 0.0)
  }

  case class DecodedMedia(media_id: Long, format: String, width: Int,
      height: Int, sample_rate: Int, channels: Int, n_samples: Long,
      duration_ms: Long, mean_luma: Double, rms_amplitude: Double)

  /** Real decode as a per-partition batch: payloads never leave the
    * executors, failures surface per record (not per partition). */
  def decodeFeatures(ds: Dataset[MediaRecord]): Dataset[DecodedMedia] = {
    implicit val enc: Encoder[DecodedMedia] = Encoders.product[DecodedMedia]
    ds.mapPartitions(_.map { r =>
      val m = decodeMedia(r.payload)
      DecodedMedia(r.media_id, m.format, m.width, m.height, m.sampleRate,
        m.channels, m.nSamples, m.durationMs, m.meanLuma, m.rmsAmplitude)
    })
  }

  /** PCM16 mono samples of a WAV payload (the [[decodeWav]] chunk walk,
    * returning the data instead of folding it). */
  private[graft] def wavSamples(p: Array[Byte]): Array[Short] = {
    val (_, channels, bits, dataOff, dataLen) = parseWavChunks(p)
    require(dataOff >= 0 && bits == 16 && channels == 1,
      "wavSamples expects PCM16 mono")
    val end = math.min(dataOff + dataLen, p.length.toLong).toInt
    val out = new Array[Short]((end - dataOff) / 2)
    var i = 0
    while (i < out.length) {
      out(i) = u16le(p, dataOff + 2 * i).toShort
      i += 1
    }
    out
  }

  /** Minimal PCM16 mono WAV encoder — the fixture/round-trip counterpart
    * of [[decodeWav]]/[[wavSamples]]. */
  def encodeWav(samples: Array[Short], sampleRate: Int = 8000): Array[Byte] = {
    val dataLen = samples.length * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(sampleRate)
      .putInt(sampleRate * 2).putShort(2).putShort(16)
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    samples.foreach(bb.putShort)
    bb.array()
  }

  /** Binary P6 PPM encoder — fixture/round-trip counterpart of
    * [[decodePpm]]/[[ppmPixels]]. `rgb` is row-major interleaved RGB. */
  def encodePpm(w: Int, h: Int, rgb: Array[Byte]): Array[Byte] = {
    require(rgb.length == 3 * w * h, s"need ${3 * w * h} bytes, got ${rgb.length}")
    s"P6\n$w $h\n255\n".getBytes("US-ASCII") ++ rgb
  }

  /** (width, height, interleaved RGB bytes) of a P6 PPM payload — the
    * [[decodePpm]] parse, returning the pixels instead of folding them. */
  private[graft] def ppmPixels(p: Array[Byte]): (Int, Int, Array[Byte]) = {
    val (w, h, _, off) = parsePpmHeader(p)
    require(p.length - off >= 3 * w * h, "truncated P6 payload")
    (w, h, p.slice(off, off + 3 * w * h))
  }

  case class ImageTile(media_id: Long, tile_x: Int, tile_y: Int,
      n_px: Int, rgb_sum: Long)

  /** Per-tile pixel statistics over REAL decoded pixels — the patch
    * featurization step of a vision preprocessing pipeline (and the
    * cheap all-black/all-white/banding detector): the image is cut into
    * `tile`×`tile` patches and each patch's interleaved-RGB byte sum is
    * an exact BIGINT (bytes ≤ 255 → no FP anywhere). Edge tiles that
    * don't fill the full square are dropped — patches are fixed-size by
    * contract (the ViT convention). One narrow executor-side pass. */
  def imageTileStats(ds: Dataset[MediaRecord], tile: Int): Dataset[ImageTile] = {
    require(tile >= 1, s"need tile >= 1, got $tile")
    implicit val enc: Encoder[ImageTile] = Encoders.product[ImageTile]
    ds.flatMap { r =>
      val (w, h, px) = ppmPixels(r.payload)
      for {
        ty <- 0 until h / tile
        tx <- 0 until w / tile
      } yield {
        var sum = 0L
        var dy = 0
        while (dy < tile) {
          val rowBase = ((ty * tile + dy) * w + tx * tile) * 3
          var k = 0
          while (k < 3 * tile) { sum += (px(rowBase + k) & 0xff); k += 1 }
          dy += 1
        }
        ImageTile(r.media_id, tx, ty, tile * tile, sum)
      }
    }
  }

  case class AudioFrame(media_id: Long, frame_idx: Int, n_samples: Int,
      energy: Long, zero_crossings: Int)

  /** Per-frame audio features over REAL decoded PCM — the classic
    * speech/music-vs-silence gate a corpus pipeline runs before paying for
    * transcription: frame ENERGY Σs² as an exact BIGINT (16-bit samples →
    * a 2³⁰ bound per sample, no FP) and ZERO-CROSSING count (sign flips
    * between consecutive samples inside the frame). Tail samples that
    * don't fill a frame are dropped — frames are fixed-size by contract.
    * Payloads never leave the executors; one narrow pass. */
  def audioFrameFeatures(ds: Dataset[MediaRecord], frameSize: Int)
      : Dataset[AudioFrame] = {
    require(frameSize >= 2, s"need frameSize >= 2, got $frameSize")
    implicit val enc: Encoder[AudioFrame] = Encoders.product[AudioFrame]
    ds.flatMap { r =>
      val s = wavSamples(r.payload)
      (0 until s.length / frameSize).map { f =>
        val base = f * frameSize
        var energy = 0L; var zc = 0
        var i = 0
        while (i < frameSize) {
          val v = s(base + i).toLong
          energy += v * v
          if (i > 0) {
            val prev = s(base + i - 1)
            if ((prev < 0 && s(base + i) >= 0) || (prev >= 0 && s(base + i) < 0)) zc += 1
          }
          i += 1
        }
        AudioFrame(r.media_id, f, frameSize, energy, zc)
      }
    }
  }

  /** Frame sampling stub: every `stride`-th frame index of a decoded video —
    * the real implementation would slice the payload; the partitioning and
    * explode shape are the true article. */
  def sampleFrames(meta: Dataset[DecodedMeta], stride: Int): DataFrame =
    meta.toDF().select(col("media_id"),
      explode(sequence(lit(0), col("n_frames") - 1, lit(stride))).as("frame_idx"))

  /** Resize stub: metadata-only transform (a real kernel maps payload →
    * payload; dimensions scale exactly like this). */
  def resizeMeta(meta: Dataset[DecodedMeta], maxSide: Int): DataFrame = {
    val scale = least(lit(1.0),
      lit(maxSide).cast("double") / greatest(col("width"), col("height")))
    meta.toDF().select(col("media_id"),
      (col("width") * scale).cast("int").as("out_width"),
      (col("height") * scale).cast("int").as("out_height"))
  }
}
