package graft

import graft.functions.Multimodal
import graft.functions.Multimodal.MediaRecord

/** Golden tests for the real multimodal decoders (WAV/PPM/BMP are
  * self-describing — no codec libraries needed) and the unknown-format
  * stub fallback, run through the distributed decodeFeatures path. */
class MultimodalSpec extends SparkSpec {
  private def le16(v: Int): Array[Byte] = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
  private def le32(v: Long): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte, ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)

  /** PCM16 mono WAV with constant amplitude `amp`. */
  private def wavBytes(rate: Int, nSamples: Int, amp: Int): Array[Byte] = {
    val dataLen = nSamples * 2
    val b = new scala.collection.mutable.ArrayBuffer[Byte]()
    b ++= "RIFF".getBytes; b ++= le32(36L + dataLen); b ++= "WAVE".getBytes
    b ++= "fmt ".getBytes; b ++= le32(16)
    b ++= le16(1); b ++= le16(1) // PCM, mono
    b ++= le32(rate); b ++= le32(rate * 2L)
    b ++= le16(2); b ++= le16(16) // block align, bits
    b ++= "data".getBytes; b ++= le32(dataLen)
    (0 until nSamples).foreach(_ => b ++= le16(amp))
    b.toArray
  }

  private def ppmBytes(w: Int, h: Int, rgb: (Int, Int, Int)): Array[Byte] = {
    val hdr = s"P6\n# test comment\n$w $h\n255\n".getBytes("US-ASCII")
    hdr ++ Array.fill(w * h)(Array(rgb._1.toByte, rgb._2.toByte, rgb._3.toByte)).flatten
  }

  private def bmpBytes(w: Int, h: Int, gray: Int): Array[Byte] = {
    val rowBytes = ((w * 3 + 3) / 4) * 4
    val pixOff = 54
    val size = pixOff + rowBytes * h
    val b = new scala.collection.mutable.ArrayBuffer[Byte]()
    b ++= "BM".getBytes; b ++= le32(size); b ++= le32(0); b ++= le32(pixOff)
    b ++= le32(40); b ++= le32(w); b ++= le32(h)
    b ++= le16(1); b ++= le16(24); b ++= le32(0); b ++= le32(rowBytes * h.toLong)
    b ++= le32(2835); b ++= le32(2835); b ++= le32(0); b ++= le32(0)
    (0 until h).foreach { _ =>
      (0 until w).foreach(_ => b ++= Array(gray.toByte, gray.toByte, gray.toByte))
      (w * 3 until rowBytes).foreach(_ => b += 0.toByte)
    }
    b.toArray
  }

  test("decodeFeatures: WAV/PPM/BMP parsed exactly; unknown falls back to stub") {
    val s = imp; import s._
    val recs = Seq(
      MediaRecord(1L, "audio", wavBytes(8000, 4000, 16384)),
      MediaRecord(2L, "image", ppmBytes(3, 2, (100, 150, 200))),
      MediaRecord(3L, "image", bmpBytes(2, 2, 128)),
      MediaRecord(4L, "video", Array[Byte](1, 2, 3, 4, 5)))
    val out = Multimodal.decodeFeatures(recs.toDS())
      .collect().map(d => d.media_id -> d).toMap

    val wav = out(1L)
    assert(wav.format == "wav" && wav.sample_rate == 8000 && wav.channels == 1)
    assert(wav.n_samples == 4000 && wav.duration_ms == 500)
    assert(math.abs(wav.rms_amplitude - 16384.0 / 32768.0) < 1e-9)

    val ppm = out(2L)
    assert(ppm.format == "ppm" && ppm.width == 3 && ppm.height == 2)
    assert(math.abs(ppm.mean_luma - 150.0 / 255.0) < 1e-9)

    val bmp = out(3L)
    assert(bmp.format == "bmp" && bmp.width == 2 && bmp.height == 2)
    assert(math.abs(bmp.mean_luma - 128.0 / 255.0) < 1e-9)

    assert(out(4L).format == "unknown")
  }

  test("encodeWav round-trips through the decoder; frame features closed form") {
    val s = spark; import s.implicits._
    // 8 samples: [100, -100, 100, -100, 0, 0, 50, -50] — frame 4:
    //  f0: energy 4*100² = 40000, zc 3 (sign flips at 1,2,3)
    //  f1: energy 50²+50² = 5000, zc 1 (0→0 no flip, 0→50 no flip, 50→-50 flip)
    val pcm = Array[Short](100, -100, 100, -100, 0, 0, 50, -50)
    val bytes = Multimodal.encodeWav(pcm, sampleRate = 8000)
    assert(Multimodal.wavSamples(bytes).toSeq == pcm.toSeq)
    val info = Multimodal.decodeWav(bytes)
    assert(info.format == "wav" && info.sampleRate == 8000 && info.nSamples == 8)
    val frames = Multimodal.audioFrameFeatures(
        Seq(MediaRecord(1L, "wav", bytes)).toDS(), frameSize = 4)
      .collect().map(f => f.frame_idx -> ((f.energy, f.zero_crossings))).toMap
    assert(frames(0) == ((40000L, 3)))
    assert(frames(1) == ((5000L, 1)))
    // tail samples that don't fill a frame drop whole
    val tail = Multimodal.audioFrameFeatures(
        Seq(MediaRecord(2L, "wav", Multimodal.encodeWav(pcm.take(7)))).toDS(),
        frameSize = 4)
      .collect()
    assert(tail.length == 1 && tail.head.frame_idx == 0)
  }

  test("encodePpm round-trips; tile stats closed form with edge-tile drop") {
    val s = spark; import s.implicits._
    // 5x3 image, pixel bytes = k (row-major interleaved) — tile 2:
    // full tiles: (0,0) and (1,0); x=4 column and y=2 row drop
    val rgb = Array.tabulate(3 * 5 * 3)(_.toByte)
    val bytes = Multimodal.encodePpm(5, 3, rgb)
    val (w, h, px) = Multimodal.ppmPixels(bytes)
    assert(w == 5 && h == 3 && px.toSeq == rgb.toSeq)
    val tiles = Multimodal.imageTileStats(
        Seq(MediaRecord(1L, "ppm", bytes)).toDS(), tile = 2)
      .collect().map(t => (t.tile_x, t.tile_y) -> t.rgb_sum).toMap
    // tile(0,0): rows 0-1, cols 0-1 -> bytes k in {0..5} ∪ {15..20}
    assert(tiles((0, 0)) == (0 to 5).sum + (15 to 20).sum)
    // tile(1,0): cols 2-3 -> {6..11} ∪ {21..26}
    assert(tiles((1, 0)) == (6 to 11).sum + (21 to 26).sum)
    assert(tiles.size == 2)
  }

  test("malformed payloads fail the record's require path, never crash raw") {
    // 2-byte-per-sample P6 (maxval 65535) would silently mis-read at 1
    // byte/sample — must be rejected, not averaged over half the raster
    val wide = "P6\n2 2\n65535\n".getBytes("US-ASCII") ++ Array.fill(24)(7.toByte)
    intercept[IllegalArgumentException] { Multimodal.decodePpm(wide) }
    intercept[IllegalArgumentException] { Multimodal.ppmPixels(wide) }
    // fmt chunk declaring 0 channels: require, not ArithmeticException
    val zeroCh = {
      val b = java.nio.ByteBuffer.allocate(46)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put("RIFF".getBytes("US-ASCII")).putInt(38).put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(0).putInt(8000).putInt(0).putShort(2).putShort(16)
        .put("data".getBytes("US-ASCII")).putInt(2).putShort(0)
      b.array()
    }
    intercept[IllegalArgumentException] { Multimodal.decodeWav(zeroCh) }
    // a 2-byte 'BM' sniffs as bmp but must fail the truncated-header require
    intercept[IllegalArgumentException] {
      Multimodal.decodeBmp(Array[Byte]('B', 'M', 0, 0))
    }
  }
}
