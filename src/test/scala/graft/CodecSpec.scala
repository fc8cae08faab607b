package graft

import graft.multimodal.Multimodal
import org.scalatest.funsuite.AnyFunSuite

/** The round-10 multimodal de-stub: [[Multimodal.decodeBmp]] and
  * [[Multimodal.decodeWav]] must parse REAL public containers — header
  * offsets, stride padding, bottom-up row order, RIFF chunk traversal —
  * not trust the synthesizer's layout. Hand-built containers with known
  * pixel/PCM content probe each layout rule directly.
  */
class CodecSpec extends AnyFunSuite with SparkSuite {

  test("BMP round-trip recovers dimensions and the exact top-down pixel stream") {
    for (text <- Seq("alpha", "bravo charlie", "δοκιμή unicode", "x")) {
      val bytes = Multimodal.encodeBmp(text)
      assert(bytes(0) == 'B'.toByte && bytes(1) == 'M'.toByte)
      val Some((w, h, px)) = Multimodal.decodeBmp(bytes)
      assert(w >= 4 && w <= 8 && h >= 3 && h <= 6)
      assert(px.length == w * h * 3)
      // the pixel stream must equal the md5 chain the encoder wrote —
      // any stride/row-order slip would permute or corrupt it
      val md = java.security.MessageDigest.getInstance("MD5")
      val want = new Array[Byte](w * h * 3)
      var off = 0; var k = 0
      while (off < want.length) {
        val d = md.digest((text + "_px" + k).getBytes("UTF-8"))
        val m = math.min(16, want.length - off)
        System.arraycopy(d, 0, want, off, m)
        off += m; k += 1
      }
      assert(px.toSeq == want.toSeq, s"pixel stream mismatch for '$text' (w=$w h=$h)")
    }
  }

  test("BMP decoder honors the stored layout, not the synthesizer: hand-built 2x2 image") {
    // 2x2, 24bpp: stride = 8 (2 pad bytes/row). Top-down pixels
    // (BGR): row0 = [1,2,3][4,5,6], row1 = [7,8,9][10,11,12].
    val px = Array[Byte](1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12)
    val stride = 8
    val buf = java.nio.ByteBuffer.allocate(54 + stride * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte).putInt(54 + stride * 2)
      .putShort(0).putShort(0).putInt(54)
    buf.putInt(40).putInt(2).putInt(2).putShort(1).putShort(24)
      .putInt(0).putInt(stride * 2).putInt(0).putInt(0).putInt(0).putInt(0)
    // bottom-up storage: row1 first, pad bytes 0x7f must be IGNORED
    buf.put(Array[Byte](7, 8, 9, 10, 11, 12, 127, 127))
    buf.put(Array[Byte](1, 2, 3, 4, 5, 6, 127, 127))
    val Some((w, h, got)) = Multimodal.decodeBmp(buf.array())
    assert(w == 2 && h == 2)
    assert(got.toSeq == px.toSeq, "decoder must undo bottom-up rows and drop stride padding")
  }

  test("BMP decoder rejects non-BMP and structurally broken containers") {
    assert(Multimodal.decodeBmp("not a bitmap at all".getBytes).isEmpty)
    assert(Multimodal.decodeBmp(Array.empty[Byte]).isEmpty)
    val ok = Multimodal.encodeBmp("doc")
    val badMagic = ok.clone(); badMagic(0) = 'X'.toByte
    assert(Multimodal.decodeBmp(badMagic).isEmpty)
    val bad8bpp = ok.clone(); bad8bpp(28) = 8 // bpp field
    assert(Multimodal.decodeBmp(bad8bpp).isEmpty)
    val truncated = ok.take(ok.length - 4)
    assert(Multimodal.decodeBmp(truncated).isEmpty, "pixel array overrunning the buffer must be rejected")
  }

  test("WAV round-trip recovers rate and the exact int16 samples, skipping the LIST chunk") {
    for (text <- Seq("alpha", "bravo charlie", "x")) {
      val bytes = Multimodal.encodeWav(text)
      val Some((rate, xs)) = Multimodal.decodeWav(bytes)
      assert(rate == 8000)
      assert(xs.length >= 8 && xs.length <= 16)
      val md = java.security.MessageDigest.getInstance("MD5")
      val pcm = new Array[Byte](xs.length * 2)
      var off = 0; var k = 0
      while (off < pcm.length) {
        val d = md.digest((text + "_pcm" + k).getBytes("UTF-8"))
        val m = math.min(16, pcm.length - off)
        System.arraycopy(d, 0, pcm, off, m)
        off += m; k += 1
      }
      val want = Array.tabulate(xs.length)(i =>
        ((pcm(2 * i) & 0xff) | (pcm(2 * i + 1) << 8)).toShort)
      assert(xs.toSeq == want.toSeq, s"sample mismatch for '$text'")
    }
  }

  test("WAV chunk walker: odd-sized unknown chunk with RIFF pad byte, data before fmt rejected") {
    // hand-build: RIFF(WAVE) + junk chunk of ODD size 3 (pad byte) +
    // fmt + data with samples [1000, -1000]
    val data = java.nio.ByteBuffer.allocate(4).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    data.putShort(1000).putShort(-1000)
    val riffSize = 4 + (8 + 3 + 1) + (8 + 16) + (8 + 4)
    val buf = java.nio.ByteBuffer.allocate(8 + riffSize).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(riffSize).put("WAVE".getBytes("US-ASCII"))
    buf.put("junk".getBytes("US-ASCII")).putInt(3).put(Array[Byte](9, 9, 9, 0)) // odd size + pad
    buf.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(44100).putInt(88200).putShort(2).putShort(16)
    buf.put("data".getBytes("US-ASCII")).putInt(4).put(data.array())
    val Some((rate, xs)) = Multimodal.decodeWav(buf.array())
    assert(rate == 44100 && xs.toSeq == Seq[Short](1000, -1000))
    // stereo must be rejected (decoder only claims 16-bit mono PCM)
    val stereo = buf.array().clone()
    stereo(8 + 4 + 8 + 3 + 1 + 8 + 2) = 2 // channels field of fmt
    assert(Multimodal.decodeWav(stereo).isEmpty)
    assert(Multimodal.decodeWav("RIFFxxxxNOPE".getBytes).isEmpty)
  }

  test("WAV/frames walkers reject a chunk size near Int.MaxValue (no Int-overflow bypass)") {
    // a crafted chunk size that would wrap `pos + 8 + sz` negative if the
    // bound check ran in Int arithmetic — the contract is None, not a
    // ~2GB allocation or a StringIndexOutOfBounds from a negative pos
    def crafted(form: String): Array[Byte] = {
      val buf = java.nio.ByteBuffer.allocate(24).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.put("RIFF".getBytes("US-ASCII")).putInt(16).put(form.getBytes("US-ASCII"))
      buf.put("data".getBytes("US-ASCII")).putInt(Int.MaxValue - 4).putInt(0)
      buf.array()
    }
    assert(Multimodal.decodeWav(crafted("WAVE")).isEmpty)
    assert(Multimodal.decodeFrames(crafted("GBVI")).isEmpty)
  }

  test("frames container round-trip: LIST skipped with pad rule, every frame a decodable BMP") {
    for (text <- Seq("alpha", "bravo charlie", "δοκιμή unicode", "x")) {
      val bytes = Multimodal.encodeFrames(text)
      val Some(frames) = Multimodal.decodeFrames(bytes)
      assert(frames.length >= 4 && frames.length <= 7)
      frames.zipWithIndex.foreach { case (f, i) =>
        // each demuxed frame must be byte-identical to its standalone BMP:
        // a chunk-boundary slip (LIST pad dropped, size misread) shifts it
        assert(f.toSeq == Multimodal.encodeBmp(text + "_f" + i).toSeq,
          s"frame $i of '$text' corrupted by the demux")
      }
    }
  }

  test("frames demux rejects broken containers") {
    assert(Multimodal.decodeFrames("not RIFF".getBytes).isEmpty)
    assert(Multimodal.decodeFrames(Array.empty[Byte]).isEmpty)
    val ok = Multimodal.encodeFrames("doc")
    val wav = Multimodal.encodeWav("doc")
    assert(Multimodal.decodeFrames(wav).isEmpty, "wrong RIFF form type must be rejected")
    val truncated = ok.take(ok.length - 3)
    assert(Multimodal.decodeFrames(truncated).isEmpty, "chunk overrunning the buffer must be rejected")
  }

  test("RIFF walkers bound by the declared header size (trailing garbage ignored, overrun rejected)") {
    // trailing bytes appended AFTER the declared RIFF payload must not be
    // parsed as additional chunks — real demuxers stop at the header size
    val vid = Multimodal.encodeFrames("doc")
    val garbageTail = vid ++ "framXXXXmore-junk-that-looks-chunky".getBytes("US-ASCII")
    assert(Multimodal.decodeFrames(garbageTail).map(_.length) ==
      Multimodal.decodeFrames(vid).map(_.length), "trailing garbage must not add frames")
    val wav = Multimodal.encodeWav("doc")
    val wavTail = wav ++ Array.fill[Byte](32)(7)
    assert(Multimodal.decodeWav(wavTail).map { case (r, xs) => (r, xs.toSeq) } ==
      Multimodal.decodeWav(wav).map { case (r, xs) => (r, xs.toSeq) })
    // a declared size overrunning the buffer is a broken container
    def inflate(bytes: Array[Byte]): Array[Byte] = {
      val c = bytes.clone()
      val bb = java.nio.ByteBuffer.wrap(c).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.putInt(4, bytes.length) // declared riffSize > bytes.length - 8
      c
    }
    assert(Multimodal.decodeFrames(inflate(vid)).isEmpty)
    assert(Multimodal.decodeWav(inflate(wav)).isEmpty)
  }

  test("256-bit aHash: deterministic per image, identical images collide on all four words") {
    import spark.implicits._
    val df = Seq((1L, "alpha"), (2L, "alpha"), (3L, "different text")).toDF("doc_id", "text")
    val ph = Multimodal.phash256Bmp(Multimodal.withBmpPayload(df))
      .collect().map(r => r.getLong(0) -> (1 to 4).map(r.getLong)).toMap
    assert(ph(1L) == ph(2L), "identical payloads must produce identical 256-bit hashes")
    assert(ph(1L) != ph(3L), "different images must differ somewhere in 256 bits")
    // bits only exist where the integer threshold fires: at least one
    // word nonzero (some cell above mean) and at least one bit clear
    val totalBits = ph(1L).map(java.lang.Long.bitCount).sum
    assert(totalBits > 0 && totalBits < 256)
  }

  test("aHash bits derive from decoded pixels via the exact integer threshold") {
    import spark.implicits._
    val df = Seq((1L, "alpha"), (2L, "alpha"), (3L, "different text")).toDF("doc_id", "text")
    val ph = Multimodal.phashBmp(Multimodal.withBmpPayload(df))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ph(1L) == ph(2L), "identical images must hash identically")
    // reference recomputation straight from the decoded pixels
    val Some((w, h, px)) = Multimodal.decodeBmp(Multimodal.encodeBmp("alpha"))
    val luma = Array.tabulate(64) { cell =>
      val p = (cell / 8 * h / 8) * w + (cell % 8 * w / 8)
      299L * (px(3 * p + 2) & 0xff) + 587L * (px(3 * p + 1) & 0xff) + 114L * (px(3 * p) & 0xff)
    }
    val sum = luma.sum
    val want = luma.zipWithIndex.foldLeft(0L) { case (acc, (l, c)) =>
      if (64L * l > sum) acc | (1L << c) else acc
    }
    assert(ph(1L) == want)
  }
}
