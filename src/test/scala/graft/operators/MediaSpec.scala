package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** Real image-header decode: JDK-encoded PNG/JPEG/GIF bytes and spec-exact
  * WebP containers parse to their true dimensions; corrupt/truncated bytes
  * degrade to None, never throw.
  */
class MediaSpec extends AnyFunSuite with SparkSuite {
  private def enc(w: Int, h: Int, fmt: String): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, (x * 7 + y * 13) & 0xffffff)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, fmt, out)
    out.toByteArray
  }

  test("PNG/JPEG/GIF: genuinely encoded bytes decode to their true dimensions") {
    for ((w, h) <- Seq((1, 1), (17, 23), (640, 480), (300, 1))) {
      assert(Media.imageHeader(enc(w, h, "png")) == Some(("png", w, h)))
      assert(Media.imageHeader(enc(w, h, "jpeg")) == Some(("jpeg", w, h)))
      assert(Media.imageHeader(enc(w, h, "gif")) == Some(("gif", w, h)))
    }
  }

  test("WebP: VP8L container round-trips; VP8 lossy and VP8X vectors parse per spec") {
    for ((w, h) <- Seq((1, 1), (16384, 16384), (99, 1234)))
      assert(Media.imageHeader(Media.webpLossless(w, h)) == Some(("webp", w, h)))
    // hand-built VP8 (lossy) header: sync 9D 01 2A then 14-bit LE dims
    def vp8(w: Int, h: Int): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      def ascii(s: String) = out.write(s.getBytes("US-ASCII"))
      def le32(v: Int) = { out.write(v & 0xff); out.write((v >> 8) & 0xff)
        out.write((v >> 16) & 0xff); out.write((v >> 24) & 0xff) }
      ascii("RIFF"); le32(22); ascii("WEBP"); ascii("VP8 "); le32(10)
      out.write(Array[Byte](0, 0, 0)) // frame tag
      out.write(0x9d); out.write(0x01); out.write(0x2a)
      out.write(w & 0xff); out.write((w >> 8) & 0x3f)
      out.write(h & 0xff); out.write((h >> 8) & 0x3f)
      out.toByteArray
    }
    assert(Media.imageHeader(vp8(550, 368)) == Some(("webp", 550, 368)))
    // VP8X extended: 24-bit LE canvas dims minus one
    def vp8x(w: Int, h: Int): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      def ascii(s: String) = out.write(s.getBytes("US-ASCII"))
      def le32(v: Int) = { out.write(v & 0xff); out.write((v >> 8) & 0xff)
        out.write((v >> 16) & 0xff); out.write((v >> 24) & 0xff) }
      def le24(v: Int) = { out.write(v & 0xff); out.write((v >> 8) & 0xff)
        out.write((v >> 16) & 0xff) }
      ascii("RIFF"); le32(22); ascii("WEBP"); ascii("VP8X"); le32(10)
      le32(0) // flags + reserved
      le24(w - 1); le24(h - 1)
      out.toByteArray
    }
    assert(Media.imageHeader(vp8x(16777216, 2)) == Some(("webp", 16777216, 2)))
  }

  test("corrupt and truncated payloads degrade to None, never throw") {
    assert(Media.imageHeader(Array[Byte]()) == None)
    assert(Media.imageHeader("not an image at all, just text".getBytes("UTF-8")) == None)
    val png = enc(20, 10, "png")
    assert(Media.imageHeader(png.take(12)) == None) // cut before IHDR
    val jpg = enc(20, 10, "jpeg")
    assert(Media.imageHeader(jpg.take(4)) == None) // cut before any SOF
    // a JPEG whose marker sync is destroyed mid-scan
    val broken = jpg.clone(); broken(2) = 0x00
    assert(Media.imageHeader(broken) == None)
    assert(Media.imageHeader("RIFF????WEBPJUNK".getBytes("US-ASCII")) == None)
  }

  test("audio: genuine JDK WAV bytes and spec-exact FLAC/MP3/OGG headers decode to their true parameters") {
    // WAV: real encoder output across rates and channel counts
    for ((ch, sr) <- Seq((1, 8000), (2, 44100), (1, 48000), (2, 22050))) {
      val fmt = new javax.sound.sampled.AudioFormat(sr.toFloat, 16, ch, true, false)
      val pcm = new Array[Byte](32 * ch * 2)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, 32L)
      val out = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
      assert(Media.audioHeader(out.toByteArray) == Some(("wav", ch, sr)))
    }
    assert(Media.audioHeader(Media.flacHeader(2, 96000)) == Some(("flac", 2, 96000)))
    assert(Media.audioHeader(Media.mp3Header(1, 44100)) == Some(("mp3", 1, 44100)))
    assert(Media.audioHeader(Media.mp3Header(2, 32000)) == Some(("mp3", 2, 32000)))
    // an ID3v2 tag before the first frame must be skipped (syncsafe size)
    val id3 = Array[Byte]('I', 'D', '3', 3, 0, 0, 0, 0, 0, 5) ++
      new Array[Byte](5) ++ Media.mp3Header(2, 48000)
    assert(Media.audioHeader(id3) == Some(("mp3", 2, 48000)))
    assert(Media.audioHeader(Media.oggVorbisHeader(1, 22050)) == Some(("ogg", 1, 22050)))
  }

  test("audio: corrupt and truncated payloads degrade to None, never throw") {
    assert(Media.audioHeader(Array[Byte]()) == None)
    assert(Media.audioHeader("RIFFxxxxWAVE".getBytes("US-ASCII")) == None) // no fmt chunk
    assert(Media.audioHeader(Media.flacHeader(2, 44100).take(10)) == None)
    assert(Media.audioHeader(Array[Byte](0xff.toByte, 0xeb.toByte, 0, 0)) == None) // reserved MPEG version
    val badOgg = Media.oggVorbisHeader(1, 44100); badOgg(28) = 0x05 // not an ident packet
    assert(Media.audioHeader(badOgg) == None)
    assert(Media.audioHeader("not audio either".getBytes("UTF-8")) == None)
  }

  test("distributed audioMeta over the synthetic corpus matches the generator closed-form") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val got = Media.audioMeta(Media.syntheticAudio(docs)).collect()
      .map(r => (r.getLong(0), (r.getString(1), r.getInt(2), r.getInt(3)))).toMap
    assert(got.size == 500)
    val rates = Array(8000, 16000, 22050, 44100, 48000)
    got.foreach { case (id, (f, ch, sr)) =>
      val wantF = (id % 4) match {
        case 0 => "wav"; case 1 => "flac"; case 2 => "mp3"; case _ => "ogg" }
      val wantSr = if (id % 4 == 2) Array(44100, 48000, 32000)((id % 3).toInt)
        else rates((id % 5).toInt)
      assert(f == wantF && ch == 1 + (id % 2).toInt && sr == wantSr,
        s"doc $id decoded ($f, $ch, $sr)")
    }
  }

  test("video: MP4 v0 and v1 box layouts decode; corrupt/truncated degrade to None") {
    assert(Media.videoHeader(Media.mp4Header(1920, 1080, 90500L, v1 = false)) ==
      Some(("mp4", 1920, 1080, 90500L)))
    assert(Media.videoHeader(Media.mp4Header(640, 360, 1000L, v1 = true)) ==
      Some(("mp4", 640, 360, 1000L)))
    assert(Media.videoHeader(Array[Byte]()) == None)
    assert(Media.videoHeader("not a video at all............".getBytes) == None)
    val m = Media.mp4Header(640, 360, 1000L, v1 = false)
    assert(Media.videoHeader(m.take(20)) == None)    // cut before moov
    val noTkhd = m.clone(); // corrupt the tkhd fourcc so no track parses
    val idx = new String(m.map(_.toChar)).indexOf("tkhd")
    noTkhd(idx) = 'x'.toByte
    assert(Media.videoHeader(noTkhd) == None)
  }

  test("video: a largesize (size 1) mdat before moov and a to-the-end (size 0) moov decode") {
    val m = Media.mp4Header(320, 240, 4500L, v1 = false)
    val ftypLen = java.nio.ByteBuffer.wrap(m, 0, 4).getInt
    val (ftyp, moov) = m.splitAt(ftypLen)
    val payload = Array.fill[Byte](40)(7)
    val mdat = java.nio.ByteBuffer.allocate(16).putInt(1).put("mdat".getBytes("US-ASCII"))
      .putLong(16L + payload.length).array() ++ payload
    assert(Media.videoHeader(ftyp ++ mdat ++ moov) == Some(("mp4", 320, 240, 4500L)))
    // size 0: the last box extends to the end of the buffer
    val moov0 = moov.clone()
    java.nio.ByteBuffer.wrap(moov0).putInt(0)
    assert(Media.videoHeader(ftyp ++ mdat ++ moov0) == Some(("mp4", 320, 240, 4500L)))
    // sizes 2..7 stay corrupt; a largesize below its own 16-byte header too
    Seq(2, 7).foreach { sz =>
      val bad = mdat.clone()
      java.nio.ByteBuffer.wrap(bad).putInt(sz)
      assert(Media.videoHeader(ftyp ++ bad ++ moov) == None)
    }
    val small = mdat.clone()
    java.nio.ByteBuffer.wrap(small, 8, 8).putLong(15L)
    assert(Media.videoHeader(ftyp ++ small ++ moov) == None)
  }

  test("adversarial sizes: crafted 32-bit chunk/box lengths cannot wrap the cursor or throw") {
    // WAV whose chunk size is 0x7FFFFFF0 (positive as an Int, but adding
    // it wraps an Int cursor negative → out-of-bounds index in a task)
    val evilWav = "RIFF????WAVE".getBytes("US-ASCII") ++
      "JUNK".getBytes("US-ASCII") ++
      Array[Byte](0xf0.toByte, 0xff.toByte, 0xff.toByte, 0x7f) ++
      new Array[Byte](64)
    assert(Media.audioHeader(evilWav) == None)
    // and the all-ones size (negative as an Int — the other wrap arm)
    val evilWav2 = "RIFF????WAVE".getBytes("US-ASCII") ++
      "JUNK".getBytes("US-ASCII") ++ Array[Byte](-1, -1, -1, -1) ++
      new Array[Byte](64)
    assert(Media.audioHeader(evilWav2) == None)
    // MP4 whose second box declares size 0xFFFFFFF0
    val evilMp4 = {
      val out = new java.io.ByteArrayOutputStream()
      def be32(v: Long) = { out.write(((v >> 24) & 0xff).toInt); out.write(((v >> 16) & 0xff).toInt)
        out.write(((v >> 8) & 0xff).toInt); out.write((v & 0xff).toInt) }
      be32(16); out.write("ftyp".getBytes); out.write("isom".getBytes); be32(0)
      be32(0xfffffff0L); out.write("free".getBytes)
      out.write(new Array[Byte](64))
      out.toByteArray
    }
    assert(Media.videoHeader(evilMp4) == None)
    // and a moov whose INNER box size wraps
    val evilMoov = {
      val out = new java.io.ByteArrayOutputStream()
      def be32(v: Long) = { out.write(((v >> 24) & 0xff).toInt); out.write(((v >> 16) & 0xff).toInt)
        out.write(((v >> 8) & 0xff).toInt); out.write((v & 0xff).toInt) }
      be32(16); out.write("ftyp".getBytes); out.write("isom".getBytes); be32(0)
      be32(24); out.write("moov".getBytes)
      be32(0xffffff00L); out.write("mvhd".getBytes); out.write(new Array[Byte](8))
      out.toByteArray
    }
    assert(Media.videoHeader(evilMoov) == None)
  }

  test("distributed videoMeta over the synthetic corpus matches the generator closed-form") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val got = Media.videoMeta(Media.syntheticVideo(docs)).collect()
      .map(r => (r.getLong(0), (r.getString(1), r.getInt(2), r.getInt(3), r.getLong(4)))).toMap
    assert(got.size == 500)
    got.foreach { case (id, (f, w, h, d)) =>
      assert(f == "mp4" && w == 160 + (id % 8).toInt * 16 &&
        h == 90 + (id % 6).toInt * 30 && d == 1000L + (id % 20) * 500L,
        s"doc $id decoded ($f, $w, $h, $d)")
    }
  }

  test("distributed imageMeta over the synthetic corpus matches the generator closed-form") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val got = Media.imageMeta(Media.syntheticImages(docs)).collect()
      .map(r => (r.getLong(0), (r.getString(1), r.getInt(2), r.getInt(3)))).toMap
    assert(got.size == 500)
    got.foreach { case (id, (f, w, h)) =>
      val wantF = (id % 4) match {
        case 0 => "png"; case 1 => "jpeg"; case 2 => "gif"; case _ => "webp" }
      assert(f == wantF && w == 16 + (id % 32).toInt && h == 16 + (id % 24).toInt,
        s"doc $id decoded ($f, $w, $h)")
    }
  }
}
