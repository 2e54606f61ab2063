package graft.operators

import org.apache.spark.sql.DataFrame

/** Real multimodal metadata: image FORMAT + DIMENSIONS parsed from the
  * container's magic bytes — pure JVM, no codec dependency, the decode an
  * img2dataset-style pipeline needs to filter/bucket media before ever
  * paying for a pixel decode. Replaces the declared length-derived stub
  * (round-4 "What's missing #1").
  *
  * Formats (all public container specs):
  *   - PNG  (RFC 2083): 8-byte signature, IHDR width/height big-endian at
  *     offsets 16/20.
  *   - JPEG (ITU T.81 / JFIF): marker scan to the first SOFn frame header
  *     (C0–CF minus C4/C8/CC), height/width big-endian at +5/+7.
  *   - GIF  (87a/89a): logical screen width/height little-endian at 6/8.
  *   - WebP (RIFF): `VP8 ` lossy (14-bit LE dims after the 9D 01 2A sync),
  *     `VP8L` lossless (14-bit fields of the 32-bit LE word after the 2F
  *     signature, stored minus one), `VP8X` extended (24-bit LE canvas
  *     dims minus one).
  *
  * The Spark surface is a narrow partition-preserving typed map over a
  * BINARY column — no shuffle, batch-friendly; undecodable payloads yield
  * a NULL-dimension row (never an exception in a task).
  */
object Media {

  /** (format, width, height) from container magic bytes; None = not a
    * recognized image container (or truncated before its header).
    */
  def imageHeader(b: Array[Byte]): Option[(String, Int, Int)] = {
    def u8(i: Int) = b(i) & 0xff
    def be16(i: Int) = (u8(i) << 8) | u8(i + 1)
    def be32(i: Int) = (u8(i) << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
    def le16(i: Int) = u8(i) | (u8(i + 1) << 8)
    def le24(i: Int) = u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16)
    def ascii(i: Int, s: String) =
      b.length >= i + s.length && s.indices.forall(k => b(i + k) == s.charAt(k).toByte)

    if (b.length >= 24 && u8(0) == 0x89 && ascii(1, "PNG") &&
        u8(4) == 0x0d && u8(5) == 0x0a && u8(6) == 0x1a && u8(7) == 0x0a &&
        ascii(12, "IHDR"))
      Some(("png", be32(16), be32(20)))
    else if (b.length >= 4 && u8(0) == 0xff && u8(1) == 0xd8) {
      // marker scan: skip entropy-less segments to the first SOFn
      var i = 2
      while (i + 9 < b.length) {
        if (u8(i) != 0xff) return None // lost marker sync — corrupt
        var j = i
        while (j < b.length && u8(j) == 0xff) j += 1 // fill bytes
        if (j >= b.length) return None
        val m = u8(j)
        if ((m >= 0xc0 && m <= 0xcf) && m != 0xc4 && m != 0xc8 && m != 0xcc) {
          if (j + 8 >= b.length) return None
          return Some(("jpeg", be16(j + 6), be16(j + 4)))
        } else if (m == 0xd8 || m == 0x01 || (m >= 0xd0 && m <= 0xd7)) {
          i = j + 1 // standalone marker
        } else if (m == 0xd9 || m == 0xda) {
          return None // end / entropy stream before any SOF
        } else {
          if (j + 2 >= b.length) return None
          i = j + 1 + 2 + (be16(j + 1) - 2) // segment: marker + len(incl.)
        }
      }
      None
    }
    else if (b.length >= 10 && (ascii(0, "GIF87a") || ascii(0, "GIF89a")))
      Some(("gif", le16(6), le16(8)))
    else if (b.length >= 25 && ascii(0, "RIFF") && ascii(8, "WEBP")) {
      if (ascii(12, "VP8 ") && b.length >= 30 &&
          u8(23) == 0x9d && u8(24) == 0x01 && u8(25) == 0x2a)
        Some(("webp", le16(26) & 0x3fff, le16(28) & 0x3fff))
      else if (ascii(12, "VP8L") && b.length >= 25 && u8(20) == 0x2f) {
        val bits = u8(21).toLong | (u8(22).toLong << 8) |
          (u8(23).toLong << 16) | (u8(24).toLong << 24)
        Some(("webp", ((bits & 0x3fff) + 1).toInt, (((bits >> 14) & 0x3fff) + 1).toInt))
      } else if (ascii(12, "VP8X") && b.length >= 30)
        Some(("webp", le24(24) + 1, le24(27) + 1))
      else None
    }
    else None
  }

  /** Deterministic REAL encoded images per doc: format rotates by
    * doc_id % 4 (png/jpeg/gif via the JDK's ImageIO encoders — genuine
    * files a browser opens; webp as a hand-built VP8L container, no JDK
    * writer exists), dimensions closed-form in doc_id so the oracle knows
    * exactly what each byte blob must decode to. Output (doc_id, img
    * BINARY) — the fixture generator for the multimodal leg.
    */
  def syntheticImages(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select("doc_id").as[Long].mapPartitions { it =>
      it.map { id =>
        val w = 16 + (id % 32).toInt
        val h = 16 + (id % 24).toInt
        val bytes = (id % 4) match {
          case 0 => encodeImageIO(w, h, id, "png")
          case 1 => encodeImageIO(w, h, id, "jpeg")
          case 2 => encodeImageIO(w, h, id, "gif")
          case _ => webpLossless(w, h)
        }
        (id, bytes)
      }
    }.toDF("doc_id", "img")
  }

  private def encodeImageIO(w: Int, h: Int, seed: Long, fmt: String): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val rgb = (seed * 2654435761L).toInt & 0xffffff
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { img.setRGB(x, y, rgb ^ (x * 31 + y)); x += 1 }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, fmt, out)
    out.toByteArray
  }

  /** Minimal valid VP8L (lossless WebP) container: RIFF/WEBP wrapper, 2F
    * signature, the 32-bit LE dimension word ((w−1) | (h−1)<<14, alpha 0,
    * version 0). Header-complete per the public spec; payload truncated
    * (only the header is under test — no JDK WebP encoder exists).
    */
  def webpLossless(w: Int, h: Int): Array[Byte] = {
    val bits = ((w - 1) & 0x3fff) | (((h - 1) & 0x3fff) << 14)
    val chunk = Array[Byte](0x2f,
      (bits & 0xff).toByte, ((bits >> 8) & 0xff).toByte,
      ((bits >> 16) & 0xff).toByte, ((bits >> 24) & 0xff).toByte)
    val out = new java.io.ByteArrayOutputStream()
    def ascii(s: String) = out.write(s.getBytes("US-ASCII"))
    def le32(v: Int) = { out.write(v & 0xff); out.write((v >> 8) & 0xff)
      out.write((v >> 16) & 0xff); out.write((v >> 24) & 0xff) }
    ascii("RIFF"); le32(4 + 8 + chunk.length + (chunk.length & 1))
    ascii("WEBP"); ascii("VP8L"); le32(chunk.length); out.write(chunk)
    if ((chunk.length & 1) == 1) out.write(0) // RIFF even-size padding
    out.toByteArray
  }

  // ------------------------------------------------------------------
  // Audio container headers — the other half of the multimodal metadata
  // leg: format + channels + sample rate from magic bytes, pure JVM, no
  // codec. Formats (all public specs): WAV (RIFF `fmt ` chunk, LE),
  // FLAC (STREAMINFO bitfields), MP3 (frame sync after an optional ID3v2
  // tag, version/layer/samplerate tables), OGG Vorbis (`\x01vorbis`
  // identification header in the first page).
  // ------------------------------------------------------------------

  /** (format, channels, sample_rate) from container magic bytes; None =
    * not a recognized audio container (or truncated before its header).
    */
  def audioHeader(b: Array[Byte]): Option[(String, Int, Int)] = {
    def u8(i: Int) = b(i) & 0xff
    def le16(i: Int) = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int) = u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)
    def be32(i: Int) = (u8(i) << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
    def ascii(i: Int, s: String) =
      b.length >= i + s.length && s.indices.forall(k => b(i + k) == s.charAt(k).toByte)

    if (b.length >= 12 && ascii(0, "RIFF") && ascii(8, "WAVE")) {
      // walk chunks to `fmt ` (usually first, but LIST/JUNK may precede);
      // LONG arithmetic — a crafted 32-bit chunk size must not wrap the
      // cursor negative and index out of bounds inside a task
      var i = 12L
      while (i + 8 <= b.length) {
        val size = le32(i.toInt + 4).toLong & 0xffffffffL
        if (ascii(i.toInt, "fmt ") && i + 16 <= b.length)
          return Some(("wav", le16(i.toInt + 10), le32(i.toInt + 12)))
        i += 8 + size + (size & 1) // chunks pad to even
      }
      None
    }
    else if (b.length >= 22 && ascii(0, "fLaC")) {
      // STREAMINFO is the mandatory first block: header at 4, data at 8;
      // sample rate = 20 bits at data offset 10, channels-1 = next 3 bits
      if ((u8(4) & 0x7f) != 0) return None // first block must be type 0
      val sr = (u8(18) << 12) | (u8(19) << 4) | (u8(20) >> 4)
      val ch = ((u8(20) >> 1) & 0x7) + 1
      if (sr == 0) None else Some(("flac", ch, sr))
    }
    else if (b.length >= 4 && (ascii(0, "ID3") || (u8(0) == 0xff && (u8(1) & 0xe0) == 0xe0))) {
      // skip an ID3v2 tag (syncsafe 28-bit size at 6..9), then parse the
      // first MPEG audio frame header
      var i = 0
      if (ascii(0, "ID3")) {
        if (b.length < 10) return None
        i = 10 + ((u8(6) << 21) | (u8(7) << 14) | (u8(8) << 7) | u8(9))
      }
      if (i + 4 > b.length || u8(i) != 0xff || (u8(i + 1) & 0xe0) != 0xe0) return None
      val verBits = (u8(i + 1) >> 3) & 0x3   // 3=MPEG1, 2=MPEG2, 0=MPEG2.5
      val layerBits = (u8(i + 1) >> 1) & 0x3 // 1=III, 2=II, 3=I
      if (verBits == 1 || layerBits == 0) return None // reserved
      val srIdx = (u8(i + 2) >> 2) & 0x3
      if (srIdx == 3) return None // reserved
      val base = Array(44100, 48000, 32000)(srIdx)
      val sr = verBits match {
        case 3 => base       // MPEG1
        case 2 => base / 2   // MPEG2
        case _ => base / 4   // MPEG2.5
      }
      val ch = if (((u8(i + 3) >> 6) & 0x3) == 3) 1 else 2 // mode 3 = mono
      Some(("mp3", ch, sr))
    }
    else if (b.length >= 28 && ascii(0, "OggS") && u8(4) == 0) {
      // first page: 27-byte header + segment table, then the Vorbis
      // identification packet `\x01vorbis`: channels u8 at +11, rate
      // u32le at +12 of the packet
      val nSegs = u8(26)
      val p = 27 + nSegs
      if (p + 16 > b.length || u8(p) != 0x01 || !ascii(p + 1, "vorbis")) return None
      Some(("ogg", u8(p + 11), le32(p + 12)))
    }
    else None
  }

  /** Deterministic REAL encoded audio per doc: format rotates by
    * doc_id % 4 — WAV via the JDK's javax.sound encoder (a genuine file
    * any player opens), FLAC/MP3/OGG as spec-exact hand-built headers (no
    * JDK encoders exist); channels and sample rate closed-form in doc_id
    * so the oracle knows what each blob must decode to.
    */
  def syntheticAudio(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select("doc_id").as[Long].mapPartitions { it =>
      it.map { id =>
        val ch = 1 + (id % 2).toInt
        val rates = Array(8000, 16000, 22050, 44100, 48000)
        val sr = rates((id % 5).toInt)
        val bytes = (id % 4) match {
          case 0 => wavBytes(ch, sr, 64)
          case 1 => flacHeader(ch, sr)
          case 2 => mp3Header(ch, Array(44100, 48000, 32000)((id % 3).toInt))
          case _ => oggVorbisHeader(ch, sr)
        }
        (id, bytes)
      }
    }.toDF("doc_id", "audio")
  }

  private def wavBytes(channels: Int, rate: Int, frames: Int): Array[Byte] = {
    val fmt = new javax.sound.sampled.AudioFormat(rate.toFloat, 16, channels, true, false)
    val pcm = new Array[Byte](frames * channels * 2)
    var i = 0
    while (i < pcm.length) { pcm(i) = ((i * 37 + 11) & 0xff).toByte; i += 1 }
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong)
    val out = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  /** Spec-exact FLAC signature + STREAMINFO (truncated after the header —
    * only the header is under test). */
  def flacHeader(channels: Int, rate: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write("fLaC".getBytes("US-ASCII"))
    out.write(0x80); out.write(0); out.write(0); out.write(34) // last-block STREAMINFO, len 34
    out.write(Array[Byte](0x10, 0, 0x10, 0)) // min/max blocksize 4096
    out.write(new Array[Byte](6))            // min/max frame size unknown
    out.write((rate >> 12) & 0xff)
    out.write((rate >> 4) & 0xff)
    out.write((((rate & 0xf) << 4) | (((channels - 1) & 0x7) << 1)) & 0xff)
    out.write(new Array[Byte](5 + 16))       // bps/samples + md5
    out.toByteArray
  }

  /** Spec-exact MPEG1 Layer III frame header (ID3v2-free). */
  def mp3Header(channels: Int, rate: Int): Array[Byte] = {
    val srIdx = Array(44100, 48000, 32000).indexOf(rate)
    require(srIdx >= 0, s"mp3 sample rate $rate not in the MPEG1 table")
    val mode = if (channels == 1) 3 else 0 // 3 = mono, 0 = stereo
    Array[Byte](0xff.toByte, 0xfb.toByte, // sync + MPEG1 Layer III, no CRC
      ((9 << 4) | (srIdx << 2)).toByte,   // bitrate idx 9 (128k), sr idx
      ((mode << 6) & 0xff).toByte,
      0, 0, 0, 0)
  }

  /** Spec-exact first OGG page holding a Vorbis identification header. */
  def oggVorbisHeader(channels: Int, rate: Int): Array[Byte] = {
    val packet = new java.io.ByteArrayOutputStream()
    packet.write(0x01); packet.write("vorbis".getBytes("US-ASCII"))
    packet.write(Array[Byte](0, 0, 0, 0)) // vorbis version
    packet.write(channels)
    packet.write(rate & 0xff); packet.write((rate >> 8) & 0xff)
    packet.write((rate >> 16) & 0xff); packet.write((rate >> 24) & 0xff)
    packet.write(new Array[Byte](9)) // bitrates + blocksizes + framing
    val pk = packet.toByteArray
    val out = new java.io.ByteArrayOutputStream()
    out.write("OggS".getBytes("US-ASCII"))
    out.write(0)                      // stream structure version
    out.write(0x02)                   // first-page flag
    out.write(new Array[Byte](8))     // granule position
    out.write(Array[Byte](1, 2, 3, 4))// serial
    out.write(new Array[Byte](4))     // page sequence
    out.write(new Array[Byte](4))     // checksum (not verified here)
    out.write(1)                      // one segment
    out.write(pk.length)              // its lacing value
    out.write(pk)
    out.toByteArray
  }

  // ------------------------------------------------------------------
  // Video container header — the third multimodal leg: MP4/ISO-BMFF
  // (ISO 14496-12, the container video2dataset-style pipelines meet
  // first). Box walk: `ftyp` then `moov` → `mvhd` (timescale + duration,
  // version 0 and 1 layouts) and the first video `trak` → `tkhd` (16.16
  // fixed-point presentation width/height).
  // ------------------------------------------------------------------

  /** (width, height, duration_ms) from an MP4's moov metadata; None = not
    * an MP4 (or truncated/corrupt before the needed boxes).
    */
  def videoHeader(b: Array[Byte]): Option[(String, Int, Int, Long)] = {
    def u8(i: Int) = b(i) & 0xff
    def be16(i: Int) = (u8(i) << 8) | u8(i + 1)
    def be32(i: Int): Long = ((u8(i).toLong << 24) | (u8(i + 1) << 16) |
      (u8(i + 2) << 8) | u8(i + 3)) & 0xffffffffL
    def be64(i: Int): Long = (be32(i) << 32) | be32(i + 4)
    def fourcc(i: Int) = new String(b, i + 4, 4, "US-ASCII")
    // the box whose header starts at `i` inside [i, end): (payload start,
    // box end clamped to `end`), per ISO 14496-12 §4.2 — size 1 means a
    // 64-bit largesize follows the type, size 0 means the box runs to
    // `end`; None for the invalid sizes 2..7 or a cut largesize header
    def box(i: Long, end: Long): Option[(Long, Long)] = be32(i.toInt) match {
      case 0L => Some((i + 8, end))
      case 1L =>
        if (i + 16 > end) None
        else {
          val size = be64(i.toInt + 8) // negative past 2^63: invalid too
          if (size < 16) None else Some((i + 16, i + math.min(size, end - i)))
        }
      case size if size < 8 => None
      case size => Some((i + 8, i + math.min(size, end - i)))
    }
    if (b.length < 16 || fourcc(0) != "ftyp") return None
    // walk top-level boxes to moov — LONG cursor: a crafted box size must
    // not wrap negative and loop/index out of bounds in a task
    var i = 0L
    var moov = -1
    var moovEnd = -1
    while (i + 8 <= b.length && moov < 0) {
      val (body, end) = box(i, b.length).getOrElse(return None)
      if (fourcc(i.toInt) == "moov") { moov = body.toInt; moovEnd = end.toInt }
      i = end
    }
    if (moov < 0) return None
    var timescale = 0L
    var duration = 0L
    var w = 0
    var h = 0
    def walk(from: Int, to: Int): Unit = {
      var j = from.toLong
      while (j + 8 <= to) {
        val (body, end) = box(j, to).getOrElse(return)
        val t = fourcc(j.toInt)
        val p = body.toInt
        t match {
          case "mvhd" if p + 4 <= to =>
            if (u8(p) == 1) { if (p + 32 <= to) { timescale = be32(p + 20); duration = be64(p + 24) } }
            else if (p + 20 <= to) { timescale = be32(p + 12); duration = be32(p + 16) }
          case "trak" => walk(p, end.toInt)
          case "tkhd" if w == 0 =>
            val (wo, ho) = if (u8(p) == 1) (88, 92) else (76, 80)
            if (p + ho + 4 <= to) {
              val tw = (be32(p + wo) >> 16).toInt // 16.16 fixed point
              val th = (be32(p + ho) >> 16).toInt
              if (tw > 0 && th > 0) { w = tw; h = th }
            }
          case _ => ()
        }
        j = end
      }
    }
    walk(moov, moovEnd)
    if (timescale <= 0 || w == 0) None
    else Some(("mp4", w, h, duration * 1000L / timescale))
  }

  /** Deterministic spec-exact MP4 fixtures: ftyp + moov(mvhd + trak(tkhd))
    * with closed-form dims/duration; even docs use version-0 boxes, odd
    * docs version-1 — both layouts exercised. (No JDK MP4 encoder exists;
    * the container header is spec-complete, media data truncated.)
    */
  def syntheticVideo(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select("doc_id").as[Long].mapPartitions { it =>
      it.map { id =>
        val w = 160 + (id % 8).toInt * 16
        val h = 90 + (id % 6).toInt * 30
        val durMs = 1000L + (id % 20) * 500L
        (id, mp4Header(w, h, durMs, v1 = id % 2 == 1))
      }
    }.toDF("doc_id", "video")
  }

  /** Build the MP4 metadata skeleton: duration expressed at timescale
    * 1000 (so duration units == milliseconds exactly). */
  def mp4Header(w: Int, h: Int, durMs: Long, v1: Boolean): Array[Byte] = {
    def be32(v: Long) = Array[Byte](((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def be64(v: Long) = be32(v >> 32) ++ be32(v & 0xffffffffL)
    def box(t: String, payload: Array[Byte]): Array[Byte] =
      be32(8L + payload.length) ++ t.getBytes("US-ASCII") ++ payload
    val mvhd =
      if (v1) box("mvhd", Array[Byte](1, 0, 0, 0) ++ be64(0) ++ be64(0) ++
        be32(1000L) ++ be64(durMs) ++ new Array[Byte](80))
      else box("mvhd", Array[Byte](0, 0, 0, 0) ++ be32(0) ++ be32(0) ++
        be32(1000L) ++ be32(durMs) ++ new Array[Byte](80))
    val tkhd =
      if (v1) box("tkhd", Array[Byte](1, 0, 0, 0) ++ be64(0) ++ be64(0) ++
        be32(1L) ++ be32(0) ++ be64(durMs) ++ new Array[Byte](52) ++
        be32(w.toLong << 16) ++ be32(h.toLong << 16))
      else box("tkhd", Array[Byte](0, 0, 0, 0) ++ be32(0) ++ be32(0) ++
        be32(1L) ++ be32(0) ++ be32(durMs) ++ new Array[Byte](52) ++
        be32(w.toLong << 16) ++ be32(h.toLong << 16))
    val ftyp = box("ftyp", "isom".getBytes("US-ASCII") ++ be32(0x200L) ++
      "isomiso2mp41".getBytes("US-ASCII"))
    ftyp ++ box("moov", mvhd ++ box("trak", tkhd))
  }

  /** (doc_id, format, width, height, duration_ms) decoded from a BINARY
    * `video` column — one narrow typed pass, nulls for undecodable.
    */
  def videoMeta(video: DataFrame): DataFrame = {
    val spark = video.sparkSession
    import spark.implicits._
    video.select("doc_id", "video").as[(Long, Array[Byte])]
      .map { case (id, bytes) =>
        videoHeader(bytes) match {
          case Some((f, w, h, d)) => (id, f, w, h, d)
          case None => (id, null.asInstanceOf[String], -1, -1, -1L)
        }
      }.toDF("doc_id", "format", "width", "height", "duration_ms")
  }

  /** (doc_id, format, channels, sample_rate) decoded from a BINARY
    * `audio` column — one narrow typed pass, nulls for undecodable.
    */
  def audioMeta(audio: DataFrame): DataFrame = {
    val spark = audio.sparkSession
    import spark.implicits._
    audio.select("doc_id", "audio").as[(Long, Array[Byte])]
      .map { case (id, bytes) =>
        audioHeader(bytes) match {
          case Some((f, ch, sr)) => (id, f, ch, sr)
          case None => (id, null.asInstanceOf[String], -1, -1)
        }
      }.toDF("doc_id", "format", "channels", "sample_rate")
  }

  /** (doc_id, format, width, height) decoded from a BINARY `img` column —
    * one narrow typed pass, nulls for undecodable payloads.
    */
  def imageMeta(imgs: DataFrame): DataFrame = {
    val spark = imgs.sparkSession
    import spark.implicits._
    imgs.select("doc_id", "img").as[(Long, Array[Byte])]
      .map { case (id, bytes) =>
        imageHeader(bytes) match {
          case Some((f, w, h)) => (id, f, w, h)
          case None => (id, null.asInstanceOf[String], -1, -1)
        }
      }.toDF("doc_id", "format", "width", "height")
  }
}
