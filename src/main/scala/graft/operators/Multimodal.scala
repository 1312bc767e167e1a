package graft.operators

import graft.QueryDef
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: image/audio/video payloads travel as
  * opaque `binary` columns with typed metadata; decode/feature-extract
  * run batched per partition.
  *
  * The container has no image/audio codecs or sample images, so
  * payloads are CONSTRUCTED — but as format-valid bytes (PNG signature
  * + IHDR chunk; JPEG SOI/APP0/COM/SOF0 marker stream), and the decode
  * step is a REAL header parser over public format layouts: PNG width/
  * height are the big-endian 32-bit words inside the IHDR chunk, and
  * the JPEG parser walks the marker stream (each doc's COM segment
  * length varies, so SOF0 sits at a variable offset — a fixed-offset
  * cheat would fail) to the SOF0 frame header. The parse runs in the
  * partition-batched `mapPartitions` seam where a full JNI/FFI codec
  * would slot in, and the DuckDB oracle recomputes the dimensions each
  * payload was built with — any parser that misreads the bytes
  * hash-fails.
  */
object Multimodal {

  /** STUB decoder: stands in for a pixel-level codec (the container has
    * none). Deterministic fake: 8 "channel" features from byte-stripe
    * sums, normalized. Header DIMENSION decode does not use this — see
    * [[parseDims]], which is a real format parser. */
  def decodeStub(payload: Array[Byte]): Array[Double] = {
    val n = payload.length.max(1)
    val stripe = math.max(n / 8, 1)
    (0 until 8).map { k =>
      var s = 0L
      var i = k * stripe
      val end = math.min(n, (k + 1) * stripe)
      while (i < end) { s += payload(i) & 0xFF; i += 1 }
      s.toDouble / (255.0 * stripe)
    }.toArray
  }

  /** Deterministic media dimensions for doc `id` — the values payloads
    * are BUILT with and the oracle recomputes. */
  private def dimsOf(id: Long): (Int, Int) =
    (((id * 37) % 640 + 32).toInt, ((id * 101) % 480 + 32).toInt)

  private def be16(v: Int): Array[Byte] =
    Array(((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
  private def be32(v: Int): Array[Byte] =
    Array((v >>> 24).toByte, ((v >> 16) & 0xFF).toByte,
      ((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)

  /** Format-valid media payload for doc `id`: even ids → minimal PNG
    * (8-byte signature, IHDR chunk with BE32 dims, zeroed CRC — the
    * parser, like most fast-path header readers, does not validate
    * CRCs); odd ids → minimal JPEG (SOI, JFIF APP0, a COM segment
    * whose length depends on the id, SOF0 with BE16 height/width,
    * EOI). */
  def buildPayload(id: Long): Array[Byte] = {
    val (w, h) = dimsOf(id)
    val out = new java.io.ByteArrayOutputStream()
    if (id % 2 == 0) {
      out.write(Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A)
        .map(_.toByte), 0, 8)
      out.write(be32(13), 0, 4)                       // IHDR data length
      out.write("IHDR".getBytes("US-ASCII"), 0, 4)
      out.write(be32(w), 0, 4)
      out.write(be32(h), 0, 4)
      // bit depth 8, color type 2 (truecolor), compression/filter/interlace 0
      out.write(Array(8, 2, 0, 0, 0).map(_.toByte), 0, 5)
      out.write(be32(0), 0, 4)                        // CRC (unvalidated)
    } else {
      out.write(Array(0xFF, 0xD8).map(_.toByte), 0, 2)              // SOI
      out.write((Array(0xFF, 0xE0, 0x00, 0x10) ++                   // APP0
        "JFIF".getBytes("US-ASCII").map(_.toInt) ++
        Array(0x00, 0x01, 0x01, 0x00, 0x00, 0x01, 0x00, 0x01, 0x00, 0x00))
        .map(_.toByte), 0, 18)
      val k = (id % 7 + 3).toInt                      // variable COM length
      out.write(Array(0xFF, 0xFE).map(_.toByte), 0, 2)
      out.write(be16(2 + k), 0, 2)
      out.write(Array.fill(k)('x'.toByte), 0, k)
      out.write(Array(0xFF, 0xC0, 0x00, 0x11, 0x08).map(_.toByte), 0, 5) // SOF0
      out.write(be16(h), 0, 2)
      out.write(be16(w), 0, 2)
      out.write(Array(0x03, 0x01, 0x11, 0x00, 0x02, 0x11, 0x01,
        0x03, 0x11, 0x01).map(_.toByte), 0, 10)
      out.write(Array(0xFF, 0xD9).map(_.toByte), 0, 2)              // EOI
    }
    out.toByteArray
  }

  private val PngSig =
    Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)

  /** REAL header decode over public format layouts. PNG: verify the
    * 8-byte signature, then width/height are BE32 at offsets 16/20
    * (inside the IHDR chunk, whose data begins after the 4-byte length
    * and 4-byte type). JPEG: verify SOI, then WALK the marker stream —
    * skip each segment by its BE16 length — until a SOF0-SOF3 frame
    * header (0xC0-0xC3), whose payload is [precision, height BE16,
    * width BE16]. Returns (fmt, width, height); unknown bytes →
    * ("unknown", -1, -1). */
  def parseDims(p: Array[Byte]): (String, Int, Int) = {
    def u8(i: Int): Int = p(i) & 0xFF
    def u16(i: Int): Int = (u8(i) << 8) | u8(i + 1)
    def u32(i: Int): Int =
      (u8(i) << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
    if (p.length >= 24 && p.take(8).sameElements(PngSig) &&
        new String(p.slice(12, 16), "US-ASCII") == "IHDR")
      ("png", u32(16), u32(20))
    else if (p.length >= 4 && u8(0) == 0xFF && u8(1) == 0xD8) {
      var i = 2
      while (i + 8 < p.length && u8(i) == 0xFF) {
        val m = u8(i + 1)
        if (m >= 0xC0 && m <= 0xC3)                   // SOF0-SOF3
          return ("jpeg", u16(i + 7), u16(i + 5))
        else if (m == 0xD9 || m == 0xDA)              // EOI / SOS
          return ("jpeg", -1, -1)
        else i += 2 + u16(i + 2)                      // skip by length
      }
      ("jpeg", -1, -1)
    } else ("unknown", -1, -1)
  }

  /** Decoded header row; scalar columns (driver row-sort cannot order
    * array cells). */
  final case class MmDecoded(
      doc_id: Long, fmt: String, width: Int, height: Int, n_bytes: Int)

  // ---- audio/animation codec seam (WAV/RIFF + GIF) -------------------

  /** Deterministic audio/GIF parameters for doc `id` — the values
    * payloads are BUILT with and the oracle recomputes. */
  private def wavRate(id: Long): Int =
    Array(8000, 16000, 22050, 44100)(((id % 8) / 2).toInt)
  private def wavChannels(id: Long): Int = ((id % 4) / 2 + 1).toInt
  private def wavDataBytes(id: Long): Int = ((id * 53) % 4000 + 1000).toInt
  private def gifDims(id: Long): (Int, Int) =
    (((id * 59) % 800 + 16).toInt, ((id * 67) % 600 + 16).toInt)

  private def le16(v: Int): Array[Byte] =
    Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)
  private def le32(v: Int): Array[Byte] =
    Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
      ((v >> 16) & 0xFF).toByte, (v >>> 24).toByte)

  /** Format-valid audio/animation payload for doc `id`: even ids → WAV
    * (RIFF/WAVE with a variable-length LIST chunk BEFORE `fmt ` — so a
    * fixed-offset reader fails — then PCM `fmt `, then a `data` chunk
    * whose declared size is the id-derived byte count; odd declared
    * sizes exercise RIFF's word-alignment pad byte, which the walker
    * must add and a naive size-only skip misses); odd ids → GIF89a
    * header + logical screen descriptor with LE16 width/height +
    * trailer. Data bytes are zeroed — header decode never reads them,
    * and a petabyte-scale metadata scan wouldn't either. */
  def buildAudioPayload(id: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    if (id % 2 == 0) {
      val k = (id % 5 + 4).toInt            // LIST payload: 4..8 bytes
      val dBytes = wavDataBytes(id)
      val rate = wavRate(id)
      val ch = wavChannels(id)
      val riffSize = 4 + (8 + k + k % 2) + 24 + (8 + dBytes + dBytes % 2)
      out.write("RIFF".getBytes("US-ASCII"), 0, 4)
      out.write(le32(riffSize), 0, 4)
      out.write("WAVE".getBytes("US-ASCII"), 0, 4)
      out.write("LIST".getBytes("US-ASCII"), 0, 4)  // variable pre-chunk
      out.write(le32(k), 0, 4)
      out.write(Array.fill(k + k % 2)(0.toByte), 0, k + k % 2)
      out.write("fmt ".getBytes("US-ASCII"), 0, 4)
      out.write(le32(16), 0, 4)                     // PCM fmt block
      out.write(le16(1), 0, 2)                      // audio format 1 = PCM
      out.write(le16(ch), 0, 2)
      out.write(le32(rate), 0, 4)
      out.write(le32(rate * ch * 2), 0, 4)          // byte rate
      out.write(le16(ch * 2), 0, 2)                 // block align
      out.write(le16(16), 0, 2)                     // bits per sample
      out.write("data".getBytes("US-ASCII"), 0, 4)
      out.write(le32(dBytes), 0, 4)
      out.write(Array.fill(dBytes + dBytes % 2)(0.toByte), 0,
        dBytes + dBytes % 2)
    } else {
      val (w, h) = gifDims(id)
      out.write("GIF89a".getBytes("US-ASCII"), 0, 6)
      out.write(le16(w), 0, 2)
      out.write(le16(h), 0, 2)
      out.write(Array(0x00, 0x00, 0x00).map(_.toByte), 0, 3) // flags/bg/ratio
      out.write(Array(0x3B).map(_.toByte), 0, 1)             // trailer
    }
    out.toByteArray
  }

  /** Decoded audio/animation header row (scalar columns). */
  final case class MmAudio(
      doc_id: Long, fmt: String, sample_rate: Int, channels: Int,
      duration_ms: Long, width: Int, height: Int, n_bytes: Int)

  /** REAL header decode over the public RIFF/WAVE and GIF layouts.
    * WAV: verify "RIFF"+"WAVE", then WALK the chunk list — each chunk
    * is 4-byte id + LE32 size + payload padded to word alignment —
    * reading channels/rate/bits out of `fmt ` and the payload size out
    * of `data`; duration = data_bytes·1000 / (rate·ch·bytes-per-sample)
    * in integer ms. GIF: verify the 87a/89a signature; width/height
    * are LE16 at offsets 6/8 of the logical screen descriptor.
    * Unknown bytes → ("unknown", -1, …). */
  def parseAudioMeta(p: Array[Byte]): (String, Int, Int, Long, Int, Int) = {
    def u8(i: Int): Int = p(i) & 0xFF
    def l16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    def l32(i: Int): Long = u8(i).toLong | (u8(i + 1).toLong << 8) |
      (u8(i + 2).toLong << 16) | (u8(i + 3).toLong << 24)
    def tag(i: Int): String = new String(p.slice(i, i + 4), "US-ASCII")
    val sig6 = if (p.length >= 6) new String(p.slice(0, 6), "US-ASCII") else ""
    if (p.length >= 13 && (sig6 == "GIF87a" || sig6 == "GIF89a"))
      ("gif", -1, -1, -1L, l16(6), l16(8))
    else if (p.length >= 12 && tag(0) == "RIFF" && tag(8) == "WAVE") {
      var i = 12
      var rate = -1; var ch = -1; var bits = 16; var dataBytes = -1L
      var ok = true
      while (ok && i + 8 <= p.length) {
        val id = tag(i); val sz = l32(i + 4)
        // A hostile/corrupt LE32 size (>= 2^31, or larger than the
        // remaining payload) would make the step negative or
        // non-advancing — stop the walk and keep the -1 defaults,
        // same degradation as the truncation path.
        if (sz > (p.length - i - 8).toLong) ok = false
        else {
          if (id == "fmt " && sz >= 16) {
            ch = l16(i + 10); rate = l32(i + 12).toInt; bits = l16(i + 22)
          } else if (id == "data") dataBytes = sz
          val step = 8L + sz + (sz & 1L)            // word alignment
          if (step <= 0L) ok = false else i += step.toInt
        }
      }
      val dur =
        if (rate > 0 && ch > 0 && bits >= 8 && dataBytes >= 0)
          dataBytes * 1000 / (rate.toLong * ch * (bits / 8))
        else -1L
      ("wav", rate, ch, dur, -1, -1)
    } else ("unknown", -1, -1, -1L, -1, -1)
  }

  // ---- video codec seam (MP4 / ISO-BMFF) -----------------------------

  /** Deterministic video parameters for doc `id` — the values payloads
    * are BUILT with and the oracle recomputes. */
  private def mp4Timescale(id: Long): Int =
    Array(600, 1000, 24000, 90000)(((id % 8) / 2).toInt)
  private def mp4Duration(id: Long): Long = (id * 37) % 100000 + 1000
  private def mp4Dims(id: Long): (Int, Int) =
    (((id * 61) % 1280 + 16).toInt, ((id * 71) % 720 + 16).toInt)
  private def mp4MdatBytes(id: Long): Int = ((id * 53) % 256 + 32).toInt

  private def beL32(v: Long): Array[Byte] =
    Array(((v >> 24) & 0xFF).toByte, ((v >> 16) & 0xFF).toByte,
      ((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
  private def be64(v: Long): Array[Byte] = beL32(v >>> 32) ++ beL32(v & 0xFFFFFFFFL)

  /** Format-valid ISO-BMFF payload for doc `id`:
    * `ftyp` (brand isom) · a variable-length `free` box BEFORE `moov`
    * (fixed-offset readers fail) · `moov` [ `mvhd` — version 1 with
    * 64-bit times when id % 3 = 0, else version 0 — carrying
    * timescale/duration · `trak` [ `tkhd` v0 with 16.16 fixed-point
    * width/height · `mdia` [ `mdhd` v0 ] ] ] · `mdat`, written with the
    * size=1 + 64-bit largesize form when id is odd (the 32/64-bit box
    * size fixture) and the plain 32-bit size otherwise. Media bytes are
    * zeroed — header decode never reads them. */
  def buildVideoPayload(id: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def box(tag: String, body: Array[Byte]): Array[Byte] =
      beL32(8L + body.length) ++ tag.getBytes("US-ASCII") ++ body
    val ts = mp4Timescale(id); val dur = mp4Duration(id)
    val (w, h) = mp4Dims(id); val d = mp4MdatBytes(id)
    out.write(box("ftyp",
      "isom".getBytes("US-ASCII") ++ beL32(0L) ++ "mp41".getBytes("US-ASCII")))
    out.write(box("free", new Array[Byte]((id % 7 + 8).toInt)))
    val mvhd =
      if (id % 3 == 0) // version 1: 64-bit ctime/mtime/duration
        box("mvhd", Array[Byte](1, 0, 0, 0) ++ be64(0L) ++ be64(0L) ++
          beL32(ts.toLong) ++ be64(dur) ++ beL32(0x00010000L) ++ be16(0x0100) ++
          new Array[Byte](2 + 8) ++ mp4Matrix ++ new Array[Byte](24) ++ beL32(2L))
      else
        box("mvhd", Array[Byte](0, 0, 0, 0) ++ beL32(0L) ++ beL32(0L) ++
          beL32(ts.toLong) ++ beL32(dur) ++ beL32(0x00010000L) ++ be16(0x0100) ++
          new Array[Byte](2 + 8) ++ mp4Matrix ++ new Array[Byte](24) ++ beL32(2L))
    val tkhd = box("tkhd", Array[Byte](0, 0, 0, 7) ++ beL32(0L) ++ beL32(0L) ++
      beL32(1L) ++ beL32(0L) ++ beL32(dur) ++ new Array[Byte](8) ++
      be16(0) ++ be16(0) ++ be16(0) ++ be16(0) ++ mp4Matrix ++
      beL32(w.toLong << 16) ++ beL32(h.toLong << 16))
    val mdhd = box("mdhd", Array[Byte](0, 0, 0, 0) ++ beL32(0L) ++ beL32(0L) ++
      beL32(ts.toLong) ++ beL32(dur) ++ be16(0x55C4) ++ be16(0))
    val moov = box("moov", mvhd ++ box("trak", tkhd ++ box("mdia", mdhd)))
    out.write(moov)
    if (id % 2 == 1) { // size = 1 → 64-bit largesize form
      out.write(beL32(1L)); out.write("mdat".getBytes("US-ASCII"))
      out.write(be64(16L + d)); out.write(new Array[Byte](d))
    } else out.write(box("mdat", new Array[Byte](d)))
    out.toByteArray
  }
  private val mp4Matrix: Array[Byte] = // identity 3×3, 16.16/2.30 fixed
    beL32(0x00010000L) ++ beL32(0L) ++ beL32(0L) ++
      beL32(0L) ++ beL32(0x00010000L) ++ beL32(0L) ++
      beL32(0L) ++ beL32(0L) ++ beL32(0x40000000L)

  /** Decoded video header row (scalar columns). */
  final case class MmVideo(
      doc_id: Long, fmt: String, timescale: Int, duration_ms: Long,
      width: Int, height: Int, n_bytes: Int)

  /** REAL ISO-BMFF box walk over the public MP4 layout: every box is a
    * BE32 size + 4CC tag, where size = 1 switches to a BE64 largesize
    * at offset 8 and size = 0 means to-end-of-file; `moov`/`trak`/
    * `mdia` are walked as containers; `mvhd` carries timescale +
    * duration at version-dependent offsets (v1 = 64-bit times), `tkhd`
    * carries 16.16 fixed-point width/height. Same bounded-walk
    * discipline as the RIFF walker: a declared size that is negative,
    * non-advancing or larger than the remaining payload stops the walk
    * with the -1 defaults. Returns (brand, timescale, duration_units,
    * width, height); unknown bytes → ("unknown", -1, -1, -1, -1). */
  def parseVideoMeta(p: Array[Byte]): (String, Int, Long, Int, Int) = {
    def u8(i: Int): Int = p(i) & 0xFF
    def u16(i: Int): Int = (u8(i) << 8) | u8(i + 1)
    def u32(i: Int): Long = (u8(i).toLong << 24) | (u8(i + 1).toLong << 16) |
      (u8(i + 2).toLong << 8) | u8(i + 3).toLong
    def u64(i: Int): Long = (u32(i) << 32) | u32(i + 4)
    def tag(i: Int): String = new String(p.slice(i + 4, i + 8), "US-ASCII")
    var brand = "unknown"
    var ts = -1; var dur = -1L; var w = -1; var h = -1
    // walk boxes in [from, until); returns false on a malformed size
    def walk(from: Int, until: Int)(f: (String, Int, Int) => Unit): Boolean = {
      var i = from
      while (i + 8 <= until) {
        val sz32 = u32(i); val t = tag(i)
        val (body, end) =
          if (sz32 == 1L) {
            if (i + 16 > until) return false
            val lsz = u64(i + 8)
            if (lsz < 16L || lsz > (until - i).toLong) return false
            (i + 16, i + lsz.toInt)
          } else if (sz32 == 0L) (i + 8, until) // box extends to the end
          else {
            if (sz32 < 8L || sz32 > (until - i).toLong) return false
            (i + 8, i + sz32.toInt)
          }
        f(t, body, end)
        if (end <= i) return false // non-advancing
        i = end
      }
      true
    }
    if (p.length < 16 || u32(0) < 16L || tag(0) != "ftyp")
      return ("unknown", -1, -1L, -1, -1)
    walk(0, p.length) { (t, body, end) =>
      t match {
        case "ftyp" => brand = new String(p.slice(body, body + 4), "US-ASCII")
        case "moov" =>
          walk(body, end) { (t2, b2, e2) =>
            t2 match {
              case "mvhd" =>
                val v = u8(b2)
                if (v == 1) { ts = u32(b2 + 20).toInt; dur = u64(b2 + 24) }
                else { ts = u32(b2 + 12).toInt; dur = u32(b2 + 16) }
              case "trak" =>
                walk(b2, e2) { (t3, b3, _) =>
                  if (t3 == "tkhd") {
                    val v3 = u8(b3)
                    val off = if (v3 == 1) b3 + 88 else b3 + 76
                    w = u16(off); h = u16(off + 4) // integer part of 16.16
                  }
                }
              case _ => ()
            }
          }
        case _ => ()
      }
    }
    (brand, ts, dur, w, h)
  }

  /** The decode seam shared by mm_feature and mm_resize: construct the
    * payload, parse its header back — batched per partition in groups
    * of 64 (the codec-call batch shape), never row-at-a-time across a
    * process boundary. */
  private def decodedDims(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    Tables.documents(s, dir).select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.grouped(64).flatMap { batch =>
          // codec batch call happens here, once per `batch`
          batch.map { id =>
            val payload = buildPayload(id)
            val (fmt, w, h) = parseDims(payload)
            MmDecoded(id, fmt, w, h, payload.length)
          }
        }
      }.toDF()
  }

  /** Oracle arithmetic for the built payload sizes: PNG = 8 sig + 25
    * IHDR chunk; JPEG = 2 SOI + 18 APP0 + (4 + k) COM + 19 SOF0 +
    * 2 EOI with k = id%7 + 3. */
  private val nBytesSql =
    "CASE WHEN doc_id % 2 = 0 THEN 33 ELSE 45 + (doc_id % 7 + 3) END"

  val defs: Seq[(String, QueryDef)] = Seq(

    // ------------------------------------------------------------------
    // Typed metadata over a binary payload column (payload = utf8 bytes
    // of the doc text here; in production the image/audio blob).
    "mm_meta" -> QueryDef.withOracle(
      """SELECT doc_id,
        |  octet_length(encode(text)) AS byte_len,
        |  hex(encode(substring(text, 1, 4))) AS magic,
        |  md5(text) AS payload_md5,
        |  CASE WHEN octet_length(encode(text)) > 256 THEN 'large' ELSE 'small' END AS kind,
        |  CAST(octet_length(encode(text)) % 640 AS BIGINT) AS width,
        |  CAST((octet_length(encode(text)) * 7) % 480 AS BIGINT) AS height
        |FROM documents""".stripMargin) { (s, dir) =>
      val payload = col("text").cast(BinaryType)
      val byteLen = length(payload)
      Tables.documents(s, dir).select(
        col("doc_id"),
        byteLen.as("byte_len"),
        hex(substring(col("text"), 1, 4).cast(BinaryType)).as("magic"),
        md5(payload).as("payload_md5"),
        when(byteLen > 256, "large").otherwise("small").as("kind"),
        (byteLen % 640).cast(LongType).as("width"),
        ((byteLen * 7) % 480).cast(LongType).as("height"))
    },

    // ------------------------------------------------------------------
    // Resize planning: target box fit (224×224) preserving aspect
    // ratio, computed from dimensions PARSED out of the payload header
    // bytes by the real decoder (the mm_feature seam) — the real
    // resample would consume the same decode batch; the PLAN of what
    // to resize to is engine-checkable and is what a scheduler shards
    // work by. Dims are ≥32 by construction so both sides of the
    // aspect-ratio division are provably nonzero.
    "mm_resize" -> QueryDef.withOracle(
      """WITH m AS (
        |  SELECT doc_id,
        |    (doc_id * 37) % 640 + 32 AS w,
        |    (doc_id * 101) % 480 + 32 AS h
        |  FROM documents)
        |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(CASE WHEN w * 224 <= h * 224 THEN round(w * 224.0 / h) ELSE 224 END AS BIGINT) AS out_w,
        |  CAST(CASE WHEN w * 224 <= h * 224 THEN 224 ELSE round(h * 224.0 / w) END AS BIGINT) AS out_h,
        |  w * 224 > h * 224 AS landscape
        |FROM m""".stripMargin) { (s, dir) =>
      decodedDims(s, dir)
        .select(col("doc_id"),
          col("width").cast(LongType).as("w"),
          col("height").cast(LongType).as("h"))
        .select(col("doc_id"), col("w").as("width"), col("h").as("height"),
          when(col("w") * 224 <= col("h") * 224,
            round(col("w") * lit(224.0) / col("h")).cast(LongType))
            .otherwise(lit(224L)).as("out_w"),
          when(col("w") * 224 <= col("h") * 224, lit(224L))
            .otherwise(round(col("h") * lit(224.0) / col("w")).cast(LongType)).as("out_h"),
          (col("w") * 224 > col("h") * 224).as("landscape"))
    },

    // ------------------------------------------------------------------
    // Frame sampling plan against REAL video metadata: the frame count
    // comes from the MP4 header decode (mvhd duration/timescale through
    // the same batched parseVideoMeta seam as mm_video_meta, at 24 fps),
    // not from a byte-length proxy; every k-th frame is selected so
    // each doc explodes into a bounded set of (doc, frame) work items —
    // the row shape a decode fleet consumes. Explode stays bounded
    // (≤ 32 frames/doc) so a 100 TB corpus fans out linearly. The
    // oracle replays the id formulas the payloads were built with, so a
    // misdecoded duration hash-fails here too.
    "mm_frame_sample" -> QueryDef.withOracle(
      """WITH m AS (
        |  SELECT doc_id,
        |    ((doc_id * 37) % 100000 + 1000) * 1000
        |      // (CASE (doc_id % 8) // 2 WHEN 0 THEN 600 WHEN 1 THEN 1000
        |          WHEN 2 THEN 24000 ELSE 90000 END) AS dur_ms
        |  FROM documents),
        |f AS (SELECT doc_id, dur_ms * 24 // 1000 + 1 AS n_frames FROM m),
        |k AS (SELECT doc_id, n_frames,
        |        CAST(ceil(n_frames / 32.0) AS BIGINT) AS stride FROM f)
        |SELECT doc_id, CAST(n_frames AS BIGINT) AS n_frames,
        |  CAST(unnest(range(0, n_frames, stride)) AS BIGINT) AS frame_idx
        |FROM k""".stripMargin) { (s, dir) =>
      import s.implicits._
      Tables.documents(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          it.grouped(64).flatMap { batch =>
            // codec batch call happens here, once per `batch`
            batch.map { id =>
              val (_, ts, dur, _, _) = parseVideoMeta(buildVideoPayload(id))
              val durMs = if (ts > 0 && dur >= 0) dur * 1000L / ts else -1L
              (id, durMs * 24L / 1000L + 1L)
            }
          }
        }.toDF("doc_id", "n_frames")
        .withColumn("stride", ceil(col("n_frames") / 32.0).cast(LongType))
        .select(col("doc_id"), col("n_frames"),
          explode(sequence(lit(0L), col("n_frames") - 1, col("stride"))).as("frame_idx"))
    },

    // ------------------------------------------------------------------
    // Partition-batched header decode through REAL format parsers (see
    // object Scaladoc): PNG IHDR BE32 words / JPEG marker-stream walk
    // to SOF0. The oracle recomputes the dimensions and byte sizes the
    // payloads were built with — a parser that misreads a single byte
    // (wrong offset, wrong endianness, fixed-offset SOF0 assumption)
    // hash-fails. Batching shape: payloads processed per-partition in
    // groups of 64 (the codec-call batch), never row-at-a-time across
    // a process boundary.
    "mm_feature" -> QueryDef.withOracle(
      s"""SELECT doc_id,
         |  CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS fmt,
         |  CAST((doc_id * 37) % 640 + 32 AS INT) AS width,
         |  CAST((doc_id * 101) % 480 + 32 AS INT) AS height,
         |  CAST($nBytesSql AS INT) AS n_bytes
         |FROM documents""".stripMargin) { (s, dir) =>
      decodedDims(s, dir)
    },

    // ------------------------------------------------------------------
    // Partition-batched AUDIO/ANIMATION header decode — the WAV/RIFF +
    // GIF sibling of mm_feature, closing the images-only gap in the
    // codec seam: the parser WALKS the RIFF chunk list (a
    // variable-length LIST chunk precedes `fmt `, and odd declared
    // sizes force the word-alignment pad byte — fixed offsets and
    // naive size-only skips both fail), reads PCM params out of
    // `fmt `, the payload size out of `data`, and derives integer-ms
    // duration; GIF width/height are LE16 words in the logical screen
    // descriptor. The oracle recomputes every field from the id
    // formulas the payloads were built with — one misread byte
    // hash-fails. Same batched mapPartitions seam as mm_feature.
    "mm_audio_meta" -> QueryDef.withOracle(
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'wav' ELSE 'gif' END AS fmt,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN
        |      CASE (doc_id % 8) // 2 WHEN 0 THEN 8000 WHEN 1 THEN 16000
        |           WHEN 2 THEN 22050 ELSE 44100 END
        |    ELSE -1 END AS INT) AS sample_rate,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN (doc_id % 4) // 2 + 1
        |    ELSE -1 END AS INT) AS channels,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN
        |      ((doc_id * 53) % 4000 + 1000) * 1000
        |        // ((CASE (doc_id % 8) // 2 WHEN 0 THEN 8000
        |             WHEN 1 THEN 16000 WHEN 2 THEN 22050
        |             ELSE 44100 END) * ((doc_id % 4) // 2 + 1) * 2)
        |    ELSE -1 END AS BIGINT) AS duration_ms,
        |  CAST(CASE WHEN doc_id % 2 = 1 THEN (doc_id * 59) % 800 + 16
        |    ELSE -1 END AS INT) AS width,
        |  CAST(CASE WHEN doc_id % 2 = 1 THEN (doc_id * 67) % 600 + 16
        |    ELSE -1 END AS INT) AS height,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN
        |      52 + (doc_id % 5 + 4) + (doc_id % 5 + 4) % 2
        |        + ((doc_id * 53) % 4000 + 1000)
        |        + ((doc_id * 53) % 4000 + 1000) % 2
        |    ELSE 14 END AS INT) AS n_bytes
        |FROM documents""".stripMargin) { (s, dir) =>
      import s.implicits._
      Tables.documents(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          it.grouped(64).flatMap { batch =>
            // codec batch call happens here, once per `batch`
            batch.map { id =>
              val payload = buildAudioPayload(id)
              val (fmt, rate, ch, dur, w, h) = parseAudioMeta(payload)
              MmAudio(id, fmt, rate, ch, dur, w, h, payload.length)
            }
          }
        }.toDF()
    },

    // ------------------------------------------------------------------
    // Partition-batched VIDEO header decode — the MP4/ISO-BMFF sibling
    // of mm_feature/mm_audio_meta, closing the video gap in the codec
    // seam: the parser WALKS the box tree (a variable-length `free` box
    // precedes `moov`, mvhd versions 0 AND 1 appear, and odd ids write
    // `mdat` with the size=1 + 64-bit largesize form — fixed offsets,
    // v0-only readers and 32-bit-only size logic all fail), reading
    // timescale/duration out of `mvhd` and 16.16 fixed-point dims out
    // of `tkhd`. The oracle recomputes every field from the id formulas
    // the payloads were built with — one misread byte hash-fails.
    "mm_video_meta" -> QueryDef.withOracle(
      """SELECT doc_id,
        |  'isom' AS fmt,
        |  CAST(CASE (doc_id % 8) // 2 WHEN 0 THEN 600 WHEN 1 THEN 1000
        |       WHEN 2 THEN 24000 ELSE 90000 END AS INT) AS timescale,
        |  CAST(((doc_id * 37) % 100000 + 1000) * 1000
        |    // (CASE (doc_id % 8) // 2 WHEN 0 THEN 600 WHEN 1 THEN 1000
        |        WHEN 2 THEN 24000 ELSE 90000 END) AS BIGINT) AS duration_ms,
        |  CAST((doc_id * 61) % 1280 + 16 AS INT) AS width,
        |  CAST((doc_id * 71) % 720 + 16 AS INT) AS height,
        |  CAST(292 + (doc_id % 7 + 8) + ((doc_id * 53) % 256 + 32)
        |    + CASE WHEN doc_id % 3 = 0 THEN 12 ELSE 0 END
        |    + CASE WHEN doc_id % 2 = 1 THEN 8 ELSE 0 END AS INT) AS n_bytes
        |FROM documents""".stripMargin) { (s, dir) =>
      import s.implicits._
      Tables.documents(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          it.grouped(64).flatMap { batch =>
            // codec batch call happens here, once per `batch`
            batch.map { id =>
              val payload = buildVideoPayload(id)
              val (fmt, ts, dur, w, h) = parseVideoMeta(payload)
              val durMs =
                if (ts > 0 && dur >= 0) dur * 1000L / ts else -1L
              MmVideo(id, fmt, ts, durMs, w, h, payload.length)
            }
          }
        }.toDF()
    },

    // ------------------------------------------------------------------
    // Header-hash media dedup — the cheap first tier of blob dedup at
    // 100 TB: group by (md5 of the first 64 payload bytes, coarse size
    // class) and report multi-member groups with a canonical keeper.
    // The shuffle carries a 16-byte hash + a long per blob, NEVER the
    // payload — a petabyte of media dedups by moving kilobytes per
    // million blobs. Groups found here would feed an exact byte-compare
    // second tier (same two-tier shape as ann_refine_rerank). Member
    // lists are emitted as a sorted CSV string (driver-side row sorting
    // cannot order array cells — see MmFeature note).
    "mm_header_dedup" -> QueryDef.withOracle(
      """SELECT md5(substring(text, 1, 64)) AS header_md5,
        |  CAST(octet_length(encode(text)) // 64 AS BIGINT) AS size_class,
        |  CAST(count(*) AS BIGINT) AS n_copies,
        |  min(doc_id) AS keep_id,
        |  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS member_ids
        |FROM documents
        |GROUP BY 1, 2
        |HAVING count(*) >= 2""".stripMargin) { (s, dir) =>
      val payload = col("text").cast(BinaryType)
      Tables.documents(s, dir)
        .select(
          col("doc_id"),
          md5(substring(col("text"), 1, 64).cast(BinaryType)).as("header_md5"),
          floor(length(payload) / 64).cast(LongType).as("size_class"))
        .groupBy(col("header_md5"), col("size_class"))
        .agg(
          count(lit(1)).as("n_copies"),
          min(col("doc_id")).as("keep_id"),
          array_join(transform(sort_array(collect_list(col("doc_id"))),
            x => x.cast(StringType)), ",").as("member_ids"))
        .filter(col("n_copies") >= 2)
    },

    // ------------------------------------------------------------------
    // Chunk-level blob dedup — the second tier after mm_header_dedup:
    // split every payload into fixed 16-byte chunks (the CDC seam; a
    // rolling-hash boundary would slot in where the fixed stride is),
    // hash each chunk, and report cross-corpus duplicate chunks with
    // their blob reach. The exchange carries (chunk_md5, doc_id) pairs
    // — 24 bytes per chunk, never payload bytes — so a petabyte of
    // media yields storage-dedup stats by shipping hashes. Chunking is
    // row-local (explode over a computed index range); payloads here
    // are the utf8 doc bytes (ASCII ⇒ char positions = byte offsets).
    "mm_chunk_dedup" -> QueryDef.withOracle(
      """WITH c AS (
        |  SELECT doc_id,
        |    unnest(range(0, CAST(ceil(length(text) / 16.0) AS INT))) AS i,
        |    text
        |  FROM documents),
        |h AS (SELECT doc_id, md5(substring(text, i * 16 + 1, 16)) AS chunk_md5
        |      FROM c)
        |SELECT chunk_md5, CAST(count(*) AS BIGINT) AS n_copies,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |FROM h GROUP BY chunk_md5
        |HAVING count(*) >= 2""".stripMargin) { (s, dir) =>
      val nChunks = ceil(length(col("text")) / 16.0).cast(IntegerType)
      Tables.documents(s, dir)
        // empty-text guard: sequence(0, -1) would auto-step -1 and
        // yield [0, -1] — two phantom md5("") chunks per empty doc
        // where the oracle's range(0, 0) yields none
        .filter(length(col("text")) > 0)
        .select(col("doc_id"), explode(transform(
          sequence(lit(0), nChunks - 1),
          i => col("text").substr(i * 16 + 1, lit(16)))).as("chunk"))
        .select(col("doc_id"), md5(col("chunk").cast(BinaryType)).as("chunk_md5"))
        .groupBy(col("chunk_md5"))
        .agg(count(lit(1)).as("n_copies"),
          countDistinct(col("doc_id")).as("n_docs"))
        .filter(col("n_copies") >= 2)
    },

    // ------------------------------------------------------------------
    // Content-defined chunking — the rolling-hash boundary rule that
    // slots into mm_chunk_dedup's documented CDC seam: fixed-stride
    // chunking loses every duplicate after a one-byte insertion
    // (boundaries shift), CDC resynchronizes because boundaries depend
    // on CONTENT. The boundary predicate is a Gear-style 4-byte
    // weighted window (8c₋₃ + 4c₋₂ + 2c₋₁ + c) ≡ 0 mod 32 (expected
    // chunk ≈ 32 bytes on ASCII text), evaluated entirely row-locally
    // with array higher-order functions — byte codes, boundary
    // positions, and the cut list are per-doc arrays, so the exchange
    // carries (chunk_md5, len, doc) triples only, never payloads (the
    // mm_chunk_dedup scale contract). ASCII docs ⇒ char positions =
    // byte offsets, and both engines evaluate the identical integer
    // predicate — fully oracled.
    "mm_cdc_chunks" -> QueryDef.withOracle(
      """WITH c AS (
        |  SELECT doc_id, text,
        |    length(text) AS l,
        |    list_transform(range(1, length(text) + 1),
        |      i -> ord(substring(text, CAST(i AS INT), 1))) AS cd
        |  FROM documents WHERE length(text) >= 8),
        |b AS (
        |  SELECT doc_id, text, l,
        |    list_filter(range(4, l + 1),
        |      i -> (8 * cd[CAST(i AS INT) - 3] + 4 * cd[CAST(i AS INT) - 2]
        |        + 2 * cd[CAST(i AS INT) - 1] + cd[CAST(i AS INT)]) % 32 = 0)
        |      AS bnd
        |  FROM c),
        |k AS (
        |  SELECT doc_id, text,
        |    list_sort(list_distinct(
        |      list_concat(list_concat([CAST(0 AS BIGINT)],
        |        list_transform(bnd, x -> CAST(x AS BIGINT))),
        |        [CAST(l AS BIGINT)]))) AS cuts
        |  FROM b),
        |ch AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(2, len(cuts) + 1),
        |      j -> substring(text, CAST(cuts[CAST(j AS INT) - 1] + 1 AS INT),
        |        CAST(cuts[CAST(j AS INT)] - cuts[CAST(j AS INT) - 1] AS INT))))
        |      AS chunk
        |  FROM k)
        |SELECT md5(chunk) AS chunk_md5,
        |  CAST(length(chunk) AS BIGINT) AS chunk_len,
        |  CAST(count(*) AS BIGINT) AS n_copies,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |FROM ch GROUP BY 1, 2
        |HAVING count(*) >= 2""".stripMargin) { (s, dir) =>
      // The whole cut-list computation — codepoint decode, Gear
      // predicate, chunk slicing — is ONE O(L) native expression
      // (plans/CdcExpressions.scala), bit-identical to the declarative
      // chain it replaces (which materialized a length-L codepoint
      // array via ascii(substr(i, 1)) — O(L) per position, O(L²) per
      // doc — then filtered positions and re-substringed every chunk).
      val ch = Tables.documents(s, dir)
        .filter(length(col("text")) >= 8)
        .select(col("doc_id"),
          explode(graft.functions.Vectors.cdcChunks(col("text"))).as("chunk"))
      ch.select(col("doc_id"),
          md5(col("chunk").cast(BinaryType)).as("chunk_md5"),
          length(col("chunk")).cast(LongType).as("chunk_len"))
        .groupBy(col("chunk_md5"), col("chunk_len"))
        .agg(count(lit(1)).as("n_copies"),
          countDistinct(col("doc_id")).as("n_docs"))
        .filter(col("n_copies") >= 2)
    }
  )
}
