package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: images/audio/video as opaque `binary` columns
  * with typed metadata, processed in partition-sized batches.
  *
  * Image METADATA decode is REAL: `MediaDecoder` parses PNG IHDR and JPEG
  * SOF headers from the raw bytes, pure JVM, no codec dependency (the
  * reference's letterbox stage consumes exactly these dimensions,
  * layout/model.rs:334-398). Pixel decode remains out of scope for this
  * container (no codecs); non-image payloads fall back to a clearly-marked
  * deterministic stub. The Spark-side plumbing is real and tested: binary
  * column handling, typed metadata structs, batched `mapPartitions` with a
  * per-partition decoder instance (the Scala analogue of `mapInPandas`
  * batch shape: amortize decoder init across the partition, never per row).
  */
object Multimodal {

  /** Typed metadata emitted by the decode/feature stage. */
  final case class MediaMeta(
      doc_id: Long,
      n_bytes: Long,
      format: String,
      width: Int,
      height: Int,
      n_frames: Int,
      feature_norm: Double
  )

  /** Header-level media decoder. PNG and JPEG dimensions are parsed from
    * the actual byte layout (PNG signature + IHDR; JPEG marker-segment scan
    * to the first SOF frame header). Payloads that are neither fall back to
    * the deterministic stub a real deployment would replace with a JNI
    * codec; the call shape (init-once-per-partition, byte-array in, meta
    * out) is the contract either way.
    */
  object MediaDecoder {

    private final val PngSig =
      Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

    private def be4(b: Array[Byte], i: Int): Int =
      ((b(i) & 0xff) << 24) | ((b(i + 1) & 0xff) << 16) |
        ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)

    private def be2(b: Array[Byte], i: Int): Int =
      ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)

    /** PNG: 8-byte signature, then the IHDR chunk (the spec REQUIRES it
      * first): 4-byte length, "IHDR", width (4, big-endian), height (4).
      */
    def pngDims(b: Array[Byte]): Option[(Int, Int)] =
      if (b.length >= 24 &&
          java.util.Arrays.equals(b, 0, 8, PngSig, 0, 8) &&
          b(12) == 'I' && b(13) == 'H' && b(14) == 'D' && b(15) == 'R') {
        val w = be4(b, 16); val h = be4(b, 20)
        if (w > 0 && h > 0) Some((w, h)) else None
      } else None

    /** JPEG: SOI, then marker segments (each FF <marker> <len16> ...)
      * skipped by their embedded length until the first SOF frame header
      * (C0-CF except C4/C8/CC), whose payload is
      * precision(1) height(2) width(2).
      */
    def jpegDims(b: Array[Byte]): Option[(Int, Int)] = {
      if (b.length < 4 || (b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8)
        return None
      var i = 2
      while (i + 3 < b.length) {
        if ((b(i) & 0xff) != 0xff) return None // desynced: not a marker
        val m = b(i + 1) & 0xff
        if (m == 0xff) { i += 1 } // fill bytes before a marker are legal
        else if (m >= 0xd0 && m <= 0xd9) { i += 2 } // RST/SOI/EOI: no payload
        else {
          val len = be2(b, i + 2)
          if (len < 2 || i + 2 + len > b.length) return None
          val isSof = m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 &&
            m != 0xcc
          if (isSof) {
            if (len < 7) return None
            val h = be2(b, i + 5); val w = be2(b, i + 7)
            return if (w > 0 && h > 0) Some((w, h)) else None
          }
          i += 2 + len
        }
      }
      None
    }

    private def le2(b: Array[Byte], i: Int): Int =
      (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)

    private def le3(b: Array[Byte], i: Int): Int =
      (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8) | ((b(i + 2) & 0xff) << 16)

    /** GIF: "GIF87a"/"GIF89a", then the logical screen descriptor —
      * width (2, little-endian), height (2, little-endian).
      */
    def gifDims(b: Array[Byte]): Option[(Int, Int)] =
      if (b.length >= 10 &&
          b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8' &&
          (b(4) == '7' || b(4) == '9') && b(5) == 'a') {
        val w = le2(b, 6); val h = le2(b, 8)
        if (w > 0 && h > 0) Some((w, h)) else None
      } else None

    /** WebP: RIFF container ("RIFF" <size32le> "WEBP"), first chunk at 12.
      *  - VP8X (extended): flags(1) reserved(3) then canvas width-1 and
      *    height-1 as 24-bit little-endian;
      *  - "VP8 " (lossy): 3-byte frame tag, start code 9D 01 2A, then
      *    14-bit width and height in two little-endian u16s;
      *  - VP8L (lossless): signature byte 2F, then a packed u32 holding
      *    width-1 (14 bits) and height-1 (14 bits).
      */
    def webpDims(b: Array[Byte]): Option[(Int, Int)] = {
      if (b.length < 30 ||
          b(0) != 'R' || b(1) != 'I' || b(2) != 'F' || b(3) != 'F' ||
          b(8) != 'W' || b(9) != 'E' || b(10) != 'B' || b(11) != 'P')
        return None
      val fourcc = new String(b, 12, 4, java.nio.charset.StandardCharsets.US_ASCII)
      fourcc match {
        case "VP8X" =>
          Some((1 + le3(b, 24), 1 + le3(b, 27))) // canvas dims are size-1
        case "VP8 " =>
          if ((b(23) & 0xff) != 0x9d || (b(24) & 0xff) != 0x01 ||
              (b(25) & 0xff) != 0x2a) None
          else {
            val w = le2(b, 26) & 0x3fff; val h = le2(b, 28) & 0x3fff
            if (w > 0 && h > 0) Some((w, h)) else None
          }
        case "VP8L" =>
          if ((b(20) & 0xff) != 0x2f) None
          else {
            val bits = (b(21) & 0xff) | ((b(22) & 0xff) << 8) |
              ((b(23) & 0xff) << 16) | ((b(24) & 0xff).toLong << 24).toInt
            Some((1 + (bits & 0x3fff), 1 + ((bits >> 14) & 0x3fff)))
          }
        case _ => None
      }
    }

    private def le4(b: Array[Byte], i: Int): Long =
      (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) |
        ((b(i + 2) & 0xffL) << 16) | ((b(i + 3) & 0xffL) << 24)

    private def fourcc(b: Array[Byte], i: Int): String =
      new String(b, i, 4, java.nio.charset.StandardCharsets.US_ASCII)

    /** WAV (RIFF/WAVE): "RIFF" <size32le> "WAVE", then a CHUNK SCAN —
      * arbitrary chunks ("LIST", "JUNK", ...) are skipped by their embedded
      * little-endian length (chunks are word-aligned: odd lengths carry a
      * pad byte) until "fmt " yields
      * format(2le) channels(2le) sample_rate(4le) byte_rate(4le)
      * block_align(2le) bits(2le), and "data" yields the payload length.
      * Returns (channels, sample_rate, bits, n_samples) with
      * n_samples = data_len / block_align (the ragged tail dropped).
      */
    def wavMeta(b: Array[Byte]): Option[(Int, Int, Int, Long)] = {
      if (b.length < 12 || fourcc(b, 0) != "RIFF" || fourcc(b, 8) != "WAVE")
        return None
      var i = 12
      var fmt: Option[(Int, Int, Int, Int)] = None // ch, rate, align, bits
      while (i + 8 <= b.length) {
        val id = fourcc(b, i)
        val len = le4(b, i + 4)
        if (len < 0 || len > Int.MaxValue) return None
        val l = len.toInt
        if (id == "fmt ") {
          if (l < 16 || i + 8 + 16 > b.length) return None
          val ch = le2(b, i + 10)
          val rate = le4(b, i + 12).toInt
          val align = le2(b, i + 20)
          val bits = le2(b, i + 22)
          if (ch <= 0 || rate <= 0 || align <= 0 || bits <= 0) return None
          fmt = Some((ch, rate, align, bits))
        } else if (id == "data") {
          return fmt.map { case (ch, rate, align, bits) =>
            // the data chunk may be the byte tail: clamp to what's present
            val avail = math.min(l.toLong, (b.length - i - 8).toLong)
            (ch, rate, bits, avail / align)
          }
        }
        i += 8 + l + (l & 1) // chunks are word-aligned
      }
      None
    }

    /** WAV PCM decode (qm10): the same chunk scan as [[wavMeta]], but the
      * "data" chunk's payload is parsed as little-endian signed 16-bit
      * samples (the flat interleaved stream; a ragged trailing byte is
      * dropped, mirroring wavMeta's `avail / align` floor). Returns
      * (channels, sample_rate, samples).
      */
    def wavPcm16(b: Array[Byte]): Option[(Int, Int, Array[Short])] = {
      if (b.length < 12 || fourcc(b, 0) != "RIFF" || fourcc(b, 8) != "WAVE")
        return None
      var i = 12
      var fmt: Option[(Int, Int)] = None // ch, rate
      while (i + 8 <= b.length) {
        val id = fourcc(b, i)
        val len = le4(b, i + 4)
        if (len < 0 || len > Int.MaxValue) return None
        val l = len.toInt
        if (id == "fmt ") {
          if (l < 16 || i + 8 + 16 > b.length) return None
          // audioFormat must be 1 (integer PCM) — a 16-bit EXTENSIBLE or
          // compressed stream declaring 16 bits would otherwise be silently
          // misdecoded as LE PCM (r6, ADVICE)
          val audioFormat = le2(b, i + 8)
          val ch = le2(b, i + 10)
          val rate = le4(b, i + 12).toInt
          val bits = le2(b, i + 22)
          if (audioFormat != 1 || ch <= 0 || rate <= 0 || bits != 16) return None
          fmt = Some((ch, rate))
        } else if (id == "data") {
          return fmt.map { case (ch, rate) =>
            val avail = math.min(l.toLong, (b.length - i - 8).toLong).toInt
            val n = avail / 2
            val out = new Array[Short](n)
            var k = 0
            while (k < n) {
              out(k) = ((b(i + 8 + 2 * k) & 0xff) |
                (b(i + 8 + 2 * k + 1) << 8)).toShort
              k += 1
            }
            (ch, rate, out)
          }
        }
        i += 8 + l + (l & 1) // chunks are word-aligned
      }
      None
    }

    /** MP4 (ISO-BMFF): a box walk — size(4be) type(4be) payload — over the
      * top level to "moov", then over moov's children: "mvhd" (version 0)
      * yields timescale/duration at payload offsets 12/16, and the first
      * "trak"'s "tkhd" yields track width/height as 16.16 fixed-point at
      * payload offsets 76/80. Returns (major_brand, timescale, duration,
      * width, height). Size-0 ("rest of file") and truncated boxes abort.
      */
    def mp4Meta(b: Array[Byte]): Option[(String, Long, Long, Int, Int)] = {
      if (b.length < 16 || fourcc(b, 4) != "ftyp") return None
      val brand = fourcc(b, 8)
      var i = 0
      var moov = -1
      var moovEnd = -1
      while (i + 8 <= b.length && moov < 0) {
        val sz = be4(b, i).toLong & 0xffffffffL
        if (sz < 8 || i + sz > b.length) return None
        if (fourcc(b, i + 4) == "moov") { moov = i + 8; moovEnd = i + sz.toInt }
        i += sz.toInt
      }
      if (moov < 0) return None
      var ts = -1L; var dur = -1L; var w = -1; var h = -1
      var j = moov
      while (j + 8 <= moovEnd) {
        val sz = be4(b, j).toLong & 0xffffffffL
        if (sz < 8 || j + sz > moovEnd) return None
        fourcc(b, j + 4) match {
          case "mvhd" =>
            if (sz < 32 || b(j + 8) != 0) return None // version 0 only
            ts = be4(b, j + 20).toLong & 0xffffffffL
            dur = be4(b, j + 24).toLong & 0xffffffffL
          case "trak" if w < 0 =>
            // one level deeper: find tkhd among trak's children
            var k = j + 8
            val trakEnd = j + sz.toInt
            while (k + 8 <= trakEnd && w < 0) {
              val csz = be4(b, k).toLong & 0xffffffffL
              if (csz < 8 || k + csz > trakEnd) return None
              if (fourcc(b, k + 4) == "tkhd") {
                if (csz < 92 || b(k + 8) != 0) return None
                w = be4(b, k + 84) >>> 16 // 16.16 fixed
                h = be4(b, k + 88) >>> 16
              }
              k += csz.toInt
            }
          case _ => ()
        }
        j += sz.toInt
      }
      if (ts > 0 && dur >= 0 && w > 0 && h > 0) Some((brand, ts, dur, w, h))
      else None
    }

    /** REAL PNG pixel codec (qm7) — pure JVM, java.util.zip only. Scope:
      * 8-bit-depth color-type-2 (RGB) non-interlaced images, the layout the
      * qm7 generator emits; everything else is a typed reject, never an
      * exception. The decoder does the full job a codec must: chunk walk
      * with per-chunk CRC32 verification, multi-IDAT concatenation, zlib
      * inflate, and per-scanline unfiltering for ALL five PNG filter types
      * (None/Sub/Up/Average/Paeth — the encoder here writes filter 0, but
      * javax.imageio's encoder picks adaptive filters, and the spec decodes
      * ITS output differentially, so types 1-4 are exercised against an
      * independent implementation).
      */
    object PngCodec {

      private def writeChunk(out: java.io.ByteArrayOutputStream, tag: String,
          body: Array[Byte]): Unit = {
        val d = new java.io.DataOutputStream(out)
        d.writeInt(body.length)
        val tb = tag.getBytes("US-ASCII")
        d.write(tb)
        d.write(body)
        val c = new java.util.zip.CRC32
        c.update(tb)
        c.update(body)
        d.writeInt(c.getValue.toInt)
      }

      /** Encode packed RGB8 rows as a complete, valid PNG (filter 0 per
        * scanline, single IDAT).
        */
      def encode(w: Int, h: Int, rgb: Array[Byte]): Array[Byte] = {
        require(w > 0 && h > 0 && rgb.length == w * h * 3,
          s"need ${w * h * 3} rgb bytes, got ${rgb.length}")
        val ihdr = java.nio.ByteBuffer.allocate(13)
        ihdr.putInt(w).putInt(h)
        ihdr.put(8.toByte).put(2.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
        val stride = w * 3
        val raw = new Array[Byte](h * (1 + stride)) // filter byte 0 = None
        var y = 0
        while (y < h) {
          System.arraycopy(rgb, y * stride, raw, y * (1 + stride) + 1, stride)
          y += 1
        }
        val defl = new java.util.zip.Deflater()
        defl.setInput(raw)
        defl.finish()
        val zo = new java.io.ByteArrayOutputStream
        val buf = new Array[Byte](8192)
        while (!defl.finished()) zo.write(buf, 0, defl.deflate(buf))
        defl.end()
        val out = new java.io.ByteArrayOutputStream
        out.write(PngSig, 0, 8)
        writeChunk(out, "IHDR", ihdr.array)
        writeChunk(out, "IDAT", zo.toByteArray)
        writeChunk(out, "IEND", Array.emptyByteArray)
        out.toByteArray
      }

      /** Decode to (width, height, packed RGB8 rows); Left(reject_class) on
        * anything malformed or out of scope.
        */
      def decode(b: Array[Byte]): Either[String, (Int, Int, Array[Byte])] = {
        if (b.length < 8 || !java.util.Arrays.equals(b, 0, 8, PngSig, 0, 8))
          return Left("bad_signature")
        var i = 8
        var w = 0
        var h = 0
        var seenIhdr = false
        var done = false
        val idat = new java.io.ByteArrayOutputStream
        while (!done) {
          if (i + 8 > b.length) return Left("truncated")
          val len = be4(b, i)
          if (len < 0 || i + 12 + len > b.length) return Left("truncated")
          val tag = new String(b, i + 4, 4, "US-ASCII")
          val c = new java.util.zip.CRC32
          c.update(b, i + 4, 4 + len)
          if (c.getValue.toInt != be4(b, i + 8 + len)) return Left("bad_crc")
          tag match {
            case "IHDR" =>
              if (len != 13) return Left("bad_ihdr")
              w = be4(b, i + 8); h = be4(b, i + 12)
              if (b(i + 16) != 8 || b(i + 17) != 2 || b(i + 20) != 0)
                return Left("unsupported")
              if (w <= 0 || h <= 0 || w.toLong * h > (1L << 24))
                return Left("bad_dims")
              seenIhdr = true
            case "IDAT" => idat.write(b, i + 8, len)
            case "IEND" => done = true
            case _      => () // ancillary chunk: CRC checked, content skipped
          }
          i += 12 + len
        }
        if (!seenIhdr) return Left("no_ihdr")
        val stride = w * 3
        val raw = new Array[Byte](h * (1 + stride))
        val inf = new java.util.zip.Inflater()
        inf.setInput(idat.toByteArray)
        var off = 0
        try {
          while (off < raw.length && !inf.finished()) {
            val n = inf.inflate(raw, off, raw.length - off)
            if (n == 0 && inf.needsInput()) return Left("idat_short")
            off += n
          }
        } catch {
          case _: java.util.zip.DataFormatException => return Left("bad_deflate")
        } finally inf.end()
        if (off < raw.length) return Left("idat_short")
        val out = new Array[Byte](h * stride)
        var y = 0
        while (y < h) {
          val ft = raw(y * (1 + stride)) & 0xff
          if (ft > 4) return Left("bad_filter")
          val ro = y * (1 + stride) + 1
          val oo = y * stride
          var x = 0
          while (x < stride) {
            val cur = raw(ro + x) & 0xff
            val a = if (x >= 3) out(oo + x - 3) & 0xff else 0
            val up = if (y > 0) out(oo - stride + x) & 0xff else 0
            val ul = if (x >= 3 && y > 0) out(oo - stride + x - 3) & 0xff else 0
            val v = ft match {
              case 0 => cur
              case 1 => cur + a
              case 2 => cur + up
              case 3 => cur + (a + up) / 2
              case _ => // Paeth
                val p = a + up - ul
                val pa = math.abs(p - a)
                val pb = math.abs(p - up)
                val pc = math.abs(p - ul)
                cur + (if (pa <= pb && pa <= pc) a else if (pb <= pc) up else ul)
            }
            out(oo + x) = (v & 0xff).toByte
            x += 1
          }
          y += 1
        }
        Right((w, h, out))
      }
    }

    def decode(bytes: Array[Byte]): (String, Int, Int, Int) =
      pngDims(bytes).map { case (w, h) => ("png", w, h, 1) }
        .orElse(jpegDims(bytes).map { case (w, h) => ("jpeg", w, h, 1) })
        .orElse(gifDims(bytes).map { case (w, h) => ("gif", w, h, 1) })
        .orElse(webpDims(bytes).map { case (w, h) => ("webp", w, h, 1) })
        .getOrElse {
          // deterministic STUB for non-image payloads (video stand-in): a
          // real codec goes here — dimensions/frames derived from the bytes
          val n = bytes.length
          ("webm", 64 + (n % 512), 64 + ((n / 7) % 512), 1 + (n % 30))
        }
  }

  /** The embedded test dimensions, derived from doc_id (NOT payload length):
    * the generator writes them into real header bytes, the decoder must get
    * them back out by parsing — the oracle recomputes them from this formula,
    * so any parser bug breaks the hash match.
    */
  private def embW = (lit(100) + col("doc_id") % 1800).cast("int")
  private def embH = (lit(80) + (col("doc_id") * 7) % 1000).cast("int")

  private def be(width: Int)(c: org.apache.spark.sql.Column) =
    unhex(lpad(hex(c), width * 2, "0"))

  /** Little-endian byte constructors for the GIF/RIFF lanes. */
  private def le(width: Int)(c: org.apache.spark.sql.Column) = {
    val bytes = (0 until width).map(i =>
      be(1)(shiftright(c.cast("long"), 8 * i) % 256))
    concat(bytes: _*)
  }

  /** Derive a binary "media" table from documents: six doc_id lanes — a
    * REAL PNG byte prefix (signature + IHDR with doc_id-derived dimensions),
    * a REAL JPEG prefix (SOI + APP0/JFIF + SOF0 — the SOF sits BEHIND a
    * skippable segment so the decoder's marker scan is exercised), a REAL
    * GIF prefix (GIF89a logical screen descriptor, little-endian u16s), a
    * REAL WebP VP8X prefix (RIFF container with an ACCURATE chunk size and
    * 24-bit little-endian canvas dims), and two lanes of raw UTF-8 text
    * bytes (the non-image fallback path); plus the passthrough metadata a
    * real pipeline would carry.
    */
  def mediaTable(spark: SparkSession, dir: String): DataFrame = {
    val text = encode(col("text"), "UTF-8")
    val png = concat(
      unhex(lit("89504E470D0A1A0A0000000D49484452")), // sig + len(13) + IHDR
      be(4)(embW), be(4)(embH),
      unhex(lit("080600000000000000")), // depth 8, RGBA, std, + CRC slot
      text)
    val jpeg = concat(
      unhex(lit("FFD8FFE000104A46494600010100000100010000FFC0001108")),
      be(2)(embH), be(2)(embW), // SOF0 stores height first
      unhex(lit("03011100021101031101")), // 3 components
      text)
    val gif = concat(
      unhex(lit("474946383961")), // "GIF89a"
      le(2)(embW), le(2)(embH),
      unhex(lit("F70000")), // packed GCT descriptor, bg index, aspect
      text)
    val webp = concat(
      unhex(lit("52494646")), // "RIFF"
      le(4)(lit(22) + length(text)), // riff size: WEBP + VP8X chunk + text
      unhex(lit("5745425056503858")), // "WEBP" "VP8X"
      unhex(lit("0A00000010000000")), // chunk len 10, alpha flag, reserved
      le(3)(embW - 1), le(3)(embH - 1),
      text)
    Tables.docs(spark, dir)
      .select(col("doc_id"),
        when(col("doc_id") % 6 === 0, png)
          .when(col("doc_id") % 6 === 1, jpeg)
          .when(col("doc_id") % 6 === 3, gif)
          .when(col("doc_id") % 6 === 4, webp)
          .otherwise(text).as("payload"),
        col("source"), col("lang"))
  }

  /** Metadata-only pass: pure column derivations over the binary payload —
    * no decode, scan stays pruned to (doc_id, payload).
    */
  def mediaMetaSql(spark: SparkSession, dir: String): DataFrame =
    mediaTable(spark, dir).select(
      col("doc_id"),
      length(col("payload")).as("n_bytes"),
      substring(hex(col("payload")), 1, 8).as("magic_hex")
    )

  /** Decode / feature-extract stage: batched mapPartitions over the binary
    * column, one decoder per partition, typed `Dataset[MediaMeta]` out.
    */
  def decodeMeta(spark: SparkSession, dir: String): Dataset[MediaMeta] = {
    import spark.implicits._
    mediaTable(spark, dir)
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // decoder/session init would happen HERE, once per partition
        it.map { case (id, bytes) =>
          val (fmt, w, h, frames) = MediaDecoder.decode(bytes)
          // fake feature vector norm: deterministic from bytes
          val norm = math.sqrt(bytes.iterator.map(b => (b & 0xff).toDouble).sum)
          MediaMeta(id, bytes.length.toLong, fmt, w, h, frames,
            math.round(norm * 1e6) / 1e6)
        }
      }
  }

  /** Letterbox specs for model-input batching — the reference's ONNX
    * preprocessing math (scale_wh: r = min(W/w, H/h), resize to
    * (round(w*r), round(h*r)), pad the rest with 144/255 —
    * layout/model.rs:334-400) as a declarative column op over the decoded
    * media meta (REAL header-parsed dimensions for the png/jpeg rows). The
    * raster resize itself belongs to the pixel-decode stage a real codec
    * would provide (none in this container); this op emits the
    * exact spec a vision-model batcher needs, including the letterbox
    * margins used to project detections back to image space. Math runs in
    * f64 (the analytics side; the reference's f32 rounds to the same
    * integers at these magnitudes).
    */
  def letterboxSpecs(spark: SparkSession, dir: String,
      targetW: Int = 1024, targetH: Int = 1024): DataFrame = {
    val scale = least(lit(targetW.toDouble) / col("width"),
      lit(targetH.toDouble) / col("height"))
    decodeMeta(spark, dir).toDF()
      .select(col("doc_id"), col("width"), col("height"))
      .withColumn("new_w", round(col("width") * scale).cast("int"))
      .withColumn("new_h", round(col("height") * scale).cast("int"))
      .select(col("doc_id"), col("width"), col("height"),
        round(scale, 6).as("scale"), col("new_w"), col("new_h"),
        (lit(targetW) - col("new_w")).as("pad_x"),
        (lit(targetH) - col("new_h")).as("pad_y"),
        round(lit(144.0 / 255.0), 6).as("pad_fill"))
  }

  /** Frame-sampling shape: explode a deterministic frame index per media row
    * (every 10th frame), the partition-preserving fan-out a video pipeline
    * needs (no shuffle — explode is a generator, stays in the same stage).
    */
  def sampleFrames(spark: SparkSession, dir: String): DataFrame = {
    val meta = decodeMeta(spark, dir).toDF()
    meta.select(col("doc_id"), col("n_frames"),
        explode(sequence(lit(0), col("n_frames") - 1, lit(10))).as("frame_idx"))
      .withColumn("frame_key", concat_ws("#", col("doc_id"), col("frame_idx")))
  }

  /** Typed metadata emitted by the audio header stage. */
  final case class AudioMeta(
      doc_id: Long,
      n_bytes: Long,
      channels: Int,
      sample_rate: Int,
      bits: Int,
      n_samples: Long,
      duration_ms: Long
  )

  /** The embedded audio parameters, derived from doc_id: the generator
    * writes them into a REAL RIFF/WAVE header, `MediaDecoder.wavMeta` must
    * parse them back out — the oracle recomputes them from this formula, so
    * any parser bug breaks the hash match (the qm2 differential discipline).
    */
  private def audioCh = (lit(1) + col("doc_id") % 2).cast("int")
  private def audioRate = (lit(8000) * (lit(1) + col("doc_id") % 5)).cast("int")

  /** Derive a binary "audio" table from documents: every row a COMPLETE
    * valid 16-bit PCM WAV file — "RIFF" size "WAVE", a "LIST" filler chunk
    * on odd doc_ids (so the parser's chunk scan is exercised, not just the
    * happy path), the "fmt " chunk with doc_id-derived channels/rate, and a
    * "data" chunk whose payload is the document's UTF-8 bytes (its length
    * is the ragged data size a real recorder produces).
    */
  def audioTable(spark: SparkSession, dir: String): DataFrame = {
    val text = encode(col("text"), "UTF-8")
    val align = audioCh * 2 // 16-bit PCM
    val filler = concat(
      unhex(lit("4C495354")), le(4)(lit(5)), // "LIST", ODD len 5
      unhex(lit("494E464F6700"))) // 5 content bytes + the word-align pad
    val fmt = concat(
      unhex(lit("666D7420")), le(4)(lit(16)), // "fmt ", len 16
      le(2)(lit(1)), le(2)(audioCh), le(4)(audioRate),
      le(4)(audioRate * align), le(2)(align), le(2)(lit(16)))
    val data = concat(unhex(lit("64617461")), le(4)(length(text)), text)
    val body = when(col("doc_id") % 2 === 1, concat(filler, fmt, data))
      .otherwise(concat(fmt, data))
    Tables.docs(spark, dir)
      .select(col("doc_id"),
        concat(unhex(lit("52494646")), le(4)(length(body) + 4),
          unhex(lit("57415645")), body).as("payload"),
        col("source"), col("lang"))
  }

  /** qm5: audio metadata decode — batched mapPartitions over the WAV binary
    * column, one decoder per partition (the decodeMeta batch shape), typed
    * `Dataset[AudioMeta]` out. duration_ms is integer floor math so both
    * engines agree exactly.
    */
  def audioMeta(spark: SparkSession, dir: String): Dataset[AudioMeta] = {
    import spark.implicits._
    audioTable(spark, dir)
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val (ch, rate, bits, n) = MediaDecoder.wavMeta(bytes)
            .getOrElse((0, 1, 0, 0L)) // malformed: zeroed row, rate 1 guards /0
          AudioMeta(id, bytes.length.toLong, ch, rate, bits, n,
            n * 1000L / rate)
        }
      }
  }

  /** qm10 sample contract — every PCM sample of every generated WAV is a
    * CLOSED FORM in (doc_id, i), so the DuckDB oracle recomputes the frame
    * features from arithmetic alone, with no parser on its side (the qm7
    * pixel discipline, audio leg): s(id, i) = (137*id + 4099*i) mod 65536
    * - 32768, n(id) = 256 + id mod 257 samples.
    */
  private[ops] def pcmN(id: Long): Int = 256 + (id % 257).toInt
  private[ops] def pcmS(id: Long, i: Int): Int =
    ((137 * id + 4099 * i) % 65536).toInt - 32768

  /** Complete valid 16-bit PCM WAVs, one per document, samples from the
    * closed form above — mono, 8 kHz, a "LIST" filler chunk on odd doc_ids
    * so qm10 exercises the parser's chunk scan, not just the happy path.
    * Generation is a typed mapPartitions (byte work, like pixelPngTable).
    */
  def pcmWavTable(spark: SparkSession, dir: String): Dataset[(Long, Array[Byte])] = {
    import spark.implicits._
    Tables.docs(spark, dir)
      .select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val n = pcmN(id)
          val data = new Array[Byte](2 * n)
          var i = 0
          while (i < n) {
            val v = pcmS(id, i)
            data(2 * i) = (v & 0xff).toByte
            data(2 * i + 1) = ((v >> 8) & 0xff).toByte
            i += 1
          }
          val bb = new java.io.ByteArrayOutputStream()
          def cc(s: String): Unit = bb.write(s.getBytes("US-ASCII"))
          def le4o(v: Int): Unit = {
            bb.write(v & 0xff); bb.write((v >> 8) & 0xff)
            bb.write((v >> 16) & 0xff); bb.write((v >> 24) & 0xff)
          }
          def le2o(v: Int): Unit = { bb.write(v & 0xff); bb.write((v >> 8) & 0xff) }
          cc("WAVE")
          if (id % 2 == 1) { // ODD-length filler chunk + word-align pad
            cc("LIST"); le4o(5); cc("INFOg"); bb.write(0)
          }
          cc("fmt "); le4o(16)
          le2o(1); le2o(1); le4o(8000); le4o(16000); le2o(2); le2o(16)
          cc("data"); le4o(2 * n); bb.write(data)
          val body = bb.toByteArray // "WAVE" + chunks = the RIFF payload
          val out = new java.io.ByteArrayOutputStream()
          out.write("RIFF".getBytes("US-ASCII"))
          val len = body.length
          out.write(len & 0xff); out.write((len >> 8) & 0xff)
          out.write((len >> 16) & 0xff); out.write((len >> 24) & 0xff)
          out.write(body)
          (id, out.toByteArray)
        }
      }
  }

  /** qm10: audio frame-energy fingerprint over REAL decoded PCM — the
    * audio analogue of qm8 (the Shazam-family shape reduced to its
    * deterministic core): the sample stream bins into 9 frames by integer
    * floor division, per-frame ENERGY is the exact int64 sum of s², the
    * 8-bit fingerprint compares adjacent frame mean energies by integer
    * cross-multiplication (bit f = e(f+1)·c(f) > e(f)·c(f+1) — no
    * division, no float), and zero_crossings counts sign transitions (the
    * classic voiced/unvoiced feature). The WAV is parsed by the REAL
    * RIFF chunk scan + 16-bit LE PCM decode (wavPcm16), while the DuckDB
    * oracle recomputes everything from the sample closed form with no
    * parser — the hash gate covers the whole write→scan→decode→bin path.
    * All integer math: s² ≤ 2³⁰, frames are corpus-bounded per doc, so
    * energies stay far inside int64 at fixture sizes (a production 10⁹-
    * sample file would carry energy in DECIMAL or per-frame f64).
    */
  def audioFingerprint(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    pcmWavTable(spark, dir).mapPartitions { it =>
      it.map { case (id, bytes) =>
        MediaDecoder.wavPcm16(bytes) match {
          case Some((_, _, s)) if s.nonEmpty =>
            val n = s.length
            val e = new Array[Long](9); val c = new Array[Long](9)
            var zc = 0L; var tot = 0L
            var i = 0
            while (i < n) {
              val v = s(i).toLong
              val f = i * 9 / n
              e(f) += v * v; c(f) += 1; tot += v * v
              if (i > 0 && (s(i) < 0) != (s(i - 1) < 0)) zc += 1
              i += 1
            }
            var fp = 0L
            var f = 0
            while (f < 8) {
              if (e(f + 1) * c(f) > e(f) * c(f + 1)) fp |= 1L << f
              f += 1
            }
            (id, n.toLong, zc, tot, fp, "")
          case _ => (id, -1L, -1L, -1L, -1L, "decode_error")
        }
      }
    }.toDF("doc_id", "n_samples", "zero_crossings", "energy", "fp", "error")
  }

  /** Typed metadata emitted by the video header stage. */
  final case class VideoMeta(
      doc_id: Long,
      n_bytes: Long,
      brand: String,
      timescale: Long,
      duration: Long,
      width: Int,
      height: Int,
      duration_ms: Long
  )

  /** The embedded video parameters, derived from doc_id (the qm2/qm5
    * differential discipline: generator writes them into real box bytes,
    * the parser must get them back out, the oracle recomputes the formula).
    */
  private def vidTs = (lit(1000) * (lit(1) + col("doc_id") % 3)).cast("long")
  private def vidW = (lit(320) + (col("doc_id") % 16) * 16).cast("int")
  private def vidH = (lit(240) + (col("doc_id") % 9) * 16).cast("int")

  private val UnityMatrixHex =
    "000100000000000000000000000000000001000000000000000000000000000040000000"

  /** Derive a binary "video" table from documents: every row a structurally
    * valid ISO-BMFF (MP4) prefix — `ftyp` (brand isom), a `moov` container
    * holding a version-0 `mvhd` (doc_id-derived timescale, text-derived
    * duration) and a `trak`/`tkhd` with 16.16 fixed-point track dimensions,
    * then an `mdat` box carrying the document's UTF-8 bytes with an ACCURATE
    * box size (so the top-level box walk is exercised end to end).
    */
  def videoTable(spark: SparkSession, dir: String): DataFrame = {
    val text = encode(col("text"), "UTF-8")
    val dur = length(text).cast("long") * 40
    val mvhd = concat(
      unhex(lit("0000006C6D766864" + "00" * 12)),
      be(4)(vidTs), be(4)(dur),
      unhex(lit("000100000100" + "00" * 10 + UnityMatrixHex + "00" * 24 +
        "00000002")))
    val tkhd = concat(
      unhex(lit("0000005C746B6864" + "00000007" + "00" * 8 + "00000001" +
        "00" * 4)),
      be(4)(dur),
      unhex(lit("00" * 16 + UnityMatrixHex)),
      be(4)(vidW.cast("long") * 65536), be(4)(vidH.cast("long") * 65536))
    val moov = concat(unhex(lit("000000D86D6F6F76")), mvhd,
      unhex(lit("000000647472616B")), tkhd)
    val mdat = concat(be(4)(length(text) + 8), unhex(lit("6D646174")), text)
    Tables.docs(spark, dir)
      .select(col("doc_id"),
        concat(unhex(lit("000000106674797069736F6D00000200")), moov, mdat)
          .as("payload"),
        col("source"), col("lang"))
  }

  /** qm6: video metadata decode — the decodeMeta/audioMeta batch shape over
    * the MP4 binary column. duration_ms = duration * 1000 / timescale in
    * integer floor math so both engines agree exactly.
    */
  def videoMeta(spark: SparkSession, dir: String): Dataset[VideoMeta] = {
    import spark.implicits._
    videoTable(spark, dir)
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val (brand, ts, dur, w, h) = MediaDecoder.mp4Meta(bytes)
            .getOrElse(("", 1L, 0L, 0, 0)) // malformed: ts 1 guards /0
          VideoMeta(id, bytes.length.toLong, brand, ts, dur, w, h,
            dur * 1000L / ts)
        }
      }
  }

  /** qm7 pixel contract — every pixel of every generated image is a CLOSED
    * FORM in (doc_id, x, y), so the DuckDB oracle recomputes the decoded
    * pixel aggregates from arithmetic alone, with no codec on its side: the
    * hash gate then covers the ENTIRE encode -> deflate -> inflate ->
    * unfilter -> aggregate path (any bit error anywhere breaks the match).
    */
  private[ops] def pxW(id: Long): Int = 8 + (id % 17).toInt
  private[ops] def pxH(id: Long): Int = 8 + ((id * 3) % 13).toInt
  private[ops] def pxR(id: Long, x: Int, y: Int): Int =
    ((7 * id + 13 * x + 31 * y) % 256).toInt
  private[ops] def pxG(id: Long, x: Int, y: Int): Int =
    ((11 * id + 17 * x + 5 * y) % 256).toInt
  private[ops] def pxB(id: Long, x: Int, y: Int): Int =
    ((3 * id + 29 * x + 23 * y) % 256).toInt

  /** Complete, valid RGB8 PNGs (signature, CRC'd chunks, real zlib IDAT),
    * one per document, pixels from the closed form above. Generation is a
    * typed mapPartitions (the decodeMeta batch shape) because deflate is
    * imperative byte work no Column expression should attempt.
    */
  def pixelPngTable(spark: SparkSession, dir: String): Dataset[(Long, Array[Byte])] = {
    import spark.implicits._
    Tables.docs(spark, dir)
      .select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val w = pxW(id); val h = pxH(id)
          val rgb = new Array[Byte](w * h * 3)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val o = (y * w + x) * 3
              rgb(o) = pxR(id, x, y).toByte
              rgb(o + 1) = pxG(id, x, y).toByte
              rgb(o + 2) = pxB(id, x, y).toByte
              x += 1
            }
            y += 1
          }
          (id, MediaDecoder.PngCodec.encode(w, h, rgb))
        }
      }
  }

  /** qm7: REAL pixel decode under the hash gate — inflate + unfilter every
    * generated PNG and aggregate the pixels in exact integers: channel sums
    * and a POSITIONAL fingerprint sum((r<<16|g<<8|b) * (pos+1)) (bounded by
    * n_px * 2^24 * n_px << 2^63 at these sizes, so plain int64). A decode
    * failure surfaces as an error row the oracle never produces — the hash
    * mismatch IS the alarm. This retires the round-4 "pixel decode remains
    * a stub" gap: the batch shape is unchanged, the codec is real.
    */
  /** qm8: perceptual image fingerprint (dHash — the difference hash
    * multimodal near-dup dedup keys on; a re-encoded/slightly-edited image
    * keeps most bits, so image near-dup is 64-bit Hamming distance):
    * decode the REAL PNG (qm7's codec), block-partition to a 9-column x
    * 8-row grayscale grid with integer floor binning (pixel x maps to
    * column x*9/w, y to row y*8/h — arbitrary sizes partition exactly,
    * a width-8 image just leaves its 9th column empty), then each of the
    * 64 bits compares horizontally adjacent block MEANS by exact integer
    * cross-multiplication (s_next * c_this > s_this * c_next — no
    * division, no float), gray = r+g+b (3x-scaled gray, monotone for
    * comparisons). The DuckDB oracle recomputes every bit from the pixel
    * closed form with NO codec, so the hash gate again covers the whole
    * encode->inflate->unfilter->bin->compare path. The 64-bit key ships
    * as two uint32 halves (fp_hi = bits 32..63, fp_lo = bits 0..31) to
    * stay in portable positive int64; near-dup PAIRS over the key are
    * qd17's Manku 64-bit Hamming blocking, unchanged.
    */
  def imageDhash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    pixelPngTable(spark, dir).mapPartitions { it =>
      it.map { case (id, bytes) =>
        MediaDecoder.PngCodec.decode(bytes) match {
          case Right((w, h, px)) =>
            val (hi, lo) = dhashHalves(w, h, px)
            (id, w, h, hi, lo, "")
          case Left(err) => (id, 0, 0, 0L, 0L, err)
        }
      }
    }.toDF("doc_id", "width", "height", "fp_hi", "fp_lo", "error")
  }

  /** The qm8 dHash core over decoded RGB8 pixels: 9x8 integer-floor grid,
    * adjacent block-mean compares by exact integer cross-multiplication,
    * returned as (hi = bits 32..63, lo = bits 0..31), both inside uint32.
    */
  private[ops] def dhashHalves(w: Int, h: Int, px: Array[Byte]): (Long, Long) = {
    val sums = Array.ofDim[Long](8, 9)
    val cnts = Array.ofDim[Long](8, 9)
    var y = 0
    while (y < h) {
      val ry = y * 8 / h
      var x = 0
      while (x < w) {
        val cx = x * 9 / w
        val o = (y * w + x) * 3
        val gray = (px(o) & 0xff) + (px(o + 1) & 0xff) + (px(o + 2) & 0xff)
        sums(ry)(cx) += gray
        cnts(ry)(cx) += 1
        x += 1
      }
      y += 1
    }
    var hi = 0L; var lo = 0L
    var i = 0
    while (i < 64) {
      val row = i / 8; val c = i % 8
      val bit = sums(row)(c + 1) * cnts(row)(c) >
        sums(row)(c) * cnts(row)(c + 1)
      if (bit) {
        if (i < 32) lo |= 1L << i else hi |= 1L << (i - 32)
      }
      i += 1
    }
    (hi, lo)
  }

  /** Two complete PNGs per document for qm9: variant 0 is qm7's closed-form
    * image; variant 1 is the "edited re-export" — the R channel brightened
    * by +8 with saturation clamp at 255. The clamp is the point: an
    * UNCLAMPED uniform shift cancels exactly in the cross-multiplied mean
    * compare (every dHash bit provably unchanged), so saturation is what
    * makes the pair a NEAR duplicate (a few bits flip where bright pixels
    * hit the ceiling) instead of an identical key. img_id = doc_id*2 + v.
    */
  def variantPngTable(spark: SparkSession, dir: String): Dataset[(Long, Array[Byte])] = {
    import spark.implicits._
    // parallelize the id scan feeding the per-image encode map work
    // (ScanLayout: no-op whenever the scan already has >= cores splits)
    ScanLayout.ensureParallel(
      Tables.docs(spark, dir).select(col("doc_id")))
      .as[Long]
      .flatMap { id =>
        val w = pxW(id); val h = pxH(id)
        Seq(0, 1).map { v =>
          val rgb = new Array[Byte](w * h * 3)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val o = (y * w + x) * 3
              val r = pxR(id, x, y)
              rgb(o) = (if (v == 1) math.min(r + 8, 255) else r).toByte
              rgb(o + 1) = pxG(id, x, y).toByte
              rgb(o + 2) = pxB(id, x, y).toByte
              x += 1
            }
            y += 1
          }
          (id * 2 + v, MediaDecoder.PngCodec.encode(w, h, rgb))
        }
      }
  }

  /** qm9: image NEAR-DUP pairs over the dHash keys — the multimodal dedup
    * join itself, in qd17's lossless Manku shape. Each image's 64-bit key
    * (qm8, two uint32 halves through the REAL codec) explodes into all
    * C(10,2) two-block combination keys over a 10-block grid aligned on
    * the uint32 split; a pair within Hamming 8 differs in at most 8 blocks,
    * so at least 2 of 10 agree and some combination key collides — the
    * bucket join is provably lossless at the threshold, and the DuckDB
    * oracle PROVES it per run by brute-forcing all pairs at Hamming <= 8
    * from closed-form fingerprints (no codec, no blocking). Hamming is
    * computed as bit_count(xor) per half, so no signed 64-bit packing is
    * ever needed on either engine. Fixture guarantee: every document's
    * (original, re-export) pair lands within the threshold, so the result
    * is corpus-sized, not empty. Scale shape: one explode (x45) + one
    * bucket shuffle; like qd17, buckets are unbounded by construction of
    * the key space (2^13 per combination) — a pathological corpus of
    * near-identical images would need qd7's capBuckets guard.
    */
  def imageNearDupPairs(spark: SparkSession, dir: String, maxHamming: Int = 8): DataFrame = {
    import spark.implicits._
    val nBlocks = maxHamming + 2
    val bounds = (0 to nBlocks).map(k => k * 64 / nBlocks)
    require(bounds.contains(32),
      s"block grid must align on the uint32 split, got $bounds")
    val fps = variantPngTable(spark, dir).mapPartitions { it =>
      it.map { case (img, bytes) =>
        MediaDecoder.PngCodec.decode(bytes) match {
          case Right((w, h, px)) =>
            val (hi, lo) = dhashHalves(w, h, px)
            (img, hi, lo)
          // a decode failure poisons the key space the oracle never
          // produces — the hash mismatch is the alarm, as in qm7/qm8
          case Left(_) => (img, -1L, -1L)
        }
      }
    }.toDF("img_id", "fp_hi", "fp_lo")
      // materialized once per query (r6; eager per-invocation local checkpoint): both self-join sides read the fingerprint table —
      // each re-ran the PNG encode+decode+dHash scan before (guide §2.4);
      // (img_id, 2 longs) is exactly the guide-§8 lightweight proxy
      .localCheckpoint(true)
    def blockVal(k: Int): Column = {
      val off = bounds(k)
      val len = bounds(k + 1) - off
      if (off >= 32)
        shiftrightunsigned(col("fp_hi"), off - 32).bitwiseAND(lit((1L << len) - 1L))
      else
        shiftrightunsigned(col("fp_lo"), off).bitwiseAND(lit((1L << len) - 1L))
    }
    // key = (blockPairIndex, bits_i, bits_j) packed into one long (block
    // values < 2^7 at 10 blocks, pair index < 100 < 2^8) — the qd17 layout
    val keys = for (i <- 0 until nBlocks; j <- i + 1 until nBlocks) yield
      lit((i * nBlocks + j).toLong * (1L << 40)) +
        blockVal(i) * lit(1L << 20) + blockVal(j)
    val keyed = fps.select(col("img_id"), col("fp_hi"), col("fp_lo"),
      explode(array(keys: _*)).as("bkey"))
    keyed.as("a").join(keyed.as("b"),
        col("a.bkey") === col("b.bkey") && col("a.img_id") < col("b.img_id"))
      .select(col("a.img_id").as("img_a"), col("b.img_id").as("img_b"),
        (bit_count(col("a.fp_hi").bitwiseXOR(col("b.fp_hi"))) +
          bit_count(col("a.fp_lo").bitwiseXOR(col("b.fp_lo"))))
          .cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct() // a pair can agree on several block combinations
      .select(col("img_a"), col("img_b"),
        expr("img_a DIV 2").as("doc_a"), expr("img_b DIV 2").as("doc_b"),
        col("hamming"))
  }

  def pngPixelStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    pixelPngTable(spark, dir).mapPartitions { it =>
      it.map { case (id, bytes) =>
        MediaDecoder.PngCodec.decode(bytes) match {
          case Right((w, h, px)) =>
            var sr = 0L; var sg = 0L; var sb = 0L; var fp = 0L
            var p = 0
            val n = w * h
            while (p < n) {
              val r = px(p * 3) & 0xff
              val g = px(p * 3 + 1) & 0xff
              val b = px(p * 3 + 2) & 0xff
              sr += r; sg += g; sb += b
              fp += ((r.toLong << 16) | (g << 8) | b) * (p + 1)
              p += 1
            }
            (id, w, h, n.toLong, sr, sg, sb, fp, "")
          case Left(err) => (id, 0, 0, 0L, 0L, 0L, 0L, 0L, err)
        }
      }
    }.toDF("doc_id", "width", "height", "n_px", "sum_r", "sum_g", "sum_b",
      "pix_fp", "error")
  }

  /** qm11: video SCENE-CUT detection over perceptual frame fingerprints —
    * the shot-boundary pass a video-training pipeline runs before keyframe
    * selection (sample frames, fingerprint each, and a cut is a consecutive
    * pair whose dHash Hamming distance clears a threshold; PySceneDetect's
    * content detector is this shape with a histogram instead of a dHash).
    *
    * Each document is a synthetic clip: 3 + doc_id % 4 frames at the doc's
    * qm7 dimensions, frame f's pixels drawn from the qm7 closed form at
    * pid = doc_id * 1009 + (f + doc_id % 2) / 2 — consecutive frames share
    * content in runs of two (the same-shot case, distance 0) and the run
    * phase varies by doc parity, so both the cut and the no-cut branch are
    * exercised on every doc. Every frame round-trips the REAL PNG codec
    * (encode -> inflate -> unfilter -> dHash, the qm7/qm8 discipline; a
    * decode failure poisons the fingerprint and the oracle hash catches
    * it), then consecutive frames join per (doc_id, frame) and the
    * distance is per-half bit_count(xor) in plain positive int64.
    *
    * Scale shape: frame generation/fingerprinting is MAP-ONLY typed
    * mapPartitions (the frame fan-out stays in its stage); the
    * consecutive-pair join is one hash shuffle of the fingerprint table
    * against itself keyed (doc_id, frame_idx) — both sides identically
    * partitioned (exchange reuse), groups bounded by the per-doc frame
    * count. The DuckDB oracle recomputes every dHash bit from the pixel
    * closed form with NO codec.
    *
    * Output: one row per consecutive pair, (doc_id, frame_idx of the later
    * frame, dist, is_cut at >= 16 bits).
    */
  def sceneCuts(spark: SparkSession, dir: String, cutBits: Int = 16): DataFrame = {
    import spark.implicits._
    // parallelize the id scan feeding the per-frame encode+decode map
    val frames = ScanLayout.ensureParallel(
      Tables.docs(spark, dir).select(col("doc_id")))
      .as[Long]
      .mapPartitions { it =>
        it.flatMap { id =>
          val w = pxW(id); val h = pxH(id)
          val nf = 3 + (id % 4).toInt
          (0 until nf).iterator.map { f =>
            val pid = id * 1009L + (f + (id % 2).toInt) / 2
            val rgb = new Array[Byte](w * h * 3)
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val o = (y * w + x) * 3
                rgb(o) = pxR(pid, x, y).toByte
                rgb(o + 1) = pxG(pid, x, y).toByte
                rgb(o + 2) = pxB(pid, x, y).toByte
                x += 1
              }
              y += 1
            }
            val png = MediaDecoder.PngCodec.encode(w, h, rgb)
            MediaDecoder.PngCodec.decode(png) match {
              case Right((dw, dh, px)) =>
                val (hi, lo) = dhashHalves(dw, dh, px)
                (id, f, hi, lo)
              case Left(_) => (id, f, -1L, -1L) // poison: oracle hash alarms
            }
          }
        }
      }.toDF("doc_id", "frame_idx", "fp_hi", "fp_lo")
      // materialized once per query (r6; eager per-invocation local checkpoint): the current- and previous-frame sides both read the
      // fingerprint table — each re-ran the full PNG encode+decode+dHash
      // frame scan before (the qm9 rationale)
      .localCheckpoint(true)
    val cur = frames.select(col("doc_id"), col("frame_idx"),
      col("fp_hi").as("hi1"), col("fp_lo").as("lo1"))
    val prev = frames.select(col("doc_id"),
      (col("frame_idx") + 1).as("frame_idx"),
      col("fp_hi").as("hi0"), col("fp_lo").as("lo0"))
    cur.join(prev, Seq("doc_id", "frame_idx"))
      .select(col("doc_id"), col("frame_idx"),
        (bit_count(col("hi1").bitwiseXOR(col("hi0"))) +
          bit_count(col("lo1").bitwiseXOR(col("lo0"))))
          .cast("long").as("dist"))
      .withColumn("is_cut", col("dist") >= cutBits)
  }
}
