package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** graft_jpeg_dims(payload): `[width, height]` of a JPEG payload from its
  * SOF (start-of-frame) header — NULL for non-JPEG bytes, truncated
  * headers, or a stream with no SOF before SOS/EOI. No codec: JPEG frame
  * dimensions live in the SOF segment, which floats at a VARIABLE offset
  * behind APPn/DQT/DHT/COM segments, so extraction is a bounded MARKER
  * WALK — each segment declares its own length, the walk jumps segment to
  * segment (O(#segments), never a byte scan of entropy-coded data, never
  * a decode).
  *
  * ISO/IEC 10918-1 framing handled: the mandatory FFD8 SOI magic; fill
  * bytes (padding FFs before a marker code); standalone markers with no
  * length field (TEM, RST0-7, a doubled SOI); every SOF variant C0-CF
  * except the non-frame C4 (DHT), C8 (JPG extension), CC (DAC); big-endian
  * segment lengths that INCLUDE their own two bytes (a declared length
  * < 2 is malformed → NULL — progress is always forward, the walk cannot
  * loop). SOS (FFDA) or EOI (FFD9) before any SOF → NULL: dimensions
  * must precede entropy-coded data.
  *
  * `doGenCode` calls straight into [[compute]], so the projection stays
  * inside whole-stage codegen (the [[ShingleHashes]] convention).
  * Bit-parity with the pure-Column `aggregate`-fold fallback in
  * [[graft.ops.Multimodal.jpegDimsFallback]] is pinned in FunctionsSpec. */
case class JpegDims(child: Expression) extends Expression {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = true
  override lazy val deterministic: Boolean = true
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "graft_jpeg_dims expects a binary input")

  def compute(bytes: Array[Byte]): ArrayData = {
    if (bytes == null) return null
    val n = bytes.length
    def u(i: Int): Int = bytes(i) & 0xff
    def be16(i: Int): Long = ((u(i) << 8) | u(i + 1)).toLong
    if (n < 4 || u(0) != 0xff || u(1) != 0xd8) return null
    var pos = 2
    while (pos + 3 < n) {
      if (u(pos) != 0xff) return null // lost framing: not at a marker
      var code = u(pos + 1)
      // fill bytes: any number of FFs may pad before the marker code
      while (code == 0xff && pos + 2 < n) { pos += 1; code = u(pos + 1) }
      if (code == 0xff) return null // trailing fill, no code byte
      if (code == 0xd8 || code == 0x01 || (code >= 0xd0 && code <= 0xd7)) {
        pos += 2 // standalone marker: no length field
      } else if (code == 0xd9 || code == 0xda) {
        return null // EOI / SOS before any SOF: no dimensions declared
      } else {
        if (pos + 3 >= n) return null
        val len = be16(pos + 2)
        if (len < 2) return null // malformed: length includes itself
        val isSof = code >= 0xc0 && code <= 0xcf &&
          code != 0xc4 && code != 0xc8 && code != 0xcc
        if (isSof) {
          // segment: len(2) precision(1) height(2) width(2) ...
          if (pos + 8 >= n || len < 7) return null
          val h = be16(pos + 5)
          val w = be16(pos + 7)
          return new GenericArrayData(Array(w, h))
        }
        pos += 2 + len.toInt
      }
    }
    null
  }

  override def eval(input: InternalRow): Any = {
    val b = child.eval(input).asInstanceOf[Array[Byte]]
    if (b == null) null else compute(b)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val ref = ctx.addReferenceObj("kernel", this)
    ev.copy(code = code"""
      ${c.code}
      org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
      if (!${c.isNull}) ${ev.value} = $ref.compute(${c.value});
      boolean ${ev.isNull} = ${ev.value} == null;
    """)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0))
}

/** graft_exif_orientation(payload): the EXIF Orientation tag (1-8) of a
  * JPEG payload, or NULL — the bit a pipeline needs to INTERPRET
  * [[JpegDims]] (orientations 5-8 transpose width and height on
  * display). Three bounded walks composed: the [[JpegDims]] MARKER walk
  * to the APP1 segment bearing the `Exif\0\0` header, then the TIFF
  * structure inside it — the byte-order mark (`II` little / `MM` big
  * endian, BOTH real: phone makers split roughly down the middle), the
  * 42 magic, the IFD0 offset — then one IFD ENTRY scan (12-byte
  * entries: tag, type, count, value) for tag 0x0112 as an inline SHORT,
  * read under the declared byte order. Entry count capped at 512
  * (a real IFD0 has dozens); values outside 1-8 are malformed → NULL.
  * All offsets are validated against the segment, so a truncated or
  * lying EXIF can never read out of bounds. */
case class ExifOrientation(child: Expression) extends Expression {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = true
  override lazy val deterministic: Boolean = true
  override def dataType: DataType = IntegerType
  override def prettyName: String = TilePairs.ExifOrientationName

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "graft_exif_orientation expects a binary input")

  def compute(bytes: Array[Byte]): Any = {
    val n = bytes.length
    def u(i: Int): Int = bytes(i) & 0xff
    def be16(i: Int): Int = (u(i) << 8) | u(i + 1)
    if (n < 4 || u(0) != 0xff || u(1) != 0xd8) return null
    // marker walk (the JpegDims chain) to an APP1 segment with Exif\0\0
    var pos = 2
    while (pos + 3 < n) {
      if (u(pos) != 0xff) return null
      var code = u(pos + 1)
      while (code == 0xff && pos + 2 < n) { pos += 1; code = u(pos + 1) }
      if (code == 0xff) return null
      if (code == 0xd8 || code == 0x01 || (code >= 0xd0 && code <= 0xd7)) {
        pos += 2
      } else if (code == 0xd9 || code == 0xda) {
        return null // entropy data reached without an EXIF APP1
      } else {
        if (pos + 3 >= n) return null
        val len = be16(pos + 2)
        if (len < 2) return null
        val segEnd = pos + 2 + len // one past the segment's last byte
        if (code == 0xe1 && segEnd <= n && len >= 16 &&
          bytes(pos + 4) == 'E' && bytes(pos + 5) == 'x' &&
          bytes(pos + 6) == 'i' && bytes(pos + 7) == 'f' &&
          bytes(pos + 8) == 0 && bytes(pos + 9) == 0) {
          // TIFF header starts after Exif\0\0; all offsets are relative to it
          val t = pos + 10
          if (t + 8 > segEnd) return null
          val little =
            if (bytes(t) == 'I' && bytes(t + 1) == 'I') true
            else if (bytes(t) == 'M' && bytes(t + 1) == 'M') false
            else return null
          def r16(i: Int): Int =
            if (little) u(i) | (u(i + 1) << 8) else be16(i)
          def r32(i: Int): Long =
            if (little)
              u(i).toLong | (u(i + 1).toLong << 8) |
                (u(i + 2).toLong << 16) | (u(i + 3).toLong << 24)
            else
              (u(i).toLong << 24) | (u(i + 1).toLong << 16) |
                (u(i + 2).toLong << 8) | u(i + 3).toLong
          if (r16(t + 2) != 42) return null
          val ifd = t + r32(t + 4)
          if (ifd < t || ifd + 2 > segEnd) return null
          val count = math.min(r16(ifd.toInt), 512)
          var e = 0
          while (e < count) {
            val at = ifd.toInt + 2 + 12 * e
            if (at + 12 > segEnd) return null
            if (r16(at) == 0x0112 && r16(at + 2) == 3 && r32(at + 4) == 1L) {
              val v = r16(at + 8) // inline SHORT, endianness applies
              return if (v >= 1 && v <= 8) Integer.valueOf(v) else null
            }
            e += 1
          }
          return null // APP1/Exif present, no orientation tag
        }
        pos = segEnd
      }
    }
    null
  }

  override def eval(input: InternalRow): Any = {
    val b = child.eval(input).asInstanceOf[Array[Byte]]
    if (b == null) null else compute(b)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val ref = ctx.addReferenceObj("kernel", this)
    ev.copy(code = code"""
      ${c.code}
      Object ${ev.value}_o = null;
      if (!${c.isNull}) ${ev.value}_o = $ref.compute(${c.value});
      boolean ${ev.isNull} = ${ev.value}_o == null;
      int ${ev.value} = ${ev.isNull} ? -1 : ((Integer) ${ev.value}_o).intValue();
    """)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0))
}

/** Shared JPEG APP1 → EXIF/TIFF locator for the EXIF kernels: the same
  * bounded marker walk as [[JpegDims]] to the APP1 segment bearing
  * `Exif\0\0`, then the TIFF header (byte-order mark, 42 magic, IFD0
  * offset) — all offsets validated against the segment so a truncated or
  * lying EXIF can never read out of bounds. */
private[functions] object ExifWalk {
  /** TIFF region: `t` = absolute offset of the TIFF header (all TIFF
    * offsets are relative to it), `segEnd` = one past the APP1 segment's
    * last byte, `little` = byte order, `ifd0` = absolute IFD0 offset. */
  final case class Tiff(t: Int, segEnd: Int, little: Boolean, ifd0: Int)

  def u(bytes: Array[Byte], i: Int): Int = bytes(i) & 0xff

  def r16(bytes: Array[Byte], i: Int, little: Boolean): Int =
    if (little) u(bytes, i) | (u(bytes, i + 1) << 8)
    else (u(bytes, i) << 8) | u(bytes, i + 1)

  def r32(bytes: Array[Byte], i: Int, little: Boolean): Long =
    if (little)
      u(bytes, i).toLong | (u(bytes, i + 1).toLong << 8) |
        (u(bytes, i + 2).toLong << 16) | (u(bytes, i + 3).toLong << 24)
    else
      (u(bytes, i).toLong << 24) | (u(bytes, i + 1).toLong << 16) |
        (u(bytes, i + 2).toLong << 8) | u(bytes, i + 3).toLong

  def locate(bytes: Array[Byte]): Tiff = {
    val n = bytes.length
    def b(i: Int): Int = u(bytes, i)
    def be16(i: Int): Int = (b(i) << 8) | b(i + 1)
    if (n < 4 || b(0) != 0xff || b(1) != 0xd8) return null
    var pos = 2
    while (pos + 3 < n) {
      if (b(pos) != 0xff) return null
      var code = b(pos + 1)
      while (code == 0xff && pos + 2 < n) { pos += 1; code = b(pos + 1) }
      if (code == 0xff) return null
      if (code == 0xd8 || code == 0x01 || (code >= 0xd0 && code <= 0xd7)) {
        pos += 2
      } else if (code == 0xd9 || code == 0xda) {
        return null // entropy data reached without an EXIF APP1
      } else {
        if (pos + 3 >= n) return null
        val len = be16(pos + 2)
        if (len < 2) return null
        val segEnd = pos + 2 + len
        if (code == 0xe1 && segEnd <= n && len >= 16 &&
          bytes(pos + 4) == 'E' && bytes(pos + 5) == 'x' &&
          bytes(pos + 6) == 'i' && bytes(pos + 7) == 'f' &&
          bytes(pos + 8) == 0 && bytes(pos + 9) == 0) {
          val t = pos + 10
          if (t + 8 > segEnd) return null
          val little =
            if (bytes(t) == 'I' && bytes(t + 1) == 'I') true
            else if (bytes(t) == 'M' && bytes(t + 1) == 'M') false
            else return null
          if (r16(bytes, t + 2, little) != 42) return null
          val ifd = t + r32(bytes, t + 4, little)
          if (ifd < t || ifd + 2 > segEnd) return null
          return Tiff(t, segEnd, little, ifd.toInt)
        }
        pos = segEnd
      }
    }
    null
  }

  /** Byte width of one TIFF value of the given type code; 0 for unknown
    * types (the walk must then ignore the entry). */
  def typeSize(typ: Int): Int = typ match {
    case 1 | 2 | 6 | 7 => 1 // BYTE / ASCII / SBYTE / UNDEFINED
    case 3 | 8 => 2 // SHORT / SSHORT
    case 4 | 9 | 11 => 4 // LONG / SLONG / FLOAT
    case 5 | 10 | 12 => 8 // RATIONAL / SRATIONAL / DOUBLE
    case _ => 0
  }

  /** IFD entry cap — a real IFD has dozens of entries; 512 bounds a lying
    * count without truncating any real tag table. */
  val MaxIfdEntries = 512
  /** The IFD0 tag pointing at the GPS Info sub-IFD (EXIF 2.3 §4.6.6). */
  val GpsIfdPointerTag = 0x8825
}

/** Shared shape of the codec-free media-duration kernels: binary in,
  * `[numerator, denominator]` out (duration = num/denom seconds — the
  * integer pair, not the division, so any SQL engine replays the exact
  * arithmetic), NULL for unparseable bytes. Same whole-stage-codegen
  * convention as [[JpegDims]]. */
private[functions] trait MediaDuration extends Expression {
  def child: Expression
  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = true
  override lazy val deterministic: Boolean = true
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  def compute(bytes: Array[Byte]): ArrayData

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects a binary input")

  override def eval(input: InternalRow): Any = {
    val b = child.eval(input).asInstanceOf[Array[Byte]]
    if (b == null) null else compute(b)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val ref = ctx.addReferenceObj("kernel", this)
    ev.copy(code = code"""
      ${c.code}
      org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
      if (!${c.isNull}) ${ev.value} = $ref.compute(${c.value});
      boolean ${ev.isNull} = ${ev.value} == null;
    """)
  }
}

/** graft_riff_duration(payload): `[data_bytes, byte_rate]` of a RIFF/WAVE
  * payload — audio duration without a codec. A CHUNK WALK (the RIFF
  * sibling of [[JpegDims]]' marker walk): each chunk declares a
  * little-endian 32-bit size and pads to EVEN offsets (the classic
  * RIFF gotcha — an odd-sized LIST chunk shifts every later chunk by
  * one byte if the pad is forgotten; the fixture injects exactly that),
  * `fmt ` carries the byte rate at body offset 8, `data` carries the
  * payload size in its own header — so a TRUNCATED capture (header
  * present, audio bytes cut) still yields its declared duration, which
  * is precisely what a crawl pipeline wants to know. NULL for non-WAVE
  * bytes, a zero byte rate, or a walk that runs off the payload. */
case class RiffDuration(child: Expression) extends MediaDuration {
  override def prettyName: String = TilePairs.RiffDurationName

  def compute(bytes: Array[Byte]): ArrayData = {
    val n = bytes.length
    def u(i: Int): Long = (bytes(i) & 0xff).toLong
    def le32(i: Int): Long = u(i) | (u(i + 1) << 8) | (u(i + 2) << 16) | (u(i + 3) << 24)
    def tag(i: Int, s: String): Boolean =
      (0 until 4).forall(k => bytes(i + k) == s.charAt(k).toByte)
    if (n < 12 || !tag(0, "RIFF") || !tag(8, "WAVE")) return null
    // pos stays Long: a chunk may declare up to 4 GiB−1 (unsigned 32-bit),
    // legal for WAV data chunks — Int arithmetic would step BACKWARDS past
    // 2 GiB and misparse. Oversized declarations just walk past n and the
    // loop bound ends the walk with whatever fmt/data it has seen.
    var pos = 12L
    var byteRate = -1L
    var dataSize = -1L
    while (pos + 8 <= n && (byteRate < 0 || dataSize < 0)) {
      val p = pos.toInt // pos + 8 <= n ⇒ fits in Int
      val size = le32(p + 4) // unsigned: 0 .. 0xFFFFFFFF, never negative
      val body = pos + 8
      if (tag(p, "fmt ") && size >= 16 && body + 12 + 4 <= n)
        byteRate = le32(body.toInt + 8)
      else if (tag(p, "data"))
        dataSize = size
      pos = body + size + (size & 1L) // chunks pad to even
    }
    if (byteRate <= 0 || dataSize < 0) null
    else new GenericArrayData(Array(dataSize, byteRate))
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0))
}

/** graft_mp4_duration(payload): `[duration, timescale]` from an
  * ISO-BMFF (mp4/mov) payload's `moov`→`mvhd` header — video duration
  * without a codec. A BOX WALK: big-endian 32-bit sizes that INCLUDE the
  * 8-byte header; `size == 1` switches to a 64-bit largesize (the
  * >4 GiB convention — the fixture injects it on a skip box) and
  * `size == 0` means "to end of file". `mvhd` version 0 stores 32-bit
  * timescale/duration at body offsets 12/16, version 1 pushes them to
  * 20/24 with a 64-bit duration (both shapes in the fixture). Only the
  * top level and the `moov` children are walked — mdat is skipped by
  * its declared size, so a truncated capture with an intact moov still
  * answers. NULL for non-BMFF bytes, zero timescale, or a malformed
  * walk. */
/** graft_mp3_duration(payload): `[num, denom]` (seconds = num/denom) of an
  * MPEG-audio (mp3) payload — the most common audio format in a crawl —
  * without a codec. Three bounded steps: (1) skip a leading ID3v2 tag by
  * its syncsafe 28-bit declared size (+10 for the footer when its flag
  * bit is set; a non-syncsafe size byte is malformed → NULL); (2) a
  * bounded forward scan (≤ [[Mp3Duration.MaxSyncScan]] bytes — real
  * files put the first frame right after the tag; the scan only
  * tolerates small junk gaps) to the first VALID frame header: 11-bit
  * sync + non-reserved version/layer + in-table bitrate/sample-rate
  * indices, per ISO/IEC 11172-3 / 13818-3 framing; (3) duration. For a
  * VBR file, the first frame carries a `Xing`/`Info` block at the
  * side-info-sized offset (MPEG1: 17 mono / 32 stereo; MPEG2/2.5: 9 /
  * 17 — both offsets exercised by fixtures) whose frame count gives the
  * EXACT pair `[frames × samplesPerFrame, sampleRate]`. Otherwise the
  * CBR fallback derives `[audioBytes × 8, bitrate_bps]` from the first
  * header's declared bitrate over the byte span from the first frame to
  * the end (minus a trailing 128-byte ID3v1 `TAG` when present) — the
  * declared-rate estimate every tag reader uses. NULL for non-MPEG
  * bytes, a tag with no frame behind it, or a truncated skip. */
case class Mp3Duration(child: Expression) extends MediaDuration {
  import Mp3Duration._
  override def prettyName: String = TilePairs.Mp3DurationName

  def compute(bytes: Array[Byte]): ArrayData = {
    val n = bytes.length
    def u(i: Int): Int = bytes(i) & 0xff
    def be32(i: Int): Long =
      (u(i).toLong << 24) | (u(i + 1).toLong << 16) | (u(i + 2).toLong << 8) | u(i + 3).toLong
    if (n < 4) return null
    var pos = 0
    if (n >= 10 && bytes(0) == 'I' && bytes(1) == 'D' && bytes(2) == '3') {
      // ID3v2: bytes 6-9 are a syncsafe size (7 bits each; a high bit set
      // is malformed); flag bit 4 declares a 10-byte footer after the body
      if ((u(6) | u(7) | u(8) | u(9)) >= 0x80) return null
      val sz = (u(6) << 21) | (u(7) << 14) | (u(8) << 7) | u(9)
      pos = 10 + sz + (if ((u(5) & 0x10) != 0) 10 else 0)
    }
    val scanEnd = math.min(n - 4, pos + MaxSyncScan)
    while (pos >= 0 && pos <= scanEnd) {
      if (u(pos) == 0xff && (u(pos + 1) & 0xe0) == 0xe0) {
        val h1 = u(pos + 1); val h2 = u(pos + 2); val h3 = u(pos + 3)
        val ver = (h1 >> 3) & 3 // 0 = MPEG2.5, 2 = MPEG2, 3 = MPEG1; 1 reserved
        val layer = (h1 >> 1) & 3 // 1 = III, 2 = II, 3 = I; 0 reserved
        val brIdx = (h2 >> 4) & 15 // 0 = "free format", 15 reserved
        val srIdx = (h2 >> 2) & 3 // 3 reserved
        if (ver != 1 && layer != 0 && brIdx != 0 && brIdx != 15 && srIdx != 3) {
          val mpeg1 = ver == 3
          val sampleRate =
            (if (mpeg1) SrMpeg1 else if (ver == 2) SrMpeg2 else SrMpeg25)(srIdx)
          val layerIdx = 3 - layer // 0 = I, 1 = II, 2 = III
          val kbps = (if (mpeg1) BrMpeg1 else BrMpeg2)(layerIdx)(brIdx)
          val samplesPerFrame =
            if (layerIdx == 0) 384L
            else if (layerIdx == 1) 1152L
            else if (mpeg1) 1152L else 576L
          val mono = ((h3 >> 6) & 3) == 3
          // Xing/Info VBR block sits past the side-info region of the
          // first frame; offset depends on version + channel mode
          val xoff = pos + 4 +
            (if (mpeg1) { if (mono) 17 else 32 } else { if (mono) 9 else 17 })
          if (xoff + 12 <= n &&
            ((bytes(xoff) == 'X' && bytes(xoff + 1) == 'i' &&
              bytes(xoff + 2) == 'n' && bytes(xoff + 3) == 'g') ||
              (bytes(xoff) == 'I' && bytes(xoff + 1) == 'n' &&
                bytes(xoff + 2) == 'f' && bytes(xoff + 3) == 'o')) &&
            (be32(xoff + 4) & 1L) != 0L) { // flags bit 0: frame count present
            val frames = be32(xoff + 8)
            return new GenericArrayData(
              Array(frames * samplesPerFrame, sampleRate.toLong))
          }
          // CBR fallback: declared bitrate over the audio byte span,
          // excluding a trailing 128-byte ID3v1 tag
          var end = n
          if (end - pos >= 132 && bytes(n - 128) == 'T' &&
            bytes(n - 127) == 'A' && bytes(n - 126) == 'G') end = n - 128
          return new GenericArrayData(
            Array((end - pos).toLong * 8L, kbps.toLong * 1000L))
        }
      }
      pos += 1
    }
    null
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0))
}

object Mp3Duration {
  /** Junk tolerance between the ID3v2 tag (or payload start) and the first
    * frame sync — bounds the scan so a non-MPEG payload that happens to
    * start with `ID3` costs O(MaxSyncScan), never a full-payload walk. */
  val MaxSyncScan = 2048

  // ISO/IEC 11172-3 table B.2 (MPEG1) / 13818-3 (MPEG2 & 2.5 share one
  // Layer II/III column) bitrates in kbps, indexed [layer−1][bitrateIdx]
  private[functions] val BrMpeg1: Array[Array[Int]] = Array(
    Array(0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448),
    Array(0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384),
    Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320))
  private[functions] val BrMpeg2: Array[Array[Int]] = Array(
    Array(0, 32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256),
    Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
    Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160))
  private[functions] val SrMpeg1 = Array(44100, 48000, 32000, -1)
  private[functions] val SrMpeg2 = Array(22050, 24000, 16000, -1)
  private[functions] val SrMpeg25 = Array(11025, 12000, 8000, -1)
}

case class Mp4Duration(child: Expression) extends MediaDuration {
  override def prettyName: String = TilePairs.Mp4DurationName

  def compute(bytes: Array[Byte]): ArrayData = {
    val n = bytes.length
    def u(i: Int): Long = (bytes(i) & 0xff).toLong
    def be32(i: Int): Long = (u(i) << 24) | (u(i + 1) << 16) | (u(i + 2) << 8) | u(i + 3)
    def be64(i: Int): Long = (be32(i) << 32) | be32(i + 4)
    def tag(i: Int, s: String): Boolean =
      (0 until 4).forall(k => bytes(i + k) == s.charAt(k).toByte)
    if (n < 12 || !tag(4, "ftyp")) return null
    // walk one box level in [from, to); returns the mvhd pair or null
    def walk(from: Long, to: Long, inMoov: Boolean): ArrayData = {
      var pos = from
      while (pos + 8 <= to) {
        var size = be32(pos.toInt)
        var hdr = 8L
        if (size == 1L) {
          if (pos + 16 > to) return null
          size = be64(pos.toInt + 8); hdr = 16L
        } else if (size == 0L) size = to - pos // box runs to EOF
        // overflow-safe: pos ≤ to is invariant so (to − pos) cannot
        // underflow, while (pos + size) wraps negative for a 64-bit
        // largesize near Long.MaxValue and would re-enter the loop with
        // truncated indices on a ~40-byte crafted payload.
        if (size < hdr || size > to - pos) return null
        val body = pos + hdr
        if (!inMoov && tag(pos.toInt + 4, "moov")) {
          val r = walk(body, pos + size, inMoov = true)
          if (r != null) return r
        } else if (inMoov && tag(pos.toInt + 4, "mvhd")) {
          val b = body.toInt
          if (b >= n || body + 4 > to) return null
          val version = u(b)
          if (version == 1L) {
            if (body + 32 > to) return null
            val ts = be32(b + 20)
            val dur = be64(b + 24)
            return if (ts <= 0) null else new GenericArrayData(Array(dur, ts))
          } else {
            if (body + 20 > to) return null
            val ts = be32(b + 12)
            val dur = be32(b + 16)
            return if (ts <= 0) null else new GenericArrayData(Array(dur, ts))
          }
        }
        pos += size
      }
      null
    }
    walk(0L, n.toLong, inMoov = false)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0))
}

/** graft_flac_duration(payload): `[total_samples, sample_rate]` of a FLAC
  * payload — lossless-audio duration without a codec. The `fLaC` magic is
  * followed by metadata blocks (1-byte header: last-flag bit 7 + 7-bit
  * type, then a 24-bit big-endian length); STREAMINFO (type 0, 34 bytes)
  * packs the sample rate in 20 bits at byte offset 10 and the total
  * sample count in the following 36 bits (RFC 9639 §8.2). A zero rate is
  * malformed and a zero count means "unknown" — both NULL (nothing to
  * divide). NULL for non-FLAC bytes or a STREAMINFO that does not fit;
  * later blocks are irrelevant, so a truncated capture with the first
  * block intact still answers. */
case class FlacDuration(child: Expression) extends MediaDuration {
  override def prettyName: String = TilePairs.FlacDurationName

  def compute(bytes: Array[Byte]): ArrayData = {
    val n = bytes.length
    def u(i: Int): Long = (bytes(i) & 0xff).toLong
    if (n < 4 || bytes(0) != 'f' || bytes(1) != 'L' || bytes(2) != 'a' ||
      bytes(3) != 'C') return null
    // pos stays Long: 24-bit block lengths chained near a 2 GiB payload
    // would wrap an Int position negative and index out of bounds
    var pos = 4L
    var guard = 0
    while (pos + 4 <= n && guard < 128) { // 128 blocks bounds lying chains
      val p = pos.toInt // pos + 4 <= n ⇒ fits in Int
      val hdr = u(p)
      val typ = (hdr & 0x7f).toInt
      val len = (u(p + 1) << 16) | (u(p + 2) << 8) | u(p + 3)
      val body = pos + 4
      if (typ == 0) { // STREAMINFO
        if (len < 34 || body + 34 > n) return null
        val b = body.toInt
        // packed fields from byte 10: rate u20, channels-1 u3, bps-1 u5,
        // total u36 — the channel/bps bits sit BETWEEN rate and total
        // (byte 12 low nibble + byte 13 high nibble), so the count's top
        // nibble is byte 13's LOW nibble and its low byte is byte 17
        // (round-14 review: reading one byte early garbled every real
        // file while the fixtures encoded the same wrong layout)
        val rate = (u(b + 10) << 12) | (u(b + 11) << 4) | (u(b + 12) >> 4)
        val total = ((u(b + 13) & 0x0f) << 32) | (u(b + 14) << 24) |
          (u(b + 15) << 16) | (u(b + 16) << 8) | u(b + 17)
        return if (rate <= 0 || total <= 0) null // 0 samples = "unknown"
        else new GenericArrayData(Array(total, rate))
      }
      if ((hdr & 0x80) != 0) return null // last block and no STREAMINFO seen
      pos = body + len
      guard += 1
    }
    null
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0))
}

/** graft_ogg_duration(payload): `[pcm_samples, rate]` of an Ogg
  * Vorbis/Opus payload — the remaining common crawl audio containers. A
  * PAGE WALK (RFC 3533): each `OggS` page header carries a 64-bit
  * little-endian granule position (offset 6) and a segment table whose
  * sum is the payload size; the LAST page whose header AND payload fit
  * the capture gives the stream's end granule (a −1 granule marks a
  * "continues" page and is skipped). The FIRST page's payload names the
  * codec: a `vorbis` identification header carries the sample rate
  * at packet offset 12 (little-endian, RFC 7845's sibling in the Vorbis
  * I spec §4.2.2) and granules count PCM samples at that rate; an
  * `OpusHead` header (RFC 7845 §5.1) counts granules at a FIXED 48 kHz
  * with the 16-bit pre-skip (offset 10) subtracted. NULL for non-Ogg
  * bytes, an unrecognized codec, a zero/invalid rate, or an end granule
  * at or below the start (nothing to divide). Truncated captures answer
  * with the last intact page — the duration actually captured. */
case class OggDuration(child: Expression) extends MediaDuration {
  override def prettyName: String = TilePairs.OggDurationName

  def compute(bytes: Array[Byte]): ArrayData = {
    val n = bytes.length
    def u(i: Int): Long = (bytes(i) & 0xff).toLong
    def le32(i: Int): Long = u(i) | (u(i + 1) << 8) | (u(i + 2) << 16) | (u(i + 3) << 24)
    def le64(i: Int): Long = le32(i) | (le32(i + 4) << 32)
    // positions stay Long: a page chain near a 2 GiB payload would wrap
    // an Int position negative and index out of bounds
    def isPage(i: Long): Boolean =
      i >= 0 && i + 27 <= n && bytes(i.toInt) == 'O' && bytes(i.toInt + 1) == 'g' &&
        bytes(i.toInt + 2) == 'g' && bytes(i.toInt + 3) == 'S'
    if (!isPage(0)) return null
    var denom = -1L
    var preSkip = 0L
    var lastGranule = -1L
    var pos = 0L
    var first = true
    while (isPage(pos)) {
      val nsegs = u(pos.toInt + 26).toInt
      val segTable = pos.toInt + 27
      if (segTable + nsegs > n) return finish(lastGranule, preSkip, denom)
      var payload = 0
      var k = 0
      while (k < nsegs) { payload += u(segTable + k).toInt; k += 1 }
      val body = segTable + nsegs
      if (body.toLong + payload > n) return finish(lastGranule, preSkip, denom)
      if (first) {
        // codec identification from the first page's packet
        if (payload >= 16 && bytes(body) == 1 && bytes(body + 1) == 'v' &&
          bytes(body + 2) == 'o' && bytes(body + 3) == 'r' &&
          bytes(body + 4) == 'b' && bytes(body + 5) == 'i' &&
          bytes(body + 6) == 's') {
          denom = le32(body + 12)
        } else if (payload >= 19 && bytes(body) == 'O' && bytes(body + 1) == 'p' &&
          bytes(body + 2) == 'u' && bytes(body + 3) == 's' &&
          bytes(body + 4) == 'H' && bytes(body + 5) == 'e' &&
          bytes(body + 6) == 'a' && bytes(body + 7) == 'd') {
          preSkip = u(body + 10) | (u(body + 11) << 8)
          denom = 48000L // Opus granules are 48 kHz by definition (§4)
        } else return null // unrecognized codec: out of scope
        first = false
      }
      val granule = le64(pos.toInt + 6)
      if (granule != -1L) lastGranule = granule
      pos = body.toLong + payload
    }
    finish(lastGranule, preSkip, denom)
  }

  private def finish(lastGranule: Long, preSkip: Long, denom: Long): ArrayData = {
    if (denom <= 0 || lastGranule < 0) return null
    val num = lastGranule - preSkip
    if (num <= 0) null else new GenericArrayData(Array(num, denom))
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0))
}

/** graft_webm_duration(payload): `[nanoseconds, 1e9]` of a WebM/Matroska
  * payload — the last common crawl video container without a duration
  * arm. An EBML walk: elements are (VINT id, VINT size, body); the file
  * opens with the EBML header element (0x1A45DFA3 — the magic), then
  * `Segment` (0x18538067) → `Info` (0x1549A966) → `TimestampScale`
  * (0x2AD7B1, uint ns/tick, DEFAULT 1,000,000 when absent) and
  * `Duration` (0x4489, IEEE float32 or float64, in ticks). Seconds =
  * duration × scale / 1e9, surfaced as the exact integer pair
  * `[round(duration × scale), 1_000_000_000]` — duration is a FLOAT in
  * this container (unlike every sibling kernel's integer fields), so
  * the nanosecond numerator is rounded to nearest (ties away from
  * zero, `Math.round`); fixtures use tick-exact values so the rounding
  * never fires in the gate. A streamed Segment's UNKNOWN size (all
  * value bits set) runs to EOF — the live-capture shape. NULL for
  * non-EBML bytes, a missing/zero/negative Duration (a headerless live
  * stream genuinely has none), a zero scale, or any walk that runs off
  * the payload; a skipped element with unknown size aborts NULL (only
  * Segment may be unsized — in real files Info precedes any such
  * Cluster). Forward progress is structural: every element consumes
  * ≥ 2 bytes. */
case class WebmDuration(child: Expression) extends MediaDuration {
  override def prettyName: String = TilePairs.WebmDurationName

  def compute(bytes: Array[Byte]): ArrayData = {
    val n = bytes.length
    def u(i: Int): Long = (bytes(i) & 0xff).toLong
    if (n < 4 || u(0) != 0x1aL || u(1) != 0x45L || u(2) != 0xdfL || u(3) != 0xa3L)
      return null
    val Unknown = -2L
    val Bad = -1L
    // VINT width from the first byte's leading zeros (1..8), 0 = invalid
    def width(b0: Long): Int = {
      var w = 1
      var mask = 0x80L
      while (mask != 0 && (b0 & mask) == 0) { w += 1; mask >>= 1 }
      if (mask == 0) 0 else w
    }
    // element ID at i, MARKER KEPT (the spec's storage form); Bad on overrun
    def readId(i: Int): (Long, Int) = {
      if (i >= n) return (Bad, 0)
      val w = width(u(i))
      if (w == 0 || w > 4 || i + w > n) return (Bad, 0)
      var v = 0L
      var k = 0
      while (k < w) { v = (v << 8) | u(i + k); k += 1 }
      (v, w)
    }
    // element size at i, marker cleared; Unknown when all value bits set
    def readSize(i: Int): (Long, Int) = {
      if (i >= n) return (Bad, 0)
      val w = width(u(i))
      if (w == 0 || i + w > n) return (Bad, 0)
      var v = u(i) & (0xffL >> w)
      var k = 1
      while (k < w) { v = (v << 8) | u(i + k); k += 1 }
      val allOnes = (1L << (7 * w)) - 1
      (if (v == allOnes) Unknown else v, w)
    }
    def beUint(i: Int, len: Int): Long = {
      var v = 0L; var k = 0
      while (k < len) { v = (v << 8) | u(i + k); k += 1 }
      v
    }
    // duration (ticks) + scale (ns/tick) from an Info body
    def infoPair(from: Long, to: Long): ArrayData = {
      var scale = 1000000L // the spec default
      var dur = Double.NaN
      var pos = from
      while (pos < to) {
        val (id, iw) = readId(pos.toInt)
        if (id == Bad) return null
        val (sz, sw) = readSize((pos + iw).toInt)
        if (sz < 0) return null // Bad or Unknown: Info children are sized
        val body = pos + iw + sw
        if (sz > to - body) return null
        if (id == 0x2ad7b1L) {
          if (sz < 1 || sz > 8) return null
          scale = beUint(body.toInt, sz.toInt)
        } else if (id == 0x4489L) {
          if (sz == 4L)
            dur = java.lang.Float.intBitsToFloat(beUint(body.toInt, 4).toInt).toDouble
          else if (sz == 8L)
            dur = java.lang.Double.longBitsToDouble(beUint(body.toInt, 8))
          else return null
        }
        pos = body + sz
      }
      if (dur.isNaN || dur.isInfinite || dur <= 0.0 || scale <= 0L) return null
      val ns = Math.round(dur * scale)
      if (ns <= 0L) return null
      new GenericArrayData(Array(ns, 1000000000L))
    }
    // one element level in [from, to): descend into `into`-id elements,
    // answer from `leaf`-id bodies
    def walk(from: Long, to: Long, depth: Int): ArrayData = {
      var pos = from
      while (pos < to) {
        val (id, iw) = readId(pos.toInt)
        if (id == Bad) return null
        val (sz, sw) = readSize((pos + iw).toInt)
        val body = pos + iw + sw
        val end =
          if (sz == Unknown) to // a streamed Segment runs to EOF
          else if (sz == Bad || sz > to - body) return null
          else body + sz
        if (depth == 0 && id == 0x18538067L) {
          val r = walk(body, end, 1)
          if (r != null) return r
        } else if (depth == 1 && id == 0x1549a966L) {
          return infoPair(body, end)
        } else if (sz == Unknown) {
          return null // only Segment may be unsized; cannot skip otherwise
        }
        pos = end
      }
      null
    }
    walk(0L, n.toLong, 0)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0))
}

/** graft_exif_gps(payload): GPS presence + signed decimal coordinates of a
  * JPEG payload's EXIF — the privacy-policy gate an image-corpus release
  * needs (the multimodal sibling of `redactPii`). Struct
  * `(gps_present, lat, lon)`:
  *
  *   - NULL for payloads with no parseable EXIF TIFF at all;
  *   - `(false, NULL, NULL)` when EXIF exists but IFD0 carries no GPS
  *     Info pointer (tag 0x8825);
  *   - `(true, …)` when the pointer exists — lat/lon are the EXIF
  *     degree/minute/second RATIONAL triples folded to signed decimal
  *     degrees (`d + m/60 + s/3600`, negated for `S`/`W` refs), NULL
  *     individually when the triple is missing, truncated, or carries a
  *     zero denominator. "Present but unreadable" still reports `true`:
  *     the privacy gate must FLAG a payload whose GPS block it cannot
  *     parse, never wave it through.
  *
  * The walk is [[ExifWalk]] (bounded, offset-validated) + one scan of
  * IFD0 for the pointer + one scan of the GPS sub-IFD for tags 1-4
  * (lat ref / lat / lon ref / lon). The decimal fold uses one fixed
  * operation order so any IEEE-754 engine replays it bit-identically. */
case class ExifGps(child: Expression) extends Expression {
  import ExifWalk._

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = true
  override lazy val deterministic: Boolean = true
  override def prettyName: String = TilePairs.ExifGpsName
  override def dataType: DataType = StructType(Seq(
    StructField("gps_present", BooleanType, nullable = false),
    StructField("lat", DoubleType, nullable = true),
    StructField("lon", DoubleType, nullable = true)))

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects a binary input")

  def compute(bytes: Array[Byte]): Any = {
    val w = locate(bytes)
    if (w == null) return null
    val little = w.little
    def e16(i: Int): Int = r16(bytes, i, little)
    def e32(i: Int): Long = r32(bytes, i, little)
    // IFD0 scan for the GPS Info pointer (LONG, count 1)
    val c0 = math.min(e16(w.ifd0), MaxIfdEntries)
    var gpsAt = -1L
    var e = 0
    while (e < c0 && gpsAt < 0) {
      val at = w.ifd0 + 2 + 12 * e
      if (at + 12 > w.segEnd) return null
      if (e16(at) == GpsIfdPointerTag && e16(at + 2) == 4 && e32(at + 4) == 1L)
        gpsAt = w.t + e32(at + 8)
      e += 1
    }
    if (gpsAt < 0)
      return new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](false, null, null))
    def flagged(lat: Any, lon: Any) =
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](true, lat, lon))
    if (gpsAt < w.t || gpsAt + 2 > w.segEnd) return flagged(null, null)
    val g = gpsAt.toInt
    val cg = math.min(e16(g), MaxIfdEntries)
    // one rational triple folded to decimal degrees; null on any defect
    def triple(valOff: Long): Any = {
      if (valOff < w.t || valOff + 24 > w.segEnd) return null
      val v = valOff.toInt
      var acc = 0.0
      var k = 0
      while (k < 3) {
        val num = e32(v + 8 * k)
        val den = e32(v + 8 * k + 4)
        if (den == 0L) return null
        val part = num.toDouble / den.toDouble
        acc += (if (k == 0) part else if (k == 1) part / 60.0 else part / 3600.0)
        k += 1
      }
      acc
    }
    var latRef = 0; var lonRef = 0 // first ASCII byte of tags 1 / 3
    var lat: Any = null; var lon: Any = null
    e = 0
    while (e < cg) {
      val at = g + 2 + 12 * e
      if (at + 12 > w.segEnd) return flagged(null, null)
      val tag = e16(at)
      val typ = e16(at + 2)
      val cnt = e32(at + 4)
      if (tag == 1 && typ == 2) latRef = u(bytes, at + 8)
      else if (tag == 3 && typ == 2) lonRef = u(bytes, at + 8)
      else if (tag == 2 && typ == 5 && cnt == 3L) lat = triple(w.t + e32(at + 8))
      else if (tag == 4 && typ == 5 && cnt == 3L) lon = triple(w.t + e32(at + 8))
      e += 1
    }
    def signed(v: Any, ref: Int, neg: Int): Any = v match {
      case d: Double => if (ref == neg) -d else d
      case _ => null
    }
    flagged(signed(lat, latRef, 'S'), signed(lon, lonRef, 'W'))
  }

  override def eval(input: InternalRow): Any = {
    val b = child.eval(input).asInstanceOf[Array[Byte]]
    if (b == null) null else compute(b)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val ref = ctx.addReferenceObj("kernel", this)
    ev.copy(code = code"""
      ${c.code}
      Object ${ev.value}_o = null;
      if (!${c.isNull}) ${ev.value}_o = $ref.compute(${c.value});
      boolean ${ev.isNull} = ${ev.value}_o == null;
      org.apache.spark.sql.catalyst.InternalRow ${ev.value} = ${ev.isNull}
        ? null : (org.apache.spark.sql.catalyst.InternalRow) ${ev.value}_o;
    """)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0))
}

/** graft_exif_gps_strip(payload): the payload with its EXIF GPS Info
  * scrubbed IN PLACE — the write half of [[ExifGps]]'s privacy gate.
  * Because every TIFF offset is absolute (relative to the TIFF header),
  * deleting bytes would shift and corrupt every later tag — so the scrub
  * keeps the payload size and OVERWRITES: each GPS sub-IFD entry's
  * out-of-line value region (the coordinate rationals), then the GPS
  * sub-IFD block itself (count + entries + next-IFD), then the IFD0
  * pointer entry (tag 0x8825 → 12 zero bytes — a reader sees tag 0,
  * which no EXIF consumer interprets). On WELL-FORMED files dimensions,
  * orientation, and all other metadata survive untouched; [[ExifGps]] on
  * the result reports `gps_present = false`. Payloads with no parseable
  * EXIF or no GPS pointer return UNCHANGED (never NULL: the scrub is
  * safe to run unconditionally across a mixed corpus). All offsets are
  * validated against the APP1 segment, so a lying GPS block can at worst
  * keep its own unparseable bytes — the pointer to it is still severed.
  * ADVERSARIAL CAVEAT (deliberate, privacy-safe direction): a crafted
  * GPS entry whose out-of-line value offset points back INTO IFD0 or
  * another tag's value region passes the in-segment bounds check and
  * gets zeroed — such a payload may lose additional in-segment metadata.
  * The scrub errs toward over-redaction, never under-redaction; offsets
  * are NOT restricted to the GPS block because real writers do emit GPS
  * values interleaved with other IFDs' value regions. */
case class ExifGpsStrip(child: Expression) extends Expression {
  import ExifWalk._

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = true
  override lazy val deterministic: Boolean = true
  override def prettyName: String = TilePairs.ExifGpsStripName
  override def dataType: DataType = BinaryType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects a binary input")

  def compute(bytes: Array[Byte]): Array[Byte] = {
    val w = locate(bytes)
    if (w == null) return bytes
    val little = w.little
    def e16(i: Int): Int = r16(bytes, i, little)
    def e32(i: Int): Long = r32(bytes, i, little)
    val c0 = math.min(e16(w.ifd0), MaxIfdEntries)
    var ptrAt = -1
    var gpsAt = -1L
    var e = 0
    while (e < c0 && ptrAt < 0) {
      val at = w.ifd0 + 2 + 12 * e
      if (at + 12 > w.segEnd) return bytes
      if (e16(at) == GpsIfdPointerTag && e16(at + 2) == 4 && e32(at + 4) == 1L) {
        ptrAt = at
        gpsAt = w.t + e32(at + 8)
      }
      e += 1
    }
    if (ptrAt < 0) return bytes
    val out = bytes.clone()
    if (gpsAt >= w.t && gpsAt + 2 <= w.segEnd) {
      val g = gpsAt.toInt
      val cg = math.min(e16(g), MaxIfdEntries)
      e = 0
      var ok = true
      while (e < cg && ok) {
        val at = g + 2 + 12 * e
        if (at + 12 > w.segEnd) ok = false
        else {
          val ts = typeSize(e16(at + 2))
          val sz = ts.toLong * e32(at + 4)
          if (ts > 0 && sz > 4) { // out-of-line value: zero its region
            val off = w.t + e32(at + 8)
            if (off >= w.t && sz <= w.segEnd && off + sz <= w.segEnd)
              java.util.Arrays.fill(out, off.toInt, (off + sz).toInt, 0.toByte)
          }
          e += 1
        }
      }
      val blockEnd = math.min(gpsAt + 2 + 12L * cg + 4, w.segEnd.toLong)
      java.util.Arrays.fill(out, g, blockEnd.toInt, 0.toByte)
    }
    java.util.Arrays.fill(out, ptrAt, ptrAt + 12, 0.toByte) // sever the pointer
    out
  }

  override def eval(input: InternalRow): Any = {
    val b = child.eval(input).asInstanceOf[Array[Byte]]
    if (b == null) null else compute(b)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val ref = ctx.addReferenceObj("kernel", this)
    ev.copy(code = code"""
      ${c.code}
      byte[] ${ev.value} = null;
      if (!${c.isNull}) ${ev.value} = $ref.compute(${c.value});
      boolean ${ev.isNull} = ${ev.value} == null;
    """)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0))
}

/** graft_webp_dims(payload): `[width, height]` of a WebP payload — the
  * second-most-common crawl image format after JPEG. A RIFF chunk walk
  * (the [[RiffDuration]] pattern: Long arithmetic, even-offset padding,
  * oversized declarations just end the walk) to the first codec chunk,
  * all three WebP shapes per the container spec:
  *
  *  - `VP8 ` (lossy): 3-byte frame tag, the 9D 01 2A sync, then 14-bit
  *    little-endian width/height (upper scaling bits masked off);
  *  - `VP8L` (lossless): the 0x2F signature byte, then width−1 and
  *    height−1 packed as two 14-bit fields of one little-endian u32;
  *  - `VP8X` (extended): flags + reserved, then 24-bit little-endian
  *    canvas width−1 / height−1.
  *
  * NULL for non-WebP bytes, truncated chunk bodies, or a walk that finds
  * no codec chunk. No pure-Column twin. */
case class WebpDims(child: Expression) extends Expression {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = true
  override lazy val deterministic: Boolean = true
  override def prettyName: String = TilePairs.WebpDimsName
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects a binary input")

  def compute(bytes: Array[Byte]): ArrayData = {
    val n = bytes.length
    def u(i: Int): Long = (bytes(i) & 0xff).toLong
    def le16(i: Int): Long = u(i) | (u(i + 1) << 8)
    def le24(i: Int): Long = u(i) | (u(i + 1) << 8) | (u(i + 2) << 16)
    def le32(i: Int): Long = le16(i) | (le16(i + 2) << 16)
    def tag(i: Int, s: String): Boolean =
      (0 until 4).forall(k => bytes(i + k) == s.charAt(k).toByte)
    if (n < 16 || !tag(0, "RIFF") || !tag(8, "WEBP")) return null
    var pos = 12L // Long walk: declared sizes are unsigned 32-bit
    while (pos + 8 <= n) {
      val p = pos.toInt
      val size = le32(p + 4)
      val body = pos + 8
      if (tag(p, "VP8 ")) {
        // frame tag(3) + sync 9D 01 2A + two 14-bit LE dims
        if (body + 10 > n || size < 10) return null
        val b = body.toInt
        if (u(b + 3) != 0x9d || u(b + 4) != 0x01 || u(b + 5) != 0x2a) return null
        return new GenericArrayData(
          Array(le16(b + 6) & 0x3fff, le16(b + 8) & 0x3fff))
      } else if (tag(p, "VP8L")) {
        if (body + 5 > n || size < 5) return null
        val b = body.toInt
        if (u(b) != 0x2f) return null
        val v = le32(b + 1)
        return new GenericArrayData(
          Array((v & 0x3fff) + 1, ((v >> 14) & 0x3fff) + 1))
      } else if (tag(p, "VP8X")) {
        // flags(1) + reserved(3) + canvas w−1 / h−1 as LE-24
        if (body + 10 > n || size < 10) return null
        val b = body.toInt
        return new GenericArrayData(Array(le24(b + 4) + 1, le24(b + 7) + 1))
      }
      pos = body + size + (size & 1L) // chunks pad to even
    }
    null
  }

  override def eval(input: InternalRow): Any = {
    val b = child.eval(input).asInstanceOf[Array[Byte]]
    if (b == null) null else compute(b)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val ref = ctx.addReferenceObj("kernel", this)
    ev.copy(code = code"""
      ${c.code}
      org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
      if (!${c.isNull}) ${ev.value} = $ref.compute(${c.value});
      boolean ${ev.isNull} = ${ev.value} == null;
    """)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0))
}

/** graft_isobmff_dims(payload): `[width, height]` of an ISO-BMFF still
  * image (AVIF/HEIC/HEIF — the fastest-growing image formats on the
  * modern web) from the header boxes alone, no codec. The payload is an
  * `ftyp`-led box sequence; dimensions live in an `ispe`
  * (ImageSpatialExtentsProperty, ISO 23008-12) inside
  * `meta`→`iprp`→`ipco`. A file can carry SEVERAL `ispe` boxes — an
  * iPhone HEIC lists the thumbnail's before the main image's — so the
  * walk resolves the PRIMARY item: `pitm` names the item id,
  * `ipma` associates it with 1-based `ipco` child indexes, and the
  * first associated child that IS an `ispe` wins. When `pitm`/`ipma`
  * are absent or do not resolve (minimal single-image AVIFs often omit
  * them), the FIRST `ispe` in `ipco` is the documented fallback.
  *
  * Box walk discipline is [[Mp4Duration]]'s: Long arithmetic, `size==1`
  * 64-bit largesize, `size==0` runs to EOF, malformed sizes end the
  * walk NULL — never a throw. `meta` and its `pitm`/`ipma`/`ispe`
  * children are FULL boxes (4 version/flags bytes after the header);
  * `ipma` associations are 1 byte (7-bit index) or, under flags bit 0,
  * 2 bytes (15-bit index) — both parsed. Adversarial caps: ≤ 64 `ipco`
  * children and ≤ 256 `ipma` entries scanned. NULL for non-ftyp bytes;
  * the caller gates on the major brand (this kernel reads ANY ISO-BMFF
  * — brand policy is format sniffing, not box grammar).
  * No pure-Column twin, like [[WebpDims]]. */
case class IsoBmffDims(child: Expression) extends Expression {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = true
  override lazy val deterministic: Boolean = true
  override def prettyName: String = TilePairs.IsoBmffDimsName
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects a binary input")

  def compute(bytes: Array[Byte]): ArrayData = {
    val n = bytes.length
    def u(i: Int): Long = (bytes(i) & 0xff).toLong
    def be16(i: Int): Int = ((u(i) << 8) | u(i + 1)).toInt
    def be32(i: Int): Long = (u(i) << 24) | (u(i + 1) << 16) | (u(i + 2) << 8) | u(i + 3)
    def be64(i: Int): Long = (be32(i) << 32) | be32(i + 4)
    def tag(i: Int, s: String): Boolean =
      (0 until 4).forall(k => bytes(i + k) == s.charAt(k).toByte)
    if (n < 12 || !tag(4, "ftyp")) return null
    // (bodyStart, boxEnd) of the first `name` box in [from, to), or null
    // — one bounded level, the Mp4Duration overflow discipline
    def findBox(from: Long, to: Long, name: String): Array[Long] = {
      var pos = from
      while (pos + 8 <= to) {
        var size = be32(pos.toInt)
        var hdr = 8L
        if (size == 1L) {
          if (pos + 16 > to) return null
          size = be64(pos.toInt + 8); hdr = 16L
        } else if (size == 0L) size = to - pos
        if (size < hdr || size > to - pos) return null
        if (tag(pos.toInt + 4, name)) return Array(pos + hdr, pos + size)
        pos += size
      }
      null
    }
    val meta = findBox(0L, n.toLong, "meta")
    if (meta == null || meta(0) + 4 > meta(1)) return null
    val mBody = meta(0) + 4 // FULL box: skip version/flags
    val mEnd = meta(1)
    val iprp = findBox(mBody, mEnd, "iprp")
    if (iprp == null) return null
    val ipco = findBox(iprp(0), iprp(1), "ipco")
    if (ipco == null) return null
    // ipco children in order: (type-offset, bodyStart, boxEnd), capped
    val kidOff = new Array[Long](64)
    val kidBody = new Array[Long](64)
    val kidEnd = new Array[Long](64)
    var kids = 0
    var pos = ipco(0)
    var walking = true
    while (walking && pos + 8 <= ipco(1) && kids < 64) {
      var size = be32(pos.toInt)
      var hdr = 8L
      if (size == 1L) {
        if (pos + 16 > ipco(1)) walking = false
        else { size = be64(pos.toInt + 8); hdr = 16L }
      } else if (size == 0L) size = ipco(1) - pos
      if (walking && (size < hdr || size > ipco(1) - pos)) walking = false
      if (walking) {
        kidOff(kids) = pos + 4; kidBody(kids) = pos + hdr; kidEnd(kids) = pos + size
        kids += 1
        pos += size
      }
    }
    def ispeDims(k: Int): ArrayData = {
      if (k < 0 || k >= kids || !tag(kidOff(k).toInt, "ispe")) return null
      val b = kidBody(k)
      if (b + 12 > kidEnd(k)) return null
      new GenericArrayData(Array(be32(b.toInt + 4), be32(b.toInt + 8)))
    }
    // primary item: pitm (v0: u16 id, else u32) + its ipma associations
    def primaryIspe(): ArrayData = {
      val pitm = findBox(mBody, mEnd, "pitm")
      if (pitm == null || pitm(0) + 4 > pitm(1)) return null
      val pv = u(pitm(0).toInt)
      val primary: Long =
        if (pv == 0L) {
          if (pitm(0) + 6 > pitm(1)) return null
          be16(pitm(0).toInt + 4).toLong
        } else {
          if (pitm(0) + 8 > pitm(1)) return null
          be32(pitm(0).toInt + 4)
        }
      val ipma = findBox(iprp(0), iprp(1), "ipma")
      if (ipma == null || ipma(0) + 8 > ipma(1)) return null
      val av = u(ipma(0).toInt)
      val wide = (u(ipma(0).toInt + 3) & 1L) == 1L // flags bit 0: 15-bit idx
      val entryCount = be32(ipma(0).toInt + 4)
      var p = ipma(0) + 8
      var e = 0L
      while (e < entryCount && e < 256) {
        val idBytes = if (av < 1L) 2 else 4
        if (p + idBytes + 1 > ipma(1)) return null
        val itemId: Long =
          if (idBytes == 2) be16(p.toInt).toLong else be32(p.toInt)
        val assocCount = u(p.toInt + idBytes)
        p += idBytes + 1
        val w = if (wide) 2 else 1
        if (p + assocCount * w > ipma(1)) return null
        if (itemId == primary) {
          var a = 0L
          while (a < assocCount) {
            val idx =
              if (wide) be16((p + a * 2).toInt) & 0x7fff
              else (u((p + a).toInt) & 0x7f).toInt
            val d = ispeDims(idx.toInt - 1) // property indexes are 1-based
            if (d != null) return d
            a += 1
          }
          return null // primary found but no ispe among its properties
        }
        p += assocCount * w
        e += 1
      }
      null
    }
    val viaPrimary = primaryIspe()
    if (viaPrimary != null) return viaPrimary
    // fallback: the first ispe in ipco (minimal files omit pitm/ipma)
    var k = 0
    while (k < kids) {
      val d = ispeDims(k)
      if (d != null) return d
      k += 1
    }
    null
  }

  override def eval(input: InternalRow): Any = {
    val b = child.eval(input).asInstanceOf[Array[Byte]]
    if (b == null) null else compute(b)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val ref = ctx.addReferenceObj("kernel", this)
    ev.copy(code = code"""
      ${c.code}
      org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
      if (!${c.isNull}) ${ev.value} = $ref.compute(${c.value});
      boolean ${ev.isNull} = ${ev.value} == null;
    """)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0))
}

/** graft_exif_tags(payload): the camera-provenance ASCII tags of a JPEG
  * payload's EXIF IFD0 — struct `(make, model, software)` (tags 0x010F /
  * 0x0110 / 0x0131), each NULL when absent; NULL struct when the payload
  * carries no parseable EXIF. The curation companions of [[ExifGps]]:
  * device priors, scanner/phone splits, and the `software` tag is the
  * cheap synthetic/edited-image screen (editor names land there). ASCII
  * values decode per TIFF rules — count INCLUDES the NUL terminator,
  * ≤ 4 bytes inline / otherwise out-of-line at a validated offset, read
  * up to the first NUL. Same bounded [[ExifWalk]] as the siblings. */
case class ExifTags(child: Expression) extends Expression {
  import ExifWalk._

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = true
  override lazy val deterministic: Boolean = true
  override def prettyName: String = TilePairs.ExifTagsName
  override def dataType: DataType = StructType(Seq(
    StructField("make", StringType, nullable = true),
    StructField("model", StringType, nullable = true),
    StructField("software", StringType, nullable = true)))

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects a binary input")

  def compute(bytes: Array[Byte]): Any = {
    val w = locate(bytes)
    if (w == null) return null
    val little = w.little
    def e16(i: Int): Int = r16(bytes, i, little)
    def e32(i: Int): Long = r32(bytes, i, little)
    // one ASCII value, TIFF rules: count includes the NUL; inline ≤ 4
    def ascii(at: Int): Any = {
      val cnt = e32(at + 4)
      if (cnt <= 0L || cnt > 65536L) return null
      val off = if (cnt <= 4L) (at + 8).toLong else w.t + e32(at + 8)
      if (off < w.t || off + cnt > w.segEnd) return null
      var end = off.toInt
      val lim = (off + cnt).toInt
      while (end < lim && bytes(end) != 0) end += 1
      org.apache.spark.unsafe.types.UTF8String.fromBytes(
        bytes, off.toInt, end - off.toInt)
    }
    val c0 = math.min(e16(w.ifd0), MaxIfdEntries)
    var make: Any = null; var model: Any = null; var software: Any = null
    var e = 0
    while (e < c0) {
      val at = w.ifd0 + 2 + 12 * e
      if (at + 12 > w.segEnd) return null
      if (e16(at + 2) == 2) e16(at) match { // ASCII type only
        case 0x010f => make = ascii(at)
        case 0x0110 => model = ascii(at)
        case 0x0131 => software = ascii(at)
        case _ => ()
      }
      e += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](make, model, software))
  }

  override def eval(input: InternalRow): Any = {
    val b = child.eval(input).asInstanceOf[Array[Byte]]
    if (b == null) null else compute(b)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val ref = ctx.addReferenceObj("kernel", this)
    ev.copy(code = code"""
      ${c.code}
      Object ${ev.value}_o = null;
      if (!${c.isNull}) ${ev.value}_o = $ref.compute(${c.value});
      boolean ${ev.isNull} = ${ev.value}_o == null;
      org.apache.spark.sql.catalyst.InternalRow ${ev.value} = ${ev.isNull}
        ? null : (org.apache.spark.sql.catalyst.InternalRow) ${ev.value}_o;
    """)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0))
}

/** graft_mp3_tags(payload): the ID3v2 text frames of an MPEG-audio
  * payload — struct `(title, artist, album)` (frames TIT2 / TPE1 /
  * TALB), the audio sibling of [[ExifTags]]. ID3v2.3 and v2.4 framing:
  * the tag's syncsafe size bounds the walk; v2.3 frame sizes are plain
  * big-endian u32, v2.4 are syncsafe (the classic parser bug is using
  * one for the other — fixtures pin both); an extended header is
  * skipped per-version (v2.3 size EXCLUDES its own 4 bytes, v2.4
  * syncsafe size INCLUDES itself); a zero byte where a frame id should
  * be is padding → stop. Text-frame bodies decode by their encoding
  * byte — 0 Latin-1, 1 UTF-16 with BOM (both orders), 2 UTF-16BE,
  * 3 UTF-8 — read up to the first NUL. ID3v2.2 (the pre-1999 layout
  * still carried by old MP3s in crawls) is handled too: 3-char frame
  * ids (TT2 / TP1 / TAL), 6-byte frame headers with plain big-endian
  * u24 sizes, no frame flags; its header compression bit (0x40, an
  * undefined scheme) returns NULL rather than misparse. Frames with
  * lying sizes stop the walk with whatever was already read; the
  * unsynchronisation flag (0xFF-stuffed bytes, pre-2000 rarity)
  * returns NULL rather than misparse. NULL for payloads bearing no
  * ID3v2 tag at all. */
case class Mp3Tags(child: Expression) extends Expression {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = true
  override lazy val deterministic: Boolean = true
  override def prettyName: String = TilePairs.Mp3TagsName
  override def dataType: DataType = StructType(Seq(
    StructField("title", StringType, nullable = true),
    StructField("artist", StringType, nullable = true),
    StructField("album", StringType, nullable = true)))

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects a binary input")

  def compute(bytes: Array[Byte]): Any = {
    val n = bytes.length
    def u(i: Int): Int = bytes(i) & 0xff
    if (n < 10 || bytes(0) != 'I' || bytes(1) != 'D' || bytes(2) != '3') return null
    val maj = u(3)
    if (maj != 2 && maj != 3 && maj != 4) return null
    val flags = u(5)
    if ((flags & 0x80) != 0) return null // unsynchronised: stuffed bytes
    // v2.2 bit 6 is COMPRESSION (scheme never defined), not ext. header
    if (maj == 2 && (flags & 0x40) != 0) return null
    def syncsafe(i: Int): Int = {
      if ((u(i) | u(i + 1) | u(i + 2) | u(i + 3)) >= 0x80) -1
      else (u(i) << 21) | (u(i + 1) << 14) | (u(i + 2) << 7) | u(i + 3)
    }
    def be32(i: Int): Long =
      (u(i).toLong << 24) | (u(i + 1).toLong << 16) | (u(i + 2).toLong << 8) | u(i + 3).toLong
    def be24(i: Int): Long =
      (u(i).toLong << 16) | (u(i + 1).toLong << 8) | u(i + 2).toLong
    val tagSz = syncsafe(6)
    if (tagSz < 0) return null
    val tagEnd = math.min(n.toLong, 10L + tagSz)
    var pos = 10L
    if (maj != 2 && (flags & 0x40) != 0) { // extended header (v2.3/v2.4)
      if (pos + 4 > tagEnd) return null
      pos +=
        (if (maj == 4) { val s = syncsafe(pos.toInt); if (s < 4) return null; s.toLong }
         else 4L + be32(pos.toInt))
      if (pos < 10L) return null
    }
    var title: Any = null; var artist: Any = null; var album: Any = null
    def text(off: Int, len: Int): Any = {
      if (len < 1) return null
      val enc = u(off)
      val start = off + 1
      val avail = len - 1
      val s: String = enc match {
        case 0 => new String(bytes, start, avail, java.nio.charset.StandardCharsets.ISO_8859_1)
        case 1 =>
          if (avail < 2) return null
          if (u(start) == 0xff && u(start + 1) == 0xfe)
            new String(bytes, start + 2, avail - 2, java.nio.charset.StandardCharsets.UTF_16LE)
          else if (u(start) == 0xfe && u(start + 1) == 0xff)
            new String(bytes, start + 2, avail - 2, java.nio.charset.StandardCharsets.UTF_16BE)
          else return null // encoding 1 REQUIRES a BOM
        case 2 => new String(bytes, start, avail, java.nio.charset.StandardCharsets.UTF_16BE)
        case 3 => new String(bytes, start, avail, java.nio.charset.StandardCharsets.UTF_8)
        case _ => return null
      }
      val cut = s.indexOf(0.toChar) // read up to the first NUL
      org.apache.spark.unsafe.types.UTF8String.fromString(
        if (cut >= 0) s.substring(0, cut) else s)
    }
    // v2.2 frame header: 3-char id + BE u24 size, no flags (6 bytes);
    // v2.3/v2.4: 4-char id + u32/syncsafe size + 2 flag bytes (10 bytes)
    val hdr = if (maj == 2) 6 else 10
    var walking = true
    while (walking && pos + hdr <= tagEnd) {
      val p = pos.toInt
      if (bytes(p) == 0) walking = false // padding reached
      else {
        val fs =
          if (maj == 2) be24(p + 3)
          else if (maj == 4) syncsafe(p + 4).toLong
          else be32(p + 4)
        if (fs < 0 || fs > tagEnd - (pos + hdr)) walking = false // lying size
        else {
          val id = new String(
            bytes, p, if (maj == 2) 3 else 4,
            java.nio.charset.StandardCharsets.US_ASCII)
          val body = p + hdr
          id match {
            case "TIT2" | "TT2" => title = text(body, fs.toInt)
            case "TPE1" | "TP1" => artist = text(body, fs.toInt)
            case "TALB" | "TAL" => album = text(body, fs.toInt)
            case _ => ()
          }
          pos = pos + hdr + fs
        }
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](title, artist, album))
  }

  override def eval(input: InternalRow): Any = {
    val b = child.eval(input).asInstanceOf[Array[Byte]]
    if (b == null) null else compute(b)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val ref = ctx.addReferenceObj("kernel", this)
    ev.copy(code = code"""
      ${c.code}
      Object ${ev.value}_o = null;
      if (!${c.isNull}) ${ev.value}_o = $ref.compute(${c.value});
      boolean ${ev.isNull} = ${ev.value}_o == null;
      org.apache.spark.sql.catalyst.InternalRow ${ev.value} = ${ev.isNull}
        ? null : (org.apache.spark.sql.catalyst.InternalRow) ${ev.value}_o;
    """)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0))
}
