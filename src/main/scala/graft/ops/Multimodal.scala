package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video payloads as opaque `binary`
  * columns with typed metadata (extension beyond the reference surface).
  *
  * The actual media decode (JPEG → pixels, PCM → frames, …) needs native
  * libraries that are NOT in this environment, so the decode step is a
  * clearly-marked DETERMINISTIC STUB ([[fakeEmbedding]]) — the Spark-side
  * contract (binary column, metadata struct, per-row feature extraction as
  * codegen'd expressions, no driver materialization) is real and is what
  * matters at 100 TB. Swapping the stub for a real decoder means replacing
  * one expression with a `mapInArrow`/`mapPartitions` stage of the same
  * schema.
  */
object Multimodal {

  /** Standard metadata for a binary payload column: byte length, md5
    * content fingerprint, a sniffed format, and a length-validated
    * `truncated` flag (null where the format carries no cheap check).
    *
    * Sniffing reads the leading magic bytes (RIFF containers are refined by
    * their form type at offset 8; ISO-BMFF/mp4 by the 'ftyp' box type at
    * offset 4). Truncation checks are per-format trailer/length
    * validations: JPEG must end in the FFD9 EOI marker, PNG in the constant
    * IEND+CRC tail, GIF in the 0x3B trailer, and RIFF's declared
    * little-endian chunk size must equal the payload length − 8. All
    * constant-width slices — no full-payload scan beyond md5. */
  def withBinaryMeta(df: DataFrame, binCol: String): DataFrame = {
    val b = col(binCol)
    val magic = hex(substring(b, 1, 4))
    val boxType = hex(substring(b, 5, 4)) // ISO-BMFF box type at offset 4
    val riffForm = hex(substring(b, 9, 4)) // RIFF form type at offset 8
    val fmt =
      when(magic.startsWith("FFD8"), lit("jpeg"))
        .when(magic.startsWith("89504E47"), lit("png"))
        .when(magic.startsWith("47494638"), lit("gif"))
        .when(magic.startsWith("664C6143"), lit("flac"))
        .when(magic.startsWith("4F676753"), lit("ogg")) // OggS capture
        .when(magic.startsWith("52494646"),
          when(riffForm === "57454250", lit("webp"))
            .when(riffForm === "57415645", lit("wav"))
            .when(riffForm === "41564920", lit("avi"))
            .otherwise(lit("riff")))
        // ISO-BMFF: refine still-image brands off the generic mp4 arm —
        // avif/avis (AV1 Image Format) and the HEIF family heic/heix/
        // heif/mif1/msf1 — by the major brand at offset 8
        .when(boxType === "66747970",
          when(hex(substring(b, 9, 4)).isin("61766966", "61766973"),
            lit("avif"))
            .when(hex(substring(b, 9, 4)).isin(
              "68656963", "68656978", "68656966", "6D696631", "6D736631"),
              lit("heic"))
            .otherwise(lit("mp4")))
        // EBML magic: WebM and Matroska share it; the DocType string
        // floats at a variable offset, against the sniffer's fixed-slice
        // rule, so no further refinement — 'webm' is the dominant crawl
        // reality for this container
        .when(magic === "1A45DFA3", lit("webm"))
        .when(magic.startsWith("494433"), lit("mp3")) // ID3v2-tagged
        .when(magic.rlike("^FF[EF]"), lit("mp3")) // bare MPEG frame sync
        .when(magic === "25504446", lit("pdf")) // %PDF
        .when(magic.startsWith("1F8B"), lit("gzip"))
        .otherwise(lit("unknown"))
    // RIFF header: bytes 4-7 are the chunk size (little endian), which for a
    // complete file equals total length − 8
    val riffDeclared = conv(
      concat(
        hex(substring(b, 8, 1)), hex(substring(b, 7, 1)),
        hex(substring(b, 6, 1)), hex(substring(b, 5, 1))),
      16, 10).cast("long")
    df.withColumn("n_bytes", length(b))
      .withColumn("content_md5", md5(b))
      .withColumn("format", fmt)
      .withColumn(
        "truncated",
        when(fmt === "jpeg", hex(substring(b, -2, 2)) =!= "FFD9")
          .when(fmt === "png", hex(substring(b, -8, 8)) =!= "49454E44AE426082")
          .when(fmt === "gif", hex(substring(b, -1, 1)) =!= "3B")
          .when(fmt.isin("webp", "wav", "avi", "riff"),
            length(b).cast("long") =!= riffDeclared + 8L)
          // PDF: the %%EOF marker must sit in the last KiB (ISO 32000
          // allows trailing bytes after it, so a containment check on
          // the tail — not an exact-suffix check — is the correct test).
          // The hex match is anchored to EVEN offsets via ^(..)* — a bare
          // substring search could hit 2525454F46 at an odd NIBBLE
          // boundary (tail bytes ..x2 52 54 5F 46 x..) and report a
          // truncated PDF complete; same regex in the DuckDB oracle.
          .when(fmt === "pdf",
            !hex(substring(b, -1024, 1024)).rlike("^(..)*2525454F46"))
          .otherwise(lit(null).cast("boolean")))
  }

  /** REAL image dimensions from header bytes — no codec needed, so this
    * is NOT part of the decode stub: PNG stores width/height as
    * big-endian 32-bit ints at fixed IHDR offsets (bytes 17-24, after
    * the 8-byte signature + chunk length + "IHDR"), GIF as little-endian
    * 16-bit ints in the logical screen descriptor (bytes 7-10), and JPEG
    * — the majority format of a real crawl — as big-endian 16-bit ints
    * in the SOF frame header, which floats at a VARIABLE offset behind
    * APPn/DQT/DHT segments and is found by the bounded marker walk of
    * [[graft.functions.JpegDims]] (O(#segments) jumps, never a decode).
    * WebP — the second-most-common crawl format — walks its
    * RIFF chunks to the codec chunk via [[graft.functions.WebpDims]]
    * (all three container shapes: VP8 lossy, VP8L lossless, VP8X
    * extended canvas). AVIF/HEIC — the fastest-growing web image
    * formats — walk ISO-BMFF boxes to the PRIMARY item's `ispe` via
    * [[graft.functions.IsoBmffDims]] (pitm/ipma resolution with a
    * first-ispe fallback; brand-gated here: avif/avis/heic/heix/heif/
    * mif1/msf1). Appends
    * `img_width`/`img_height`, NULL for any
    * other format and for payloads too short (or too malformed) to
    * carry their header. One narrow projection. */
  def imageDims(df: DataFrame, binCol: String): DataFrame = {
    graft.core.Validators.requireColumns(df, Seq(binCol))
    graft.core.Validators.requireColumnsAbsent(
      df, Seq("img_width", "img_height"), "imageDims")
    val b = col(binCol)
    def beInt(off: Int): Column =
      conv(hex(substring(b, off, 4)), 16, 10).cast("long")
    def leShort(off: Int): Column =
      conv(hex(substring(b, off + 1, 1)), 16, 10).cast("long") * 256 +
        conv(hex(substring(b, off, 1)), 16, 10).cast("long")
    val isPng = length(b) >= 24 &&
      hex(substring(b, 1, 8)) === "89504E470D0A1A0A" &&
      hex(substring(b, 13, 4)) === "49484452" // the IHDR tag itself
    val isGif = length(b) >= 10 &&
      hex(substring(b, 1, 6)).isin("474946383761", "474946383961")
    val isJpeg = length(b) >= 4 && hex(substring(b, 1, 2)) === "FFD8"
    val isWebp = length(b) >= 16 && hex(substring(b, 1, 4)) === "52494646" &&
      hex(substring(b, 9, 4)) === "57454250"
    // ISO-BMFF still images, gated by the major brand (the kernel walks
    // any ftyp-led box grammar; brand policy lives here with the sniffer)
    val isAvifHeic = length(b) >= 16 && hex(substring(b, 5, 4)) === "66747970" &&
      hex(substring(b, 9, 4)).isin("61766966", "61766973",
        "68656963", "68656978", "68656966", "6D696631", "6D736631")
    val jpegDims = call_function(graft.functions.TilePairs.JpegDimsName, b)
    val webpDims = call_function(graft.functions.TilePairs.WebpDimsName, b)
    val bmffDims = call_function(graft.functions.TilePairs.IsoBmffDimsName, b)
    // one shared array value per row: width/height read the same walk
    // result (whole-stage codegen CSEs the identical deterministic
    // subtree — the walk runs once, not twice)
    df.withColumn("img_width",
      when(isPng, beInt(17)).when(isGif, leShort(7))
        .when(isJpeg, element_at(jpegDims, 1))
        .when(isWebp, element_at(webpDims, 1))
        .when(isAvifHeic, element_at(bmffDims, 1)))
      .withColumn("img_height",
        when(isPng, beInt(21)).when(isGif, leShort(9))
          .when(isJpeg, element_at(jpegDims, 2))
          .when(isWebp, element_at(webpDims, 2))
          .when(isAvifHeic, element_at(bmffDims, 2)))
  }

  /** Segment cap of [[jpegDimsFallback]]'s unrolled walk. Real-world
    * headers sit behind <20 segments; multi-segment ICC profiles can add
    * a few dozen more — a header deeper than this reads as NULL on the
    * reference path (the kernel has no such cap; its loop is bounded by
    * the forward-progress guarantee alone). */
  val MaxJpegSegments = 48

  /** Pure-Column twin of [[graft.functions.JpegDims]] — the same marker
    * walk as an `aggregate` fold over at most [[MaxJpegSegments]] steps
    * (state = (pos, w, h); pos −1 encodes "stopped"). Bit-parity with the
    * kernel is pinned in FunctionsSpec; the operators call the kernel. */
  private[graft] def jpegDimsFallback(b: Column): Column = {
    val n = length(b).cast("long")
    def byteAt(pos: Column): Column =
      conv(hex(b.substr((pos + 1).cast("int"), lit(1))), 16, 10).cast("long")
    def be16(pos: Column): Column = byteAt(pos) * 256 + byteAt(pos + 1)
    def st(pos: Column, w: Column, h: Column): Column =
      struct(pos.as("pos"), w.as("w"), h.as("h"))
    val folded = aggregate(
      sequence(lit(1), lit(MaxJpegSegments)),
      st(lit(2L), lit(-1L), lit(-1L)),
      (s, _) => {
        val pos = s.getField("pos")
        val w = s.getField("w")
        val h = s.getField("h")
        val keep = st(pos, w, h)
        val fail = st(lit(-1L), w, h)
        val code = byteAt(pos + 1)
        val len = be16(pos + 2)
        val isSof = (code >= 192L && code <= 207L) &&
          code =!= 196L && code =!= 200L && code =!= 204L
        when(pos < 0 || w >= 0 || pos + 3 >= n, keep) // stopped / found / short
          .when(byteAt(pos) =!= 255L, fail) // lost framing
          .when(code === 255L, st(pos + 1, w, h)) // fill byte
          .when(code === 216L || code === 1L ||
            (code >= 208L && code <= 215L), st(pos + 2, w, h)) // standalone
          .when(code === 217L || code === 218L, fail) // EOI / SOS first
          .when(len < 2L, fail) // malformed length
          .when(isSof && (pos + 8 >= n || len < 7L), fail)
          .when(isSof, st(lit(-1L), be16(pos + 7), be16(pos + 5)))
          .otherwise(st(pos + 2L + len, w, h))
      })
    when(
      n >= 4 && hex(b.substr(1, 2)) === "FFD8" && folded.getField("w") >= 0,
      array(folded.getField("w"), folded.getField("h")))
  }

  /** REAL EXIF orientation from header bytes (JPEG APP1 → TIFF IFD walk,
    * [[graft.functions.ExifOrientation]]): appends `img_orientation`
    * (1-8, NULL when absent/malformed) and — when the frame dims are
    * also present — `display_width`/`display_height`, the dims AS SHOWN:
    * orientations 5-8 are the transposed ones, so raw SOF width/height
    * swap. A pipeline that filters or buckets by aspect ratio without
    * this reads every portrait phone photo as landscape. Expects the
    * [[imageDims]] columns when `withDisplayDims = true`. */
  def withExifOrientation(
      df: DataFrame, binCol: String, withDisplayDims: Boolean = true): DataFrame = {
    graft.core.Validators.requireColumns(df,
      Seq(binCol) ++ (if (withDisplayDims) Seq("img_width", "img_height") else Nil))
    graft.core.Validators.requireColumnsAbsent(
      df, Seq("img_orientation") ++
        (if (withDisplayDims) Seq("display_width", "display_height") else Nil),
      "withExifOrientation")
    val out = df.withColumn("img_orientation",
      call_function(graft.functions.TilePairs.ExifOrientationName, col(binCol)))
    if (!withDisplayDims) out
    else {
      val transposed = col("img_orientation") >= 5
      out
        .withColumn("display_width",
          when(transposed, col("img_height")).otherwise(col("img_width")))
        .withColumn("display_height",
          when(transposed, col("img_width")).otherwise(col("img_height")))
    }
  }

  /** REAL camera-provenance tags from header bytes
    * ([[graft.functions.ExifTags]]): appends `exif_make`, `exif_model`,
    * `exif_software` (IFD0 ASCII tags 0x010F/0x0110/0x0131; each NULL
    * when absent, all NULL without parseable EXIF). Device priors for
    * curation, and the `software` tag is the cheap synthetic/edited
    * screen — editor names land there. */
  def withExifTags(df: DataFrame, binCol: String): DataFrame = {
    graft.core.Validators.requireColumns(df, Seq(binCol))
    graft.core.Validators.requireColumnsAbsent(
      df, Seq("exif_make", "exif_model", "exif_software"), "withExifTags")
    val t = call_function(graft.functions.TilePairs.ExifTagsName, col(binCol))
    df.withColumn("__graft_xt", t)
      .withColumn("exif_make", col("__graft_xt.make"))
      .withColumn("exif_model", col("__graft_xt.model"))
      .withColumn("exif_software", col("__graft_xt.software"))
      .drop("__graft_xt")
  }

  /** REAL audio-provenance tags from header bytes
    * ([[graft.functions.Mp3Tags]]): appends `mp3_title`, `mp3_artist`,
    * `mp3_album` from the ID3v2 text frames (TIT2/TPE1/TALB; v2.3 and
    * v2.4 framing, all four text encodings) — the audio sibling of
    * [[withExifTags]]. Each NULL when the frame is absent; all NULL for
    * payloads bearing no ID3v2 tag. */
  def withMp3Tags(df: DataFrame, binCol: String): DataFrame = {
    graft.core.Validators.requireColumns(df, Seq(binCol))
    graft.core.Validators.requireColumnsAbsent(
      df, Seq("mp3_title", "mp3_artist", "mp3_album"), "withMp3Tags")
    val t = call_function(graft.functions.TilePairs.Mp3TagsName, col(binCol))
    df.withColumn("__graft_id3", t)
      .withColumn("mp3_title", col("__graft_id3.title"))
      .withColumn("mp3_artist", col("__graft_id3.artist"))
      .withColumn("mp3_album", col("__graft_id3.album"))
      .drop("__graft_id3")
  }

  /** REAL text extraction from PDF payloads ([[graft.functions.PdfText]]):
    * appends `pdf_text` — the concatenated string operands of the
    * text-showing operators across every unfiltered or FlateDecode
    * content stream, NULL for non-PDF bytes, encrypted documents, and
    * PDFs yielding no extractable text. PDFs are the largest non-HTML
    * text reservoir in a crawl; this plugs them into the text-quality /
    * dedup / langid stack with one projection. Rule-based with honest
    * boundaries (no DCT/JPX/LZW filters, no CMap remapping) — see the
    * kernel doc. */
  def withPdfText(df: DataFrame, binCol: String): DataFrame = {
    graft.core.Validators.requireColumns(df, Seq(binCol))
    graft.core.Validators.requireColumnsAbsent(df, Seq("pdf_text"), "withPdfText")
    df.withColumn("pdf_text",
      call_function(graft.functions.TilePairs.PdfTextName, col(binCol)))
  }

  /** REAL document metadata from PDF payloads
    * ([[graft.functions.PdfInfo]]): appends `pdf_title`, `pdf_author`,
    * `pdf_creator`, `pdf_producer`, `pdf_created` from the Info
    * dictionary (last `/Info` reference wins — incremental updates).
    * The provenance screen for PDF corpora: generator tools land in
    * creator/producer (the synthetic/converted filter), titles feed
    * metadata dedup, dates feed recrawl priors. Each NULL when absent
    * or indirect; all NULL for non-PDF / encrypted / Info-less
    * payloads. */
  def withPdfInfo(df: DataFrame, binCol: String): DataFrame = {
    graft.core.Validators.requireColumns(df, Seq(binCol))
    graft.core.Validators.requireColumnsAbsent(
      df, Seq("pdf_title", "pdf_author", "pdf_creator", "pdf_producer",
        "pdf_created"), "withPdfInfo")
    val t = call_function(graft.functions.TilePairs.PdfInfoName, col(binCol))
    df.withColumn("__graft_pi", t)
      .withColumn("pdf_title", col("__graft_pi.title"))
      .withColumn("pdf_author", col("__graft_pi.author"))
      .withColumn("pdf_creator", col("__graft_pi.creator"))
      .withColumn("pdf_producer", col("__graft_pi.producer"))
      .withColumn("pdf_created", col("__graft_pi.created"))
      .drop("__graft_pi")
  }

  /** REAL EXIF GPS report from header bytes ([[graft.functions.ExifGps]]):
    * appends `gps_present` (true whenever IFD0 carries a GPS Info pointer —
    * even an unparseable one: the privacy gate must flag what it cannot
    * read), `gps_lat`, `gps_lon` (signed decimal degrees, NULL when the
    * rational triples are absent or defective). All three NULL for
    * payloads with no parseable EXIF. The report half of the
    * image-corpus privacy-release gate; [[stripExifGps]] is the scrub
    * half. */
  def withExifGps(df: DataFrame, binCol: String): DataFrame = {
    graft.core.Validators.requireColumns(df, Seq(binCol))
    graft.core.Validators.requireColumnsAbsent(
      df, Seq("gps_present", "gps_lat", "gps_lon"), "withExifGps")
    val g = call_function(graft.functions.TilePairs.ExifGpsName, col(binCol))
    df.withColumn("__graft_gps", g)
      .withColumn("gps_present", col("__graft_gps.gps_present"))
      .withColumn("gps_lat", col("__graft_gps.lat"))
      .withColumn("gps_lon", col("__graft_gps.lon"))
      .drop("__graft_gps")
  }

  /** Scrub EXIF GPS in place ([[graft.functions.ExifGpsStrip]]): replaces
    * `binCol` with a same-size payload whose GPS sub-IFD (coordinate
    * rationals included) is zeroed and whose IFD0 GPS pointer entry is
    * severed — every other byte (dims, orientation, the image itself)
    * survives untouched, because TIFF offsets are absolute and deletion
    * would corrupt them. Payloads without EXIF or without GPS pass
    * through unchanged, so the scrub is safe to run unconditionally
    * across a mixed corpus. [[withExifGps]] on the result reports
    * `gps_present = false`. */
  def stripExifGps(df: DataFrame, binCol: String): DataFrame = {
    graft.core.Validators.requireColumns(df, Seq(binCol))
    df.withColumn(binCol,
      call_function(graft.functions.TilePairs.ExifGpsStripName, col(binCol)))
  }

  /** REAL media duration from header bytes — no codec, like [[imageDims]]:
    * RIFF/WAVE payloads walk their chunk chain to `fmt `'s byte rate and
    * `data`'s declared size ([[graft.functions.RiffDuration]] — even-offset
    * padding handled); ISO-BMFF (mp4/mov) payloads walk the box chain to
    * `moov`→`mvhd`'s timescale/duration ([[graft.functions.Mp4Duration]] —
    * 64-bit largesize and both mvhd versions handled); MPEG-audio (mp3)
    * payloads skip the ID3v2 tag, validate the first frame header, and
    * read the Xing/Info VBR frame count — or fall back to declared-bitrate
    * CBR math — ([[graft.functions.Mp3Duration]]); FLAC payloads read
    * STREAMINFO's packed sample-rate/total-samples fields
    * ([[graft.functions.FlacDuration]]); Ogg Vorbis/Opus payloads walk
    * the page chain to the last intact granule position
    * ([[graft.functions.OggDuration]] — Opus pre-skip subtracted, 48 kHz
    * granule clock); WebM/Matroska payloads walk EBML elements to
    * `Info`'s TimestampScale × Duration ([[graft.functions.WebmDuration]]
    * — float duration rounded to the nanosecond numerator, unknown-size
    * streamed Segments handled). Appends
    * `media_duration_sec` (seconds — the RAW num/den division, no
    * rounding: int64/int64 division is correctly rounded IEEE-754, so
    * any engine reproduces it bit-exactly, whereas rounding to N
    * decimals forks on half-way ties that the exact pair freely
    * generates) and the raw `media_dur_num`/`media_dur_den` pair, NULL
    * for other formats or unparseable headers. A truncated
    * capture with an intact header still answers — the declared duration
    * is what a curation pipeline filters on. One narrow projection,
    * whole-stage codegen. */
  def withMediaDuration(df: DataFrame, binCol: String): DataFrame = {
    graft.core.Validators.requireColumns(df, Seq(binCol))
    graft.core.Validators.requireColumnsAbsent(
      df, Seq("media_duration_sec", "media_dur_num", "media_dur_den"),
      "withMediaDuration")
    val b = col(binCol)
    val isWav = length(b) >= 12 && hex(substring(b, 1, 4)) === "52494646" &&
      hex(substring(b, 9, 4)) === "57415645"
    val isMp4 = length(b) >= 12 && hex(substring(b, 5, 4)) === "66747970"
    // mp3 sniff: an ID3v2 tag, or a bare MPEG frame sync (11 set bits —
    // the hex of the first two bytes is FFEx/FFFx; JPEG's FFD8 never
    // matches, and WAV/MP4 are sniffed first anyway)
    val isMp3 = length(b) >= 4 && (hex(substring(b, 1, 3)) === "494433" ||
      hex(substring(b, 1, 2)).rlike("^FF[EF]"))
    val isFlac = length(b) >= 4 && hex(substring(b, 1, 4)) === "664C6143"
    val isOgg = length(b) >= 27 && hex(substring(b, 1, 4)) === "4F676753"
    val isWebm = length(b) >= 4 && hex(substring(b, 1, 4)) === "1A45DFA3"
    val pair =
      when(isWav, call_function(graft.functions.TilePairs.RiffDurationName, b))
        .when(isMp4, call_function(graft.functions.TilePairs.Mp4DurationName, b))
        .when(isFlac, call_function(graft.functions.TilePairs.FlacDurationName, b))
        .when(isOgg, call_function(graft.functions.TilePairs.OggDurationName, b))
        .when(isWebm, call_function(graft.functions.TilePairs.WebmDurationName, b))
        .when(isMp3, call_function(graft.functions.TilePairs.Mp3DurationName, b))
    df.withColumn("__graft_md", pair)
      .withColumn("media_dur_num", element_at(col("__graft_md"), 1))
      .withColumn("media_dur_den", element_at(col("__graft_md"), 2))
      .withColumn("media_duration_sec",
        col("media_dur_num").cast("double") /
          col("media_dur_den").cast("double"))
      .drop("__graft_md")
  }

  /** DETERMINISTIC STUB for the decode + feature-extract step: a `dim`-long
    * pseudo-embedding derived from content hashes, values in [0, 1). A real
    * deployment replaces this with an actual decoder producing the same
    * `array<double>` schema.
    *
    * Component i = first 32 bits of md5(hex(payload) + "#" + i) / 2³². Built
    * from md5/hex only (no engine-specific hash), so the value is
    * reproducible in any SQL engine — the driver's DuckDB oracle recomputes
    * it exactly; division by 2³² is lossless in binary64. */
  def fakeEmbedding(bin: Column, dim: Int): Column =
    transform(
      sequence(lit(1), lit(dim)),
      i =>
        conv(
          substring(md5(concat(upper(hex(bin)), lit("#"), i.cast("string"))), 1, 8),
          16, 10)
          .cast("double") / lit(4294967296.0))

  /** STUB frame sampler: byte-range slices standing in for decoded frames —
    * real video decode would emit one row per sampled frame with the same
    * (frame_idx, frame_bytes) schema. */
  /** Frame-hash near-duplicate detection over binary payloads — the
    * multimodal sibling of MinHash near-dup: sample every-Nth-byte frames
    * ([[sampleFrames]]' slices; real decode would emit real frames with
    * the same schema), hash each frame, and pair documents sharing at
    * least `minOverlap` of the smaller side's distinct frame hashes — the
    * standard cheap screen for re-encoded/re-uploaded video copies.
    *
    * Scale shape: the frame hash IS the bucket key (identical frames
    * co-locate, nothing else meets), buckets carry sorted member arrays
    * through [[BucketCap.capped]] — a ubiquitous frame (black screen,
    * silence) hits the cap and is DROPPED WITH ACCOUNTING instead of
    * exploding quadratically — and the pair expansion is per-bucket.
    * Hashing (md5 of the frame's hex form, the [[fakeEmbedding]]
    * portability convention) cuts the shuffle to 32 chars per frame
    * whatever `frameBytes` is. Counts join back unhinted (AQE broadcasts
    * the small side), as in the kNN-graph id map.
    *
    * Output: (id_a, id_b, shared_frames, overlap), overlap 9-decimal-
    * rounded, id_a < id_b. */
  def frameHashNearDupPairs(
      df: DataFrame,
      idCol: String,
      binCol: String,
      everyNBytes: Int,
      frameBytes: Int,
      minOverlap: Double,
      maxBucketSize: Int = 1024): DataFrame = {
    require(minOverlap > 0.0 && minOverlap <= 1.0, "minOverlap must be in (0, 1]")
    require(maxBucketSize >= 2, "maxBucketSize must be >= 2")
    require(everyNBytes >= 1, "everyNBytes must be >= 1")
    require(frameBytes >= 1, "frameBytes must be >= 1")
    graft.core.Validators.requireColumns(df, Seq(idCol, binCol))
    val fd = sampleFrames(df.select(col(idCol).as("id"), col(binCol)),
      binCol, everyNBytes, frameBytes)
      .select(col("id"), md5(upper(hex(col("frame"))).cast("binary")).as("fh"))
      .distinct()
    val counts = fd.groupBy("id").agg(count(lit(1)).as("nf"))
    val buckets = BucketCap.capped(
      fd.groupBy("fh").agg(sort_array(collect_list(col("id"))).as("xs")),
      maxBucketSize, "frameHashNearDupPairs")
    val pairs = buckets
      .select(explode(flatten(transform(col("xs"), (a, i) =>
        transform(slice(col("xs"), i + lit(2), size(col("xs"))), b =>
          struct(a.as("id_a"), b.as("id_b")))))).as("p"))
      .select(col("p.id_a"), col("p.id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("shared_frames"))
    pairs
      .join(counts.withColumnRenamed("id", "id_a").withColumnRenamed("nf", "__na"), "id_a")
      .join(counts.withColumnRenamed("id", "id_b").withColumnRenamed("nf", "__nb"), "id_b")
      .withColumn("overlap",
        round(col("shared_frames").cast("double") /
          least(col("__na"), col("__nb")).cast("double"), 9))
      .filter(col("overlap") >= minOverlap)
      .select("id_a", "id_b", "shared_frames", "overlap")
  }

  def sampleFrames(df: DataFrame, binCol: String, everyNBytes: Int, frameBytes: Int): DataFrame = {
    val b = col(binCol)
    val nFrames = floor(length(b) / everyNBytes).cast("int")
    // Guard the sequence: for payloads shorter than everyNBytes,
    // sequence(0, -1) would yield [0, -1] (step inferred backwards) and emit
    // two bogus frames — short payloads must produce zero rows instead.
    df.withColumn(
        "frame_idx",
        explode(
          when(nFrames > 0, sequence(lit(0), nFrames - 1))
            .otherwise(array().cast("array<int>"))))
      .withColumn(
        "frame",
        expr(s"substring($binCol, frame_idx * $everyNBytes + 1, $frameBytes)"))
  }
}
