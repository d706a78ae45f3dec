package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.json4s.{JArray, JString}

import graft.core.ModelIO

/** Byte-pair-encoding subword tokenization (extension beyond the reference
  * surface, SURVEY §2.11) — the tokenizer-aware leg of the token-budget
  * operators: [[Sampling.sampleTokenBudget]], [[Sampling.packSequences]],
  * [[graft.sources.Writer.shardByTokenBudget]] and [[TextOps.chunkTokens]]
  * all take an arbitrary token-count/token-array input, so budgeting in REAL
  * subword tokens (not whitespace proxies) is just `bpeTokenCount` composed
  * in front of them (see SparkEntry's `sample_token_budget_bpe`).
  *
  * The tokenizer is a fixed merge table applied sequentially in rank order;
  * each merge rewrites all left-to-right non-overlapping occurrences of its
  * adjacent token pair (Sennrich et al. 2016 — for merge tables in valid
  * training order this equals the classic lowest-rank-present loop; see
  * [[graft.functions.BpeEncode]]). Initial tokens are code points, spaces
  * are ordinary tokens, so a merge table without space-containing tokens
  * never merges across words. Semantics are engine-portable BY CONSTRUCTION:
  * over the U+001F double-separator string encoding, one merge is ONE plain
  * string REPLACE, so any SQL engine replays tokenization with nested
  * REPLACE calls (the DuckDB oracle does exactly that).
  *
  * Scale shape: tokenization is a per-row narrow projection (the native
  * graft_bpe_encode kernel — one primitive loop per row, whole-stage
  * codegen). The merge table travels as a plan literal like graft_ivf_cell's centroids —
  * fine for the ≤ 64k-entry tables real tokenizers use (a few hundred KB,
  * shipped once per executor with the task closure). Fitting samples the
  * corpus (like IVF's capped-Lloyd) and runs one small aggregation job per
  * merge learned.
  */
object Bpe {

  /** The token separator of the portable string encoding (stripped from
    * input text before tokenization so it can never be confused with a
    * token character). */
  val Sep = "\u001f"
  private val Sep2 = Sep + Sep

  /** GPT-2-style regex pre-tokenizer (contractions, space-prefixed letter
    * runs, space-prefixed digit runs, space-prefixed punctuation runs,
    * whitespace runs) — the trainer-convention alternative to the default
    * word-internal mode: merges stay INSIDE pre-tokens, so " the" can
    * become one token (space-glued) while "3.14" can never fuse across
    * the digit/punctuation boundary. RE2-COMPATIBLE by construction (the
    * upstream GPT-2 pattern's `\s+(?!\S)` lookahead branch is dropped —
    * a whitespace run stays one pre-token instead of donating its last
    * space to the next word), so the DuckDB oracle replays the split
    * byte-for-byte. Case-sensitive contractions, the GPT-2 convention. */
  val Gpt2PretokPattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"

  /** The cl100k_base pre-tokenizer (the GPT-4-family regex, verbatim):
    * case-insensitive contractions, words with ONE optional leading
    * non-letter, digit runs capped at THREE (the "number chunking" that
    * keeps long numbers from exploding the vocab), punctuation runs
    * swallowing trailing newlines, and the trailing-space donation rule
    * (`\s+(?!\S)` leaves the last space for the next word). Java-regex
    * only: the possessive quantifiers (`?+`, `++`) and the lookahead do
    * NOT exist in RE2, so a query needing the DuckDB oracle replay uses
    * [[Gpt2PretokPattern]] instead — this constant is for production
    * application of cl100k-FAMILY rank files only ([[O200kPretokPattern]]
    * for GPT-4o/o1-family files — o200k ships a materially DIFFERENT
    * regex). The `(?U)` prefix turns on UNICODE_CHARACTER_CLASS: Java's
    * `\s` is ASCII-only by default while tiktoken's engine treats `\s`
    * as Unicode whitespace, so without it NBSP/U+3000 runs (common in
    * web corpora) would match the punctuation branch instead of `\s+`
    * and the measured boundaries would describe a tokenizer nobody
    * runs. */
  val Cl100kPretokPattern: String =
    "(?U)'(?i:[sdmt]|ll|ve|re)|[^\\r\\n\\p{L}\\p{N}]?+\\p{L}+|\\p{N}{1,3}|" +
      " ?[^\\s\\p{L}\\p{N}]++[\\r\\n]*|\\s*[\\r\\n]|\\s+(?!\\S)|\\s+"

  /** The o200k_base pre-tokenizer (the GPT-4o/o1-family regex, verbatim
    * from the published rank-file metadata): two word branches carrying
    * FULL case structure (an optional non-letter, then optional
    * uppercase/titlecase prefix + lowercase run — or the reverse — with
    * the contraction as an optional SUFFIX inside the branch, unlike
    * cl100k's standalone leading-quote branch), three-digit number
    * chunking, punctuation runs swallowing trailing newlines AND
    * slashes (`[\r\n/]*` — the URL-path rule new in o200k), newline
    * runs (`[\r\n]+`, vs cl100k's single `[\r\n]`), and the same
    * trailing-space donation. Java-regex only (the `(?!\S)` lookahead
    * is not RE2); `(?U)` for Unicode `\s` exactly as
    * [[Cl100kPretokPattern]]. Oracle-replayed queries keep using
    * [[Gpt2PretokPattern]] — this constant is for production
    * application of o200k-family rank files. */
  val O200kPretokPattern: String =
    "(?U)[^\\r\\n\\p{L}\\p{N}]?[\\p{Lu}\\p{Lt}\\p{Lm}\\p{Lo}\\p{M}]*" +
      "[\\p{Ll}\\p{Lm}\\p{Lo}\\p{M}]+(?i:'s|'t|'re|'ve|'m|'ll|'d)?|" +
      "[^\\r\\n\\p{L}\\p{N}]?[\\p{Lu}\\p{Lt}\\p{Lm}\\p{Lo}\\p{M}]+" +
      "[\\p{Ll}\\p{Lm}\\p{Lo}\\p{M}]*(?i:'s|'t|'re|'ve|'m|'ll|'d)?|" +
      "\\p{N}{1,3}| ?[^\\s\\p{L}\\p{N}]+[\\r\\n/]*|\\s*[\\r\\n]+|" +
      "\\s+(?!\\S)|\\s+"

  /** A fitted BPE merge table, in rank order. Persists as a
    * [[graft.core.ModelIO]] directory artifact holding only `bpe.json`
    * (merge tables are dictionary-sized — no parquet needed). */
  final case class BpeModel(merges: Seq[(String, String)]) {
    merges.foreach { case (a, b) =>
      require(a.nonEmpty && b.nonEmpty && !a.contains(Sep) && !b.contains(Sep),
        "BpeModel: merge tokens must be non-empty and must not contain U+001F")
    }

    /** Flattened [a1, b1, a2, b2, …] — the kernel's literal argument. */
    def flat: Seq[String] = merges.flatMap { case (a, b) => Seq(a, b) }

    def save(dir: String): Unit =
      ModelIO.saveArtifact(dir, 1, Seq("merges" -> JArray(merges.toList.map { case (a, b) =>
        JArray(List(JString(a), JString(b)))
      })), file = "bpe.json")
  }

  object BpeModel {
    def load(dir: String): BpeModel = {
      val merges = (ModelIO.readRecord(dir, "bpe.json") \ "merges") match {
        case JArray(items) => items.map {
          case JArray(List(JString(a), JString(b))) => (a, b)
          case other => throw graft.errors.FeatureFactoryException.InvalidParameter(
            s"BpeModel.load: malformed merge entry $other")
        }
        case other => throw graft.errors.FeatureFactoryException.InvalidParameter(
          s"BpeModel.load: 'merges' must be an array, got $other")
      }
      BpeModel(merges)
    }
  }

  /** `text` → the U+001F double-separator code-point encoding
    * (`␟␟c1␟␟c2␟␟…␟␟`; empty string for empty OR NULL text — the kernel
    * returns an empty token array for NULL, and the fallback must agree
    * whatever the session's extension config). Shared by the fallback
    * tokenizer and [[bpeFit]] so the two can never disagree with the
    * kernel's code-point split. */
  private[ops] def encode0(text: Column): Column = {
    val cleaned = regexp_replace(coalesce(text, lit("")), Sep, "")
    val chars = filter(split(cleaned, ""), c => c =!= "")
    when(size(chars) === 0, lit(""))
      .otherwise(concat(lit(Sep2), array_join(chars, Sep2), lit(Sep2)))
  }

  /** [[encode0]] under a regex pre-tokenizer: each pre-token encodes
    * independently and the per-pre-token encodings CONCATENATE — the
    * boundary between two pre-tokens is therefore FOUR separators
    * (`…b␟␟␟␟c…`), which no merge pattern (`␟a␟␟b␟`, tokens never
    * containing U+001F) can ever span: boundaries are structurally
    * un-mergeable, no filtering needed. [[decodeTokens]] reads the
    * result unchanged (the boundary splits as an empty element and is
    * filtered). Shared by the fallback tokenizer and [[bpeFit]]'s
    * pretok mode so they can never disagree. */
  private[ops] def encode0Pretok(text: Column, pattern: String): Column = {
    val cleaned = regexp_replace(coalesce(text, lit("")), Sep, "")
    val pts = regexp_extract_all(cleaned, lit(pattern), lit(0))
    array_join(
      transform(pts, t =>
        concat(lit(Sep2),
          array_join(filter(split(t, ""), c => c =!= ""), Sep2),
          lit(Sep2))),
      "")
  }

  /** Inverse of the encoding: token array of an encoded string. */
  private[ops] def decodeTokens(enc: Column): Column =
    filter(split(trim(enc, Sep), Sep2), t => t =!= "")

  /** One merge step over the encoded string: plain REPLACE of
    * `␟a␟␟b␟` with `␟ab␟` — all left-to-right non-overlapping occurrences,
    * exactly the kernel's single-pass semantics (the shared boundary
    * separator makes adjacent matches chain correctly). */
  private[ops] def mergeStep(enc: Column, a: String, b: String): Column =
    call_function("replace", enc, lit(Sep + a + Sep2 + b + Sep), lit(Sep + a + b + Sep))

  // ── external tokenizer import (GPT-2 file formats + byte alphabet) ───

  /** GPT-2's byte→unicode alphabet (Radford et al. 2019, the
    * `bytes_to_unicode` table every GPT-2-family tokenizer shares):
    * printable latin bytes map to themselves ('!'..'~', '¡'..'¬',
    * '®'..'ÿ') and every other byte to U+0100+n in byte order — so a
    * space is 'Ġ' (U+0120) and a newline 'Ċ' (U+010A), the characters a
    * production merges.txt is full of. Keyed by UPPERCASE two-digit hex
    * (what Spark's `hex` emits). */
  lazy val Gpt2ByteMap: Seq[(String, String)] =
    graft.functions.BpeBytes.Alphabet.zipWithIndex.map { case (c, b) =>
      f"$b%02X" -> c
    }.toSeq

  /** `text` → its GPT-2 byte-alphabet form: UTF-8 bytes, each mapped
    * through [[Gpt2ByteMap]] (NULL → empty string, the tokenizer's null
    * convention). One narrow projection — hex + a 256-entry plan-literal
    * map probe per byte; every output code point is one INPUT BYTE, so
    * downstream merges operate on bytes exactly like the production
    * tokenizer. SQL-replayable: any engine recomputes it from hex pairs
    * and a dumped map table. */
  def gpt2ByteEncode(text: Column): Column = {
    val m = typedLit(Gpt2ByteMap.toMap)
    array_join(
      transform(
        regexp_extract_all(
          hex(encode(coalesce(text, lit("")), "UTF-8")), lit(".."), lit(0)),
        h => element_at(m, h)),
      "")
  }

  /** Load a PRODUCTION GPT-2-format `merges.txt` into a [[BpeModel]]: an
    * optional `#version:` header line, then one `a b` pair per line in
    * rank order (tokens in the byte alphabet — apply with
    * `byteLevel = true` and [[Gpt2PretokPattern]], the trainer's
    * configuration, so token budgets are computed against the tokenizer
    * a production model actually uses). Blank lines are skipped; any
    * other malformed line is a LOUD InvalidParameter — a silently
    * dropped merge would shift every later rank. */
  def loadGpt2Merges(path: String): BpeModel = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try {
      val merges = src.getLines().zipWithIndex.flatMap { case (raw, i) =>
        val line = raw.stripLineEnd
        if (line.isEmpty || (i == 0 && line.startsWith("#version")))
          None
        else line.split(" ", -1) match {
          case Array(a, b) if a.nonEmpty && b.nonEmpty => Some((a, b))
          case _ => throw graft.errors.FeatureFactoryException.InvalidParameter(
            s"loadGpt2Merges: malformed merge line ${i + 1}: '$line'")
        }
      }.toList
      BpeModel(merges)
    } finally src.close()
  }

  /** Load a GPT-2-format `vocab.json` (`{"token": id, …}`) as the
    * (token, id) pairs [[encodeIds]] consumes, sorted by id. */
  def loadGpt2Vocab(path: String): Seq[(String, Int)] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    JsonMethods.parse(java.nio.file.Files.readString(
      java.nio.file.Paths.get(path))) match {
      case JObject(fields) =>
        fields.map {
          case (tok, JInt(id)) => (tok, id.toInt)
          case (tok, other) =>
            throw graft.errors.FeatureFactoryException.InvalidParameter(
              s"loadGpt2Vocab: non-integer id for '$tok': $other")
        }.sortBy(_._2)
      case other => throw graft.errors.FeatureFactoryException.InvalidParameter(
        s"loadGpt2Vocab: expected a JSON object, got $other")
    }
  }

  /** Load a tiktoken rank file (the `.tiktoken` format GPT-4-family
    * tokenizers ship: one `base64(token_bytes) rank` per line) into the
    * merge machinery: returns the [[BpeModel]] (apply with
    * `byteLevel = true` — ranks are over raw bytes, mapped here into the
    * shared GPT-2 byte alphabet) and the (token, rank) vocabulary for
    * [[encodeIds]]-style id probes, sorted by rank.
    *
    * The file carries RANKS, not merges — the merge table is recovered:
    * each multi-byte token of rank r splits into the two lower-rank
    * tokens minimizing max(rank(a), rank(b)) (the standard BPE-history
    * reconstruction; for a vocabulary produced by byte-pair training the
    * minimizing split IS the training-time merge). A multi-byte token
    * with NO lower-rank split is a LOUD error — special tokens live in a
    * separate table in this format, so an unreachable token means a
    * corrupt file, and silently skipping it would shift the greedy merge
    * order for every text containing it. Duplicate ranks and malformed
    * lines are loud too. */
  def loadTiktoken(path: String): (BpeModel, Seq[(String, Int)]) = {
    val alpha = graft.functions.BpeBytes.Alphabet
    val src = scala.io.Source.fromFile(path, "UTF-8")
    val entries =
      try {
        src.getLines().zipWithIndex.flatMap { case (raw, i) =>
          val line = raw.stripLineEnd
          if (line.isEmpty) None
          else line.split(" ", -1) match {
            case Array(b64, rankStr) if b64.nonEmpty =>
              val bytes =
                try java.util.Base64.getDecoder.decode(b64)
                catch {
                  case _: IllegalArgumentException =>
                    throw graft.errors.FeatureFactoryException.InvalidParameter(
                      s"loadTiktoken: line ${i + 1}: bad base64 '$b64'")
                }
              val rank =
                try rankStr.toInt
                catch {
                  case _: NumberFormatException =>
                    throw graft.errors.FeatureFactoryException.InvalidParameter(
                      s"loadTiktoken: line ${i + 1}: bad rank '$rankStr'")
                }
              Some((bytes.map(b => alpha(b & 0xff)).mkString, rank))
            case _ =>
              throw graft.errors.FeatureFactoryException.InvalidParameter(
                s"loadTiktoken: malformed line ${i + 1}: '$line'")
          }
        }.toList
      } finally src.close()
    val rankOf = new java.util.HashMap[String, Integer](entries.size * 2)
    val seenRanks = new java.util.HashSet[Integer](entries.size * 2)
    entries.foreach { case (tok, r) =>
      val prev = rankOf.put(tok, Integer.valueOf(r))
      if (prev != null)
        throw graft.errors.FeatureFactoryException.InvalidParameter(
          s"loadTiktoken: token '$tok' appears twice (ranks $prev and $r)")
      if (!seenRanks.add(Integer.valueOf(r)))
        throw graft.errors.FeatureFactoryException.InvalidParameter(
          s"loadTiktoken: rank $r assigned to two tokens — merge order " +
            "would be arbitrary (corrupt rank file)")
    }
    val byRank = entries.sortBy(_._2)
    val merges = byRank.flatMap { case (tok, r) =>
      if (tok.length < 2) None
      else {
        var best: (String, String) = null
        var bestMax = Int.MaxValue
        var i = 1
        while (i < tok.length) {
          val a = tok.substring(0, i)
          val b = tok.substring(i)
          val ra = rankOf.get(a)
          val rb = rankOf.get(b)
          if (ra != null && rb != null && ra < r && rb < r) {
            val mx = math.max(ra.intValue(), rb.intValue())
            if (mx < bestMax) { bestMax = mx; best = (a, b) }
          }
          i += 1
        }
        if (best == null)
          throw graft.errors.FeatureFactoryException.InvalidParameter(
            s"loadTiktoken: rank-$r token has no lower-rank split — " +
              "corrupt rank file (specials belong in their own table)")
        Some(best)
      }
    }
    (BpeModel(merges), byRank)
  }

  /** One SentencePiece vocabulary entry: the piece string, its score,
    * and the proto `type` enum (1 = NORMAL, 2 = UNKNOWN, 3 = CONTROL,
    * 4 = USER_DEFINED, 5 = UNUSED, 6 = BYTE). */
  final case class SpPiece(piece: String, score: Float, kind: Int)

  /** Load a SentencePiece `.model` file (a binary protobuf ModelProto)
    * WITHOUT a protobuf library: a minimal wire-format walk reads the
    * repeated `pieces` field (#1) and, inside each, `piece` (#1, string),
    * `score` (#2, float32) and `type` (#3, enum; absent = NORMAL);
    * every other field at either level is skipped by wire type. Order is
    * preserved — piece index IS the model's token id. Truncated or
    * non-protobuf bytes are a LOUD error, never a silent empty vocab. */
  def loadSentencePiece(path: String): Seq[SpPiece] = {
    val b = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    def fail(msg: String): Nothing =
      throw graft.errors.FeatureFactoryException.InvalidParameter(
        s"loadSentencePiece($path): $msg")
    // (value, next) of a varint at i
    def varint(i0: Int): (Long, Int) = {
      var v = 0L; var shift = 0; var i = i0
      while (i < b.length && shift <= 63) {
        val x = b(i) & 0xff
        v |= (x & 0x7fL) << shift
        i += 1
        if ((x & 0x80) == 0) return (v, i)
        shift += 7
      }
      fail(s"truncated varint at byte $i0")
    }
    def skipField(wire: Int, i: Int): Int = wire match {
      case 0 => varint(i)._2
      case 1 => i + 8
      case 2 => val (len, j) = varint(i); j + len.toInt
      case 5 => i + 4
      case w => fail(s"unsupported wire type $w at byte $i")
    }
    def parsePiece(start: Int, end: Int): SpPiece = {
      var piece: String = null
      var score = 0.0f
      var kind = 1 // proto3 default when absent: NORMAL
      var i = start
      while (i < end) {
        val (key, j) = varint(i)
        val field = (key >>> 3).toInt
        val wire = (key & 7).toInt
        (field, wire) match {
          case (1, 2) =>
            val (len, k) = varint(j)
            val e = k + len.toInt
            if (e > end) fail(s"piece string overruns its message at byte $k")
            piece = new String(b, k, len.toInt,
              java.nio.charset.StandardCharsets.UTF_8)
            i = e
          case (2, 5) =>
            if (j + 4 > end) fail(s"truncated score at byte $j")
            score = java.lang.Float.intBitsToFloat(
              (b(j) & 0xff) | ((b(j + 1) & 0xff) << 8) |
                ((b(j + 2) & 0xff) << 16) | ((b(j + 3) & 0xff) << 24))
            i = j + 4
          case (3, 0) =>
            val (v, k) = varint(j); kind = v.toInt; i = k
          case _ => i = skipField(wire, j)
        }
      }
      if (piece == null) fail("a SentencePiece message without a piece string")
      SpPiece(piece, score, kind)
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[SpPiece]
    var i = 0
    while (i < b.length) {
      val (key, j) = varint(i)
      val field = (key >>> 3).toInt
      val wire = (key & 7).toInt
      if (field == 1 && wire == 2) {
        val (len, k) = varint(j)
        val e = k + len.toInt
        if (e > b.length) fail(s"pieces message overruns the file at byte $k")
        out += parsePiece(k, e)
        i = e
      } else i = skipField(wire, j)
    }
    if (out.isEmpty) fail("no pieces found — not a SentencePiece model")
    out.toSeq
  }

  /** Merge table of a BPE-trained SentencePiece model: NORMAL pieces in
    * index order are the rank order (SP's BPE trainer scores merged
    * pieces by creation order), and each multi-char piece splits into
    * the two lower-index pieces minimizing the max index — the same
    * reconstruction [[loadTiktoken]] uses. Pieces are CHARACTER-level
    * over SP's '▁' word-boundary alphabet: apply with [[spPretokEncode]]
    * and `byteLevel = false`. CONTROL/UNKNOWN/BYTE pieces never join the
    * merge table; a NORMAL multi-char piece with no split is loud. */
  def sentencePieceModel(pieces: Seq[SpPiece]): BpeModel = {
    val normal = pieces.zipWithIndex.filter(_._1.kind == 1)
    val rankOf = new java.util.HashMap[String, Integer](normal.size * 2)
    normal.foreach { case (p, i) => rankOf.putIfAbsent(p.piece, Integer.valueOf(i)) }
    val merges = normal.flatMap { case (p, r) =>
      val tok = p.piece
      if (tok.codePointCount(0, tok.length) < 2) None
      else {
        var best: (String, String) = null
        var bestMax = Int.MaxValue
        var i = 1
        while (i < tok.length) {
          if (!Character.isLowSurrogate(tok.charAt(i))) {
            val a = tok.substring(0, i)
            val b = tok.substring(i)
            val ra = rankOf.get(a)
            val rb = rankOf.get(b)
            if (ra != null && rb != null && ra < r && rb < r) {
              val mx = math.max(ra.intValue(), rb.intValue())
              if (mx < bestMax) { bestMax = mx; best = (a, b) }
            }
          }
          i += 1
        }
        if (best == null)
          throw graft.errors.FeatureFactoryException.InvalidParameter(
            s"sentencePieceModel: piece '$tok' (index $r) has no " +
              "lower-index split — not a BPE-trained model (unigram " +
              "models carry no merge history)")
        Some(best)
      }
    }
    BpeModel(merges)
  }

  /** SentencePiece's input normalization for [[sentencePieceModel]]
    * tables: spaces become '▁' (U+2581) and a dummy '▁' prefixes the
    * text (add_dummy_prefix, the trainer default) — so '▁the' tokenizes
    * identically at sentence start and after a space. One narrow
    * projection; NULL text → empty string (the tokenizer convention). */
  def spPretokEncode(text: Column): Column = {
    val t = coalesce(text, lit(""))
    when(length(t) === 0, lit(""))
      .otherwise(concat(lit("▁"), translate(t, " ", "▁")))
  }

  /** SentencePiece ids with BYTE FALLBACK (the Llama convention): a
    * token present in the piece vocabulary emits its piece index; any
    * other token emits the `<0xNN>` BYTE pieces of its UTF-8 bytes —
    * so no text ever maps to UNK and decode round-trips. Requires the
    * model to carry all 256 byte pieces (that is what
    * `byte_fallback=true` puts in the file) — LOUD otherwise, because
    * silently emitting UNK would change the id stream's meaning. One
    * narrow projection over a token array column (pair with
    * [[bpeTokens]] over [[spPretokEncode]]'d text). */
  def spByteFallbackIds(tokens: Column, pieces: Seq[SpPiece]): Column = {
    val pieceId = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    pieces.zipWithIndex.foreach { case (p, i) =>
      if (!pieceId.contains(p.piece)) pieceId(p.piece) = i
    }
    // byte pieces resolve by NAME AND kind==6 — a model with
    // identically-NAMED non-BYTE pieces must hit the loud error, not
    // emit ids that spDecodeIds would reassemble as literal '<0xNN>'
    // text (round-14 review)
    val byteKind = pieces.zipWithIndex.collect {
      case (p, i) if p.kind == 6 => p.piece -> i
    }.toMap
    val byteIds = (0 until 256).map { k =>
      val key = f"<0x$k%02X>"
      val id = byteKind.getOrElse(key,
        throw graft.errors.FeatureFactoryException.InvalidParameter(
          s"spByteFallbackIds: model has no BYTE piece '$key' — not a " +
            "byte_fallback model (ids would silently become UNKs)"))
      f"$k%02X" -> id
    }
    val vmap = typedLit(pieceId.toMap)
    val bmap = typedLit(byteIds.toMap)
    flatten(transform(tokens, t =>
      when(element_at(vmap, t).isNotNull, array(element_at(vmap, t)))
        .otherwise(
          transform(
            regexp_extract_all(hex(encode(t, "UTF-8")), lit(".."), lit(0)),
            h => element_at(bmap, h)))))
  }

  /** Driver-side inverse of [[spByteFallbackIds]] (verification / export
    * tooling, not a data path): `<0xNN>` byte pieces reassemble into
    * UTF-8, other ids map back to their piece strings, '▁' runs undo
    * [[spPretokEncode]]'s space mapping and dummy prefix. Round trip:
    * `spDecodeIds(ids, pieces)` equals the original text exactly for
    * any text [[spPretokEncode]] accepted that contains no literal
    * U+2581 (the `replace('▁',' ')` undo cannot distinguish the word-
    * boundary marker from a genuine U+2581 in the input — that code
    * point decodes as a space; same convention as [[decodeIdsBytes]]'s
    * U+001F note: the tokenizer strips U+001F before encoding, so that
    * character never round-trips either). Unknown ids are loud. */
  def spDecodeIds(ids: Seq[Int], pieces: Seq[SpPiece]): String = {
    val out = new java.io.ByteArrayOutputStream()
    ids.foreach { id =>
      if (id < 0 || id >= pieces.size)
        throw graft.errors.FeatureFactoryException.InvalidParameter(
          s"spDecodeIds: id $id outside the ${pieces.size}-piece vocab")
      val p = pieces(id)
      if (p.kind == 6 && p.piece.length == 6 && p.piece.startsWith("<0x"))
        out.write(Integer.parseInt(p.piece.substring(3, 5), 16))
      else out.write(p.piece.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    val s = new String(out.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
      .replace('▁', ' ')
    if (s.startsWith(" ")) s.substring(1) else s // the dummy prefix
  }

  // ── SentencePiece UNIGRAM inference (Viterbi segmentation) ───────────

  /** The Viterbi match table of a SentencePiece model: NORMAL pieces
    * (kind 1) only, first occurrence winning on duplicate surfaces.
    * CONTROL/UNKNOWN/BYTE/USER_DEFINED pieces never join — a BYTE
    * piece's literal `<0xNN>` surface would otherwise match literal
    * text spelling those six characters. Loud when the model carries
    * no NORMAL pieces (nothing could ever match). */
  private[graft] def unigramTable(pieces: Seq[SpPiece]): (Seq[String], Seq[Double]) = {
    val seen = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    pieces.foreach { p =>
      if (p.kind == 1 && !seen.contains(p.piece)) {
        // protobuf floats encode NaN/±Inf; a -Inf score would poison the
        // DP's unk penalty (min − 10) — loud here, on BOTH engine paths
        if (p.score.isNaN || p.score.isInfinite)
          throw graft.errors.FeatureFactoryException.InvalidParameter(
            s"unigramTokens: piece '${p.piece}' has a non-finite score " +
              s"(${p.score}) — corrupt model")
        seen(p.piece) = p.score.toDouble
      }
    }
    if (seen.isEmpty)
      throw graft.errors.FeatureFactoryException.InvalidParameter(
        "unigramTokens: model has no NORMAL pieces — nothing could match")
    (seen.keys.toSeq, seen.values.toSeq)
  }

  /** UNIGRAM token array of `text` under a SentencePiece piece table
    * (Kudo 2018): the Viterbi maximum-likelihood segmentation over the
    * NORMAL pieces' log-prob scores, with SentencePiece's semantics —
    * unknown code points consume one position at `min(score) − 10`
    * (kUnkPenalty) and surface as themselves, ties break toward the
    * longer piece (the lattice's insertion-order rule), and
    * `concat(tokens) == text` exactly. This is the inference path for
    * Unigram-TRAINED models (T5/mT5/Gemma/XLNet), which
    * [[sentencePieceModel]] rejects for having no merge history; pair
    * with [[spPretokEncode]] for the '▁' convention and
    * [[spByteFallbackIds]] for byte-fallback ids (an unknown code
    * point's surface is not in the piece vocab, so it falls back to
    * its UTF-8 bytes — exactly SentencePiece's byte_fallback).
    *
    * Native kernel (one trie-walk DP per row, whole-stage codegen);
    * [[unigramTokensFallback]] is its bit-identical pure-Column
    * reference (OpsSpec pins parity). Scores widen float32 → float64 exactly; the
    * DP sums in float64 (more tie-resistant than SentencePiece's own
    * float32 lattice — a documented, strictly-more-precise
    * divergence). */
  def unigramTokens(text: Column, pieces: Seq[SpPiece]): Column = {
    val (surf, sc) = unigramTable(pieces)
    call_function(graft.functions.TilePairs.SpUnigramName, text,
      typedLit(surf), typedLit(sc))
  }

  /** The pure-Column Viterbi: dp as an `aggregate` over code-point
    * positions accumulating array<struct<s, l>>, candidates unrolled to
    * the table's max piece length, best-by `array_max` (struct ordering
    * = lexicographic (score, length) — exactly the tie rule), then a
    * reverse `aggregate` backtrack. The dp array is bound once via a
    * single-element `transform` so the backtrack does not re-evaluate
    * it per step. Bit-identical to the kernel, but O(n²) in text length
    * from accumulator-array copies — a test reference only. */
  private[graft] def unigramTokensFallback(
      text: Column, surfaces: Seq[String], scores: Seq[Double]): Column = {
    val maxLen = surfaces.map(s => s.codePointCount(0, s.length)).max
    val unk = scores.min - 10.0
    val m = typedLit(surfaces.zip(scores).toMap)
    val cps = filter(split(coalesce(text, lit("")), ""), c => c =!= "")
    val n = size(cps)
    def pieceAt(endPos: Column, len: Int): Column =
      array_join(slice(cps, endPos - lit(len) + 1, lit(len)), "")
    val dp = aggregate(
      sequence(lit(1), n),
      array(struct(lit(0.0).as("s"), lit(0).as("l"))),
      (acc, i) => {
        val cands = (1 to maxLen).map { len =>
          // dp[i-len] lives at acc index i-len+1 (1-based); the outer
          // guard must wrap the slice/probe — a start index ≤ 0 would
          // throw (0) or silently read from the END (negative)
          when(i >= len, {
            val prev = element_at(acc, i - lit(len) + 1)
            val sc = element_at(m, pieceAt(i, len))
            when(sc.isNotNull,
              struct((prev.getField("s") + sc).as("s"), lit(len).as("l")))
          })
        } :+ struct(
          (element_at(acc, i).getField("s") + lit(unk)).as("s"),
          lit(1).as("l"))
        concat(acc, array(array_max(
          filter(array(cands: _*), c => c.isNotNull))))
      })
    val toks = element_at(
      transform(array(dp), dpA =>
        aggregate(
          sequence(n, lit(1)),
          struct(n.as("pos"), typedLit(Seq.empty[String]).as("toks")),
          (acc, i) => {
            val pos = acc.getField("pos")
            val len = element_at(dpA, pos + 1).getField("l")
            val tok = array_join(slice(cps, pos - len + 1, len), "")
            when(i === pos,
              struct((pos - len).as("pos"),
                concat(array(tok), acc.getField("toks")).as("toks")))
              .otherwise(acc)
          },
          a => a.getField("toks"))),
      1)
    when(n === 0, typedLit(Seq.empty[String])).otherwise(toks)
  }

  /** Appends `outCol` = the UNIGRAM token array of `textCol`. Narrow
    * projection, no shuffle. `preEncode` maps the text BEFORE
    * segmentation (identity by default; [[spPretokEncode]] for the '▁'
    * convention a real SentencePiece model expects). */
  def tokenizeUnigram(
      df: DataFrame,
      textCol: String,
      pieces: Seq[SpPiece],
      outCol: String = "sp_tokens",
      preEncode: Column => Column = identity): DataFrame = {
    graft.core.Validators.requireColumns(df, Seq(textCol))
    graft.core.Validators.requireColumnsAbsent(df, Seq(outCol), "tokenizeUnigram")
    df.withColumn(outCol,
      unigramTokens(preEncode(col(textCol)), pieces))
  }

  /** Appends `outCol` = the UNIGRAM token COUNT of `textCol` — the
    * drop-in `tokenCol` producer for the token-budget operators
    * ([[Sampling.sampleTokenBudget]], [[Sampling.packSequences]],
    * [[graft.sources.Writer.shardByTokenBudget]], [[TextOps.chunkTokens]])
    * under a Unigram-trained tokenizer. */
  def unigramTokenCount(
      df: DataFrame,
      textCol: String,
      pieces: Seq[SpPiece],
      outCol: String = "n_sp",
      preEncode: Column => Column = identity): DataFrame = {
    graft.core.Validators.requireColumns(df, Seq(textCol))
    graft.core.Validators.requireColumnsAbsent(df, Seq(outCol), "unigramTokenCount")
    df.withColumn(outCol,
      size(unigramTokens(preEncode(col(textCol)), pieces)))
  }

  /** [[compressionStats]] under a UNIGRAM tokenizer: per `groupCols`
    * group, n_docs / n_chars / n_sp / chars_per_token with identical
    * conventions (NULL texts count a document but zero chars/tokens;
    * n_chars counts the RAW `textCol`, so pass [[spPretokEncode]] via
    * `preEncode` rather than pre-mapping the column when you want
    * fertility against the user's text). One narrow tokenize projection
    * + one hash aggregation. */
  def unigramStats(
      df: DataFrame,
      textCol: String,
      pieces: Seq[SpPiece],
      groupCols: Seq[String],
      preEncode: Column => Column = identity): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    graft.core.Validators.requireColumns(df, groupCols :+ textCol)
    graft.core.Validators.requireColumnsAbsent(df,
      Seq("n_docs", "n_chars", "n_sp", "chars_per_token", "__graft_nu"),
      "unigramStats")
    df
      .withColumn("__graft_nu",
        size(unigramTokens(preEncode(col(textCol)), pieces)))
      .groupBy(groupCols.map(col): _*)
      .agg(
        count(lit(1)).as("n_docs"),
        sum(coalesce(length(col(textCol)), lit(0))).cast("long").as("n_chars"),
        sum(col("__graft_nu")).cast("long").as("n_sp"))
      .withColumn("chars_per_token",
        when(col("n_sp") > 0L,
          col("n_chars").cast("double") / col("n_sp").cast("double")))
  }

  /** BPE token array of `text` under `model` through the native kernel.
    * `pretok = Some(pattern)` switches to regex-pre-tokenized mode
    * ([[Gpt2PretokPattern]] is the standard choice): pre-tokens tokenize
    * INDEPENDENTLY and their token lists concatenate — one kernel call per
    * pre-token inside a `transform` + `flatten` (still one narrow
    * projection). A model must be APPLIED in the same mode it was fit in
    * ([[bpeFit]]'s `pretok`).
    *
    * `byteLevel = true` is the external-tokenizer mode ([[loadGpt2Merges]]
    * tables): each pre-token (or, without `pretok`, the whole text) is
    * first mapped through [[gpt2ByteEncode]], so merges run over the
    * GPT-2 byte alphabet exactly as the production tokenizer applies
    * them. Pre-tokenization runs on the RAW text BEFORE the byte mapping
    * (the GPT-2 order — the regex classes would misread 'Ġ' as a
    * letter). */
  def bpeTokens(
      text: Column,
      model: BpeModel,
      pretok: Option[String] = None,
      byteLevel: Boolean = false): Column = {
    // the byte mapping runs INSIDE the primitive loop (third kernel
    // argument) — the Column-side gpt2ByteEncode (hex + regex + HOF per
    // pre-token) is the reference route, bit-parity-tested
    def kernel(t: Column): Column =
      if (byteLevel)
        call_function(graft.functions.TilePairs.BpeName, t,
          typedLit(model.flat), lit(true))
      else
        call_function(graft.functions.TilePairs.BpeName, t,
          typedLit(model.flat))
    pretok match {
      case None => kernel(text)
      case Some(pattern) =>
        val cleaned = regexp_replace(coalesce(text, lit("")), Sep, "")
        val pts = regexp_extract_all(cleaned, lit(pattern), lit(0))
        flatten(transform(pts, t => kernel(t)))
    }
  }

  /** The pure-Column tokenizer: one codegen'd REPLACE per merge over the
    * separator encoding — the kernel's bit-identical reference (OpsSpec
    * and PropertySpec pin it). The expression tree grows with the merge
    * table, so it is for small test models only. */
  private[graft] def bpeTokensFallback(text: Column, model: BpeModel): Column = {
    val enc = model.merges.foldLeft(encode0(text)) { case (e, (a, b)) =>
      mergeStep(e, a, b)
    }
    decodeTokens(enc)
  }

  /** Appends `outCol` = the BPE token array of `textCol`. Narrow
    * projection, no shuffle. `pretok` as in [[bpeTokens]]. */
  def tokenizeBpe(
      df: DataFrame,
      textCol: String,
      model: BpeModel,
      outCol: String = "bpe_tokens",
      pretok: Option[String] = None,
      byteLevel: Boolean = false): DataFrame = {
    graft.core.Validators.requireColumns(df, Seq(textCol))
    graft.core.Validators.requireColumnsAbsent(df, Seq(outCol), "tokenizeBpe")
    df.withColumn(outCol,
      bpeTokens(col(textCol), model, pretok, byteLevel))
  }

  /** Appends `outCol` = the BPE token COUNT of `textCol` — the drop-in
    * `tokenCol` producer for the token-budget operators. */
  def bpeTokenCount(
      df: DataFrame,
      textCol: String,
      model: BpeModel,
      outCol: String = "n_bpe",
      pretok: Option[String] = None,
      byteLevel: Boolean = false): DataFrame = {
    graft.core.Validators.requireColumns(df, Seq(textCol))
    graft.core.Validators.requireColumnsAbsent(df, Seq(outCol), "bpeTokenCount")
    df.withColumn(outCol,
      size(bpeTokens(col(textCol), model, pretok, byteLevel)))
  }

  /** Deterministic integer-id vocabulary of a merge table: ids 0..k−1 are
    * the sorted distinct base symbols of `alphabet`, then the merge
    * PRODUCTS in rank order (a product already present keeps its first
    * id). Every token [[bpeTokens]] can emit is either a base symbol or a
    * merge product, so a vocabulary built from the fit corpus's alphabet
    * covers its own corpus exactly; only code points never seen in
    * `alphabet` map to UNK at encode time. The (token, id) table is
    * dictionary-sized and fully determined by (model, alphabet) — export
    * it next to the merge dump and any engine reproduces the ids. */
  def vocabOf(model: BpeModel, alphabet: Seq[String]): Seq[(String, Int)] = {
    val seen = scala.collection.mutable.LinkedHashSet[String]()
    // CODE-POINT order, not JVM String order: String.compareTo sorts by
    // UTF-16 code unit, which puts supplementary-plane symbols (surrogate
    // lead 0xD800-0xDBFF) BEFORE U+E000..U+FFFF — while every other
    // engine's binary-UTF-8 ordering (and the text_bpe_vocab oracle) sorts
    // by code point. Alphabet entries are single code points by
    // construction ([[alphabetOf]]'s regex split is code-point-aware), so
    // codePointAt(0) IS the portable sort key.
    alphabet.distinct.sortBy(_.codePointAt(0)).foreach(seen += _)
    model.merges.foreach { case (a, b) => seen += (a + b) }
    seen.toSeq.zipWithIndex
  }

  /** The distinct single code points of `textCol`, sorted — [[vocabOf]]'s
    * base alphabet, taken from the same corpus the model was fit on.
    * U+001F is stripped exactly as the tokenizer strips it. One explode +
    * distinct aggregate at fit time; code-point cardinality is
    * dictionary-sized (`maxChars` is a guard, not a sampler — hitting it
    * means the corpus has more distinct code points than the vocabulary
    * budget and the tail maps to UNK). */
  def alphabetOf(df: DataFrame, textCol: String, maxChars: Int = 65536): Seq[String] = {
    graft.core.Validators.requireColumns(df, Seq(textCol))
    df.select(explode(filter(
      split(regexp_replace(coalesce(col(textCol), lit("")), Sep, ""), ""),
      c => c =!= "")).as("__graft_c"))
      .distinct().orderBy(col("__graft_c").asc).limit(maxChars)
      .collect().map(_.getString(0)).toSeq
  }

  /** Appends `outCol` = the integer BPE token-id array of `textCol` —
    * the trainer-ready form ([[tokenizeBpe]] emits token STRINGS; loaders
    * consume ids). Tokens outside `vocab` encode as −1 (UNK) — possible
    * only for code points absent from the vocabulary's alphabet. The
    * vocabulary rides as one plan-literal map (dictionary-sized, the
    * merge-table convention), so encoding is a pure narrow projection:
    * tokenize, then one map probe per token. */
  def encodeIds(
      df: DataFrame,
      textCol: String,
      model: BpeModel,
      vocab: Seq[(String, Int)],
      outCol: String = "bpe_ids"): DataFrame = {
    graft.core.Validators.requireColumns(df, Seq(textCol))
    graft.core.Validators.requireColumnsAbsent(df, Seq(outCol), "encodeIds")
    require(vocab.nonEmpty, "encodeIds: vocab must be non-empty")
    require(vocab.map(_._1).distinct.size == vocab.size,
      "encodeIds: vocab tokens must be distinct")
    val m = typedLit(vocab.toMap)
    df.withColumn(outCol,
      transform(bpeTokens(col(textCol), model),
        t => coalesce(element_at(m, t), lit(-1))))
  }

  /** [[encodeIds]]'s id space with a BYTE-FALLBACK floor: ids 0..255 are
    * the 256 raw byte tokens (SentencePiece `byte_fallback` convention,
    * exported as `<0xNN>` pieces), and every [[vocabOf]] entry shifts up
    * by 256. The full trainer-facing (piece, id) table for
    * [[encodeIdsBytes]] — export it next to the merge dump. */
  def vocabWithBytes(vocab: Seq[(String, Int)]): Seq[(String, Int)] =
    (0 until 256).map(n => (f"<0x$n%02X>", n)) ++
      vocab.map { case (t, i) => (t, i + 256) }

  /** [[encodeIds]] with BYTE FALLBACK instead of UNK: a token in `vocab`
    * encodes as its id + 256; a token outside it (a code point absent
    * from the vocabulary's alphabet) expands to its UTF-8 BYTES, one id
    * per byte in [0, 255]. No input is unrepresentable — the trainer-
    * grade guarantee UNK = −1 could not give — and
    * [[decodeIdsBytes]]`(encode(x)) == x` exactly (after the tokenizer's
    * U+001F strip; PropertySpec pins the round trip). Same narrow
    * plan shape as [[encodeIds]] plus a per-OOV-token hex expansion —
    * still one projection, no shuffle. */
  def encodeIdsBytes(
      df: DataFrame,
      textCol: String,
      model: BpeModel,
      vocab: Seq[(String, Int)],
      outCol: String = "bpe_ids",
      pretok: Option[String] = None): DataFrame = {
    graft.core.Validators.requireColumns(df, Seq(textCol))
    graft.core.Validators.requireColumnsAbsent(df, Seq(outCol), "encodeIdsBytes")
    require(vocab.nonEmpty, "encodeIdsBytes: vocab must be non-empty")
    require(vocab.map(_._1).distinct.size == vocab.size,
      "encodeIdsBytes: vocab tokens must be distinct")
    val m = typedLit(vocab.toMap)
    def byteIds(t: Column): Column =
      transform(
        regexp_extract_all(hex(encode(t, "UTF-8")), lit("[0-9A-F]{2}"), lit(0)),
        p => conv(p, 16, 10).cast("int"))
    df.withColumn(outCol,
      flatten(transform(bpeTokens(col(textCol), model, pretok),
        t =>
          when(element_at(m, t).isNotNull,
            array(element_at(m, t) + lit(256)))
            .otherwise(byteIds(t)))))
  }

  /** Driver-side inverse of [[encodeIdsBytes]] (verification / export
    * tooling, not a data path): byte ids reassemble into UTF-8, vocab ids
    * map back through the shifted table, in order. Total round trip:
    * `decodeIdsBytes(ids, vocab)` equals the encoded text exactly. */
  def decodeIdsBytes(ids: Seq[Int], vocab: Seq[(String, Int)]): String = {
    val rev = vocab.map { case (t, i) => (i + 256) -> t }.toMap
    val out = new java.io.ByteArrayOutputStream()
    ids.foreach { id =>
      if (id >= 0 && id < 256) out.write(id)
      else out.write(rev.getOrElse(id,
        throw graft.errors.FeatureFactoryException.InvalidParameter(
          s"decodeIdsBytes: id $id not in the byte range or the vocab"))
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    new String(out.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
  }

  /** Per-group tokenizer-fit report — the "does this merge table suit this
    * corpus slice?" table: a tokenizer trained on English spends far more
    * tokens per character on, say, Chinese, and this surfaces exactly that
    * (the fertility/compression check run before committing a tokenizer to
    * a pretraining mix). Per `groupCols` group:
    *   n_docs           BIGINT document count;
    *   n_chars          BIGINT Σ code points of `textCol`;
    *   n_bpe            BIGINT Σ BPE token count under `model`;
    *   chars_per_token  n_chars / n_bpe as DOUBLE (NULL when the group
    *                    tokenizes to zero tokens) — higher = better
    *                    compression, ≈1 = the tokenizer is spelling the
    *                    group out character by character.
    * NULL texts count a document but zero chars/tokens. One narrow
    * tokenize projection + one hash aggregation; the division is one
    * exact-long by exact-long double op, so any engine replays it
    * bit-for-bit. `pretok`/`byteLevel` pass through to [[bpeTokens]] and
    * `preEncode` maps the text column BEFORE tokenization (identity by
    * default; [[spPretokEncode]] for SentencePiece models) — a model
    * must be MEASURED in the mode it was fit or imported in (an
    * imported tiktoken/GPT-2 table needs its pre-split + byte alphabet,
    * an SP table its '▁' mapping, else the fertility numbers describe a
    * tokenizer nobody runs). `n_chars` always counts the RAW text —
    * chars-per-token answers "how many tokens does MY text cost", not
    * "how long is the preprocessed form". */
  def compressionStats(
      df: DataFrame,
      textCol: String,
      model: BpeModel,
      groupCols: Seq[String],
      pretok: Option[String] = None,
      byteLevel: Boolean = false,
      preEncode: Column => Column = identity): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    graft.core.Validators.requireColumns(df, groupCols :+ textCol)
    graft.core.Validators.requireColumnsAbsent(df,
      Seq("n_docs", "n_chars", "n_bpe", "chars_per_token", "__graft_nb"),
      "compressionStats")
    df
      .withColumn("__graft_nb",
        size(bpeTokens(preEncode(col(textCol)), model,
          pretok, byteLevel)))
      .groupBy(groupCols.map(col): _*)
      .agg(
        count(lit(1)).as("n_docs"),
        sum(coalesce(length(col(textCol)), lit(0))).cast("long").as("n_chars"),
        sum(col("__graft_nb")).cast("long").as("n_bpe"))
      .withColumn("chars_per_token",
        when(col("n_bpe") > 0L,
          col("n_chars").cast("double") / col("n_bpe").cast("double")))
  }

  /** Learn a merge table from a corpus: classic BPE training on a capped
    * sample (the [[Similarity]] capped-Lloyd convention — fits are
    * dictionary-sized driver state, never corpus-sized). Each round counts
    * all adjacent token pairs (every position — overlapping occurrences
    * each count), picks the most frequent (ties: pair ascending — fully
    * deterministic), applies it, and re-materializes the sample
    * (localCheckpoint, so the plan stays one REPLACE deep). Stops early
    * when the best pair's count drops below `minCount`.
    *
    * `pretok = Some(pattern)` fits in regex-pre-tokenized mode
    * ([[Gpt2PretokPattern]]): pairs count within pre-tokens only, and
    * space-prefixed merges (" the") are learned — apply the model with
    * the SAME `pretok` in [[bpeTokens]].
    *
    * Cost: `numMerges` small jobs over ≤ `sampleCap` encoded documents —
    * the corpus itself is scanned once. */
  def bpeFit(
      corpus: DataFrame,
      textCol: String,
      numMerges: Int,
      minCount: Long = 2L,
      sampleCap: Int = 100000,
      pretok: Option[String] = None): BpeModel = {
    require(numMerges >= 1, "numMerges must be >= 1")
    require(minCount >= 1, "minCount must be >= 1")
    require(sampleCap >= 1, "sampleCap must be >= 1")
    graft.core.Validators.requireColumns(corpus, Seq(textCol))
    val enc0 = pretok
      .map(p => encode0Pretok(col(textCol), p))
      .getOrElse(encode0(col(textCol)))
    var enc = corpus
      .select(enc0.as("e"))
      .filter(length(col("e")) > 0)
      .limit(sampleCap)
      .localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var round = 0
    var done = false
    while (round < numMerges && !done) {
      // pretok mode counts pairs WITHIN each pre-token segment (the
      // four-separator boundary splits to segments; a pair can never
      // straddle one — the GPT-2 convention, where " the" merges are the
      // point and no whitespace filter applies). Default mode counts over
      // the whole encoding and filters whitespace pairs: word-internal
      // BPE, no token ever spans a word boundary.
      val encCol = pretok match {
        case Some(_) => explode(split(col("e"), Sep2 + Sep2))
        case None => col("e")
      }
      val toks = decodeTokens(col("__g_seg"))
      val m = greatest(size(toks) - 1, lit(0))
      val pairs = zip_with(slice(toks, lit(1), m), slice(toks, lit(2), m),
        (a, b) => struct(a.as("pa"), b.as("pb")))
      val exploded = enc
        .select(encCol.as("__g_seg"))
        .select(explode(pairs).as("p"))
        .select(col("p.pa").as("pa"), col("p.pb").as("pb"))
      val filtered =
        if (pretok.isDefined) exploded
        else exploded.filter(!col("pa").rlike("\\s") && !col("pb").rlike("\\s"))
      val best = filtered
        .groupBy("pa", "pb")
        .agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("pa").asc, col("pb").asc)
        .limit(1)
        .collect()
      if (best.isEmpty || best(0).getLong(2) < minCount) done = true
      else {
        val (a, b) = (best(0).getString(0), best(0).getString(1))
        merges += ((a, b))
        enc = enc.withColumn("e", mergeStep(col("e"), a, b)).localCheckpoint(true)
        round += 1
      }
    }
    if (merges.isEmpty)
      throw graft.errors.FeatureFactoryException.InvalidParameter(
        "bpeFit: no pair reaches minCount — corpus too small or minCount too high")
    BpeModel(merges.toSeq)
  }
}
