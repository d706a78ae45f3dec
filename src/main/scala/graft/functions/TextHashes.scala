package graft.functions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native per-document kernels for the dedup/similarity operators.
  *
  * The equivalent pure-Column formulations (sequence + substr + transform +
  * array_distinct, or 64 separate min-aggregates) walk an interpreted
  * expression tree per shingle per row — measured ~2.5 s per evaluation over
  * 5 k documents at sf0.1, and the dedup pipelines evaluate them 3-4 times.
  * These expressions do the same math in one tight primitive loop per row
  * and are bit-identical to the fallbacks (same XXH64 calls in the same
  * order), so graft.ops.Dedup can dispatch on availability.
  *
  * All kernels implement `doGenCode` as a direct call to their primitive
  * `compute` method, so projections using them STAY INSIDE whole-stage
  * codegen (a CodegenFallback would force the surrounding operators out of
  * the generated loop and hand every row over as an InternalRow).
  */
object TextHashes {
  /** Spark's xxhash64 seed (XxHash64 expression default). */
  val Seed = 42L

  /** Byte offsets of each character start (+ end sentinel); length = chars+1. */
  private[functions] def charOffsets(bytes: Array[Byte], numChars: Int): Array[Int] = {
    val offsets = new Array[Int](numChars + 1)
    var i = 0
    var c = 0
    while (i < bytes.length) {
      offsets(c) = i
      i += UTF8String.numBytesForFirstByte(bytes(i))
      c += 1
    }
    offsets(c) = bytes.length
    offsets
  }
}

/** graft_shingle_hashes(text, n): distinct xxhash64 values of all n-character
  * substrings of `text`, in first-occurrence order — bit-identical to
  * `array_distinct(transform(sequence(1, len-n+1), i => xxhash64(substr)))`.
  * Character (code point) semantics, like `Column.substr`. Null or too-short
  * text → empty array (the `when(...).otherwise(empty)` fallback behavior).
  */
case class ShingleHashes(child: Expression, shingleSize: Expression)
    extends Expression {

  override def children: Seq[Expression] = Seq(child, shingleSize)
  override def nullable: Boolean = false
  override lazy val deterministic: Boolean = true
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType && shingleSize.foldable &&
      shingleSize.dataType == IntegerType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "graft_shingle_hashes expects (string, int literal)")

  private lazy val n: Int = shingleSize.eval().asInstanceOf[Int]
  private val empty = new GenericArrayData(Array.empty[Long])

  def compute(s: UTF8String): ArrayData = {
    if (s == null) return empty
    val bytes = s.getBytes
    val offsets = TextHashes.charOffsets(bytes, s.numChars())
    val c = offsets.length - 1
    if (c < n) return empty
    val seen = new java.util.HashSet[java.lang.Long](c * 2)
    val out = new ArrayBuffer[Long](c - n + 1)
    var p = 0
    while (p <= c - n) {
      val start = offsets(p)
      val h = XXH64.hashUnsafeBytes(
        bytes, Platform.BYTE_ARRAY_OFFSET + start, offsets(p + n) - start, TextHashes.Seed)
      if (seen.add(h)) out += h
      p += 1
    }
    new GenericArrayData(out.toArray)
  }

  override def eval(input: InternalRow): Any =
    compute(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val ref = ctx.addReferenceObj("kernel", this)
    ev.copy(code = code"""
      ${c.code}
      org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
        $ref.compute(${c.isNull} ? null : ${c.value});
    """, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0), shingleSize = newChildren(1))
}

/** graft_shingle_strings(text, n): distinct n-character substrings in
  * first-occurrence order — the string-valued sibling of
  * graft_shingle_hashes (for operators whose OUTPUT is the gram itself,
  * e.g. corpus n-gram statistics). Bit-identical to
  * `array_distinct(transform(sequence(...), substr))`. */
case class ShingleStrings(child: Expression, shingleSize: Expression)
    extends Expression {

  override def children: Seq[Expression] = Seq(child, shingleSize)
  override def nullable: Boolean = false
  override lazy val deterministic: Boolean = true
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType && shingleSize.foldable &&
      shingleSize.dataType == IntegerType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "graft_shingle_strings expects (string, int literal)")

  private lazy val n: Int = shingleSize.eval().asInstanceOf[Int]
  private val empty = new GenericArrayData(Array.empty[Any])

  def compute(s: UTF8String): ArrayData = {
    if (s == null) return empty
    val bytes = s.getBytes
    val offsets = TextHashes.charOffsets(bytes, s.numChars())
    val c = offsets.length - 1
    if (c < n) return empty
    val seen = new java.util.HashSet[UTF8String](c * 2)
    val out = new ArrayBuffer[Any](c - n + 1)
    var p = 0
    while (p <= c - n) {
      val start = offsets(p)
      val g = UTF8String.fromBytes(bytes, start, offsets(p + n) - start)
      if (seen.add(g)) out += g
      p += 1
    }
    new GenericArrayData(out.toArray)
  }

  override def eval(input: InternalRow): Any =
    compute(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val ref = ctx.addReferenceObj("kernel", this)
    ev.copy(code = code"""
      ${c.code}
      org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
        $ref.compute(${c.isNull} ? null : ${c.value});
    """, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0), shingleSize = newChildren(1))
}

/** graft_simhash(text): 64-bit SimHash over lowercased whitespace tokens —
  * bit-identical to the `aggregate(zip_with(...))` vote fold it replaces
  * (same UTF8String lowercase/split, same xxhash64 per token, same +1/−1
  * vote per bit, sign → bit). One primitive loop per row instead of an
  * interpreted 64-counter array fold per token. */
case class SimHash64(child: Expression) extends Expression {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = true
  override lazy val deterministic: Boolean = true
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "graft_simhash expects a string input")

  private val ws = UTF8String.fromString("\\s+")

  def compute(s: UTF8String): Long = {
    val votes = new Array[Int](64)
    val tokens = s.toLowerCase.split(ws, -1)
    var i = 0
    while (i < tokens.length) {
      val t = tokens(i)
      if (t.numBytes() > 0) {
        val h = XXH64.hashUTF8String(t, TextHashes.Seed)
        var b = 0
        while (b < 64) {
          votes(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1)
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= 1L << b
      b += 1
    }
    out
  }

  override def eval(input: InternalRow): Any = {
    val s = child.eval(input).asInstanceOf[UTF8String]
    if (s == null) null else compute(s)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val ref = ctx.addReferenceObj("kernel", this)
    ev.copy(code = code"""
      ${c.code}
      boolean ${ev.isNull} = ${c.isNull};
      long ${ev.value} = -1L;
      if (!${ev.isNull}) ${ev.value} = $ref.compute(${c.value});
    """)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0))
}

/** graft_ivf_cell(embedding, centroidsFlat, dims): nearest-centroid cell id
  * by squared L2 distance, ties to the lowest cell — bit-identical to the
  * sorted-struct-array formulation (sequential fold in array order, strict-<
  * argmin keeps the earlier cell on ties). One primitive loop per row
  * instead of k interpreted aggregate folds. */
case class IvfCell(child: Expression, centroids: Expression, dims: Expression)
    extends Expression {

  override def children: Seq[Expression] = Seq(child, centroids, dims)
  override def nullable: Boolean = false
  override lazy val deterministic: Boolean = true
  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (centroids.foldable && dims.foldable)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "graft_ivf_cell expects foldable centroids/dims")

  private lazy val cents: Array[Double] =
    centroids.eval().asInstanceOf[ArrayData].toDoubleArray()
  private lazy val d: Int = dims.eval().asInstanceOf[Int]
  private lazy val k: Int = cents.length / d
  private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  def compute(e: ArrayData): Int = {
    var best = Double.PositiveInfinity
    var bestCell = 0
    var c = 0
    while (c < k) {
      var dist = 0.0
      var i = 0
      val base = c * d
      val n = math.min(d, if (e == null) 0 else e.numElements())
      while (i < n) {
        val x = (if (isFloat) e.getFloat(i).toDouble else e.getDouble(i)) - cents(base + i)
        dist += x * x
        i += 1
      }
      if (dist < best) { best = dist; bestCell = c }
      c += 1
    }
    bestCell
  }

  override def eval(input: InternalRow): Any =
    compute(child.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val ref = ctx.addReferenceObj("kernel", this)
    ev.copy(code = code"""
      ${c.code}
      int ${ev.value} = $ref.compute(${c.isNull} ? null : ${c.value});
    """, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0), centroids = newChildren(1), dims = newChildren(2))
}

/** graft_minhash_sig(hashes, k): the k minhashes of a hashed shingle set —
  * element j = min over h of xxhash64(h, j) — bit-identical to the
  * `min(xxhash64(col("h"), lit(j)))` aggregate formulation (hashInt(j,
  * hashLong(h, 42)), matching XxHash64's child-chaining for (long, int
  * literal)). Empty input → all Long.MaxValue (callers filter empty sets
  * out beforehand, matching the aggregate path where such docs vanish). */
case class MinhashSig(child: Expression, numHashes: Expression)
    extends Expression {

  override def children: Seq[Expression] = Seq(child, numHashes)
  override def nullable: Boolean = false
  override lazy val deterministic: Boolean = true
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == ArrayType(LongType, containsNull = false) ||
      child.dataType == ArrayType(LongType, containsNull = true))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "graft_minhash_sig expects (array<long>, int literal)")

  private lazy val k: Int = numHashes.eval().asInstanceOf[Int]

  def compute(arr: ArrayData): ArrayData = {
    val m = Array.fill(k)(Long.MaxValue)
    if (arr != null) {
      val n = arr.numElements()
      var i = 0
      while (i < n) {
        val base = XXH64.hashLong(arr.getLong(i), TextHashes.Seed)
        var j = 0
        while (j < k) {
          val v = XXH64.hashInt(j, base)
          if (v < m(j)) m(j) = v
          j += 1
        }
        i += 1
      }
    }
    new GenericArrayData(m)
  }

  override def eval(input: InternalRow): Any =
    compute(child.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val ref = ctx.addReferenceObj("kernel", this)
    ev.copy(code = code"""
      ${c.code}
      org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
        $ref.compute(${c.isNull} ? null : ${c.value});
    """, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0), numHashes = newChildren(1))
}

/** graft_bitmap(hashes, vocab, rank): global-dictionary bitmap of a hashed
  * shingle set as ⌈|vocab|/64⌉ longs. `vocab` is the full corpus vocabulary
  * sorted by hash value (binary-searched per element), `rank` maps each
  * vocab position to its bit position (graft.ops.Dedup uses rarity rank, so
  * bit order = global rarity order and prefix selection is "first k set
  * bits"). Hashes not in the vocabulary are ignored. */
case class BitmapOfSet(child: Expression, vocab: Expression, rank: Expression)
    extends Expression {

  override def children: Seq[Expression] = Seq(child, vocab, rank)
  override def nullable: Boolean = false
  override lazy val deterministic: Boolean = true
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (vocab.foldable && rank.foldable)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "graft_bitmap expects foldable vocab/rank arrays")

  private lazy val vocabArr: Array[Long] = {
    val a = vocab.eval().asInstanceOf[ArrayData]
    a.toLongArray()
  }
  private lazy val rankArr: Array[Int] = {
    val a = rank.eval().asInstanceOf[ArrayData]
    a.toIntArray()
  }
  private lazy val words: Int = (vocabArr.length + 63) / 64

  def compute(arr: ArrayData): ArrayData = {
    val bm = new Array[Long](words)
    if (arr != null) {
      val n = arr.numElements()
      var i = 0
      while (i < n) {
        val p = java.util.Arrays.binarySearch(vocabArr, arr.getLong(i))
        if (p >= 0) {
          val r = rankArr(p)
          bm(r >> 6) |= 1L << (r & 63)
        }
        i += 1
      }
    }
    new GenericArrayData(bm)
  }

  override def eval(input: InternalRow): Any =
    compute(child.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val ref = ctx.addReferenceObj("kernel", this)
    ev.copy(code = code"""
      ${c.code}
      org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
        $ref.compute(${c.isNull} ? null : ${c.value});
    """, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0), vocab = newChildren(1), rank = newChildren(2))
}

/** graft_repetition(text): the three repetition signals of
  * `TextOps.repetitionFeatures` — duplicate-word fraction, top-word share,
  * top-bigram share — as a struct, in ONE pass over the lowercased
  * whitespace tokens. Bit-identical to the HOF fallback (same `\s+` split,
  * same binary string equality, same int→double divisions), which walks the
  * token array O(distinct × n) times through four interpreted
  * higher-order-function trees. Null text → (0.0, 0.0, 0.0), matching the
  * fallback's `when(size > 0, …).otherwise(0.0)` null-condition behavior. */
case class RepetitionStats(child: Expression) extends Expression {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override lazy val deterministic: Boolean = true
  override def dataType: DataType = StructType(Seq(
    StructField("dup_word_frac", DoubleType, nullable = false),
    StructField("top_word_frac", DoubleType, nullable = false),
    StructField("top_bigram_frac", DoubleType, nullable = false)))

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "graft_repetition expects a string input")

  private val ws = UTF8String.fromString("\\s+")
  private val space = UTF8String.fromString(" ")

  def compute(s: UTF8String): InternalRow = {
    if (s == null) {
      return new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](0.0, 0.0, 0.0))
    }
    val parts = s.toLowerCase.split(ws, -1)
    val wordCounts = new java.util.HashMap[UTF8String, Integer]()
    val bigramCounts = new java.util.HashMap[UTF8String, Integer]()
    var total = 0
    var maxWord = 0
    var numBigrams = 0
    var maxBigram = 0
    var prev: UTF8String = null
    var i = 0
    while (i < parts.length) {
      val t = parts(i)
      if (t.numBytes() > 0) {
        total += 1
        val c = wordCounts.getOrDefault(t, 0) + 1
        wordCounts.put(t, c)
        if (c > maxWord) maxWord = c
        if (prev != null) {
          numBigrams += 1
          val key = UTF8String.concat(prev, space, t)
          val b = bigramCounts.getOrDefault(key, 0) + 1
          bigramCounts.put(key, b)
          if (b > maxBigram) maxBigram = b
        }
        prev = t
      }
      i += 1
    }
    val dup = if (total > 0) 1.0 - wordCounts.size.toDouble / total else 0.0
    val topW = if (total > 0) maxWord.toDouble / total else 0.0
    val topB = if (numBigrams > 0) maxBigram.toDouble / numBigrams else 0.0
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](dup, topW, topB))
  }

  override def eval(input: InternalRow): Any =
    compute(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val ref = ctx.addReferenceObj("kernel", this)
    ev.copy(code = code"""
      ${c.code}
      InternalRow ${ev.value} = $ref.compute(${c.isNull} ? null : ${c.value});
    """, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0))
}

/** graft_normalize(text, form, stripAccents): Unicode normalization to the
  * given form ("NFC" | "NFD" | "NFKC" | "NFKD"), optionally stripping
  * combining marks (decompose → drop Mn category → recompose to the target
  * form) — the canonicalization pass that must run BEFORE any hashing,
  * fingerprinting, or dedup so that visually-identical byte sequences
  * (é precomposed vs e + U+0301) collide. No pure-Column twin exists
  * (Spark has no normalization builtin). */
case class NormalizeText(child: Expression, form: Expression, stripAccents: Expression)
    extends Expression {

  override def children: Seq[Expression] = Seq(child, form, stripAccents)
  override def nullable: Boolean = true
  override lazy val deterministic: Boolean = true
  override def dataType: DataType = StringType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType && form.foldable && stripAccents.foldable)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "graft_normalize expects (string, foldable form, foldable bool)")

  private lazy val normForm: java.text.Normalizer.Form =
    java.text.Normalizer.Form.valueOf(
      form.eval().asInstanceOf[UTF8String].toString.toUpperCase(java.util.Locale.ROOT))
  private lazy val strip: Boolean = stripAccents.eval().asInstanceOf[Boolean]
  private val marks = java.util.regex.Pattern.compile("\\p{Mn}+")

  def compute(s: UTF8String): UTF8String = {
    val in = s.toString
    val out =
      if (strip) {
        val decomposed =
          java.text.Normalizer.normalize(in, java.text.Normalizer.Form.NFD)
        java.text.Normalizer.normalize(
          marks.matcher(decomposed).replaceAll(""), normForm)
      } else java.text.Normalizer.normalize(in, normForm)
    UTF8String.fromString(out)
  }

  override def eval(input: InternalRow): Any = {
    val s = child.eval(input).asInstanceOf[UTF8String]
    if (s == null) null else compute(s)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val ref = ctx.addReferenceObj("kernel", this)
    ev.copy(code = code"""
      ${c.code}
      boolean ${ev.isNull} = ${c.isNull};
      UTF8String ${ev.value} = null;
      if (!${ev.isNull}) ${ev.value} = $ref.compute(${c.value});
    """)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0), form = newChildren(1), stripAccents = newChildren(2))
}

/** graft_token_ngram_hashes(text, n): distinct xxhash64 values of the
  * lowercased whitespace-token n-grams of `text` (tokens joined with a
  * single space), in first-occurrence order — bit-identical to
  * `array_distinct(transform(sequence(0, size(toks) - n), i =>
  * xxhash64(concat_ws(" ", slice(toks, i + 1, n)))))` over
  * `filter(split(lower(text), "\s+"), t => t =!= "")`. Null or
  * fewer-than-n-token text → empty array (the `when(...).otherwise`
  * fallback behavior). Tokenization matches Java regex `\s` (ASCII
  * whitespace — all single bytes in UTF-8, so the byte scan is exact).
  *
  * One-buffer trick: the tokens are written once into a normalized buffer
  * joined by single spaces, so every n-gram is a CONTIGUOUS slice of that
  * buffer — one XXH64 call per window, no per-window string assembly. */
case class TokenNgramHashes(child: Expression, n: Expression) extends Expression {

  override def children: Seq[Expression] = Seq(child, n)
  override def nullable: Boolean = false
  override lazy val deterministic: Boolean = true
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = TilePairs.TokenNgramName

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType && n.foldable && n.dataType == IntegerType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "graft_token_ngram_hashes expects (string, int literal)")

  private lazy val nn: Int = {
    val v = n.eval().asInstanceOf[Int]
    require(v >= 1, s"graft_token_ngram_hashes: n must be >= 1, got $v")
    v
  }
  private val empty = new GenericArrayData(Array.empty[Long])

  private def isWs(b: Byte): Boolean = // Java regex \s: [ \t\n\x0B\f\r]
    b == ' '.toByte || b == '\t'.toByte || b == '\n'.toByte ||
      b == 0x0B.toByte || b == '\f'.toByte || b == '\r'.toByte

  def compute(s0: UTF8String): ArrayData = {
    if (s0 == null) return empty
    val bytes = s0.toLowerCase.getBytes // same lowercase as Spark's lower()
    // normalize: tokens joined by single spaces, recording token starts
    val buf = new Array[Byte](bytes.length)
    val starts = new ArrayBuffer[Int]()
    var w = 0
    var i = 0
    var inTok = false
    while (i < bytes.length) {
      val b = bytes(i)
      if (isWs(b)) inTok = false
      else {
        if (!inTok) {
          if (w > 0) { buf(w) = ' '.toByte; w += 1 }
          starts += w
          inTok = true
        }
        buf(w) = b
        w += 1
      }
      i += 1
    }
    val t = starts.length - nn + 1
    if (t <= 0) return empty
    val seen = new java.util.HashSet[java.lang.Long](t * 2)
    val out = new ArrayBuffer[Long](t)
    var g = 0
    while (g < t) {
      val from = starts(g)
      val until = if (g + nn < starts.length) starts(g + nn) - 1 else w
      val h = XXH64.hashUnsafeBytes(
        buf, Platform.BYTE_ARRAY_OFFSET + from, until - from, TextHashes.Seed)
      if (seen.add(h)) out += h
      g += 1
    }
    new GenericArrayData(out.toArray)
  }

  override def eval(input: InternalRow): Any =
    compute(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val ref = ctx.addReferenceObj("kernel", this)
    ev.copy(code = code"""
      ${c.code}
      org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
        $ref.compute(${c.isNull} ? null : ${c.value});
    """, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0), n = newChildren(1))
}

/** graft_hash_embed(text, dim, seed): RAW signed feature-hashed bag-of-words
  * counts — component `pmod(xxhash64(seed, t), dim)` accumulates
  * `xxhash64(seed+1, t) % 2 == 0 ? +1 : −1` per lowercased whitespace token
  * t. Bit-identical to the `aggregate(transform(tokens, …), array_repeat…)`
  * Column fold it replaces (same lowercase/split, same seeded XXH64 chain,
  * exact integer accumulation), but one primitive loop per row: the fold is
  * O(tokens · dim) through the INTERPRETED higher-order-function evaluator
  * — measured 33 s over 5 k sf0.1 docs at dim = 16 — where this kernel is
  * O(tokens + dim) inside whole-stage codegen. Normalization stays in the
  * caller (an O(dim) Column, not the hot path). NULL text → NULL (the
  * caller's coalesce supplies the zero vector). */
case class HashEmbedCounts(child: Expression, dim: Expression, seed: Expression)
    extends Expression {

  override def children: Seq[Expression] = Seq(child, dim, seed)
  override def nullable: Boolean = true
  override lazy val deterministic: Boolean = true
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType != StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "graft_hash_embed expects a string input")
    else if (!dim.foldable || dim.dataType != IntegerType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "graft_hash_embed expects a foldable int dim")
    else if (!seed.foldable || seed.dataType != LongType)
      // LONG only: an int seed would hash through hashLong here but
      // through hashInt in the documented xxhash64(seed, t) counterpart —
      // silently different buckets; rejecting the type keeps the
      // bit-parity contract honest
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "graft_hash_embed expects a foldable LONG seed (cast int seeds: " +
          "an int hashes through a different xxhash64 chain)")
    else if (dim.eval() == null || dim.eval().asInstanceOf[Int] < 1)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "graft_hash_embed dim must be a non-null int >= 1")
    else if (seed.eval() == null)
      // a NULL seed would unbox to 0L and silently hash as seed 0, where
      // the xxhash64(NULL, t) counterpart returns NULL — reject it
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "graft_hash_embed seed must be non-null")
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess

  private lazy val d: Int = dim.eval().asInstanceOf[Int]
  private lazy val seedValue: Long = seed.eval().asInstanceOf[Long]
  // the xxhash64(lit(seed), t) chain: the literal hashes first (over the
  // expression default seed 42), its result seeds the token hash
  private lazy val bucketSeed: Long = XXH64.hashLong(seedValue, TextHashes.Seed)
  private lazy val signSeed: Long = XXH64.hashLong(seedValue + 1L, TextHashes.Seed)

  private val ws = UTF8String.fromString("\\s+")

  def compute(s: UTF8String): ArrayData = {
    val acc = new Array[Double](d)
    val tokens = s.toLowerCase.split(ws, -1)
    var i = 0
    while (i < tokens.length) {
      val t = tokens(i)
      if (t.numBytes() > 0) {
        val b = java.lang.Math.floorMod(XXH64.hashUTF8String(t, bucketSeed), d.toLong).toInt
        acc(b) +=
          (if (java.lang.Math.floorMod(XXH64.hashUTF8String(t, signSeed), 2L) == 0L) 1.0
           else -1.0)
      }
      i += 1
    }
    new GenericArrayData(acc)
  }

  override def eval(input: InternalRow): Any = {
    val s = child.eval(input).asInstanceOf[UTF8String]
    if (s == null) null else compute(s)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val ref = ctx.addReferenceObj("kernel", this)
    ev.copy(code = code"""
      ${c.code}
      boolean ${ev.isNull} = ${c.isNull};
      org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
      if (!${ev.isNull}) ${ev.value} = $ref.compute(${c.value});
    """)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0), dim = newChildren(1), seed = newChildren(2))
}
