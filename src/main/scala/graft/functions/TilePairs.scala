package graft.functions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the dedup tile expansion (the O(pairs)
  * hot loop). The equivalent higher-order-function expression walks an
  * interpreted expression tree per candidate pair; these expressions run one
  * `eval` per TILE with tight loops over primitive arrays — same results,
  * roughly an order of magnitude less per-pair overhead. Registered through
  * [[GraftExtensions]] (SparkSessionExtensions), which every session that
  * runs graft's operators must install.
  */
object TilePairs {
  val JaccardName = "graft_jaccard_tile_pairs"
  val JaccardPfxName = "graft_jaccard_prefix_pairs"
  val SigEstCanonicalName = "graft_sig_est_canonical_pairs"
  val HammingName = "graft_hamming_tile_pairs"
  val SigEstName = "graft_sig_est_tile_pairs"
  val DotName = "graft_dot"
  val ShingleName = "graft_shingle_hashes"
  val MinhashName = "graft_minhash_sig"
  val BitmapName = "graft_bitmap"
  val SimhashName = "graft_simhash"
  val IvfCellName = "graft_ivf_cell"
  val ShingleStrName = "graft_shingle_strings"
  val CosineName = "graft_cosine_tile_pairs"
  val SqDistName = "graft_sqdist"
  val RepetitionName = "graft_repetition"
  val GramSumName = "graft_gram_sum"
  val VecSumName = "graft_vec_sum"
  val NormalizeName = "graft_normalize"
  val BloomAggName = "graft_bloom_agg"
  val BloomContainsName = "graft_bloom_contains"
  val TokenNgramName = "graft_token_ngram_hashes"
  val BpeName = "graft_bpe_encode"
  val SpUnigramName = "graft_sp_unigram"
  val HashEmbedName = "graft_hash_embed"
  val JpegDimsName = "graft_jpeg_dims"
  val RiffDurationName = "graft_riff_duration"
  val Mp4DurationName = "graft_mp4_duration"
  val Mp3DurationName = "graft_mp3_duration"
  val FlacDurationName = "graft_flac_duration"
  val OggDurationName = "graft_ogg_duration"
  val WebmDurationName = "graft_webm_duration"
  val ExifOrientationName = "graft_exif_orientation"
  val ExifGpsName = "graft_exif_gps"
  val ExifGpsStripName = "graft_exif_gps_strip"
  val WebpDimsName = "graft_webp_dims"
  val IsoBmffDimsName = "graft_isobmff_dims"
  val ExifTagsName = "graft_exif_tags"
  val Mp3TagsName = "graft_mp3_tags"
  val RobotsVerdictName = "graft_robots_verdict"
  val PdfTextName = "graft_pdf_text"
  val PdfInfoName = "graft_pdf_info"
}

private[functions] trait TileExpression extends Expression with CodegenFallback {
  def left: Expression
  def right: Expression
  def diagonal: Expression

  override def nullable: Boolean = false
  override lazy val deterministic: Boolean = true

  /** (ids, per-member payloads) extracted once per tile — pair loops then
    * touch only primitive arrays. */
  protected def memberCount(a: ArrayData): Int = if (a == null) 0 else a.numElements()
}

/** graft_jaccard_tile_pairs(left, right, diagonal, threshold):
  * input arrays of struct(id long, sz int, bm array&lt;long&gt;); emits
  * struct(a, b, j) for every (x ∈ left, y ∈ right) pair — upper triangle
  * when `diagonal` — whose exact bitmap Jaccard ≥ threshold. The length
  * bound J ≤ min(sz)/max(sz) prunes before the popcount loop. */
case class JaccardTilePairs(
    left: Expression,
    right: Expression,
    diagonal: Expression,
    threshold: Expression)
    extends TileExpression {

  override def children: Seq[Expression] = Seq(left, right, diagonal, threshold)

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("a", LongType, nullable = false),
      StructField("b", LongType, nullable = false),
      StructField("j", DoubleType, nullable = false))),
    containsNull = false)

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(left = c(0), right = c(1), diagonal = c(2), threshold = c(3))

  private def extract(a: ArrayData): (Array[Long], Array[Int], Array[Array[Long]]) = {
    val n = memberCount(a)
    val ids = new Array[Long](n)
    val szs = new Array[Int](n)
    val bms = new Array[Array[Long]](n)
    var i = 0
    while (i < n) {
      val row = a.getStruct(i, 3)
      ids(i) = row.getLong(0)
      szs(i) = row.getInt(1)
      bms(i) = row.getArray(2).toLongArray()
      i += 1
    }
    (ids, szs, bms)
  }

  override def eval(input: InternalRow): Any = {
    val l = left.eval(input).asInstanceOf[ArrayData]
    val r = right.eval(input).asInstanceOf[ArrayData]
    val diag = diagonal.eval(input).asInstanceOf[Boolean]
    val t = threshold.eval(input).asInstanceOf[Double]
    val (lIds, lSzs, lBms) = extract(l)
    val (rIds, rSzs, rBms) = if (diag) (lIds, lSzs, lBms) else extract(r)
    val out = new ArrayBuffer[InternalRow]()
    var i = 0
    while (i < lIds.length) {
      val szA = lSzs(i)
      val bmA = lBms(i)
      var j = if (diag) i + 1 else 0
      while (j < rIds.length) {
        val szB = rSzs(j)
        // length bound: J <= min/max — skip the popcount loop when impossible
        if (math.min(szA, szB).toDouble >= math.max(szA, szB).toDouble * t) {
          val bmB = rBms(j)
          var common = 0L
          var w = 0
          while (w < bmA.length) {
            common += java.lang.Long.bitCount(bmA(w) & bmB(w))
            w += 1
          }
          val jac = common.toDouble / (szA.toLong + szB.toLong - common).toDouble
          if (jac >= t) out += InternalRow(lIds(i), rIds(j), jac)
        }
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out.toArray[Any])
  }
}

/** graft_jaccard_prefix_pairs(left, right, diagonal, threshold, pid,
  * eligible): [[JaccardTilePairs]] with CANONICAL-BUCKET emission for the
  * prefix-filter inverted index (graft.ops.Dedup.ngramJaccardPairsDistinct,
  * small-vocab branch). A qualifying pair shares every prefix shingle both
  * docs index, so the plain kernel emits it once per common prefix bucket —
  * a near-identical pair (J ≈ 1, prefix ≈ sz/2 shingles) is emitted ~sz/2
  * times and a downstream `dropDuplicates` must shuffle ALL of those rows
  * to keep one (measured: 1.9 GB written + 1.9 GB spilled for ~45 M
  * pre-dedup rows on the r15 calibration corpus, vs < 1 M distinct pairs).
  * This kernel instead emits the pair ONLY from its canonical bucket — the
  * smallest common prefix shingle — so every qualifying pair is emitted
  * exactly once across all buckets and no dedup shuffle exists at all.
  *
  * Canonical rule (exact, not heuristic): doc d's prefix is the first
  * `k_d = sz_d − ⌈sz_d·t⌉ + 1` set bits of its rarity-ranked bitmap among
  * ranks < `eligible` (the stop-gram cap), exactly the bucket-build
  * expression. For a pair, only the FIRST common set bit r₀ can be the
  * canonical bucket: below-r popcounts are monotone in r, so if r₀ is
  * outside either prefix every later common bit is too, and the pair
  * appears in NO common bucket (then the prefix-filter theorem says its
  * Jaccard is < t — it was never going to be emitted). Emit iff
  * J ≥ threshold AND r₀ == pid AND r₀ is inside both prefixes. The union
  * over all buckets is therefore EXACTLY the deduplicated output of the
  * plain kernel: same pair set, same Jaccard values, one row each. */
case class JaccardPrefixPairs(
    left: Expression,
    right: Expression,
    diagonal: Expression,
    threshold: Expression,
    pid: Expression,
    eligible: Expression)
    extends TileExpression {

  override def children: Seq[Expression] =
    Seq(left, right, diagonal, threshold, pid, eligible)

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("a", LongType, nullable = false),
      StructField("b", LongType, nullable = false),
      StructField("j", DoubleType, nullable = false))),
    containsNull = false)

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(left = c(0), right = c(1), diagonal = c(2), threshold = c(3),
      pid = c(4), eligible = c(5))

  private def extract(a: ArrayData): (Array[Long], Array[Int], Array[Array[Long]]) = {
    val n = memberCount(a)
    val ids = new Array[Long](n)
    val szs = new Array[Int](n)
    val bms = new Array[Array[Long]](n)
    var i = 0
    while (i < n) {
      val row = a.getStruct(i, 3)
      ids(i) = row.getLong(0)
      szs(i) = row.getInt(1)
      bms(i) = row.getArray(2).toLongArray()
      i += 1
    }
    (ids, szs, bms)
  }

  /** Set bits of `bm` strictly below bit index r. */
  private def popBelow(bm: Array[Long], r: Int): Int = {
    val w = r >>> 6
    var c = 0
    var i = 0
    while (i < w) { c += java.lang.Long.bitCount(bm(i)); i += 1 }
    // (1L << 64) wraps in Java; mask explicitly for r % 64 == 0
    val rem = r & 63
    if (rem != 0) c += java.lang.Long.bitCount(bm(w) & ((1L << rem) - 1L))
    c
  }

  override def eval(input: InternalRow): Any = {
    val l = left.eval(input).asInstanceOf[ArrayData]
    val r = right.eval(input).asInstanceOf[ArrayData]
    val diag = diagonal.eval(input).asInstanceOf[Boolean]
    val t = threshold.eval(input).asInstanceOf[Double]
    val bucketPid = pid.eval(input).asInstanceOf[Int]
    val elig = eligible.eval(input).asInstanceOf[Int]
    val (lIds, lSzs, lBms) = extract(l)
    val (rIds, rSzs, rBms) = if (diag) (lIds, lSzs, lBms) else extract(r)
    val out = new ArrayBuffer[InternalRow]()
    var i = 0
    while (i < lIds.length) {
      val szA = lSzs(i)
      val bmA = lBms(i)
      // the exact bucket-build arithmetic: sz − cast(ceil(sz · t) as int) + 1
      val kA = szA - math.ceil(szA * t).toLong.toInt + 1
      var j = if (diag) i + 1 else 0
      while (j < rIds.length) {
        val szB = rSzs(j)
        // length bound: J <= min/max — skip the popcount loop when impossible
        if (math.min(szA, szB).toDouble >= math.max(szA, szB).toDouble * t) {
          val bmB = rBms(j)
          var common = 0L
          var w = 0
          while (w < bmA.length) {
            common += java.lang.Long.bitCount(bmA(w) & bmB(w))
            w += 1
          }
          val jac = common.toDouble / (szA.toLong + szB.toLong - common).toDouble
          if (jac >= t) {
            // canonical check: first common set bit, inside both prefixes
            var r0 = -1
            var w2 = 0
            while (w2 < bmA.length && r0 < 0) {
              val inter = bmA(w2) & bmB(w2)
              if (inter != 0L)
                r0 = (w2 << 6) + java.lang.Long.numberOfTrailingZeros(inter)
              w2 += 1
            }
            if (r0 == bucketPid && r0 < elig &&
                popBelow(bmA, r0) < kA &&
                popBelow(bmB, r0) < szB - math.ceil(szB * t).toLong.toInt + 1)
              out += InternalRow(lIds(i), rIds(j), jac)
          }
        }
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out.toArray[Any])
  }
}

/** graft_sig_est_tile_pairs(left, right, diagonal, minEqual):
  * input arrays of struct(id long, sig array&lt;long&gt;); emits struct(a, b)
  * for every pair whose minhash signatures agree in at least `minEqual`
  * positions — the general-vocabulary candidate filter (estimated Jaccard),
  * exact verification happens downstream. */
case class SigEstTilePairs(
    left: Expression,
    right: Expression,
    diagonal: Expression,
    minEqual: Expression)
    extends TileExpression {

  override def children: Seq[Expression] = Seq(left, right, diagonal, minEqual)

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("a", LongType, nullable = false),
      StructField("b", LongType, nullable = false))),
    containsNull = false)

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(left = c(0), right = c(1), diagonal = c(2), minEqual = c(3))

  private def extract(a: ArrayData): (Array[Long], Array[Array[Long]]) = {
    val n = memberCount(a)
    val ids = new Array[Long](n)
    val sigs = new Array[Array[Long]](n)
    var i = 0
    while (i < n) {
      val row = a.getStruct(i, 2)
      ids(i) = row.getLong(0)
      sigs(i) = row.getArray(1).toLongArray()
      i += 1
    }
    (ids, sigs)
  }

  override def eval(input: InternalRow): Any = {
    val l = left.eval(input).asInstanceOf[ArrayData]
    val r = right.eval(input).asInstanceOf[ArrayData]
    val diag = diagonal.eval(input).asInstanceOf[Boolean]
    val minEq = minEqual.eval(input).asInstanceOf[Int]
    val (lIds, lSigs) = extract(l)
    val (rIds, rSigs) = if (diag) (lIds, lSigs) else extract(r)
    val out = new ArrayBuffer[InternalRow]()
    var i = 0
    while (i < lIds.length) {
      val sigA = lSigs(i)
      var j = if (diag) i + 1 else 0
      while (j < rIds.length) {
        val sigB = rSigs(j)
        val n = sigA.length
        // count equal positions; bail once a match became impossible
        var eq = 0
        var k = 0
        var remaining = n
        while (k < n && eq + remaining >= minEq) {
          if (sigA(k) == sigB(k)) eq += 1
          remaining -= 1
          k += 1
        }
        if (eq >= minEq) out += InternalRow(lIds(i), rIds(j))
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out.toArray[Any])
  }
}

/** graft_sig_est_canonical_pairs(left, right, diagonal, minEqual, band,
  * rowsPerBand): [[SigEstTilePairs]] with CANONICAL-BAND emission — the
  * banded-LSH sibling of [[JaccardPrefixPairs]]. A candidate pair collides
  * in every band whose signature slices hash equal (a 0.8-Jaccard pair
  * collides in ~⅔ of 32 bands), so the plain kernel re-checks and re-emits
  * it once per shared band and a downstream `dropDuplicates` shuffles all
  * of those rows. This kernel emits a pair ONLY from the FIRST band whose
  * band hashes agree: per member the band-hash array is precomputed once
  * per tile (the exact xxhash64(seed 42) fold [[graft.ops.Dedup]]'s
  * banding uses), and the pair loop walks earlier bands with early exit —
  * for a hot near-dup pair that walk exits at band 0 after ONE long
  * compare, where the plain kernel paid a full signature compare per
  * shared band. The union over all buckets is exactly the deduplicated
  * plain output: the est count is pair-global, so a pair passes the
  * minEqual filter at its canonical band iff it passes anywhere.
  *
  * BUCKET-CAP interaction (the one deliberate semantic refinement, active
  * ONLY in the explicitly-lossy over-cap regime): a pair whose canonical
  * band's bucket was dropped by maxBucketSize is no longer recovered via a
  * later shared band — the canonical walk cannot know another bucket was
  * capped. BucketCap already WARNs with drop accounting whenever the cap
  * fires; under it candidate recall was always explicitly lossy, and the
  * canonical rule makes the loss per-pair-deterministic instead of
  * whichever-bucket-survived. Uncapped runs (every driver-contract query:
  * the cap is 100 000 against ≤ 10 k-member buckets) are bit-identical to
  * plain-kernel + dropDuplicates. */
case class SigEstCanonicalPairs(
    left: Expression,
    right: Expression,
    diagonal: Expression,
    minEqual: Expression,
    band: Expression,
    rowsPerBand: Expression)
    extends TileExpression {

  override def children: Seq[Expression] =
    Seq(left, right, diagonal, minEqual, band, rowsPerBand)

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("a", LongType, nullable = false),
      StructField("b", LongType, nullable = false))),
    containsNull = false)

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(left = c(0), right = c(1), diagonal = c(2), minEqual = c(3),
      band = c(4), rowsPerBand = c(5))

  /** Catalyst's multi-argument xxhash64 fold (seed 42) over one band's
    * signature rows — must agree bit-for-bit with the banding projection's
    * `xxhash64(element_at(sig, …)…)` so "same hash" here means "same
    * bucket" there. */
  private def bandHash(sig: Array[Long], b: Int, r0: Int): Long = {
    var h = 42L
    var k = b * r0
    val end = k + r0
    while (k < end) {
      h = org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(sig(k), h)
      k += 1
    }
    h
  }

  private def extract(a: ArrayData, r0: Int): (Array[Long], Array[Array[Long]], Array[Array[Long]]) = {
    val n = memberCount(a)
    val ids = new Array[Long](n)
    val sigs = new Array[Array[Long]](n)
    val bhs = new Array[Array[Long]](n)
    var i = 0
    while (i < n) {
      val row = a.getStruct(i, 2)
      ids(i) = row.getLong(0)
      val sig = row.getArray(1).toLongArray()
      sigs(i) = sig
      val bands = sig.length / r0
      val bh = new Array[Long](bands)
      var b = 0
      while (b < bands) { bh(b) = bandHash(sig, b, r0); b += 1 }
      bhs(i) = bh
      i += 1
    }
    (ids, sigs, bhs)
  }

  override def eval(input: InternalRow): Any = {
    val l = left.eval(input).asInstanceOf[ArrayData]
    val r = right.eval(input).asInstanceOf[ArrayData]
    val diag = diagonal.eval(input).asInstanceOf[Boolean]
    val minEq = minEqual.eval(input).asInstanceOf[Int]
    val curBand = band.eval(input).asInstanceOf[Int]
    val r0 = rowsPerBand.eval(input).asInstanceOf[Int]
    val (lIds, lSigs, lBhs) = extract(l, r0)
    val (rIds, rSigs, rBhs) = if (diag) (lIds, lSigs, lBhs) else extract(r, r0)
    val out = new ArrayBuffer[InternalRow]()
    var i = 0
    while (i < lIds.length) {
      val sigA = lSigs(i)
      val bhA = lBhs(i)
      var j = if (diag) i + 1 else 0
      while (j < rIds.length) {
        // canonical-band walk FIRST (cheap precomputed longs, early exit):
        // any earlier band with equal hashes already emitted this pair.
        // The current-band check is a production no-op (same bucket ⇒
        // equal hashes) but keeps the kernel total on arbitrary input.
        val bhB = rBhs(j)
        var earlier = bhA(curBand) != bhB(curBand)
        var b = 0
        while (b < curBand && !earlier) {
          if (bhA(b) == bhB(b)) earlier = true
          b += 1
        }
        if (!earlier) {
          val sigB = rSigs(j)
          val n = sigA.length
          // count equal positions; bail once a match became impossible
          var eq = 0
          var k = 0
          var remaining = n
          while (k < n && eq + remaining >= minEq) {
            if (sigA(k) == sigB(k)) eq += 1
            remaining -= 1
            k += 1
          }
          if (eq >= minEq) out += InternalRow(lIds(i), rIds(j))
        }
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out.toArray[Any])
  }
}

/** graft_cosine_tile_pairs(left, right, diagonal, threshold):
  * input arrays of struct(id long, emb array&lt;float|double&gt;, norm double);
  * emits struct(a, b, cos) for every (x ∈ left, y ∈ right) pair — upper
  * triangle when `diagonal` — with cos = dot(embₐ, emb_b)/(normₐ·norm_b)
  * ≥ threshold. The dot is a sequential fold in array order, so results are
  * bit-identical to the higher-order-function fallback (and to the
  * precomputed `norm = sqrt(dot(e, e))` the caller supplies). */
case class CosineTilePairs(
    left: Expression,
    right: Expression,
    diagonal: Expression,
    threshold: Expression)
    extends TileExpression {

  override def children: Seq[Expression] = Seq(left, right, diagonal, threshold)

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("a", LongType, nullable = false),
      StructField("b", LongType, nullable = false),
      StructField("cos", DoubleType, nullable = false))),
    containsNull = false)

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(left = c(0), right = c(1), diagonal = c(2), threshold = c(3))

  /** Embedding element type, read from the member-struct schema once. */
  private lazy val embIsFloat: Boolean = left.dataType match {
    case ArrayType(s: StructType, _) => s.fields(1).dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    case _ => false
  }

  private def extract(a: ArrayData): (Array[Long], Array[Array[Double]], Array[Double]) = {
    val n = memberCount(a)
    val ids = new Array[Long](n)
    val embs = new Array[Array[Double]](n)
    val norms = new Array[Double](n)
    var i = 0
    while (i < n) {
      val row = a.getStruct(i, 3)
      ids(i) = row.getLong(0)
      val e = row.getArray(1)
      val m = e.numElements()
      val arr = new Array[Double](m)
      var j = 0
      while (j < m) {
        arr(j) = if (embIsFloat) e.getFloat(j).toDouble else e.getDouble(j)
        j += 1
      }
      embs(i) = arr
      norms(i) = row.getDouble(2)
      i += 1
    }
    (ids, embs, norms)
  }

  override def eval(input: InternalRow): Any = {
    val l = left.eval(input).asInstanceOf[ArrayData]
    val r = right.eval(input).asInstanceOf[ArrayData]
    val diag = diagonal.eval(input).asInstanceOf[Boolean]
    val t = threshold.eval(input).asInstanceOf[Double]
    val (lIds, lEmbs, lNorms) = extract(l)
    val (rIds, rEmbs, rNorms) = if (diag) (lIds, lEmbs, lNorms) else extract(r)
    val out = new ArrayBuffer[InternalRow]()
    var i = 0
    while (i < lIds.length) {
      val ea = lEmbs(i)
      var j = if (diag) i + 1 else 0
      while (j < rIds.length) {
        val eb = rEmbs(j)
        val n = math.min(ea.length, eb.length)
        var acc = 0.0
        var k = 0
        while (k < n) {
          acc += ea(k) * eb(k)
          k += 1
        }
        val cos = acc / (lNorms(i) * rNorms(j))
        if (cos >= t) out += InternalRow(lIds(i), rIds(j), cos)
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out.toArray[Any])
  }
}

/** graft_hamming_tile_pairs(left, right, diagonal, maxHamming):
  * input arrays of struct(id long, sh long); emits struct(a, b, h) for every
  * pair with popcount(sh_a xor sh_b) ≤ maxHamming. */
case class HammingTilePairs(
    left: Expression,
    right: Expression,
    diagonal: Expression,
    maxHamming: Expression)
    extends TileExpression {

  override def children: Seq[Expression] = Seq(left, right, diagonal, maxHamming)

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("a", LongType, nullable = false),
      StructField("b", LongType, nullable = false),
      StructField("h", IntegerType, nullable = false))),
    containsNull = false)

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(left = c(0), right = c(1), diagonal = c(2), maxHamming = c(3))

  private def extract(a: ArrayData): (Array[Long], Array[Long]) = {
    val n = memberCount(a)
    val ids = new Array[Long](n)
    val shs = new Array[Long](n)
    var i = 0
    while (i < n) {
      val row = a.getStruct(i, 2)
      ids(i) = row.getLong(0)
      shs(i) = row.getLong(1)
      i += 1
    }
    (ids, shs)
  }

  override def eval(input: InternalRow): Any = {
    val l = left.eval(input).asInstanceOf[ArrayData]
    val r = right.eval(input).asInstanceOf[ArrayData]
    val diag = diagonal.eval(input).asInstanceOf[Boolean]
    val maxH = maxHamming.eval(input).asInstanceOf[Int]
    val (lIds, lShs) = extract(l)
    val (rIds, rShs) = if (diag) (lIds, lShs) else extract(r)
    val out = new ArrayBuffer[InternalRow]()
    var i = 0
    while (i < lIds.length) {
      var j = if (diag) i + 1 else 0
      while (j < rIds.length) {
        val h = java.lang.Long.bitCount(lShs(i) ^ rShs(j))
        if (h <= maxH) out += InternalRow(lIds(i), rIds(j), h)
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out.toArray[Any])
  }
}
