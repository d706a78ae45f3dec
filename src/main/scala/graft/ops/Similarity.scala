package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Similarity search over embedding columns (`array<float>`).
  *
  * Extension beyond the reference surface (SURVEY §2.11). Dot products and
  * norms are higher-order-function folds in double precision — codegen'd
  * expressions, no UDFs. Brute force is the exact baseline (a single
  * narrow projection + TakeOrderedAndProject — no shuffle for top-k);
  * random-hyperplane LSH is the scale path (bucket prune, then brute force
  * within buckets).
  */
object Similarity {

  /** External-embedding IMPORT contract — the practical unblock for the
    * env-blocked multimodal decode stub
    * ([[graft.ops.Multimodal.fakeEmbedding]]): run the GPU-side encoder
    * wherever GPUs live, dump `(id, vector)` parquet, and this loader
    * validates the dump into the exact shape every sim_* / embedding-dedup
    * op here consumes.
    *
    * Validation is loud but stays LAZY and fully distributed (a
    * `raise_error` projection, never a driver-side scan): schema problems
    * — missing columns, an embedding column that is not
    * `array<float|double>` — throw `InvalidParameter` at PLAN time; data
    * problems — a NULL id, a NULL or wrong-length vector, a NULL/NaN
    * component — fail the first task that reads the bad row, with the
    * offending id and observed size in the message. At 10⁹ imported rows
    * nobody pre-scans twice; the check rides the first real pass.
    *
    * Output schema: `(idCol as-is, embCol: array<float>)` — float because
    * imported corpora are memory-bound and every op here upcasts to
    * double per-element anyway ([[dot]]). */
  def loadEmbeddings(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      dim: Int,
      idCol: String = "vec_id",
      embCol: String = "embedding",
  ): DataFrame = {
    require(dim > 0, s"loadEmbeddings: dim must be positive, got $dim")
    val df = spark.read.parquet(path)
    graft.core.Validators.requireColumns(df, Seq(idCol, embCol))
    df.schema(embCol).dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType |
        org.apache.spark.sql.types.DoubleType, _) => ()
      case other =>
        throw graft.errors.FeatureFactoryException.InvalidParameter(
          s"loadEmbeddings($path): column '$embCol' must be array<float> " +
            s"or array<double>, got ${other.simpleString}")
    }
    val e = col(embCol)
    // `isnan` does not catch ±Infinity — an Inf component would pass
    // "validated import" and surface later as NaN/Inf cosines; the
    // abs(x) <= MaxValue form rejects NaN AND both infinities in one test
    val ok = col(idCol).isNotNull && e.isNotNull && size(e) === dim &&
      !exists(e, x => x.isNull || isnan(x) ||
        !(abs(x.cast("double")) <= lit(Double.MaxValue)))
    val msg = concat(
      lit(s"loadEmbeddings($path): row id="),
      coalesce(col(idCol).cast("string"), lit("NULL")),
      lit(s" violates the (id, float[$dim]) contract (vector size="),
      coalesce(size(e).cast("string"), lit("NULL")),
      lit(", or a NULL id / NaN / Infinity component)"))
    df.select(
      col(idCol),
      when(ok, e).otherwise(raise_error(msg)).cast("array<float>").as(embCol))
  }

  /** Sequential left fold Σ aᵢ·bᵢ in double precision. The fold order is the
    * array order, so results are bit-deterministic. */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, v) => acc + v)

  /** cos(a, b) = dot/(√(a·a)·√(b·b)); NaN when either norm is zero. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Driver-side 9-decimal rounding with Spark/DuckDB `round()` tie
    * semantics (HALF_UP) — use THIS for any driver-computed value an
    * oracle re-derives. The two local `round9` helpers in the PCA/outlier
    * fits use half-even (`math.rint`); their outputs only ever reach
    * oracles through dumps, so the tie rule never crosses engines there. */
  private[ops] def round9HalfUp(x: Double): Double =
    BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** [[dot]] through the codegen'd native graft_dot expression (same fold
    * order, bit-identical results). */
  private[ops] def graftDot(a: Column, b: Column): Column =
    call_function(graft.functions.TilePairs.DotName, a, b)

  /** [[cosine]] through [[graftDot]]. */
  private def graftCosine(a: Column, b: Column): Column =
    graftDot(a, b) / (sqrt(graftDot(a, a)) * sqrt(graftDot(b, b)))

  /** Exact brute-force cosine top-k against a broadcast-literal query vector.
    *
    * Plan: one projection over the scan computes the score, then
    * `TakeOrderedAndProject` keeps k rows per partition and merges on the
    * driver — no shuffle, no full sort, embarrassingly parallel at 100 TB.
    * Ties break by id for determinism.
    */
  def cosineTopK(
      df: DataFrame,
      idCol: String,
      embCol: String,
      query: Seq[Double],
      k: Int,
  ): DataFrame = {
    val q = typedLit(query)
    df.select(col(idCol).as("id"), graftCosine(col(embCol), q).as("cos"))
      .orderBy(col("cos").desc, col("id").asc)
      .limit(k)
  }

  /** Batch exact cosine top-k: every query in `queries` retrieves its k
    * nearest corpus rows in ONE pass over the corpus. The query table is
    * broadcast (batches are small — thousands of rows — next to a 100-TB
    * corpus) and fanned out with an intentional BroadcastNestedLoopJoin:
    * scoring IS the cross product here, there is no join key to hash on.
    * Corpus and query norms are computed once below the fan-out (not per
    * pair), and the per-query top-k runs as a rank window that Spark's
    * WindowGroupLimit prunes to k rows per partition map-side BEFORE the
    * single shuffle on query id. Ties break by corpus id. */
  def cosineTopKBatch(
      corpus: DataFrame,
      idCol: String,
      embCol: String,
      queries: DataFrame,
      qIdCol: String,
      qEmbCol: String,
      k: Int,
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, "k must be >= 1")
    // zero-norm vectors have no defined cosine, and NaN-/overflow-norm
    // vectors score NaN against everything; dropping both beats letting
    // NaN scores sort above every real neighbor (Spark ranks NaN first
    // under DESC, so ONE corrupt row would enter EVERY query's top-k —
    // note NaN > 0.0 is TRUE under Spark's NaN-is-greatest rule, so the
    // `<= MaxValue` leg is what actually rejects it)
    val q = broadcast(
      queries.select(col(qIdCol).as("query_id"), col(qEmbCol).as("qemb"))
        .withColumn("qnrm", sqrt(graftDot(col("qemb"), col("qemb"))))
        .filter(col("qnrm") > 0.0 && col("qnrm") <= Double.MaxValue))
    val base = corpus.select(col(idCol).as("id"), col(embCol).as("emb"))
      .withColumn("nrm", sqrt(graftDot(col("emb"), col("emb"))))
      .filter(col("nrm") > 0.0 && col("nrm") <= Double.MaxValue)
    base.join(q)
      .select(col("query_id"), col("id"),
        (graftDot(col("emb"), col("qemb")) / (col("nrm") * col("qnrm"))).as("cos"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cos").desc, col("id").asc)))
      .filter(col("rn") <= k)
      .drop("rn")
  }

  /** Deterministic pseudo-random hyperplane component in [-1, 1): derived
    * from a hash of (seed, plane, dim) — reproducible everywhere, no RNG
    * state to ship. */
  private def planeComponent(seed: Long, plane: Int, dim: Int): Double = {
    val h = scala.util.hashing.MurmurHash3.stringHash(s"$seed:$plane:$dim")
    (h.toDouble / Int.MaxValue.toDouble)
  }

  /** The hyperplanes as driver-side literals (numPlanes × dim doubles — a
    * few KB; they ride to executors inside the serialized plan). */
  def hyperplanes(numPlanes: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] =
    (0 until numPlanes).map(p => (0 until dim).map(j => planeComponent(seed, p, j)))

  /** Random-hyperplane (sign) LSH bucket id: bit p = 1 iff emb·planeₚ > 0.
    * Cosine-similar vectors collide with high probability. One projection,
    * no shuffle. */
  def lshBucket(emb: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      when(graftDot(emb, typedLit(p)) > 0.0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Bucketed ANN top-k: prune to the query's bucket, then exact cosine
    * within it. Recall is tunable via numPlanes (fewer planes → bigger
    * buckets → higher recall & cost). At scale the bucket column is what
    * you'd partition/bucket the table by, so a query touches one partition.
    */
  def annTopK(
      df: DataFrame,
      idCol: String,
      embCol: String,
      query: Seq[Double],
      k: Int,
      numPlanes: Int = 8,
      seed: Long = 42L,
  ): DataFrame = {
    val planes = hyperplanes(numPlanes, query.length, seed)
    val queryBucket = planes.zipWithIndex.map { case (p, i) =>
      val d = p.zip(query).map { case (x, y) => x * y }.sum
      if (d > 0.0) 1L << i else 0L
    }.sum
    cosineTopK(
      df.filter(lshBucket(col(embCol), planes) === queryBucket),
      idCol, embCol, query, k)
  }

  /** Deterministic ±1 sign-projection matrix (Achlioptas/JL): outDim rows
    * of inDim signs derived from a hash of (seed, row, dim) — reproducible
    * everywhere, no RNG state to ship. Driver-side literals (a few KB). */
  def signProjectionMatrix(outDim: Int, inDim: Int, seed: Long = 42L): Seq[Seq[Double]] =
    (0 until outDim).map { o =>
      (0 until inDim).map { i =>
        val h = scala.util.hashing.MurmurHash3.stringHash(s"rp:$seed:$o:$i")
        if ((h & 1) == 1) 1.0 else -1.0
      }
    }

  /** Johnson–Lindenstrauss random projection to `outDim` dimensions:
    * yⱼ = (emb · signRowⱼ) / √outDim. Distances/cosines are approximately
    * preserved (JL lemma), at outDim/inDim the storage and downstream ANN
    * cost. ONE narrow projection — outDim dot products per row against
    * plan-literal sign rows, no shuffle, no fit; the matrix is a pure
    * function of the seed so write-time and read-time projections always
    * agree. `inDim` ≤ 0 peeks the width from the first row (one tiny job).
    */
  def randomProject(
      df: DataFrame,
      embCol: String,
      outDim: Int,
      inDim: Int = -1,
      seed: Long = 42L,
      outCol: String = "",
  ): DataFrame = {
    require(outDim >= 1, "outDim must be >= 1")
    graft.core.Validators.requireColumns(df, Seq(embCol))
    val dim =
      if (inDim > 0) inDim
      else df.select(size(col(embCol))).head().getInt(0)
    val m = signProjectionMatrix(outDim, dim, seed)
    val scale = math.sqrt(outDim.toDouble)
    val out = if (outCol.nonEmpty) outCol else s"${embCol}_rp"
    df.withColumn(out,
      array(m.map(row => graftDot(col(embCol), typedLit(row)) / lit(scale)): _*))
  }

  // ─────────────────── embedding outliers ───────────────────

  /** Fitted outlier stats: the (1e-9-rounded, run-stable) corpus mean
    * vector and the mean/stddev of the L2 distance to it. JSON-persistable
    * like [[PcaModel]] — fit on the corpus once, filter anywhere. */
  final case class OutlierStats(mean: Seq[Double], meanDist: Double, stdDist: Double) {
    def toJsonString: String = {
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      JsonMethods.compact(JsonMethods.render(JObject(
        "version" -> JInt(1),
        "mean" -> JArray(mean.map(JDouble(_)).toList),
        "meanDist" -> JDouble(meanDist),
        "stdDist" -> JDouble(stdDist))))
    }
    def save(path: String): Unit =
      java.nio.file.Files.writeString(java.nio.file.Paths.get(path), toJsonString)
  }

  /** Numeric extraction for the JSON model loaders — the one lenient
    * number reader shared with the transformer persistence layer
    * ([[graft.core.ModelIO]]): accepts JInt/JLong/JDecimal alongside the
    * JDouble this library writes, rather than ClassCastException on a
    * perfectly valid externally-produced centroid file. */
  private def jsonNum(v: org.json4s.JValue): Double = graft.core.ModelIO.dbl(v)

  object OutlierStats {
    def fromJsonString(json: String): OutlierStats = {
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      val o = JsonMethods.parse(json)
      OutlierStats(
        mean = (o \ "mean").asInstanceOf[JArray].arr.map(jsonNum),
        meanDist = jsonNum(o \ "meanDist"),
        stdDist = jsonNum(o \ "stdDist"))
    }
    def load(path: String): OutlierStats =
      fromJsonString(java.nio.file.Files.readString(java.nio.file.Paths.get(path)))
  }

  /** Two aggregate passes, both O(corpus) with map-side partials: the mean
    * vector via the graft_gram_sum moment buffer, then avg/stddev of each
    * row's distance to it. Values are rounded to 1e-9 so independent fits of the same data agree
    * bit-for-bit (float partials merge in arrival order). */
  def embeddingOutlierStats(df: DataFrame, embCol: String, inDim: Int = -1): OutlierStats = {
    graft.core.Validators.requireColumns(df, Seq(embCol))
    val d =
      if (inDim > 0) inDim
      else df.select(size(col(embCol))).head().getInt(0)
    def round9(x: Double): Double = math.rint(x * 1e9) / 1e9
    val stats = df.select(call_function(graft.functions.TilePairs.GramSumName,
        col(embCol), lit(d)).as("s"))
      .head().getSeq[Double](0)
    val n = stats(0)
    require(n >= 2.0, "embeddingOutlierStats needs at least 2 rows")
    val mean = (0 until d).map(i => round9(stats(1 + i) / n))
    val dist = sqrt(graftSqDist(col(embCol), typedLit(mean)))
    val r = df.select(avg(dist).as("m"), stddev_samp(dist).as("s")).head()
    OutlierStats(mean, round9(r.getDouble(0)), round9(r.getDouble(1)))
  }

  /** Embedding-space outliers: rows whose L2 distance to the corpus mean
    * sits more than `z` standard deviations above the mean distance —
    * corrupt encodes, wrong-modality rows, adversarial junk. Returns
    * (id, dist, z) for flagged rows. The apply side is ONE narrow filter
    * projection against plan-literal stats — trivially parallel. */
  def embeddingOutliers(
      df: DataFrame,
      idCol: String,
      embCol: String,
      z: Double = 3.0,
      stats: OutlierStats = null,
  ): DataFrame = {
    graft.core.Validators.requireColumns(df, Seq(idCol, embCol))
    val st = Option(stats).getOrElse(embeddingOutlierStats(df, embCol))
    val dist = sqrt(graftSqDist(col(embCol), typedLit(st.mean)))
    df.select(col(idCol).as("id"), dist.as("dist"))
      .withColumn("z", (col("dist") - lit(st.meanDist)) / lit(st.stdDist))
      .filter(col("z") > z)
  }

  /** Per-group embedding centroids (class prototypes / cluster summaries):
    * one row per group with `centroid` = the element-wise mean of the
    * group's non-null vectors and `n_vectors` = how many contributed.
    * Means are rounded to 1e-9 (HALF_UP, the Column `round`) so the output
    * is stable across partial-aggregate merge orders and replays on other
    * engines.
    *
    * Scale shape: one hash aggregate whose per-(group, partition) partial
    * is a single (1 + d)-double buffer (graft_vec_sum — map-side combine,
    * no row explosion). Ragged inputs (vectors of differing lengths)
    * raise. */
  def groupCentroids(
      df: DataFrame,
      keyCol: String,
      embCol: String,
      inDim: Int = -1,
  ): DataFrame = {
    graft.core.Validators.requireColumns(df, Seq(keyCol, embCol))
    // dimension probe (one tiny job); empty / all-null input yields an
    // empty result instead of a head() crash
    val probedDim: Option[Int] =
      if (inDim > 0) Some(inDim)
      else df.filter(col(embCol).isNotNull).select(size(col(embCol)))
        .take(1).headOption.map(_.getInt(0))
    probedDim match {
      case None => // no non-null vector anywhere → empty result, not a crash
        df.select(col(keyCol)).limit(0)
          .withColumn("centroid", typedLit(Seq.empty[Double]))
          .withColumn("n_vectors", lit(0L))
      case Some(d) =>
        val n = element_at(col("__graft_vs"), 1)
        df.groupBy(col(keyCol))
          .agg(call_function(graft.functions.TilePairs.VecSumName,
            col(embCol), lit(d)).as("__graft_vs"))
          .filter(n > 0)
          .select(
            col(keyCol),
            transform(slice(col("__graft_vs"), 2, d), x => round(x / n, 9)).as("centroid"),
            n.cast("long").as("n_vectors"))
    }
  }

  // ───────────────────────── PCA ─────────────────────────

  /** PCA model: per-dim mean, top-k loadings (rows = components), and the
    * per-component projection offsets μ·wⱼ precomputed so transform is a
    * plain dot minus a scalar. Persists to inspectable JSON (same
    * philosophy as [[graft.core.ModelIO]]): fit on the cluster once, load
    * for apply-only projection anywhere. */
  final case class PcaModel(
      mean: Seq[Double],
      components: Seq[Seq[Double]],
      offsets: Seq[Double],
      eigenvalues: Seq[Double]) {
    def toJsonString: String = {
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      def arr(xs: Seq[Double]) = JArray(xs.map(JDouble(_)).toList)
      JsonMethods.compact(JsonMethods.render(JObject(
        "version" -> JInt(1),
        "mean" -> arr(mean),
        "components" -> JArray(components.map(arr).toList),
        "offsets" -> arr(offsets),
        "eigenvalues" -> arr(eigenvalues))))
    }
    def save(path: String): Unit =
      java.nio.file.Files.writeString(java.nio.file.Paths.get(path), toJsonString)
  }

  object PcaModel {
    def fromJsonString(json: String): PcaModel = {
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      val o = JsonMethods.parse(json)
      def arr(v: JValue): Seq[Double] =
        v.asInstanceOf[JArray].arr.map(jsonNum)
      PcaModel(
        mean = arr(o \ "mean"),
        components = (o \ "components").asInstanceOf[JArray].arr.map(arr),
        offsets = arr(o \ "offsets"),
        eigenvalues = arr(o \ "eigenvalues"))
    }
    def load(path: String): PcaModel =
      fromJsonString(java.nio.file.Files.readString(java.nio.file.Paths.get(path)))
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix — driver-side,
    * deterministic (fixed sweep order, fixed tolerance). Returns
    * (eigenvalues, eigenvectors as ROWS), unsorted. Fine to ~a few hundred
    * dims; the distributed part of PCA is the moment aggregate, not this. */
  private[graft] def jacobiEigen(
      sym: Array[Array[Double]],
      maxSweeps: Int = 100): (Array[Double], Array[Array[Double]]) = {
    val n = sym.length
    val a = sym.map(_.clone())
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    def off(): Double = {
      var s = 0.0
      var i = 0
      while (i < n) {
        var j = i + 1
        while (j < n) { s += a(i)(j) * a(i)(j); j += 1 }
        i += 1
      }
      s
    }
    var sweep = 0
    while (off() > 1e-20 && sweep < maxSweeps) {
      var p = 0
      while (p < n - 1) {
        var q = p + 1
        while (q < n) {
          val apq = a(p)(q)
          if (math.abs(apq) > 1e-300) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val t =
              if (math.abs(theta) > 1e150) 1.0 / (2.0 * theta)
              else math.signum(theta) / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var i = 0
            while (i < n) {
              val aip = a(i)(p); val aiq = a(i)(q)
              a(i)(p) = c * aip - s * aiq
              a(i)(q) = s * aip + c * aiq
              i += 1
            }
            i = 0
            while (i < n) {
              val api = a(p)(i); val aqi = a(q)(i)
              a(p)(i) = c * api - s * aqi
              a(q)(i) = s * api + c * aqi
              val vip = v(i)(p); val viq = v(i)(q)
              v(i)(p) = c * vip - s * viq
              v(i)(q) = s * vip + c * viq
              i += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    val values = Array.tabulate(n)(i => a(i)(i))
    val vectors = Array.tabulate(n, n)((comp, i) => v(i)(comp)) // rows
    (values, vectors)
  }

  /** Fit PCA over an embedding column: count/mean/Gram in ONE distributed
    * aggregate (the native graft_gram_sum buffer), then covariance +
    * Jacobi on the driver (d × d — independent of corpus size; at 100 TB the single moment pass IS the whole cost).
    *
    * Covariance entries are rounded to 1e-9 before the eigensolve so
    * run-to-run float-merge-order noise (partial aggregates combine in
    * arrival order) cannot rotate near-degenerate eigenvectors between two
    * fits of the same data. Component signs are normalized (largest-|w|
    * coordinate positive, first index on ties) and components are ordered
    * by descending eigenvalue (index ascending on exact ties). */
  def pcaFit(df: DataFrame, embCol: String, k: Int, inDim: Int = -1): PcaModel = {
    graft.core.Validators.requireColumns(df, Seq(embCol))
    val d =
      if (inDim > 0) inDim
      else df.select(size(col(embCol))).head().getInt(0)
    require(k >= 1 && k <= d, s"k must be in [1, $d]")
    val stats = df.select(call_function(graft.functions.TilePairs.GramSumName,
        col(embCol), lit(d)).as("s"))
      .head().getSeq[Double](0).toArray
    val n = stats(0)
    require(n >= 2.0, "pcaFit needs at least 2 rows")
    val mean = Array.tabulate(d)(i => stats(1 + i) / n)
    def round9(x: Double): Double = math.rint(x * 1e9) / 1e9
    val cov = Array.tabulate(d, d) { (i, j) =>
      round9((stats(1 + d + i * d + j) - n * mean(i) * mean(j)) / (n - 1.0))
    }
    val (values, vectors) = jacobiEigen(cov)
    val order = values.indices.sortBy(i => (-values(i), i)).take(k)
    val comps = order.map { ci =>
      val w = vectors(ci)
      val m = w.indices.maxBy(i => (math.abs(w(i)), -i))
      val sgn = if (w(m) < 0.0) -1.0 else 1.0
      w.map(_ * sgn).toSeq
    }
    val offsets = comps.map(w => w.zip(mean).foldLeft(0.0) { case (a, (wi, mi)) => a + wi * mi })
    PcaModel(mean.toSeq, comps, offsets, order.map(values(_)))
  }

  /** Apply a fitted [[PcaModel]]: yⱼ = emb·wⱼ − μ·wⱼ, optionally whitened
    * (divided by √λⱼ so every output coordinate has unit variance — the
    * usual pre-step before cosine/L2 ANN on PCA-reduced vectors). One
    * narrow projection, k native dot products per row against plan-literal
    * component rows — no shuffle, trivially parallel at any scale. */
  def pcaProject(
      df: DataFrame,
      embCol: String,
      model: PcaModel,
      outCol: String = "",
      whiten: Boolean = false,
  ): DataFrame = {
    if (whiten) require(model.eigenvalues.forall(_ > 0.0),
      "whiten requires strictly positive eigenvalues (a zero-variance " +
        "component cannot be scaled to unit variance)")
    val out = if (outCol.nonEmpty) outCol else s"${embCol}_pca"
    df.withColumn(out,
      array(model.components.indices.map { j =>
        val y = graftDot(col(embCol), typedLit(model.components(j))) - lit(model.offsets(j))
        if (whiten) y / lit(math.sqrt(model.eigenvalues(j))) else y
      }: _*))
  }

  /** Squared L2 distance Σ (aᵢ − cᵢ)² to a literal centroid — sequential
    * fold in array order (bit-reproducible across engines). */
  def sqDist(e: Column, c: Seq[Double]): Column =
    aggregate(
      zip_with(e, typedLit(c), (x, y) => {
        val d = x.cast("double") - y
        d * d
      }),
      lit(0.0),
      (acc, v) => acc + v)

  /** Squared L2 between two array COLUMNS through the native graft_sqdist
    * expression — the same sequential fold as [[sqDist]] (codegen'd
    * primitive loop). */
  private def graftSqDist(a: Column, b: Column): Column =
    call_function(graft.functions.TilePairs.SqDistName, a, b)

  /** Above nlist × dim literal doubles, the probe-side cell ranking of
    * [[ivfTopK]] (an nlist-wide struct-array expression tree) stops
    * riding as a plan literal and becomes a broadcast centroid TABLE.
    * A var so tests can force either path. */
  var LiteralAssignMax: Int = 4096

  /** Literal-mode cap of the native argmin assignment ([[assignCells]],
    * the Lloyd iterations): the centroids are ONE constant ArrayData
    * referenced by a single expression, so the only literal cost is the
    * ~8·nlist·dim bytes it adds to the serialized stage — 1 M doubles ≈
    * 8 MB, past which the broadcast table wins. A var so tests can force
    * the join path. */
  var NativeLiteralAssignMax: Int = 1 << 20

  /** The `nlist = 0` auto-sizing rule: round(√N) clamped to [8, 65536].
    * √N is the standard IVF balance point — the cell-tiled pair stages
    * ([[knnGraph]]/[[hardNegatives]]/[[semanticDedup]]) are O(N²/nlist)
    * and the centroid assignment is O(N·nlist), so nlist ≈ √N keeps both
    * ~O(N^1.5). Pure arithmetic on the corpus count, so fits are
    * count-stable: same corpus → same nlist → same model, on any
    * partitioning. */
  private[graft] def autoNlist(n: Long): Int =
    math.max(8L, math.min(65536L, math.round(math.sqrt(n.toDouble)))).toInt

  /** Literal-mode assignment is sound while the plan literal stays small. */
  private def literalAssignOk(nlist: Int, dims: Int): Boolean =
    nlist.toLong * dims <= NativeLiteralAssignMax

  /** Nearest-centroid assignment for every row: returns (id, emb, cell).
    *
    * Small centroid sets (nlist × dim ≤ [[NativeLiteralAssignMax]]) are a single
    * narrow projection with the centroids as plan literals. Large sets ride
    * as a BROADCAST centroid table instead — a giant literal bloats every
    * serialized plan and the per-row argmin expression tree — joined on a
    * constant key (BroadcastHashJoin fan-out to row × centroid), followed by
    * a map-side partial argmin and one O(n) shuffle on id. Ties break by
    * cell id in both paths, matching [[ivfCell]]. */
  def assignCells(
      df: DataFrame,
      idCol: String,
      embCol: String,
      centroids: Seq[Seq[Double]],
      forceBroadcast: Boolean = false,
  ): DataFrame = {
    val base = df.select(col(idCol).as("id"), col(embCol).as("emb"))
    if (!forceBroadcast && literalAssignOk(centroids.length, centroids.head.length))
      base.withColumn("cell", graftIvfCell(col("emb"), centroids))
    else {
      val spark = df.sparkSession
      import spark.implicits._
      // The fan-out key is constant-valued but DERIVED FROM DATA on both
      // sides: a literal key would constant-fold away and degrade the plan
      // to BroadcastNestedLoopJoin; a data-derived key keeps the equi-join
      // → BroadcastHashJoin (each streamed row probes one bucket holding
      // all nlist centroids).
      val centDf = centroids.zipWithIndex.map { case (c, i) => (i, c) }
        .toDF("cell", "c")
        .withColumn("__j", pmod(col("cell").cast("long"), lit(1L)))
      // The argmin aggregate sees only (id, emb-hash, dc) — carrying the
      // embedding through the nlist-wide fan-out would put a dim-float
      // array on every row × centroid intermediate; the winning cell joins
      // back against the (small) assignment instead, which AQE
      // broadcast-joins when it fits. The embedding hash rides in the
      // group/join keys so duplicate ids with DIFFERENT embeddings keep
      // their own argmins (matching the literal path row-for-row).
      val assigned = base
        .withColumn("__eh", xxhash64(col("emb")))
        .withColumn("__j", pmod(col("__eh"), lit(1L)))
        .join(broadcast(centDf), "__j") // bounded: nlist rows by construction
        .select(col("id"), col("__eh"),
          struct(graftSqDist(col("emb"), col("c")).as("d"), col("cell")).as("dc"))
        .groupBy("id", "__eh")
        .agg(min(col("dc")).getField("cell").as("cell"))
      base.withColumn("__eh", xxhash64(col("emb")))
        .join(assigned, Seq("id", "__eh"))
        .drop("__eh")
    }
  }

  /** Fitted IVF coarse quantizer: the trained centroid table, JSON-
    * persistable like [[PcaModel]] / [[OutlierStats]] — train once on the
    * cluster ([[ivfFit]]), save, and load for apply-only cell assignment
    * and probing anywhere ([[assignCells]], [[ivfTopK]]). */
  final case class IvfModel(centroids: Seq[Seq[Double]]) {
    def nlist: Int = centroids.length
    def dim: Int = if (centroids.isEmpty) 0 else centroids.head.length
    def toJsonString: String = {
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      JsonMethods.compact(JsonMethods.render(JObject(
        "version" -> JInt(1),
        "centroids" -> JArray(centroids.map(c =>
          JArray(c.map(JDouble(_)).toList)).toList))))
    }
    def save(path: String): Unit =
      java.nio.file.Files.writeString(java.nio.file.Paths.get(path), toJsonString)
  }

  object IvfModel {
    def fromJsonString(json: String): IvfModel = {
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      val o = JsonMethods.parse(json)
      IvfModel((o \ "centroids").asInstanceOf[JArray].arr.map(row =>
        row.asInstanceOf[JArray].arr.map(jsonNum)))
    }
    def load(path: String): IvfModel =
      fromJsonString(java.nio.file.Files.readString(java.nio.file.Paths.get(path)))
  }

  /** [[ivfCentroids]] packaged as a persistable [[IvfModel]]. */
  def ivfFit(
      df: DataFrame,
      embCol: String,
      nlist: Int,
      seed: Long = 42L,
      maxIter: Int = 5,
      maxTrainRows: Long = 100000L,
  ): IvfModel =
    IvfModel(ivfCentroids(df, embCol, nlist, seed, maxIter, maxTrainRows))

  /** IVF coarse quantizer: k-means (Lloyd) centroids over the embedding
    * column, written directly against the DataFrame API — each iteration is
    * one narrow cell-assignment projection + one aggregate (64 per-dimension
    * means), so training is maxIter+1 small jobs with no RDD conversion
    * (the MLlib estimator spent ~4 s of per-job overhead on a corpus this
    * path trains in ~0.5 s; quantizer quality is equivalent for IVF use).
    * Init is deterministic: the `nlist` distinct embeddings with the
    * smallest xxhash64(embedding, seed) — stable across partitionings.
    * Driver holds nlist × dim doubles; everything downstream is
    * expressions. Empty cells keep their previous centroid.
    *
    * `nlist = 0` → AUTO-SIZED to [[autoNlist]] (≈√N, the standard IVF
    * rule): a hand-picked nlist that was right at fit-time silently
    * becomes the O(N²/nlist) cell-tiling bottleneck when the corpus
    * grows 10× (the measured sim_hard_negatives curve — BASELINE.md
    * SCALING); auto-sizing re-derives it from the corpus count at every
    * fit, so the downstream pair stage stays ~O(N^1.5). */
  def ivfCentroids(
      df: DataFrame,
      embCol: String,
      nlist: Int,
      seed: Long = 42L,
      maxIter: Int = 5,
      maxTrainRows: Long = 100000L,
  ): Seq[Seq[Double]] = {
    require(nlist >= 0, "nlist must be >= 1, or 0 for auto (≈√N)")
    val cached = df.select(col(embCol).as("e")).cache()
    var weightedCache: Option[DataFrame] = None
    try {
      // A coarse quantizer doesn't need the whole corpus: above
      // `maxTrainRows`, train on a deterministic content-hash sample (same
      // xxhash64 family as the init ordering — stable across runs, engines,
      // and partitionings; no RNG state). At 100 TB this is the difference
      // between maxIter full-corpus passes and maxIter sample passes.
      val n = cached.count()
      // auto mode resolves HERE, from the same count the sampling rule
      // needs anyway — no extra job
      val k = if (nlist == 0) autoNlist(n) else nlist
      val train =
        if (n <= maxTrainRows) cached
        else {
          // parts-per-billion resolution: a percent-granularity filter
          // floors at 1% of the corpus, which at 10B+ rows is 100×+ the
          // documented training cap
          val ppb = math.max(1L, maxTrainRows * 1000000000L / n)
          cached.filter(pmod(xxhash64(col("e"), lit(seed)), lit(1000000000L)) < ppb)
        }
      var cents: Seq[Seq[Double]] = train
        .distinct()
        .orderBy(xxhash64(col("e"), lit(seed)).asc)
        .limit(k)
        .collect()
        .map(_.getSeq[Any](0).map {
          case f: Float => f.toDouble
          case d: Double => d
          case x => x.toString.toDouble
        }.toSeq)
        .toSeq
      require(cents.nonEmpty, "ivfCentroids: no embeddings to train on")
      val dims = cents.head.length
      val literalMode = literalAssignOk(k, dims)
      // Join-mode Lloyd runs over DISTINCT embeddings with multiplicity
      // weights and a LONG surrogate key: grouping the post-join argmin by
      // the embedding array itself forces sort-based aggregation with
      // per-row array comparisons (measured ~4 s/iteration at 6 k × 256);
      // grouping by a 64-bit content hash makes the same aggregate sort
      // longs (collision odds at the ≤100 k training cap: ~1e-10).
      lazy val weighted = {
        val w = train
          .groupBy("e").agg(count(lit(1)).cast("double").as("w"))
          .withColumn("rid", xxhash64(col("e"), lit(seed)))
          .cache()
        weightedCache = Some(w)
        w
      }
      var iter = 0
      var converged = false
      while (iter < maxIter && !converged) {
        iter += 1
        // (cell, pos) → mean: one small shuffle and a 3-expression plan —
        // 64 separate avg aggregates made every iteration pay ~0.3 s of
        // plan compilation for 8 rows of output
        val perCellRows =
          if (literalMode)
            // The argmin must be materialized BELOW the explode: a select
            // mixing a generator with other expressions puts those
            // expressions in a Project ABOVE the Generate, re-evaluating
            // the nlist × dim argmin once per exploded POSITION (dim× the
            // work — measured 32 s instead of ~2 s at 256 × 64 over sf0.1).
            train
              .select(graftIvfCell(col("e"), cents).as("cell"), col("e"))
              .select(col("cell"), posexplode(col("e")).as(Seq("pos", "v")))
              .groupBy("cell", "pos")
              .agg(avg(col("v").cast("double")).as("m"))
          else {
            val spark = df.sparkSession
            import spark.implicits._
            val centDf = cents.zipWithIndex.map { case (c, i) => (i, c) }
              .toDF("cell", "c")
              .withColumn("__j", pmod(col("cell").cast("long"), lit(1L)))
            weighted
              .withColumn("__j", pmod(col("rid"), lit(1L)))
              .join(broadcast(centDf), "__j")
              .select(col("rid"), col("e"), col("w"),
                struct(graftSqDist(col("e"), col("c")).as("d"), col("cell")).as("dc"))
              .groupBy("rid")
              .agg(first(col("e")).as("e"), first(col("w")).as("w"),
                min(col("dc")).getField("cell").as("cell"))
              .select(col("cell"), col("w"), posexplode(col("e")).as(Seq("pos", "v")))
              .groupBy("cell", "pos")
              .agg((sum(col("v").cast("double") * col("w")) / sum(col("w"))).as("m"))
          }
        val byCell = perCellRows
          .collect()
          .groupBy(_.getInt(0))
          .map { case (cell, rows) =>
            cell -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
          }
        val next = cents.zipWithIndex.map { case (old, i) => byCell.getOrElse(i, old) }
        // Exact-equality early stop: an iteration that moved nothing would
        // be followed only by no-op iterations, so skipping them is
        // bit-identical to running maxIter — pure saved jobs, never a
        // different model.
        converged = next == cents
        cents = next
      }
      cents
    } finally {
      cached.unpersist()
      weightedCache.foreach(_.unpersist())
    }
  }

  /** Nearest-centroid cell id (ties by cell id): the argmin over per-cell
    * squared distances, selected via a sorted struct array — one projection,
    * no shuffle, no UDF. Pure-Column reference for the graft_ivf_cell
    * kernel (FunctionsSpec pins bit-parity); the operators call
    * [[graftIvfCell]]. */
  private[graft] def ivfCell(e: Column, centroids: Seq[Seq[Double]]): Column = {
    val cands = array(centroids.zipWithIndex.map { case (c, i) =>
      struct(sqDist(e, c).as("d"), lit(i).as("cell"))
    }: _*)
    element_at(array_sort(cands), 1)("cell")
  }

  /** [[ivfCell]] through the native argmin kernel (bit-identical fold order
    * and tie-breaking). */
  private def graftIvfCell(e: Column, centroids: Seq[Seq[Double]]): Column =
    call_function(graft.functions.TilePairs.IvfCellName, e,
      typedLit(centroids.flatten), lit(centroids.head.length))

  /** IVF top-k: assign every vector to its nearest centroid cell, probe the
    * `nprobe` cells nearest the query, exact cosine top-k within them. The
    * scale path complement to [[annTopK]]: with the table partitioned by
    * cell, a query reads ~nprobe/nlist of the data; recall is tuned by
    * nprobe rather than plane count. */
  def ivfTopK(
      df: DataFrame,
      idCol: String,
      embCol: String,
      query: Seq[Double],
      k: Int,
      nlist: Int = 8,
      nprobe: Int = 2,
      seed: Long = 42L,
      forceBroadcastAssign: Boolean = false,
  ): DataFrame =
    ivfTopK(df, idCol, embCol, query, k,
      ivfFit(df, embCol, nlist, seed), nprobe, forceBroadcastAssign)

  /** Apply-only [[ivfTopK]] against an already-fitted (possibly loaded)
    * [[IvfModel]] — no training pass; the search itself is one narrow
    * assignment + filter + TakeOrdered. */
  def ivfTopK(
      df: DataFrame,
      idCol: String,
      embCol: String,
      query: Seq[Double],
      k: Int,
      model: IvfModel,
      nprobe: Int,
      forceBroadcastAssign: Boolean,
  ): DataFrame = {
    val cents = model.centroids
    val probed = cents.zipWithIndex
      .map { case (c, i) =>
        (c.zip(query).foldLeft(0.0) { case (acc, (x, y)) => acc + (y - x) * (y - x) }, i)
      }
      .sorted.take(nprobe).map(_._2)
    cosineTopK(
      assignCells(df, idCol, embCol, cents, forceBroadcastAssign)
        .filter(col("cell").isin(probed: _*)),
      "id", "emb", query, k)
  }

  /** Per-query probe list: the `nprobe` cells nearest each query embedding,
    * ties by cell id (the same rule as [[ivfCell]]). Input must carry
    * (query_id, qemb); output appends one row per (query, probed cell).
    *
    * Small centroid sets ride as plan literals (array_sort over an
    * nlist-struct array, sliced to nprobe). Past [[LiteralAssignMax]] the
    * centroids become a broadcast TABLE instead — queries fan out to
    * nlist rows through a BroadcastHashJoin on a data-derived constant key
    * (the [[assignCells]] idiom) and a rank window keeps the nprobe
    * nearest. The window partitions by (query row hash), which is sound
    * here because the query side is a bounded batch by contract. */
  private def probeCells(
      q: DataFrame,
      cents: Seq[Seq[Double]],
      nprobe: Int,
      forceBroadcast: Boolean,
  ): DataFrame = {
    val nlist = cents.length
    if (!forceBroadcast && nlist.toLong * cents.head.length <= LiteralAssignMax) {
      val cands = array(cents.zipWithIndex.map { case (c, i) =>
        struct(sqDist(col("qemb"), c).as("d"), lit(i).as("cell"))
      }: _*)
      q.withColumn("cell",
        explode(transform(slice(array_sort(cands), 1, nprobe), p => p("cell"))))
    } else {
      val spark = q.sparkSession
      import spark.implicits._
      import org.apache.spark.sql.expressions.Window
      val centDf = cents.zipWithIndex.map { case (c, i) => (i, c) }
        .toDF("cell", "c")
        .withColumn("__j", pmod(col("cell").cast("long"), lit(1L)))
      q.withColumn("__eh", xxhash64(col("qemb")))
        .withColumn("__j", pmod(col("__eh"), lit(1L)))
        .join(broadcast(centDf), "__j") // bounded: nlist rows by construction
        .withColumn("__rn", row_number().over(
          Window.partitionBy(col("__eh"), col("query_id"))
            .orderBy(graftSqDist(col("qemb"), col("c")), col("cell"))))
        .filter(col("__rn") <= nprobe)
        .drop("__j", "__eh", "__rn", "c")
    }
  }

  /** Batch IVF top-k: every query in `queries` retrieves its k approximate
    * nearest corpus rows through the coarse quantizer — the scale
    * complement to [[cosineTopKBatch]] exactly as [[ivfTopK]] is to
    * [[cosineTopK]]. Corpus rows are assigned to their nearest cell ONCE
    * ([[assignCells]]: narrow literal argmin, or broadcast centroid join
    * for large models); each query probes its `nprobe` nearest cells; the
    * cell-matched candidates are scored with exact cosine and ranked to k
    * per query by a window that Spark's WindowGroupLimit prunes map-side
    * before the single shuffle on query id.
    *
    * The query batch is broadcast (bounded — thousands of rows next to a
    * 100-TB corpus), so the candidate join is a BroadcastHashJoin on the
    * CELL key: a corpus row is scored only against the queries probing its
    * cell, ~nprobe/nlist of the batch — unlike [[cosineTopKBatch]]'s
    * intentional all-pairs fan-out. Recall is tuned by nprobe.
    * Zero- and non-finite-norm vectors are excluded on both sides (no
    * defined cosine — same rule as [[cosineTopKBatch]]); ties break by
    * corpus id. Exact-duplicate query rows are collapsed before probing
    * (a repeated row must not halve the probe fan-out or double its
    * candidate stream); a query id should map to ONE embedding — rows
    * sharing an id with different embeddings rank into one merged,
    * ill-defined top-k, exactly as in [[cosineTopKBatch]].
    * Output: (query_id, id, cos). */
  def ivfTopKBatch(
      corpus: DataFrame,
      idCol: String,
      embCol: String,
      queries: DataFrame,
      qIdCol: String,
      qEmbCol: String,
      model: IvfModel,
      k: Int,
      nprobe: Int,
      forceBroadcastAssign: Boolean = false,
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, "k must be >= 1")
    require(nprobe >= 1, "nprobe must be >= 1")
    require(model.centroids.nonEmpty, "model must have at least one centroid")
    val cents = model.centroids
    val q = broadcast(probeCells(
      queries.select(col(qIdCol).as("query_id"), col(qEmbCol).as("qemb"))
        // exact-duplicate rows collapse HERE, deterministically (the key is
        // the full row): left in, they would halve the broadcast-path probe
        // fan-out (two copies share one rank window) and double the
        // literal-path candidate stream
        .dropDuplicates("query_id", "qemb")
        .withColumn("qnrm", sqrt(graftDot(col("qemb"), col("qemb"))))
        .filter(col("qnrm") > 0.0 && col("qnrm") <= Double.MaxValue),
      cents, nprobe, forceBroadcastAssign))
    val base = assignCells(corpus, idCol, embCol, cents, forceBroadcastAssign)
      .withColumn("nrm", sqrt(graftDot(col("emb"), col("emb"))))
      .filter(col("nrm") > 0.0 && col("nrm") <= Double.MaxValue)
    base.join(q, "cell")
      .select(col("query_id"), col("id"),
        (graftDot(col("emb"), col("qemb")) / (col("nrm") * col("qnrm"))).as("cos"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cos").desc, col("id").asc)))
      .filter(col("rn") <= k)
      .drop("rn")
  }

  /** Recall evaluation for approximate retrieval: per query, the fraction
    * of `truth`'s neighbors that `predicted` recovered — THE quality gauge
    * for tuning [[annTopK]]'s plane count or [[ivfTopKBatch]]'s nprobe
    * against the exact [[cosineTopKBatch]] baseline. Output one row per
    * truth query: (query_id, n_truth, n_hit, recall).
    *
    * Both inputs are retrieval results (≤ k rows per query), so every
    * stage is small regardless of corpus scale: one distinct per side
    * (duplicate predictions must not double-count a hit; duplicate truth
    * rows must not inflate the denominator AND the numerator at once),
    * one join on (query, neighbor), one aggregate on query. Queries
    * present only in `predicted` are not scored (no truth set to recall
    * against); a query in `truth` with no predictions scores 0.0. */
  def evalRecall(
      predicted: DataFrame,
      truth: DataFrame,
      queryCol: String,
      idCol: String,
  ): DataFrame = {
    graft.core.Validators.requireColumns(predicted, Seq(queryCol, idCol))
    graft.core.Validators.requireColumns(truth, Seq(queryCol, idCol))
    val p = predicted.select(col(queryCol).as("query_id"), col(idCol).as("id"))
      .distinct()
      .withColumn("__graft_hit", lit(1))
    truth.select(col(queryCol).as("query_id"), col(idCol).as("id"))
      .distinct()
      .join(p, Seq("query_id", "id"), "left")
      .groupBy("query_id")
      .agg(
        count(lit(1)).as("n_truth"),
        sum(coalesce(col("__graft_hit"), lit(0))).cast("long").as("n_hit"))
      .withColumn("recall",
        col("n_hit").cast("double") / col("n_truth").cast("double"))
  }

  /** Embedding-space drift between two corpus drops — the dense-side
    * release gate next to [[Curation.categoryDriftPsi]]: did the embedding
    * distribution move between what the last model trained on and what
    * this drop holds? Reports per-dimension centroid means for both drops
    * (1e-9-rounded, the [[groupCentroids]] rule), the mean vector L2 norm,
    * the counts, and the centroid shift (cosine + L2 distance, computed
    * from the ROUNDED means so any engine replays them bit-for-bit).
    *
    * One vec-sum aggregate plus one norm aggregate per drop (map-side
    * combined, d-double partials); the result is a (3 + d)-row driver
    * frame. Throws [[graft.errors.FeatureFactoryException.InvalidParameter]]
    * on an empty drop — a centroid of nothing is not "no drift".
    *
    * Output: (stat, pos, ref_val, cur_val) — stat 'mean' per dimension;
    * 'mean_norm', 'count', and 'centroid_shift' (ref_val = cosine,
    * cur_val = L2 distance) at pos −1. */
  def embeddingDriftStats(
      ref: DataFrame, cur: DataFrame, embCol: String): DataFrame = {
    graft.core.Validators.requireColumns(ref, Seq(embCol))
    graft.core.Validators.requireColumns(cur, Seq(embCol))
    def side(df: DataFrame, name: String): (Seq[Double], Long, Double) = {
      val c = groupCentroids(df.withColumn("__graft_one", lit(1)), "__graft_one", embCol)
        .select("centroid", "n_vectors").collect()
      if (c.isEmpty || c.head.getLong(1) == 0L)
        throw graft.errors.FeatureFactoryException.InvalidParameter(
          s"embeddingDriftStats: the $name drop has no vectors — " +
            "a centroid of nothing is not evidence of no drift")
      val normRow = df.filter(col(embCol).isNotNull)
        .agg(round(avg(sqrt(graftDot(col(embCol), col(embCol)))), 9)).head()
      (c.head.getSeq[Double](0).toSeq, c.head.getLong(1), normRow.getDouble(0))
    }
    val (rm, rn, rNorm) = side(ref, "reference")
    val (cm, cn, cNorm) = side(cur, "current")
    require(rm.length == cm.length,
      s"embeddingDriftStats: dimension mismatch ${rm.length} vs ${cm.length}")
    def r9(x: Double) = round9HalfUp(x)
    val dot = rm.zip(cm).map { case (a, b) => a * b }.sum
    val nr = math.sqrt(rm.map(x => x * x).sum)
    val nc = math.sqrt(cm.map(x => x * x).sum)
    val cos = if (nr > 0 && nc > 0) r9(dot / (nr * nc)) else 0.0
    val l2 = r9(math.sqrt(rm.zip(cm).map { case (a, b) => (a - b) * (a - b) }.sum))
    val rows =
      rm.zip(cm).zipWithIndex.map { case ((a, b), i) =>
        org.apache.spark.sql.Row("mean", i, a, b)
      } ++ Seq(
        org.apache.spark.sql.Row("mean_norm", -1, rNorm, cNorm),
        org.apache.spark.sql.Row("count", -1, rn.toDouble, cn.toDouble),
        org.apache.spark.sql.Row("centroid_shift", -1, cos, l2))
    Sampling.localFrame(ref.sparkSession,
      Seq("stat" -> org.apache.spark.sql.types.StringType,
        "pos" -> org.apache.spark.sql.types.IntegerType,
        "ref_val" -> org.apache.spark.sql.types.DoubleType,
        "cur_val" -> org.apache.spark.sql.types.DoubleType),
      rows)
  }

  /** Per-vector symmetric int8 scalar quantization: scale = max|vᵢ|/127,
    * codeᵢ = floor(vᵢ/scale + 0.5) clamped to [−127, 127] — 4× smaller
    * storage for ANN shortlists, with the scale kept per vector for
    * dequantization. `floor(x + 0.5)` (not `round`) keeps the rounding rule
    * engine-portable: SQL engines disagree on round-half semantics, floor
    * does not. Zero vectors quantize to all-zero codes with scale 0.
    * One narrow projection; output columns: `<embCol>_scale` double,
    * `<embCol>_q` array&lt;tinyint&gt;. */
  def quantizeEmbedding(df: DataFrame, embCol: String): DataFrame = {
    val e = col(embCol)
    val scale =
      array_max(transform(e, v => abs(v.cast("double")))) / lit(127.0)
    df.withColumn(s"${embCol}_scale", scale)
      .withColumn(
        s"${embCol}_q",
        transform(e, v =>
          when(col(s"${embCol}_scale") > 0.0,
            greatest(lit(-127.0),
              least(lit(127.0), floor(v.cast("double") / col(s"${embCol}_scale") + 0.5))))
            .otherwise(lit(0.0))
            .cast("tinyint")))
  }

  /** Cosine top-k over a table that ALREADY stores int8 codes (the
    * [[quantizeEmbedding]] output written to parquet) — this is the form
    * that realizes the 4×-smaller scan at corpus scale: only the tinyint
    * code column is read, never the float embeddings. The query is
    * quantized driver-side with the same floor(x/scale + 0.5) rule; the
    * per-vector scales cancel in the cosine ratio, so scores are exact
    * integer arithmetic in double (engine-reproducible, no float-noise
    * ties). Same TakeOrderedAndProject shape as [[cosineTopK]]. */
  def cosineTopKCodes(
      df: DataFrame,
      idCol: String,
      codesCol: String,
      query: Seq[Double],
      k: Int,
  ): DataFrame = {
    graft.core.Validators.requireColumns(df, Seq(idCol, codesCol))
    val qscale = query.map(math.abs).max / 127.0
    val qcodes =
      if (qscale > 0)
        query.map(v => math.max(-127.0, math.min(127.0, math.floor(v / qscale + 0.5))))
      else query.map(_ => 0.0)
    val cast = df.select(col(idCol), col(codesCol).cast("array<double>").as("__graft_codes"))
    cosineTopK(cast, idCol, "__graft_codes", qcodes, k)
  }

  /** Convenience form of [[cosineTopKCodes]] that quantizes the float
    * column inline — same scores, but it still scans the full-precision
    * embeddings; store [[quantizeEmbedding]]'s codes and search those to
    * get the smaller scan. */
  def cosineTopKQuantized(
      df: DataFrame,
      idCol: String,
      embCol: String,
      query: Seq[Double],
      k: Int,
  ): DataFrame =
    cosineTopKCodes(
      quantizeEmbedding(df, embCol).select(col(idCol), col(s"${embCol}_q")),
      idCol, s"${embCol}_q", query, k)

  /** IVF-PQ-style index encoding: coarse cell + int8-quantized RESIDUAL —
    * the billion-vector composition of [[ivfFit]]'s coarse quantizer with
    * [[quantizeEmbedding]]'s scalar codes (faiss's "IVF,SQ8" index): each
    * vector stores its nearest-centroid cell id, a per-vector scale, and
    * `code_i = floor((v_i − c_i)/scale + 0.5)` clamped to ±127 over the
    * residual. Residuals are far smaller than raw coordinates (the coarse
    * quantizer has absorbed the cell mean), so 8-bit codes lose much less
    * than raw-vector quantization at the same width.
    *
    * Output (id, cell, res_scale, res_q) is the PERSISTED form: 4× smaller
    * than float32 embeddings, already bucketed by cell for probing. One
    * assignment pass ([[assignCells]] — literal argmin or broadcast-join,
    * both O(n)) plus one broadcast join back to the nlist-row centroid
    * table for the residual; no shuffle anywhere. All arithmetic is
    * engine-portable ([[quantizeEmbedding]]'s floor(x+0.5) rule; the
    * sim_ivfpq_codes oracle replays every code byte-for-byte). */
  /** (id, cell, __graft_r) — every vector's coarse cell and double residual
    * against its centroid. The shared first half of [[ivfPqEncode]] (SQ8),
    * [[ivfPqFitCodebooks]], and [[ivfPqEncodeProduct]]: one assignment pass
    * + one broadcast join to the nlist-row centroid table, no shuffle. */
  private def withResiduals(
      df: DataFrame,
      idCol: String,
      embCol: String,
      model: IvfModel,
      forceBroadcastAssign: Boolean,
  ): DataFrame = {
    require(model.centroids.nonEmpty, "model must have at least one centroid")
    val spark = df.sparkSession
    import spark.implicits._
    val centDf = model.centroids.zipWithIndex.map { case (c, i) => (i, c) }
      .toDF("cell", "c")
    assignCells(df, idCol, embCol, model.centroids, forceBroadcastAssign)
      .join(broadcast(centDf), "cell")
      .withColumn("__graft_r",
        zip_with(col("emb"), col("c"), (a, b) => a.cast("double") - b))
  }

  def ivfPqEncode(
      df: DataFrame,
      idCol: String,
      embCol: String,
      model: IvfModel,
      forceBroadcastAssign: Boolean = false,
  ): DataFrame = {
    val res = withResiduals(df, idCol, embCol, model, forceBroadcastAssign)
    val scale =
      array_max(transform(col("__graft_r"), v => abs(v))) / lit(127.0)
    res.withColumn("res_scale", scale)
      .withColumn("res_q",
        transform(col("__graft_r"), v =>
          when(col("res_scale") > 0.0,
            greatest(lit(-127.0),
              least(lit(127.0), floor(v / col("res_scale") + 0.5))))
            .otherwise(lit(0.0))
            .cast("tinyint")))
      .select(col("id"), col("cell"), col("res_scale"), col("res_q"))
  }

  /** Top-k search over an [[ivfPqEncode]] table: probe the `nprobe` cells
    * nearest the query (driver-side — nlist × dim doubles), reconstruct
    * each candidate as `centroid + scale·code`, exact cosine inside the
    * probed cells only. The scan reads the int8 codes, never float
    * embeddings — [[cosineTopKCodes]]' 4× IO cut with IVF's
    * nprobe/nlist scan cut stacked on top. Cell filter is a partition-
    * prunable predicate when the code table is written partitioned/bucketed
    * by cell; the rest is [[cosineTopK]]'s TakeOrderedAndProject — no
    * shuffle. Ties break (cos desc, id asc). Output (id, cos). */
  def ivfPqTopK(
      codes: DataFrame,
      model: IvfModel,
      query: Seq[Double],
      k: Int,
      nprobe: Int,
  ): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(nprobe >= 1, "nprobe must be >= 1")
    require(model.centroids.nonEmpty, "model must have at least one centroid")
    require(query.length == model.dim,
      s"query dim ${query.length} != model dim ${model.dim}")
    graft.core.Validators.requireColumns(codes,
      Seq("id", "cell", "res_scale", "res_q"))
    // index-order squared-L2 fold, ties by cell — matches assignCells and
    // the oracle's replay exactly
    val probed = model.centroids.zipWithIndex.map { case (c, i) =>
      var d = 0.0
      var j = 0
      while (j < c.length) { val x = query(j) - c(j); d += x * x; j += 1 }
      (d, i)
    }.sortBy { case (d, i) => (d, i) }.take(nprobe).map(_._2)
    val spark = codes.sparkSession
    import spark.implicits._
    val centDf = model.centroids.zipWithIndex.map { case (c, i) => (i, c) }
      .toDF("cell", "c")
    val approx = codes
      .filter(col("cell").isin(probed: _*))
      .join(broadcast(centDf), "cell")
      .withColumn("__graft_approx",
        zip_with(col("c"), col("res_q"),
          (c, q) => c + col("res_scale") * q.cast("double")))
    cosineTopK(approx, "id", "__graft_approx", query, k)
  }

  /** Fitted product quantizer: `m` subspaces of `dsub = dim/m` dimensions,
    * each with its own `k`-codeword codebook (Jégou et al. 2011, "Product
    * Quantization for Nearest Neighbor Search"). A vector stores one
    * codeword INDEX per subspace — `m` small ints instead of `dim` floats
    * (64-dim float32 → 8 bytes at m=8, an 32× cut; [[quantizeEmbedding]]'s
    * SQ8 cuts 4×). JSON-persistable like [[IvfModel]]. */
  final case class PqModel(codebooks: Seq[Seq[Seq[Double]]]) {
    def m: Int = codebooks.length
    def k: Int = if (codebooks.isEmpty) 0 else codebooks.head.length
    def dsub: Int =
      if (codebooks.isEmpty || codebooks.head.isEmpty) 0
      else codebooks.head.head.length
    def dim: Int = m * dsub
    def toJsonString: String = {
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      JsonMethods.compact(JsonMethods.render(JObject(
        "version" -> JInt(1),
        "codebooks" -> JArray(codebooks.map(cb =>
          JArray(cb.map(c => JArray(c.map(JDouble(_)).toList)).toList)).toList))))
    }
    def save(path: String): Unit =
      java.nio.file.Files.writeString(java.nio.file.Paths.get(path), toJsonString)
  }

  object PqModel {
    def fromJsonString(json: String): PqModel = {
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      val o = JsonMethods.parse(json)
      PqModel((o \ "codebooks").asInstanceOf[JArray].arr.map(cb =>
        cb.asInstanceOf[JArray].arr.map(c =>
          c.asInstanceOf[JArray].arr.map(jsonNum))))
    }
    def load(path: String): PqModel =
      fromJsonString(java.nio.file.Files.readString(java.nio.file.Paths.get(path)))
  }

  /** Train a [[PqModel]]: one capped-sample Lloyd fit PER SUBSPACE over the
    * sliced sub-vectors (the same DataFrame-native k-means as [[ivfFit]],
    * seed varied per subspace so codebooks are independent). `m` small fit
    * jobs; driver holds m × k × dsub doubles. For IVF-PQ composition, fit
    * on residuals: `pqFit(ivfPqResiduals-style frame, …)` — the codebook
    * machinery is identical, so the standalone form is the primitive. */
  def pqFit(
      df: DataFrame,
      embCol: String,
      m: Int,
      k: Int,
      seed: Long = 42L,
      maxIter: Int = 5,
      maxTrainRows: Long = 100000L,
  ): PqModel = {
    require(m >= 1, "m must be >= 1")
    require(k >= 1, "k must be >= 1")
    val dim = df.select(size(col(embCol))).head().getInt(0)
    require(dim % m == 0, s"embedding dim $dim must be divisible by m=$m")
    val dsub = dim / m
    PqModel((0 until m).map { j =>
      ivfCentroids(
        df.select(slice(col(embCol), j * dsub + 1, dsub).as("__graft_sub")),
        "__graft_sub", nlist = k, seed = seed + j, maxIter = maxIter,
        maxTrainRows = maxTrainRows)
    })
  }

  /** PQ-encode every vector: per subspace, the nearest codeword's index
    * (squared L2 argmin, ties to the lower index — [[ivfCell]]'s rule,
    * native kernel per subspace). Output (id, codes) with
    * `codes` an m-element int array — the persisted 8-to-32×-smaller form.
    * One narrow projection, no shuffle, no join (codebooks are plan
    * literals: m × k × dsub = the model itself, dictionary-sized). */
  def pqEncode(
      df: DataFrame,
      idCol: String,
      embCol: String,
      model: PqModel,
  ): DataFrame = {
    require(model.m >= 1, "model must have at least one codebook")
    val dsub = model.dsub
    val codes = array(model.codebooks.zipWithIndex.map { case (cb, j) =>
      graftIvfCell(slice(col(embCol), j * dsub + 1, dsub), cb)
    }: _*)
    df.select(col(idCol).as("id"), codes.as("codes"))
  }

  /** Top-k search over a [[pqEncode]] table: reconstruct each candidate as
    * the concatenation of its codewords, exact cosine against the query —
    * [[cosineTopK]]'s TakeOrderedAndProject over a scan that reads only the
    * m-int code column. (Asymmetric-distance lookup tables give the same
    * ranking for cosine-over-reconstruction; the explicit reconstruction
    * keeps the arithmetic oracle-replayable.) Output (id, cos). */
  def pqTopK(
      codes: DataFrame,
      model: PqModel,
      query: Seq[Double],
      k: Int,
  ): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(query.length == model.dim,
      s"query dim ${query.length} != model dim ${model.dim}")
    graft.core.Validators.requireColumns(codes, Seq("id", "codes"))
    // codebooks flattened to one literal array indexed [(j*k + code) * dsub]
    val flat = typedLit(model.codebooks.flatten.map(_.toSeq))
    val recon = flatten(transform(
      sequence(lit(0), lit(model.m - 1)),
      j => element_at(flat, j * model.k + element_at(col("codes"), j + 1) + 1)))
    cosineTopK(codes.withColumn("__graft_recon", recon),
      "id", "__graft_recon", query, k)
  }

  /** Train the PQ half of a TRUE IVF-PQ index (Jégou et al. 2011, §IV):
    * product-quantizer codebooks fitted on the COARSE RESIDUALS — the
    * residual distribution is concentrated around zero after the cell
    * centroid absorbs the mean, which is exactly where a small shared
    * codebook spends its codewords well. One residual pass + [[pqFit]]'s m
    * capped-sample Lloyd fits. */
  def ivfPqFitCodebooks(
      df: DataFrame,
      idCol: String,
      embCol: String,
      coarse: IvfModel,
      m: Int,
      k: Int,
      seed: Long = 42L,
      maxIter: Int = 5,
      maxTrainRows: Long = 100000L,
      forceBroadcastAssign: Boolean = false,
  ): PqModel =
    pqFit(
      withResiduals(df, idCol, embCol, coarse, forceBroadcastAssign)
        .select(col("__graft_r")),
      "__graft_r", m, k, seed, maxIter, maxTrainRows)

  /** IVF-PQ encoding proper: coarse cell + m PRODUCT-quantized residual
    * codeword indices — `⌈log2 k⌉·m` bits per vector (64-dim float32 at
    * m=8, k=16: 4 bytes — 64× smaller; [[ivfPqEncode]]'s SQ8 stops at 4×).
    * Same no-shuffle shape: one assignment pass, one broadcast centroid
    * join, per-subspace argmin projections. Output (id, cell, codes). */
  def ivfPqEncodeProduct(
      df: DataFrame,
      idCol: String,
      embCol: String,
      coarse: IvfModel,
      pq: PqModel,
      forceBroadcastAssign: Boolean = false,
  ): DataFrame = {
    require(pq.dim == coarse.dim,
      s"pq dim ${pq.dim} != coarse dim ${coarse.dim}")
    val res = withResiduals(df, idCol, embCol, coarse, forceBroadcastAssign)
    val dsub = pq.dsub
    val codes = array(pq.codebooks.zipWithIndex.map { case (cb, j) =>
      graftIvfCell(slice(col("__graft_r"), j * dsub + 1, dsub), cb)
    }: _*)
    res.select(col("id"), col("cell"), codes.as("codes"))
  }

  /** Top-k search over an [[ivfPqEncodeProduct]] table: probe the `nprobe`
    * nearest cells driver-side, reconstruct candidates as
    * `cell centroid + concat(residual codewords)`, exact cosine inside the
    * probed cells ([[cosineTopK]]'s TakeOrderedAndProject — no shuffle).
    * The scan reads cell + m small ints per row; at scale, partition the
    * code table by cell and the probe prunes partitions too. For exact
    * final scores, rerank a shortlist against full embeddings as in
    * [[pqTopKRefined]] — the stages compose unchanged. Output (id, cos). */
  def ivfPqTopKProduct(
      codes: DataFrame,
      coarse: IvfModel,
      pq: PqModel,
      query: Seq[Double],
      k: Int,
      nprobe: Int,
  ): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(nprobe >= 1, "nprobe must be >= 1")
    require(query.length == coarse.dim,
      s"query dim ${query.length} != model dim ${coarse.dim}")
    graft.core.Validators.requireColumns(codes, Seq("id", "cell", "codes"))
    val probed = coarse.centroids.zipWithIndex.map { case (c, i) =>
      var d = 0.0
      var j = 0
      while (j < c.length) { val x = query(j) - c(j); d += x * x; j += 1 }
      (d, i)
    }.sortBy { case (d, i) => (d, i) }.take(nprobe).map(_._2)
    val spark = codes.sparkSession
    import spark.implicits._
    val centDf = coarse.centroids.zipWithIndex.map { case (c, i) => (i, c) }
      .toDF("cell", "c")
    val flat = typedLit(pq.codebooks.flatten.map(_.toSeq))
    val pqRecon = flatten(transform(
      sequence(lit(0), lit(pq.m - 1)),
      j => element_at(flat, j * pq.k + element_at(col("codes"), j + 1) + 1)))
    val approx = codes
      .filter(col("cell").isin(probed: _*))
      .join(broadcast(centDf), "cell")
      .withColumn("__graft_approx",
        zip_with(col("c"), pqRecon, (a, b) => a + b))
    cosineTopK(approx, "id", "__graft_approx", query, k)
  }

  /** Two-stage PQ retrieval — the production pattern that makes lossy codes
    * exact where it matters: [[pqTopK]] over the 8-to-32×-smaller code
    * table produces a `shortlistSize` candidate set (the cheap full scan),
    * then the shortlist's FULL embeddings are fetched by id and reranked
    * with exact cosine (the expensive scan touches only `shortlistSize`
    * rows). Recall converges to exact as shortlistSize/k grows — tune with
    * [[evalRecall]]. One left-semi id join between the stages; everything
    * else is the two TakeOrderedAndProject scans. Output (id, cos) with
    * EXACT scores. */
  def pqTopKRefined(
      codes: DataFrame,
      full: DataFrame,
      idCol: String,
      embCol: String,
      model: PqModel,
      query: Seq[Double],
      k: Int,
      shortlistSize: Int,
  ): DataFrame = {
    require(shortlistSize >= k, "shortlistSize must be >= k")
    graft.core.Validators.requireColumns(full, Seq(idCol, embCol))
    val shortlist = pqTopK(codes, model, query, shortlistSize)
      .select(col("id").as("__graft_slid"))
    cosineTopK(
      full.join(shortlist, col(idCol) === col("__graft_slid"), "left_semi"),
      idCol, embCol, query, k)
  }

  /** All-pairs embedding near-duplicates: pairs with cosine ≥ threshold.
    *
    * Scale shape (same machinery as the text dedup path — Dedup's tiled
    * bucket expansion):
    *   - `numBands` independent hyperplane sets, OR'd for recall: a pair is
    *     a candidate if ALL `numPlanes` sign bits agree in ANY band.
    *     Identical vectors always collide, so exact-duplicate recall is 1.
    *   - Bucket members are collected per (band, bucket) and the quadratic
    *     pair space is split into ≤512² tiles spread across the cluster —
    *     one hot bucket (a dense near-dup cluster, the expected input at
    *     100 TB) becomes many tasks, not one O(k²) straggler.
    *   - Buckets over `maxBucketSize` are dropped: degenerate mass
    *     duplication is [[graft.ops.Dedup.exact]]'s job, and even tiled its
    *     k² cost is not worth paying here. Drops are counted and WARNed
    *     (see [[BucketCap]]); strict mode throws instead.
    *   - Cosine is evaluated INLINE during tile expansion (the native
    *     graft_cosine_tile_pairs kernel) — sub-threshold pairs are never
    *     materialized or shuffled. Norms are computed once per member at
    *     bucketing time, not per pair.
    *   - Rows with a NULL id or a zero/non-finite norm emit no pairs
    *     (no defined identity / no defined cosine — see the in-body
    *     comment).
    */
  /** The tile kernels carry LONG member ids. Integral id types cast
    * losslessly; anything else (string ids, decimals…) rides a 64-bit
    * content-hash surrogate (original ids join back onto the small pair
    * output afterwards). Surrogate collisions would mispair with
    * probability ~n²/2⁶⁴ — negligible against the LSH recall noise.
    * Returns (surrogate-of-column function, whether the type is integral).
    * Shared by [[cosineNearDupPairs]] and [[semanticDedup]] so their keep
    * orders can never silently diverge. */
  private def tileIdFn(
      idType: org.apache.spark.sql.types.DataType): (Column => Column, Boolean) =
    idType match {
      case ByteType | ShortType | IntegerType | LongType =>
        ((c: Column) => c.cast("long"), true)
      case _ => ((c: Column) => xxhash64(c), false)
    }

  def cosineNearDupPairs(
      df: DataFrame,
      idCol: String,
      embCol: String,
      threshold: Double = 0.95,
      numPlanes: Int = 8,
      dim: Int = 64,
      seed: Long = 42L,
      numBands: Int = 4,
      maxBucketSize: Int = 100000,
  ): DataFrame = {
    val idType = df.schema(idCol).dataType
    val (sidOf, integralId) = tileIdFn(idType)
    val sid: Column = sidOf(col(idCol))
    // band 0 uses `seed` itself; further bands mix in a fixed odd prime
    val bands = array((0 until numBands).map { b =>
      val planes = hyperplanes(numPlanes, dim, seed + 7919L * b)
      struct(lit(b).as("band"), lshBucket(col("emb"), planes).as("h"))
    }: _*)
    // Rows that cannot be paired meaningfully emit no pairs:
    //  - NULL ids: the tile kernel would read a null long field as 0 (a
    //    false pair attributed to the real id 0) and xxhash64 collapses
    //    every NULL onto one surrogate;
    //  - non-positive or non-finite norms (all-zero, NaN-component, or
    //    overflowing embeddings): their cosine is 0/0 or ∞/∞, undefined.
    //    `norm <= MaxValue` rejects both NaN (Spark SQL sorts it greatest)
    //    and +Infinity in one predicate.
    val buckets = BucketCap.capped(
      df
        .filter(col(idCol).isNotNull)
        .select(sid.as("id"), col(embCol).as("emb"))
        .withColumn("norm", sqrt(graftDot(col("emb"), col("emb"))))
        .filter(col("norm") > 0.0 && col("norm") <= Double.MaxValue)
        .select(col("id"), col("emb"), col("norm"), explode(bands).as("bh"))
        .groupBy(col("bh.band").as("band"), col("bh.h").as("h"))
        .agg(sort_array(collect_list(struct(col("id"), col("emb"), col("norm")))).as("xs")),
      maxBucketSize, "cosineNearDupPairs")
    val pairs = Dedup.expandSymmetricBuckets(
      buckets, Seq(col("band"), col("h")),
      graft.functions.TilePairs.CosineName, lit(threshold))
    if (integralId)
      pairs.select(
        col("p.a").cast(idType).as("id_a"),
        col("p.b").cast(idType).as("id_b"),
        col("p.cos").as("cos"))
        .dropDuplicates("id_a", "id_b")
    else {
      val idMap = df.select(xxhash64(col(idCol)).as("sid"), col(idCol).as("orig"))
        .dropDuplicates("sid")
      pairs
        .join(idMap, col("p.a") === col("sid"))
        .select(col("orig").as("id_a"), col("p.b").as("b"), col("p.cos").as("cos"))
        .join(idMap, col("b") === col("sid"))
        .select(col("id_a"), col("orig").as("id_b"), col("cos"))
        .dropDuplicates("id_a", "id_b")
    }
  }

  /** Quantizer-quality monitoring table: per cell, the member count and
    * the 1e-9-rounded mean squared distance to the assigned centroid —
    * the two numbers that tell you whether an [[IvfModel]] still fits its
    * corpus (balanced counts, low distortion) or needs a refit (empty /
    * overfull cells, drifting distortion). One [[assignCells]] pass, one
    * broadcast centroid join for the per-row distance, one aggregate on
    * the cell — no sort, no window. Rows with a NULL id or NULL embedding
    * are excluded (no defined assignment). */
  def cellStats(
      df: DataFrame,
      idCol: String,
      embCol: String,
      model: IvfModel,
      forceBroadcastAssign: Boolean = false,
  ): DataFrame = {
    graft.core.Validators.requireColumns(df, Seq(idCol, embCol))
    require(model.centroids.nonEmpty, "model must have at least one centroid")
    val spark = df.sparkSession
    import spark.implicits._
    val assigned = assignCells(
      df.filter(col(idCol).isNotNull && col(embCol).isNotNull),
      idCol, embCol, model.centroids, forceBroadcastAssign)
    val centDf = model.centroids.zipWithIndex.map { case (c, i) => (i, c) }
      .toDF("cell", "c")
    assigned.join(broadcast(centDf), "cell")
      .select(col("cell"), graftSqDist(col("emb"), col("c")).as("d"))
      .groupBy("cell")
      .agg(
        count(lit(1)).as("n_vectors"),
        round(sum(col("d")) / count(lit(1)), 9).as("mean_sqdist"))
  }

  /** Coverage-balanced (diversity) sampling over embedding space: assign
    * every row to its nearest cell under the coarse quantizer and keep at
    * most `perCell` rows per cell, chosen by the deterministic minstd id
    * hash — dense regions of the embedding space are capped, sparse
    * regions survive whole, so the sample covers the space instead of
    * mirroring its density (the pruning complement to [[semanticDedup]]:
    * that drops near-copies, this flattens cluster mass). Membership is a
    * pure function of (id, model), so re-runs and engines agree row for
    * row. Returns the input schema + the `cell` column; rows with a NULL
    * id (no hash position) or a NULL embedding (no defined assignment —
    * the literal, native, and broadcast paths would each invent a
    * DIFFERENT cell for it) are dropped.
    *
    * Scale shape: when the centroid set rides as a plan literal/constant
    * (the common case — [[literalAssignOk]], up to ~1M doubles) the
    * assignment is a narrow projection on the
    * FULL-WIDTH rows and the per-cell quota is one rank window that
    * WindowGroupLimit prunes to perCell rows per task map-side before the
    * single shuffle on cell. Giant-model fallback: slim (id, emb)
    * assignment through the broadcast centroid table, quota rank on the
    * slim side, then one join back on the id — the join only re-reads the
    * corpus, never fans out. Duplicate ids draw one quota slot each on
    * the literal path but join ambiguously on the fallback path — keep
    * ids unique (they are "the" sample key, as in [[graft.ops.Sampling]]).
    */
  def cellBalancedSample(
      df: DataFrame,
      idCol: String,
      embCol: String,
      model: IvfModel,
      perCell: Int,
      forceBroadcastAssign: Boolean = false,
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.core.Validators.requireColumns(df, Seq(idCol, embCol))
    graft.core.Validators.requireColumnsAbsent(df, Seq("cell"), "cellBalancedSample")
    require(perCell >= 1, "perCell must be >= 1")
    require(model.centroids.nonEmpty, "model must have at least one centroid")
    val cents = model.centroids
    val base = df.filter(col(idCol).isNotNull && col(embCol).isNotNull)
    val quota = Window.partitionBy(col("cell"))
      .orderBy(graft.ops.Sampling.minstdHash(col(idCol)).asc, col(idCol).asc)
    if (!forceBroadcastAssign && literalAssignOk(cents.length, cents.head.length))
      base.withColumn("cell", graftIvfCell(col(embCol), cents))
        .withColumn("__graft_rn", row_number().over(quota))
        .filter(col("__graft_rn") <= perCell)
        .drop("__graft_rn")
    else {
      val kept = assignCells(
        base.select(col(idCol), col(embCol)), idCol, embCol, cents,
        forceBroadcast = forceBroadcastAssign)
        .withColumn("__graft_rn", row_number().over(
          Window.partitionBy(col("cell"))
            .orderBy(graft.ops.Sampling.minstdHash(col("id")).asc, col("id").asc)))
        .filter(col("__graft_rn") <= perCell)
        .select(col("id").as("__graft_keep_id"), col("cell"))
      base.join(kept, col(idCol) === col("__graft_keep_id"))
        .drop("__graft_keep_id")
    }
  }

  /** The shared comparable→cell-bucket construction of [[semanticDedup]]
    * and [[knnGraph]] (one definition so their pair streams can never
    * silently diverge — the [[tileIdFn]] rationale): excludes rows that
    * cannot be paired (NULL ids — the tile kernel reads a null long as 0
    * and xxhash64 collapses every NULL onto one surrogate; non-positive/
    * non-finite squared norms — cosine is 0/0 or ∞/∞, undefined;
    * `<= MaxValue` rejects NaN and +Infinity in one predicate), assigns the survivors to cells, and collects each
    * cell's sorted (id = surrogate, emb, norm) member array through
    * [[BucketCap]] under the caller's op name. */
  private def cellPairBuckets(
      df: DataFrame,
      idCol: String,
      embCol: String,
      model: IvfModel,
      maxClusterSize: Int,
      opName: String,
      forceBroadcastAssign: Boolean,
  ): DataFrame = {
    val (sidOf, _) = tileIdFn(df.schema(idCol).dataType)
    val comparable = df
      .filter(col(idCol).isNotNull)
      .withColumn("__graft_n2", graftDot(col(embCol), col(embCol)))
      .filter(col("__graft_n2") > 0.0 && col("__graft_n2") <= Double.MaxValue)
      .drop("__graft_n2")
    val assigned = assignCells(
      comparable, idCol, embCol, model.centroids, forceBroadcastAssign)
    BucketCap.capped(
      assigned
        .select(sidOf(col("id")).as("sid"), col("emb"), col("cell"))
        .withColumn("norm", sqrt(graftDot(col("emb"), col("emb"))))
        .groupBy(col("cell"))
        .agg(sort_array(collect_list(
          struct(col("sid").as("id"), col("emb"), col("norm")))).as("xs")),
      maxClusterSize, opName)
  }

  /** Within-cell k-nearest-neighbor graph over an embedding column — the
    * backbone artifact for cluster analysis, diversity-aware sampling, and
    * graph-based dedup over a training corpus. Every vector gets (up to)
    * its k nearest same-cell neighbors under the coarse quantizer: exact
    * kNN is O(n²) at corpus scale, so the graph is cell-scoped by
    * construction (the SemDeDup regime — neighbors in OTHER cells are
    * deliberately out of scope; enlarge cells / refit with smaller nlist
    * for more recall). Output: (id, neighbor_id, cos, rank) with rank 1
    * the nearest, ties broken by neighbor id.
    *
    * Scale shape: one [[assignCells]] pass, then the same tiled bucket
    * expansion as [[semanticDedup]] with the cell as the bucket key — a
    * dense cell becomes many ≤512-side tiles, not one O(k²) task; cells
    * over `maxClusterSize` are dropped-and-counted through [[BucketCap]]
    * (strict mode throws). `minCosine` is the scale lever (default −∞ =
    * genuinely no floor — a literal −1.0 would drop antipodal pairs
    * whose floating-point cosine lands an ulp below −1): sub-floor
    * pairs are discarded INSIDE the tile kernel (never materialized or
    * shuffled), so a 0.5+ floor cuts the edge stream by ~half on random
    * vectors — at the cost of nodes with fewer than k above-floor
    * neighbors getting short lists. The symmetric pair stream is
    * materialized once (lazy checkpoint) before fanning into both edge
    * directions — without it the union would recompute the whole tile
    * expansion twice. The per-direction top-k runs as a rank window that
    * WindowGroupLimit prunes map-side before the one shuffle on src.
    *
    * Excluded rows (same rules as [[semanticDedup]]): NULL ids and
    * zero-/non-finite-norm embeddings emit no edges; rows SHARING an id
    * are indistinguishable in the pair kernel and emit no edges to each
    * other — collapse exact duplicates with [[graft.ops.Dedup.exact]]
    * first. Non-integral id types ride the 64-bit content-hash surrogate
    * ([[tileIdFn]]) and join their original ids back onto the small edge
    * output. */
  /** Shared pair pipeline of [[knnGraph]] and [[hardNegatives]]: cell-
    * scoped tiled pair expansion → symmetric (src, dst, cos) edge stream,
    * materialized once (lazy checkpoint) before fanning into both
    * directions — without it the union would recompute the whole tile
    * expansion twice. Cells are disjoint, so a pair appears in exactly
    * one bucket — no cross-band dedup needed (unlike cosineNearDupPairs);
    * order-peer (shared-id) rows emit no edges. */
  private def cellEdges(
      df: DataFrame,
      idCol: String,
      embCol: String,
      model: IvfModel,
      minCosine: Double,
      maxClusterSize: Int,
      opName: String,
      forceBroadcastAssign: Boolean,
  ): DataFrame = {
    val buckets = cellPairBuckets(
      df, idCol, embCol, model, maxClusterSize, opName, forceBroadcastAssign)
    val pairs = Dedup.materializeLazy(
      Dedup.expandSymmetricBuckets(
        buckets, Seq(col("cell")),
        graft.functions.TilePairs.CosineName, lit(minCosine))
        .filter(col("p.a") =!= col("p.b"))
        .select(col("p.a").as("a"), col("p.b").as("b"), col("p.cos").as("cos")))
    pairs.select(col("a").as("src"), col("b").as("dst"), col("cos"))
      .unionByName(pairs.select(col("b").as("src"), col("a").as("dst"), col("cos")))
  }

  /** The other shared half: replace the surrogate `src`/`dst` columns of a
    * ranked edge frame with the caller's original ids (`id`,
    * `neighbor_id`), casting for integral id types and joining the
    * content-hash surrogate map back otherwise. Every other column of
    * `ranked` passes through untouched. */
  private def remapEdgeIds(
      ranked: DataFrame, df: DataFrame, idCol: String): DataFrame = {
    val idType = df.schema(idCol).dataType
    val (_, integralId) = tileIdFn(idType)
    if (integralId)
      ranked
        .withColumn("id", col("src").cast(idType))
        .withColumn("neighbor_id", col("dst").cast(idType))
        .drop("src", "dst")
    else {
      val idMap = df.select(xxhash64(col(idCol)).as("sid"), col(idCol).as("orig"))
        .dropDuplicates("sid")
      ranked
        .join(idMap, col("src") === col("sid"))
        .withColumnRenamed("orig", "id").drop("sid", "src")
        .join(idMap, col("dst") === col("sid"))
        .withColumnRenamed("orig", "neighbor_id").drop("sid", "dst")
    }
  }

  def knnGraph(
      df: DataFrame,
      idCol: String,
      embCol: String,
      model: IvfModel,
      k: Int,
      minCosine: Double = Double.NegativeInfinity,
      maxClusterSize: Int = 100000,
      forceBroadcastAssign: Boolean = false,
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.core.Validators.requireColumns(df, Seq(idCol, embCol))
    require(k >= 1, "k must be >= 1")
    require(model.centroids.nonEmpty, "model must have at least one centroid")
    val ranked = cellEdges(df, idCol, embCol, model, minCosine,
      maxClusterSize, "knnGraph", forceBroadcastAssign)
      .withColumn("rank", row_number().over(
        Window.partitionBy("src").orderBy(col("cos").desc, col("dst").asc)))
      .filter(col("rank") <= k)
    remapEdgeIds(ranked, df, idCol)
      .select(col("id"), col("neighbor_id"), col("cos"), col("rank"))
  }

  /** Hard-negative mining for contrastive training: for each anchor row,
    * the `k` most-similar same-cell rows whose `labelCol` DIFFERS — the
    * standard "hard negatives" a bi-encoder / embedding-model trainer
    * pairs with its positives. The label filter runs BEFORE the per-anchor
    * top-k rank (an anchor surrounded by same-label neighbors still gets
    * real negatives, just lower-cosine ones), which is why this cannot be
    * a post-filter over [[knnGraph]]'s output. Rows with a NULL label are
    * excluded from BOTH sides — an unlabeled row might share the anchor's
    * class, and a false negative poisons a contrastive batch. Same
    * exclusions and bucket shape as [[knnGraph]] (cell-scoped tiled
    * pairs, [[BucketCap]]-capped, `minCosine` pruning inside the kernel);
    * same-id rows emit no edges (exact-dedup first), and a duplicated id
    * takes its MINIMUM label for determinism.
    *
    * Output: (id, label, neighbor_id, neg_label, cos, rank). Scale shape:
    * the [[knnGraph]] pipeline plus two id-table-sized label joins on the
    * bounded edge stream before the one rank-window shuffle on the
    * anchor. */
  def hardNegatives(
      df: DataFrame,
      idCol: String,
      embCol: String,
      labelCol: String,
      model: IvfModel,
      k: Int,
      minCosine: Double = Double.NegativeInfinity,
      maxClusterSize: Int = 100000,
      forceBroadcastAssign: Boolean = false,
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.core.Validators.requireColumns(df, Seq(idCol, embCol, labelCol))
    require(k >= 1, "k must be >= 1")
    require(model.centroids.nonEmpty, "model must have at least one centroid")
    val (sidOf, _) = tileIdFn(df.schema(idCol).dataType)
    val edges = cellEdges(df, idCol, embCol, model, minCosine,
      maxClusterSize, "hardNegatives", forceBroadcastAssign)
    val lbl = df.filter(col(labelCol).isNotNull)
      .groupBy(sidOf(col(idCol)).as("__graft_sid"))
      .agg(min(col(labelCol)).as("__graft_lbl"))
    val ranked = edges
      .join(lbl.select(col("__graft_sid").as("__graft_sid_s"),
        col("__graft_lbl").as("label")), col("src") === col("__graft_sid_s"))
      .join(lbl.select(col("__graft_sid").as("__graft_sid_d"),
        col("__graft_lbl").as("neg_label")), col("dst") === col("__graft_sid_d"))
      .filter(col("label") =!= col("neg_label"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("src").orderBy(col("cos").desc, col("dst").asc)))
      .filter(col("rank") <= k)
      .select(col("src"), col("label"), col("dst"), col("neg_label"),
        col("cos"), col("rank"))
    remapEdgeIds(ranked, df, idCol)
      .select(col("id"), col("label"), col("neighbor_id"), col("neg_label"),
        col("cos"), col("rank"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023, "SemDeDup:
    * Data-efficient learning at web-scale through semantic deduplication"):
    * cluster the corpus with a coarse k-means quantizer, then drop, WITHIN
    * each cluster, every document that has a near-duplicate neighbor
    * earlier in the keep order. Returns the surviving rows with the input
    * schema preserved.
    *
    * The keep rule is the paper's greedy scan made order-free: document x
    * is dropped iff SOME same-cell y with a smaller id has
    * cosine(x, y) ≥ `threshold`. As a predicate over the (unordered) pair
    * set this is deterministic under any partitioning — no sequential
    * sweep — and it replays in plain SQL (the `sim_semantic_dedup` oracle).
    * Like the paper, near-duplicates straddling two cells are NOT compared
    * (that miss rate is the price of never materializing cross-cluster
    * pairs; raise recall with a smaller `threshold` or fewer cells).
    *
    * Scale shape: one [[assignCells]] pass (narrow literal argmin for small
    * centroid sets, broadcast centroid join above), then the same tiled
    * bucket expansion as [[cosineNearDupPairs]] with the CELL as the
    * bucket key — a dense cluster becomes many ≤512-side tiles, not one
    * O(k²) task, and cells over `maxClusterSize` are dropped-and-counted
    * through [[BucketCap]] (their members all survive; strict mode throws
    * instead). Non-integral id types ride a 64-bit content-hash surrogate
    * (keep order = hash order); integral ids keep their natural order.
    * Rows that cannot be compared are never dropped and never drop
    * others: NULL ids (no defined keep-order position) and
    * zero-/non-finite-norm embeddings (cosine is 0/0 or ∞/∞) are excluded
    * from pairing but kept in the output. Rows SHARING an id are
    * order-peers — neither is "earlier", so copies never drop each other;
    * collapse exact duplicates with [[graft.ops.Dedup.exact]] first. */
  def semanticDedup(
      df: DataFrame,
      idCol: String,
      embCol: String,
      model: IvfModel,
      threshold: Double = 0.95,
      maxClusterSize: Int = 100000,
      forceBroadcastAssign: Boolean = false,
  ): DataFrame = {
    graft.core.Validators.requireColumns(df, Seq(idCol, embCol))
    require(model.centroids.nonEmpty, "model must have at least one centroid")
    val (sidOf, _) = tileIdFn(df.schema(idCol).dataType)
    // exclusion rules (NULL ids, non-finite norms) and the cell-bucket
    // shape live in cellPairBuckets, shared with knnGraph
    val buckets = cellPairBuckets(
      df, idCol, embCol, model, maxClusterSize, "semanticDedup",
      forceBroadcastAssign)
    // pairs arrive (a, b) with a <= b in sid order; the strict b side is
    // exactly the "has an EARLIER near neighbor" drop set. a = b happens
    // when two rows share an id (order-peers: neither is earlier) — such
    // copies never drop each other, or the anti-join below would delete
    // every copy with no survivor; collapsing exact duplicates is
    // [[graft.ops.Dedup.exact]]'s job.
    val dropped = Dedup.expandSymmetricBuckets(
      buckets, Seq(col("cell")),
      graft.functions.TilePairs.CosineName, lit(threshold))
      .filter(col("p.a") =!= col("p.b"))
      .select(col("p.b").as("__graft_drop_sid")).distinct()
    df.join(dropped, sidOf(col(idCol)) === col("__graft_drop_sid"), "left_anti")
  }

  /** [[semanticDedup]] with the quantizer fitted inline ([[ivfFit]] on the
    * same corpus) — the one-call form for batch jobs that do not reuse the
    * model. Fit-once/apply-anywhere pipelines should call [[ivfFit]] and
    * the model overload instead. */
  def semanticDedup(
      df: DataFrame,
      idCol: String,
      embCol: String,
      nlist: Int,
      threshold: Double,
  ): DataFrame =
    semanticDedup(df, idCol, embCol, ivfFit(df, embCol, nlist), threshold)

  // ───────────────────── Prototypicality pruning ─────────────────────

  /** Per-row prototypicality: `(id, cell, proto)` where `cell` is the row's
    * nearest [[IvfModel]] centroid and `proto` its cosine to that centroid
    * (rounded 1e-9 for replay stability). The SSL-prototypes score
    * (Sorscher 2022 "Beyond neural scaling laws"; the second stage of D4):
    * a HIGH cosine marks an example sitting on top of its cluster's
    * prototype — easy, redundant mass — while a LOW cosine marks a hard or
    * off-manifold example. Feed it to [[pruneByPrototypicality]] for the
    * per-cluster cut, or use it directly as a difficulty score for
    * [[graft.sources.Writer.shardByScoreQuantile]] curricula.
    *
    * Scale shape: one [[assignCells]] pass (narrow literal kernel small,
    * broadcast centroid join large) + a broadcast join against the
    * nlist-row centroid table + one narrow cosine projection. No shuffle
    * of the corpus itself. Zero-/non-finite-norm embeddings yield NaN
    * proto (cosine is 0/0) — filter upstream if the corpus can hold them. */
  def prototypicalityScore(
      df: DataFrame,
      idCol: String,
      embCol: String,
      model: IvfModel,
      forceBroadcastAssign: Boolean = false,
  ): DataFrame = {
    graft.core.Validators.requireColumns(df, Seq(idCol, embCol))
    require(model.centroids.nonEmpty, "model must have at least one centroid")
    val spark = df.sparkSession
    import spark.implicits._
    val centDf = broadcast(
      model.centroids.zipWithIndex.map { case (c, i) => (i, c) }
        .toDF("cell", "__graft_c"))
    assignCells(df, idCol, embCol, model.centroids, forceBroadcastAssign)
      .join(centDf, "cell")
      .select(col("id"), col("cell"),
        round(graftCosine(col("emb"), col("__graft_c")), 9).as("proto"))
  }

  /** Per-cluster prototypicality pruning (D4's second stage): within each
    * IVF cell, rank rows by [[prototypicalityScore]] and DROP the top
    * `dropFraction` most prototypical (`dropEasiest = true`, the
    * SSL-prototypes "prune easy examples from big data" rule — near-
    * prototype mass is what web-scale corpora over-represent) or the
    * bottom fraction (`dropEasiest = false`, the small-data regime where
    * hard outliers are likelier label noise). The cut count per cell is
    * exact integer math — `⌊n_cell · round(dropFraction·denom) / denom⌋`
    * via integral division — so membership replays bit-for-bit from the
    * exported centroid table; ties break by id, and every cell keeps at
    * least one row whenever `dropFraction < 1`.
    *
    * Scale shape: the score pass (narrow + broadcast), then ONE shuffle of
    * the (id, cell, proto) triple — never the full rows — for the
    * cell-partitioned rank window, then a left-semi hash join back on id.
    * Cells are capped by the quantizer's balance, not by data skew in the
    * text columns. */
  def pruneByPrototypicality(
      df: DataFrame,
      idCol: String,
      embCol: String,
      model: IvfModel,
      dropFraction: Double,
      dropEasiest: Boolean = true,
      denom: Long = 1000000L,
      forceBroadcastAssign: Boolean = false,
  ): DataFrame = {
    require(dropFraction >= 0.0 && dropFraction <= 1.0,
      "dropFraction must be in [0, 1]")
    require(denom >= 1, "denom must be >= 1")
    if (dropFraction == 0.0) return df
    import org.apache.spark.sql.expressions.Window
    val numer = math.round(dropFraction * denom)
    val scored = prototypicalityScore(df, idCol, embCol, model, forceBroadcastAssign)
    val ord =
      if (dropEasiest) Seq(col("proto").desc, col("id").asc)
      else Seq(col("proto").asc, col("id").asc)
    val keep = scored
      .withColumn("__graft_rn",
        row_number().over(Window.partitionBy(col("cell")).orderBy(ord: _*)))
      .withColumn("__graft_n",
        count(lit(1)).over(Window.partitionBy(col("cell"))))
      .filter(col("__graft_rn") >
        expr(s"CAST((__graft_n * ${numer}L) DIV ${denom}L AS BIGINT)"))
      .select(col("id").as("__graft_keep_id"))
    df.join(keep, col(idCol) === col("__graft_keep_id"), "left_semi")
  }
}
