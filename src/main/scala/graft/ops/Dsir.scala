package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s.JInt

import graft.core.ModelIO

/** Data Selection with Importance Resampling (extension beyond the reference
  * surface, SURVEY §2.11): score raw-corpus documents by how much their
  * hashed-free n-gram profile resembles a TARGET corpus under bag-of-ngram
  * language models, then resample the raw corpus toward the target
  * distribution — the published DSIR recipe (Xie et al. 2023,
  * "Data Selection for Language Models via Importance Resampling") with the
  * feature space made engine-portable: the top-`vocabSize` word
  * unigrams+bigrams by raw-corpus frequency instead of a random hash
  * bucketing, so any engine (Spark here, DuckDB in the driver's oracle)
  * recomputes the same features, weights, and selection bit-for-bit.
  *
  * All floating-point is canonicalized for cross-engine replay: ln outputs
  * are rounded to 9 decimals before use (the [[TextOps.tfidfTopTerms]]
  * convention — libm ln differs in the last ulp across engines), per-document
  * sums fold the weight multiset in ASCENDING VALUE order from 0.0 (FP
  * addition is order-sensitive; a canonical order makes every engine produce
  * the same bits), and `+ 0.0` collapses a possible engine-specific `-0.0`
  * from rounding.
  */
object Dsir {

  /** The DSIR feature multiset of a document: lowercased whitespace-token
    * unigrams plus space-joined bigrams, WITH multiplicity. Tokens never
    * contain whitespace, so a bigram can never collide with a unigram.
    * NULL/empty text yields an empty feature list. */
  private[ops] def unigramsBigrams(text: Column): Column = {
    val t = TextOps.tokens(lower(text))
    val m = greatest(size(t) - 1, lit(0))
    concat(t, zip_with(slice(t, lit(1), m), slice(t, lit(2), m),
      (a, b) => concat(a, lit(" "), b)))
  }

  /** Fitted DSIR importance model: `weights` is the bounded
    * (gram → log-importance) table, `weight = round(ln p̂_target(g) −
    * ln p̂_raw(g), 9)` under add-1-smoothed bag-of-ngram models over the
    * top-`vocabSize` raw-corpus grams. Out-of-vocabulary grams score 0
    * (both models explain them equally badly — they carry no signal about
    * WHICH distribution a document resembles).
    *
    * Persists as a [[graft.core.ModelIO]] directory artifact: params.json
    * (vocabSize) plus `weights.parquet` — the vocabulary is data, not
    * metadata, so it rides the columnar format like
    * [[Dedup.ContaminationIndex]]'s hash table. */
  final case class DsirModel(vocabSize: Int, weights: DataFrame) {
    def save(dir: String): Unit =
      ModelIO.saveArtifact(dir, 1, Seq("vocabSize" -> JInt(vocabSize)),
        Seq("weights.parquet" -> weights))
  }

  object DsirModel {
    def load(spark: SparkSession, dir: String): DsirModel =
      DsirModel(
        vocabSize = ModelIO.dbl(ModelIO.readRecord(dir) \ "vocabSize").toInt,
        weights = ModelIO.readTable(spark, dir, "weights.parquet"))
  }

  /** Fit a [[DsirModel]]: vocabulary = the `vocabSize` most frequent raw
    * grams (occurrence counts, ties by gram ascending — deterministic at
    * the cutoff), importance weight per vocab gram from add-1-smoothed
    * occurrence ratios. Totals count VOCAB grams only, so the two models
    * normalize over the same support.
    *
    * Scale shape: two explode+count aggregates (one per corpus — the
    * standard word-count shuffle), a TakeOrdered head for the vocabulary
    * (no global sort), and one broadcast semi-join to pick the target's
    * vocab counts; driver state is the vocabulary itself (≤ `vocabSize`
    * grams — dictionary-sized, like every fit in [[Sampling]]). The weight
    * arithmetic runs as Spark expressions over a driver-built local frame
    * so ln/round behavior is the engine's own, exactly replayable by the
    * oracle. */
  def dsirFit(
      target: DataFrame,
      raw: DataFrame,
      textCol: String,
      vocabSize: Int = 65536): DsirModel = {
    require(vocabSize >= 1, "vocabSize must be >= 1")
    graft.core.Validators.requireColumns(target, Seq(textCol))
    graft.core.Validators.requireColumns(raw, Seq(textCol))
    val spark = raw.sparkSession
    val vocab = raw
      .select(explode(unigramsBigrams(col(textCol))).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("__cr"))
      .orderBy(col("__cr").desc, col("gram").asc)
      .limit(vocabSize)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    if (vocab.isEmpty)
      throw graft.errors.FeatureFactoryException.InvalidParameter(
        "dsirFit: raw corpus has no tokens — nothing to build a vocabulary from")
    import org.apache.spark.sql.types.{LongType, StringType}
    val vocabDf = Sampling.broadcastFrame(spark,
      Seq("gram" -> StringType),
      vocab.toSeq.map { case (g, _) => org.apache.spark.sql.Row(g) })
    val targetCounts = target
      .select(explode(unigramsBigrams(col(textCol))).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("__ct"))
      .join(vocabDf, "gram")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val v = vocab.length
    val totT = vocab.iterator.map { case (g, _) => targetCounts.getOrElse(g, 0L) }.sum
    val totR = vocab.iterator.map(_._2).sum
    // a plain local frame, NOT broadcastFrame: the weights are projected,
    // never joined here (dsirScore adds its own broadcast at the join site)
    val countsDf = Sampling.localFrame(spark,
      Seq("gram" -> StringType, "__ct" -> LongType, "__cr" -> LongType),
      vocab.toSeq.map { case (g, cr) =>
        org.apache.spark.sql.Row(g, targetCounts.getOrElse(g, 0L), cr) })
    // counts < 2^53 so `long + 1.0` and the total-to-double casts are exact;
    // `+ 0.0` collapses a possible -0.0 from rounding a tiny negative ratio
    val weights = countsDf.select(
      col("gram"),
      (round(
        log((col("__ct") + 1.0) / lit((totT + v).toDouble)) -
          log((col("__cr") + 1.0) / lit((totR + v).toDouble)), 9) + 0.0).as("weight"))
    DsirModel(vocabSize, weights)
  }

  /** Appends `dsir_score` = the document's log importance weight under
    * `model`: the sum of the per-occurrence gram weights, folded in
    * ascending value order from 0.0 (canonical FP order — any engine
    * replays the same bits). Out-of-vocabulary grams contribute nothing;
    * a document with no vocab grams (or NULL/empty text, or a NULL id)
    * scores 0.0. Rows SHARING an id are scored as ONE document — their
    * gram multisets pool, and each row carries the pooled score (the
    * [[Sampling.leakageSafeSplit]] group convention; ids are normally
    * unique).
    *
    * Scale shape: one explode + broadcast-hash join against the bounded
    * weight table (vocabSize ≤ 64k rows — a few MB, never a shuffle side),
    * one per-document aggregation shuffle carrying (id, weight) pairs —
    * the same volume [[TextOps.tfidfTopTerms]] shuffles — and one join
    * back on the id. The fold happens inside the per-document aggregate;
    * nothing is collected to the driver. */
  def dsirScore(
      df: DataFrame,
      idCol: String,
      textCol: String,
      model: DsirModel): DataFrame = {
    graft.core.Validators.requireColumns(df, Seq(idCol, textCol))
    graft.core.Validators.requireColumnsAbsent(df, Seq("dsir_score"), "dsirScore")
    scoreJoinBack(df, idCol, perIdScores(df, idCol, textCol, model.weights))
  }

  /** The canonical per-document ordered fold over a `(__graft_did, weight)`
    * joined frame: weights folded in ASCENDING VALUE order from 0.0 — THE
    * FP-portability rule every weight-scoring op must share (a second copy
    * of this fold would let the convention silently fork). Shared with
    * [[Classifier]]. */
  private[ops] def orderedWeightFold(joined: DataFrame): DataFrame = joined
    .groupBy("__graft_did")
    .agg(aggregate(sort_array(collect_list(col("weight"))),
      lit(0.0), (acc, x) => acc + x).as("__graft_dscore"))

  /** The aggregation half of [[dsirScore]]: one `(__graft_did,
    * __graft_dscore)` row per id that has at least one occurrence of a
    * gram in `weights` (ids with none — and the NULL-id group — simply
    * don't appear; the join-back defaults them). Shared with
    * [[Classifier]]'s gram-keyed path. */
  private[ops] def perIdScores(
      df: DataFrame,
      idCol: String,
      textCol: String,
      weights: DataFrame): DataFrame = orderedWeightFold(df
    .select(col(idCol).as("__graft_did"),
      explode(unigramsBigrams(col(textCol))).as("gram"))
    .join(broadcast(weights), "gram"))

  /** The join-back half: plain `===`, so a NULL id never matches and takes
    * the default instead of pooling into one surrogate document. `finish`
    * maps the 0.0-defaulted fold to the output value (identity for DSIR;
    * Classifier adds its bias). */
  private[ops] def scoreJoinBack(
      df: DataFrame,
      idCol: String,
      perDoc: DataFrame,
      outCol: String = "dsir_score",
      finish: Column => Column = identity): DataFrame =
    df.join(perDoc, col(idCol) === col("__graft_did"), "left")
      .withColumn(outCol, finish(coalesce(col("__graft_dscore"), lit(0.0))))
      .drop("__graft_did", "__graft_dscore")

  /** Gumbel-top-`n` importance resampling: keep the `n` DOCUMENTS (ids)
    * with the highest `dsir_score + Gumbel(0,1)` key — a
    * without-replacement sample with inclusion probability
    * ∝ exp(dsir_score), i.e. ∝ the DSIR importance weight (the Gumbel-max
    * trick over log-weights). The Gumbel noise is deterministic:
    * `u = (minstdHash(id)+1) / 2^31 ∈ (0,1)`, `g = round(−ln(−ln u), 9)` —
    * the portable [[Sampling.minstdHash]] order, so re-runs and other
    * engines select exactly the same documents. The sampling unit is the
    * ID, matching [[dsirScore]]'s pooling convention: every row of a
    * selected id is kept (rows sharing an id have identical keys, so a
    * row-level cut at the boundary would be arbitrary). Rows with a NULL
    * id are dropped (no hash position, as in
    * [[Sampling.interleaveSources]]); ties break by id ascending. Output
    * keeps `dsir_score`.
    *
    * Scale shape: the per-id score aggregate runs ONCE (lazily
    * materialized — both the ranking and the output join read it), the
    * ranking side is a narrow two-column pipeline (distinct ids →
    * score join → TakeOrdered head, no global sort), and the ≤`n`
    * selected ids semi-join back onto the scored corpus — by broadcast
    * when `n` is small (Catalyst's limit statistics), by shuffle when a
    * caller asks for millions (an explicit broadcast hint here would be
    * a driver-OOM cliff: `n` is an unbounded user parameter, not a
    * dictionary-sized constant). */
  def dsirResample(
      df: DataFrame,
      idCol: String,
      textCol: String,
      model: DsirModel,
      n: Int): DataFrame = {
    require(n >= 1, "n must be >= 1")
    graft.core.Validators.requireColumns(df, Seq(idCol, textCol))
    graft.core.Validators.requireColumnsAbsent(df, Seq("dsir_score"), "dsirResample")
    val base = df.filter(col(idCol).isNotNull)
    val per = Dedup.materializeLazy(perIdScores(base, idCol, textCol, model.weights))
    // u < 1 strictly (hash < 2^31−1), so −ln u > 0 and the outer ln is
    // finite; 2^31 is a power of two, so the division is exact
    val u = (Sampling.minstdHash(col("__graft_rid")) + 1).cast("double") /
      lit(2147483648.0)
    // the ranking never touches the corpus width: distinct ids (covers
    // zero-vocab-gram docs the aggregate omits) joined to the per-id
    // scores — score and key are pure functions of the id, so the top-n
    // cut is id-deterministic
    val selected = base.select(col(idCol).as("__graft_rid")).distinct()
      .join(per, col("__graft_rid") === col("__graft_did"), "left")
      .select(col("__graft_rid"),
        (coalesce(col("__graft_dscore"), lit(0.0)) +
          round(-log(-log(u)), 9)).as("__graft_key"))
      .orderBy(col("__graft_key").desc, col("__graft_rid").asc)
      .limit(n)
      .select("__graft_rid")
    scoreJoinBack(base, idCol, per)
      .join(selected, col(idCol) === col("__graft_rid"), "left_semi")
  }
}
