package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s.JInt

import graft.core.ModelIO

/** N-gram language-model scoring for corpus curation (extension beyond the
  * reference surface, SURVEY §2.11): the CCNet/Gopher-style "perplexity
  * filter" quality signal — train a cheap LM on a clean corpus, score every
  * candidate document by per-token negative log-likelihood, drop the
  * worst — with the LM made engine-portable instead of a KenLM binary: a
  * bounded-vocabulary bigram model with stupid backoff (Brants et al. 2007,
  * "Large Language Models in Machine Translation" — score(b|a) =
  * count(ab)/count(a), backing off to 0.4 · count(b)/total), over
  * lowercased whitespace tokens.
  *
  * The same cross-engine FP discipline as [[Dsir]]: every ln output is
  * rounded to 9 decimals (libm ln differs in the last ulp across engines),
  * per-document sums fold the contribution multiset in ascending value
  * order from 0.0, `+ 0.0` collapses a possible -0.0, and the final mean
  * is written `(0.0 − sum) / n` so a zero sum cannot produce a negative
  * zero. Any engine replays the scores bit-for-bit.
  */
object LangModel {

  /** The score-time contribution rows of a document: a leading
    * `(NULL, first-token)` struct (scored by the unigram model) followed by
    * every adjacent token pair `(prev, tok)` (scored by backoff bigram).
    * NULL/empty text yields no rows. */
  private def contributionPairs(text: Column): Column = {
    val t = TextOps.tokens(lower(text))
    val pairTpe = "array<struct<pa:string,pb:string>>"
    val first = when(size(t) >= 1,
      array(struct(lit(null).cast("string").as("pa"), element_at(t, 1).as("pb"))))
      .otherwise(array().cast(pairTpe))
    // the pair tail IS adjacentPairs — one definition, so fit-time and
    // score-time pair extraction can never diverge (codegen's
    // subexpression elimination dedupes the repeated tokenize)
    concat(first, adjacentPairs(text).cast(pairTpe))
  }

  /** Fit-time adjacent pairs only (no leading-unigram row). */
  private def adjacentPairs(text: Column): Column = {
    val t = TextOps.tokens(lower(text))
    val m = greatest(size(t) - 1, lit(0))
    zip_with(slice(t, lit(1), m), slice(t, lit(2), m),
      (a, b) => struct(a.as("pa"), b.as("pb")))
  }

  /** Fitted backoff bigram LM: `unigrams` = the top-`vocabSize` tokens with
    * occurrence counts (ties by token ascending), `bigrams` = the
    * top-`bigramSize` in-vocabulary-prefix token pairs with counts (ties by
    * pair ascending), `total` = ALL token occurrences in the training
    * corpus (out-of-vocabulary included — the unigram denominator).
    * Out-of-vocabulary tokens score as a single count-1 floor, `ln(1/total)`.
    *
    * Persists as a [[graft.core.ModelIO]] directory artifact (params.json
    * + `unigrams.parquet` + `bigrams.parquet`). */
  final case class LmModel(
      vocabSize: Int,
      bigramSize: Int,
      total: Long,
      unigrams: DataFrame,
      bigrams: DataFrame) {
    def save(dir: String): Unit =
      ModelIO.saveArtifact(dir, 1, Seq("vocabSize" -> JInt(vocabSize),
        "bigramSize" -> JInt(bigramSize), "total" -> JInt(total)),
        Seq("unigrams.parquet" -> unigrams, "bigrams.parquet" -> bigrams))
  }

  object LmModel {
    def load(spark: SparkSession, dir: String): LmModel = {
      val o = ModelIO.readRecord(dir)
      LmModel(
        vocabSize = ModelIO.dbl(o \ "vocabSize").toInt,
        bigramSize = ModelIO.dbl(o \ "bigramSize").toInt,
        total = ModelIO.lng(o \ "total"), // an exact count: no Double round trip
        unigrams = ModelIO.readTable(spark, dir, "unigrams.parquet"),
        bigrams = ModelIO.readTable(spark, dir, "bigrams.parquet"))
    }
  }

  /** Fit an [[LmModel]] on a training corpus: one unigram count aggregate
    * (its grand total is the model's `total`), one bigram count aggregate
    * restricted to in-vocabulary prefixes, each cut to its top-K by count
    * with deterministic tie-breaks via TakeOrdered heads — no global sort,
    * driver state bounded by `vocabSize + bigramSize` rows (dictionary-
    * sized, like every fit in [[Sampling]]). */
  def lmFit(
      corpus: DataFrame,
      textCol: String,
      vocabSize: Int = 65536,
      bigramSize: Int = 262144): LmModel = {
    require(vocabSize >= 1, "vocabSize must be >= 1")
    require(bigramSize >= 1, "bigramSize must be >= 1")
    graft.core.Validators.requireColumns(corpus, Seq(textCol))
    val spark = corpus.sparkSession
    import org.apache.spark.sql.types.{LongType, StringType}
    // materialized (contaminationFit's convention): the grand total and the
    // vocabulary head both read this aggregate — without it the whole
    // tokenize+explode+shuffle pass over the corpus would run twice
    val uniAgg = Dedup.materialize(corpus
      .select(explode(TextOps.tokens(lower(col(textCol)))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c1")))
    val totalRow = uniAgg.agg(sum("c1")).head()
    if (totalRow.isNullAt(0))
      throw graft.errors.FeatureFactoryException.InvalidParameter(
        "lmFit: training corpus has no tokens — nothing to model")
    val total = totalRow.getLong(0)
    val vocab = uniAgg.orderBy(col("c1").desc, col("tok").asc)
      .limit(vocabSize)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val uniDf = Sampling.localFrame(spark,
      Seq("tok" -> StringType, "c1" -> LongType),
      vocab.toSeq.map { case (t, c) => org.apache.spark.sql.Row(t, c) })
    val bigrams = corpus
      .select(explode(adjacentPairs(col(textCol))).as("pr"))
      .select(col("pr.pa").as("pa"), col("pr.pb").as("pb"))
      .join(broadcast(uniDf.select(col("tok").as("pa"))), "pa") // prefix must be in-vocab
      .groupBy("pa", "pb").agg(count(lit(1)).as("c2"))
      .orderBy(col("c2").desc, col("pa").asc, col("pb").asc)
      .limit(bigramSize)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val biDf = Sampling.localFrame(spark,
      Seq("pa" -> StringType, "pb" -> StringType, "c2" -> LongType),
      bigrams.toSeq.map { case (a, b, c) => org.apache.spark.sql.Row(a, b, c) })
    LmModel(vocabSize, bigramSize, total, uniDf, biDf)
  }

  /** Appends `lm_score` = the document's per-token negative log-likelihood
    * under `model` (≈ ln perplexity; LOWER is more fluent): the first token
    * scores `ln(count/total)` (unigram), every later token
    * `ln(count(ab)/count(a))` when the bigram is in the model, else
    * `ln 0.4 + ln(count(b)/total)` (stupid backoff); out-of-vocabulary
    * tokens take the count-1 floor `ln(1/total)`. Contributions fold in
    * ascending value order from 0.0 (canonical FP order — any engine
    * replays the same bits), then `lm_score = (0.0 − sum) / n_tokens`.
    *
    * A document with no tokens — or a NULL id — gets a NULL `lm_score`
    * (no defined per-token likelihood; a 0.0 default would read as
    * "maximally fluent" and sail through [[perplexityFilter]]). Rows
    * SHARING an id are scored as ONE document (the [[dsirScore]]
    * convention; ids are normally unique).
    *
    * Scale shape: one narrow pair explode + three broadcast-hash joins
    * against the bounded model tables (never a shuffle side), one
    * per-document aggregation shuffle, one join back on the id —
    * [[Dsir.dsirScore]]'s profile with two extra broadcasts. */
  def lmScore(
      df: DataFrame,
      idCol: String,
      textCol: String,
      model: LmModel): DataFrame = {
    graft.core.Validators.requireColumns(df, Seq(idCol, textCol))
    graft.core.Validators.requireColumnsAbsent(df, Seq("lm_score"), "lmScore")
    val t = lit(model.total.toDouble)
    val uB = when(col("__c1b").isNotNull, round(log(col("__c1b") / t), 9))
      .otherwise(round(log(lit(1.0) / t), 9)) + 0.0
    val contrib = when(col("pa").isNull, uB)
      .when(col("__c2").isNotNull, round(log(col("__c2") / col("__c1a")), 9) + 0.0)
      .otherwise(round(log(lit(0.4)), 9) + uB)
    val perDoc = df
      .select(col(idCol).as("__graft_did"),
        explode(contributionPairs(col(textCol))).as("pr"))
      .select(col("__graft_did"), col("pr.pa").as("pa"), col("pr.pb").as("pb"))
      .join(broadcast(model.unigrams.select(col("tok").as("pa"), col("c1").as("__c1a"))),
        Seq("pa"), "left")
      .join(broadcast(model.unigrams.select(col("tok").as("pb"), col("c1").as("__c1b"))),
        Seq("pb"), "left")
      .join(broadcast(model.bigrams.select(col("pa"), col("pb"), col("c2").as("__c2"))),
        Seq("pa", "pb"), "left")
      .select(col("__graft_did"), contrib.as("__graft_contrib"))
      .groupBy("__graft_did")
      .agg(
        aggregate(sort_array(collect_list(col("__graft_contrib"))),
          lit(0.0), (acc, x) => acc + x).as("__graft_s"),
        count(lit(1)).as("__graft_n"))
      .select(col("__graft_did"),
        ((lit(0.0) - col("__graft_s")) / col("__graft_n")).as("__graft_lm"))
    // plain === join-back, as in dsirScore: NULL ids never match and stay NULL
    df.join(perDoc, col(idCol) === col("__graft_did"), "left")
      .withColumn("lm_score", col("__graft_lm"))
      .drop("__graft_did", "__graft_lm")
  }

  /** The perplexity filter itself: keep documents whose [[lmScore]] is at
    * most `maxScore` (per-token negative log-likelihood — e.g. 6.0 keeps
    * docs with perplexity ≤ e⁶ ≈ 403 under the model). Documents with a
    * NULL score (no tokens, NULL id) are DROPPED — an unscorable document
    * is not evidence of fluency. Output keeps `lm_score`. */
  def perplexityFilter(
      df: DataFrame,
      idCol: String,
      textCol: String,
      model: LmModel,
      maxScore: Double): DataFrame =
    lmScore(df, idCol, textCol, model).filter(col("lm_score") <= maxScore)
}
