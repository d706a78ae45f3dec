package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s.{JDouble, JInt}

import graft.core.ModelIO

/** Linear quality-classifier inference (extension beyond the reference
  * surface, SURVEY §2.11) — the third standard curation signal next to the
  * Gopher rules ([[TextOps.gopherFeatures]]) and the LM perplexity filter
  * ([[LangModel]]): a fastText-style linear model over word unigram+bigram
  * features, scored as a per-document logit and thresholded in probability
  * space.
  *
  * The shipped trainer is multinomial naive Bayes log-odds — a genuinely
  * linear classifier (score = bias + Σ w(g)·count(g)) whose weights come
  * from two counting passes, so fitting is deterministic and the oracle
  * replays fit AND inference bit-for-bit ([[Dsir]]'s FP discipline: round-9
  * ln outputs, ascending-order fold from 0.0). Externally-trained weights
  * (a real logistic regression / fastText dump) drop into the same
  * [[ClassifierModel]] — inference only reads (gram → weight) + bias.
  *
  * Filtering happens on the LOGIT: the probability threshold converts to
  * `ln(p/(1−p))` once on the driver, so the hot path never evaluates a
  * per-row sigmoid (monotonicity makes the two thresholds equivalent) and
  * cross-engine `exp` drift can never flip a keep/drop decision.
  *
  * Scale shape — [[Dsir.dsirScore]]'s profile: one narrow gram explode, one
  * broadcast-hash join against the bounded weight table (never a shuffle
  * side; PlanSpec pins it), one per-document aggregation shuffle, one
  * id join-back. For vocabularies beyond broadcast size, [[hashed]]
  * converts a model to fastText's hashing-trick form: grams bucket by
  * xxhash64 mod `numBuckets`, colliding weights sum — the table shrinks to
  * a fixed bucket count no matter how large the gram space grows. */
object Classifier {

  /** A fitted linear text classifier. `weights` is (gram, weight) when
    * `numBuckets == 0`, else (bucket, weight) under the hashing trick.
    * `bias` is the class prior logit. Persists as a [[graft.core.ModelIO]]
    * directory artifact (params.json + weights.parquet). */
  final case class ClassifierModel(
      vocabSize: Int,
      numBuckets: Int,
      bias: Double,
      weights: DataFrame) {
    def save(dir: String): Unit =
      ModelIO.saveArtifact(dir, 1, Seq("vocabSize" -> JInt(vocabSize),
        "numBuckets" -> JInt(numBuckets), "bias" -> JDouble(bias)),
        Seq("weights.parquet" -> weights))
  }

  object ClassifierModel {
    def load(spark: SparkSession, dir: String): ClassifierModel = {
      val o = ModelIO.readRecord(dir)
      ClassifierModel(
        vocabSize = ModelIO.dbl(o \ "vocabSize").toInt,
        numBuckets = ModelIO.dbl(o \ "numBuckets").toInt,
        bias = ModelIO.dbl(o \ "bias"),
        weights = ModelIO.readTable(spark, dir, "weights.parquet"))
    }
  }

  /** Fit NB log-odds weights from a positive and a negative corpus:
    * vocabulary = the `vocabSize` grams most frequent over BOTH corpora
    * (ties by gram ascending), `w(g) = round(ln((c⁺+1)/(tot⁺+V)) −
    * ln((c⁻+1)/(tot⁻+V)), 9)` with totals over vocab grams only (both
    * class models normalize over the same support, [[Dsir.dsirFit]]'s
    * convention), `bias = round(ln(n⁺/n⁻), 9)` from the document counts.
    *
    * Scale shape: one explode+count aggregate over the union (the word-
    * count shuffle), a TakeOrdered head — driver state is the vocabulary
    * (≤ `vocabSize` rows). The weight arithmetic runs as Spark expressions
    * over a driver-built local frame so ln/round behavior is the engine's
    * own, exactly replayable by the oracle. */
  def classifierFit(
      positive: DataFrame,
      negative: DataFrame,
      textCol: String,
      vocabSize: Int = 65536): ClassifierModel = {
    require(vocabSize >= 1, "vocabSize must be >= 1")
    graft.core.Validators.requireColumns(positive, Seq(textCol))
    graft.core.Validators.requireColumns(negative, Seq(textCol))
    val spark = positive.sparkSession
    val nPos = positive.count()
    val nNeg = negative.count()
    if (nPos == 0 || nNeg == 0)
      throw graft.errors.FeatureFactoryException.InvalidParameter(
        s"classifierFit: both corpora must be non-empty (positive=$nPos, negative=$nNeg)")
    val grams = positive
      .select(explode(Dsir.unigramsBigrams(col(textCol))).as("gram"),
        lit(1L).as("__p"), lit(0L).as("__n"))
      .unionByName(negative
        .select(explode(Dsir.unigramsBigrams(col(textCol))).as("gram"),
          lit(0L).as("__p"), lit(1L).as("__n")))
    val vocab = grams
      .groupBy("gram")
      .agg(sum("__p").as("__cp"), sum("__n").as("__cn"))
      .orderBy((col("__cp") + col("__cn")).desc, col("gram").asc)
      .limit(vocabSize)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    if (vocab.isEmpty)
      throw graft.errors.FeatureFactoryException.InvalidParameter(
        "classifierFit: corpora have no tokens — nothing to build a vocabulary from")
    val v = vocab.length
    val totP = vocab.iterator.map(_._2).sum
    val totN = vocab.iterator.map(_._3).sum
    import org.apache.spark.sql.types.{LongType, StringType}
    val countsDf = Sampling.localFrame(spark,
      Seq("gram" -> StringType, "__cp" -> LongType, "__cn" -> LongType),
      vocab.toSeq.map { case (g, cp, cn) => org.apache.spark.sql.Row(g, cp, cn) })
    // counts < 2^53, so `long + 1.0` and the total casts are exact; `+ 0.0`
    // collapses a possible -0.0 from rounding (the dsirFit convention)
    val weights = countsDf.select(
      col("gram"),
      (round(
        log((col("__cp") + 1.0) / lit((totP + v).toDouble)) -
          log((col("__cn") + 1.0) / lit((totN + v).toDouble)), 9) + 0.0).as("weight"))
    val bias = spark.range(1)
      .select(round(log(lit(nPos.toDouble) / lit(nNeg.toDouble)), 9) + 0.0)
      .head().getDouble(0)
    ClassifierModel(vocabSize, numBuckets = 0, bias = bias, weights = weights)
  }

  /** Convert a gram-keyed model to fastText's hashing-trick form:
    * `bucket = pmod(xxhash64(gram), numBuckets)`, colliding weights folded
    * in ascending value order (deterministic sum). Inference then joins on
    * a fixed-size bucket table regardless of gram-space size. */
  def hashed(model: ClassifierModel, numBuckets: Int): ClassifierModel = {
    require(numBuckets >= 1, "numBuckets must be >= 1")
    require(model.numBuckets == 0, "hashed: model is already bucket-keyed")
    val w = model.weights
      .select(pmod(xxhash64(col("gram")), lit(numBuckets.toLong)).as("bucket"),
        col("weight"))
      .groupBy("bucket")
      .agg(aggregate(sort_array(collect_list(col("weight"))),
        lit(0.0), (acc, x) => acc + x).as("weight"))
    model.copy(numBuckets = numBuckets, weights = w)
  }

  /** Appends `clf_score` = the document's logit under `model`: bias + the
    * per-occurrence weights folded in ascending value order from 0.0.
    * Out-of-vocabulary grams contribute nothing; a document with no vocab
    * grams (or NULL/empty text, or a NULL id) scores exactly `bias` (the
    * class prior — no evidence moves the needle). Rows sharing an id pool
    * into one document ([[Dsir.dsirScore]]'s convention).
    * `withProbability` additionally appends `clf_prob` = sigmoid(logit) —
    * convenience output; engines may differ in the last ulp of `exp`, so
    * oracled pipelines (and [[probabilityFilter]]) stay in logit space. */
  def classifierScore(
      df: DataFrame,
      idCol: String,
      textCol: String,
      model: ClassifierModel,
      withProbability: Boolean = false): DataFrame = {
    graft.core.Validators.requireColumns(df, Seq(idCol, textCol))
    graft.core.Validators.requireColumnsAbsent(df,
      if (withProbability) Seq("clf_score", "clf_prob") else Seq("clf_score"),
      "classifierScore")
    // gram-keyed: exactly Dsir's explode → broadcast join → ordered fold
    // (shared code, so the FP fold convention can never fork); bucket-keyed
    // swaps the join key for the hash bucket before the same shared fold
    val perDoc =
      if (model.numBuckets == 0)
        Dsir.perIdScores(df, idCol, textCol, model.weights)
      else Dsir.orderedWeightFold(df
        .select(col(idCol).as("__graft_did"),
          explode(Dsir.unigramsBigrams(col(textCol))).as("gram"))
        .select(col("__graft_did"),
          pmod(xxhash64(col("gram")), lit(model.numBuckets.toLong)).as("bucket"))
        .join(broadcast(model.weights), "bucket"))
    val out = Dsir.scoreJoinBack(df, idCol, perDoc,
      outCol = "clf_score", finish = _ + model.bias)
    if (withProbability)
      out.withColumn("clf_prob", lit(1.0) / (lit(1.0) + exp(-col("clf_score"))))
    else out
  }

  /** Keep documents whose predicted positive-class probability is at least
    * `minProb`: the threshold converts to logit space ONCE
    * (`ln(p/(1−p))`) and the filter compares `clf_score` — no per-row
    * sigmoid, no cross-engine `exp` drift. Output keeps `clf_score`. */
  def probabilityFilter(
      df: DataFrame,
      idCol: String,
      textCol: String,
      model: ClassifierModel,
      minProb: Double): DataFrame = {
    require(minProb > 0.0 && minProb < 1.0, "minProb must be in (0, 1)")
    val thr = math.log(minProb / (1.0 - minProb))
    classifierScore(df, idCol, textCol, model).filter(col("clf_score") >= thr)
  }
}
