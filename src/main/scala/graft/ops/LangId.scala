package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s.{JArray, JDouble, JInt, JNothing, JObject, JString}

import graft.core.ModelIO

/** Trained language identification (extension beyond the reference surface,
  * SURVEY §2.12) — the production successor of [[TextOps.languageId]]'s
  * 4-language stopword heuristic: a multi-class naive-Bayes classifier over
  * character bigrams, fit on any labeled corpus (so it covers however many
  * languages the training data does), persisted like the other fitted
  * models, and scored as one broadcast weight join + an argmax.
  *
  * Character bigrams (WITH multiplicity, over the lowercased text — spaces
  * included, since word-boundary letters are among the strongest language
  * cues) are the classic langid feature: they need no tokenizer, work for
  * scripts without whitespace, and keep the gram space small enough that a
  * few thousand vocabulary entries separate dozens of languages. The fit
  * and score arithmetic follows [[Classifier]]'s NB discipline exactly —
  * add-1 smoothing over vocabulary-gram totals, round-9 `ln` weights,
  * ascending-order fold from 0.0, prior-logit biases — so the DuckDB
  * oracle replays fit AND argmax bit-for-bit.
  *
  * Scale shape ([[Dsir.dsirScore]]'s profile): one narrow bigram explode,
  * one broadcast join against the (vocab × languages)-sized weight table
  * (PlanSpec pins the broadcast), one (doc, lang) aggregation shuffle whose
  * partitioning the per-doc argmax window reuses, one id join-back.
  */
object LangId {

  /** Character bigrams of the lowercased text, with multiplicity.
    * NULL/empty/1-char text yields an empty list. */
  private[ops] def charBigrams(text: Column): Column = {
    val t = lower(text)
    when(char_length(t) >= 2,
      transform(sequence(lit(1), char_length(t) - 1), i => substring(t, i, lit(2))))
      .otherwise(array().cast("array<string>"))
  }

  /** A fitted language-ID model: `weights` is the FULL (gram, lang, weight)
    * cross table over the vocabulary when `numBuckets == 0`, else the
    * (bucket, lang, weight) hashing-trick table ([[hashed]]) — a zero
    * training count still carries its smoothed penalty weight, which is
    * what lets rare evidence vote against a language. `biases` are the
    * per-language prior logits; `langs` the label set (ascending).
    * Persists as a [[graft.core.ModelIO]] directory artifact (params.json
    * + weights.parquet). */
  final case class LangIdModel(
      vocabSize: Int,
      langs: Seq[String],
      biases: Map[String, Double],
      weights: DataFrame,
      numBuckets: Int = 0) {
    def save(dir: String): Unit =
      ModelIO.saveArtifact(dir, 1, Seq(
        "vocabSize" -> JInt(vocabSize),
        "numBuckets" -> JInt(numBuckets),
        "langs" -> JArray(langs.map(JString(_)).toList),
        "biases" -> JObject(langs.map(l => l -> JDouble(biases(l))).toList)),
        Seq("weights.parquet" -> weights))

    /** The no-evidence default: the language with the highest prior logit
      * (ties by language ascending) — what a document with zero vocabulary
      * grams is predicted as. */
    private[ops] def defaultLang: (String, Double) =
      langs.map(l => (l, biases(l))).minBy { case (l, b) => (-b, l) }
  }

  object LangIdModel {
    def load(spark: SparkSession, dir: String): LangIdModel = {
      val o = ModelIO.readRecord(dir)
      val langs = (o \ "langs") match {
        case JArray(xs) => xs.collect { case JString(s) => s }
        case _ => throw graft.errors.FeatureFactoryException.InvalidParameter(
          s"$dir/params.json carries no langs list — not a language-ID model")
      }
      val biases = (o \ "biases") match {
        case JObject(fs) => fs.map { case (k, v) => k -> ModelIO.dbl(v) }.toMap
        case _ => throw graft.errors.FeatureFactoryException.InvalidParameter(
          s"$dir/params.json carries no biases — not a language-ID model")
      }
      // absent in pre-hashing saves → gram-keyed (0)
      val buckets = (o \ "numBuckets") match {
        case JNothing => 0
        case j => ModelIO.dbl(j).toInt
      }
      LangIdModel(
        vocabSize = ModelIO.dbl(o \ "vocabSize").toInt,
        langs = langs,
        biases = biases,
        weights = ModelIO.readTable(spark, dir, "weights.parquet"),
        numBuckets = buckets)
    }
  }

  /** Convert a gram-keyed model to fastText's hashing-trick form
    * ([[Classifier.hashed]]'s multi-class sibling): `bucket =
    * pmod(xxhash64(gram), numBuckets)`, colliding weights folded per
    * (bucket, lang) in ascending value order (deterministic sum).
    * Inference then joins on a fixed-size (buckets × langs) table
    * regardless of how large the gram space grows — the broadcast-size
    * escape hatch for very large vocab × language products.
    *
    * Semantic shift, inherent to the hashing trick (fastText behaves the
    * same way): out-of-vocabulary grams no longer drop out of scoring —
    * they hash into whatever buckets exist and pick up those buckets'
    * folded weights. With generous `numBuckets` (sparse occupancy) most
    * OOV grams land in empty buckets and the gram-keyed behavior is
    * recovered; in the small-bucket regime OOV evidence is hash noise by
    * construction. The no-evidence prior default still applies only to
    * documents with an empty gram list. */
  def hashed(model: LangIdModel, numBuckets: Int): LangIdModel = {
    require(numBuckets >= 1, "numBuckets must be >= 1")
    require(model.numBuckets == 0, "hashed: model is already bucket-keyed")
    val w = model.weights
      .select(pmod(xxhash64(col("gram")), lit(numBuckets.toLong)).as("bucket"),
        col("lang"), col("weight"))
      .groupBy("bucket", "lang")
      .agg(aggregate(sort_array(collect_list(col("weight"))),
        lit(0.0), (acc, x) => acc + x).as("weight"))
    model.copy(numBuckets = numBuckets, weights = w)
  }

  /** Fit a [[LangIdModel]] on a labeled corpus: vocabulary = the
    * `vocabSize` most frequent character bigrams over ALL languages
    * (ties by gram ascending), per-language weight `w(g, l) =
    * round(ln((c_{g,l} + 1) / (tot_l + V)), 9)` with totals over vocabulary
    * grams only (every language normalizes over the same support —
    * [[Classifier.classifierFit]]'s convention), prior `bias_l =
    * round(ln(n_l / N), 9)` from the document counts. Rows with a NULL
    * label are rejected loudly — silently dropping them would shift every
    * prior.
    *
    * Scale shape: TWO corpus jobs total — one narrow per-language document
    * count (which also surfaces NULL labels for free), and ONE
    * explode+aggregate over the character bigrams whose TakeOrdered head
    * carries the per-language counts alongside each vocabulary gram (so
    * the vocabulary cut and the (vocab × langs) pull share a single
    * shuffle instead of recomputing the dominant explode). The weight/bias
    * arithmetic runs as Spark expressions over driver-built frames so
    * ln/round is the engine's own, exactly replayable by the oracle. */
  def langIdFit(
      corpus: DataFrame,
      textCol: String,
      langCol: String,
      vocabSize: Int = 4096): LangIdModel = {
    require(vocabSize >= 1, "vocabSize must be >= 1")
    graft.core.Validators.requireColumns(corpus, Seq(textCol, langCol))
    val spark = corpus.sparkSession
    val langCountsRaw = corpus.groupBy(col(langCol).cast("string").as("lang"))
      .agg(count(lit(1)).as("nd"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // the group keys surface NULL labels for free — check BEFORE sorting
    // (a null sort key would NPE) and refuse loudly
    if (langCountsRaw.exists(_._1 == null))
      throw graft.errors.FeatureFactoryException.InvalidParameter(
        s"langIdFit: NULL labels in '$langCol' — filter or impute them first " +
          "(silently dropping rows would shift every language prior)")
    val langCounts = langCountsRaw.sortBy(_._1)
    if (langCounts.length < 2)
      throw graft.errors.FeatureFactoryException.InvalidParameter(
        s"langIdFit: need at least 2 languages, got ${langCounts.length}")
    val langs = langCounts.map(_._1).toSeq
    val nTotal = langCounts.map(_._2).sum
    // one aggregate over the exploded bigrams: the vocabulary head carries
    // each gram's per-language counts, so no second corpus pass is needed
    val vocabRows = corpus
      .select(col(langCol).cast("string").as("lang"),
        explode(charBigrams(col(textCol))).as("gram"))
      .groupBy("gram", "lang").agg(count(lit(1)).as("c"))
      .groupBy("gram").agg(sum(col("c")).as("tot"),
        collect_list(struct(col("lang"), col("c"))).as("per_lang"))
      .orderBy(col("tot").desc, col("gram").asc)
      .limit(vocabSize)
      .select("gram", "per_lang").collect()
    val vocab = vocabRows.map(_.getString(0))
    if (vocab.isEmpty)
      throw graft.errors.FeatureFactoryException.InvalidParameter(
        "langIdFit: corpus has no character bigrams — nothing to fit")
    import org.apache.spark.sql.types.{LongType, StringType}
    val pairCounts = vocabRows.iterator.flatMap { r =>
      val g = r.getString(0)
      r.getSeq[org.apache.spark.sql.Row](1).map(p =>
        (g, p.getString(0)) -> p.getLong(1))
    }.toMap
    val v = vocab.length
    val totals = langs.map(l =>
      l -> vocab.iterator.map(g => pairCounts.getOrElse((g, l), 0L)).sum).toMap
    // FULL cross table: absent (gram, lang) pairs keep their smoothed
    // zero-count penalty — dropping them would score missing evidence as 0
    val fullRows = for (g <- vocab.toSeq; l <- langs) yield
      org.apache.spark.sql.Row(g, l, pairCounts.getOrElse((g, l), 0L), totals(l))
    val countsDf = Sampling.localFrame(spark,
      Seq("gram" -> StringType, "lang" -> StringType,
        "c" -> LongType, "tl" -> LongType),
      fullRows)
    // counts < 2^53 so `long + 1.0` and the total casts are exact; `+ 0.0`
    // collapses -0.0 (the classifierFit convention)
    val weights = countsDf.select(
      col("gram"), col("lang"),
      (round(log((col("c") + 1.0) / (col("tl") + lit(v.toDouble))), 9) + 0.0)
        .as("weight"))
    val biasRows = Sampling.localFrame(spark,
      Seq("lang" -> StringType, "nd" -> LongType),
      langCounts.toSeq.map { case (l, n) => org.apache.spark.sql.Row(l, n) })
      .select(col("lang"),
        (round(log(col("nd").cast("double") / lit(nTotal.toDouble)), 9) + 0.0)
          .as("bias"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    LangIdModel(vocabSize, langs, biasRows, weights)
  }

  /** Appends `lang_pred` (the argmax language; score ties break by language
    * ascending) and `lang_score` (its NB logit: bias_l + the ascending-order
    * weight fold) under `model`. A document with no vocabulary grams — or a
    * NULL id, which never matches the join-back — predicts the model's
    * highest-prior language at its bias ([[Classifier.classifierScore]]'s
    * no-evidence convention, multi-class edition). Rows sharing an id pool
    * into one document. */
  def langIdScore(
      df: DataFrame,
      idCol: String,
      textCol: String,
      model: LangIdModel): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.core.Validators.requireColumns(df, Seq(idCol, textCol))
    graft.core.Validators.requireColumnsAbsent(df,
      Seq("lang_pred", "lang_score"), "langIdScore")
    val biasDf = Sampling.broadcastFrame(df.sparkSession,
      Seq("lang" -> org.apache.spark.sql.types.StringType,
        "bias" -> org.apache.spark.sql.types.DoubleType),
      model.langs.map(l => org.apache.spark.sql.Row(l, model.biases(l))))
    // explode → broadcast weight join (gram-keyed, or bucket-keyed under
    // the hashing trick) → per-(doc, lang) ascending fold
    // (Dsir.orderedWeightFold's rule, keyed by language too) → + bias →
    // per-doc argmax window on the SAME doc key the fold shuffled on
    val exploded = df
      .select(col(idCol).as("__graft_did"),
        explode(charBigrams(col(textCol))).as("gram"))
    val joined =
      if (model.numBuckets == 0) exploded.join(broadcast(model.weights), Seq("gram"))
      else exploded
        .select(col("__graft_did"),
          pmod(xxhash64(col("gram")), lit(model.numBuckets.toLong)).as("bucket"))
        .join(broadcast(model.weights), Seq("bucket"))
    val perDocLang = joined
      .groupBy("__graft_did", "lang")
      .agg(aggregate(sort_array(collect_list(col("weight"))),
        lit(0.0), (acc, x) => acc + x).as("__graft_s0"))
      .join(biasDf, Seq("lang"))
      .withColumn("__graft_s", col("__graft_s0") + col("bias"))
    val best = perDocLang
      .withColumn("__graft_rn", row_number().over(
        Window.partitionBy("__graft_did")
          .orderBy(col("__graft_s").desc, col("lang").asc)))
      .filter(col("__graft_rn") === 1)
      .select(col("__graft_did"), col("lang").as("__graft_pred"),
        col("__graft_s").as("__graft_ps"))
    val (dl, db) = model.defaultLang
    df.join(best, col(idCol) === col("__graft_did"), "left")
      .withColumn("lang_pred", coalesce(col("__graft_pred"), lit(dl)))
      .withColumn("lang_score", coalesce(col("__graft_ps"), lit(db)))
      .drop("__graft_did", "__graft_pred", "__graft_ps")
  }
}
