package graft.core

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.errors.FeatureFactoryException.InvalidParameter
import graft.transformers._

/** Fitted-pipeline persistence: serialize a [[Pipeline]] — constructor
  * parameters AND learned state of every step — to a JSON document, and
  * restore it for apply-only `transform` elsewhere (train once on the
  * cluster, score anywhere). The reference has no persistence (state lives
  * in process-local HashMaps, src/pipeline.rs:118-192); this is the
  * extension a production deployment needs.
  *
  * Format: `{"version":1,"steps":[{"name","type","conf":{…}}]}` — `conf`
  * holds params and learned state keyed by field name; JSON only, no Java
  * serialization, so artifacts are inspectable and diffable.
  *
  * Caveats (documented, enforced by error):
  *  - `MathFeatures` columns are persisted as `expression.sql` and re-parsed
  *    with `expr(…)` on load — any SQL-expressible Column round-trips;
  *  - a loaded `DropHighPSIFeatures` carries its learned drop set but no
  *    reference DataFrame: `transform` works, re-`fit` does not.
  *
  * ModelIO also owns the DIRECTORY ARTIFACT format every table-carrying
  * `graft.ops` model persists in (Dedup's `NearDupIndex`,
  * `ContaminationIndex` and `KeyIndex`, Retrieval's `Bm25Index`, the
  * LangId, LM, classifier and DSIR models; BPE's table-less `BpeModel`):
  *  - layout: named parquet tables plus one compact JSON record
  *    `{"version":V,…}` — `params.json`, or `bpe.json` for BPE;
  *  - commit: the tables are written first, then the record goes to a
  *    temp file atomically moved over the old one, so a reader (or a
  *    crash) sees the previous record or the new one, never a torn one;
  *  - generations: an appendable index keeps each fit/append batch's
  *    tables under `gen-NNNNN/`, and the record's `generations` array
  *    names the live ones — a crash mid-append leaves an orphan
  *    generation no record names (ignored by load, reaped by compaction),
  *    and a retried append commits exactly once;
  *  - single writer: an append is an unlocked read-modify-write of the
  *    record, so serialize writers; readers are unrestricted;
  *  - save a LOADED model only to a NEW directory: its tables lazily read
  *    the directory they were loaded from, and Spark rejects overwriting
  *    a path that is also being read (re-fitting is the refresh path, not
  *    load-edit-save-in-place).
  */
object ModelIO {

  private val Version = 1

  def save(pipeline: Pipeline, path: String): Unit =
    Files.writeString(Paths.get(path), toJsonString(pipeline))

  def load(spark: org.apache.spark.sql.SparkSession, path: String): Pipeline =
    fromJsonString(Files.readString(Paths.get(path)))

  def toJsonString(pipeline: Pipeline): String =
    JsonMethods.pretty(JsonMethods.render(toJson(pipeline)))

  def fromJsonString(json: String): Pipeline =
    fromJson(JsonMethods.parse(json))

  // ───────────────────────────── encode ─────────────────────────────

  private def jStrs(xs: Iterable[String]): JValue = JArray(xs.map(JString(_)).toList)
  private def jSortedSet(xs: Set[String]): JValue = jStrs(xs.toSeq.sorted)
  private def jDoubleMap(m: Map[String, Double]): JValue =
    JObject(m.toList.sortBy(_._1).map { case (k, v) => k -> JDouble(v) })
  private def jStrMap(m: Map[String, String]): JValue =
    JObject(m.toList.sortBy(_._1).map { case (k, v) => k -> JString(v) })

  private def jIntervals(m: Map[String, Seq[(Double, Double, String)]]): JValue =
    JObject(m.toList.sortBy(_._1).map { case (c, ivs) =>
      c -> JArray(ivs.toList.map { case (lo, hi, lbl) =>
        JArray(List(JDouble(lo), JDouble(hi), JString(lbl)))
      })
    })

  private def obj(tpe: String, fields: (String, JValue)*): JObject =
    JObject(("type" -> JString(tpe)) :: fields.toList)

  private def encode(t: Transformer): JObject = t match {
    // ── imputation ──
    case x: MeanMedianImputer =>
      obj("MeanMedianImputer", "columns" -> jStrs(x.columns),
        "strategy" -> JString(x.strategy), "exact" -> JBool(x.exact),
        "imputeValues" -> jDoubleMap(x.imputeValues), "fitted" -> JBool(x.isFitted))
    case x: ArbitraryNumberImputer =>
      obj("ArbitraryNumberImputer", "columns" -> jStrs(x.columns),
        "number" -> JDouble(x.number))
    case x: EndTailImputer =>
      obj("EndTailImputer", "columns" -> jStrs(x.columns),
        "percentile" -> JDouble(x.percentile), "exact" -> JBool(x.exact),
        "imputeValues" -> jDoubleMap(x.imputeValues), "fitted" -> JBool(x.isFitted))
    case x: CategoricalImputer =>
      obj("CategoricalImputer", "columns" -> jStrs(x.columns),
        "default" -> x.default.map(JString(_)).getOrElse(JNothing),
        "imputeValues" -> jStrMap(x.imputeValues), "fitted" -> JBool(x.isFitted))
    case x: AddMissingIndicator =>
      obj("AddMissingIndicator", "columns" -> jStrs(x.columns),
        "suffix" -> JString(x.suffix))
    case x: DropMissingData =>
      obj("DropMissingData", "columns" -> jStrs(x.columns))

    // ── categorical ──
    case x: OneHotEncoder =>
      obj("OneHotEncoder", "columns" -> jStrs(x.columns),
        "categories" -> JObject(x.categories.toList.sortBy(_._1)
          .map { case (c, cats) => c -> jStrs(cats) }),
        "fitted" -> JBool(x.isFitted))
    case x: CountFrequencyEncoder =>
      obj("CountFrequencyEncoder", "columns" -> jStrs(x.columns),
        "countMaps" -> JObject(x.countMaps.toList.sortBy(_._1).map { case (c, m) =>
          c -> JObject(m.toList.sortBy(_._1).map { case (k, v) => k -> JLong(v) })
        }),
        "fitted" -> JBool(x.isFitted))
    case x: OrdinalEncoder =>
      obj("OrdinalEncoder", "columns" -> jStrs(x.columns),
        "ordinals" -> JObject(x.ordinals.toList.sortBy(_._1).map { case (c, ps) =>
          c -> JArray(ps.toList.map { case (k, v) =>
            JArray(List(JString(k), JLong(v))) })
        }),
        "fitted" -> JBool(x.isFitted))
    case x: MeanEncoder =>
      obj("MeanEncoder", "columns" -> jStrs(x.columns),
        "target" -> JString(x.target),
        "meanMaps" -> JObject(x.meanMaps.toList.sortBy(_._1).map { case (c, ps) =>
          c -> JArray(ps.toList.map { case (k, v) =>
            JArray(List(JString(k), JDouble(v))) })
        }),
        "fitted" -> JBool(x.isFitted))
    case x: WoEEncoder =>
      obj("WoEEncoder", "columns" -> jStrs(x.columns),
        "target" -> JString(x.target),
        "woeMaps" -> JObject(x.woeMaps.toList.sortBy(_._1).map { case (c, ps) =>
          c -> JArray(ps.toList.map { case (k, v) =>
            JArray(List(JString(k), JDouble(v))) })
        }),
        "fitted" -> JBool(x.isFitted))
    case x: RareLabelEncoder =>
      obj("RareLabelEncoder", "columns" -> jStrs(x.columns),
        "threshold" -> JDouble(x.threshold), "rareLabel" -> JString(x.rareLabel),
        "rareCategories" -> JObject(x.rareCategories.toList.sortBy(_._1)
          .map { case (c, s) => c -> jSortedSet(s) }),
        "fitted" -> JBool(x.isFitted))

    // ── discretization ──
    case x: ArbitraryDiscretizer =>
      obj("ArbitraryDiscretizer", "intervals" -> jIntervals(x.intervals))
    case x: EqualFrequencyDiscretizer =>
      obj("EqualFrequencyDiscretizer", "columns" -> jStrs(x.columns),
        "bins" -> JInt(x.bins), "exact" -> JBool(x.exact),
        "mapping" -> jIntervals(x.mapping), "fitted" -> JBool(x.isFitted))
    case x: EqualWidthDiscretizer =>
      obj("EqualWidthDiscretizer", "columns" -> jStrs(x.columns),
        "bins" -> JInt(x.bins),
        "mapping" -> jIntervals(x.mapping), "fitted" -> JBool(x.isFitted))
    case x: GeometricWidthDiscretizer =>
      obj("GeometricWidthDiscretizer", "columns" -> jStrs(x.columns),
        "bins" -> JInt(x.bins),
        "mapping" -> jIntervals(x.mapping), "fitted" -> JBool(x.isFitted))

    // ── outliers ──
    case x: ArbitraryOutlierCapper =>
      obj("ArbitraryOutlierCapper",
        "bounds" -> JObject(x.bounds.toList.sortBy(_._1).map { case (c, (lo, hi)) =>
          c -> JArray(List(
            lo.map(JDouble(_)).getOrElse(JNull), hi.map(JDouble(_)).getOrElse(JNull)))
        }))
    case x: Winsorizer =>
      obj("Winsorizer", "columns" -> jStrs(x.columns),
        "lowerPercentile" -> JDouble(x.lowerPercentile),
        "upperPercentile" -> JDouble(x.upperPercentile), "exact" -> JBool(x.exact),
        "boundsLearned" -> JObject(x.boundsLearned.toList.sortBy(_._1)
          .map { case (c, (lo, hi)) => c -> JArray(List(JDouble(lo), JDouble(hi))) }),
        "fitted" -> JBool(x.isFitted))
    case x: OutlierTrimmer =>
      obj("OutlierTrimmer", "columns" -> jStrs(x.columns),
        "lowerPercentile" -> JDouble(x.lowerPercentile),
        "upperPercentile" -> JDouble(x.upperPercentile), "exact" -> JBool(x.exact),
        "boundsLearned" -> JObject(x.boundsLearned.toList.sortBy(_._1)
          .map { case (c, (lo, hi)) => c -> JArray(List(JDouble(lo), JDouble(hi))) }),
        "fitted" -> JBool(x.isFitted))

    // ── scaling ──
    case x: StandardScaler =>
      obj("StandardScaler", "columns" -> jStrs(x.columns),
        "stats" -> JObject(x.stats.toList.sortBy(_._1)
          .map { case (c, (m, s)) => c -> JArray(List(JDouble(m), JDouble(s))) }),
        "fitted" -> JBool(x.isFitted))
    case x: MinMaxScaler =>
      obj("MinMaxScaler", "columns" -> jStrs(x.columns),
        "stats" -> JObject(x.stats.toList.sortBy(_._1)
          .map { case (c, (lo, hi)) => c -> JArray(List(JDouble(lo), JDouble(hi))) }),
        "fitted" -> JBool(x.isFitted))
    case x: RobustScaler =>
      obj("RobustScaler", "columns" -> jStrs(x.columns), "exact" -> JBool(x.exact),
        "stats" -> JObject(x.stats.toList.sortBy(_._1).map { case (c, (a, b, cc)) =>
          c -> JArray(List(JDouble(a), JDouble(b), JDouble(cc))) }),
        "fitted" -> JBool(x.isFitted))

    // ── numerical (stateless) ──
    case x: LogCpTransformer =>
      obj("LogCpTransformer", "columns" -> jStrs(x.columns), "c" -> JDouble(x.c))
    case x: LogTransformer => obj("LogTransformer", "columns" -> jStrs(x.columns))
    case x: ReciprocalTransformer =>
      obj("ReciprocalTransformer", "columns" -> jStrs(x.columns))
    case x: PowerTransformer =>
      obj("PowerTransformer", "columns" -> jStrs(x.columns), "power" -> JDouble(x.power))
    case x: BoxCoxTransformer =>
      obj("BoxCoxTransformer", "columns" -> jStrs(x.columns), "lambda" -> JDouble(x.lambda))
    case x: YeoJohnsonTransformer =>
      obj("YeoJohnsonTransformer", "columns" -> jStrs(x.columns),
        "lambda" -> JDouble(x.lambda))
    case x: ArcsinTransformer => obj("ArcsinTransformer", "columns" -> jStrs(x.columns))

    // ── creation ──
    case x: MathFeatures =>
      // the column's Catalyst expression as re-parseable SQL (expr() on
      // load); any SQL-expressible column round-trips (scaladoc caveat)
      obj("MathFeatures", "features" -> JArray(x.features.toList.map { case (n, c) =>
        JArray(List(JString(n),
          JString(org.apache.spark.sql.graft.ColumnSqlBridge.sql(c))))
      }))
    case x: RelativeFeatures =>
      obj("RelativeFeatures", "features" -> JArray(x.features.toList.map {
        case (n, t2, r, op) =>
          JArray(List(JString(n), JString(t2), JString(r), JString(op.toString)))
      }))
    case x: CyclicalFeatures =>
      obj("CyclicalFeatures", "features" -> JArray(x.features.toList.map {
        case (n, src, period, fn) =>
          JArray(List(JString(n), JString(src), JDouble(period), JString(fn.toString)))
      }))

    // ── datetime ──
    case x: DatetimeFeatures => obj("DatetimeFeatures", "columns" -> jStrs(x.columns))
    case x: DatetimeSubtraction =>
      obj("DatetimeSubtraction", "features" -> JArray(x.features.toList.map {
        case (n, l, r, u) =>
          JArray(List(JString(n), JString(l), JString(r), JString(u.toString)))
      }))

    // ── selection ──
    case x: DropFeatures => obj("DropFeatures", "features" -> jStrs(x.features))
    case x: DropConstantFeatures =>
      obj("DropConstantFeatures", "numericThreshold" -> JDouble(x.numericThreshold),
        "categoricalThreshold" -> JLong(x.categoricalThreshold),
        "dropColumns" -> jSortedSet(x.dropColumns), "fitted" -> JBool(x.isFitted))
    case x: DropDuplicateFeatures =>
      obj("DropDuplicateFeatures",
        "dropColumns" -> jSortedSet(x.dropColumns), "fitted" -> JBool(x.isFitted))
    case x: DropCorrelatedFeatures =>
      obj("DropCorrelatedFeatures", "threshold" -> JDouble(x.threshold),
        "dropColumns" -> jSortedSet(x.dropColumns), "fitted" -> JBool(x.isFitted))
    case x: SmartCorrelatedSelection =>
      obj("SmartCorrelatedSelection", "threshold" -> JDouble(x.threshold),
        "selectedFeatures" -> jSortedSet(x.selectedFeatures), "fitted" -> JBool(x.isFitted))
    case x: DropHighPSIFeatures =>
      obj("DropHighPSIFeatures", "psiThreshold" -> JDouble(x.psiThreshold),
        "dropColumns" -> jSortedSet(x.dropColumns), "fitted" -> JBool(x.isFitted))
    case x: SelectByInformationValue =>
      obj("SelectByInformationValue", "target" -> JString(x.target),
        "ivThreshold" -> JDouble(x.ivThreshold),
        "selectedFeatures" -> jSortedSet(x.selectedFeatures), "fitted" -> JBool(x.isFitted))
    case x: SelectBySingleFeaturePerformance =>
      obj("SelectBySingleFeaturePerformance", "target" -> JString(x.target),
        "correlationThreshold" -> JDouble(x.correlationThreshold),
        "selectedFeatures" -> jSortedSet(x.selectedFeatures), "fitted" -> JBool(x.isFitted))
    case x: SelectByTargetMeanPerformance =>
      obj("SelectByTargetMeanPerformance", "target" -> JString(x.target),
        "meanDiffThreshold" -> JDouble(x.meanDiffThreshold),
        "selectedFeatures" -> jSortedSet(x.selectedFeatures), "fitted" -> JBool(x.isFitted))
    case x: MRMR =>
      obj("MRMR", "target" -> JString(x.target),
        "relevanceThreshold" -> JDouble(x.relevanceThreshold),
        "redundancyThreshold" -> JDouble(x.redundancyThreshold),
        "selectedFeatures" -> jSortedSet(x.selectedFeatures), "fitted" -> JBool(x.isFitted))

    case other =>
      throw InvalidParameter(
        s"ModelIO cannot serialize transformer type ${other.getClass.getName}")
  }

  def toJson(pipeline: Pipeline): JValue =
    JObject(
      "version" -> JInt(Version),
      "steps" -> JArray(pipeline.steps.toList.map { case (name, t) =>
        JObject("name" -> JString(name), "conf" -> encode(t))
      }))

  // ───────────────────────────── decode ─────────────────────────────

  private def fail(msg: String): Nothing = throw InvalidParameter(s"ModelIO: $msg")

  private def arr(j: JValue): List[JValue] = j match {
    case JArray(xs) => xs; case _ => fail(s"expected array, got $j")
  }
  private def str(j: JValue): String = j match {
    case JString(s) => s; case _ => fail(s"expected string, got $j")
  }
  /** Lenient JSON-number extraction, shared with the ops-model loaders
    * ([[graft.ops.Similarity.IvfModel]] etc.): this library writes doubles,
    * but external producers round-trip whole numbers as ints (Python
    * json.dump, minifiers) and json4s parses those as JInt/JLong/JDecimal. */
  private[graft] def dbl(j: JValue): Double = j match {
    case JDouble(d) => d
    case JInt(i) => i.toDouble
    case JLong(l) => l.toDouble
    case JDecimal(d) => d.toDouble
    case _ => fail(s"expected number, got $j")
  }
  /** Integer-preserving counterpart of [[dbl]] for EXACT count fields
    * (e.g. the BM25 index's (n, tokens) totals, whose append/avgdl
    * bit-parity contract breaks if a > 2⁵³ total round-trips through
    * Double). */
  private[graft] def lng(j: JValue): Long = j match {
    case JInt(i) => i.toLong
    case JLong(l) => l
    case _ => fail(s"expected integer, got $j")
  }
  private def bool(j: JValue): Boolean = j match {
    case JBool(b) => b; case _ => fail(s"expected boolean, got $j")
  }
  private def fields(j: JValue): List[(String, JValue)] = j match {
    case JObject(fs) => fs; case _ => fail(s"expected object, got $j")
  }

  private def strSeq(j: JValue): Seq[String] = arr(j).map(str)
  private def strSet(j: JValue): Set[String] = arr(j).map(str).toSet
  private def doubleMap(j: JValue): Map[String, Double] =
    fields(j).map { case (k, v) => k -> dbl(v) }.toMap
  private def strMap(j: JValue): Map[String, String] =
    fields(j).map { case (k, v) => k -> str(v) }.toMap
  private def intervals(j: JValue): Map[String, Seq[(Double, Double, String)]] =
    fields(j).map { case (c, ivs) =>
      c -> arr(ivs).map(iv => arr(iv) match {
        case List(lo, hi, lbl) => (dbl(lo), dbl(hi), str(lbl))
        case other => fail(s"bad interval $other")
      })
    }.toMap
  private def boundsMap(j: JValue): Map[String, (Double, Double)] =
    fields(j).map { case (c, b) => arr(b) match {
      case List(lo, hi) => c -> (dbl(lo), dbl(hi))
      case other => fail(s"bad bounds $other")
    }}.toMap

  private def restore[T <: StatefulTransformer](t: T, conf: JValue)(load: T => Unit): T = {
    load(t)
    if (bool(conf \ "fitted")) t.markFitted()
    t
  }

  private def decode(conf: JValue): Transformer = {
    def f(name: String): JValue = conf \ name
    str(conf \ "type") match {
      case "MeanMedianImputer" =>
        restore(new MeanMedianImputer(strSeq(f("columns")), str(f("strategy")),
          bool(f("exact"))), conf)(_.imputeValues = doubleMap(f("imputeValues")))
      case "ArbitraryNumberImputer" =>
        new ArbitraryNumberImputer(strSeq(f("columns")), dbl(f("number")))
      case "EndTailImputer" =>
        restore(new EndTailImputer(strSeq(f("columns")), dbl(f("percentile")),
          bool(f("exact"))), conf)(_.imputeValues = doubleMap(f("imputeValues")))
      case "CategoricalImputer" =>
        restore(new CategoricalImputer(strSeq(f("columns")),
          f("default") match { case JNothing | JNull => None; case v => Some(str(v)) }),
          conf)(_.imputeValues = strMap(f("imputeValues")))
      case "AddMissingIndicator" =>
        new AddMissingIndicator(strSeq(f("columns")), str(f("suffix")))
      case "DropMissingData" => new DropMissingData(strSeq(f("columns")))

      case "OneHotEncoder" =>
        restore(new OneHotEncoder(strSeq(f("columns"))), conf)(
          _.categories = fields(f("categories"))
            .map { case (c, v) => c -> strSeq(v) }.toMap)
      case "CountFrequencyEncoder" =>
        restore(new CountFrequencyEncoder(strSeq(f("columns"))), conf)(
          _.countMaps = fields(f("countMaps")).map { case (c, m) =>
            c -> fields(m).map { case (k, v) => k -> lng(v) }.toMap
          }.toMap)
      case "OrdinalEncoder" =>
        restore(new OrdinalEncoder(strSeq(f("columns"))), conf)(
          _.ordinals = fields(f("ordinals")).map { case (c, ps) =>
            c -> arr(ps).map(p => arr(p) match {
              case List(k, v) => (str(k), lng(v))
              case other => fail(s"bad ordinal $other")
            })
          }.toMap)
      case "MeanEncoder" =>
        restore(new MeanEncoder(strSeq(f("columns")), str(f("target"))), conf)(
          _.meanMaps = fields(f("meanMaps")).map { case (c, ps) =>
            c -> arr(ps).map(p => arr(p) match {
              case List(k, v) => (str(k), dbl(v))
              case other => fail(s"bad mean entry $other")
            })
          }.toMap)
      case "WoEEncoder" =>
        restore(new WoEEncoder(strSeq(f("columns")), str(f("target"))), conf)(
          _.woeMaps = fields(f("woeMaps")).map { case (c, ps) =>
            c -> arr(ps).map(p => arr(p) match {
              case List(k, v) => (str(k), dbl(v))
              case other => fail(s"bad woe entry $other")
            })
          }.toMap)
      case "RareLabelEncoder" =>
        restore(new RareLabelEncoder(strSeq(f("columns")), dbl(f("threshold")),
          str(f("rareLabel"))), conf)(
          _.rareCategories = fields(f("rareCategories"))
            .map { case (c, s) => c -> strSet(s) }.toMap)

      case "ArbitraryDiscretizer" => new ArbitraryDiscretizer(intervals(f("intervals")))
      case "EqualFrequencyDiscretizer" =>
        restore(new EqualFrequencyDiscretizer(strSeq(f("columns")),
          lng(f("bins")).toInt, bool(f("exact"))), conf)(
          _.mapping = intervals(f("mapping")))
      case "EqualWidthDiscretizer" =>
        restore(new EqualWidthDiscretizer(strSeq(f("columns")), lng(f("bins")).toInt),
          conf)(_.mapping = intervals(f("mapping")))
      case "GeometricWidthDiscretizer" =>
        restore(new GeometricWidthDiscretizer(strSeq(f("columns")), lng(f("bins")).toInt),
          conf)(_.mapping = intervals(f("mapping")))

      case "ArbitraryOutlierCapper" =>
        new ArbitraryOutlierCapper(fields(f("bounds")).map { case (c, b) =>
          arr(b) match {
            case List(lo, hi) =>
              c -> (
                (lo match { case JNull => None; case v => Some(dbl(v)) }),
                (hi match { case JNull => None; case v => Some(dbl(v)) }))
            case other => fail(s"bad capper bounds $other")
          }
        }.toMap)
      case "Winsorizer" =>
        restore(new Winsorizer(strSeq(f("columns")), dbl(f("lowerPercentile")),
          dbl(f("upperPercentile")), bool(f("exact"))), conf)(
          _.boundsLearned = boundsMap(f("boundsLearned")))
      case "OutlierTrimmer" =>
        restore(new OutlierTrimmer(strSeq(f("columns")), dbl(f("lowerPercentile")),
          dbl(f("upperPercentile")), bool(f("exact"))), conf)(
          _.boundsLearned = boundsMap(f("boundsLearned")))

      case "StandardScaler" =>
        restore(new StandardScaler(strSeq(f("columns"))), conf)(
          _.stats = boundsMap(f("stats")))
      case "MinMaxScaler" =>
        restore(new MinMaxScaler(strSeq(f("columns"))), conf)(
          _.stats = boundsMap(f("stats")))
      case "RobustScaler" =>
        restore(new RobustScaler(strSeq(f("columns")), bool(f("exact"))), conf)(
          _.stats = fields(f("stats")).map { case (c, b) => arr(b) match {
            case List(a, m, q) => c -> (dbl(a), dbl(m), dbl(q))
            case other => fail(s"bad robust stats $other")
          }}.toMap)

      case "LogTransformer" => new LogTransformer(strSeq(f("columns")))
      case "LogCpTransformer" => new LogCpTransformer(strSeq(f("columns")), dbl(f("c")))
      case "ReciprocalTransformer" => new ReciprocalTransformer(strSeq(f("columns")))
      case "PowerTransformer" => new PowerTransformer(strSeq(f("columns")), dbl(f("power")))
      case "BoxCoxTransformer" => new BoxCoxTransformer(strSeq(f("columns")), dbl(f("lambda")))
      case "YeoJohnsonTransformer" =>
        new YeoJohnsonTransformer(strSeq(f("columns")), dbl(f("lambda")))
      case "ArcsinTransformer" => new ArcsinTransformer(strSeq(f("columns")))

      case "MathFeatures" =>
        new MathFeatures(arr(f("features")).map(p => arr(p) match {
          case List(n, sql) => (str(n), expr(str(sql)))
          case other => fail(s"bad math feature $other")
        }))
      case "RelativeFeatures" =>
        new RelativeFeatures(arr(f("features")).map(p => arr(p) match {
          case List(n, t2, r, op) => (str(n), str(t2), str(r), RelativeOp.withName(str(op)))
          case other => fail(s"bad relative feature $other")
        }))
      case "CyclicalFeatures" =>
        new CyclicalFeatures(arr(f("features")).map(p => arr(p) match {
          case List(n, src, period, fn) =>
            (str(n), str(src), dbl(period), CyclicalFn.withName(str(fn)))
          case other => fail(s"bad cyclical feature $other")
        }))

      case "DatetimeFeatures" => new DatetimeFeatures(strSeq(f("columns")))
      case "DatetimeSubtraction" =>
        new DatetimeSubtraction(arr(f("features")).map(p => arr(p) match {
          case List(n, l, r, u) => (str(n), str(l), str(r), TimeUnit.withName(str(u)))
          case other => fail(s"bad datetime feature $other")
        }))

      case "DropFeatures" => new DropFeatures(strSeq(f("features")))
      case "DropConstantFeatures" =>
        restore(new DropConstantFeatures(dbl(f("numericThreshold")),
          lng(f("categoricalThreshold"))), conf)(_.dropColumns = strSet(f("dropColumns")))
      case "DropDuplicateFeatures" =>
        restore(new DropDuplicateFeatures(), conf)(_.dropColumns = strSet(f("dropColumns")))
      case "DropCorrelatedFeatures" =>
        restore(new DropCorrelatedFeatures(dbl(f("threshold"))), conf)(
          _.dropColumns = strSet(f("dropColumns")))
      case "SmartCorrelatedSelection" =>
        restore(new SmartCorrelatedSelection(dbl(f("threshold"))), conf)(
          _.selectedFeatures = strSet(f("selectedFeatures")))
      case "DropHighPSIFeatures" =>
        restore(new DropHighPSIFeatures(null, dbl(f("psiThreshold"))), conf)(
          _.dropColumns = strSet(f("dropColumns")))
      case "SelectByInformationValue" =>
        restore(new SelectByInformationValue(str(f("target")), dbl(f("ivThreshold"))),
          conf)(_.selectedFeatures = strSet(f("selectedFeatures")))
      case "SelectBySingleFeaturePerformance" =>
        restore(new SelectBySingleFeaturePerformance(str(f("target")),
          dbl(f("correlationThreshold"))), conf)(
          _.selectedFeatures = strSet(f("selectedFeatures")))
      case "SelectByTargetMeanPerformance" =>
        restore(new SelectByTargetMeanPerformance(str(f("target")),
          dbl(f("meanDiffThreshold"))), conf)(
          _.selectedFeatures = strSet(f("selectedFeatures")))
      case "MRMR" =>
        restore(new MRMR(str(f("target")), dbl(f("relevanceThreshold")),
          dbl(f("redundancyThreshold"))), conf)(
          _.selectedFeatures = strSet(f("selectedFeatures")))

      case other => fail(s"unknown transformer type '$other'")
    }
  }

  def fromJson(j: JValue): Pipeline = {
    val version = lng(j \ "version")
    if (version != Version) fail(s"unsupported model version $version")
    new Pipeline(arr(j \ "steps").map { s =>
      (str(s \ "name"), decode(s \ "conf"))
    })
  }

  // ──────────────────── ops directory artifacts ────────────────────

  private val RecordFile = "params.json"

  /** Saves a directory artifact: `tables` as parquet under `dir`, then
    * the `{"version":…, fields…}` record committed as `file`. */
  private[graft] def saveArtifact(
      dir: String,
      version: Int,
      fields: Seq[(String, JValue)],
      tables: Seq[(String, DataFrame)] = Nil,
      file: String = RecordFile): Unit = {
    writeTables(Paths.get(dir), tables)
    commitRecord(Paths.get(dir), file, version, fields)
  }

  private[graft] def readRecord(dir: String, file: String = RecordFile): JValue =
    JsonMethods.parse(Files.readString(Paths.get(dir).resolve(file)))

  private[graft] def readTable(spark: SparkSession, dir: String, table: String): DataFrame =
    spark.read.parquet(Paths.get(dir).resolve(table).toString)

  private def writeTables(dir: Path, tables: Seq[(String, DataFrame)]): Unit = {
    Files.createDirectories(dir)
    tables.foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(dir.resolve(name).toString)
    }
  }

  /** The COMMIT: temp file + atomic move over the previous record. */
  private def commitRecord(
      dir: Path, file: String, version: Int, fields: Seq[(String, JValue)]): Unit = {
    val tmp = dir.resolve(s"$file.tmp")
    Files.writeString(tmp, JsonMethods.compact(JsonMethods.render(
      JObject(("version" -> JInt(version)) :: fields.toList))))
    Files.move(tmp, dir.resolve(file),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  /** A generational artifact's committed state: its record and the live
    * generations the record names. */
  private[graft] final case class Generations(dir: String, record: JValue, live: Seq[String]) {
    /** `table` across every live generation, as one relation. */
    def table(spark: SparkSession, table: String): DataFrame =
      spark.read.parquet(live.map(g => Paths.get(dir, g, table).toString): _*)
  }

  /** Reads the committed state of the generational artifact at `dir`
    * (the record only — no table is touched); `kind` names the artifact
    * in the error a record without generations raises. */
  private[graft] def readGenerations(dir: String, kind: String): Generations = {
    val record = readRecord(dir)
    val live = record \ "generations" match {
      case JArray(xs) if xs.nonEmpty => xs.collect { case JString(g) => g }
      case _ => throw InvalidParameter(
        s"$dir/$RecordFile names no generations — not a (healthy) $kind")
    }
    Generations(dir, record, live)
  }

  /** Writes `tables` as the generation after `committed` — numbered from
    * the COMMITTED set, so orphans don't count and an uncommitted
    * directory in the way is overwritten — then commits the record naming
    * `committed` plus it. With `compact` the record names the new
    * generation alone, and every other generation directory (orphans
    * included) is deleted after the commit. */
  private[graft] def writeGeneration(
      dir: String,
      committed: Seq[String],
      version: Int,
      fields: Seq[(String, JValue)],
      tables: Seq[(String, DataFrame)],
      compact: Boolean = false): Unit = {
    val p = Paths.get(dir)
    val gen = f"gen-${committed.map(_.stripPrefix("gen-").toInt).maxOption.fold(0)(_ + 1)}%05d"
    writeTables(p.resolve(gen), tables)
    val live = if (compact) Seq(gen) else committed :+ gen
    commitRecord(p, RecordFile, version,
      fields :+ ("generations" -> JArray(live.map(JString(_)).toList)))
    if (compact)
      // Files.list / Files.walk are must-close resources
      scala.util.Using.resource(Files.list(p)) { children =>
        children.forEach { child =>
          val name = child.getFileName.toString
          if (name.startsWith("gen-") && name != gen)
            scala.util.Using.resource(Files.walk(child)) { files =>
              files.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
            }
        }
      }
  }
}
