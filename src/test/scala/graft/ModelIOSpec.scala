package graft

import org.apache.spark.sql.functions._
import graft.core._
import graft.errors.FeatureFactoryException._
import graft.transformers._

/** Fitted-pipeline persistence: JSON round trip must preserve both the
  * constructor parameters and every learned parameter, so the restored
  * pipeline's transform output is IDENTICAL to the original's. */
class ModelIOSpec extends SparkSpec {

  private lazy val base = spark.read
    .parquet("/root/testdata/sf0.001/lineitem.parquet")
    .select(
      col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
      col("l_shipdate"),
      when(col("l_orderkey") % 7 === 0, lit(null).cast("double"))
        .otherwise(col("l_quantity")).as("qty"),
      col("l_extendedprice"), col("l_discount"))

  test("a fitted pipeline with every stateful family round-trips exactly") {
    val pipe = new Pipeline(Seq(
      "impute" -> new MeanMedianImputer(Seq("qty"), "mean"),
      "indicator" -> new AddMissingIndicator(Seq("qty")),
      "catimp" -> new CategoricalImputer(Seq("l_returnflag")),
      "onehot" -> new OneHotEncoder(Seq("l_returnflag")),
      "count" -> new CountFrequencyEncoder(Seq("l_returnflag")),
      "winsor" -> new Winsorizer(Seq("l_extendedprice"), 0.05, 0.95, exact = true),
      "math" -> new MathFeatures(Seq(
        "disc_price" -> (col("l_extendedprice") * (lit(1.0) - col("l_discount"))))),
      "cyc" -> new CyclicalFeatures(Seq(("d_sin", "l_discount", 0.1, CyclicalFn.Sin))),
      "rel" -> new RelativeFeatures(Seq(
        ("ratio", "l_extendedprice", "qty", RelativeOp.Ratio))),
      "disc" -> new EqualWidthDiscretizer(Seq("qty"), 4),
      "dt" -> new DatetimeFeatures(Seq("l_shipdate")),
      "log" -> new LogTransformer(Seq("l_extendedprice")),
      "std" -> new StandardScaler(Seq("l_discount")),
      "minmax" -> new MinMaxScaler(Seq("l_extendedprice")),
      "robust" -> new RobustScaler(Seq("l_extendedprice"), exact = true),
      "selconst" -> new DropConstantFeatures(1e-12, 0L),
    ))
    val expected = pipe.fit(base) // fits every step
    val json = ModelIO.toJsonString(pipe)
    val loaded = ModelIO.fromJsonString(json)
    loaded.steps.map(_._1) shouldBe pipe.steps.map(_._1)
    val actual = loaded.transform(base)
    actual.columns.toSeq shouldBe expected.columns.toSeq
    actual.exceptAll(expected).count() shouldBe 0
    expected.exceptAll(actual).count() shouldBe 0
    // and a second round trip is byte-stable (canonical field order)
    ModelIO.toJsonString(ModelIO.fromJsonString(json)) shouldBe json
  }

  test("selection, outliers, encoders with learned state survive the trip") {
    val df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").select(
      col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
      col("l_quantity"), (col("l_quantity") * 2.0).as("qty2"), col("l_discount"))
    val pipe = new Pipeline(Seq(
      "ord" -> new OrdinalEncoder(Seq("l_returnflag")),
      "trim" -> new OutlierTrimmer(Seq("l_quantity"), 0.05, 0.95, exact = true),
      "corr" -> new DropCorrelatedFeatures(0.95),
    ))
    val expected = pipe.fit(df)
    val loaded = ModelIO.fromJsonString(ModelIO.toJsonString(pipe))
    val actual = loaded.transform(df)
    actual.exceptAll(expected).count() shouldBe 0
    expected.exceptAll(actual).count() shouldBe 0
  }

  test("save/load files; unfitted stateful steps stay unfitted; bad input errors") {
    val p = java.nio.file.Files.createTempFile("graft_model", ".json").toString
    val pipe = new Pipeline(Seq("imp" -> new MeanMedianImputer(Seq("qty"), "mean")))
    ModelIO.save(pipe, p) // never fitted
    val loaded = ModelIO.load(spark, p)
    a[FitNotCalled] should be thrownBy loaded.transform(base)
    an[InvalidParameter] should be thrownBy
      ModelIO.fromJsonString("""{"version":99,"steps":[]}""")
    an[InvalidParameter] should be thrownBy
      ModelIO.fromJsonString(
        """{"version":1,"steps":[{"name":"x","conf":{"type":"NoSuchThing"}}]}""")
  }

  test("fitted ops artifacts (IVF, PCA, outlier stats) round-trip through files") {
    import graft.ops.Similarity
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft_ops_models")

    // IVF: centroids survive exactly; apply-only search over the loaded
    // model equals the fit-inline search
    val ivf = Similarity.ivfFit(e, "embedding", nlist = 4)
    ivf.save(s"$dir/ivf.json")
    val ivf2 = Similarity.IvfModel.load(s"$dir/ivf.json")
    ivf2 shouldBe ivf
    val q = e.select(col("embedding")).head().getSeq[Float](0).map(_.toDouble).toSeq
    val direct = Similarity.ivfTopK(e, "vec_id", "embedding", q, 5, ivf,
      nprobe = 2, forceBroadcastAssign = false).collect().map(_.getLong(0)).toSeq
    val viaLoad = Similarity.ivfTopK(e, "vec_id", "embedding", q, 5, ivf2,
      nprobe = 2, forceBroadcastAssign = false).collect().map(_.getLong(0)).toSeq
    viaLoad shouldBe direct

    // PCA: model fields survive exactly; loaded projection is identical
    val pca = Similarity.pcaFit(e, "embedding", 3, inDim = 64)
    pca.save(s"$dir/pca.json")
    val pca2 = Similarity.PcaModel.load(s"$dir/pca.json")
    pca2 shouldBe pca
    val p1 = Similarity.pcaProject(e, "embedding", pca).select("embedding_pca")
    val p2 = Similarity.pcaProject(e, "embedding", pca2).select("embedding_pca")
    p1.exceptAll(p2).count() shouldBe 0

    // Outlier stats: loaded filter flags the same rows
    val st = Similarity.embeddingOutlierStats(e, "embedding")
    st.save(s"$dir/outliers.json")
    val st2 = Similarity.OutlierStats.load(s"$dir/outliers.json")
    st2 shouldBe st
    val o1 = Similarity.embeddingOutliers(e, "vec_id", "embedding", 1.5, st)
      .collect().map(_.getLong(0)).toSet
    val o2 = Similarity.embeddingOutliers(e, "vec_id", "embedding", 1.5, st2)
      .collect().map(_.getLong(0)).toSet
    o2 shouldBe o1
  }

  test("every transformer in the persistence registry round-trips and transforms identically") {
    val df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select(
        col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        col("l_shipdate"), col("l_shipdate").as("ship2"),
        (col("l_orderkey") % 2).cast("double").as("target"),
        when(col("l_orderkey") % 7 === 0, lit(null).cast("double"))
          .otherwise(col("l_quantity")).as("qty"),
        col("l_quantity").as("qty2"),
        col("l_extendedprice").as("price"), // strictly positive
        (col("l_discount") / lit(2.0) + lit(0.1)).as("unit")) // in (0, 1), nonzero
      .limit(3000)
    val ref = df.limit(1000)
    val registry: Seq[(String, () => Transformer)] = Seq(
      "MeanMedianImputer" -> (() => new MeanMedianImputer(Seq("qty"), "mean")),
      "ArbitraryNumberImputer" -> (() => new ArbitraryNumberImputer(Seq("qty"), -1.0)),
      "EndTailImputer" -> (() => new EndTailImputer(Seq("qty"), 0.75, exact = true)),
      "CategoricalImputer" -> (() => new CategoricalImputer(Seq("l_returnflag"))),
      "AddMissingIndicator" -> (() => new AddMissingIndicator(Seq("qty"))),
      "DropMissingData" -> (() => new DropMissingData(Seq("qty"))),
      "OneHotEncoder" -> (() => new OneHotEncoder(Seq("l_returnflag"))),
      "CountFrequencyEncoder" -> (() => new CountFrequencyEncoder(Seq("l_returnflag"))),
      "OrdinalEncoder" -> (() => new OrdinalEncoder(Seq("l_returnflag"))),
      "MeanEncoder" -> (() => new MeanEncoder(Seq("l_returnflag"), "target")),
      "WoEEncoder" -> (() => new WoEEncoder(Seq("l_returnflag"), "target")),
      "RareLabelEncoder" -> (() => new RareLabelEncoder(Seq("l_returnflag"), 0.2)),
      "ArbitraryDiscretizer" -> (() => new ArbitraryDiscretizer(
        Map("price" -> Seq((0.0, 50000.0, "lo"), (50000.0, 1e9, "hi"))))),
      "EqualFrequencyDiscretizer" -> (() =>
        new EqualFrequencyDiscretizer(Seq("price"), 4, exact = true)),
      "EqualWidthDiscretizer" -> (() => new EqualWidthDiscretizer(Seq("price"), 4)),
      "GeometricWidthDiscretizer" -> (() => new GeometricWidthDiscretizer(Seq("price"), 4)),
      "ArbitraryOutlierCapper" -> (() => new ArbitraryOutlierCapper(
        Map("price" -> (Some(1000.0), Some(50000.0))))),
      "Winsorizer" -> (() => new Winsorizer(Seq("price"), 0.05, 0.95, exact = true)),
      "OutlierTrimmer" -> (() => new OutlierTrimmer(Seq("price"), 0.05, 0.95, exact = true)),
      "LogTransformer" -> (() => new LogTransformer(Seq("price"))),
      "LogCpTransformer" -> (() => new LogCpTransformer(Seq("qty2"), 1.0)),
      "ReciprocalTransformer" -> (() => new ReciprocalTransformer(Seq("price"))),
      "PowerTransformer" -> (() => new PowerTransformer(Seq("price"), 0.5)),
      "BoxCoxTransformer" -> (() => new BoxCoxTransformer(Seq("price"), 0.3)),
      "YeoJohnsonTransformer" -> (() => new YeoJohnsonTransformer(Seq("qty2"), 0.7)),
      "ArcsinTransformer" -> (() => new ArcsinTransformer(Seq("unit"))),
      "MathFeatures" -> (() => new MathFeatures(Seq("dbl_qty" -> (col("qty2") * 2.0)))),
      "RelativeFeatures" -> (() => new RelativeFeatures(
        Seq(("rel", "price", "qty2", RelativeOp.Ratio)))),
      "CyclicalFeatures" -> (() => new CyclicalFeatures(
        Seq(("s", "unit", 1.0, CyclicalFn.Sin)))),
      "DatetimeFeatures" -> (() => new DatetimeFeatures(Seq("l_shipdate"))),
      "DatetimeSubtraction" -> (() => new DatetimeSubtraction(
        Seq(("dt_diff", "l_shipdate", "ship2", TimeUnit.Day)))),
      "DropFeatures" -> (() => new DropFeatures(Seq("ship2"))),
      "DropConstantFeatures" -> (() => new DropConstantFeatures(1e-12, 0L)),
      "DropDuplicateFeatures" -> (() => new DropDuplicateFeatures()),
      "DropCorrelatedFeatures" -> (() => new DropCorrelatedFeatures(0.95)),
      "SmartCorrelatedSelection" -> (() => new SmartCorrelatedSelection(0.95)),
      "DropHighPSIFeatures" -> (() => new DropHighPSIFeatures(ref, 0.2)),
      "SelectByInformationValue" -> (() => new SelectByInformationValue("target", 0.001)),
      "SelectBySingleFeaturePerformance" -> (() =>
        new SelectBySingleFeaturePerformance("target", 0.001)),
      "SelectByTargetMeanPerformance" -> (() =>
        new SelectByTargetMeanPerformance("target", 0.0)),
      "MRMR" -> (() => new MRMR("target", 0.001, 0.999)),
      "StandardScaler" -> (() => new StandardScaler(Seq("price"))),
      "MinMaxScaler" -> (() => new MinMaxScaler(Seq("price"))),
      "RobustScaler" -> (() => new RobustScaler(Seq("price"), exact = true)))
    registry.size shouldBe 44 // every class in graft.transformers
    registry.foreach { case (name, mk) =>
      withClue(s"transformer $name: ") {
        val pipe = new Pipeline(Seq(name -> mk()))
        val expected = pipe.fit(df)
        val json = ModelIO.toJsonString(pipe)
        val loaded = ModelIO.fromJsonString(json)
        val actual = loaded.transform(df)
        actual.columns.toSeq shouldBe expected.columns.toSeq
        actual.exceptAll(expected).count() shouldBe 0
        expected.exceptAll(actual).count() shouldBe 0
        ModelIO.toJsonString(loaded) shouldBe json // byte-stable re-encode
      }
    }
  }

  // ───────────── ops directory artifacts: the on-disk format pin ─────────────

  /** Every entry of an artifact directory, sorted: top-level names plus
    * `gen-NNNNN/<table>` for each generation directory (parquet tables
    * are not descended into). */
  private def layout(dir: String): Seq[String] = {
    def names(f: java.io.File): Seq[String] = f.listFiles().map(_.getName).toSeq
    val root = new java.io.File(dir)
    names(root).flatMap { n =>
      if (n.startsWith("gen-")) n +: names(new java.io.File(root, n)).map(t => s"$n/$t")
      else Seq(n)
    }.sorted
  }

  private def record(dir: String, file: String = "params.json"): org.json4s.JValue =
    org.json4s.jackson.JsonMethods.parse(
      java.nio.file.Files.readString(java.nio.file.Paths.get(dir, file)))

  private def keys(j: org.json4s.JValue): Seq[String] = j match {
    case org.json4s.JObject(fs) => fs.map(_._1)
    case other => fail(s"not a JSON object: $other")
  }

  /** One tiny fitted instance of each of the nine ops artifact types,
    * with its save. */
  private def artifacts: Seq[(String, String => Unit)] = {
    import graft.ops._
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "a completely different document about spark"),
      (3L, "the quick brown fox jumps over the lazy cat")).toDF("doc_id", "text")
    val langs = Seq((1L, "aaa ab", "xx"), (2L, "bbb ba", "yy")).toDF("doc_id", "text", "lang")
    Seq(
      "NearDupIndex" -> Dedup.nearDupIndexFit(docs, "doc_id", "text").save _,
      "Bm25Index" -> Retrieval.bm25Fit(docs, "doc_id", "text").save _,
      "ContaminationIndex" -> Dedup.contaminationFit(docs, "text", n = 3).save _,
      "KeyIndex" -> Dedup.keyIndexFit(docs, "text").save _,
      "LangIdModel" -> LangId.langIdFit(langs, "text", "lang", vocabSize = 4).save _,
      "LmModel" -> LangModel.lmFit(docs, "text", vocabSize = 8, bigramSize = 8).save _,
      "ClassifierModel" -> Classifier.classifierFit(
        docs.filter($"doc_id" =!= 2L), docs.filter($"doc_id" === 2L), "text",
        vocabSize = 8).save _,
      "DsirModel" -> Dsir.dsirFit(docs.limit(1), docs, "text", vocabSize = 8).save _,
      "BpeModel" -> Bpe.bpeFit(docs, "text", numMerges = 2).save _)
  }

  test("ops artifacts keep their on-disk format: layout, record keys, version") {
    // expected values are the format as first shipped: file names, JSON
    // keys (in order) and versions must stay byte-compatible with every
    // artifact already on disk
    val expected: Map[String, (Seq[String], String, Seq[String], Int)] = Map(
      "NearDupIndex" -> ((Seq("gen-00000", "gen-00000/feats", "gen-00000/groups",
        "params.json"), "params.json", Seq("version", "n", "numHashes", "generations"), 1)),
      "Bm25Index" -> ((Seq("gen-00000", "gen-00000/df", "gen-00000/postings",
        "params.json"), "params.json",
        Seq("version", "n", "tokens", "k1", "b", "generations"), 2)),
      "ContaminationIndex" -> ((Seq("hashes.parquet", "params.json"), "params.json",
        Seq("version", "n", "bloomHashes", "bloom"), 1)),
      "KeyIndex" -> ((Seq("keys.parquet", "params.json"), "params.json",
        Seq("version", "bloomHashes", "bloom"), 1)),
      "LangIdModel" -> ((Seq("params.json", "weights.parquet"), "params.json",
        Seq("version", "vocabSize", "numBuckets", "langs", "biases"), 1)),
      "LmModel" -> ((Seq("bigrams.parquet", "params.json", "unigrams.parquet"),
        "params.json", Seq("version", "vocabSize", "bigramSize", "total"), 1)),
      "ClassifierModel" -> ((Seq("params.json", "weights.parquet"), "params.json",
        Seq("version", "vocabSize", "numBuckets", "bias"), 1)),
      "DsirModel" -> ((Seq("params.json", "weights.parquet"), "params.json",
        Seq("version", "vocabSize"), 1)),
      "BpeModel" -> ((Seq("bpe.json"), "bpe.json", Seq("version", "merges"), 1)))
    val saved = artifacts
    saved.map(_._1).toSet shouldBe expected.keySet
    saved.foreach { case (name, save) =>
      withClue(s"$name: ") {
        val dir = java.nio.file.Files.createTempDirectory("graft_fmt").resolve("m").toString
        save(dir)
        val (files, recordFile, recordKeys, version) = expected(name)
        layout(dir) shouldBe files
        val r = record(dir, recordFile)
        keys(r) shouldBe recordKeys
        r \ "version" shouldBe org.json4s.JInt(version)
        layout(dir).filter(_.endsWith(".tmp")) shouldBe empty
      }
    }
    // the record is compact JSON: byte-exact for fully determined fields
    val dir = java.nio.file.Files.createTempDirectory("graft_fmt_bytes")
    graft.ops.Bpe.BpeModel(Seq("a" -> "b", "ab" -> "c")).save(dir.resolve("bpe").toString)
    java.nio.file.Files.readString(dir.resolve("bpe/bpe.json")) shouldBe
      """{"version":1,"merges":[["a","b"],["ab","c"]]}"""
    val s = spark
    import s.implicits._
    graft.ops.Dedup.keyIndexFit(Seq("u").toDF("url"), "url", useBloom = false)
      .save(dir.resolve("keys").toString)
    java.nio.file.Files.readString(dir.resolve("keys/params.json")) shouldBe
      """{"version":1,"bloomHashes":5,"bloom":null}"""
  }

  test("re-saving an ops artifact into the same directory replaces it atomically") {
    import graft.ops._
    val s = spark
    import s.implicits._
    val a = Seq((1L, "alpha beta gamma delta"), (2L, "beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    val b = Seq((1L, "one two three"), (2L, "three four five six"), (3L, "six seven"))
      .toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    def resave[M](fit: org.apache.spark.sql.DataFrame => M)(save: (M, String) => Unit)(
        check: (M, String) => Unit): Unit = {
      val dir = java.nio.file.Files.createTempDirectory("graft_resave").resolve("m").toString
      save(fit(a), dir)
      val mb = fit(b)
      save(mb, dir)
      check(mb, dir)
      layout(dir).filter(_.endsWith(".tmp")) shouldBe empty
    }
    resave(d => Dedup.contaminationFit(d, "text", n = 2))(_.save(_)) { (m, dir) =>
      val l = Dedup.ContaminationIndex.load(spark, dir)
      (l.n, l.bloom.map(_.toSeq)) shouldBe ((m.n, m.bloom.map(_.toSeq)))
      rows(l.hashes) shouldBe rows(m.hashes)
    }
    resave(d => Dedup.keyIndexFit(d, "text"))(_.save(_)) { (m, dir) =>
      val l = Dedup.KeyIndex.load(spark, dir)
      l.bloom.map(_.toSeq) shouldBe m.bloom.map(_.toSeq)
      rows(l.keys) shouldBe rows(m.keys)
    }
    resave(d => LangId.langIdFit(d.withColumn("lang",
      when($"doc_id" === 1L, "xx").otherwise("yy")), "text", "lang", vocabSize = 8))(
      _.save(_)) { (m, dir) =>
      val l = LangId.LangIdModel.load(spark, dir)
      (l.langs, l.biases) shouldBe ((m.langs, m.biases))
      rows(l.weights) shouldBe rows(m.weights)
    }
    resave(d => LangModel.lmFit(d, "text", vocabSize = 8, bigramSize = 8))(_.save(_)) {
      (m, dir) =>
        val l = LangModel.LmModel.load(spark, dir)
        l.total shouldBe m.total
        rows(l.unigrams) shouldBe rows(m.unigrams)
        rows(l.bigrams) shouldBe rows(m.bigrams)
    }
    resave(d => Classifier.classifierFit(d.filter($"doc_id" === 1L),
      d.filter($"doc_id" =!= 1L), "text", vocabSize = 8))(_.save(_)) { (m, dir) =>
      val l = Classifier.ClassifierModel.load(spark, dir)
      l.bias shouldBe m.bias
      rows(l.weights) shouldBe rows(m.weights)
    }
    resave(d => Dsir.dsirFit(d.limit(1), d, "text", vocabSize = 8))(_.save(_)) { (m, dir) =>
      rows(Dsir.DsirModel.load(spark, dir).weights) shouldBe rows(m.weights)
    }
    resave(d => Bpe.bpeFit(d, "text", numMerges = 2, minCount = 1L))(_.save(_)) { (m, dir) =>
      Bpe.BpeModel.load(dir) shouldBe m
    }
  }
}
