package graft.tools

import org.apache.spark.sql.functions._
import graft.core.Pipeline
import graft.transformers._

/** End-to-end smoke drive of the public API over real testdata parquet.
  * Run: sbt "runMain graft.tools.Demo /root/testdata/sf0.001". */
object Demo {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Session.local(4)

    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      // inject some nulls so imputation has real work
      .withColumn("l_quantity",
        when(col("l_linenumber") % 7 === 0, lit(null)).otherwise(col("l_quantity")))

    val pipe = Pipeline.verbose(
      "indicate" -> new AddMissingIndicator(Seq("l_quantity")),
      "impute" -> new MeanMedianImputer(Seq("l_quantity")),
      "encode" -> new OneHotEncoder(Seq("l_returnflag")),
      "count_encode" -> new CountFrequencyEncoder(Seq("l_linestatus")),
      "discretize" -> new EqualWidthDiscretizer(Seq("l_extendedprice"), 5),
      "cap" -> new ArbitraryOutlierCapper(Map("l_tax" -> (Some(0.01), Some(0.07)))),
      "log" -> new LogTransformer(Seq("l_quantity")),
      "dates" -> new DatetimeFeatures(Seq("l_shipdate")),
      "const" -> new MathFeatures(Seq(
        "const_one" -> lit(1.0), "qty_twin" -> col("l_quantity"))),
      "drop_const" -> new DropConstantFeatures(1e-12, 1),
      "drop_dup" -> new DropDuplicateFeatures(),
      "drop_corr" -> new DropCorrelatedFeatures(0.95),
    )
    val out = pipe.fit(li)
    out.show(8, truncate = false)
    println(s"rows=${out.count()} cols=${out.columns.length}")
    println("columns: " + out.columns.mkString(", "))
    out.explain("formatted")

    // Fitted-pipeline persistence round trip through the public ModelIO API.
    val modelPath = java.nio.file.Files.createTempFile("graft_demo", ".json").toString
    graft.core.ModelIO.save(pipe, modelPath)
    val reloaded = graft.core.ModelIO.load(spark, modelPath)
    println(s"modelio: reloaded ${reloaded.steps.length} steps, " +
      s"transform rows=${reloaded.transform(li).count()}")

    // Training-data curation ops over the documents table.
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    println(s"dedup: corpus ${docs.count()} -> " +
      s"${graft.ops.Dedup.dedupCorpus(docs, "doc_id", "text").count()} after near-dup removal")
    println(s"sampling: 20% hash sample = " +
      s"${graft.ops.Sampling.hashSample(docs, "doc_id", 20).count()} docs; " +
      s"train/test = ${graft.ops.Sampling.trainTestSplit(docs, "doc_id", 80)
        .groupBy("split").count().collect().map(r => s"${r.getString(0)}:${r.getLong(1)}")
        .sorted.mkString(", ")}")

    // Round-4 ops.
    println(s"curate: ${docs.count()} -> " +
      s"${graft.ops.Curation.curate(docs.select("doc_id", "text"), "doc_id", "text",
        maxTopWordFrac = 0.5, nearDup = false).count()} docs after quality+repetition+fp-dedup")
    println("corpus stats: " + graft.ops.TextOps.corpusStats(docs, "lang", "text")
      .orderBy("lang").collect()
      .map(r => s"${r.getString(0)}=${r.getLong(1)}docs/p90=${r.getDouble(5)}")
      .mkString(", "))
    val embs = spark.read.parquet(s"$dir/embeddings.parquet")
    val pca = graft.ops.Similarity.pcaFit(embs, "embedding", 4)
    println(s"pca: top-4 eigenvalues = ${pca.eigenvalues.map(v => f"$v%.4f").mkString(", ")}")
    println(s"random projection: 64 -> 8 dims, " +
      s"${graft.ops.Similarity.randomProject(embs, "embedding", 8).count()} vectors")
    println(s"outliers (z>2): ${graft.ops.Similarity.embeddingOutliers(
      embs, "vec_id", "embedding", z = 2.0).count()} flagged")
    println(s"batch top-3: ${graft.ops.Similarity.cosineTopKBatch(
      embs, "vec_id", "embedding", embs.filter(col("vec_id") < 2),
      "vec_id", "embedding", 3).count()} result rows")

    // Round-5 ops: windowed features + text prep.
    val evRaw = spark.read.parquet(s"$dir/events.parquet")
    val ev = (evRaw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => // TIMESTAMP(NANOS) drop read as long
        evRaw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")).cast("timestamp_ntz"))
      case _ =>
        evRaw.withColumn("ts", col("ts").cast("timestamp_ntz"))
    }).select("event_id", "user_id", "ts", "value")
    println(s"sessionize: ${graft.ops.Relational.sessionize(ev, Seq("user_id"), "ts",
      maxGap = 1800000000L, tieCols = Seq("event_id"))
      .agg(max(col("session_id"))).head().getLong(0)} max sessions for one user")
    println(s"rolling: ${graft.ops.Relational.rollingFeatures(ev, Seq("user_id"), "ts",
      "value", Seq("1h" -> 3600000000L)).filter(col("n_1h") > 1).count()} rows with 1h neighbors")
    println(s"rolling salted: ${graft.ops.Relational.rollingFeaturesSalted(ev, Seq("user_id"),
      "ts", "value", Seq("1h" -> 3600000000L), bucketWidth = 3600000000L)
      .filter(col("n_1h") > 1).count()} rows with 1h neighbors (hot-key bucketed)")
    println(s"neardup ingest dedup: ${graft.streaming.StreamingOps.dedupNearDups(
      docs.select("doc_id", "text"), "doc_id", "text", "doc_id").count()} " +
      s"of ${docs.count()} docs survive banded first-wins")
    val ivf = graft.ops.Similarity.ivfFit(embs, "embedding", 8)
    val ivfLoaded = graft.ops.Similarity.IvfModel.fromJsonString(ivf.toJsonString)
    println(s"ivf model: ${ivfLoaded.nlist} cells x ${ivfLoaded.dim} dims; " +
      s"JSON round-trip exact: ${ivfLoaded == ivf}")
    println(s"range join: ${graft.ops.Relational.rangeJoin(
      ev.select(col("event_id"), col("ts")),
      ev.groupBy(col("user_id")).agg(min(col("ts")).as("s"), max(col("ts")).as("e")),
      "ts", "s", "e", Nil, bucketWidth = 86400000000L).count()} point-interval matches")
    println(s"loo encode: ${graft.ops.Relational.looMeanEncode(
      docs.select(col("lang"), col("n_chars")), "lang", "n_chars", "enc")
      .filter(col("enc").isNotNull).count()} encoded rows")
    println(s"chunk: ${graft.ops.TextOps.chunkTokens(docs.select("doc_id", "text"),
      "text", 40, 8).count()} chunks from ${docs.count()} docs; " +
      s"pii redact changed ${graft.ops.TextOps.redactPii(docs.select("doc_id", "text"), "text")
        .join(docs.select(col("doc_id"), col("text").as("orig")), "doc_id")
        .filter(col("text") =!= col("orig")).count()} docs")

    // Round-6 ops: subword tokenization, URL curation, classifier, IVF-SQ8.
    val bpe = graft.ops.Bpe.bpeFit(docs, "text", numMerges = 16)
    val bpeDir = java.nio.file.Files.createTempDirectory("graft_demo_bpe").toString
    bpe.save(bpeDir)
    val bpeLoaded = graft.ops.Bpe.BpeModel.load(bpeDir)
    println(s"bpe: ${bpeLoaded.merges.size} merges " +
      s"(first=${bpeLoaded.merges.head}); round-trip exact: ${bpeLoaded == bpe}; " +
      s"mean subword tokens/doc = ${graft.ops.Bpe.bpeTokenCount(
        docs.select("doc_id", "text"), "text", bpeLoaded)
        .agg(round(avg(col("n_bpe")), 1)).head().getDouble(0)}")
    val urled = docs.withColumn("url",
      concat(lit("https://www."), col("source"), lit("-news.co.uk/a/b")))
    println(s"url: ${graft.ops.Url.urlFeatures(urled, "url")
      .select("url_domain").distinct().count()} registered domains; " +
      s"blocklist keeps ${graft.ops.Url.domainFilter(urled, "url",
        Seq("src0-news.co.uk")).count()} of ${urled.count()} docs")
    val clf = graft.ops.Classifier.classifierFit(
      docs.filter(col("lang") === "en"), docs.filter(col("lang") =!= "en"),
      "text", vocabSize = 2048)
    println(s"classifier: bias=${clf.bias}, " +
      s"p>=0.5 keeps ${graft.ops.Classifier.probabilityFilter(
        docs, "doc_id", "text", clf, 0.5).count()} of ${docs.count()} docs")
    val pqCodes = graft.ops.Similarity.ivfPqEncode(embs, "vec_id", "embedding", ivf)
    val q0 = embs.filter(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble).toSeq
    println(s"ivf-sq8: ${pqCodes.count()} coded vectors; top-5 over codes = " +
      graft.ops.Similarity.ivfPqTopK(pqCodes, ivf, q0, 5, nprobe = 2)
        .collect().map(r => r.getLong(0)).mkString(", "))

    val idxDir = java.nio.file.Files.createTempDirectory("graft_demo_idx").toString
    graft.sources.Writer.writeIvfIndex(pqCodes, ivf, idxDir)
    val (diskCodes, diskIvf) = graft.sources.Writer.loadIvfIndex(spark, idxDir)
    println(s"ivf disk index: top-5 over partitioned codes = " +
      graft.ops.Similarity.ivfPqTopK(diskCodes, diskIvf, q0, 5, nprobe = 2)
        .collect().map(r => r.getLong(0)).mkString(", "))
    val dstats = graft.ops.Url.domainStats(urled, "url", Some("n_chars"))
      .orderBy(col("n_docs").desc).head()
    println(s"domain stats: top domain ${dstats.getString(0)} with " +
      s"${dstats.getLong(1)} docs over ${dstats.getLong(2)} hosts")
    val cur = graft.sources.Writer.shardByScoreQuantile(
      docs.select(col("doc_id"), col("n_chars").cast("double").as("score")),
      "doc_id", "score", numShards = 8)
    println(s"curriculum shards: ${cur.select("shard").distinct().count()} stages; " +
      s"stage sizes ${cur.groupBy("shard").count().orderBy("shard")
        .collect().map(_.getLong(1)).mkString(",")}")
    // project off documents' own n_chars — compressionStats guards its
    // output names against silent overwrite
    val fert = graft.ops.Bpe.compressionStats(
      docs.select("doc_id", "lang", "text"), "text", bpe, Seq("lang"))
      .orderBy(col("chars_per_token").desc).head()
    println(f"bpe fertility: best-compressed lang ${fert.getString(0)} at " +
      f"${fert.getAs[Double]("chars_per_token")}%.2f chars/token")

    val htmled = docs.withColumn("html",
      concat(lit("<html><body><script>x()</script><p>"), col("text"),
        lit("</p><!-- c --></body></html>")))
    println(s"strip html: tags survive in " +
      s"${graft.ops.TextOps.stripHtml(htmled, "html")
        .filter(col("text_plain").contains("<p>")).count()} of ${htmled.count()} docs")
    val sentDocs = docs.withColumn("ptext",
      regexp_replace(col("text"), " join ", ". Join "))
    println(s"sentences: ${graft.ops.TextOps.splitSentences(
      sentDocs, "doc_id", "ptext").count()} sentences from ${docs.count()} docs")

    // Quality-representative dedup, epoch upsampling, prototypicality
    // pruning, context-window audit.
    println(s"dedup best-of-cluster: ${graft.ops.Dedup.dedupCorpusBy(
      docs, "doc_id", "text", "n_chars").count()} of ${docs.count()} docs " +
      "survive (longest member per near-dup cluster)")
    val up = graft.ops.Sampling.upsampleGroups(
      docs.select("doc_id", "lang"), "lang", "doc_id",
      Map("zh" -> 2.5, "de" -> 2.0))
    println(s"upsample: ${docs.count()} docs -> ${up.count()} rows " +
      s"(max epoch ${up.agg(max(col("epoch"))).head().getInt(0)})")
    val proto = graft.ops.Similarity.prototypicalityScore(
      embs, "vec_id", "embedding", ivf)
    println(f"prototypicality: mean cosine-to-centroid ${proto
      .agg(avg(col("proto"))).head().getDouble(0)}%.3f; " +
      s"D4 prune (drop easiest 25%/cell) keeps ${graft.ops.Similarity
        .pruneByPrototypicality(embs, "vec_id", "embedding", ivf, 0.25).count()} " +
      s"of ${embs.count()} vectors")
    val trunc = graft.ops.TextOps.truncationReport(docs, "lang", "text", 64)
      .agg(sum(col("tokens_lost")), sum(col("total_tokens"))).head()
    println(s"truncation audit @64 tokens: ${trunc.getLong(0)} of " +
      s"${trunc.getLong(1)} tokens fall past the window")
    // per-post URLs (doc_id % 4 == 1) never repeat across the split; bare
    // site URLs collide by source — a realistic seen/unseen mix
    val keyed = docs.withColumn("url2",
      when(col("doc_id") % 4 === 1,
        concat(lit("https://"), col("source"), lit(".com/p/"), col("doc_id")))
        .otherwise(concat(lit("https://"), col("source"), lit(".com"))))
    // split on % 3 — coprime with the source cycle, so the corpus third
    // indexes every site and only the per-post URLs stay unseen
    val keyIdx = graft.ops.Dedup.keyIndexFit(
      keyed.filter(col("doc_id") % 3 === 0), "url2")
    println(s"seen-key index: ${keyIdx.keys.count()} corpus URLs indexed; " +
      s"probe keeps ${graft.ops.Dedup.keyIndexApply(
        keyed.filter(col("doc_id") % 3 =!= 0), "url2", keyIdx).count()} " +
      s"never-crawled of ${keyed.filter(col("doc_id") % 3 =!= 0).count()} incoming")
    println(s"intra-doc line dedup: ${graft.ops.TextOps.dedupLinesWithinDoc(
      docs.select(col("doc_id"), col("text")), "text", sepRegex = " ", joinSep = " ")
      .join(docs.select(col("doc_id"), col("text").as("orig")), "doc_id")
      .filter(col("text") =!= col("orig")).count()} docs had repeated tokens removed")
    val drift = graft.ops.Curation.categoryDriftPsi(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 =!= 0), "lang")
    println(f"corpus drift: lang-mix PSI between halves = ${drift
      .agg(sum(col("psi_term"))).head().getDouble(0)}%.6f")
    val mon = graft.streaming.StreamingOps.qualityMonitor(
      docs.withColumn("ts", expr(
        "timestamp'2024-01-01' + make_interval(0,0,0,0,0, CAST(doc_id % 1440 AS INT), 0)")),
      "ts", "text", "6 hours", keyCols = Seq("lang"))
    println(s"quality monitor: ${mon.count()} (window, lang) cells; total fails " +
      s"${mon.agg(sum(col("n_fail_quality"))).head().getLong(0)}")
    val vocab = graft.ops.Bpe.vocabOf(bpe, graft.ops.Bpe.alphabetOf(docs, "text"))
    val ids = graft.ops.Bpe.encodeIds(docs.select("doc_id", "text"), "text", bpe, vocab)
    println(s"bpe ids: vocab ${vocab.size} entries; " +
      s"${ids.select(explode(col("bpe_ids"))).count()} ids emitted, UNK count " +
      s"${ids.select(explode(col("bpe_ids")).as("i")).filter(col("i") === -1).count()}")
    val piiDoc = docs.limit(1).select(col("doc_id"),
      concat(col("text"), lit(" card 4111 1111 1111 1111 ssn 123-45-6789")).as("text"))
    println(s"extended pii: " +
      graft.ops.TextOps.piiCountsExtended(piiDoc, "text")
        .select("n_cards", "n_ssns").head().toSeq.mkString("cards=", " ssns=", "") +
      s"; redacted contains tokens: ${graft.ops.TextOps.redactPiiExtended(piiDoc, "text")
        .filter(col("text").contains("<CARD>") && col("text").contains("<SSN>")).count() == 1}")
    val negs = graft.ops.Similarity.hardNegatives(
      embs, "vec_id", "embedding", "label", ivf, k = 3, minCosine = 0.0)
    println(s"hard negatives: ${negs.count()} (anchor, negative) pairs mined " +
      s"for ${negs.select("id").distinct().count()} anchors")
    val seqs = graft.ops.Sampling.materializeSequences(
      graft.ops.Sampling.packSequences(
        docs.select(col("doc_id"), col("text"),
          graft.ops.TextOps.tokenCount(col("text")).as("n_tok")),
        "doc_id", "n_tok", capacity = 512, numBuckets = 8),
      "text", "n_tok")
    println(s"packed sequences: ${seqs.count()} bins of <=512 tokens, mean fill " +
      f"${seqs.agg(avg(col("n_tokens"))).head().getDouble(0)}%.0f")
    val bmQ = docs.filter(col("doc_id") < 3)
    val bm = graft.ops.Retrieval.bm25TopK(
      docs, "doc_id", "text", bmQ, "doc_id", "text", k = 10)
    val dense = graft.ops.Similarity.cosineTopKBatch(
      embs, "vec_id", "embedding",
      embs.filter(col("vec_id") < 3), "vec_id", "embedding", 10)
    val hybrid = graft.ops.Retrieval.rrfFuse(
      bm, dense, "query_id", "id", "bm25", "cos", k = 10)
    println(s"hybrid retrieval: bm25 ${bm.count()} + dense ${dense.count()} " +
      s"rows fuse to ${hybrid.count()} (3 queries x top-10)")
    val hemb = graft.ops.Retrieval.hashEmbed(
      docs.select("doc_id", "text"), "text", dim = 32)
    val textTopk = graft.ops.Similarity.cosineTopKBatch(
      hemb, "doc_id", "text_hash",
      hemb.filter(col("doc_id") < 3), "doc_id", "text_hash", 5)
    println(s"hash-embedding retrieval: ${textTopk.count()} hits over " +
      s"${hemb.filter(col("text_hash_norm") > 0).count()} embeddable docs, no trained vectors")
    val capped = graft.ops.Sampling.capPerGroup(
      docs.select("doc_id", "source", "n_chars"), "source", "doc_id", "n_chars", 5)
    println(s"per-domain cap: ${capped.count()} docs survive the 5-longest-per-source quota")
    val bmIdxDir = java.nio.file.Files.createTempDirectory("demo_bm25").toString
    graft.ops.Retrieval.bm25Fit(docs, "doc_id", "text").save(bmIdxDir)
    val bmIdx = graft.ops.Retrieval.Bm25Index.load(spark, bmIdxDir)
    println(s"bm25 index: ${bmIdx.n} docs, avgdl ${f"${bmIdx.avgdl}%.1f"}; " +
      s"probe returns ${graft.ops.Retrieval.bm25SearchIndex(bmIdx, bmQ, "doc_id", "text", 10).count()} " +
      "hits without rescanning the corpus")
    graft.ops.Retrieval.appendToBm25Index(
      docs.limit(0), "doc_id", "text", bmIdxDir) // empty append is a no-op
    val budgeted = graft.ops.Sampling.sampleTokenBudgetPerGroup(
      docs.select(col("doc_id"), col("lang"),
        graft.ops.TextOps.tokenCount(col("text")).as("n_tok")),
      "lang", "doc_id", "n_tok", Map("en" -> 4000L, "zh" -> 1000L))
    println(s"per-group token budget: ${budgeted.count()} docs fill the en=4000/zh=1000 mixture")
    val rer = graft.ops.Retrieval.bm25Rerank(
      docs, "doc_id", "text", bmQ, "doc_id", "text",
      embs, "vec_id", "embedding",
      embs.filter(col("vec_id") < 3), "vec_id", "embedding", kLex = 50, k = 10)
    println(s"two-stage retrieval: 50-doc lexical shortlist -> dense rerank -> ${rer.count()} final hits")
    val rank = graft.ops.Retrieval.evalRankingMetrics(
      bm, dense, "query_id", "id", "bm25", k = 10)
      .agg(avg(col("rr")), avg(col("ndcg"))).head()
    println(f"lexical-vs-dense report card: MRR ${rank.getDouble(0)}%.3f, mean NDCG@10 ${rank.getDouble(1)}%.3f")
    val diffed = graft.ops.Curation.corpusDiff(
      docs.withColumn("fp", md5(col("text").cast("binary"))),
      docs.filter(col("doc_id") % 7 =!= 0)
        .withColumn("fp", md5(col("text").cast("binary"))),
      "doc_id", "fp")
    println(s"release diff: ${diffed.count()} rows changed between drops " +
      s"(${diffed.filter(col("status") === "removed").count()} removed)")
    val gate = graft.ops.Curation.expectationsReport(
      docs,
      Seq("nonempty_text" -> (length(col("text")) > 0),
        "known_lang" -> col("lang").isin("en", "zh", "es", "de", "fr")),
      uniqueCol = Some("doc_id"))
    println(s"expectations gate: ${gate.filter(col("pass")).count()} of ${gate.count()} rules pass")
    val framePairs = graft.ops.Multimodal.frameHashNearDupPairs(
      docs.unionByName(docs.filter(col("doc_id") % 5 === 0)
        .withColumn("doc_id", col("doc_id") + 10000))
        .select(col("doc_id"), col("text").cast("binary").as("payload")),
      "doc_id", "payload", everyNBytes = 256, frameBytes = 64, minOverlap = 0.5)
    println(s"frame-hash near-dup screen: ${framePairs.count()} payload pairs share >=50% of frames")
    val edrift = graft.ops.Similarity.embeddingDriftStats(
      embs.filter(col("vec_id") % 2 === 0),
      embs.filter(col("vec_id") % 2 =!= 0), "embedding")
      .filter(col("stat") === "centroid_shift").head()
    println(f"embedding drift between halves: centroid cosine ${edrift.getDouble(2)}%.6f, L2 ${edrift.getDouble(3)}%.6f")
    val stop = graft.ops.Retrieval.stopwords(bmIdx, minDfFrac = 0.5)
    println(s"index stopwords: ${stop.count()} terms appear in >=50% of docs")
    val packRep = graft.ops.Sampling.packingReport(
      graft.ops.Sampling.packSequences(
        docs.select(col("doc_id"), graft.ops.TextOps.tokenCount(col("text")).as("n_tok")),
        "doc_id", "n_tok", capacity = 512, numBuckets = 8),
      "n_tok", capacity = 512).head()
    println(f"packing report: ${packRep.getAs[Long]("n_sequences")} sequences at fill ${packRep.getAs[Double]("fill")}%.3f")
    val prf = graft.ops.Retrieval.bm25PrfTopK(
      docs, "doc_id", "text", bmQ, "doc_id", "text", k = 10, fbDocs = 5, fbTerms = 10)
    val prfNew = prf.join(bm, Seq("query_id", "id"), "left_anti").count()
    println(s"pseudo-relevance feedback: ${prf.count()} hits, $prfNew not in the plain BM25 top-10")
    println(s"indexed PRF: ${graft.ops.Retrieval.bm25PrfSearchIndex(
      bmIdx, bmQ, "doc_id", "text", k = 10).count()} hits off the persisted index, corpus never rescanned")

    // The crawl first mile (round 7): a synthetic WARC archive of raw
    // pages → streaming record reader → main-content extraction → trained
    // language ID → PSL domains → seeded training shards.
    val warcDir = java.nio.file.Files.createTempDirectory("demo_warc")
    locally {
      val out = new java.io.ByteArrayOutputStream()
      docs.select("doc_id", "source", "text").limit(200).collect().foreach { r =>
        val page = ("<html><body><div><a href=\"/\">Home navigation menu</a> " +
          "<a href=\"/x\">About us and contact</a></div><p>" + r.getString(2) +
          "</p><div><a href=\"https://partner" + (r.getLong(0) % 3) +
          ".example.com/ref\">partner site</a> " +
          "<a href=\"/tos\">Terms of service page</a></div></body></html>")
          .getBytes("UTF-8")
        // true Common-Crawl response shape: the record payload is the
        // whole HTTP message; the reader strips the envelope. Round-9
        // realism: every 10th page is a 301 (Location surfaced), every
        // 10th-plus-1 opts out via <meta robots>, every 20th-plus-2 via
        // the X-Robots-Tag header.
        val id = r.getLong(0)
        val statusLine =
          if (id % 10 == 5) "HTTP/1.1 301 Moved Permanently\r\nLocation: /moved\r\n"
          else "HTTP/1.1 200 OK\r\n"
        val extra =
          if (id % 20 == 2) "X-Robots-Tag: noindex\r\n" else ""
        val taggedPage =
          if (id % 10 == 1)
            "<meta name=\"robots\" content=\"noindex\">".getBytes("UTF-8") ++ page
          else page
        val msg = (statusLine + extra +
          "Content-Type: text/html; charset=UTF-8\r\n\r\n").getBytes("UTF-8") ++
          taggedPage
        out.write((s"WARC/1.0\r\nWARC-Type: response\r\n" +
          s"WARC-Record-ID: <urn:demo:${r.getLong(0)}>\r\n" +
          s"WARC-Target-URI: https://www.${r.getString(1)}.co.uk/p/${r.getLong(0)}\r\n" +
          "Content-Type: application/http; msgtype=response\r\n" +
          s"Content-Length: ${msg.length}\r\n\r\n").getBytes("UTF-8"))
        out.write(msg)
        out.write("\r\n\r\n".getBytes("UTF-8"))
      }
      java.nio.file.Files.write(warcDir.resolve("crawl.warc"), out.toByteArray)
    }
    // cached: four downstream actions would otherwise re-parse the archive
    // and re-run the extraction cascade each
    val crawled = graft.sources.Loader.load(
      spark, warcDir.resolve("crawl.warc").toString).cache()
    val bodies = graft.ops.TextOps.extractMainContent(crawled, "payload").cache()
    println(s"warc chain: ${crawled.count()} records (" +
      s"${crawled.filter(col("http_status") === 200).count()} HTTP 200, envelope stripped); " +
      s"main-content keeps body, " +
      s"drops nav/footer in ${bodies.filter(!col("main_content").contains("Home navigation")).count()} of ${bodies.count()}")
    val lid = graft.ops.LangId.langIdFit(docs, "text", "lang", vocabSize = 512)
    val lidScored = graft.ops.LangId.langIdScore(
      bodies.select(col("record_id"), col("main_content")), "record_id", "main_content", lid)
    println(s"trained langid: ${lid.langs.size} languages; crawl predictions " +
      lidScored.groupBy("lang_pred").count().orderBy(col("count").desc)
        .collect().map(r => s"${r.getString(0)}=${r.getLong(1)}").mkString(", "))
    val pslDoms = graft.ops.Url.registeredDomainPsl(
      crawled.withColumn("h", graft.ops.Url.host(col("target_uri"))), "h", "dom")
    println(s"psl domains: ${pslDoms.select("dom").distinct().count()} registered domains " +
      s"(co.uk handled: ${pslDoms.filter(col("dom").endsWith(".co.uk")).count()} rows)")
    // crawl link graph: outlinks → registered-domain edges → integer Katz
    // centrality; the low tail is blocklist fodder
    val linkEdges = graft.ops.LinkGraph.hostGraph(
      graft.ops.LinkGraph.extractLinks(
        crawled.select("target_uri", "payload"), "payload", "target_uri"),
      "target_uri", "link_url")
    val topDom = graft.ops.LinkGraph.domainCentrality(linkEdges, iterations = 2)
      .orderBy(col("centrality").desc, col("domain")).head()
    println(s"link graph: ${linkEdges.count()} cross-domain edges from the crawl; " +
      s"top centrality ${topDom.getString(0)}=${topDom.getLong(1)}")
    // persistable near-dup index: nightly batch probes stored signatures,
    // the historical corpus is never re-shingled
    val ndDir = java.nio.file.Files.createTempDirectory("demo_ndidx").toString
    graft.ops.Dedup.nearDupIndexFit(
      docs.filter(col("doc_id") % 2 === 0), "doc_id", "text").save(ndDir)
    val batch = docs.filter(col("doc_id") % 2 === 1)
    val surv = graft.ops.Dedup.nearDupIndexApply(batch, "doc_id", "text",
      graft.ops.Dedup.NearDupIndex.load(spark, ndDir))
    println(s"near-dup index: ${batch.count()} incoming docs -> ${surv.count()} " +
      "survive the stored-signature probe (corpus untouched)")
    // byte-fallback BPE: OOV code points become UTF-8 bytes, never UNK
    locally {
      import spark.implicits._
      val bm = graft.ops.Bpe.BpeModel(Seq("t" -> "h", "th" -> "e"))
      val bv = graft.ops.Bpe.vocabOf(bm, ('a' to 'z').map(_.toString) :+ " ")
      val sample = "the caf\u00e9 \u4e2d"
      val ids = graft.ops.Bpe.encodeIdsBytes(
        Seq((1L, sample)).toDF("id", "text"), "text", bm, bv)
        .head().getSeq[Int](2)
      println(s"byte-fallback bpe: '${sample}' -> ${ids.size} ids " +
        s"(${ids.count(_ < 256)} byte-fallback), lossless round trip: " +
        (graft.ops.Bpe.decodeIdsBytes(ids, bv) == sample))
    }
    println(s"epoch shuffle: seed-7 scatters epoch-0 shard 0 into " + {
      val l0 = graft.sources.Writer.shardAssignments(docs, "doc_id", 8)
        .filter(col("shard") === 0).select("doc_id")
      graft.sources.Writer.shardAssignments(docs, "doc_id", 8, seed = 7L)
        .join(l0, "doc_id").select("shard").distinct().count()
    } + " of 8 shards (a real re-permutation, not a relabeling)")

    // The round-9 crawl surface over the same archive: redirect edges,
    // page- and header-level robots compliance, sitemap discovery, and
    // the GPT-2-style pre-tokenized BPE fit.
    val redirects = crawled
      .filter(col("http_status") === 301 && col("http_location").isNotNull)
      .withColumn("target",
        graft.ops.LinkGraph.resolveUrl(col("target_uri"), col("http_location")))
    val compliance = crawled.select(
      graft.ops.TextOps.metaRobots(col("payload")).as("m"),
      lower(coalesce(col("http_robots_tag"), lit(""))).as("h"))
    println(s"crawl compliance: ${redirects.count()} redirects " +
      s"(relative Locations resolved: ${redirects.filter(col("target").startsWith("https://")).count()}), " +
      s"${compliance.filter(col("m").rlike("\\bnoindex\\b")).count()} meta opt-outs, " +
      s"${compliance.filter(col("h").rlike("\\bnoindex\\b")).count()} header opt-outs honored")
    locally {
      import spark.implicits._
      val robots = Seq(("www.demo.com",
        "User-agent: graftbot\nDisallow:\n\nUser-agent: *\nDisallow: /\n" +
          "Crawl-delay: 2\nSitemap: https://www.demo.com/sitemap.xml"))
        .toDF("host", "content")
      val rules = graft.ops.Robots.robotsParse(robots, "host", "content").cache()
      val ok = graft.ops.Robots.robotsAllowed(
        Seq((1L, "https://www.demo.com/page")).toDF("id", "url"), "url",
        rules, "graftbot").head().getBoolean(2)
      println(s"robots: whitelist idiom allows graftbot: $ok; " +
        s"${graft.ops.Robots.sitemaps(rules).count()} sitemap declared; " +
        s"others throttled to ${graft.ops.Robots.crawlDelays(rules, "otherbot").head().getDouble(1)}s")
      val entries = graft.ops.Sitemap.sitemapEntries(Seq((1L,
        "<urlset><url><loc>https://www.demo.com/a</loc>" +
          "<lastmod>2026-03-01</lastmod><priority>0.9</priority></url>" +
          "<url><loc>https://www.demo.com/b</loc></url></urlset>"))
        .toDF("id", "xml"), "xml")
      println(s"sitemap: ${entries.count()} entries, " +
        s"${entries.filter(col("sitemap_lastmod").isNotNull).count()} with lastmod " +
        "(recrawl-scheduling metadata)")
    }
    locally {
      val pm = graft.ops.Bpe.bpeFit(docs.limit(500), "text", numMerges = 8,
        pretok = Some(graft.ops.Bpe.Gpt2PretokPattern))
      println(s"pretok bpe: ${pm.merges.size} merges learned under the GPT-2 " +
        s"pre-split, ${pm.merges.count(_._1.startsWith(" "))} space-glued")
    }

    // The round-10 crawl-INDEX circle, end to end over real temp files:
    // curated docs → WET export (DSV2 writer) → CDX index build with
    // REAL byte coordinates (SURT urlkeys) → sorted CDX-J on disk →
    // index prefix lookup → random-access record fetch by seek.
    locally {
      import graft.sources.{Loader, Writer}
      val tmp = java.nio.file.Files.createTempDirectory("graft_demo_r10")
      val wet = tmp.resolve("export.warc").toString
      Writer.save(
        docs.limit(200).select(
          lit("conversion").as("warc_type"),
          concat(lit("<urn:demo:"), col("doc_id"), lit(">")).as("record_id"),
          concat(lit("https://www."), col("source"), lit(".com/p/"),
            col("doc_id")).as("target_uri"),
          lit("2026-03-01T00:00:00Z").as("warc_date"),
          lit("text/plain").as("content_type"),
          col("text").as("payload")), wet)
      val archived = Loader.load(spark, wet)
      val cdx = tmp.resolve("index.cdxj").toString
      Writer.writeCdxjSorted(
        archived.select(
          graft.ops.Url.surtKey(col("target_uri")).as("urlkey"),
          regexp_replace(col("warc_date"), "[-:TZ]", "").as("cdx_ts"),
          col("target_uri").as("url"),
          col("content_type").as("mime"),
          lit(null).cast("int").as("status"),
          col("payload_digest").as("digest"),
          col("record_length").as("length"),
          col("record_offset").as("offset"),
          col("warc_file").as("filename")), cdx, numPartitions = 2)
      val idx = Loader.load(spark, cdx)
      val hits = idx.filter(col("urlkey").startsWith("com,")).limit(5)
        .select("filename", "offset", "length").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      val fetched = Loader.loadWarcRanges(spark, hits)
      println(s"crawl index circle: ${archived.count()} records exported as WET, " +
        s"${idx.count()} sorted index lines, ${hits.size} prefix hits, " +
        s"${fetched.count()} records fetched back by seek " +
        s"(first payload ${fetched.head().getAs[String]("payload").take(30)}…)")
      val mism = fetched.join(archived.select(col("record_id"),
          col("payload").as("orig")), Seq("record_id"))
        .filter(col("payload") =!= col("orig")).count()
      println(s"crawl index circle: $mism payload mismatches after the round trip")
    }

    // Probe error paths through the same public surface.
    def probe(name: String)(body: => Unit): Unit =
      try { body; println(s"PROBE $name: NO ERROR (unexpected)") }
      catch { case e: Throwable => println(s"PROBE $name: ${e.getClass.getSimpleName}: ${e.getMessage}") }
    probe("transform-before-fit") {
      new MeanMedianImputer(Seq("l_quantity")).transform(li).count()
    }
    probe("missing-column") {
      new LogTransformer(Seq("no_such_col")).transform(li).count()
    }
    probe("log-of-zero-domain") {
      // l_discount has min 0.0 → must fail eager validation inside transform
      new LogTransformer(Seq("l_discount")).transform(li).count()
    }
    probe("string-col-as-numeric") {
      new MeanMedianImputer(Seq("l_returnflag")).fit(li)
    }
    probe("empty-pipeline") { Pipeline().fit(li) }
    spark.stop()
  }
}
