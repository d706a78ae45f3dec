package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops._

/** Extension-op suites: dedup, similarity search, text analysis, multimodal
  * plumbing (no reference counterpart — SURVEY §2.11 scope extension). */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (3L, "completely different words entirely unrelated content here"),
    (4L, "the quick brown fox jumps over the lazy cat"), // near dup of 1
  ).toDF("doc_id", "text")

  // ── Dedup ────────────────────────────────────────────────────────────

  /** Driver-side brute-force exact n-gram Jaccard: every (a ∈ left,
    * b ∈ right) pair — a < b when `self` — whose distinct character
    * n-gram sets reach `threshold`. Texts shorter than n have no n-grams
    * and never pair. The reference the LSH / prefix-filter pipelines must
    * reproduce exactly. */
  private def bruteJaccardPairs(
      left: Seq[(Long, String)], right: Seq[(Long, String)],
      n: Int, threshold: Double, self: Boolean): Set[(Long, Long, Double)] = {
    def grams(t: String): Set[String] = {
      val cps = t.codePoints().toArray
      (0 to cps.length - n).map(i => new String(cps, i, n)).toSet
    }
    val l = left.map { case (id, t) => (id, grams(t)) }.filter(_._2.nonEmpty)
    val r = right.map { case (id, t) => (id, grams(t)) }.filter(_._2.nonEmpty)
    (for {
      (a, ga) <- l
      (b, gb) <- r
      if !self || a < b
      common = ga.count(gb)
      j = common.toDouble / (ga.size + gb.size - common).toDouble
      if j >= threshold
    } yield (a, b, j)).toSet
  }

  private def idText(df: org.apache.spark.sql.DataFrame): Seq[(Long, String)] =
    df.select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1))).toSeq

  test("Dedup.exact keeps one row per key with the smallest tiebreak") {
    val out = Dedup.exact(docs, Seq("text"), "doc_id")
    out.count() shouldBe 3
    out.filter($"text".contains("lazy dog")).select("doc_id")
      .head().getLong(0) shouldBe 1L
    out.columns.toSeq shouldBe Seq("doc_id", "text") // schema preserved
  }

  test("Dedup.shingles builds distinct char n-grams; short text → empty") {
    val r = docs.select(Dedup.shingles(lit("abcd"), 3).as("g")).head().getSeq[String](0)
    r.toSet shouldBe Set("abc", "bcd")
    val short = docs.select(Dedup.shingles(lit("ab"), 3).as("g")).head().getSeq[String](0)
    short shouldBe empty
  }

  test("Dedup.minhashDedupPairs finds exact and near dups with true jaccard") {
    val out = Dedup.minhashDedupPairs(docs, "doc_id", "text", threshold = 0.5)
      .orderBy("id_a", "id_b").collect()
    val pairs = out.map(r => (r.getLong(0), r.getLong(1))).toSet
    pairs should contain((1L, 2L)) // exact dup
    pairs should contain((1L, 4L)) // near dup (dog→cat)
    out.find(r => r.getLong(0) == 1L && r.getLong(1) == 2L)
      .get.getDouble(2) shouldBe 1.0 // identical texts → jaccard exactly 1
  }

  test("general-vocab verify path works with broadcasting disabled (no forced hint)") {
    // The candidate-doc semijoin prune must not carry a forced broadcast
    // hint (an unbounded candidate set would OOM the driver at scale):
    // with autoBroadcastJoinThreshold=-1 the join must still execute, as a
    // shuffle join, and produce the same pairs.
    val savedVocab = Dedup.MaxBitmapVocab
    val savedThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      Dedup.MaxBitmapVocab = 0 // force the general (est + exact-verify) path
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val out = Dedup.minhashDedupPairs(docs, "doc_id", "text", threshold = 0.5)
        .orderBy("id_a", "id_b").collect()
      val pairs = out.map(r => (r.getLong(0), r.getLong(1))).toSet
      pairs should contain((1L, 2L))
      pairs should contain((1L, 4L))
    } finally {
      Dedup.MaxBitmapVocab = savedVocab
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", savedThresh)
    }
  }

  test("Dedup.minhashDedupPairs general-vocab path (est filter + exact verify) agrees") {
    val saved = Dedup.MaxBitmapVocab
    try {
      Dedup.MaxBitmapVocab = 0 // force the general (non-bitmap) path
      val out = Dedup.minhashDedupPairs(docs, "doc_id", "text", threshold = 0.5)
        .orderBy("id_a", "id_b").collect()
      val pairs = out.map(r => (r.getLong(0), r.getLong(1))).toSet
      pairs should contain((1L, 2L))
      pairs should contain((1L, 4L))
      out.find(r => r.getLong(0) == 1L && r.getLong(1) == 2L)
        .get.getDouble(2) shouldBe 1.0
    } finally Dedup.MaxBitmapVocab = saved
  }

  test("bitmap and general-vocab paths agree on real documents (sf0.001)") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val real = d.unionByName(
      d.filter($"doc_id" % 5 === 0).withColumn("doc_id", $"doc_id" + 10000))
    def run(): Seq[(Long, Long, Double)] =
      Dedup.minhashDedupPairs(real, "doc_id", "text")
        .orderBy("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val bitmap = run()
    val saved = Dedup.MaxBitmapVocab
    val general = try { Dedup.MaxBitmapVocab = 0; run() } finally Dedup.MaxBitmapVocab = saved
    bitmap should not be empty // the injected copies guarantee pairs
    general shouldBe bitmap
  }

  test("minhashDedupPairs and ngramJaccardPairs equal a brute-force exact-Jaccard reference") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val real = d.unionByName(
      d.filter($"doc_id" % 5 === 0).withColumn("doc_id", $"doc_id" + 10000))
    val rows = idText(real)
    val truth = bruteJaccardPairs(rows, rows, 3, 0.8, self = true)
    truth should not be empty // the injected copies guarantee pairs
    def run(op: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      op.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    run(Dedup.minhashDedupPairs(real, "doc_id", "text")) shouldBe truth
    run(Dedup.ngramJaccardPairs(real, "doc_id", "text")) shouldBe truth
  }

  test("Dedup.duplicateClusters: chains collapse to min-id components") {
    val ids = (1L to 7L).map(Tuple1(_)).toDF("doc_id")
    // component {1,2,3,4} via a chain, {5,6} via one pair, 7 singleton
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L)).toDF("id_a", "id_b")
    val out = Dedup.duplicateClusters(ids, "doc_id", pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out shouldBe Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 5L, 6L -> 5L, 7L -> 7L)
  }

  /** Both clustering paths: the driver union-find (what duplicateClusters
    * picks for bounded graphs) and the distributed label propagation. */
  private def bothClusterPaths(ids: org.apache.spark.sql.DataFrame, idCol: String,
      pairs: org.apache.spark.sql.DataFrame): Seq[(String, Seq[(Any, Any)])] =
    Seq(
      "driver" -> Dedup.duplicateClusters(ids, idCol, pairs),
      "iterative" -> Dedup.duplicateClustersIterative(ids, idCol, pairs)
    ).map { case (path, out) => path -> out.collect().map(r => (r.get(0), r.get(1))).toSeq }

  test("Dedup.duplicateClusters returns one row per distinct id when ids repeat") {
    // a repeated id used to multiply through the pointer-jump self-join:
    // three rows of id 1 + the pair (1, 2) returned 81 rows of id 1
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val tripled = Seq(1L, 1L, 1L, 2L).toDF("doc_id")
    // a 5-row chain 1-2-3-4 with id 3 repeated
    val chain = Seq(1L, 2L, 3L, 3L, 4L).toDF("doc_id")
    val chainPairs = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("id_a", "id_b")
    for ((path, out) <- bothClusterPaths(tripled, "doc_id", pairs)) withClue(path) {
      out.sortBy(_._1.asInstanceOf[Long]) shouldBe Seq((1L, 1L), (2L, 1L))
    }
    for ((path, out) <- bothClusterPaths(chain, "doc_id", chainPairs)) withClue(path) {
      out.sortBy(_._1.asInstanceOf[Long]) shouldBe Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L))
    }
  }

  test("Dedup.duplicateClusters drops NULL ids and ignores pairs with a NULL endpoint") {
    val ids = Seq(Some(1L), None, Some(2L), Some(3L), None).toDF("doc_id")
    val pairs = Seq[(Option[Long], Option[Long])](
      (Some(1L), None), (None, Some(3L)), (None, None), (Some(2L), Some(3L)))
      .toDF("id_a", "id_b")
    for ((path, out) <- bothClusterPaths(ids, "doc_id", pairs)) withClue(path) {
      out.sortBy(_._1.asInstanceOf[Long]) shouldBe Seq((1L, 1L), (2L, 2L), (3L, 2L))
    }
  }

  test("Dedup.duplicateClusters keeps an integer id column's type on both paths") {
    val ids = Seq(5, 3, 9, 4).toDF("doc_id")
    val pairs = Seq((5L, 3L), (9L, 5L)).toDF("id_a", "id_b")
    for ((path, out) <- bothClusterPaths(ids, "doc_id", pairs)) withClue(path) {
      out.sortBy(_._1.asInstanceOf[Int]) shouldBe Seq((3, 3), (4, 4), (5, 3), (9, 3))
    }
    Dedup.duplicateClusters(ids, "doc_id", pairs).schema.map(_.dataType) shouldBe
      Seq(IntegerType, IntegerType)
  }

  test("dedupCorpus keeps one representative per near-dup cluster") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
      (7L, "completely different content lives here")).toDF("doc_id", "text")
    val out = Dedup.dedupCorpus(df, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    out shouldBe Set(1L, 7L) // 2 collapsed into 1 (min id survives)
  }

  test("crossDupPairs finds only cross-side contamination") {
    val left = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"), // near-dup of 1
      (3L, "completely unrelated content here")).toDF("doc_id", "text")
    val right = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"), // = left 1
      (9L, "zzz nothing in common at all qqq")).toDF("doc_id", "text")
    def run(): Seq[(Long, Long, Double)] =
      Dedup.crossDupPairs(left, right, "doc_id", "text", threshold = 0.5)
        .orderBy("left_id", "right_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val out = run()
    out.map(p => (p._1, p._2)).toSet shouldBe Set((1L, 1L), (2L, 1L))
    out.find(p => p._1 == 1L).get._3 shouldBe 1.0 // identical text
    // the left-side near-dup pair (1,2) must NOT appear — cross pairs only
    // the bitmap and general-vocabulary paths both equal brute force
    val truth = bruteJaccardPairs(idText(left), idText(right), 3, 0.5, self = false)
    out.toSet shouldBe truth
    val savedVocab = Dedup.MaxBitmapVocab
    try {
      Dedup.MaxBitmapVocab = 0
      run().toSet shouldBe truth
    } finally Dedup.MaxBitmapVocab = savedVocab
  }

  test("new ops tolerate empty inputs") {
    val docs = Seq((1L, "some text here")).toDF("doc_id", "text")
    val noDocs = docs.limit(0)
    Dedup.crossDupPairs(docs, noDocs, "doc_id", "text").count() shouldBe 0
    Dedup.crossDupPairs(noDocs, docs, "doc_id", "text").count() shouldBe 0
    val noPairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    Dedup.duplicateClusters(docs.select("doc_id"), "doc_id", noPairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq shouldBe Seq((1L, 1L))
    val ev = Seq((1L, 10L, 0.5)).toDF("user", "ts", "v")
    Relational.asofJoin(
      ev.select("user", "ts"), ev.limit(0), Seq("user"), "ts", Seq("v"), "_r")
      .collect().foreach(_.isNullAt(2) shouldBe true)
  }

  test("clustering uses reliable checkpointing when a checkpoint dir is configured") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toFile
    spark.sparkContext.setCheckpointDir(dir.toString)
    try {
      val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
      // the distributed path is the only one that still checkpoints
      val out = Dedup.duplicateClustersIterative(
        Seq(1L, 2L, 3L, 4L).toDF("doc_id"), "doc_id", pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      out shouldBe Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L)
      // the rounds really wrote to the reliable dir, not executor-local blocks
      def files(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(files) else Seq(f)
      files(dir) should not be empty
    } finally spark.sparkContext.setCheckpointDir(null)
  }

  test("duplicateClustersByText equals generic CC over the full pair graph") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val real = d.unionByName(
      d.filter($"doc_id" % 5 === 0).withColumn("doc_id", $"doc_id" + 10000))
    val fast = Dedup.duplicateClustersByText(real, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val generic = Dedup.duplicateClusters(
      real.select("doc_id"), "doc_id",
      Dedup.minhashDedupPairs(real, "doc_id", "text").select("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    fast shouldBe generic
    fast.values.toSet.size should be < fast.size // some real clusters formed
  }

  test("Relational.asofJoin picks the latest right row at or before each left ts") {
    val l = Seq((1L, 10L, 100L, "p1"), (1L, 20L, 101L, "p2"), (2L, 5L, 102L, "p3"))
      .toDF("user", "ts", "eid", "tag")
    val r = Seq((1L, 10L, 0.5), (1L, 15L, 0.7), (2L, 9L, 0.9))
      .toDF("user", "ts", "v")
    val out = Relational.asofJoin(l, r, Seq("user"), "ts", Seq("ts", "v"), "_r")
      .orderBy("eid").collect()
    // p1: equal-ts right row matches (≤ semantics); p2: latest is ts 15;
    // p3: no right row at or before ts 5 → nulls
    out(0).getLong(out(0).fieldIndex("ts_r")) shouldBe 10L
    out(0).getDouble(out(0).fieldIndex("v_r")) shouldBe 0.5
    out(1).getLong(out(1).fieldIndex("ts_r")) shouldBe 15L
    out(1).getDouble(out(1).fieldIndex("v_r")) shouldBe 0.7
    out(2).isNullAt(out(2).fieldIndex("ts_r")) shouldBe true
    out(2).isNullAt(out(2).fieldIndex("v_r")) shouldBe true
  }

  test("Relational.asofJoinSalted matches asofJoin on a skewed fixture") {
    // one hot key (user 1) with 400 interleaved left/right rows spanning
    // many buckets, incl. bucket-boundary carries and a payload-null gap
    val l = ((0 until 400).map(i => (1L, i * 10L, 10000L + i, s"p$i")) ++
      Seq((2L, 5L, 99999L, "cold"))).toDF("user", "ts", "eid", "tag")
    val r = ((0 until 400 by 3).map(i => (1L, i * 10L + 1L, i.toDouble)) ++
      Seq((2L, 9L, 0.9))).toDF("user", "ts", "v")
    def key(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(x => (x.getLong(2), if (x.isNullAt(4)) None else Some(x.getLong(4)),
        if (x.isNullAt(5)) None else Some(x.getDouble(5)))).toSet
    val plain = key(Relational.asofJoin(
      l, r, Seq("user"), "ts", Seq("ts", "v"), "_r").collect())
    val salted = Relational.asofJoinSalted(
      l, r, Seq("user"), "ts", Seq("ts", "v"),
      t => floor(t / 500L), "_r") // 500-tick buckets → 8 partitions for user 1
    key(salted.collect()) shouldBe plain
    // the salted window really partitions by (key, bucket): the hot key's
    // timeline is split across bucket partitions instead of one task
    val plan = salted.queryExecution.executedPlan.toString
    assert(plan.matches("(?s).*hashpartitioning\\(user#\\d+L?, __bkt#\\d+.*"),
      s"expected (key, bucket) partitioning in plan:\n$plan")
  }

  test("Relational.topKPerGroup keeps k rows per key in order") {
    val df = Seq(("a", 1L, 10), ("a", 2L, 30), ("a", 3L, 20), ("b", 4L, 5))
      .toDF("k", "id", "score")
    val out = Relational.topKPerGroup(
      df, Seq("k"), Seq($"score".desc, $"id".asc), 2)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    out shouldBe Set(("a", 2L), ("a", 3L), ("b", 4L))
  }

  test("Relational.rangeJoin matches the brute-force inequality join") {
    // intervals spanning 1..many buckets, touching bucket boundaries,
    // a zero-length interval, an inverted (end < start) interval, and a
    // point landing exactly on start/end
    val pts = Seq((1L, 5L, "a"), (2L, 10L, "a"), (3L, 27L, "a"), (4L, 10L, "b"),
      (5L, 0L, "a"), (6L, 100L, "a")).toDF("pid", "t", "k")
    val ivs = Seq((10L, 0L, 10L, "a"), (11L, 9L, 30L, "a"), (12L, 10L, 10L, "a"),
      (13L, 20L, 5L, "a"), (14L, 8L, 12L, "b")).toDF("iid", "s", "e", "k")
    def key(rows: Array[Row]) =
      rows.map(r => (r.getLong(r.fieldIndex("pid")), r.getLong(r.fieldIndex("iid")))).toSet
    val brute = key(pts.join(ivs, Seq("k")).filter($"t" >= $"s" && $"t" <= $"e").collect())
    val out = Relational.rangeJoin(pts, ivs, "t", "s", "e", Seq("k"), bucketWidth = 8L)
    key(out.collect()) shouldBe brute
    // each match appears exactly once even when the interval spans buckets
    out.count() shouldBe brute.size
    // half-open variant drops the point sitting exactly on an interval end
    val open = key(Relational.rangeJoin(pts, ivs, "t", "s", "e", Seq("k"),
      bucketWidth = 8L, inclusiveEnd = false).collect())
    open shouldBe key(pts.join(ivs, Seq("k")).filter($"t" >= $"s" && $"t" < $"e").collect())
    open should not be brute
  }

  test("Relational.rangeJoin plans as a hash equi-join, never a nested loop") {
    val pts = (0L until 200L).map(i => (i, i * 3L)).toDF("pid", "t")
    val ivs = (0L until 50L).map(i => (1000L + i, i * 10L, i * 10L + 25L))
      .toDF("iid", "s", "e")
    val out = Relational.rangeJoin(pts, ivs, "t", "s", "e", Nil, bucketWidth = 16L)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"range join must bucket into an equi-join:\n$plan")
    // keyless brute-force cross-check
    val brute = pts.join(ivs).filter($"t" >= $"s" && $"t" <= $"e").count()
    out.count() shouldBe brute
  }

  test("Dedup.dedupAgainstCorpus drops corpus near-dups then intra-batch dups") {
    val corpus = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"),
    ).toDF("doc_id", "text")
    val incoming = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),   // dup of corpus → dropped
      (2L, "totally novel content first variant appears here"),
      (3L, "totally novel content first variant appears here"), // intra dup of 2 → dropped
      (4L, "an entirely different standalone document"),
    ).toDF("doc_id", "text")
    val out = Dedup.dedupAgainstCorpus(incoming, corpus, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    out shouldBe Set(2L, 4L)
  }

  test("NearDupIndex: fit → disk → load → probe matches dedupAgainstCorpus; append ≡ rebuild") {
    val corpus = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"),
      (101L, "shared legal boilerplate text appears in many documents"),
    ).toDF("doc_id", "text")
    val batch1 = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),   // corpus dup → dropped
      (2L, "totally novel content first variant appears here"),
      (3L, "totally novel content first variant appears here"), // intra dup of 2 → dropped
      (4L, "an entirely different standalone document"),
      (5L, "xy"), // too short to shingle: always survives
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_ndidx_t").toString
    Dedup.nearDupIndexFit(corpus, "doc_id", "text").save(dir)
    val loaded = Dedup.NearDupIndex.load(spark, dir)
    loaded.n shouldBe 3
    loaded.numHashes shouldBe 64
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.collect().map(_.getLong(0)).toSet
    val direct = ids(Dedup.dedupAgainstCorpus(batch1, corpus, "doc_id", "text"))
    val survivors = Dedup.nearDupIndexApply(batch1, "doc_id", "text", loaded)
    ids(survivors) shouldBe direct
    ids(survivors) shouldBe Set(2L, 4L, 5L)
    // the loaded index is disk-backed: its frames are parquet relations,
    // so the probe never touches (or recomputes) the corpus table
    loaded.feats.queryExecution.analyzed.toString.toLowerCase should include ("parquet")

    // APPEND the survivors (the nightly-ingest loop), then probe batch 2:
    // identical results to a from-scratch fit of the grown corpus
    Dedup.appendToNearDupIndex(survivors, "doc_id", "text", dir)
    val grown = Dedup.NearDupIndex.load(spark, dir)
    val batch2 = Seq(
      (10L, "totally novel content first variant appears here"), // dup of appended 2
      (11L, "the quick brown fox jumps over the lazy cat"),      // near-dup of corpus 100
      (12L, "fresh never before seen content in this round"),
    ).toDF("doc_id", "text")
    val rebuilt = Dedup.nearDupIndexFit(
      corpus.unionByName(survivors.filter($"doc_id" =!= 5L)), "doc_id", "text")
    val viaAppend = ids(Dedup.nearDupIndexApply(batch2, "doc_id", "text", grown))
    viaAppend shouldBe ids(Dedup.nearDupIndexApply(batch2, "doc_id", "text", rebuilt))
    viaAppend shouldBe Set(12L)
    // empty append is a true no-op: no junk generation committed
    val gensBefore = new java.io.File(dir).listFiles().count(_.getName.startsWith("gen-"))
    Dedup.appendToNearDupIndex(batch1.filter($"doc_id" < 0), "doc_id", "text", dir)
    new java.io.File(dir).listFiles().count(_.getName.startsWith("gen-")) shouldBe gensBefore
    // an orphan generation directory (crash mid-append) is ignored by load
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(dir).resolve("gen-00099"))
    ids(Dedup.nearDupIndexApply(batch2, "doc_id", "text",
      Dedup.NearDupIndex.load(spark, dir))) shouldBe Set(12L)
  }

  test("Curation.curate optional scrub/span stages compose into the chain") {
    val df = Seq(
      (1L, "contact alice@example.com about the quick brown fox jumping high today"),
      (2L, "contact alice@example.com about some other matter entirely different here"),
      (3L, "LEGAL BOILERPLATE SPAN plus unique content words one two three four five"),
      (4L, "LEGAL BOILERPLATE SPAN plus different unique following text six seven eight nine"),
      (5L, "LEGAL BOILERPLATE SPAN with more distinct trailing words ten eleven twelve thirteen"),
      (6L, "LEGAL BOILERPLATE SPAN and yet another unique continuation fourteen fifteen sixteen seventeen"),
    ).toDF("doc_id", "text")
    val out = Curation.curate(df, "doc_id", "text",
      redactPii = true, spanDedupMaxDocFreq = 3L, spanDedupN = 3,
      maxTopWordFrac = 0.5, nearDup = false)
    out.count() shouldBe 6 // all pass quality; nothing became an exact dup
    // PII scrubbed and the 4-doc boilerplate span cut before fingerprinting
    val texts = out.orderBy("doc_id").collect().map(_.getString(1))
    texts(0) should include("<EMAIL>")
    texts.drop(2).foreach { t =>
      t should not include "LEGAL BOILERPLATE SPAN"
    }
  }

  test("Similarity.groupCentroids: exact per-group means, nulls skipped") {
    val df = Seq(
      (0, Seq(1.0f, 2.0f)), (0, Seq(3.0f, 6.0f)), (0, null),
      (1, Seq(-1.0f, 0.5f)),
    ).toDF("label", "embedding")
    def key(rows: Array[Row]) = rows.map { r =>
      (r.getInt(0), r.getSeq[Double](1), r.getLong(2))
    }.toSet
    val fast = key(Similarity.groupCentroids(df, "label", "embedding").collect())
    fast shouldBe Set(
      (0, Seq(2.0, 4.0), 2L),   // null vector excluded from count and mean
      (1, Seq(-1.0, 0.5), 1L))
  }

  test("Relational.sessionize splits per-key timelines on inactivity gaps") {
    val e = Seq(
      (1L, 1L, 0L), (2L, 1L, 50L), (3L, 1L, 151L),  // gap 101 > 100 → new session
      (4L, 1L, 251L),                                // gap exactly 100 → same session
      (5L, 2L, 10L),                                 // separate key restarts at 1
    ).toDF("event_id", "user", "t")
    val out = Relational.sessionize(e, Seq("user"), "t", maxGap = 100L,
      tieCols = Seq("event_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(r.fieldIndex("session_id"))).toMap
    out shouldBe Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 2L, 5L -> 1L)
  }

  test("Relational.sessionizeSalted matches sessionize on a skewed fixture") {
    // one hot key with 300 events spanning many buckets: sessions that
    // cross bucket boundaries (small gaps at multiples near the bucket
    // edge) AND boundary gaps that start new sessions; plus a cold key
    val hot = (0 until 300).map { i =>
      // irregular spacing: mostly 40-tick gaps (same session), every 7th
      // jump 200 ticks (new session); buckets are 500 wide below
      val t = (0 until i).map(j => if (j % 7 == 6) 200L else 40L).sum
      (i.toLong, 1L, t)
    }
    val all = (hot :+ ((9999L, 2L, 123L))).toDF("eid", "user", "t")
    def key(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(r.fieldIndex("eid")),
        r.getLong(r.fieldIndex("session_id")))).toSet
    val plain = key(Relational.sessionize(
      all, Seq("user"), "t", maxGap = 100L, tieCols = Seq("eid")).collect())
    val salted = Relational.sessionizeSalted(
      all, Seq("user"), "t", maxGap = 100L,
      t => floor(t / 500L), tieCols = Seq("eid"))
    key(salted.collect()) shouldBe plain
    // the heavy window really partitions by (key, bucket)
    val plan = salted.queryExecution.executedPlan.toString
    assert(plan.matches("(?s).*hashpartitioning\\(user#\\d+L?, __graft_bkt#\\d+.*"),
      s"expected (key, bucket) partitioning in plan:\n$plan")
  }

  test("Relational.rollingFeatures counts/sums the trailing window per key") {
    val e = Seq(
      (1L, 1L, 0L, 10L), (2L, 1L, 5L, 20L), (3L, 1L, 11L, 40L), (4L, 2L, 6L, 7L),
    ).toDF("event_id", "user", "t", "v")
    val out = Relational.rollingFeatures(e, Seq("user"), "t", "v",
      Seq("w" -> 10L))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(r.fieldIndex("n_w")), r.getLong(r.fieldIndex("sum_w")))).toMap
    // id 3 at t=11: [1, 11] covers t=5 and t=11 only (t=0 just outside)
    out shouldBe Map(1L -> ((1L, 10L)), 2L -> ((2L, 30L)), 3L -> ((2L, 60L)),
      4L -> ((1L, 7L)))
    // all spans share one partitioning: exactly one exchange in the plan
    val plan = Relational.rollingFeatures(e, Seq("user"), "t", "v",
      Seq("a" -> 10L, "b" -> 100L)).queryExecution.executedPlan.toString
    "Exchange hashpartitioning".r.findAllIn(plan).size shouldBe 1
  }

  test("Relational.rollingFeaturesSalted matches rollingFeatures on a skewed fixture") {
    // one hot key with 400 irregularly spaced events spanning many buckets
    // (bucket width 100 below; spans 50 and 250 — the long span needs
    // ghosts from THREE predecessor buckets), plus a cold key
    val hot = (0 until 400).map { i =>
      val t = (0 until i).map(j => if (j % 5 == 4) 90L else 13L).sum
      (i.toLong, 1L, t, (i % 17).toLong)
    }
    val all = (hot :+ ((9999L, 2L, 123L, 7L))).toDF("eid", "user", "t", "v")
    def key(rows: Array[org.apache.spark.sql.Row]) = rows.map { r =>
      (r.getLong(r.fieldIndex("eid")),
        r.getLong(r.fieldIndex("n_a")), r.getLong(r.fieldIndex("sum_a")),
        r.getLong(r.fieldIndex("n_b")), r.getLong(r.fieldIndex("sum_b")))
    }.toSet
    val spans = Seq("a" -> 50L, "b" -> 250L)
    val plain = key(Relational.rollingFeatures(
      all, Seq("user"), "t", "v", spans).collect())
    val salted = Relational.rollingFeaturesSalted(
      all, Seq("user"), "t", "v", spans, bucketWidth = 100L)
    key(salted.collect()) shouldBe plain
    // the heavy window really partitions by (key, bucket) — a single hot
    // key becomes #buckets tasks, and all spans share one Exchange
    // look at the final plan only — AQE's toString repeats the pre-adaptive
    // plan under "== Initial Plan ==", double-counting the one Exchange
    val plan = salted.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(plan.matches("(?s).*hashpartitioning\\(user#\\d+L?, __graft_bkt#\\d+.*"),
      s"expected (key, bucket) partitioning in plan:\n$plan")
    "Exchange hashpartitioning".r.findAllIn(plan).size shouldBe 1
    // absurd replication factors are rejected loudly
    intercept[IllegalArgumentException] {
      Relational.rollingFeaturesSalted(all, Seq("user"), "t", "v",
        Seq("x" -> 100000L), bucketWidth = 10L)
    }
  }

  test("Relational.rollingFeaturesSalted stays exact above 2^53 ticks (long bucket math)") {
    // epoch-nanosecond regime: double ulp at 1.7e18 is 256, so a double
    // floor-division would misplace boundary ghosts and silently undercount
    // — the bucket ids must be computed in long arithmetic
    val base = 1_700_000_000_000_000_000L
    val offs = Seq(0L, 1L, 99L, 100L, 101L, 177L, 250L, 299L, 300L, 455L)
    val rows = offs.zipWithIndex.map { case (o, i) => (i.toLong, 1L, base + o, 1L) }
    val all = rows.toDF("eid", "user", "t", "v")
    def key(rs: Array[org.apache.spark.sql.Row]) = rs.map { r =>
      (r.getLong(r.fieldIndex("eid")),
        r.getLong(r.fieldIndex("n_w")), r.getLong(r.fieldIndex("sum_w")))
    }.toSet
    val spans = Seq("w" -> 100L)
    val plain = key(Relational.rollingFeatures(all, Seq("user"), "t", "v", spans).collect())
    val salted = key(Relational.rollingFeaturesSalted(
      all, Seq("user"), "t", "v", spans, bucketWidth = 100L).collect())
    salted shouldBe plain
    // sanity: the fixture really exercises multi-bucket frames
    // t=base+101 → frame [base+1, base+101] covers offsets 1, 99, 100, 101
    plain.find(_._1 == 4L).get._2 shouldBe 4L
  }

  test("Relational.looMeanEncode excludes each row's own target") {
    val df = Seq(
      ("a", Some(10L)), ("a", Some(20L)), ("a", None), // null target → plain mean
      ("b", Some(5L)),                                 // singleton → NULL
    ).toDF("cat", "y")
    val out = Relational.looMeanEncode(df, "cat", "y", "y_loo")
      .collect().map(r => (r.getString(0), if (r.isNullAt(1)) None else Some(r.getLong(1)),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
    out shouldBe Set(
      ("a", Some(10L), Some(20.0)), // mean of {20}
      ("a", Some(20L), Some(10.0)), // mean of {10}
      ("a", None, Some(15.0)),      // mean of all non-null
      ("b", Some(5L), None))        // no other rows
  }

  test("rangeJoin fails loudly on a pathological interval instead of exploding") {
    val pts = Seq((1L, 5L)).toDF("pid", "t")
    val ivs = Seq((10L, 0L, 10000000L)).toDF("iid", "s", "e") // 1M buckets at width 10
    val ex = intercept[Exception] {
      Relational.rangeJoin(pts, ivs, "t", "s", "e", Nil,
        bucketWidth = 10L, maxBucketsPerInterval = 1000).count()
    }
    ex.getMessage should include("spans more than 1000 buckets")
    // new-op parameter validation is eager and descriptive
    intercept[IllegalArgumentException] {
      Relational.rangeJoin(pts, ivs, "t", "s", "e", bucketWidth = 0L)
    }
    intercept[IllegalArgumentException] {
      Relational.sessionize(pts.toDF("eid", "ts"), Seq("eid"), "ts", maxGap = -1L)
    }
    intercept[IllegalArgumentException] {
      TextOps.chunkTokens(pts.toDF("id", "text"), "text", chunkSize = 4, overlap = 4)
    }
    intercept[IllegalArgumentException] {
      Relational.rollingFeatures(pts.toDF("id", "t"), Seq("id"), "t", "t", Nil)
    }
  }

  test("TextOps.chunkTokens emits exact overlapping windows") {
    val df = Seq(
      (1L, (1 to 11).map(i => s"w$i").mkString(" ")), // 11 tokens
      (2L, "only three tokens"),                      // ≤ chunkSize → 1 chunk
      (3L, ""),                                       // empty → no chunks
      (4L, "   \t "),                                 // whitespace-only → no chunks
    ).toDF("doc_id", "text")
    val out = TextOps.chunkTokens(df, "text", chunkSize = 4, overlap = 1)
      .select("doc_id", "chunk_id", "chunk_text", "chunk_tokens")
      .orderBy("doc_id", "chunk_id").collect()
    // doc 1: stride 3 → starts 1,4,7,10 → ceil((11−4)/3)+1 = 4 chunks
    val d1 = out.filter(_.getLong(0) == 1L)
    d1.map(_.getLong(1)).toSeq shouldBe Seq(0L, 1L, 2L, 3L)
    d1.map(_.getString(2)).toSeq shouldBe Seq(
      "w1 w2 w3 w4", "w4 w5 w6 w7", "w7 w8 w9 w10", "w10 w11")
    d1.map(_.getInt(3)).toSeq shouldBe Seq(4, 4, 4, 2)
    // consecutive chunks share exactly `overlap` tokens
    d1.sliding(2).foreach { case Array(a, b) =>
      a.getString(2).split(" ").last shouldBe b.getString(2).split(" ").head
    }
    out.filter(_.getLong(0) == 2L).map(_.getString(2)).toSeq shouldBe Seq("only three tokens")
    out.count(r => r.getLong(0) >= 3L) shouldBe 0
  }

  test("removeRepeatedSpans leaves untouched docs byte-identical (whitespace intact)") {
    val df = Seq(
      (1L, "line one\nline two\twith   spacing"), // unique → byte-identical
      (2L, "SHARED SPAN HERE plus alpha"),
      (3L, "SHARED SPAN HERE plus beta"),
      (4L, "SHARED SPAN HERE plus gamma"),
    ).toDF("doc_id", "text")
    val out = TextOps.removeRepeatedSpans(df, "doc_id", "text", n = 3, maxDocFreq = 2L)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    out(1L) shouldBe "line one\nline two\twith   spacing" // not re-joined
    // both "SHARED SPAN HERE" and "SPAN HERE plus" repeat in 3 docs, so
    // positions 0-3 are covered and only the unique tail survives
    out(2L) shouldBe "alpha"
  }

  test("groupCentroids on empty / all-null input returns empty, not a crash") {
    val empty = Seq.empty[(Int, Seq[Float])].toDF("label", "embedding")
    Similarity.groupCentroids(empty, "label", "embedding").count() shouldBe 0
    val allNull = Seq((1, null: Seq[Float]), (2, null: Seq[Float]))
      .toDF("label", "embedding")
    Similarity.groupCentroids(allNull, "label", "embedding").count() shouldBe 0
  }

  test("chunkTokens refuses input that already carries its output columns") {
    val df = Seq((1L, "a b c", 9L)).toDF("id", "text", "chunk_id")
    val ex = intercept[graft.errors.FeatureFactoryException.InvalidParameter] {
      TextOps.chunkTokens(df, "text", 4)
    }
    ex.getMessage should include("chunk_id")
  }

  test("TextOps.removeRepeatedSpans cuts common n-gram runs, keeps unique text") {
    val df = Seq(
      (1L, "alpha beta COPY RIGHT NOTICE gamma delta"),
      (2L, "other words COPY RIGHT NOTICE trailing bits"),
      (3L, "COPY RIGHT NOTICE standalone prefix case"),
      (4L, "no shared spans here at all"),
      (5L, "tiny doc"), // shorter than n → no grams, unchanged
    ).toDF("doc_id", "text")
    val out = TextOps.removeRepeatedSpans(df, "doc_id", "text", n = 3, maxDocFreq = 2L)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // "COPY RIGHT NOTICE" appears in 3 distinct docs (> 2) → its tokens cut
    out(1L) shouldBe "alpha beta gamma delta"
    out(2L) shouldBe "other words trailing bits"
    out(3L) shouldBe "standalone prefix case"
    out(4L) shouldBe "no shared spans here at all"
    out(5L) shouldBe "tiny doc"
    // a doc that is nothing but the common span comes back empty
    val full = TextOps.removeRepeatedSpans(
      df.union(Seq((6L, "COPY RIGHT NOTICE"), (7L, "COPY RIGHT NOTICE"))
        .toDF("doc_id", "text")),
      "doc_id", "text", n = 3, maxDocFreq = 2L)
      .filter($"doc_id" === 6L).head().getString(1)
    full shouldBe ""
  }

  test("TextOps.redactPii scrubs emails, phones, and IPs in safe order") {
    val df = Seq(
      (1L, "mail bob.smith+x@corp.example.org and carol@ex.io now"),
      (2L, "call 415-555-0199 or 415.555.0100 at 10.0.0.1"),
      (3L, "version 1.2.3 stays; 123.456.7890 is a phone, not an IP"),
      (4L, "clean text untouched"),
    ).toDF("doc_id", "text")
    val out = TextOps.redactPii(df, "text").orderBy("doc_id")
      .collect().map(_.getString(1))
    out(0) shouldBe "mail <EMAIL> and <EMAIL> now"
    out(1) shouldBe "call <PHONE> or <PHONE> at <IP>"
    // the phone pattern wins before the dotted-quad pattern can misfire
    out(2) shouldBe "version 1.2.3 stays; <PHONE> is a phone, not an IP"
    out(3) shouldBe "clean text untouched"
  }

  test("Sampling is deterministic and stratified counts are capped") {
    val df = (1L to 1000L).map(i => (i, (i % 3).toString)).toDF("id", "k")
    val s1 = Sampling.hashSample(df, "id", 20).collect().map(_.getLong(0)).toSet
    val s2 = Sampling.hashSample(df, "id", 20).collect().map(_.getLong(0)).toSet
    s1 shouldBe s2
    s1.size should (be > 120 and be < 280) // ~20% of 1000
    // 0% and 100% edges
    Sampling.hashSample(df, "id", 0).count() shouldBe 0
    Sampling.hashSample(df, "id", 100).count() shouldBe 1000
    val strat = Sampling.stratifiedSample(df, "k", "id", 7)
      .groupBy("k").count().collect().map(_.getLong(1))
    strat.foreach(_ shouldBe 7L)
    // train/test split: partition of the input, consistent with hashSample
    val split = Sampling.trainTestSplit(df, "id", 20)
    split.count() shouldBe 1000
    val train = split.filter($"split" === "train").collect().map(_.getLong(0)).toSet
    train shouldBe s1 // same 20% hash bucket as hashSample(20)
  }

  test("Dedup.ngramJaccardPairs computes exact jaccard on hand value") {
    // "abcdef" grams {abc,bcd,cde,def}; "abcdefg" adds {efg}: 4/5 = 0.8
    val two = Seq((1L, "abcdef"), (2L, "abcdefg")).toDF("doc_id", "text")
    val out = Dedup.ngramJaccardPairs(two, "doc_id", "text", n = 3, threshold = 0.7)
    val r = out.head()
    (r.getLong(0), r.getLong(1)) shouldBe ((1L, 2L))
    r.getDouble(2) shouldBe 0.8
  }

  test("Dedup.simhashCandidates: identical texts at hamming 0, distinct text absent") {
    val out = Dedup.simhashCandidates(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    out((1L, 2L)) shouldBe 0
    out.keys.flatMap(p => Seq(p._1, p._2)) should not contain 3L
  }

  // ── Similarity ───────────────────────────────────────────────────────

  private lazy val vecs = Seq(
    (0L, Seq(1.0f, 0.0f, 0.0f)),
    (1L, Seq(1.0f, 0.0f, 0.0f)),   // identical to query
    (2L, Seq(0.0f, 1.0f, 0.0f)),   // orthogonal
    (3L, Seq(0.6f, 0.8f, 0.0f)),   // cos = 0.6
  ).toDF("vec_id", "embedding")

  test("Similarity.cosineTopK ranks by cosine with id tiebreak") {
    val out = Similarity.cosineTopK(vecs, "vec_id", "embedding", Seq(1.0, 0.0, 0.0), 3)
      .collect()
    out.map(_.getLong(0)).toSeq shouldBe Seq(0L, 1L, 3L)
    assert(approxEqual(out(2).getDouble(1), 0.6, 1e-7))
  }

  test("Similarity.loadEmbeddings: valid dumps import as a no-op, violations are loud") {
    val d = java.nio.file.Files.createTempDirectory("graft_emb_import")
    def write(df: org.apache.spark.sql.DataFrame, name: String): String = {
      val p = d.resolve(name).toString
      df.write.mode("overwrite").parquet(p); p
    }
    // a valid float dump: row set unchanged, schema lands array<float>
    val good = write(vecs, "good.parquet")
    val in = Similarity.loadEmbeddings(spark, good, dim = 3)
    in.count() shouldBe 4
    in.schema("embedding").dataType shouldBe
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType, true)
    // merely BUILDING the frame runs no job and throws nothing (lazy);
    // double-typed dumps import too (downcast to float)
    val dbl = write(
      Seq((7L, Seq(0.25, 0.5, 0.75))).toDF("vec_id", "embedding"), "dbl.parquet")
    Similarity.loadEmbeddings(spark, dbl, dim = 3)
      .head().getSeq[Float](1) shouldBe Seq(0.25f, 0.5f, 0.75f)
    // the import feeds the sim stack unchanged
    Similarity.cosineTopK(in, "vec_id", "embedding", Seq(1.0, 0.0, 0.0), 1)
      .head().getLong(0) shouldBe 0L
    // dim mismatch fails the first task that reads the row, id in message
    val short = write(
      Seq((5L, Seq(1.0f, 2.0f))).toDF("vec_id", "embedding"), "short.parquet")
    val eDim = intercept[Exception](
      Similarity.loadEmbeddings(spark, short, dim = 3).collect())
    eDim.getMessage should include("id=5")
    eDim.getMessage should include("float[3]")
    // NaN component and NULL id are violations too
    val nan = write(
      Seq((6L, Seq(1.0f, Float.NaN, 0.0f))).toDF("vec_id", "embedding"),
      "nan.parquet")
    an[Exception] should be thrownBy
      Similarity.loadEmbeddings(spark, nan, dim = 3).collect()
    val nullId = write(
      Seq((Option.empty[Long], Seq(1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding"),
      "nullid.parquet")
    an[Exception] should be thrownBy
      Similarity.loadEmbeddings(spark, nullId, dim = 3).collect()
    // ±Infinity is a violation too (isnan alone would admit it and the
    // Inf would surface downstream as NaN/Inf cosines — round-14 review)
    val inf = write(
      Seq((8L, Seq(1.0f, Float.PositiveInfinity, 0.0f)),
        (9L, Seq(Float.NegativeInfinity, 0.0f, 0.0f))).toDF("vec_id", "embedding"),
      "inf.parquet")
    an[Exception] should be thrownBy
      Similarity.loadEmbeddings(spark, inf, dim = 3).collect()
    // schema problems are PLAN-time loud: wrong type, missing column
    val wrongType = write(
      Seq((1L, "not a vector")).toDF("vec_id", "embedding"), "wt.parquet")
    val eType = intercept[Exception](
      Similarity.loadEmbeddings(spark, wrongType, dim = 3))
    eType.getMessage should include("array<float>")
    an[Exception] should be thrownBy
      Similarity.loadEmbeddings(spark, good, dim = 3, embCol = "no_such")
    an[IllegalArgumentException] should be thrownBy
      Similarity.loadEmbeddings(spark, good, dim = 0)
  }

  test("Similarity.annTopK finds the identical vector through the LSH prune") {
    val out = Similarity.annTopK(vecs, "vec_id", "embedding", Seq(1.0, 0.0, 0.0), 3,
      numPlanes = 4)
    val ids = out.collect().map(_.getLong(0)).toSet
    ids should contain(0L)
    ids should contain(1L) // same embedding → same bucket, always recalled
  }

  test("Similarity.ivfTopK recalls the identical vector through the probed cells") {
    val out = Similarity.ivfTopK(vecs, "vec_id", "embedding", Seq(1.0, 0.0, 0.0), 3,
      nlist = 2, nprobe = 1)
    val rows = out.collect()
    val ids = rows.map(_.getLong(0)).toSet
    ids should contain(0L) // the query IS vec 0 → its cell is always probed
    ids should contain(1L) // identical embedding → same cell
    rows.find(_.getLong(0) == 0L).get.getDouble(1) shouldBe 1.0 +- 1e-12
  }

  test("Similarity.assignCells broadcast-join path agrees with the literal path") {
    val cents = Similarity.ivfCentroids(vecs, "embedding", 2)
    def assignments(bcast: Boolean) =
      Similarity.assignCells(vecs, "vec_id", "embedding", cents, forceBroadcast = bcast)
        .select("id", "cell").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val litPath = assignments(bcast = false) // 2 × 3 doubles ≤ LiteralAssignMax
    val joinPath = assignments(bcast = true)
    joinPath shouldBe litPath
    litPath(0L) shouldBe litPath(1L) // identical embeddings share a cell
  }

  test("Similarity.ivfTopK through the broadcast-assignment path matches the literal path") {
    def run(bcast: Boolean) = Similarity.ivfTopK(vecs, "vec_id", "embedding",
      Seq(1.0, 0.0, 0.0), 3, nlist = 2, nprobe = 2, forceBroadcastAssign = bcast)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    run(bcast = true) shouldBe run(bcast = false) // same rows, bit-identical cosines
  }

  test("Similarity.ivfTopKBatch with a full probe equals the exact batch baseline") {
    val m = Similarity.ivfFit(vecs, "embedding", nlist = 2)
    val queries = vecs.filter(col("vec_id") < 2)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // nprobe = nlist probes every cell → the approximate search IS exact
    val approx = rows(Similarity.ivfTopKBatch(vecs, "vec_id", "embedding",
      queries, "vec_id", "embedding", m, k = 3, nprobe = 2))
    val exact = rows(Similarity.cosineTopKBatch(vecs, "vec_id", "embedding",
      queries, "vec_id", "embedding", 3))
    approx shouldBe exact
  }

  test("Similarity.ivfTopKBatch broadcast probe/assign path matches the literal path") {
    val m = Similarity.ivfFit(vecs, "embedding", nlist = 2)
    def run(bcast: Boolean) = Similarity.ivfTopKBatch(vecs, "vec_id", "embedding",
      vecs.filter(col("vec_id") < 2), "vec_id", "embedding", m,
      k = 3, nprobe = 1, forceBroadcastAssign = bcast)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    run(bcast = true) shouldBe run(bcast = false) // same rows, bit-identical cosines
  }

  test("Similarity.ivfTopKBatch collapses duplicate query rows on both paths") {
    val m = Similarity.ivfFit(vecs, "embedding", nlist = 2)
    val dupQ = vecs.filter(col("vec_id") < 2)
      .unionByName(vecs.filter(col("vec_id") < 2)) // every query row twice
    def run(bcast: Boolean) = Similarity.ivfTopKBatch(vecs, "vec_id", "embedding",
      dupQ, "vec_id", "embedding", m, k = 3, nprobe = 2,
      forceBroadcastAssign = bcast)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val clean = Similarity.ivfTopKBatch(vecs, "vec_id", "embedding",
      vecs.filter(col("vec_id") < 2), "vec_id", "embedding", m, k = 3, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // duplicated rows must not double candidates (literal path) or halve
    // the probe fan-out (broadcast path)
    run(bcast = false).sorted shouldBe clean.sorted
    run(bcast = true).sorted shouldBe clean.sorted
  }

  test("Similarity.ivfTopKBatch drops NaN-norm corpus rows instead of ranking them first") {
    val m = Similarity.IvfModel(Seq(Seq(1.0, 0.0, 0.0)))
    val poisoned = vecs.unionByName(
      Seq((99L, Seq(Float.NaN, 0.0f, 0.0f))).toDF("vec_id", "embedding"))
    val got = Similarity.ivfTopKBatch(poisoned, "vec_id", "embedding",
      vecs.filter(col("vec_id") === 0), "vec_id", "embedding", m, k = 2, nprobe = 1)
      .collect().map(_.getLong(1)).toSet
    got should not contain 99L
  }

  test("Similarity.ivfTopKBatch restricts candidates to the probed cells") {
    val m = Similarity.ivfFit(vecs, "embedding", nlist = 2)
    // vec 2 (orthogonal) lands in the other cell; with nprobe=1 the query
    // batch at (1,0,0) must never retrieve it
    val got = Similarity.ivfTopKBatch(vecs, "vec_id", "embedding",
      vecs.filter(col("vec_id") === 0), "vec_id", "embedding", m,
      k = 4, nprobe = 1)
      .collect().map(_.getLong(1)).toSet
    got should contain(0L)
    got should contain(1L)
    got should not contain 2L
  }

  test("Similarity.cellStats reports per-cell counts and distortion") {
    val m = Similarity.IvfModel(Seq(Seq(1.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0)))
    val got = Similarity.cellStats(vecs, "vec_id", "embedding", m)
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    got(0) shouldBe ((2L, 0.0)) // vecs 0, 1 sit exactly on centroid 0
    // cell 1: vec 2 at distance 0, vec 3 at 0.6² + 0.2² = 0.4 → mean 0.2
    // (float32 fixture values, so the doubles carry ~1e-8 representation
    // noise — the op itself only rounds at 1e-9)
    got(1)._1 shouldBe 2L
    got(1)._2 shouldBe 0.2 +- 1e-7
  }

  test("Similarity.cellBalancedSample caps dense cells, keeps sparse ones whole") {
    val m = Similarity.IvfModel(Seq(Seq(1.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0)))
    // cells: {0, 1} → cell 0; {2, 3} → cell 1 (vec 3 is nearer (0,1,0))
    def h(id: Long) = ((id % 2147483647L) * 48271L % 2147483647L) * 48271L % 2147483647L
    val got = Similarity.cellBalancedSample(vecs, "vec_id", "embedding", m, perCell = 1)
      .collect().map(r => (r.getLong(0), r.getInt(2))).toSet
    val want = Set(
      (Seq(0L, 1L).minBy(i => (h(i), i)), 0),
      (Seq(2L, 3L).minBy(i => (h(i), i)), 1))
    got shouldBe want
    // a quota above every cell size keeps everything (plus the cell column)
    Similarity.cellBalancedSample(vecs, "vec_id", "embedding", m, perCell = 10)
      .count() shouldBe 4
    // the giant-model fallback (slim assign + join back) picks the same rows
    val viaJoin = Similarity.cellBalancedSample(
      vecs, "vec_id", "embedding", m, perCell = 1, forceBroadcastAssign = true)
      .collect().map(r => (r.getLong(0), r.getInt(2))).toSet
    viaJoin shouldBe want
    // schema: input columns + cell
    Similarity.cellBalancedSample(vecs, "vec_id", "embedding", m, perCell = 1)
      .columns.toSeq shouldBe Seq("vec_id", "embedding", "cell")
  }

  test("Similarity.knnGraph matches hand kNN in one cell; the floor trims edges") {
    // one centroid → one cell → the graph is exact kNN over the whole set:
    //   cos(0,1)=1  cos(0,3)=cos(1,3)=0.6  cos(2,3)=0.8  cos(0,2)=cos(1,2)=0
    val m = Similarity.IvfModel(Seq(Seq(1.0, 0.0, 0.0)))
    val got = Similarity.knnGraph(vecs, "vec_id", "embedding", m, k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    got shouldBe Set(
      (0L, 1L, 1), (0L, 3L, 2),
      (1L, 0L, 1), (1L, 3L, 2),
      (2L, 3L, 1), (2L, 0L, 2), // ties at cos 0 break by neighbor id → 0
      (3L, 2L, 1), (3L, 0L, 2))
    // a 0.5 floor drops the cos-0 edges: node 2 keeps only its 0.8 edge
    val floored = Similarity
      .knnGraph(vecs, "vec_id", "embedding", m, k = 2, minCosine = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    floored shouldBe Set(
      (0L, 1L), (0L, 3L), (1L, 0L), (1L, 3L), (2L, 3L), (3L, 2L), (3L, 0L))
  }

  test("Similarity.knnGraph default floor keeps negative-cosine edges") {
    val m = Similarity.IvfModel(Seq(Seq(1.0, 0.0, 0.0)))
    val anti = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f)),
      (1L, Seq(-0.6f, -0.8f, 0.0f))).toDF("vec_id", "embedding")
    // the only same-cell neighbor sits at cos −0.6: the −∞ default must
    // keep it (a −1.0 sentinel would too, but guards the ulp-below-−1 case)
    val got = Similarity.knnGraph(anti, "vec_id", "embedding", m, k = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    got shouldBe Set((0L, 1L), (1L, 0L))
  }

  test("Similarity.knnGraph joins original ids back for non-integral id types") {
    val sv = Seq(
      ("a", Seq(1.0f, 0.0f, 0.0f)),
      ("b", Seq(1.0f, 0.0f, 0.0f)),
      ("c", Seq(0.0f, 1.0f, 0.0f))).toDF("doc", "embedding")
    val m = Similarity.IvfModel(Seq(Seq(1.0, 0.0, 0.0)))
    val got = Similarity.knnGraph(sv, "doc", "embedding", m, k = 1)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(3))).toSet
    got.size shouldBe 3 // every node has exactly one rank-1 edge
    got should contain(("a", "b", 1))
    got should contain(("b", "a", 1))
  }

  test("Similarity.evalRecall counts hits once and scores truth-only queries 0") {
    val truth = Seq(
      (1L, 10L), (1L, 11L), (1L, 12L), (2L, 20L),
      (1L, 10L), // duplicate truth row must not inflate n_truth or n_hit
    ).toDF("q", "n")
    val predicted = Seq(
      (1L, 10L), (1L, 10L), // duplicate prediction must count once
      (1L, 12L), (1L, 99L), // 99 is a miss
      (3L, 30L), // query 3 has no truth set → not scored
    ).toDF("q", "n")
    val got = Similarity.evalRecall(predicted, truth, "q", "n")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    got.keySet shouldBe Set(1L, 2L)
    got(1L) shouldBe ((3L, 2L, 2.0 / 3.0))
    got(2L) shouldBe ((1L, 0L, 0.0))
  }

  test("Similarity.randomProject matches the hand matmul and roughly preserves cosine") {
    val m = Similarity.signProjectionMatrix(2, 4)
    m.flatten.foreach(v => math.abs(v) shouldBe 1.0)
    val v = Seq(1.0f, 2.0f, -3.0f, 0.5f)
    val df = Seq((1L, v)).toDF("vec_id", "embedding")
    val got = Similarity.randomProject(df, "embedding", 2, inDim = 4)
      .head().getSeq[Double](2)
    val want = m.map(row =>
      row.zip(v).foldLeft(0.0) { case (a, (s, x)) => a + s * x.toDouble } / math.sqrt(2.0))
    got.zip(want).foreach { case (g, w) => g shouldBe w +- 1e-12 }
    // JL sanity on real embeddings: projected cosine of a near-dup pair
    // stays far above that of a random pair
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val p = Similarity.randomProject(e, "embedding", 16, inDim = 64)
      .select(col("vec_id"), col("embedding_rp"))
    def cosOf(a: Long, b: Long): Double = {
      val va = p.filter(col("vec_id") === a).head().getSeq[Double](1)
      val vb = p.filter(col("vec_id") === b).head().getSeq[Double](1)
      val d = va.zip(vb).map { case (x, y) => x * y }.sum
      d / (math.sqrt(va.map(x => x * x).sum) * math.sqrt(vb.map(x => x * x).sum))
    }
    // peek dim inference path too (inDim unset)
    Similarity.randomProject(e.limit(5), "embedding", 3)
      .head().getAs[Seq[Double]]("embedding_rp").length shouldBe 3
    val orig = Similarity.cosineTopK(e, "vec_id", "embedding",
      e.filter(col("vec_id") === 0).head().getSeq[Float](1).map(_.toDouble).toSeq, 2)
      .collect()
    val nearest = orig.map(_.getLong(0)).filter(_ != 0L).head
    cosOf(0L, nearest) should be > cosOf(0L, (nearest + 7) % 100)
  }

  test("Similarity.embeddingOutliers flags the injected far-away vector") {
    // 50 clustered vectors + one far outlier
    val base = (0 until 50).map(i =>
      (i.toLong, Seq(1.0f + (i % 5) * 0.01f, 2.0f - (i % 7) * 0.01f, 0.5f)))
    val all = base :+ (99L, Seq(50.0f, -40.0f, 30.0f))
    val df = all.toDF("vec_id", "embedding")
    val flagged = Similarity.embeddingOutliers(df, "vec_id", "embedding", z = 3.0)
      .collect().map(_.getLong(0)).toSet
    flagged shouldBe Set(99L)
    // the kernel-mean fit equals the driver-side mean after rounding
    val st = Similarity.embeddingOutlierStats(df, "embedding")
    def round9(x: Double): Double = math.rint(x * 1e9) / 1e9
    st.mean shouldBe (0 until 3).map(i => round9(all.map(_._2(i).toDouble).sum / all.size))
    // pre-fitted stats skip the fit jobs and give the same answer
    Similarity.embeddingOutliers(df, "vec_id", "embedding", z = 3.0, stats = st)
      .collect().map(_.getLong(0)).toSet shouldBe Set(99L)
    // JSON round trip is exact
    Similarity.OutlierStats.fromJsonString(st.toJsonString) shouldBe st
  }

  test("model loaders accept integer-formatted JSON numbers (external producers)") {
    // Python json.dump / minifiers write whole doubles as ints; json4s
    // parses those as JInt — loaders must not ClassCastException
    Similarity.IvfModel.fromJsonString(
      """{"version":1,"centroids":[[1, 2],[3.5, -4]]}""") shouldBe
      Similarity.IvfModel(Seq(Seq(1.0, 2.0), Seq(3.5, -4.0)))
    Similarity.OutlierStats.fromJsonString(
      """{"version":1,"mean":[0, 1.5],"meanDist":2,"stdDist":0.5}""") shouldBe
      Similarity.OutlierStats(Seq(0.0, 1.5), 2.0, 0.5)
    Similarity.PcaModel.fromJsonString(
      """{"version":1,"mean":[1],"components":[[1, 0]],"offsets":[1],"eigenvalues":[2]}""") shouldBe
      Similarity.PcaModel(Seq(1.0), Seq(Seq(1.0, 0.0)), Seq(1.0), Seq(2.0))
  }

  test("cosineNearDupPairs works with string ids (hash surrogate + join-back)") {
    val vecs = Seq(
      ("doc-a", Seq(1.0f, 0.0f, 0.0f)),
      ("doc-b", Seq(1.0f, 0.001f, 0.0f)), // near-dup of doc-a
      ("doc-c", Seq(0.0f, 1.0f, 0.0f)))
      .toDF("doc_id", "embedding")
    val pairs = Similarity.cosineNearDupPairs(vecs, "doc_id", "embedding",
      threshold = 0.99, dim = 3)
      .collect().map(r => Set(r.getString(0), r.getString(1)))
    pairs should contain(Set("doc-a", "doc-b"))
    pairs should have size 1
    // leading-zero numeric strings survive (a long round-trip would eat them)
    val zeroIds = Seq(("0123", Seq(1.0f, 0.0f, 0.0f)), ("123", Seq(1.0f, 0.0f, 0.0f)))
      .toDF("doc_id", "embedding")
    val zp = Similarity.cosineNearDupPairs(zeroIds, "doc_id", "embedding",
      threshold = 0.99, dim = 3)
      .collect().map(r => Set(r.getString(0), r.getString(1)))
    zp should contain(Set("0123", "123"))
  }

  test("cosineTopKBatch drops zero-norm vectors instead of ranking their NaN first") {
    val corpus = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.9f, 0.1f)),
      (3L, Seq(0.0f, 0.0f))) // corrupt zero vector
      .toDF("vec_id", "embedding")
    val out = Similarity.cosineTopKBatch(corpus, "vec_id", "embedding",
      corpus.filter(col("vec_id") === 1L), "vec_id", "embedding", 2)
      .collect().map(_.getLong(1)).toSet
    out shouldBe Set(1L, 2L) // the zero vector never enters a top-k
  }

  test("assignCells broadcast path keeps duplicate ids with different embeddings apart") {
    val cents = Seq(Seq(0.0, 0.0), Seq(10.0, 10.0))
    val dup = Seq((1L, Seq(0.1f, 0.1f)), (1L, Seq(9.9f, 9.9f)), (2L, Seq(0.2f, 0.1f)))
      .toDF("vec_id", "embedding")
    def cells(bcast: Boolean) =
      Similarity.assignCells(dup, "vec_id", "embedding", cents, forceBroadcast = bcast)
        .collect().map(r => (r.getLong(0), r.getInt(2))).sorted.toSeq
    cells(bcast = true) shouldBe cells(bcast = false)
    cells(bcast = true) shouldBe Seq((1L, 0), (1L, 1), (2L, 0))
  }

  test("asofJoinSalted rejects non-orderable payload types eagerly") {
    val l = Seq((1L, 10L)).toDF("k", "ts")
    val r = Seq((1L, 5L, Map("a" -> "b"))).toDF("k", "ts", "attrs")
    val e = intercept[graft.errors.FeatureFactoryException.InvalidParameter] {
      Relational.asofJoinSalted(l, r, Seq("k"), "ts", Seq("attrs"),
        b => pmod(b, lit(2)))
    }
    e.getMessage should include("non-orderable")
  }

  test("Similarity.cosineTopKBatch matches per-query cosineTopK") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val batch = Similarity.cosineTopKBatch(
      e, "vec_id", "embedding", e.filter(col("vec_id") < 3), "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(-_._3).map(t => (t._2, t._3)).toSeq).toMap
    batch.keySet shouldBe Set(0L, 1L, 2L)
    for (qid <- 0L to 2L) {
      val single = Similarity.cosineTopK(e, "vec_id", "embedding",
        e.filter(col("vec_id") === qid).head().getSeq[Float](1).map(_.toDouble).toSeq, 5)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      batch(qid).map(_._1) shouldBe single.map(_._1)
      // scores agree to float-assembly tolerance (single-query path folds
      // against a double literal, batch against the raw float row)
      batch(qid).map(_._2).zip(single.map(_._2)).foreach { case (b, s) =>
        b shouldBe s +- 1e-6
      }
    }
  }

  test("Similarity.pcaFit recovers the dominant axis; matches a driver-side eigensolve") {
    // points along y = 2x in 3D, tiny deterministic z jitter
    val pts = (0 until 40).map { i =>
      val t = (i - 20).toDouble / 10.0
      (i.toLong, Seq(t.toFloat, (2 * t).toFloat, ((i % 3) - 1).toFloat * 0.01f))
    }
    val df = pts.toDF("vec_id", "embedding")
    val m = Similarity.pcaFit(df, "embedding", 2)
    val w0 = m.components.head
    // dominant direction ∝ (1, 2, 0); sign convention: largest coord positive
    math.abs(w0(0) * 2 - w0(1)) should be < 1e-6
    math.abs(w0(2)) should be < 0.01
    w0(1) should be > 0.0
    m.eigenvalues.head should be > m.eigenvalues(1)
    // driver-side reference: mean and 1e-9-rounded sample covariance of
    // the collected points, eigensolved → the same mean, spectrum and
    // (sign-normalized) components
    val xs = pts.map(_._2.map(_.toDouble).toArray)
    val center = Array.tabulate(3)(i => xs.map(_(i)).sum / xs.length)
    def round9(x: Double): Double = math.rint(x * 1e9) / 1e9
    val cov = Array.tabulate(3, 3)((i, j) =>
      round9(xs.map(x => (x(i) - center(i)) * (x(j) - center(j))).sum / (xs.length - 1)))
    val (vals, vecs) = Similarity.jacobiEigen(cov)
    val top = vals.indices.sortBy(i => -vals(i)).take(2)
    m.mean.zip(center).foreach { case (a, b) => a shouldBe b +- 1e-12 }
    m.eigenvalues.zip(top.map(vals(_))).foreach { case (a, b) => a shouldBe b +- 1e-9 }
    m.components.zip(top.map(vecs(_))).foreach { case (w, v) =>
      val sgn = math.signum(v(v.indices.maxBy(i => math.abs(v(i)))))
      w.zip(v).foreach { case (a, b) => a shouldBe (b * sgn) +- 1e-6 }
    }
    // sample variance of the first projected coordinate = its eigenvalue
    val proj = Similarity.pcaProject(df, "embedding", m)
      .select("embedding_pca").collect().map(_.getSeq[Double](0))
    val c0 = proj.map(_.head)
    val mu = c0.sum / c0.length
    val v0 = c0.map(x => (x - mu) * (x - mu)).sum / (c0.length - 1)
    v0 shouldBe m.eigenvalues.head +- 1e-6
    // projected mean is ~0 (centering via the offset worked)
    math.abs(mu) should be < 1e-9
    // whitening: unit sample variance per component
    val white = Similarity.pcaProject(df, "embedding", m, whiten = true)
      .select("embedding_pca").collect().map(_.getSeq[Double](0))
    val w1 = white.map(_.head)
    val wmu = w1.sum / w1.length
    (w1.map(x => (x - wmu) * (x - wmu)).sum / (w1.length - 1)) shouldBe 1.0 +- 1e-9
    // JSON round trip is exact (doubles survive)
    val rt = Similarity.PcaModel.fromJsonString(m.toJsonString)
    rt shouldBe m
  }

  test("Similarity.quantizeEmbedding rounds symmetrically with per-vector scale") {
    val d = Seq(
      (1L, Seq(1.0f, 0.4f, -0.6f, 0.0f)), // scale 1/127: codes 127, 51, -76, 0
      (2L, Seq(0.0f, 0.0f, 0.0f, 0.0f))) // zero vector → scale 0, all-zero codes
      .toDF("vec_id", "embedding")
    val out = Similarity.quantizeEmbedding(d, "embedding").collect()
      .map(r => r.getLong(0) -> ((r.getDouble(2), r.getSeq[Byte](3)))).toMap
    out(1L)._1 shouldBe 1.0 / 127.0 +- 1e-9
    out(1L)._2 shouldBe Seq[Byte](127, 51, -76, 0)
    out(2L) shouldBe ((0.0, Seq[Byte](0, 0, 0, 0)))
    // reconstruction error bounded by scale/2 per component (+ float noise)
    val scale = 1.0 / 127.0
    val err = math.abs(51 * scale - 0.4)
    err should be <= scale / 2 + 1e-7
  }

  test("Similarity.cosineTopKQuantized ranks like the exact path on separated vectors") {
    val out = Similarity.cosineTopKQuantized(
      vecs, "vec_id", "embedding", Seq(1.0, 0.0, 0.0), 3).collect()
    out.map(_.getLong(0)).toSeq shouldBe Seq(0L, 1L, 3L) // same order as exact cosineTopK
    out(0).getDouble(1) shouldBe 1.0 +- 1e-12 // identical vector → cos exactly 1
  }

  test("Similarity.cosineNearDupPairs finds identical embeddings") {
    val out = Similarity.cosineNearDupPairs(vecs, "vec_id", "embedding",
      threshold = 0.99, dim = 3)
    val pairs = out.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    pairs should contain((0L, 1L))
    pairs.size shouldBe 1
  }

  test("cosineNearDupPairs tiles a degenerate bucket instead of one giant task") {
    // 1100 identical embeddings: every band puts all of them in ONE bucket.
    // With BlockSize 512 that bucket must split into 3 blocks → 6 tiles per
    // band, spread by an explicit repartition on (band, h, bi, bj).
    val n = 1100
    val degen = (0L until n.toLong).map(i => (i, Seq(0.6f, 0.8f, 0.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.cosineNearDupPairs(degen, "vec_id", "embedding",
      threshold = 0.99, dim = 3)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.matches("(?s).*hashpartitioning\\(band#\\d+, h#\\d+L?, bi#\\d+, bj#\\d+.*"),
      s"expected explicit tile repartition in plan:\n$plan")
    out.count() shouldBe n.toLong * (n - 1) / 2
  }

  test("general-path bucket-cap drops are counted under minhashDedupPairs") {
    // the general (non-bitmap) path routes through the shared candidate
    // pipeline — its drop counters must carry the name of the op the USER
    // called, not the internal helper's
    val saved = Dedup.MaxBitmapVocab
    try {
      Dedup.MaxBitmapVocab = 0 // force the general (est + exact-verify) path
      BucketCap.reset(spark)
      val docs = Seq(
        (1L, "the quick brown fox jumps over the lazy dog near the river"),
        (2L, "the quick brown fox jumps over the lazy dog near the rivers"),
        (3L, "the quick brown fox jumps over the lazy dog near the riverz"))
        .toDF("doc_id", "text")
      Dedup.minhashDedupPairs(docs, "doc_id", "text", maxBucketSize = 1).count()
      val (buckets, members) = BucketCap.drops(spark, "minhashDedupPairs")
      buckets should be > 0L
      members should be >= 2L * buckets
    } finally {
      Dedup.MaxBitmapVocab = saved
      BucketCap.reset(spark)
    }
  }

  test("cosineNearDupPairs drops buckets over maxBucketSize — and says so") {
    val degen = (0L until 50L).map(i => (i, Seq(1.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    BucketCap.reset(spark)
    Similarity.cosineNearDupPairs(degen, "vec_id", "embedding",
      threshold = 0.99, dim = 3, maxBucketSize = 10).count() shouldBe 0
    // all 50 identical vectors share one bucket per band (4 bands), each
    // over the cap of 10 — the drop is counted, not silent (accumulator
    // totals land before the action returns)
    BucketCap.drops(spark, "cosineNearDupPairs") shouldBe ((4L, 200L))
    // strict mode fails the query loudly instead
    spark.conf.set(BucketCap.StrictConfKey, "true")
    try {
      val ex = intercept[Exception] {
        Similarity.cosineNearDupPairs(degen, "vec_id", "embedding",
          threshold = 0.99, dim = 3, maxBucketSize = 10).count()
      }
      ex.getMessage should include("exceeds maxBucketSize=10")
    } finally spark.conf.unset(BucketCap.StrictConfKey)
    // under-cap runs leave the counters untouched
    BucketCap.reset(spark)
    Similarity.cosineNearDupPairs(degen, "vec_id", "embedding",
      threshold = 0.99, dim = 3).count() shouldBe 50L * 49 / 2
    BucketCap.drops(spark, "cosineNearDupPairs") shouldBe ((0L, 0L))
  }

  test("semanticDedup drops within-cell docs with an earlier near neighbor") {
    val m = Similarity.IvfModel(Seq(Seq(1.0, 0.0), Seq(0.0, 1.0)))
    val d = Seq(
      (1L, Seq(1.0f, 0.0f)), // cell 0, first → kept
      (2L, Seq(0.99f, 0.1f)), // cell 0, cos(1,2) ≈ 0.995 → dropped
      (3L, Seq(0.0f, 1.0f)), // cell 1, first → kept
      (4L, Seq(0.6f, 0.8f)), // cell 1, cos(3,4) = 0.8 < 0.95 → kept
      (5L, Seq(0.1f, 0.995f))) // cell 1, cos(3,5) ≈ 0.995 → dropped
      .toDF("vec_id", "embedding")
    val out = Similarity.semanticDedup(d, "vec_id", "embedding", m, threshold = 0.95)
    out.columns.toSeq shouldBe Seq("vec_id", "embedding")
    out.collect().map(_.getLong(0)).sorted.toSeq shouldBe Seq(1L, 3L, 4L)
    // cross-cell near-dups are NOT compared: 4's nearest same-direction
    // neighbor in cell 0 never pairs with it
    val inlineFit = Similarity.semanticDedup(d, "vec_id", "embedding",
      nlist = 2, threshold = 0.95)
    inlineFit.collect().map(_.getLong(0)).length should be >= 2
  }

  test("semanticDedup: incomparable rows never pair, always survive; id copies are peers") {
    val m = Similarity.IvfModel(Seq(Seq(1.0, 0.0)))
    val d = Seq(
      (java.lang.Long.valueOf(0L), Seq(1.0f, 0.0f)), // real id 0 — must survive
      (java.lang.Long.valueOf(1L), Seq(0.0f, 0.0f)), // zero norm: cosine undefined
      (java.lang.Long.valueOf(2L), Seq(0.0f, 0.0f)), // zero norm twin — NOT deduped
      (null.asInstanceOf[java.lang.Long], Seq(1.0f, 0.0f)), // NULL id near-dups id 0
      (java.lang.Long.valueOf(3L), Seq(0.9999f, 0.001f)), // genuine near-dup of 0
      (java.lang.Long.valueOf(4L), Seq(Float.NaN, 1.0f)), // NaN norm: undefined
      (java.lang.Long.valueOf(5L), Seq(0.6f, 0.8f)), // duplicate id, copy 1 (cos to 0 = 0.6)
      (java.lang.Long.valueOf(5L), Seq(0.6f, 0.8f)), // duplicate id, copy 2
      (java.lang.Long.valueOf(6L), Seq(0.59f, 0.81f))) // near-dups the id-5 pair (cos ≈ 0.99997)
      .toDF("vec_id", "embedding")
    def survivors = Similarity.semanticDedup(d, "vec_id", "embedding", m,
      threshold = 0.95).collect().map(r =>
      if (r.isNullAt(0)) None else Some(r.getLong(0))).toSeq.sortBy(_.map(_.toString))
    // 3 drops (earlier neighbor 0), 6 drops (earlier neighbors 5); the
    // NULL-id row neither drops nor deletes the real id 0 (the kernel
    // would read a null long field as 0); the NaN-norm row survives on
    // BOTH paths (Spark SQL says NaN >= t, the kernel's JVM compare says
    // no — excluded, so they agree); the two id-5 copies are order-peers
    // and BOTH survive (a = b pairs never enter the drop set)
    val expect = Seq(Some(0L), Some(1L), Some(2L), Some(4L),
      Some(5L), Some(5L), None).sortBy(_.map(_.toString))
    survivors shouldBe expect
    // cosineNearDupPairs handles NULL ids / zero norms / NaN norms itself:
    // only genuine pairs emerge ((5,6) arrives once per id-5 copy and
    // dedups to one row)
    def pairs = Similarity.cosineNearDupPairs(d, "vec_id", "embedding",
      threshold = 0.95, dim = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    pairs shouldBe Set((0L, 3L), (5L, 5L), (5L, 6L))
  }

  test("semanticDedup counts capped cells; their members all survive") {
    val m = Similarity.IvfModel(Seq(Seq(1.0, 0.0)))
    val degen = (0L until 50L).map(i => (i, Seq(1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    BucketCap.reset(spark)
    Similarity.semanticDedup(degen, "vec_id", "embedding", m,
      threshold = 0.95, maxClusterSize = 10).count() shouldBe 50
    BucketCap.drops(spark, "semanticDedup") shouldBe ((1L, 50L))
    spark.conf.set(BucketCap.StrictConfKey, "true")
    try {
      val ex = intercept[Exception] {
        Similarity.semanticDedup(degen, "vec_id", "embedding", m,
          threshold = 0.95, maxClusterSize = 10).count()
      }
      ex.getMessage should include("exceeds maxBucketSize=10")
    } finally spark.conf.unset(BucketCap.StrictConfKey)
    // under the cap, the 50 identical vectors collapse to the first id
    BucketCap.reset(spark)
    Similarity.semanticDedup(degen, "vec_id", "embedding", m, threshold = 0.95)
      .collect().map(_.getLong(0)).toSeq shouldBe Seq(0L)
    BucketCap.drops(spark, "semanticDedup") shouldBe ((0L, 0L))
  }

  test("cosineNearDupPairs equals a driver-side brute-force cosine reference") {
    val vecs = (0L until 40L).map(i => (i, Seq(0.6f, 0.8f, 0.0f))) ++
      Seq((100L, Seq(1.0f, 0.0f, 0.0f)), (101L, Seq(0.0f, 1.0f, 0.0f)))
    val mixed = vecs.toDF("vec_id", "embedding")
    val native = Similarity.cosineNearDupPairs(mixed, "vec_id", "embedding",
      threshold = 0.95, dim = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // the kernel's arithmetic: sequential double fold, norms from the same
    // fold — so the cosines match bit for bit
    def dot(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x.toDouble * y.toDouble }
    val truth = (for {
      (a, ea) <- vecs
      (b, eb) <- vecs
      if a < b
      cos = dot(ea, eb) / (math.sqrt(dot(ea, ea)) * math.sqrt(dot(eb, eb)))
      if cos >= 0.95
    } yield (a, b, cos)).toSet
    native shouldBe truth
    native.map(p => (p._1, p._2)) should contain((0L, 1L))
  }

  test("Curation.curate chains quality, repetition, dedup, near-dup, and sampling") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (2L, "THE  quick brown fox jumps over the lazy dog near the river bank"), // fp-dup of 1
      (3L, "the quick brown fox jumps over the lazy cat near the river bank"), // near-dup of 1
      (4L, "spam spam spam spam spam spam spam"), // repetition-filtered
      (5L, "too short"), // quality-filtered (min tokens)
      (6L, "a completely different document talking about distributed query engines today"))
      .toDF("doc_id", "text")
    // "the" is 3/13 of the fox docs' tokens, so the top-word cap must sit
    // above 0.23 for them to survive the repetition stage
    val kept = Curation.curate(corpus, "doc_id", "text",
      maxTopWordFrac = 0.25, nearDupThreshold = 0.65)
      .collect().map(_.getLong(0)).toSet
    kept shouldBe Set(1L, 6L) // 2 exact-dup'd, 3 near-dup'd, 4/5 filtered
    val noNearDup = Curation.curate(corpus, "doc_id", "text",
      maxTopWordFrac = 0.25, nearDup = false)
      .collect().map(_.getLong(0)).toSet
    noNearDup shouldBe Set(1L, 3L, 6L)
    // schema preserved
    Curation.curate(corpus, "doc_id", "text", nearDup = false).columns.toSeq shouldBe
      Seq("doc_id", "text")
    // line dedup inside the chain: shared boilerplate lines vanish before
    // fingerprinting, so the de-boilerplated texts collapse as exact dups
    val boiler = Seq(
      (1L, "follow us on social media\nthe actual unique article body text here"),
      (2L, "the actual unique article body text here\nfollow us on social media"),
      (3L, "some other totally unrelated document body text"))
      .toDF("doc_id", "text")
    Curation.curate(boiler, "doc_id", "text", nearDup = false,
      lineDedupMaxDocFreq = 1L)
      .collect().map(_.getLong(0)).toSet shouldBe Set(1L, 3L)
    // normalize stage folds both é encodings into one fingerprint
    val uni = Seq(
      (1L, "café menu items listed for the whole week here"),
      (2L, "café menu items listed for the whole week here"),
      (3L, "unrelated second document with enough tokens to pass"))
      .toDF("doc_id", "text")
    Curation.curate(uni, "doc_id", "text", normalize = true, nearDup = false)
      .collect().map(_.getLong(0)).toSet shouldBe Set(1L, 3L)
    Curation.curate(uni, "doc_id", "text", normalize = false, nearDup = false)
      .collect().map(_.getLong(0)).toSet shouldBe Set(1L, 2L, 3L)
  }

  test("corpusStats aggregates per-group token statistics") {
    val docs = Seq(
      (1L, "en", "one two three"),
      (2L, "en", "one two three four five"),
      (3L, "fr", "un"))
      .toDF("doc_id", "lang", "text")
    val out = TextOps.corpusStats(docs, "lang", "text")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    out("en")._1 shouldBe 2L
    out("en")._2 shouldBe 8L
    out("en")._3 shouldBe 4.0
    out("en")._4 shouldBe 4.0 // p50 of {3, 5} interpolates to 4
    out("fr") shouldBe ((1L, 1L, 1.0, 1.0))
    // the sketch path (the 100-TB form) agrees on this tiny input
    val approx = TextOps.corpusStats(docs, "lang", "text", exact = false)
      .collect().map(r => r.getString(0) -> r.getDouble(4)).toMap
    approx("fr") shouldBe 1.0
  }

  test("normalizeText folds composition forms, accents, ligatures, width, case") {
    val fixtures = Seq(
      (1L, "café"),            // precomposed é
      (2L, "café"),           // e + combining acute
      (3L, "ﬁne"),             // ﬁ ligature
      (4L, "ＡＢ"),         // fullwidth ＡＢ
      (5L, "  spaced  out  "),
      (6L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = TextOps.normalizeText(fixtures, "text",
      form = "NFKC", stripAccents = true, lowercase = true, collapseWhitespace = true)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    out(1L) shouldBe "cafe" // accent stripped after decomposition
    out(2L) shouldBe out(1L) // both é encodings collide post-normalization
    out(3L) shouldBe "fine" // NFKC expands the ligature
    out(4L) shouldBe "ab" // width folded, lowercased
    out(5L) shouldBe "spaced out" // NFKC maps the NBSPs to spaces first
    out(6L) shouldBe null
    // without NFKC the ligature survives; without stripAccents é survives
    val plain = TextOps.normalizeText(fixtures, "text", form = "NFC")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    plain(3L) shouldBe "ﬁne"
    plain(1L) shouldBe "café"
    plain(2L) shouldBe "café" // NFC recomposes the combining form
    an[IllegalArgumentException] should be thrownBy
      TextOps.normalizeText(fixtures, "text", form = "NFX")
  }

  test("removeCommonLines drops boilerplate lines, preserves order, empties full-boilerplate docs") {
    val docs = Seq(
      (1L, "unique opening\nsubscribe to our newsletter\nreal content one"),
      (2L, "subscribe to our newsletter\nreal content two\nall rights reserved"),
      (3L, "all rights reserved\nsubscribe to our newsletter"), // all common
      (4L, "standalone document with nothing shared"))
      .toDF("doc_id", "text")
    val out = TextOps.removeCommonLines(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    out(1L) shouldBe "unique opening\nreal content one"
    out(2L) shouldBe "real content two"
    out(3L) shouldBe "" // every line shared with another doc
    out(4L) shouldBe "standalone document with nothing shared"
    // a line repeated WITHIN one doc is not common (doc-frequency, not count)
    val self = Seq((1L, "echo\necho\nbody"), (2L, "other")).toDF("doc_id", "text")
    TextOps.removeCommonLines(self, "doc_id", "text")
      .filter(col("doc_id") === 1L).head().getString(1) shouldBe "echo\necho\nbody"
    // higher threshold: "all rights reserved" (2 docs) survives, the
    // 3-doc newsletter line still goes
    TextOps.removeCommonLines(docs, "doc_id", "text", maxDocFreq = 2L)
      .filter(col("doc_id") === 3L).head().getString(1) shouldBe "all rights reserved"
  }

  test("hash-keyed line/span dedup matches exact mode; removals only ever grow") {
    // real corpus slice: collision-free at this scale, so hash mode must be
    // byte-identical to exact mode for BOTH ops
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val exactLines = rows(TextOps.removeCommonLines(d, "doc_id", "text", sepRegex = " ",
      joinSep = " ", maxDocFreq = 3L))
    val hashLines = rows(TextOps.removeCommonLines(d, "doc_id", "text", sepRegex = " ",
      joinSep = " ", maxDocFreq = 3L, hashKeys = true))
    hashLines shouldBe exactLines
    val exactSpans = rows(TextOps.removeRepeatedSpans(d, "doc_id", "text",
      n = 2, maxDocFreq = 3L))
    val hashSpans = rows(TextOps.removeRepeatedSpans(d, "doc_id", "text",
      n = 2, maxDocFreq = 3L, hashKeys = true))
    hashSpans shouldBe exactSpans
    // containment property: anything exact mode removes, hash mode removes
    // too (collisions merge doc frequencies — they can only ADD removals).
    // Checked per token multiset: hash-mode survivors ⊆ exact-mode survivors.
    val docs = (1 to 40).map(i =>
      (i.toLong, s"header common to all\nbody $i stays\nfooter ${i % 4}"))
      .toDF("doc_id", "text")
    val ex = rows(TextOps.removeCommonLines(docs, "doc_id", "text"))
    val hs = rows(TextOps.removeCommonLines(docs, "doc_id", "text", hashKeys = true))
    ex.keySet shouldBe hs.keySet
    ex.foreach { case (id, t) =>
      val exSurv = t.split("\n").filter(_.nonEmpty).toSet
      val hsSurv = hs(id).split("\n").filter(_.nonEmpty).toSet
      assert(hsSurv.subsetOf(exSurv), s"doc $id: hash mode kept a line exact mode removed")
    }
  }

  test("repetition kernel is bit-identical to the HOF fallback on real docs") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    type Features = (org.apache.spark.sql.DataFrame, String) => org.apache.spark.sql.DataFrame
    def run(f: Features): Seq[(Long, Double, Double, Double)] =
      f(d, "text").orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toSeq
    val native = run(TextOps.repetitionFeatures)
    native should not be empty
    run(TextOps.repetitionFeaturesFallback) shouldBe native
    // hand cases the corpus may not cover: empty, single-token, null text
    val edge = Seq((1L, Some("")), (2L, Some("word")), (3L, None),
      (4L, Some("a a b")), (5L, Some("x y x y")))
      .toDF("doc_id", "text")
    def runEdge(f: Features): Seq[(Long, Double, Double, Double)] =
      f(edge, "text").orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toSeq
    val ne = runEdge(TextOps.repetitionFeatures)
    runEdge(TextOps.repetitionFeaturesFallback) shouldBe ne
    ne.find(_._1 == 4L).get shouldBe (4L, 1.0 - 2.0 / 3.0, 2.0 / 3.0, 0.5)
    ne.find(_._1 == 3L).get shouldBe (3L, 0.0, 0.0, 0.0)
  }

  // ── TextOps ──────────────────────────────────────────────────────────

  test("TextOps token counts and quality features on a hand example") {
    val d = Seq((1L, "the cat sat, on a mat!")).toDF("doc_id", "text")
    val q = TextOps.qualityFeatures(d, "text").head()
    q.getAs[Int]("n_chars") shouldBe 22
    q.getAs[Int]("n_tokens") shouldBe 6
    // tokens: the,cat,sat,,on,a,mat! lengths 3+4+2+1+4+3? -> "sat," len 4, "mat!" len 4
    assert(approxEqual(q.getAs[Double]("avg_token_len"), (3 + 4 + 2 + 1 + 4 + 3).toDouble / 6))
    assert(approxEqual(q.getAs[Double]("punct_ratio"), 2.0 / 22))
    assert(approxEqual(q.getAs[Double]("stopword_ratio"), 2.0 / 6)) // the, a
  }

  test("TextOps.repetitionFeatures computes dup/top-word/top-bigram fractions") {
    val d = Seq(
      (1L, "the cat the cat sat"), // 5 toks, 3 distinct; top 'the'=2/5; top bigram 'the cat'=2/4
      (2L, "all words unique here"), // no repetition
      (3L, "")) // empty → all zeros
      .toDF("doc_id", "text")
    val out = TextOps.repetitionFeatures(d, "text").collect()
      .map(r => r.getLong(0) ->
        ((r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    out(1L) shouldBe ((1.0 - 3.0 / 5.0, 2.0 / 5.0, 2.0 / 4.0))
    out(2L) shouldBe ((0.0, 1.0 / 4.0, 1.0 / 3.0))
    out(3L) shouldBe ((0.0, 0.0, 0.0))
  }

  test("TextOps.repetitionFilter drops loopy docs, keeps clean ones, drops features") {
    val d = Seq(
      (1L, "spam spam spam spam spam spam"),
      (2L, "a genuinely varied sentence with many distinct words inside"))
      .toDF("doc_id", "text")
    val out = TextOps.repetitionFilter(d, "text")
    out.columns.toSeq shouldBe Seq("doc_id", "text")
    out.collect().map(_.getLong(0)).toSeq shouldBe Seq(2L)
  }

  test("Curation.funnel counts marginal rule failures, fail_any, and kept in one pass") {
    val d = Seq(
      (1L, "a genuinely varied sentence with many distinct words inside"), // passes all
      (2L, "tiny doc"), // fails min_tokens; 2 tokens also trip both top fracs
      (3L, "spam spam spam spam spam spam"), // fails all three repetition rules
      (4L, "!!! ??? ;;; ... obviously far too much punctuation here !!!")) // fails punct
      .toDF("doc_id", "text")
    val out = Curation.funnel(d, "text").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    out("input") shouldBe 4L
    out("quality_min_tokens") shouldBe 1L
    out("quality_punct_ratio") shouldBe 1L
    out("rep_dup_word") shouldBe 1L
    out("rep_top_word") shouldBe 2L
    out("rep_top_bigram") shouldBe 2L
    out("fail_any") shouldBe 3L
    out("kept") shouldBe 1L
  }

  test("TextOps.gopherFeatures computes word, symbol, line, and stopword signals") {
    val d = Seq(
      (1L, "- one two...\nthree # four…\n\n  - five"),
      (2L, "")) // empty → zero ratios, zero counts
      .toDF("doc_id", "text")
    val out = TextOps.gopherFeatures(d, "text").collect()
      .map(r => r.getLong(0) -> r).toMap
    val r1 = out(1L)
    r1.getInt(2) shouldBe 8 // n_words
    r1.getDouble(3) shouldBe 26.0 / 8.0 // mean_word_len
    r1.getDouble(4) shouldBe 1.0 / 8.0 // hash_word_ratio
    r1.getDouble(5) shouldBe 2.0 / 8.0 // ellipsis_word_ratio ('...' + '…')
    r1.getDouble(6) shouldBe 2.0 / 3.0 // bullet_line_frac (blank line excluded)
    r1.getDouble(7) shouldBe 2.0 / 3.0 // ellipsis_line_frac
    r1.getDouble(8) shouldBe 5.0 / 8.0 // alpha_word_frac
    r1.getInt(9) shouldBe 0 // stop_hits
    val r2 = out(2L)
    r2.getInt(2) shouldBe 0
    (3 to 8).foreach(i => r2.getDouble(i) shouldBe 0.0)
    r2.getInt(9) shouldBe 0
  }

  test("TextOps.gopherFilter applies the published thresholds rule-by-rule") {
    val good =
      "the quick brown fox jumps over the lazy dog and that have with be to of " * 4
    val bulletLine = "- the fox and dog that have with some more words"
    val d = Seq(
      (1L, good), // 64 words, mean 3.5, 8 stop hits → kept
      (2L, "the cat sat"), // fails word count
      (3L, ("# " * 8) + good), // hash ratio 8/72 > 0.1
      (4L, ("lorem ipsum dolor sit amet consectetur adipiscing elit " +
        "sed do eiusmod tempor incididunt ut labore et dolore magna aliqua ") * 3),
      // ^ 60 words, zero required stopwords
      (5L, Seq.fill(6)(bulletLine).mkString("\n"))) // bullet_line_frac 1.0 > 0.9
      .toDF("doc_id", "text")
    val out = TextOps.gopherFilter(d, "text")
    out.columns.toSeq shouldBe Seq("doc_id", "text")
    out.collect().map(_.getLong(0)).toSeq shouldBe Seq(1L)
  }

  test("TextOps.piiCounts counts emails, phones, ipv4 without overlap") {
    val d = Seq(
      (1L, "mail a@b.co and c.d+x@e-f.org, call 555-123-4567 or 555.987.6543, host 10.0.0.1"),
      (2L, "no pii at all"))
      .toDF("doc_id", "text")
    val out = TextOps.piiCounts(d, "text").collect()
      .map(r => r.getLong(0) -> ((r.getInt(2), r.getInt(3), r.getInt(4)))).toMap
    out(1L) shouldBe ((2, 2, 1))
    out(2L) shouldBe ((0, 0, 0))
  }

  test("TextOps.languageId picks profile with most stopword hits; en wins ties") {
    val d = Seq(
      (1L, "the cat and the dog of a house"),
      (2L, "der hund und die katze ist ein tier"),
      (3L, "el perro y la casa de un gato es"),
      (4L, "xyz qqq zzz")) // no hits anywhere → tie → en (first profile)
      .toDF("doc_id", "text")
    val out = d.select($"doc_id", TextOps.languageId($"text").as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    out(1L) shouldBe "en"
    out(2L) shouldBe "de"
    out(3L) shouldBe "es"
    out(4L) shouldBe "en"
  }

  test("TextOps.fingerprint is whitespace/case insensitive") {
    val d = Seq((1L, "Hello   World"), (2L, "hello world"), (3L, "hello worlds"))
      .toDF("doc_id", "text")
    val fps = d.select(TextOps.fingerprint($"text")).collect().map(_.getString(0))
    fps(0) shouldBe fps(1)
    fps(0) should not be fps(2)
  }

  // ── Multimodal ───────────────────────────────────────────────────────

  test("TextOps.topNgrams ranks by document frequency with gram tiebreak") {
    val df = Seq("abcd", "abef", "abxy", "zzzz").toDF("text")
    val out = TextOps.topNgrams(df, "text", 2, 3)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    out.head shouldBe ("ab", 3L) // in 3 docs
    out.map(_._1) should not contain "zz" // "zzzz" has distinct grams {zz}; freq 1 ties
    out should have size 3
  }

  test("TextOps.tfidfTopTerms scores rare terms above common ones") {
    val df = Seq(
      (1L, "apple banana apple"),
      (2L, "banana cherry"),
      (3L, "banana banana")).toDF("doc_id", "text")
    val out = TextOps.tfidfTopTerms(df, "doc_id", "text", 1)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    out(1L) shouldBe "apple"  // tf 2 × ln(3/1) beats banana's tf 1 × ln(3/3)=0
    out(2L) shouldBe "cherry" // unique term wins
    out(3L) shouldBe "banana" // only term present
  }

  test("Multimodal.withBinaryMeta sniffs magic bytes and measures length") {
    val png = Array[Byte](0x89.toByte, 0x50, 0x4E, 0x47, 0x0D, 0x0A)
    val d = spark.createDataFrame(
      java.util.Arrays.asList(Row(1L, png), Row(2L, "plain text".getBytes("UTF-8"))),
      StructType(Seq(
        StructField("id", LongType), StructField("payload", BinaryType))))
    val out = Multimodal.withBinaryMeta(d, "payload")
      .select("id", "n_bytes", "format")
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getString(2)))).toMap
    out(1L) shouldBe ((6, "png"))
    out(2L) shouldBe ((10, "unknown"))
  }

  test("withBinaryMeta refines gif/webp/flac and validates truncation") {
    def hx(s: String): Array[Byte] =
      s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    val rows = Seq(
      (1L, hx("FFD8FFE0") ++ "body".getBytes ++ hx("FFD9")), // jpeg complete
      (2L, hx("FFD8FFE0") ++ "body".getBytes), // jpeg missing EOI
      (3L, hx("89504E470D0A1A0A") ++ hx("0000000049454E44AE426082")), // png complete
      (4L, hx("89504E470D0A1A0A") ++ "cut".getBytes), // png truncated
      (5L, hx("474946383961") ++ "x".getBytes ++ hx("3B")), // gif complete
      (6L, hx("474946383961")), // gif no trailer
      (7L, hx("664C6143") ++ "streaminfo".getBytes), // flac → no cheap check
      (8L, hx("52494646") ++ hx("08000000") ++ "WEBP".getBytes ++ hx("DEADBEEF")), // webp, declared 8 = 16-8 → complete
      (9L, hx("52494646") ++ hx("20000000") ++ "WAVE".getBytes), // wav, declared 32 ≠ 4 → truncated
      (10L, hx("00000018") ++ "ftyp".getBytes ++ "isom".getBytes), // mp4 via box type
      (11L, "OggS".getBytes ++ hx("0002") ++ "page".getBytes)) // ogg container
    val d = spark.createDataFrame(
      java.util.Arrays.asList(rows.map(r => Row(r._1, r._2)): _*),
      StructType(Seq(
        StructField("id", LongType), StructField("payload", BinaryType))))
    val out = Multimodal.withBinaryMeta(d, "payload")
      .select("id", "format", "truncated")
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), if (r.isNullAt(2)) None else Some(r.getBoolean(2))))).toMap
    out(1L) shouldBe (("jpeg", Some(false)))
    out(2L) shouldBe (("jpeg", Some(true)))
    out(3L) shouldBe (("png", Some(false)))
    out(4L) shouldBe (("png", Some(true)))
    out(5L) shouldBe (("gif", Some(false)))
    out(6L) shouldBe (("gif", Some(true)))
    out(7L) shouldBe (("flac", None))
    out(8L) shouldBe (("webp", Some(false)))
    out(9L) shouldBe (("wav", Some(true)))
    out(10L) shouldBe (("mp4", None))
    out(11L) shouldBe (("ogg", None))
  }

  test("Multimodal.imageDims parses real PNG/GIF headers; others and short payloads NULL") {
    def hx(h: String): Array[Byte] =
      h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    // a real 800×600 PNG IHDR prefix and a 320×200 GIF89a screen descriptor
    val png = hx("89504E470D0A1A0A" + "0000000D" + "49484452" +
      "00000320" + "00000258" + "0806000000") ++ "rest".getBytes
    val gif = hx("474946383961" + "4001" + "C800") ++ "rest".getBytes
    val rows = Seq(
      (1L, png), (2L, gif),
      (3L, "no magic here".getBytes),
      (4L, hx("89504E470D0A1A0A")), // PNG signature but too short for IHDR
      (5L, hx("FFD8FFE0") ++ "jpeg needs a marker scan".getBytes),
    ).toDF("id", "payload")
    val out = graft.ops.Multimodal.imageDims(rows, "payload")
      .orderBy("id").collect()
      .map(r => (if (r.isNullAt(2)) null else r.getLong(2),
        if (r.isNullAt(3)) null else r.getLong(3)))
    out(0) shouldBe ((800L, 600L))
    out(1) shouldBe ((320L, 200L))
    out(2) shouldBe ((null, null))
    out(3) shouldBe ((null, null))
    out(4) shouldBe ((null, null)) // jpeg: documented non-goal
  }

  test("Multimodal.fakeEmbedding is deterministic with the right shape") {
    val d = Seq((1L, "same payload"), (2L, "same payload"), (3L, "other"))
      .toDF("id", "text")
      .select($"id", Multimodal.fakeEmbedding($"text".cast("binary"), 4).as("f"))
    val rows = d.collect().map(r => r.getLong(0) -> r.getSeq[Double](1))
    rows(0)._2.length shouldBe 4
    rows(0)._2 shouldBe rows(1)._2 // same bytes → same features
    rows(0)._2 should not be rows(2)._2
    all(rows(0)._2) should (be >= 0.0 and be < 1.0)
  }

  test("Multimodal.sampleFrames emits one row per byte-range frame") {
    val d = Seq((1L, "0123456789abcdef")).toDF("id", "text")
      .select($"id", $"text".cast("binary").as("payload"))
    val out = Multimodal.sampleFrames(d, "payload", everyNBytes = 8, frameBytes = 4)
    out.count() shouldBe 2
    val frames = out.orderBy("frame_idx").collect()
      .map(r => new String(r.getAs[Array[Byte]]("frame"), "UTF-8"))
    frames shouldBe Array("0123", "89ab")
  }

  test("ngramOverlapContamination counts distinct shared token n-grams") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"), // contains bench 3-grams
      (2L, "completely unrelated words here nothing shared at all"),
      (3L, "quick brown fox appears once more"))
      .toDF("doc_id", "text")
    val bench = Seq((100L, "a quick brown fox jumps high")).toDF("doc_id", "text")
    val out = Dedup.ngramOverlapContamination(corpus, bench, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // bench 3-grams: "a quick brown","quick brown fox","brown fox jumps","fox jumps high"
    out shouldBe Map(1L -> 2L, 3L -> 1L) // doc 1 shares 2, doc 3 shares 1, doc 2 none
  }

  test("ngramOverlapContamination: bloom prefilter and plain join agree") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val corpus = d.filter($"doc_id" % 3 =!= 0)
    val bench = d.filter($"doc_id" % 3 === 0)
    def run(bloom: Boolean) =
      Dedup.ngramOverlapContamination(corpus, bench, "doc_id", "text",
        n = 4, useBloom = bloom)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val withBloom = run(bloom = true)
    val without = run(bloom = false)
    withBloom shouldBe without
    withBloom should not be empty
    // minOverlap filters low-overlap docs
    val strict = Dedup.ngramOverlapContamination(corpus, bench, "doc_id", "text",
      n = 4, minOverlap = 5).collect().map(_.getLong(1))
    all(strict) should be >= 5L
  }

  test("ContaminationIndex round-trips through disk and reproduces the direct path") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val corpus = d.filter($"doc_id" % 3 =!= 0)
    val bench = d.filter($"doc_id" % 3 === 0)
    val direct = Dedup.ngramOverlapContamination(corpus, bench, "doc_id", "text", n = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val dir = java.nio.file.Files.createTempDirectory("graft_contam_spec").toString
    val fitted = Dedup.contaminationFit(bench, "text", n = 4)
    fitted.bloom shouldBe defined // native session builds the prefilter
    fitted.save(dir)
    val loaded = Dedup.ContaminationIndex.load(spark, dir)
    loaded.n shouldBe 4
    loaded.bloomHashes shouldBe fitted.bloomHashes
    loaded.bloom.map(_.toSeq) shouldBe fitted.bloom.map(_.toSeq)
    Dedup.contaminationApply(corpus, "doc_id", "text", loaded)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq shouldBe direct
    // a bloom-less fit persists an exact-join-only index that still
    // probes exactly
    val fbIdx = Dedup.contaminationFit(bench, "text", n = 4, useBloom = false)
    fbIdx.bloom shouldBe None
    val dir2 = java.nio.file.Files.createTempDirectory("graft_contam_spec_fb").toString
    fbIdx.save(dir2)
    Dedup.contaminationApply(corpus, "doc_id", "text",
      Dedup.ContaminationIndex.load(spark, dir2))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq shouldBe direct
  }

  test("mixGroups realizes the requested weight ratios and drops unweighted groups") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = Sampling.mixGroups(d, "source", "doc_id",
      Map("src0" -> 5L, "src1" -> 2L, "src2" -> 1L))
    val bySource = out.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // 25 rows per source → K = min(25/5, 25/2, 25/1) = 5 → thresholds
    // (w·K·denom/25): src0 = denom (kept whole), src1 = 400000, src2 =
    // 200000. Exact membership: replay the integer hash rule directly
    // (realized ratios on 25 strided ids are noisy; membership is not).
    bySource.keySet shouldBe Set("src0", "src1", "src2") // others dropped
    bySource("src0") shouldBe 25L
    def h(id: Long) = ((id % 2147483647L) * 48271L % 2147483647L) * 48271L % 2147483647L % 1000000L
    val thr = Map("src0" -> 1000000L, "src1" -> 400000L, "src2" -> 200000L)
    val expected = d.select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .filter { case (id, s) => thr.get(s).exists(h(id) < _) }
      .map(_._1).toSet
    out.collect().map(_.getLong(0)).toSet shouldBe expected
    // deterministic: the same rows on a re-run
    Sampling.mixGroups(d, "source", "doc_id",
      Map("src0" -> 5L, "src1" -> 2L, "src2" -> 1L))
      .collect().map(_.getLong(0)).toSet shouldBe out.collect().map(_.getLong(0)).toSet
    // a pure narrow filter: no shuffle in the plan
    val plan = out.queryExecution.executedPlan.toString
    plan should not include "Exchange"
    // loud failures: weight larger than the group, and absent group
    intercept[graft.errors.FeatureFactoryException.InvalidParameter] {
      Sampling.mixGroups(d, "source", "doc_id", Map("src0" -> 26L, "src1" -> 1L))
    }
    intercept[graft.errors.FeatureFactoryException.InvalidParameter] {
      Sampling.mixGroups(d, "source", "doc_id", Map("no_such_source" -> 1L))
    }
  }

  test("sampleTokenBudget keeps the exact bucket-major hash-order token prefix") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", graft.ops.TextOps.tokenCount($"text").as("n_tokens"))
    val budget = 1500L
    val out = Sampling.sampleTokenBudget(d, "doc_id", "n_tokens", budget, numBuckets = 8)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // replay the rule directly: bucket totals → prefix offsets → cumsum
    def h(id: Long) = ((id % 2147483647L) * 48271L % 2147483647L) * 48271L % 2147483647L
    val rows = d.collect().map(r => (r.getLong(0), r.getInt(1)))
      .filter(_._2 > 0).map { case (id, n) => (h(id) % 8, h(id), id, n) }
    val totals = rows.groupBy(_._1).view.mapValues(_.map(_._4.toLong).sum).toMap
    // offset of bucket b = sum of totals of buckets < b
    val offs = totals.keys.toSeq.sorted.foldLeft((Map.empty[Long, Long], 0L)) {
      case ((m, acc), b) => (m + (b -> acc), acc + totals(b))
    }._1
    val expected = rows.groupBy(_._1).toSeq.flatMap { case (b, rs) =>
      rs.sortBy(r => (r._2, r._3)).scanLeft((0L, 0L, 0)) {
        case ((cum, _, _), (_, _, id, n)) => (cum + n, id, n)
      }.drop(1).filter { case (cum, _, _) => offs(b) + cum <= budget }
        .map { case (_, id, n) => id -> n }
    }.toMap
    expected should not be empty
    out shouldBe expected
    // total kept tokens never exceed the budget; determinism across re-runs
    out.values.map(_.toLong).sum should be <= budget
    Sampling.sampleTokenBudget(d, "doc_id", "n_tokens", budget, numBuckets = 8)
      .collect().map(_.getLong(0)).toSet shouldBe out.keySet
  }

  test("leakageSafeSplit puts every copy of a document on the same side of the fence") {
    // ids chosen so a naive per-id split WOULD separate some dup pairs
    val d = (1L to 400L).map(i => (i, s"text-${i % 100}")).toDF("doc_id", "text")
    val out = Sampling.leakageSafeSplit(d, "text", "doc_id", 80)
    out.count() shouldBe 400
    // one split value per content group
    out.groupBy("text").agg(countDistinct("split").as("n"))
      .filter($"n" > 1).count() shouldBe 0
    // the split is the rep's (min doc_id per group) trainTestSplit decision
    def h(id: Long) = ((id % 2147483647L) * 48271L % 2147483647L) * 48271L % 2147483647L
    val got = out.select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    (1L to 400L).foreach { id =>
      val rep = id % 100 match { case 0 => 100L case r => r } // min id with same text
      got(id) shouldBe (if (h(rep) % 100 < 80) "train" else "test")
    }
    // a naive per-id split disagrees somewhere on this fixture (the point)
    val naive = Sampling.trainTestSplit(d, "doc_id", 80)
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    naive should not be got
    intercept[IllegalArgumentException](Sampling.leakageSafeSplit(d, "text", "doc_id", 101))
    intercept[graft.errors.FeatureFactoryException.MissingColumn](
      Sampling.leakageSafeSplit(d, "nope", "doc_id", 80))
  }

  test("interleaveSources emits the weighted round-robin cycle order") {
    val d = (1L to 90L).map(i =>
      (i, if (i <= 50) "a" else if (i <= 80) "b" else "c")).toDF("doc_id", "g")
    val weights = Map("a" -> 3L, "b" -> 2L, "c" -> 1L) // W=6, offsets a=0,b=3,c=5
    val out = Sampling.interleaveSources(d, "g", "doc_id", weights, numBuckets = 4)
      .select("doc_id", "g", "order_key").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    out.length shouldBe 90
    out.map(_._3).distinct.length shouldBe 90 // order_key unique
    // replay: per group, rank in (bucket, hash, id) order → cycle math
    def h(id: Long) = ((id % 2147483647L) * 48271L % 2147483647L) * 48271L % 2147483647L
    val offs = Map("a" -> 0L, "b" -> 3L, "c" -> 5L)
    val expected = d.collect().map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._2).toSeq.flatMap { case (g, rs) =>
        rs.map(_._1).sortBy(id => (h(id) % 4, h(id), id)).zipWithIndex.map {
          case (id, k) =>
            (id, g, (k / weights(g)) * 6L + offs(g) + (k % weights(g)))
        }
      }.toSet
    out.toSet shouldBe expected
    // while every group lasts, each full cycle holds exactly w_g of each group
    val byCycle = out.groupBy(_._3 / 6).toSeq.sortBy(_._1)
    val fullCycles = byCycle.takeWhile(_._2.length == 6)
    fullCycles.length should be >= 10 // c (smallest, 10 docs) sustains 10 cycles
    fullCycles.foreach { case (_, rows) =>
      rows.groupBy(_._2).view.mapValues(_.length).toMap shouldBe
        Map("a" -> 3, "b" -> 2, "c" -> 1)
    }
    // unweighted groups are dropped; absent weighted groups fail loudly
    Sampling.interleaveSources(d, "g", "doc_id", Map("a" -> 1L), 4)
      .select("g").distinct().collect().map(_.getString(0)) shouldBe Array("a")
    intercept[graft.errors.FeatureFactoryException.InvalidParameter](
      Sampling.interleaveSources(d, "g", "doc_id", Map("a" -> 1L, "zz" -> 2L), 4))
  }

  test("balanceGroups thins every group to ≈ the smallest group's size") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val before = d.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val minN = before.values.min
    val after = Sampling.balanceGroups(d, "lang", "doc_id")
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // every group lands within sampling noise of the smallest group; the
    // smallest group itself is kept whole (threshold = denom keeps all)
    after(before.minBy(_._2)._1) shouldBe minN
    after.values.foreach { n =>
      n.toDouble should be >= minN * 0.5
      n.toDouble should be <= minN * 1.5
    }
    // deterministic: same rows on re-run
    val again = Sampling.balanceGroups(d, "lang", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    Sampling.balanceGroups(d, "lang", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).sorted shouldBe again
  }

  test("balanceGroups broadcast-join path (many groups) matches the when-chain path") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def ids() = Sampling.balanceGroups(d, "source", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val viaChain = ids()
    val saved = graft.transformers.CategoricalEncoding.MaxCaseBranches
    graft.transformers.CategoricalEncoding.MaxCaseBranches = 2 // force join path
    try ids() shouldBe viaChain
    finally graft.transformers.CategoricalEncoding.MaxCaseBranches = saved
  }

  test("packSequences: bins are contiguous token runs within each bucket") {
    val d = Seq(
      (1L, 100), (2L, 200), (3L, 150), (4L, 300), (5L, 80),
      (6L, 250), (7L, 120), (8L, 90), (9L, 60), (10L, 40))
      .toDF("doc_id", "n_tokens")
    val out = Sampling.packSequences(d, "doc_id", "n_tokens",
      capacity = 300, numBuckets = 2)
      .collect()
      .map(r => (r.getLong(2), r.getLong(3), r.getLong(4), r.getInt(1)))
      .groupBy(_._1) // bucket
    out.foreach { case (_, rows) =>
      val ordered = rows.sortBy(_._3) // by start_offset
      // offsets tile the bucket's token stream with no gaps or overlaps
      ordered.foldLeft(0L) { case (expect, (_, _, start, toks)) =>
        start shouldBe expect
        expect + toks
      }
      // bin ids never decrease along the stream and derive from the end token
      ordered.foreach { case (_, bin, start, toks) =>
        bin shouldBe (start + toks - 1) / 300
      }
    }
    // zero/negative token rows are dropped
    Sampling.packSequences(
      Seq((1L, 0), (2L, 5)).toDF("doc_id", "n_tokens"),
      "doc_id", "n_tokens", capacity = 10)
      .count() shouldBe 1
  }

  // ── DSIR importance resampling ───────────────────────────────────────

  /** Spark's round(x, 9) semantics (HALF_UP BigDecimal), plus the -0.0
    * collapse — the reference arithmetic the fit must match. */
  private def r9(x: Double): Double =
    BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0

  private def minstd(id: Long): Long =
    ((id % 2147483647L) * 48271 % 2147483647L) * 48271 % 2147483647L

  test("dsirFit: add-1 ln-ratio weights over the top-K vocab, ties by gram") {
    val raw = Seq((1L, "a a b"), (2L, "a c")).toDF("doc_id", "text")
    val target = Seq((1L, "a a b")).toDF("doc_id", "text")
    // raw gram counts: a=3, then five count-1 grams; top-3 with the gram
    // tie-break ascending picks "a", "a a", "a b" (space sorts below letters)
    val m = Dsir.dsirFit(target, raw, "text", vocabSize = 3)
    val w = m.weights.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    w.keySet shouldBe Set("a", "a a", "a b")
    // V=3, target vocab-gram counts: a=2, "a a"=1, "a b"=1 (totT=4); raw
    // vocab counts: 3,1,1 (totR=5)
    w("a") shouldBe r9(math.log(3.0 / 7.0) - math.log(4.0 / 8.0))
    w("a a") shouldBe r9(math.log(2.0 / 7.0) - math.log(2.0 / 8.0))
    w("a b") shouldBe r9(math.log(2.0 / 7.0) - math.log(2.0 / 8.0))
    // an untokenizable raw corpus cannot produce a vocabulary
    intercept[graft.errors.FeatureFactoryException.InvalidParameter] {
      Dsir.dsirFit(target, Seq((1L, "   ")).toDF("doc_id", "text"), "text")
    }
  }

  test("dsirScore: ordered fold, OOV ignored, unscorable rows get 0.0, id copies pool") {
    val weights = Seq(("a", 0.5), ("b", -0.25), ("a b", 2.0))
      .toDF("gram", "weight")
    val m = Dsir.DsirModel(16, weights)
    val d = Seq(
      (java.lang.Long.valueOf(1L), "A b a"),  // a,b,a + "a b","b a": 0.5+(-0.25)+0.5+2.0
      (java.lang.Long.valueOf(2L), "zzz"),    // no vocab grams
      (java.lang.Long.valueOf(3L), null.asInstanceOf[String]),
      (null.asInstanceOf[java.lang.Long], "a"), // NULL id: no identity to score under
      (java.lang.Long.valueOf(4L), "a"),      // duplicate id…
      (java.lang.Long.valueOf(4L), "b"),      // …pools to 0.5 - 0.25 on both rows
    ).toDF("doc_id", "text")
    val out = Dsir.dsirScore(d, "doc_id", "text", m)
      .collect().map(r =>
        (if (r.isNullAt(0)) None else Some(r.getLong(0))) -> r.getDouble(2))
    out.toSet shouldBe Set(
      Some(1L) -> 2.75, Some(2L) -> 0.0, Some(3L) -> 0.0,
      None -> 0.0, Some(4L) -> 0.25)
    out.count(_._1 == Some(4L)) shouldBe 2 // both copies kept, same score
    intercept[graft.errors.FeatureFactoryException.InvalidParameter] {
      Dsir.dsirScore(d.withColumn("dsir_score", lit(1.0)), "doc_id", "text", m)
    }
  }

  test("dsirResample: deterministic Gumbel top-n over the minstd hash") {
    val weights = Seq(("good", 5.0), ("bad", -5.0)).toDF("gram", "weight")
    val m = Dsir.DsirModel(16, weights)
    val d = Seq(
      (java.lang.Long.valueOf(1L), "good good"),
      (java.lang.Long.valueOf(2L), "good"),
      (java.lang.Long.valueOf(3L), "bad"),
      (java.lang.Long.valueOf(4L), "bad bad"),
      (java.lang.Long.valueOf(5L), "good"), // duplicate id: pools to 0.0…
      (java.lang.Long.valueOf(5L), "bad"),  // …and samples as ONE document
      (null.asInstanceOf[java.lang.Long], "good good"), // no hash position
    ).toDF("doc_id", "text")
    def key(id: Long, score: Double): Double = {
      val u = (minstd(id) + 1).toDouble / 2147483648.0
      score + r9(-math.log(-math.log(u)))
    }
    // "good good" scores 2×5 (bigram "good good" is OOV), "bad bad" −2×5
    val expect = Seq(1L -> key(1L, 10.0), 2L -> key(2L, 5.0),
      3L -> key(3L, -5.0), 4L -> key(4L, -10.0), 5L -> key(5L, 0.0))
      .sortBy { case (id, k) => (-k, id) }.map(_._1)
    val top2 = Dsir.dsirResample(d, "doc_id", "text", m, n = 2)
      .collect().map(_.getLong(0)).toSet
    top2 shouldBe expect.take(2).toSet
    // n counts DOCUMENTS (ids): past the corpus every hashable id stays,
    // both id-5 copies ride along, NULL ids never appear
    val all = Dsir.dsirResample(d, "doc_id", "text", m, n = 10)
      .collect().map(_.getLong(0))
    all.toSet shouldBe Set(1L, 2L, 3L, 4L, 5L)
    all.count(_ == 5L) shouldBe 2
  }

  // ── Backoff-bigram LM perplexity ─────────────────────────────────────

  test("lmFit: bounded vocab/bigram tables with tie-breaks, in-vocab prefixes only") {
    val corpus = Seq((1L, "the cat sat"), (2L, "the cat ran")).toDF("doc_id", "text")
    val m = LangModel.lmFit(corpus, "text", vocabSize = 2, bigramSize = 8)
    m.total shouldBe 6 // total counts ALL tokens, not just the vocab cut
    // counts: the=2, cat=2, sat=1, ran=1 — top-2 ties break token-ascending
    m.unigrams.collect().map(r => r.getString(0) -> r.getLong(1)).toSet shouldBe
      Set("cat" -> 2L, "the" -> 2L)
    // bigram prefixes must be in-vocab: "cat sat"/"cat ran" survive the
    // vocab cut, "sat …"/"ran …" would not (and don't exist here)
    m.bigrams.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet shouldBe
      Set(("the", "cat", 2L), ("cat", "sat", 1L), ("cat", "ran", 1L))
    LangModel.lmFit(corpus, "text", bigramSize = 1)
      .bigrams.collect().map(r => (r.getString(0), r.getString(1))).toSeq shouldBe
      Seq(("the", "cat")) // count-desc tie-break never reached
    intercept[graft.errors.FeatureFactoryException.InvalidParameter] {
      LangModel.lmFit(Seq((1L, "  ")).toDF("doc_id", "text"), "text")
    }
  }

  test("lmScore: stupid-backoff arithmetic, OOV floor, unscorable rows NULL, id copies pool") {
    val corpus = Seq((1L, "the cat sat"), (2L, "the cat ran")).toDF("doc_id", "text")
    val m = LangModel.lmFit(corpus, "text")
    val d = Seq(
      (java.lang.Long.valueOf(10L), "the cat xyz"),
      (java.lang.Long.valueOf(11L), ""),
      (java.lang.Long.valueOf(12L), null.asInstanceOf[String]),
      (null.asInstanceOf[java.lang.Long], "the cat sat"),
      (java.lang.Long.valueOf(13L), "the"),  // duplicate id…
      (java.lang.Long.valueOf(13L), "cat"),  // …pools: 2 tokens, 2 unigram terms
    ).toDF("doc_id", "text")
    val out = LangModel.lmScore(d, "doc_id", "text", m).collect().map(r =>
      (if (r.isNullAt(0)) None else Some(r.getLong(0))) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    val uThe = r9(math.log(2.0 / 6.0))
    val uCat = r9(math.log(2.0 / 6.0))
    val uOov = r9(math.log(1.0 / 6.0))
    // "the cat xyz": u(the) + ln c(the cat)/c(the) + backoff(xyz)
    val contribs = Seq(uThe, r9(math.log(2.0 / 2.0)), r9(math.log(0.4)) + uOov).sorted
    val s10 = (0.0 - contribs.foldLeft(0.0)(_ + _)) / 3
    val s13 = (0.0 - Seq(uThe, uCat).sorted.foldLeft(0.0)(_ + _)) / 2
    out.toSet shouldBe Set(
      Some(10L) -> Some(s10), Some(11L) -> None, Some(12L) -> None,
      None -> None, Some(13L) -> Some(s13))
    out.count(_._1 == Some(13L)) shouldBe 2
  }

  test("perplexityFilter keeps fluent docs, drops high-score and unscorable rows") {
    val corpus = Seq((1L, "the cat sat on the mat")).toDF("doc_id", "text")
    val m = LangModel.lmFit(corpus, "text")
    val d = Seq(
      (java.lang.Long.valueOf(1L), "the cat sat"),    // in-model: low score
      (java.lang.Long.valueOf(2L), "zzz qqq www"),    // all OOV: high score
      (java.lang.Long.valueOf(3L), ""),               // unscorable: dropped
    ).toDF("doc_id", "text")
    val scores = LangModel.lmScore(d, "doc_id", "text", m)
      .filter(col("lm_score").isNotNull)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    scores(1L) should be < scores(2L)
    val kept = LangModel.perplexityFilter(d, "doc_id", "text", m,
      maxScore = (scores(1L) + scores(2L)) / 2)
      .collect().map(_.getLong(0)).toSet
    kept shouldBe Set(1L)
  }

  test("LmModel save/load round trip preserves scores") {
    val corpus = Seq((1L, "the cat sat"), (2L, "a dog ran fast")).toDF("doc_id", "text")
    val m = LangModel.lmFit(corpus, "text", vocabSize = 16, bigramSize = 16)
    val dir = java.nio.file.Files.createTempDirectory("lm_rt").toString
    m.save(dir)
    val loaded = LangModel.LmModel.load(spark, dir)
    loaded.total shouldBe m.total
    loaded.vocabSize shouldBe 16
    val a = LangModel.lmScore(corpus, "doc_id", "text", m)
      .select("doc_id", "lm_score").collect().map(r => r.getLong(0) -> r.getDouble(1)).toSet
    val b = LangModel.lmScore(corpus, "doc_id", "text", loaded)
      .select("doc_id", "lm_score").collect().map(r => r.getLong(0) -> r.getDouble(1)).toSet
    b shouldBe a
    // `total` is an exact count: one above 2^53 must not round through
    // a Double on load
    val bigDir = java.nio.file.Files.createTempDirectory("lm_rt_big").toString
    m.copy(total = (1L << 53) + 1).save(bigDir)
    LangModel.LmModel.load(spark, bigDir).total shouldBe (1L << 53) + 1
  }

  test("DsirModel save/load round trip preserves weights and scores") {
    val raw = Seq((1L, "the cat sat"), (2L, "a dog ran"), (3L, "the dog sat"))
      .toDF("doc_id", "text")
    val target = Seq((1L, "the cat sat")).toDF("doc_id", "text")
    val m = Dsir.dsirFit(target, raw, "text", vocabSize = 8)
    val dir = java.nio.file.Files.createTempDirectory("dsir_rt").toString
    m.save(dir)
    val loaded = Dsir.DsirModel.load(spark, dir)
    loaded.vocabSize shouldBe 8
    loaded.weights.collect().map(r => r.getString(0) -> r.getDouble(1)).toSet shouldBe
      m.weights.collect().map(r => r.getString(0) -> r.getDouble(1)).toSet
    val a = Dsir.dsirScore(raw, "doc_id", "text", m)
      .select("doc_id", "dsir_score").collect().map(r => r.getLong(0) -> r.getDouble(1)).toSet
    val b = Dsir.dsirScore(raw, "doc_id", "text", loaded)
      .select("doc_id", "dsir_score").collect().map(r => r.getLong(0) -> r.getDouble(1)).toSet
    b shouldBe a
  }

  // ── Temperature mixing ───────────────────────────────────────────────

  test("mixGroupsTemperature tempers the head and keeps the tail") {
    val rows = (1 to 400).map(i => (i.toLong, "big")) ++
      (401 to 500).map(i => (i.toLong, "mid")) ++
      (501 to 525).map(i => (i.toLong, "small"))
    val df = rows.toDF("id", "grp")
    val (mixed, w) = Sampling.mixGroupsTemperature(df, "grp", "id", alpha = 0.5)
    // weights follow sqrt(n): 400:100:25 → 20:10:5 ratio
    w("big").toDouble / w("small") shouldBe 4.0 +- 0.3
    val kept = mixed.groupBy("grp").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // tempering: the small group keeps a LARGER share of its rows
    val shareSmall = kept("small").toDouble / 25
    val shareBig = kept("big").toDouble / 400
    shareSmall should be > shareBig
    // alpha=0 degenerates to the uniform mix (equal weights)
    val (_, w0) = Sampling.mixGroupsTemperature(df, "grp", "id", alpha = 0.0)
    w0.values.toSet should have size 1
    // alpha=1 reproduces the natural proportions (weights ∝ counts)
    val (_, w1) = Sampling.mixGroupsTemperature(df, "grp", "id", alpha = 1.0)
    w1("big").toDouble / w1("small") shouldBe 16.0 +- 0.5
  }

  // ── IVF-SQ8 ──────────────────────────────────────────────────────────

  test("ivfPqEncode: cells match assignCells; codes reconstruct within scale/2") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val m = Similarity.ivfFit(e, "embedding", nlist = 8)
    val codes = Similarity.ivfPqEncode(e, "vec_id", "embedding", m)
    codes.count() shouldBe e.count()
    // same cell per id as the plain assignment path
    val a = Similarity.assignCells(e, "vec_id", "embedding", m.centroids)
      .select("id", "cell").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val c = codes.select("id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    c shouldBe a
    // reconstruction error per coordinate is bounded by scale/2 (+ eps for
    // the ±127 clamp never binding: scale IS max|res|/127)
    val row = codes.filter($"id" === 7L).head()
    val scale = row.getAs[Double]("res_scale")
    val rq = row.getSeq[Byte](row.fieldIndex("res_q"))
    val emb = e.filter($"vec_id" === 7L).select($"embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    val cent = m.centroids(c(7L))
    val recon = cent.zip(rq).map { case (ci, qi) => ci + scale * qi }
    emb.zip(recon).foreach { case (x, y) =>
      math.abs(x - y) should be <= scale / 2 + 1e-12
    }
  }

  test("ivfPqTopK recall matches plain ivfTopK at equal probe cost") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter($"vec_id" === 0).select($"embedding")
      .head().getSeq[Float](0).map(_.toDouble).toSeq
    val m = Similarity.ivfFit(e, "embedding", nlist = 8)
    val truth = Similarity.cosineTopK(e, "vec_id", "embedding", q, 10)
      .withColumn("query_id", lit(0L))
    val ivf = Similarity.ivfTopK(e, "vec_id", "embedding", q, 10, m,
      nprobe = 2, forceBroadcastAssign = false)
      .withColumn("query_id", lit(0L))
    val pq = Similarity.ivfPqTopK(
      Similarity.ivfPqEncode(e, "vec_id", "embedding", m), m, q, 10, nprobe = 2)
      .withColumn("query_id", lit(0L))
    val rIvf = Similarity.evalRecall(ivf, truth, "query_id", "id")
      .select("recall").head().getDouble(0)
    val rPq = Similarity.evalRecall(pq, truth, "query_id", "id")
      .select("recall").head().getDouble(0)
    withClue(s"ivf=$rIvf pq=$rPq: ") {
      // int8 RESIDUAL codes lose almost nothing at this width: the probe
      // set is identical, so SQ8 must not fall below the raw-vector path
      rPq should be >= rIvf
      rPq should be > 0.0
    }
    // full probe (nprobe = nlist): raw IVF degenerates to exact search
    // (recall 1); SQ8's only remaining error is quantization, which must
    // not reorder this fixture's top-10
    val pqFull = Similarity.ivfPqTopK(
      Similarity.ivfPqEncode(e, "vec_id", "embedding", m), m, q, 10, nprobe = 8)
      .withColumn("query_id", lit(0L))
    val rPqFull = Similarity.evalRecall(pqFull, truth, "query_id", "id")
      .select("recall").head().getDouble(0)
    withClue(s"pqFull=$rPqFull: ")(rPqFull shouldBe 1.0)
  }

  // ── Product quantization ─────────────────────────────────────────────

  test("pqFit/pqEncode: codebook shape, JSON round trip, argmin codes") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val m = Similarity.pqFit(e, "embedding", m = 8, k = 4)
    (m.m, m.k, m.dsub, m.dim) shouldBe ((8, 4, 8, 64))
    Similarity.PqModel.fromJsonString(m.toJsonString) shouldBe m
    val codes = Similarity.pqEncode(e, "vec_id", "embedding", m)
    codes.count() shouldBe e.count()
    // every code addresses a real codeword
    val row = codes.filter($"id" === 3L).head().getSeq[Int](1)
    row should have size 8
    all(row) should (be >= 0 and be < 4)
    // hand-check subspace 0's argmin for one vector
    val emb = e.filter($"vec_id" === 3L).select($"embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    val d0 = m.codebooks.head.map(c =>
      c.zip(emb.take(8)).map { case (ci, xi) => (xi - ci) * (xi - ci) }.sum)
    row.head shouldBe d0.indexOf(d0.min)
  }

  test("pqTopK surfaces the query; refined rerank recovers near-exact recall") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter($"vec_id" === 0).select($"embedding")
      .head().getSeq[Float](0).map(_.toDouble).toSeq
    val m = Similarity.pqFit(e, "embedding", m = 8, k = 16)
    val codes = Similarity.pqEncode(e, "vec_id", "embedding", m)
    val truth = Similarity.cosineTopK(e, "vec_id", "embedding", q, 10)
      .withColumn("query_id", lit(0L))
    val raw = Similarity.pqTopK(codes, m, q, 10).withColumn("query_id", lit(0L))
    val rRaw = Similarity.evalRecall(raw, truth, "query_id", "id")
      .select("recall").head().getDouble(0)
    // these synthetic embeddings are near-uniform — the hostile regime for
    // 32x PQ — so raw-code recall is honestly low; the codes must still
    // preserve self-similarity (the query itself ranks back in)
    raw.select("id").collect().map(_.getLong(0)) should contain(0L)
    // the production two-stage form: PQ top-100 shortlist, exact rerank —
    // recall must strictly dominate the raw codes and be near-exact
    val refined = Similarity.pqTopKRefined(codes, e, "vec_id", "embedding",
      m, q, 10, shortlistSize = 100).withColumn("query_id", lit(0L))
    val rRef = Similarity.evalRecall(refined, truth, "query_id", "id")
      .select("recall").head().getDouble(0)
    withClue(s"raw=$rRaw refined=$rRef: ") {
      rRef should be >= rRaw
      rRef should be >= 0.7
    }
    // exact scores out of the rerank: the top hit is the query itself, cos 1
    refined.orderBy(col("cos").desc).head().getLong(0) shouldBe 0L
  }

  test("IVF-PQ product: cells match, codes address codebooks, search works") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter($"vec_id" === 0).select($"embedding")
      .head().getSeq[Float](0).map(_.toDouble).toSeq
    val coarse = Similarity.ivfFit(e, "embedding", nlist = 8)
    val pq = Similarity.ivfPqFitCodebooks(e, "vec_id", "embedding", coarse,
      m = 8, k = 16)
    Similarity.PqModel.fromJsonString(pq.toJsonString) shouldBe pq
    val codes = Similarity.ivfPqEncodeProduct(e, "vec_id", "embedding", coarse, pq)
    codes.count() shouldBe e.count()
    val a = Similarity.assignCells(e, "vec_id", "embedding", coarse.centroids)
      .select("id", "cell").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    codes.select("id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap shouldBe a
    all(codes.head().getSeq[Int](2)) should (be >= 0 and be < 16)
    // full-probe search: residual-trained codebooks must beat raw-vector
    // PQ at identical (m, k) — the whole point of quantizing residuals
    val truth = Similarity.cosineTopK(e, "vec_id", "embedding", q, 10)
      .withColumn("query_id", lit(0L))
    val prod = Similarity.ivfPqTopKProduct(codes, coarse, pq, q, 10, nprobe = 8)
      .withColumn("query_id", lit(0L))
    val rProd = Similarity.evalRecall(prod, truth, "query_id", "id")
      .select("recall").head().getDouble(0)
    val rawPq = Similarity.pqFit(e, "embedding", m = 8, k = 16)
    val rRaw = Similarity.evalRecall(
      Similarity.pqTopK(Similarity.pqEncode(e, "vec_id", "embedding", rawPq),
        rawPq, q, 10).withColumn("query_id", lit(0L)),
      truth, "query_id", "id").select("recall").head().getDouble(0)
    withClue(s"product=$rProd rawPq=$rRaw: ") { rProd should be >= rRaw }
    prod.select("id").collect().map(_.getLong(0)) should contain(0L)
  }

  // ── Classifier ───────────────────────────────────────────────────────

  private lazy val clfCorpus = Seq(
    (1L, "good clean prose text", 1),
    (2L, "good clean wonderful text", 1),
    (3L, "spam spam click here", 0),
    (4L, "click spam buy now", 0),
  ).toDF("doc_id", "text", "label")

  test("Classifier fit/score separates classes; empty docs score the bias") {
    val m = Classifier.classifierFit(
      clfCorpus.filter($"label" === 1), clfCorpus.filter($"label" === 0), "text")
    m.bias shouldBe 0.0 // 2 vs 2 docs → ln(1) = 0
    val scored = Classifier.classifierScore(
      clfCorpus.unionByName(Seq((5L, "", 1)).toDF("doc_id", "text", "label")),
      "doc_id", "text", m)
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("clf_score")).toMap
    scored(1L) should be > 0.0
    scored(2L) should be > 0.0
    scored(3L) should be < 0.0
    scored(4L) should be < 0.0
    scored(5L) shouldBe m.bias // no grams → prior only
    // probability filter at 0.5 ≡ logit >= 0
    Classifier.probabilityFilter(clfCorpus, "doc_id", "text", m, minProb = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet shouldBe Set(1L, 2L)
  }

  test("Classifier model save/load round-trips and reproduces scores") {
    val m = Classifier.classifierFit(
      clfCorpus.filter($"label" === 1), clfCorpus.filter($"label" === 0), "text")
    val dir = java.nio.file.Files.createTempDirectory("clf_model_test").toString
    m.save(dir)
    val loaded = Classifier.ClassifierModel.load(spark, dir)
    loaded.bias shouldBe m.bias
    val a = Classifier.classifierScore(clfCorpus, "doc_id", "text", m)
      .select("doc_id", "clf_score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toSet
    val b = Classifier.classifierScore(clfCorpus, "doc_id", "text", loaded)
      .select("doc_id", "clf_score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toSet
    b shouldBe a
  }

  test("Classifier.hashed buckets weights; collisions sum deterministically") {
    val m = Classifier.classifierFit(
      clfCorpus.filter($"label" === 1), clfCorpus.filter($"label" === 0), "text")
    val h = Classifier.hashed(m, numBuckets = 4) // tiny → forced collisions
    h.numBuckets shouldBe 4
    h.weights.columns.toSeq shouldBe Seq("bucket", "weight")
    // total mass is preserved up to fold order (weights just re-group)
    val hashedAgain = Classifier.hashed(m, numBuckets = 4)
    hashedAgain.weights.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet shouldBe
      h.weights.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    // scoring still runs and keeps sign separation at this vocab size
    val scored = Classifier.classifierScore(clfCorpus, "doc_id", "text",
      Classifier.hashed(m, numBuckets = 1024))
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("clf_score")).toMap
    scored(1L) should be > scored(3L)
    // rejects double-hashing
    intercept[IllegalArgumentException](Classifier.hashed(h, 8))
  }

  test("Classifier.withProbability appends a sigmoid convenience column") {
    val m = Classifier.classifierFit(
      clfCorpus.filter($"label" === 1), clfCorpus.filter($"label" === 0), "text")
    val r = Classifier.classifierScore(clfCorpus, "doc_id", "text", m,
      withProbability = true)
      .filter($"doc_id" === 1L).head()
    val p = r.getAs[Double]("clf_prob")
    p shouldBe 1.0 / (1.0 + math.exp(-r.getAs[Double]("clf_score"))) +- 1e-15
    p should be > 0.5
  }

  test("TextOps.htmlToText strips blocks/tags, decodes entities once, keeps structure") {
    val df = Seq(
      (1L, "<html><head><style>p{c:1}</style></head><body>" +
        "<script>if(1<2){x()}</script><h1>Title</h1><p>first para</p>" +
        "<p>second</p><!-- hidden --></body></html>"),
      (2L, "plain text stays"),
      (3L, "a &amp;lt; b &nbsp;&quot;q&#39;"), // &amp;lt; must NOT double-decode
      (4L, "x<br>y<BR/>z"), // br (any case/shape) becomes a line break
    ).toDF("id", "html")
    val out = TextOps.stripHtml(df, "html").collect()
      .map(r => r.getLong(0) -> r.getAs[String]("text_plain")).toMap
    out(1L) shouldBe "Title\nfirst para\nsecond"
    out(2L) shouldBe "plain text stays"
    out(3L) shouldBe "a &lt; b \"q'"
    out(4L) shouldBe "x\ny\nz"
  }

  test("TextOps.metaRobots: both attribute orders, case folding, absent/charset-only metas") {
    val df = Seq(
      (1L, """<html><head><meta name="robots" content="NOINDEX, nofollow"></head>x"""),
      (2L, """<meta content="none" name=robots><p>y</p>"""), // content-first, bare name
      (3L, """<meta charset="utf-8"><p>no robots meta</p>"""),
      (4L, "plain text"),
    ).toDF("id", "html")
    val out = df.select($"id", graft.ops.TextOps.metaRobots($"html").as("m"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    out(1L) shouldBe "noindex, nofollow"
    out(2L) shouldBe "none"
    out(3L) shouldBe ""
    out(4L) shouldBe ""
  }

  test("TextOps.htmlHead: title collapse, description both orders, canonical shapes") {
    val df = Seq(
      (1L, "<html><head><title> My  Page\n Title </title>" +
        """<meta name="description" content="a  desc">""" +
        """<link rel="canonical" href="https://ex.com/c1"></head><body>x"""),
      // content-first meta, href-first link, single quotes, bare href
      (2L, """<meta content="d2" name='description'>""" +
        """<link href=/rel/c2 rel=canonical>"""),
      // nothing declared → all NULL; empty title is NULL too
      (3L, "<title></title><p>plain</p>"),
      // uppercase tag + attributes still match
      (4L, """<LINK REL="CANONICAL" HREF="https://ex.com/C4"><TITLE>T4</TITLE>"""),
    ).toDF("id", "html")
    val out = graft.ops.TextOps.htmlHead(df, "html")
      .select("id", "title", "meta_description", "canonical_url")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getString(2), r.getString(3))).toMap
    out(1L) shouldBe (("My Page Title", "a desc", "https://ex.com/c1"))
    out(2L) shouldBe ((null, "d2", "/rel/c2"))
    out(3L) shouldBe ((null, null, null))
    // rel=CANONICAL matches case-insensitively; href VALUE case is kept
    out(4L) shouldBe (("T4", null, "https://ex.com/C4"))
    // metaContent generalizes: any plain-token name, injection rejected
    df.filter($"id" === 1L)
      .select(graft.ops.TextOps.metaContent($"html", "description"))
      .head().getString(0) shouldBe "a desc"
    an[IllegalArgumentException] should be thrownBy
      graft.ops.TextOps.metaContent($"html", "a[b")
    // a name that merely EXTENDS the requested token must NOT match —
    // in either attribute order, quoted or bare (the terminator rule)
    val decoys = Seq(
      (1L, """<meta name="descriptions" content="decoy">"""),
      (2L, """<meta content="decoy" name="descriptions">"""),
      (3L, """<meta name=descriptions content="decoy">"""),
      (4L, """<meta content="decoy" name=descriptions>"""),
      // the real tag still extracts when a decoy precedes it
      (5L, """<meta name="descriptions" content="decoy">""" +
        """<meta name="description" content="real">"""),
    ).toDF("id", "html")
    val got = decoys
      .select($"id", graft.ops.TextOps.metaContent($"html", "description").as("d"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    got(1L) shouldBe null
    got(2L) shouldBe null
    got(3L) shouldBe null
    got(4L) shouldBe null
    got(5L) shouldBe "real"
  }

  test("TextOps.splitSentences: reading-order ids, empties dropped, no lookbehind") {
    val df = Seq(
      (1L, "One. Two two! Three? End"),
      (2L, "no punct at all"),
      (3L, "Trailing. "), // trailing gap → empty tail dropped
      (4L, "Dr. Smith went home."), // the documented abbreviation trade
    ).toDF("id", "text")
    val out = TextOps.splitSentences(df, "id", "text").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(t => (t._2, t._3)).toSeq).toMap
    out(1L) shouldBe Seq((0, "One."), (1, "Two two!"), (2, "Three?"), (3, "End"))
    out(2L) shouldBe Seq((0, "no punct at all"))
    out(3L) shouldBe Seq((0, "Trailing."))
    out(4L) shouldBe Seq((0, "Dr."), (1, "Smith went home."))
  }

  // ── Url ──────────────────────────────────────────────────────────────

  test("Url.urlFeatures extracts host/domain/path/depth across URL shapes") {
    val df = Seq(
      (1L, "https://www.example.com/a/b/c?x=1"),
      (2L, "http://blog.bbc.co.uk/post/42"), // multi-part public suffix
      (3L, "https://login:pw@files.cdn.org:8080/dl"), // userinfo + port
      (4L, "ftp://HOST.Example.NET"), // bare host, case folding
      (5L, "not a url at all"),
      // bracketed IPv6 authorities: the SAME host notion as
      // canonicalizeUrl (brackets kept, port split after the bracket) —
      // the plain split-at-colon rule would shear every IPv6 URL to "["
      (6L, "http://[2001:db8::5]/x"),
      (7L, "https://[2001:DB8::5]:8443/a/b"),
    ).toDF("id", "url")
    val out = Url.urlFeatures(df, "url").collect()
      .map(r => r.getLong(0) ->
        (r.getAs[String]("url_host"), r.getAs[String]("url_domain"),
          r.getAs[String]("url_path"), r.getAs[Int]("url_depth"))).toMap
    out(1L) shouldBe (("www.example.com", "example.com", "/a/b/c", 3))
    out(2L) shouldBe (("blog.bbc.co.uk", "bbc.co.uk", "/post/42", 2))
    out(3L) shouldBe (("files.cdn.org", "cdn.org", "/dl", 1))
    out(4L) shouldBe (("host.example.net", "example.net", "", 0))
    out(5L) shouldBe (("", "", "", 0)) // no scheme → no features
    out(6L) shouldBe (("[2001:db8::5]", "[2001:db8::5]", "/x", 1))
    out(7L) shouldBe (("[2001:db8::5]", "[2001:db8::5]", "/a/b", 2))
  }

  test("Url.domainFilter drops blocklisted registered domains, keeps hostless") {
    val df = Seq(
      (1L, "https://www.bad.com/x"),
      (2L, "https://sub.deep.bad.com/y"), // same registered domain
      (3L, "https://good.org/z"),
      (4L, "no url here"), // hostless → kept
    ).toDF("id", "url")
    val kept = Url.domainFilter(df, "url", Seq("bad.com"))
      .select("id").collect().map(_.getLong(0)).toSet
    kept shouldBe Set(3L, 4L)
  }

  test("Url.domainStats aggregates docs/hosts/tokens per registered domain") {
    val df = Seq(
      (1L, "https://www.shop.com/a", 10L),
      (2L, "https://cdn.shop.com/b", 20L), // second host, same domain
      (3L, "https://www.shop.com/c", 5L), // repeat host
      (4L, "http://blog.bbc.co.uk/post", 7L), // multi-part suffix
      (5L, "no url", 3L), // hostless → "" group
    ).toDF("id", "url", "tok")
    val out = Url.domainStats(df, "url", tokenCol = Some("tok")).collect()
      .map(r => r.getAs[String]("url_domain") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_hosts"),
          r.getAs[Long]("n_tokens"))).toMap
    out("shop.com") shouldBe ((3L, 2L, 35L))
    out("bbc.co.uk") shouldBe ((1L, 1L, 7L))
    out("") shouldBe ((1L, 1L, 3L))
    // tokenCol omitted → no n_tokens column
    Url.domainStats(df, "url").columns.toSeq shouldBe
      Seq("url_domain", "n_docs", "n_hosts")
  }

  // ── Bpe ──────────────────────────────────────────────────────────────

  private lazy val bpeFix = Bpe.BpeModel(Seq(
    "t" -> "h", "th" -> "e", "t" -> "a", "ta" -> "b", "tab" -> "l",
    "tabl" -> "e", "a" -> "a"))

  test("Bpe.bpeTokens merges sequentially, leftmost non-overlapping") {
    val df = Seq((1L, "the table"), (2L, "aaa"), (3L, ""), (4L, "the"))
      .toDF("id", "text")
    val out = Bpe.tokenizeBpe(df, "text", bpeFix)
      .select($"id", $"bpe_tokens").collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    out(1L) shouldBe Seq("the", " ", "table")
    out(2L) shouldBe Seq("aa", "a") // leftmost-first, no re-merge of "aa"+"a"
    out(3L) shouldBe Seq.empty
    out(4L) shouldBe Seq("the") // U+001F stripped before tokenization
  }

  test("Bpe.compressionStats reports per-group chars/tokens fertility") {
    val df = Seq(
      (1L, "en", "the table"), // merges spell "the"/"table" → few tokens
      (2L, "en", "the"),
      (3L, "zh", "xyzq"), // nothing merges → 1 token per char
      (4L, "zh", null.asInstanceOf[String]), // counts a doc, 0 chars/tokens
    ).toDF("id", "lang", "text")
    val out = Bpe.compressionStats(df, "text", bpeFix, Seq("lang")).collect()
      .map(r => r.getString(0) ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_chars"),
          r.getAs[Long]("n_bpe"), Option(r.getAs[Any]("chars_per_token"))))).toMap
    // "the table" → the|' '|table (3), "the" → the (1)
    out("en") shouldBe ((2L, 12L, 4L, Some(3.0)))
    out("zh") shouldBe ((2L, 4L, 4L, Some(1.0)))
  }

  test("Bpe native kernel is bit-identical to the REPLACE-chain fallback") {
    val df = Seq(
      (1L, "the quick brown fox leapt over the old stone table"),
      (2L, "tthhee ttaabb aaaa"), // adversarial: interleaved + runs
      (3L, "español über 中文 text"), // non-ASCII code points
      (4L, " leading and trailing  "),
      (5L, null.asInstanceOf[String]), // NULL text → [] on BOTH paths
    ).toDF("id", "text")
    spark.catalog.functionExists(graft.functions.TilePairs.BpeName) shouldBe true
    val native = df.select($"id", Bpe.bpeTokens($"text", bpeFix).as("t"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val fallback = df.select($"id", Bpe.bpeTokensFallback($"text", bpeFix).as("t"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    native shouldBe fallback
    // tokens always rebuild the (separator-stripped) text exactly
    native(4L).mkString shouldBe " leading and trailing  "
    native(5L) shouldBe Seq.empty // no NULL-vs-empty divergence across paths
  }

  test("Bpe.bpeFit learns word-internal merges deterministically") {
    val corpus = Seq.tabulate(20)(i => (i.toLong, "the cat the hat the mat"))
      .toDF("id", "text")
    val m = Bpe.bpeFit(corpus, "text", numMerges = 3)
    // (a,t), (t,h), (h,e) all occur 3×/doc — ties break pair-ascending, so
    // (a,t) wins round 1; whitespace pairs like ("e"," ") are excluded by
    // the word-internal rule despite being as frequent
    m.merges.head shouldBe ("a" -> "t")
    m.merges.foreach { case (a, b) =>
      (a + b).exists(_.isWhitespace) shouldBe false
    }
    val m2 = Bpe.bpeFit(corpus, "text", numMerges = 3)
    m2.merges shouldBe m.merges
  }

  test("Bpe.bpeFit stops at minCount and rejects empty fits") {
    val corpus = Seq((1L, "ab cd"), (2L, "ef gh")).toDF("id", "text")
    // every pair occurs once → nothing reaches minCount=2
    val e = intercept[graft.errors.FeatureFactoryException.InvalidParameter] {
      Bpe.bpeFit(corpus, "text", numMerges = 5, minCount = 2L)
    }
    e.getMessage should include("minCount")
  }

  test("BpeModel save/load round-trips exactly") {
    val dir = java.nio.file.Files.createTempDirectory("bpe_model_test").toString
    bpeFix.save(dir)
    Bpe.BpeModel.load(dir).merges shouldBe bpeFix.merges
  }

  test("Bpe.bpeTokenCount plugs into sampleTokenBudget as tokenCol") {
    val df = Seq.tabulate(30)(i => (i.toLong, "the table " * (i % 5 + 1)))
      .toDF("doc_id", "text")
    val counted = Bpe.bpeTokenCount(df, "text", bpeFix).select("doc_id", "n_bpe")
    val out = Sampling.sampleTokenBudget(counted, "doc_id", "n_bpe",
      budget = 100L, numBuckets = 4)
    out.count() should be > 0L
    // budget respected: selected docs' counts sum to <= budget
    out.agg(sum("n_bpe")).head().getLong(0) should be <= 100L
  }

  test("Bpe external import: GPT-2 merges.txt/vocab.json parse, byte alphabet, byteLevel tokens") {
    val G = "Ġ" // 'G-dot': the byte alphabet's space
    val d = java.nio.file.Files.createTempDirectory("gpt2_test")
    java.nio.file.Files.writeString(d.resolve("merges.txt"),
      s"#version: 0.2\nt h\nth e\n$G t\n\n") // header + blank line skipped
    java.nio.file.Files.writeString(d.resolve("vocab.json"),
      s"""{"the": 0, "${G}the": 1, "$G": 9, "t": 5}""")
    val m = Bpe.loadGpt2Merges(d.resolve("merges.txt").toString)
    m.merges shouldBe Seq(("t", "h"), ("th", "e"), (G, "t"))
    Bpe.loadGpt2Vocab(d.resolve("vocab.json").toString) shouldBe
      Seq("the" -> 0, s"${G}the" -> 1, "t" -> 5, G -> 9)
    // malformed line (a single token, no pair) is LOUD
    java.nio.file.Files.writeString(d.resolve("bad.txt"), "t h\nxyz\n")
    val e = intercept[Exception] {
      Bpe.loadGpt2Merges(d.resolve("bad.txt").toString)
    }
    e.getMessage should include("malformed merge line 2")
    // byte alphabet: printable bytes map to themselves, space → Ġ,
    // newline → Ċ (U+010A), é's UTF-8 bytes → 'Ã©' (one char per BYTE)
    val enc = Seq(Tuple1("A é\n")).toDF("t")
      .select(Bpe.gpt2ByteEncode($"t")).head().getString(0)
    enc shouldBe "A" + G + "Ã©" + "Ċ"
    // byteLevel tokenization under the imported merges, GPT-2 pretok:
    // " the" → Ġthe → [Ġ, the] (t+h, th+e fire; Ġ+t no longer adjacent),
    // " cat" → [Ġ, c, a, t] (no merge applies)
    val toks = Bpe.bpeTokens(lit(" the cat"), m,
      pretok = Some(Bpe.Gpt2PretokPattern), byteLevel = true)
    val got = Seq(Tuple1(1)).toDF("x").select(toks.as("t"))
      .head().getSeq[String](0)
    got shouldBe Seq(G, "the", G, "c", "a", "t")
    // and the fallback path agrees token for token
    val fb = Seq(Tuple1(" the cat")).toDF("t").select(
      flatten(transform(
        regexp_extract_all($"t", lit(Bpe.Gpt2PretokPattern), lit(0)),
        p => Bpe.bpeTokensFallback(Bpe.gpt2ByteEncode(p), m))))
      .head().getSeq[String](0)
    fb shouldBe got
  }

  test("Bpe.loadTiktoken: rank file parse, merge recovery, byteLevel tokens agree with greedy") {
    val G = "Ġ" // byte 0x20 in the shared byte alphabet
    val d = java.nio.file.Files.createTempDirectory("tiktoken_test")
    def b64(s: String): String =
      java.util.Base64.getEncoder.encodeToString(s.getBytes("ISO-8859-1"))
    // cl100k shape: every single byte at rank = byte value, then merges
    val singles = (0 until 256).map(b =>
      java.util.Base64.getEncoder.encodeToString(Array(b.toByte)) + s" $b")
    val multis = Seq(
      b64("in") + " 256", b64("an") + " 257", b64(" a") + " 258",
      b64("and") + " 259", b64("ing") + " 260")
    java.nio.file.Files.writeString(d.resolve("ranks.tiktoken"),
      (singles ++ multis).mkString("\n") + "\n")
    val (m, vocab) = Bpe.loadTiktoken(d.resolve("ranks.tiktoken").toString)
    // recovered merges, in rank order, over the byte alphabet
    m.merges shouldBe Seq(("i", "n"), ("a", "n"), (G, "a"), ("an", "d"), ("in", "g"))
    vocab.size shouldBe 261
    vocab.take(2) shouldBe Seq("Ā" -> 0, "ā" -> 1) // bytes 0, 1 → U+0100, U+0101
    vocab.last shouldBe ("ing" -> 260)
    // application matches tiktoken's greedy lowest-rank-pair semantics
    val toks = Bpe.bpeTokens(lit(" and inking"), m,
      pretok = Some(Bpe.Gpt2PretokPattern), byteLevel = true)
    Seq(Tuple1(1)).toDF("x").select(toks.as("t")).head().getSeq[String](0) shouldBe
      Seq(G, "and", G, "in", "k", "ing")
    // a multi-byte token with no lower-rank split is LOUD (corrupt file)
    java.nio.file.Files.writeString(d.resolve("bad.tiktoken"), b64("ab") + " 0\n")
    val e1 = intercept[Exception](
      Bpe.loadTiktoken(d.resolve("bad.tiktoken").toString))
    e1.getMessage should include("no lower-rank split")
    // duplicate tokens and malformed lines are loud too
    java.nio.file.Files.writeString(d.resolve("dup.tiktoken"),
      b64("a") + " 0\n" + b64("a") + " 1\n")
    intercept[Exception](
      Bpe.loadTiktoken(d.resolve("dup.tiktoken").toString))
      .getMessage should include("appears twice")
    // one rank on two tokens is equally loud (merge order would be
    // arbitrary — round-14 review)
    java.nio.file.Files.writeString(d.resolve("duprank.tiktoken"),
      b64("a") + " 7\n" + b64("b") + " 7\n")
    intercept[Exception](
      Bpe.loadTiktoken(d.resolve("duprank.tiktoken").toString))
      .getMessage should include("two tokens")
    java.nio.file.Files.writeString(d.resolve("mal.tiktoken"), "notbase64&& x\n")
    an[Exception] should be thrownBy
      Bpe.loadTiktoken(d.resolve("mal.tiktoken").toString)
  }

  test("Bpe.Cl100kPretokPattern: GPT-4-family pre-split rules (Java regex)") {
    def split(s: String): List[String] = {
      val m = java.util.regex.Pattern.compile(Bpe.Cl100kPretokPattern).matcher(s)
      val out = scala.collection.mutable.ListBuffer.empty[String]
      while (m.find()) out += m.group()
      out.toList
    }
    // digit runs chunk in THREES; spaces glue to the following word
    split("It's 12345 ok") shouldBe List("It", "'s", " ", "123", "45", " ok")
    // contractions are case-insensitive (the (?i:) group)
    split("I'M HERE") shouldBe List("I", "'M", " HERE")
    // the trailing-space donation rule: a space run leaves its last
    // space for the next word
    split("a  b") shouldBe List("a", " ", " b")
    // punctuation runs swallow trailing newlines (the ++[\r\n]* branch)
    split("end!!\nnext") shouldBe List("end", "!!\n", "next")
    // the whole text round-trips (pre-split loses no byte)
    val s = "Mix3d text, 9000123 numbers — and\nlines\t x"
    split(s).mkString shouldBe s
    // (?U): NBSP is Unicode whitespace, so an NBSP run splits like an
    // ASCII space run (donation rule) — without UNICODE_CHARACTER_CLASS
    // Java's \s is ASCII-only and the possessive punctuation branch
    // would swallow the run whole (round-15 ADVICE fix; tiktoken's
    // engine treats \s as Unicode whitespace)
    split("a\u00a0\u00a0b") shouldBe List("a", "\u00a0", "\u00a0b")
    split("a\u00a0\u00a0") shouldBe List("a", "\u00a0\u00a0")
    // production application: cl100k pre-split + the imported ranks
    // (the kernel path takes any Java-regex pattern)
    val d = java.nio.file.Files.createTempDirectory("tk_cl100k")
    def b64(x: String): String =
      java.util.Base64.getEncoder.encodeToString(x.getBytes("ISO-8859-1"))
    val singles = (0 until 256).map(b =>
      java.util.Base64.getEncoder.encodeToString(Array(b.toByte)) + s" $b")
    java.nio.file.Files.writeString(d.resolve("r.tiktoken"),
      (singles ++ Seq(b64("12") + " 256")).mkString("\n") + "\n")
    val (m2, _) = Bpe.loadTiktoken(d.resolve("r.tiktoken").toString)
    val toks = Bpe.bpeTokens(lit("9 12345"), m2,
      pretok = Some(Bpe.Cl100kPretokPattern), byteLevel = true)
    // "12345" chunks to "123","45" BEFORE merging, so "12" only fuses
    // inside the first chunk: [9, Ġ? ...] — byte alphabet: space → Ġ
    Seq(Tuple1(1)).toDF("x").select(toks.as("t")).head().getSeq[String](0) shouldBe
      Seq("9", "Ġ", "12", "3", "4", "5")
  }

  test("Bpe.O200kPretokPattern: GPT-4o-family pre-split rules (Java regex)") {
    def split(s: String): List[String] = {
      val m = java.util.regex.Pattern.compile(Bpe.O200kPretokPattern).matcher(s)
      val out = scala.collection.mutable.ListBuffer.empty[String]
      while (m.find()) out += m.group()
      out.toList
    }
    // contractions attach as a SUFFIX inside the word branch (cl100k
    // splits them off as a standalone leading-quote token)
    split("it's here") shouldBe List("it's", " here")
    split("I'M OK") shouldBe List("I'M", " OK")
    // case structure: Upper*lower+ is one pre-token, so camel-case
    // splits at the case boundary and an acronym+word stays fused
    split("HelloWorld") shouldBe List("Hello", "World")
    split("HTTPServer") shouldBe List("HTTPServer")
    split("ABC") shouldBe List("ABC")
    // digit runs still chunk in threes; spaces glue to words
    split("a 12345") shouldBe List("a", " ", "123", "45")
    // punctuation runs swallow trailing slashes AND newlines (the
    // [\r\n/]* URL-path rule, new vs cl100k's [\r\n]*)
    split("a://b") shouldBe List("a", "://", "b")
    split("end!/\nnext") shouldBe List("end", "!/\n", "next")
    // newline RUNS are one pre-token ([\r\n]+)
    split("a\n\n\nb") shouldBe List("a", "\n\n\n", "b")
    // trailing-space donation, ASCII and (?U) Unicode whitespace alike
    split("a  b") shouldBe List("a", " ", " b")
    split("a\u00a0\u00a0b") shouldBe List("a", "\u00a0", "\u00a0b")
    // the whole text round-trips (pre-split loses no byte)
    val s = "Mix3d O200K text: 9000123, HTTPServer/path — it's\nfine\t x"
    split(s).mkString shouldBe s
    // production application: o200k pre-split + imported ranks through
    // the kernel path (any Java-regex pattern)
    val d = java.nio.file.Files.createTempDirectory("tk_o200k")
    def b64(x: String): String =
      java.util.Base64.getEncoder.encodeToString(x.getBytes("ISO-8859-1"))
    val singles = (0 until 256).map(b =>
      java.util.Base64.getEncoder.encodeToString(Array(b.toByte)) + s" $b")
    java.nio.file.Files.writeString(d.resolve("r.tiktoken"),
      (singles ++ Seq(b64("it") + " 256")).mkString("\n") + "\n")
    val (m2, _) = Bpe.loadTiktoken(d.resolve("r.tiktoken").toString)
    val toks = Bpe.bpeTokens(lit("it's it"), m2,
      pretok = Some(Bpe.O200kPretokPattern), byteLevel = true)
    // pre-tokens ["it's", " it"]: "it" merges inside both (the second
    // under the byte alphabet's Ġ space prefix, which blocks nothing —
    // merges are within-pre-token)
    Seq(Tuple1(1)).toDF("x").select(toks.as("t")).head().getSeq[String](0) shouldBe
      Seq("it", "'", "s", "Ġ", "it")
  }

  test("Bpe.loadSentencePiece: protobuf walk, BPE merge recovery, ▁ preprocessing") {
    val W = "▁" // '▁', SP's word-boundary marker
    // hand-built ModelProto: repeated field-1 SentencePiece messages
    // (piece=1 string, score=2 float, type=3 enum), plus decoy fields at
    // both levels that the walk must skip by wire type
    def buildModel(pieces: Seq[(String, Float, Int)]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      def varint(o: java.io.ByteArrayOutputStream, v0: Long): Unit = {
        var v = v0
        while ((v & ~0x7fL) != 0) { o.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
        o.write(v.toInt)
      }
      pieces.foreach { case (p, s, k) =>
        val inner = new java.io.ByteArrayOutputStream()
        val pb = p.getBytes("UTF-8")
        inner.write(0x0A); varint(inner, pb.length); inner.write(pb)
        inner.write(0x15) // field 2, fixed32
        val bits = java.lang.Float.floatToIntBits(s)
        inner.write(bits & 0xff); inner.write((bits >> 8) & 0xff)
        inner.write((bits >> 16) & 0xff); inner.write((bits >> 24) & 0xff)
        if (k != 1) { inner.write(0x18); varint(inner, k) } // absent = NORMAL
        inner.write(0x28); varint(inner, 7L) // decoy inner varint field 5
        bos.write(0x0A); varint(bos, inner.size); inner.writeTo(bos)
      }
      // decoy top-level field 2 (trainer_spec), wire 2
      bos.write(0x12); varint(bos, 3); bos.write(Array[Byte](1, 2, 3))
      bos.toByteArray
    }
    val pieces = Seq(
      ("<unk>", 0f, 2), (W, -1f, 1), ("a", -2f, 1), ("n", -3f, 1),
      ("d", -4f, 1), ("t", -5f, 1), ("h", -6f, 1), ("e", -7f, 1),
      ("an", -8f, 1), ("and", -9f, 1), (s"${W}t", -10f, 1), ("th", -11f, 1),
      (s"${W}th", -12f, 1), (s"${W}the", -13f, 1), ("<0x41>", 0f, 6))
    val d = java.nio.file.Files.createTempDirectory("sp_test")
    val mp = d.resolve("sp.model")
    java.nio.file.Files.write(mp, buildModel(pieces))
    val loaded = Bpe.loadSentencePiece(mp.toString)
    loaded.size shouldBe 15
    loaded(0) shouldBe Bpe.SpPiece("<unk>", 0f, 2)
    loaded(1) shouldBe Bpe.SpPiece(W, -1f, 1)
    loaded(14).kind shouldBe 6 // BYTE piece carried through
    // merge recovery: index order, minimizing the max parent index —
    // '▁th' must split (▁t, h), not (▁, th)
    val m = Bpe.sentencePieceModel(loaded)
    m.merges shouldBe Seq(("a", "n"), ("an", "d"), (W, "t"), ("t", "h"),
      (s"${W}t", "h"), (s"${W}th", "e"))
    // ▁ preprocessing + merge application: "the and" → [▁the, ▁, and]
    val toks = Bpe.bpeTokens(Bpe.spPretokEncode(lit("the and")), m)
    Seq(Tuple1(1)).toDF("x").select(toks.as("t")).head().getSeq[String](0) shouldBe
      Seq(s"${W}the", W, "and")
    // NULL text → no tokens (the tokenizer convention)
    val nullToks = Bpe.bpeTokens(
      Bpe.spPretokEncode(lit(null).cast("string")), m)
    Seq(Tuple1(1)).toDF("x").select(nullToks.as("t")).head().getSeq[String](0) shouldBe
      Seq.empty
    // byte fallback: a model carrying the full <0xNN> table maps
    // out-of-vocab tokens to their UTF-8 bytes' piece ids — no UNKs
    val withBytes = pieces ++
      (0 until 256).filter(_ != 0x41).map(k => (f"<0x$k%02X>", 0f, 6))
    val bp = d.resolve("bytes.model")
    java.nio.file.Files.write(bp, buildModel(withBytes))
    val loadedB = Bpe.loadSentencePiece(bp.toString)
    val mB = Bpe.sentencePieceModel(loadedB)
    // "Bé" is out of vocab: 'B' → <0x42>, 'é' → UTF-8 C3 A9 → two pieces
    val idx = loadedB.zipWithIndex.map { case (p, i) => (p.piece, i) }.toMap
    val ids = Seq(Tuple1(1)).toDF("x").select(
      Bpe.spByteFallbackIds(
        Bpe.bpeTokens(Bpe.spPretokEncode(lit("the Bé")), mB),
        loadedB).as("i")).head().getSeq[Int](0)
    ids shouldBe Seq(idx(s"${W}the"), idx(W), idx("<0x42>"),
      idx("<0xC3>"), idx("<0xA9>"))
    // the id stream decodes back to the exact input (encode∘decode = id)
    Bpe.spDecodeIds(ids, loadedB) shouldBe "the Bé"
    intercept[Exception](Bpe.spDecodeIds(Seq(99999), loadedB))
      .getMessage should include("outside")
    // a model WITHOUT the full byte table is loud (ids would become UNKs)
    intercept[Exception](
      Bpe.spByteFallbackIds(lit(Array("x")), loaded))
      .getMessage should include("byte_fallback")
    // <0xNN>-NAMED pieces of the wrong KIND are equally loud — their ids
    // would decode as literal '<0xNN>' text, not bytes (round-14 review)
    val namedNotByte = loadedB.map(p =>
      if (p.kind == 6) p.copy(kind = 4) else p) // USER_DEFINED impostors
    intercept[Exception](
      Bpe.spByteFallbackIds(lit(Array("x")), namedNotByte))
      .getMessage should include("BYTE piece")
    // a unigram model (no merge history) is LOUD, not silently wrong
    val uni = Seq(("<unk>", 0f, 2), ("a", -1f, 1), ("xyz", -2f, 1))
    val up = d.resolve("uni.model")
    java.nio.file.Files.write(up, buildModel(uni))
    intercept[Exception](
      Bpe.sentencePieceModel(Bpe.loadSentencePiece(up.toString)))
      .getMessage should include("no lower-index split")
    // truncated bytes are loud, never an empty vocab
    java.nio.file.Files.write(d.resolve("torn.model"),
      buildModel(pieces).dropRight(9))
    an[Exception] should be thrownBy
      Bpe.loadSentencePiece(d.resolve("torn.model").toString)
  }

  test("Bpe.unigramTokens: Viterbi ML segmentation, tie rule, UNK, kernel/fallback parity") {
    import Bpe.SpPiece
    val W = "▁"
    def P(p: String, s: Double, k: Int = 1) = SpPiece(p, s.toFloat, k)
    def toks(text: String, pieces: Seq[SpPiece]): Seq[String] =
      Seq(Tuple1(1)).toDF("x")
        .select(Bpe.unigramTokens(lit(text), pieces).as("t"))
        .head().getSeq[String](0)
    def toksFb(text: String, pieces: Seq[SpPiece]): Seq[String] = {
      val (surf, sc) = Bpe.unigramTable(pieces)
      Seq(Tuple1(1)).toDF("x")
        .select(Bpe.unigramTokensFallback(lit(text), surf, sc).as("t"))
        .head().getSeq[String](0)
    }
    // Viterbi is MAXIMUM-LIKELIHOOD, not greedy-longest: greedy picks
    // [ab, c] (-1-5 = -6); the ML split is [a, bc] (-2-2 = -4)
    val vp = Seq(P("<unk>", 0, 2), P("a", -2), P("b", -4), P("c", -5),
      P("ab", -1), P("bc", -2))
    toks("abc", vp) shouldBe Seq("a", "bc")
    // exact score tie → the LONGER piece wins (SentencePiece's lattice
    // compares nodes ending at a position begin-ascending = length-
    // DESCENDING with a strict >, so the longest equal-scoring node
    // keeps the backpointer): s(qu) = -10 = s(q)+s(u) exactly
    val tp = Seq(P("q", -5), P("u", -5), P("qu", -10), P("x", -1))
    toks("xqux", tp) shouldBe Seq("x", "qu", "x")
    toks("qu", tp) shouldBe Seq("qu")
    // unknown code points surface as themselves (one token per code
    // point, min(score)−10 each) and never displace a known single
    val up = Seq(P("a", -1))
    toks("aZZa", up) shouldBe Seq("a", "Z", "Z", "a")
    // an astral unknown consumes the WHOLE code point, never half a
    // surrogate pair
    val emoji = new String(Character.toChars(0x1F600))
    toks(s"a${emoji}a", up) shouldBe Seq("a", emoji, "a")
    // a BYTE piece's literal surface must NOT match literal text —
    // only NORMAL pieces join the match table
    val bp = Seq(P("a", -1)) ++ (0 until 256).map(k => P(f"<0x$k%02X>", 0, 6))
    toks("<0x41>", bp).length shouldBe 6 // six unk chars, not one byte piece
    // concat(tokens) == text exactly (the lattice-surface law)
    val mixed = s"a${emoji}Z qu${W}ab"
    toks(mixed, vp ++ tp).mkString shouldBe mixed
    // NULL / empty → empty array
    toks("", vp) shouldBe Seq.empty
    Seq(Tuple1(1)).toDF("x")
      .select(Bpe.unigramTokens(lit(null).cast("string"), vp).as("t"))
      .head().getSeq[String](0) shouldBe Seq.empty
    // kernel and pure-Column fallback are bit-identical, including the
    // tie rule, unk handling, and astral steps
    for (t <- Seq("abc", "xqux", "qu", "aZZa", s"a${emoji}a", mixed, "", "ab"))
      toksFb(t, vp ++ tp) shouldBe toks(t, vp ++ tp)
    // duplicate surfaces keep the FIRST score (both paths)
    val dup = Seq(P("a", -1), P("a", -100), P("b", -1))
    toks("ab", dup) shouldBe Seq("a", "b")
    toksFb("ab", dup) shouldBe Seq("a", "b")
    // no NORMAL pieces is loud, not an empty tokenizer
    intercept[Exception](
      toks("a", Seq(P("<unk>", 0, 2), P("<0x41>", 0, 6))))
      .getMessage should include("NORMAL")
    // non-finite scores are loud: a -Inf piece would poison the unk
    // penalty (min − 10) and could hang the kernel's backtrack — the
    // never-throw contract must also be never-HANG (round-15 review)
    intercept[Exception](
      toks("a", Seq(P("a", Double.NegativeInfinity))))
      .getMessage should include("non-finite")
    intercept[Exception](
      toks("a", Seq(P("a", Double.NaN))))
      .getMessage should include("non-finite")
    // ▁ convention + byte-fallback ids compose: unknown chars (digits)
    // fall back to UTF-8 byte pieces and the id stream decodes back
    val full = Seq(P("<unk>", 0, 2), P(W, -2), P(s"${W}a", -3), P("a", -4),
      P("b", -4.5), P("ab", -6)) ++
      (0 until 256).map(k => P(f"<0x$k%02X>", 0, 6))
    val enc = Seq(Tuple1(1)).toDF("x").select(
      Bpe.spByteFallbackIds(
        Bpe.unigramTokens(Bpe.spPretokEncode(lit("ab 7a")), full),
        full).as("i")).head().getSeq[Int](0)
    Bpe.spDecodeIds(enc, full) shouldBe "ab 7a"
    // the DataFrame wrappers: tokens + counts + fertility stats
    val df = Seq((1L, "en", "ab ab"), (2L, "en", null: String),
      (3L, "xx", "77")).toDF("doc_id", "lang", "text")
    val tok = Bpe.tokenizeUnigram(df, "text", full,
      preEncode = Bpe.spPretokEncode)
    tok.filter(col("doc_id") === 1L).head().getSeq[String](3) shouldBe
      Seq(s"${W}a", "b", s"${W}a", "b")
    val cnt = Bpe.unigramTokenCount(df, "text", full,
      preEncode = Bpe.spPretokEncode)
    cnt.collect().map(r => r.getLong(0) -> r.getInt(3)).toMap shouldBe
      Map(1L -> 4, 2L -> 0, 3L -> 3) // "77" → ▁, 7, 7
    val st = Bpe.unigramStats(df, "text", full, Seq("lang"),
      preEncode = Bpe.spPretokEncode)
    val en = st.filter(col("lang") === "en").head()
    en.getLong(1) shouldBe 2L // n_docs
    en.getLong(2) shouldBe 5L // n_chars: raw "ab ab", NULL counts 0
    en.getLong(3) shouldBe 4L // n_sp
    en.getDouble(4) shouldBe 5.0 / 4.0
  }

  test("vocabOf/encodeIds: deterministic ids, alphabet-first, UNK for unseen code points") {
    val model = Bpe.BpeModel(Seq(("a", "b"), ("ab", "c"), ("a", "b"))) // dup product
    val vocab = Bpe.vocabOf(model, Seq("c", "a", "b", "a")) // unsorted, dup input
    // sorted alphabet first, then products in rank order, dups collapsed
    vocab shouldBe Seq("a" -> 0, "b" -> 1, "c" -> 2, "ab" -> 3, "abc" -> 4)
    val d = Seq((1L, "abca"), (2L, "abz")).toDF("doc_id", "text")
    val out = Bpe.encodeIds(d, "text", model, vocab)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](2)).toMap
    // "abca" → abc, a; "abz" → ab, z(UNK)
    out(1L) shouldBe Seq(4, 0)
    out(2L) shouldBe Seq(3, -1)
    // alphabetOf extracts sorted distinct code points, stripping U+001F
    Bpe.alphabetOf(Seq(Tuple1("ba" + Bpe.Sep + "c")).toDF("t"), "t") shouldBe
      Seq("a", "b", "c")
    // CODE-POINT order, not UTF-16 code-unit order: a supplementary-plane
    // symbol (U+1F600, surrogate lead 0xD83D) sorts AFTER U+FE70 — the
    // binary-UTF-8 order every replaying engine uses
    val emoji = new String(Character.toChars(0x1F600))
    val high = "\uFE70"
    Bpe.vocabOf(Bpe.BpeModel(Nil), Seq(emoji, high, "a")) shouldBe
      Seq("a" -> 0, high -> 1, emoji -> 2)
  }

  test("materializeSequences concatenates bins in pack order with exact totals") {
    val counted = Seq(
      (1L, "one two", 2), (2L, "three", 1), (3L, "four five six", 3),
      (4L, "seven", 1))
      .toDF("doc_id", "text", "n")
    val packed = Sampling.packSequences(counted, "doc_id", "n",
      capacity = 3, numBuckets = 1)
    val out = Sampling.materializeSequences(packed, "text", "n")
      .orderBy("bin").collect()
    // one bucket: pack order is (hash, id); totals must be exact and the
    // concatenation must follow start_offset order within each bin
    out.map(_.getAs[Long]("n_tokens")).sum shouldBe 7L
    out.map(_.getAs[Long]("n_docs")).sum shouldBe 4L
    val texts = out.map(_.getAs[String]("seq_text"))
    texts.mkString(" ").split(" ").sorted.toSeq shouldBe
      "one two three four five six seven".split(" ").sorted.toSeq
    // pack order within a bin = ascending start_offset: re-derive it
    val order = packed.orderBy("bin", "start_offset")
      .collect().map(r => (r.getAs[Long]("bin"), r.getString(1)))
    val expected = order.groupBy(_._1).view
      .mapValues(_.map(_._2).mkString(" ")).toMap
    out.foreach { r =>
      r.getAs[String]("seq_text") shouldBe expected(r.getAs[Long]("bin"))
    }
  }

  test("TextOps.chunkTokensBy windows a precomputed token array") {
    val df = Seq((1L, "the table the table the table")).toDF("doc_id", "text")
    val out = TextOps.chunkTokensBy(
      Bpe.tokenizeBpe(df, "text", bpeFix).drop("text"),
      "bpe_tokens", chunkSize = 4, overlap = 1, joiner = "")
      .orderBy("chunk_id").collect()
    // 11 tokens (the,␠,table,␠,the,␠,table,␠,the,␠,table), stride 3
    out.map(_.getAs[Long]("chunk_id")).toSeq shouldBe Seq(0L, 1L, 2L, 3L)
    out.head.getAs[String]("chunk_text") shouldBe "the table "
    out.last.getAs[Int]("chunk_tokens") shouldBe 2 // tail window: "␠table"
    out.foreach(_.schema.fieldNames should not contain "bpe_tokens")
  }

  // ── dedupCorpusBy / upsampleGroups / prototypicality / truncation ────

  test("dedupCorpusBy keeps the best-scoring cluster member, ties by min id") {
    val d = Seq(
      (1L, "aaaa bbbb cccc dddd eeee", 5.0),
      (2L, "aaaa bbbb cccc dddd eeee", 9.0), // best of cluster {1,2,3}
      (3L, "aaaa bbbb cccc dddd eeee", 9.0), // ties 2 on score → 2 wins (min id)
      (4L, "totally unrelated text content", 1.0), // singleton
    ).toDF("doc_id", "text", "score")
    Dedup.dedupCorpusBy(d, "doc_id", "text", "score")
      .collect().map(_.getLong(0)).sorted.toSeq shouldBe Seq(2L, 4L)
    // min-id keep rule for reference: dedupCorpus would keep 1, not 2
    Dedup.dedupCorpus(d, "doc_id", "text")
      .collect().map(_.getLong(0)).sorted.toSeq shouldBe Seq(1L, 4L)
  }

  test("dedupCorpusBy: a NULL score never beats a scored member") {
    val d = Seq(
      (5L, "wwww xxxx yyyy zzzz vvvv", null.asInstanceOf[java.lang.Double]),
      (6L, "wwww xxxx yyyy zzzz vvvv", java.lang.Double.valueOf(1.0)),
    ).toDF("doc_id", "text", "score")
    Dedup.dedupCorpusBy(d, "doc_id", "text", "score")
      .collect().map(_.getLong(0)).toSeq shouldBe Seq(6L)
  }

  test("upsampleGroups replicates whole factors and hash-selects fractional epochs") {
    val d = (0L until 40L).map(i =>
      (i, Seq("a", "b", "c", "d")((i % 4).toInt))).toDF("id", "grp")
    val out = Sampling.upsampleGroups(d, "grp", "id",
      Map("a" -> 2.0, "b" -> 0.5, "c" -> 2.5)) // d absent → 1 copy
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    val byId = out.groupBy(_._1)
    def fracHit(id: Long): Boolean = {
      val m = 2147483647L
      (((id % m) * 48271 % m) * 48271 % m) % 1000000 < 500000
    }
    (0L until 40L).foreach { id =>
      val copies = byId.getOrElse(id, Array.empty).length
      val expected = Seq("a", "b", "c", "d")((id % 4).toInt) match {
        case "a" => 2
        case "b" => if (fracHit(id)) 1 else 0
        case "c" => if (fracHit(id)) 3 else 2
        case "d" => 1
      }
      withClue(s"id=$id: ") { copies shouldBe expected }
      // epochs are exactly 0..copies-1
      byId.getOrElse(id, Array.empty).map(_._3).sorted.toSeq shouldBe
        (0 until copies).toSeq
    }
    // factor 0 drops the group entirely; invalid factors are loud
    Sampling.upsampleGroups(d, "grp", "id", Map("a" -> 0.0))
      .filter(col("grp") === "a").count() shouldBe 0L
    an[IllegalArgumentException] should be thrownBy
      Sampling.upsampleGroups(d, "grp", "id", Map("a" -> -1.0))
    an[Exception] should be thrownBy
      Sampling.upsampleGroups(d.withColumn("epoch", lit(1)), "grp", "id",
        Map("a" -> 2.0))
  }

  test("prototypicalityScore is the rounded cosine to the row's own centroid") {
    val m = Similarity.IvfModel(Seq(Seq(1.0, 0.0), Seq(0.0, 1.0)))
    val d = Seq(
      (1L, Seq(1.0f, 0.0f)),   // cell 0, proto 1.0
      (2L, Seq(0.8f, 0.6f)),   // cell 0 (closer to (1,0)), proto 0.8
      (3L, Seq(0.0f, 2.0f)),   // cell 1, proto 1.0 (scale-invariant)
    ).toDF("vec_id", "embedding")
    val out = Similarity.prototypicalityScore(d, "vec_id", "embedding", m)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq.sortBy(_._1)
    out.map(t => (t._1, t._2)) shouldBe Seq((1L, 0), (2L, 0), (3L, 1))
    out(0)._3 shouldBe 1.0 // axis vector on its centroid: exactly 1
    out(1)._3 shouldBe 0.8 +- 1e-6 // float32 input → ~1-ulp cosine drift
    out(2)._3 shouldBe 1.0 // scale-invariant: (0,2) vs centroid (0,1)
  }

  test("pruneByPrototypicality drops the per-cell easy fraction; never empties a cell") {
    val m = Similarity.IvfModel(Seq(Seq(1.0, 0.0), Seq(0.0, 1.0)))
    val d = Seq(
      (1L, Seq(1.0f, 0.0f)),   // cell 0, proto 1.0 — most prototypical
      (2L, Seq(0.95f, 0.3122f)), // cell 0, proto ≈0.95
      (3L, Seq(0.8f, 0.6f)),   // cell 0, proto 0.8
      (4L, Seq(0.72f, 0.69f)), // cell 0, proto ≈0.72 — hardest
      (5L, Seq(0.0f, 1.0f)),   // cell 1, alone
    ).toDF("vec_id", "embedding")
    // cell 0: n=4, drop ⌊4·0.5⌋=2 easiest (1, 2); cell 1: ⌊1·0.5⌋=0 → 5 stays
    Similarity.pruneByPrototypicality(d, "vec_id", "embedding", m, dropFraction = 0.5)
      .collect().map(_.getLong(0)).sorted.toSeq shouldBe Seq(3L, 4L, 5L)
    // dropEasiest = false: the HARDEST half goes instead
    Similarity.pruneByPrototypicality(d, "vec_id", "embedding", m,
      dropFraction = 0.5, dropEasiest = false)
      .collect().map(_.getLong(0)).sorted.toSeq shouldBe Seq(1L, 2L, 5L)
    // dropFraction 0 is the identity; 1.0 empties every cell
    Similarity.pruneByPrototypicality(d, "vec_id", "embedding", m, 0.0)
      .count() shouldBe 5L
    Similarity.pruneByPrototypicality(d, "vec_id", "embedding", m, 1.0)
      .count() shouldBe 0L
  }

  test("KeyIndex: fit → disk → load → probe keeps exactly the unseen keys") {
    val corpus = Seq((1L, "u1"), (2L, "u2"), (3L, "u2")).toDF("id", "url")
    val inc = Seq(
      (10L, "u1"), // seen
      (11L, "u3"), // unseen
      (12L, "u2"), // seen
      (13L, null.asInstanceOf[String]), // NULL key: always survives
      (14L, "u4"), // unseen
    ).toDF("id", "url")
    val dir = java.nio.file.Files.createTempDirectory("graft_keyidx_t").toString
    val idx = Dedup.keyIndexFit(corpus, "url")
    idx.bloom.isDefined shouldBe true // native session builds the filter
    idx.keys.count() shouldBe 2 // distinct, NULL-free
    idx.save(dir)
    val loaded = Dedup.KeyIndex.load(spark, dir)
    loaded.bloom.map(_.toSeq) shouldBe idx.bloom.map(_.toSeq)
    def unseen(i: Dedup.KeyIndex) =
      Dedup.keyIndexApply(inc, "url", i).collect().map(_.getLong(0)).sorted.toSeq
    unseen(loaded) shouldBe Seq(11L, 13L, 14L)
    // bloom-free index (useBloom = false) is the same exact filter: the
    // bloom and exact-only paths agree row for row
    val exactOnly = Dedup.keyIndexFit(corpus, "url", useBloom = false)
    exactOnly.bloom shouldBe None
    unseen(exactOnly) shouldBe Seq(11L, 13L, 14L)
  }

  test("categoryDriftPsi surfaces vanished and appearing categories with clamped shares") {
    val ref = Seq.fill(50)("a").map(Tuple1(_)) ++ Seq.fill(50)("b").map(Tuple1(_))
    val cur = Seq.fill(25)("a").map(Tuple1(_)) ++ Seq.fill(50)("b").map(Tuple1(_)) ++
      Seq.fill(25)("c").map(Tuple1(_))
    val out = Curation.categoryDriftPsi(
      ref.toDF("grp"), cur.toDF("grp"), "grp")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).sortBy(_._1)
    out.map(t => (t._1, t._2, t._3)) shouldBe
      Seq(("a", 50L, 25L), ("b", 50L, 50L), ("c", 0L, 25L))
    val a = out(0); val b = out(1); val c = out(2)
    a._4 shouldBe 0.5; a._5 shouldBe 0.25
    a._6 shouldBe (0.5 - 0.25) * math.log(0.5 / 0.25) +- 1e-9
    b._6 shouldBe 0.0 // identical share → exactly zero, not −0.0
    c._4 shouldBe 1e-4 // vanished-from-ref side clamps at eps
    c._6 shouldBe (1e-4 - 0.25) * math.log(1e-4 / 0.25) +- 1e-9
    // identical drops → every term 0
    Curation.categoryDriftPsi(ref.toDF("grp"), ref.toDF("grp"), "grp")
      .agg(sum(abs(col("psi_term")))).head().getDouble(0) shouldBe 0.0
    // an EMPTY current drop — the loudest drift — clamps every cur share
    // to eps instead of propagating 0/0 NaN through the terms
    val empty = Curation.categoryDriftPsi(
      ref.toDF("grp"), cur.toDF("grp").limit(0), "grp").collect()
    empty.length shouldBe 2
    empty.foreach { r =>
      r.getDouble(4) shouldBe 1e-4 // cur_pct clamped, not NaN
      r.getDouble(5).isNaN shouldBe false
    }
  }

  test("dedupLinesWithinDoc keeps first occurrences in reading order, narrowly") {
    val d = Seq(
      (1L, "nav|body text|nav|footer|body text|unique"),
      (2L, "only once"),
      (3L, null.asInstanceOf[String]),
      (4L, ""),
    ).toDF("doc_id", "text")
    val out = TextOps.dedupLinesWithinDoc(d, "text", sepRegex = "\\|", joinSep = "|")
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    out(1L) shouldBe Some("nav|body text|footer|unique")
    out(2L) shouldBe Some("only once")
    out(3L) shouldBe None // NULL stays NULL
    out(4L) shouldBe Some("")
    // pure narrow: no shuffle in the plan
    graft.tools.CountX.shuffleExchanges(
      TextOps.dedupLinesWithinDoc(d, "text")) shouldBe 0
  }

  test("hardNegatives: label filter precedes the top-k rank; NULL labels excluded") {
    val m = Similarity.IvfModel(Seq(Seq(1.0, 0.0)))
    val d = Seq(
      (1L, Seq(1.0f, 0.0f), "a"),
      (2L, Seq(0.99f, 0.14f), "a"),  // same label as 1 — never 1's negative
      (3L, Seq(0.9f, 0.436f), "b"),  // 1's best hard negative
      (4L, Seq(0.8f, 0.6f), "b"),
      (5L, Seq(0.7f, 0.71f), null.asInstanceOf[String]), // unlabeled: excluded
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.hardNegatives(d, "vec_id", "embedding", "label", m, k = 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getString(1), r.getString(3)))
      .toMap
    // anchor 1: nearest is 2 (same label, skipped) then 3 → negative 3
    out(1L) shouldBe ((3L, "a", "b"))
    // anchor 3: nearest overall is 4 (same label b) then 2 → negative 2
    out(3L) shouldBe ((2L, "b", "a"))
    // unlabeled row 5 is neither anchor nor negative
    out.contains(5L) shouldBe false
    out.values.map(_._1).toSet should not contain 5L
    // k bounds per-anchor output; ranks are 1-based contiguous
    val all = Similarity.hardNegatives(d, "vec_id", "embedding", "label", m, k = 2)
      .collect()
    all.groupBy(_.getLong(0)).values.foreach { rows =>
      rows.length should be <= 2
      rows.map(_.getAs[Int]("rank")).sorted.toSeq shouldBe (1 to rows.length)
    }
  }

  test("extended PII: shape counts and cross-bite-safe redaction order") {
    val d = Seq(
      (1L, "pay 4111 1111 1111 1111 or 4111-1111-1111-1111 now"),
      (2L, "ssn 123-45-6789 phone 555-123-4567 ip 10.0.0.1"),
      (3L, "iban DE89370400440532013000 mail a@b.co"),
      (4L, "clean text, no identifiers at all"),
    ).toDF("doc_id", "text")
    val counts = TextOps.piiCountsExtended(d, "text")
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Int]("n_cards"), r.getAs[Int]("n_ssns"), r.getAs[Int]("n_ibans"),
          r.getAs[Int]("n_phones"))).toMap
    counts(1L) shouldBe ((2, 0, 0, 0)) // both card spellings; NOT phones
    counts(2L) shouldBe ((0, 1, 0, 1)) // ssn ≠ phone shape, both found once
    // independent detectors: the IBAN's 20-digit run also trips the card
    // shape (documented); the redaction chain resolves it by order below
    counts(3L) shouldBe ((1, 0, 1, 0))
    counts(4L) shouldBe ((0, 0, 0, 0))
    val red = TextOps.redactPiiExtended(d, "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    red(1L) shouldBe "pay <CARD> or <CARD> now"
    red(2L) shouldBe "ssn <SSN> phone <PHONE> ip <IP>"
    red(3L) shouldBe "iban <IBAN> mail <EMAIL>"
    red(4L) shouldBe "clean text, no identifiers at all"
  }

  test("TextOps.diversityStats: exact gram counts, short docs invisible, dup slice scores low") {
    val d = Seq(
      ("tpl", "a b a b"),  // bigrams: "a b","b a","a b" → 3 total, 2 distinct
      ("tpl", "a b"),      // bigram "a b" → 4 total, 2 distinct for tpl
      ("var", "x y z"),    // "x y","y z" → 2 total, 2 distinct
      ("var", "w"),        // < 2 tokens → contributes nothing
    ).toDF("g", "text")
    val out = TextOps.diversityStats(d, "g", "text", n = 2)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    out("tpl") shouldBe ((4L, 2L, 0.5))
    out("var") shouldBe ((2L, 2L, 1.0))
    // the templated group scores strictly lower
    out("tpl")._3 should be < out("var")._3
  }

  test("Curation.corpusDiff: added/removed/changed statuses, NULL-safe fingerprints") {
    val old = Seq(
      (1L, "a"), (2L, "b"), (3L, "c"), (4L, null: String),
    ).toDF("id", "fp")
    val cur = Seq(
      (1L, "a"),            // unchanged
      (2L, "B"),            // changed
      (4L, "now-present"),  // changed: NULL → value IS a change
      (5L, "new"),          // added
    ).toDF("id", "fp")      // 3 removed
    val out = Curation.corpusDiff(old, cur, "id", "fp")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    out shouldBe Map(2L -> "changed", 3L -> "removed",
      4L -> "changed", 5L -> "added")
    Curation.corpusDiff(old, cur, "id", "fp", includeUnchanged = true)
      .count() shouldBe 5
  }

  test("Curation.expectationsReport: one-scan rule sums, NULL verdicts violate, uniqueness") {
    val d = Seq(
      (java.lang.Long.valueOf(1L), "x", java.lang.Integer.valueOf(5)),
      (java.lang.Long.valueOf(1L), "y", java.lang.Integer.valueOf(-1)), // dup id, negative
      (null.asInstanceOf[java.lang.Long], "z", null.asInstanceOf[java.lang.Integer]), // null id, NULL verdict
    ).toDF("id", "s", "v")
    val out = Curation.expectationsReport(
      d, Seq("v_positive" -> (col("v") > 0)), uniqueCol = Some("id"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    // v > 0: row2 fails, row3's NULL verdict counts as a violation
    out("v_positive") shouldBe ((3L, 2L, false))
    // uniqueness: the duplicate occurrence + the NULL id
    out("unique(id)") shouldBe ((3L, 2L, false))
    an[IllegalArgumentException] should be thrownBy
      Curation.expectationsReport(d, Seq.empty, None)
    an[IllegalArgumentException] should be thrownBy
      Curation.expectationsReport(d,
        Seq("a" -> lit(true), "a" -> lit(false)), None)
  }

  test("Similarity.embeddingDriftStats: exact means, shift from rounded means, empty drop errors") {
    val ref = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(3.0f, 0.0f))).toDF("id", "embedding")
    val cur = Seq((3L, Seq(0.0f, 2.0f))).toDF("id", "embedding")
    val out = Similarity.embeddingDriftStats(ref, cur, "embedding")
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        ((r.getDouble(2), r.getDouble(3)))).toMap
    out(("mean", 0)) shouldBe ((2.0, 0.0))
    out(("mean", 1)) shouldBe ((0.0, 2.0))
    out(("mean_norm", -1)) shouldBe ((2.0, 2.0))
    out(("count", -1)) shouldBe ((2.0, 1.0))
    // orthogonal centroids: cosine 0, L2 = sqrt(8)
    out(("centroid_shift", -1)) shouldBe ((0.0,
      BigDecimal(math.sqrt(8.0)).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble))
    a[graft.errors.FeatureFactoryException.InvalidParameter] should be thrownBy
      Similarity.embeddingDriftStats(ref.limit(0), cur, "embedding")
  }

  test("Multimodal.frameHashNearDupPairs: shared-frame overlap, short payloads invisible") {
    val base = "A" * 256 + "B" * 256 + "C" * 256 + "D" * 256 // 4 frames
    val d = Seq(
      (1L, base),
      (2L, base),                              // exact copy: overlap 1.0
      (3L, "A" * 256 + "B" * 256 + "X" * 512), // shares frames A,B: 2/4
      (4L, "Z" * 1024),                        // 4 frames, one DISTINCT hash
      (5L, "tiny"),                            // < everyNBytes → zero frames
    ).toDF("doc_id", "text")
      .select(col("doc_id"), col("text").cast("binary").as("bin"))
    val out = Multimodal.frameHashNearDupPairs(
      d, "doc_id", "bin", everyNBytes = 256, frameBytes = 64, minOverlap = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    // Z*1024 frames all hash identically → doc 4 has ONE distinct frame;
    // A-frame slices are A*64 = the first 64 bytes of each 256-block, so
    // doc 3's distinct hashes are {A-slice, B-slice, X-slice} (3), doc 1's
    // {A,B,C,D} (4): shared 2, overlap 2/3
    out.keySet shouldBe Set((1L, 2L), (1L, 3L), (2L, 3L))
    out((1L, 2L)) shouldBe ((4L, 1.0))
    out((1L, 3L)) shouldBe ((2L, BigDecimal(2.0 / 3)
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble))
    // raising the bar drops the partial pair
    Multimodal.frameHashNearDupPairs(
      d, "doc_id", "bin", everyNBytes = 256, frameBytes = 64, minOverlap = 0.9)
      .count() shouldBe 1
  }

  test("truncationReport: exact token masses in and past the window") {
    val d = Seq(
      ("en", "one two three four"),        // 4 tokens
      ("en", "one two"),                   // 2 tokens
      ("de", "eins zwei drei vier funf"),  // 5 tokens
    ).toDF("lang", "text")
    val out = TextOps.truncationReport(d, "lang", "text", contextLen = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq.sortBy(_._1)
    out shouldBe Seq(
      ("de", 1L, 1L, 5L, 3L, 2L),
      ("en", 2L, 1L, 6L, 5L, 1L))
    // subword budgeting: a precomputed count column takes over
    val withCounts = d.withColumn("n_bpe", expr("CAST(length(text) AS LONG)"))
    val bpeOut = TextOps.truncationReport(withCounts, "lang", "text",
      contextLen = 10, tokenCountCol = Some("n_bpe"))
      .filter(col("lang") === "en").head()
    bpeOut.getAs[Long]("tokens_kept") shouldBe 17L // min(18,10) + min(7,10)
  }

  // ── Retrieval (BM25 / RRF / hash embedding) ─────────────────────────

  private lazy val bmDocs = Seq(
    (1L, "apple banana apple"),
    (2L, "banana cherry"),
    (3L, "cherry cherry cherry"),
  ).toDF("doc_id", "text")

  test("Retrieval.bm25TopK matches the hand-computed Lucene-BM25 scores") {
    val q = Seq((10L, "apple cherry")).toDF("qid", "qtext")
    val out = Retrieval.bm25TopK(bmDocs, "doc_id", "text", q, "qid", "qtext", k = 10)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toMap
    // independent replay of the formula (N=3, avgdl=8/3)
    def idf(df: Double) = math.log(1.0 + (3.0 - df + 0.5) / (df + 0.5))
    def sat(tf: Double, dl: Double) =
      tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / (8.0 / 3.0)))
    def r9(x: Double) = BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    out(1L) shouldBe r9(r9(idf(1) * sat(2, 3))) // apple tf=2
    out(2L) shouldBe r9(r9(idf(2) * sat(1, 2))) // cherry tf=1
    out(3L) shouldBe r9(r9(idf(2) * sat(3, 3))) // cherry tf=3
    // the rare term beats the common one despite lower tf
    out(1L) should be > out(3L)
  }

  test("Retrieval.bm25TopK: duplicate query terms count once; k truncates with id ties") {
    val q = Seq((1L, "cherry cherry"), (2L, "cherry")).toDF("qid", "qtext")
    val out = Retrieval.bm25TopK(bmDocs, "doc_id", "text", q, "qid", "qtext", k = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    out.length shouldBe 2
    // both queries identical after dedup → same winner, same score
    out.map(t => (t._2, t._3)).distinct.length shouldBe 1
  }

  test("Retrieval.bm25TopK: NULL/no-hit docs never appear; NULL text still counts toward N and avgdl") {
    val withNull = bmDocs.union(Seq((4L, null: String)).toDF("doc_id", "text"))
    val q = Seq((1L, "apple")).toDF("qid", "qtext")
    val out = Retrieval.bm25TopK(withNull, "doc_id", "text", q, "qid", "qtext", k = 10)
      .collect().map(r => (r.getLong(1), r.getDouble(2)))
    out.map(_._1).toSet shouldBe Set(1L)
    // N=4, avgdl=8/4 now — the score reflects the larger corpus
    def idf(df: Double) = math.log(1.0 + (4.0 - df + 0.5) / (df + 0.5))
    def sat(tf: Double, dl: Double) = tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / 2.0))
    def r9(x: Double) = BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    out.head._2 shouldBe r9(r9(idf(1) * sat(2, 3)))
  }

  test("Retrieval.Bm25Index: fit → disk → load → search equals the direct search") {
    val q = Seq((10L, "apple cherry"), (11L, "banana")).toDF("qid", "qtext")
    val direct = Retrieval.bm25TopK(bmDocs, "doc_id", "text", q, "qid", "qtext", 10)
      .collect().map(_.toString).toSet
    val dir = java.nio.file.Files.createTempDirectory("bm25idx").toString
    Retrieval.bm25Fit(bmDocs, "doc_id", "text").save(dir)
    val loaded = Retrieval.Bm25Index.load(spark, dir)
    loaded.n shouldBe 3L
    loaded.avgdl shouldBe (8.0 / 3.0)
    Retrieval.bm25SearchIndex(loaded, q, "qid", "qtext", 10)
      .collect().map(_.toString).toSet shouldBe direct
    // the broadcast-prune fallback path (> Bm25InListMax simulated by a
    // zero-threshold copy is not reachable; instead verify the helper
    // boundary directly): the literal path and the semi-join path must
    // agree, so probe with a vocabulary overlapping both present and
    // absent terms
    val qBig = Seq((1L, "apple nosuchterm banana cherry unknown")).toDF("qid", "qtext")
    Retrieval.bm25SearchIndex(loaded, qBig, "qid", "qtext", 3)
      .count() shouldBe 3
  }

  test("Retrieval.appendToBm25Index: incremental append equals the full rebuild") {
    val all = Seq(
      (1L, "apple banana apple"),
      (2L, "banana cherry"),
      (3L, "cherry cherry cherry"),
      (4L, "apple date"),
      (5L, "date banana apple"),
    ).toDF("doc_id", "text")
    val q = Seq((10L, "apple cherry date")).toDF("qid", "qtext")
    val dir = java.nio.file.Files.createTempDirectory("bm25app").toString
    Retrieval.bm25Fit(all.filter($"doc_id" <= 3), "doc_id", "text").save(dir)
    Retrieval.appendToBm25Index(all.filter($"doc_id" > 3), "doc_id", "text", dir)
    val appended = Retrieval.Bm25Index.load(spark, dir)
    appended.n shouldBe 5L
    appended.tokens shouldBe 13L
    val fullDir = java.nio.file.Files.createTempDirectory("bm25full").toString
    Retrieval.bm25Fit(all, "doc_id", "text").save(fullDir)
    val full = Retrieval.Bm25Index.load(spark, fullDir)
    Retrieval.bm25SearchIndex(appended, q, "qid", "qtext", 10)
      .collect().map(_.toString).toSet shouldBe
      Retrieval.bm25SearchIndex(full, q, "qid", "qtext", 10)
        .collect().map(_.toString).toSet
    // and both equal the never-persisted direct search
    Retrieval.bm25SearchIndex(appended, q, "qid", "qtext", 10)
      .collect().map(_.toString).toSet shouldBe
      Retrieval.bm25TopK(all, "doc_id", "text", q, "qid", "qtext", 10)
        .collect().map(_.toString).toSet
    // the append committed a SECOND generation; an orphan dir from a
    // crashed append (no params.json entry) must be invisible to load
    def genDirs(): Seq[String] =
      new java.io.File(dir).listFiles().map(_.getName)
        .filter(_.startsWith("gen-")).sorted.toSeq
    genDirs() shouldBe Seq("gen-00000", "gen-00001")
    val orphan = new java.io.File(s"$dir/gen-00099/postings")
    orphan.mkdirs()
    Retrieval.bm25SearchIndex(Retrieval.Bm25Index.load(spark, dir), q, "qid", "qtext", 10)
      .collect().map(_.toString).toSet shouldBe
      Retrieval.bm25TopK(all, "doc_id", "text", q, "qid", "qtext", 10)
        .collect().map(_.toString).toSet
    // compaction merges to ONE fresh generation, reaps the rest
    // (including the orphan), and changes NOTHING observable
    Retrieval.compactBm25Index(spark, dir)
    // numbering continues from the COMMITTED set (orphans don't count;
    // an uncommitted dir in the way is simply overwritten)
    genDirs() shouldBe Seq("gen-00002")
    Retrieval.bm25SearchIndex(Retrieval.Bm25Index.load(spark, dir), q, "qid", "qtext", 10)
      .collect().map(_.toString).toSet shouldBe
      Retrieval.bm25TopK(all, "doc_id", "text", q, "qid", "qtext", 10)
        .collect().map(_.toString).toSet
  }

  test("Sampling.sampleTokenBudgetPerGroup: each group fills its own budget, others drop") {
    val d = (1L to 60L).map { i =>
      (i, if (i % 3 == 0) "c" else if (i % 2 == 0) "b" else "a", (i % 5 + 1).toInt)
    }.toDF("id", "g", "n_tok")
    val out = Sampling.sampleTokenBudgetPerGroup(
      d, "g", "id", "n_tok", Map("a" -> 20L, "b" -> 15L), numBuckets = 4)
    val perGroup = out.groupBy("g").agg(sum($"n_tok").as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    perGroup.keySet shouldBe Set("a", "b") // un-budgeted c drops entirely
    perGroup("a") should be <= 20L
    perGroup("b") should be <= 15L
    // a kept doc's predecessors in the hash order are all kept too: with
    // one group and one budget the rule must equal sampleTokenBudget's
    val one = Sampling.sampleTokenBudgetPerGroup(
      d.filter($"g" === "a"), "g", "id", "n_tok", Map("a" -> 20L), numBuckets = 4)
      .select("id").collect().map(_.getLong(0)).toSet
    Sampling.sampleTokenBudget(
      d.filter($"g" === "a"), "id", "n_tok", budget = 20L, numBuckets = 4)
      .select("id").collect().map(_.getLong(0)).toSet shouldBe one
    // zero budget → empty but valid; unknown group in budgets is just empty
    Sampling.sampleTokenBudgetPerGroup(
      d, "g", "id", "n_tok", Map("a" -> 0L, "zz" -> 100L), numBuckets = 4)
      .count() shouldBe 0L
  }

  test("Retrieval.stopwords: df-fraction threshold off the index table") {
    val idx = Retrieval.bm25Fit(bmDocs, "doc_id", "text")
    // df: apple 1, banana 2, cherry 2 of n=3
    Retrieval.stopwords(idx, minDfFrac = 0.6)
      .collect().map(_.getString(0)).toSet shouldBe Set("banana", "cherry")
    Retrieval.stopwords(idx, minDfFrac = 1.0).count() shouldBe 0
    an[IllegalArgumentException] should be thrownBy
      Retrieval.stopwords(idx, minDfFrac = 0.0)
  }

  test("Sampling.packingReport: exact sequence/doc/token counts and fill") {
    val d = Seq((1L, 3), (2L, 3), (3L, 3), (4L, 3)).toDF("id", "n_tok")
    val packed = Sampling.packSequences(d, "id", "n_tok",
      capacity = 5, numBuckets = 1)
    val r = Sampling.packingReport(packed, "n_tok", capacity = 5).head()
    // one bucket, cums 3,6,9,12 → bins 0,1,1,2
    r.getAs[Long]("n_sequences") shouldBe 3L
    r.getAs[Long]("n_docs") shouldBe 4L
    r.getAs[Long]("n_tokens") shouldBe 12L
    r.getAs[Double]("fill") shouldBe 0.8
  }

  test("Retrieval.bm25Rerank: lexical shortlist, dense final order, kLex guard") {
    val docs = Seq(
      (1L, "apple apple apple"), // strongest lexically
      (2L, "apple banana"),
      (3L, "banana banana"),     // no query term → never in shortlist
    ).toDF("doc_id", "text")
    val embs = Seq(
      (1L, Seq(1.0f, 0.0f)),  // orthogonal to the query vector
      (2L, Seq(0.0f, 1.0f)),  // aligned with the query vector
      (3L, Seq(0.0f, 1.0f)),
    ).toDF("vec_id", "embedding")
    val q = Seq((7L, "apple")).toDF("qid", "qtext")
    val qe = Seq((7L, Seq(0.0f, 2.0f))).toDF("qid", "qemb")
    val out = Retrieval.bm25Rerank(
      docs, "doc_id", "text", q, "qid", "qtext",
      embs, "vec_id", "embedding", qe, "qid", "qemb", kLex = 2, k = 2)
      .orderBy(col("cos").desc, col("id")).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Double]("cos")))
    // doc 3 is lexically invisible; doc 2 outranks doc 1 on cosine even
    // though doc 1 wins BM25 — the rerank decides the final order
    out.map(_._1).toSeq shouldBe Seq(2L, 1L)
    out(0)._2 shouldBe 1.0
    out(1)._2 shouldBe 0.0
    an[IllegalArgumentException] should be thrownBy
      Retrieval.bm25Rerank(docs, "doc_id", "text", q, "qid", "qtext",
        embs, "vec_id", "embedding", qe, "qid", "qemb", kLex = 1, k = 2)
  }

  test("Retrieval.bm25PrfTopK: feedback terms pull in docs plain BM25 cannot see") {
    val docs = Seq(
      (1L, "apple banana"),
      (2L, "apple cherry"),
      (3L, "cherry date"),       // no query term — only reachable via expansion
      (4L, "unrelated words"),
    ).toDF("doc_id", "text")
    val q = Seq((7L, "apple")).toDF("qid", "qtext")
    val plain = Retrieval.bm25TopK(docs, "doc_id", "text", q, "qid", "qtext", 10)
      .select("id").collect().map(_.getLong(0)).toSet
    plain shouldBe Set(1L, 2L)
    // feedback docs {1, 2}; term tf sums: apple 2, banana 1, cherry 1 →
    // fbTerms = 3 admits cherry, which retrieves doc 3
    val prf = Retrieval.bm25PrfTopK(docs, "doc_id", "text", q, "qid", "qtext",
      k = 10, fbDocs = 2, fbTerms = 3)
      .select("id").collect().map(_.getLong(0)).toSet
    prf shouldBe Set(1L, 2L, 3L)
    // doc 4 shares no expanded term → still invisible, never all-docs
    prf should not contain 4L
  }

  test("TextOps.extractMainContent keeps body prose, drops nav/footer/short blocks") {
    import graft.ops.TextOps
    val body = "This paragraph is the actual readable body content of the page."
    val page =
      "<html><head><style>a{}</style></head><body>" +
        "<div><a href=\"/\">Home navigation menu</a> <a href=\"/a\">About us and contact</a></div>" +
        "<h1>T</h1>" +
        s"<p>$body</p>" +
        "<p>ok</p>" +
        "<p>Long paragraph with one <a href=\"/x\">tiny link</a> inside it stays.</p>" +
        "<!-- comment --><div><a href=\"/tos\">Terms of service page</a> " +
        "<a href=\"/p\">Privacy and cookies policy</a></div></body></html>"
    val out = TextOps.extractMainContent(
      Seq((1L, page), (2L, "<p>ok</p>"), (3L, null.asInstanceOf[String]))
        .toDF("id", "html"), "html")
      .collect().map(r => r.getLong(0) -> r.getAs[String]("main_content")).toMap
    // nav (link-saturated), heading + "ok" (short), footer (link-saturated)
    // all drop; the two prose blocks survive in page order — a mostly-text
    // block with ONE small link passes the density rule
    out(1L) shouldBe
      body + "\nLong paragraph with one tiny link inside it stays."
    out(2L) shouldBe "" // nothing survives → empty, not null
    out(3L) shouldBe null // NULL html propagates
    // <abbr>/<aside> must NOT open a "link": only a real <a> tag (bare or
    // whitespace/slash before attributes) counts toward link density
    val abbr = "<p>The <abbr title=\"HyperText Markup Language\">HTML</abbr> " +
      "standard evolved over decades, see the <a href=\"/spec\">spec</a> " +
      "for details and much more prose here.</p>"
    TextOps.extractMainContent(Seq((9L, abbr)).toDF("id", "html"), "html")
      .head().getAs[String]("main_content") shouldBe
      "The HTML standard evolved over decades, see the spec for details and much more prose here."
  }

  test("Psl: parser and registeredDomainPsl handle exact/wildcard/exception/default rules") {
    import graft.ops.{Psl, Url}
    val rules = Psl.parse(Iterator(
      "// comment", "", "co.uk", "kawasaki.jp ", "*.kawasaki.jp",
      "!city.kawasaki.jp", "*.ck", "!www.ck"))
    rules.exact shouldBe Set("co.uk", "kawasaki.jp")
    rules.wildcardBases shouldBe Set("kawasaki.jp", "ck")
    rules.exceptions shouldBe Set("city.kawasaki.jp", "www.ck")
    val hosts = Seq(
      "www.example.com",        // default rule → example.com
      "blog.bbc.co.uk",         // exact co.uk → bbc.co.uk
      "a.b.x.kawasaki.jp",      // wildcard: x.kawasaki.jp is the ps → b.x.kawasaki.jp
      "www.city.kawasaki.jp",   // exception beats the wildcard → city.kawasaki.jp
      "x.y.ck",                 // wildcard TLD: y.ck is the ps → x.y.ck
      "www.ck",                 // !www.ck → registrable as-is (ps = ck)
      "y.ck",                   // IS a public suffix → passthrough
      "com",                    // bare TLD → passthrough
      "")                       // no host → passthrough
      .toDF("h")
    val out = Url.registeredDomainPsl(hosts, "h", "dom", rules)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    out("www.example.com") shouldBe "example.com"
    out("blog.bbc.co.uk") shouldBe "bbc.co.uk"
    out("a.b.x.kawasaki.jp") shouldBe "b.x.kawasaki.jp"
    out("www.city.kawasaki.jp") shouldBe "city.kawasaki.jp"
    out("x.y.ck") shouldBe "x.y.ck"
    out("www.ck") shouldBe "www.ck"
    out("y.ck") shouldBe "y.ck"
    out("com") shouldBe "com"
    out("") shouldBe ""
    // the shipped snapshot parses and carries all three rule kinds
    Psl.snapshot.exact should contain("co.uk")
    Psl.snapshot.wildcardBases should contain("ck")
    Psl.snapshot.exceptions should contain("www.ck")
    // IDN rules punycode-normalize at parse time: the upstream list
    // writes them in Unicode, crawl hosts arrive as xn-- — every rule
    // kind converts, and an xn-- host matches the Unicode-origin rule
    Psl.parse(Iterator("公司.cn", "*.中国", "!reg.中国")) shouldBe
      Psl.Rules(Set("xn--55qx5d.cn"), Set("xn--fiqs8s"), Set("reg.xn--fiqs8s"))
    Psl.snapshot.exact should contain("xn--55qx5d.cn")
    Url.registeredDomainPsl(
      Seq("biz.shop.xn--55qx5d.cn").toDF("h"), "h", "dom", Psl.snapshot)
      .head().getString(1) shouldBe "shop.xn--55qx5d.cn"
    // spec rule: a line reads up to the FIRST whitespace — an inline
    // annotation can't create a never-matching rule
    Psl.parse(Iterator("foo.bar  // operator note")).exact shouldBe Set("foo.bar")
    // section markers: private rules drop when includePrivate = false
    val sectioned = Seq(
      "// ===BEGIN ICANN DOMAINS===", "co.uk", "// ===END ICANN DOMAINS===",
      "// ===BEGIN PRIVATE DOMAINS===", "github.io", "// ===END PRIVATE DOMAINS===")
    Psl.parse(sectioned.iterator, includePrivate = true).exact shouldBe
      Set("co.uk", "github.io")
    Psl.parse(sectioned.iterator, includePrivate = false).exact shouldBe Set("co.uk")
    // the shipped snapshot honors the toggle: ICANN-only by default,
    // operator suffixes only with the private section on
    Psl.snapshot.exact should not contain "github.io"
    Psl.snapshotWithPrivate.exact should contain("github.io")
    Psl.snapshotWithPrivate.exact should contain("co.uk") // superset
    // and the grouping flips accordingly: a user site is its own
    // registered domain only under the with-private rule set
    val gh = Seq("alice.github.io").toDF("h")
    Url.registeredDomainPsl(gh, "h", "dom", Psl.snapshot)
      .head().getString(1) shouldBe "github.io"
    Url.registeredDomainPsl(gh, "h", "dom", Psl.snapshotWithPrivate)
      .head().getString(1) shouldBe "alice.github.io"
    // round-11 full-snapshot shapes: a private WILDCARD with a
    // multi-label base, a private MULTI-LEVEL exact rule, a three-label
    // ICANN locality registry, a two-label ICANN wildcard base, and a
    // sectoral rule (gouv.fr) the old subset lacked
    Psl.snapshotWithPrivate.wildcardBases should contain("compute.amazonaws.com")
    Psl.snapshotWithPrivate.exact should contain(
      "s3.dualstack.eu-west-1.amazonaws.com")
    Psl.snapshot.exact should contain("k12.ca.us")
    Psl.snapshot.wildcardBases should contain("sch.uk")
    Psl.snapshot.exact should contain("gouv.fr")
    val full = Seq(
      "api.ec2-1-2-3-4.us-east-1.compute.amazonaws.com",
      "cdn.media-bucket.s3.dualstack.eu-west-1.amazonaws.com",
      "lincoln.unified.k12.ca.us",
      "portal.www.milton-academy.sch.uk",
      "www.impots.gouv.fr").toDF("h")
    Url.registeredDomainPsl(full, "h", "dom", Psl.snapshotWithPrivate)
      .collect().map(_.getString(1)).toSeq shouldBe Seq(
      "ec2-1-2-3-4.us-east-1.compute.amazonaws.com",
      "media-bucket.s3.dualstack.eu-west-1.amazonaws.com",
      "unified.k12.ca.us",
      "www.milton-academy.sch.uk",
      "impots.gouv.fr")
    // the AWS rules are PRIVATE-section: domain stats under ICANN-only
    // rules group whole endpoints under amazonaws.com
    Url.registeredDomainPsl(full.limit(1), "h", "dom", Psl.snapshot)
      .head().getString(1) shouldBe "amazonaws.com"
    // blocklist filtering under PSL semantics: b.x.kawasaki.jp blocked
    import org.apache.spark.sql.functions.concat_ws
    val docs = Seq(
      (1L, "https://a.b.x.kawasaki.jp/p"),
      (2L, "https://blog.bbc.co.uk/q")).toDF("id", "url")
    Url.domainFilterPsl(docs, "url", Seq("b.x.kawasaki.jp").toDF("d"), rules)
      .select("id").collect().map(_.getLong(0)).toSeq shouldBe Seq(2L)
  }

  test("Robots: REP parse (groups, comments), agent selection, longest-match permissions") {
    import graft.ops.Robots
    val robots = Seq(
      ("a.com",
        """# site policy
          |User-agent: crawler-x
          |User-agent: *
          |Disallow: /private/
          |Allow: /private/ok
          |Disallow: /tmp*
          |Disallow: /exact$
          |Crawl-delay: 2.5
          |Disallow:
          |
          |User-agent: graftbot
          |Disallow: /graft-only/
          |Crawl-delay: 7
          |""".stripMargin),
      ("b.com", "User-agent: *\nDisallow: /\nAllow: /pub/"),
      ("empty.com", "# nothing but comments\n"),
      // versioned product token: targets the crawler "verbot"
      ("v.com", "User-agent: VerBot/1.2\nDisallow: /\n\nUser-agent: *\nDisallow: /none/"),
    ).toDF("host", "content")
    val rules = Robots.robotsParse(robots, "host", "content")
    // group 0 of a.com carries BOTH consecutive agents; the empty
    // Disallow is dropped; graftbot's group is separate
    rules.filter($"host" === "a.com" && $"grp" === 0)
      .select("agent").distinct().collect().map(_.getString(0)).sorted.toSeq shouldBe
      Seq("*", "crawler-x")
    rules.filter($"host" === "a.com" && $"grp" === 0)
      .count() shouldBe 10 // (4 path rules + 1 crawl-delay) × 2 agents
    rules.filter($"host" === "a.com" && $"agent" === "graftbot" &&
        $"kind" === "disallow")
      .select("rule").head().getString(0) shouldBe "/graft-only/"
    rules.filter($"host" === "empty.com").count() shouldBe 0
    val urls = Seq(
      "https://a.com/public/page",      // no match → allowed
      "https://a.com/private/secret",   // /private/ → denied
      "https://a.com/private/ok-page",  // longer Allow wins → allowed
      "https://a.com/tmp123/x",         // wildcard → denied
      "https://a.com/exact",            // $-anchored → denied
      "https://a.com/exactly",          // past the anchor → allowed
      "https://b.com/anything",         // Disallow: / → denied
      "https://b.com/pub/x",            // longer Allow → allowed
      "https://empty.com/x",            // comment-only robots → allowed
      "https://norobots.com/x",         // host absent from rules → allowed
    ).zipWithIndex.map { case (u, i) => (i.toLong, u) }.toDF("id", "url")
    def verdicts(agent: String): Seq[Boolean] =
      Robots.robotsAllowed(urls, "url", rules, agent)
        .orderBy("id").collect().map(_.getBoolean(2)).toSeq
    verdicts("SomeBot") shouldBe
      Seq(true, false, true, false, false, true, false, true, true, true)
    // graftbot has its OWN group on a.com: the * group no longer applies
    // (so /private/ is fine) but /graft-only/ is denied
    val g = Robots.robotsAllowed(
      Seq((1L, "https://a.com/private/secret"), (2L, "https://a.com/graft-only/x"))
        .toDF("id", "url"), "url", rules, "graftbot")
      .orderBy("id").collect().map(_.getBoolean(2)).toSeq
    g shouldBe Seq(true, false)
    // output schema: input columns + allowed, helpers dropped
    Robots.robotsAllowed(urls, "url", rules, "x").columns.toSeq shouldBe
      Seq("id", "url", "allowed")
    // crawl-delay: agent-selected like the permission check; fractional
    // seconds; hosts without a delay are simply absent
    def delays(agent: String): Map[String, Double] =
      Robots.crawlDelays(rules, agent)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    delays("SomeBot") shouldBe Map("a.com" -> 2.5)
    delays("graftbot") shouldBe Map("a.com" -> 7.0)
    // the delay directive never leaks into path permissions
    verdicts("SomeBot") shouldBe
      Seq(true, false, true, false, false, true, false, true, true, true)
    // versioned product token (VerBot/1.2) targets the crawler "verbot":
    // its own group denies everything; other agents get the * group
    def one(u: String, agent: String): Boolean =
      Robots.robotsAllowed(Seq((1L, u)).toDF("id", "url"), "url", rules, agent)
        .head().getBoolean(2)
    one("https://v.com/anything", "verbot") shouldBe false
    one("https://v.com/anything", "other") shouldBe true
    // a '?' inside the FRAGMENT never reaches the match target
    val fr = Seq(("f.com", "User-agent: *\nDisallow: /p?q")).toDF("host", "content")
    Robots.robotsAllowed(
      Seq((1L, "https://f.com/p#x?q=1")).toDF("id", "url"), "url",
      Robots.robotsParse(fr, "host", "content"), "x")
      .head().getBoolean(2) shouldBe true
  }

  test("Robots: directive-less group still selects (RFC 9309 whitelist idiom), Sitemap lines") {
    import graft.ops.{Robots, Sitemap}
    // the common whitelist shape: foo's group has ONLY an empty Disallow
    // (= no rules = unrestricted), everyone else is denied everything.
    // The empty-value filter must NOT vanish foo's group, or agent
    // selection falls back to `*` and inverts the policy.
    val robots = Seq(
      ("w.com",
        """User-agent: foo
          |Disallow:
          |
          |User-agent: *
          |Disallow: /
          |Crawl-delay: 9
          |""".stripMargin),
      // Sitemap is HOST-level: kept wherever it appears (even before any
      // group, or between a group's User-agent lines without splitting
      // them), and never agent-scoped
      ("s.com",
        """Sitemap: https://s.com/a.xml
          |User-agent: x
          |Sitemap: https://s.com/b.xml
          |User-agent: y
          |Disallow: /p/
          |""".stripMargin),
    ).toDF("host", "content")
    val rules = Robots.robotsParse(robots, "host", "content")
    def one(u: String, agent: String): Boolean =
      Robots.robotsAllowed(Seq((1L, u)).toDF("id", "url"), "url", rules, agent)
        .head().getBoolean(2)
    one("https://w.com/anything", "foo") shouldBe true // own empty group wins
    one("https://w.com/anything", "bar") shouldBe false // * denies the rest
    // the sentinel never leaks a delay (foo's group has none — and "no
    // rules" must not fall through to *'s 9 s)
    Robots.crawlDelays(rules, "foo").count() shouldBe 0L
    Robots.crawlDelays(rules, "bar").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap shouldBe Map("w.com" -> 9.0)
    // sitemap rows surface host-keyed regardless of position...
    Robots.sitemaps(rules).collect().map(_.getString(1)).sorted.toSeq shouldBe
      Seq("https://s.com/a.xml", "https://s.com/b.xml")
    // ...and the Sitemap line between the two User-agent lines did NOT
    // split their group: x and y share group 0 and its /p/ rule
    rules.filter($"host" === "s.com" && $"kind" === "disallow")
      .select("agent").collect().map(_.getString(0)).sorted.toSeq shouldBe
      Seq("x", "y")
    // <loc> extraction: entity unescape, whitespace trim, sitemapindex
    // locs extract the same way, loc-less rows vanish
    val xml = Seq(
      (1L, "<urlset><url><loc>https://a.com/p?x=1&amp;y=2</loc></url>" +
        "<url><loc>\n  https://a.com/q \n</loc></url></urlset>"),
      (2L, "<sitemapindex><sitemap><loc>https://a.com/s1.xml</loc></sitemap>" +
        "</sitemapindex>"),
      (3L, "<urlset></urlset>"),
    ).toDF("id", "xml")
    Sitemap.sitemapUrls(xml, "xml").select("id", "sitemap_url").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._2).toSeq shouldBe Seq(
      (1L, "https://a.com/p?x=1&y=2"),
      (1L, "https://a.com/q"),
      (2L, "https://a.com/s1.xml"))
    // full entries: metadata extracted per block, absent elements NULL,
    // unparseable priority NULL, loc-less blocks dropped
    val exml = Seq((1L,
      "<urlset><url><loc>https://a.com/1</loc><lastmod>2026-02-01</lastmod>" +
        "<changefreq>daily</changefreq><priority>0.8</priority></url>" +
        "<url><loc> https://a.com/2 </loc><priority>high</priority></url>" +
        "<url><lastmod>2026-01-01</lastmod></url></urlset>")).toDF("id", "xml")
    Sitemap.sitemapEntries(exml, "xml")
      .select("sitemap_loc", "sitemap_lastmod", "sitemap_changefreq",
        "sitemap_priority")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        Option(r.getAs[Any]("sitemap_priority")))).sortBy(_._1).toSeq shouldBe Seq(
      ("https://a.com/1", "2026-02-01", "daily", Some(0.8)),
      ("https://a.com/2", null, null, None))
    // changefreq vocabulary → refetch seconds; never/unknown/null → NULL
    val freqs = Seq("always", "HOURLY", " daily ", "weekly", "monthly",
      "yearly", "never", "sometimes", null).zipWithIndex
      .map { case (f, i) => (i.toLong, f) }.toDF("id", "f")
    freqs.select($"id", Sitemap.changefreqSeconds($"f").as("s"))
      .orderBy("id").collect()
      .map(r => if (r.isNullAt(1)) None else Some(r.getLong(1))).toSeq shouldBe
      Seq(Some(0L), Some(3600L), Some(86400L), Some(604800L),
        Some(2592000L), Some(31536000L), None, None, None)
  }

  test("canonicalizeUrl: case, userinfo, default ports, query sort, fragments, passthrough") {
    import graft.ops.Url
    val cases = Seq(
      // the same page under two cosmetic spellings collides
      ("HTTP://WWW.Ex.COM:80/a?b=2&a=1#x", "http://www.ex.com/a?a=1&b=2"),
      ("http://www.ex.com/a?a=1&b=2", "http://www.ex.com/a?a=1&b=2"),
      ("https://u:pw@ex.com:443/p", "https://ex.com/p"),
      ("https://ex.com:8443/p", "https://ex.com:8443/p"), // non-default port kept
      ("http://ex.com:443/p", "http://ex.com:443/p"), // 443 is NOT http's default
      ("https://ex.com", "https://ex.com/"), // empty path → /
      ("https://ex.com/p?", "https://ex.com/p"), // empty query dropped
      ("https://ex.com/p?only=1", "https://ex.com/p?only=1"),
      ("ftp://Files.Ex.net/Dir/F.txt", "ftp://files.ex.net/Dir/F.txt"), // path case kept
      // a '?' INSIDE the fragment is not a query (SPA route shape)
      ("https://ex.com/app#/route?tab=1", "https://ex.com/app"),
      // bracketed IPv6 authorities keep their brackets; default port drops
      ("https://[2001:db8::5]:443/x", "https://[2001:db8::5]/x"),
      ("http://[2001:db8::5]:8080/x", "http://[2001:db8::5]:8080/x"),
      ("no scheme here", "no scheme here"), // passthrough
      (null, null),
    )
    val out = Url.canonicalizeUrls(
      cases.map(_._1).zipWithIndex.map { case (u, i) => (i.toLong, u) }
        .toDF("id", "url"), "url")
      .orderBy("id").collect().map(_.getString(2)).toSeq
    out shouldBe cases.map(_._2)
  }

  test("TextOps.scriptProfile: hand-counted scripts, dominance, ties, none, null") {
    val rows = Seq(
      (1L, "ab АБВ 漢字 한 カナ mix 12 �"),
      (2L, "123 !!!"), // no scripted char at all
      (3L, "АБ 中文"), // 2-2 tie → first in order wins
      (4L, null),
    ).toDF("doc_id", "text")
    val out = graft.ops.TextOps.scriptProfile(rows, "text")
      .orderBy("doc_id").collect()
    val r1 = out(0)
    r1.getAs[Long]("n_chars") shouldBe 23L
    r1.getAs[Long]("n_latin") shouldBe 5L
    r1.getAs[Long]("n_cyrillic") shouldBe 3L
    r1.getAs[Long]("n_han") shouldBe 2L
    r1.getAs[Long]("n_hangul") shouldBe 1L
    r1.getAs[Long]("n_kana") shouldBe 2L
    r1.getAs[Long]("n_digit") shouldBe 2L
    r1.getAs[Long]("n_replacement") shouldBe 1L
    r1.getAs[String]("dominant_script") shouldBe "latin"
    out(1).getAs[String]("dominant_script") shouldBe "none"
    out(1).getAs[Long]("n_digit") shouldBe 3L
    out(2).getAs[String]("dominant_script") shouldBe "cyrillic"
    out(3).getAs[Long]("n_chars") shouldBe 0L
    out(3).getAs[String]("dominant_script") shouldBe "none"
  }

  test("Url.stripTrackingParams: utm prefix, exact keys, emptied query, passthroughs") {
    import graft.ops.Url
    val cases = Seq(
      ("https://ex.com/p?a=1&utm_campaign=y&utm_source=x", "https://ex.com/p?a=1"),
      ("https://ex.com/q?gclid=abc", "https://ex.com/q"), // query empties → no '?'
      ("https://ex.com/r?a=1&b=2", "https://ex.com/r?a=1&b=2"),
      ("https://ex.com/s", "https://ex.com/s"),
      // 'utm' must be a KEY prefix, not a value substring
      ("https://ex.com/t?x=utm_source", "https://ex.com/t?x=utm_source"),
      ("https://ex.com/u?fbclid=1&mc_cid=2&z=3", "https://ex.com/u?z=3"),
      (null, null),
    )
    val out = cases.map(_._1).zipWithIndex.map { case (u, i) => (i.toLong, u) }
      .toDF("id", "url")
      .select($"id", Url.stripTrackingParams($"url").as("s"))
      .orderBy("id").collect().map(_.getString(1)).toSeq
    out shouldBe cases.map(_._2)
  }

  test("Url.surtKey: label reversal, www strip, ports, query sort, IPv6, non-URL") {
    val cases = Seq(
      ("https://www.Example.COM/Page?b=2&a=1", "com,example)/page?a=1&b=2"),
      ("http://example.com:80/x", "com,example)/x"), // default port drops
      ("https://sub.blog.example.co.uk:8443/P", "uk,co,example,blog,sub:8443)/p"),
      ("https://www.example.com", "com,example)/"), // empty path → /
      // only a LEADING www. label strips
      ("https://www.www2.example.com/x", "com,example,www2)/x"),
      ("https://user:pw@example.org/d#frag", "org,example)/d"),
      // bracketed IPv6 hosts are kept verbatim (no label reversal)
      ("https://[2001:DB8::5]:8080/x", "[2001:db8::5]:8080)/x"),
      ("no scheme here", null), // no host → no key
      (null, null),
    )
    import graft.ops.Url
    val out = cases.map(_._1).zipWithIndex.map { case (u, i) => (i.toLong, u) }
      .toDF("id", "url")
      .select($"id", Url.surtKey($"url").as("k"))
      .orderBy("id").collect().map(_.getString(1)).toSeq
    out shouldBe cases.map(_._2)
  }

  test("LinkGraph: href extraction + resolution, host graph, integer centrality") {
    import graft.ops.{LinkGraph, Psl}
    val page =
      """<html><body>
        |<a href="https://other.com/x">abs</a>
        |<a href="//cdn.example.net/l.js">proto-rel</a>
        |<a href="/root/p.html">root-rel</a>
        |<a href='sub/q.html'>rel</a>
        |<a href="mailto:a@b.c">mail</a>
        |<a href="#frag">frag</a>
        |<a class="x" href=bare.html>bare</a>
        |<abbr title="not a link">HTML</abbr>
        |</body></html>""".stripMargin
    val df = Seq((1L, "https://www.site.co.uk/dir/index.html", page))
      .toDF("id", "base", "html")
    val links = LinkGraph.extractLinks(df, "html", "base")
      .select("link_url").collect().map(_.getString(0)).toSeq
    links shouldBe Seq(
      "https://other.com/x",
      "https://cdn.example.net/l.js",
      "https://www.site.co.uk/root/p.html",
      "https://www.site.co.uk/dir/sub/q.html",
      "https://www.site.co.uk/dir/bare.html")
    // a base URL with no path resolves relatives against "/"
    LinkGraph.extractLinks(
      Seq((2L, "https://h.com", "<a href='x.html'>x</a>")).toDF("id", "base", "html"),
      "html", "base").select("link_url").head().getString(0) shouldBe
      "https://h.com/x.html"
    // host graph under PSL rules: www strips to the registered domain,
    // self-edges drop by default, counts aggregate
    val lk = Seq(
      ("https://www.site.co.uk/a", "https://other.com/1"),
      ("https://www.site.co.uk/b", "https://sub.other.com/2"),
      ("https://www.site.co.uk/c", "https://site.co.uk/self"),
      ("https://www.site.co.uk/d", "nohost"),
    ).toDF("src", "dst")
    val g = LinkGraph.hostGraph(lk, "src", "dst", Psl.snapshot)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    g shouldBe Seq(("site.co.uk", "other.com", 2L))
    LinkGraph.hostGraph(lk, "src", "dst", Psl.snapshot, includeSelf = true)
      .count() shouldBe 2
    // hand-checked two-hop integer Katz: a→b (w2), b→c (w3)
    // c0: all 1; c1: a=1, b=1+2·1=3, c=1+3·1=4; c2: a=1, b=3, c=1+3·3=10
    val edges = Seq(("a.com", "b.com", 2L), ("b.com", "c.com", 3L))
      .toDF("src_domain", "dst_domain", "n_links")
    def cent(it: Int) = LinkGraph.domainCentrality(edges, iterations = it)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    cent(0) shouldBe Map("a.com" -> 1L, "b.com" -> 1L, "c.com" -> 1L)
    cent(1) shouldBe Map("a.com" -> 1L, "b.com" -> 3L, "c.com" -> 4L)
    cent(2) shouldBe Map("a.com" -> 1L, "b.com" -> 3L, "c.com" -> 10L)
    // the ranking composes into a blocklist: the low-centrality tail
    val block = cent(2).toSeq.filter(_._2 < 3).map(_._1)
    block shouldBe Seq("a.com")
    val docs2 = Seq((1L, "https://x.a.com/p"), (2L, "https://x.b.com/p"))
      .toDF("id", "url")
    graft.ops.Url.domainFilter(docs2, "url", block)
      .select("id").collect().map(_.getLong(0)).toSeq shouldBe Seq(2L)
  }

  test("LinkGraph.domainCentrality returns a materialized frame for every horizon") {
    import graft.ops.LinkGraph
    val edges = Seq(("a.com", "b.com", 2L), ("b.com", "c.com", 3L))
      .toDF("src_domain", "dst_domain", "n_links")
    for (it <- Seq(0, 3)) withClue(s"iterations = $it: ") {
      LinkGraph.domainCentrality(edges, iterations = it).queryExecution.logical shouldBe
        a[org.apache.spark.sql.execution.LogicalRDD]
    }
  }

  test("LinkGraph.watOutlinks: anchors-only default, full-resource mode, lenient JSON") {
    import graft.ops.LinkGraph
    val wat =
      """{"Envelope": {"Payload-Metadata": {"HTTP-Response-Metadata": {"HTML-Metadata": {
        |"Head": {"Title": "T1"},
        |"Links": [
        | {"path": "A@/href", "url": "https://other.com/x", "text": "abs"},
        | {"path": "A@/href", "url": "/rel", "text": "rel"},
        | {"path": "A@/href", "url": ""},
        | {"path": "IMG@/src", "url": "/i.png"},
        | {"path": "SCRIPT@/src", "url": "https://cdn.js/x.js"}
        |]}}}}}""".stripMargin
    val df = Seq(
      (1L, "https://www.s.com/d/p.html", wat),
      (2L, "https://www.s.com/q.html", "not json at all"),
      (3L, "https://www.s.com/r.html", """{"Envelope": {}}"""),
    ).toDF("id", "base", "payload")
    val anchors = LinkGraph.watOutlinks(df, "payload", "base")
      .select("id", "link_url", "anchor_text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    anchors shouldBe Seq( // empty-url anchor drops; malformed rows yield none
      (1L, "https://other.com/x", "abs"),
      (1L, "https://www.s.com/rel", "rel"))
    val all = LinkGraph.watOutlinks(df, "payload", "base", anchorsOnly = false)
      .select("link_path", "link_url").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    all.map(_._1) shouldBe Seq("A@/href", "A@/href", "IMG@/src", "SCRIPT@/src")
    all.last._2 shouldBe "https://cdn.js/x.js"
    df.select(LinkGraph.watTitle($"payload")).collect()
      .map(_.getString(0)).toSeq shouldBe Seq("T1", null, null)
  }

  test("LinkGraph: anchor-text extraction — pairs, skips, whitespace, nested-markup boundary") {
    import graft.ops.LinkGraph
    val page =
      """<html><body>
        |<a href="https://other.com/x">plain anchor</a>
        |<a href='/p.html'>  spaced
        |   anchor  </a>
        |<a class="y" href=bare.html></a>
        |<a href="https://img.com/i"><img src="i.png"></a>
        |<a href="mailto:a@b.c">mail</a>
        |<a href="#frag">frag</a>
        |<A HREF="https://caps.com/Y">CAPS TAG</A>
        |</body></html>""".stripMargin
    val df = Seq((1L, "https://www.site.co.uk/dir/index.html", page))
      .toDF("id", "base", "html")
    val out = LinkGraph.extractAnchors(df, "html", "base")
      .select("link_url", "anchor_text")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    out shouldBe Seq(
      // inner whitespace collapses; an empty-text anchor stays a row
      ("https://other.com/x", "plain anchor"),
      ("https://www.site.co.uk/p.html", "spaced anchor"),
      ("https://www.site.co.uk/dir/bare.html", ""),
      // the nested-markup anchor (<img> inside) is NOT matched — the
      // documented AnchorPairPattern boundary — and the case-folded tag is;
      // mailto/fragment skip exactly as extractLinks
      ("https://caps.com/Y", "CAPS TAG"))
    // payload columns pass through untouched
    LinkGraph.extractAnchors(df, "html", "base").columns.toSeq shouldBe
      Seq("id", "base", "html", "link_url", "anchor_text")
  }

  test("LangId: hand-checked NB fit, argmax score, default path, save/load round trip") {
    import graft.ops.LangId
    def r9(x: Double) = BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    // two "languages" with disjoint characteristic bigrams; doc 5 is
    // 1-char (no bigrams) → the no-evidence default
    val corpus = Seq(
      (1L, "aaab", "xx"), (2L, "aaaa", "xx"), (3L, "aaab", "xx"),
      (4L, "bbbb", "yy"),
    ).toDF("doc_id", "text", "lang")
    val m = LangId.langIdFit(corpus, "text", "lang", vocabSize = 2)
    // gram totals: aa: docs1-3 → 2+3+2 = 7; ab: 2; bb: 3 → vocab top-2 =
    // (aa, 7), (bb, 3); counts: aa→(xx 7, yy 0), bb→(xx 0, yy 3);
    // totals over vocab: xx 7, yy 3; V = 2
    m.langs shouldBe Seq("xx", "yy")
    val w = m.weights.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    w(("aa", "xx")) shouldBe r9(math.log(8.0 / 9.0))
    w(("aa", "yy")) shouldBe r9(math.log(1.0 / 5.0))
    w(("bb", "xx")) shouldBe r9(math.log(1.0 / 9.0))
    w(("bb", "yy")) shouldBe r9(math.log(4.0 / 5.0))
    m.biases("xx") shouldBe r9(math.log(3.0 / 4.0))
    m.biases("yy") shouldBe r9(math.log(1.0 / 4.0))
    // score through a save/load round trip
    val dir = java.nio.file.Files.createTempDirectory("graft_langid_t").toString
    m.save(dir)
    val loaded = LangId.LangIdModel.load(spark, dir)
    loaded.langs shouldBe m.langs
    loaded.biases shouldBe m.biases
    val scored = LangId.langIdScore(
      Seq((10L, "aaa"), (11L, "bbb"), (12L, "x")).toDF("doc_id", "text"),
      "doc_id", "text", loaded)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("lang_pred"), r.getAs[Double]("lang_score")))).toMap
    scored(10L)._1 shouldBe "xx"
    scored(10L)._2 shouldBe 2 * w(("aa", "xx")) + m.biases("xx")
    scored(11L)._1 shouldBe "yy"
    scored(11L)._2 shouldBe 2 * w(("bb", "yy")) + m.biases("yy")
    // no vocabulary grams → highest-prior language at its bias
    scored(12L) shouldBe (("xx", m.biases("xx")))
    // NULL labels are loud, not dropped
    an[graft.errors.FeatureFactoryException.InvalidParameter] should be thrownBy
      LangId.langIdFit(
        Seq(("ab", "xx"), ("cd", null)).toDF("text", "lang"), "text", "lang")
    // hashing-trick form: collision-free bucket count reproduces the
    // gram-keyed predictions exactly (same weight multiset per doc/lang,
    // same ascending fold); round-trips through save/load with its
    // bucket count intact
    val probe = Seq((10L, "aaa"), (11L, "bbb"), (12L, "x")).toDF("doc_id", "text")
    def preds(mm: LangId.LangIdModel) =
      LangId.langIdScore(probe, "doc_id", "text", mm)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[String]("lang_pred"), r.getAs[Double]("lang_score")))).toMap
    val hashedM = LangId.hashed(m, 1 << 20)
    preds(hashedM) shouldBe scored
    val hdir = java.nio.file.Files.createTempDirectory("graft_langid_h").toString
    hashedM.save(hdir)
    val hloaded = LangId.LangIdModel.load(spark, hdir)
    hloaded.numBuckets shouldBe (1 << 20)
    preds(hloaded) shouldBe scored
    // tiny bucket count still runs (collisions fold deterministically)
    LangId.langIdScore(probe, "doc_id", "text", LangId.hashed(m, 2))
      .count() shouldBe 3
    an[IllegalArgumentException] should be thrownBy LangId.hashed(hashedM, 4)
  }

  test("Retrieval.bm25RerankIndex: indexed two-stage equals the direct form") {
    val docs = Seq(
      (1L, "apple banana"), (2L, "apple cherry"), (3L, "banana date"),
    ).toDF("doc_id", "text")
    val embs = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)), (3L, Seq(0.6f, 0.8f)),
      (7L, Seq(0.0f, 2.0f))).toDF("vec_id", "embedding")
    val q = Seq((7L, "apple banana")).toDF("qid", "qtext")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSeq
    val direct = rows(Retrieval.bm25Rerank(
      docs, "doc_id", "text", q, "qid", "qtext",
      embs, "vec_id", "embedding", embs.filter($"vec_id" === 7), "vec_id", "embedding",
      kLex = 3, k = 3))
    direct should not be empty
    val dir = java.nio.file.Files.createTempDirectory("bm25reridx").toString
    Retrieval.bm25Fit(docs, "doc_id", "text").save(dir)
    rows(Retrieval.bm25RerankIndex(
      Retrieval.Bm25Index.load(spark, dir), q, "qid", "qtext",
      embs, "vec_id", "embedding", embs.filter($"vec_id" === 7), "vec_id", "embedding",
      kLex = 3, k = 3)) shouldBe direct
  }

  test("Retrieval.bm25PrfSearchIndex: indexed PRF equals the direct two-pass form") {
    val docs = Seq(
      (1L, "apple banana"),
      (2L, "apple cherry"),
      (3L, "cherry date"),
      (4L, "unrelated words"),
      (5L, "banana banana date"),
    ).toDF("doc_id", "text")
    val q = Seq((7L, "apple"), (8L, "date words")).toDF("qid", "qtext")
    val direct = Retrieval.bm25PrfTopK(docs, "doc_id", "text", q, "qid", "qtext",
      k = 10, fbDocs = 2, fbTerms = 3)
      .orderBy("query_id", "id").collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    direct should not be empty
    val dir = java.nio.file.Files.createTempDirectory("bm25prfidx").toString
    Retrieval.bm25Fit(docs, "doc_id", "text").save(dir)
    val viaIndex = Retrieval.bm25PrfSearchIndex(
      Retrieval.Bm25Index.load(spark, dir), q, "qid", "qtext",
      k = 10, fbDocs = 2, fbTerms = 3)
      .orderBy("query_id", "id").collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    viaIndex shouldBe direct
  }

  test("Retrieval.evalRankingMetrics: hand-computed hit/MRR/NDCG, no-hit and missing-query paths") {
    def r9(x: Double) = BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    def g(rank: Int) = r9(1.0 / (math.log(rank + 1) / math.log(2)))
    val pred = Seq(
      // q1: relevant at ranks 2 and 3 (scores rank 10 > 20 > 30)
      (1L, 10L, 3.0), (1L, 20L, 2.0), (1L, 30L, 1.0),
      // q2: nothing relevant
      (2L, 10L, 9.0),
    ).toDF("q", "d", "s")
    val truth = Seq((1L, 20L), (1L, 30L), (1L, 99L), (2L, 50L), (3L, 1L))
      .toDF("q", "d")
    val out = Retrieval.evalRankingMetrics(pred, truth, "q", "d", "s", k = 2)
      .collect().map(r => r.getAs[Long]("query_id") ->
        ((r.getAs[Long]("n_truth"), r.getAs[Int]("hit"),
          r.getAs[Double]("rr"), r.getAs[Double]("ndcg")))).toMap
    // q1 @k=2: hits rank 2 only; dcg = g(2); idcg = g(1)+g(2) (n_truth=3 > k)
    out(1L) shouldBe ((3L, 1, r9(1.0 / 2), r9(r9(g(2)) / r9(r9(g(1)) + r9(g(2))))))
    // q2: truth exists, no hit in the list
    out(2L) shouldBe ((1L, 0, 0.0, 0.0))
    // q3: truth but no predictions at all → all-zero metrics row
    out(3L) shouldBe ((1L, 0, 0.0, 0.0))
  }

  test("Retrieval.evalRankingMetrics: graded relevance reorders the ideal, NULL rel = 0") {
    def r9(x: Double) = BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    def g(rel: Double, rank: Int) = r9(rel / (math.log(rank + 1) / math.log(2)))
    val pred = Seq((1L, 10L, 2.0), (1L, 20L, 1.0)).toDF("q", "d", "s")
    val truth = Seq(
      (1L, 10L, java.lang.Double.valueOf(1.0)),  // retrieved first, low rel
      (1L, 20L, java.lang.Double.valueOf(3.0)),  // retrieved second, high rel
      (1L, 30L, null.asInstanceOf[java.lang.Double]), // NULL rel → 0, never a hit
    ).toDF("q", "d", "rel")
    val out = Retrieval.evalRankingMetrics(
      pred, truth, "q", "d", "s", k = 2, relCol = Some("rel")).head()
    out.getAs[Long]("n_truth") shouldBe 3L
    out.getAs[Int]("hit") shouldBe 1
    out.getAs[Double]("rr") shouldBe 1.0 // rank-1 doc has rel > 0
    // dcg: rel 1 at rank 1 + rel 3 at rank 2; ideal: rel 3 first, rel 1 second
    val dcg = r9(g(1.0, 1) + g(3.0, 2))
    val idcg = r9(g(3.0, 1) + g(1.0, 2))
    out.getAs[Double]("ndcg") shouldBe r9(dcg / idcg)
    // the same truth WITHOUT the rel column is plain binary NDCG
    val bin = Retrieval.evalRankingMetrics(
      pred, truth.drop("rel"), "q", "d", "s", k = 2).head()
    bin.getAs[Double]("ndcg") shouldBe 1.0 // both top-2 docs are relevant
  }

  test("Retrieval.rrfFuse: rank-only fusion, one-list docs included, k cut, id ties") {
    val a = Seq((1L, 10L, 10.0), (1L, 20L, 5.0)).toDF("q", "d", "sa")
    val b = Seq((1L, 20L, 0.9), (1L, 30L, 0.2)).toDF("q", "d", "sb")
    val out = Retrieval.rrfFuse(a, b, "q", "d", "sa", "sb", k = 10)
      .orderBy(col("rrf").desc, col("id")).collect()
      .map(r => (r.getLong(1), r.getDouble(2)))
    def r9(x: Double) = BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    // d20: rank 2 in a, rank 1 in b; d10: rank 1 in a only; d30: rank 2 in b only
    out shouldBe Array(
      (20L, r9(r9(1.0 / 62) + r9(1.0 / 61))),
      (10L, r9(1.0 / 61)),
      (30L, r9(1.0 / 62)))
    // k cuts the fused list
    Retrieval.rrfFuse(a, b, "q", "d", "sa", "sb", k = 1).count() shouldBe 1
    // weighted fusion: trusting list b 10x promotes its top doc (d30 is
    // b-only at rank 2, beating a's rank-1 d10 at weight 10/62 > 1/61)
    val weighted = Retrieval.rrfFuse(a, b, "q", "d", "sa", "sb", k = 10,
      weightA = 1.0, weightB = 10.0)
      .orderBy(col("rrf").desc, col("id")).collect().map(_.getLong(1)).toSeq
    weighted shouldBe Seq(20L, 30L, 10L)
  }

  test("Retrieval.hashEmbed: unit norm, right dim, zero row for empty text, vocab-consistent") {
    val d = Seq((1L, "aa bb aa cc"), (2L, ""), (3L, null: String)).toDF("doc_id", "text")
    val out = Retrieval.hashEmbed(d, "text", dim = 8).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getSeq[Double](r.fieldIndex("text_hash")).toSeq,
          r.getAs[Double]("text_hash_norm")))).toMap
    val (v1, n1) = out(1L)
    v1.length shouldBe 8
    math.abs(v1.map(x => x * x).sum - 1.0) should be < 1e-12
    n1 should be > 0.0
    // empty and NULL text → all-zero vector with norm 0, never NaN
    Seq(2L, 3L).foreach { id =>
      val (v, n) = out(id)
      v shouldBe Seq.fill(8)(0.0)
      n shouldBe 0.0
    }
    // replay doc 1 from the vocab dump: aa twice, bb once, cc once
    val vocab = Retrieval.hashVocab(d, "text", dim = 8).collect()
      .map(r => r.getString(0) -> (r.getInt(1), r.getDouble(2))).toMap
    val raw = Array.fill(8)(0.0)
    Seq("aa", "aa", "bb", "cc").foreach { t =>
      val (b, s) = vocab(t); raw(b) += s
    }
    val nrm = math.sqrt(raw.map(x => x * x).sum)
    out(1L)._1.toArray shouldBe raw.map(_ / nrm)
  }

  test("Sampling.capPerGroup: keeps the perGroup best, NULL scores last, id ties deterministic") {
    val d = Seq(
      (1L, "a", java.lang.Double.valueOf(1.0)),
      (2L, "a", java.lang.Double.valueOf(3.0)),
      (3L, "a", java.lang.Double.valueOf(3.0)),
      (4L, "a", null.asInstanceOf[java.lang.Double]),
      (5L, "b", java.lang.Double.valueOf(0.5)),
    ).toDF("id", "g", "score")
    val out = Sampling.capPerGroup(d, "g", "id", "score", perGroup = 2)
    out.columns.toSeq shouldBe Seq("id", "g", "score") // schema preserved
    out.select("id").collect().map(_.getLong(0)).toSet shouldBe Set(2L, 3L, 5L)
    // NULL score survives only when the group has slack
    Sampling.capPerGroup(d, "g", "id", "score", perGroup = 4)
      .select("id").collect().map(_.getLong(0)).toSet shouldBe
      Set(1L, 2L, 3L, 4L, 5L)
  }

  test("Dedup.dedupParagraphsExact: global first-occurrence, same-doc repeats, all-dropped docs vanish") {
    val d = Seq(
      (2L, "alpha one\nBOILER\nalpha two"),
      (1L, "beta one\nBOILER\nbeta one\n  \n\nbeta two"), // same-doc repeat + whitespace-only + empty split
      (3L, "BOILER"), // everything seen before → doc drops
      (4L, "  gamma  \nBOILER"), // trim: '  gamma  ' == 'gamma'? no other gamma — kept trimmed
    ).toDF("doc_id", "text")
    val out = Dedup.dedupParagraphsExact(d, "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3)))
      .toMap
    // BOILER's first occurrence is (1, pos 1) — doc 1 keeps it, 2/3/4 drop it
    out(1L) shouldBe (("beta one\nBOILER\nbeta two", 3L, 1L)) // repeat dropped
    out(2L) shouldBe (("alpha one\nalpha two", 2L, 1L))
    out(4L) shouldBe (("gamma", 1L, 1L))
    out.contains(3L) shouldBe false // nothing survived
    // schema: id, deduped text, accounting
    Dedup.dedupParagraphsExact(d, "doc_id", "text").columns.toSeq shouldBe
      Seq("doc_id", "text_dedup", "n_kept", "n_dropped")
  }

  test("Dedup.minhashCalibration: exact confusion counts on a corpus with known near-dups") {
    // 1↔2 near-dup (high J), 3 unrelated, 4 = exact copy of 1 (collapses
    // onto 1's representative — calibration never sees exact dups)
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "the quick brown fox jumps over the lazy dog tonite"),
      (3L, "completely different content with no shared shingles here"),
      (4L, "the quick brown fox jumps over the lazy dog tonight"),
    ).toDF("doc_id", "text")
    val rep = Dedup.minhashCalibration(d, "doc_id", "text",
      thresholds = Seq(0.5, 0.99))
      .collect().map(r => r.getDouble(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    // (1,2) true J ≈ 0.8+: the only true pair at 0.5; candidates find it
    val (nTrue, nCand, tp, fp, fn) = rep(0.5)
    nTrue shouldBe 1L
    tp shouldBe 1L
    fn shouldBe 0L
    fp shouldBe (nCand - 1L)
    // at 0.99 nothing is a true pair; the candidate set is unchanged
    rep(0.99)._1 shouldBe 0L
    rep(0.99)._2 shouldBe nCand
    rep(0.99)._3 shouldBe 0L
    // expected_recall: 1-(1-t^2)^32 replayed
    val er = Dedup.minhashCalibration(d, "doc_id", "text",
      thresholds = Seq(0.5, 0.99))
      .orderBy("threshold")
      .collect().map(_.getAs[Double]("expected_recall"))
    er(0) shouldBe (1.0 - math.pow(1.0 - 0.25, 32.0)) +- 1e-8
    an[IllegalArgumentException] should be thrownBy
      Dedup.minhashCalibration(d, "doc_id", "text", thresholds = Nil)
    an[IllegalArgumentException] should be thrownBy
      Dedup.minhashCalibration(d, "doc_id", "text", thresholds = Seq(1.5))
  }

  test("Dedup.minhashCalibration: enforced sample cap, and every threshold always yields a row") {
    // the bounded-sample contract is API-enforced: 200 template docs with
    // a cap of 40 must grade a hash-sample, not the full corpus — the
    // graded doc universe is bounded by the cap's ppm math, never ~full
    val docs = (1L to 200L)
      .map(i => (i, s"shared boilerplate template text block number ${i % 7} tail $i"))
      .toDF("doc_id", "text")
    val capped = Dedup.calibrationCandidatePairs(
      docs, "doc_id", "text", maxSampleRows = 40L)
      .select(explode(array($"id_a", $"id_b")).as("id")).distinct().count()
    val sampled = graft.ops.Sampling.hashSampleAtMost(docs, "doc_id", 40L).count()
    sampled should be < 200L // the cap really cut the input
    capped should be <= sampled
    // at or under the cap the frame passes through exact (oracle stability)
    graft.ops.Sampling.hashSampleAtMost(docs, "doc_id", 200L).count() shouldBe 200L
    // a corpus with zero candidate AND zero truth pairs still reports one
    // all-zero row per threshold — "zero recall", not "no evidence"
    val disjoint = Seq(
      (1L, "alpha bravo charlie delta echo foxtrot"),
      (2L, "golf hotel india juliet kilo lima")).toDF("doc_id", "text")
    val rep = Dedup.minhashCalibration(disjoint, "doc_id", "text",
      thresholds = Seq(0.5, 0.9))
      .orderBy("threshold")
      .collect().map(r => (r.getDouble(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    rep.length shouldBe 2
    rep.map(_._1).toSeq shouldBe Seq(0.5, 0.9)
    rep.foreach { case (_, nTrue, nCand, tp, fp, fn) =>
      (nTrue, nCand, tp, fp, fn) shouldBe ((0L, 0L, 0L, 0L, 0L))
    }
  }

  test("Cdx.closestCaptures: epoch distance beats digit distance, ties earlier then by tieCols, malformed ts never wins") {
    val index = Seq(
      // k1: Jan 1 vs Feb 1 captures — target Jan 25 is 7 days from Feb,
      // 24 from Jan; DIGIT distance says the opposite (24e6 < 76e6)
      ("k1", "20260101000000", "d-jan"),
      ("k1", "20260201000000", "d-feb"),
      // k2: two captures at ONE instant → tieCols (digest) decide
      ("k2", "20260101000000", "d-b"),
      ("k2", "20260101000000", "d-a"),
      // k3: a malformed timestamp line plus a good one
      ("k3", "2026-01-01T00:00", "d-bad"),
      ("k3", "20260103000000", "d-good"),
      // k4: equidistant captures (±1 day) → EARLIER capture wins
      ("k4", "20260110000000", "d-early"),
      ("k4", "20260112000000", "d-late"),
    ).toDF("urlkey", "cdx_ts", "digest")
    val targets = Seq(
      ("k1", "20260125000000"), ("k2", "20260115000000"),
      ("k3", "20260104000000"), ("k4", "20260111000000"),
      ("k5", "20260101000000"), // no captures at all → no row
    ).toDF("urlkey", "target_ts")
    val out = graft.ops.Cdx
      .closestCaptures(index, targets, tieCols = Seq("digest"))
      .collect()
      .map(r => r.getAs[String]("urlkey") ->
        (r.getAs[String]("digest"), r.getAs[Long]("dist_sec"))).toMap
    out("k1") shouldBe ("d-feb", 7L * 86400)
    out("k2") shouldBe ("d-a", 14L * 86400)
    out("k3") shouldBe ("d-good", 86400L)
    out("k4") shouldBe ("d-early", 86400L)
    out.keySet shouldBe Set("k1", "k2", "k3", "k4")
  }
}
