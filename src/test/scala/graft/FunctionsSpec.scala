package graft

import org.apache.spark.sql.functions._
import graft.functions.TilePairs

/** The native tile-pair expressions (registered via GraftExtensions) against
  * hand-computed expectations; Dedup's end-to-end use of them is covered by
  * OpsSpec + the driver oracles. */
class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("GraftExtensions registers the tile-pair functions") {
    spark.catalog.functionExists(TilePairs.JaccardName) shouldBe true
    spark.catalog.functionExists(TilePairs.HammingName) shouldBe true
  }

  test("graft_jaccard_tile_pairs: diagonal tile, exact bitmap jaccard") {
    // members: id 1 bm {bits 0,1,2} sz 3; id 2 bm {bits 1,2,3} sz 3;
    // id 3 bm {bit 10} sz 1. J(1,2) = 2/4 = 0.5; J with 3 = 0.
    val df = Seq(1).toDF("x").select(
      expr(
        """array(
          |  named_struct('id', 1L, 'sz', 3, 'bm', array(7L)),
          |  named_struct('id', 2L, 'sz', 3, 'bm', array(14L)),
          |  named_struct('id', 3L, 'sz', 1, 'bm', array(1024L))
          |) AS xs""".stripMargin))
    val out = df
      .select(explode(call_function(
        TilePairs.JaccardName, col("xs"), col("xs"), lit(true), lit(0.4))).as("p"))
      .select("p.a", "p.b", "p.j")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    out.toSeq shouldBe Seq((1L, 2L, 0.5))
  }

  test("graft_jaccard_tile_pairs: off-diagonal tile crosses left with right") {
    val l = "array(named_struct('id', 1L, 'sz', 2, 'bm', array(3L)))"
    val r = "array(named_struct('id', 5L, 'sz', 2, 'bm', array(3L)), " +
      "named_struct('id', 6L, 'sz', 2, 'bm', array(12L)))"
    val out = Seq(1).toDF("x")
      .select(explode(call_function(
        TilePairs.JaccardName, expr(l), expr(r), lit(false), lit(0.9))).as("p"))
      .select("p.a", "p.b", "p.j")
      .collect().map(r0 => (r0.getLong(0), r0.getLong(1), r0.getDouble(2)))
    out.toSeq shouldBe Seq((1L, 5L, 1.0)) // (1,6): disjoint bitmaps -> 0
  }

  test("graft_jaccard_prefix_pairs: emits each pair from exactly one bucket") {
    // threshold 0.5; A = bits {0,1,2,3} (sz 4, prefix k = 4-2+1 = 3 → {0,1,2});
    // B = bits {1,2,3,4} (prefix {1,2,3}). J(A,B) = 3/5 = 0.6 ≥ 0.5; common
    // bits {1,2,3}; first common bit 1 is in both prefixes → canonical
    // bucket 1. The plain kernel emits (A,B) from buckets 1 AND 2 (both
    // common prefix shingles) and needs dropDuplicates; the canonical
    // kernel must emit from bucket 1 only.
    val xs = "array(named_struct('id', 1L, 'sz', 4, 'bm', array(15L)), " +
      "named_struct('id', 2L, 'sz', 4, 'bm', array(30L)))"
    def runPid(p: Int): Seq[(Long, Long, Double)] = Seq(1).toDF("x")
      .select(explode(call_function(
        TilePairs.JaccardPfxName, expr(xs), expr(xs), lit(true), lit(0.5),
        lit(p), lit(64))).as("p"))
      .select("p.a", "p.b", "p.j")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    runPid(1) shouldBe Seq((1L, 2L, 0.6))
    runPid(2) shouldBe Seq.empty // common but non-canonical bucket
    runPid(3) shouldBe Seq.empty // bit 3 outside A's prefix — never a bucket
    // union over every bucket id == the plain kernel's DEDUPLICATED output
    (0 until 5).flatMap(runPid) shouldBe Seq((1L, 2L, 0.6))
  }

  test("graft_jaccard_prefix_pairs: eligible cap suppresses late canonical bits") {
    // same pair but first common bit ≥ eligible → no eligible common
    // prefix shingle exists, so NO bucket emits it (the stop-gram-capped
    // prefix never indexed the pair together)
    val xs = "array(named_struct('id', 1L, 'sz', 4, 'bm', array(15L)), " +
      "named_struct('id', 2L, 'sz', 4, 'bm', array(30L)))"
    val out = Seq(1).toDF("x")
      .select(explode(call_function(
        TilePairs.JaccardPfxName, expr(xs), expr(xs), lit(true), lit(0.5),
        lit(1), lit(1))).as("p"))
      .collect()
    out shouldBe empty
  }

  test("graft_sig_est_canonical_pairs: emits only from the first colliding band") {
    // sigs of length 4, 2 rows per band → bands {0, 1}; (1,2) agree in
    // positions 1,2,3 → band 0 slices (10,20) vs (99,20) differ, band 1
    // slices (30,40) equal. So the pair collides at band 1 ONLY — and
    // with 3 equal positions passes minEqual 3 there. (1,3) agree only
    // at position 0 → fails minEqual everywhere.
    val xs = "array(named_struct('id', 1L, 'sig', array(10L, 20L, 30L, 40L)), " +
      "named_struct('id', 2L, 'sig', array(99L, 20L, 30L, 40L)), " +
      "named_struct('id', 3L, 'sig', array(10L, 77L, 88L, 99L)))"
    def runBand(b: Int): Seq[(Long, Long)] = Seq(1).toDF("x")
      .select(explode(call_function(
        TilePairs.SigEstCanonicalName, expr(xs), expr(xs), lit(true), lit(3),
        lit(b), lit(2))).as("p"))
      .select("p.a", "p.b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    runBand(1) shouldBe Seq((1L, 2L))
    runBand(0) shouldBe Seq.empty // band-0 hashes differ: not this bucket's pair
    // identical sigs collide at band 0 → band 1 must NOT re-emit them
    val dup = "array(named_struct('id', 7L, 'sig', array(5L, 6L, 7L, 8L)), " +
      "named_struct('id', 8L, 'sig', array(5L, 6L, 7L, 8L)))"
    def runDup(b: Int): Int = Seq(1).toDF("x")
      .select(explode(call_function(
        TilePairs.SigEstCanonicalName, expr(dup), expr(dup), lit(true), lit(4),
        lit(b), lit(2))).as("p")).collect().length
    runDup(0) shouldBe 1
    runDup(1) shouldBe 0
  }

  test("graft_sig_est_tile_pairs: pairs with enough equal signature positions") {
    // sigs of length 4; (1,2) agree in 3 positions, (1,3) in 1, (2,3) in 1
    val xs = "array(named_struct('id', 1L, 'sig', array(10L, 20L, 30L, 40L)), " +
      "named_struct('id', 2L, 'sig', array(10L, 20L, 30L, 99L)), " +
      "named_struct('id', 3L, 'sig', array(10L, 77L, 88L, 99L)))"
    val out = Seq(1).toDF("x")
      .select(explode(call_function(
        TilePairs.SigEstName, expr(xs), expr(xs), lit(true), lit(3))).as("p"))
      .select("p.a", "p.b")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    out.toSeq shouldBe Seq((1L, 2L))
  }

  test("graft_dot matches the HOF fold bit-for-bit (float and double arrays)") {
    val df = Seq(
      (Seq(1.0f, 2.0f, 3.0f), Seq(0.5, -1.0, 2.0)),
      (Seq(0.1f, 0.2f, 0.3f), Seq(0.7, 0.8, 0.9)),
    ).toDF("a", "b")
    val rows = df.select(
      call_function(TilePairs.DotName, $"a", $"b").as("native"),
      graft.ops.Similarity.dot($"a", $"b").as("hof")).collect()
    rows.foreach(r => r.getDouble(0) shouldBe r.getDouble(1)) // exact equality
    // codegen path actually used (expression is codegen-capable, not fallback)
    classOf[org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback]
      .isAssignableFrom(classOf[graft.functions.DotProduct]) shouldBe false
  }

  test("graft_shingle_hashes matches the HOF formulation bit-for-bit") {
    val df = Seq(
      "the quick brown fox", "ab", "", "aaaa",
      "naïve café — ünïcode ½ text", "abcabcabc").toDF("t")
    val rows = df.select(
      call_function(TilePairs.ShingleName, $"t", lit(3)).as("native"),
      graft.ops.Dedup.shingleHashes($"t", 3).as("hof")).collect()
    rows.foreach { r =>
      r.getSeq[Long](0) shouldBe r.getSeq[Long](1) // same values, same order
    }
  }

  test("graft_minhash_sig matches the min(xxhash64(h, k)) aggregate bit-for-bit") {
    val df = Seq("the quick brown fox", "jumps over the lazy dog").toDF("t")
      .withColumn("id", monotonically_increasing_id())
    val native = df.select($"id",
      call_function(TilePairs.MinhashName,
        call_function(TilePairs.ShingleName, $"t", lit(3)), lit(8)).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val exploded = df.select($"id",
      explode(graft.ops.Dedup.shingleHashes($"t", 3)).as("h"))
    val aggs = (0 until 8).map(k => min(xxhash64($"h", lit(k))).as(s"m$k"))
    val agg = exploded.groupBy($"id").agg(aggs.head, aggs.tail: _*)
      .collect().map(r => r.getLong(0) -> (1 to 8).map(r.getLong(_)).toSeq).toMap
    agg.foreach { case (id, sig) => native(id) shouldBe sig }
  }

  test("graft_simhash matches the HOF vote fold bit-for-bit") {
    val df = Seq(
      Option("The quick  Brown fox"), Option(" leading space"), Option(""),
      Option("naïve CAFÉ tokens ½"), None).toDF("t")
    val rows = df.select(
      call_function(TilePairs.SimhashName, $"t").as("native"),
      graft.ops.Dedup.simhash($"t").as("hof")).collect()
    rows.foreach { r =>
      r.isNullAt(0) shouldBe r.isNullAt(1)
      if (!r.isNullAt(0)) r.getLong(0) shouldBe r.getLong(1)
    }
  }

  test("graft_shingle_strings matches the HOF formulation") {
    val df = Seq("the quick", "ab", "", "aaaa", "naïve ünïcode").toDF("t")
    val rows = df.select(
      call_function(TilePairs.ShingleStrName, $"t", lit(3)).as("native"),
      graft.ops.Dedup.shingles($"t", 3).as("hof")).collect()
    rows.foreach(r => r.getSeq[String](0) shouldBe r.getSeq[String](1))
  }

  test("graft_ivf_cell matches the sorted-struct argmin bit-for-bit") {
    val cents = Seq(Seq(0.0, 0.0), Seq(1.0, 1.0), Seq(0.25, 0.25))
    val df = Seq(Seq(0.1f, 0.1f), Seq(0.9f, 0.8f), Seq(0.25f, 0.25f),
      Seq(0.125f, 0.125f)).toDF("e")
    val rows = df.select(
      call_function(TilePairs.IvfCellName, $"e",
        typedLit(cents.flatten), lit(2)).as("native"),
      graft.ops.Similarity.ivfCell($"e", cents).as("hof")).collect()
    rows.foreach(r => r.getInt(0) shouldBe r.getInt(1))
  }

  test("graft_bitmap sets exactly the rank bits of present vocab hashes") {
    // vocab sorted by value {10,20,30}; ranks {2,0,1}: h=10→bit2, 20→bit0, 30→bit1
    val out = Seq(Seq(10L, 30L, 999L)).toDF("gs")
      .select(call_function(TilePairs.BitmapName, $"gs",
        typedLit(Seq(10L, 20L, 30L)), typedLit(Seq(2, 0, 1))).as("bm"))
      .head().getSeq[Long](0)
    out shouldBe Seq((1L << 2) | (1L << 1)) // 999 ignored
  }

  test("per-row kernels are codegen-capable (projections stay in WholeStageCodegen)") {
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    Seq(
      classOf[graft.functions.ShingleHashes], classOf[graft.functions.ShingleStrings],
      classOf[graft.functions.MinhashSig], classOf[graft.functions.BitmapOfSet],
      classOf[graft.functions.SimHash64], classOf[graft.functions.IvfCell],
      classOf[graft.functions.JpegDims], classOf[graft.functions.RiffDuration],
      classOf[graft.functions.Mp4Duration], classOf[graft.functions.Mp3Duration],
      classOf[graft.functions.ExifOrientation],
      classOf[graft.functions.ExifGps], classOf[graft.functions.ExifGpsStrip],
      classOf[graft.functions.WebpDims], classOf[graft.functions.IsoBmffDims],
      classOf[graft.functions.SpUnigramEncode], classOf[graft.functions.ExifTags],
      classOf[graft.functions.Mp3Tags], classOf[graft.functions.RobotsVerdict],
      classOf[graft.functions.PdfText], classOf[graft.functions.PdfInfo])
      .foreach(c => classOf[CodegenFallback].isAssignableFrom(c) shouldBe false)
    // and a projection through them really compiles into a codegen stage
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val proj = docs.select(
      call_function(TilePairs.SimhashName, $"text").as("sh"),
      call_function(TilePairs.ShingleName, $"text", lit(3)).as("gs"))
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out))(proj.explain("formatted"))
    out.toString should include regex "Project \\[codegen id : 1\\]"
    proj.count() shouldBe docs.count() // the generated code actually runs
  }

  test("graft_hamming_tile_pairs: pairs within the Hamming radius") {
    val xs = "array(named_struct('id', 1L, 'sh', 0L), " +
      "named_struct('id', 2L, 'sh', 3L), named_struct('id', 3L, 'sh', -1L))"
    val out = Seq(1).toDF("x")
      .select(explode(call_function(
        TilePairs.HammingName, expr(xs), expr(xs), lit(true), lit(2))).as("p"))
      .select("p.a", "p.b", "p.h")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // d(1,2)=2 ok; d(1,3)=64, d(2,3)=62 out of radius
    out.toSeq shouldBe Seq((1L, 2L, 2))
  }

  test("graft_bloom_agg + graft_bloom_contains: no false negatives across partitions") {
    val keys = (0L until 2000L).map(_ * 2654435761L)
    // 8 partitions force the merge (bit-OR of partial filters) path
    val built = keys.toDF("k").repartition(8)
      .agg(call_function(TilePairs.BloomAggName, $"k", lit(32768), lit(5)).as("bf"))
    val bf = built.collect()(0).getAs[Array[Byte]](0)
    bf.length shouldBe 32768 / 8
    keys.foreach { k =>
      graft.functions.BloomRuntime.mightContain(bf, k, 5) shouldBe true
    }
    // disjoint probe set: fp rate should be near the theoretical ~3% for
    // m/n=16, k=5 — assert an order-of-magnitude bound, not the exact value
    val probes = (1L to 10000L).map(_ * 7046029254386353131L)
    val fps = probes.count(graft.functions.BloomRuntime.mightContain(bf, _, 5))
    fps.toDouble / probes.size should be < 0.10
    // the expression side agrees with the runtime probe
    val contains = keys.take(5).toDF("k")
      .select(call_function(TilePairs.BloomContainsName, lit(bf), $"k", lit(5)))
      .collect().map(_.getBoolean(0))
    contains.foreach(_ shouldBe true)
  }

  test("graft_token_ngram_hashes matches the HOF formulation bit-for-bit") {
    val docs = Seq(
      "the quick brown fox jumps over the lazy dog",
      "  leading and\ttab\nand trailing whitespace  ",
      "Mixed CASE Ünïcode tökens ça va",
      "short one",           // fewer than n tokens → empty
      "exactly three tokens",
      "dup dup dup dup dup", // repeated n-grams collapse to one hash
      "",
      "   \t\r\n  ").toDF("text")
    val rows = docs.select(
      call_function(TilePairs.TokenNgramName, $"text", lit(3)).as("k"),
      graft.ops.Dedup.tokenNgramHashesFallback($"text", 3).as("f"))
      .collect()
    rows.foreach(r => r.getSeq[Long](0) shouldBe r.getSeq[Long](1))
    // null text → empty (the when(...).otherwise fallback behavior)
    val nullRow = Seq[Option[String]](None).toDF("text")
      .select(call_function(TilePairs.TokenNgramName, $"text", lit(3)))
      .collect()(0).getSeq[Long](0)
    nullRow shouldBe Seq.empty
  }

  test("graft_hash_embed matches the HOF fold bit-for-bit") {
    val docs = Seq(
      "the quick brown fox jumps over the lazy dog",
      "  leading and\ttab\nand trailing whitespace  ",
      "Mixed CASE Ünïcode tökens ça va",
      "dup dup dup dup dup",
      "",
      "   \t\r\n  ").toDF("text")
    val dim = 8
    val seed = 42L
    val rows = docs.select(
      call_function(TilePairs.HashEmbedName, $"text", lit(dim), lit(seed)).as("k"),
      graft.ops.Retrieval.hashEmbedFallback($"text", dim, seed).as("f")).collect()
    rows.foreach { r =>
      r.getSeq[Double](0) shouldBe r.getSeq[Double](1)
    }
    // null text → NULL from both paths (hashEmbed's coalesce zero-fills)
    val nullRow = Seq[Option[String]](None).toDF("text")
      .select(call_function(TilePairs.HashEmbedName, $"text", lit(dim), lit(seed)))
      .collect()(0)
    nullRow.isNullAt(0) shouldBe true
  }

  test("graft_bloom_agg skips null keys; empty filter contains nothing") {
    val bf = Seq[Option[Long]](Some(42L), None).toDF("k")
      .agg(call_function(TilePairs.BloomAggName, $"k", lit(64), lit(3)).as("bf"))
      .collect()(0).getAs[Array[Byte]](0)
    graft.functions.BloomRuntime.mightContain(bf, 42L, 3) shouldBe true
    graft.functions.BloomRuntime.mightContain(Array.emptyByteArray, 42L, 3) shouldBe false
    graft.functions.BloomRuntime.mightContain(null, 42L, 3) shouldBe false
  }

  test("graft_jpeg_dims: SOF marker walk — real ImageIO bytes, adversarial shapes, kernel ≡ fallback") {
    def hx(h: String): Array[Byte] =
      h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    def be16(v: Int): Array[Byte] = Array(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    val jfif = hx("FFE000104A46494600010100004800480000")
    def sof(marker: String, w: Int, h: Int): Array[Byte] =
      hx(marker + "000B08") ++ be16(h) ++ be16(w) ++ hx("01011100")
    // a COM segment whose body EMBEDS a decoy SOF byte string (w=9, h=7):
    // a walk that scans instead of jumping by segment length extracts 9×7
    val decoyBody = "decoy".getBytes("UTF-8") ++ hx("FFC0000B0800070009")
    val com = hx("FFFE") ++ be16(decoyBody.length + 2) ++ decoyBody
    // REAL encoder bytes: the JDK's ImageIO JPEG/PNG writers
    val realJpeg = {
      val img = new java.awt.image.BufferedImage(
        123, 77, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val bo = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bo) shouldBe true
      bo.toByteArray
    }
    val cases: Seq[(Int, Array[Byte], Option[(Long, Long)])] = Seq(
      (1, hx("FFD8") ++ jfif ++ com ++ sof("FFC0", 200, 300), Some((200L, 300L))),
      // progressive SOF2 behind a DQT, with a padding FILL byte; 16-bit extremes
      (2, hx("FFD8FFDB0005000102FF") ++ sof("FFC2", 1, 65535), Some((1L, 65535L))),
      // TEM standalone marker (no length field) between SOI and the frame
      (3, hx("FFD8FF01") ++ sof("FFC1", 640, 480), Some((640L, 480L))),
      (4, hx("FFD8") ++ jfif ++ hx("FFD9"), None), // EOI, no SOF
      (5, hx("FFD8FFDA000263") ++ sof("FFC0", 5, 5), None), // SOS before SOF
      (6, hx("FFD8") ++ jfif ++ hx("FFC0000B08") ++ be16(300), None), // truncated SOF
      (7, hx("89504E470D0A1A0A0000000D49484452"), None), // PNG, not JPEG
      (8, Array.emptyByteArray, None),
      (9, hx("FFD8AB") ++ sof("FFC0", 5, 5), None), // framing lost: no FF
      // DHT (C4) is NOT a frame marker — must be skipped, not parsed as SOF
      (10, hx("FFD8FFC4000500AABB") ++ sof("FFC0", 31, 15), Some((31L, 15L))),
      (11, realJpeg, Some((123L, 77L))))
    val df = cases.map { case (id, b, _) => (id, b) }.toDF("id", "payload")
    val both = df.select(
      $"id",
      call_function(TilePairs.JpegDimsName, $"payload").as("k"),
      graft.ops.Multimodal.jpegDimsFallback($"payload").as("f"))
      .collect()
      .map(r => r.getInt(0) ->
        (Option(r.getSeq[Long](1)).map(s => (s(0), s(1))),
          Option(r.getSeq[Long](2)).map(s => (s(0), s(1))))).toMap
    for ((id, _, want) <- cases) {
      withClue(s"case $id kernel:") { both(id)._1 shouldBe want }
      withClue(s"case $id fallback ≡ kernel:") { both(id)._2 shouldBe both(id)._1 }
    }
    // the real encoder's PNG bytes drive the PNG branch of imageDims too
    val realPng = {
      val img = new java.awt.image.BufferedImage(
        61, 43, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val bo = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bo) shouldBe true
      bo.toByteArray
    }
    val dims = graft.ops.Multimodal.imageDims(
      Seq((1, realJpeg), (2, realPng)).toDF("id", "payload"), "payload")
      .orderBy("id").select("img_width", "img_height")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    dims shouldBe Seq((123L, 77L), (61L, 43L))
  }

  test("graft_riff_duration / graft_mp4_duration: chunk/box walks — real JDK WAV bytes, adversarial shapes") {
    def hx(h: String): Array[Byte] =
      h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    def le32(v: Int): Array[Byte] =
      Array(v & 0xff, (v >> 8) & 0xff, (v >> 16) & 0xff, (v >> 24) & 0xff).map(_.toByte)
    def be32(v: Int): Array[Byte] =
      Array((v >> 24) & 0xff, (v >> 16) & 0xff, (v >> 8) & 0xff, v & 0xff).map(_.toByte)
    // REAL encoder bytes: the JDK's javax.sound WAV writer — 8 kHz, 2ch,
    // 16-bit (byte rate 32000), 4000 frames (16000 data bytes) = 0.5 s
    val realWav = {
      import javax.sound.sampled._
      val fmt = new AudioFormat(8000f, 16, 2, true, false)
      val pcm = new Array[Byte](16000)
      val ais = new AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, 4000L)
      val bo = new java.io.ByteArrayOutputStream()
      AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bo)
      bo.toByteArray
    }
    val fmtChunk = hx("666D7420") ++ le32(16) ++ hx("01000200") ++
      le32(8000) ++ le32(32000) ++ hx("04001000")
    val wavCases: Seq[(Int, Array[Byte], Option[(Long, Long)])] = Seq(
      (1, realWav, Some((16000L, 32000L))),
      // data BEFORE fmt (its bytes present): walk keeps going past it
      (2, hx("52494646") ++ le32(100) ++ hx("57415645") ++
        hx("64617461") ++ le32(6) ++ new Array[Byte](6) ++ fmtChunk,
        Some((6L, 32000L))),
      // odd-size LIST chunk: forgetting the even pad shifts fmt by 1
      (3, hx("52494646") ++ le32(100) ++ hx("57415645") ++
        hx("4C495354") ++ le32(3) ++ hx("414243") ++ hx("00") ++
        fmtChunk ++ hx("64617461") ++ le32(320), Some((320L, 32000L))),
      (4, hx("52494646") ++ le32(100) ++ hx("41564920"), None), // AVI, not WAVE
      (5, hx("52494646") ++ le32(100) ++ hx("57415645") ++
        hx("666D7420") ++ le32(16) ++ hx("01000200") ++ le32(8000) ++
        le32(0) ++ hx("04001000") ++ hx("64617461") ++ le32(99), None), // zero rate
      (6, hx("52494646") ++ le32(100) ++ hx("57415645"), None)) // no chunks
    val mvhdV0 = be32(28) ++ hx("6D766864") ++ hx("00000000") ++
      be32(0) ++ be32(0) ++ be32(600) ++ be32(9000)
    val ftyp = be32(16) ++ hx("66747970" + "69736F6D" + "00000200")
    val mp4Cases: Seq[(Int, Array[Byte], Option[(Long, Long)])] = Seq(
      // moov behind a LARGESIZE free box; mvhd behind a udta sibling
      (11, ftyp ++ be32(1) ++ hx("66726565") ++
        hx("0000000000000018") ++ hx("0011223344556677") ++
        be32(48) ++ hx("6D6F6F76") ++
        be32(12) ++ hx("75647461") ++ hx("DEADBEEF") ++ mvhdV0,
        Some((9000L, 600L))),
      // v1 mvhd: 64-bit duration at body offset 24
      (12, ftyp ++ be32(48) ++ hx("6D6F6F76") ++
        be32(40) ++ hx("6D766864") ++ hx("01000000") ++
        hx("0000000000000000" + "0000000000000000") ++
        be32(1000) ++ hx("00000000000186A0"), Some((100000L, 1000L))),
      // mdat skipped by declared size; moov last with size 0 (to EOF)
      (13, ftyp ++ be32(16) ++ hx("6D646174") ++ hx("0000000000000000") ++
        be32(0) ++ hx("6D6F6F76") ++ mvhdV0, Some((9000L, 600L))),
      (14, ftyp ++ be32(16) ++ hx("6D646174") ++ hx("0000000000000000"), None), // no moov
      (15, hx("0000001066726565") ++ be32(0) ++ be32(0), None), // no ftyp
      (16, ftyp ++ be32(48) ++ hx("6D6F6F76") ++ be32(12) ++
        hx("75647461") ++ hx("DEADBEEF") ++ be32(28) ++ hx("6D766864") ++
        hx("00000000") ++ be32(0) ++ be32(0) ++ be32(0) ++ be32(9000),
        None)) // zero timescale
    val df = (wavCases ++ mp4Cases).map { case (id, b, _) => (id, b) }
      .toDF("id", "payload")
    val got = df.select($"id",
      when(hex(substring($"payload", 1, 4)) === "52494646",
        call_function(TilePairs.RiffDurationName, $"payload"))
        .otherwise(call_function(TilePairs.Mp4DurationName, $"payload")).as("p"))
      .collect()
      .map(r => r.getInt(0) ->
        Option(r.getSeq[Long](1)).map(s => (s(0), s(1)))).toMap
    for ((id, _, want) <- wavCases ++ mp4Cases)
      withClue(s"case $id:") { got(id) shouldBe want }
    // the op end to end: duration_sec = num/den, 6 dp
    val out = graft.ops.Multimodal.withMediaDuration(
      Seq((1, realWav)).toDF("id", "payload"), "payload")
      .select("media_duration_sec").head().getDouble(0)
    out shouldBe 0.5
  }

  test("media-duration walks survive lying sizes: BMFF largesize overflow, RIFF >2GiB chunks") {
    def hx(h: String): Array[Byte] =
      h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    def be32b(v: Long): Array[Byte] =
      Array((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    def le32b(v: Long): Array[Byte] =
      Array(v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    val ftyp = be32b(16) ++ hx("66747970" + "69736F6D" + "00000200")
    // a ~40-byte payload declaring a 64-bit largesize near Long.MaxValue:
    // pos + size would wrap negative and re-enter the loop with truncated
    // indices — must be NULL, not an exception or a hang
    val evilLarge = ftyp ++ be32b(1) ++ hx("66726565") ++
      hx("7FFFFFFFFFFFFFFF") ++ hx("0011223344556677")
    val fmtChunk = hx("666D7420") ++ le32b(16) ++ hx("01000200") ++
      le32b(8000) ++ le32b(32000) ++ hx("04001000")
    // data chunk declaring 0x90000000 (>2 GiB, valid for WAV): the
    // truncated-capture-with-declared-duration case — Int arithmetic
    // would step the walk BACKWARDS; must report the declared pair
    val bigData = hx("52494646") ++ le32b(100) ++ hx("57415645") ++
      fmtChunk ++ hx("64617461") ++ le32b(0x90000000L) ++ hx("AA")
    // a junk chunk declaring 0xFFFFFFFF before fmt: the walk steps past
    // the payload end and must stop (NULL), never re-parse chunk bodies
    val hugeJunk = hx("52494646") ++ le32b(100) ++ hx("57415645") ++
      hx("4A554E4B") ++ le32b(0xFFFFFFFFL) ++ fmtChunk
    val cases = Seq(
      (1, evilLarge, false, None),
      (2, bigData, true, Some((0x90000000L, 32000L))),
      (3, hugeJunk, true, None))
    val got = cases.map { case (id, b, _, _) => (id, b) }.toDF("id", "payload")
      .select($"id",
        when(hex(substring($"payload", 1, 4)) === "52494646",
          call_function(TilePairs.RiffDurationName, $"payload"))
          .otherwise(call_function(TilePairs.Mp4DurationName, $"payload")).as("p"))
      .collect()
      .map(r => r.getInt(0) ->
        Option(r.getSeq[Long](1)).map(s => (s(0), s(1)))).toMap
    for ((id, _, _, want) <- cases) withClue(s"case $id:") { got(id) shouldBe want }
  }

  test("graft_flac_duration / graft_ogg_duration: STREAMINFO fields, page-walk granules") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.BinaryType
    def hx(h: String): Array[Byte] =
      h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    val flacK: Array[Byte] => org.apache.spark.sql.catalyst.util.ArrayData =
      graft.functions.FlacDuration(Literal.create(null, BinaryType)).compute _
    val oggK: Array[Byte] => org.apache.spark.sql.catalyst.util.ArrayData =
      graft.functions.OggDuration(Literal.create(null, BinaryType)).compute _
    def pair(k: Array[Byte] => org.apache.spark.sql.catalyst.util.ArrayData,
        b: Array[Byte]): Option[(Long, Long)] =
      Option(k(b)).map(a => (a.getLong(0), a.getLong(1)))
    // ---- FLAC ----
    // the REAL bit layout (RFC 9639): rate u20, channels-1 u3, bps-1 u5
    // between rate and the u36 total — a 16-bit STEREO stream, so the
    // inter-field bits are nonzero and a one-byte-early read cannot pass
    def streaminfo(rate: Int, total: Long): Array[Byte] = {
      val b = new Array[Byte](34)
      b(10) = (rate >> 12).toByte
      b(11) = ((rate >> 4) & 0xff).toByte
      b(12) = (((rate & 0xf) << 4) | (1 << 1) | 0).toByte // ch-1=1, bps-1 hi=0
      b(13) = ((0xf << 4) | ((total >> 32) & 0xf).toInt).toByte // bps-1 lo=15
      b(14) = ((total >> 24) & 0xff).toByte
      b(15) = ((total >> 16) & 0xff).toByte
      b(16) = ((total >> 8) & 0xff).toByte
      b(17) = (total & 0xff).toByte
      b
    }
    def flac(rate: Int, total: Long): Array[Byte] =
      "fLaC".getBytes ++ hx("80000022") ++ streaminfo(rate, total)
    pair(flacK, flac(44100, 441000L)) shouldBe Some((441000L, 44100L))
    // a 36-bit total (top nibble set) reads all five bytes
    pair(flacK, flac(96000, 0x9_00000001L)) shouldBe Some((0x9_00000001L, 96000L))
    // STREAMINFO behind another block still found (lenient order)
    pair(flacK, "fLaC".getBytes ++ hx("04000003AABBCC") ++
      hx("80000022") ++ streaminfo(8000, 16000L)) shouldBe Some((16000L, 8000L))
    // zero rate is malformed; zero total means "unknown" — both NULL
    pair(flacK, flac(0, 441000L)) shouldBe None
    pair(flacK, flac(44100, 0L)) shouldBe None
    // truncated STREAMINFO, non-FLAC bytes, last-block chain without one
    pair(flacK, flac(44100, 441000L).take(20)) shouldBe None
    pair(flacK, "fLaX1234".getBytes) shouldBe None
    pair(flacK, "fLaC".getBytes ++ hx("84000001AA")) shouldBe None
    // ---- Ogg ----
    def le32h(v: Long): String =
      f"${v & 0xff}%02X${(v >> 8) & 0xff}%02X${(v >> 16) & 0xff}%02X${(v >> 24) & 0xff}%02X"
    def le64h(v: Long): String = le32h(v & 0xffffffffL) + le32h(v >>> 32)
    def page(granule: Long, typ: Int, payload: Array[Byte]): Array[Byte] =
      "OggS".getBytes ++ hx(f"00$typ%02X" + le64h(granule) +
        "01000000" + "00000000" + "00000000" + f"01${payload.length}%02X") ++ payload
    val vorbisId = hx("01") ++ "vorbis".getBytes ++ hx("00000000" + "02" +
      le32h(44100L) + "00000000" + "00000000" + "00000000" + "B8" + "01")
    val opusId = "OpusHead".getBytes ++ hx("01" + "02" + "3801" + // pre-skip 312
      le32h(48000L) + "0000" + "00")
    // Vorbis: last intact granule / id-header rate
    pair(oggK, page(0L, 2, vorbisId) ++ page(132300L, 4, Array[Byte](0x7f))) shouldBe
      Some((132300L, 44100L))
    // a -1 granule (continued page) is skipped, the earlier one stands
    pair(oggK, page(0L, 2, vorbisId) ++ page(88200L, 0, Array[Byte](1)) ++
      page(-1L, 1, Array[Byte](2))) shouldBe Some((88200L, 44100L))
    // a TORN final page (payload cut) answers with the last intact page
    val torn = page(0L, 2, vorbisId) ++ page(44100L, 0, Array[Byte](1)) ++
      page(99999L, 4, Array.fill[Byte](40)(0x2A))
    pair(oggK, torn.dropRight(30)) shouldBe Some((44100L, 44100L))
    // Opus: 48 kHz granule clock, pre-skip subtracted
    pair(oggK, page(0L, 2, opusId) ++ page(96312L, 4, Array[Byte](0))) shouldBe
      Some((96000L, 48000L))
    // id page only (granule 0, nothing after pre-skip) → NULL
    pair(oggK, page(0L, 2, opusId)) shouldBe None
    // unknown codec, non-Ogg bytes
    pair(oggK, page(0L, 2, "FLACwhat".getBytes) ++
      page(5000L, 4, Array[Byte](0))) shouldBe None
    pair(oggK, "Oggs but not really".getBytes) shouldBe None
    // the op sniffs both formats
    val out = graft.ops.Multimodal.withMediaDuration(
      Seq((1, flac(44100, 441000L)),
        (2, page(0L, 2, opusId) ++ page(96312L, 4, Array[Byte](0))))
        .toDF("id", "payload"), "payload")
      .orderBy("id")
      .select("media_dur_num", "media_dur_den").collect()
    (out(0).getLong(0), out(0).getLong(1)) shouldBe ((441000L, 44100L))
    (out(1).getLong(0), out(1).getLong(1)) shouldBe ((96000L, 48000L))
  }

  test("graft_mp3_duration: ID3 skip, Xing/Info VBR, CBR fallback, adversarial shapes") {
    def hx(h: String): Array[Byte] =
      h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    def be32b(v: Long): Array[Byte] =
      Array((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    val hdrM1S = hx("FFFB9000") // MPEG1 LIII 128k 44100 stereo
    val hdrM1M = hx("FFFB90C0") // … mono
    val hdrM2M = hx("FFF340C0") // MPEG2 LIII 32k 22050 mono
    def fill(k: Int, b: Int = 0xAA): Array[Byte] = Array.fill(k)(b.toByte)
    // ID3v2 header with a 33-byte body (syncsafe size, no footer)
    val id3 = "ID3".getBytes ++ hx("030000") ++ hx("00000021") ++ new Array[Byte](33)
    val cases: Seq[(Int, Array[Byte], Option[(Long, Long)])] = Seq(
      // VBR stereo MPEG1: Xing at the 4+32 offset, frames flag set
      (1, hdrM1S ++ new Array[Byte](32) ++ "Xing".getBytes ++
        be32b(1) ++ be32b(2500), Some((2500L * 1152, 44100L))),
      // VBR mono MPEG1: Xing at 4+17
      (2, hdrM1M ++ new Array[Byte](17) ++ "Xing".getBytes ++
        be32b(1) ++ be32b(300), Some((300L * 1152, 44100L))),
      // VBR mono MPEG2 via the Info tag at 4+9; MPEG2 LIII = 576 samples
      (3, hdrM2M ++ new Array[Byte](9) ++ "Info".getBytes ++
        be32b(1) ++ be32b(77), Some((77L * 576, 22050L))),
      // Xing present but frames flag CLEAR → CBR fallback over 48 bytes
      (4, hdrM1S ++ new Array[Byte](32) ++ "Xing".getBytes ++
        be32b(0) ++ be32b(2500), Some((48L * 8, 128000L))),
      // bare CBR: 4-byte header + 996 audio bytes at 128 kbps
      (5, hdrM1S ++ fill(996), Some((1000L * 8, 128000L))),
      // ID3-prefixed CBR MPEG2 mono 32 kbps: tag skip lands on the sync
      (6, id3 ++ hdrM2M ++ fill(60), Some((64L * 8, 32000L))),
      // trailing ID3v1 'TAG' block excluded from the CBR span
      (7, hdrM1S ++ fill(196, 0x11) ++ "TAG".getBytes ++ new Array[Byte](125),
        Some((200L * 8, 128000L))),
      // ID3 declaring 256 body bytes over a 15-byte payload → NULL
      (8, "ID3".getBytes ++ hx("030000") ++ hx("00000200") ++ new Array[Byte](5), None),
      // junk before the first sync: the bounded scan finds it
      (9, new Array[Byte](7) ++ hdrM1S ++ fill(96), Some((100L * 8, 128000L))),
      // free-format bitrate index 0 is not a valid header → NULL
      (10, hx("FFFB0000") ++ new Array[Byte](60), None),
      // reserved version bits (01) → NULL
      (11, hx("FFEB9000") ++ new Array[Byte](60), None),
      (12, "not audio at all".getBytes("UTF-8"), None))
    val got = cases.map { case (id, b, _) => (id, b) }.toDF("id", "payload")
      .select($"id", call_function(TilePairs.Mp3DurationName, $"payload").as("p"))
      .collect()
      .map(r => r.getInt(0) ->
        Option(r.getSeq[Long](1)).map(s => (s(0), s(1)))).toMap
    for ((id, _, want) <- cases) withClue(s"case $id:") { got(id) shouldBe want }
    // the op routes mp3 payloads (ID3-tagged AND bare-sync) to the kernel
    val out = graft.ops.Multimodal.withMediaDuration(
      Seq((1, id3 ++ hdrM2M ++ fill(60)), (2, hdrM1S ++ fill(996)))
        .toDF("id", "payload"), "payload")
      .orderBy("id").select("media_duration_sec").collect().map(_.getDouble(0))
    out(0) shouldBe (64.0 * 8 / 32000.0) +- 1e-9
    out(1) shouldBe (8000.0 / 128000.0) +- 1e-9
  }

  test("graft_exif_gps + strip: both byte orders, refs, defects; scrub zeroes and severs") {
    def hx(h: String): Array[Byte] =
      h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    def ii16(v: Int) = Array(v.toByte, (v >> 8).toByte)
    def ii32(v: Long) = Array(v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    def mm16(v: Int) = Array((v >> 8).toByte, v.toByte)
    def mm32(v: Long) = Array((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    val sof = hx("FFC0000B08" + "0064" + "00C8" + "01011100") // h=100, w=200
    def app1(tiff: Array[Byte]): Array[Byte] = {
      val body = hx("457869660000") ++ tiff
      hx("FFE1") ++ Array(((body.length + 2) >> 8).toByte,
        ((body.length + 2) & 0xff).toByte) ++ body
    }
    def gpsTiff(little: Boolean, latRef: Char, lonRef: Char,
        latSecDen: Long = 100L): Array[Byte] = {
      val e16 = if (little) ii16 _ else mm16 _
      val e32 = if (little) ii32 _ else mm32 _
      def entry(tag: Int, typ: Int, cnt: Long, v: Array[Byte]) =
        e16(tag) ++ e16(typ) ++ e32(cnt) ++ v
      val hdr = (if (little) hx("49492A00") else hx("4D4D002A")) ++ e32(8)
      val ifd0 = e16(2) ++
        entry(0x0100, 3, 1, e32(999)) ++ // decoy ImageWidth
        entry(0x8825, 4, 1, e32(38)) ++ e32(0)
      val gps = e16(4) ++
        entry(1, 2, 2, latRef.toByte +: Array[Byte](0, 0, 0)) ++
        entry(2, 5, 3, e32(92)) ++
        entry(3, 2, 2, lonRef.toByte +: Array[Byte](0, 0, 0)) ++
        entry(4, 5, 3, e32(116)) ++ e32(0)
      val latRats = e32(10) ++ e32(1) ++ e32(30) ++ e32(1) ++ e32(4500) ++ e32(latSecDen)
      val lonRats = e32(20) ++ e32(1) ++ e32(15) ++ e32(1) ++ e32(0) ++ e32(100)
      hdr ++ ifd0 ++ gps ++ latRats ++ lonRats
    }
    val expLat = 10.0 + 30.0 / 60.0 + (4500.0 / 100.0) / 3600.0
    val expLon = 20.0 + 15.0 / 60.0 + (0.0 / 100.0) / 3600.0
    // EXIF with orientation only — no GPS pointer
    val noGpsTiff = hx("49492A0008000000" + "0100" +
      "12010300" + "01000000" + "06000000" + "00000000")
    // GPS pointer aiming past the segment: present, unreadable
    val oobTiff = hx("49492A0008000000" + "0100" +
      "25880400" + "01000000" + "88130000" + "00000000")
    val cases: Seq[(Int, Array[Byte], Option[(Boolean, Option[Double], Option[Double])])] = Seq(
      (1, hx("FFD8") ++ app1(gpsTiff(little = true, 'N', 'E')) ++ sof,
        Some((true, Some(expLat), Some(expLon)))),
      (2, hx("FFD8") ++ app1(gpsTiff(little = false, 'S', 'W')) ++ sof,
        Some((true, Some(-expLat), Some(-expLon)))),
      // zero denominator on the lat seconds → lat NULL, lon intact
      (3, hx("FFD8") ++ app1(gpsTiff(little = true, 'N', 'E', latSecDen = 0L)) ++ sof,
        Some((true, None, Some(expLon)))),
      (4, hx("FFD8") ++ app1(noGpsTiff) ++ sof, Some((false, None, None))),
      (5, hx("FFD8") ++ app1(oobTiff) ++ sof, Some((true, None, None))),
      (6, hx("FFD8") ++ sof, None), // no EXIF at all
      (7, "not an image".getBytes("UTF-8"), None))
    val got = cases.map { case (id, b, _) => (id, b) }.toDF("id", "payload")
      .select($"id", call_function(TilePairs.ExifGpsName, $"payload").as("g"))
      .select($"id", $"g.gps_present", $"g.lat", $"g.lon")
      .collect()
      .map(r => r.getInt(0) -> (if (r.isNullAt(1)) None else Some((
        r.getBoolean(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))))
      .toMap
    for ((id, _, want) <- cases) withClue(s"case $id:") { got(id) shouldBe want }
    // strip: same size, GPS gone, the rest of the JPEG intact
    val withGps = hx("FFD8") ++ app1(gpsTiff(little = true, 'N', 'E')) ++ sof
    val stripped = graft.ops.Multimodal.stripExifGps(
      Seq((1, withGps)).toDF("id", "payload"), "payload")
      .select("payload").head().getAs[Array[Byte]](0)
    stripped.length shouldBe withGps.length
    stripped should not equal withGps
    // the TIFF header sits at abs 12 (FFD8 + FFE1 + len + Exif\0\0);
    // lat rationals at t+92 must be zeroed by the scrub
    stripped.slice(12 + 92, 12 + 92 + 48).forall(_ == 0) shouldBe true
    val after = Seq((1, stripped)).toDF("id", "payload")
      .select(call_function(TilePairs.ExifGpsName, $"payload").as("g"),
        call_function(TilePairs.JpegDimsName, $"payload").as("d"))
      .head()
    after.getStruct(0).getBoolean(0) shouldBe false
    after.getSeq[Long](1) shouldBe Seq(200L, 100L) // SOF walk still intact
    // payloads without GPS pass through byte-identical
    val noGps = hx("FFD8") ++ app1(noGpsTiff) ++ sof
    graft.ops.Multimodal.stripExifGps(
      Seq((1, noGps)).toDF("id", "payload"), "payload")
      .select("payload").head().getAs[Array[Byte]](0) shouldBe noGps
  }

  test("graft_webp_dims: chunk walk — VP8/VP8L/VP8X shapes, bad sync/signature, lying sizes") {
    def hx(h: String): Array[Byte] =
      h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    def le16b(v: Int): Array[Byte] = Array(v.toByte, (v >> 8).toByte)
    def le24b(v: Int): Array[Byte] = Array(v.toByte, (v >> 8).toByte, (v >> 16).toByte)
    def le32b(v: Long): Array[Byte] =
      Array(v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    val riff = hx("52494646") ++ le32b(100) ++ hx("57454250")
    val vp8 = hx("56503820") ++ le32b(10) ++ hx("000000" + "9D012A") ++
      le16b(320) ++ le16b(240)
    val cases: Seq[(Int, Array[Byte], Option[(Long, Long)])] = Seq(
      (1, riff ++ vp8, Some((320L, 240L))),
      // scaling bits in the upper 2 bits must be masked off
      (2, riff ++ hx("56503820") ++ le32b(10) ++ hx("0000009D012A") ++
        le16b(320 | 0xc000) ++ le16b(240 | 0x4000), Some((320L, 240L))),
      (3, riff ++ hx("5650384C") ++ le32b(5) ++ hx("2F") ++
        le32b((499L | (299L << 14))), Some((500L, 300L))),
      // VP8X behind an ODD-sized junk chunk (pad rule)
      (4, riff ++ hx("4A554E4B") ++ le32b(3) ++ hx("AABBCC") ++ hx("00") ++
        hx("56503858") ++ le32b(10) ++ hx("00000000") ++
        le24b(1919) ++ le24b(1079), Some((1920L, 1080L))),
      (5, riff ++ hx("56503820") ++ le32b(10) ++ hx("0000009D012B") ++
        le16b(320) ++ le16b(240), None), // wrong sync
      (6, riff ++ hx("5650384C") ++ le32b(5) ++ hx("30") ++ le32b(0), None), // wrong sig
      (7, riff ++ hx("4A554E4B") ++ le32b(0xFFFFFFFFL) ++ vp8, None), // lying junk size
      (8, riff, None), // no codec chunk
      (9, hx("52494646") ++ le32b(100) ++ hx("57415645") ++ vp8, None), // WAVE not WEBP
      (10, riff ++ hx("56503820") ++ le32b(10) ++ hx("0000009D012A"), None)) // dims cut
    val got = cases.map { case (id, b, _) => (id, b) }.toDF("id", "payload")
      .select($"id", call_function(TilePairs.WebpDimsName, $"payload").as("p"))
      .collect()
      .map(r => r.getInt(0) ->
        Option(r.getSeq[Long](1)).map(s => (s(0), s(1)))).toMap
    for ((id, _, want) <- cases) withClue(s"case $id:") { got(id) shouldBe want }
    // the op routes webp through the kernel alongside the other formats
    val out = graft.ops.Multimodal.imageDims(
      Seq((1, riff ++ vp8)).toDF("id", "payload"), "payload")
      .select("img_width", "img_height").head()
    (out.getLong(0), out.getLong(1)) shouldBe ((320L, 240L))
  }

  test("graft_webm_duration: EBML walk — scale/default, float32/64, unknown-size segment") {
    def hx(h: String): Array[Byte] =
      h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    def be32b(v: Long): Array[Byte] =
      Array((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    val hdr = hx("1A45DFA3" + "87" + "4282" + "84" + "7765626D") // DocType webm
    def seg(infoBody: Array[Byte], unsized: Boolean = false): Array[Byte] = {
      val info = hx("1549A966") ++ Array((0x80 | infoBody.length).toByte) ++ infoBody
      hx("18538067") ++
        (if (unsized) hx("FF") else Array((0x80 | info.length).toByte)) ++ info
    }
    val scale2ms = hx("2AD7B1" + "84") ++ be32b(2000000L) // 2 ms ticks
    val decoy = hx("4D80" + "85") ++ "graft".getBytes("ISO-8859-1") // MuxingApp
    val durF32 = hx("4489" + "84" + "447A0000") // 1000.0 ticks
    val durF64 = hx("4489" + "88" + "40A3890000000000") // 2500.5 ticks
    val cases: Seq[(Int, Array[Byte], Option[(Long, Long)])] = Seq(
      // explicit scale, float32, decoy element skipped: 1000 × 2 ms = 2 s
      (1, hdr ++ seg(scale2ms ++ decoy ++ durF32), Some((2000000000L, 1000000000L))),
      // DEFAULT scale (1e6 ns), float64, streamed unknown-size segment:
      // 2500.5 ms — the rounding is exact (2500.5 × 1e6 is integral)
      (2, hdr ++ seg(durF64, unsized = true) ++ "junk".getBytes, Some((2500500000L, 1000000000L))),
      // Info with a scale but NO Duration → NULL (live capture)
      (3, hdr ++ seg(scale2ms), None),
      // zero duration / zero scale → NULL
      (4, hdr ++ seg(hx("4489" + "84" + "00000000")), None),
      (5, hdr ++ seg((hx("2AD7B1" + "84") ++ be32b(0L)) ++ durF32), None),
      // truncated duration body → NULL; lying Info size → NULL
      (6, hdr ++ seg(hx("4489" + "88" + "40A389")), None),
      (7, hdr ++ hx("18538067" + "90" + "1549A966" + "9F" + "4489"), None),
      // a non-Segment element with unknown size cannot be skipped → NULL
      (8, hdr ++ hx("EC" + "FF" + "AABB") ++ seg(durF32), None),
      (9, "noebml".getBytes("ISO-8859-1"), None),
      // Segment behind a sized Void element at the top level
      (10, hdr ++ hx("EC" + "82" + "AABB") ++ seg(scale2ms ++ durF32),
        Some((2000000000L, 1000000000L))))
    val got = cases.map { case (id, b, _) => (id, b) }.toDF("id", "payload")
      .select($"id", call_function(TilePairs.WebmDurationName, $"payload").as("p"))
      .collect()
      .map(r => r.getInt(0) ->
        Option(r.getSeq[Long](1)).map(s => (s(0), s(1)))).toMap
    for ((id, _, want) <- cases) withClue(s"case $id:") { got(id) shouldBe want }
    // ops routing: the webm sniff reaches the kernel, and the sniffer
    // reports the EBML magic as 'webm'
    val out = graft.ops.Multimodal.withMediaDuration(
      graft.ops.Multimodal.withBinaryMeta(
        Seq((1, hdr ++ seg(scale2ms ++ durF32))).toDF("id", "payload"),
        "payload"),
      "payload").select("format", "media_dur_num", "media_dur_den").head()
    (out.getString(0), out.getLong(1), out.getLong(2)) shouldBe
      (("webm", 2000000000L, 1000000000L))
  }

  test("graft_isobmff_dims: primary-item resolution, fallback, wide ipma, largesize") {
    def be16b(v: Int): Array[Byte] = Array((v >> 8).toByte, v.toByte)
    def be32b(v: Long): Array[Byte] =
      Array((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    def box(t: String, body: Array[Byte]): Array[Byte] =
      be32b(body.length + 8L) ++ t.getBytes("ISO-8859-1") ++ body
    def full(t: String, body: Array[Byte], verflags: Array[Byte] = Array(0, 0, 0, 0)): Array[Byte] =
      box(t, verflags ++ body)
    def ispe(w: Long, h: Long): Array[Byte] = full("ispe", be32b(w) ++ be32b(h))
    def ftyp(brand: String): Array[Byte] =
      box("ftyp", brand.getBytes("ISO-8859-1") ++ be32b(0))
    val pasp = box("pasp", be32b(1) ++ be32b(1))
    // 1: minimal single-image file — no pitm/ipma, first-ispe fallback
    val minimal = ftyp("avif") ++
      full("meta", box("iprp", box("ipco", ispe(100, 50))))
    // 2: iPhone-shaped — decoy thumbnail ispe FIRST; pitm(item 1) +
    // ipma resolve to property 3 via a non-ispe property-2 skip
    val decoyed = ftyp("heic") ++ full("meta",
      full("pitm", be16b(1)) ++
        box("iprp",
          box("ipco", ispe(9, 7) ++ pasp ++ ispe(640, 480)) ++
            full("ipma", be32b(2) ++
              (be16b(2) ++ Array(1.toByte, 1.toByte)) ++ // item 2 → prop 1 (thumb)
              (be16b(1) ++ Array(2.toByte, 2.toByte, 3.toByte))))) // item 1 → props 2,3
    // 3: ipma BEFORE ipco inside iprp (box order is free)
    val reordered = ftyp("avif") ++ full("meta",
      full("pitm", be16b(1)) ++
        box("iprp",
          full("ipma", be32b(1) ++ (be16b(1) ++ Array(1.toByte, 2.toByte))) ++
            box("ipco", ispe(9, 7) ++ ispe(320, 200))))
    // 4: version-1 pitm (u32 item id) + flags-bit-0 ipma (15-bit indexes
    // with the essential bit set)
    val wide = ftyp("avif") ++ full("meta",
      full("pitm", be32b(7), verflags = Array(1, 0, 0, 0)) ++
        box("iprp",
          box("ipco", ispe(9, 7) ++ ispe(800, 600)) ++
            full("ipma",
              be32b(1) ++ (be32b(7) ++ Array(1.toByte) ++ be16b(0x8002)),
              verflags = Array(1, 0, 0, 1))))
    // 5: meta as a size==1 largesize box
    val metaBody = Array[Byte](0, 0, 0, 0) ++ box("iprp", box("ipco", ispe(12, 34)))
    val largesize = ftyp("avif") ++ be32b(1) ++ "meta".getBytes("ISO-8859-1") ++
      be32b(0) ++ be32b(metaBody.length + 16L) ++ metaBody
    // 6: adversarial — truncated ispe body; lying child size
    val tornIspe = ftyp("avif") ++
      full("meta", box("iprp", box("ipco", ispe(1, 2).dropRight(4))))
    val lying = ftyp("avif") ++ full("meta", box("iprp",
      box("ipco", be32b(0xFFFFFFFFL) ++ "ispe".getBytes("ISO-8859-1"))))
    val cases: Seq[(Int, Array[Byte], Option[(Long, Long)])] = Seq(
      (1, minimal, Some((100L, 50L))),
      (2, decoyed, Some((640L, 480L))),
      (3, reordered, Some((320L, 200L))),
      (4, wide, Some((800L, 600L))),
      (5, largesize, Some((12L, 34L))),
      (6, tornIspe, None),
      (7, lying, None),
      (8, "notftypatall----".getBytes("ISO-8859-1"), None),
      // the kernel is brand-agnostic (policy lives in the ops sniffer)
      (9, ftyp("isom") ++ full("meta",
        box("iprp", box("ipco", ispe(4, 5)))), Some((4L, 5L))))
    val got = cases.map { case (id, b, _) => (id, b) }.toDF("id", "payload")
      .select($"id", call_function(TilePairs.IsoBmffDimsName, $"payload").as("p"))
      .collect()
      .map(r => r.getInt(0) ->
        Option(r.getSeq[Long](1)).map(s => (s(0), s(1)))).toMap
    for ((id, _, want) <- cases) withClue(s"case $id:") { got(id) shouldBe want }
    // ops routing: avif/heic brands get dims; a VIDEO brand does not
    // (same box grammar, different format policy)
    val out = graft.ops.Multimodal.imageDims(
      Seq((1, minimal), (2, ftyp("isom") ++ full("meta",
        box("iprp", box("ipco", ispe(4, 5))))))
        .toDF("id", "payload"), "payload")
      .orderBy("id")
      .select("img_width", "img_height").collect()
    (out(0).getLong(0), out(0).getLong(1)) shouldBe ((100L, 50L))
    out(1).isNullAt(0) shouldBe true
    // and the sniffer refines the brands off the mp4 arm
    graft.ops.Multimodal.withBinaryMeta(
      Seq((1, minimal), (2, decoyed), (3, ftyp("isom")))
        .toDF("id", "payload"), "payload")
      .orderBy("id").select("format").collect()
      .map(_.getString(0)).toSeq shouldBe Seq("avif", "heic", "mp4")
  }

  test("graft_robots_verdict: first-match precedence, bit-parity with the HOF twin") {
    // precedence-sorted rules: longest first, allow before disallow on
    // ties — the kernel takes the FIRST match, exactly like the
    // pure-Column filter+get twin
    val rules = "array(" +
      "named_struct('nl', -12, 'kr', 0, 'pat', '^/private/ok'), " +
      "named_struct('nl', -9, 'kr', 1, 'pat', '^/private/'), " +
      "named_struct('nl', -6, 'kr', 1, 'pat', '^/tmp.*x$'), " +
      "named_struct('nl', -1, 'kr', 0, 'pat', CAST(NULL AS STRING)), " + // sentinel never matches
      "named_struct('nl', -1, 'kr', 1, 'pat', '^/exact$'))"
    val targets = Seq("/private/ok-page", "/private/secret", "/tmp123x",
      "/exact", "/exactly", "/none")
    val df = targets.toDF("t").selectExpr("t", s"$rules AS rules")
    val out = df.select($"t",
      call_function(TilePairs.RobotsVerdictName, $"t", $"rules").as("k"),
      graft.ops.Robots.robotsVerdictFallback($"t", $"rules").as("hof"))
      .collect()
      .map(r => r.getString(0) -> ((
        if (r.isNullAt(1)) None else Some(r.getInt(1)),
        if (r.isNullAt(2)) None else Some(r.getInt(2))))).toMap
    // kernel ≡ twin on every target
    out.values.foreach { case (k, h) => k shouldBe h }
    out("/private/ok-page")._1 shouldBe Some(0) // longer allow wins
    out("/private/secret")._1 shouldBe Some(1)
    out("/tmp123x")._1 shouldBe Some(1)
    out("/exact")._1 shouldBe Some(1)
    out("/exactly")._1 shouldBe None // the $ anchor holds
    out("/none")._1 shouldBe None
  }

  test("graft_mp3_tags: v2.2/v2.3/v2.4 sizes, encodings, lying frames, padding, ext header") {
    def hx(h: String): Array[Byte] =
      h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    def frame23(id: String, body: Array[Byte]): Array[Byte] =
      id.getBytes ++ hx(f"${body.length}%08X" + "0000") ++ body
    // v2.2 frame: 3-char id + plain BE u24 size, no flag bytes
    def frame22(id: String, body: Array[Byte]): Array[Byte] =
      id.getBytes ++ hx(f"${body.length}%06X") ++ body
    def tag(maj: Int, flags: Int, frames: Array[Byte]): Array[Byte] = {
      val s = frames.length
      "ID3".getBytes ++ Array(maj.toByte, 0.toByte, flags.toByte) ++
        Array(((s >> 21) & 0x7f).toByte, ((s >> 14) & 0x7f).toByte,
          ((s >> 7) & 0x7f).toByte, (s & 0x7f).toByte) ++ frames
    }
    def latin1(s: String): Array[Byte] = hx("00") ++ s.getBytes("ISO-8859-1")
    type R = Option[(Option[String], Option[String], Option[String])]
    val cases: Seq[(Int, Array[Byte], R)] = Seq(
      // v2.3 all three frames + trailing padding bytes (walk must stop)
      (1, tag(3, 0, frame23("TIT2", latin1("Song")) ++
        frame23("TPE1", latin1("Band")) ++ frame23("TALB", latin1("Disc")) ++
        new Array[Byte](12)),
        Some((Some("Song"), Some("Band"), Some("Disc")))),
      // v2.4: a 200-byte body whose size encodes DIFFERENTLY under
      // syncsafe (0x000001 0x48) vs plain u32 — a parser using the v2.3
      // rule misreads 328 and runs off the tag
      (2, tag(4, 0, "TIT2".getBytes ++ hx("00000148" + "0000") ++
        latin1("x" * 199)),
        Some((Some("x" * 199), None, None))),
      // lying frame size: the first frame survives, the walk stops there
      (3, tag(3, 0, frame23("TPE1", latin1("Kept")) ++
        "TIT2".getBytes ++ hx("7FFFFFFF" + "0000") ++ latin1("lost")),
        Some((None, Some("Kept"), None))),
      // encoding 1 without a BOM is malformed → that field NULL
      (4, tag(3, 0, frame23("TIT2", hx("01") ++ "NoBom".getBytes) ++
        frame23("TPE1", latin1("Ok"))),
        Some((None, Some("Ok"), None))),
      // UTF-16BE via encoding 2 (v2.4)
      (5, tag(4, 0, "TIT2".getBytes ++ hx("00000005" + "0000") ++
        hx("02" + "00420045")),
        Some((Some("BE"), None, None))),
      // v2.3 extended header (size EXCLUDES its own 4 bytes): 6 bytes
      // of ext data, then a normal frame
      (6, tag(3, 0x40, hx("00000006" + "000000000000") ++
        frame23("TALB", latin1("Ext"))),
        Some((None, None, Some("Ext")))),
      // unsynchronisation flag → NULL; no tag → NULL
      (7, tag(3, 0x80, frame23("TIT2", latin1("S"))), None),
      (9, hx("FFFB9000AAAA"), None),
      // v2.2: 3-char TT2/TP1/TAL ids, u24 sizes, stop at padding
      (10, tag(2, 0, frame22("TT2", latin1("Old")) ++
        frame22("TP1", latin1("Duo")) ++ frame22("TAL", latin1("LP")) ++
        new Array[Byte](6)),
        Some((Some("Old"), Some("Duo"), Some("LP")))),
      // v2.2 compression bit (0x40, scheme never defined) → NULL — it is
      // NOT the v2.3 extended-header flag
      (11, tag(2, 0x40, frame22("TT2", latin1("S"))), None),
      // v2.2 lying u24 size: first frame kept, walk stops
      (12, tag(2, 0, frame22("TP1", latin1("Keep")) ++
        "TT2".getBytes ++ hx("7FFFFF") ++ latin1("lost")),
        Some((None, Some("Keep"), None))))
    val got = cases.map { case (id, b, _) => (id, b) }.toDF("id", "payload")
      .select($"id", call_function(TilePairs.Mp3TagsName, $"payload").as("t"))
      .collect()
      .map { r =>
        val v = if (r.isNullAt(1)) None else {
          val s = r.getStruct(1)
          Some((Option(s.getString(0)), Option(s.getString(1)), Option(s.getString(2))))
        }
        r.getInt(0) -> v
      }.toMap
    for ((id, _, want) <- cases) withClue(s"case $id:") { got(id) shouldBe want }
    // the op appends the three columns
    val out = graft.ops.Multimodal.withMp3Tags(
      Seq((1, cases.head._2)).toDF("id", "payload"), "payload")
      .select("mp3_title", "mp3_artist", "mp3_album").head()
    (out.getString(0), out.getString(1), out.getString(2)) shouldBe
      (("Song", "Band", "Disc"))
  }

  test("graft_pdf_text: operators, escapes, Flate, filters, encryption, bomb cap") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.BinaryType
    val k = graft.functions.PdfText(Literal.create(null, BinaryType))
    def ext(b: Array[Byte]): Option[String] =
      Option(k.compute(b)).map(_.toString)
    def pdf(body: String): Array[Byte] =
      ("%PDF-1.7\n" + body + "\n%%EOF\n").getBytes("ISO-8859-1")
    def obj(dict: String, stream: String): String =
      s"1 0 obj\n<< $dict >>\nstream\n$stream\nendstream\nendobj"
    def deflate(s: String): Array[Byte] = {
      val d = new java.util.zip.Deflater()
      d.setInput(s.getBytes("ISO-8859-1")); d.finish()
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](4096)
      while (!d.finished()) { val m = d.deflate(buf); bos.write(buf, 0, m) }
      d.end(); bos.toByteArray
    }
    // escapes: \( \) \\ \n octal \101='A', line continuation, nested parens
    ext(pdf(obj("/Length 1",
      """BT (a\(b\)c \\ \n\101(nest)d) Tj ET"""))) shouldBe
      Some("a(b)c \\ \nA(nest)d")
    // hex strings: whitespace inside, odd final digit pads 0
    ext(pdf(obj("", "BT <48 65 6C6C 6F> Tj <7> Tj ET"))) shouldBe
      Some("Hellop") // 0x70 = 'p'
    // TJ array: kerning numbers must NOT clear the string operands;
    // Td/T*/' emit single newlines, never doubled or leading
    ext(pdf(obj("", "BT 9 0 Td [(A) -200 (B)] TJ T* T* (c) ' ET"))) shouldBe
      Some("AB\nc")
    // strings OUTSIDE a BT..ET block never emit
    ext(pdf(obj("", "(free) Tj BT (in) Tj ET"))) shouldBe Some("in")
    // an unknown operator consumes pending strings ((gone) belongs to Tz)
    ext(pdf(obj("", "BT (gone) Tz (kept) Tj ET"))) shouldBe Some("kept")
    // comments skip to EOL
    ext(pdf(obj("", "BT % comment (not text) Tj\n(real) Tj ET"))) shouldBe
      Some("real")
    // FlateDecode round trip + text objects across streams separate by \n
    val flateBytes =
      ("%PDF-1.5\n2 0 obj\n<< /Filter /FlateDecode >>\nstream\n").getBytes("ISO-8859-1") ++
        deflate("BT (first) Tj ET") ++
        ("\nendstream\nendobj\n" + obj("", "BT (second) Tj ET") + "\n%%EOF\n")
          .getBytes("ISO-8859-1")
    ext(flateBytes) shouldBe Some("first\nsecond")
    // unsupported filter skipped, later raw stream still extracted
    ext(pdf(obj("/Filter /DCTDecode", "BT (junk) Tj ET") + "\n" +
      obj("", "BT (ok) Tj ET"))) shouldBe Some("ok")
    // a Flate-chained image ([/FlateDecode /DCTDecode]) is still an image
    ext(pdf(obj("/Filter [/FlateDecode /DCTDecode]", "xx"))) shouldBe None
    // review pin: filter names are TOKEN-accurate — "/DCT" inside a
    // string VALUE of the stream dict cannot misclassify the stream
    ext(pdf(obj("/Length 16 /Subj (see /DCT art in C:/RL/x)",
      "BT (kept) Tj ET"))) shouldBe Some("kept")
    // review pin (r14 update: predictors now DE-PREDICT) — data that
    // merely DECLARES a PNG predictor but isn't predictor-coded hits the
    // invalid-filter-type guard ('B' = 0x42 is no PNG row filter) and the
    // stream is skipped, never tokenized as garbage
    ext(("%PDF-1.6\n7 0 obj\n<< /Filter /FlateDecode " +
      "/DecodeParms << /Predictor 12 /Columns 4 >> >>\nstream\n")
      .getBytes("ISO-8859-1") ++
      deflate("BT (junk) Tj ET") ++
      "\nendstream\nendobj\n%%EOF\n".getBytes("ISO-8859-1")) shouldBe None
    // an INDIRECT-reference /DecodeParms cannot be honored: skipped
    ext(("%PDF-1.6\n7 0 obj\n<< /Filter /FlateDecode " +
      "/DecodeParms 9 0 R >>\nstream\n")
      .getBytes("ISO-8859-1") ++
      deflate("BT (junk) Tj ET") ++
      "\nendstream\nendobj\n%%EOF\n".getBytes("ISO-8859-1")) shouldBe None
    // an indirect-reference /Filter cannot be resolved: skipped
    ext(pdf(obj("/Filter 9 0 R", "BT (x) Tj ET"))) shouldBe None
    // ASCIIHexDecode: whitespace between digits, > EOD, odd digit pads
    def toHex(s: String): String =
      s.getBytes("ISO-8859-1").map("%02X".format(_)).mkString
    ext(pdf(obj("/Filter /ASCIIHexDecode",
      toHex("BT (hex) Tj ET").grouped(4).mkString(" ") + ">"))) shouldBe
      Some("hex")
    ext(pdf(obj("/Filter /ASCIIHexDecode", "4QZ>"))) shouldBe None // bad digit
    // ASCII85Decode, incl. a partial final group and the z shortcut rule
    def a85(bytes: Array[Byte]): String = {
      val sb = new StringBuilder
      bytes.grouped(4).foreach { g =>
        var v = 0L
        g.padTo(4, 0.toByte).foreach(b => v = (v << 8) | (b & 0xff))
        val cs = (0 until 5).map(i =>
          ('!' + (v / math.pow(85, 4 - i).toLong % 85)).toChar)
        sb.append(cs.take(g.length + 1).mkString)
      }
      sb.append("~>").toString
    }
    ext(pdf(obj("/Filter /ASCII85Decode",
      a85("BT (eighty five) Tj ET".getBytes)))) shouldBe Some("eighty five")
    ext(pdf(obj("/Filter /ASCII85Decode", "z!~>"))) shouldBe None // lone char
    // filter CHAIN in declared order: flate-compressed, then a85 for the
    // 7-bit-safe transport — the classic email/PostScript wrapping
    ext(pdf(obj("/Filter [/ASCII85Decode /FlateDecode]",
      a85(deflate("BT (chained) Tj ET"))))) shouldBe Some("chained")
    // RunLengthDecode: literal runs + a repeat run + the 128 EOD; bytes
    // AFTER the EOD must not leak into the text
    def rleLit(x: String): Array[Byte] =
      Array((x.length - 1).toByte) ++ x.getBytes("ISO-8859-1")
    val rle = rleLit("BT (r") ++
      Array((257 - 4).toByte, 'l'.toByte) ++ // 'l' x 4, a repeat run
      rleLit("e) Tj ET") ++ Array(128.toByte) ++ "(junk) Tj".getBytes
    ext("%PDF-1.2\n5 0 obj\n<< /Filter /RunLengthDecode >>\nstream\n"
      .getBytes("ISO-8859-1") ++ rle ++
      "\nendstream\nendobj\n%%EOF\n".getBytes("ISO-8859-1")) shouldBe
      Some("rlllle")
    // /Encrypt wins even when a stream would parse; name-prefix immune
    ext(pdf("trailer\n<< /Encrypt 9 0 R >>\n" + obj("", "BT (s) Tj ET"))) shouldBe None
    ext(pdf("<< /EncryptMetadataX true >>\n" + obj("", "BT (s) Tj ET"))) shouldBe
      Some("s")
    // corrupt deflate data → stream skipped, not thrown
    ext(pdf(obj("/Filter /FlateDecode", "not deflate data"))) shouldBe None
    // zip bomb: a stream inflating past 16 MiB is skipped entirely
    ext("%PDF-1.7\n9 0 obj\n<< /Filter /FlateDecode >>\nstream\n"
      .getBytes("ISO-8859-1") ++
      deflate("BT (x) Tj ET" + new String(Array.fill(17 << 20)(' '))) ++
      "\nendstream\nendobj\n%%EOF\n".getBytes("ISO-8859-1")) shouldBe None
    // non-PDF and no-text PDFs are NULL
    ext("plain bytes".getBytes) shouldBe None
    ext(pdf(obj("", "no text operators here"))) shouldBe None
    // the op appends pdf_text
    val out = graft.ops.Multimodal.withPdfText(
      Seq((1, pdf(obj("", "BT (row) Tj ET")))).toDF("id", "payload"), "payload")
      .select("pdf_text").head().getString(0)
    out shouldBe "row"
  }

  test("graft_pdf_text: LZWDecode, predictors, /Length bounding, ToUnicode CMaps") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.BinaryType
    val k = graft.functions.PdfText(Literal.create(null, BinaryType))
    def ext(b: Array[Byte]): Option[String] =
      Option(k.compute(b)).map(_.toString)
    def pdf(body: String): Array[Byte] =
      ("%PDF-1.7\n" + body + "\n%%EOF\n").getBytes("ISO-8859-1")
    def deflate(b: Array[Byte]): Array[Byte] = {
      val d = new java.util.zip.Deflater()
      d.setInput(b); d.finish()
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](4096)
      while (!d.finished()) { val m = d.deflate(buf); bos.write(buf, 0, m) }
      d.end(); bos.toByteArray
    }
    // ---- LZW encoder mirroring the §7.4.4 decoder (test fixture) ----
    def lzwEncode(s: Array[Byte], early: Int): Array[Byte] = {
      // pass 1: the code sequence (dict keyed by the byte run as Latin-1)
      val dict = new java.util.HashMap[String, Integer]()
      var size = 258
      val codes = scala.collection.mutable.ArrayBuffer[Int](256) // clear
      var w = ""
      for (b <- s) {
        val wc = w + (b & 0xff).toChar
        val known = wc.length == 1 || dict.containsKey(wc)
        if (known) w = wc
        else {
          codes += (if (w.length == 1) w.charAt(0).toInt else dict.get(w).intValue())
          if (size < 4096) { dict.put(wc, size); size += 1 }
          w = wc.substring(wc.length - 1)
        }
      }
      if (w.nonEmpty)
        codes += (if (w.length == 1) w.charAt(0).toInt else dict.get(w).intValue())
      codes += 257 // EOD
      // pass 2: widths simulate the DECODER's table growth exactly
      val bos = new java.io.ByteArrayOutputStream()
      var bitBuf = 0L; var bitCnt = 0; var width = 9
      var dsize = 258; var prevSeen = false
      def put(c: Int): Unit = {
        bitBuf = (bitBuf << width) | c; bitCnt += width
        while (bitCnt >= 8) {
          bos.write(((bitBuf >>> (bitCnt - 8)) & 0xff).toInt); bitCnt -= 8
        }
      }
      for (c <- codes) {
        put(c)
        if (c == 256) { dsize = 258; width = 9; prevSeen = false }
        else if (c != 257) {
          if (prevSeen && dsize < 4096) {
            dsize += 1
            if (dsize + early >= (1 << width) && width < 12) width += 1
          }
          prevSeen = true
        }
      }
      if (bitCnt > 0) bos.write(((bitBuf << (8 - bitCnt)) & 0xff).toInt)
      bos.toByteArray
    }
    // short LZW stream round-trips
    ext(pdf("3 0 obj\n<< /Filter /LZWDecode >>\nstream\n")
      .dropRight(7) ++ // strip the %%EOF the helper appended mid-build
      lzwEncode("BT (lzw text) Tj ET".getBytes("ISO-8859-1"), 1) ++
      "\nendstream\nendobj\n%%EOF\n".getBytes("ISO-8859-1")) shouldBe
      Some("lzw text")
    // a LONG stream crosses the 9→10→11-bit width boundaries (the
    // EarlyChange timing would corrupt everything after code 510 if the
    // decoder lagged the encoder) and exercises the KwKwK case (runs)
    val long = ("BT (" + (0 until 400).map(i => s"tok$i").mkString(" ") +
      " aaaaaaaaaaaaaaaaaaaaaaaa) Tj ET").getBytes("ISO-8859-1")
    val wantLong = new String(long, "ISO-8859-1").drop(4).dropRight(7)
    def lzwPdf(early: Int, parms: String): Array[Byte] =
      ("%PDF-1.7\n3 0 obj\n<< /Filter /LZWDecode " + parms + ">>\nstream\n")
        .getBytes("ISO-8859-1") ++
        lzwEncode(long, early) ++
        "\nendstream\nendobj\n%%EOF\n".getBytes("ISO-8859-1")
    ext(lzwPdf(1, "")) shouldBe Some(wantLong)
    // /EarlyChange 0 shifts every width bump by one code
    ext(lzwPdf(0, "/DecodeParms << /EarlyChange 0 >> ")) shouldBe Some(wantLong)
    // mismatched EarlyChange must NOT round-trip the long stream (guards
    // against a decoder that ignores the parameter)
    ext(lzwPdf(0, "")) should not be Some(wantLong)
    // ---- predictors ----
    // PNG row filters: predict driver-side (Sub on row 0, Up after),
    // declare /Predictor 12 /Columns 8, deflate — the kernel must
    // de-predict after the inflate
    val content = "BT (png predicted rows go here!!) Tj ET" // 39 B
      .padTo(40, ' ').getBytes("ISO-8859-1") // 5 rows of 8
    def pngPredict(raw: Array[Byte], cols: Int): Array[Byte] = {
      val rows = raw.length / cols
      val out = new java.io.ByteArrayOutputStream()
      for (r <- 0 until rows) {
        val ft = if (r == 0) 1 else 2 // Sub, then Up
        out.write(ft)
        for (i <- 0 until cols) {
          val x = raw(r * cols + i) & 0xff
          val pred =
            if (ft == 1) (if (i > 0) raw(r * cols + i - 1) & 0xff else 0)
            else raw((r - 1) * cols + i) & 0xff
          out.write((x - pred) & 0xff)
        }
      }
      out.toByteArray
    }
    ext(("%PDF-1.7\n4 0 obj\n<< /Filter /FlateDecode " +
      "/DecodeParms << /Predictor 12 /Columns 8 >> >>\nstream\n")
      .getBytes("ISO-8859-1") ++
      deflate(pngPredict(content, 8)) ++
      "\nendstream\nendobj\n%%EOF\n".getBytes("ISO-8859-1")) shouldBe
      Some("png predicted rows go here!!")
    // Paeth + Average rows de-predict too
    def pngPredictAll(raw: Array[Byte], cols: Int): Array[Byte] = {
      val rows = raw.length / cols
      val out = new java.io.ByteArrayOutputStream()
      for (r <- 0 until rows) {
        val ft = Seq(0, 3, 4)(r % 3) // None, Average, Paeth
        out.write(ft)
        for (i <- 0 until cols) {
          val x = raw(r * cols + i) & 0xff
          val a = if (i > 0) raw(r * cols + i - 1) & 0xff else 0
          val b = if (r > 0) raw((r - 1) * cols + i) & 0xff else 0
          val c = if (i > 0 && r > 0) raw((r - 1) * cols + i - 1) & 0xff else 0
          val pred = ft match {
            case 0 => 0
            case 3 => (a + b) >> 1
            case 4 =>
              val p = a + b - c
              val (pa, pb, pc) = (math.abs(p - a), math.abs(p - b), math.abs(p - c))
              if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
          }
          out.write((x - pred) & 0xff)
        }
      }
      out.toByteArray
    }
    ext(("%PDF-1.7\n4 0 obj\n<< /Filter /FlateDecode " +
      "/DecodeParms << /Predictor 15 /Columns 8 >> >>\nstream\n")
      .getBytes("ISO-8859-1") ++
      deflate(pngPredictAll(content, 8)) ++
      "\nendstream\nendobj\n%%EOF\n".getBytes("ISO-8859-1")) shouldBe
      Some("png predicted rows go here!!")
    // TIFF horizontal differencing (Predictor 2, colors=1)
    def tiffPredict(raw: Array[Byte], cols: Int): Array[Byte] = {
      val rows = raw.length / cols
      val out = new Array[Byte](rows * cols)
      for (r <- 0 until rows; i <- 0 until cols) {
        val x = raw(r * cols + i) & 0xff
        val pred = if (i > 0) raw(r * cols + i - 1) & 0xff else 0
        out(r * cols + i) = ((x - pred) & 0xff).toByte
      }
      out
    }
    ext(("%PDF-1.7\n4 0 obj\n<< /Filter /FlateDecode " +
      "/DecodeParms << /Predictor 2 /Columns 8 >> >>\nstream\n")
      .getBytes("ISO-8859-1") ++
      deflate(tiffPredict(content, 8)) ++
      "\nendstream\nendobj\n%%EOF\n".getBytes("ISO-8859-1")) shouldBe
      Some("png predicted rows go here!!")
    // an LZW + predictor combination (the xref-stream shape)
    ext(("%PDF-1.7\n4 0 obj\n<< /Filter /LZWDecode " +
      "/DecodeParms << /Predictor 12 /Columns 8 >> >>\nstream\n")
      .getBytes("ISO-8859-1") ++
      lzwEncode(pngPredict(content, 8), 1) ++
      "\nendstream\nendobj\n%%EOF\n".getBytes("ISO-8859-1")) shouldBe
      Some("png predicted rows go here!!")
    // ---- /Length bounding (round-14 review) ----
    // stream DATA containing the word `endstream` must not truncate when
    // the declared direct /Length verifies
    val tricky = "BT (before endstream after) Tj ET"
    ext(pdf(s"5 0 obj\n<< /Length ${tricky.length} >>\nstream\n" + tricky +
      "\nendstream\nendobj")) shouldBe Some("before endstream after")
    // a LYING /Length (endstream does not verify there) falls back to the
    // byte scan — the pre-r14 behavior
    ext(pdf("5 0 obj\n<< /Length 4 >>\nstream\nBT (scanned) Tj ET" +
      "\nendstream\nendobj")) shouldBe Some("scanned")
    // ---- ToUnicode CMaps (composite fonts) ----
    val cmapStream =
      "/CIDInit /ProcSet findresource begin\nbegincmap\n" +
        "1 begincodespacerange <0000> <FFFF> endcodespacerange\n" +
        "2 beginbfchar <0003> <0043> <0004> <00490044> endbfchar\n" +
        "1 beginbfrange <0010> <0019> <0061> endbfrange\n" +
        "endcmap end"
    def cidPdf(contentOps: String): Array[Byte] = pdf(
      "1 0 obj\n<< /Type /Page /Resources << /Font << /FC 7 0 R /FP 9 0 R >> >> >>\nendobj\n" +
        "7 0 obj\n<< /Type /Font /Subtype /Type0 /ToUnicode 8 0 R >>\nendobj\n" +
        "9 0 obj\n<< /Type /Font /Subtype /Type1 >>\nendobj\n" +
        s"8 0 obj\n<< /Length ${cmapStream.length} >>\nstream\n" + cmapStream +
        "\nendstream\nendobj\n" +
        "2 0 obj\n<< >>\nstream\n" + contentOps + "\nendstream\nendobj")
    // bfchar singles + multi-char target + bfrange span, via hex strings
    ext(cidPdf("BT /FC 12 Tf <0003 0004 0010 0011 0019> Tj ET")) shouldBe
      Some("CIDabj")
    // an unmapped code emits U+FFFD (visibly wrong beats silently dropped)
    ext(cidPdf("BT /FC 12 Tf <0003 00FF> Tj ET")) shouldBe Some("C\uFFFD")
    // literal strings remap too (bytes are codes regardless of syntax)
    ext(cidPdf("BT /FC 12 Tf (\\000\\003\\000\\004) Tj ET")) shouldBe
      Some("CID")
    // Tf switches fonts mid-stream: /FP has no ToUnicode → Latin-1 read
    ext(cidPdf("BT /FC 12 Tf <0003> Tj /FP 12 Tf (plain) Tj ET")) shouldBe
      Some("Cplain")
    // a torn trailing half-code emits U+FFFD
    ext(cidPdf("BT /FC 12 Tf <000300> Tj ET")) shouldBe Some("C\uFFFD")
    // no /ToUnicode anywhere → the pre-r14 Latin-1 path, byte-identical
    ext(pdf("1 0 obj\n<< >>\nstream\nBT /F1 12 Tf <4142> Tj ET\nendstream\nendobj")) shouldBe
      Some("AB")
  }

  test("graft_pdf_text: per-page font-resource scoping (two pages, same /F1)") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.BinaryType
    val k = graft.functions.PdfText(Literal.create(null, BinaryType))
    def ext(b: Array[Byte]): Option[String] =
      Option(k.compute(b)).map(_.toString)
    def pdf(body: String): Array[Byte] =
      ("%PDF-1.7\n" + body + "\n%%EOF\n").getBytes("ISO-8859-1")
    def cmapObj(num: Int, code: String, target: String): String = {
      val s = "begincmap\n1 begincodespacerange <0000> <FFFF> endcodespacerange\n" +
        s"1 beginbfchar <$code> <$target> endbfchar\nendcmap"
      s"$num 0 obj\n<< /Length ${s.length} >>\nstream\n$s\nendstream\nendobj\n"
    }
    // page 1's /F1 maps 0041→'X' (0058); page 2's /F1 maps 0041→'Y'
    // (0059). Both content streams show <0041> under /F1 — a file-global
    // last-wins table would emit YY; per-page scoping emits XY.
    val twoPages = pdf(
      "trailer\n<< /Root 1 0 R >>\n" +
        "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n" +
        "2 0 obj\n<< /Type /Pages /Kids [3 0 R 4 0 R] >>\nendobj\n" +
        "3 0 obj\n<< /Type /Page /Resources << /Font << /F1 10 0 R >> >> " +
        "/Contents 5 0 R >>\nendobj\n" +
        "4 0 obj\n<< /Type /Page /Resources << /Font << /F1 11 0 R >> >> " +
        "/Contents 6 0 R >>\nendobj\n" +
        "10 0 obj\n<< /Type /Font /ToUnicode 20 0 R >>\nendobj\n" +
        "11 0 obj\n<< /Type /Font /ToUnicode 21 0 R >>\nendobj\n" +
        cmapObj(20, "0041", "0058") + cmapObj(21, "0041", "0059") +
        "5 0 obj\n<< >>\nstream\nBT /F1 12 Tf <0041> Tj ET\nendstream\nendobj\n" +
        "6 0 obj\n<< >>\nstream\nBT /F1 12 Tf <0041> Tj ET\nendstream\nendobj")
    ext(twoPages) shouldBe Some("X\nY")
    // /Resources INHERITED from the Pages node: the leaf carries none
    val inherited = pdf(
      "trailer\n<< /Root 1 0 R >>\n" +
        "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n" +
        "2 0 obj\n<< /Type /Pages /Kids [3 0 R] " +
        "/Resources << /Font << /F1 10 0 R >> >> >>\nendobj\n" +
        "3 0 obj\n<< /Type /Page /Contents 5 0 R >>\nendobj\n" +
        "10 0 obj\n<< /Type /Font /ToUnicode 20 0 R >>\nendobj\n" +
        cmapObj(20, "0041", "0058") +
        "5 0 obj\n<< >>\nstream\nBT /F1 12 Tf <0041> Tj ET\nendstream\nendobj")
    ext(inherited) shouldBe Some("X")
    // array-valued /Contents: both streams claim the page's table
    val arrContents = pdf(
      "trailer\n<< /Root 1 0 R >>\n" +
        "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n" +
        "2 0 obj\n<< /Type /Pages /Kids [3 0 R] >>\nendobj\n" +
        "3 0 obj\n<< /Type /Page /Resources << /Font << /F1 10 0 R >> >> " +
        "/Contents [5 0 R 6 0 R] >>\nendobj\n" +
        "10 0 obj\n<< /Type /Font /ToUnicode 20 0 R >>\nendobj\n" +
        cmapObj(20, "0041", "0058") +
        "5 0 obj\n<< >>\nstream\nBT /F1 12 Tf <0041> Tj ET\nendstream\nendobj\n" +
        "6 0 obj\n<< >>\nstream\nBT /F1 12 Tf <0041> Tj ET\nendstream\nendobj")
    ext(arrContents) shouldBe Some("X\nX")
    // a BROKEN tree (dangling /Pages ref) falls back to the file-global
    // last-wins table — the pre-r15 behavior, never a regression to NULL
    val broken = pdf(
      "trailer\n<< /Root 1 0 R >>\n" +
        "1 0 obj\n<< /Type /Catalog /Pages 99 0 R >>\nendobj\n" +
        "3 0 obj\n<< /Type /Page /Resources << /Font << /F1 10 0 R >> >> " +
        "/Contents 5 0 R >>\nendobj\n" +
        "10 0 obj\n<< /Type /Font /ToUnicode 20 0 R >>\nendobj\n" +
        cmapObj(20, "0041", "0058") +
        "5 0 obj\n<< >>\nstream\nBT /F1 12 Tf <0041> Tj ET\nendstream\nendobj")
    ext(broken) shouldBe Some("X")
    // a reference CYCLE in /Kids terminates (visited set), text intact
    val cyclic = pdf(
      "trailer\n<< /Root 1 0 R >>\n" +
        "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n" +
        "2 0 obj\n<< /Type /Pages /Kids [2 0 R 3 0 R] >>\nendobj\n" +
        "3 0 obj\n<< /Type /Page /Resources << /Font << /F1 10 0 R >> >> " +
        "/Contents 5 0 R >>\nendobj\n" +
        "10 0 obj\n<< /Type /Font /ToUnicode 20 0 R >>\nendobj\n" +
        cmapObj(20, "0041", "0058") +
        "5 0 obj\n<< >>\nstream\nBT /F1 12 Tf <0041> Tj ET\nendstream\nendobj")
    ext(cyclic) shouldBe Some("X")
  }

  test("graft_pdf_text/info: standard-security decryption with the EMPTY user password") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.BinaryType
    val kt = graft.functions.PdfText(Literal.create(null, BinaryType))
    val ki = graft.functions.PdfInfo(Literal.create(null, BinaryType))
    def ext(b: Array[Byte]): Option[String] =
      Option(kt.compute(b)).map(_.toString)
    def title(b: Array[Byte]): Option[String] = ki.compute(b) match {
      case null => None
      case r: org.apache.spark.sql.catalyst.expressions.GenericInternalRow =>
        if (r.isNullAt(0)) None else Some(r.getUTF8String(0).toString)
    }
    // ---- an INDEPENDENT writer-side implementation of §7.6.3 (the
    // kernel must round-trip against code it does not share) ----
    val pad = Array(0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41, 0x64, 0x00,
      0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08, 0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68,
      0x3E, 0x80, 0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A).map(_.toByte)
    def md5(xs: Array[Byte]): Array[Byte] =
      java.security.MessageDigest.getInstance("MD5").digest(xs)
    def rc4(key: Array[Byte], d: Array[Byte]): Array[Byte] = {
      val s = (0 until 256).toArray
      var j = 0
      for (i <- 0 until 256) {
        j = (j + s(i) + (key(i % key.length) & 0xff)) & 0xff
        val t = s(i); s(i) = s(j); s(j) = t
      }
      var x = 0; var y = 0
      d.map { c =>
        x = (x + 1) & 0xff; y = (y + s(x)) & 0xff
        val t = s(x); s(x) = s(y); s(y) = t
        (c ^ s((s(x) + s(y)) & 0xff)).toByte
      }
    }
    def padPwd(p: String): Array[Byte] =
      (p.getBytes("ISO-8859-1") ++ pad).take(32)
    def xorKey(k: Array[Byte], i: Int): Array[Byte] = k.map(b => (b ^ i).toByte)
    def computeO(owner: String, user: String, r: Int, kl: Int): Array[Byte] = {
      var h = md5(padPwd(owner))
      if (r >= 3) for (_ <- 0 until 50) h = md5(h)
      val ok = h.take(kl)
      var enc = rc4(ok, padPwd(user))
      if (r >= 3) for (i <- 1 to 19) enc = rc4(xorKey(ok, i), enc)
      enc
    }
    def le32(v: Int): Array[Byte] =
      Array(v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    def fileKey(o: Array[Byte], p: Int, id0: Array[Byte], r: Int, kl: Int,
        user: String, encMeta: Boolean): Array[Byte] = {
      val sfx = if (r >= 4 && !encMeta) Array.fill(4)(0xff.toByte)
        else Array.emptyByteArray
      var k = md5(padPwd(user) ++ o ++ le32(p) ++ id0 ++ sfx).take(kl)
      if (r >= 3) for (_ <- 0 until 50) k = md5(k).take(kl)
      k
    }
    def computeU(key: Array[Byte], id0: Array[Byte], r: Int): Array[Byte] =
      if (r == 2) rc4(key, pad)
      else {
        var enc = rc4(key, md5(pad ++ id0))
        for (i <- 1 to 19) enc = rc4(xorKey(key, i), enc)
        enc ++ Array.fill(16)(0xab.toByte) // arbitrary 16-byte tail per spec
      }
    def objKey(key: Array[Byte], num: Int, gen: Int, aes: Boolean): Array[Byte] = {
      val salt = if (aes) Array[Byte](0x73, 0x41, 0x6c, 0x54)
        else Array.emptyByteArray
      md5(key ++ Array(num.toByte, (num >> 8).toByte, (num >> 16).toByte,
        gen.toByte, (gen >> 8).toByte) ++ salt)
        .take(math.min(key.length + 5, 16))
    }
    def aesEnc(key16: Array[Byte], plain: Array[Byte]): Array[Byte] = {
      val iv = Array.tabulate(16)(i => (i * 17 + 3).toByte) // fixed, arbitrary
      val padN = 16 - (plain.length % 16)
      val padded = plain ++ Array.fill(padN)(padN.toByte)
      val c = javax.crypto.Cipher.getInstance("AES/CBC/NoPadding")
      c.init(javax.crypto.Cipher.ENCRYPT_MODE,
        new javax.crypto.spec.SecretKeySpec(key16, "AES"),
        new javax.crypto.spec.IvParameterSpec(iv))
      iv ++ c.doFinal(padded)
    }
    def hx(bs: Array[Byte]): String =
      "<" + bs.map("%02X".format(_)).mkString + ">"
    val id0 = Array.tabulate(16)(i => (i * 7 + 1).toByte)
    // one encrypted doc, parameterized over version/revision/cipher
    def encPdf(v: Int, r: Int, bits: Int, user: String, aes: Boolean,
        text: String, metaTitle: String, encMeta: Boolean = true,
        extraBody: String = "", cfIdentity: Boolean = false): Array[Byte] = {
      val kl = if (r == 2) 5 else bits / 8
      val o = computeO("own3r", user, r, kl)
      val key = fileKey(o, -3904, id0, r, kl, user, encMeta)
      val u = computeU(key, id0, r)
      def encFor(num: Int, data: Array[Byte]): Array[Byte] =
        if (aes) aesEnc(objKey(key, num, 0, aes = true), data)
        else rc4(objKey(key, num, 0, aes = false), data)
      val content = encFor(1, s"BT ($text) Tj ET".getBytes("ISO-8859-1"))
      val titleEnc = encFor(2, metaTitle.getBytes("ISO-8859-1"))
      val cf =
        if (v == 4) {
          val cfm = if (aes) "AESV2" else "V2"
          val f = if (cfIdentity) "Identity" else "StdCF"
          s" /CF << /StdCF << /CFM /$cfm /AuthEvent /DocOpen >> >>" +
            s" /StmF /$f /StrF /$f"
        } else ""
      val em = if (!encMeta) " /EncryptMetadata false" else ""
      val body =
        s"1 0 obj\n<< /Length ${content.length} >>\nstream\n" +
          new String(content.map(b => (b & 0xff).toChar)) +
          "\nendstream\nendobj\n" +
          s"2 0 obj\n<< /Title ${hx(titleEnc)} >>\nendobj\n" +
          extraBody +
          s"4 0 obj\n<< /Filter /Standard /V $v /R $r /Length $bits /P -3904" +
          s" /O ${hx(o)} /U ${hx(u)}$cf$em >>\nendobj\n" +
          s"trailer\n<< /Info 2 0 R /Encrypt 4 0 R /ID [${hx(id0)} ${hx(id0)}] >>"
      ("%PDF-1.6\n" + body + "\n%%EOF\n").toCharArray.map(_.toByte)
    }
    // RC4-40 / V1 R2
    val p40 = encPdf(1, 2, 40, "", aes = false, "forty bit secret", "T40")
    ext(p40) shouldBe Some("forty bit secret")
    title(p40) shouldBe Some("T40")
    // RC4-128 / V2 R3
    val p128 = encPdf(2, 3, 128, "", aes = false, "one two eight", "T128")
    ext(p128) shouldBe Some("one two eight")
    title(p128) shouldBe Some("T128")
    // /P written as the UNSIGNED 32-bit decimal (-3904 ≡ 4294963392):
    // some producers emit the bit mask that way; the two's-complement
    // fold must derive the same key (round-15 review)
    val pUnsigned = new String(p128.map(b => (b & 0xff).toChar))
      .replace("/P -3904", "/P 4294963392").toCharArray.map(_.toByte)
    ext(pUnsigned) shouldBe Some("one two eight")
    // AES-128-CBC / V4 R4 AESV2
    val paes = encPdf(4, 4, 128, "", aes = true, "aes secret", "TAES")
    ext(paes) shouldBe Some("aes secret")
    title(paes) shouldBe Some("TAES")
    // V4 with a /V2 (RC4) crypt filter
    val pv4rc4 = encPdf(4, 4, 128, "", aes = false, "v4 rc4", "TV4")
    ext(pv4rc4) shouldBe Some("v4 rc4")
    // EncryptMetadata false changes the key derivation (FFFFFFFF suffix)
    val pnm = encPdf(4, 4, 128, "", aes = false, "no meta key", "TNM",
      encMeta = false)
    ext(pnm) shouldBe Some("no meta key")
    // a REAL user password must stay NULL — never ciphertext
    val locked = encPdf(2, 3, 128, "s3cret", aes = false, "hidden", "TL")
    ext(locked) shouldBe None
    title(locked) shouldBe None
    // /Identity stream filter is out of scope → NULL; a V5 dict with
    // R3-SHAPED /U (32 bytes, no salts/UE) is malformed → NULL
    ext(encPdf(4, 4, 128, "", aes = true, "x", "T", cfIdentity = true)) shouldBe None
    ext(encPdf(5, 6, 256, "", aes = true, "x", "T")) shouldBe None
    // ---- AES-256 (V5): R6's Algorithm 2.B + R5's single SHA-256,
    // again via an INDEPENDENT writer-side implementation ----
    def sha(alg: String, xs: Array[Byte]): Array[Byte] =
      java.security.MessageDigest.getInstance(alg).digest(xs)
    def hash2B(pwd: Array[Byte], salt: Array[Byte], ud: Array[Byte]): Array[Byte] = {
      var k = sha("SHA-256", pwd ++ salt ++ ud)
      var e: Array[Byte] = null
      var i = 0
      var cont = true
      while (cont) {
        val k1 = Array.fill(64)(pwd ++ k ++ ud).flatten
        val c = javax.crypto.Cipher.getInstance("AES/CBC/NoPadding")
        c.init(javax.crypto.Cipher.ENCRYPT_MODE,
          new javax.crypto.spec.SecretKeySpec(k.take(16), "AES"),
          new javax.crypto.spec.IvParameterSpec(k.slice(16, 32)))
        e = c.doFinal(k1)
        k = (e.take(16).map(_ & 0xff).sum % 3) match {
          case 0 => sha("SHA-256", e)
          case 1 => sha("SHA-384", e)
          case _ => sha("SHA-512", e)
        }
        i += 1
        cont = i < 64 || (e(e.length - 1) & 0xff) > i - 32
      }
      k.take(32)
    }
    def aes256(key: Array[Byte], iv: Array[Byte], mode: Int,
        data: Array[Byte]): Array[Byte] = {
      val c = javax.crypto.Cipher.getInstance("AES/CBC/NoPadding")
      c.init(mode, new javax.crypto.spec.SecretKeySpec(key, "AES"),
        new javax.crypto.spec.IvParameterSpec(iv))
      c.doFinal(data)
    }
    def encPdfV5(r: Int, user: String, text: String, metaTitle: String): Array[Byte] = {
      val vs = Array.tabulate(8)(i => (i * 3 + 1).toByte)
      val ks = Array.tabulate(8)(i => (i * 5 + 2).toByte)
      val pwd = user.getBytes("UTF-8")
      val hashU = if (r == 5) sha("SHA-256", pwd ++ vs)
        else hash2B(pwd, vs, Array.emptyByteArray)
      val ik = if (r == 5) sha("SHA-256", pwd ++ ks)
        else hash2B(pwd, ks, Array.emptyByteArray)
      val fileKey = Array.tabulate(32)(i => (i * 7 + 13).toByte)
      val ue = aes256(ik, new Array[Byte](16),
        javax.crypto.Cipher.ENCRYPT_MODE, fileKey)
      val u48 = hashU ++ vs ++ ks
      val o48 = Array.fill[Byte](48)(0x5a)
      def encData(plain: Array[Byte]): Array[Byte] = {
        val iv = Array.tabulate(16)(i => (i * 13 + 5).toByte)
        val padN = 16 - (plain.length % 16)
        iv ++ aes256(fileKey, iv, javax.crypto.Cipher.ENCRYPT_MODE,
          plain ++ Array.fill(padN)(padN.toByte))
      }
      val content = encData(s"BT ($text) Tj ET".getBytes("ISO-8859-1"))
      val titleEnc = encData(metaTitle.getBytes("ISO-8859-1"))
      ("%PDF-2.0\n" +
        s"1 0 obj\n<< /Length ${content.length} >>\nstream\n" +
        new String(content.map(b => (b & 0xff).toChar)) +
        "\nendstream\nendobj\n" +
        s"2 0 obj\n<< /Title ${hx(titleEnc)} >>\nendobj\n" +
        s"4 0 obj\n<< /Filter /Standard /V 5 /R $r /Length 256 /P -3904" +
        s" /O ${hx(o48)} /U ${hx(u48)} /UE ${hx(ue)}" +
        s" /OE ${hx(Array.fill[Byte](32)(0))}" +
        " /CF << /StdCF << /CFM /AESV3 /AuthEvent /DocOpen >> >>" +
        " /StmF /StdCF /StrF /StdCF >>\nendobj\n" +
        s"trailer\n<< /Info 2 0 R /Encrypt 4 0 R /ID [${hx(id0)} ${hx(id0)}] >>" +
        "\n%%EOF\n").toCharArray.map(_.toByte)
    }
    val pr6 = encPdfV5(6, "", "aes two five six", "T256")
    ext(pr6) shouldBe Some("aes two five six")
    title(pr6) shouldBe Some("T256")
    val pr5 = encPdfV5(5, "", "r5 sha only", "T256r5")
    ext(pr5) shouldBe Some("r5 sha only")
    title(pr5) shouldBe Some("T256r5")
    // a real user password under R6 fails the U[0:32] check → NULL
    val lockedV5 = encPdfV5(6, "s3cret", "hidden", "TL6")
    ext(lockedV5) shouldBe None
    title(lockedV5) shouldBe None
    // a non-Standard handler → NULL (hand-built dict)
    val ns = ("%PDF-1.6\n4 0 obj\n<< /Filter /Custom /V 2 /R 3 /O <00> " +
      "/U <00> /P -1 >>\nendobj\ntrailer << /Encrypt 4 0 R >>\n%%EOF\n")
      .getBytes("ISO-8859-1")
    ext(ns) shouldBe None
    // ToUnicode CMap stream inside an encrypted doc: the CMap decrypts
    // with ITS object key and the remap still applies
    locally {
      val kl = 16
      val o = computeO("own3r", "", 3, kl)
      val key = fileKey(o, -3904, id0, 3, kl, "", encMeta = true)
      val u = computeU(key, id0, 3)
      val cmapPlain =
        "begincmap\n1 begincodespacerange <0000> <FFFF> endcodespacerange\n" +
          "1 beginbfchar <0041> <03A9> endbfchar\nendcmap"
      val cmapEnc = rc4(objKey(key, 8, 0, aes = false),
        cmapPlain.getBytes("ISO-8859-1"))
      val contentEnc = rc4(objKey(key, 2, 0, aes = false),
        "BT /FC 12 Tf <0041> Tj ET".getBytes("ISO-8859-1"))
      def raw(bs: Array[Byte]) = new String(bs.map(b => (b & 0xff).toChar))
      val doc = ("%PDF-1.6\n" +
        "1 0 obj\n<< /Resources << /Font << /FC 7 0 R >> >> >>\nendobj\n" +
        "7 0 obj\n<< /Type /Font /ToUnicode 8 0 R >>\nendobj\n" +
        s"8 0 obj\n<< /Length ${cmapEnc.length} >>\nstream\n" + raw(cmapEnc) +
        "\nendstream\nendobj\n" +
        s"2 0 obj\n<< /Length ${contentEnc.length} >>\nstream\n" +
        raw(contentEnc) + "\nendstream\nendobj\n" +
        s"4 0 obj\n<< /Filter /Standard /V 2 /R 3 /Length 128 /P -3904" +
        s" /O ${hx(o)} /U ${hx(u)} >>\nendobj\n" +
        s"trailer\n<< /Encrypt 4 0 R /ID [${hx(id0)} ${hx(id0)}] >>\n%%EOF\n")
        .toCharArray.map(_.toByte)
      ext(doc) shouldBe Some("Ω")
    }
    // XMP fallback under encryption: no /Info, the /Metadata stream is
    // CIPHERTEXT — the packet must be scanned in the DECRYPTED stream
    // (round-15 review: the raw scan alone saw only ciphertext)
    locally {
      val kl = 16
      val o = computeO("own3r", "", 3, kl)
      val key = fileKey(o, -3904, id0, 3, kl, "", encMeta = true)
      val u = computeU(key, id0, 3)
      val xmp = "<?xpacket begin=\"\"?><dc:title>EncXmp</dc:title>" +
        "<?xpacket end=\"w\"?>"
      val xenc = rc4(objKey(key, 3, 0, aes = false), xmp.getBytes("ISO-8859-1"))
      val doc = ("%PDF-1.6\n" +
        "1 0 obj\n<< /Type /Catalog /Metadata 3 0 R >>\nendobj\n" +
        s"3 0 obj\n<< /Type /Metadata /Length ${xenc.length} >>\nstream\n" +
        new String(xenc.map(b => (b & 0xff).toChar)) + "\nendstream\nendobj\n" +
        s"4 0 obj\n<< /Filter /Standard /V 2 /R 3 /Length 128 /P -3904" +
        s" /O ${hx(o)} /U ${hx(u)} >>\nendobj\n" +
        s"trailer\n<< /Root 1 0 R /Encrypt 4 0 R /ID [${hx(id0)} ${hx(id0)}] >>" +
        "\n%%EOF\n").toCharArray.map(_.toByte)
      title(doc) shouldBe Some("EncXmp")
    }
  }

  test("graft_pdf_info: last /Info wins, BOMs, indirect refs, token boundaries") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.BinaryType
    val k = graft.functions.PdfInfo(Literal.create(null, BinaryType))
    type R = Option[(Option[String], Option[String], Option[String],
      Option[String], Option[String])]
    def info(b: Array[Byte]): R = k.compute(b) match {
      case null => None
      case r: org.apache.spark.sql.catalyst.expressions.GenericInternalRow =>
        def f(i: Int) = if (r.isNullAt(i)) None else Some(r.getUTF8String(i).toString)
        Some((f(0), f(1), f(2), f(3), f(4)))
    }
    def pdf(body: String): Array[Byte] =
      ("%PDF-1.7\n" + body + "\n%%EOF\n").getBytes("ISO-8859-1")
    // incremental update: TWO trailers — the last /Info (obj 12) wins
    info(pdf(
      "9 0 obj\n<< /Title (OLD) >>\nendobj\n" +
        "12 0 obj\n<< /Title (New \\(v2\\)) /Author (Ann) /Creator (app) " +
        "/Producer (conv) /CreationDate (D:20260101120000Z) >>\nendobj\n" +
        "trailer\n<< /Info 9 0 R >>\n%%EOF\n" +
        "trailer\n<< /Info 12 0 R >>")) shouldBe
      Some((Some("New (v2)"), Some("Ann"), Some("app"), Some("conv"),
        Some("D:20260101120000Z")))
    // UTF-16BE BOM hex title, UTF-8 BOM literal author, plain hex creator,
    // INDIRECT-ref producer -> NULL field
    info(pdf(
      "3 0 obj\n<< /Title <FEFF005000E9> " +
        "/Author (ï»¿BÃ©) /Creator <4170> " +
        "/Producer 7 0 R >>\nendobj\ntrailer\n<< /Info 3 0 R >>")) shouldBe
      Some((Some("Pé"), Some("Bé"), Some("Ap"), None, None))
    // /Information must NOT satisfy the /Info token scan
    info(pdf(
      "3 0 obj\n<< /Title (x) >>\nendobj\n" +
        "trailer\n<< /Information 3 0 R >>")) shouldBe None
    // no /Info at all; Info ref to a MISSING object; empty Info dict
    info(pdf("1 0 obj\n<< /Type /Catalog >>\nendobj\ntrailer\n<< >>")) shouldBe None
    info(pdf("trailer\n<< /Info 42 0 R >>")) shouldBe None
    info(pdf("5 0 obj\n<< >>\nendobj\ntrailer\n<< /Info 5 0 R >>")) shouldBe
      Some((None, None, None, None, None))
    // generation must match: `5 1 obj` is not the target of `/Info 5 0 R`
    info(pdf("5 1 obj\n<< /Title (g1) >>\nendobj\ntrailer\n<< /Info 5 0 R >>")) shouldBe
      None
    // encrypted documents answer nothing (strings are ciphertext)
    info(pdf("3 0 obj\n<< /Title (s) >>\nendobj\n" +
      "trailer\n<< /Info 3 0 R /Encrypt 9 0 R >>")) shouldBe None
    info("not a pdf".getBytes) shouldBe None
    // review pin: a key name INSIDE a string value never shadows the real
    // key — the dict walk consumes string values atomically
    info(pdf("4 0 obj\n<< /Author (by /Title \\(fake\\)) /Title (Real) >>\n" +
      "endobj\ntrailer\n<< /Info 4 0 R >>")) shouldBe
      Some((Some("Real"), Some("by /Title (fake)"), None, None, None))
    info(pdf("4 0 obj\n<< /Author (see /Title below) /Title (Real) >>\n" +
      "endobj\ntrailer\n<< /Info 4 0 R >>")) shouldBe
      Some((Some("Real"), Some("see /Title below"), None, None, None))
    // review pin: a TORN literal is bounded by the dict — trailing file
    // bytes never leak into a metadata field
    val torn = info(pdf("4 0 obj\n<< /Title (abc >>\nendobj\n" +
      "SECRET TRAILING BYTES THAT MUST NOT LEAK\n" +
      "trailer\n<< /Info 4 0 R >>"))
    torn.isDefined shouldBe true
    torn.get._1.getOrElse("") should not include "SECRET"
    // a DUPLICATED key takes its LAST occurrence — ISO 32000 dict
    // semantics (round-14 review; the old walk kept the stale first)
    info(pdf("4 0 obj\n<< /Title (stale) /Title (fresh) >>\nendobj\n" +
      "trailer\n<< /Info 4 0 R >>")) shouldBe
      Some((Some("fresh"), None, None, None, None))
    // the op appends the five columns
    val out = graft.ops.Multimodal.withPdfInfo(
      Seq((1, pdf("2 0 obj\n<< /Title (t) /Producer (p) >>\nendobj\n" +
        "trailer\n<< /Info 2 0 R >>"))).toDF("id", "payload"), "payload")
      .select("pdf_title", "pdf_producer", "pdf_author").head()
    (out.getString(0), out.getString(1), out.isNullAt(2)) shouldBe (("t", "p", true))
  }

  test("graft_pdf_info: /Info inside compressed object streams (ObjStm)") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.BinaryType
    val k = graft.functions.PdfInfo(Literal.create(null, BinaryType))
    type R = Option[(Option[String], Option[String], Option[String],
      Option[String], Option[String])]
    def info(b: Array[Byte]): R = k.compute(b) match {
      case null => None
      case r: org.apache.spark.sql.catalyst.expressions.GenericInternalRow =>
        def f(i: Int) = if (r.isNullAt(i)) None else Some(r.getUTF8String(i).toString)
        Some((f(0), f(1), f(2), f(3), f(4)))
    }
    def deflate(s: String): Array[Byte] = {
      val d = new java.util.zip.Deflater()
      d.setInput(s.getBytes("ISO-8859-1")); d.finish()
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](4096)
      while (!d.finished()) { val m = d.deflate(buf); bos.write(buf, 0, m) }
      d.end(); bos.toByteArray
    }
    // an ObjStm holding members 20 (the Info dict) and 30 — the modern-
    // writer shape where the raw `N G obj` scan finds nothing
    def objStmPdf(members: String, first: Int, n: Int,
        infoRef: String = "/Info 20 0 R"): Array[Byte] =
      (s"%PDF-1.5\n21 0 obj\n<< /Type /ObjStm /N $n /First $first " +
        "/Filter /FlateDecode >>\nstream\n").getBytes("ISO-8859-1") ++
        deflate(members) ++
        ("\nendstream\nendobj\ntrailer\n<< /Root 1 0 R " + infoRef +
          " >>\nstartxref\n0\n%%EOF\n").getBytes("ISO-8859-1")
    val dict1 = "<< /Title (ObjStm title) /Producer (zipped) >>"
    val dict2 = "<< /Type /Catalog >>"
    val header = s"20 0 30 ${dict1.length + 1}\n"
    val body = header + dict1 + "\n" + dict2
    info(objStmPdf(body, header.length, 2)) shouldBe
      Some((Some("ObjStm title"), None, None, Some("zipped"), None))
    // the second member resolves too (offset arithmetic, not luck)
    info(objStmPdf(body, header.length, 2, infoRef = "/Info 30 0 R")) shouldBe
      Some((None, None, None, None, None)) // present-but-empty member dict
    // a member number NOT in the header → no Info (NULL row)
    info(objStmPdf(body, header.length, 2, infoRef = "/Info 99 0 R")) shouldBe None
    // a LATER raw `20 0 obj` supersedes the ObjStm member (last-wins
    // incremental-update rule: the visible object is authoritative)
    val updated = objStmPdf(body, header.length, 2) ++
      ("20 0 obj\n<< /Title (updated) >>\nendobj\n" +
        "trailer\n<< /Info 20 0 R >>\n%%EOF\n").getBytes("ISO-8859-1")
    info(updated) shouldBe Some((Some("updated"), None, None, None, None))
    // generation ≠ 0 never searches ObjStms (members are gen-0 by spec)
    info(objStmPdf(body, header.length, 2, infoRef = "/Info 20 1 R")) shouldBe None
    // a corrupt ObjStm stream answers nothing rather than throwing
    // (zlib header zeroed → the inflate fails, the /Info ref stays)
    val corrupt = objStmPdf(body, header.length, 2)
    val sAt = new String(corrupt, "ISO-8859-1").indexOf("stream\n") + 7
    corrupt(sAt) = 0; corrupt(sAt + 1) = 0
    info(corrupt) shouldBe None
    // ---- XMP packet fallback ----
    val xmp =
      "<?xpacket begin=\"\" id=\"W5M0MpCehiHzreSzNTczkc9d\"?>\n" +
        "<x:xmpmeta xmlns:x=\"adobe:ns:meta/\"><rdf:RDF>\n<rdf:Description>\n" +
        "<dc:title><rdf:Alt><rdf:li xml:lang=\"x-default\">XMP &amp; title" +
        "</rdf:li></rdf:Alt></dc:title>\n" +
        "<dc:creator><rdf:Seq><rdf:li>Xavier</rdf:li></rdf:Seq></dc:creator>\n" +
        "<xmp:CreatorTool>graft-x</xmp:CreatorTool>\n" +
        "<pdf:Producer>xmp-gen &#8212;v2</pdf:Producer>\n" +
        "<xmp:CreateDate>2026-01-02T03:04:05Z</xmp:CreateDate>\n" +
        "</rdf:Description></rdf:RDF></x:xmpmeta>\n<?xpacket end=\"w\"?>"
    def pdf(bodyStr: String): Array[Byte] =
      ("%PDF-1.7\n" + bodyStr + "\n%%EOF\n").getBytes("UTF-8")
    // XMP-only document (no /Info at all): the packet answers
    info(pdf("8 0 obj\n<< /Type /Metadata /Subtype /XML >>\nstream\n" + xmp +
      "\nendstream\nendobj\ntrailer\n<< /Root 1 0 R >>")) shouldBe
      Some((Some("XMP & title"), Some("Xavier"), Some("graft-x"),
        Some("xmp-gen —v2"), Some("2026-01-02T03:04:05Z")))
    // a DANGLING /Info ref also falls back to the packet
    info(pdf("8 0 obj\n<< >>\nstream\n" + xmp +
      "\nendstream\nendobj\ntrailer\n<< /Info 42 0 R >>")) shouldBe
      Some((Some("XMP & title"), Some("Xavier"), Some("graft-x"),
        Some("xmp-gen —v2"), Some("2026-01-02T03:04:05Z")))
    // a RESOLVED Info dict is authoritative — sources never mix
    info(pdf("3 0 obj\n<< /Title (DictTitle) >>\nendobj\n" +
      "8 0 obj\n<< >>\nstream\n" + xmp + "\nendstream\nendobj\n" +
      "trailer\n<< /Info 3 0 R >>")) shouldBe
      Some((Some("DictTitle"), None, None, None, None))
    // partial packets: an empty element yields NULL for that field only;
    // the simple non-rdf:li title form still reads
    info(pdf("9 0 obj\n<< >>\nstream\n<?xpacket begin=\"\"?>" +
      "<dc:title>Plain title</dc:title><dc:creator/>" +
      "<xmp:CreateDate>2025-12-31</xmp:CreateDate><?xpacket end=\"r\"?>" +
      "\nendstream\nendobj")) shouldBe
      Some((Some("Plain title"), None, None, None, Some("2025-12-31")))
    // a packet with no recognized field at all stays NULL
    info(pdf("9 0 obj\n<< >>\nstream\n<?xpacket begin=\"\"?>" +
      "<foo>bar</foo><?xpacket end=\"r\"?>\nendstream\nendobj")) shouldBe None
  }

  test("graft_exif_tags: ASCII tag rules — inline values, truncated offsets, lying counts") {
    def hx(h: String): Array[Byte] =
      h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    val sof = hx("FFC0000B08" + "0064" + "00C8" + "01011100")
    def app1(tiff: Array[Byte]): Array[Byte] = {
      val body = hx("457869660000") ++ tiff
      hx("FFE1") ++ Array(((body.length + 2) >> 8).toByte,
        ((body.length + 2) & 0xff).toByte) ++ body
    }
    // II, one INLINE make ("A1\0", count 3 ≤ 4 rides in the value field)
    val inline = hx("49492A0008000000" + "0100" +
      "0F01" + "0200" + "03000000") ++ "A1".getBytes ++ hx("0000") ++ hx("00000000")
    // II, model whose out-of-line offset runs past the segment → NULL field
    val oob = hx("49492A0008000000" + "0100" +
      "1001" + "0200" + "10000000" + "F0000000" + "00000000")
    // II, software with a LYING count (64k+) → NULL field
    val lying = hx("49492A0008000000" + "0100" +
      "3101" + "0200" + "01000100" + "1A000000" + "00000000")
    val cases: Seq[(Int, Array[Byte], Option[(Option[String], Option[String], Option[String])])] = Seq(
      (1, hx("FFD8") ++ app1(inline) ++ sof, Some((Some("A1"), None, None))),
      (2, hx("FFD8") ++ app1(oob) ++ sof, Some((None, None, None))),
      (3, hx("FFD8") ++ app1(lying) ++ sof, Some((None, None, None))),
      (4, hx("FFD8") ++ sof, None), // no EXIF
      (5, "not an image".getBytes("UTF-8"), None))
    val got = cases.map { case (id, b, _) => (id, b) }.toDF("id", "payload")
      .select($"id", call_function(TilePairs.ExifTagsName, $"payload").as("t"))
      .collect()
      .map { r =>
        val v = if (r.isNullAt(1)) None else {
          val s = r.getStruct(1)
          Some((Option(s.getString(0)), Option(s.getString(1)), Option(s.getString(2))))
        }
        r.getInt(0) -> v
      }.toMap
    for ((id, _, want) <- cases) withClue(s"case $id:") { got(id) shouldBe want }
  }

  test("graft_exif_orientation: IFD walk — both byte orders, decoys, malformed EXIF") {
    def hx(h: String): Array[Byte] =
      h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    val sof = hx("FFC0000B08" + "0064" + "00C8" + "01011100") // h=100, w=200
    def seg(marker: String, body: Array[Byte]): Array[Byte] =
      hx(marker) ++ Array(((body.length + 2) >> 8).toByte,
        ((body.length + 2) & 0xff).toByte) ++ body
    def app1(tiff: String): Array[Byte] =
      seg("FFE1", hx("457869660000") ++ hx(tiff))
    // II: decoy ImageWidth entry, then orientation 6
    val ii = "49492A0008000000" + "0200" +
      "00010300" + "01000000" + "E7030000" +
      "12010300" + "01000000" + "06000000" + "00000000"
    // MM: orientation 8 as the only entry
    val mm = "4D4D002A00000008" + "0001" +
      "01120003" + "00000001" + "00080000" + "00000000"
    // MM with an out-of-range value (9)
    val bad = "4D4D002A00000008" + "0001" +
      "01120003" + "00000001" + "00090000" + "00000000"
    // II where orientation is a LONG (type 4) — not the SHORT contract
    val wrongType = "49492A0008000000" + "0100" +
      "12010400" + "01000000" + "06000000" + "00000000"
    // IFD offset points past the segment
    val oob = "49492A00FF000000"
    val xmpApp1 = seg("FFE1",
      "http://ns.adobe.com/xap/1.0/ xmp payload".getBytes("UTF-8"))
    val cases: Seq[(Int, Array[Byte], Option[Int])] = Seq(
      (1, hx("FFD8") ++ app1(ii) ++ sof, Some(6)),
      (2, hx("FFD8") ++ app1(mm) ++ sof, Some(8)),
      (3, hx("FFD8") ++ app1(bad) ++ sof, None),
      (4, hx("FFD8") ++ app1(wrongType) ++ sof, None),
      (5, hx("FFD8") ++ app1(oob) ++ sof, None),
      // an XMP APP1 is not EXIF; with no EXIF APP1 anywhere → NULL
      (6, hx("FFD8") ++ xmpApp1 ++ sof, None),
      // XMP APP1 first, REAL EXIF APP1 second — the walk keeps going
      (7, hx("FFD8") ++ xmpApp1 ++ app1(mm) ++ sof, Some(8)),
      (8, hx("FFD8") ++ sof, None), // no APP1 at all
      (9, "not an image".getBytes("UTF-8"), None))
    val got = cases.map { case (id, b, _) => (id, b) }.toDF("id", "payload")
      .select($"id",
        call_function(TilePairs.ExifOrientationName, $"payload").as("o"))
      .collect()
      .map(r => r.getInt(0) ->
        (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
    for ((id, _, want) <- cases) withClue(s"case $id:") { got(id) shouldBe want }
    // the op composes: orientation 6 transposes the display dims
    val out = graft.ops.Multimodal.withExifOrientation(
      graft.ops.Multimodal.imageDims(
        Seq((1, hx("FFD8") ++ app1(ii) ++ sof)).toDF("id", "payload"),
        "payload"),
      "payload")
      .select("img_width", "img_height", "img_orientation",
        "display_width", "display_height").head()
    (out.getLong(0), out.getLong(1), out.getInt(2),
      out.getLong(3), out.getLong(4)) shouldBe ((200L, 100L, 6, 100L, 200L))
  }

  test("moment kernels skip null VECTORS but raise on null ELEMENTS") {
    // null vectors: not counted
    val vs = Seq(Some(Seq(1.0, 2.0)), None).toDF("e")
      .agg(call_function(TilePairs.VecSumName, $"e", lit(2)))
      .collect()(0).getSeq[Double](0)
    vs shouldBe Seq(1.0, 1.0, 2.0) // [count, sum_0, sum_1]
    // a null element inside a vector is corrupt input → loud
    val ragged = Seq(Seq[java.lang.Double](1.0, null)).toDF("e")
    val ex = intercept[Exception] {
      ragged.agg(call_function(TilePairs.VecSumName, $"e", lit(2))).collect()
    }
    ex.getMessage should include("null element")
    val ex2 = intercept[Exception] {
      ragged.agg(call_function(TilePairs.GramSumName, $"e", lit(2))).collect()
    }
    ex2.getMessage should include("null element")
  }
}
