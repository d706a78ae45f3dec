package graft

import org.apache.spark.sql.functions._
import graft.core._
import graft.errors.FeatureFactoryException._
import graft.ops.Multimodal
import graft.sources.Loader
import graft.transformers._

/** Round-2 additions: logging bootstrap, loader format dispatch, engine-error
  * passthrough, typed empty-column errors, and the ADVICE.md semantic fixes
  * (NaN-preserving drop, else-branch WoE, short-payload frame guard). */
class CoreExtrasSpec extends SparkSpec {
  import spark.implicits._

  test("Logging.enabledIn follows the reference's env rule") {
    Logging.enabledIn(Map.empty) shouldBe false
    Logging.enabledIn(Map("DEBUG_FEATURE_FACTORY" -> "")) shouldBe false
    Logging.enabledIn(Map("DEBUG_FEATURE_FACTORY" -> "0")) shouldBe false
    Logging.enabledIn(Map("DEBUG_FEATURE_FACTORY" -> "false")) shouldBe false
    Logging.enabledIn(Map("DEBUG_FEATURE_FACTORY" -> "true")) shouldBe true
    Logging.enabledIn(Map("DEBUG_FEATURE_FACTORY" -> "1")) shouldBe true
  }

  test("Loader routes parquet and rejects unknown extensions") {
    val df = Loader.load(spark, "/root/testdata/sf0.001/region.parquet")
    df.count() should be > 0L
    val e = intercept[UnsupportedFormat] {
      Loader.load(spark, "/tmp/whatever.avro")
    }
    e.getMessage should include("Unsupported file format")
    intercept[UnsupportedFormat](Loader.load(spark, "/tmp/noextension"))
  }

  test("Loader reads jsonl and txt; compression suffix routes on inner extension") {
    val j = java.nio.file.Files.createTempFile("graft", ".jsonl")
    java.nio.file.Files.writeString(j,
      """{"id": 1, "text": "hello"}
        |{"id": 2, "text": "world"}
        |""".stripMargin)
    val jdf = Loader.load(spark, j.toString)
    jdf.count() shouldBe 2
    jdf.columns.toSet shouldBe Set("id", "text")
    val t = java.nio.file.Files.createTempFile("graft", ".txt")
    java.nio.file.Files.writeString(t, "line one\nline two\n")
    val tdf = Loader.load(spark, t.toString)
    tdf.columns.toSeq shouldBe Seq("value")
    tdf.count() shouldBe 2
    // .jsonl.gz routes as jsonl and the reader decompresses it
    val gz = java.nio.file.Files.createTempFile("graft", ".jsonl.gz")
    val out = new java.util.zip.GZIPOutputStream(
      java.nio.file.Files.newOutputStream(gz))
    out.write("""{"id": 7, "text": "compressed"}""".getBytes("UTF-8"))
    out.close()
    val gdf = Loader.load(spark, gz.toString)
    gdf.count() shouldBe 1
    gdf.select("id").head().getLong(0) shouldBe 7L
    // a compression suffix on an unsupported inner extension still rejects
    intercept[UnsupportedFormat](Loader.load(spark, "/tmp/whatever.avro.gz"))
    // ORC round trips through the same dispatch, both directions
    val orc = java.nio.file.Files.createTempDirectory("graft_orc")
      .resolve("docs.orc").toString
    graft.sources.Writer.save(jdf, orc)
    val odf = Loader.load(spark, orc)
    odf.count() shouldBe 2
    odf.columns.toSet shouldBe Set("id", "text")
  }

  test("Loader reads CDX-J lines: typed fields, '-' status, blank/malformed lenient") {
    val lines =
      """com,example)/p?a=1 20260101000000 {"url": "https://example.com/p?a=1", "mime": "text/html", "status": "200", "digest": "sha1:AAA", "length": "512", "offset": "100", "filename": "a.warc"}
        |
        |com,example)/p?a=1 20260201000000 {"url": "https://example.com/p?a=1", "mime": "warc/revisit", "status": "-", "digest": "sha1:AAA", "length": "0", "offset": "700", "filename": "a.warc"}
        |garbage-without-json-block 20260101000000 not-json
        |""".stripMargin
    val d = java.nio.file.Files.createTempDirectory("graft_cdxj_t")
    java.nio.file.Files.write(d.resolve("idx.cdxj"), lines.getBytes("UTF-8"))
    val df = Loader.load(spark, d.resolve("idx.cdxj").toString)
    df.count() shouldBe 3 // blank dropped, malformed kept with NULLs
    val rows = df.orderBy("cdx_ts", "urlkey").collect()
    rows(0).getAs[String]("urlkey") shouldBe "com,example)/p?a=1"
    rows(0).getAs[Int]("status") shouldBe 200
    rows(0).getAs[Long]("length") shouldBe 512L
    rows(0).getAs[Long]("offset") shouldBe 100L
    rows(0).getAs[String]("filename") shouldBe "a.warc"
    rows(1).getAs[String]("urlkey") shouldBe "garbage-without-json-block"
    rows(1).getAs[String]("url") shouldBe null // quarantine filter target
    rows(2).getAs[String]("mime") shouldBe "warc/revisit"
    rows(2).isNullAt(rows(2).fieldIndex("status")) shouldBe true // '-' → NULL via try_cast
  }

  test("Loader.flooredScan: the floor decision follows a table rewritten in-process") {
    import org.apache.spark.sql.catalyst.plans.logical.Repartition
    val path = java.nio.file.Files.createTempDirectory("graft_floor_t")
      .resolve("t.parquet").toString
    // one file each time; hex digests barely compress, so bytes ∝ rows
    def write(rows: Long): Unit =
      spark.range(rows).selectExpr("id", "sha2(cast(id AS STRING), 256) AS h")
        .coalesce(1).write.mode("overwrite").parquet(path)
    def floored: Boolean = Loader.flooredScan(spark, "parquet", path, 4096L)
      .queryExecution.logical.collectFirst { case r: Repartition => r }.isDefined
    write(1) // below one task's bytes: no Exchange
    floored shouldBe false
    write(5000) // same path, now many tasks' bytes in one unsplit file
    floored shouldBe true
  }

  test("WARC write mirror: WET export round-trips through the reader; contract enforced") {
    import org.apache.spark.sql.functions._
    val docs = spark.range(7).selectExpr(
      "'conversion' AS warc_type",
      "concat('<urn:w:', id, '>') AS record_id",
      "concat('https://ex.com/', id) AS target_uri",
      "'2026-03-01T00:00:00Z' AS warc_date",
      "'text/plain' AS content_type",
      // CRLFCRLF INSIDE a payload must survive (Content-Length framing)
      "concat('body ', id, '\r\n\r\ntail ', id) AS payload")
      .repartition(3)
    val d = java.nio.file.Files.createTempDirectory("graft_warc_wr")
    val out = d.resolve("export.warc").toString
    graft.sources.Writer.save(docs, out)
    // one archive file per input partition
    new java.io.File(out).listFiles()
      .count(_.getName.endsWith(".warc")) shouldBe 3
    val back = Loader.load(spark, out)
    back.count() shouldBe 7
    val r = back.filter($"record_id" === "<urn:w:4>").head()
    r.getAs[String]("payload") shouldBe "body 4\r\n\r\ntail 4"
    r.getAs[String]("target_uri") shouldBe "https://ex.com/4"
    r.getAs[String]("warc_type") shouldBe "conversion"
    // optional digest column writes its header; null digest omits it
    val withDigest = docs.withColumn("payload_digest",
      when($"record_id" === "<urn:w:1>", lit("sha1:D1")))
    graft.sources.Writer.save(withDigest, out) // overwrite truncates
    val back2 = Loader.load(spark, out)
    back2.count() shouldBe 7
    back2.filter($"record_id" === "<urn:w:1>")
      .head().getAs[String]("payload_digest") shouldBe "sha1:D1"
    back2.filter($"payload_digest".isNotNull).count() shouldBe 1
    // contract: unexpected / missing / non-string columns are loud errors
    an[Exception] should be thrownBy
      graft.sources.Writer.save(docs.withColumn("extra", lit(1)), out)
    an[Exception] should be thrownBy
      graft.sources.Writer.save(docs.drop("warc_date"), out)
    an[Exception] should be thrownBy graft.sources.Writer.save(
      docs.withColumn("payload", lit(7)), out)
    an[Exception] should be thrownBy graft.sources.Writer.save(
      docs, d.resolve("x.warc.bz2").toString) // no WARC framing for bzip2
    // partitionBy has no hive layout in the warc/wet/cdxj branches —
    // rejected loudly instead of silently writing unpartitioned output
    an[Exception] should be thrownBy graft.sources.Writer.save(
      docs, out, partitionBy = Seq("warc_type"))
    // .warc.gz = member-per-record gzip + a side offsets.jsonl whose
    // compressed coordinates feed the ranged fetch — our own compressed
    // exports are random-accessible
    val gzOut = d.resolve("export.warc.gz").toString
    graft.sources.Writer.save(docs, gzOut)
    val gzBack = Loader.load(spark, gzOut)
    gzBack.count() shouldBe 7 // sequential multi-member inflate
    val offs = spark.read.json(gzOut + "/*.offsets.jsonl")
    offs.count() shouldBe 7
    val pick = offs.filter($"record_id" === "<urn:w:5>").head()
    val fetched5 = graft.sources.Loader.loadWarcRanges(spark,
      Seq((pick.getAs[String]("filename"), pick.getAs[Long]("offset"),
        pick.getAs[Long]("length")))).collect()
    fetched5.map(_.getAs[String]("record_id")).toSeq shouldBe Seq("<urn:w:5>")
    fetched5.head.getAs[String]("payload") shouldBe "body 5\r\n\r\ntail 5"
    // .warc.zst = frame-per-record zstd + the same offsets sidecar — the
    // write mirror of the round-13 zstd read path, random-accessible too
    val zstOut = d.resolve("export.warc.zst").toString
    graft.sources.Writer.save(docs, zstOut)
    val zstBack = Loader.load(spark, zstOut)
    zstBack.count() shouldBe 7 // sequential multi-frame decode
    zstBack.filter($"record_id" === "<urn:w:3>")
      .head().getAs[String]("payload") shouldBe "body 3\r\n\r\ntail 3"
    val zOffs = spark.read.json(zstOut + "/*.offsets.jsonl")
    zOffs.count() shouldBe 7
    val zPick = zOffs.filter($"record_id" === "<urn:w:6>").head()
    val zFetched = graft.sources.Loader.loadWarcRanges(spark,
      Seq((zPick.getAs[String]("filename"), zPick.getAs[Long]("offset"),
        zPick.getAs[Long]("length")))).collect()
    zFetched.map(_.getAs[String]("record_id")).toSeq shouldBe Seq("<urn:w:6>")
    zFetched.head.getAs[String]("payload") shouldBe "body 6\r\n\r\ntail 6"
  }

  test("WARC .zst: whole-file, frame-per-record + ranges, IIPC dictionary frame") {
    import com.github.luben.zstd.{Zstd, ZstdCompressCtx}
    def rec(id: Int, payload: String): Array[Byte] = {
      val p = payload.getBytes("UTF-8")
      (s"WARC/1.0\r\nWARC-Type: conversion\r\n" +
        s"WARC-Record-ID: <urn:z:$id>\r\n" +
        s"Content-Length: ${p.length}\r\n\r\n").getBytes("UTF-8") ++
        p ++ "\r\n\r\n".getBytes("UTF-8")
    }
    val recs = (0 until 5).map(i => rec(i, s"zst body $i"))
    val plain = recs.reduce(_ ++ _)
    val d = java.nio.file.Files.createTempDirectory("graft_warc_zst")
    // whole-file single frame: the magic sniff routes it, extension aside
    java.nio.file.Files.write(d.resolve("a.warc.zst"), Zstd.compress(plain))
    val a = Loader.load(spark, d.resolve("a.warc.zst").toString)
    a.count() shouldBe 5
    a.filter($"record_id" === "<urn:z:3>").head()
      .getAs[String]("payload") shouldBe "zst body 3"
    // frame-per-record (the random-accessible layout): sequential scan
    // walks the frames; a ranged fetch seeks a COMPRESSED frame offset
    // and re-sniffs the window — the cc-index convention, zstd edition
    val frames = recs.map(Zstd.compress)
    java.nio.file.Files.write(d.resolve("b.warc.zst"), frames.reduce(_ ++ _))
    Loader.load(spark, d.resolve("b.warc.zst").toString).count() shouldBe 5
    val off2 = frames.take(2).map(_.length.toLong).sum
    val got = graft.sources.Loader.loadWarcRanges(spark,
      Seq((d.resolve("b.warc.zst").toString, off2, frames(2).length.toLong)))
      .collect()
    got.map(_.getAs[String]("record_id")).toSeq shouldBe Seq("<urn:z:2>")
    got.head.getAs[String]("payload") shouldBe "zst body 2"
    // IIPC dictionary convention: leading skippable frame carries the
    // shared dict; content frames only decode WITH it
    val dict = ("graft shared zstd dictionary block " * 8).getBytes("UTF-8")
    def skippable(content: Array[Byte]): Array[Byte] = {
      val h = java.nio.ByteBuffer.allocate(8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      h.putInt(0x184D2A5D); h.putInt(content.length)
      h.array() ++ content
    }
    val cctx = new ZstdCompressCtx()
    cctx.loadDict(dict)
    val dictFrames = recs.map(r => cctx.compress(r)).reduce(_ ++ _)
    java.nio.file.Files.write(d.resolve("c.warc.zst"), skippable(dict) ++ dictFrames)
    val c = Loader.load(spark, d.resolve("c.warc.zst").toString)
    c.count() shouldBe 5
    c.filter($"record_id" === "<urn:z:4>").head()
      .getAs[String]("payload") shouldBe "zst body 4"
    // the dictionary itself may arrive zstd-compressed inside the frame
    java.nio.file.Files.write(d.resolve("e.warc.zst"),
      skippable(Zstd.compress(dict)) ++ dictFrames)
    Loader.load(spark, d.resolve("e.warc.zst").toString).count() shouldBe 5
    // a lying dictionary-frame size fails LOUDLY, never a silent empty scan
    val lying = java.nio.ByteBuffer.allocate(8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(0x184D2A5D).putInt(200 << 20).array()
    java.nio.file.Files.write(d.resolve("f.warc.zst"), lying)
    an[Exception] should be thrownBy
      Loader.load(spark, d.resolve("f.warc.zst").toString).collect()
  }

  test("WARC record offsets are exact; ranged fetch seeks plain files and gzip members") {
    def rec(id: Int, payload: String): Array[Byte] = {
      val p = payload.getBytes("UTF-8")
      (s"WARC/1.0\r\nWARC-Type: conversion\r\n" +
        s"WARC-Record-ID: <urn:t:$id>\r\n" +
        s"Content-Length: ${p.length}\r\n\r\n").getBytes("UTF-8") ++
        p ++ "\r\n\r\n".getBytes("UTF-8")
    }
    val (r1, r2, r3) = (rec(1, "hello world"), rec(2, "second record here"), rec(3, "third"))
    val d = java.nio.file.Files.createTempDirectory("graft_warc_rng")
    val plain = d.resolve("a.warc")
    java.nio.file.Files.write(plain, r1 ++ r2 ++ r3)
    val full = Loader.load(spark, plain.toString).orderBy("record_index").collect()
    // offsets are exact FILE positions; length excludes the \r\n\r\n separator
    full.map(_.getAs[Long]("record_offset")).toSeq shouldBe
      Seq(0L, r1.length.toLong, (r1.length + r2.length).toLong)
    full.map(_.getAs[Long]("record_length")).toSeq shouldBe
      Seq(r1.length - 4L, r2.length - 4L, r3.length - 4L)
    // the pruned projection reports identical coordinates (framing-derived)
    Loader.load(spark, plain.toString)
      .select("record_offset", "record_length").orderBy("record_offset")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq shouldBe
      full.map(r => (r.getAs[Long]("record_offset"), r.getAs[Long]("record_length"))).toSeq
    // ranged fetch: exactly the middle record, with true file coordinates
    val got = graft.sources.Loader.loadWarcRanges(spark,
      Seq((plain.toString, r1.length.toLong, r2.length - 4L))).collect()
    got.length shouldBe 1
    got(0).getAs[String]("record_id") shouldBe "<urn:t:2>"
    got(0).getAs[String]("payload") shouldBe "second record here"
    got(0).getAs[Long]("record_offset") shouldBe r1.length.toLong
    // gzip member-per-record (the cc-index layout): offset = COMPRESSED
    // member start; each range window re-sniffs the magic
    def gzip(b: Array[Byte]): Array[Byte] = {
      val bo = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bo)
      g.write(b); g.close(); bo.toByteArray
    }
    val (m1, m2) = (gzip(r1), gzip(r2))
    val gz = d.resolve("b.warc.gz")
    java.nio.file.Files.write(gz, m1 ++ m2)
    val gotGz = graft.sources.Loader.loadWarcRanges(spark,
      Seq((gz.toString, m1.length.toLong, m2.length.toLong))).collect()
    gotGz.length shouldBe 1
    gotGz(0).getAs[String]("record_id") shouldBe "<urn:t:2>"
    gotGz(0).getAs[String]("payload") shouldBe "second record here"
    // two ranges over one file = one task, offset order; both come back
    graft.sources.Loader.loadWarcRanges(spark,
      Seq((plain.toString, (r1.length + r2.length).toLong, r3.length - 4L),
        (plain.toString, 0L, r1.length - 4L)))
      .orderBy("record_offset").collect()
      .map(_.getAs[String]("record_id")).toSeq shouldBe
      Seq("<urn:t:1>", "<urn:t:3>")
    // LENIENT ranges: a stale entry (offset past EOF, a mid-record seek)
    // yields zero rows for THAT range; the good range still fetches
    graft.sources.Loader.loadWarcRanges(spark,
      Seq((plain.toString, 1000000L, 100L), // past EOF
        (plain.toString, 5L, 40L), // mid-record: no version line
        (plain.toString, 0L, r1.length - 4L)))
      .collect().map(_.getAs[String]("record_id")).toSeq shouldBe
      Seq("<urn:t:1>")
    // MALFORMED ranges entries are LOUD, not silently dropped: a pair, a
    // float offset, and string-typed numbers each throw InvalidParameter
    // at the raw-option layer (the typed loadWarcRanges API can't build
    // them; a hand-written index lookup could)
    for (bad <- Seq(
        s"""[["$plain", 0]]""", // pair, not triple
        s"""[["$plain", 0.5, 10]]""", // float offset
        s"""[["$plain", "0", "10"]]""")) { // string-typed numbers
      val e = intercept[Exception] {
        spark.read.format("graft-warc").option("ranges", bad).load().collect()
      }
      e.getMessage should include("malformed ranges entry")
    }
  }

  test("Writer CDX-J mirror: save→load round trip, NULL status as '-', gzip variant") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("urlkey", StringType), StructField("cdx_ts", StringType),
      StructField("url", StringType), StructField("mime", StringType),
      StructField("status", IntegerType), StructField("digest", StringType),
      StructField("length", LongType), StructField("offset", LongType),
      StructField("filename", StringType)))
    val rows = Seq(
      org.apache.spark.sql.Row("com,example)/p?a=1", "20260101000000",
        "https://example.com/p?a=1", "text/html", 200, "sha1:AAA",
        512L, 100L, "a.warc"),
      org.apache.spark.sql.Row("com,example)/p?a=1", "20260201000000",
        "https://example.com/p?a=1", "warc/revisit", null, "sha1:AAA",
        0L, 700L, "a.warc"))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
    def roundTrip(path: String): Unit = {
      graft.sources.Writer.save(df, path)
      val back = Loader.load(spark, path)
      back.columns.toSeq shouldBe df.columns.toSeq
      back.orderBy("cdx_ts").collect().toSeq shouldBe
        df.orderBy("cdx_ts").collect().toSeq
    }
    val d = java.nio.file.Files.createTempDirectory("graft_cdxj_w")
    roundTrip(d.resolve("out.cdxj").toString)
    roundTrip(d.resolve("out2.cdxj.gz").toString) // codec via suffix
    // SORTED export: part files in name order form one globally ordered
    // index (range partition + within-file sort), still load-compatible
    import org.apache.spark.sql.functions.{col, concat_ws, lit}
    val many = spark.range(100).selectExpr(
      "concat('com,site', cast(xxhash64(id) % 50 as string), ')/p') AS urlkey",
      "concat('2026010100000', cast(id % 10 as string)) AS cdx_ts",
      "concat('https://x/', id) AS url", "'text/html' AS mime",
      "cast(200 as int) AS status", "'sha1:X' AS digest",
      "cast(10 as bigint) AS length", "cast(0 as bigint) AS offset",
      "'a.warc' AS filename")
    val sd = d.resolve("sorted.cdxj").toString
    graft.sources.Writer.writeCdxjSorted(many, sd, numPartitions = 4)
    val files = new java.io.File(sd).listFiles()
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    files.length should be >= 2
    val keysInFileOrder = files.flatMap(f =>
      scala.io.Source.fromFile(f, "UTF-8").getLines().toList
        .filter(_.nonEmpty).map(_.split(" ", 3).take(2).mkString(" ")))
    keysInFileOrder.toSeq shouldBe keysInFileOrder.sorted.toSeq // global order
    val back = Loader.load(spark, sd) // dir ends .cdxj → parses as index
    back.count() shouldBe 100L
    back.select("status").distinct().head().getInt(0) shouldBe 200
  }

  test("Loader reads WARC/WET records: headers, payload framing, gzip, torn tail") {
    def rec(id: Int, uri: Option[String], payload: String): Array[Byte] = {
      val p = payload.getBytes("UTF-8")
      (s"WARC/1.0\r\nWARC-Type: conversion\r\n" +
        s"WARC-Record-ID: <urn:t:$id>\r\n" +
        uri.map(u => s"WARC-Target-URI: $u\r\n").getOrElse("") +
        s"Content-Length: ${p.length}\r\n\r\n").getBytes("UTF-8") ++
        p ++ "\r\n\r\n".getBytes("UTF-8")
    }
    // payload 2 embeds CRLFCRLF — only Content-Length framing parses it
    val bytes = rec(1, Some("http://a/x"), "hello world") ++
      rec(2, None, "line one\r\n\r\nline two") ++
      rec(3, Some("http://c/z"), "tail")
    val d = java.nio.file.Files.createTempDirectory("graft_warc_t")
    java.nio.file.Files.write(d.resolve("a.warc"), bytes)
    val df = Loader.load(spark, d.resolve("a.warc").toString)
    df.count() shouldBe 3
    val rows = df.orderBy("record_index").collect()
    rows.map(_.getAs[String]("record_id")).toSeq shouldBe
      Seq("<urn:t:1>", "<urn:t:2>", "<urn:t:3>")
    rows(0).getAs[String]("target_uri") shouldBe "http://a/x"
    rows(1).getAs[String]("target_uri") shouldBe null // absent header → NULL
    rows(1).getAs[String]("payload") shouldBe "line one\r\n\r\nline two"
    rows(1).getAs[Long]("content_length") shouldBe 20L
    rows.foreach(_.getAs[String]("warc_type") shouldBe "conversion")
    // gzip (.wet.gz routes here too) — including MULTI-member streams,
    // Common Crawl's member-per-record framing
    def gzip(b: Array[Byte]): Array[Byte] = {
      val bo = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bo)
      g.write(b); g.close(); bo.toByteArray
    }
    java.nio.file.Files.write(d.resolve("b.wet.gz"),
      gzip(rec(1, Some("http://a/x"), "hello world")) ++
        gzip(rec(2, None, "line one\r\n\r\nline two") ++ rec(3, Some("http://c/z"), "tail")))
    val gz = Loader.load(spark, d.resolve("b.wet.gz").toString)
    gz.count() shouldBe 3
    gz.orderBy("record_index").collect().map(_.getAs[String]("record_id")).toSeq shouldBe
      Seq("<urn:t:1>", "<urn:t:2>", "<urn:t:3>")
    // a torn trailing record (declared length > remaining bytes) drops,
    // the intact prefix survives — ingest must not abort on one bad file
    java.nio.file.Files.write(d.resolve("c.warc"),
      rec(1, None, "ok") ++
        "WARC/1.0\r\nContent-Length: 9999\r\n\r\nshort".getBytes("UTF-8"))
    val torn = Loader.load(spark, d.resolve("c.warc").toString)
    torn.count() shouldBe 1
    torn.head().getAs[String]("payload") shouldBe "ok"
    // an OVERSIZED record skips identically in both projection modes —
    // row counts and record order must never depend on the projection
    val overBytes = rec(1, None, "ok") ++ rec(2, None, "toolarge") ++
      rec(3, None, "ok2")
    def overRecs(decode: Boolean) = {
      val it = new graft.sources.warc.WarcRecordIterator(
        new java.io.ByteArrayInputStream(overBytes),
        decodePayload = decode, maxPayloadBytes = 4L)
      it.toSeq.map(r => (r.recordId, r.contentLength))
    }
    overRecs(decode = true) shouldBe Seq(("<urn:t:1>", 2L), ("<urn:t:3>", 3L))
    overRecs(decode = false) shouldBe overRecs(decode = true)
    // column pruning pushes into the scan: a metadata-only projection
    // reads a payload-free schema (the reader then skips payload bytes
    // instead of decoding them)
    val pruned = Loader.load(spark, d.resolve("a.warc").toString)
      .select("record_id", "content_length")
    val scanCols = pruned.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.output.map(_.name)
    }.flatten
    scanCols should contain allOf ("record_id", "content_length")
    scanCols should not contain "payload"
    pruned.orderBy("record_id").collect().map(r =>
      (r.getString(0), r.getLong(1))).toSeq shouldBe
      Seq(("<urn:t:1>", 11L), ("<urn:t:2>", 20L), ("<urn:t:3>", 4L))
  }

  test("WARC response records strip the HTTP envelope (status, content-type, gzip body)") {
    def gzip(b: Array[Byte]): Array[Byte] = {
      val bo = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bo)
      g.write(b); g.close(); bo.toByteArray
    }
    def rec(id: Int, warcCt: String, payload: Array[Byte]): Array[Byte] =
      (s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: <urn:h:$id>\r\n" +
        s"Content-Type: $warcCt\r\nContent-Length: ${payload.length}\r\n\r\n")
        .getBytes("UTF-8") ++ payload ++ "\r\n\r\n".getBytes("UTF-8")
    def http(status: String, headers: String, body: Array[Byte]): Array[Byte] =
      (status + "\r\n" + headers + "\r\n").getBytes("UTF-8") ++ body
    val httpCt = "application/http; msgtype=response"
    val gzBody = gzip("<p>compressed page</p>".getBytes("UTF-8"))
    val truncatedGz = gzBody.take(gzBody.length - 6)
    val bytes =
      // 1: plain response — envelope stripped, status + HTTP ct surfaced
      rec(1, httpCt, http("HTTP/1.1 200 OK",
        "Content-Type: text/html; charset=UTF-8\r\nServer: x\r\n",
        "<p>plain page</p>".getBytes("UTF-8"))) ++
      // 2: gzip content-coded body — inflated transparently
      rec(2, httpCt, http("HTTP/1.1 404 Not Found",
        s"Content-Type: text/html\r\nContent-Encoding: gzip\r\nContent-Length: ${gzBody.length}\r\n",
        gzBody)) ++
      // 3: request record — application/http but no HTTP/ status line
      rec(3, "application/http; msgtype=request", http("GET /x HTTP/1.1",
        "Host: a\r\n", Array.empty[Byte])) ++
      // 4: non-http conversion record — untouched, nulls
      (s"WARC/1.0\r\nWARC-Type: conversion\r\nWARC-Record-ID: <urn:h:4>\r\n" +
        "Content-Type: text/plain\r\nContent-Length: 5\r\n\r\nplain\r\n\r\n")
        .getBytes("UTF-8") ++
      // 5: malformed http payload (no blank line) — verbatim, null status
      rec(5, httpCt, "HTTP/1.1 200 OK\r\nbroken".getBytes("UTF-8")) ++
      // 6: truncated gzip body — lenient raw-bytes fallback, not an abort
      rec(6, httpCt, http("HTTP/1.1 200 OK",
        "Content-Encoding: gzip\r\n", truncatedGz))
    val d = java.nio.file.Files.createTempDirectory("graft_warc_http")
    java.nio.file.Files.write(d.resolve("h.warc"), bytes)
    val rows = Loader.load(spark, d.resolve("h.warc").toString)
      .orderBy("record_index").collect()
    rows.length shouldBe 6
    def st(i: Int): AnyRef =
      rows(i).getAs[Any]("http_status").asInstanceOf[AnyRef]
    rows(0).getAs[String]("payload") shouldBe "<p>plain page</p>"
    st(0) shouldBe 200
    rows(0).getAs[String]("http_content_type") shouldBe "text/html; charset=UTF-8"
    rows(1).getAs[String]("payload") shouldBe "<p>compressed page</p>"
    st(1) shouldBe 404
    rows(1).getAs[String]("http_content_type") shouldBe "text/html"
    st(2) shouldBe null // request line is not a status line
    rows(2).getAs[String]("payload") shouldBe ""
    st(3) shouldBe null
    rows(3).getAs[String]("payload") shouldBe "plain"
    rows(3).getAs[String]("http_content_type") shouldBe null
    st(4) shouldBe null
    rows(4).getAs[String]("payload") shouldBe "HTTP/1.1 200 OK\r\nbroken"
    st(5) shouldBe 200
    // the raw (still-compressed) bytes survive, re-decoded as UTF-8
    rows(5).getAs[String]("payload") should not be "<p>compressed page</p>"
    rows(5).getAs[String]("payload").length should be > 0
    // content_length stays the DECLARED record length (envelope included)
    rows(0).getAs[Long]("content_length") shouldBe
      ("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=UTF-8\r\nServer: x\r\n\r\n" +
        "<p>plain page</p>").getBytes("UTF-8").length.toLong
    // a nested crawl layout (root/<segment>/wet/x.warc) expands
    // RECURSIVELY — partial ingest of a segmented directory tree must be
    // impossible; _/.-prefixed names skip at every level
    val root = java.nio.file.Files.createTempDirectory("graft_warc_tree")
    val leaf = root.resolve("seg-00").resolve("wet")
    java.nio.file.Files.createDirectories(leaf)
    java.nio.file.Files.createDirectories(root.resolve("_tmp"))
    java.nio.file.Files.write(leaf.resolve("x.warc"), bytes)
    java.nio.file.Files.write(root.resolve("_tmp").resolve("y.warc"), bytes)
    spark.read.format("graft-warc").load(root.toString).count() shouldBe 6
  }

  test("WARC payloads decode under their DECLARED charset (header, meta sniff, fallbacks)") {
    def rec(id: Int, warcCt: String, warcType: String, payload: Array[Byte]): Array[Byte] =
      (s"WARC/1.0\r\nWARC-Type: $warcType\r\nWARC-Record-ID: <urn:c:$id>\r\n" +
        s"Content-Type: $warcCt\r\nContent-Length: ${payload.length}\r\n\r\n")
        .getBytes("UTF-8") ++ payload ++ "\r\n\r\n".getBytes("UTF-8")
    def http(headers: String, body: Array[Byte]): Array[Byte] =
      (s"HTTP/1.1 200 OK\r\n$headers\r\n").getBytes("UTF-8") ++ body
    val httpCt = "application/http; msgtype=response"
    val latin = "<p>café münü</p>"
    val cjk = "<p>中文</p>"
    val bytes =
      // 1: charset in the HTTP header — ISO-8859-1 bytes decode back
      rec(1, httpCt, "response", http(
        "Content-Type: text/html; charset=ISO-8859-1\r\n",
        latin.getBytes("ISO-8859-1"))) ++
      // 2: header says bare text/html; the <meta> tag declares GBK
      rec(2, httpCt, "response", http(
        "Content-Type: text/html\r\n",
        (s"""<meta charset="GBK">$cjk""").getBytes("GBK"))) ++
      // 3: UNKNOWN charset label → UTF-8 replacement fallback, no abort
      rec(3, httpCt, "response", http(
        "Content-Type: text/html; charset=no-such-charset\r\n",
        latin.getBytes("UTF-8"))) ++
      // 4: non-http conversion record — WARC-level Content-Type charset
      rec(4, "text/plain; charset=ISO-8859-1", "conversion",
        "café".getBytes("ISO-8859-1")) ++
      // 5: quoted charset token + http-equiv meta form both parse
      rec(5, httpCt, "response", http(
        "Content-Type: text/html; charset=\"ISO-8859-1\"\r\n",
        latin.getBytes("ISO-8859-1")))
    val d = java.nio.file.Files.createTempDirectory("graft_warc_cs")
    java.nio.file.Files.write(d.resolve("c.warc"), bytes)
    val rows = Loader.load(spark, d.resolve("c.warc").toString)
      .orderBy("record_index").collect()
    rows(0).getAs[String]("payload") shouldBe latin
    rows(1).getAs[String]("payload") shouldBe s"""<meta charset="GBK">$cjk"""
    rows(2).getAs[String]("payload") shouldBe latin // UTF-8 bytes read fine
    rows(3).getAs[String]("payload") shouldBe "café"
    rows(4).getAs[String]("payload") shouldBe latin
    // a gzip DECOMPRESSION BOMB falls back to the raw captured bytes
    // (never inflates past the cap, never aborts the task)
    val bomb = {
      val bo = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bo)
      val zeros = new Array[Byte](1 << 20)
      (0 to (graft.sources.warc.WarcRecordIterator.MaxInflatedBodyBytes >> 20).toInt)
        .foreach(_ => g.write(zeros))
      g.close(); bo.toByteArray
    }
    val bombBytes = rec(9, httpCt, "response",
      http("Content-Encoding: gzip\r\n", bomb))
    val it = new graft.sources.warc.WarcRecordIterator(
      new java.io.ByteArrayInputStream(bombBytes))
    val r = it.next()
    // raw (still-compressed) bytes survive — tiny relative to the bomb
    r.payload.length should be < (1 << 24)
    it.hasNext shouldBe false
  }

  test("WARC: BOM overrides declared charset; chunked bodies reassemble; truncation surfaces") {
    def rec(id: Int, warcCt: String, payload: Array[Byte], extra: String = ""): Array[Byte] =
      (s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: <urn:b:$id>\r\n" + extra +
        s"Content-Type: $warcCt\r\nContent-Length: ${payload.length}\r\n\r\n")
        .getBytes("UTF-8") ++ payload ++ "\r\n\r\n".getBytes("UTF-8")
    def http(headers: String, body: Array[Byte]): Array[Byte] =
      (s"HTTP/1.1 200 OK\r\n$headers\r\n").getBytes("UTF-8") ++ body
    def gzip(b: Array[Byte]): Array[Byte] = {
      val bo = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bo)
      g.write(b); g.close(); bo.toByteArray
    }
    val httpCt = "application/http; msgtype=response"
    val utf8Bom = Array[Byte](0xEF.toByte, 0xBB.toByte, 0xBF.toByte)
    def chunked(parts: String*): Array[Byte] =
      (parts.map(p => f"${p.getBytes("UTF-8").length}%x\r\n$p\r\n").mkString +
        "0\r\n\r\n").getBytes("UTF-8")
    val gzBody = gzip("<p>chunked gzip page</p>".getBytes("UTF-8"))
    val gzChunked = // binary chunks: size lines around the raw gzip bytes
      (f"${gzBody.length}%x\r\n".getBytes("UTF-8") ++ gzBody ++ "\r\n0\r\n\r\n".getBytes("UTF-8"))
    val bytes =
      // 1: UTF-8 BOM + mislabeling header — the BOM wins AND strips
      rec(1, httpCt, http("Content-Type: text/html; charset=ISO-8859-1\r\n",
        utf8Bom ++ "café".getBytes("UTF-8"))) ++
      // 2: UTF-16LE BOM, no charset anywhere
      rec(2, httpCt, http("Content-Type: text/html\r\n",
        Array[Byte](0xFF.toByte, 0xFE.toByte) ++ "hi".getBytes("UTF-16LE"))) ++
      // 3: chunked transfer coding reassembles (extensions tolerated)
      rec(3, httpCt, http("Transfer-Encoding: chunked\r\n",
        chunked("Wiki", "pedia", " works"))) ++
      // 4: chunked WRAPPING gzip content-coding — dechunk THEN inflate
      rec(4, httpCt, http(
        "Transfer-Encoding: chunked\r\nContent-Encoding: gzip\r\n", gzChunked)) ++
      // 5: labeled chunked but NOT chunked — raw bytes kept (lenient)
      rec(5, httpCt, http("Transfer-Encoding: chunked\r\n",
        "just plain text".getBytes("UTF-8"))) ++
      // 6: torn chunked stream — assembled prefix survives
      rec(6, httpCt, http("Transfer-Encoding: chunked\r\n",
        "6\r\nabcdef\r\n10\r\nshort".getBytes("UTF-8"))) ++
      // 7: WARC-Truncated surfaces as a column
      rec(7, httpCt, http("", "cut body".getBytes("UTF-8")),
        extra = "WARC-Truncated: length\r\n") ++
      // 8: a 302 with a relative Location — surfaced verbatim (the
      // QUERY resolves it against target_uri via LinkGraph.resolveUrl) —
      // plus the header-side robots opt-out
      rec(8, httpCt, ("HTTP/1.1 302 Found\r\nLocation: /next\r\n" +
        "X-Robots-Tag: noindex, nofollow\r\n\r\n").getBytes("UTF-8"))
    val d = java.nio.file.Files.createTempDirectory("graft_warc_bom")
    java.nio.file.Files.write(d.resolve("b.warc"), bytes)
    val rows = Loader.load(spark, d.resolve("b.warc").toString)
      .orderBy("record_index").collect()
    rows(7).getAs[Any]("http_status") shouldBe 302
    rows(7).getAs[String]("http_location") shouldBe "/next"
    rows(7).getAs[String]("http_robots_tag") shouldBe "noindex, nofollow"
    rows.take(7).foreach { r =>
      r.getAs[String]("http_location") shouldBe null
      r.getAs[String]("http_robots_tag") shouldBe null
    }
    rows(0).getAs[String]("payload") shouldBe "café" // no U+FEFF residue
    rows(1).getAs[String]("payload") shouldBe "hi"
    rows(2).getAs[String]("payload") shouldBe "Wikipedia works"
    rows(3).getAs[String]("payload") shouldBe "<p>chunked gzip page</p>"
    rows(4).getAs[String]("payload") shouldBe "just plain text"
    rows(5).getAs[String]("payload") shouldBe "abcdefshort"
    rows(6).getAs[String]("truncated") shouldBe "length"
    rows(6).getAs[String]("payload") shouldBe "cut body"
    rows.take(6).foreach(_.getAs[String]("truncated") shouldBe null)
  }

  test("WARC revisit records surface payload_digest; pruning never changes rows") {
    def rec(warcType: String, id: String, digest: Option[String],
        payload: String): Array[Byte] = {
      val p = payload.getBytes("UTF-8")
      (s"WARC/1.0\r\nWARC-Type: $warcType\r\nWARC-Record-ID: $id\r\n" +
        digest.map(x => s"WARC-Payload-Digest: $x\r\n").getOrElse("") +
        s"Content-Length: ${p.length}\r\n\r\n").getBytes("UTF-8") ++
        p ++ "\r\n\r\n".getBytes("UTF-8")
    }
    val bytes =
      rec("response", "<urn:r:1>", Some("sha1:AAA"), "original page") ++
        rec("revisit", "<urn:r:2>", Some("sha1:AAA"), "") ++
        rec("response", "<urn:r:3>", None, "no digest")
    val d = java.nio.file.Files.createTempDirectory("graft_warc_rv")
    java.nio.file.Files.write(d.resolve("r.warc"), bytes)
    val df = Loader.load(spark, d.resolve("r.warc").toString)
    val rows = df.orderBy("record_index").collect()
    rows.map(r => (r.getAs[String]("warc_type"), r.getAs[String]("payload_digest")))
      .toSeq shouldBe Seq(
      ("response", "sha1:AAA"), ("revisit", "sha1:AAA"), ("response", null))
    rows(1).getAs[String]("payload") shouldBe "" // revisit body is empty, not null
    // digest lives in the HEADERS: a payload-pruned read surfaces the
    // same digests and the same row count
    val pruned = df.select("record_id", "payload_digest")
      .orderBy("record_id").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    pruned shouldBe Seq(
      ("<urn:r:1>", "sha1:AAA"), ("<urn:r:2>", "sha1:AAA"), ("<urn:r:3>", null))
  }

  test("graft-warc streams newly landed archives exactly once across restarts") {
    def rec(id: Int, payload: String): Array[Byte] = {
      val p = payload.getBytes("UTF-8")
      (s"WARC/1.0\r\nWARC-Type: conversion\r\nWARC-Record-ID: <urn:s:$id>\r\n" +
        s"Content-Length: ${p.length}\r\n\r\n").getBytes("UTF-8") ++
        p ++ "\r\n\r\n".getBytes("UTF-8")
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_warc_stream")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_warc_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft_warc_out").toString
    java.nio.file.Files.write(dir.resolve("a.warc"), rec(1, "one") ++ rec(2, "two"))
    import org.apache.spark.sql.streaming.Trigger
    // a fault-tolerant (parquet) sink: restarts recover from the same
    // checkpoint, which is exactly the property under test
    def runOnce(): Unit = {
      val q = spark.readStream.format("graft-warc").load(dir.toString)
        .select("record_id", "payload")
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    runOnce()
    spark.read.parquet(out).collect().map(_.getAs[String]("record_id")).sorted
      .toSeq shouldBe Seq("<urn:s:1>", "<urn:s:2>")
    // a new archive lands; a restarted stream (same checkpoint) processes
    // ONLY it — the committed offset keeps a.warc from replaying
    java.nio.file.Files.write(dir.resolve("b.warc"), rec(9, "three"))
    runOnce()
    spark.read.parquet(out).collect().map(_.getAs[String]("record_id")).sorted
      .toSeq shouldBe Seq("<urn:s:1>", "<urn:s:2>", "<urn:s:9>")
  }

  test("Loader reads csv with header + inferred schema") {
    val p = java.nio.file.Files.createTempFile("graft", ".csv")
    java.nio.file.Files.writeString(p, "a,b\n1,x\n2,y\n")
    val df = Loader.load(spark, p.toString)
    df.columns.toSeq shouldBe Seq("a", "b")
    df.count() shouldBe 2
    df.schema("a").dataType shouldBe org.apache.spark.sql.types.IntegerType
  }

  test("Writer round-trips partitioned parquet with partition pruning, rejects unknown formats") {
    import graft.sources.Writer
    val dir = java.nio.file.Files.createTempDirectory("graft_w").toString + "/docs.parquet"
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "lang", "n_chars")
    Writer.save(docs, dir, partitionBy = Seq("lang"))
    val back = spark.read.parquet(dir)
    back.count() shouldBe docs.count()
    // a lang filter becomes a PartitionFilter — only matching dirs scanned
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out))(
      back.filter(col("lang") === "en").explain("formatted"))
    out.toString should include regex "PartitionFilters: \\[.*lang.*\\]"
    intercept[UnsupportedFormat](Writer.save(docs, "/tmp/out.avro"))
    intercept[UnsupportedFormat](Writer.save(docs, "/tmp/out"))
  }

  test("Writer.save round-trips jsonl (gz) and single-column txt, mirrors Loader") {
    import graft.sources.{Loader, Writer}
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "lang", "n_chars")
    val jl = java.nio.file.Files.createTempDirectory("graft_jl").toString + "/out.jsonl.gz"
    Writer.save(docs, jl)
    // compression suffix routed: the part files are gzip'd
    new java.io.File(jl).listFiles().map(_.getName)
      .exists(_.endsWith(".json.gz")) shouldBe true
    val back = Loader.load(spark, jl)
    back.count() shouldBe docs.count()
    back.select("doc_id", "lang", "n_chars").except(docs).count() shouldBe 0
    // txt: one string column round-trips; anything else is loud
    val tx = java.nio.file.Files.createTempDirectory("graft_tx").toString + "/out.txt"
    Writer.save(docs.select(col("lang")), tx)
    Loader.load(spark, tx).count() shouldBe docs.count()
    val e = intercept[UnsupportedFormat](Writer.save(docs, "/tmp/out.txt"))
    e.getMessage should include("exactly one string column")
    // every Loader compression suffix maps to a codec (symmetry with
    // load's strip set) — bz2 round-trips here; zst maps correctly but
    // this container lacks the hadoop zstd native lib, so only the
    // routing (not the write) is checkable for it
    val bz = java.nio.file.Files.createTempDirectory("graft_bz").toString + "/out.jsonl.bz2"
    Writer.save(docs, bz)
    Loader.load(spark, bz).count() shouldBe docs.count()
  }

  test("Writer.writeTrainingShards round-trips the deterministic shard layout") {
    import graft.sources.Writer
    val dir = java.nio.file.Files.createTempDirectory("graft_sh").toString + "/shards"
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "lang", "n_chars")
    Writer.writeTrainingShards(docs, dir, "doc_id", 8)
    // all 8 shard directories exist (hive layout → partition pruning)
    val dirs = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("shard=")).sorted
    dirs.toSeq shouldBe (0 to 7).map(i => s"shard=$i")
    // read-back matches the audited layout exactly: membership AND order
    // partition-dir values are type-inferred on read (int) — cast back
    val back = spark.read.parquet(dir)
      .select(col("doc_id"), col("shard").cast("long"), col("shard_pos"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val audit = Writer.shardAssignments(docs, "doc_id", 8)
      .select("doc_id", "shard", "shard_pos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    back shouldBe audit
    audit.size.toLong shouldBe docs.count()
    // shard_pos is a dense 0-based rank within each shard
    audit.groupBy(_._2).foreach { case (_, rows) =>
      rows.map(_._3).toSeq.sorted shouldBe (0L until rows.size.toLong)
    }
    // membership replays the portable hash rule
    def h(id: Long) = ((id % 2147483647L) * 48271L % 2147483647L) * 48271L % 2147483647L
    audit.foreach { case (id, shard, _) => shard shouldBe h(id) % 8 }
    // the two-level rank (range-bucketed hash + prefix offsets) is EXACTLY
    // the single-window rank: bucket-major order is (hash, id) order
    val flat = Writer.shardAssignments(docs, "doc_id", 8, numSubBuckets = 1)
      .select("doc_id", "shard", "shard_pos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    flat shouldBe audit
  }

  test("Writer.shardByTokenBudget: contiguous token slices, stable within-shard order") {
    import graft.sources.Writer
    val docs = Seq(
      (1L, 30L), (2L, 50L), (3L, 20L), (4L, 40L), (5L, 60L),
      (6L, 10L), (7L, 0L), (8L, 25L)) // id 7 dropped (non-positive tokens)
      .toDF("doc_id", "n_tok")
    val out = Writer.shardByTokenBudget(docs, "doc_id", "n_tok",
      tokensPerShard = 80L, numBuckets = 4)
      .select("doc_id", "n_tok", "shard", "shard_tok_pos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    out.map(_._1).toSet shouldBe Set(1L, 2L, 3L, 4L, 5L, 6L, 8L)
    // replay the rule driver-side: bucket-major (bucket, hash, id) order,
    // shard = floor(tokens-before / 80), pos = the remainder
    def h(id: Long) = ((id % 2147483647L) * 48271L % 2147483647L) * 48271L % 2147483647L
    val order = out.map(t => (t._1, t._2)).sortBy { case (id, _) => (h(id) % 4, h(id), id) }
    var before = 0L
    val expect = order.map { case (id, tok) =>
      val row = (id, tok, before / 80L, before % 80L); before += tok; row
    }.toSet
    out.toSet shouldBe expect
    // shard_tok_pos is strictly increasing within a shard (stable sort key)
    out.groupBy(_._3).values.foreach { rows =>
      val ps = rows.map(_._4).toSeq.sorted
      ps.distinct.size shouldBe ps.size
    }
    // one-bucket layout is the same rule through a single window
    Writer.shardByTokenBudget(docs, "doc_id", "n_tok",
      tokensPerShard = 80L, numBuckets = 1)
      .select("doc_id", "n_tok", "shard", "shard_tok_pos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet shouldBe (
      {
        val o1 = out.map(t => (t._1, t._2)).sortBy { case (id, _) => (h(id), id) }
        var b = 0L
        o1.map { case (id, tok) =>
          val row = (id, tok, b / 80L, b % 80L); b += tok; row
        }.toSet
      })
    // hive export round-trips membership and order
    val dir = java.nio.file.Files.createTempDirectory("graft_tsh").toString + "/shards"
    Writer.writeTokenBudgetShards(docs, dir, "doc_id", "n_tok", 80L, numBuckets = 4)
    spark.read.parquet(dir)
      .select(col("doc_id"), col("shard").cast("long"), col("shard_tok_pos"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet shouldBe
      out.map(t => (t._1, t._3, t._4)).toSet
  }

  test("Writer IVF index: disk probe equals in-memory probe and prunes partitions") {
    import graft.sources.Writer
    import graft.ops.Similarity
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val m = Similarity.IvfModel.fromJsonString(
      Similarity.ivfFit(e, "embedding", nlist = 8).toJsonString)
    val codes = Similarity.ivfPqEncode(e, "vec_id", "embedding", m)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfidx").toString
    Writer.writeIvfIndex(codes, m, dir)
    // one hive directory per coarse cell, quantizer JSON next to them
    val cellDirs = new java.io.File(s"$dir/codes").listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("cell="))
    cellDirs.length should be > 1
    val (back, m2) = Writer.loadIvfIndex(spark, dir)
    m2.centroids shouldBe m.centroids
    back.count() shouldBe codes.count()
    val q = e.filter(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble).toSeq
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val disk = Similarity.ivfPqTopK(back, m2, q, 10, nprobe = 2)
    // bit-identical search results through the disk round trip
    rows(disk) shouldBe rows(Similarity.ivfPqTopK(codes, m, q, 10, nprobe = 2))
    // the probe's cell predicate reaches the scan as a PARTITION filter —
    // only nprobe of nlist directories are listed/read
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out))(disk.explain("formatted"))
    out.toString should include regex "PartitionFilters: \\[.*cell.*\\]"
    // the same layout serves the product-PQ payload (id, cell, codes)
    val pq = Similarity.ivfPqFitCodebooks(e, "vec_id", "embedding", m,
      m = 8, k = 16)
    val pcodes = Similarity.ivfPqEncodeProduct(e, "vec_id", "embedding", m, pq)
    val pdir = java.nio.file.Files.createTempDirectory("graft_ivfpqidx").toString
    Writer.writeIvfIndex(pcodes, m, pdir)
    val (pback, pm) = Writer.loadIvfIndex(spark, pdir)
    rows(Similarity.ivfPqTopKProduct(pback, pm, pq, q, 10, nprobe = 2)) shouldBe
      rows(Similarity.ivfPqTopKProduct(pcodes, m, pq, q, 10, nprobe = 2))
    // incremental ingest: index half the corpus, append the other half
    // encoded against the INDEX's quantizer — probes over the appended
    // layout equal probes over a one-shot full index
    val adir = java.nio.file.Files.createTempDirectory("graft_ivfapp").toString
    Writer.writeIvfIndex(
      Similarity.ivfPqEncode(
        e.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", m), m, adir)
    val mBack = Writer.appendToIvfIndex(
      e.filter(col("vec_id") % 2 =!= 0), "vec_id", "embedding", adir)
    mBack.centroids shouldBe m.centroids
    val (aback, am) = Writer.loadIvfIndex(spark, adir)
    aback.count() shouldBe e.count()
    rows(Similarity.ivfPqTopK(aback, am, q, 10, nprobe = 2)) shouldBe
      rows(Similarity.ivfPqTopK(codes, m, q, 10, nprobe = 2))
    // compaction: the appended layout has >1 file in a touched cell dir;
    // after compactIvfIndex every cell holds exactly ONE data file and the
    // probe still returns the identical rows (append-then-compact ≡ the
    // one-shot full build's layout)
    def cellFiles(base: String): Map[String, Int] =
      new java.io.File(s"$base/codes").listFiles()
        .filter(d => d.isDirectory && d.getName.startsWith("cell="))
        .map(d => d.getName ->
          d.listFiles().count(_.getName.endsWith(".parquet"))).toMap
    cellFiles(adir).values.max should be > 1
    Writer.compactIvfIndex(spark, adir)
    val compacted = cellFiles(adir)
    compacted.values.foreach(_ shouldBe 1)
    compacted.keySet shouldBe cellFiles(dir).keySet
    new java.io.File(s"$adir/codes.old").exists() shouldBe false
    new java.io.File(s"$adir/codes.compact.tmp").exists() shouldBe false
    val (cback, cm) = Writer.loadIvfIndex(spark, adir)
    cback.count() shouldBe e.count()
    rows(Similarity.ivfPqTopK(cback, cm, q, 10, nprobe = 2)) shouldBe
      rows(Similarity.ivfPqTopK(codes, m, q, 10, nprobe = 2))
  }

  test("Writer.shardByScoreQuantile: quantile stages, dense (score, id) ranks") {
    import graft.sources.Writer
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("n_chars").cast("double").as("score"))
    val out = Writer.shardByScoreQuantile(docs, "doc_id", "score", 16)
      .select("doc_id", "score", "shard", "shard_pos").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3)))
    out.length.toLong shouldBe docs.count()
    // replay the rule driver-side: exact interpolated quantile boundaries
    // over the sorted scores, shard = #{boundaries ≤ score}, rank within
    // shard by (score, id)
    val scores = out.map(t => (t._1, t._2)).sortBy { case (id, s) => (s, id) }
    val sorted = scores.map(_._2)
    def quantile(p: Double): Double = {
      val pos = p * (sorted.length - 1)
      val lo = pos.toInt
      val frac = pos - lo
      if (lo + 1 < sorted.length) sorted(lo) + (sorted(lo + 1) - sorted(lo)) * frac
      else sorted(lo)
    }
    val bounds = (1 until 16).map(i => quantile(i / 16.0))
    var posByShard = collection.mutable.Map.empty[Long, Long]
    val expect = scores.map { case (id, s) =>
      val shard = bounds.count(s >= _).toLong
      val p = posByShard.getOrElse(shard, 0L)
      posByShard(shard) = p + 1
      (id, s, shard, p)
    }.toSet
    out.toSet shouldBe expect
    // stages are score-ordered: every stage-k score ≤ every stage-k+1 score
    val byShard = out.groupBy(_._3)
    byShard.keys.toSeq.sorted.sliding(2).foreach {
      case Seq(a, b) =>
        byShard(a).map(_._2).max should be <= byShard(b).map(_._2).min
      case _ =>
    }
    // the 128-fine-bucket two-level rank IS the single-window rank
    Writer.shardByScoreQuantile(docs, "doc_id", "score", 16, numSubBuckets = 1)
      .select("doc_id", "score", "shard", "shard_pos").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3)))
      .toSet shouldBe out.toSet
    // numShards=1 degenerates to the global (score, id) rank
    val one = Writer.shardByScoreQuantile(docs, "doc_id", "score", 1)
      .select("doc_id", "shard", "shard_pos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    one.map(_._2).toSet shouldBe Set(0L)
    one.sortBy(_._3).map(_._1).toSeq shouldBe scores.map(_._1).toSeq
  }

  test("Writer.manifest: order-free checksum, null skipping, hand-checked hash") {
    import graft.sources.Writer
    val docs = Seq(
      (1L, "en", "hello", 5L),
      (2L, "en", "world", 5L),
      (3L, "de", null.asInstanceOf[String], 0L),
    ).toDF("doc_id", "lang", "text", "n_tok")
    val got = Writer.manifest(docs, Seq("lang"), Seq("text"), Some("n_tok"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // hand value: first 15 hex digits of md5("hello") xor md5("world")
    def h60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(8).map("%02x".format(_)).mkString.take(15), 16)
    }
    got("en") shouldBe ((2L, 10L, h60("hello") ^ h60("world")))
    // a NULL content value hashes as md5("") (concat_ws skips it), but the
    // row still counts
    got("de") shouldBe ((1L, 0L, h60("")))
    // row order / partitioning invariance: XOR is commutative
    val shuffled = Writer.manifest(
      docs.orderBy(col("doc_id").desc).repartition(7),
      Seq("lang"), Seq("text"), Some("n_tok"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    shuffled shouldBe got
    // global form (no group columns): one row over everything, no token col
    val all = Writer.manifest(docs, Nil, Seq("text")).collect()
    all.length shouldBe 1
    // manifestDiff: added / removed / changed / silent-identical statuses
    val docs2 = Seq(
      (1L, "en", "hello", 5L), (2L, "en", "world!", 6L), // en changed
      (4L, "es", "hola", 4L), // es added; de removed
    ).toDF("doc_id", "lang", "text", "n_tok")
    val prev = Writer.manifest(docs, Seq("lang"), Seq("text"), Some("n_tok"))
    val diff = Writer.manifestDiff(
      prev, Writer.manifest(docs2, Seq("lang"), Seq("text"), Some("n_tok")),
      Seq("lang"))
      .collect().map(r => r.getString(0) -> r.getAs[String]("status")).toMap
    diff shouldBe Map("en" -> "changed", "de" -> "removed", "es" -> "added")
    // identical manifests → empty diff (order-free checksums: a reshuffled
    // re-materialization is NOT a change)
    Writer.manifestDiff(prev,
      Writer.manifest(docs.repartition(5), Seq("lang"), Seq("text"), Some("n_tok")),
      Seq("lang")).count() shouldBe 0L
    all.head.getLong(0) shouldBe 3L
    all.head.getLong(1) shouldBe (h60("hello") ^ h60("world") ^ h60(""))
    // the distinct-set XOR breaks the multiset XOR's even-multiplicity
    // blindness: {x, x, y} cancels to h(y) in content_hash but keeps
    // h(x)^h(y) in distinct_hash
    val dup = Seq((1L, "x"), (2L, "x"), (3L, "y")).toDF("id", "text")
    val md = Writer.manifest(dup, Nil, Seq("text")).collect().head
    md.getLong(1) shouldBe h60("y")
    md.getLong(2) shouldBe (h60("x") ^ h60("y"))
    // multi-column content is separator-joined, so ("ab","c") ≠ ("a","bc")
    val two = Seq((1L, "ab", "c"), (2L, "a", "bc")).toDF("id", "x", "y")
    val m2 = Writer.manifest(two, Nil, Seq("x", "y")).collect().head.getLong(1)
    m2 shouldBe (h60("ab\u001fc") ^ h60("a\u001fbc"))
  }

  test("Writer.writeBucketed: same-bucketing join plans with no shuffle") {
    import graft.sources.Writer
    val tmp = java.nio.file.Files.createTempDirectory("graft_b")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "lang", "n_chars")
    try {
      Writer.writeBucketed(docs, "graft_b1", Seq("doc_id"), 4,
        path = Some(s"$tmp/b1"))
      Writer.writeBucketed(docs.withColumnRenamed("n_chars", "nc2"), "graft_b2",
        Seq("doc_id"), 4, path = Some(s"$tmp/b2"))
      // suppress broadcast (these test tables are tiny) so the plan shows
      // what happens at scale: a sort-merge join over co-located buckets
      val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val plan = try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val joined = spark.table("graft_b1")
          .join(spark.table("graft_b2").select("doc_id", "nc2"), "doc_id")
        val out = new java.io.ByteArrayOutputStream()
        Console.withOut(new java.io.PrintStream(out))(joined.explain("formatted"))
        joined.count() shouldBe docs.count()
        out.toString
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
      plan should include("SortMergeJoin")
      plan should not include "Exchange" // co-located: bucketing replaces the shuffle
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_b1")
      spark.sql("DROP TABLE IF EXISTS graft_b2")
    }
  }

  test("Pipeline wraps engine failures as EngineError with cause preserved") {
    val df = Seq((1.0, 2.0)).toDF("a", "b")
    // MathFeatures referencing a nonexistent column → AnalysisException
    val pipe = Pipeline("bad" -> new MathFeatures(Seq("c" -> (col("nope") + 1))))
    val e = intercept[EngineError](pipe.fit(df))
    e.getCause should not be null
    // library-typed errors still pass through untouched
    val pipe2 = Pipeline("log" -> new LogTransformer(Seq("missing")))
    intercept[MissingColumn](pipe2.fit(df))
  }

  test("Stats raises InvalidParameter (not NPE) on all-null columns") {
    val df = Seq[(java.lang.Double, Int)]((null, 1), (null, 2)).toDF("v", "k")
    val e = intercept[InvalidParameter](Stats.means(df, Seq("v")))
    e.getMessage should include("no non-null values")
    intercept[InvalidParameter](Stats.minMax(df, Seq("v")))
    intercept[InvalidParameter](Stats.quantiles(df, Seq("v"), Seq(0.5), exact = true))
    intercept[InvalidParameter](Stats.quantiles(df, Seq("v"), Seq(0.5)))
  }

  test("DropMissingData keeps NaN rows (null-only semantics, unlike na.drop)") {
    val df = Seq[(java.lang.Double, Int)]((1.0, 1), (Double.NaN, 2), (null, 3))
      .toDF("v", "k")
    val out = new DropMissingData(Seq("v")).fitTransform(df)
    out.count() shouldBe 2 // NaN row survives; only the null row drops
    out.filter(isnan(col("v"))).count() shouldBe 1
  }

  test("WoEEncoder counts every target != 1 as bad (reference else-branch)") {
    // cat 'a': targets (1, 2, -1) → good=1, bad=2 ; woe = ln((1+1e-6)/(2+1e-6))
    val df = Seq(("a", 1L), ("a", 2L), ("a", -1L)).toDF("c", "t")
    val enc = new WoEEncoder(Seq("c"), "t")
    enc.fit(df)
    val woe = enc.woeMaps("c").toMap.apply("a")
    assert(approxEqual(woe, math.log((1 + 1e-6) / (2 + 1e-6)), 1e-12))
  }

  test("Multimodal.sampleFrames emits zero rows for payloads shorter than a frame") {
    val d = Seq((1L, "abc")).toDF("id", "text")
      .select($"id", $"text".cast("binary").as("payload"))
    Multimodal.sampleFrames(d, "payload", everyNBytes = 8, frameBytes = 4)
      .count() shouldBe 0
  }

  test("Bench.guardedOutFile: a focused run never overwrites a fuller reference") {
    // focused + the existing file holds a query this run skips → redirect
    Bench.guardedOutFile("bench_out.json", focused = true,
      selected = Set("a"), existing = Set("a", "b")) shouldBe
      "bench_out_focused.json"
    // focused but re-measuring a superset of the existing file → keep
    Bench.guardedOutFile("bench_out.json", focused = true,
      selected = Set("a", "b"), existing = Set("a", "b")) shouldBe
      "bench_out.json"
    // full-suite run always writes the requested path (a query removed
    // from the suite must not strand the reference forever)
    Bench.guardedOutFile("bench_out.json", focused = false,
      selected = Set("a"), existing = Set("a", "b", "gone")) shouldBe
      "bench_out.json"
    // no existing reference (fresh checkout) → keep
    Bench.guardedOutFile("bench_out.json", focused = true,
      selected = Set("a"), existing = Set.empty) shouldBe "bench_out.json"
    // non-.json requested names still get a distinguishable sibling
    Bench.guardedOutFile("ref", focused = true,
      selected = Set("a"), existing = Set("b")) shouldBe "ref_focused.json"
  }
}
