package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core._
import graft.ops.{Bpe, Classifier, Curation, Dedup, Dsir, LangModel, Multimodal, Relational, Retrieval, Sampling, Similarity, TextOps, Url}
import graft.sources.{Loader, Writer}
import graft.streaming.StreamingOps
import graft.transformers._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 has one entry in [[queries]]
  * and (when SQL-expressible) a DuckDB oracle in [[oracleSql]]. The driver
  * runs each query at sf0.01, dumps parquet, runs the oracle SQL in DuckDB
  * over the same parquet tables, and hash-compares (columns sorted by name).
  *
  * Oracle-parity design rules used throughout:
  *  - testdata has NO nulls, so imputation queries inject them
  *    deterministically (`l_orderkey % k = 0`) on both sides;
  *  - learned floating-point parameters (means, quantiles) are computed over
  *    `l_quantity`, whose values are integer-valued doubles — sums/averages
  *    are exact in FP regardless of summation order, so Spark and DuckDB
  *    learn bit-identical values;
  *  - exact quantiles (`exact = true`) match DuckDB `quantile_cont`'s
  *    linear-interpolation definition;
  *  - selection transformers learn WHICH columns survive; thresholds are
  *    chosen far from the actual statistics, and the oracle hardcodes the
  *    expected projection.
  */
object SparkEntry {

  /** Default driver-table read: COLUMNAR-work floor
    * ([[Loader.ColumnarBytesPerTask]], see [[Loader.flooredScan]]). Every
    * testdata table is below 11 MB, so at bench scale this reader adds NO
    * Exchange (the round-14 plan shape the driver measured as fastest for
    * the dedup/sim/sel/relational families); a production-scale single
    * unsplittable file still fans out to ~bytes/4MB tasks up to the core
    * count. */
  private def rt(s: SparkSession, dir: String, name: String): DataFrame =
    Loader.flooredScan(s, "parquet", dir + "/" + name + ".parquet",
      Loader.ColumnarBytesPerTask)

  /** KERNEL-path table read: floor sized for per-row TEXT KERNELS
    * (tokenize, shingle-to-BPE merge chains, Viterbi, char-bigram
    * explode, per-query scoring) — [[Loader.KernelBytesPerTask]] ≈
    * 100–400 documents ≈ 40–400 ms of kernel work per task. Round 15
    * measured the win directly: flooring these reads to the core count
    * took text_bm25_prf 11.0→3.7 s, text_langid_model 7.6→2.6 s,
    * text_embed_topk 6.3→2.4 s (driver bench, sf0.1, local[32]) — and
    * round 16's floor-off experiment confirmed the same queries regress
    * 1.5–10× without it while the NON-kernel families run faster
    * unfloored, which is why this is a separate reader instead of a
    * blanket rule. Only call sites whose dominant cost is a per-row
    * kernel over the scanned rows use it. */
  private def rtKernel(s: SparkSession, dir: String, name: String): DataFrame =
    Loader.flooredScan(s, "parquet", dir + "/" + name + ".parquet",
      Loader.KernelBytesPerTask)

  /** One contamination-index save dir per JVM for the model round-trip
    * query: created once, reused (overwrite) across invocations so bench
    * loops don't leak a parquet table per run. */
  private lazy val contamIdxDir: String =
    java.nio.file.Files.createTempDirectory("graft_contam_idx").toString

  /** dedup_key_seen's index directory — same one-dir-per-JVM rationale. */
  private lazy val keyIdxDir: String =
    java.nio.file.Files.createTempDirectory("graft_key_idx").toString

  /** dedup_incremental_model's fitted near-dup signature index, cached per
    * (JVM, sf dir) — the langIdFitted convention (deterministic fit, fresh
    * directory per fit so interleaved sf dirs can't cross round trips). */
  private val nearDupIdxDirs =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private def nearDupIdxFitted(s: SparkSession, dir: String): String =
    nearDupIdxDirs.getOrElseUpdate(dir, {
      val d = java.nio.file.Files.createTempDirectory("graft_neardup_idx").toString
      Dedup.nearDupIndexFit(
        rt(s, dir, "documents").filter(col("doc_id") % 3 === 0),
        "doc_id", "text").save(d)
      d
    })

  /** sample_dsir's model directory — same one-dir-per-JVM rationale. */
  private lazy val dsirModelDir: String =
    java.nio.file.Files.createTempDirectory("graft_dsir_model").toString

  /** text_lm_filter's model directory — same one-dir-per-JVM rationale. */
  private lazy val lmModelDir: String =
    java.nio.file.Files.createTempDirectory("graft_lm_model").toString

  /** text_classifier_filter's model directory — same rationale. */
  private lazy val clfModelDir: String =
    java.nio.file.Files.createTempDirectory("graft_clf_model").toString

  /** The PQ queries' shared fit (m=8 subspaces × k=16 codewords over the
    * 64-dim embeddings) through a JSON round trip — cached per (JVM, sf
    * dir) like [[bpeFitted]]: the fit is deterministic and runs 8 small
    * Lloyd jobs, which bench repetitions should not re-pay per query. */
  private val pqModels =
    scala.collection.concurrent.TrieMap.empty[String, Similarity.PqModel]
  private def pqFitted(s: SparkSession, dir: String): Similarity.PqModel =
    pqModels.getOrElseUpdate(dir,
      Similarity.PqModel.fromJsonString(
        Similarity.pqFit(rt(s, dir, "embeddings"), "embedding", m = 8, k = 16)
          .toJsonString))

  /** The IVF-PQ product queries' shared fit: the SAME deterministic
    * nlist=8 coarse quantizer as sim_ivf (so its centroid dump replays for
    * both families) plus m=8 × k=16 residual codebooks — cached per (JVM,
    * sf dir) like [[pqFitted]], both halves through JSON round trips. */
  private val ivfPqModels = scala.collection.concurrent.TrieMap
    .empty[String, (Similarity.IvfModel, Similarity.PqModel)]
  private def ivfPqFitted(
      s: SparkSession, dir: String): (Similarity.IvfModel, Similarity.PqModel) =
    ivfPqModels.getOrElseUpdate(dir, {
      val e = rt(s, dir, "embeddings")
      val coarse = Similarity.IvfModel.fromJsonString(
        Similarity.ivfFit(e, "embedding", nlist = 8).toJsonString)
      val pq = Similarity.PqModel.fromJsonString(
        Similarity.ivfPqFitCodebooks(e, "vec_id", "embedding", coarse,
          m = 8, k = 16).toJsonString)
      (coarse, pq)
    })

  /** sim_ivfpq_disk's on-disk IVF-SQ8 index, materialized once per (JVM,
    * sf dir) — the contamIdxDir convention: the WRITE (encode + partitioned
    * export) is a one-time indexing cost, the query measures the probe
    * over the partition-pruned read, which is the per-search cost a
    * production index pays. Fresh directory per build (the bpeFitted
    * cross-sf-dir rationale). */
  private val ivfIndexDirs =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private def ivfDiskIndex(s: SparkSession, dir: String): String =
    ivfIndexDirs.getOrElseUpdate(dir, {
      val m = ivfPqFitted(s, dir)._1 // the same deterministic nlist=8 coarse fit
      val d = java.nio.file.Files.createTempDirectory("graft_ivf_index").toString
      Writer.writeIvfIndex(
        Similarity.ivfPqEncode(rt(s, dir, "embeddings"), "vec_id", "embedding", m),
        m, d)
      d
    })

  /** text_bm25_indexed's on-disk inverted index, materialized once per
    * (JVM, sf dir) — the ivfDiskIndex convention: the fit + partitioned
    * export is the one-time indexing cost, the query measures the probe,
    * which is the per-search cost a production index pays. */
  private val bm25IndexDirs =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private def bm25DiskIndex(s: SparkSession, dir: String): String =
    bm25IndexDirs.getOrElseUpdate(dir, {
      val d = java.nio.file.Files.createTempDirectory("graft_bm25_index").toString
      graft.ops.Retrieval.bm25Fit(rtKernel(s, dir, "documents"), "doc_id", "text").save(d)
      d
    })

  /** text_langid_model's fitted NB char-bigram model through a save/load
    * round trip, cached per (JVM, sf dir) — the bpeFitted convention
    * (deterministic fit; a fresh directory per fit so interleaved sf dirs
    * can't cross round trips). vocabSize=256 keeps the cutoff BINDING at
    * sf0.01 so the oracle exercises the vocabulary head, not just the
    * weights. */
  private val langIdModels =
    scala.collection.concurrent.TrieMap.empty[String, graft.ops.LangId.LangIdModel]
  private def langIdFitted(s: SparkSession, dir: String): graft.ops.LangId.LangIdModel =
    langIdModels.getOrElseUpdate(dir, {
      val m = graft.ops.LangId.langIdFit(
        rtKernel(s, dir, "documents"), "text", "lang", vocabSize = 256)
      val d = java.nio.file.Files.createTempDirectory("graft_langid_model").toString
      m.save(d)
      graft.ops.LangId.LangIdModel.load(s, d)
    })

  /** warc_extract's synthetic crawl archive, materialized once per (JVM,
    * sf dir) — the contamIdxDir convention: every document becomes one
    * WARC/1.0 conversion record (record id derived from doc_id, target URI
    * = [[synthUrl]], payload = the text, exact Content-Length), so the
    * oracle replays the parsed records straight off the documents table.
    * The build is a bounded driver-side dump (fixture construction, like
    * the index builds); the QUERY is the distributed loadWarc read. */
  /** Non-ASCII marker paragraphs of the charset-varied HTML fixture
    * records (code points pinned by escape — the text_bpe_ids_bytes
    * convention — so no toolchain encoding step can silently mangle
    * what the oracle expects): Latin-1 "café münü", CJK "中文测试". */
  private val CharsetMarkerLatin = "<p>caf\u00e9 m\u00fcn\u00fc</p>"
  private val CharsetMarkerCjk = "<p>\u4e2d\u6587\u6d4b\u8bd5</p>"

  /** Script markers of text_script_profile (codepoints pinned by escape,
    * the CharsetMarker convention): Cyrillic "\u043f\u0440\u0438\u0432\u0435\u0442 \u043c\u0438\u0440", Han "\u4e2d\u6587\u6d4b\u8bd5",
    * Arabic "\u0645\u0631\u062d\u0628\u0627", and a two-char U+FFFD mojibake marker. */
  private val ScriptMarkerCyr =
    " \u043f\u0440\u0438\u0432\u0435\u0442 \u043c\u0438\u0440"
  private val ScriptMarkerHan = " \u4e2d\u6587\u6d4b\u8bd5"
  private val ScriptMarkerArab = " \u0645\u0631\u062d\u0628\u0627"
  private val ScriptMarkerBad = " \ufffd\ufffd"

  private val warcDirs =
    scala.collection.concurrent.TrieMap.empty[String, String]
  /** Files per fixture archive directory (the one-task-per-archive read
    * unit — see the writeArchive note). */
  private val WarcShards = 16
  private def warcFixture(s: SparkSession, dir: String): String =
    warcDirs.getOrElseUpdate(dir, {
      val rows = rt(s, dir, "documents")
        .select(col("doc_id"), synthUrl.as("url"), col("text"),
          synthHtml.as("html"), col("source"))
        .orderBy("doc_id").collect()
      val d = java.nio.file.Files.createTempDirectory("graft_warc").toString
      // Each fixture "archive" is a DIRECTORY of WarcShards files (records
      // split by doc_id % shards) — the real crawl layout, where one
      // archive file = one read task (gzip is not splittable): a
      // single-file fixture would serialize the whole corpus behind one
      // task at sf1+ and misrepresent every downstream query's scaling.
      // All warc_* queries aggregate or key by record id, so the
      // record-to-file assignment is invisible to their results.
      def writeArchive(
          file: String, warcType: String, contentType: String,
          payloadOf: org.apache.spark.sql.Row => Array[Byte],
          recordIdOf: org.apache.spark.sql.Row => String =
            r => s"<urn:graft:doc-${r.getLong(0)}>",
          targetUriOf: org.apache.spark.sql.Row => String =
            r => r.getString(1)): Unit = {
        val outs = Array.fill(WarcShards)(new java.io.ByteArrayOutputStream())
        rows.foreach { r =>
          val out = outs((r.getLong(0) % WarcShards).toInt)
          val payload = payloadOf(r)
          val header =
            s"WARC/1.0\r\nWARC-Type: $warcType\r\n" +
              s"WARC-Record-ID: ${recordIdOf(r)}\r\n" +
              s"WARC-Date: 2026-01-01T00:00:00Z\r\n" +
              s"WARC-Target-URI: ${targetUriOf(r)}\r\n" +
              s"Content-Type: $contentType\r\n" +
              s"Content-Length: ${payload.length}\r\n\r\n"
          out.write(header.getBytes("UTF-8"))
          out.write(payload)
          out.write("\r\n\r\n".getBytes("UTF-8"))
        }
        val p = java.nio.file.Paths.get(d, file)
        java.nio.file.Files.createDirectories(p)
        outs.zipWithIndex.foreach { case (o, k) =>
          java.nio.file.Files.write(
            p.resolve(f"part-$k%03d.warc"), o.toByteArray)
        }
      }
      // the WET-shaped plain-text archive (warc_extract)...
      writeArchive("docs.warc", "conversion", "text/plain",
        _.getString(2).getBytes("UTF-8"))
      // ...and the response-shaped HTML archive (warc_html_extract /
      // warc_http_meta) in TRUE response-record form: the record payload
      // is the full HTTP message — status line + response headers +
      // CRLF CRLF + body — exactly what a real Common Crawl .warc
      // carries, so the reader's envelope stripping (not the fixture)
      // is what keeps the downstream htmlToText oracle green. Statuses,
      // content-codings AND CHARSETS vary deterministically by doc_id:
      // every 20th doc is a 404 (same body), every 10th-plus-3 body
      // travels gzip content-coded, every 10th-plus-7 body is
      // ISO-8859-1 with the charset declared in the HTTP header, and
      // every 10th-plus-9 is GBK declared ONLY by an HTML <meta> tag
      // (the header says bare text/html). The non-UTF-8 bodies carry a
      // NON-ASCII marker paragraph — an all-ASCII fixture would pass
      // under a UTF-8-only reader and prove nothing about the decode.
      writeArchive("docs_html.warc", "response", "application/http; msgtype=response",
        { r =>
          val id = r.getLong(0)
          // ...and every 10th-plus-1 page declares <meta name=robots
          // noindex> — the compliance marker warc_meta_robots oracles
          val (charset, metaPrefix, marker) =
            if (id % 10 == 7) ("ISO-8859-1", "", CharsetMarkerLatin)
            else if (id % 10 == 9)
              ("GBK", "<meta charset=\"GBK\">", CharsetMarkerCjk)
            else if (id % 10 == 1)
              ("UTF-8",
                "<meta name=\"robots\" content=\"noindex, nofollow\">", "")
            else ("UTF-8", "", "")
          val rawBody = (metaPrefix + r.getString(3) + marker).getBytes(charset)
          val gzipped = id % 10 == 3
          val body =
            if (!gzipped) rawBody
            else {
              val bo = new java.io.ByteArrayOutputStream()
              val gz = new java.util.zip.GZIPOutputStream(bo)
              gz.write(rawBody); gz.close(); bo.toByteArray
            }
          // ...and REDIRECTS: every 10th-plus-5 response is a 301 whose
          // Location header is absolute (%20==5) or RELATIVE (%20==15 —
          // RFC 9110 allows it; the query resolves against target_uri).
          // Redirect bodies stay the same html, so warc_html_extract's
          // oracle is untouched.
          val statusLine =
            if (id % 20 == 0) "HTTP/1.1 404 Not Found"
            else if (id % 10 == 5) "HTTP/1.1 301 Moved Permanently"
            else "HTTP/1.1 200 OK"
          val locHeader =
            if (id % 20 == 5)
              s"Location: https://www.${r.getString(4)}-moved.example/p/$id\r\n"
            else if (id % 20 == 15) s"Location: /moved/$id\r\n"
            else ""
          val ctHeader =
            if (id % 10 == 7) "Content-Type: text/html; charset=ISO-8859-1\r\n"
            else if (id % 10 == 9) "Content-Type: text/html\r\n"
            else "Content-Type: text/html; charset=UTF-8\r\n"
          // ...and every 20th-plus-2 response opts out via the HEADER
          // side (X-Robots-Tag) — disjoint from the %10==1 meta opt-out,
          // so warc_meta_robots proves both compliance channels
          val robotsTagHeader =
            if (id % 20 == 2) "X-Robots-Tag: noindex\r\n" else ""
          val envelope = statusLine + "\r\n" + locHeader + robotsTagHeader +
            ctHeader +
            (if (gzipped) "Content-Encoding: gzip\r\n" else "") +
            s"Content-Length: ${body.length}\r\n\r\n"
          val msg = new java.io.ByteArrayOutputStream()
          msg.write(envelope.getBytes("UTF-8")); msg.write(body)
          msg.toByteArray
        })
      // ...and the CONTENT-CODING archive (warc_content_coding): the same
      // text body under every coding a crawl actually serves — identity,
      // gzip, deflate (zlib-wrapped), zstd, and brotli. The first four
      // decode inside the reader; brotli has NO codec on a Spark
      // classpath, so those records keep their coded bytes and raise
      // http_coding_unsupported. The "br" body is an ASCII marker string
      // (real brotli bytes would be nondeterministic binary an oracle
      // cannot rebuild) — what's under test is the flag + the raw
      // passthrough, not a codec we don't have.
      writeArchive("docs_coded.warc", "response",
        "application/http; msgtype=response",
        { r =>
          val id = r.getLong(0)
          val raw = r.getString(2).getBytes("UTF-8")
          val (coding, body) = (id % 5) match {
            case 1 =>
              val bo = new java.io.ByteArrayOutputStream()
              val gz = new java.util.zip.GZIPOutputStream(bo)
              gz.write(raw); gz.close()
              ("gzip", bo.toByteArray)
            case 2 =>
              val d = new java.util.zip.Deflater()
              d.setInput(raw); d.finish()
              val bo = new java.io.ByteArrayOutputStream()
              val buf = new Array[Byte](4096)
              while (!d.finished()) { val m = d.deflate(buf); bo.write(buf, 0, m) }
              d.end(); ("deflate", bo.toByteArray)
            case 3 => ("zstd", com.github.luben.zstd.Zstd.compress(raw))
            case 4 => ("br", ("BR:" + r.getString(2)).getBytes("UTF-8"))
            case _ => ("", raw)
          }
          val envelope = "HTTP/1.1 200 OK\r\n" +
            "Content-Type: text/plain; charset=UTF-8\r\n" +
            (if (coding.nonEmpty) s"Content-Encoding: $coding\r\n" else "") +
            s"Content-Length: ${body.length}\r\n\r\n"
          val msg = new java.io.ByteArrayOutputStream()
          msg.write(envelope.getBytes("UTF-8")); msg.write(body)
          msg.toByteArray
        })
      // ...and the LINK-graph archive (warc_link_graph /
      // warc_domain_centrality): each page carries one link of every
      // resolution shape — absolute, protocol-relative, root-relative,
      // document-relative, mailto, fragment, and a private-suffix
      // absolute — against a base URI with a two-segment path. The
      // oracle recomputes the expected resolved links from the SOURCE
      // columns, so extraction AND resolution must both be right for the
      // hashes to match. NOTE: target_uri here deliberately differs from
      // synthUrl (simple, path-bearing, no userinfo/port cases — those
      // are warc_extract's job).
      writeArchive("docs_links.warc", "response",
        "application/http; msgtype=response",
        payloadOf = { r =>
          val id = r.getLong(0)
          val source = r.getString(4)
          // …and a HEAD block (warc_html_meta / warc_canonical_dedup):
          // title always; meta description absent on %4==3 and
          // attribute-REVERSED on %4==0; rel=canonical absent on %5==0,
          // RELATIVE (resolution must run) on %5==2, href-first attribute
          // order on %4==1 — three pages share each /c/<id DIV 3> key, so
          // the canonical dedup has real collapse to prove. None of these
          // tags match the <a…> patterns, so every link/frontier oracle
          // over this archive is untouched.
          val canonicalTag =
            if (id % 5 == 0) ""
            else {
              val target =
                if (id % 5 == 2) s"/c/${id / 3}"
                else s"https://www.$source.co.uk/c/${id / 3}"
              if (id % 4 == 1) s"""<link href="$target" rel="canonical">"""
              else s"""<link rel="canonical" href="$target">"""
            }
          // %4==3 pages have NO description — but they DO carry a DECOY
          // tag whose name merely EXTENDS the token ("descriptions"): the
          // warc_html_meta oracle expects NULL here, so a bare-prefix
          // name match (the metaContentRaw terminator bug) extracts the
          // decoy and cannot hash-match
          val descTag =
            if (id % 4 == 3)
              s"""<meta name="descriptions" content="decoy $id never extracted">"""
            else if (id % 4 == 0)
              s"""<meta content="summary ${id % 7} of page" name="description">"""
            else s"""<meta name="description" content="summary ${id % 7} of page">"""
          val head = s"<head><title>Page $id - $source</title>$descTag$canonicalTag</head>"
          val body = (s"<html>$head<body><p>crawl page body text</p>" +
            s"""<a href="https://src${id % 7}-news.com/a/b">partner</a>""" +
            s"""<a href="//cdn.$source.net/lib.js">cdn</a>""" +
            s"""<a href="/about/contact.html">about</a>""" +
            s"""<a href='archive/page${id % 5}.html'>archive</a>""" +
            s"""<a href="mailto:team@example.com">mail</a>""" +
            s"""<a href="#top">top</a>""" +
            s"""<a href="https://docs.$source.github.io/guide">docs</a>""" +
            // the SAME docs page under a cosmetically different spelling
            // (case, default port, fragment): hostGraph counts it as a
            // second edge (hosts are case-folded), and the frontier
            // query's canonicalization collapses it back to one URL
            s"""<a href="HTTPS://Docs.$source.GitHub.IO:443/guide#ref">docs again</a>""" +
            "</body></html>").getBytes("UTF-8")
          ("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=UTF-8\r\n\r\n")
            .getBytes("UTF-8") ++ body
        },
        recordIdOf = r => s"<urn:graft:link-${r.getLong(0)}>",
        targetUriOf = r =>
          s"https://www.${r.getString(4)}.co.uk/p/${r.getLong(0)}/index.html")
      // ...and the WAT metadata sidecar (warc_wat_links /
      // warc_wat_meta): per page, one `metadata` record whose JSON
      // payload pre-parses the page — title, three anchor links
      // (absolute / protocol-relative / root-relative, so WAT-side
      // resolution is exercised), one text-less anchor, and one IMG
      // resource the anchors-only default must drop; PLUS the full-
      // enrichment surfaces mirroring docs_links' head shapes: Metas
      // with the %4 description logic (absent-with-"descriptions"-decoy
      // on 3, listed SECOND behind a viewport decoy on 0 — the
      // first-match filter must not grab position 0), Head.Link with
      // the %5 canonical logic (absent / relative / absolute) behind a
      // stylesheet decoy, a %3-cycled Content-Type header, and a
      // %7==3→404 status. The oracles replay every row from the source
      // columns.
      writeArchive("docs_wat.warc", "metadata", "application/json",
        payloadOf = { r =>
          val id = r.getLong(0)
          val source = r.getString(4)
          val desc =
            if (id % 4 == 3)
              s"""{"name": "descriptions", "content": "decoy $id never extracted"}"""
            else s"""{"name": "description", "content": "summary ${id % 7} of page"}"""
          val metas =
            if (id % 4 == 0)
              s"""[{"name": "viewport", "content": "width=device-width"}, $desc]"""
            else s"""[$desc, {"name": "viewport", "content": "width=device-width"}]"""
          val canonicalEntry =
            if (id % 5 == 0) ""
            else {
              val target =
                if (id % 5 == 2) s"/c/${id / 3}"
                else s"https://www.$source.co.uk/c/${id / 3}"
              s"""{"path": "LINK@/href", "url": "$target", "rel": "canonical"}, """
            }
          val headLink =
            s"""[$canonicalEntry{"path": "LINK@/href", "url": "/style.css", "rel": "stylesheet"}]"""
          val status = if (id % 7 == 3) "404" else "200"
          val ct = (id % 3) match {
            case 0 => "text/html; charset=UTF-8"
            case 1 => "text/html"
            case _ => "application/xhtml+xml"
          }
          val scripts =
            s"""[{"path": "SCRIPT@/src", "url": "/js/app-${id % 3}.js"}, """ +
              s"""{"path": "SCRIPT@/src", "url": "https://analytics.example-cdn.com/t.js"}]"""
          (s"""{"Envelope": {"WARC-Header-Metadata": {"WARC-Type": "response"}, """ +
            s""""Payload-Metadata": {"HTTP-Response-Metadata": {""" +
            s""""Response-Message": {"Status": "$status"}, """ +
            s""""Headers": {"Content-Type": "$ct"}, """ +
            s""""HTML-Metadata": {""" +
            s""""Head": {"Title": "Page $id - $source", "Metas": $metas, "Link": $headLink, "Scripts": $scripts}, "Links": [""" +
            s"""{"path": "A@/href", "url": "https://src${id % 7}-news.com/a/b", "text": "partner"}, """ +
            s"""{"path": "A@/href", "url": "//cdn.$source.net/lib.js", "text": "cdn"}, """ +
            s"""{"path": "A@/href", "url": "/about/contact.html", "text": "about"}, """ +
            s"""{"path": "A@/href", "url": "archive/page${id % 5}.html"}, """ +
            s"""{"path": "IMG@/src", "url": "/img/$id.png"}]}}}}}""").getBytes("UTF-8")
        },
        recordIdOf = r => s"<urn:graft:wat-${r.getLong(0)}>",
        targetUriOf = r => {
          val id = r.getLong(0)
          s"https://www.${r.getString(4)}.co.uk/p/$id/index.html"
        })
      // ...and the REVISIT archive (warc_revisit_dedup): every document
      // is one response record carrying a WARC-Payload-Digest; every 4th
      // document is re-fetched later as a `revisit` record — empty
      // payload, the SAME digest (ISO 28500 §6.7's refetch dedup), so
      // ingest must resolve the refetch to its original capture via the
      // digest join instead of seeing an empty page.
      // coordinates of every record the revisit archive writes, recorded
      // AS WRITTEN — (offset = file position of the record's first byte,
      // length = header + payload WITHOUT the trailing CRLFCRLF, exactly
      // the reader's record_offset/record_length contract) — so the
      // docs.cdxj index below carries REAL seek coordinates and
      // cdx_replay_at can fetch records straight off the index
      val revisitCoords =
        scala.collection.mutable.Map.empty[(Long, String), (Long, Long)]
      locally {
        val outs = Array.fill(WarcShards)(new java.io.ByteArrayOutputStream())
        def writeRec(out: java.io.ByteArrayOutputStream, warcType: String,
            recordId: String, uri: String, date: String, digest: String,
            payload: Array[Byte], extraHeaders: String = ""): (Long, Long) = {
          val header =
            s"WARC/1.0\r\nWARC-Type: $warcType\r\n" +
              s"WARC-Record-ID: $recordId\r\n" +
              s"WARC-Date: $date\r\n" +
              s"WARC-Target-URI: $uri\r\n" +
              s"WARC-Payload-Digest: $digest\r\n" +
              extraHeaders +
              "Content-Type: application/http; msgtype=response\r\n" +
              s"Content-Length: ${payload.length}\r\n\r\n"
          val offset = out.size().toLong
          out.write(header.getBytes("UTF-8")); out.write(payload)
          out.write("\r\n\r\n".getBytes("UTF-8"))
          (offset, out.size().toLong - offset - 4L)
        }
        rows.foreach { r =>
          val id = r.getLong(0)
          val out = outs((id % WarcShards).toInt)
          val digest = s"sha1:GRAFT$id"
          val msg = "HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\n"
            .getBytes("UTF-8") ++ r.getString(2).getBytes("UTF-8")
          // every 8th-plus-1 response is marked length-truncated (the
          // Common Crawl ~1 MB cut marker) — warc_truncated_census
          // oracles the column end to end through the source
          revisitCoords((id, "response")) =
            writeRec(out, "response", s"<urn:graft:doc-$id>", r.getString(1),
              "2026-01-01T00:00:00Z", digest, msg,
              extraHeaders =
                if (id % 8 == 1) "WARC-Truncated: length\r\n" else "")
          if (id % 4 == 0)
            revisitCoords((id, "revisit")) =
              writeRec(out, "revisit", s"<urn:graft:rev-$id>", r.getString(1),
                "2026-02-01T00:00:00Z", digest, Array.empty[Byte])
        }
        val p = java.nio.file.Paths.get(d, "docs_revisit.warc")
        java.nio.file.Files.createDirectories(p)
        outs.zipWithIndex.foreach { case (o, k) =>
          java.nio.file.Files.write(p.resolve(f"part-$k%03d.warc"), o.toByteArray)
        }
      }
      // ...and the CDX-J INDEX of that revisit archive (cdx_read /
      // cdx_host_lookup): one `urlkey ts {json}` line per capture in the
      // pywb/cc-index convention — responses at the Jan capture time,
      // every 4th doc's revisit at the Feb refetch with mime
      // 'warc/revisit' and status '-' (the format's no-status marker; the
      // reader's try_cast turns it NULL). The urlkey strings replay the
      // four synthUrl SURT shapes verbatim, so the reader's parse — NOT
      // the fixture — is what the oracle checks. One trailing blank line
      // per shard proves the blank-drop.
      locally {
        val outs = Array.fill(WarcShards)(new StringBuilder())
        def surtOf(id: Long, source: String): String = (id % 4) match {
          case 0 => s"com,$source-news)/a/b/c?x=1"
          case 1 => s"uk,co,$source,blog)/post/$id"
          case 2 => s"org,$source-cdn:8080)/dl/v2"
          case _ => s"net,$source,files)/"
        }
        rows.foreach { r =>
          val id = r.getLong(0)
          val shard = (id % WarcShards).toInt
          val key = surtOf(id, r.getString(4))
          val url = r.getString(1)
          // REAL coordinates of the capture inside docs_revisit.warc —
          // length/offset are the reader's record_length/record_offset
          // (cc-index stores exactly this), so loadWarcRanges can seek
          // any indexed capture (cdx_replay_at exercises it)
          val (rOff, rLen) = revisitCoords((id, "response"))
          val fn = f"part-$shard%03d.warc"
          outs(shard).append(
            s"""$key 20260101000000 {"url": "$url", "mime": "text/plain", """ +
              s""""status": "200", "digest": "sha1:GRAFT$id", "length": "$rLen", """ +
              s""""offset": "$rOff", "filename": "$fn"}\n""")
          if (id % 4 == 0) {
            val (vOff, vLen) = revisitCoords((id, "revisit"))
            outs(shard).append(
              s"""$key 20260201000000 {"url": "$url", "mime": "warc/revisit", """ +
                s""""status": "-", "digest": "sha1:GRAFT$id", "length": "$vLen", """ +
                s""""offset": "$vOff", "filename": "$fn"}\n""")
          }
        }
        val p = java.nio.file.Paths.get(d, "docs.cdxj")
        java.nio.file.Files.createDirectories(p)
        outs.zipWithIndex.foreach { case (o, k) =>
          java.nio.file.Files.write(p.resolve(f"part-$k%03d.cdxj"),
            (o.toString + "\n").getBytes("UTF-8"))
        }
      }
      d
    })

  /** The shared crawl-frontier construction of warc_crawl_frontier /
    * warc_frontier_schedule — crawled pages → outlinks ∪ the
    * sitemap-discovered branch → canonicalize → robots gate → seen-key
    * probe; returns (rule table, frontier). Both queries RECOMPUTE it
    * (one shared builder, no caching — the benchmark-honesty
    * convention). The per-host robots policy carries all three
    * directive families: the /a/ gate on odd hosts (an EMPTY Disallow on
    * even ones — the RFC 9309 "no restriction" shape), a Crawl-delay of
    * (k%3)+1 seconds, and the Sitemap pointer. */
  /** `linksIn`: an optional pre-extracted (target_uri, link_url) outlink
    * frame. warc_frontier_schedule consumes the SAME WARC extraction
    * twice inside one query (frontier construction here + the centrality
    * edge graph) — passing one lazily-materialized extraction makes the
    * archive scan + per-anchor regex run once per execution instead of
    * twice (guide §2.4 common subexpression). Recomputation still happens
    * per query invocation — nothing is shared across queries. */
  private def crawlFrontierParts(
      s: SparkSession, dir: String,
      linksIn: Option[DataFrame] = None): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.types.StringType
    val pages = graft.sources.Loader
      .load(s, warcFixture(s, dir) + "/docs_links.warc")
      .select("target_uri", "payload")
    val robots = Sampling.localFrame(s,
      Seq("host" -> StringType, "content" -> StringType),
      (0 until 7).map { k =>
        org.apache.spark.sql.Row(s"src$k-news.com",
          (if (k % 2 == 1) "User-agent: *\nDisallow: /a/"
           else "User-agent: *\nDisallow:") +
            s"\nCrawl-delay: ${k % 3 + 1}" +
            s"\nSitemap: https://src$k-news.com/sitemap.xml")
      })
    // CACHE the parsed rule table: it is hosts-dictionary-sized, and the
    // composed query evaluates it repeatedly (the sitemap-discovery leg,
    // agent selection's two passes, the schedule's crawlDelays) — without
    // materialization each consumer re-runs the whole parse subtree, pure
    // constant overhead that bench r9 measured at ~2× the query
    val rules = graft.ops.Robots.robotsParse(robots, "host", "content").cache()
    // the fetched sitemap bodies, keyed by their robots-declared URL
    val smBodies = Sampling.localFrame(s,
      Seq("sitemap_url" -> StringType, "xml" -> StringType),
      (0 until 7).map { k =>
        org.apache.spark.sql.Row(s"https://src$k-news.com/sitemap.xml",
          s"<urlset><url><loc>https://src$k-news.com/s/$k</loc></url></urlset>")
      })
    val smDiscovered = graft.ops.Sitemap.sitemapUrls(
      graft.ops.Robots.sitemaps(rules).join(smBodies, Seq("sitemap_url")),
      "xml", "link_url")
      .select("link_url")
    val canon = Url.canonicalizeUrls(
      linksIn.getOrElse(
        graft.ops.LinkGraph.extractLinks(pages, "payload", "target_uri"))
        .select("link_url")
        .unionByName(smDiscovered),
      "link_url")
      .select("url_canonical").distinct()
    val allowed = graft.ops.Robots.robotsAllowed(
      canon, "url_canonical", rules, "graftbot")
      .filter(col("allowed")).drop("allowed")
    val seen = Dedup.keyIndexFit(
      rt(s, dir, "documents").select(
        concat(lit("https://cdn."), col("source"), lit(".net/lib.js")).as("u")),
      "u")
    (rules, Dedup.keyIndexApply(allowed, "url_canonical", seen))
  }

  private val bpeModels =
    scala.collection.concurrent.TrieMap.empty[String, Bpe.BpeModel]
  private def bpeFitted(s: SparkSession, dir: String): Bpe.BpeModel =
    bpeModels.getOrElseUpdate(dir, {
      val m = Bpe.bpeFit(
        rtKernel(s, dir, "documents").filter(col("lang") === "en"), "text",
        numMerges = 24)
      // a FRESH directory per fit: a shared path would let interleaved
      // fits for two sf dirs cross their save/load round trips and cache
      // the wrong model permanently
      val d = java.nio.file.Files.createTempDirectory("graft_bpe_model").toString
      m.save(d)
      Bpe.BpeModel.load(d)
    })

  private val bpePretokModels =
    scala.collection.concurrent.TrieMap.empty[String, Bpe.BpeModel]
  private def bpePretokFitted(s: SparkSession, dir: String): Bpe.BpeModel =
    bpePretokModels.getOrElseUpdate(dir, {
      val m = Bpe.bpeFit(
        rtKernel(s, dir, "documents").filter(col("lang") === "en"), "text",
        numMerges = 24, pretok = Some(Bpe.Gpt2PretokPattern))
      val d = java.nio.file.Files.createTempDirectory("graft_bpe_pretok").toString
      m.save(d)
      Bpe.BpeModel.load(d)
    })

  /** The EXTERNAL-tokenizer fixture: a GPT-2-format `merges.txt` (with
    * `#version:` header and byte-alphabet 'Ġ…' tokens, U+0120 pinned by
    * escape per the CharsetMarker convention) and `vocab.json` written
    * verbatim to a temp dir once per JVM, then loaded through the
    * PRODUCTION import path ([[Bpe.loadGpt2Merges]]/[[Bpe.loadGpt2Vocab]])
    * — the file parse, not a hand-built model, is what the queries run.
    * The vocab covers only the merge products plus a few single symbols,
    * so most tokens encode UNK (−1) and the id probe is genuinely
    * exercised both ways. */
  private lazy val gpt2External: (Bpe.BpeModel, Seq[(String, Int)]) = {
    val G = "\u0120" // 'G-dot' U+0120, the byte alphabet's space
    val d = java.nio.file.Files.createTempDirectory("graft_gpt2")
    val merges =
      ("#version: 0.2" +:
        Seq("t h", "i n", "a n", "r e", "o n", "e r", "th e",
          s"$G t", s"$G a", s"$G s", s"$G o", s"$G w",
          s"${G}t h", s"${G}th e", s"${G}a n", s"${G}an d",
          "e n", "in g", "o u", s"$G (")) // a punctuation-glued merge too
        .mkString("", "\n", "\n") + "\n" // trailing blank line: skipped
    val vocab =
      s"""{"the": 0, "${G}the": 1, "${G}and": 2, "in": 3, "ing": 4,
         |"t": 5, "h": 6, "e": 7, "a": 8, "$G": 9, "er": 10, "on": 11,
         |"${G}t": 12, "${G}a": 13, "ou": 14, "an": 15, "re": 16,
         |"en": 17, "$G(": 18}""".stripMargin
    java.nio.file.Files.writeString(d.resolve("merges.txt"), merges)
    java.nio.file.Files.writeString(d.resolve("vocab.json"), vocab)
    (Bpe.loadGpt2Merges(d.resolve("merges.txt").toString),
      Bpe.loadGpt2Vocab(d.resolve("vocab.json").toString))
  }

  /** The tiktoken-format fixture (GPT-4-family rank files): every single
    * byte at rank = byte value (the cl100k shape) plus 15 multi-byte
    * tokens, written verbatim as `base64(bytes) rank` lines and loaded
    * through the PRODUCTION parser ([[Bpe.loadTiktoken]]) — the base64
    * decode, merge-table RECOVERY from ranks, and byte-alphabet mapping
    * are what the queries exercise, not a hand-built model. */
  private lazy val tiktokenExternal: (Bpe.BpeModel, Seq[(String, Int)]) = {
    val d = java.nio.file.Files.createTempDirectory("graft_tiktoken")
    def b64(s: String): String =
      java.util.Base64.getEncoder.encodeToString(s.getBytes("ISO-8859-1"))
    val singles = (0 until 256).map(b =>
      java.util.Base64.getEncoder.encodeToString(Array(b.toByte)) + s" $b")
    val multis = Seq(
      b64("th") + " 256", b64("in") + " 257", b64("an") + " 258",
      b64("re") + " 259", b64(" t") + " 260", b64(" a") + " 261",
      b64("the") + " 262", b64(" th") + " 263", b64(" the") + " 264",
      b64("ing") + " 265", b64("and") + " 266", b64("er") + " 267",
      b64("on") + " 268", b64("en") + " 269", b64("ou") + " 270")
    java.nio.file.Files.writeString(d.resolve("ranks.tiktoken"),
      (singles ++ multis).mkString("\n") + "\n")
    Bpe.loadTiktoken(d.resolve("ranks.tiktoken").toString)
  }

  /** The SentencePiece fixture: a hand-assembled binary ModelProto
    * (<unk> + '▁' + a–z + 18 BPE-trained pieces + the full 256-entry
    * `<0xNN>` byte_fallback table appended LAST, with decoy proto
    * fields the walk must skip) loaded through the PRODUCTION parser
    * ([[Bpe.loadSentencePiece]]) and converted to a merge table by
    * [[Bpe.sentencePieceModel]]'s rank recovery. The vocab ids are
    * piece INDEXES — the model's token-id convention. */
  /** Binary SentencePiece ModelProto bytes for a piece table — shared by
    * the BPE-trained fixture ([[spExternal]]) and the Unigram fixture
    * ([[spUnigramExternal]]) so both load through the PRODUCTION parser
    * from identical wire bytes. A decoy top-level field is appended so
    * the fixture never passes by accident of being minimal. */
  private def buildSpModelBytes(pieces: Seq[(String, Float, Int)]): Array[Byte] = {
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
      inner.write(0x15)
      val bits = java.lang.Float.floatToIntBits(s)
      inner.write(bits & 0xff); inner.write((bits >> 8) & 0xff)
      inner.write((bits >> 16) & 0xff); inner.write((bits >> 24) & 0xff)
      if (k != 1) { inner.write(0x18); varint(inner, k) }
      bos.write(0x0A); varint(bos, inner.size); inner.writeTo(bos)
    }
    bos.write(0x12); varint(bos, 3); bos.write(Array[Byte](1, 2, 3)) // decoy
    bos.toByteArray
  }

  private lazy val spExternal: (Bpe.BpeModel, Seq[Bpe.SpPiece]) = {
    val W = "▁" // '▁', SP's word-boundary marker
    val pieces: Seq[(String, Float, Int)] =
      Seq(("<unk>", 0f, 2), (W, -1f, 1)) ++
        ('a' to 'z').zipWithIndex.map { case (c, i) => (c.toString, -2f - i, 1) } ++
        Seq("th", "in", "an", "er", "on", "en", "re", "ou",
          s"${W}t", s"${W}a", s"${W}s", s"${W}w", s"${W}o",
          s"${W}th", s"${W}the", s"${W}an", s"${W}and", "ing")
          .zipWithIndex.map { case (p, i) => (p, -30f - i, 1) } ++
        // the byte_fallback table (type 6), appended LAST so the piece
        // indexes of everything above stay stable
        (0 until 256).map(k => (f"<0x$k%02X>", 0f, 6))
    val d = java.nio.file.Files.createTempDirectory("graft_sp")
    val mp = d.resolve("sp.model")
    java.nio.file.Files.write(mp, buildSpModelBytes(pieces))
    val loaded = Bpe.loadSentencePiece(mp.toString)
    (Bpe.sentencePieceModel(loaded), loaded)
  }
  private def spVocab: Seq[(String, Int)] =
    spExternal._2.zipWithIndex.map { case (p, i) => (p.piece, i) }

  /** The UNIGRAM-trained SentencePiece fixture (T5/mT5/Gemma-family
    * shape): log-prob scores NOT in index order — no merge history
    * exists, so [[Bpe.sentencePieceModel]] rejects this file and only
    * Viterbi inference ([[Bpe.unigramTokens]]) can run it. Deliberate
    * coverage: an exact score tie (s(qu) = s(q)+s(u) = −10, the
    * longer-piece rule), pieces where maximum-likelihood beats
    * greedy-longest ("the" vs "th"+"e"), no digit/uppercase pieces (UNK
    * → byte-fallback exercise), and the full 256-entry byte table
    * appended last. Loaded through the production protobuf parser. */
  private lazy val spUnigramExternal: Seq[Bpe.SpPiece] = {
    val W = "▁"
    val singles = ('a' to 'z').zipWithIndex.map { case (c, i) =>
      (c.toString, -4.0f - (i % 5) * 0.25f, 1)
    }
    val pieces: Seq[(String, Float, Int)] =
      Seq(("<unk>", 0f, 2), (W, -3.0f, 1)) ++
        singles.filterNot { case (p, _, _) => p == "q" || p == "u" } ++
        Seq(("q", -5.0f, 1), ("u", -5.0f, 1), ("qu", -10.0f, 1),
          ("th", -6.0f, 1), ("he", -6.25f, 1), ("the", -7.0f, 1),
          ("in", -6.0f, 1), ("ing", -8.0f, 1), ("an", -6.0f, 1),
          ("and", -8.25f, 1), ("er", -6.5f, 1), ("re", -6.5f, 1),
          ("on", -6.25f, 1), ("en", -6.25f, 1), ("at", -6.25f, 1),
          ("es", -6.5f, 1), ("or", -6.5f, 1), ("ti", -6.5f, 1),
          ("st", -6.5f, 1), ("ar", -6.5f, 1),
          (s"${W}t", -6.5f, 1), (s"${W}a", -5.5f, 1), (s"${W}s", -6.0f, 1),
          (s"${W}o", -6.0f, 1), (s"${W}w", -6.25f, 1), (s"${W}c", -6.25f, 1),
          (s"${W}th", -7.0f, 1), (s"${W}the", -7.5f, 1), (s"${W}an", -7.25f, 1),
          (s"${W}and", -8.0f, 1), (s"${W}of", -7.5f, 1), (s"${W}to", -7.5f, 1),
          (s"${W}is", -7.75f, 1), (s"${W}in", -7.25f, 1)) ++
        (0 until 256).map(k => (f"<0x$k%02X>", 0f, 6))
    val d = java.nio.file.Files.createTempDirectory("graft_sp_uni")
    val mp = d.resolve("unigram.model")
    java.nio.file.Files.write(mp, buildSpModelBytes(pieces))
    Bpe.loadSentencePiece(mp.toString)
  }

  /** Shared multimodal fixture builders — mm_media_duration and
    * mm_ingest_profile pin the SAME FLAC/Opus byte constructions; one
    * builder keeps them provably identical (round-14 review: duplicated
    * hex literals would let a future bit-layout fix miss the twin). */
  private def fxHx(h: String): Array[Byte] =
    h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
  private def fxBe32(v: org.apache.spark.sql.Column) =
    unhex(lpad(hex(v), 8, "0"))
  private def fxLe32(v: org.apache.spark.sql.Column) = unhex(concat(
    lpad(hex(v.bitwiseAND(lit(255L))), 2, "0"),
    lpad(hex(shiftright(v, 8).bitwiseAND(lit(255L))), 2, "0"),
    lpad(hex(shiftright(v, 16).bitwiseAND(lit(255L))), 2, "0"),
    lpad(hex(shiftright(v, 24).bitwiseAND(lit(255L))), 2, "0")))
  private def fxLe64(v: org.apache.spark.sql.Column) = concat(
    fxLe32(v.bitwiseAND(lit(0xffffffffL))), fxLe32(shiftright(v, 32)))
  /** FLAC, one last-flag STREAMINFO: rate 44100 in the u20, stereo
    * 16-bit channel/bps bits (NONZERO between rate and count — an
    * offset bug cannot hash-match), the u32 total at offsets 14–17. */
  private def fxFlac(total: org.apache.spark.sql.Column) = concat(
    lit(fxHx("664C6143" + "80000022" + "00" * 10 + "0AC4" + "42" + "F0")),
    fxBe32(total), lit(fxHx("00" * 16)))
  /** Ogg Opus id page (pre-skip 312, the 48 kHz granule clock) — pair
    * with [[fxOggEosPage]]. 47 bytes. */
  private val fxOpusIdPage: Array[Byte] = fxHx("4F676753" + "0002" + "00" * 8 +
    "01000000" + "00000000" + "00000000" + "01" + "13" +
    "4F70757348656164" + "01" + "02" + "3801" + "80BB0000" + "0000" + "00")
  /** A one-segment Ogg EOS page with the given granule. 29 bytes. */
  private def fxOggEosPage(granule: org.apache.spark.sql.Column) = concat(
    lit(fxHx("4F676753" + "0004")), fxLe64(granule),
    lit(fxHx("01000000" + "01000000" + "00000000" + "01" + "01" + "AA")))
  /** WebM: EBML header (DocType 'webm' body — nonzero inter-field
    * bytes) + a SIZED Segment whose Info carries an explicit be32
    * TimestampScale, a decoy MuxingApp element, and a float32 Duration
    * of 1000 ticks → ns = 1000 × scale. 45 bytes; shared by
    * mm_media_duration's %32==15 arm and mm_ingest_profile's webm arm
    * (one builder, so the twins cannot desynchronize). */
  private def fxWebmSized(scale: org.apache.spark.sql.Column) = concat(
    lit(fxHx("1A45DFA3" + "87" + "4282" + "84" + "7765626D")),
    lit(fxHx("18538067" + "9C" + // sized Segment
      "1549A966" + "97" + // Info, 23-byte body
      "2AD7B1" + "84")), // TimestampScale, be32 …
    fxBe32(scale),
    lit(fxHx("4D80" + "85" + "6772616674" + // MuxingApp "graft" decoy
      "4489" + "84" + "447A0000"))) // Duration float32 = 1000.0

  /** Encrypted-PDF fixtures for `mm_pdf_encrypted`: a WRITER-side
    * implementation of ISO 32000-1 §7.6.3 (Algorithms 2/3/4/5, RC4,
    * AES-128-CBC) independent of the kernel's [[graft.functions]]
    * decryptor — the kernel must round-trip bytes it did not produce,
    * and the oracle then asserts the KNOWN plaintext from arithmetic
    * alone. Six constant payloads: RC4-40/R2, RC4-128/R3, AESV2/R4,
    * AES-256/R6 (all owner-password-only — the EMPTY user password
    * validates; R6 through ISO 32000-2's Algorithm 2.B hardening), an
    * R3 file with a REAL user password (must stay NULL — never
    * ciphertext-as-text), and an unencrypted control. */
  private lazy val encPdfFixtures: IndexedSeq[Array[Byte]] = {
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
    def padPwd(p: String): Array[Byte] = (p.getBytes("ISO-8859-1") ++ pad).take(32)
    def xorKey(k: Array[Byte], i: Int): Array[Byte] = k.map(b => (b ^ i).toByte)
    def le32(v: Int): Array[Byte] =
      Array(v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    val id0 = Array.tabulate(16)(i => (i * 11 + 5).toByte)
    def computeO(owner: String, user: String, r: Int, kl: Int): Array[Byte] = {
      var h = md5(padPwd(owner))
      if (r >= 3) for (_ <- 0 until 50) h = md5(h)
      val ok = h.take(kl)
      var enc = rc4(ok, padPwd(user))
      if (r >= 3) for (i <- 1 to 19) enc = rc4(xorKey(ok, i), enc)
      enc
    }
    def fileKey(o: Array[Byte], p: Int, r: Int, kl: Int, user: String): Array[Byte] = {
      var k = md5(padPwd(user) ++ o ++ le32(p) ++ id0).take(kl)
      if (r >= 3) for (_ <- 0 until 50) k = md5(k).take(kl)
      k
    }
    def computeU(key: Array[Byte], r: Int): Array[Byte] =
      if (r == 2) rc4(key, pad)
      else {
        var enc = rc4(key, md5(pad ++ id0))
        for (i <- 1 to 19) enc = rc4(xorKey(key, i), enc)
        enc ++ Array.fill(16)(0xcd.toByte)
      }
    def objKey(key: Array[Byte], num: Int, aes: Boolean): Array[Byte] = {
      val salt = if (aes) Array[Byte](0x73, 0x41, 0x6c, 0x54)
        else Array.emptyByteArray
      md5(key ++ Array[Byte](num.toByte, (num >> 8).toByte, (num >> 16).toByte,
        0, 0) ++ salt).take(math.min(key.length + 5, 16))
    }
    def aesEnc(key16: Array[Byte], plain: Array[Byte]): Array[Byte] = {
      val iv = Array.tabulate(16)(i => (i * 29 + 7).toByte)
      val padN = 16 - (plain.length % 16)
      val padded = plain ++ Array.fill(padN)(padN.toByte)
      val c = javax.crypto.Cipher.getInstance("AES/CBC/NoPadding")
      c.init(javax.crypto.Cipher.ENCRYPT_MODE,
        new javax.crypto.spec.SecretKeySpec(key16, "AES"),
        new javax.crypto.spec.IvParameterSpec(iv))
      iv ++ c.doFinal(padded)
    }
    def hxs(bs: Array[Byte]): String =
      "<" + bs.map("%02X".format(_)).mkString + ">"
    def raw(bs: Array[Byte]): String = new String(bs.map(b => (b & 0xff).toChar))
    def build(v: Int, r: Int, bits: Int, user: String, aes: Boolean,
        text: String, metaTitle: String): Array[Byte] = {
      val kl = if (r == 2) 5 else bits / 8
      val o = computeO("own3r", user, r, kl)
      val key = fileKey(o, -3904, r, kl, user)
      val u = computeU(key, r)
      def enc(num: Int, data: Array[Byte]): Array[Byte] =
        if (aes) aesEnc(objKey(key, num, aes = true), data)
        else rc4(objKey(key, num, aes = false), data)
      val content = enc(1, s"BT ($text) Tj ET".getBytes("ISO-8859-1"))
      val titleEnc = enc(2, metaTitle.getBytes("ISO-8859-1"))
      val cf = if (v == 4)
        " /CF << /StdCF << /CFM /" + (if (aes) "AESV2" else "V2") +
          " /AuthEvent /DocOpen >> >> /StmF /StdCF /StrF /StdCF"
      else ""
      ("%PDF-1.6\n" +
        s"1 0 obj\n<< /Length ${content.length} >>\nstream\n" + raw(content) +
        "\nendstream\nendobj\n" +
        s"2 0 obj\n<< /Title ${hxs(titleEnc)} >>\nendobj\n" +
        s"4 0 obj\n<< /Filter /Standard /V $v /R $r /Length $bits /P -3904" +
        s" /O ${hxs(o)} /U ${hxs(u)}$cf >>\nendobj\n" +
        s"trailer\n<< /Info 2 0 R /Encrypt 4 0 R /ID [${hxs(id0)} ${hxs(id0)}] >>" +
        "\n%%EOF\n").toCharArray.map(_.toByte)
    }
    val plain = ("%PDF-1.6\n" +
      "1 0 obj\n<< >>\nstream\nBT (plain control) Tj ET\nendstream\nendobj\n" +
      "2 0 obj\n<< /Title (PlainTitle) >>\nendobj\n" +
      "trailer\n<< /Info 2 0 R >>\n%%EOF\n").getBytes("ISO-8859-1")
    // AES-256 / R6 (ISO 32000-2): Algorithm 2.B hardening, empty user
    // password, the file key decrypting from /UE — another independent
    // writer-side transcription of the algorithm
    def sha(alg: String, xs: Array[Byte]): Array[Byte] =
      java.security.MessageDigest.getInstance(alg).digest(xs)
    def hash2B(pwd: Array[Byte], salt: Array[Byte]): Array[Byte] = {
      var k = sha("SHA-256", pwd ++ salt)
      var e: Array[Byte] = null
      var i = 0
      var cont = true
      while (cont) {
        val k1 = Array.fill(64)(pwd ++ k).flatten
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
    def buildV5(text: String, metaTitle: String): Array[Byte] = {
      val vs = Array.tabulate(8)(i => (i * 9 + 3).toByte)
      val ks = Array.tabulate(8)(i => (i * 7 + 6).toByte)
      val hashU = hash2B(Array.emptyByteArray, vs)
      val ik = hash2B(Array.emptyByteArray, ks)
      val fileKey = Array.tabulate(32)(i => (i * 11 + 19).toByte)
      def cbc(key: Array[Byte], iv: Array[Byte], mode: Int,
          data: Array[Byte]): Array[Byte] = {
        val c = javax.crypto.Cipher.getInstance("AES/CBC/NoPadding")
        c.init(mode, new javax.crypto.spec.SecretKeySpec(key, "AES"),
          new javax.crypto.spec.IvParameterSpec(iv))
        c.doFinal(data)
      }
      val ue = cbc(ik, new Array[Byte](16),
        javax.crypto.Cipher.ENCRYPT_MODE, fileKey)
      def encData(plain: Array[Byte]): Array[Byte] = {
        val iv = Array.tabulate(16)(i => (i * 23 + 9).toByte)
        val padN = 16 - (plain.length % 16)
        iv ++ cbc(fileKey, iv, javax.crypto.Cipher.ENCRYPT_MODE,
          plain ++ Array.fill(padN)(padN.toByte))
      }
      val content = encData(s"BT ($text) Tj ET".getBytes("ISO-8859-1"))
      val titleEnc = encData(metaTitle.getBytes("ISO-8859-1"))
      ("%PDF-2.0\n" +
        s"1 0 obj\n<< /Length ${content.length} >>\nstream\n" + raw(content) +
        "\nendstream\nendobj\n" +
        s"2 0 obj\n<< /Title ${hxs(titleEnc)} >>\nendobj\n" +
        s"4 0 obj\n<< /Filter /Standard /V 5 /R 6 /Length 256 /P -3904" +
        s" /O ${hxs(hashU ++ vs ++ ks)} /U ${hxs(hashU ++ vs ++ ks)}" +
        s" /UE ${hxs(ue)} /OE ${hxs(Array.fill[Byte](32)(0))}" +
        " /CF << /StdCF << /CFM /AESV3 /AuthEvent /DocOpen >> >>" +
        " /StmF /StdCF /StrF /StdCF >>\nendobj\n" +
        s"trailer\n<< /Info 2 0 R /Encrypt 4 0 R /ID [${hxs(id0)} ${hxs(id0)}] >>" +
        "\n%%EOF\n").toCharArray.map(_.toByte)
    }
    IndexedSeq(
      build(1, 2, 40, "", aes = false, "forty bit secret stream", "Enc40"),
      build(2, 3, 128, "", aes = false, "rc4 128 secret stream", "Enc128"),
      build(4, 4, 128, "", aes = true, "aes cbc secret stream", "EncAES"),
      build(2, 3, 128, "s3cret", aes = false, "hidden text", "EncLocked"),
      buildV5("aes 256 r6 secret stream", "Enc256"),
      plain)
  }

  /** events.parquet's ts encoding is generation-dependent: older drops
    * store TIMESTAMP(NANOS), which Spark's
    * vectorized reader rejects — with spark.sql.legacy.parquet.nanosAsLong=
    * true (set by Verify/Bench sessions) those load as LONG nanos-since-epoch
    * and are converted here with integer division (a double division would
    * lose precision — 2024 epoch-nanos exceed 2^53; DuckDB does the same
    * nanos→micros truncation on read). Newer drops store TIMESTAMP(MICROS),
    * which both engines read natively — only the NTZ cast applies. The
    * branch is on the LOADED schema, so either generation works. */
  private def rtEvents(s: SparkSession, dir: String): DataFrame = {
    val df = rt(s, dir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")).cast("timestamp_ntz"))
      case _ =>
        df.withColumn("ts", col("ts").cast("timestamp_ntz"))
    }
  }

  /** lineitem keys + qty with nulls injected where l_orderkey % 7 = 0. */
  private def qtyWithNulls(s: SparkSession, dir: String): DataFrame =
    rt(s, dir, "lineitem").select(
      col("l_orderkey"),
      col("l_linenumber"),
      when(col("l_orderkey") % 7 === 0, lit(null).cast("double"))
        .otherwise(col("l_quantity"))
        .as("qty"))

  private val qtyNullsSql =
    "SELECT l_orderkey, l_linenumber, CASE WHEN l_orderkey % 7 = 0 THEN NULL ELSE l_quantity END AS qty FROM lineitem"

  /** documents ∪ exact copies of every 5th doc under doc_id+10000 — gives
    * the dedup queries known duplicates to find. */
  private def docsWithDups(s: SparkSession, dir: String): DataFrame = {
    val d = rt(s, dir, "documents")
    d.unionByName(
      d.filter(col("doc_id") % 5 === 0).withColumn("doc_id", col("doc_id") + 10000))
  }

  private val docsWithDupsSql =
    """SELECT * FROM documents
      |UNION ALL
      |SELECT doc_id + 10000 AS doc_id, text, lang, source, n_chars
      |FROM documents WHERE doc_id % 5 = 0""".stripMargin

  /** True n-gram (n=3) Jaccard ≥ 0.8 pairs over docsWithDups — the oracle
    * for both the exact inverted-index dedup and the MinHash-prefilter +
    * exact-verify dedup (the prefilter's recall at these sizes is 1). */
  private val ngramJaccardOracleSql =
    s"""WITH u AS ($docsWithDupsSql),
       |g AS (SELECT doc_id,
       |             list_distinct([substr(text, i, 3) FOR i IN range(1, len(text) - 1)]) AS gs
       |      FROM u)
       |SELECT id_a, id_b, jaccard FROM (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |         CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
       |           / (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs))) AS jaccard
       |  FROM g a JOIN g b ON a.doc_id < b.doc_id)
       |WHERE jaccard >= 0.8""".stripMargin

  /** The synthetic source URL of the text_url* queries — four shapes keyed
    * on doc_id % 4 (query string / multi-part suffix / userinfo+port /
    * bare host), derived only from columns both engines read. */
  private def synthUrl: org.apache.spark.sql.Column =
    when(col("doc_id") % 4 === 0,
      concat(lit("https://www."), col("source"), lit("-news.com/a/b/c?x=1")))
      .when(col("doc_id") % 4 === 1,
        concat(lit("http://blog."), col("source"), lit(".co.uk/post/"), col("doc_id")))
      .when(col("doc_id") % 4 === 2,
        concat(lit("https://login:pw@"), col("source"), lit("-cdn.org:8080/dl/v2")))
      .otherwise(concat(lit("ftp://files."), col("source"), lit(".net")))

  /** The synthetic HOST of the text_url_psl query — twelve shapes keyed on
    * doc_id % 12 exercising every PSL rule kind: plain gTLD, two-label
    * exact (co.uk), three-label wildcard (*.kawasaki.jp — the public
    * suffix eats a host label), a wildcard's city EXCEPTION, a
    * wildcard-only TLD (*.ck), the !www.ck exception itself, a
    * PRIVATE-section operator suffix (github.io: each user site is its
    * own registered domain under the with-private rule set), a PUNYCODE
    * host against a rule upstream writes in Unicode (公司.cn →
    * xn--55qx5d.cn — distinguishable from the plain `cn` fallback
    * because the suffix is two labels deep), and four shapes that only
    * resolve correctly under the round-11 full-snapshot rules: a PRIVATE
    * WILDCARD with a multi-label base (*.compute.amazonaws.com — an EC2
    * VM hostname), a PRIVATE MULTI-LEVEL exact rule (the four-label
    * dualstack S3 endpoint), a three-label ICANN locality registry
    * (k12.ca.us), and an ICANN wildcard with a TWO-label base
    * (*.sch.uk). Under the old subset each of the four mis-split to the
    * shorter registry suffix, so the dump-replaying oracle pins the
    * expansion. */
  private def synthPslHost: org.apache.spark.sql.Column =
    when(col("doc_id") % 12 === 0, concat(lit("www."), col("source"), lit("-news.com")))
      .when(col("doc_id") % 12 === 1, concat(lit("blog."), col("source"), lit(".co.uk")))
      .when(col("doc_id") % 12 === 2, concat(lit("a.b."), col("source"), lit(".kawasaki.jp")))
      .when(col("doc_id") % 12 === 3, lit("www.city.kawasaki.jp"))
      .when(col("doc_id") % 12 === 4, concat(lit("x."), col("source"), lit(".ck")))
      .when(col("doc_id") % 12 === 5, lit("www.ck"))
      .when(col("doc_id") % 12 === 6, concat(lit("docs."), col("source"), lit(".github.io")))
      .when(col("doc_id") % 12 === 7, concat(lit("biz."), col("source"), lit(".xn--55qx5d.cn")))
      .when(col("doc_id") % 12 === 8,
        concat(lit("api.ec2-1-2-3-4."), col("source"), lit(".compute.amazonaws.com")))
      .when(col("doc_id") % 12 === 9,
        concat(lit("cdn."), col("source"), lit("-bucket.s3.dualstack.eu-west-1.amazonaws.com")))
      .when(col("doc_id") % 12 === 10,
        concat(lit("lincoln."), col("source"), lit(".k12.ca.us")))
      .otherwise(concat(lit("portal.www."), col("source"), lit("-academy.sch.uk")))

  /** SQL twin of [[synthPslHost]]. */
  private val synthPslHostSql =
    """CASE doc_id % 12
      |  WHEN 0 THEN 'www.' || source || '-news.com'
      |  WHEN 1 THEN 'blog.' || source || '.co.uk'
      |  WHEN 2 THEN 'a.b.' || source || '.kawasaki.jp'
      |  WHEN 3 THEN 'www.city.kawasaki.jp'
      |  WHEN 4 THEN 'x.' || source || '.ck'
      |  WHEN 5 THEN 'www.ck'
      |  WHEN 6 THEN 'docs.' || source || '.github.io'
      |  WHEN 7 THEN 'biz.' || source || '.xn--55qx5d.cn'
      |  WHEN 8 THEN 'api.ec2-1-2-3-4.' || source || '.compute.amazonaws.com'
      |  WHEN 9 THEN 'cdn.' || source || '-bucket.s3.dualstack.eu-west-1.amazonaws.com'
      |  WHEN 10 THEN 'lincoln.' || source || '.k12.ca.us'
      |  ELSE 'portal.www.' || source || '-academy.sch.uk' END""".stripMargin

  /** The synthetic MESSY URLs of text_url_canonical — six shapes keyed on
    * doc_id % 6 exercising every canonicalization rule: case folding +
    * default-port drop + fragment, query sorting, userinfo strip with a
    * kept non-default port, empty path, empty query, and a non-URL
    * passthrough. */
  private def synthMessyUrl: org.apache.spark.sql.Column =
    when(col("doc_id") % 6 === 0,
      concat(lit("HTTP://WWW."), col("source"), lit(".COM:80/a/b#frag")))
      .when(col("doc_id") % 6 === 1,
        concat(lit("https://"), col("source"), lit(".com:443/x?b=2&a=1")))
      .when(col("doc_id") % 6 === 2,
        concat(lit("https://user:pw@"), col("source"), lit(".com:8080/p?z=1#x")))
      .when(col("doc_id") % 6 === 3,
        concat(lit("ftp://files."), col("source"), lit(".net")))
      .when(col("doc_id") % 6 === 4,
        concat(lit("https://"), col("source"), lit(".com/p?")))
      .otherwise(lit("relative/path only"))

  /** SQL twin of [[synthMessyUrl]]. */
  private val synthMessyUrlSql =
    """CASE doc_id % 6
      |  WHEN 0 THEN 'HTTP://WWW.' || source || '.COM:80/a/b#frag'
      |  WHEN 1 THEN 'https://' || source || '.com:443/x?b=2&a=1'
      |  WHEN 2 THEN 'https://user:pw@' || source || '.com:8080/p?z=1#x'
      |  WHEN 3 THEN 'ftp://files.' || source || '.net'
      |  WHEN 4 THEN 'https://' || source || '.com/p?'
      |  ELSE 'relative/path only' END""".stripMargin

  /** The per-host key of the robots fixtures: source × REPLICA (the
    * ScaleData 1M doc_id stride), so the rule table scales WITH the
    * corpus (20 hosts at sf≤0.1, 200 at the 10× sf1 sweep) instead of
    * pinning the host side at a constant 20 while URLs grow — a real
    * crawl's host cardinality grows with its page count. */
  private def robotsHost: org.apache.spark.sql.Column =
    concat(col("source"), lit("-"),
      expr("doc_id DIV 1000000").cast("string"), lit(".com"))

  /** SQL twin of [[robotsHost]]. */
  private val robotsHostSql =
    "source || '-' || CAST(doc_id // 1000000 AS VARCHAR) || '.com'"

  /** The synthetic URLs of text_robots_filter — six shapes keyed on
    * doc_id % 6 against one shared per-host robots policy, covering:
    * unmatched path, plain-prefix Disallow, the longer Allow override,
    * a `*` wildcard rule, a `$`-anchored rule hitting, and the same
    * anchor NOT hitting one char later. */
  private def synthRobotsUrl: org.apache.spark.sql.Column = {
    val h = concat(lit("https://"), robotsHost)
    when(col("doc_id") % 6 === 0,
      concat(h, lit("/page/"), col("doc_id")))
      .when(col("doc_id") % 6 === 1,
        concat(h, lit("/private/"), col("doc_id")))
      .when(col("doc_id") % 6 === 2,
        concat(h, lit("/private/ok/"), col("doc_id")))
      .when(col("doc_id") % 6 === 3,
        concat(h, lit("/tmp"), col("doc_id"), lit("/f")))
      .when(col("doc_id") % 6 === 4, concat(h, lit("/exact")))
      .otherwise(concat(h, lit("/exactly")))
  }

  /** SQL twin of [[synthRobotsUrl]]. */
  private val synthRobotsUrlSql =
    s"""CASE doc_id % 6
       |  WHEN 0 THEN 'https://' || $robotsHostSql || '/page/' || doc_id
       |  WHEN 1 THEN 'https://' || $robotsHostSql || '/private/' || doc_id
       |  WHEN 2 THEN 'https://' || $robotsHostSql || '/private/ok/' || doc_id
       |  WHEN 3 THEN 'https://' || $robotsHostSql || '/tmp' || doc_id || '/f'
       |  WHEN 4 THEN 'https://' || $robotsHostSql || '/exact'
       |  ELSE 'https://' || $robotsHostSql || '/exactly' END""".stripMargin

  /** The synthetic full PAGE of text_main_content — a link-saturated nav
    * block, a too-short heading and "ok" block, the document text as the
    * body paragraph, and a link-saturated footer: every boilerplate rule
    * (link density AND min length) fires on real structure around the one
    * content block. */
  private def synthPage: org.apache.spark.sql.Column =
    concat(
      lit("<html><head><title>T</title><style>a {color: blue}</style></head>" +
        "<body><div class=\"nav\"><a href=\"/\">Home navigation menu</a> " +
        "<a href=\"/about\">About us and contact</a></div><h1>T</h1><p>"),
      col("text"),
      lit("</p><p>ok</p><!-- tracking --><div class=\"footer\">" +
        "<a href=\"/tos\">Terms of service page</a> · " +
        "<a href=\"/privacy\">Privacy and cookies</a></div></body></html>"))

  /** SQL twin of [[synthPage]] (concatenation operators at line ends — the
    * synthHtmlSql stripMargin rule). */
  private val synthPageSql =
    """'<html><head><title>T</title><style>a {color: blue}</style></head>' ||
      |'<body><div class="nav"><a href="/">Home navigation menu</a> ' ||
      |'<a href="/about">About us and contact</a></div><h1>T</h1><p>' || text ||
      |'</p><p>ok</p><!-- tracking --><div class="footer">' ||
      |'<a href="/tos">Terms of service page</a> · ' ||
      |'<a href="/privacy">Privacy and cookies</a></div></body></html>'""".stripMargin

  /** SQL replay of [[TextOps.mainContent]]'s per-block cleanup over `$x`:
    * tag strip, six entities (&amp; last), whitespace collapse, trim. */
  private def mcCleanSql(x: String): String =
    s"""trim(regexp_replace(
       |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
       |    $x,
       |    '(?s)<[^>]*>', ' ', 'g'),
       |    '&nbsp;', ' ', 'g'), '&lt;', '<', 'g'), '&gt;', '>', 'g'),
       |    '&quot;', '"', 'g'), '&#39;', chr(39), 'g'), '&amp;', '&', 'g'),
       |  '\\s+', ' ', 'g'))""".stripMargin

  /** Synthetic PII suffix of the text_pii_*_ext queries (testdata carries
    * no card/SSN/IBAN shapes) — three shapes keyed on doc_id % 4, derived
    * only from columns both engines read (the synthUrl convention). */
  private def synthPii: org.apache.spark.sql.Column =
    when(col("doc_id") % 4 === 0, lit(" card 4111 1111 1111 1111 end"))
      .when(col("doc_id") % 4 === 1, lit(" ssn 123-45-6789 and ip 10.0.0.1"))
      .when(col("doc_id") % 4 === 2, lit(" iban DE89370400440532013000 ok"))
      .otherwise(lit(""))

  /** SQL twin of [[synthPii]]. */
  private val synthPiiSql =
    """CASE doc_id % 4
      |  WHEN 0 THEN text || ' card 4111 1111 1111 1111 end'
      |  WHEN 1 THEN text || ' ssn 123-45-6789 and ip 10.0.0.1'
      |  WHEN 2 THEN text || ' iban DE89370400440532013000 ok'
      |  ELSE text END""".stripMargin

  /** SQL twin of [[synthUrl]]. */
  private val synthUrlSql =
    """CASE doc_id % 4
      |  WHEN 0 THEN 'https://www.' || source || '-news.com/a/b/c?x=1'
      |  WHEN 1 THEN 'http://blog.' || source || '.co.uk/post/' || doc_id
      |  WHEN 2 THEN 'https://login:pw@' || source || '-cdn.org:8080/dl/v2'
      |  ELSE 'ftp://files.' || source || '.net' END""".stripMargin

  /** Shared capture-replay CTE of the cdx_* oracles: rebuilds every
    * docs.cdxj index line — urlkeys from the synthUrl SURT shapes AND the
    * REAL seek coordinates, recovered by reconstructing each WARC
    * record's header byte for byte (lines joined with CRLF via
    * array_to_string, the chr(31) convention — escape literals would be
    * mangled by the s-interpolator; octet_length = header size; response
    * payload = 45-byte HTTP envelope + text) and running per-shard
    * offset sums in doc order with the 4-byte CRLFCRLF record
    * separators. Ends in `cap` = one row per capture, with doc_id.
    * Consumers embed it once and must not start a line with `|`
    * (the composed string passes through stripMargin a second time). */
  private val cdxCapturesCte =
    s"""u AS (SELECT doc_id, source, text, $synthUrlSql AS url,
       |             CASE doc_id % 4
       |               WHEN 0 THEN 'com,' || source || '-news)/a/b/c?x=1'
       |               WHEN 1 THEN 'uk,co,' || source || ',blog)/post/' || doc_id
       |               WHEN 2 THEN 'org,' || source || '-cdn:8080)/dl/v2'
       |               ELSE 'net,' || source || ',files)/' END AS urlkey,
       |             'part-' || lpad(CAST(doc_id % 16 AS VARCHAR), 3, '0') || '.warc' AS filename,
       |             doc_id % 16 AS shard,
       |             octet_length(encode(text)) + 45 AS n
       |      FROM documents),
       |hl AS (SELECT *,
       |         octet_length(encode(array_to_string(
       |           ['WARC/1.0', 'WARC-Type: response',
       |            'WARC-Record-ID: <urn:graft:doc-' || doc_id || '>',
       |            'WARC-Date: 2026-01-01T00:00:00Z',
       |            'WARC-Target-URI: ' || url,
       |            'WARC-Payload-Digest: sha1:GRAFT' || doc_id] ||
       |           CASE WHEN doc_id % 8 = 1
       |                THEN ['WARC-Truncated: length'] ELSE [] END ||
       |           ['Content-Type: application/http; msgtype=response',
       |            'Content-Length: ' || n, '', ''],
       |           chr(13) || chr(10)))) + n AS resp_len,
       |         CASE WHEN doc_id % 4 = 0 THEN octet_length(encode(array_to_string(
       |           ['WARC/1.0', 'WARC-Type: revisit',
       |            'WARC-Record-ID: <urn:graft:rev-' || doc_id || '>',
       |            'WARC-Date: 2026-02-01T00:00:00Z',
       |            'WARC-Target-URI: ' || url,
       |            'WARC-Payload-Digest: sha1:GRAFT' || doc_id,
       |            'Content-Type: application/http; msgtype=response',
       |            'Content-Length: 0', '', ''],
       |           chr(13) || chr(10)))) END AS rev_len
       |       FROM u),
       |off AS (SELECT *,
       |          COALESCE(SUM(resp_len + 4 + COALESCE(rev_len + 4, 0))
       |            OVER (PARTITION BY shard ORDER BY doc_id
       |                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |            AS resp_off
       |        FROM hl),
       |cap AS (
       |  SELECT doc_id, urlkey, '20260101000000' AS cdx_ts, url,
       |         'text/plain' AS mime, 200 AS status,
       |         'sha1:GRAFT' || doc_id AS digest,
       |         CAST(resp_len AS BIGINT) AS length,
       |         CAST(resp_off AS BIGINT) AS "offset", filename
       |  FROM off
       |  UNION ALL
       |  SELECT doc_id, urlkey, '20260201000000', url, 'warc/revisit',
       |         CAST(NULL AS INTEGER), 'sha1:GRAFT' || doc_id,
       |         CAST(rev_len AS BIGINT),
       |         CAST(resp_off + resp_len + 4 AS BIGINT), filename
       |  FROM off WHERE doc_id % 4 = 0)""".stripMargin

  /** cdx_read's oracle: every capture line, reader-typed. */
  private val cdxReadOracleSql =
    s"""WITH $cdxCapturesCte
       |SELECT urlkey, cdx_ts, url, mime, status, digest, length,
       |       "offset", filename
       |FROM cap""".stripMargin

  /** The synthetic HTML wrapper of text_strip_html — three shapes keyed on
    * doc_id % 3 (full page with script/style/comment; inline div with all
    * six entities and a <br>; no markup at all), derived only from columns
    * both engines read (the synthUrl convention). */
  private def synthHtml: org.apache.spark.sql.Column =
    when(col("doc_id") % 3 === 0,
      concat(
        lit("<html><head><title>T</title><style>p {color: red}</style></head>" +
          "<body><script type=\"text/javascript\">var x = 1 < 2;</script>" +
          "<h1>Head</h1><p>"),
        col("text"),
        lit("</p><!-- hidden comment --></body></html>")))
      .when(col("doc_id") % 3 === 1,
        concat(lit("<div class=\"a\" data-x=\"1\">"), col("text"),
          lit(" &amp; more&nbsp;text &lt;tag&gt; &quot;q&#39;</div><br>tail")))
      .otherwise(col("text"))

  /** SQL twin of [[synthHtml]]. Concatenation operators sit at line ENDS:
    * this fragment is embedded in oracle strings that stripMargin AFTER
    * interpolation, which would eat a leading `||`'s first pipe. */
  private val synthHtmlSql =
    """CASE doc_id % 3
      |  WHEN 0 THEN '<html><head><title>T</title><style>p {color: red}</style></head>' ||
      |              '<body><script type="text/javascript">var x = 1 < 2;</script>' ||
      |              '<h1>Head</h1><p>' || text ||
      |              '</p><!-- hidden comment --></body></html>'
      |  WHEN 1 THEN '<div class="a" data-x="1">' || text ||
      |              ' &amp; more&nbsp;text &lt;tag&gt; &quot;q&#39;</div><br>tail'
      |  ELSE text END""".stripMargin

  /** SQL replay of [[graft.ops.Url]]'s feature extraction over a `u(doc_id,
    * url, …)` CTE: same RE2 patterns, same label arithmetic, same default
    * multi-suffix set. */
  private val urlFeaturesCte =
    """f AS (SELECT u.*,
      |        lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?(\[[^\]/?#]*\]|[^/?#:]*)', 1)) AS url_host,
      |        regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS url_path
      |      FROM u),
      |g AS (SELECT f.*, string_split(url_host, '.') AS labels FROM f),
      |feats AS (SELECT g.*,
      |        CASE WHEN len(labels) >= 3
      |                  AND labels[-2] || '.' || labels[-1] IN
      |                      ('co.uk','org.uk','ac.uk','gov.uk','co.jp','ne.jp','or.jp',
      |                       'com.au','net.au','org.au','co.in','co.nz','com.br','com.cn',
      |                       'com.mx','com.ar','com.tr','co.za','co.kr','com.sg','com.hk')
      |             THEN labels[-3] || '.' || labels[-2] || '.' || labels[-1]
      |             WHEN len(labels) >= 2 THEN labels[-2] || '.' || labels[-1]
      |             ELSE url_host END AS url_domain,
      |        CAST(len(list_filter(string_split(url_path, '/'), x -> x <> '')) AS INTEGER) AS url_depth
      |      FROM g)""".stripMargin

  /** Shared CTE prefix of the BPE oracles (WITH RECURSIVE): replays
    * tokenization over the text_bpe_merges dump with ONE plain string
    * REPLACE per merge rank (the recursive CTE steps rank 0..K−1) over the
    * U+001F double-separator code-point encoding — exactly
    * [[graft.ops.Bpe]]'s semantics, merge by merge. `btoks` = (doc_id,
    * toks list). */
  private val bpeReplayCte =
    """m AS (SELECT CAST(rank AS INTEGER) AS r, a, b
      |      FROM read_parquet('{GRAFT_OUT}/text_bpe_merges/*.parquet')),
      |nm AS (SELECT count(*) AS n FROM m),
      |e0 AS (SELECT doc_id,
      |         CASE WHEN len(replace(text, chr(31), '')) = 0 THEN ''
      |              ELSE chr(31)||chr(31)||
      |                   array_to_string([substr(replace(text, chr(31), ''), i, 1)
      |                                    FOR i IN range(1, len(replace(text, chr(31), ''))+1)],
      |                                   chr(31)||chr(31)) ||
      |                   chr(31)||chr(31) END AS e
      |       FROM documents),
      |st AS (
      |  SELECT doc_id, e, 0 AS r FROM e0
      |  UNION ALL
      |  SELECT s.doc_id,
      |         replace(s.e, chr(31)||m.a||chr(31)||chr(31)||m.b||chr(31),
      |                      chr(31)||m.a||m.b||chr(31)),
      |         s.r + 1
      |  FROM st s JOIN m ON m.r = s.r),
      |fin AS (SELECT doc_id, e FROM st WHERE r = (SELECT n FROM nm)),
      |btoks AS (SELECT doc_id,
      |            list_filter(string_split(trim(e, chr(31)), chr(31)||chr(31)),
      |                        x -> x <> '') AS toks
      |          FROM fin)""".stripMargin

  /** [[bpeReplayCte]] under the GPT-2 regex pre-tokenizer: e0 encodes
    * each regexp_extract_all pre-token independently and concatenates
    * them (the four-separator boundary no merge can span); the replace
    * chain is identical, reading the text_bpe_pretok_merges dump. The
    * pattern is the RE2/Java-portable [[graft.ops.Bpe.Gpt2PretokPattern]],
    * single-quote-escaped for SQL. */
  private val bpePretokReplayCte = {
    val pat = graft.ops.Bpe.Gpt2PretokPattern.replace("'", "''")
    s"""m AS (SELECT CAST(rank AS INTEGER) AS r, a, b
       |      FROM read_parquet('{GRAFT_OUT}/text_bpe_pretok_merges/*.parquet')),
       |nm AS (SELECT count(*) AS n FROM m),
       |e0 AS (SELECT doc_id,
       |         array_to_string(
       |           [CASE WHEN len(t) = 0 THEN ''
       |                 ELSE chr(31)||chr(31)||
       |                      array_to_string([substr(t, i, 1)
       |                                       FOR i IN range(1, len(t)+1)],
       |                                      chr(31)||chr(31)) ||
       |                      chr(31)||chr(31) END
       |            FOR t IN regexp_extract_all(replace(text, chr(31), ''), '$pat')],
       |           '') AS e
       |       FROM documents),
       |st AS (
       |  SELECT doc_id, e, 0 AS r FROM e0
       |  UNION ALL
       |  SELECT s.doc_id,
       |         replace(s.e, chr(31)||m.a||chr(31)||chr(31)||m.b||chr(31),
       |                      chr(31)||m.a||m.b||chr(31)),
       |         s.r + 1
       |  FROM st s JOIN m ON m.r = s.r),
       |fin AS (SELECT doc_id, e FROM st WHERE r = (SELECT n FROM nm)),
       |btoks AS (SELECT doc_id,
       |            list_filter(string_split(trim(e, chr(31)), chr(31)||chr(31)),
       |                        x -> x <> '') AS toks
       |          FROM fin)""".stripMargin
  }

  /** [[bpeReplayCte]] for the EXTERNAL GPT-2-format tokenizer: e0 is
    * rebuilt through the regex pre-split AND the BYTE-LEVEL alphabet
    * mapping — each pre-token's UTF-8 hex pairs joined through the
    * text_bpe_ext_bytemap dump (two-level unnest with subscripts, re-
    * aggregated in order), so the oracle recomputes the 'Ġ' encoding
    * without knowing the table; the replace chain then runs over the
    * text_bpe_ext_merges dump. Ends in `btoks` like its siblings. */
  private def bpeExtReplayCteFor(mergesTable: String) = {
    val pat = graft.ops.Bpe.Gpt2PretokPattern.replace("'", "''")
    s"""m AS (SELECT CAST(rank AS INTEGER) AS r, a, b
       |      FROM read_parquet('{GRAFT_OUT}/$mergesTable/*.parquet')),
       |nm AS (SELECT count(*) AS n FROM m),
       |bmap AS (SELECT byte_hex, mapped
       |         FROM read_parquet('{GRAFT_OUT}/text_bpe_ext_bytemap/*.parquet')),
       |pts AS (SELECT doc_id,
       |          regexp_extract_all(replace(text, chr(31), ''), '$pat') AS ps
       |        FROM documents),
       |pt AS (SELECT doc_id, generate_subscripts(ps, 1) AS pi, unnest(ps) AS p
       |       FROM pts),
       |pb AS (SELECT doc_id, pi, generate_subscripts(bl, 1) AS bi,
       |              unnest(bl) AS bh
       |       FROM (SELECT doc_id, pi,
       |               regexp_extract_all(hex(encode(p)), '..') AS bl
       |             FROM pt)),
       |pm AS (SELECT doc_id, pi,
       |         string_agg(bmap.mapped, chr(31)||chr(31) ORDER BY bi) AS inr
       |       FROM pb JOIN bmap ON bmap.byte_hex = pb.bh
       |       GROUP BY doc_id, pi),
       |e0p AS (SELECT doc_id,
       |          string_agg(chr(31)||chr(31) || inr || chr(31)||chr(31), ''
       |                     ORDER BY pi) AS e
       |        FROM pm GROUP BY doc_id),
       |e0 AS (SELECT d.doc_id, COALESCE(e0p.e, '') AS e
       |       FROM documents d LEFT JOIN e0p USING (doc_id)),
       |st AS (
       |  SELECT doc_id, e, 0 AS r FROM e0
       |  UNION ALL
       |  SELECT s.doc_id,
       |         replace(s.e, chr(31)||m.a||chr(31)||chr(31)||m.b||chr(31),
       |                      chr(31)||m.a||m.b||chr(31)),
       |         s.r + 1
       |  FROM st s JOIN m ON m.r = s.r),
       |fin AS (SELECT doc_id, e FROM st WHERE r = (SELECT n FROM nm)),
       |btoks AS (SELECT doc_id,
       |            list_filter(string_split(trim(e, chr(31)), chr(31)||chr(31)),
       |                        x -> x <> '') AS toks
       |          FROM fin)""".stripMargin
  }

  private val bpeExtReplayCte = bpeExtReplayCteFor("text_bpe_ext_merges")

  /** [[bpeExtReplayCteFor]] over the tiktoken import's RECOVERED merge
    * dump — pre-split, byte mapping, and replace chain are identical to
    * the GPT-2 external path (the byte map rides the shared
    * text_bpe_ext_bytemap dump); only the merge table differs. */
  private val bpeTkReplayCte = bpeExtReplayCteFor("text_bpe_tk_merges")

  /** [[bpeReplayCte]] for the SentencePiece import: e0 is the '▁'
    * preprocessing (space → ▁ plus the dummy prefix) encoded character
    * by character — NO byte alphabet and NO regex pre-split, SP's
    * convention — and the replace chain runs over the recovered-merge
    * dump. Ends in `btoks` like its siblings. */
  private val bpeSpReplayCte =
    """m AS (SELECT CAST(rank AS INTEGER) AS r, a, b
      |      FROM read_parquet('{GRAFT_OUT}/text_bpe_sp_merges/*.parquet')),
      |nm AS (SELECT count(*) AS n FROM m),
      |e0 AS (SELECT doc_id,
      |         CASE WHEN t IS NULL OR len(t) = 0 THEN ''
      |              ELSE chr(31)||chr(31)||
      |                   array_to_string([substr(t, i, 1)
      |                                    FOR i IN range(1, len(t)+1)],
      |                                   chr(31)||chr(31)) ||
      |                   chr(31)||chr(31) END AS e
      |       FROM (SELECT doc_id,
      |               CASE WHEN text IS NULL OR len(text) = 0 THEN ''
      |                    ELSE chr(9601) ||
      |                         replace(replace(text, chr(31), ''), ' ', chr(9601))
      |               END AS t
      |             FROM documents)),
      |st AS (
      |  SELECT doc_id, e, 0 AS r FROM e0
      |  UNION ALL
      |  SELECT s.doc_id,
      |         replace(s.e, chr(31)||m.a||chr(31)||chr(31)||m.b||chr(31),
      |                      chr(31)||m.a||m.b||chr(31)),
      |         s.r + 1
      |  FROM st s JOIN m ON m.r = s.r),
      |fin AS (SELECT doc_id, e FROM st WHERE r = (SELECT n FROM nm)),
      |btoks AS (SELECT doc_id,
      |            list_filter(string_split(trim(e, chr(31)), chr(31)||chr(31)),
      |                        x -> x <> '') AS toks
      |          FROM fin)""".stripMargin

  /** Code-point cap shared by the `text_sp_unigram*` queries and their
    * oracles: the DuckDB Viterbi replay carries the dp vector as a
    * growing LIST through a recursive CTE (O(n²) list copies per doc),
    * so the parity gate runs on a documented text prefix. The OPERATOR
    * ([[Bpe.unigramTokens]]) is uncapped — one linear trie-DP per row. */
  private val SpUnigramCap = 160

  /** Viterbi replay for the Unigram queries — the DP recomputed from the
    * text_sp_unigram_pieces dump alone: dp[i] = best score over every
    * NORMAL piece matching at [i−len, i) plus the unconditional one-char
    * UNK edge at min(score)−10 (exactly [[Bpe.unigramTokens]]'s
    * semantics, incl. the float64 sums); best-candidate selection is
    * max(struct(score, len)) — DuckDB struct comparison is
    * lexicographic, which IS the longer-piece tie rule. A second
    * recursive CTE walks the chosen-length list backwards to the token
    * array. Ends in `btoks` (doc_id, toks) like the BPE replay CTEs.
    * The '▁' preprocessing and the [[SpUnigramCap]] prefix mirror the
    * Spark side; U+001F is NOT stripped (unigram has no separator
    * encoding). */
  private val spUnigramReplayCte =
    s"""pz AS (SELECT piece, score, len(piece) AS plen
       |       FROM read_parquet('{GRAFT_OUT}/text_sp_unigram_pieces/*.parquet')
       |       WHERE kind = 1),
       |uz AS (SELECT min(score) - 10.0 AS us FROM pz),
       |dz AS (SELECT doc_id,
       |         CASE WHEN text IS NULL OR len(text) = 0 THEN ''
       |              ELSE chr(9601) ||
       |                   replace(substr(text, 1, $SpUnigramCap), ' ', chr(9601))
       |         END AS t
       |       FROM documents),
       |dn AS (SELECT doc_id, t, len(t) AS n FROM dz),
       |dpz AS (
       |  SELECT doc_id, t, n, 0 AS pos,
       |         [0.0]::DOUBLE[] AS sc, []::INTEGER[] AS bl
       |  FROM dn
       |  UNION ALL
       |  SELECT d.doc_id, d.t, d.n, d.pos + 1,
       |         list_append(d.sc,
       |           max(struct_pack(s := d.sc[d.pos + 2 - q.plen] + q.score,
       |                           l := q.plen))['s']),
       |         list_append(d.bl,
       |           max(struct_pack(s := d.sc[d.pos + 2 - q.plen] + q.score,
       |                           l := q.plen))['l'])
       |  FROM dpz d
       |  JOIN (SELECT piece, plen, score FROM pz
       |        UNION ALL SELECT NULL, 1, us FROM uz) q
       |    ON q.piece IS NULL OR (q.plen <= d.pos + 1
       |        AND q.piece = substr(d.t, d.pos + 2 - q.plen, q.plen))
       |  WHERE d.pos < d.n
       |  GROUP BY d.doc_id, d.t, d.n, d.pos, d.sc, d.bl),
       |finz AS (SELECT doc_id, t, n, bl FROM dpz WHERE pos = n),
       |btz AS (
       |  SELECT doc_id, t, bl, n AS pos, []::VARCHAR[] AS toks FROM finz
       |  UNION ALL
       |  SELECT doc_id, t, bl, pos - bl[pos],
       |         list_prepend(substr(t, pos - bl[pos] + 1, bl[pos]), toks)
       |  FROM btz WHERE pos > 0),
       |btoks AS (SELECT doc_id, toks FROM btz WHERE pos = 0)""".stripMargin

  /** Shared CTE suffix of the IVF-PQ PRODUCT oracles, composed ON TOP of
    * [[ivfPqCodesCte]] (which supplies `sc` = id/cell/res and `cent`):
    * residual per-subspace nearest-codeword replay against the product
    * codebook dump — ending in `best2` (id, cell, sub, code). */
  private val ivfPqProductCte =
    """pq2 AS (SELECT sub, code, list(value ORDER BY pos) AS c2
      |        FROM read_parquet('{GRAFT_OUT}/sim_ivfpq_product_codebooks/*.parquet')
      |        GROUP BY sub, code),
      |sd2 AS (SELECT sc.id, sc.cell, pq2.sub, pq2.code,
      |          list_sum([(sc.res[pq2.sub * 8 + i] - pq2.c2[i])
      |                    * (sc.res[pq2.sub * 8 + i] - pq2.c2[i])
      |                    FOR i IN range(1, 9)]) AS d
      |        FROM sc CROSS JOIN pq2),
      |best2 AS (SELECT id, cell, sub, code FROM (
      |            SELECT id, cell, sub, code,
      |              row_number() OVER (PARTITION BY id, sub ORDER BY d, code) AS rn
      |            FROM sd2) WHERE rn = 1)""".stripMargin

  /** Shared CTE prefix of the PQ oracles: per-subspace nearest-codeword
    * replay (squared L2 over the 8-dim sub-vector, ties to the lower code)
    * against the sim_pq_codebooks dump — ending in `best` (vec_id, sub,
    * code); `cb` stays in scope for reconstruction. */
  private val pqCodesCte =
    """cb AS (SELECT sub, code, list(value ORDER BY pos) AS c
      |       FROM read_parquet('{GRAFT_OUT}/sim_pq_codebooks/*.parquet')
      |       GROUP BY sub, code),
      |sd AS (SELECT e.vec_id, cb.sub, cb.code,
      |         list_sum([(CAST(e.embedding[cb.sub * 8 + i] AS DOUBLE) - cb.c[i])
      |                   * (CAST(e.embedding[cb.sub * 8 + i] AS DOUBLE) - cb.c[i])
      |                   FOR i IN range(1, 9)]) AS d
      |       FROM embeddings e CROSS JOIN cb),
      |best AS (SELECT vec_id, sub, code FROM (
      |           SELECT vec_id, sub, code,
      |             row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, code) AS rn
      |           FROM sd) WHERE rn = 1)""".stripMargin

  /** Shared CTE prefix of the IVF-SQ8 oracles: replay cell assignment
    * (squared L2 argmin, ties by cell), the per-vector residual against the
    * sim_ivf_centroids dump, and the quantization scale — ending in `sc`
    * (id, cell, res, res_scale); `cent` stays in scope for probing. */
  private val ivfPqCodesCte =
    """cent AS (SELECT cell_id, list(value ORDER BY pos) AS c
      |         FROM read_parquet('{GRAFT_OUT}/sim_ivf_centroids/*.parquet')
      |         GROUP BY cell_id),
      |ad AS (SELECT e.vec_id, e.embedding, cent.cell_id,
      |         list_sum([(CAST(e.embedding[i] AS DOUBLE) - cent.c[i])
      |                   * (CAST(e.embedding[i] AS DOUBLE) - cent.c[i])
      |                   FOR i IN range(1, 65)]) AS d
      |       FROM embeddings e CROSS JOIN cent),
      |assign AS (SELECT vec_id, embedding, cell_id FROM (
      |             SELECT vec_id, embedding, cell_id,
      |               row_number() OVER (PARTITION BY vec_id ORDER BY d, cell_id) AS rn
      |             FROM ad) WHERE rn = 1),
      |r AS (SELECT a.vec_id AS id, a.cell_id AS cell,
      |        [CAST(a.embedding[i] AS DOUBLE) - cent.c[i] FOR i IN range(1, 65)] AS res
      |      FROM assign a JOIN cent ON a.cell_id = cent.cell_id),
      |sc AS (SELECT id, cell, res,
      |         list_max([abs(res[i]) FOR i IN range(1, 65)]) / 127.0 AS res_scale
      |       FROM r)""".stripMargin

  /** The complete IVF-SQ8 probe replay over [[ivfPqCodesCte]] (probe 2
    * cells, reconstruct centroid + scale·code, exact cosine top-10) —
    * shared verbatim by `sim_ivfpq` and `sim_ivfpq_disk`: the disk round
    * trip preserves every code bit, so ONE probe SQL serves both and the
    * two oracles can never drift apart. */
  private lazy val ivfPqSq8ProbeSql =
    s"""WITH $ivfPqCodesCte,
       |qq AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |qd AS (SELECT cell_id,
       |         list_sum([(CAST(qe[i] AS DOUBLE) - c[i]) * (CAST(qe[i] AS DOUBLE) - c[i])
       |                   FOR i IN range(1, 65)]) AS d
       |       FROM cent, qq),
       |probed AS (SELECT cell_id FROM qd ORDER BY d, cell_id LIMIT 2),
       |recon AS (SELECT sc.id,
       |            [cent.c[i] + sc.res_scale *
       |               CAST(CAST(CASE WHEN sc.res_scale > 0.0
       |                              THEN greatest(-127.0, least(127.0, floor(sc.res[i] / sc.res_scale + 0.5)))
       |                              ELSE 0.0 END AS INTEGER) AS DOUBLE)
       |             FOR i IN range(1, 65)] AS ap
       |          FROM sc JOIN cent ON sc.cell = cent.cell_id
       |          WHERE sc.cell IN (SELECT cell_id FROM probed)),
       |co AS (SELECT recon.id,
       |         list_sum([ap[i] * CAST(qe[i] AS DOUBLE) FOR i IN range(1, 65)])
       |         / (sqrt(list_sum([ap[i] * ap[i] FOR i IN range(1, 65)]))
       |            * sqrt(list_sum([CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)
       |                             FOR i IN range(1, 65)]))) AS cos
       |       FROM recon, qq)
       |SELECT id, cos FROM co ORDER BY cos DESC, id LIMIT 10""".stripMargin

  /** Shared CTE prefix of the DSIR oracles: the gram explosion (lowercased
    * whitespace unigrams + bigrams, with multiplicity), the top-4096 raw
    * vocabulary (ties by gram), and the add-1-smoothed round-9 ln-ratio
    * weights toward the lang='en' target slice — exactly Dsir.dsirFit's
    * arithmetic (`+ 0.0` collapses a possible -0.0 from rounding). */
  private val dsirWeightsCte =
    """toks AS (SELECT doc_id, lang,
      |               list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t
      |        FROM documents),
      |g AS (SELECT doc_id, lang,
      |             unnest(list_concat(t, [t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))])) AS gram
      |      FROM toks),
      |rc AS (SELECT gram, count(*) AS cr FROM g GROUP BY gram),
      |vocab AS (SELECT gram, cr FROM rc ORDER BY cr DESC, gram ASC LIMIT 4096),
      |tc AS (SELECT gram, count(*) AS ct FROM g WHERE lang = 'en' GROUP BY gram),
      |v AS (SELECT vocab.gram, COALESCE(tc.ct, 0) AS ct, vocab.cr
      |      FROM vocab LEFT JOIN tc USING (gram)),
      |tot AS (SELECT CAST(sum(ct) AS BIGINT) AS tt, CAST(sum(cr) AS BIGINT) AS tr,
      |               count(*) AS vn
      |        FROM v),
      |w AS (SELECT gram,
      |             round(ln((ct + 1.0) / (tt + vn)) - ln((cr + 1.0) / (tr + vn)), 9) + 0.0 AS weight
      |      FROM v CROSS JOIN tot)""".stripMargin

  /** The per-document score CTE on top: the same ascending-value ordered
    * fold from 0.0 as Dsir.dsirScore's sort_array + aggregate. */
  private val dsirScoredCte =
    s"""$dsirWeightsCte,
       |sc AS (SELECT g.doc_id,
       |              list_reduce(list_prepend(0.0, list(weight ORDER BY weight)),
       |                          (a, b) -> a + b) AS s
       |       FROM g JOIN w USING (gram) GROUP BY g.doc_id),
       |scored AS (SELECT d.doc_id, COALESCE(sc.s, 0.0) AS dsir_score
       |           FROM documents d LEFT JOIN sc USING (doc_id))""".stripMargin

  /** Shared CTE prefix of the classifier oracles: NB log-odds fit
    * (vocabulary = top-4096 grams over BOTH classes, ties by gram; add-1
    * smoothing over vocab-gram totals; bias = prior logit) and the
    * per-document ordered-fold logit — exactly Classifier.classifierFit +
    * classifierScore's arithmetic, ending in `cscored` (doc_id, clf_score). */
  private val clfScoredCte =
    """ctoks AS (SELECT doc_id, lang,
      |                 list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t
      |          FROM documents),
      |cg AS (SELECT doc_id, lang,
      |              unnest(list_concat(t, [t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))])) AS gram
      |       FROM ctoks),
      |cc AS (SELECT gram,
      |              CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS cp,
      |              CAST(sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT) AS cn
      |       FROM cg GROUP BY gram),
      |cvocab AS (SELECT gram, cp, cn FROM cc ORDER BY (cp + cn) DESC, gram ASC LIMIT 4096),
      |ctot AS (SELECT CAST(sum(cp) AS BIGINT) AS tp, CAST(sum(cn) AS BIGINT) AS tn,
      |                count(*) AS vn
      |         FROM cvocab),
      |cw AS (SELECT gram,
      |              round(ln((cp + 1.0) / (tp + vn)) - ln((cn + 1.0) / (tn + vn)), 9) + 0.0 AS weight
      |       FROM cvocab CROSS JOIN ctot),
      |cb AS (SELECT round(ln(CAST(p AS DOUBLE) / CAST(n AS DOUBLE)), 9) + 0.0 AS bias
      |       FROM (SELECT sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS p,
      |                    sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS n
      |             FROM documents)),
      |csc AS (SELECT cg.doc_id,
      |               list_reduce(list_prepend(0.0, list(weight ORDER BY weight)),
      |                           (a, b) -> a + b) AS s
      |        FROM cg JOIN cw USING (gram) GROUP BY cg.doc_id),
      |cscored AS (SELECT d.doc_id,
      |                   COALESCE(csc.s, 0.0) + (SELECT bias FROM cb) AS clf_score
      |            FROM documents d LEFT JOIN csc USING (doc_id))""".stripMargin

  /** Shared CTE prefix of the LM-perplexity oracles: fit the backoff
    * bigram model on the lang='en' slice (top-4096 unigrams, top-8192
    * in-vocab-prefix bigrams, ties ascending) and score every document —
    * exactly LangModel.lmFit + lmScore's arithmetic, ending in a `lscored`
    * relation of (doc_id, lm_score). */
  private val lmScoredCte =
    """ltoks AS (SELECT doc_id, lang,
      |                 list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t
      |          FROM documents),
      |lu1 AS (SELECT tok, count(*) AS c1
      |        FROM (SELECT unnest(t) AS tok FROM ltoks WHERE lang = 'en')
      |        GROUP BY tok),
      |ltot AS (SELECT CAST(sum(c1) AS BIGINT) AS tt FROM lu1),
      |lvocab AS (SELECT tok, c1 FROM lu1 ORDER BY c1 DESC, tok ASC LIMIT 4096),
      |lbg AS (SELECT pa, pb, count(*) AS c2
      |        FROM (SELECT pr.pa AS pa, pr.pb AS pb
      |              FROM (SELECT unnest([{'pa': t[i], 'pb': t[i+1]} FOR i IN range(1, len(t))]) AS pr
      |                    FROM ltoks WHERE lang = 'en'))
      |        WHERE pa IN (SELECT tok FROM lvocab)
      |        GROUP BY pa, pb
      |        ORDER BY c2 DESC, pa ASC, pb ASC LIMIT 8192),
      |lp AS (SELECT doc_id, pr.pa AS pa, pr.pb AS pb
      |       FROM (SELECT doc_id,
      |               unnest(list_concat(
      |                 CASE WHEN len(t) >= 1 THEN [{'pa': CAST(NULL AS VARCHAR), 'pb': t[1]}] ELSE [] END,
      |                 [{'pa': t[i], 'pb': t[i+1]} FOR i IN range(1, len(t))])) AS pr
      |             FROM ltoks)),
      |lj AS (SELECT lp.doc_id, lp.pa, lp.pb, va.c1 AS c1a, vb.c1 AS c1b, lbg.c2
      |       FROM lp LEFT JOIN lvocab va ON lp.pa = va.tok
      |               LEFT JOIN lvocab vb ON lp.pb = vb.tok
      |               LEFT JOIN lbg ON lp.pa = lbg.pa AND lp.pb = lbg.pb),
      |lc AS (SELECT doc_id,
      |         CASE WHEN pa IS NULL THEN ub
      |              WHEN c2 IS NOT NULL THEN round(ln(c2 / c1a), 9) + 0.0
      |              ELSE round(ln(0.4), 9) + ub END AS contrib
      |       FROM (SELECT lj.*,
      |               (CASE WHEN c1b IS NOT NULL THEN round(ln(c1b / tt), 9)
      |                     ELSE round(ln(1.0 / tt), 9) END + 0.0) AS ub
      |             FROM lj CROSS JOIN ltot)),
      |lsc AS (SELECT doc_id,
      |          list_reduce(list_prepend(0.0, list(contrib ORDER BY contrib)),
      |                      (x, y) -> x + y) AS s,
      |          count(*) AS n
      |        FROM lc GROUP BY doc_id),
      |lscored AS (SELECT d.doc_id, (0.0 - lsc.s) / lsc.n AS lm_score
      |            FROM documents d LEFT JOIN lsc USING (doc_id))""".stripMargin

  /** DuckDB SQL for the ANN query: the random hyperplanes are deterministic
    * driver-side constants (seeded MurmurHash3 — Similarity.hyperplanes), so
    * they are embedded as literals and the bucket prune + exact cosine top-k
    * is replayed entirely in SQL. Sums on both sides fold the arrays in
    * order, so the sign decisions and cosines agree bit-for-bit. */
  private def annOracleSql(numPlanes: Int, dim: Int, k: Int): String = {
    val planes = Similarity.hyperplanes(numPlanes, dim)
    def dot(e: String, p: Seq[Double]): String =
      s"list_sum([CAST($e[i] AS DOUBLE) * ([${p.mkString(", ")}])[i] FOR i IN range(1, ${dim + 1})])"
    def bucket(e: String): String =
      planes.zipWithIndex.map { case (p, i) =>
        s"(CASE WHEN ${dot(e, p)} > 0 THEN ${1L << i} ELSE 0 END)"
      }.mkString(" + ")
    val norm = (e: String) =>
      s"sqrt(list_sum([CAST($e[i] AS DOUBLE) * CAST($e[i] AS DOUBLE) FOR i IN range(1, ${dim + 1})]))"
    val cos =
      s"""list_sum([CAST(embedding[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE) FOR i IN range(1, ${dim + 1})])
         |        / (${norm("embedding")} * ${norm("qe")})""".stripMargin
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |     qb AS (SELECT ${bucket("qe")} AS qbucket FROM q),
       |     c AS (SELECT vec_id AS id,
       |             $cos AS cos
       |           FROM embeddings, q, qb
       |           WHERE ${bucket("embedding")} = qb.qbucket)
       |SELECT id, cos FROM c ORDER BY cos DESC, id LIMIT $k""".stripMargin
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * A representative end-to-end pipeline: impute → encode → discretize →
    * winsorize → log → datetime features → select. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val li = rt(spark, dir, "lineitem")
    val base = li.select(
      col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
      col("l_shipdate"), col("l_extendedprice"),
      when(col("l_orderkey") % 7 === 0, lit(null).cast("double"))
        .otherwise(col("l_quantity")).as("qty"),
      col("l_discount"))
    val pipe = Pipeline(
      "impute" -> new MeanMedianImputer(Seq("qty"), "mean"),
      "indicator" -> new AddMissingIndicator(Seq("qty")),
      "onehot" -> new OneHotEncoder(Seq("l_returnflag")),
      "winsor" -> new Winsorizer(Seq("l_extendedprice"), 0.05, 0.95),
      "log" -> new LogTransformer(Seq("l_extendedprice")),
      "cyc" -> new CyclicalFeatures(Seq(("qty_sin", "qty", 50.0, CyclicalFn.Sin))),
      "dt" -> new DatetimeFeatures(Seq("l_shipdate")),
    )
    pipe.fit(base)
  }

  /** One entry per implemented operator from SURVEY.md §2 (+ extension ops). */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ── §2.2 imputation ────────────────────────────────────────────────
    "imp_mean" -> ((s, dir) =>
      new MeanMedianImputer(Seq("qty"), "mean").fitTransform(qtyWithNulls(s, dir))),
    "imp_median" -> ((s, dir) =>
      new MeanMedianImputer(Seq("qty"), "median", exact = true)
        .fitTransform(qtyWithNulls(s, dir))),
    "imp_arbitrary" -> ((s, dir) =>
      new ArbitraryNumberImputer(Seq("qty"), -1.0).fitTransform(qtyWithNulls(s, dir))),
    "imp_endtail" -> ((s, dir) =>
      new EndTailImputer(Seq("qty"), 0.75, exact = true).fitTransform(qtyWithNulls(s, dir))),
    "imp_categorical" -> ((s, dir) => {
      val base = rt(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        when(col("l_orderkey") % 11 === 0, lit(null).cast("string"))
          .otherwise(col("l_returnflag")).as("flag"))
      new CategoricalImputer(Seq("flag")).fitTransform(base)
    }),
    "imp_missing_indicator" -> ((s, dir) =>
      new AddMissingIndicator(Seq("qty")).fitTransform(qtyWithNulls(s, dir))),
    "imp_drop_missing" -> ((s, dir) =>
      new DropMissingData(Seq("qty")).fitTransform(qtyWithNulls(s, dir))),

    // ── §2.3 categorical encoding ──────────────────────────────────────
    "cat_onehot" -> ((s, dir) => {
      val base = rt(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"))
      new OneHotEncoder(Seq("l_returnflag")).fitTransform(base)
    }),
    "cat_count_frequency" -> ((s, dir) => {
      val base = rt(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority"))
      new CountFrequencyEncoder(Seq("o_orderpriority")).fitTransform(base)
    }),
    // High-cardinality variant (1130 categories > MaxCaseBranches=64) —
    // drives the broadcast-join encode path (categorical.scala
    // CategoricalEncoding.encodeInPlace, `large` branch), which the
    // low-cardinality queries never reach.
    "cat_count_frequency_hc" -> ((s, dir) => {
      val base = rt(s, dir, "part").select(
        col("p_partkey"),
        concat(col("p_brand"), lit("_"), col("p_name")).as("bn"))
      new CountFrequencyEncoder(Seq("bn")).fitTransform(base)
    }),
    "cat_ordinal" -> ((s, dir) => {
      val base = rt(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority"))
      new OrdinalEncoder(Seq("o_orderpriority")).fitTransform(base)
    }),
    "cat_mean" -> ((s, dir) => {
      val base = rt(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"), col("l_quantity"))
      new MeanEncoder(Seq("l_returnflag"), "l_quantity").fitTransform(base)
    }),
    "cat_woe" -> ((s, dir) => {
      val base = rt(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        when(col("l_discount") > 0.05, lit(1L)).otherwise(lit(0L)).as("tgt"))
      new WoEEncoder(Seq("l_returnflag"), "tgt").fitTransform(base)
    }),
    "cat_rare_label" -> ((s, dir) => {
      val base = rt(s, dir, "part").select(col("p_partkey"), col("p_brand"))
      new RareLabelEncoder(Seq("p_brand"), 0.04).fitTransform(base)
    }),

    // ── §2.4 discretization ────────────────────────────────────────────
    "disc_arbitrary" -> ((s, dir) => {
      val base = rt(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      new ArbitraryDiscretizer(Map("l_quantity" -> Seq(
        (1.0, 10.0, "low"), (10.0, 25.0, "mid"), (25.0, 50.0, "high"))))
        .fitTransform(base)
    }),
    "disc_equal_frequency" -> ((s, dir) => {
      val base = rt(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      new EqualFrequencyDiscretizer(Seq("l_quantity"), 4, exact = true).fitTransform(base)
    }),
    "disc_equal_width" -> ((s, dir) => {
      val base = rt(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      new EqualWidthDiscretizer(Seq("l_quantity"), 5).fitTransform(base)
    }),
    "disc_geometric_width" -> ((s, dir) => {
      val base = rt(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      new GeometricWidthDiscretizer(Seq("l_quantity"), 3).fitTransform(base)
    }),

    // ── §2.5 outliers ──────────────────────────────────────────────────
    "out_cap_arbitrary" -> ((s, dir) => {
      val base = rt(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      new ArbitraryOutlierCapper(Map("l_quantity" -> (Some(5.0), Some(45.0))))
        .fitTransform(base)
    }),
    "out_winsorizer" -> ((s, dir) => {
      val base = rt(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      new Winsorizer(Seq("l_quantity"), 0.05, 0.95, exact = true).fitTransform(base)
    }),
    "out_trimmer" -> ((s, dir) => {
      val base = rt(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      new OutlierTrimmer(Seq("l_quantity"), 0.05, 0.95, exact = true).fitTransform(base)
    }),

    // ── §2.6 numerical ─────────────────────────────────────────────────
    // ln differs by 1 ulp between the JVM and DuckDB's libm on some inputs;
    // both sides round to 12 decimals so the comparison is well-defined.
    "num_log" -> ((s, dir) => {
      val base = rt(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      new LogTransformer(Seq("l_quantity")).fitTransform(base)
        .withColumn("l_quantity", round(col("l_quantity"), 12))
    }),
    "num_log_cp" -> ((s, dir) => {
      val base = rt(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      new LogCpTransformer(Seq("l_quantity"), 10.0).fitTransform(base)
        .withColumn("l_quantity", round(col("l_quantity"), 12))
    }),
    "num_reciprocal" -> ((s, dir) => {
      val base = rt(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      new ReciprocalTransformer(Seq("l_quantity")).fitTransform(base)
    }),
    "num_power" -> ((s, dir) => {
      val base = rt(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      new PowerTransformer(Seq("l_quantity"), 2.0).fitTransform(base)
    }),
    "num_boxcox" -> ((s, dir) => {
      val base = rt(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      new BoxCoxTransformer(Seq("l_quantity"), 2.0).fitTransform(base)
    }),
    "num_yeojohnson" -> ((s, dir) => {
      val base = rt(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      new YeoJohnsonTransformer(Seq("l_quantity"), 3.0).fitTransform(base)
    }),
    // scalers (extension: the reference defers scaling to scikit-learn)
    "scale_standard" -> ((s, dir) => {
      val base = rt(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      new StandardScaler(Seq("l_quantity")).fitTransform(base)
        .withColumn("l_quantity", round(col("l_quantity"), 12))
    }),
    "scale_minmax" -> ((s, dir) => {
      val base = rt(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      new MinMaxScaler(Seq("l_quantity")).fitTransform(base)
        .withColumn("l_quantity", round(col("l_quantity"), 12))
    }),
    "scale_robust" -> ((s, dir) => {
      val base = rt(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      new RobustScaler(Seq("l_quantity"), exact = true).fitTransform(base)
        .withColumn("l_quantity", round(col("l_quantity"), 12))
    }),
    "num_arcsin" -> ((s, dir) => {
      val base = rt(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_discount"))
      new ArcsinTransformer(Seq("l_discount")).fitTransform(base)
    }),

    // ── §2.7 feature creation ──────────────────────────────────────────
    "creation_math" -> ((s, dir) => {
      val base = rt(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"), col("l_discount"))
      new MathFeatures(Seq(
        "disc_price" -> (col("l_extendedprice") * (lit(1.0) - col("l_discount")))))
        .fitTransform(base)
    }),
    "creation_relative" -> ((s, dir) => {
      val base = rt(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"), col("l_quantity"))
      new RelativeFeatures(Seq(
        ("unit_price", "l_extendedprice", "l_quantity", RelativeOp.Ratio),
        ("price_minus_qty", "l_extendedprice", "l_quantity", RelativeOp.Difference),
        ("pct_change", "l_extendedprice", "l_quantity", RelativeOp.PercentChange)))
        .fitTransform(base)
    }),
    "creation_cyclical" -> ((s, dir) => {
      val base = rt(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      new CyclicalFeatures(Seq(
        ("qty_sin", "l_quantity", 50.0, CyclicalFn.Sin),
        ("qty_cos", "l_quantity", 50.0, CyclicalFn.Cos)))
        .fitTransform(base)
    }),

    // ── §2.8 datetime ──────────────────────────────────────────────────
    "dt_features" -> ((s, dir) => {
      val base = rt(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"))
      new DatetimeFeatures(Seq("l_shipdate")).fitTransform(base)
    }),
    "dt_subtraction" -> ((s, dir) => {
      val li = rt(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"))
      val o = rt(s, dir, "orders").select(col("o_orderkey"), col("o_orderdate"))
      val base = li.join(broadcast(o), li("l_orderkey") === o("o_orderkey"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"), col("o_orderdate"))
      new DatetimeSubtraction(Seq(
        ("ship_delay_days", "l_shipdate", "o_orderdate", TimeUnit.Day)))
        .fitTransform(base)
    }),

    // ── §2.9 feature selection ─────────────────────────────────────────
    "sel_drop_features" -> ((s, dir) =>
      new DropFeatures(Seq("l_tax", "l_shipdate")).fitTransform(
        rt(s, dir, "lineitem").select(
          col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_tax"), col("l_shipdate")))),
    "sel_drop_constant" -> ((s, dir) => {
      val base = rt(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        lit(1.0).as("const_num"), lit("x").as("const_str"), col("l_returnflag"))
      new DropConstantFeatures(1e-9, 1L).fitTransform(base)
    }),
    "sel_drop_duplicate" -> ((s, dir) => {
      val base = rt(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_quantity").as("qty_copy"), col("l_returnflag"))
      new DropDuplicateFeatures().fitTransform(base)
    }),
    "sel_drop_correlated" -> ((s, dir) => {
      val base = rt(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        (col("l_quantity") * 2.0).as("qty2"), col("l_discount"))
      // corr(l_quantity, qty2) = 1 > 0.95; var(l_quantity) < var(qty2) → drops l_quantity
      new DropCorrelatedFeatures(0.95).fitTransform(base)
    }),
    "sel_smart_correlated" -> ((s, dir) => {
      val base = rt(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        (col("l_quantity") * 2.0).as("qty2"), col("l_discount"), col("l_returnflag"))
      new SmartCorrelatedSelection(0.95).fitTransform(base)
    }),
    "sel_psi" -> ((s, dir) => {
      val li = rt(s, dir, "lineitem")
      val ref = li.select(
        col("l_orderkey"), col("l_linenumber"), col("l_quantity").as("q"),
        col("l_quantity").as("q_shifted"))
      val cur = li.select(
        col("l_orderkey"), col("l_linenumber"), col("l_quantity").as("q"),
        (col("l_quantity") + 10.0).as("q_shifted"))
      // q: identical distribution → PSI 0 (kept); q_shifted: +10 shift → PSI >> 0.1 (dropped)
      new DropHighPSIFeatures(ref, 0.1).fitTransform(cur)
    }),
    "sel_information_value" -> ((s, dir) => {
      val base = rt(s, dir, "lineitem").select(
        when(col("l_discount") > 0.05, lit(1.0)).otherwise(lit(0.0)).as("tgt"),
        (col("l_discount") * 100.0).as("signal"),
        col("l_quantity").as("noise"))
      // signal perfectly separates tgt (IV huge); noise is independent (IV ~ 0)
      new SelectByInformationValue("tgt", 0.5).fitTransform(base)
    }),
    "sel_single_feature_perf" -> ((s, dir) => {
      val base = rt(s, dir, "lineitem").select(
        col("l_extendedprice").as("tgt"),
        (col("l_extendedprice") + col("l_quantity")).as("near_copy"),
        col("l_discount").as("noise"))
      new SelectBySingleFeaturePerformance("tgt", 0.99).fitTransform(base)
    }),
    "sel_target_mean_perf" -> ((s, dir) => {
      val base = rt(s, dir, "lineitem").select(
        when(col("l_discount") > 0.05, lit(1.0)).otherwise(lit(0.0)).as("tgt"),
        (col("l_discount") * 100.0).as("signal"),
        col("l_quantity").as("noise"))
      new SelectByTargetMeanPerformance("tgt", 0.5).fitTransform(base)
    }),
    "sel_mrmr" -> ((s, dir) => {
      val base = rt(s, dir, "lineitem").select(
        when(col("l_discount") > 0.05, lit(1.0)).otherwise(lit(0.0)).as("tgt"),
        (col("l_discount") * 100.0).as("signal"),
        (col("l_discount") * 50.0 + 1.0).as("signal_dup"),
        col("l_quantity").as("noise"))
      // signal & signal_dup: relevance high, mutually redundant (corr 1) → keep
      // the higher-relevance one (ties broken by name: "signal" < "signal_dup",
      // equal |corr| → alphabetical) ; noise: relevance ~0 → rejected
      new MRMR("tgt", 0.3, 0.9).fitTransform(base)
    }),

    // ── extension ops: dedup / similarity / text / multimodal ──────────
    // documents has no duplicate texts at test scale, so dedup queries
    // union in exact copies of every 5th doc under doc_id+10000.
    "dedup_exact" -> ((s, dir) =>
      Dedup.exact(docsWithDups(s, dir), Seq("text"), "doc_id")),
    "dedup_minhash" -> ((s, dir) =>
      Dedup.minhashDedupPairs(docsWithDups(s, dir), "doc_id", "text")),
    "dedup_simhash" -> ((s, dir) =>
      Dedup.simhashCandidates(docsWithDups(s, dir), "doc_id", "text")),
    // Auxiliary signature dump: the dedup_simhash oracle recomputes the
    // chunk-collision + Hamming pair logic in DuckDB over THIS table (the
    // signatures themselves are engine-side xxhash64 math with no SQL
    // equivalent; the pair logic is what the oracle can and does verify).
    "dedup_simhash_sig" -> ((s, dir) => {
      val docs = docsWithDups(s, dir)
      docs.select(col("doc_id").as("id"), Dedup.graftSimhash(col("text")).as("sh"))
    }),
    "dedup_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(docsWithDups(s, dir), "doc_id", "text")),
    // C4-STYLE GLOBAL PARAGRAPH DEDUP — the boilerplate killer: every
    // doc gains a shared subscribe banner, a per-(doc_id%5) shared
    // block, a shared CJK paragraph (codepoints pinned by escape), a
    // whitespace-only segment (never a paragraph), consecutive
    // separators (empty split), and its OWN text repeated (the same-doc
    // repeat case). Each distinct paragraph survives only at min
    // (doc_id, position); documents reassemble in order. The oracle
    // replays split, trim, first-occurrence, reassembly, and the
    // kept/dropped accounting from the source column alone.
    "dedup_paragraphs" -> ((s, dir) =>
      Dedup.dedupParagraphsExact(
        rt(s, dir, "documents").select(col("doc_id"),
          concat(
            col("text"), lit("\n"),
            lit("Subscribe to our newsletter for updates\n\n"),
            lit("shared block "), (col("doc_id") % 5).cast("string"), lit("\n"),
            lit("\u4e2d\u6587\u6837\u677f\u6bb5\u843d\n"),
            lit("   \n"),
            col("text")).as("text")),
        "doc_id", "text")),
    // Auxiliary dump: the LSH candidate pairs the calibration grades —
    // engine-side minhash math with no SQL equivalent (the simhash-sig
    // convention); the report oracle joins them against ITS OWN exact
    // Jaccard replay, so the confusion arithmetic is fully checked.
    "dedup_calibration_pairs" -> ((s, dir) =>
      Dedup.calibrationCandidatePairs(docsWithDups(s, dir), "doc_id", "text")),
    // The (bands, rows, threshold) calibration report — near-dup's
    // sim_recall sibling: per threshold, exact-Jaccard truth counts,
    // candidate precision/recall, and the pure-banding expected-recall
    // bound. The only evidence the production threshold neither over-
    // nor under-deletes at scale.
    "dedup_calibration" -> ((s, dir) =>
      Dedup.minhashCalibration(docsWithDups(s, dir), "doc_id", "text")),
    // Near-dup pairs → connected components → one cluster id (min member)
    // per doc: the step that picks a single representative per duplicate
    // cluster. The oracle recomputes the same components with a recursive
    // CTE over the true-Jaccard pair graph.
    "dedup_cluster" -> ((s, dir) =>
      Dedup.duplicateClustersByText(docsWithDups(s, dir), "doc_id", "text")),
    // The cleaned corpus: one representative (min id) per near-dup cluster.
    "dedup_corpus" -> ((s, dir) =>
      Dedup.dedupCorpus(docsWithDups(s, dir), "doc_id", "text")),
    // Quality-representative dedup: same clusters, but the survivor is the
    // BEST-scoring member (ties → min id). The synthetic score doc_id % 7
    // makes originals and their +10000 copies disagree, so the keep rule
    // genuinely differs from dedup_corpus's min-id on every dup cluster.
    "dedup_corpus_best" -> ((s, dir) =>
      Dedup.dedupCorpusBy(
        docsWithDups(s, dir)
          .withColumn("score", (col("doc_id") % 7).cast("double")),
        "doc_id", "text", "score")
        .drop("score")),
    // Benchmark-contamination check: right corpus = every 3rd document; the
    // cross-side true-Jaccard ≥ 0.8 pairs are each right doc against its
    // identical left self plus cross near-dups — replayed exactly in DuckDB.
    "dedup_contamination" -> ((s, dir) => {
      val l = rt(s, dir, "documents")
      Dedup.crossDupPairs(l, l.filter(col("doc_id") % 3 === 0), "doc_id", "text")
    }),
    // Incremental ingest: 2/3 of the corpus arrives as a new batch and
    // dedups against the already-ingested 1/3, then within itself.
    "dedup_incremental" -> ((s, dir) => {
      val d = rt(s, dir, "documents")
      Dedup.dedupAgainstCorpus(
        d.filter(col("doc_id") % 3 =!= 0), d.filter(col("doc_id") % 3 === 0),
        "doc_id", "text")
    }),
    // The same incremental ingest through the PERSISTED signature index:
    // fit on the 1/3 corpus → disk → load → probe the 2/3 batch with zero
    // corpus recompute. Same oracle as dedup_incremental — the index is a
    // pure caching structure, invisible in the results.
    "dedup_incremental_model" -> ((s, dir) => {
      val d = rt(s, dir, "documents")
      Dedup.nearDupIndexApply(
        d.filter(col("doc_id") % 3 =!= 0), "doc_id", "text",
        Dedup.NearDupIndex.load(s, nearDupIdxFitted(s, dir)))
    }),
    // Point-in-time enrichment: each purchase event joined to the user's
    // latest preceding (ts ≤) view event — the classic as-of join, run as a
    // tagged union + running last() window (no range join; see
    // Relational.asofJoin). DuckDB has native ASOF JOIN for the oracle.
    "asof_join" -> ((s, dir) => {
      val e = rtEvents(s, dir)
      Relational.asofJoin(
        e.filter(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts", "value"),
        e.filter(col("event_type") === "view")
          .select("user_id", "ts", "value"),
        Seq("user_id"), "ts", Seq("ts", "value"), "_view")
    }),
    // Same as-of semantics through the skew-salted path (daily time-bucket
    // windows + segmented carry) — the oracle is identical to asof_join's.
    "asof_join_salted" -> ((s, dir) => {
      val e = rtEvents(s, dir)
      Relational.asofJoinSalted(
        e.filter(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts", "value"),
        e.filter(col("event_type") === "view")
          .select("user_id", "ts", "value"),
        Seq("user_id"), "ts", Seq("ts", "value"),
        t => date_trunc("day", t), "_view")
    }),
    // Interval-containment join through the bucketed equi-join path (the
    // broadcast-nested-loop-free formulation): events against per-(type,
    // hour) activity windows; 15-minute buckets so every window spans
    // several buckets and the explode → equi-join → exact-predicate shape
    // is genuinely exercised.
    "range_join" -> ((s, dir) => {
      val e = rtEvents(s, dir)
      val points = e.select("event_id", "ts", "event_type")
      val windows = e
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("__h"))
        .agg(min(col("ts")).as("w_start"), max(col("ts")).as("w_end"),
          count(lit(1)).as("n_in_window"))
        .drop("__h")
      Relational.rangeJoin(points, windows, "ts", "w_start", "w_end",
        Seq("event_type"), bucketWidth = 900000000L)
        .select("event_id", "event_type", "ts", "w_start", "w_end", "n_in_window")
    }),
    // Row-level sessionization: 30-minute inactivity gap per user,
    // event_id tiebreak for deterministic equal-ts ordering.
    "events_sessionize" -> ((s, dir) =>
      Relational.sessionize(
        rtEvents(s, dir).select("event_id", "user_id", "ts"),
        Seq("user_id"), "ts", maxGap = 1800000000L, tieCols = Seq("event_id"))),
    // Same session semantics through the skew-salted path (daily buckets +
    // stitched boundary merges) — the oracle is identical to
    // events_sessionize's.
    "events_sessionize_salted" -> ((s, dir) =>
      Relational.sessionizeSalted(
        rtEvents(s, dir).select("event_id", "user_id", "ts"),
        Seq("user_id"), "ts", maxGap = 1800000000L,
        t => date_trunc("day", t), tieCols = Seq("event_id"))
        .select("event_id", "user_id", "ts", "session_id")),
    // Trailing 1-hour / 1-day per-user activity features. The summed value
    // is integer cents (round(value·100)) so window sums are association-
    // free and replay bit-for-bit on any engine.
    "events_rolling" -> ((s, dir) =>
      Relational.rollingFeatures(
        rtEvents(s, dir).select(col("event_id"), col("user_id"), col("ts"),
          round(col("value") * 100).cast("long").as("cents")),
        Seq("user_id"), "ts", "cents",
        Seq("1h" -> 3600000000L, "1d" -> 86400000000L))),
    // Hot-key path: ghost-replicated (key, day-bucket) windows — output is
    // row-identical to events_rolling, so it shares that oracle SQL.
    "events_rolling_salted" -> ((s, dir) =>
      Relational.rollingFeaturesSalted(
        rtEvents(s, dir).select(col("event_id"), col("user_id"), col("ts"),
          round(col("value") * 100).cast("long").as("cents")),
        Seq("user_id"), "ts", "cents",
        Seq("1h" -> 3600000000L, "1d" -> 86400000000L),
        bucketWidth = 86400000000L)),
    // Leakage-safe target-mean encoding (leave-one-out), exercising the
    // null-target path via the injected qty nulls. Integer target → exact
    // sums, one double division.
    "cat_mean_loo" -> ((s, dir) =>
      Relational.looMeanEncode(
        rt(s, dir, "lineitem").select(
          col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          when(col("l_orderkey") % 7 === 0, lit(null).cast("long"))
            .otherwise(col("l_quantity").cast("long")).as("qty")),
        "l_returnflag", "qty", "qty_loo")),
    // Deterministic id-hash sampling (engine-portable modular arithmetic —
    // the oracle recomputes membership exactly).
    "sample_hash" -> ((s, dir) =>
      Sampling.hashSample(rt(s, dir, "documents"), "doc_id", 20)
        .select("doc_id", "lang", "source", "n_chars")),
    "sample_stratified" -> ((s, dir) =>
      Sampling.stratifiedSample(rt(s, dir, "documents"), "lang", "doc_id", 10)
        .select("doc_id", "lang")),
    "sample_split" -> ((s, dir) =>
      Sampling.trainTestSplit(rt(s, dir, "documents"), "doc_id", 80)
        .select("doc_id", "split")),
    // Training-mix rebalancing: every language thinned to ≈ the smallest
    // language's share via the portable integer hash rule — the oracle
    // recomputes the per-group thresholds and membership exactly.
    "sample_balance_lang" -> ((s, dir) =>
      Sampling.balanceGroups(rt(s, dir, "documents"), "lang", "doc_id")
        .select("doc_id", "lang")),
    // Pretraining mixture reweighting: three sources kept at 5 : 2 : 1
    // with all others dropped; the oracle replays the integer
    // rows-per-part maximization and the exact hash thresholds.
    "sample_mix_sources" -> ((s, dir) =>
      Sampling.mixGroups(rt(s, dir, "documents"), "source", "doc_id",
        Map("src0" -> 5L, "src1" -> 2L, "src2" -> 1L))
        .select("doc_id", "source")),
    // Token-budget sequence packing: documents streamed into ≈512-token
    // bins within 8 hash buckets; the oracle replays the same hash order,
    // running sums, and integer bin math.
    "pack_sequences" -> ((s, dir) =>
      Sampling.packSequences(
        rt(s, dir, "documents")
          .select(col("doc_id"), TextOps.tokenCount(col("text")).as("n_tokens")),
        "doc_id", "n_tokens", capacity = 512, numBuckets = 8)),
    // The packed bins MATERIALIZED: one row per (bucket, bin) with member
    // texts concatenated in pack order — the trainer-ready sequence table
    // a jsonl export would ship. Same pack config as pack_sequences.
    "pack_sequences_text" -> ((s, dir) =>
      Sampling.materializeSequences(
        Sampling.packSequences(
          rt(s, dir, "documents")
            .select(col("doc_id"), col("text"),
              TextOps.tokenCount(col("text")).as("n_tokens")),
          "doc_id", "n_tokens", capacity = 512, numBuckets = 8),
        "text", "n_tokens")),
    // Packing-efficiency gauge over the same pack config: sequences, docs,
    // token mass, mean fill vs the 512-token capacity.
    "pack_report" -> ((s, dir) =>
      Sampling.packingReport(
        Sampling.packSequences(
          rt(s, dir, "documents")
            .select(col("doc_id"), TextOps.tokenCount(col("text")).as("n_tokens")),
          "doc_id", "n_tokens", capacity = 512, numBuckets = 8),
        "n_tokens", capacity = 512)),
    // "Train on the first 3000 tokens of this corpus": deterministic
    // bucket-major prefix; the oracle replays bucket totals, driver-style
    // prefix offsets, and the within-bucket running sums.
    "sample_token_budget" -> ((s, dir) =>
      Sampling.sampleTokenBudget(
        rt(s, dir, "documents")
          .select(col("doc_id"), TextOps.tokenCount(col("text")).as("n_tokens")),
        "doc_id", "n_tokens", budget = 3000L, numBuckets = 8)),
    // Per-group token budgets ("2000 tokens of en, 800 of zh" — the
    // trainer-mixture statement): sampleTokenBudget's exact bucket-major
    // prefix rule with the group joined into the part key; es/de/fr docs
    // (no budget) drop entirely.
    "sample_token_budget_group" -> ((s, dir) =>
      Sampling.sampleTokenBudgetPerGroup(
        rt(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            TextOps.tokenCount(col("text")).as("n_tokens")),
        "lang", "doc_id", "n_tokens",
        budgets = Map("en" -> 2000L, "zh" -> 800L), numBuckets = 8)),
    // Leakage-safe split: the split decision hashes each content group's
    // representative id (min doc_id per md5(text)), so exact copies can
    // never straddle the train/test fence; the oracle replays the digest
    // grouping and the representative hash exactly.
    "sample_split_grouped" -> ((s, dir) =>
      Sampling.leakageSafeSplit(
        rt(s, dir, "documents")
          .withColumn("ckey", md5(col("text").cast("binary"))),
        "ckey", "doc_id", 80)
        .select("doc_id", "ckey", "split")),
    // Temperature mix (α=0.5): integer weight table dump — the pow lives
    // here, driver-side; the membership oracle replays thresholds from it
    // (the sim_ivf_centroids aux convention).
    "sample_mix_temp_weights" -> ((s, dir) => {
      import s.implicits._
      Sampling.mixGroupsTemperature(
        rt(s, dir, "documents").select("doc_id", "lang"),
        "lang", "doc_id", alpha = 0.5)._2
        .toSeq.map { case (g, w) => (g, w) }.toDF("grp", "wt")
    }),
    // The tempered mixture itself: low-resource languages keep
    // proportionally more than the natural distribution.
    "sample_mix_temperature" -> ((s, dir) =>
      Sampling.mixGroupsTemperature(
        rt(s, dir, "documents").select("doc_id", "lang"),
        "lang", "doc_id", alpha = 0.5)._1),
    // Quantile-threshold curation cut: keep the longest 30% of documents
    // (n_chars as the score). The oracle recomputes the interpolated
    // 0.7-quantile and the >= filter.
    "sample_top_fraction" -> ((s, dir) =>
      Sampling.keepTopFraction(
        rt(s, dir, "documents").select("doc_id", "n_chars"),
        "n_chars", fraction = 0.3)),
    // Epoch replication (zh ×2.5, fr ×0.5, en ×1 explicit, de/es default
    // ×1): every copy carries its 0-based epoch index; the fractional
    // epoch membership is the same minstd integer-threshold rule the
    // sampling family replays.
    "sample_upsample" -> ((s, dir) =>
      Sampling.upsampleGroups(
        rt(s, dir, "documents").select("doc_id", "lang"),
        "lang", "doc_id",
        Map("zh" -> 2.5, "fr" -> 0.5, "en" -> 1.0))),
    // Weighted round-robin training order (5 src0 : 2 src1 : 1 src2 per
    // cycle); the oracle replays the per-source bucket-major rank and the
    // exact integer cycle math.
    "sample_interleave" -> ((s, dir) =>
      Sampling.interleaveSources(
        rt(s, dir, "documents"), "source", "doc_id",
        Map("src0" -> 5L, "src1" -> 2L, "src2" -> 1L), numBuckets = 64)
        .select("doc_id", "source", "order_key")),
    // DSIR importance weighting toward an English target slice: the fitted
    // vocabulary (top-4096 unigrams+bigrams by raw count, ties by gram) and
    // the add-1-smoothed round-9 ln-ratio weights — the oracle recomputes
    // the whole fit in SQL.
    "sample_dsir_weights" -> ((s, dir) => {
      val d = rt(s, dir, "documents")
      Dsir.dsirFit(d.filter(col("lang") === "en"), d, "text", vocabSize = 4096)
        .weights
    }),
    // Per-document DSIR log importance score: gram weights folded in
    // ascending value order from 0.0 (canonical FP order — the oracle
    // replays the identical fold with an ordered list_reduce).
    "sample_dsir_score" -> ((s, dir) => {
      val d = rt(s, dir, "documents")
      val m = Dsir.dsirFit(d.filter(col("lang") === "en"), d, "text", vocabSize = 4096)
      Dsir.dsirScore(d, "doc_id", "text", m).select("doc_id", "dsir_score")
    }),
    // Gumbel-top-100 importance resample through a save/load round trip
    // (fit → disk → load → apply, like dedup_contamination_model): the
    // oracle replays the scores, the minstd-hash Gumbel keys, and the
    // top-100 selection.
    "sample_dsir" -> ((s, dir) => {
      val d = rt(s, dir, "documents")
      Dsir.dsirFit(d.filter(col("lang") === "en"), d, "text", vocabSize = 4096)
        .save(dsirModelDir)
      Dsir.dsirResample(d, "doc_id", "text",
        Dsir.DsirModel.load(s, dsirModelDir), n = 100)
        .select("doc_id", "dsir_score")
    }),
    // Backoff-bigram LM perplexity scoring, trained on the English slice:
    // per-token negative log-likelihood with stupid backoff — foreign and
    // disfluent docs score high. The oracle recomputes the whole fit and
    // the canonical ordered fold in SQL.
    "text_lm_score" -> ((s, dir) => {
      val d = rt(s, dir, "documents")
      val m = LangModel.lmFit(d.filter(col("lang") === "en"), "text",
        vocabSize = 4096, bigramSize = 8192)
      LangModel.lmScore(d, "doc_id", "text", m).select("doc_id", "lm_score")
    }),
    // The filter itself through a save/load round trip (fit → disk → load
    // → apply): keep docs at or under the perplexity ceiling (3.42 ≈
    // the fixture median, so the filter demonstrably discriminates).
    "text_lm_filter" -> ((s, dir) => {
      val d = rt(s, dir, "documents")
      LangModel.lmFit(d.filter(col("lang") === "en"), "text",
        vocabSize = 4096, bigramSize = 8192).save(lmModelDir)
      LangModel.perplexityFilter(d, "doc_id", "text",
        LangModel.LmModel.load(s, lmModelDir), maxScore = 3.42)
        .select("doc_id", "lm_score")
    }),
    // NB log-odds linear classifier (the fastText-style quality signal):
    // positive = the English slice, negative = everything else; per-doc
    // logit = bias + ordered fold of per-occurrence gram weights. The
    // oracle recomputes the whole fit and the fold in SQL.
    "text_classifier_score" -> ((s, dir) => {
      val d = rt(s, dir, "documents")
      val m = Classifier.classifierFit(
        d.filter(col("lang") === "en"), d.filter(col("lang") =!= "en"),
        "text", vocabSize = 4096)
      Classifier.classifierScore(d, "doc_id", "text", m)
        .select("doc_id", "clf_score")
    }),
    // The probability filter through a save/load round trip: minProb 0.5 ≡
    // logit ≥ 0 — an exact threshold no engine's exp can smear.
    "text_classifier_filter" -> ((s, dir) => {
      val d = rt(s, dir, "documents")
      Classifier.classifierFit(
        d.filter(col("lang") === "en"), d.filter(col("lang") =!= "en"),
        "text", vocabSize = 4096).save(clfModelDir)
      Classifier.probabilityFilter(d, "doc_id", "text",
        Classifier.ClassifierModel.load(s, clfModelDir), minProb = 0.5)
        .select("doc_id", "clf_score")
    }),
    // Deterministic training-shard layout (membership + within-shard order
    // as pure functions of the id); the write side is writeTrainingShards,
    // round-tripped in WriterSpec — the oracle audits the layout itself.
    "sink_shards" -> ((s, dir) =>
      Writer.shardAssignments(rt(s, dir, "documents"), "doc_id", 16)
        .select("doc_id", "shard", "shard_pos")),
    // The EXPORT mile: the curated corpus leaves as WET (graft-warc DSV2
    // write — one archive per partition, executor-side), then round-trips
    // through this library's own reader; the oracle replays the records
    // from documents, so header synthesis, Content-Length framing, AND
    // the re-parse must all agree.
    "sink_wet_export" -> ((s, dir) => {
      val out = java.nio.file.Files
        .createTempDirectory("graft_wet_export").toString + "/docs.warc"
      Writer.save(
        rt(s, dir, "documents").select(
          lit("conversion").as("warc_type"),
          concat(lit("<urn:graft:exp-"), col("doc_id"), lit(">")).as("record_id"),
          synthUrl.as("target_uri"),
          lit("2026-03-01T00:00:00Z").as("warc_date"),
          lit("text/plain").as("content_type"),
          col("text").as("payload")), out)
      graft.sources.Loader.load(s, out)
        .select("record_id", "target_uri", "content_length", "payload")
    }),
    // The COMPRESSED export with random access (member-per-record gzip,
    // the Common Crawl framing): export → the writer's own offsets
    // sidecar → fetch EVERY record back by compressed member seek. A
    // wrong member boundary or offset returns garbage (gzip won't sniff
    // mid-member) — the oracle's content replay is the proof.
    "sink_wet_export_gz" -> ((s, dir) => {
      val out = java.nio.file.Files
        .createTempDirectory("graft_wet_export_gz").toString + "/docs.warc.gz"
      Writer.save(
        rt(s, dir, "documents").select(
          lit("conversion").as("warc_type"),
          concat(lit("<urn:graft:gz-"), col("doc_id"), lit(">")).as("record_id"),
          synthUrl.as("target_uri"),
          lit("2026-03-01T00:00:00Z").as("warc_date"),
          lit("text/plain").as("content_type"),
          col("text").as("payload")), out)
      val offs = s.read.json(out + "/*.offsets.jsonl")
        .select("filename", "offset", "length").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      graft.sources.Loader.loadWarcRanges(s, offs)
        .select("record_id", "target_uri", "content_length", "payload")
    }),
    // The zstd twin of sink_wet_export_gz: frame-per-record .warc.zst
    // export (the newer web-archive tooling convention) + the offsets
    // sidecar, then every record fetched BACK purely by its compressed
    // frame coordinates — write and ranged read both proven in one
    // oracle. Same round-trip contract: the export must be a no-op on
    // the record content.
    "sink_wet_export_zst" -> ((s, dir) => {
      val out = java.nio.file.Files
        .createTempDirectory("graft_wet_export_zst").toString + "/docs.warc.zst"
      Writer.save(
        rt(s, dir, "documents").select(
          lit("conversion").as("warc_type"),
          concat(lit("<urn:graft:zst-"), col("doc_id"), lit(">")).as("record_id"),
          synthUrl.as("target_uri"),
          lit("2026-03-01T00:00:00Z").as("warc_date"),
          lit("text/plain").as("content_type"),
          col("text").as("payload")), out)
      val offs = s.read.json(out + "/*.offsets.jsonl")
        .select("filename", "offset", "length").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      graft.sources.Loader.loadWarcRanges(s, offs)
        .select("record_id", "target_uri", "content_length", "payload")
    }),
    // WARC ingest (the Common-Crawl first mile): every document round-trips
    // through a real WARC/1.0 conversion record — header parse, exact
    // Content-Length payload framing, and the record→row explode all
    // oracle against the source table.
    "warc_extract" -> ((s, dir) =>
      graft.sources.Loader.load(s, warcFixture(s, dir) + "/docs.warc")
        .select("record_id", "target_uri", "content_length", "payload")),
    // The crawl first mile end to end: WARC response records → HTML
    // payloads → the 13-step stripHtml cascade — loadWarc composed with
    // the curation chain's entry op, oracled through the same cascade
    // replay as text_strip_html.
    "warc_html_extract" -> ((s, dir) =>
      graft.sources.Loader.load(s, warcFixture(s, dir) + "/docs_html.warc")
        .select(col("record_id"),
          TextOps.htmlToText(col("payload")).as("text_plain"))),
    // The stripped HTTP envelope as data: status code + HTTP-level
    // Content-Type parsed off each response record (the fixture varies
    // both status and gzip content-coding by doc_id, so this oracles the
    // envelope PARSE while warc_html_extract oracles the BODY recovery —
    // including the gunzip of every 10th-plus-3 record).
    "warc_http_meta" -> ((s, dir) =>
      graft.sources.Loader.load(s, warcFixture(s, dir) + "/docs_html.warc")
        .select("record_id", "http_status", "http_content_type")),
    // Content-coding census + decode: gzip/deflate/zstd bodies decode
    // inside the reader (flag false, payload = the original text);
    // brotli has no codec on a Spark classpath, so its records keep the
    // CODED bytes and raise http_coding_unsupported — the release filter
    // for "this payload is not text". One narrow projection.
    "warc_content_coding" -> ((s, dir) =>
      graft.sources.Loader.load(s, warcFixture(s, dir) + "/docs_coded.warc")
        .select(col("record_id"),
          col("http_coding_unsupported").as("coding_unsupported"),
          col("payload"))),
    // The crawl's OWN dedup signal surfaced: `revisit` records (a
    // refetch whose payload matched an earlier capture, ISO 28500 §6.7)
    // resolve back to the original response via the WARC-Payload-Digest
    // join — without it every revisit looks like an empty page. One
    // shuffle join keyed on the digest (both sides crawl-sized at 100 TB
    // — no broadcast assumption).
    "warc_revisit_dedup" -> ((s, dir) => {
      val recs = graft.sources.Loader
        .load(s, warcFixture(s, dir) + "/docs_revisit.warc")
      val orig = recs.filter(col("warc_type") === "response")
        .select(col("payload_digest"),
          col("record_id").as("original_id"), col("payload"))
      val rev = recs.filter(col("warc_type") === "revisit")
        .select(col("record_id").as("revisit_id"), col("payload_digest"))
      rev.join(orig, Seq("payload_digest"))
        .select("revisit_id", "original_id", "payload_digest", "payload")
    }),
    // The robots compliance gate, BOTH channels: the <meta name=robots>
    // directives from the page and the X-Robots-Tag header from the
    // response — corpus builders honor either opt-out like robots.txt.
    // One narrow projection over the charset-decoded payloads.
    "warc_meta_robots" -> ((s, dir) =>
      graft.sources.Loader.load(s, warcFixture(s, dir) + "/docs_html.warc")
        .select(col("record_id"),
          TextOps.metaRobots(col("payload")).as("robots_meta"),
          lower(coalesce(col("http_robots_tag"), lit("")))
            .as("robots_header"))
        .withColumn("indexable",
          !col("robots_meta").rlike("\\bnoindex\\b") &&
            !col("robots_header").rlike("\\bnoindex\\b"))),
    // The REDIRECT edges of a crawl: 3xx responses' Location headers
    // (absolute or relative) resolved to absolute targets against each
    // record's own URI — the frontier edges a fetcher follows. One
    // narrow filter + the shared resolveUrl projection; no shuffle.
    "warc_redirects" -> ((s, dir) =>
      graft.sources.Loader.load(s, warcFixture(s, dir) + "/docs_html.warc")
        .filter(col("http_status").isin(301, 302, 303, 307, 308) &&
          col("http_location").isNotNull)
        .withColumn("redirect_target",
          graft.ops.LinkGraph.resolveUrl(col("target_uri"), col("http_location")))
        .select("record_id", "http_location", "redirect_target")),
    // The capture-time truncation census (WARC-Truncated, the Common
    // Crawl ~1 MB cut marker): a quality pipeline's first gate on cut
    // documents. One narrow filter + one hash aggregate over the
    // header-derived column — the payload is never decoded.
    "warc_truncated_census" -> ((s, dir) =>
      graft.sources.Loader.load(s, warcFixture(s, dir) + "/docs_revisit.warc")
        .filter(col("warc_type") === "response")
        .groupBy(coalesce(col("truncated"), lit("none")).as("truncated"))
        .agg(count(lit(1)).as("n_records"))),
    // The CDX INDEX BUILD — crawl archive → cc-index records: SURT
    // urlkey (one domain's captures sort contiguously), 14-digit capture
    // timestamp, mime (warc/revisit for refetch records, the cc-index
    // convention), status, digest, record length. The write side of the
    // index the cdx_* queries read; one narrow projection, no shuffle —
    // a real build then sorts by (urlkey, cdx_ts), which is ONE
    // range-partitioned sort at any scale.
    "warc_cdx_index" -> ((s, dir) =>
      graft.sources.Loader.load(s, warcFixture(s, dir) + "/docs_revisit.warc")
        .select(
          Url.surtKey(col("target_uri")).as("urlkey"),
          regexp_replace(col("warc_date"), "[-:TZ]", "").as("cdx_ts"),
          col("target_uri").as("url"),
          when(col("warc_type") === "revisit", lit("warc/revisit"))
            .otherwise(trim(regexp_extract(col("http_content_type"),
              "^([^;]*)", 1))).as("mime"),
          col("http_status").as("status"),
          col("payload_digest").as("digest"),
          col("content_length").as("length"))),
    // The CDX-J SOURCE read end to end: every line of the index fixture
    // parsed to typed columns (status '-' on revisit lines goes NULL via
    // try_cast, blank lines drop). The oracle replays both line kinds
    // from the documents table — the reader's parse, not the fixture, is
    // under test.
    "cdx_read" -> ((s, dir) =>
      graft.sources.Loader.load(s, warcFixture(s, dir) + "/docs.cdxj")),
    // The lookup pattern SURT keys exist for: one host family's captures
    // as a PREFIX scan over the urlkey space (here every blog.*.co.uk
    // capture) — on a (urlkey, cdx_ts)-sorted index this is a contiguous
    // range read, never a full scan.
    "cdx_host_lookup" -> ((s, dir) =>
      graft.sources.Loader.load(s, warcFixture(s, dir) + "/docs.cdxj")
        .filter(col("urlkey").startsWith("uk,co,"))
        .select("urlkey", "cdx_ts", "url", "status")),
    // RANDOM-ACCESS record fetch — the CDX replay path end to end: a
    // metadata-only index pass (payload pruned — never decoded) yields
    // each wanted record's (file, offset, length); the ranged read then
    // fetches EXACTLY those records by seek, one task per touched file.
    // The oracle replays the fetched subset's content from documents —
    // a wrong offset or length returns the wrong record (or none) and
    // nothing can hash-match.
    "warc_range_fetch" -> ((s, dir) => {
      val wanted = graft.sources.Loader
        .load(s, warcFixture(s, dir) + "/docs_revisit.warc")
        .filter(col("warc_type") === "response" &&
          regexp_extract(col("record_id"), "doc-(\\d+)", 1).cast("long") % 5 === 0)
        .select("warc_file", "record_offset", "record_length")
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .toSeq
      graft.sources.Loader.loadWarcRanges(s, wanted)
        .select("record_id", "target_uri", "payload")
    }),
    // FETCH DECISIONS (composed, no new op) — the incremental-crawl
    // gate: candidate URLs surt-keyed against the previous crawl's CDX
    // index (latest capture per urlkey; the 14-digit timestamps compare
    // as strings). Never captured → fetch; captured within the
    // freshness horizon (the Feb revisits) → skip_fresh; stale (the Jan
    // originals) → refetch. ONE urlkey-keyed aggregate over the index +
    // one urlkey join — both sides crawl-sized, no broadcast assumption.
    "cdx_fetch_decisions" -> ((s, dir) => {
      val idx = graft.sources.Loader
        .load(s, warcFixture(s, dir) + "/docs.cdxj")
        .groupBy("urlkey").agg(max("cdx_ts").as("last_capture"))
      val docs = rt(s, dir, "documents")
      val cands = docs.select(synthUrl.as("url"))
        .unionByName(docs.filter(col("doc_id") % 3 === 0)
          .select(concat(lit("https://new."), col("source"),
            lit(".org/x/"), col("doc_id")).as("url")))
        .distinct()
      cands.withColumn("urlkey", Url.surtKey(col("url")))
        .join(idx, Seq("urlkey"), "left")
        .withColumn("decision",
          when(col("last_capture").isNull, "fetch")
            .when(col("last_capture") >= "20260115000000", "skip_fresh")
            .otherwise("refetch"))
        .select("url", "urlkey", "last_capture", "decision")
    }),
    // The ROBOTS-AWARE RECRAWL PLAN (composed, no new op — the whole
    // operational loop in one query): the index's fetch decisions pick
    // what is DUE (never captured → fetch, stale → refetch; the fresh
    // Feb revisits drop out), the robots gate then kills every
    // 'new.*.org/x/…' candidate (those hosts disallow /x/ — a decision
    // to fetch is not permission to fetch), per-host Crawl-delays attach
    // (blog hosts declare 2 s; undeclared hosts default to 1 s), and the
    // politeness scheduler assigns each surviving URL its fetch slot
    // from a pinned plan instant. The oracle recomputes decisions, the
    // robots kill, and the slot arithmetic independently.
    "warc_recrawl_plan" -> ((s, dir) => {
      import org.apache.spark.sql.types.StringType
      val idx = graft.sources.Loader
        .load(s, warcFixture(s, dir) + "/docs.cdxj")
        .groupBy("urlkey").agg(max("cdx_ts").as("last_capture"))
      val docs = rt(s, dir, "documents")
      val cands = docs.select(synthUrl.as("url"))
        .unionByName(docs.filter(col("doc_id") % 3 === 0)
          .select(concat(lit("https://new."), col("source"),
            lit(".org/x/"), col("doc_id")).as("url")))
        .distinct()
      val due = cands
        .withColumn("urlkey", Url.surtKey(col("url")))
        .join(idx, Seq("urlkey"), "left")
        .withColumn("decision",
          when(col("last_capture").isNull, "fetch")
            .when(col("last_capture") >= "20260115000000", "skip_fresh")
            .otherwise("refetch"))
        .filter(col("decision") =!= "skip_fresh")
        .withColumn("host", Url.host(col("url")))
      val hosts = docs.select(col("source")).distinct()
      val robots = hosts.select(
        concat(lit("blog."), col("source"), lit(".co.uk")).as("host"),
        lit("User-agent: *\nDisallow: /private/\nCrawl-delay: 2").as("content"))
        .unionByName(hosts.select(
          concat(lit("new."), col("source"), lit(".org")).as("host"),
          lit("User-agent: *\nDisallow: /x/").as("content")))
      // CACHE the parsed rule table (the crawlFrontierParts convention):
      // hosts-dictionary-sized, consumed by the gate AND the delay join —
      // uncached, each consumer re-runs the whole parse subtree
      val rules = graft.ops.Robots.robotsParse(robots, "host", "content").cache()
      val allowed = graft.ops.Robots
        .robotsAllowed(due, "url", rules, "graftbot")
        .filter(col("allowed")).drop("allowed")
      val delays = graft.ops.Robots.crawlDelays(rules, "graftbot")
      val planned = allowed
        .join(delays, Seq("host"), "left")
        .withColumn("crawl_delay_sec",
          coalesce(col("crawl_delay_sec"), lit(1.0)))
        .withColumn("ts", lit("2026-03-01 00:00:00").cast("timestamp"))
      StreamingOps.politenessSchedule(
        planned, "host", "url", "crawl_delay_sec")
        .select("url", "host", "decision", "scheduled_at_ms")
    }),
    // CLOSEST-capture lookup (the wayback verb): per (urlkey, target T)
    // the capture nearest T by REAL elapsed time. Targets split around
    // the fixture's two capture instants so BOTH directions win
    // somewhere: Jan-10 targets resolve to the Jan originals, Jan-25
    // targets to the Feb revisits where one exists (7 days beats 24) —
    // and Jan 25 is the month-boundary shape where bare digit-distance
    // arithmetic picks the WRONG capture, so the epoch replay pins it.
    // Shared urlkeys (the non-blog SURT shapes collapse a source's docs
    // onto one key) hold several same-instant captures; the digest
    // tie-break keeps the winner deterministic.
    "cdx_closest" -> ((s, dir) => {
      val idx = graft.sources.Loader
        .load(s, warcFixture(s, dir) + "/docs.cdxj")
      // surtKey over a NAMED column, not the inline synthUrl when-chain:
      // surtKey references its input many times, so inlining multiplies
      // the four-shape tree into seconds of pure planning (the
      // cdx_fetch_decisions pattern; CollapseProject keeps non-cheap
      // multiply-referenced projections behind the boundary)
      // coalesce(surtKey, ""): synthUrl is always non-null and scheme'd, so
      // the key is provably non-null (and "" never matches an index urlkey —
      // the parser nulls empties), but Catalyst cannot see that: the join's
      // inferred isnotnull(urlkey) filter was pushed below the kernel-floor
      // Exchange and evaluated the ENTIRE surtKey(synthUrl) regex cascade
      // per row in the unsplittable single-task scan stage, just to discard
      // the value (profiled: a 1.9 s one-task stage, the query's largest).
      // A non-nullable key makes the inferred filter vanish; results are
      // row-identical (guide §4.4 duplicated-evaluation discipline).
      val targets = rtKernel(s, dir, "documents")
        .select(col("doc_id"), synthUrl.as("url"))
        .select(
          coalesce(Url.surtKey(col("url")), lit("")).as("urlkey"),
          when(col("doc_id") % 8 < 4, lit("20260110000000"))
            .otherwise(lit("20260125000000")).as("target_ts"))
        .distinct()
      graft.ops.Cdx.closestCaptures(idx, targets, tieCols = Seq("digest"))
        .select("urlkey", "target_ts", "cdx_ts", "url", "digest", "dist_sec")
    }),
    // POINT-IN-TIME REPLAY — the closest lookup COMPOSED with the ranged
    // fetch, entirely off the index: every 3rd document's urlkey is
    // asked for "the page nearest Jan 25" among RESPONSE captures (a
    // revisit record carries no content — resolving it to its original
    // via the digest is warc_revisit_dedup's path), and the winning
    // rows' OWN (filename, offset, length) coordinates seed
    // loadWarcRanges. A one-byte coordinate error in the index fetches
    // the wrong record (or none) and the content oracle cannot match.
    "cdx_replay_at" -> ((s, dir) => {
      val wdir = warcFixture(s, dir)
      val idx = graft.sources.Loader.load(s, wdir + "/docs.cdxj")
        .filter(col("mime") =!= "warc/revisit")
      val docs = rtKernel(s, dir, "documents")
      val targets = docs.filter(col("doc_id") % 3 === 0)
        .select(synthUrl.as("url")) // named column: see cdx_closest's note
        // coalesce-to-"" non-nullable key: see cdx_closest — kills the
        // pushed isnotnull(surtKey cascade) single-task scan filter
        .select(coalesce(Url.surtKey(col("url")), lit("")).as("urlkey"),
          lit("20260125000000").as("target_ts"))
        .distinct()
      val wanted = graft.ops.Cdx
        .closestCaptures(idx, targets, tieCols = Seq("digest"))
        .select("filename", "offset", "length")
        .collect()
        .map(r => (s"$wdir/docs_revisit.warc/${r.getString(0)}",
          r.getLong(1), r.getLong(2)))
        .toSeq
      graft.sources.Loader.loadWarcRanges(s, wanted)
        .select("record_id", "target_uri", "payload")
    }),
    // The crawl LINK graph first mile: WARC pages → outlink extraction
    // (every href resolution shape) → registered-domain edges under
    // with-private PSL semantics. The oracle recomputes the expected
    // links from the source columns, so tag matching, href parsing, URL
    // resolution, host extraction, AND domain grouping all have to agree.
    "warc_link_graph" -> ((s, dir) =>
      graft.ops.LinkGraph.hostGraph(
        graft.ops.LinkGraph.extractLinks(
          graft.sources.Loader.load(s, warcFixture(s, dir) + "/docs_links.warc")
            .select("target_uri", "payload"),
          "payload", "target_uri"),
        "target_uri", "link_url", rules = graft.ops.Psl.snapshotWithPrivate)),
    // ANCHOR TEXT — the text other pages use to describe a target URL,
    // the web-scale query-document relevance signal a training pipeline
    // mines: per (canonical target, anchor) counts. The oracle replays
    // extraction, resolution, canonicalization (the cosmetically-doubled
    // github spelling collapses onto one dst, its two anchors stay
    // distinct rows) AND the aggregation from the source columns.
    "warc_anchor_text" -> ((s, dir) =>
      graft.ops.LinkGraph.extractAnchors(
        graft.sources.Loader.load(s, warcFixture(s, dir) + "/docs_links.warc")
          .select("target_uri", "payload"),
        "payload", "target_uri")
        .withColumn("dst", Url.canonicalizeUrl(col("link_url")))
        .groupBy("dst", "anchor_text")
        .agg(count(lit(1)).as("n_links"))),
    // The WAT route into the link graph — Common Crawl's pre-parsed JSON
    // sidecar, so ingest can skip raw-HTML parsing: per record the
    // sidecar title plus every ANCHOR link resolved absolute (the IMG
    // resource drops under the anchors-only default; the text-less
    // anchor keeps a NULL anchor_text). One narrow JSON generator.
    "warc_wat_links" -> ((s, dir) =>
      graft.ops.LinkGraph.watOutlinks(
        graft.sources.Loader.load(s, warcFixture(s, dir) + "/docs_wat.warc")
          .select("record_id", "target_uri", "payload"),
        "payload", "target_uri")
        .withColumn("wat_title", graft.ops.LinkGraph.watTitle(col("payload")))
        .select("record_id", "wat_title", "link_url", "anchor_text")),
    // FULL WAT enrichment — the sidecar route to warc_html_meta's ingest
    // columns plus the header half (content type, status), so a WAT-only
    // ingest needs no raw fetch bytes. One narrow JSON projection; the
    // oracle replays every shape (decoy meta name, position-1
    // description, verbatim relative canonical, 404s) from the source
    // columns.
    "warc_wat_meta" -> ((s, dir) =>
      graft.ops.LinkGraph.watHeadMeta(
        graft.sources.Loader.load(s, warcFixture(s, dir) + "/docs_wat.warc")
          .select("record_id", "payload"),
        "payload")
        .drop("payload")),
    // WAT script resources — the supply-chain surface: one row per
    // <script src> the sidecar pre-parsed, resolved absolute (the
    // root-relative app-N.js must gain scheme://host). Narrow generator.
    "warc_wat_scripts" -> ((s, dir) =>
      graft.ops.LinkGraph.watScripts(
        graft.sources.Loader.load(s, warcFixture(s, dir) + "/docs_wat.warc")
          .select("record_id", "target_uri", "payload"),
        "payload", "target_uri")
        .select("record_id", "script_url")),
    // HEAD metadata ingest columns — title, meta description (both
    // attribute orders), rel=canonical (both orders, absent on every
    // 5th page, RELATIVE on every 5th-plus-2). One narrow projection;
    // the oracle replays every shape from the source columns.
    "warc_html_meta" -> ((s, dir) =>
      graft.ops.TextOps.htmlHead(
        graft.sources.Loader.load(s, warcFixture(s, dir) + "/docs_links.warc")
          .select("target_uri", "payload"),
        "payload")
        .drop("payload")),
    // CANONICAL-URL dedup (RFC 6596) — the crawl-side collapse that runs
    // BEFORE any content comparison: group pages by their declared
    // canonical (resolved against the page URL, then canonicalized;
    // pages without one key on themselves), keep the lexicographically
    // first member as the fetch representative.
    "warc_canonical_dedup" -> ((s, dir) => {
      val pages = graft.sources.Loader
        .load(s, warcFixture(s, dir) + "/docs_links.warc")
        .select("target_uri", "payload")
      pages
        .withColumn("__c", graft.ops.TextOps.relCanonical(col("payload")))
        .withColumn("canonical_key", Url.canonicalizeUrl(
          coalesce(
            graft.ops.LinkGraph.resolveUrl(col("target_uri"), col("__c")),
            col("target_uri"))))
        .groupBy("canonical_key")
        .agg(count(lit(1)).as("n_pages"), min("target_uri").as("kept_uri"))
    }),
    // The whole frontier mile COMPOSED (no new op — the §2.12
    // composed-query convention): crawled pages → outlinks, UNIONED with
    // the sitemap-discovered branch (robots.txt `Sitemap:` lines →
    // fetched sitemap bodies → `<loc>` extraction) → canonicalization
    // (the cosmetically-doubled github link collapses back to one URL)
    // → robots gate (odd-numbered partner hosts disallow /a/; the same
    // parse feeds both the gate and the sitemap discovery) → seen-key
    // probe (every cdn URL is already crawled) → the distinct fetch
    // frontier. The oracle recomputes the surviving URL set
    // independently from the source columns.
    "warc_crawl_frontier" -> ((s, dir) => crawlFrontierParts(s, dir)._2),
    // Frontier PRIORITIZATION (composed, no new op): the frontier joined
    // with the link graph's Katz centrality (by registered domain under
    // with-private PSL semantics) and the robots Crawl-delay (by host),
    // then one per-host window assigns the polite fetch sequence —
    // scheduled_at = (seq−1) × delay, the rate arithmetic a fetcher
    // replays. Hosts without a declared delay default to 1 s; domains
    // outside the graph rank at centrality 0. No global window — the
    // order is per host (the politeness unit), so the plan scales with
    // hosts, not one partition.
    "warc_frontier_schedule" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // ONE archive scan + link extraction feeds both the frontier and
      // the centrality edges (lazily materialized — see
      // crawlFrontierParts' linksIn note); round 15 ran it twice per
      // execution, the query's single most expensive stage.
      val links = graft.ops.LinkGraph.extractLinks(
        graft.sources.Loader.load(s, warcFixture(s, dir) + "/docs_links.warc")
          .select("target_uri", "payload"),
        "payload", "target_uri")
        .select("target_uri", "link_url")
        .localCheckpoint(false)
      val (rules, frontier) = crawlFrontierParts(s, dir, Some(links))
      val cent = graft.ops.LinkGraph.domainCentrality(
        graft.ops.LinkGraph.hostGraph(
          links,
          "target_uri", "link_url", rules = graft.ops.Psl.snapshotWithPrivate),
        iterations = 2)
      val delays = graft.ops.Robots.crawlDelays(rules, "graftbot")
      val withDom = Url.registeredDomainPsl(
        frontier.withColumn("host", Url.host(col("url_canonical"))),
        "host", "domain", rules = graft.ops.Psl.snapshotWithPrivate)
      withDom
        .join(cent.withColumnRenamed("domain", "__c_dom"),
          col("domain") === col("__c_dom"), "left")
        .drop("__c_dom")
        .join(delays, Seq("host"), "left")
        .withColumn("centrality", coalesce(col("centrality"), lit(0L)))
        .withColumn("crawl_delay_sec", coalesce(col("crawl_delay_sec"), lit(1.0)))
        .withColumn("seq", row_number().over(
          Window.partitionBy("host")
            .orderBy(col("centrality").desc, col("url_canonical"))))
        .withColumn("scheduled_at",
          (col("seq") - 1).cast("double") * col("crawl_delay_sec"))
        .select("url_canonical", "host", "domain", "centrality", "seq",
          "scheduled_at")
    }),
    // The politeness-rate side of the same robots parse: per-host
    // Crawl-delay extraction (agent-selected like the permission check;
    // fractional seconds), the scheduler input of a polite fetcher.
    "text_robots_delay" -> ((s, dir) => {
      val d = rt(s, dir, "documents")
      val robots = d.select(robotsHost.as("host"),
        concat(lit("User-agent: *\nDisallow: /private/\nCrawl-delay: "),
          (length(col("source")) % 5).cast("string")).as("content"))
        .distinct()
      graft.ops.Robots.crawlDelays(
        graft.ops.Robots.robotsParse(robots, "host", "content"), "graftbot")
    }),
    // Katz-style integer in-link centrality over that edge graph, two
    // bounded rounds — the domain-ranking signal crawl blocklists feed
    // on. Exact BIGINT path counts, replayed as two unrolled SQL rounds.
    "warc_domain_centrality" -> ((s, dir) =>
      graft.ops.LinkGraph.domainCentrality(
        graft.ops.LinkGraph.hostGraph(
          graft.ops.LinkGraph.extractLinks(
            graft.sources.Loader.load(s, warcFixture(s, dir) + "/docs_links.warc")
              .select("target_uri", "payload"),
            "payload", "target_uri"),
          "target_uri", "link_url", rules = graft.ops.Psl.snapshotWithPrivate),
        iterations = 2)),
    // The epoch-7 member of the same family: the seeded hash re-permutes
    // shard membership AND within-shard order deterministically — the
    // per-epoch corpus shuffle a trainer export replays from (seed, ids)
    // alone. The oracle replays the seeded MINSTD chain in SQL.
    "sink_shuffled_shards" -> ((s, dir) =>
      Writer.shardAssignments(rt(s, dir, "documents"), "doc_id", 16, seed = 7L)
        .select("doc_id", "shard", "shard_pos")),
    // Curriculum shard layout: 16 exact score-quantile stages over the
    // character count (integer-valued, so the 15 boundary doubles are
    // bit-exact on both engines), each stage ordered (score, doc_id). The
    // oracle replays the coarse boundaries + a per-stage rank; the Scala
    // side computes the SAME layout through 128 fine-quantile buckets and
    // driver prefix offsets (fine buckets are monotone in the score, so
    // the two-level rank is exactly the windowed rank).
    "sink_curriculum_shards" -> ((s, dir) =>
      Writer.shardByScoreQuantile(
        rt(s, dir, "documents")
          .select(col("doc_id"), col("n_chars").cast("double").as("score")),
        "doc_id", "score", numShards = 16)
        .select("doc_id", "score", "shard", "shard_pos")),
    // Token-budget shard layout: ~2000-token shards over the whitespace
    // token counts, in the same bucket-major order as sample_token_budget.
    "sink_token_shards" -> ((s, dir) =>
      Writer.shardByTokenBudget(
        rt(s, dir, "documents")
          .select(col("doc_id"), TextOps.tokenCount(col("text")).as("n_tokens")),
        "doc_id", "n_tokens", tokensPerShard = 2000L, numBuckets = 8)),
    // Release-audit manifest: per (lang, source), the row count, character
    // total, and order-free 60-bit md5-XOR content checksum — any engine
    // re-verifies the exact bytes without agreeing on row order.
    "sink_manifest" -> ((s, dir) =>
      Writer.manifest(rt(s, dir, "documents"),
        groupCols = Seq("lang", "source"), contentCols = Seq("text"),
        tokenCol = Some("n_chars"))),
    // Release-audit manifest diff: current drop = previous minus French,
    // with German texts edited and a re-sourced English slice added — one
    // deterministic instance of each status. The oracle replays both
    // manifests and the full-outer status join.
    "sink_manifest_diff" -> ((s, dir) => {
      val d = rt(s, dir, "documents")
      val prev = Writer.manifest(d, Seq("lang", "source"), Seq("text"))
      val cur = d.filter(col("lang") =!= "fr")
        .withColumn("text",
          when(col("lang") === "de", concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
        .unionByName(d.filter(col("lang") === "en" && col("doc_id") % 7 === 0)
          .withColumn("source", lit("srcNEW")))
      Writer.manifestDiff(prev,
        Writer.manifest(cur, Seq("lang", "source"), Seq("text")),
        Seq("lang", "source"))
    }),
    // End-to-end training-prep composition: 40-token chunks (8 overlap) →
    // 256-token training bins, keyed by a (doc, chunk) surrogate id. The
    // 1e6 stride keeps cids collision-free up to 1M chunks/doc (32M-token
    // docs at stride 32) — collisions would make the pack order ambiguous.
    "text_chunk_pack" -> ((s, dir) => {
      val chunks = TextOps.chunkTokens(
        rt(s, dir, "documents").select("doc_id", "text"),
        "text", chunkSize = 40, overlap = 8)
        .select((col("doc_id") * 1000000L + col("chunk_id")).as("cid"),
          col("chunk_tokens"))
      Sampling.packSequences(chunks, "cid", "chunk_tokens",
        capacity = 256, numBuckets = 8)
    }),
    // Exact n-gram decontamination (the "shared 13-gram" rule, n=5 for the
    // synthetic corpus): training docs (doc_id % 3 != 0) flagged with the
    // count of distinct token 5-grams they share with the benchmark slice
    // (every 3rd doc). The bloom prefilter changes the plan, never the
    // rows — the oracle replays the exact string-level overlap.
    "dedup_ngram_overlap" -> ((s, dir) => {
      val d = rt(s, dir, "documents")
      Dedup.ngramOverlapContamination(
        d.filter(col("doc_id") % 3 =!= 0), d.filter(col("doc_id") % 3 === 0),
        "doc_id", "text", n = 5)
    }),
    // Same contamination check through the persisted-index path: fit on
    // the benchmark side once, save (params.json + hashes.parquet), load,
    // probe — the oracle gate proves the persistence round-trip gives the
    // identical exact-overlap result.
    "dedup_contamination_model" -> ((s, dir) => {
      val d = rt(s, dir, "documents")
      // one fixed dir per JVM (mode=overwrite handles re-runs) — a fresh
      // temp dir per invocation would leak one parquet table per bench loop
      Dedup.contaminationFit(d.filter(col("doc_id") % 3 === 0), "text", n = 5)
        .save(contamIdxDir)
      Dedup.contaminationApply(
        d.filter(col("doc_id") % 3 =!= 0), "doc_id", "text",
        Dedup.ContaminationIndex.load(s, contamIdxDir))
    }),
    // Seen-key ingest dedup through a fit → disk → load → probe round
    // trip: the corpus third's synthetic URLs index once; the incoming
    // two-thirds keep only never-crawled URLs (shape 1 embeds doc_id →
    // always unseen; shapes 0/2/3 collide by source → mostly seen). The
    // oracle replays at the raw-string level — bloom false positives must
    // be invisible by construction.
    "dedup_key_seen" -> ((s, dir) => {
      val d = rt(s, dir, "documents")
      Dedup.keyIndexFit(
        d.filter(col("doc_id") % 3 === 0).withColumn("url", synthUrl), "url")
        .save(keyIdxDir)
      Dedup.keyIndexApply(
        d.filter(col("doc_id") % 3 =!= 0).withColumn("url", synthUrl),
        "url", Dedup.KeyIndex.load(s, keyIdxDir))
        .select("doc_id", "url")
    }),
    // Corpus drift between drops: source mix of the first third vs the
    // rest with src0 removed — src0's n_cur = 0 exercises the clamped
    // vanished-category path the release gate exists to surface.
    "corpus_drift_psi" -> ((s, dir) => {
      val d = rt(s, dir, "documents")
      Curation.categoryDriftPsi(
        d.filter(col("doc_id") % 3 === 0),
        d.filter(col("doc_id") % 3 =!= 0 && col("source") =!= "src0"),
        "source")
    }),
    // Content-level release diff: the "new drop" deterministically drops
    // doc_id%10=1 (removed), rewrites %10=2's text (changed), and appends
    // %10=3 copies under +10000 (added); unchanged rows stay out of the
    // report by default.
    "corpus_diff" -> ((s, dir) => {
      val d = rt(s, dir, "documents").select(col("doc_id"), col("text"))
      val cur = d.filter(col("doc_id") % 10 =!= 1)
        .withColumn("text",
          when(col("doc_id") % 10 === 2, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
        .unionByName(d.filter(col("doc_id") % 10 === 3)
          .select((col("doc_id") + 10000).as("doc_id"), col("text")))
      Curation.corpusDiff(
        d.withColumn("fp", md5(col("text").cast("binary"))),
        cur.withColumn("fp", md5(col("text").cast("binary"))),
        "doc_id", "fp")
    }),
    // Pre-training expectations gate: three per-row rules (one of which
    // genuinely fails on the synthetic corpus) + the id-uniqueness
    // aggregate, all evaluated in ONE corpus scan.
    "corpus_expectations" -> ((s, dir) =>
      Curation.expectationsReport(
        rt(s, dir, "documents"),
        Seq(
          "nonempty_text" -> (length(col("text")) > 0),
          "known_lang" -> col("lang").isin("en", "zh", "es", "de", "fr"),
          "long_text" -> (col("n_chars") >= 200)),
        uniqueCol = Some("doc_id"))),
    // Grouped top-k selection ("best k docs per language").
    "text_topk_per_lang" -> ((s, dir) =>
      Relational.topKPerGroup(
        rt(s, dir, "documents").select("doc_id", "lang", "n_chars"),
        Seq("lang"), Seq(col("n_chars").desc, col("doc_id").asc), 5)),
    "text_token_count" -> ((s, dir) =>
      rt(s, dir, "documents").select(
        col("doc_id"),
        TextOps.tokenCount(col("text")).as("n_tokens"),
        TextOps.regexTokenCount(col("text")).as("n_regex_tokens"))),
    "text_quality" -> ((s, dir) =>
      TextOps.qualityFeatures(
        rt(s, dir, "documents").select("doc_id", "text"), "text")
        .drop("text")),
    "text_gopher" -> ((s, dir) =>
      TextOps.gopherFeatures(
        rt(s, dir, "documents").select("doc_id", "text"), "text")
        .drop("text")),
    // Published thresholds relaxed to the synthetic corpus's 10-99-word
    // documents (minWords 20, minStopHits 1) so the kept set is non-trivial
    "text_gopher_filter" -> ((s, dir) =>
      TextOps.gopherFilter(
        rt(s, dir, "documents").select("doc_id", "text"), "text",
        minWords = 20, minStopHits = 1)
        .drop("text")),
    "text_langid" -> ((s, dir) =>
      rt(s, dir, "documents").select(
        col("doc_id"), TextOps.languageId(col("text")).as("lang_pred"))),
    // Trained language ID: multi-class NB over char bigrams, fit on the
    // labeled corpus through a save/load round trip, scored as one
    // broadcast weight join + per-doc argmax. The oracle replays fit AND
    // argmax (vocab head, smoothed weights, ordered fold, prior biases).
    "text_langid_model" -> ((s, dir) =>
      graft.ops.LangId.langIdScore(
        rtKernel(s, dir, "documents").select("doc_id", "text"),
        "doc_id", "text", langIdFitted(s, dir))
        .select("doc_id", "lang_pred", "lang_score")),
    "text_repetition" -> ((s, dir) =>
      TextOps.repetitionFeatures(
        rt(s, dir, "documents").select("doc_id", "text"), "text")
        .drop("text")),
    "text_repetition_filter" -> ((s, dir) =>
      TextOps.repetitionFilter(
        rt(s, dir, "documents").select("doc_id", "text"), "text")
        .drop("text")),
    "text_pii" -> ((s, dir) =>
      TextOps.piiCounts(
        rt(s, dir, "documents").select("doc_id", "text"), "text")
        .drop("text")),
    "text_pii_redact" -> ((s, dir) =>
      TextOps.redactPii(
        rt(s, dir, "documents").select("doc_id", "text"), "text")),
    // Extended detector sweep (cards/SSNs/IBANs) over text with synthetic
    // PII shapes appended — shape detectors, no Luhn, by design.
    "text_pii_ext" -> ((s, dir) =>
      TextOps.piiCountsExtended(
        rt(s, dir, "documents")
          .select(col("doc_id"), concat(col("text"), synthPii).as("text")),
        "text").drop("text")),
    // The full scrub chain in cross-bite-safe order.
    "text_pii_redact_ext" -> ((s, dir) =>
      TextOps.redactPiiExtended(
        rt(s, dir, "documents")
          .select(col("doc_id"), concat(col("text"), synthPii).as("text")),
        "text")),
    // Token-window chunking (context-length splitting): 40-token windows
    // advancing by 32 (8-token overlap).
    "text_chunk" -> ((s, dir) =>
      TextOps.chunkTokens(
        rt(s, dir, "documents").select("doc_id", "text"), "text",
        chunkSize = 40, overlap = 8)
        .select("doc_id", "chunk_id", "chunk_text", "chunk_tokens")),
    // --- URL/domain curation (round 6) ---
    // Host / registered-domain / path features over a synthetic source URL
    // derived deterministically from (source, doc_id) — the testdata has no
    // URL column, so both engines build the same one (the qtyWithNulls
    // convention). The four doc_id%4 shapes exercise: www + query string,
    // a multi-part public suffix (co.uk), userinfo+port, and a bare host
    // with no path.
    "text_url" -> ((s, dir) =>
      Url.urlFeatures(
        rt(s, dir, "documents").select(col("doc_id"), col("source"))
          .withColumn("url", synthUrl), "url")
        .select("doc_id", "url", "url_host", "url_domain", "url_path", "url_depth")),
    // The PSL rule table (exact / wildcard / exception + label counts) —
    // the aux dump text_url_psl's oracle replays the prevailing-rule
    // algorithm over, like the centroid/codebook dumps.
    "text_psl_rules" -> ((s, dir) => {
      // the WITH-PRIVATE rule set — the one text_url_psl resolves against
      val r = graft.ops.Psl.snapshotWithPrivate
      import org.apache.spark.sql.types.{LongType, StringType}
      def rows(set: Set[String], kind: String) = set.toSeq.sorted.map(x =>
        org.apache.spark.sql.Row(x, kind, (x.count(_ == '.') + 1).toLong))
      Sampling.localFrame(s,
        Seq("rule" -> StringType, "kind" -> StringType, "nlabels" -> LongType),
        rows(r.exact, "exact") ++ rows(r.wildcardBases, "wildcard") ++
          rows(r.exceptions, "exception"))
    }),
    // Registered-domain extraction under FULL public-suffix-list semantics
    // (wildcards, exceptions, default rule, PRIVATE section, punycode-
    // normalized IDN rules) over twelve host shapes covering every rule
    // kind — including the round-11 full-snapshot shapes (private
    // multi-level S3 endpoint, private *.compute wildcard, k12.ca.us
    // locality, *.sch.uk two-label wildcard base). The oracle replays the
    // longest-match/exception algorithm as SQL joins against the
    // text_psl_rules dump (rule-set agnostic: its suffix-level range
    // derives from the dump's max label count).
    "text_url_psl" -> ((s, dir) =>
      Url.registeredDomainPsl(
        rt(s, dir, "documents").select(col("doc_id"), synthPslHost.as("url_host")),
        "url_host", rules = graft.ops.Psl.snapshotWithPrivate)
        .select("doc_id", "url_host", "url_domain")),
    // Crawl-frontier URL canonicalization: case folding, userinfo strip,
    // default-port drop, query sort, fragment drop, empty-path slash —
    // the seen-key normalizer. The oracle computes each shape's expected
    // canonical string INDEPENDENTLY from the source columns, so every
    // rule must agree.
    "text_url_canonical" -> ((s, dir) =>
      Url.canonicalizeUrls(
        rt(s, dir, "documents").select(col("doc_id"), synthMessyUrl.as("url")),
        "url")
        .select("doc_id", "url", "url_canonical")),
    // Tracking-parameter strip — the aggressive half of frontier dedup
    // (utm_*/gclid/… identify the CLICK, not the page): canonicalize
    // (query sorts), then strip, per four shapes incl. an all-tracking
    // query whose '?' disappears. The oracle replays the expected
    // strings per shape.
    "text_url_strip_tracking" -> ((s, dir) => {
      val url = when(col("doc_id") % 4 === 0,
        concat(lit("https://"), col("source"),
          lit(".com/p?utm_source=x&a=1&utm_campaign=y")))
        .when(col("doc_id") % 4 === 1,
          concat(lit("https://"), col("source"), lit(".com/q?gclid=abc123")))
        .when(col("doc_id") % 4 === 2,
          concat(lit("https://"), col("source"), lit(".com/r?b=2&a=1")))
        .otherwise(concat(lit("https://"), col("source"), lit(".com/s")))
      rt(s, dir, "documents").select(
        col("doc_id"),
        Url.canonicalizeUrl(url).as("url_canonical"))
        .withColumn("url_stripped",
          Url.stripTrackingParams(col("url_canonical")))
    }),
    // The SURT index key over the same messy shapes: canonicalization,
    // www-strip, host-label reversal, kept non-default port, sorted
    // query — and NULL for the non-URL passthrough (no host, no key).
    "text_url_surt" -> ((s, dir) =>
      rtKernel(s, dir, "documents").select(
        col("doc_id"), Url.surtKey(synthMessyUrl).as("surt_key"))),
    // Crawl politeness as a corpus filter: per-host robots.txt parsed
    // into the rule table (wildcards, $-anchors, allow-overrides), every
    // URL checked under REP longest-match semantics. The oracle computes
    // each shape's expected verdict independently, so the parse, group
    // assignment, regex translation, and best-rule window all must
    // agree.
    "text_robots_filter" -> ((s, dir) => {
      val d = rt(s, dir, "documents")
      val robots = d.select(robotsHost.as("host"))
        .distinct()
        .withColumn("content", lit(
          "User-agent: *\nDisallow: /private/\nAllow: /private/ok\n" +
            "Disallow: /tmp*\nDisallow: /exact$"))
      graft.ops.Robots.robotsAllowed(
        d.select(col("doc_id"), synthRobotsUrl.as("url")), "url",
        graft.ops.Robots.robotsParse(robots, "host", "content"), "graftbot")
    }),
    // Sitemap <loc> extraction — the discovery half of the frontier
    // mile: each synthetic sitemap carries one clean URL and one
    // pretty-printed XML-escaped URL, so extraction, whitespace
    // trimming, and entity unescaping must all agree with the oracle's
    // independent reconstruction.
    "text_sitemap_urls" -> ((s, dir) =>
      graft.ops.Sitemap.sitemapUrls(
        rt(s, dir, "documents").select(col("doc_id"),
          concat(
            lit("<?xml version=\"1.0\"?><urlset><url><loc>https://"),
            col("source"), lit(".com/p/"), col("doc_id"),
            lit("</loc></url><url><loc>\n  https://"), col("source"),
            lit(".com/q?a=1&amp;b=2\n</loc></url></urlset>")).as("xml")),
        "xml")
        .select("doc_id", "sitemap_url")),
    // Full sitemap ENTRIES — the recrawl-scheduling surface: per <url>
    // block, loc + lastmod + priority (second block carries only a loc
    // → NULL metadata), every element trimmed/unescaped and priority
    // cast exactly. The oracle rebuilds all four columns independently.
    "text_sitemap_entries" -> ((s, dir) =>
      graft.ops.Sitemap.sitemapEntries(
        rt(s, dir, "documents").select(col("doc_id"),
          concat(
            lit("<?xml version=\"1.0\"?><urlset><url><loc>https://"),
            col("source"), lit(".com/p/"), col("doc_id"),
            lit("</loc><lastmod>2026-01-0"), col("doc_id") % 9 + 1,
            lit("</lastmod><priority>0."), col("doc_id") % 10,
            lit("</priority></url><url><loc>\n  https://"), col("source"),
            lit(".com/q?a=1&amp;b=2\n</loc></url></urlset>")).as("xml")),
        "xml")
        .select("doc_id", "sitemap_loc", "sitemap_lastmod",
          "sitemap_changefreq", "sitemap_priority")),
    // The RECRAWL schedule a sitemap drives (composed — the only new op
    // is the changefreq→seconds vocabulary): entries → refetch interval
    // → next_fetch_epoch = lastmod + interval → overdue against a
    // pinned audit instant (2026-02-01Z). 'never' entries schedule
    // nothing (NULL interval, overdue=false) — the protocol's hint
    // semantics. Epoch-integer arithmetic end to end: no timezone
    // arithmetic can fork between the engines.
    "warc_recrawl_schedule" -> ((s, dir) => {
      val freq = when(col("doc_id") % 7 === 0, "always")
        .when(col("doc_id") % 7 === 1, "hourly")
        .when(col("doc_id") % 7 === 2, "daily")
        .when(col("doc_id") % 7 === 3, "weekly")
        .when(col("doc_id") % 7 === 4, "monthly")
        .when(col("doc_id") % 7 === 5, "yearly")
        .otherwise("never")
      graft.ops.Sitemap.sitemapEntries(
        rt(s, dir, "documents").select(col("doc_id"),
          concat(
            lit("<urlset><url><loc>https://"), col("source"),
            lit(".com/p/"), col("doc_id"),
            lit("</loc><lastmod>2026-01-0"), col("doc_id") % 9 + 1,
            lit("</lastmod><changefreq>"), freq,
            lit("</changefreq><priority>0."), col("doc_id") % 10,
            lit("</priority></url></urlset>")).as("xml")),
        "xml")
        .withColumn("interval_sec",
          graft.ops.Sitemap.changefreqSeconds(col("sitemap_changefreq")))
        .withColumn("next_fetch_epoch",
          unix_timestamp(to_timestamp(col("sitemap_lastmod"), "yyyy-MM-dd")) +
            col("interval_sec"))
        .withColumn("overdue",
          coalesce(col("next_fetch_epoch") <= lit(1769904000L), lit(false)))
        .select("doc_id", "sitemap_loc", "sitemap_changefreq",
          "interval_sec", "sitemap_priority", "next_fetch_epoch", "overdue")
    }),
    // Main-content extraction (jusText-lite): block split at closing
    // block tags, keep blocks that are long enough AND not link-saturated
    // — the nav/footer boilerplate around every synthetic page drops, the
    // body paragraph survives. The oracle replays blocks, per-block
    // cleanup, link-density rule, and the ordered newline join.
    "text_main_content" -> ((s, dir) =>
      TextOps.extractMainContent(
        rt(s, dir, "documents")
          .select(col("doc_id"), synthPage.as("html")), "html")
        .select("doc_id", "main_content")),
    // HTML → plain-text extraction over a synthetic page wrapper (the
    // testdata has no HTML column): script/style/comment removal, block
    // tags to newlines, entity decode with &amp; last, whitespace
    // normalization — every step one RE2-portable regexp_replace the
    // oracle replays verbatim.
    "text_strip_html" -> ((s, dir) =>
      TextOps.stripHtml(
        rt(s, dir, "documents").select(col("doc_id"), col("text"))
          .withColumn("html", synthHtml), "html")
        .select("doc_id", "text_plain")),
    // Rule-based sentence segmentation over deterministically punctuated
    // text (the corpus has no sentence-final punctuation, so both engines
    // inject it the same way first): mark punctuation+gap with U+001E,
    // split, drop empties — one row per sentence with its reading-order id.
    "text_sentences" -> ((s, dir) =>
      TextOps.splitSentences(
        rt(s, dir, "documents").select(col("doc_id"),
          regexp_replace(
            regexp_replace(col("text"), " join ", ". Join "),
            " data ", "! Data ").as("ptext")),
        "doc_id", "ptext")),
    // Per-registered-domain provenance ranking (docs, distinct hosts,
    // token mass) — the table a CCNet-style pipeline ranks to build the
    // domainFilter blocklist. All-integer aggregates, so the group stats
    // hash-match exactly.
    "text_domain_stats" -> ((s, dir) =>
      Url.domainStats(
        rt(s, dir, "documents").select(col("doc_id"), col("source"), col("n_chars"))
          .withColumn("url", synthUrl), "url", tokenCol = Some("n_chars"))),
    // The blocklist filter itself: broadcast LEFT ANTI on the registered
    // domain (PlanSpec pins the broadcast).
    "text_url_filter" -> ((s, dir) =>
      Url.domainFilter(
        rt(s, dir, "documents").select(col("doc_id"), col("lang"), col("source"))
          .withColumn("url", synthUrl), "url",
        Seq("src1.co.uk", "src3-news.com", "src0-cdn.org"))
        .select("doc_id", "lang", "source")),
    // --- BPE subword tokenizer (round 6) ---
    // Fitted merge-table dump (rank, a, b) through a save/load round trip.
    // No SQL oracle for the FIT (the iterative pair-count argmax is not
    // SQL-replayable); the three queries below replay TOKENIZATION over
    // this dump with one REPLACE per rank — the sim_ivf_centroids
    // convention (aux dump feeds downstream oracles).
    "text_bpe_merges" -> ((s, dir) => {
      import s.implicits._
      bpeFitted(s, dir).merges.zipWithIndex
        .map { case ((a, b), i) => (i.toLong, a, b) }.toDF("rank", "a", "b")
    }),
    // The tokenizer itself: per-doc BPE token count and the U+001F-joined
    // token string (boundary-exact — two different segmentations can never
    // collide). The oracle replays the merge table with a recursive CTE,
    // one plain REPLACE per rank, over the double-separator encoding.
    "text_bpe" -> ((s, dir) =>
      Bpe.tokenizeBpe(
        rtKernel(s, dir, "documents").select("doc_id", "text"), "text",
        bpeFitted(s, dir))
        .select(col("doc_id"), size(col("bpe_tokens")).as("n_bpe"),
          array_join(col("bpe_tokens"), Bpe.Sep).as("bpe_joined"))),
    // The deterministic (token, id) vocabulary: sorted corpus alphabet
    // first, then merge products in rank order — an aux dump (the
    // text_bpe_merges convention) that text_bpe_ids replays ids from.
    "text_bpe_vocab" -> ((s, dir) => {
      import s.implicits._
      val d = rtKernel(s, dir, "documents")
      Bpe.vocabOf(bpeFitted(s, dir), Bpe.alphabetOf(d, "text"))
        .toDF("token", "id")
        .select(col("token"), col("id").cast("int").as("id"))
    }),
    // Trainer-ready integer ids: tokenize under the fitted merges, then one
    // vocabulary-map probe per token (UNK = -1, impossible here since the
    // alphabet comes from the same corpus). Positionally exploded — array
    // columns are not hashable by the driver compare.
    "text_bpe_ids" -> ((s, dir) =>
      Bpe.encodeIds(
        rtKernel(s, dir, "documents").select("doc_id", "text"), "text",
        bpeFitted(s, dir),
        Bpe.vocabOf(bpeFitted(s, dir),
          Bpe.alphabetOf(rtKernel(s, dir, "documents"), "text")))
        .select(col("doc_id"), posexplode(col("bpe_ids")).as(Seq("pos", "id")))),
    // BYTE-FALLBACK ids: every third document gets an accented/CJK tail
    // appended (the synthetic corpus is all-ASCII, so this is what makes
    // OOV real), and the vocabulary is built from the UNMODIFIED corpus
    // alphabet — the appended code points are genuinely outside it and
    // expand to their UTF-8 bytes (ids 0..255; vocab ids shift +256)
    // instead of UNK −1. 2–3 ids per OOV code point, so even the row
    // COUNT catches a fallback that silently stopped firing. The oracle
    // re-derives the alphabet, the first-win vocabulary, AND the
    // hex-pair byte expansion from scratch in SQL.
    "text_bpe_ids_bytes" -> ((s, dir) =>
      Bpe.encodeIdsBytes(
        rtKernel(s, dir, "documents").select(col("doc_id"),
          when(col("doc_id") % 3 === 0,
            concat(col("text"), lit(" d\u00e9j\u00e0 \u4e2d\u6587")))
            .otherwise(col("text")).as("text")),
        "text", bpeFitted(s, dir),
        Bpe.vocabOf(bpeFitted(s, dir),
          Bpe.alphabetOf(rtKernel(s, dir, "documents"), "text")))
        .select(col("doc_id"), posexplode(col("bpe_ids")).as(Seq("pos", "id")))),
    // Regex-PRE-TOKENIZED BPE (GPT-2 convention): merges fit and apply
    // within pre-tokens (contractions / space-prefixed letter / digit /
    // punctuation runs / whitespace runs), so " the" can become one
    // space-glued token and digits never fuse across punctuation. The
    // merge dump is the aux table; the tokenize oracle replays the
    // RE2-compatible pre-split AND the replace chain from scratch.
    "text_bpe_pretok_merges" -> ((s, dir) => {
      import s.implicits._
      bpePretokFitted(s, dir).merges.zipWithIndex
        .map { case ((a, b), i) => (i.toLong, a, b) }.toDF("rank", "a", "b")
    }),
    "text_bpe_pretok" -> ((s, dir) =>
      Bpe.tokenizeBpe(
        rtKernel(s, dir, "documents").select("doc_id", "text"), "text",
        bpePretokFitted(s, dir), pretok = Some(Bpe.Gpt2PretokPattern))
        .select(col("doc_id"), size(col("bpe_tokens")).as("n_bpe"),
          array_join(col("bpe_tokens"), Bpe.Sep).as("bpe_joined"))),
    // Tokenizer-fit report: chars-per-BPE-token by language under the
    // English-fitted merge table — the fertility check run before
    // committing a tokenizer to a pretraining mix (the en slice should
    // compress best). Integer sums + one exact double division.
    "text_bpe_stats" -> ((s, dir) =>
      Bpe.compressionStats(
        rtKernel(s, dir, "documents").select("doc_id", "lang", "text"),
        "text", bpeFitted(s, dir), Seq("lang"))),
    // "Train on the first 20k SUBWORD tokens": sample_token_budget with its
    // tokenCol produced by the BPE tokenizer instead of the whitespace
    // proxy — the re-plumbing the token-budget ops were built for.
    "sample_token_budget_bpe" -> ((s, dir) =>
      Sampling.sampleTokenBudget(
        Bpe.bpeTokenCount(
          rtKernel(s, dir, "documents").select("doc_id", "text"), "text",
          bpeFitted(s, dir))
          .select("doc_id", "n_bpe"),
        "doc_id", "n_bpe", budget = 20000L, numBuckets = 8)),
    // EXTERNAL tokenizer import (GPT-2 file formats): merges loaded from
    // a verbatim merges.txt fixture through the production parser. Aux
    // dumps: the loaded merge table (the text_bpe_merges convention),
    // the byte→alphabet map (so the oracle can recompute the byte-level
    // encoding without knowing the table), and the vocab.json ids.
    "text_bpe_ext_merges" -> ((s, dir) => {
      import s.implicits._
      gpt2External._1.merges.zipWithIndex
        .map { case ((a, b), i) => (i.toLong, a, b) }.toDF("rank", "a", "b")
    }),
    "text_bpe_ext_bytemap" -> ((s, dir) => {
      import s.implicits._
      Bpe.Gpt2ByteMap.toDF("byte_hex", "mapped")
    }),
    "text_bpe_ext_vocab" -> ((s, dir) => {
      import s.implicits._
      gpt2External._2.toDF("token", "id")
        .select(col("token"), col("id").cast("int").as("id"))
    }),
    // Tokenization under the EXTERNAL tokenizer, exactly as a production
    // GPT-2-family trainer applies it: GPT-2 regex pre-split on the raw
    // text, each pre-token byte-mapped into the 'Ġ' alphabet, then the
    // imported merges in rank order; ids from the imported vocab with
    // real UNKs (the fixture vocab is deliberately partial). The oracle
    // replays the byte mapping from the dumped map table (two-level
    // unnest over hex pairs), the replace chain, and the id probe — so
    // file parse, byte encoding, merges, and vocab all must agree.
    "text_bpe_external" -> ((s, dir) => {
      val (model, vocab) = gpt2External
      val vmap = typedLit(vocab.toMap)
      rtKernel(s, dir, "documents")
        .select(col("doc_id"), col("text"))
        .withColumn("__t", Bpe.bpeTokens(col("text"), model,
          pretok = Some(Bpe.Gpt2PretokPattern), byteLevel = true))
        .select(col("doc_id"),
          size(col("__t")).as("n_bpe"),
          array_join(col("__t"), Bpe.Sep).as("bpe_joined"),
          array_join(
            transform(col("__t"),
              t => coalesce(element_at(vmap, t), lit(-1)).cast("string")),
            ",").as("ids_joined"))
    }),
    // Token budgeting under the external tokenizer — the reason the
    // import exists: "first N tokens" measured with the trainer's own
    // merges, not the whitespace proxy or a corpus-fit table.
    "sample_token_budget_gpt2" -> ((s, dir) =>
      Sampling.sampleTokenBudget(
        Bpe.bpeTokenCount(
          rtKernel(s, dir, "documents").select("doc_id", "text"), "text",
          gpt2External._1, pretok = Some(Bpe.Gpt2PretokPattern),
          byteLevel = true)
          .select("doc_id", "n_bpe"),
        "doc_id", "n_bpe", budget = 20000L, numBuckets = 8)),
    // tiktoken-format import (GPT-4-family rank files): the merge table
    // is RECOVERED from ranks (each multi-byte token's minimal-max-rank
    // split), so the dump IS the recovery's output — the oracle replays
    // tokenization over it byte-for-byte. Vocab ids are the real ranks.
    "text_bpe_tk_merges" -> ((s, dir) => {
      import s.implicits._
      tiktokenExternal._1.merges.zipWithIndex
        .map { case ((a, b), i) => (i.toLong, a, b) }.toDF("rank", "a", "b")
    }),
    "text_bpe_tk_vocab" -> ((s, dir) => {
      import s.implicits._
      tiktokenExternal._2.toDF("token", "id")
        .select(col("token"), col("id").cast("int").as("id"))
    }),
    // Tokenization under the imported tiktoken ranks, applied exactly
    // like text_bpe_external (GPT-2 pre-split, byte alphabet, merges in
    // rank order — the greedy lowest-rank-pair equivalence): n_bpe +
    // joined tokens + REAL ids (every byte has a rank, so no UNKs — the
    // id probe must hit for every token).
    "text_bpe_tiktoken" -> ((s, dir) => {
      val (model, vocab) = tiktokenExternal
      val vmap = typedLit(vocab.toMap)
      rtKernel(s, dir, "documents")
        .select(col("doc_id"), col("text"))
        .withColumn("__t", Bpe.bpeTokens(col("text"), model,
          pretok = Some(Bpe.Gpt2PretokPattern), byteLevel = true))
        .select(col("doc_id"),
          size(col("__t")).as("n_bpe"),
          array_join(col("__t"), Bpe.Sep).as("bpe_joined"),
          array_join(
            transform(col("__t"),
              t => coalesce(element_at(vmap, t), lit(-1)).cast("string")),
            ",").as("ids_joined"))
    }),
    // SentencePiece import: pieces parsed from the binary model proto,
    // merges recovered from piece order, text preprocessed with the '▁'
    // word-boundary convention (space → ▁, dummy prefix), CHARACTER-level
    // merges (no byte alphabet). Ids are piece indexes with real UNKs
    // (capitals/digits/punctuation are not in the fixture's pieces).
    "text_bpe_sp_merges" -> ((s, dir) => {
      import s.implicits._
      spExternal._1.merges.zipWithIndex
        .map { case ((a, b), i) => (i.toLong, a, b) }.toDF("rank", "a", "b")
    }),
    "text_bpe_sp_vocab" -> ((s, dir) => {
      import s.implicits._
      spVocab.toDF("token", "id")
        .select(col("token"), col("id").cast("int").as("id"))
    }),
    "text_bpe_sp" -> ((s, dir) => {
      val model = spExternal._1
      val vmap = typedLit(spVocab.toMap)
      rtKernel(s, dir, "documents")
        .select(col("doc_id"), col("text"))
        .withColumn("__t",
          Bpe.bpeTokens(Bpe.spPretokEncode(col("text")), model))
        .select(col("doc_id"),
          size(col("__t")).as("n_bpe"),
          array_join(col("__t"), Bpe.Sep).as("bpe_joined"),
          array_join(
            transform(col("__t"),
              t => coalesce(element_at(vmap, t), lit(-1)).cast("string")),
            ",").as("ids_joined"))
    }),
    // SentencePiece ids with BYTE FALLBACK (the Llama convention): tokens
    // outside the piece vocab emit their UTF-8 bytes' <0xNN> piece ids —
    // no UNKs ever, decode round-trips. The oracle replays the fallback
    // from the vocab dump alone (byte pieces looked up as '<0x'||hex||'>').
    "text_bpe_sp_bytes" -> ((s, dir) => {
      val (model, pieces) = spExternal
      rtKernel(s, dir, "documents")
        .select(col("doc_id"), col("text"))
        .withColumn("__t",
          Bpe.bpeTokens(Bpe.spPretokEncode(col("text")), model))
        .withColumn("__ids", Bpe.spByteFallbackIds(col("__t"), pieces))
        .select(col("doc_id"),
          size(col("__ids")).as("n_ids"),
          array_join(transform(col("__ids"), i => i.cast("string")), ",")
            .as("ids_joined"))
    }),
    // Fertility under the imported rank file: chars-per-token by language
    // with the tokenizer applied EXACTLY as imported (pre-split + byte
    // alphabet) — the check run before committing a tokenizer to a mix.
    "text_bpe_tk_stats" -> ((s, dir) =>
      Bpe.compressionStats(
        rtKernel(s, dir, "documents").select("doc_id", "lang", "text"),
        "text", tiktokenExternal._1, Seq("lang"),
        pretok = Some(Bpe.Gpt2PretokPattern), byteLevel = true)),
    // Fertility under the SentencePiece import: the '▁' pre-encode runs
    // before tokenization while n_chars counts the RAW text — the
    // chars-per-token a Llama-family budget owner actually wants.
    "text_bpe_sp_stats" -> ((s, dir) =>
      Bpe.compressionStats(
        rtKernel(s, dir, "documents").select("doc_id", "lang", "text"),
        "text", spExternal._1, Seq("lang"),
        preEncode = Bpe.spPretokEncode)),
    // SentencePiece UNIGRAM inference (T5/mT5/Gemma-family models carry
    // no merge history — sentencePieceModel rejects them; this is the
    // Viterbi path): piece/score/kind dump for the oracle's DP replay…
    "text_sp_unigram_pieces" -> ((s, dir) => {
      import s.implicits._
      spUnigramExternal.zipWithIndex
        .map { case (p, i) => (i, p.piece, p.score.toDouble, p.kind) }
        .toDF("id", "piece", "score", "kind")
    }),
    // …and the segmentation itself: maximum-likelihood tokens over the
    // '▁'-encoded first SpUnigramCap chars, with byte-fallback ids
    // (unknown code points expand to <0xNN> piece ids — no UNKs). The
    // oracle replays the FULL Viterbi DP from the piece dump.
    "text_sp_unigram" -> ((s, dir) => {
      val pieces = spUnigramExternal
      rtKernel(s, dir, "documents")
        .select(col("doc_id"), col("text"))
        .withColumn("__t",
          Bpe.unigramTokens(
            Bpe.spPretokEncode(substring(col("text"), 1, SpUnigramCap)),
            pieces))
        .withColumn("__ids", Bpe.spByteFallbackIds(col("__t"), pieces))
        .select(col("doc_id"),
          size(col("__t")).as("n_sp"),
          array_join(col("__t"), Bpe.Sep).as("sp_joined"),
          array_join(transform(col("__ids"), i => i.cast("string")), ",")
            .as("ids_joined"))
    }),
    // Fertility under the Unigram tokenizer: chars-per-token by language
    // on the same capped prefix (n_chars counts the capped RAW text, the
    // '▁' encode happens inside tokenization only).
    "text_sp_unigram_stats" -> ((s, dir) =>
      Bpe.unigramStats(
        rtKernel(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            substring(col("text"), 1, SpUnigramCap).as("text")),
        "text", spUnigramExternal, Seq("lang"),
        preEncode = Bpe.spPretokEncode)),
    // Token budgeting with the GPT-4-family tokenizer's own counts — the
    // production "first N tokens" cut under an imported rank file.
    "sample_token_budget_tk" -> ((s, dir) =>
      Sampling.sampleTokenBudget(
        Bpe.bpeTokenCount(
          rtKernel(s, dir, "documents").select("doc_id", "text"), "text",
          tiktokenExternal._1, pretok = Some(Bpe.Gpt2PretokPattern),
          byteLevel = true)
          .select("doc_id", "n_bpe"),
        "doc_id", "n_bpe", budget = 20000L, numBuckets = 8)),
    // Token budgeting under the UNIGRAM tokenizer's counts — the claim
    // "budgets run against T5/Gemma-family tokenizers" gated end to end
    // (counts from the Viterbi DP on the shared SpUnigramCap prefix).
    "sample_token_budget_sp" -> ((s, dir) =>
      Sampling.sampleTokenBudget(
        Bpe.unigramTokenCount(
          rtKernel(s, dir, "documents")
            .select(col("doc_id"),
              substring(col("text"), 1, SpUnigramCap).as("text")),
          "text", spUnigramExternal, preEncode = Bpe.spPretokEncode)
          .select("doc_id", "n_sp"),
        "doc_id", "n_sp", budget = 20000L, numBuckets = 8)),
    // Context-length chunking in SUBWORD tokens: 120-token windows advancing
    // by 96, chunk text rebuilt by plain concatenation (BPE tokens are exact
    // character subsequences).
    "text_chunk_bpe" -> ((s, dir) =>
      TextOps.chunkTokensBy(
        Bpe.tokenizeBpe(
          rtKernel(s, dir, "documents").select("doc_id", "text"), "text",
          bpeFitted(s, dir)).drop("text"),
        "bpe_tokens", chunkSize = 120, overlap = 24, joiner = "")
        .select("doc_id", "chunk_id", "chunk_text", "chunk_tokens")),
    // Exact-substring (token 3-gram) repeated-span removal: spans shared by
    // more than 5 distinct docs are cut mid-sentence (the corpus's trigram
    // doc-frequency tops out at 7, so this threshold has real bite).
    "text_span_dedup" -> ((s, dir) =>
      TextOps.removeRepeatedSpans(
        rtKernel(s, dir, "documents").select("doc_id", "text"),
        "doc_id", "text", n = 3, maxDocFreq = 5L)),
    // Unicode-script histogram over a DELIBERATELY multi-script corpus
    // (the round-8 "inject mess" lesson): per doc_id%5 the text gains a
    // Cyrillic / Han / Arabic / U+FFFD-mojibake marker (one shape stays
    // pure). The oracle recomputes every count with RE2's script
    // classes — two independent regex engines must agree on the same
    // Unicode script property — and replays the dominant-script
    // tie-break order.
    "text_script_profile" -> ((s, dir) =>
      TextOps.scriptProfile(
        rt(s, dir, "documents").select(col("doc_id"),
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(ScriptMarkerCyr)))
            .when(col("doc_id") % 5 === 1, concat(col("text"), lit(ScriptMarkerHan)))
            .when(col("doc_id") % 5 === 2, concat(col("text"), lit(ScriptMarkerArab)))
            .when(col("doc_id") % 5 === 3, concat(col("text"), lit(ScriptMarkerBad)))
            .otherwise(col("text")).as("text")),
        "text").drop("text")),
    // The lang-vs-script CONTRADICTION gate scriptProfile's doc promises:
    // a doc whose label claims a language whose script its characters
    // don't carry is a labeling/decode suspect. Here every zh-labeled
    // doc flags (the synthetic zh text is Latin — exactly the kind of
    // mislabel the gate exists to catch); the oracle recomputes the
    // dominant script with RE2 and replays the expectation table.
    "text_script_lang_check" -> ((s, dir) => {
      val expected = when(col("lang") === "zh", "han").otherwise("latin")
      TextOps.scriptProfile(
        rt(s, dir, "documents").select("doc_id", "lang", "text"), "text")
        .withColumn("expected_script", expected)
        .withColumn("consistent", col("dominant_script") === expected)
        .select("doc_id", "lang", "dominant_script", "expected_script",
          "consistent")
    }),
    "text_fingerprint" -> ((s, dir) =>
      rt(s, dir, "documents").select(
        col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))),
    "text_top_ngrams" -> ((s, dir) =>
      TextOps.topNgrams(rtKernel(s, dir, "documents"), "text", 3, 20)),
    "text_tfidf" -> ((s, dir) =>
      TextOps.tfidfTopTerms(rtKernel(s, dir, "documents"), "doc_id", "text", 3)
        .withColumnRenamed("id", "doc_id")),
    "text_quality_filter" -> ((s, dir) =>
      TextOps.qualityFilter(
        rt(s, dir, "documents").select("doc_id", "text", "lang"),
        "text", minTokens = 10, maxPunctRatio = 0.1, minStopwordRatio = 0.05)
        .drop("text")),
    "text_corpus_stats" -> ((s, dir) =>
      TextOps.corpusStats(
        rtKernel(s, dir, "documents").select("lang", "text"), "lang", "text")),
    // Distinct-bigram diversity per language — the templated/duplicated-
    // slice detector; exact integer counts, one division.
    "text_diversity" -> ((s, dir) =>
      TextOps.diversityStats(
        rtKernel(s, dir, "documents").select("lang", "text"), "lang", "text", n = 2)),
    // Context-window audit: per lang, docs over a 64-token window and the
    // token mass inside / past it — exact integer sums end to end.
    "text_truncation_report" -> ((s, dir) =>
      TextOps.truncationReport(
        rt(s, dir, "documents").select("lang", "text"),
        "lang", "text", contextLen = 64)),
    // Unicode canonicalization + case/whitespace folding. The synthetic
    // corpus is ASCII so the normalization legs are identity here — the
    // accent/ligature/width behavior is pinned by unit fixtures; this
    // oracle locks the composition order and the ASCII no-op property.
    "text_normalize" -> ((s, dir) =>
      TextOps.normalizeText(
        rt(s, dir, "documents").select("doc_id", "text"),
        "text", form = "NFC", stripAccents = true,
        lowercase = true, collapseWhitespace = true)),
    // Common-line removal at token granularity (the corpus has no newline
    // structure): tokens appearing in >50 of the docs — corpus-level
    // boilerplate/stopword removal through the same explode → doc-freq →
    // anti-join → reassemble path a newline-separated corpus would take.
    "text_line_dedup" -> ((s, dir) =>
      TextOps.removeCommonLines(
        rtKernel(s, dir, "documents").select("doc_id", "text"),
        "doc_id", "text", sepRegex = " ", joinSep = " ", maxDocFreq = 50L)),
    // The intra-doc half of the RefinedWeb line-dedup pass at token
    // granularity: each doc keeps the FIRST occurrence of every token,
    // reading order preserved — a pure narrow keep-first filter, replayed
    // with DuckDB's indexed list lambda.
    "text_line_dedup_doc" -> ((s, dir) =>
      TextOps.dedupLinesWithinDoc(
        rtKernel(s, dir, "documents").select("doc_id", "text"),
        "text", sepRegex = " ", joinSep = " ")),
    // The composed curation endpoint (quality → repetition → fingerprint
    // dedup → 50% hash sample); near-dup clustering is covered separately
    // by dedup_corpus, whose recursive-CTE oracle doesn't compose cheaply.
    "corpus_curate" -> ((s, dir) =>
      Curation.curate(rt(s, dir, "documents").select("doc_id", "text"),
        "doc_id", "text", nearDup = false, samplePercent = 50)
        .select("doc_id")),
    // One-scan per-rule drop accounting over the narrow curate rules
    // (default thresholds — the same rules corpus_curate's chain applies)
    "corpus_funnel" -> ((s, dir) =>
      Curation.funnel(rt(s, dir, "documents"), "text")),
    "sim_topk" -> ((s, dir) => {
      val e = rt(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble).toSeq
      Similarity.cosineTopK(e, "vec_id", "embedding", q, 10)
    }),
    // The external-embedding IMPORT contract end-to-end: the testdata
    // embeddings parquet plays the role of a GPU-side encoder's dump —
    // loadEmbeddings validates every row against the (id, float[64])
    // contract (lazy raise_error projection, no pre-scan job), then the
    // standard brute-force top-k consumes the imported frame unchanged.
    // Same oracle as sim_topk: a valid dump must import as a no-op.
    "sim_import_topk" -> ((s, dir) => {
      val e = Similarity.loadEmbeddings(s, s"$dir/embeddings.parquet", dim = 64)
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble).toSeq
      Similarity.cosineTopK(e, "vec_id", "embedding", q, 10)
    }),
    "sim_ann_lsh" -> ((s, dir) => {
      val e = rt(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble).toSeq
      // 4 planes → 16 buckets: the query's bucket holds ~n/16 vectors, so
      // top-10 is meaningful at sf0.01. The oracle embeds the same plane
      // constants (deterministic from the seed) and replays the bucket
      // restriction + exact cosine top-k in SQL.
      Similarity.annTopK(e, "vec_id", "embedding", q, 10, numPlanes = 4)
    }),
    "sim_ivf" -> ((s, dir) => {
      val e = rt(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble).toSeq
      // fit → JSON round-trip → apply: the oracle gate also proves the
      // persistence path (Double.toString is shortest-round-trip, so the
      // loaded model is bit-identical)
      val m = Similarity.IvfModel.fromJsonString(
        Similarity.ivfFit(e, "embedding", nlist = 8).toJsonString)
      Similarity.ivfTopK(e, "vec_id", "embedding", q, 10, m,
        nprobe = 2, forceBroadcastAssign = false)
    }),
    // Auxiliary centroid dump: the sim_ivf oracle replays cell assignment,
    // probing, and exact top-k in DuckDB over THESE centroids (k-means
    // training itself is MLlib math with no SQL equivalent; the IVF
    // structure around it is what the oracle verifies). Deterministic:
    // fixed seed, same data/partitioning as the sim_ivf training run.
    "sim_ivf_centroids" -> ((s, dir) => {
      import s.implicits._
      val cents = Similarity.ivfCentroids(rt(s, dir, "embeddings"), "embedding", 8)
      cents.zipWithIndex.flatMap { case (c, i) =>
        c.zipWithIndex.map { case (v, p) => (i, p, v) }
      }.toDF("cell_id", "pos", "value")
    }),
    // IVF-SQ8 codes (the billion-vector form: coarse cell + int8 residual
    // codes, 4× smaller than float32): fit → JSON round trip → encode. The
    // oracle replays assignment, residual, scale, and every code from the
    // sim_ivf_centroids dump (same deterministic nlist=8 fit).
    "sim_ivfpq_codes" -> ((s, dir) => {
      val e = rt(s, dir, "embeddings")
      val m = Similarity.IvfModel.fromJsonString(
        Similarity.ivfFit(e, "embedding", nlist = 8).toJsonString)
      Similarity.ivfPqEncode(e, "vec_id", "embedding", m)
        .select(col("id"), col("cell"), col("res_scale"),
          array_join(transform(col("res_q"),
            c => c.cast("int").cast("string")), ",").as("codes_str"))
    }),
    // Search over the codes: probe the 2 nearest cells, reconstruct
    // centroid + scale·code, exact cosine top-10 inside the probed cells —
    // the scan touches int8 codes only, never float embeddings.
    "sim_ivfpq" -> ((s, dir) => {
      val e = rt(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble).toSeq
      val m = Similarity.IvfModel.fromJsonString(
        Similarity.ivfFit(e, "embedding", nlist = 8).toJsonString)
      Similarity.ivfPqTopK(
        Similarity.ivfPqEncode(e, "vec_id", "embedding", m), m, q, 10, nprobe = 2)
    }),
    // The same IVF-SQ8 search through the materialized on-disk index
    // (codes hive-partitioned by coarse cell, Writer.writeIvfIndex): the
    // probe's cell predicate prunes PARTITIONS, so the scan lists only
    // nprobe of nlist directories (CoreExtrasSpec pins the
    // PartitionFilters). Same oracle replay as sim_ivfpq — the disk
    // round trip must change nothing the search can see.
    "sim_ivfpq_disk" -> ((s, dir) => {
      val q = rt(s, dir, "embeddings").filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble).toSeq
      val (codes, m) = Writer.loadIvfIndex(s, ivfDiskIndex(s, dir))
      Similarity.ivfPqTopK(codes, m, q, 10, nprobe = 2)
    }),
    // Product quantization (Jégou et al. 2011): per-subspace codebook dump
    // backing the two PQ oracles (k-means training itself is not
    // SQL-replayable; the PQ structure around it is what the oracles
    // verify — the sim_ivf_centroids convention).
    "sim_pq_codebooks" -> ((s, dir) => {
      import s.implicits._
      pqFitted(s, dir).codebooks.zipWithIndex.flatMap { case (cb, j) =>
        cb.zipWithIndex.flatMap { case (c, code) =>
          c.zipWithIndex.map { case (v, p) => (j, code, p, v) }
        }
      }.toDF("sub", "code", "pos", "value")
    }),
    // PQ codes: per-subspace nearest-codeword indices — 8 small ints per
    // 64-dim vector (32× smaller than float32). The oracle replays every
    // argmin from the codebook dump.
    "sim_pq_codes" -> ((s, dir) =>
      Similarity.pqEncode(rt(s, dir, "embeddings"), "vec_id", "embedding",
        pqFitted(s, dir))
        .select(col("id"),
          array_join(transform(col("codes"), c => c.cast("string")), ",")
            .as("codes_str"))),
    // Search over the codes: reconstruct codeword concatenations, exact
    // cosine top-10 — the scan reads the m-int code column only.
    "sim_pq" -> ((s, dir) => {
      val e = rt(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble).toSeq
      val m = pqFitted(s, dir)
      Similarity.pqTopK(
        Similarity.pqEncode(e, "vec_id", "embedding", m), m, q, 10)
    }),
    // TRUE IVF-PQ (Jégou 2011 §IV): residual-trained product codebooks —
    // the aux dump the two product oracles replay over (coarse cells replay
    // from the shared sim_ivf_centroids dump).
    "sim_ivfpq_product_codebooks" -> ((s, dir) => {
      import s.implicits._
      ivfPqFitted(s, dir)._2.codebooks.zipWithIndex.flatMap { case (cb, j) =>
        cb.zipWithIndex.flatMap { case (c, code) =>
          c.zipWithIndex.map { case (v, p) => (j, code, p, v) }
        }
      }.toDF("sub", "code", "pos", "value")
    }),
    // IVF-PQ codes: coarse cell + 8 product-quantized residual codeword
    // indices — 4 bytes/vector at this fixture (64× under float32).
    "sim_ivfpq_product_codes" -> ((s, dir) => {
      val (coarse, pq) = ivfPqFitted(s, dir)
      Similarity.ivfPqEncodeProduct(rt(s, dir, "embeddings"),
        "vec_id", "embedding", coarse, pq)
        .select(col("id"), col("cell"),
          array_join(transform(col("codes"), c => c.cast("string")), ",")
            .as("codes_str"))
    }),
    // Search: probe 2 cells, reconstruct centroid + residual codewords,
    // exact cosine top-10 inside the probed cells.
    "sim_ivfpq_product" -> ((s, dir) => {
      val e = rt(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble).toSeq
      val (coarse, pq) = ivfPqFitted(s, dir)
      Similarity.ivfPqTopKProduct(
        Similarity.ivfPqEncodeProduct(e, "vec_id", "embedding", coarse, pq),
        coarse, pq, q, 10, nprobe = 2)
    }),
    // Two-stage PQ retrieval: top-100 shortlist from the codes, exact
    // cosine rerank of the shortlist's full embeddings — lossy codes made
    // exact where it matters. Oracle replays both stages.
    "sim_pq_refined" -> ((s, dir) => {
      val e = rt(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble).toSeq
      val m = pqFitted(s, dir)
      Similarity.pqTopKRefined(
        Similarity.pqEncode(e, "vec_id", "embedding", m), e,
        "vec_id", "embedding", m, q, 10, shortlistSize = 100)
    }),
    // Large-nlist IVF through the broadcast-assignment path (forced: with
    // the native argmin kernel installed, 256 × 64 would otherwise ride as
    // one constant and skip the join) — keeps the broadcast centroid table
    // + argmin agg (BroadcastHashJoin, asserted in PlanSpec) oracle-checked.
    // nprobe=32 keeps enough vectors in scope for a top-10 at sf0.01.
    "sim_ivf_bcast" -> ((s, dir) => {
      val e = rt(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble).toSeq
      Similarity.ivfTopK(e, "vec_id", "embedding", q, 10, nlist = 256, nprobe = 32,
        forceBroadcastAssign = true)
    }),
    "sim_ivf_bcast_centroids" -> ((s, dir) => {
      import s.implicits._
      val cents = Similarity.ivfCentroids(rt(s, dir, "embeddings"), "embedding", 256)
      cents.zipWithIndex.flatMap { case (c, i) =>
        c.zipWithIndex.map { case (v, p) => (i, p, v) }
      }.toDF("cell_id", "pos", "value")
    }),
    "sim_topk_quantized" -> ((s, dir) => {
      val e = rt(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble).toSeq
      Similarity.cosineTopKQuantized(e, "vec_id", "embedding", q, 10)
    }),
    // Symmetric int8 quantization, dumped one row per (vector, position)
    // because the driver compare cannot hash array columns.
    // Embedding-space outliers at z > 1.5 (the synthetic corpus is fairly
    // uniform, so 3σ flags almost nothing at sf0.01); oracle replays the
    // distance/z filter from the sim_outlier_stats aux dump.
    "sim_outliers" -> ((s, dir) => {
      val e = rt(s, dir, "embeddings")
      // fit → JSON round-trip → apply (see sim_ivf)
      val st = Similarity.OutlierStats.fromJsonString(
        Similarity.embeddingOutlierStats(e, "embedding").toJsonString)
      Similarity.embeddingOutliers(e, "vec_id", "embedding", z = 1.5, stats = st)
    }),
    "sim_outlier_stats" -> ((s, dir) => {
      import s.implicits._
      val st = Similarity.embeddingOutlierStats(rt(s, dir, "embeddings"), "embedding")
      (st.mean.zipWithIndex.map { case (v, i) => (i, v) } ++
        Seq((-1, st.meanDist), (-2, st.stdDist))).toDF("pos", "value")
    }),
    // Embedding-space drift between the two vec_id-parity halves: per-dim
    // centroid means, mean norms, counts, and the rounded-mean centroid
    // shift — the dense-side release gate next to corpus_drift_psi.
    "sim_embedding_drift" -> ((s, dir) => {
      val e = rt(s, dir, "embeddings")
      Similarity.embeddingDriftStats(
        e.filter(col("vec_id") % 2 === 0),
        e.filter(col("vec_id") % 2 =!= 0), "embedding")
    }),
    // Per-label embedding centroids (class prototypes), dumped one row per
    // (label, position) because the driver compare cannot hash array
    // columns. Means are 1e-9-rounded on both engines.
    "sim_group_centroids" -> ((s, dir) =>
      Similarity.groupCentroids(rt(s, dir, "embeddings"), "label", "embedding")
        .select(col("label"), posexplode(col("centroid")).as(Seq("pos", "mean_val")),
          col("n_vectors"))),
    // Batch retrieval: 5 query vectors × top-10 each in one corpus pass.
    "sim_topk_batch" -> ((s, dir) => {
      val e = rt(s, dir, "embeddings")
      Similarity.cosineTopKBatch(
        e, "vec_id", "embedding",
        e.filter(col("vec_id") < 5), "vec_id", "embedding", 10)
    }),
    // Batch IVF retrieval: the same 5-query batch as sim_topk_batch through
    // the 8-cell coarse quantizer (fit → JSON round trip → apply, as
    // sim_ivf), nprobe=2. The oracle replays assignment, per-query probing,
    // and the top-10 ranking from the sim_ivf_centroids dump.
    "sim_ivf_batch" -> ((s, dir) => {
      val e = rt(s, dir, "embeddings")
      val m = Similarity.IvfModel.fromJsonString(
        Similarity.ivfFit(e, "embedding", nlist = 8).toJsonString)
      Similarity.ivfTopKBatch(
        e, "vec_id", "embedding",
        e.filter(col("vec_id") < 5), "vec_id", "embedding",
        m, k = 10, nprobe = 2)
    }),
    // Recall@10 of the nprobe=2 IVF batch against the exact batch baseline
    // — the tuning gauge for the ANN stack. The oracle recomputes the
    // approximate side from the centroids dump and the exact side brute
    // force, then the same hit-counting join.
    "sim_recall" -> ((s, dir) => {
      val e = rt(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 5)
      val m = Similarity.IvfModel.fromJsonString(
        Similarity.ivfFit(e, "embedding", nlist = 8).toJsonString)
      Similarity.evalRecall(
        Similarity.ivfTopKBatch(e, "vec_id", "embedding",
          q, "vec_id", "embedding", m, k = 10, nprobe = 2),
        Similarity.cosineTopKBatch(e, "vec_id", "embedding",
          q, "vec_id", "embedding", 10),
        "query_id", "id")
    }),
    // Quantizer health: per-cell counts + 1e-9-rounded mean squared
    // distance to the assigned centroid, replayed from the centroids dump.
    "sim_cell_stats" -> ((s, dir) => {
      val e = rt(s, dir, "embeddings")
      val m = Similarity.IvfModel.fromJsonString(
        Similarity.ivfFit(e, "embedding", nlist = 8).toJsonString)
      Similarity.cellStats(e, "vec_id", "embedding", m)
    }),
    // Coverage-balanced sample: ≤40 rows per cell of the same 8-cell
    // quantizer, membership a pure function of (vec_id, centroids) — the
    // oracle replays assignment + the minstd-hash quota rank from the
    // sim_ivf_centroids dump.
    "sim_cell_sample" -> ((s, dir) => {
      val e = rt(s, dir, "embeddings")
      val m = Similarity.IvfModel.fromJsonString(
        Similarity.ivfFit(e, "embedding", nlist = 8).toJsonString)
      Similarity.cellBalancedSample(e, "vec_id", "embedding", m, perCell = 40)
        .select("vec_id", "label", "cell")
    }),
    // Cell-scoped kNN graph: 5 nearest same-cell neighbors at cos ≥ 0 per
    // vector, under the same 8-cell quantizer as sim_ivf_centroids (whose
    // dump the oracle replays assignment from).
    "sim_knn" -> ((s, dir) => {
      val e = rt(s, dir, "embeddings")
      val m = Similarity.IvfModel.fromJsonString(
        Similarity.ivfFit(e, "embedding", nlist = 8).toJsonString)
      Similarity.knnGraph(e, "vec_id", "embedding", m, k = 5, minCosine = 0.0)
    }),
    // Contrastive hard negatives: per anchor, the 3 most-similar same-cell
    // vectors with a DIFFERENT label (filter before the top-k rank). The
    // oracle extends sim_knn's replay with the label join + inequality.
    "sim_hard_negatives" -> ((s, dir) => {
      val e = rt(s, dir, "embeddings")
      val m = Similarity.IvfModel.fromJsonString(
        Similarity.ivfFit(e, "embedding", nlist = 8).toJsonString)
      Similarity.hardNegatives(e, "vec_id", "embedding", "label", m,
        k = 3, minCosine = 0.0)
    }),
    // JL sign-projection to 16 dims, dumped one row per (vector, out-dim);
    // the oracle replays the matmul from the sim_rp_matrix aux dump.
    "sim_random_projection" -> ((s, dir) => {
      val p = Similarity.randomProject(
        rt(s, dir, "embeddings"), "embedding", 16, inDim = 64)
      p.select(col("vec_id"), col("embedding_rp"))
        .select(col("vec_id"), posexplode(col("embedding_rp")).as(Seq("pos", "value")))
    }),
    "sim_rp_matrix" -> ((s, dir) => {
      import s.implicits._
      Similarity.signProjectionMatrix(16, 64).zipWithIndex.flatMap { case (row, o) =>
        row.zipWithIndex.map { case (v, i) => (o, i, v) }
      }.toDF("out_pos", "in_pos", "value")
    }),
    // PCA to 8 components: one graft_gram_sum moment pass + driver Jacobi;
    // the oracle replays projection from the sim_pca_loadings aux dump
    // (components at in_pos ≥ 0, per-component offsets μ·w at in_pos = -1).
    "sim_pca" -> ((s, dir) => {
      val e = rt(s, dir, "embeddings")
      // fit → JSON round-trip → apply (see sim_ivf)
      val m = Similarity.PcaModel.fromJsonString(
        Similarity.pcaFit(e, "embedding", 8, inDim = 64).toJsonString)
      Similarity.pcaProject(e, "embedding", m)
        .select(col("vec_id"), col("embedding_pca"))
        .select(col("vec_id"), posexplode(col("embedding_pca")).as(Seq("pos", "value")))
    }),
    "sim_pca_loadings" -> ((s, dir) => {
      import s.implicits._
      val m = Similarity.pcaFit(rt(s, dir, "embeddings"), "embedding", 8, inDim = 64)
      val comps = m.components.zipWithIndex.flatMap { case (row, o) =>
        row.zipWithIndex.map { case (v, i) => (o, i, v) }
      }
      val offs = m.offsets.zipWithIndex.map { case (o, c) => (c, -1, o) }
      (comps ++ offs).toDF("out_pos", "in_pos", "value")
    }),
    "sim_quantize" -> ((s, dir) =>
      Similarity.quantizeEmbedding(rt(s, dir, "embeddings"), "embedding")
        .select(col("vec_id"), col("embedding_scale").as("scale"),
          posexplode(col("embedding_q")).as(Seq("pos", "code")))),
    "sim_near_dup" -> ((s, dir) => {
      val e = rt(s, dir, "embeddings")
      val withDups = e.unionByName(
        e.filter(col("vec_id") % 5 === 0).withColumn("vec_id", col("vec_id") + 10000))
      Similarity.cosineNearDupPairs(withDups, "vec_id", "embedding", threshold = 0.99)
    }),
    // Embedding-space dedup composition: LSH-bucketed cosine near-dup pairs
    // → connected components → one cluster id per vector. The ≥0.99 pairs
    // are exactly the injected copies (max natural pairwise cosine 0.513),
    // so the oracle enumerates the expected clusters in closed form.
    // SemDeDup over the same corpus with PERTURBED copies (×1.01f — same
    // direction, different bytes, so exact dedup would miss them): fit the
    // 8-cell quantizer on the base table (same fit as sim_ivf_centroids,
    // whose dump the oracle replays cell assignment from), then drop
    // within-cell docs with an earlier ≥0.95-cosine neighbor.
    "sim_semantic_dedup" -> ((s, dir) => {
      val e = rt(s, dir, "embeddings")
      val withDups = e.unionByName(
        e.filter(col("vec_id") % 5 === 0)
          .withColumn("vec_id", col("vec_id") + 10000)
          .withColumn("embedding",
            transform(col("embedding"), x => x * lit(1.01f))))
      val m = Similarity.IvfModel.fromJsonString(
        Similarity.ivfFit(e, "embedding", nlist = 8).toJsonString)
      Similarity.semanticDedup(withDups, "vec_id", "embedding", m, threshold = 0.95)
        .select("vec_id")
    }),
    "sim_dedup_cluster" -> ((s, dir) => {
      val e = rt(s, dir, "embeddings")
      val withDups = e.unionByName(
        e.filter(col("vec_id") % 5 === 0).withColumn("vec_id", col("vec_id") + 10000))
      Dedup.duplicateClusters(
        withDups.select("vec_id"), "vec_id",
        Similarity.cosineNearDupPairs(withDups, "vec_id", "embedding", threshold = 0.99)
          .select("id_a", "id_b"))
        .select(col("id").as("vec_id"), col("cluster_id"))
    }),
    // SSL-prototypes score: cosine of each vector to its own cell's
    // centroid (same deterministic nlist=8 fit as sim_ivf_centroids, whose
    // dump the oracle replays assignment + cosine from).
    "sim_prototypicality" -> ((s, dir) => {
      val e = rt(s, dir, "embeddings")
      val m = Similarity.IvfModel.fromJsonString(
        Similarity.ivfFit(e, "embedding", nlist = 8).toJsonString)
      Similarity.prototypicalityScore(e, "vec_id", "embedding", m)
        .select(col("id").as("vec_id"), col("cell"), col("proto"))
    }),
    // D4-style per-cluster prune: drop the 25% most prototypical of each
    // cell (exact integer cut ⌊n·250000/1000000⌋, ranked on the rounded
    // score, ties by id) — the oracle replays the rank window and the cut.
    "sim_proto_prune" -> ((s, dir) => {
      val e = rt(s, dir, "embeddings")
      val m = Similarity.IvfModel.fromJsonString(
        Similarity.ivfFit(e, "embedding", nlist = 8).toJsonString)
      Similarity.pruneByPrototypicality(e, "vec_id", "embedding", m,
        dropFraction = 0.25)
        .select("vec_id")
    }),
    "mm_binary_meta" -> ((s, dir) =>
      Multimodal.withBinaryMeta(
        rt(s, dir, "documents")
          .select(col("doc_id"), col("text").cast("binary").as("payload")),
        "payload").drop("payload")),
    // Synthetic payloads cycling through the sniffable formats (doc text as
    // the body, magic prefixes/trailers from literals) so format refinement
    // AND the truncation checks are exercised end to end. content_md5 is
    // dropped: this DuckDB build has no md5(BLOB), and the base
    // mm_binary_meta already oracles the md5 on text payloads.
    "mm_binary_meta_ext" -> ((s, dir) => {
      def hx(h: String): Array[Byte] =
        h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
      val body = col("text").cast("binary")
      val payload =
        when(col("doc_id") % 10 === 0, concat(lit(hx("FFD8FFE0")), body, lit(hx("FFD9"))))
          .when(col("doc_id") % 10 === 1, concat(lit(hx("FFD8FFE0")), body))
          .when(col("doc_id") % 10 === 2,
            concat(lit(hx("89504E470D0A1A0A")), body, lit(hx("0000000049454E44AE426082"))))
          .when(col("doc_id") % 10 === 3, concat(lit(hx("474946383961")), body, lit(hx("3B"))))
          .when(col("doc_id") % 10 === 4, concat(lit(hx("664C6143")), body))
          .when(col("doc_id") % 10 === 5,
            concat(lit(hx("52494646")), lit(hx("10000000")), lit("WEBP".getBytes), body))
          // complete PDF: %%EOF in the tail with bytes AFTER it (ISO
          // 32000 allows trailers past the marker — containment, not
          // suffix, is the right truncation test)
          .when(col("doc_id") % 10 === 6, concat(
            lit("%PDF-1.7\n".getBytes), body, lit("\n%%EOF\n ok".getBytes)))
          // truncated PDF: header only, the marker never arrives
          .when(col("doc_id") % 10 === 7, concat(lit("%PDF-1.4\n".getBytes), body))
          .when(col("doc_id") % 10 === 8, concat(lit(hx("1F8B0800")), body))
          .otherwise(concat(lit(hx("4F676753")), body)) // OggS container
      Multimodal.withBinaryMeta(
        rt(s, dir, "documents").select(col("doc_id"), payload.as("payload")),
        "payload").select("doc_id", "n_bytes", "format", "truncated")
    }),
    // REAL image-dimension extraction (not the decode stub): true PNG
    // IHDR / GIF logical-screen / JPEG SOF headers are synthesized with
    // dimensions DERIVED FROM doc_id (big-endian 32-bit for PNG,
    // little-endian 16-bit for GIF, big-endian 16-bit in the SOF frame
    // for JPEG — byte construction via unhex/lpad), the op parses them
    // back from raw bytes, and the oracle recomputes the expected
    // numbers from doc_id arithmetic alone — a wrong endianness, offset,
    // or marker walk cannot match. The JPEG shapes are deliberately
    // adversarial (the inject-mess convention): %5==2 is a baseline
    // SOF0 behind a JFIF APP0 plus a VARIABLE-length COM segment whose
    // body EMBEDS a decoy SOF byte string with wrong dims (a walk that
    // scans bytes instead of jumping segment lengths extracts 9×7 and
    // hash-mismatches); %5==3 is a progressive SOF2 behind a DQT with a
    // padding FILL byte before the frame marker; %10==4 is a malformed
    // JPEG whose SOS arrives before any SOF (NULL, like the %5==4
    // non-image text payloads).
    "mm_image_dims" -> ((s, dir) => {
      def hx(h: String): Array[Byte] =
        h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
      val w = col("doc_id") % 500 + 1
      val h = col("doc_id") % 300 + 1
      def be32(v: org.apache.spark.sql.Column) = unhex(lpad(hex(v), 8, "0"))
      def be16(v: org.apache.spark.sql.Column) = unhex(lpad(hex(v), 4, "0"))
      def le16(v: org.apache.spark.sql.Column) = unhex(concat(
        lpad(hex(v % 256), 2, "0"),
        lpad(hex(shiftright(v.cast("int"), 8)), 2, "0")))
      val body = col("text").cast("binary")
      // COM body: source-derived text + an embedded DECOY SOF0 (h=7, w=9)
      // the length jump must skip without parsing
      val comBody = concat(
        concat(lit("graft comment "), col("source")).cast("binary"),
        lit(hx("FFC0000B0800070009")))
      val com = concat(
        lit(hx("FFFE")), be16(length(comBody) + 2), comBody)
      val jfif = lit(hx("FFE000104A46494600010100004800480000"))
      val sofTail = lit(hx("01011100")) // 1 component + its spec
      val payload =
        when(col("doc_id") % 5 === 0, concat(
          lit(hx("89504E470D0A1A0A" + "0000000D" + "49484452")),
          be32(w), be32(h), lit(hx("0806000000")), body))
          .when(col("doc_id") % 5 === 1, concat(
            lit(hx("474946383961")), le16(w), le16(h), body, lit(hx("3B"))))
          .when(col("doc_id") % 5 === 2, concat(
            lit(hx("FFD8")), jfif, com,
            lit(hx("FFC0000B08")), be16(h), be16(w), sofTail, body))
          .when(col("doc_id") % 5 === 3, concat(
            lit(hx("FFD8")), lit(hx("FFDB0005000102")), lit(hx("FF")),
            lit(hx("FFC2000B08")), be16(h), be16(w), sofTail, body))
          .when(col("doc_id") % 10 === 4, concat(
            lit(hx("FFD8FFDA0002")), body)) // SOS before any SOF → NULL
          .otherwise(body)
      Multimodal.imageDims(
        rt(s, dir, "documents").select(col("doc_id"), payload.as("payload")),
        "payload")
        .select("doc_id", "img_width", "img_height")
    }),
    // REAL EXIF orientation (JPEG APP1 → TIFF IFD walk) + the dims AS
    // DISPLAYED: true EXIF blocks are synthesized in BOTH byte orders
    // (II on %3==0, MM on %3==1 — phone makers split down the middle)
    // with a DECOY ImageWidth tag before the orientation entry; %3==2
    // JPEGs carry no EXIF → NULL orientation, dims pass through.
    // Orientations 5-8 transpose the display dims — doc_id-derived, so
    // the oracle replays everything from arithmetic (a wrong endianness
    // or a walk that grabs the decoy tag cannot match).
    // AVIF/HEIC dimensions (ISO-BMFF box walk): %4==0 is an avif whose
    // ipco lists a DECOY thumbnail ispe (9×7) FIRST — pitm/ipma must
    // resolve the primary item (id 1) to property 2, so a first-ispe
    // reader extracts 9×7 and hash-mismatches; %4==1 is a heic with NO
    // pitm/ipma (the minimal-file shape) whose ipco hides the ispe
    // behind a pasp box — the documented first-ispe fallback; %4==2 is
    // a plain mp4 brand (not an image — format 'mp4', dims NULL);
    // %4==3 is prefixed text (format 'unknown', the prefix keeps raw
    // text from colliding with a sniffable magic). Dims doc_id-derived;
    // the oracle replays arithmetic only, so a wrong box offset,
    // a 1-based/0-based property-index slip, or thumbnail-first
    // extraction cannot match. Box sizes are true sizes and every
    // inter-field byte (verflags, pasp body, minor version) is the
    // spec's value — the SURVEY fixture-discipline rule.
    "mm_avif_dims" -> ((s, dir) => {
      def hx(h: String): Array[Byte] =
        h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
      val w = col("doc_id") % 500 + 1
      val h = col("doc_id") % 300 + 1
      val body = col("text").cast("binary")
      val avifHead = lit(hx(
        "00000010" + "66747970" + "61766966" + "00000000" + // ftyp avif
          "0000006A" + "6D657461" + "00000000" + // meta (full box)
          "0000000E" + "7069746D" + "00000000" + "0001" + // pitm → item 1
          "00000050" + "69707270" + // iprp
          "00000030" + "6970636F" + // ipco
          "00000014" + "69737065" + "00000000" + "00000009" + "00000007" + // decoy ispe 9×7
          "00000014" + "69737065" + "00000000")) // primary ispe … w, h
      val avifIpma = lit(hx(
        "00000018" + "69706D61" + "00000000" + "00000002" + // ipma, 2 entries
          "0001" + "01" + "02" + // item 1 → property 2 (the real ispe)
          "0002" + "01" + "01")) // decoy item 2 → property 1
      val heicHead = lit(hx(
        "00000010" + "66747970" + "68656963" + "00000000" + // ftyp heic
          "00000040" + "6D657461" + "00000000" + // meta
          "00000034" + "69707270" + // iprp (no ipma)
          "0000002C" + "6970636F" + // ipco
          "00000010" + "70617370" + "00000001" + "00000001" + // pasp decoy
          "00000014" + "69737065" + "00000000")) // first ispe … w, h
      val payload =
        when(col("doc_id") % 4 === 0,
          concat(avifHead, fxBe32(w), fxBe32(h), avifIpma, body))
          .when(col("doc_id") % 4 === 1,
            concat(heicHead, fxBe32(w), fxBe32(h), body))
          .when(col("doc_id") % 4 === 2, concat(
            lit(hx("00000010" + "66747970" + "69736F6D" + "00000000")), body))
          .otherwise(concat(lit("txt:".getBytes), body))
      Multimodal.imageDims(
        Multimodal.withBinaryMeta(
          rt(s, dir, "documents").select(col("doc_id"), payload.as("payload")),
          "payload"),
        "payload")
        .select("doc_id", "format", "img_width", "img_height")
    }),
    "mm_exif_orientation" -> ((s, dir) => {
      def hx(h: String): Array[Byte] =
        h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
      def be16(v: org.apache.spark.sql.Column) = unhex(lpad(hex(v), 4, "0"))
      val w = col("doc_id") % 500 + 1
      val h = col("doc_id") % 300 + 1
      val ori = col("doc_id") % 8 + 1
      val ob = lpad(hex(ori), 2, "0") // one orientation byte, hex
      // APP1 len 46 = 2(len) + 6(Exif\0\0) + 8(TIFF hdr) + 30(IFD: cnt +
      // 2 entries + next-IFD offset)
      val exifII = concat(
        lit(hx("FFE1002E" + "457869660000" + "49492A00" + "08000000" + "0200" +
          "0001" + "0300" + "01000000" + "E7030000" + // decoy ImageWidth=999
          "1201" + "0300" + "01000000")),
        unhex(concat(ob, lit("000000"))), // LE SHORT value + pad
        lit(hx("00000000"))) // next-IFD offset
      val exifMM = concat(
        lit(hx("FFE1002E" + "457869660000" + "4D4D002A" + "00000008" + "0002" +
          "0100" + "0003" + "00000001" + "03E70000" +
          "0112" + "0003" + "00000001")),
        unhex(concat(lit("00"), ob, lit("0000"))), // BE SHORT value + pad
        lit(hx("00000000")))
      val jfif = lit(hx("FFE000104A46494600010100004800480000"))
      val sof = concat(lit(hx("FFC0000B08")), be16(h), be16(w), lit(hx("01011100")))
      val payload =
        when(col("doc_id") % 3 === 0, concat(lit(hx("FFD8")), exifII, sof))
          .when(col("doc_id") % 3 === 1, concat(lit(hx("FFD8")), exifMM, sof))
          .otherwise(concat(lit(hx("FFD8")), jfif, sof))
      Multimodal.withExifOrientation(
        Multimodal.imageDims(
          rt(s, dir, "documents").select(col("doc_id"), payload.as("payload")),
          "payload"),
        "payload")
        .select("doc_id", "img_width", "img_height", "img_orientation",
          "display_width", "display_height")
    }),
    // WebP dimensions — all three container shapes with doc_id-derived
    // numbers: VP8 lossy (14-bit LE dims behind the 9D012A sync), VP8L
    // lossless (width−1/height−1 packed as two 14-bit fields of one LE
    // u32 behind the 0x2F signature), VP8X extended (LE-24 canvas−1
    // pair) hidden behind an ODD-sized junk chunk (the RIFF pad rule
    // again), and a TRUNCATED VP8 whose dims are cut → NULL. The oracle
    // recomputes from arithmetic; the packings happen only Spark-side.
    "mm_webp_dims" -> ((s, dir) => {
      def hx(h: String): Array[Byte] =
        h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
      def le16(v: org.apache.spark.sql.Column) = unhex(concat(
        lpad(hex(v.bitwiseAND(lit(255L))), 2, "0"),
        lpad(hex(shiftright(v, 8).bitwiseAND(lit(255L))), 2, "0")))
      def le24(v: org.apache.spark.sql.Column) = unhex(concat(
        lpad(hex(v.bitwiseAND(lit(255L))), 2, "0"),
        lpad(hex(shiftright(v, 8).bitwiseAND(lit(255L))), 2, "0"),
        lpad(hex(shiftright(v, 16).bitwiseAND(lit(255L))), 2, "0")))
      def le32(v: org.apache.spark.sql.Column) = concat(le16(v), le16(shiftright(v, 16)))
      val w = col("doc_id") % 500 + 1
      val h = col("doc_id") % 300 + 1
      val riff = lit(hx("52494646" + "64000000" + "57454250"))
      val payload =
        when(col("doc_id") % 4 === 0, concat(
          riff, lit(hx("56503820" + "0A000000" + "000000" + "9D012A")),
          le16(w), le16(h)))
          .when(col("doc_id") % 4 === 1, concat(
            riff, lit(hx("5650384C" + "05000000" + "2F")),
            le32(w - 1 + (h - 1) * 16384)))
          .when(col("doc_id") % 4 === 2, concat(
            riff, lit(hx("4A554E4B" + "03000000" + "AABBCC" + "00")), // odd junk + pad
            lit(hx("56503858" + "0A000000" + "00000000")),
            le24(w - 1), le24(h - 1)))
          .otherwise(concat(
            riff, lit(hx("56503820" + "0A000000" + "000000" + "9D012A")))) // dims cut
      Multimodal.imageDims(
        rt(s, dir, "documents").select(col("doc_id"), payload.as("payload")),
        "payload")
        .select("doc_id", "img_width", "img_height")
    }),
    // MULTIMODAL INGEST PROFILE (composed, no new op): every header
    // kernel in ONE narrow projection over a mixed corpus — sniff +
    // truncation, dims (JPEG marker walk / WebP chunk walk), EXIF
    // orientation + display transpose + GPS flag + camera tags, media
    // duration (ID3-skip MP3 CBR), ID3 text frames. Zero shuffles
    // (smoke-pinned): the whole profile is one WholeStageCodegen pass
    // per file split — the shape a 100 TB multimodal ingest runs. The
    // oracle rebuilds every column from the per-shape arithmetic.
    "mm_ingest_profile" -> ((s, dir) => {
      def hx(h: String): Array[Byte] =
        h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
      def be16(v: org.apache.spark.sql.Column) = unhex(lpad(hex(v), 4, "0"))
      val w = col("doc_id") % 500 + 1
      val h = col("doc_id") % 300 + 1
      val ori = col("doc_id") % 8 + 1
      val ob = lpad(hex(ori), 2, "0")
      val exifII = concat(
        lit(hx("FFE1002E" + "457869660000" + "49492A00" + "08000000" + "0200" +
          "0001" + "0300" + "01000000" + "E7030000" +
          "1201" + "0300" + "01000000")),
        unhex(concat(ob, lit("000000"))),
        lit(hx("00000000")))
      val sof = concat(lit(hx("FFC0000B08")), be16(h), be16(w), lit(hx("01011100")))
      val jpeg = concat(lit(hx("FFD8")), exifII, sof)
      val ti = concat(lit("T"),
        lpad((col("doc_id") % 89).cast("string"), 4, "0")).cast("binary")
      val ar = concat(lit("A"),
        lpad((col("doc_id") % 83).cast("string"), 4, "0")).cast("binary")
      val al = concat(lit("L"),
        lpad((col("doc_id") % 79).cast("string"), 4, "0")).cast("binary")
      val mp3 = concat(
        lit(hx("494433" + "0300" + "00" + "00000030")),
        lit(hx("54495432" + "00000006" + "0000" + "00")), ti,
        lit(hx("54504531" + "00000006" + "0000" + "00")), ar,
        lit(hx("54414C42" + "00000006" + "0000" + "00")), al,
        lit(hx("FFFB9000")),
        expr("unhex(repeat('AA', CAST(doc_id % 997 + 64 AS INT)))"))
      val webp = concat(
        lit(hx("52494646" + "64000000" + "57454250")),
        lit(hx("56503820" + "0A000000" + "000000" + "9D012A")),
        unhex(concat(
          lpad(hex(w.bitwiseAND(lit(255L))), 2, "0"),
          lpad(hex(shiftright(w, 8).bitwiseAND(lit(255L))), 2, "0"),
          lpad(hex(h.bitwiseAND(lit(255L))), 2, "0"),
          lpad(hex(shiftright(h, 8).bitwiseAND(lit(255L))), 2, "0"))))
      // round-14 arms: the SHARED fxFlac/fxOpus fixture builders (the
      // same constructions mm_media_duration pins — one builder, so the
      // twins cannot desynchronize), composed here so the one-pass
      // profile covers every duration-bearing container
      val flac = fxFlac((col("doc_id") % 100000 + 1) * 10)
      val opus = concat(lit(fxOpusIdPage),
        fxOggEosPage((col("doc_id") % 48000 + 1) * 10 + 312))
      val payload =
        when(col("doc_id") % 5 === 0, jpeg)
          .when(col("doc_id") % 5 === 1, mp3)
          .when(col("doc_id") % 5 === 3, flac)
          // round-15: WebM carved from the opus arm — the shared
          // fxWebmSized construction mm_media_duration pins
          .when(col("doc_id") % 10 === 9,
            fxWebmSized((col("doc_id") % 100000 + 1) * 1000))
          .when(col("doc_id") % 5 === 4, opus)
          .otherwise(webp)
      val base = rt(s, dir, "documents").select(col("doc_id"), payload.as("payload"))
      val profiled = Multimodal.withMp3Tags(
        Multimodal.withMediaDuration(
          Multimodal.withExifTags(
            Multimodal.withExifGps(
              Multimodal.withExifOrientation(
                Multimodal.imageDims(
                  Multimodal.withBinaryMeta(base, "payload"),
                  "payload"),
                "payload"),
              "payload"),
            "payload"),
          "payload"),
        "payload")
      profiled.select("doc_id", "format", "n_bytes", "truncated",
        "img_width", "img_height", "img_orientation",
        "display_width", "display_height", "gps_present",
        "media_dur_num", "media_dur_den", "media_duration_sec",
        "mp3_title", "mp3_artist", "mp3_album")
    }),
    // ID3v2 text frames — the audio sibling of mm_exif_tags: v2.3
    // plain-u32 frame sizes vs v2.4 syncsafe (the classic confusion,
    // both pinned), the pre-1999 v2.2 layout (3-char TT2/TP1/TAL ids,
    // BE u24 sizes), Latin-1 / UTF-8 / BOM'd UTF-16 text encodings,
    // missing-album and no-tag shapes. Strings are doc_id-derived
    // fixed-width so frame offsets stay literal; the oracle rebuilds
    // them from arithmetic.
    "mm_mp3_tags" -> ((s, dir) => {
      def hx(h: String): Array[Byte] =
        h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
      val ti = concat(lit("T"),
        lpad((col("doc_id") % 89).cast("string"), 4, "0")).cast("binary")
      val ar = concat(lit("A"),
        lpad((col("doc_id") % 83).cast("string"), 4, "0")).cast("binary")
      val al = concat(lit("L"),
        lpad((col("doc_id") % 79).cast("string"), 4, "0")).cast("binary")
      // three 16-byte text frames (1 encoding byte + 5 chars each)
      def frames3 = concat(
        lit(hx("54495432" + "00000006" + "0000" + "00")), ti,
        lit(hx("54504531" + "00000006" + "0000" + "00")), ar,
        lit(hx("54414C42" + "00000006" + "0000" + "00")), al)
      val v23 = concat(lit(hx("494433" + "0300" + "00" + "00000030")), frames3)
      // v2.4: same byte shapes (sizes < 128 encode identically), but the
      // kernel must take the SYNCSAFE branch; encoding byte 03 = UTF-8
      val v24 = concat(
        lit(hx("494433" + "0400" + "00" + "00000030")),
        lit(hx("54495432" + "00000006" + "0000" + "03")), ti,
        lit(hx("54504531" + "00000006" + "0000" + "03")), ar,
        lit(hx("54414C42" + "00000006" + "0000" + "03")), al)
      // v2.3 with a BOM'd UTF-16LE title ("T16") + Latin-1 artist, no album
      val v16 = concat(
        lit(hx("494433" + "0300" + "00" + "00000023")),
        lit(hx("54495432" + "00000009" + "0000" + "01" + "FFFE" + "540031003600")),
        lit(hx("54504531" + "00000006" + "0000" + "00")), ar)
      // v2.2: 3-char frame ids (TT2/TP1/TAL), BE u24 sizes, 6-byte frame
      // headers — 3 × 12-byte frames = 0x24 tag bytes
      val v22 = concat(
        lit(hx("494433" + "0200" + "00" + "00000024")),
        lit(hx("545432" + "000006" + "00")), ti,
        lit(hx("545031" + "000006" + "00")), ar,
        lit(hx("54414C" + "000006" + "00")), al)
      val payload =
        when(col("doc_id") % 5 === 0, v23)
          .when(col("doc_id") % 5 === 1, v24)
          .when(col("doc_id") % 5 === 2, v16)
          .when(col("doc_id") % 5 === 3, v22)
          .otherwise(lit(hx("FFFB9000AAAAAAAA"))) // bare frames, no tag
      Multimodal.withMp3Tags(
        rt(s, dir, "documents").select(col("doc_id"), payload.as("payload")),
        "payload")
        .select("doc_id", "mp3_title", "mp3_artist", "mp3_album")
    }),
    // PDF text extraction (the largest non-HTML text reservoir in a
    // crawl): %11==0 an UNCOMPRESSED content stream with doc_id-varying
    // text exercising escaped parens, hex strings, Td line moves, and a
    // TJ array; %11==1 a /FlateDecode stream of a FIXED content (deflated
    // once driver-side at plan build — fixture construction; the
    // Inflater round trip happens only on the Spark side); %11==2 an
    // ENCRYPTED document whose stream would otherwise parse (the
    // /Encrypt screen must win → NULL); %11==3 an image-only PDF
    // (/DCTDecode, no extractable text → NULL); %11==4 non-PDF bytes
    // (→ NULL); %11==5 an /ASCIIHexDecode stream (whitespaced digits +
    // EOD); %11==6 the classic 7-bit-safe CHAIN
    // [/ASCII85Decode /FlateDecode] — declared-order decode. Round-14
    // shapes: %11==7 an /LZWDecode stream (variable-width codes,
    // LZW-packed driver-side); %11==8 FlateDecode + /DecodeParms PNG
    // Predictor 12 (Sub row then Up rows, de-predicted after the
    // inflate); %11==9 a COMPOSITE font — /Font resources → /ToUnicode
    // CMap (bfchar + bfrange), a doc_id-varying CID hex string remaps to
    // 'CID' + a bfrange letter; %11==10 FlateDecode + TIFF Predictor 2.
    // The oracle rebuilds the text shapes from arithmetic and literals.
    "mm_pdf_text" -> ((s, dir) => {
      val nn = lpad((col("doc_id") % 9973).cast("string"), 4, "0")
      val c0 = concat(
        lit("BT /F1 12 Tf 72 720 Td (Doc \\(P".getBytes),
        nn.cast("binary"),
        lit("\\)) Tj 0 -14 Td [(tail )<4142>] TJ ET".getBytes))
      val pdf0 = concat(
        lit(("%PDF-1.7\n1 0 obj\n<< /Type /Page >>\nendobj\n" +
          "2 0 obj\n<< /Length 70 >>\nstream\n").getBytes),
        c0,
        lit("\nendstream\nendobj\ntrailer\n<< /Root 1 0 R >>\n%%EOF\n".getBytes))
      val flateContent =
        "BT 72 720 Td (Compressed stream payload) Tj T* (second line) ' ET"
      val deflated = {
        val d = new java.util.zip.Deflater()
        d.setInput(flateContent.getBytes("ISO-8859-1")); d.finish()
        val bos = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](256)
        while (!d.finished()) { val m = d.deflate(buf); bos.write(buf, 0, m) }
        d.end(); bos.toByteArray
      }
      val pdf1 = concat(
        lit("%PDF-1.5\n3 0 obj\n<< /Filter /FlateDecode >>\nstream\n".getBytes),
        lit(deflated),
        lit("\nendstream\nendobj\n%%EOF\n".getBytes))
      val pdf2 = lit(("%PDF-1.7\n4 0 obj\n<< >>\nstream\nBT (secret) Tj ET\n" +
        "endstream\nendobj\ntrailer\n<< /Encrypt 9 0 R >>\n%%EOF\n").getBytes)
      val pdf3 = concat(
        lit("%PDF-1.7\n5 0 obj\n<< /Filter /DCTDecode /Length 4 >>\nstream\n".getBytes),
        unhex(lit("FFD8FFE0")),
        lit("\nendstream\nendobj\n%%EOF\n".getBytes))
      def toHex(x: Array[Byte]): String = x.map("%02X".format(_)).mkString
      val pdf5 = lit(("%PDF-1.3\n6 0 obj\n<< /Filter /ASCIIHexDecode >>\nstream\n" +
        toHex("BT (hex encoded stream) Tj ET".getBytes("ISO-8859-1"))
          .grouped(4).mkString(" ") + ">" +
        "\nendstream\nendobj\n%%EOF\n").getBytes)
      def a85(x: Array[Byte]): String = {
        val sb = new StringBuilder
        x.grouped(4).foreach { g =>
          var v = 0L
          g.padTo(4, 0.toByte).foreach(b => v = (v << 8) | (b & 0xff))
          val cs = (0 until 5).map(i =>
            ('!' + (v / math.pow(85, 4 - i).toLong % 85)).toChar)
          sb.append(cs.take(g.length + 1).mkString)
        }
        sb.append("~>").toString
      }
      val chained = {
        val d = new java.util.zip.Deflater()
        d.setInput("BT (chained transport) Tj ET".getBytes("ISO-8859-1"))
        d.finish()
        val bos = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](256)
        while (!d.finished()) { val m = d.deflate(buf); bos.write(buf, 0, m) }
        d.end(); bos.toByteArray
      }
      val pdf6 = lit(("%PDF-1.4\n8 0 obj\n" +
        "<< /Filter [/ASCII85Decode /FlateDecode] >>\nstream\n" +
        a85(chained) +
        "\nendstream\nendobj\n%%EOF\n").getBytes)
      // §7.4.4 LZW packer (fixture construction, driver-side once): the
      // code stream a conforming writer would emit — clear, data codes
      // with decoder-synchronized width bumps (EarlyChange 1), EOD
      def lzw(s: Array[Byte]): Array[Byte] = {
        val dict = new java.util.HashMap[String, Integer]()
        var size = 258
        val codes = scala.collection.mutable.ArrayBuffer[Int](256)
        var w = ""
        s.foreach { b =>
          val wc = w + (b & 0xff).toChar
          if (wc.length == 1 || dict.containsKey(wc)) w = wc
          else {
            codes += (if (w.length == 1) w.charAt(0).toInt else dict.get(w).intValue())
            if (size < 4096) { dict.put(wc, size); size += 1 }
            w = wc.substring(wc.length - 1)
          }
        }
        if (w.nonEmpty)
          codes += (if (w.length == 1) w.charAt(0).toInt else dict.get(w).intValue())
        codes += 257
        val bos = new java.io.ByteArrayOutputStream()
        var bitBuf = 0L; var bitCnt = 0; var width = 9
        var dsize = 258; var prevSeen = false
        codes.foreach { c =>
          bitBuf = (bitBuf << width) | c; bitCnt += width
          while (bitCnt >= 8) {
            bos.write(((bitBuf >>> (bitCnt - 8)) & 0xff).toInt); bitCnt -= 8
          }
          if (c == 256) { dsize = 258; width = 9; prevSeen = false }
          else if (c != 257) {
            if (prevSeen && dsize < 4096) {
              dsize += 1
              if (dsize + 1 >= (1 << width) && width < 12) width += 1
            }
            prevSeen = true
          }
        }
        if (bitCnt > 0) bos.write(((bitBuf << (8 - bitCnt)) & 0xff).toInt)
        bos.toByteArray
      }
      val pdf7 = lit(("%PDF-1.2\n10 0 obj\n<< /Filter /LZWDecode >>\nstream\n"
        .getBytes("ISO-8859-1")) ++
        lzw("BT (lzw compressed stream) Tj ET".getBytes("ISO-8859-1")) ++
        "\nendstream\nendobj\n%%EOF\n".getBytes("ISO-8859-1"))
      // PNG-predict rows (Sub first row, Up after) then deflate — the
      // kernel must inflate AND de-predict (fixture construction)
      def pngPredict(raw: Array[Byte], cols: Int): Array[Byte] = {
        val rows = raw.length / cols
        val out = new java.io.ByteArrayOutputStream()
        (0 until rows).foreach { r =>
          val ft = if (r == 0) 1 else 2
          out.write(ft)
          (0 until cols).foreach { i =>
            val x = raw(r * cols + i) & 0xff
            val pred =
              if (ft == 1) (if (i > 0) raw(r * cols + i - 1) & 0xff else 0)
              else raw((r - 1) * cols + i) & 0xff
            out.write((x - pred) & 0xff)
          }
        }
        out.toByteArray
      }
      def deflateBytes(x: Array[Byte]): Array[Byte] = {
        val d = new java.util.zip.Deflater()
        d.setInput(x); d.finish()
        val bos = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](256)
        while (!d.finished()) { val m = d.deflate(buf); bos.write(buf, 0, m) }
        d.end(); bos.toByteArray
      }
      val pngContent = "BT (predicted payload rows) Tj ET"
        .padTo(40, ' ').getBytes("ISO-8859-1") // 5 rows of 8
      val pdf8 = lit(("%PDF-1.7\n11 0 obj\n<< /Filter /FlateDecode " +
        "/DecodeParms << /Predictor 12 /Columns 8 >> >>\nstream\n")
        .getBytes("ISO-8859-1") ++
        deflateBytes(pngPredict(pngContent, 8)) ++
        "\nendstream\nendobj\n%%EOF\n".getBytes("ISO-8859-1"))
      // composite font: Resources → /FC → /ToUnicode CMap; the content
      // hex string carries codes 0003 (bfchar → 'C'), 0004 (→ 'ID'), and
      // 001d for d = doc_id%10 (bfrange <0010><0019> → 'a'..'j')
      val cmapStream =
        "begincmap\n1 begincodespacerange <0000> <FFFF> endcodespacerange\n" +
          "2 beginbfchar <0003> <0043> <0004> <00490044> endbfchar\n" +
          "1 beginbfrange <0010> <0019> <0061> endbfrange\nendcmap"
      val pdf9 = concat(
        lit(("%PDF-1.6\n" +
          "1 0 obj\n<< /Type /Page /Resources << /Font << /FC 7 0 R >> >> >>\nendobj\n" +
          "7 0 obj\n<< /Type /Font /Subtype /Type0 /ToUnicode 8 0 R >>\nendobj\n" +
          s"8 0 obj\n<< /Length ${cmapStream.length} >>\nstream\n" + cmapStream +
          "\nendstream\nendobj\n" +
          "2 0 obj\n<< >>\nstream\nBT /FC 12 Tf <0003 0004 001").getBytes),
        (col("doc_id") % 10).cast("string").cast("binary"),
        lit("> Tj ET\nendstream\nendobj\n%%EOF\n".getBytes))
      // round-15 per-page font scoping: TWO pages, both defining /F1,
      // with DIFFERENT CMaps (page 1: 0041→'X', range→'A'..; page 2:
      // 0041→'Y', range→'a'..) and both contents showing the same
      // doc_id-varying codes — a file-global last-wins table renders
      // page 1 through page 2's CMap ("Ya…\nYa…") and hash-mismatches;
      // the page-tree walk must produce "XA…\nYa…"
      val cmapP1 =
        "begincmap\n1 begincodespacerange <0000> <FFFF> endcodespacerange\n" +
          "1 beginbfchar <0041> <0058> endbfchar\n" +
          "1 beginbfrange <0010> <0019> <0041> endbfrange\nendcmap"
      val cmapP2 =
        "begincmap\n1 begincodespacerange <0000> <FFFF> endcodespacerange\n" +
          "1 beginbfchar <0041> <0059> endbfchar\n" +
          "1 beginbfrange <0010> <0019> <0061> endbfrange\nendcmap"
      val dDigit = (col("doc_id") % 10).cast("string").cast("binary")
      val pdf11 = concat(
        lit(("%PDF-1.7\ntrailer\n<< /Root 1 0 R >>\n" +
          "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n" +
          "2 0 obj\n<< /Type /Pages /Kids [3 0 R 4 0 R] >>\nendobj\n" +
          "3 0 obj\n<< /Type /Page /Resources << /Font << /F1 10 0 R >> >> " +
          "/Contents 5 0 R >>\nendobj\n" +
          "4 0 obj\n<< /Type /Page /Resources << /Font << /F1 11 0 R >> >> " +
          "/Contents 6 0 R >>\nendobj\n" +
          "10 0 obj\n<< /Type /Font /ToUnicode 20 0 R >>\nendobj\n" +
          "11 0 obj\n<< /Type /Font /ToUnicode 21 0 R >>\nendobj\n" +
          s"20 0 obj\n<< /Length ${cmapP1.length} >>\nstream\n" + cmapP1 +
          "\nendstream\nendobj\n" +
          s"21 0 obj\n<< /Length ${cmapP2.length} >>\nstream\n" + cmapP2 +
          "\nendstream\nendobj\n" +
          "5 0 obj\n<< >>\nstream\nBT /F1 12 Tf <0041 001").getBytes),
        dDigit,
        lit(("> Tj ET\nendstream\nendobj\n" +
          "6 0 obj\n<< >>\nstream\nBT /F1 12 Tf <0041 001").getBytes),
        dDigit,
        lit("> Tj ET\nendstream\nendobj\n%%EOF\n".getBytes))
      // TIFF horizontal differencing (Predictor 2, colors=1)
      def tiffPredict(raw: Array[Byte], cols: Int): Array[Byte] = {
        val rows = raw.length / cols
        val out = new Array[Byte](rows * cols)
        (0 until rows).foreach { r =>
          (0 until cols).foreach { i =>
            val x = raw(r * cols + i) & 0xff
            val pred = if (i > 0) raw(r * cols + i - 1) & 0xff else 0
            out(r * cols + i) = ((x - pred) & 0xff).toByte
          }
        }
        out
      }
      val tiffContent = "BT (tiff differenced rows) Tj ET"
        .padTo(40, ' ').getBytes("ISO-8859-1")
      val pdf10 = lit(("%PDF-1.7\n12 0 obj\n<< /Filter /FlateDecode " +
        "/DecodeParms << /Predictor 2 /Columns 8 >> >>\nstream\n")
        .getBytes("ISO-8859-1") ++
        deflateBytes(tiffPredict(tiffContent, 8)) ++
        "\nendstream\nendobj\n%%EOF\n".getBytes("ISO-8859-1"))
      val payload =
        when(col("doc_id") % 11 === 0, pdf0)
          .when(col("doc_id") % 11 === 1, pdf1)
          .when(col("doc_id") % 11 === 2, pdf2)
          .when(col("doc_id") % 11 === 3, pdf3)
          .when(col("doc_id") % 11 === 5, pdf5)
          .when(col("doc_id") % 11 === 6, pdf6)
          .when(col("doc_id") % 11 === 7, pdf7)
          .when(col("doc_id") % 11 === 8, pdf8)
          .when(col("doc_id") % 22 === 20, pdf11) // carved from the 9 arm
          .when(col("doc_id") % 11 === 9, pdf9)
          .when(col("doc_id") % 11 === 10, pdf10)
          .otherwise(lit("plain text, no PDF magic".getBytes))
      Multimodal.withPdfText(
        rt(s, dir, "documents").select(col("doc_id"), payload.as("payload")),
        "payload")
        .select("doc_id", "pdf_text")
    }),
    // PDF document metadata (the provenance screen): %7==0 an
    // INCREMENTALLY-UPDATED document — two trailers, the LAST /Info
    // reference must win (obj 12's doc_id-derived values, never obj 9's
    // stale ones) — with an escaped-paren producer; %7==1 a UTF-16BE
    // BOM'd hex title + hex author + an INDIRECT-reference producer
    // (→ NULL, the documented no-xref boundary) + an apostrophe-bearing
    // timezone date; %7==2 no /Info at all (all NULL); %7==3 encrypted
    // (all NULL); %7==4 non-PDF (all NULL). Round-14 shapes: %7==5 the
    // MODERN-WRITER layout — the Info dict lives inside a compressed
    // /Type /ObjStm object stream (deflated driver-side; the member
    // offset walk happens only on the Spark side); %7==6 a DANGLING
    // /Info ref with an XMP packet — the §14.3.2 fallback answers
    // (dc:title entity-decoded, ISO-8601 raw date). The oracle
    // rebuilds the strings from arithmetic and literals.
    // Standard-security PDF decryption (round 15): owner-password-only
    // files (EMPTY user password validates against /U) decrypt
    // transparently — RC4-40/R2, RC4-128/R3, and AESV2/R4 shapes built
    // by the INDEPENDENT writer in encPdfFixtures; the real-user-
    // password shape must stay NULL (never ciphertext-as-text); the
    // plain control pins the unencrypted path through the same query.
    // The oracle asserts the known plaintexts from arithmetic alone —
    // the MD5 key derivation, /U validation, RC4/AES-CBC decrypts, and
    // per-object keys all happen on the Spark side.
    "mm_pdf_encrypted" -> ((s, dir) => {
      val fx = encPdfFixtures
      val payload =
        when(col("doc_id") % 6 === 0, lit(fx(0)))
          .when(col("doc_id") % 6 === 1, lit(fx(1)))
          .when(col("doc_id") % 6 === 2, lit(fx(2)))
          .when(col("doc_id") % 6 === 3, lit(fx(3)))
          .when(col("doc_id") % 6 === 4, lit(fx(4))) // AES-256 / R6
          .otherwise(lit(fx(5)))
      rt(s, dir, "documents")
        .select(col("doc_id"), payload.as("payload"))
        .withColumn("pdf_text",
          call_function(graft.functions.TilePairs.PdfTextName, col("payload")))
        .withColumn("__m",
          call_function(graft.functions.TilePairs.PdfInfoName, col("payload")))
        .select(col("doc_id"), col("pdf_text"),
          col("__m.title").as("pdf_title"))
    }),
    "mm_pdf_meta" -> ((s, dir) => {
      val ti = concat(lit("T"), lpad((col("doc_id") % 89).cast("string"), 4, "0"))
      val au = concat(lit("A"), lpad((col("doc_id") % 83).cast("string"), 4, "0"))
      val pdf0 = concat(
        lit(("%PDF-1.7\n" +
          "9 0 obj\n<< /Title (OLD) /Producer (stale) >>\nendobj\n" +
          "12 0 obj\n<< /Title (").getBytes),
        ti.cast("binary"),
        lit(") /Author (".getBytes),
        au.cast("binary"),
        lit((") /Creator (graftc) /Producer (graft \\(exporter\\)) " +
          "/CreationDate (D:20260101000000Z) >>\nendobj\n" +
          "trailer\n<< /Root 1 0 R /Info 9 0 R >>\nstartxref\n0\n%%EOF\n" +
          "trailer\n<< /Root 1 0 R /Info 12 0 R >>\nstartxref\n0\n%%EOF\n").getBytes))
      val pdf1 = lit(("%PDF-1.5\n3 0 obj\n<< /Title <FEFF005000310036> " +
        "/Author <48455841> /Producer 7 0 R " +
        "/CreationDate (D:20251231235959+01'00') >>\nendobj\n" +
        "trailer\n<< /Info 3 0 R >>\n%%EOF\n").getBytes)
      val pdf2 = lit(("%PDF-1.4\n1 0 obj\n<< /Type /Catalog >>\nendobj\n" +
        "trailer\n<< /Root 1 0 R >>\n%%EOF\n").getBytes)
      val pdf3 = lit(("%PDF-1.7\n3 0 obj\n<< /Title (secret) >>\nendobj\n" +
        "trailer\n<< /Info 3 0 R /Encrypt 9 0 R >>\n%%EOF\n").getBytes)
      // ObjStm shape: two members packed in one Flate stream, the first
      // (obj 20) the Info dict — modern writers compress /Info this way
      // and the raw `N G obj` scan alone finds nothing
      val objStm = {
        val dict1 = "<< /Title (Packed title) /Producer (objstm-gen) >>"
        val dict2 = "<< /Type /Catalog >>"
        val header = s"20 0 30 ${dict1.length + 1}\n"
        val body = (header + dict1 + "\n" + dict2).getBytes("ISO-8859-1")
        val d = new java.util.zip.Deflater()
        d.setInput(body); d.finish()
        val bos = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](256)
        while (!d.finished()) { val m = d.deflate(buf); bos.write(buf, 0, m) }
        d.end()
        (s"%PDF-1.5\n21 0 obj\n<< /Type /ObjStm /N 2 /First ${header.length} " +
          "/Filter /FlateDecode >>\nstream\n").getBytes("ISO-8859-1") ++
          bos.toByteArray ++
          ("\nendstream\nendobj\ntrailer\n<< /Root 1 0 R /Info 20 0 R >>\n" +
            "startxref\n0\n%%EOF\n").getBytes("ISO-8859-1")
      }
      val pdf5 = lit(objStm)
      // dangling /Info ref + an XMP packet: the packet answers (§14.3.2
      // keeps metadata streams uncompressed exactly for this scan)
      val pdf6 = lit(("%PDF-1.5\n1 0 obj\n<< /Type /Catalog >>\nendobj\n" +
        "8 0 obj\n<< /Type /Metadata /Subtype /XML >>\nstream\n" +
        "<?xpacket begin=\"\" id=\"W5M0MpCehiHzreSzNTczkc9d\"?>\n" +
        "<x:xmpmeta><rdf:RDF><rdf:Description>\n" +
        "<dc:title><rdf:Alt><rdf:li xml:lang=\"x-default\">Packet " +
        "&amp; title</rdf:li></rdf:Alt></dc:title>\n" +
        "<dc:creator><rdf:Seq><rdf:li>Xenia</rdf:li></rdf:Seq></dc:creator>\n" +
        "<xmp:CreatorTool>graft-x</xmp:CreatorTool>\n" +
        "<pdf:Producer>xmp-gen</pdf:Producer>\n" +
        "<xmp:CreateDate>2026-01-02T03:04:05Z</xmp:CreateDate>\n" +
        "</rdf:Description></rdf:RDF></x:xmpmeta>\n<?xpacket end=\"w\"?>" +
        "\nendstream\nendobj\n" +
        "trailer\n<< /Root 1 0 R /Info 99 0 R >>\n%%EOF\n").getBytes)
      val payload =
        when(col("doc_id") % 7 === 0, pdf0)
          .when(col("doc_id") % 7 === 1, pdf1)
          .when(col("doc_id") % 7 === 2, pdf2)
          .when(col("doc_id") % 7 === 3, pdf3)
          .when(col("doc_id") % 7 === 5, pdf5)
          .when(col("doc_id") % 7 === 6, pdf6)
          .otherwise(lit("not a pdf at all".getBytes))
      Multimodal.withPdfInfo(
        rt(s, dir, "documents").select(col("doc_id"), payload.as("payload")),
        "payload")
        .select("doc_id", "pdf_title", "pdf_author", "pdf_creator",
          "pdf_producer", "pdf_created")
    }),
    // EXIF camera-provenance tags: out-of-line ASCII Make/Model/Software
    // values (count includes the NUL) synthesized in BOTH byte orders
    // with doc_id-derived fixed-width strings; %4==2 payloads omit
    // Software (field NULL, others present), %4==3 have no EXIF (all
    // NULL). The oracle rebuilds the strings from arithmetic; the TIFF
    // byte round trips happen only on the Spark side.
    "mm_exif_tags" -> ((s, dir) => {
      def hx(h: String): Array[Byte] =
        h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
      val mk = concat(lit("MK"),
        lpad((col("doc_id") % 97).cast("string"), 4, "0")).cast("binary")
      val md = concat(lit("MD"),
        lpad((col("doc_id") % 53).cast("string"), 4, "0")).cast("binary")
      val sw = concat(lit("SW"),
        lpad((col("doc_id") % 11111).cast("string"), 5, "0")).cast("binary")
      val nul = lit(hx("00"))
      // full: TIFF 72 bytes — IFD0 (3 entries) at 8, values at 50/57/64
      val tagsII = concat(
        lit(hx("FFE10050" + "457869660000" + "49492A00" + "08000000" +
          "0300" +
          "0F01" + "0200" + "07000000" + "32000000" +
          "1001" + "0200" + "07000000" + "39000000" +
          "3101" + "0200" + "08000000" + "40000000" +
          "00000000")),
        mk, nul, md, nul, sw, nul)
      val tagsMM = concat(
        lit(hx("FFE10050" + "457869660000" + "4D4D002A" + "00000008" +
          "0003" +
          "010F" + "0002" + "00000007" + "00000032" +
          "0110" + "0002" + "00000007" + "00000039" +
          "0131" + "0002" + "00000008" + "00000040" +
          "00000000")),
        mk, nul, md, nul, sw, nul)
      // make/model only: TIFF 52 bytes — IFD0 (2 entries), values 38/45
      val tagsNoSw = concat(
        lit(hx("FFE1003C" + "457869660000" + "49492A00" + "08000000" +
          "0200" +
          "0F01" + "0200" + "07000000" + "26000000" +
          "1001" + "0200" + "07000000" + "2D000000" +
          "00000000")),
        mk, nul, md, nul)
      val jfif = lit(hx("FFE000104A46494600010100004800480000"))
      val sof = lit(hx("FFC0000B08" + "0064" + "00C8" + "01011100"))
      val payload =
        when(col("doc_id") % 4 === 0, concat(lit(hx("FFD8")), tagsII, sof))
          .when(col("doc_id") % 4 === 1, concat(lit(hx("FFD8")), tagsMM, sof))
          .when(col("doc_id") % 4 === 2, concat(lit(hx("FFD8")), tagsNoSw, sof))
          .otherwise(concat(lit(hx("FFD8")), jfif, sof))
      Multimodal.withExifTags(
        rt(s, dir, "documents").select(col("doc_id"), payload.as("payload")),
        "payload")
        .select("doc_id", "exif_make", "exif_model", "exif_software")
    }),
    // EXIF GPS report + scrub (the privacy-release gate): true GPS
    // sub-IFDs — pointer tag in IFD0 behind a decoy ImageWidth, refs as
    // inline ASCII, coordinates as out-of-line RATIONAL deg/min/sec
    // triples (sec denominator 100) — synthesized in BOTH byte orders
    // with doc_id-derived values; %8>=4 rows carry S/W refs (negative
    // decimal degrees). %4==2 payloads have EXIF but NO GPS pointer
    // (present=false), %4==3 no EXIF at all (NULL). The same payloads
    // are then STRIPPED and re-read: gps_present_after must be false
    // wherever EXIF survives, and width_after proves the scrub left the
    // rest of the JPEG (the SOF walk) intact. The oracle recomputes the
    // signed decimal degrees from doc_id arithmetic in the kernel's
    // exact operation order — IEEE-754 determinism, no rounding.
    "mm_exif_gps" -> ((s, dir) => {
      def hx(h: String): Array[Byte] =
        h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
      def be16(v: org.apache.spark.sql.Column) = unhex(lpad(hex(v), 4, "0"))
      def be32(v: org.apache.spark.sql.Column) = unhex(lpad(hex(v), 8, "0"))
      def le32(v: org.apache.spark.sql.Column) = unhex(concat(
        lpad(hex(v.bitwiseAND(lit(255L))), 2, "0"),
        lpad(hex(shiftright(v, 8).bitwiseAND(lit(255L))), 2, "0"),
        lpad(hex(shiftright(v, 16).bitwiseAND(lit(255L))), 2, "0"),
        lpad(hex(shiftright(v, 24).bitwiseAND(lit(255L))), 2, "0")))
      val w = col("doc_id") % 500 + 1
      val h = col("doc_id") % 300 + 1
      val latDeg = col("doc_id") % 90
      val latMin = col("doc_id") % 60
      val latSecN = col("doc_id") % 3600 // denominator 100
      val lonDeg = col("doc_id") % 180
      val lonMin = (col("doc_id") + 17) % 60
      val lonSecN = (col("doc_id") * 7) % 3600
      val south = col("doc_id") % 8 >= 4
      val latRef = when(south, lit("53")).otherwise(lit("4E")) // S / N
      val lonRef = when(south, lit("57")).otherwise(lit("45")) // W / E
      def rats(enc: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
        concat(
          enc(latDeg), enc(lit(1L)), enc(latMin), enc(lit(1L)),
          enc(latSecN), enc(lit(100L)),
          enc(lonDeg), enc(lit(1L)), enc(lonMin), enc(lit(1L)),
          enc(lonSecN), enc(lit(100L)))
      // APP1 len 0x94 = 2 + 6(Exif\0\0) + 140 TIFF: hdr(8) + IFD0 at 8
      // (2 entries: decoy ImageWidth, GPS pointer → 38) + GPS IFD at 38
      // (4 entries: latref/lat/lonref/lon, rationals at 92/116) = 140
      val gpsII = concat(
        lit(hx("FFE10094" + "457869660000" + "49492A00" + "08000000" +
          "0200" +
          "0001" + "0300" + "01000000" + "E7030000" + // decoy ImageWidth=999
          "2588" + "0400" + "01000000" + "26000000" + // GPS IFD → 38
          "00000000" +
          "0400" +
          "0100" + "0200" + "02000000")),
        unhex(concat(latRef, lit("000000"))),
        lit(hx("0200" + "0500" + "03000000" + "5C000000" + // lat rats → 92
          "0300" + "0200" + "02000000")),
        unhex(concat(lonRef, lit("000000"))),
        lit(hx("0400" + "0500" + "03000000" + "74000000" + // lon rats → 116
          "00000000")),
        rats(le32))
      val gpsMM = concat(
        lit(hx("FFE10094" + "457869660000" + "4D4D002A" + "00000008" +
          "0002" +
          "0100" + "0003" + "00000001" + "03E70000" +
          "8825" + "0004" + "00000001" + "00000026" +
          "00000000" +
          "0004" +
          "0001" + "0002" + "00000002")),
        unhex(concat(latRef, lit("000000"))),
        lit(hx("0002" + "0005" + "00000003" + "0000005C" +
          "0003" + "0002" + "00000002")),
        unhex(concat(lonRef, lit("000000"))),
        lit(hx("0004" + "0005" + "00000003" + "00000074" +
          "00000000")),
        rats(be32))
      // orientation-only EXIF: pointer tag absent → present=false
      val exifNoGps = lit(hx("FFE1002E" + "457869660000" + "49492A00" +
        "08000000" + "0200" +
        "0001" + "0300" + "01000000" + "E7030000" +
        "1201" + "0300" + "01000000" + "01000000" +
        "00000000"))
      val jfif = lit(hx("FFE000104A46494600010100004800480000"))
      val sof = concat(lit(hx("FFC0000B08")), be16(h), be16(w), lit(hx("01011100")))
      val payload =
        when(col("doc_id") % 4 === 0, concat(lit(hx("FFD8")), gpsII, sof))
          .when(col("doc_id") % 4 === 1, concat(lit(hx("FFD8")), gpsMM, sof))
          .when(col("doc_id") % 4 === 2, concat(lit(hx("FFD8")), exifNoGps, sof))
          .otherwise(concat(lit(hx("FFD8")), jfif, sof))
      val base = rt(s, dir, "documents").select(col("doc_id"), payload.as("payload"))
      val report = Multimodal.withExifGps(base, "payload")
        .select("doc_id", "gps_present", "gps_lat", "gps_lon")
      val after = Multimodal.withExifGps(
        Multimodal.imageDims(Multimodal.stripExifGps(base, "payload"), "payload"),
        "payload")
        .select(col("doc_id"),
          col("gps_present").as("gps_present_after"),
          col("img_width").as("width_after"))
      report.join(after, "doc_id")
    }),
    // REAL media durations from header bytes (the imageDims sibling):
    // true RIFF/WAVE and ISO-BMFF headers are synthesized with
    // doc_id-derived numbers, the chunk/box walks parse them back, and
    // the oracle recomputes the durations from arithmetic alone. The
    // shapes are deliberately adversarial: the WAV hides fmt/data behind
    // an ODD-sized LIST chunk (forgetting RIFF's even-offset pad shifts
    // every later chunk and cannot hash-match) and truncates the audio
    // payload (declared duration still answers); the v0 mp4 puts mvhd
    // behind a LARGESIZE free box and a udta sibling; the v1 mp4 uses
    // the 64-bit-duration mvhd layout. %4==3 splits on %16 into the MP3
    // shapes: a VBR MPEG1-stereo frame whose Xing block (at the 4+32
    // side-info offset) carries the frame count; a bare CBR MPEG1 Layer
    // III 128 kbps stream (declared-bitrate math over the byte span); an
    // ID3v2-PREFIXED CBR MPEG2 Layer III mono 32 kbps stream (syncsafe
    // tag skip + the 4+9 mono offset probing non-Xing bytes); and an ID3
    // tag whose declared size runs past the payload → NULL. Round-14
    // shapes: %8==4 a FLAC STREAMINFO (packed 20-bit rate + 36-bit
    // total-sample fields, doc_id-varying count); %8==5 an Ogg VORBIS
    // pair of pages (id-header rate, doc_id-varying end granule); %8==6
    // an Ogg OPUS stream (48 kHz granule clock, pre-skip 312 subtracted);
    // %8==7 a FLAC whose total-samples field is 0 = "unknown" → NULL.
    "mm_media_duration" -> ((s, dir) => {
      def hx(h: String): Array[Byte] =
        h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
      def le32(v: org.apache.spark.sql.Column) = unhex(concat(
        lpad(hex(v.bitwiseAND(lit(255L))), 2, "0"),
        lpad(hex(shiftright(v, 8).bitwiseAND(lit(255L))), 2, "0"),
        lpad(hex(shiftright(v, 16).bitwiseAND(lit(255L))), 2, "0"),
        lpad(hex(shiftright(v, 24).bitwiseAND(lit(255L))), 2, "0")))
      def be32(v: org.apache.spark.sql.Column) = unhex(lpad(hex(v), 8, "0"))
      def be64(v: org.apache.spark.sql.Column) = unhex(lpad(hex(v), 16, "0"))
      val byteRate = (col("doc_id") % 100 + 1) * 1000
      val dataSize = (col("doc_id") % 997 + 1) * 100
      val dur0 = (col("doc_id") % 7200 + 1) * 100 // units at timescale 600
      val dur1 = (col("doc_id") % 100000 + 1) * 10 // units at timescale 1000
      val ftyp = lit(hx("00000010" + "66747970" + "69736F6D" + "00000200"))
      val freeLarge = lit(hx("00000001" + "66726565" +
        "0000000000000018" + "0011223344556677")) // largesize box, 24 bytes
      val udta = lit(hx("0000000C" + "75647461" + "DEADBEEF"))
      // FLAC + Ogg arms via the SHARED fx* builders (one construction
      // for this query and mm_ingest_profile); the Vorbis id page stays
      // local — only this query pins the Vorbis codec path
      val flacTotal = (col("doc_id") % 100000 + 1) * 10
      val vorbisIdPage = lit(hx("4F676753" + "0002" + "00" * 8 +
        "01000000" + "00000000" + "00000000" + "01" + "1E" + // 30-byte seg
        "01" + "766F72626973" + "00000000" + "02" + "44AC0000" + // rate 44100
        "00" * 12 + "B8" + "01"))
      val vorbisGranule = (col("doc_id") % 100000 + 1) * 4
      val opusGranule = (col("doc_id") % 48000 + 1) * 10 + 312
      // EBML header element with a DocType 'webm' body (realistic
      // nonzero inter-field bytes per the fixture-discipline rule)
      val ebmlHdr = lit(hx("1A45DFA3" + "87" + "4282" + "84" + "7765626D"))
      val webmScale = (col("doc_id") % 100000 + 1) * 1000 // ns per tick
      val body = col("text").cast("binary")
      val payload =
        when(col("doc_id") % 8 === 0, concat(
          lit(hx("52494646")), le32(lit(1000L)), lit(hx("57415645")),
          lit(hx("4C495354")), le32(lit(5L)), lit(hx("696E666F21")),
          lit(hx("00")), // the ODD-size pad byte
          lit(hx("666D7420")), le32(lit(16L)), lit(hx("01000200")),
          le32(lit(8000L)), le32(byteRate), lit(hx("04001000")),
          lit(hx("64617461")), le32(dataSize), lit(hx("AA")))) // truncated audio
          .when(col("doc_id") % 8 === 1, concat(
            ftyp, freeLarge,
            be32(lit(48L)), lit(hx("6D6F6F76")), // moov: udta + mvhd v0
            udta,
            be32(lit(28L)), lit(hx("6D766864")), lit(hx("00000000")),
            lit(hx("00000000" + "00000000")), be32(lit(600L)), be32(dur0)))
          .when(col("doc_id") % 8 === 2, concat(
            ftyp,
            be32(lit(60L)), lit(hx("6D6F6F76")), // moov: udta + mvhd v1
            udta,
            be32(lit(40L)), lit(hx("6D766864")), lit(hx("01000000")),
            lit(hx("0000000000000000" + "0000000000000000")),
            be32(lit(1000L)), be64(dur1)))
          // VBR: FFFB9000 = MPEG1 Layer III 44100 stereo; 32 zero
          // side-info bytes; Xing + frames-flag + BE-32 frame count
          .when(col("doc_id") % 32 === 3, concat(
            lit(hx("FFFB9000" + "00" * 32 + "58696E67" + "00000001")),
            be32(col("doc_id") % 5000 + 1)))
          // bare CBR MPEG1 L3 128 kbps: header + doc_id-sized audio bytes
          .when(col("doc_id") % 32 === 11, concat(
            lit(hx("FFFB9000")),
            expr("unhex(repeat('AA', CAST(doc_id % 997 + 64 AS INT)))")))
          // ID3v2-prefixed CBR MPEG2 L3 mono 32 kbps: syncsafe tag size
          // < 128 keeps the size byte single; FFF340C0 = MPEG2/LIII/
          // 32 kbps/22050/mono
          .when(col("doc_id") % 32 === 19, concat(
            lit(hx("494433" + "0300" + "00" + "000000")),
            unhex(lpad(hex(col("doc_id") % 100 + 5), 2, "0")),
            expr("unhex(repeat('AA', CAST(doc_id % 100 + 5 AS INT)))"),
            lit(hx("FFF340C0")),
            expr("unhex(repeat('AA', CAST(doc_id % 500 + 32 AS INT)))")))
          // ID3 declaring 128 body bytes over a 15-byte payload: the tag
          // skip runs past the end → NULL
          .when(col("doc_id") % 32 === 27,
            lit(hx("494433" + "0300" + "00" + "00000100" + "AAAAAAAAAA")))
          .when(col("doc_id") % 8 === 4, fxFlac(flacTotal))
          .when(col("doc_id") % 8 === 5,
            concat(vorbisIdPage, fxOggEosPage(vorbisGranule)))
          .when(col("doc_id") % 8 === 6,
            concat(lit(fxOpusIdPage), fxOggEosPage(opusGranule)))
          // round-15 WebM/Matroska shapes (EBML walk), carved from the
          // %8==7 NULL arm: %32==15 a sized Segment whose Info carries
          // an EXPLICIT doc_id-varying TimestampScale, a decoy MuxingApp
          // element the walk must skip, and a float32 Duration of 1000
          // ticks → ns = 1000 × scale; %32==31 a STREAMED Segment
          // (unknown-size VINT, runs to EOF) with no TimestampScale
          // (spec default 1e6) and a float64 Duration of 2500.5 ticks
          // (exact in binary64 — the round never ties); %32==23 an Info
          // with a scale but NO Duration → NULL (a headerless live
          // capture genuinely has none)
          .when(col("doc_id") % 32 === 15, concat(fxWebmSized(webmScale), body))
          .when(col("doc_id") % 32 === 31, concat(
            ebmlHdr, lit(hx("18538067" + "FF" + // unknown size
              "1549A966" + "8B" +
              "4489" + "88" + "40A3890000000000")), // float64 = 2500.5
            body))
          .when(col("doc_id") % 32 === 23, concat(
            ebmlHdr, lit(hx("18538067" + "8D" +
              "1549A966" + "88" +
              "2AD7B1" + "84" + "000F4240")))) // scale only, no Duration
          .otherwise(fxFlac(lit(0L))) // total 0 = "unknown" → NULL
      Multimodal.withMediaDuration(
        rt(s, dir, "documents").select(col("doc_id"), payload.as("payload")),
        "payload")
        .select("doc_id", "media_dur_num", "media_dur_den",
          "media_duration_sec")
    }),
    // Frame sampling stub over binary payloads: byte-range slices, one row
    // per frame. Frames dumped as hex strings (binary columns are not
    // hashable by the driver compare; hex slicing is exactly replayable in
    // DuckDB at 2× byte offsets).
    "mm_sample_frames" -> ((s, dir) =>
      Multimodal.sampleFrames(
        rt(s, dir, "documents")
          .select(col("doc_id"), col("text").cast("binary").as("payload")),
        "payload", everyNBytes = 256, frameBytes = 64)
        .select(col("doc_id"), col("frame_idx"), hex(col("frame")).as("frame_hex"))),
    // ── streaming ops, exercised in batch mode (same DataFrame code runs
    //    under readStream/writeStream — StreamingSpec covers that mode) ────
    // sum_value rounded: the window-sum addition order differs between
    // engines, so the last ulp may differ; 6 decimals is far above the
    // noise and far below the data's scale.
    "stream_window_agg" -> ((s, dir) =>
      StreamingOps.windowedAgg(
        rtEvents(s, dir), "ts", Seq("event_type"), "value", "6 hours")
        .withColumn("sum_value", round(col("sum_value"), 6))),
    // POLITE FETCH SCHEDULING, batch twin (the streaming side runs the
    // same op through transformWithState — StreamingSpec pins
    // stream ≡ batch): per-host crawl-delay slots over a synthetic
    // frontier whose timestamps deliberately COLLIDE within hosts (the
    // url tiebreak matters) — scheduled_at_ms = max(event time, host's
    // next free slot) in closed window form. The oracle replays the
    // running-sum/running-max unrolling exactly.
    "stream_frontier_schedule" -> ((s, dir) => {
      val d = rt(s, dir, "documents")
      val frontier = d.select(
        concat(lit("www."), col("source"), lit(".example")).as("host"),
        concat(lit("https://www."), col("source"), lit(".example/p/"),
          col("doc_id")).as("url"),
        expr("timestamp'2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, CAST(doc_id % 7 AS INT), 0)")
          .as("ts"),
        ((length(col("source")) % 3 + 1).cast("double") * 0.5)
          .as("crawl_delay_sec"))
      StreamingOps.politenessSchedule(
        frontier, "host", "url", "crawl_delay_sec")
        .select("host", "url", "scheduled_at_ms")
    }),
    // Live ingest-quality monitor over the documents table with a synthetic
    // arrival time (doc_id minutes past midnight, the synthUrl convention —
    // documents carry no timestamp): per (6h window, lang), docs, token
    // mass, and quality failures — all exact-integer aggregates.
    "stream_quality_monitor" -> ((s, dir) =>
      StreamingOps.qualityMonitor(
        rt(s, dir, "documents").select(col("doc_id"), col("lang"), col("text"))
          .withColumn("ts",
            expr("timestamp'2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, CAST(doc_id % 1440 AS INT), 0)"))
          .drop("doc_id"),
        "ts", "text", "6 hours", keyCols = Seq("lang"))),
    // Sliding windows: each event lands in length/slide = 3 windows; the
    // oracle replays the epoch-aligned window starts with a small offset
    // cross join.
    "stream_sliding_agg" -> ((s, dir) =>
      StreamingOps.windowedAgg(
        rtEvents(s, dir), "ts", Seq("event_type"), "value", "6 hours",
        slide = Some("2 hours"))
        .withColumn("sum_value", round(col("sum_value"), 6))),
    "stream_session_agg" -> ((s, dir) =>
      StreamingOps.sessionAgg(rtEvents(s, dir), "ts", "user_id", "30 minutes")),
    "stream_dedup" -> ((s, dir) => {
      val e = rtEvents(s, dir)
      // inject exact duplicates of every 10th event, then dedup them away
      val withDups = e.unionByName(e.filter(col("event_id") % 10 === 0))
      StreamingOps.dedupEvents(withDups, Seq("event_id"), "ts")
        .select("event_id", "ts", "user_id", "event_type", "value")
    }),
    // Content-keyed ingest dedup through the batch-unified path: smallest
    // doc_id survives per normalized-text fingerprint.
    "stream_content_dedup" -> ((s, dir) => {
      val d = rt(s, dir, "documents").select("doc_id", "text")
        .withColumn("fp", TextOps.fingerprint(col("text")))
      StreamingOps.dedupByContent(d, Seq("fp"), "doc_id")
    }),
    // MinHash-banded near-dup ingest dedup, batch-replay form: a doc
    // survives iff it holds the smallest doc_id on EVERY one of its LSH
    // band keys. The oracle replays the first-wins rule over the exported
    // band-key table (xxhash64 chains have no DuckDB equivalent).
    "stream_neardup_dedup" -> ((s, dir) =>
      StreamingOps.dedupNearDups(
        rt(s, dir, "documents").select("doc_id", "text"),
        "doc_id", "text", "doc_id")),
    // The DETERMINISTIC variant's batch twin (the stream side is the
    // transformWithState processor — StreamingSpec proves stream ≡ batch
    // including same-batch near-dups): with a unique LONG tie the
    // min-(tie, xxhash) rule coincides with first-wins-per-band, so the
    // same band-key dump oracles both.
    "stream_neardup_det" -> ((s, dir) =>
      StreamingOps.dedupNearDupsDeterministic(
        rt(s, dir, "documents").select("doc_id", "text"),
        "doc_id", "text", "doc_id")),
    // Aux dump backing the stream_neardup_dedup oracle: one row per
    // (doc, band) with the band's chained hash, from the same kernels.
    "stream_neardup_keys" -> ((s, dir) => {
      val d = rt(s, dir, "documents").select("doc_id", "text")
      graft.ops.Dedup.withMinhashSig(d, col("text"), 3, 64, "__graft_sig")
        .filter(col("__graft_sig").isNotNull)
        .select(col("doc_id"),
          explode(graft.ops.Dedup.bandKeyStructs(col("__graft_sig"), 64, 8)).as("bh"))
        .select(col("doc_id"), col("bh.band").as("band"),
          col("bh.band_hash").as("band_hash"))
    }),
    "events_json_extract" -> ((s, dir) =>
      rtEvents(s, dir).select(
        col("event_id"),
        StreamingOps.jsonField(col("props"), "$.k").cast("int").as("k"))),
    // flatMapGroupsWithState custom state, exercised in batch (one state
    // pass per user over all rows = the plain per-user aggregate). Value
    // sums rounded: per-user fold order is partition-dependent.
    "stream_user_stats" -> ((s, dir) =>
      StreamingOps.userEventStats(rtEvents(s, dir))
        .withColumn("sum_value", round(col("sum_value"), 6))),

    // Frame-hash near-dup screen over binary payloads (the +10000 exact
    // copies share every frame → overlap 1.0; unrelated docs shouldn't
    // meet): frame slices → md5 → hash-bucketed pair expansion.
    "mm_frame_near_dup" -> ((s, dir) =>
      Multimodal.frameHashNearDupPairs(
        docsWithDups(s, dir)
          .select(col("doc_id"), col("text").cast("binary").as("payload")),
        "doc_id", "payload", everyNBytes = 256, frameBytes = 64,
        minOverlap = 0.5)),
    // posexplode to scalar rows: array columns are not sortable/hashable by
    // the driver's pandas compare, and the md5-based stub value is exactly
    // reproducible in DuckDB, so this gets a full hash-match oracle.
    "mm_fake_embed" -> ((s, dir) =>
      rt(s, dir, "documents").select(
        col("doc_id"),
        posexplode(Multimodal.fakeEmbedding(col("text").cast("binary"), 4))
          .as(Seq("pos", "value")))),

    // ── lexical / hybrid retrieval ─────────────────────────────────────
    // BM25 self-retrieval: docs 0-2 query the whole corpus with their own
    // text, top-10 each. Per-term scores are 9-decimal-rounded before the
    // per-doc sum (grid-sum rule), so the oracle's replay is order-free.
    "text_bm25" -> ((s, dir) => {
      val d = rtKernel(s, dir, "documents")
      Retrieval.bm25TopK(d, "doc_id", "text",
        d.filter(col("doc_id") < 3), "doc_id", "text", k = 10)
    }),
    // Hybrid retrieval: the BM25 ranking over documents fused with the
    // exact dense ranking over embeddings (doc_id ≡ vec_id in testdata)
    // by reciprocal-rank fusion. The oracle replays both rankings and the
    // 1/(60+rank) sum.
    "text_rrf_hybrid" -> ((s, dir) => {
      val d = rtKernel(s, dir, "documents")
      val e = rtKernel(s, dir, "embeddings")
      Retrieval.rrfFuse(
        Retrieval.bm25TopK(d, "doc_id", "text",
          d.filter(col("doc_id") < 3), "doc_id", "text", k = 10),
        Similarity.cosineTopKBatch(e, "vec_id", "embedding",
          e.filter(col("vec_id") < 3), "vec_id", "embedding", 10),
        "query_id", "id", "bm25", "cos", k = 10)
    }),
    // Per-domain quota: the 5 longest docs of every source (score n_chars,
    // ties by id) — CCNet's per-domain cap as a rank-window replay.
    "sample_cap_per_group" -> ((s, dir) =>
      Sampling.capPerGroup(
        rt(s, dir, "documents").select("doc_id", "source", "n_chars"),
        "source", "doc_id", "n_chars", perGroup = 5)),
    // Aux dump backing the two hash-embedding oracles: (term, bucket,
    // sign) for the corpus vocabulary — the xxhash64 halves have no SQL
    // equivalent; everything downstream of them does.
    "text_hash_vocab" -> ((s, dir) =>
      Retrieval.hashVocab(rt(s, dir, "documents"), "text", dim = 16)),
    // Feature-hashed signed bag-of-words embedding, dumped one row per
    // (doc, position); the oracle replays the bucket-sum + L2 normalize
    // from the vocab dump.
    "text_hash_embed" -> ((s, dir) =>
      Retrieval.hashEmbed(
        rtKernel(s, dir, "documents").select("doc_id", "text"), "text", dim = 16)
        .select(col("doc_id"),
          posexplode(col("text_hash")).as(Seq("pos", "value")))
        .withColumn("value", round(col("value"), 9))),
    // Stopword extraction for free off the persisted index's df table.
    "text_index_stopwords" -> ((s, dir) =>
      graft.ops.Retrieval.stopwords(
        graft.ops.Retrieval.Bm25Index.load(s, bm25DiskIndex(s, dir)),
        minDfFrac = 0.5)),
    // The same 3-query BM25 search through a fit → disk → load → probe
    // round trip of the persisted inverted index: results must be
    // IDENTICAL to text_bm25 (same oracle SQL) — the index, its term-
    // sorted layout, and the IN-pushdown probe must all be invisible.
    "text_bm25_indexed" -> ((s, dir) => {
      val idx = graft.ops.Retrieval.Bm25Index.load(s, bm25DiskIndex(s, dir))
      graft.ops.Retrieval.bm25SearchIndex(
        idx, rtKernel(s, dir, "documents").filter(col("doc_id") < 3),
        "doc_id", "text", k = 10)
    }),
    // Two-stage retrieval: 50-doc BM25 shortlist per query, exact-cosine
    // rerank against the query's embedding (doc_id ≡ vec_id), top-10 by
    // rounded cosine. The oracle replays shortlist, join, and rerank.
    "text_bm25_rerank" -> ((s, dir) => {
      val d = rtKernel(s, dir, "documents")
      val e = rtKernel(s, dir, "embeddings")
      graft.ops.Retrieval.bm25Rerank(
        d, "doc_id", "text", d.filter(col("doc_id") < 3), "doc_id", "text",
        e, "vec_id", "embedding",
        e.filter(col("vec_id") < 3), "vec_id", "embedding",
        kLex = 50, k = 10)
    }),
    // Two-stage retrieval off the persisted index: same shortlist, same
    // rerank, identical results (same oracle as text_bm25_rerank) — the
    // corpus text is never rescanned.
    "text_bm25_rerank_indexed" -> ((s, dir) => {
      val d = rtKernel(s, dir, "documents")
      val e = rtKernel(s, dir, "embeddings")
      graft.ops.Retrieval.bm25RerankIndex(
        graft.ops.Retrieval.Bm25Index.load(s, bm25DiskIndex(s, dir)),
        d.filter(col("doc_id") < 3), "doc_id", "text",
        e, "vec_id", "embedding",
        e.filter(col("vec_id") < 3), "vec_id", "embedding",
        kLex = 50, k = 10)
    }),
    // Pseudo-relevance feedback: 5 feedback docs per query, the 10
    // highest-summed-tf terms expand the query, second BM25 pass — the
    // zero-training lexical recall lift. Integer tf ranks + the grid-sum
    // scorer keep both passes engine-replayable.
    "text_bm25_prf" -> ((s, dir) => {
      val d = rtKernel(s, dir, "documents")
      Retrieval.bm25PrfTopK(d, "doc_id", "text",
        d.filter(col("doc_id") < 3), "doc_id", "text",
        k = 10, fbDocs = 5, fbTerms = 10)
    }),
    // The same PRF through the persisted index: both passes and the
    // feedback tf statistics come off pre-paid postings aggregates — the
    // corpus text is never rescanned; results identical by construction
    // (same oracle SQL as text_bm25_prf).
    "text_bm25_prf_indexed" -> ((s, dir) => {
      val idx = graft.ops.Retrieval.Bm25Index.load(s, bm25DiskIndex(s, dir))
      Retrieval.bm25PrfSearchIndex(
        idx, rtKernel(s, dir, "documents").filter(col("doc_id") < 3),
        "doc_id", "text", k = 10, fbDocs = 5, fbTerms = 10)
    }),
    // Ranking report card: how well the lexical BM25 ranking approximates
    // the dense-cosine truth (doc_id ≡ vec_id) — hit@10, reciprocal rank,
    // binary NDCG@10 per query, every gain 9-decimal-rounded pre-sum.
    "text_bm25_eval" -> ((s, dir) => {
      val d = rtKernel(s, dir, "documents")
      val e = rtKernel(s, dir, "embeddings")
      Retrieval.evalRankingMetrics(
        Retrieval.bm25TopK(d, "doc_id", "text",
          d.filter(col("doc_id") < 3), "doc_id", "text", k = 10),
        Similarity.cosineTopKBatch(e, "vec_id", "embedding",
          e.filter(col("vec_id") < 3), "vec_id", "embedding", 10),
        "query_id", "id", "bm25", k = 10)
    }),
    // NUMERIC drift via discretization (the §2.12 composition note made a
    // query): 8 equal-width n_chars bins fit on the REFERENCE drop's
    // min/max, applied to both drops (current clamps into range), PSI per
    // bin — all-integer bin edges, floor-of-double assignment both engines.
    "corpus_drift_numeric" -> ((s, dir) => {
      val d = rt(s, dir, "documents")
      val ref = d.filter(col("doc_id") % 3 === 0)
      val cur = d.filter(col("doc_id") % 3 =!= 0)
      val mm = ref.agg(
        min(col("n_chars")).cast("long"), max(col("n_chars")).cast("long")).head()
      val lo = mm.getLong(0)
      val width = mm.getLong(1) - lo + 1
      val bin = (cc: org.apache.spark.sql.Column) =>
        least(greatest(
          floor((cc - lit(lo)) * 8 / lit(width.toDouble)).cast("long"),
          lit(0L)), lit(7L))
      Curation.categoryDriftPsi(
        ref.withColumn("chars_bin", bin(col("n_chars"))),
        cur.withColumn("chars_bin", bin(col("n_chars"))),
        "chars_bin")
    }),
    // Raw text straight into the dense retrieval stack: hash-embed the
    // corpus, then exact cosine top-10 for docs 0-2 — similarity search
    // with no trained embeddings anywhere. Both engines rank on the
    // identical sequential-fold cosine (the sim_topk rule); values are
    // 9-decimal-rounded for the value compare.
    "text_embed_topk" -> ((s, dir) => {
      val emb = Retrieval.hashEmbed(
        rtKernel(s, dir, "documents").select("doc_id", "text"), "text", dim = 16)
      Similarity.cosineTopKBatch(emb, "doc_id", "text_hash",
        emb.filter(col("doc_id") < 3), "doc_id", "text_hash", 10)
        .withColumn("cos", round(col("cos"), 9))
    }),
  )

  /** The 13-step stripHtml regexp cascade over an `html` column, ending
    * `AS text_plain` — shared by text_strip_html and warc_html_extract so
    * the replay can never fork from itself. */
  private val stripHtmlCascadeSql =
    """  regexp_replace(
      |    regexp_replace(
      |      regexp_replace(
      |        regexp_replace(
      |          regexp_replace(
      |            regexp_replace(
      |              regexp_replace(
      |                regexp_replace(
      |                  regexp_replace(
      |                    regexp_replace(
      |                      regexp_replace(
      |                        regexp_replace(
      |                          regexp_replace(html,
      |                            '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
      |                          '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
      |                        '(?s)<!--.*?-->', ' ', 'g'),
      |                      '(?i)</(p|div|li|h[1-6]|tr)>|<br[^>]*>', chr(10), 'g'),
      |                    '(?s)<[^>]*>', ' ', 'g'),
      |                  '&nbsp;', ' ', 'g'),
      |                '&lt;', '<', 'g'),
      |              '&gt;', '>', 'g'),
      |            '&quot;', '"', 'g'),
      |          '&#39;', chr(39), 'g'),
      |        '&amp;', '&', 'g'),
      |      '[ \t]+', ' ', 'g'),
      |    ' *\n[ \n]*', chr(10), 'g')
      |    .regexp_replace('^\s+|\s+$', '', 'g') AS text_plain""".stripMargin


  /** Shared oracle of text_bm25_rerank and text_bm25_rerank_indexed:
    * the text_bm25 chain cut at rank 50, embeddings joined on the
    * shortlist ids, the sim_topk_batch cosine formula, and the final rank
    * on the 9-decimal-rounded cosine. */
  private val bm25RerankOracleSql =
      """WITH base AS (SELECT doc_id, lower(text) AS t FROM documents),
        |     dl AS (SELECT doc_id,
        |              CAST(coalesce(len(list_filter(string_split_regex(t, '\s+'),
        |                                            x -> x <> '')), 0) AS BIGINT) AS dl
        |            FROM base),
        |     stats AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |                      avg(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
        |     toks AS (SELECT doc_id,
        |                unnest(list_filter(string_split_regex(t, '\s+'), x -> x <> '')) AS term
        |              FROM base),
        |     qterms AS (SELECT DISTINCT doc_id AS query_id, term FROM toks WHERE doc_id < 3),
        |     tf AS (SELECT doc_id AS id, term, CAST(count(*) AS BIGINT) AS tf
        |            FROM toks WHERE term IN (SELECT term FROM qterms) GROUP BY 1, 2),
        |     dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |     scored AS (SELECT q.query_id, tf.id,
        |                  round(ln(1 + (s.n - dfq.df + 0.5) / (dfq.df + 0.5))
        |                        * tf.tf * 2.2
        |                        / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)), 9) AS sc
        |                FROM tf JOIN qterms q ON tf.term = q.term
        |                     JOIN dfq ON tf.term = dfq.term
        |                     JOIN dl ON tf.id = dl.doc_id
        |                     CROSS JOIN stats s),
        |     summed AS (SELECT query_id, id, round(sum(sc), 9) AS bm25
        |                FROM scored GROUP BY 1, 2),
        |     shortlist AS (SELECT query_id, id, bm25 FROM (
        |                     SELECT query_id, id, bm25,
        |                            row_number() OVER (PARTITION BY query_id
        |                                               ORDER BY bm25 DESC, id) AS rn
        |                     FROM summed) WHERE rn <= 50),
        |     e AS (SELECT vec_id, embedding,
        |             sqrt(list_sum([CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
        |                            FOR i IN range(1, 65)])) AS nrm
        |           FROM embeddings),
        |     q AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qnrm
        |           FROM e WHERE vec_id < 3 AND nrm > 0),
        |     rer AS (SELECT sl.query_id, sl.id, sl.bm25,
        |               round(list_sum([CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)
        |                               FOR i IN range(1, 65)])
        |                     / (e.nrm * q.qnrm), 9) AS cos
        |             FROM shortlist sl
        |                  JOIN e ON sl.id = e.vec_id AND e.nrm > 0
        |                  JOIN q ON sl.query_id = q.query_id)
        |SELECT query_id, id, bm25, cos FROM (
        |  SELECT query_id, id, bm25, cos,
        |         row_number() OVER (PARTITION BY query_id
        |                            ORDER BY cos DESC, id) AS rn
        |  FROM rer)
        |WHERE rn <= 10""".stripMargin

  /** Shared oracle of text_bm25_prf and text_bm25_prf_indexed: two full
    * bm25 replays — pass one's top-5 feedback docs, the integer tf-sum
    * expansion rank, the distinct union, pass two over the expanded
    * vocabulary. */
  private val bm25PrfOracleSql =
    """WITH base AS (SELECT doc_id, lower(text) AS t FROM documents),
        |     dl AS (SELECT doc_id,
        |              CAST(coalesce(len(list_filter(string_split_regex(t, '\s+'),
        |                                            x -> x <> '')), 0) AS BIGINT) AS dl
        |            FROM base),
        |     stats AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |                      avg(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
        |     toks AS (SELECT doc_id,
        |                unnest(list_filter(string_split_regex(t, '\s+'), x -> x <> '')) AS term
        |              FROM base),
        |     q1 AS (SELECT DISTINCT doc_id AS query_id, term FROM toks WHERE doc_id < 3),
        |     tf1 AS (SELECT doc_id AS id, term, CAST(count(*) AS BIGINT) AS tf
        |             FROM toks WHERE term IN (SELECT term FROM q1) GROUP BY 1, 2),
        |     df1 AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf1 GROUP BY 1),
        |     sc1 AS (SELECT q.query_id, tf1.id,
        |               round(ln(1 + (s.n - df1.df + 0.5) / (df1.df + 0.5))
        |                     * tf1.tf * 2.2
        |                     / (tf1.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)), 9) AS sc
        |             FROM tf1 JOIN q1 q ON tf1.term = q.term
        |                  JOIN df1 ON tf1.term = df1.term
        |                  JOIN dl ON tf1.id = dl.doc_id
        |                  CROSS JOIN stats s),
        |     sum1 AS (SELECT query_id, id, round(sum(sc), 9) AS bm25
        |              FROM sc1 GROUP BY 1, 2),
        |     fb AS (SELECT query_id, id FROM (
        |              SELECT query_id, id,
        |                     row_number() OVER (PARTITION BY query_id
        |                                        ORDER BY bm25 DESC, id) AS rn
        |              FROM sum1) WHERE rn <= 5),
        |     fbtf AS (SELECT fb.query_id, tk.term, CAST(count(*) AS BIGINT) AS tf
        |              FROM toks tk JOIN fb ON tk.doc_id = fb.id GROUP BY 1, 2),
        |     exp AS (SELECT query_id, term FROM (
        |               SELECT query_id, term,
        |                      row_number() OVER (PARTITION BY query_id
        |                                         ORDER BY tf DESC, term) AS rn
        |               FROM fbtf) WHERE rn <= 10),
        |     q2 AS (SELECT query_id, term FROM q1
        |            UNION SELECT query_id, term FROM exp),
        |     tf2 AS (SELECT doc_id AS id, term, CAST(count(*) AS BIGINT) AS tf
        |             FROM toks WHERE term IN (SELECT term FROM q2) GROUP BY 1, 2),
        |     df2 AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf2 GROUP BY 1),
        |     sc2 AS (SELECT q.query_id, tf2.id,
        |               round(ln(1 + (s.n - df2.df + 0.5) / (df2.df + 0.5))
        |                     * tf2.tf * 2.2
        |                     / (tf2.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)), 9) AS sc
        |             FROM tf2 JOIN q2 q ON tf2.term = q.term
        |                  JOIN df2 ON tf2.term = df2.term
        |                  JOIN dl ON tf2.id = dl.doc_id
        |                  CROSS JOIN stats s),
        |     sum2 AS (SELECT query_id, id, round(sum(sc), 9) AS bm25
        |              FROM sc2 GROUP BY 1, 2)
        |SELECT query_id, id, bm25 FROM (
        |  SELECT query_id, id, bm25,
        |         row_number() OVER (PARTITION BY query_id
        |                            ORDER BY bm25 DESC, id) AS rn
        |  FROM sum2)
        |WHERE rn <= 10""".stripMargin

  /** DuckDB-runnable ANSI SQL oracle for each query key. Column names/aliases
    * match the Spark outputs exactly (the driver sorts columns by name before
    * hashing).
    *
    * TERMINAL-CAST RULE (the round-11 `stream_frontier_schedule` red):
    * DuckDB widens integer aggregates — `SUM(BIGINT)` is HUGEINT,
    * `COUNT(*)` arithmetic can follow it — and a HUGEINT column reaches
    * the driver's dtype-sensitive hash as float64 while Spark emits
    * int64, failing the compare on BIT-IDENTICAL values. So: every FINAL
    * emitted column whose value derives from a DuckDB SUM/COUNT (windowed
    * or grouped, directly or through add/subtract/multiply) must wrap its
    * outermost integer expression in `CAST(… AS BIGINT)`. Intermediate
    * CTE columns only need the cast if they flow to an emitted integer
    * column without one of their own. Columns emitted as doubles
    * (ratios, `round(…)`) are exempt — the division already leaves
    * HUGEINT. Sibling conventions: non-ASCII literals ride as `\uXXXX`
    * escapes (the CharsetMarker convention), and `{GRAFT_OUT}` resolves
    * to the Verify dump directory for aux-table oracles.
    *
    * MEASUREMENT NOTE (the round-12 dedup_calibration correction): a
    * count()-only consumer lets Catalyst prune all output columns and
    * then ELIMINATE unique-key left joins — whole subtrees go
    * unmeasured while Verify's parquet write still executes them.
    * `Bench` therefore times `queryExecution.toRdd.count()` (the full
    * declared plan), and QueriesSmokeSpec pins the hazard so nobody
    * simplifies it back. When a query's own semantics need a
    * guaranteed-executing final op regardless of consumer, prefer
    * union + re-aggregate over a unique-key left join (the calibration
    * grid fill does). */
  def oracleSql: Map[String, String] = Map(
    "imp_mean" ->
      s"""WITH t AS ($qtyNullsSql)
         |SELECT l_orderkey, l_linenumber,
         |       COALESCE(qty, (SELECT avg(qty) FROM t)) AS qty FROM t""".stripMargin,
    "imp_median" ->
      s"""WITH t AS ($qtyNullsSql)
         |SELECT l_orderkey, l_linenumber,
         |       COALESCE(qty, (SELECT quantile_cont(qty, 0.5) FROM t)) AS qty FROM t""".stripMargin,
    "imp_arbitrary" ->
      s"""WITH t AS ($qtyNullsSql)
         |SELECT l_orderkey, l_linenumber, COALESCE(qty, -1.0) AS qty FROM t""".stripMargin,
    "imp_endtail" ->
      s"""WITH t AS ($qtyNullsSql)
         |SELECT l_orderkey, l_linenumber,
         |       COALESCE(qty, (SELECT quantile_cont(qty, 0.75) FROM t)) AS qty FROM t""".stripMargin,
    "imp_categorical" ->
      """WITH t AS (SELECT l_orderkey, l_linenumber,
        |             CASE WHEN l_orderkey % 11 = 0 THEN NULL ELSE l_returnflag END AS flag
        |           FROM lineitem),
        |     m AS (SELECT flag FROM t WHERE flag IS NOT NULL
        |           GROUP BY flag ORDER BY count(*) DESC, flag LIMIT 1)
        |SELECT l_orderkey, l_linenumber,
        |       COALESCE(t.flag, (SELECT flag FROM m)) AS flag FROM t""".stripMargin,
    "imp_missing_indicator" ->
      s"""WITH t AS ($qtyNullsSql)
         |SELECT l_orderkey, l_linenumber, qty, (qty IS NULL) AS qty_missing FROM t""".stripMargin,
    "imp_drop_missing" ->
      s"""WITH t AS ($qtyNullsSql)
         |SELECT l_orderkey, l_linenumber, qty FROM t WHERE qty IS NOT NULL""".stripMargin,

    "cat_onehot" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag,
        |       CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END AS l_returnflag_A,
        |       CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END AS l_returnflag_N,
        |       CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS l_returnflag_R
        |FROM lineitem""".stripMargin,
    "cat_count_frequency" ->
      """SELECT o_orderkey,
        |       COUNT(*) OVER (PARTITION BY o_orderpriority) AS o_orderpriority
        |FROM orders""".stripMargin,
    "cat_count_frequency_hc" ->
      """SELECT p_partkey,
        |       COUNT(*) OVER (PARTITION BY p_brand || '_' || p_name) AS bn
        |FROM part""".stripMargin,
    "cat_ordinal" ->
      """SELECT o_orderkey,
        |       DENSE_RANK() OVER (ORDER BY o_orderpriority) - 1 AS o_orderpriority
        |FROM orders""".stripMargin,
    "cat_mean" ->
      """SELECT l_orderkey, l_linenumber,
        |       AVG(l_quantity) OVER (PARTITION BY l_returnflag) AS l_returnflag,
        |       l_quantity
        |FROM lineitem""".stripMargin,
    "cat_woe" ->
      """WITH t AS (SELECT l_orderkey, l_linenumber, l_returnflag,
        |             CAST(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END AS BIGINT) AS tgt
        |           FROM lineitem),
        |     w AS (SELECT l_returnflag AS k,
        |             ln((sum(CASE WHEN tgt = 1 THEN 1 ELSE 0 END) + 1e-6)
        |                / (sum(CASE WHEN tgt = 0 THEN 1 ELSE 0 END) + 1e-6)) AS woe
        |           FROM t GROUP BY 1)
        |SELECT t.l_orderkey, t.l_linenumber, w.woe AS l_returnflag, t.tgt
        |FROM t JOIN w ON t.l_returnflag = w.k""".stripMargin,
    "cat_rare_label" ->
      """SELECT p_partkey,
        |       CASE WHEN CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE) < 0.04
        |            THEN 'rare' ELSE p_brand END AS p_brand
        |FROM (SELECT p_partkey, p_brand,
        |             COUNT(*) OVER (PARTITION BY p_brand) AS cnt,
        |             COUNT(*) OVER () AS total
        |      FROM part)""".stripMargin,

    "disc_arbitrary" ->
      """SELECT l_orderkey, l_linenumber,
        |       CASE WHEN l_quantity >= 1.0  AND l_quantity < 10.0 THEN 'low'
        |            WHEN l_quantity >= 10.0 AND l_quantity < 25.0 THEN 'mid'
        |            WHEN l_quantity >= 25.0 AND l_quantity <= 50.0 THEN 'high'
        |            ELSE NULL END AS l_quantity
        |FROM lineitem""".stripMargin,
    "disc_equal_frequency" ->
      """WITH b AS (SELECT quantile_cont(l_quantity, 0.0)  AS q0,
        |                  quantile_cont(l_quantity, 0.25) AS q1,
        |                  quantile_cont(l_quantity, 0.5)  AS q2,
        |                  quantile_cont(l_quantity, 0.75) AS q3,
        |                  quantile_cont(l_quantity, 1.0)  AS q4
        |           FROM lineitem)
        |SELECT l_orderkey, l_linenumber,
        |       CASE WHEN l_quantity >= q0 AND l_quantity < q1 THEN printf('[%.2f, %.2f)', q0, q1)
        |            WHEN l_quantity >= q1 AND l_quantity < q2 THEN printf('[%.2f, %.2f)', q1, q2)
        |            WHEN l_quantity >= q2 AND l_quantity < q3 THEN printf('[%.2f, %.2f)', q2, q3)
        |            WHEN l_quantity >= q3 AND l_quantity <= q4 THEN printf('[%.2f, %.2f)', q3, q4)
        |            ELSE NULL END AS l_quantity
        |FROM lineitem, b""".stripMargin,
    "disc_equal_width" ->
      """WITH b AS (SELECT min(l_quantity) AS lo, max(l_quantity) AS hi,
        |                  (max(l_quantity) - min(l_quantity)) / 5 AS w
        |           FROM lineitem)
        |SELECT l_orderkey, l_linenumber,
        |       CASE WHEN l_quantity >= lo          AND l_quantity < lo + 1 * w THEN printf('[%.2f, %.2f)', lo, lo + 1 * w)
        |            WHEN l_quantity >= lo + 1 * w AND l_quantity < lo + 2 * w THEN printf('[%.2f, %.2f)', lo + 1 * w, lo + 2 * w)
        |            WHEN l_quantity >= lo + 2 * w AND l_quantity < lo + 3 * w THEN printf('[%.2f, %.2f)', lo + 2 * w, lo + 3 * w)
        |            WHEN l_quantity >= lo + 3 * w AND l_quantity < lo + 4 * w THEN printf('[%.2f, %.2f)', lo + 3 * w, lo + 4 * w)
        |            WHEN l_quantity >= lo + 4 * w AND l_quantity <= hi THEN printf('[%.2f, %.2f)', lo + 4 * w, hi)
        |            ELSE NULL END AS l_quantity
        |FROM lineitem, b""".stripMargin,
    "disc_geometric_width" ->
      """WITH b AS (SELECT min(l_quantity) AS lo, max(l_quantity) AS hi,
        |                  pow(max(l_quantity) / min(l_quantity), 1.0 / 3) AS r
        |           FROM lineitem)
        |SELECT l_orderkey, l_linenumber,
        |       CASE WHEN l_quantity >= lo * pow(r, 0) AND l_quantity < lo * pow(r, 1) THEN printf('[%.2f, %.2f)', lo * pow(r, 0), lo * pow(r, 1))
        |            WHEN l_quantity >= lo * pow(r, 1) AND l_quantity < lo * pow(r, 2) THEN printf('[%.2f, %.2f)', lo * pow(r, 1), lo * pow(r, 2))
        |            WHEN l_quantity >= lo * pow(r, 2) AND l_quantity <= hi THEN printf('[%.2f, %.2f)', lo * pow(r, 2), hi)
        |            ELSE NULL END AS l_quantity
        |FROM lineitem, b""".stripMargin,

    "out_cap_arbitrary" ->
      """SELECT l_orderkey, l_linenumber,
        |       CASE WHEN l_quantity < 5.0 THEN 5.0
        |            WHEN l_quantity > 45.0 THEN 45.0
        |            ELSE l_quantity END AS l_quantity
        |FROM lineitem""".stripMargin,
    "out_winsorizer" ->
      """WITH b AS (SELECT quantile_cont(l_quantity, 0.05) AS lo,
        |                  quantile_cont(l_quantity, 0.95) AS hi
        |           FROM lineitem)
        |SELECT l_orderkey, l_linenumber,
        |       CASE WHEN l_quantity < lo THEN lo
        |            WHEN l_quantity > hi THEN hi
        |            ELSE l_quantity END AS l_quantity
        |FROM lineitem, b""".stripMargin,
    "out_trimmer" ->
      """WITH b AS (SELECT quantile_cont(l_quantity, 0.05) AS lo,
        |                  quantile_cont(l_quantity, 0.95) AS hi
        |           FROM lineitem)
        |SELECT l_orderkey, l_linenumber, l_quantity
        |FROM lineitem, b WHERE l_quantity >= lo AND l_quantity <= hi""".stripMargin,

    "num_log" ->
      "SELECT l_orderkey, l_linenumber, round(ln(l_quantity), 12) AS l_quantity FROM lineitem",
    "num_log_cp" ->
      "SELECT l_orderkey, l_linenumber, round(ln(l_quantity + 10.0), 12) AS l_quantity FROM lineitem",
    "num_reciprocal" ->
      "SELECT l_orderkey, l_linenumber, 1.0 / l_quantity AS l_quantity FROM lineitem",
    "num_power" ->
      "SELECT l_orderkey, l_linenumber, pow(l_quantity, 2.0) AS l_quantity FROM lineitem",
    "num_boxcox" ->
      "SELECT l_orderkey, l_linenumber, (pow(l_quantity, 2.0) - 1.0) / 2.0 AS l_quantity FROM lineitem",
    "num_yeojohnson" ->
      """SELECT l_orderkey, l_linenumber,
        |       CASE WHEN l_quantity >= 0.0
        |            THEN (pow(l_quantity + 1.0, 3.0) - 1.0) / 3.0
        |            ELSE -(pow(1.0 - l_quantity, -1.0) - 1.0) / (-1.0) END AS l_quantity
        |FROM lineitem""".stripMargin,
    "num_arcsin" ->
      "SELECT l_orderkey, l_linenumber, asin(sqrt(l_discount)) AS l_discount FROM lineitem",
    "scale_standard" ->
      """WITH s AS (SELECT avg(l_quantity) AS m, stddev_pop(l_quantity) AS sd FROM lineitem)
        |SELECT l_orderkey, l_linenumber,
        |       round((l_quantity - m) / (CASE WHEN sd = 0 THEN 1 ELSE sd END), 12) AS l_quantity
        |FROM lineitem, s""".stripMargin,
    "scale_minmax" ->
      """WITH s AS (SELECT min(l_quantity) AS lo, max(l_quantity) AS hi FROM lineitem)
        |SELECT l_orderkey, l_linenumber,
        |       round((l_quantity - lo) / (hi - lo), 12) AS l_quantity
        |FROM lineitem, s""".stripMargin,
    "scale_robust" ->
      """WITH s AS (SELECT quantile_cont(l_quantity, 0.25) AS q1,
        |                  quantile_cont(l_quantity, 0.5)  AS med,
        |                  quantile_cont(l_quantity, 0.75) AS q3
        |           FROM lineitem)
        |SELECT l_orderkey, l_linenumber,
        |       round((l_quantity - med)
        |             / (CASE WHEN q3 - q1 = 0 THEN 1 ELSE q3 - q1 END), 12) AS l_quantity
        |FROM lineitem, s""".stripMargin,

    "creation_math" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount,
        |       l_extendedprice * (1.0 - l_discount) AS disc_price
        |FROM lineitem""".stripMargin,
    "creation_relative" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice, l_quantity,
        |       l_extendedprice / l_quantity AS unit_price,
        |       l_extendedprice - l_quantity AS price_minus_qty,
        |       (l_extendedprice - l_quantity) / l_quantity AS pct_change
        |FROM lineitem""".stripMargin,
    "creation_cyclical" ->
      """SELECT l_orderkey, l_linenumber, l_quantity,
        |       sin(2 * pi() * l_quantity / 50.0) AS qty_sin,
        |       cos(2 * pi() * l_quantity / 50.0) AS qty_cos
        |FROM lineitem""".stripMargin,

    "dt_features" ->
      """SELECT l_orderkey, l_linenumber, l_shipdate,
        |       CAST(year(l_shipdate) AS INTEGER)      AS l_shipdate_year,
        |       CAST(month(l_shipdate) AS INTEGER)     AS l_shipdate_month,
        |       CAST(day(l_shipdate) AS INTEGER)       AS l_shipdate_day,
        |       CAST(hour(l_shipdate) AS INTEGER)      AS l_shipdate_hour,
        |       CAST(minute(l_shipdate) AS INTEGER)    AS l_shipdate_minute,
        |       CAST(second(l_shipdate) AS INTEGER)    AS l_shipdate_second,
        |       CAST(dayofweek(l_shipdate) AS INTEGER) AS l_shipdate_weekday
        |FROM lineitem""".stripMargin,
    "dt_subtraction" ->
      """SELECT l_orderkey, l_linenumber, l_shipdate, o_orderdate,
        |       (CAST(epoch(l_shipdate) AS BIGINT) - CAST(epoch(o_orderdate) AS BIGINT))
        |         / 86400.0 AS ship_delay_days
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey""".stripMargin,

    "sel_drop_features" ->
      "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem",
    "sel_drop_constant" ->
      "SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag FROM lineitem",
    "sel_drop_duplicate" ->
      "SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag FROM lineitem",
    "sel_drop_correlated" ->
      """SELECT l_orderkey, l_linenumber, l_quantity * 2.0 AS qty2, l_discount
        |FROM lineitem""".stripMargin,
    "sel_smart_correlated" ->
      """SELECT l_orderkey, l_linenumber, l_quantity * 2.0 AS qty2, l_discount, l_returnflag
        |FROM lineitem""".stripMargin,
    "sel_psi" ->
      "SELECT l_orderkey, l_linenumber, l_quantity AS q FROM lineitem",
    "sel_information_value" ->
      """SELECT CASE WHEN l_discount > 0.05 THEN 1.0 ELSE 0.0 END AS tgt,
        |       l_discount * 100.0 AS signal
        |FROM lineitem""".stripMargin,
    "sel_single_feature_perf" ->
      """SELECT l_extendedprice AS tgt,
        |       l_extendedprice + l_quantity AS near_copy
        |FROM lineitem""".stripMargin,
    "sel_target_mean_perf" ->
      """SELECT CASE WHEN l_discount > 0.05 THEN 1.0 ELSE 0.0 END AS tgt,
        |       l_discount * 100.0 AS signal
        |FROM lineitem""".stripMargin,
    "sel_mrmr" ->
      """SELECT CASE WHEN l_discount > 0.05 THEN 1.0 ELSE 0.0 END AS tgt,
        |       l_discount * 100.0 AS signal
        |FROM lineitem""".stripMargin,

    // ── extension ops ──────────────────────────────────────────────────
    // Keep the WHOLE ROW of the min-id member per text group (min_by), not
    // per-column mins over a wider group: the two coincide only while
    // duplicate texts agree on every other column — true at sf0.01, FALSE
    // at sf0.1+ where equal texts occur under different (lang, source)
    // (caught by the round-7 sf1 oracle sweep).
    "dedup_exact" ->
      s"""WITH u AS ($docsWithDupsSql),
         |     k AS (SELECT text, min(doc_id) AS doc_id FROM u GROUP BY text)
         |SELECT u.doc_id, u.text, u.lang, u.source, u.n_chars
         |FROM u JOIN k ON u.doc_id = k.doc_id AND u.text = k.text""".stripMargin,
    "dedup_minhash" -> ngramJaccardOracleSql,
    "dedup_ngram_jaccard" -> ngramJaccardOracleSql,
    // Paragraph-dedup replay: split on newline runs, full-whitespace
    // trim, global first-occurrence = min (doc_id, pos) via two grouped
    // mins, in-order reassembly with string_agg, kept/dropped counts,
    // all-dropped docs filtered — entirely from the source column.
    "dedup_paragraphs" ->
      """WITH u AS (SELECT doc_id,
        |             text || chr(10) ||
        |             'Subscribe to our newsletter for updates' ||
        |             chr(10) || chr(10) ||
        |             'shared block ' || (doc_id % 5) || chr(10) ||
        |             chr(20013)||chr(25991)||chr(26679)||chr(26495)||
        |             chr(27573)||chr(33853) || chr(10) ||
        |             '   ' || chr(10) ||
        |             text AS t
        |           FROM documents),
        |p AS (SELECT doc_id, generate_subscripts(ps, 1) - 1 AS pos,
        |             regexp_replace(unnest(ps), '^\s+|\s+$', '', 'g') AS para
        |      FROM (SELECT doc_id,
        |              string_split_regex(t, chr(10) || '+') AS ps FROM u)),
        |nz AS (SELECT * FROM p WHERE para <> ''),
        |w1 AS (SELECT para, min(doc_id) AS md FROM nz GROUP BY para),
        |w2 AS (SELECT nz.para, w1.md, min(nz.pos) AS mp
        |       FROM nz JOIN w1 ON nz.para = w1.para AND nz.doc_id = w1.md
        |       GROUP BY 1, 2),
        |k AS (SELECT nz.doc_id, nz.pos, nz.para,
        |             (nz.doc_id = w2.md AND nz.pos = w2.mp) AS keep
        |      FROM nz JOIN w2 ON nz.para = w2.para)
        |SELECT doc_id,
        |       string_agg(CASE WHEN keep THEN para END, chr(10)
        |                  ORDER BY pos) AS text_dedup,
        |       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |       CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT)
        |         AS n_dropped
        |FROM k GROUP BY doc_id
        |HAVING sum(CASE WHEN keep THEN 1 ELSE 0 END) > 0""".stripMargin,
    // The calibration report replayed closed-form: truth = DuckDB's own
    // exact 3-gram Jaccard over one representative per distinct text
    // (min doc_id — the same collapse the op applies), candidates from
    // the aux dump; every count, ratio, and the banding bound
    // 1−(1−t²)³² recomputed independently per grid threshold.
    "dedup_calibration" ->
      s"""WITH u AS ($docsWithDupsSql),
         |reps AS (SELECT min(doc_id) AS doc_id, text FROM u GROUP BY text),
         |g AS (SELECT doc_id,
         |             list_distinct([substr(text, i, 3)
         |                            FOR i IN range(1, len(text) - 1)]) AS gs
         |      FROM reps),
         |tj AS (SELECT id_a, id_b, jaccard FROM (
         |         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |                CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
         |                  / (len(a.gs) + len(b.gs)
         |                     - len(list_intersect(a.gs, b.gs))) AS jaccard
         |         FROM g a JOIN g b ON a.doc_id < b.doc_id)
         |       WHERE jaccard >= 0.5),
         |cand AS (SELECT id_a, id_b
         |         FROM read_parquet('{GRAFT_OUT}/dedup_calibration_pairs/*.parquet')),
         |nc AS (SELECT count(*) AS n_cand FROM cand),
         |grid AS (SELECT unnest([0.5, 0.6, 0.7, 0.8, 0.9]) AS threshold),
         |m AS (SELECT grid.threshold,
         |             (SELECT count(*) FROM tj
         |              WHERE jaccard >= grid.threshold) AS n_true,
         |             (SELECT count(*) FROM cand c
         |              JOIN tj ON tj.id_a = c.id_a AND tj.id_b = c.id_b
         |              WHERE tj.jaccard >= grid.threshold) AS tp
         |      FROM grid)
         |SELECT threshold, n_true,
         |       (SELECT n_cand FROM nc) AS n_candidates, tp,
         |       (SELECT n_cand FROM nc) - tp AS fp,
         |       n_true - tp AS fn,
         |       CASE WHEN (SELECT n_cand FROM nc) > 0
         |            THEN round(CAST(tp AS DOUBLE)
         |                       / (SELECT n_cand FROM nc), 9) END AS precision,
         |       CASE WHEN n_true > 0
         |            THEN round(CAST(tp AS DOUBLE) / n_true, 9) END AS recall,
         |       round(1 - power(1 - power(threshold, 2.0), 32.0), 9)
         |         AS expected_recall
         |FROM m""".stripMargin,
    // Connected components by recursive closure: walk(id, lbl) enumerates
    // every (node, label of a node reachable from it); min per node = the
    // smallest id in its component. Pair graph = the same true-Jaccard ≥ 0.8
    // oracle the pairwise dedup queries verify against.
    "dedup_cluster" ->
      s"""WITH RECURSIVE
         | u AS ($docsWithDupsSql),
         | pairs AS ($ngramJaccardOracleSql),
         | edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |           UNION ALL SELECT id_b, id_a FROM pairs),
         | walk(id, lbl) AS (
         |   SELECT doc_id, doc_id FROM u
         |   UNION
         |   SELECT e.dst, w.lbl FROM walk w JOIN edges e ON e.src = w.id)
         |SELECT id AS doc_id, min(lbl) AS cluster_id FROM walk GROUP BY id""".stripMargin,
    "dedup_contamination" ->
      """WITH lg AS (SELECT doc_id,
        |              list_distinct([substr(text, i, 3) FOR i IN range(1, len(text) - 1)]) AS gs
        |            FROM documents),
        |     rg AS (SELECT doc_id, gs FROM lg WHERE doc_id % 3 = 0)
        |SELECT left_id, right_id, jaccard FROM (
        |  SELECT a.doc_id AS left_id, b.doc_id AS right_id,
        |         CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
        |           / (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs))) AS jaccard
        |  FROM lg a CROSS JOIN rg b)
        |WHERE jaccard >= 0.8""".stripMargin,
    // Cross-filter against the ingested third, then the dedup_corpus
    // recursive walk over the surviving batch.
    "dedup_incremental" ->
      """WITH RECURSIVE
        | inc AS (SELECT * FROM documents WHERE doc_id % 3 <> 0),
        | cor AS (SELECT * FROM documents WHERE doc_id % 3 = 0),
        | ig AS (SELECT doc_id,
        |          list_distinct([substr(text, i, 3) FOR i IN range(1, len(text) - 1)]) AS gs
        |        FROM inc),
        | cg AS (SELECT doc_id,
        |          list_distinct([substr(text, i, 3) FOR i IN range(1, len(text) - 1)]) AS gs
        |        FROM cor),
        | hit AS (SELECT DISTINCT a.doc_id FROM ig a, cg b
        |         WHERE CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
        |               / (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs))) >= 0.8),
        | cl AS (SELECT * FROM ig WHERE doc_id NOT IN (SELECT doc_id FROM hit)),
        | pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM cl a, cl b
        |           WHERE a.doc_id < b.doc_id
        |             AND CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
        |                 / (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs))) >= 0.8),
        | edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |           UNION ALL SELECT id_b, id_a FROM pairs),
        | walk(id, lbl) AS (
        |   SELECT doc_id, doc_id FROM cl
        |   UNION
        |   SELECT e.dst, w.lbl FROM walk w JOIN edges e ON e.src = w.id),
        | keep AS (SELECT id FROM walk GROUP BY id HAVING min(lbl) = id)
        |SELECT inc.* FROM inc JOIN keep ON inc.doc_id = keep.id""".stripMargin,
    // Identical semantics through the persisted signature index — the
    // index must be result-invisible, so the oracle IS dedup_incremental's.
    "dedup_incremental_model" ->
      """WITH RECURSIVE
        | inc AS (SELECT * FROM documents WHERE doc_id % 3 <> 0),
        | cor AS (SELECT * FROM documents WHERE doc_id % 3 = 0),
        | ig AS (SELECT doc_id,
        |          list_distinct([substr(text, i, 3) FOR i IN range(1, len(text) - 1)]) AS gs
        |        FROM inc),
        | cg AS (SELECT doc_id,
        |          list_distinct([substr(text, i, 3) FOR i IN range(1, len(text) - 1)]) AS gs
        |        FROM cor),
        | hit AS (SELECT DISTINCT a.doc_id FROM ig a, cg b
        |         WHERE CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
        |               / (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs))) >= 0.8),
        | cl AS (SELECT * FROM ig WHERE doc_id NOT IN (SELECT doc_id FROM hit)),
        | pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM cl a, cl b
        |           WHERE a.doc_id < b.doc_id
        |             AND CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
        |                 / (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs))) >= 0.8),
        | edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |           UNION ALL SELECT id_b, id_a FROM pairs),
        | walk(id, lbl) AS (
        |   SELECT doc_id, doc_id FROM cl
        |   UNION
        |   SELECT e.dst, w.lbl FROM walk w JOIN edges e ON e.src = w.id),
        | keep AS (SELECT id FROM walk GROUP BY id HAVING min(lbl) = id)
        |SELECT inc.* FROM inc JOIN keep ON inc.doc_id = keep.id""".stripMargin,
    // docs whose connected-component minimum is themselves (the recursive
    // walk is the dedup_cluster oracle's)
    "dedup_corpus" ->
      s"""WITH RECURSIVE
         | u AS ($docsWithDupsSql),
         | pairs AS ($ngramJaccardOracleSql),
         | edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |           UNION ALL SELECT id_b, id_a FROM pairs),
         | walk(id, lbl) AS (
         |   SELECT doc_id, doc_id FROM u
         |   UNION
         |   SELECT e.dst, w.lbl FROM walk w JOIN edges e ON e.src = w.id),
         | keep AS (SELECT id FROM walk GROUP BY id HAVING min(lbl) = id)
         |SELECT u.* FROM u JOIN keep ON u.doc_id = keep.id""".stripMargin,
    // Same component walk; the survivor is the member with the max score
    // (doc_id % 7 here), ties → min id.
    "dedup_corpus_best" ->
      s"""WITH RECURSIVE
         | u AS ($docsWithDupsSql),
         | pairs AS ($ngramJaccardOracleSql),
         | edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |           UNION ALL SELECT id_b, id_a FROM pairs),
         | walk(id, lbl) AS (
         |   SELECT doc_id, doc_id FROM u
         |   UNION
         |   SELECT e.dst, w.lbl FROM walk w JOIN edges e ON e.src = w.id),
         | lbl AS (SELECT id AS doc_id, min(lbl) AS cluster_id FROM walk GROUP BY id),
         | keep AS (SELECT doc_id FROM (
         |     SELECT doc_id,
         |            row_number() OVER (PARTITION BY cluster_id
         |                               ORDER BY CAST(doc_id % 7 AS DOUBLE) DESC, doc_id) AS rn
         |     FROM lbl) WHERE rn = 1)
         |SELECT u.* FROM u JOIN keep ON u.doc_id = keep.doc_id""".stripMargin,
    "asof_join" ->
      """SELECT l.event_id, l.user_id, l.ts, l.value,
        |       r.ts AS ts_view, r.value AS value_view
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') l
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin,
    "asof_join_salted" ->
      """SELECT l.event_id, l.user_id, l.ts, l.value,
        |       r.ts AS ts_view, r.value AS value_view
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') l
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin,
    "range_join" ->
      """WITH w AS (SELECT event_type, date_trunc('hour', ts) AS h,
        |                  min(ts) AS w_start, max(ts) AS w_end,
        |                  count(*) AS n_in_window
        |           FROM events GROUP BY 1, 2)
        |SELECT e.event_id, e.event_type, e.ts, w.w_start, w.w_end, w.n_in_window
        |FROM events e
        |JOIN w ON e.event_type = w.event_type
        |      AND e.ts >= w.w_start AND e.ts <= w.w_end""".stripMargin,
    "events_sessionize" ->
      """WITH p AS (SELECT event_id, user_id, ts,
        |             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |           FROM events)
        |SELECT event_id, user_id, ts,
        |       CAST(sum(CASE WHEN prev IS NULL
        |                  OR epoch_us(ts) - epoch_us(prev) > 1800000000 THEN 1
        |                ELSE 0 END)
        |         OVER (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |FROM p""".stripMargin,
    "events_sessionize_salted" ->
      """WITH p AS (SELECT event_id, user_id, ts,
        |             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |           FROM events)
        |SELECT event_id, user_id, ts,
        |       CAST(sum(CASE WHEN prev IS NULL
        |                  OR epoch_us(ts) - epoch_us(prev) > 1800000000 THEN 1
        |                ELSE 0 END)
        |         OVER (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |FROM p""".stripMargin,
    "events_rolling" ->
      """SELECT event_id, user_id, ts,
        |       CAST(round(value * 100) AS BIGINT) AS cents,
        |       count(*) OVER w1 AS n_1h,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w1 AS BIGINT) AS sum_1h,
        |       count(*) OVER w2 AS n_1d,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w2 AS BIGINT) AS sum_1d
        |FROM events
        |WINDOW w1 AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |              RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW),
        |       w2 AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |              RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)""".stripMargin,
    // salted path is row-identical to the plain one — same replay
    "events_rolling_salted" ->
      """SELECT event_id, user_id, ts,
        |       CAST(round(value * 100) AS BIGINT) AS cents,
        |       count(*) OVER w1 AS n_1h,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w1 AS BIGINT) AS sum_1h,
        |       count(*) OVER w2 AS n_1d,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w2 AS BIGINT) AS sum_1d
        |FROM events
        |WINDOW w1 AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |              RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW),
        |       w2 AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |              RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)""".stripMargin,
    "cat_mean_loo" ->
      """WITH b AS (SELECT l_orderkey, l_linenumber, l_returnflag,
        |             CASE WHEN l_orderkey % 7 = 0 THEN NULL
        |                  ELSE CAST(l_quantity AS BIGINT) END AS qty
        |           FROM lineitem),
        |     s AS (SELECT *,
        |             sum(qty) OVER (PARTITION BY l_returnflag) AS sq,
        |             count(qty) OVER (PARTITION BY l_returnflag) AS nq
        |           FROM b)
        |SELECT l_orderkey, l_linenumber, l_returnflag, qty,
        |       CASE WHEN qty IS NULL THEN
        |              CASE WHEN nq > 0 THEN CAST(sq AS DOUBLE) / CAST(nq AS DOUBLE) END
        |            WHEN nq > 1 THEN CAST(sq - qty AS DOUBLE) / CAST(nq - 1 AS DOUBLE)
        |            END AS qty_loo
        |FROM s""".stripMargin,
    "sample_hash" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE (((doc_id % 2147483647) * 48271 % 2147483647) * 48271 % 2147483647) % 100 < 20""".stripMargin,
    "sample_split" ->
      """SELECT doc_id,
        |       CASE WHEN (((doc_id % 2147483647) * 48271 % 2147483647) * 48271 % 2147483647) % 100 < 80
        |            THEN 'train' ELSE 'test' END AS split
        |FROM documents""".stripMargin,
    "sample_balance_lang" ->
      """WITH n AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY 1),
        |     m AS (SELECT min(cnt) AS mn FROM n),
        |     t AS (SELECT lang, (mn * 1000000) // cnt AS thr FROM n CROSS JOIN m)
        |SELECT d.doc_id, d.lang FROM documents d JOIN t USING (lang)
        |WHERE (((d.doc_id % 2147483647) * 48271 % 2147483647) * 48271 % 2147483647) % 1000000 < thr""".stripMargin,
    "sample_mix_sources" ->
      """WITH w AS (SELECT * FROM (VALUES ('src0', 5), ('src1', 2), ('src2', 1)) AS v(source, wt)),
        |     n AS (SELECT source, count(*) AS cnt FROM documents GROUP BY 1),
        |     k AS (SELECT min(cnt // wt) AS k FROM n JOIN w USING (source)),
        |     t AS (SELECT source, (wt * k * 1000000) // cnt AS thr
        |           FROM n JOIN w USING (source) CROSS JOIN k)
        |SELECT d.doc_id, d.source FROM documents d JOIN t USING (source)
        |WHERE (((d.doc_id % 2147483647) * 48271 % 2147483647) * 48271 % 2147483647) % 1000000 < thr""".stripMargin,
    "pack_sequences" ->
      """WITH t AS (SELECT doc_id,
        |             CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS INTEGER) AS n_tokens
        |           FROM documents),
        |     h AS (SELECT doc_id, n_tokens,
        |             (((doc_id % 2147483647) * 48271 % 2147483647) * 48271 % 2147483647) AS hh
        |           FROM t WHERE n_tokens > 0),
        |     c AS (SELECT doc_id, n_tokens, hh % 8 AS bucket,
        |             CAST(sum(n_tokens) OVER (PARTITION BY hh % 8 ORDER BY hh, doc_id
        |                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |           FROM h)
        |SELECT doc_id, n_tokens, bucket, (cum - 1) // 512 AS bin,
        |       cum - n_tokens AS start_offset
        |FROM c""".stripMargin,
    // Same pack replay with the text carried through, aggregated per bin:
    // string_agg in start_offset order is exactly the pack order.
    "pack_sequences_text" ->
      """WITH t AS (SELECT doc_id, text,
        |             CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS INTEGER) AS n_tokens
        |           FROM documents),
        |     h AS (SELECT doc_id, text, n_tokens,
        |             (((doc_id % 2147483647) * 48271 % 2147483647) * 48271 % 2147483647) AS hh
        |           FROM t WHERE n_tokens > 0),
        |     c AS (SELECT doc_id, text, n_tokens, hh % 8 AS bucket,
        |             CAST(sum(n_tokens) OVER (PARTITION BY hh % 8 ORDER BY hh, doc_id
        |                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |           FROM h),
        |     p AS (SELECT bucket, (cum - 1) // 512 AS bin, text, n_tokens,
        |             cum - n_tokens AS start_offset
        |           FROM c)
        |SELECT bucket, bin,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |       string_agg(text, ' ' ORDER BY start_offset) AS seq_text
        |FROM p GROUP BY 1, 2""".stripMargin,
    "sample_token_budget" ->
      """WITH t AS (SELECT doc_id,
        |             CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS INTEGER) AS n_tokens
        |           FROM documents),
        |     h AS (SELECT doc_id, n_tokens,
        |             (((doc_id % 2147483647) * 48271 % 2147483647) * 48271 % 2147483647) AS hh
        |           FROM t WHERE n_tokens > 0),
        |     c AS (SELECT doc_id, n_tokens, hh % 8 AS bkt,
        |             CAST(sum(n_tokens) OVER (PARTITION BY hh % 8 ORDER BY hh, doc_id
        |                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |           FROM h),
        |     tot AS (SELECT bkt, CAST(sum(n_tokens) AS BIGINT) AS tot
        |             FROM h, LATERAL (SELECT hh % 8 AS bkt) GROUP BY bkt),
        |     off AS (SELECT bkt,
        |               CAST(COALESCE(sum(tot) OVER (ORDER BY bkt
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
        |             FROM tot)
        |SELECT c.doc_id, c.n_tokens
        |FROM c JOIN off USING (bkt)
        |WHERE off.off + c.cum <= 3000""".stripMargin,
    // the sample_token_budget replay with lang joined into every
    // partition key and a per-group budget table
    "sample_token_budget_group" ->
      """WITH t AS (SELECT doc_id, lang,
        |             CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS INTEGER) AS n_tokens
        |           FROM documents),
        |     h AS (SELECT doc_id, lang, n_tokens,
        |             (((doc_id % 2147483647) * 48271 % 2147483647) * 48271 % 2147483647) AS hh
        |           FROM t WHERE n_tokens > 0 AND lang IN ('en', 'zh')),
        |     c AS (SELECT doc_id, lang, n_tokens, hh % 8 AS bkt,
        |             CAST(sum(n_tokens) OVER (PARTITION BY lang, hh % 8 ORDER BY hh, doc_id
        |                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |           FROM h),
        |     tot AS (SELECT lang, hh % 8 AS bkt, CAST(sum(n_tokens) AS BIGINT) AS tot
        |             FROM h GROUP BY 1, 2),
        |     off AS (SELECT lang, bkt,
        |               CAST(COALESCE(sum(tot) OVER (PARTITION BY lang ORDER BY bkt
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
        |             FROM tot),
        |     bud AS (SELECT 'en' AS lang, 2000 AS b UNION ALL SELECT 'zh', 800)
        |SELECT c.doc_id, c.lang, c.n_tokens
        |FROM c JOIN off USING (lang, bkt) JOIN bud USING (lang)
        |WHERE off.off + c.cum <= bud.b""".stripMargin,
    "sample_split_grouped" ->
      """WITH d AS (SELECT doc_id, md5(text) AS ckey FROM documents),
        |     r AS (SELECT ckey, min(doc_id) AS rep FROM d GROUP BY 1)
        |SELECT d.doc_id, d.ckey,
        |       CASE WHEN (((rep % 2147483647) * 48271 % 2147483647) * 48271 % 2147483647) % 100 < 80
        |            THEN 'train' ELSE 'test' END AS split
        |FROM d JOIN r ON d.ckey IS NOT DISTINCT FROM r.ckey""".stripMargin,
    "sample_top_fraction" ->
      """SELECT doc_id, n_chars FROM documents
        |WHERE n_chars >= (SELECT quantile_cont(n_chars, 0.7) FROM documents)""".stripMargin,
    // Epoch replication replay: whole copies + the minstd fractional-epoch
    // threshold (zh: 2+½, fr: 0+½, en: 1+0, absent langs default 1).
    "sample_upsample" ->
      """WITH t AS (SELECT * FROM (VALUES ('zh', 2, 500000), ('fr', 0, 500000), ('en', 1, 0))
        |             AS v(lang, whole, thr)),
        |     c AS (SELECT d.doc_id, d.lang,
        |             COALESCE(t.whole, 1)
        |               + CASE WHEN (((d.doc_id % 2147483647) * 48271 % 2147483647) * 48271 % 2147483647)
        |                           % 1000000 < COALESCE(t.thr, 0) THEN 1 ELSE 0 END AS copies
        |           FROM documents d LEFT JOIN t USING (lang))
        |SELECT doc_id, lang, CAST(epoch AS INTEGER) AS epoch FROM (
        |  SELECT doc_id, lang, unnest(range(copies)) AS epoch FROM c)""".stripMargin,
    // mixGroups' threshold replay with the weight table read from the
    // temperature dump (the pow stays driver-side, by design).
    "sample_mix_temperature" ->
      """WITH w AS (SELECT grp AS lang, wt
        |           FROM read_parquet('{GRAFT_OUT}/sample_mix_temp_weights/*.parquet')),
        |     n AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY 1),
        |     k AS (SELECT min(cnt // wt) AS k FROM n JOIN w USING (lang)),
        |     t AS (SELECT lang, (wt * k * 1000000) // cnt AS thr
        |           FROM n JOIN w USING (lang) CROSS JOIN k)
        |SELECT d.doc_id, d.lang FROM documents d JOIN t USING (lang)
        |WHERE (((d.doc_id % 2147483647) * 48271 % 2147483647) * 48271 % 2147483647) % 1000000 < thr""".stripMargin,
    "sample_interleave" ->
      """WITH w AS (SELECT * FROM (VALUES ('src0', 5, 0), ('src1', 2, 5), ('src2', 1, 7)) AS v(source, wt, cyc_off)),
        |     h AS (SELECT doc_id, source,
        |             (((doc_id % 2147483647) * 48271 % 2147483647) * 48271 % 2147483647) AS hh
        |           FROM documents),
        |     r AS (SELECT doc_id, h.source, wt, cyc_off,
        |             row_number() OVER (PARTITION BY h.source ORDER BY hh % 64, hh, doc_id) - 1 AS k
        |           FROM h JOIN w USING (source))
        |SELECT doc_id, source,
        |       CAST((k // wt) * 8 + cyc_off + (k % wt) AS BIGINT) AS order_key
        |FROM r""".stripMargin,
    "sample_dsir_weights" ->
      s"""WITH $dsirWeightsCte
         |SELECT gram, weight FROM w""".stripMargin,
    "sample_dsir_score" ->
      s"""WITH $dsirScoredCte
         |SELECT doc_id, dsir_score FROM scored""".stripMargin,
    // Gumbel key = score + round(-ln(-ln(u)), 9) with u from the minstd
    // hash: (h+1)/2^31 ∈ (0,1) exactly as Dsir.dsirResample computes it.
    // Document-level semantics like the op: rank DISTINCT non-NULL ids
    // (score and key are id-functional), keep every row of a selected id.
    "sample_dsir" ->
      s"""WITH $dsirScoredCte,
         |k AS (SELECT DISTINCT doc_id,
         |        dsir_score + round(-ln(-ln(
         |          ((((doc_id % 2147483647) * 48271 % 2147483647) * 48271 % 2147483647) + 1)
         |            / 2147483648.0)), 9) AS kk
         |      FROM scored WHERE doc_id IS NOT NULL),
         |sel AS (SELECT doc_id FROM k ORDER BY kk DESC, doc_id ASC LIMIT 100)
         |SELECT doc_id, dsir_score FROM scored
         |WHERE doc_id IN (SELECT doc_id FROM sel)""".stripMargin,
    "text_classifier_score" ->
      s"""WITH $clfScoredCte
         |SELECT doc_id, clf_score FROM cscored""".stripMargin,
    "text_classifier_filter" ->
      s"""WITH $clfScoredCte
         |SELECT doc_id, clf_score FROM cscored WHERE clf_score >= 0.0""".stripMargin,
    "text_lm_score" ->
      s"""WITH $lmScoredCte
         |SELECT doc_id, lm_score FROM lscored""".stripMargin,
    "text_lm_filter" ->
      s"""WITH $lmScoredCte
         |SELECT doc_id, lm_score FROM lscored WHERE lm_score <= 3.42""".stripMargin,
    "sink_shards" ->
      """WITH h AS (SELECT doc_id,
        |             (((doc_id % 2147483647) * 48271 % 2147483647) * 48271 % 2147483647) AS hh
        |           FROM documents)
        |SELECT doc_id, hh % 16 AS shard,
        |       CAST(row_number() OVER (PARTITION BY hh % 16 ORDER BY hh, doc_id) - 1 AS BIGINT) AS shard_pos
        |FROM h""".stripMargin,
    // The fixture is a faithful WARC encoding of the documents table, so
    // the parsed records replay as a pure projection of it (octet_length
    // over the UTF-8 blob = the record's exact Content-Length).
    "warc_extract" ->
      s"""SELECT '<urn:graft:doc-' || doc_id || '>' AS record_id,
         |       $synthUrlSql AS target_uri,
         |       CAST(octet_length(encode(text)) AS BIGINT) AS content_length,
         |       text AS payload
         |FROM documents""".stripMargin,
    // The export round trip replayed: same shape, the exp- record ids
    // and the pinned export date — content_length must equal the body's
    // UTF-8 byte count (the writer computes it from the payload).
    "sink_wet_export" ->
      s"""SELECT '<urn:graft:exp-' || doc_id || '>' AS record_id,
         |       $synthUrlSql AS target_uri,
         |       CAST(octet_length(encode(text)) AS BIGINT) AS content_length,
         |       text AS payload
         |FROM documents""".stripMargin,
    // Same replay for the compressed export — every record must come
    // back intact through its own gzip member's (offset, length).
    "sink_wet_export_zst" ->
      s"""SELECT '<urn:graft:zst-' || doc_id || '>' AS record_id,
         |       $synthUrlSql AS target_uri,
         |       CAST(octet_length(encode(text)) AS BIGINT) AS content_length,
         |       text AS payload
         |FROM documents""".stripMargin,
    "sink_wet_export_gz" ->
      s"""SELECT '<urn:graft:gz-' || doc_id || '>' AS record_id,
         |       $synthUrlSql AS target_uri,
         |       CAST(octet_length(encode(text)) AS BIGINT) AS content_length,
         |       text AS payload
         |FROM documents""".stripMargin,
    // sink_shards with the seed-7 epochHash: the hashed seed becomes a
    // multiplier in [1, M-1] applied between the two MINSTD rounds (an
    // additive fold would be an affine shift — a shard relabeling, not a
    // re-permutation) — all exact integer arithmetic, one product < 2^62.
    "sink_shuffled_shards" ->
      """WITH s AS (SELECT ((CAST(7 AS BIGINT) * 48271 % 2147483647) * 48271 % 2147483647)
        |                    % 2147483646 + 1 AS mult),
        |     h0 AS (SELECT doc_id,
        |              ((doc_id % 2147483647) * 48271 % 2147483647) * 48271 % 2147483647 AS hi
        |            FROM documents),
        |     h AS (SELECT doc_id,
        |             (((hi * mult % 2147483647)
        |               * 48271 % 2147483647) * 48271 % 2147483647) AS hh
        |           FROM h0 CROSS JOIN s)
        |SELECT doc_id, hh % 16 AS shard,
        |       CAST(row_number() OVER (PARTITION BY hh % 16 ORDER BY hh, doc_id) - 1 AS BIGINT) AS shard_pos
        |FROM h""".stripMargin,
    "sink_manifest_diff" ->
      """WITH prevh AS (SELECT lang, source,
        |                 CAST(concat('0x', substr(md5(coalesce(text, '')), 1, 15))
        |                      AS BIGINT) AS ch
        |               FROM documents),
        |     prev AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS pn,
        |                     bit_xor(ch) AS ph
        |              FROM prevh GROUP BY 1, 2),
        |     cur0 AS (SELECT lang, source,
        |                     CASE WHEN lang = 'de' THEN text || ' v2' ELSE text END AS text
        |              FROM documents WHERE lang <> 'fr'
        |              UNION ALL
        |              SELECT lang, 'srcNEW' AS source, text
        |              FROM documents WHERE lang = 'en' AND doc_id % 7 = 0),
        |     curh AS (SELECT lang, source,
        |                 CAST(concat('0x', substr(md5(coalesce(text, '')), 1, 15))
        |                      AS BIGINT) AS ch
        |              FROM cur0),
        |     cur AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS cn,
        |                    bit_xor(ch) AS cc
        |             FROM curh GROUP BY 1, 2),
        |     j AS (SELECT COALESCE(prev.lang, cur.lang) AS lang,
        |                  COALESCE(prev.source, cur.source) AS source,
        |                  pn, ph, cn, cc,
        |                  CASE WHEN prev.lang IS NULL THEN 'added'
        |                       WHEN cur.lang IS NULL THEN 'removed'
        |                       WHEN pn <> cn OR ph <> cc THEN 'changed' END AS status
        |           FROM prev FULL OUTER JOIN cur
        |             ON prev.lang = cur.lang AND prev.source = cur.source)
        |SELECT lang, source, status, pn AS prev_rows, cn AS curr_rows
        |FROM j WHERE status IS NOT NULL""".stripMargin,
    // Curriculum layout replay: the 15 coarse quantile boundaries (exact
    // binary fractions over integer-valued scores → bit-exact doubles),
    // shard = #{boundaries ≤ score} (ties go up), rank within shard by
    // (score, doc_id). The Scala side's 128-fine-bucket two-level rank
    // reduces to exactly this window.
    "sink_curriculum_shards" ->
      """WITH s AS (SELECT doc_id, CAST(n_chars AS DOUBLE) AS score FROM documents),
        |     b AS (SELECT quantile_cont(score,
        |             [x / 16.0 FOR x IN range(1, 16)]) AS bl FROM s),
        |     a AS (SELECT doc_id, score,
        |             CAST(len(list_filter(bl, x -> score >= x)) AS BIGINT) AS shard
        |           FROM s, b)
        |SELECT doc_id, score, shard,
        |       CAST(row_number() OVER (PARTITION BY shard ORDER BY score, doc_id) - 1
        |            AS BIGINT) AS shard_pos
        |FROM a""".stripMargin,
    // sample_token_budget's running-sum replay, plus the shard arithmetic:
    // shard = tokens-before DIV 2000, shard_tok_pos = the remainder
    "sink_token_shards" ->
      """WITH t AS (SELECT doc_id,
        |             CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS INTEGER) AS n_tokens
        |           FROM documents),
        |     h AS (SELECT doc_id, n_tokens,
        |             (((doc_id % 2147483647) * 48271 % 2147483647) * 48271 % 2147483647) AS hh
        |           FROM t WHERE n_tokens > 0),
        |     c AS (SELECT doc_id, n_tokens, hh % 8 AS bkt,
        |             CAST(sum(n_tokens) OVER (PARTITION BY hh % 8 ORDER BY hh, doc_id
        |                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |           FROM h),
        |     tot AS (SELECT bkt, CAST(sum(n_tokens) AS BIGINT) AS tot
        |             FROM h, LATERAL (SELECT hh % 8 AS bkt) GROUP BY bkt),
        |     off AS (SELECT bkt,
        |               CAST(COALESCE(sum(tot) OVER (ORDER BY bkt
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
        |             FROM tot),
        |     b AS (SELECT c.doc_id, c.n_tokens,
        |             off.off + c.cum - c.n_tokens AS before
        |           FROM c JOIN off USING (bkt))
        |SELECT doc_id, n_tokens,
        |       CAST(before // 2000 AS BIGINT) AS shard,
        |       CAST(before % 2000 AS BIGINT) AS shard_tok_pos
        |FROM b""".stripMargin,
    // Order-free checksum replay: same md5 15-hex-digit prefix (60 bits,
    // signed-safe), same multiset + distinct XOR combines — commutativity
    // is what makes the two engines agree without agreeing on row order.
    // coalesce(text, '') mirrors Spark's concat_ws NULL-skip (DuckDB
    // md5(NULL) is NULL and '0x' alone would not cast).
    "sink_manifest" ->
      """WITH h AS (SELECT lang, source, n_chars,
        |             CAST(concat('0x', substr(md5(coalesce(text, '')), 1, 15))
        |                  AS BIGINT) AS ch
        |           FROM documents)
        |SELECT lang, source,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(n_chars) AS BIGINT) AS n_tokens,
        |       bit_xor(ch) AS content_hash,
        |       bit_xor(DISTINCT ch) AS distinct_hash
        |FROM h GROUP BY 1, 2""".stripMargin,
    // The verified chunk replay feeding the verified pack replay.
    "text_chunk_pack" ->
      """WITH t AS (SELECT doc_id,
        |             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
        |           FROM documents),
        |     c AS (SELECT doc_id, toks, len(toks) AS n,
        |             CASE WHEN len(toks) <= 0 THEN 0
        |                  WHEN len(toks) <= 40 THEN 1
        |                  ELSE (len(toks) - 40 + 31) // 32 + 1 END AS nc
        |           FROM t),
        |     x AS (SELECT doc_id, n, unnest(range(nc)) AS i FROM c),
        |     ch AS (SELECT doc_id * 1000000 + i AS cid,
        |              CAST(least(40, n - i*32) AS INTEGER) AS chunk_tokens
        |            FROM x),
        |     h AS (SELECT cid, chunk_tokens,
        |             (((cid % 2147483647) * 48271 % 2147483647) * 48271 % 2147483647) AS hh
        |           FROM ch WHERE chunk_tokens > 0),
        |     p AS (SELECT cid, chunk_tokens, hh % 8 AS bucket,
        |             CAST(sum(chunk_tokens) OVER (PARTITION BY hh % 8 ORDER BY hh, cid
        |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |           FROM h)
        |SELECT cid, chunk_tokens, bucket, (cum - 1) // 256 AS bin,
        |       cum - chunk_tokens AS start_offset
        |FROM p""".stripMargin,
    "dedup_ngram_overlap" ->
      """WITH t AS (SELECT doc_id,
        |             list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
        |           FROM documents),
        |     g AS (SELECT doc_id,
        |             unnest(list_distinct([array_to_string(toks[i:i+4], ' ')
        |                                   FOR i IN range(1, len(toks) - 3)])) AS gram
        |           FROM t WHERE len(toks) >= 5),
        |     b AS (SELECT DISTINCT gram FROM g WHERE doc_id % 3 = 0),
        |     c AS (SELECT doc_id, gram FROM g WHERE doc_id % 3 <> 0)
        |SELECT doc_id, count(*) AS n_shared
        |FROM c JOIN b USING (gram)
        |GROUP BY doc_id""".stripMargin,
    // the persisted-index path must reproduce the direct path exactly
    "dedup_contamination_model" ->
      """WITH t AS (SELECT doc_id,
        |             list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
        |           FROM documents),
        |     g AS (SELECT doc_id,
        |             unnest(list_distinct([array_to_string(toks[i:i+4], ' ')
        |                                   FOR i IN range(1, len(toks) - 3)])) AS gram
        |           FROM t WHERE len(toks) >= 5),
        |     b AS (SELECT DISTINCT gram FROM g WHERE doc_id % 3 = 0),
        |     c AS (SELECT doc_id, gram FROM g WHERE doc_id % 3 <> 0)
        |SELECT doc_id, count(*) AS n_shared
        |FROM c JOIN b USING (gram)
        |GROUP BY doc_id""".stripMargin,
    "sample_stratified" ->
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang,
        |         row_number() OVER (PARTITION BY lang ORDER BY
        |           ((doc_id % 2147483647) * 48271 % 2147483647) * 48271 % 2147483647,
        |           doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 10""".stripMargin,
    "text_topk_per_lang" ->
      """SELECT doc_id, lang, n_chars FROM (
        |  SELECT doc_id, lang, n_chars,
        |         row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 5""".stripMargin,
    // String-level replay of the seen-key probe: incoming rows whose URL
    // never appears among the corpus third's URLs (bloom false positives
    // must be invisible — the exact verify join guarantees it).
    "dedup_key_seen" ->
      s"""WITH cor AS (SELECT DISTINCT $synthUrlSql AS key
         |             FROM documents WHERE doc_id % 3 = 0),
         |     inc AS (SELECT doc_id, $synthUrlSql AS url
         |             FROM documents WHERE doc_id % 3 <> 0)
         |SELECT inc.doc_id, inc.url
         |FROM inc LEFT JOIN cor ON inc.url = cor.key
         |WHERE cor.key IS NULL""".stripMargin,
    // Category-PSI replay: both drops' share tables, eps-clamped shares,
    // rounded terms (+ 0.0 folds −0.0, the cat_woe convention).
    "corpus_drift_psi" ->
      """WITH r AS (SELECT source, count(*) AS n_ref FROM documents
        |           WHERE doc_id % 3 = 0 GROUP BY 1),
        |     c AS (SELECT source, count(*) AS n_cur FROM documents
        |           WHERE doc_id % 3 <> 0 AND source <> 'src0' GROUP BY 1),
        |     j AS (SELECT COALESCE(r.source, c.source) AS source,
        |                  COALESCE(n_ref, 0) AS n_ref, COALESCE(n_cur, 0) AS n_cur
        |           FROM r FULL OUTER JOIN c ON r.source IS NOT DISTINCT FROM c.source),
        |     p AS (SELECT source, n_ref, n_cur,
        |             greatest(CAST(n_ref AS DOUBLE) / (SELECT CAST(sum(n_ref) AS DOUBLE) FROM j),
        |                      0.0001) AS rp,
        |             greatest(CAST(n_cur AS DOUBLE) / (SELECT CAST(sum(n_cur) AS DOUBLE) FROM j),
        |                      0.0001) AS cp
        |           FROM j)
        |SELECT source, CAST(n_ref AS BIGINT) AS n_ref, CAST(n_cur AS BIGINT) AS n_cur,
        |       round(rp, 9) AS ref_pct, round(cp, 9) AS cur_pct,
        |       round((rp - cp) * ln(rp / cp), 9) + 0.0 AS psi_term
        |FROM p""".stripMargin,
    // full-outer id join over the same deterministic "new drop"
    // construction; md5 fingerprints compare NULL-safely
    "corpus_diff" ->
      """WITH o AS (SELECT doc_id, md5(text) AS fp FROM documents),
        |     c AS (SELECT doc_id, md5(CASE WHEN doc_id % 10 = 2
        |                                   THEN text || ' v2' ELSE text END) AS fp
        |           FROM documents WHERE doc_id % 10 <> 1
        |           UNION ALL
        |           SELECT doc_id + 10000, md5(text) FROM documents WHERE doc_id % 10 = 3),
        |     j AS (SELECT o.doc_id AS ido, c.doc_id AS idc, o.fp AS fpo, c.fp AS fpc
        |           FROM o FULL OUTER JOIN c ON o.doc_id = c.doc_id)
        |SELECT COALESCE(ido, idc) AS id,
        |       CASE WHEN idc IS NULL THEN 'removed'
        |            WHEN ido IS NULL THEN 'added'
        |            WHEN fpo IS DISTINCT FROM fpc THEN 'changed'
        |            ELSE 'unchanged' END AS status
        |FROM j
        |WHERE NOT (idc IS NOT NULL AND ido IS NOT NULL AND fpo IS NOT DISTINCT FROM fpc)""".stripMargin,
    // one aggregate per rule over the corpus, stacked as report rows
    "corpus_expectations" ->
      """WITH a AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |             CAST(sum(CASE WHEN length(text) > 0 THEN 0 ELSE 1 END) AS BIGINT) AS v1,
        |             CAST(sum(CASE WHEN lang IN ('en','zh','es','de','fr') THEN 0 ELSE 1 END) AS BIGINT) AS v2,
        |             CAST(sum(CASE WHEN n_chars >= 200 THEN 0 ELSE 1 END) AS BIGINT) AS v3,
        |             CAST(count(*) - count(DISTINCT doc_id) AS BIGINT) AS v4
        |           FROM documents)
        |SELECT 'nonempty_text' AS rule, n AS n_rows, v1 AS n_violations, v1 = 0 AS pass FROM a
        |UNION ALL SELECT 'known_lang', n, v2, v2 = 0 FROM a
        |UNION ALL SELECT 'long_text', n, v3, v3 = 0 FROM a
        |UNION ALL SELECT 'unique(doc_id)', n, v4, v4 = 0 FROM a""".stripMargin,
    // Verifies the chunk-collision candidate generation + exact Hamming
    // filter over the Spark-exported signature table (dumped by the
    // dedup_simhash_sig query; {GRAFT_OUT} is substituted with the dump
    // directory by Verify). The signature math itself is unit-tested — this
    // oracle checks the pair logic end to end.
    "dedup_simhash" ->
      """WITH s AS (SELECT id, sh
        |           FROM read_parquet('{GRAFT_OUT}/dedup_simhash_sig/*.parquet'))
        |SELECT id_a, id_b, hamming FROM (
        |  SELECT a.id AS id_a, b.id AS id_b,
        |         CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
        |  FROM s a JOIN s b ON a.id < b.id
        |  WHERE ((a.sh >> 0)  & 65535) = ((b.sh >> 0)  & 65535)
        |     OR ((a.sh >> 16) & 65535) = ((b.sh >> 16) & 65535)
        |     OR ((a.sh >> 32) & 65535) = ((b.sh >> 32) & 65535)
        |     OR ((a.sh >> 48) & 65535) = ((b.sh >> 48) & 65535))
        |WHERE hamming <= 3""".stripMargin,
    "text_token_count" ->
      """SELECT doc_id,
        |       CAST(len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS INTEGER) AS n_tokens,
        |       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INTEGER) AS n_regex_tokens
        |FROM documents""".stripMargin,
    "text_quality" ->
      """WITH t AS (SELECT doc_id, text,
        |             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
        |           FROM documents)
        |SELECT doc_id,
        |       CAST(len(text) AS INTEGER) AS n_chars,
        |       CAST(len(toks) AS INTEGER) AS n_tokens,
        |       CASE WHEN len(toks) > 0
        |            THEN CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE)
        |                 / CAST(len(toks) AS DOUBLE)
        |            ELSE 0.0 END AS avg_token_len,
        |       CASE WHEN len(text) > 0
        |            THEN CAST(len(regexp_extract_all(text, '[!-/:-@\[-`{-~]')) AS DOUBLE)
        |                 / CAST(len(text) AS DOUBLE)
        |            ELSE 0.0 END AS punct_ratio,
        |       CASE WHEN len(toks) > 0
        |            THEN CAST(len(list_filter(toks,
        |                   x -> x IN ('the','a','an','and','of','is','to','in'))) AS DOUBLE)
        |                 / CAST(len(toks) AS DOUBLE)
        |            ELSE 0.0 END AS stopword_ratio
        |FROM t""".stripMargin,
    // Gopher-rule features replayed with DuckDB list lambdas — same
    // tokenization, same non-blank-line rule, same exact-integer divisions.
    "text_gopher" ->
      """WITH t AS (SELECT doc_id,
        |             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks,
        |             list_filter(string_split(text, chr(10)), x -> trim(x) <> '') AS lns,
        |             text
        |           FROM documents)
        |SELECT doc_id,
        |       CAST(len(toks) AS INTEGER) AS n_words,
        |       CASE WHEN len(toks) > 0
        |            THEN CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE)
        |                 / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS mean_word_len,
        |       CASE WHEN len(toks) > 0
        |            THEN CAST(len(regexp_extract_all(text, '#')) AS DOUBLE)
        |                 / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS hash_word_ratio,
        |       CASE WHEN len(toks) > 0
        |            THEN CAST(len(regexp_extract_all(text, '\.\.\.|…')) AS DOUBLE)
        |                 / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS ellipsis_word_ratio,
        |       CASE WHEN len(lns) > 0
        |            THEN CAST(len(list_filter(lns,
        |                   x -> regexp_matches(x, '^\s*[-*•‣▶]'))) AS DOUBLE)
        |                 / CAST(len(lns) AS DOUBLE) ELSE 0.0 END AS bullet_line_frac,
        |       CASE WHEN len(lns) > 0
        |            THEN CAST(len(list_filter(lns,
        |                   x -> regexp_matches(x, '(\.\.\.|…)\s*$'))) AS DOUBLE)
        |                 / CAST(len(lns) AS DOUBLE) ELSE 0.0 END AS ellipsis_line_frac,
        |       CASE WHEN len(toks) > 0
        |            THEN CAST(len(list_filter(toks,
        |                   x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
        |                 / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS alpha_word_frac,
        |       CAST((CASE WHEN list_contains(toks, 'the') THEN 1 ELSE 0 END)
        |          + (CASE WHEN list_contains(toks, 'be') THEN 1 ELSE 0 END)
        |          + (CASE WHEN list_contains(toks, 'to') THEN 1 ELSE 0 END)
        |          + (CASE WHEN list_contains(toks, 'of') THEN 1 ELSE 0 END)
        |          + (CASE WHEN list_contains(toks, 'and') THEN 1 ELSE 0 END)
        |          + (CASE WHEN list_contains(toks, 'that') THEN 1 ELSE 0 END)
        |          + (CASE WHEN list_contains(toks, 'have') THEN 1 ELSE 0 END)
        |          + (CASE WHEN list_contains(toks, 'with') THEN 1 ELSE 0 END)
        |          AS INTEGER) AS stop_hits
        |FROM t""".stripMargin,
    // The filter replays the kept-set predicate over the same features
    // (single-line 10-99-word corpus: the word-count, mean-length, symbol,
    // alpha, and stopword rules are the live ones)
    "text_gopher_filter" ->
      """WITH t AS (SELECT doc_id,
        |             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks,
        |             list_filter(string_split(text, chr(10)), x -> trim(x) <> '') AS lns,
        |             text
        |           FROM documents)
        |SELECT doc_id FROM t
        |WHERE len(toks) >= 20 AND len(toks) <= 100000
        |  AND len(toks) > 0
        |  AND CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE)
        |      / CAST(len(toks) AS DOUBLE) BETWEEN 3.0 AND 10.0
        |  AND CAST(len(regexp_extract_all(text, '#')) AS DOUBLE)
        |      / CAST(len(toks) AS DOUBLE) <= 0.1
        |  AND CAST(len(regexp_extract_all(text, '\.\.\.|…')) AS DOUBLE)
        |      / CAST(len(toks) AS DOUBLE) <= 0.1
        |  AND (len(lns) = 0 OR CAST(len(list_filter(lns,
        |        x -> regexp_matches(x, '^\s*[-*•‣▶]'))) AS DOUBLE)
        |      / CAST(len(lns) AS DOUBLE) <= 0.9)
        |  AND (len(lns) = 0 OR CAST(len(list_filter(lns,
        |        x -> regexp_matches(x, '(\.\.\.|…)\s*$'))) AS DOUBLE)
        |      / CAST(len(lns) AS DOUBLE) <= 0.3)
        |  AND CAST(len(list_filter(toks,
        |        x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
        |      / CAST(len(toks) AS DOUBLE) >= 0.8
        |  AND (CASE WHEN list_contains(toks, 'the') THEN 1 ELSE 0 END)
        |    + (CASE WHEN list_contains(toks, 'be') THEN 1 ELSE 0 END)
        |    + (CASE WHEN list_contains(toks, 'to') THEN 1 ELSE 0 END)
        |    + (CASE WHEN list_contains(toks, 'of') THEN 1 ELSE 0 END)
        |    + (CASE WHEN list_contains(toks, 'and') THEN 1 ELSE 0 END)
        |    + (CASE WHEN list_contains(toks, 'that') THEN 1 ELSE 0 END)
        |    + (CASE WHEN list_contains(toks, 'have') THEN 1 ELSE 0 END)
        |    + (CASE WHEN list_contains(toks, 'with') THEN 1 ELSE 0 END) >= 1""".stripMargin,
    // Repetition metrics replayed with DuckDB list lambdas; the per-doc
    // mode is the same O(|distinct| × |tokens|) count-per-distinct-token
    // formulation, and all fractions are exact-integer divisions.
    "text_repetition" ->
      """WITH t AS (SELECT doc_id,
        |             list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS w
        |           FROM documents),
        |     b AS (SELECT doc_id, w,
        |             CASE WHEN len(w) >= 2
        |                  THEN [w[i] || ' ' || w[i+1] FOR i IN range(1, len(w))]
        |                  ELSE CAST([] AS VARCHAR[]) END AS bg
        |           FROM t)
        |SELECT doc_id,
        |  CASE WHEN len(w) > 0
        |       THEN 1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / CAST(len(w) AS DOUBLE)
        |       ELSE 0.0 END AS rep_dup_word_frac,
        |  CASE WHEN len(w) > 0
        |       THEN CAST(list_max(list_transform(list_distinct(w),
        |                    d -> len(list_filter(w, x -> x = d)))) AS DOUBLE)
        |            / CAST(len(w) AS DOUBLE)
        |       ELSE 0.0 END AS rep_top_word_frac,
        |  CASE WHEN len(bg) > 0
        |       THEN CAST(list_max(list_transform(list_distinct(bg),
        |                    d -> len(list_filter(bg, x -> x = d)))) AS DOUBLE)
        |            / CAST(len(bg) AS DOUBLE)
        |       ELSE 0.0 END AS rep_top_bigram_frac
        |FROM b""".stripMargin,
    "text_repetition_filter" ->
      """WITH t AS (SELECT doc_id,
        |             list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS w
        |           FROM documents),
        |     b AS (SELECT doc_id, w,
        |             CASE WHEN len(w) >= 2
        |                  THEN [w[i] || ' ' || w[i+1] FOR i IN range(1, len(w))]
        |                  ELSE CAST([] AS VARCHAR[]) END AS bg
        |           FROM t),
        |     f AS (SELECT doc_id,
        |             CASE WHEN len(w) > 0
        |                  THEN 1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / CAST(len(w) AS DOUBLE)
        |                  ELSE 0.0 END AS dupf,
        |             CASE WHEN len(w) > 0
        |                  THEN CAST(list_max(list_transform(list_distinct(w),
        |                               d -> len(list_filter(w, x -> x = d)))) AS DOUBLE)
        |                       / CAST(len(w) AS DOUBLE)
        |                  ELSE 0.0 END AS topf,
        |             CASE WHEN len(bg) > 0
        |                  THEN CAST(list_max(list_transform(list_distinct(bg),
        |                               d -> len(list_filter(bg, x -> x = d)))) AS DOUBLE)
        |                       / CAST(len(bg) AS DOUBLE)
        |                  ELSE 0.0 END AS bigf
        |           FROM b)
        |SELECT doc_id FROM f
        |WHERE dupf <= 0.3 AND topf <= 0.2 AND bigf <= 0.18""".stripMargin,
    "text_pii" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_emails,
        |  CAST(len(regexp_extract_all(text,
        |    '[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}')) AS INTEGER) AS n_phones,
        |  CAST(len(regexp_extract_all(text,
        |    '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS INTEGER) AS n_ipv4
        |FROM documents""".stripMargin,
    "text_pii_redact" ->
      """SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}', '<PHONE>', 'g'),
        |    '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g') AS text
        |FROM documents""".stripMargin,
    "text_pii_ext" ->
      s"""WITH u AS (SELECT doc_id, $synthPiiSql AS text FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(text,
         |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INTEGER) AS n_emails,
         |  CAST(len(regexp_extract_all(text,
         |    '[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}')) AS INTEGER) AS n_phones,
         |  CAST(len(regexp_extract_all(text,
         |    '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}')) AS INTEGER) AS n_ipv4,
         |  CAST(len(regexp_extract_all(text,
         |    '[0-9](?:[ -]?[0-9]){12,18}')) AS INTEGER) AS n_cards,
         |  CAST(len(regexp_extract_all(text,
         |    '[0-9]{3}-[0-9]{2}-[0-9]{4}')) AS INTEGER) AS n_ssns,
         |  CAST(len(regexp_extract_all(text,
         |    '[A-Z]{2}[0-9]{2}[A-Z0-9]{11,30}')) AS INTEGER) AS n_ibans
         |FROM u""".stripMargin,
    "text_pii_redact_ext" ->
      s"""WITH u AS (SELECT doc_id, $synthPiiSql AS text FROM documents)
         |SELECT doc_id,
         |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
         |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         |    '[A-Z]{2}[0-9]{2}[A-Z0-9]{11,30}', '<IBAN>', 'g'),
         |    '[0-9](?:[ -]?[0-9]){12,18}', '<CARD>', 'g'),
         |    '[0-9]{3}-[0-9]{2}-[0-9]{4}', '<SSN>', 'g'),
         |    '[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}', '<PHONE>', 'g'),
         |    '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}', '<IP>', 'g') AS text
         |FROM u""".stripMargin,
    "text_url" ->
      s"""WITH u AS (SELECT doc_id, $synthUrlSql AS url FROM documents),
         |$urlFeaturesCte
         |SELECT doc_id, url, url_host, url_domain, url_path, url_depth
         |FROM feats""".stripMargin,
    "text_url_filter" ->
      s"""WITH u AS (SELECT doc_id, lang, source, $synthUrlSql AS url FROM documents),
         |$urlFeaturesCte
         |SELECT doc_id, lang, source FROM feats
         |WHERE url_domain NOT IN ('src1.co.uk', 'src3-news.com', 'src0-cdn.org')""".stripMargin,
    // Full PSL prevailing-rule replay against the text_psl_rules dump: a
    // j-label suffix joins rules with j labels; exact → level j, wildcard
    // base → level j+1, exception → public suffix j−1 (and wins); no match
    // → the default rule (level 1); registered domain = suffix of level+1
    // labels, host passthrough when the host IS a public suffix.
    "text_url_psl" ->
      s"""WITH u AS (SELECT doc_id, $synthPslHostSql AS host FROM documents),
         |     r AS (SELECT rule, kind, nlabels
         |           FROM read_parquet('{GRAFT_OUT}/text_psl_rules/*.parquet')),
         |     c AS (SELECT doc_id, host, string_split(host, '.') AS ls,
         |                  len(string_split(host, '.')) AS n
         |           FROM u),
         |     sfx AS (SELECT c.doc_id, c.n, j.j,
         |                    array_to_string(c.ls[c.n - j.j + 1:], '.') AS s
         |             FROM c CROSS JOIN (
         |               SELECT unnest(range(1,
         |                 (SELECT max(nlabels) + 1 FROM r))) AS j) j
         |             WHERE c.n >= j.j),
         |     hits AS (SELECT s.doc_id,
         |                     CASE WHEN r.kind = 'exact' THEN s.j
         |                          WHEN r.kind = 'wildcard' THEN s.j + 1 END AS lvl,
         |                     CASE WHEN r.kind = 'exception' THEN s.j - 1 END AS exc
         |              FROM sfx s JOIN r ON r.nlabels = s.j AND r.rule = s.s),
         |     agg AS (SELECT doc_id, max(lvl) AS ml, max(exc) AS mx
         |             FROM hits GROUP BY 1),
         |     ps AS (SELECT c.doc_id, c.host, c.ls, c.n,
         |                   COALESCE(a.mx, GREATEST(COALESCE(a.ml, 1), 1)) AS p
         |            FROM c LEFT JOIN agg a USING (doc_id))
         |SELECT doc_id, host AS url_host,
         |       CASE WHEN n > p THEN array_to_string(ls[n - p:], '.')
         |            ELSE host END AS url_domain
         |FROM ps""".stripMargin,
    // Full block-rule replay: pre-clean (script/style/comment), the same
    // block-split regex, per-block cleanup + link-text cleanup via
    // mcCleanSql, the multiplicative density rule (double-cast 0.33), and
    // the page-ordered newline join; docs with no surviving block yield ''.
    "text_main_content" ->
      s"""WITH u AS (SELECT doc_id, $synthPageSql AS html FROM documents),
         |     pre AS (SELECT doc_id,
         |               regexp_replace(regexp_replace(regexp_replace(html,
         |                 '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
         |                 '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
         |                 '(?s)<!--.*?-->', ' ', 'g') AS h
         |             FROM u),
         |     sp AS (SELECT doc_id,
         |              string_split_regex(h,
         |                '(?i)</(?:p|div|li|h[1-6]|tr|td|section|article|blockquote)>|<br[^>]*>') AS bs
         |            FROM pre),
         |     blk AS (SELECT doc_id, bs, unnest(range(1, len(bs) + 1)) AS i FROM sp),
         |     one AS (SELECT doc_id, i,
         |               ${mcCleanSql("bs[i]")} AS c,
         |               ${mcCleanSql(
             "array_to_string(regexp_extract_all(bs[i], " +
               "'(?is)<a(?:[\\s/][^>]*)?>(.*?)</a>', 1), ' ')")} AS lc
         |             FROM blk),
         |     keepb AS (SELECT doc_id, i, c FROM one
         |               WHERE len(c) >= 20
         |                 -- DuckDB's array_to_string([]) is NULL where
         |                 -- Spark's array_join([]) is '' — a linkless
         |                 -- block has zero link chars, not unknown
         |                 AND COALESCE(len(lc), 0) <= CAST(0.33 AS DOUBLE) * len(c)),
         |     res AS (SELECT doc_id, string_agg(c, chr(10) ORDER BY i) AS mc
         |             FROM keepb GROUP BY doc_id)
         |-- NULL html stays NULL (the Spark side propagates it); only a
         |-- non-NULL page with no surviving block coalesces to ''
         |SELECT u.doc_id,
         |       CASE WHEN u.html IS NULL THEN NULL
         |            ELSE COALESCE(res.mc, '') END AS main_content
         |FROM u LEFT JOIN res USING (doc_id)""".stripMargin,
    // The same 13-step regexp cascade, step for step: script/style blocks,
    // comments, block tags → chr(10), all tags, five entities then &amp;,
    // space collapse, newline collapse, regex trim.
    "text_strip_html" ->
      s"""WITH u AS (SELECT doc_id, $synthHtmlSql AS html FROM documents)
         |SELECT doc_id,
         |$stripHtmlCascadeSql
         |FROM u""".stripMargin,
    // loadWarc composed with the strip cascade: the HTML archive is a
    // faithful WARC encoding of the synthHtml wrapper — now under THREE
    // charsets (UTF-8 / header-declared ISO-8859-1 / meta-only GBK, each
    // non-UTF-8 body carrying a non-ASCII marker paragraph) — so the
    // parsed payloads strip to exactly what the documents-table replay
    // strips to ONLY when the reader honors the declared charset.
    "warc_html_extract" ->
      s"""WITH u AS (SELECT '<urn:graft:doc-' || doc_id || '>' AS record_id,
         |                  CASE WHEN doc_id % 10 = 9
         |                       THEN '<meta charset="GBK">'
         |                       WHEN doc_id % 10 = 1
         |                       THEN '<meta name="robots" content="noindex, nofollow">'
         |                       ELSE '' END ||
         |                  $synthHtmlSql ||
         |                  CASE WHEN doc_id % 10 = 7 THEN '$CharsetMarkerLatin'
         |                       WHEN doc_id % 10 = 9 THEN '$CharsetMarkerCjk'
         |                       ELSE '' END AS html
         |           FROM documents)
         |SELECT record_id,
         |$stripHtmlCascadeSql
         |FROM u""".stripMargin,
    // The fixture's envelope rules replayed: every 20th doc a 404, the
    // HTTP Content-Type varying with the fixture's charset scheme (the
    // gzip coding is invisible here by design — warc_html_extract proves
    // the body still strips to the same text).
    "warc_http_meta" ->
      """SELECT '<urn:graft:doc-' || doc_id || '>' AS record_id,
        |       CAST(CASE WHEN doc_id % 20 = 0 THEN 404
        |                 WHEN doc_id % 10 = 5 THEN 301
        |                 ELSE 200 END AS INTEGER) AS http_status,
        |       CASE WHEN doc_id % 10 = 7 THEN 'text/html; charset=ISO-8859-1'
        |            WHEN doc_id % 10 = 9 THEN 'text/html'
        |            ELSE 'text/html; charset=UTF-8' END AS http_content_type
        |FROM documents""".stripMargin,
    // The coding fixture replayed: gzip/deflate/zstd round-trip back to
    // the source text (the compress/decompress happens only Spark-side);
    // the brotli arm keeps its ASCII-marker coded bytes and flags.
    "warc_content_coding" ->
      """SELECT '<urn:graft:doc-' || doc_id || '>' AS record_id,
        |       CAST(doc_id % 5 = 4 AS BOOLEAN) AS coding_unsupported,
        |       CASE WHEN doc_id % 5 = 4 THEN 'BR:' || text
        |            ELSE text END AS payload
        |FROM documents""".stripMargin,
    // The compliance verdicts recomputed independently: every
    // 10th-plus-1 page carries the noindex meta, every 20th-plus-2 the
    // noindex header — either channel flips the verdict.
    "warc_meta_robots" ->
      """SELECT '<urn:graft:doc-' || doc_id || '>' AS record_id,
        |       CASE WHEN doc_id % 10 = 1 THEN 'noindex, nofollow'
        |            ELSE '' END AS robots_meta,
        |       CASE WHEN doc_id % 20 = 2 THEN 'noindex'
        |            ELSE '' END AS robots_header,
        |       CAST(doc_id % 10 <> 1 AND doc_id % 20 <> 2 AS BOOLEAN)
        |         AS indexable
        |FROM documents""".stripMargin,
    // Redirect edges recomputed independently: absolute Locations pass
    // through, the relative /moved shape resolves against the record's
    // own synthetic URI (doc_id%20=15 → synthUrl shape doc_id%4=3).
    "warc_redirects" ->
      """SELECT '<urn:graft:doc-' || doc_id || '>' AS record_id,
        |       CASE WHEN doc_id % 20 = 5
        |            THEN 'https://www.' || source || '-moved.example/p/' || doc_id
        |            ELSE '/moved/' || doc_id END AS http_location,
        |       CASE WHEN doc_id % 20 = 5
        |            THEN 'https://www.' || source || '-moved.example/p/' || doc_id
        |            ELSE 'ftp://files.' || source || '.net/moved/' || doc_id
        |            END AS redirect_target
        |FROM documents WHERE doc_id % 10 = 5""".stripMargin,
    // Revisit resolution recomputed independently: every 4th document
    // was re-fetched, its digest joins back to the original capture.
    "warc_revisit_dedup" ->
      """SELECT '<urn:graft:rev-' || doc_id || '>' AS revisit_id,
        |       '<urn:graft:doc-' || doc_id || '>' AS original_id,
        |       'sha1:GRAFT' || doc_id AS payload_digest,
        |       text AS payload
        |FROM documents WHERE doc_id % 4 = 0""".stripMargin,
    // Truncation-marker counts recomputed independently: every
    // 8th-plus-1 response was cut at capture.
    "warc_truncated_census" ->
      """SELECT CASE WHEN doc_id % 8 = 1 THEN 'length' ELSE 'none' END
        |         AS truncated,
        |       CAST(count(*) AS BIGINT) AS n_records
        |FROM documents GROUP BY 1""".stripMargin,
    // Expected cc-index records recomputed independently: every response
    // capture (urlkey = the synthUrl SURT shape, length = the 45-byte
    // HTTP envelope + body) plus every 4th document's revisit at the Feb
    // refetch with mime warc/revisit and no status.
    "warc_cdx_index" ->
      s"""WITH u AS (SELECT doc_id, source, text, $synthUrlSql AS url,
         |                  CASE doc_id % 4
         |                    WHEN 0 THEN 'com,' || source || '-news)/a/b/c?x=1'
         |                    WHEN 1 THEN 'uk,co,' || source || ',blog)/post/' || doc_id
         |                    WHEN 2 THEN 'org,' || source || '-cdn:8080)/dl/v2'
         |                    ELSE 'net,' || source || ',files)/' END AS urlkey
         |           FROM documents)
         |SELECT urlkey, '20260101000000' AS cdx_ts, url,
         |       'text/plain' AS mime, 200 AS status,
         |       'sha1:GRAFT' || doc_id AS digest,
         |       CAST(octet_length(encode(text)) + 45 AS BIGINT) AS length
         |FROM u
         |UNION ALL
         |SELECT urlkey, '20260201000000', url, 'warc/revisit',
         |       CAST(NULL AS INTEGER), 'sha1:GRAFT' || doc_id, 0
         |FROM u WHERE doc_id % 4 = 0""".stripMargin,
    // The CDX-J reader's parse replayed — INCLUDING the REAL seek
    // coordinates: the oracle rebuilds each WARC record's header string
    // byte for byte (truncation marker on %8==1, revisit records on
    // %4==0), takes record lengths from octet_length, and recovers
    // offsets as the per-shard running sum over records in doc order
    // (each record also writes a 4-byte CRLFCRLF separator). A fixture
    // or reader drift of a single byte breaks the hash.
    "cdx_read" -> cdxReadOracleSql,
    // The prefix-lookup result: exactly the %4==1 blog captures' lines.
    "cdx_host_lookup" ->
      """SELECT 'uk,co,' || source || ',blog)/post/' || doc_id AS urlkey,
        |       '20260101000000' AS cdx_ts,
        |       'http://blog.' || source || '.co.uk/post/' || doc_id AS url,
        |       200 AS status
        |FROM documents WHERE doc_id % 4 = 1""".stripMargin,
    // The ranged fetch replayed by CONTENT: exactly the %5==0 response
    // records, each with its envelope-stripped text payload — the
    // offsets themselves never appear, they are exercised (a wrong seek
    // fetches the wrong record).
    "warc_range_fetch" ->
      s"""SELECT '<urn:graft:doc-' || doc_id || '>' AS record_id,
         |       $synthUrlSql AS target_uri,
         |       text AS payload
         |FROM documents WHERE doc_id % 5 = 0""".stripMargin,
    // The incremental-crawl verdicts replayed: shape-0 URLs were
    // revisited in Feb (fresh → skip), shapes 1-3 only captured in Jan
    // (stale → refetch), the novel URLs were never captured (fetch).
    "cdx_fetch_decisions" ->
      s"""WITH k AS (SELECT DISTINCT $synthUrlSql AS url,
         |                  CASE doc_id % 4
         |                    WHEN 0 THEN 'com,' || source || '-news)/a/b/c?x=1'
         |                    WHEN 1 THEN 'uk,co,' || source || ',blog)/post/' || doc_id
         |                    WHEN 2 THEN 'org,' || source || '-cdn:8080)/dl/v2'
         |                    ELSE 'net,' || source || ',files)/' END AS urlkey,
         |                  CASE WHEN doc_id % 4 = 0 THEN '20260201000000'
         |                       ELSE '20260101000000' END AS last_capture,
         |                  CASE WHEN doc_id % 4 = 0 THEN 'skip_fresh'
         |                       ELSE 'refetch' END AS decision
         |           FROM documents
         |           UNION
         |           SELECT DISTINCT
         |                  'https://new.' || source || '.org/x/' || doc_id,
         |                  'org,' || source || ',new)/x/' || doc_id,
         |                  NULL, 'fetch'
         |           FROM documents WHERE doc_id % 3 = 0)
         |SELECT url, urlkey, last_capture, decision FROM k""".stripMargin,
    // Recrawl-plan replay: the due set is exactly the %4∈{1,2,3} shapes
    // (shape 0 is Feb-fresh; every new.*.org candidate dies at the
    // robots /x/ rule), hosts and delays derive from the shapes (blog
    // 2 s declared, others 1 s default), and the slots are the pinned
    // instant + (rank−1)·delay per host in url order — the constant-ts
    // closed form of the politeness recurrence.
    "warc_recrawl_plan" ->
      """WITH d AS (SELECT DISTINCT
        |             CASE CAST(doc_id % 4 AS INTEGER)
        |               WHEN 1 THEN 'http://blog.' || source || '.co.uk/post/' || doc_id
        |               WHEN 2 THEN 'https://login:pw@' || source || '-cdn.org:8080/dl/v2'
        |               ELSE 'ftp://files.' || source || '.net' END AS url,
        |             CASE CAST(doc_id % 4 AS INTEGER)
        |               WHEN 1 THEN 'blog.' || source || '.co.uk'
        |               WHEN 2 THEN source || '-cdn.org'
        |               ELSE 'files.' || source || '.net' END AS host,
        |             CASE CAST(doc_id % 4 AS INTEGER)
        |               WHEN 1 THEN 2000 ELSE 1000 END AS delay_ms
        |           FROM documents WHERE doc_id % 4 IN (1, 2, 3)),
        |r AS (SELECT *, row_number() OVER (PARTITION BY host ORDER BY url) AS rn
        |      FROM d)
        |SELECT url, host, 'refetch' AS decision,
        |       CAST(epoch_ms(TIMESTAMP '2026-03-01 00:00:00')
        |            + (rn - 1) * delay_ms AS BIGINT) AS scheduled_at_ms
        |FROM r""".stripMargin,
    // Closest-capture winners replayed with EPOCH distance (strptime →
    // epoch seconds): Jan-10 targets pick the Jan originals, Jan-25
    // targets the Feb revisit where one exists — the digit-arithmetic
    // answer differs exactly there, so it cannot hash-match. Ties at one
    // instant resolve by digest string order, both engines alike.
    "cdx_closest" ->
      s"""WITH $cdxCapturesCte,
         |t AS (SELECT DISTINCT
         |        CASE doc_id % 4
         |          WHEN 0 THEN 'com,' || source || '-news)/a/b/c?x=1'
         |          WHEN 1 THEN 'uk,co,' || source || ',blog)/post/' || doc_id
         |          WHEN 2 THEN 'org,' || source || '-cdn:8080)/dl/v2'
         |          ELSE 'net,' || source || ',files)/' END AS urlkey,
         |        CASE WHEN doc_id % 8 < 4 THEN '20260110000000'
         |             ELSE '20260125000000' END AS target_ts
         |      FROM documents),
         |j AS (SELECT t.urlkey, t.target_ts, cap.cdx_ts, cap.url, cap.digest,
         |             abs(epoch(strptime(cap.cdx_ts, '%Y%m%d%H%M%S'))
         |               - epoch(strptime(t.target_ts, '%Y%m%d%H%M%S'))) AS d
         |      FROM t JOIN cap ON cap.urlkey = t.urlkey)
         |SELECT urlkey, target_ts, cdx_ts, url, digest,
         |       CAST(d AS BIGINT) AS dist_sec
         |FROM j
         |QUALIFY row_number() OVER (PARTITION BY urlkey, target_ts
         |                           ORDER BY d, cdx_ts, digest) = 1""".stripMargin,
    // The replay content recomputed: per %3-doc urlkey, the response
    // capture the closest lookup picks (all responses share the Jan
    // instant → digest-min wins), with ITS document's envelope-stripped
    // text as the fetched payload — the seek coordinates never appear
    // but a wrong one fetches the wrong record.
    "cdx_replay_at" ->
      s"""WITH $cdxCapturesCte,
         |t AS (SELECT DISTINCT
         |        CASE doc_id % 4
         |          WHEN 0 THEN 'com,' || source || '-news)/a/b/c?x=1'
         |          WHEN 1 THEN 'uk,co,' || source || ',blog)/post/' || doc_id
         |          WHEN 2 THEN 'org,' || source || '-cdn:8080)/dl/v2'
         |          ELSE 'net,' || source || ',files)/' END AS urlkey
         |      FROM documents WHERE doc_id % 3 = 0),
         |w AS (SELECT t.urlkey, cap.doc_id
         |      FROM t JOIN cap ON cap.urlkey = t.urlkey
         |      WHERE cap.mime = 'text/plain'
         |      QUALIFY row_number() OVER (PARTITION BY t.urlkey
         |                                 ORDER BY cap.cdx_ts, cap.digest) = 1)
         |SELECT '<urn:graft:doc-' || d.doc_id || '>' AS record_id,
         |       $synthUrlSql AS target_uri,
         |       d.text AS payload
         |FROM w JOIN documents d USING (doc_id)""".stripMargin,
    // Expected robots verdict per shape, recomputed independently:
    // /private/ and /tmp* and /exact$ deny; /private/ok's longer Allow
    // and the off-anchor /exactly survive.
    "text_robots_filter" ->
      s"""SELECT doc_id, $synthRobotsUrlSql AS url,
         |       CAST(doc_id % 6 NOT IN (1, 3, 4) AS BOOLEAN) AS allowed
         |FROM documents""".stripMargin,
    // Expected sitemap URLs recomputed independently: the clean loc and
    // the whitespace-wrapped, &amp;-escaped loc per document.
    "text_sitemap_urls" ->
      """SELECT doc_id,
        |       'https://' || source || '.com/p/' || doc_id AS sitemap_url
        |FROM documents
        |UNION ALL
        |SELECT doc_id, 'https://' || source || '.com/q?a=1&b=2'
        |FROM documents""".stripMargin,
    // Expected sitemap entries recomputed independently: the metadata
    // block per document plus the loc-only block with NULL metadata.
    "text_sitemap_entries" ->
      """SELECT doc_id,
        |       'https://' || source || '.com/p/' || doc_id AS sitemap_loc,
        |       '2026-01-0' || (doc_id % 9 + 1) AS sitemap_lastmod,
        |       CAST(NULL AS VARCHAR) AS sitemap_changefreq,
        |       CAST('0.' || (doc_id % 10) AS DOUBLE) AS sitemap_priority
        |FROM documents
        |UNION ALL
        |SELECT doc_id, 'https://' || source || '.com/q?a=1&b=2',
        |       NULL, NULL, CAST(NULL AS DOUBLE)
        |FROM documents""".stripMargin,
    // The recrawl arithmetic replayed: the changefreq vocabulary, the
    // epoch addition, and the pinned-instant overdue verdict ('never'
    // schedules nothing and is never overdue).
    "warc_recrawl_schedule" ->
      """WITH u AS (SELECT doc_id,
        |                  'https://' || source || '.com/p/' || doc_id AS sitemap_loc,
        |                  '2026-01-0' || (doc_id % 9 + 1) AS lastmod,
        |                  CASE doc_id % 7
        |                    WHEN 0 THEN 'always' WHEN 1 THEN 'hourly'
        |                    WHEN 2 THEN 'daily' WHEN 3 THEN 'weekly'
        |                    WHEN 4 THEN 'monthly' WHEN 5 THEN 'yearly'
        |                    ELSE 'never' END AS sitemap_changefreq,
        |                  CAST('0.' || (doc_id % 10) AS DOUBLE) AS sitemap_priority
        |           FROM documents),
        |     v AS (SELECT *,
        |                  CASE sitemap_changefreq
        |                    WHEN 'always' THEN 0 WHEN 'hourly' THEN 3600
        |                    WHEN 'daily' THEN 86400 WHEN 'weekly' THEN 604800
        |                    WHEN 'monthly' THEN 2592000 WHEN 'yearly' THEN 31536000
        |                    ELSE NULL END AS iv,
        |                  CAST(epoch(CAST(lastmod AS TIMESTAMP)) AS BIGINT) AS lm
        |           FROM u)
        |SELECT doc_id, sitemap_loc, sitemap_changefreq,
        |       CAST(iv AS BIGINT) AS interval_sec, sitemap_priority,
        |       CAST(lm + iv AS BIGINT) AS next_fetch_epoch,
        |       COALESCE(lm + iv <= 1769904000, FALSE) AS overdue
        |FROM v""".stripMargin,
    // Expected per-host delay recomputed independently (the fixture
    // derives it from the source-name length; hosts are source × replica
    // so the table scales with the corpus).
    "text_robots_delay" ->
      s"""SELECT DISTINCT $robotsHostSql AS host,
         |       CAST(length(source) % 5 AS DOUBLE) AS crawl_delay_sec
         |FROM documents""".stripMargin,
    // Expected canonical form per shape, recomputed independently.
    "text_url_canonical" ->
      s"""WITH u AS (SELECT doc_id, source, $synthMessyUrlSql AS url FROM documents)
         |SELECT doc_id, url,
         |       CASE doc_id % 6
         |         WHEN 0 THEN 'http://www.' || source || '.com/a/b'
         |         WHEN 1 THEN 'https://' || source || '.com/x?a=1&b=2'
         |         WHEN 2 THEN 'https://' || source || '.com:8080/p?z=1'
         |         WHEN 3 THEN 'ftp://files.' || source || '.net/'
         |         WHEN 4 THEN 'https://' || source || '.com/p'
         |         ELSE 'relative/path only' END AS url_canonical
         |FROM u""".stripMargin,
    // Expected canonical + stripped strings per shape: the sorted query
    // loses its utm_* keys, the all-tracking query loses its '?'.
    "text_url_strip_tracking" ->
      """SELECT doc_id,
        |       CASE doc_id % 4
        |         WHEN 0 THEN 'https://' || source || '.com/p?a=1&utm_campaign=y&utm_source=x'
        |         WHEN 1 THEN 'https://' || source || '.com/q?gclid=abc123'
        |         WHEN 2 THEN 'https://' || source || '.com/r?a=1&b=2'
        |         ELSE 'https://' || source || '.com/s' END AS url_canonical,
        |       CASE doc_id % 4
        |         WHEN 0 THEN 'https://' || source || '.com/p?a=1'
        |         WHEN 1 THEN 'https://' || source || '.com/q'
        |         WHEN 2 THEN 'https://' || source || '.com/r?a=1&b=2'
        |         ELSE 'https://' || source || '.com/s' END AS url_stripped
        |FROM documents""".stripMargin,
    // Expected SURT keys per shape: canonicalization folds case and
    // default ports first, then www strips, labels reverse comma-joined,
    // the kept :8080 lands before ')', queries stay sorted, and the
    // non-URL shape keys NULL.
    "text_url_surt" ->
      """SELECT doc_id,
        |       CASE doc_id % 6
        |         WHEN 0 THEN 'com,' || source || ')/a/b'
        |         WHEN 1 THEN 'com,' || source || ')/x?a=1&b=2'
        |         WHEN 2 THEN 'com,' || source || ':8080)/p?z=1'
        |         WHEN 3 THEN 'net,' || source || ',files)/'
        |         WHEN 4 THEN 'com,' || source || ')/p'
        |         ELSE NULL END AS surt_key
        |FROM documents""".stripMargin,
    // The fixture's cross-domain links replayed from the source columns:
    // per page, partner (absolute), cdn (protocol-relative → <source>.net)
    // and docs (private github.io suffix → <source>.github.io); the
    // root-relative and document-relative links resolve to the page's own
    // domain (self-edges, dropped), mailto/fragment links never extract.
    "warc_link_graph" ->
      """WITH u AS (SELECT doc_id, source FROM documents),
        |     e AS (SELECT source || '.co.uk' AS s,
        |                  'src' || (doc_id % 7) || '-news.com' AS t FROM u
        |           UNION ALL SELECT source || '.co.uk', source || '.net' FROM u
        |           UNION ALL SELECT source || '.co.uk', source || '.github.io' FROM u
        |           UNION ALL SELECT source || '.co.uk', source || '.github.io' FROM u)
        |SELECT s AS src_domain, t AS dst_domain,
        |       CAST(count(*) AS BIGINT) AS n_links
        |FROM e GROUP BY 1, 2""".stripMargin,
    // Anchor text replayed from the source columns: each page emits six
    // (resolved target, anchor) pairs — partner/cdn/about/archive/docs
    // plus the doubled docs spelling, which canonicalization collapses
    // onto the same dst while its 'docs again' anchor stays a distinct
    // row; mailto and fragment anchors never extract.
    "warc_anchor_text" ->
      """WITH u AS (SELECT doc_id, source FROM documents),
        |     a AS (SELECT 'https://src' || (doc_id % 7) || '-news.com/a/b' AS dst,
        |                  'partner' AS anchor_text FROM u
        |           UNION ALL SELECT 'https://cdn.' || source || '.net/lib.js',
        |                  'cdn' FROM u
        |           UNION ALL SELECT 'https://www.' || source ||
        |                  '.co.uk/about/contact.html', 'about' FROM u
        |           UNION ALL SELECT 'https://www.' || source || '.co.uk/p/' ||
        |                  doc_id || '/archive/page' || (doc_id % 5) || '.html',
        |                  'archive' FROM u
        |           UNION ALL SELECT 'https://docs.' || source || '.github.io/guide',
        |                  'docs' FROM u
        |           UNION ALL SELECT 'https://docs.' || source || '.github.io/guide',
        |                  'docs again' FROM u)
        |SELECT dst, anchor_text, CAST(count(*) AS BIGINT) AS n_links
        |FROM a GROUP BY 1, 2""".stripMargin,
    // The WAT rows replayed: per document the sidecar title and four
    // anchors (absolute kept, protocol-relative gains https, the
    // root-relative and document-relative resolve against the page URI;
    // the text-less archive anchor is NULL; the IMG entry never emits).
    "warc_wat_links" ->
      """WITH u AS (SELECT doc_id, source,
        |                  '<urn:graft:wat-' || doc_id || '>' AS record_id,
        |                  'Page ' || doc_id || ' - ' || source AS wat_title
        |           FROM documents)
        |SELECT record_id, wat_title,
        |       'https://src' || (doc_id % 7) || '-news.com/a/b' AS link_url,
        |       'partner' AS anchor_text
        |FROM u
        |UNION ALL
        |SELECT record_id, wat_title, 'https://cdn.' || source || '.net/lib.js',
        |       'cdn' FROM u
        |UNION ALL
        |SELECT record_id, wat_title,
        |       'https://www.' || source || '.co.uk/about/contact.html',
        |       'about' FROM u
        |UNION ALL
        |SELECT record_id, wat_title,
        |       'https://www.' || source || '.co.uk/p/' || doc_id ||
        |         '/archive/page' || (doc_id % 5) || '.html',
        |       NULL FROM u""".stripMargin,
    // Every sidecar-enrichment shape replayed from the source columns:
    // description NULL on %4==3 (the "descriptions" decoy must not
    // leak), found at position 1 on %4==0; canonical NULL on %5==0 and
    // VERBATIM otherwise (relative stays relative); the %3 content-type
    // cycle; the %7==3 404s.
    "warc_wat_meta" ->
      """SELECT '<urn:graft:wat-' || doc_id || '>' AS record_id,
        |       'Page ' || doc_id || ' - ' || source AS wat_title,
        |       CASE WHEN doc_id % 4 = 3 THEN NULL
        |            ELSE 'summary ' || (doc_id % 7) || ' of page' END
        |         AS meta_description,
        |       CASE WHEN doc_id % 5 = 0 THEN NULL
        |            WHEN doc_id % 5 = 2 THEN '/c/' || (doc_id // 3)
        |            ELSE 'https://www.' || source || '.co.uk/c/' ||
        |                 (doc_id // 3) END AS canonical_url,
        |       CASE CAST(doc_id % 3 AS INTEGER)
        |         WHEN 0 THEN 'text/html; charset=UTF-8'
        |         WHEN 1 THEN 'text/html'
        |         ELSE 'application/xhtml+xml' END AS content_type,
        |       CAST(CASE WHEN doc_id % 7 = 3 THEN 404 ELSE 200 END
        |            AS INTEGER) AS http_status
        |FROM documents""".stripMargin,
    // Two scripts per page: the root-relative one resolves against the
    // capture URL's authority, the absolute one rides verbatim.
    "warc_wat_scripts" ->
      """SELECT '<urn:graft:wat-' || doc_id || '>' AS record_id,
        |       'https://www.' || source || '.co.uk/js/app-' ||
        |         (doc_id % 3) || '.js' AS script_url
        |FROM documents
        |UNION ALL
        |SELECT '<urn:graft:wat-' || doc_id || '>',
        |       'https://analytics.example-cdn.com/t.js'
        |FROM documents""".stripMargin,
    // Every head-block shape replayed: title always, description NULL on
    // %4==3 (reversed attribute order on %4==0 extracts identically),
    // canonical NULL on %5==0 and VERBATIM otherwise — the relative
    // %5==2 href stays relative here (resolution is the dedup query's
    // job, this op reports what the page declared).
    "warc_html_meta" ->
      """SELECT 'https://www.' || source || '.co.uk/p/' || doc_id ||
        |         '/index.html' AS target_uri,
        |       'Page ' || doc_id || ' - ' || source AS title,
        |       CASE WHEN doc_id % 4 = 3 THEN NULL
        |            ELSE 'summary ' || (doc_id % 7) || ' of page' END
        |         AS meta_description,
        |       CASE WHEN doc_id % 5 = 0 THEN NULL
        |            WHEN doc_id % 5 = 2 THEN '/c/' || (doc_id // 3)
        |            ELSE 'https://www.' || source || '.co.uk/c/' ||
        |                 (doc_id // 3) END AS canonical_url
        |FROM documents""".stripMargin,
    // The canonical collapse replayed: pages without a declared
    // canonical key on their own URL; the rest (absolute AND the
    // resolved relative shape) share /c/<id DIV 3> per source, so up to
    // three pages collapse onto one key with the smallest page URL
    // (string order) kept.
    "warc_canonical_dedup" ->
      """WITH k AS (
        |  SELECT CASE WHEN doc_id % 5 = 0
        |              THEN 'https://www.' || source || '.co.uk/p/' ||
        |                   doc_id || '/index.html'
        |              ELSE 'https://www.' || source || '.co.uk/c/' ||
        |                   (doc_id // 3) END AS canonical_key,
        |         'https://www.' || source || '.co.uk/p/' || doc_id ||
        |           '/index.html' AS uri
        |  FROM documents)
        |SELECT canonical_key, CAST(count(*) AS BIGINT) AS n_pages,
        |       min(uri) AS kept_uri
        |FROM k GROUP BY 1""".stripMargin,
    // The surviving frontier recomputed independently: even partner
    // hosts (odd ones robots-deny /a/), the root-relative about page,
    // each page's document-relative archive link, ONE github URL per
    // source (canonicalization collapses the doubled spelling), and the
    // sitemap-discovered /s/<k> page of EVERY partner host (the /a/ rule
    // never matches them); the cdn links die in the seen-key probe.
    "warc_crawl_frontier" ->
      """WITH f AS (
        |  SELECT DISTINCT 'https://src' || (doc_id % 7) || '-news.com/a/b' AS u
        |  FROM documents WHERE (doc_id % 7) % 2 = 0
        |  UNION
        |  SELECT DISTINCT 'https://www.' || source || '.co.uk/about/contact.html'
        |  FROM documents
        |  UNION
        |  SELECT 'https://www.' || source || '.co.uk/p/' || doc_id ||
        |         '/archive/page' || (doc_id % 5) || '.html'
        |  FROM documents
        |  UNION
        |  SELECT DISTINCT 'https://docs.' || source || '.github.io/guide'
        |  FROM documents
        |  UNION
        |  SELECT DISTINCT 'https://src' || (doc_id % 7) || '-news.com/s/' ||
        |         (doc_id % 7)
        |  FROM documents)
        |SELECT u AS url_canonical FROM f""".stripMargin,
    // The polite fetch schedule replayed independently: the frontier's
    // five branches with their fixture-known host/domain/delay, the
    // two-round integer Katz centrality, and the per-host
    // ROW_NUMBER × delay arithmetic.
    "warc_frontier_schedule" ->
      """WITH u AS (SELECT doc_id, source FROM documents),
        |     e AS (SELECT source || '.co.uk' AS s,
        |                  'src' || (doc_id % 7) || '-news.com' AS t FROM u
        |           UNION ALL SELECT source || '.co.uk', source || '.net' FROM u
        |           UNION ALL SELECT source || '.co.uk', source || '.github.io' FROM u
        |           UNION ALL SELECT source || '.co.uk', source || '.github.io' FROM u),
        |     g AS (SELECT s, t, CAST(count(*) AS BIGINT) AS w
        |           FROM e GROUP BY 1, 2),
        |     nodes AS (SELECT DISTINCT dom FROM
        |                 (SELECT s AS dom FROM g UNION SELECT t FROM g)),
        |     c1 AS (SELECT n.dom, 1 + COALESCE(SUM(g.w), 0) AS c
        |            FROM nodes n LEFT JOIN g ON g.t = n.dom
        |            GROUP BY n.dom),
        |     c2 AS (SELECT n.dom, 1 + COALESCE(SUM(g.w * c1.c), 0) AS c
        |            FROM nodes n
        |            LEFT JOIN g ON g.t = n.dom
        |            LEFT JOIN c1 ON c1.dom = g.s
        |            GROUP BY n.dom),
        |     f AS (
        |       SELECT DISTINCT
        |              'https://src' || (doc_id % 7) || '-news.com/a/b' AS url,
        |              'src' || (doc_id % 7) || '-news.com' AS host,
        |              'src' || (doc_id % 7) || '-news.com' AS dom,
        |              CAST((doc_id % 7) % 3 + 1 AS DOUBLE) AS delay
        |       FROM u WHERE (doc_id % 7) % 2 = 0
        |       UNION
        |       SELECT DISTINCT
        |              'https://src' || (doc_id % 7) || '-news.com/s/' || (doc_id % 7),
        |              'src' || (doc_id % 7) || '-news.com',
        |              'src' || (doc_id % 7) || '-news.com',
        |              CAST((doc_id % 7) % 3 + 1 AS DOUBLE)
        |       FROM u
        |       UNION
        |       SELECT DISTINCT
        |              'https://www.' || source || '.co.uk/about/contact.html',
        |              'www.' || source || '.co.uk', source || '.co.uk',
        |              CAST(1 AS DOUBLE)
        |       FROM u
        |       UNION
        |       SELECT 'https://www.' || source || '.co.uk/p/' || doc_id ||
        |              '/archive/page' || (doc_id % 5) || '.html',
        |              'www.' || source || '.co.uk', source || '.co.uk',
        |              CAST(1 AS DOUBLE)
        |       FROM u
        |       UNION
        |       SELECT DISTINCT 'https://docs.' || source || '.github.io/guide',
        |              'docs.' || source || '.github.io', source || '.github.io',
        |              CAST(1 AS DOUBLE)
        |       FROM u),
        |     j AS (SELECT f.url, f.host, f.dom,
        |                  COALESCE(c2.c, 0) AS cent, f.delay
        |           FROM f LEFT JOIN c2 ON c2.dom = f.dom),
        |     r AS (SELECT *, ROW_NUMBER() OVER
        |                       (PARTITION BY host ORDER BY cent DESC, url) AS seq
        |           FROM j)
        |SELECT url AS url_canonical, host, dom AS domain,
        |       CAST(cent AS BIGINT) AS centrality,
        |       CAST(seq AS INTEGER) AS seq,
        |       CAST((seq - 1) * delay AS DOUBLE) AS scheduled_at
        |FROM r""".stripMargin,
    // Two unrolled integer Katz rounds over the same edge graph:
    // c0 = 1; c_{t+1}(d) = 1 + Σ_{(s,d)} w·c_t(s) — all BIGINT, so the
    // sums match bit-for-bit in any order on any engine.
    "warc_domain_centrality" ->
      """WITH u AS (SELECT doc_id, source FROM documents),
        |     e AS (SELECT source || '.co.uk' AS s,
        |                  'src' || (doc_id % 7) || '-news.com' AS t FROM u
        |           UNION ALL SELECT source || '.co.uk', source || '.net' FROM u
        |           UNION ALL SELECT source || '.co.uk', source || '.github.io' FROM u
        |           UNION ALL SELECT source || '.co.uk', source || '.github.io' FROM u),
        |     g AS (SELECT s, t, CAST(count(*) AS BIGINT) AS w
        |           FROM e GROUP BY 1, 2),
        |     nodes AS (SELECT DISTINCT dom FROM
        |                 (SELECT s AS dom FROM g UNION SELECT t FROM g)),
        |     c1 AS (SELECT n.dom,
        |                   1 + COALESCE(SUM(g.w), 0) AS c
        |            FROM nodes n LEFT JOIN g ON g.t = n.dom
        |            GROUP BY n.dom),
        |     c2 AS (SELECT n.dom,
        |                   1 + COALESCE(SUM(g.w * c1.c), 0) AS c
        |            FROM nodes n
        |            LEFT JOIN g ON g.t = n.dom
        |            LEFT JOIN c1 ON c1.dom = g.s
        |            GROUP BY n.dom)
        |SELECT dom AS domain, CAST(c AS BIGINT) AS centrality FROM c2""".stripMargin,
    // Mark-then-split replay: same punctuation injection, same
    // ([.!?])\s+ → \1 + U+001E rewrite, list positions as sentence ids,
    // empties dropped AFTER position assignment (as posexplode does).
    "text_sentences" ->
      """WITH p AS (SELECT doc_id,
        |             regexp_replace(regexp_replace(text, ' join ', '. Join ', 'g'),
        |                            ' data ', '! Data ', 'g') AS ptext
        |           FROM documents),
        |     m AS (SELECT doc_id,
        |             string_split(regexp_replace(ptext, '([.!?])\s+',
        |                                         '\1' || chr(30), 'g'),
        |                          chr(30)) AS l
        |           FROM p),
        |     x AS (SELECT doc_id, l, unnest(range(1, len(l) + 1)) AS i FROM m)
        |SELECT doc_id, CAST(i - 1 AS INTEGER) AS sent_id, l[i] AS sentence
        |FROM x WHERE l[i] <> ''""".stripMargin,
    // Same feature CTE, aggregated per registered domain — all-integer
    // aggregates (count / distinct-host count / n_chars sum).
    "text_domain_stats" ->
      s"""WITH u AS (SELECT doc_id, n_chars, $synthUrlSql AS url FROM documents),
         |$urlFeaturesCte
         |SELECT url_domain,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(count(DISTINCT url_host) AS BIGINT) AS n_hosts,
         |       CAST(sum(n_chars) AS BIGINT) AS n_tokens
         |FROM feats GROUP BY url_domain""".stripMargin,
    "text_bpe" ->
      s"""WITH RECURSIVE $bpeReplayCte
         |SELECT doc_id, CAST(len(toks) AS INTEGER) AS n_bpe,
         |       array_to_string(toks, chr(31)) AS bpe_joined
         |FROM btoks""".stripMargin,
    // Pre-tokenized replay: the SAME recursive replace chain over the
    // pretok merge dump, with e0 rebuilt through the regex pre-split —
    // extraction, boundary encoding, and every learned space-glued merge
    // must all agree for the joined token strings to hash-match.
    "text_bpe_pretok" ->
      s"""WITH RECURSIVE $bpePretokReplayCte
         |SELECT doc_id, CAST(len(toks) AS INTEGER) AS n_bpe,
         |       array_to_string(toks, chr(31)) AS bpe_joined
         |FROM btoks""".stripMargin,
    // Vocabulary replay: sorted distinct corpus code points first, then
    // merge products in rank order, first occurrence keeping the id.
    "text_bpe_vocab" ->
      """WITH m AS (SELECT CAST(rank AS INTEGER) AS r, a || b AS tok
        |           FROM read_parquet('{GRAFT_OUT}/text_bpe_merges/*.parquet')),
        |     al AS (SELECT DISTINCT x AS tok FROM (
        |              SELECT unnest([substr(replace(text, chr(31), ''), i, 1)
        |                             FOR i IN range(1, len(replace(text, chr(31), '')) + 1)]) AS x
        |              FROM documents) WHERE x <> ''),
        |     u AS (SELECT tok, 0 AS grp, NULL AS r FROM al
        |           UNION ALL SELECT tok, 1, r FROM m),
        |     seq AS (SELECT tok,
        |               row_number() OVER (ORDER BY grp, CASE WHEN grp = 0 THEN tok END, r) AS pos,
        |               row_number() OVER (PARTITION BY tok ORDER BY grp, r) AS dup
        |             FROM u),
        |     keep AS (SELECT tok, pos FROM seq WHERE dup = 1)
        |SELECT tok AS token,
        |       CAST(row_number() OVER (ORDER BY pos) - 1 AS INTEGER) AS id
        |FROM keep""".stripMargin,
    // Id replay: the merge-table tokenization CTE + one vocabulary join
    // per token position (UNK = -1).
    "text_bpe_ids" ->
      s"""WITH RECURSIVE $bpeReplayCte,
         | v AS (SELECT token, id FROM read_parquet('{GRAFT_OUT}/text_bpe_vocab/*.parquet')),
         | x AS (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i FROM btoks)
         |SELECT x.doc_id, CAST(x.i - 1 AS INTEGER) AS pos,
         |       CAST(COALESCE(v.id, -1) AS INTEGER) AS id
         |FROM x LEFT JOIN v ON x.toks[x.i] = v.token""".stripMargin,
    // Byte-fallback replay: the alphabet + first-win vocabulary re-derived
    // from scratch over the UNMODIFIED corpus (the text_bpe_vocab
    // construction), ids shifted +256; the tokenization CTE runs over
    // docmod (every third doc gains the accented/CJK tail — genuinely
    // outside that alphabet); an OOV token expands to its UTF-8 bytes via
    // the hex-pair decode, then the per-doc position renumbers over the
    // FLATTENED id stream.
    "text_bpe_ids_bytes" ->
      s"""WITH RECURSIVE
         | docmod AS (SELECT doc_id,
         |              CASE WHEN doc_id % 3 = 0
         |                   THEN text || ' d' || chr(233) || 'j' || chr(224) ||
         |                        ' ' || chr(20013) || chr(25991)
         |                   ELSE text END AS text
         |            FROM documents),
         | ${bpeReplayCte.replace("FROM documents", "FROM docmod")},
         | mm AS (SELECT CAST(rank AS INTEGER) AS r, a || b AS tok
         |        FROM read_parquet('{GRAFT_OUT}/text_bpe_merges/*.parquet')),
         | al AS (SELECT DISTINCT x AS tok FROM (
         |          SELECT unnest([substr(replace(text, chr(31), ''), i, 1)
         |                         FOR i IN range(1, len(replace(text, chr(31), '')) + 1)]) AS x
         |          FROM documents) WHERE x <> ''),
         | u AS (SELECT tok, 0 AS grp, NULL AS r FROM al
         |       UNION ALL SELECT tok, 1, r FROM mm),
         | sq AS (SELECT tok,
         |          row_number() OVER (ORDER BY grp, CASE WHEN grp = 0 THEN tok END, r) AS pos,
         |          row_number() OVER (PARTITION BY tok ORDER BY grp, r) AS dup
         |        FROM u),
         | v AS (SELECT tok AS token,
         |         CAST(row_number() OVER (ORDER BY pos) - 1 + 256 AS INTEGER) AS id
         |       FROM sq WHERE dup = 1),
         | x AS (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i FROM btoks),
         | tk AS (SELECT x.doc_id, x.i, x.toks[x.i] AS tok, v.id
         |        FROM x LEFT JOIN v ON x.toks[x.i] = v.token),
         | ex AS (SELECT doc_id, i,
         |          CASE WHEN id IS NOT NULL THEN [id]
         |               ELSE [CAST(16 * (strpos('0123456789ABCDEF', substr(p, 1, 1)) - 1)
         |                          + strpos('0123456789ABCDEF', substr(p, 2, 1)) - 1
         |                          AS INTEGER)
         |                     FOR p IN regexp_extract_all(hex(encode(tok)), '[0-9A-F]{2}')]
         |          END AS ids
         |        FROM tk),
         | fl AS (SELECT doc_id, i, unnest(ids) AS id,
         |               unnest(range(1, len(ids) + 1)) AS j
         |        FROM ex)
         |SELECT doc_id,
         |       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY i, j) - 1
         |            AS INTEGER) AS pos,
         |       CAST(id AS INTEGER) AS id
         |FROM fl""".stripMargin,
    // Fertility replay: BPE token counts from the merge-table replay,
    // char counts + grouping joined back from documents. LEFT JOIN +
    // coalesce keep NULL-text docs counted with 0 chars/tokens, matching
    // the Scala side (bpeTokens(NULL) = []).
    "text_bpe_stats" ->
      s"""WITH RECURSIVE $bpeReplayCte,
         |t AS (SELECT doc_id, CAST(coalesce(len(toks), 0) AS BIGINT) AS n_bpe
         |      FROM btoks),
         |g AS (SELECT d.lang, coalesce(length(d.text), 0) AS nc,
         |             coalesce(t.n_bpe, 0) AS n_bpe
         |      FROM documents d LEFT JOIN t ON d.doc_id = t.doc_id)
         |SELECT lang,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(nc) AS BIGINT) AS n_chars,
         |       CAST(sum(n_bpe) AS BIGINT) AS n_bpe,
         |       CASE WHEN sum(n_bpe) > 0
         |            THEN CAST(sum(nc) AS DOUBLE) / CAST(sum(n_bpe) AS DOUBLE)
         |            END AS chars_per_token
         |FROM g GROUP BY lang""".stripMargin,
    // sample_token_budget's bucket-major running-sum replay, with the token
    // counts swapped for the BPE replay's counts.
    // External-tokenizer replay: byte-level e0 via the dumped map, the
    // imported merges' replace chain, and the vocab-dump id probe with
    // real UNK −1s — the whole import path must agree with the files.
    "text_bpe_external" ->
      s"""WITH RECURSIVE $bpeExtReplayCte,
         |v AS (SELECT token, id
         |      FROM read_parquet('{GRAFT_OUT}/text_bpe_ext_vocab/*.parquet')),
         |tt AS (SELECT doc_id, generate_subscripts(toks, 1) AS ti,
         |              unnest(toks) AS t
         |       FROM btoks),
         |ids AS (SELECT doc_id,
         |          string_agg(CAST(COALESCE(v.id, -1) AS VARCHAR), ','
         |                     ORDER BY ti) AS ids_joined
         |        FROM tt LEFT JOIN v ON v.token = tt.t
         |        GROUP BY doc_id)
         |SELECT b.doc_id, CAST(len(b.toks) AS INTEGER) AS n_bpe,
         |       array_to_string(b.toks, chr(31)) AS bpe_joined,
         |       COALESCE(i.ids_joined, '') AS ids_joined
         |FROM btoks b LEFT JOIN ids i USING (doc_id)""".stripMargin,
    // tiktoken replay: the same byte-level pre-split + replace chain,
    // reading the RECOVERED merge dump and the rank vocab — the base64
    // parse, rank→merge recovery, and id probe all must agree.
    "text_bpe_tiktoken" ->
      s"""WITH RECURSIVE $bpeTkReplayCte,
         |v AS (SELECT token, id
         |      FROM read_parquet('{GRAFT_OUT}/text_bpe_tk_vocab/*.parquet')),
         |tt AS (SELECT doc_id, generate_subscripts(toks, 1) AS ti,
         |              unnest(toks) AS t
         |       FROM btoks),
         |ids AS (SELECT doc_id,
         |          string_agg(CAST(COALESCE(v.id, -1) AS VARCHAR), ','
         |                     ORDER BY ti) AS ids_joined
         |        FROM tt LEFT JOIN v ON v.token = tt.t
         |        GROUP BY doc_id)
         |SELECT b.doc_id, CAST(len(b.toks) AS INTEGER) AS n_bpe,
         |       array_to_string(b.toks, chr(31)) AS bpe_joined,
         |       COALESCE(i.ids_joined, '') AS ids_joined
         |FROM btoks b LEFT JOIN ids i USING (doc_id)""".stripMargin,
    // SentencePiece replay: '▁' preprocessing + character-level replace
    // chain over the recovered merges, ids = piece indexes with UNK −1.
    "text_bpe_sp" ->
      s"""WITH RECURSIVE $bpeSpReplayCte,
         |v AS (SELECT token, id
         |      FROM read_parquet('{GRAFT_OUT}/text_bpe_sp_vocab/*.parquet')),
         |tt AS (SELECT doc_id, generate_subscripts(toks, 1) AS ti,
         |              unnest(toks) AS t
         |       FROM btoks),
         |ids AS (SELECT doc_id,
         |          string_agg(CAST(COALESCE(v.id, -1) AS VARCHAR), ','
         |                     ORDER BY ti) AS ids_joined
         |        FROM tt LEFT JOIN v ON v.token = tt.t
         |        GROUP BY doc_id)
         |SELECT b.doc_id, CAST(len(b.toks) AS INTEGER) AS n_bpe,
         |       array_to_string(b.toks, chr(31)) AS bpe_joined,
         |       COALESCE(i.ids_joined, '') AS ids_joined
         |FROM btoks b LEFT JOIN ids i USING (doc_id)""".stripMargin,
    // SP byte-fallback replay: piece ids where the vocab matches, else
    // the token's UTF-8 hex pairs looked up as '<0xNN>' byte pieces —
    // entirely from the vocab dump (DuckDB's hex() is uppercase like the
    // SentencePiece byte-piece convention).
    "text_bpe_sp_bytes" ->
      s"""WITH RECURSIVE $bpeSpReplayCte,
         |v AS (SELECT token, id
         |      FROM read_parquet('{GRAFT_OUT}/text_bpe_sp_vocab/*.parquet')),
         |tt AS (SELECT doc_id, generate_subscripts(toks, 1) AS ti,
         |              unnest(toks) AS t
         |       FROM btoks),
         |tv AS (SELECT tt.doc_id, tt.ti, tt.t, v.id
         |       FROM tt LEFT JOIN v ON v.token = tt.t),
         |byt AS (SELECT u.doc_id, u.ti, u.bi, bv.id
         |        FROM (SELECT doc_id, ti, generate_subscripts(hl, 1) AS bi,
         |                     unnest(hl) AS h
         |              FROM (SELECT doc_id, ti,
         |                      regexp_extract_all(hex(encode(t)), '..') AS hl
         |                    FROM tv WHERE id IS NULL)) u
         |        JOIN v bv ON bv.token = '<0x' || u.h || '>'),
         |ids AS (SELECT doc_id, ti, 0 AS bi, id FROM tv WHERE id IS NOT NULL
         |        UNION ALL
         |        SELECT doc_id, ti, bi, id FROM byt),
         |agg AS (SELECT doc_id, CAST(count(*) AS INTEGER) AS n_ids,
         |          string_agg(CAST(id AS VARCHAR), ',' ORDER BY ti, bi)
         |            AS ids_joined
         |        FROM ids GROUP BY doc_id)
         |SELECT b.doc_id, COALESCE(a.n_ids, 0) AS n_ids,
         |       COALESCE(a.ids_joined, '') AS ids_joined
         |FROM btoks b LEFT JOIN agg a USING (doc_id)""".stripMargin,
    // Fertility replay under the tiktoken import: counts from the
    // recovered-merge replay, chars + grouping joined back (LEFT JOIN +
    // coalesce keep NULL-text docs, matching the Scala side).
    "text_bpe_tk_stats" ->
      s"""WITH RECURSIVE $bpeTkReplayCte,
         |t AS (SELECT doc_id, CAST(coalesce(len(toks), 0) AS BIGINT) AS n_bpe
         |      FROM btoks),
         |g AS (SELECT d.lang, coalesce(length(d.text), 0) AS nc,
         |             coalesce(t.n_bpe, 0) AS n_bpe
         |      FROM documents d LEFT JOIN t ON d.doc_id = t.doc_id)
         |SELECT lang,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(nc) AS BIGINT) AS n_chars,
         |       CAST(sum(n_bpe) AS BIGINT) AS n_bpe,
         |       CASE WHEN sum(n_bpe) > 0
         |            THEN CAST(sum(nc) AS DOUBLE) / CAST(sum(n_bpe) AS DOUBLE)
         |            END AS chars_per_token
         |FROM g GROUP BY lang""".stripMargin,
    // SP fertility replay: token counts from the '▁' replay CTE, chars
    // from the RAW documents text (the Scala side's n_chars contract).
    "text_bpe_sp_stats" ->
      s"""WITH RECURSIVE $bpeSpReplayCte,
         |t AS (SELECT doc_id, CAST(coalesce(len(toks), 0) AS BIGINT) AS n_bpe
         |      FROM btoks),
         |g AS (SELECT d.lang, coalesce(length(d.text), 0) AS nc,
         |             coalesce(t.n_bpe, 0) AS n_bpe
         |      FROM documents d LEFT JOIN t ON d.doc_id = t.doc_id)
         |SELECT lang,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(nc) AS BIGINT) AS n_chars,
         |       CAST(sum(n_bpe) AS BIGINT) AS n_bpe,
         |       CASE WHEN sum(n_bpe) > 0
         |            THEN CAST(sum(nc) AS DOUBLE) / CAST(sum(n_bpe) AS DOUBLE)
         |            END AS chars_per_token
         |FROM g GROUP BY lang""".stripMargin,
    // Unigram Viterbi replay: the FULL DP recomputed from the piece
    // dump (spUnigramReplayCte), tokens joined, ids via first-wins
    // name probe + <0xNN> byte expansion for unknown surfaces —
    // exactly spByteFallbackIds' convention.
    "text_sp_unigram" ->
      s"""WITH RECURSIVE $spUnigramReplayCte,
         |v AS (SELECT piece AS token, CAST(min(id) AS INTEGER) AS id
         |      FROM read_parquet('{GRAFT_OUT}/text_sp_unigram_pieces/*.parquet')
         |      GROUP BY piece),
         |tt AS (SELECT doc_id, generate_subscripts(toks, 1) AS ti,
         |              unnest(toks) AS t
         |       FROM btoks),
         |tv AS (SELECT tt.doc_id, tt.ti, tt.t, v.id
         |       FROM tt LEFT JOIN v ON v.token = tt.t),
         |byt AS (SELECT u.doc_id, u.ti, u.bi, bv.id
         |        FROM (SELECT doc_id, ti, generate_subscripts(hl, 1) AS bi,
         |                     unnest(hl) AS h
         |              FROM (SELECT doc_id, ti,
         |                      regexp_extract_all(hex(encode(t)), '..') AS hl
         |                    FROM tv WHERE id IS NULL)) u
         |        JOIN v bv ON bv.token = '<0x' || u.h || '>'),
         |idz AS (SELECT doc_id, ti, 0 AS bi, id FROM tv WHERE id IS NOT NULL
         |        UNION ALL
         |        SELECT doc_id, ti, bi, id FROM byt),
         |agg AS (SELECT doc_id,
         |          string_agg(CAST(id AS VARCHAR), ',' ORDER BY ti, bi)
         |            AS ids_joined
         |        FROM idz GROUP BY doc_id)
         |SELECT b.doc_id, CAST(len(b.toks) AS INTEGER) AS n_sp,
         |       COALESCE(array_to_string(b.toks, chr(31)), '') AS sp_joined,
         |       COALESCE(a.ids_joined, '') AS ids_joined
         |FROM btoks b LEFT JOIN agg a USING (doc_id)""".stripMargin,
    // Unigram fertility replay: token counts from the Viterbi CTE,
    // chars from the CAPPED raw text (the query's textCol contract).
    "text_sp_unigram_stats" ->
      s"""WITH RECURSIVE $spUnigramReplayCte,
         |t AS (SELECT doc_id, CAST(coalesce(len(toks), 0) AS BIGINT) AS n_sp
         |      FROM btoks),
         |g AS (SELECT d.lang,
         |             coalesce(length(substr(d.text, 1, $SpUnigramCap)), 0) AS nc,
         |             coalesce(t.n_sp, 0) AS n_sp
         |      FROM documents d LEFT JOIN t ON d.doc_id = t.doc_id)
         |SELECT lang,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(nc) AS BIGINT) AS n_chars,
         |       CAST(sum(n_sp) AS BIGINT) AS n_sp,
         |       CASE WHEN sum(n_sp) > 0
         |            THEN CAST(sum(nc) AS DOUBLE) / CAST(sum(n_sp) AS DOUBLE)
         |            END AS chars_per_token
         |FROM g GROUP BY lang""".stripMargin,
    // The budget replay under the tiktoken import's counts.
    "sample_token_budget_tk" ->
      s"""WITH RECURSIVE $bpeTkReplayCte,
         |t AS (SELECT doc_id, CAST(len(toks) AS INTEGER) AS n_bpe FROM btoks),
         |h AS (SELECT doc_id, n_bpe,
         |        (((doc_id % 2147483647) * 48271 % 2147483647) * 48271 % 2147483647) AS hh
         |      FROM t WHERE n_bpe > 0),
         |c AS (SELECT doc_id, n_bpe, hh % 8 AS bkt,
         |        CAST(sum(n_bpe) OVER (PARTITION BY hh % 8 ORDER BY hh, doc_id
         |                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         |      FROM h),
         |tot AS (SELECT bkt, CAST(sum(n_bpe) AS BIGINT) AS tot
         |        FROM h, LATERAL (SELECT hh % 8 AS bkt) GROUP BY bkt),
         |off AS (SELECT bkt,
         |          CAST(COALESCE(sum(tot) OVER (ORDER BY bkt
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
         |        FROM tot)
         |SELECT c.doc_id, c.n_bpe
         |FROM c JOIN off USING (bkt)
         |WHERE off.off + c.cum <= 20000""".stripMargin,
    // The budget replay under the Unigram tokenizer's Viterbi counts.
    "sample_token_budget_sp" ->
      s"""WITH RECURSIVE $spUnigramReplayCte,
         |t AS (SELECT doc_id, CAST(len(toks) AS INTEGER) AS n_sp FROM btoks),
         |h AS (SELECT doc_id, n_sp,
         |        (((doc_id % 2147483647) * 48271 % 2147483647) * 48271 % 2147483647) AS hh
         |      FROM t WHERE n_sp > 0),
         |c AS (SELECT doc_id, n_sp, hh % 8 AS bkt,
         |        CAST(sum(n_sp) OVER (PARTITION BY hh % 8 ORDER BY hh, doc_id
         |                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         |      FROM h),
         |tot AS (SELECT bkt, CAST(sum(n_sp) AS BIGINT) AS tot
         |        FROM h, LATERAL (SELECT hh % 8 AS bkt) GROUP BY bkt),
         |off AS (SELECT bkt,
         |          CAST(COALESCE(sum(tot) OVER (ORDER BY bkt
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
         |        FROM tot)
         |SELECT c.doc_id, c.n_sp
         |FROM c JOIN off USING (bkt)
         |WHERE off.off + c.cum <= 20000""".stripMargin,
    // The budget replay under the external tokenizer's counts.
    "sample_token_budget_gpt2" ->
      s"""WITH RECURSIVE $bpeExtReplayCte,
         |t AS (SELECT doc_id, CAST(len(toks) AS INTEGER) AS n_bpe FROM btoks),
         |h AS (SELECT doc_id, n_bpe,
         |        (((doc_id % 2147483647) * 48271 % 2147483647) * 48271 % 2147483647) AS hh
         |      FROM t WHERE n_bpe > 0),
         |c AS (SELECT doc_id, n_bpe, hh % 8 AS bkt,
         |        CAST(sum(n_bpe) OVER (PARTITION BY hh % 8 ORDER BY hh, doc_id
         |                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         |      FROM h),
         |tot AS (SELECT bkt, CAST(sum(n_bpe) AS BIGINT) AS tot
         |        FROM h, LATERAL (SELECT hh % 8 AS bkt) GROUP BY bkt),
         |off AS (SELECT bkt,
         |          CAST(COALESCE(sum(tot) OVER (ORDER BY bkt
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
         |        FROM tot)
         |SELECT c.doc_id, c.n_bpe
         |FROM c JOIN off USING (bkt)
         |WHERE off.off + c.cum <= 20000""".stripMargin,
    "sample_token_budget_bpe" ->
      s"""WITH RECURSIVE $bpeReplayCte,
         |t AS (SELECT doc_id, CAST(len(toks) AS INTEGER) AS n_bpe FROM btoks),
         |h AS (SELECT doc_id, n_bpe,
         |        (((doc_id % 2147483647) * 48271 % 2147483647) * 48271 % 2147483647) AS hh
         |      FROM t WHERE n_bpe > 0),
         |c AS (SELECT doc_id, n_bpe, hh % 8 AS bkt,
         |        CAST(sum(n_bpe) OVER (PARTITION BY hh % 8 ORDER BY hh, doc_id
         |                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         |      FROM h),
         |tot AS (SELECT bkt, CAST(sum(n_bpe) AS BIGINT) AS tot
         |        FROM h, LATERAL (SELECT hh % 8 AS bkt) GROUP BY bkt),
         |off AS (SELECT bkt,
         |          CAST(COALESCE(sum(tot) OVER (ORDER BY bkt
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
         |        FROM tot)
         |SELECT c.doc_id, c.n_bpe
         |FROM c JOIN off USING (bkt)
         |WHERE off.off + c.cum <= 20000""".stripMargin,
    // text_chunk's window arithmetic in BPE tokens (size 120, stride 96),
    // chunk text rebuilt by concatenation.
    "text_chunk_bpe" ->
      s"""WITH RECURSIVE $bpeReplayCte,
         |c AS (SELECT doc_id, toks, len(toks) AS n,
         |        CASE WHEN len(toks) <= 0 THEN 0
         |             WHEN len(toks) <= 120 THEN 1
         |             ELSE (len(toks) - 120 + 95) // 96 + 1 END AS nc
         |      FROM btoks),
         |x AS (SELECT doc_id, toks, n, unnest(range(nc)) AS i FROM c)
         |SELECT doc_id, i AS chunk_id,
         |       array_to_string(toks[(i*96+1):(i*96+120)], '') AS chunk_text,
         |       CAST(least(120, n - i*96) AS INTEGER) AS chunk_tokens
         |FROM x""".stripMargin,
    // Chunk boundaries are exact integer math over the token count —
    // chunk i covers 1-based token positions [i·stride+1, i·stride+40].
    "text_chunk" ->
      """WITH t AS (SELECT doc_id,
        |             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
        |           FROM documents),
        |     c AS (SELECT doc_id, toks, len(toks) AS n,
        |             CASE WHEN len(toks) <= 0 THEN 0
        |                  WHEN len(toks) <= 40 THEN 1
        |                  ELSE (len(toks) - 40 + 31) // 32 + 1 END AS nc
        |           FROM t),
        |     x AS (SELECT doc_id, toks, n, unnest(range(nc)) AS i FROM c)
        |SELECT doc_id, i AS chunk_id,
        |       array_to_string(toks[(i*32+1):(i*32+40)], ' ') AS chunk_text,
        |       CAST(least(40, n - i*32) AS INTEGER) AS chunk_tokens
        |FROM x""".stripMargin,
    "text_langid" ->
      """WITH t AS (SELECT doc_id,
        |             list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks,
        |             text
        |           FROM documents),
        |     s AS (SELECT doc_id,
        |             len(list_filter(toks, x -> x IN ('the','and','of','a','is','to')))   AS s_en,
        |             len(list_filter(toks, x -> x IN ('der','die','und','das','ist','ein'))) AS s_de,
        |             len(list_filter(toks, x -> x IN ('el','la','de','y','es','un')))    AS s_es,
        |             len(list_filter(toks, x -> x IN ('le','la','les','et','est','un'))) AS s_fr,
        |             len(regexp_extract_all(text, '[\x{4E00}-\x{9FFF}]'))               AS s_zh
        |           FROM t)
        |SELECT doc_id,
        |       CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
        |            WHEN s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
        |            WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
        |            WHEN s_fr >= s_zh THEN 'fr'
        |            ELSE 'zh' END AS lang_pred
        |FROM s""".stripMargin,
    // Full fit + argmax replay of the trained NB language ID: char-bigram
    // counts per (gram, lang), the top-256 vocabulary head (total desc,
    // gram asc), the FULL smoothed (vocab × langs) weight table (zero
    // counts keep their penalty), prior-logit biases, the ascending-order
    // weight fold per (doc, lang), + bias, argmax with lang-asc ties; a
    // doc with no vocab grams defaults to the highest-prior language.
    "text_langid_model" ->
      """WITH lt AS (SELECT doc_id, lang, lower(text) AS t FROM documents),
        |     lg AS (SELECT doc_id,
        |              unnest([substr(t, i, 2) FOR i IN range(1, len(t))]) AS gram
        |            FROM lt),
        |     lgl AS (SELECT lt.lang,
        |               unnest([substr(t, i, 2) FOR i IN range(1, len(t))]) AS gram
        |             FROM lt),
        |     lc AS (SELECT gram, lang, CAST(count(*) AS BIGINT) AS c
        |            FROM lgl GROUP BY 1, 2),
        |     lv AS (SELECT gram FROM (
        |              SELECT gram, sum(c) AS tot FROM lc GROUP BY 1)
        |            ORDER BY tot DESC, gram ASC LIMIT 256),
        |     langs AS (SELECT lang, CAST(count(*) AS BIGINT) AS nd
        |               FROM documents GROUP BY 1),
        |     vn AS (SELECT count(*) AS v FROM lv),
        |     fullc AS (SELECT lv.gram, langs.lang, COALESCE(lc.c, 0) AS c
        |               FROM lv CROSS JOIN langs
        |                    LEFT JOIN lc ON lv.gram = lc.gram AND langs.lang = lc.lang),
        |     ltot AS (SELECT lang, CAST(sum(c) AS BIGINT) AS tl FROM fullc GROUP BY 1),
        |     w AS (SELECT gram, f.lang,
        |             round(ln((c + 1.0) / (tl + v)), 9) + 0.0 AS weight
        |           FROM fullc f JOIN ltot USING (lang) CROSS JOIN vn),
        |     b AS (SELECT lang,
        |             round(ln(CAST(nd AS DOUBLE)
        |                      / CAST((SELECT sum(nd) FROM langs) AS DOUBLE)), 9) + 0.0 AS bias
        |           FROM langs),
        |     docsc AS (SELECT g.doc_id, w.lang,
        |                 list_reduce(list_prepend(0.0, list(weight ORDER BY weight)),
        |                             (a, x) -> a + x) AS s0
        |               FROM lg g JOIN w USING (gram) GROUP BY 1, 2),
        |     withb AS (SELECT doc_id, lang, s0 + bias AS score
        |               FROM docsc JOIN b USING (lang)),
        |     pred AS (SELECT doc_id, lang, score,
        |                     row_number() OVER (PARTITION BY doc_id
        |                                        ORDER BY score DESC, lang ASC) AS rn
        |              FROM withb),
        |     dflt AS (SELECT lang, bias FROM b ORDER BY bias DESC, lang ASC LIMIT 1)
        |SELECT d.doc_id,
        |       COALESCE(p.lang, (SELECT lang FROM dflt)) AS lang_pred,
        |       COALESCE(p.score, (SELECT bias FROM dflt)) AS lang_score
        |FROM documents d LEFT JOIN (SELECT doc_id, lang, score FROM pred WHERE rn = 1) p
        |     USING (doc_id)""".stripMargin,
    // Script counts recomputed with RE2's script classes over the same
    // marker-injected text; dominant-script tie-break replayed in the
    // same order (latin, cyrillic, han, arabic, hangul, kana).
    "text_script_profile" ->
      s"""WITH u AS (SELECT doc_id,
         |                  text || CASE doc_id % 5
         |                    WHEN 0 THEN '$ScriptMarkerCyr'
         |                    WHEN 1 THEN '$ScriptMarkerHan'
         |                    WHEN 2 THEN '$ScriptMarkerArab'
         |                    WHEN 3 THEN '$ScriptMarkerBad'
         |                    ELSE '' END AS t
         |           FROM documents),
         |     v AS (SELECT doc_id, t,
         |                  CAST(length(regexp_replace(t, '[^\\p{Latin}]', '', 'g')) AS BIGINT) AS n_latin,
         |                  CAST(length(regexp_replace(t, '[^\\p{Cyrillic}]', '', 'g')) AS BIGINT) AS n_cyrillic,
         |                  CAST(length(regexp_replace(t, '[^\\p{Han}]', '', 'g')) AS BIGINT) AS n_han,
         |                  CAST(length(regexp_replace(t, '[^\\p{Arabic}]', '', 'g')) AS BIGINT) AS n_arabic,
         |                  CAST(length(regexp_replace(t, '[^\\p{Hangul}]', '', 'g')) AS BIGINT) AS n_hangul,
         |                  CAST(length(regexp_replace(t, '[^\\p{Hiragana}\\p{Katakana}]', '', 'g')) AS BIGINT) AS n_kana
         |           FROM u)
         |SELECT doc_id, CAST(length(t) AS BIGINT) AS n_chars,
         |       n_latin, n_cyrillic, n_han, n_arabic, n_hangul, n_kana,
         |       CAST(length(regexp_replace(t, '[^0-9]', '', 'g')) AS BIGINT) AS n_digit,
         |       CAST(length(regexp_replace(t, '[^\\x{FFFD}]', '', 'g')) AS BIGINT) AS n_replacement,
         |       CASE WHEN greatest(n_latin, n_cyrillic, n_han, n_arabic, n_hangul, n_kana) = 0 THEN 'none'
         |            WHEN n_latin = greatest(n_latin, n_cyrillic, n_han, n_arabic, n_hangul, n_kana) THEN 'latin'
         |            WHEN n_cyrillic = greatest(n_cyrillic, n_han, n_arabic, n_hangul, n_kana) THEN 'cyrillic'
         |            WHEN n_han = greatest(n_han, n_arabic, n_hangul, n_kana) THEN 'han'
         |            WHEN n_arabic = greatest(n_arabic, n_hangul, n_kana) THEN 'arabic'
         |            WHEN n_hangul = greatest(n_hangul, n_kana) THEN 'hangul'
         |            ELSE 'kana' END AS dominant_script
         |FROM v""".stripMargin,
    // Dominant script recomputed with RE2 over the RAW text, then the
    // per-lang expectation and the verdict.
    "text_script_lang_check" ->
      """WITH v AS (SELECT doc_id, lang,
        |                  CAST(length(regexp_replace(text, '[^\p{Latin}]', '', 'g')) AS BIGINT) AS n_latin,
        |                  CAST(length(regexp_replace(text, '[^\p{Cyrillic}]', '', 'g')) AS BIGINT) AS n_cyrillic,
        |                  CAST(length(regexp_replace(text, '[^\p{Han}]', '', 'g')) AS BIGINT) AS n_han,
        |                  CAST(length(regexp_replace(text, '[^\p{Arabic}]', '', 'g')) AS BIGINT) AS n_arabic,
        |                  CAST(length(regexp_replace(text, '[^\p{Hangul}]', '', 'g')) AS BIGINT) AS n_hangul,
        |                  CAST(length(regexp_replace(text, '[^\p{Hiragana}\p{Katakana}]', '', 'g')) AS BIGINT) AS n_kana
        |           FROM documents),
        |     d AS (SELECT doc_id, lang,
        |                  CASE WHEN greatest(n_latin, n_cyrillic, n_han, n_arabic, n_hangul, n_kana) = 0 THEN 'none'
        |                       WHEN n_latin = greatest(n_latin, n_cyrillic, n_han, n_arabic, n_hangul, n_kana) THEN 'latin'
        |                       WHEN n_cyrillic = greatest(n_cyrillic, n_han, n_arabic, n_hangul, n_kana) THEN 'cyrillic'
        |                       WHEN n_han = greatest(n_han, n_arabic, n_hangul, n_kana) THEN 'han'
        |                       WHEN n_arabic = greatest(n_arabic, n_hangul, n_kana) THEN 'arabic'
        |                       WHEN n_hangul = greatest(n_hangul, n_kana) THEN 'hangul'
        |                       ELSE 'kana' END AS dominant_script
        |           FROM v)
        |SELECT doc_id, lang, dominant_script,
        |       CASE WHEN lang = 'zh' THEN 'han' ELSE 'latin' END AS expected_script,
        |       dominant_script = CASE WHEN lang = 'zh' THEN 'han' ELSE 'latin' END
        |         AS consistent
        |FROM d""".stripMargin,
    "text_fingerprint" ->
      """SELECT doc_id,
        |       md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |FROM documents""".stripMargin,
    "text_top_ngrams" ->
      """SELECT gram, doc_freq FROM (
        |  SELECT gram, CAST(count(*) AS BIGINT) AS doc_freq
        |  FROM (SELECT doc_id,
        |          unnest(list_distinct([substr(text, i, 3) FOR i IN range(1, len(text) - 1)])) AS gram
        |        FROM documents)
        |  GROUP BY gram)
        |ORDER BY doc_freq DESC, gram LIMIT 20""".stripMargin,
    "text_quality_filter" ->
      """WITH t AS (SELECT doc_id, lang,
        |             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks,
        |             text
        |           FROM documents)
        |SELECT doc_id, lang FROM t
        |WHERE len(toks) >= 10
        |  AND (CASE WHEN len(text) > 0
        |            THEN CAST(len(regexp_extract_all(text, '[!-/:-@\[-`{-~]')) AS DOUBLE)
        |                 / CAST(len(text) AS DOUBLE) ELSE 0.0 END) <= 0.1
        |  AND (CASE WHEN len(toks) > 0
        |            THEN CAST(len(list_filter(toks,
        |                   x -> x IN ('the','a','an','and','of','is','to','in'))) AS DOUBLE)
        |                 / CAST(len(toks) AS DOUBLE) ELSE 0.0 END) >= 0.05""".stripMargin,
    // Exact interpolated percentiles: Spark `percentile` and DuckDB
    // `quantile_cont` share the p·(n−1) linear-interpolation definition.
    "text_corpus_stats" ->
      """WITH t AS (SELECT lang,
        |             CAST(len(list_filter(string_split_regex(text, '\s+'),
        |                                  x -> x <> '')) AS BIGINT) AS n
        |           FROM documents)
        |SELECT lang,
        |  count(*) AS n_docs,
        |  CAST(sum(n) AS BIGINT) AS total_tokens,
        |  CAST(sum(n) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_tokens,
        |  quantile_cont(n, 0.5) AS p50_tokens,
        |  quantile_cont(n, 0.9) AS p90_tokens
        |FROM t GROUP BY lang""".stripMargin,
    "text_truncation_report" ->
      """WITH t AS (SELECT lang,
        |             CAST(len(list_filter(string_split_regex(text, '\s+'),
        |                                  x -> x <> '')) AS BIGINT) AS n
        |           FROM documents)
        |SELECT lang,
        |  count(*) AS n_docs,
        |  CAST(sum(CASE WHEN n > 64 THEN 1 ELSE 0 END) AS BIGINT) AS n_truncated,
        |  CAST(sum(n) AS BIGINT) AS total_tokens,
        |  CAST(sum(least(n, 64)) AS BIGINT) AS tokens_kept,
        |  CAST(sum(greatest(n - 64, 0)) AS BIGINT) AS tokens_lost
        |FROM t GROUP BY lang""".stripMargin,
    "text_normalize" ->
      """SELECT doc_id,
        |  trim(regexp_replace(lower(strip_accents(nfc_normalize(text))),
        |                      '\s+', ' ', 'g')) AS text
        |FROM documents""".stripMargin,
    // Common-line removal replay: same doc-frequency threshold, same
    // order-preserving reassembly; docs reduced to nothing come back "".
    "text_line_dedup" ->
      """WITH l AS (SELECT doc_id, string_split_regex(text, ' ') AS ls FROM documents),
        |     e AS (SELECT doc_id,
        |             unnest([{'pos': i, 'ln': ls[i]} FOR i IN range(1, len(ls)+1)]) AS u
        |           FROM l),
        |     x AS (SELECT doc_id, u.pos AS pos, u.ln AS ln FROM e),
        |     c AS (SELECT ln FROM x GROUP BY ln HAVING count(DISTINCT doc_id) > 50),
        |     k AS (SELECT doc_id, pos, ln FROM x WHERE ln NOT IN (SELECT ln FROM c)),
        |     re AS (SELECT doc_id, string_agg(ln, ' ' ORDER BY pos) AS t
        |            FROM k GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(re.t, '') AS text
        |FROM documents d LEFT JOIN re ON d.doc_id = re.doc_id""".stripMargin,
    // Keep-first within each doc: DuckDB's indexed list lambda replays the
    // same growing-prefix first-occurrence test.
    "text_line_dedup_doc" ->
      """SELECT doc_id,
        |       array_to_string(
        |         list_filter(string_split_regex(text, ' '),
        |                     (x, i) -> list_position(string_split_regex(text, ' ')[1:i], x) = i),
        |         ' ') AS text
        |FROM documents""".stripMargin,
    // Repeated-span removal replay: token 3-gram starts whose gram is
    // shared by >5 distinct docs cover positions [q, q+2]; only documents
    // that actually lose a token are rebuilt (others pass through
    // byte-identical); a fully-covered doc becomes ''.
    "text_span_dedup" ->
      """WITH t AS (SELECT doc_id, text,
        |             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS w
        |           FROM documents),
        |     g AS (SELECT doc_id, q, array_to_string(w[(q+1):(q+3)], ' ') AS gram
        |           FROM (SELECT doc_id, w, unnest(range(len(w) - 2)) AS q
        |                 FROM t WHERE len(w) >= 3)),
        |     c AS (SELECT gram FROM g GROUP BY gram
        |           HAVING count(DISTINCT doc_id) > 5),
        |     cov AS (SELECT DISTINCT doc_id, pos
        |             FROM (SELECT doc_id, q + unnest(range(3)) AS pos
        |                   FROM g WHERE gram IN (SELECT gram FROM c))),
        |     aff AS (SELECT DISTINCT doc_id FROM cov),
        |     p AS (SELECT doc_id, unnest(w) AS tok,
        |             unnest(range(len(w))) AS pos FROM t
        |           WHERE doc_id IN (SELECT doc_id FROM aff)),
        |     k AS (SELECT p.doc_id, p.pos, p.tok FROM p
        |           ANTI JOIN cov ON p.doc_id = cov.doc_id AND p.pos = cov.pos),
        |     re AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS nt
        |            FROM k GROUP BY doc_id)
        |SELECT t.doc_id,
        |       CASE WHEN t.doc_id IN (SELECT doc_id FROM aff)
        |            THEN coalesce(re.nt, '') ELSE t.text END AS text
        |FROM t LEFT JOIN re ON t.doc_id = re.doc_id""".stripMargin,
    // The curation chain replayed stage by stage from the already-verified
    // fragments. DuckDB regexp_replace needs the 'g' flag to match Spark's
    // global replace in the fingerprint normalization.
    "corpus_curate" ->
      """WITH t AS (SELECT doc_id, text,
        |             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks,
        |             list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS w
        |           FROM documents),
        |     q AS (SELECT * FROM t
        |           WHERE len(toks) >= 5
        |             AND (CASE WHEN len(text) > 0
        |                       THEN CAST(len(regexp_extract_all(text, '[!-/:-@\[-`{-~]')) AS DOUBLE)
        |                            / CAST(len(text) AS DOUBLE) ELSE 0.0 END) <= 0.2),
        |     bq AS (SELECT *,
        |              CASE WHEN len(w) >= 2
        |                   THEN [w[i] || ' ' || w[i+1] FOR i IN range(1, len(w))]
        |                   ELSE CAST([] AS VARCHAR[]) END AS bg
        |            FROM q),
        |     r AS (SELECT doc_id, text FROM bq
        |           WHERE (CASE WHEN len(w) > 0
        |                       THEN 1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / CAST(len(w) AS DOUBLE)
        |                       ELSE 0.0 END) <= 0.3
        |             AND (CASE WHEN len(w) > 0
        |                       THEN CAST(list_max(list_transform(list_distinct(w),
        |                                    d -> len(list_filter(w, x -> x = d)))) AS DOUBLE)
        |                            / CAST(len(w) AS DOUBLE) ELSE 0.0 END) <= 0.2
        |             AND (CASE WHEN len(bg) > 0
        |                       THEN CAST(list_max(list_transform(list_distinct(bg),
        |                                    d -> len(list_filter(bg, x -> x = d)))) AS DOUBLE)
        |                            / CAST(len(bg) AS DOUBLE) ELSE 0.0 END) <= 0.18),
        |     d AS (SELECT min(doc_id) AS doc_id
        |           FROM (SELECT doc_id,
        |                   md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |                 FROM r)
        |           GROUP BY fp)
        |SELECT doc_id FROM d
        |WHERE (((doc_id % 2147483647) * 48271 % 2147483647) * 48271 % 2147483647) % 100 < 50""".stripMargin,
    // Marginal per-rule failure counts over the same quality + repetition
    // formulas (each rule independently over the full input)
    "corpus_funnel" ->
      """WITH t AS (SELECT text,
        |             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks,
        |             list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS w
        |           FROM documents),
        |     b AS (SELECT *, CASE WHEN len(w) >= 2
        |                          THEN [w[i] || ' ' || w[i+1] FOR i IN range(1, len(w))]
        |                          ELSE CAST([] AS VARCHAR[]) END AS bg
        |           FROM t),
        |     f AS (SELECT
        |             (len(toks) < 5) AS f_min,
        |             (CASE WHEN len(text) > 0
        |                   THEN CAST(len(regexp_extract_all(text, '[!-/:-@\[-`{-~]')) AS DOUBLE)
        |                        / CAST(len(text) AS DOUBLE) ELSE 0.0 END > 0.2) AS f_punct,
        |             (CASE WHEN len(w) > 0
        |                   THEN 1.0 - CAST(len(list_distinct(w)) AS DOUBLE)
        |                              / CAST(len(w) AS DOUBLE)
        |                   ELSE 0.0 END > 0.3) AS f_dup,
        |             (CASE WHEN len(w) > 0
        |                   THEN CAST(list_max(list_transform(list_distinct(w),
        |                          d -> len(list_filter(w, x -> x = d)))) AS DOUBLE)
        |                        / CAST(len(w) AS DOUBLE) ELSE 0.0 END > 0.2) AS f_topw,
        |             (CASE WHEN len(bg) > 0
        |                   THEN CAST(list_max(list_transform(list_distinct(bg),
        |                          d -> len(list_filter(bg, x -> x = d)))) AS DOUBLE)
        |                        / CAST(len(bg) AS DOUBLE) ELSE 0.0 END > 0.18) AS f_topb
        |           FROM b),
        |     g AS (SELECT *, (f_min OR f_punct OR f_dup OR f_topw OR f_topb) AS f_any FROM f)
        |SELECT 'input' AS stage, CAST(count(*) AS BIGINT) AS n_docs FROM g
        |UNION ALL SELECT 'quality_min_tokens',
        |  CAST(coalesce(sum(CASE WHEN f_min THEN 1 ELSE 0 END), 0) AS BIGINT) FROM g
        |UNION ALL SELECT 'quality_punct_ratio',
        |  CAST(coalesce(sum(CASE WHEN f_punct THEN 1 ELSE 0 END), 0) AS BIGINT) FROM g
        |UNION ALL SELECT 'rep_dup_word',
        |  CAST(coalesce(sum(CASE WHEN f_dup THEN 1 ELSE 0 END), 0) AS BIGINT) FROM g
        |UNION ALL SELECT 'rep_top_word',
        |  CAST(coalesce(sum(CASE WHEN f_topw THEN 1 ELSE 0 END), 0) AS BIGINT) FROM g
        |UNION ALL SELECT 'rep_top_bigram',
        |  CAST(coalesce(sum(CASE WHEN f_topb THEN 1 ELSE 0 END), 0) AS BIGINT) FROM g
        |UNION ALL SELECT 'fail_any',
        |  CAST(coalesce(sum(CASE WHEN f_any THEN 1 ELSE 0 END), 0) AS BIGINT) FROM g
        |UNION ALL SELECT 'kept',
        |  CAST(coalesce(sum(CASE WHEN NOT f_any THEN 1 ELSE 0 END), 0) AS BIGINT) FROM g""".stripMargin,
    "text_diversity" ->
      """WITH toks AS (SELECT lang,
        |                list_filter(string_split_regex(lower(text), '\s+'),
        |                            x -> x <> '') AS ts
        |              FROM documents),
        |     grams AS (SELECT lang,
        |                 unnest([array_to_string(ts[i:i+1], ' ')
        |                         FOR i IN range(1, len(ts))]) AS gram
        |               FROM toks WHERE len(ts) >= 2)
        |SELECT lang AS "group",
        |       CAST(count(*) AS BIGINT) AS n_grams,
        |       CAST(count(DISTINCT gram) AS BIGINT) AS distinct_ngrams,
        |       round(CAST(count(DISTINCT gram) AS DOUBLE) / count(*), 9) AS diversity
        |FROM grams GROUP BY 1""".stripMargin,
    // rank on the 9-decimal-rounded score (both engines) so libm ulp
    // differences in ln cannot flip near-ties; exact ties break by term
    "text_tfidf" ->
      """WITH toks AS (SELECT doc_id,
        |                unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |                                   x -> x <> '')) AS term
        |              FROM documents),
        |     tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |            FROM toks GROUP BY 1, 2),
        |     dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |     n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
        |     scored AS (SELECT doc_id, tf.term AS term,
        |                  round(tf * ln(n.n / dfq.df), 9) AS tfidf
        |                FROM tf, dfq, n WHERE tf.term = dfq.term)
        |SELECT doc_id, term, tfidf FROM (
        |  SELECT doc_id, term, tfidf,
        |         row_number() OVER (PARTITION BY doc_id
        |                            ORDER BY tfidf DESC, term) AS rn
        |  FROM scored)
        |WHERE rn <= 3""".stripMargin,
    // sim_import_topk: a valid external dump must import as a no-op, so
    // its oracle is sim_topk's verbatim (the validation projection adds
    // no rows, drops no rows, and float->float casts are identity).
    "sim_import_topk" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |     c AS (SELECT vec_id AS id,
        |             list_sum([CAST(embedding[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)
        |                       FOR i IN range(1, len(embedding) + 1)])
        |             / (sqrt(list_sum([CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
        |                               FOR i IN range(1, len(embedding) + 1)]))
        |                * sqrt(list_sum([CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)
        |                                 FOR i IN range(1, len(qe) + 1)]))) AS cos
        |           FROM embeddings, q)
        |SELECT id, cos FROM c ORDER BY cos DESC, id LIMIT 10""".stripMargin,
    "sim_topk" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |     c AS (SELECT vec_id AS id,
        |             list_sum([CAST(embedding[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)
        |                       FOR i IN range(1, len(embedding) + 1)])
        |             / (sqrt(list_sum([CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
        |                               FOR i IN range(1, len(embedding) + 1)]))
        |                * sqrt(list_sum([CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)
        |                                 FOR i IN range(1, len(qe) + 1)]))) AS cos
        |           FROM embeddings, q)
        |SELECT id, cos FROM c ORDER BY cos DESC, id LIMIT 10""".stripMargin,
    // Same IVF replay as sim_ivf, over the 256-cell aux dump and 32 probes
    // (the broadcast-assignment path — argmin semantics identical).
    "sim_ivf_bcast" ->
      """WITH cent AS (SELECT cell_id, list(value ORDER BY pos) AS c
        |              FROM read_parquet('{GRAFT_OUT}/sim_ivf_bcast_centroids/*.parquet')
        |              GROUP BY cell_id),
        |     q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |     qd AS (SELECT cell_id,
        |              list_sum([(CAST(qe[i] AS DOUBLE) - c[i]) * (CAST(qe[i] AS DOUBLE) - c[i])
        |                        FOR i IN range(1, 65)]) AS d
        |            FROM cent, q),
        |     probed AS (SELECT cell_id FROM qd ORDER BY d, cell_id LIMIT 32),
        |     ad AS (SELECT e.vec_id, e.embedding, cent.cell_id,
        |              list_sum([(CAST(e.embedding[i] AS DOUBLE) - cent.c[i])
        |                        * (CAST(e.embedding[i] AS DOUBLE) - cent.c[i])
        |                        FOR i IN range(1, 65)]) AS d
        |            FROM embeddings e CROSS JOIN cent),
        |     assign AS (SELECT vec_id, embedding, cell_id,
        |                  row_number() OVER (PARTITION BY vec_id ORDER BY d, cell_id) AS rn
        |                FROM ad),
        |     sel AS (SELECT vec_id, embedding FROM assign
        |             WHERE rn = 1 AND cell_id IN (SELECT cell_id FROM probed)),
        |     c AS (SELECT vec_id AS id,
        |             list_sum([CAST(embedding[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)
        |                       FOR i IN range(1, 65)])
        |             / (sqrt(list_sum([CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
        |                               FOR i IN range(1, 65)]))
        |                * sqrt(list_sum([CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)
        |                                 FOR i IN range(1, 65)]))) AS cos
        |           FROM sel, q)
        |SELECT id, cos FROM c ORDER BY cos DESC, id LIMIT 10""".stripMargin,
    // Quantized cosine = cosine of the CODE vectors (scales cancel), so the
    // replay is exact integer arithmetic in double on both engines.
    "sim_topk_quantized" ->
      """WITH s AS (SELECT vec_id, embedding,
        |             list_max([abs(CAST(embedding[i] AS DOUBLE))
        |                       FOR i IN range(1, 65)]) / 127.0 AS sc
        |           FROM embeddings),
        |     e AS (SELECT vec_id,
        |             [CASE WHEN sc > 0
        |                   THEN greatest(-127.0, least(127.0,
        |                          floor(CAST(embedding[i] AS DOUBLE) / sc + 0.5)))
        |                   ELSE 0.0 END FOR i IN range(1, 65)] AS codes
        |           FROM s),
        |     qc AS (SELECT codes AS qcodes FROM e WHERE vec_id = 0),
        |     c AS (SELECT vec_id AS id,
        |             list_sum([codes[i] * qcodes[i] FOR i IN range(1, 65)])
        |             / (sqrt(list_sum([codes[i] * codes[i] FOR i IN range(1, 65)]))
        |                * sqrt(list_sum([qcodes[i] * qcodes[i] FOR i IN range(1, 65)]))) AS cos
        |           FROM e, qc)
        |SELECT id, cos FROM c ORDER BY cos DESC, id LIMIT 10""".stripMargin,
    // floor(x + 0.5) on both engines — round() half-rule differs between
    // engines, floor does not.
    // Outlier replay from the dumped stats: same sequential squared-distance
    // fold, same (d − μ)/σ z-score, same strict > threshold.
    "sim_outliers" ->
      """WITH mu AS (SELECT list(value ORDER BY pos) AS m
        |            FROM read_parquet('{GRAFT_OUT}/sim_outlier_stats/*.parquet')
        |            WHERE pos >= 0),
        |     st AS (SELECT
        |              (SELECT value FROM read_parquet('{GRAFT_OUT}/sim_outlier_stats/*.parquet') WHERE pos = -1) AS md,
        |              (SELECT value FROM read_parquet('{GRAFT_OUT}/sim_outlier_stats/*.parquet') WHERE pos = -2) AS sd),
        |     d AS (SELECT e.vec_id AS id,
        |             sqrt(list_sum([(CAST(e.embedding[i] AS DOUBLE) - mu.m[i])
        |                            * (CAST(e.embedding[i] AS DOUBLE) - mu.m[i])
        |                            FOR i IN range(1, 65)])) AS dist
        |           FROM embeddings e CROSS JOIN mu)
        |SELECT d.id, d.dist, (d.dist - st.md) / st.sd AS z
        |FROM d CROSS JOIN st
        |WHERE (d.dist - st.md) / st.sd > 1.5""".stripMargin,
    // Element-wise group means: DuckDB zips parallel unnests; both engines
    // round to 1e-9 half-away-from-zero after one double division.
    "sim_group_centroids" ->
      """WITH e AS (SELECT label,
        |             unnest(embedding) AS x,
        |             unnest(range(1, len(embedding) + 1)) AS i
        |           FROM embeddings WHERE embedding IS NOT NULL),
        |     g AS (SELECT label, i, sum(CAST(x AS DOUBLE)) AS s, count(*) AS c
        |           FROM e GROUP BY 1, 2)
        |SELECT label, CAST(i - 1 AS INTEGER) AS pos, round(s / c, 9) AS mean_val,
        |       CAST(c AS BIGINT) AS n_vectors
        |FROM g""".stripMargin,
    // drift replay: per-dim round(sum/n, 9) means per half, avg norms,
    // and the shift recomputed from the oracle's OWN rounded means (the
    // grid-sum rule makes both engines' shifts identical)
    "sim_embedding_drift" ->
      """WITH rm AS (SELECT i, round(sum(CAST(embedding[i] AS DOUBLE)) / count(*), 9) AS v
        |            FROM embeddings, range(1, 65) t(i)
        |            WHERE vec_id % 2 = 0 AND embedding IS NOT NULL GROUP BY i),
        |     cm AS (SELECT i, round(sum(CAST(embedding[i] AS DOUBLE)) / count(*), 9) AS v
        |            FROM embeddings, range(1, 65) t(i)
        |            WHERE vec_id % 2 <> 0 AND embedding IS NOT NULL GROUP BY i),
        |     rv AS (SELECT list(v ORDER BY i) AS m FROM rm),
        |     cv AS (SELECT list(v ORDER BY i) AS m FROM cm),
        |     rn AS (SELECT round(avg(sqrt(list_sum(
        |                    [CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
        |                     FOR i IN range(1, 65)]))), 9) AS nv,
        |                   CAST(count(*) AS DOUBLE) AS n
        |            FROM embeddings WHERE vec_id % 2 = 0 AND embedding IS NOT NULL),
        |     cn AS (SELECT round(avg(sqrt(list_sum(
        |                    [CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
        |                     FOR i IN range(1, 65)]))), 9) AS nv,
        |                   CAST(count(*) AS DOUBLE) AS n
        |            FROM embeddings WHERE vec_id % 2 <> 0 AND embedding IS NOT NULL),
        |     shift AS (SELECT
        |         CASE WHEN sqrt(list_sum([rv.m[i] * rv.m[i] FOR i IN range(1, 65)])) > 0
        |               AND sqrt(list_sum([cv.m[i] * cv.m[i] FOR i IN range(1, 65)])) > 0
        |              THEN round(list_sum([rv.m[i] * cv.m[i] FOR i IN range(1, 65)])
        |               / (sqrt(list_sum([rv.m[i] * rv.m[i] FOR i IN range(1, 65)]))
        |                  * sqrt(list_sum([cv.m[i] * cv.m[i] FOR i IN range(1, 65)]))), 9)
        |              ELSE 0.0 END AS cos,
        |         round(sqrt(list_sum([(rv.m[i] - cv.m[i]) * (rv.m[i] - cv.m[i])
        |                              FOR i IN range(1, 65)])), 9) AS l2
        |       FROM rv, cv)
        |SELECT 'mean' AS stat, CAST(rm.i - 1 AS INTEGER) AS pos,
        |       rm.v AS ref_val, cm.v AS cur_val
        |FROM rm JOIN cm ON rm.i = cm.i
        |UNION ALL SELECT 'mean_norm', -1, rn.nv, cn.nv FROM rn, cn
        |UNION ALL SELECT 'count', -1, rn.n, cn.n FROM rn, cn
        |UNION ALL SELECT 'centroid_shift', -1, shift.cos, shift.l2 FROM shift""".stripMargin,
    // Batch-retrieval replay: identical cosine formula (sequential fold,
    // dot / (norm · qnorm) association), identical (cos DESC, id) ranking.
    "sim_topk_batch" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qe,
        |             sqrt(list_sum([CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
        |                            FOR i IN range(1, 65)])) AS qnrm
        |           FROM embeddings WHERE vec_id < 5),
        |     b AS (SELECT vec_id AS id, embedding,
        |             sqrt(list_sum([CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
        |                            FOR i IN range(1, 65)])) AS nrm
        |           FROM embeddings),
        |     s AS (SELECT q.query_id, b.id,
        |             list_sum([CAST(b.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)
        |                       FOR i IN range(1, 65)]) / (b.nrm * q.qnrm) AS cos
        |           FROM b CROSS JOIN q
        |           WHERE b.nrm > 0 AND q.qnrm > 0),
        |     r AS (SELECT query_id, id, cos,
        |             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, id) AS rn
        |           FROM s)
        |SELECT query_id, id, cos FROM r WHERE rn <= 10""".stripMargin,
    // PCA replay from the dumped loadings: y = emb·w − offset, the same
    // sequential fold and the same driver-precomputed μ·w subtraction.
    "sim_pca" ->
      """WITH w AS (SELECT out_pos, list(value ORDER BY in_pos) AS r
        |           FROM read_parquet('{GRAFT_OUT}/sim_pca_loadings/*.parquet')
        |           WHERE in_pos >= 0 GROUP BY out_pos),
        |     o AS (SELECT out_pos, value AS off
        |           FROM read_parquet('{GRAFT_OUT}/sim_pca_loadings/*.parquet')
        |           WHERE in_pos = -1),
        |     p AS (SELECT e.vec_id, w.out_pos AS pos,
        |             list_sum([CAST(e.embedding[i] AS DOUBLE) * w.r[i]
        |                       FOR i IN range(1, 65)]) - o.off AS value
        |           FROM embeddings e CROSS JOIN w JOIN o ON w.out_pos = o.out_pos)
        |SELECT vec_id, pos, value FROM p""".stripMargin,
    // Projection replay over the dumped sign matrix: same sequential fold,
    // same √outDim division.
    "sim_random_projection" ->
      """WITH m AS (SELECT out_pos, list(value ORDER BY in_pos) AS r
        |           FROM read_parquet('{GRAFT_OUT}/sim_rp_matrix/*.parquet')
        |           GROUP BY out_pos),
        |     p AS (SELECT e.vec_id, m.out_pos AS pos,
        |             list_sum([CAST(e.embedding[i] AS DOUBLE) * m.r[i]
        |                       FOR i IN range(1, 65)]) / sqrt(16.0) AS value
        |           FROM embeddings e CROSS JOIN m)
        |SELECT vec_id, pos, value FROM p""".stripMargin,
    "sim_quantize" ->
      """WITH q AS (SELECT vec_id, embedding,
        |             list_max([abs(CAST(embedding[i] AS DOUBLE))
        |                       FOR i IN range(1, len(embedding) + 1)]) / 127.0 AS scale
        |           FROM embeddings),
        |     p AS (SELECT unnest(range(0, 64)) AS pos)
        |SELECT vec_id, scale, CAST(pos AS INTEGER) AS pos,
        |       CAST(CASE WHEN scale > 0
        |                 THEN greatest(-127.0, least(127.0,
        |                        floor(CAST(embedding[pos + 1] AS DOUBLE) / scale + 0.5)))
        |                 ELSE 0.0 END AS TINYINT) AS code
        |FROM q CROSS JOIN p""".stripMargin,
    // data fact (checked): max natural pairwise cosine is 0.513, far below
    // the 0.99 threshold — so the ≥0.99 pairs are exactly the injected
    // copies, and the oracle computes the same self-cosine formula on them.
    "sim_near_dup" ->
      """SELECT vec_id AS id_a, vec_id + 10000 AS id_b,
        |       list_sum([CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
        |                 FOR i IN range(1, len(embedding) + 1)])
        |       / (sqrt(list_sum([CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
        |                         FOR i IN range(1, len(embedding) + 1)]))
        |          * sqrt(list_sum([CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
        |                           FOR i IN range(1, len(embedding) + 1)]))) AS cos
        |FROM embeddings WHERE vec_id % 5 = 0""".stripMargin,
    "sim_dedup_cluster" ->
      """SELECT vec_id, vec_id AS cluster_id FROM embeddings
        |UNION ALL
        |SELECT vec_id + 10000 AS vec_id, vec_id AS cluster_id
        |FROM embeddings WHERE vec_id % 5 = 0""".stripMargin,
    // Full replay of the SemDeDup rule over the sim_ivf_centroids dump:
    // nearest-cell assignment (ties → smaller cell, as ivfCell), then drop
    // any doc with a smaller-id same-cell neighbor at cosine ≥ 0.95. The
    // ×1.01 copies are built with FLOAT arithmetic on both sides, so the
    // perturbed embeddings are bit-identical.
    "sim_semantic_dedup" ->
      """WITH cent AS (SELECT cell_id, list(value ORDER BY pos) AS c
        |              FROM read_parquet('{GRAFT_OUT}/sim_ivf_centroids/*.parquet')
        |              GROUP BY cell_id),
        |     docs AS (SELECT vec_id, embedding FROM embeddings
        |              UNION ALL
        |              SELECT vec_id + 10000,
        |                     [x * CAST(1.01 AS FLOAT) FOR x IN embedding]
        |              FROM embeddings WHERE vec_id % 5 = 0),
        |     ad AS (SELECT d.vec_id, d.embedding, cent.cell_id,
        |              list_sum([(CAST(d.embedding[i] AS DOUBLE) - cent.c[i])
        |                        * (CAST(d.embedding[i] AS DOUBLE) - cent.c[i])
        |                        FOR i IN range(1, 65)]) AS dist
        |            FROM docs d CROSS JOIN cent),
        |     a AS (SELECT vec_id, embedding, cell_id FROM (
        |             SELECT vec_id, embedding, cell_id,
        |               row_number() OVER (PARTITION BY vec_id
        |                                  ORDER BY dist, cell_id) AS rn
        |             FROM ad) WHERE rn = 1),
        |     drp AS (SELECT DISTINCT y.vec_id
        |             FROM a x JOIN a y
        |               ON x.cell_id = y.cell_id AND x.vec_id < y.vec_id
        |             WHERE list_sum([CAST(x.embedding[i] AS DOUBLE)
        |                             * CAST(y.embedding[i] AS DOUBLE)
        |                             FOR i IN range(1, 65)])
        |               / (sqrt(list_sum([CAST(x.embedding[i] AS DOUBLE)
        |                                 * CAST(x.embedding[i] AS DOUBLE)
        |                                 FOR i IN range(1, 65)]))
        |                  * sqrt(list_sum([CAST(y.embedding[i] AS DOUBLE)
        |                                   * CAST(y.embedding[i] AS DOUBLE)
        |                                   FOR i IN range(1, 65)]))) >= 0.95)
        |SELECT vec_id FROM a
        |WHERE vec_id NOT IN (SELECT vec_id FROM drp)""".stripMargin,
    // Politeness-schedule replay: the closed-form unrolling of
    // s_i = max(t_i, s_{i-1} + d_{i-1}) — per-host running delay sums
    // (pprev) + running max of (ts − pprev), ordered (ts, url). 2024-01-01
    // UTC = epoch 1704067200000 ms.
    "stream_frontier_schedule" ->
      """WITH u AS (SELECT 'www.' || source || '.example' AS host,
        |             'https://www.' || source || '.example/p/' || doc_id AS url,
        |             CAST(1704067200000 + (doc_id % 7) * 60000 AS BIGINT) AS ts_ms,
        |             CAST(round((length(source) % 3 + 1) * 0.5 * 1000, 0) AS BIGINT) AS delay_ms
        |           FROM documents),
        |     w1 AS (SELECT *,
        |              COALESCE(SUM(delay_ms) OVER (PARTITION BY host
        |                ORDER BY ts_ms, url
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |                0) AS pprev
        |            FROM u)
        |SELECT host, url,
        |       CAST(MAX(ts_ms - pprev) OVER (PARTITION BY host
        |         ORDER BY ts_ms, url
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         + pprev AS BIGINT) AS scheduled_at_ms
        |FROM w1""".stripMargin,
    "stream_window_agg" ->
      """SELECT time_bucket(INTERVAL '6 hours', ts) AS window_start,
        |       time_bucket(INTERVAL '6 hours', ts) + INTERVAL '6 hours' AS window_end,
        |       event_type,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       round(sum(value), 6) AS sum_value
        |FROM events GROUP BY 1, 2, 3""".stripMargin,
    // Quality-monitor replay: synthetic arrival minute + the text_quality
    // token/punct formulas + the same epoch-aligned 6h buckets.
    "stream_quality_monitor" ->
      """WITH d AS (SELECT lang, text,
        |             TIMESTAMP '2024-01-01 00:00:00'
        |               + (doc_id % 1440) * INTERVAL '1 minute' AS ts
        |           FROM documents),
        |     q AS (SELECT lang, ts,
        |             len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS n_tokens,
        |             CASE WHEN len(text) > 0
        |                  THEN CAST(len(regexp_extract_all(text, '[!-/:-@\[-`{-~]')) AS DOUBLE)
        |                       / CAST(len(text) AS DOUBLE)
        |                  ELSE 0.0 END AS punct_ratio
        |           FROM d)
        |SELECT time_bucket(INTERVAL '6 hours', ts) AS window_start,
        |       time_bucket(INTERVAL '6 hours', ts) + INTERVAL '6 hours' AS window_end,
        |       lang,
        |       count(*) AS n_docs,
        |       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |       CAST(sum(CASE WHEN COALESCE(n_tokens, 0) < 5 OR punct_ratio > 0.2
        |                     THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_fail_quality
        |FROM q GROUP BY 1, 2, 3""".stripMargin,
    // A 6h/2h sliding window's starts for event ts are time_bucket(2h, ts)
    // − k·2h for k ∈ {0,1,2} (epoch-aligned like Spark's window()).
    "stream_sliding_agg" ->
      """SELECT window_start,
        |       window_start + INTERVAL '6 hours' AS window_end,
        |       event_type,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       round(sum(value), 6) AS sum_value
        |FROM (SELECT time_bucket(INTERVAL '2 hours', ts)
        |               - CAST(t.k AS BIGINT) * INTERVAL '2 hours' AS window_start,
        |             event_type, value
        |      FROM events, range(0, 3) t(k))
        |GROUP BY 1, 2, 3""".stripMargin,
    // Session semantics replayed with lag + running sum: a new session
    // starts when the gap to the previous event is >= 30 min (Spark's
    // session_window merges on strictly-smaller gaps); end = last + gap.
    "stream_session_agg" ->
      """WITH e AS (SELECT user_id, ts,
        |             CASE WHEN lag(ts) OVER w IS NULL
        |                    OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
        |                  THEN 1 ELSE 0 END AS brk
        |           FROM events
        |           WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |     s AS (SELECT user_id, ts,
        |             sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |                            ROWS UNBOUNDED PRECEDING) AS sid
        |           FROM e)
        |SELECT user_id,
        |       min(ts) AS session_start,
        |       max(ts) + INTERVAL '30 minutes' AS session_end,
        |       CAST(count(*) AS BIGINT) AS n_events
        |FROM s GROUP BY user_id, sid""".stripMargin,
    "stream_dedup" ->
      """SELECT event_id, ts, user_id, event_type, value
        |FROM (SELECT * FROM events UNION ALL
        |      SELECT * FROM events WHERE event_id % 10 = 0)
        |GROUP BY event_id, ts, user_id, event_type, value""".stripMargin,
    "stream_content_dedup" ->
      """WITH f AS (SELECT doc_id, text,
        |             md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |           FROM documents),
        |     k AS (SELECT fp, min(doc_id) AS doc_id FROM f GROUP BY fp)
        |SELECT f.doc_id, f.text, f.fp
        |FROM f JOIN k ON f.fp IS NOT DISTINCT FROM k.fp
        |            AND f.doc_id = k.doc_id""".stripMargin,
    // first-wins-on-every-band replay over the exported band-key table;
    // docs with no band rows (no shingles) are kept
    "stream_neardup_dedup" ->
      """WITH k AS (SELECT * FROM read_parquet('{GRAFT_OUT}/stream_neardup_keys/*.parquet')),
        |     m AS (SELECT band, band_hash, min(doc_id) AS first_id
        |           FROM k GROUP BY band, band_hash),
        |     dropped AS (SELECT DISTINCT k.doc_id
        |                 FROM k JOIN m USING (band, band_hash)
        |                 WHERE k.doc_id <> m.first_id)
        |SELECT d.doc_id, d.text
        |FROM documents d
        |WHERE d.doc_id NOT IN (SELECT doc_id FROM dropped)""".stripMargin,
    // identical replay: with a unique long tie the deterministic
    // min-(tie, xxhash) rule reduces to first-wins-per-band
    "stream_neardup_det" ->
      """WITH k AS (SELECT * FROM read_parquet('{GRAFT_OUT}/stream_neardup_keys/*.parquet')),
        |     m AS (SELECT band, band_hash, min(doc_id) AS first_id
        |           FROM k GROUP BY band, band_hash),
        |     dropped AS (SELECT DISTINCT k.doc_id
        |                 FROM k JOIN m USING (band, band_hash)
        |                 WHERE k.doc_id <> m.first_id)
        |SELECT d.doc_id, d.text
        |FROM documents d
        |WHERE d.doc_id NOT IN (SELECT doc_id FROM dropped)""".stripMargin,
    "events_json_extract" ->
      """SELECT event_id,
        |       CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        |FROM events""".stripMargin,
    "stream_user_stats" ->
      """SELECT user_id,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       round(sum(value), 6) AS sum_value,
        |       min(ts) AS first_ts,
        |       max(ts) AS last_ts
        |FROM events GROUP BY user_id""".stripMargin,
    "sim_ann_lsh" -> annOracleSql(numPlanes = 4, dim = 64, k = 10),
    // IVF replay over the exported centroids: per-vector nearest cell
    // (squared L2, ties by cell id), probe the 2 cells nearest the query,
    // exact cosine top-10 within them. Distances use explicit
    // (x-c)*(x-c) sums folded in array order on both engines.
    "sim_ivf" ->
      """WITH cent AS (SELECT cell_id, list(value ORDER BY pos) AS c
        |              FROM read_parquet('{GRAFT_OUT}/sim_ivf_centroids/*.parquet')
        |              GROUP BY cell_id),
        |     q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |     qd AS (SELECT cell_id,
        |              list_sum([(CAST(qe[i] AS DOUBLE) - c[i]) * (CAST(qe[i] AS DOUBLE) - c[i])
        |                        FOR i IN range(1, 65)]) AS d
        |            FROM cent, q),
        |     probed AS (SELECT cell_id FROM qd ORDER BY d, cell_id LIMIT 2),
        |     ad AS (SELECT e.vec_id, e.embedding, cent.cell_id,
        |              list_sum([(CAST(e.embedding[i] AS DOUBLE) - cent.c[i])
        |                        * (CAST(e.embedding[i] AS DOUBLE) - cent.c[i])
        |                        FOR i IN range(1, 65)]) AS d
        |            FROM embeddings e CROSS JOIN cent),
        |     assign AS (SELECT vec_id, embedding, cell_id,
        |                  row_number() OVER (PARTITION BY vec_id ORDER BY d, cell_id) AS rn
        |                FROM ad),
        |     sel AS (SELECT vec_id, embedding FROM assign
        |             WHERE rn = 1 AND cell_id IN (SELECT cell_id FROM probed)),
        |     c AS (SELECT vec_id AS id,
        |             list_sum([CAST(embedding[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)
        |                       FOR i IN range(1, 65)])
        |             / (sqrt(list_sum([CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
        |                               FOR i IN range(1, 65)]))
        |                * sqrt(list_sum([CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)
        |                                 FOR i IN range(1, 65)]))) AS cos
        |           FROM sel, q)
        |SELECT id, cos FROM c ORDER BY cos DESC, id LIMIT 10""".stripMargin,
    // Prototypicality replay: cell assignment from the centroid dump (same
    // sq-dist + (d, cell) tie rule as sim_ivf), then the rounded cosine of
    // each vector to its own cell's centroid.
    "sim_prototypicality" ->
      """WITH cent AS (SELECT cell_id, list(value ORDER BY pos) AS c
        |              FROM read_parquet('{GRAFT_OUT}/sim_ivf_centroids/*.parquet')
        |              GROUP BY cell_id),
        |     ad AS (SELECT e.vec_id, e.embedding, cent.cell_id, cent.c,
        |              list_sum([(CAST(e.embedding[i] AS DOUBLE) - cent.c[i])
        |                        * (CAST(e.embedding[i] AS DOUBLE) - cent.c[i])
        |                        FOR i IN range(1, 65)]) AS d
        |            FROM embeddings e CROSS JOIN cent),
        |     assign AS (SELECT vec_id, embedding, cell_id, c,
        |                  row_number() OVER (PARTITION BY vec_id ORDER BY d, cell_id) AS rn
        |                FROM ad)
        |SELECT vec_id, cell_id AS cell,
        |       round(list_sum([CAST(embedding[i] AS DOUBLE) * c[i] FOR i IN range(1, 65)])
        |             / (sqrt(list_sum([CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
        |                               FOR i IN range(1, 65)]))
        |                * sqrt(list_sum([c[i] * c[i] FOR i IN range(1, 65)]))), 9) AS proto
        |FROM assign WHERE rn = 1""".stripMargin,
    // Per-cell prune replay: rank on the ROUNDED proto (ties by id), exact
    // integer cut ⌊n·250000/1000000⌋ per cell.
    "sim_proto_prune" ->
      """WITH cent AS (SELECT cell_id, list(value ORDER BY pos) AS c
        |              FROM read_parquet('{GRAFT_OUT}/sim_ivf_centroids/*.parquet')
        |              GROUP BY cell_id),
        |     ad AS (SELECT e.vec_id, e.embedding, cent.cell_id, cent.c,
        |              list_sum([(CAST(e.embedding[i] AS DOUBLE) - cent.c[i])
        |                        * (CAST(e.embedding[i] AS DOUBLE) - cent.c[i])
        |                        FOR i IN range(1, 65)]) AS d
        |            FROM embeddings e CROSS JOIN cent),
        |     assign AS (SELECT vec_id, embedding, cell_id, c,
        |                  row_number() OVER (PARTITION BY vec_id ORDER BY d, cell_id) AS rn
        |                FROM ad),
        |     p AS (SELECT vec_id, cell_id,
        |             round(list_sum([CAST(embedding[i] AS DOUBLE) * c[i] FOR i IN range(1, 65)])
        |                   / (sqrt(list_sum([CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
        |                                     FOR i IN range(1, 65)]))
        |                      * sqrt(list_sum([c[i] * c[i] FOR i IN range(1, 65)]))), 9) AS proto
        |           FROM assign WHERE rn = 1),
        |     r AS (SELECT vec_id,
        |             row_number() OVER (PARTITION BY cell_id ORDER BY proto DESC, vec_id) AS rnk,
        |             count(*) OVER (PARTITION BY cell_id) AS n
        |           FROM p)
        |SELECT vec_id FROM r WHERE rnk > (n * 250000) // 1000000""".stripMargin,
    "sim_pq_codes" ->
      s"""WITH $pqCodesCte
         |SELECT vec_id AS id,
         |       array_to_string(list(code ORDER BY sub), ',') AS codes_str
         |FROM best GROUP BY vec_id""".stripMargin,
    // PQ search replay: reconstruct each vector as the concatenation of its
    // codewords (subspace order), exact cosine top-10 against the query.
    "sim_pq" ->
      s"""WITH $pqCodesCte,
         |qq AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |recon AS (SELECT b.vec_id AS id, flatten(list(cb.c ORDER BY b.sub)) AS ap
         |          FROM best b JOIN cb ON cb.sub = b.sub AND cb.code = b.code
         |          GROUP BY b.vec_id),
         |co AS (SELECT recon.id,
         |         list_sum([ap[i] * CAST(qe[i] AS DOUBLE) FOR i IN range(1, 65)])
         |         / (sqrt(list_sum([ap[i] * ap[i] FOR i IN range(1, 65)]))
         |            * sqrt(list_sum([CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)
         |                             FOR i IN range(1, 65)]))) AS cos
         |       FROM recon, qq)
         |SELECT id, cos FROM co ORDER BY cos DESC, id LIMIT 10""".stripMargin,
    // Two-stage replay: PQ top-100 shortlist (reconstruction cosine, ties
    // (cos DESC, id)), then exact cosine top-10 within the shortlist.
    "sim_pq_refined" ->
      s"""WITH $pqCodesCte,
         |qq AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |recon AS (SELECT b.vec_id AS id, flatten(list(cb.c ORDER BY b.sub)) AS ap
         |          FROM best b JOIN cb ON cb.sub = b.sub AND cb.code = b.code
         |          GROUP BY b.vec_id),
         |co AS (SELECT recon.id,
         |         list_sum([ap[i] * CAST(qe[i] AS DOUBLE) FOR i IN range(1, 65)])
         |         / (sqrt(list_sum([ap[i] * ap[i] FOR i IN range(1, 65)]))
         |            * sqrt(list_sum([CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)
         |                             FOR i IN range(1, 65)]))) AS cos
         |       FROM recon, qq),
         |sl AS (SELECT id FROM co ORDER BY cos DESC, id LIMIT 100),
         |ex AS (SELECT e.vec_id AS id,
         |         list_sum([CAST(e.embedding[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)
         |                   FOR i IN range(1, 65)])
         |         / (sqrt(list_sum([CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)
         |                           FOR i IN range(1, 65)]))
         |            * sqrt(list_sum([CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)
         |                             FOR i IN range(1, 65)]))) AS cos
         |       FROM embeddings e, qq
         |       WHERE e.vec_id IN (SELECT id FROM sl))
         |SELECT id, cos FROM ex ORDER BY cos DESC, id LIMIT 10""".stripMargin,
    "sim_ivfpq_product_codes" ->
      s"""WITH $ivfPqCodesCte,
         |$ivfPqProductCte
         |SELECT id, cell,
         |       array_to_string(list(code ORDER BY sub), ',') AS codes_str
         |FROM best2 GROUP BY id, cell""".stripMargin,
    // IVF-PQ product search replay: probe 2 cells, reconstruct
    // centroid + concatenated residual codewords, exact cosine top-10.
    "sim_ivfpq_product" ->
      s"""WITH $ivfPqCodesCte,
         |$ivfPqProductCte,
         |qq AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |qd AS (SELECT cell_id,
         |         list_sum([(CAST(qe[i] AS DOUBLE) - c[i]) * (CAST(qe[i] AS DOUBLE) - c[i])
         |                   FOR i IN range(1, 65)]) AS d
         |       FROM cent, qq),
         |probed AS (SELECT cell_id FROM qd ORDER BY d, cell_id LIMIT 2),
         |fl AS (SELECT b.id, b.cell, flatten(list(p.c2 ORDER BY b.sub)) AS pr
         |       FROM best2 b JOIN pq2 p ON p.sub = b.sub AND p.code = b.code
         |       GROUP BY b.id, b.cell),
         |recon AS (SELECT fl.id, [cent.c[i] + fl.pr[i] FOR i IN range(1, 65)] AS ap
         |          FROM fl JOIN cent ON fl.cell = cent.cell_id
         |          WHERE fl.cell IN (SELECT cell_id FROM probed)),
         |co AS (SELECT recon.id,
         |         list_sum([ap[i] * CAST(qe[i] AS DOUBLE) FOR i IN range(1, 65)])
         |         / (sqrt(list_sum([ap[i] * ap[i] FOR i IN range(1, 65)]))
         |            * sqrt(list_sum([CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)
         |                             FOR i IN range(1, 65)]))) AS cos
         |       FROM recon, qq)
         |SELECT id, cos FROM co ORDER BY cos DESC, id LIMIT 10""".stripMargin,
    "sim_ivfpq_codes" ->
      s"""WITH $ivfPqCodesCte
         |SELECT id, cell, res_scale,
         |       array_to_string([CAST(CASE WHEN res_scale > 0.0
         |                                  THEN greatest(-127.0, least(127.0, floor(res[i] / res_scale + 0.5)))
         |                                  ELSE 0.0 END AS INTEGER)
         |                        FOR i IN range(1, 65)], ',') AS codes_str
         |FROM sc""".stripMargin,
    // IVF-SQ8 search replay: probe nprobe=2 cells nearest the query,
    // reconstruct centroid + scale·code, exact cosine top-10 (shared with
    // sim_ivfpq_disk).
    "sim_ivfpq" -> ivfPqSq8ProbeSql,
    // sim_ivfpq through the partitioned on-disk index: the disk round trip
    // preserves every code bit, so the replay is the SAME shared probe SQL.
    "sim_ivfpq_disk" -> ivfPqSq8ProbeSql,
    // Batch-IVF replay over the same centroids dump: per-corpus-row nearest
    // cell, per-QUERY nprobe=2 nearest cells (both ties by cell id), exact
    // cosine + (cos DESC, id) top-10 within the matched cells.
    "sim_ivf_batch" ->
      """WITH cent AS (SELECT cell_id, list(value ORDER BY pos) AS c
        |              FROM read_parquet('{GRAFT_OUT}/sim_ivf_centroids/*.parquet')
        |              GROUP BY cell_id),
        |     qd AS (SELECT e.vec_id AS query_id, e.embedding AS qe, cent.cell_id,
        |              list_sum([(CAST(e.embedding[i] AS DOUBLE) - cent.c[i])
        |                        * (CAST(e.embedding[i] AS DOUBLE) - cent.c[i])
        |                        FOR i IN range(1, 65)]) AS d
        |            FROM embeddings e CROSS JOIN cent
        |            WHERE e.vec_id < 5),
        |     qp AS (SELECT query_id, qe, cell_id FROM (
        |              SELECT query_id, qe, cell_id,
        |                row_number() OVER (PARTITION BY query_id
        |                                   ORDER BY d, cell_id) AS rn
        |              FROM qd) WHERE rn <= 2),
        |     ad AS (SELECT e.vec_id, e.embedding, cent.cell_id,
        |              list_sum([(CAST(e.embedding[i] AS DOUBLE) - cent.c[i])
        |                        * (CAST(e.embedding[i] AS DOUBLE) - cent.c[i])
        |                        FOR i IN range(1, 65)]) AS d
        |            FROM embeddings e CROSS JOIN cent),
        |     a AS (SELECT vec_id, embedding, cell_id FROM (
        |             SELECT vec_id, embedding, cell_id,
        |               row_number() OVER (PARTITION BY vec_id
        |                                  ORDER BY d, cell_id) AS rn
        |             FROM ad) WHERE rn = 1),
        |     s AS (SELECT qp.query_id, a.vec_id AS id,
        |             list_sum([CAST(a.embedding[i] AS DOUBLE) * CAST(qp.qe[i] AS DOUBLE)
        |                       FOR i IN range(1, 65)])
        |             / (sqrt(list_sum([CAST(a.embedding[i] AS DOUBLE)
        |                               * CAST(a.embedding[i] AS DOUBLE)
        |                               FOR i IN range(1, 65)]))
        |                * sqrt(list_sum([CAST(qp.qe[i] AS DOUBLE) * CAST(qp.qe[i] AS DOUBLE)
        |                                 FOR i IN range(1, 65)]))) AS cos
        |           FROM a JOIN qp ON a.cell_id = qp.cell_id),
        |     r AS (SELECT query_id, id, cos,
        |             row_number() OVER (PARTITION BY query_id
        |                                ORDER BY cos DESC, id) AS rn
        |           FROM s)
        |SELECT query_id, id, cos FROM r WHERE rn <= 10""".stripMargin,
    // Cell-health replay: nearest-cell assignment from the dump, then the
    // same count + 1e-9-rounded sum/count distortion aggregate.
    "sim_cell_stats" ->
      """WITH cent AS (SELECT cell_id, list(value ORDER BY pos) AS c
        |              FROM read_parquet('{GRAFT_OUT}/sim_ivf_centroids/*.parquet')
        |              GROUP BY cell_id),
        |     ad AS (SELECT e.vec_id, cent.cell_id,
        |              list_sum([(CAST(e.embedding[i] AS DOUBLE) - cent.c[i])
        |                        * (CAST(e.embedding[i] AS DOUBLE) - cent.c[i])
        |                        FOR i IN range(1, 65)]) AS d
        |            FROM embeddings e CROSS JOIN cent),
        |     a AS (SELECT vec_id, cell_id, d FROM (
        |             SELECT vec_id, cell_id, d,
        |               row_number() OVER (PARTITION BY vec_id
        |                                  ORDER BY d, cell_id) AS rn
        |             FROM ad) WHERE rn = 1)
        |SELECT CAST(cell_id AS INTEGER) AS cell,
        |       CAST(count(*) AS BIGINT) AS n_vectors,
        |       round(sum(d) / count(*), 9) AS mean_sqdist
        |FROM a GROUP BY cell_id""".stripMargin,
    // Quota-sample replay over the centroids dump: nearest-cell assignment,
    // then keep the 40 smallest (minstd-hash, id) rows per cell.
    "sim_cell_sample" ->
      """WITH cent AS (SELECT cell_id, list(value ORDER BY pos) AS c
        |              FROM read_parquet('{GRAFT_OUT}/sim_ivf_centroids/*.parquet')
        |              GROUP BY cell_id),
        |     ad AS (SELECT e.vec_id, e.label, cent.cell_id,
        |              list_sum([(CAST(e.embedding[i] AS DOUBLE) - cent.c[i])
        |                        * (CAST(e.embedding[i] AS DOUBLE) - cent.c[i])
        |                        FOR i IN range(1, 65)]) AS d
        |            FROM embeddings e CROSS JOIN cent),
        |     a AS (SELECT vec_id, label, cell_id FROM (
        |             SELECT vec_id, label, cell_id,
        |               row_number() OVER (PARTITION BY vec_id
        |                                  ORDER BY d, cell_id) AS rn
        |             FROM ad) WHERE rn = 1),
        |     h AS (SELECT vec_id, label, cell_id,
        |             (((vec_id % 2147483647) * 48271 % 2147483647) * 48271
        |              % 2147483647) AS hh
        |           FROM a),
        |     r AS (SELECT vec_id, label, cell_id,
        |             row_number() OVER (PARTITION BY cell_id
        |                                ORDER BY hh, vec_id) AS rn
        |           FROM h)
        |SELECT vec_id, label, CAST(cell_id AS INTEGER) AS cell
        |FROM r WHERE rn <= 40""".stripMargin,
    // kNN-graph replay over the centroids dump: nearest-cell assignment,
    // all within-cell ordered pairs at cos ≥ 0, (cos DESC, neighbor) rank
    // ≤ 5 per source vector.
    "sim_knn" ->
      """WITH cent AS (SELECT cell_id, list(value ORDER BY pos) AS c
        |              FROM read_parquet('{GRAFT_OUT}/sim_ivf_centroids/*.parquet')
        |              GROUP BY cell_id),
        |     ad AS (SELECT e.vec_id, e.embedding, cent.cell_id,
        |              list_sum([(CAST(e.embedding[i] AS DOUBLE) - cent.c[i])
        |                        * (CAST(e.embedding[i] AS DOUBLE) - cent.c[i])
        |                        FOR i IN range(1, 65)]) AS d
        |            FROM embeddings e CROSS JOIN cent),
        |     a AS (SELECT vec_id, embedding, cell_id FROM (
        |             SELECT vec_id, embedding, cell_id,
        |               row_number() OVER (PARTITION BY vec_id
        |                                  ORDER BY d, cell_id) AS rn
        |             FROM ad) WHERE rn = 1),
        |     pr AS (SELECT x.vec_id AS id, y.vec_id AS neighbor_id,
        |              list_sum([CAST(x.embedding[i] AS DOUBLE)
        |                        * CAST(y.embedding[i] AS DOUBLE)
        |                        FOR i IN range(1, 65)])
        |              / (sqrt(list_sum([CAST(x.embedding[i] AS DOUBLE)
        |                                * CAST(x.embedding[i] AS DOUBLE)
        |                                FOR i IN range(1, 65)]))
        |                 * sqrt(list_sum([CAST(y.embedding[i] AS DOUBLE)
        |                                  * CAST(y.embedding[i] AS DOUBLE)
        |                                  FOR i IN range(1, 65)]))) AS cos
        |            FROM a x JOIN a y
        |              ON x.cell_id = y.cell_id AND x.vec_id <> y.vec_id),
        |     r AS (SELECT id, neighbor_id, cos,
        |             row_number() OVER (PARTITION BY id
        |                                ORDER BY cos DESC, neighbor_id) AS rnk
        |           FROM pr WHERE cos >= 0.0)
        |SELECT id, neighbor_id, cos, CAST(rnk AS INTEGER) AS rank
        |FROM r WHERE rnk <= 5""".stripMargin,
    // sim_knn's pair replay + the label join and inequality BEFORE the
    // per-anchor top-3 rank.
    "sim_hard_negatives" ->
      """WITH cent AS (SELECT cell_id, list(value ORDER BY pos) AS c
        |              FROM read_parquet('{GRAFT_OUT}/sim_ivf_centroids/*.parquet')
        |              GROUP BY cell_id),
        |     ad AS (SELECT e.vec_id, e.embedding, e.label, cent.cell_id,
        |              list_sum([(CAST(e.embedding[i] AS DOUBLE) - cent.c[i])
        |                        * (CAST(e.embedding[i] AS DOUBLE) - cent.c[i])
        |                        FOR i IN range(1, 65)]) AS d
        |            FROM embeddings e CROSS JOIN cent),
        |     a AS (SELECT vec_id, embedding, label, cell_id FROM (
        |             SELECT vec_id, embedding, label, cell_id,
        |               row_number() OVER (PARTITION BY vec_id
        |                                  ORDER BY d, cell_id) AS rn
        |             FROM ad) WHERE rn = 1),
        |     pr AS (SELECT x.vec_id AS id, x.label AS label,
        |              y.vec_id AS neighbor_id, y.label AS neg_label,
        |              list_sum([CAST(x.embedding[i] AS DOUBLE)
        |                        * CAST(y.embedding[i] AS DOUBLE)
        |                        FOR i IN range(1, 65)])
        |              / (sqrt(list_sum([CAST(x.embedding[i] AS DOUBLE)
        |                                * CAST(x.embedding[i] AS DOUBLE)
        |                                FOR i IN range(1, 65)]))
        |                 * sqrt(list_sum([CAST(y.embedding[i] AS DOUBLE)
        |                                  * CAST(y.embedding[i] AS DOUBLE)
        |                                  FOR i IN range(1, 65)]))) AS cos
        |            FROM a x JOIN a y
        |              ON x.cell_id = y.cell_id AND x.vec_id <> y.vec_id
        |             AND x.label IS NOT NULL AND y.label IS NOT NULL
        |             AND x.label <> y.label),
        |     r AS (SELECT id, label, neighbor_id, neg_label, cos,
        |             row_number() OVER (PARTITION BY id
        |                                ORDER BY cos DESC, neighbor_id) AS rnk
        |           FROM pr WHERE cos >= 0.0)
        |SELECT id, label, neighbor_id, neg_label, cos, CAST(rnk AS INTEGER) AS rank
        |FROM r WHERE rnk <= 3""".stripMargin,
    // Recall replay: the sim_ivf_batch prediction set (from the centroids
    // dump) left-joined against the brute-force truth set, hits counted per
    // query — the same small-int division, so the doubles are exact.
    "sim_recall" ->
      """WITH cent AS (SELECT cell_id, list(value ORDER BY pos) AS c
        |              FROM read_parquet('{GRAFT_OUT}/sim_ivf_centroids/*.parquet')
        |              GROUP BY cell_id),
        |     qd AS (SELECT e.vec_id AS query_id, e.embedding AS qe, cent.cell_id,
        |              list_sum([(CAST(e.embedding[i] AS DOUBLE) - cent.c[i])
        |                        * (CAST(e.embedding[i] AS DOUBLE) - cent.c[i])
        |                        FOR i IN range(1, 65)]) AS d
        |            FROM embeddings e CROSS JOIN cent
        |            WHERE e.vec_id < 5),
        |     qp AS (SELECT query_id, qe, cell_id FROM (
        |              SELECT query_id, qe, cell_id,
        |                row_number() OVER (PARTITION BY query_id
        |                                   ORDER BY d, cell_id) AS rn
        |              FROM qd) WHERE rn <= 2),
        |     ad AS (SELECT e.vec_id, e.embedding, cent.cell_id,
        |              list_sum([(CAST(e.embedding[i] AS DOUBLE) - cent.c[i])
        |                        * (CAST(e.embedding[i] AS DOUBLE) - cent.c[i])
        |                        FOR i IN range(1, 65)]) AS d
        |            FROM embeddings e CROSS JOIN cent),
        |     a AS (SELECT vec_id, embedding, cell_id FROM (
        |             SELECT vec_id, embedding, cell_id,
        |               row_number() OVER (PARTITION BY vec_id
        |                                  ORDER BY d, cell_id) AS rn
        |             FROM ad) WHERE rn = 1),
        |     s AS (SELECT qp.query_id, a.vec_id AS id,
        |             list_sum([CAST(a.embedding[i] AS DOUBLE) * CAST(qp.qe[i] AS DOUBLE)
        |                       FOR i IN range(1, 65)])
        |             / (sqrt(list_sum([CAST(a.embedding[i] AS DOUBLE)
        |                               * CAST(a.embedding[i] AS DOUBLE)
        |                               FOR i IN range(1, 65)]))
        |                * sqrt(list_sum([CAST(qp.qe[i] AS DOUBLE) * CAST(qp.qe[i] AS DOUBLE)
        |                                 FOR i IN range(1, 65)]))) AS cos
        |           FROM a JOIN qp ON a.cell_id = qp.cell_id),
        |     p AS (SELECT DISTINCT query_id, id FROM (
        |             SELECT query_id, id,
        |               row_number() OVER (PARTITION BY query_id
        |                                  ORDER BY cos DESC, id) AS rn
        |             FROM s) WHERE rn <= 10),
        |     tb AS (SELECT e.vec_id AS id, q.vec_id AS query_id,
        |              list_sum([CAST(e.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)
        |                        FOR i IN range(1, 65)])
        |              / (sqrt(list_sum([CAST(e.embedding[i] AS DOUBLE)
        |                                * CAST(e.embedding[i] AS DOUBLE)
        |                                FOR i IN range(1, 65)]))
        |                 * sqrt(list_sum([CAST(q.embedding[i] AS DOUBLE)
        |                                  * CAST(q.embedding[i] AS DOUBLE)
        |                                  FOR i IN range(1, 65)]))) AS cos
        |            FROM embeddings e CROSS JOIN embeddings q
        |            WHERE q.vec_id < 5),
        |     t AS (SELECT query_id, id FROM (
        |             SELECT query_id, id,
        |               row_number() OVER (PARTITION BY query_id
        |                                  ORDER BY cos DESC, id) AS rn
        |             FROM tb) WHERE rn <= 10)
        |SELECT t.query_id,
        |       CAST(count(*) AS BIGINT) AS n_truth,
        |       CAST(sum(CASE WHEN p.id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
        |       CAST(sum(CASE WHEN p.id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |         / CAST(count(*) AS DOUBLE) AS recall
        |FROM t LEFT JOIN p ON t.query_id = p.query_id AND t.id = p.id
        |GROUP BY t.query_id""".stripMargin,
    // Text payloads CAN start with any ASCII-typeable magic ("GIF8",
    // "fLaC", "OggS", "RIFF", "ftyp" at offset 4…), so the oracle
    // mirrors the sniffer's FULL precedence order — an arm present on
    // only one side would fork on the first unlucky document (binary
    // magics like FFD8/89504E47/1F8B cannot occur in UTF-8 text but
    // cost nothing to keep in parity).
    "mm_binary_meta" ->
      """WITH h AS (SELECT doc_id, text,
        |             upper(hex(encode(text))) AS hx FROM documents),
        |f AS (SELECT doc_id, text, hx,
        |        CASE WHEN substr(hx, 1, 4) = 'FFD8' THEN 'jpeg'
        |             WHEN substr(hx, 1, 8) = '89504E47' THEN 'png'
        |             WHEN substr(hx, 1, 8) = '47494638' THEN 'gif'
        |             WHEN substr(hx, 1, 8) = '664C6143' THEN 'flac'
        |             WHEN substr(hx, 1, 8) = '4F676753' THEN 'ogg'
        |             WHEN substr(hx, 1, 8) = '52494646' THEN
        |               CASE substr(hx, 17, 8)
        |                 WHEN '57454250' THEN 'webp'
        |                 WHEN '57415645' THEN 'wav'
        |                 WHEN '41564920' THEN 'avi'
        |                 ELSE 'riff' END
        |             WHEN substr(hx, 9, 8) = '66747970' THEN
        |               CASE WHEN substr(hx, 17, 8)
        |                         IN ('61766966', '61766973') THEN 'avif'
        |                    WHEN substr(hx, 17, 8)
        |                         IN ('68656963', '68656978', '68656966',
        |                             '6D696631', '6D736631') THEN 'heic'
        |                    ELSE 'mp4' END
        |             WHEN substr(hx, 1, 8) = '1A45DFA3' THEN 'webm'
        |             WHEN substr(hx, 1, 6) = '494433' THEN 'mp3'
        |             WHEN substr(hx, 1, 2) = 'FF'
        |                  AND substr(hx, 3, 1) IN ('E', 'F') THEN 'mp3'
        |             WHEN substr(hx, 1, 8) = '25504446' THEN 'pdf'
        |             WHEN substr(hx, 1, 4) = '1F8B' THEN 'gzip'
        |             ELSE 'unknown' END AS format
        |      FROM h)
        |SELECT doc_id,
        |       CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
        |       md5(text) AS content_md5,
        |       format,
        |       CASE WHEN format = 'jpeg' THEN right(hx, 4) <> 'FFD9'
        |            WHEN format = 'png' THEN right(hx, 16) <> '49454E44AE426082'
        |            WHEN format = 'gif' THEN right(hx, 2) <> '3B'
        |            -- a bare 4-byte 'RIFF' has NO size bytes: Spark's
        |            -- conv('') is NULL while instr-of-'' arithmetic
        |            -- would read 0 — guard, don't fork (round-14 review)
        |            WHEN format IN ('webp', 'wav', 'avi', 'riff')
        |                 AND octet_length(encode(text)) <= 4
        |              THEN CAST(NULL AS BOOLEAN)
        |            WHEN format IN ('webp', 'wav', 'avi', 'riff') THEN
        |              CAST(octet_length(encode(text)) AS BIGINT) <>
        |              (instr('0123456789ABCDEF', substr(hx,  9, 1)) - 1) * 16
        |              + instr('0123456789ABCDEF', substr(hx, 10, 1)) - 1
        |              + ((instr('0123456789ABCDEF', substr(hx, 11, 1)) - 1) * 16
        |                 + instr('0123456789ABCDEF', substr(hx, 12, 1)) - 1) * 256
        |              + ((instr('0123456789ABCDEF', substr(hx, 13, 1)) - 1) * 16
        |                 + instr('0123456789ABCDEF', substr(hx, 14, 1)) - 1) * 65536
        |              + ((instr('0123456789ABCDEF', substr(hx, 15, 1)) - 1) * 16
        |                 + instr('0123456789ABCDEF', substr(hx, 16, 1)) - 1) * 16777216
        |              + 8
        |            WHEN format = 'pdf'
        |            THEN NOT regexp_matches(right(hx, 2048), '^(..)*2525454F46')
        |            ELSE CAST(NULL AS BOOLEAN) END AS truncated
        |FROM f""".stripMargin,
    // Replays the sniffer over the hex encoding (DuckDB cannot slice
    // BLOBs): magic = chars 1-8, RIFF form = 17-24, box type = 9-16, and
    // the RIFF little-endian chunk size is reassembled from its byte pairs
    // with instr-digit arithmetic (no hex→int cast needed on either side).
    // Image dimensions recomputed from the SAME arithmetic that sized
    // the synthesized headers — the byte round trip (BE-32 PNG, LE-16
    // GIF, the BE-16 JPEG SOF marker walk behind variable-length
    // segments, decoy embedded SOF bytes, and a fill byte) happens only
    // on the Spark side, so the comparison proves it. %5==4 payloads are
    // non-images (and %10==4 a malformed SOS-first JPEG) → NULL.
    "mm_image_dims" ->
      """SELECT doc_id,
        |       CASE WHEN doc_id % 5 = 4 THEN NULL
        |            ELSE CAST(doc_id % 500 + 1 AS BIGINT) END AS img_width,
        |       CASE WHEN doc_id % 5 = 4 THEN NULL
        |            ELSE CAST(doc_id % 300 + 1 AS BIGINT) END AS img_height
        |FROM documents""".stripMargin,
    // AVIF/HEIC dims recomputed from arithmetic — the pitm/ipma primary
    // resolution, the 1-based property indexing, the decoy-thumbnail
    // skip, and the first-ispe fallback happen only on the Spark side.
    // The format column also pins the sniffer's ISO-BMFF brand
    // refinement (avif/heic off the generic mp4 arm).
    "mm_avif_dims" ->
      """SELECT doc_id,
        |       CASE CAST(doc_id % 4 AS INTEGER)
        |         WHEN 0 THEN 'avif' WHEN 1 THEN 'heic' WHEN 2 THEN 'mp4'
        |         ELSE 'unknown' END AS format,
        |       CASE WHEN doc_id % 4 IN (0, 1)
        |            THEN CAST(doc_id % 500 + 1 AS BIGINT) END AS img_width,
        |       CASE WHEN doc_id % 4 IN (0, 1)
        |            THEN CAST(doc_id % 300 + 1 AS BIGINT) END AS img_height
        |FROM documents""".stripMargin,
    // EXIF orientation + display dims recomputed from arithmetic: the
    // II/MM byte round trips, the decoy-tag skip, and the 5-8 transpose
    // happen only on the Spark side.
    "mm_exif_orientation" ->
      """SELECT doc_id,
        |       CAST(doc_id % 500 + 1 AS BIGINT) AS img_width,
        |       CAST(doc_id % 300 + 1 AS BIGINT) AS img_height,
        |       CASE WHEN doc_id % 3 = 2 THEN NULL
        |            ELSE CAST(doc_id % 8 + 1 AS INTEGER) END AS img_orientation,
        |       CASE WHEN doc_id % 3 <> 2 AND doc_id % 8 + 1 >= 5
        |            THEN CAST(doc_id % 300 + 1 AS BIGINT)
        |            ELSE CAST(doc_id % 500 + 1 AS BIGINT) END AS display_width,
        |       CASE WHEN doc_id % 3 <> 2 AND doc_id % 8 + 1 >= 5
        |            THEN CAST(doc_id % 500 + 1 AS BIGINT)
        |            ELSE CAST(doc_id % 300 + 1 AS BIGINT) END AS display_height
        |FROM documents""".stripMargin,
    // WebP dims recomputed from arithmetic — the 14-bit/packed-u32/LE-24
    // byte round trips happen only on the Spark side.
    "mm_webp_dims" ->
      """SELECT doc_id,
        |       CASE WHEN doc_id % 4 = 3 THEN NULL
        |            ELSE CAST(doc_id % 500 + 1 AS BIGINT) END AS img_width,
        |       CASE WHEN doc_id % 4 = 3 THEN NULL
        |            ELSE CAST(doc_id % 300 + 1 AS BIGINT) END AS img_height
        |FROM documents""".stripMargin,
    // The whole ingest profile rebuilt from per-shape arithmetic: fixed
    // header sizes (jpeg 63 B, webp 30 B, flac 42 B, ogg 76 B),
    // jpeg/webp truncation is TRUE by construction (no EOI trailer /
    // RIFF declares 100), the display transpose fires on orientations
    // 5-8, the MP3 leg reuses the CBR duration + ID3 frame arithmetic
    // verbatim, and the round-14 FLAC/Opus legs reuse
    // mm_media_duration's pairs. NOTE display dims: a NULL orientation
    // falls to the otherwise-branch, so webp display = raw dims while
    // the audio legs (null dims) stay NULL.
    "mm_ingest_profile" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 10 = 9 THEN 'webm'
        |       WHEN doc_id % 5 = 0 THEN 'jpeg' WHEN doc_id % 5 = 1 THEN 'mp3'
        |       WHEN doc_id % 5 = 3 THEN 'flac' WHEN doc_id % 5 = 4 THEN 'ogg'
        |       ELSE 'webp' END AS format,
        |  CAST(CASE WHEN doc_id % 10 = 9 THEN 45
        |    WHEN doc_id % 5 = 0 THEN 63 WHEN doc_id % 5 = 1 THEN doc_id % 997 + 126
        |    WHEN doc_id % 5 = 3 THEN 42 WHEN doc_id % 5 = 4 THEN 76 ELSE 30
        |  END AS INTEGER) AS n_bytes,
        |  CASE WHEN doc_id % 5 IN (0, 2) THEN TRUE END AS truncated,
        |  CASE WHEN doc_id % 5 IN (0, 2)
        |       THEN CAST(doc_id % 500 + 1 AS BIGINT) END AS img_width,
        |  CASE WHEN doc_id % 5 IN (0, 2)
        |       THEN CAST(doc_id % 300 + 1 AS BIGINT) END AS img_height,
        |  CASE WHEN doc_id % 5 = 0
        |       THEN CAST(doc_id % 8 + 1 AS INTEGER) END AS img_orientation,
        |  CASE WHEN doc_id % 5 = 0 AND doc_id % 8 + 1 >= 5
        |         THEN CAST(doc_id % 300 + 1 AS BIGINT)
        |       WHEN doc_id % 5 IN (0, 2)
        |         THEN CAST(doc_id % 500 + 1 AS BIGINT)
        |  END AS display_width,
        |  CASE WHEN doc_id % 5 = 0 AND doc_id % 8 + 1 >= 5
        |         THEN CAST(doc_id % 500 + 1 AS BIGINT)
        |       WHEN doc_id % 5 IN (0, 2)
        |         THEN CAST(doc_id % 300 + 1 AS BIGINT)
        |  END AS display_height,
        |  CASE WHEN doc_id % 5 = 0 THEN FALSE END AS gps_present,
        |  CASE WHEN doc_id % 5 = 1 THEN CAST((doc_id % 997 + 68) * 8 AS BIGINT)
        |       WHEN doc_id % 5 = 3 THEN CAST((doc_id % 100000 + 1) * 10 AS BIGINT)
        |       WHEN doc_id % 10 = 9
        |         THEN CAST((doc_id % 100000 + 1) * 1000000 AS BIGINT)
        |       WHEN doc_id % 5 = 4 THEN CAST((doc_id % 48000 + 1) * 10 AS BIGINT)
        |  END AS media_dur_num,
        |  CASE WHEN doc_id % 5 = 1 THEN CAST(128000 AS BIGINT)
        |       WHEN doc_id % 5 = 3 THEN CAST(44100 AS BIGINT)
        |       WHEN doc_id % 10 = 9 THEN CAST(1000000000 AS BIGINT)
        |       WHEN doc_id % 5 = 4 THEN CAST(48000 AS BIGINT)
        |  END AS media_dur_den,
        |  CASE WHEN doc_id % 5 = 1
        |         THEN CAST((doc_id % 997 + 68) * 8 AS DOUBLE) / 128000.0
        |       WHEN doc_id % 5 = 3
        |         THEN CAST((doc_id % 100000 + 1) * 10 AS DOUBLE) / 44100.0
        |       WHEN doc_id % 10 = 9
        |         THEN CAST((doc_id % 100000 + 1) * 1000000 AS DOUBLE)
        |              / 1000000000.0
        |       WHEN doc_id % 5 = 4
        |         THEN CAST((doc_id % 48000 + 1) * 10 AS DOUBLE) / 48000.0
        |  END AS media_duration_sec,
        |  CASE WHEN doc_id % 5 = 1
        |       THEN 'T' || lpad(CAST(doc_id % 89 AS VARCHAR), 4, '0')
        |  END AS mp3_title,
        |  CASE WHEN doc_id % 5 = 1
        |       THEN 'A' || lpad(CAST(doc_id % 83 AS VARCHAR), 4, '0')
        |  END AS mp3_artist,
        |  CASE WHEN doc_id % 5 = 1
        |       THEN 'L' || lpad(CAST(doc_id % 79 AS VARCHAR), 4, '0')
        |  END AS mp3_album
        |FROM documents""".stripMargin,
    // ID3 text frames rebuilt from arithmetic; the UTF-16 shape's title
    // is the fixed literal, the no-tag shape is all NULL; the %5==3 arm
    // is the v2.2 layout (3-char frames) carrying all three tags.
    "mm_mp3_tags" ->
      """SELECT doc_id,
        |       CASE WHEN doc_id % 5 IN (0, 1, 3)
        |              THEN 'T' || lpad(CAST(doc_id % 89 AS VARCHAR), 4, '0')
        |            WHEN doc_id % 5 = 2 THEN 'T16'
        |       END AS mp3_title,
        |       CASE WHEN doc_id % 5 = 4 THEN NULL
        |            ELSE 'A' || lpad(CAST(doc_id % 83 AS VARCHAR), 4, '0')
        |       END AS mp3_artist,
        |       CASE WHEN doc_id % 5 IN (0, 1, 3)
        |            THEN 'L' || lpad(CAST(doc_id % 79 AS VARCHAR), 4, '0')
        |       END AS mp3_album
        |FROM documents""".stripMargin,
    // PDF Info-dict metadata rebuilt from arithmetic + literals; the
    // last-/Info-wins walk, BOM decodes, and escape handling happen only
    // on the Spark side. The %5==1 date carries PDF's apostrophe
    // timezone syntax (doubled in SQL).
    // Encrypted-PDF replay: known plaintexts by shape — the decryption
    // itself (key derivation, /U check, RC4/AES) is Spark-side only.
    "mm_pdf_encrypted" ->
      """SELECT doc_id,
        |       CASE CAST(doc_id % 6 AS INTEGER)
        |         WHEN 0 THEN 'forty bit secret stream'
        |         WHEN 1 THEN 'rc4 128 secret stream'
        |         WHEN 2 THEN 'aes cbc secret stream'
        |         WHEN 3 THEN NULL
        |         WHEN 4 THEN 'aes 256 r6 secret stream'
        |         ELSE 'plain control' END AS pdf_text,
        |       CASE CAST(doc_id % 6 AS INTEGER)
        |         WHEN 0 THEN 'Enc40'
        |         WHEN 1 THEN 'Enc128'
        |         WHEN 2 THEN 'EncAES'
        |         WHEN 3 THEN NULL
        |         WHEN 4 THEN 'Enc256'
        |         ELSE 'PlainTitle' END AS pdf_title
        |FROM documents""".stripMargin,
    "mm_pdf_meta" ->
      """SELECT doc_id,
        |       CASE WHEN doc_id % 7 = 0
        |              THEN 'T' || lpad(CAST(doc_id % 89 AS VARCHAR), 4, '0')
        |            WHEN doc_id % 7 = 1 THEN 'P16'
        |            WHEN doc_id % 7 = 5 THEN 'Packed title'
        |            WHEN doc_id % 7 = 6 THEN 'Packet & title' END AS pdf_title,
        |       CASE WHEN doc_id % 7 = 0
        |              THEN 'A' || lpad(CAST(doc_id % 83 AS VARCHAR), 4, '0')
        |            WHEN doc_id % 7 = 1 THEN 'HEXA'
        |            WHEN doc_id % 7 = 6 THEN 'Xenia' END AS pdf_author,
        |       CASE WHEN doc_id % 7 = 0 THEN 'graftc'
        |            WHEN doc_id % 7 = 6 THEN 'graft-x' END AS pdf_creator,
        |       CASE WHEN doc_id % 7 = 0 THEN 'graft (exporter)'
        |            WHEN doc_id % 7 = 5 THEN 'objstm-gen'
        |            WHEN doc_id % 7 = 6 THEN 'xmp-gen' END AS pdf_producer,
        |       CASE WHEN doc_id % 7 = 0 THEN 'D:20260101000000Z'
        |            WHEN doc_id % 7 = 1 THEN 'D:20251231235959+01''00'''
        |            WHEN doc_id % 7 = 6 THEN '2026-01-02T03:04:05Z'
        |       END AS pdf_created
        |FROM documents""".stripMargin,
    // PDF text rebuilt from arithmetic + the fixed literals; the
    // encrypted / image-only / non-PDF shapes are NULL. The byte walk,
    // Flate/LZW decodes, predictor undo, escape handling, hex-string
    // decode, and ToUnicode CMap remap happen only on the Spark side.
    "mm_pdf_text" ->
      """SELECT doc_id,
        |       CASE WHEN doc_id % 11 = 0
        |              THEN 'Doc (P' || lpad(CAST(doc_id % 9973 AS VARCHAR), 4, '0')
        |                   || ')' || chr(10) || 'tail AB'
        |            WHEN doc_id % 11 = 1
        |              THEN 'Compressed stream payload' || chr(10) || 'second line'
        |            WHEN doc_id % 11 = 5 THEN 'hex encoded stream'
        |            WHEN doc_id % 11 = 6 THEN 'chained transport'
        |            WHEN doc_id % 11 = 7 THEN 'lzw compressed stream'
        |            WHEN doc_id % 11 = 8 THEN 'predicted payload rows'
        |            WHEN doc_id % 22 = 20
        |              THEN 'X' || chr(CAST(65 + doc_id % 10 AS INTEGER))
        |                   || chr(10)
        |                   || 'Y' || chr(CAST(97 + doc_id % 10 AS INTEGER))
        |            WHEN doc_id % 11 = 9
        |              THEN 'CID' || chr(CAST(97 + doc_id % 10 AS INTEGER))
        |            WHEN doc_id % 11 = 10 THEN 'tiff differenced rows'
        |       END AS pdf_text
        |FROM documents""".stripMargin,
    // Camera tags rebuilt from arithmetic; NULL software on %4==2, all
    // NULL on the no-EXIF %4==3 shape.
    "mm_exif_tags" ->
      """SELECT doc_id,
        |       CASE WHEN doc_id % 4 = 3 THEN NULL
        |            ELSE 'MK' || lpad(CAST(doc_id % 97 AS VARCHAR), 4, '0')
        |       END AS exif_make,
        |       CASE WHEN doc_id % 4 = 3 THEN NULL
        |            ELSE 'MD' || lpad(CAST(doc_id % 53 AS VARCHAR), 4, '0')
        |       END AS exif_model,
        |       CASE WHEN doc_id % 4 IN (0, 1)
        |            THEN 'SW' || lpad(CAST(doc_id % 11111 AS VARCHAR), 5, '0')
        |       END AS exif_software
        |FROM documents""".stripMargin,
    // GPS decimal degrees recomputed from doc_id arithmetic in the
    // kernel's exact operation order (deg + min/60 + (sec/100)/3600,
    // negated for S/W) — IEEE-754 division/addition are correctly
    // rounded, so identical operation order is bit-identical with no
    // rounding step. The byte round trips (both endiannesses, the decoy
    // tag, out-of-line rationals, the in-place scrub) happen only on the
    // Spark side.
    "mm_exif_gps" ->
      """WITH b AS (SELECT doc_id,
        |  CAST(doc_id % 90 AS DOUBLE)
        |    + CAST(doc_id % 60 AS DOUBLE) / 60.0
        |    + (CAST(doc_id % 3600 AS DOUBLE) / 100.0) / 3600.0 AS lat0,
        |  CAST(doc_id % 180 AS DOUBLE)
        |    + CAST((doc_id + 17) % 60 AS DOUBLE) / 60.0
        |    + (CAST((doc_id * 7) % 3600 AS DOUBLE) / 100.0) / 3600.0 AS lon0
        |FROM documents)
        |SELECT doc_id,
        |  CASE WHEN doc_id % 4 IN (0, 1) THEN true
        |       WHEN doc_id % 4 = 2 THEN false
        |       ELSE NULL END AS gps_present,
        |  CASE WHEN doc_id % 4 IN (0, 1) THEN
        |    CASE WHEN doc_id % 8 >= 4 THEN -lat0 ELSE lat0 END
        |  END AS gps_lat,
        |  CASE WHEN doc_id % 4 IN (0, 1) THEN
        |    CASE WHEN doc_id % 8 >= 4 THEN -lon0 ELSE lon0 END
        |  END AS gps_lon,
        |  CASE WHEN doc_id % 4 = 3 THEN NULL ELSE false END AS gps_present_after,
        |  CAST(doc_id % 500 + 1 AS BIGINT) AS width_after
        |FROM b""".stripMargin,
    // Media durations recomputed from the SAME arithmetic that sized the
    // synthesized headers — the byte round trips (LE-32 RIFF, BE-32/64
    // BMFF, the pad/largesize/version shapes) happen only on the Spark
    // side, so the comparison proves the walks.
    "mm_media_duration" ->
      """WITH n AS (SELECT doc_id,
        |  CASE
        |    WHEN doc_id % 8 = 0 THEN CAST((doc_id % 997 + 1) * 100 AS BIGINT)
        |    WHEN doc_id % 8 = 1 THEN CAST((doc_id % 7200 + 1) * 100 AS BIGINT)
        |    WHEN doc_id % 8 = 2 THEN CAST((doc_id % 100000 + 1) * 10 AS BIGINT)
        |    WHEN doc_id % 32 = 3 THEN CAST((doc_id % 5000 + 1) * 1152 AS BIGINT)
        |    WHEN doc_id % 32 = 11 THEN CAST((doc_id % 997 + 68) * 8 AS BIGINT)
        |    WHEN doc_id % 32 = 19 THEN CAST((doc_id % 500 + 36) * 8 AS BIGINT)
        |    WHEN doc_id % 8 = 4 THEN CAST((doc_id % 100000 + 1) * 10 AS BIGINT)
        |    WHEN doc_id % 8 = 5 THEN CAST((doc_id % 100000 + 1) * 4 AS BIGINT)
        |    WHEN doc_id % 8 = 6 THEN CAST((doc_id % 48000 + 1) * 10 AS BIGINT)
        |    WHEN doc_id % 32 = 15
        |      THEN CAST((doc_id % 100000 + 1) * 1000000 AS BIGINT)
        |    WHEN doc_id % 32 = 31 THEN CAST(2500500000 AS BIGINT)
        |  END AS media_dur_num,
        |  CASE
        |    WHEN doc_id % 8 = 0 THEN CAST((doc_id % 100 + 1) * 1000 AS BIGINT)
        |    WHEN doc_id % 8 = 1 THEN CAST(600 AS BIGINT)
        |    WHEN doc_id % 8 = 2 THEN CAST(1000 AS BIGINT)
        |    WHEN doc_id % 32 = 3 THEN CAST(44100 AS BIGINT)
        |    WHEN doc_id % 32 = 11 THEN CAST(128000 AS BIGINT)
        |    WHEN doc_id % 32 = 19 THEN CAST(32000 AS BIGINT)
        |    WHEN doc_id % 8 = 4 THEN CAST(44100 AS BIGINT)
        |    WHEN doc_id % 8 = 5 THEN CAST(44100 AS BIGINT)
        |    WHEN doc_id % 8 = 6 THEN CAST(48000 AS BIGINT)
        |    WHEN doc_id % 32 IN (15, 31) THEN CAST(1000000000 AS BIGINT)
        |  END AS media_dur_den
        |FROM documents)
        |SELECT doc_id, media_dur_num, media_dur_den,
        |       CAST(media_dur_num AS DOUBLE)
        |         / CAST(media_dur_den AS DOUBLE) AS media_duration_sec
        |FROM n""".stripMargin,
    "mm_binary_meta_ext" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    CASE CAST(doc_id % 10 AS INTEGER)
        |      WHEN 0 THEN from_hex('FFD8FFE0') || encode(text) || from_hex('FFD9')
        |      WHEN 1 THEN from_hex('FFD8FFE0') || encode(text)
        |      WHEN 2 THEN from_hex('89504E470D0A1A0A') || encode(text)
        |                  || from_hex('0000000049454E44AE426082')
        |      WHEN 3 THEN from_hex('474946383961') || encode(text) || from_hex('3B')
        |      WHEN 4 THEN from_hex('664C6143') || encode(text)
        |      WHEN 5 THEN from_hex('52494646') || from_hex('10000000')
        |                  || encode('WEBP') || encode(text)
        |      WHEN 6 THEN encode('%PDF-1.7' || chr(10)) || encode(text)
        |                  || encode(chr(10) || '%%EOF' || chr(10) || ' ok')
        |      WHEN 7 THEN encode('%PDF-1.4' || chr(10)) || encode(text)
        |      WHEN 8 THEN from_hex('1F8B0800') || encode(text)
        |      ELSE from_hex('4F676753') || encode(text)
        |    END AS payload
        |  FROM documents),
        |h AS (SELECT doc_id, hex(payload) AS hx,
        |             CAST(octet_length(payload) AS INTEGER) AS n_bytes
        |      FROM p),
        |f AS (SELECT doc_id, hx, n_bytes,
        |        CASE
        |          WHEN substr(hx, 1, 4) = 'FFD8' THEN 'jpeg'
        |          WHEN substr(hx, 1, 8) = '89504E47' THEN 'png'
        |          WHEN substr(hx, 1, 8) = '47494638' THEN 'gif'
        |          WHEN substr(hx, 1, 8) = '664C6143' THEN 'flac'
        |          WHEN substr(hx, 1, 8) = '4F676753' THEN 'ogg'
        |          WHEN substr(hx, 1, 8) = '52494646' THEN
        |            CASE substr(hx, 17, 8)
        |              WHEN '57454250' THEN 'webp'
        |              WHEN '57415645' THEN 'wav'
        |              WHEN '41564920' THEN 'avi'
        |              ELSE 'riff' END
        |          WHEN substr(hx, 9, 8) = '66747970' THEN 'mp4'
        |          WHEN substr(hx, 1, 6) = '494433' THEN 'mp3'
        |          WHEN substr(hx, 1, 2) = 'FF'
        |               AND substr(hx, 3, 1) IN ('E', 'F') THEN 'mp3'
        |          WHEN substr(hx, 1, 8) = '25504446' THEN 'pdf'
        |          WHEN substr(hx, 1, 4) = '1F8B' THEN 'gzip'
        |          ELSE 'unknown'
        |        END AS format
        |      FROM h),
        |r AS (SELECT *,
        |        (instr('0123456789ABCDEF', substr(hx,  9, 1)) - 1) * 16
        |        + instr('0123456789ABCDEF', substr(hx, 10, 1)) - 1
        |        + ((instr('0123456789ABCDEF', substr(hx, 11, 1)) - 1) * 16
        |           + instr('0123456789ABCDEF', substr(hx, 12, 1)) - 1) * 256
        |        + ((instr('0123456789ABCDEF', substr(hx, 13, 1)) - 1) * 16
        |           + instr('0123456789ABCDEF', substr(hx, 14, 1)) - 1) * 65536
        |        + ((instr('0123456789ABCDEF', substr(hx, 15, 1)) - 1) * 16
        |           + instr('0123456789ABCDEF', substr(hx, 16, 1)) - 1) * 16777216
        |        AS riff_declared
        |      FROM f)
        |SELECT doc_id, n_bytes, format,
        |       CASE
        |         WHEN format = 'jpeg' THEN right(hx, 4) <> 'FFD9'
        |         WHEN format = 'png' THEN right(hx, 16) <> '49454E44AE426082'
        |         WHEN format = 'gif' THEN right(hx, 2) <> '3B'
        |         WHEN format IN ('webp', 'wav', 'avi', 'riff')
        |           THEN n_bytes <> riff_declared + 8
        |         WHEN format = 'pdf'
        |           THEN NOT regexp_matches(right(hx, 2048), '^(..)*2525454F46')
        |         ELSE CAST(NULL AS BOOLEAN)
        |       END AS truncated
        |FROM r""".stripMargin,
    // Byte-range frames replayed on the hex encoding (DuckDB cannot slice
    // BLOBs): hex offset = 2 × byte offset, and Spark's hex() is uppercase
    // like DuckDB's.
    "mm_sample_frames" ->
      """SELECT doc_id, CAST(t.i AS INTEGER) AS frame_idx,
        |       substring(upper(hex(encode(text))), CAST(t.i AS BIGINT) * 512 + 1, 128) AS frame_hex
        |FROM documents, range(0, 256) t(i)
        |WHERE t.i < floor(octet_length(encode(text)) / 256)""".stripMargin,
    // the mm_sample_frames hex-slicing parity + md5 per frame, self-joined
    // on the frame hash — the same pairs the bucketed expansion emits
    "mm_frame_near_dup" ->
      """WITH d AS (SELECT * FROM documents
        |           UNION ALL
        |           SELECT doc_id + 10000 AS doc_id, text, lang, source, n_chars
        |           FROM documents WHERE doc_id % 5 = 0),
        |     hx AS (SELECT doc_id, upper(hex(encode(text))) AS h FROM d),
        |     fr AS (SELECT DISTINCT doc_id,
        |              md5(substring(h, CAST(t.i AS BIGINT) * 512 + 1, 128)) AS fh
        |            FROM hx, range(0, 256) t(i)
        |            WHERE t.i < floor(len(h) / 512)),
        |     cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nf FROM fr GROUP BY 1),
        |     p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |             CAST(count(*) AS BIGINT) AS shared
        |           FROM fr a JOIN fr b ON a.fh = b.fh AND a.doc_id < b.doc_id
        |           GROUP BY 1, 2),
        |     sc AS (SELECT p.id_a, p.id_b, p.shared AS shared_frames,
        |              round(CAST(p.shared AS DOUBLE) / least(ca.nf, cb.nf), 9) AS overlap
        |            FROM p JOIN cnt ca ON p.id_a = ca.doc_id
        |                 JOIN cnt cb ON p.id_b = cb.doc_id)
        |SELECT id_a, id_b, shared_frames, overlap FROM sc
        |WHERE overlap >= 0.5""".stripMargin,
    // Recomputes the md5-based stub embedding component exactly (hex/md5
    // only; division by 2^32 is lossless in binary64).
    "mm_fake_embed" ->
      """SELECT doc_id,
        |       CAST(i - 1 AS INTEGER) AS pos,
        |       CAST(CAST(('0x' || substr(md5(upper(hex(encode(text))) || '#'
        |                                     || CAST(i AS VARCHAR)), 1, 8))
        |                 AS BIGINT) AS DOUBLE) / 4294967296.0 AS value
        |FROM documents, range(1, 5) t(i)""".stripMargin,
    // BM25 replay: Lucene idf ln(1 + (N−df+½)/(df+½)), tf saturation with
    // k1=1.2 b=0.75, per-term scores 9-decimal-rounded BEFORE the per-doc
    // sum (grid-sum rule: rounded terms are 1e-9 multiples up to one ulp,
    // so the sum re-rounds identically in any order), rank on the rounded
    // sum with id ties.
    "text_bm25" ->
      """WITH base AS (SELECT doc_id, lower(text) AS t FROM documents),
        |     dl AS (SELECT doc_id,
        |              CAST(coalesce(len(list_filter(string_split_regex(t, '\s+'),
        |                                            x -> x <> '')), 0) AS BIGINT) AS dl
        |            FROM base),
        |     stats AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |                      avg(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
        |     toks AS (SELECT doc_id,
        |                unnest(list_filter(string_split_regex(t, '\s+'), x -> x <> '')) AS term
        |              FROM base),
        |     qterms AS (SELECT DISTINCT doc_id AS query_id, term FROM toks WHERE doc_id < 3),
        |     tf AS (SELECT doc_id AS id, term, CAST(count(*) AS BIGINT) AS tf
        |            FROM toks WHERE term IN (SELECT term FROM qterms) GROUP BY 1, 2),
        |     dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |     scored AS (SELECT q.query_id, tf.id,
        |                  round(ln(1 + (s.n - dfq.df + 0.5) / (dfq.df + 0.5))
        |                        * tf.tf * 2.2
        |                        / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)), 9) AS sc
        |                FROM tf JOIN qterms q ON tf.term = q.term
        |                     JOIN dfq ON tf.term = dfq.term
        |                     JOIN dl ON tf.id = dl.doc_id
        |                     CROSS JOIN stats s),
        |     summed AS (SELECT query_id, id, round(sum(sc), 9) AS bm25
        |                FROM scored GROUP BY 1, 2)
        |SELECT query_id, id, bm25 FROM (
        |  SELECT query_id, id, bm25,
        |         row_number() OVER (PARTITION BY query_id
        |                            ORDER BY bm25 DESC, id) AS rn
        |  FROM summed)
        |WHERE rn <= 10""".stripMargin,
    // the pack replay aggregated: distinct (bucket, bin) count + sums
    "pack_report" ->
      """WITH t AS (SELECT doc_id,
        |             CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS INTEGER) AS n_tokens
        |           FROM documents),
        |     h AS (SELECT doc_id, n_tokens,
        |             (((doc_id % 2147483647) * 48271 % 2147483647) * 48271 % 2147483647) AS hh
        |           FROM t WHERE n_tokens > 0),
        |     c AS (SELECT doc_id, n_tokens, hh % 8 AS bucket,
        |             CAST(sum(n_tokens) OVER (PARTITION BY hh % 8 ORDER BY hh, doc_id
        |                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |           FROM h),
        |     p AS (SELECT doc_id, n_tokens, bucket, (cum - 1) // 512 AS bin FROM c)
        |SELECT CAST(count(DISTINCT (bucket, bin)) AS BIGINT) AS n_sequences,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |       round(CAST(sum(n_tokens) AS DOUBLE)
        |             / (count(DISTINCT (bucket, bin)) * 512), 9) AS fill
        |FROM p""".stripMargin,
    // stopword extraction off the persisted index's df table: terms in
    // at least half the corpus
    "text_index_stopwords" ->
      """WITH toks AS (SELECT doc_id,
        |                unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |                                   x -> x <> '')) AS term
        |              FROM documents),
        |     dfq AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        |             FROM toks GROUP BY 1)
        |SELECT term, df FROM dfq
        |WHERE CAST(df AS DOUBLE) >= 0.5 * (SELECT count(*) FROM documents)""".stripMargin,
    // The indexed search must be bit-identical to the direct one — same
    // replay as text_bm25 (the disk round trip has no observable effect).
    "text_bm25_indexed" ->
      """WITH base AS (SELECT doc_id, lower(text) AS t FROM documents),
        |     dl AS (SELECT doc_id,
        |              CAST(coalesce(len(list_filter(string_split_regex(t, '\s+'),
        |                                            x -> x <> '')), 0) AS BIGINT) AS dl
        |            FROM base),
        |     stats AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |                      avg(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
        |     toks AS (SELECT doc_id,
        |                unnest(list_filter(string_split_regex(t, '\s+'), x -> x <> '')) AS term
        |              FROM base),
        |     qterms AS (SELECT DISTINCT doc_id AS query_id, term FROM toks WHERE doc_id < 3),
        |     tf AS (SELECT doc_id AS id, term, CAST(count(*) AS BIGINT) AS tf
        |            FROM toks WHERE term IN (SELECT term FROM qterms) GROUP BY 1, 2),
        |     dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |     scored AS (SELECT q.query_id, tf.id,
        |                  round(ln(1 + (s.n - dfq.df + 0.5) / (dfq.df + 0.5))
        |                        * tf.tf * 2.2
        |                        / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)), 9) AS sc
        |                FROM tf JOIN qterms q ON tf.term = q.term
        |                     JOIN dfq ON tf.term = dfq.term
        |                     JOIN dl ON tf.id = dl.doc_id
        |                     CROSS JOIN stats s),
        |     summed AS (SELECT query_id, id, round(sum(sc), 9) AS bm25
        |                FROM scored GROUP BY 1, 2)
        |SELECT query_id, id, bm25 FROM (
        |  SELECT query_id, id, bm25,
        |         row_number() OVER (PARTITION BY query_id
        |                            ORDER BY bm25 DESC, id) AS rn
        |  FROM summed)
        |WHERE rn <= 10""".stripMargin,
    // Two-stage replay: the text_bm25 chain cut at rank 50, embeddings
    // joined on the shortlist ids, the sim_topk_batch cosine formula, and
    // the final rank on the 9-decimal-rounded cosine.
    "text_bm25_rerank" -> bm25RerankOracleSql,
    // The indexed two-stage search must be bit-identical to the direct
    // one (the text_bm25_indexed rationale).
    "text_bm25_rerank_indexed" -> bm25RerankOracleSql,
    // Two full bm25 replays: pass one's top-5 feedback docs, the integer
    // tf-sum expansion rank, the distinct union, pass two over the
    // expanded vocabulary.
    "text_bm25_prf" -> bm25PrfOracleSql,
    // The indexed PRF must be bit-identical to the direct one — the
    // text_bm25_indexed rationale: stored postings/df/totals replace the
    // corpus rescans, results don't move.
    "text_bm25_prf_indexed" -> bm25PrfOracleSql,
    // Metric replay: the text_bm25 ranking CTE, the dense truth CTE, then
    // hit/min-rank-reciprocal/DCG with every gain rounded pre-sum and the
    // closed-form ideal DCG over min(n_truth, 10) positions.
    "text_bm25_eval" ->
      """WITH base AS (SELECT doc_id, lower(text) AS t FROM documents),
        |     dl AS (SELECT doc_id,
        |              CAST(coalesce(len(list_filter(string_split_regex(t, '\s+'),
        |                                            x -> x <> '')), 0) AS BIGINT) AS dl
        |            FROM base),
        |     stats AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |                      avg(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
        |     toks AS (SELECT doc_id,
        |                unnest(list_filter(string_split_regex(t, '\s+'), x -> x <> '')) AS term
        |              FROM base),
        |     qterms AS (SELECT DISTINCT doc_id AS query_id, term FROM toks WHERE doc_id < 3),
        |     tf AS (SELECT doc_id AS id, term, CAST(count(*) AS BIGINT) AS tf
        |            FROM toks WHERE term IN (SELECT term FROM qterms) GROUP BY 1, 2),
        |     dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |     scored AS (SELECT q.query_id, tf.id,
        |                  round(ln(1 + (s.n - dfq.df + 0.5) / (dfq.df + 0.5))
        |                        * tf.tf * 2.2
        |                        / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)), 9) AS sc
        |                FROM tf JOIN qterms q ON tf.term = q.term
        |                     JOIN dfq ON tf.term = dfq.term
        |                     JOIN dl ON tf.id = dl.doc_id
        |                     CROSS JOIN stats s),
        |     summed AS (SELECT query_id, id, round(sum(sc), 9) AS bm25
        |                FROM scored GROUP BY 1, 2),
        |     pred AS (SELECT query_id, id,
        |                row_number() OVER (PARTITION BY query_id
        |                                   ORDER BY bm25 DESC, id) AS rn
        |              FROM summed QUALIFY rn <= 10),
        |     eq AS (SELECT vec_id AS query_id, embedding AS qe,
        |              sqrt(list_sum([CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
        |                             FOR i IN range(1, 65)])) AS qnrm
        |            FROM embeddings WHERE vec_id < 3),
        |     eb AS (SELECT vec_id AS id, embedding,
        |              sqrt(list_sum([CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
        |                             FOR i IN range(1, 65)])) AS nrm
        |            FROM embeddings),
        |     ds AS (SELECT eq.query_id, eb.id,
        |              list_sum([CAST(eb.embedding[i] AS DOUBLE) * CAST(eq.qe[i] AS DOUBLE)
        |                        FOR i IN range(1, 65)]) / (eb.nrm * eq.qnrm) AS cos
        |            FROM eb CROSS JOIN eq
        |            WHERE eb.nrm > 0 AND eq.qnrm > 0),
        |     truth AS (SELECT query_id, id FROM (
        |                 SELECT query_id, id,
        |                        row_number() OVER (PARTITION BY query_id
        |                                           ORDER BY cos DESC, id) AS rn
        |                 FROM ds) WHERE rn <= 10),
        |     tc AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_truth
        |            FROM truth GROUP BY 1),
        |     rel AS (SELECT p.query_id, p.rn,
        |               CASE WHEN t.id IS NULL THEN 0 ELSE 1 END AS rel
        |             FROM pred p LEFT JOIN truth t
        |               ON p.query_id = t.query_id AND p.id = t.id),
        |     pq AS (SELECT query_id,
        |              max(rel) AS hit,
        |              round(coalesce(1.0 / min(CASE WHEN rel = 1 THEN rn END), 0.0), 9) AS rr,
        |              round(coalesce(sum(CASE WHEN rel = 1
        |                                      THEN round(1.0 / log2(rn + 1), 9)
        |                                      ELSE 0.0 END), 0.0), 9) AS dcg
        |            FROM rel GROUP BY 1)
        |SELECT tc.query_id, tc.n_truth,
        |       CAST(coalesce(pq.hit, 0) AS INTEGER) AS hit,
        |       coalesce(pq.rr, 0.0) AS rr,
        |       CASE WHEN round(list_sum([round(1.0 / log2(i + 1), 9)
        |                                 FOR i IN range(1, CAST(least(tc.n_truth, 10) AS INTEGER) + 1)]), 9) > 0
        |            THEN round(coalesce(pq.dcg, 0.0)
        |                       / round(list_sum([round(1.0 / log2(i + 1), 9)
        |                                         FOR i IN range(1, CAST(least(tc.n_truth, 10) AS INTEGER) + 1)]), 9), 9)
        |            ELSE 0.0 END AS ndcg
        |FROM tc LEFT JOIN pq ON tc.query_id = pq.query_id""".stripMargin,
    // The corpus_drift_psi replay over ref-fit equal-width n_chars bins:
    // integer edges, floor-of-double assignment, current drop clamped.
    "corpus_drift_numeric" ->
      """WITH mm AS (SELECT CAST(min(n_chars) AS BIGINT) AS lo,
        |                   CAST(max(n_chars) - min(n_chars) + 1 AS BIGINT) AS w
        |            FROM documents WHERE doc_id % 3 = 0),
        |     rb AS (SELECT least(greatest(CAST(floor((n_chars - lo) * 8
        |                     / CAST(w AS DOUBLE)) AS BIGINT), 0), 7) AS bin
        |            FROM documents, mm WHERE doc_id % 3 = 0),
        |     cb AS (SELECT least(greatest(CAST(floor((n_chars - lo) * 8
        |                     / CAST(w AS DOUBLE)) AS BIGINT), 0), 7) AS bin
        |            FROM documents, mm WHERE doc_id % 3 <> 0),
        |     r AS (SELECT bin, count(*) AS n_ref FROM rb GROUP BY 1),
        |     c AS (SELECT bin, count(*) AS n_cur FROM cb GROUP BY 1),
        |     j AS (SELECT COALESCE(r.bin, c.bin) AS bin,
        |                  COALESCE(n_ref, 0) AS n_ref, COALESCE(n_cur, 0) AS n_cur
        |           FROM r FULL OUTER JOIN c ON r.bin IS NOT DISTINCT FROM c.bin),
        |     p AS (SELECT bin, n_ref, n_cur,
        |             greatest(CAST(n_ref AS DOUBLE) / (SELECT CAST(sum(n_ref) AS DOUBLE) FROM j),
        |                      0.0001) AS rp,
        |             greatest(CAST(n_cur AS DOUBLE) / (SELECT CAST(sum(n_cur) AS DOUBLE) FROM j),
        |                      0.0001) AS cp
        |           FROM j)
        |SELECT CAST(bin AS VARCHAR) AS chars_bin,
        |       CAST(n_ref AS BIGINT) AS n_ref, CAST(n_cur AS BIGINT) AS n_cur,
        |       round(rp, 9) AS ref_pct, round(cp, 9) AS cur_pct,
        |       round((rp - cp) * ln(rp / cp), 9) + 0.0 AS psi_term
        |FROM p""".stripMargin,
    // Hybrid fusion replay: the text_bm25 CTE chain, the sim_topk_batch
    // dense chain (queries vec_id < 3), each re-ranked per query, fused by
    // Σ round(1/(60+rank), 9) and re-rounded (grid-sum rule again).
    "text_rrf_hybrid" ->
      """WITH base AS (SELECT doc_id, lower(text) AS t FROM documents),
        |     dl AS (SELECT doc_id,
        |              CAST(coalesce(len(list_filter(string_split_regex(t, '\s+'),
        |                                            x -> x <> '')), 0) AS BIGINT) AS dl
        |            FROM base),
        |     stats AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |                      avg(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
        |     toks AS (SELECT doc_id,
        |                unnest(list_filter(string_split_regex(t, '\s+'), x -> x <> '')) AS term
        |              FROM base),
        |     qterms AS (SELECT DISTINCT doc_id AS query_id, term FROM toks WHERE doc_id < 3),
        |     tf AS (SELECT doc_id AS id, term, CAST(count(*) AS BIGINT) AS tf
        |            FROM toks WHERE term IN (SELECT term FROM qterms) GROUP BY 1, 2),
        |     dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |     scored AS (SELECT q.query_id, tf.id,
        |                  round(ln(1 + (s.n - dfq.df + 0.5) / (dfq.df + 0.5))
        |                        * tf.tf * 2.2
        |                        / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)), 9) AS sc
        |                FROM tf JOIN qterms q ON tf.term = q.term
        |                     JOIN dfq ON tf.term = dfq.term
        |                     JOIN dl ON tf.id = dl.doc_id
        |                     CROSS JOIN stats s),
        |     summed AS (SELECT query_id, id, round(sum(sc), 9) AS bm25
        |                FROM scored GROUP BY 1, 2),
        |     bm_top AS (SELECT query_id, id, bm25 FROM (
        |                  SELECT query_id, id, bm25,
        |                         row_number() OVER (PARTITION BY query_id
        |                                            ORDER BY bm25 DESC, id) AS rn
        |                  FROM summed) WHERE rn <= 10),
        |     q AS (SELECT vec_id AS query_id, embedding AS qe,
        |             sqrt(list_sum([CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
        |                            FOR i IN range(1, 65)])) AS qnrm
        |           FROM embeddings WHERE vec_id < 3),
        |     b AS (SELECT vec_id AS id, embedding,
        |             sqrt(list_sum([CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
        |                            FOR i IN range(1, 65)])) AS nrm
        |           FROM embeddings),
        |     ds AS (SELECT q.query_id, b.id,
        |              list_sum([CAST(b.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)
        |                        FOR i IN range(1, 65)]) / (b.nrm * q.qnrm) AS cos
        |            FROM b CROSS JOIN q
        |            WHERE b.nrm > 0 AND q.qnrm > 0),
        |     dense_top AS (SELECT query_id, id, cos FROM (
        |                     SELECT query_id, id, cos,
        |                            row_number() OVER (PARTITION BY query_id
        |                                               ORDER BY cos DESC, id) AS rn
        |                     FROM ds) WHERE rn <= 10),
        |     ra AS (SELECT query_id, id,
        |              round(1.0 / (60 + row_number() OVER (PARTITION BY query_id
        |                                                   ORDER BY bm25 DESC, id)), 9) AS r
        |            FROM bm_top),
        |     rb AS (SELECT query_id, id,
        |              round(1.0 / (60 + row_number() OVER (PARTITION BY query_id
        |                                                   ORDER BY cos DESC, id)), 9) AS r
        |            FROM dense_top),
        |     fused AS (SELECT coalesce(ra.query_id, rb.query_id) AS query_id,
        |                      coalesce(ra.id, rb.id) AS id,
        |                      round(coalesce(ra.r, 0) + coalesce(rb.r, 0), 9) AS rrf
        |               FROM ra FULL OUTER JOIN rb
        |                 ON ra.query_id = rb.query_id AND ra.id = rb.id)
        |SELECT query_id, id, rrf FROM (
        |  SELECT query_id, id, rrf,
        |         row_number() OVER (PARTITION BY query_id
        |                            ORDER BY rrf DESC, id) AS rn
        |  FROM fused)
        |WHERE rn <= 10""".stripMargin,
    "sample_cap_per_group" ->
      """SELECT doc_id, source, n_chars FROM (
        |  SELECT doc_id, source, n_chars,
        |         row_number() OVER (PARTITION BY source
        |                            ORDER BY n_chars DESC NULLS LAST, doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 5""".stripMargin,
    // Hash-embedding replay from the vocab dump: signed bucket sums are
    // exact integers (order-free), norms are exact integer sums under
    // sqrt, and the division replays operand-identically.
    "text_hash_embed" ->
      """WITH v AS (SELECT term, bucket, sign
        |           FROM read_parquet('{GRAFT_OUT}/text_hash_vocab/*.parquet')),
        |     toks AS (SELECT doc_id,
        |                unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |                                   x -> x <> '')) AS term
        |              FROM documents),
        |     sums AS (SELECT t.doc_id, v.bucket, sum(v.sign) AS s
        |              FROM toks t JOIN v ON t.term = v.term GROUP BY 1, 2),
        |     grid AS (SELECT d.doc_id, CAST(r.i AS INTEGER) AS pos
        |              FROM documents d CROSS JOIN range(0, 16) r(i)),
        |     raw AS (SELECT g.doc_id, g.pos, coalesce(s.s, 0.0) AS val
        |             FROM grid g LEFT JOIN sums s
        |               ON g.doc_id = s.doc_id AND g.pos = s.bucket),
        |     nrm AS (SELECT doc_id, sqrt(sum(val * val)) AS nrm FROM raw GROUP BY 1)
        |SELECT r.doc_id, r.pos,
        |       round(CASE WHEN n.nrm > 0 THEN r.val / n.nrm ELSE r.val END, 9) AS value
        |FROM raw r JOIN nrm n ON r.doc_id = n.doc_id""".stripMargin,
    // Text-only dense retrieval replay: rebuild the hash embeddings from
    // the vocab dump, then the sim_topk_batch cosine chain over them
    // (identical sequential folds), values 9-decimal-rounded.
    "text_embed_topk" ->
      """WITH v AS (SELECT term, bucket, sign
        |           FROM read_parquet('{GRAFT_OUT}/text_hash_vocab/*.parquet')),
        |     toks AS (SELECT doc_id,
        |                unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |                                   x -> x <> '')) AS term
        |              FROM documents),
        |     sums AS (SELECT t.doc_id, v.bucket, sum(v.sign) AS s
        |              FROM toks t JOIN v ON t.term = v.term GROUP BY 1, 2),
        |     grid AS (SELECT d.doc_id, CAST(r.i AS INTEGER) AS pos
        |              FROM documents d CROSS JOIN range(0, 16) r(i)),
        |     raw AS (SELECT g.doc_id, g.pos, coalesce(s.s, 0.0) AS val
        |             FROM grid g LEFT JOIN sums s
        |               ON g.doc_id = s.doc_id AND g.pos = s.bucket),
        |     nrm AS (SELECT doc_id, sqrt(sum(val * val)) AS nrm FROM raw GROUP BY 1),
        |     emb AS (SELECT r.doc_id,
        |               list(CASE WHEN n.nrm > 0 THEN r.val / n.nrm ELSE r.val END
        |                    ORDER BY r.pos) AS e
        |             FROM raw r JOIN nrm n ON r.doc_id = n.doc_id
        |             GROUP BY r.doc_id),
        |     cs AS (SELECT doc_id, e,
        |              sqrt(list_sum([e[i] * e[i] FOR i IN range(1, 17)])) AS nr
        |            FROM emb),
        |     q AS (SELECT doc_id AS query_id, e AS qe, nr AS qnr
        |           FROM cs WHERE doc_id < 3 AND nr > 0),
        |     s AS (SELECT q.query_id, c.doc_id AS id,
        |             list_sum([c.e[i] * q.qe[i] FOR i IN range(1, 17)])
        |             / (c.nr * q.qnr) AS cos
        |           FROM cs c CROSS JOIN q
        |           WHERE c.nr > 0)
        |SELECT query_id, id, round(cos, 9) AS cos FROM (
        |  SELECT query_id, id, cos,
        |         row_number() OVER (PARTITION BY query_id
        |                            ORDER BY cos DESC, id) AS rn
        |  FROM s)
        |WHERE rn <= 10""".stripMargin,
  )
}
