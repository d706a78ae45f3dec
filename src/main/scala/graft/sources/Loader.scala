package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.errors.FeatureFactoryException.UnsupportedFormat

/** File-format dispatch (reference: examples/shared.rs:11-33): routes
  * `.parquet` / `.csv` by extension and raises `UnsupportedFormat` for
  * anything else — the reference's only source-side error path.
  *
  * CSV reads with header + schema inference, matching DataFusion's
  * `CsvReadOptions::new()` defaults (header true, schema inferred).
  *
  * Extension beyond the reference (the ingest formats a training-data
  * pipeline actually receives): `.json` / `.jsonl` as line-delimited JSON
  * with schema inference, `.txt` as one (value: string) row per line, and
  * `.warc` / `.wet` web-crawl archives via [[loadWarc]]. Compressed
  * variants route on the inner extension (`docs.jsonl.gz`). */
object Loader {

  /** Floor task size for COLUMNAR work (plain filter/join/aggregate):
    * ~4 MB of scanned bytes, the guide-§2.1 "partitions in the
    * 100 MB—1 GB raw / few-MB compressed" sizing. */
  private[graft] val ColumnarBytesPerTask: Long = 4L << 20

  /** Floor task size for per-row KERNEL work (tokenize, BPE merge chains,
    * Viterbi, regex+JSON line parses) whose per-row cost is ~10³× a
    * columnar filter: ~16 KB of scanned bytes per task. */
  private[graft] val KernelBytesPerTask: Long = 16L << 10

  /** Scan metadata — planned scan partition count + estimated scanned
    * bytes (file-source stats = total file size) — cached per (format,
    * path, session cores, total file length, latest file mtime). Planning
    * the bare scan (`toRdd`) on every read cost dozens of plannings per
    * query build; the cache makes the floor decision one map lookup per
    * read after the first. The length and mtime come from the listing the
    * read already did, so a table rewritten in-process gets a fresh
    * entry instead of the old file's decision. */
  private val scanMeta =
    scala.collection.concurrent.TrieMap.empty[(String, String, Int, Long, Long), (Int, Long)]

  /** (total length, latest modification time) of the files a file-source
    * frame reads. */
  private def fileIdentity(df: DataFrame): (Long, Long) = {
    import org.apache.spark.sql.execution.datasources.{
      HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
    val files = df.queryExecution.analyzed.collect { case l: LogicalRelation => l.relation }
      .collect { case HadoopFsRelation(index: PartitioningAwareFileIndex, _, _, _, _, _) =>
        index.allFiles()
      }.flatten
    (files.map(_.getLen).sum, files.map(_.getModificationTime).foldLeft(0L)(math.max(_, _)))
  }

  /** Reads `path` in `format` with a COST-AWARE scan-parallelism floor
    * (optimization guide §2.1/§2.5): repartition the just-read frame only
    * when BOTH hold —
    *  (a) the planned scan has fewer partitions than the session's
    *      default parallelism (single-file / single-row-group inputs:
    *      physically unsplittable, every downstream per-row kernel runs
    *      in ONE task however many cores the session has), AND
    *  (b) the scanned bytes justify the extra Exchange: the floor target
    *      is `min(cores, ceil(bytes / bytesPerTask))`, so a table smaller
    *      than `bytesPerTask` NEVER shuffles — flooring every read to
    *      `defaultParallelism` unconditionally made 16 light queries
    *      0.45–0.89× slower from 32-way shuffles of dictionary-sized
    *      tables (pure per-task scheduling overhead).
    * At production scale (many files / row groups ≥ cores) condition (a)
    * is false and NO shuffle is added — the floor derives from input
    * layout + bytes + session cores, never a local constant. Catalyst
    * pushes filters and projections below Repartition, so query-side
    * predicates still reach the scan under the floor. `bytesPerTask` is
    * [[ColumnarBytesPerTask]] or [[KernelBytesPerTask]]. */
  private[graft] def flooredScan(
      s: SparkSession, format: String, path: String, bytesPerTask: Long): DataFrame = {
    val df = s.read.format(format).load(path)
    val cores = s.sparkContext.defaultParallelism
    val (length, mtime) = fileIdentity(df)
    val (parts, bytes) = scanMeta.getOrElseUpdate((format, path, cores, length, mtime), {
      val probe = s.read.format(format).load(path)
      (probe.queryExecution.toRdd.getNumPartitions,
        probe.queryExecution.optimizedPlan.stats.sizeInBytes.min(BigInt(Long.MaxValue)).toLong)
    })
    val target = math.min(cores.toLong,
      math.max(1L, (bytes + bytesPerTask - 1) / bytesPerTask)).toInt
    if (parts < target) df.repartition(target) else df
  }

  def load(spark: SparkSession, path: String): DataFrame = {
    // strip a trailing compression suffix so `docs.jsonl.gz` routes as jsonl
    // (Spark's readers handle the codec themselves; loadWarc inflates its
    // own gzip — Common Crawl's member-per-record framing must reach the
    // record parser intact)
    val base = path.toLowerCase.replaceAll("\\.(gz|bz2|zst|snappy|deflate)$", "")
    val ext = base.lastIndexOf('.') match {
      case -1 => ""
      case i => base.substring(i + 1)
    }
    ext match {
      case "parquet" => spark.read.parquet(path)
      case "orc" => spark.read.orc(path)
      case "csv" =>
        spark.read.option("header", "true").option("inferSchema", "true").csv(path)
      case "json" | "jsonl" => spark.read.json(path)
      case "txt" => spark.read.text(path)
      case "warc" | "wet" => loadWarc(spark, path)
      case "cdxj" => loadCdxj(spark, path)
      case _ =>
        throw UnsupportedFormat(
          "Unsupported file format. Please provide a CSV, Parquet, ORC, " +
            "JSON(L), TXT, WARC/WET, or CDXJ file.")
    }
  }

  /** Web-crawl ingest (the Common-Crawl first mile): reads WARC/WET
    * archives — one row per RECORD — with columns
    * (warc_file, record_index, warc_type, record_id, target_uri,
    * warc_date, content_type, content_length, payload). WET conversion
    * records' payload feeds the curation chain directly; WARC response
    * records' HTML goes through [[graft.ops.TextOps.stripHtml]] first.
    * gzip archives (`.warc.gz` / `.wet.gz`) inflate inside the reader.
    *
    * Backed by the `graft-warc` DataSource V2
    * ([[graft.sources.warc.WarcDataSource]]): one task per archive file
    * (gzip is not splittable; crawl archives are ~1 GB by convention, so
    * a 100 TB crawl is ~100k independent file-tasks) STREAMING records
    * off the open file — memory is bounded by the largest single record,
    * never the archive, so multi-GB inflated .warc.gz parses fine.
    * Directories and globs expand through the path's Hadoop filesystem. */
  def loadWarc(spark: SparkSession, path: String): DataFrame =
    spark.read.format("graft-warc").load(path)

  /** RANDOM-ACCESS record fetch — the read side of a CDX index lookup
    * (pywb's replay path): fetch exactly the records named by
    * `(file, offset, length)` triples instead of scanning archives.
    * Offsets are plain-`.warc` file offsets (what this reader's
    * `record_offset` column reports) or member-per-record `.warc.gz`
    * compressed member offsets (what Common Crawl's cc-index stores) —
    * each range window is gzip-sniffed independently, so both work.
    *
    * Scale shape: ranges group into ONE task per archive file, visited
    * in offset order (forward seeks, near-sequential I/O when the index
    * is urlkey-sorted); fetching R records across F files costs F tasks
    * and R bounded reads — never a full scan. The triple list is a
    * DRIVER-side argument (it IS the query plan, like a file listing):
    * a lookup is bounded by its result size, so collect the ranges from
    * the index query first and keep lookups to what you would actually
    * materialize. */
  def loadWarcRanges(
      spark: SparkSession, ranges: Seq[(String, Long, Long)]): DataFrame = {
    require(ranges.nonEmpty, "loadWarcRanges: no ranges given")
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val json = JsonMethods.compact(JsonMethods.render(JArray(
      ranges.map { case (f, o, l) =>
        JArray(List(JString(f), JInt(o), JInt(l)))
      }.toList)))
    spark.read.format("graft-warc").option("ranges", json).load()
  }

  /** CDX-J web-archive index lines (pywb/OpenWayback convention, the
    * format of Common Crawl's cc-index files): each line is
    * `<urlkey> <timestamp> {json}` — the SURT urlkey (see
    * [[graft.ops.Url.surtKey]]), a 14-digit capture timestamp, and a
    * JSON block whose standard fields (all serialized as strings in the
    * format) are typed here: url, mime, status (int), digest,
    * length/offset (long — the byte range of the record inside its
    * archive file), filename.
    *
    * One row per line; blank lines drop; a malformed JSON block yields
    * NULL typed fields but keeps the row (lenient — one bad line must
    * not abort an index scan; `urlkey IS NULL OR url IS NULL` is the
    * quarantine filter).
    *
    * Scale shape: `spark.read.text` splits by line across tasks (unlike
    * the WARC reader, an index file IS splittable), the line parse and
    * `from_json` are one narrow codegen'd projection — a 100 TB crawl's
    * index (~100 GB of CDXJ) scans in parallel with zero shuffle, and
    * since urlkey-sorted index files sort captures by domain, a
    * min/max-pruning format upgrade (parquet-backed index) keeps the
    * same column contract. */
  def loadCdxj(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val jsonSchema = StructType(Seq(
      StructField("url", StringType), StructField("mime", StringType),
      StructField("status", StringType), StructField("digest", StringType),
      StructField("length", StringType), StructField("offset", StringType),
      StructField("filename", StringType)))
    val line = trim(col("value"))
    val urlkey = regexp_extract(line, "^(\\S+)", 1)
    val ts = regexp_extract(line, "^\\S+\\s+([0-9]+)", 1)
    val js = regexp_extract(line, "^\\S+\\s+\\S+\\s+(\\{.*\\})$", 1)
    // a small index file is ONE text split, so the whole pipeline above it
    // — line parse, from_json, broadcast-join probe, map-side window
    // limits — would run in one task however many cores the session has;
    // kernel sizing: ~16 KB of raw index lines ≈ a few hundred regex+JSON
    // parses ≈ tens of ms per task
    flooredScan(spark, "text", path, KernelBytesPerTask)
      .filter(line =!= "")
      .select(
        when(urlkey =!= "", urlkey).as("urlkey"),
        when(ts =!= "", ts).as("cdx_ts"),
        from_json(js, jsonSchema).as("__j"))
      .select(
        col("urlkey"), col("cdx_ts"),
        col("__j.url").as("url"), col("__j.mime").as("mime"),
        // try_cast, not cast: revisit lines carry status "-" and a
        // malformed line must yield NULL, not abort the scan under ANSI
        col("__j.status").try_cast(IntegerType).as("status"),
        col("__j.digest").as("digest"),
        col("__j.length").try_cast(LongType).as("length"),
        col("__j.offset").try_cast(LongType).as("offset"),
        col("__j.filename").as("filename"))
  }
}
