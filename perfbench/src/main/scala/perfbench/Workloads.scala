package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SQLContext}
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.hash.Murmur3_x86_32

import graft.SparkEntry
import graft.ops.Dedup
import graft.sources.{Loader, Writer}
import graft.streaming.StreamingOps

/** What an op produced, for the output check. */
final case class Output(rows: Long, hash: Long, schema: String)

object Digest {
  /** Row count plus an order-insensitive content hash: the sum of a 64-bit
    * hash of each row's UnsafeRow bytes. Runs the op's plan once more, so
    * it is only ever called outside the timed phases. */
  def of(df: DataFrame): Output = {
    val schema = df.schema
    val (rows, hash) = df.queryExecution.toRdd.mapPartitions { it =>
      val proj = UnsafeProjection.create(schema)
      var n = 0L
      var h = 0L
      it.foreach { r => h += rowHash(proj(r)); n += 1 }
      Iterator.single((n, h))
    }.fold((0L, 0L)) { case ((n1, h1), (n2, h2)) => (n1 + n2, h1 + h2) }
    Output(rows, hash, schema.catalogString)
  }

  private def rowHash(u: org.apache.spark.sql.catalyst.expressions.UnsafeRow): Long = {
    val a = Murmur3_x86_32.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42)
    val b = Murmur3_x86_32.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 1729)
    ((a.toLong << 32) | (b & 0xffffffffL)) * 0x9e3779b97f4a7c15L
  }
}

object PlanAudit extends AdaptiveSparkPlanHelper {
  def exchanges(plan: SparkPlan): Int =
    collectWithSubqueries(plan) { case e: ShuffleExchangeLike => e }.size
}

/** The two workloads. Each pass runs every step of its workload once (in
  * the order [[Harness]] draws from the seed). A step is one of the
  * program's named queries (`SparkEntry.queries`) or the ingest loop.
  *
  * Ops belong to the groups the benchmark was designed around: `features`
  * (one transformer query per family), `curation` (eager dedup ops),
  * `kernels` (native Catalyst text and PDF kernels) and `ingest` (the
  * streaming dedup loop). The `curation` workload runs the curation and
  * ingest groups, both build-dominated; the `kernels` workload runs the
  * kernels and features groups, which use no checkpoints. */
object Workloads {
  val Names: Seq[String] = Seq("curation", "kernels")

  val Families: Seq[String] =
    Seq("imp", "cat", "disc", "out", "num", "scale", "creation", "dt", "sel")
  val FeatureOps: Seq[String] = Seq("imp_median", "cat_woe", "disc_equal_frequency",
    "out_winsorizer", "num_yeojohnson", "scale_robust", "creation_math",
    "dt_subtraction", "sel_drop_correlated")
  val CurationOps: Seq[String] = Seq("dedup_cluster")
  val KernelOps: Seq[String] =
    Seq("text_span_dedup", "text_hash_embed", "mm_pdf_encrypted")
  /** The step that stands for the whole ingest loop in a pass's op order. */
  val Ingest = "ingest"

  def familyOf(name: String): String =
    Families.find(f => name.startsWith(f + "_")).getOrElse(name)

  def steps(workload: String): Seq[String] = workload match {
    case "curation" => CurationOps :+ Ingest
    case "kernels" => KernelOps ++ FeatureOps
  }

  /** One named query, timed in three parts: build (the call into
    * `SparkEntry.queries`), plan (`executedPlan`) and exec
    * (`toRdd.count()`). */
  def runQuery(h: Harness, name: String): Unit =
    h.sample(name, familyOf(name)) {
      val df = h.phase(name, "build") {
        if (h.cfg.fault.contains(name))
          throw new IllegalStateException(s"fault injected into $name")
        SparkEntry.queries(name)(h.spark, h.dataDir)
      }
      val plan = h.phase(name, "plan")(df.queryExecution.executedPlan)
      if (h.traced) h.stats.exchanges += PlanAudit.exchanges(plan)
      h.phase(name, "exec")(df.queryExecution.toRdd.count())
      h.expected.check(name, Digest.of(df))
    }

  // ---- ingest ---------------------------------------------------------

  /** The corpus and the micro-batches, carved from the documents: a third
    * of the documents forms the corpus, the rest arrive in batches of equal
    * size. The workload seed picks one of [[SplitVariants]] carvings, so the
    * expected survivors of every carving can be stored. */
  final case class Carve(
      variant: Int, corpus: Seq[Row], batches: Seq[Seq[(Long, String, String)]]) {
    /** The expected-output key of this carving's survivor set. */
    def key: String = s"ingest_split_$variant"
  }

  val IngestBatches = 2
  val SplitVariants = 4

  def carve(docs: Seq[Row], seed: Long): Carve = {
    val variant = java.lang.Math.floorMod(seed, SplitVariants.toLong).toInt
    val shuffled = new scala.util.Random(variant).shuffle(docs)
    val corpusSize = docs.size / 3
    val perBatch = (docs.size - corpusSize) / IngestBatches
    val batches = shuffled.drop(corpusSize).grouped(perBatch).take(IngestBatches)
      .map(_.map(r => (r.getLong(0), r.getString(1), r.getString(3))).toSeq).toSeq
    Carve(variant, shuffled.take(corpusSize), batches)
  }

  private def corpusFrame(h: Harness): DataFrame =
    h.spark.read.parquet(h.dataDir + "/ingest_corpus.parquet")

  def writeCorpus(h: Harness, c: Carve): Unit = {
    val schema = h.spark.read.parquet(h.dataDir + "/documents.parquet").schema
    h.spark.createDataFrame(java.util.Arrays.asList(c.corpus: _*), schema)
      .select("doc_id", "text").coalesce(1)
      .write.parquet(h.dataDir + "/ingest_corpus.parquet")
  }

  /** A survivor set as an output: its size and an order-insensitive hash. */
  def survivors(ids: Seq[Long]): Output =
    Output(ids.size.toLong, ids.map(id => java.lang.Long.hashCode(id) * 0x9e3779b97f4a7c15L).sum,
      "survivor ids")

  /** The survivors of the sequential batch loop over a fresh index: the
    * semantics the streaming op promises to match document for document.
    * Run once per run when no stored expectation exists for the carving. */
  def reference(h: Harness, c: Carve): Output = {
    val spark = h.spark
    import spark.implicits._
    val dir = h.workDir + "/reference-index"
    Dedup.nearDupIndexFit(corpusFrame(h), "doc_id", "text").save(dir)
    val kept = c.batches.flatMap { b =>
      val idx = Dedup.NearDupIndex.load(h.spark, dir)
      val s = Dedup.nearDupIndexApply(
        b.toDF("doc_id", "text", "source"), "doc_id", "text", idx)
      val ids = s.select("doc_id").as[Long].collect().toSeq
      Dedup.appendToNearDupIndex(s, "doc_id", "text", dir)
      ids
    }
    Harness.deleteTree(Paths.get(dir))
    survivors(kept)
  }

  private def wet(survivors: DataFrame): DataFrame = survivors.select(
    lit("conversion").as("warc_type"),
    concat(lit("<urn:graft:ingest-"), col("doc_id"), lit(">")).as("record_id"),
    concat(lit("https://www."), col("source"), lit("-news.com/doc/"), col("doc_id"))
      .as("target_uri"),
    lit("2026-03-01T00:00:00Z").as("warc_date"),
    lit("text/plain").as("content_type"),
    col("text").as("payload"))

  /** One ingest loop: fit and save a fresh index, stream the batches
    * through `dedupStreamAgainstIndex` (one batch per trigger), and export
    * each batch's survivors as WET through `Writer.save`.
    *
    * A micro-batch is timed from outside: its sink call (the WET write) is
    * its exec phase, the rest (index load, the probe's eager jobs, the
    * index append) its build phase. Each batch is one op sample. */
  def ingestPass(h: Harness, c: Carve): Unit = {
    val passDir = s"${h.workDir}/pass-${h.pass}"
    val idxDir = passDir + "/index"
    val wetDir = passDir + "/wet"
    val s = h.stats
    h.sample("index_fit", "ingest") {
      val idx = h.phase("index_fit", "build") {
        if (h.cfg.fault.contains("index_fit"))
          throw new IllegalStateException("fault injected into index_fit")
        Dedup.nearDupIndexFit(corpusFrame(h), "doc_id", "text")
      }
      h.phase("index_fit", "exec")(idx.save(idxDir))
      true
    }
    s.fitSeconds = h.samples.last.seconds

    val spark = h.spark
    implicit val sqlc: SQLContext = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Long, String, String)]
    val batchNo = new AtomicInteger(0)
    val sinkSpans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val batchSecs = mutable.ArrayBuffer.empty[Double]
    val ok = try {
      // query start and stop are spans of their own: they count in the
      // pass time but in no batch, so batch times compare batch with batch
      val query = h.phase("stream", "build") {
        StreamingOps.dedupStreamAgainstIndex(
          mem.toDF().toDF("doc_id", "text", "source"), "doc_id", "text", idxDir,
          queryName = s"perfbench_ingest_p${h.pass}") { survivors =>
          val b = batchNo.incrementAndGet()
          h.onStreamThread("sink", "exec") {
            val t0 = System.nanoTime()
            Writer.save(wet(survivors), f"$wetDir/batch-$b%02d/docs.warc")
            sinkSpans.add((t0, System.nanoTime()))
          }
        }
      }
      try c.batches.foreach { b =>
        val t0 = System.nanoTime()
        mem.addData(b)
        query.processAllAvailable()
        val t1 = System.nanoTime()
        val (s0, s1) = Option(sinkSpans.poll()).getOrElse((t1, t1))
        h.spans += Span(h.pass, "stream", "build", t0, s0)
        h.spans += Span(h.pass, "sink", "exec", s0, s1)
        h.spans += Span(h.pass, "stream", "build", s1, t1)
        s.sinkSeconds += (s1 - s0) / 1e9
        batchSecs += (t1 - t0) / 1e9
      } finally h.phase("stream", "build")(query.stop())
      s.outputBytes = Harness.treeBytes(Paths.get(wetDir))
      s.generations = generations(idxDir)
      h.expected.check(c.key, survivors(survivorIds(h, wetDir)))
    } catch {
      case scala.util.control.NonFatal(e) =>
        h.report("stream", e)
        false
    }
    s.batchSeconds = batchSecs.toSeq
    batchSecs.foreach(secs => h.samples += Sample(h.pass, "batch", "ingest", secs, ok))
    (batchSecs.size until c.batches.size)
      .foreach(_ => h.samples += Sample(h.pass, "batch", "ingest", 0.0, ok = false))
    Harness.deleteTree(Paths.get(passDir))
  }

  private def generations(idxDir: String): Int = {
    import org.json4s._
    org.json4s.jackson.JsonMethods.parse(
      Files.readString(Paths.get(idxDir, "params.json"))) \ "generations" match {
      case JArray(xs) => xs.size
      case _ => 0
    }
  }

  private def survivorIds(h: Harness, wetDir: String): Seq[Long] = {
    val Id = """<urn:graft:ingest-(\d+)>""".r
    val dirs = Option(Paths.get(wetDir).toFile.listFiles()).toSeq.flatten.sorted
      .map(d => new java.io.File(d, "docs.warc"))
      .filter(d => Option(d.listFiles()).exists(_.exists(_.getName.endsWith(".warc"))))
    dirs.flatMap { d =>
      Loader.load(h.spark, d.getPath).select("record_id").collect()
        .map(r => r.getString(0) match { case Id(id) => id.toLong })
    }
  }
}
