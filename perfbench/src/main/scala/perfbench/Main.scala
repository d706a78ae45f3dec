package perfbench

import java.io.IOException
import java.nio.file.{FileVisitResult, Files, Path, Paths, SimpleFileVisitor}
import java.nio.file.attribute.BasicFileAttributes

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.PerfbenchShim
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

final case class Config(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    scale: String,
    cores: Int,
    runDir: String,
    resultFile: String,
    expectedFile: String,
    launchMs: Long,
    fault: Option[String],
    record: Option[String])

object Config {
  def parse(args: Array[String]): Config = {
    require(args.length % 2 == 0, "arguments come in --key value pairs")
    val m = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def req(k: String): String =
      m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val workload = req("workload")
    require(Workloads.Names.contains(workload), s"unknown workload $workload")
    val trace = req("trace") == "1"
    Config(
      workload = workload,
      seed = req("seed").toLong,
      seconds = req("seconds").toDouble,
      trace = trace,
      scale = req("scale"),
      cores = req("cores").toInt,
      runDir = req("run-dir"),
      resultFile = req("result"),
      expectedFile = req("expected"),
      launchMs = req("launch-ms").toLong,
      fault = m.get("inject-fault"),
      record = m.get("record"))
  }
}

final case class Span(pass: Int, op: String, phase: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

final case class Sample(pass: Int, op: String, family: String, seconds: Double, ok: Boolean)

/** The split of the run's one set-up. */
final case class Setup(session: Double, inputGen: Double, warmup: Double)

/** What a pass measured beyond its spans and samples. */
final class PassStats(val pass: Int, val traced: Boolean) {
  var exchanges = 0
  var blockPeakBytes = 0L
  var tmpBytes = 0L
  var fitSeconds = 0.0
  var batchSeconds: Seq[Double] = Nil
  var sinkSeconds = 0.0
  var outputBytes = 0L
  var generations = 0
}

/** Stored expected outputs (rows, content hash, schema) per scale and op.
  * An op whose hash is not stable across passes, JVMs and core counts is
  * stored without one and checked by row count and schema only. Ops with
  * no stored entry are checked against their first output in this run. */
final class Expected(file: String, scale: String) {
  private val table: Map[String, (Long, Option[Long], String)] =
    if (!Files.exists(Paths.get(file))) Map.empty
    else JsonMethods.parse(Files.readString(Paths.get(file))) \ scale match {
      case JObject(ops) => ops.map { case (op, v) =>
        val JInt(rows) = v \ "rows": @unchecked
        val hash = v \ "hash" match { case JString(x) => Some(x.toLong); case _ => None }
        val JString(schema) = v \ "schema": @unchecked
        op -> ((rows.toLong, hash, schema))
      }.toMap
      case _ => Map.empty
    }
  private val firstSeen = mutable.Map.empty[String, Output]
  val observed = mutable.Map.empty[String, mutable.ArrayBuffer[Output]]

  def unstable: Seq[String] = table.collect { case (op, (_, None, _)) => op }.toSeq.sorted
  def stored(op: String): Boolean = table.contains(op)

  def check(op: String, out: Output): Boolean = {
    observed.getOrElseUpdate(op, mutable.ArrayBuffer.empty) += out
    val (rows, hash, schema) = table.getOrElse(op, {
      val f = firstSeen.getOrElseUpdate(op, out)
      (f.rows, Some(f.hash), f.schema)
    })
    val ok = out.rows == rows && out.schema == schema && hash.forall(_ == out.hash)
    if (!ok)
      System.err.println(s"[perfbench] output check failed for $op: got " +
        s"${out.rows} rows, hash ${out.hash}; expected $rows rows, hash " +
        s"${hash.getOrElse("-")}${if (out.schema != schema) ", schema differs" else ""}")
    ok
  }
}

object Harness {
  val LastPassStartS = 100
  val StreamName = """perfbench_ingest_p(\d+)""".r

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
      finally w.close()
    }

  /** Bytes of the regular files under `p`. Files that vanish during the
    * walk (Spark's cleaner deletes shuffle files asynchronously) are
    * skipped. */
  def treeBytes(p: Path): Long = {
    var total = 0L
    if (Files.exists(p)) Files.walkFileTree(p, new SimpleFileVisitor[Path] {
      override def visitFile(f: Path, a: BasicFileAttributes): FileVisitResult = {
        if (a.isRegularFile) total += a.size
        FileVisitResult.CONTINUE
      }
      override def visitFileFailed(f: Path, e: IOException): FileVisitResult =
        FileVisitResult.CONTINUE
      override def postVisitDirectory(d: Path, e: IOException): FileVisitResult =
        FileVisitResult.CONTINUE
    })
    total
  }
}

final class Harness(val cfg: Config) {
  var spark: SparkSession = _
  var dataDir: String = _
  val workDir: String = cfg.runDir + "/work"
  val tracer = new Tracer
  val expected = new Expected(cfg.expectedFile, cfg.scale)

  var pass = 0
  var traced = false
  var stats: PassStats = _
  val passes = mutable.ArrayBuffer.empty[PassStats]
  val spans = mutable.ArrayBuffer.empty[Span]
  val samples = mutable.ArrayBuffer.empty[Sample]

  private def tag(op: String, phase: String): Unit = {
    val sc = spark.sparkContext
    sc.setJobGroup(s"${cfg.workload}/$op/$phase", s"pass $pass")
    sc.setLocalProperty(Tag.PassKey, pass.toString)
    sc.setLocalProperty(Tag.OpKey, op)
    sc.setLocalProperty(Tag.PhaseKey, phase)
  }

  private def untag(): Unit = {
    val sc = spark.sparkContext
    sc.clearJobGroup()
    Seq(Tag.PassKey, Tag.OpKey, Tag.PhaseKey).foreach(sc.setLocalProperty(_, null))
  }

  /** Runs one phase of an op, records its span, and in a traced pass tags
    * every job it starts with `<workload>/<op>/<phase>`. */
  def phase[T](op: String, phase: String)(body: => T): T = {
    if (traced) tag(op, phase)
    val t0 = System.nanoTime()
    try {
      val r = body
      spans += Span(pass, op, phase, t0, System.nanoTime())
      r
    } finally if (traced) untag()
  }

  /** Re-tags the calling streaming thread (which inherited the tags of the
    * call that started the query) for the duration of a sink call. */
  def onStreamThread[T](op: String, phase: String)(body: => T): T = {
    val sc = spark.sparkContext
    val (op0, phase0) = (sc.getLocalProperty(Tag.OpKey), sc.getLocalProperty(Tag.PhaseKey))
    if (op0 != null) {
      sc.setLocalProperty(Tag.OpKey, op)
      sc.setLocalProperty(Tag.PhaseKey, phase)
    }
    try body finally if (op0 != null) {
      sc.setLocalProperty(Tag.OpKey, op0)
      sc.setLocalProperty(Tag.PhaseKey, phase0)
    }
  }

  def report(op: String, e: Throwable): Unit =
    System.err.println(s"[perfbench] $op failed in pass $pass: $e")

  /** One op execution: its timed phases, then its output check. The sample
    * is the summed phase time; a throw or a failed check marks it failed. */
  def sample(op: String, family: String)(body: => Boolean): Unit = {
    val first = spans.size
    val ok = try body catch { case NonFatal(e) => report(op, e); false }
    val secs = spans.iterator.drop(first).filter(_.op == op).map(_.seconds).sum
    samples += Sample(pass, op, family, secs, ok)
  }

  // ---- set-up ---------------------------------------------------------

  var setup: Setup = _
  /** Wall time from the JVM's launch until the cold pass can begin. */
  var setupSeconds = 0.0
  var carve: Workloads.Carve = _

  private def secondsOf(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  /** Builds the session (with `GraftExtensions`), generates the inputs,
    * reads their footers and warms up by reading one row of each table. */
  def setUp(): Unit = {
    dataDir = cfg.runDir + "/data"
    val session = secondsOf {
      spark = SparkSession.builder()
        .master(s"local[${cfg.cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", cfg.cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.extensions", "graft.functions.GraftExtensions")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", cfg.runDir + "/local")
        .config("spark.sql.warehouse.dir", cfg.runDir + "/warehouse")
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
    }
    val inputGen = secondsOf {
      val docs = Data.generate(spark, dataDir, Data.scales(cfg.scale), cfg.workload)
      if (Workloads.steps(cfg.workload).contains(Workloads.Ingest)) {
        carve = Workloads.carve(docs, cfg.seed)
        Workloads.writeCorpus(this, carve)
      }
      Data.tables(cfg.workload).foreach(t => spark.read.parquet(s"$dataDir/$t.parquet").schema)
    }
    val warmup = secondsOf {
      Data.tables(cfg.workload).foreach(t =>
        spark.read.parquet(s"$dataDir/$t.parquet").limit(1).count())
    }
    setup = Setup(session, inputGen, warmup)
    setupSeconds = (System.currentTimeMillis() - cfg.launchMs) / 1000.0
  }

  // ---- passes ---------------------------------------------------------

  private def drain(): Unit = PerfbenchShim.drainListenerBus(spark.sparkContext)

  private val seeded = new scala.util.Random(cfg.seed).shuffle(Workloads.steps(cfg.workload))

  /** The step order of pass `p`. The cold pass runs in one fixed order, so
    * the order in which JVM-lifetime caches fill does not vary with the
    * seed. Warm pass `p` runs the seed's order rotated by `p - 1`, so a run
    * with several passes sees each step at several positions. */
  private def order(p: Int): Seq[String] =
    if (p == 0) Workloads.steps(cfg.workload)
    else {
      val k = (p - 1) % seeded.size
      seeded.drop(k) ++ seeded.take(k)
    }

  private def runPass(p: Int, trace: Boolean): Unit = {
    pass = p
    traced = trace
    stats = new PassStats(p, trace)
    // a full collection outside the timing, so no pass pays for the
    // garbage of the one before and the heap's peak follows one pass
    System.gc()
    if (traced) {
      drain()
      tracer.resetBlocks()
      spark.sparkContext.addSparkListener(tracer)
      spark.streams.addListener(tracer.streams)
    }
    try {
      order(p).foreach { step =>
        if (step == Workloads.Ingest) Workloads.ingestPass(this, carve)
        else Workloads.runQuery(this, step)
      }
    } finally if (traced) {
      drain()
      stats.blockPeakBytes = tracer.blockPeak
      spark.sparkContext.removeSparkListener(tracer)
      spark.streams.removeListener(tracer.streams)
      traced = false
    }
    stats.tmpBytes = Harness.treeBytes(Paths.get(sys.props("java.io.tmpdir"))) +
      Harness.treeBytes(Paths.get(cfg.runDir, "local"))
    passes += stats
  }

  /** The cold pass, then warm passes until their timed phases add up to
    * `seconds` (output checks are not counted), and at least two, so
    * `pass_s` is never a single sample. In a traced run, warm passes
    * alternate untraced and traced, so the run measures its own tracing
    * overhead; the passes still speed up as the JIT warms, so the untraced
    * passes bracket the traced ones, and there are at least three.
    *
    * No warm pass after the first starts later than [[Harness.LastPassStartS]]
    * after launch, so a run on a heavily contended host (where a `curation`
    * run takes twice its usual time) still ends within three minutes. */
  def measure(): Unit = {
    val minPasses = if (cfg.trace) 3 else 2
    def early: Boolean =
      System.currentTimeMillis() - cfg.launchMs < Harness.LastPassStartS * 1000
    if (carve != null && (cfg.record.isDefined || !expected.stored(carve.key)))
      expected.check(carve.key, Workloads.reference(this, carve))
    runPass(0, trace = false)
    def measured: Double = spans.iterator.filter(_.pass > 0).map(_.seconds).sum
    var p = 1
    while (p == 1 || early && (p <= minPasses || measured < cfg.seconds)) {
      runPass(p, trace = cfg.trace && p % 2 == 0)
      p += 1
    }
  }
}

object Main {
  def main(args: Array[String]): Unit = {
    val cfg = Config.parse(args)
    val h = new Harness(cfg)
    Files.createDirectories(Paths.get(h.workDir))
    var status = 0
    try {
      h.setUp()
      h.measure()
      Files.writeString(Paths.get(cfg.resultFile),
        JsonMethods.compact(JsonMethods.render(Metrics.report(h))) + "\n")
      cfg.record.foreach { f =>
        val obs = JObject(h.expected.observed.toList.sortBy(_._1).map { case (op, outs) =>
          op -> JArray(outs.toList.map(o => JObject(
            "rows" -> JInt(o.rows), "hash" -> JString(o.hash.toString),
            "schema" -> JString(o.schema))))
        })
        Files.writeString(Paths.get(f), JsonMethods.pretty(JsonMethods.render(obs)) + "\n")
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        status = 1
    } finally if (h.spark != null) h.spark.stop()
    // no thread the program left running may keep the JVM alive
    System.exit(status)
  }
}
