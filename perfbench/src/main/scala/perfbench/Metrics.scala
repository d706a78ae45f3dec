package perfbench

import java.nio.file.{Files, Paths}

import org.json4s._

/** Turns a finished run into its result: the end-to-end metrics of an
  * untraced run or the per-layer metrics of a traced one, plus the detail
  * record (environment, per-pass figures, spans) written beside it. */
object Metrics {
  private val MB = 1024.0 * 1024.0

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between closest ranks (0 for no samples). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.floor.toInt
      val hi = pos.ceil.toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The tail quantile reported as `op_s_p90`: the 90th percentile when at
    * least ten samples lie beyond it, else the highest percentile that has
    * ten beyond it, but never below the median. */
  def tailQuantile(n: Int): Double = math.max(0.5, math.min(0.9, 1.0 - 10.0 / n))

  private def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0)

  private def metric(unit: String)(v: Double): JValue =
    JObject("value" -> JDouble(v), "unit" -> JString(unit))

  def report(h: Harness): JObject = {
    val cfg = h.cfg
    val cores = cfg.cores
    /** A pass's timed phases, query start and stop included. */
    def passSeconds(p: Int): Double =
      h.spans.iterator.filter(_.pass == p).map(_.seconds).sum
    // a pass in which an op failed is no timing sample
    def clean(p: PassStats): Boolean = h.samples.forall(s => s.pass != p.pass || s.ok)
    val warm = h.passes.filter(_.pass > 0)
    val untracedWarm = warm.filter(p => !p.traced && clean(p)).map(p => passSeconds(p.pass)).toSeq
    val tracedPasses = warm.filter(p => p.traced && clean(p)).toSeq
    val warmOps = h.samples.filter(s => s.pass > 0 && s.ok && !warm.exists(w => w.pass == s.pass && w.traced))
      .map(_.seconds).toSeq
    val tailQ = tailQuantile(warmOps.size)
    val attempted = h.samples.size
    val failed = h.samples.count(!_.ok)

    val endToEnd: List[(String, JValue)] = List(
      "setup_s" -> metric("s")(h.setupSeconds),
      "first_pass_s" -> metric("s")(passSeconds(0)),
      "pass_s" -> metric("s")(median(untracedWarm)),
      "op_s_p50" -> metric("s")(median(warmOps)),
      "op_s_p90" -> metric("s")(quantile(warmOps, tailQ)),
      "peak_rss_mb" -> metric("MB")(peakRssMb))

    val layers: List[(String, JValue)] =
      if (!cfg.trace) Nil else perLayer(h, tracedPasses, untracedWarm, passSeconds)

    val result = JObject(
      "correct" -> JBool(failed == 0),
      "attempted" -> JInt(attempted),
      "failed" -> JInt(failed),
      "metrics" -> JObject(if (cfg.trace) layers else endToEnd))

    def spanJson(s: Span): JValue = JObject("pass" -> JInt(s.pass), "op" -> JString(s.op),
      "phase" -> JString(s.phase), "start_ns" -> JInt(s.startNs), "end_ns" -> JInt(s.endNs))
    JObject(
      "result" -> result,
      "env" -> JObject(
        "workload" -> JString(cfg.workload),
        "seed" -> JInt(cfg.seed),
        "scale" -> JString(cfg.scale),
        "cores" -> JInt(cores),
        "nproc" -> JInt(Runtime.getRuntime.availableProcessors),
        "max_heap_mb" -> JDouble(Runtime.getRuntime.maxMemory / MB),
        "traced" -> JBool(cfg.trace),
        "samples" -> JObject(
          "setup_s" -> JInt(1),
          "first_pass_s" -> JInt(1),
          "pass_s" -> JInt(untracedWarm.size),
          "op_s" -> JInt(warmOps.size),
          "traced_passes" -> JInt(tracedPasses.size)),
        "op_s_p90_quantile" -> JDouble(tailQ),
        "hash_unchecked_ops" -> JArray(h.expected.unstable.map(JString(_)).toList),
        "expected_from_this_run" -> JArray(
          h.expected.observed.keys.filter(!h.expected.stored(_)).toList.sorted.map(JString(_))),
        "end_to_end" -> JObject(endToEnd),
        "setup" -> JObject(
          "session_s" -> JDouble(h.setup.session), "input_gen_s" -> JDouble(h.setup.inputGen),
          "warmup_s" -> JDouble(h.setup.warmup)),
        "failed_ops_share" -> JDouble(failed.toDouble / attempted.max(1))),
      "passes" -> JArray(h.passes.toList.map(p => JObject(
        "pass" -> JInt(p.pass),
        "traced" -> JBool(p.traced),
        "seconds" -> JDouble(passSeconds(p.pass)),
        "tmp_mb_left" -> JDouble(p.tmpBytes / MB)))),
      "samples" -> JArray(h.samples.toList.map(s => JObject(
        "pass" -> JInt(s.pass), "op" -> JString(s.op), "seconds" -> JDouble(s.seconds),
        "ok" -> JBool(s.ok)))),
      "spans" -> JArray(h.spans.toList.map(spanJson)))
  }

  private def perLayer(
      h: Harness,
      traced: Seq[PassStats],
      untracedWarm: Seq[Double],
      passSeconds: Int => Double): List[(String, JValue)] = {
    val cores = h.cfg.cores
    val t = h.tracer
    /** The median over traced passes of a per-pass figure. */
    def perPass(f: PassStats => Double): Double = median(traced.map(f))
    def phaseSeconds(p: Int, phase: String): Double =
      h.spans.filter(s => s.pass == p && s.phase == phase).map(_.seconds).sum
    def jobs(p: Int, phase: String): Double =
      t.jobs.count(j => j.pass == p && j.phase == phase).toDouble
    def stages(p: Int) = t.stages.filter(_.tag.pass == p)
    def stageSum(p: Int)(f: StageRec => Double): Double = stages(p).map(f).sum
    def opSeconds(p: Int, op: String): Double =
      h.samples.filter(s => s.pass == p && s.op == op && s.ok).map(_.seconds).sum
    def familySeconds(p: Int, fam: String): Double =
      h.samples.filter(s => s.pass == p && s.family == fam && s.ok).map(_.seconds).sum
    def skew(p: Int): Double = {
      val ratios = stages(p).filter(s => s.tasks >= cores && s.taskMs.nonEmpty).map { s =>
        val m = median(s.taskMs.map(_.toDouble))
        if (m > 0) s.taskMs.max / m else 1.0
      }
      if (ratios.isEmpty) 0.0 else ratios.max
    }
    val progress = t.progress.toSeq

    val s = "s"
    val count = "count"
    val ratio = "ratio"
    val mb = "MB"
    val engine = List(
      "build_s" -> (s, perPass(p => phaseSeconds(p.pass, "build"))),
      "plan_s" -> (s, perPass(p => phaseSeconds(p.pass, "plan"))),
      "exec_s" -> (s, perPass(p => phaseSeconds(p.pass, "exec"))),
      "build_share" -> (ratio, perPass { p =>
        val b = phaseSeconds(p.pass, "build")
        b / (b + phaseSeconds(p.pass, "plan") + phaseSeconds(p.pass, "exec")).max(1e-9)
      }),
      "build_jobs" -> (count, perPass(p => jobs(p.pass, "build"))),
      "exec_jobs" -> (count, perPass(p => jobs(p.pass, "exec"))),
      "stages" -> (count, perPass(p => stages(p.pass).size.toDouble)),
      "tasks" -> (count, perPass(p => stageSum(p.pass)(_.tasks.toDouble))),
      "task_run_s" -> (s, perPass(p => stageSum(p.pass)(_.runMs / 1e3))),
      "task_cpu_s" -> (s, perPass(p => stageSum(p.pass)(_.cpuNs / 1e9))),
      "gc_s" -> (s, perPass(p => stageSum(p.pass)(_.gcMs / 1e3))),
      "input_mb" -> (mb, perPass(p => stageSum(p.pass)(_.inputBytes / MB))),
      "shuffle_read_mb" -> (mb, perPass(p => stageSum(p.pass)(_.shuffleReadBytes / MB))),
      "shuffle_write_mb" -> (mb, perPass(p => stageSum(p.pass)(_.shuffleWriteBytes / MB))),
      "spill_mb" -> (mb, perPass(p => stageSum(p.pass)(_.spillBytes / MB))),
      "failed_tasks" -> (count, perPass(p => t.failedTasks(p.pass).toDouble)))
    val ops = List(
      "block_mb_peak" -> (mb, perPass(_.blockPeakBytes / MB)),
      "build_shuffle_stages" -> (count, perPass(p =>
        stages(p.pass).count(r => r.tag.phase == "build" && r.writesShuffle).toDouble)),
      "plan_exchanges" -> (count, perPass(_.exchanges.toDouble)))
    val functions = List(
      "core_busy_share" -> (ratio, perPass { p =>
        val run = stages(p.pass).filter(_.tag.phase == "exec").map(_.runMs / 1e3).sum
        run / (phaseSeconds(p.pass, "exec") * cores).max(1e-9)
      }),
      "serial_stage_s" -> (s, perPass(p =>
        stages(p.pass).filter(_.tasks == 1).map(_.wallMs / 1e3).sum)),
      "stage_skew_max" -> (ratio, perPass(p => skew(p.pass))))
    val perOp = (Workloads.CurationOps ++ Workloads.KernelOps).map(op =>
      s"op.$op.s" -> (s, perPass(p => opSeconds(p.pass, op))))
    val families = Workloads.Families.map(f =>
      s"family.$f.s" -> (s, perPass(p => familySeconds(p.pass, f))))
    val streaming = List(
      "index.fit_s" -> (s, perPass(_.fitSeconds)),
      "stream.batch_s_p50" -> (s, perPass(p => median(p.batchSeconds))),
      "stream.batch_growth" -> (ratio, perPass(p =>
        if (p.batchSeconds.size < 2) 0.0 else p.batchSeconds.last / p.batchSeconds.head)),
      "stream.plan_s" -> (s, perPass(p =>
        progress.filter(_._1 == p.pass).map(_._2 / 1e3).sum)),
      "stream.commit_s" -> (s, perPass(p =>
        progress.filter(_._1 == p.pass).map(_._3 / 1e3).sum)),
      "sink.write_s" -> (s, perPass(_.sinkSeconds)),
      "output_mb" -> (mb, perPass(_.outputBytes / MB)),
      "index.generations" -> (count, perPass(_.generations.toDouble)),
      "tmp_mb_left" -> (mb, perPass(_.tmpBytes / MB)))
    val setup = List(
      "session_s" -> (s, h.setup.session),
      "warmup_s" -> (s, h.setup.warmup),
      "input_gen_s" -> (s, h.setup.inputGen),
      "trace_overhead_share" -> (ratio,
        median(traced.map(p => passSeconds(p.pass))) / median(untracedWarm).max(1e-9)),
      "failed_ops_share" -> (ratio,
        h.samples.count(!_.ok).toDouble / h.samples.size.max(1)))
    (engine ++ ops ++ functions ++ perOp ++ families ++ streaming ++ setup).map {
      case (name, (unit, v)) => name -> metric(unit)(v)
    }
  }
}
