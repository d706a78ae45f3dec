package graft.tools

import org.apache.spark.scheduler._

import scala.collection.mutable

/** Per-query job/stage profiler (optimization-round measurement harness,
  * guide §1): runs named SparkEntry queries with the Bench session config
  * (local[$SPARK_GRAFT_CPUS], shuffle.partitions = cpus) and prints, for
  * each query, total wall time plus every Spark job and stage it ran —
  * wall seconds, task count, input/shuffle-read/shuffle-write bytes — so
  * the expensive phase of a multi-phase query is visible without the UI.
  * Timing action is `queryExecution.toRdd.count()` (the Bench contract);
  * eager work at DataFrame-BUILD time (fits, localCheckpoints, driver
  * aggregates) is timed separately as "build" vs "exec".
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_PROFILE_REPS", "1").toInt
    val spark = graft.Session.local(cpus.toInt)

    final case class StageRec(
        var name: String = "",
        var ms: Long = 0,
        var tasks: Int = 0,
        var input: Long = 0,
        var sread: Long = 0,
        var swrite: Long = 0,
        var spill: Long = 0)
    val stages = mutable.LinkedHashMap.empty[Int, StageRec]
    val jobOfStage = mutable.Map.empty[Int, Int]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        j.stageIds.foreach(s => jobOfStage(s) = j.jobId)
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val i = sc.stageInfo
        val r = stages.getOrElseUpdate(i.stageId, StageRec())
        // first graft frame in the creation-site stack, so a slow stage
        // names the operator that built it instead of the scheduler thread
        r.name = i.details.linesIterator
          .find(l => l.contains("graft.") && !l.contains("tools.Profile"))
          .getOrElse(i.name.takeWhile(_ != '\n')).trim
        r.ms = i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L)
        r.tasks = i.numTasks
        val m = i.taskMetrics
        r.input = m.inputMetrics.bytesRead
        r.sread = m.shuffleReadMetrics.totalBytesRead
        r.swrite = m.shuffleWriteMetrics.bytesWritten
        r.spill = m.diskBytesSpilled
      }
    }
    spark.sparkContext.addSparkListener(listener)

    // session warmup (Bench convention)
    Seq("lineitem", "documents", "embeddings", "part", "orders")
      .foreach(t => spark.read.parquet(s"$sfDir/$t.parquet").limit(1).count())

    def mb(x: Long): String = f"${x / 1024.0 / 1024.0}%8.1f"
    args.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      (1 to reps).foreach { rep =>
        stages.clear()
        spark.sparkContext.setJobDescription(s"$name build")
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        spark.sparkContext.setJobDescription(s"$name plan")
        df.queryExecution.executedPlan // force analysis + optimization + physical planning
        val t2 = System.nanoTime()
        spark.sparkContext.setJobDescription(s"$name exec")
        df.queryExecution.toRdd.count()
        val t3 = System.nanoTime()
        println(f"\n=== $name rep $rep: build ${(t1 - t0) / 1e9}%6.2fs  plan ${(t2 - t1) / 1e9}%6.2fs  exec ${(t3 - t2) / 1e9}%6.2fs  total ${(t3 - t0) / 1e9}%6.2fs")
        println("  job stage     ms tasks  inputMB sreadMB swriteMB spillMB  name")
        stages.toSeq.sortBy(_._1).foreach { case (sid, r) =>
          println(f"  ${jobOfStage.getOrElse(sid, -1)}%3d ${sid}%5d ${r.ms}%6d ${r.tasks}%5d ${mb(r.input)} ${mb(r.sread)} ${mb(r.swrite)} ${mb(r.spill)}  ${r.name.take(60)}")
        }
        if (sys.env.contains("SPARK_GRAFT_PROFILE_PLAN")) {
          // final (post-AQE) plan with per-operator metrics: the stage
          // table names WHERE time goes; this names WHICH operator
          println(df.queryExecution.executedPlan.toString)
        }
        spark.catalog.clearCache()
      }
    }
    spark.stop()
  }
}
