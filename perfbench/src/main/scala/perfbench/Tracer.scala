package perfbench

import scala.collection.mutable

import org.apache.spark.{PerfbenchShim, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Where a Spark job ran, read from the local properties the harness sets
  * before every build, plan and exec call (see [[Harness.phase]]). Jobs on
  * threads the program starts inherit them, so broadcast, subquery and
  * streaming jobs land on the op that caused them. */
final case class Tag(pass: Int, op: String, phase: String)

object Tag {
  val PassKey = "perfbench.pass"
  val OpKey = "perfbench.op"
  val PhaseKey = "perfbench.phase"
  val Unknown = Tag(-1, "?", "?")

  def of(props: java.util.Properties): Tag =
    if (props == null || props.getProperty(PassKey) == null) Unknown
    else Tag(props.getProperty(PassKey).toInt, props.getProperty(OpKey),
      props.getProperty(PhaseKey))
}

final case class StageRec(
    tag: Tag,
    tasks: Int,
    wallMs: Long,
    runMs: Long,
    cpuNs: Long,
    gcMs: Long,
    inputBytes: Long,
    shuffleReadBytes: Long,
    shuffleWriteBytes: Long,
    spillBytes: Long,
    writesShuffle: Boolean,
    taskMs: Seq[Long])

/** Keeps every job, stage, task outcome, cached-block size and streaming
  * progress of the traced passes in memory; the harness reads them after
  * draining the listener bus at the end of the run. */
final class Tracer extends SparkListener {
  val jobs = mutable.ArrayBuffer.empty[Tag]
  val stages = mutable.ArrayBuffer.empty[StageRec]
  val failedTasks = mutable.Map.empty[Int, Int].withDefaultValue(0)
  /** (pass, planning ms, commit ms) per streaming micro-batch. */
  val progress = mutable.ArrayBuffer.empty[(Int, Long, Long)]

  private val stageTags = mutable.Map.empty[(Int, Int), Tag]
  private val taskMs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val blocks = mutable.Map.empty[String, Long]
  private var heldBytes = 0L
  private var peakBytes = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += Tag.of(e.properties)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    stageTags((i.stageId, i.attemptNumber())) = Tag.of(e.properties)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val key = (e.stageId, e.stageAttemptId)
    taskMs.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    if (e.reason != Success)
      failedTasks(stageTags.getOrElse(key, Tag.Unknown).pass) += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val key = (i.stageId, i.attemptNumber())
    val m = i.taskMetrics
    stages += StageRec(
      tag = stageTags.remove(key).getOrElse(Tag.Unknown),
      tasks = i.numTasks,
      wallMs = i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L),
      runMs = m.executorRunTime,
      cpuNs = m.executorCpuTime,
      gcMs = m.jvmGCTime,
      inputBytes = m.inputMetrics.bytesRead,
      shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead,
      shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
      spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled,
      writesShuffle = PerfbenchShim.writesShuffle(i),
      taskMs = taskMs.remove(key).map(_.toSeq).getOrElse(Nil))
  }

  /** Cached and checkpointed RDD blocks: bytes held now, and the peak. */
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) {
      val id = b.blockId.name
      heldBytes -= blocks.getOrElse(id, 0L)
      val size = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
      if (size > 0) blocks(id) = size else blocks.remove(id)
      heldBytes += size
      peakBytes = math.max(peakBytes, heldBytes)
    }
  }

  /** Starts a new window: only blocks stored from now on count. */
  def resetBlocks(): Unit = synchronized {
    blocks.clear()
    heldBytes = 0L
    peakBytes = 0L
  }
  def blockPeak: Long = synchronized { peakBytes }

  /** The streaming side: the query name carries the pass. */
  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        val d = p.durationMs
        def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
        Option(p.name).collect { case Harness.StreamName(pass) => pass.toInt }
          .filter(_ => p.numInputRows > 0)
          .foreach(pass => progress += ((pass, ms("queryPlanning"),
            ms("walCommit") + ms("commitOffsets"))))
      }
  }
}
