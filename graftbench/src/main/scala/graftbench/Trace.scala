package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

import scala.collection.mutable

/** A timed interval at a layer boundary. Times are epoch nanoseconds;
  * `parent` is the id of the span that caused this one (-1 for the root). */
final case class Span(id: Int, parent: Int, name: String, kind: String, start: Long, end: Long,
                      attrs: Map[String, Any] = Map.empty)

/** In-memory span store, written out once when the run ends. */
final class Spans {
  private val epochOffset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private val buf = mutable.ArrayBuffer[Span]()

  def now(): Long = System.nanoTime() + epochOffset
  def msToNs(epochMs: Long): Long = epochMs * 1000000L

  def add(parent: Int, name: String, kind: String, start: Long, end: Long,
          attrs: Map[String, Any] = Map.empty): Int = synchronized {
    val id = buf.size
    buf += Span(id, parent, name, kind, start, end, attrs)
    id
  }
  /** Reserve an id for a span whose end is not known yet; [[close]] fills it in. */
  def open(parent: Int, name: String, kind: String): Int = add(parent, name, kind, now(), -1L)
  def close(id: Int): Unit = synchronized { buf(id) = buf(id).copy(end = now()) }
  def get(id: Int): Span = synchronized(buf(id))
  def all: Seq[Span] = synchronized(buf.toList)

  def toJson: Seq[Map[String, Any]] = all.map(s => Map(
    "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "kind" -> s.kind,
    "start_ns" -> s.start, "end_ns" -> s.end) ++ (if (s.attrs.isEmpty) Map.empty else Map("attrs" -> s.attrs)))
}

/** Scheduler-side record of one finished task. */
final case class TaskRec(stageId: Int, launchMs: Long, finishMs: Long, runMs: Long, cpuNs: Long,
                         deserMs: Long, resultSerMs: Long, gettingResultMs: Long, gcMs: Long,
                         shuffleReadBytes: Long, shuffleReadRecords: Long, fetchWaitMs: Long,
                         shuffleWriteBytes: Long, shuffleWriteRecords: Long, shuffleWriteNs: Long,
                         spillMem: Long, spillDisk: Long, inBytes: Long, inRecords: Long)

final case class JobRec(jobId: Int, span: Int, desc: String, startMs: Long, var endMs: Long, stageIds: Seq[Int])
final case class StageRec(stageId: Int, numTasks: Int, submitMs: Long, doneMs: Long)
final case class BatchRec(runId: String, batchId: Long, startMs: Long, triggerMs: Long,
                          batchMs: Long, durations: Map[String, Long], stateRows: Long,
                          stateMem: Long, stateCommitMs: Long)

/** Spark's public listeners, attached only during traced passes. Each job
  * carries the harness span that submitted it in the `graftbench.span`
  * local property, so jobs, stages and tasks attribute exactly to the
  * query phase (build, plan, action) that ran them. */
final class LayerListener extends SparkListener {
  val jobs = mutable.ArrayBuffer[JobRec]()
  val stages = mutable.ArrayBuffer[StageRec]()
  val tasks = mutable.ArrayBuffer[TaskRec]()
  val batches = mutable.ArrayBuffer[BatchRec]()
  @volatile var events = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    events += 1
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(LayerListener.SpanKey))).map(_.toInt).getOrElse(-1)
    val desc = props.flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
    jobs += JobRec(e.jobId, span, desc, e.time, -1L, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    events += 1
    jobs.find(_.jobId == e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    events += 1
    val i = e.stageInfo
    stages += StageRec(i.stageId, i.numTasks, i.submissionTime.getOrElse(-1L), i.completionTime.getOrElse(-1L))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    events += 1
    val m = e.taskMetrics
    if (m != null) {
      val sr = m.shuffleReadMetrics; val sw = m.shuffleWriteMetrics
      tasks += TaskRec(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime, m.executorRunTime,
        m.executorCpuTime, m.executorDeserializeTime, m.resultSerializationTime,
        e.taskInfo.gettingResultTime match { case 0L => 0L; case t => e.taskInfo.finishTime - t },
        m.jvmGCTime, sr.remoteBytesRead + sr.localBytesRead, sr.recordsRead, sr.fetchWaitTime,
        sw.bytesWritten, sw.recordsWritten, sw.writeTime, m.memoryBytesSpilled, m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead)
    }
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = LayerListener.this.synchronized {
      events += 1
      val p = e.progress
      val d = mutable.Map[String, Long]()
      p.durationMs.forEach((k, v) => d(k) = v.longValue)
      val ops = Option(p.stateOperators).getOrElse(Array.empty)
      batches += BatchRec(p.runId.toString, p.batchId,
        java.time.Instant.parse(p.timestamp).toEpochMilli, d.getOrElse("triggerExecution", 0L),
        p.batchDuration, d.toMap, ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
        ops.map(_.commitTimeMs).sum)
    }
  }
}

object LayerListener {
  val SpanKey = "graftbench.span"
}
