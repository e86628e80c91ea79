package ingestbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.streaming.DeadLetterSink

/** One span: wall-clock epoch ms, the span that caused it, and the batch it
  * belongs to. */
final case class Span(name: String, start: Long, end: Long, parent: String, batch: Long) {
  def ms: Double = (end - start).toDouble
}

/** In-memory span store, written out only when the run ends. */
final class Tracer {
  private val buf = mutable.ArrayBuffer.empty[Span]
  def add(s: Span): Unit = synchronized { buf += s }
  def spans: Seq[Span] = synchronized { buf.toSeq }
  def named(n: String): Seq[Span] = spans.filter(_.name == n)
}

/** One Spark job as the listener saw it. `layer` comes from the job's call
  * site: the program's public functions on the stack say which layer
  * submitted it. */
final class JobRec(val id: Int, val start: Long, val layer: String, val site: String) {
  @volatile var end: Long = -1L
  val stages = mutable.LinkedHashMap.empty[Int, StageRec]
}

final class StageRec {
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var recordsRead = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
}

object JobListener {
  /** Layer of a job from its long call site, where the stack shows it; the
    * first match wins, so a checkpoint written by an append counts as
    * checkpoint work. Jobs that adaptive execution submits from its own
    * threads carry no program frames, and a streaming query's jobs carry
    * the call site of its start; those come back "" here and the run
    * attributes them by time, against the commits read from the log. */
  def layerOf(callSite: String): String =
    if (callSite.contains("DeltaLog.checkpointAt")) "checkpoint"
    else if (callSite.contains("DeltaTable.compact")) "compact"
    else if (callSite.contains("DeadLetterSink")) "dlq"
    else if (callSite.contains("processBatch") || callSite.contains("IngestPipeline")) ""
    else if (callSite.contains("ingestbench.")) "harness"
    else ""
}

/** SparkListener keeping jobs, stages and task metrics in memory. */
final class JobListener extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageOwner = mutable.HashMap.empty[Int, JobRec]
  @volatile private var ended = 0

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val site = e.stageInfos.map(_.details).mkString("\n")
    val j = new JobRec(e.jobId, e.time, JobListener.layerOf(site), site)
    jobs(e.jobId) = j
    e.stageIds.foreach(s => if (!stageOwner.contains(s)) stageOwner(s) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
    ended += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageOwner.get(e.stageId).foreach { j =>
      val s = j.stages.getOrElseUpdate(e.stageId, new StageRec)
      s.tasks += 1
      s.taskMs += e.taskInfo.duration
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.recordsRead += m.inputMetrics.recordsRead
      }
    }
  }

  /** Wait until every started job has ended and its events are delivered. */
  def settle(): Unit = {
    var stable = 0
    var last = -1
    while (stable < 3) {
      Thread.sleep(50)
      val (n, done) = synchronized((jobs.size, ended))
      if (n == done && n == last) stable += 1 else stable = 0
      last = n
    }
  }

  def all: Seq[JobRec] = synchronized { jobs.values.toSeq }
  def between(from: Long, to: Long): Seq[JobRec] = all.filter(j => j.start >= from && j.start <= to)
}

/** Keeps every progress event of the traced query (durationMs per trigger). */
final class ProgressListener extends StreamingQueryListener {
  import StreamingQueryListener._
  val progress = mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized { progress += e.progress }
  def events: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = synchronized(progress.toSeq)
}

/** DLQ sink wrapper recording one span per `write` with its batch id. */
final class TimedDeadLetterSink(inner: DeadLetterSink, tracer: Tracer) extends DeadLetterSink {
  override def write(dead: DataFrame, batchId: Long): Unit = {
    val t0 = System.currentTimeMillis()
    try inner.write(dead, batchId)
    finally tracer.add(Span("dlq", t0, System.currentTimeMillis(), "batch", batchId))
  }
}
