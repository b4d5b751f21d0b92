package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval on the client thread. `parent` is the id of the
  * enclosing span (-1 at top level); `qid` and `pass` name the query
  * execution the span belongs to. */
final case class Span(id: Int, name: String, start: Long, end: Long,
                      parent: Int, qid: String, pass: Int)

/** In-memory span recorder, written out once at the end of the run.
  * Disabled, it only runs the body. */
final class Tracer(val enabled: Boolean) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var nextId = 0
  var qid = ""
  var pass = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val t0 = System.nanoTime()
      try body
      finally {
        done += Span(id, name, t0, System.nanoTime(), parent, qid, pass)
        open = open.tail
      }
    }

  def spans: Seq[Span] = done.sortBy(_.id).toSeq
}

/** Task/stage/job counters for one (query execution, phase). */
final class ExecStats {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var inputBytes = 0L
  val taskMsByStage = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  /** Max over stages with at least two tasks of (max task ms / median
    * task ms); 1.0 when no stage has two tasks. */
  def stragglerRatio: Double = {
    val ratios = taskMsByStage.values.filter(_.size >= 2).map { ms =>
      val s = ms.sorted
      val med = math.max(1L, s(s.size / 2))
      s.last.toDouble / med
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }
}

/** Spark listener that attributes every job, stage and task to the
  * query execution and phase ("construct" or "exec") named by the
  * client thread's local properties when the job started. */
final class QueryListener extends SparkListener {
  private val stageKey = mutable.Map.empty[Int, String]
  private val stats = mutable.Map.empty[String, ExecStats]

  private def keyOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(QueryListener.QidKey))
      .map(q => q + "|" + p.getProperty(QueryListener.PhaseKey)))
      .getOrElse("other")

  private def at(key: String) = stats.getOrElseUpdate(key, new ExecStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val key = keyOf(e.properties)
    at(key).jobs += 1
    e.stageIds.foreach(stageKey(_) = key)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageKey.get(e.stageInfo.stageId).foreach(at(_).stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageKey.get(e.stageId).foreach { key =>
      val s = at(key)
      s.tasks += 1
      s.taskMsByStage.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        e.taskInfo.duration
      Option(e.taskMetrics).foreach { m =>
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.inputBytes += m.inputMetrics.bytesRead
      }
    }
  }

  /** Removes and returns the counters of one execution's phase. */
  def take(qid: String, phase: String): ExecStats = synchronized {
    stats.remove(qid + "|" + phase).getOrElse(new ExecStats)
  }
}

object QueryListener {
  val QidKey = "perfbench.qid"
  val PhaseKey = "perfbench.phase"
}

/** Micro-batch counters of the streaming queries one execution ran. */
final class StreamStats {
  var batches = 0
  val batchMs = mutable.ArrayBuffer.empty[Long]
  var commitMs = 0L
  val inputRowsPerS = mutable.ArrayBuffer.empty[Double]
  val lastStateRows = mutable.Map.empty[java.util.UUID, Long]
}

final class StreamListener extends StreamingQueryListener {
  private var cur = new StreamStats

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized {
      val p = e.progress
      cur.batches += 1
      Option(p.durationMs.get("triggerExecution")).foreach(cur.batchMs += _.longValue)
      p.stateOperators.foreach(op => cur.commitMs += op.commitTimeMs)
      cur.lastStateRows(p.runId) = p.stateOperators.map(_.numRowsTotal).sum
      if (!p.processedRowsPerSecond.isNaN) cur.inputRowsPerS += p.processedRowsPerSecond
    }

  /** Returns the counters gathered since the last call and starts anew. */
  def take(): StreamStats = synchronized { val s = cur; cur = new StreamStats; s }
}
