package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

import scala.collection.mutable

/** Spark work attributed to one benchmark op. */
final class OpCounters {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var inputBytes = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var resultBytes = 0L
  var triggers = 0L
  var busyMs = 0L
  var rowsIn = 0L
  /** (jobId, start ms, end ms) of each job. */
  val jobSpans = mutable.ArrayBuffer[(Int, Long, Long)]()
  /** (start ms, duration ms, input rows) of each stream trigger. */
  val triggerSpans = mutable.ArrayBuffer[(Long, Long, Long)]()
}

/** The benchmark's own listeners: a `SparkListener` recording jobs and
  * per-stage task metrics, and a `StreamingQueryListener` recording
  * micro-batches. Work is charged to an op by its job group; stream
  * executions set their own job group, so a job or trigger outside any
  * op group is charged to the op whose timed window holds its start
  * (the client is a single closed loop, so one op runs at a time). */
final class Trace extends SparkListener {
  private final class Job(val group: String, val start: Long, val stages: Seq[Int]) {
    var end = -1L
  }
  private final class Stage {
    var tasks, cpuNs, inputBytes, shuffleBytes, spillBytes, resultBytes = 0L
  }
  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stages = mutable.Map[Int, Stage]()
  private val triggers = mutable.ArrayBuffer[(Long, Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    jobs(e.jobId) = new Job(g, e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val st = stages.getOrElseUpdate(e.stageId, new Stage)
    st.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      st.cpuNs += m.executorCpuTime
      st.inputBytes += m.inputMetrics.bytesRead
      st.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      st.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      st.resultBytes += m.resultSize
    }
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val busy = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      val start = scala.util.Try(java.time.Instant.parse(p.timestamp).toEpochMilli).getOrElse(0L)
      Trace.this.synchronized(triggers += ((start, busy, p.numInputRows)))
    }
  }

  /** Counters per op. `ops` maps an op's job group to its timed window
    * (start ms, end ms). Call only after the listener bus is drained. */
  def attribute(ops: Map[String, (Long, Long)]): Map[String, OpCounters] = synchronized {
    val out = ops.map { case (g, _) => g -> new OpCounters }
    val windows = ops.toSeq.sortBy(_._2._1)
    def byTime(t: Long): Option[String] =
      windows.find { case (_, (a, b)) => t >= a && t <= b }.map(_._1)
    // a stage listed by several jobs (a reused shuffle) ran its tasks once
    val charged = mutable.Set[Int]()
    for ((id, j) <- jobs) {
      val owner = if (j.group != null && out.contains(j.group)) Some(j.group) else byTime(j.start)
      owner.foreach { g =>
        val c = out(g)
        c.jobs += 1
        c.jobSpans += ((id, j.start, if (j.end < 0) j.start else j.end))
        j.stages.filter(charged.add).flatMap(stages.get).foreach { st =>
          c.tasks += st.tasks; c.cpuNs += st.cpuNs; c.inputBytes += st.inputBytes
          c.shuffleBytes += st.shuffleBytes; c.spillBytes += st.spillBytes
          c.resultBytes += st.resultBytes
        }
      }
    }
    for ((start, busy, rows) <- triggers; g <- byTime(start)) {
      val c = out(g)
      c.triggers += 1; c.busyMs += busy; c.rowsIn += rows
      c.triggerSpans += ((start, busy, rows))
    }
    out
  }
}

/** One node of the span tree written at exit. */
final case class Span(id: Int, parent: Int, name: String, startMs: Double, endMs: Double,
    attrs: Map[String, Any] = Map.empty)

/** Spans held in memory until the run ends. */
final class Spans {
  private val buf = mutable.ArrayBuffer[Span]()
  def add(parent: Int, name: String, startMs: Double, endMs: Double,
      attrs: Map[String, Any] = Map.empty): Int = synchronized {
    val id = buf.size + 1
    buf += Span(id, parent, name, startMs, endMs, attrs)
    id
  }
  def all: Seq[Span] = synchronized(buf.toList)
}
