package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval: `parent` is the id of the enclosing span (0 for a
  * root), `run` ties every span of one benchmark process together.
  * Times are epoch milliseconds with sub-millisecond digits.
  */
final case class Span(run: String, id: Int, parent: Int, name: String,
    startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

/** The benchmark's own clock: epoch milliseconds with nanoTime precision,
  * on the same axis as the listener event times Spark reports.
  */
object Clock {
  private val baseEpoch = System.currentTimeMillis().toDouble
  private val baseNano = System.nanoTime()
  def nowMs: Double = baseEpoch + (System.nanoTime() - baseNano) / 1e6
}

/** Spans recorded around the benchmark's calls into each layer. Kept in
  * memory; written out once when the run ends. With `on = false` the
  * body runs unwrapped and nothing is recorded.
  */
final class Tracer(val run: String, val on: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = Clock.nowMs
      try body
      finally {
        stack = stack.tail
        spans += Span(run, id, parent, name, t0, Clock.nowMs)
      }
    }

  /** Adds a span observed by a listener: its parent is the innermost
    * recorded span whose interval contains the start time.
    */
  def observed(name: String, startMs: Double, endMs: Double): Unit =
    if (on) {
      val parent = spans.filter(s => s.startMs <= startMs && startMs <= s.endMs)
        .sortBy(_.durMs).headOption.map(_.id).getOrElse(0)
      spans += Span(run, nextId, parent, name, startMs, endMs)
      nextId += 1
    }

  /** Duration minus the part of the interval the span's children cover. */
  def selfMs(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id)
      .map(k => (math.max(k.startMs, s.startMs), math.min(k.endMs, s.endMs)))
      .filter(k => k._2 > k._1)
    s.durMs - Intervals.covered(kids.toSeq)
  }

  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.sortBy(_.id).map { s =>
      Json.obj(Seq("run" -> Json.str(s.run), "id" -> s.id.toString,
        "parent" -> s.parent.toString, "name" -> Json.str(s.name),
        "start_ms" -> Json.num(s.startMs), "end_ms" -> Json.num(s.endMs),
        "self_ms" -> Json.num(selfMs(s))))
    }
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

object Intervals {
  /** Total length covered by the union of `(start, end)` intervals. */
  def covered(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}

final case class JobRec(id: Int, startMs: Double, var endMs: Double)

final case class StageRec(id: Int, submitMs: Double, endMs: Double,
    readsShuffle: Boolean, numTasks: Int, runMs: Long, cpuNs: Long,
    gcMs: Long, inBytes: Long, inRecords: Long,
    shWriteBytes: Long, shWriteRecords: Long,
    shReadBytes: Long, shReadRecords: Long, fetchWaitMs: Long,
    memSpill: Long, diskSpill: Long, resultBytes: Long, taskRunMs: Seq[Long])

final case class PlanRec(atMs: Double, analysisMs: Long, optimizationMs: Long,
    planningMs: Long, phases: Seq[(String, Double, Double)], usesAsOf: Boolean)

final case class ProgressRec(atMs: Double, durations: Map[String, Long],
    stateRows: Long, stateBytes: Long)

/** Spark's public listener APIs on the benchmark's own session: jobs,
  * stages and tasks from `SparkListener`, planning phases from
  * `QueryExecutionListener`, micro-batches from `StreamingQueryListener`.
  * Events arrive on listener threads; readers call [[drain]] first.
  */
final class Probe extends SparkListener {
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val stages = mutable.ArrayBuffer.empty[StageRec]
  val plans = mutable.ArrayBuffer.empty[PlanRec]
  val progress = mutable.ArrayBuffer.empty[ProgressRec]
  private val taskRuns = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  var schedDelayMs = 0L
  var failedTasks = 0L
  var retriedTasks = 0L
  @volatile private var lastJobEndMs = 0.0
  @volatile private var lastPlanMs = 0.0

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += JobRec(e.jobId, e.time.toDouble, Double.NaN)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.endMs = e.time.toDouble)
    lastJobEndMs = e.time.toDouble
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val ti = e.taskInfo
    if (ti.failed) failedTasks += 1
    if (ti.attemptNumber > 0) retriedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      taskRuns.getOrElseUpdate((e.stageId, e.stageAttemptId),
        mutable.ArrayBuffer.empty[Long]) += m.executorRunTime
      val gettingResult =
        if (ti.gettingResultTime > 0) ti.finishTime - ti.gettingResultTime else 0L
      schedDelayMs += math.max(0L, (ti.finishTime - ti.launchTime) -
        m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - gettingResult)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val m = si.taskMetrics
    if (m != null) {
      val sr = m.shuffleReadMetrics
      val sw = m.shuffleWriteMetrics
      stages += StageRec(si.stageId,
        si.submissionTime.getOrElse(0L).toDouble,
        si.completionTime.getOrElse(0L).toDouble,
        si.parentIds.nonEmpty, si.numTasks, m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime, m.inputMetrics.bytesRead,
        m.inputMetrics.recordsRead, sw.bytesWritten, sw.recordsWritten,
        sr.remoteBytesRead + sr.localBytesRead, sr.recordsRead,
        sr.fetchWaitTime, m.memoryBytesSpilled, m.diskBytesSpilled,
        m.resultSize,
        taskRuns.remove((si.stageId, si.attemptNumber())).map(_.toSeq)
          .getOrElse(Nil))
    }
  }

  val sql: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, ex: Exception): Unit =
      record(qe)
  }

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def dur(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
    val spans = ph.toSeq.map { case (n, s) =>
      (n, s.startTimeMs.toDouble, s.endTimeMs.toDouble) }
    val asOf = qe.executedPlan.toString.contains("AsOfJoin")
    val at = if (spans.isEmpty) Clock.nowMs else spans.map(_._2).min
    Probe.this.synchronized {
      plans += PlanRec(at, dur("analysis"), dur("optimization"),
        dur("planning"), spans, asOf)
      lastPlanMs = Clock.nowMs
    }
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = mutable.Map.empty[String, Long]
      p.durationMs.forEach((k, v) => d(k) = v.longValue)
      val at = try java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        catch { case _: Exception => Clock.nowMs }
      Probe.this.synchronized {
        progress += ProgressRec(at, d.toMap,
          p.stateOperators.map(_.numRowsTotal).sum,
          p.stateOperators.map(_.memoryUsedBytes).sum)
      }
    }
  }

  /** Waits until the events of every action started before `markMs` were
    * delivered: the caller runs one sentinel action after `markMs`, whose
    * job end and planning record arrive after everything queued before.
    */
  def drain(markMs: Double, timeoutMs: Long = 20000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while ((lastJobEndMs < markMs - 1 || lastPlanMs < markMs) &&
        System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    Thread.sleep(200) // streaming progress rides a separate queue
  }
}
