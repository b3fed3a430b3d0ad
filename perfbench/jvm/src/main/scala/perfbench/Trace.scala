package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A recorded span: a harness call into one layer. Times are epoch
  * milliseconds (fractional), the clock Spark's listener events use. */
final case class Span(id: Int, name: String, parent: Int, trace: Int,
                      startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

/** In-memory tracer. Spans nest by call stack on the calling thread; each
  * root span starts a new trace. While off, spans run the body and record
  * nothing, so untraced runs pay one branch per call. */
final class Tracer {
  /** Whether spans are recorded; off for untraced runs and iterations. */
  @volatile var on: Boolean = false

  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  private val done = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[(Int, Int)] // (span id, trace id)
  private var nextId = 1

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = synchronized { nextId += 1; nextId - 1 }
      val (parent, trace) = stack.headOption.map(p => (p._1, p._2)).getOrElse((0, id))
      stack.push((id, trace))
      val t0 = nowMs
      try body
      finally {
        stack.pop()
        val s = Span(id, name, parent, trace, t0, nowMs)
        synchronized(done += s)
      }
    }

  def spans: Seq[Span] = synchronized(done.toList)

  /** Span duration minus the part covered by its children. */
  def selfMs(all: Seq[Span]): Map[Int, Double] = {
    val kids = all.groupBy(_.parent)
    all.map(s => s.id -> (s.durMs - kids.getOrElse(s.id, Nil).map(_.durMs).sum)).toMap
  }
}

/** Spark-side counters: jobs, stages, tasks and their metrics (a
  * SparkListener), plus Catalyst phase times (a QueryExecutionListener and
  * direct reads of a forced plan's tracker). Everything is kept with its
  * event time and attributed to spans afterwards, by time. */
final class SparkCounters(spark: SparkSession) extends SparkListener {
  final case class Job(id: Int, startMs: Long, var endMs: Long = -1L,
                       var stages: Int = 0, var tasks: Int = 0,
                       var taskMs: Long = 0L, var gcMs: Long = 0L,
                       var shWrite: Long = 0L, var shRead: Long = 0L,
                       var spill: Long = 0L)
  final case class Phases(atMs: Double, analysis: Double, optimization: Double,
                          planning: Double)

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val phases = mutable.ArrayBuffer.empty[Phases]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = Job(e.jobId, e.time)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.tasks += 1
      if (m != null) {
        j.taskMs += m.executorRunTime
        j.gcMs += m.jvmGCTime
        j.shWrite += m.shuffleWriteMetrics.bytesWritten
        j.shRead += m.shuffleReadMetrics.totalBytesRead
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private def phaseOf(qe: QueryExecution): Unit = {
    val p = qe.tracker.phases
    def d(n: String) = p.get(n).map(_.durationMs.toDouble).getOrElse(0.0)
    val at = p.get("analysis").orElse(p.values.headOption)
      .map(_.startTimeMs.toDouble).getOrElse(System.currentTimeMillis().toDouble)
    synchronized(phases += Phases(at, d("analysis"), d("optimization"), d("planning")))
  }

  /** Record the planning phases of a plan the harness forced itself
    * (`toRdd` does not fire QueryExecutionListeners). */
  def recordForced(qe: QueryExecution): Unit = phaseOf(qe)

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = phaseOf(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phaseOf(qe)
  }

  def attach(): this.type = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(qeListener)
    this
  }
  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(qeListener)
  }
  def drain(): Unit = org.apache.spark.perfbench.BusAccess.drain(spark.sparkContext)

  /** Counters of everything that started inside [startMs, endMs]. */
  def within(startMs: Double, endMs: Double): Map[String, Double] = synchronized {
    val js = jobs.values.filter(j => j.startMs >= startMs - 1 && j.startMs <= endMs)
    val ph = phases.filter(p => p.atMs >= startMs - 1 && p.atMs <= endMs)
    // wall time of [start, end] not covered by any running job
    val ivs = js.map(j => (math.max(j.startMs.toDouble, startMs),
      math.min(if (j.endMs < 0) endMs else j.endMs.toDouble, endMs))).toSeq.sortBy(_._1)
    var covered = 0.0
    var cur = (Double.NaN, Double.NaN)
    ivs.foreach { case (a, b) =>
      if (cur._1.isNaN) cur = (a, b)
      else if (a <= cur._2) cur = (cur._1, math.max(cur._2, b))
      else { covered += cur._2 - cur._1; cur = (a, b) }
    }
    if (!cur._1.isNaN) covered += cur._2 - cur._1
    val mb = 1024.0 * 1024.0
    Map(
      "spark.jobs" -> js.size.toDouble,
      "spark.stages" -> js.map(_.stages).sum.toDouble,
      "spark.tasks" -> js.map(_.tasks).sum.toDouble,
      "spark.driver_s" -> math.max(0.0, (endMs - startMs) - covered) / 1000.0,
      "spark.task_s" -> js.map(_.taskMs).sum / 1000.0,
      "spark.gc_s" -> js.map(_.gcMs).sum / 1000.0,
      "spark.shuffle_write_mb" -> js.map(_.shWrite).sum / mb,
      "spark.shuffle_read_mb" -> js.map(_.shRead).sum / mb,
      "spark.spill_mb" -> js.map(_.spill).sum / mb,
      "catalyst.analysis_s" -> ph.map(_.analysis).sum / 1000.0,
      "catalyst.optimization_s" -> ph.map(_.optimization).sum / 1000.0,
      "catalyst.planning_s" -> ph.map(_.planning).sum / 1000.0)
  }
}

/** Streaming micro-batch progress (a StreamingQueryListener). */
final class StreamCounters extends org.apache.spark.sql.streaming.StreamingQueryListener {
  import org.apache.spark.sql.streaming.StreamingQueryListener._
  final case class Batch(rows: Long, durations: Map[String, Long], stateRows: Long)
  private val batches = mutable.ArrayBuffer.empty[Batch]

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    if (p.numInputRows > 0)
      batches += Batch(p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap,
        p.stateOperators.map(_.numRowsTotal).sum)
  }

  def snapshot: Seq[Batch] = synchronized(batches.toList)
}
