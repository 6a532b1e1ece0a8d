package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region of benchmark code. Times are epoch milliseconds with
  * sub-millisecond digits; `parent` is -1 for a root span. `attrs` carries
  * per-span facts the catalog spy records (bytes, files, partitions).
  */
final case class Span(id: Int, parent: Int, name: String, start: Double) {
  @volatile var end: Double = Double.NaN
  val attrs: mutable.Map[String, Double] = mutable.Map.empty
  def dur: Double = end - start
}

/** Engine counters attributed to one span. */
final class Counters {
  var jobs, tasks, cpuNs, runMs, gcMs, shuffleWrite, spill: Long = 0L
  var planningMs: Double = 0.0
}

/** Spans kept in memory and written when the run ends. A disabled tracer
  * runs the body and records nothing, so untraced runs pay one branch.
  *
  * Each span sets the job-local property [[Tracer.SpanKey]] on the calling
  * thread, so the listener attributes every Spark job (and its stages and
  * tasks) to the innermost span open on the thread that started it. Threads
  * created inside a span (streaming query threads) inherit the property.
  */
final class Tracer(val enabled: Boolean) {
  private val t0Ms = System.currentTimeMillis().toDouble
  private val t0Ns = System.nanoTime()
  def now(): Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  private val all = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Span]] { override def initialValue() = Nil }
  @volatile private var spark: SparkSession = _

  def spans: Seq[Span] = all.synchronized(all.toList)
  def current: Option[Span] = stack.get.headOption

  def bind(s: SparkSession): Unit = spark = s

  def span[T](name: String)(f: => T): T = if (!enabled) f else {
    val parent = stack.get
    val s = all.synchronized {
      val sp = Span(all.size, parent.headOption.map(_.id).getOrElse(-1), name, now())
      all += sp
      sp
    }
    stack.set(s :: parent)
    setProp(Some(s))
    try f
    finally {
      s.end = now()
      stack.set(parent)
      setProp(parent.headOption)
    }
  }

  private def setProp(s: Option[Span]): Unit =
    if (spark != null)
      spark.sparkContext.setLocalProperty(Tracer.SpanKey, s.map(_.id.toString).orNull)
}

object Tracer {
  val SpanKey = "graftbench.span"
}

/** Collects engine counters per span: a `SparkListener` for jobs, stages
  * and tasks, and a `QueryExecutionListener` for the planning phases of
  * each query execution. Jobs carry their span in a local property; a
  * planning phase is attributed by time to the innermost span open when
  * it started. Read only after draining the listener bus.
  */
final class EngineCounters(tracer: Tracer) extends SparkListener with QueryExecutionListener {
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val bySpan = new ConcurrentHashMap[Int, Counters]()
  // (start, end) epoch ms of every finished job, for no-job time
  val jobIntervals = new java.util.concurrent.ConcurrentLinkedQueue[(Double, Double)]()
  // (start ms, duration ms) of every planning phase
  private val phases = new java.util.concurrent.ConcurrentLinkedQueue[(Double, Double)]()

  private def of(span: Int): Counters = bySpan.computeIfAbsent(span, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(-1)
    e.stageIds.foreach(stageSpan.put(_, span))
    jobStart.put(e.jobId, e.time)
    val c = of(span)
    c.synchronized(c.jobs += 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach(s => jobIntervals.add((s.toDouble, e.time.toDouble)))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val c = of(Option(stageSpan.get(e.stageId)).map(_.intValue).getOrElse(-1))
    c.synchronized {
      c.tasks += 1
      if (m != null) {
        c.cpuNs += m.executorCpuTime
        c.runMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.diskBytesSpilled
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)
  private def record(qe: QueryExecution): Unit =
    qe.tracker.phases.values.foreach(p => phases.add((p.startTimeMs.toDouble, p.durationMs.toDouble)))

  /** Counters per span id, planning phases folded in. Read only after the
    * bus is drained and every span has ended.
    */
  lazy val perSpan: Map[Int, Counters] = {
    val spans = tracer.spans.filterNot(_.end.isNaN)
    phases.asScala.foreach { case (start, dur) =>
      val inner = spans.filter(s => s.start <= start && start <= s.end)
      val id = if (inner.isEmpty) -1 else inner.maxBy(_.start).id
      of(id).planningMs += dur
    }
    bySpan.asScala.map { case (k, v) => k.intValue -> v }.toMap
  }
}
