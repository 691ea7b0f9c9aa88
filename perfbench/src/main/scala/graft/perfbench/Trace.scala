package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One timed call into a layer, recorded by the benchmark around the
  * engine entry point it calls. `parent` is the enclosing span on the
  * same thread (0 = root); `request` groups the spans of one request
  * or flow.
  */
final case class Span(id: Long, name: String, parent: Long, request: Long,
    thread: Long, startNs: Long, endNs: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Half-open [start, end) interval arithmetic for self time and the
  * driver gap. Overlapping intervals are merged before summing, so
  * concurrent jobs are never counted twice.
  */
object Intervals {
  /** Total length covered by the union of `iv`, clipped to [lo, hi). */
  def unionLength(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Wall time in [lo, hi) during which no interval of `iv` runs. */
  def gap(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long =
    (hi - lo) - unionLength(iv, lo, hi)
}

/** Span recorder. Spans are kept in memory and summarized when the run
  * ends. While a span is open its id rides the thread's Spark job tags,
  * so the SQL executions and jobs it submits can be tied back to it;
  * work submitted from other threads (the ForkJoin pools behind `.par`
  * builds) carries no tag and stays unattributed.
  */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val requests = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  private val request = new ThreadLocal[Long] { override def initialValue() = 0L }
  val spans = new ConcurrentLinkedQueue[Span]()

  def newRequest[T](body: => T): T = {
    val prev = request.get()
    request.set(requests.incrementAndGet())
    try body finally request.set(prev)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get()
      val sc = org.apache.spark.PerfbenchBus.active
      sc.foreach(_.addJobTag(Tracer.tag(id)))
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(parents)
        sc.foreach(_.removeJobTag(Tracer.tag(id)))
        spans.add(Span(id, name, parents.headOption.getOrElse(0L),
          request.get(), Thread.currentThread().getId, t0, t1))
      }
    }

  def all: Vector[Span] = spans.asScala.toVector

  /** Self time per span: its duration minus the union of its children. */
  def selfNs(all: Vector[Span]): Map[Long, Long] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val ch = kids.getOrElse(s.id, Vector.empty).map(c => (c.startNs, c.endNs))
      s.id -> (s.endNs - s.startNs - Intervals.unionLength(ch, s.startNs, s.endNs))
    }.toMap
  }
}

object Tracer {
  private val Prefix = "perfbench-span-"
  def tag(id: Long): String = Prefix + id
  /** The innermost open span among a job's tags (span ids increase
    * with nesting), or 0.
    */
  def spanOf(tags: Iterable[String]): Long =
    tags.filter(_.startsWith(Prefix)).map(_.stripPrefix(Prefix).toLong)
      .foldLeft(0L)(math.max)
}

object SparkCounters {
  /** Spark work tied to one span. */
  final class Acc {
    var actions = 0L; var jobs = 0L; var stages = 0L; var tasks = 0L
    var analysisMs = 0.0; var optimizerMs = 0.0; var planningMs = 0.0
    var taskBusyMs = 0L; var shuffleRead = 0L; var shuffleWrite = 0L
    var spill = 0L; var gcMs = 0L; var taskFailures = 0L
    var filesRead = 0L; var rowsScanned = 0L
    def copy(): Acc = {
      val c = new Acc
      c.actions = actions; c.jobs = jobs; c.stages = stages; c.tasks = tasks
      c.analysisMs = analysisMs; c.optimizerMs = optimizerMs; c.planningMs = planningMs
      c.taskBusyMs = taskBusyMs; c.shuffleRead = shuffleRead; c.shuffleWrite = shuffleWrite
      c.spill = spill; c.gcMs = gcMs; c.taskFailures = taskFailures
      c.filesRead = filesRead; c.rowsScanned = rowsScanned
      c
    }
  }
  /** One job: its span, and its start and end in listener-clock ms. */
  final case class Job(id: Int, span: Long, startMs: Long, var endMs: Long)
}

/** Spark-side counts, keyed by the span id a job carried (0 = none).
  * Times are listener-event wall clocks in ms; the benchmark converts
  * its own nanoTime windows with `Clock`.
  */
final class SparkCounters extends SparkListener {
  import SparkCounters._

  private val lock = new Object
  private val accs = mutable.HashMap.empty[Long, Acc]
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageSpan = mutable.HashMap.empty[Int, Long]
  private val execSpan = mutable.HashMap.empty[Long, Long]

  private def acc(span: Long): Acc = accs.getOrElseUpdate(span, new Acc)
  private def spanOf(props: java.util.Properties, key: String): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty(key)))

  override def onJobStart(js: SparkListenerJobStart): Unit = lock.synchronized {
    val span = Tracer.spanOf(spanOf(js.properties, org.apache.spark.PerfbenchBus.JobTagsKey)
      .toSeq.flatMap(_.split(",")))
    jobs(js.jobId) = Job(js.jobId, span, js.time, -1L)
    acc(span).jobs += 1
    js.stageIds.foreach(stageSpan(_) = span)
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit = lock.synchronized {
    jobs.get(je.jobId).foreach(_.endMs = je.time)
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
    lock.synchronized {
      acc(stageSpan.getOrElse(sc.stageInfo.stageId, 0L)).stages += 1
    }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = lock.synchronized {
    val a = acc(stageSpan.getOrElse(te.stageId, 0L))
    a.tasks += 1
    a.taskBusyMs += te.taskInfo.duration
    if (!te.taskInfo.successful) a.taskFailures += 1
    Option(te.taskMetrics).foreach { m =>
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.gcMs += m.jvmGCTime
    }
  }

  /** One root SQL execution is one action. Its Catalyst phase times and
    * scan counts come from the end event's query execution.
    */
  override def onOtherEvent(ev: SparkListenerEvent): Unit = ev match {
    case s: SparkListenerSQLExecutionStart => lock.synchronized {
      execSpan(s.executionId) = Tracer.spanOf(s.jobTags)
      if (s.rootExecutionId.forall(_ == s.executionId))
        acc(execSpan(s.executionId)).actions += 1
    }
    case e: SparkListenerSQLExecutionEnd =>
      org.apache.spark.sql.PerfbenchSql.queryExecution(e).foreach(qe => lock.synchronized {
      val a = acc(execSpan.getOrElse(e.executionId, 0L))
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      a.analysisMs += ms("analysis")
      a.optimizerMs += ms("optimization")
      a.planningMs += ms("planning")
      ScanMetrics.of(qe).foreach { case (files, rows) =>
        a.filesRead += files; a.rowsScanned += rows
      }
    })
    case _ => ()
  }

  def reset(): Unit = lock.synchronized {
    accs.clear(); jobs.clear(); stageSpan.clear(); execSpan.clear()
  }

  /** A copy of the counts so far, unaffected by later events. */
  def snapshot(): (Map[Long, Acc], Vector[Job]) = lock.synchronized {
    (accs.map { case (k, a) => k -> a.copy() }.toMap, jobs.values.map(_.copy()).toVector)
  }
}

/** File and row counts of every parquet scan an action ran. */
object ScanMetrics
    extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  import org.apache.spark.sql.execution.FileSourceScanExec
  def of(qe: QueryExecution): Seq[(Long, Long)] =
    collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec =>
      (s.metrics.get("numFiles").map(_.value).getOrElse(0L),
        s.metrics.get("numOutputRows").map(_.value).getOrElse(0L))
    }
}

/** Maps System.nanoTime to epoch ms, the clock listener events use. */
object Clock {
  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def toMs(ns: Long): Long = (ns + offsetNs) / 1000000L
}
