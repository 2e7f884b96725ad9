package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into each layer, plus (traced runs
  * only) the Spark work each span caused.
  *
  * Spans are always recorded: they are the operation timings every metric
  * comes from, and cost two clock reads each. A traced run also registers a
  * `SparkListener`, a `QueryExecutionListener` and a
  * `StreamingQueryListener`; jobs are tied to the innermost open span by the
  * `perfbench.span` local property set around each call. Everything stays in
  * memory until the run writes its artifact.
  */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  import Trace._

  val spans = mutable.ArrayBuffer[Span]()
  private val open = mutable.Stack[Span]()
  private val sc = spark.sparkContext

  val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageSpan = mutable.Map[Int, Int]()
  private val execSite = mutable.Map[Long, String]()
  val stages = mutable.Map[Int, Int]() // span id -> stages completed
  val tasks = mutable.Map[Int, TaskSums]() // span id -> task metric sums
  val phases = mutable.ArrayBuffer[(Int, Map[String, Long])]() // (span, phase ms)
  val progress = mutable.ArrayBuffer[StreamingQueryListener.QueryProgressEvent]()
  /** Span a query execution belongs to: the innermost open span when the
    * listener bus is drained after it (see [[drain]]). */
  private val pendingQe = mutable.ArrayBuffer[Map[String, Long]]()

  /** Times `f` as a child of the innermost open span. */
  def span[T](name: String, layer: String, owner: String = "")(f: => T): T = {
    val parent = open.headOption
    val s = Span(spans.size, name, layer, parent.map(_.id).getOrElse(-1),
      if (owner.nonEmpty) owner else parent.map(_.owner).getOrElse(""),
      System.nanoTime(), 0L)
    spans += s
    open.push(s)
    if (enabled) sc.setLocalProperty(SpanProperty, s.id.toString)
    try f
    finally {
      s.end = System.nanoTime()
      open.pop()
      if (enabled) sc.setLocalProperty(SpanProperty, open.headOption.map(_.id.toString).orNull)
    }
  }

  /** Delivers every pending listener event; query executions seen since the
    * last drain are charged to `spanId`. No-op in an untraced run. */
  def drain(spanId: Int): Unit = if (enabled) {
    org.apache.spark.ListenerBusDrain(sc)
    synchronized {
      pendingQe.foreach(p => phases += spanId -> p)
      pendingQe.clear()
    }
  }

  if (enabled) {
    sc.addSparkListener(new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => Trace.this.synchronized(execSite(s.executionId) = s.description)
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
        def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        val span = prop(SpanProperty).map(_.toInt).getOrElse(-1)
        // a SQL execution's jobs (AQE runs its stages from a pool thread) carry
        // the call site of the action that started the execution
        val callSite = prop("spark.sql.execution.id").flatMap(id => execSite.get(id.toLong))
          .getOrElse(if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name)
        jobs(e.jobId) = Job(e.jobId, span, callSite, e.time, 0L)
        e.stageIds.foreach(stageSpan(_) = span)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
        jobs.get(e.jobId).foreach(_.end = e.time)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.this.synchronized {
        val span = stageSpan.getOrElse(e.stageInfo.stageId, -1)
        stages(span) = stages.getOrElse(span, 0) + 1
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
        val span = stageSpan.getOrElse(e.stageId, -1)
        tasks.getOrElseUpdate(span, new TaskSums).add(e)
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      private def record(qe: QueryExecution): Unit = Trace.this.synchronized {
        pendingQe += qe.tracker.phases.map { case (k, v) => k -> v.durationMs }
      }
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(event: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(event: StreamingQueryListener.QueryProgressEvent): Unit =
        Trace.this.synchronized(progress += event)
      override def onQueryTerminated(event: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
  }

  /** The span and all its descendants' ids. */
  def subtree(root: Int): Set[Int] = {
    val kids = spans.groupBy(_.parent)
    def go(id: Int): Seq[Int] = id +: kids.getOrElse(id, Nil).toSeq.flatMap(s => go(s.id))
    go(root).toSet
  }

  def jobsIn(ids: Set[Int]): Seq[Job] = synchronized(jobs.values.filter(j => ids(j.span)).toSeq)

  def tasksIn(ids: Set[Int]): TaskSums = synchronized {
    val t = new TaskSums
    ids.foreach(i => tasks.get(i).foreach(t.merge))
    t
  }

  def stagesIn(ids: Set[Int]): Int = synchronized(ids.toSeq.map(stages.getOrElse(_, 0)).sum)

  def phasesIn(ids: Set[Int]): Map[String, Double] = synchronized {
    phases.filter(p => ids(p._1)).flatMap(_._2).groupMapReduce(_._1)(_._2 / 1e3)(_ + _)
  }

  /** Self time per layer: each span's duration less the part its child spans
    * cover (children of one span never overlap: the caller is one thread). */
  def selfTimeByLayer: Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.toSeq.map { s =>
      val childNs = kids.getOrElse(s.id, Nil).map(c => c.end - c.start).sum
      s.layer -> (s.end - s.start - childNs) / 1e9
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }
}

object Trace {
  val SpanProperty = "perfbench.span"

  final case class Span(id: Int, name: String, layer: String, parent: Int, owner: String,
                        start: Long, var end: Long) {
    def seconds: Double = (end - start) / 1e9
  }

  final case class Job(id: Int, span: Int, callSite: String, start: Long, var end: Long) {
    def seconds: Double = (end - start) / 1e3
  }

  final class TaskSums {
    var n = 0L
    var runMs, cpuNs, gcMs, deserMs, schedMs, shuffleWrite, shuffleRead, spill = 0L
    def add(e: SparkListenerTaskEnd): Unit = {
      n += 1
      val info = e.taskInfo
      Option(e.taskMetrics).foreach { m =>
        runMs += m.executorRunTime
        cpuNs += m.executorCpuTime
        gcMs += m.jvmGCTime
        deserMs += m.executorDeserializeTime
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        spill += m.diskBytesSpilled
        schedMs += math.max(0L, info.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - info.gettingResultTime)
      }
    }
    def merge(o: TaskSums): Unit = {
      n += o.n; runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs; deserMs += o.deserMs
      schedMs += o.schedMs; shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
      spill += o.spill
    }
    def taskS: Double = runMs / 1e3
    def asMap: Map[String, Double] = Map(
      "tasks" -> n.toDouble, "task_s" -> runMs / 1e3, "cpu_s" -> cpuNs / 1e9,
      "gc_s" -> gcMs / 1e3, "deser_s" -> deserMs / 1e3, "sched_wait_s" -> schedMs / 1e3,
      "shuffle_write_mb" -> shuffleWrite / 1e6, "shuffle_read_mb" -> shuffleRead / 1e6,
      "spill_mb" -> spill / 1e6)
  }
}
