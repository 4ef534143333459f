package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** One call into a layer's public function, timed from outside. */
final case class Span(id: Long, parent: Long, layer: String, name: String,
                      request: Long, startMs: Long, startNs: Long,
                      endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Engine and plan counters, summed over the Spark work of one span. */
final class Counters {
  var jobs, tasks = 0L
  var taskNs, gcMs, schedWaitMs = 0L
  var shuffleWrite, shuffleRead, spill = 0L
  var scanRows, scanFiles, deleteRows = 0L
  var joinRows, outputRows, writtenBytes, writtenFiles = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]

  def add(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks; taskNs += o.taskNs; gcMs += o.gcMs
    schedWaitMs += o.schedWaitMs; shuffleWrite += o.shuffleWrite
    shuffleRead += o.shuffleRead; spill += o.spill; scanRows += o.scanRows
    scanFiles += o.scanFiles; deleteRows += o.deleteRows
    joinRows += o.joinRows; outputRows += o.outputRows
    writtenBytes += o.writtenBytes; writtenFiles += o.writtenFiles
    taskMs ++= o.taskMs
  }

  /** max ÷ median task time (1 when every task took the same time). */
  def skew: Double =
    if (taskMs.isEmpty) 0.0
    else {
      val s = taskMs.sorted
      val med = s(s.size / 2).max(1L)
      s.last.max(1L).toDouble / med
    }

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "tasks" -> tasks, "task_s" -> taskNs / 1e9,
    "task_skew" -> skew, "sched_wait_s" -> schedWaitMs / 1e3,
    "shuffle_write_bytes" -> shuffleWrite,
    "shuffle_read_bytes" -> shuffleRead, "spill_bytes" -> spill,
    "scan_rows" -> scanRows, "scan_files" -> scanFiles,
    "delete_rows" -> deleteRows, "join_rows" -> joinRows,
    "output_rows" -> outputRows, "written_bytes" -> writtenBytes,
    "written_files" -> writtenFiles, "gc_s" -> gcMs / 1e3)
}

/** Spans around the benchmark's calls into graft's layers, plus the
  * benchmark's own `SparkListener`, which attributes every job, task
  * and executed SQL plan to the innermost open span of the thread that
  * submitted it (through a Spark local property, which the jobs carry;
  * a plan belongs to the span of its execution's jobs). Everything stays
  * in memory until the run ends.
  *
  * Until [[attach]] (and always when disabled) the tracer opens no
  * spans and registers no listener, so untraced runs time the program
  * alone. */
final class Tracer(val enabled: Boolean) {
  private val SpanKey = "graftbench.span"
  private val nextId = new AtomicLong(1)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  /** Request id stamped on spans opened from now on (-1 marks the
    * isolated layer calls of a traced run). */
  @volatile var request = 0L

  @volatile private var on = false

  def span[T](spark: SparkSession, layer: String, name: String)
             (body: => T): T =
    if (!on) body
    else {
      val id = nextId.getAndIncrement()
      val parent = stack.get().headOption.getOrElse(0L)
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(SpanKey)
      stack.set(id :: stack.get())
      sc.setLocalProperty(SpanKey, id.toString)
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, layer, name, request, startMs, t0,
          System.nanoTime()))
        stack.set(stack.get().tail)
        sc.setLocalProperty(SpanKey, prev)
      }
    }

  private val resultRows =
    new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Long]()

  /** Add `n` result rows to the innermost open span. */
  def result(n: Long): Unit = if (on)
    stack.get().headOption.foreach(id =>
      resultRows.merge(id, n, (a, b) => a + b))

  def resultsOf(span: Long): Long =
    Option(resultRows.get(span)).map(_.longValue).getOrElse(0L)

  // --- listener state (written on the listener bus thread) ---
  private case class JobRec(span: Long, execId: Long, timeMs: Long,
                            stages: Seq[Int])
  private val jobsQ = new ConcurrentLinkedQueue[JobRec]()
  private case class TaskRec(stage: Int, launchMs: Long, runNs: Long,
                             gcMs: Long, shW: Long, shR: Long, spill: Long)
  private val tasksQ = new ConcurrentLinkedQueue[TaskRec]()
  private val stageSubmitMs = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private case class PlanRec(execId: Long, c: Counters)
  private val plansQ = new ConcurrentLinkedQueue[PlanRec]()
  private val QeOfEnd = classOf[SparkListenerSQLExecutionEnd].getMethod("qe")
  private val events = new AtomicLong(0)

  private object JobListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      jobsQ.add(JobRec(prop(SpanKey).map(_.toLong).getOrElse(0L),
        prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L),
        e.time, e.stageIds))
      events.incrementAndGet()
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      e.stageInfo.submissionTime.foreach(t =>
        stageSubmitMs.putIfAbsent(e.stageInfo.stageId, t))
      events.incrementAndGet()
    }
    // A finished SQL execution carries the QueryExecution it ran (the
    // field Spark's own QueryExecutionListener bus reads); its executed
    // plan holds the final row, file and join metrics.
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        Option(QeOfEnd.invoke(end)).collect { case qe: QueryExecution =>
          plansQ.add(PlanRec(end.executionId,
            Tracer.planCounters(qe.executedPlan)))
        }
        events.incrementAndGet()
      case _ =>
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasksQ.add(TaskRec(e.stageId, e.taskInfo.launchTime,
        m.executorRunTime * 1000000L, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled))
      events.incrementAndGet()
    }
  }

  /** Start tracing: from here on spans are recorded and the listener
    * counts every job, task and plan. */
  def attach(spark: SparkSession): Unit = if (enabled && !on) {
    spark.sparkContext.addSparkListener(JobListener)
    on = true
  }

  /** Wait until the listener bus has delivered every event: the event
    * count stays unchanged for 500 ms (bounded at 20 s). */
  def quiesce(): Unit = if (on) {
    val deadline = System.nanoTime() + 20000000000L
    var last = -1L
    while (events.get() != last && System.nanoTime() < deadline) {
      last = events.get()
      Thread.sleep(500)
    }
  }

  def allSpans: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)

  /** Counters per span id (0 = work outside every span). A job belongs
    * to the span its submitting thread had open; a job from a pooled
    * thread whose inherited span had already closed falls back to the
    * innermost span open at the job's start time. */
  def countersBySpan(): Map[Long, Counters] = {
    val ss = allSpans
    val byId = ss.map(s => s.id -> s).toMap
    def open(s: Span, t: Long) =
      t >= s.startMs - 1 && t <= s.startMs + (s.endNs - s.startNs) / 1000000L + 1
    def owner(j: JobRec): Long =
      byId.get(j.span) match {
        case Some(s) if open(s, j.timeMs) => s.id
        case _ =>
          ss.filter(open(_, j.timeMs)).sortBy(-_.startNs).headOption
            .map(_.id).getOrElse(0L)
      }
    val out = mutable.Map.empty[Long, Counters]
    def of(id: Long) = out.getOrElseUpdate(id, new Counters)
    val stageOwner = mutable.Map.empty[Int, Long]
    val execOwner = mutable.Map.empty[Long, Long]
    jobsQ.asScala.foreach { j =>
      val o = owner(j)
      of(o).jobs += 1
      j.stages.foreach(stageOwner.update(_, o))
      if (j.execId >= 0) execOwner.getOrElseUpdate(j.execId, o)
    }
    val firstLaunch = mutable.Map.empty[Int, Long]
    tasksQ.asScala.foreach { t =>
      val c = of(stageOwner.getOrElse(t.stage, 0L))
      c.tasks += 1; c.taskNs += t.runNs; c.gcMs += t.gcMs
      c.shuffleWrite += t.shW; c.shuffleRead += t.shR; c.spill += t.spill
      c.taskMs += t.runNs / 1000000L
      firstLaunch.update(t.stage,
        firstLaunch.get(t.stage).fold(t.launchMs)(_ min t.launchMs))
    }
    firstLaunch.foreach { case (stage, launch) =>
      Option(stageSubmitMs.get(stage)).foreach { sub =>
        of(stageOwner.getOrElse(stage, 0L)).schedWaitMs +=
          math.max(0L, launch - sub)
      }
    }
    plansQ.asScala.foreach(p => of(execOwner.getOrElse(p.execId, 0L)).add(p.c))
    out.toMap
  }
}

object Tracer {
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case c: CommandResultExec => c +: nodes(c.commandPhysicalPlan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  private def metric(p: SparkPlan, k: String): Long =
    p.metrics.get(k).map(_.value).getOrElse(0L)

  /** Row, file and join counters of one executed plan: scan rows and
    * files off storage (leaf scans), rows read from takedown deletes
    * directories, summed join output rows (candidate pairs), rows of
    * the plan's root, and bytes/files of write commands. */
  def planCounters(plan: SparkPlan): Counters = {
    val c = new Counters
    val all = nodes(plan)
    all.foreach { n =>
      if (n.children.isEmpty && n.nodeName.toLowerCase.contains("scan")) {
        val rows = metric(n, "numOutputRows")
        c.scanRows += rows
        c.scanFiles += metric(n, "numFiles")
        val loc = n match {
          case f: FileSourceScanExec =>
            f.relation.location.rootPaths.mkString(",")
          case _ => ""
        }
        if (loc.contains("/deletes") || loc.contains("/_deletes"))
          c.deleteRows += rows
      }
      n match {
        case j: BaseJoinExec => c.joinRows += metric(j, "numOutputRows")
        case _ =>
      }
      c.writtenBytes += metric(n, "numOutputBytes")
      c.writtenFiles += metric(n, "numFiles") * (if (n.children.isEmpty) 0 else 1)
    }
    c.outputRows = metric(plan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }, "numOutputRows")
    c
  }
}
