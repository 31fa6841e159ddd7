package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One call into a layer of the program. Times are driver wall-clock
  * milliseconds (the clock Spark stamps its listener events with);
  * `seconds` is the nanoTime duration. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    startMs: Long, endMs: Long, seconds: Double)

/** Times the benchmark's calls into the program. With tracing on,
  * each call is also recorded as a span (kept in memory until the run
  * ends) and the span id rides the Spark local properties, so every
  * job the call submits — from this thread or a thread it spawns — is
  * folded into it by [[JobFolder]]. */
final class Tracer {
  @volatile var sc: SparkContext = _
  @volatile var on = false
  private val nextId, nextOp = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()

  /** Runs `body`; returns its result and duration. A `request` call
    * outside any other request starts a new op id, which every span
    * below it shares. */
  def call[T](name: String, request: Boolean = true)(body: => T): (T, Double) =
    if (!on) {
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    } else {
      val id = nextId.incrementAndGet()
      val prevSpan = sc.getLocalProperty(Tracer.SpanKey)
      val prevOp = sc.getLocalProperty(Tracer.OpKey)
      val parent = Option(prevSpan).map(_.toLong).getOrElse(0L)
      val inherited = Option(prevOp).map(_.toLong).getOrElse(-1L)
      val opId = if (request && inherited < 0) nextOp.incrementAndGet() else inherited
      sc.setLocalProperty(Tracer.SpanKey, id.toString)
      sc.setLocalProperty(Tracer.OpKey, opId.toString)
      val ms0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try {
        val r = body
        val s = (System.nanoTime() - t0) / 1e9
        spans.add(Span(id, parent, opId, name, ms0, System.currentTimeMillis(), s))
        (r, s)
      } finally {
        sc.setLocalProperty(Tracer.SpanKey, prevSpan)
        sc.setLocalProperty(Tracer.OpKey, prevOp)
      }
    }

  def named(name: String): Seq[Span] = spans.asScala.filter(_.name == name).toSeq

  /** The span and all spans below it. */
  def subtree(root: Span): Set[Long] = {
    val kids = spans.asScala.groupBy(_.parent)
    def walk(id: Long): Set[Long] =
      Set(id) ++ kids.getOrElse(id, Nil).flatMap(s => walk(s.id))
    walk(root.id)
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  val OpKey = "perfbench.op"
}

/** Engine counters of a set of spans: jobs, stages and tasks the
  * listener attributed to them. */
final case class EngineTotals(
    jobs: Int, tasks: Long, taskMs: Long, cpuNs: Long, gcMs: Long,
    shuffleWriteBytes: Long, spillBytes: Long, inputBytes: Long,
    outputBytes: Long, schedWaitMs: Seq[Long], jobMsByModule: Map[String, Long],
    jobIntervals: Seq[(Long, Long)])

/** A SparkListener that folds job, stage and task counts, shuffle,
  * spill, input/output bytes, executor CPU, GC and scheduler delay
  * into the span whose id the submitting thread carried. Each job is
  * attributed to a program module by its call site: the innermost
  * `graft.<module>.` frame of the stage's creation stack. */
final class JobFolder extends SparkListener {
  private final class JobRec(val span: Long, val module: String, val startMs: Long) {
    @volatile var endMs: Long = -1L
  }
  private final class StageRec(val span: Long) {
    var submitMs = -1L
    var firstLaunchMs = Long.MaxValue
    var tasks, taskMs, cpuNs, gcMs, shuffleWrite, spill, input, output = 0L
  }
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stages = new ConcurrentHashMap[Int, StageRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toLong).getOrElse(0L)
    if (span > 0) {
      val module = e.stageInfos.sortBy(-_.stageId).headOption
        .map(s => JobFolder.moduleOf(s.details)).getOrElse("unknown")
      jobs.put(e.jobId, new JobRec(span, module, e.time))
      // a stage shared with an earlier job keeps its first owner: a
      // skipped stage runs no tasks again
      e.stageIds.foreach(id => stages.putIfAbsent(id, new StageRec(span)))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(stages.get(e.stageInfo.stageId)).foreach { s =>
      s.synchronized { s.submitMs = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()) }
    }

  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    Option(stages.get(e.stageId)).foreach { s =>
      s.synchronized { s.firstLaunchMs = math.min(s.firstLaunchMs, e.taskInfo.launchTime) }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (s <- Option(stages.get(e.stageId)); m <- Option(e.taskMetrics)) s.synchronized {
      s.tasks += 1
      s.taskMs += e.taskInfo.duration
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.diskBytesSpilled + m.memoryBytesSpilled
      s.input += m.inputMetrics.bytesRead
      s.output += m.outputMetrics.bytesWritten
    }

  def totals(spanIds: Set[Long]): EngineTotals = {
    val js = jobs.values.asScala.filter(j => spanIds(j.span)).toSeq
    val ss = stages.values.asScala.filter(s => spanIds(s.span)).toSeq
    // taking each stage's monitor makes the listener thread's writes visible
    ss.foreach(_.synchronized(()))
    EngineTotals(
      jobs = js.size,
      tasks = ss.map(_.tasks).sum, taskMs = ss.map(_.taskMs).sum,
      cpuNs = ss.map(_.cpuNs).sum, gcMs = ss.map(_.gcMs).sum,
      shuffleWriteBytes = ss.map(_.shuffleWrite).sum, spillBytes = ss.map(_.spill).sum,
      inputBytes = ss.map(_.input).sum, outputBytes = ss.map(_.output).sum,
      schedWaitMs = ss.filter(s => s.submitMs > 0 && s.firstLaunchMs < Long.MaxValue)
        .map(s => math.max(0L, s.firstLaunchMs - s.submitMs)),
      jobMsByModule = js.filter(_.endMs >= 0).groupBy(_.module)
        .map { case (m, g) => m -> g.map(j => j.endMs - j.startMs).sum },
      jobIntervals = js.filter(_.endMs >= 0).map(j => (j.startMs, j.endMs)))
  }
}

object JobFolder {
  private val Frame = """graft\.([a-z]+)\.[A-Za-z]""".r

  /** Module of the innermost program frame of a call-site stack. */
  def moduleOf(callSite: String): String =
    callSite.linesIterator.map(_.trim)
      .collectFirst { case l if Frame.findPrefixOf(l).nonEmpty =>
        Frame.findPrefixMatchOf(l).get.group(1) }
      .getOrElse("engine")

  /** Part of the interval [from, to] that no job interval covers. */
  def gapMs(from: Long, to: Long, jobs: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var cursor = from
    for ((s, e) <- jobs.map { case (s, e) => (math.max(s, from), math.min(e, to)) }
        .filter { case (s, e) => e > s }.sortBy(_._1)) {
      if (e > cursor) { covered += e - math.max(s, cursor); cursor = e }
    }
    (to - from) - covered
  }
}
