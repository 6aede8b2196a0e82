package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Work Spark did on behalf of one tag. */
final class Counts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var cpuNs = 0L
  var shuffleBytes = 0L
  var inputBytes = 0L
  var resultBytes = 0L
  var plans = 0L

  def +=(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; cpuNs += o.cpuNs
    shuffleBytes += o.shuffleBytes; inputBytes += o.inputBytes
    resultBytes += o.resultBytes; plans += o.plans
  }
}

/** Charges every Spark job, stage, task and SQL execution to the harness
  * tag its submitting thread carried. The client thread sets the tag with
  * `SparkContext.addJobTag` (a thread-local property) before each op or
  * span, so the charge is exact even for jobs the library runs eagerly
  * while building a DataFrame. Work without a harness tag is charged to
  * `untagged`, never dropped. With `tasks` off only jobs and SQL
  * executions are counted, which is all an untraced run reports. */
final class Tally(tasks: Boolean) extends SparkListener {
  private val byTag = mutable.HashMap.empty[String, Counts]
  private val stageTag = mutable.HashMap.empty[Int, String]

  private def tagOf(tags: Iterable[String]): String =
    tags.find(_.startsWith(Tally.Prefix)).getOrElse(Tally.Untagged)

  private def tagOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(s => tagOf(s.split(",").toSeq)).getOrElse(Tally.Untagged)

  private def at(tag: String): Counts = byTag.getOrElseUpdate(tag, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = tagOf(e.properties)
    at(tag).jobs += 1
    if (tasks) e.stageIds.foreach(stageTag(_) = tag)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (tasks) synchronized {
      val tag = stageTag.getOrElse(e.stageInfo.stageId, tagOf(e.properties))
      stageTag(e.stageInfo.stageId) = tag
      at(tag).stages += 1
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (tasks) synchronized {
      val c = at(stageTag.getOrElse(e.stageId, Tally.Untagged))
      c.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        c.cpuNs += m.executorCpuTime
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.inputBytes += m.inputMetrics.bytesRead
        c.resultBytes += m.resultSize
      }
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized { at(tagOf(s.jobTags)).plans += 1 }
    case _ =>
  }

  /** Counts per tag, after every event so far has been delivered. */
  def snapshot(spark: SparkSession): Map[String, Counts] = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    synchronized {
      byTag.map { case (k, v) => val c = new Counts; c += v; k -> c }.toMap
    }
  }
}

object Tally {
  val Prefix = "graftbench-"
  val Untagged = "untagged"
}

/** One span: an op, a phase inside it, or a set-up step. Times are
  * nanoseconds since the recorder started. */
final case class Span(id: Int, parent: Int, name: String, kind: String,
    start: Long, end: Long) {
  def seconds: Double = (end - start) / 1e9
}

/** One timed op of a workload. `phases` holds the build/plan/exec split and
  * `planS` the Catalyst planning time of the op's final DataFrame. */
final case class OpRec(seq: Int, cycle: Int, kind: String, seconds: Double, ok: Boolean,
    error: String, spanId: Int, phases: Map[String, Double], planS: Double)

/** Records ops and spans from the single client thread.
  *
  * Every op and every set-up step gets a span and a Spark job tag; with
  * `traced` the phases of an op (build, plan, exec) get child spans and
  * tags of their own, the Catalyst planning time is read from the
  * `QueryPlanningTracker`, and the listener counts stages and tasks.
  * Spans are kept in memory and written out when the run ends. */
final class Recorder(spark: SparkSession, val traced: Boolean) {
  private val sc = spark.sparkContext
  private val t0 = System.nanoTime()
  val tally = new Tally(tasks = traced)
  sc.addSparkListener(tally)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Int]
  private var nextId = 0
  val ops = mutable.ArrayBuffer.empty[OpRec]
  /** The cycle the client is in; 0 during set-up. */
  var cycle = 0
  /** Seconds of set-up steps that built a library fixture (a
    * `ResultCache.buildIfAbsent` miss). */
  var fixtureBuildSeconds = 0.0

  def now: Long = System.nanoTime() - t0

  def tagOf(spanId: Int): String = s"${Tally.Prefix}$spanId"

  /** Run `f` inside a new span; its Spark work is charged to the span. */
  def span[A](name: String, kind: String)(f: => A): (A, Int) = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(-1)
    open.headOption.foreach(p => sc.removeJobTag(tagOf(p)))
    sc.addJobTag(tagOf(id))
    val start = now
    open.push(id)
    try (f, id)
    finally {
      open.pop()
      sc.removeJobTag(tagOf(id))
      open.headOption.foreach(p => sc.addJobTag(tagOf(p)))
      spans += Span(id, parent, name, kind, start, now)
    }
  }

  /** A set-up step: always spanned, so set-up work is never untagged. */
  def step[A](name: String)(f: => A): A = {
    val miss0 = graft.ops.ResultCache.totalIndexMisses
    val s = System.nanoTime()
    try span(name, "setup")(f)._1
    finally if (graft.ops.ResultCache.totalIndexMisses > miss0)
      fixtureBuildSeconds += (System.nanoTime() - s) / 1e9
  }

  /** The phases of one op. Untraced runs do the same work without child
    * spans, so both runs measure the same calls. */
  final class Phases {
    private[Recorder] val times = mutable.LinkedHashMap.empty[String, Double]
    private[Recorder] var planS = 0.0
    private def phase[A](name: String)(f: => A): A = {
      val s = System.nanoTime()
      val r = if (traced) span(name, "phase")(f)._1 else f
      times(name) = times.getOrElse(name, 0.0) + (System.nanoTime() - s) / 1e9
      r
    }
    /** The call into the library that returns a DataFrame, with its
      * eager side work. */
    def build[A](f: => A): A = phase("build")(f)
    /** Catalyst analysis, optimisation and physical planning. */
    def plan(df: DataFrame): Unit = phase("plan")(df.queryExecution.executedPlan)
    /** The action. */
    def exec[A](f: => A): A = phase("exec")(f)
    /** Build, plan and collect a DataFrame-returning call. */
    def collect(df: => DataFrame): Array[org.apache.spark.sql.Row] = {
      val d = build(df)
      plan(d)
      val rows = exec(d.collect())
      if (traced) planS += planningSeconds(d)
      rows
    }
  }

  private def planningSeconds(df: DataFrame): Double =
    df.queryExecution.tracker.phases.values
      .map(p => (p.endTimeMs - p.startTimeMs) / 1e3).sum

  /** Time one op. `check` runs after the clock stops and returns an error
    * for a wrong answer; a throw from either counts as a failed op. */
  def op[R](kind: String)(run: Phases => R)(check: R => Option[String]): OpRec = {
    val ph = new Phases
    val s = System.nanoTime()
    val (res, id) = span(kind, "op") {
      try Right(run(ph)) catch { case e: Throwable => Left(e) }
    }
    val secs = (System.nanoTime() - s) / 1e9
    val err = res match {
      case Left(e) => Some(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      case Right(r) =>
        try check(r) catch { case e: Throwable => Some(s"check threw ${e.getMessage}") }
    }
    err.foreach(m => System.err.println(s"[graftbench] op $kind failed: ${m.take(400)}"))
    val rec = OpRec(ops.size, cycle, kind, secs, err.isEmpty, err.getOrElse(""), id,
      ph.times.toMap, ph.planS)
    ops += rec
    rec
  }

  def allSpans: Seq[Span] = spans.toSeq

  /** Self time per span: its duration minus the part its children cover
    * (children of one span never overlap: there is one client thread). */
  def selfSeconds: Map[Int, Double] = {
    val childTime = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    spans.map(s => s.id -> (s.seconds - childTime.getOrElse(s.id, 0.0))).toMap
  }

  /** Map every span id to the id of its top-level ancestor. */
  def rootOf: Map[Int, Int] = {
    val parent = spans.map(s => s.id -> s.parent).toMap
    def up(id: Int): Int = parent.get(id) match {
      case Some(p) if p >= 0 => up(p)
      case _ => id
    }
    spans.map(s => s.id -> up(s.id)).toMap
  }
}
