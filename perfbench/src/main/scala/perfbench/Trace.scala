package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One benchmark span: a public call into a layer, or a group of such calls. */
final case class SpanRec(id: Int, parent: Int, name: String, phase: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Executor-side totals of one Spark stage, summed over its tasks. */
final class StageRec(val id: Int) {
  var runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill, inBytes, outBytes = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
  /** Slowest task over the median task; 1.0 for single-task stages. */
  def skew: Double =
    if (taskMs.size < 2) 1.0
    else {
      val s = taskMs.sorted
      s.last.toDouble / math.max(1L, s(s.size / 2))
    }
}

/** One Spark job, attached to the benchmark span whose call submitted it. `site` is
  * the short call site ("collect at SnapshotSink.scala:1397"), `stack` the user frames
  * of the long one. */
final class JobRec(val id: Int, val span: Int, val site: String, val stack: String,
    val startMs: Long) {
  var endMs: Long = startMs
  val stages = mutable.ArrayBuffer.empty[Int]
  def seconds: Double = (endMs - startMs) / 1e3
}

/**
 * Span recorder plus a `SparkListener` that records every job and stage. Spans are
 * always kept (they are how the benchmark times its calls); the listener is attached
 * only for a traced run. Each job is attached to the innermost open span through a
 * Spark local property, which the job's start event carries.
 */
final class Tracer extends SparkListener {
  private val spans = mutable.ArrayBuffer.empty[SpanRec]
  private var open: List[Int] = Nil
  private var nextId = 0
  private var sc: Option[SparkContext] = None
  /** Tag stored with every span started from now on. */
  var phase: String = "setup"

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.Map.empty[Int, StageRec]
  /** SQL execution id -> (short, long) call site of the query that started it. */
  private val executions = mutable.Map.empty[Long, (String, String)]

  def attach(context: SparkContext): Unit = {
    sc = Some(context)
    context.addSparkListener(this)
  }

  def detach(): Unit = sc.foreach { c =>
    org.apache.spark.PerfbenchBridge.drainListeners(c)
    c.removeSparkListener(this)
    sc = None
  }

  def traced: Boolean = sc.nonEmpty

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(-1)
    open = id :: open
    sc.foreach(_.setLocalProperty(Tracer.SpanKey, id.toString))
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      open = open.tail
      sc.foreach(_.setLocalProperty(Tracer.SpanKey, open.headOption.map(_.toString).orNull))
      spans.synchronized(spans += SpanRec(id, parent, name, phase, t0, t1))
    }
  }

  def allSpans: Seq[SpanRec] = spans.synchronized(spans.toList)

  /** Duration minus the part of it covered by direct child spans. */
  def selfSeconds(s: SpanRec): Double = {
    val kids = allSpans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L
    var end = s.startNs
    kids.foreach { case (a, b) =>
      val lo = math.max(a, end)
      if (b > lo) { covered += b - lo; end = b }
    }
    (s.endNs - s.startNs - covered) / 1e9
  }

  /** Ids of `roots` and every span below them. */
  def subtree(roots: Seq[SpanRec]): Set[Int] = {
    val all = allSpans
    var ids = roots.map(_.id).toSet
    var grew = true
    while (grew) {
      val more = all.filter(s => ids(s.parent)).map(_.id).toSet -- ids
      grew = more.nonEmpty
      ids ++= more
    }
    ids
  }

  def jobsUnder(roots: Seq[SpanRec]): Seq[JobRec] = synchronized {
    val ids = subtree(roots)
    jobs.values.filter(j => ids(j.span)).toList
  }

  def stagesOf(js: Seq[JobRec]): Seq[StageRec] = synchronized {
    js.flatMap(_.stages).distinct.flatMap(stages.get)
  }

  // ---- listener ---------------------------------------------------------------

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized(executions(s.executionId) = (s.description, s.details))
    case _ =>
  }

  /** A job's call site is its SQL query's when it has one: adaptive execution submits
    * a query's shuffle stages from a pool thread, whose own call site says nothing. */
  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val span = prop(Tracer.SpanKey).map(_.toInt).getOrElse(-1)
    val result = e.stageInfos.maxBy(_.stageId)
    val (site, details) = prop("spark.sql.execution.id").map(_.toLong)
      .flatMap(executions.get).getOrElse((result.name, result.details))
    val stack = details.linesIterator.filter(_.startsWith("graft.")).mkString("\n")
    val j = new JobRec(e.jobId, span, site, stack, e.time)
    j.stages ++= e.stageIds
    jobs(e.jobId) = j
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val s = stages.getOrElseUpdate(e.stageId, new StageRec(e.stageId))
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      val read = m.shuffleReadMetrics
      s.shuffleRead += read.remoteBytesRead + read.localBytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.inBytes += m.inputMetrics.bytesRead
      s.outBytes += m.outputMetrics.bytesWritten
      s.taskMs += e.taskInfo.duration
    }
  }

  /** Spans and jobs as JSON lines, written when the run ends. */
  def toJsonLines: Seq[String] = synchronized {
    val sp = allSpans.map { s =>
      Json.obj("type" -> "span", "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "phase" -> s.phase, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "seconds" -> s.seconds, "self_seconds" -> selfSeconds(s))
    }
    val jb = jobs.values.toList.map { j =>
      val st = j.stages.flatMap(stages.get)
      Json.obj("type" -> "job", "id" -> j.id, "span" -> j.span, "site" -> j.site,
        "seconds" -> j.seconds, "stages" -> j.stages.size,
        "run_ms" -> st.map(_.runMs).sum, "cpu_ns" -> st.map(_.cpuNs).sum,
        "gc_ms" -> st.map(_.gcMs).sum, "shuffle_read" -> st.map(_.shuffleRead).sum,
        "shuffle_write" -> st.map(_.shuffleWrite).sum, "spill" -> st.map(_.spill).sum,
        "input_bytes" -> st.map(_.inBytes).sum, "output_bytes" -> st.map(_.outBytes).sum,
        "task_skew" -> (if (st.isEmpty) 1.0 else st.map(_.skew).max),
        "stack" -> j.stack)
    }
    sp ++ jb
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
}

/** Minimal JSON writer for objects of numbers, strings, booleans and lists. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case Raw(s) => s
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  /** Already-serialized JSON, embedded as is. */
  final case class Raw(json: String)
}
