package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** One timed call. `layer` is the engine module the call went into, or
  * `rep` (a whole repetition), `sink` (forcing a call's output) or `bench`
  * (the benchmark's own glue and checks). Times are System.nanoTime. */
final class Span(val id: Long, val rep: Int, val parent: Long, val layer: String,
    val name: String, val start: Long) {
  var end: Long = -1L
  var rowsOut: Long = 0L
  val jobs = mutable.ArrayBuffer.empty[JobInfo]
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  def seconds: Double = (end - start) / 1e9
}

final case class JobInfo(jobId: Int, group: String, callSite: String,
    sqlExecution: String, stageIds: Seq[Int], submitNanos: Long)

final class StageTotals {
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
}

/**
 * Spans opened by the benchmark around each call into an engine module, plus
 * a SparkListener that attributes executor CPU, GC, shuffle and spill to
 * them. Every span tags its jobs with `setJobGroup(span id)`; a job from a
 * thread that carries another group (a streaming query's own thread) goes to
 * the innermost span open when it was submitted. Listener events arrive
 * asynchronously, so attribution is resolved in `finish()`, after the
 * listener bus has drained. Everything stays in memory until then.
 */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]
  private var nextId = 1L
  private var rep = 0
  // wall clock of the listener's job events vs nanoTime of the spans
  private val nanoAtEpochMs = System.nanoTime() - System.currentTimeMillis() * 1000000L

  private val jobEvents = new ConcurrentHashMap[Int, JobInfo]()
  private val stageTotals = new ConcurrentHashMap[Int, StageTotals]()

  def startRep(n: Int): Unit = rep = n

  def span[T](layer: String, name: String)(body: => T): T = {
    val parent = open.headOption
    val s = new Span(nextId, rep, parent.map(_.id).getOrElse(0L), layer, name, System.nanoTime())
    nextId += 1
    spans += s
    open.push(s)
    sc.setJobGroup(s.id.toString, s"${s.layer}:${s.name}")
    try body
    finally {
      s.end = System.nanoTime()
      open.pop()
      parent match {
        case Some(p) => sc.setJobGroup(p.id.toString, s"${p.layer}:${p.name}")
        case None => sc.clearJobGroup()
      }
    }
  }

  /** The innermost open span, for callers that record counts on it. */
  def current: Option[Span] = open.headOption

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    // the result stage is named after the job's call site ("isEmpty at X.scala:71")
    val callSite = e.stageInfos.maxByOption(_.stageId).map(_.name).getOrElse("")
    jobEvents.put(e.jobId, JobInfo(e.jobId, prop("spark.jobGroup.id"), callSite,
      prop("spark.sql.execution.id"), e.stageIds, e.time * 1000000L + nanoAtEpochMs))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val t = stageTotals.computeIfAbsent(e.stageId, _ => new StageTotals)
    t.synchronized {
      t.tasks += 1
      t.cpuNs += m.executorCpuTime
      t.runMs += m.executorRunTime
      t.gcMs += m.jvmGCTime
      t.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Drain the listener bus and attribute every job and its stages to a span. */
  def finish(): Seq[Span] = {
    org.apache.spark.PerfbenchAccess.drainListeners(sc)
    val byId = spans.iterator.map(s => s.id.toString -> s).toMap
    val seenStages = mutable.HashSet.empty[Int]
    for (j <- jobEvents.values.asScala.toSeq.sortBy(_.jobId)) {
      byId.get(j.group).orElse(innermostAt(j.submitNanos)).foreach { s =>
        s.jobs += j
        for (st <- j.stageIds if seenStages.add(st); t <- Option(stageTotals.get(st))) {
          s.tasks += t.tasks
          s.cpuNs += t.cpuNs
          s.runMs += t.runMs
          s.gcMs += t.gcMs
          s.shuffleReadBytes += t.shuffleReadBytes
          s.shuffleWriteBytes += t.shuffleWriteBytes
          s.spillBytes += t.spillBytes
        }
      }
    }
    spans.toSeq
  }

  private def innermostAt(t: Long): Option[Span] =
    spans.filter(s => s.start <= t && (s.end < 0 || t <= s.end))
      .maxByOption(_.start)

  /** One JSON object per span, in start order. */
  def writeJsonLines(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.sortBy(_.start).foreach { s =>
      w.write(Json.write(collection.mutable.LinkedHashMap(
        "id" -> s.id, "rep" -> s.rep, "parent" -> s.parent, "layer" -> s.layer,
        "name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end,
        "duration_s" -> s.seconds, "self_s" -> Trace.selfSeconds(s, spans),
        "rows_out" -> s.rowsOut, "jobs" -> s.jobs.size, "tasks" -> s.tasks,
        "cpu_s" -> s.cpuNs / 1e9, "run_s" -> s.runMs / 1e3, "gc_s" -> s.gcMs / 1e3,
        "shuffle_read_bytes" -> s.shuffleReadBytes,
        "shuffle_write_bytes" -> s.shuffleWriteBytes, "spill_bytes" -> s.spillBytes,
        "call_sites" -> s.jobs.map(_.callSite).distinct)))
      w.newLine()
    } finally w.close()
  }
}

object Trace {
  /** A span's duration minus the part of it its child spans cover. */
  def selfSeconds(s: Span, all: collection.Seq[Span]): Double = {
    val kids = all.filter(_.parent == s.id).map(k => (k.start, k.end)).sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((a, b) <- kids) {
      if (a > curE) { covered += curE - curS; curS = a; curE = b }
      else if (b > curE) curE = b
    }
    covered += curE - curS
    (s.end - s.start - covered) / 1e9
  }

  /** Every span below `s`, `s` included. */
  def subtree(s: Span, all: collection.Seq[Span]): Seq[Span] = {
    val kids = all.filter(_.parent == s.id)
    s +: kids.flatMap(subtree(_, all)).toSeq
  }
}
