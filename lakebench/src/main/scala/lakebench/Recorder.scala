package lakebench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import graft.table.FileIO

/** One timed call: workload → unit → op → (Spark jobs, attributed later). */
final class Span(val id: Int, val name: String, val parent: Int, val startMs: Double,
    val traced: Boolean) {
  var endMs: Double = startMs
  var fileio: Long = 0L
}

/** A Spark job as the listener saw it, with its tasks' totals. */
final class Job(val id: Int, val group: String, val startMs: Double) {
  var endMs: Double = startMs
  var tasks = 0
  var taskS = 0.0
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var gcS = 0.0
}

/** Collects jobs, stages and tasks. Registered only for traced runs. */
final class JobListener extends SparkListener {
  val jobs = mutable.ArrayBuffer[Job]()
  private val byStage = mutable.Map[Int, Job]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val j = new Job(e.jobId, group.getOrElse(""), e.time.toDouble)
    jobs += j
    e.stageIds.foreach(byStage(_) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.endMs = e.time.toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    byStage.get(e.stageId).foreach { j =>
      j.tasks += 1
      j.taskS += e.taskInfo.duration / 1e3
      Option(e.taskMetrics).foreach { m =>
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        j.gcS += m.jvmGCTime / 1e3
      }
    }
  }
}

/**
 * In-memory record of one benchmark run: samples per metric, single values,
 * the pass/fail tally, and (traced runs only) spans and Spark jobs. Nothing
 * is written until [[dump]] at exit; all arithmetic on these numbers lives
 * in `stats.py` so it can be self-tested without a JVM.
 */
final class Recorder(sc: => SparkContext, val traced: Boolean) {
  val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  val values = mutable.LinkedHashMap[String, Double]()
  val failures = mutable.ArrayBuffer[String]()
  var attempted = 0
  val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  /** collects every job while tracing is on; kept across toggles */
  val listener: Option[JobListener] = if (traced) Some(new JobListener) else None
  /** whether tracing is on right now (listener attached, job groups set) */
  private var on = false
  def tagging: Boolean = on

  private val epochBaseMs = System.currentTimeMillis() - System.nanoTime() / 1e6
  private def nowMs: Double = epochBaseMs + System.nanoTime() / 1e6

  /** prepended to sample names; passes that must not feed the run's
    * metrics (the scaling passes) record under their own prefix */
  var prefix = ""

  def add(name: String, v: Double): Unit =
    samples.getOrElseUpdate(prefix + name, mutable.ArrayBuffer()) += v
  def set(name: String, v: Double): Unit = values(name) = v

  /** Turn tracing (listener plus job groups) on or off; a no-op in untraced
    * runs. A traced run alternates units with it on and off, so the
    * difference between the two halves is the tracing overhead. */
  def tracing(enable: Boolean): Unit = listener.foreach { l =>
    if (enable && !on) sc.addSparkListener(l)
    if (!enable && on) { settle(); sc.removeSparkListener(l) }
    on = enable
  }

  /** Time `body` as a span named `name`; returns (result, wall seconds). */
  def span[T](name: String)(body: => T): (T, Double) = {
    val s = new Span(spans.size, name, stack.headOption.getOrElse(-1), nowMs, tagging)
    spans += s
    stack = s.id :: stack
    val f0 = FileIO.opCount.get()
    if (tagging) sc.setJobGroup(s"lakebench-${s.id}", name)
    try {
      val r = body
      (r, (nowMs - s.startMs) / 1e3)
    } finally {
      s.endMs = nowMs
      s.fileio = FileIO.opCount.get() - f0
      stack = stack.tail
      if (tagging) stack.headOption match {
        case Some(p) => sc.setJobGroup(s"lakebench-$p", spans(p).name)
        case None    => sc.clearJobGroup()
      }
    }
  }

  /** Time a call as a span and record its wall seconds under `name`. */
  def timed[T](name: String)(body: => T): (T, Double) = {
    val r = span(name)(body)
    add(name, r._2)
    r
  }

  /** Count an output check; a false or throwing check is a failure. */
  def check(name: String)(ok: => Boolean): Boolean = {
    attempted += 1
    val passed = try ok catch { case NonFatal(e) => failures += s"$name: $e"; return false }
    if (!passed) failures += s"$name: output mismatch"
    passed
  }

  /** Run one unit of work as a span; an exception counts one failed op and
    * drops the unit's samples, so a failed unit's time never reaches a
    * metric. Returns the unit's wall seconds if it succeeded. */
  def unit(name: String)(body: => Unit): Option[Double] = {
    attempted += 1
    val before = samples.map { case (k, v) => k -> v.size }
    try Some(span(name)(body)._2)
    catch {
      case NonFatal(e) =>
        failures += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}"
        samples.foreach { case (k, v) => v.remove(before.getOrElse(k, 0), v.size - before.getOrElse(k, 0)) }
        None
    }
  }

  /** Wait for the asynchronous listener bus to deliver the last events. */
  def settle(): Unit = listener.foreach { l =>
    var last = -1
    var n = l.synchronized(l.jobs.size + l.jobs.map(_.tasks).sum)
    while (n != last) {
      last = n
      Thread.sleep(300)
      n = l.synchronized(l.jobs.size + l.jobs.map(_.tasks).sum)
    }
  }

  def dump(path: String): Unit = {
    settle()
    def str(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
    val sb = new StringBuilder
    sb ++= "{\"attempted\":" ++= attempted.toString
    sb ++= ",\"failures\":" ++= failures.map(str).mkString("[", ",", "]")
    sb ++= ",\"samples\":" ++= samples.map { case (k, v) => str(k) + ":" + v.map(num).mkString("[", ",", "]") }.mkString("{", ",", "}")
    sb ++= ",\"values\":" ++= values.map { case (k, v) => str(k) + ":" + num(v) }.mkString("{", ",", "}")
    sb ++= ",\"spans\":" ++= spans.map { s =>
      s"""{"id":${s.id},"name":${str(s.name)},"parent":${s.parent},"start":${num(s.startMs)},"end":${num(s.endMs)},"fileio":${s.fileio},"traced":${s.traced}}"""
    }.mkString("[", ",", "]")
    val jobs = listener.map(l => l.synchronized(l.jobs.toList)).getOrElse(Nil)
    sb ++= ",\"jobs\":" ++= jobs.map { j =>
      s"""{"id":${j.id},"group":${str(j.group)},"start":${num(j.startMs)},"end":${num(j.endMs)},"tasks":${j.tasks},"task_s":${num(j.taskS)},""" +
        s""""shuffle_write_bytes":${j.shuffleWriteBytes},"spill_bytes":${j.spillBytes},"gc_s":${num(j.gcS)}}"""
    }.mkString("[", ",", "]")
    sb ++= "}\n"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }
}
