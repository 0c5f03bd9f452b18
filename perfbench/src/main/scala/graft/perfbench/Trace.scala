package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced call into a layer: times are wall-clock milliseconds of the
  * Spark driver (the clock its scheduler stamps job events with). `parent`
  * is 0 for a root span.
  */
final case class Span(id: Int, parent: Int, name: String, run: String,
    start: Double, end: Double, counters: Map[String, Double])

/** Spark work attributed to one span: its jobs' [start, end] intervals and
  * the totals of the tasks of the stages those jobs submitted.
  */
final case class SpanWork(jobs: Seq[(Double, Double)], tasks: Long,
    taskMs: Long, shuffleBytes: Long)

/** Rolls jobs, stages and tasks up per span. The span is read from the
  * local property the tracer sets around each call; Spark copies local
  * properties into every job and stage it submits from that thread.
  */
final class JobRecorder extends SparkListener {
  private val jobSpan = mutable.Map.empty[Int, Int]
  private val jobStart = mutable.Map.empty[Int, Double]
  private val jobEnd = mutable.Map.empty[Int, Double]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val tasks = mutable.Map.empty[Int, Long].withDefaultValue(0L)
  private val taskMs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
  private val shuffle = mutable.Map.empty[Int, Long].withDefaultValue(0L)

  private def spanOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.Property))).map(_.toInt)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    spanOf(e.properties).foreach { s =>
      jobSpan(e.jobId) = s
      jobStart(e.jobId) = e.time.toDouble
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (jobSpan.contains(e.jobId)) jobEnd(e.jobId) = e.time.toDouble
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    spanOf(e.properties).foreach(s => stageSpan(e.stageInfo.stageId) = s)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (s <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
      tasks(s) += 1
      taskMs(s) += m.executorRunTime
      shuffle(s) += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
    }
  }

  def work(span: Int): SpanWork = synchronized {
    val js = jobSpan.collect { case (j, s) if s == span =>
      (jobStart(j), jobEnd.getOrElse(j, jobStart(j)))
    }.toSeq
    SpanWork(js, tasks(span), taskMs(span), shuffle(span))
  }
}

object Tracer {
  val Property = "perfbench.span"

  /** Per-call layer metrics every layer reports. */
  val Core: Seq[String] = Seq("wall_s", "driver_s", "jobs", "tasks", "task_s", "shuffle_mb")
}

/** Records a span around each call into a layer's public function. Spans
  * stay in memory; [[rollup]] and [[spansJson]] read them once the run ends.
  * Single-threaded: every traced call is made from the thread that submits
  * the Spark jobs.
  */
final class Tracer(sc: SparkContext, val run: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[(Int, mutable.Map[String, Double])]
  private var nextId = 1
  private val recorder = new JobRecorder
  sc.addSparkListener(recorder)

  private def now(): Double = System.currentTimeMillis().toDouble

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.map(_._1).getOrElse(0)
    val counters = mutable.Map.empty[String, Double]
    stack = (id, counters) :: stack
    sc.setLocalProperty(Tracer.Property, id.toString)
    val t0 = now()
    try body
    finally {
      val t1 = now()
      stack = stack.tail
      sc.setLocalProperty(Tracer.Property, if (parent == 0) null else parent.toString)
      spans += Span(id, parent, name, run, t0, t1, counters.toMap)
    }
  }

  /** Attach a named counter to the innermost open span. */
  def note(key: String, value: Double): Unit =
    stack.headOption.foreach { case (_, c) => c(key) = value }

  /** Wait for the listener bus to deliver every event, not a fixed sleep. */
  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(sc)

  /** Stop recording; the spans stay readable. */
  def close(): Unit = {
    drain()
    sc.removeSparkListener(recorder)
  }

  /** Core metrics of one span (see [[Tracer.Core]]): self time, the part of
    * the self time during which none of the span's own jobs ran, and the
    * span's own jobs, tasks, task time and shuffle bytes.
    */
  def metrics(s: Span): Map[String, Double] = {
    val children = spans.filter(_.parent == s.id).map(c => (c.start, c.end)).toSeq
    val w = recorder.work(s.id)
    val selfMs = Stats.selfTime(s.start, s.end, children)
    val busyMs = Stats.covered(s.start, s.end, children ++ w.jobs) -
      Stats.covered(s.start, s.end, children)
    Map(
      "wall_s" -> selfMs / 1000,
      "driver_s" -> (selfMs - busyMs) / 1000,
      "jobs" -> w.jobs.size.toDouble,
      "tasks" -> w.tasks.toDouble,
      "task_s" -> w.taskMs / 1000.0,
      "shuffle_mb" -> w.shuffleBytes / 1048576.0) ++ s.counters
  }

  /** Per-layer means over every call recorded under each span name. */
  def rollup(): Map[String, Map[String, Double]] = {
    drain()
    spans.toSeq.groupBy(_.name).map { case (name, calls) =>
      val ms = calls.map(metrics)
      name -> ms.flatMap(_.keys).distinct.map(k =>
        k -> ms.map(_.getOrElse(k, 0.0)).sum / ms.size).toMap
    }
  }

  def spansJson: String = {
    drain()
    spans.map { s =>
      val m = metrics(s).toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k": ${Json.num(v)}""" }.mkString(", ")
      s"""{"id": ${s.id}, "parent": ${s.parent}, "name": "${s.name}", "run": "${s.run}", """ +
        s""""start_ms": ${s.start.toLong}, "end_ms": ${s.end.toLong}, "metrics": {$m}}"""
    }.mkString("[\n", ",\n", "\n]")
  }
}
