package graft.perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.util.LongAccumulator

/** One timed call into a layer, in ns since the process's trace origin. */
final case class Span(name: String, start: Long, end: Long, parent: String, run: Int) {
  def seconds: Double = (end - start) / 1e9
}

/**
 * The traced run's recorder. Spans go to memory and are written out with the
 * run's artifact. While a span is open its name is the job-local property
 * [[Tracer.SpanKey]], and the current iteration is [[Tracer.RunKey]], so the
 * [[StageCollector]] can attribute each Spark job to both.
 */
final class Tracer(sc: SparkContext) {
  private val origin = System.nanoTime()
  private var stack = List.empty[String]
  val spans = ArrayBuffer.empty[Span]
  val collector = new StageCollector
  private var run = -1

  sc.addSparkListener(collector)

  def begin(iteration: Int): Unit = {
    run = iteration
    sc.setLocalProperty(Tracer.RunKey, iteration.toString)
  }

  /** Jobs after this (output checks, counts) belong to no iteration. */
  def end(): Unit = {
    sc.setLocalProperty(Tracer.RunKey, null)
    sc.setLocalProperty(Tracer.PhaseKey, null)
  }

  def span[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val parent = stack.headOption.orNull
    stack ::= name
    sc.setLocalProperty(Tracer.SpanKey, name)
    try body
    finally {
      stack = stack.tail
      sc.setLocalProperty(Tracer.SpanKey, stack.headOption.orNull)
      spans += Span(name, t0 - origin, System.nanoTime() - origin, parent, run)
    }
  }

  /** Labels the jobs `body` starts, e.g. "construct" for eager work inside a
   * program call. */
  def phase[T](name: String)(body: => T): T = {
    sc.setLocalProperty(Tracer.PhaseKey, name)
    try body finally sc.setLocalProperty(Tracer.PhaseKey, null)
  }

  def seconds(name: String, iteration: Int): Double =
    spans.iterator.filter(s => s.name == name && s.run == iteration).map(_.seconds).sum

  /** Waits until the collector has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.perfbench.BusDrain.drain(sc)

  def close(): Unit = sc.removeSparkListener(collector)
}

object Tracer {
  val RunKey = "perfbench.run"
  val SpanKey = "perfbench.span"
  val PhaseKey = "perfbench.phase"

  def span[T](tr: Option[Tracer], name: String)(body: => T): T =
    tr.fold(body)(_.span(name)(body))

  def phase[T](tr: Option[Tracer], name: String)(body: => T): T =
    tr.fold(body)(_.phase(name)(body))
}

/** Summed task-side statistics of the jobs of one iteration. */
final class RunStats {
  var jobs = 0
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var waitMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var constructMs = 0L
  val runMsBySpan = mutable.Map.empty[String, Long].withDefaultValue(0L)
  val taskMsByStage = mutable.Map.empty[Int, ArrayBuffer[Long]]

  /** Max ÷ median task run time in the stage with the most task time. */
  def skew: Double =
    if (taskMsByStage.isEmpty) 1.0
    else {
      val ts = taskMsByStage.values.maxBy(_.sum).sorted
      val median = math.max(1L, ts(ts.length / 2))
      math.max(1L, ts.last).toDouble / median
    }
}

/**
 * The benchmark's SparkListener: attributes jobs, tasks, executor run/CPU/GC
 * time, scheduler delay, shuffle writes and spills to the iteration and span
 * whose local properties the job was submitted under.
 */
final class StageCollector extends SparkListener {
  private val stageTag = mutable.Map.empty[Int, (Int, String)]
  private val jobs = mutable.Map.empty[Int, (Int, String, Long)] // run, phase, start
  private val stats = mutable.Map.empty[Int, RunStats]

  private def prop(e: SparkListenerJobStart, k: String): String =
    Option(e.properties).map(_.getProperty(k)).orNull

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val run = Option(prop(e, Tracer.RunKey)).map(_.toInt).getOrElse(-1)
    if (run >= 0) {
      val span = Option(prop(e, Tracer.SpanKey)).getOrElse("")
      e.stageInfos.foreach(s => stageTag(s.stageId) = (run, span))
      jobs(e.jobId) = (run, Option(prop(e, Tracer.PhaseKey)).getOrElse(""), e.time)
      of(run).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.remove(e.jobId).foreach { case (run, phase, start) =>
      if (phase == "construct") of(run).constructMs += e.time - start
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for ((run, span) <- stageTag.get(e.stageId); m <- Option(e.taskMetrics)) {
      val s = of(run)
      s.tasks += 1
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.waitMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - e.taskInfo.gettingResultTime)
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.diskBytesSpilled
      s.runMsBySpan(span) += m.executorRunTime
      s.taskMsByStage.getOrElseUpdate(e.stageId, ArrayBuffer.empty) += m.executorRunTime
    }
  }

  private def of(run: Int): RunStats = stats.getOrElseUpdate(run, new RunStats)

  def statsOf(run: Int): RunStats = synchronized(of(run))
}

/** Adds the time spent in the wrapped iterator's calls to `acc`, once the
 * iterator is exhausted. */
final class TimedIterator[A](it: Iterator[A], acc: LongAccumulator) extends Iterator[A] {
  private var ns = 0L
  private var flushed = false

  def hasNext: Boolean = {
    val t = System.nanoTime()
    val more = it.hasNext
    ns += System.nanoTime() - t
    if (!more && !flushed) { flushed = true; acc.add(ns) }
    more
  }

  def next(): A = {
    val t = System.nanoTime()
    try it.next() finally ns += System.nanoTime() - t
  }
}
