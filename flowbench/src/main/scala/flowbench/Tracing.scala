package flowbench

import scala.collection.mutable

import org.apache.spark.FlowbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.pipeline.OrthologPipeline

/** Opens named spans around calls into the program. The untraced run
  * uses [[NoTrace]], so timing with tracing off adds nothing. */
trait Tracer {
  def span[T](name: String)(body: => T): T
}

object NoTrace extends Tracer {
  def span[T](name: String)(body: => T): T = body
}

/** One span: a named interval on the driver thread and the span that
  * was open when it started (-1 for a root). */
final case class Span(id: Int, name: String, parent: Int,
                      startMs: Long, startNs: Long,
                      var endMs: Long = -1L, var endNs: Long = -1L) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Spark work attributed to one span by [[SpanListener]]. */
final class SpanCounters {
  var taskMs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var outBytes = 0L
  var jobs = 0
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** The eight per-span metrics the traced run reports. Every metric is
  * inclusive: a span's own work plus that of the spans it contains. */
final case class SpanMetrics(wallS: Double, driverS: Double, taskS: Double,
                             gcS: Double, shuffleMb: Double, spillMb: Double,
                             outMb: Double, jobs: Double) {
  def +(o: SpanMetrics): SpanMetrics = SpanMetrics(wallS + o.wallS,
    driverS + o.driverS, taskS + o.taskS, gcS + o.gcS,
    shuffleMb + o.shuffleMb, spillMb + o.spillMb, outMb + o.outMb,
    jobs + o.jobs)
  def toMap: Seq[(String, Double)] = Seq("wall_s" -> wallS,
    "driver_s" -> driverS, "task_s" -> taskS, "gc_s" -> gcS,
    "shuffle_mb" -> shuffleMb, "spill_mb" -> spillMb, "out_mb" -> outMb,
    "jobs" -> jobs)
}

object SpanMetrics {
  val Zero: SpanMetrics = SpanMetrics(0, 0, 0, 0, 0, 0, 0, 0)
  val Names: Seq[String] = Zero.toMap.map(_._1)
}

/** Attributes jobs, stages and tasks to the span that was open on the
  * submitting thread, read from the `flowbench.span` local property. */
final class SpanListener extends SparkListener {
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val jobSpan = mutable.Map.empty[Int, Int]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val counters = mutable.Map.empty[Int, SpanCounters]

  private def spanOf(p: java.util.Properties): Option[Int] =
    Option(p).flatMap(x => Option(x.getProperty(SpanTracer.Prop))).map(_.toInt)

  private def c(span: Int): SpanCounters =
    counters.getOrElseUpdate(span, new SpanCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    spanOf(e.properties).foreach { s =>
      jobSpan(e.jobId) = s
      jobStart(e.jobId) = e.time
      c(s).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    for (s <- jobSpan.remove(e.jobId); t0 <- jobStart.remove(e.jobId))
      c(s).jobIntervals += ((t0, e.time))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      spanOf(e.properties).foreach(s => stageSpan(e.stageInfo.stageId) = s)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageSpan.get(e.stageId).foreach { s =>
      val k = c(s)
      k.taskMs += m.executorRunTime
      k.gcMs += m.jvmGCTime
      k.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten
      k.spillBytes += m.diskBytesSpilled
      k.outBytes += m.outputMetrics.bytesWritten
    }
  }

  /** Counters of the given spans; forgets them afterwards. */
  def take(spans: Iterable[Int]): Map[Int, SpanCounters] = synchronized {
    val out = spans.flatMap(s => counters.remove(s).map(s -> _)).toMap
    stageSpan.filterInPlace((_, s) => !out.contains(s))
    out
  }
}

/** In-memory span recorder for the traced run. Spans are opened and
  * closed on the driver thread; the innermost open span id rides on the
  * `flowbench.span` local property so [[SpanListener]] can attribute
  * the Spark work the span's calls submit. */
final class SpanTracer(spark: SparkSession) extends Tracer {
  private val sc = spark.sparkContext
  val listener = new SpanListener
  sc.addSparkListener(listener)

  private var nextId = 0
  private var open = List.empty[Span]
  private val current = mutable.ArrayBuffer.empty[Span]
  /** Every span closed so far, with its metrics, for the trace file. */
  val finished = mutable.ArrayBuffer.empty[(Int, Span, SpanMetrics)]

  def span[T](name: String)(body: => T): T = {
    val s = Span(nextId, name, open.headOption.map(_.id).getOrElse(-1),
      System.currentTimeMillis(), System.nanoTime())
    nextId += 1
    current += s
    open = s :: open
    sc.setLocalProperty(SpanTracer.Prop, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      open = open.tail
      sc.setLocalProperty(SpanTracer.Prop,
        open.headOption.map(_.id.toString).orNull)
    }
  }

  /** Close the books on one iteration: wait for Spark's queued events,
    * then compute each span's inclusive metrics. Returns the spans of
    * the iteration with their metrics. */
  def collect(iteration: Int): Seq[(Span, SpanMetrics)] = {
    FlowbenchBus.drain(sc)
    val spans = current.toList
    current.clear()
    val counters = listener.take(spans.map(_.id))
    val children = spans.groupBy(_.parent)
    def subtree(s: Span): List[Span] =
      s :: children.getOrElse(s.id, Nil).flatMap(subtree)
    val out = spans.map { s =>
      val tree = subtree(s).flatMap(x => counters.get(x.id))
      val busyMs = unionMs(tree.flatMap(_.jobIntervals), s.startMs, s.endMs)
      val m = SpanMetrics(
        wallS = s.wallS,
        driverS = math.max(0.0, s.wallS - busyMs / 1e3),
        taskS = tree.map(_.taskMs).sum / 1e3,
        gcS = tree.map(_.gcMs).sum / 1e3,
        shuffleMb = tree.map(_.shuffleBytes).sum / 1e6,
        spillMb = tree.map(_.spillBytes).sum / 1e6,
        outMb = tree.map(_.outBytes).sum / 1e6,
        jobs = tree.map(_.jobs).sum.toDouble)
      s -> m
    }
    out.foreach { case (s, m) => finished += ((iteration, s, m)) }
    out
  }

  /** Length of the union of `intervals` clipped to [lo, hi]. */
  private def unionMs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var end = lo
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
      }
    total
  }

  def close(): Unit = sc.removeSparkListener(listener)
}

object SpanTracer {
  val Prop = "flowbench.span"
}

/** Benchmark-side phase store: delegates every phase write to the
  * production store and opens one span, named by the layer the phase
  * belongs to, around it. */
final class TracedPhases(inner: OrthologPipeline.PhaseStore, tracer: Tracer,
                         layerOf: String => String)
    extends OrthologPipeline.PhaseStore {
  def apply(name: String, keys: Seq[String], df: DataFrame): DataFrame =
    tracer.span(layerOf(name))(inner(name, keys, df))
}
