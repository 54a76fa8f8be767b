package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, DoubleAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The traced run's recorder: spans around each call the harness makes
  * into a layer of the engine, counters at the same boundaries, and the
  * per-layer Spark statistics that the listeners attribute to the span
  * open when a job was submitted.
  *
  * Everything is held in memory and written out once at the end. With
  * tracing off `span` and `count` are plain calls and no listener is
  * registered, so an untraced run makes the same calls into the engine.
  *
  * A traced run measures its own overhead: its timed window alternates
  * traced and paused stretches (no spans, so no layer for Spark to
  * attribute to), and the window's replies are split between the two.
  */
final class Trace(val enabled: Boolean) {
  import Trace._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val nextId = new AtomicInteger(1)
  private val open = new ThreadLocal[List[Int]] { override def initialValue: List[Int] = Nil }
  private val counters = new ConcurrentHashMap[String, DoubleAdder]()
  private val maxima = new ConcurrentHashMap[String, Double]()
  @volatile private var sc: SparkContext = _
  @volatile private var paused = false
  private val pauses = mutable.ArrayBuffer((0L, false))

  /** Pause (or resume) the spans from now on; a no-op when untraced. */
  def pause(p: Boolean): Unit =
    if (enabled) pauses.synchronized { paused = p; pauses += ((System.nanoTime(), p)) }

  /** Whether the spans were paused at `ns` (a `System.nanoTime`). */
  def pausedAt(ns: Long): Boolean = pauses.synchronized(pauses.findLast(_._1 <= ns).exists(_._2))

  /** Time `f` as a span named `name`, child of the span open on this
    * thread. Spark jobs submitted inside it are attributed to `layer`.
    */
  def span[T](name: String, layer: String = null)(f: => T): T =
    if (!enabled || paused) f
    else {
      val id = nextId.getAndIncrement()
      val parent = open.get.headOption.getOrElse(0)
      val prevLayer = if (sc != null && layer != null) sc.getLocalProperty(LayerKey) else null
      if (sc != null && layer != null) sc.setLocalProperty(LayerKey, layer)
      open.set(id :: open.get)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        open.set(open.get.tail)
        if (sc != null && layer != null) sc.setLocalProperty(LayerKey, prevLayer)
        spans.synchronized { spans += Span(id, parent, name, t0, t1) }
      }
    }

  def count(name: String, v: Double): Unit =
    if (enabled) counters.computeIfAbsent(name, _ => new DoubleAdder).add(v)

  private def maxInto(name: String, v: Double): Unit =
    maxima.merge(name, v, (a, b) => math.max(a, b))

  def counter(name: String): Double =
    Option(counters.get(name)).map(_.sum).getOrElse(0.0)

  /** Register the Spark listeners (traced runs only). */
  def attach(context: SparkContext): Unit =
    if (enabled) {
      sc = context
      context.addSparkListener(new JobListener)
    }

  def allSpans: Seq[Span] = spans.synchronized(spans.toList)

  /** How many spans named `name` were recorded. */
  def spanCount(name: String): Int = allSpans.count(_.name == name)

  /** Self time per span name, in seconds: each span's duration minus the
    * part of its interval its children cover.
    */
  def selfSeconds: Map[String, Double] = {
    val all = allSpans
    val children = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map { s =>
        val covered = union(children.getOrElse(s.id, Nil).map(c => (c.start, c.end)))
        (s.end - s.start - covered).toDouble / 1e9
      }.sum
    }
  }

  // ---- Spark attribution ------------------------------------------------

  private val stageLayer = new ConcurrentHashMap[Int, String]()
  private val stageTasks = new ConcurrentHashMap[Int, java.util.List[java.lang.Long]]()

  private def layerOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(LayerKey))).getOrElse("other")

  private final class JobListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val layer = layerOf(e.properties)
      count(s"$layer.jobs", 1)
      e.stageInfos.foreach(s => stageLayer.put(s.stageId, layer))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val layer = stageLayer.getOrDefault(e.stageId, "other")
      val m = e.taskMetrics
      count(s"$layer.tasks", 1)
      if (m != null) {
        count(s"$layer.executor_cpu_s", m.executorCpuTime / 1e9)
        count(s"$layer.gc_s", m.jvmGCTime / 1e3)
        count(s"$layer.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        count(s"$layer.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        count(s"$layer.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        count(s"$layer.bytes_written", m.outputMetrics.bytesWritten.toDouble)
      }
      val ts = stageTasks.computeIfAbsent(e.stageId, _ => new java.util.ArrayList[java.lang.Long]())
      ts.synchronized(ts.add(e.taskInfo.duration))
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val id = e.stageInfo.stageId
      val layer = stageLayer.getOrDefault(id, "other")
      Option(stageTasks.remove(id)).foreach { ts =>
        val d = ts.synchronized(ts.asScala.map(_.longValue).sorted.toIndexedSeq)
        if (d.nonEmpty && d(d.size / 2) > 0)
          maxInto(s"$layer.task_skew", d.last.toDouble / d(d.size / 2))
      }
    }

    // Streaming progress is posted on the shared listener bus by every
    // session, including the per-query sessions the engine creates
    // itself, which a listener registered on one session never sees.
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case p: StreamingQueryListener.QueryProgressEvent => streams.onQueryProgress(p)
      case _ => ()
    }
  }

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def ms(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0) / 1e3
      count("stream.triggers", 1)
      count("stream.trigger_s", ms("triggerExecution"))
      count("stream.addbatch_s", ms("addBatch"))
      count("stream.walcommit_s", ms("walCommit"))
      maxInto("stream.state_bytes", p.stateOperators.map(_.memoryUsedBytes.toDouble).sum)
    }
  }

  def maximum(name: String): Double = maxima.getOrDefault(name, 0.0)
}

object Trace {
  val LayerKey = "perfbench.layer"

  final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long)

  /** Total length covered by a set of intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    total + (curE - curS)
  }
}
