package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.storage.RDDBlockId

/** One timed call: `layer` is the module the call enters ("driver" for
  * the benchmark's own glue: passes and jobs). Times are wall-clock
  * milliseconds (the clock Spark stamps its job events with) plus a
  * nanosecond duration. */
final case class Span(id: Int, parent: Int, name: String, layer: String,
    startMs: Long, startNs: Long, var endMs: Long = 0L, var endNs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder for the single submitting thread. The
  * innermost open span's layer is published for the listeners, and,
  * while [[tagJobs]] is on, as the `perfbench.layer` local property, so
  * every Spark job is attributed to the layer that started it (stream
  * execution threads inherit the property from the thread that started
  * the query). */
final class Tracer(sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  @volatile var layer: String = "driver"
  private var tag = false

  def span[T](name: String, layer: String)(body: => T): T = {
    val s = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), name,
      layer, System.currentTimeMillis(), System.nanoTime())
    spans += s
    stack ::= s
    enter(layer)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      stack = stack.tail
      enter(stack.headOption.map(_.layer).getOrElse("driver"))
    }
  }

  /** Runs `body` in a span and returns the finished span. */
  def timed(name: String, layer: String)(body: => Unit): Span = {
    var s: Span = null
    span(name, layer) { s = spans.last; body }
    s
  }

  private def enter(l: String): Unit = {
    layer = l
    if (tag) sc.setLocalProperty(Tracer.LayerKey, l)
  }

  /** Starts or stops tagging jobs with the current layer. */
  def tagJobs(on: Boolean): Unit = {
    tag = on
    sc.setLocalProperty(Tracer.LayerKey, if (on) layer else null)
  }

  def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  /** Spans below `root`, root included. */
  def subtree(root: Span): Seq[Span] = {
    val out = mutable.ArrayBuffer(root)
    var i = 0
    while (i < out.size) { out ++= children(out(i).id); i += 1 }
    out.toSeq
  }

  /** The part of `s` not covered by its children, as [start, end) ms. */
  def selfIntervals(s: Span): Seq[(Long, Long)] =
    Intervals.minus(Seq((s.startMs, s.endMs)),
      children(s.id).map(c => (c.startMs, c.endMs)))

  def selfSeconds(s: Span): Double =
    s.seconds - children(s.id).map(_.seconds).sum
}

object Tracer {
  val LayerKey = "perfbench.layer"
}

object Intervals {
  /** `a` minus the union of `b`; both as [start, end) pairs. */
  def minus(a: Seq[(Long, Long)], b: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val cuts = b.filter { case (s, e) => e > s }.sortBy(_._1)
    a.flatMap { case (s0, e0) =>
      var out = List.empty[(Long, Long)]
      var cur = s0
      cuts.foreach { case (s, e) =>
        if (e > cur && s < e0) {
          if (s > cur) out ::= ((cur, math.min(s, e0)))
          cur = math.max(cur, e)
        }
      }
      if (cur < e0) out ::= ((cur, e0))
      out.reverse
    }
  }

  def length(a: Seq[(Long, Long)]): Long = a.map { case (s, e) => e - s }.sum
}

/** Per-layer totals of the Spark work a layer's jobs did. */
final class LayerAgg {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var execCpuNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var blocksWritten = 0L
  var bytesWritten = 0L
  var liveBytes = 0L
  var peakBytes = 0L
}

/** The benchmark's SparkListener. Block-manager occupancy (memory plus
  * disk of the stored RDD blocks: persisted and checkpointed data) is
  * always tracked, because `peak_storage_mb` is an end-to-end metric;
  * broadcast pieces are left out, since the cleaner drops them when a
  * driver GC happens to collect their handles. Job, stage and task
  * totals per layer are kept only while `tracing` is on. */
final class Probe(tracer: Tracer) extends SparkListener {
  @volatile var tracing = false
  private val blocks = mutable.HashMap.empty[String, Long]
  private val rddLayer = mutable.HashMap.empty[Int, String]
  private val stageLayer = mutable.HashMap.empty[Int, String]
  private val layers = mutable.HashMap.empty[String, LayerAgg]
  private val jobLayer = mutable.HashMap.empty[Int, (String, Long)]
  /** (startMs, endMs, layer) of every job finished while tracing. */
  val jobs = mutable.ArrayBuffer.empty[(Long, Long, String)]
  private var live = 0L
  private var peak = 0L
  var unpersistRequests = 0L
  var unpersistUseful = 0L
  @volatile private var drainLatch: java.util.concurrent.CountDownLatch = null
  @volatile private var drainJob = -1

  def agg(layer: String): LayerAgg = synchronized {
    layers.getOrElseUpdate(layer, new LayerAgg)
  }

  def resetPeak(): Unit = synchronized { peak = live }
  def peakBytes: Long = synchronized { peak }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    synchronized {
      val info = e.blockUpdatedInfo
      info.blockId match {
        case RDDBlockId(rdd, _) =>
          val id = info.blockId.name
          val bytes =
            if (info.storageLevel.isValid) info.memSize + info.diskSize
            else 0L
          val prev = blocks.getOrElse(id, 0L)
          if (bytes > 0) blocks(id) = bytes else blocks.remove(id)
          live += bytes - prev
          peak = math.max(peak, live)
          val a = layers.getOrElseUpdate(
            rddLayer.getOrElseUpdate(rdd, tracer.layer), new LayerAgg)
          if (tracing && prev == 0 && bytes > 0) a.blocksWritten += 1
          if (tracing && bytes > prev) a.bytesWritten += bytes - prev
          a.liveBytes += bytes - prev
          a.peakBytes = math.max(a.peakBytes, a.liveBytes)
        case _ => ()
      }
    }

  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit =
    synchronized {
      if (tracing) {
        unpersistRequests += 1
        if (blocks.keysIterator.exists(_.startsWith(s"rdd_${e.rddId}_")))
          unpersistUseful += 1
      }
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val l =
      if (props.exists(_.getProperty("spark.jobGroup.id") == Probe.DrainGroup)) {
        drainJob = e.jobId
        "drain"
      } else props.flatMap(p => Option(p.getProperty(Tracer.LayerKey)))
        .getOrElse(tracer.layer)
    jobLayer(e.jobId) = (l, e.time)
    e.stageIds.foreach(s => stageLayer(s) = l)
    if (tracing && l != "drain") layers.getOrElseUpdate(l, new LayerAgg).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    synchronized {
      jobLayer.remove(e.jobId).foreach { case (l, start) =>
        if (tracing && l != "drain") jobs += ((start, e.time, l))
      }
    }
    if (e.jobId == drainJob && drainLatch != null) drainLatch.countDown()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      if (tracing) {
        val a = layers.getOrElseUpdate(
          stageLayer.getOrElse(e.stageInfo.stageId, tracer.layer),
          new LayerAgg)
        a.stages += 1
        a.tasks += e.stageInfo.numTasks
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (tracing && m != null) {
      val a = layers.getOrElseUpdate(
        stageLayer.getOrElse(e.stageId, tracer.layer), new LayerAgg)
      a.execCpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.inputBytes += m.inputMetrics.bytesRead
      a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten +
        m.shuffleReadMetrics.totalBytesRead
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Runs a one-task job and waits until this listener has seen it
    * end: every event posted before it has then been delivered. */
  def drain(sc: SparkContext): Unit = {
    val latch = new java.util.concurrent.CountDownLatch(1)
    drainLatch = latch
    sc.setJobGroup(Probe.DrainGroup, "listener drain")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    latch.await(30, java.util.concurrent.TimeUnit.SECONDS)
  }
}

object Probe {
  val DrainGroup = "perfbench-drain"
}

/** Micro-batch progress totals from the streaming queries. */
final class StreamProbe extends StreamingQueryListener {
  @volatile var tracing = false
  var batches = 0L
  private val durations = mutable.HashMap.empty[String, Long]
  var stateCommitMs = 0L
  var stateBytesPeak = 0L

  def durationMs(k: String): Long = synchronized(durations.getOrElse(k, 0L))

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    if (tracing) {
      val p = e.progress
      batches += 1
      p.durationMs.forEach((k, v) =>
        durations(k) = durations.getOrElse(k, 0L) + v.longValue)
      p.stateOperators.foreach { s =>
        stateCommitMs += s.commitTimeMs
        stateBytesPeak = math.max(stateBytesPeak, s.memoryUsedBytes)
      }
    }
  }
}

/** Counts the storage-lifecycle warnings Spark logs. */
final class WarnCounter extends AbstractAppender("perfbench-warnings", null,
    null, true, Property.EMPTY_ARRAY) {
  val missingBlock = new AtomicLong
  val unrecomputable = new AtomicLong
  @volatile var tracing = false

  override def append(e: LogEvent): Unit = if (tracing) {
    val m = e.getMessage.getFormattedMessage
    if (m.contains("Asked to remove block") && m.contains("does not exist"))
      missingBlock.incrementAndGet()
    if (m.contains("cannot be recomputed")) unrecomputable.incrementAndGet()
  }

  def install(): Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    start()
    ctx.getConfiguration.addAppender(this)
    ctx.getRootLogger.addAppender(this)
  }

  def uninstall(): Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getRootLogger.removeAppender(this)
    stop()
  }
}
