package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.storage.RDDBlockId

/** One timed public call into a layer of the engine. */
final case class Span(
    id: Int,
    name: String,
    parent: Int,
    runId: String,
    startNs: Long,
    endNs: Long,
    iterations: Option[Int]) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/**
 * Times calls into the engine from outside and tags the Spark jobs each
 * call starts with the call's span name (a thread-local job property),
 * so a [[LayerListener]] can attribute Spark's counters to the layer
 * call that caused them. Spans are kept in memory; the caller writes
 * them out when the run ends.
 */
final class Tracer(sc: SparkContext, val runId: String) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 1
  private val rootId = 0

  def spans: Seq[Span] = done.toVector

  /** Time `body` as span `name`. */
  def span[T](name: String)(body: => T): T = record(name, body, (_: T) => None)

  /** Time a superstep call; `iters` reads the superstep count off its result. */
  def superstep[T](name: String)(iters: T => Int)(body: => T): T =
    record(name, body, (t: T) => Some(iters(t)))

  private def record[T](name: String, body: => T, iters: T => Option[Int]): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(rootId)
    val prevTag = sc.getLocalProperty(LayerListener.SpanKey)
    sc.setLocalProperty(LayerListener.SpanKey, name)
    val t0 = System.nanoTime()
    open = id :: open
    try {
      val out = body
      done += Span(id, name, parent, runId, t0, System.nanoTime(), iters(out))
      out
    } catch {
      case e: Throwable =>
        done += Span(id, name, parent, runId, t0, System.nanoTime(), None)
        throw e
    } finally {
      open = open.tail
      sc.setLocalProperty(LayerListener.SpanKey, prevTag)
    }
  }
}

/** Per-span Spark counters, summed over the jobs tagged with the span. */
final class SpanCounters {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  val jobMs = mutable.ArrayBuffer.empty[Long]
  /** Per submitted stage: (shuffle bytes read by each of its tasks). */
  val stageShuffleRead = mutable.LinkedHashMap.empty[Int, mutable.ArrayBuffer[Long]]
}

/**
 * Attributes job, stage, task, shuffle and spill counters to the span
 * whose tag the job carried. Events arrive on Spark's asynchronous
 * listener bus, so read the counters only after [[Drain]].
 */
final class LayerListener extends SparkListener {
  import LayerListener.SpanKey

  private val bySpan = mutable.HashMap.empty[String, SpanCounters]
  private val jobSpan = mutable.HashMap.empty[Int, (String, Long)]
  private val stageSpan = mutable.HashMap.empty[Int, String]
  private var events = 0L
  private var openJobs = 0

  private def counters(span: String) = bySpan.getOrElseUpdate(span, new SpanCounters)

  private def tagOf(p: java.util.Properties): Option[String] =
    Option(p).flatMap(pp => Option(pp.getProperty(SpanKey)))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    events += 1
    openJobs += 1
    tagOf(e.properties).foreach { s =>
      jobSpan(e.jobId) = (s, e.time)
      counters(s).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    events += 1
    openJobs -= 1
    jobSpan.remove(e.jobId).foreach { case (s, t0) => counters(s).jobMs += e.time - t0 }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    events += 1
    tagOf(e.properties).foreach { s =>
      stageSpan(e.stageInfo.stageId) = s
      val c = counters(s)
      c.stages += 1
      c.stageShuffleRead.getOrElseUpdate(e.stageInfo.stageId, mutable.ArrayBuffer.empty)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    events += 1
    for (s <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
      val c = counters(s)
      c.tasks += 1
      c.taskMs += m.executorRunTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.diskBytesSpilled
      c.outputBytes += m.outputMetrics.bytesWritten
      c.stageShuffleRead.get(e.stageId)
        .foreach(_ += m.shuffleReadMetrics.totalBytesRead)
    }
  }

  def snapshot(span: String): Option[SpanCounters] = synchronized(bySpan.get(span))

  /** (events seen, jobs still running). */
  def progress: (Long, Int) = synchronized((events, openJobs))
}

object LayerListener {
  val SpanKey = "perfbench.span"
}

/**
 * Bytes of cached data (RDD blocks, memory plus disk) held in the block
 * manager, tracked from block-update events, and the peak since the last
 * reset. Broadcast pieces are left out: they linger until the cleaner
 * collects them, so they would carry one run's leftovers into the next.
 */
final class StorageListener extends SparkListener {
  /** (executor, rdd id, block name) → bytes. */
  private val held = mutable.HashMap.empty[(String, Int, String), Long]
  private var current = 0L
  private var peakBytes = 0L
  private var events = 0L

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    events += 1
    val i = e.blockUpdatedInfo
    val key = i.blockId match {
      case b: RDDBlockId => (i.blockManagerId.executorId, b.rddId, b.name)
      case _ => return
    }
    val now = if (i.storageLevel.isValid) i.memSize + i.diskSize else 0L
    current += now - held.getOrElse(key, 0L)
    if (now == 0L) held.remove(key) else held(key) = now
    peakBytes = math.max(peakBytes, current)
  }

  /** Start a new peak from the blocks of the RDDs still persisted. */
  def resetPeak(live: Set[Int]): Unit = synchronized {
    held.keys.filterNot(k => live(k._2)).toSeq.foreach(held.remove)
    current = held.values.sum
    peakBytes = current
  }
  def peak: Long = synchronized(peakBytes)
  def progress: (Long, Int) = synchronized((events, 0))
}

object Drain {
  /** Wait until the listener bus has delivered everything posted so
   * far: poll a listener's (events seen, jobs still open) until it stops
   * moving for a few polls with no job open, instead of a fixed sleep
   * that either wastes time or reads too early. */
  def apply(progress: () => (Long, Int), timeoutS: Double = 20.0): Boolean = {
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    var prev = progress()
    var stable = 0
    while (stable < 3 && System.nanoTime() < deadline) {
      Thread.sleep(50)
      val cur = progress()
      stable = if (cur == prev && cur._2 == 0) stable + 1 else 0
      prev = cur
    }
    stable >= 3
  }
}
