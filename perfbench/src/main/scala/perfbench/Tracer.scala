package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.GraftSparkInternals
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark counters for one span: every job, stage and task submitted while
  * the span was the innermost one open on the submitting thread.
  */
final class SpanCounters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  val taskMs = ArrayBuffer.empty[Long]
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var gcMs = 0L
  var bytesWritten = 0L
  val stageRecords = ArrayBuffer.empty[StageRecord]

  def +=(o: SpanCounters): this.type = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskMs ++= o.taskMs
    shuffleReadBytes += o.shuffleReadBytes; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; gcMs += o.gcMs; bytesWritten += o.bytesWritten
    stageRecords ++= o.stageRecords
    this
  }
}

/** One completed stage: whether it touches a persisted RDD (computes or
  * reads a cached frame), its wall-clock completion in epoch ms, and its
  * tasks' run times.
  */
final case class StageRecord(persisted: Boolean, completedMs: Long, taskMs: Seq[Long])

/** The benchmark's listener. It always tracks the bytes held in RDD
  * blocks (memory plus disk) and their peak; it attributes job, stage
  * and task counters to spans through the `perfbench.span` local
  * property, which only the traced mode sets.
  */
final class Counters extends SparkListener {
  import Counters.SpanProp

  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val stageTaskMs = new ConcurrentHashMap[Int, ArrayBuffer[Long]]()
  val bySpan = new ConcurrentHashMap[String, SpanCounters]()
  private val rddBlocks = mutable.HashMap.empty[String, Long]
  private var storedBytes = 0L
  @volatile private var peakBytes = 0L

  private def counters(span: String): SpanCounters =
    bySpan.computeIfAbsent(span, _ => new SpanCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
      .foreach(s => counters(s).synchronized(counters(s).jobs += 1))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp))).foreach { s =>
      stageSpan.put(e.stageInfo.stageId, s)
      val c = counters(s)
      c.synchronized(c.stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { s =>
      val c = counters(s)
      val m = e.taskMetrics
      if (m != null) c.synchronized {
        c.tasks += 1
        c.taskMs += m.executorRunTime
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.diskBytesSpilled
        c.gcMs += m.jvmGCTime
        c.bytesWritten += m.outputMetrics.bytesWritten
        stageTaskMs.computeIfAbsent(e.stageId, _ => ArrayBuffer.empty[Long]) +=
          m.executorRunTime
      }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    Option(stageSpan.get(info.stageId)).foreach { s =>
      val rec = StageRecord(info.rddInfos.exists(_.storageLevel.isValid),
        info.completionTime.getOrElse(0L),
        Option(stageTaskMs.remove(info.stageId)).map(_.toSeq).getOrElse(Nil))
      val c = counters(s)
      c.synchronized(c.stageRecords += rec)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) synchronized {
      val id = info.blockId.name
      val now = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      storedBytes += now - rddBlocks.getOrElse(id, 0L)
      if (now == 0L) rddBlocks.remove(id) else rddBlocks(id) = now
      peakBytes = math.max(peakBytes, storedBytes)
    }
  }

  private var baseBytes = 0L

  /** Start a new window at the bytes stored now. */
  def resetPeak(): Unit = synchronized { baseBytes = storedBytes; peakBytes = storedBytes }

  /** The most bytes stored at once since [[resetPeak]], above what was
    * stored when the window started.
    */
  def peakAddedBytes: Long = synchronized(peakBytes - baseBytes)
}

object Counters {
  val SpanProp = "perfbench.span"
}

final case class Span(id: Int, name: String, parent: Int, startNs: Long,
                      startMs: Long, var endNs: Long = 0L) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory spans around the benchmark's calls into the program's layers.
  * Counters are drained from the listener bus when a span closes, after
  * its end time is taken.
  */
final class Tracer(spark: SparkSession, val counters: Counters) {
  val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private val sc = spark.sparkContext
  private val prefix = s"${Tracer.next()}/"
  private def key(id: Int) = prefix + id

  def span[T](name: String)(body: => T): T = {
    val id = spans.size
    spans += Span(id, name, open.headOption.getOrElse(-1), System.nanoTime(),
      System.currentTimeMillis())
    open = id :: open
    sc.setLocalProperty(Counters.SpanProp, key(id))
    try body
    finally {
      spans(id).endNs = System.nanoTime()
      open = open.tail
      sc.setLocalProperty(Counters.SpanProp, open.headOption.map(key).orNull)
      GraftSparkInternals.drainListenerBus(sc)
    }
  }

  def countersOf(s: Span): SpanCounters =
    Option(counters.bySpan.get(key(s.id))).getOrElse(new SpanCounters)

  def children(s: Span): Seq[Span] = spans.iterator.filter(_.parent == s.id).toSeq

  /** Span duration minus the part its children cover (children of one
    * span never overlap: one thread runs them one after another).
    */
  def selfMs(s: Span): Double = s.ms - children(s).map(_.ms).sum

  /** The span and all spans below it. */
  def subtree(s: Span): Seq[Span] = s +: children(s).flatMap(subtree)
}

object Tracer {
  private val created = new java.util.concurrent.atomic.AtomicInteger()
  private def next(): Int = created.incrementAndGet()
}
