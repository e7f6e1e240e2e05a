package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced interval. Spans of one run share `runId`; `parent` is the
  * enclosing span's id (-1 at the root). */
final case class Span(id: Int, runId: String, name: String, parent: Int,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Spans are opened from the benchmark's own
  * code around each call into a program layer; the Spark local property
  * `perfbench.span` carries the open span's name to the stages it runs,
  * so [[SparkMeter]] can attribute task metrics to layers. */
final class Tracer(val runId: String, sc: SparkContext) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[(Int, String)]
  val counts = scala.collection.mutable.LinkedHashMap.empty[String, Double]

  def span[T](name: String)(body: => T): T = {
    val id = spans.length
    val parent = stack.headOption.map(_._1).getOrElse(-1)
    spans += Span(id, runId, name, parent, System.nanoTime(), 0L)
    stack = (id, name) :: stack
    sc.setLocalProperty(SparkMeter.SpanKey, name)
    try body
    finally {
      spans(id) = spans(id).copy(endNs = System.nanoTime())
      stack = stack.tail
      sc.setLocalProperty(SparkMeter.SpanKey, stack.headOption.map(_._2).orNull)
    }
  }

  def count(name: String, v: Double): Unit = counts(name) = v

  def all: Seq[Span] = spans.toSeq

  /** Wall seconds of every span with this name, summed. */
  def seconds(name: String): Double =
    spans.iterator.filter(_.name == name).map(_.seconds).sum

  /** Span duration minus the part its child spans cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.iterator.filter(_.parent == s.id).map(_.seconds).sum

  def toJson: String = spans.map { s =>
    s"""{"id":${s.id},"run":"${s.runId}","name":"${s.name}","parent":${s.parent},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_s":${selfSeconds(s)}}"""
  }.mkString("[\n", ",\n", "\n]")
}

/** Spark listener measuring the runtime from outside the program:
  * task and stage totals, per-span task time, and peak storage memory
  * from block-manager updates. */
final class SparkMeter extends SparkListener {
  final class Totals {
    var stages = 0L
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var fetchWaitMs = 0L
    var spill = 0L
  }
  final class SpanTasks { var sumMs = 0L; var maxMs = 0L }

  @volatile var totals = new Totals
  private val bySpan = new ConcurrentHashMap[String, SpanTasks]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val blocks = new ConcurrentHashMap[String, java.lang.Long]()
  @volatile private var storageNow = 0L
  @volatile var storagePeak = 0L

  def reset(): Unit = synchronized {
    totals = new Totals
    bySpan.clear()
    storagePeak = storageNow
  }

  override def onStageSubmitted(ev: SparkListenerStageSubmitted): Unit = {
    val name = Option(ev.properties).flatMap(p =>
      Option(p.getProperty(SparkMeter.SpanKey)))
    name.foreach(stageSpan.put(ev.stageInfo.stageId, _))
  }

  override def onStageCompleted(ev: SparkListenerStageCompleted): Unit =
    synchronized { totals.stages += 1 }

  override def onTaskEnd(ev: SparkListenerTaskEnd): Unit = synchronized {
    val m = ev.taskMetrics
    val t = totals
    t.tasks += 1
    if (m != null) {
      t.runMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      t.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      Option(stageSpan.get(ev.stageId)).foreach { s =>
        val st = bySpan.computeIfAbsent(s, _ => new SpanTasks)
        st.sumMs += m.executorRunTime
        st.maxMs = math.max(st.maxMs, m.executorRunTime)
      }
    }
  }

  override def onBlockUpdated(ev: SparkListenerBlockUpdated): Unit = synchronized {
    val info = ev.blockUpdatedInfo
    val key = s"${info.blockManagerId.executorId}/${info.blockId.name}"
    val mem = info.memSize
    val prev = Option(blocks.put(key, mem)).map(_.longValue).getOrElse(0L)
    storageNow += mem - prev
    if (mem == 0L) blocks.remove(key)
    if (storageNow > storagePeak) storagePeak = storageNow
  }

  def spanTasks(name: String): Option[SpanTasks] = Option(bySpan.get(name))
}

object SparkMeter {
  val SpanKey = "perfbench.span"
}
