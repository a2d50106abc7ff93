package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.util.LongAccumulator

import graft.model.FrameElem
import graft.sources.GopCodec

/** Spans of the traced run. Driver-side spans nest on the one client
  * thread; executor-side spans (codec and kernel calls inside tasks) take
  * the innermost open driver span as parent. Local mode runs executors in
  * this JVM, so both kinds land in one in-memory buffer, written out when
  * the run ends. Off by default: an untraced run records nothing.
  */
object Trace {
  final case class Span(id: Long, parent: Long, name: String, thread: String,
      startNs: Long, endNs: Long, op: Long)

  @volatile var on = false
  @volatile private var current = 0L
  @volatile private var currentOp = -1L
  private val ids   = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()

  def reset(): Unit = { spans.clear(); current = 0L; currentOp = -1L }
  def all: Seq[Span] = spans.asScala.toSeq

  /** driver-side span around `body`; `op` >= 0 starts a new operation
    * (request id on frame_fetch) that every span below it carries */
  def span[T](name: String, op: Long = -1L)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val (parent, parentOp) = (current, currentOp)
      current = id
      if (op >= 0) currentOp = op
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, name, Thread.currentThread.getName, t0,
          System.nanoTime(), currentOp))
        current = parent; currentOp = parentOp
      }
    }

  /** executor-side span that already ran from t0 to t1 */
  def record(name: String, t0: Long, t1: Long): Unit =
    if (on) spans.add(Span(ids.incrementAndGet(), current, name,
      Thread.currentThread.getName, t0, t1, currentOp))

  /** Layer table: per span name, calls and total and self milliseconds per
    * operation. Self time is the span's duration minus the union of the
    * intervals its children cover inside it.
    */
  def layerTable(ss: Seq[Span], ops: Int): Seq[(String, Long, Double, Double)] = {
    val kids = ss.groupBy(_.parent)
    def selfNs(s: Span): Long = {
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var end = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a >= end) { covered += b - a; end = b }
        else if (b > end) { covered += b - end; end = b }
      }
      (s.endNs - s.startNs) - covered
    }
    val n = math.max(1, ops).toDouble
    ss.groupBy(_.name).toSeq.map { case (name, g) =>
      (name, g.size.toLong, g.map(s => s.endNs - s.startNs).sum / 1e6 / n,
        g.map(selfNs).sum / 1e6 / n)
    }.sortBy(-_._3)
  }

  def renderTable(rows: Seq[(String, Long, Double, Double)]): String =
    (f"${"span"}%-28s ${"calls"}%8s ${"total_ms/op"}%12s ${"self_ms/op"}%12s" +:
      rows.map { case (n, c, t, s) => f"$n%-28s $c%8d $t%12.2f $s%12.2f" }).mkString("\n")

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Chrome trace-event file: one complete event per span, one row per
    * thread; open in chrome://tracing or ui.perfetto.dev */
  def writeChrome(ss: Seq[Span], path: java.nio.file.Path): Unit = {
    val t0   = if (ss.isEmpty) 0L else ss.map(_.startNs).min
    val tids = ss.map(_.thread).distinct.zipWithIndex.toMap
    val meta = tids.toSeq.map { case (t, i) =>
      s"""{"name":"thread_name","ph":"M","pid":1,"tid":$i,"args":{"name":${jsonStr(t)}}}"""
    }
    val evs = ss.sortBy(_.startNs).map { s =>
      s"""{"name":${jsonStr(s.name)},"cat":${jsonStr(s.name.takeWhile(_ != '.'))},""" +
        s""""ph":"X","ts":${(s.startNs - t0) / 1000.0},"dur":${(s.endNs - s.startNs) / 1000.0},""" +
        s""""pid":1,"tid":${tids(s.thread)},"args":{"id":${s.id},"parent":${s.parent},"op":${s.op}}}"""
    }
    java.nio.file.Files.write(path,
      (meta ++ evs).mkString("[\n", ",\n", "\n]\n").getBytes("UTF-8"))
  }
}

/** Executor-side accumulators of the traced run (time in nanoseconds). */
final class LayerAccs(@transient sc: SparkContext) extends Serializable {
  private def acc(n: String): LongAccumulator = sc.longAccumulator(n)
  val encodeNs     = acc("encodeNs")
  val encodeGops   = acc("encodeGops")
  val decodeNs     = acc("decodeNs")
  val decodeFrames = acc("decodeFrames")
  val decodeGops   = acc("decodeGops")
  val histNs       = acc("histNs")
  val ahashNs      = acc("ahashNs")
  val sharpNs      = acc("sharpNs")
  val strideRows   = acc("strideRows")
}

/** Delegating codec that times every encodeGop/decodeGop call. Decoded
  * frames are materialized inside the timed call so the span covers the
  * colour conversion the wrapped codec defers to its iterator.
  */
final class TimingCodec(inner: GopCodec, accs: LayerAccs) extends GopCodec {
  override def cpuBoundDecode: Boolean = inner.cpuBoundDecode

  override def encodeGop(frames: Seq[FrameElem]): Array[Byte] = {
    val t0 = System.nanoTime()
    val out = inner.encodeGop(frames)
    val t1 = System.nanoTime()
    accs.encodeNs.add(t1 - t0); accs.encodeGops.add(1)
    Trace.record("sources.encode", t0, t1)
    out
  }

  override def decodeGop(payload: Array[Byte], streamId: Long, startIndex: Long,
      upTo: Int, decoded: Option[LongAccumulator]): Iterator[FrameElem] = {
    val t0 = System.nanoTime()
    val out = inner.decodeGop(payload, streamId, startIndex, upTo, decoded).toVector
    val t1 = System.nanoTime()
    accs.decodeNs.add(t1 - t0); accs.decodeGops.add(1); accs.decodeFrames.add(out.size)
    Trace.record("sources.decode", t0, t1)
    out.iterator
  }
}

/** Spark listener counters of the traced run, plus task time grouped by the
  * library's `Profiler.attributed` job labels. */
final class SparkCounters extends SparkListener {
  var jobs, stages, tasks, taskFailures = 0L
  var taskMs, waitMs, gcMs, shuffleWriteBytes, spillBytes = 0L
  val opTaskMs   = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val stageLabel = mutable.Map.empty[Int, String]
  @volatile private var lastEventNs = System.nanoTime()

  private def touch(): Unit = lastEventNs = System.nanoTime()

  def reset(): Unit = synchronized {
    jobs = 0; stages = 0; tasks = 0; taskFailures = 0
    taskMs = 0; waitMs = 0; gcMs = 0; shuffleWriteBytes = 0; spillBytes = 0
    opTaskMs.clear()
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    val desc = Option(j.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
    val label = desc.filter(_.startsWith("graft:")).map(_.stripPrefix("graft:")).getOrElse("final")
    j.stageIds.foreach(stageLabel(_) = label)
    touch()
  }
  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1; touch()
  }
  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    if (t.taskInfo != null && t.taskInfo.failed) taskFailures += 1
    val m = t.taskMetrics
    if (m != null) {
      val run = m.executorRunTime
      taskMs += run
      gcMs += m.jvmGCTime
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      // scheduler delay (wall not spent deserializing, running or
      // serializing the result) plus time blocked on shuffle fetches
      val delay = if (t.taskInfo == null) 0L else math.max(0L,
        t.taskInfo.duration - run - m.executorDeserializeTime - m.resultSerializationTime)
      waitMs += delay + m.shuffleReadMetrics.fetchWaitTime
      opTaskMs(stageLabel.getOrElse(t.stageId, "final")) += run
    }
    touch()
  }

  /** the listener bus is asynchronous: wait until it has been quiet for
    * 300 ms (at most 10 s) so counters cover every finished job */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (System.nanoTime() - lastEventNs < 300L * 1000 * 1000 && System.nanoTime() < deadline)
      Thread.sleep(50)
  }
}
