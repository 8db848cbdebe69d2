package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One recorded span: a timed call into one module, with the counts the
  * benchmark took at the same boundary. Times are nanoseconds on the
  * JVM's monotonic clock.
  */
final class SpanRec(val id: Int, val name: String, val parent: Int,
                    val runId: String, val start: Long) {
  var end = 0L
  /** Wall-clock bounds (ms), comparable with Spark task times. */
  val startMs: Long = System.currentTimeMillis()
  var endMs = 0L
  val counts = mutable.LinkedHashMap.empty[String, Double]
}

/** Task-level resource use of the jobs one span submitted. */
final class SpanRes {
  var jobs = 0
  var tasks = 0
  var failedTasks = 0
  var cpuNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
  /** (launch, finish) wall-clock ms of every task, for the part of a
    * span with no task running.
    */
  val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** In-memory span recorder. Each span sets the Spark job group of the
  * calling thread to its own id, so [[SpanListener]] can attribute every
  * job (and its tasks) to the innermost open span. Spans are written out
  * once, when the benchmark ends.
  */
final class Tracer(sc: SparkContext, val runId: String) {
  val spans = mutable.ArrayBuffer.empty[SpanRec]
  private val stack = mutable.Stack.empty[SpanRec]
  val listener = new SpanListener
  sc.addSparkListener(listener)

  def span[T](name: String)(body: SpanRec => T): T = {
    val parent = stack.headOption.map(_.id).getOrElse(-1)
    val rec = new SpanRec(spans.size, name, parent, runId, System.nanoTime())
    spans += rec
    stack.push(rec)
    sc.setJobGroup(s"span-${rec.id}", name, interruptOnCancel = false)
    try body(rec)
    finally {
      rec.end = System.nanoTime()
      rec.endMs = System.currentTimeMillis()
      stack.pop()
      stack.headOption match {
        case Some(p) => sc.setJobGroup(s"span-${p.id}", p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  def wallS(s: SpanRec): Double = (s.end - s.start) / 1e9

  /** Span duration minus the part of it its child spans cover. */
  def selfS(s: SpanRec): Double =
    ((s.end - s.start) -
      Tracer.unionLength(spans.toSeq.filter(_.parent == s.id).map(k => (k.start, k.end)))) / 1e9

  /** The span and every span below it. */
  def subtree(s: SpanRec): Seq[SpanRec] =
    s +: spans.toSeq.filter(_.parent == s.id).flatMap(subtree)

  def stop(): Unit = sc.removeSparkListener(listener)
}

object Tracer {
  /** Total length covered by a set of (start, end) intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    covered
  }
}

/** Attributes job/task metrics to spans through the job group property. */
final class SpanListener extends SparkListener {
  private val stageSpan = scala.collection.concurrent.TrieMap.empty[Int, Int]
  val bySpan = new ConcurrentHashMap[Int, SpanRes]()

  /** Block id -> bytes held (memory + disk), for peak storage use. */
  private val blocks = new ConcurrentHashMap[String, Long]()
  @volatile var storageBytes = 0L
  @volatile var peakStorageBytes = 0L

  private def res(span: Int): SpanRes = bySpan.computeIfAbsent(span, _ => new SpanRes)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.filter(_.startsWith("span-")).foreach { id =>
      val span = id.stripPrefix("span-").toInt
      e.stageIds.foreach(stageSpan.put(_, span))
      res(span).synchronized { res(span).jobs += 1 }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val span = stageSpan.get(e.stageId)
    if (span.isEmpty || e.taskInfo == null) return
    val r = res(span.get)
    r.synchronized {
      r.tasks += 1
      if (!e.taskInfo.successful) r.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        r.cpuNs += m.executorCpuTime
        r.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        r.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
      r.taskMs += e.taskInfo.duration
      r.intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    val key = info.blockId.name
    val now = info.memSize + info.diskSize
    val before = Option(blocks.get(key)).map(_.longValue).getOrElse(0L)
    if (now == 0) blocks.remove(key) else blocks.put(key, now)
    storageBytes += now - before
    peakStorageBytes = math.max(peakStorageBytes, storageBytes)
  }

  def resetPeakStorage(): Unit = synchronized { peakStorageBytes = storageBytes }

  def allRes: Map[Int, SpanRes] = bySpan.asScala.toMap.map { case (k, v) => k.intValue -> v }
}
