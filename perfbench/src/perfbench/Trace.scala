package perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.jdk.CollectionConverters._

/** Task-level counters summed per span. */
final class SpanStats {
  var jobs = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  var outputRecords = 0L
  var outputTaskRunMs = 0L

  def add(o: SpanStats): Unit = {
    jobs += o.jobs; tasks += o.tasks; taskRunMs += o.taskRunMs
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    outputBytes += o.outputBytes; outputRecords += o.outputRecords
    outputTaskRunMs += o.outputTaskRunMs
  }
}

/** Listener registered on the benchmark's own session. It attributes every
  * job to the span named in the job's local property [[Listener.SpanKey]]
  * (empty when no span is open, as in untraced runs), sums task metrics per
  * span, and counts the bytes of RDD blocks put into the block store.
  */
final class Listener extends SparkListener {
  private val stats = new ConcurrentHashMap[String, SpanStats]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val blocksSeen = ConcurrentHashMap.newKeySet[String]()
  @volatile private var blockBytes = 0L

  private def of(span: String): SpanStats = stats.computeIfAbsent(span, _ => new SpanStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Listener.SpanKey))).getOrElse("")
    e.stageIds.foreach(stageSpan.put(_, span))
    of(span).synchronized(of(span).jobs += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val s = of(stageSpan.getOrDefault(e.stageId, ""))
      s.synchronized {
        s.tasks += 1
        s.taskRunMs += m.executorRunTime
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        val out = m.outputMetrics.bytesWritten
        if (out > 0) {
          s.outputBytes += out
          s.outputRecords += m.outputMetrics.recordsWritten
          s.outputTaskRunMs += m.executorRunTime
        }
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD && info.storageLevel.isValid && blocksSeen.add(info.blockId.name))
      synchronized(blockBytes += info.memSize + info.diskSize)
    else if (info.blockId.isRDD && !info.storageLevel.isValid) blocksSeen.remove(info.blockId.name)
  }

  /** Totals per span, and over all spans under the key "". */
  def snapshot(): (Map[String, SpanStats], Long) = {
    val per = stats.asScala.map { case (k, v) =>
      val c = new SpanStats; v.synchronized(c.add(v)); k -> c
    }.toMap
    val all = new SpanStats
    per.values.foreach(all.add)
    (per + ("*" -> all), synchronized(blockBytes))
  }
}

object Listener {
  val SpanKey = "perfbench.span"

  /** Block until every event posted so far has reached the listeners. */
  def drain(sc: SparkContext): Unit = org.apache.spark.PerfbenchBridge.drainListenerBus(sc)
}

/** Counters of one measured stretch: the differences between two
  * [[Listener.snapshot]]s.
  */
final case class Delta(stats: Map[String, SpanStats], blockBytes: Long) {
  def span(name: String): SpanStats = stats.getOrElse(name, new SpanStats)
  def total: SpanStats = span("*")
}

object Delta {
  def between(a: (Map[String, SpanStats], Long), b: (Map[String, SpanStats], Long)): Delta = {
    val out = b._1.map { case (k, vb) =>
      val va = a._1.getOrElse(k, new SpanStats)
      val d = new SpanStats
      d.jobs = vb.jobs - va.jobs; d.tasks = vb.tasks - va.tasks; d.taskRunMs = vb.taskRunMs - va.taskRunMs
      d.shuffleWriteBytes = vb.shuffleWriteBytes - va.shuffleWriteBytes
      d.spillBytes = vb.spillBytes - va.spillBytes
      d.outputBytes = vb.outputBytes - va.outputBytes
      d.outputRecords = vb.outputRecords - va.outputRecords
      d.outputTaskRunMs = vb.outputTaskRunMs - va.outputTaskRunMs
      k -> d
    }
    Delta(out, b._2 - a._2)
  }
}

/** Wall time and JVM GC time of one span; task counters come from the
  * listener under the same name.
  */
final case class SpanTime(name: String, wallS: Double, gcS: Double)

/** Opens spans around calls into the program's layers. */
final class Tracer(sc: SparkContext) {
  private val spans = Vector.newBuilder[SpanTime]

  private def gcMs: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def span[A](name: String)(body: => A): A = {
    val prev = sc.getLocalProperty(Listener.SpanKey)
    sc.setLocalProperty(Listener.SpanKey, name)
    val g0 = gcMs
    val t0 = System.nanoTime()
    try body
    finally {
      spans += SpanTime(name, (System.nanoTime() - t0) / 1e9, (gcMs - g0) / 1e3)
      sc.setLocalProperty(Listener.SpanKey, prev)
    }
  }

  def result(): Vector[SpanTime] = spans.result()
}
