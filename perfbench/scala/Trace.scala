package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong
import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer's public function. `request` is the
  * request (or ingest pass) it served, −1 outside requests.
  */
final case class Span(id: Int, name: String, parent: Int, phase: String,
                      request: Int, startNs: Long, var endNs: Long = 0L) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans kept in memory and written out at the end. While a span is
  * open, the Spark job group names it, so [[TaskTotals]] can attribute
  * task metrics to it. Disabled, every call is a plain pass-through.
  */
final class Tracer(val on: Boolean, sc: SparkContext) {
  var enabled: Boolean = on
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private var current = "setup"
  private val t0 = System.nanoTime()
  def phase: String = current
  /** Enters a benchmark phase; the log records when. */
  def phase_=(p: String): Unit = {
    System.err.println(f"perfbench: phase $p at ${(System.nanoTime() - t0) / 1e9}%.1f s")
    current = p
  }
  var request = -1

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.length, name, open.headOption.fold(-1)(_.id), phase,
        request, System.nanoTime())
      spans += s
      open = s :: open
      sc.setJobGroup(s"span-${s.id}", name)
      try body
      finally {
        s.endNs = System.nanoTime()
        open = open.tail
        open.headOption match {
          case Some(p) => sc.setJobGroup(s"span-${p.id}", p.name)
          case None    => sc.clearJobGroup()
        }
      }
    }

  def named(name: String, phase: String): Seq[Span] =
    spans.iterator.filter(s => s.name == name && s.phase == phase).toSeq

  /** Per span name: total duration minus the part its child spans
    * cover (children of one span run one after another).
    */
  def selfMs(phase: String): Map[String, Double] = {
    val childMs = mutable.Map.empty[Int, Double].withDefaultValue(0.0)
    spans.foreach(s => if (s.parent >= 0) childMs(s.parent) += s.ms)
    spans.filter(_.phase == phase).groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.ms - childMs(s.id)).sum
    }
  }

  def writeJsonLines(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"phase":"${s.phase}",""" +
        s""""request":${s.request},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Task metrics summed per span, from a SparkListener. */
final class TaskTotals extends SparkListener {
  final class Agg {
    var jobs, stages, tasks = 0L
    var cpuNs, runMs, schedMs, inputB, shuffleB, spillB = 0L
    def +=(o: Agg): Unit = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks; cpuNs += o.cpuNs
      runMs += o.runMs; schedMs += o.schedMs; inputB += o.inputB
      shuffleB += o.shuffleB; spillB += o.spillB
    }
  }
  private val jobSpan = TrieMap.empty[Int, Int]
  private val stageJob = TrieMap.empty[Int, Int]
  private val bySpan = TrieMap.empty[Int, Agg]

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("span-")).map(_.drop(5).toInt).getOrElse(-1)
  private def agg(span: Int): Agg = bySpan.getOrElseUpdate(span, new Agg)
  private def stageSpan(stage: Int): Int =
    stageJob.get(stage).flatMap(jobSpan.get).getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val s = spanOf(e.properties)
    jobSpan(e.jobId) = s
    e.stageIds.foreach(stageJob(_) = e.jobId)
    agg(s).jobs += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { agg(stageSpan(e.stageInfo.stageId)).stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = agg(stageSpan(e.stageId))
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.cpuNs += m.executorCpuTime
      a.runMs += m.executorRunTime
      a.schedMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        e.taskInfo.gettingResultTime)
      a.inputB += m.inputMetrics.bytesRead
      a.shuffleB += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      a.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Totals over the given span ids. */
  def total(spanIds: Set[Int]): Agg = synchronized {
    val t = new Agg
    bySpan.foreach { case (s, a) => if (spanIds(s)) t += a }
    t
  }
}

/** Counts the engine's whole-stage-codegen fallbacks (a compile error
  * or a disabled stage falls back to interpreted execution) from the
  * Spark log.
  */
final class CodegenFallbacks extends org.apache.logging.log4j.core.appender.AbstractAppender(
    "perfbench-codegen-fallbacks", null, null, true,
    org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
  val count = new AtomicLong

  override def append(e: org.apache.logging.log4j.core.LogEvent): Unit = {
    val logger = Option(e.getLoggerName).getOrElse("")
    val msg = Option(e.getMessage).map(_.getFormattedMessage).getOrElse("")
    if (logger.endsWith("WholeStageCodegenExec") && msg.contains("disabled"))
      count.incrementAndGet()
  }

  def install(): this.type = {
    import org.apache.logging.log4j.core.LoggerContext
    val ctx = org.apache.logging.log4j.LogManager.getContext(false).asInstanceOf[LoggerContext]
    start()
    ctx.getConfiguration.getRootLogger.addAppender(this,
      org.apache.logging.log4j.Level.WARN, null)
    ctx.updateLoggers()
    this
  }
}

/** GC time and post-collection heap from JMX. */
object Jvm {
  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Heap in use right after a full collection — the live set. */
  def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
