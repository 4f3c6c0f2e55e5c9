package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark-runtime counters read through a listener the benchmark
  * registers. Jobs are attributed by job group: the benchmark tags the
  * jobs it submits itself, so untagged jobs are the ones the REST
  * server submitted on behalf of its clients. `selfNs` is the time
  * spent in the callbacks themselves, the listener's share of the
  * tracing overhead. */
final class SparkCounters extends SparkListener {
  val jobs, untaggedJobs, stages, tasks = new AtomicLong
  val schedulerDelayMs, executorRunMs = new AtomicLong
  val shuffleRead, shuffleWrite, spill, input, output = new AtomicLong
  val selfNs = new AtomicLong

  private def timed(body: => Unit): Unit = {
    val t = System.nanoTime()
    body
    selfNs.addAndGet(System.nanoTime() - t)
    ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    jobs.incrementAndGet()
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    if (group.isEmpty) untaggedJobs.incrementAndGet()
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed { stages.incrementAndGet() }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null) {
      executorRunMs.addAndGet(m.executorRunTime)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.diskBytesSpilled)
      input.addAndGet(m.inputMetrics.bytesRead)
      output.addAndGet(m.outputMetrics.bytesWritten)
      if (i != null && i.finishTime > 0) {
        // the Spark UI's definition of scheduler delay
        val busy = m.executorDeserializeTime + m.executorRunTime + m.resultSerializationTime
        val total = i.finishTime - i.launchTime
        schedulerDelayMs.addAndGet(math.max(0L, total - busy - i.gettingResultTime))
      }
    }
  }
}

/** JVM and storage-memory sampling: GC time and count from the
  * collectors' MXBeans, heap peak from the heap pools' peak usage, and
  * the Spark block manager's used storage memory, polled. `selfNs` is
  * the time the polls took, the sampler's share of the tracing
  * overhead. */
final class JvmProbe(sc: SparkContext) {
  private val gcs   = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val pools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP).toSeq
  private var gcMs0, gcCount0 = 0L
  @volatile private var storagePeak = 0L
  @volatile private var running = false
  private var sampler: Thread = _
  val selfNs = new AtomicLong

  private def gcMs = gcs.map(_.getCollectionTime).filter(_ >= 0).sum
  private def gcCount = gcs.map(_.getCollectionCount).filter(_ >= 0).sum
  private def storageUsed: Long =
    sc.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum

  def start(): Unit = {
    gcMs0 = gcMs; gcCount0 = gcCount
    pools.foreach(_.resetPeakUsage())
    running = true
    sampler = new Thread(() => {
      while (running) {
        val t = System.nanoTime()
        storagePeak = math.max(storagePeak, storageUsed)
        selfNs.addAndGet(System.nanoTime() - t)
        try Thread.sleep(50) catch { case _: InterruptedException => () }
      }
    }, "perfbench-storage-sampler")
    sampler.setDaemon(true)
    sampler.start()
  }

  /** (gc ms, gc count, heap peak MB, storage peak MB) since [[start]]. */
  def stop(): (Double, Double, Double, Double) = {
    running = false
    sampler.interrupt()
    sampler.join()
    storagePeak = math.max(storagePeak, storageUsed)
    val heapPeak = pools.map(_.getPeakUsage.getUsed).sum
    ((gcMs - gcMs0).toDouble, (gcCount - gcCount0).toDouble, heapPeak / 1048576.0, storagePeak / 1048576.0)
  }
}

/** In-memory span log: name, start, end and the causing span. Written
  * out once, when the run ends. `selfNs` is the time spent recording
  * spans, outside the timed bodies. */
final class Spans {
  import Spans.Span
  private val buf = new java.util.concurrent.ConcurrentLinkedQueue[Span]
  private val ids = new java.util.concurrent.atomic.AtomicInteger
  private val t0  = System.nanoTime()
  val selfNs = new AtomicLong

  /** Times `body` as one span and returns its result with the span's id. */
  def span[T](name: String, parent: Int = 0)(body: Int => T): (T, Double) = {
    val id = ids.incrementAndGet()
    val s  = System.nanoTime()
    val r  = body(id)
    val e  = System.nanoTime()
    buf.add(Span(id, parent, name, s - t0, e - t0))
    selfNs.addAndGet(System.nanoTime() - e)
    (r, (e - s) / 1e6)
  }

  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = buf.asScala.toSeq.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
    ()
  }
}

object Spans {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)
}

/** What the tracing itself costs over a traced phase: the time spent
  * in the listener's callbacks, the storage sampler's polls and the span
  * bookkeeping, as a share of the phase's wall time. Each is measured
  * where it is spent, so the figure does not depend on comparing two
  * rounds that vary by more than the tracing costs. */
final class TraceCost(counters: SparkCounters, jvm: JvmProbe, spans: Spans) {
  private def self = counters.selfNs.get + jvm.selfNs.get + spans.selfNs.get
  private val self0 = self
  private val t0    = System.nanoTime()

  /** The tracing's self time since construction, % of the wall time. */
  def pct: Double = 100.0 * (self - self0) / math.max(1L, System.nanoTime() - t0)
}
