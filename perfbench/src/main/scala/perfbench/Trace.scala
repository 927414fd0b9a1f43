package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler._

/** Per-request Spark accounting for the traced run, keyed by the job
  * group the Engine frame sets to the caller's `sn`.
  *
  * Listener events carry epoch-millisecond timestamps; [[toNanos]] maps
  * them onto the `System.nanoTime` axis the rpc clients time with, so a
  * job's start and end can be placed inside the request's spans.
  */
final class Tracer extends SparkListener {
  import Tracer._

  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def toNanos(epochMs: Long): Long = epochMs * 1000000L - offsetNs

  private val bySn = new ConcurrentHashMap[String, Agg]()
  private val jobSn = new ConcurrentHashMap[Int, (String, Long)]()
  private val stageSn = new ConcurrentHashMap[Int, String]()
  private val handlers = new ConcurrentHashMap[String, Handler]()

  private def group(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))

  def agg(sn: String): Agg = bySn.computeIfAbsent(sn, _ => new Agg)
  def handler(sn: String): Option[Handler] = Option(handlers.get(sn))
  def recordHandler(sn: String, h: Handler): Unit = handlers.put(sn, h)

  override def onJobStart(js: SparkListenerJobStart): Unit =
    group(js.properties).foreach(sn => jobSn.put(js.jobId, (sn, js.time)))

  override def onJobEnd(je: SparkListenerJobEnd): Unit =
    Option(jobSn.remove(je.jobId)).foreach { case (sn, start) =>
      agg(sn).jobs.add((start, je.time))
    }

  override def onStageSubmitted(ss: SparkListenerStageSubmitted): Unit =
    group(ss.properties).foreach { sn =>
      stageSn.put(ss.stageInfo.stageId, sn)
      agg(sn).stages.incrementAndGet()
    }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val sn = stageSn.get(te.stageId)
    val m = te.taskMetrics
    if (sn != null && m != null) {
      val a = agg(sn)
      a.tasks.incrementAndGet()
      a.taskRunMs.addAndGet(m.executorRunTime)
      a.taskCpuNs.addAndGet(m.executorCpuTime)
      a.taskGcMs.addAndGet(m.jvmGCTime)
      a.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      a.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      a.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
}

object Tracer {
  final class Agg {
    val stages, tasks, taskRunMs, taskCpuNs, taskGcMs = new AtomicLong()
    val shuffleRead, shuffleWrite, spill = new AtomicLong()
    /** (start, end) of each finished job, epoch ms. */
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  }

  /** Handler-side timestamps of one request: entry, construct end, plan end. */
  final case class Handler(entry: Long, constructed: Long, planned: Long)
}
