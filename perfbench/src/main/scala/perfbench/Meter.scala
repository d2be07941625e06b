package perfbench

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark counters per span, from a listener the benchmark registers itself.
  *
  * A span is opened by the single traced client around one request (or one
  * replayed layer call); every job that starts while it is open is charged
  * to it, with that job's stages and tasks. Attribution is unambiguous only
  * when one client is active, which is how the traced passes run.
  */
final class Meter(sc: SparkContext) extends SparkListener {

  final class Counts {
    var jobs = 0L; var stages = 0L; var tasks = 0L; var taskFailures = 0L
    var taskRunMs = 0L; var taskCpuNs = 0L; var gcMs = 0L
    var shuffleWriteBytes = 0L; var shuffleReadBytes = 0L; var spillBytes = 0L
    var peakExecMemBytes = 0L; var inputRecords = 0L
    val schedulerDelaysMs = scala.collection.mutable.ArrayBuffer.empty[Long]
    def shape: (Long, Long, Long) = (jobs, stages, tasks)
  }

  @volatile private var open: String = null
  private val spans = new ConcurrentHashMap[String, Counts]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val jobSubmit = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobFirstTask = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobSpan = new ConcurrentHashMap[Int, String]()

  sc.addSparkListener(this)

  /** Run `body` as span `id`; listener events are drained before returning,
    * so [[counts]] is complete for it afterwards. */
  def span[T](id: String)(body: => T): T = {
    open = id
    spans.putIfAbsent(id, new Counts)
    try body
    finally {
      org.apache.spark.graft.ListenerBarrier.drain(sc)
      open = null
      jobSpan.forEach { (job, sp) =>
        if (sp == id && jobFirstTask.containsKey(job)) {
          spans.get(id).schedulerDelaysMs +=
            (jobFirstTask.get(job) - jobSubmit.get(job))
          jobFirstTask.remove(job)
        }
      }
    }
  }

  def counts(id: String): Counts = Option(spans.get(id)).getOrElse(new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val id = open
    if (id == null) return
    jobSpan.put(e.jobId, id)
    jobSubmit.put(e.jobId, e.time)
    e.stageIds.foreach { s => stageSpan.put(s, id); stageJob.put(s, e.jobId) }
    spans.get(id).jobs += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageSpan.get(e.stageInfo.stageId)).foreach { id =>
      spans.get(id).stages += 1
    }

  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    Option(stageJob.get(e.stageId)).foreach { job =>
      jobFirstTask.merge(job, e.taskInfo.launchTime, (a, b) => math.min(a, b))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { id =>
      val c = spans.get(id)
      c.tasks += 1
      if (!e.taskInfo.successful) c.taskFailures += 1
      val m = e.taskMetrics
      if (m != null) {
        c.taskRunMs += m.executorRunTime
        c.taskCpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.peakExecMemBytes = math.max(c.peakExecMemBytes, m.peakExecutionMemory)
        c.inputRecords += m.inputMetrics.recordsRead
      }
    }
}
