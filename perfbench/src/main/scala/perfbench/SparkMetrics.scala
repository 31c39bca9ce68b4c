package perfbench

import org.apache.spark.scheduler._

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable

/** Executor-side totals for one attribution bucket. */
final class Work {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var taskWaitMs = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L; var peakMem = 0L
}

/** SparkListener that attributes jobs, stages and tasks to the job group
  * that launched them. The harness sets the job group to the id of the
  * span that is running (a key's construct / plan / exec phase, a sink
  * write), so every job lands on the layer that caused it. Only jobs that
  * start inside the timed window (`timed` of their start, epoch ms) are
  * counted; set-up jobs and the output dumps after the window are not.
  */
final class SparkMetrics(tracer: Tracer, timed: Long => Boolean) extends SparkListener {
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stageSubmit = new ConcurrentHashMap[Int, Long]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  private val byGroup = mutable.HashMap.empty[String, Work]
  @volatile private var jobsEnded = Set.empty[Int]

  private def work(g: String): Work = byGroup.synchronized(byGroup.getOrElseUpdate(g, new Work))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g0 = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    // untimed jobs go to their own bucket, never reported
    val g = if (timed(e.time)) g0 else SparkMetrics.Untimed
    jobGroup.put(e.jobId, g)
    jobStart.put(e.jobId, e.time)
    e.stageIds.foreach(s => stageGroup.put(s, g))
    val w = work(g); w.synchronized { w.jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val g = jobGroup.getOrDefault(e.jobId, "")
    val parent = scala.util.Try(g.toLong).getOrElse(0L)
    // listener times are epoch ms; spans are on the nanoTime clock
    val skew = System.nanoTime() - System.currentTimeMillis() * 1000000L
    tracer.record("spark.job", parent, parent,
      jobStart.getOrDefault(e.jobId, e.time) * 1000000L + skew, e.time * 1000000L + skew)
    synchronized { jobsEnded += e.jobId }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSubmit.put(e.stageInfo.stageId, e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val w = work(stageGroup.getOrDefault(e.stageInfo.stageId, ""))
    w.synchronized { w.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val w = work(stageGroup.getOrDefault(e.stageId, ""))
    val m = e.taskMetrics
    w.synchronized {
      w.tasks += 1
      w.taskWaitMs += math.max(0L, e.taskInfo.launchTime - stageSubmit.getOrDefault(e.stageId, e.taskInfo.launchTime))
      if (m != null) {
        w.runMs += m.executorRunTime
        w.cpuNs += m.executorCpuTime
        w.gcMs += m.jvmGCTime
        w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        w.spill += m.diskBytesSpilled
        w.peakMem = math.max(w.peakMem, m.peakExecutionMemory)
      }
    }
  }

  /** Wait until the listener bus has delivered the end of every job the
    * given groups launched (task events precede their job's end). */
  def drain(sc: org.apache.spark.SparkContext, groups: Iterable[String], timeoutMs: Long = 10000): Unit = {
    val ids = groups.flatMap(g => sc.statusTracker.getJobIdsForGroup(g).toSeq).toSet
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!ids.subsetOf(synchronized(jobsEnded)) && System.currentTimeMillis() < deadline)
      Thread.sleep(5)
  }

  /** Sum of the buckets whose group id satisfies `p`. */
  def total(p: String => Boolean): Work = {
    val out = new Work
    byGroup.synchronized(byGroup.toSeq).filter(kv => kv._1 != SparkMetrics.Untimed && p(kv._1)).foreach { case (_, w) =>
      w.synchronized {
        out.jobs += w.jobs; out.stages += w.stages; out.tasks += w.tasks
        out.taskWaitMs += w.taskWaitMs; out.runMs += w.runMs; out.cpuNs += w.cpuNs
        out.gcMs += w.gcMs; out.shuffleWrite += w.shuffleWrite
        out.shuffleRead += w.shuffleRead; out.spill += w.spill
        out.peakMem = math.max(out.peakMem, w.peakMem)
      }
    }
    out
  }
}

object SparkMetrics {
  val Untimed = "perfbench-untimed"
}
