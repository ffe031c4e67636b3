package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-side counters for the traced run, attributed to the span that
  * was innermost when each job or SQL execution started (the span id
  * rides in the job description). Registered only when tracing.
  */
final class Meter(spark: SparkSession) extends SparkListener {
  import Meter._

  /** Counters of one span. Times in nanoseconds, sizes in bytes. */
  final class Acc {
    val jobs, stages, tasks, taskNs, cpuNs, gcNs, stageOverheadNs,
      shuffleRead, shuffleWrite, spill, inputBytes, inputRecords,
      sqlExecutions = new AtomicLong
  }

  private val accs = new ConcurrentHashMap[Int, Acc]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val stageMaxTaskNs = new ConcurrentHashMap[Int, AtomicLong]()
  private val events = new AtomicLong
  private val openJobs = new AtomicInteger

  /** Query-planning phases of each finished query execution:
    * (epoch ms the first phase began, phase name -> ms).
    */
  val phases = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Map[String, Long])]()

  def acc(span: Int): Acc = accs.computeIfAbsent(span, _ => new Acc)
  def spanAccs: Map[Int, Acc] = accs.asScala.toMap

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(DescKey)))
      .filter(_.startsWith(Prefix))
      .flatMap(_.stripPrefix(Prefix).toIntOption)
      .getOrElse(-1)

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    events.incrementAndGet()
    openJobs.incrementAndGet()
    val s = spanOf(j.properties)
    acc(s).jobs.incrementAndGet()
    j.stageIds.foreach(stageSpan.put(_, s))
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = {
    events.incrementAndGet()
    openJobs.decrementAndGet()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    events.incrementAndGet()
    val si = e.stageInfo
    val a = acc(stageSpan.getOrDefault(si.stageId, -1))
    a.stages.incrementAndGet()
    for (s <- si.submissionTime; c <- si.completionTime) {
      val longest = Option(stageMaxTaskNs.remove(si.stageId)).map(_.get).getOrElse(0L)
      a.stageOverheadNs.addAndGet(math.max(0L, (c - s) * 1000000L - longest))
    }
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    events.incrementAndGet()
    val a = acc(stageSpan.getOrDefault(t.stageId, -1))
    a.tasks.incrementAndGet()
    if (t.taskInfo != null)
      stageMaxTaskNs.computeIfAbsent(t.stageId, _ => new AtomicLong)
        .accumulateAndGet(t.taskInfo.duration * 1000000L, math.max)
    val m = t.taskMetrics
    if (m != null) {
      a.taskNs.addAndGet(m.executorRunTime * 1000000L)
      a.cpuNs.addAndGet(m.executorCpuTime)
      a.gcNs.addAndGet(m.jvmGCTime * 1000000L)
      a.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      a.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      a.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      a.inputBytes.addAndGet(m.inputMetrics.bytesRead)
      a.inputRecords.addAndGet(m.inputMetrics.recordsRead)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = {
    events.incrementAndGet()
    e match {
      case s: SparkListenerSQLExecutionStart =>
        val span = Option(s.description).filter(_.startsWith(Prefix))
          .flatMap(_.stripPrefix(Prefix).toIntOption).getOrElse(-1)
        acc(span).sqlExecutions.incrementAndGet()
      case _ =>
    }
  }

  private val qel = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      events.incrementAndGet()
      val ps = qe.tracker.phases
      if (ps.nonEmpty)
        phases.add(ps.values.map(_.startTimeMs).min ->
          ps.map { case (k, v) => k -> v.durationMs })
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(qel)
  }

  def unregister(): Unit = {
    spark.listenerManager.unregister(qel)
    spark.sparkContext.removeSparkListener(this)
  }

  /** Wait until the asynchronous listener bus has delivered everything:
    * poll until no job is open and the event count has not moved over
    * several consecutive polls.
    */
  def settle(timeoutMs: Long = 60000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var last = -1L
    var still = 0
    while (still < 4 && System.currentTimeMillis() < deadline) {
      Thread.sleep(25)
      val now = events.get()
      if (now == last && openJobs.get() == 0) still += 1 else still = 0
      last = now
    }
  }
}

object Meter {
  val DescKey = "spark.job.description"
  val Prefix = "perfbench-span:"
  def tag(span: Int): String = if (span < 0) null else Prefix + span
}
