package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Executor work summed over the task metrics of completed stages. */
final case class Work(tasks: Long = 0, runMs: Long = 0, cpuNs: Long = 0,
                      gcMs: Long = 0, deserMs: Long = 0, inputRows: Long = 0,
                      inputBytes: Long = 0, shuffleWrite: Long = 0,
                      shuffleRead: Long = 0, spill: Long = 0,
                      resultBytes: Long = 0, outRows: Long = 0,
                      outBytes: Long = 0) {
  def +(o: Work): Work = Work(tasks + o.tasks, runMs + o.runMs,
    cpuNs + o.cpuNs, gcMs + o.gcMs, deserMs + o.deserMs,
    inputRows + o.inputRows, inputBytes + o.inputBytes,
    shuffleWrite + o.shuffleWrite, shuffleRead + o.shuffleRead,
    spill + o.spill, resultBytes + o.resultBytes, outRows + o.outRows,
    outBytes + o.outBytes)
}

/** What one attribution group (one span) caused on the cluster. */
final case class Caused(jobs: Int = 0, stages: Int = 0, work: Work = Work())

/** Attribution of Spark jobs and stages to benchmark spans.
  *
  * Rules:
  *  - a stage belongs to the group its submitting job carried
  *    (`spark.jobGroup.id` at submission);
  *  - only successful stage attempts count;
  *  - a stage counts once, even when several jobs list it or it
  *    completes in more than one successful attempt (the last wins);
  *  - rows and bytes come from the stage's task metrics, never from
  *    SQL-plan accumulators, which can vanish while a job runs.
  *
  * Pure state: the listener below feeds it, the unit tests feed it
  * directly.
  */
final class Attribution {
  private val jobGroup = mutable.Map.empty[Int, String]
  private val open = mutable.Set.empty[Int]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val stageWork = mutable.Map.empty[Int, Work]
  private val events = new AtomicLong()
  private var started = 0

  def jobStarted(jobId: Int, group: Option[String]): Unit = synchronized {
    group.foreach(jobGroup(jobId) = _); open += jobId; started += 1
    events.incrementAndGet()
  }
  def jobEnded(jobId: Int): Unit = synchronized {
    open -= jobId; events.incrementAndGet()
  }
  def stageSubmitted(stageId: Int, group: Option[String]): Unit = synchronized {
    group.foreach(stageGroup(stageId) = _); events.incrementAndGet()
  }
  def stageCompleted(stageId: Int, succeeded: Boolean, work: Work): Unit =
    synchronized {
      if (succeeded) stageWork(stageId) = work
      events.incrementAndGet()
    }
  /** Any other bus event that a reader waits for (phase timings). */
  def touched(): Unit = events.incrementAndGet()

  /** (events seen, jobs started and not yet ended). */
  def probe: (Long, Int) = synchronized((events.get, open.size))

  def byGroup: Map[String, Caused] = synchronized {
    val jobs = jobGroup.groupBy(_._2).map { case (g, m) => g -> m.size }
    val stages = stageWork.toSeq.flatMap { case (id, w) =>
      stageGroup.get(id).map(_ -> w) }.groupBy(_._1)
    (jobs.keySet ++ stages.keySet).map { g =>
      val ws = stages.getOrElse(g, Nil).map(_._2)
      g -> Caused(jobs.getOrElse(g, 0), ws.size, ws.foldLeft(Work())(_ + _))
    }.toMap
  }

  def total: Work = synchronized(stageWork.values.foldLeft(Work())(_ + _))
  def jobs: Int = synchronized(started)
  def stages: Int = synchronized(stageWork.size)

  def clear(): Unit = synchronized {
    jobGroup.clear(); stageGroup.clear(); stageWork.clear(); started = 0
  }
}

object Attribution {
  /** Drain rule: poll until no job is open and the event count has not
    * moved across `quiet` consecutive polls. Returns the polls spent. */
  def awaitStable(probe: () => (Long, Int), sleep: () => Unit,
                  quiet: Int = 3, maxPolls: Int = 500): Int = {
    var last = probe(); var still = 0; var polls = 0
    while (still < quiet && polls < maxPolls) {
      sleep(); polls += 1
      val now = probe()
      if (now._2 == 0 && now._1 == last._1) still += 1 else still = 0
      last = now
    }
    polls
  }

  def work(si: StageInfo): Work = Option(si.taskMetrics).map { m =>
    Work(si.numTasks, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.executorDeserializeTime, m.inputMetrics.recordsRead,
      m.inputMetrics.bytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.resultSize,
      m.outputMetrics.recordsWritten, m.outputMetrics.bytesWritten)
  }.getOrElse(Work(si.numTasks))
}

/** Catalyst phase times per attribution group, from `qe.tracker`. */
final case class Phases(analysisMs: Double = 0, optimizationMs: Double = 0,
                        planningMs: Double = 0, queries: Int = 0) {
  def +(o: Phases): Phases = Phases(analysisMs + o.analysisMs,
    optimizationMs + o.optimizationMs, planningMs + o.planningMs,
    queries + o.queries)
}

/** Spark listener feeding an [[Attribution]], plus a query-execution
  * listener that records Catalyst phases under the group of the span
  * open when the action was called. */
final class Collector(spans: Spans) extends SparkListener
    with QueryExecutionListener {
  val attribution = new Attribution
  private val phases = mutable.Map.empty[String, Phases]

  private def group(p: java.util.Properties): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(Spans.Prefix))

  override def onJobStart(e: SparkListenerJobStart): Unit =
    attribution.jobStarted(e.jobId, group(e.properties))
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    attribution.jobEnded(e.jobId)
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    attribution.stageSubmitted(e.stageInfo.stageId, group(e.properties))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    attribution.stageCompleted(e.stageInfo.stageId,
      e.stageInfo.failureReason.isEmpty, Attribution.work(e.stageInfo))

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
    val start = ph.values.map(_.startTimeMs).minOption
      .getOrElse(System.currentTimeMillis())
    val g = spans.groupAt(start)
    phases.synchronized {
      phases(g) = phases.getOrElse(g, Phases()) +
        Phases(ms("analysis"), ms("optimization"), ms("planning"), 1)
    }
    attribution.touched()
  }
  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = attribution.touched()

  def phasesByGroup: Map[String, Phases] = phases.synchronized(phases.toMap)

  def drain(): Unit = Attribution.awaitStable(() => attribution.probe,
    () => Thread.sleep(20))

  def clear(): Unit = { attribution.clear(); phases.synchronized(phases.clear()) }
}

/** One timed call into a layer, as recorded by the benchmark. */
final case class Span(id: Int, name: String, op: Int, parent: Int,
                      start: Long, end: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def seconds: Double = (end - start) / 1e9
}

/** In-memory span recorder. Spans nest on the driver thread; each span
  * runs its Spark jobs under its own job group so that the listener can
  * attribute them. Disabled, it only runs the body. */
final class Spans(spark: () => SparkSession, var enabled: Boolean) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[(Int, String, Int, Long, Long)] // id, name, op, startNs, startMs
  private var next = 0
  @volatile private var open = Vector.empty[(Long, Long, Int)] // startMs, endMs(-1 open), id
  var op: Int = -1

  def apply[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val id = next; next += 1
    val parent = stack.headOption.map(_._1).getOrElse(-1)
    val sc = spark().sparkContext
    val startMs = System.currentTimeMillis()
    stack = (id, name, op, System.nanoTime(), startMs) :: stack
    open.synchronized { open = open :+ ((startMs, -1L, id)) }
    sc.setJobGroup(Spans.Prefix + id, name, interruptOnCancel = false)
    try body
    finally {
      val (_, _, o, t0, _) = stack.head
      stack = stack.tail
      done += Span(id, name, o, parent, t0, System.nanoTime())
      val endMs = System.currentTimeMillis()
      open.synchronized {
        open = open.map(s => if (s._3 == id) (s._1, endMs, id) else s)
      }
      stack.headOption match {
        case Some((pid, pname, _, _, _)) =>
          sc.setJobGroup(Spans.Prefix + pid, pname, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Group of the innermost span whose interval holds `ms`. */
  def groupAt(ms: Long): String = open.synchronized {
    open.filter(s => s._1 <= ms && (s._2 < 0 || ms <= s._2))
      .sortBy(s => -s._1).headOption
      .map(s => Spans.Prefix + s._3).getOrElse("none")
  }

  def all: Seq[Span] = done.toSeq

  def selfSeconds: Map[Int, Double] = Spans.selfSeconds(done.toSeq)

  def clear(): Unit = { done.clear(); open.synchronized { open = Vector.empty } }
}

object Spans {
  val Prefix = "pb-"

  /** Self seconds per span: duration minus the part its children cover
    * (children of one span never overlap: spans nest on one thread). */
  def selfSeconds(spans: Seq[Span]): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = kids.getOrElse(s.id, Nil).map(c => c.end - c.start).sum
      s.id -> math.max(0L, (s.end - s.start) - covered) / 1e9
    }.toMap
  }
}

/** Driver heap high-water: the largest heap occupancy left after any
  * collection between `reset` and `peakMb`, the peak of what the pass
  * kept live. Occupancy before a collection is not used: it depends on
  * when the collector chose to run. `peakMb` ends with a collection, so
  * what the pass still holds counts too. */
final class HeapWatch {
  import java.lang.management.ManagementFactory
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo
  import scala.jdk.CollectionConverters._

  @volatile private var peak = 0L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getName).toSet
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[CompositeData])
        bump(info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (k, v) if heapPools(k) => v.getUsed }.sum)
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }
  private def bump(b: Long): Unit = synchronized { if (b > peak) peak = b }
  def reset(): Unit = synchronized { peak = 0L }
  def peakMb: Double = {
    System.gc()
    // the notification is delivered on another thread
    Thread.sleep(50)
    bump(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
    peak / 1048576.0
  }
}
