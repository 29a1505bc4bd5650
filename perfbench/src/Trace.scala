package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One traced interval. `parent` is the span that caused it (0 = none). */
final case class Span(id: Long, name: String, startNs: Long, endNs: Long, parent: Long)

/** In-memory span recorder. Benchmark calls open spans around calls into the
  * program; Spark jobs started under a span's job group become its children
  * (see [[StageListener]]). Nothing is written until [[Json.traceFile]]. */
final class Tracer {
  private val ids = new AtomicLong(0)
  private val done = mutable.ArrayBuffer.empty[Span]
  val t0: Long = System.nanoTime()
  /** Wall-clock ms (Spark's stage timestamps) → this JVM's nanoTime base. */
  private val wallOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def wallMsToNano(ms: Long): Long = ms * 1000000L - wallOffsetNs

  def nextId(): Long = ids.incrementAndGet()
  def record(s: Span): Unit = synchronized { done += s }
  def spans: Seq[Span] = synchronized { done.toList }

  /** Runs `body` inside a span; Spark jobs it starts carry the span's id as
    * their job group, so the listener can attribute them to it. */
  def span[T](name: String, parent: Long, sc: org.apache.spark.SparkContext)(body: Long => T): T = {
    val id = nextId()
    val start = System.nanoTime()
    // no description: SQL executions then keep their own call site as theirs
    sc.setJobGroup(Tracer.group(id), null, interruptOnCancel = false)
    try body(id)
    finally {
      sc.clearJobGroup()
      record(Span(id, name, start, System.nanoTime(), parent))
    }
  }
}

object Tracer {
  def group(spanId: Long): String = s"span-$spanId"
  def spanOf(group: String): Long =
    if (group != null && group.startsWith("span-")) group.drop(5).toLong else 0L
}

/** Task metrics of one completed stage attempt, summed over its tasks. */
final class StageStats(val stageId: Int, val jobId: Int, val group: String,
    val name: String, val details: String) {
  var submitMs = 0L
  var completeMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  var inputBytes = 0L
  val taskRunMs = mutable.ArrayBuffer.empty[Long]

  def runS: Double = (completeMs - submitMs) / 1e3
  def taskSumMs: Long = taskRunMs.sum
  /** max ÷ median task run time (Hurricane's skew signal); 1 for one task. */
  def skew: Double =
    if (taskRunMs.isEmpty) 1.0
    else {
      val sorted = taskRunMs.sorted
      val median = math.max(1L, sorted(sorted.length / 2))
      math.max(1L, sorted.last).toDouble / median
    }
  /** "parquet at Pipeline.scala:283" → ("parquet", "Pipeline.scala", 283). */
  def callSite: (String, String, Int) = name match {
    case StageStats.CallSite(op, file, line) => (op, file, line.toInt)
    case _ => (name, "", -1)
  }
  /** True when the long call site shows a DataFrameWriter frame (a table
    * write, as opposed to a read-side schema or listing job). */
  def isWrite: Boolean = details.linesIterator.take(3).exists(_.contains("Writer"))
}

object StageStats { val CallSite = """(\S+) at (\S+):(\d+)""".r }

/** Benchmark-side SparkListener: attributes every stage to the job group of
  * the job that ran it, and every job to the benchmark span that caused it.
  * A stage's call site is that of the SQL execution it ran for (Spark runs
  * query stages on pool threads, whose own call site names no program
  * line), else the stage's own. Events arrive on Spark's listener bus;
  * [[drain]] waits for them. */
final class StageListener(tracer: Tracer) extends SparkListener {
  /** SQL execution id → (root execution id, short call site, long call site). */
  private val executions = mutable.Map.empty[Long, (Long, String, String)]
  /** stage id → (job id, job group, call site short form, long form) */
  private val stageJob = mutable.Map.empty[Int, (Int, String, String, String)]
  private val jobSpan = mutable.Map.empty[Int, (Long, Long, String)] // id, start, group
  private val stats = mutable.Map.empty[(Int, Int), StageStats]
  private val finished = mutable.ArrayBuffer.empty[StageStats]
  private val endedJobs = mutable.Set.empty[Int]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart => synchronized {
      executions(x.executionId) = (x.rootExecutionId.getOrElse(x.executionId), x.description, x.details)
    }
    case _ =>
  }

  private def site(execution: Long): Option[(String, String)] = executions.get(execution).map {
    case (root, short, long) if root != execution && executions.contains(root) =>
      (executions(root)._2, executions(root)._3)
    case (_, short, long) => (short, long)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val group = props.map(_.getProperty("spark.jobGroup.id")).orNull
    val sql = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).flatMap(id => site(id.toLong))
    jobSpan(e.jobId) = (tracer.nextId(), System.nanoTime(), group)
    e.stageInfos.foreach { si =>
      val (name, details) = sql.getOrElse((si.name, si.details))
      if (!stageJob.contains(si.stageId)) stageJob(si.stageId) = (e.jobId, group, name, details)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.get(e.jobId).foreach { case (id, start, group) =>
      val site = finished.reverseIterator.find(_.jobId == e.jobId).map(_.name).getOrElse("")
      tracer.record(Span(id, s"job ${e.jobId} $site".trim, start, System.nanoTime(), Tracer.spanOf(group)))
    }
    endedJobs += e.jobId
    notifyAll()
  }

  private def statsFor(stageId: Int, attempt: Int): StageStats =
    stats.getOrElseUpdate((stageId, attempt), {
      val (job, group, name, details) = stageJob.getOrElse(stageId, (-1, null, "", ""))
      new StageStats(stageId, job, group, name, details)
    })

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val s = statsFor(e.stageId, e.stageAttemptId)
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.outputBytes += m.outputMetrics.bytesWritten
      s.inputBytes += m.inputMetrics.bytesRead
      s.taskRunMs += m.executorRunTime
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val s = statsFor(si.stageId, si.attemptNumber())
    s.submitMs = si.submissionTime.getOrElse(0L)
    s.completeMs = si.completionTime.getOrElse(s.submitMs)
    stats.remove((si.stageId, si.attemptNumber()))
    finished += s
    jobSpan.get(s.jobId).foreach { case (jobSpanId, _, _) =>
      tracer.record(Span(tracer.nextId(), s"stage ${si.stageId} ${s.name}",
        tracer.wallMsToNano(s.submitMs), tracer.wallMsToNano(s.completeMs), jobSpanId))
    }
  }

  /** Runs a one-task sentinel job and waits until the listener has seen it
    * end: the bus delivers events in order, so every earlier stage and task
    * event has been processed by then. */
  def drain(sc: org.apache.spark.SparkContext): Unit = {
    sc.setJobGroup("sentinel", "listener drain", interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + 30000
    synchronized {
      def sentinelDone = jobSpan.exists { case (j, (_, _, g)) => g == "sentinel" && endedJobs(j) }
      while (!sentinelDone && System.currentTimeMillis() < deadline) wait(100)
      require(sentinelDone, "listener bus did not drain within 30 s")
      jobSpan.filter(_._2._3 == "sentinel").keys.foreach(jobSpan.remove)
    }
  }

  def stages: Seq[StageStats] = synchronized { finished.toList }

  /** CPU time of every task that has finished so far, after a [[drain]]. */
  def taskCpuNs(sc: org.apache.spark.SparkContext): Long = {
    drain(sc)
    synchronized { finished.map(_.cpuNs).sum }
  }
}

/** Largest heap in use just after a GC, over the windows between [[start]]
  * and [[stop]] since the last [[reset]]; fed by the JVM's GC notifications. */
object HeapWatch {
  import java.lang.management.{ManagementFactory, MemoryType}
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo

  @volatile private var on = false
  @volatile private var peakBytes = 0L
  private lazy val heapPools: Set[String] =
    ManagementFactory.getMemoryPoolMXBeans.toArray.toSeq
      .map(_.asInstanceOf[java.lang.management.MemoryPoolMXBean])
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (on && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val after = info.getGcInfo.getMemoryUsageAfterGc
        var used = 0L
        after.forEach((pool, usage) => if (heapPools(pool)) used += usage.getUsed)
        if (used > peakBytes) peakBytes = used
      }
  }

  def install(): Unit = {
    heapPools.size
    ManagementFactory.getGarbageCollectorMXBeans.forEach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }
  def reset(): Unit = peakBytes = 0L
  def start(): Unit = on = true
  def stop(): Unit = on = false
  def peakMb: Double = peakBytes / (1024.0 * 1024.0)
}
