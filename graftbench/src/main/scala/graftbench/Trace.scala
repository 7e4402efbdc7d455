package graftbench

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One Spark job as the listener saw it. Times are epoch milliseconds
 * (the listener events' clock). `site` is the short call site
 * ("treeAggregate at EbwAggregator.scala:134"), `details` the long one
 * (the driver stack of the action that launched the job). */
final class JobRec(val id: Int, val start: Long, val site: String,
    val details: String) {
  var end: Long = -1L
  var stages = 0
  var tasks = 0
  var taskMs = 0L
  var maxTaskMs = 0L
  var gcMs = 0L
  var resultBytes = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
}

/** A named interval recorded by the benchmark around a call into one
 * layer. `parent` names the span that was open when it began ("" for an
 * operation). */
final case class Span(name: String, parent: String, start: Long, end: Long) {
  def ms: Long = end - start
}

/** Records Spark jobs through a listener and spans from the benchmark's
 * own code; kept in memory and summarised once the run ends. Installed
 * only in traced runs, so untraced runs carry no listener at all. */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val jobsById = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]
  val spans = mutable.ArrayBuffer.empty[Span]

  /** Call sites of SQL executions, by execution id: adaptive query
   * execution runs most of a query's jobs on its own threads, so only the
   * execution start event carries the stack of the action that caused
   * them. */
  private val executions = mutable.HashMap.empty[Long, (String, String)]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      executions(s.executionId) = (s.description, s.details)
    }
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val first = e.stageInfos.sortBy(_.stageId).headOption
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => executions.get(id.toLong))
    val j = new JobRec(e.jobId, e.time,
      exec.map(_._1).orElse(first.map(_.name)).getOrElse(""),
      exec.map(_._2).orElse(first.map(_.details)).getOrElse(""))
    jobsById(e.jobId) = j
    e.stageIds.foreach(s => stageJob(s) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobsById.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      val d = e.taskInfo.duration
      if (d > j.maxTaskMs) j.maxTaskMs = d
      val m = e.taskMetrics
      if (m != null) {
        j.taskMs += m.executorRunTime
        j.gcMs += m.jvmGCTime
        j.resultBytes += m.resultSize
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private var open = ""

  /** Runs `body` inside a span named `name`, a child of the span that is
   * open when it starts. */
  def span[T](name: String)(body: => T): T = {
    val parent = open
    open = name
    val t0 = System.currentTimeMillis()
    try body
    finally {
      spans += Span(name, parent, t0, System.currentTimeMillis())
      open = parent
    }
  }

  /** Every job that started inside `s`, after the bus has drained. */
  def jobsIn(s: Span): Seq[JobRec] = {
    org.apache.spark.BenchBus.drain(sc)
    synchronized {
      jobsById.values.filter(j => j.start >= s.start && j.start <= s.end)
        .toList
    }
  }

  def install(): Unit = sc.addSparkListener(this)
  def remove(): Unit = {
    org.apache.spark.BenchBus.drain(sc)
    sc.removeSparkListener(this)
  }
}

object Trace {
  /** Milliseconds of the union of the jobs' intervals, clipped to `s`. */
  def busyMs(jobs: Seq[JobRec], s: Span): Long = {
    val iv = jobs.map(j => (math.max(j.start, s.start),
        math.min(if (j.end < 0) s.end else j.end, s.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** The Spark-runtime metrics every workload reports for one span. */
  def runtime(jobs: Seq[JobRec], s: Span, gcMs: Long): Map[String, Double] = {
    val busy = busyMs(jobs, s) / 1e3
    val taskS = jobs.map(_.taskMs).sum / 1e3
    val mb = 1024.0 * 1024.0
    Map(
      "spark.jobs" -> jobs.size.toDouble,
      "spark.stages" -> jobs.map(_.stages).sum.toDouble,
      "spark.tasks" -> jobs.map(_.tasks).sum.toDouble,
      "spark.task_s" -> taskS,
      "spark.busy_s" -> busy,
      "spark.driver_gap_s" -> (s.ms / 1e3 - busy),
      "spark.parallelism" -> (if (busy > 0) taskS / busy else 0.0),
      "spark.max_task_s" -> (if (jobs.isEmpty) 0.0
        else jobs.map(_.maxTaskMs).max / 1e3),
      "spark.shuffle_write_mb" -> jobs.map(_.shuffleWriteBytes).sum / mb,
      "spark.shuffle_read_mb" -> jobs.map(_.shuffleReadBytes).sum / mb,
      "spark.spill_mb" -> jobs.map(_.spillBytes).sum / mb,
      "spark.result_mb" -> jobs.map(_.resultBytes).sum / mb,
      "jvm.gc_s" -> gcMs / 1e3)
  }

  /** Total GC milliseconds of this JVM (driver and, in local mode, the
   * executor threads). */
  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  }

  /** CPU nanoseconds this process has used, all threads except the JIT
   * compiler's. Spark keeps the compiler busy long after a short warm-up,
   * and its share of an operation's CPU time varies by a factor of two
   * between passes; the driver, executor and GC threads all count. */
  def cpuNs(): Long = {
    val all = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => 0L
    }
    all - jitCpuNs()
  }

  /** CPU nanoseconds of the live JIT compiler threads, from each thread's
   * `/proc/self/task/<tid>/schedstat` (0 where /proc has no such file). */
  private def jitCpuNs(): Long = {
    val tasks = new java.io.File("/proc/self/task").listFiles()
    if (tasks == null) 0L
    else tasks.iterator.map { t =>
      try {
        val comm = Files.readString(new java.io.File(t, "comm").toPath)
        if (comm.startsWith("C1 CompilerThre") || comm.startsWith("C2 CompilerThre"))
          Files.readString(new java.io.File(t, "schedstat").toPath).trim
            .split(" ")(0).toLong
        else 0L
      } catch { case _: Exception => 0L } // the thread ended meanwhile
    }.sum
  }
}
