package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One timed region of the benchmark. Times are wall-clock milliseconds
  * (the clock Spark stamps its listener events with) for attributing jobs,
  * and nanoTime seconds for the duration itself. FS and GC figures are
  * deltas over the region. */
final case class Span(
    name: String,
    depth: Int,
    startMs: Long,
    endMs: Long,
    seconds: Double,
    gcSeconds: Double,
    fsReadOps: Long,
    fsWriteOps: Long,
    fsBytesWritten: Long,
    ok: Boolean)

final case class JobRec(id: Int, callSite: String, startMs: Long, var endMs: Long, stageIds: Seq[Int])

final class StageRec(val id: Int) {
  var submitMs = 0L
  var completeMs = 0L
  var numTasks = 0
  var cpuNs = 0L
  var runMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteNs = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var cached = false
  var scan = false
  val taskMs = mutable.ArrayBuffer.empty[Long]
  def seconds: Double = (completeMs - submitMs) / 1e3
}

/** Collects job, stage and task figures for the traced run. Kept in memory
  * and read once, when the run ends. */
final class Collector extends SparkListener {
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val stages = mutable.HashMap.empty[Int, StageRec]
  /** SQL execution id -> the call site of the action that started it. */
  private val executions = mutable.HashMap.empty[Long, String]

  private def stage(id: Int) = stages.getOrElseUpdate(id, new StageRec(id))

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized(executions(x.executionId) = x.description)
    case _ =>
  }

  /** A job's call site. Adaptive execution submits query stages from a
    * thread pool, so a job inside a SQL execution takes the call site of
    * the action that started the execution. */
  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    val site = p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
      .flatMap(id => executions.get(id.toLong))
      .orElse(p.flatMap(x => Option(x.getProperty("callSite.short"))))
      .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name)) // an RDD action's result stage
      .getOrElse("")
    jobs += JobRec(e.jobId, site, e.time, e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val s = stage(i.stageId)
    s.submitMs = i.submissionTime.getOrElse(0L)
    s.completeMs = i.completionTime.getOrElse(s.submitMs)
    s.numTasks = i.numTasks
    s.cached = i.rddInfos.exists(_.storageLevel.isValid)
    s.scan = i.rddInfos.exists(_.name == "FileScanRDD")
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val s = stage(e.stageId)
      s.cpuNs += m.executorCpuTime
      s.runMs += m.executorRunTime
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.shuffleWriteNs += m.shuffleWriteMetrics.writeTime
      s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      s.spillBytes += m.diskBytesSpilled
      s.taskMs += m.executorRunTime
    }
  }
}

/** Records spans around each call into a layer. Spans are kept in every
  * run (they carry the FS deltas the read-op check needs); the listener
  * that gives them jobs and stages is registered only for a traced run. */
final class Tracer {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var depth = 0

  /** (read ops, write ops, bytes written). Op counts come from
    * [[CountingLocalFileSystem]] (installed in the traced run only). */
  private def fsTotals(): (Long, Long, Long) =
    (CountingLocalFileSystem.readOps.get, CountingLocalFileSystem.writeOps.get,
      org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala.map(_.getBytesWritten).sum)

  private def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum

  /** Time `f` as span `name`; the span is recorded whether `f` returns or
    * throws, and its exception propagates. */
  def span[T](name: String)(f: => T): T = {
    val (r0, w0, b0) = fsTotals()
    val g0 = gcMs()
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    depth += 1
    var ok = false
    try { val r = f; ok = true; r }
    finally {
      depth -= 1
      val secs = (System.nanoTime() - t0) / 1e9
      val ms1 = System.currentTimeMillis()
      val (r1, w1, b1) = fsTotals()
      spans += Span(name, depth, ms0, ms1, secs, (gcMs() - g0) / 1e3,
        r1 - r0, w1 - w0, b1 - b0, ok)
    }
  }
}
