package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Cumulative Spark execution counters, read as snapshots at pass and
  * span boundaries. */
final case class Counts(
    jobs: Long, stages: Long, tasks: Long, taskMs: Long, schedWaitMs: Long,
    shuffleRead: Long, shuffleWrite: Long, spill: Long, failedTasks: Long, gcMs: Long) {
  def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    taskMs - o.taskMs, schedWaitMs - o.schedWaitMs, shuffleRead - o.shuffleRead,
    shuffleWrite - o.shuffleWrite, spill - o.spill, failedTasks - o.failedTasks, gcMs - o.gcMs)
}

/** SparkListener ledger: jobs, stages, tasks, summed task run time, the
  * time tasks waited for a core after their stage was submitted, shuffle
  * and spill bytes, failed tasks. GC time comes from the JVM's collector
  * beans, because in local mode every task shares one JVM and the
  * per-task GC figures overlap. */
final class Ledger extends SparkListener {
  private val jobs, stages, tasks, taskMs, waitMs, shufRead, shufWrite, spill, failed =
    new AtomicLong
  private val submitted = new ConcurrentHashMap[(Int, Int), java.lang.Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(t =>
      submitted.put((e.stageInfo.stageId, e.stageInfo.attemptNumber()), t))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    submitted.remove((e.stageInfo.stageId, e.stageInfo.attemptNumber()))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    if (!e.taskInfo.successful) failed.incrementAndGet()
    Option(submitted.get((e.stageId, e.stageAttemptId))).foreach(s =>
      waitMs.addAndGet(math.max(0L, e.taskInfo.launchTime - s)))
    val m = e.taskMetrics
    if (m != null) {
      taskMs.addAndGet(m.executorRunTime)
      shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.diskBytesSpilled)
    }
  }

  /** Counters after every event posted so far has been delivered. */
  def snap(sc: SparkContext): Counts = {
    org.apache.spark.BenchAccess.drain(sc)
    Counts(jobs.get, stages.get, tasks.get, taskMs.get, waitMs.get, shufRead.get,
      shufWrite.get, spill.get, failed.get, Heap.gcMs())
  }
}

/** Progress reports of every micro-batch of every streaming query the
  * session runs, including those started inside registry queries. */
final class StreamProgress extends StreamingQueryListener {
  private val seen = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    seen.add(e.progress)

  /** Reports delivered so far, removed from the listener. */
  def take(): Seq[StreamingQueryProgress] =
    Iterator.continually(seen.poll()).takeWhile(_ != null).toSeq

  /** The streaming layer's counters over a set of reports: data batches,
    * summed phase durations, and the state held after each query's last
    * batch. */
  def layer(ps: Seq[StreamingQueryProgress]): Map[String, Double] = {
    def sumS(keys: String*) =
      ps.map(pr => keys.map(k => Option(pr.durationMs.get(k)).map(_.toLong).getOrElse(0L)).sum).sum / 1e3
    val last = ps.groupBy(_.id).values.map(_.maxBy(_.batchId)).toSeq.flatMap(_.stateOperators)
    Map(
      "streaming.batches" -> ps.count(_.numInputRows > 0).toDouble,
      "streaming.add_batch_s" -> sumS("addBatch"),
      "streaming.query_planning_s" -> sumS("queryPlanning"),
      "streaming.wal_commit_s" -> sumS("walCommit", "commitOffsets"),
      "streaming.state_commit_s" -> ps.flatMap(_.stateOperators).map(_.commitTimeMs).sum / 1e3,
      "streaming.state_rows" -> last.map(_.numRowsTotal).sum.toDouble,
      "streaming.state_mb" -> last.map(_.memoryUsedBytes).sum / 1e6)
  }
}

/** JVM heap and GC readings. */
object Heap {
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Heap still in use after a full collection: what the engine retains.
    * (Occupancy after the collections inside a pass is no steady measure
    * of the live set under G1: the old generation keeps garbage until a
    * marking cycle, and runs read 150 MB or 1.8 GB for the same work.) */
  def retainedBytes(): Long = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }
}
