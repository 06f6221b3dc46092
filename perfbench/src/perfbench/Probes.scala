package perfbench

import java.util.UUID
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import scala.jdk.CollectionConverters._

/** One micro-batch as the progress listener saw it. `commitMs` is the
  * batch's trigger start plus its triggerExecution time (wall clock);
  * `genMaxRv` is the newest rv the generator had published when the
  * progress event arrived. */
final case class Batch(batchId: Long, startRv: Long, endRv: Long,
    rows: Long, commitMs: Long, durations: Map[String, Long],
    stateRows: Long, stateMemBytes: Long, stateCommitMs: Long,
    droppedByWatermark: Long, genMaxRv: Long)

/** The benchmark's own StreamingQueryListener: records every progress
  * event per query run. `genMaxRv` is read from whichever stub the
  * caller registered for that run. */
final class ProgressLog extends StreamingQueryListener {
  private val batches = new ConcurrentHashMap[UUID, java.util.concurrent.ConcurrentLinkedQueue[Batch]]()
  private val gens = new ConcurrentHashMap[UUID, () => Long]()

  def watch(runId: UUID, genMaxRv: () => Long): Unit = gens.put(runId, genMaxRv)

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p: StreamingQueryProgress = e.progress
    if (p.sources.isEmpty) return
    val src = p.sources.head
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val ops = p.stateOperators
    val b = Batch(p.batchId, ProgressLog.rv(src.startOffset), ProgressLog.rv(src.endOffset),
      p.numInputRows,
      epochMs(p.timestamp) + d.getOrElse("triggerExecution", 0L), d,
      ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
      ops.map(_.commitTimeMs).sum, ops.map(_.numRowsDroppedByWatermark).sum,
      Option(gens.get(p.runId)).map(_()).getOrElse(0L))
    batches.computeIfAbsent(p.runId, _ => new java.util.concurrent.ConcurrentLinkedQueue[Batch]()).add(b)
  }

  private def epochMs(ts: String): Long = java.time.Instant.parse(ts).toEpochMilli

  /** Batches of one run in batch order, once the listener has caught up
    * with `lastBatchId` (progress events arrive asynchronously). */
  def of(runId: UUID, lastBatchId: Long): IndexedSeq[Batch] = {
    def got = Option(batches.get(runId)).map(_.asScala.toIndexedSeq).getOrElse(IndexedSeq.empty)
    Clock.await(5000)(lastBatchId < 0 || got.exists(_.batchId >= lastBatchId))
    got.sortBy(_.batchId)
  }
}

object ProgressLog {
  /** The resourceVersion a source offset JSON carries (0 before the first). */
  def rv(offset: String): Long =
    if (offset == null || offset.isEmpty || offset == "null") 0L
    else offset.trim.stripPrefix("\"").stripSuffix("\"").toLong
}

/** Engine-layer counters from the public SparkListener task metrics.
  * Attached only in the traced run. */
final class EngineProbe extends SparkListener {
  val jobs, tasks, shuffleWrite, shuffleRead, spill, scan, cpuNs, gcMs = new AtomicLong

  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      scan.addAndGet(m.inputMetrics.bytesRead)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
    }
  }

  def snapshot(): Map[String, Double] = Map(
    "engine.jobs" -> jobs.get.toDouble,
    "engine.tasks" -> tasks.get.toDouble,
    "engine.shuffle_write_bytes" -> shuffleWrite.get.toDouble,
    "engine.shuffle_read_bytes" -> shuffleRead.get.toDouble,
    "engine.spill_bytes" -> spill.get.toDouble,
    "engine.scan_bytes" -> scan.get.toDouble,
    "engine.executor_cpu_s" -> cpuNs.get / 1e9,
    "engine.gc_s" -> gcMs.get / 1e3)
}

object EngineProbe {
  def delta(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    b.map { case (k, v) => k -> (v - a.getOrElse(k, 0.0)) }
}
