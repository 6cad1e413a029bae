package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch nanoseconds with `nanoTime` resolution, so spans
  * line up with Spark's millisecond event timestamps. */
object Clock {
  private val ms0 = System.currentTimeMillis()
  private val ns0 = System.nanoTime()
  def now(): Long = ms0 * 1000000L + (System.nanoTime() - ns0)
  def fromMs(ms: Long): Long = ms * 1000000L
  def secs(ns: Long): Double = ns / 1e9
}

/** One traced interval. Spans of one query share `query`; `parent` is the
  * span that caused this one (0 for a root). */
final case class Span(id: Long, name: String, start: Long, end: Long,
    parent: Long, query: Long)

/** Totals of Spark's task and job events for one query. */
final class QueryAgg {
  var jobs, stages, tasks, emptyTasks = 0L
  var delayMs, runMs, deserMs, gcMs = 0L
  var cpuNs = 0L
  var swBytes, swRecords, srBytes, fetchWaitMs, spillDisk = 0L
  var inBytes, inRecords = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** In-memory tracer attached from outside the program: spans recorded by
  * the benchmark around public calls, plus Spark's public listener
  * interfaces. Nothing is written until the run ends. */
final class Tracer(spark: SparkSession) {
  /** Local properties naming the query and the span a job runs under. */
  val QueryProp = "perfbench.query"
  val SpanProp = "perfbench.span"
  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val perQuery = mutable.HashMap.empty[Long, QueryAgg]
  private val stageQuery = mutable.HashMap.empty[Int, Long]
  private val jobStart = mutable.HashMap.empty[Int, (Long, Long, Long)]
  private val blockBytes = mutable.HashMap.empty[String, Long]
  private var blockTotal = 0L
  private var blockPeak = 0L
  /** (analysis start ms, analysis ms, optimization ms, planning ms) */
  private val phases = mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
  @volatile private var attached = false

  def newId(): Long = ids.incrementAndGet()

  def span(id: Long, name: String, start: Long, end: Long, parent: Long,
      query: Long): Unit = synchronized { spans += Span(id, name, start, end, parent, query) }

  private def agg(q: Long): QueryAgg = perQuery.getOrElseUpdate(q, new QueryAgg)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        .map(_.toLong).getOrElse(0L)
      val q = prop(QueryProp)
      jobStart(e.jobId) = (q, prop(SpanProp), e.time)
      e.stageIds.foreach(s => stageQuery(s) = q)
      agg(q).jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStart.remove(e.jobId).foreach { case (q, parent, t0) =>
        agg(q).jobIntervals += ((Clock.fromMs(t0), Clock.fromMs(e.time)))
        spans += Span(newId(), "scheduler.job", Clock.fromMs(t0), Clock.fromMs(e.time), parent, q)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        agg(stageQuery.getOrElse(e.stageInfo.stageId, 0L)).stages += 1
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val a = agg(stageQuery.getOrElse(e.stageId, 0L))
        val info = e.taskInfo
        a.tasks += 1
        val shuffleIn = m.shuffleReadMetrics.recordsRead
        if (m.inputMetrics.recordsRead == 0 && shuffleIn == 0) a.emptyTasks += 1
        a.delayMs += math.max(0L, (info.finishTime - info.launchTime) - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          (if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L))
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.deserMs += m.executorDeserializeTime
        a.gcMs += m.jvmGCTime
        a.swBytes += m.shuffleWriteMetrics.bytesWritten
        a.swRecords += m.shuffleWriteMetrics.recordsWritten
        a.srBytes += m.shuffleReadMetrics.totalBytesRead
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.spillDisk += m.diskBytesSpilled
        a.inBytes += m.inputMetrics.bytesRead
        a.inRecords += m.inputMetrics.recordsRead
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = Tracer.this.synchronized {
      val b = e.blockUpdatedInfo
      val size = b.memSize + b.diskSize
      val key = b.blockManagerId.executorId + "/" + b.blockId.name
      blockTotal += size - blockBytes.getOrElse(key, 0L)
      if (size == 0) blockBytes.remove(key) else blockBytes(key) = size
      blockPeak = math.max(blockPeak, blockTotal)
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val p = qe.tracker.phases
      def ms(n: String) = p.get(n).map(_.durationMs).getOrElse(0L)
      val start = p.get("analysis").orElse(p.values.headOption).map(_.startTimeMs).getOrElse(0L)
      Tracer.this.synchronized {
        phases += ((start, ms("analysis"), ms("optimization"), ms("planning")))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    attached = true
  }

  def detach(): Unit = if (attached) {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    attached = false
  }

  def drain(): Unit = org.apache.spark.perfbench.BusDrain(spark.sparkContext)

  def resetBlockPeak(): Unit = synchronized { blockPeak = blockTotal }

  /** Per-layer totals over the queries `qs` (each `(id, start, end,
    * buildStart, buildEnd)` in epoch ns) that ran in `[t0, t1)`. */
  def layers(qs: Seq[(Long, Long, Long, Long, Long)], t0: Long, t1: Long,
      cores: Int): Map[String, Double] = synchronized {
    val as = qs.flatMap(q => perQuery.get(q._1))
    def sum(f: QueryAgg => Long): Double = as.map(f).sum.toDouble
    val tasks = sum(_.tasks)
    val gaps = qs.map { case (id, s, e, b0, b1) =>
      val busy = perQuery.get(id).map(_.jobIntervals.toSeq).getOrElse(Nil) :+ ((b0, b1))
      math.max(0L, (e - s) - Spans.union(busy.map { case (a, b) =>
        (math.max(a, s), math.min(b, e)) }))
    }
    val ph = phases.filter { case (st, _, _, _) => st >= t0 / 1000000L && st < t1 / 1000000L }
    val wall = Clock.secs(t1 - t0)
    Map(
      "scheduler.jobs" -> sum(_.jobs),
      "scheduler.stages" -> sum(_.stages),
      "scheduler.tasks" -> tasks,
      "scheduler.delay_s" -> sum(_.delayMs) / 1e3,
      "scheduler.empty_task_frac" -> (if (tasks > 0) sum(_.emptyTasks) / tasks else 0.0),
      "scheduler.driver_gap_s" -> Clock.secs(gaps.sum),
      "exec.run_s" -> sum(_.runMs) / 1e3,
      "exec.cpu_s" -> sum(_.cpuNs) / 1e9,
      "exec.deser_s" -> sum(_.deserMs) / 1e3,
      "exec.gc_s" -> sum(_.gcMs) / 1e3,
      "exec.busy_frac" -> sum(_.runMs) / 1e3 / (cores * wall),
      "shuffle.write_bytes" -> sum(_.swBytes),
      "shuffle.write_records" -> sum(_.swRecords),
      "shuffle.read_bytes" -> sum(_.srBytes),
      "shuffle.fetch_wait_s" -> sum(_.fetchWaitMs) / 1e3,
      "spill.disk_bytes" -> sum(_.spillDisk),
      "sources.bytes_read" -> sum(_.inBytes),
      "sources.rows_read" -> sum(_.inRecords),
      "storage.block_bytes_peak" -> blockPeak.toDouble,
      "catalyst.analysis_s" -> ph.map(_._2).sum / 1e3,
      "catalyst.optimization_s" -> ph.map(_._3).sum / 1e3,
      "catalyst.planning_s" -> ph.map(_._4).sum / 1e3,
    )
  }

  def allSpans: Seq[Span] = synchronized { spans.toList }

  /** Re-points each span's parent, for causes known only after the run. */
  def reparent(parent: Span => Long): Unit = synchronized {
    spans.mapInPlace(s => s.copy(parent = parent(s)))
  }
}

object Spans {
  /** Total length of the union of `[a, b)` intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total, curS, curE = 0L
    var open = false
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (!open || a > curE) {
        if (open) total += curE - curS
        curS = a; curE = b; open = true
      } else curE = math.max(curE, b)
    }
    if (open) total += curE - curS
    total
  }
}

/** JVM-wide GC time and heap high-water mark, sampled around a pass. */
object Jvm {
  private def gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def gcMs(): Long = gcs.map(_.getCollectionTime).filter(_ >= 0).sum

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  def flags: Seq[String] =
    ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
      .filter(a => a.startsWith("-X") || a.startsWith("-XX"))

  def heapMaxMb: Double = Runtime.getRuntime.maxMemory / 1048576.0
}
