package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{Success, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.storage.RDDBlockId

/** The engine layer as the listeners see it: task work per job label and
  * per benchmark span, job intervals (for driver gaps), block-manager bytes
  * (for the storage peak and evictions), and streaming progress. Counters
  * are cumulative; a workload takes [[snapshot]]s around its timed window
  * and reports the difference.
  */
final class SparkLayer(sc: SparkContext) extends SparkListener {
  import SparkLayer._

  private val byLabel = mutable.Map.empty[String, Work]
  private val bySpan = mutable.Map.empty[String, Work]
  private val total = new Work
  private val jobLabel = mutable.Map.empty[Int, (String, String)]
  private val jobStartMs = mutable.Map.empty[Int, Long]
  private val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private var jobs = 0L
  private var unlabeledJobs = 0L
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageTaskRun = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val blocks = mutable.Map.empty[(String, String), (Long, Long)]
  private var blockBytes = 0L
  private var peakBytes = 0L
  private var evicted = 0L
  private val unpersisted = mutable.Set.empty[Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    val label = p.flatMap(x => Option(x.getProperty("spark.job.description")))
    val span = p.flatMap(x => Option(x.getProperty(Tracer.SpanProperty))).getOrElse("(none)")
    jobLabel(e.jobId) = (label.getOrElse("(none)"), span)
    jobStartMs(e.jobId) = e.time
    jobs += 1
    if (label.isEmpty) unlabeledJobs += 1
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStartMs.remove(e.jobId).foreach(s => jobIntervals += ((s, e.time)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val i = e.taskInfo
    val (label, span) = stageJob.get(e.stageId).flatMap(jobLabel.get).getOrElse(("(none)", "(none)"))
    val w = Seq(total, byLabel.getOrElseUpdate(label, new Work), bySpan.getOrElseUpdate(span, new Work))
    val failed = e.reason != Success
    w.foreach { x =>
      x.tasks += 1
      if (failed) x.failedTasks += 1
      x.durationMs += i.duration
    }
    if (m != null) {
      val sched = math.max(0L, i.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - i.gettingResultTime)
      w.foreach { x =>
        x.runMs += m.executorRunTime
        x.cpuNs += m.executorCpuTime
        x.gcMs += m.jvmGCTime
        x.schedMs += sched
        x.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        x.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        x.spill += m.diskBytesSpilled
        x.inputBytes += m.inputMetrics.bytesRead
        x.outputBytes += m.outputMetrics.bytesWritten
      }
      stageTaskRun.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    val key = (b.blockId.name, b.blockManagerId.executorId)
    val (prevMem, prevDisk) = blocks.getOrElse(key, (0L, 0L))
    val rdd = b.blockId match { case RDDBlockId(id, _) => Some(id); case _ => None }
    // an RDD block leaving memory while its RDD is still persisted: the
    // block manager evicted it (an unpersist removes blocks silently)
    if (rdd.exists(id => !unpersisted(id)) && prevMem > 0 && b.memSize == 0) evicted += 1
    blockBytes -= prevMem + prevDisk
    if (b.storageLevel.isValid) {
      blocks(key) = (b.memSize, b.diskSize)
      blockBytes += b.memSize + b.diskSize
    } else blocks.remove(key)
    peakBytes = math.max(peakBytes, blockBytes)
  }

  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    unpersisted += e.rddId
    val prefix = s"rdd_${e.rddId}_"
    blocks.keys.filter(_._1.startsWith(prefix)).toList.foreach { k =>
      val (m, d) = blocks.remove(k).get
      blockBytes -= m + d
    }
  }

  /** Wait until every event posted so far has reached the listeners. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  /** Cumulative counters now; starts a fresh storage-peak interval. */
  def snapshot(): Snap = {
    drain()
    synchronized {
      val s = Snap(System.currentTimeMillis(), total.copyOf, jobs, unlabeledJobs, peakBytes,
        jobIntervals.length, stageTaskRun.keySet.toSet, evicted,
        codegenCount, codegenMs)
      peakBytes = blockBytes
      s
    }
  }

  /** Engine-layer figures between two snapshots, `cores` task slots. */
  def between(a: Snap, b: Snap, cores: Int): Engine = synchronized {
    val wallMs = math.max(1L, b.atMs - a.atMs)
    val ivs = jobIntervals.slice(a.nIntervals, b.nIntervals)
      .map { case (s, e) => (math.max(s, a.atMs), math.min(e, b.atMs)) }
    val w = b.work.minus(a.work)
    val newStages = stageTaskRun.filter { case (id, _) => !a.stages(id) && b.stages(id) }
    val straggler = if (newStages.isEmpty) 1.0 else {
      val heavy = newStages.values.maxBy(_.sum)
      val med = Stats.median(heavy.map(_.toDouble).toSeq)
      if (med <= 0) 1.0 else heavy.max / med
    }
    Engine(w, b.jobs - a.jobs, b.unlabeled - a.unlabeled, b.peakBytes,
      (wallMs - Stats.covered(ivs.toSeq)) / 1e3,
      w.durationMs.toDouble / (wallMs * cores), straggler, b.evicted - a.evicted,
      b.codegenCount - a.codegenCount, b.codegenMs - a.codegenMs)
  }

  def labelBreakdown: Map[String, Work] = synchronized(byLabel.map { case (k, v) => k -> v.copyOf }.toMap)
  def spanBreakdown: Map[String, Work] = synchronized(bySpan.map { case (k, v) => k -> v.copyOf }.toMap)
}

object SparkLayer {

  /** Task work summed over a set of tasks. */
  final class Work {
    var tasks, failedTasks, durationMs, runMs, cpuNs, gcMs, schedMs = 0L
    var shuffleWrite, shuffleRead, spill, inputBytes, outputBytes = 0L
    private def fields = Seq(tasks, failedTasks, durationMs, runMs, cpuNs, gcMs, schedMs,
      shuffleWrite, shuffleRead, spill, inputBytes, outputBytes)
    private def set(v: Seq[Long]): Work = {
      val Seq(a, b, c, d, e, f, g, h, i, j, k, l) = v
      tasks = a; failedTasks = b; durationMs = c; runMs = d; cpuNs = e; gcMs = f; schedMs = g
      shuffleWrite = h; shuffleRead = i; spill = j; inputBytes = k; outputBytes = l
      this
    }
    def copyOf: Work = new Work().set(fields)
    def minus(o: Work): Work = new Work().set(fields.zip(o.fields).map { case (x, y) => x - y })
    def toJson: String =
      f"""{"tasks":$tasks,"failed_tasks":$failedTasks,"task_run_s":${runMs / 1e3}%.3f,""" +
        f""""task_cpu_s":${cpuNs / 1e9}%.3f,"gc_s":${gcMs / 1e3}%.3f,"sched_delay_s":${schedMs / 1e3}%.3f,""" +
        f""""shuffle_write_mb":${shuffleWrite / MB}%.3f,"shuffle_read_mb":${shuffleRead / MB}%.3f,""" +
        f""""spill_mb":${spill / MB}%.3f,"input_mb":${inputBytes / MB}%.3f,"output_mb":${outputBytes / MB}%.3f}"""
  }

  final case class Snap(atMs: Long, work: Work, jobs: Long, unlabeled: Long, peakBytes: Long,
                        nIntervals: Int, stages: Set[Int], evicted: Long,
                        codegenCount: Long, codegenMs: Double)

  final case class Engine(work: Work, jobs: Long, unlabeledJobs: Long, storagePeakBytes: Long,
                          driverGapS: Double, slotBusyFrac: Double, stragglerRatio: Double,
                          blocksEvicted: Long, codegenCompiles: Long, codegenCompileMs: Double)

  val MB: Double = 1024.0 * 1024.0

  private def compileHist = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
  def codegenCount: Long = compileHist.getCount
  /** Janino compile time so far, ms (histogram mean × count). */
  def codegenMs: Double = compileHist.getSnapshot.getMean * compileHist.getCount
}

/** Micro-batch progress of the streaming queries, as Spark reports it. */
final class StreamLayer extends StreamingQueryListener {
  import StreamingQueryListener._
  final case class Batch(batchId: Long, durations: Map[String, Long])
  private val batches = mutable.ArrayBuffer.empty[Batch]

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    if (p.numInputRows > 0)
      batches += Batch(p.batchId, p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
  }

  def all: Seq[Batch] = synchronized(batches.toList)
  def clear(): Unit = synchronized(batches.clear())
}
