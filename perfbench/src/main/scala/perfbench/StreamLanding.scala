package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import graft.cascade.Cascade
import graft.io.TableIO
import graft.stages.Models
import graft.streaming.StreamingFilter

/** `stream_landing`: an open loop. Pre-generated disjoint slices are
  * atomically renamed into a landing directory on a fixed schedule;
  * `StreamingFilter.microBatchCascade` (one file per trigger, processing-time
  * trigger) labels each slice with the full cascade and the benchmark's sink
  * commits it with `TableIO.write`. A slice's latency runs from its
  * *scheduled* landing to the end of its commit, so a stall also delays the
  * slices behind it.
  */
object StreamLanding extends Workload {
  import CascadeJob._

  val SliceDocs = 1000L
  /** Landing period: below the sustainable rate (see README.md). */
  val PeriodS = 6.0
  val TriggerMs = 100L
  /** Timed slices per window at least: the median of three is robust to
    * the first still warming.
    */
  val MinSlices = 3
  /** One unit is the whole landing window. */
  val minUnits = 1
  private val Table = "labeled"

  private var slices: Inputs.Pages = _
  private var models: Models = _
  private var nSlices = 0
  private var lastRoot: Path = _

  def prepare(c: Ctx): Unit = {
    nSlices = math.max(MinSlices, math.ceil(c.seconds / PeriodS).toInt)
    slices = c.inputs.slices(c.seed, nSlices, SliceDocs)
  }

  private def sliceFile(i: Int): Path = {
    val s = Files.list(Paths.get(slices.input, s"slice=$i"))
    try s.filter(_.toString.endsWith(".parquet")).findFirst().get() finally s.close()
  }

  private def refRoot(c: Ctx): String = c.work.resolve("scratch/stream_ref").toString

  def setup(c: Ctx): Unit = {
    models = train(c.spark, slices)
    c.models = Some(models)
    // the batch labels of every slice, for the gate after the window;
    // computing them first also warms the cascade's code before timing
    val root = c.scratch("stream_ref").toString
    (0 until nSlices).foreach(i => TableIO.write(labeledTable(Cascade.run(
      read(c.spark, sliceFile(i).toString), Cfg, Some(models), Exemplars)), root, s"slice_$i"))
    c.reap()
  }

  /** One unit: land every slice, one per PeriodS, into a fresh landing
    * directory with a running query, wait for every slice's commit, stop
    * the query. The rep has one latency per slice.
    */
  def unit(c: Ctx, traced: Boolean): Rep = {
    val dir = if (traced) "stream_traced" else "stream_untraced"
    val base = c.scratch(dir)
    val landing = Files.createDirectories(base.resolve("landing"))
    val root = base.resolve("out").toString
    val staged = Files.createDirectories(base.resolve("staged"))
    // copies on the landing filesystem, so each landing is one atomic rename
    val files = (0 until nSlices).map { i =>
      Files.copy(sliceFile(i), staged.resolve(f"slice-$i%04d.parquet"))
    }
    val inputBytes = files.map(f => Files.size(f)).sum
    val schema = c.spark.read.parquet(files.head.toString).schema
    val commitEnd = new ConcurrentHashMap[Long, Long]()
    val unitSpan = c.tracer.current
    val src = c.spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
      .parquet(landing.toString)
    c.stream.clear()
    val q = StreamingFilter.microBatchCascade(src, Cfg, Some(models), Exemplars) {
      (labeled: DataFrame, batchId: Long) =>
        c.tracer.span("io.commit", parent = Some(unitSpan))(
          TableIO.write(labeledTable(labeled), root, Table))
        commitEnd.put(batchId, System.nanoTime())
    }.trigger(Trigger.ProcessingTime(TriggerMs))
      .option("checkpointLocation", base.resolve("ckpt").toString)
      .start()
    val landedAt = new Array[Long](files.length)
    val t0 = System.nanoTime() + 200L * 1000000L
    val due = files.indices.map(i => t0 + (i * PeriodS * 1e9).toLong)
    try {
      files.zipWithIndex.foreach { case (f, i) =>
        val wait = (due(i) - System.nanoTime()) / 1000000L
        if (wait > 0) Thread.sleep(wait)
        c.tracer.span("streaming.land", parent = Some(unitSpan))(
          Files.move(f, landing.resolve(f.getFileName), StandardCopyOption.ATOMIC_MOVE))
        landedAt(i) = System.nanoTime()
      }
      // stop only after the last trigger has finished and reported
      val deadline = System.nanoTime() + 120L * 1000000000L
      while (q.isActive && System.nanoTime() < deadline &&
        q.recentProgress.count(_.numInputRows > 0) < files.length) Thread.sleep(20)
    } finally {
      q.stop()
    }
    q.exception.foreach(e => throw e)
    require(commitEnd.size == files.length,
      s"${commitEnd.size} of ${files.length} slices committed within the deadline")
    c.engine.drain()
    lastRoot = base
    // micro-batch k carries the k-th landed slice (one file per trigger,
    // taken in landing order); the committed-once gate verifies it
    val ends = (0 until files.length).map(k => commitEnd.get(k.toLong).longValue)
    val latencies = ends.zip(due).map { case (e, d) => (e - d) / 1e9 }
    val batches = c.stream.all
    if (traced) recordStreaming(c, unitSpan, batches, due, landedAt, ends)
    val triggerS = batches.map(_.durations.getOrElse("triggerExecution", 0L) / 1e3)
    Bench.log(s"$dir: latencies ${latencies.map(x => f"$x%.2f").mkString(" ")} s, " +
      s"triggers ${triggerS.map(x => f"$x%.2f").mkString(" ")} s")
    c.reap()
    Rep((ends.max - t0) / 1e9, inputBytes, latencies, SliceDocs / Stats.median(triggerS))
  }

  private var streamMetrics = Map.empty[String, Metric]

  private def recordStreaming(c: Ctx, unitSpan: Int, batches: Seq[StreamLayer#Batch],
                              due: Seq[Long], landed: Seq[Long], ends: Seq[Long]): Unit = {
    def p50(key: String): Double = Stats.median(batches.map(_.durations.getOrElse(key, 0L).toDouble))
    // the trigger's own span, placed from its progress report: it starts
    // `triggerExecution` ms before the commit that ends it
    val starts = batches.sortBy(_.batchId).zipWithIndex.map { case (b, k) =>
      val start = ends(k) - b.durations.getOrElse("triggerExecution", 0L) * 1000000L
      c.tracer.record("streaming.trigger", unitSpan, start, ends(k))
      start
    }
    val queueWait = starts.zip(landed).map { case (s, l) => math.max(0L, s - l) / 1e9 }
    val backlog = landed.map(l => landed.count(_ <= l) - ends.count(_ <= l))
    val lat = ends.zip(due).map { case (e, d) => (e - d) / 1e9 }
    val tail = Stats.tail(lat)
    streamMetrics = Map(
      "streaming.batches" -> Metric(batches.size, "count"),
      "streaming.trigger_ms_p50" -> Metric(p50("triggerExecution"), "ms"),
      "streaming.add_batch_ms_p50" -> Metric(p50("addBatch"), "ms"),
      "streaming.planning_ms_p50" -> Metric(p50("queryPlanning"), "ms"),
      "streaming.offsets_ms_p50" -> Metric(p50("latestOffset"), "ms"),
      "streaming.queue_wait_s_p50" -> Metric(Stats.median(queueWait), "s"),
      "streaming.backlog_max" -> Metric(backlog.max, "count"),
      "streaming.generator_late_s" -> Metric(landed.zip(due).map { case (l, d) => (l - d) / 1e9 }.max, "s"),
      "streaming.latency_tail_s" -> Metric(tail.map(_._2).getOrElse(0.0), "s"),
      "streaming.latency_tail_pct" -> Metric(tail.map(_._1).getOrElse(0.0), "pct"))
  }

  def layers: Map[String, Metric] = streamMetrics

  def gates(c: Ctx, traced: Boolean): Unit = {
    val spark = c.spark
    if (traced) {
      def all(dir: String): DataFrame = {
        val root = c.work.resolve(s"scratch/$dir/out").toString
        TableIO.readManifest(root, Table).get.snapshots
          .map(s => TableIO.read(spark, root, Table, Some(s.id))).reduce(_.unionByName(_))
      }
      c.check("stream_landing: traced labels equal untraced")(
        Gates.sameRows(all("stream_untraced"), all("stream_traced")))
    }
    val root = lastRoot.resolve("out").toString
    val snaps = TableIO.readManifest(root, Table).map(_.snapshots).getOrElse(Nil)
    c.check(s"stream_landing: $nSlices slices, one committed snapshot each")(
      snaps.length == nSlices)
    val truth = spark.read.parquet(slices.truth)
    snaps.zipWithIndex.foreach { case (snap, i) =>
      val got = TableIO.read(spark, root, Table, Some(snap.id))
      val input = read(spark, sliceFile(i).toString)
      c.check(s"stream_landing: slice $i committed exactly once")(
        snap.rows == survivors(input) && got.select("url").distinct().count() == snap.rows &&
          got.join(truth.filter(col("slice") === i), Seq("url"), "left_anti").isEmpty)
      c.check(s"stream_landing: slice $i labels equal a batch Cascade.run")(
        Gates.sameRows(got, TableIO.read(spark, refRoot(c), s"slice_$i")))
    }
  }
}
