package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import graft.GraftSession

/** One timed unit of a workload: its wall time, the input parquet bytes it
  * read, the latencies it observed (one per unit for batch-shaped work, one
  * per slice for streaming) and its rate in docs per second.
  */
final case class Rep(wallS: Double, inputBytes: Long, latenciesS: Seq[Double], docsPerS: Double)

final case class Metric(value: Double, unit: String)

/** A workload: generates its inputs, sets up (models, warm-up), runs timed
  * units, reports its per-layer figures from a traced unit and checks its
  * outputs after timing.
  */
trait Workload {
  def prepare(c: Ctx): Unit
  def setup(c: Ctx): Unit
  def unit(c: Ctx, traced: Boolean): Rep
  /** Timed units per run at least, however short `--seconds`. */
  def minUnits: Int
  /** Workload-specific per-layer metrics of the last traced unit. */
  def layers: Map[String, Metric]
  /** Correctness gates over the last unit's outputs (and, after a traced
    * unit, the equality of traced and untraced outputs).
    */
  def gates(c: Ctx, traced: Boolean): Unit
}

/** Run-wide state shared by the workloads. */
final class Ctx(val spark: SparkSession, val workload: String, val seed: Long,
                val seconds: Int, val trace: Boolean, val work: Path,
                val cores: Int) {
  val inputs = new Inputs(spark, Files.createDirectories(work.resolve("data")))
  val tracer = new Tracer(trace, workload, spark.sparkContext)
  val engine = new SparkLayer(spark.sparkContext)
  val stream = new StreamLayer
  spark.sparkContext.addSparkListener(engine)
  spark.streams.addListener(stream)

  /** Models trained in set-up, for the kernels of the traced run. */
  var models: Option[graft.stages.Models] = None
  var attempted = 0L
  var failed = 0L
  private var genNs = 0L

  /** Input generation: timed separately and excluded from set-up time. */
  def gen[T](f: => T): T = {
    val t0 = System.nanoTime()
    try f finally genNs += System.nanoTime() - t0
  }
  def genS: Double = genNs / 1e9

  /** A correctness gate; an exception counts as a failure. */
  def check(name: String)(ok: => Boolean): Unit = {
    attempted += 1
    val pass = try ok catch {
      case e: Throwable => Bench.log(s"gate $name threw: $e"); false
    }
    if (!pass) { failed += 1; Bench.log(s"GATE FAILED: $name") }
    else Bench.log(s"gate ok: $name")
  }

  /** A fresh, empty scratch directory under the run's work area. */
  def scratch(name: String): Path = {
    val p = work.resolve("scratch").resolve(name)
    Bench.deleteTree(p)
    Files.createDirectories(p)
  }

  /** Free every block left pinned by a finished unit (measurement hygiene:
    * the next unit must not start by evicting this one's checkpoints).
    */
  def reap(): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

}

/** Entry point: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --out <result.json>`. Writes one JSON result object to `--out`; the
  * wrapper `run.py` prints it as the last stdout line.
  */
object Bench {
  val workloads: Map[String, Workload] = Map(
    "batch_full" -> BatchFull,
    "stream_landing" -> StreamLanding)

  /** The end-to-end metrics, in BENCHMARK.json order: (name, unit). */
  val EndToEnd: Seq[(String, String)] = Seq("docs_per_s" -> "docs/s", "latency_p50_s" -> "s",
    "storage_peak_mb" -> "MB", "write_amp" -> "ratio", "setup_s" -> "s")

  def log(s: String): Unit = System.err.println(s"[perfbench] $s")

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally s.close()
  }

  def session(cores: Int, local: Path): SparkSession = {
    val s = GraftSession.tune(SparkSession.builder())
      .master(s"local[$cores]")
      .appName("perfbench")
      // the partitioning rule of the engine's own scaling harness
      // (ScalingBench.session): 4 partitions per core for skew headroom
      .config("spark.sql.shuffle.partitions", (4 * cores).toString)
      .config("spark.default.parallelism", (4 * cores).toString)
      .config("spark.sql.files.maxPartitionBytes", "32m")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", local.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def arg(args: Array[String], k: String): String = {
    val i = args.indexOf(s"--$k")
    require(i >= 0 && i + 1 < args.length, s"missing --$k")
    args(i + 1)
  }

  def main(args: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val name = arg(args, "workload")
    val w = workloads.getOrElse(name, throw new IllegalArgumentException(
      s"unknown workload $name (known: ${workloads.keys.toSeq.sorted.mkString(", ")})"))
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toInt
    val trace = arg(args, "trace") == "1"
    val out = Paths.get(arg(args, "out"))
    val work = Paths.get(".bench_build", "perfbench").toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors
    val cpu0 = Host.procStat()
    val spark = session(cores, Files.createDirectories(work.resolve("spark-local")))
    val c = new Ctx(spark, name, seed, seconds, trace, work, cores)
    try {
      // input preparation, excluded from set-up time: generation (or the
      // cache), then the first run of the control query, so that set-up
      // never pays the first Spark jobs' cold start, cached inputs or not
      c.gen {
        w.prepare(c)
        Host.controlQuery(c)
      }
      w.setup(c)
      val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3 - c.genS
      log(f"setup $setupS%.2f s (generation ${c.genS}%.2f s excluded)")

      val metrics: Map[String, Metric] =
        if (!trace) {
          val units = scala.collection.mutable.ArrayBuffer.empty[Rep]
          val s0 = c.engine.snapshot()
          val t0 = System.nanoTime()
          while (units.length < w.minUnits || (System.nanoTime() - t0) / 1e9 < seconds) {
            c.attempted += 1
            units += w.unit(c, traced = false)
            log(f"unit ${units.length}: ${units.last.wallS}%.3f s")
          }
          val s1 = c.engine.snapshot()
          val eng = c.engine.between(s0, s1, cores)
          val values = Map(
            "setup_s" -> setupS,
            "docs_per_s" -> Stats.median(units.map(_.docsPerS).toSeq),
            "latency_p50_s" -> Stats.median(units.flatMap(_.latenciesS).toSeq),
            "storage_peak_mb" -> eng.storagePeakBytes / SparkLayer.MB,
            "write_amp" -> Stats.writeAmp(eng.work.outputBytes, eng.work.shuffleWrite,
              eng.work.spill, units.map(_.inputBytes).sum))
          EndToEnd.map { case (n, u) => n -> Metric(values(n), u) }.toMap
        } else Traced.run(c, w)
      w.gates(c, trace)
      val control = Host.controlQuery(c) // compiled during preparation
      val steal = Host.stealFrac(cpu0, Host.procStat())
      log(f"host: control $control%.3f s, steal ${steal * 100}%.2f %%")
      val all = if (!trace) metrics
        else metrics ++ Map("host.control_s" -> Metric(control, "s"),
          "host.steal_frac" -> Metric(steal, "ratio"))
      c.check("every metric is a finite number")(all.values.forall(m => java.lang.Double.isFinite(m.value)))
      val json = all.toSeq.sortBy(_._1).map { case (k, m) =>
        val v = if (java.lang.Double.isFinite(m.value)) m.value else 0.0
        s""""$k":{"value":$v,"unit":"${m.unit}"}""" }.mkString("{", ",", "}")
      val extra = Operators.twinsJson(c)
      Files.writeString(out,
        s"""{"correct":${c.failed == 0},"attempted":${c.attempted},"failed":${c.failed},""" +
          s""""metrics":$json,"twins":$extra}""")
    } finally {
      spark.stop()
      deleteTree(work.resolve("scratch"))
    }
  }
}
