package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.execution.FormattedMode

/** Dev tool: time declared queries and show where their seconds go.
  *
  * Usage: runMain graft.Probe <name[,name...]> [reps] [planDir]
  * Env: SPARK_GRAFT_SF_DIR and SPARK_GRAFT_CPUS, as in Bench.
  *
  * After Bench's warm-up, each query runs `reps` times (default 3), timed
  * like Bench (construction + count, checkpoints reaped after each run),
  * and its min and median are printed. Every Spark job of the last (warm)
  * rep is printed with its wall time and label. With `planDir`, the warm
  * rep's formatted physical plan is written to `<planDir>/<name>.txt`.
  */
object Probe {
  /** Local property marking the warm rep's jobs: the listener runs
    * asynchronously, so it reads the rep from the job, not from a flag.
    */
  private val WarmRep = "graft.probe.warm"

  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val reps = if (args.length > 1) args(1).toInt else 3
    val planDir = args.lift(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    val sc = spark.sparkContext
    val started = new java.util.concurrent.ConcurrentHashMap[Int, SparkListenerJobStart]()
    sc.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty(WarmRep) != null)) started.put(j.jobId, j)
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        Option(started.remove(j.jobId)).foreach { s =>
          val p = s.properties
          val label = Option(p.getProperty("spark.job.description")).getOrElse("")
          println(f"[job] ${p.getProperty(WarmRep)} ${j.jobId}%5d " +
            f"${(j.time - s.time) / 1e3}%8.3f s  $label")
        }
    })
    planDir.foreach(d => Files.createDirectories(Paths.get(d)))
    Bench.warmUp(spark, sfDir)
    names.foreach { name =>
      try {
        val fn = SparkEntry.queries(name)
        val ts = (1 to reps).map { r =>
          val warm = r == reps
          if (warm) sc.setLocalProperty(WarmRep, name)
          try {
            val t0 = System.nanoTime()
            val df = fn(spark, sfDir)
            val built = System.nanoTime()
            if (warm) planDir.foreach(d => Files.writeString(Paths.get(d, s"$name.txt"),
              df.queryExecution.explainString(FormattedMode)))
            val counted = System.nanoTime()
            df.count()
            (built - t0 + System.nanoTime() - counted) / 1e9
          } finally {
            sc.setLocalProperty(WarmRep, null)
            ScalingBench.reapCheckpoints(spark)
          }
        }.sorted
        println(f"[probe] $name%-24s min=${ts.head}%7.3f med=${ts(ts.length / 2)}%7.3f " +
          ts.map(t => f"$t%.3f").mkString("[", ",", "]"))
      } catch {
        case e: Throwable => System.err.println(s"[probe] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
