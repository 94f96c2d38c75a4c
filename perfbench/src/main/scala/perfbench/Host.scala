package perfbench

import java.nio.file.{Files, Paths}

/** Host-noise record for every run: CPU steal over the run, from
  * /proc/stat, and the control query, which contains no engine code.
  */
object Host {

  /** The aggregate `cpu` line of /proc/stat (user … steal), or empty where
    * the file does not exist.
    */
  def procStat(): Array[Long] = {
    val p = Paths.get("/proc/stat")
    if (!Files.isReadable(p)) Array.empty
    else Files.readAllLines(p).get(0).trim.split("\\s+").drop(1).take(8).map(_.toLong)
  }

  /** Share of CPU time stolen by the hypervisor between two samples. */
  def stealFrac(a: Array[Long], b: Array[Long]): Double =
    if (a.length < 8 || b.length < 8) 0.0
    else {
      val total = b.sum - a.sum
      if (total <= 0) 0.0 else (b(7) - a(7)).toDouble / total
    }

  /** One run of `SparkEntry.queries("q_agg_lineitem")` over a 600 000-row
    * lineitem table; seconds.
    */
  def controlQuery(c: Ctx): Double = {
    val dir = c.inputs.lineitem()
    val t0 = System.nanoTime()
    graft.SparkEntry.queries("q_agg_lineitem")(c.spark, dir).collect()
    (System.nanoTime() - t0) / 1e9
  }
}
