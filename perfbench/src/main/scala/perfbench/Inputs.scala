package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.PagesGen

/** Seeded inputs, generated once per (kind, seed, size) under the
  * benchmark's data directory and reused by later runs. Generation is never
  * inside a timed region. Every corpus comes from `PagesGen.row`: 21 planted
  * defect classes at 30 %, with 30 % of rows on `bighost.example`.
  */
final class Inputs(spark: SparkSession, dataDir: Path) {
  import Inputs._

  /** Write `df` to `<dataDir>/<name>` unless it is already there; the
    * directory appears by an atomic rename, so a killed run leaves no
    * half-written cache entry.
    */
  private def cached(name: String)(write: String => Unit): String = {
    val dst = dataDir.resolve(name)
    if (!Files.exists(dst)) {
      val tmp = dataDir.resolve(s"$name.tmp-${ProcessHandle.current().pid()}")
      Bench.deleteTree(tmp)
      write(tmp.toString)
      Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
    }
    dst.toString
  }

  private def rows(ids: DataFrame, seed: Long): DataFrame = {
    import spark.implicits._
    ids.as[Long].map(id => PagesGen.row(id, seed, PagesGen.AllClasses)).toDF()
      .withColumn("doc_id", regexp_extract(col("url"), "/p/(\\d+)$", 1).cast("long"))
  }

  /** `n` pages: `<dir>/input` holds the input_hint relation, `<dir>/truth`
    * the planted truth by url (doc_id, ge, ge_check, expected_text, clazz).
    */
  def pages(seed: Long, n: Long): Pages = {
    val dir = cached(s"pages_s${seed}_n$n") { p =>
      val df = rows(spark.range(n).toDF(), seed).persist()
      df.select(InputCols.map(col): _*).write.parquet(s"$p/input")
      df.select(TruthCols.map(col): _*).write.parquet(s"$p/truth")
      df.unpersist()
    }
    Pages(s"$dir/input", s"$dir/truth")
  }

  /** `k` disjoint slices of `n` pages each: `<dir>/input/slice=<i>/` holds
    * slice i (ids [i·n, (i+1)·n)) as one parquet file of the input_hint
    * relation; `<dir>/truth` the planted truth of all slices.
    */
  def slices(seed: Long, k: Int, n: Long): Pages = {
    val dir = cached(s"slices_s${seed}_k${k}_n$n") { p =>
      val df = rows(spark.range(k * n).toDF(), seed)
        .withColumn("slice", (col("doc_id") / n).cast("int")).persist()
      df.select((InputCols :+ "slice").map(col): _*)
        .repartition(k, col("slice")).write.partitionBy("slice").parquet(s"$p/input")
      df.select((TruthCols :+ "slice").map(col): _*).write.parquet(s"$p/truth")
      df.unpersist()
    }
    Pages(s"$dir/input", s"$dir/truth")
  }

  /** The documents table of the text operators: (doc_id, text). */
  def documents(seed: Long, n: Long): String =
    cached(s"documents_s${seed}_n$n")(p =>
      rows(spark.range(n).toDF(), seed).select("doc_id", "text").write.parquet(p))

  /** `n` seeded `array<float>` vectors of dimension [[Dim]], shaped like the
    * driver's embeddings table (vec_id, embedding, label). A share of
    * [[NearDupPct]] percent are planted near-duplicates: a copy of an
    * earlier vector plus small noise; `label` is 1 on those.
    */
  def vectors(seed: Long, n: Long): String =
    cached(s"vectors_s${seed}_n$n") { p =>
      import spark.implicits._
      spark.range(n).as[Long].map { id =>
        val dup = id > 0 && new scala.util.Random(seed * 7919L + id).nextInt(100) < NearDupPct
        val src = if (dup) Math.floorMod(new scala.util.Random(seed + id).nextLong(), id) else id
        val base = new scala.util.Random(seed * 1000003L + src)
        val noise = new scala.util.Random(seed * 31L + id)
        val v = Array.fill(Dim)(base.nextGaussian().toFloat)
        if (dup) for (j <- v.indices) v(j) += (0.05 * noise.nextGaussian()).toFloat
        (id, v, if (dup) 1 else 0)
      }.toDF("vec_id", "embedding", "label").write.parquet(p)
    }

  /** A lineitem-shaped table at the sf0.1 row count (600 000 rows) for the
    * host control query; fixed content, independent of the workload seed.
    */
  def lineitem(): String =
    cached("control") { p =>
      val h = (salt: Int) => abs(xxhash64(col("id"), lit(salt))) % 1000000L
      spark.range(600000L).select(
        element_at(array(lit("A"), lit("N"), lit("R")), (h(1) % 3 + 1).cast("int")).as("l_returnflag"),
        element_at(array(lit("F"), lit("O")), (h(2) % 2 + 1).cast("int")).as("l_linestatus"),
        (h(3) % 50 + 1).cast("double").as("l_quantity"),
        (h(4) / 10.0 + 900.0).as("l_extendedprice"),
        ((h(5) % 11) / 100.0).as("l_discount"))
        .write.parquet(s"$p/lineitem.parquet")
    }
}

object Inputs {
  final case class Pages(input: String, truth: String)

  val Dim = 64
  val NearDupPct = 10
  /** The input_hint relation the engine receives. */
  val InputCols: Seq[String] = Seq("url", "warc_ts", "html", "text", "lang")
  val TruthCols: Seq[String] = Seq("url", "doc_id", "ge", "ge_check", "expected_text", "clazz")

  /** Bytes of the parquet files under `path`. */
  def inputBytes(path: String): Long = {
    val s = Files.walk(java.nio.file.Paths.get(path))
    try s.filter(f => Files.isRegularFile(f) && f.toString.endsWith(".parquet"))
      .mapToLong(f => Files.size(f)).sum()
    finally s.close()
  }
}
