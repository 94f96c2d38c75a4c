package perfbench

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import graft.OracleSql
import graft.operators.{Dedup, Similarity}

/** The `graft.operators` layer, measured in every traced run: the six
  * dedup and ANN calls with the parameters the engine's driver queries use
  * (SparkEntry), on a seeded PagesGen text table and seeded vectors with
  * planted near-duplicates. Each call is collected under its own span; its
  * rows are digested for the DuckDB twin check in run.py.
  */
object Operators {

  val Docs = 4000L
  val Vectors = 2000L
  val QueryIds: Seq[Long] = Seq(0L, 1L, 2L, 3L, 4L)

  /** name → (Spark call, its DuckDB twin in OracleSql). */
  private def ops(docs: DataFrame, vecs: DataFrame): Seq[(String, DataFrame, String)] = Seq(
    ("minhash_lsh", Dedup.minhashLsh(docs, "text", "doc_id",
      n = 3, bands = 2, rowsPerBand = 2, maxBucketSize = 100),
      OracleSql.qDedupMinhash(3, 2, 2, 100)),
    ("simhash_pairs", Dedup.simhashPairs64(docs, "text", "doc_id", maxHamming = 3),
      OracleSql.qSimhashPairs64(3)),
    ("jaccard", Dedup.ngramJaccard(docs, "text", "doc_id", n = 3, threshold = 0.2,
      maxShingleDf = 100), OracleSql.qDedupJaccard(3, 0.2, 100)),
    ("ann_pairs", Similarity.annPairs(vecs, "embedding", "vec_id", nPlanes = 8, threshold = 0.25),
      OracleSql.qAnnPairs(8, 0.25)),
    ("ivf_topk", Similarity.ivfTopK(vecs, "embedding", "vec_id", QueryIds, k = 5,
      nCentroids = 8, nProbe = 2), OracleSql.qIvfTopK(QueryIds, 5, 8, 2)),
    ("embed_dedup", Dedup.embeddingNearDup(vecs, "embedding", "vec_id", nPlanes = 8,
      threshold = 0.25).select(col("vec_id")), OracleSql.qDedupEmbed(8, 0.25)))

  private var docsPath, vecsPath: String = _
  private var results = Seq.empty[(String, String, Array[String], Array[Row])]

  /** Run the six calls twice (the first compiles their code), the second
    * under `operators.<name>` spans. Returns operators.pairs_out.
    */
  def run(c: Ctx): Map[String, Metric] = {
    docsPath = c.gen(c.inputs.documents(c.seed, Docs))
    vecsPath = c.gen(c.inputs.vectors(c.seed, Vectors))
    val calls = () => ops(c.spark.read.parquet(docsPath), c.spark.read.parquet(vecsPath))
    calls().foreach(_._2.collect())
    c.reap()
    results = calls().map { case (n, df, sql) =>
      val rows = c.tracer.span(s"operators.$n")(df.collect())
      c.check(s"operators: $n returned rows")(rows.nonEmpty)
      (n, sql, df.columns, rows)
    }
    c.reap()
    Map("operators.pairs_out" -> Metric(results.map(_._4.length.toLong).sum.toDouble, "rows"))
  }

  /** Row digest shared with run.py: columns in name order, each row as its
    * '|'-joined values (integers in decimal, doubles as the hex of their
    * IEEE bits after adding 0.0, null as "null"), rows sorted, joined by
    * newlines, SHA-256.
    */
  def digest(columns: Array[String], rows: Array[Row]): String = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    def fmt(v: Any): String = v match {
      case null => "null"
      case d: Double => f"${java.lang.Double.doubleToRawLongBits(d + 0.0)}%016x"
      case f: Float => fmt(f.toDouble)
      case x => x.toString
    }
    val lines = rows.map(r => order.map(i => fmt(r.get(i))).mkString("|")).sorted
    MessageDigest.getInstance("SHA-256").digest(lines.mkString("\n").getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
  }

  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
    case ch => ch.toString
  } + "\""

  /** What run.py needs to run the DuckDB twins: the input tables and, per
    * call, its SQL and the digest of the Spark rows.
    */
  def twinsJson(c: Ctx): String =
    if (results.isEmpty) "null"
    else {
      val calls = results.map { case (n, sql, cols, rows) =>
        s"""{"name":${q(n)},"sql":${q(sql)},"rows":${rows.length},"digest":"${digest(cols, rows)}"}"""
      }.mkString("[", ",", "]")
      s"""{"seed":${c.seed},"documents":${q(docsPath)},"embeddings":${q(vecsPath)},"calls":$calls}"""
    }
}
