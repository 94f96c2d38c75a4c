package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, countDistinct, length, sum, trim, when}
import graft.functions.TextFeatures
import graft.cascade.Cascade
import graft.io.{PagesGen, TableIO}
import graft.model.FlagCodes
import graft.stages.{Cols, Ingest, Models}

/** What the cascade workloads share: the generator's matching config, the
  * trained models and the labeled table a user's job commits.
  */
object CascadeJob {
  val Cfg = PagesGen.matchingConfig
  lazy val Exemplars: Seq[String] = PagesGen.exemplarTexts()
  /** The models train on the clean docs among the first TrainDocs ids of
    * the workload's corpus, as FixtureF1Spec trains on its fixture corpus.
    */
  val TrainDocs = 3000L

  def train(spark: SparkSession, p: Inputs.Pages): Models =
    Models.train(spark, spark.read.parquet(p.input)
      .join(spark.read.parquet(p.truth)
        .filter(col("clazz") === "clean" && col("doc_id") < TrainDocs), "url")
      .select("text", "lang"))

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path).select(Inputs.InputCols.map(col): _*)

  /** The labeled table: (url, dqc, keep, scrubbed_text). */
  def labeledTable(labeled: DataFrame): DataFrame =
    labeled.select(col(Cols.Url), col(Cols.Dqc).cast("int").as("dqc"),
      col(Cols.KeepCol).as("keep"), col(Cols.ScrubbedText))

  /** Docs that survive the ingest dedup: every blank-text doc, plus one
    * per distinct content fingerprint (Ingest.dropDuplicatePages).
    */
  def survivors(input: DataFrame): Long = {
    val t = col(Cols.Text)
    val fp = when(t.isNotNull && length(trim(t)) > 0, TextFeatures.fingerprint(t))
    input.select(fp.as("fp")).agg(
      sum(when(col("fp").isNull, 1L).otherwise(0L)) + countDistinct(col("fp")))
      .collect()(0).getLong(0)
  }

  /** Label gates over a committed labeled table against its input and truth. */
  def checkLabels(c: Ctx, what: String, labels: DataFrame, input: DataFrame,
                  truth: DataFrame): Unit = {
    val n = survivors(input)
    c.check(s"$what: every surviving doc labeled once ($n)")(
      labels.count() == n && labels.select("url").distinct().count() == n &&
        labels.join(truth, Seq("url"), "left_anti").isEmpty)
    val failures = Gates.labelFailures(labels.join(truth, "url"))
    failures.foreach(f => Bench.log(s"$what: $f"))
    c.check(s"$what: keep/drop and per-check F1 >= ${Gates.MinF1}, byte-identical text")(
      failures.isEmpty)
  }
}

/** `batch_full`: one `Cascade.run` over the corpus with trained models and
  * the exemplar pseudo-docs, its labeled table committed with
  * `TableIO.write`. The row kernels and the self-join stages do the work.
  */
object BatchFull extends Workload {
  import CascadeJob._

  /** Corpus size. Its input is far below `payloadSplitMinBytes` (256 MB),
    * so `Cascade.run` takes the single-frame path.
    */
  val Docs = 5000L
  val minUnits = 2

  private var corpus: Inputs.Pages = _
  private var models: Models = _
  private val Table = "labeled"

  def prepare(c: Ctx): Unit = corpus = c.inputs.pages(c.seed, Docs)

  /** Trains the models, then one untimed unit compiles the cascade's
    * generated code and warms the JIT.
    */
  def setup(c: Ctx): Unit = {
    models = train(c.spark, corpus)
    c.models = Some(models)
    commit(c, read(c.spark, corpus.input), "batch_warm")
    c.reap()
  }

  private def commit(c: Ctx, input: DataFrame, dir: String): Double = {
    val root = c.scratch(dir).toString
    val t0 = System.nanoTime()
    TableIO.write(labeledTable(Cascade.run(input, Cfg, Some(models), Exemplars)), root, Table)
    (System.nanoTime() - t0) / 1e9
  }

  def unit(c: Ctx, traced: Boolean): Rep = {
    val wall =
      if (!traced) commit(c, read(c.spark, corpus.input), "batch_untraced")
      else {
        val root = c.scratch("batch_traced").toString
        val t0 = System.nanoTime()
        val labeled = tracedCascade(c, read(c.spark, corpus.input))
        c.tracer.span("io.commit")(TableIO.write(labeledTable(labeled), root, Table))
        (System.nanoTime() - t0) / 1e9
      }
    c.reap()
    Rep(wall, Inputs.inputBytes(corpus.input), Seq(wall), Docs / wall)
  }

  private val stageName = Map(FlagCodes.SctFgDual -> "sct_fg_dual", FlagCodes.SctDual -> "sct_dual",
    FlagCodes.Buddy -> "buddy", FlagCodes.Sct -> "sct", FlagCodes.Isolation -> "isolation")
  private var rowsIntoSelfJoin = 0L

  /** `Cascade.run`'s single-frame path folded by the benchmark, so each
    * phase gets its own span: the ingest dedup, the row-local prefix (one
    * fused codegen span up to the first self-join stage's input), then each
    * self-join stage with the row-local stages that follow it, each ending
    * in an eager `Cascade.materialize`. Same stages on the same frames, so
    * the labels equal the untraced run's (a gate checks it).
    */
  private def tracedCascade(c: Ctx, pages: DataFrame): DataFrame = {
    val t = c.tracer
    def materialize(d: DataFrame): DataFrame =
      t.span("cascade.materialize")(Cascade.materialize(d, eager = true))
    val prepared = t.span("stages.ingest") {
      val deduped = if (Cfg.dedupIngest)
        Ingest.features(Ingest.dropDuplicatePages(materialize(Ingest.normalizeCore(pages, Cfg))))
      else Ingest.normalize(pages, Cfg)
      Ingest.stampLists(deduped, Cfg)
    }
    val stages = Cascade.stages(Cfg, Some(models), Exemplars)
    val firstSelf = stages.indexWhere(_.selfRef)
    var cur = t.span("stages.prefix")(materialize(stages.take(firstSelf).foldLeft(prepared) {
      case (d, s) => s.f(d) }))
    rowsIntoSelfJoin = cur.count()
    // each self-join stage with the row-local stages up to the next one
    val segments = stages.drop(firstSelf).foldLeft(Vector.empty[Vector[Cascade.StageDef]]) {
      case (acc, s) if s.selfRef || acc.isEmpty => acc :+ Vector(s)
      case (acc, s) => acc.init :+ (acc.last :+ s)
    }
    segments.foreach { seg =>
      cur = t.span(s"stages.${stageName(seg.head.code)}")(
        materialize(seg.foldLeft(cur) { case (d, s) => s.f(d) }))
    }
    t.span("cascade.final_decision")(Cascade.finalDecision(cur))
  }

  def layers: Map[String, Metric] =
    Map("stages.rows_into_selfjoin" -> Metric(rowsIntoSelfJoin.toDouble, "rows"))

  def gates(c: Ctx, traced: Boolean): Unit = {
    val truth = c.spark.read.parquet(corpus.truth)
    val root = c.work.resolve("scratch/batch_untraced").toString
    checkLabels(c, "batch_full", TableIO.read(c.spark, root, Table),
      c.spark.read.parquet(corpus.input), truth)
    if (traced) c.check("batch_full: traced labels equal untraced")(Gates.sameRows(
      TableIO.read(c.spark, root, Table),
      TableIO.read(c.spark, c.work.resolve("scratch/batch_traced").toString, Table)))
  }
}
