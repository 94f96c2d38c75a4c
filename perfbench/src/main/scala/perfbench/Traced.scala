package perfbench

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, monotonically_increasing_id}
import graft.functions.TextFeatures
import graft.io.PagesGen
import graft.ml.{NgramLM, Scrubber}
import graft.operators.{Dedup, Repetition}
import graft.stages.{ModelChecks, Models}

/** The traced run: one unit with tracing off, then the same unit under a
  * `bench.unit` span with the benchmark's spans open around each layer's
  * calls, then the kernel and operator measurements. Self times (`self.*`)
  * are over the traced unit's span tree. Reports every per-layer metric of
  * BENCHMARK.json (0 where the workload does not reach the layer).
  */
object Traced {

  /** The per-layer metrics, in BENCHMARK.json order: (name, unit). */
  val PerLayer: Seq[(String, String)] = Seq(
    "ml.langid_ns_per_doc" -> "ns", "ml.lm_ns_per_doc" -> "ns",
    "ml.scrub_ns_per_doc" -> "ns", "ml.extract_ns_per_doc" -> "ns",
    "functions.model_features_rows_per_core_s" -> "rows/core/s",
    "functions.text_stats_rows_per_core_s" -> "rows/core/s",
    "functions.repetition_rows_per_core_s" -> "rows/core/s",
    "functions.scrub_rows_per_core_s" -> "rows/core/s",
    "functions.simhash_rows_per_core_s" -> "rows/core/s",
    "stages.ingest_s" -> "s", "stages.prefix_s" -> "s", "stages.sct_fg_dual_s" -> "s",
    "stages.sct_dual_s" -> "s", "stages.buddy_s" -> "s", "stages.sct_s" -> "s",
    "stages.isolation_s" -> "s", "stages.rows_into_selfjoin" -> "rows",
    "cascade.materialize_s" -> "s", "cascade.final_decision_s" -> "s",
    "io.commits" -> "count", "io.commit_s" -> "s",
    "io.bytes_written_mb" -> "MB", "io.bytes_read_mb" -> "MB",
    "streaming.batches" -> "count", "streaming.trigger_ms_p50" -> "ms",
    "streaming.add_batch_ms_p50" -> "ms", "streaming.planning_ms_p50" -> "ms",
    "streaming.offsets_ms_p50" -> "ms", "streaming.queue_wait_s_p50" -> "s",
    "streaming.backlog_max" -> "count", "streaming.generator_late_s" -> "s",
    "streaming.latency_tail_s" -> "s", "streaming.latency_tail_pct" -> "pct",
    "operators.minhash_lsh_s" -> "s", "operators.simhash_pairs_s" -> "s",
    "operators.jaccard_s" -> "s", "operators.ann_pairs_s" -> "s",
    "operators.ivf_topk_s" -> "s", "operators.embed_dedup_s" -> "s",
    "operators.pairs_out" -> "rows",
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.task_run_s" -> "s",
    "spark.task_cpu_s" -> "s", "spark.gc_s" -> "s", "spark.sched_delay_s" -> "s",
    "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB", "spark.spill_mb" -> "MB",
    "spark.driver_gap_s" -> "s", "spark.slot_busy_frac" -> "ratio",
    "spark.straggler_ratio" -> "ratio", "spark.blocks_evicted" -> "count",
    "spark.failed_tasks" -> "count", "spark.unlabeled_job_frac" -> "ratio",
    "spark.codegen_compiles" -> "count", "spark.codegen_compile_ms" -> "ms",
    "self.stages_s" -> "s", "self.cascade_s" -> "s", "self.io_s" -> "s",
    "self.streaming_s" -> "s", "self.bench_s" -> "s",
    "host.control_s" -> "s", "host.steal_frac" -> "ratio",
    "bench.trace_overhead_frac" -> "ratio", "bench.traced_wall_s" -> "s")

  def run(c: Ctx, w: Workload): Map[String, Metric] = {
    c.attempted += 2
    val untraced = w.unit(c, traced = false)
    val s0 = c.engine.snapshot()
    var unitId = -1
    val traced = c.tracer.span("bench.unit") {
      unitId = c.tracer.current
      w.unit(c, traced = true)
    }
    val s1 = c.engine.snapshot()
    val eng = c.engine.between(s0, s1, c.cores)
    val all = c.tracer.all
    val tree = descendants(all, unitId)
    val wallS = tree.find(_.id == unitId).map(s => (s.end - s.start) / 1e9).get
    val self = Stats.selfTimes(tree)
    val selfByLayer = tree.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => self(s.id)).sum / 1e9 }
    c.check(f"traced: layer self times (${selfByLayer.values.sum}%.3f s) within the traced wall")(
      selfByLayer.values.sum <= wallS + 1e-3)
    val kernels = Kernels.run(c) ++ Operators.run(c)
    val spanTotals = c.tracer.all.groupBy(_.name).map { case (n, ss) =>
      s"${n}_s" -> Metric(ss.map(s => (s.end - s.start) / 1e9).sum, "s") }
    val w0 = eng.work
    val measured: Map[String, Metric] = spanTotals ++
      selfByLayer.map { case (l, s) => s"self.${l}_s" -> Metric(s, "s") } ++
      w.layers ++ kernels ++ Map(
        "io.commits" -> Metric(tree.count(_.name == "io.commit"), "count"),
        "io.bytes_written_mb" -> Metric(w0.outputBytes / SparkLayer.MB, "MB"),
        "io.bytes_read_mb" -> Metric(w0.inputBytes / SparkLayer.MB, "MB"),
        "spark.jobs" -> Metric(eng.jobs, "count"),
        "spark.tasks" -> Metric(w0.tasks, "count"),
        "spark.task_run_s" -> Metric(w0.runMs / 1e3, "s"),
        "spark.task_cpu_s" -> Metric(w0.cpuNs / 1e9, "s"),
        "spark.gc_s" -> Metric(w0.gcMs / 1e3, "s"),
        "spark.sched_delay_s" -> Metric(w0.schedMs / 1e3, "s"),
        "spark.shuffle_write_mb" -> Metric(w0.shuffleWrite / SparkLayer.MB, "MB"),
        "spark.shuffle_read_mb" -> Metric(w0.shuffleRead / SparkLayer.MB, "MB"),
        "spark.spill_mb" -> Metric(w0.spill / SparkLayer.MB, "MB"),
        "spark.driver_gap_s" -> Metric(eng.driverGapS, "s"),
        "spark.slot_busy_frac" -> Metric(eng.slotBusyFrac, "ratio"),
        "spark.straggler_ratio" -> Metric(eng.stragglerRatio, "ratio"),
        "spark.blocks_evicted" -> Metric(eng.blocksEvicted, "count"),
        "spark.failed_tasks" -> Metric(w0.failedTasks, "count"),
        "spark.unlabeled_job_frac" -> Metric(
          if (eng.jobs == 0) 0.0 else eng.unlabeledJobs.toDouble / eng.jobs, "ratio"),
        "spark.codegen_compiles" -> Metric(eng.codegenCompiles, "count"),
        "spark.codegen_compile_ms" -> Metric(eng.codegenCompileMs, "ms"),
        "bench.trace_overhead_frac" -> Metric((traced.wallS - untraced.wallS) / untraced.wallS, "ratio"),
        "bench.traced_wall_s" -> Metric(wallS, "s"))
    writeTrace(c)
    PerLayer.map { case (n, u) => n -> Metric(measured.get(n).map(_.value).getOrElse(0.0), u) }.toMap
  }

  private def descendants(spans: Seq[Span], root: Int): Seq[Span] = {
    val kids = spans.groupBy(_.parent)
    def go(id: Int): Seq[Span] = kids.getOrElse(id, Nil).flatMap(s => s +: go(s.id))
    spans.filter(_.id == root) ++ go(root)
  }

  /** Spans (JSON lines) and the engine work per span and per job label. */
  private def writeTrace(c: Ctx): Unit = {
    val dir = Files.createDirectories(c.work.resolve("trace"))
    val base = s"${c.workload}_s${c.seed}"
    Files.writeString(dir.resolve(s"$base.spans.jsonl"), c.tracer.toJsonLines.mkString("", "\n", "\n"))
    def obj(m: Map[String, SparkLayer.Work]): String = m.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""${k.replace("\"", "'")}":${v.toJson}""" }.mkString("{", ",", "}")
    Files.writeString(dir.resolve(s"$base.engine.json"),
      s"""{"by_span":${obj(c.engine.spanBreakdown)},"by_job_label":${obj(c.engine.labelBreakdown)}}""")
    Bench.log(s"trace written to $dir/$base.*")
  }
}

/** Row-kernel measurements of the traced run on a fixed seeded sample:
  * the ml layer on one driver thread, the native expressions as a
  * projection over a cached frame forced by a noop sink.
  */
object Kernels {
  val SampleDocs = 2000
  val MinPassS = 0.3
  @volatile private var consumed = 0

  def run(c: Ctx): Map[String, Metric] = {
    val models = c.models.get
    val rows = (0 until SampleDocs).map(i => PagesGen.row(i.toLong, c.seed, PagesGen.AllClasses))
    val texts = rows.map(r => Option(r.text).getOrElse("")).toArray
    val htmls = rows.flatMap(r => Option(r.html)).map(new String(_, "UTF-8")).toArray

    /** ns per item of `f` over `items`, repeated until MinPassS has passed. */
    def nsPer[T](name: String, items: Array[T])(f: T => Any): (String, Metric) = {
      var sink = 0
      items.foreach(x => sink += f(x).hashCode) // warm
      var passes = 0
      val t0 = System.nanoTime()
      while (passes < 2 || System.nanoTime() - t0 < MinPassS * 1e9) {
        items.foreach(x => sink += f(x).hashCode)
        passes += 1
      }
      consumed = sink // keeps the JIT from dropping the calls
      name -> Metric((System.nanoTime() - t0).toDouble / (passes.toLong * items.length), "ns")
    }
    val ml = c.tracer.span("ml.kernels")(Seq(
      nsPer("ml.langid_ns_per_doc", texts)(t => models.langId.detect(t)),
      nsPer("ml.lm_ns_per_doc", texts) { t =>
        val toks = NgramLM.tokenHashes(t)
        models.lms.map(_.logPerplexityTokens(toks))
      },
      nsPer("ml.scrub_ns_per_doc", texts)(Scrubber.scrubString),
      nsPer("ml.extract_ns_per_doc", htmls)(Scrubber.extractTextString)))

    import c.spark.implicits._
    val frame = texts.toSeq.zip(rows.map(_.lang)).toDF("text", "lang")
      .withColumn("doc_id", monotonically_increasing_id()).persist()
    frame.count()
    val projections: Seq[(String, DataFrame)] = Seq(
      "model_features" -> ModelChecks.withModelFeatures(frame, models),
      "text_stats" -> frame.select(TextFeatures.textStats(col("text"))),
      "repetition" -> Repetition.features(frame, "text"),
      "scrub" -> frame.select(Scrubber.scrub(col("text"))),
      "simhash" -> Dedup.simhash64(frame, "text", "doc_id"))
    val fns = projections.map { case (n, df) =>
      df.write.format("noop").mode("overwrite").save() // compiles its code
      val span = s"functions.$n"
      c.tracer.span(span)(df.write.format("noop").mode("overwrite").save())
      c.engine.drain()
      val runS = c.engine.spanBreakdown.get(span).map(_.runMs / 1e3).getOrElse(0.0)
      s"functions.${n}_rows_per_core_s" -> Metric(if (runS > 0) SampleDocs / runS else 0.0, "rows/core/s")
    }
    frame.unpersist()
    (ml ++ fns).toMap
  }
}
