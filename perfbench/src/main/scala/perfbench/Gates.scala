package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.model.FlagCodes._

/** Correctness gates shared by the cascade workloads. */
object Gates {

  /** The per-check gates of FixtureF1Spec: every planted class's first
    * failing check. Sct (1) is left out as the fixture leaves it out: in the
    * full cascade buddy shadows it, and it is gated on its own there.
    */
  val Checks: Seq[Int] = Seq(Metadata, CrossField, LangMismatch, Plausibility, LangBounds,
    Repetition, Toxicity, SctFgDual, SctDual, Fgt, Buddy, Isolation, Blacklist, Keep)

  val MinF1 = 0.99

  private def confusion(pred: Column, truth: Column): Seq[Column] = Seq(
    sum(when(pred && truth, 1L).otherwise(0L)),
    sum(when(pred && !truth, 1L).otherwise(0L)),
    sum(when(!pred && truth, 1L).otherwise(0L)))

  /** Failed label gates over a frame of (dqc, keep, scrubbed_text) joined
    * by url with the planted truth (ge, ge_check, expected_text): keep/drop
    * F1 against `ge`, per-check F1 against `ge_check`, and byte-identical
    * scrubbed text on every kept doc. Empty when all pass.
    */
  def labelFailures(df: DataFrame): Seq[String] = {
    val gates: Seq[(String, Column, Column)] =
      ("keep/drop", !col("keep"), col("ge") === 1) +:
        Checks.map(code => (s"check $code", col("dqc") === code, col("ge_check") === code))
    val aggs = gates.flatMap { case (_, p, t) => confusion(p, t) } :+
      sum(when(col("keep") && !(col("scrubbed_text") <=> col("expected_text")), 1L)
        .otherwise(0L))
    val r = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    def long(i: Int): Long = if (r.isNullAt(i)) 0L else r.getLong(i)
    val f1s = gates.indices.map { i =>
      val c = Stats.Confusion(long(3 * i), long(3 * i + 1), long(3 * i + 2))
      (gates(i)._1, Stats.f1(c), c)
    }
    f1s.collect { case (n, f, c) if f < MinF1 => f"$n F1 $f%.4f < $MinF1 ($c)" } ++
      Some(long(3 * gates.length)).filter(_ > 0).map(n => s"$n kept docs with scrubbed_text != expected_text")
  }

  /** Both frames hold the same multiset of rows. */
  def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
}
