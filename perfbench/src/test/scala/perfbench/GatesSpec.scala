package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The label gate on a label set that matches its truth, and on the same
  * set deliberately corrupted.
  */
class GatesSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** 400 docs: every gated check planted on 20 docs, the rest clean. */
  private def truth: Seq[(Int, Boolean, String, Int, Int, String)] =
    (0 until 400).map { i =>
      val code = if (i < Gates.Checks.length * 20) Gates.Checks(i / 20) else 0
      val keep = code == 0 || code == 990
      // (dqc, keep, scrubbed_text, ge, ge_check, expected_text)
      (code, keep, s"text $i", if (keep) 0 else 1, code, s"text $i")
    }

  private def failures(rows: Seq[(Int, Boolean, String, Int, Int, String)]) = {
    import spark.implicits._
    Gates.labelFailures(rows.toDF("dqc", "keep", "scrubbed_text", "ge", "ge_check", "expected_text"))
  }

  test("labels equal to the truth pass every gate") {
    assert(failures(truth).isEmpty)
  }

  test("dropping 5 % of the clean docs fails the keep/drop gate") {
    val bad = truth.map { case r @ (dqc, _, t, ge, gc, e) =>
      if (dqc == 0 && t.stripPrefix("text ").toInt % 20 == 0) (501, false, t, ge, gc, e) else r }
    val f = failures(bad)
    assert(f.exists(_.startsWith("keep/drop")), f)
    assert(f.exists(_.startsWith("check 501")), f)
  }

  test("one check's flags given to another fails both per-check gates") {
    val bad = truth.map { case (dqc, k, t, ge, gc, e) =>
      if (dqc == 10) (11, k, t, ge, gc, e) else (dqc, k, t, ge, gc, e) }
    val f = failures(bad)
    assert(f.exists(_.startsWith("check 10 ")) && f.exists(_.startsWith("check 11 ")), f)
    assert(!f.exists(_.startsWith("keep/drop")), f)
  }

  test("a kept doc whose scrubbed text differs by one byte fails") {
    val bad = truth.map { case (dqc, k, t, ge, gc, e) =>
      if (t == "text 399") (dqc, k, "text 399 ", ge, gc, e) else (dqc, k, t, ge, gc, e) }
    assert(failures(bad) == Seq("1 kept docs with scrubbed_text != expected_text"))
  }
}
