package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  import Stats._

  test("median and quartiles interpolate like statistics.quantiles' inclusive rule") {
    assert(median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(quantile(Seq(1.0, 2.0, 3.0, 4.0, 5.0), 0.25) == 2.0)
    assert(quantile(Seq(7.0), 0.9) == 7.0)
    intercept[IllegalArgumentException](median(Nil))
  }

  test("tail: the highest percentile with at least ten samples beyond it") {
    assert(tail(Seq.tabulate(10)(_.toDouble)).isEmpty)
    // 11 samples: only the smallest has ten above it
    assert(tail(Seq.tabulate(11)(i => (10 - i).toDouble)) == Some((100.0 / 11, 0.0)))
    // 100 samples 1..100: the 90th has exactly ten above it
    assert(tail(Seq.tabulate(100)(i => (i + 1).toDouble)) == Some((90.0, 90.0)))
    assert(tail(Seq.tabulate(20)(_.toDouble), beyond = 5) == Some((75.0, 14.0)))
  }

  test("self time: overlapping children count once, overhang is clipped") {
    val spans = Seq(
      Span(1, -1, "bench.unit", "w", 0, 100),
      Span(2, 1, "stages.a", "w", 10, 40),
      Span(3, 1, "io.commit", "w", 30, 60), // overlaps span 2 by 10
      Span(4, 1, "stages.b", "w", 90, 120), // runs 20 past its parent
      Span(5, 2, "cascade.materialize", "w", 15, 35))
    val self = selfTimes(spans)
    assert(self(1) == 100 - (50 + 10)) // [10,60] ∪ [90,100]
    assert(self(2) == 30 - 20) // its own child only
    assert(self(3) == 30)
    assert(self(4) == 30)
    assert(self(5) == 20)
    // siblings that do not overlap: the tree's self times sum to its wall
    val seq = Seq(Span(1, -1, "bench.unit", "w", 0, 100), Span(2, 1, "stages.a", "w", 10, 40),
      Span(3, 1, "io.commit", "w", 40, 70), Span(4, 3, "cascade.materialize", "w", 45, 50))
    assert(selfTimes(seq).values.sum == 100)
    assert(covered(Seq((0L, 10L), (5L, 15L), (20L, 30L), (25L, 25L))) == 25)
  }

  test("F1 from confusion counts, with the fixture's empty-set rule") {
    assert(math.abs(f1(Confusion(tp = 8, fp = 2, fn = 2)) - 0.8) < 1e-12)
    assert(math.abs(f1(Confusion(tp = 9, fp = 0, fn = 1)) - 18.0 / 19) < 1e-12)
    assert(f1(Confusion(0, 0, 0)) == 1.0)
    assert(f1(Confusion(0, 5, 0)) == 0.0)
    assert(f1(Confusion(0, 0, 3)) == 0.0)
  }

  test("write amplification counts output, shuffle and spill bytes per input byte") {
    assert(writeAmp(outputBytes = 100, shuffleWriteBytes = 50, spillBytes = 50, inputBytes = 100) == 2.0)
    assert(writeAmp(0, 30, 0, 60) == 0.5)
    intercept[IllegalArgumentException](writeAmp(1, 1, 1, 0))
  }
}

class ContractSpec extends AnyFunSuite {
  private val json = new String(java.nio.file.Files.readAllBytes(
    java.nio.file.Paths.get("..", "BENCHMARK.json")), "UTF-8")

  /** (name, unit) pairs of one metric list of BENCHMARK.json. */
  private def metrics(key: String): Seq[(String, String)] = {
    val from = json.indexOf(s""""$key"""")
    val block = json.substring(from, json.indexOf("]", from))
    """"name":\s*"([^"]+)",\s*"unit":\s*"([^"]+)"""".r.findAllMatchIn(block)
      .map(m => (m.group(1), m.group(2))).toSeq
  }

  test("BENCHMARK.json lists exactly the metrics the benchmark prints") {
    assert(metrics("end_to_end") == Bench.EndToEnd)
    assert(metrics("per_layer") == Traced.PerLayer)
  }

  test("BENCHMARK.json lists exactly the benchmark's workloads") {
    val names = """"name":\s*"([^"]+)",\s*"why"""".r.findAllMatchIn(json).map(_.group(1)).toSet
    assert(names == Bench.workloads.keySet)
  }
}
