package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's stdout line is what gets parsed: it must keep the
  * metric/value/unit envelope `scripts/bench_regress.py` anchors on and
  * fit the ~2 KB stdout tail that is kept.
  */
class BenchSpec extends AnyFunSuite {

  private val anchor = """"metric":"total","value":([0-9.]+)""".r
  private val queries = """"queries":\{([^}]*)\}""".r

  /** Every entry at its committed sf0.1 warm time (BENCH_local_r15_postA). */
  private lazy val measured: Bench.Results = {
    val src = scala.io.Source.fromFile("BENCH_local_r15_postA.json")
    val doc = try src.mkString finally src.close()
    """"(\w+)":([0-9.]+)""".r.findAllMatchIn(queries.findFirstMatchIn(doc).get.group(1))
      .map(m => m.group(1) -> Right(m.group(2).toDouble)).toSeq
  }

  test("a 175-entry stdout line fits the budget and matches the parser's anchors") {
    assert(measured.size == 175)
    val line = Bench.stdoutLine(measured, "sf0.1")
    assert(line.length <= Bench.StdoutBudget, s"${line.length} chars")
    val total = anchor.findFirstMatchIn(line).map(_.group(1).toDouble)
    assert(total.exists(t => math.abs(t - measured.map(_._2.toOption.get).sum) < 0.001))
    assert(queries.findFirstMatchIn(line).exists(_.group(1).split(',').length == 175))
    assert(line.contains(""""unit":"sec""""))
  }

  test("values print without trailing zeros; errors keep their marker") {
    val line = Bench.stdoutLine(Seq(
      "a1_x" -> Right(1.5), "b2_y" -> Right(2.0), "c3_z" -> Right(0.004),
      "d4_w" -> Left("boom")), "sf0.1")
    assert(line == """{"metric":"total","value":3.504,"unit":"sec",""" +
      """"queries":{"a1":1.5,"b2":2,"c3":0,"d4":"err"},"sf":"sf0.1","errors":1}""")
  }

  test("an over-budget line keeps the envelope and drops queries") {
    val slow = measured.map { case (k, _) => k -> Right(12.34) }
    val line = Bench.stdoutLine(slow, "sf0.1")
    assert(line.length <= Bench.StdoutBudget)
    assert(anchor.findFirstMatchIn(line).nonEmpty && !line.contains("queries"))
    // the per-entry numbers survive in the file line
    assert(queries.findFirstMatchIn(Bench.fileLine(slow, "sf0.1"))
      .exists(_.group(1).split(',').length == 175))
  }
}
