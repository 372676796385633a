package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The entry runner's selection grammar and JSON writer; neither needs
  * a Spark session.
  */
class EntriesSpec extends AnyFunSuite {

  private def names(args: String*): Seq[String] = Entries.select(args).map(_._1)

  test("selection: only=, bare full names and mixed comma lists pick the same entries") {
    val want = Seq("d2_dedup_minhash", "s8_bm25")
    assert(names("only=d2,s8") == want)
    assert(names("d2_dedup_minhash", "s8_bm25") == want)
    assert(names("d2,s8_bm25") == want)
    assert(names("s8", "only=d2_dedup_minhash,s8_bm25") == want)
  }

  test("selection: no args selects every entry, in sorted order") {
    val all = names()
    assert(all.size == 175 && all.toSet == SparkEntry.queries.keySet)
    assert(all == all.sorted)
  }

  test("selection: an unknown id fails naming it") {
    val e = intercept[IllegalArgumentException](names("d2,nope", "s8_bm25x"))
    assert(e.getMessage.contains("nope") && e.getMessage.contains("s8_bm25x"))
    assert(!e.getMessage.contains("d2"))
  }

  test("json: every oracle SQL text and every control char round-trip through the writer") {
    val strings = SparkEntry.oracleSql ++ Map(
      "controls" -> "a\tb\rc\nd\"e\\f\u0001g",
      "every_control" -> (0 until 0x20).map(_.toChar).mkString)
    val parsed = new ObjectMapper().readValue(Entries.json(strings), classOf[java.util.Map[String, String]])
    assert(parsed.asScala.toMap == strings)
  }
}
