package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.queries.Q
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** `graft.Bench`'s result line: one parseable JSON line whatever the
  * queries do, the data path holds or the catalog size is. */
class BenchSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = new CatalogSpec().sf // the data the catalog smoke runs on

  def parse(line: String): JsonNode = new ObjectMapper().readTree(line)
  def queries(j: JsonNode): Map[String, Double] =
    j.get("queries").properties().asScala
      .map(e => e.getKey -> e.getValue.asDouble).toMap

  test("the loop prints one line: failing queries in errors, value sums " +
      "the rest") {
    val ok = Seq("q01_pricing_summary", "q03_dim_join")
      .map(n => SparkEntry.catalog.find(_.name == n).get)
    val boom = Q("zz_throws", (_, _) => sys.error("boom"), None)
    val out = new java.io.ByteArrayOutputStream
    Console.withOut(out)(Bench.run(spark, sf, ok :+ boom))
    val lines = out.toString("UTF-8").linesIterator.toSeq
    assert(lines.size == 1, lines)
    val j = parse(lines.head)
    assert(j.get("errors").asScala.map(_.asText).toSeq == Seq("zz_throws"))
    val qs = queries(j)
    assert(qs.keySet == ok.map(_.name).toSet)
    assert(qs.values.forall(_ > 0))
    // each entry and the total are rounded to ms separately
    assert(math.abs(j.get("value").asDouble - qs.values.sum) <= 0.002)
    assert(j.get("queries_omitted") == null)
    assert(j.get("sf").asText == sf)
  }

  test("a full catalog's line fits the budget, keeping the most " +
      "expensive queries") {
    val results = (1 to 136).map(i =>
      f"q$i%03d_a_catalog_query_name" -> Some(i * 1.2345))
    val line = Bench.line(results, sf)
    assert(line.length <= Bench.MaxLine)
    val j = parse(line)
    val qs = queries(j)
    assert(j.get("queries_omitted").asInt == 136 - qs.size)
    assert(qs.size > 0 && qs.size < 136)
    assert(qs.keySet == results.takeRight(qs.size).map(_._1).toSet)
    assert(j.get("value").asDouble == math.rint(
      results.flatMap(_._2).sum * 1000) / 1000)
  }

  test("an sf path holding a quote and a backslash still yields a " +
      "well-formed line") {
    val dir = "/data/a\"b\\c\td"
    val j = parse(Bench.line(Seq("q01" -> Some(1.0), "q02" -> None), dir))
    assert(j.get("sf").asText == dir)
    assert(queries(j) == Map("q01" -> 1.0))
    assert(j.get("errors").asScala.map(_.asText).toSeq == Seq("q02"))
  }
}
