package graft

import org.scalatest.funsuite.AnyFunSuite
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

/** The driver stores only the ~2 KB TAIL of Bench's stdout, and a
  * head-clipped JSON object parses as nothing — so the final line must
  * be a complete object under budget AND still carry a per-query map
  * (PERF_r16 had n_common=0 because the r16 tiny line dropped it).
  */
class BenchLineSpec extends AnyFunSuite {
  private val om = new ObjectMapper()

  private def fullLine(n: Int, failed: Seq[String] = Nil,
      restandalone: Int = 1): String = {
    val qs = (1 to n).map(i => s""""q_synthetic_name_$i":${i * 0.037}""")
      .mkString("{", ",", "}")
    val f = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val re = (1 to restandalone).map(i => s""""q_synthetic_name_$i":1.23456789""")
      .mkString("{", ",", "}")
    s"""{"metric":"total","value":370.537507749,"unit":"sec","value_cold":770.61,""" +
      s""""failed":$f,"sf":"/root/testdata/sf0.1",""" +
      s""""calibration":{"single":0.398991428,"parallel":0.659734853},""" +
      s""""flagged":["q_synthetic_name_1"],""" +
      s""""restandalone":$re,""" +
      s""""queries_cold":$qs,"queries":$qs}"""
  }

  test("tiny line fits the driver tail budget at fleet size (258 rows)") {
    val tiny = Bench.tinyLine(fullLine(258))
    assert(tiny.length <= Bench.TinyLineBudget,
      s"tiny line is ${tiny.length} B > ${Bench.TinyLineBudget} B")
    val node = om.readTree(tiny).asInstanceOf[ObjectNode]
    assert(node.get("value").asDouble() === 370.537507749)
    assert(node.has("queries"), "tiny line must carry a per-query map")
    assert(node.get("queries").size() > 0)
  }

  test("elided rows reconcile: queries + rest_total == value of all rows") {
    val line = fullLine(258)
    val tiny = Bench.tinyLine(line)
    val node = om.readTree(tiny).asInstanceOf[ObjectNode]
    var sum = 0.0
    node.get("queries").properties().forEach(e => sum += e.getValue.asDouble())
    if (node.has("queries_rest_total")) {
      sum += node.get("queries_rest_total").asDouble()
      assert(node.get("queries_elided").asInt() > 0)
    }
    val trueTotal = (1 to 258).map(_ * 0.037).sum
    // 2-decimal rounding across <=258 rows bounds the drift at 0.005*258
    assert(math.abs(sum - trueTotal) < 1.3, s"sum=$sum true=$trueTotal")
  }

  test("small sweeps keep every row, no rest-total field") {
    val tiny = Bench.tinyLine(fullLine(12))
    val node = om.readTree(tiny).asInstanceOf[ObjectNode]
    assert(node.get("queries").size() === 12)
    assert(!node.has("queries_rest_total"))
    assert(!node.has("queries_elided"))
    // restandalone survives, rounded
    assert(node.get("restandalone").get("q_synthetic_name_1").asDouble() === 1.23)
  }

  test("a large restandalone map is elided before the line overflows the budget") {
    val tiny = Bench.tinyLine(fullLine(258, restandalone = 60))
    assert(tiny.length <= Bench.TinyLineBudget,
      s"tiny line is ${tiny.length} B > ${Bench.TinyLineBudget} B")
    val node = om.readTree(tiny).asInstanceOf[ObjectNode]
    assert(node.get("value").asDouble() === 370.537507749)
    assert(node.get("calibration").get("single").asDouble() === 0.398991428)
    assert(!node.has("restandalone"))
    assert(node.get("restandalone_elided").asInt() === 60)
  }

  test("failed (-1) rows are never folded into the rest-total") {
    val tiny = Bench.tinyLine(fullLine(258, failed = Seq("q_synthetic_name_3")))
    val node = om.readTree(tiny).asInstanceOf[ObjectNode]
    // a -1 row would have to appear verbatim if present; build one explicitly
    val withFail = fullLine(258).replace(""""q_synthetic_name_2":0.074""",
      """"q_synthetic_name_2":-1.0""")
    val node2 = om.readTree(Bench.tinyLine(withFail)).asInstanceOf[ObjectNode]
    assert(node2.get("queries").get("q_synthetic_name_2").asDouble() === -1.0)
    assert(node.has("failed"))
  }

  test("a mangled line falls back verbatim, never throws") {
    assert(Bench.tinyLine("not json at all") === "not json at all")
  }
}
