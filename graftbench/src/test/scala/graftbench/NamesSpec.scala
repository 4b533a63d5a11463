package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

class NamesSpec extends AnyFunSuite {
  private val Name = "[A-Za-z0-9_.-]+".r

  test("every emitted metric name and unit is well formed and used once") {
    val all = Main.EndToEnd ++ Main.PerLayer
    all.foreach { case (n, u) =>
      assert(Name.matches(n), n)
      assert(n.length <= 64, n)
      assert("[A-Za-z0-9_/%.-]{1,16}".r.matches(u), u)
    }
    assert(all.map(_._1).distinct.size == all.size)
    assert(Main.PerLayer.size <= 128)
  }

  test("BENCHMARK.json names exactly the metrics and workloads Main emits") {
    val root = new ObjectMapper().readTree(new java.io.File("../BENCHMARK.json"))
    def pairs(key: String): Seq[(String, String)] =
      root.get(key).elements().asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq
    assert(pairs("end_to_end") == Main.EndToEnd)
    assert(pairs("per_layer") == Main.PerLayer)
    assert(root.get("workloads").elements().asScala.map(_.get("name").asText).toSet ==
      Main.Workloads.keySet)
  }

  test("the result line carries exactly the reported metrics") {
    val line = Main.resultJson(correct = true, 3, 0, Seq(("a_s", 1.25, "s"), ("b", 2.0, "count")))
    val j = new ObjectMapper().readTree(line)
    assert(j.fieldNames().asScala.toSeq == Seq("correct", "attempted", "failed", "metrics"))
    assert(j.get("metrics").get("a_s").get("value").asDouble == 1.25)
  }
}
