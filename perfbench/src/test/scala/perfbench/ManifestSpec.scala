package perfbench

import scala.io.Source

import org.scalatest.funsuite.AnyFunSuite

/** BENCHMARK.json (at the checkout root) lists exactly the metrics the
  * benchmark reports, with the same units. */
class ManifestSpec extends AnyFunSuite {
  private val manifest = {
    val src = Source.fromFile("../BENCHMARK.json")
    try src.mkString finally src.close()
  }
  private def entries(section: String): Seq[(String, String)] = {
    val body = manifest.split("\"" + section + "\"")(1).split("]")(0)
    """"name": "([^"]+)",\s*"unit": "([^"]+)"""".r.findAllMatchIn(body)
      .map(m => m.group(1) -> m.group(2)).toSeq
  }

  test("end-to-end metrics match the manifest") {
    assert(entries("end_to_end") == Metrics.EndToEnd)
  }

  test("per-layer metrics match the manifest and fit its cap") {
    assert(entries("per_layer").toSet == Metrics.PerLayer.toSet)
    assert(Metrics.PerLayer.size <= 128)
    assert(Metrics.PerLayer.map(_._1).distinct.size == Metrics.PerLayer.size)
  }
}
