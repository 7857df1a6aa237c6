package graft.perfbench

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** The per-layer metrics the runner reports are the ones BENCHMARK.json names. */
class ContractSpec extends AnyFunSuite {

  test("per-layer metric names and units match BENCHMARK.json") {
    val json = Files.readString(Paths.get("..", "BENCHMARK.json"))
    val perLayer = json.substring(json.indexOf("\"per_layer\""))
    val declared = """"name":\s*"([^"]+)",\s*"unit":\s*"([^"]+)"""".r
      .findAllMatchIn(perLayer).map(m => m.group(1) -> m.group(2)).toSeq
    assert(declared == Runner.perLayer)
  }
}
