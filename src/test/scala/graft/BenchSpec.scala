package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** [[Bench.readFloor]]: the floor gate's input is read as JSON, and a
  * broken file can neither pass as absent nor as an empty floor.
  */
class BenchSpec extends AnyFunSuite {
  private def file(content: String): String = {
    val p = Paths.get(TestTmp.dir("graft-bench"), "floor.json")
    Files.write(p, content.getBytes("UTF-8"))
    p.toString
  }

  test("floor file: queries and calibration_sec are read; an absent file is None") {
    val f = file("""{"frozen_from": "a, b", "calibration_sec": 0.65,
                   | "queries": {"q_a": 0.5, "q_b": 2}}""".stripMargin)
    assert(Bench.readFloor(f) === Some((Map("q_a" -> 0.5, "q_b" -> 2.0), Some(0.65))))
    assert(Bench.readFloor(f + ".missing") === None)
  }

  test("floor file without a queries object reads as an empty floor (floor_parse_error)") {
    assert(Bench.readFloor(file("""{"calibration_sec": 0.65}""")) === Some((Map.empty, Some(0.65))))
  }

  test("a present file that is not valid JSON fails, naming the path") {
    for (bad <- Seq("""{"queries": {"q_a": 0.5""", "")) {
      val f = file(bad)
      val e = intercept[IllegalArgumentException](Bench.readFloor(f))
      assert(e.getMessage.contains(f))
    }
  }
}
