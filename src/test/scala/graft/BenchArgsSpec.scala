package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchArgsSpec extends AnyFunSuite {

  test("no arguments: the whole suite, three passes, no plans, no fds") {
    assert(BenchArgs.parse(Nil) === Right(BenchArgs(None, 3, None, false)))
  }

  test("every flag parses, in any order") {
    assert(BenchArgs.parse(Seq("--fds", "--runs", "4", "--only", "a, b,a",
        "--plans", "/tmp/p")) ===
      Right(BenchArgs(Some(Seq("a", "b")), 4, Some("/tmp/p"), true)))
  }

  test("an unknown flag or a bad value fails with the usage text") {
    for (args <- Seq(Seq("--bogus"), Seq("sf0.1"), Seq("--runs", "0"),
        Seq("--runs", "x"), Seq("--runs"), Seq("--only", ","),
        Seq("--plans"))) {
      val err = BenchArgs.parse(args)
      assert(err.isLeft, args)
      assert(err.left.exists(_.endsWith(BenchArgs.usage)), args)
    }
  }

  test("results fold: the fastest passing time; a query that failed in " +
      "every pass is reported failed, whatever its times") {
    val passes = Seq(
      Map("a" -> (2.0, true), "b" -> (0.1, false), "c" -> (9.0, false)),
      Map("a" -> (1.5, true), "b" -> (3.0, true), "c" -> (0.2, false)),
      Map("a" -> (0.5, false), "b" -> (4.0, true), "c" -> (8.0, false)))
    assert(Bench.fold(passes) === ((Map("a" -> 1.5, "b" -> 3.0), Seq("c"))))
  }

  test("results fold: failures are listed sorted, and no passes fold to " +
      "nothing") {
    val allFailed = Seq(Map("z" -> (1.0, false), "y" -> (2.0, false)))
    assert(Bench.fold(allFailed) === ((Map.empty, Seq("y", "z"))))
    assert(Bench.fold(Nil) === ((Map.empty, Nil)))
  }

  test("compact line: everything listed when it fits, with zero omitted") {
    val line = Bench.compactLine("""{"metric":"total"""",
      Map("a" -> 1.0, "b" -> 2.5), Seq("c"), budget = 1700)
    assert(line === """{"metric":"total","failed_count":1,"failed":["c"],""" +
      """"omitted_failed":0,"queries":{"b":2.500,"a":1.000},""" +
      """"omitted_fastest":0,"omitted_sec":0.000}""")
  }

  test("compact line: many failures stay within the budget, the failed " +
      "count always shown and the slowest times kept") {
    val prefix = """{"metric":"total","value":12.345,"unit":"sec","sf":"x"""" +
      ""","calibration_points_s":[1.234,1.345]"""
    val failed = (1 to 200).map(i => f"failing_query_name_$i%03d")
    val results = (1 to 200).map(i => f"passing_query_name_$i%03d" -> i * 0.5).toMap
    val line = Bench.compactLine(prefix, results, failed, budget = 1700)
    assert(line.length <= 1700, line.length)
    assert(line.startsWith(prefix + ""","failed_count":200,"failed":["failing_query_name_001""""))
    assert(line.contains(""""queries":{"passing_query_name_200":100.000,"""))
    val listed = """"(failing|passing)_query_name_\d+"""".r.findAllIn(line).size
    val omitted = """"omitted_(failed|fastest)":(\d+)""".r
      .findAllMatchIn(line).map(_.group(2).toInt).sum
    assert(listed + omitted === 400)
  }
}
