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
}
