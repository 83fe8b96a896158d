package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Verify`'s argument handling, with no session. */
class VerifyArgsSpec extends AnyFunSuite {
  private val known = Set("q01", "q03", "x_web_extract")

  test("sfDir and outDir, with an optional comma-separated gate filter") {
    assert(Verify.parseArgs(Seq("sf", "out"), known) == Right(("sf", "out", None)))
    assert(Verify.parseArgs(Seq("sf", "out", "q03,x_web_extract"), known) ==
      Right(("sf", "out", Some(Set("q03", "x_web_extract")))))
  }

  test("a wrong argument count is a usage error, not a MatchError") {
    for (args <- Seq(Seq(), Seq("sf"), Seq("sf", "out", "q01", "extra")))
      assert(Verify.parseArgs(args, known) == Left(Verify.usage), args)
  }

  test("an unknown gate name is rejected, listing the known ones") {
    Verify.parseArgs(Seq("sf", "out", "q03,q3,x_nope"), known) match {
      case Left(msg) =>
        assert(msg.startsWith("unknown gate(s) q3, x_nope; known: q01, q03, x_web_extract"))
        assert(msg.endsWith(Verify.usage))
      case ok => fail(s"accepted: $ok")
    }
  }
}
