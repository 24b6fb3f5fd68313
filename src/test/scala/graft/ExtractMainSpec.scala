package graft

import org.scalatest.funsuite.AnyFunSuite

/** ExtractMain's command line: flags anywhere, nDocs from the second
  * non-flag argument, anything unknown rejected with the usage line. */
class ExtractMainSpec extends AnyFunSuite {
  import ExtractMain.{Args, parseArgs}

  test("nDocs comes from the first non-flag argument after tableDir") {
    assert(parseArgs(Seq("/t")) == Right(Args("/t", 20000L, resume = true)))
    assert(parseArgs(Seq("/t", "--no-resume")) == Right(Args("/t", 20000L, resume = false)))
    assert(parseArgs(Seq("/t", "500")) == Right(Args("/t", 500L, resume = true)))
    assert(parseArgs(Seq("/t", "--no-resume", "500")) == Right(Args("/t", 500L, resume = false)))
    assert(parseArgs(Seq("--no-resume", "/t", "500")) == Right(Args("/t", 500L, resume = false)))
  }

  test("unknown flags, including the removed --native, are rejected with the usage") {
    Seq(Seq("/t", "--native"), Seq("/t", "500", "--resume"), Seq("/t", "-n")).foreach { a =>
      val err = parseArgs(a)
      assert(err.left.exists(m => m.contains(a.last) && m.contains(ExtractMain.Usage)), a)
    }
  }

  test("missing tableDir, bad nDocs and extra arguments are rejected") {
    Seq(Seq(), Seq("--no-resume"), Seq("/t", "many"), Seq("/t", "0"), Seq("/t", "5", "6"))
      .foreach(a => assert(parseArgs(a) == Left(ExtractMain.Usage), a))
  }
}
