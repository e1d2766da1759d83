package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[SessionTuning.parseSessionConf]] — the one parser behind
  * SPARK_GRAFT_SESSION_CONF (Bench) and ExplainDump's conf argument. */
class SessionConfSpec extends AnyFunSuite {

  test("a semicolon-separated string keeps commas inside values") {
    assert(SessionTuning.parseSessionConf("a=1;b=x,y") == Seq("a" -> "1", "b" -> "x,y"))
  }

  test("a comma-separated string splits on commas") {
    assert(SessionTuning.parseSessionConf("a=1,b=2") == Seq("a" -> "1", "b" -> "2"))
  }

  test("entries are trimmed; empty keys and entries without '=' are skipped") {
    assert(SessionTuning.parseSessionConf(" a=1 ; =x ; junk ; c=d=e ") ==
      Seq("a" -> "1", "c" -> "d=e"))
    assert(SessionTuning.parseSessionConf("") == Seq.empty)
  }
}
