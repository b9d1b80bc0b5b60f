package graft

import org.scalatest.funsuite.AnyFunSuite

class TimeOneSpec extends AnyFunSuite {

  test("extra confs: keys and values are trimmed, blank entries skipped") {
    assert(TimeOne.extraConf(" a.b = 1 ;c=x=y;; ") == Map("a.b" -> "1", "c" -> "x=y"))
    assert(TimeOne.extraConf("") == Map.empty)
  }

  test("extra confs: an empty key or a missing '=' names the bad entry") {
    Seq("=v", " = v", "k").foreach { bad =>
      val e = intercept[IllegalArgumentException](TimeOne.extraConf(s"a=1;$bad"))
      assert(e.getMessage.contains(s"'${bad.trim}'"), e.getMessage)
    }
  }
}
