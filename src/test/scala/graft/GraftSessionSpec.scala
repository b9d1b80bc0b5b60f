package graft

import org.scalatest.funsuite.AnyFunSuite

class GraftSessionSpec extends AnyFunSuite {

  test("extra confs: keys and values are trimmed, blank entries skipped") {
    assert(GraftSession.extraConf(" a.b = 1 ;c=x=y;; ") == Map("a.b" -> "1", "c" -> "x=y"))
    assert(GraftSession.extraConf("") == Map.empty)
  }

  test("extra confs: an empty key or a missing '=' names the bad entry") {
    Seq("=v", " = v", "k").foreach { bad =>
      val e = intercept[IllegalArgumentException](GraftSession.extraConf(s"a=1;$bad"))
      assert(e.getMessage.contains(s"'${bad.trim}'"), e.getMessage)
    }
  }

  test("the local-driver confs are the Bench confs for a given cpus") {
    assert(GraftSession.confs(cpus = 6, extra = Map.empty) == Map(
      "spark.master" -> "local[6]",
      "spark.sql.shuffle.partitions" -> "6",
      "spark.sql.files.openCostInBytes" -> "262144",
      "spark.ui.enabled" -> "false",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.extensions" -> "graft.functions.GraftExtensions"))
  }

  test("an extra conf overrides the base and adds new keys") {
    val c = GraftSession.confs(cpus = 4, extra = GraftSession.extraConf(
      "spark.sql.shuffle.partitions=16;spark.io.compression.codec=zstd"))
    assert(c("spark.sql.shuffle.partitions") == "16")
    assert(c("spark.io.compression.codec") == "zstd")
    assert(c("spark.master") == "local[4]")
    assert(c - "spark.sql.shuffle.partitions" - "spark.io.compression.codec" ==
      GraftSession.confs(cpus = 4, extra = Map.empty) - "spark.sql.shuffle.partitions")
  }

  private val faces = Seq("qb_two" -> 2, "qa_one" -> 1, "q1_x" -> 3, "qa_two" -> 4)

  test("select: every face sorted by name when no prefix is given") {
    assert(FaceRunner.select(faces, Nil).map(_._1) == Seq("q1_x", "qa_one", "qa_two", "qb_two"))
  }

  test("select: the union of several prefixes, sorted by name") {
    assert(FaceRunner.select(faces, Seq("qb", "qa_o", "q1")) ==
      Seq("q1_x" -> 3, "qa_one" -> 1, "qb_two" -> 2))
  }

  test("select: a prefix that matches no face fails and names it") {
    val e = intercept[IllegalArgumentException](FaceRunner.select(faces, Seq("qa", "zz9")))
    assert(e.getMessage.contains("'zz9'"), e.getMessage)
    assert(!e.getMessage.contains("'qa'"), e.getMessage)
  }

  test("a face that throws with a null message reports its exception class") {
    val err = new java.io.ByteArrayOutputStream()
    val r = Console.withErr(err) {
      FaceRunner.timed("bench", "q_null")(throw new IllegalStateException())
    }
    assert(r == Left("java.lang.IllegalStateException"))
    assert(err.toString.trim == "[bench] q_null failed: java.lang.IllegalStateException")
    val withMsg = Console.withErr(new java.io.ByteArrayOutputStream()) {
      FaceRunner.timed("verify", "q_msg")(throw new ArithmeticException("boom"))
    }
    assert(withMsg == Left("java.lang.ArithmeticException: boom"))
    assert(FaceRunner.timed("time", "q_ok")(7L).map(_._2) == Right(7L))
  }
}
