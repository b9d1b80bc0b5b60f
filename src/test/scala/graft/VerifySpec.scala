package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class VerifySpec extends AnyFunSuite with SparkSuite {

  test("dump over a missing sf dir returns every face as failed and leaves no face dir") {
    val faces = FaceRunner.select(SparkEntry.queries, Seq("q01", "q88", "q9n"))
    val out = Files.createTempDirectory("graft-verify")
    // a stale dir from an earlier run must not survive a failed rewrite
    Files.createDirectories(out.resolve(faces.head._1))
    val failed = Console.withErr(new java.io.ByteArrayOutputStream()) {
      Verify.dump(spark, faces, out.resolve("no-such-sf").toString, out.toString)
    }
    assert(faces.size >= 3)
    assert(failed == faces.map(_._1))
    assert(out.toFile.list().isEmpty, out.toFile.list().mkString(", "))
  }
}
