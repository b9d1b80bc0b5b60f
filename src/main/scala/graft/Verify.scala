package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated name prefixes (dev iteration only —
    // the driver always runs the full surface)
    val faces = FaceRunner.select(SparkEntry.queries, FaceRunner.prefixes(args.lift(2)))
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    def deleteRec(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(deleteRec)
      f.delete(): Unit
    }
    faces.foreach { case (name, fn) =>
      // pre-delete so a failure can never leave a stale (older-run) result
      // behind for the driver's compare to misread as current
      val target = new java.io.File(s"$outDir/$name")
      if (target.exists()) deleteRec(target)
      val result = FaceRunner.timed("verify", name)(
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"))
      if (result.isLeft && target.exists()) deleteRec(target)
    }
    val json = SparkEntry.oracleSql.map { case (k, v) =>
      s"${FaceRunner.jsonString(k)}: ${FaceRunner.jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
