package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Exits 1, after
  * the dump and `[verify] <k> of <n> faces failed` on stderr, when any
  * face failed: a partial dump must not read as a pass. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated name prefixes (dev iteration only —
    // the driver always runs the full surface)
    val faces = FaceRunner.select(SparkEntry.queries, FaceRunner.prefixes(args.lift(2)))
    val spark = GraftSession.local()
    val failed = dump(spark, faces, sfDir, outDir)
    val json = SparkEntry.oracleSql.map { case (k, v) =>
      s"${FaceRunner.jsonString(k)}: ${FaceRunner.jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      Console.err.println(s"[verify] ${failed.size} of ${faces.size} faces failed")
      sys.exit(1)
    }
  }

  /** Writes each face's result to `<outDir>/<name>` as parquet; returns the
    * names of the faces that failed, whose dirs are left absent. */
  def dump(spark: SparkSession, faces: Seq[(String, (SparkSession, String) => DataFrame)],
      sfDir: String, outDir: String): Seq[String] = {
    new java.io.File(outDir).mkdirs()
    def deleteRec(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(deleteRec)
      f.delete(): Unit
    }
    faces.flatMap { case (name, fn) =>
      // pre-delete so a failure can never leave a stale (older-run) result
      // behind for the driver's compare to misread as current
      val target = new java.io.File(s"$outDir/$name")
      if (target.exists()) deleteRec(target)
      val result = FaceRunner.timed("verify", name)(
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"))
      if (result.isLeft && target.exists()) deleteRec(target)
      result.left.toOption.map(_ => name)
    }
  }
}
