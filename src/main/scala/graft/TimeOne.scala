package graft

/** Dev harness: time individual queries by name-prefix without running the
  * whole Bench suite. `runMain graft.TimeOne <sfDir> <prefix>[,<prefix>...]
  * [reps]` — prints per-query seconds for each rep (first rep includes
  * footer/codegen warm-up; read the later reps).
  */
object TimeOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val faces = FaceRunner.select(SparkEntry.queries, FaceRunner.prefixes(Some(args(1))))
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = GraftSession.local()
    FaceRunner.timeReps(faces, reps)(_(spark, sfDir).count())
    spark.stop()
  }
}
