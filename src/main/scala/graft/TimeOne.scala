package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.graft.ListenerBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Dev harness: time individual queries by name-prefix without running the
  * whole Bench suite. `runMain graft.TimeOne <sfDir> <prefix>[,<prefix>...]
  * [reps]` — prints per-query seconds for each rep (first rep includes
  * footer/codegen warm-up; read the later reps), each `[time]` line
  * followed by `[jobs] <name> rep<N> <count>`: the Spark jobs the rep
  * started, counted by a listener after the bus has drained, and
  * `[codegen] <name> rep<N> <count>`: the classes Janino compiled during
  * the rep, on the driver and on the executors' task threads alike (a
  * local master runs both in this JVM).
  */
object TimeOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val faces = FaceRunner.select(SparkEntry.queries, FaceRunner.prefixes(Some(args(1))))
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = GraftSession.local()
    val sc = spark.sparkContext
    val jobs = new AtomicLong()
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    })
    ListenerBus.drain(sc)
    def compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    var seen = jobs.get()
    var seenCompiled = compiled
    FaceRunner.timeReps(faces, reps, label => {
      ListenerBus.drain(sc)
      val now = jobs.get()
      val nowCompiled = compiled
      println(s"[jobs] $label ${now - seen}")
      println(s"[codegen] $label ${nowCompiled - seenCompiled}")
      seen = now
      seenCompiled = nowCompiled
    })(_(spark, sfDir).count())
    spark.stop()
  }
}
