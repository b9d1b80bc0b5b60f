package graft
import org.apache.spark.sql.SparkSession

/** Dev harness: time individual queries by name-prefix without running the
  * whole Bench suite. `runMain graft.TimeOne <sfDir> <prefix>[,<prefix>...]
  * [reps]` — prints per-query seconds for each rep (first rep includes
  * footer/codegen warm-up; read the later reps).
  */
object TimeOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val prefixes = args(1).split(",").toSeq
    val reps = if (args.length > 2) args(2).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // many-small-files sources (binaryFile staging, streaming file
      // sinks): the default 4 MB per-file open cost packs ~32 tiny files
      // per task, so a 500k-file corpus plans 15k tasks and q84 goes
      // scheduling-bound (measured 17.6 s at sf10). 256 KB packs ~500
      // files/task (~1k tasks); parquet scans are unaffected (big files).
      .config("spark.sql.files.openCostInBytes", 262144L)
      // shuffle/spill codec, env-gated (default = Spark's lz4): the
      // capacity probes at the 50M-doc fixture write one ~38 GB-raw index
      // shuffle whose lz4 form (~30 GB of near-random 64-bit hashes)
      // collides with the VM's free-disk peak; zstd buys ~25% on exactly
      // that shape for a few % CPU — the standard big-cluster trade.
      .config("spark.io.compression.codec",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_CODEC", "lz4"))
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      // A/B probe hook: SPARK_GRAFT_EXTRA_CONF="k=v;k2=v2" sets arbitrary
      // session confs so a config hypothesis can be measured without
      // editing this file per experiment. Entries split on ';', so a value
      // cannot contain ';'.
      .config(extraConf(sys.env.getOrElse("SPARK_GRAFT_EXTRA_CONF", "")))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val picked = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => prefixes.exists(n.startsWith) }
    for (r <- 1 to reps; (name, fn) <- picked) {
      val t0 = System.nanoTime()
      val n =
        try fn(spark, sfDir).count()
        catch { case e: Throwable =>
          println(f"[time] $name rep$r FAILED: ${e.getMessage}"); -1L
        }
      if (n >= 0)
        println(f"[time] $name rep$r ${(System.nanoTime() - t0) / 1e9}%.3f s ($n rows)")
    }
    spark.stop()
  }

  /** `k=v;k2=v2` as a conf map: keys and values are trimmed and blank
    * entries skipped; an entry without `=` or with an empty key fails,
    * naming the entry. */
  private[graft] def extraConf(spec: String): Map[String, String] =
    spec.split(";").iterator.map(_.trim).filter(_.nonEmpty).map { kv =>
      val eq = kv.indexOf('=')
      val k = if (eq < 0) "" else kv.substring(0, eq).trim
      require(k.nonEmpty,
        s"SPARK_GRAFT_EXTRA_CONF: bad entry '$kv' (want key=value, non-empty key)")
      k -> kv.substring(eq + 1).trim
    }.toMap
}
