package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft session is configured and built. The policy is a
  * plain conf map (engine confs, then the local-driver confs, then
  * `SPARK_GRAFT_EXTRA_CONF` last) so it can be read and tested without a
  * session; [[build]] applies a map. Bench, Verify, TimeOne and the tools
  * run on [[local]]; `Apps` submits with [[engine]] only; the test suites
  * pass their own local confs to [[build]]. */
object GraftSession {

  /** Confs every graft session carries, local or submitted. */
  val engine: Map[String, String] = Map(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.extensions" -> "graft.functions.GraftExtensions")

  /** Cores of the local driver: `SPARK_GRAFT_CPUS`, default 4. */
  lazy val cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** A/B probe hook: SPARK_GRAFT_EXTRA_CONF="k=v;k2=v2" sets arbitrary
    * session confs, applied last, so a config hypothesis (a shuffle codec,
    * AQE off, a broadcast threshold) can be measured without editing a
    * driver. Entries split on ';', so a value cannot contain ';'. */
  lazy val extra: Map[String, String] =
    extraConf(sys.env.getOrElse("SPARK_GRAFT_EXTRA_CONF", ""))

  /** The local-driver policy: [[engine]], a `local[cpus]` driver with one
    * shuffle partition per core and no UI, then `extra`, which overrides
    * both. The UI stays a deployment choice for submitted apps: a
    * `SparkSession.builder` conf would override their
    * `--conf spark.ui.enabled`. */
  def confs(cpus: Int = cpus, extra: Map[String, String] = extra): Map[String, String] =
    engine ++ Map(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> cpus.toString,
      // many-small-files sources (binaryFile staging, streaming file
      // sinks): the default 4 MB per-file open cost packs ~32 tiny files
      // per task, so a 500k-file corpus plans 15k tasks and q84 goes
      // scheduling-bound (measured 17.6 s at sf10). 256 KB packs ~500
      // files/task (~1k tasks); parquet scans are unaffected (big files).
      "spark.sql.files.openCostInBytes" -> "262144",
      "spark.ui.enabled" -> "false") ++ extra

  /** A session with `confs`, or the active one (only its runtime SQL confs
    * then take effect, as with any `getOrCreate`). */
  def build(confs: Map[String, String]): SparkSession =
    SparkSession.builder().config(confs).getOrCreate()

  /** The session of the local drivers, logging at WARN. */
  def local(): SparkSession = {
    val spark = build(confs())
    spark.sparkContext.setLogLevel("WARN")
    spark
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
