package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions.col

import graft.{SparkEntry, Tables}
import graft.operators.GraphOps

/** The benchmark JVM: one process per run.
  *
  * It times its setup from the launcher's process start, then runs the
  * workload's steps in passes: one cold pass, then warm passes until the
  * measuring window closes (at least [[Harness.minWarm]]). With
  * `--setup-only 1` it stops after the setup: a further setup sample.
  * Every step's output is collected in full and digested; the PageRank
  * kernel is checked by [[PageRankCheck]]. With `--trace 1` it attaches
  * [[Probe]] listeners, runs traced and untraced warm passes in ABBA
  * order, and writes the span tree.
  *
  * Usage: Harness --workload W --inputs DIR --out DIR --expected FILE
  *                --seconds S --trace 0|1 --run-id ID --launched-ms MS
  *                [--setup-only 1]
  * Writes `<out>/result.json` (and `<out>/spans.jsonl` when traced).
  */
object Harness {

  /** A run record: ordered fields, written out with [[Json]]. */
  type Rec = mutable.LinkedHashMap[String, Any]

  /** One timed unit of a pass: a face from [[SparkEntry.queries]] or a
    * graph kernel over the synthetic edge set. `run` returns the
    * DataFrame (timed as build) whose collect is timed as exec. */
  final case class Step(name: String, kernel: Boolean,
      run: (SparkSession, String) => DataFrame)

  private def faces(names: String*): Seq[Step] =
    names.map(n => Step(n, kernel = false, SparkEntry.queries(n)))

  private def kernel(name: String)(f: DataFrame => DataFrame): Step =
    Step(name, kernel = true, (spark, dir) =>
      f(spark.read.parquet(s"$dir/graph/edges.parquet")))

  /** The benchmark's workloads, in BENCHMARK.json's order. */
  val workloads: Map[String, Seq[Step]] = Map(
    "graph_supersteps" -> (faces("q30_cograph_edges", "q33_betweenness") :+
      kernel("pagerank")(GraphOps.pageRankOf(_, 10, 0.85))),
    "streaming_microbatch" -> faces(
      "q65_sessionize_stream", "qbb_dedup_stream_lsh"))

  /** The least number of warm passes of an untraced run. The warm time is
    * the per-step median over them: on a 4-core host the first pass after
    * the cold one runs 5-25% slow and the passes after it level off, so
    * the median of three discards that warm-up excess
    * (perfbench/README.md). */
  val minWarm = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val steps = workloads(workload)
    val dir = opt("inputs")
    val out = Paths.get(opt("out"))
    val cores = Runtime.getRuntime.availableProcessors

    // Setup, timed from the launcher's process start (epoch ms): JVM boot,
    // class loading, SparkSession plus GraftExtensions, then the inputs'
    // registration as views.
    val launchedMs = opt("launched-ms").toLong
    val spark = Session.build(cores, out.resolve("local").toString)
    val readyMs = System.currentTimeMillis()
    val t1 = System.nanoTime()
    Tables.registerViews(spark, dir)
    val registerS = (System.nanoTime() - t1) / 1e9
    val startS = (readyMs - launchedMs) / 1e3
    val result: Rec = mutable.LinkedHashMap(
      "run_id" -> opt("run-id"), "workload" -> workload,
      "setup_s" -> (startS + registerS), "session_start_s" -> startS,
      "register_s" -> registerS)
    if (opt.get("setup-only").contains("1")) {
      // a setup sample only: no passes, and no shutdown to wait for
      Json.write(out.resolve("result.json"), result)
      Runtime.getRuntime.halt(0)
    }
    result("host") = Session.describe(spark)
    result("host_probe") = HostProbe.measure()

    val traced = opt("trace") == "1"
    val probe =
      if (traced) Some(new Probe(spark.sparkContext, opt("run-id"))) else None
    val expected = Json.read(Paths.get(opt("expected")))
    val passes = mutable.ArrayBuffer.empty[Rec]
    def pass(kind: String, tracedPass: Boolean): Unit = {
      val p = if (tracedPass) probe else None
      p.foreach(_.attach())
      passes += runPass(spark, dir, steps, kind, p, expected)
      p.foreach(_.detach())
    }
    pass("cold", traced)
    // A traced run discards its first warm pass, then runs traced and
    // untraced passes in ABBA order (T U U T ...) in whole blocks of four,
    // so both kinds see the same warm-up and host drift: the traced ones
    // attribute the layers, the untraced ones are the baseline for the
    // tracing overhead.
    if (traced) pass("warmup", tracedPass = false)
    val seconds = opt("seconds").toDouble
    val windowStart = System.nanoTime()
    var n = 0
    def more = if (traced) n < 4 || n % 4 != 0 else n < minWarm
    while (more || (System.nanoTime() - windowStart) / 1e9 < seconds) {
      val t = traced && (n % 4 == 0 || n % 4 == 3)
      pass(if (t) "traced" else if (traced) "untraced" else "warm", t)
      n += 1
    }
    result("passes") = passes.toSeq

    // what the run leaves resident: RDD blocks (the registries' persisted
    // relations) and the block manager's storage memory overall
    val sc = spark.sparkContext
    val rddBytes = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    val storageUsed = sc.getExecutorMemoryStatus.values
      .map { case (max, free) => max - free }.sum
    result("cached_mb") = rddBytes / 1048576.0
    result("storage_mb") = storageUsed / 1048576.0
    result("persistent_rdds") = sc.getPersistentRDDs.size.toLong
    probe.foreach(p => p.writeSpans(out.resolve("spans.jsonl")))
    spark.streams.active.foreach(q => scala.util.Try(q.stop()))
    spark.stop()
    Json.write(out.resolve("result.json"), result)
  }

  /** One pass over the workload's steps, in their fixed order. The pass
    * time is the sum of the steps' timed parts; the output checks between
    * them are not timed. */
  def runPass(spark: SparkSession, dir: String, steps: Seq[Step],
      kind: String, probe: Option[Probe], expected: JsonNode): Rec = {
    probe.foreach(_.open("pass", kind))
    val jit0 = Jvm.jitMs
    val records = steps.map(s => runStep(spark, dir, s, probe, expected))
    val jitS = (Jvm.jitMs - jit0) / 1e3
    probe.foreach(_.close())
    def total(k: String) =
      records.map(_.get(k).collect { case d: Double => d }.getOrElse(0.0)).sum
    System.err.println(
      f"[perfbench] $kind pass ${total("wall_s")}%.3f s, " +
        f"cpu ${total("cpu_s")}%.3f s, jit $jitS%.3f s")
    mutable.LinkedHashMap("kind" -> kind, "jit_s" -> jitS,
      "wall_s" -> total("wall_s"), "cpu_s" -> total("cpu_s"),
      "steps" -> records)
  }

  /** Times the face function (build) and the collect of every column
    * (exec), then checks the output outside the timed part and outside the
    * step's span, so the check's own jobs are not attributed to it. */
  def runStep(spark: SparkSession, dir: String, step: Step,
      probe: Option[Probe], expected: JsonNode): Rec = {
    val rec: Rec = mutable.LinkedHashMap("name" -> step.name,
      "kernel" -> step.kernel)
    probe.foreach(_.open(if (step.kernel) "kernel" else "face", step.name))
    val cpu0 = Jvm.cpuNs
    val t0 = System.nanoTime()
    val out = try {
      probe.foreach(_.open("build", step.name))
      val df = step.run(spark, dir)
      probe.foreach(_.close())
      val t1 = System.nanoTime()
      probe.foreach(_.open("exec", step.name))
      val rows = df.collect()
      probe.foreach(_.close())
      rec("build_s") = (t1 - t0) / 1e9
      rec("exec_s") = (System.nanoTime() - t1) / 1e9
      Some((df, rows))
    } catch {
      case e: Throwable =>
        rec("error") = s"${e.getClass.getName}: ${e.getMessage}".take(400)
        System.err.println(s"[perfbench] ${step.name} failed: $e")
        None
    } finally {
      rec("wall_s") = (System.nanoTime() - t0) / 1e9
      rec("cpu_s") = (Jvm.cpuNs - cpu0) / 1e9
      probe.foreach(_.closeAll(step.name))
    }
    probe.foreach(p => rec ++= p.countersOf(step.name))
    rec("ok") = out.isDefined
    out.foreach { case (df, rows) =>
      rec("rows") = rows.length.toLong
      rec("digest") = Digest.of(rows)
      if (step.kernel)
        rec("check") = PageRankCheck(rows, spark, dir, expected.get(step.name))
      probe.foreach { p =>
        val phases = df.queryExecution.tracker.phases
        for (ph <- Seq("analysis", "optimization", "planning"))
          rec(s"${ph}_ms") = phases.get(ph).map(_.durationMs.toDouble)
            .getOrElse(0.0)
        rec("cache_hit") = df.queryExecution.withCachedData.collectFirst {
          case r: InMemoryRelation => r }.isDefined
        p.planSpan(step.name, phases)
      }
    }
    rec
  }
}

/** Session construction with the Bench confs, plus a description of the
  * host and session for the run record. */
object Session {
  def build(cores: Int, localDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.files.openCostInBytes", 262144L)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", localDir)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def describe(spark: SparkSession): Harness.Rec = mutable.LinkedHashMap(
    "hostname" -> java.net.InetAddress.getLocalHost.getHostName,
    "nproc" -> Runtime.getRuntime.availableProcessors.toLong,
    "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
    "java" -> System.getProperty("java.version"),
    "spark" -> spark.version,
    "spark_confs" -> mutable.LinkedHashMap(spark.sparkContext.getConf.getAll
      .sortBy(_._1).filterNot(_._1.startsWith("spark.app.")).toSeq: _*))
}

/** Process-wide CPU time (all threads: tasks, driver, JIT, GC) and the
  * JIT compilers' accumulated time. */
object Jvm {
  import java.lang.management.ManagementFactory
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val jit = ManagementFactory.getCompilationMXBean
  def cpuNs: Long = os.getProcessCpuTime
  def jitMs: Long = jit.getTotalCompilationTime
}

/** A fixed, seeded, in-memory CPU loop timed after setup in every run:
  * the host-speed reference a cross-run ratio can be normalized by. */
object HostProbe {
  def measure(): Harness.Rec = {
    val n = 1 << 20
    val a = new Array[Long](n)
    val times = (1 to 5).map { _ =>
      var x = 0x9E3779B97F4A7C15L
      val t0 = System.nanoTime()
      var i = 0
      while (i < n) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        a(i) = x; i += 1
      }
      java.util.Arrays.sort(a)
      var h = 0L
      i = 0
      while (i < n) { h = h * 31 + a(i); i += 1 }
      if (h == 42) println("") // keeps the loop's result live
      (System.nanoTime() - t0) / 1e6
    }.sorted
    mutable.LinkedHashMap("sort_1m_ms_median" -> times(times.size / 2),
      "sort_1m_ms_all" -> times)
  }
}

/** Order-insensitive digest of a collected result: every column of every
  * row in a canonical text form, rows sorted, SHA-256 of the lines. */
object Digest {
  def of(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(canon).sorted.foreach { s =>
      md.update(s.getBytes(StandardCharsets.UTF_8)); md.update('\n'.toByte) }
    md.digest().take(12).map(b => f"$b%02x").mkString
  }

  def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double =>
      if (d == 0.0) "0.0" else java.lang.Double.toString(d)
    case f: Float =>
      if (f == 0.0f) "0.0" else java.lang.Float.toString(f)
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case t: java.sql.Timestamp => t.toInstant.toString
    case t: java.time.Instant => t.toString
    case d: java.math.BigDecimal => d.toPlainString
    case x => x.toString
  }
}

/** Checks of the PageRank kernel over K relabelled copies of one base
  * graph (perfbench/gen_inputs.py writes `graph/vmap.parquet`: id ->
  * (copy, base id)). The copies are disjoint and identical, so:
  *  - every vertex has a row and every copy gets the same rank vector,
  *    to [[PageRankCheck.tol]];
  *  - K times copy 0's vector, keyed by base id, is the single-graph
  *    PageRank: it must match the committed one in expected.json (the
  *    q88_pagerank DuckDB oracle on the fixture, perfbench/README.md).
  *    The kernel rounds ranks to 1e-8, so K times a rank carries up to
  *    K * 0.5e-8 of rounding; the tolerance covers K <= 18. */
object PageRankCheck {
  val tol = 1e-7

  def apply(rows: Array[Row], spark: SparkSession, dir: String,
      expected: JsonNode): String = {
    val vm = spark.read.parquet(s"$dir/graph/vmap.parquet")
      .select(col("id"), col("copy"), col("base")).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    val copies = vm.values.map(_._1).toSet.size
    if (rows.length != vm.size)
      return s"rows ${rows.length} != vertices ${vm.size}"
    val bad = rows.groupBy(r => vm(r.getLong(0))._2).collect {
      case (b, rs) if rs.length != copies ||
          rs.map(_.getDouble(1)).max - rs.map(_.getDouble(1)).min > tol =>
        s"vertex $b ranks differ across copies"
    }
    if (bad.nonEmpty) return bad.take(3).mkString("; ")
    if (expected == null || !expected.has("rank"))
      return "no expected rank vector"
    val want = expected.get("rank")
    val copy0 = rows.map(r => (vm(r.getLong(0)), r.getDouble(1)))
      .collect { case ((0, b), r) => b -> copies * r }
    if (copy0.length != want.size)
      return s"copy 0 has ${copy0.length} vertices, expected ${want.size}"
    val off = copy0.collect {
      case (b, r) if !want.has(b.toString) ||
          math.abs(r - want.get(b.toString).asDouble) > tol =>
        s"vertex $b: K x rank $r != ${Option(want.get(b.toString))
          .map(_.asDouble).orNull}"
    }
    if (off.isEmpty) "ok" else off.take(3).mkString("; ")
  }
}

/** The run record's JSON: Jackson with its Scala module, from Spark's
  * classpath. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def render(v: Any): String = mapper.writeValueAsString(v)

  def write(path: Path, v: Any): Unit =
    Files.write(path, render(v).getBytes(StandardCharsets.UTF_8))

  def read(path: Path): JsonNode = mapper.readTree(path.toFile)
}
