package graft.streaming

import java.sql.Timestamp
import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkSuite, Tables}
import EventStream.Ev

class EventStreamSpec extends AnyFunSuite with SparkSuite {

  // offset keeps test events above the initial watermark (epoch 0)
  private val Base = 1440L
  private def ts(min: Long): Timestamp = new Timestamp((Base + min) * 60000L)

  /** `body`'s result and the micro-batches it ran: the distinct
    * (run, batch) ids of the `QueryProgressEvent`s that the context-wide
    * bus delivers (as `onOtherEvent`; the faces stream on child
    * sessions). */
  private def withBatches[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[(java.util.UUID, Long)]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case q: QueryProgressEvent => seen.add((q.progress.runId, q.progress.batchId))
        case _ =>
      }
    }
    org.apache.spark.graft.ListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.graft.ListenerBus.drain(sc)
      (out, seen.size)
    } finally sc.removeSparkListener(listener)
  }

  /** `body`'s result and the Spark jobs it started. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { n.incrementAndGet(); () }
    }
    ListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try { val out = body; ListenerBus.drain(sc); (out, n.get) }
    finally sc.removeSparkListener(listener)
  }

  /** The `graft-<tag>*` dirs `Staging.fresh` has made so far. */
  private def stagedDirs(tag: String): Set[java.nio.file.Path] = {
    val s = java.nio.file.Files.list(
      java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")))
    try s.filter(_.getFileName.toString.startsWith(s"graft-$tag"))
      .toArray.map(_.asInstanceOf[java.nio.file.Path]).toSet
    finally s.close()
  }

  test("streaming hourly counts equal the batch aggregation once drained") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = Tables(spark, sfDir, "events")
      .select("ts", "event_type", "value").limit(500)
    val input = MemoryStream[(Timestamp, String, Double)]
    val q = EventStream.hourlyCounts(
        input.toDF().toDF("ts", "event_type", "value"))
      .writeStream.format("memory").queryName("hourly_out")
      .outputMode("complete").start()
    try {
      input.addData(events.collect().map(r =>
        (r.getTimestamp(0), r.getString(1), r.getDouble(2))).toSeq)
      q.processAllAvailable()
      val streamed = spark.table("hourly_out")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      val batch = EventStream.hourlyCounts(events)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(streamed == batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("file-source streaming over the events fixture equals batch") {
    // the fixture has shipped as NANOS and MICROS parquet over time — the
    // stream must route through the same layout dispatch as graft.Tables
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // the file source wants a directory; stage the single fixture file
    val stageDir = java.nio.file.Files.createTempDirectory("graft-stream-src")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      stageDir.resolve("events.parquet"))
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    val stream = Tables.normalizeEventsTs(
      spark.readStream.schema(schema).parquet(stageDir.toString))
    val q = EventStream.hourlyCounts(stream)
      .writeStream.format("memory").queryName("hourly_file_src")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("hourly_file_src")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      val batch = EventStream.hourlyCounts(Tables(spark, sfDir, "events"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(streamed == batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("stateful sessionizer emits gap-separated sessions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = EventStream.sessionize(input.toDS(), gapSec = 1800)
      .writeStream.format("memory").queryName("sessions_out")
      .outputMode("append").start()
    try {
      // user 1: two events 10 min apart (one session), then a 2h gap, a new
      // event, and finally a far-future event to advance the watermark past
      // the first session's timeout.
      input.addData(Ev(1, ts(0), 1.0), Ev(1, ts(10), 2.0))
      q.processAllAvailable()
      input.addData(Ev(1, ts(130), 5.0))
      q.processAllAvailable()
      input.addData(Ev(2, ts(2000), 1.0)) // watermark = 2000m - 60m
      q.processAllAvailable()
      val sessions = spark.table("sessions_out").orderBy("start_s")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3), r.getDouble(4)))
      // session 1 closed by the gap event; session 2 closed by timeout
      assert(sessions.length >= 2)
      assert(sessions(0) == ((1L, Base * 60, Base * 60 + 600, 2, 3.0)))
      assert(sessions(1) == ((1L, (Base + 130) * 60, (Base + 130) * 60, 1, 5.0)))
    } finally q.stop()
  }

  test("late in-watermark events never rewind a session's end") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = EventStream.sessionize(input.toDS(), gapSec = 1800)
      .writeStream.format("memory").queryName("sessions_late")
      .outputMode("append").start()
    try {
      input.addData(Ev(1, ts(0), 1.0), Ev(1, ts(10), 2.0))
      q.processAllAvailable()
      input.addData(Ev(1, ts(5), 4.0)) // late but within the 1h watermark
      q.processAllAvailable()
      input.addData(Ev(2, ts(5000), 1.0)) // advance watermark → flush user 1
      q.processAllAvailable()
      val s = spark.table("sessions_late").where(col("user_id") === 1)
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getInt(3), r.getDouble(4)))
      assert(s.toSeq == Seq((Base * 60, Base * 60 + 600, 3, 7.0)),
        s"late event mishandled: ${s.toSeq}")
    } finally q.stop()
  }

  test("batch sessionization and streaming sessionizer agree on fixture events") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evs = Tables(spark, sfDir, "events")
      .select(col("user_id"), col("ts"), col("value")).as[Ev]
      .collect().sortBy(_.ts.getTime)
    val input = MemoryStream[Ev]
    val q = EventStream.sessionize(input.toDS()).writeStream
      .format("memory").queryName("sessions_fixture")
      .outputMode("append").start()
    try {
      input.addData(evs.toSeq)
      q.processAllAvailable()
      // close everything: event far past the last ts
      val last = evs.last.ts.getTime / 60000
      input.addData(Ev(-1, ts(last + 10000), 0.0))
      q.processAllAvailable()
      val streamed = spark.table("sessions_fixture")
        .where(col("user_id") =!= -1)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
      val batch = graft.operators.Events.sessionize(spark, sfDir)
        .collect().map(r => (r.getLong(0), r.getAs[Long]("start_s"),
          r.getAs[Long]("end_s"), r.getAs[Long]("n_events").toInt)).toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("stream-stream interval join equals the batch range join") {
    val streamed = EventStream.clicksAfterErrorsStream(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val batch = graft.operators.Events.clicksAfterErrors(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(streamed.nonEmpty && streamed.sameElements(batch))
  }

  test("streaming exact dedup equals the batch groupBy face") {
    val streamed = DedupStream.dedupExactFromFiles(spark, sfDir)
      .collect().map(_.toSeq)
    val batch = graft.operators.Dedup.exact(spark, sfDir)
      .collect().map(_.toSeq)
    assert(streamed.sameElements(batch))
  }

  test("streaming LSH near-dup equals the batch incremental face") {
    val streamed = DedupStream.minhashPairsFromStream(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val batch = graft.operators.Dedup.minhashPairsIncremental(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(streamed.nonEmpty && streamed.sameElements(batch),
      s"streamed ${streamed.length} pairs vs batch ${batch.length}")
  }

  test("q65: the file-source sessionizer equals batch sessionize row for row in 2 micro-batches") {
    // the sentinel is staged with the events: batch 0 reads both, and the
    // no-data batch at its watermark times out every open session
    val (rows, batches) = withBatches(
      EventStream.sessionizeFromFiles(spark, sfDir).collect())
    val batch = graft.operators.Events.sessionize(spark, sfDir).collect()
    assert(rows.nonEmpty)
    assert(rows.head.schema.fieldNames.toSeq == batch.head.schema.fieldNames.toSeq)
    def bits(r: org.apache.spark.sql.Row) = r.toSeq.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case v => v
    }
    assert(rows.map(bits).toSeq == batch.map(bits).toSeq)
    assert(batches == 2, s"q65 ran $batches micro-batches")
  }

  test("q69: the interval-join stream drains in 2 micro-batches") {
    val (rows, batches) = withBatches(
      EventStream.clicksAfterErrorsStream(spark, sfDir).collect())
    assert(rows.nonEmpty)
    assert(batches == 2, s"q69 ran $batches micro-batches")
  }

  test("stream child session: fork-free checkpoint manager, checksums on, parent untouched") {
    val key = "spark.sql.streaming.checkpointFileManagerClass"
    val checksum = "spark.sql.streaming.checkpoint.fileChecksum.enabled"
    val isolation = StreamSessions.ArtifactIsolation
    val parentBefore = (spark.conf.getOption(key), spark.conf.getOption(checksum),
      spark.conf.get(isolation))
    val ss = StreamSessions.withShuffle(spark, 3)
    assert(ss.conf.get(key) == StreamSessions.FsCheckpointManager)
    assert(ss.conf.get("spark.sql.shuffle.partitions") == "3")
    assert(ss.conf.getOption(checksum).forall(_ == "true"))
    assert(ss.conf.get(isolation) == "false")
    assert((spark.conf.getOption(key), spark.conf.getOption(checksum),
      spark.conf.get(isolation)) == parentBefore)
    assert(!spark.conf.getOption(key).contains(StreamSessions.FsCheckpointManager))
    assert(spark.conf.get(isolation) == "true")
  }

  test("q65: every state delta file has its checksum sidecar") {
    val before = stagedDirs("q65-ckpt")
    EventStream.sessionizeFromFiles(spark, sfDir).collect()
    val ckpt = stagedDirs("q65-ckpt") -- before
    assert(ckpt.size == 1, s"new q65 checkpoints: $ckpt")
    val files = {
      val s = java.nio.file.Files.walk(ckpt.head.resolve("state"))
      try s.toArray.map(_.asInstanceOf[java.nio.file.Path]).toSeq finally s.close()
    }
    val names = files.map(_.toString).toSet
    val deltas = files.filter(_.getFileName.toString.endsWith(".delta"))
    assert(deltas.nonEmpty)
    val bare = deltas.filterNot(d => names(d.toString + ".crc"))
    assert(bare.isEmpty,
      s"${bare.size} of ${deltas.size} delta files have no checksum sidecar, e.g. ${bare.take(3)}")
  }

  test("a warm streaming call creates no executor class loader") {
    // with artifact isolation on, each stream's session clone has its own
    // uuid, the executor makes a loader for each, and the code generated in
    // one call is compiled again in the next
    val faces = Seq[(String, () => DataFrame)](
      "q65" -> (() => EventStream.sessionizeFromFiles(spark, sfDir)),
      "qbb" -> (() => DedupStream.minhashPairsFromStream(spark, sfDir)))
    faces.foreach { case (name, face) =>
      face().collect()
      val (_, lines) = logLines("org.apache.spark.executor.Executor",
          org.apache.logging.log4j.Level.INFO) {
        face().collect(); face().collect()
      }
      val loaders = lines.filter(_.contains("Created or updated repl class loader"))
      assert(loaders.isEmpty, s"$name's 2nd and 3rd calls created ${loaders.size} " +
        s"executor class loaders:\n${loaders.mkString("\n")}")
    }
  }

  /** A face's second call: the jobs it runs and the `graft-*` dirs it
    * adds under the temp dir. */
  private def secondCall(face: => DataFrame): (Int, Set[String]) = {
    face.collect()
    val before = stagedDirs("")
    val (_, jobs) = jobsOf(face.collect())
    (jobs, (stagedDirs("") -- before).map(_.getFileName.toString))
  }

  // Pinned on sf0.001 with 8 shuffle partitions. Each source is staged once
  // per fixture and read with a remembered or declared schema, so a warm
  // call runs no schema-inference job, sentinel build or delta write:
  // before that, the same second calls ran 9 (q65) and 18 (qbb) jobs.
  private val warmJobs = Map("q65" -> 6, "qbb" -> 12)

  test("q65 and qbb: a second call runs the pinned jobs and stages no new source") {
    val calls = Seq(
      ("q65", () => EventStream.sessionizeFromFiles(spark, sfDir), Set("q65-sink", "q65-ckpt")),
      ("qbb", () => DedupStream.minhashPairsFromStream(spark, sfDir),
        Set("lshstream-sink", "qbb-ckpt")))
    val jobs = calls.map { case (name, face, written) =>
      val (n, added) = secondCall(face())
      val sinksAndCheckpoints = added.forall(d => written.exists(w => d.startsWith(s"graft-$w")))
      assert(added.size == written.size && sinksAndCheckpoints, s"$name's second call added $added")
      name -> n
    }.toMap
    assert(jobs == warmJobs, s"jobs $jobs, pinned at $warmJobs; " +
      "a change to these counts must be explained in CHANGES.md")
  }

  test("every streaming sink is read back with the schema inference gives it") {
    val faces = Seq[(String, () => DataFrame)](
      "q65-sink" -> (() => EventStream.sessionizeFromFiles(spark, sfDir)),
      "q69-sink" -> (() => EventStream.clicksAfterErrorsStream(spark, sfDir)),
      "q58-sink" -> (() => DedupStream.dedupExactFromFiles(spark, sfDir)),
      "q9c-sink" -> (() => CdcStream.upsertFromFiles(spark, sfDir)),
      "lshstream-sink" -> (() => DedupStream.minhashPairsFromStream(spark, sfDir)))
    faces.foreach { case (tag, face) =>
      val before = stagedDirs(tag)
      val df = face()
      val sink = stagedDirs(tag) -- before
      assert(sink.size == 1, s"$tag: new sinks $sink")
      val name = sink.head.getFileName.toString
      val read = df.queryExecution.analyzed.collect {
        case l: LogicalRelation => l.relation
      }.collect {
        case h: HadoopFsRelation if h.location.rootPaths.exists(_.getName == name) => h.schema
      }
      assert(read.size == 1, s"$tag: ${read.size} reads of $name")
      assert(read.head == spark.read.parquet(sink.head.toString).schema, tag)
    }
  }
}
