package graft

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the events.ts ingestion contract: the fixture has shipped as both
  * parquet TIMESTAMP(NANOS) and TIMESTAMP(MICROS) (NTZ) over time, and a
  * real engine must read either without a code change. Each layout is
  * written from this test (NANOS via parquet-hadoop's example writer, since
  * Spark itself cannot write NANOS) and `Tables.apply` must yield the same
  * rows and a session-TZ TimestampType `ts` for all of them.
  */
class TablesSpec extends AnyFunSuite with SparkSuite {

  // Epoch micros chosen so the NANOS→micros truncation is exact.
  private val rows = Seq(
    (1L, 1700000000123456L, 10L, "click", 1.5, "{}"),
    (2L, 1700000003000000L, 11L, "view", 2.5, "{\"a\":1}"),
    (3L, 1700000007654321L, 10L, "buy", 0.0, "{}"))

  private def writeNanos(dir: String): Unit = {
    val schema: MessageType = Types.buildMessage()
      .addField(Types.required(INT64).named("event_id"))
      .addField(Types.required(INT64)
        .as(LogicalTypeAnnotation.timestampType(true, TimeUnit.NANOS)).named("ts"))
      .addField(Types.required(INT64).named("user_id"))
      .addField(Types.required(BINARY)
        .as(LogicalTypeAnnotation.stringType()).named("event_type"))
      .addField(Types.required(DOUBLE).named("value"))
      .addField(Types.required(BINARY)
        .as(LogicalTypeAnnotation.stringType()).named("props"))
      .named("events")
    val out = HadoopOutputFile.fromPath(
      new Path(s"$dir/events.parquet"), new Configuration())
    val writer = ExampleParquetWriter.builder(out).withType(schema).build()
    rows.foreach { case (id, us, uid, typ, v, props) =>
      val g = new SimpleGroup(schema)
      g.add("event_id", id)
      g.add("ts", us * 1000L) // epoch nanos
      g.add("user_id", uid)
      g.add("event_type", typ)
      g.add("value", v)
      g.add("props", props)
      writer.write(g)
    }
    writer.close()
  }

  private def writeMicros(dir: String, ntz: Boolean): Unit = {
    val tsType = if (ntz) TimestampNTZType else TimestampType
    val schema = StructType(Seq(
      StructField("event_id", LongType, nullable = false),
      StructField("ts", tsType, nullable = false),
      StructField("user_id", LongType, nullable = false),
      StructField("event_type", StringType, nullable = false),
      StructField("value", DoubleType, nullable = false),
      StructField("props", StringType, nullable = false)))
    val data = rows.map { case (id, us, uid, typ, v, props) =>
      val ts: Any =
        if (ntz)
          java.time.LocalDateTime.ofEpochSecond(
            us / 1000000L, (us % 1000000L).toInt * 1000, java.time.ZoneOffset.UTC)
        else java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
          us / 1000000L, (us % 1000000L) * 1000))
      Row(id, ts, uid, typ, v, props)
    }
    spark.createDataFrame(
        spark.sparkContext.parallelize(data, 1), schema)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
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

  test("Tables.apply reads NANOS, MICROS-NTZ, and MICROS-LTZ events identically") {
    val base = Files.createTempDirectory("graft-tables").toString
    val nanosDir = s"$base/nanos"; val ntzDir = s"$base/ntz"; val ltzDir = s"$base/ltz"
    Seq(nanosDir, ntzDir, ltzDir).foreach(d => Files.createDirectories(java.nio.file.Paths.get(d)))
    writeNanos(nanosDir)
    writeMicros(ntzDir, ntz = true)
    writeMicros(ltzDir, ntz = false)

    val loaded = Seq(nanosDir, ntzDir, ltzDir).map { d =>
      val df = Tables(spark, d, "events")
      assert(df.schema("ts").dataType === TimestampType,
        s"ts must normalize to session-TZ TimestampType for $d")
      df.select("event_id", "ts", "user_id", "event_type", "value", "props")
        .collect().sortBy(_.getLong(0)).map(_.toString).toSeq
    }
    assert(loaded(0) === loaded(1), "NANOS vs MICROS-NTZ rows differ")
    assert(loaded(0) === loaded(2), "NANOS vs MICROS-LTZ rows differ")
    assert(loaded(0).size === rows.size)
  }

  test("Tables.apply reads the shipped fixture events and yields TimestampType") {
    val df = Tables(spark, sfDir, "events")
    assert(df.schema("ts").dataType === TimestampType)
    assert(df.limit(5).count() > 0)
  }

  test("Tables.apply normalizes embeddings stored as float OR double to array<float>") {
    // same insurance as the ts dispatch: a fixture regen that flips the
    // embedding element type must not take down the similarity family
    val base = Files.createTempDirectory("graft-emb").toString
    val rows = Seq((1L, Array(0.25f, -1.5f, 3.0f), 0),
      (2L, Array(0.5f, 2.0f, -0.125f), 1))
    def write(dir: String, asDouble: Boolean): Unit = {
      val elem = if (asDouble) DoubleType else FloatType
      val schema = StructType(Seq(
        StructField("vec_id", LongType, nullable = false),
        StructField("embedding", ArrayType(elem), nullable = false),
        StructField("label", IntegerType, nullable = false)))
      val data = rows.map { case (id, v, l) =>
        Row(id, if (asDouble) v.map(_.toDouble).toSeq else v.toSeq, l)
      }
      spark.createDataFrame(spark.sparkContext.parallelize(data, 1), schema)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    }
    write(s"$base/f", asDouble = false)
    write(s"$base/d", asDouble = true)
    val loaded = Seq(s"$base/f", s"$base/d").map { d =>
      val df = Tables(spark, d, "embeddings")
      assert(df.schema("embedding").dataType === ArrayType(FloatType),
        s"embedding must normalize to array<float> for $d")
      df.collect().sortBy(_.getLong(0))
        .map(r => (r.getLong(0), r.getSeq[Float](1), r.getInt(2))).toSeq
    }
    // the fixture values are float-representable, so the double layout
    // casts back losslessly and both reads are identical
    assert(loaded(0) === loaded(1))
    // and the shipped fixture resolves to the canonical type
    assert(Tables(spark, sfDir, "embeddings")
      .schema("embedding").dataType === ArrayType(FloatType))
  }

  test("schema memo: after registerViews, every table reads with no Spark job") {
    Tables.registerViews(spark, sfDir)
    Tables.names.foreach { t =>
      val (df, jobs) = jobsOf(Tables(spark, sfDir, t))
      assert(jobs == 0, s"$t ran $jobs jobs")
      assert(df.schema == spark.table(t).schema, t)
    }
  }

  test("schema memo: a file rewritten at the same path is inferred again") {
    val dir = Files.createTempDirectory("graft-memo-rewrite").toString
    val path = s"$dir/events.parquet"
    writeNanos(dir)
    val (nanos, first) = jobsOf(Tables.parquet(spark, path))
    assert(nanos.schema("ts").dataType === LongType)
    assert(first == 1, s"first read ran $first jobs")
    assert(jobsOf(Tables.parquet(spark, path))._2 == 0)
    // the MICROS layout replaces the file at the same path
    writeMicros(dir, ntz = true)
    val (micros, again) = jobsOf(Tables.parquet(spark, path))
    assert(micros.schema("ts").dataType === TimestampNTZType)
    assert(again == 1, s"the rewritten file's read ran $again jobs")
    assert(jobsOf(Tables.parquet(spark, path))._2 == 0)
  }

  test("schema memo: turning nanosAsLong off gives its own entry") {
    val dir = Files.createTempDirectory("graft-memo-conf").toString
    val path = s"$dir/events.parquet"
    writeMicros(dir, ntz = true)
    Tables.parquet(spark, path)
    spark.conf.set(Tables.NanosAsLong, "false")
    val (off, offJobs) = try {
      val first = jobsOf(Tables.inferredOnce(spark, path))
      assert(jobsOf(Tables.inferredOnce(spark, path))._2 == 0)
      first
    } finally spark.conf.set(Tables.NanosAsLong, "true")
    assert(offJobs == 1, s"the read with nanosAsLong off ran $offJobs jobs")
    assert(off.schema == spark.read.parquet(path).schema)
    assert(jobsOf(Tables.parquet(spark, path))._2 == 0)
  }

  test("schema memo: flipping respectUnknownTypeAnnotation gives its own entry") {
    // an UNKNOWN-annotated column infers as NullType with the conf on and
    // as its physical type with it off, so each value needs its own schema
    val dir = Files.createTempDirectory("graft-memo-unknown").toString
    val path = s"$dir/part.parquet"
    val schema: MessageType = Types.buildMessage()
      .addField(Types.required(INT64).named("id"))
      .addField(Types.optional(INT32)
        .as(LogicalTypeAnnotation.unknownType()).named("u"))
      .named("t")
    val writer = ExampleParquetWriter.builder(
      HadoopOutputFile.fromPath(new Path(path), new Configuration())).withType(schema).build()
    (1L to 3L).foreach { id =>
      val g = new SimpleGroup(schema)
      g.add("id", id)
      writer.write(g)
    }
    writer.close()
    val before = spark.conf.get(Tables.RespectUnknownType)
    val flipped = (!before.toBoolean).toString
    val first = Tables.parquet(spark, path).schema
    spark.conf.set(Tables.RespectUnknownType, flipped)
    val (other, otherJobs) = try {
      val read = jobsOf(Tables.parquet(spark, path))
      assert(jobsOf(Tables.parquet(spark, path))._2 == 0)
      assert(read._1.schema == spark.read.parquet(path).schema)
      read
    } finally spark.conf.set(Tables.RespectUnknownType, before)
    assert(otherJobs == 1, s"the read with the conf flipped ran $otherJobs jobs")
    assert(Set(first("u").dataType, other.schema("u").dataType) == Set(NullType, IntegerType),
      s"u inferred as ${first("u").dataType}, then ${other.schema("u").dataType}")
    assert(first == spark.read.parquet(path).schema)
    assert(jobsOf(Tables.parquet(spark, path))._2 == 0)
  }

  test("schema memo: a memo read equals an inferred read, schema and rows") {
    val dir = Files.createTempDirectory("graft-memo-nanos").toString
    writeNanos(dir)
    val paths = Tables.names.map(t => s"$sfDir/$t.parquet") :+ s"$dir/events.parquet"
    paths.foreach { p =>
      Tables.parquet(spark, p)
      val (memo, jobs) = jobsOf(Tables.parquet(spark, p))
      assert(jobs == 0, p)
      val inferred = spark.read.parquet(p)
      assert(memo.schema == inferred.schema, p)
      assert(memo.schema.forall(_.nullable), p)
      assert(memo.collect().toSeq == inferred.collect().toSeq, p)
    }
  }
}
