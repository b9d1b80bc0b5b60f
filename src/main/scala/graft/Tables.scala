package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, LongType,
  StructType, TimestampNTZType, TimestampType}

import graft.sources.Staging

/** Fixture-table loader. Every query resolves inputs through here so the
  * physical layout (one parquet per table under the sf dir) lives in one
  * place. At cluster scale these would be catalog tables (partitioned,
  * bucketed); `registerViews` exposes them to the SQL surface.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** events.ts has shipped as both TIMESTAMP(NANOS) and TIMESTAMP(MICROS)
    * parquet. NANOS is only readable via this legacy conf (the column
    * resolves as LongType, epoch nanos); MICROS resolves as TIMESTAMP_NTZ.
    * [[parquet]] sets it on every session it reads with, and
    * [[normalizeEventsTs]] dispatches on the resolved type. */
  val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = parquet(spark, s"$dir/$name.parquet")
    if (name == "events") normalizeEventsTs(df)
    else if (name == "embeddings") normalizeEmbedding(df)
    else df
  }

  /** Whether parquet inference reads a column annotated UNKNOWN as
    * NullType (on) or as its physical type (off). */
  private[graft] val RespectUnknownType =
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled"

  /** The session confs that change the schema Spark infers for a parquet
    * file, so part of a memo key; `mergeSchema` changes which footers it
    * reads. */
  private val InferenceConfs = Seq(NanosAsLong,
    "spark.sql.parquet.binaryAsString", "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled", "spark.sql.parquet.mergeSchema",
    RespectUnknownType)

  private final case class SchemaKey(path: String, fingerprint: String,
      mergeSchema: Boolean, confs: Seq[String])

  private val schemas = new ConcurrentHashMap[SchemaKey, StructType]()

  /** The one parquet reader of the engine: `spark.read.parquet(path)`
    * without its schema-inference job on every call after the first.
    * Inference is a Spark job per read (footers are read on executors),
    * and the faces re-read the same fixture files on every call. The first
    * read of a (path, files, confs) keeps the StructType Spark inferred;
    * a later one reads with `spark.read.schema(s)`, which runs no job.
    * The key holds the path, its size+mtime fingerprint
    * ([[Staging.fingerprintOf]]), so a file rewritten in place is inferred
    * again, and the values of the [[InferenceConfs]]. A path that is not
    * on the local file system has no fingerprint and is always inferred.
    * The schema is always one Spark inferred; nothing parses footers here.
    *
    * [[NanosAsLong]] is set first, on every read: the events fixture
    * needs it, and a conf that flipped at the first events read would key
    * the tables read before it apart from those read after. */
  def parquet(spark: SparkSession, path: String,
      mergeSchema: Boolean = false): DataFrame = {
    if (!spark.conf.get(NanosAsLong).toBoolean) spark.conf.set(NanosAsLong, "true")
    inferredOnce(spark, path, mergeSchema)
  }

  /** [[parquet]] under the session's confs as they stand. */
  private[graft] def inferredOnce(spark: SparkSession, path: String,
      mergeSchema: Boolean = false): DataFrame = {
    val reader = if (mergeSchema) spark.read.option("mergeSchema", "true") else spark.read
    val fingerprint = Staging.fingerprintOf(path)
    if (fingerprint == "absent") reader.parquet(path)
    else {
      val key = SchemaKey(path, fingerprint, mergeSchema,
        InferenceConfs.map(spark.conf.get))
      Option(schemas.get(key)) match {
        case Some(s) => spark.read.schema(s).parquet(path)
        case None =>
          val df = reader.parquet(path)
          schemas.putIfAbsent(key, df.schema)
          df
      }
    }
  }

  /** Normalize an events-shaped relation's `ts` column to session-TZ
    * TimestampType, dispatching on how the parquet layout resolved (see
    * [[apply]]). Schema is static for batch and streaming DataFrames alike,
    * so the streaming file source routes through the same dispatch. */
  def normalizeEventsTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _                => df
    }

  /** Normalize `embeddings.embedding` to the engine-canonical
    * array<float> — the type every similarity/linalg kernel (float dot
    * rewrite, PQ, pooling aggregates) is compiled for. The same
    * schema-dispatch insurance as [[normalizeEventsTs]]: the ts fixture
    * regenerating with a different physical type silently took down 44
    * queries for a round; a float→double regen of the embedding column
    * would take down the ~20 similarity queries the same way. A
    * double-stored file of float-valued data casts losslessly. */
  def normalizeEmbedding(df: DataFrame): DataFrame =
    df.schema("embedding").dataType match {
      case ArrayType(DoubleType, _) =>
        df.withColumn("embedding", col("embedding").cast(ArrayType(FloatType)))
      case _ => df
    }

  /** A `ts` expression 30 days past the row's own value, in the RAW layout's
    * physical type — for building watermark-flushing sentinel rows that must
    * byte-match the staged file's schema (nanos-long vs timestamp). */
  def sentinelTsPlus30d(rawTsType: org.apache.spark.sql.types.DataType) =
    rawTsType match {
      case LongType => expr(s"ts + ${30L * 24 * 3600}L * 1000000000L")
      case _        => expr("ts + INTERVAL 30 DAYS")
    }

  /** Register all fixture tables as temp views so `spark.sql` works as a
    * first-class query surface (the reference has no SQL layer; we do). */
  def registerViews(spark: SparkSession, dir: String): Unit =
    names.foreach(n => apply(spark, dir, n).createOrReplaceTempView(n))
}
