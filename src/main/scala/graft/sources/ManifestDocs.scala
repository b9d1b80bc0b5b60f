package graft.sources

import java.io.{BufferedOutputStream, DataOutputStream, FileOutputStream, RandomAccessFile}
import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Manifest-driven PACKED document source — the 100 TB answer to the
  * one-file-per-document lake layout (SURVEY.md §7 / SCALE.md): a corpus of
  * tiny objects is ingested once into a few large PACK files (records of
  * `[doc_id: int64][len: int32][utf8 payload]`) plus a parquet MANIFEST of
  * `(doc_id, path, offset, length)`, and every later scan plans from the
  * manifest instead of listing/opening N files. Contrast with the stock
  * `binaryFile` route (q84): that pays per-file listing + open costs that
  * only config-tuning (`openCostInBytes`) can partially hide — measured 13 s
  * for 500k files at sf10 AFTER tuning — while this source reads the same
  * corpus as a handful of sequential streams.
  *
  * Scale shape:
  *  - **Planning is O(slices), not O(docs)**: the driver never holds the
  *    manifest — slice boundaries are computed DISTRIBUTED (records bucket
  *    by `floor(offset / targetSliceBytes)`, so slices are record-aligned
  *    by construction) and only the per-slice summaries collect, bounded
  *    by corpusBytes / targetSliceBytes.
  *  - **Reads are sequential**: a reader seeks once to its slice start and
  *    streams contiguous records to the slice end — the IO pattern object
  *    stores and page caches are built for, vs 500k random opens.
  *  - **Column pruning** (`SupportsPushDownRequiredColumns`): a
  *    doc_id-only projection never materializes payload bytes — the
  *    reader skips over them (`.explain` shows the narrowed ReadSchema).
  *
  * The pack files live in a local staging dir here (correct under
  * local[*]); on a cluster the same format sits on shared storage and the
  * manifest is the catalog's file index — the source is storage-agnostic.
  */
class ManifestDocs extends TableProvider {

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ManifestDocs.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new ManifestTable(properties.asScala.toMap)
}

private[sources] class ManifestTable(props: Map[String, String])
    extends Table with SupportsRead {

  override def name(): String =
    s"graft-manifest:${props.getOrElse("manifest", "?")}"
  override def schema(): StructType = ManifestDocs.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val opts = options.asScala.toMap
    new ManifestScanBuilder(
      opts.getOrElse("manifest", props.getOrElse("manifest",
        sys.error("graft-manifest: manifest option required"))),
      opts.getOrElse("targetslicebytes",
        props.getOrElse("targetslicebytes", "4194304")).toLong)
  }
}

private[sources] class ManifestScanBuilder(manifest: String,
    targetSliceBytes: Long) extends ScanBuilder
    with SupportsPushDownRequiredColumns {

  private var required: StructType = ManifestDocs.Schema

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = new ManifestScan(manifest, targetSliceBytes, required)
}

/** One partition per record-aligned byte slice of a pack file. */
private[sources] case class ManifestSlice(path: String, start: Long,
    end: Long) extends InputPartition

private[sources] class ManifestScan(manifest: String, targetSliceBytes: Long,
    required: StructType) extends Scan with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-manifest $manifest slice=$targetSliceBytes cols=${required.fieldNames.mkString(",")}"

  /** Slice computation runs as a Spark aggregation over the manifest —
    * a record at `offset` (spanning 12 + length bytes) belongs to bucket
    * `floor(offset / targetSliceBytes)`, so consecutive buckets are
    * disjoint, record-aligned, and jointly exhaustive; only the per-slice
    * (path, min offset, max end) summaries ever reach the driver. */
  override def planInputPartitions(): Array[InputPartition] = {
    import org.apache.spark.sql.functions._
    val spark = org.apache.spark.sql.SparkSession.active
    graft.Tables.parquet(spark, manifest)
      .groupBy(col("path"), floor(col("offset") / targetSliceBytes).as("bucket"))
      .agg(min("offset").as("start"),
        max(col("offset") + lit(12L) + col("length")).as("end"))
      .orderBy("path", "bucket")
      .collect()
      .map(r => ManifestSlice(r.getAs[String]("path"),
        r.getAs[Long]("start"), r.getAs[Long]("end")): InputPartition)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    ManifestReaderFactory(required)
}

private[sources] case class ManifestReaderFactory(required: StructType)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new ManifestSliceReader(partition.asInstanceOf[ManifestSlice], required)
}

/** Streams `[id][len][payload]` records across one slice: seek once, read
  * sequentially to the slice end. Payload bytes are read only when `text`
  * is in the required schema — a pruned doc_id scan skips them. */
private[sources] class ManifestSliceReader(slice: ManifestSlice,
    required: StructType) extends PartitionReader[InternalRow] {

  private val needText = required.fieldNames.contains("text")
  private val needId = required.fieldNames.contains("doc_id")
  private val raf = new RandomAccessFile(slice.path, "r")
  raf.seek(slice.start)
  private var pos = slice.start
  private var current: InternalRow = _

  override def next(): Boolean = {
    if (pos >= slice.end) return false
    val docId = raf.readLong()
    val len = raf.readInt()
    val text =
      if (needText) {
        val bytes = new Array[Byte](len)
        raf.readFully(bytes)
        UTF8String.fromBytes(bytes)
      } else { raf.seek(pos + 12L + len); null }
    pos += 12L + len
    current = InternalRow.fromSeq(required.fieldNames.toIndexedSeq.map {
      case "doc_id" if needId => docId
      case "text" => text
      case other => sys.error(s"graft-manifest: unknown column $other")
    })
    true
  }

  override def get(): InternalRow = current
  override def close(): Unit = raf.close()
}

/** Query-surface companion: pack-and-manifest staging plus the q50 twin. */
object ManifestDocs {
  import org.apache.spark.sql.{DataFrame, SparkSession}

  val Schema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = true)))

  /** Stage the documents table once per (JVM, dir) as `nPacks` pack files
    * + a parquet manifest — the INGEST half of the design: executors write
    * packs in parallel and the manifest is itself a distributed write;
    * nothing passes through the driver. Pack assignment and record order
    * are DETERMINISTIC — pack = doc_id mod nPacks, records ordered by
    * doc_id within a pack — so every manifest offset is an integer prefix
    * sum another engine can replay ([[qbq_manifest_writer]]'s oracle);
    * the round-robin form this replaces depended on physical partition
    * layout and was only spec-checkable. Hash-partitioning on the pack id
    * may co-locate several packs in one Spark partition; the writer
    * rolls to a new file at each pack boundary of the sorted iterator, so
    * each pack is still ONE sequential stream written by ONE task. */
  private[graft] def stage(spark: SparkSession, dir: String,
      nPacks: Int = 8): String =
    Staging.once("manifest-docs", dir) { out =>
      import spark.implicits._
      graft.Tables(spark, dir, "documents")
        .select(org.apache.spark.sql.functions.pmod(
            org.apache.spark.sql.functions.col("doc_id"),
            org.apache.spark.sql.functions.lit(nPacks.toLong)).as("pack"),
          org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("text"))
        .repartition(nPacks, org.apache.spark.sql.functions.col("pack"))
        .sortWithinPartitions("pack", "doc_id")
        .as[(Long, Long, String)]
        .mapPartitions { it =>
          val entries = Seq.newBuilder[(Long, String, Long, Long)]
          var os: DataOutputStream = null
          var curPack = -1L
          var path: String = null
          var offset = 0L
          try it.foreach { case (pack, docId, text) =>
            if (pack != curPack) {
              if (os != null) os.close()
              curPack = pack
              path = s"$out/pack-$pack.bin"
              os = new DataOutputStream(new BufferedOutputStream(
                new FileOutputStream(path), 1 << 16))
              offset = 0L
            }
            val bytes = (if (text == null) "" else text).getBytes(UTF_8)
            os.writeLong(docId)
            os.writeInt(bytes.length)
            os.write(bytes)
            entries += ((docId, path, offset, bytes.length.toLong))
            offset += 12L + bytes.length
          } finally if (os != null) os.close()
          entries.result().iterator
        }
        .toDF("doc_id", "path", "offset", "length")
        .write.mode("overwrite").parquet(s"$out/manifest")
    }

  /** qbq: the manifest RELATION itself as an oracled face — (doc_id,
    * pack, offset, length) straight from the staged parquet manifest.
    * Because the writer is deterministic (pack = doc_id mod nPacks,
    * doc_id order within a pack, 12 header bytes per record), the oracle
    * replays every offset as a per-pack integer prefix sum over UTF-8
    * byte lengths — the same all-integer window-replay method as qbd.
    * This oracles the WRITE path end-to-end (assignment, ordering, record
    * framing, byte accounting); qbg separately oracles the read path. */
  def manifestRelation(spark: SparkSession, dir: String,
      nPacks: Int = 8): DataFrame = {
    import org.apache.spark.sql.functions._
    val staged = stage(spark, dir, nPacks)
    // `length` is a builtin-function name in SQL engines — a column named
    // that breaks any bare-identifier replay, so the face exposes nbytes
    graft.Tables.parquet(spark, s"$staged/manifest")
      .select(col("doc_id"),
        regexp_extract(col("path"), "pack-(\\d+)\\.bin$", 1)
          .cast("long").as("pack"),
        col("offset").as("start"), col("length").as("nbytes"))
      .orderBy("doc_id")
  }

  /** The packed corpus as a relation (staging on first use). */
  private[graft] def read(spark: SparkSession, dir: String): DataFrame = {
    val staged = stage(spark, dir)
    spark.read.format("graft.sources.ManifestDocs")
      .option("manifest", s"$staged/manifest")
      .load()
  }

  /** qbg: q50's per-document stats from the packed corpus — shares q50's
    * oracle, proving payload fidelity + identity through the pack/manifest
    * round trip, exactly as q84 proves the per-file route. */
  def textStatsFromManifest(spark: SparkSession, dir: String): DataFrame =
    graft.operators.TextOps.textStatsOf(
      read(spark, dir).select("doc_id", "text"))
}
