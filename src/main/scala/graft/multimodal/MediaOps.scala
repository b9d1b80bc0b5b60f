package graft.multimodal

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.{SharedViews, Tables}

/** Multimodal column plumbing: image/audio/video travel as opaque `binary`
  * columns with typed metadata; decode / feature-extract / resize /
  * frame-sample run as batched per-partition transforms (the Scala analog
  * of Pandas-UDF batching: one `mapPartitions` closure per partition, no
  * per-row JVM↔codec round-trips).
  *
  * The decode boundary is a REAL codec: payloads are genuine PNG bytes
  * (synthesized deterministically from the documents fixture, since the
  * fixtures ship no image column) and `decodeImage` runs them through
  * `javax.imageio.ImageIO` — an actual PNG/JPEG decode to pixels, not a
  * hash fake. Swap ImageIO for libjpeg-turbo/ffmpeg JNI in production;
  * the operator contracts do not change.
  *
  * Scale notes: payloads stay columnar (parquet binary) until the decode
  * boundary; feature vectors come back as fixed-width arrays so downstream
  * ANN (graft.operators.Similarity) consumes them directly. Partition
  * sizing: media rows are large — set files.maxPartitionBytes so a batch of
  * decoded frames fits executor memory.
  */
object MediaOps {

  final case class MediaRow(media_id: Long, media: Array[Byte],
      format: String, width: Int, height: Int)
  final case class MediaFeatures(media_id: Long, format: String,
      n_bytes: Int, features: Array[Double])

  /** Deterministic text→pixels rasterizer: byte k of the payload drives
    * pixel k (wrapping) through a splitmix-style hash, so every (text,
    * width, height) yields one exact RGB image. Not a codec — this is the
    * fixture GENERATOR (the fixtures ship no image column); the codec is
    * [[decodeImage]] on the other side of the PNG boundary. */
  private[multimodal] def rasterize(bytes: Array[Byte], w: Int, h: Int): BufferedImage = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var i = 0
    // empty payload → deterministic single-zero-byte image (bytes(i % n)
    // with n clamped to 1 would otherwise read bytes(0) of an empty array)
    val b = if (bytes.isEmpty) Array[Byte](0) else bytes
    val n = b.length
    while (i < w * h) {
      var z = b(i % n).toLong + 0x9e3779b97f4a7c15L * (i + 1)
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^= z >>> 31
      img.setRGB(i % w, i / w, (z & 0xffffff).toInt)
      i += 1
    }
    img
  }

  /** Encode a BufferedImage as PNG bytes (lossless, so decode∘encode = id
    * on pixels — the spec asserts this round-trip). */
  private[multimodal] def encodePng(img: BufferedImage): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** REAL image decode: PNG/JPEG bytes → pixels via javax.imageio, then a
    * fixed-dim feature vector — `dim` round-robin buckets of normalized
    * per-pixel luminance (mean of (R+G+B)/3/255 per bucket), rounded to
    * 6 dp so batch and oracle recomputations hash-match. Throws on
    * undecodable bytes — a corrupt payload must fail loudly, not produce
    * a silent garbage vector. */
  private[multimodal] def decodeImage(bytes: Array[Byte], dim: Int): Array[Double] = {
    val img = ImageIO.read(new ByteArrayInputStream(bytes))
    require(img != null, s"undecodable image payload (${bytes.length} bytes)")
    val w = img.getWidth; val h = img.getHeight
    val acc = new Array[Double](dim)
    val cnt = new Array[Int](dim)
    var i = 0
    while (i < w * h) {
      val rgb = img.getRGB(i % w, i / w)
      val lum = (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)) / 3.0 / 255.0
      acc(i % dim) += lum
      cnt(i % dim) += 1
      i += 1
    }
    var d = 0
    while (d < dim) {
      if (cnt(d) > 0) acc(d) = math.rint(acc(d) / cnt(d) * 1e6) / 1e6
      d += 1
    }
    acc
  }

  /** Synthesize a media table from the documents fixture: each document's
    * text is rasterized to a small deterministic image and PNG-encoded, so
    * the `media` column holds REAL encoded payloads the decode side must
    * genuinely parse. Dims are payload-derived (8–39 px) to keep the
    * per-row codec work bounded while still exercising variable shapes. */
  def mediaTable(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    Tables(spark, dir, "documents")
      .select(col("doc_id").as("media_id"),
        col("text").cast("binary").as("payload"),
        (pmod(xxhash64(col("text")), lit(32)) + 8).cast("int").as("width"),
        (pmod(xxhash64(col("text"), lit(1)), lit(32)) + 8).cast("int").as("height"))
      .as[(Long, Array[Byte], Int, Int)]
      .mapPartitions { batch =>
        // one codec context per batch: ImageIO plugin lookup is done once
        // per partition, not per row (the Pandas-UDF batching shape)
        batch.map { case (id, payload, w, h) =>
          MediaRow(id, encodePng(rasterize(payload, w, h)), "png", w, h)
        }
      }
  }

  /** Batched feature extraction: one partition = one batch through the
    * ImageIO decoder; the codec context stays alive across rows instead of
    * re-initializing per row. */
  def extractFeatures(media: Dataset[MediaRow], dim: Int = 8): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { batch =>
      batch.map(m => MediaFeatures(m.media_id, m.format, m.media.length,
        decodeImage(m.media, dim)))
    }
  }

  /** Real resize: decode, scale into a new raster (area-averaging via
    * nearest sampling on the scaled grid), re-encode — the whole
    * decode→transform→encode round-trip in one mapPartitions batch. */
  def resize(media: Dataset[MediaRow], maxSide: Int): Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { batch =>
      batch.map { m =>
        val s = math.min(1.0, maxSide.toDouble / math.max(m.width, m.height))
        if (s >= 1.0) m
        else {
          val img = ImageIO.read(new ByteArrayInputStream(m.media))
          val nw = math.max(1, (m.width * s).toInt)
          val nh = math.max(1, (m.height * s).toInt)
          val out = new BufferedImage(nw, nh, BufferedImage.TYPE_INT_RGB)
          val g = out.createGraphics()
          g.drawImage(img, 0, 0, nw, nh, null)
          g.dispose()
          m.copy(media = encodePng(out), width = nw, height = nh)
        }
      }
    }
  }

  /** Frame sampling: every `stride`-th fixed-size slice of the payload —
    * the video→frames explode shape (one input row, many frame rows). */
  def frameSample(media: Dataset[MediaRow], frameBytes: Int = 64,
      stride: Int = 4): DataFrame =
    media.toDF()
      .select(col("media_id"), col("format"),
        posexplode(expr(
          s"""filter(
             |  transform(sequence(0, greatest(int(length(media) / $frameBytes) - 1, 0)),
             |    i -> if(i % $stride = 0, substring(media, i * $frameBytes + 1, $frameBytes),
             |            cast(null as binary))),
             |  x -> x is not null)""".stripMargin)))
      .withColumnRenamed("pos", "frame_no")
      .withColumnRenamed("col", "frame")

  /** Decoded features are consumed by BOTH query faces (q70 summary, q71
    * ANN) and twice within the ANN self-join — the PNG decode is the
    * expensive leg, so materialize it once per (session, dir) as a keyed
    * [[graft.SharedViews]] view, like [[graft.operators.GraphOps]]' edges.
    * The cache is filled by one job at build: a cache left for the ANN
    * self-join's two concurrent stages to fill has both compute the same
    * partition. */
  private def cachedFeatures(spark: SparkSession, dir: String): DataFrame =
    SharedViews.view("media.features", spark, dir) {
      val view = extractFeatures(mediaTable(spark, dir)).toDF().cache()
      view.rdd.count()
      view
    }

  /** Media features → similarity search: nearest media by cosine over the
    * ImageIO-decoded feature vectors — the decode→embed→ANN pipeline shape,
    * demonstrating the multimodal output feeding graft.operators.Similarity
    * conventions (dense array column + norm + top-k). */
  def mediaNearest(spark: SparkSession, dir: String, k: Int = 3,
      nQueries: Long = 50): DataFrame = {
    val f = cachedFeatures(spark, dir)
      .select(col("media_id"), col("features").as("v"))
      .withColumn("norm", sqrt(expr("aggregate(zip_with(v, v, (x, y) -> x * y), 0D, (a, x) -> a + x)")))
      .where(col("norm") > 0)
    val q = f.where(col("media_id") < nQueries)
      .select(col("media_id").as("query_id"), col("v").as("qv"), col("norm").as("qn"))
    val dotCol = expr("aggregate(zip_with(qv, v, (x, y) -> x * y), 0D, (a, x) -> a + x)")
    val sims = broadcast(q).join(f, col("query_id") =!= col("media_id"))
      .select(col("query_id"), col("media_id").as("neighbor_id"),
        round(dotCol / (col("qn") * col("norm")), 6).as("cosine"))
    graft.operators.Similarity.topKByCosine(sims, k)
  }

  /** Query face: per-media feature summary (deterministic; rows-only). */
  def mediaFeatureQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    cachedFeatures(spark, dir)
      .select(col("media_id"), col("format"), col("n_bytes"),
        round(expr("aggregate(features, 0D, (a, x) -> a + x * x)"), 6).as("feat_sq_norm"))
      .orderBy("media_id")
  }
}
