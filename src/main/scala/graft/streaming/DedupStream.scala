package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Staging

/** Streaming face of exact corpus dedup (`operators.Dedup.exact`): documents
  * arrive as files on a directory stream (the "landing bucket" shape of a
  * training-data ingest) and the engine maintains one state row per distinct
  * content hash with the canonical keeper and copy count.
  *
  * Deliberately a streaming AGGREGATION (min-keeper per hash), not
  * `dropDuplicates`: dropDuplicates keeps the first ARRIVAL, which is
  * nondeterministic across file/partition order, while min(doc_id) is
  * arrival-order-independent — the drained stream is byte-equal to the
  * batch face and shares its DuckDB oracle (q40). State is O(distinct
  * contents), same as dropDuplicates' key set; a deployment bounds it with
  * a watermark on ingest time once late re-delivery has a horizon.
  */
object DedupStream {

  /** Run the file-source stream to completion over `dir`'s documents table
    * and return the final dedup state, sorted by keeper. The watch
    * directory, a copy of the fixture file, is staged once per fixture. */
  def dedupExactFromFiles(spark: SparkSession, dir: String): DataFrame = {
    val src = s"$dir/documents.parquet"
    val stage = Staging.once("dedupstream-src", Staging.keyOf(src)) { d =>
      Files.copy(Paths.get(src), Paths.get(d).resolve("documents.parquet"))
    }
    val schema = graft.Tables.parquet(spark, src).schema
    // state-store partition sizing: see EventStream.sessionizeFromFiles;
    // the child session scopes it to this query (StreamSessions)
    val ss = StreamSessions.withShuffle(spark, 8)
    val stream = ss.readStream.schema(schema).parquet(stage)

    // one row per DISTINCT CONTENT — corpus-sized in the worst case, so no
    // memory sink (driver collect); complete mode snapshots distributed
    // via foreachBatch overwrite (see CdcStream)
    val counts = stream
      .groupBy(md5(col("text").cast("binary")).as("content_hash"))
      .agg(min("doc_id").as("keeper"), count(lit(1)).as("n_copies"))
    val outDir = Staging.fresh("q58-sink")
    val q = counts.writeStream
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        batch.write.mode("overwrite").parquet(outDir)
      }
      .option("checkpointLocation", Staging.fresh("q58-ckpt"))
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()

    // read back on the child with the writer's schema (StreamSessions)
    ss.read.schema(counts.schema).parquet(outDir).orderBy("keeper")
  }

  /** Streaming NEAR-dup detection — the LSH ingest twin of
    * [[graft.operators.Dedup.minhashPairsIncremental]] (q4b): delta
    * documents land as files, each micro-batch runs the full signature
    * pipeline (shingles → MinHash → bands, all codegen expressions, so
    * the streaming plan is the batch plan) and probes the STATIC corpus
    * band index with a stream-static equi-join; candidates verify with
    * exact Jaccard in-stream and append to a distributed file sink. The
    * drained result equals q4b exactly (same candidates, same verify,
    * same threshold), so the face shares q4b's DuckDB oracle — a
    * hash-checked STREAMING LSH. Scale shape: per batch, only the
    * delta's band keys shuffle against the index (|delta| × bucket
    * occupancy, never |corpus|²); the band-duplicate collapse happens at
    * read-back (pairs re-surface once per shared band, with identical
    * payload — a `distinct` over the drained sink, not streaming state),
    * so the stream itself needs NO state store at all. */
  def minhashPairsFromStream(spark: SparkSession, dir: String,
      deltaFrom: Long = -1L, minJaccard: Double = 0.5): DataFrame = {
    import graft.operators.Dedup
    // the delta at the cut, staged once per (fixture, cut): the automatic
    // cut's max(doc_id) runs only in the first call
    val docs = graft.Tables(spark, dir, "documents")
    val src = s"$dir/documents.parquet"
    val stage = Staging.once("lshstream-src", s"${Staging.keyOf(src)}@$deltaFrom") { d =>
      val cut = if (deltaFrom >= 0) deltaFrom else Dedup.autoDeltaFrom(spark, dir)
      docs.where(col("doc_id") >= cut).write.mode("overwrite").parquet(d)
    }
    val schema = docs.schema
    // the whole stream pipeline (source + join) builds on a child session
    // so the state-store partition sizing never leaks into concurrently-
    // planned queries on the caller's session (StreamSessions)
    val ss = StreamSessions.withShuffle(spark, 8)
    val stream = ss.readStream.schema(schema).parquet(stage)

    // static side: the CONTENT-LEVEL corpus band index, the (session,
    // dir)-keyed materialized view the batch family shares — built once
    // at the parent session's shuffle width. Before round 9 this was an
    // UNCOLLAPSED per-record index rebuilt per call on the child session:
    // at sf1 that alone was ~30 s, and g exact copies of a text put g
    // rows in every probed bucket (the duplicate-squaring the batch faces
    // eliminated in round 8). One band row per distinct content keeps the
    // per-batch probe at |delta| x content-bucket occupancy. Round 10
    // narrowed the index to (cid, band, bh) and moved the probe INTO
    // foreachBatch: the round-9 form declared the probe join in the
    // streaming plan, so every micro-batch re-planned the static subtree
    // under the incremental execution, and each band collision carried
    // BOTH full shingle arrays into the per-band Jaccard verify — at
    // sf10p (500k unique contents, nothing collapses) that was the
    // 87→352 s scale-killer. Inside foreachBatch the probe is a plain
    // batch join against the resident cached index; candidates dedup to
    // one (probe doc, candidate content) row BEFORE the verify, and the
    // two shingle sets are fetched once per candidate, not once per
    // band collision.
    val corpusIndex = Dedup.corpusBandIndex(spark, dir)
    val corpusSh = Dedup.corpusShingles(spark, dir)

    // per-RECORD signature pipeline over a delta batch — arrival data has
    // no corpus-wide content groups, so each delta doc bands
    // individually; sh computed once per doc and reused for bands
    // (candidate probe) and the verify join below
    // skey = hash of the shingle set itself, so the verify below is
    // keyed to the EXACT shingle set whose bands produced the
    // collision: a re-delivered doc_id carrying different text in the
    // same micro-batch verifies each version against its own sh
    // (dedup on bare sdoc picked an arbitrary one), while the
    // candidate distinct still moves only three longs per row
    def verify(batch: DataFrame): DataFrame = {
      val bands = Dedup.withBands(batch)
        .withColumn("skey", xxhash64(col("sh")))
      val deltaSh = bands.select(col("doc_id").as("sdoc"), col("skey"),
          col("sh").as("sh_x"))
        .dropDuplicates("sdoc", "skey")
      val candidates = bands.as("x")
        .join(corpusIndex.as("y"),
          xxhash64(col("x.band"), col("x.bh")) === col("y.kb"))
        .select(col("x.doc_id").as("sdoc"), col("x.skey").as("skey"),
          col("y.cid").as("cid"))
        .distinct()
      candidates
        .join(deltaSh, Seq("sdoc", "skey"))
        .join(corpusSh.select(col("cid"), col("sh").as("sh_y")), Seq("cid"))
        .select(col("sdoc"), col("cid"),
          Dedup.jaccardOf(col("sh_x"), col("sh_y")).as("jaccard"))
        .where(col("jaccard") >= minJaccard)
    }

    val outDir = Staging.fresh("lshstream-sink")
    val q = stream.writeStream
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        verify(batch.toDF()).write.mode("append").parquet(outDir)
      }
      .option("checkpointLocation", Staging.fresh("qbb-ckpt"))
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    // drain-side expansion: contents re-expand to their member records,
    // the probing doc excluded; a pair seen from both directions (both
    // endpoints in the delta) and band re-collisions collapse in the same
    // distinct the face always ran. The sink is read back on the child
    // with its writer's schema (StreamSessions); the members come from
    // the caller's keyed view, whose cached blocks the child reads.
    ss.read.schema(verify(stream).schema).parquet(outDir).distinct()
      .join(Dedup.contentMembers(spark, dir), Seq("cid"))
      .select(col("sdoc"), explode(col("members")).as("m"), col("jaccard"))
      .where(col("sdoc") =!= col("m"))
      .select(least(col("sdoc"), col("m")).as("doc_a"),
        greatest(col("sdoc"), col("m")).as("doc_b"), col("jaccard"))
      .distinct()
      .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b"))
  }
}
