package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Staging

/** Streaming face of MERGE/upsert ([[graft.operators.Mutations.upsert]]):
  * change-data-capture apply. Snapshot rows and change rows land as
  * separate files on a directory stream — the CDC "apply log to
  * snapshot" shape — and the engine maintains latest-wins state per key:
  * one streaming aggregation keeping `max(struct(pri, payload))`, which
  * is ARRIVAL-ORDER-INDEPENDENT (max is commutative), so whichever file
  * order the source lists, the drained state equals the batch upsert and
  * shares q72's DuckDB oracle. State is one row per key — the same
  * footprint any CDC materializer carries; a deployment bounds re-delivery
  * with a watermark on the change timestamp.
  */
object CdcStream {

  /** q9c: stage the q72 snapshot + change set as separate parquet files,
    * stream them through the latest-wins aggregation, drain, and return
    * the merged snapshot (same fingerprinted shape as q72). */
  def upsertFromFiles(spark: SparkSession, dir: String): DataFrame = {
    val src = s"$dir/documents.parquet"
    // snapshot + changes, staged once per fixture
    val stage = Staging.once("cdcstream-src", Staging.keyOf(src)) { d =>
      val docs = graft.Tables(spark, dir, "documents")
      docs.select(col("doc_id"), col("lang"), col("text"), lit(0).as("pri"))
        .write.mode("overwrite").parquet(d)
      docs.where(col("doc_id") % 10 === 0)
        .select(col("doc_id"), col("lang"), upper(col("text")).as("text"),
          lit(1).as("pri"))
        .write.mode("append").parquet(d)
    }

    val schema = graft.Tables.parquet(spark, stage).schema
    // state-store sizing scoped to this query via a child session
    val ss = StreamSessions.withShuffle(spark, 8)
    val stream = ss.readStream.schema(schema).parquet(stage)
    // complete-mode output is one row PER KEY — corpus-sized, so a memory
    // sink would be a driver collect (the q69 lesson). File sinks only do
    // append, so the standard complete-mode pattern applies: foreachBatch
    // overwrites a parquet snapshot per micro-batch — a DISTRIBUTED write;
    // the last snapshot is the drained state.
    val merged = stream
      .select(col("doc_id"), col("pri"), col("lang"),
        md5(col("text").cast("binary")).as("h"))
      .groupBy("doc_id")
      .agg(max(struct(col("pri"), col("lang"), col("h"))).as("w"))
      .select(col("doc_id"), col("w.lang").as("lang"), col("w.h").as("h"))
    val outDir = Staging.fresh("q9c-sink")
    val q = merged.writeStream
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        batch.write.mode("overwrite").parquet(outDir)
      }
      .option("checkpointLocation", Staging.fresh("q9c-ckpt"))
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()

    // read back on the child with the writer's schema (StreamSessions)
    ss.read.schema(merged.schema).parquet(outDir).orderBy("doc_id")
  }
}
