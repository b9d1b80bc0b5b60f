package graft.streaming

import org.apache.spark.sql.SparkSession

/** Child-session factory for the streaming faces that size their
  * state-store partition count (`spark.sql.shuffle.partitions`) to the
  * state, not to the session's batch shuffle width.
  *
  * A streaming query snapshots SQL conf from ITS DataFrame's session at
  * `start()` (StreamExecution clones that session), so building the whole
  * stream pipeline on a child session makes the sizing a property of the
  * query instead of a temporary mutation of the shared session — the old
  * set/finally-restore pattern left a window where any query planned
  * concurrently on the same session saw the streaming value. The child
  * shares the SparkContext (and therefore builder-time conf: UTC session
  * TZ, openCostInBytes, the graft extensions are re-applied per session);
  * runtime conf set on the PARENT after startup is not inherited, so
  * per-site knobs (e.g. nanosAsLong) are set on the child explicitly.
  *
  * Checkpoint writes. Every micro-batch writes its offset and commit log
  * entries and, per state store, a delta file. Spark's default manager
  * for a local path goes through Hadoop's `FileContext`, and without
  * libhadoop that path forks a process per file: each `rename` runs
  * `readlink` (`RawLocalFileSystem.deprecatedGetFileLinkStatusInternal`)
  * and each `create` or `mkdir` with a permission runs `chmod`. A state
  * store's commit waits on those forks, which made them most of q65's
  * warm time (on a 4-core host, 2.5–2.8 s of state-store commit in a
  * 3.5–4.0 s face). The child therefore names [[FsCheckpointManager]],
  * Spark's `FileSystem`-based manager, whose `create` and two-argument
  * `rename` are plain file calls. Spark still wraps it in its checksum
  * manager: `spark.sql.streaming.checkpoint.fileChecksum.enabled` stays
  * at its default (true), so each checkpoint file still gets a verified
  * `.crc` sidecar.
  *
  * Precondition: every query built on the child checkpoints to the LOCAL
  * disk. That manager's overwrite is only best effort on a store whose
  * rename is not atomic, so each face passes an explicit
  * `Staging.fresh` `checkpointLocation` rather than inherit a
  * deployment's `spark.sql.streaming.checkpointLocation`. The parent
  * session is never touched: `Apps` may checkpoint to HDFS on it.
  *
  * A drained parquet sink is read back on the parent with the schema of
  * the DataFrame that wrote it (`spark.read.schema`). A sink is a fresh
  * directory, so inferring its schema would cost a job on every call, and
  * a file relation makes any declared schema nullable, which is what
  * inference over the sink returns.
  */
private[streaming] object StreamSessions {

  /** Spark's `FileSystem`-based checkpoint file manager (see the header). */
  val FsCheckpointManager =
    "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"

  /** A fresh session on the same context with its own shuffle-partition
    * setting and the fork-free checkpoint manager; the parent's conf is
    * never touched. */
  def withShuffle(spark: SparkSession, partitions: Int): SparkSession = {
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", partitions.toString)
    ss.conf.set("spark.sql.streaming.checkpointFileManagerClass", FsCheckpointManager)
    ss
  }
}
