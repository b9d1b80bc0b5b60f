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
  * One executor class loader. Spark runs each SQL execution's jobs under
  * its session's artifact state, and with
  * `spark.sql.artifact.isolation.enabled` at its default (true) that state
  * is the session's uuid: the executor keeps one isolated session, with
  * its own `ExecutorClassLoader`, per uuid. A stream runs on a clone of
  * the session that started it, with a fresh uuid, so every call made a
  * new loader, and Janino's generated-class cache, which is keyed by
  * (context class loader, source), missed on code it had compiled in the
  * call before. The child therefore turns isolation off before its first
  * execution (the artifact manager reads the conf once, lazily), and the
  * stream's clone copies the conf. The child's tasks, its stream clones'
  * and `foreachBatch`'s then run in the executor's default session and
  * class loader, which every warm call shares.
  *
  * Precondition: no artifact (jar, class file, archive) is ever added to a
  * child or to a stream built on it. With isolation off such an artifact
  * would reach the whole context instead of the one session; graft adds
  * none.
  *
  * A drained parquet sink is read back on the child, not on the parent,
  * so the read-back's jobs use the same default loader (a parent-session
  * execution runs under the parent's own isolated loader). It is read
  * with the schema of the DataFrame that wrote it (`ss.read.schema`). A
  * sink is a fresh directory, so inferring its schema would cost a job on
  * every call, and a file relation makes any declared schema nullable,
  * which is what inference over the sink returns. Each read-back ends in
  * an order on unique keys, so the child's shuffle width cannot move a
  * row.
  */
private[streaming] object StreamSessions {

  /** Spark's `FileSystem`-based checkpoint file manager (see the header). */
  val FsCheckpointManager =
    "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"

  /** Spark's per-session artifact isolation (see the header). */
  val ArtifactIsolation = "spark.sql.artifact.isolation.enabled"

  /** A fresh session on the same context with its own shuffle-partition
    * setting, the fork-free checkpoint manager and artifact isolation off;
    * the parent's conf is never touched. */
  def withShuffle(spark: SparkSession, partitions: Int): SparkSession = {
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", partitions.toString)
    ss.conf.set("spark.sql.streaming.checkpointFileManagerClass", FsCheckpointManager)
    ss.conf.set(ArtifactIsolation, "false")
    ss
  }
}
