package graft
import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel

/** Lineage-truncation point for multi-consumer frames (`df.ckpt` via
  * [[Ckpt.Ops]]). Iterative loops do not call it per step: they pass a
  * pinning policy to [[Iterate]], which calls it.
  *
  * `localCheckpoint` truncates lineage by pinning blocks to executors
  * with NO fault tolerance: on a real cluster, one lost executor
  * permanently fails every later job over the truncated lineage,
  * because there is no recompute path left. That is the right trade on
  * local[N] (zero I/O, and the JVM dying kills the whole session
  * anyway) and the wrong one for a 1000-executor 100 TB run, where
  * executor loss is routine. This helper is the single switch between
  * the two modes:
  *
  *   - `spark.graft.checkpoint.reliable` (default `false`): when
  *     `true`, every `ckpt` site becomes a reliable
  *     `Dataset.checkpoint` — blocks written to the checkpoint
  *     directory (HDFS/object store on a cluster), surviving executor
  *     loss, lineage recoverable from storage.
  *   - `spark.graft.checkpoint.dir` (default
  *     `<java.io.tmpdir>/graft_ckpt`): used to `setCheckpointDir` once,
  *     lazily, the first time a reliable checkpoint is taken in a
  *     session that has not set one.
  *
  * Storage rule. A pin lives either for one query or for the session:
  *
  *   - [[Ckpt.apply]] / `.ckpt` (and every [[Iterate]] pin) serves one
  *     query. Its local blocks stay deserialized in memory
  *     (`MEMORY_AND_DISK`), and the ContextCleaner frees them once the
  *     query's frames are unreachable.
  *   - [[Ckpt.onDisk]] serves the session: the [[etl.ChainCache]] memo
  *     passes, held until the session stops. Local blocks go to
  *     `spark.local.dir` only (`DISK_ONLY`). Measured on the cold
  *     `batch_sf01` pass at sf0.1 (4-vCPU VM, 4 GB heap), the 12 memo
  *     passes held 155 MB of deserialized rows (`gr_pair_support`
  *     alone 105 MB), which was the whole gap between its retained
  *     heap (258 MB) and a warm serving session's (94 MB); on disk they
  *     take 87 MB and the heap reads 99 MB, for ~3% more pipeline time
  *     (q152 re-reads its pair pass). A serialized in-memory level kept
  *     the heap at 266 MB.
  *
  * Reliable mode writes both kinds to the checkpoint directory.
  *
  * Both modes are eager: every call site in this codebase materializes
  * the frame for 2+ consumers or an iterative loop, so laziness would
  * only re-introduce the double-computation the site exists to prevent.
  */
object Ckpt {

  /** A pin that lives for one query: Spark's local-checkpoint default,
    * memory first, spilling to disk. */
  def apply[T](ds: Dataset[T]): Dataset[T] =
    pin(ds)(_.localCheckpoint(eager = true))

  /** A pin that lives for the session: local blocks on disk only. */
  def onDisk[T](ds: Dataset[T]): Dataset[T] =
    pin(ds)(_.localCheckpoint(eager = true, StorageLevel.DISK_ONLY))

  private def pin[T](ds: Dataset[T])(local: Dataset[T] => Dataset[T])
      : Dataset[T] = {
    val session = ds.sparkSession
    val reliable =
      session.conf.get("spark.graft.checkpoint.reliable", "false").toBoolean
    if (!reliable) local(ds)
    else {
      val sc = session.sparkContext
      if (sc.getCheckpointDir.isEmpty) {
        sc.setCheckpointDir(session.conf.get("spark.graft.checkpoint.dir",
          sys.props("java.io.tmpdir") + "/graft_ckpt"))
      }
      ds.checkpoint(eager = true)
    }
  }

  /** `ds.ckpt` — chainable form of [[Ckpt.apply]]. */
  implicit final class Ops[T](private val ds: Dataset[T]) extends AnyVal {
    def ckpt: Dataset[T] = Ckpt(ds)
  }
}
