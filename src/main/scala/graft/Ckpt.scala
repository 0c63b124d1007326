package graft
import org.apache.spark.sql.Dataset

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
  * Both modes are eager: every call site in this codebase materializes
  * the frame for 2+ consumers or an iterative loop, so laziness would
  * only re-introduce the double-computation the site exists to prevent.
  */
object Ckpt {

  def apply[T](ds: Dataset[T]): Dataset[T] = {
    val session = ds.sparkSession
    val reliable =
      session.conf.get("spark.graft.checkpoint.reliable", "false").toBoolean
    if (!reliable) ds.localCheckpoint(eager = true)
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
