package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Run-scoped registry for persisted corpus frames — the cache
  * lifecycle contract for the dedup/similarity operators.
  *
  * Those operators persist a featurized corpus (shingle hashes,
  * normalized vectors) because one call makes several passes over it
  * (quantizer seed collect, Lloyd updates, radii, both join sides) —
  * and Spark's CacheManager keys entries by LOGICAL PLAN, so repeated
  * calls over the same corpus share one entry (measured: eager
  * checkpoint-and-unpersist per call costs 7×; a warm bench pass
  * depends on exactly this sharing). What that design left open was
  * the release: a long-lived session sweeping many distinct corpora
  * accumulated one MEMORY_AND_DISK entry per corpus.
  *
  * Every such persist now registers here, and run entry points
  * (Verify, Bench, test suites) call [[releaseAll]]
  * at their run boundary — intra-run sharing is preserved, nothing
  * outlives the run. Library users embedding these operators own the
  * same handle: call [[releaseAll]] whenever a corpus sweep ends
  * (idempotent; unpersist on an already-released frame is a no-op).
  */
object CorpusCache {
  private val tracked = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
  private val checkpoints = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  /** Persist `df` at MEMORY_AND_DISK and track it for release.
    * Idempotent per logical plan: CacheManager keys by plan, so a
    * frame whose plan is already cached (a second operator sharing
    * the same featurized corpus) is neither re-persisted (silences
    * the "already cached" warning) nor double-tracked.
    */
  def cache(df: DataFrame): DataFrame = synchronized {
    if (df.storageLevel == StorageLevel.NONE) {
      df.persist(StorageLevel.MEMORY_AND_DISK)
      tracked += df
    }
    df
  }

  /** `localCheckpoint` + track for release (ADVICE r12): checkpoint
    * blocks belong to the truncated-lineage RDD, not the CacheManager,
    * so `Dataset.unpersist` cannot free them — untracked, each
    * tokenizer gate/fuzz invocation left one dict's blocks resident
    * for the session's lifetime. STRONGER contract than [[cache]]:
    * releasing a checkpoint drops the only copy of its data (lineage
    * is gone), so a frame returned before [[releaseAll]] must not be
    * re-evaluated after it. The registered call sites all create a
    * fresh checkpoint per invocation and the run entry points release
    * only at run boundaries (after full evaluation), which satisfies
    * that by construction. The eager materialization runs outside
    * the registry lock, so a concurrent driver thread's [[cache]] or
    * checkpoint never waits for this one's jobs. */
  def checkpoint(df: DataFrame): DataFrame = {
    val out = df.localCheckpoint()
    synchronized { checkpoints += out }
    out
  }

  /** Unpersist every tracked frame and every tracked checkpoint's
    * materialized RDD; returns how many were released. */
  def releaseAll(blocking: Boolean = false): Int = synchronized {
    val n = tracked.size + checkpoints.size
    tracked.foreach(_.unpersist(blocking))
    tracked.clear()
    checkpoints.foreach(f =>
      org.apache.spark.sql.graftbridge.Bridge.checkpointedRdd(f)
        .foreach(_.unpersist(blocking)))
    checkpoints.clear()
    n
  }

  /** Tracked frames still holding a storage level (for tests).
    * Checkpoints report through their materialized RDD —
    * `Dataset.storageLevel` consults the CacheManager, which never
    * knew about them. */
  def lingering: Seq[DataFrame] = synchronized {
    (tracked.filter(_.storageLevel != StorageLevel.NONE) ++
      checkpoints.filter(f =>
        org.apache.spark.sql.graftbridge.Bridge.checkpointedRdd(f)
          .exists(_.getStorageLevel != StorageLevel.NONE))).toSeq
  }
}
