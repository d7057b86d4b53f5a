package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Deterministic lifecycle for the MEMORY_AND_DISK entries pipeline
  * operators create (the derived per-document hash tables that several
  * join sides of a near-dup generator read). The default
  * [[CacheRegistry.lru]] persists without tracking — Spark's executor
  * LRU evicts under pressure, fine for one-shot jobs. Long-running
  * services pass their own registry and call [[release]] between
  * workloads instead — the same pattern as the planner's shared-subtree
  * caches and `GraftSession.releaseQueryCaches`. */
final class CacheRegistry(track: Boolean = true) {
  private val entries =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  private[graft] def persist(df: DataFrame): DataFrame = {
    // storageLevel consults the CacheManager by canonicalized plan, so an
    // equivalent frame persisted earlier (this registry or another) is not
    // re-registered ("already cached" warning spam) — but it is still
    // tracked: release() must drop what this registry's caller reads,
    // whoever persisted the aliased plan first
    val p = if (df.storageLevel != StorageLevel.NONE) df
      else df.persist(StorageLevel.MEMORY_AND_DISK)
    if (track) entries.add(p)
    p
  }

  /** tracked entries, without draining (test/diagnostic visibility). */
  private[graft] def tracked: Seq[DataFrame] = {
    import scala.jdk.CollectionConverters._
    entries.iterator().asScala.toSeq
  }

  /** unpersist every tracked entry. Blocking, as in
    * `GraftSession.releaseQueryCaches`: the async form removes blocks
    * after this returns, racing the next query. */
  def release(): Unit = {
    var df = entries.poll()
    while (df != null) {
      df.unpersist(blocking = true)
      df = entries.poll()
    }
  }
}

object CacheRegistry {
  /** untracked: persist and rely on executor LRU eviction. */
  def lru: CacheRegistry = new CacheRegistry(track = false)
}
