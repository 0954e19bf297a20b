package graft.ops

import org.apache.spark.sql.DataFrame

/** Bounded cache of expensive DERIVED frames, keyed by (source-frame
  * identity, tag) — shingle sets, PPJoin prefix indexes, simhash
  * fingerprints, embed norms/cells, BM25 term frequencies.
  *
  * Identity-keyed on purpose: SparkEntry hands out ONE stable
  * docs/embeddings frame per sfDir, so every operator over that sfDir
  * converges on one persisted copy; callers that build a fresh frame
  * per call (tests, tools) cycle through the bound instead of leaking
  * one MEMORY_AND_DISK entry per call forever [ADVICE r3]. Evicted
  * entries are unpersisted (insertion order — the oldest sfDir's
  * derivations go first, e.g. the bench warm-up SF's after the timed
  * SF's fill in).
  *
  * Bound: ~11 tags are live per benched sfDir (shingles, prefix@t,
  * simhash-fp, bm25-tf, bm25-termstats, bm25-stats on the docs frame;
  * jaccard-sets, lsh-banded on its shingle frame; embed-norm,
  * embed-assigned, embed-chunks on the embeddings frame); 22 holds two
  * sfDirs' worth, 32 leaves headroom so extra tags (a second dedup
  * threshold, a test frame) don't silently evict a still-live warm
  * entry mid-bench [ADVICE r5]. Evictions log to stderr so a silent
  * re-derivation is visible in bench output.
  */
object DerivedFrameCache {

  private val Max = 32
  private val entries = new scala.collection.mutable.ArrayDeque[
    ((DataFrame, String), DataFrame)]()

  def apply(source: DataFrame, tag: String)
      (build: => DataFrame): DataFrame = entries.synchronized {
    entries.collectFirst {
      case ((k, t), v) if (k eq source) && t == tag => v
    }.getOrElse {
      val f = build
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      entries.append(((source, tag), f))
      while (entries.size > Max) {
        val ((_, evictedTag), evicted) = entries.removeHead()
        System.err.println(
          s"[frame-cache] evicting '$evictedTag' (bound $Max reached) — " +
            "a re-derivation of it will pay full cost")
        evicted.unpersist(blocking = false)
      }
      f
    }
  }
}

/** [[DerivedFrameCache]]'s sibling for DRIVER-LOCAL derived values
  * (fitted centroids, per-cell radii): same identity-keyed lifecycle,
  * same bound-and-evict discipline, no persist/unpersist (plain
  * values). Everything stored here is a DETERMINISTIC function of the
  * keyed frame (seeded fits over deterministic samples), so a cache hit
  * returns bit-identical values to a recompute — it removes repeated
  * driver-sync collect jobs from hot query paths, never changes
  * results (r7).
  */
object DerivedValueCache {

  private val Max = 16
  private val entries = new scala.collection.mutable.ArrayDeque[
    ((AnyRef, String), Any)]()

  /** `build` (often a Spark job) runs OUTSIDE the lock, so a slow build
    * never blocks lookups of other keys. Two concurrent misses on one
    * key may both build; the first insert wins and both callers get it
    * (the values are deterministic, so the duplicate is only wasted work).
    */
  def apply[T](source: AnyRef, tag: String)(build: => T): T = {
    def lookup = entries.collectFirst {
      case ((k, t), v) if (k eq source) && t == tag => v.asInstanceOf[T]
    }
    entries.synchronized(lookup).getOrElse {
      val v = build
      entries.synchronized {
        lookup.getOrElse {
          entries.append(((source, tag), v))
          while (entries.size > Max) { entries.removeHead(): Unit }
          v
        }
      }
    }
  }
}
