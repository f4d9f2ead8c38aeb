package graft.ext

/** Driver values decoded from a store's FROZEN seeds (params,
  * centroids, codebook), memoized JVM-wide so a store read resolves
  * them without a Spark job.
  *
  * Keyed by the store's canonical path plus the seed's `f` lines in
  * the pinned store snapshot ([[StoreSnapshots.Pin.seed]]): each line
  * names one seed file and its size, and Spark names every part file
  * it writes with a fresh UUID, so a rebuild always changes the key
  * and no entry is ever invalidated — a stale one just ages out. The
  * pin verifies every `f` line (existence and size) before it looks
  * here, so a deleted or resized seed still fails the read while the
  * memo is warm.
  *
  * Why not a cache keyed by snapshot generation: in the daily loop
  * (append → read → compaction → read) every read follows a new
  * generation, so such a key never hits; the seeds are what stays the
  * same across generations.
  *
  * Byte-bounded (Spark's `SizeEstimator` weighs each value) with LRU
  * eviction; a value larger than the whole budget is returned but not
  * kept. Two threads missing the same key both decode it — the values
  * are equal, and the first one stored stays. */
private[ext] final class SeedMemo(budgetBytes: Long) {
  import SeedMemo.Entry
  // access-ordered: iteration starts at the least recently used entry
  private val entries =
    new java.util.LinkedHashMap[(String, Seq[String]), Entry](16, 0.75f, true)
  private var held = 0L

  def apply[T](key: (String, Seq[String]))(load: => T): T = {
    val hit = entries.synchronized(Option(entries.get(key)))
    hit.fold {
      val v = load
      val bytes = org.apache.spark.util.SizeEstimator
        .estimate(v.asInstanceOf[AnyRef])
      entries.synchronized {
        if (bytes <= budgetBytes && !entries.containsKey(key)) {
          entries.put(key, Entry(v, bytes))
          held += bytes
          val it = entries.values().iterator()
          while (held > budgetBytes) {
            held -= it.next().bytes
            it.remove()
          }
        }
      }
      v
    }(_.value.asInstanceOf[T])
  }

  /** Bytes currently held (≤ the budget). */
  def heldBytes: Long = entries.synchronized(held)

  def contains(key: (String, Seq[String])): Boolean =
    entries.synchronized(entries.containsKey(key))
}

private[ext] object SeedMemo {
  private final case class Entry(value: Any, bytes: Long)

  /** The one JVM-wide memo every store read shares. */
  val shared = new SeedMemo(64L << 20)
}
