package graft.plans

import org.apache.spark.sql.DataFrame

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

/** Registry of LAZY-RETURN cache blocks — deterministic release for
  * the persists an operator cannot unpersist itself.
  *
  * Several operators persist an intermediate that feeds the RETURNED
  * lazy DataFrame (minhash signature tables, shingle-set aggregates,
  * the selection model's counts, range-scan children, PageRank/CC
  * results): the operator returns before any action runs,
  * so unpersisting inside it would kill the cache before first use.
  * Previously those blocks lived until LRU eviction or a blanket
  * `spark.catalog.clearCache()` — which a long-lived service can't
  * call without nuking every OTHER cache in the session.
  *
  * Every such site now registers its persisted frame here under a
  * stable label. Consumers release deterministically:
  *
  *  - per-query drivers (Bench/Verify) call [[releaseAll]] between
  *    queries instead of the blanket clearCache;
  *  - services that know a family is done call
  *    [[release]]`("dedup.minhash")` etc. — labels are
  *    dot-namespaced by operator;
  *  - operators that ALSO return an explicit unpersist handle
  *    (PrefixScan, GlobalNtile, ExactPercentile) stay registered too:
  *    unpersist is idempotent, so handle-then-releaseAll is safe.
  *
  * Entries hold the frame STRONGLY: the cache entry itself lives in
  * Spark's CacheManager keyed by the analyzed plan — nothing else
  * retains the wrapper object, and a weak reference would be
  * collected before release could unpersist through it. An entry's
  * lifetime therefore matches the cache block's: released here, or
  * with the session. Registering is cheap (one map entry holding a
  * plan reference the CacheManager retains anyway).
  */
object CacheHandles {

  private val live =
    new ConcurrentHashMap[java.lang.Long, (String, DataFrame)]()
  private val ids = new AtomicLong()

  /** Register a persisted frame under `label`; returns it unchanged. */
  def track(label: String, df: DataFrame): DataFrame = {
    live.put(java.lang.Long.valueOf(ids.incrementAndGet()), (label, df))
    df
  }

  /** Unpersist (non-blocking) every tracked frame whose label starts
    * with `labelPrefix`. Returns the number of frames unpersisted.
    */
  def release(labelPrefix: String): Int = release(labelPrefix, blocking = false)

  /** As [[release]]; `blocking = true` waits for block removal —
    * between-query drivers (Bench) use it so the previous query's
    * cache-drop storm is charged to UNTIMED time instead of landing
    * inside the next query's timed region (round-18: a 0.3 s query
    * following a cache-heavy one measured 4× slower under the
    * non-blocking drop).
    */
  def release(labelPrefix: String, blocking: Boolean): Int = {
    var n = 0
    val it = live.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val (label, df) = e.getValue
      if (label.startsWith(labelPrefix)) {
        it.remove()
        try { df.unpersist(blocking); n += 1 } catch { case _: Throwable => () }
      }
    }
    n
  }

  /** Unpersist everything tracked. */
  def releaseAll(): Int = release("")

  /** Blocking variant for between-query drivers. */
  def releaseAllBlocking(): Int = release("", blocking = true)

  /** Labels currently registered — observability. */
  def liveLabels: Seq[String] = {
    val out = Seq.newBuilder[String]
    val it = live.values().iterator()
    while (it.hasNext) out += it.next()._1
    out.result()
  }
}
