package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.util.control.NonFatal

/** Session-scoped memoized cache of expensive shared frames (the dedup
  * family's shingle projection, the near-dup pair relation, the
  * k-means/PQ point set and codebooks).
  *
  * Keyed by (session, logical key) so parallel suites with separate
  * sessions never see each other's entries, and [[release]] evicts ONLY
  * the caller's session — a concurrent live session keeps its cached
  * frames. `unpersist` is try-wrapped for non-fatal errors: releasing
  * after a session stop must not throw inside the eviction loop.
  *
  * [[memo]] deliberately does NOT use `computeIfAbsent`: builds compose
  * (minhashPairs' build calls shingleFrame's memo on the same map), and
  * a nested `computeIfAbsent` on one ConcurrentHashMap is a documented
  * contract violation that intermittently throws
  * IllegalStateException("Recursive update") whenever the two keys land
  * in the same bin. Instead the build runs OUTSIDE the map's locks with
  * a `putIfAbsent` reconcile — a concurrent duplicate build is possible
  * and harmless (the loser unpersists its copy).
  *
  * Entries for sessions that were stopped without a [[release]] are
  * purged opportunistically on the next [[memo]] from any session, so
  * a long-lived process running many short sessions doesn't accumulate
  * dead (session, frame) pairs.
  */
object FrameCache {

  private val cache = new ConcurrentHashMap[(SparkSession, String), DataFrame]()

  /** Memoized build-and-cache: the first caller pays the fill, everyone
    * else reuses the same `InMemoryRelation`. Re-entrant: `build` may
    * itself call [[memo]]. */
  def memo(s: SparkSession, key: String)(build: => DataFrame): DataFrame = {
    purgeStopped()
    val k = (s, key)
    val existing = cache.get(k)
    if (existing != null) existing
    else {
      val built = build.cache()
      val raced = cache.putIfAbsent(k, built)
      if (raced != null) {
        try built.unpersist()
        catch { case NonFatal(_) => () }
        raced
      } else built
    }
  }

  /** Eagerly materialize `df` (one `localCheckpoint` job) and re-wrap
    * its rows as a fresh frame: the plan of everything built on top
    * starts from the materialized rows, so an iterative loop's plan
    * stays O(1) instead of nesting every earlier round. The re-wrap
    * gives the columns FRESH attribute ids: a round that unions or
    * joins this frame with a projection of itself would otherwise have
    * both branches carry the same attribute ids out of one
    * `LogicalRDD`, which Catalyst's union-constraint rewrite chokes
    * on. */
  private[graft] def rebase(df: DataFrame): DataFrame = {
    val ck = df.localCheckpoint(true)
    ck.sparkSession.createDataFrame(ck.rdd, ck.schema)
  }

  /** Evict and unpersist this session's entries only. */
  def release(s: SparkSession): Unit = {
    val it = cache.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey._1 eq s) {
        try e.getValue.unpersist()
        catch { case NonFatal(_) => () }
        it.remove()
      }
    }
  }

  /** Drop entries whose session is already stopped (their cached blocks
    * died with the context; only the map references remain). */
  private def purgeStopped(): Unit = {
    val it = cache.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val stopped =
        try e.getKey._1.sparkContext.isStopped
        catch { case NonFatal(_) => true }
      if (stopped) it.remove()
    }
  }
}
