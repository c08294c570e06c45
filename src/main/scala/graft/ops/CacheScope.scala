package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Session-scoped registry of DataFrames cached by graft operators, so a
 * long-lived session can release them without `spark.catalog.clearCache()`
 * (which would also nuke the user's own caches) and without reaching into
 * `sharedState.cacheManager` internals. Operators call `track` instead of
 * `.cache()`; users call `Dedup.unpersistAll(spark)` /
 * `Similarity.unpersistAll(spark)` (both delegate here) once the pair /
 * index results are consumed.
 *
 * Caches are grouped into named scopes so short-lived pair-operator caches
 * ([[Ops]]) release independently of long-lived index caches ([[Index]]):
 * `Dedup.unpersistAll` after a dedup pass must NOT evict a live
 * `IvfIndex`'s cell assignments (which would silently re-run the KMeans
 * transform scan on every subsequent query). Index caches release only
 * through their owner (e.g. `IvfIndex.unpersist()`).
 */
private[graft] object CacheScope {

  /** Short-lived pair-operator caches (signatures, band keys, shingles). */
  val Ops = "ops"

  /** [[DistScan]] input pins — optimization-only (an evicted or released
   * pin recomputes the IDENTICAL bucketing; DistScanSpec proves it).
   * Terminal 1-row statistics (rocAuc, ksTest, mannWhitney, spearman)
   * release exactly their OWN pins the moment their result is
   * materialized ([[DistScan.sealTerminal]] untracks the pins recorded
   * during that statistic's construction) — a long session of drift
   * dashboards never accumulates corpus-scale spill, and a concurrent
   * lazy scan's pin survives a sibling's seal. Separate from [[Ops]] so
   * the owners' unpersistAll drains can never touch a pair operator's
   * in-flight signature cache. */
  val Scan = "scan"

  /** Long-lived index caches (IVF cell assignments); released only by the
   * owning index object, never by `Dedup`/`Similarity.unpersistAll`. */
  val Index = "index"

  private val registry =
    new java.util.WeakHashMap[
      SparkSession,
      scala.collection.mutable.Map[String, scala.collection.mutable.Buffer[DataFrame]]]()

  /** Cache `df` and remember it under its session + scope for later release. */
  def track(df: DataFrame, scope: String = Ops): DataFrame = synchronized {
    // The value Buffer holds DataFrames that strongly reference their
    // session (the map key), so weak keys alone can't collect an entry —
    // sweep stopped sessions here to bound the registry to live sessions
    // plus at most the most recently stopped ones.
    registry.keySet.removeIf(s => s.sparkContext.isStopped)
    df.cache()
    var scopes = registry.get(df.sparkSession)
    if (scopes == null) {
      scopes = scala.collection.mutable.Map.empty
      registry.put(df.sparkSession, scopes)
    }
    scopes.getOrElseUpdate(scope, scala.collection.mutable.Buffer.empty) += df
    df
  }

  /** Unpersist every operator-cached frame of `spark` in `scope`
   * (non-blocking) and forget them. Safe to call at any time: in-flight
   * queries re-materialize lazily. */
  def unpersistAll(spark: SparkSession, scope: String = Ops): Unit = synchronized {
    val scopes = registry.get(spark)
    if (scopes != null) scopes.remove(scope).foreach(_.foreach { df =>
      try df.unpersist(false)
      catch { case scala.util.control.NonFatal(_) => () }
    })
  }

  /** Unpersist one tracked frame (any scope) and forget it — for owners
   * like `IvfIndex.unpersist()` that manage their own lifecycle. */
  def untrack(df: DataFrame): Unit = synchronized {
    val scopes = registry.get(df.sparkSession)
    if (scopes != null) scopes.values.foreach { buf =>
      // reference identity, not Dataset equality: remove exactly the
      // tracked frame, in place
      val i = buf.indexWhere(_ eq df)
      if (i >= 0) buf.remove(i)
    }
    try df.unpersist(false)
    catch { case scala.util.control.NonFatal(_) => () }
  }

  /** Number of tracked (not yet released) frames for `spark` in `scope` —
   * spec hook. */
  def trackedCount(spark: SparkSession, scope: String = Ops): Int = synchronized {
    val scopes = registry.get(spark)
    if (scopes == null) 0 else scopes.get(scope).map(_.size).getOrElse(0)
  }
}
