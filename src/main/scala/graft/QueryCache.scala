package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

/** Session-scoped memo cache for shared intermediate tables (capped
  * interactions, similarity matrices, shingle sets), plus [[once]],
  * the per-session build-once guard of the serve-table writes, and
  * [[schema]], the per-session schema of each fixture file.
  *
  * Lifecycle (the round-2 advisor flagged the raw ConcurrentHashMaps
  * this replaces as a leak + staleness hazard):
  *   - entries are keyed (session, tag) and persisted MEMORY_AND_DISK;
  *     a [[once]] tag keeps no data, only its done mark; a [[schema]]
  *     entry is keyed (session, path) and keeps only the schema;
  *   - a SparkListener registered once per session drops that session's
  *     entries when its application ends, and every access sweeps
  *     entries whose SparkContext has stopped, so stopped sessions
  *     never pin DataFrames for the JVM lifetime;
  *   - [[invalidate]] unpersists and drops a live session's entries,
  *     done marks and schemas — call it if the parquet under a cached
  *     sfDir is REWRITTEN within a session. Absent that call, inputs are assumed immutable for
  *     the session's lifetime (the normal batch-pipeline contract:
  *     sources are immutable snapshots while a run is in flight).
  */
object QueryCache {

  private val cache = new ConcurrentHashMap[(SparkSession, String), DataFrame]()
  private val ran = ConcurrentHashMap.newKeySet[(SparkSession, String)]()
  private val schemas = new ConcurrentHashMap[(SparkSession, String), StructType]()
  private val hooked = ConcurrentHashMap.newKeySet[SparkSession]()

  /** Memoize `build` (persisted) under (spark, tag).
    *
    * NOT computeIfAbsent: cached builds nest (a similarity model's
    * build reads the cached interaction table), and a nested
    * computeIfAbsent on the same ConcurrentHashMap throws "Recursive
    * update" whenever the two keys land in the same bin — a
    * hash-layout-dependent landmine. get + putIfAbsent is reentrant;
    * the benign race (two threads building the same entry) resolves by
    * unpersisting the loser.
    */
  def memo(spark: SparkSession, tag: String)(build: => DataFrame): DataFrame = {
    track(spark)
    val key = (spark, tag)
    val existing = cache.get(key)
    if (existing != null) existing
    else {
      val built = build.persist(StorageLevel.MEMORY_AND_DISK)
      val prev = cache.putIfAbsent(key, built)
      // On a lost race, do NOT unpersist the loser: Spark's
      // CacheManager keys cached data by canonicalized PLAN, so
      // unpersisting the loser would evict the winner's identical
      // cache too. The duplicate persist call was already a no-op
      // ("already cached" plan match); dropping the reference suffices.
      if (prev != null) prev else built
    }
  }

  /** Run `effect` once per (spark, tag) — the build-once guard of a
    * side effect whose result lives outside the session (a serve
    * table written to the catalog). Same lifecycle as [[memo]]: a
    * nested `once`/`memo` inside `effect` is fine (contains + add,
    * never computeIfAbsent), the tag is marked done only after
    * `effect` returns (a throwing effect re-runs on the next call),
    * and [[invalidate]] or the context stopping forgets it. Two
    * threads racing on a fresh tag may both run `effect`, like
    * [[memo]]'s benign double build. */
  def once(spark: SparkSession, tag: String)(effect: => Unit): Unit = {
    track(spark)
    val key = (spark, tag)
    if (!ran.contains(key)) {
      effect
      ran.add(key): Unit
    }
  }

  /** The schema of the parquet at `path`: `infer` runs once per
    * (spark, path) and later calls return its result. Reading with a
    * known schema skips the reader's inference job, so a query that
    * reads the same fixture again builds without running Spark. Same
    * lifecycle and immutable-input contract as [[memo]]. */
  def schema(spark: SparkSession, path: String)(infer: => StructType): StructType = {
    track(spark)
    val key = (spark, path)
    val known = schemas.get(key)
    if (known != null) known
    else {
      val inferred = infer
      val prev = schemas.putIfAbsent(key, inferred)
      if (prev != null) prev else inferred
    }
  }

  /** Sweep stopped sessions and hook `spark`'s application end once. */
  private def track(spark: SparkSession): Unit = {
    sweepStopped()
    if (hooked.add(spark)) {
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit =
          dropEntries(spark, unpersist = false) // executors are gone; just release refs
      })
    }
  }

  /** Unpersist and forget every entry of a live session — the escape
    * hatch for callers that rewrite source parquet mid-session.
    */
  def invalidate(spark: SparkSession): Unit = dropEntries(spark, unpersist = true)

  private def dropEntries(spark: SparkSession, unpersist: Boolean): Unit = {
    val it = cache.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey._1 eq spark) {
        if (unpersist && !spark.sparkContext.isStopped) e.getValue.unpersist(blocking = false)
        it.remove()
      }
    }
    ran.removeIf(_._1 eq spark)
    schemas.keySet().removeIf(_._1 eq spark)
    // NOTE: the session stays in `hooked` — its listener remains
    // registered and valid, and removing it here would make every
    // invalidate+memo cycle stack a fresh duplicate listener on the
    // context's bus. sweepStopped() clears hooked once the context dies.
  }

  /** Drop entries whose context already stopped (their cached blocks
    * died with the executors; only the plan reference remains).
    */
  private def sweepStopped(): Unit = {
    val it = cache.keySet().iterator()
    while (it.hasNext) if (it.next()._1.sparkContext.isStopped) it.remove()
    ran.removeIf(_._1.sparkContext.isStopped)
    schemas.keySet().removeIf(_._1.sparkContext.isStopped)
    val hs = hooked.iterator()
    while (hs.hasNext) if (hs.next().sparkContext.isStopped) hs.remove()
  }
}
