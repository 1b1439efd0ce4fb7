package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.ClassicConversions._

/** The one owner of every cached intermediate the query builders
  * share. Results reused across one session are a session resource:
  * [[cached]] registers them in the session CacheManager, where a
  * consumer finds them by plan equality — also the iterative fixpoints,
  * whose rounds live in one [[Iterate]] node, so an equal build is an
  * equal plan. [[release]] is the single call that frees them (Bench
  * and Profile call it between measured runs; long-lived sessions call
  * it when their inputs change, since a cached plan assumes its input
  * dirs are immutable).
  */
object QueryCache {
  /** Registers `df`'s plan in the session CacheManager unless an equal
    * plan is already registered, and returns `df`. Registration is lazy
    * (no job runs until an action), and a consumer built from an equal
    * plan reads the registered table whether or not it called this.
    * Synchronized because Verify builds queries on several threads:
    * two first registrations of one plan would both pass the lookup. */
  def cached(df: DataFrame): DataFrame = synchronized {
    if (df.sparkSession.sharedState.cacheManager.lookupCachedData(df).isEmpty)
      df.cache()
    df
  }

  /** Drops every cached relation, so the next run pays its full
    * input-scan and materialization cost. Every session of a JVM shares
    * one CacheManager, so this releases them all. */
  def release(spark: SparkSession): Unit =
    spark.sharedState.cacheManager.clearCache()
}
