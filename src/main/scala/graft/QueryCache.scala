package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.ClassicConversions._

/** The one owner of every cached intermediate the query builders
  * share. Results reused across one session are a session resource:
  * [[cached]] registers them, [[shared]] memoizes the few that plan
  * equality cannot find, and [[release]] is the single call that frees
  * both (Bench and Profile call it between measured runs;
  * long-lived sessions call it when their inputs change, since a
  * cached plan assumes its input dirs are immutable).
  */
object QueryCache {
  private val memo = new ConcurrentHashMap[(SparkSession, String), DataFrame]()

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

  /** The session-keyed memo for an intermediate whose every build is a
    * new plan (the connected-components fixpoint's rounds are local
    * checkpoints), so [[cached]] could not match a second build.
    * `build` runs at most once per (session, key), also when queries
    * are built concurrently. */
  def shared(spark: SparkSession, key: String)(
      build: => DataFrame): DataFrame = {
    // evict entries whose session is gone so long-lived JVMs that cycle
    // SparkSessions don't pin dead cached plans
    memo.keySet.removeIf(_._1.sparkContext.isStopped)
    memo.computeIfAbsent((spark, key), _ => build)
  }

  /** Drops every cached relation and every [[shared]] entry, so the next
    * run pays its full input-scan and materialization cost. Every
    * session of a JVM shares one CacheManager, so this releases them
    * all. */
  def release(spark: SparkSession): Unit = {
    memo.values.forEach(df =>
      try df.unpersist() catch { case _: Throwable => () })
    memo.clear()
    spark.sharedState.cacheManager.clearCache()
  }
}
