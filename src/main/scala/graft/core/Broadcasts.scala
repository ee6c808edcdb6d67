package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast

/** Conf-gated broadcast: the pattern for join sides that are USUALLY
  * tiny (id dictionaries, node→rep maps, distinct catalogs) but are
  * O(entities) — forcing `broadcast()` on those OOMs the driver the
  * day the entity space stops fitting in memory, while dropping the
  * hint costs a needless shuffle at every sane scale. The gate pays
  * one count (a cache scan when the frame is persisted) and falls
  * back to a shuffle join past the limit. */
object Broadcasts {
  val DefaultMaxRows = 10000000L // ~160 MB serialized for two longs

  def maxRows(df: DataFrame, confKey: String,
              default: Long = DefaultMaxRows): Long =
    df.sparkSession.conf.getOption(confKey).map(_.toLong).getOrElse(default)

  /** broadcast(df) iff df has at most conf(confKey) rows. */
  def gated(df: DataFrame, confKey: String,
            default: Long = DefaultMaxRows): DataFrame =
    if (df.count() <= maxRows(df, confKey, default)) broadcast(df) else df

  /** The bare memoized count (same memo as [[gatedMemo]]): for
    * queries that need a dictionary's cardinality as a scalar (a
    * modulus for hash-probing, a gate bound) without paying a count
    * job per declaration. Same key-hygiene contract. */
  def countOnce(df: DataFrame, memoKey: String): Long =
    Cache.memo(df.sparkSession, "Broadcasts.count", memoKey)(df.count())

  /** [[gated]] with the count memoized per (session, memoKey): for
    * gate sides that are rebuilt identically on every call (an item
    * catalog per query execution, a fitted model's dictionaries), the
    * row count is a property of the underlying data, not the frame
    * instance — paying a count JOB per call buys nothing. The conf
    * limit is still read fresh each call; only the count is memoized,
    * so flipping the conf mid-session still flips the decision. The
    * caller owns key hygiene: the key must pin down the data (include
    * the dir / fit instance), or a stale count will gate a different
    * frame. */
  def gatedMemo(df: DataFrame, confKey: String, memoKey: String,
                default: Long = DefaultMaxRows): DataFrame = {
    val n = countOnce(df, memoKey)
    if (n <= maxRows(df, confKey, default)) broadcast(df) else df
  }
}
