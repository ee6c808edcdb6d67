package graft.io

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Bucketed-layout utilities — the 100 TB co-partitioning story made
  * concrete (SURVEY.md §7.5).
  *
  * The pair-generation self-join shuffles the full ratings table on
  * `user_id` every run. Written bucketed-by-user once, both join
  * sides arrive pre-partitioned and the exchange disappears — the
  * single biggest shuffle in the CF pipeline is paid at ingest time
  * instead of per-query. BucketingSpec asserts the shuffle-free plan.
  */
object Bucketing {

  /** Write a frame as a bucketed+sorted managed table (parquet).
    * Bucketing requires the catalog path (`saveAsTable`) — plain
    * `.parquet(path)` writes carry no bucket metadata. */
  def writeBucketed(df: DataFrame, table: String, buckets: Int,
                    by: String, sortCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, by)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(table)
  }

  /** One-time bucketed materialization of a shared intermediate,
    * memoized per (session, name, dir) in [[graft.core.Cache.memo]] — but
    * the result is a catalog table, so downstream scans keep the
    * bucket partitioning that `persist()` hides behind an
    * AdaptiveSparkPlan (the negative result recorded in PLANS.md).
    * A self-join of the returned frame on `by` needs no Exchange, and
    * with one file per bucket (the `repartition` below guarantees it)
    * no per-file Sort either when `sortCols` prefix the join key.
    *
    * This is the in-session analog of the 100 TB ingest-time layout:
    * pay the partitioning shuffle once at write, never per query. */
  def materializeOnce(spark: SparkSession, name: String, dir: String,
                      by: String, sortCols: Seq[String] = Nil)
                     (build: => DataFrame): DataFrame = {
    val table = graft.core.Cache.memo(spark, "Bucketing.table", s"$name:$dir")(
      try {
        val buckets = spark.conf.get("spark.sql.shuffle.partitions").toInt
        val t = s"graft_${name}_" +
          graft.core.Cache.sessionKey(spark)
            .replaceAll("[^A-Za-z0-9]", "").toLowerCase + "_" +
          Integer.toHexString(dir.hashCode)
        // the in-memory catalog forgets tables between JVMs but the
        // warehouse dir persists — clear any stale location first
        spark.sql(s"DROP TABLE IF EXISTS $t")
        val wh = spark.conf.get("spark.sql.warehouse.dir")
          .stripPrefix("file:")
        val loc = new java.io.File(wh, t.toLowerCase)
        FileUtils.deleteQuietly(loc)
        // the table is session-scoped: its files go with the session
        graft.core.Cache.atSessionEnd(spark)(FileUtils.deleteQuietly(loc))
        writeBucketed(build.repartition(buckets, col(by)), t, buckets, by, sortCols)
        t
      } catch {
        // unwritable warehouse (host session with a read-only CWD):
        // fall back to a plain persisted intermediate — semantics
        // identical, only the exchange-free self-join layout is lost
        case e: Throwable =>
          System.err.println(
            s"[bucketing] $name: bucketed write failed (${e.getMessage}); " +
              "falling back to persist()")
          "" // sentinel: use the Cache path below
      })
    if (table.isEmpty)
      graft.core.Cache.getOrPersist(spark, s"${name}_unbucketed", dir)(build)
    else spark.table(table)
  }
}
