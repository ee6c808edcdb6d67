package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import graft.io.Sources

/** User-facing facade: the API surface a reference user lands on.
  *
  *  - [[registerTables]]: catalog registration so the whole inventory
  *    is reachable from `spark.sql(...)` as well as the DataFrame API;
  *  - typed adapters ([[ratingsDS]], [[similaritiesDS]]) for users who
  *    want case-class Datasets at the edges (SURVEY.md §1.2: typed at
  *    the edges, DataFrame inside so Catalyst sees through everything).
  */
object Graft {

  case class Rating(user_id: Long, item_id: Long, rating: Double)
  case class ItemSimilarity(item_x: Long, item_y: Long, corr: Double,
                            cos_sim: Double, reg_corr: Double,
                            jaccard: Double, n: Long, rn: Long)

  val TableNames: Seq[String] = Seq("region", "nation", "customer",
    "supplier", "part", "orders", "lineitem", "events", "documents",
    "embeddings")

  /** Register every testdata table plus the derived `ratings` view as
    * temp views, making the full surface SQL-addressable.
    *
    * Runs once per dir SWITCH (r17 warm-tail fixed cost): every
    * SQL-surface query calls this per action, and re-registering 11
    * identical views costs catalog writes + plan re-analysis on every
    * invocation. The session's last registered dir lives in a memoized
    * reference, checked and re-pointed under its lock, so concurrent
    * first callers register once and a session alternating dirs (the
    * test suites) still re-points the views correctly. */
  def registerTables(spark: SparkSession, dir: String): Unit = {
    val last = core.Cache.memo(spark, "Graft.registeredDir", "")(
      new java.util.concurrent.atomic.AtomicReference[String])
    last.synchronized {
      if (last.get != dir) {
        TableNames.foreach(n =>
          Sources.table(spark, dir, n).createOrReplaceTempView(n))
        Sources.ratings(spark, dir).createOrReplaceTempView("ratings")
        last.set(dir)
      }
    }
  }

  def ratingsDS(spark: SparkSession, dir: String): Dataset[Rating] = {
    import spark.implicits._
    Sources.ratings(spark, dir)
      .select("user_id", "item_id", "rating").as[Rating]
  }

  /** The vector pipeline with a typed exit. */
  def similaritiesDS(spark: SparkSession, dir: String): Dataset[ItemSimilarity] = {
    import spark.implicits._
    core.Pipeline.vector(Sources.ratings(spark, dir))
      .select("item_x", "item_y", "corr", "cos_sim", "reg_corr",
        "jaccard", "n", "rn").as[ItemSimilarity]
  }

  /** Run any inventory query by name. */
  def query(spark: SparkSession, dir: String, name: String): DataFrame =
    SparkEntry.queries(name)(spark, dir)
}
