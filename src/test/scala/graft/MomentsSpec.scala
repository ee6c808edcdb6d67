package graft

import org.apache.spark.sql.{DataFrame, classic}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import graft.core.{Det, Moments, Ranking, Similarity => S}
import graft.rel.SimQueries

/** The DECIMAL pair moments derived from the LONG ones, the overflow
  * bound that picks the path, and the SimQueries artifacts built on
  * them. */
class MomentsSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def cells(df: DataFrame): Seq[Seq[Any]] =
    df.orderBy("item_x", "item_y").collect().map(_.toSeq).toSeq

  private def assertDerivedEqualsDirect(r: DataFrame): Unit = {
    val derived = Moments.decFromLong(Moments.pairMoments(r))
    val direct = Moments.pairMomentsDec(r)
    assert(derived.schema === direct.schema)
    assert(cells(derived) === cells(direct))
  }

  test("decFromLong(pairMoments) equals pairMomentsDec cell for cell, with the same types") {
    assertDerivedEqualsDirect(toyRatings)
    val r = graft.io.Sources.ratings(spark, sf001)
    assert(Moments.ratingStats(r).longExact)
    assertDerivedEqualsDirect(r)
  }

  test("past the overflow bound decMoments aggregates in DECIMAL and never builds the LONG moments") {
    import spark.implicits._
    // the PropertySpec magnitudes: one rating_i² term is ~9e28 ≫ 2^63
    val raw = Seq(
      ("u1", "A", 300000000000000L), ("u1", "B", 299999999999999L),
      ("u2", "A", 123456789012345L), ("u2", "B", 222222222222222L),
      ("u3", "A", 987654321098765L), ("u3", "B", 111111111111111L))
    val df = raw.toDF("user_id", "item_id", "rating_i")
    val stats = Moments.ratingStats(df)
    assert(stats === Moments.RatingStats(2L, BigInt(987654321098765L), 3L))
    assert(!stats.longExact)
    var kept = false
    val row = Moments.decMoments(df, stats, fail("the LONG moments were built")) { dec =>
      kept = true
      dec
    }.collect()(0)
    assert(kept, "past the bound the DECIMAL aggregate is what the caller keeps")
    val xs = raw.filter(_._2 == "A").sortBy(_._1).map(t => BigInt(t._3))
    val ys = raw.filter(_._2 == "B").sortBy(_._1).map(t => BigInt(t._3))
    def dec(c: String) = BigInt(row.getAs[java.math.BigDecimal](c).toBigIntegerExact)
    assert(row.getAs[Long]("n") === 3L)
    assert(dec("sx") === xs.sum)
    assert(dec("sy") === ys.sum)
    assert(dec("sxx") === xs.map(x => x * x).sum)
    assert(dec("syy") === ys.map(y => y * y).sum)
    assert(dec("sxy") === xs.zip(ys).map { case (x, y) => x * y }.sum)
  }

  test("the LONG bound is U·M² ≤ Long.MaxValue, tight at its edge") {
    import spark.implicits._
    val edge = 3037000499L // floor(sqrt(2^63 - 1))
    assert(Moments.RatingStats(2L, BigInt(edge), 1L).longExact)
    assert(!Moments.RatingStats(2L, BigInt(edge + 1), 1L).longExact)
    assert(!Moments.RatingStats(2L, BigInt(edge), 2L).longExact)
    // one user, two items: sxx = M² is the largest sum
    def oneUser(m: Long) = Seq(("u1", "A", m), ("u1", "B", -m))
      .toDF("user_id", "item_id", "rating_i")
    assert(Moments.ratingStats(oneUser(edge)).longExact)
    assertDerivedEqualsDirect(oneUser(edge))
    assert(!Moments.ratingStats(oneUser(edge + 1)).longExact)
    val e = intercept[Exception](Moments.pairMoments(oneUser(edge + 1)).collect())
    assert(e.getMessage.contains("ARITHMETIC_OVERFLOW"), e.getMessage)
  }

  test("under the bound pair_moments_dec_n2 is an uncached cast view of the " +
    "pair_moments cache, whose build pins no broadcast") {
    SimQueries.warm(spark, sf001)
    val cm = spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager
    def lookup(df: DataFrame) = cm.lookupCachedData(df.asInstanceOf[classic.Dataset[_]])
    val long = lookup(SimQueries.moments(spark, sf001)).get.cachedRepresentation.cacheBuilder
    val dec = SimQueries.momentsDec(spark, sf001)
    assert(lookup(dec).isEmpty, "momentsDec has a cache entry of its own")
    val plan = dec.queryExecution.executedPlan
    val scans = collect(plan) { case s: InMemoryTableScanExec => s.relation.cacheBuilder }
    assert(scans.nonEmpty && scans.forall(_ eq long), plan.toString)
    assert(collect(plan) { case j: BaseJoinExec => j }.isEmpty, plan.toString)
    val built = long.cachedPlan
    assert(collect(built) { case b: BroadcastExchangeExec => b }.isEmpty, built.toString)
  }

  test("q_topk_neighbors reads the rec_ils_top10 snapshot and equals the direct topKAgg ranking") {
    val q = SparkEntry.queries("q_topk_neighbors")(spark, sf001)
    val corr = Det.r4(S.correlation(
      col("nd"), col("sxyd"), col("sxd"), col("syd"), col("sxxd"), col("syyd")))
    val sims = Moments.asDoubles(SimQueries.moments(spark, sf001))
      .withColumn("corr", corr)
      .where(col("n") > 0)
    val direct = Ranking.topKAgg(sims, "item_x", col("corr"), col("item_y"), col("n"), 10)
      .select(col("item_x"), col("tie").as("item_y"),
        col("score").as("corr"), col("extra").as("n"), col("rn"))
      .orderBy(col("item_x"), col("rn"))
    val rows = q.collect()
    assert(rows.nonEmpty)
    assert(q.schema === direct.schema)
    assert(rows.toSeq === direct.collect().toSeq)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("graft_topk"), plan)
  }
}
