package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Pairwise co-rating moment aggregation — the Spark re-expression of
  * the reference's quadratic `pairwise_items` mapper + per-pair
  * accumulation in `calculate_similarity`
  * (`moviesSimilarities.py ≈L87–128`, `vectorSimilarities.py
  * ≈L101–138` [R]).
  *
  * The reference materializes every C(n,2) pair per user through an MR
  * shuffle with no combiner (its docstring calls this "the main
  * performance bottleneck"). Here the pair generation is a sort-merge
  * self equi-join on `user_id` with the canonicalizing theta condition
  * `item_x < item_y`, and the moment accumulation is a hash aggregate
  * with Spark's partial/final (combiner) split.
  *
  * Moments are summed over `rating_i` (1e-4 fixed-point LONG, see
  * [[graft.io.Sources.ratings]]): integer sums are exact, hence
  * independent of shuffle order. [[RatingStats.longExact]] is the
  * bound under which the LONG sums cannot overflow; past it
  * [[pairMomentsDec]] sums in DECIMAL(38,0).
  *
  * Over a ratings table bucketed by `user_id` (the session's
  * [[graft.io.Bucketing]] layout, and what a 100 TB deployment writes at
  * ingest) the self-join co-partitions, and the only exchange is the
  * group-by-pair, whose key space (item×item) is naturally
  * well-spread. MAX_NUM_RATERS (R3) is the reference's own skew guard
  * and is applied *before* this join.
  */
object Moments {

  /** Per-pair integer moments from a ratings DF carrying `rating_i`.
    * Output: item_x, item_y (canonical `<`), n, sx, sy, sxx, syy, sxy
    * — all LONG except the item keys. Extra per-side carry columns
    * (e.g. nraters) can be listed in `carry`: emitted as
    * `<name>_x`/`<name>_y` via min() (constant within a pair-side). */
  def pairMoments(ratings: DataFrame, carry: Seq[String] = Nil): DataFrame =
    pairSums(ratings, carry, col("rating_i"))

  /** DECIMAL(38,0)-accumulating twin of [[pairMoments]] for the 100 TB
    * deployment envelope: the LONG variant's `rating_i²` products
    * overflow 2^63 once `rating_i` passes ~3·10^9 in fixed-point units.
    * Here each side is widened to DECIMAL(19,0) before the multiply —
    * Spark's precision rules make the product DECIMAL(38,0) and the
    * sums stay exact to ~10^38, the same envelope [[Det.fsumDec4]]
    * documents. Output schema: n LONG; sx, sy DECIMAL(29,0); sxx, syy,
    * sxy DECIMAL(38,0) — [[asDoubles]] works unchanged on top.
    *
    * DuckDB twin: plain `sum(a.rating_i*b.rating_i)` — DuckDB
    * accumulates BIGINT sums in HUGEINT (128-bit) natively, so the
    * SQL side is [[pairMomentsSql]] as-is. */
  def pairMomentsDec(ratings: DataFrame, carry: Seq[String] = Nil): DataFrame =
    pairSums(ratings, carry, col("rating_i").cast("decimal(19,0)"))

  /** The C(n,2) self-join and moment aggregate over rating value `r`.
    * The join is hinted sort-merge: on a table bucketed by `user_id`
    * it needs no exchange, and it never becomes a broadcast hash join,
    * whose relation a persisted result would pin for the session
    * ([[Cache.getOrPersist]]). */
  private def pairSums(ratings: DataFrame, carry: Seq[String],
                       r: Column): DataFrame = {
    def side(s: String) = ratings.select(
      (col("user_id") +: col("item_id").as(s"item_$s") +: r.as(s"r$s")
        +: carry.map(c => col(c).as(s"${c}_$s"))): _*)
    val carryAggs = carry.flatMap(c =>
      Seq(min(col(s"${c}_x")).as(s"${c}_x"), min(col(s"${c}_y")).as(s"${c}_y")))
    val aggs = Seq(
      count(lit(1)).as("n"),
      sum(col("rx")).as("sx"),
      sum(col("ry")).as("sy"),
      sum(col("rx") * col("rx")).as("sxx"),
      sum(col("ry") * col("ry")).as("syy"),
      sum(col("rx") * col("ry")).as("sxy")) ++ carryAggs
    side("x").join(side("y").hint("merge"), Seq("user_id"))
      .where(col("item_x") < col("item_y"))
      .groupBy(col("item_x"), col("item_y"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** [[pairMoments]] output in [[pairMomentsDec]]'s schema: sx, sy
    * cast to DECIMAL(29,0) and sxx, syy, sxy to DECIMAL(38,0); other
    * columns pass through in place. A LONG fits both decimals, so the
    * cast is exact whenever the LONG sums are ([[RatingStats]]). */
  def decFromLong(m: DataFrame): DataFrame =
    m.withColumns(Map(
      "sx" -> col("sx").cast("decimal(29,0)"),
      "sy" -> col("sy").cast("decimal(29,0)"),
      "sxx" -> col("sxx").cast("decimal(38,0)"),
      "syy" -> col("syy").cast("decimal(38,0)"),
      "sxy" -> col("sxy").cast("decimal(38,0)")))

  /** What bounds every pair sum of a ratings frame with one row per
    * (user_id, item_id) cell, as [[graft.io.Sources.ratings]] has:
    * the largest per-user posting count, M = max |rating_i| and U =
    * the number of distinct users. */
  final case class RatingStats(maxUserItems: Long, maxAbsRating: BigInt,
                               users: Long) {
    /** Each user adds at most one term to a pair, so n ≤ U, and every
      * term, partial and final sum of sx, sy, sxx, syy, sxy is at most
      * U·M² in absolute value (|r| ≤ r² for integer r ≠ 0). When U·M²
      * fits a LONG, [[pairMoments]] is exact and [[decFromLong]] of it
      * equals [[pairMomentsDec]]. */
    def longExact: Boolean =
      BigInt(users) * maxAbsRating * maxAbsRating <= BigInt(Long.MaxValue)
  }

  /** [[RatingStats]] of `ratings` in one job: per user count, max and
    * min rating_i, then their max, max, min and the user count. */
  def ratingStats(ratings: DataFrame): RatingStats = {
    val row = ratings.groupBy(col("user_id"))
      .agg(count(lit(1)).as("c"), max(col("rating_i")).as("hi"),
        min(col("rating_i")).as("lo"))
      .agg(max(col("c")), max(col("hi")), min(col("lo")), count(lit(1)))
      .collect()(0)
    def big(i: Int) = if (row.isNullAt(i)) BigInt(0) else BigInt(row.getLong(i))
    RatingStats(if (row.isNullAt(0)) 0L else row.getLong(0),
      big(1).abs.max(big(2).abs), row.getLong(3))
  }

  /** The n ≥ 2 DECIMAL pair moments of `ratings`: while `stats` rules
    * out LONG overflow, a view that casts `long` (its [[pairMoments]],
    * [[decFromLong]]); past the bound, `keep` (which may persist it) of
    * the [[pairMomentsDec]] aggregate. `long` is not evaluated on that
    * path: an overflowing LONG build throws under ANSI. */
  def decMoments(ratings: DataFrame, stats: RatingStats, long: => DataFrame)
                (keep: DataFrame => DataFrame): DataFrame =
    if (stats.longExact) decFromLong(long).where(col("n") >= 2)
    else keep(pairMomentsDec(ratings).where(col("n") >= 2))

  /** Cross-side pair moments: every co-rating pair with one rating
    * from `a` and one from `b` (same user, distinct items),
    * canonicalized to `item_x < item_y` — the incremental-fold term
    * of the pair-moment decomposition
    *
    *   pairs(base ∪ delta) = pairs(base) + pairs(delta)
    *                       + cross(delta, base)
    *
    * (pairs are unordered 2-subsets of one user's ratings; each lands
    * in exactly one term by which sides its two ratings came from).
    * The sums are the same exact integers [[pairMoments]] emits, so
    * folding a delta batch into stored partials reproduces the full
    * rebuild bit-for-bit — see [[mergeMoments]]. Work is
    * |delta| × (affected users' postings), never the corpus C(n,2).
    * Both inputs carry (user_id, item_id, rating_i). */
  def crossPairMoments(a: DataFrame, b: DataFrame): DataFrame = {
    val l = a.select(col("user_id"), col("item_id").as("ia"),
      col("rating_i").as("ra"))
    val r = b.select(col("user_id"), col("item_id").as("ib"),
      col("rating_i").as("rb"))
    // distinct-item guard: the full pipeline's strict `<` never pairs
    // an item with itself, and a deterministic row gate puts every
    // copy of a (user, item) cell on one side — the filter is a
    // no-op on gated inputs and protects any other split
    l.join(r, Seq("user_id")).where(col("ia") =!= col("ib"))
      .select(
        least(col("ia"), col("ib")).as("item_x"),
        greatest(col("ia"), col("ib")).as("item_y"),
        when(col("ia") < col("ib"), col("ra")).otherwise(col("rb")).as("rx"),
        when(col("ia") < col("ib"), col("rb")).otherwise(col("ra")).as("ry"))
      .groupBy(col("item_x"), col("item_y"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("rx")).as("sx"),
        sum(col("ry")).as("sy"),
        sum(col("rx") * col("rx")).as("sxx"),
        sum(col("ry") * col("ry")).as("syy"),
        sum(col("rx") * col("ry")).as("sxy"))
  }

  /** Sum-merge moment partials (the q_mv_merge discipline applied to
    * the pair table): same-key rows add component-wise. Exact by
    * integer addition — merge order can never shift a bit. */
  def mergeMoments(parts: DataFrame*): DataFrame =
    parts.reduce(_ unionByName _)
      .groupBy(col("item_x"), col("item_y"))
      .agg(
        sum(col("n")).as("n"),
        sum(col("sx")).as("sx"),
        sum(col("sy")).as("sy"),
        sum(col("sxx")).as("sxx"),
        sum(col("syy")).as("syy"),
        sum(col("sxy")).as("sxy"))

  /** Moments pre-cast to DOUBLE in the fixed order the metric formulas
    * (and their SQL twins) consume: nd, sxd, syd, sxxd, syyd, sxyd. */
  def asDoubles(m: DataFrame): DataFrame =
    m.withColumn("nd", col("n").cast("double"))
      .withColumn("sxd", col("sx").cast("double"))
      .withColumn("syd", col("sy").cast("double"))
      .withColumn("sxxd", col("sxx").cast("double"))
      .withColumn("syyd", col("syy").cast("double"))
      .withColumn("sxyd", col("sxy").cast("double"))

  /** SQL twin of [[pairMoments]]+[[asDoubles]] over the `ratings` CTE
    * (DuckDB). Sums of BIGINT are exact (hugeint accumulator), then
    * cast to DOUBLE — same values as Spark's long-sum→double cast. */
  val pairMomentsSql: String =
    """pairs AS (
      |  SELECT a.item_id AS item_x, b.item_id AS item_y,
      |         count(*) AS n,
      |         CAST(count(*) AS DOUBLE)            AS nd,
      |         CAST(sum(a.rating_i) AS DOUBLE)     AS sxd,
      |         CAST(sum(b.rating_i) AS DOUBLE)     AS syd,
      |         CAST(sum(a.rating_i*a.rating_i) AS DOUBLE) AS sxxd,
      |         CAST(sum(b.rating_i*b.rating_i) AS DOUBLE) AS syyd,
      |         CAST(sum(a.rating_i*b.rating_i) AS DOUBLE) AS sxyd
      |  FROM ratings a JOIN ratings b
      |    ON a.user_id = b.user_id AND a.item_id < b.item_id
      |  GROUP BY 1, 2
      |)""".stripMargin

  /** Per-item rater counts over the ratings view — R2's `nraters`
    * (`vectorSimilarities.py ≈L64–80` [R]). */
  def raterCounts(ratings: DataFrame): DataFrame =
    ratings.groupBy(col("item_id")).agg(count(lit(1)).as("nraters"))

  val raterCountsSql: String =
    """rater_counts AS (
      |  SELECT item_id, count(*) AS nraters FROM ratings GROUP BY 1
      |)""".stripMargin

  /** Attach per-item rater counts n_x, n_y to a pair-moment frame.
    * The counts table is tiny relative to pairs (|items| rows) —
    * broadcast both joins so no extra shuffle is introduced. */
  def withRaterCounts(moments: DataFrame, counts: DataFrame): DataFrame = {
    val cx = counts.select(col("item_id").as("item_x"), col("nraters").as("n_x"))
    val cy = counts.select(col("item_id").as("item_y"), col("nraters").as("n_y"))
    moments
      .join(broadcast(cx), Seq("item_x"))
      .join(broadcast(cy), Seq("item_y"))
  }
}
