package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Neighbor ranking — the Spark re-expression of the reference's
  * composite-key secondary sort (`calculate_ranking` +
  * `top_similar_items`, `moviesSimilarities.py ≈L130–151` [R]).
  *
  * The reference gets per-item ordering "for free" from the MR shuffle
  * sort on the `(item_x, similarity)` key; we make it explicit and
  * deterministic with a window. Despite its name, the reference's
  * `top_similar_items` never applies a K cutoff [R-high] — so rank-
  * annotation and the K cutoff are separate entry points here.
  *
  * Ties are broken by `item_y` ascending so output is a total order
  * (the reference's tie order was a shuffle artifact).
  *
  * Scale note: Spark's `WindowGroupLimit` optimization pushes a
  * `row_number() <= k` filter into the shuffle as a per-partition
  * top-k, so [[topK]] never materializes full per-item neighbor lists
  * at 100 TB (verified in the physical plan at sf0.1).
  */
object Ranking {

  /** Add `rn` = 1-based neighbor rank per `partCol`, ordered by
    * `scoreCol` desc then `tieCol` asc. Rank on an already-rounded
    * score so engine-side float noise cannot reorder ties. */
  def withRank(df: DataFrame, partCol: String, scoreCol: Column,
               tieCol: String): DataFrame = {
    val w = Window.partitionBy(col(partCol))
      .orderBy(scoreCol.desc, col(tieCol).asc)
    // LONG rn: DuckDB window functions return BIGINT; keep schemas equal.
    df.withColumn("rn", row_number().over(w).cast("long"))
  }

  /** Per-group top-k: the K cutoff the reference named but never
    * implemented (R7). */
  def topK(df: DataFrame, partCol: String, scoreCol: Column,
           tieCol: String, k: Int): DataFrame =
    withRank(df, partCol, scoreCol, tieCol).where(col("rn") <= k)

  /** Sort-free per-group top-k over a LARGE ranking input — the scale
    * path for [[topK]] (round-13 verdict #1). The window form's
    * rank-limit pushdown still sorts every input partition in full
    * (`WindowGroupLimitExec.requiredChildOrdering` covers BOTH Partial
    * and Final modes), so a 95M-row moment frame pays an O(n·log n)
    * local sort per ranking; this path aggregates with the bounded
    * [[graft.expr.TopKAgg]] heap instead — O(n·log k) updates, hash
    * PARTIAL map-side (≤k entries per (group, partition) reach the
    * exchange, packed one buffer row per group), merge without sort.
    *
    * Returns `(partCol, tie, score, extra, rn)` with rn 1-based in
    * (score desc, tie asc) order — row-identical to
    * `topK(df, partCol, score, tie, k)` when `tie` is unique per
    * group (asserted against the window form in ExprSpec).
    */
  def topKAgg(df: DataFrame, partCol: String, scoreCol: Column,
              tieCol: Column, extraCol: Column, k: Int): DataFrame = {
    // ObjectHashAggregate falls back to SORT-BASED aggregation after
    // `spark.sql.objectHashAggregate.sortBased.fallbackThreshold`
    // distinct keys per task (default 128) — the sort is exactly what
    // this path exists to avoid, so every graft entry point raises it
    // at session BOOTSTRAP ([[graft.core.Tuning.SessionDefaults]];
    // round-14 verdict #4 moved it out of here — a mid-plan session
    // mutation silently changed every later ObjectHashAggregate).
    // Correctness never depends on it: past the threshold the
    // sort-based fallback is row-identical (ExprSpec forces the
    // threshold below the group count and asserts equality), only
    // sort-bound.
    df.groupBy(col(partCol))
      .agg(call_function("graft_topk", lit(k),
        scoreCol.cast("double"), tieCol.cast("long"),
        extraCol.cast("long")).as("_tk"))
      .select(col(partCol), posexplode(col("_tk")))
      .select(col(partCol), col("col.tie").as("tie"),
        col("col.score").as("score"), col("col.extra").as("extra"),
        (col("pos") + 1).cast("long").as("rn"))
  }

  /** The reference's output protocol (R8): values joined with ';'
    * (`SemicolonValueProtocol`, `moviesSimilarities.py ≈L33–37` [R]). */
  def semicolonProtocol(df: DataFrame, cols: Seq[String]): DataFrame =
    df.select(concat_ws(";", cols.map(c => col(c).cast("string")): _*).as("line"))
}
