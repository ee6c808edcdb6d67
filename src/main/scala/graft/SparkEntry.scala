package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates the per-module query registries; every entry in
  * [[queries]] that has a twin in [[oracleSql]] is hash-checked by the
  * driver against DuckDB at sf0.01 (SURVEY.md §2.3).
  */
object SparkEntry {
  /** Flagship: the full vector-similarity pipeline (the reference's
    * 4-step `VectorSimilarities` job) on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    rel.SimQueries.queries("q_vector_pipeline")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    rel.SimQueries.queries ++
      rel.RelQueries.queries ++
      rel.RelEventQueries.queries ++
      rel.RelStatsQueries.queries ++
      ext.ExtQueries.queries

  /** The session-shared snapshot builders, NAMED — Bench times each
    * under its own `_shared:<name>` line (serially, for attribution)
    * so first-touch snapshot costs never land on whichever query
    * happens to run first in a cold sweep (VERDICT r10: the four
    * ">2× band" cold outliers were all un-named first-touch builds).
    * Components stay serial, since both harnesses time one component
    * at a time; the independent legs inside one component may overlap
    * ([[graft.core.Cache.forceAll]]) and all finish before it returns.
    * Verify/driver runs need not call them — the first consuming
    * query triggers the same builds through [[graft.core.Cache]]. */
  def sharedComponents: Seq[(String, (SparkSession, String) => Unit)] =
    Seq(
      // FIRST: the scan-parallelism relayout (io.Relayout) — every
      // other component consumes the split copies, so its write cost
      // must land on its own row, not on whichever chain runs first.
      "relayout" -> ((s, d) => graft.io.Relayout.warm(s, d)),
      "sim" -> ((s, d) => rel.SimQueries.warm(s, d)),
      "minhash" -> ((s, d) => ext.ExtQueries.warmMinhash(s, d)),
      "simhash" -> ((s, d) => ext.ExtQueries.warmSimhash(s, d)),
      "vectors" -> ((s, d) => ext.ExtQueries.warmVectors(s, d)),
      "shingle_postings" ->
        ((s, d) => ext.ExtQueries.warmShinglePostings(s, d)),
      "lm_tables" -> ((s, d) => ext.ExtQueries.warmLmTables(s, d)),
      "knn_graph" -> ((s, d) => ext.ExtQueries.warmKnnGraph(s, d)),
      "media_fixtures" ->
        ((s, d) => ext.ExtQueries.warmMediaFixtures(s, d)))

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys get a rows-only check. */
  def oracleSql: Map[String, String] =
    rel.SimQueries.oracles ++
      rel.RelQueries.oracles ++
      rel.RelEventQueries.oracles ++
      rel.RelStatsQueries.oracles ++
      ext.ExtQueries.oracles
}
