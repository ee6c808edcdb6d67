package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.Det

/** Source adapters.
  *
  * Covers the reference's R1 surface (SURVEY.md §2.1): delimited-text
  * ratings in the two dialects the reference parses —
  *  - movies: `user|item|rating` (`moviesSimilarities.py ≈L63` [R]),
  *  - books: `"user";"item";"rating"` quote-stripped
  *    (`vectorSimilarities.py ≈L168–184` [R]) —
  * plus the parquet star-schema tables under /root/testdata and the
  * derived `ratings` view (FIXTURES.md §1) that stands in for the
  * MovieLens input at scale.
  */
object Sources {

  val ratingSchema: StructType = StructType(Seq(
    StructField("user_id", StringType, nullable = false),
    StructField("item_id", StringType, nullable = false),
    StructField("rating", DoubleType, nullable = false)))

  /** One parquet table from a testdata scale-factor dir. Fact tables
    * route through [[Relayout]] — the session's N-way split copy that
    * restores scan parallelism over the single-row-group testdata
    * files (no-op at production layouts; see Relayout scaladoc).
    *
    * Memoized per (session, dir, name) in [[graft.core.Cache.memo]]
    * (r17 warm-tail fixed cost): every `spark.read.parquet` call
    * builds a fresh InMemoryFileIndex (directory listing) and re-reads
    * the parquet footer for the schema — measured 0.13–1.1 s of the
    * 0.4 s-median per-action warm floor was this plan-CONSTRUCTION
    * I/O, re-paid by every query invocation (and 11× per
    * `registerTables` call). The memoized value is the unexecuted
    * logical plan (a resolved relation), never rows: results,
    * physical plans and scan pushdown are identical, only the
    * repeated listing/footer I/O goes away. A file layout mutated
    * under a live session is not re-observed — the standing staleness
    * contract of every session memo. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.core.Cache.memo(spark, "Sources.table", s"$dir/$name")(
      if (name == "events") events(spark, dir)
      else spark.read.parquet(Relayout.path(spark, dir, name)))

  /** events.parquet has shipped `ts` as parquet TIMESTAMP(NANOS) in
    * some rounds (Spark 4 cannot read it natively —
    * PARQUET_TYPE_ILLEGAL) and TIMESTAMP(MICROS, ntz) in others, so
    * the reader adapts to the file's actual type instead of assuming
    * one encoding. All paths land on session-tz TimestampType at
    * microsecond precision, the same floor DuckDB applies, so
    * event-time semantics agree with oracles either way. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    // Session-wide by nature (documented: Tuning.SessionDefaults sets
    // it at every graft entry point's bootstrap); this idempotent set
    // is the fail-safe for externally-built sessions. "true" is the
    // only workable value for a NANOS-encoded file — without it the
    // read FAILS (PARQUET_TYPE_ILLEGAL), nothing silently degrades —
    // so there is no restore hazard.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventTs(spark.read.parquet(Relayout.path(spark, dir, "events")))
  }

  /** Land `ts` on TimestampType(µs) whatever the parquet encoding:
    * nanos-as-LONG → integer-div to µs (the values, ~1.7e18, exceed
    * double precision — must stay integral); TIMESTAMP_NTZ → cast,
    * which under the UTC session zone is a wall-clock identity. */
  private[graft] def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case org.apache.spark.sql.types.TimestampType => df
      case other =>
        // fail loudly HERE, not with an unrelated analysis error (or
        // silently wrong event-time semantics) further down the plan
        throw new IllegalArgumentException(
          s"events.ts: unsupported encoding $other — expected " +
            "TIMESTAMP(NANOS) read as LONG, TIMESTAMP_NTZ, or TIMESTAMP")
    }

  /** Reference movies dialect: `user|item|rating`, no quoting.
    * Mirrors `moviesSimilarities.py ≈L58–66 (group_by_user_rating)` [R]. */
  def moviesRatings(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("sep", "|")
      .schema("user_id STRING, item_id STRING, rating DOUBLE")
      .csv(path)

  /** Reference books dialect: `"user";"item";"rating"` — semicolon-
    * separated, double-quoted (Book-Crossing). The reference strips
    * quotes by hand (`vectorSimilarities.py ≈L177–184` [R]); Spark's
    * csv reader does it declaratively via the `quote` option. */
  def booksRatings(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("sep", ";")
      .option("quote", "\"")
      .schema("user_id STRING, item_id STRING, rating STRING")
      .csv(path)
      .select(col("user_id"), col("item_id"),
        col("rating").cast(DoubleType).as("rating"))

  /** JSON-lines ratings dialect: `{"user_id":…,"item_id":…,"rating":…}`
    * per line. Schema is always explicit — `inferSchema` means a full
    * extra pass over 100 TB before the query even starts. */
  def jsonRatings(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(ratingSchema).json(path)
      .select(col("user_id"), col("item_id"),
        col("rating").cast(DoubleType).as("rating"))

  /** ORC reader — the other Spark-native columnar format (vectorized
    * read, predicate pushdown, like parquet). No avro: the spark-avro
    * datasource jar is not on this classpath. */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** The engine's MovieLens analog over the testdata star schema
    * (FIXTURES.md §1): one (user=o_custkey, item=l_partkey) preference
    * per pair, rating = avg ordered quantity rounded half-up to 4
    * decimals. Carries `rating_i` (rating in 1e-4 fixed-point units,
    * LONG) so downstream moment sums are exact integers and therefore
    * aggregation-order-independent — the determinism backbone of every
    * similarity query (SURVEY.md §7.4).
    *
    * Scale note: at 100 TB, lineitem⋈orders is the dominant shuffle;
    * both sides should be bucketed by order key at write time. The
    * group-by that follows re-shuffles on (custkey, partkey) — that is
    * the partitioning all similarity ops inherit.
    */
  def ratings(spark: SparkSession, dir: String): DataFrame = {
    val li = table(spark, dir, "lineitem")
    val o  = table(spark, dir, "orders")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy(col("o_custkey").as("user_id"), col("l_partkey").as("item_id"))
      .agg(avg(col("l_quantity")).as("rating_raw"))
      .select(
        col("user_id"), col("item_id"),
        Det.r4(col("rating_raw")).as("rating"),
        Det.fx4(col("rating_raw")).as("rating_i"))
  }

  /** SQL twin of [[ratings]] for DuckDB oracles (splice as a CTE). */
  val ratingsSql: String =
    """ratings AS (
      |  SELECT o_custkey AS user_id, l_partkey AS item_id,
      |         floor(avg(l_quantity)*10000 + 0.5)/10000.0 AS rating,
      |         CAST(floor(avg(l_quantity)*10000 + 0.5) AS BIGINT) AS rating_i
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  GROUP BY 1, 2
      |)""".stripMargin
}
