package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped scan-parallelism relayout for the testdata star
  * tables (optimization guide §6: input split sizing is a DATA-LAYOUT
  * property, not a conf).
  *
  * Every testdata parquet ships as ONE file with ONE row group
  * (pyarrow-verified, PLANS.md round 1), and a parquet split without
  * the row-group start reads zero rows — so `maxPartitionBytes` cannot
  * raise scan parallelism, and every query's stage 1 (scan + filters +
  * projections + partial aggregation, i.e. the whole plan below the
  * first Exchange) runs in a SINGLE task on one core.
  * The shared dedup/LM builds are the worst case: simhash tokenizes
  * and bit-sums the entire document corpus inside that one task.
  *
  * The fix is the same one the bucketed ratings table applies to the
  * self-join shuffle: pay a one-time per-session layout write, then
  * every scan of the table parallelizes. Each fact table is copied
  * once per (session, dir) into `min(defaultParallelism, 8)` parquet
  * files under target/relayout/<appId>/, deleted when the session
  * ends. Row VALUES are byte-identical parquet round-trips; only file
  * boundaries (and thus row order, which no query's result depends on
  * — the determinism contract orders every output by a total key)
  * change. The copy is rebuilt by every fresh session from the raw
  * inputs — nothing persists across runs — and Bench bills the build
  * under its own `_shared:relayout` row so per-query numbers stay
  * attributable.
  *
  * At 100 TB this module is a NO-OP by construction: a table whose
  * on-disk footprint exceeds `spark.graft.relayout.max.bytes` (default
  * 1 GiB) or that already ships as at least half that many files is
  * left alone — real deployments write many ~128 MB row groups at
  * ingest and already scan wide. The relayout exists to
  * restore, in local single-row-group test mode, the scan parallelism
  * the production layout has natively.
  */
object Relayout {

  /** The single-row-group fact tables worth re-splitting; dimension
    * tables (nation/region/supplier/customer/part) are broadcast-sized
    * and their scans are already sub-millisecond. Two tables are
    * deliberately EXCLUDED by measurement (r16):
    *  - `embeddings` (2 000 rows): the ANN beam serves re-scan it
    *    several times per action — 32 tiny files turned that into
    *    pure file-open/scheduling overhead (q_ann_hnsw 3.7 → 7.1 s
    *    warm);
    *  - `events` (100 k rows, 1.5 MB): its consumers are
    *    window/sessionization queries whose stage-1 is a light scan
    *    feeding a shuffle — the split bought nothing and each of the
    *    ~15 event queries paid ~0.3–0.5 s of extra scan fan-out per
    *    action (interleaved A/B, both load regimes);
    *  - `documents` (5 000 rows, 0.4 MB): `ExtQueries.docs` already
    *    repartitions to defaultParallelism in-plan whenever the scan
    *    is narrower (the pre-r16 design), which is exactly right for
    *    its CPU-heavy tokenize/shingle consumers — a file relayout on
    *    top is redundant there and pure fan-out cost for the light
    *    direct-scan doc queries. */
  private val FactTables =
    Set("lineitem", "orders")

  private def sizeOf(f: java.io.File): Long =
    if (f.isDirectory) {
      val kids = f.listFiles(); if (kids == null) 0L else kids.map(sizeOf).sum
    } else f.length()

  private def fileCount(f: java.io.File): Int =
    if (f.isDirectory) {
      val kids = f.listFiles(); if (kids == null) 0 else kids.map(fileCount).sum
    } else if (f.getName.endsWith(".parquet")) 1 else 0

  /** Split count: enough to engage multiple cores on CPU-bound
    * stage-1 work without paying per-file open/scheduling cost on
    * every scan of a 10 MB table (measured r16: 32-way splits made
    * multi-scan SQL queries ~0.5–1 s SLOWER per action while 8-way
    * kept the heavy-stage win; see OPTIMIZATION_r16.md). Production
    * tables ship hundreds of row groups, so this only shapes the
    * local restore; capped at `defaultParallelism`. */
  private val MaxSplits = 8

  /** Resolve the path scans of `dir/name.parquet` should read: the
    * session's N-way split copy for small single-file fact tables,
    * the original path otherwise (guard skipped or write failed —
    * both logged). Writing is memoized per (session, dir, name) in
    * [[graft.core.Cache.memo]], so a racing first touch waits for the
    * one copy. */
  def path(spark: SparkSession, dir: String, name: String): String = {
    val raw = s"$dir/$name.parquet"
    if (!FactTables.contains(name)) raw
    else graft.core.Cache.memo(spark, "Relayout.path", s"$dir/$name")(
      build(spark, dir, name, raw))
  }

  private def build(spark: SparkSession, dir: String, name: String,
                    raw: String): String = {
    val f = new java.io.File(raw)
    if (!f.exists()) return raw
    val maxBytes = spark.conf.getOption("spark.graft.relayout.max.bytes")
      .fold(1L << 30)(_.toLong)
    val splits = math.min(spark.sparkContext.defaultParallelism, MaxSplits)
    // the scale guard: a table that is already big or already multi-
    // file scans wide natively — relayout would only burn ingest I/O
    if (sizeOf(f) > maxBytes || fileCount(f) >= math.max(2, splits / 2))
      return raw
    try {
      val base = graft.core.Cache.sessionDir(spark, "relayout")
      val out = s"$base/${DialectFixtures.leaf(dir)}/$name"
      spark.read.parquet(raw)
        .repartition(splits)
        .write.mode("overwrite").parquet(out)
      out
    } catch {
      case e: Throwable =>
        System.err.println(
          s"[relayout] $name: split copy failed (${e.getMessage}); " +
            "reading the original single-row-group file")
        raw
    }
  }

  /** Force the session's split copies (Bench bills this as its own
    * `_shared:relayout` component so the first consuming query's cold
    * number is about the query, not the layout write). */
  def warm(spark: SparkSession, dir: String): Unit =
    FactTables.foreach(path(spark, dir, _))
}
