package graft.core

import org.apache.spark.sql.SparkSession

/** Session-bootstrap tuning confs — set ONCE at session construction,
  * where the tradeoff is visible, instead of mutated mid-query from
  * operator code (round-14 verdict #4: `Ranking.topKAgg` used to raise
  * the ObjectHashAggregate fallback threshold session-globally as a
  * side effect of BUILDING a lazy plan, which silently changed every
  * later ObjectHashAggregate in the session).
  *
  * Each entry documents its own blast radius:
  *
  *  - `spark.sql.objectHashAggregate.sortBased.fallbackThreshold` =
  *    16M (default 128): ObjectHashAggregate switches to SORT-BASED
  *    aggregation after this many distinct keys per task — the sort
  *    is exactly what the bounded-heap top-k path
  *    ([[graft.core.Ranking.topKAgg]], [[graft.expr.TopKAgg]]) exists
  *    to avoid. Raising it keeps hash buffers for up to 16M keys per
  *    task for EVERY typed aggregate in the session, not just top-k.
  *    Budget: the largest buffer this engine registers is
  *    TopKBuffer(10) ≈ 0.4 KB, so a worst-case 16M-key task map is a
  *    few GB on the 90g gate heap and a few hundred MB at bench
  *    shapes; on a real cluster rows-per-task shrink with executor
  *    count. Correctness does NOT depend on the conf: the sort-based
  *    fallback is row-identical (ExprSpec proves it by forcing the
  *    threshold below the group count), only slower.
  *
  *  - `spark.sql.legacy.parquet.nanosAsLong` = true: some rounds'
  *    events.parquet shipped TIMESTAMP(NANOS), which Spark 4 refuses
  *    natively (PARQUET_TYPE_ILLEGAL); the flag reads the column as
  *    LONG and [[graft.io.Sources.normalizeEventTs]] lands it on
  *    µs-precision TimestampType. "true" is the only workable value
  *    for this corpus (without it the read FAILS, nothing degrades),
  *    so the reader keeps an idempotent fail-safe `set` for sessions
  *    built outside these entry points.
  */
object Tuning {
  val SessionDefaults: Seq[(String, String)] = Seq(
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
      -> "16777216",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    //  - `spark.sql.codegen.hugeMethodLimit` = 8000 (default 65535):
    //    HotSpot refuses to JIT-compile any method above 8000
    //    bytecodes (-XX:HugeMethodLimit, not configurable), so a
    //    whole-stage-codegen method between 8000 and 65535 bytecodes
    //    runs INTERPRETED forever. The fused 11-aggregate pair-moment
    //    build (since split) generated exactly such a method: measured
    //    17.0 s at sf0.1 under the default vs 5.1 s with the limit at 8000
    //    (Spark falls back to non-wholestage execution for that one
    //    stage, whose smaller per-expression methods all JIT). 8000
    //    matches the JVM's own limit, so the only stages affected are
    //    those that could never be JIT-compiled anyway — execution
    //    semantics are unchanged, and the setting is host-independent
    //    (the bytecode limit is a HotSpot constant, identical on any
    //    cluster JVM). r16 optimization round, guide §4.
    "spark.sql.codegen.hugeMethodLimit" -> "8000",
    //  - `spark.buffer.pageSize` = 2m (default heap / cores / 16,
    //    rounded up to a power of two: 64 MB under a 7g heap on 4
    //    cores): the Tungsten page size bounds every sort,
    //    hash-aggregate and shuffle-sort page, plus each deserialized
    //    broadcast relation — `UnsafeHashedRelation` rebuilds a
    //    multi-column-key broadcast as a `BytesToBytesMap` over whole
    //    pages, so a 10-row build side held one 64 MB `long[]`, and a
    //    persisted artifact's cached plan keeps its broadcasts
    //    reachable for the session (measured at sf0.01, 4 cores, 7g:
    //    the llm_sql bench session's live heap after full GC fell
    //    from 1482 MB to 222 MB). A record larger than a page gets a
    //    page of its own, and 8192 pages per task still address
    //    16 GB, so no operator loses capacity; page size never
    //    changes a result, only how memory is carved. It is read
    //    when the SparkContext's memory manager is built, so it must
    //    be set here, on the builder — a later `conf.set` is ignored.
    "spark.buffer.pageSize" -> "2m",
    //  - `spark.sql.codegen.cache.maxEntries` = 384 (default 100): the
    //    number of compiled whole-stage and expression classes Spark
    //    keeps. The cache is `CodeGenerator`'s JVM-wide static, sized
    //    once when the first session in the JVM generates code, so
    //    like the page size it only takes effect here, on the
    //    builder. It is a Guava LRU cache split into 4 segments, so
    //    384 keeps 96 classes per segment. The cf_batch serving loop
    //    touches 225 distinct classes (72 in the `sim` build, ~150 in
    //    the cold pass): at 100 each warm round recompiled 121 of
    //    them, at 384 it recompiles 0-1 (CodegenCacheSpec holds a
    //    rerun to zero compiles). 320 still overflowed one 80-entry
    //    segment (4-5 recompiles a round); 4096 kept all ~500 llm_sql
    //    classes, 408 of them from artifacts that run once, and raised
    //    its live heap 5.4 %. Each kept entry costs about 30 KB of
    //    heap for its source and bytecode (llm_sql: +8 MB). Which
    //    classes stay cached never changes a result, only whether a
    //    query pays to compile again.
    "spark.sql.codegen.cache.maxEntries" -> "384",
    //  - `spark.sql.ui.retainedExecutions` = 10, `spark.ui.retainedJobs`
    //    = 10, `spark.ui.retainedStages` = 10 and
    //    `spark.ui.retainedTasks` = 100 (defaults 1000, 1000, 1000 and
    //    100000): how much finished work Spark's status store keeps.
    //    The listeners that feed it run whether or not the UI is on,
    //    and each kept SQL execution holds its plan description and
    //    the metric list of every plan node. Measured at sf0.01 on 4
    //    cores, the caps cut the llm_sql bench session's live heap by
    //    about 8 MB (113.7 → 105.2 MB), and the cf_batch one's by 4 MB.
    //    The UI is off and nothing in the engine reads the store (the
    //    perfbench tracer and the tests use their own listeners), so
    //    the caps only drop history no one looks at; a session that
    //    turns the UI on sees the last 10 executions. Running work is
    //    never dropped, and no result depends on these. The status
    //    listeners read them when the context starts, so they only
    //    work here, on the builder.
    "spark.sql.ui.retainedExecutions" -> "10",
    "spark.ui.retainedJobs" -> "10",
    "spark.ui.retainedStages" -> "10",
    "spark.ui.retainedTasks" -> "100",
    //  - `spark.sql.extensions` = graft.GraftExtensions: the engine's
    //    six native SQL functions (graft_hash, graft_fixed_dot,
    //    graft_bloom_agg, graft_might_contain, graft_topk,
    //    graft_simhash) are injected into every session of the
    //    context; operators call them without registering anything.
    //    A static conf, so like the page size it only works here.
    "spark.sql.extensions" -> "graft.GraftExtensions")

  /** Fold the defaults into a builder (every session — [[builder]]'s
    * and the perfbench harness's own — applies this, so no operator
    * needs a session mutation). */
  def defaults(b: SparkSession.Builder): SparkSession.Builder =
    SessionDefaults.foldLeft(b) { case (acc, (k, v)) => acc.config(k, v) }

  /** The cores a [[builder]] session runs on: `SPARK_GRAFT_CPUS` when
    * set, else every core the JVM sees. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The one session builder behind every graft main and the test
    * session: [[defaults]] on `local[cpus]` with one shuffle partition
    * per core, UTC session time and no UI. Callers add their own confs
    * and call `getOrCreate()`. */
  def builder(): SparkSession.Builder =
    defaults(SparkSession.builder().master(s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
}
