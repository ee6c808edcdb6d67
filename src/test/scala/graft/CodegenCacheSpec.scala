package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._

/** A warm query must not recompile its generated code. Spark keeps
  * compiled classes in one JVM-wide LRU cache whose size is set by
  * `spark.sql.codegen.cache.maxEntries` in `Tuning.SessionDefaults`;
  * a serving loop whose working set exceeds it recompiles every query
  * on every round. Compiles are counted with Spark's own counter, one
  * count per class compiled. */
class CodegenCacheSpec extends SparkSpec {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def compilesOf(run: => Unit): Long = {
    val before = compiles
    run
    compiles - before
  }

  test("a query rerun after 160 other generated classes compiles nothing") {
    // several codegen stages (partial and final aggregate, sort); the
    // odd literal keeps its classes out of every other spec's cache
    def query() = spark.range(2000)
      .select((col("id") * 7919L % 97L).as("k"), col("id"))
      .groupBy(col("k")).agg(sum(col("id")).as("s"), count(lit(1)).as("n"))
      .orderBy(col("k"))
      .collect()
    val first = compilesOf(query())
    assert(first > 0, "the first run must compile its classes")

    // one new class per projection: the literal is inlined in the code
    var filler = 0L
    var i = 0
    while (filler < 160 && i < 400) {
      i += 1
      filler += compilesOf(
        spark.range(4).select((col("id") + lit(1000003L * i)).as("v")).collect())
    }
    assert(filler >= 120 && filler <= 200, s"filler compiled $filler classes")

    val rerun = compilesOf(query())
    assert(rerun === 0L,
      s"the rerun recompiled $rerun of the $first classes the first run compiled")
  }
}
