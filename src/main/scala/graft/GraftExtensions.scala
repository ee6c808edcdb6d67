package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import graft.expr.{FixedDotExpr, PortableHashExpr, SimhashAgg, TopKAgg}

/** The only way the engine's native SQL functions reach a session:
  * inject them through configuration —
  *
  * {{{
  * spark-submit --conf spark.sql.extensions=graft.GraftExtensions …
  * }}}
  *
  * — the standard way a Spark library ships catalog surface (no code
  * change in the host application; functions resolve in plain SQL and
  * through `call_function`). `spark.sql.extensions` is a static conf:
  * it must be set before the SparkContext starts, and every session of
  * that context (`newSession`, streaming clones) then carries the
  * functions. [[graft.core.Tuning.SessionDefaults]] sets it, so every
  * session built through [[graft.core.Tuning]] has all six.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  private def inject(ext: SparkSessionExtensions, name: String,
                     cls: Class[_])(build: Seq[Expression] => Expression): Unit =
    ext.injectFunction(
      (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build))

  override def apply(ext: SparkSessionExtensions): Unit = {
    inject(ext, "graft_hash", classOf[PortableHashExpr])(
      exprs => PortableHashExpr(exprs.head))
    inject(ext, "graft_fixed_dot", classOf[FixedDotExpr])(
      exprs => FixedDotExpr(exprs.head, exprs(1)))
    // Spark's own Bloom build/probe expressions (the machinery behind
    // its runtime row-level filters) are registry-internal — not
    // resolvable from SQL — so surface them here. Build:
    // graft_bloom_agg(xxhash64(col), estimatedItems, numBits) → binary;
    // probe: graft_might_contain(filterBinary, xxhash64(col)). Both
    // are native codegen expressions — no Scala UDF on the hot path.
    inject(ext, "graft_bloom_agg", classOf[BloomFilterAggregate])(
      exprs => new BloomFilterAggregate(exprs(0), exprs(1), exprs(2))
        .toAggregateExpression())
    inject(ext, "graft_might_contain", classOf[BloomFilterMightContain])(
      exprs => BloomFilterMightContain(exprs(0), exprs(1)))
    // Sort-free exact per-group top-k (TopKAggExpr scaladoc): the
    // ranking-window replacement for the similarity family's K cut.
    inject(ext, "graft_topk", classOf[TopKAgg])(
      exprs => TopKAgg(exprs(0), exprs(1), exprs(2), exprs(3))
        .toAggregateExpression())
    // One-buffer simhash bit-sum aggregate (SimhashAggExpr scaladoc),
    // as wide as the dedup signature it builds.
    inject(ext, "graft_simhash", classOf[SimhashAgg])(
      exprs => SimhashAgg(exprs.head, graft.ext.Dedup.SimhashBits)
        .toAggregateExpression())
  }
}
