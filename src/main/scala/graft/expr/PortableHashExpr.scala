package graft.expr

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for [[graft.core.PortableHash]].
  *
  * The composed-Column form builds `rpad` + four `substring`/`ascii`
  * nodes + arithmetic per call — 8 allocations-ish per string per
  * band-hash. This expression computes the identical value in one pass
  * and participates in whole-stage codegen via [[doGenCode]] (a single
  * static call, no codegen fallback), which is the preference order
  * the engine follows: built-ins first, then a native Expression —
  * never a Scala UDF (opaque to Catalyst, breaks codegen).
  *
  * Bit-compatibility contract: `PortableHashImpl.compute` mirrors the
  * Column formula exactly (same positions, same char semantics as
  * Spark's `substring`/`ascii`/`length`, same modulus), so the DuckDB
  * oracle twins — which spell out the arithmetic — keep matching.
  * ExprSpec asserts equality against the composed form over corpus
  * samples.
  */
case class PortableHashExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_hash"

  override def nullSafeEval(input: Any): Any =
    PortableHashImpl.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expr.PortableHashImpl.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PortableHashImpl {
  /** Single-pass twin of PortableHash.h (see its scaladoc for the
    * formula, incl. the rpad-truncation and position-guard rules).
    *
    * Character positions are CODE POINTS: Spark's `length`/`substring`
    * /`ascii` (and DuckDB's) count code points, while Java's
    * `charAt`/`length` count UTF-16 units — a charAt-based twin
    * diverges on surrogate-pair (astral-plane) text such as emoji
    * (caught by ExprSpec's unicode test). The no-surrogate fast path
    * keeps ASCII/BMP hashing allocation- and scan-free. */
  def compute(u: UTF8String): Int = {
    val s = u.toString
    val n16 = s.length
    val n = s.codePointCount(0, n16)
    // cpAt(k): code point at 0-based code-point index k
    val cpAt: Int => Int =
      if (n == n16) k => s.charAt(k).toInt
      else k => s.codePointAt(s.offsetByCodePoints(0, k))
    // t = rpad(s,5,'#'): exactly 5 chars — truncates when longer
    @inline def t(i: Int): Int =
      if (i < n && i < 5) cpAt(i) else '#'.toInt
    // ascii(substr(s, max(p,1), 1)), 0 when out of range (empty substr)
    @inline def tail(p: Int): Int = {
      val q = math.max(p, 1)
      if (q <= n) cpAt(q - 1) else 0
    }
    // 64-bit accumulation (n·5381 overflows Int past ~400 K chars and
    // the wrap would diverge from the Column/SQL twins, which are Long)
    val h = t(0) * 8191L + t(1) * 127L + t(3) * 31L +
      tail(n - 1) * 7L + tail(n) * 3L + n * 5381L
    (h % 1000003L).toInt
  }
}
