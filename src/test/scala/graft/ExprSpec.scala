package graft

import org.apache.spark.sql.functions._
import graft.core.PortableHash

/** The native hash expression must be bit-identical to the composed
  * Column formula (whose arithmetic the DuckDB oracles spell out). */
class ExprSpec extends SparkSpec {
  import spark.implicits._

  test("native graft_hash equals the composed formula on corpus shingles") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val ws = split(col("text"), " ")
    val sh = docs.where(size(ws) >= 3).select(explode(
      transform(sequence(lit(1), size(ws) - 2),
        i => concat_ws(" ", element_at(ws, i), element_at(ws, i + 1),
          element_at(ws, i + 2)))).as("s"))
    val mismatches = sh.select(
      call_function("graft_hash", col("s")).as("fast"),
      PortableHash.h(col("s")).as("composed"))
      .where(col("fast") =!= col("composed")).count()
    assert(mismatches === 0L)
  }

  test("graft_simhash equals the composed 32-sum declarative form " +
    "on the documents corpus") {
    val bits = graft.ext.Dedup.SimhashBits
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val words = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("w"))
      .select(col("doc_id"), call_function("graft_hash", col("w")).as("h"))
    // the pre-r17 declarative form, verbatim: 32 per-bit ±1 sums then
    // the sign-composed signature
    val bitSums = (0 until bits).map(j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(lit(1)) === 1, lit(1L))
        .otherwise(lit(-1L))).as(s"s$j"))
    val sums = words.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
    val sim = (0 until bits).map(j =>
      when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
    val composed = sums.select(col("doc_id"), sim.as("simhash_c"))
    val fused = words.groupBy(col("doc_id"))
      .agg(call_function("graft_simhash", col("h")).as("simhash_f"))
    val mismatches = composed.join(fused, Seq("doc_id"), "full_outer")
      .where(col("simhash_c").isNull || col("simhash_f").isNull ||
        col("simhash_c") =!= col("simhash_f")).count()
    assert(mismatches === 0L)
  }

  test("native graft_hash equals the composed formula on edge strings") {
    val edge = Seq("", "a", "ab", "abc", "abcd", "abcde", "#", "     ",
      "a a a", "zzzzzzzzzzzzzzzzzzzzzzzz").toDF("s")
    val bad = edge.select(
      call_function("graft_hash", col("s")).as("fast"),
      PortableHash.h(col("s")).as("composed"))
      .where(col("fast") =!= col("composed")).collect()
    assert(bad.isEmpty, bad.mkString(","))
  }

  test("graft_hash accumulates in 64-bit: 1 MB strings agree across twins") {
    // length·5381 alone exceeds 2^31 here — an Int-accumulating twin
    // would wrap (differently from DuckDB) and diverge
    val big = Seq("x" * 1_000_000, "ab" * 300_000, "q" * 399_000).toDF("s")
    val rows = big.select(col("s"),
      call_function("graft_hash", col("s")).as("fast"),
      PortableHash.h(col("s")).as("composed")).collect()
    rows.foreach { r =>
      val s = r.getString(0)
      // the formula in Long math, straight off the scaladoc
      val expected = ((s(0).toInt * 8191L + s(1) * 127L + s(3) * 31L
        + s(s.length - 2) * 7L + s(s.length - 1) * 3L
        + s.length * 5381L) % 1000003L).toInt
      assert(r.getInt(1) === expected, s"len=${s.length}")
      assert(r.getInt(2) === expected, s"len=${s.length}")
    }
  }

  test("graft_hash twins agree on non-ASCII and astral-plane strings") {
    // BMP accents/CJK and surrogate-pair emoji: Java charAt counts
    // UTF-16 units while Spark length()/substring() count code points
    val uni = Seq("é", "café", "中文abc",
      "😀", "a😀b", "😀😁xyz",
      "ab😀").toDF("s")
    val bad = uni.select(col("s"),
      call_function("graft_hash", col("s")).as("fast"),
      PortableHash.h(col("s")).as("composed"))
      .where(col("fast") =!= col("composed")).collect()
    assert(bad.isEmpty, bad.mkString(","))
  }

  test("native graft_fixed_dot equals the HOF formula on real embeddings") {
    val e = spark.read.parquet(s"$sf001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val b = e.select(col("vec_id").as("v2"), col("embedding").as("emb2"))
    // float×float and float×double(centroid-shaped) operand mixes
    val pairs = e.crossJoin(b).where(col("vec_id") % 17 === col("v2") % 23)
      .withColumn("embd", transform(col("emb2"), _.cast("double")))
    val mism = pairs.select(
      graft.ext.VectorSearch.fixedDot(col("embedding"), col("emb2")).as("nat"),
      graft.ext.VectorSearch.fixedDotHof(col("embedding"), col("emb2")).as("hof"),
      graft.ext.VectorSearch.fixedDot(col("embedding"), col("embd")).as("natd"),
      graft.ext.VectorSearch.fixedDotHof(col("embedding"), col("embd")).as("hofd"))
      .where(col("nat") =!= col("hof") || col("natd") =!= col("hofd")).count()
    assert(mism === 0L)
  }

  test("graft_fixed_dot handles double arrays (dequantized vectors)") {
    // sqRerank feeds array<double> reconstructions through the native
    // expression; pin the type path and the exact fixed-point result
    val r = Seq((Array(0.25, -1.5, 3.0), Array(2.0, 0.5, -0.125)))
      .toDF("a", "b")
      .select(
        graft.ext.VectorSearch.fixedDot(col("a"), col("b")).as("native"),
        graft.ext.VectorSearch.fixedDotHof(col("a"), col("b")).as("hof"))
      .collect()(0)
    assert(r.getDouble(0) === r.getDouble(1))
    // all terms exactly representable: 0.5 - 0.75 - 0.375
    assert(r.getDouble(0) === -0.625)
  }

  test("GraftExtensions injects the native functions via spark.sql.extensions") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    // nothing registers anything: the functions must come from the
    // spark.sql.extensions entry in Tuning.SessionDefaults, so a new
    // session has all six and queries never re-register one
    val s2 = spark.newSession()
    val bloom = s2.sql("SELECT graft_bloom_agg(xxhash64(v), 3L, 1024L) " +
      "FROM VALUES ('a'), ('b'), ('c') AS t(v)").head().getAs[Array[Byte]](0)
    val hex = bloom.map(b => f"${b & 0xff}%02X").mkString
    val r = s2.sql(
      s"""SELECT graft_hash('spark'),
         |       graft_fixed_dot(array(CAST(1.0 AS FLOAT)),
         |                       array(CAST(2.0 AS FLOAT))),
         |       graft_might_contain(X'$hex', xxhash64('b'))""".stripMargin)
      .head()
    assert(r.getInt(0) === graft.expr.PortableHashImpl.compute(
      org.apache.spark.unsafe.types.UTF8String.fromString("spark")))
    assert(r.getLong(1) === 2000000000000L) // 1·2 in 1e-12 units
    assert(r.getBoolean(2))
    // (score desc, tie asc) top-2 per group, a short group kept whole
    val tk = s2.sql(
      """SELECT g, graft_topk(2, score, tie, extra) AS tk
        |FROM VALUES (1, 0.5D, 3L, 30L), (1, 0.9D, 1L, 10L),
        |            (1, 0.5D, 2L, 20L), (2, 0.1D, 7L, 70L)
        |  AS t(g, score, tie, extra)
        |GROUP BY g""".stripMargin)
      .collect().map(row => row.getInt(0) -> row.getSeq[org.apache.spark.sql.Row](1)
        .map(e => (e.getDouble(0), e.getLong(1), e.getLong(2)))).toMap
    assert(tk === Map(1 -> Seq((0.9, 1L, 10L), (0.5, 2L, 20L)),
      2 -> Seq((0.1, 7L, 70L))))
    // bit j set iff more hashes have it than not; h = -1 sets every bit
    // of a Dedup.SimhashBits-wide signature
    val sh = s2.sql(
      """SELECT d, graft_simhash(h) FROM VALUES (1, 1), (1, 3), (2, 2),
        |  (3, -1) AS t(d, h) GROUP BY d""".stripMargin)
      .collect().map(row => row.getInt(0) -> row.getLong(1)).toMap
    assert(sh === Map(1 -> 1L, 2 -> 2L,
      3 -> ((1L << graft.ext.Dedup.SimhashBits) - 1)))

    val registry = LogManager.getLogger(
      "org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry")
      .asInstanceOf[Logger]
    val replaced = new java.util.concurrent.atomic.AtomicInteger(0)
    val appender = new AbstractAppender("graft-replaced", null, null,
        true, org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getMessage.getFormattedMessage
            .contains("replaced a previously registered function"))
          replaced.incrementAndGet()
    }
    appender.start()
    registry.addAppender(appender)
    try {
      // the registry's warnings reach the appender
      assert(registry.isEnabled(Level.WARN))
      Seq("q_simhash_near_dup", "q_ann_ivf").foreach(q =>
        SparkEntry.queries(q)(s2, sf001).count())
    } finally {
      registry.removeAppender(appender)
      appender.stop()
    }
    assert(replaced.get === 0)
  }

  test("graft_hash is callable from SQL after registration") {
    val v = spark.sql("SELECT graft_hash('spark')").collect()(0).getInt(0)
    assert(v >= 0 && v < PortableHash.M)
  }

  test("topKAgg equals the window topK row-for-row on a corpus frame") {
    // the sort-free ranking path (r13 verdict #1) must be
    // row-identical to the window form it replaces, including the
    // (score desc, tie asc) tie order and the <k-group edge
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
      .select((col("doc_id") % 37).as("g"), col("doc_id").as("tie"),
        // r4-style rounded score with deliberate collisions so tie
        // order is exercised, plus an extra payload column
        (floor((col("doc_id") % 97) / 3) / 10.0).as("score"),
        (col("doc_id") * 7 % 1000).as("extra"))
    val viaAgg = graft.core.Ranking
      .topKAgg(docs, "g", col("score"), col("tie"), col("extra"), 5)
      .select(col("g"), col("tie"), col("score"), col("extra"), col("rn"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3), r.getLong(4))).toSet
    val viaWin = graft.core.Ranking
      .topK(docs, "g", col("score"), "tie", 5)
      .select(col("g"), col("tie"), col("score"), col("extra"), col("rn"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(viaAgg === viaWin)
    assert(viaAgg.nonEmpty)
  }

  test("topKAgg plans as a hash aggregate with no sort below the exchange") {
    val df = spark.range(1000).select(
      (col("id") % 13).as("g"), col("id").as("tie"),
      (col("id") % 31).cast("double").as("score"), lit(0L).as("extra"))
    val plan = graft.core.Ranking
      .topKAgg(df, "g", col("score"), col("tie"), col("extra"), 3)
      .queryExecution.executedPlan.toString
    // the whole point of the path: ObjectHashAggregate partial/final,
    // no Sort and no Window over the ranking input
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(!plan.contains("WindowGroupLimit"), plan)
    assert(!plan.toLowerCase.contains("sort ["), plan)
  }

  test("topKAgg under a hot group: one key with 2M rows stays exact " +
    "and bounded (the skew shape a ranking window would sort in full)") {
    // a single hot group is the worst case for the window form (one
    // partition sorts everything); the heap path must stay O(n·log k)
    // with a k-sized buffer and return the exact maxima
    val df = spark.range(2000000).select(
      lit(0L).as("g"), col("id").as("tie"),
      (col("id") % 1000).cast("double").as("score"), col("id").as("extra"))
    val got = graft.core.Ranking
      .topKAgg(df, "g", col("score"), col("tie"), col("extra"), 4)
      .orderBy(col("rn")).collect()
      .map(r => (r.getDouble(2), r.getLong(1), r.getLong(4)))
    // exact answer: score 999.0 at the four SMALLEST ties having
    // id % 1000 == 999 → ids 999, 1999, 2999, 3999; rn 1..4
    assert(got.toSeq === Seq((999.0, 999L, 1L), (999.0, 1999L, 2L),
      (999.0, 2999L, 3L), (999.0, 3999L, 4L)))
  }

  test("topKAgg past the sort-based fallback threshold stays " +
    "row-identical, and builds without mutating session conf") {
    // Round-14 verdict #4: the 16M fallback threshold moved from a
    // topKAgg side effect to session bootstrap (Tuning). Two claims
    // to prove: (1) building/running topKAgg leaves the session conf
    // untouched; (2) correctness never depended on the raised
    // threshold — with it forced BELOW the distinct-key count, every
    // task takes ObjectHashAggregate's sort-based fallback path and
    // the rows are still identical to the window form.
    val key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val prev = spark.conf.get(key)
    val df = spark.range(20000).select(
      (col("id") % 500).as("g"), col("id").as("tie"),
      (col("id") % 41).cast("double").as("score"),
      (col("id") % 7).as("extra"))
    try {
      spark.conf.set(key, "4") // 500 groups over 4 partitions >> 4
      val viaAgg = graft.core.Ranking
        .topKAgg(df, "g", col("score"), col("tie"), col("extra"), 3)
      assert(spark.conf.get(key) === "4",
        "topKAgg must not touch session conf")
      val gotAgg = viaAgg
        .select(col("g"), col("tie"), col("score"), col("extra"), col("rn"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getLong(3), r.getLong(4))).toSet
      assert(spark.conf.get(key) === "4",
        "topKAgg execution must not touch session conf")
      val gotWin = graft.core.Ranking
        .topK(df, "g", col("score"), "tie", 3)
        .select(col("g"), col("tie"), col("score"), col("extra"), col("rn"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getLong(3), r.getLong(4))).toSet
      assert(gotAgg === gotWin)
      assert(gotAgg.size === 1500) // 500 groups × k=3, all groups full
    } finally spark.conf.set(key, prev)
  }

  test("TopKBuffer: eviction, ties, merge, and serde round-trip") {
    val b = new graft.expr.TopKBuffer(3)
    b.insert(1.0, 10L, 1L); b.insert(2.0, 9L, 2L); b.insert(2.0, 4L, 3L)
    b.insert(0.5, 1L, 4L)              // worse than all three: rejected
    assert(b.n === 3 && b.s(0) === 2.0 && b.t(0) === 4L)
    b.insert(3.0, 99L, 5L)             // evicts the (1.0, 10) tail
    assert((0 until b.n).map(b.t(_)) === Seq(99L, 4L, 9L))
    val o = new graft.expr.TopKBuffer(3)
    o.insert(2.5, 7L, 6L); o.insert(2.0, 3L, 7L)
    b.mergeFrom(o)                     // (2.0,3) beats (2.0,4) on tie
    assert((0 until b.n).map(b.t(_)) === Seq(99L, 7L, 3L))
    val agg = graft.expr.TopKAgg(
      org.apache.spark.sql.catalyst.expressions.Literal(3),
      org.apache.spark.sql.catalyst.expressions.Literal(0.0),
      org.apache.spark.sql.catalyst.expressions.Literal(0L),
      org.apache.spark.sql.catalyst.expressions.Literal(0L))
    val rt = agg.deserialize(agg.serialize(b))
    assert(rt.n === b.n &&
      (0 until rt.n).forall(i => rt.s(i) == b.s(i) && rt.t(i) == b.t(i)
        && rt.e(i) == b.e(i)))
  }
}
