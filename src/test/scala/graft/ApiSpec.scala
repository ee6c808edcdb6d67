package graft

import org.apache.spark.sql.functions._
import graft.core.Skew
import graft.ext.Recommender
import graft.io.Bucketing

/** The user-facing surfaces: SQL registration, typed adapters, ALS,
  * bucketing (shuffle elimination), salting (semantic no-op). */
class ApiSpec extends SparkSpec {

  test("every registered query has an oracle (no rows-only entries)") {
    // The correctness contract: the driver hash-checks exactly the
    // queries/oracleSql intersection. Since round 5 the sets are
    // identical — a new query without an oracle (or a typo'd key on
    // either side) silently downgrades to a rows-only check, which
    // this guard turns into a test failure instead.
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q diff o) === Set.empty, s"queries without oracle: ${q diff o}")
    assert((o diff q) === Set.empty, s"oracles without query: ${o diff q}")
  }

  test("sibling registration objects expose non-empty maps " +
    "(init-order safety: ExtQueries' maps are lazy, so a first touch " +
    "of a sibling can never re-enter a half-initialized ExtQueries)") {
    assert(graft.ext.ExtServingOracles.oracles.nonEmpty)
    assert(graft.ext.ExtCurationQueries.queries.nonEmpty)
    assert(graft.ext.ExtServingQueries.queries.nonEmpty)
  }

  test("registerTables makes the inventory SQL-addressable") {
    Graft.registerTables(spark, sf001)
    val n = spark.sql(
      """SELECT count(*) FROM ratings r
        |JOIN customer c ON r.user_id = c.c_custkey""".stripMargin)
      .collect()(0).getLong(0)
    assert(n > 0)
    assert(spark.sql("SELECT count(*) FROM lineitem").collect()(0).getLong(0) > 5000)
  }

  test("typed adapters: ratingsDS and similaritiesDS round-trip") {
    val r = Graft.ratingsDS(spark, sf001)
    assert(r.head().rating > 0.0)
    val s = Graft.similaritiesDS(spark, sf001)
    val row = s.head()
    assert(row.item_x < row.item_y && row.n >= 1)
  }

  test("ALS: seeded fit produces k recs per user with valid rank") {
    val recs = Recommender.recommendTopK(
      Recommender.fit(toyRatingsNumeric, rank = 4, maxIter = 3), 2)
    val byUser = recs.collect().groupBy(_.getLong(0))
    assert(byUser.nonEmpty)
    byUser.values.foreach { rs =>
      assert(rs.length <= 2)
      assert(rs.map(_.getLong(3)).sorted.toSeq === (1L to rs.length))
    }
  }

  test("ALS auto-routes string ids through the dictionary") {
    // the reference accepts arbitrary string ids everywhere; fit must
    // not crash on them (r1 gap: int-cast produced nulls/failures)
    val fitted = Recommender.fit(toyRatings, rank = 2, maxIter = 2)
    assert(fitted.userDict.isDefined && fitted.itemDict.isDefined)
    val recs = Recommender.recommendTopK(fitted, 2).collect()
    assert(recs.nonEmpty)
    assert(recs.map(_.getString(0)).toSet.subsetOf(Set("u1", "u2", "u3", "u4")))
    assert(recs.map(_.getString(1)).toSet.subsetOf(Set("A", "B", "C")))
    recs.groupBy(_.getString(0)).values.foreach(rs =>
      assert(rs.map(_.getLong(3)).sorted.toSeq === (1L to rs.length)))
  }

  test("ALS auto-routes out-of-int-range longs through the dictionary") {
    val shifted = toyRatingsNumeric
      .withColumn("user_id", col("user_id") + lit(10_000_000_000L))
    val fitted = Recommender.fit(shifted, rank = 2, maxIter = 2)
    assert(fitted.userDict.isDefined && fitted.itemDict.isEmpty)
    val recs = Recommender.recommendTopK(fitted, 2).collect()
    assert(recs.nonEmpty)
    assert(recs.map(_.getLong(0)).forall(_ > 10_000_000_000L))
  }

  test("bucketed self-join on the bucket key plans without a shuffle") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // in-memory catalog forgets tables between JVMs but the warehouse
      // dir persists — clear the stale location
      spark.sql("DROP TABLE IF EXISTS r_bucketed")
      val loc = new java.io.File("/tmp/graft-warehouse/r_bucketed")
      if (loc.exists()) {
        import scala.reflect.io.Directory
        new Directory(loc).deleteRecursively()
      }
      Bucketing.writeBucketed(toyRatingsNumeric, "r_bucketed", 4,
        "user_id", Seq("user_id"))
      val t1 = spark.table("r_bucketed")
      val t2 = spark.table("r_bucketed")
        .select(col("user_id"), col("item_id").as("item_y"))
      val joined = t1.join(t2, Seq("user_id"))
      // executedPlan, not sparkPlan: EnsureRequirements only inserts
      // Exchange nodes in the executed plan
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join should not shuffle:\n$plan")
      assert(joined.count() > 0)
    } finally
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("pair moments over materializeOnce plan a single Exchange (the group-by)") {
    // default confs: AQE on, default broadcast threshold — the hinted
    // sort-merge join keeps a small table from becoming a broadcast
    val bucketed = Bucketing.materializeOnce(spark, "ratings_plan", sf001,
      by = "user_id", sortCols = Seq("user_id", "item_id"))(
      graft.io.Sources.ratings(spark, sf001))
    // memoized: second call returns the same table without rewriting
    val again = Bucketing.materializeOnce(spark, "ratings_plan", sf001,
      by = "user_id")(fail("builder must not run twice"))
    val m = graft.core.Moments.pairMoments(bucketed)
    val plan = m.queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges == 1,
      s"self-join side should be exchange-free, only the pair group-by shuffles:\n$plan")
    // collect runs this plan, so AQE's run-time re-plan shows too
    assert(m.collect().nonEmpty && again.count() == bucketed.count())
    val adaptive = m.queryExecution.executedPlan.toString
    assert(!adaptive.contains("Broadcast"), adaptive)
  }

  test("the session pins a 2 MiB Tungsten page, so a persisted frame's " +
    "broadcast relation stays small") {
    import spark.implicits._
    val memory = { spark.sparkContext; org.apache.spark.SparkEnv.get }
      .memoryManager
    // Read when the SparkContext's memory manager is built: a default
    // applied after the context exists would leave heap/cores/16 here.
    assert(memory.pageSizeBytes == 2L * 1024 * 1024)
    // The memory manager's own count: a broadcast value is stored
    // without telling the block-manager master, so it never shows in
    // `sc.getExecutorMemoryStatus`.
    def storageUsed: Long = memory.storageMemoryUsed
    // Two LONG keys (128 bits) cannot be packed into one long key, so
    // the build side is an UnsafeHashedRelation: a BytesToBytesMap
    // that takes whole pages however few rows it holds.
    val dim = (0L until 10L).map(i => (i, i * 7, s"d$i"))
      .toDF("k1", "k2", "label")
    val fact = spark.range(0, 1000).select((col("id") % 10).as("k1"),
      (col("id") % 10 * 7).as("k2"), col("id"))
    val joined = fact.join(broadcast(dim), Seq("k1", "k2"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    val before = storageUsed
    try {
      // the cached plan keeps the broadcast reachable for the session
      joined.persist()
      assert(joined.count() == 1000)
      val grown = storageUsed - before
      assert(grown < 16L * 1024 * 1024,
        s"persisting a 10-row broadcast join grew storage by $grown bytes")
    } finally joined.unpersist(blocking = true)
  }

  test("q_semicolon_protocol plans the 10k cut as TakeOrderedAndProject") {
    val df = SparkEntry.queries("q_semicolon_protocol")(spark, sf001)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"sorted-limit should truncate per partition:\n$plan")
  }

  test("q_profile_columns plans exactly one parquet scan for all metrics") {
    val df = SparkEntry.queries("q_profile_columns")(spark, sf001)
    val plan = df.queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 1,
      s"the 20-metric profile must run as ONE scan, saw $scans:\n$plan")
  }

  test("q_partition_prune reads only the matching event_type partitions") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val df = SparkEntry.queries("q_partition_prune")(spark, sf001)
    // AdaptiveSparkPlanExec is a leaf node — unwrap to reach the scan
    val root = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scan = root.collectFirst {
      case f: FileSourceScanExec => f
    }.getOrElse(fail("no FileSourceScanExec in the plan"))
    assert(scan.partitionFilters.map(_.toString)
        .exists(_.contains("event_type")),
      s"the type filter must bind as a PartitionFilter, got " +
        s"${scan.partitionFilters}")
    // directory-level pruning: 2 of the 5 event_type partitions
    val parts = scan.selectedPartitions.partitionCount
    assert(parts == 2, s"expected 2 pruned partitions, scanned $parts")
    // and no residual data filter on event_type (it never reaches rows)
    assert(!scan.dataFilters.map(_.toString).exists(_.contains("event_type")))
  }

  test("stream gate's incoming side plans no Exchange below the bucket join") {
    // the stateless whole-doc minima must fuse into the scan
    // projection: every operator between the documents scan and the
    // candidate join is a narrow transform (filter/project/generate)
    import graft.ext.Dedup
    import graft.streaming.StreamOps
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val mins = StreamOps.bandMinsWholeDoc(docs)
    val plan = mins.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"whole-doc band minima must be shuffle-free:\n$plan")
    assert(mins.count() > 0)
    // and bit-equal to the groupBy minima over the same corpus (the
    // property the shared oracle CTE depends on), checked at count
    // level here (full bit-equality is StreamingSpec's job)
    assert(mins.count() ===
      Dedup.minhashBandMins(Dedup.shingles(docs)).count())
  }

  test("cdc/histogram/zscore/oov/cogroup invariants at sf0.001") {
    // q_cdc_latest: one row per user, ts is that user's max
    val ev = graft.io.Sources.events(spark, sf001)
      .select(col("user_id"), unix_millis(col("ts")).as("ts_ms"))
    val maxTs = ev.groupBy("user_id").agg(max(col("ts_ms")).as("m"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cdc = SparkEntry.queries("q_cdc_latest")(spark, sf001).collect()
    assert(cdc.map(_.getLong(0)).distinct.length == cdc.length)
    assert(cdc.forall(r => r.getAs[Long]("ts_ms") == maxTs(r.getLong(0))))
    // q_histogram: bins within [0,20), counts cover the table
    val h = SparkEntry.queries("q_histogram")(spark, sf001).collect()
    assert(h.forall(r => r.getLong(0) >= 0 && r.getLong(0) <= 19))
    assert(h.map(_.getAs[Long]("n")).sum ==
      graft.io.Sources.table(spark, sf001, "orders").count())
    // q_anomaly_zscore: sane moments, outliers a strict minority
    val z = SparkEntry.queries("q_anomaly_zscore")(spark, sf001).collect()
    assert(z.nonEmpty && z.forall(r => r.getAs[Double]("std_value") >= 0.0 &&
      r.getAs[Long]("n_outliers") * 10 < r.getAs[Long]("n_events")))
    // q_oov_rate: oov bounded by tokens and a real population
    val o = SparkEntry.queries("q_oov_rate")(spark, sf001).collect()
    assert(o.forall(r => r.getAs[Long]("n_oov") <= r.getAs[Long]("n_tokens")))
    assert(o.exists(_.getAs[Long]("n_oov") > 0))
    // q_cogroup_activity: typed cogroup == untyped full-outer counts
    val cg = SparkEntry.queries("q_cogroup_activity")(spark, sf001)
    val rs = graft.io.Sources.ratings(spark, sf001)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_rated_items"))
    val os = graft.io.Sources.table(spark, sf001, "orders")
      .groupBy(col("o_custkey").as("user_id"))
      .agg(count(lit(1)).as("n_orders"))
    val expect = rs.join(os, Seq("user_id"), "full_outer")
      .select(col("user_id"),
        coalesce(col("n_rated_items"), lit(0L)).as("n_rated_items"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"))
    assert(cg.exceptAll(expect).count() == 0 &&
      expect.exceptAll(cg).count() == 0)
  }

  test("interval/fuzzy/skew invariants at sf0.001") {
    // q_interval_coverage: islands cover ≥ pad each, longest ≤ total,
    // and total per user never exceeds events·pad (intervals can only
    // merge, not grow)
    val ev = graft.io.Sources.events(spark, sf001)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ic = SparkEntry.queries("q_interval_coverage")(spark, sf001)
      .collect()
    assert(ic.nonEmpty &&
      ic.map(_.getLong(0)).distinct.length == ic.length)
    ic.foreach { r =>
      val (u, nIsl, cov, mx) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nIsl >= 1 && cov >= nIsl * 300000L)
      assert(mx >= 300000L && mx <= cov)
      assert(cov <= ev(u) * 300000L)
    }
    // q_fuzzy_join: blocking holds (pairs share the noun), distance
    // within threshold, canonical ordering
    val fj = SparkEntry.queries("q_fuzzy_join")(spark, sf001).collect()
    assert(fj.nonEmpty)
    fj.foreach { r =>
      val (noun, a, b, dist) = (r.getString(0), r.getString(1),
        r.getString(2), r.getLong(3))
      assert(a.split(" ")(1) == noun && b.split(" ")(1) == noun)
      assert(a < b && dist >= 1 && dist <= 3)
      assert(r.getLong(4) >= 1L)
    }
    // q_skew_diagnose: buckets within [0,32), counts cover the table,
    // shares sum to ~100
    val sd = SparkEntry.queries("q_skew_diagnose")(spark, sf001).collect()
    assert(sd.forall(r => r.getLong(0) >= 0 && r.getLong(0) < 32))
    assert(sd.map(_.getAs[Long]("n_rows")).sum ==
      graft.io.Sources.table(spark, sf001, "lineitem").count())
    assert(math.abs(sd.map(_.getAs[Double]("pct")).sum - 100.0) < 0.1)
  }

  test("q_local_supplier_volume plans the star with broadcast dims") {
    // 4 dims broadcast (customer, supplier, nation, region); the only
    // join shuffle candidate is lineitem⋈orders — the Q5 plan a
    // 1000-executor run needs
    val q = SparkEntry.queries("q_local_supplier_volume")(spark, sf001)
    val plan = q.queryExecution.executedPlan.toString
    // at sf0.001 even orders broadcasts (size-based), so >= 4; the
    // invariant is that NO dim join ever becomes a shuffle join
    val nBroadcast = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(nBroadcast >= 4, s"expected >=4 broadcast joins, plan:\n$plan")
    val nShuffleJoin = "SortMergeJoin".r.findAllIn(plan).length +
      "ShuffledHashJoin".r.findAllIn(plan).length
    assert(nShuffleJoin <= 1, s"star dims must not shuffle, plan:\n$plan")
    assert(q.collect().nonEmpty)
  }

  test("q_partition_prune_dynamic injects a runtime partition filter (DPP)") {
    val q = SparkEntry.queries("q_partition_prune_dynamic")(spark, sf001)
    val plan = q.queryExecution.executedPlan.toString.toLowerCase
    assert(plan.contains("dynamicpruning"),
      s"expected a dynamicpruning partition filter in the scan:\n$plan")
    assert(q.collect().nonEmpty)
  }

  test("rolling/sketch/phash family: no cartesian, bounded shapes") {
    // q_rolling_distinct: the 7× fan-out joins the observed-day set
    // via LEFT SEMI and nothing in the family may plan a cartesian —
    // the structural guarantees the 100-TB argument rests on
    val rd = SparkEntry.queries("q_rolling_distinct")(spark, sf001)
    val rdPlan = rd.queryExecution.executedPlan.toString
    assert(!rdPlan.contains("CartesianProduct"), rdPlan)
    assert(rdPlan.contains("LeftSemi"), rdPlan)
    assert(rd.collect().nonEmpty)
    // q_rolling_hll rides the same fan-out; its acceptance join is
    // day-keyed, never a cross
    val rh = SparkEntry.queries("q_rolling_hll")(spark, sf001)
    assert(!rh.queryExecution.executedPlan.toString
      .contains("CartesianProduct"))
    assert(rh.collect().forall(_.getBoolean(1)))
    // q_image_phash: candidates come from band-equality joins only
    val ph = SparkEntry.queries("q_image_phash")(spark, sf001)
    assert(!ph.queryExecution.executedPlan.toString
      .contains("CartesianProduct"))
    // every identical-content pair (id*3 vs id*3+1, hamming 0) found
    val pairs = ph.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    (0L until graft.io.PhashFixtures.NDocs.toLong).foreach { id =>
      assert(pairs.exists(p => p._1 == id * 3 && p._2 == id * 3 + 1 &&
        p._3 == 0L), s"missing copy pair for id $id")
    }
  }

  test("ship-priority/attribution/closed-session invariants at sf0.001") {
    // q_ship_priority: top-10, revenue non-increasing, plan ends in
    // TakeOrderedAndProject (no global sort)
    val sp = SparkEntry.queries("q_ship_priority")(spark, sf001)
    val spRows = sp.collect()
    assert(spRows.length <= 10)
    val revs = spRows.map(_.getAs[Double]("revenue"))
    assert(revs.zip(revs.drop(1)).forall { case (a, b) => a >= b })
    assert(sp.queryExecution.executedPlan.toString
      .contains("TakeOrderedAndProject"))
    // q_attribution_linear: credit only with touches, and the split
    // never over-credits the purchase
    val at = SparkEntry.queries("q_attribution_linear")(spark, sf001)
      .collect()
    assert(at.nonEmpty)
    at.foreach { r =>
      val (v, n, c) = (r.getAs[Long]("value_c"),
        r.getAs[Long]("n_touches"), r.getAs[Long]("credit_c"))
      if (n == 0L) assert(c == 0L)
      else { assert(c == v / n); assert(c * n <= v) }
    }
    // q_stream_closed_sessions: emitted sessions are closed — each
    // user's last emitted session ends before the user's final event
    val cs = SparkEntry.queries("q_stream_closed_sessions")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(cs.nonEmpty)
    assert(cs.forall { case (_, st, en, n) => st <= en && n >= 1 })
    val lastTs = graft.io.Sources.events(spark, sf001)
      .select(col("user_id"), unix_millis(col("ts")).as("tms"))
      .groupBy("user_id").agg(max(col("tms")).as("m"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    cs.groupBy(_._1).foreach { case (u, ss) =>
      assert(ss.map(_._3).max < lastTs(u))
    }
  }

  test("trend-slope / gini invariants at sf0.001") {
    // independent OLS recompute from raw daily counts
    val daily = graft.io.Sources.events(spark, sf001)
      .select(col("event_type"),
        expr("unix_millis(ts) div 86400000").as("day"))
      .groupBy("event_type", "day").count()
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val expect = daily.groupBy(_._1).view.mapValues { rs =>
      val d0 = rs.map(_._2).min
      val xs = rs.map(r => (r._2 - d0).toDouble)
      val ys = rs.map(_._3.toDouble)
      val (n, sx, sy) = (rs.length.toDouble, xs.sum, ys.sum)
      val sxy = xs.zip(ys).map { case (a, b) => a * b }.sum
      val sxx = xs.map(a => a * a).sum
      (n * sxy - sx * sy) / (n * sxx - sx * sx)
    }.toMap
    val ts = SparkEntry.queries("q_trend_slope")(spark, sf001).collect()
    assert(ts.length == expect.size)
    ts.foreach { r =>
      assert(math.abs(r.getAs[Double]("slope") -
        expect(r.getString(0))) < 1e-3)
    }
    // gini: single row, coefficient in [0, 1), matches a brute-force
    // sorted recompute
    val totals = graft.io.Sources.events(spark, sf001)
      .groupBy(col("user_id"))
      .agg(sum(floor(col("value") * 100 + 0.5).cast("long")).as("v"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val sorted = totals.sortBy(t => (t._2, t._1)).map(_._2)
    val n = sorted.length.toDouble
    val tot = sorted.map(_.toDouble).sum
    val rv = sorted.zipWithIndex.map { case (v, i) =>
      (i + 1) * v.toDouble }.sum
    val expectG = 2.0 * rv / (n * tot) - (n + 1) / n
    val g = SparkEntry.queries("q_gini_value")(spark, sf001).collect()
    assert(g.length == 1)
    val gini = g(0).getAs[Double]("gini")
    assert(gini >= 0.0 && gini < 1.0)
    assert(math.abs(gini - expectG) < 1e-3)
  }

  test("feature-hash / session-paths / negative-sampling invariants " +
      "at sf0.001") {
    // feature hashing: the 16 bucket counts partition each doc's
    // token stream exactly
    val fh = SparkEntry.queries("q_feature_hashing")(spark, sf001)
      .collect()
    val tokCounts = spark.read.parquet(s"$sf001/documents.parquet")
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long")
        .as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fh.length == tokCounts.size)
    fh.foreach { r =>
      assert((1 to 16).map(r.getLong(_)).sum == tokCounts(r.getLong(0)))
    }
    // session paths: top-10, ordered by count desc
    val sp = SparkEntry.queries("q_session_paths")(spark, sf001)
      .collect().map(_.getAs[Long]("n"))
    assert(sp.length == 10 &&
      sp.zip(sp.drop(1)).forall { case (a, b) => a >= b })
    // negative sampling: never a true interaction, ≤3 probes per
    // user, items from the catalog
    val inter = graft.io.Sources.ratings(spark, sf001)
      .select(col("user_id"), col("item_id")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val items = inter.map(_._2)
    val ns = SparkEntry.queries("q_negative_sampling")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(ns.nonEmpty)
    ns.foreach { case (u, k, it) =>
      assert(!inter.contains((u, it)))
      assert(items.contains(it))
      assert(k >= 0 && k <= 2)
    }
    ns.groupBy(_._1).foreach { case (_, rs) => assert(rs.length <= 3) }
  }

  test("dq-report / zorder / mv-merge invariants at sf0.001") {
    // dq: the PK check must FAIL (lineitem has real (orderkey,
    // linenumber) duplicates), every other fixture check passes,
    // and checked-counts match the tables
    val dq = SparkEntry.queries("q_dq_report")(spark, sf001)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(dq.size == 6)
    val (liN, pkViol, pkPass) = dq("lineitem.pk_unique")
    assert(liN == graft.io.Sources.table(spark, sf001, "lineitem").count())
    assert(pkViol > 0 && pkPass == 0L)
    (dq - "lineitem.pk_unique").foreach { case (name, (_, v, p)) =>
      assert(v == 0L && p == 1L, name)
    }
    // z-order: buckets cover all orders, spans bounded by the 8-bit
    // dimension domain
    val zo = SparkEntry.queries("q_zorder_stats")(spark, sf001).collect()
    assert(zo.map(_.getAs[Long]("n_rows")).sum ==
      graft.io.Sources.table(spark, sf001, "orders").count())
    zo.foreach { r =>
      assert(r.getLong(0) >= 0 && r.getLong(0) < 32)
      assert(r.getAs[Long]("x_span") <= 255 &&
        r.getAs[Long]("y_span") <= 255)
    }
    // mv merge: base+delta partials land exactly on the direct agg
    val merged = SparkEntry.queries("q_mv_merge")(spark, sf001)
    val direct = spark.read.parquet(s"$sf001/documents.parquet")
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("n_chars"),
        sum(graft.core.PortableHash.spread(
          graft.core.PortableHash.h(col("text")))).as("text_hash_sum"))
    assert(merged.exceptAll(direct).count() == 0 &&
      direct.exceptAll(merged).count() == 0)
  }

  test("csv-quoting / window-surface / first-touch invariants at sf0.001") {
    // the CSV fixture really writes quoted fields (the tag column
    // embeds a comma — an unquoted writer would shift fields)
    val path = graft.io.DialectFixtures.writeDocsCsv(spark, sf001)
    val raw = spark.read.text(path).limit(200).collect().map(_.getString(0))
    assert(raw.exists(_.contains("\"")))
    // window surface: one row per order, rn dense per customer
    val ws = SparkEntry.queries("q_sql_window_surface")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(ws.length ==
      graft.io.Sources.table(spark, sf001, "orders").count())
    ws.groupBy(_._1).foreach { case (_, rs) =>
      assert(rs.map(_._3).sorted.toSeq == (1L to rs.length).toSeq)
    }
    // first-touch agrees with linear attribution on WHICH purchases
    // have any touch, and its gap sits inside the 7-day band
    val lin = SparkEntry.queries("q_attribution_linear")(spark, sf001)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("n_touches")).toMap
    val ft = SparkEntry.queries("q_attribution_first_touch")(spark, sf001)
      .collect()
    assert(ft.nonEmpty && ft.length == lin.size)
    ft.foreach { r =>
      val (id, click, gap) = (r.getLong(0),
        r.getAs[Long]("first_click_id"), r.getAs[Long]("gap_ms"))
      assert((click == -1L) == (lin(id) == 0L))
      if (click != -1L) assert(gap >= 0L && gap <= 604800000L)
    }
  }

  test("sliding/late/retention/rfm/state-duration invariants at sf0.001") {
    val nEvents = graft.io.Sources.events(spark, sf001).count()
    // hop fan-out: width/slide = 2 windows per event, so window counts
    // sum to exactly 2× the table
    val sw = SparkEntry.queries("q_sliding_window_counts")(spark, sf001)
      .collect()
    assert(sw.map(_.getAs[Long]("n")).sum == 2 * nEvents)
    // late-events: per-type counts cover the table; late is a subset
    val le = SparkEntry.queries("q_late_events")(spark, sf001).collect()
    assert(le.map(_.getAs[Long]("n_events")).sum == nEvents)
    assert(le.forall(r =>
      r.getAs[Long]("n_late_10m") <= r.getAs[Long]("n_events") &&
      r.getAs[Long]("max_late_ms") <= r.getAs[Long]("sum_late_ms")))
    // retention: offsets non-negative; the offset-0 cell holds the
    // whole cohort (every user is active in their first week)
    val ret = SparkEntry.queries("q_user_retention")(spark, sf001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(ret.forall(_._2 >= 0))
    ret.groupBy(_._1).foreach { case (_, cells) =>
      val at0 = cells.find(_._2 == 0L).map(_._3).getOrElse(0L)
      assert(cells.forall(_._3 <= at0))
    }
    // rfm: quartile scores in [1,4], customer counts cover the table
    val rfm = SparkEntry.queries("q_rfm_segments")(spark, sf001).collect()
    assert(rfm.forall(r => (1 to 3).forall(i =>
      r.getLong(i - 1) >= 1 && r.getLong(i - 1) <= 4)))
    assert(rfm.map(_.getAs[Long]("n_customers")).sum ==
      graft.io.Sources.table(spark, sf001, "orders")
        .select(col("o_custkey")).distinct().count())
    // state durations: per user, state times sum to the user's
    // observed span and versions count the user's events
    val span = graft.io.Sources.events(spark, sf001)
      .select(col("user_id"), unix_millis(col("ts")).as("tms"))
      .groupBy("user_id")
      .agg((max(col("tms")) - min(col("tms"))).as("span"),
        count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    val stv = SparkEntry.queries("q_state_durations")(spark, sf001)
      .collect()
    assert(stv.nonEmpty)
    stv.foreach { r =>
      val (sp, n) = span(r.getLong(0))
      assert(r.getLong(1) == n)
      assert((2 to 6).map(r.getLong(_)).sum == sp)
    }
  }

  test("mapFuncs tolerates priorities missing a status (ANSI element_at)") {
    // The sf fixtures carry all three statuses under every priority, so
    // a plain element_at (which THROWS on a missing map key under Spark
    // 4's default ANSI mode) would still pass the driver compare — this
    // sparse frame is the input shape that crashed pre-fix.
    import spark.implicits._
    val sparse = Seq(
      ("1-URGENT", "F"), ("1-URGENT", "F"), ("1-URGENT", "O"),
      ("2-HIGH", "P"))
      .toDF("o_orderpriority", "o_orderstatus")
    val rows = graft.rel.RelQueries.mapFuncs(sparse).collect()
    val byPrio = rows.map(r => r.getString(0) -> r).toMap
    assert(byPrio("1-URGENT").getAs[Long]("n_f") == 2L)
    assert(byPrio("1-URGENT").getAs[Long]("n_p") == 0L) // missing key → 0
    assert(byPrio("2-HIGH").getAs[Long]("n_f") == 0L)
    assert(byPrio("2-HIGH").getAs[Long]("n_p") == 1L)
    assert(byPrio("2-HIGH").getAs[String]("statuses") == "P")
  }

  test("dictionary mints dense deterministic int ids for string keys") {
    import spark.implicits._
    val df = Seq("m9", "m1", "m5", "m1", "m9").toDF("item_id")
    val dict = Recommender.dictionary(df, "item_id")
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(dict === Map("m1" -> 0, "m5" -> 1, "m9" -> 2)) // sorted, dense
    val again = Recommender.dictionary(df.repartition(3), "item_id")
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(again === dict) // partitioning-invariant
  }

  test("approx_count_distinct tracks the exact distinct count within 5%") {
    val o = spark.read.parquet(s"$sf001/orders.parquet")
    val r = o.agg(
      countDistinct(col("o_custkey")).as("exact"),
      approx_count_distinct(col("o_custkey"), rsd = 0.02).as("approx"))
      .collect()(0)
    val exact = r.getLong(0).toDouble
    val approx = r.getLong(1).toDouble
    assert(exact > 0 && math.abs(approx - exact) / exact < 0.05,
      s"approx=$approx exact=$exact")
  }

  test("saltedJoin and saltedCount match their unsalted equivalents") {
    val r = toyRatingsNumeric
    val dim = spark.range(1, 5).toDF("user_id")
      .withColumn("tag", col("user_id") * 10)
    val plain = r.join(dim, Seq("user_id"))
      .select(col("user_id"), col("item_id"), col("tag"))
      .collect().map(_.toString).sorted
    val salted = Skew.saltedJoin(r, dim, "user_id", 3)
      .select(col("user_id"), col("item_id"), col("tag"))
      .collect().map(_.toString).sorted
    assert(salted.toSeq === plain.toSeq)

    val plainCnt = r.groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
      .collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    val saltCnt = Skew.saltedCount(r, "user_id", 3)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(saltCnt === plainCnt)
  }

  /** toyRatings with numeric ids (ALS/bucketing need numeric keys). */
  private def toyRatingsNumeric = {
    import spark.implicits._
    Seq((1L, 10L, 4.0), (1L, 11L, 3.0), (1L, 12L, 1.0),
      (2L, 10L, 5.0), (2L, 11L, 4.0),
      (3L, 10L, 1.0), (3L, 12L, 5.0),
      (4L, 11L, 2.0), (4L, 12L, 4.0))
      .toDF("user_id", "item_id", "rating")
      .withColumn("rating_i", floor(col("rating") * 10000 + 0.5).cast("long"))
  }

  test("row-grouped sink: one file, many row groups, parallel read-back") {
    // The 100 TB layout rule (PLANS.md): a read split can only start
    // at a row-group boundary, so the engine's own outputs must write
    // bounded row groups or a single fat file serializes every
    // downstream scan. Tiny sizes here (64 KB groups on the sf0.001
    // documents table) exercise the same knob 128 MB does at scale.
    val out = java.nio.file.Files
      .createTempDirectory("graft-rowgroup-sink").toString
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
      .coalesce(1) // one writer task → exactly one data file
    graft.io.Sinks.writeParquetRowGrouped(docs, out, rowGroupBytes = 64L << 10)
    assert(graft.io.Sinks.parquetRowGroups(spark, out) > 1,
      "single-file write must produce multiple row groups")
    // a reader capped at the row-group size fans out across groups
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    val prevOpen = spark.conf.get("spark.sql.files.openCostInBytes")
    try {
      // half the row-group size, so the ~65 KB two-group file yields
      // multiple splits; floored at openCostInBytes (default 4 MB) —
      // at real scale row groups are >> that, here it shrinks with it
      spark.conf.set("spark.sql.files.maxPartitionBytes", (32L << 10).toString)
      spark.conf.set("spark.sql.files.openCostInBytes", (32L << 10).toString)
      val back = spark.read.parquet(out)
      assert(back.rdd.getNumPartitions > 1,
        "read-back of ONE multi-row-group file must split into >1 partitions")
      assert(back.count() === docs.count())
    } finally {
      spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
      spark.conf.set("spark.sql.files.openCostInBytes", prevOpen)
    }
  }

  test("round-9 final slice: skyline broadcasts back, SCD2 shares one " +
    "hash exchange, prefix top-k group-limits, no cartesians") {
    // q_skyline: the frontier join back must be broadcast (the sky
    // set is O(|size domain|)) and nothing may plan a cartesian
    val sk = SparkEntry.queries("q_skyline")(spark, sf001)
    val skPlan = sk.queryExecution.executedPlan.toString
    assert(skPlan.contains("BroadcastHashJoin"), skPlan)
    assert(!skPlan.contains("CartesianProduct"), skPlan)
    assert(!skPlan.contains("SortMergeJoin"),
      s"frontier join-back must not shuffle:\n$skPlan")
    assert(sk.collect().nonEmpty)
    // q_scd2_build: both windows ride ONE user_id hash exchange (the
    // only other exchange is the final presentation sort)
    val sc = SparkEntry.queries("q_scd2_build")(spark, sf001)
    val scPlan = sc.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(scPlan).length == 1,
      s"SCD2's two windows must share one exchange:\n$scPlan")
    assert(sc.collect().nonEmpty)
    // q_prefix_topk: the rank<=3 cut must be WindowGroupLimit-pushed
    // so no prefix partition ever materializes fully
    val pt = SparkEntry.queries("q_prefix_topk")(spark, sf001)
    val ptPlan = pt.queryExecution.executedPlan.toString
    assert(ptPlan.contains("WindowGroupLimit"), ptPlan)
    assert(pt.collect().nonEmpty)
    // q_assoc_rules: basket self-join is key-partitioned; the only
    // nested-loop is the broadcast 1-row totals — never a cartesian
    val ar = SparkEntry.queries("q_assoc_rules")(spark, sf001)
    val arPlan = ar.queryExecution.executedPlan.toString
    assert(!arPlan.contains("CartesianProduct"), arPlan)
    assert(ar.collect().nonEmpty)
  }

  test("round-10 slice: graph-ANN serve broadcasts the beam, topics " +
    "group-limit their rank cut, no cartesians") {
    // q_ann_graph: every corpus touch must be a broadcast probe (the
    // beam/candidate side is ≤ nq·beam·(K+1) rows); the only
    // nested-loop is the 4-row entry fan-out — no CartesianProduct,
    // no shuffled corpus join
    val ag = SparkEntry.queries("q_ann_graph")(spark, sf001)
    val agPlan = ag.queryExecution.executedPlan.toString
    assert(!agPlan.contains("CartesianProduct"), agPlan)
    assert(agPlan.contains("BroadcastHashJoin"), agPlan)
    assert(ag.collect().nonEmpty)
    // q_cluster_topics: the top-5-terms cut must be
    // WindowGroupLimit-pushed (no cell's full term list materializes
    // past the limit), and the corpus-totals crossJoin is the 1-row
    // broadcast shape, never a cartesian
    val ct = SparkEntry.queries("q_cluster_topics")(spark, sf001)
    val ctPlan = ct.queryExecution.executedPlan.toString
    assert(ctPlan.contains("WindowGroupLimit"), ctPlan)
    assert(!ctPlan.contains("CartesianProduct"), ctPlan)
    assert(ct.collect().nonEmpty)
    // q_topk_neighbors (r14): the ranking must be the SORT-FREE
    // bounded-heap aggregate — ObjectHashAggregate with the graft_topk
    // partial, no Window and no WindowGroupLimit (whose required child
    // ordering would re-introduce the full local sort of the moment
    // frame this path exists to avoid); the only Sort allowed is the
    // oracle-compare orderBy ABOVE the aggregate, on the k·items rows.
    // The query reads the session's rec_ils_top10 snapshot, so the
    // aggregate is asserted on the snapshot's build (topCorr10)
    val rank = graft.rel.SimQueries.topCorr10(
      graft.rel.SimQueries.moments(spark, sf001))
    val rankPlan = rank.queryExecution.executedPlan.toString
    assert(rankPlan.contains("ObjectHashAggregate"), rankPlan)
    assert(rankPlan.contains("graft_topk"), rankPlan)
    assert(!rankPlan.contains("WindowGroupLimit"), rankPlan)
    assert(!rankPlan.contains("Window "), rankPlan)
    val tk = SparkEntry.queries("q_topk_neighbors")(spark, sf001)
    val tkPlan = tk.queryExecution.executedPlan.toString
    assert(!tkPlan.contains("WindowGroupLimit"), tkPlan)
    assert(!tkPlan.contains("Window "), tkPlan)
    assert(tk.collect().nonEmpty)
  }

  test("round-11 slice: DP release and PSI stay one-agg + broadcast " +
    "scalars, index triage never goes cartesian") {
    // q_dp_counts: one partial/final aggregate plus codegen'd scalar
    // ladder — no join of any kind in the plan
    val dp = SparkEntry.queries("q_dp_counts")(spark, sf001)
    val dpPlan = dp.queryExecution.executedPlan.toString
    assert(!dpPlan.contains("Join"), dpPlan)
    assert(dpPlan.contains("HashAggregate"), dpPlan)
    assert(dp.collect().nonEmpty)
    // q_psi_drift: the corpus-max and the totals are 1-row broadcast
    // nested loops, never a CartesianProduct over data
    val psi = SparkEntry.queries("q_psi_drift")(spark, sf001)
    val psiPlan = psi.queryExecution.executedPlan.toString
    assert(!psiPlan.contains("CartesianProduct"), psiPlan)
    assert(psi.collect().length === 10)
    // q_dedup_index_persist: the triage is key equi-joins on (b, mh)
    // over the capped postings — no cartesian anywhere (the serve is
    // snapshot-memoized, so assert on the UNDERLYING triage plan by
    // running in a throwaway dir-less path: the registered query's
    // own plan is a snapshot scan, which is itself the point)
    val ix = SparkEntry.queries("q_dedup_index_persist")(spark, sf001)
    val ixPlan = ix.queryExecution.executedPlan.toString
    assert(!ixPlan.contains("CartesianProduct"), ixPlan)
    assert(ix.collect().nonEmpty)
    // q_rec_serve_user: neighbor-cut equi-joins + an ANTI join for
    // seen-item exclusion — never a cartesian, and the exclusion must
    // really be an anti join (a NOT IN rewrite can degenerate)
    val rs = SparkEntry.queries("q_rec_serve_user")(spark, sf001)
    val rsPlan = rs.queryExecution.executedPlan.toString
    assert(!rsPlan.contains("CartesianProduct"), rsPlan)
    assert(rsPlan.contains("LeftAnti"), rsPlan)
    assert(rs.collect().nonEmpty)
  }

  test("incremental neighbor upkeep equals the full rebuild " +
    "cell-exact, and the incremental serve equals the full serve") {
    // the decomposition contract: pairs(base) + pairs(delta) +
    // cross(delta, base) folded into the stored partials, affected
    // lists re-cut — bit-identical to rebuilding from all ratings
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2))
    val incr = graft.rel.SimQueries.incrementalNeighbors(spark, sf001)
      .collect().map(key).toSet
    val full = graft.rel.SimQueries.queries("q_topk_neighbors")(
      spark, sf001) // sanity anchor: same corpus is non-trivial
    assert(full.limit(1).collect().nonEmpty)
    val rebuilt = graft.rel.SimQueries
      .neighborTableForSpec(spark, sf001).collect().map(key).toSet
    assert(incr === rebuilt,
      s"incr-only=${(incr diff rebuilt).take(5)} " +
        s"rebuild-only=${(rebuilt diff incr).take(5)}")
    // and the served recommendations agree row-for-row
    val a = SparkEntry.queries("q_rec_serve_incremental")(spark, sf001)
      .select("user_id", "item_id", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val b = SparkEntry.queries("q_rec_serve_user")(spark, sf001)
      .select("user_id", "item_id", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(a === b)
  }
}
