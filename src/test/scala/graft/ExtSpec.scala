package graft

import org.apache.spark.sql.functions._
import graft.core.PortableHash
import graft.ext.{Dedup, Multimodal, TextAnalysis, VectorSearch}

/** Unit tests for the extension operators on small explicit inputs. */
class ExtSpec extends SparkSpec {
  import spark.implicits._

  private def docsDF(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("test"))

  test("exact dedup groups duplicate prefixes and keep-first drops later ids") {
    val docs = docsDF(
      1L -> "a b c d e x y z", 2L -> "a b c d e q r s",
      3L -> "k l m n o p", 4L -> "a b c d e w")
    val groups = Dedup.exactDupGroups(docs, Dedup.normPrefix(col("text"), 5))
      .collect()
    assert(groups.length === 1)
    assert(groups(0).getAs[Long]("cnt") === 3L)
    assert(groups(0).getAs[Long]("min_doc") === 1L)
    val dropped = Dedup.dropDuplicatesKeepFirst(
      docs, Dedup.normPrefix(col("text"), 5))
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted
    assert(dropped.toSeq === Seq(2L, 4L))
  }

  test("minhash: identical docs share all bands; disjoint docs share none") {
    val docs = docsDF(
      1L -> "the quick brown fox jumps over the lazy dog today",
      2L -> "the quick brown fox jumps over the lazy dog today",
      3L -> "completely different words appear inside this other document here")
    val cand = Dedup.minhashCandidates(
      Dedup.minhashBandMins(Dedup.shingles(docs))).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(cand((1L, 2L)) === Dedup.Bands.toLong)
    assert(!cand.contains((1L, 3L)) && !cand.contains((2L, 3L)))
  }

  test("minhash rescue: re-band recovers pairs the hot-bucket drop lost") {
    // five identical docs saturate EVERY primary band bucket at cap=2,
    // so the primary pass drops them all and finds nothing
    val docs = docsDF((1L to 5L).map(i =>
      i -> "common words repeated across all documents here"): _*)
    val hs = Dedup.shingleHashes(Dedup.shingles(docs))
    val bm = Dedup.minhashBandMinsFromHashes(hs, 0, Dedup.Bands)
    assert(Dedup.minhashCandidates(bm, cap = 2).count() === 0L)
    // rescue with headroom: the hot docs re-band under the second
    // permutation family and all C(5,2) pairs come back, agreeing on
    // all 8 rescue bands
    val rescued = Dedup.minhashRescueCandidates(hs, bm, cap = 2,
      rescueCap = 100).collect()
    assert(rescued.length === 10)
    assert(rescued.forall(_.getAs[Long]("bands") === Dedup.Bands.toLong))
    // a population still hot under the rescue permutations is dropped
    // again (bounded, never quadratic), not silently emitted
    assert(Dedup.minhashRescueCandidates(hs, bm, cap = 2).count() === 0L)
  }

  test("rescue-band cap stats: a population still hot under the " +
    "second permutation family reads saturated at serve time") {
    // same fixture as the rescue test: five identical docs saturate
    // every primary bucket at cap=2 AND every rescue bucket (identical
    // text → identical minima under any permutation), so the rescue
    // bands' own read-out must flag that the rescue pass absorbed
    // nothing — the residue routes to exact rescoring.
    val docs = docsDF((1L to 5L).map(i =>
      i -> "common words repeated across all documents here"): _*)
    val hs = Dedup.shingleHashes(Dedup.shingles(docs))
    val bm = Dedup.minhashBandMinsFromHashes(hs, 0, Dedup.Bands)
    val rbm = Dedup.minhashRescueBandMins(hs, bm, cap = 2)
    val sat = Dedup.bucketCapStats(rbm, 2).collect()(0)
    assert(sat.getLong(0) === 2L)
    assert(sat.getLong(1) === 1L, s"rescue saturation must be flagged: $sat")
    assert(sat.getDouble(2) === 0.0, "no pair mass survives cap 2")
    assert(sat.getLong(3) === Dedup.Bands.toLong,
      "all 8 rescue-band buckets of the identical population are hot")
    // with headroom the same rescue bands read clean — kept mass 1.0
    val ok = Dedup.bucketCapStats(rbm, 100).collect()(0)
    assert(ok.getLong(1) === 0L && ok.getDouble(2) === 1.0 &&
      ok.getLong(3) === 0L)
  }

  test("ngram jaccard: identical docs -> 1.0") {
    val docs = docsDF(
      1L -> "one two three four five six",
      2L -> "one two three four five six")
    val sh = Dedup.shingles(docs)
    val cand = Dedup.minhashCandidates(Dedup.minhashBandMins(sh))
      .select(col("d1"), col("d2"))
    val j = Dedup.ngramJaccard(cand, sh.distinct()).collect()
    assert(j.length === 1 && j(0).getAs[Double]("jaccard") === 1.0)
  }

  test("simhash: identical docs have distance 0 and are found as near-dups") {
    val docs = docsDF(
      1L -> "alpha beta gamma delta epsilon zeta",
      2L -> "alpha beta gamma delta epsilon zeta")
    val nd = Dedup.simhashNearDups(Dedup.simhash(docs)).collect()
    assert(nd.length === 1 && nd(0).getAs[Long]("hamming") === 0L)
  }

  test("simhash cap bounds a hot block; rescue re-blocks its members") {
    // adversarial hot block: 12 identical docs concentrate every block
    // bucket past cap=5, while a separate identical pair stays in
    // small buckets
    val hot = (1L to 12L).map(_ ->
      "boilerplate header repeated across every document in this corpus")
    val docs = docsDF(hot :+
      (20L -> "a genuinely distinct near dup candidate text body") :+
      (21L -> "a genuinely distinct near dup candidate text body"): _*)
    val sims = Dedup.simhash(docs)
    // uncapped: the hot block alone contributes C(12,2)=66 pairs
    assert(Dedup.simhashNearDups(sims, cap = 1000).count() === 67L)
    // capped: the hot cluster is excluded BEFORE pairing — candidate
    // volume collapses from quadratic-in-bucket to the one small pair
    val primary = Dedup.simhashNearDups(sims, cap = 5).collect()
    assert(primary.length === 1)
    assert(primary(0).getAs[Long]("d1") === 20L &&
      primary(0).getAs[Long]("d2") === 21L)
    // the monitoring surface reports the hot buckets (one per block)
    assert(Dedup.simhashOverCapBlocks(sims, cap = 5).count() >= 4L)
    // rescue with headroom: hot members re-block under the rotated
    // partition and all 66 cluster pairs come back at hamming 0
    val rescued = Dedup.simhashRescueNearDups(sims, cap = 5,
      rescueCap = 100).collect()
    val clusterPairs = rescued.filter(_.getAs[Long]("d2") <= 12L)
    assert(clusterPairs.length === 66)
    assert(clusterPairs.forall(_.getAs[Long]("hamming") === 0L))
    // a population still hot under the rotated partition is dropped
    // again (bounded, never quadratic), not silently emitted
    assert(Dedup.simhashRescueNearDups(sims, cap = 5)
      .where(col("d2") <= 12L).count() === 0L)
  }

  test("connected components: chains merge, isolates keep their own id") {
    // components: {1,2,3,4} via chain 1-2, 2-3, 3-4; {10,11}; isolate 99
    val nodes = Seq(1L, 2L, 3L, 4L, 10L, 11L, 99L).toDF("doc_id")
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("d1", "d2")
    val cc = Dedup.connectedComponents(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(cc(_) === 1L))
    assert(cc(10L) === 10L && cc(11L) === 10L)
    assert(cc(99L) === 99L)
  }

  test("connectedComponents honors spark.graft.checkpoint.dir " +
    "and retains only the last snapshot per chain") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.conf.set("spark.graft.checkpoint.dir", dir)
    try {
      // multi-round fixpoint (rep chain), so prior-iteration cleanup
      // actually has something to delete
      val nodes = Seq(1L, 2L, 3L, 4L, 5L, 9L).toDF("doc_id")
      val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
        .toDF("d1", "d2")
      val cc = Dedup.connectedComponents(nodes, edges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(Seq(1L, 2L, 3L, 4L, 5L).forall(cc(_) === 1L))
      assert(cc(9L) === 9L)
      // reliable snapshots were written, and each chain kept ONLY its
      // last iteration (prior iterations deleted after the next
      // landed); chain dirs carry a per-run uuid suffix
      def iterDirs(chain: String): Array[String] = {
        val chains = new java.io.File(dir)
          .listFiles(f => f.getName.startsWith(chain + "-"))
        assert(chains != null && chains.length === 1,
          s"expected one $chain-* dir")
        val fs = chains(0).listFiles(f => f.getName.startsWith("iter-"))
        if (fs == null) Array.empty else fs.map(_.getName)
      }
      assert(iterDirs("cc-edges").length === 1)
      assert(iterDirs("cc-labels").length === 1,
        s"expected one surviving labels snapshot, got " +
          iterDirs("cc-labels").mkString(","))
    } finally spark.conf.unset("spark.graft.checkpoint.dir")
  }

  test("Cache.getOrSnapshot: reliable parquet snapshot truncates lineage " +
    "and memoizes the build") {
    val dir = java.nio.file.Files.createTempDirectory("graft-snap").toString
    spark.conf.set("spark.graft.checkpoint.dir", dir)
    try {
      var builds = 0
      def build() = { builds += 1
        Seq((1L, "a"), (2L, "b")).toDF("id", "v")
          .groupBy(col("id")).agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("n")) }
      val snap = graft.core.Cache.getOrSnapshot(spark, "snap_test", dir)(build())
      val again = graft.core.Cache.getOrSnapshot(spark, "snap_test", dir)(build())
      assert(builds === 1, "second call must hit the memo, not rebuild")
      assert(snap eq again)
      assert(snap.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        === Map(1L -> 1L, 2L -> 1L))
      // the returned frame's physical plan is a bare file scan — no
      // aggregate/exchange from the build survives in its lineage
      val plan = snap.queryExecution.executedPlan.toString
      assert(plan.contains("Scan parquet") || plan.contains("FileScan"),
        s"expected a parquet scan plan, got:\n$plan")
      assert(!plan.contains("HashAggregate"),
        "build-side aggregate must not survive in the snapshot's plan")
      // and the snapshot actually lives under the configured dir
      val files = new java.io.File(dir)
        .listFiles(f => f.getName.startsWith("cache-snap_test-"))
      assert(files != null && files.nonEmpty)
    } finally spark.conf.unset("spark.graft.checkpoint.dir")
  }

  test("connectedComponents shuffle-join fallback matches the broadcast path") {
    // gate of 0 forces the non-broadcast contraction (the path a
    // billion-node graph would take); results must be identical
    val nodes = Seq(1L, 2L, 3L, 4L, 10L, 11L, 99L).toDF("doc_id")
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("d1", "d2")
    spark.conf.set("spark.graft.cc.broadcastNodes.max", "0")
    try {
      val cc = Dedup.connectedComponents(nodes, edges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(Seq(1L, 2L, 3L, 4L).forall(cc(_) === 1L))
      assert(cc(10L) === 10L && cc(11L) === 10L && cc(99L) === 99L)
    } finally spark.conf.unset("spark.graft.cc.broadcastNodes.max")
  }

  test("connectedComponents runs one job per fixpoint round") {
    // rep-chain graph needing several rounds; count Spark jobs across
    // the whole call. The convergence signal rides inside the label
    // materialization job (accumulator), so each round costs ONE job;
    // the pre-r5 shape (materialize + join-count) ran two, which on
    // this graph blows past the bound below.
    val nodes = (1L to 6L).toDF("doc_id")
    val edges = (1L until 6L).map(i => (i, i + 1)).toDF("d1", "d2")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    // AQE re-plans each shuffle stage as its own job, which would make
    // the count measure Spark internals instead of the algorithm's
    // action count — pin it off for the measurement
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.sparkContext.addSparkListener(listener)
    try {
      val cc = Dedup.connectedComponents(nodes, edges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert((1L to 6L).forall(cc(_) === 1L))
      // listener bus is async; wait for the counter to stabilize
      var last = -1
      var stable = 0
      while (stable < 3) {
        Thread.sleep(200)
        val v = jobs.get()
        if (v == last) stable += 1 else { stable = 0; last = v }
      }
      // Measured with this shape: 16 jobs = setup (contraction with
      // its two node-map broadcasts, init labels) + 5 fixpoint rounds
      // x ONE materialization job + result broadcast/collect, plus one
      // for the broadcast-gate node count. The pre-r5 shape added a
      // separate join+count job per round (>=5 more on this graph),
      // which blows the bound.
      assert(last <= 18, s"expected <=18 jobs, saw $last")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("Broadcasts.gatedMemo pays the count job once per (session, key)") {
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    val df = (1L to 10L).toDF("k")
    def hinted(out: org.apache.spark.sql.DataFrame): Boolean =
      out.queryExecution.analyzed.collectFirst {
        case h: ResolvedHint => h
      }.nonEmpty
    // first call runs the count and populates the memo (not measured)
    assert(hinted(graft.core.Broadcasts.gatedMemo(
      df, "spark.graft.test.broadcastMax", "memo-test-1")))
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // memo hit: same decision, ZERO Spark jobs
      assert(hinted(graft.core.Broadcasts.gatedMemo(
        df, "spark.graft.test.broadcastMax", "memo-test-1")))
      // the conf limit is still read fresh: dropping it below the
      // memoized count flips the decision without a new count job
      spark.conf.set("spark.graft.test.broadcastMax", "5")
      assert(!hinted(graft.core.Broadcasts.gatedMemo(
        df, "spark.graft.test.broadcastMax", "memo-test-1")))
      // listener bus is async; wait for the counter to stabilize
      var last = -1
      var stable = 0
      while (stable < 3) {
        Thread.sleep(200)
        val v = jobs.get()
        if (v == last) stable += 1 else { stable = 0; last = v }
      }
      assert(last === 0, s"memo hits must run no jobs, saw $last")
    } finally {
      spark.conf.unset("spark.graft.test.broadcastMax")
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("repetition signals: dup ratio and max multiplicity per doc") {
    val docs = docsDF(
      1L -> "spam spam spam spam spam",          // 3 shingles, all equal
      2L -> "all words here are unique tokens")  // 4 shingles, all distinct
    val r = TextAnalysis.repetitionSignals(docs).collect()
      .map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getLong(1) === 3L && r(1L).getLong(2) === 1L)
    assert(r(1L).getLong(3) === 3L)
    assert(r(1L).getDouble(4) === 0.6667)  // r4(2/3)
    assert(r(2L).getLong(1) === 4L && r(2L).getLong(2) === 4L)
    assert(r(2L).getDouble(4) === 0.0)
  }

  test("contamination hits count distinct shared shingles and bench docs") {
    val train = Dedup.shingles(docsDF(
      1L -> "alpha beta gamma delta epsilon",   // shares 'alpha beta gamma'
      2L -> "nothing shared with benchmarks")).distinct()
    val bench = Dedup.shingles(docsDF(
      90L -> "alpha beta gamma unrelated tail",
      91L -> "alpha beta gamma another suffix")).distinct()
    val hits = Dedup.contaminationHits(train, bench).collect()
    assert(hits.length === 1)
    assert(hits(0).getLong(0) === 1L)
    assert(hits(0).getAs[Long]("n_hit_shingles") === 1L)  // one shared 3-gram
    assert(hits(0).getAs[Long]("n_bench_docs") === 2L)    // in both bench docs
  }

  test("Quantiles.exactQuantiles matches the percentile aggregate exactly") {
    // deterministic pseudo-random doubles incl. duplicates + negatives
    val vals = (0 until 4001).map(i => ((i * 48271L) % 1003L).toDouble - 500.0)
    val df = vals.toDF("x").repartition(7)
    val ps = Seq(0.0, 0.01, 0.25, 0.5, 0.9, 0.99, 1.0)
    val viaSort = graft.core.Quantiles.exactQuantiles(df, "x", ps)
    val viaAgg = df.agg(
        expr(s"percentile(x, array(${ps.mkString("D,")}D))"))
      .collect()(0).getSeq[Double](0)
    // same p*(n-1) interpolation rule, same doubles -> exact equality
    assert(viaSort === viaAgg)
    // empty input -> NaNs, not a crash
    assert(graft.core.Quantiles.exactQuantiles(
      df.where(lit(false)), "x", Seq(0.5)).forall(_.isNaN))
  }

  test("bloom-prefiltered contamination equals the exact join, and prunes") {
    val train = Dedup.shingles(docsDF(
      1L -> "alpha beta gamma delta epsilon",
      2L -> "nothing shared with benchmarks at all",
      3L -> "more words that are nowhere in the benchmark suite")).distinct()
    val bench = Dedup.shingles(docsDF(
      90L -> "alpha beta gamma unrelated tail")).distinct()
    val exact = Dedup.contaminationHits(train, bench).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val bloomed = Dedup.contaminationHitsBloom(train, bench).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(bloomed === exact && exact === Set((1L, 1L, 1L)))
    // the pre-filter really prunes: at fpp=0.01 the 9 non-matching
    // train shingles cannot ALL be false positives. Probe with the
    // same native build/probe pair the production path uses.
    val nBench = bench.count()
    val numBits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(nBench, 0.01)
    val bloomBytes = bench.agg(call_function("graft_bloom_agg",
        xxhash64(col("shingle")), lit(nBench), lit(numBits)))
      .head().getAs[Array[Byte]](0)
    val keptDf = train.where(call_function("graft_might_contain",
      lit(bloomBytes), xxhash64(col("shingle"))))
    assert(keptDf.count() < train.count())
    // the probe predicate is a native codegen expression — the whole
    // point of replacing the Scala-UDF prefilter: no udf/eval-python
    // node anywhere in the physical plan
    val plan = keptDf.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("batchevalpython"))
    assert(!plan.contains("UDF("))
    assert(plan.contains("might_contain"))
    // empty benchmark set: no hits, no crash
    assert(Dedup.contaminationHitsBloom(
      train, bench.where(lit(false))).count() === 0L)
  }


  test("graph beam search walks the graph: chain reached, isolated not") {
    import spark.implicits._
    import graft.ext.VectorSearch
    // 2-D vectors by angle from the query direction (1, 0): the true
    // nearest (v4, 0.5 deg) is ISOLATED; v3 (1 deg) is reachable only
    // through the chain 0 -> 1 -> 2 -> 3 from the single entry v0
    // (60 deg). Brute force would return v4; a traversal returns v3.
    def vec(deg: Double) = Array(
      math.cos(math.toRadians(deg)).toFloat,
      math.sin(math.toRadians(deg)).toFloat)
    val emb = Seq(
      0L -> vec(60), 1L -> vec(40), 2L -> vec(20), 3L -> vec(1),
      4L -> vec(0.5)).toDF("vec_id", "embedding")
    val graph = Seq(0L -> 1L, 1L -> 0L, 1L -> 2L, 2L -> 1L,
      2L -> 3L, 3L -> 2L).toDF("v", "n")
    val queries = Seq((100L, vec(0))).toDF("qid", "qvec")
    val top = VectorSearch.graphTopK(graph, emb, queries, "qid", "qvec",
        k = 1, beam = 2, rounds = 3, entries = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(top === Seq((100L, 3L)))
    // with zero rounds the serve can only return the entry point
    val r0 = VectorSearch.graphTopK(graph, emb, queries, "qid", "qvec",
        k = 1, beam = 2, rounds = 0, entries = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(r0 === Seq((100L, 0L)))
  }

  test("label propagation keeps bridged cliques distinct where CC " +
    "merges them") {
    import spark.implicits._
    import graft.ext.{Dedup, GraphRank}
    // two triangles joined by one bridge edge (2–10): the density
    // structure LPA must preserve and min-label CC cannot
    val edges = Seq(0L -> 1L, 0L -> 2L, 1L -> 2L,
      10L -> 11L, 10L -> 12L, 11L -> 12L,
      2L -> 10L).toDF("d1", "d2")
    val lpa = GraphRank.labelPropagation(edges, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Set(0L, 1L, 2L).map(lpa) === Set(0L))
    assert(Set(10L, 11L, 12L).map(lpa) === Set(10L))
    val cc = Dedup.connectedComponents(
        edges.select(col("d1").as("doc_id"))
          .unionByName(edges.select(col("d2").as("doc_id"))).distinct(),
        edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc.values.toSet === Set(0L)) // CC: one merged component
  }

  test("wordpiece greedy takes the longest piece; position classes " +
    "are distinct") {
    import graft.ext.WordPiece
    // longest-first: with both widths available the walk goes
    // aa|##a, never the shorter-first a|##aa
    assert(WordPiece.segment("aaa", Set("a", "aa", "##a", "##aa"))
      === ((2L, "aa|##a")))
    // an initial-class "b" does NOT license a continuation position —
    // the walk must use the ## class
    assert(WordPiece.segment("ab", Set("a", "b", "##b"))
      === ((2L, "a|##b")))
    // whole-word piece wins in one step
    assert(WordPiece.segment("abc", Set("abc", "a", "##b", "##c"))
      === ((1L, "abc")))
  }

  test("knnGraph caps out-degree and only links LSH candidates") {
    import graft.io.Sources
    import graft.ext.VectorSearch
    val e = Sources.table(spark, sf001, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val g = VectorSearch.knnGraph(e)
    val maxDeg = g.groupBy(col("v")).count()
      .agg(max(col("count"))).head().getLong(0)
    assert(maxDeg <= VectorSearch.GraphK)
    // symmetrized candidate set: every edge's reverse-or-forward pair
    // came from a banded candidate, so the graph is a subset of the
    // candidate closure
    val cand = VectorSearch.bandedPairCosine(e,
        VectorSearch.GraphBands, VectorSearch.GraphBandBits)
      .select(col("v1"), col("v2"))
    val candSym = cand.unionByName(
      cand.select(col("v2").as("v1"), col("v1").as("v2")))
    val stray = g.join(candSym,
      g("v") === candSym("v1") && g("n") === candSym("v2"), "left_anti")
    assert(stray.count() === 0L)
  }

  test("splitAssign covers every row, is stable, and new data moves nothing") {
    import graft.ext.Sampling
    val bands = Seq("test" -> 1.0, "train" -> 98.0, "val" -> 1.0)
    val small = (1L to 500L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    def assign(df: org.apache.spark.sql.DataFrame) =
      Sampling.splitAssign(df, col("doc_id").cast("string"), bands)
        .select(col("doc_id"), col("split"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val a = assign(small)
    assert(a.size === 500 && a.values.forall(Set("train", "val", "test")))
    assert(a.values.count(_ == "train") > 450) // ~98%
    // re-run + repartition: identical
    assert(assign(small.repartition(7)) === a)
    // growing the dataset never moves an existing row's split
    val grown = (1L to 900L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val b = assign(grown)
    assert(a.forall { case (k, v) => b(k) == v })
    // percentages must sum to 100
    intercept[IllegalArgumentException] {
      Sampling.splitCuts(Seq("a" -> 50.0, "b" -> 40.0))
    }
  }

  test("Quantiles.valueAtFraction returns the exact sorted element") {
    val df = Seq(5.0, 1.0, 3.0, 2.0, 4.0).toDF("x").repartition(3)
    // sorted: 1,2,3,4,5; floor(f*5) indexes
    assert(graft.core.Quantiles.valueAtFraction(df, "x", 0.0) === 1.0)
    assert(graft.core.Quantiles.valueAtFraction(df, "x", 0.4) === 3.0)
    assert(graft.core.Quantiles.valueAtFraction(df, "x", 0.99) === 5.0)
    // f=1.0 clamps to the last element instead of indexing past it
    assert(graft.core.Quantiles.valueAtFraction(df, "x", 1.0) === 5.0)
  }

  test("portable hash is stable and within [0, M)") {
    val h = docsDF(1L -> "anything").select(
      PortableHash.h(lit("spark")).as("h1"),
      PortableHash.h(lit("spark")).as("h2"),
      PortableHash.h(lit("a")).as("h3")).collect()(0)
    assert(h.getInt(0) === h.getInt(1))
    assert(h.getInt(0) >= 0 && h.getInt(0) < PortableHash.M)
    assert(h.getInt(2) >= 0 && h.getInt(2) < PortableHash.M)
  }

  test("fingerprint is order-sensitive (permuted doc differs)") {
    val fp = docsDF(1L -> "a b c", 2L -> "c b a")
      .select(TextAnalysis.fingerprint(split(col("text"), " ")).as("fp"))
      .collect().map(_.getLong(0))
    assert(fp(0) !== fp(1))
  }

  test("quality/lang columns have expected shapes") {
    val q = TextAnalysis.qualityColumns(
      docsDF(1L -> "the cat sat on a mat")).collect()(0)
    assert(q.getAs[Long]("n_words") === 6L)
    assert(q.getAs[Long]("n_stop") === 2L) // the, a
    val quality = q.getAs[Double]("quality")
    assert(quality > 0.0 && quality <= 1.0)
  }

  test("fixed-point dot product is exact and fold-order-free") {
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)))
      .toDF("a", "b")
    val r = df.select(
      VectorSearch.fixedDot(col("a"), col("b")).as("dot"),
      VectorSearch.fixedNormSq(col("a")).as("na")).collect()(0)
    assert(r.getDouble(0) === 32.0) // 4 + 10 + 18
    assert(r.getDouble(1) === 14.0) // 1 + 4 + 9
  }

  test("label centroids: mean of members, ordered by position") {
    val df = Seq((1L, Array(1.0f, 3.0f), 0), (2L, Array(3.0f, 5.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val c = VectorSearch.labelCentroids(df).collect()(0)
    assert(c.getAs[Seq[Double]]("centroid") === Seq(2.0, 4.0))
  }

  test("topK by cosine: the nearest vector to a probe is itself-direction") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)),
      (3L, Array(0.9f, 0.1f))).toDF("vec_id", "embedding")
    val probes = Seq((99L, Array(1.0d, 0.0d))).toDF("pid", "pvec")
    val top = VectorSearch.topKByCosine(emb, probes, "pid", "pvec", 2)
      .orderBy(col("rn")).collect()
    assert(top(0).getAs[Long]("vec_id") === 1L) // cos = 1.0
    assert(top(1).getAs[Long]("vec_id") === 3L) // cos ~ 0.9938
  }

  test("typed MomentAggregator matches the relational moment sums") {
    import graft.core.MomentAggregator
    val pairs = Seq((4.0, 5.0), (3.0, 4.0), (1.0, 2.0))
    val buf = pairs.foldLeft(MomentAggregator.zero)(MomentAggregator.reduce)
    assert(buf.n === 3L && buf.sx === 8.0 && buf.sy === 11.0)
    assert(buf.sxy === 4.0 * 5.0 + 3.0 * 4.0 + 1.0 * 2.0)
    // merge is the same monoid op (the streaming-aggregable property)
    val (l, r) = pairs.splitAt(1)
    val merged = MomentAggregator.merge(
      l.foldLeft(MomentAggregator.zero)(MomentAggregator.reduce),
      r.foldLeft(MomentAggregator.zero)(MomentAggregator.reduce))
    assert(merged === buf)
    // typed end-to-end through a Dataset group-by
    val ds = pairs.map { case (x, y) => (1L, x, y) }.toDF("k", "x", "y")
      .as[(Long, Double, Double)]
    val agg = ds.groupByKey(_._1)
      .mapValues(t => (t._2, t._3))
      .agg(MomentAggregator.toColumn).collect()(0)._2
    assert(agg === buf)
    assert(MomentAggregator.pearson(buf) === 1.0) // y = x + 1 exactly
  }

  test("sinks: semicolon lines, parquet roundtrip, csv dialect") {
    import graft.io.Sinks
    val tmp = java.nio.file.Files.createTempDirectory("sinks").toString
    val df = Seq(("A", "B", 1.0, 2L)).toDF("item_x", "item_y", "corr", "n")
    Sinks.writeSemicolon(df, Seq("item_x", "item_y", "corr", "n"), s"$tmp/semi")
    val line = spark.read.text(s"$tmp/semi").collect()(0).getString(0)
    assert(line === "A;B;1.0;2")
    Sinks.writeParquet(df, s"$tmp/pq", partitionBy = Seq("item_x"))
    assert(spark.read.parquet(s"$tmp/pq").count() === 1L)
    Sinks.writeCsv(df, s"$tmp/csv", sep = "|")
    assert(spark.read.option("sep", "|").csv(s"$tmp/csv").count() === 1L)
  }

  test("hash sample is partitioning-invariant and roughly pct-sized") {
    import graft.ext.Sampling
    val ids = spark.range(0, 2000).toDF("doc_id")
    val key = col("doc_id").cast("string")
    val s1 = Sampling.hashSample(ids, key, 10.0)
    val s2 = Sampling.hashSample(ids.repartition(7), key, 10.0)
    val rows1 = s1.collect().map(_.getLong(0)).sorted.toSeq
    assert(rows1 === s2.collect().map(_.getLong(0)).sorted.toSeq)
    assert(rows1.size > 100 && rows1.size < 300) // ~10% of 2000
  }

  test("stratified sample: exactly n per stratum, stable under reruns") {
    import graft.ext.Sampling
    val df = spark.range(0, 300)
      .select(col("id").as("doc_id"), (col("id") % 3).as("lang"))
    val out = Sampling.stratified(df, col("lang"),
      col("doc_id").cast("string"), 5)
    val byLang = out.collect().groupBy(_.getLong(1))
    assert(byLang.size === 3 && byLang.values.forall(_.length === 5))
    val again = Sampling.stratified(df.repartition(5), col("lang"),
      col("doc_id").cast("string"), 5)
    assert(out.exceptAll(again).isEmpty && again.exceptAll(out).isEmpty)
  }

  test("weightedMix: whole-rate copies exact, zero-rate dropped, fraction gated") {
    import graft.ext.Sampling
    val df = spark.range(0, 600).select(
      col("id").as("doc_id"),
      concat(lit("s"), (col("id") % 3).cast("string")).as("source"))
    val out = Sampling.weightedMix(df, col("source"),
      col("doc_id").cast("string"),
      Map("s0" -> 2.0, "s1" -> 0.0, "s2" -> 0.5), defaultRate = 1.0)
    val bySrc = out.groupBy(col("source")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc("s0") === 400L)          // 200 rows × exactly 2 copies
    assert(!bySrc.contains("s1"))         // rate 0 drops the source
    assert(bySrc("s2") > 40 && bySrc("s2") < 160) // ~50% of 200
    // copy_id numbering: every s0 doc has copies 1 and 2
    val ids = out.where(col("source") === "s0")
      .groupBy(col("doc_id")).agg(sort_array(collect_list(col("copy_id"))))
      .collect()
    assert(ids.forall(_.getSeq[Long](1) === Seq(1L, 2L)))
  }

  test("compactParquet merges a many-file dir into few files, same rows") {
    val in = "/tmp/graft-compact-in"; val out = "/tmp/graft-compact-out"
    val src = spark.range(0, 10000).toDF("id")
    src.repartition(20).write.mode("overwrite").parquet(in)
    graft.io.Sinks.compactParquet(spark, in, out, targetMB = 128)
    val outFiles = new java.io.File(out).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(outFiles === 1) // tiny data -> single target-size file
    assert(spark.read.parquet(out).count() === 10000L)
  }

  test("orc source/sink roundtrip with pushdown-visible scan") {
    val dir = "/tmp/graft-orc-roundtrip"
    val src = toyRatings.select(col("user_id"), col("item_id"), col("rating"))
    graft.io.Sinks.writeOrc(src, dir)
    val back = graft.io.Sources.orc(spark, dir)
    assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty)
    val plan = back.where(col("rating") > 3.0)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan"),
      s"orc scan should push the predicate:\n$plan")
  }

  test("nested hash samples: the 5% cut is a subset of the 10% cut") {
    import graft.ext.Sampling
    val ids = spark.range(0, 5000).toDF("doc_id")
    val key = col("doc_id").cast("string")
    val small = Sampling.hashSample(ids, key, 5.0)
    val large = Sampling.hashSample(ids, key, 10.0)
    // hash gating gives CONSISTENT nested samples: growing the rate
    // only adds rows — rand()-based sampling cannot promise this
    assert(small.exceptAll(large).isEmpty)
    assert(small.count() < large.count())
  }

  test("json source/sink roundtrip preserves the ratings dialect") {
    val dir = "/tmp/graft-json-roundtrip"
    val src = toyRatings.select(col("user_id"), col("item_id"), col("rating"))
    graft.io.Sinks.writeJson(src, dir)
    val back = graft.io.Sources.jsonRatings(spark, dir)
    assert(back.schema.map(_.name) === Seq("user_id", "item_id", "rating"))
    assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty)
  }

  test("IVF topK: query in a cell finds its cluster-mates; recall vs brute force") {
    // two clean clusters around (1,0) and (0,1)
    val emb = Seq(
      (1L, Array(1.0f, 0.05f)), (2L, Array(0.9f, 0.1f)), (3L, Array(0.95f, 0.0f)),
      (4L, Array(0.05f, 1.0f)), (5L, Array(0.1f, 0.9f)), (6L, Array(0.0f, 0.95f)))
      .toDF("vec_id", "embedding")
    val cells = Seq((0L, Array(1.0d, 0.0d)), (1L, Array(0.0d, 1.0d)))
      .toDF("cell_id", "centroid")
    val queries = Seq((100L, Array(0.98f, 0.02f))).toDF("qid", "qvec")
    val ivf = VectorSearch.ivfTopK(emb, cells, queries, "qid", "qvec", 3, 1)
      .orderBy(col("rn")).collect().map(_.getAs[Long]("vec_id"))
    // nProbe=1 restricts the scan to cluster A's members only
    assert(ivf.toSet.subsetOf(Set(1L, 2L, 3L)) && ivf.length === 3)
    // and matches brute force (probes spanning the whole space)
    val brute = VectorSearch.topKByCosine(emb,
      Seq((100L, Array(0.98d, 0.02d))).toDF("qid", "qvec2"), "qid", "qvec2", 3)
      .orderBy(col("rn")).collect().map(_.getAs[Long]("vec_id"))
    assert(ivf.toSeq === brute.toSeq)
  }

  test("q_ann_recall: recall is measured against true neighbors and " +
    "clears the corpus floor") {
    val rows = SparkEntry.queries("q_ann_recall")(spark, sf001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val hits = r.getAs[Long]("n_hits")
      assert(hits >= 0L && hits <= 3L)
      // recall is exactly the rounded hits/k — no independent arithmetic
      val exp = math.floor(hits / 3.0 * 10000.0 + 0.5) / 10000.0
      assert(r.getAs[Double]("recall") === exp)
    }
    // the 2-probe IVF on this corpus finds at least one true neighbor
    // per query and >= 40% overall (measured 0.53 at sf0.001; the
    // floor leaves headroom for fixture regeneration, not for a
    // broken probe path, which scores ~0)
    assert(rows.forall(_.getAs[Long]("n_hits") >= 1L))
    val mean = rows.map(_.getAs[Long]("n_hits")).sum.toDouble / (3.0 * rows.length)
    assert(mean >= 0.4, s"mean recall@3 $mean below floor")
  }

  test("q_ann_ivf_pq_recall: compression costs bounded recall, not all of it") {
    val rows = SparkEntry.queries("q_ann_ivf_pq_recall")(spark, sf001)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val hits = r.getAs[Long]("n_hits")
      assert(hits >= 0L && hits <= 3L)
      val exp = math.floor(hits / 3.0 * 10000.0 + 0.5) / 10000.0
      assert(r.getAs[Double]("recall") === exp)
    }
    // the 4×8-code PQ is deliberately coarse and the synthetic
    // embeddings near-random — the compressed path must still beat a
    // broken one (~0; random top-3 of 500 is ~0.006) by a wide margin
    // (measured 0.43 at sf0.01). Floor at 0.2.
    val mean = rows.map(_.getAs[Long]("n_hits")).sum.toDouble / (3.0 * rows.length)
    assert(mean >= 0.2, s"mean IVF-PQ recall@3 $mean below floor")
  }

  test("banded LSH: over-cap buckets are dropped and surfaced for monitoring") {
    // 300 identical vectors — a degenerate hot bucket in every band
    val hot = spark.range(300).select(col("id").as("vec_id"),
      array((1 to 64).map(_ => lit(1.0f)): _*).as("embedding"))
    val over = VectorSearch.overCapBuckets(hot, 4, 16, cap = 100).collect()
    assert(over.length === 4 && over.forall(_.getAs[Long]("sz") === 300L))
    assert(VectorSearch.bandedCandidates(hot, 4, 16, cap = 100).count() === 0L)
    // cap above the bucket size: every pair appears, agreeing on all bands
    val all = VectorSearch.bandedCandidates(hot, 4, 16, cap = 500)
    assert(all.count() === 300L * 299L / 2L)
    assert(all.where(col("bands") =!= 4).count() === 0L)
  }

  test("banded LSH with autoBandBits: candidates grow ~linearly in a 10x blowup") {
    // deterministic pseudo-random sign patterns (murmur over (id, dim));
    // dim 80 leaves room for 4 bands × autoBandBits(20000)=19 bits
    def synth(n: Int) = spark.range(n).select(col("id").as("vec_id"),
      transform(sequence(lit(1), lit(80)),
        i => when(pmod(hash(col("id"), i), lit(2)) === 0, lit(1.0f))
          .otherwise(lit(-1.0f))).as("embedding"))
    assert(VectorSearch.autoBandBits(2000) === 16)
    assert(VectorSearch.autoBandBits(20000) === 19)
    val cS = VectorSearch.bandedCandidates(synth(2000), 4,
      VectorSearch.autoBandBits(2000)).count()
    val cB = VectorSearch.bandedCandidates(synth(20000), 4,
      VectorSearch.autoBandBits(20000)).count()
    assert(cS > 0) // 16-bit buckets over 2k random vectors do collide
    // ~linear: expected ≈12×; a fixed-bucket (r1) scheme would be ~100×
    assert(cB < cS * 30,
      s"10x data grew candidates ${cB.toDouble / cS}x — quadratic behavior")
  }

  test("minhash bucket cap: hot boilerplate buckets drop, true pairs survive") {
    val boiler = (1L to 250L).map(i =>
      i -> "common boilerplate header text repeated across the corpus every time")
    val pair = Seq(
      900L -> "unique snowflake document alpha beta gamma delta epsilon zeta",
      901L -> "unique snowflake document alpha beta gamma delta epsilon zeta")
    val docs = docsDF((boiler ++ pair): _*)
    val bm = Dedup.minhashBandMins(Dedup.shingles(docs))
    // every band's boilerplate bucket holds 250 docs > cap=200
    assert(Dedup.minhashOverCapBuckets(bm).count() === Dedup.Bands.toLong)
    val cand = Dedup.minhashCandidates(bm).collect()
    assert(cand.map(r => (r.getLong(0), r.getLong(1))).toSet === Set((900L, 901L)))
    assert(cand.head.getLong(2) === Dedup.Bands.toLong)
  }

  test("IVF assignment path is max_by aggregation, not a window sort") {
    val emb = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val cells = Seq((0L, Array(1.0d, 0.0d)), (1L, Array(0.0d, 1.0d)))
      .toDF("cell_id", "centroid")
    val queries = Seq((9L, Array(1.0f, 0.0f))).toDF("qid", "qvec")
    val ivf = VectorSearch.ivfTopK(emb, cells, queries, "qid", "qvec", 1, 1)
    val plan = ivf.queryExecution.executedPlan.toString
    // only the probe-side and final-scan rankers are windows (both
    // partition on the small query key); the N-row build-side
    // assignment must be the max_by aggregate
    assert("Window \\[".r.findAllIn(plan).length === 2,
      s"expected probe+scan windows only:\n$plan")
    assert(plan.contains("max_by"), plan)
  }

  test("kmeansCells learns the cluster directions and is partition-invariant") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)),
      (3L, Array(0.9f, 0.1f)), (4L, Array(0.95f, 0.05f)),
      (5L, Array(0.1f, 0.9f)), (6L, Array(0.05f, 0.95f)))
      .toDF("vec_id", "embedding")
    val cells = VectorSearch.kmeansCells(emb, k = 2, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(cells.keySet === Set(1L, 2L)) // seeded from the 2 lowest ids
    val c1 = cells(1L); val c2 = cells(2L)
    assert(math.abs(c1(0) - 0.95) < 0.01 && math.abs(c1(1) - 0.05) < 0.01)
    assert(math.abs(c2(0) - 0.05) < 0.01 && math.abs(c2(1) - 0.95) < 0.01)
    // bit-identical under a different partitioning (fixed-point means)
    val again = VectorSearch.kmeansCells(emb.repartition(3), k = 2, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(again === cells)
  }

  test("semDedup: keep-first within cells, over-cap cells excluded") {
    val u = Array(1.0f, 0.0f, 0.0f, 0.0f)
    val w = Array(0.0f, 1.0f, 0.0f, 0.0f)
    val mix = Array(1.0f, 1.0f, 0.0f, 0.0f) // cos 0.7071 to both axes
    val emb = Seq(
      0L -> u, 1L -> u, 2L -> mix, // cell 0 (tie → smaller cell_id)
      3L -> w, 4L -> w, 5L -> w, 6L -> w) // cell 1, over cap
      .toDF("vec_id", "embedding")
    val cells = Seq(
      (0L, Array(1.0, 0.0, 0.0, 0.0)),
      (1L, Array(0.0, 1.0, 0.0, 0.0)))
      .toDF("cell_id", "centroid")
    val out = VectorSearch.semDedup(emb, cells, tau = 0.9, cap = 3)
      .orderBy(col("vec_id")).collect()
    assert(out.map(_.getLong(1)).toSeq === Seq(0L, 0L, 0L, 1L, 1L, 1L, 1L))
    // only v1 is a dup: identical to lower-id cell-mate v0
    assert(out.map(r => r.getLong(4)).toSeq === Seq(0, 1, 0, 0, 0, 0, 0))
    assert(out(1).getDouble(3) === 1.0)
    // v2's best lower-id cosine is below tau → kept, score reported
    assert(out(2).getDouble(3) === 0.7071)
    // cell 1 (4 members > cap 3): excluded from pairing, flagged —
    // its identical copies are NOT marked dups by this pass
    assert(out.map(_.getLong(5)).toSeq === Seq(0, 0, 0, 1, 1, 1, 1))
    assert(out.drop(3).forall(_.getLong(2) == 0L))
    // v0 has no lower-id mate: sentinel max
    assert(out(0).getDouble(3) === -2.0)
  }

  test("semDedup rescue: sub-split judges over-cap cells, residue stays flagged") {
    val u = Array(1.0f, 0.0f, 0.0f, 0.0f)
    val w = Array(0.0f, 1.0f, 0.0f, 0.0f)
    val x = Array(0.0f, 0.5f, 1.0f, 0.0f) // cos>0 only to cell 1's axis
    val y = Array(0.0f, 0.0f, 0.0f, 1.0f)
    val mix = Array(1.0f, 1.0f, 0.0f, 0.0f)
    val emb = Seq(
      0L -> u, 1L -> u, 2L -> mix, // cell 0: under cap, base verdicts
      3L -> w, 4L -> x, 5L -> w, 6L -> x, // cell 1: over cap, SPLITTABLE
      7L -> y, 8L -> y, 9L -> y, 10L -> y) // cell 2: over cap, degenerate
      .toDF("vec_id", "embedding")
    val cells = Seq(
      (0L, Array(1.0, 0.0, 0.0, 0.0)),
      (1L, Array(0.0, 1.0, 0.0, 0.0)),
      (2L, Array(0.0, 0.0, 0.0, 1.0)))
      .toDF("cell_id", "centroid")
    val assigned = VectorSearch.assignCells(emb, broadcast(
      cells.select(col("cell_id"), col("centroid"),
        VectorSearch.fixedNormSq(col("centroid")).as("cnrm"))))
    val out = VectorSearch.semDedupWithRescue(assigned, tau = 0.9,
        cap = 3, ksub = 2)
      .orderBy(col("vec_id")).collect()
    assert(out.map(_.getLong(0)).toSeq === (0L to 10L))
    // over_cap marks the PRIMARY cell unchanged by the rescue
    assert(out.map(_.getLong(5)).toSeq ===
      Seq(0, 0, 0, 1, 1, 1, 1, 1, 1, 1, 1))
    // cell 1 splits on its two seed directions (seeds 3=w, 4=x) into
    // sub-cells {3,5} and {4,6}, both under cap → rescued verdicts;
    // cell 2's members are identical, the split cannot separate them
    // (all tie to the lower seed) → sub-cell of 4 stays over cap →
    // rescued=0, sentinel verdicts survive as the monitored residue
    assert(out.map(_.getLong(6)).toSeq ===
      Seq(0, 0, 0, 1, 1, 1, 1, 0, 0, 0, 0))
    // rescued dups: 5 dups 3 (cos 1.0), 6 dups 4; seeds stay keepers
    assert(out.map(_.getLong(4)).toSeq ===
      Seq(0, 1, 0, 0, 0, 1, 1, 0, 0, 0, 0))
    assert(out(5).getDouble(3) === 1.0) // v5's prior = v3, identical
    assert(out(3).getDouble(3) === -2.0) // v3: no lower-id sub-mate
    // residue keeps sentinels exactly like the pre-rescue exclusion
    assert(out.drop(7).forall(r =>
      r.getLong(2) == 0L && r.getDouble(3) == -2.0 && r.getLong(4) == 0L))
  }

  test("topDirection: unit norm, determinism, and a planted dominant axis") {
    // plant variance along axis 2: the 2-round power approximant from
    // the e_1 seed must land (up to sign) on e_2 for this clean cloud
    val emb = (0 until 20).map { k =>
      val v = Array.fill(4)(0.0f)
      v(1) = (k - 10).toFloat // dominant spread on axis 2
      v(2) = 0.1f * (k % 3)   // small noise on axis 3
      (k.toLong, v)
    }.toDF("vec_id", "embedding")
    val out = VectorSearch.topDirection(emb, iters = 2)
      .orderBy(col("dim")).collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L, 4L))
    val pc = out.map(_.getDouble(2))
    // unit norm within r4 rounding
    assert(math.abs(pc.map(x => x * x).sum - 1.0) < 1e-3)
    // dominant axis wins
    assert(math.abs(pc(1)) > 0.99)
    // bit-determinism across rebuilds
    val again = VectorSearch.topDirection(emb, iters = 2)
      .orderBy(col("dim")).collect().map(_.getDouble(2))
    assert(again.toSeq === pc.toSeq)
  }

  test("ngramContainment: subset pair scores 1.0 while jaccard stays low") {
    val docs = docsDF(
      1L -> "a b c d",                          // 2 shingles, both in doc 2
      2L -> "a b c d e f g h i j k l m n o p") // 14 shingles
    val ds = Dedup.shingles(docs).distinct().persist()
    val cand = Seq((1L, 2L)).toDF("d1", "d2")
    val row = Dedup.ngramContainment(cand, ds).collect().head
    assert(row.getAs[Long]("common") === 2L)
    assert(row.getAs[Double]("containment") === 1.0)
    assert(row.getAs[Double]("jaccard") < 0.2)
    // containment >= jaccard always (min <= union)
    val corpus = docsDF(1L -> "a b c d", 2L -> "a b c d e f",
      3L -> "x y z w v u")
    val ds2 = Dedup.shingles(corpus).distinct().persist()
    val all = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("d1", "d2")
    Dedup.ngramContainment(all, ds2).collect().foreach { r =>
      assert(r.getAs[Double]("containment") >= r.getAs[Double]("jaccard"))
    }
  }

  test("thresholdSweep counts a pair sitting exactly on τ = 0.15, 0.30 " +
    "and 0.35") {
    // i·0.05 in IEEE doubles overshoots at i = 3, 6 and 7; the SQL twin
    // compares against the exact DECIMAL, and so does this reference
    val cos = Seq(0.15, 0.3, 0.35, 0.1499, 0.45, -0.2)
    val pairs = cos.zipWithIndex.map { case (c, k) => (0L, k + 1L, c) }
      .toDF("v1", "v2", "cos_sim")
    val rows = Dedup.thresholdSweep(pairs).collect()
    assert(rows.map(_.getAs[Long]("tau_pct")).toSeq === (0L to 45L by 5L))
    rows.foreach { r =>
      val tau = BigDecimal(r.getAs[Long]("tau_pct")) / 100
      val want = cos.count(c => BigDecimal(c) >= tau).toLong
      assert(r.getAs[Long]("n_pairs") === want, s"at tau $tau")
      assert(r.getAs[Long]("n_dropped_docs") === want, s"at tau $tau")
    }
    val byPct = rows.map(r =>
      r.getAs[Long]("tau_pct") -> r.getAs[Long]("n_pairs")).toMap
    assert(byPct(15L) === 4L && byPct(30L) === 3L && byPct(35L) === 2L)
  }

  test("sq rerank orders a shortlist by dequantized cosine") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(0.1f, 0.9f)))
      .toDF("vec_id", "embedding")
    val cand = Seq((1L, 1L), (1L, 2L), (1L, 3L)).toDF("qid", "vec_id")
    val out = VectorSearch.sqRerank(cand, emb, "qid", 3)
      .orderBy(col("rn")).collect()
    // self first, near-duplicate second, orthogonal last
    assert(out.map(_.getLong(0)).toSeq === Seq(1L, 1L, 1L))
    assert(out.map(_.getLong(1)).toSeq === Seq(1L, 2L, 3L))
    // int8 reconstruction keeps self-similarity within quantization
    // error of 1.0
    assert(math.abs(out(0).getDouble(2) - 1.0) < 0.02)
  }

  test("multimodal: resize fixes batch shape; features feed ANN end-to-end") {
    val docs = docsDF(1L -> "a b c d e f g h i j k l",
      2L -> "a b c d e f g h i j k m", 3L -> "zz yy xx ww vv uu")
    val media = Multimodal.mediaTable(docs)
    val resized = Multimodal.resizeAll(media, outLen = 16).collect()
    assert(resized.forall(_.media.length === 16)) // constant batch shape
    val feats = Multimodal.featuresAll(media, dim = 8)
      .select(col("doc_id").as("vec_id"), col("features").as("embedding"))
    // doc 1 probes the corpus: nearest by cosine must be itself, and
    // the near-identical doc 2 must beat the disjoint doc 3
    val probe = feats.where(col("vec_id") === 1L)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val top = VectorSearch.topKByCosine(feats, probe, "qid", "qvec", 3)
      .orderBy(col("rn")).collect()
    assert(top(0).getLong(1) === 1L)
    assert(top(1).getLong(1) === 2L)
  }

  test("multimodal: typed decode path matches the Column metadata path") {
    val docs = docsDF(1L -> "some media payload bytes here", 2L -> "x")
    val viaColumns = Multimodal.mediaMeta(docs)
      .orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getLong(4)))
    val viaDecode = Multimodal.decodeAll(Multimodal.mediaTable(docs))
      .orderBy(col("doc_id")).collect()
      .map(m => (m.doc_id, m.n_bytes, m.width, m.height))
    assert(viaColumns.toSeq === viaDecode.toSeq)
  }

  test("multimodal: animated-GIF frame inventory round-trips the fixture") {
    import graft.io.VideoFixtures
    val ids = Seq(0L, 3L, 7L) // 2, 5, 4 frames respectively
    val media = ids.map(id => (id, VideoFixtures.encode(id)))
      .toDF("doc_id", "media")
    val got = Multimodal.frameInventory(media)
      .orderBy(col("doc_id"), col("frame_id")).collect()
    val want = for {
      id <- ids
      f <- 0L until VideoFixtures.framesOf(id)
    } yield (id, f, VideoFixtures.widthOf(id), VideoFixtures.heightOf(id),
      VideoFixtures.delayOf(id, f))
    assert(got.map(x =>
      (x.doc_id, x.frame_id, x.width, x.height, x.delay_cs)).toSeq === want)
    // a non-media payload parses to NOTHING, never to fake rows
    val junk = Seq((9L, "not a gif".getBytes("UTF-8"))).toDF("doc_id", "media")
    assert(Multimodal.frameInventory(junk).count() === 0L)
  }

  test("scalar quantization: endpoints exact, interior bounded by half-step") {
    val emb = Seq(
      (1L, Array(0.0f, 1.0f)),
      (2L, Array(1.0f, 0.5f)),
      (3L, Array(0.3f, 0.75f)))
      .toDF("vec_id", "embedding")
    val q = VectorSearch.scalarQuantize(emb)
      .collect().map(r => r.getAs[Long]("vec_id") -> r).toMap
    // per-dim ranges: dim0 [0,1], dim1 [0.5,1]; range endpoints encode
    // to 0/255 and reconstruct exactly
    assert(q(1L).getAs[Long]("code_min") === 0L)   // dim0=0 -> code 0
    assert(q(1L).getAs[Long]("code_max") === 255L) // dim1=1 -> code 255
    assert(q(2L).getAs[Long]("err_fx") === 0L)     // both dims at endpoints
    assert(q.values.forall(r => r.getAs[Long]("n_dims") === 2L))
    assert(q.values.forall(r => r.getAs[Long]("code_max") <= 255L &&
      r.getAs[Long]("code_min") >= 0L))
    // interior value: |v - deq| <= half a quantization step per dim
    // (range/255/2 = 1/510 ≈ 0.00196 -> fx <= 1_960_785 per dim)
    assert(q(3L).getAs[Long]("err_fx") > 0L)
    assert(q(3L).getAs[Long]("err_fx") <= 2L * 1961000L)
  }

  test("multimodal decode: real PNG/BMP payloads decode via javax.imageio") {
    def imageBytes(fmt: String, w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      img.setRGB(1, 1, 0xffcc00)
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, baos)
      baos.toByteArray
    }
    val rows = Seq(
      (1L, imageBytes("png", 37, 21)),
      (2L, imageBytes("bmp", 12, 48)),
      (3L, "not an image at all".getBytes("UTF-8")),
      // passes the 'BM' magic sniff but is NOT a bitmap: the JDK
      // reader throws an unchecked exception — must fall back to the
      // deterministic fake, not crash the task
      (4L, "BMx this text merely starts like a bitmap".getBytes("UTF-8")))
    val out = Multimodal.decodeAll(rows.toDF("doc_id", "media"))
      .collect().map(m => m.doc_id -> m).toMap
    // real decodes: actual pixel dimensions + sniffed format, 1 frame
    assert(out(1L).width === 37L && out(1L).height === 21L)
    assert(out(1L).format_id === Multimodal.FormatPng && out(1L).n_frames === 1L)
    assert(out(2L).width === 12L && out(2L).height === 48L)
    assert(out(2L).format_id === Multimodal.FormatBmp)
    // non-image payload: deterministic fallback, same shape
    val n = rows(2)._2.length.toLong
    assert(out(3L).n_bytes === n && out(3L).width === 64L + n % 640)
    val n4 = rows(3)._2.length.toLong
    assert(out(4L).n_bytes === n4 && out(4L).width === 64L + n4 % 640)
  }

  test("audio decode is real for WAV payloads and falls back " +
    "deterministically otherwise") {
    // real WAV roundtrip through the fixture encoder: header fields,
    // not byte-length arithmetic, must come back
    val ids = Seq(0L, 1L, 5L, 10L)
    val rows = ids.map(id => (id, graft.io.AudioFixtures.encode(id))) :+
      (99L, "definitely not a RIFF container".getBytes("UTF-8"))
    val out = Multimodal.decodeAudioAll(rows.toDF("doc_id", "media"))
      .collect().map(m => m.doc_id -> m).toMap
    for (id <- ids) {
      val m = out(id)
      assert(m.sample_rate === graft.io.AudioFixtures.rateOf(id))
      assert(m.channels === graft.io.AudioFixtures.channelsOf(id))
      assert(m.sample_bits === 16L)
      assert(m.n_samples === graft.io.AudioFixtures.samplesOf(id))
      assert(m.duration_ms ===
        graft.io.AudioFixtures.samplesOf(id) * 1000L /
          graft.io.AudioFixtures.rateOf(id))
    }
    // non-audio payload: the fake path, whose rate can never collide
    // with a real header's (8000..8006 vs the standard rates)
    val n = rows.last._2.length.toLong
    assert(out(99L).n_bytes === n && out(99L).sample_rate === 8000L + n % 7)
  }

  test("multimodal resize/features are real for image payloads") {
    def png(shade: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        32, 24, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = img.createGraphics()
      g.setColor(new java.awt.Color(shade, shade, shade))
      g.fillRect(0, 0, 32, 24)
      g.dispose()
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", baos)
      baos.toByteArray
    }
    val media = Seq((1L, png(20)), (2L, png(235)),
      (3L, "plain text payload".getBytes("UTF-8")))
      .toDF("doc_id", "media")
    val resized = Multimodal.resizeAll(media, outLen = 16)
      .collect().map(r => r.doc_id -> r.media).toMap
    assert(resized.values.forall(_.length === 16)) // constant batch shape
    // a 4x4 grayscale thumbnail of a flat dark image is uniformly
    // darker than the bright image's
    assert(resized(1L).map(_ & 0xff).sum < resized(2L).map(_ & 0xff).sum)
    val feats = Multimodal.featuresAll(media, dim = 8)
      .collect().map(f => f.doc_id -> f.features).toMap
    // luminance mass lands in the matching histogram bin: shade 20 ->
    // bin 0, shade 235 -> bin 7; L1-normalized
    assert(feats(1L)(0) === 1.0f && feats(2L)(7) === 1.0f)
    assert(feats.values.forall(f => math.abs(f.sum - 1.0f) < 1e-4))
  }

  test("Recommender.fit drops null-key rows on both routes") {
    // user_id: long with nulls -> int-safe DIRECT route;
    // item_id: string with nulls -> DICTIONARY route. Pre-r5 the
    // direct route crashed inside ALS on the null cast while the dict
    // route silently dropped — now both drop, explicitly.
    val r = Seq[(java.lang.Long, String, Double)](
      (1L, "a", 4.0), (1L, "b", 3.0), (2L, "a", 5.0),
      (2L, "b", 2.0), (null, "a", 2.0), (1L, null, 1.0))
      .toDF("user_id", "item_id", "rating")
    val recs = graft.ext.Recommender
      .recommendTopK(graft.ext.Recommender.fit(r, rank = 2, maxIter = 1), 1)
      .collect()
    assert(recs.map(_.getLong(0)).toSet === Set(1L, 2L))
    assert(recs.forall(row => Set("a", "b").contains(row.getString(1))))
  }

  test("DialectFixtures fails loudly on a leaf-name collision") {
    import graft.io.DialectFixtures
    DialectFixtures.writeMovies(spark, sf001)
    val imposter = "/tmp/graft-imposter/" +
      java.nio.file.Paths.get(sf001).getFileName.toString
    val e = intercept[IllegalStateException](
      DialectFixtures.writeMovies(spark, imposter))
    assert(e.getMessage.contains("leaf name"))
    // but a different SPELLING of the same dir is not a collision:
    // markers compare canonicalized paths (r5 review fix)
    DialectFixtures.writeMovies(spark, sf001 + "/")
    DialectFixtures.writeMovies(spark, sf001 + "/../" +
      java.nio.file.Paths.get(sf001).getFileName.toString)
  }

  test("DialectFixtures renders under <user.dir>/target/dialect unless graft.fixture.dir is set") {
    import graft.io.DialectFixtures
    val userDir = sys.props("user.dir")
    assert(DialectFixtures.baseDir(None) === s"$userDir/target/dialect")
    assert(DialectFixtures.baseDir(Some("/tmp/fixtures")) === "/tmp/fixtures")
    if (!sys.props.contains("graft.fixture.dir"))
      assert(DialectFixtures.BaseDir.startsWith(userDir + "/"))
  }

  test("recommender dict mapping falls back to shuffle join past the gate") {
    spark.conf.set("spark.graft.dict.broadcastMax", "0")
    try {
      val r = Seq((1L, "a", 4.0), (1L, "b", 3.0), (2L, "a", 5.0),
        (2L, "b", 2.0)).toDF("user_id", "item_id", "rating")
      val recs = graft.ext.Recommender
        .recommendTopK(graft.ext.Recommender.fit(r, rank = 2, maxIter = 1), 1)
        .collect()
      assert(recs.map(_.getLong(0)).toSet === Set(1L, 2L))
      assert(recs.forall(row => Set("a", "b").contains(row.getString(1))))
    } finally spark.conf.unset("spark.graft.dict.broadcastMax")
  }

  test("PQ: identical vectors share codes; ADC ranks own cluster first") {
    import spark.implicits._
    // two exact point clouds in 64 dims: ids alternate so the seed
    // window (8 lowest ids) sees both patterns; values are multiples
    // of 2^-k so fixed-point means reproduce members exactly
    val a = Array.tabulate(64)(i => if (i % 2 == 0) 0.5f else -0.25f)
    val b = Array.tabulate(64)(i => if (i % 3 == 0) -1.0f else 0.75f)
    val emb = (0L until 10L).map(id =>
        (id, if (id % 2 == 0) a else b))
      .toDF("vec_id", "embedding")
    val cent = VectorSearch.pqTrain(emb)
    // codebook geometry: every subspace has full-dim centroids
    val bySub = cent.groupBy("sub").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(bySub.keySet == Set(0, 1, 2, 3))
    // codes: all a-copies identical, all b-copies identical, disjoint
    val codes = VectorSearch.pqEncode(emb, cent).collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.map(r => (r.getInt(1), r.getLong(2))).toSet).toMap
    assert((0L until 10L by 2).map(codes).toSet.size == 1)
    assert((1L until 10L by 2).map(codes).toSet.size == 1)
    assert(codes(0L) != codes(1L))
    // ADC from one query per cluster: own cluster fills the top-5
    // with adist 0 (centroid == the exact member pattern)
    val out = VectorSearch.pqAdcTopK(
        emb.where(col("vec_id") < 2), cent, VectorSearch.pqEncode(emb, cent),
        k = 5)
      .collect().groupBy(_.getLong(0))
    for (q <- Seq(0L, 1L)) {
      val rows = out(q).sortBy(_.getLong(3))
      assert(rows.length == 5)
      assert(rows.map(_.getLong(3)).toSeq == (1L to 5L))
      assert(rows.forall(r => r.getLong(1) % 2 == q % 2),
        s"query $q should retrieve only its own cluster: " +
          rows.map(_.getLong(1)).toSeq)
      assert(rows.forall(_.getLong(2) == 0L))
    }
  }

  test("IVF-PQ rerank: results come from the shortlist, ADC-ordered") {
    // the composed serving stack at sf0.001: every reranked row must
    // be an IVF shortlist member, ranks contiguous from 1, and adist
    // non-decreasing in rn per query (the ADC ordering contract)
    val out = graft.SparkEntry.queries("q_ann_ivf_pq")(spark, sf001).collect()
    assert(out.nonEmpty)
    val emb = spark.read.parquet(s"$sf001/embeddings.parquet")
    val cells = VectorSearch.labelCentroids(emb)
      .select(col("label").cast("long").as("cell_id"), col("centroid"))
    val queries = emb.where(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val shortlist = VectorSearch.ivfTopK(
        emb.select(col("vec_id"), col("embedding")), cells, queries,
        "qid", "qvec", 10, 2)
      .select(col("qid"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    out.groupBy(_.getLong(0)).foreach { case (qid, rows) =>
      val sorted = rows.sortBy(_.getLong(3))
      assert(sorted.map(_.getLong(3)).toSeq == (1L to sorted.length))
      assert(sorted.length <= 3)
      sorted.foreach(r =>
        assert(shortlist.contains((qid, r.getLong(1))),
          s"($qid, ${r.getLong(1)}) not in the IVF shortlist"))
      val dists = sorted.map(_.getLong(2))
      assert(dists.zip(dists.drop(1)).forall { case (a, b) => a <= b })
    }
  }

  test("textWindows: strided coverage, short-doc drop, cross-doc dups") {
    import spark.implicits._
    // 60 chars → i ∈ {0,1,2} → 3 windows at 1, 11, 21; 39 chars → none
    val a = ("x" * 9 + "A") * 6            // 60 chars
    val b = "y" * 39                       // below w → no windows
    val docs = Seq((1L, a), (2L, b), (3L, a)).toDF("doc_id", "text")
    val wins = graft.ext.Dedup.textWindows(docs)
    val byDoc = wins.groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byDoc == Map(1L -> 3L, 3L -> 3L))
    // every doc-1 window recurs verbatim in doc 3 → all dup'd
    // (the registered query's aggregation shape, on the toy frame)
    import org.apache.spark.sql.expressions.Window
    val perDocWin = wins.groupBy(col("wstr"), col("doc_id"))
      .agg(count(lit(1)).as("occ"))
    val marked = perDocWin.withColumn("ndocs",
      count(lit(1)).over(Window.partitionBy(col("wstr"))))
    val dup = marked.groupBy(col("doc_id"))
      .agg(sum(when(col("ndocs") >= 2, col("occ")).otherwise(0L)).as("nd"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dup == Map(1L -> 3L, 3L -> 3L))
  }

  test("q_gapfill: contiguous day axis, carried-forward fill, gap flags") {
    val rows = graft.SparkEntry.queries("q_gapfill")(spark, sf001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (_, rs) =>
      val days = rs.map(_._2)
      // the axis is every day in [min, max], exactly once
      assert(days.toSet == (days.min to days.max).toSet)
      assert(days.length == days.toSet.size)
      // endpoints are observations, gaps carry the previous value
      val sorted = rs.sortBy(_._2)
      assert(sorted.head._3 > 0 && sorted.last._3 > 0)
      sorted.sliding(2).foreach {
        case Array((_, _, _, prevFill, _), (_, _, n, fill, gap)) =>
          if (n == 0L) { assert(gap == 1L && fill == prevFill) }
          else assert(gap == 0L)
        case _ =>
      }
    }
  }

  test("q_knn_classify: one prediction per probe, drawn from neighbor labels") {
    val rows = graft.SparkEntry.queries("q_knn_classify")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(rows.nonEmpty)
    // one row per probe, probes are the %50 sample
    assert(rows.map(_._1).distinct.length == rows.length)
    rows.foreach { case (qid, pred, _, correct) =>
      assert(qid % 50 == 0)
      assert(pred >= 0)
      assert(correct == 0L || correct == 1L)
    }
    // correct flag is consistent with the label pair
    rows.foreach { case (_, pred, truth, correct) =>
      assert((pred == truth) == (correct == 1L))
    }
  }

  test("q_weighted_sample: ≤5 per stratum, priorities nondecreasing in rank") {
    val rows = graft.SparkEntry.queries("q_weighted_sample")(spark, sf001)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.length <= 5)
      assert(sorted.map(_._2).toSeq == (1L to sorted.length).toSeq)
      // rank order IS priority order (ties broken by doc_id)
      assert(sorted.map(_._5).toSeq == sorted.map(_._5).sorted.toSeq)
    }
  }

  test("q_cross_source_dups: matrix total equals the per-sig pair count") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val matrix = graft.SparkEntry.queries("q_cross_source_dups")(spark, sf001)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    // independent ground truth: total C(n,2) over normalized signatures
    val sigs = docs
      .groupBy(sha2(Dedup.normPrefix(col("text"), 5), 256).as("sig"))
      .agg(count(lit(1)).as("n"))
      .collect().map(_.getLong(1))
    val expectTotal = sigs.map(n => n * (n - 1) / 2).sum
    assert(matrix.map(_._3).sum == expectTotal)
    matrix.foreach { case (a, b, n) => assert(a <= b && n > 0) }
  }

  test("q_table_diff status totals match the deterministic v2 derivation") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val ids = docs.select(col("doc_id")).collect().map(_.getLong(0))
    val byStatus = graft.SparkEntry.queries("q_table_diff")(spark, sf001)
      .collect()
      .groupBy(_.getString(1)).view.mapValues(_.map(_.getLong(2)).sum).toMap
    assert(byStatus.getOrElse("removed", 0L) == ids.count(_ % 31 == 5))
    assert(byStatus.getOrElse("added", 0L) == ids.count(_ % 23 == 7))
    assert(byStatus.getOrElse("changed", 0L) ==
      ids.count(i => i % 17 == 3 && i % 31 != 5))
    val total = byStatus.values.sum
    // every v1 row lands in exactly one status; added rows on top
    assert(total == ids.length + ids.count(_ % 23 == 7))
  }

  test("consensus / boilerplate invariants at sf0.001") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val cons = graft.SparkEntry.queries("q_dedup_consensus")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(cons.nonEmpty)
    cons.foreach { case (d1, d2, ex, mh, n) =>
      assert(d1 < d2 && n == ex + mh && n >= 1)
      assert(ex == 0L || ex == 1L); assert(mh == 0L || mh == 1L)
    }
    // the exact flags reproduce the per-sig pair count exactly
    val sigs = docs
      .groupBy(sha2(Dedup.normPrefix(col("text"), 5), 256).as("sig"))
      .agg(count(lit(1)).as("n")).collect().map(_.getLong(1))
    assert(cons.count(_._3 == 1L) == sigs.map(n => n * (n - 1) / 2).sum)
    val bp = graft.SparkEntry.queries("q_boilerplate_ngrams")(spark, sf001)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(bp.length == 20)
    assert(bp.zip(bp.drop(1)).forall { case ((a, _), (b, _)) => a >= b })
    bp.foreach { case (df, oc) => assert(oc == (if (df > 5) 1L else 0L)) }
  }

  test("transitions/mad/drift/xtab invariants at sf0.001") {
    val sf = sf001
    // transitions: each user contributes (n_events - 1) pairs and
    // per-from probabilities sum to ~1 (r4 rounding per cell)
    val ev = spark.read.parquet(s"$sf/events.parquet")
    val nEvents = ev.count()
    val nUsers = ev.select(col("user_id")).distinct().count()
    val tr = graft.SparkEntry.queries("q_event_transitions")(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3)))
    assert(tr.map(_._3).sum == nEvents - nUsers)
    tr.groupBy(_._1).foreach { case (_, rs) =>
      assert(math.abs(rs.map(_._4).sum - 1.0) < rs.length * 1e-4 + 1e-9)
    }
    // mad outliers: strata cover the corpus, outliers a minority
    val docsN = spark.read.parquet(s"$sf/documents.parquet").count()
    val mo = graft.SparkEntry.queries("q_mad_outliers")(spark, sf)
      .collect()
    assert(mo.map(_.getAs[Long]("n_docs")).sum == docsN)
    mo.foreach { r =>
      assert(r.getAs[Double]("mad_chars") >= 0.0)
      assert(r.getAs[Long]("n_outliers") <= r.getAs[Long]("n_docs"))
    }
    // centroid drift: split sizes per label cover the table
    val embCounts = spark.read.parquet(s"$sf/embeddings.parquet")
      .groupBy(col("label").cast("long").as("l")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dr = graft.SparkEntry.queries("q_embed_centroid_drift")(spark, sf)
      .collect()
    assert(dr.nonEmpty)
    dr.foreach { r =>
      assert(r.getLong(1) + r.getLong(2) == embCounts(r.getLong(0)))
      assert(r.getAs[Double]("drift") >= 0.0)
    }
    // dup × quality cross-tab: cells cover the corpus once
    val xt = graft.SparkEntry.queries("q_dup_quality_xtab")(spark, sf)
      .collect()
    assert(xt.map(_.getAs[Long]("n_docs")).sum == docsN)
    xt.foreach { r =>
      assert(r.getLong(0) == 0L || r.getLong(0) == 1L)
      assert(r.getLong(1) >= 0L && r.getLong(1) <= 9L)
    }
  }

  test("lsh precision / sq recall / vocab growth invariants at sf0.001") {
    // q_lsh_precision: strata cover every candidate pair exactly once
    val pr = graft.SparkEntry.queries("q_lsh_precision")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    val nCand = graft.SparkEntry.queries("q_minhash_near_dup")(spark, sf001)
      .count()
    assert(pr.map(_._2).sum == nCand)
    pr.foreach { case (bands, n, t, p) =>
      assert(bands >= 1 && t <= n && p >= 0.0 && p <= 1.0)
    }
    // q_ann_sq_recall: per-query hits bounded by k
    val rc = graft.SparkEntry.queries("q_ann_sq_recall")(spark, sf001)
      .collect()
    assert(rc.nonEmpty)
    rc.foreach { r =>
      val h = r.getAs[Long]("n_hits")
      assert(h >= 0 && h <= 3)
      val re = r.getAs[Double]("recall")
      assert(re >= 0.0 && re <= 1.0)
    }
    // q_vocab_growth: cumulative curve is nondecreasing and ends at
    // the distinct-type count
    val vg = graft.SparkEntry.queries("q_vocab_growth")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(vg.length > 1)
    vg.sliding(2).foreach {
      case Array((_, _, c1), (_, n2, c2)) => assert(c2 == c1 + n2)
      case _ =>
    }
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val nTypes = Dedup.shingles(docs).select(col("shingle"))
      .distinct().count()
    assert(vg.last._3 == nTypes)
  }

  test("q_graph_degrees: handshake lemma over the candidate graph") {
    val deg = graft.SparkEntry.queries("q_graph_degrees")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val nEdges = graft.SparkEntry.queries("q_minhash_near_dup")(spark, sf001)
      .count()
    assert(deg.map { case (d, n) => d * n }.sum == 2 * nEdges)
    assert(deg.forall(_._1 >= 1))
  }

  test("dHash64: brightness-invariant, mirror-sensitive, formula-exact") {
    import graft.io.PhashFixtures
    val base = Multimodal.dHash64(PhashFixtures.encode(5L, 0L)).get
    val bright = Multimodal.dHash64(PhashFixtures.encode(5L, 1L)).get
    val mirror = Multimodal.dHash64(PhashFixtures.encode(5L, 2L)).get
    // uniform +8 shift preserves every inter-block comparison
    assert(base === bright)
    // the mirrored grid has its own comparison pattern
    assert(base !== mirror)
    // each bit equals the generation formula's comparison
    (0 until 8).foreach { by =>
      (0 until 8).foreach { bx =>
        val expected = PhashFixtures.levelOf(5L, 0L, bx + 1L, by.toLong) >
          PhashFixtures.levelOf(5L, 0L, bx.toLong, by.toLong)
        assert(((base >> (by * 8 + bx)) & 1L) === (if (expected) 1L else 0L),
          s"bit ($bx,$by)")
      }
    }
    // undecodable payloads emit no hash — no fallback
    assert(Multimodal.dHash64("not an image".getBytes).isEmpty)
  }

  test("audioFingerprint: formula-exact over decoded PCM, no fallback") {
    import graft.io.AudioFixtures
    val id = 7L
    val got = Multimodal.audioFingerprint(AudioFixtures.encode(id)).get
    // replay the kernel's arithmetic straight from the sawtooth formula
    val nv = (AudioFixtures.samplesOf(id) * AudioFixtures.channelsOf(id)).toInt
    val sums = new Array[Long](8); val cnts = new Array[Long](8)
    (0 until nv).foreach { j =>
      val v = ((id * 131 + j * 37) % 65536) - 32768
      val c = (j * 8 / nv).toInt
      sums(c) += math.abs(v); cnts(c) += 1
    }
    val want = (0 until 7).map { i =>
      if (sums(i + 1) / cnts(i + 1) > sums(i) / cnts(i)) 1L << i else 0L
    }.sum
    assert(got === want)
    assert(Multimodal.audioFingerprint("not audio".getBytes).isEmpty)
  }

  test("q_dp_counts: noise inside the 20-step ladder, release = n + " +
    "noise, deterministic, not degenerate") {
    def run() = graft.rel.RelStatsQueries
      .queries("q_dp_counts")(spark, "/root/testdata/sf0.001").collect()
    val rows = run()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getAs[Long]("n"); val noise = r.getAs[Long]("noise")
      // u ≥ 1 bounds the geometric ladder at 20 steps (2^20 range)
      assert(math.abs(noise) <= 20L, s"noise $noise escapes the ladder")
      assert(r.getAs[Long]("released") === n + noise)
    }
    // a seeded sampler that collapsed to one value would pass the
    // bound vacuously — demand an actual spectrum across groups
    assert(rows.map(_.getAs[Long]("noise")).distinct.length > 1)
    // deterministic replay: the release is a pure function of the data
    assert(rows.map(_.toString).toSeq === run().map(_.toString).toSeq)
  }

  test("retrieval evals: rank/rr/ndcg invariants and cross-metric " +
    "consistency") {
    val dir = "/root/testdata/sf0.001"
    val mrr = graft.ext.ExtQueries
      .queries("q_retrieval_mrr")(spark, dir).collect()
    assert(mrr.nonEmpty)
    mrr.foreach { r =>
      val rank = r.getAs[Long]("self_rank")
      val nc = r.getAs[Long]("n_cand")
      assert(rank >= 1L && rank <= nc,
        s"self-rank $rank outside [1, $nc]")
      val rr = r.getAs[Double]("rr")
      assert(rr > 0.0 && rr <= 1.0)
      // the probe contains its own rarest term, so it IS a candidate
      assert(nc >= 1L)
    }
    val ndcg = graft.ext.ExtQueries
      .queries("q_retrieval_ndcg")(spark, dir).collect()
    assert(ndcg.map(_.getAs[Long]("probe")).toSet ===
      mrr.map(_.getAs[Long]("probe")).toSet,
      "both evals must cover the same probe set")
    ndcg.foreach { r =>
      val d = r.getAs[Long]("dcg_fx"); val i = r.getAs[Long]("idcg_fx")
      assert(d > 0L && i > 0L && d <= i,
        s"DCG $d must be positive and never beat ideal $i")
      assert(r.getAs[Double]("ndcg") <= 1.0)
    }
  }

  test("q_dedup_index_persist: reloaded-postings triage equals the " +
    "in-session capped join, new-vs-base only") {
    val dir = "/root/testdata/sf0.001"
    val served = graft.ext.ExtQueries
      .queries("q_dedup_index_persist")(spark, dir).collect()
      .map(r => (r.getAs[Long]("dnew"), r.getAs[Long]("dbase"),
        r.getAs[Long]("bands"))).toSet
    assert(served.nonEmpty)
    served.foreach { case (dn, db, bands) =>
      assert(dn % 10 === 7L && db % 10 != 7L)
      assert(bands >= 1L && bands <= Dedup.Bands.toLong)
    }
    // in-session twin over the full corpus banding (no disk roundtrip)
    val docs = graft.io.Sources.table(spark, dir, "documents")
    val bm = Dedup.minhashBandMins(Dedup.shingles(docs))
    val ok = bm.groupBy(col("b"), col("mh"))
      .agg(count(lit(1)).as("sz"))
      .where(col("sz") <= Dedup.MinhashBucketCap)
      .select(col("b"), col("mh"))
    val kept = bm.join(ok, Seq("b", "mh"))
    val expected = kept.where(col("doc_id") % 10 === 7)
      .select(col("doc_id").as("dnew"), col("b"), col("mh"))
      .join(kept.where(col("doc_id") % 10 =!= 7)
        .select(col("doc_id").as("dbase"), col("b"), col("mh")),
        Seq("b", "mh"))
      .groupBy(col("dnew"), col("dbase"))
      .agg(count(lit(1)).as("bands"))
      .collect()
      .map(r => (r.getAs[Long]("dnew"), r.getAs[Long]("dbase"),
        r.getAs[Long]("bands"))).toSet
    assert(served === expected)
  }

  test("q_dedup_index_persist writes its postings under a leaf that " +
    "Spark does not treat as hidden") {
    assert(graft.core.Cache.leafFor("/data/sf0.001") === "data_sf0.001")
    assert(graft.core.Cache.leafFor("./._x/y") === "x_y")
    graft.ext.ExtQueries.queries("q_dedup_index_persist")(spark, sf001).count()
    val store = new java.io.File(graft.core.Cache.sessionDir(spark,
      "dedup_index", Some("graft.dedup.indexBase")))
    val leaves = Option(store.list()).toSeq.flatten
    assert(leaves.nonEmpty, s"nothing written under $store")
    leaves.foreach(l => assert(!l.startsWith("_") && !l.startsWith("."), l))
  }

  test("content-defined chunks are insertion-robust where fixed " +
    "windows are not, chunks reassemble the text exactly") {
    // a real corpus doc, and a copy with ONE character inserted
    // mid-way: rolling-hash boundaries must resynchronize after the
    // edit, so most chunk sigs stay shared; the fixed-stride window
    // table shifts wholesale past the insertion point
    val txt = graft.io.Sources.table(spark, sf001, "documents")
      .orderBy(length(col("text")).desc, col("doc_id"))
      .select(col("text")).head().getString(0)
    assert(txt.length > 300)
    val ins = txt.length / 2
    val edited = txt.substring(0, ins) + "Z" + txt.substring(ins)
    val both = docsDF(1L -> txt, 2L -> edited)
    val ch = Dedup.contentChunks(both)
    // lossless: per doc, chunks concatenated in lo order == the text
    val back = ch.orderBy(col("doc_id"), col("lo"))
      .groupBy(col("doc_id"))
      .agg(concat_ws("", collect_list(col("chunk"))).as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(back(1L) === txt && back(2L) === edited)
    def sigs(df: org.apache.spark.sql.DataFrame, id: Long, c: String) =
      df.where(col("doc_id") === id).select(col(c))
        .collect().map(_.getString(0)).toSet
    val cs = ch.select(col("doc_id"), sha2(col("chunk"), 256).as("s"),
      col("chunk").as("c"))
    val c1 = sigs(cs, 1L, "s"); val c2 = sigs(cs, 2L, "s")
    val cdcShared = (c1 intersect c2).size.toDouble / c1.size
    val w = Dedup.textWindows(both)
    val w1 = sigs(w, 1L, "wstr"); val w2 = sigs(w, 2L, "wstr")
    val winShared = (w1 intersect w2).size.toDouble / math.max(w1.size, 1)
    assert(cdcShared > winShared,
      s"cdc=$cdcShared should beat windows=$winShared")
    assert(cdcShared > 0.5, s"cdc boundaries failed to resync: $cdcShared")
  }

  test("content-defined chunks: degenerate inputs chunk losslessly") {
    // below the 6-char boundary floor → exactly one chunk, the text;
    // empty text → one empty chunk; boundary arithmetic at the
    // len−4 window edge must not drop or duplicate a character
    val tiny = docsDF(1L -> "", 2L -> "abc", 3L -> "abcde",
      4L -> "abcdef", 5L -> ("ab " * 40).trim)
    val ch = Dedup.contentChunks(tiny)
    val back = ch.orderBy(col("doc_id"), col("lo"))
      .groupBy(col("doc_id"))
      .agg(concat_ws("", collect_list(col("chunk"))).as("t"),
        count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2))))
      .toMap
    assert(back(1L)._1 === "" && back(1L)._2 === 1L)
    assert(back(2L)._1 === "abc" && back(2L)._2 === 1L)
    assert(back(3L)._1 === "abcde" && back(3L)._2 === 1L)
    assert(back(4L)._1 === "abcdef")
    assert(back(5L)._1 === ("ab " * 40).trim)
  }

  test("html extraction: nested blocks, escaped entities, comments, " +
    "script-embedded markup, header-vs-head, density and length gates") {
    import graft.ext.Html
    val html =
      """<html><head><title>T</title><script>var s="<div>x</div>";
        |</script></head><body>
        |<header><a href="/">L1</a> <a href="/2">L2</a></header>
        |<!-- <p>ghost paragraph that must never appear</p> -->
        |<div><div><p>Nested   blocks &amp;lt; entities &quot;stay&quot;
        |intact &#39;here&#39; and this line is long enough to
        |keep.</p></div></div>
        |<p>short one</p>
        |<p>This block is long enough to pass but it is <a
        |href="/x">mostly a very long anchor text that dominates the
        |block</a> so density drops it.</p>
        |<footer>(c) tiny</footer></body></html>""".stripMargin
    val row = Seq(html).toDF("html")
      .select(Html.blocks(col("html")).as("bs"))
      .select(size(col("bs")).as("n_blocks"),
        size(filter(col("bs"), Html.isContent _)).as("n_kept"),
        Html.mainText(col("bs")).as("main_text"))
      .head()
    // visible blocks: header links, nested p, short p, anchor-heavy
    // p, footer — the comment's ghost <p> and the script's <div>
    // string must not create blocks
    assert(row.getAs[Int]("n_blocks") === 5)
    assert(row.getAs[Int]("n_kept") === 1)
    // decode &amp;lt; to the LITERAL &lt; (never a re-decode), keep
    // quotes/apostrophes, collapse runs of whitespace across lines
    assert(row.getAs[String]("main_text") ===
      "Nested blocks &lt; entities \"stay\" intact 'here' and this " +
        "line is long enough to keep.")
  }

  test("warc parse: header map with unknown headers, byte-exact " +
    "length gate, payload untouched, id recovered from the envelope") {
    import graft.ext.Warc
    def rec(id: Long, extra: String, payload: String,
            statedLen: Long): String =
      "WARC/1.0\r\nWARC-Type: response\r\n" +
        s"WARC-Record-ID: <urn:uuid:$id>\r\n" +
        s"WARC-Target-URI: http://example.org/doc/$id\r\n" + extra +
        s"Content-Type: application/http\r\nContent-Length: $statedLen" +
        s"\r\n\r\n$payload\r\n\r\n"
    // ok record carries an UNKNOWN header the parser must pass over;
    // payload has multi-byte UTF-8 so char count != byte count —
    // the length gate must compare BYTES
    val okPayload = "héllo <p>wörld</p>"
    val okBytes =
      okPayload.getBytes(java.nio.charset.StandardCharsets.UTF_8).length
    assert(okBytes > okPayload.length)
    val bad = rec(7L, "", "short", 99L)
    val ok = rec(3L, "X-Custom-Header: zzz\r\n", okPayload, okBytes.toLong)
    val out = Seq(ok, bad).toDF("warc")
      .select(Warc.headers(col("warc")).as("h"),
        Warc.payload(col("warc")).as("pl"))
      .select(Warc.recordId(col("h")).as("doc_id"),
        element_at(col("h"), "WARC-Target-URI").as("uri"),
        col("pl"), Warc.lenOk(col("h"), col("pl")).as("len_ok"))
      .orderBy(col("doc_id")).collect()
    assert(out.map(_.getAs[Long]("doc_id")).toSeq === Seq(3L, 7L))
    assert(out(0).getAs[String]("uri") === "http://example.org/doc/3")
    assert(out(0).getAs[String]("pl") === okPayload)
    assert(out(0).getAs[Long]("len_ok") === 1L)
    assert(out(1).getAs[String]("pl") === "short")
    assert(out(1).getAs[Long]("len_ok") === 0L)
  }

  test("robots parse: group selection, empty Disallow, comments, " +
    "prefix admission") {
    import graft.ext.Robots
    // another bot's blanket Disallow must not leak into the * group;
    // comments and blank lines are noise; the * group may appear
    // AFTER other groups
    val strict = "# c\nUser-agent: greedy-bot\nDisallow: /\n\n" +
      "User-agent: *\nDisallow: /private\nDisallow: /tmp\n"
    val open = "User-agent: greedy-bot\nDisallow: /\n\n" +
      "User-agent: *\nDisallow:\n"
    val rules = Seq(strict, open).toDF("robots")
      .select(Robots.disallows(col("robots")).as("r"))
      .collect().map(_.getSeq[String](0))
    assert(rules(0) === Seq("/private", "/tmp"))
    assert(rules(1) === Seq.empty)
    val adm = Seq(("/private/x", strict), ("/public/x", strict),
        ("/private/x", open))
      .toDF("path", "robots")
      .select(col("path"), Robots.allowed(col("path"),
        Robots.disallows(col("robots"))).as("a"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(adm.toSeq === Seq(("/private/x", 0L), ("/public/x", 1L),
      ("/private/x", 1L)))
  }

  test("avro interchange: container write->read is row- and " +
    "byte-exact, parallel on both legs") {
    import graft.io.AvroInterchange
    val src = spark.read.parquet(s"$sf001/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars"))
    val path = "/tmp/graft-avro-spec"
    AvroInterchange.write(src, path)
    // one container per non-empty input partition (parallel write leg)
    val files = new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".avro"))
    assert(files.nonEmpty)
    val back = AvroInterchange.read(spark, path)
    assert(back.rdd.getNumPartitions === files.length) // file-grain read
    val a = src.collect().map(_.toSeq).toSet
    val b = back.collect().map(_.toSeq).toSet
    assert(a === b)
    // multi-byte + markup text crosses the BINARY container intact
    // (no entity layer to mangle it) — and an empty text row survives
    val edge = Seq((1L, "héllo <p>&amp; \"wörld\"</p>", "xx",
        "s1", 5L), (2L, "", "xx", "s1", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    AvroInterchange.write(edge, "/tmp/graft-avro-spec-edge")
    val eb = AvroInterchange.read(spark, "/tmp/graft-avro-spec-edge")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(eb(1L) === "héllo <p>&amp; \"wörld\"</p>")
    assert(eb(2L) === "")
  }

  test("doc-similarity DF cap: base corpus keeps the tuned cap " +
    "unsaturated; a densified corpus flags saturation and escalates") {
    // base corpus: the fixed cap keeps ~all pair mass → no escalation
    val base = spark.read.parquet(s"$sf001/documents.parquet")
    val baseOut = graft.ext.ExtServingQueries.docSimilarity(base)
    val baseRow = baseOut.select("cap_used", "cap_saturated").limit(1)
      .collect()(0)
    assert(baseRow.getLong(0) === 30L)
    assert(baseRow.getLong(1) === 0L)
    // densified corpus (the 100×-replica shape: every doc gains ~40
    // near-copies, every shingle's df multiplies by ~40): the fixed
    // cap would keep <5% of the pair mass → the serve must FLAG
    // saturation, escalate the cap past the replica df, and still
    // emit a non-empty pair stage (the silent-signal-loss case the
    // r13 verdict called out)
    val reps = spark.range(40).select(col("id").as("rep"))
    val nDoc = base.agg(org.apache.spark.sql.functions.max(col("doc_id")))
      .collect()(0).getLong(0) + 1L
    val dense = base.crossJoin(reps).select(
      (col("doc_id") + col("rep") * nDoc).as("doc_id"),
      concat(lit("r"), col("rep"), lit(" "), col("text")).as("text"))
    val denseOut = graft.ext.ExtServingQueries.docSimilarity(dense)
    val rows = denseOut.select("cap_used", "cap_saturated", "capped_frac")
      .limit(1).collect()
    assert(rows.nonEmpty, "saturated corpus must still emit pairs")
    assert(rows(0).getLong(1) === 1L, "saturation must be flagged")
    assert(rows(0).getLong(0) > 30L, "cap must escalate past the base")
    assert(rows(0).getDouble(2) < 1.0)
  }

  test("LSH bucket-cap stats: quiet corpus reads unsaturated; a " +
    "boilerplate-heavy corpus flags saturation with the dropped mass") {
    // quiet corpus: sf0.001 band buckets never approach the production cap
    val base = spark.read.parquet(s"$sf001/documents.parquet")
    val bm = Dedup.minhashBandMins(Dedup.shingles(base))
    val quiet = Dedup.bucketCapStats(bm, Dedup.MinhashBucketCap)
      .collect()(0)
    assert(quiet.getLong(0) === Dedup.MinhashBucketCap.toLong)
    assert(quiet.getLong(1) === 0L, "quiet corpus must not saturate")
    assert(quiet.getDouble(2) === 1.0)
    assert(quiet.getLong(3) === 0L)
    // boilerplate corpus: ONE text replicated past the cap — every
    // band bucket for that text goes hot, concentrating ~all pair
    // mass in over-cap buckets; the read-out must say so (this is the
    // corpus where a silent cap loses the near-dup signal and the
    // rescue pass carries the weight)
    import spark.implicits._
    val n = Dedup.MinhashBucketCap + 50
    val hotDocs = spark.range(n).select(col("id").as("doc_id"),
      lit("the same boilerplate header text repeated verbatim").as("text"))
    val hotBm = Dedup.minhashBandMins(Dedup.shingles(hotDocs))
    val hot = Dedup.bucketCapStats(hotBm, Dedup.MinhashBucketCap)
      .collect()(0)
    assert(hot.getLong(1) === 1L, s"must flag saturation: $hot")
    assert(hot.getDouble(2) < 0.05, s"kept mass must read tiny: $hot")
    assert(hot.getLong(3) === Dedup.Bands.toLong,
      "every band bucket of the replicated text is hot")
  }

  test("SemDeDup cell-cap stats: saturation flagged when one hot cell " +
    "holds the pair mass") {
    import spark.implicits._
    // synthetic assignment: one 100-member cell (cap 65 → hot) + one
    // 5-member cell. kept = C(5,2) = 10; total = 10 + C(100,2) = 4960;
    // 20·10 < 4960 → saturated.
    val assigned = ((0 until 100).map(i => (i.toLong, 1L)) ++
      (100 until 105).map(i => (i.toLong, 2L)))
      .toDF("vec_id", "cell_id")
    val r = VectorSearch.cellCapStats(assigned, 65).collect()(0)
    assert(r.getLong(0) === 65L)
    assert(r.getLong(1) === 1L)
    assert(math.abs(r.getDouble(2) - 10.0 / 4960.0) < 1e-3, r)
    assert(r.getLong(3) === 1L)
    // under-cap twin: nothing dropped
    val ok = VectorSearch.cellCapStats(
      assigned.where(col("cell_id") === 2L), 65).collect()(0)
    assert(ok.getLong(1) === 0L && ok.getDouble(2) === 1.0 &&
      ok.getLong(3) === 0L)
  }

  test("warc parse: structural malformation flagged (envelope_ok), " +
    "header values keep their first-': ' split") {
    import graft.ext.Warc
    // no CRLF-CRLF boundary anywhere: must flag, not garble
    val noSep = "WARC/1.0\r\nWARC-Type: response\r\n" +
      "WARC-Record-ID: <urn:uuid:9>\r\nContent-Length: 5\r\npayload"
    // a header VALUE legally containing ': ' (ADVICE r13) — str_to_map
    // would truncate the URI at the second ': '
    val colonVal = "WARC/1.0\r\nWARC-Type: response\r\n" +
      "WARC-Record-ID: <urn:uuid:4>\r\n" +
      "WARC-Target-URI: http://example.org/q?t=a: b\r\n" +
      "Content-Length: 2\r\n\r\nok\r\n\r\n"
    val out = Seq(noSep, colonVal).toDF("warc")
      .select(Warc.headers(col("warc")).as("h"),
        Warc.payload(col("warc")).as("pl"),
        Warc.envelopeOk(col("warc")).as("env_ok"))
      .select(Warc.recordId(col("h")).as("doc_id"),
        try_element_at(col("h"), lit("WARC-Target-URI")).as("uri"),
        col("pl"), col("env_ok"),
        Warc.lenOk(col("h"), col("pl")).as("len_ok"))
      .orderBy(col("doc_id").asc_nulls_last).collect()
    assert(out(0).getAs[Long]("doc_id") === 4L)
    assert(out(0).getAs[String]("uri") === "http://example.org/q?t=a: b")
    assert(out(0).getAs[Long]("env_ok") === 1L)
    assert(out(0).getAs[Long]("len_ok") === 1L)
    assert(out(1).isNullAt(0))                   // no id recovered
    assert(out(1).getAs[String]("pl") === "")    // no garbage payload
    assert(out(1).getAs[Long]("env_ok") === 0L)  // flagged, visible
    assert(out(1).getAs[Long]("len_ok") === 0L)  // can never pass
  }

  test("robots parse: CRLF endings, directive-case variants, stacked " +
    "agent lines, and RFC 9309 Allow longest-match") {
    import graft.ext.Robots
    // CRLF + case-variant directives + the * group inside a stacked
    // agent-line run — all must normalize to the same rule set
    val messy = "User-Agent: greedy-bot\r\nDISALLOW: /\r\n\r\n" +
      "user-agent: other-bot\r\nUser-Agent: *\r\n" +
      "disallow:  /private\r\nDisallow:\t/tmp\r\n"
    val got = Seq(messy).toDF("robots")
      .select(Robots.disallows(col("robots")).as("r"))
      .collect()(0).getSeq[String](0)
    assert(got === Seq("/private", "/tmp"))
    // RFC 9309 precedence: longest matching prefix wins; Allow wins
    // length ties; no match ⇒ admitted
    val rfc = "User-agent: *\nDisallow: /shop\nAllow: /shop/public\n" +
      "Disallow: /shop/public/priv\nAllow: /dual\nDisallow: /dual\n"
    val adm = Seq("/shop/x", "/shop/public/ok", "/shop/public/priv/x",
        "/dual/x", "/elsewhere")
      .toDF("path")
      .select(col("path"), Robots.admitted(col("path"),
        Robots.rules(lit(rfc))).as("a"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(adm("/shop/x") === 0L)               // Disallow /shop
    assert(adm("/shop/public/ok") === 1L)       // longer Allow wins
    assert(adm("/shop/public/priv/x") === 0L)   // longest Disallow wins
    assert(adm("/dual/x") === 1L)               // tie → Allow wins
    assert(adm("/elsewhere") === 1L)            // no match → admitted
    // and with no Allow rules, admitted() reduces to allowed()
    val plain = "User-agent: *\nDisallow: /private\n"
    val both = Seq("/private/x", "/open/x").toDF("path")
      .select(col("path"),
        Robots.admitted(col("path"), Robots.rules(lit(plain))).as("a1"),
        Robots.allowed(col("path"),
          Robots.disallows(lit(plain))).as("a2"))
      .collect()
    both.foreach(r => assert(r.getLong(1) === r.getLong(2)))
  }

  test("url normalization: ports, www, params, fragments, roots") {
    import graft.ext.Urls
    val cases = Seq(
      // non-default port kept; path case preserved; params sorted;
      // utm dropped; fragment dropped; trailing slash stripped
      "HTTPS://WWW.Sub.Example.com:8443/A/B/?z=1&a=2&utm_x=9#f" ->
        "https://sub.example.com:8443/A/B?a=2&z=1",
      // root path's slash is NOT a trailing slash
      "http://example.com/" -> "http://example.com/",
      // an empty path becomes the root
      "https://example.com" -> "https://example.com/",
      // 'ref' is tracking, 'referrer' is not (prefix must not bleed)
      "http://x.com/p?referrer=a&ref=b" -> "http://x.com/p?referrer=a")
    val got = cases.map(_._1).toDF("url")
      .select(col("url"), Urls.normalize(col("url")).as("canon"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    cases.foreach { case (in, want) =>
      assert(got(in) === want, s"for $in")
    }
  }
}
