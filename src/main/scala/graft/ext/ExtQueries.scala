package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Det, PortableHash}
import graft.io.Sources
import graft.rel.Oracle
import graft.rel.Oracle.r4
import graft.streaming.StreamOps

/** Extension query inventory: dedup, near-dup, text analysis,
  * embedding search, multimodal metadata, session windows — the
  * training-data-pipeline surface mandated beyond the reference
  * (SURVEY.md §2.3 extension rows + BASELINE.json north star).
  */
object ExtQueries {

  import graft.core.Cache

  /** The document corpus, spread to the executor width. The sf*
    * corpus is ONE small parquet file → one input split, so every
    * explode-heavy consumer (shingles, windows, tokens) would
    * single-thread its entire fan-out — measured: q_repetition_filter
    * runs 3.4 s on one core warm, and any co-tenant stall on that one
    * core balloons it 100×. Redistributing the 5k-row scan costs a
    * trivial exchange and buys 32-way fan-out parallelism; the gate
    * makes it a no-op at production scale, where the scan is already
    * multi-split. Result invariance under partitioning is the repo's
    * standing determinism contract (order-independent fixed-point
    * aggregates + total-order output sorts). */
  private[ext] def docs(s: SparkSession, d: String) = {
    val t = Sources.table(s, d, "documents")
    // split count is a property of (session, dir) — memoize it so the
    // gate doesn't re-pay physical planning + file listing per call.
    // A file layout that CHANGES under a live session is not
    // re-observed: perf-only either way (results are
    // partitioning-invariant).
    val splits = Cache.memo(s, "doc_splits", d)(t.rdd.getNumPartitions)
    val width = s.sparkContext.defaultParallelism
    if (splits < width) t.repartition(width) else t
  }
  private[ext] def emb(s: SparkSession, d: String) = Sources.table(s, d, "embeddings")

  /** Scale-safe acceptance panel (VERDICT r11 #1): the recall twins'
    * truth legs are nq×N brute force, and with nq = the whole
    * vec_id%50 sample, nq GROWS with the corpus — 30× queries × 30×
    * corpus = 900× truth work (q_ann_graph_recall gated 93× at 30×
    * before this). The fix is a FIXED seeded query panel: the
    * [[AnnPanelSize]] smallest-spread-hash ids among the %50 sample
    * (the portable Lehmer multiply, so DuckDB picks the IDENTICAL
    * panel). nq is pinned → truth work is O(PanelSize·N), linear,
    * and the twins ride the standing scale gate. At sf ≤ 0.01 (the
    * correctness gate's scale) the %50 sample is smaller than the
    * panel, so the panel IS the old sample and every oracle-checked
    * recall value is unchanged; per-query
    * results are per-qid window-independent, so panel restriction
    * never changes a served cell either. Serving queries
    * (q_ann_graph, q_ann_ivf_pq, …) still serve the full %50 sample —
    * only the acceptance MEASUREMENT pins its query count. */
  private[ext] val AnnPanelSize = 32
  private[ext] def annPanelC(s: SparkSession, d: String): DataFrame =
    Cache.getOrPersist(s, "ann_panel", d)(
      emb(s, d).where(col("vec_id") % 50 === 0)
        .orderBy(PortableHash.spread(col("vec_id")), col("vec_id"))
        .limit(AnnPanelSize)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
          col("label")))

  /** Shared recall tail over the twins' (exact, served-hit) frames,
    * SESSION-CACHED per variant: a twin's output is <= panel-size
    * rows, and q_ann_frontier re-aggregates all seven - caching the
    * tiny result tables turns the frontier (and every warm re-read
    * of a twin) into a union of cached scans instead of seven fresh
    * serve+truth plans. Values are unchanged by construction; the
    * scale gate grades the twins' first (build) runs, where the
    * serve+truth work actually happens. Snapshot (not persist): the
    * twins' plans carry panel/centroid/shortlist broadcasts, which a
    * persisted frame would keep alive for the session (the rule in
    * [[Cache]]). */
  private[ext] def recallTable(s: SparkSession, d: String,
      variant: String, exact: => DataFrame, served: => DataFrame)
      : DataFrame =
    Cache.getOrSnapshot(s, s"recall_$variant", d)(
      exact.join(served, Seq("qid", "vec_id"), "left")
        .groupBy(col("qid"))
        .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
        .select(col("qid"), col("n_hits"),
          Det.r4(col("n_hits").cast("double") / lit(3.0)).as("recall")))
      .orderBy(col("qid"))

  /** SQL twin of [[annPanelC]] — defines `panel(pqid)`. */
  private[ext] lazy val panelCte: String =
    s"""panel AS (
       |  SELECT vec_id AS pqid FROM embeddings
       |  WHERE vec_id % 50 = 0
       |  ORDER BY ${PortableHash.spreadSql("vec_id")}, vec_id
       |  LIMIT $AnnPanelSize)""".stripMargin

  /** q_zipf_fit: how many top frequency ranks enter the OLS fit
    * (shared by query and oracle). */
  private[ext] val ZipfTopRanks = 30

  /** Per-(doc, term) frequency postings — the BM25 INDEX, shared by
    * the retrieval query, the token-entropy aggregate and the
    * cluster-topics c-TF-IDF (session artifact like the PQ
    * codebook). */
  private[ext] def bm25TfC(s: SparkSession, d: String): DataFrame =
    Cache.getOrPersist(s, "bm25_tf", d)(
      docs(s, d).select(col("doc_id"),
          explode(split(col("text"), " ")).as("w"))
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf")))

  /** Known-item probe terms — per probe doc (doc_id % 101 = 3) its
    * rarest term by (df, w): (probe, w, df). Shared by both retrieval
    * evaluations with the scored candidate set below. O(probes) rows;
    * snapshot, not persist — the build carries broadcasts. */
  private[ext] def bm25PtermC(s: SparkSession, d: String): DataFrame =
    Cache.getOrSnapshot(s, "bm25_pterm", d) {
      val tf = bm25TfC(s, d)
      val dfTab = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
      val probes = docs(s, d).where(col("doc_id") % 101 === 3)
        .select(col("doc_id").as("probe"))
      // argmin (df, w) per probe — struct-min is the argmin idiom
      tf.join(broadcast(probes), col("doc_id") === col("probe"))
        .join(dfTab, Seq("w")) // df is O(vocab): never hinted broadcast
        // (a web-scale vocab exceeds any broadcast budget; the probe
        // side is the small one and AQE may flip the build side)
        .groupBy(col("probe"))
        .agg(min(struct(col("df"), col("w"))).as("mt"))
        .select(col("probe"), col("mt.w").as("w"),
          col("mt.df").as("df"))
    }

  /** BM25-scored known-item candidate sets over [[bm25PtermC]]'s
    * probe terms: (probe, w, doc_id, tf, cfx) — cfx is the exact
    * integer BM25 contribution both retrieval evaluations rank by.
    * Σ min-DF rows by construction (picking the rarest term is
    * simultaneously the best query and the cost cap). */
  private[ext] def bm25CandC(s: SparkSession, d: String): DataFrame =
    Cache.getOrSnapshot(s, "bm25_cand", d) {
      val pterm = bm25PtermC(s, d)
      val stats = bm25Stats(s, d)
      bm25Contrib(s, d,
        bm25TfC(s, d).join(broadcast(pterm.select(col("probe"), col("w"))), Seq("w")),
        bm25IdfFx(pterm.select(col("w"), col("df")).distinct(), stats), stats)
        .select(col("probe"), col("w"), col("doc_id"), col("tf"),
          col("cfx"))
    }

  /** Per-doc token count (doc_id, len) over [[bm25TfC]]: BM25's length
    * normalizer, shared by the retrieval query and the evaluations. */
  private[ext] def bm25DlenC(s: SparkSession, d: String): DataFrame =
    Cache.getOrPersist(s, "bm25_dlen", d)(
      bm25TfC(s, d).groupBy(col("doc_id")).agg(sum(col("tf")).as("len")))

  /** One row (nn, avgfx): the corpus's doc count and its average doc
    * length in 1/1000 token units. */
  private def bm25Stats(s: SparkSession, d: String): DataFrame =
    bm25DlenC(s, d).agg(count(lit(1)).as("nn"), sum(col("len")).as("tot"))
      .select(col("nn"), expr("(tot * 1000) div nn").as("avgfx"))

  /** Lucene's BM25 idf, log2((N+1)/(df+0.5)), as an LmScore fixed-point
    * BIGINT for every (w, df) row: (w, idf_fx). The ratio goes through
    * a DECIMAL(38,0) product, since (nn+1)·2·1e9 passes 2^63 at about
    * 4.6e9 docs; the log rides the bit-length/mantissa table, so no
    * ln() crosses the oracle boundary. */
  private def bm25IdfFx(wdf: DataFrame, stats: DataFrame): DataFrame =
    wdf.crossJoin(broadcast(stats))
      .withColumn("xfx",
        expr(s"CAST((CAST((nn + 1) * 2 AS DECIMAL(38,0)) * " +
          s"${LmScore.PScale}) div (2 * df + 1) AS BIGINT)"))
      .withColumn("e", length(conv(col("xfx"), 10, 2)).cast("long"))
      .withColumn("m", expr(s"(xfx * ${LmScore.MScale}L) div " +
        "shiftleft(1L, CAST(e - 1 AS INT))"))
      .withColumn("idf_fx", (col("e") - 1) * lit(LmScore.LogScale)
        + element_at(typedLit(LmScore.Log2Table),
            (col("m") - lit(LmScore.MScale - 1)).cast("int"))
        - lit(LmScore.L9Fx))
      .select(col("w"), col("idf_fx"))

  /** `postings` (…, w, doc_id, tf) with each row's BM25 contribution
    * `cfx` (k1 = 1.2, b = 0.75): IEEE-exact tf saturation times the
    * term's idf, snapped to a BIGINT before any sum. */
  private def bm25Contrib(s: SparkSession, d: String, postings: DataFrame,
      qidf: DataFrame, stats: DataFrame): DataFrame =
    postings.join(broadcast(qidf), Seq("w"))
      .join(bm25DlenC(s, d), Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("tfpart",
        col("tf").cast("double") * lit(2.2) /
          (col("tf").cast("double") + lit(1.2) *
            (lit(0.25) + lit(0.75) * col("len").cast("double") /
              (col("avgfx").cast("double") / lit(1000.0)))))
      .withColumn("cfx",
        floor(col("idf_fx").cast("double") * col("tfpart") + lit(0.5))
          .cast("long"))

  /** Layer-0 NSW neighbor graph snapshot (graph-ANN serving
    * structure) — shared by the flat serve, its recall twin, and
    * both HNSW queries. */
  private[ext] def knnGraphC(s: SparkSession, d: String): DataFrame =
    Cache.getOrSnapshot(s, "knn_graph", d)(
      VectorSearch.knnGraph(
        emb(s, d).select(col("vec_id"), col("embedding"))))

  /** Layer-1 (sampled-subset) neighbor graph snapshot for the HNSW
    * descent. */
  private[ext] def knnGraphL1C(s: SparkSession, d: String): DataFrame =
    Cache.getOrSnapshot(s, "knn_graph_l1", d)(
      VectorSearch.knnGraphL1(
        emb(s, d).select(col("vec_id"), col("embedding"))))

  /** Adjacency-joined corpus snapshots — the structure every
    * [[VectorSearch.graphTopK]] round scans (r17: one lookup serves
    * both the graph expansion and the scoring). Built once per
    * session under _shared:knn_graph, like the graphs themselves. */
  private[ext] def knnCorpusC(s: SparkSession, d: String): DataFrame =
    Cache.getOrSnapshot(s, "knn_corpus_adj", d)(
      VectorSearch.corpusWithAdj(knnGraphC(s, d),
        emb(s, d).select(col("vec_id"), col("embedding"))))

  private[ext] def knnCorpusL1C(s: SparkSession, d: String): DataFrame =
    Cache.getOrSnapshot(s, "knn_corpus_adj_l1", d)(
      VectorSearch.corpusWithAdj(knnGraphL1C(s, d),
        emb(s, d).select(col("vec_id"), col("embedding"))
          .where(col("vec_id") % VectorSearch.HnswSampleMod === 0)))

  /** Write the full on-disk ANN index ONCE per (session, dir) and
    * return its path — shared by the three *_persist serving queries
    * so the save cost never repeats per query. The index lives in the
    * session's `ann_index` dir (`graft.ann.indexBase` moves its base)
    * and is deleted when the session ends. */
  private[ext] def annIndexPath(s: SparkSession, d: String): String =
    Cache.memo(s, "ann_index_path", d) {
      val path = Cache.sessionDir(s, "ann_index",
        Some("graft.ann.indexBase")) + "/" +
        Cache.leafFor(d)
      val e = emb(s, d).select(col("vec_id"), col("embedding"))
      val cells = VectorSearch.labelCentroids(emb(s, d))
        .select(col("label").cast("long").as("cell_id"), col("centroid"))
      AnnIndex.save(e, cells, path)
      path
    }

  /** Per-doc bigram-LM scores (doc_id, n_bigrams, sum_nl2fx,
    * avg_nl2fx, avg_bits) — the Laplace-smoothed integer-log2
    * pipeline (see LmScore scaladoc), shared by q_lm_score and the
    * CCNet tercile split. Count tables and the per-doc frame are
    * session artifacts; the count-table join sides ride gated
    * broadcasts (shuffle joins on the n-gram key past the gate), so
    * the per-doc frame is a Snapshot (the rule in [[Cache]]). */
  private[ext] def lmDocScores(s: SparkSession, d: String): DataFrame =
    Cache.getOrSnapshot(s, "lm_doc_scores", d) {
      val ugCounts = lmUnigramCountsC(s, d)
      val vocab = ugCounts.agg(count(lit(1)).as("v"))
      lmDocBigramsC(s, d)
        .join(lmGate(d, "bg", lmBigramCountsC(s, d)), Seq("bg"))
        .join(lmGate(d, "ug", ugCounts), Seq("w1"))
        .crossJoin(broadcast(vocab))
        .withColumn("pfx", greatest(
          expr(s"((c12 + 1) * ${LmScore.PScale}L) div (c1 + v)"), lit(1L)))
        .withColumn("e", length(conv(col("pfx"), 10, 2)).cast("long"))
        .withColumn("m",
          expr(s"(pfx * ${LmScore.MScale}L) div " +
            "shiftleft(1L, CAST(e - 1 AS INT))"))
        .withColumn("nl2", lit(LmScore.L9Fx)
          - (col("e") - 1) * lit(LmScore.LogScale)
          - element_at(typedLit(LmScore.Log2Table),
              (col("m") - lit(LmScore.MScale - 1)).cast("int")))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"), sum(col("nl2")).as("sum_nl2fx"))
        .withColumn("avg_nl2fx", expr("sum_nl2fx div n_bigrams"))
        .withColumn("avg_bits", Det.r4(
          col("avg_nl2fx").cast("double") / lit(LmScore.LogScale.toDouble)))
    }

  /** Every adjacent word pair of every doc: (doc_id, w1, bg). */
  private[ext] def lmDocBigramsC(s: SparkSession, d: String): DataFrame =
    Cache.getOrPersist(s, "lm_doc_bigrams", d) {
      val ws = split(col("text"), " ")
      docs(s, d).where(size(ws) >= 2).select(col("doc_id"),
          explode(transform(sequence(lit(1), size(ws) - 1), i =>
            struct(element_at(ws, i).as("w1"),
              concat_ws(" ", element_at(ws, i), element_at(ws, i + 1))
                .as("bg")))).as("b"))
        .select(col("doc_id"), col("b.w1").as("w1"), col("b.bg").as("bg"))
    }

  /** Corpus bigram counts (bg, c12). */
  private[ext] def lmBigramCountsC(s: SparkSession, d: String): DataFrame =
    Cache.getOrPersist(s, "lm_bigram_counts", d)(
      lmDocBigramsC(s, d).groupBy(col("bg")).agg(count(lit(1)).as("c12")))

  /** Corpus unigram counts (w1, c1). */
  private[ext] def lmUnigramCountsC(s: SparkSession, d: String): DataFrame =
    Cache.getOrPersist(s, "lm_unigram_counts", d)(
      docs(s, d).select(explode(split(col("text"), " ")).as("w1"))
        .groupBy(col("w1")).agg(count(lit(1)).as("c1")))

  /** An LM count table as a join side, broadcast while its memoized
    * row count stays under `spark.graft.lm.broadcastMax`. */
  private def lmGate(d: String, tag: String, f: DataFrame): DataFrame =
    graft.core.Broadcasts.gatedMemo(f, "spark.graft.lm.broadcastMax", s"lm_$tag:$d")

  /** Shared dedup intermediates, materialized once per session. The
    * corpus-sized cache is the (doc_id, h) HASH projection, not the
    * string shingles: every minhash stage (band minima, candidates,
    * rescue re-band) consumes only the 8-byte hash, while a 3-word
    * shingle string averages ~20+ bytes — at 100 TB the strings would
    * dominate cache memory for rows only ngramJaccard's exact
    * rescoring ever reads. The string shingles live ONLY in
    * [[distinctShinglesC]], sized by the rescoring need. */
  private[ext] def shingleHashesC(s: SparkSession, d: String) =
    Cache.getOrPersist(s, "shingle_hashes", d)(
      Dedup.shingleHashes(Dedup.shingles(docs(s, d))))

  /** Primary-family band minima, materialized once per session: used
    * three times per candidate build (cap filter + both self-join
    * sides) and again by the rescue pass's hot-bucket detection. */
  private[ext] def bandMinsC(s: SparkSession, d: String) =
    Cache.getOrPersist(s, "minhash_bandmins", d)(
      Dedup.minhashBandMinsFromHashes(shingleHashesC(s, d), 0, Dedup.Bands))

  /** LSH candidate pairs; a Snapshot, since the build plans
    * broadcast joins (the rule in [[Cache]]). */
  private[ext] def candidatesC(s: SparkSession, d: String) =
    Cache.getOrSnapshot(s, "minhash_cand", d)(
      Dedup.minhashCandidates(bandMinsC(s, d)))

  /** One-row LSH bucket-cap read-out (r14 verdict #6), memoized like
    * docSimCapStats — the histogram agg over the cached band minima
    * runs once per (session, dir), then every serve crossJoins the
    * snapshot row. */
  private[ext] def bucketStatsC(s: SparkSession, d: String) =
    Cache.getOrSnapshot(s, "minhash_bucketstats", d)(
      Dedup.bucketCapStats(bandMinsC(s, d), Dedup.MinhashBucketCap))

  /** Per-(doc_id, shingle) STRING postings with term frequency — the
    * ONE cache that keeps the strings. r16 restructure: the distinct
    * set ([[distinctShinglesC]]) and the tf-weighted postings behind
    * q_doc_similarity / q_doc_sim_fanout share the same key space, but
    * the serve/fanout pair re-aggregated the postings FROM RAW TEXT on
    * every run (~2–3 s warm each at sf0.1) while only the distinct
    * projection was cached. Caching the grouped (doc_id, shingle, tf)
    * frame instead serves both: the exact-rescoring consumers read the
    * 2-column projection, the cosine serve reads the tf column, and
    * total cached bytes stay ~flat (one LONG per row replaces a whole
    * second materialization). */
  private[ext] def shinglePostsC(s: SparkSession, d: String) =
    Cache.getOrPersist(s, "shingle_posts_tf", d)(
      Dedup.shingles(docs(s, d))
        .groupBy(col("doc_id"), col("shingle"))
        .agg(count(lit(1)).as("tf")))

  /** Distinct (doc_id, shingle) STRING set — a projection of
    * [[shinglePostsC]] (grouped by exactly these keys, so the rows are
    * identical to the old `.distinct()` materialization). */
  private[ext] def distinctShinglesC(s: SparkSession, d: String) =
    shinglePostsC(s, d).select(col("doc_id"), col("shingle"))

  /** Cap for the rescue-pass query: low enough that the synthetic
    * corpus has over-cap buckets (see q_minhash_rescue's comment). */
  private[ext] val RescueCap = 15

  /** Vocab budget for q_oov_rate — below the corpus's 31 distinct
    * tokens so OOV is a real population; production budgets are
    * 50k–200k. */
  private[ext] val OovVocabSize = 20

  /** Rescue-family band minima for the over-cap population,
    * materialized once per session: the candidate build references
    * them three times (cap filter + both self-join sides) and the
    * rescue cap read-out aggregates them a fourth. A Snapshot: the
    * build plans broadcast joins (the rule in [[Cache]]). */
  private[ext] def rescueBandMinsC(s: SparkSession, d: String) =
    Cache.getOrSnapshot(s, "minhash_rescue_bandmins", d)(
      Dedup.minhashRescueBandMins(
        shingleHashesC(s, d), bandMinsC(s, d), cap = RescueCap))

  /** Rescue candidate pairs, shared by the rescue query and its exact
    * Jaccard rescore; a Snapshot like [[candidatesC]]. */
  private[ext] def rescueCandC(s: SparkSession, d: String) =
    Cache.getOrSnapshot(s, "minhash_rescue_cand", d)(
      Dedup.minhashCandidates(rescueBandMinsC(s, d), RescueCap))

  /** One-row RESCUE-band cap read-out (r15 verdict #5): the primary
    * bands self-report via [[bucketStatsC]], and at 100× a hot rescue
    * bucket would re-create the quadratic the rescue pass exists to
    * absorb — so the rescue family gets the same serve-time stats,
    * memoized and broadcast onto q_minhash_rescue's rows. A rescue
    * population that stays concentrated under the second permutation
    * family (cap_saturated = 1 here) is a boilerplate signature to
    * route to exact rescoring, not more re-banding. */
  private[ext] def rescueBucketStatsC(s: SparkSession, d: String) =
    Cache.getOrSnapshot(s, "minhash_rescue_bucketstats", d)(
      Dedup.bucketCapStats(rescueBandMinsC(s, d), RescueCap))

  /** Simhash signatures, shared by the primary pair pass, the rescue
    * pass (hot-bucket detection + re-block) and the monitoring
    * surface — one corpus aggregation instead of three. */
  private[ext] def simhashSigsC(s: SparkSession, d: String) =
    Cache.getOrPersist(s, "simhash_sigs", d)(
      Dedup.simhash(docs(s, d)))

  /** Simhash near-dup pairs (primary partition, production cap),
    * shared by the pair query and the cluster resolution query. A
    * Snapshot: the build plans broadcast joins (the rule in [[Cache]]). */
  private[ext] def simhashPairsC(s: SparkSession, d: String) =
    Cache.getOrSnapshot(s, "simhash_pairs", d)(
      Dedup.simhashNearDups(simhashSigsC(s, d)))

  /** Rescue-pass pairs for members of over-cap simhash blocks (the
    * sf0.01 corpus trips the production cap for real: one block-3
    * bucket holds all 500 docs — see Dedup.SimhashBlockCap). A
    * Snapshot: the build plans broadcast joins (the rule in [[Cache]]). */
  private[ext] def simhashRescueC(s: SparkSession, d: String) =
    Cache.getOrSnapshot(s, "simhash_rescue", d)(
      Dedup.simhashRescueNearDups(simhashSigsC(s, d)))

  /** The near-dup edge set (capped primary pairs ∪ rescue pairs,
    * distinct), session-shared: connected components scans it three
    * times (contraction aggregate + both sides of the rep join) and
    * PageRank re-reads it every round — without the cache each scan
    * re-runs the union+distinct shuffle from the cached pair frames
    * (measured 2.1 s of q_dedup_clusters' 5.4 s warm at sf0.1). */
  private[ext] def simhashEdgesC(s: SparkSession, d: String) =
    Cache.getOrPersist(s, "simhash_edges", d)(
      simhashPairsC(s, d).select(col("d1"), col("d2"))
        .unionByName(simhashRescueC(s, d).select(col("d1"), col("d2")))
        .distinct())

  /** Near-dup clusters over [[simhashEdgesC]]: (doc_id, cluster_id),
    * the component's smallest doc_id, by min-label propagation. A
    * Snapshot, so a consumer scans the converged map instead of
    * re-running the iteration. */
  private[ext] def ccClustersC(s: SparkSession, d: String): DataFrame =
    Cache.getOrSnapshot(s, "cc_clusters", d)(
      Dedup.connectedComponents(
        docs(s, d).select(col("doc_id")), simhashEdgesC(s, d)))

  /** Banded sign-LSH pair cosines, shared by the near-dup pair query
    * and the embedding-cluster resolution query. A Snapshot: the build
    * plans broadcast joins (the rule in [[Cache]]). */
  private[ext] def bandedCosC(s: SparkSession, d: String) =
    Cache.getOrSnapshot(s, "banded_cos", d)(
      VectorSearch.bandedPairCosine(emb(s, d)))

  /** Force the minhash chain (shingle-hash table → LSH candidates). */
  def warmMinhash(spark: SparkSession, dir: String): Unit = {
    shingleHashesC(spark, dir).count()
    candidatesC(spark, dir).count()
    ()
  }

  /** Label centroids of the full corpus — the deterministic coarse
    * quantizer four serving paths share (IVF serve + recall twin,
    * the centroid-probe brute-force baseline, the persisted index),
    * snapshotted per session (r17): the centroid build is a
    * posexplode over the whole corpus and was re-aggregated per
    * action. O(labels) rows. */
  private[ext] def labelCellsC(s: SparkSession, d: String): DataFrame =
    Cache.getOrSnapshot(s, "label_cells", d)(
      VectorSearch.labelCentroids(emb(s, d)))

  /** The IVF assignment table under the label-centroid quantizer —
    * the inverted file itself, session-shared like the kmeans-cell
    * assignment (r17): q_ann_ivf re-assigned the whole corpus (N×cells
    * crossed argmax) on every action; a deploy builds the inverted
    * lists once and serves probes against them. A Snapshot: the
    * build broadcasts the cells (the rule in [[Cache]]). */
  private[ext] def ivfLabelAssignC(s: SparkSession, d: String): DataFrame =
    Cache.getOrSnapshot(s, "ivf_label_assign", d) {
      val cellsB = broadcast(labelCellsC(s, d)
        .select(col("label").cast("long").as("cell_id"), col("centroid"),
          VectorSearch.fixedNormSq(col("centroid")).as("cnrm")))
      VectorSearch.assignCells(
        emb(s, d).select(col("vec_id"), col("embedding")), cellsB)
    }

  /** PQ codebook + code table, session-shared: a production deploy
    * persists both (they ARE the index); the codebook is O(M·k·dsub)
    * rows at any corpus size, the codes N×M small integers. The
    * codebook is persisted; the codes are a Snapshot, since encoding
    * plans a broadcast join of the codebook (the rule in [[Cache]]). */
  private[ext] def pqCentC(s: SparkSession, d: String) =
    Cache.getOrPersist(s, "pq_codebook", d)(
      VectorSearch.pqTrain(emb(s, d).select(col("vec_id"), col("embedding"))))

  private[ext] def pqCodesC(s: SparkSession, d: String) =
    Cache.getOrSnapshot(s, "pq_codes", d)(
      VectorSearch.pqEncode(
        emb(s, d).select(col("vec_id"), col("embedding")), pqCentC(s, d)))

  /** IVF side of the composed IVF-PQ stack, session-shared: the
    * 10-candidate exact-cosine shortlist (label-centroid cells,
    * 2 probes, %50 query sample) that BOTH the serving query and its
    * recall twin consume — one IVF corpus assignment per session, and
    * the serving parameters exist in exactly one place so the recall
    * measurement can never silently measure a different stack than
    * the one served. */
  private[ext] def ivfPqShortlistC(s: SparkSession, d: String) =
    // getOrSnapshot, not getOrPersist: the shortlist's build plan
    // broadcasts the cells (the rule in Cache)
    Cache.getOrSnapshot(s, "ivfpq_shortlist", d) {
      val e = emb(s, d).select(col("vec_id"), col("embedding"))
      val cells = labelCellsC(s, d)
        .select(col("label").cast("long").as("cell_id"), col("centroid"))
      val queries = emb(s, d).where(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      VectorSearch.ivfTopK(e, cells, queries, "qid", "qvec", 10, 2)
        .select(col("qid"), col("vec_id"))
    }

  /** The trained k-means quantizer (8 cells, 2 rounds): (cell_id,
    * centroid). One codebook for SemDeDup, the k-means IVF serve,
    * filtered ANN and the cluster read-outs, so they all agree on the
    * partition of the space. Its build runs jobs (each round is an
    * eager local checkpoint), so a caller that may not need it keeps
    * the call lazy. */
  private[ext] def kmeansCellsC(s: SparkSession, d: String): DataFrame =
    Cache.getOrPersist(s, "kmeans_cells_8_2", d)(
      VectorSearch.kmeansCells(
        emb(s, d).select(col("vec_id"), col("embedding")), k = 8, iters = 2))

  /** [[kmeansCellsC]] with each centroid's fixed-point norm, hinted
    * broadcast: the probe side of every assignment against it. */
  private[ext] def kmeansCellsB(s: SparkSession, d: String): DataFrame =
    broadcast(kmeansCellsC(s, d).select(col("cell_id"), col("centroid"),
      VectorSearch.fixedNormSq(col("centroid")).as("cnrm")))

  /** Every vector's nearest [[kmeansCellsC]] cell: (cell_id, vec_id,
    * embedding, enrm). The SemDeDup plan reads it four times. A
    * Snapshot: the build broadcasts the cells (the rule in [[Cache]]). */
  private[ext] def semdedupAssignC(s: SparkSession, d: String): DataFrame =
    Cache.getOrSnapshot(s, "semdedup_assign_8_2", d)(
      VectorSearch.assignCells(
        emb(s, d).select(col("vec_id"), col("embedding")), kmeansCellsB(s, d)))

  /** Force the trained quantizers (the k-means codebook, the PQ
    * codebook + codes), the label-centroid quantizer with its inverted
    * file and the composed IVF-PQ shortlist snapshot, so their first
    * touch does not land on whichever IVF serve runs first. */
  def warmVectors(spark: SparkSession, dir: String): Unit =
    Cache.forceAll(spark)(
      () => kmeansCellsC(spark, dir).count(),
      () => {
        labelCellsC(spark, dir).count()
        Cache.forceAll(spark)(
          () => ivfLabelAssignC(spark, dir).count(),
          () => ivfPqShortlistC(spark, dir).count())
      },
      () => { pqCentC(spark, dir).count(); pqCodesC(spark, dir).count() })

  /** Force the simhash signature/pair tables (primary + rescue, both
    * over the signatures) beside the banded-LSH pair cosines. */
  def warmSimhash(spark: SparkSession, dir: String): Unit =
    Cache.forceAll(spark)(
      () => {
        simhashSigsC(spark, dir).count()
        Cache.forceAll(spark)(
          () => simhashPairsC(spark, dir).count(),
          () => simhashRescueC(spark, dir).count())
      },
      () => bandedCosC(spark, dir).count())

  /** Force the string-shingle postings snapshots (distinct (doc,
    * shingle) set + rescue candidate pairs) — the first-touch cost
    * that otherwise lands on whichever of q_decontaminate /
    * q_ngram_jaccard / q_minhash_rescue runs first (VERDICT r10:
    * 53.2 s of q_decontaminate's driver cold was this build). */
  def warmShinglePostings(spark: SparkSession, dir: String): Unit =
    Cache.forceAll(spark)(
      () => shinglePostsC(spark, dir).count(),
      () => rescueCandC(spark, dir).count())

  /** Force the bigram-LM count tables + per-doc score frame beside the
    * BM25 term-frequency postings and the retrieval evaluations'
    * shared probe-term + candidate snapshots — the q_lm_score /
    * q_token_entropy / q_bm25_retrieval / q_retrieval_* first-touch
    * builds. */
  def warmLmTables(spark: SparkSession, dir: String): Unit =
    Cache.forceAll(spark)(
      () => lmDocScores(spark, dir).count(),
      () => { bm25TfC(spark, dir).count(); bm25CandC(spark, dir).count() })

  /** Force both graph-ANN serving structures (layer-0 NSW graph +
    * layer-1 subset graph), each with the adjacency-joined corpus
    * snapshot its beam serve scans — the q_ann_graph/q_ann_hnsw
    * first-touch builds. */
  def warmKnnGraph(spark: SparkSession, dir: String): Unit =
    Cache.forceAll(spark)(
      () => { knnGraphC(spark, dir).count(); knnCorpusC(spark, dir).count() },
      () => { knnGraphL1C(spark, dir).count(); knnCorpusL1C(spark, dir).count() })

  /** Render every binary media fixture set (PNG/JPEG/BMP/GIF, WAV,
    * animated GIF, phash PNGs) — one-time per sf dir; billing them
    * here keeps the multimodal queries' cold numbers about decode
    * work, not about whichever query wrote the fixture first. */
  def warmMediaFixtures(spark: SparkSession, dir: String): Unit =
    Cache.forceAll(spark)(
      () => graft.io.MediaFixtures.write(spark, dir),
      () => graft.io.AudioFixtures.write(spark, dir),
      () => graft.io.VideoFixtures.write(spark, dir),
      () => graft.io.PhashFixtures.write(spark, dir),
      () => graft.io.DialectFixtures.writeDocsHtml(spark, dir))

  /** Unigram-LM Viterbi segmentation of every distinct corpus word. */
  private[ext] def unigramSegC(s: SparkSession, d: String): DataFrame =
    Cache.getOrPersist(s, "unigram_seg", d)(Unigram.segmentsAll(docs(s, d), d))

  /** WordPiece greedy longest-match segmentation of every distinct
    * corpus word. */
  private[ext] def wordpieceSegC(s: SparkSession, d: String): DataFrame =
    Cache.getOrPersist(s, "wordpiece_seg", d)(WordPiece.segmentsAll(docs(s, d), d))

  /** The resolved entity-resolution frame, shared by the cluster audit
    * and its quality read-out; a Snapshot like the other CC fixpoints. */
  private[ext] def erResolvedC(s: SparkSession, d: String): DataFrame =
    Cache.getOrSnapshot(s, "er_resolved", d)(EntityResolution.resolved(s, d))

  /** q_dataset_mix rates (shared by query and oracle). */
  private[ext] val MixRates =
    Map("src0" -> 1.5, "src1" -> 0.5, "src2" -> 0.1)

  /** q_lsh_recall ground-truth Jaccard threshold: the sf corpus is
    * cleanly bimodal (observed: 25 pairs ≥ 0.5, everything else
    * < 0.1 at sf0.01), so 0.3 selects exactly the true near-dup
    * population either mode would. */
  private[ext] val LshRecallThresh = 0.3

  /** q_pmi_bigrams min bigram count: PMI explodes on rare pairs
    * (c12=1 pairs of rare words dominate any top-k), so collocation
    * extraction floors the pair count first — the standard Church &
    * Hanks guard. */
  private[ext] val PmiMinCount = 5

  /** q_semdedup cosine threshold: below the synthetic embeddings'
    * natural pair-cosine ceiling (~0.51 max within-cell pair at
    * sf0.01) so a REAL but partial dup population exists — ~20% of
    * vectors flag, 80% survive (production paraphrase dedup runs
    * τ≈0.95 on real embeddings). */
  private[ext] val SemTau = 0.35

  /** q_semdedup cell-membership cap (the LSH bucket-cap policy
    * applied to k-means cells): over-cap cells skip pair generation
    * and their members are flagged, bounding the within-cell
    * quadratic term no matter how skewed the clustering. 65 sits
    * inside the sf0.01 cell-size range (53–71), so BOTH branches are
    * exercised — the RescueCap=15 convention; production caps are
    * ~10× the k ≈ N/m target cell size. */
  private[ext] val SemCellCap = 65

  /** q_semdedup sub-split width: over-cap cells split into ksub
    * sub-cells (one deterministic k-means iteration scoped to the
    * cell) before the rescue dedup pass. At sf0.01 the over-cap cells
    * (66–71 members) split into sub-cells well under the 65 cap, so
    * the rescued branch carries real verdicts. */
  private[ext] val SemSubK = 4

  /** q_split_leakage document-frequency cap: shingles in more docs
    * than this are boilerplate, not leakage evidence — and excluding
    * them bounds the leakage join's per-shingle fan-out. 5 at sf0.01
    * actually excludes shingles (observed DF reaches 7), so the cap
    * path is exercised; production runs use the same order (GPT-3's
    * audit dropped 13-grams above tiny DF for the same reason). */
  private[ext] val LeakDfCap = 5

  /** q_doc_similarity's tuned base DF cap (non-escalated). */
  private[ext] val DocSimDfCap = 30

  /** Pair-fan-out budget for the saturation-escalated DF caps
    * ([[Dedup.dfCapStats]]): the escalated cap may admit at most this
    * many pair-stage rows per corpus document — the capacity rule the
    * 100 TB pair stage is planned with. Sized 400 because a replica-
    * densified corpus has a BIMODAL df histogram (the near-dup signal
    * sits in one bucket whose fan-out is a large step — at the 100×
    * replica, budget 400 selects cap 400 → 76.7M pairs over 500k docs
    * [153/doc], vs the 13.9B-pair uncapped join and the 0-signal
    * fixed cap); a budget below the signal bucket's step would
    * escalate the cap to nowhere. Unsaturated corpora never read
    * this constant. */
  private[ext] val DfCapBudget = 400

  /** q_split_assign bands (shared by query and oracle). */
  private[ext] val SplitBands =
    Seq("test" -> 1.0, "train" -> 98.0, "val" -> 1.0)

  /** Per-block UNION ALL: (doc_id, simhash, blk, bv) from `src`, with
    * `sigExpr` as the (possibly rotated) signature to block on —
    * mirrors Dedup.simhashBlockRows term for term. */
  private[ext] def simhashBlocksSql(src: String, sigExpr: String): String =
    (0 until Dedup.SimhashBlocks).map(b =>
      s"SELECT doc_id, simhash, $b AS blk, " +
        s"CAST(floor(($sigExpr) / power(${Dedup.SimhashBlockBase}, $b)) AS BIGINT)" +
        s" % ${Dedup.SimhashBlockBase} AS bv " +
        s"FROM $src").mkString(" UNION ALL ")

  /** Capped pair CTEs over a blocks CTE: ok-bucket filter (cap), kept
    * rows, distinct candidate pairs — Dedup.simhashPairsFromBlocks. */
  private[ext] def simhashCappedPairsSql(blocks: String, cap: Int,
                                    pfx: String): String =
    s"""${pfx}okb AS (
       |  SELECT blk, bv FROM $blocks GROUP BY 1, 2
       |  HAVING count(*) <= $cap),
       |${pfx}kept AS (
       |  SELECT $blocks.* FROM $blocks JOIN ${pfx}okb USING (blk, bv)),
       |${pfx}pairs AS (
       |  SELECT DISTINCT a.doc_id AS d1, b2.doc_id AS d2,
       |         a.simhash AS h1, b2.simhash AS h2
       |  FROM ${pfx}kept a JOIN ${pfx}kept b2
       |    ON a.blk = b2.blk AND a.bv = b2.bv AND a.doc_id < b2.doc_id)""".stripMargin

  /** Shared CTE chain for the simhash oracles: signatures → primary
    * blocks → capped primary pairs (`pairs`), plus the rescue chain —
    * hot buckets → hot docs → rotated re-block → capped rescue pairs
    * (`rpairs`). Pairs are pre-hamming-filter; consumers apply it. */
  private[ext] lazy val simhashPairCtes: String = {
    val rb = Dedup.SimhashRescueRotBits
    val rotExpr = s"(simhash >> $rb) + " +
      s"(simhash & ${(1L << rb) - 1}) * ${1L << (Dedup.SimhashBits - rb)}"
    s"""${Dedup.simhashSql},
       |blocks AS (
       |  ${simhashBlocksSql("simhash", "simhash")}
       |),
       |${simhashCappedPairsSql("blocks", Dedup.SimhashBlockCap, "")},
       |hotb AS (
       |  SELECT blk, bv FROM blocks GROUP BY 1, 2
       |  HAVING count(*) > ${Dedup.SimhashBlockCap}),
       |hotdocs AS (
       |  SELECT DISTINCT blocks.doc_id FROM blocks JOIN hotb USING (blk, bv)),
       |rsim AS (
       |  SELECT s.doc_id, s.simhash, $rotExpr AS rot
       |  FROM simhash s JOIN hotdocs USING (doc_id)),
       |rblocks AS (
       |  ${simhashBlocksSql("rsim", "rot")}
       |),
       |${simhashCappedPairsSql("rblocks", Dedup.SimhashBlockCap, "r")}""".stripMargin
  }

  /** Bounded-round min-label CC ladder — the oracle replay of
    * [[Dedup.connectedComponents]] WITHOUT the recursive-CTE
    * quadratic (VERDICT r12 #3: the recursive `cc` accumulates one
    * (node, label) row per node×reachable-label — ~n² rows inside a
    * giant near-dup cluster, 248 s at sf0.1). Each round takes the
    * min over {self, neighbors' labels, label-of-label} — neighbor
    * propagation plus pointer jumping, the Rastogi-et-al. shortcut —
    * so the reach DOUBLES per round and [[CcRounds]] = 24 converges
    * for any component up to ~2²² nodes (extra rounds are
    * idempotent; a correct label never changes once minimal).
    * Requires `sym(src, dst)` (the symmetric edge list) in scope;
    * emits `cgrp(doc_id, cluster_id)`. Chained plain CTEs — safe to
    * Oracle.mat(). */
  private[ext] val CcRounds = 24
  private[ext] lazy val ccLadderSql: String = {
    val rounds = (1 to CcRounds).map { i =>
      val p = s"lab${i - 1}"
      s"""lab$i AS (
         |  SELECT node, min(l) AS label FROM (
         |    SELECT node, label AS l FROM $p
         |    UNION ALL
         |    SELECT s.src AS node, t.label AS l
         |    FROM sym s JOIN $p t ON t.node = s.dst
         |    UNION ALL
         |    SELECT a.node, b.label AS l
         |    FROM $p a JOIN $p b ON b.node = a.label
         |  ) GROUP BY node)""".stripMargin
    }
    s"""lab0 AS (SELECT doc_id AS node, doc_id AS label FROM documents),
       |${rounds.mkString(",\n")},
       |cgrp AS (
       |  SELECT node AS doc_id, label AS cluster_id FROM lab$CcRounds)""".stripMargin
  }

  private[ext] val normSqlExpr =
    "array_to_string(string_split(text,' ')[1:5], ' ')"

  /** Shared by q_bpe_tokens (replace chain) and q_bpe_tokens_kernel
    * (rank-indexed kernel): the subword count is the `]`-count of the
    * folded string — the exact twin of Bpe.docBpeCol. LEFT JOIN keeps
    * any doc whose word list is empty at n_bpe = 0. */
  private[ext] lazy val bpeTokensOracleSql: String =
    s"""WITH ${Bpe.learnCtesSql()},
       |wsrc AS (
       |  SELECT doc_id, unnest(list_filter(string_split(text, ' '),
       |    x -> x <> '')) AS w
       |  FROM documents),
       |${Bpe.applyCtesSql("wsrc", Seq("doc_id"))},
       |perword AS (
       |  SELECT doc_id, ${Bpe.countSql("tok")} AS c
       |  FROM t${Bpe.NumMerges}),
       |perdoc AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_ws,
       |         CAST(sum(c) AS BIGINT) AS n_bpe
       |  FROM perword GROUP BY 1)
       |SELECT d.doc_id, COALESCE(p.n_ws, 0) AS n_ws,
       |       COALESCE(p.n_bpe, 0) AS n_bpe
       |FROM documents d LEFT JOIN perdoc p USING (doc_id)
       |ORDER BY doc_id""".stripMargin


  /** Per-probe exact-3-NN prediction (qid, pred_label, true_label,
    * correct) — the shared chain behind q_knn_classify and
    * q_label_noise. Probes ride the FIXED seeded acceptance panel
    * (the recall-twin discipline): the exact side is probes×corpus
    * by construction, so pinning nq is what keeps this measurement
    * O(panel·N) instead of quadratic; the result (≤panel rows) is a
    * session snapshot, so the two consumers pay the scan once. */
  private[ext] def knnPerProbe(s: SparkSession, d: String): DataFrame =
    Cache.getOrSnapshot(s, "knn_per_probe", d) {
      import org.apache.spark.sql.expressions.Window
      val e = emb(s, d).select(col("vec_id"), col("embedding"),
        col("label").cast("long").as("label"))
      val probes = annPanelC(s, d)
        .select(col("qid"), col("qvec"),
          col("label").cast("long").as("true_label"))
        .withColumn("nrm_q", VectorSearch.fixedNormSq(col("qvec")))
      val scored = e
        .withColumn("nrm_e", VectorSearch.fixedNormSq(col("embedding")))
        .crossJoin(broadcast(probes))
        .where(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("true_label"), col("vec_id"), col("label"),
          Det.r4(VectorSearch.cosineCol(
            VectorSearch.fixedDot(col("qvec"), col("embedding")),
            col("nrm_q"), col("nrm_e"))).as("cos_sim"))
      val wTop = Window.partitionBy(col("qid"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
      val votes = scored
        .withColumn("rn", row_number().over(wTop)).where(col("rn") <= 3)
        .groupBy(col("qid"), col("true_label"), col("label"))
        .agg(count(lit(1)).as("n_votes"), min(col("rn")).as("best_rn"))
      val wVote = Window.partitionBy(col("qid"))
        .orderBy(col("n_votes").desc, col("best_rn"), col("label"))
      votes.withColumn("vr", row_number().over(wVote))
        .where(col("vr") === 1)
        .select(col("qid"), col("label").as("pred_label"),
          col("true_label"),
          (col("label") === col("true_label")).cast("long").as("correct"))
    }

  // lazy: oraclesBase references ExtServingOracles.oracles, whose own
  // initializer calls back into this object's CTE builders — with
  // EAGER vals a first touch of ExtServingOracles would re-enter
  // ExtQueries mid-init and read oraclesBase as null (Map ++ null
  // NPE), and two threads first-touching the two objects could
  // deadlock on class-init locks. Lazy maps break the cycle: this
  // object's eager init never touches the sibling objects.
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    Map[String, (SparkSession, String) => DataFrame](

    // Exact dedup: sha2 groups over prefix-normalized text.
    "q_dedup_exact" -> ((s, d) =>
      Dedup.exactDupGroups(docs(s, d), Dedup.normPrefix(col("text"), 5))
        .orderBy(col("sig"))),

    // The dataset card: per-(source, lang) release summary a training
    // corpus ships with — doc/char/token totals, mean quality, and
    // exact-dup exposure. Duplicate signatures are counted CORPUS-wide
    // (dup groups cross source/lang boundaries) and attributed to each
    // doc's stratum; quality means ride the fixed-point integer sum so
    // no double addition order can differ. One pass over documents +
    // an O(distinct sigs) count join — the card costs two shuffles at
    // any corpus size.
    "q_dataset_card" -> ((s, d) => {
      val dc = docs(s, d)
      val q = TextAnalysis.qualityColumns(dc)
        .select(col("doc_id"), col("n_words"), col("quality"))
      val sig = dc.select(col("doc_id"), col("source"), col("lang"),
        col("n_chars"), Dedup.normPrefix(col("text"), 5).as("sig"))
      val sigCounts = sig.groupBy(col("sig")).agg(count(lit(1)).as("sc"))
      sig.join(sigCounts, Seq("sig"))
        .join(q, Seq("doc_id"))
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("n_chars_total"),
          sum(col("n_words")).as("n_words_total"),
          sum(floor(col("quality") * 10000 + 0.5).cast("long")).as("qfx"),
          sum(when(col("sc") > 1, 1L).otherwise(0L)).as("n_dup_docs"))
        .select(col("source"), col("lang"), col("n_docs"),
          col("n_chars_total"), col("n_words_total"),
          Det.r4(col("qfx").cast("double") / lit(10000.0) /
            col("n_docs").cast("double")).as("quality_mean"),
          col("n_dup_docs"),
          Det.r4(col("n_dup_docs").cast("double") /
            col("n_docs").cast("double")).as("dup_pct"))
        .orderBy(col("source"), col("lang"))
    }),

    // The streaming ingest gate executed in batch — the same
    // initialState flatMapGroupsWithState code path a live crawl
    // consumer runs (state bootstrapped from the base corpus, no
    // history replay), scored against the SAME oracle as
    // q_incremental_dedup: the O(1)-per-signature state machine must
    // classify exactly what the batch join does.
    "q_stream_incremental_dedup" -> ((s, d) => {
      import graft.streaming.StreamOps.{DocSig, SigSeen}
      implicit val encD = org.apache.spark.sql.Encoders.product[DocSig]
      implicit val encS = org.apache.spark.sql.Encoders.product[SigSeen]
      val sig = docs(s, d).select(col("doc_id"),
        sha2(Dedup.normPrefix(col("text"), 5), 256).as("sig"))
      val incoming = sig.where(col("doc_id") % 10 === 7).as[DocSig]
      val baseSigs = sig.where(col("doc_id") % 10 =!= 7)
        .groupBy(col("sig")).agg(min(col("doc_id")).as("first_doc"))
        .select(col("sig"), col("first_doc"), lit(true).as("from_base"))
        .as[SigSeen]
      StreamOps.ingestDedupGate(incoming, baseSigs)
        .toDF().orderBy(col("doc_id"))
    }),

    // The SQL front-end as a scored surface: Graft.registerTables
    // makes the corpus SQL-addressable, and the query text below runs
    // VERBATIM on both engines — the Spark side executes the literal
    // oracle string through spark.sql. This is the portability
    // contract a SQL-first user gets: the dialect-shared subset
    // (ANSI aggregates, CAST, GROUP/ORDER BY) behaves identically.
    "q_sql_surface" -> ((s, d) => {
      graft.Graft.registerTables(s, d)
      s.sql(SqlSurfaceSql)
    }),

    // The correlated-subquery third of the literal SQL surface:
    // orders costing more than 2× their own customer's average, as
    // ONE ANSI text with a correlated scalar subquery — Catalyst
    // rewrites it to an aggregate + join (RewriteCorrelatedScalar-
    // Subquery), DuckDB plans its own decorrelation, and both must
    // land on identical rows. Money in exact cents; the avg division
    // spelled once, IEEE on both engines.
    "q_sql_correlated" -> ((s, d) => {
      graft.Graft.registerTables(s, d)
      s.sql(SqlCorrelatedSql)
    }),

    // The LATERAL quarter of the literal SQL surface: a correlated
    // top-N-per-group via LATERAL (... ORDER BY ... LIMIT 2) — the
    // spelling analysts reach for before window functions. Both
    // engines parse the identical text; Spark rewrites it to a
    // ranked-window plan, DuckDB to its own dependent join.
    "q_sql_lateral" -> ((s, d) => {
      graft.Graft.registerTables(s, d)
      s.sql(SqlLateralSql)
    }),

    // The three-valued-logic corner of the literal SQL surface: NOT
    // IN vs NOT EXISTS against a NULL-bearing set (see
    // SqlNullSemanticsSql). Both engines execute the identical text;
    // an engine that "fixes" NOT IN's UNKNOWN into FALSE lands red.
    "q_sql_null_semantics" -> ((s, d) => {
      graft.Graft.registerTables(s, d)
      s.sql(SqlNullSemanticsSql)
    }),

    // The GROUPING()-marker corner of the literal SQL surface (see
    // SqlGroupingSql — rolled-up NULL vs data NULL, null order
    // pinned).
    "q_sql_grouping" -> ((s, d) => {
      graft.Graft.registerTables(s, d)
      s.sql(SqlGroupingSql)
    }),

    // The recursive-CTE corner of the literal SQL surface (Spark 4's
    // UnionLoop): one ANSI text executed verbatim by both engines.
    "q_sql_recursive" -> ((s, d) => {
      graft.Graft.registerTables(s, d)
      s.sql(SqlRecursiveSql)
    }),

    // The EXISTS-decorrelation corner of the literal SQL surface
    // (TPC-H Q4's shape over this schema's columns): a correlated
    // EXISTS predicate both engines must rewrite to a semi-join —
    // the third decorrelation path beside the correlated scalar
    // (q_sql_correlated) and LATERAL (q_sql_lateral).
    "q_sql_exists" -> ((s, d) => {
      graft.Graft.registerTables(s, d)
      s.sql(SqlExistsSql)
    }),

    // Bag-semantics set operations (INTERSECT ALL / EXCEPT ALL):
    // multiplicity arithmetic — min(m_a, m_b) and m_a − m_b per key —
    // that DISTINCT set ops erase; one verbatim two-engine text.
    "q_sql_bag_setops" -> ((s, d) => {
      graft.Graft.registerTables(s, d)
      s.sql(SqlBagSetopsSql)
    }),

    // Prefix top-k (autocomplete read-out): top-3 words per 3-char
    // prefix by corpus frequency. The word counts collapse BEFORE the
    // ranking window — the window runs over O(vocab) rows partitioned
    // by prefix, never over the corpus — and the rank-3 cut is
    // WindowGroupLimit-eligible, so no partition ever materializes
    // fully. Deterministic tie order (count desc, word asc).
    "q_prefix_topk" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val counts = docs(s, d)
        .select(explode(split(col("text"), " ")).as("w"))
        .where(length(col("w")) >= 3)
        .groupBy(substring(col("w"), 1, 3).as("prefix"), col("w"))
        .agg(count(lit(1)).as("n"))
      val win = Window.partitionBy(col("prefix"))
        .orderBy(col("n").desc, col("w"))
      counts.withColumn("rank", row_number().over(win).cast("long"))
        .where(col("rank") <= 3)
        .orderBy(col("prefix"), col("rank"))
    }),

    // The window-function half of the literal SQL surface: one ANSI
    // text with a named WINDOW clause, ranking + offset functions,
    // executed verbatim by spark.sql AND by the oracle engine — the
    // dialect-portable window subset scored as-is. (CASTs pin the
    // BIGINT output types both engines agree on.)
    "q_sql_window_surface" -> ((s, d) => {
      graft.Graft.registerTables(s, d)
      s.sql(SqlWindowSurfaceSql)
    }),

    // CSV sink→source roundtrip — the third interchange format
    // (JSONL, ORC, now quoted CSV). The fixture embeds a comma in
    // the `tag` column so quoting is genuinely on the path; read
    // back with an EXPLICIT schema (positional, header skipped) and
    // summarized with folded per-row hashes of BOTH the text and the
    // quoted tag — a quoting/escaping bug anywhere moves a cell.
    "q_csv_roundtrip" -> ((s, d) => {
      import org.apache.spark.sql.types._
      val path = graft.io.DialectFixtures.writeDocsCsv(s, d)
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType), StructField("tag", StringType)))
      s.read.schema(schema).option("header", "true").csv(path)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).as("id_sum"),
          sum(col("n_chars")).as("n_chars"),
          sum(PortableHash.spread(PortableHash.h(col("text"))))
            .as("text_hash_sum"),
          sum(PortableHash.spread(PortableHash.h(col("tag"))))
            .as("tag_hash_sum"))
        .orderBy(col("lang"))
    }),


    // Schema evolution read: two parquet generations under one root
    // (gen=2 added a `quality` column), read with mergeSchema so the
    // union schema surfaces old rows with NULL in the new column —
    // the append-only lakehouse contract. The summary separates "row
    // exists" from "column populated" (n_docs vs n_quality), which is
    // exactly what a reader pinned to either single generation's
    // schema gets wrong; the oracle replays the expected summary from
    // the base table via the deterministic gen split. mergeSchema
    // costs one footer read per file at planning, not a data pass —
    // at 100 TB the read itself stays an ordinary pruned scan.
    "q_schema_drift" -> ((s, d) => {
      val path = graft.io.DialectFixtures.writeDocsDrift(s, d)
      s.read.option("mergeSchema", "true").parquet(path)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("gen").cast("long")).as("gen_sum"),
          sum(when(col("quality").isNotNull, 1L).otherwise(0L))
            .as("n_quality"),
          sum(coalesce(col("quality"), lit(0L))).as("quality_sum"),
          sum(col("doc_id")).as("id_sum"))
        .orderBy(col("lang"))
    }),

    // JSONL sink→source roundtrip — the corpus interchange format
    // (one JSON object per line, splittable, schema-on-read). The
    // corpus is written as JSONL with full write parallelism, read
    // back with an EXPLICIT schema (schema inference would cost a
    // whole extra pass over 100 TB — production pins the schema), and
    // summarized per stratum with a per-row text hash folded into the
    // aggregate — one mangled byte, lost row, or re-typed column
    // anywhere in the write→parse path moves a cell. The oracle runs
    // the same summary over the PARQUET table: roundtrip fidelity IS
    // the check.
    "q_jsonl_roundtrip" -> ((s, d) => {
      import org.apache.spark.sql.types._
      val path = graft.io.DialectFixtures.writeDocsJsonl(s, d)
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))
      s.read.schema(schema).json(path)
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("n_chars"),
          sum(col("doc_id")).as("id_sum"),
          sum(PortableHash.spread(PortableHash.h(col("text"))))
            .as("text_hash_sum"))
        .orderBy(col("source"), col("lang"))
    }),

    // Keep-first policy: which docs a dedup pass would drop.
    "q_dedup_keep_first" -> ((s, d) =>
      Dedup.dropDuplicatesKeepFirst(docs(s, d), Dedup.normPrefix(col("text"), 5))
        .orderBy(col("doc_id"))),

    // Keep-BEST policy — the keeper choice a curation pipeline
    // actually wants: within each exact-dup group, keep the
    // highest-QUALITY member (q_quality_score's rubric; doc_id breaks
    // ties), not merely the first-seen. Argmax via max_by over the
    // (quality, -doc_id) struct — partial/final agg, no per-group
    // sort — then one join back classifies the drops. Same normalized
    // signature as q_dedup_exact, so all three keeper queries agree
    // on what "duplicate" means.
    "q_dedup_keep_best" -> ((s, d) => {
      val q = TextAnalysis.qualityColumns(docs(s, d))
        .select(col("doc_id"), col("quality"))
      val sigs = docs(s, d)
        .select(col("doc_id"),
          sha2(Dedup.normPrefix(col("text"), 5), 256).as("sig"))
        .join(q, Seq("doc_id"))
      val keepers = sigs.groupBy(col("sig"))
        .agg(max_by(struct(col("doc_id"), col("quality")),
          struct(col("quality"), (-col("doc_id")).as("tb"))).as("k"))
        .select(col("sig"), col("k.doc_id").as("keeper"),
          col("k.quality").as("keeper_quality"))
      sigs.join(keepers, Seq("sig"))
        .where(col("doc_id") =!= col("keeper"))
        .select(col("doc_id"), col("quality"), col("keeper"),
          col("keeper_quality"), col("sig"))
        .orderBy(col("doc_id"))
    }),

    // Incremental dedup — the snapshot-ingest triage every living
    // corpus runs: an incoming batch (docs with doc_id % 10 == 7
    // stand in for the new crawl) is classified per doc against the
    // existing corpus as dup_of_base (signature already in the base,
    // evidence = lowest base doc), dup_in_batch (new to the base but
    // an earlier batch doc has it first), or new. Same normalized
    // signature as q_dedup_exact, so the two agree on what "exact
    // dup" means. Shape at 100 TB: the base reduces to one (sig,
    // min_doc) row per signature (partial/final min — the base's
    // history never shuffles), the batch takes one per-sig window
    // over BATCH rows only, and the classifying join shuffles on sig.
    "q_incremental_dedup" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val sig = docs(s, d).select(col("doc_id"),
        sha2(Dedup.normPrefix(col("text"), 5), 256).as("sig"))
      val inc = sig.where(col("doc_id") % 10 === 7)
        .withColumn("first_batch",
          min(col("doc_id")).over(Window.partitionBy(col("sig"))))
      val base = sig.where(col("doc_id") % 10 =!= 7)
        .groupBy(col("sig")).agg(min(col("doc_id")).as("base_doc"))
      inc.join(base, Seq("sig"), "left")
        .select(col("doc_id"),
          when(col("base_doc").isNotNull, lit("dup_of_base"))
            .when(col("doc_id") =!= col("first_batch"), lit("dup_in_batch"))
            .otherwise(lit("new")).as("status"),
          when(col("base_doc").isNotNull, col("base_doc"))
            .when(col("doc_id") =!= col("first_batch"), col("first_batch"))
            .otherwise(lit(-1L)).as("dup_of"))
        .orderBy(col("doc_id"))
    }),

    // MinHash+LSH near-dup candidates (8 portable-hash bands), with
    // the bucket-cap saturation read-out on every row (r14 verdict
    // #6: the DF caps self-report saturation, the LSH cap was still
    // fixed-and-silent — a densified corpus could lose ~all its pair
    // mass to the cap with nothing at serve time saying so; the
    // rescue pass is the escalation, this is the visibility).
    "q_minhash_near_dup" -> ((s, d) =>
      candidatesC(s, d)
        .crossJoin(broadcast(bucketStatsC(s, d)))
        .orderBy(col("d1"), col("d2"))),

    // DURABLE near-dup index (the dedup family's q_ann_persist
    // analog): the base corpus's minhash band minima — the LSH
    // postings that ARE the near-dup index — written to parquet
    // partitioned by band, reloaded, and an arriving batch triaged
    // against the STORED postings with one (b, mh) key join. Base
    // text is never rescanned at ingest: each batch pays its own
    // shingling/banding plus the join, the deploy shape where
    // signatures persist for weeks (Lee et al.'s dedup-before-train
    // pipeline run incrementally). The same bucket cap guards both
    // sides, computed over stored ∪ arriving postings — band minima
    // are per-doc, so that union is exactly the full-corpus banding
    // and the oracle replays it as one chain. New-vs-new pairs are
    // deliberately absent (q_incremental_dedup's dup_in_batch covers
    // those); this query prices the index lookup.
    "q_dedup_index_persist" -> ((s, d) => {
      Cache.getOrSnapshot(s, "dedup_index_serve", d) {
        val path = Cache.sessionDir(s, "dedup_index",
          Some("graft.dedup.indexBase")) + "/" +
          Cache.leafFor(d)
        Dedup.minhashBandMins(
            Dedup.shingles(docs(s, d).where(col("doc_id") % 10 =!= 7)))
          .write.mode("overwrite").partitionBy("b").parquet(path)
        // b comes back INT from directory-partition inference — pin
        // it to the writer's BIGINT (the AnnIndex.load discipline)
        val stored = s.read.parquet(path)
          .select(col("doc_id"), col("b").cast("long").as("b"),
            col("mh"))
        val delta = Dedup.minhashBandMins(
          Dedup.shingles(docs(s, d).where(col("doc_id") % 10 === 7)))
        val ok = stored.unionByName(delta)
          .groupBy(col("b"), col("mh")).agg(count(lit(1)).as("sz"))
          .where(col("sz") <= Dedup.MinhashBucketCap)
          .select(col("b"), col("mh"))
        val dl = delta.join(ok, Seq("b", "mh"))
          .select(col("doc_id").as("dnew"), col("b"), col("mh"))
        val st = stored.join(ok, Seq("b", "mh"))
          .select(col("doc_id").as("dbase"), col("b"), col("mh"))
        dl.join(st, Seq("b", "mh"))
          .groupBy(col("dnew"), col("dbase"))
          .agg(count(lit(1)).as("bands"))
      }.orderBy(col("dnew"), col("dbase"))
    }),

    // The over-cap rescue pass end-to-end, at a cap (15) low enough
    // that the synthetic corpus actually HAS hot buckets (max primary
    // bucket is 21 at sf0.01; the production cap of 200 is never hit
    // there, which would make this query a trivial empty-vs-empty
    // check). See Dedup.minhashRescueCandidates. Every row carries
    // the RESCUE bands' own cap read-out (r15 verdict #5): the
    // rescue pass is the primary cap's escalation, so ITS saturation
    // is the signal that the residue needs exact rescoring instead.
    "q_minhash_rescue" -> ((s, d) =>
      rescueCandC(s, d)
        .crossJoin(broadcast(rescueBucketStatsC(s, d)))
        .orderBy(col("d1"), col("d2"))),

    // The over-cap bucket LIST at the rescue cap — the monitoring
    // surface Dedup.MinhashBucketCap's scaladoc names for SIZING the
    // rescue pass (bucketCapStats gives the one-row aggregate; this
    // is the per-bucket read-out an operator drills into: which band
    // minima are hot and how hot). Same rescue cap (15) as
    // q_minhash_rescue so the listed population is exactly the one
    // that pass re-bands. Shape: one groupBy over the cached band
    // minima, output O(hot buckets) — dimension-sized at any corpus.
    "q_lsh_hot_buckets" -> ((s, d) =>
      Dedup.minhashOverCapBuckets(bandMinsC(s, d), RescueCap)
        .orderBy(col("b"), col("mh"))),

    // Rescue candidates with >=2 agreeing rescue bands, re-scored with
    // exact n-gram Jaccard: the full hot-bucket second-chance chain.
    "q_rescue_jaccard" -> ((s, d) => {
      val strong = rescueCandC(s, d)
        .where(col("bands") >= 2).select(col("d1"), col("d2"))
      Dedup.ngramJaccard(strong, distinctShinglesC(s, d))
        .orderBy(col("d1"), col("d2"))
    }),

    // Exact 3-gram Jaccard over the strong (≥2 bands) candidates.
    "q_ngram_jaccard" -> ((s, d) => {
      val cand = candidatesC(s, d)
        .where(col("bands") >= 2).select(col("d1"), col("d2"))
      Dedup.ngramJaccard(cand, distinctShinglesC(s, d))
        .orderBy(col("d1"), col("d2"))
    }),

    // Containment rescoring — the asymmetric near-dup signal (short
    // doc embedded in a long one: Jaccard ~0, containment ~1) a drop
    // rule reads NEXT to Jaccard on quote/boilerplate-wrapped
    // corpora. Same candidate set and join plan as q_ngram_jaccard.
    "q_minhash_containment" -> ((s, d) => {
      val cand = candidatesC(s, d)
        .where(col("bands") >= 2).select(col("d1"), col("d2"))
      Dedup.ngramContainment(cand, distinctShinglesC(s, d))
        .orderBy(col("d1"), col("d2"))
    }),

    // The τ-tuning read-out a semantic-dedup deploy decides with: for
    // each candidate threshold, how many banded pairs qualify and how
    // many docs a keep-first pass would drop. Pairs are the capped
    // banded candidates (bounded, never N²) crossed with a 10-row
    // threshold axis — the sweep costs one pass over the pair table.
    "q_dedup_threshold_sweep" -> ((s, d) =>
      Dedup.thresholdSweep(bandedCosC(s, d))),

    // LSH recall acceptance — q_ann_recall's twin for the TEXT dedup
    // stack: ground truth is every pair with exact n-gram Jaccard ≥
    // threshold (computed independently of any LSH table via the
    // shared-shingle join — pairs sharing nothing have Jaccard 0 and
    // can't reach any positive threshold), and each true pair reports
    // whether the capped primary banding and/or the rescue pass
    // surfaced it. THE number a production dedup deploy signs off on:
    // caps and band counts are recall trades, and this measures what
    // they actually cost on the corpus. The truth side is
    // quadratic-in-near-dups by construction (a measurement harness,
    // like q_ann_recall's exact side — deliberately not in the scale
    // gate); the measured chains are the production-capped ones.
    "q_lsh_recall" -> ((s, d) => {
      val ds = distinctShinglesC(s, d)
      // the exact-Jaccard ground truth is the expensive side (the
      // deliberate all-shared-pairs join) and is a per-dir constant —
      // materialize it once per session like the candidate tables
      val truth = Cache.getOrPersist(s, "jaccard_truth", d) {
        val sizes = ds.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
        ds.select(col("doc_id").as("d1"), col("shingle"))
          .join(ds.select(col("doc_id").as("d2"), col("shingle")),
            Seq("shingle"))
          .where(col("d1") < col("d2"))
          .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("common"))
          .join(sizes.select(col("doc_id").as("d1"), col("n_sh").as("c1")),
            Seq("d1"))
          .join(sizes.select(col("doc_id").as("d2"), col("n_sh").as("c2")),
            Seq("d2"))
          .withColumn("jaccard", Det.r4(col("common").cast("double") /
            (col("c1") + col("c2") - col("common")).cast("double")))
          .where(col("jaccard") >= lit(LshRecallThresh))
      }
      val prim = candidatesC(s, d)
        .select(col("d1"), col("d2"), lit(1L).as("hp"))
      val resc = rescueCandC(s, d)
        .select(col("d1"), col("d2"), lit(1L).as("hr"))
      truth.join(prim, Seq("d1", "d2"), "left")
        .join(resc, Seq("d1", "d2"), "left")
        .select(col("d1"), col("d2"), col("jaccard"),
          coalesce(col("hp"), lit(0L)).as("hit_primary"),
          coalesce(col("hr"), lit(0L)).as("hit_rescue"),
          greatest(coalesce(col("hp"), lit(0L)),
            coalesce(col("hr"), lit(0L))).as("hit"))
        .orderBy(col("d1"), col("d2"))
    }),

    // Robust per-language length outliers (median + MAD, the
    // modified-z gate): median char length and median absolute
    // deviation per language, then |x − med| > 2·MAD flags (2, not the
    // textbook 3: the synthetic length distribution is tight enough
    // that 3·MAD flags nothing — the gate must exercise a real flag
    // population). Robust
    // stats survive the heavy tails that wreck the 3σ z-score gate
    // (q_anomaly_zscore's complement). Exact `percentile` here is
    // scale-safe BECAUSE n_chars has a bounded value domain — the
    // merged value→count map stays small (the Quantiles scaladoc
    // trap applies to mostly-distinct doubles, not bounded ints);
    // per-lang stats broadcast back, the corpus never re-shuffles.
    "q_mad_outliers" -> ((s, d) => {
      val med = docs(s, d).groupBy(col("lang"))
        .agg(percentile(col("n_chars"), lit(0.5)).as("med"),
          count(lit(1)).as("n_docs"))
      val dev = docs(s, d).join(broadcast(med), Seq("lang"))
        .withColumn("adev",
          abs(col("n_chars").cast("double") - col("med")))
      val mad = dev.groupBy(col("lang"))
        .agg(percentile(col("adev"), lit(0.5)).as("mad"))
      dev.join(broadcast(mad), Seq("lang"))
        .groupBy(col("lang"))
        .agg(min(col("n_docs")).as("n_docs"),
          Det.r4(min(col("med"))).as("median_chars"),
          Det.r4(min(col("mad"))).as("mad_chars"),
          sum(when(col("adev") > lit(2.0) * col("mad"), 1L)
            .otherwise(0L)).as("n_outliers"))
        .orderBy(col("lang"))
    }),

    // Embedding drift between splits — the QA check a train/eval
    // split ships with: per-label centroid distance between the
    // train (80%) and holdout (20%) halves of a deterministic hash
    // split. Large drift = the split is not exchangeable for that
    // label (leakage or skew). All centroid arithmetic is the ivf
    // fixed-point discipline (1e-9-unit sums, 1e-12-unit squared
    // diffs — integer sums are order-independent), so the distance
    // replays cell-exact.
    "q_embed_centroid_drift" -> ((s, d) => {
      val e = emb(s, d).select(col("vec_id"),
        col("label").cast("long").as("label"), col("embedding"),
        when(col("vec_id") % 10 < 8, lit("train")).otherwise(lit("holdout"))
          .as("split"))
      val dims = e.select(col("label"), col("split"),
        posexplode(col("embedding")).as(Seq("i", "v")))
      val cent = dims.groupBy(col("label"), col("split"), col("i"))
        .agg(((sum(floor(col("v").cast("double") * lit(1e9) + lit(0.5))
          .cast("long")).cast("double") / count(lit(1))) / lit(1e9))
          .as("cv"))
      val n = e.groupBy(col("label"), col("split"))
        .agg(count(lit(1)).as("n"))
      val a = cent.where(col("split") === "train")
        .select(col("label"), col("i"), col("cv").as("ca"))
      val b = cent.where(col("split") === "holdout")
        .select(col("label"), col("i"), col("cv").as("cb"))
      val ss = a.join(b, Seq("label", "i"))
        .groupBy(col("label"))
        .agg((sum(floor((col("ca") - col("cb")) * (col("ca") - col("cb"))
          * lit(1e12) + lit(0.5)).cast("long")).cast("double") / lit(1e12))
          .as("ss"))
      ss.join(n.where(col("split") === "train")
            .select(col("label"), col("n").as("n_train")), Seq("label"))
        .join(n.where(col("split") === "holdout")
          .select(col("label"), col("n").as("n_holdout")), Seq("label"))
        .select(col("label"), col("n_train"), col("n_holdout"),
          Det.r4(sqrt(col("ss"))).as("drift"))
        .orderBy(col("label"))
    }),

    // Duplicate-status × quality-band cross-tab — the corpus-health
    // composition question ("are my duplicates the low-quality
    // docs?") answered by joining two already-scored paths: the
    // normalized exact-dup signature and the Gopher-style quality
    // score, banded to deciles. One doc-keyed join, enum-sized
    // output.
    "q_dup_quality_xtab" -> ((s, d) => {
      val q = TextAnalysis.qualityColumns(docs(s, d))
        .select(col("doc_id"), col("n_chars"),
          least(floor(col("quality") * lit(10)), lit(9.0)).cast("long")
            .as("q_band"))
      val sig = docs(s, d).select(col("doc_id"),
        sha2(Dedup.normPrefix(col("text"), 5), 256).as("sig"))
      val marked = sig
        .join(sig.groupBy(col("sig")).agg(count(lit(1)).as("cnt")),
          Seq("sig"))
        .select(col("doc_id"), (col("cnt") > 1).cast("long").as("is_dup"))
      q.join(marked, Seq("doc_id"))
        .groupBy(col("is_dup"), col("q_band"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("is_dup"), col("q_band"))
    }),

    // LSH precision — q_lsh_recall's complement, the other half of
    // the acceptance pair: of the pairs the capped banding SURFACED,
    // how many are true near-dups (exact Jaccard ≥ threshold),
    // stratified by agreeing-band count. Rising precision with band
    // count is the signature of a healthy banding table; a flat curve
    // means the hash family is broken. Reuses the session-cached
    // candidates + distinct shingles; the exact rescore touches only
    // candidate pairs, never all pairs.
    "q_lsh_precision" -> ((s, d) => {
      val cand = candidatesC(s, d)
      Dedup.ngramJaccard(cand.select(col("d1"), col("d2")),
          distinctShinglesC(s, d))
        .join(cand.select(col("d1"), col("d2"), col("bands")),
          Seq("d1", "d2"))
        .groupBy(col("bands"))
        .agg(count(lit(1)).as("n_cand"),
          sum(when(col("jaccard") >= lit(LshRecallThresh), 1L)
            .otherwise(0L)).as("n_true"))
        .select(col("bands"), col("n_cand"), col("n_true"),
          Det.r4(col("n_true").cast("double") / col("n_cand").cast("double"))
            .as("precision"))
        .orderBy(col("bands"))
    }),

    // Recall@3 of the SQ-rerank serving path vs exact ground truth —
    // completes the recall triptych (IVF 0.77, IVF-PQ 0.43, and now
    // the int8-SQ path): every compressed serving variant carries its
    // own acceptance measurement. Same shared IVF shortlist and exact
    // side as the siblings, so the three numbers are comparable by
    // construction.
    "q_ann_sq_recall" -> ((s, d) => {
      lazy val e = emb(s, d).select(col("vec_id"), col("embedding"))
      lazy val queries = annPanelC(s, d).select(col("qid"), col("qvec"))
      lazy val served = VectorSearch.sqRerank(
          ivfPqShortlistC(s, d)
            .join(broadcast(queries.select(col("qid"))), Seq("qid"),
              "left_semi"),
          e, "qid", 3)
        .select(col("qid"), col("vec_id"), lit(1L).as("hit"))
      lazy val exact = VectorSearch.topKByCosine(e, queries, "qid", "qvec", 3)
        .select(col("qid"), col("vec_id"))
      recallTable(s, d, "sq", exact, served)
    }),

    // Vocabulary growth (Heaps' law read-out) over 3-gram shingle
    // types: new distinct types per 50-doc ingest bucket + the
    // cumulative curve — the corpus statistic that sizes tokenizer
    // vocabularies and n-gram LM tables. (Unigram types saturate in
    // the first bucket on this synthetic corpus — 31 tokens — so the
    // scored curve runs on the 3-gram type space, which keeps
    // growing.) Each type reduces to its FIRST document
    // (partial/final min over the session-cached distinct shingle
    // set — the type stream never shuffles twice), buckets aggregate
    // those firsts, and the cumulative sum runs over REPORT rows
    // only (corpus/50 rows; pick the bucket width so the report
    // stays a report — the window is deliberately not over data).
    "q_vocab_growth" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val firstSeen = distinctShinglesC(s, d)
        .groupBy(col("shingle")).agg(min(col("doc_id")).as("first_doc"))
      firstSeen
        .groupBy(expr("first_doc div 50").as("bucket"))
        .agg(count(lit(1)).as("new_types"))
        .withColumn("cum_types",
          sum(col("new_types")).over(Window.orderBy(col("bucket"))
            .rowsBetween(Window.unboundedPreceding, 0)))
        .orderBy(col("bucket"))
    }),

    // The live ingest-time near-dup gate, executed in batch mode — the
    // same StreamOps.nearDupGate code path a continuously-ingesting
    // pipeline runs as a stream (StreamingSpec asserts stream == batch
    // on this construction): a slice of "incoming" docs, STATELESS
    // per-doc band minima (array_min over shingle hashes — no shuffle,
    // and the only legal streaming topology: a groupBy minima stage
    // could not be followed by the candidate join), matched against
    // the corpus's cap-filtered band-minima buckets.
    "q_stream_dedup_gate" -> ((s, d) =>
      StreamOps.nearDupGate(
        docs(s, d).where(col("doc_id") % 5 === 0), bandMinsC(s, d))
        .orderBy(col("doc_id"), col("corpus_doc"))),

    // SimHash near-dups via 8-bit pigeonhole blocking, hot blocks
    // capped at the production cap (which the synthetic corpus trips:
    // the degenerate block-3 bucket holds all docs).
    "q_simhash_near_dup" -> ((s, d) =>
      simhashPairsC(s, d).orderBy(col("d1"), col("d2"))),

    // The simhash hot-block rescue pass end-to-end: over-cap bucket
    // members re-blocked under the 4-bit-rotated partition, paired
    // there under the same cap — the pigeonhole guarantee restored
    // for the hot population the primary cap dropped.
    "q_simhash_rescue" -> ((s, d) =>
      simhashRescueC(s, d).orderBy(col("d1"), col("d2"))),

    // The over-cap block LIST at the production cap — the monitoring
    // surface SimhashBlockCap's scaladoc names for sizing the rotated
    // rescue pass (the simhash twin of q_lsh_hot_buckets; non-trivial
    // on this corpus, which trips the cap for real — every doc's
    // simhash has a zero high byte, so one block-3 bucket holds the
    // whole corpus). One groupBy over the cached signatures; output
    // O(hot blocks).
    "q_simhash_hot_blocks" -> ((s, d) =>
      Dedup.simhashOverCapBlocks(simhashSigsC(s, d))
        .select(col("blk").cast("long").as("blk"), col("bv"), col("sz"))
        .orderBy(col("blk"), col("bv"))),

    // Near-dup pairs resolved into duplicate clusters: connected
    // components by iterative min-label propagation; cluster_id is
    // the component's smallest doc_id (= the keep-first keeper).
    // Edges = capped primary pairs ∪ rescue pairs — the full guarded
    // chain, not the uncapped quadratic join.
    "q_dedup_clusters" -> ((s, d) =>
      ccClustersC(s, d)
        .withColumn("is_keeper",
          (col("doc_id") === col("cluster_id")).cast("long"))
        .orderBy(col("doc_id"))),

    // Leakage-free train/val/test split: assignment by near-dup
    // CLUSTER, not by doc — the GroupKFold discipline that keeps a
    // duplicate pair from straddling train and eval (q_split_leakage
    // MEASURES that failure on a doc-hashed split; this query
    // PREVENTS it by construction). Every doc inherits its CC
    // cluster's spread-hash band, so `n_cross_edges` — near-dup
    // edges whose endpoints land in different splits, counted over
    // the ACTUAL edge set — is a proven-zero column, not an
    // assumption. One broadcast of the O(clusters) split map; docs
    // and edges each scanned once. On the synthetic corpus the CC
    // closure collapses to 2 giant clusters (the whole corpus lands
    // in one band) — itself the honest lesson this audit teaches: a
    // group split on a high-duplication corpus degenerates, and you
    // find out HERE, not from eval contamination later.
    "q_leakage_free_split" -> ((s, d) => {
      import graft.core.PortableHash
      val clusters = ccClustersC(s, d)
      val sp = PortableHash.spread(PortableHash.h(
        concat(lit("split:"), col("cluster_id").cast("string"))))
      val assigned = clusters.select(col("doc_id"), col("cluster_id"),
        when(sp < 900002L, "train").when(sp < 950002L, "val")
          .otherwise("test").as("split"))
      val edges = simhashEdgesC(s, d)
      val eSplits = edges
        .join(assigned.select(col("doc_id").as("d1"),
          col("split").as("s1")), Seq("d1"))
        .join(assigned.select(col("doc_id").as("d2"),
          col("split").as("s2")), Seq("d2"))
      val eAgg = eSplits.groupBy(col("s1").as("split"))
        .agg(count(lit(1)).as("n_edges"),
          sum((col("s1") =!= col("s2")).cast("long")).as("n_cross_edges"))
      assigned.groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("cluster_id")).as("n_clusters"))
        .join(eAgg, Seq("split"), "left")
        .select(col("split"), col("n_docs"), col("n_clusters"),
          coalesce(col("n_edges"), lit(0L)).as("n_edges"),
          coalesce(col("n_cross_edges"), lit(0L)).as("n_cross_edges"))
        .orderBy(col("split"))
    }),

    // Canonical-document centrality: 3 fixed integer PageRank rounds
    // over the SAME near-dup edge set q_dedup_clusters clusters —
    // inside a duplicate cluster the highest-rank member is the hub
    // the others copy, a better keeper than min-doc_id. All-integer
    // arithmetic (Scale units, 17/20 damping, truncating div), so
    // the 3 rounds replay bit-exactly as chained CTEs.
    // Converged integer ranks: same materialization rationale as
    // cc_clusters (3 replayed rounds = 4.2 s warm at sf0.1 otherwise).
    "q_graph_rank" -> ((s, d) =>
      Cache.getOrSnapshot(s, "pagerank", d)(
          GraphRank.pageRank(
            docs(s, d).select(col("doc_id")),
            simhashEdgesC(s, d)))
        .orderBy(col("doc_id"))),

    // Triangle participation over the minhash near-dup candidate
    // graph: edges that close triangles are corroborated by two other
    // detections (likely true near-dups); triangle-free edges are the
    // LSH false-positive suspects. Degree-ordered orientation keeps
    // the wedge join O(m^1.5) even inside near-dup cliques — see
    // GraphRank.triangleCounts.
    "q_graph_triangles" -> ((s, d) => {
      // Twin contraction first (GraphRank: near-dup cliques → weighted
      // supernodes, intra-clique triangles arithmetic), guarded by an
      // exact structure check on the real edge set — a fingerprint
      // collision falls back to plain enumeration, never to a wrong
      // answer. Both paths produce identical per-doc counts, so the
      // enumeration-shaped oracle is shared. The twin map, quotient
      // list, and guard verdict are session graph artifacts (the warm
      // pass re-reads them); build sides ride conf-gated broadcasts.
      val edges = candidatesC(s, d).select(col("d1"), col("d2"))
      // getOrSnapshot, not getOrPersist: the twin map and the
      // supernode aggregates sit above broadcast-bearing lineages
      // (the gated quotient builds), which a persisted frame would
      // pin for the session (the rule in Cache); the warm perDoc
      // join measured 10 s/run before truncation.
      val vmap = Cache.getOrSnapshot(s, "tri_twins", d)(
        GraphRank.twinClasses(edges))
      // the structure check: two bounded counts, paid once per session
      val contractible = Cache.memo(s, "tri_guard", d)(
        GraphRank.contractionViolations(edges, vmap) == 0L)
      if (contractible) {
        // the expensive half (quotient wedge enumeration) lands in a
        // per-SUPERNODE aggregate — one row per supernode — so it is
        // session-cached and each run pays only the per-doc join +
        // arithmetic expansion
        val aggs = Cache.getOrSnapshot(s, "tri_quot_aggs", d) {
          val qedges = Cache.getOrPersist(s, "tri_qedges", d)(
            GraphRank.quotientEdges(edges, vmap))
          GraphRank.quotientTriangleAggs(vmap, qedges,
            (tag, f) => graft.core.Broadcasts.gatedMemo(f,
              "spark.graft.graph.broadcastMax", s"tri_q_$tag:$d"))
        }
        GraphRank.perDocTriangles(vmap, aggs).orderBy(col("doc_id"))
      } else {
        val fwd = Cache.getOrPersist(s, "tri_fwd", d)(
          GraphRank.orientEdges(edges))
        GraphRank.triangleCountsOriented(fwd,
            f => graft.core.Broadcasts.gatedMemo(f,
              "spark.graft.graph.broadcastMax", s"tri_fwd:$d"))
          .orderBy(col("doc_id"))
      }
    }),

    // Exact duplicated-substring audit (the ExactSubstr shape of Lee
    // et al. 2022, strided-window approximation): per doc, how many
    // 40-char windows (stride 10) also appear in ANOTHER document.
    // Grouping is on the raw window string — exact semantics, no
    // hash-collision caveat (production swaps in a 128-bit hash key,
    // same plan). The per-window doc-count rides a window function
    // over the (wstr, doc_id) aggregate, so the corpus shuffles once
    // on wstr and once on doc_id — no join-back of a corpus-sized
    // dup set.
    "q_dup_windows" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val perDocWin = Dedup.textWindows(docs(s, d))
        .groupBy(col("wstr"), col("doc_id"))
        .agg(count(lit(1)).as("occ"))
      val marked = perDocWin.withColumn("ndocs",
        count(lit(1)).over(Window.partitionBy(col("wstr"))))
      marked.groupBy(col("doc_id"))
        .agg(sum(col("occ")).as("n_windows"),
          sum(when(col("ndocs") >= 2, col("occ")).otherwise(0L))
            .as("n_dup_windows"))
        .withColumn("dup_frac",
          Det.r4(col("n_dup_windows") / col("n_windows")))
        .orderBy(col("doc_id"))
    }),

    // The CDC storage read-out: what chunk-level dedup SAVES — every
    // duplicate chunk instance beyond its first stores as a
    // reference, so saved bytes = Σ (count−1)·chunk_len per distinct
    // chunk. The number a dedup store quotes (and the decision input
    // for CdcMod: smaller chunks find more sharing but cost more
    // references). One corpus-level row; arithmetic over the sig
    // groups, no joins back to text.
    "q_chunk_dedup_savings" -> ((s, d) => {
      // octet_length, not length: the columns quote STORAGE savings,
      // so multi-byte UTF-8 text must count bytes, not characters
      // (r12 ADVICE; DuckDB twin uses strlen = bytes).
      val sg = Dedup.contentChunks(docs(s, d))
        .select(sha2(col("chunk"), 256).as("sig"),
          octet_length(col("chunk")).cast("long").as("blen"))
      sg.groupBy(col("sig"))
        .agg(count(lit(1)).as("cnt"), min(col("blen")).as("blen"))
        .agg(count(lit(1)).as("n_unique_chunks"),
          sum(col("cnt")).as("n_chunks"),
          sum(col("cnt") * col("blen")).as("total_bytes"),
          sum(col("blen")).as("unique_bytes"),
          sum((col("cnt") - 1) * col("blen")).as("saved_bytes"))
        .withColumn("savings_frac", Det.r4(
          col("saved_bytes").cast("double") /
            col("total_bytes").cast("double")))
    }),

    // Content-defined chunk dedup (LBFS/FastCDC boundaries): the
    // insertion-robust complement of q_dup_windows — a fixed-stride
    // window table shifts wholesale on one inserted character, while
    // rolling-hash boundaries re-cut only the touched chunks, so
    // shared passages keep matching across edited copies. Chunks are
    // grouped by sha2 (exact semantics, no collision caveat), dup
    // exposure attributed per doc exactly like the window variant.
    // Scale: boundary detection is a per-row scan fan-out (no
    // shuffle); the sig groupBy is the only exchange, on ~len/64
    // rows per doc.
    "q_content_chunks" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val sg = Dedup.contentChunks(docs(s, d))
        .select(col("doc_id"), sha2(col("chunk"), 256).as("sig"))
      val perDoc = sg.groupBy(col("sig"), col("doc_id"))
        .agg(count(lit(1)).as("occ"))
      val marked = perDoc.withColumn("ndocs",
        count(lit(1)).over(Window.partitionBy(col("sig"))))
      marked.groupBy(col("doc_id"))
        .agg(sum(col("occ")).as("n_chunks"),
          sum(when(col("ndocs") >= 2, col("occ")).otherwise(0L))
            .as("n_dup_chunks"))
        .withColumn("dup_frac",
          Det.r4(col("n_dup_chunks") / col("n_chunks")))
        .orderBy(col("doc_id"))
    }),

    // Vocabulary coverage / OOV rate: build the top-k corpus vocab
    // (count desc, token asc — a total order, so the rank-k cut is
    // deterministic) and score each doc's out-of-vocabulary token
    // fraction — the tokenizer-coverage check run before committing a
    // vocab budget. The cut is TakeOrderedAndProject (distributed
    // partial top-k, no global sort), and the vocab is broadcast by
    // construction (≤ VocabSize rows). k=20 here because the
    // synthetic corpus has 31 distinct tokens; production budgets are
    // 50k–200k and change nothing structurally.
    "q_oov_rate" -> ((s, d) => {
      val toks = docs(s, d).select(col("doc_id"),
        explode(split(col("text"), " ")).as("token"))
      val vocab = toks.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token")).limit(OovVocabSize)
        .select(col("token"), lit(1L).as("__v"))
      toks.join(broadcast(vocab), Seq("token"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("__v").isNull, 1L).otherwise(0L)).as("n_oov"))
        .withColumn("oov_frac", Det.r4(col("n_oov") / col("n_tokens")))
        .orderBy(col("doc_id"))
    }),

    // Token counting: whitespace words + regex token stream.
    "q_token_count" -> ((s, d) =>
      docs(s, d).select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_ws"),
        size(regexp_extract_all(col("text"), lit(TextAnalysis.TokenRegex),
          lit(0))).cast("long").as("n_re"),
        col("n_chars"))
        .orderBy(col("doc_id"))),

    // Quality scoring: length/stopword/word-shape bands.
    "q_quality_score" -> ((s, d) =>
      TextAnalysis.qualityColumns(docs(s, d)).orderBy(col("doc_id"))),

    // Gopher-style rule filter (Rae et al. 2021, App. A): the word-
    // level subset of the published heuristics, each emitted as its
    // own 0/1 flag plus the AND verdict, so a curator sees WHICH rule
    // cut a document, not just that one did. Rule shapes are the
    // paper's — word-count band, mean-word-length band, junk-word
    // ratio cap, distinct-stopword floor — with the stopword list and
    // two thresholds calibrated to the corpus's language profile
    // (engine config, like every deployed Gopher variant): this
    // corpus's only function words are {the, a}, its mean word length
    // sits in [3.7, 5.3], and short-word mass is the junk signal a
    // punctuation-free word soup actually carries. All four rules are
    // integer inequalities over per-doc counts (the [4,10] word-length
    // band is spelled 4·n_words ≤ Σlen ≤ 10·n_words; the 5% short-
    // word cap is 20·n_short ≤ n_words): one scan, no doubles across
    // the oracle boundary, every flag whole-stage-codegen'd scalar
    // math — the shape that runs at scan speed on 100 TB.
    "q_gopher_rules" -> ((s, d) =>
      TextAnalysis.gopherRules(docs(s, d))),

    // Corpus bigram counts: top-10 per language by frequency — the
    // language-model-counts shape (explode adjacent pairs, count,
    // rank). Integer-only, so trivially engine-portable; a PMI variant
    // would need log(), which is not bit-portable.
    "q_top_bigrams" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ws = split(col("text"), " ")
      // size >= 2 guard: sequence(1, 0) counts DOWN in Spark (the
      // q_dataset_mix trap), and element_at(_, 0) throws
      val bigrams = docs(s, d).where(size(ws) >= 2).select(col("lang"),
        explode(transform(sequence(lit(1), size(ws) - 1),
          i => concat_ws(" ", element_at(ws, i), element_at(ws, i + 1))))
          .as("bigram"))
      val counts = bigrams.groupBy(col("lang"), col("bigram"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("n").desc, col("bigram"))
      counts.withColumn("rn", row_number().over(w).cast("long"))
        .where(col("rn") <= 10)
        .orderBy(col("lang"), col("rn"))
    }),

    // Lexical-diversity stats: type-token ratio + Gini-Simpson index
    // (1 − Σp²) per doc — repetition detectors for template-heavy
    // corpora. Deliberately rational arithmetic over exact integer
    // counts: entropy's ln() is not bit-portable across engines
    // (libm vs JVM can differ a ulp), Σc²/n² is.
    "q_text_stats" -> ((s, d) => {
      val words = docs(s, d).select(col("doc_id"),
        explode(split(col("text"), " ")).as("w"))
      words.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_words"),
          count(lit(1)).as("n_distinct"),
          sum(col("c") * col("c")).as("sumsq"))
        .select(col("doc_id"), col("n_words"), col("n_distinct"),
          Det.r4(col("n_distinct").cast("double") /
            col("n_words").cast("double")).as("ttr"),
          Det.r4(lit(1.0) - col("sumsq").cast("double") /
            (col("n_words") * col("n_words")).cast("double")).as("simpson"))
        .orderBy(col("doc_id"))
    }),

    // Bigram-LM scoring (the model-based quality signal production
    // curation runs next to q_quality_score's rules): per-doc average
    // bigram negative log2-probability under a Laplace-smoothed
    // corpus bigram model. True log-domain perplexity shape, but NO
    // ln() crosses the oracle boundary — the log is an integer
    // mantissa/exponent decomposition against a shared 128-entry
    // scaled-log table (LmScore scaladoc). Count tables are session
    // artifacts; their join sides ride gated broadcasts (shuffle
    // joins on the n-gram key past the gate — the distributed
    // LM-counts join).
    "q_lm_score" -> ((s, d) =>
      lmDocScores(s, d).orderBy(col("doc_id"))),

    // HELD-OUT bigram-LM perplexity — the honest eval twin of
    // q_lm_score (which scores the corpus under counts trained on
    // itself): counts train on the doc_id%5!=0 slice, the %5==0
    // holdout is scored under THOSE counts, unseen bigrams riding the
    // same Laplace floor (c12=0 ⇒ pfx = PScale/(c1+V), clamped ≥1) —
    // the number that actually detects distribution shift between
    // corpus slices. Same gated-broadcast count joins; the only new
    // plan feature is the LEFT joins (a holdout bigram may be absent
    // from training), whose null sides the Laplace arithmetic
    // absorbs. Per-language roll-up with the OOV-bigram rate beside
    // the bits.
    "q_lm_heldout" -> ((s, d) => {
      val ws = split(col("text"), " ")
      val bg = (src: DataFrame) => src.where(size(ws) >= 2)
        .select(col("doc_id"), col("lang"),
          explode(transform(sequence(lit(1), size(ws) - 1), i =>
            struct(element_at(ws, i).as("w1"),
              concat_ws(" ", element_at(ws, i), element_at(ws, i + 1))
                .as("bg")))).as("b"))
        .select(col("doc_id"), col("lang"), col("b.w1").as("w1"),
          col("b.bg").as("bg"))
      val train = docs(s, d).where(col("doc_id") % 5 =!= 0)
      val hold = bg(docs(s, d).where(col("doc_id") % 5 === 0))
      val bgCounts = Cache.getOrPersist(s, "lmho_bg", d)(
        bg(train).groupBy(col("bg")).agg(count(lit(1)).as("c12")))
      val ugCounts = Cache.getOrPersist(s, "lmho_ug", d)(
        train.select(explode(split(col("text"), " ")).as("w1"))
          .groupBy(col("w1")).agg(count(lit(1)).as("c1")))
      val vocab = ugCounts.agg(count(lit(1)).as("v"))
      def gate(tag: String, f: DataFrame) = graft.core.Broadcasts
        .gatedMemo(f, "spark.graft.lm.broadcastMax", s"lmho_$tag:$d")
      hold
        .join(gate("bg", bgCounts), Seq("bg"), "left")
        .join(gate("ug", ugCounts), Seq("w1"), "left")
        .crossJoin(broadcast(vocab))
        .withColumn("c12n", coalesce(col("c12"), lit(0L)))
        .withColumn("c1n", coalesce(col("c1"), lit(0L)))
        .withColumn("pfx", greatest(
          expr(s"((c12n + 1) * ${LmScore.PScale}L) div (c1n + v)"),
          lit(1L)))
        .withColumn("e", length(conv(col("pfx"), 10, 2)).cast("long"))
        .withColumn("nl2", lit(LmScore.L9Fx)
          - (col("e") - 1) * lit(LmScore.LogScale)
          - element_at(typedLit(LmScore.Log2Table),
              (expr(s"(pfx * ${LmScore.MScale}L) div " +
                "shiftleft(1L, CAST(e - 1 AS INT))")
                - lit(LmScore.MScale - 1)).cast("int")))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_bigrams"),
          sum((col("c12n") === 0L).cast("long")).as("oov_bigrams"),
          sum(col("nl2")).as("sum_nl2fx"))
        .select(col("lang"), col("n_bigrams"), col("oov_bigrams"),
          Det.r4(col("oov_bigrams").cast("double") /
            col("n_bigrams").cast("double")).as("oov_rate"),
          Det.r4(col("sum_nl2fx").cast("double") /
            col("n_bigrams").cast("double") /
            lit(LmScore.LogScale.toDouble)).as("avg_bits"))
        .orderBy(col("lang"))
    }),

    // CCNet-style perplexity buckets (Wenzek et al. 2020): the corpus
    // split head/middle/tail by per-doc LM bits terciles — the public
    // curation recipe that keeps the fluent two thirds and reviews
    // the tail. Thresholds are ACTUAL avg_nl2fx elements at 0-based
    // ranks ⌊n/3⌋ and ⌊2n/3⌋ from ONE distributed sort
    // (Quantiles.valuesAtFractions — the r10 batched order-statistic
    // path), docs land in buckets by exact-integer comparison, and
    // the rollup is one partial/final agg — at 100 TB: one sort of
    // one integer column plus one scan.
    "q_ccnet_buckets" -> ((s, d) => {
      val scores = lmDocScores(s, d)
      val ts = graft.core.Quantiles.valuesAtFractionsMemo(
        scores, "avg_nl2fx", Seq(1.0 / 3, 2.0 / 3), s"ccnet_t:$d")
      val (t1, t2) = (ts.head, ts(1))
      scores
        .join(docs(s, d).select(col("doc_id"), col("lang")), Seq("doc_id"))
        .withColumn("bucket",
          when(col("avg_nl2fx") < lit(t1), lit("head"))
            .when(col("avg_nl2fx") < lit(t2), lit("middle"))
            .otherwise(lit("tail")))
        .groupBy(col("bucket"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_bigrams")).as("n_bigrams"),
          sum(col("sum_nl2fx")).as("sum_nl2fx"))
        .select(col("bucket"), col("lang"), col("n_docs"),
          col("n_bigrams"), col("sum_nl2fx"),
          Det.r4(col("sum_nl2fx").cast("double") /
            col("n_bigrams").cast("double") /
            lit(LmScore.LogScale.toDouble)).as("avg_bits"))
        .orderBy(col("bucket"), col("lang"))
    }),

    // PMI collocation mining (Church & Hanks 1990) over the SAME
    // session LM count tables q_lm_score builds: pmi(w1,w2) =
    // log2(c12·W²/(B·c1·c2)) as a sum/difference of six integer
    // fixed-point log2s (LmScore.log2FxCol — no ln() crosses the
    // oracle boundary, no division enters the log). The min-count
    // floor drops the rare-pair PMI explosion every collocation
    // extractor guards against. Top-20 by exact integer score →
    // TakeOrderedAndProject, never a global sort; count tables join
    // behind the same broadcast gates as q_lm_score.
    "q_pmi_bigrams" -> ((s, d) => {
      val bgCounts = lmBigramCountsC(s, d)
      val ugCounts = lmUnigramCountsC(s, d)
      val totals = broadcast(
        ugCounts.agg(sum(col("c1")).as("wtot"))
          .crossJoin(bgCounts.agg(sum(col("c12")).as("btot"))))
      val lg = LmScore.log2FxCol _
      bgCounts.where(col("c12") >= lit(PmiMinCount))
        .withColumn("w1", element_at(split(col("bg"), " "), 1))
        .withColumn("w2", element_at(split(col("bg"), " "), 2))
        .join(lmGate(d, "ug", ugCounts), Seq("w1"))
        .join(lmGate(d, "ug2", ugCounts.select(col("w1").as("w2"),
          col("c1").as("c2"))), Seq("w2"))
        .crossJoin(totals)
        .withColumn("pmi_fx",
          lg(col("c12")) + lit(2L) * lg(col("wtot"))
            - lg(col("btot")) - lg(col("c1")) - lg(col("c2")))
        .select(col("w1"), col("w2"), col("c12"), col("c1"), col("c2"),
          col("pmi_fx"),
          Det.r4(col("pmi_fx").cast("double") /
            lit(LmScore.LogScale.toDouble)).as("pmi_bits"))
        .orderBy(col("pmi_fx").desc, col("w1"), col("w2"))
        .limit(20)
    }),

    // Per-doc token-distribution entropy — the repetition signal in
    // log space (Gopher's symbol-entropy cousin): H = log2(n) −
    // (Σ c_w·log2fx(c_w)) div n over the doc's term frequencies, all
    // integer until the final r4 render. Low entropy = the doc
    // re-uses few tokens (boilerplate, keyword stuffing); paired with
    // q_repetition_filter's n-gram view it completes the repetition
    // family. Reuses the session BM25 postings (doc, w, tf) — one
    // per-doc partial/final agg, zero cross-doc joins, linear at any
    // corpus size.
    "q_token_entropy" -> ((s, d) => {
      val tf = bm25TfC(s, d)
      tf.groupBy(col("doc_id"))
        .agg(sum(col("tf")).as("n_tokens"),
          count(lit(1)).as("n_distinct"),
          sum(col("tf") * LmScore.log2FxCol(col("tf"))).as("sum_clg"))
        .withColumn("ent_fx",
          LmScore.log2FxCol(col("n_tokens")) - expr("sum_clg div n_tokens"))
        .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
          col("ent_fx"),
          Det.r4(col("ent_fx").cast("double") /
            lit(LmScore.LogScale.toDouble)).as("ent_bits"))
        .orderBy(col("doc_id"))
    }),

    // BM25 lexical retrieval — the sparse half of a retrieval stack
    // (the ANN family is the dense half): score every document
    // against a deterministic query (the corpus's 5 highest-df terms,
    // ties lexical) with Lucene's BM25 (k1=1.2, b=0.75, the
    // log((N+1)/(df+0.5)) idf variant, always positive). No ln()
    // crosses the oracle boundary: idf rides the LmScore bit-length/
    // mantissa log2 decomposition (integer in, integer out), the tf
    // saturation is IEEE-exact double arithmetic spelled identically
    // in both engines, and each (doc, term) contribution snaps to a
    // 2^20-unit BIGINT before the per-doc sum, so addition order
    // never matters. Scale shape: postings ⨝ broadcast 5-term query
    // ⨝ doc-length join — linear in matching postings; top-10 via
    // TakeOrderedAndProject, never a global sort.
    "q_bm25_retrieval" -> ((s, d) => {
      // postings, doc lengths, and the 5-term idf table are the
      // INDEX — session artifacts like the PQ codebook; per-query
      // work is the joins + contribution sum below
      val tf = bm25TfC(s, d)
      val stats = bm25Stats(s, d)
      // snapshot (not persist): the 5-row idf table sits above the
      // broadcast(stats) lineage and a df agg over the postings
      val qidf = Cache.getOrSnapshot(s, "bm25_qidf", d)(
        bm25IdfFx(tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
          .orderBy(col("df").desc, col("w")).limit(5), stats))
      bm25Contrib(s, d, tf, qidf, stats)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_qterms"), sum(col("cfx")).as("score_fx"))
        .orderBy(col("score_fx").desc, col("doc_id")).limit(10)
        .select(col("doc_id"), col("n_qterms"), col("score_fx"),
          Det.r4(col("score_fx").cast("double") /
            lit(LmScore.LogScale.toDouble)).as("score"))
        .orderBy(col("score_fx").desc, col("doc_id"))
    }),

    // Known-item retrieval evaluation — the IR acceptance twin the
    // ANN family already has (recall twins): for each probe doc
    // (doc_id % 101 = 3) the query is its RAREST term (min df, ties
    // lexical — the most discriminative single-term query), the
    // candidate set is that term's posting list, ranked by the exact
    // BM25 contribution q_bm25_retrieval serves; the read-out is the
    // probe's SELF-rank and reciprocal rank, whose mean is the MRR a
    // retrieval stack is accepted on (known-item search). Candidate
    // work per probe is DF(term) BY CONSTRUCTION — picking the
    // rarest term is simultaneously the best query and the cost cap,
    // so the evaluation scales as Σ min-DF, never probes × corpus.
    "q_retrieval_mrr" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      // probe terms + scored candidates from the session snapshots
      // shared with q_retrieval_ndcg (see bm25PtermC/bm25CandC)
      val cand = bm25CandC(s, d)
      val rw = Window.partitionBy(col("probe"))
        .orderBy(col("cfx").desc, col("doc_id"))
      cand
        .withColumn("self_rank", row_number().over(rw).cast("long"))
        .withColumn("n_cand", count(lit(1))
          .over(Window.partitionBy(col("probe"))))
        .where(col("doc_id") === col("probe"))
        .join(broadcast(bm25PtermC(s, d).select(col("probe"), col("df"))),
          Seq("probe"))
        .select(col("probe"), col("w").as("term"), col("df"),
          col("n_cand"), col("self_rank"),
          Det.r4(lit(1.0) / col("self_rank").cast("double")).as("rr"))
        .orderBy(col("probe"))
    }),

    // Graded retrieval evaluation — nDCG@5 over the same known-item
    // candidate sets as q_retrieval_mrr, with graded relevance =
    // the query term's tf in the candidate (more occurrences, more
    // relevant — the self-consistent graded label a synthetic corpus
    // supports). DCG = Σ rel_i/log2(i+1) rides the integer path:
    // weight_fx(i) = 2⁴⁰ div log2Fx(i+1), dcg_fx = Σ rel·weight_fx;
    // IDCG re-ranks the same 5 rows by rel desc; ndcg = r4 of the
    // BIGINT ratio. MRR says WHERE the known item landed; nDCG says
    // how well the whole head of the list is ordered.
    "q_retrieval_ndcg" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val S = LmScore.LogScale
      // the SAME session-snapshot candidate sets q_retrieval_mrr
      // ranks (see bm25PtermC/bm25CandC)
      val cand = bm25CandC(s, d)
      val served = Window.partitionBy(col("probe"))
        .orderBy(col("cfx").desc, col("doc_id"))
      val ideal = Window.partitionBy(col("probe"))
        .orderBy(col("tf").desc, col("doc_id"))
      cand
        .withColumn("srank", row_number().over(served).cast("long"))
        .withColumn("irank", row_number().over(ideal).cast("long"))
        .withColumn("slg", LmScore.log2FxCol(col("srank") + 1))
        .withColumn("ilg", LmScore.log2FxCol(col("irank") + 1))
        .withColumn("sw", expr(s"${S * S} div slg"))
        .withColumn("iw", expr(s"${S * S} div ilg"))
        .groupBy(col("probe"))
        .agg(
          sum(when(col("srank") <= 5, col("tf") * col("sw"))
            .otherwise(0L)).as("dcg_fx"),
          sum(when(col("irank") <= 5, col("tf") * col("iw"))
            .otherwise(0L)).as("idcg_fx"))
        .select(col("probe"), col("dcg_fx"), col("idcg_fx"),
          Det.r4(col("dcg_fx").cast("double") /
            col("idcg_fx").cast("double")).as("ndcg"))
        .orderBy(col("probe"))
    }),

    // Marker-based language scoring + argmax prediction.
    "q_lang_id" -> ((s, d) => {
      val ws = TextAnalysis.wordsCol
      val scored = docs(s, d).select(
        (col("doc_id") +: col("lang") +:
          TextAnalysis.Markers.map { case (l, ms) =>
            TextAnalysis.markerCount(ws, ms).as(s"score_$l") }): _*)
      val en = col("score_en"); val es = col("score_es")
      val fr = col("score_fr"); val de = col("score_de")
      scored.withColumn("lang_pred",
        when(en >= es && en >= fr && en >= de && en > 0, "en")
          .when(es >= fr && es >= de && es > 0, "es")
          .when(fr >= de && fr > 0, "fr")
          .when(de > 0, "de")
          .otherwise("unknown"))
        .orderBy(col("doc_id"))
    }),

    // Position-weighted rolling-hash fingerprint (native hash expr).
    "q_doc_fingerprint" -> ((s, d) => {
      docs(s, d).select(col("doc_id"),
        TextAnalysis.fingerprint(split(col("text"), " "),
          w => call_function("graft_hash", w)).as("fp"))
        .orderBy(col("doc_id"))
    }),

    // tf-idf top-5 terms per language.
    "q_tfidf_top_terms" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("score").desc, col("term"))
      TextAnalysis.tfidf(docs(s, d))
        .withColumn("rn", row_number().over(w).cast("long"))
        .where(col("rn") <= 5)
        .select(col("lang"), col("term"), col("tf"), col("df"),
          col("score"), col("rn"))
        .orderBy(col("lang"), col("rn"))
    }),

    // Brute-force cosine top-5 per label centroid (exact ANN baseline).
    "q_embed_cosine_topk" -> ((s, d) =>
      VectorSearch.topKByCosine(
        emb(s, d).select(col("vec_id"), col("embedding")),
        labelCellsC(s, d),
        "label", "centroid", 5)
        .select(col("label"), col("vec_id"), col("cos_sim"), col("rn"))
        .orderBy(col("label"), col("rn"))),

    // Embedding-quality outliers: the 3 members farthest (by cosine)
    // from their OWN label centroid — mislabeled or degenerate vectors
    // surface here first. Centroids broadcast, corpus unshuffled.
    "q_embed_outliers" -> ((s, d) =>
      VectorSearch.farthestFromCentroid(
        emb(s, d).select(col("vec_id"), col("label"), col("embedding")), 3)
        .orderBy(col("label"), col("rn"))),
  ) ++ ExtCurationQueries.queries ++ ExtServingQueries.queries ++
    ExtWebQueries.queries

  // ---------------------------------------------------------------
  // Oracle SQL twins.
  // ---------------------------------------------------------------


  /** The window-function literal (q_sql_window_surface): named WINDOW
    * clause, ranking + offset functions, CAST-pinned BIGINT outputs —
    * one ANSI text, two engines, verbatim. */
  private[ext] val SqlWindowSurfaceSql: String =
    """SELECT o_custkey, o_orderkey,
      |       CAST(row_number() OVER w AS BIGINT) AS rn,
      |       CAST(rank() OVER w2 AS BIGINT) AS rnk,
      |       coalesce(lag(o_orderkey) OVER w, -1) AS prev_key
      |FROM orders
      |WINDOW w  AS (PARTITION BY o_custkey ORDER BY o_orderkey),
      |       w2 AS (PARTITION BY o_custkey
      |              ORDER BY o_orderpriority, o_orderkey)
      |ORDER BY o_custkey, o_orderkey""".stripMargin


  /** The LATERAL top-N-per-group literal (q_sql_lateral) — one ANSI
    * text, two engines, two independent dependent-join rewrites. */
  private[ext] val SqlLateralSql: String =
    """SELECT c_custkey, t.o_orderkey, t.cents
      |FROM customer,
      |LATERAL (
      |  SELECT o_orderkey,
      |         CAST(floor(o_totalprice*100 + 0.5) AS BIGINT) AS cents
      |  FROM orders
      |  WHERE o_custkey = c_custkey
      |  ORDER BY cents DESC, o_orderkey
      |  LIMIT 2
      |) t
      |WHERE c_custkey % 50 = 0
      |ORDER BY c_custkey, cents DESC, o_orderkey""".stripMargin


  /** The correlated-scalar-subquery literal (q_sql_correlated) — one
    * ANSI text, two engines, two independent decorrelations that must
    * agree row for row. */
  private[ext] val SqlCorrelatedSql: String =
    """WITH oc AS (
      |  SELECT o_custkey, o_orderkey,
      |         CAST(floor(o_totalprice*100 + 0.5) AS BIGINT) AS cents
      |  FROM orders)
      |SELECT o_custkey, o_orderkey, cents
      |FROM oc o
      |WHERE cents > (SELECT 2.0 * (CAST(sum(o2.cents) AS DOUBLE)
      |                             / count(*))
      |               FROM oc o2 WHERE o2.o_custkey = o.o_custkey)
      |ORDER BY o_custkey, o_orderkey""".stripMargin


  /** The three-valued-logic corner of the literal SQL surface
    * (q_sql_null_semantics): NOT IN against a set CONTAINING NULL is
    * never true for a non-member (x <> NULL is UNKNOWN), so the
    * NOT IN count collapses to 0 while the NOT EXISTS spelling — the
    * null-safe anti-join — counts real non-members, and IN stays
    * positive for members. The classic silent-wrong-answer trap when
    * porting between engines; scored here as one text both engines
    * must agree on, with a sentinel customer key (3·max, never an
    * order key) proving the non-member side. */
  private[ext] val SqlNullSemanticsSql: String =
    """WITH s AS (SELECT nullif(o_custkey, 1) AS k FROM orders),
      |probe AS (SELECT c_custkey AS ck FROM customer
      |          UNION ALL
      |          SELECT 3 * max(c_custkey) FROM customer)
      |SELECT
      |  (SELECT count(*) FROM probe WHERE ck NOT IN (SELECT k FROM s))
      |    AS n_not_in,
      |  (SELECT count(*) FROM probe p
      |   WHERE NOT EXISTS (SELECT 1 FROM s WHERE s.k = p.ck))
      |    AS n_not_exists,
      |  (SELECT count(*) FROM probe WHERE ck IN (SELECT k FROM s))
      |    AS n_in""".stripMargin


  /** The GROUPING()-marker corner of the literal SQL surface
    * (q_sql_grouping): GROUPING SETS with grouping() flags
    * distinguishing "NULL because rolled up" from "NULL in the data"
    * — the disambiguation every BI layer on top of a lakehouse relies
    * on. NULLS FIRST is pinned explicitly: Spark's default null order
    * is NULLS FIRST ascending, DuckDB's is NULLS LAST, so an unpinned
    * ORDER BY over the rolled-up rows would shuffle the emitted order
    * between engines even with identical rows. */
  private[ext] val SqlGroupingSql: String =
    """SELECT o_orderpriority, o_orderstatus,
      |       CAST(grouping(o_orderpriority) AS BIGINT) AS g_pri,
      |       CAST(grouping(o_orderstatus) AS BIGINT) AS g_st,
      |       count(*) AS n,
      |       CAST(sum(CAST(floor(o_totalprice*100 + 0.5) AS BIGINT))
      |            AS BIGINT) AS cents
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
      |                        (o_orderpriority), ())
      |ORDER BY g_pri, g_st,
      |         o_orderpriority NULLS FIRST,
      |         o_orderstatus NULLS FIRST""".stripMargin


  /** The recursive-CTE corner of the literal SQL surface
    * (q_sql_recursive): a month-spine generated by WITH RECURSIVE —
    * Spark 4 plans the recursion as UnionLoop (anchor + iterated
    * step, depth = month span, bounded by
    * spark.sql.cteRecursionLevelLimit), DuckDB as its recursive-CTE
    * operator — left-joined to the monthly order rollup so empty
    * months surface as explicit zero rows (the gapfill shape, but
    * driven by the SQL-standard recursion instead of sequence()).
    * The spine recurses on an INTEGER month index (year·12+month−1)
    * rather than DATE arithmetic: date+INTERVAL lands in different
    * types across engines (Spark DATE, DuckDB TIMESTAMP), while the
    * integer axis keeps every emitted column BIGINT. Recursion depth
    * is O(calendar span) — ~tens of iterations regardless of fact
    * volume, each a constant-size step; the 100-TB work lives
    * entirely in the ordinary monthly GROUP BY. The stop bound `hi`
    * rides THROUGH the recursion as a column (anchor selects the
    * (lo, hi) pair): with a scalar subquery bound instead, Spark
    * re-plans and re-executes the orders aggregate on EVERY
    * iteration (~80 × full agg ≈ 14 s warm at sf0.1); carried as a
    * column, each step is a pure projection of the previous row. */
  private[ext] val SqlRecursiveSql: String =
    """WITH RECURSIVE bounds AS (
      |  SELECT CAST(min(year(o_orderdate)*12 + month(o_orderdate) - 1)
      |              AS BIGINT) AS lo,
      |         CAST(max(year(o_orderdate)*12 + month(o_orderdate) - 1)
      |              AS BIGINT) AS hi
      |  FROM orders),
      |months AS (
      |  SELECT lo AS k, hi FROM bounds
      |  UNION ALL
      |  SELECT k + 1, hi FROM months WHERE k < hi),
      |agg AS (
      |  SELECT CAST(year(o_orderdate)*12 + month(o_orderdate) - 1
      |              AS BIGINT) AS k,
      |         count(*) AS n_orders,
      |         CAST(sum(CAST(floor(o_totalprice*100 + 0.5) AS BIGINT))
      |              AS BIGINT) AS cents
      |  FROM orders GROUP BY 1)
      |SELECT months.k AS month_idx,
      |       CAST(floor(months.k / 12.0) AS BIGINT) AS yr,
      |       months.k - CAST(floor(months.k / 12.0) AS BIGINT) * 12 + 1
      |         AS mth,
      |       coalesce(n_orders, CAST(0 AS BIGINT)) AS n_orders,
      |       coalesce(cents, CAST(0 AS BIGINT)) AS cents
      |FROM months LEFT JOIN agg ON months.k = agg.k
      |ORDER BY months.k""".stripMargin


  /** EXISTS decorrelation (q_sql_exists): late-shipment orders by
    * priority — TPC-H Q4's semi-join shape on this schema. Both
    * engines plan the correlated EXISTS as a left semi join on
    * l_orderkey with the date predicate riding as the join filter;
    * at 100 TB that is one key-partitioned semi join, and the count
    * per priority is a 5-group rollup. */
  private[ext] val SqlExistsSql: String =
    """SELECT o_orderpriority, count(*) AS n
      |FROM orders
      |WHERE EXISTS (
      |  SELECT 1 FROM lineitem
      |  WHERE l_orderkey = o_orderkey
      |    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin


  /** Bag-semantics set ops (q_sql_bag_setops): INTERSECT ALL keeps
    * min(m_a, m_b) copies per key, EXCEPT ALL keeps m_a − m_b — the
    * multiplicity arithmetic DISTINCT set ops erase. The customer-key
    * bags genuinely carry duplicates (a customer has many orders), so
    * the counts differ from the DISTINCT forms everywhere. */
  private[ext] val SqlBagSetopsSql: String =
    """WITH a AS (
      |  SELECT o_custkey AS k FROM orders WHERE o_totalprice > 100000),
      |b AS (
      |  SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F')
      |SELECT op, k, count(*) AS n FROM (
      |  SELECT 'intersect_all' AS op, k FROM (
      |    SELECT k FROM a INTERSECT ALL SELECT k FROM b)
      |  UNION ALL
      |  SELECT 'except_all' AS op, k FROM (
      |    SELECT k FROM a EXCEPT ALL SELECT k FROM b))
      |GROUP BY 1, 2 ORDER BY op, k""".stripMargin


  /** One ANSI SQL text, two engines — q_sql_surface executes THIS
    * string via spark.sql and the driver executes it via DuckDB. */
  private[ext] val SqlSurfaceSql: String =
    """SELECT source, lang, count(*) AS n_docs,
      |       CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
      |FROM documents
      |WHERE n_chars >= 100
      |GROUP BY source, lang
      |ORDER BY source, lang""".stripMargin

  lazy val oracles: Map[String, String] = ExtOracles.oraclesBase +
    ("q_ann_frontier" ->
      (ExtOracles.FrontierVariants.map { case (v, q) => ExtOracles.frontierLeg(v, q) }
        .mkString("SELECT * FROM (\n", "\nUNION ALL\n",
          "\n) ORDER BY variant"))) ++
    ExtWebQueries.oracles
}
