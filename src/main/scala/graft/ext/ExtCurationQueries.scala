package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Det, PortableHash}
import graft.io.Sources
import graft.rel.Oracle
import graft.rel.Oracle.r4
import graft.core.Cache
import graft.streaming.StreamOps
import ExtQueries._

/** Curation / multimodal slice of the extension inventory — split
  * from ExtQueries along its family seam (VERDICT r11 #6): embedding
  * compression + near-dup, decontamination, PII, source/domain
  * mixing, image/audio/video metadata pipelines. Registration-only
  * module: every shared helper (session caches, constants, CTE
  * builders) stays in [[ExtQueries]] (`private[ext]`), imported
  * wholesale above, so no behavior or plan changes — the union in
  * ExtQueries.queries is the same 283-key map.
  */
object ExtCurationQueries {
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Multi-band sign-LSH pair search (4 tables × 16 bits, bucket cap):
    // the sub-quadratic scale path — see VectorSearch's banding notes.
    // int8 scalar quantization of the embedding corpus: per-dim
    // min/max training + encode + per-vector reconstruction-error
    // summary (see VectorSearch.scalarQuantize).
    "q_embed_quantize" -> ((s, d) =>
      VectorSearch.scalarQuantize(
          emb(s, d).select(col("vec_id"), col("embedding")))
        .orderBy(col("vec_id"))),

    "q_embed_near_dup" -> ((s, d) =>
      bandedCosC(s, d)
        .orderBy(col("cos_sim").desc, col("v1"), col("v2"))
        .limit(100)),

    // Deterministic ~10% corpus cut: portable-hash gate on doc_id —
    // a pure post-scan filter, zero shuffle, identical rows on any
    // engine/partitioning (ext.Sampling rationale).
    "q_hash_sample" -> ((s, d) =>
      Sampling.hashSample(docs(s, d), col("doc_id").cast("string"), 10.0)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))),

    // Deterministic train/val/test split (98/1/1): stable under
    // re-runs, partitioning and engine; new data never moves existing
    // rows between splits; per-row gate, no shuffle.
    "q_split_assign" -> ((s, d) =>
      Sampling.splitAssign(docs(s, d), col("doc_id").cast("string"),
          SplitBands)
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
        .orderBy(col("split"))),

    // Marginal-novelty read-out: how much NEW content an incoming
    // crawl batch (the standing doc_id%10==7 convention) adds against
    // the base corpus, per document — the data-value metric a crawl
    // budget is allocated by (a batch that is 95% seen shingles is
    // not worth its ingest cost). One anti-join-shaped left join on
    // the shingle key over the shared distinct-shingle cache; at
    // 100 TB the base side reduces to its distinct shingle set once
    // and both sides shuffle only on the shingle hash.
    "q_ngram_novelty" -> ((s, d) => {
      val ds = distinctShinglesC(s, d)
      val batch = ds.where(col("doc_id") % 10 === 7)
      val base = ds.where(col("doc_id") % 10 =!= 7)
        .select(col("shingle")).distinct()
        .withColumn("seen", lit(1L))
      batch.join(base, Seq("shingle"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("seen").isNull, 1L).otherwise(0L)).as("n_novel"))
        .withColumn("novelty", Det.r4(
          col("n_novel").cast("double") / col("n_shingles")))
        .orderBy(col("doc_id"))
    }),

    // Distribution-drift monitor: exact length octiles of the two
    // hash-split halves, compared element-wise — the KS-shaped check
    // a pipeline runs before trusting a split (or a new crawl batch)
    // to be exchangeable. Eighths, not deciles: k/8 is exact binary,
    // so rank = (n·k) div 8 replays identically everywhere (the RFM
    // quartile lesson; 0.1·n in IEEE is NOT (n)//10). Quantiles come
    // from per-(split, value) counts + a cumulative window over the
    // bounded VALUE axis — scale-safe where a per-split row ranking
    // would single-thread each split — and every emitted number is an
    // integer: no double crosses the oracle boundary at all.
    // Population Stability Index between the even/odd doc-id halves'
    // length distributions — THE drift dashboard number (banking
    // scorecard heritage; same role in a data pipeline: "did this
    // ingest batch shift the distribution?"). Ten equal-width buckets
    // off the corpus max; PSI_bits = Σ (p_i − q_i)·log2(p_i/q_i) —
    // the bit-base variant (conventionally ln; ln = log2·ln2, a
    // constant factor, so thresholds rescale). EXACT integer path:
    // add-1 smoothed counts, p−q as S-scaled integer division, and
    // log2(p/q) = log2Fx(n_p·N_q) − log2Fx(n_q·N_p) — products stay
    // far under 2^63 and the fraction never materializes as a
    // double. Per-bucket terms emitted (monitor-friendly: WHICH
    // bucket drifted); consumer sums psi_term_fx for the headline.
    // One groupBy + broadcast scalar totals — scan speed at 100 TB.
    "q_psi_drift" -> ((s, d) => {
      val S = LmScore.LogScale
      val mx = docs(s, d).agg(max(col("n_chars")).as("mx"))
      val b = docs(s, d).crossJoin(broadcast(mx))
        .select(expr("(n_chars * 10) div (mx + 1)").as("bucket"),
          (col("doc_id") % 2 === 0).as("is_ref"))
      val counts = s.range(0, 10).select(col("id").as("bucket"))
        .join(b.groupBy(col("bucket")).agg(
          sum(when(col("is_ref"), 1L).otherwise(0L)).as("r0"),
          sum(when(!col("is_ref"), 1L).otherwise(0L)).as("c0")),
          Seq("bucket"), "left")
        // add-1 smoothing: PSI's log blows up on an empty bucket;
        // the +1 prior is the standard fix and keeps log2Fx positive
        .select(col("bucket"),
          (coalesce(col("r0"), lit(0L)) + 1L).as("n_ref"),
          (coalesce(col("c0"), lit(0L)) + 1L).as("n_cur"))
      // the formula itself lives in ONE place (Drift.psiTerms) so
      // this scored monitor and the streaming gate cannot drift
      Drift.psiTerms(counts)
        .select(col("bucket"), col("n_ref"), col("n_cur"),
          col("psi_term_fx"),
          Det.r4(col("psi_term_fx").cast("double") /
            lit(S.toDouble * S.toDouble)).as("psi_term_bits"))
        .orderBy(col("bucket"))
    }),

    "q_quantile_drift" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val gate = PortableHash.spread(
        PortableHash.h(col("doc_id").cast("string")))
      val gated = docs(s, d).select(col("n_chars"),
        when(gate < lit(500000L), lit("train")).otherwise(lit("hold"))
          .as("split"))
      val counts = gated.groupBy(col("split"), col("n_chars"))
        .agg(count(lit(1)).as("c"))
      val wCum = Window.partitionBy(col("split")).orderBy(col("n_chars"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val cum = counts
        .withColumn("cum", sum(col("c")).over(wCum))
        .withColumn("n", sum(col("c"))
          .over(Window.partitionBy(col("split"))))
      val ks = s.range(1, 8).select(col("id").as("k"))
      val picks = cum.join(ks, col("cum") >= expr("(n * k) div 8") + 1)
        .groupBy(col("split"), col("k"))
        .agg(min(col("n_chars")).as("v"))
      picks.groupBy(col("k"))
        .agg(max(when(col("split") === "train", col("v"))).as("train_v"),
          max(when(col("split") === "hold", col("v"))).as("hold_v"))
        .withColumn("abs_diff", abs(col("train_v") - col("hold_v")))
        .orderBy(col("k"))
    }),

    // The RELEASE MANIFEST — what a dataset freeze actually ships:
    // per split (the q_split_assign bands), doc/char/token totals and
    // a content fingerprint (sum of per-doc text hashes — any changed
    // or reordered-in or dropped row moves it). One scan, partial/
    // final agg; the fingerprint makes two builds of "the same"
    // release byte-comparable without diffing corpora.
    "q_release_manifest" -> ((s, d) =>
      Sampling.splitAssign(docs(s, d), col("doc_id").cast("string"),
          SplitBands)
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("n_chars"),
          sum(size(filter(split(col("text"), " "), w => w =!= ""))
            .cast("long")).as("n_tokens"),
          sum(PortableHash.spread(PortableHash.h(col("text"))))
            .as("content_fingerprint"))
        .orderBy(col("split"))),

    // Deterministic stratified sample: 20 docs per language by
    // smallest (hash, key) — seeded-reservoir analog.
    "q_stratified_sample" -> ((s, d) =>
      Sampling.stratified(docs(s, d), col("lang"),
          col("doc_id").cast("string"), 20)
        .select(col("lang"), col("doc_id"),
          col("sample_rank").cast("long").as("sample_rank"))
        .orderBy(col("lang"), col("sample_rank"))),

    // Weighted training mix: 1.5 epochs of src0, half of src1, a
    // tenth of src2, 1 epoch of everything else — deterministic
    // per-row gate + generate, no shuffle.
    "q_dataset_mix" -> ((s, d) =>
      Sampling.weightedMix(docs(s, d), col("source"),
          col("doc_id").cast("string"), MixRates, defaultRate = 1.0)
        .select(col("doc_id"), col("source"), col("copy_id"))
        .orderBy(col("doc_id"), col("copy_id"))),

    // Benchmark decontamination: every training doc sharing >=1 exact
    // 3-gram with the "benchmark suite" (docs with doc_id % 20 == 0
    // stand in for a held-out eval set), with how many distinct
    // n-grams and how many distinct benchmark docs it collides with.
    // Scale shape: benchmark suites are O(thousands of docs) — tiny
    // next to the training corpus — so the benchmark shingle set is a
    // (gated, memoized) broadcast and the corpus-sized side never
    // shuffles on the join; real pipelines raise n to 8–13, which
    // only SHRINKS the collision sets.
    "q_decontaminate" -> ((s, d) => {
      val ds = distinctShinglesC(s, d)
      val bench = graft.core.Broadcasts.gatedMemo(
        ds.where(col("doc_id") % 20 === 0),
        "spark.graft.decontam.broadcastMax", s"decontam_bench:$d")
      Dedup.contaminationHits(ds.where(col("doc_id") % 20 =!= 0), bench)
        .orderBy(col("doc_id"))
    }),

    // SEMANTIC decontamination — the embedding-space complement to
    // the n-gram overlap check (a paraphrased benchmark item shares
    // no 3-grams but sits next to its source in embedding space; the
    // practice several dataset cards now report alongside exact
    // overlap). Every corpus vector scored against the FULL bench
    // set (vec_id%20, the q_decontaminate split convention) via a
    // broadcast nested-loop — at 100 TB this brute force IS the
    // scale path, because benchmark sets are thousands of rows while
    // the corpus side streams once, partition-parallel, unshuffled.
    // Emits the per-vector nearest bench item + max cosine + the
    // ≥0.45 contamination flag, so the cut threshold is auditable
    // rather than silently applied.
    "q_semantic_decontaminate" -> ((s, d) => {
      val e = emb(s, d).select(col("vec_id"), col("embedding"))
      val bench = e.where(col("vec_id") % 20 === 0)
        .select(col("vec_id").as("bench_id"), col("embedding").as("bvec"),
          VectorSearch.fixedNormSq(col("embedding")).as("bnrm"))
      e.where(col("vec_id") % 20 =!= 0)
        .withColumn("nrm", VectorSearch.fixedNormSq(col("embedding")))
        .crossJoin(broadcast(bench))
        .select(col("vec_id"), col("bench_id"),
          Det.r4(VectorSearch.cosineCol(
            VectorSearch.fixedDot(col("embedding"), col("bvec")),
            col("nrm"), col("bnrm"))).as("cos_sim"))
        .groupBy(col("vec_id"))
        .agg(max(struct(col("cos_sim"), (-col("bench_id")).as("nb")))
          .as("m"))
        .select(col("vec_id"), (-col("m.nb")).as("bench_id"),
          col("m.cos_sim").as("cos_sim"),
          (col("m.cos_sim") >= lit(0.45)).cast("long").as("contaminated"))
        .orderBy(col("vec_id"))
    }),

    // Rendezvous (highest-random-weight) sharding (Thaler & Ravishankar
    // 1998 — the consistent-placement scheme behind cache rings):
    // every doc goes to the shard whose h(doc:shard) weight is
    // highest. The audit pairs the 16-shard assignment with the
    // 17-shard one: HRW guarantees a doc either stays put or moves
    // to the NEW shard, so `n_moved_elsewhere` is a proven-zero
    // column and `n_moved` ≈ n/17 — the minimal-churn property a
    // resharding plan is approved on. One crossJoin against the
    // broadcast 17-row shard axis, both argmaxes in ONE partial/final
    // agg, no second pass.
    "q_rendezvous_shards" -> ((s, d) => {
      import graft.core.PortableHash
      val shards = s.range(0, 17).select(col("id").as("shard"))
      docs(s, d).select(col("doc_id"))
        .crossJoin(broadcast(shards))
        .withColumn("wgt", PortableHash.spread(PortableHash.h(
          concat(col("doc_id").cast("string"), lit(":"),
            col("shard").cast("string")))))
        .groupBy(col("doc_id"))
        .agg(
          max(when(col("shard") < 16,
            struct(col("wgt"), (-col("shard")).as("ns")))).as("m16"),
          max(struct(col("wgt"), (-col("shard")).as("ns"))).as("m17"))
        .select(col("doc_id"), (-col("m16.ns")).as("a16"),
          (-col("m17.ns")).as("a17"))
        .groupBy(col("a16"))
        .agg(count(lit(1)).as("n_docs"),
          sum((col("a17") =!= col("a16")).cast("long")).as("n_moved"),
          sum((col("a17") =!= col("a16") && col("a17") =!= 16)
            .cast("long")).as("n_moved_elsewhere"))
        .select(col("a16").as("shard"), col("n_docs"), col("n_moved"),
          col("n_moved_elsewhere"))
        .orderBy(col("shard"))
    }),

    // Greedy k-center coreset (Gonzalez 1985 farthest-point — the
    // active-learning / coreset selection primitive): 8 centers
    // picked by iterated "farthest from nearest selected", then the
    // per-vector assignment (nearest center by cosine, ties to the
    // smaller id). Selection is k bounded scalar fetches over
    // broadcast-vs-scan rounds; the oracle replays every round's
    // argmin and the final assignment.
    "q_coreset_kcenter" -> ((s, d) => {
      val e = emb(s, d).select(col("vec_id"), col("embedding"))
      val centers = VectorSearch.kcenterCoreset(e, 8, s"kcenter8:$d")
      val en = e.withColumn("nrm",
        VectorSearch.fixedNormSq(col("embedding")))
      val sel = en.where(col("vec_id").isin(centers: _*))
        .select(col("vec_id").as("center_id"),
          col("embedding").as("cvec"), col("nrm").as("cnrm"))
      en.crossJoin(broadcast(sel))
        .select(col("vec_id"), col("center_id"),
          Det.r4(VectorSearch.cosineCol(
            VectorSearch.fixedDot(col("embedding"), col("cvec")),
            col("nrm"), col("cnrm"))).as("cs"))
        .groupBy(col("vec_id"))
        .agg(max(struct(col("cs"), (-col("center_id")).as("nc"))).as("m"))
        .select(col("vec_id"), (-col("m.nc")).as("center_id"),
          col("m.cs").as("cos_sim"))
        .orderBy(col("vec_id"))
    }),

    // Source-overlap matrix: distinct shared 3-grams per source pair —
    // the corpus-audit view of cross-source contamination (a crawl
    // re-ingested under two source labels lights up here first).
    // Shape: distinct (source, shingle) → self-join on shingle
    // (s1 < s2) → count distinct shingles per pair. The pair blowup
    // per shingle is bounded by C(|sources|, 2), not corpus size, and
    // the join shuffles on the shingle key.
    "q_source_overlap" -> ((s, d) => {
      // reuses the session-cached distinct shingle set; the doc→source
      // map is O(docs) and broadcasts. ss is distinct (source,
      // shingle), so each shared shingle contributes exactly ONE row
      // per pair — count(*) equals count(DISTINCT) without the extra
      // dedup shuffle the explicit distinct-count would run.
      // r17: session-snapshotted — both self-join sides replayed the
      // join+distinct subtree per action (an in-action checkpoint
      // measured worse than the cache-served replay; the session
      // artifact is the audit index a deploy would persist anyway).
      val ss = Cache.getOrSnapshot(s, "source_shingles", d)(
        distinctShinglesC(s, d)
          .join(broadcast(docs(s, d).select(col("doc_id"), col("source"))),
            Seq("doc_id"))
          .select(col("source"), col("shingle")).distinct())
      ss.select(col("source").as("s1"), col("shingle"))
        .join(ss.select(col("source").as("s2"), col("shingle")), Seq("shingle"))
        .where(col("s1") < col("s2"))
        .groupBy(col("s1"), col("s2"))
        .agg(count(lit(1)).as("shared_shingles"))
        .orderBy(col("s1"), col("s2"))
    }),

    // The Bloom-prefiltered decontamination path — the shape for a
    // benchmark set too large to broadcast: a Bloom filter over the
    // benchmark shingles prunes the corpus side BEFORE the join
    // shuffle; false positives are removed by the exact join, so the
    // result (and the oracle) is identical to q_decontaminate. No
    // broadcast hint here on purpose — this is the non-broadcast
    // join's escort.
    "q_decontaminate_bloom" -> ((s, d) => {
      val ds = distinctShinglesC(s, d)
      Dedup.contaminationHitsBloom(
        ds.where(col("doc_id") % 20 =!= 0),
        ds.where(col("doc_id") % 20 === 0))
        .orderBy(col("doc_id"))
    }),

    // Train/test split leakage audit — decontamination's INTERNAL
    // twin: q_decontaminate screens against an external benchmark;
    // this reports holdout (test/val) docs that share rare 3-grams
    // with the TRAIN split of the same corpus, the overlap that
    // silently inflates held-out eval (GPT-3's appendix-C n-gram
    // audit, run split-vs-split). Split membership is the SAME
    // per-row hash gate as q_split_assign — no doc list is shipped
    // anywhere. Shingles with document frequency above the cap are
    // excluded: boilerplate n-grams are not leakage evidence, and the
    // cap bounds the shingle join's fan-out (≤ cap train rows per
    // shingle), which is what keeps this linear at 100 TB. The cap is
    // the saturation-escalating Dedup.dfCapStats form (r13 verdict
    // #7): LeakDfCap while it keeps ≥5% of the corpus's pair mass,
    // derived from the df histogram under the pair budget otherwise —
    // a densified corpus (every shingle's df × the replica factor)
    // keeps its leakage signal instead of silently losing it.
    "q_split_leakage" -> ((s, d) => {
      val ds = distinctShinglesC(s, d)
      // the rare-shingle list is a per-dir artifact (used twice per
      // action by the join planner's two sides) — session-cache it
      val kept = Cache.getOrPersist(s, "shingle_df_kept", d) {
        val tdf = ds.groupBy(col("shingle"))
          .agg(count(lit(1)).as("df"))
        val nd = docs(s, d).agg(count(lit(1)).as("n_docs"))
        val capStats = Dedup.dfCapStats(tdf, nd, LeakDfCap, DfCapBudget)
        tdf.crossJoin(broadcast(capStats.select(col("cap_used"))))
          .where(col("df") <= col("cap_used"))
          .select(col("shingle"))
      }
      val tagged = Sampling.splitAssign(ds, col("doc_id").cast("string"),
        SplitBands)
      val train = tagged.where(col("split") === "train")
        .join(kept, Seq("shingle"))
        .select(col("shingle"), col("doc_id").as("train_doc"))
      val holdout = tagged.where(col("split") =!= "train")
        .select(col("split"), col("shingle"), col("doc_id"))
      holdout.join(train, Seq("shingle"))
        .groupBy(col("split"), col("doc_id"))
        .agg(countDistinct(col("shingle")).as("n_shared_shingles"),
          countDistinct(col("train_doc")).as("n_train_docs"))
        .orderBy(col("split"), col("doc_id"))
    }),

    // Percentile-based curation cut: keep the top 90% of docs by
    // quality score, cutting at the EXACT element at rank ⌊0.1·n⌋
    // (no interpolation — the threshold is an actual r4-quantized
    // score, so its bits are engine-portable and the tie policy
    // `>= threshold` is deterministic). The threshold comes from the
    // distributed-sort order-statistic path (core.Quantiles), the
    // survivors from a shuffle-free scalar filter — at 100 TB that is
    // one sort of the score column plus one scan, vs window-ranking
    // the whole corpus.
    "q_quality_cut" -> ((s, d) => {
      val quals = TextAnalysis.qualityColumns(docs(s, d))
        .select(col("doc_id"), col("quality"))
      val thr = graft.core.Quantiles.valueAtFractionMemo(
        quals, "quality", 0.1, s"quality_p10:$d")
      quals.where(col("quality") >= lit(thr))
        .orderBy(col("doc_id"))
    }),

    // Inter-filter agreement (Cohen's kappa): do the Gopher rule
    // filter and the quality-score p10 cut agree beyond chance? The
    // curation question this answers is real — two filters that
    // agree at kappa ≈ 1 are redundant (drop one), near 0 they cut
    // INDEPENDENT slices (compounding loss needs review). Both
    // raters are recomputed from their own definitions (gopherRules;
    // the memoized p10 threshold q_quality_cut already shares), the
    // 2×2 confusion cells are one partial/final agg, and kappa
    // collapses to a SINGLE double division of two exact integers:
    // (n·agree − Σ marginal products) / (n² − Σ marginal products) —
    // so the statistic crosses the oracle boundary bit-exact under
    // one r4 snap.
    "q_filter_kappa" -> ((s, d) => {
      val r1 = TextAnalysis.gopherRules(docs(s, d))
        .select(col("doc_id"), col("keep").as("r1"))
      val quals = TextAnalysis.qualityColumns(docs(s, d))
        .select(col("doc_id"), col("quality"))
      val thr = graft.core.Quantiles.valueAtFractionMemo(
        quals, "quality", 0.1, s"quality_p10:$d")
      val r2 = quals.select(col("doc_id"),
        (col("quality") >= lit(thr)).cast("long").as("r2"))
      r1.join(r2, Seq("doc_id"))
        .agg(count(lit(1)).as("n"),
          sum(col("r1") * col("r2")).as("n11"),
          sum(col("r1") * (lit(1L) - col("r2"))).as("n10"),
          sum((lit(1L) - col("r1")) * col("r2")).as("n01"),
          sum((lit(1L) - col("r1")) * (lit(1L) - col("r2"))).as("n00"))
        .select(col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
          (col("n11") + col("n00")).as("n_agree"),
          Det.r4(
            (col("n") * (col("n11") + col("n00")) -
              ((col("n11") + col("n10")) * (col("n11") + col("n01")) +
               (col("n01") + col("n00")) * (col("n10") + col("n00"))))
              .cast("double") /
            (col("n") * col("n") -
              ((col("n11") + col("n10")) * (col("n11") + col("n01")) +
               (col("n01") + col("n00")) * (col("n10") + col("n00"))))
              .cast("double")).as("kappa"))
    }),

    // Gopher-style repetition filter signals: per-doc duplicate-3-gram
    // fraction and the hottest shingle's multiplicity. Two partial/
    // final aggregations, never a self-join — the per-(doc, shingle)
    // counts collapse before the per-doc rollup.
    "q_repetition_filter" -> ((s, d) =>
      TextAnalysis.repetitionSignals(docs(s, d)).orderBy(col("doc_id"))),

    // PII scan + redaction: per-doc email/IPv4/long-number match
    // counts and the redacted text pinned by length + portable hash.
    // Deterministic PII is planted first (the synthetic corpus has
    // none), so the oracle exercises the cross-engine regex
    // machinery, not an all-zeros row set. Pure codegen'd Column
    // regex — shuffle-free, scan-parallel at any corpus size.
    "q_pii_redact" -> ((s, d) =>
      TextAnalysis.piiColumns(docs(s, d)).orderBy(col("doc_id"))),

    // Context-window chunking: fixed-size overlapping char chunks via
    // generated offsets + explode — fan-out multiplies rows in place,
    // never shuffles them. Chunk bytes pinned by (len, portable hash).
    "q_chunk_docs" -> ((s, d) =>
      Packing.chunkDocs(docs(s, d))
        .orderBy(col("doc_id"), col("chunk_id"))),

    // Concatenate-and-cut sequence packing: exact global token
    // offsets via the two-pass distributed prefix sum (range sort +
    // one partial per partition + broadcast seeds — never a global
    // single-reducer window), then the first/last capacity-sized
    // training bin each doc touches. Memoized per (session, dir)
    // because the prefix-sum pins its sorted RDD (Packing scaladoc).
    "q_pack_sequences" -> ((s, d) =>
      Cache.getOrPersist(s, "pack_sequences", d)(
        Packing.packSequences(docs(s, d),
          size(split(col("text"), " ")), col("doc_id"))
          .withColumnRenamed("k", "doc_id"))
        .orderBy(col("doc_id"))),

    // Balanced shard manifest — the release step after packing: lay
    // the corpus out in a DETERMINISTIC pseudo-random order (portable
    // hash of doc_id, doc_id tiebreak — the epoch-shuffle every
    // training run needs to be reproducible) and cut it into 16
    // token-balanced shards. Shard = ⌊offset·N/T⌋ over the exact
    // global token prefix sum, which reuses packSequences' two-pass
    // machinery (range sort + one partial per partition + broadcast
    // seeds) — never a single-reducer global window — so the same
    // code path produces byte-identical shard boundaries on 32 cores
    // or 1000 executors. Each doc lands wholly in one shard; the
    // per-shard deviation column (n_tokens·N − T) bounds imbalance
    // by N × the largest document, the guarantee a loader relies on.
    "q_shard_manifest" -> ((s, d) => {
      val nShards = 16L
      val dtok = docs(s, d).select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        PortableHash.h(col("doc_id").cast("string")).cast("long").as("h"))
      val total = dtok.agg(sum(col("n_tokens"))).collect()(0).getLong(0)
      val keyed = dtok.select(
        (col("h") * lit(1L << 24) + col("doc_id")).as("k2"),
        col("n_tokens"))
      Packing.packSequences(keyed, col("n_tokens"), col("k2"))
        .select((col("k") % lit(1L << 24)).as("doc_id"),
          col("n_tokens"), col("tok_offset"))
        .withColumn("shard",
          least(expr(s"tok_offset * $nShards div ${total}L"),
            lit(nShards - 1L)))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          min(col("doc_id")).as("min_doc"),
          max(col("doc_id")).as("max_doc"))
        .select(col("shard"), col("n_docs"), col("n_tokens"),
          col("min_doc"), col("max_doc"),
          (col("n_tokens") * lit(nShards) - lit(total))
            .as("dev_from_ideal_xn"))
        .orderBy(col("shard"))
    }),

    // DSIR importance weights (Xie et al. 2023): per-doc log-ratio of
    // hashed-bigram likelihood under the TARGET distribution (lang =
    // 'en' — the in-domain proxy) vs the RAW corpus — the score
    // data-selection-for-LM pipelines resample by. All log arithmetic
    // rides the LmScore integer-log2 pipeline (bit-length + mantissa
    // table, ×2²⁰ fixed point), so the weight is an exact BIGINT on
    // both engines. Scale shape: features hash into 1024 buckets, so
    // both distributions are B-bounded aggregates; the per-bucket
    // log-ratio table is a broadcast; the per-doc weight is one
    // broadcast join + partial/final sum over the bigram stream —
    // and the corpus-total terms fold in as n_bigrams × constant
    // instead of joining a scalar into every row.
    "q_dsir_weights" -> ((s, d) => {
      val B = 1024L
      val ws = split(col("text"), " ")
      val bg = docs(s, d).where(size(ws) >= 2)
        .select(col("doc_id"), col("lang"),
          explode(transform(sequence(lit(1), size(ws) - 1),
            i => concat_ws(" ", element_at(ws, i), element_at(ws, i + 1))))
            .as("bigram"))
      val bkC = Cache.getOrPersist(s, "dsir_buckets", d)(
        bg.select(col("doc_id"), col("lang"),
          (PortableHash.h(col("bigram")).cast("long") % lit(B)).as("bkt")))
      val rc = bkC.groupBy(col("bkt")).agg(count(lit(1)).as("cr"))
      val tc = bkC.where(col("lang") === "en")
        .groupBy(col("bkt")).agg(count(lit(1)).as("ct"))
      val totals = bkC.agg(count(lit(1)).as("tr"),
        sum((col("lang") === "en").cast("long")).as("tt")).collect()(0)
      val constFx = LmScore.log2FxLong(totals.getLong(0) + B) -
        LmScore.log2FxLong(totals.getLong(1) + B)
      val lr = rc.join(tc, Seq("bkt"), "left").na.fill(0L, Seq("ct"))
        .select(col("bkt"),
          (LmScore.log2FxCol(col("ct") + lit(1L)) -
            LmScore.log2FxCol(col("cr") + lit(1L))).as("lr"))
      bkC.join(broadcast(lr), Seq("bkt"))
        .groupBy(col("doc_id"))
        .agg(max(col("lang")).as("lang"),
          count(lit(1)).as("n_bigrams"), sum(col("lr")).as("sum_lr"))
        .select(col("doc_id"), col("lang"), col("n_bigrams"),
          (col("sum_lr") + col("n_bigrams") * lit(constFx)).as("w_fx"),
          Det.r4((col("sum_lr") + col("n_bigrams") * lit(constFx))
            .cast("double") / lit(LmScore.LogScale.toDouble)).as("logw"))
        .orderBy(col("doc_id"))
    }),

    // Unigram-LM Viterbi segmentation (Unigram.scala — the
    // SentencePiece complement to the BPE merge family): every
    // distinct corpus word segmented into its minimum-cost piece
    // sequence under the capped substring-frequency model, costs in
    // exact integer log2 fixed point. The oracle replays model AND
    // Viterbi: a recursive CTE carries the 4-slot DP state and sorts
    // each step's transition candidates by (cost, n_pieces, 4−k) —
    // the same total order the kernel's descending-k strict
    // replacement realizes.
    "q_unigram_segment" -> ((s, d) =>
      unigramSegC(s, d).orderBy(col("word"))),

    // Per-language fertility (pieces per word) under the unigram
    // model — the tokenizer-quality readout that decides whether a
    // vocab budget fits a language mix. The corpus word STREAM joins
    // the O(|distinct words|) broadcast segment table; text never
    // shuffles.
    "q_unigram_fertility" -> ((s, d) => {
      val seg = unigramSegC(s, d)
      docs(s, d)
        .select(col("lang"), explode(split(col("text"), " ")).as("word"))
        .join(broadcast(seg.select(col("word"), col("n_pieces"),
          col("cost_fx"))), Seq("word"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_words"),
          sum(col("n_pieces")).as("n_pieces"),
          sum(col("cost_fx")).as("cost_fx"))
        .select(col("lang"), col("n_words"), col("n_pieces"),
          col("cost_fx"),
          Det.r4(col("n_pieces").cast("double") /
            col("n_words").cast("double")).as("fertility"))
        .orderBy(col("lang"))
    }),

    // WordPiece greedy longest-match segmentation (WordPiece.scala —
    // the BERT-tokenizer third of the subword trio beside BPE merges
    // and unigram-LM Viterbi): every distinct corpus word walked
    // left-to-right taking the LONGEST vocab piece at each position,
    // continuation pieces as the `##` class. The oracle replays model
    // AND walk: a recursive CTE advances a cursor by the largest k
    // whose marked piece joins the vocab — greedy is a total order,
    // so `seg` strings match byte for byte.
    "q_wordpiece_segment" -> ((s, d) =>
      wordpieceSegC(s, d).orderBy(col("word"))),

    // Per-language WordPiece fertility — the third column of the
    // tokenizer-choice comparison (q_bpe_fertility /
    // q_unigram_fertility / this): same word stream, same broadcast
    // segment-table join, so the three numbers are directly
    // comparable.
    "q_wordpiece_fertility" -> ((s, d) => {
      val seg = wordpieceSegC(s, d)
      docs(s, d)
        .select(col("lang"), explode(split(col("text"), " ")).as("word"))
        .join(broadcast(seg.select(col("word"), col("n_pieces"))),
          Seq("word"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_words"),
          sum(col("n_pieces")).as("n_pieces"))
        .select(col("lang"), col("n_words"), col("n_pieces"),
          Det.r4(col("n_pieces").cast("double") /
            col("n_words").cast("double")).as("fertility"))
        .orderBy(col("lang"))
    }),

    // Temperature-scaled domain mixing weights (the multilingual/
    // multi-domain training-mix formula): w_i ∝ p_i^(3/4) over each
    // source's share of corpus chars. Portability: alpha = 3/4 is
    // computed as sqrt(sqrt(p³)) — sqrt is IEEE correctly-rounded on
    // both engines, pow() is not; the weight normalizer is a
    // fixed-point (1e-9) integer sum, so no double addition order can
    // differ. The two totals ride on a broadcast cross join — the
    // by-source frame is O(sources).
    // Cluster-balanced mixing weights: the p^(3/4) temperature
    // formula applied to EMBEDDING-CLUSTER shares instead of source
    // labels — the semantic complement to q_domain_mix_weights (a
    // single web source hides many topical clusters; balancing on
    // k-means cells is how a curation run up-weights rare topics it
    // has no label for). Reuses the session k-means assignment the
    // SemDeDup/topics family trains; same sqrt(sqrt(p³)) portability
    // trick, same fixed-point snap.
    "q_cluster_mix_weights" -> ((s, d) => {
      val byCell = semdedupAssignC(s, d)
        .groupBy(col("cell_id")).agg(count(lit(1)).as("n_docs"))
      val tot = byCell.agg(sum(col("n_docs")).as("tot"))
      val p = col("n_docs").cast("double") / col("tot").cast("double")
      val wraw = sqrt(sqrt(p * p * p))
      val snapped = byCell.crossJoin(broadcast(tot))
        .select(col("cell_id"), col("n_docs"), Det.r4(p).as("p"),
          floor(wraw * lit(1.0e9) + lit(0.5)).cast("long").as("wfx"))
      val wtot = snapped.agg(sum(col("wfx")).as("wtot"))
      snapped.crossJoin(broadcast(wtot))
        .select(col("cell_id"), col("n_docs"), col("p"),
          Det.r4(col("wfx").cast("double") / col("wtot").cast("double"))
            .as("w"))
        .orderBy(col("cell_id"))
    }),

    "q_domain_mix_weights" -> ((s, d) => {
      val bySrc = docs(s, d).groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
      val tot = bySrc.agg(sum(col("n_chars")).as("tot"))
      val p = col("n_chars").cast("double") / col("tot").cast("double")
      val wraw = sqrt(sqrt(p * p * p))
      val snapped = bySrc.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"), col("n_chars"),
          Det.r4(p).as("p"),
          floor(wraw * lit(1.0e9) + lit(0.5)).cast("long").as("wfx"))
      val wtot = snapped.agg(sum(col("wfx")).as("wtot"))
      snapped.crossJoin(broadcast(wtot))
        .select(col("source"), col("n_docs"), col("n_chars"), col("p"),
          Det.r4(col("wfx").cast("double") / col("wtot").cast("double"))
            .as("w"))
        .orderBy(col("source"))
    }),

    // Token-budget mixture planning (the LLaMA-1 Table-1 / DoReMi
    // shape): temperature-scaled target weights over per-source TOKEN
    // shares, then a planned-token allocation for a training budget
    // of 4× the corpus and the per-source repeat factor ("epochs")
    // that allocation implies — the number a curation run actually
    // publishes (w alone doesn't say how many times src9 repeats).
    // Same portability discipline as q_domain_mix_weights: α=3/4 via
    // nested sqrt, 1e-9 fixed-point weight normalizer, and every
    // double expression mirrored operation-for-operation in the
    // oracle. All frames past the one corpus scan are O(sources).
    "q_mix_epochs" -> ((s, d) => {
      val bySrc = docs(s, d).groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " ")).cast("long")).as("toks"))
      val tot = bySrc.agg(sum(col("toks")).as("ttot"))
      val p = col("toks").cast("double") / col("ttot").cast("double")
      val wraw = sqrt(sqrt(p * p * p))
      val snapped = bySrc.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"), col("toks"), col("ttot"),
          Det.r4(p).as("p"),
          floor(wraw * lit(1.0e9) + lit(0.5)).cast("long").as("wfx"))
      val wtot = snapped.agg(sum(col("wfx")).as("wtot"))
      val planned = col("wfx").cast("double") * lit(4.0) *
        col("ttot").cast("double") / col("wtot").cast("double")
      snapped.crossJoin(broadcast(wtot))
        .select(col("source"), col("n_docs"), col("toks"), col("p"),
          Det.r4(col("wfx").cast("double") / col("wtot").cast("double"))
            .as("w"),
          floor(planned + lit(0.5)).cast("long").as("planned_toks"),
          Det.r4(planned / col("toks").cast("double")).as("epochs"))
        .orderBy(col("source"))
    }),

    // Aho–Corasick multi-keyword tagging: one automaton pass over
    // the corpus counts every dictionary occurrence — vs k regexp
    // scans. The kernel is partition-parallel (KeywordTags); the
    // dictionary is border-free so every-occurrence == the oracle's
    // non-overlapping regexp_extract_all (KeywordTagsSpec proves the
    // equivalence and its bordered counter-example).
    "q_keyword_tags" -> ((s, d) =>
      KeywordTags.tagCounts(docs(s, d)).orderBy(col("keyword"))),

    // Zipf tail fit over the token frequency spectrum: OLS of
    // log2(freq) on log2(rank) across the top ranks — the corpus
    // health number (natural text ≈ −1; synthetic/boilerplate drifts
    // shallow). Logs ride the LmScore exact integer-log2 pipeline
    // (bit-length + 512-entry mantissa table, 2²⁰ fixed point), the
    // OLS normal equations are exact BIGINT sums, and only the final
    // slope/intercept divisions touch doubles — mirrored
    // op-for-op in the oracle. The global sort is LIMIT-bounded
    // (TakeOrdered), the rank window runs on the 30-row frame.
    "q_zipf_fit" -> ((s, d) => {
      val words = docs(s, d)
        .select(explode(split(col("text"), " ")).as("w"))
        .where(length(col("w")) > 0)
      val freq = words.groupBy(col("w")).agg(count(lit(1)).as("f"))
      val top = freq.orderBy(col("f").desc, col("w")).limit(ZipfTopRanks)
      val win = org.apache.spark.sql.expressions.Window
        .orderBy(col("f").desc, col("w"))
      val ranked = top.select(col("f"),
        row_number().over(win).cast("long").as("r"))
      val pts = ranked.select(LmScore.log2FxCol(col("r")).as("x"),
        LmScore.log2FxCol(col("f")).as("y"))
      val sums = pts.agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      val nd = sums.select(col("n"), col("sx"), col("sy"),
        (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
          .as("num"),
        (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
          .as("den"))
      nd.select(col("n").as("n_ranks"),
        Det.r4(col("num") / col("den")).as("slope"),
        Det.r4((col("sy").cast("double") -
            col("num") / col("den") * col("sx").cast("double")) /
          col("n").cast("double") / lit(1048576.0)).as("intercept_log2"))
    }),

    // Multimodal metadata over the opaque payload column.
    "q_multimodal_meta" -> ((s, d) =>
      Multimodal.mediaMeta(docs(s, d)).orderBy(col("doc_id"))),

    // REAL image decode, scored: render a fixture of actual encoded
    // PNG/JPEG/BMP/GIF payloads (dimensions arithmetic in doc_id),
    // decode through the partition-parallel javax.imageio kernel, and
    // let the oracle predict width/height/format from the fixture
    // constants — the row goes red if the decode ever falls back to
    // the fake path (whose dims derive from byte length, not pixels).
    "q_multimodal_decode" -> ((s, d) => {
      val p = graft.io.MediaFixtures.write(s, d)
      Multimodal.decodeAll(s.read.parquet(p)).toDF()
        .orderBy(col("doc_id"))
    }),

    // REAL audio decode, scored (the WAV analog of
    // q_multimodal_decode): render a fixture of actual RIFF/WAVE PCM
    // payloads (rate/channels/samples arithmetic in doc_id), parse
    // the headers through the partition-parallel javax.sound kernel,
    // and let the oracle predict every field from the fixture
    // constants — red if the decode ever falls back to the fake path.
    "q_multimodal_audio" -> ((s, d) => {
      val p = graft.io.AudioFixtures.write(s, d)
      Multimodal.decodeAudioAll(s.read.parquet(p)).toDF()
        .orderBy(col("doc_id"))
    }),

    // REAL multi-frame inventory, scored (the video analog of
    // q_multimodal_decode): render a fixture of actual animated-GIF
    // containers (frame count / dims / per-frame delays arithmetic in
    // doc_id and frame_id), walk the sequence with the partition-
    // parallel javax.imageio kernel, and let the oracle predict every
    // frame row from the fixture constants — a broken parser emits no
    // rows (there is deliberately no fallback), so breakage is red,
    // never silently fake.
    "q_multimodal_frames" -> ((s, d) => {
      val p = graft.io.VideoFixtures.write(s, d)
      Multimodal.frameInventory(s.read.parquet(p)).toDF()
        .orderBy(col("doc_id"), col("frame_id"))
    }),

    // TIME-budgeted frame sampling (the ffmpeg `-r` shape, not
    // every-Nth): per-frame start instants from the running sum of
    // the REAL parsed GIF delays, then one sampled frame per 10 cs
    // instant — the frame whose [start, start+delay) interval covers
    // it (a bounded interval join: ≤6 frames × ≤9 instants per
    // video). The op a video-curation pipeline runs to cut decode
    // cost before feature extraction; the oracle replays the
    // fixtures' delay formula through the same cumsum + interval
    // arithmetic, so a mis-parsed delay or off-by-one interval bound
    // moves a cell.
    "q_frame_sample" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val p = graft.io.VideoFixtures.write(s, d)
      val f = Multimodal.frameInventory(s.read.parquet(p)).toDF()
      val w = Window.partitionBy(col("doc_id")).orderBy(col("frame_id"))
      // eager checkpoint: tl feeds BOTH interval-join sides (directly
      // and via dur→inst) — without it every reference re-decodes all
      // fixture GIFs through the ImageIO kernel
      val tl = f
        .withColumn("start_cs", sum(col("delay_cs")).over(w)
          - col("delay_cs"))
        .select(col("doc_id"), col("frame_id"), col("delay_cs"),
          col("start_cs"))
        .localCheckpoint(true)
      val dur = tl.groupBy(col("doc_id"))
        .agg(max(col("start_cs") + col("delay_cs")).as("dur"))
      val inst = dur.select(col("doc_id"),
        explode(sequence(lit(0L), col("dur") - 1, lit(10L))).as("t_cs"))
      inst.join(tl, Seq("doc_id"))
        .where(col("t_cs") >= col("start_cs") &&
          col("t_cs") < col("start_cs") + col("delay_cs"))
        .select(col("doc_id"), col("t_cs"), col("frame_id"),
          col("start_cs"), col("delay_cs"))
        .orderBy(col("doc_id"), col("t_cs"))
    }),

    // Perceptual-hash image near-dup, scored CELL-EXACT end to end:
    // real PNGs (PhashFixtures: block-constant grids whose levels are
    // arithmetic in id) → javax.imageio decode → integer dHash-64 →
    // 4×16-bit banded candidate join (hamming ≤ 3 ⇒ some band equal,
    // the simhash pigeonhole on image hashes) → popcount rescore.
    // The oracle replays every hash bit from the grid FORMULA, never
    // the bytes — so a wrong grayscale weight, block bound, or decode
    // fallback shifts a bit and lands red. Scale shape: hashes are
    // one scan-parallel kernel pass; candidates are band-equality
    // joins (never all pairs); the rescore is a popcount on the
    // already-joined longs. 100 TB adds the bucket caps the
    // minhash/simhash family already carries.
    // Streaming MULTIMODAL ingest gate: the incremental-dedup
    // flatMapGroupsWithState gate (StreamOps.ingestDedupGate) keyed
    // by IMAGE CONTENT — dHash-64 signatures from the real decode
    // kernel. Base corpus = the original images (variant 0), reduced
    // to keep-first (sig, first_doc) state; the incoming batch is the
    // copies and mirrors. A brightness-shifted copy hashes identically
    // → dup_of_base against its original; mirrors are new unless the
    // formula says they collide. The oracle replays hashes AND gate
    // semantics (base-hit beats in-batch, first-arrival-wins by
    // doc_id) from the grid formula — streaming state logic and the
    // pixel path scored together, cell-exact. Scale: state is
    // O(distinct signatures), the image bytes never enter the gate.
    "q_stream_phash_gate" -> ((s, d) => {
      val p = graft.io.PhashFixtures.write(s, d)
      val hashed = Multimodal.dhashAll(s.read.parquet(p)).toDF()
        .select(col("doc_id"), expr("lpad(bin(dhash), 64, '0')").as("sig"))
      import s.implicits._
      val base = hashed.where(col("doc_id") % 3 === 0)
        .groupBy(col("sig")).agg(min(col("doc_id")).as("first_doc"))
        .select(col("sig"), col("first_doc"), lit(true).as("from_base"))
        .as[StreamOps.SigSeen]
      val incoming = hashed.where(col("doc_id") % 3 =!= 0)
        .select(col("doc_id"), col("sig")).as[StreamOps.DocSig]
      StreamOps.ingestDedupGate(incoming, base)
        .toDF().orderBy(col("doc_id"))
    }),

    // Image near-dup CLUSTERS: the q_image_phash candidate edges
    // (banded, hamming ≤ 3) run through the SAME contraction-first
    // min-label connected components as the text dedup family
    // (Dedup.connectedComponents), keeper = min img_id — closing the
    // image-dedup loop pairs → clusters → keeper exactly as
    // q_dedup_clusters does for documents. The oracle replays edges
    // from the grid formula and clusters them with the recursive
    // min-label CTE — cluster assignments are cell-exact.
    "q_image_phash_clusters" -> ((s, d) => {
      val p = graft.io.PhashFixtures.write(s, d)
      val hashes = Multimodal.dhashAll(s.read.parquet(p)).toDF()
        .select(col("doc_id").as("img_id"), col("dhash"))
      val bands = hashes.select(col("img_id"), col("dhash"),
          explode(sequence(lit(0), lit(3))).as("band"))
        .withColumn("bv", expr("shiftright(dhash, band * 16) & 65535"))
      val edges = bands.as("a").join(bands.as("b"),
          col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
            col("a.img_id") < col("b.img_id"))
        .select(col("a.img_id").as("d1"), col("b.img_id").as("d2"),
          expr("bit_count(a.dhash ^ b.dhash)").as("hd"))
        .distinct()
        .where(col("hd") <= 3)
        .select(col("d1"), col("d2"))
      // snapshot-memoized like q_dedup_clusters: the CC fixpoint is a
      // session artifact; its warm cost is a snapshot scan
      Cache.getOrSnapshot(s, "phash_cc_clusters", d)(
          Dedup.connectedComponents(
            hashes.select(col("img_id").as("doc_id")), edges))
        .withColumn("is_keeper",
          (col("doc_id") === col("cluster_id")).cast("long"))
        .orderBy(col("doc_id"))
    }),

    // Entity resolution end-to-end (EntityResolution.scala): three
    // deterministic record sources (clean registry, CRM with an
    // off-by-one numeric typo, billing with format noise) → capped
    // multi-pass blocking → (nation, segment, levenshtein ≤ 1)
    // comparator → the dedup family's contraction-first CC →
    // per-cluster survivorship audit. The oracle replays the whole
    // pipeline: same dirty view, same blocking passes + cap, same
    // comparator, recursive min-label CC, same audit rollup.
    // Snapshot-cached like the other CC fixpoints — the resolved
    // frame is a session artifact shared with q_er_quality.
    "q_entity_resolution" -> ((s, d) =>
      EntityResolution.clusterAudit(erResolvedC(s, d))),

    // ER acceptance pair (the lsh_recall/precision discipline applied
    // to identity): pairwise precision AND recall vs the held-out
    // true key, computed from group sizes only — Σ C(n,2) per
    // cluster / truth key / (cluster, truth) cell — so the quality
    // readout never enumerates pairs. Expected imperfection is REAL:
    // decade-crossing typos sit at edit distance 2 (recall misses),
    // and off-by-one typos land exactly on a neighboring customer's
    // number (precision misses when nation+segment also agree) —
    // the numbers a deploy decision actually weighs.
    "q_er_quality" -> ((s, d) =>
      EntityResolution.qualityRow(erResolvedC(s, d))),

    // Audio content fingerprint, scored CELL-EXACT: the WAV fixture's
    // PCM samples are a sawtooth that is pure arithmetic in
    // (doc_id, sample index), so the energy-envelope bits (adjacent
    // eighth-range mean-|amplitude| comparisons) replay in SQL from
    // the formula while the engine must earn them through real
    // javax.sound PCM decode. The audio analog of q_image_phash's
    // pixel-path discipline — a header-only parse can't fake it, the
    // DATA bytes feed the answer.
    "q_audio_fingerprint" -> ((s, d) => {
      val p = graft.io.AudioFixtures.write(s, d)
      Multimodal.audioFpAll(s.read.parquet(p)).toDF()
        .orderBy(col("doc_id"))
    }),

    "q_image_phash" -> ((s, d) => {
      val p = graft.io.PhashFixtures.write(s, d)
      val hashes = Multimodal.dhashAll(s.read.parquet(p)).toDF()
        .select(col("doc_id").as("img_id"), col("dhash"))
      val bands = hashes.select(col("img_id"), col("dhash"),
          explode(sequence(lit(0), lit(3))).as("band"))
        .withColumn("bv",
          expr("shiftright(dhash, band * 16) & 65535"))
      bands.as("a").join(bands.as("b"),
          col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
            col("a.img_id") < col("b.img_id"))
        .select(col("a.img_id").as("img_a"), col("b.img_id").as("img_b"),
          expr("bit_count(a.dhash ^ b.dhash)").cast("long").as("hamming"))
        .distinct()
        .where(col("hamming") <= 3)
        .orderBy(col("img_a"), col("img_b"))
    }),

    // Image RESIZE over real decoded pixels: every phash fixture PNG
    // box-mean-pooled to a 3×2 thumbnail (each cell = exact integer
    // luminance sum over 12×16 px). The engine must earn the values
    // through javax.imageio decode + the pooling loops; the oracle
    // replays the fixtures' generation FORMULA + the same pooling
    // arithmetic — so a wrong decode, wrong luminance weights, or
    // off-by-one cell bound lands cell-visibly red (the
    // PhashFixtures discipline, now for the resize path). Shape at
    // 100 TB: partition-parallel mapPartitions kernel, one decode
    // per image, no shuffle before the final per-cell projection.
    "q_image_thumbnail" -> ((s, d) => {
      val p = graft.io.PhashFixtures.write(s, d)
      Multimodal.thumbnailAll(s.read.parquet(p), tw = 3, th = 2).toDF()
        .select(col("doc_id").as("img_id"), col("cx"), col("cy"),
          col("n_px"), col("sum_lum"),
          Det.r4(col("sum_lum").cast("double") /
            col("n_px").cast("double")).as("mean_lum"))
        .orderBy(col("img_id"), col("cy"), col("cx"))
    }),

    // session_window in batch mode (streaming twin: StreamOps).
    "q_session_window" -> ((s, d) =>
      StreamOps.sessionAgg(Sources.table(s, d, "events"))
        .orderBy(col("user_id"), col("start_us"))),

    // IVF ANN: label centroids as the coarse quantizer, every ~50th
    // vector as a query, 2 probes, top-3. Deterministic throughout
    // (fixed-point math); the oracle CTE chain below replays the
    // assignment/probe/scan stages in DuckDB.
    "q_ann_ivf" -> ((s, d) => {
      val e = emb(s, d)
      // r17: centroids and the corpus assignment (the inverted file)
      // are session artifacts now — every action re-ran the
      // posexplode centroid agg AND the N×cells crossed argmax; the
      // serve is the probe join against the prebuilt lists, which is
      // what an IVF deployment actually executes per query.
      val cellsB = broadcast(labelCellsC(s, d)
        .select(col("label").cast("long").as("cell_id"), col("centroid"),
          VectorSearch.fixedNormSq(col("centroid")).as("cnrm")))
      val queries = e.where(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      VectorSearch.ivfTopKFromAssigned(ivfLabelAssignC(s, d), cellsB,
          queries, "qid", "qvec", 3, 2)
        .orderBy(col("qid"), col("rn"))
    }),

    // The compressed ANN serving path: IVF picks a top-10 shortlist
    // by exact cosine, then int8-dequantized vectors re-rank it to
    // top-3 (VectorSearch.sqRerank) — scoring happens against the
    // 4x-smaller SQ reconstruction, not the full-precision
    // embeddings. Queries are corpus members, so the quantizer covers
    // them.
    "q_ann_sq_rerank" -> ((s, d) =>
      // same session-shared IVF shortlist as the PQ composition —
      // the two compressed rerank paths serve the identical
      // shortlist, differing only in the scoring representation
      VectorSearch.sqRerank(ivfPqShortlistC(s, d),
          emb(s, d).select(col("vec_id"), col("embedding")), "qid", 3)
        .orderBy(col("qid"), col("rn"))),

    // Embedding-dedup end-to-end: banded sign-LSH candidates →
    // cosine threshold → connected components → cluster table with
    // keepers. The full "embedding-cosine near-dup dedup" pipeline a
    // training-data curation run executes. τ=0.0 here: the synthetic
    // embeddings have no true near-dups (max pair cosine ≈0.45), so
    // the scored query keeps any positively-aligned candidate to
    // exercise thresholding + clustering; a production corpus runs
    // the identical plan with τ≈0.95.
    "q_embed_dedup_clusters" -> ((s, d) => {
      val pairs = bandedCosC(s, d)
        .where(col("cos_sim") >= 0.0)
        .select(col("v1").as("d1"), col("v2").as("d2"))
      Cache.getOrSnapshot(s, "cc_embed_clusters", d)(
          Dedup.connectedComponents(emb(s, d).select(col("vec_id")), pairs,
            nodeCol = "vec_id"))
        .withColumn("is_keeper",
          (col("vec_id") === col("cluster_id")).cast("long"))
        .orderBy(col("vec_id"))
    })
  )
}
