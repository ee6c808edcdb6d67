package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale gate: catch superlinear constants that sf0.1 hides.
  *
  * The driver ships no sf1 data, so this derives one: the sf0.1
  * documents/embeddings tables replicated `factor`× with remapped ids
  * (written once under `target/scale<factor>/` — never into the
  * read-only testdata). Replica text is prefixed with a replica token
  * and embeddings get a tiny per-replica dimension-0 offset, so
  * replicas are distinct rows but keep the corpus's dup/cluster
  * structure — which also makes the near-dup family a deliberately
  * ADVERSARIAL stress: every document gains ~factor near-identical
  * cross-copies, exactly the hot-bucket shape the LSH caps and rescue
  * passes exist for. A capped pipeline should grow ~linearly in rows;
  * an uncapped one goes quadratic and the gate exposes it.
  *
  * Usage: `runMain graft.ScaleGate [baseDir] [factor]` — times each
  * gate query twice (cold, warm) on the base dir and the replica dir
  * in ONE session each, prints per-query JSON lines with the
  * warm-over-warm ratio. Findings are recorded in PLANS.md.
  */
object ScaleGate {
  /** Document/embedding-family queries where a hidden quadratic would
    * hurt most at 100 TB; q_token_count is the ~pure-scan baseline the
    * others' ratios read against. */
  val Gate: Seq[String] = Seq(
    "q_token_count", "q_repetition_filter", "q_dup_windows",
    "q_minhash_near_dup", "q_tfidf_top_terms", "q_dedup_clusters",
    "q_graph_rank", "q_graph_triangles", "q_embed_near_dup", "q_ann_ivf",
    // round-8 additions: the BPE apply path, the bigram-LM join, and
    // the composed IVF-PQ serving stack (queries scale with the
    // corpus here — both sides of the ratio grow 10×)
    "q_chunk_bpe", "q_lm_score", "q_ann_ivf_pq",
    // round-8 continuation: the postings-build + broadcast-query
    // retrieval and the corpus-wide card aggregation
    "q_bm25_retrieval", "q_dataset_card",
    // round-8 slice 3: the within-cell pair family (SemDeDup's cell
    // cap must bound the quadratic term as cells densify), the
    // rare-shingle leakage join (DF cap bounds fan-out), the
    // signature-join ingest triage, and the postings entropy agg
    "q_semdedup", "q_split_leakage", "q_incremental_dedup",
    "q_token_entropy",
    // round-8 slices 4-7: the full-outer reconciliation join, the
    // sig-grouped pair matrix (arithmetic pair counts must keep it
    // linear), the candidate-precision rescore (bounded by the
    // banding caps), and the type-space first-seen aggregation.
    "q_table_diff", "q_cross_source_dups", "q_lsh_precision",
    "q_vocab_growth",
    // round-9: the remaining BPE-apply rows (VERDICT r8 #7) — the
    // replace chain is scan-parallel by construction, the gate proves
    // the constant holds as the corpus densifies
    "q_bpe_tokens", "q_pack_bpe",
    // round-9 additions: the kernel BPE path, the containment
    // rescore (shares the capped candidate set), the threshold sweep
    // (pairs × 10-row axis), and the power-iteration direction (two
    // corpus passes per round)
    "q_bpe_tokens_kernel", "q_minhash_containment",
    "q_dedup_threshold_sweep", "q_embed_pca_power",
    // round-9 closing: the events family gets MEASURED scale evidence
    // (buildReplica now replicates events on the same day axis, so
    // windows/days densify 10×): the bounded rolling fan-outs, the
    // sketch-merge read-outs, the per-day MG partial pipeline, the
    // EWMA ledger, and the sessionization window
    "q_rolling_distinct", "q_rolling_hll", "q_trending_items",
    "q_heavy_hitters", "q_ewma_trend", "q_sessionize",
    // round-9 final slice: the SCD2 pair (two-window batch build vs
    // O(1)-state stream path — both shuffle once on user_id) and the
    // Gopher scan (pure codegen'd scalar math, should gate ~flat)
    "q_scd2_build", "q_stream_scd2", "q_gopher_rules",
    // round-9 last adds: the capped wedge join (hub cap must bound
    // the quadratic as the graph densifies 10×) and the DF-capped
    // shingle-cosine self-join (replication multiplies every
    // shingle's df toward the cap — the adversarial direction)
    "q_link_prediction", "q_doc_similarity",
    // and the closing events trio: the TWAP window, the
    // order-statistic threshold agg, and the typed per-key ledger
    // fold (replica users are NEW ids, so per-key state is constant
    // while row volume grows 10× — the fold must gate linear)
    "q_time_weighted_avg", "q_user_concentration", "q_clamped_balance",
    // round-10: the graph-ANN serve (beam work is nq·B·(K+1) per
    // round by construction; the graph build is LSH-cap-bounded —
    // replication densifies every bucket toward the cap, the
    // adversarial direction) and the persisted-index serve
    "q_ann_graph", "q_ann_persist",
    // round-10: the hierarchical serve (layer-1 subset graph build +
    // two-layer descent — both layers' builds are LSH-cap-bounded)
    "q_ann_hnsw",
    // round-10 late adds: LPA fixpoint (graded on build), k-center
    // selection rounds (k corpus scans), the WordPiece kernel
    // (per-DISTINCT-word — replicas multiply word COUNTS, not the
    // distinct space, so this should gate ~flat), the CCNet tercile
    // sort, the broadcast-bench semantic scan, and the grouped-split
    // edge rollup over the densified near-dup graph
    "q_graph_communities", "q_coreset_kcenter", "q_wordpiece_segment",
    "q_ccnet_buckets", "q_semantic_decontaminate",
    "q_leakage_free_split",
    // round-11: the durable-index triage (graded on build — the
    // banding + capped key join against stored postings), the
    // known-item retrieval evals (work = Σ min-DF posting lists —
    // replication densifies every df, the adversarial direction) and
    // the PSI monitor (pure scan + 10-bucket agg, should gate ~flat).
    // q_rec_ils needs the star tables, so it rides the --fullstar
    // SpotSet, not this documents-family gate.
    "q_dedup_index_persist", "q_retrieval_mrr", "q_retrieval_ndcg",
    "q_psi_drift",
    // round-12: ALL seven recall twins and the frontier join the
    // standing gate now that their truth legs ride a FIXED seeded
    // query panel (nq pinned at AnnPanelSize → truth work O(nq·N),
    // linear in the corpus — before the panel, q_ann_graph_recall
    // gated 93× at 30× and the family was excluded by policy)
    "q_ann_recall", "q_ann_sq_recall", "q_ann_ivf_pq_recall",
    "q_ann_truncated_recall", "q_ann_filtered_recall",
    "q_ann_graph_recall", "q_ann_hnsw_recall", "q_ann_frontier",
    // the exact-kNN measurement family rides the same panel (its
    // probes×corpus side was the other deliberately-absent entry)
    "q_knn_classify", "q_label_noise", "q_triplet_mining",
    // content-defined chunking: per-row boundary fan-out + one sig
    // shuffle — must gate like q_dup_windows' scan shape
    "q_content_chunks",
    // round-13: the WARC→text extraction (pure per-row regex/HOF scan
    // over the rendered page fixture — must gate like the scan
    // baseline) and the URL-level dedup pair (normalize is scan work;
    // the canon groupBy / Bloom-gated seen check are each ONE
    // exchange whose key count grows linearly)
    "q_html_extract", "q_url_dups", "q_url_seen",
    // the WARC envelope parse + the composed WARC→text chain: both
    // pure per-row scan work over the rendered record fixture — must
    // gate like the scan baseline
    "q_warc_records", "q_warc_extract",
    // round-15: the hot-bucket/hot-block monitoring lists — one
    // groupBy over the cached band minima / signature blocks with
    // dimension-sized output; replication densifies every bucket
    // toward (and past) the caps, the adversarial direction for the
    // histogram aggregation itself
    "q_lsh_hot_buckets", "q_simhash_hot_blocks")

  /** Queries whose RESULT is session-materialized (Cache.getOrSnapshot
    * fixpoint/model artifacts): their warm run is a bare snapshot scan
    * by construction, so the gate must grade the BUILD (first run) or
    * a superlinear regression in the underlying iteration would hide
    * behind the memo. For everything else the warm run is the honest
    * number (shared INTERMEDIATES are legitimately amortized; the
    * per-query work still executes every run). */
  val Materialized: Set[String] =
    Set("q_dedup_clusters", "q_graph_rank", "q_graph_triangles",
      "q_embed_pca_power", "q_graph_communities",
      // kcore is the same snapshot-materialized fixpoint shape as its
      // siblings above (round-13: it joined the deep gate, where a
      // warm-graded snapshot scan would hide the peel's scaling)
      "q_graph_kcore",
      // whole-RESULT caches (snapshot serve / per-word segment
      // table): warm is a bare scan, grade the build
      "q_ann_persist", "q_ann_graph_persist", "q_ann_hnsw_persist",
      "q_wordpiece_segment", "q_dedup_index_persist",
      "q_rec_serve_persist", "q_rec_serve_incremental",
      // the recall twins session-cache their ≤panel-size result
      // tables (so the frontier re-aggregates cached scans); their
      // serve+truth work happens on the first run — grade that.
      // q_ann_frontier itself stays warm-graded: its warm run over
      // the cached twin tables IS the acceptance read-out cost.
      "q_ann_recall", "q_ann_sq_recall", "q_ann_ivf_pq_recall",
      "q_ann_truncated_recall", "q_ann_filtered_recall",
      "q_ann_graph_recall", "q_ann_hnsw_recall",
      // knnPerProbe's probes×corpus exact side lands on the first
      // run; q_label_noise's warm agg over the snapshot stays honest
      "q_knn_classify")

  private def exists(p: String): Boolean = new java.io.File(p).exists()

  /** Replicate documents+embeddings `factor`× with disjoint id spaces. */
  def buildReplica(spark: SparkSession, base: String, out: String,
                   factor: Int): Unit = {
    // v2 marker: replicas built before the events table joined the
    // gate lack events.parquet and must rebuild once
    if (exists(s"$out/_GATE_OK_V2")) return
    val docs = spark.read.parquet(s"$base/documents.parquet")
    val nDoc = docs.agg(max(col("doc_id"))).head().getLong(0) + 1L
    val reps = spark.range(factor.toLong).select(col("id").as("rep"))
    docs.crossJoin(reps)
      .select((col("doc_id") + col("rep") * nDoc).as("doc_id"),
        concat(lit("r"), col("rep"), lit(" "), col("text")).as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    val emb = spark.read.parquet(s"$base/embeddings.parquet")
    val nVec = emb.agg(max(col("vec_id"))).head().getLong(0) + 1L
    emb.crossJoin(reps)
      .select((col("vec_id") + col("rep") * nVec).as("vec_id"),
        transform(col("embedding"), (v, i) =>
          when(i === 0, v + col("rep").cast("float") * lit(0.001f))
            .otherwise(v)).as("embedding"),
        col("label"))
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    // events: replicas keep the SAME day axis (so rolling windows and
    // trending keys DENSIFY factor× — the adversarial direction: more
    // rows AND more distinct users per window/day) while event ids and
    // user ids move to disjoint ranges per replica.
    val ev = graft.io.Sources.events(spark, base)
    val nEv = ev.agg(max(col("event_id"))).head().getLong(0) + 1L
    val nUs = ev.agg(max(col("user_id"))).head().getLong(0) + 1L
    ev.crossJoin(reps)
      .select((col("event_id") + col("rep") * nEv).as("event_id"),
        col("ts"),
        (col("user_id") + col("rep") * nUs).as("user_id"),
        col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(s"$out/events.parquet")
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(s"$out/_GATE_OK_V2"))
    ()
  }

  /** Replicate the FULL star schema `factor`× (VERDICT r10 #7): the
    * engine's only sf1-like evidence was documents/embeddings/events
    * replicas, so the relational headline families (sim pipeline,
    * top-k, broadcast star) had never been measured past sf0.1. No
    * sf1.0 real data exists in this container (TESTDATA.md ships
    * sf≤0.1), so this is the honest substitute: every fact table's
    * keys move to disjoint ranges per replica (join fan-outs
    * preserved EXACTLY — each replica customer keeps their order
    * count, each order its lines), while the shared dimension axes
    * (nation/region, dates, flags) densify factor× — the adversarial
    * direction for the 3-value returnflag aggregates and the per-day
    * windows. The ratings view derives o_custkey×l_partkey through
    * the orderkey join, so users and items both grow factor× with
    * per-user posting sizes unchanged: the C(n,2) pair family must
    * gate ~linear or the cap discipline is broken. */
  def buildReplicaFull(spark: SparkSession, base: String, out: String,
                       factor: Int): Unit = {
    buildReplica(spark, base, out, factor)
    if (exists(s"$out/_GATE_OK_FULLSTAR")) return
    val reps = spark.range(factor.toLong).select(col("id").as("rep"))
    def t(n: String) = spark.read.parquet(s"$base/$n.parquet")
    // ONE offset per key DOMAIN, computed from the PK-side table and
    // reused for every FK column in that domain. Deriving each
    // table's offset from its OWN max would silently mis-wire joins
    // on any corpus where the max-key dimension row has no fact rows
    // (classic TPC-H: one in three customers never orders) — the
    // PK-side max is the domain's true ceiling by construction.
    val domain: Map[String, Long] = Map(
      "custkey" -> "customer.c_custkey", "suppkey" -> "supplier.s_suppkey",
      "partkey" -> "part.p_partkey", "orderkey" -> "orders.o_orderkey"
    ).map { case (d, src) =>
      val Array(tbl, k) = src.split('.')
      d -> (t(tbl).agg(max(col(k))).head().getLong(0) + 1L)
    }
    def off(df: org.apache.spark.sql.DataFrame, keys: Seq[String])
        : org.apache.spark.sql.DataFrame =
      keys.foldLeft(df.crossJoin(reps)) { (acc, k) =>
        acc.withColumn(k,
          col(k) + col("rep") * domain(k.split("_", 2)(1)))
      }.drop("rep")
    def w(df: org.apache.spark.sql.DataFrame, n: String): Unit =
      df.write.mode("overwrite").parquet(s"$out/$n.parquet")
    w(off(t("customer"), Seq("c_custkey")), "customer")
    w(off(t("supplier"), Seq("s_suppkey")), "supplier")
    w(off(t("part"), Seq("p_partkey")), "part")
    w(off(t("orders"), Seq("o_orderkey", "o_custkey")), "orders")
    w(off(t("lineitem"), Seq("l_orderkey", "l_partkey", "l_suppkey")),
      "lineitem")
    // dimension constants stay shared (5 regions, 25 nations): at any
    // scale these broadcast, and replicating them would break the
    // foreign keys kept un-offset above
    w(t("nation"), "nation")
    w(t("region"), "region")
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(s"$out/_GATE_OK_FULLSTAR"))
    ()
  }

  /** The sf1-equivalent spot set (VERDICT r10 #7): the headline
    * families a 10×-real-shaped run either confirms the replica gate
    * model for or surprises — the 4-step sim pipeline (pair
    * explosion), its ranking tail, the broadcast star joins, the
    * minhash chain, and both ANN serve families. */
  val SpotSet: Seq[String] = Seq(
    "q_vector_pipeline", "q_movies_pipeline", "q_topk_neighbors",
    "q_sim_pearson", "q_agg_pricing_summary", "q_ship_priority",
    "q_join_broadcast_dims", "q_minhash_near_dup", "q_ann_ivf",
    "q_ann_graph", "q_top_bigrams", "q_token_entropy",
    // round-12: the rec-serve family prices its fan-out caps here
    // (neighbor fan-out ≤ 10·rated-items; ILS pair join ≤ 45·items;
    // the incremental fold ∝ delta × affected-user postings)
    "q_rec_ils", "q_rec_serve_user", "q_rec_coverage",
    "q_rec_serve_incremental")

  private def f2(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))

  /** 1-min system load average, stamped into every recorded row so a
    * noisy-host measurement is visible in the artifact instead of
    * needing a hand re-measure (r15 verdict #1 — the
    * `pool_gb_at_start` discipline applied to the host). */
  private def loadAvg: Double =
    java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage

  /** Replica/scratch root: env override, else the launch cwd — the
    * same derivation Bench.repoDir uses (ADVICE r15: gate.sh's disk
    * check measures `$ROOT/target` while a hardcoded /root/repo here
    * would write somewhere else in any non-/root/repo checkout). */
  private def targetDir: String =
    sys.env.getOrElse("SPARK_GRAFT_REPO_DIR",
      sys.props.getOrElse("user.dir", ".")) + "/target"

  /** Bytes of session-materialized state (persist/localCheckpoint
    * blocks) currently in the block manager — the co-residency the
    * r14 postmortem measured distorting in-gate rows by up to 17×
    * (six queries' snapshots sharing one JVM storage pool push each
    * other to the disk tier; on a cluster the pool is per-executor
    * and this interference doesn't exist). Public DeveloperApi. */
  private def cachedBytes(s: SparkSession): Long =
    s.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum

  /** Storage budget (bytes) above which the sweep ROLLS the session
    * before the next query (r14 verdict #1: budget gate chunks by
    * measured snapshot bytes). Default: half the heap — the point
    * where MEMORY_AND_DISK snapshots start evicting each other on
    * this single JVM. Override: SPARK_GRAFT_GATE_STORAGE_BUDGET_GB. */
  private def storageBudget: Long =
    sys.env.get("SPARK_GRAFT_GATE_STORAGE_BUDGET_GB")
      .map(g => (g.toDouble * (1L << 30)).toLong)
      .getOrElse(Runtime.getRuntime.maxMemory / 2)

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = args.drop(1).headOption.map(_.toInt).getOrElse(10)
    // optional: an explicit query subset (args 3+) — the 30×
    // deep-gate runs two families, not the whole 42-row table;
    // "--fullstar" replicates the WHOLE star schema (not just
    // documents/embeddings/events) and defaults to the SpotSet
    val fullStar = args.contains("--fullstar")
    val force = args.contains("--force")
    val rest = args.drop(2)
      .filterNot(a => a == "--fullstar" || a == "--force").toSeq
    val gate = if (rest.nonEmpty) rest
               else if (fullStar) SpotSet else Gate
    // Fail fast on heap: this is a single JVM standing in for a
    // cluster, so the whole replicated working set lands on one heap.
    // Empirical anchors (PLANS.md round-11): 10× fullstar fits 16 GiB
    // (the model must NOT block that known-good run); 30× fullstar
    // OOM-killed 16 GiB (exit 52) and ran at 80 GiB. Linear model
    // through the anchors: fullstar ≈ 1.6 GiB/replica-factor,
    // docs-only ≈ 0.8 — a deliberate floor, not a guarantee: a run
    // admitted here can still OOM, but the 16-GiB-at-30× repeat is
    // caught with the exact knob in the message.
    val needGiB = math.max(8.0, factor * (if (fullStar) 1.6 else 0.8))
    val haveGiB = Runtime.getRuntime.maxMemory / (1024.0 * 1024 * 1024)
    // 5% tolerance: Runtime.maxMemory reports slightly under -Xmx on
    // most collectors (survivor-region accounting), and the model's
    // 10×-fullstar anchor lands EXACTLY on 16 GiB — a strict compare
    // would block the documented known-good run with an
    // un-actionable "relaunch with the value you already set"
    if (haveGiB < needGiB * 0.95 && !force) {
      System.err.println(
        f"ScaleGate: heap $haveGiB%.1f GiB < estimated need $needGiB%.0f " +
        f"GiB for factor=$factor${if (fullStar) " --fullstar" else ""}; " +
        f"relaunch with SPARK_DRIVER_MEM=${math.ceil(needGiB).toInt}g " +
        "(build.sbt javaOptions reads it) or pass --force.")
      sys.exit(52)
    }
    val out = if (fullStar) s"$targetDir/scalefull$factor"
              else s"$targetDir/scale$factor"
    def session(): SparkSession = {
      val s = graft.core.Tuning.builder().getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }
    val build = session()
    if (fullStar) buildReplicaFull(build, base, out, factor)
    else buildReplica(build, base, out, factor)
    // fresh session per dir: session caches (Cache.getOrPersist) key on
    // (session, dir), so one long session would hold both corpora in
    // memory and distort the second sweep
    build.stop()
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()

    // Storage-budgeted sweep (r14 verdict #1): before each query,
    // if the session's materialized state exceeds the budget, ROLL
    // the session — the next query rebuilds what it needs instead of
    // timing its warm run against a pool crowded by six other
    // queries' snapshots (the co-residency that read q_ship_priority
    // at 38.9× in-gate vs 2.3× solo). Every recorded row carries the
    // pool bytes it actually ran against, so a crowded row is visible
    // in the artifact instead of needing a hand-run re-measure.
    // (graded sec, pool GB at start, 1-min load at start) per query
    def sweep(dir: String): Map[String, (Double, Double, Double)] = {
      var s = session()
      val budget = storageBudget
      val times = gate.map { q =>
        val pooled = cachedBytes(s)
        if (pooled > budget) {
          System.err.println(f"[gate] rolling session before $q: " +
            f"${pooled / 1e9}%.1f GB cached > budget ${budget / 1e9}%.1f GB")
          println(s"""{"gate_roll":"$q","cached_gb":${f2(pooled / 1e9)}}""")
          s.stop()
          SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
          s = session()
        }
        val poolAtStart = cachedBytes(s)
        def once(): Double = {
          val t0 = System.nanoTime()
          SparkEntry.queries(q)(s, dir).count()
          (System.nanoTime() - t0) / 1e9
        }
        val load0 = loadAvg
        val first = once() // cold: codegen + cache fills
        val warm = once()
        println(s"""{"gate_row":"$q","dir":"$dir","cold_sec":${f2(first)},""" +
          s""""warm_sec":${f2(warm)},"pool_gb_at_start":${f2(poolAtStart / 1e9)},""" +
          s""""loadavg":${f2(load0)}}""")
        // materialized results: the warm pass scans a snapshot —
        // grade the build, or the memo hides the iteration's scaling
        q -> ((if (Materialized(q)) first else warm,
          poolAtStart / 1e9, load0))
      }.toMap
      s.stop()
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      times
    }
    val tBase = sweep(base)
    val tRep = sweep(out)
    // Final per-query lines in the GATE_rN.jsonl schema (r15 verdict
    // #6): diffable across rounds like CORRECTNESS/BENCH. per_row =
    // ratio/factor (the ×/row figure PLANS.md tables grade against);
    // pool_gb/loadavg are the SCALED leg's, where interference bites.
    gate.foreach { q =>
      val ratio = tRep(q)._1 / math.max(tBase(q)._1, 1e-9)
      println(s"""{"query":"$q","factor":$factor,""" +
        s""""base_sec":${f2(tBase(q)._1)},""" +
        s""""scaled_sec":${f2(tRep(q)._1)},"ratio":${f2(ratio)},""" +
        s""""per_row":${f2(ratio / factor)},""" +
        s""""pool_gb":${f2(tRep(q)._2)},"loadavg":${f2(tRep(q)._3)}}""")
    }
    val baseTot = tBase.values.map(_._1).sum
    val repTot = tRep.values.map(_._1).sum
    println(s"""{"gate":"scale$factor","base_total":${f2(baseTot)},""" +
      s""""x${factor}_total":${f2(repTot)},""" +
      s""""ratio":${f2(repTot / baseTot)}}""")
  }
}
