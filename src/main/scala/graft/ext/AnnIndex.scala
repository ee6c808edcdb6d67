package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persist / load / serve the ANN index artifacts — the missing half
  * of `q_ann_incremental`'s append-without-rebuild story: a real
  * vector deployment trains its quantizers once, WRITES the index
  * (FAISS `write_index` is the public shape), and serves reloaded
  * artifacts for weeks. The index is four parquet tables plus a
  * key/value meta table, all exactly the frames the in-session
  * serving paths already consume, so "load and serve" is the same
  * code path as "build and serve":
  *
  *  - `ivf_cells`    (cell_id, centroid)          — coarse quantizer,
  *                    O(cells) rows at any corpus size;
  *  - `ivf_codes`    (cell_id, vec_id, embedding, enrm) — the
  *                    inverted lists (the IVF-flat payload), written
  *                    PARTITIONED BY cell_id so a probe at 100 TB
  *                    reads only its cells' partitions; append-only
  *                    under incremental upkeep;
  *  - `pq_codebook`  (sub, cell_id, j, cv)        — per-subspace PQ
  *                    centroids, O(M·k·dsub) rows;
  *  - `pq_codes`     (vec_id, sub, code)          — the compressed
  *                    corpus codes, N×M small integers;
  *  - `sq_stats`     (pos, mn, mx)                — the int8 scalar
  *                    quantizer's training state, O(dims) rows;
  *  - `knn_graph`    (v, n)                        — the NSW-family
  *                    neighbor graph (top-K per vertex from the
  *                    capped LSH candidates), N×K rows, the artifact
  *                    the beam-search serve traverses;
  *  - `knn_graph_l1` (v, n)                        — the HNSW upper
  *                    layer: the same graph over the deterministic
  *                    vec_id%8 sample, N/8×K rows, the descend
  *                    entry-point layer;
  *  - `meta`         (key, value)                 — format version +
  *                    geometry constants, checked on load so a reader
  *                    can never silently decode against the wrong
  *                    codebook shape.
  */
object AnnIndex {
  val FormatVersion = 2

  case class Loaded(cells: DataFrame, codes: DataFrame,
                    pqCodebook: DataFrame, pqCodes: DataFrame,
                    sqStats: DataFrame, knnGraph: DataFrame,
                    knnGraphL1: DataFrame) {
    /** Broadcast-ready cell frame (cell_id, centroid, cnrm) — what
      * every assigned-serving path takes. */
    def cellsB: DataFrame = {
      broadcast(cells.select(col("cell_id"),
        col("centroid"),
        VectorSearch.fixedNormSq(col("centroid")).as("cnrm")))
    }
  }

  /** Build the full artifact set from a corpus (vec_id, embedding)
    * and a trained cell table, and write it under `path`. One job per
    * table; `ivf_codes` partitioned by cell_id. Overwrites any prior
    * index at the path. */
  def save(emb: DataFrame, cells: DataFrame, path: String): Unit = {
    val spark = emb.sparkSession
    import spark.implicits._
    val cellsB = broadcast(cells.select(col("cell_id"), col("centroid"),
      VectorSearch.fixedNormSq(col("centroid")).as("cnrm")))
    cells.select(col("cell_id"), col("centroid"))
      .write.mode("overwrite").parquet(s"$path/ivf_cells")
    VectorSearch.assignCells(emb, cellsB)
      .write.mode("overwrite").partitionBy("cell_id")
      .parquet(s"$path/ivf_codes")
    val pqCent = VectorSearch.pqTrain(emb)
    pqCent.write.mode("overwrite").parquet(s"$path/pq_codebook")
    VectorSearch.pqEncode(emb, pqCent)
      .write.mode("overwrite").parquet(s"$path/pq_codes")
    VectorSearch.sqStats(emb)
      .write.mode("overwrite").parquet(s"$path/sq_stats")
    VectorSearch.knnGraph(emb)
      .write.mode("overwrite").parquet(s"$path/knn_graph")
    VectorSearch.knnGraphL1(emb)
      .write.mode("overwrite").parquet(s"$path/knn_graph_l1")
    Seq(
      "format_version" -> FormatVersion.toString,
      "pq_subspaces" -> VectorSearch.PqSubspaces.toString,
      "pq_subdim" -> VectorSearch.PqSubDim.toString,
      "pq_codes" -> VectorSearch.PqCodes.toString
    ).toDF("key", "value")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Append new vectors to a saved index WITHOUT retraining: assign
    * against the stored (frozen) cells, append the inverted-list rows
    * and the PQ codes of only the arriving vectors — the
    * `q_ann_incremental` contract made durable. At 100 TB this pass
    * touches the delta plus two broadcast codebooks, never the stored
    * corpus. */
  def append(delta: DataFrame, path: String): Unit = {
    val spark = delta.sparkSession
    val ix = load(spark, path)
    VectorSearch.assignCells(delta, ix.cellsB)
      .write.mode("append").partitionBy("cell_id")
      .parquet(s"$path/ivf_codes")
    VectorSearch.pqEncode(delta, broadcast(ix.pqCodebook))
      .write.mode("append").parquet(s"$path/pq_codes")
  }

  /** Idempotent MICRO-BATCH ingest: batch `batchId`'s inverted-list
    * rows and PQ codes land in their own `batch=<id>` directories
    * with overwrite mode —
    * [[graft.streaming.StreamOps.idempotentBatchSink]]'s
    * (batchId, overwrite) recipe applied to index upkeep, so a
    * REDELIVERED batch (crash after the offset write, before the
    * commit — Structured Streaming's documented at-least-once sink
    * window) overwrites itself instead of double-inserting vectors.
    * Assignment/encoding use the FROZEN stored quantizers, like
    * [[append]]. */
  def appendBatch(delta: DataFrame, path: String, batchId: Long): Unit = {
    // an empty micro-batch (e.g. a newly arrived zero-row file) must
    // not write a delta dir of bare _SUCCESS markers: deltaUnion's
    // existence check would then pass but the parquet read would fail
    // schema inference, breaking load() for the serving path
    if (delta.isEmpty) return
    val spark = delta.sparkSession
    val ix = load(spark, path)
    VectorSearch.assignCells(delta, ix.cellsB)
      .write.mode("overwrite").partitionBy("cell_id")
      .parquet(s"$path/delta_codes/batch=$batchId")
    VectorSearch.pqEncode(delta, broadcast(ix.pqCodebook))
      .write.mode("overwrite").parquet(s"$path/delta_pq/batch=$batchId")
  }

  /** Streaming index upkeep: every micro-batch of (vec_id, embedding)
    * rows is appended exactly-once via [[appendBatch]]; [[load]]
    * unions the delta directories into the served tables. Graph
    * linking deliberately stays a PERIODIC compaction
    * ([[appendGraph]]) rather than per-batch work — HNSW deployments
    * batch back-link maintenance the same way, and the IVF path
    * serves arriving vectors immediately without it. */
  def streamAppend(deltas: DataFrame, path: String, ckpt: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    deltas.writeStream
      .foreachBatch {
        (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
         batchId: Long) => appendBatch(df.toDF(), path, batchId)
      }
      .option("checkpointLocation", ckpt)
      .start()

  /** Append new vectors to the saved NSW graph WITHOUT rebuilding:
    * re-band the stored corpus plus the delta (one scan — bands are
    * per-vector, so this is a linear pass, and the bucket caps bound
    * the pair work exactly as in the full build), keep only candidate
    * pairs touching a delta vector, cut the delta side to top-K
    * out-edges, and append BOTH directions. The reverse edges push
    * some existing vertices past K out-degree — deliberately: HNSW
    * insertion does the same (unpruned back-links, pruned at the next
    * compaction), and without them the beam could never REACH a delta
    * vector. Call after [[append]] so the inverted lists already
    * carry the delta rows. */
  def appendGraph(delta: DataFrame, path: String): Unit = {
    val spark = delta.sparkSession
    val deltaIds = broadcast(delta.select(col("vec_id").as("did")))
    // anti-join the delta out of the stored lists before re-unioning:
    // the documented call order (after [[append]]) means ivf_codes
    // already carries the delta, and duplicated rows would inflate
    // LSH buckets toward the cap AND burn top-K out-degree slots on
    // duplicate (v, n) pairs
    val stored = spark.read.parquet(s"$path/ivf_codes")
      .select(col("vec_id"), col("embedding"))
      .join(deltaIds, col("vec_id") === col("did"), "left_anti")
    val union = stored.unionByName(
      delta.select(col("vec_id"), col("embedding")))
    val pc = VectorSearch.bandedPairCosine(union,
      VectorSearch.GraphBands, VectorSearch.GraphBandBits)
    val touching = pc
      .join(deltaIds, pc("v1") === col("did") || pc("v2") === col("did"),
        "left_semi")
    // orient every touching pair delta-first, cut delta out-degree
    val sym = touching
      .select(col("v1").as("v"), col("v2").as("n"), col("cos_sim"))
      .unionByName(touching
        .select(col("v2").as("v"), col("v1").as("n"), col("cos_sim")))
      .join(deltaIds.withColumnRenamed("did", "v"), Seq("v"), "left_semi")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("v")).orderBy(col("cos_sim").desc, col("n"))
    val out = sym.withColumn("rn", row_number().over(w))
      .where(col("rn") <= VectorSearch.GraphK)
      .select(col("v"), col("n"))
    // distinct: when BOTH endpoints of a candidate pair are delta
    // vectors, `out` can carry both orientations (d1→d2 and d2→d1),
    // and the reverse union would then append each such edge twice —
    // serving is unaffected (beam candidates are distinct()'d) but
    // the stored graph and its ≤2·K·nq row bound would be inflated
    out.unionByName(out.select(col("n").as("v"), col("v").as("n")))
      .distinct()
      .write.mode("append").parquet(s"$path/knn_graph")
  }

  /** Union a base artifact with its streaming-ingest delta directory
    * when one exists: `batch` is upkeep metadata (dropped), `cell_id`
    * pinned back to the writer's LONG like the base read. Existence
    * goes through the Hadoop FS API so the check works on whatever
    * filesystem the index lives on, not just local disk. */
  private def deltaUnion(spark: SparkSession, base: DataFrame,
                         dir: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    // a dir holding only _SUCCESS/metadata (a zero-row batch written
    // by an older build) must read as "no delta", not break schema
    // inference for every subsequent serve; hidden DIRECTORIES
    // (_temporary from a crashed write) are skipped for the same
    // reason — their contents are invisible to the parquet reader
    def hasData(q: org.apache.hadoop.fs.Path): Boolean =
      fs.listStatus(q).exists { st =>
        val n = st.getPath.getName
        if (n.startsWith("_") || n.startsWith(".")) false
        else if (st.isDirectory) hasData(st.getPath)
        else true
      }
    if (!fs.exists(p) || !hasData(p)) base
    else {
      val d0 = spark.read.parquet(dir).drop("batch")
      val d = if (d0.columns.contains("cell_id"))
        d0.withColumn("cell_id", col("cell_id").cast("long")) else d0
      base.unionByName(d.select(base.columns.map(col).toIndexedSeq: _*))
    }
  }

  /** Load a saved index. Fails fast on a format/geometry mismatch —
    * decoding 4-code vectors against an 8-subspace codebook must be
    * impossible, not wrong. */
  def load(spark: SparkSession, path: String): Loaded = {
    val meta = spark.read.parquet(s"$path/meta")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    require(meta.get("format_version").contains(FormatVersion.toString),
      s"ann index at $path: format ${meta.get("format_version")}, " +
        s"reader supports $FormatVersion")
    require(meta.get("pq_subspaces")
        .contains(VectorSearch.PqSubspaces.toString) &&
      meta.get("pq_subdim").contains(VectorSearch.PqSubDim.toString),
      s"ann index at $path: PQ geometry " +
        s"${meta.view.filterKeys(_.startsWith("pq_")).toMap} " +
        "does not match this build")
    Loaded(
      cells = spark.read.parquet(s"$path/ivf_cells"),
      // cell_id is a directory-partition column on disk; partition
      // inference types it INT — pin it back to the writer's LONG so
      // joins against the cell table never carry an implicit cast.
      codes = deltaUnion(spark,
        spark.read.parquet(s"$path/ivf_codes")
          .withColumn("cell_id", col("cell_id").cast("long")),
        s"$path/delta_codes"),
      pqCodebook = spark.read.parquet(s"$path/pq_codebook"),
      pqCodes = deltaUnion(spark,
        spark.read.parquet(s"$path/pq_codes"), s"$path/delta_pq"),
      sqStats = spark.read.parquet(s"$path/sq_stats"),
      knnGraph = spark.read.parquet(s"$path/knn_graph"),
      knnGraphL1 = spark.read.parquet(s"$path/knn_graph_l1"))
  }

  /** Serve the composed IVF→PQ stack from a LOADED index: IVF
    * shortlist (exact cosine over probed inverted lists) → PQ-ADC
    * re-rank — identical plan shapes to the session-built
    * `q_ann_ivf_pq`, with every build input replaced by a stored
    * table. */
  def ivfPqTopK(ix: Loaded, queries: DataFrame, queryKey: String,
                queryVec: String, k: Int, nProbe: Int,
                shortlistK: Int): DataFrame = {
    val shortlist = VectorSearch.ivfTopKFromAssigned(
        ix.codes, ix.cellsB, queries, queryKey, queryVec,
        shortlistK, nProbe)
      .select(col(queryKey), col("vec_id"))
    VectorSearch.pqAdcRerank(shortlist,
      queries.select(col(queryKey).as("vec_id"),
        col(queryVec).as("embedding")),
      ix.pqCodebook, ix.pqCodes, queryKey, k)
  }

  /** Serve the NSW-family beam search from a LOADED index: the graph
    * table and the inverted-list rows (which carry the full vectors
    * for exact scoring) replace the session-built artifacts. */
  def graphTopK(ix: Loaded, queries: DataFrame, queryKey: String,
                queryVec: String, k: Int): DataFrame =
    VectorSearch.graphTopK(ix.knnGraph,
      ix.codes.select(col("vec_id"), col("embedding")),
      queries, queryKey, queryVec, k)

  /** Serve the two-layer HNSW descent from a LOADED index: both
    * graph layers come off disk; the inverted-list rows carry the
    * vectors for exact scoring on both layers. */
  def hnswTopK(ix: Loaded, queries: DataFrame, queryKey: String,
               queryVec: String, k: Int): DataFrame =
    VectorSearch.hnswTopK(ix.knnGraph, ix.knnGraphL1,
      ix.codes.select(col("vec_id"), col("embedding")),
      queries, queryKey, queryVec, k)
}
