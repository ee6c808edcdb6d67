package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.PortableHash

/** Deduplication operators for a large-scale training-data pipeline:
  * exact (hash-groupBy), MinHash+LSH banding, SimHash with pigeonhole
  * blocking, and exact n-gram Jaccard over LSH candidates.
  *
  * The reference repo has no dedup surface; these extend it per the
  * BASELINE.json north star. Design rules:
  *  - never compare all N² documents: candidates come from LSH band
  *    buckets (minhash) or 8-bit pigeonhole blocks (simhash), both of
  *    which shuffle on small keys and stay sub-quadratic at 100 TB;
  *  - all hashes are [[PortableHash]] arithmetic so the DuckDB oracle
  *    reproduces them bit-for-bit; swap in xxhash64 for production.
  */
object Dedup {
  val Bands = 8
  // 32-bit signatures in 8-bit blocks: a 16/4 split leaves only
  // 4·16 = 64 distinct (block, value) join keys, so every bucket holds
  // ~|docs|/16 rows and the candidate join goes quadratic. 8-bit
  // blocks give 4·256 keys — ~16× smaller buckets, ~256× fewer
  // candidate pairs — while the pigeonhole argument (dist ≤ 3 < 4
  // blocks ⇒ some block equal) still guarantees completeness.
  val SimhashBits = 32
  val SimhashBlocks = 4
  val SimhashBlockBase = 1 << (SimhashBits / SimhashBlocks)

  /** Normalization used by the exact-dup queries: the first k words.
    * (The synthetic corpus has no full-text duplicates; prefix
    * normalization is the stand-in for e.g. lowercased/stripped text.) */
  def normPrefix(text: Column, k: Int): Column =
    array_join(slice(split(text, " "), 1, k), " ")

  /** Exact duplicate groups by sha2-256 of the normalized text.
    * Output: sig, cnt, min_doc, max_doc for groups with cnt > 1. */
  def exactDupGroups(docs: DataFrame, norm: Column): DataFrame =
    docs.groupBy(sha2(norm, 256).as("sig"))
      .agg(count(lit(1)).as("cnt"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .where(col("cnt") > 1)

  /** Keep-first dedup: every doc that shares a signature with an
    * earlier (lower doc_id) doc, with its keeper. */
  def dropDuplicatesKeepFirst(docs: DataFrame, norm: Column): DataFrame = {
    val sigs = docs.select(col("doc_id"), sha2(norm, 256).as("sig"))
    val keepers = sigs.groupBy(col("sig")).agg(min(col("doc_id")).as("keeper"))
    sigs.join(keepers, Seq("sig"))
      .where(col("doc_id") =!= col("keeper"))
      .select(col("doc_id"), col("keeper"), col("sig"))
  }

  /** Word n-gram shingles, one row per (doc_id, shingle). Documents
    * with fewer than n words produce no rows. */
  def shingles(docs: DataFrame, n: Int = 3): DataFrame = {
    val ws = split(col("text"), " ")
    val sh = transform(
      sequence(lit(1), size(ws) - lit(n - 1)),
      i => concat_ws(" ", (0 until n).map(o => element_at(ws, i + lit(o))): _*))
    docs.where(size(ws) >= n)
      .select(col("doc_id"), explode(sh).as("shingle"))
  }

  /** SQL twin of [[shingles]] as a CTE over `documents` (n=3). */
  val shinglesSql: String =
    """ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |shingles AS (
      |  SELECT doc_id,
      |         unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
      |                 FOR i IN range(1, len(w)-1)]) AS shingle
      |  FROM ws WHERE len(w) >= 3
      |)""".stripMargin

  /** Saturation-escalating document-frequency cap (r13 verdict #3/#7).
    *
    * The DF-capped pair joins (q_doc_similarity's term self-join,
    * q_split_leakage's rare-shingle join) were tuned with FIXED caps
    * at sf0.01; on a corpus whose df distribution shifts far enough
    * (the 100× replica gate: every base term's df multiplies by the
    * replica factor) a fixed cap silently excludes ~all pair mass —
    * the cap "works" and the signal is gone. This derives the cap
    * from the measured df distribution instead, with the tuned cap as
    * the non-escalated base:
    *
    *   - saturation test: the fixed cap keeps < 5% of the corpus's
    *     total pair mass Σ_t C(df_t, 2) (exact integer arithmetic:
    *     20·fixed_pairs < total_pairs);
    *   - only when saturated, escalate to the largest cap c whose
    *     cumulative fan-out Σ_{df≤c} n(df)·C(df,2) fits the budget
    *     `budgetPerDoc · n_docs` (the capacity rule a 100 TB run
    *     plans the pair stage with), never below the fixed cap.
    *
    * Returns ONE row `(cap_used, cap_saturated, capped_frac)` that
    * callers broadcast onto the df filter AND surface on their output
    * (the serve-time visibility the r13 audit lacked). The histogram
    * frame is dimension-sized (distinct df values), so the cumsum
    * window's single partition is fine at any corpus size. SQL twin:
    * [[dfCapStatsSql]].
    */
  def dfCapStats(tdf: DataFrame, nDocs: DataFrame, fixedCap: Int,
                 budgetPerDoc: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // C(df,2) in pure LONG arithmetic (df·(df−1) is even → exact shift)
    val hist = tdf.groupBy(col("df"))
      .agg(count(lit(1)).as("nt"))
      .withColumn("fan",
        col("nt") * shiftright(col("df") * (col("df") - 1), 1))
    val wc = Window.orderBy(col("df"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist.withColumn("cum", sum(col("fan")).over(wc))
      .localCheckpoint(true) // dim-sized; feeds three consumers below
    val tot = cum.agg(
      coalesce(sum(col("fan")), lit(0L)).as("total_pairs"),
      coalesce(sum(when(col("df") <= fixedCap, col("fan"))
        .otherwise(lit(0L))), lit(0L)).as("fixed_pairs"))
    val bsel = cum
      .crossJoin(nDocs.select(col("n_docs")))
      .where(col("cum") <= lit(budgetPerDoc.toLong) * col("n_docs"))
      .agg(max(col("df")).as("bcap"))
    val capF = tot.crossJoin(bsel).select(
      when(col("fixed_pairs") * 20 >= col("total_pairs"),
        lit(fixedCap.toLong))
        .otherwise(greatest(coalesce(col("bcap"), lit(fixedCap.toLong)),
          lit(fixedCap.toLong))).as("cap_used"),
      (col("fixed_pairs") * 20 < col("total_pairs")).cast("long")
        .as("cap_saturated"),
      col("total_pairs"))
    // kept mass under the SELECTED cap → the serve-time capped_frac
    cum.crossJoin(capF)
      .agg(max(col("cap_used")).as("cap_used"),
        max(col("cap_saturated")).as("cap_saturated"),
        max(col("total_pairs")).as("total_pairs"),
        coalesce(sum(when(col("df") <= col("cap_used"), col("fan"))
          .otherwise(lit(0L))), lit(0L)).as("kept_pairs"))
      .select(
        coalesce(col("cap_used"), lit(fixedCap.toLong)).as("cap_used"),
        coalesce(col("cap_saturated"), lit(0L)).as("cap_saturated"),
        graft.core.Det.r4(when(
          coalesce(col("total_pairs"), lit(0L)) === 0L, lit(1.0))
          .otherwise(col("kept_pairs").cast("double") /
            col("total_pairs").cast("double"))).as("capped_frac"))
  }

  /** DuckDB twin of [[dfCapStats]] as CTEs ending in `capstats`
    * (cap_used, cap_saturated, capped_frac). `dfCte` must expose a
    * BIGINT `df` column; `r4` is the caller's rounding twin. */
  def dfCapStatsSql(dfCte: String, fixedCap: Int, budgetPerDoc: Int,
                    r4: String => String): String =
    s"""hist AS (SELECT df, CAST(count(*) AS BIGINT) AS nt
       |         FROM $dfCte GROUP BY 1),
       |cum AS (SELECT df, CAST(nt*(df*(df-1)//2) AS BIGINT) AS fan,
       |        CAST(sum(nt*(df*(df-1)//2)) OVER (ORDER BY df)
       |          AS BIGINT) AS cum
       |        FROM hist),
       |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
       |tot AS (SELECT CAST(coalesce(sum(fan), 0) AS BIGINT)
       |          AS total_pairs,
       |        CAST(coalesce(sum(CASE WHEN df <= $fixedCap THEN fan
       |          ELSE 0 END), 0) AS BIGINT) AS fixed_pairs
       |        FROM cum),
       |bsel AS (SELECT max(df) AS bcap FROM cum, nd
       |         WHERE cum <= $budgetPerDoc*n_docs),
       |capf AS (SELECT CAST(CASE
       |           WHEN 20*fixed_pairs >= total_pairs THEN $fixedCap
       |           WHEN bcap IS NULL OR bcap < $fixedCap THEN $fixedCap
       |           ELSE bcap END AS BIGINT) AS cap_used,
       |         CAST(CASE WHEN 20*fixed_pairs < total_pairs THEN 1
       |           ELSE 0 END AS BIGINT) AS cap_saturated,
       |         total_pairs FROM tot, bsel),
       |capstats AS (SELECT cap_used, cap_saturated,
       |         ${r4("CASE WHEN total_pairs = 0 THEN 1.0 ELSE " +
                "CAST((SELECT coalesce(sum(fan), 0) FROM cum " +
                "WHERE df <= cap_used) AS DOUBLE) " +
                "/ CAST(total_pairs AS DOUBLE) END")} AS capped_frac
       |         FROM capf)""".stripMargin

  /** LSH bucket-cap read-out (r14 verdict #6): ONE row
    * `(cap_used, cap_saturated, capped_frac, hot_buckets)` over the
    * band-bucket SIZE distribution — the [[dfCapStats]] visibility
    * discipline applied to [[MinhashBucketCap]]. Pair mass per bucket
    * is C(sz,2); `capped_frac` = kept mass / total mass, and
    * `cap_saturated` trips when the cap keeps < 5% of the corpus's
    * LSH pair mass (same 20× integer rule as dfCapStats).
    *
    * Unlike the DF cap, the bucket cap does NOT auto-escalate:
    * raising it grows the within-bucket quadratic the cap exists to
    * bound, and the engine already ships the structural escalation —
    * [[minhashRescueCandidates]] re-bands the over-cap population
    * under a disjoint permutation family. What the serve needs is to
    * SEE saturation (so a deploy sizes the rescue pass or routes the
    * residue to exact rescoring) instead of inferring it from a
    * silently thin candidate set. The frame is bucket-histogram-sized
    * (one row per distinct (b, mh)), aggregated to one row — fine at
    * any corpus scale. SQL twin: [[bucketCapStatsSql]].
    */
  def bucketCapStats(bandMins: DataFrame, cap: Int): DataFrame = {
    import graft.core.Det
    val sizes = bandMins.groupBy(col("b"), col("mh"))
      .agg(count(lit(1)).as("sz"))
    // C(sz,2) in pure LONG arithmetic (sz·(sz−1) is even → exact shift)
    sizes.withColumn("fan",
        shiftright(col("sz") * (col("sz") - 1), 1))
      .agg(
        coalesce(sum(col("fan")), lit(0L)).as("total_pairs"),
        coalesce(sum(when(col("sz") <= cap, col("fan"))
          .otherwise(lit(0L))), lit(0L)).as("kept_pairs"),
        coalesce(sum(when(col("sz") > cap, lit(1L)).otherwise(lit(0L))),
          lit(0L)).as("hot_buckets"))
      .select(
        lit(cap.toLong).as("cap_used"),
        (col("kept_pairs") * 20 < col("total_pairs")).cast("long")
          .as("cap_saturated"),
        Det.r4(when(col("total_pairs") === 0L, lit(1.0))
          .otherwise(col("kept_pairs").cast("double") /
            col("total_pairs").cast("double"))).as("capped_frac"),
        col("hot_buckets"))
  }

  /** DuckDB twin of [[bucketCapStats]] as CTEs ending in
    * `bucketstats` (cap_used, cap_saturated, capped_frac,
    * hot_buckets). `bandMinsCte` must expose (b, mh) one row per
    * (doc, band); `r4` is the caller's rounding twin. */
  def bucketCapStatsSql(bandMinsCte: String, cap: Int,
                        r4: String => String): String =
    s"""bsz AS (SELECT b, mh, CAST(count(*) AS BIGINT) AS sz
       |        FROM $bandMinsCte GROUP BY 1, 2),
       |bagg AS (SELECT
       |    CAST(coalesce(sum(sz*(sz-1)//2), 0) AS BIGINT) AS total_pairs,
       |    CAST(coalesce(sum(CASE WHEN sz <= $cap THEN sz*(sz-1)//2
       |      ELSE 0 END), 0) AS BIGINT) AS kept_pairs,
       |    CAST(coalesce(sum(CASE WHEN sz > $cap THEN 1 ELSE 0 END), 0)
       |      AS BIGINT) AS hot_buckets
       |    FROM bsz),
       |bucketstats AS (SELECT CAST($cap AS BIGINT) AS cap_used,
       |    CAST(CASE WHEN kept_pairs*20 < total_pairs THEN 1 ELSE 0 END
       |      AS BIGINT) AS cap_saturated,
       |    ${r4("CASE WHEN total_pairs = 0 THEN 1.0 ELSE " +
              "CAST(kept_pairs AS DOUBLE)/CAST(total_pairs AS DOUBLE) " +
              "END")} AS capped_frac,
       |    hot_buckets FROM bagg)""".stripMargin

  /** Fixed-length character windows with a stride (the exact-substring
    * dedup unit of Lee et al.'s "Deduplicating Training Data Makes
    * Language Models Better" — suffix-array ExactSubstr, approximated
    * here by strided windows, the shape a distributed engine can group
    * on): one row per (doc_id, window string). Documents shorter than
    * `w` produce no rows. The fanout is computed per-row (`sequence` +
    * `transform` + `explode`) and never shuffles.
    *
    * Grouping downstream is on the RAW window string so the semantics
    * are exact (no collision caveat); a 100 TB run groups on a 128-bit
    * hash of the window instead (xxhash64 pair / sha2-128) — same
    * plan, 8–16 bytes per key instead of `w` chars. */
  def textWindows(docs: DataFrame, w: Int = 40, stride: Int = 10): DataFrame =
    docs.where(length(col("text")) >= w)
      .select(col("doc_id"),
        explode(transform(
          sequence(lit(0), expr(s"(length(text) - $w) div $stride")),
          i => col("text").substr(i * lit(stride) + 1, lit(w))))
          .as("wstr"))

  /** SQL twin of [[textWindows]] as a CTE over `documents`: emits
    * `wins(doc_id, wstr)` (w=40, stride=10). */
  val textWindowsSql: String =
    """wspan AS (
      |  SELECT doc_id, text,
      |         unnest(generate_series(0, (length(text)-40)//10)) AS i
      |  FROM documents WHERE length(text) >= 40),
      |wins AS (
      |  SELECT doc_id, substr(text, i*10 + 1, 40) AS wstr FROM wspan)"""
      .stripMargin

  /** Content-defined chunking (LBFS/FastCDC family, Muthitacharoen
    * et al. 2001): a chunk boundary lands at every position whose
    * 5-char rolling window hashes to 0 mod [[CdcMod]], so an
    * insertion only re-cuts the chunks it touches — the property the
    * fixed-stride [[textWindows]] lacks (one inserted char shifts
    * every later window). Emits one row per (doc_id, lo, chunk).
    * Boundary positions run 2..len−4 (position 1 is the implicit
    * first chunk start; windows stay full 5 chars); the per-row
    * fan-out is sequence+filter+explode — scan-parallel, no shuffle.
    * Expected chunk length ≈ CdcMod chars. The hash is the portable
    * window hash, so DuckDB cuts IDENTICAL boundaries. */
  val CdcMod = 64
  def contentChunks(docs: DataFrame): DataFrame = {
    import graft.core.PortableHash
    val len = length(col("text"))
    // boundary ARRAY per doc, chunks cut per row — zero shuffle (the
    // first draft lead()-windowed over exploded boundary rows, which
    // shuffled each doc's full text once PER boundary: a ~CdcMod×
    // write amplification the per-row transform avoids entirely).
    // The window hash runs once per CHAR — the native codegen'd
    // graft_hash (bit-identical to PortableHash.h, ExprSpec-asserted)
    // instead of the composed 6-op Column form.
    val bnds = concat(array(lit(1)),
      when(len >= 6,
        filter(sequence(lit(2), len - 4), i =>
          PortableHash.spread(call_function("graft_hash",
            col("text").substr(i, lit(5)))) % CdcMod === 0))
        .otherwise(array().cast("array<int>")))
    docs
      .select(col("doc_id"), col("text"), len.as("len"), bnds.as("bnds"))
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("bnds"))), j =>
          struct(element_at(col("bnds"), j).as("lo"),
            col("text").substr(element_at(col("bnds"), j),
              coalesce(try_element_at(col("bnds"), j + lit(1)),
                col("len") + 1) - element_at(col("bnds"), j))
              .as("chunk")))).as("c"))
      .select(col("doc_id"), col("c.lo").cast("int").as("lo"),
        col("c.chunk").as("chunk"))
  }

  /** SQL twin of [[contentChunks]]: emits `cdc(doc_id, lo, chunk)`. */
  lazy val contentChunksSql: String = {
    import graft.core.PortableHash
    val bh = PortableHash.spreadSql(PortableHash.hSql(
      "substr(text, CAST(i AS INTEGER), 5)"))
    s"""clen AS (
       |  SELECT doc_id, text, length(text) AS len FROM documents),
       |cbnd AS (
       |  SELECT doc_id, text, len, 1 AS lo FROM clen
       |  UNION ALL
       |  SELECT doc_id, text, len, CAST(i AS INTEGER) AS lo
       |  FROM clen, unnest(range(2, greatest(len - 4, 1) + 1)) AS t(i)
       |  WHERE len >= 6 AND ($bh) % $CdcMod = 0),
       |cdc AS (
       |  SELECT doc_id, lo,
       |         substr(text, lo,
       |           coalesce(lead(lo) OVER (PARTITION BY doc_id
       |                                   ORDER BY lo), len + 1) - lo)
       |           AS chunk
       |  FROM cbnd)""".stripMargin
  }

  /** (doc_id, h) shingle-hash projection: the ONLY columns the whole
    * minhash chain (band minima, candidates, rescue) needs. Callers
    * that cache the chain's input should cache THIS frame, not the
    * string shingles — at 100 TB the strings dominate the cache (a
    * 3-word shingle averages ~20 bytes vs one 8-byte long), and only
    * [[ngramJaccard]]'s exact rescoring ever reads them again. */
  def shingleHashes(sh: DataFrame): DataFrame = {
    // native single-pass hash expression (codegen'd); bit-identical to
    // PortableHash.h — see graft.expr.PortableHashExpr
    sh.select(col("doc_id"), call_function("graft_hash", col("shingle")).as("h"))
  }

  /** MinHash band minima in long form for the permutation family
    * [bandLo, bandLo+nBands): (doc_id, b, mh) with b the ABSOLUTE
    * band index and mh = min over the doc's shingle hashes of
    * bandHash(h, b). Input is the [[shingleHashes]] shape (doc_id, h).
    * One aggregation computes all band minima (no band explosion);
    * stack unpivots the columns afterwards — at that point the frame
    * is one row per doc. `bandLo = Bands` yields the disjoint second
    * family [[minhashRescueCandidates]] re-bands hot docs with. */
  def minhashBandMinsFromHashes(hashes: DataFrame, bandLo: Int,
                                nBands: Int): DataFrame = {
    val h = col("h")
    val bands = bandLo until (bandLo + nBands)
    val aggs = bands.map(b => min(PortableHash.bandHash(h, b)).as(s"m$b"))
    val sig = hashes.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
    val stackArgs = bands
      .map(b => s"CAST($b AS BIGINT), CAST(m$b AS BIGINT)").mkString(", ")
    sig.select(col("doc_id"),
      expr(s"stack($nBands, $stackArgs)").as(Seq("b", "mh")))
  }

  /** [[minhashBandMinsFromHashes]] over raw (doc_id, shingle) rows —
    * hashes projected inline (convenience for one-shot callers). */
  def minhashBandMinsFrom(sh: DataFrame, bandLo: Int,
                          nBands: Int): DataFrame =
    minhashBandMinsFromHashes(shingleHashes(sh), bandLo, nBands)

  /** Primary-family band minima (bands 0..Bands-1). */
  def minhashBandMins(sh: DataFrame): DataFrame =
    minhashBandMinsFrom(sh, 0, Bands)

  /** SQL twin of [[minhashBandMinsFrom]]: CTEs `<sigName>` and
    * `<outName>` over the shingle CTE `src` (doc_id, shingle). */
  def bandMinsSqlFrom(src: String, sigName: String, outName: String,
                      bandLo: Int, nBands: Int): String = {
    val h = PortableHash.hSql("shingle")
    val bands = bandLo until (bandLo + nBands)
    val mins = bands
      .map(b => s"min(${PortableHash.bandHashSql(h, b)}) AS m$b").mkString(", ")
    val unions = bands
      .map(b => s"SELECT doc_id, CAST($b AS BIGINT) AS b, CAST(m$b AS BIGINT) AS mh FROM $sigName")
      .mkString(" UNION ALL ")
    s"""$sigName AS (SELECT doc_id, $mins FROM $src GROUP BY 1),
       |$outName AS ($unions)""".stripMargin
  }

  /** SQL twin of [[minhashBandMins]] (CTEs `sig`, `bandmins`). */
  val minhashBandMinsSql: String =
    bandMinsSqlFrom("shingles", "sig", "bandmins", 0, Bands)

  /** Band buckets above this size are excluded from pair generation:
    * boilerplate-heavy corpora concentrate on a few (b, mh) keys, and
    * a hot bucket goes quadratic WITHIN the bucket — AQE can split the
    * partition but cannot shrink the pair count.
    *
    * Recall trade-off (be honest about it): members of an over-cap
    * bucket share only that band's MINIMUM — one hot shingle — not
    * near-identity, and every dropped bucket also lowers the agreeing-
    * band count of its pairs, which can push true near-dups below
    * [[ngramJaccard]] callers' ≥2-band gate. Exact-hash dedup covers
    * only fully-identical text, not these. [[minhashRescueCandidates]]
    * IS that re-band pass (disjoint permutation family over the hot
    * population); [[minhashOverCapBuckets]] is the monitoring surface
    * for sizing it. */
  val MinhashBucketCap = 200

  /** (b, mh, sz) for band buckets over the cap. */
  def minhashOverCapBuckets(bandMins: DataFrame,
                            cap: Int = MinhashBucketCap): DataFrame =
    bandMins.groupBy(col("b"), col("mh")).agg(count(lit(1)).as("sz"))
      .where(col("sz") > cap)

  /** LSH candidate pairs: docs sharing a band minimum, with the count
    * of agreeing bands (a cheap Jaccard proxy). Shuffles on (b, mh) —
    * bucket keys, never doc pairs — so it scales with bucket sizes;
    * buckets above `cap` are dropped (see [[MinhashBucketCap]]). */
  def minhashCandidates(bandMins: DataFrame,
                        cap: Int = MinhashBucketCap): DataFrame = {
    val ok = bandMins.groupBy(col("b"), col("mh"))
      .agg(count(lit(1)).as("sz"))
      .where(col("sz") <= cap)
      .select(col("b"), col("mh"))
    val kept = bandMins.join(ok, Seq("b", "mh"))
    val a = kept.select(col("doc_id").as("d1"), col("b"), col("mh"))
    val b2 = kept.select(col("doc_id").as("d2"), col("b"), col("mh"))
    a.join(b2, Seq("b", "mh")).where(col("d1") < col("d2"))
      .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("bands"))
  }

  /** The rescue pass for over-cap bucket members ([[MinhashBucketCap]]
    * scaladoc): docs whose primary-family buckets were dropped get
    * re-banded with the DISJOINT second permutation family (bands
    * Bands..2*Bands-1) and candidate pairs are regenerated from those
    * buckets — a hot shingle that saturated a primary bucket lands on
    * a different minimum under the new permutations, so true near-dup
    * pairs inside the hot population get a second chance instead of
    * being silently assumed covered by exact dedup.
    *
    * Scale: the rescue population is only the over-cap bucket members
    * (the monitoring surface's rows), the re-band is one aggregation
    * over their shingle HASHES — `hashes` is the [[shingleHashes]]
    * shape (doc_id, h); the string shingles are never needed here
    * (referenced three times downstream — cap
    * filter + both self-join sides — and measured NOT deduped by
    * exchange reuse, see PLANS.md round 5; the recompute is bounded
    * by the hot population, which is why it is acceptable HERE but
    * the corpus-sized `bandMins` input must be materialized by the
    * caller, as ExtQueries does), and
    * the same cap applies to rescue buckets —
    * a pathological shingle that stays hot under every permutation is
    * dropped again rather than going quadratic (route THOSE to an
    * exact-rescore pass; at that point they are a boilerplate
    * signature, not near-dup structure). */
  def minhashRescueCandidates(hashes: DataFrame, bandMins: DataFrame,
                              cap: Int = MinhashBucketCap,
                              rescueCap: Int = -1): DataFrame = {
    // rescueCap < 0 means "same as cap"; a larger rescueCap is
    // legitimate — the rescue population is the hot docs only, so its
    // buckets can afford a higher quadratic bound than the corpus-wide
    // primary pass
    val rc = if (rescueCap < 0) cap else rescueCap
    minhashCandidates(minhashRescueBandMins(hashes, bandMins, cap), rc)
  }

  /** Rescue-family band minima (bands Bands..2·Bands−1) for the
    * over-cap population — the [[minhashRescueCandidates]] input,
    * exposed so callers can (a) materialize it once (the candidate
    * build references it three times: cap filter + both self-join
    * sides) and (b) run [[bucketCapStats]] over it (r15 verdict #5:
    * the PRIMARY bands self-report saturation, but a hot RESCUE
    * bucket would re-create the quadratic the rescue pass exists to
    * absorb, and its distribution was silent). */
  def minhashRescueBandMins(hashes: DataFrame, bandMins: DataFrame,
                            cap: Int = MinhashBucketCap): DataFrame = {
    val hot = minhashOverCapBuckets(bandMins, cap).select(col("b"), col("mh"))
    val hotDocs = bandMins.join(hot, Seq("b", "mh"))
      .select(col("doc_id")).distinct()
    val hotH = hashes.join(hotDocs, Seq("doc_id"))
    minhashBandMinsFromHashes(hotH, Bands, Bands)
  }

  /** Exact n-gram Jaccard for candidate pairs (cand: d1, d2):
    * |A∩B| / |A∪B| over each doc's DISTINCT shingle set — `ds` must
    * already be distinct (doc_id, shingle). The caller supplies it
    * (rather than this function distincting internally) because it is
    * referenced three times below — the size agg and both pair join
    * sides — and exchange reuse does not fire above an
    * InMemoryRelation (PLANS.md round 5), so a caller whose shingles
    * are cached should materialize the distinct set once
    * (ExtQueries keeps it in the session cache). */
  def ngramJaccard(cand: DataFrame, ds: DataFrame): DataFrame = {
    import graft.core.Det
    val sizes = ds.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val common = cand
      .join(ds.select(col("doc_id").as("d1"), col("shingle")), Seq("d1"))
      .join(ds.select(col("doc_id").as("d2"), col("shingle").as("s2")), Seq("d2"))
      .where(col("shingle") === col("s2"))
      .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("common"))
    cand
      .join(common, Seq("d1", "d2"), "left")
      .join(sizes.select(col("doc_id").as("d1"), col("n_sh").as("c1")), Seq("d1"))
      .join(sizes.select(col("doc_id").as("d2"), col("n_sh").as("c2")), Seq("d2"))
      .select(col("d1"), col("d2"), col("c1"), col("c2"),
        coalesce(col("common"), lit(0L)).as("common"))
      .withColumn("jaccard", Det.r4(
        col("common").cast("double") /
          (col("c1") + col("c2") - col("common")).cast("double")))
  }

  /** [[ngramJaccard]] plus CONTAINMENT (|A∩B| / min(|A|,|B|)) — the
    * asymmetric complement Jaccard misses: a short doc fully embedded
    * in a long one scores near-zero Jaccard (the union is dominated
    * by the long doc) but containment 1.0. Quote-heavy and
    * boilerplate-wrapped corpora are exactly this shape, so a dedup
    * deploy reads both columns before choosing its drop rule. Same
    * join plan as the Jaccard rescore — one extra projection. */
  def ngramContainment(cand: DataFrame, ds: DataFrame): DataFrame = {
    import graft.core.Det
    ngramJaccard(cand, ds).withColumn("containment", Det.r4(
      col("common").cast("double") /
        least(col("c1"), col("c2")).cast("double")))
  }

  /** The τ sweep over scored pairs (v1, v2, cos_sim): for each
    * threshold τ = i·0.05, i in 0..9, how many pairs reach it and how
    * many distinct `v2` docs a keep-first pass would drop. `cos_sim`
    * is [[graft.core.Det.r4]]-rounded, so the comparison runs on the
    * exact 1e-4 integer axis: `i.cast(double) * 0.05` is
    * 0.35000000000000003 at i = 7 (likewise i = 3 and 6) and would
    * drop a pair sitting exactly on τ, where SQL's DECIMAL 0.05 keeps
    * it. */
  def thresholdSweep(pairs: DataFrame): DataFrame = {
    import graft.core.Det
    val taus = pairs.sparkSession.range(0, 10).select(col("id").as("i"))
    val hits = taus.join(pairs,
        floor(pairs("cos_sim") * lit(10000.0) + lit(0.5)) >=
          taus("i") * lit(500))
      .groupBy(col("i"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("v2")).as("n_dropped_docs"))
    taus.join(hits, Seq("i"), "left")
      .select((col("i") * 5).as("tau_pct"),
        Det.r4(col("i").cast("double") * lit(0.05)).as("tau"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_dropped_docs"), lit(0L)).as("n_dropped_docs"))
      .orderBy(col("tau_pct"))
  }

  /** Benchmark decontamination hits: for every training doc, how many
    * DISTINCT n-grams it shares with the benchmark set and how many
    * distinct benchmark docs it collides with. Inputs are distinct
    * (doc_id, shingle) sets ([[shingles]]`.distinct()`); `bench`
    * should be broadcast by the caller when small (benchmark suites
    * are O(thousands of docs) — see ExtQueries' gated broadcast).
    * Real pipelines raise the shingle n to 8–13, which only shrinks
    * the collision sets; the join shape is unchanged. */
  def contaminationHits(train: DataFrame, bench: DataFrame): DataFrame =
    train.join(bench.select(col("shingle"),
        col("doc_id").as("bench_doc")), Seq("shingle"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("shingle")).as("n_hit_shingles"),
        countDistinct(col("bench_doc")).as("n_bench_docs"))

  /** [[contaminationHits]] with a Bloom pre-filter on the corpus side —
    * the shape for when the benchmark set OUTGROWS broadcast: without
    * a broadcast join, the exact join shuffles the entire corpus
    * shingle table on the shingle key; a Bloom filter built over the
    * benchmark shingles (a distributed build + an O(bits) broadcast)
    * prunes the overwhelmingly-non-contaminated corpus rows BEFORE
    * that shuffle. False positives pass the pre-filter and are then
    * removed by the exact join, so the result is IDENTICAL to
    * [[contaminationHits]] — which is why the scored query shares its
    * value oracle. Build and probe are Spark's OWN native Bloom
    * expressions (`BloomFilterAggregate` / `BloomFilterMightContain`,
    * the machinery behind its runtime row-level filters, surfaced as
    * functions by [[graft.GraftExtensions]]) — fully codegen'd partial
    * aggregation on the build, a codegen'd binary-literal probe on
    * the scan side; no Scala UDF anywhere on the path. The filter
    * bytes cross the driver once (an O(bits) scalar fetch, exactly
    * what `stat.bloomFilter` did) and re-enter the plan as a foldable
    * literal, so the probe predicate can be pushed and batched like
    * any other deterministic filter. */
  def contaminationHitsBloom(train: DataFrame, bench: DataFrame,
                             fpp: Double = 0.01): DataFrame = {
    val nBench = bench.count()
    if (nBench == 0L)
      return contaminationHits(train, bench.limit(0))
    val numBits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(nBench, fpp)
    val bloomBytes = bench
      .agg(call_function("graft_bloom_agg", xxhash64(col("shingle")),
        lit(nBench), lit(numBits)).as("bf"))
      .head().getAs[Array[Byte]](0)
    val pre = train.where(call_function("graft_might_contain",
      lit(bloomBytes), xxhash64(col("shingle"))))
    contaminationHits(pre, bench)
  }

  /** SimHash per doc over word tokens: bit j of the signature is the
    * sign of the tf-weighted sum of bit j across token hashes. */
  def simhash(docs: DataFrame): DataFrame = {
    val words = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("w"))
      .select(col("doc_id"), call_function("graft_hash", col("w")).as("h"))
    // r17: the 32 separate sum(CASE (h >> j) & 1 ...) aggregates are
    // fused into ONE imperative long-array aggregate
    // (graft.expr.SimhashAgg — tight per-row loop, one buffer object
    // per doc); bit-identical by construction (integer ±1 sums, same
    // sign rule) and asserted against the composed form in ExprSpec.
    // The SQL twin below keeps the spelled-out per-bit arithmetic.
    words.groupBy(col("doc_id"))
      .agg(call_function("graft_simhash", col("h")).as("simhash"))
  }

  /** SQL twin of [[simhash]] (CTEs `tok`, `bitsums`, `simhash`). */
  val simhashSql: String = {
    val h = PortableHash.hSql("w")
    val bitSums = (0 until SimhashBits).map(j =>
      s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS s$j")
      .mkString(", ")
    val sim = (0 until SimhashBits)
      .map(j => s"CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END")
      .mkString(" + ")
    s"""tok AS (
       |  SELECT doc_id, $h AS h
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
       |        FROM documents)
       |),
       |bitsums AS (SELECT doc_id, $bitSums FROM tok GROUP BY 1),
       |simhash AS (SELECT doc_id, CAST($sim AS BIGINT) AS simhash FROM bitsums)""".stripMargin
  }

  /** Block buckets above this size are excluded from simhash pair
    * generation — the same within-bucket-quadratic guard as
    * [[MinhashBucketCap]]: a boilerplate-heavy corpus concentrates one
    * (blk, bv) value (the sf0.01 synthetic corpus ALREADY does — every
    * doc's simhash has a zero high byte, so one block-3 bucket holds
    * the whole corpus) and AQE can split the partition but cannot
    * shrink the pair count. Dropping a hot bucket loses the pigeonhole
    * guarantee for pairs whose only agreeing block was the hot one;
    * [[simhashRescueNearDups]] re-blocks the hot population under a
    * rotated bit partition to restore it, and
    * [[simhashOverCapBlocks]] is the monitoring surface for sizing. */
  val SimhashBlockCap = 200

  /** Rescue partition: rotate the signature right by 4 bits before
    * blocking. Any disjoint 4-block cover of the 32 bits preserves the
    * pigeonhole argument (dist ≤ 3 < 4 blocks ⇒ some block equal), and
    * the rotated cover straddles the primary block boundaries, so a
    * byte value that concentrated a primary bucket mixes with its
    * neighbor block's bits and disperses. */
  val SimhashRescueRotBits = 4

  /** (doc_id, simhash, blk, bv) block rows for the bit partition
    * rotated right by `rotBits` (0 = the primary partition). Integer
    * arithmetic only, mirrored verbatim by the SQL twins. */
  private[ext] def simhashBlockRows(sims: DataFrame, rotBits: Int): DataFrame = {
    val rot =
      if (rotBits == 0) col("simhash")
      else shiftright(col("simhash"), rotBits) +
        col("simhash").bitwiseAND(lit((1L << rotBits) - 1)) *
          lit(1L << (SimhashBits - rotBits))
    sims.select(col("doc_id"), col("simhash"),
      explode(sequence(lit(0), lit(SimhashBlocks - 1))).as("blk"),
      rot.as("rot"))
      .withColumn("bv",
        floor(col("rot") / pow(lit(SimhashBlockBase.toDouble), col("blk")))
          .cast("long") % SimhashBlockBase)
      .drop("rot")
  }

  /** (blk, bv, sz) for block buckets over the cap — the monitoring
    * surface that sizes the rescue pass (the simhash twin of
    * [[minhashOverCapBuckets]]). */
  def simhashOverCapBlocks(sims: DataFrame, cap: Int = SimhashBlockCap,
                           rotBits: Int = 0): DataFrame =
    simhashBlockRows(sims, rotBits)
      .groupBy(col("blk"), col("bv")).agg(count(lit(1)).as("sz"))
      .where(col("sz") > cap)

  /** Capped pair generation shared by the primary and rescue passes:
    * bucket-size filter BEFORE the self-join (the [[minhashCandidates]]
    * pattern), then the hamming filter BEFORE the distinct — the bit
    * ops are a few cycles per candidate, while distinct is a shuffle,
    * so shrink its input. (filter∘distinct ≡ distinct∘filter here:
    * hamming is a pure function of the pair.) */
  private def simhashPairsFromBlocks(blockRows: DataFrame, maxDist: Int,
                                     cap: Int): DataFrame = {
    val ok = blockRows.groupBy(col("blk"), col("bv"))
      .agg(count(lit(1)).as("sz"))
      .where(col("sz") <= cap)
      .select(col("blk"), col("bv"))
    val kept = blockRows.join(ok, Seq("blk", "bv"))
    val a = kept.select(col("doc_id").as("d1"),
      col("simhash").as("h1"), col("blk"), col("bv"))
    val b = kept.select(col("doc_id").as("d2"),
      col("simhash").as("h2"), col("blk"), col("bv"))
    a.join(b, Seq("blk", "bv")).where(col("d1") < col("d2"))
      .withColumn("hamming",
        bit_count(col("h1").bitwiseXOR(col("h2"))).cast("long"))
      .where(col("hamming") <= maxDist)
      .select(col("d1"), col("d2"), col("h1"), col("h2"), col("hamming"))
      .distinct()
  }

  /** Near-dup pairs by simhash hamming distance ≤ maxDist, found via
    * pigeonhole blocking: split the 32 bits into 4 blocks of 8; any
    * pair within distance 3 agrees on ≥1 whole block, so joining per
    * block is complete — and sub-quadratic, since the join key is
    * (block index, block value). Buckets above `cap` are dropped (see
    * [[SimhashBlockCap]]); route their members through
    * [[simhashRescueNearDups]]. */
  def simhashNearDups(sims: DataFrame, maxDist: Int = 3,
                      cap: Int = SimhashBlockCap): DataFrame =
    simhashPairsFromBlocks(simhashBlockRows(sims, 0), maxDist, cap)

  /** The rescue pass for over-cap block members: docs whose primary
    * buckets were dropped are re-blocked under the rotated partition
    * ([[SimhashRescueRotBits]]) and paired there, with the same cap
    * applied to rescue buckets — a population that stays concentrated
    * under BOTH partitions is a boilerplate signature, not near-dup
    * structure, and is dropped again (visible via
    * [[simhashOverCapBlocks]] at the rescue rotation) rather than
    * going quadratic. Scale: the rescue input is only the hot-bucket
    * membership, and the pair join shuffles on (blk, bv) keys like the
    * primary pass. */
  def simhashRescueNearDups(sims: DataFrame, maxDist: Int = 3,
                            cap: Int = SimhashBlockCap,
                            rescueCap: Int = -1): DataFrame = {
    val rc = if (rescueCap < 0) cap else rescueCap
    val hot = simhashOverCapBlocks(sims, cap).select(col("blk"), col("bv"))
    val hotDocs = simhashBlockRows(sims, 0).join(hot, Seq("blk", "bv"))
      .select(col("doc_id")).distinct()
    val hotSims = sims.join(hotDocs, Seq("doc_id"))
    simhashPairsFromBlocks(
      simhashBlockRows(hotSims, SimhashRescueRotBits), maxDist, rc)
  }

  /** Connected components over an undirected edge list — the step that
    * turns near-dup PAIRS into duplicate CLUSTERS (one keeper per
    * cluster is the actual dedup policy). Iterative min-label
    * propagation: every node starts as its own label; each round a
    * node adopts the smallest label among itself and its neighbors;
    * fixpoint = every node carries the component's minimum id.
    *
    * Spark-first iteration: each round is one join + one groupBy over
    * the (node, label) frame — the same shape GraphX's Pregel lowers
    * to, without leaving the DataFrame world. Rounds needed = graph
    * diameter; near-dup graphs are dense clusters with tiny diameter,
    * so convergence is fast. The convergence signal rides along inside
    * the label aggregation itself (see the loop body), so each round
    * costs one aggregation job plus one shuffle-free scan — not a
    * separate join job.
    *
    * Input: nodes (nodeCol), edges (d1, d2). Output: (nodeCol,
    * cluster_id = min node id of the component). Throws if not
    * converged within maxIter — silent wrong labels would poison the
    * downstream drop list.
    */
  /** Materialization point for iterate-to-fixpoint loops:
    * `localCheckpoint` by default (fast, truncates the exponential
    * lineage — see the connectedComponents notes), or a RELIABLE
    * parquet snapshot when `spark.graft.checkpoint.dir` is set to a
    * fault-tolerant path — localCheckpoint blocks live only on
    * executors and do not survive executor loss, which at cluster
    * scale turns one lost container into a failed job.
    *
    * Each instance owns one chain of iterates: in reliable mode it
    * writes iteration N under `<dir>/<name>-<uuid>/iter-N` — the uuid
    * keeps two runs in the same session (or two concurrent callers)
    * from overwriting/deleting each other's retained snapshots —
    * and deletes iteration N−1 AFTER N lands (N never reads N−1's
    * files once materialized — each snapshot is self-contained), so a
    * long fixpoint run holds at most two snapshots per chain instead
    * of accumulating one per round. The LAST snapshot is retained —
    * the caller's result plan still scans it; callers should drop the
    * whole `<dir>` when finished consuming the results of every run
    * that used it. */
  private[ext] final class IterMaterializer(name: String,
      spark: org.apache.spark.sql.SparkSession) {
    private val base: Option[String] =
      spark.conf.getOption("spark.graft.checkpoint.dir")
        .map(d => s"$d/$name-${java.util.UUID.randomUUID()}")
    private var iter = 0
    private var prev: Option[String] = None

    private def delete(path: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(p, true); ()
    }

    def apply(df: DataFrame): DataFrame = base match {
      case Some(dir) =>
        val path = s"$dir/iter-$iter"
        iter += 1
        df.write.mode("overwrite").parquet(path)
        val out = spark.read.parquet(path)
        prev.foreach(delete)
        prev = Some(path)
        out
      case None => df.localCheckpoint(eager = true)
    }
  }

  def connectedComponents(nodes: DataFrame, edges: DataFrame,
                          nodeCol: String = "doc_id",
                          maxIter: Int = 50): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    // Stage-timing trace for perf triage (GRAFT_CC_DEBUG=1): stderr
    // only, zero cost when unset.
    val t0 = System.nanoTime()
    val dbg = sys.env.contains("GRAFT_CC_DEBUG")
    def trace(stage: String): Unit = if (dbg)
      System.err.println(
        f"[cc] $stage at ${(System.nanoTime() - t0) / 1e9}%.2f s")
    val spark = nodes.sparkSession
    // Materialize the edge input ONCE, first. Persisting alone is not
    // enough: a persisted frame keeps its full logical plan, and this
    // function embeds the edge plan in every declaration that follows
    // (the contraction aggregate, both sides of the rep join) — with a
    // deep upstream lineage (the simhash chain in q_dedup_clusters)
    // Catalyst re-analyzes that whole tree per declaration on the
    // driver (measured ~0.8 s of pure driver time per pass at sf0.1).
    // The checkpoint truncates the plan to a scan; the big edge data
    // is computed once and read three times, same I/O as the persist.
    val matInput = new IterMaterializer("cc-input", spark)
    val e = matInput(edges.select(col("d1"), col("d2")))
    trace("edges materialized")
    // One contraction pass over the FULL graph before iterating: map
    // every node to min(itself, direct neighbors). Near-dup graphs are
    // quasi-cliques, so this collapses almost every component to its
    // representative immediately — the fixpoint loop then runs on the
    // contracted graph (representatives + surviving cross-rep edges),
    // which is orders of magnitude smaller than the edge list. The
    // expensive data touches the big edge set O(1) times, not
    // O(diameter) times.
    val sym = e.unionByName(
      e.select(col("d2").as("d1"), col("d1").as("d2")))
    val l0 = nodes.select(col(nodeCol).as("node"))
      .join(sym.groupBy(col("d1").as("node")).agg(min(col("d2")).as("mn")),
        Seq("node"), "left")
      .select(col("node"),
        least(col("node"), coalesce(col("mn"), col("node"))).as("rep"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // node→rep maps are |nodes|-sized (tiny next to the edge list):
    // broadcast them so the big edge set is never shuffled here — but
    // only below a row-count gate (`spark.graft.cc.broadcastNodes.max`,
    // default 10M ≈ 160 MB serialized): a forced broadcast of a
    // billion-node map would OOM the driver, so past the gate the
    // contraction falls back to shuffle joins on d1/d2 (two passes
    // over the edge list — the honest cost of graphs whose NODE set
    // alone exceeds broadcast size). The count also materializes the
    // l0 persist before the map is read twice.
    // one count decides for all three map joins (r1, r2, final labels)
    val fitsBroadcast = l0.count() <= graft.core.Broadcasts.maxRows(
      l0, "spark.graft.cc.broadcastNodes.max")
    trace("l0 contraction counted")
    def maybeB(df: DataFrame): DataFrame =
      if (fitsBroadcast) broadcast(df) else df
    val r1 = l0.select(col("node").as("d1"), col("rep").as("rep1"))
    val r2 = l0.select(col("node").as("d2"), col("rep").as("rep2"))
    val contracted = e.join(maybeB(r1), Seq("d1"))
      .join(maybeB(r2), Seq("d2"))
      .where(col("rep1") =!= col("rep2"))
      .select(least(col("rep1"), col("rep2")).as("d1"),
        greatest(col("rep1"), col("rep2")).as("d2"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val reps = l0.select(col("rep").as("node")).distinct()
    trace("contracted edges declared")
    // min-label propagation to fixpoint on the contracted graph.
    // Each round ends in localCheckpoint(eager): iterate-to-fixpoint
    // DOUBLES the logical plan per round if only persist()ed — the
    // data is cached but Catalyst re-analyzes the whole exponential
    // lineage every round (measured: round-3 plans with ~400 scan
    // nodes dominating wall time on the driver). Checkpointing
    // truncates the plan to a scan of the materialized result. At
    // 100 TB use reliable checkpoint(dir) instead — localCheckpoint
    // does not survive executor loss.
    val matEdges = new IterMaterializer("cc-edges", spark)
    val matLabels = new IterMaterializer("cc-labels", spark)
    val csym = matEdges(
      contracted.select(col("d1").as("src"), col("d2").as("dst"))
        .unionByName(contracted.select(col("d2").as("src"), col("d1").as("dst"))))
    trace("csym materialized")
    var labels = matLabels(
      reps.select(col("node"), col("node").as("label")))
    trace("labels initialized")
    var iter = 0
    var done = false
    while (!done && iter < maxIter) {
      val viaNeighbors = csym.join(labels, csym("src") === labels("node"))
        .select(col("dst").as("node"), col("label"))
      // Convergence piggybacks on the SAME job that materializes the
      // next labels — each round is ONE Spark job, not an aggregation
      // job plus a count job. The node's previous label rides through
      // the groupBy as `old` (each node has exactly one labels-row, so
      // max(old) is it; neighbor rows contribute null, which max
      // ignores), and a `chg` column bumps an accumulator while the
      // materialization scans the rows. Accumulators over-count on
      // task retries, but that is safe for THIS predicate: at fixpoint
      // there are zero label<old rows, so no retry can fake a nonzero
      // value — and before fixpoint any nonzero is the right answer.
      val acc = spark.sparkContext.longAccumulator(s"cc-changed-$iter")
      val bump = udf { changed: Boolean =>
        if (changed) acc.add(1L); changed
      }.asNondeterministic()
      val next = matLabels(
        labels.select(col("node"), col("label"), col("label").as("old"))
          .unionByName(viaNeighbors.select(col("node"), col("label"),
            lit(null).cast(labels.schema("label").dataType).as("old")))
          .groupBy(col("node"))
          .agg(min(col("label")).as("label"), max(col("old")).as("old"))
          .withColumn("chg",
            bump(coalesce(col("label") < col("old"), lit(false)))))
      labels = next.select(col("node"), col("label"))
      done = acc.value == 0L
      iter += 1
      trace(s"round $iter done (changed=${acc.value})")
    }
    contracted.unpersist()
    if (!done)
      throw new IllegalStateException(
        s"connectedComponents: no fixpoint after $maxIter rounds")
    // l0 stays persisted: unpersisting here would recompute its 2|E|
    // aggregation when the caller materializes the result (it is
    // |nodes| rows — the persist is cheap, the recompute is not)
    l0.join(maybeB(labels.withColumnRenamed("node", "rep")), Seq("rep"))
      .select(col("node").as(nodeCol), col("label").as("cluster_id"))
  }
}
