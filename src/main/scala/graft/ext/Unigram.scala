package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Unigram-LM subword segmentation (Kudo 2018, "Subword
  * Regularization" — the SentencePiece unigram model), the Viterbi
  * complement to the [[Bpe]] merge family: instead of greedily
  * applying learned merges, each word is segmented into the
  * MINIMUM-COST piece sequence under a unigram piece model,
  * cost(p) = −log2 p(p) in the LmScore integer-log2 fixed point
  * (×2²⁰) so every path cost is an exact BIGINT on both engines.
  *
  * Model (deterministic, no EM — frequencies stand in for the
  * converged unigram probabilities, which keeps the whole model
  * SQL-replayable):
  *  - candidate pieces = all substrings of corpus words up to length
  *    [[MaxPieceLen]], frequency-weighted by word occurrence counts;
  *  - vocab = ALL single characters (segmentability guarantee) plus
  *    the top-[[SubCap]] longer substrings by (freq desc, piece asc)
  *    — the q_oov_rate/BPE vocab-cut discipline;
  *  - cost(p) = log2Fx(T) − log2Fx(freq(p)), T = Σ vocab freq.
  *
  * Viterbi tie-break is a TOTAL order, pinned identically in the
  * Scala kernel and the DuckDB recursive-CTE replay: minimize
  * (path cost, piece count), ties to the LONGEST final piece. The
  * oracle carries a 4-slot DP state (max piece length) through the
  * recursion — dp[i] depends only on dp[i−4..i−1] — and picks each
  * step's best transition by sorting the 4 candidate structs.
  *
  * Shape at 100 TB: the vocab is collected bounded by SubCap + the
  * alphabet (never by the corpus), broadcast, and segmentation runs
  * once per DISTINCT word in a partition-parallel kernel (the
  * [[BpeTokenizer]] deploy-path shape); per-doc rollups join the
  * word stream to the O(|vocab words|) segment table, so the corpus
  * text itself never shuffles.
  */
object Unigram {
  val MaxPieceLen = 4
  val SubCap = 256
  val Inf: Long = 1L << 50

  /** Distinct corpus words with occurrence counts. */
  def wordCounts(docs: DataFrame): DataFrame =
    docs.select(explode(split(col("text"), " ")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))

  /** Substring piece frequencies (occurrence-weighted): every
    * (position, length ≤ MaxPieceLen) window of every word. */
  def pieceFreqs(words: DataFrame): DataFrame =
    words
      .select(col("word"), col("cnt"),
        explode(sequence(lit(1), length(col("word")))).as("i"))
      .select(col("word"), col("cnt"), col("i"),
        explode(sequence(lit(1), lit(MaxPieceLen))).as("k"))
      .where(col("i") + col("k") - 1 <= length(col("word")))
      .select(expr("substring(word, i, k)").as("piece"), col("cnt"))
      .groupBy(col("piece")).agg(sum(col("cnt")).as("freq"))

  /** The broadcastable piece-cost model: chars ∪ top-SubCap longer
    * substrings, costs in integer log2 fixed point. Collected once
    * per (session, dir) — bounded by the cap, not the corpus. */
  def costMemo(docs: DataFrame, dir: String): Map[String, Long] =
    graft.core.Cache.memo(docs.sparkSession, "Unigram.cost", dir) {
      val pf = pieceFreqs(wordCounts(docs))
      val chars = pf.where(length(col("piece")) === 1)
      val subs = pf.where(length(col("piece")) >= 2)
        .orderBy(col("freq").desc, col("piece")).limit(SubCap)
      val vocab = chars.unionByName(subs)
        .collect().map(r => (r.getString(0), r.getLong(1)))
      val t = vocab.map(_._2).sum
      val lt = LmScore.log2FxLong(t)
      vocab.map { case (p, f) => p -> (lt - LmScore.log2FxLong(f)) }
        .toMap
    }

  /** Viterbi over one word: (path cost, n_pieces, 'a|bc|d' pieces).
    * k runs DESCENDING with strictly-better (cost, n_pieces)
    * replacement, which realizes the min-by-(cost, np, longest-
    * final-piece) total order the oracle sorts by. */
  def segment(word: String, cost: Map[String, Long])
      : (Long, Long, String) = {
    val n = word.length
    val dc = Array.fill(n + 1)(Inf)
    val np = Array.fill(n + 1)(0L)
    val sg = Array.fill(n + 1)("")
    dc(0) = 0L
    var i = 1
    while (i <= n) {
      var bc = Inf; var bn = 0L; var bs = ""
      var k = math.min(MaxPieceLen, i)
      while (k >= 1) {
        val piece = word.substring(i - k, i)
        val pc = cost.getOrElse(piece, Inf)
        if (dc(i - k) < Inf && pc < Inf) {
          val c = dc(i - k) + pc
          val m = np(i - k) + 1
          if (c < bc || (c == bc && m < bn)) {
            bc = c; bn = m
            bs = if (sg(i - k).isEmpty) piece
                 else sg(i - k) + "|" + piece
          }
        }
        k -= 1
      }
      dc(i) = bc; np(i) = bn; sg(i) = bs
      i += 1
    }
    (dc(n), np(n), sg(n))
  }

  /** Per-distinct-word segmentation table: (word, cnt, n_pieces,
    * cost_fx, seg). Partition-parallel kernel over the word table —
    * one model broadcast, zero shuffle beyond the word count. */
  def segmentsAll(docs: DataFrame, dir: String): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val bc = s.sparkContext.broadcast(costMemo(docs, dir))
    wordCounts(docs).select(col("word"), col("cnt"))
      .as[(String, Long)]
      .mapPartitions { it =>
        val c = bc.value
        it.map { case (w, n) =>
          val (cf, k, seg) = segment(w, c)
          (w, n, k, cf, seg)
        }
      }
      .toDF("word", "cnt", "n_pieces", "cost_fx", "seg")
  }

  /** DuckDB replay of the whole model + Viterbi, as named CTEs ending
    * in useg(word, cnt, n_pieces, cost_fx, seg). Callers prepend
    * WITH RECURSIVE. The DP recursion carries the 4-slot state
    * (slot3 = dp[i] … slot0 = dp[i−3]); each step's transition
    * candidates are structs sorted by (cost, n_pieces, 4−k), so ties
    * go to the longest final piece exactly like the kernel. */
  def ctesSql: String = {
    def cand(k: Int, c: String, n: String, s: String, v: String)
        : String = {
      val piece = s"substr(d.word, d.i + ${2 - k}, $k)"
      val kk = MaxPieceLen - k
      s"""CASE WHEN d.i + 1 >= $k AND d.$c < $Inf
         |          AND $v.cost IS NOT NULL
         |     THEN {'c': d.$c + $v.cost, 'np': d.$n + 1, 'kk': $kk,
         |           'seg': CASE WHEN d.$s = '' THEN $piece
         |                       ELSE d.$s || '|' || $piece END}
         |     ELSE {'c': CAST($Inf AS BIGINT), 'np': CAST(0 AS BIGINT),
         |           'kk': $kk, 'seg': ''} END""".stripMargin
    }
    s"""uwords AS (
       |  SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (
       |    SELECT unnest(string_split(text, ' ')) AS word
       |    FROM documents)
       |  GROUP BY 1),
       |upieces AS (
       |  SELECT substr(word, i, k) AS piece,
       |         CAST(sum(cnt) AS BIGINT) AS freq
       |  FROM uwords,
       |       unnest(range(1, len(word) + 1)) AS t(i),
       |       unnest(range(1, $MaxPieceLen + 1)) AS tk(k)
       |  WHERE i + k - 1 <= len(word)
       |  GROUP BY 1),
       |uvocab AS (
       |  SELECT piece, freq FROM upieces WHERE length(piece) = 1
       |  UNION ALL
       |  SELECT piece, freq FROM (
       |    SELECT piece, freq,
       |           row_number() OVER (ORDER BY freq DESC, piece) AS rn
       |    FROM upieces WHERE length(piece) >= 2) WHERE rn <= $SubCap),
       |utot AS (SELECT CAST(sum(freq) AS BIGINT) AS t FROM uvocab),
       |ucost AS (
       |  SELECT piece,
       |         ${LmScore.log2FxSql("t.t")} - ${LmScore.log2FxSql("freq")}
       |           AS cost
       |  FROM uvocab, utot t),
       |udp AS (
       |  SELECT word, 0 AS i,
       |         CAST($Inf AS BIGINT) AS c0, CAST(0 AS BIGINT) AS n0,
       |         '' AS s0,
       |         CAST($Inf AS BIGINT) AS c1, CAST(0 AS BIGINT) AS n1,
       |         '' AS s1,
       |         CAST($Inf AS BIGINT) AS c2, CAST(0 AS BIGINT) AS n2,
       |         '' AS s2,
       |         CAST(0 AS BIGINT) AS c3, CAST(0 AS BIGINT) AS n3,
       |         '' AS s3
       |  FROM uwords
       |  UNION ALL
       |  SELECT word, i + 1, c1, n1, s1, c2, n2, s2, c3, n3, s3,
       |         best.c, best.np, best.seg
       |  FROM (
       |    SELECT d.word, d.i, d.c1, d.n1, d.s1, d.c2, d.n2, d.s2,
       |           d.c3, d.n3, d.s3,
       |           list_sort([
       |             ${cand(4, "c0", "n0", "s0", "v4")},
       |             ${cand(3, "c1", "n1", "s1", "v3")},
       |             ${cand(2, "c2", "n2", "s2", "v2")},
       |             ${cand(1, "c3", "n3", "s3", "v1")}])[1] AS best
       |    FROM udp d
       |    LEFT JOIN ucost v1 ON v1.piece = substr(d.word, d.i + 1, 1)
       |    LEFT JOIN ucost v2
       |      ON d.i + 1 >= 2 AND v2.piece = substr(d.word, d.i, 2)
       |    LEFT JOIN ucost v3
       |      ON d.i + 1 >= 3 AND v3.piece = substr(d.word, d.i - 1, 3)
       |    LEFT JOIN ucost v4
       |      ON d.i + 1 >= 4 AND v4.piece = substr(d.word, d.i - 2, 4)
       |    WHERE d.i < len(d.word))),
       |useg AS (
       |  SELECT d.word, w.cnt, d.n3 AS n_pieces, d.c3 AS cost_fx,
       |         d.s3 AS seg
       |  FROM udp d JOIN uwords w
       |    ON w.word = d.word AND d.i = len(d.word))""".stripMargin
  }
}
