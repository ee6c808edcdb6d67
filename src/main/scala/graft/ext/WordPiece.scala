package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** WordPiece subword segmentation (Schuster & Nakajima 2012; the
  * BERT tokenizer's greedy longest-match-first scheme) — the third
  * public subword family beside the [[Bpe]] merge chain and the
  * [[Unigram]] Viterbi model. Where unigram-LM globally minimizes
  * path cost, WordPiece walks each word left to right taking the
  * LONGEST vocab piece at every position; continuation pieces
  * (position > 1) are a distinct vocab class, carried as the
  * conventional `##` prefix.
  *
  * Model (deterministic, no iterative training — frequency-derived
  * like the unigram vocab, which keeps the whole model
  * SQL-replayable):
  *  - candidate pieces = all (position, length ≤ [[MaxPieceLen]])
  *    windows of corpus words, occurrence-weighted, keyed WITH the
  *    position class (`x` at position 1 vs `##x` later — the classes
  *    compete separately, exactly like a trained WordPiece vocab);
  *  - vocab = ALL single-character pieces of both classes
  *    (segmentability guarantee: any window the greedy walk can
  *    stand on has its 1-char piece counted, so no `[UNK]` arises
  *    when segmenting the training corpus) plus the top-[[SubCap]]
  *    longer pieces by (freq desc, piece asc).
  *
  * The greedy walk is a TOTAL order by construction (longest match,
  * and piece strings are exact), so engine and oracle agree cell for
  * cell: the DuckDB replay is a recursive CTE that advances a cursor
  * by the largest k whose (marked) piece joins the vocab.
  *
  * Shape at 100 TB: the vocab is bounded by SubCap + 2·alphabet
  * (never by the corpus), broadcast once, and segmentation runs per
  * DISTINCT word in a partition-parallel kernel; per-doc rollups
  * join the word stream to the O(|distinct words|) segment table —
  * the corpus text itself never shuffles (the [[Unigram]] deploy
  * shape).
  */
object WordPiece {
  val MaxPieceLen = 4
  val SubCap = 256

  /** Marked piece frequencies: every window of every distinct word,
    * keyed with the `##` continuation class. */
  def pieceFreqs(words: DataFrame): DataFrame =
    words
      .select(col("word"), col("cnt"),
        explode(sequence(lit(1), length(col("word")))).as("i"))
      .select(col("word"), col("cnt"), col("i"),
        explode(sequence(lit(1), lit(MaxPieceLen))).as("k"))
      .where(col("i") + col("k") - 1 <= length(col("word")))
      .select(
        when(col("i") === 1, expr("substring(word, i, k)"))
          .otherwise(concat(lit("##"), expr("substring(word, i, k)")))
          .as("piece"),
        col("k"), col("cnt"))
      .groupBy(col("piece"), col("k")).agg(sum(col("cnt")).as("freq"))

  /** The broadcastable vocab: both 1-char classes in full, plus the
    * top-SubCap longer pieces. Collected once per (session, dir) —
    * bounded by the cap + alphabet, not the corpus. */
  def vocabMemo(docs: DataFrame, dir: String): Set[String] =
    graft.core.Cache.memo(docs.sparkSession, "WordPiece.vocab", dir) {
      val pf = pieceFreqs(Unigram.wordCounts(docs))
      val chars = pf.where(col("k") === 1).select(col("piece"))
      val subs = pf.where(col("k") >= 2)
        .orderBy(col("freq").desc, col("piece")).limit(SubCap)
        .select(col("piece"))
      chars.unionByName(subs).collect().map(_.getString(0)).toSet
    }

  /** Greedy longest-match walk over one word: (n_pieces,
    * 'ab|##cd' pieces). Single-char pieces of both classes are
    * always in `vocab` for corpus words, so the walk always
    * advances. */
  def segment(word: String, vocab: Set[String]): (Long, String) = {
    val n = word.length
    val sb = new java.lang.StringBuilder
    var np = 0L
    var pos = 0
    while (pos < n) {
      var k = math.min(MaxPieceLen, n - pos)
      var hit = 0
      while (hit == 0 && k >= 1) {
        val raw = word.substring(pos, pos + k)
        val key = if (pos == 0) raw else "##" + raw
        if (vocab.contains(key)) hit = k else k -= 1
      }
      val kk = math.max(hit, 1) // unreachable fallback; see Scaladoc
      val raw = word.substring(pos, pos + kk)
      if (np > 0L) sb.append('|')
      sb.append(if (pos == 0) raw else "##" + raw)
      np += 1L
      pos += kk
    }
    (np, sb.toString)
  }

  /** Per-distinct-word segmentation table: (word, cnt, n_pieces,
    * seg). One vocab broadcast, zero shuffle beyond the word
    * count. */
  def segmentsAll(docs: DataFrame, dir: String): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val bv = s.sparkContext.broadcast(vocabMemo(docs, dir))
    Unigram.wordCounts(docs).select(col("word"), col("cnt"))
      .as[(String, Long)]
      .mapPartitions { it =>
        val v = bv.value
        it.map { case (w, n) =>
          val (k, seg) = segment(w, v)
          (w, n, k, seg)
        }
      }
      .toDF("word", "cnt", "n_pieces", "seg")
  }

  /** DuckDB replay of the model + greedy walk, as named CTEs ending
    * in wseg(word, cnt, n_pieces, seg). Callers prepend
    * WITH RECURSIVE. The recursion advances a 1-based cursor by the
    * largest k (4→1) whose marked piece joins the vocab — the exact
    * longest-match order of the kernel. */
  def ctesSql: String = {
    // marked piece at the cursor for width k (1-based substr)
    def pk(k: Int): String =
      s"""CASE WHEN d.pos = 1 THEN substr(d.word, d.pos, $k)
         |     ELSE '##' || substr(d.word, d.pos, $k) END""".stripMargin
    def joinK(k: Int): String =
      s"""LEFT JOIN wvocab v$k
         |  ON len(d.word) - d.pos + 1 >= $k AND v$k.piece = ${pk(k)}"""
        .stripMargin
    s"""wwords AS (
       |  SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (
       |    SELECT unnest(string_split(text, ' ')) AS word
       |    FROM documents)
       |  GROUP BY 1),
       |wpieces AS (
       |  SELECT CASE WHEN i = 1 THEN substr(word, i, k)
       |              ELSE '##' || substr(word, i, k) END AS piece,
       |         k, CAST(sum(cnt) AS BIGINT) AS freq
       |  FROM wwords,
       |       unnest(range(1, len(word) + 1)) AS t(i),
       |       unnest(range(1, $MaxPieceLen + 1)) AS tk(k)
       |  WHERE i + k - 1 <= len(word)
       |  GROUP BY 1, 2),
       |wvocab AS (
       |  SELECT piece FROM wpieces WHERE k = 1
       |  UNION ALL
       |  SELECT piece FROM (
       |    SELECT piece,
       |           row_number() OVER (ORDER BY freq DESC, piece) AS rn
       |    FROM wpieces WHERE k >= 2) WHERE rn <= $SubCap),
       |wdp AS (
       |  SELECT word, 1 AS pos, CAST(0 AS BIGINT) AS n_pieces,
       |         '' AS seg
       |  FROM wwords
       |  UNION ALL
       |  SELECT word, pos + stepk, n_pieces + 1,
       |         CASE WHEN seg = '' THEN stepp
       |              ELSE seg || '|' || stepp END
       |  FROM (
       |    SELECT d.word, d.pos, d.n_pieces, d.seg,
       |           CASE WHEN v4.piece IS NOT NULL THEN 4
       |                WHEN v3.piece IS NOT NULL THEN 3
       |                WHEN v2.piece IS NOT NULL THEN 2
       |                ELSE 1 END AS stepk,
       |           CASE WHEN v4.piece IS NOT NULL THEN ${pk(4)}
       |                WHEN v3.piece IS NOT NULL THEN ${pk(3)}
       |                WHEN v2.piece IS NOT NULL THEN ${pk(2)}
       |                ELSE ${pk(1)} END AS stepp
       |    FROM wdp d
       |    ${joinK(2)}
       |    ${joinK(3)}
       |    ${joinK(4)}
       |    WHERE d.pos <= len(d.word))),
       |wseg AS (
       |  SELECT d.word, w.cnt, d.n_pieces, d.seg AS seg
       |  FROM wdp d JOIN wwords w
       |    ON w.word = d.word AND d.pos = len(d.word) + 1)"""
      .stripMargin
  }
}
