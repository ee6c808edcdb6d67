package graft.ext

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic corpus-trained byte-pair encoding (Sennrich,
  * Haddow & Birch 2016, "Neural Machine Translation of Rare Words
  * with Subword Units") — the real-token substrate for the packing /
  * chunking family. Whitespace counts are off 2–3× on code/CJK
  * against a model tokenizer; every token-denominated budget in a
  * training pipeline is a SUBWORD budget, so the engine learns one.
  *
  * Shape at 100 TB:
  *  - LEARNING runs on the word-frequency table capped to a vocab
  *    budget (count desc, word asc — a total order, same discipline
  *    as the q_oov_rate vocab cut), collected to the driver (bounded
  *    by the cap, not the corpus) and iterated there; the result is
  *    a ~[[NumMerges]]-row merge table, broadcast by construction as
  *    plan literals.
  *  - APPLICATION is a pure Column pipeline: seed each word as
  *    bracketed symbols (`[h][i][</w>]`), fold the merge table as
  *    chained `replace` calls (rank order — a merge can never
  *    re-enable an earlier one, because any pair containing a new
  *    symbol was necessarily learned later), count symbols as `]`
  *    occurrences. Whole-stage-codegen'd, zero shuffle, scan-parallel
  *    at any corpus size. The replace chain is the Column-native form
  *    whose DuckDB twin is exact — but its cost is O(merges × text)
  *    per row, so at a production 50k-merge table it is not a plan.
  *    [[BpeTokenizer]] is the production application path: a
  *    rank-indexed mapPartitions kernel whose per-word cost is
  *    O(applied merges), independent of merge-table size, proven
  *    token-for-token equal to the chain (BpeSpec). The oracle
  *    contract stays on the chain (its SQL twin is exact); the kernel
  *    is the deploy surface.
  *
  * Oracle replay: learning is a fixed number of
  * count-pairs → argmax → merge steps, each SQL-expressible, so the
  * WHOLE learn loop replays as chained CTEs (the k-means / PageRank
  * round-replay discipline) and application replays as one `replace`
  * CTE per merge. `AS MATERIALIZED` pins each learned step — DuckDB
  * inlines plain CTEs, which would re-evaluate the chain
  * exponentially. Determinism rests on exact integer counts and
  * lexicographic tie-breaks (ASCII corpus: Scala UTF-16 order ==
  * DuckDB UTF-8 byte order; a non-ASCII corpus would need a collation
  * pin).
  */
object Bpe {
  /** Word-frequency cap for learning — covers the synthetic corpus's
    * 31 distinct words; production budgets (50k) change nothing
    * structurally. */
  val VocabCap = 50

  /** Number of merges to learn. */
  val NumMerges = 24

  /** Model-window budget (in BPE tokens) that [[graft.ext.ExtQueries]]'
    * chunk audit checks against. */
  val BpeBudget = 128

  /** The learned merge table for a corpus dir, memoized per
    * (session, dir) — learning collects ≤[[VocabCap]] rows once. */
  def mergesMemo(docs: DataFrame, dir: String): Seq[(String, String)] =
    graft.core.Cache.memo(docs.sparkSession, "Bpe.merges", dir)(
      learnMerges(docs))

  /** The BYTE-level merge table ([[learnMergesBytes]]), memoized like
    * [[mergesMemo]]. */
  def mergesBytesMemo(docs: DataFrame, dir: String): Seq[(String, String)] =
    graft.core.Cache.memo(docs.sparkSession, "Bpe.mergesBytes", dir)(
      learnMergesBytes(docs))

  /** Merge one pair left-to-right, non-overlapping — the exact
    * semantics of SQL `replace` on the bracketed form. */
  private def mergePair(syms: Vector[String],
                        pair: (String, String)): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i < syms.length - 1 && syms(i) == pair._1 && syms(i + 1) == pair._2) {
        out += syms(i) + syms(i + 1); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  /** Driver-side Sennrich learn loop over the capped word-frequency
    * table. Argmax tie-break: highest count, then lexicographically
    * smallest (a, b) — the mirror of `ORDER BY cnt DESC, a, b
    * LIMIT 1`. Merging never collapses two distinct words (the symbol
    * concatenation is invariant), so the map keys stay unique. */
  def learnMerges(docs: DataFrame, numMerges: Int = NumMerges,
                  vocabCap: Int = VocabCap): Seq[(String, String)] =
    learnLoop(docs, numMerges, vocabCap,
      w => w.map(_.toString).toVector)

  /** BYTE-level learn (the GPT-style alphabet): each word seeds as
    * its UTF-8 bytes rendered as fixed-width uppercase hex symbols
    * (`6E`), so the alphabet is exactly 256 symbols + `</w>` and
    * any byte string is in-domain — no character-coverage escape
    * hatch needed. Hex rendering is ORDER-PRESERVING per byte
    * ('0'-'9' < 'A'-'F' in ASCII), so the argmax tie-break compares
    * identically in Scala UTF-16 and DuckDB UTF-8, non-ASCII corpora
    * included — the portability the char path only gets on ASCII. */
  def learnMergesBytes(docs: DataFrame, numMerges: Int = NumMerges,
                       vocabCap: Int = VocabCap): Seq[(String, String)] =
    learnLoop(docs, numMerges, vocabCap,
      w => w.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        .map(b => f"${b & 0xff}%02X").toVector)

  private def learnLoop(docs: DataFrame, numMerges: Int, vocabCap: Int,
                        seed: String => Vector[String])
      : Seq[(String, String)] = {
    val vocabRows = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .where(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("w")).limit(vocabCap)
      .collect()
    var vocab: Map[Vector[String], Long] = vocabRows.map { r =>
      (seed(r.getString(0)) :+ "</w>") -> r.getLong(1)
    }.toMap
    val merges = Seq.newBuilder[(String, String)]
    var done = false
    for (_ <- 1 to numMerges if !done) {
      val stats = mutable.Map.empty[(String, String), Long]
      for ((syms, f) <- vocab; i <- 0 until syms.length - 1) {
        val k = (syms(i), syms(i + 1))
        stats(k) = stats.getOrElse(k, 0L) + f
      }
      if (stats.isEmpty) done = true
      else {
        val best = stats.toSeq
          .minBy { case ((a, b), c) => (-c, a, b) }._1
        merges += best
        vocab = vocab.map { case (syms, f) => mergePair(syms, best) -> f }
      }
    }
    merges.result()
  }

  /** A word column as bracketed seed symbols: `[h][i][</w>]`. */
  def seedCol(w: Column): Column =
    concat(regexp_replace(w, "(.)", "[$1]"), lit("[</w>]"))

  /** A word column as bracketed BYTE seed symbols: `[68][69][</w>]`
    * (uppercase hex of the UTF-8 bytes — Spark's `hex` and DuckDB's
    * `hex` agree). */
  def seedBytesCol(w: Column): Column =
    concat(regexp_replace(hex(encode(w, "UTF-8")), "(..)", "[$1]"),
      lit("[</w>]"))

  /** An arbitrary bracketed seed folded through a merge table (rank
    * order). */
  def foldMerges(seed: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(seed) { case (c, (a, b)) =>
      replace(c, lit(s"[$a][$b]"), lit(s"[$a$b]"))
    }

  /** The char seed folded through the merge table (rank order). */
  def tokenizeCol(w: Column, merges: Seq[(String, String)]): Column =
    foldMerges(seedCol(w), merges)

  /** Symbol count of a bracketed-token string = `]` occurrences. */
  def countCol(tok: Column): Column =
    (length(tok) - length(replace(tok, lit("]"), lit("")))).cast("long")

  /** BPE token count of one word column. */
  def wordBpeCol(w: Column, merges: Seq[(String, String)]): Column =
    countCol(tokenizeCol(w, merges))

  /** Per-document BPE token count over a text column — a fold over
    * the whitespace words, all inside one codegen'd projection. */
  def docBpeCol(text: Column, merges: Seq[(String, String)]): Column =
    aggregate(
      transform(filter(split(text, " "), w => w =!= ""),
        w => wordBpeCol(w, merges)),
      lit(0L), (acc, x) => acc + x)

  /** Per-document BYTE-level BPE token count — [[docBpeCol]] with the
    * hex byte seed. */
  def docBpeBytesCol(text: Column, merges: Seq[(String, String)]): Column =
    aggregate(
      transform(filter(split(text, " "), w => w =!= ""),
        w => countCol(foldMerges(seedBytesCol(w), merges))),
      lit(0L), (acc, x) => acc + x)

  // ------------------------------------------------------------------
  // DuckDB replay (the exact SQL twins of the learn + apply pipeline)
  // ------------------------------------------------------------------

  /** Char seed, as SQL over a column named `w`. */
  val SeedSql: String = """regexp_replace(w, '(.)', '[\1]', 'g')"""

  /** BYTE seed, as SQL over `w` (DuckDB `encode` → UTF-8 blob, `hex`
    * → uppercase — exactly Spark's `hex(encode(w, 'UTF-8'))`). */
  val SeedBytesSql: String =
    """regexp_replace(hex(encode(w)), '(..)', '[\1]', 'g')"""

  /** The learn-loop CTE chain: seeds `v0` from the capped vocab, then
    * per merge i: pair extraction (zip-unnest of adjacent symbols),
    * weighted count, argmax `b{i}`, and the merged vocab `v{i+1}`.
    * `seedSql` picks the alphabet (char default, [[SeedBytesSql]] for
    * the byte-level tokenizer). */
  def learnCtesSql(n: Int = NumMerges, cap: Int = VocabCap,
                   seedSql: String = SeedSql): String = {
    val head = Seq(
      "bwords AS MATERIALIZED (SELECT unnest(string_split(text, ' ')) AS w " +
        "FROM documents)",
      "bvocab AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS freq " +
        s"FROM bwords WHERE w <> '' GROUP BY 1 ORDER BY freq DESC, w LIMIT $cap)",
      s"v0 AS MATERIALIZED (SELECT $seedSql " +
        "|| '[</w>]' AS wstr, freq FROM bvocab)")
    val steps = (0 until n).flatMap { i =>
      Seq(
        s"s$i AS (SELECT string_split(substr(wstr, 2, length(wstr)-2), " +
          s"'][') AS syms, freq FROM v$i)",
        s"p$i AS (SELECT unnest(syms[1:len(syms)-1]) AS a, " +
          s"unnest(syms[2:len(syms)]) AS b, freq FROM s$i)",
        s"c$i AS (SELECT a, b, sum(freq) AS cnt FROM p$i GROUP BY 1, 2)",
        s"b$i AS MATERIALIZED (SELECT a, b FROM c$i " +
          "ORDER BY cnt DESC, a, b LIMIT 1)",
        s"v${i + 1} AS MATERIALIZED (SELECT replace(wstr, " +
          "'['||a||']['||b||']', '['||a||b||']') AS wstr, freq " +
          s"FROM v$i CROSS JOIN b$i)")
    }
    (head ++ steps).mkString(",\n")
  }

  /** Apply chain over a source CTE `src(…, w)`: seeds `t0` carrying
    * every `src` column plus the bracketed token string `tok`, then
    * one replace CTE per learned merge; read the result from `t{n}`.
    * `carryCols` are the src columns to keep alongside `tok`. */
  def applyCtesSql(srcCte: String, carryCols: Seq[String],
                   n: Int = NumMerges,
                   seedSql: String = SeedSql): String = {
    val carry = carryCols.mkString(", ")
    val head =
      s"t0 AS (SELECT $carry, $seedSql " +
        s"|| '[</w>]' AS tok FROM $srcCte WHERE w <> '')"
    val steps = (0 until n).map { i =>
      s"t${i + 1} AS (SELECT $carry, replace(tok, '['||a||']['||b||']', " +
        s"'['||a||b||']') AS tok FROM t$i CROSS JOIN b$i)"
    }
    (head +: steps).mkString(",\n")
  }

  /** `]`-count of the tok column, as SQL. */
  def countSql(tok: String): String =
    s"CAST(length($tok) - length(replace($tok, ']', '')) AS BIGINT)"

  // ------------------------------------------------------------------
  // Production application kernel (mapPartitions, rank-indexed).
  // ------------------------------------------------------------------

  /** Per-document BPE token counts through [[BpeTokenizer]] — the
    * partition-parallel production path (one rank-index per executor,
    * rows stream, zero shuffle before the caller's aggregation; the
    * [[graft.ext.Multimodal]] kernel shape). Null texts are skipped —
    * callers that must preserve them join the result back. Output:
    * (doc_id, n_bpe), bit-equal to `docBpeCol` per row (BpeSpec). */
  def docBpeCounts(docs: DataFrame,
                   merges: Seq[(String, String)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val tok = new BpeTokenizer(merges)
    docs.where(col("text").isNotNull)
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) => (id, tok.countText(text)) }
      }
      .toDF("doc_id", "n_bpe")
  }
}

/** Rank-indexed BPE merge application — the production tokenizer the
  * replace-chain Column fold stands in for at oracle time.
  *
  * Semantics contract: EXACTLY the chain's — merges applied in rank
  * order, each pass replacing non-overlapping occurrences
  * left-to-right. The kernel never walks the merge table per word;
  * instead it keeps the ranks of the pairs PRESENT in the word in an
  * ordered set and processes them ascending, re-scanning (adjacent
  * pairs only, ranks > the one just applied) after each applied
  * merge. Skipping an absent rank equals the chain's identity
  * `replace`; a merge of rank r' can only ever be added with rank
  * > r' after an applied merge, matching the chain's
  * already-passed-that-rank behavior — so outputs are token-for-token
  * identical by construction (and asserted corpus-wide in BpeSpec).
  *
  * Cost: O(word · applied merges) with O(present ranks) ordered-set
  * overhead — independent of merge-table size, which is the whole
  * point: at 50k production merges the chain pays 50k `replace`
  * passes per row, the kernel pays only for merges that fire (bounded
  * by word length). A trie buys nothing here — trie matching fits
  * maximal-munch tokenizers (WordPiece); BPE application is ordered
  * merge replay, and the rank index is its natural structure.
  *
  * Serialization: the instance ships to executors once per task-set;
  * the rank map is built on construction (driver) and is
  * merge-table-sized, the same envelope as the chain's plan literals.
  *
  * Domain contract (inherited from the CHAIN, not introduced here):
  * words must not contain `[`, `]`, or line terminators — the chain's
  * bracketed rendering is itself malformed on those (a literal `]`
  * corrupts `countCol`'s `]`-count and `(.)` skips newlines), so both
  * paths exclude them; a production ingest normalizes or routes such
  * tokens to byte-fallback BEFORE tokenization. Supplementary-plane
  * characters ARE in-domain: seeding is per CODE POINT (matching the
  * chain's `(.)` regex), not per UTF-16 unit — BpeSpec pins an astral
  * word to prove it.
  */
final class BpeTokenizer(merges: Seq[(String, String)])
    extends Serializable {
  private val mergeArr: Array[(String, String)] = merges.toArray
  private val ranks: java.util.HashMap[(String, String), Integer] = {
    val m = new java.util.HashMap[(String, String), Integer]()
    var i = 0
    while (i < mergeArr.length) { m.put(mergeArr(i), i); i += 1 }
    m
  }

  /** Tokenize one word into its final symbol sequence (always ends
    * with the `</w>` marker symbol or a merged symbol containing it). */
  def tokenize(word: String): Array[String] = {
    // seed: one symbol per CODE POINT (the `(.)` regex of seedCol
    // matches code points — charAt would split surrogate pairs)
    var syms = new Array[String](word.length + 1)
    var nSyms = 0
    var i = 0
    while (i < word.length) {
      val cp = word.codePointAt(i)
      val w = Character.charCount(cp)
      syms(nSyms) = word.substring(i, i + w)
      nSyms += 1
      i += w
    }
    syms(nSyms) = "</w>"
    syms = java.util.Arrays.copyOf(syms, nSyms + 1)
    val pending = new java.util.TreeSet[Integer]()
    def scan(minExclusive: Int): Unit = {
      var j = 0
      while (j < syms.length - 1) {
        val r = ranks.get((syms(j), syms(j + 1)))
        if (r != null && r > minExclusive) pending.add(r)
        j += 1
      }
    }
    scan(-1)
    while (!pending.isEmpty) {
      val r = pending.pollFirst()
      val (a, b) = mergeArr(r)
      // merge non-overlapping occurrences left-to-right, in place
      var read = 0
      var write = 0
      var changed = false
      while (read < syms.length) {
        if (read < syms.length - 1 && syms(read) == a && syms(read + 1) == b) {
          syms(write) = a + b; read += 2; changed = true
        } else { syms(write) = syms(read); read += 1 }
        write += 1
      }
      if (changed) {
        syms = java.util.Arrays.copyOf(syms, write)
        scan(r)
      }
    }
    syms
  }

  /** The bracketed-token rendering of [[tokenize]] — the exact string
    * `Bpe.tokenizeCol` produces for the same word (BpeSpec asserts). */
  def tokenizeBracketed(word: String): String =
    tokenize(word).mkString("[", "][", "]")

  /** BPE token count of a whitespace-tokenized text — the kernel twin
    * of `Bpe.docBpeCol` (empty words skipped identically). */
  def countText(text: String): Long = {
    var total = 0L
    var start = 0
    val n = text.length
    while (start < n) {
      var end = start
      while (end < n && text.charAt(end) != ' ') end += 1
      if (end > start) total += tokenize(text.substring(start, end)).length
      start = end + 1
    }
    total
  }
}
