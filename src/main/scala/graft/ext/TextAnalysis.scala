package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.{Det, PortableHash}

/** Text-analysis operators for a training-data pipeline: token
  * counting, quality scoring, marker-based language scoring, document
  * fingerprinting, tf-idf. All pure Column expressions (codegen'd, no
  * UDFs) with exact DuckDB twins.
  */
object TextAnalysis {

  /** Gopher-style repetition signals per doc: total / distinct word
    * n-gram counts, the hottest n-gram's multiplicity, and the
    * duplicate-n-gram fraction (`dup_ratio`, r4-rounded). Two
    * partial/final aggregations, never a self-join — the
    * per-(doc, shingle) counts collapse before the per-doc rollup, so
    * the shuffled volume is bounded by distinct shingles per doc. */
  def repetitionSignals(docs: DataFrame, n: Int = 3): DataFrame = {
    val counts = Dedup.shingles(docs, n)
      .groupBy(col("doc_id"), col("shingle")).agg(count(lit(1)).as("c"))
    counts.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_shingles"),
        count(lit(1)).as("n_distinct"),
        max(col("c")).as("max_rep"))
      .select(col("doc_id"), col("n_shingles"), col("n_distinct"),
        col("max_rep"),
        Det.r4((col("n_shingles") - col("n_distinct")).cast("double") /
          col("n_shingles").cast("double")).as("dup_ratio"))
  }

  /** Tokenizers: whitespace words and a BPE-ish regex token stream. */
  def wordsCol: Column = split(col("text"), " ")
  val TokenRegex = "[a-z0-9]+"

  /** Language marker lists (deterministic tie order en>es>fr>de). On
    * real corpora these would be per-language stopword n-grams; the
    * operator shape — k marker counts + argmax — is the real thing. */
  val Markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "a"),
    "es" -> Seq("de", "la", "el"),
    "fr" -> Seq("le", "et", "les"),
    "de" -> Seq("der", "die", "und"))

  def markerCount(ws: Column, markers: Seq[String]): Column =
    size(filter(ws, w => markers.map(m => w === m).reduce(_ || _))).cast("long")

  def markerCountSql(markers: Seq[String]): String = {
    val cond = markers.map(m => s"x = '$m'").mkString(" OR ")
    s"CAST(len(list_filter(w, x -> $cond)) AS BIGINT)"
  }

  /** Gopher rule flags (q_gopher_rules body), factored out so the
    * spec can plant boundary documents: exactly-50-word, exactly-
    * mean-4.0, exactly-5%-short, exactly-2-stopword cases must land
    * on the keep side of each inequality. Expects doc_id, text,
    * n_chars; all-integer rule math (see the query's comment). */
  def gopherRules(df: DataFrame,
                  stopwords: Seq[String] = Seq("the", "a")): DataFrame = {
    val ws = split(col("text"), " ")
    val stopKinds = stopwords.map(w =>
        when(array_contains(ws, w), 1L).otherwise(0L))
      .reduce(_ + _)
    df.select(col("doc_id"),
        size(ws).cast("long").as("n_words"),
        (col("n_chars") - size(ws).cast("long") + 1L).as("sum_wlen"),
        size(filter(ws, w => length(w) <= 2)).cast("long").as("n_short"),
        stopKinds.as("n_stop_kinds"))
      .select(col("doc_id"), col("n_words"), col("n_short"),
        col("n_stop_kinds"),
        when(col("n_words") >= 50 && col("n_words") <= 100000, 1L)
          .otherwise(0L).as("r_wordcount"),
        when(col("sum_wlen") >= col("n_words") * 4 &&
             col("sum_wlen") <= col("n_words") * 10, 1L)
          .otherwise(0L).as("r_wlen"),
        when(col("n_short") * 20 <= col("n_words"), 1L)
          .otherwise(0L).as("r_short"),
        when(col("n_stop_kinds") >= 2, 1L).otherwise(0L).as("r_stop"))
      .withColumn("keep",
        col("r_wordcount") * col("r_wlen") * col("r_short") *
          col("r_stop"))
      .orderBy(col("doc_id"))
  }

  /** Quality score in [0,1]: length band, non-stopword ratio, average
    * word length band. Weights are engine config, not reference
    * semantics (the reference has no text ops). */
  def qualityColumns(df: DataFrame): DataFrame = {
    val ws = wordsCol
    val nWords = size(ws).cast("long")
    val stop = markerCount(ws, Seq("the", "a", "and", "of"))
    val avgWlen = (length(col("text")) - nWords + lit(1)).cast("double") / nWords
    df.select(col("doc_id"), col("n_chars"),
        nWords.as("n_words"), stop.as("n_stop"), Det.r4(avgWlen).as("avg_wlen"))
      .withColumn("stop_ratio",
        Det.r4(col("n_stop").cast("double") / col("n_words")))
      .withColumn("quality", Det.r4(
        lit(0.3) * least(col("n_words").cast("double") / 50.0, lit(1.0))
          + lit(0.4) * (lit(1.0) - col("stop_ratio"))
          + lit(0.3) * least(col("avg_wlen") / 10.0, lit(1.0))))
  }

  /** Rolling-hash document fingerprint: position-weighted sum of
    * portable token hashes mod 1e9+7. Order-sensitive (a permuted doc
    * fingerprints differently) yet engine-neutral and exact.
    * `h` defaults to the composed-Column hash (works on any session);
    * callers on a [[graft.GraftExtensions]] session pass the native
    * `graft_hash` for the codegen'd fast path. */
  def fingerprint(ws: Column,
                  h: Column => Column = PortableHash.h): Column =
    aggregate(
      transform(ws, (w, i) => ((i + lit(1)).cast("long")) * h(w)),
      lit(0L), (acc, x) => acc + x) % lit(1000000007L)

  val fingerprintSql: String = {
    val h = PortableHash.hSql("w[i]")
    s"CAST(list_sum([i * ($h) FOR i IN range(1, len(w)+1)]) % 1000000007 AS BIGINT)"
  }

  /** PII patterns, portable across Java regex (Spark) and RE2
    * (DuckDB): bounded quantifiers, character classes, `\b` — no
    * lookaround (RE2 has none), no backreferences. Leftmost-greedy
    * matching agrees between the engines for these shapes. */
  val EmailRe   = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re    = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val LongNumRe = "\\d{7,}"

  /** The synthetic corpus is a word soup with no PII, so the scored
    * query plants deterministic PII (email / IPv4 / long account
    * number, keyed off doc_id residues) before scanning — both
    * engines derive the same enriched text, so the oracle still
    * checks the REGEX machinery cross-engine, which is the part that
    * can diverge. Spark Column form and DuckDB SQL twin must stay in
    * lock-step. */
  def piiEnrich(text: Column, docId: Column): Column =
    concat(text,
      when(docId % 3 === 0,
        concat(lit(" contact user"), docId.cast("string"),
          lit("@example.com"))).otherwise(lit("")),
      when(docId % 5 === 0,
        concat(lit(" ip 10."), (docId % 200).cast("string"), lit("."),
          ((docId * 7) % 200).cast("string"), lit("."),
          (docId % 250 + 1).cast("string"))).otherwise(lit("")),
      when(docId % 7 === 0,
        concat(lit(" acct 4111"),
          lpad(docId.cast("string"), 12, "0"))).otherwise(lit("")))

  val piiEnrichSql: String =
    "text ||" +
      " CASE WHEN doc_id % 3 = 0 THEN ' contact user' ||" +
      " CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END ||" +
      " CASE WHEN doc_id % 5 = 0 THEN ' ip 10.' ||" +
      " CAST(doc_id % 200 AS VARCHAR) || '.' ||" +
      " CAST((doc_id * 7) % 200 AS VARCHAR) || '.' ||" +
      " CAST(doc_id % 250 + 1 AS VARCHAR) ELSE '' END ||" +
      " CASE WHEN doc_id % 7 = 0 THEN ' acct 4111' ||" +
      " lpad(CAST(doc_id AS VARCHAR), 12, '0') ELSE '' END"

  /** PII scan + redaction over a text column: per-doc match counts
    * for each pattern and the redacted text, pinned by length and
    * portable hash rather than re-emitting the corpus. Pure Column
    * regex work — codegen'd, shuffle-free, scan-parallel; at 100 TB
    * this runs at whatever rate the parquet scan runs.
    *
    * Redaction order matters and is fixed: emails first (an address
    * can embed digit runs), then IPv4 (dotted quads would otherwise
    * be eaten digit-group-wise by the number pass), then bare long
    * digit runs. Spark `regexp_replace` is global by default; the
    * DuckDB twin needs the explicit 'g' flag. */
  def piiColumns(df: DataFrame): DataFrame = {
    val etext = piiEnrich(col("text"), col("doc_id"))
    val red = regexp_replace(
      regexp_replace(
        regexp_replace(etext, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      LongNumRe, "<NUM>")
    df.select(col("doc_id"),
      size(regexp_extract_all(etext, lit(EmailRe), lit(0)))
        .cast("long").as("n_emails"),
      size(regexp_extract_all(etext, lit(Ipv4Re), lit(0)))
        .cast("long").as("n_ips"),
      size(regexp_extract_all(etext, lit(LongNumRe), lit(0)))
        .cast("long").as("n_longnums"),
      length(red).cast("long").as("redacted_len"),
      PortableHash.h(red).cast("long").as("redacted_hash"))
  }

  /** tf-idf: tf = term occurrences within a language's corpus,
    * df = number of distinct docs (globally) containing the term,
    * idf = ln(N/df). Returns one row per (lang, term). */
  def tfidf(docs: DataFrame): DataFrame = {
    val words = docs.select(col("doc_id"), col("lang"),
      explode(wordsCol).as("term"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val df = words.select(col("doc_id"), col("term")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val tf = words.groupBy(col("lang"), col("term")).agg(count(lit(1)).as("tf"))
    tf.join(broadcast(df), Seq("term"))
      .crossJoin(broadcast(n))
      .select(col("lang"), col("term"), col("tf"), col("df"),
        Det.r4(col("tf").cast("double") *
          log(col("n_docs").cast("double") / col("df").cast("double")))
          .as("score"))
  }
}
