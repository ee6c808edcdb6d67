package graft.io

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Reference-dialect fixture generation for the end-to-end dialect
  * queries (q_movies_dialect / q_books_dialect).
  *
  * A real user's first act is pointing the engine at a ratings FILE in
  * one of the reference's two dialects — `user|item|rating` MovieLens
  * lines (`moviesSimilarities.py ≈L63` [R]) or `;`-separated
  * double-quoted Book-Crossing CSV (`vectorSimilarities.py ≈L168–184`
  * [R]). These helpers render the testdata ratings view INTO those
  * dialects on local disk, so the scored queries exercise the full
  * text-file → parse → pipeline path under the DuckDB oracle
  * (`read_csv` over the same files).
  *
  * Each sf dir renders into its OWN fixture directory (keyed by the
  * sf dir's leaf name), so a bench at sf0.1 and a verify at sf0.01
  * never overwrite each other's files; the oracle SQL templates in
  * the path for [[OracleSfDir]], the dir the driver's DuckDB verify
  * runs against. A `_GRAFT_SRC` marker records which full source dir
  * a fixture was rendered from: a matching marker skips the re-render
  * (cross-process memoization), a MISMATCHED one — two source dirs
  * sharing a leaf name — fails loudly instead of silently serving the
  * other dir's rows.
  *
  * Ratings render through DECIMAL(14,4) so both engines re-parse the
  * identical double (raw double→string formatting is engine-specific —
  * the q_semicolon_protocol lesson). The render writes with full
  * parallelism (a `coalesce(1)` single-writer tripled the query's
  * bench time); both the Spark re-read (directory) and the DuckDB
  * oracle (`part-*.txt` glob) are part-count-agnostic.
  */
object DialectFixtures {
  import java.nio.file.{Files, Paths}

  /** Fixture base: `-Dgraft.fixture.dir=...` when set, else
    * `<user.dir>/target/dialect`, so each checkout renders its own. */
  val BaseDir: String = baseDir(sys.props.get("graft.fixture.dir"))

  private[graft] def baseDir(prop: Option[String]): String =
    prop.getOrElse(sys.props.getOrElse("user.dir", ".") + "/target/dialect")

  /** The sf dir the driver's DuckDB verify runs against (builder-
    * prompt contract: verify is always sf0.01) — the oracle SQL
    * strings template in THIS dir's fixture paths. The driver
    * contract makes `SparkEntry.oracleSql` dir-INDEPENDENT, so
    * file-reading oracles must pin some dir; `graft.Verify` sets the
    * `graft.oracle.sfdir` property from its actual sfDir argument
    * before any oracle map materializes (found by the round-14 sf0.1
    * full verify: the three ratings-scaled text-dialect oracles read
    * the sf0.01 fixture while the engine read sf0.1's). A verify
    * against a dir whose fixture was never rendered fails loudly in
    * `read_csv` (missing path) rather than silently comparing
    * against the wrong rows. */
  val OracleSfDir: String =
    sys.props.getOrElse("graft.oracle.sfdir", "/root/testdata/sf0.01")

  private[io] def leaf(dir: String): String =
    Paths.get(dir).normalize().getFileName.toString

  def moviesPath(dir: String): String = s"$BaseDir/${leaf(dir)}/movies"
  def booksPath(dir: String): String = s"$BaseDir/${leaf(dir)}/books"

  /** One fixture path's render state: the canonical source dir it
    * was rendered from in this JVM, set under the cell's own lock (the
    * [[graft.core.Cache]] cell discipline), so racing first callers
    * of one path wait for the single render and a render that throws
    * leaves the cell empty for the next caller. */
  private final class Render { @volatile var src: Option[String] = None }
  private val renders = new ConcurrentHashMap[String, Render]

  /** Canonical form used for marker comparison: the same source dir
    * spelled differently (trailing slash, `//`, relative path) must
    * compare equal, or a re-run with an equivalent spelling would
    * throw the collision error. */
  private def canon(dir: String): String =
    Paths.get(dir).toAbsolutePath.normalize().toString

  /** Render-once guard: in-JVM, one render per fixture path under the
    * path's lock; across processes, the on-disk `_GRAFT_SRC` marker.
    * Throws if an existing fixture was rendered from a DIFFERENT
    * source dir with the same leaf name. */
  private[io] def once(path: String, dir: String)(write: => Unit): Unit = {
    val src = canon(dir)
    val cell = renders.computeIfAbsent(path, _ => new Render)
    // a call from a different source dir must reach the marker check
    // below (and throw), not silently reuse this JVM's render
    if (!cell.src.contains(src)) cell.synchronized {
      if (!cell.src.contains(src)) {
        val marker = Paths.get(path, "_GRAFT_SRC")
        val existing =
          if (Files.exists(marker)) Some(Files.readString(marker).trim) else None
        existing match {
          case Some(`src`) => () // already rendered
          case Some(other) =>
            throw new IllegalStateException(
              s"dialect fixture $path was rendered from '$other' but '$dir' " +
                "was requested — two source dirs share a leaf name; set " +
                "-Dgraft.fixture.dir to separate them")
          case None =>
            write
            Files.createDirectories(marker.getParent)
            Files.writeString(marker, src)
        }
        cell.src = Some(src)
      }
    }
  }

  def docsDriftPath(dir: String): String =
    s"$BaseDir/${leaf(dir)}/docs_drift"

  /** Two parquet "generations" of the corpus under one root — the
    * schema-evolution layout every long-lived lakehouse table grows:
    * gen=1 (even doc_ids) carries the original five columns; gen=2
    * (odd doc_ids) adds a `quality` BIGINT (deterministically
    * n_chars % 7, so the oracle can replay it from the base table).
    * Reading the root demands `mergeSchema` — a reader pinned to one
    * file's schema silently drops the new column or fails on the old
    * files. */
  def writeDocsDrift(spark: SparkSession, dir: String): String = {
    val path = docsDriftPath(dir)
    once(path, dir) {
      val docs = Sources.table(spark, dir, "documents")
      docs.where(col("doc_id") % 2 === 0)
        .write.mode("overwrite").parquet(s"$path/gen=1")
      docs.where(col("doc_id") % 2 === 1)
        .withColumn("quality", (col("n_chars") % 7).cast("long"))
        .write.mode("overwrite").parquet(s"$path/gen=2")
    }
    path
  }

  /** `user|item|rating` pipe dialect; returns the directory path. */
  def writeMovies(spark: SparkSession, dir: String): String = {
    val path = moviesPath(dir)
    once(path, dir) {
      Sources.ratings(spark, dir)
        .select(concat_ws("|",
          col("user_id").cast("string"), col("item_id").cast("string"),
          col("rating").cast("decimal(14,4)").cast("string")).as("value"))
        .write.mode("overwrite").text(path)
    }
    path
  }

  def docsJsonlPath(dir: String): String =
    s"$BaseDir/${leaf(dir)}/docs_jsonl"

  /** The document corpus rendered as JSON Lines — the interchange
    * format web-scale text corpora actually ship in (one JSON object
    * per line; Spark's json source/sink is splittable line-wise, so a
    * 100 TB JSONL dump scans with full parallelism). Written with
    * full write parallelism like the ratings dialects. */
  def writeDocsJsonl(spark: SparkSession, dir: String): String = {
    val path = docsJsonlPath(dir)
    once(path, dir) {
      Sources.table(spark, dir, "documents")
        .write.mode("overwrite").json(path)
    }
    path
  }

  def docsOrcPath(dir: String): String =
    s"$BaseDir/${leaf(dir)}/docs_orc"

  /** The document corpus rendered as ORC — the second columnar
    * interchange format (hive-ecosystem corpora ship ORC where the
    * lakehouse world ships parquet). Spark's orc source/sink is
    * splittable by stripe, so the roundtrip check exercises a real
    * alternative scan path, not a re-skinned parquet read. */
  def writeDocsOrc(spark: SparkSession, dir: String): String = {
    val path = docsOrcPath(dir)
    once(path, dir) {
      Sources.table(spark, dir, "documents")
        .write.mode("overwrite").orc(path)
    }
    path
  }

  def docsXmlPath(dir: String): String =
    s"$BaseDir/${leaf(dir)}/docs_xml"

  /** The document corpus rendered as XML through Spark 4's built-in
    * XML source (the spark-xml package merged upstream) — the fourth
    * interchange format beside JSONL/ORC/CSV, and the one whose
    * escaping rules differ most from the others: `<`, `&` and quotes
    * in document text must cross entity-encoding intact or the
    * roundtrip text-hash summary moves. */
  def writeDocsXml(spark: SparkSession, dir: String): String = {
    val path = docsXmlPath(dir)
    once(path, dir) {
      Sources.table(spark, dir, "documents")
        .write.mode("overwrite")
        .option("rootTag", "docs").option("rowTag", "doc")
        .format("xml").save(path)
    }
    path
  }

  def docsAvroPath(dir: String): String =
    s"$BaseDir/${leaf(dir)}/docs_avro"

  /** The document corpus rendered as Avro object-container files —
    * the fifth interchange format (r13 park item, unblocked via the
    * core avro library already on the classpath: AvroInterchange). */
  def writeDocsAvro(spark: SparkSession, dir: String): String = {
    val path = docsAvroPath(dir)
    once(path, dir) {
      AvroInterchange.write(Sources.table(spark, dir, "documents"), path)
    }
    path
  }

  def docsCsvPath(dir: String): String =
    s"$BaseDir/${leaf(dir)}/docs_csv"

  /** The document corpus rendered as quoted CSV — the third
    * interchange format beside JSONL and ORC. The extra `tag` column
    * embeds a comma (`source,lang`) so the quote/escape machinery is
    * genuinely exercised: an unquoted writer or a naive
    * split-on-comma reader shifts every subsequent field and the
    * roundtrip summary moves. */
  def writeDocsCsv(spark: SparkSession, dir: String): String = {
    val path = docsCsvPath(dir)
    once(path, dir) {
      Sources.table(spark, dir, "documents")
        .withColumn("tag", concat_ws(",", col("source"), col("lang")))
        .write.mode("overwrite").option("header", "true").csv(path)
    }
    path
  }

  def docsHtmlPath(dir: String): String =
    s"$BaseDir/${leaf(dir)}/docs_html"

  /** The document corpus rendered as full HTML pages — the WARC→text
    * fixture for the scored main-text extraction query
    * (q_html_extract). Each page wraps the doc's (entity-encoded)
    * text in a content `<p>` between realistic boilerplate: a head
    * with title/style/script, a nav of links, a short heading, a
    * footer with a copyright line and link row. Every wrapper string
    * is a fixed literal (plus the doc_id digits), so the DuckDB
    * oracle reconstructs the identical page text and PREDICTS the
    * extraction output from the formula — the engine's generic
    * tag-strip/segmentation/density pipeline must earn every cell.
    * Inline `<b>/<i>` markup and a literal `&amp;` inside the content
    * block force the inline-strip and entity-decode paths. */
  def writeDocsHtml(spark: SparkSession, dir: String): String = {
    val path = docsHtmlPath(dir)
    once(path, dir) {
      val ids = col("doc_id").cast("string")
      val enc = regexp_replace(regexp_replace(regexp_replace(
        col("text"), "&", "&amp;"), "<", "&lt;"), ">", "&gt;")
      Sources.table(spark, dir, "documents")
        .select(col("doc_id"), concat(
          lit("<!DOCTYPE html><html><head><title>Doc "), ids,
          lit("</title><style>body{margin:0;color:#222}</style>" +
            "<script>var t="), ids,
          lit(";track(t);</script></head><body><nav>" +
            "<a href=\"/\">Home</a> <a href=\"/about\">About</a> " +
            "<a href=\"/contact\">Contact</a></nav>" +
            "<div id=\"main\"><h1>Doc "), ids,
          lit("</h1><p>Lead <b>bold</b> &amp; <i>ital</i>: "), enc,
          lit("</p></div><footer><p>(c) Example Corp</p>" +
            "<p><a href=\"/terms\">Terms</a> " +
            "<a href=\"/privacy\">Privacy</a></p></footer>" +
            "</body></html>")).as("html"))
        .write.mode("overwrite").parquet(path)
    }
    path
  }

  def docsWarcPath(dir: String): String =
    s"$BaseDir/${leaf(dir)}/docs_warc"

  /** Each page of the HTML fixture wrapped in a WARC/1.0 response
    * record envelope — the acquisition format every CC-scale corpus
    * build starts from. The envelope is real (version line, typed
    * headers, Content-Length in BYTES, CRLF framing, trailing record
    * separator); one record per row stands in for the record stream
    * (at crawl scale records are per-record-gzip members, so the
    * container splits at record boundaries exactly like a row-per-
    * record column does here). Records where doc_id % 13 == 5 state a
    * Content-Length 7 bytes LONGER than the payload — the deliberate
    * malformation class a parser must flag (len_ok = 0), never crash
    * on and never silently pass. Header literals MUST stay
    * byte-identical to the q_warc_records oracle's. */
  def writeDocsWarc(spark: SparkSession, dir: String): String = {
    val path = docsWarcPath(dir)
    once(path, dir) {
      val html = spark.read.parquet(writeDocsHtml(spark, dir))
      val ids = col("doc_id").cast("string")
      val stated = (octet_length(col("html")) +
        when(col("doc_id") % 13 === 5, 7).otherwise(0)).cast("string")
      html.select(col("doc_id"), concat(
          lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: " +
            "<urn:uuid:"), ids,
          lit(">\r\nWARC-Target-URI: http://example.org/doc/"), ids,
          lit("\r\nContent-Type: application/http\r\nContent-Length: "),
          stated, lit("\r\n\r\n"), col("html"), lit("\r\n\r\n"))
        .as("warc"))
        .write.mode("overwrite").parquet(path)
    }
    path
  }

  def robotsPath(dir: String): String =
    s"$BaseDir/${leaf(dir)}/robots"

  /** One robots.txt per host (host = the documents `source` value,
    * k = its numeric suffix): a `special-bot` group whose blanket
    * `Disallow: /` must NOT leak into generic-crawler admission, a
    * comment line, then the `User-agent: *` group — empty `Disallow:`
    * (no restriction) for hosts with k % 4 == 1, else two prefixes
    * (`/p{k % 3}` and `/secret`). Rule literals MUST stay
    * byte-identical to the q_robots_* oracles' predictions. */
  def writeRobots(spark: SparkSession, dir: String): String = {
    val path = robotsPath(dir)
    once(path, dir) {
      val k = regexp_extract(col("source"), "src([0-9]+)", 1)
        .cast("long")
      Sources.table(spark, dir, "documents")
        .select(col("source").as("host"), k.as("k")).distinct()
        .select(col("host"), concat(
          lit("# robots for host "), col("host"), lit("\n"),
          lit("User-agent: special-bot\nDisallow: /\n\n"),
          lit("User-agent: *\n"),
          when(col("k") % 4 === 1, lit("Disallow:\n"))
            .otherwise(concat(lit("Disallow: /p"),
              (col("k") % 3).cast("string"),
              lit("\nDisallow: /secret\n")))).as("robots"))
        .write.mode("overwrite").parquet(path)
    }
    path
  }

  def corruptPath(dir: String): String = s"$BaseDir/${leaf(dir)}/corrupt"

  /** The movies pipe dialect with DETERMINISTIC corruption: rows
    * whose user_id % 97 == 0 render a non-numeric rating
    * (`x`-prefixed). Field counts stay correct everywhere — the
    * corruption is strictly a type failure, the one malformation
    * Spark's PERMISSIVE CSV reader and DuckDB's TRY_CAST classify
    * identically (token-count semantics differ between engines, so a
    * fixture must not rely on them). Both the scored query and the
    * oracle can predict bad rows from user_id alone. */
  def writeCorrupt(spark: SparkSession, dir: String): String = {
    val path = corruptPath(dir)
    once(path, dir) {
      val dec = col("rating").cast("decimal(14,4)").cast("string")
      Sources.ratings(spark, dir)
        .select(concat_ws("|",
          col("user_id").cast("string"), col("item_id").cast("string"),
          when(col("user_id") % 97 === 0, concat(lit("x"), dec))
            .otherwise(dec)).as("value"))
        .write.mode("overwrite").text(path)
    }
    path
  }

  /** `"user";"item";"rating"` quoted semicolon dialect. */
  def writeBooks(spark: SparkSession, dir: String): String = {
    val path = booksPath(dir)
    once(path, dir) {
      Sources.ratings(spark, dir)
        .select(concat(
          lit("\""), col("user_id").cast("string"),
          lit("\";\""), col("item_id").cast("string"),
          lit("\";\""), col("rating").cast("decimal(14,4)").cast("string"),
          lit("\"")).as("value"))
        .write.mode("overwrite").text(path)
    }
    path
  }
}
