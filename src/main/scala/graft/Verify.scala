package graft
import java.nio.file.{Files, Path, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Timeout-proof by construction (the round-6 postmortem: an rc-124 kill
  * at 80/105 dumped queries left an EMPTY correctness record because
  * `oracle_sql.json` was written only after the full loop):
  *   - `oracle_sql.json` is written FIRST — it is static w.r.t. the query
  *     loop, so a killed run still leaves every already-dumped parquet dir
  *     comparable by the driver;
  *   - a per-query `progress.jsonl` line is appended as each dump lands,
  *     so partial runs are auditable;
  *   - queries run cheapest-first (by the committed warm-pass times in
  *     BENCH_FULL.json when parseable, else registration order), so a
  *     kill at time T preserves the MOST rows possible.
  */
object Verify {
  /** Per-query warm-pass seconds from `dir/BENCH_FULL.json`, whose
    * "queries" object is flat {"name":sec,...}; a missing or
    * unparseable record gives an empty map (registration order). */
  def costOrder(dir: Path): Map[String, Double] = try {
    val txt = Files.readString(dir.resolve("BENCH_FULL.json"))
    val qobj = """"queries":\{([^}]*)\}""".r
      .findFirstMatchIn(txt).map(_.group(1)).getOrElse("")
    """"([^"]+)":([-0-9.eE]+)""".r.findAllMatchIn(qobj)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
  } catch { case _: Throwable => Map.empty[String, Double] }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1)
    // MUST precede any touch of the query/oracle registries: the
    // file-reading oracles template DialectFixtures.OracleSfDir into
    // their SQL at object init (DialectFixtures scaladoc).
    sys.props("graft.oracle.sfdir") = sfDir
    // optional trailing query names: dump only those (local iteration;
    // the driver always runs with exactly two args → full dump).
    // Unknown names fail fast — a typo would otherwise dump nothing
    // and exit 0, making the iteration run look complete.
    val only = args.drop(2).toSet
    val unknown = only.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = graft.core.Tuning.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Cheapest-first ordering: a timeout preserves the most dumped rows.
    val order = costOrder(Paths.get(Bench.repoDir))
    val progress = Paths.get(s"$outDir/progress.jsonl")
    // A rerun into a pre-existing outDir must not mix stale rows from a
    // prior run into the partial-run audit trail (Bench already deletes
    // BENCH_PARTIAL.jsonl first; mirror that here).
    try Files.deleteIfExists(progress) catch { case _: Throwable => () }
    // SIGTERM (driver timeout) → stop dumping instead of appending a
    // fail-fast "ok":false row per remaining query while Spark's own
    // shutdown hook tears the context down under us.
    @volatile var stopping = false
    Runtime.getRuntime.addShutdownHook(new Thread(() => stopping = true))
    SparkEntry.queries.toList
      .filter { case (name, _) => only.isEmpty || only(name) }
      .sortBy { case (name, _) => order.getOrElse(name, 1e9) }
      .iterator // lazy: takeWhile must observe `stopping` per element,
      .takeWhile(_ => !stopping) // not once at construction
      .foreach { case (name, fn) =>
        val t0 = System.nanoTime()
        val ok =
          try {
            fn(spark, sfDir).coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/$name")
            true
          } catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
            false
          }
        val sec = (System.nanoTime() - t0) / 1e9
        // Locale.ROOT: comma-decimal default locales would corrupt the JSON
        val f3 = String.format(java.util.Locale.ROOT, "%.3f", Double.box(sec))
        try Files.writeString(progress,
          s"""{"query":${q(name)},"ok":$ok,"sec":$f3}""" + "\n",
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.APPEND)
        catch { case _: Throwable => () }
      }
    spark.stop()
  }
}
