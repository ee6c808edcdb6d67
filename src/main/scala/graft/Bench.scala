package graft
import org.apache.spark.SparkEnv
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import java.nio.file.{Files, Paths, StandardOpenOption}

/** Benchmark main. Prints ONE compact JSON line (the driver contract)
  * and writes the FULL result to `BENCH_FULL.json` in the repo root.
  * A caller that keeps only a few KB of log tail still gets the whole
  * printed line, so it is kept short (3-decimal times) and the
  * complete record lives in the file.
  *
  * Two back-to-back timed sweeps: pass 1 lands one-time costs that
  * escaped the shared build (JIT, codegen caches, parquet footer
  * reads, persist fills); pass 2 — the `queries` field and the
  * headline `value` — is the comparable number across runs (single-
  * pass runs of the same code swing with co-tenant noise). `value` =
  * `_shared_build` + warm-pass sum, matching BASELINE.md's accounting.
  *
  * Attribution: the session-shared snapshot
  * builds run FIRST, serially, one timer per NAMED component — the
  * `_shared:<name>` rows in `queries` — so no first-touch snapshot
  * cost ever lands on whichever query happens to run first in the
  * cold sweep. `_shared_build` is the components' sum. Every query
  * row carries the 1-min load average at START and END (a 50 s
  * query's start stamp alone understates co-tenant noise).
  *
  * The warm pass is NEVER skipped (a cold-only record cannot be
  * compared). If the wall budget
  * (`SPARK_GRAFT_TIME_BUDGET_SEC`, default 2100 s) runs short, the
  * warm sweep is TRUNCATED mid-pass instead — cheapest-first order
  * maximizes how many queries get a warm number, unreached queries
  * keep their cold time in the merged `queries` map, and the record
  * is flagged `warm_partial` with the measured count.
  *
  * Load-transient guard: a shared build reading >1.5× the same-host
  * baseline is rerun ONCE in a fresh session
  * — the rerun measures the build, not cache hits, because the first
  * session's caches die with its context. The first measurement
  * stays the recorded `shared_build_sec` (and `_shared_build`); the
  * rerun rides beside it as `shared_rerun_sec`, so a slower rerun can
  * never replace it. The baseline comes from [[sharedBaseline]]:
  * BENCH_SHARED_HISTORY.jsonl (appended by every full run of this
  * main, read only for un-rerun lines of the same sf dir and core
  * count), else BENCH_FULL.json's `shared_build_sec` when that
  * record states the run's `sf` and `cpus`; a missing baseline is
  * LOGGED, never a silent None.
  *
  * Test/iteration envs (all flagged in the record so a filtered run
  * can never be mistaken for a full one):
  *  - `SPARK_GRAFT_BENCH_ONLY` — comma-separated query subset;
  *  - `SPARK_GRAFT_BENCH_OUT` — full-record filename (default
  *    BENCH_FULL.json; the fire test must not clobber the cost-order
  *    source);
  *  - `SPARK_GRAFT_SHARED_MEDIAN_OVERRIDE` — forces the guard's
  *    baseline, validating the FIRE path end-to-end.
  * Runs with any of these set do NOT append to the history file.
  *
  * Codegen: each sweep's generated-class compiles (Spark's
  * `CodegenMetrics` counter) and their compile seconds
  * (`CodeGenerator.compileTime`) go into the full record as
  * `codegen_compiles_{cold,warm}` and `codegen_compile_sec_{cold,warm}`,
  * so a full run shows how much of the warm pass still recompiles.
  * Beside them, `broadcast_bytes_retained` is the storage memory that
  * holds no cached RDD at the end of the run, read after full
  * collections: on a local driver, the broadcasts that cached plans
  * still pin ([[graft.core.Cache.getOrPersist]]). `cached_bytes` is
  * the cached RDDs' in-memory bytes, read at the same point.
  *
  * Timeout-proof (a run killed by a timeout still leaves numbers):
  *   - every finished query appends a line to `BENCH_PARTIAL.jsonl`;
  *   - a JVM shutdown hook prints the driver-contract line from whatever
  *     completed (marked `"partial":true`) if the normal print never ran —
  *     `timeout(1)` sends SIGTERM, which runs hooks;
  *   - sweeps run cheapest-first (committed BENCH_FULL.json warm times),
  *     so a kill mid-sweep preserves the most per-query numbers.
  */
object Bench {
  /** Repo root for records/partials: env override, else the launch
    * cwd (sbt and gate.sh both run from the checkout), never a
    * hardcoded path: a run from another checkout must read and write
    * its own records. */
  private[graft] def repoDir: String =
    sys.env.getOrElse("SPARK_GRAFT_REPO_DIR",
      sys.props.getOrElse("user.dir", "."))

  /** Trailing shared-build baseline for the load-transient guard, in
    * precedence order; returns (seconds, source) so the guard can log
    * WHAT it compared against. Only records of the run's host shape
    * count: with `cpus` given, a record that does not state that core
    * count came from another host and is skipped. */
  private[graft] def sharedBaseline(dir: java.nio.file.Path,
      sfDir: Option[String] = None,
      cpus: Option[Int] = None): Option[(Double, String)] = {
    import scala.jdk.CollectionConverters._
    def median(vs: Seq[Double]): Option[Double] =
      if (vs.isEmpty) None else Some(vs.sorted.apply(vs.size / 2))
    val sfRe = """"sf":"([^"]*)"""".r
    val cpusRe = """"cpus":([0-9]+)""".r
    // (a) our own durable history: one line per completed full run.
    // Only first measurements that did not trip the guard count (a
    // tripped one is a transient by definition). Lines are filtered
    // to the CURRENT sf dir when given (one full run against sf0.001
    // would otherwise inject a tiny shared-build time and skew the
    // 1.5× guard baseline); lines without an sf field are kept for
    // back-compat. With `cpus` given, only lines of that core count
    // are kept: a line without one came from another host.
    val hist = dir.resolve("BENCH_SHARED_HISTORY.jsonl")
    val fromHist: Option[(Double, String)] = try {
      if (!Files.exists(hist)) None
      else {
        val re = """"shared_build_sec":([0-9.]+)""".r
        val vals = Files.readAllLines(hist).asScala.toSeq
          .filter(_.contains("\"rerun\":false"))
          .filter(l => sfDir.forall(want =>
            sfRe.findFirstMatchIn(l).forall(_.group(1) == want)))
          .filter(l => cpus.forall(want =>
            cpusRe.findFirstMatchIn(l).exists(_.group(1).toInt == want)))
          .flatMap(l => re.findFirstMatchIn(l).map(_.group(1).toDouble))
          .takeRight(5)
        median(vals).map(_ -> s"history median of last ${math.min(5, vals.size)}")
      }
    } catch { case _: Throwable => None }
    // (b) the last local full record (single value, weakest), only
    // when it states the run's sf dir and core count
    val fromFull: Option[(Double, String)] = try {
      val p = dir.resolve("BENCH_FULL.json")
      if (!Files.exists(p)) None
      else {
        val txt = Files.readString(p)
        val sameRun =
          sfDir.forall(want => sfRe.findFirstMatchIn(txt).exists(_.group(1) == want)) &&
            cpus.forall(want => cpusRe.findFirstMatchIn(txt).exists(_.group(1).toInt == want))
        """"shared_build_sec":([0-9.]+)""".r.findFirstMatchIn(txt)
          .filter(_ => sameRun)
          .map(m => m.group(1).toDouble -> "BENCH_FULL.json shared_build_sec")
      }
    } catch { case _: Throwable => None }
    fromHist.orElse(fromFull)
  }

  /** One BENCH_SHARED_HISTORY.jsonl line. The first measurement is
    * the recorded `shared_build_sec`, whatever a guard rerun reads;
    * the rerun rides beside it and marks the line `"rerun":true`, which
    * keeps it out of [[sharedBaseline]]'s median. */
  private[graft] def historyLine(first: Double, rerun: Option[Double],
      sfDir: String, cpus: Int): String =
    s"""{"shared_build_sec":${f3(first)},"rerun":${rerun.isDefined},""" +
      rerun.fold("")(r => s""""rerun_sec":${f3(r)},""") +
      s""""sf":"$sfDir","cpus":$cpus}"""

  /** Generated classes compiled so far in this JVM, and their compile
    * seconds (Spark's exact nanosecond total; the metric's histogram
    * keeps only a sample of durations). */
  private def codegen(): (Long, Double) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      CodeGenerator.compileTime / 1e9)

  /** (broadcast, cached) bytes in storage memory once full collections
    * stop freeing it: storage memory minus the cached RDDs' in-memory
    * bytes (the broadcast blocks still reachable), and those bytes.
    * Spark's cleaner drops an unreachable broadcast only after a
    * collection has found it, so this collects until a round frees
    * nothing. */
  private[graft] def storageRetained(spark: SparkSession): (Long, Long) = {
    def collect(): (Long, Long) = {
      System.gc()
      Thread.sleep(200) // lets the cleaner thread act on what was found
      val cached = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum
      (SparkEnv.get.memoryManager.storageMemoryUsed - cached, cached)
    }
    var prev = collect()
    var cur = collect()
    var i = 0
    while (cur._1 < prev._1 && i < 5) { prev = cur; cur = collect(); i += 1 }
    cur
  }

  private[graft] def broadcastBytesRetained(spark: SparkSession): Long =
    storageRetained(spark)._1

  @volatile private var finalPrinted = false
  @volatile private var stopping = false
  // (pass, name, sec) in completion order; read by the shutdown hook.
  private val done =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, String, Double)]
  @volatile private var sharedSec = 0.0
  @volatile private var sharedRows = Seq.empty[(String, Double)]
  @volatile private var sfDirG = ""
  @volatile private var outNameG = "BENCH_FULL.json"

  private def f3(v: Double): String =
    // Locale.ROOT: f"%.3f" under a comma-decimal default locale
    // (de_DE, fr_FR) would print 12,345 and corrupt the JSON
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  private def obj(entries: Seq[(String, Double)], fmt: Double => String) =
    entries.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")

  private def compactLine(
      queries: Seq[(String, Double)], total: Double, coldSum: Double,
      flags: String): String =
    // shared-build decomposition rides its OWN field (mirroring
    // BENCH_FULL's shared_components), NOT the queries object: a
    // consumer reconstructing value = _shared_build + sum(queries)
    // must not double-count the components. Components skipped by a
    // mid-run SIGTERM (0.0 stubs) are dropped, not reported as
    // misleading 0.000 rows.
    s"""{"metric":"total","value":${f3(total)},"unit":"sec"""" +
      s""","queries":${obj(("_shared_build" -> sharedSec) +: queries, f3)}""" +
      s""","shared_components":${obj(
        sharedRows.filter(_._2 > 0.0), f3)}""" +
      s""","sf":"$sfDirG","cold_total":${f3(coldSum)}$flags""" +
      s""","detail":"$outNameG"}"""

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sfDirG = sfDir
    outNameG = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL.json")
    val budget =
      sys.env.getOrElse("SPARK_GRAFT_TIME_BUDGET_SEC", "2100").toDouble
    val tStart = System.nanoTime()
    def elapsed = (System.nanoTime() - tStart) / 1e9
    def mkSession(): SparkSession = {
      val s = graft.core.Tuning.builder().getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }
    // var: the shared-build transient guard below may replace the
    // session wholesale (a rerun against warm caches would measure
    // cache hits, not the build)
    var spark = mkSession()

    // If SIGTERM'd (driver timeout), salvage the run. A warm pass killed
    // 2 queries in must NOT report shared + 2 warm times as the total —
    // that understates the run and reads as a bogus speedup. Merge the
    // passes per-query: warm time where the warm pass reached the query,
    // that query's cold time otherwise, so the partial total stays
    // comparable to a full run. The `stopping` flag also halts the sweep
    // loop — post-shutdown queries would otherwise fail in milliseconds
    // and pollute the record with bogus near-zero times.
    val hook = new Thread(() => {
      stopping = true
      if (!finalPrinted) {
        val rows = done.toArray(Array.empty[(String, String, Double)])
        val warm = rows.collect { case ("warm", n, s) => n -> s }.toSeq
        val cold = rows.collect { case ("cold", n, s) => n -> s }.toSeq
        val warmByName = warm.toMap
        val merged =
          if (warm.isEmpty) cold
          else cold.map { case (n, s) => n -> warmByName.getOrElse(n, s) }
        val total = sharedSec + merged.map(_._2).sum
        val pass = if (warm.isEmpty) "cold"
                   else if (warmByName.size < cold.size) "merged" else "warm"
        println(compactLine(merged, total, cold.map(_._2).sum,
          s""","partial":true,"pass":"$pass""""))
        System.out.flush()
      }
    })
    Runtime.getRuntime.addShutdownHook(hook)

    val partialPath = Paths.get(repoDir, "BENCH_PARTIAL.jsonl")
    try Files.deleteIfExists(partialPath) catch { case _: Throwable => () }
    def flush(pass: String, name: String, sec: Double,
              load: Double, loadEnd: Double): Unit = {
      // A query in flight at SIGTERM fails when Spark tears down; its
      // truncated elapsed time is not a measurement — drop it.
      if (stopping) return
      done.add((pass, name, sec))
      try Files.writeString(partialPath,
        s"""{"pass":"$pass","query":"$name","sec":${f3(sec)},""" +
          s""""load":${f3(load)},"load_end":${f3(loadEnd)}}""" + "\n",
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      catch { case _: Throwable => () }
    }

    def loadAvg: Double =
      java.lang.management.ManagementFactory
        .getOperatingSystemMXBean.getSystemLoadAverage
    val load0 = loadAvg
    // One-time session-shared builds, one NAMED component at a time
    // (serial — overlapping them would make the per-component timers
    // lie about wall cost; attribution outranks the wall-time saving
    // here because every later cold number reads against these rows).
    def runShared(pass: String): Seq[(String, Double, Double, Double)] =
      SparkEntry.sharedComponents.map { case (name, f) =>
        if (stopping) (name, 0.0, 0.0, 0.0)
        else {
          val lq = loadAvg
          val t0 = System.nanoTime()
          try f(spark, sfDir) catch { case _: Throwable => () }
          val sec = (System.nanoTime() - t0) / 1e9
          val le = loadAvg
          flush(pass, s"_$pass:$name", sec, lq, le)
          (name, sec, lq, le)
        }
      }
    val sharedL = runShared("shared")
    sharedRows = sharedL.map { case (n, s, _, _) => n -> s }
    val shared = sharedRows.map(_._2).sum
    sharedSec = shared

    // Shared-build load-transient guard: if this run's shared total
    // reads >1.5× the same-host baseline ([[sharedBaseline]]), rerun
    // it ONCE in a FRESH session (the caches die with the stopped
    // context, so the rerun measures the build, not cache hits) and
    // record the rerun beside the first measurement, which stays the
    // recorded value. SPARK_GRAFT_SHARED_MEDIAN_OVERRIDE: test-only
    // forced baseline, the only way to exercise the fire path
    // deterministically; flagged via benchOnly/outName, never
    // appended to history.
    val overrideMedian =
      sys.env.get("SPARK_GRAFT_SHARED_MEDIAN_OVERRIDE").map(_.toDouble)
    val trailingMedian: Option[Double] = overrideMedian.orElse {
      sharedBaseline(Paths.get(repoDir), Some(sfDir),
          Some(graft.core.Tuning.cpus)) match {
        case Some((v, src)) =>
          System.err.println(f"[bench] shared-build baseline $v%.1f s ($src)")
          Some(v)
        case None =>
          System.err.println("[bench] no shared-build baseline found " +
            "(checked BENCH_SHARED_HISTORY.jsonl, BENCH_FULL.json) - " +
            "transient guard disabled this run")
          None
      }
    }
    val rerunL =
      if (stopping || !trailingMedian.exists(m => shared > 1.5 * m)) None
      else {
        System.err.println(f"[bench] shared build $shared%.1f s > 1.5x " +
          f"trailing median ${trailingMedian.get}%.1f s - rerunning in " +
          "a fresh session")
        spark.stop()
        spark = mkSession()
        Some(runShared("shared_rerun"))
      }
    val rerunSec = rerunL.map(_.map(_._2).sum)

    // Cheapest-first: a mid-sweep kill preserves the most numbers; order
    // comes from the previous committed record, absent → registration order.
    val costOrder = Verify.costOrder(Paths.get(repoDir))
    // SPARK_GRAFT_BENCH_ONLY: iteration/fire-test subset — flagged in
    // the record ("bench_only") so a filtered run is never mistaken
    // for a full one; unknown names fail fast like Verify's arg check.
    val benchOnly: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    benchOnly.foreach { o =>
      val unknown = o.diff(SparkEntry.queries.keySet)
      require(unknown.isEmpty, s"SPARK_GRAFT_BENCH_ONLY unknown: ${unknown.mkString(", ")}")
    }
    val ordered = SparkEntry.queries.toList
      .filter { case (n, _) => benchOnly.forall(_.contains(n)) }
      .sortBy { case (name, _) => costOrder.getOrElse(name, 1e9) }

    // Per-query 1-min load average, stamped at query START and END —
    // the round-9 postmortem: run-level load_avg_start/end (3.15→15.0)
    // could not attribute which warm outliers were co-tenant noise,
    // and a START-only stamp understates a long query's exposure.
    // `stopAt`: the warm pass truncates on budget rather than being
    // skipped wholesale — unreached queries keep cold numbers.
    def sweep(pass: String, stopAt: Double)
        : List[(String, Double, Double, Double)] = ordered.iterator
      .takeWhile(_ => !stopping && elapsed < stopAt)
      .map { case (name, fn) =>
        val lq = loadAvg
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() } catch { case _: Throwable => -1L }
        val sec = (System.nanoTime() - t0) / 1e9
        val le = loadAvg
        flush(pass, name, sec, lq, le)
        (name, sec, lq, le)
      }.toList
    // The cold pass never truncates on its own (every query needs at
    // least one number; the SIGTERM hook covers a hard driver kill);
    // the warm pass then uses whatever budget remains, up to a 5%
    // print/teardown reserve. NEVER skip the warm pass outright — a
    // cold-only artifact cannot be band-compared across rounds.
    val cg0 = codegen()
    val coldL = sweep("cold", Double.MaxValue)
    val cg1 = codegen()
    val cold = coldL.map { case (n, s, _, _) => n -> s }
    // Guaranteed warm window: if the cold pass already ate the 95%
    // mark (observed in the tight-budget shakeout: warm_measured=0 —
    // a cold-only artifact again, exactly what this protocol exists
    // to prevent), still give the warm sweep 15% of the budget. The
    // SIGTERM salvage hook covers the case where that overrun meets
    // the driver's hard timeout — a partial-merged record beats a
    // warmless one.
    val warmL = sweep("warm", math.max(budget * 0.95,
      elapsed + budget * 0.15))
    val cg2 = codegen()
    val (retained, cachedBytes) = storageRetained(spark)
    val warmMeasured = warmL.map { case (n, s, _, _) => n -> s }
    val warmByName = warmMeasured.toMap
    val warmPartial = warmMeasured.size < cold.size
    // merged per-query map: warm where measured, cold elsewhere — the
    // comparable accounting whether or not the pass truncated
    val warm = cold.map { case (n, s) => n -> warmByName.getOrElse(n, s) }
    val loadEnd = loadAvg
    val coldSum = cold.map(_._2).sum
    val warmSum = warm.map(_._2).sum
    val total = shared + warmSum

    def sharedObj(l: Seq[(String, Double, Double, Double)]) =
      obj(l.map { case (n, s, _, _) => s"_shared:$n" -> s }, _.toString)
    val rerunFields = rerunL.fold("") { l =>
      s""","shared_rerun_sec":${rerunSec.get},""" +
        s""""shared_rerun_components":${sharedObj(l)}""" }
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec",
         |"sf":"$sfDir","cpus":${graft.core.Tuning.cpus},
         |"shared_build_sec":$shared,
         |"shared_components":${sharedObj(sharedL)},
         |"shared_load":${obj(
            sharedL.map { case (n, _, l, _) => s"_shared:$n" -> l }, f3)},
         |"cold_pass_sec":$coldSum,"warm_pass_sec":$warmSum,
         |"shared_rerun":${rerunL.isDefined}$rerunFields,
         |"codegen_compiles_cold":${cg1._1 - cg0._1},
         |"codegen_compiles_warm":${cg2._1 - cg1._1},
         |"codegen_compile_sec_cold":${cg1._2 - cg0._2},
         |"codegen_compile_sec_warm":${cg2._2 - cg1._2},
         |"broadcast_bytes_retained":$retained,"cached_bytes":$cachedBytes,
         |"warm_partial":$warmPartial,
         |"bench_only":${benchOnly.map(_.size).getOrElse(0)},
         |"median_override":${overrideMedian.isDefined},
         |"warm_measured":${warmMeasured.size},
         |"load_avg_start":$load0,"load_avg_end":$loadEnd,
         |"queries":${obj(warm, _.toString)},
         |"queries_cold":${obj(cold, _.toString)},
         |"queries_load":${obj(
            warmL.map { case (n, _, l, _) => n -> l }, f3)},
         |"queries_load_end":${obj(
            warmL.map { case (n, _, _, le) => n -> le }, f3)},
         |"queries_cold_load":${obj(
            coldL.map { case (n, _, l, _) => n -> l }, f3)},
         |"queries_cold_load_end":${obj(
            coldL.map { case (n, _, _, le) => n -> le }, f3)}}
         |""".stripMargin.replace("\n", "")
    // If the SIGTERM hook is already salvaging, the sweeps above were
    // truncated — writing/printing HERE would overwrite BENCH_FULL.json
    // with a truncated record and emit a SECOND (junk) driver line after
    // the hook's good partial one (observed in the kill test).
    if (!stopping) {
      // never let a failed file write (read-only checkout, missing dir)
      // swallow the driver-contract line below — the sweeps already ran
      val outName = outNameG
      try Files.writeString(Paths.get(repoDir, outName), full + "\n")
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] $outName write failed: $e") }
      // durable shared-build history (the guard's primary baseline):
      // full, un-forced runs only — a filtered or override run would
      // bias the median with an unrepresentative build or a synthetic
      // decision.
      if (benchOnly.isEmpty && overrideMedian.isEmpty &&
          outName == "BENCH_FULL.json") {
        try Files.writeString(Paths.get(repoDir, "BENCH_SHARED_HISTORY.jsonl"),
          historyLine(shared, rerunSec, sfDir, graft.core.Tuning.cpus) + "\n",
          StandardOpenOption.CREATE, StandardOpenOption.APPEND)
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench] history append failed: $e") }
      }
      // compact driver line: warm-pass per-query times, 3 decimals.
      val flags = (if (warmPartial)
        s""","warm_partial":true,"warm_measured":${warmMeasured.size}"""
      else "") + (if (benchOnly.isDefined)
        s""","bench_only":${ordered.size}"""
      else "") + rerunSec.fold("")(r =>
        s""","shared_rerun":true,"shared_rerun_sec":${f3(r)}""")
      // mark BEFORE printing: a SIGTERM between println and the flag
      // assignment would make the hook emit a second driver line
      finalPrinted = true
      println(compactLine(warm, total, coldSum, flags))
      spark.stop()
    }
  }
}
