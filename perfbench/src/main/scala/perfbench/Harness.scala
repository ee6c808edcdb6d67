package perfbench

import java.io.PrintWriter
import java.lang.management.ManagementFactory
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import java.nio.file.{Files, Paths}
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{Graft, SparkEntry}

/** One benchmark run in one fresh JVM.
  *
  * `run.py` resolves the workload's mix from the seed and writes a plan
  * file; this main executes it and appends one JSON object per line to
  * the output file as it goes. It touches the engine only through its public
  * entry points: `Graft.registerTables`, `SparkEntry.sharedComponents`
  * (each `(name, fn)` timed as one call) and `SparkEntry.queries` (one
  * invocation = the registry function, then `count()`).
  *
  * Phases: `setup` (session, table registration, the `relayout`
  * component), `build` (the workload's named artifacts, serial), `cold`
  * (one pass over the mix) and `warm` (a closed loop with one client
  * over the plan's pre-shuffled rounds until both the time and the
  * sample floor are met; only whole rounds run).
  *
  * With `trace 1` the run also records spans (see [[Tracer]]), splits
  * each invocation into build, plan and exec, and counts operators in
  * each distinct query's executed plan. With `trace 0` it keeps only
  * the timers and the row counts.
  *
  * Usage: `Harness list` prints `<module>\t<query>` for every registry
  * query; `Harness run <plan> <out>` executes a plan.
  */
object Harness {

  final case class Plan(data: String, cpus: Int, trace: Boolean,
      artifacts: Seq[String], cold: Seq[String], rounds: Seq[Seq[String]],
      warmSeconds: Double, warmMin: Int)

  object Plan {
    def read(path: String): Plan = {
      val kv = Files.readAllLines(Paths.get(path)).asScala.toSeq
        .map(_.trim).filter(_.nonEmpty)
        .map { l => val i = l.indexOf(' '); (l.take(i), l.drop(i + 1)) }
      def one(k: String): String = kv.collectFirst { case (`k`, v) => v }
        .getOrElse(throw new IllegalArgumentException(s"plan lacks '$k'"))
      def all(k: String): Seq[String] = kv.collect { case (`k`, v) => v }
      Plan(one("data"), one("cpus").toInt, one("trace") == "1",
        all("artifact"), all("cold"), all("round").map(_.split(',').toSeq),
        one("warm_seconds").toDouble, one("warm_min").toInt)
    }
  }

  /** The eight registry modules, by the name the records use. */
  def modules: Seq[(String, Iterable[String])] = {
    import graft.{rel, ext}
    val extParts = Seq(
      "ExtCurationQueries" -> ext.ExtCurationQueries.queries.keys,
      "ExtServingQueries" -> ext.ExtServingQueries.queries.keys,
      "ExtWebQueries" -> ext.ExtWebQueries.queries.keys)
    val extOwn = ext.ExtQueries.queries.keySet -- extParts.flatMap(_._2)
    Seq("SimQueries" -> rel.SimQueries.queries.keys,
      "RelQueries" -> rel.RelQueries.queries.keys,
      "RelEventQueries" -> rel.RelEventQueries.queries.keys,
      "RelStatsQueries" -> rel.RelStatsQueries.queries.keys,
      "ExtQueries" -> extOwn) ++ extParts
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "list" :: Nil =>
      for ((m, qs) <- modules; q <- qs.toSeq.sorted) println(s"$m\t$q")
    case "run" :: plan :: out :: Nil =>
      run(Plan.read(plan), out)
    case _ =>
      System.err.println("usage: Harness list | Harness run <plan> <out>")
      sys.exit(2)
  }

  private def now(): Double = {
    val t = java.time.Instant.now()
    t.getEpochSecond + t.getNano / 1e9
  }

  def run(plan: Plan, out: String): Unit = {
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    val w = new PrintWriter(out, "UTF-8")
    def emit(fields: (String, Any)*): Unit = {
      w.println(json.writeValueAsString(ListMap(fields: _*)))
      w.flush()
    }
    val queries = SparkEntry.queries
    val unknown = (plan.cold ++ plan.rounds.flatten).filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.distinct.mkString(", ")}")
    val components = SparkEntry.sharedComponents.toMap
    val badArtifacts = plan.artifacts.filterNot(components.contains)
    require(badArtifacts.isEmpty, s"unknown artifacts: ${badArtifacts.mkString(", ")}")

    val tracer = if (plan.trace) Some(new Tracer) else None
    def span[A](kind: String, name: String)(f: => A): A =
      tracer.fold(f)(_.span(kind, name)(f))

    val runSpan = tracer.map(_.open("run", "run"))
    val spark = span("phase", "setup") {
      val s = span("session", "session") {
        graft.core.Tuning.defaults(SparkSession.builder()
          .master(s"local[${plan.cpus}]"))
          .config("spark.sql.shuffle.partitions", plan.cpus.toString)
          .config("spark.sql.adaptive.enabled", "true")
          .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
          .config("spark.sql.session.timeZone", "UTC")
          .config("spark.ui.enabled", "false")
          .getOrCreate()
      }
      s.sparkContext.setLogLevel("ERROR")
      tracer.foreach(_.attach(s))
      val t0 = System.nanoTime()
      span("io", "register")(Graft.registerTables(s, plan.data))
      val t1 = System.nanoTime()
      span("artifact", "relayout")(components("relayout")(s, plan.data))
      val t2 = System.nanoTime()
      emit("ev" -> "setup", "register_s" -> (t1 - t0) / 1e9,
        "relayout_s" -> (t2 - t1) / 1e9, "ready_epoch_s" -> now())
      s
    }

    def cacheBytes(when: String): Unit = {
      val info = spark.sparkContext.getRDDStorageInfo
      emit("ev" -> "cache", "when" -> when,
        "mem" -> info.map(_.memSize).sum, "disk" -> info.map(_.diskSize).sum)
    }

    span("phase", "build") {
      for (a <- plan.artifacts) {
        val t0 = System.nanoTime()
        val err = try { span("artifact", a)(components(a)(spark, plan.data)); None }
          catch { case NonFatal(e) => Some(e.toString) }
        emit("ev" -> "artifact", "name" -> a,
          "sec" -> (System.nanoTime() - t0) / 1e9, "err" -> err)
      }
    }
    cacheBytes("build")

    val planned = scala.collection.mutable.Set.empty[String]
    def invoke(phase: String, q: String): Unit = {
      val fn = queries(q)
      var rows = -1L
      var err: Option[String] = None
      var split = (0.0, 0.0, 0.0)
      val t0 = System.nanoTime()
      tracer match {
        case None =>
          try rows = fn(spark, plan.data).count()
          catch { case NonFatal(e) => err = Some(e.toString) }
        case Some(tr) =>
          tr.span("inv", q) {
            var df: DataFrame = null
            var counted: DataFrame = null
            val a = System.nanoTime()
            try {
              df = tr.span("build", q)(fn(spark, plan.data))
              val b = System.nanoTime()
              counted = df.groupBy().count()
              tr.span("plan", q)(counted.queryExecution.executedPlan)
              val c = System.nanoTime()
              rows = tr.span("exec", q)(counted.collect()(0).getLong(0))
              val d = System.nanoTime()
              split = ((b - a) / 1e9, (c - b) / 1e9, (d - c) / 1e9)
            } catch { case NonFatal(e) => err = Some(e.toString) }
            if (err.isEmpty && planned.add(q))
              emit("ev" -> "plan", "q" -> q,
                "counts" -> PlanShape.count(counted.queryExecution.executedPlan))
          }
      }
      val sec = (System.nanoTime() - t0) / 1e9
      emit("ev" -> "inv", "phase" -> phase, "q" -> q, "sec" -> sec,
        "rows" -> rows, "err" -> err, "build_s" -> split._1,
        "plan_s" -> split._2, "exec_s" -> split._3)
    }

    span("phase", "cold")(plan.cold.foreach(invoke("cold", _)))
    cacheBytes("cold")

    span("phase", "warm") {
      val t0 = System.nanoTime()
      def elapsed = (System.nanoTime() - t0) / 1e9
      var n = 0
      var i = 0
      while (plan.rounds.nonEmpty && (elapsed < plan.warmSeconds || n < plan.warmMin)) {
        val round = plan.rounds(i % plan.rounds.size)
        round.foreach(invoke("warm", _))
        n += round.size
        i += 1
      }
      emit("ev" -> "phase", "name" -> "warm", "wall_s" -> elapsed,
        "invocations" -> n, "rounds" -> i)
    }
    // After the last timed phase: a full collection shrinks the heap,
    // which would slow a phase that came after it.
    emit("ev" -> "heap", "live_bytes" -> liveHeapBytes())

    tracer.foreach { tr =>
      runSpan.foreach(tr.close)
      tr.drain(spark)
      tr.dump(emit(_: _*))
    }
    emit("ev" -> "io", "bytes" -> bytesUnder(new java.io.File(".")))
    emit("ev" -> "env", "java" -> sys.props("java.version"),
      "spark" -> spark.version, "cpus" -> plan.cpus)
    emit("ev" -> "rss", "vmhwm_kb" -> vmHwmKb())
    emit("ev" -> "end")
    w.close()
    spark.stop()
  }

  /** Bytes the engine left in the working directory (relayout copies,
    * fixtures, stores, warehouse), without the JVM's and Spark's scratch
    * directories. Read before the session stops, which deletes the copies. */
  private def bytesUnder(f: java.io.File): Long =
    if (f.isDirectory)
      Option(f.listFiles).toSeq.flatten
        .filterNot(c => c.getName == "spark-local" || c.getName == "tmp")
        .map(bytesUnder).sum
    else f.length

  /** Heap in use once full collections stop freeing more than 1 MB.
    * Spark's cleaner drops unreachable broadcast and cached blocks only
    * after a collection has found them, so one collection is not enough. */
  private def liveHeapBytes(): Long = {
    def collect(): Long = {
      System.gc()
      val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      Thread.sleep(100) // lets the cleaner thread act on what was found
      used
    }
    var prev = collect()
    var cur = collect()
    var i = 0
    while (prev - cur > (1L << 20) && i < 5) { prev = cur; cur = collect(); i += 1 }
    cur
  }

  /** Peak resident set size of this JVM so far, from /proc. */
  private def vmHwmKb(): Long =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    catch { case NonFatal(_) => -1L }
}
