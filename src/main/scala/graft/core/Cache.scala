package graft.core

import java.util.concurrent.{CompletionException, ConcurrentHashMap,
  ConcurrentLinkedQueue, Executors}
import org.apache.commons.io.FileUtils
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.storage.StorageLevel

/** The engine's one session memo, and the cleanup that ends it.
  *
  * The query inventory is a set of independent entry points, but many
  * share expensive sub-plans (the ratings view, the pairwise moment
  * table, the shingle/LSH tables) and small driver-side facts (a
  * count, a vocabulary, a relayout path). A real engine builds such
  * shared intermediates once per session; [[memo]] does exactly that,
  * keyed by (session, name, key) so tests/verify/bench sessions never
  * mix, and [[getOrPersist]] / [[getOrSnapshot]] are the two DataFrame
  * shapes over it. The rule between them: a build whose plan
  * broadcasts is a Snapshot. Every entry of a session is dropped when
  * its SparkContext stops, and the session's on-disk artifacts
  * (relayout copies, bucketed tables, checkpoint snapshots) are
  * deleted then through [[atSessionEnd]].
  *
  * At 100 TB the equivalent is a lifecycle-managed cached table (or a
  * bucketed materialized view); MEMORY_AND_DISK keeps the local
  * behavior honest — data larger than executor memory spills instead
  * of OOMing.
  */
object Cache {
  /** A memo cell: claimed in the map, built outside the map's bin lock
    * under the cell's own lock. So a build may call [[memo]] for
    * another key, racing callers of one key wait for the single build,
    * and a build that throws leaves the cell empty for the next
    * caller's build. */
  private final class Cell { @volatile var value: Option[Any] = None }

  private val cells = new ConcurrentHashMap[(String, String), Cell]
  private val cleanups =
    new ConcurrentHashMap[String, ConcurrentLinkedQueue[() => Unit]]

  /** Session memo key: applicationId is unique per SparkContext and is
    * never reused the way a GC'd session's identity hash can be. */
  def sessionKey(spark: SparkSession): String =
    spark.sparkContext.applicationId

  /** Build `name` for `key` once per session and return it on every
    * later call; a build that throws stores nothing, so the next call
    * builds again. One name holds one value type. */
  def memo[A](spark: SparkSession, name: String, key: String)(build: => A): A = {
    val app = sessionKey(spark)
    sessionCleanups(spark, app)
    val cell = cells.computeIfAbsent((app, s"$name:$key"), _ => new Cell)
    if (cell.value.isEmpty) cell.synchronized {
      if (cell.value.isEmpty) cell.value = Some(build)
    }
    cell.value.get.asInstanceOf[A]
  }

  /** Run `builds` at once and return after all have finished: the one
    * way to overlap a component's independent artifact legs, each of
    * which pays its own query planning, code generation and small jobs.
    *
    * The pool holds `min(builds.size, defaultParallelism)` threads and
    * lives for one call. Each build goes through
    * `SQLExecution.withThreadLocalCaptured`, so it runs with the
    * caller's active session and local properties: a job group or a
    * tracing tag set by the caller names every job a build starts. A
    * failing build does not stop the others; the first failure in
    * argument order is rethrown once all have finished, so no work
    * spills past the call.
    *
    * Overlap is safe because [[memo]] builds each key once under
    * concurrent first touch and Spark's block locks keep two jobs from
    * computing one persisted partition twice. It adds no conf and
    * changes no result. It can raise the build's peak heap, with two
    * legs' working sets live at once; the heap live after the build
    * stays the same (`llm_sql` at sf0.01 on 4 cores, medians of ten
    * runs: live heap 228.7 → 228.6 MB, peak RSS 1971 → 1887 MB). */
  def forceAll(spark: SparkSession)(builds: (() => Unit)*): Unit = {
    val threads = new ConcurrentLinkedQueue[Thread]
    val pool = Executors.newFixedThreadPool(
      math.max(1, math.min(builds.size, spark.sparkContext.defaultParallelism)),
      (r: Runnable) => {
        val t = new Thread(r, "graft-forceAll")
        t.setDaemon(true)
        threads.add(t)
        t
      })
    try {
      val session = spark.asInstanceOf[classic.SparkSession]
      val runs = builds.map(b =>
        SQLExecution.withThreadLocalCaptured(session, pool)(b()))
      val failures = runs.flatMap { r =>
        try { r.join(); None }
        catch { case e: CompletionException => Some(e.getCause) }
      }
      failures.headOption.foreach(e => throw e)
    } finally {
      pool.shutdown()
      threads.forEach(_.join())
    }
  }

  /** Run `f` when this session's SparkContext stops (`spark.stop()`,
    * or Spark's own shutdown hook at JVM exit), after its memo entries
    * are dropped. */
  def atSessionEnd(spark: SparkSession)(f: => Unit): Unit = {
    sessionCleanups(spark, sessionKey(spark)).add(() => f)
    ()
  }

  /** This session's directory for the on-disk store `store`:
    * `<base>/<appId>`, where `base` is the system property `baseProp`
    * when given and set, else `<user.dir>/target/<store>`. It is
    * deleted when the session ends, so no store outlives its session
    * and two sessions never write over each other's. */
  def sessionDir(spark: SparkSession, store: String,
                 baseProp: Option[String] = None): String = {
    val base = baseProp.flatMap(sys.props.get).getOrElse(
      sys.props.getOrElse("user.dir", ".") + s"/target/$store")
    val dir = s"$base/${sessionKey(spark)}"
    atSessionEnd(spark)(FileUtils.deleteQuietly(new java.io.File(dir)))
    dir
  }

  /** `dir` as one path segment for a store under [[sessionDir]]:
    * every character outside `[A-Za-z0-9._-]` becomes `_`, and
    * leading `_` and `.` are dropped — Spark's file listing treats a
    * name starting with either as hidden and ignores the path. */
  def leafFor(dir: String): String =
    dir.replaceAll("[^A-Za-z0-9._-]", "_").replaceAll("^[_.]+", "")

  /** The app's cleanup queue; the first touch registers the one
    * listener that ends the app's entries and runs its cleanups. */
  private def sessionCleanups(spark: SparkSession, app: String) =
    cleanups.computeIfAbsent(app, _ => {
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
          cells.keySet.removeIf(_._1 == app)
          Option(cleanups.remove(app)).foreach(_.forEach(_()))
        }
      })
      new ConcurrentLinkedQueue[() => Unit]
    })

  /** Build `name` once per (session, dir) and `persist` it, as
    * compressed in-memory columns.
    *
    * The persisted frame keeps its physical plan, and the plan keeps
    * every broadcast it executed reachable: each broadcast relation
    * in the build's lineage, whether hinted or planned by AQE at run
    * time, stays in storage memory for the rest of the session,
    * however small the cached rows are. Each relation fills at least
    * one Tungsten page (2 MiB, [[Tuning.SessionDefaults]]). So a build
    * whose plan broadcasts is a Snapshot ([[getOrSnapshot]]); this
    * shape is for builds without broadcasts. */
  def getOrPersist(spark: SparkSession, name: String, dir: String)
                  (build: => DataFrame): DataFrame =
    memo(spark, name, dir)(build.persist(StorageLevel.MEMORY_AND_DISK))

  /** Build `name` once per (session, dir) and materialize it with its
    * LINEAGE CUT: the rule is that a build whose plan broadcasts takes
    * this shape. The returned frame's plan is a bare scan of the
    * materialized rows and holds no reference to the build's plan, so
    * Spark's `ContextCleaner` frees the build's broadcasts once a
    * collection finds them unreachable ([[getOrPersist]] pins them for
    * the session). Measured at sf0.01 on 4 cores: snapshotting the
    * nine ext artifacts whose builds broadcast halved the `llm_sql`
    * bench session's live heap (229 → 114 MB), while its cached rows
    * grew from 2.2 to 6.0 MB: a snapshot keeps plain rows, a persisted
    * frame compressed columns.
    *
    * A persisted frame does NOT re-run its broadcasts on later actions
    * (Spark 4.1.2: a persisted broadcast join whose build side takes
    * about 1 s answers its second `count` in 0.22 s with two jobs, like
    * a snapshot); the cost of persisting is the memory it pins.
    *
    * Materialization follows the [[graft.ext.Dedup.IterMaterializer]]
    * discipline: `localCheckpoint(eager)` by default (executor-local
    * blocks — fine on local[n], lost with an executor at cluster
    * scale), or a RELIABLE parquet snapshot under
    * `spark.graft.checkpoint.dir` when that conf points at
    * fault-tolerant storage — which is also the 100 TB shape: a
    * session-lifecycle materialized view, readable with full scan
    * parallelism, surviving any executor. The snapshot is deleted
    * when the session ends. */
  def getOrSnapshot(spark: SparkSession, name: String, dir: String)
                   (build: => DataFrame): DataFrame =
    memo(spark, name, dir) {
      val df = build
      spark.conf.getOption("spark.graft.checkpoint.dir") match {
        case Some(base) =>
          val path = s"$base/cache-$name-${java.util.UUID.randomUUID()}"
          df.write.mode("overwrite").parquet(path)
          atSessionEnd(spark)(FileUtils.deleteQuietly(new java.io.File(path)))
          spark.read.parquet(path)
        case None => df.localCheckpoint(eager = true)
      }
    }
}
