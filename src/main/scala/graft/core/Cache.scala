package graft.core

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import org.apache.commons.io.FileUtils
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
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
  * shapes over it. Every entry of a session is dropped when its
  * SparkContext stops, and the session's on-disk artifacts (relayout
  * copies, bucketed tables, checkpoint snapshots) are deleted then
  * through [[atSessionEnd]].
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

  /** Build `name` once per (session, dir) and `persist` it.
    *
    * The persisted frame keeps its physical plan, and the plan keeps
    * every broadcast it executed reachable: each broadcast relation
    * in the build's lineage stays in memory for the rest of the
    * session, however small the cached rows are. That is why the
    * session's Tungsten page size (which sizes each deserialized
    * relation) is pinned small in [[Tuning.SessionDefaults]]; an
    * artifact whose lineage must not stay live takes [[getOrSnapshot]]
    * instead. */
  def getOrPersist(spark: SparkSession, name: String, dir: String)
                  (build: => DataFrame): DataFrame =
    memo(spark, name, dir)(build.persist(StorageLevel.MEMORY_AND_DISK))

  /** [[getOrPersist]] plus LINEAGE TRUNCATION — for artifacts whose
    * build plan carries broadcast/shuffle stages below them. A
    * persisted frame keeps its full physical plan, and Spark
    * re-executes the broadcast-exchange futures in that plan on EVERY
    * action over the frame even when all cached partitions are served
    * from the block manager (measured: a fully-cached 4.6k-row
    * aggregate with five gated broadcasts in its lineage cost ~9 s
    * per count — all of it re-broadcast work, none of it scan). The
    * truncated frame's plan is a bare scan of the materialized rows,
    * so downstream actions pay exactly the scan.
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
