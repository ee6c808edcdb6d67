package graft

import java.util.Properties
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Shared session + fixture helpers. One session per JVM (suites run
  * forked in one JVM; `lazy val` in the companion shares it). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf001 = "/root/testdata/sf0.001"

  /** The properties of every job that `f` starts with a job
    * description beginning with `prefix`. Listener events arrive on
    * their own thread, in order, so a sentinel job run after `f` is
    * delivered last: once it is seen, every job of `f` has been. */
  def jobsStarted(prefix: String)(f: => Unit): Seq[Properties] = {
    val sc = spark.sparkContext
    def desc(p: Properties) = p.getProperty("spark.job.description", "")
    val seen = new ConcurrentLinkedQueue[Properties]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).filter(desc(_).startsWith(prefix)).foreach(seen.add)
    }
    val sentinel = s"$prefix-sentinel"
    sc.addSparkListener(listener)
    try {
      f
      sc.setJobDescription(sentinel)
      try sc.parallelize(1 to 1, 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.asScala.exists(desc(_) == sentinel) && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(seen.asScala.exists(desc(_) == sentinel), "the sentinel job never reached the listener")
      seen.asScala.toSeq.filterNot(desc(_) == sentinel)
    } finally sc.removeSparkListener(listener)
  }

  /** The FIXTURES.md §3 toy ratings as a DataFrame with `rating_i`
    * fixed-point units, matching [[graft.io.Sources.ratings]] shape. */
  def toyRatings: DataFrame = {
    import spark.implicits._
    Seq(
      ("u1", "A", 4.0), ("u1", "B", 3.0), ("u1", "C", 1.0),
      ("u2", "A", 5.0), ("u2", "B", 4.0),
      ("u3", "A", 1.0), ("u3", "C", 5.0),
      ("u4", "B", 2.0), ("u4", "C", 4.0))
      .toDF("user_id", "item_id", "rating")
      .withColumn("rating_i",
        floor(col("rating") * 10000 + 0.5).cast("long"))
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = graft.core.Tuning.builder()
      .appName("graft-test")
      .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
