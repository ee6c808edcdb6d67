package graft

import java.io.File
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
import scala.jdk.CollectionConverters._
import org.apache.commons.io.FileUtils
import graft.core.Cache
import graft.io.MediaFixtures

/** `Cache.forceAll` builds a component's independent legs at once. The
  * caller's local properties reach every job a leg starts, a failing
  * leg surfaces only after the others have finished and leaves no
  * thread behind, and legs that share a memo key or a fixture path
  * still build it once. */
class ForceAllSpec extends SparkSpec {

  test("every job a build starts carries the caller's local properties") {
    val sc = spark.sparkContext
    val tag = s"forceall-props-${System.nanoTime()}"
    sc.setLocalProperty("graft.test.span", tag)
    val jobs = try jobsStarted(tag) {
      Cache.forceAll(spark)((1 to 3).map(i => () => {
        sc.setJobDescription(s"$tag-$i")
        sc.parallelize(1 to 100, 2).count()
        ()
      }): _*)
    } finally sc.setLocalProperty("graft.test.span", null)
    assert(jobs.map(_.getProperty("spark.job.description")).sorted ===
      (1 to 3).map(i => s"$tag-$i"))
    assert(jobs.forall(_.getProperty("graft.test.span") == tag))
  }

  test("a failing build surfaces only after the others finish, and no " +
    "pool thread outlives the call") {
    val threads = new ConcurrentLinkedQueue[Thread]
    val finished = new AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      Cache.forceAll(spark)(
        () => { threads.add(Thread.currentThread()); throw new IllegalStateException("leg failed") },
        () => { threads.add(Thread.currentThread()); Thread.sleep(500); finished.set(true) },
        () => { threads.add(Thread.currentThread()); spark.range(10).count(); () })
    }
    assert(e.getMessage === "leg failed")
    assert(finished.get, "the failure reached the caller before every build finished")
    assert(threads.size === 3)
    assert(!threads.contains(Thread.currentThread()))
    assert(threads.asScala.forall(!_.isAlive), "a pool thread outlived forceAll")
  }

  test("two branches that touch one getOrPersist key build it once") {
    val key = s"forceall-memo-${System.nanoTime()}"
    val builds = new AtomicInteger
    def leg(): Unit = {
      Cache.getOrPersist(spark, "forceall_probe", key) {
        builds.incrementAndGet()
        Thread.sleep(300)
        spark.range(5).toDF()
      }.count()
      ()
    }
    Cache.forceAll(spark)(() => leg(), () => leg())
    assert(builds.get === 1)
  }

  test("4 threads racing MediaFixtures.write for one dir write the fixture once") {
    val stamp = System.nanoTime()
    // fresh leaves, so neither write can reuse an earlier render
    val soloDir = s"/tmp/graft-fixture-race/solo-$stamp"
    val raceDir = s"/tmp/graft-fixture-race/race-$stamp"
    val sc = spark.sparkContext
    val pool = Executors.newFixedThreadPool(4)
    try {
      val solo = jobsStarted(s"solo-$stamp") {
        sc.setJobDescription(s"solo-$stamp")
        try MediaFixtures.write(spark, soloDir) finally sc.setJobDescription(null)
      }
      val go = new CountDownLatch(1)
      val raced = jobsStarted(s"race-$stamp") {
        val calls = (1 to 4).map(_ => pool.submit(() => {
          sc.setJobDescription(s"race-$stamp")
          go.await()
          MediaFixtures.write(spark, raceDir)
        }))
        go.countDown()
        calls.foreach(_.get(120, TimeUnit.SECONDS))
      }
      assert(solo.nonEmpty)
      assert(raced.size === solo.size, "the racing callers rendered the fixture more than once")
      assert(spark.read.parquet(MediaFixtures.mediaPath(raceDir)).count() ===
        MediaFixtures.NDocs.toLong)
    } finally {
      pool.shutdownNow()
      Seq(soloDir, raceDir).foreach(d => FileUtils.deleteQuietly(
        new File(MediaFixtures.mediaPath(d)).getParentFile))
    }
  }
}
