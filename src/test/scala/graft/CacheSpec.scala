package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import graft.core.Cache

/** `Cache.memo` is the engine's one session memo: a key is built once
  * however many callers race for it, a failed build leaves nothing
  * behind, and one build may call the memo for another key. */
class CacheSpec extends SparkSpec {

  private def uniqueKey(tag: String) = s"$tag-${System.nanoTime()}"

  test("Cache.getOrPersist builds once when 8 callers race for one key, " +
    "and every caller gets the same frame") {
    val n = 8
    val key = uniqueKey("race")
    val builds = new AtomicInteger
    val go = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(n)
    try {
      val calls = (1 to n).map(_ => pool.submit(() => {
        go.await()
        Cache.getOrPersist(spark, "race_probe", key) {
          builds.incrementAndGet()
          Thread.sleep(300)
          spark.range(3).toDF()
        }
      }))
      go.countDown()
      val frames = calls.map(_.get(60, TimeUnit.SECONDS))
      assert(builds.get === 1, "racing first callers must share one build")
      assert(frames.forall(_ eq frames.head))
    } finally pool.shutdownNow()
  }

  test("a build that throws leaves the key unset; the next call builds it") {
    val key = uniqueKey("throw")
    var builds = 0
    val e = intercept[IllegalStateException] {
      Cache.getOrPersist(spark, "throw_probe", key) {
        builds += 1
        throw new IllegalStateException("build failed")
      }
    }
    assert(e.getMessage === "build failed")
    val df = Cache.getOrPersist(spark, "throw_probe", key) {
      builds += 1
      spark.range(2).toDF()
    }
    assert(builds === 2)
    assert(df.count() === 2L)
    assert(Cache.getOrPersist(spark, "throw_probe", key)(fail("rebuilt")) eq df)
  }

  test("a memo whose build calls another memo returns both values") {
    val key = uniqueKey("nest")
    val outer = Cache.memo(spark, "nest_outer", key) {
      val inner = Cache.memo(spark, "nest_inner", key)(21)
      (inner, inner * 2)
    }
    assert(outer === ((21, 42)))
    assert(Cache.memo[Int](spark, "nest_inner", key)(fail("rebuilt")) === 21)
    assert(Cache.memo[(Int, Int)](spark, "nest_outer", key)(fail("rebuilt")) === ((21, 42)))
  }
}
