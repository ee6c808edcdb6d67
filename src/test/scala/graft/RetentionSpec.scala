package graft

import java.nio.file.Files
import org.apache.commons.io.FileUtils
import org.apache.spark.SparkEnv
import org.apache.spark.sql.classic
import org.apache.spark.sql.functions.{broadcast, col}

/** What a session keeps once its work is done: the cached artifacts'
  * rows, not the broadcasts their builds used, and a bounded status
  * store. */
class RetentionSpec extends SparkSpec {
  /** The driver's broadcast blocks (values and pieces) with their
    * in-memory bytes. */
  private def broadcastBlocks(): Map[String, Long] = {
    val bm = { spark.sparkContext; SparkEnv.get }.blockManager
    bm.getMatchingBlockIds(_.isBroadcast)
      .flatMap(id => bm.getStatus(id).map(id.name -> _.memSize)).toMap
  }

  /** The broadcast blocks of `minBytes` or more that `run` leaves
    * behind on a fresh copy of sf0.001, once the cleaner has run. The
    * session memo is keyed by dir, so `run` builds its artifacts here
    * whatever other suites have warmed. */
  private def blocksLeftBy(minBytes: Long)(run: String => Unit): Seq[String] = {
    val dir = Files.createTempDirectory("graft-retention").toFile
    FileUtils.copyDirectory(new java.io.File(sf001), dir)
    try {
      val before = broadcastBlocks().keySet
      run(dir.getPath)
      // collects until the cleaner has freed what it can
      Bench.broadcastBytesRetained(spark)
      broadcastBlocks().collect {
        case (id, bytes) if !before(id) && bytes >= minBytes => s"$id=$bytes"
      }.toSeq.sorted
    } finally FileUtils.deleteQuietly(dir)
  }

  test("warmed ext components hold no broadcast block of 1 MiB or more " +
    "once the cleaner has run") {
    val components = SparkEntry.sharedComponents.toMap
    val big = blocksLeftBy(1L * 1024 * 1024)(dir =>
      Seq("minhash", "simhash", "vectors", "shingle_postings", "lm_tables")
        .foreach(c => components(c)(spark, dir)))
    assert(big.isEmpty, "broadcast blocks the warmed artifacts still pin: " +
      big.mkString(", "))
  }

  test("the warmed sim component and q_movies_dialect hold no broadcast " +
    "block of 1 MiB or more once the cleaner has run") {
    val sim = SparkEntry.sharedComponents.toMap.apply("sim")
    val big = blocksLeftBy(1L * 1024 * 1024) { dir =>
      sim(spark, dir)
      SparkEntry.queries("q_movies_dialect")(spark, dir).count()
    }
    assert(big.isEmpty, "broadcast blocks the sim artifacts still pin: " +
      big.mkString(", "))
  }

  test("q_semdedup holds no broadcast block once the cleaner has run") {
    val left = blocksLeftBy(0L)(dir =>
      SparkEntry.queries("q_semdedup")(spark, dir).count())
    assert(left.isEmpty, "broadcast blocks q_semdedup's artifacts still pin: " +
      left.mkString(", "))
  }

  test("Bench.broadcastBytesRetained counts the broadcast a persisted " +
    "frame's plan pins, not its cached rows") {
    import spark.implicits._
    val before = Bench.broadcastBytesRetained(spark)
    // two LONG keys: an UnsafeHashedRelation, at least one 2 MiB page
    val dim = (0L until 10L).map(i => (i, i * 7)).toDF("k1", "k2")
    val joined = spark.range(0, 1000)
      .select((col("id") % 10).as("k1"), (col("id") % 10 * 7).as("k2"))
      .join(broadcast(dim), Seq("k1", "k2")).persist()
    try {
      assert(joined.count() == 1000)
      val grown = Bench.broadcastBytesRetained(spark) - before
      assert(grown >= 1L * 1024 * 1024, s"retained grew by $grown bytes")
    } finally joined.unpersist(blocking = true)
  }

  test("the status store keeps at most the capped number of SQL executions") {
    val cap = spark.conf.get("spark.sql.ui.retainedExecutions").toLong
    assert(cap == 10)
    val store = spark.asInstanceOf[classic.SparkSession].sharedState.statusStore
    (1 to 3 * cap.toInt).foreach(i => spark.range(i).count())
    // finished executions are dropped on the store's own thread
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (store.executionsCount() > cap && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert(store.executionsCount() <= cap)
  }
}
