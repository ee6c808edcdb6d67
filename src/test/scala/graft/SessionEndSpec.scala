package graft

import java.io.File
import java.lang.ref.WeakReference
import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** A stopped session leaves nothing behind: its memo entries are
  * dropped and its on-disk artifacts (the bucketed ratings table, the
  * relayout copies, the persisted neighbor store) are deleted. The shared test session is never
  * stopped, so the probe runs in a child JVM with this JVM's classpath
  * and options, and reports each check on stdout. */
class SessionEndSpec extends AnyFunSuite {

  test("spark.stop() drops the session's memo entries and deletes its " +
    "bucketed table and relayout copies") {
    val work = Files.createTempDirectory("graft-session-end").toFile
    try {
      val javaBin = new File(System.getProperty("java.home"), "bin/java").getPath
      val jvmArgs = java.lang.management.ManagementFactory
        .getRuntimeMXBean.getInputArguments.asScala.toSeq
      val cmd = Seq(javaBin) ++ jvmArgs ++ Seq(
        "-cp", System.getProperty("java.class.path"),
        SessionEndProbe.getClass.getName.stripSuffix("$"),
        "/root/testdata/sf0.001", new File(work, "warehouse").getPath)
      val log = new File(work, "probe.log")
      val pb = new ProcessBuilder(cmd: _*)
        .directory(work).redirectErrorStream(true).redirectOutput(log)
      pb.environment().put("SPARK_GRAFT_CPUS", "2")
      val p = pb.start()
      val done = p.waitFor(300, java.util.concurrent.TimeUnit.SECONDS)
      if (!done) p.destroyForcibly()
      val out = Files.readString(log.toPath)
      assert(done, s"probe did not finish in 300 s:\n$out")
      val checks = out.linesIterator.filter(_.startsWith("[probe] ")).toList
      assert(checks.nonEmpty, s"probe printed no checks:\n$out")
      val failed = checks.filterNot(_.endsWith(" ok"))
      assert(failed.isEmpty, failed.mkString("\n"))
      assert(p.exitValue() === 0, out.linesIterator.toList.takeRight(40).mkString("\n"))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(work)
  }
}

/** The child JVM of [[SessionEndSpec]]: args are the sf dir and the
  * warehouse dir; the working dir holds the relayout copies and the
  * neighbor store. */
object SessionEndProbe {
  def main(args: Array[String]): Unit = {
    val Array(dir, warehouse) = args
    val spark = graft.core.Tuning.builder()
      .appName("graft-session-end-probe")
      .config("spark.sql.warehouse.dir", warehouse)
      .getOrCreate()
    val app = graft.core.Cache.sessionKey(spark)
    var ok = true
    def check(name: String)(cond: Boolean): Unit = {
      println(s"[probe] $name ${if (cond) "ok" else "FAILED"}")
      ok &&= cond
    }
    def bucketed = Option(new File(warehouse).listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("graft_ratings_"))
    val relayout = new File(sys.props("user.dir"), s"target/relayout/$app")
    val recStore = new File(sys.props("user.dir"), s"target/rec_store/$app")

    rel.SimQueries.queries("q_parse_ratings")(spark, dir).count()
    io.Relayout.warm(spark, dir)
    rel.SimQueries.queries("q_rec_serve_persist")(spark, dir).count()
    val ref = persistedProbe(spark, dir)
    check("bucketed table written")(bucketed.nonEmpty)
    check("relayout copies written")(relayout.isDirectory)
    check("neighbor store written under the session's dir")(recStore.isDirectory)
    check("probe frame memoized")(ref.get != null)

    spark.stop()
    check("bucketed table deleted at session end")(bucketed.isEmpty)
    check("relayout copies deleted at session end")(!relayout.exists())
    check("neighbor store deleted at session end")(!recStore.exists())
    var tries = 0
    while (ref.get != null && tries < 20) {
      System.gc(); Thread.sleep(100); tries += 1
    }
    check("memo entry dropped at session end")(ref.get == null)
    sys.exit(if (ok) 0 else 1)
  }

  /** Persist one frame and keep only a weak reference to it. */
  private def persistedProbe(spark: org.apache.spark.sql.SparkSession,
                             dir: String) =
    new WeakReference(graft.core.Cache.getOrPersist(spark, "weak_probe", dir)(
      spark.range(10).toDF()))
}
