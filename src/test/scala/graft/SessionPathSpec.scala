package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** One way to build a session, one way to get the native functions and
  * one session memo: `core.Tuning` builds every session,
  * `GraftExtensions` (set by `Tuning.SessionDefaults`) injects the
  * functions, and `core.Cache.memo` holds every per-session build. A
  * second path would drift from the first, so these source scans keep
  * it from coming back. Pure-file tests, no session. */
class SessionPathSpec extends AnyFunSuite {

  private def mainSources: Seq[(Path, String)] = {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"run from the repo root, not ${root.toAbsolutePath}")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    files.map(f => f -> Files.readString(f))
  }

  test("only core/Tuning.scala builds a SparkSession") {
    val builders = mainSources.collect {
      case (f, src) if src.contains("SparkSession.builder") => f.toString
    }
    assert(builders === Seq(Paths.get("src/main/scala/graft/core/Tuning.scala").toString))
  }

  test("no main code registers a temp function") {
    val registrars = mainSources.collect {
      case (f, src) if src.contains("createOrReplaceTempFunction") => f.toString
    }
    assert(registrars.isEmpty)
  }

  test("only core/Cache.scala and io/DialectFixtures.scala hold a concurrent map") {
    // DialectFixtures' map is JVM-wide fixture state keyed by file
    // path and backed by an on-disk marker, not session state
    val allowed = Seq("src/main/scala/graft/core/Cache.scala",
      "src/main/scala/graft/io/DialectFixtures.scala").map(Paths.get(_).toString)
    val holders = mainSources.collect {
      case (f, src) if src.contains("TrieMap") || src.contains("ConcurrentHashMap") =>
        f.toString
    }
    assert(holders.filterNot(allowed.contains) === Nil)
  }

  test("only core/Cache.scala creates an executor or a thread pool") {
    // Cache.forceAll is the one way main code runs work concurrently;
    // the shutdown hooks of Bench and Verify are the only other threads
    val cache = Paths.get("src/main/scala/graft/core/Cache.scala").toString
    val hooks = Seq("src/main/scala/graft/Bench.scala",
      "src/main/scala/graft/Verify.scala").map(Paths.get(_).toString)
    val poolApis = Seq("Executors.", "ExecutorService", "ThreadPoolExecutor",
      "ForkJoinPool", "ExecutionContext", "Future")
    val pools = mainSources.collect {
      case (f, src) if poolApis.exists(src.contains) => f.toString
    }
    assert(pools.filterNot(_ == cache) === Nil)
    val threads = mainSources.collect {
      case (f, src) if src.contains("new Thread(") => f.toString
    }
    assert(threads.filterNot((cache +: hooks).contains) === Nil)
  }
}
