package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** One way to build a session and one way to get the native functions:
  * `core.Tuning` builds every session, and `GraftExtensions` (set by
  * `Tuning.SessionDefaults`) injects the functions. A second path would
  * drift from the first, so these source scans keep it from coming
  * back. Pure-file tests, no session. */
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
}
