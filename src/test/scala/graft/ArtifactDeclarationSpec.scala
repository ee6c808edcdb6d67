package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.execution.datasources.LogicalRelation

/** One build site per session-artifact name. `core.Cache` memoizes by
  * (session, name, dir), so two sites that build one name race: the
  * first to run in a session decides the frame every later consumer
  * reads. Each name is therefore built in one accessor that every
  * consumer calls. */
class ArtifactDeclarationSpec extends SparkSpec {

  /** A memo call with a literal name: `Cache.memo(spark, "name", …)`,
    * `Cache.getOrPersist(s, "name", …)`, `Cache.getOrSnapshot(…)`. An
    * interpolated name (`s"recall_$v"`) is one site by construction. */
  private val site =
    """Cache\.(?:getOrPersist|getOrSnapshot|memo)(?:\[[^\]]*\])?\(\s*[^,()]+,\s*"([^"]+)"""".r

  test("every literal session-artifact name has one build site in src/main") {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"run from the repo root, not ${root.toAbsolutePath}")
    val sites = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .flatMap { f =>
        val src = Files.readString(f)
        site.findAllMatchIn(src).map { m =>
          val line = src.substring(0, m.start).count(_ == '\n') + 1
          m.group(1) -> s"$f:$line"
        }
      }
    assert(sites.nonEmpty, "the scan found no memo call at all")
    val repeated = sites.groupBy(_._1).filter(_._2.size > 1).toSeq.sortBy(_._1)
    if (repeated.nonEmpty)
      fail(s"${repeated.size} names are built at more than one site; give " +
        "each one accessor:\n" + repeated.map { case (name, at) =>
          s"  \"$name\" x${at.size}: ${at.map(_._2).sorted.mkString(", ")}"
        }.mkString("\n"))
  }

  test("SimQueries.ratings scans the bucketed table after q_id_dictionary " +
    "ran first") {
    // A fresh copy of sf0.001: the memo is keyed by dir, so no other
    // suite has touched "ratings" for it.
    val dir = Files.createTempDirectory("graft-ratings").toFile
    FileUtils.copyDirectory(new java.io.File(sf001), dir)
    try {
      SparkEntry.queries("q_id_dictionary")(spark, dir.getPath).count()
      val scans = rel.SimQueries.ratings(spark, dir.getPath)
        .queryExecution.analyzed.collect { case r: LogicalRelation =>
          r.catalogTable.map(_.identifier.table).getOrElse(r.output.map(_.name).mkString(","))
        }
      assert(scans.size == 1 && scans.head.startsWith("graft_ratings_"), scans)
    } finally FileUtils.deleteQuietly(dir)
  }
}
