package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** The shared-build transient guard's baseline derivation: only
  * same-sf, same-host records count. Pure-file tests, no session. */
class BenchGuardSpec extends AnyFunSuite {

  private def tmpDir(): java.nio.file.Path =
    Files.createTempDirectory("graft-benchguard")

  test("history file takes precedence over records and yields the " +
    "median of the last 5") {
    val d = tmpDir()
    Files.writeString(d.resolve("BENCH_FULL.json"),
      """{"sf":"/x","cpus":4,"shared_build_sec":999.0}""")
    Files.writeString(d.resolve("BENCH_SHARED_HISTORY.jsonl"),
      (1 to 7).map(i =>
        s"""{"shared_build_sec":$i.000,"rerun":false,"sf":"/x"}""")
        .mkString("", "\n", "\n"))
    val got = Bench.sharedBaseline(d)
    // last 5 of 1..7 = 3..7, median = 5
    assert(got.isDefined && math.abs(got.get._1 - 5.0) < 1e-9, got)
    assert(got.get._2.contains("history"))
  }

  test("history lines from a DIFFERENT sf dir are excluded from the " +
    "median (ADVICE r15: one sf0.001 run would skew the guard)") {
    val d = tmpDir()
    Files.writeString(d.resolve("BENCH_SHARED_HISTORY.jsonl"),
      """{"shared_build_sec":50.0,"rerun":false,"sf":"/t/sf0.1"}""" + "\n" +
        """{"shared_build_sec":1.0,"rerun":false,"sf":"/t/sf0.001"}""" + "\n" +
        """{"shared_build_sec":52.0,"rerun":false,"sf":"/t/sf0.1"}""" + "\n")
    val got = Bench.sharedBaseline(d, Some("/t/sf0.1"))
    // median of {50, 52}, the tiny sf0.001 line filtered out
    assert(got.isDefined && math.abs(got.get._1 - 52.0) < 1e-9, got)
    // unfiltered call keeps all three (median 50) — back-compat
    val all = Bench.sharedBaseline(d)
    assert(all.isDefined && math.abs(all.get._1 - 50.0) < 1e-9, all)
  }

  test("history lines of another core count, or of no stated core " +
    "count, are excluded from the median") {
    val d = tmpDir()
    Files.writeString(d.resolve("BENCH_SHARED_HISTORY.jsonl"),
      """{"shared_build_sec":50.0,"rerun":false,"sf":"/t/sf0.1"}""" + "\n" +
        """{"shared_build_sec":52.0,"rerun":false,"sf":"/t/sf0.1","cpus":32}""" + "\n" +
        """{"shared_build_sec":90.0,"rerun":false,"sf":"/t/sf0.1","cpus":4}""" + "\n" +
        """{"shared_build_sec":94.0,"rerun":false,"sf":"/t/sf0.1","cpus":4}""" + "\n")
    val got = Bench.sharedBaseline(d, Some("/t/sf0.1"), Some(4))
    // median of {90, 94}: the 32-core and the unkeyed line are out
    assert(got.isDefined && math.abs(got.get._1 - 94.0) < 1e-9, got)
    assert(Bench.sharedBaseline(d, Some("/t/sf0.1"), Some(8)).isEmpty)
  }

  test("only lines with \"rerun\":false enter the history median") {
    val d = tmpDir()
    Files.writeString(d.resolve("BENCH_SHARED_HISTORY.jsonl"),
      """{"shared_build_sec":60.0,"rerun":false,"sf":"/x","cpus":4}""" + "\n" +
        """{"shared_build_sec":407.2,"rerun":true,"rerun_sec":222.3,"sf":"/x","cpus":4}""" + "\n" +
        """{"shared_build_sec":124.5,"rerun":true,"rerun_sec":540.2,"sf":"/x","cpus":4}""" + "\n" +
        """{"shared_build_sec":62.0}""" + "\n" +
        """{"shared_build_sec":64.0,"rerun":false,"sf":"/x","cpus":4}""" + "\n")
    val got = Bench.sharedBaseline(d, Some("/x"), Some(4))
    // median of {60, 64}: both rerun lines and the unmarked line are out
    assert(got.isDefined && math.abs(got.get._1 - 64.0) < 1e-9, got)
  }

  test("a history line keeps the first measurement as shared_build_sec " +
    "and records a slower rerun beside it") {
    val rerun = Bench.historyLine(124.469, Some(540.203), "/x", 4)
    assert(rerun ===
      """{"shared_build_sec":124.469,"rerun":true,"rerun_sec":540.203,""" +
        """"sf":"/x","cpus":4}""")
    val plain = Bench.historyLine(61.5, None, "/x", 4)
    assert(plain === """{"shared_build_sec":61.500,"rerun":false,"sf":"/x","cpus":4}""")
    // the lines the bench writes are the lines the baseline reads
    val d = tmpDir()
    Files.writeString(d.resolve("BENCH_SHARED_HISTORY.jsonl"),
      Seq(plain, rerun).mkString("", "\n", "\n"))
    val got = Bench.sharedBaseline(d, Some("/x"), Some(4))
    assert(got.isDefined && math.abs(got.get._1 - 61.5) < 1e-9, got)
  }

  test("BENCH_FULL.json is the last resort; empty dir yields None " +
    "(which main LOGS rather than silently disabling the guard)") {
    val d = tmpDir()
    assert(Bench.sharedBaseline(d).isEmpty)
    Files.writeString(d.resolve("BENCH_FULL.json"),
      """{"metric":"total","value":1.0,"shared_build_sec":51.62,"x":1}""")
    val got = Bench.sharedBaseline(d)
    assert(got.isDefined && math.abs(got.get._1 - 51.62) < 1e-9, got)
    assert(got.get._2.contains("BENCH_FULL"))
  }

  test("BENCH_FULL.json counts only when its sf and its stated cpus " +
    "match the run's") {
    val d = tmpDir()
    Files.writeString(d.resolve("BENCH_FULL.json"),
      """{"metric":"total","sf":"/t/sf0.1","cpus":4,"shared_build_sec":540.2,"x":1}""")
    // the sf0.1 rerun value must not gate an sf0.01 run
    assert(Bench.sharedBaseline(d, Some("/t/sf0.01"), Some(4)).isEmpty)
    assert(Bench.sharedBaseline(d, Some("/t/sf0.1"), Some(4)).map(_._1) === Some(540.2))
    Files.writeString(d.resolve("BENCH_FULL.json"),
      """{"metric":"total","sf":"/t/sf0.01","cpus":32,"shared_build_sec":60.0}""")
    assert(Bench.sharedBaseline(d, Some("/t/sf0.01"), Some(4)).isEmpty)
    val got = Bench.sharedBaseline(d, Some("/t/sf0.01"), Some(32))
    assert(got.map(_._1) === Some(60.0))
    assert(got.get._2.contains("BENCH_FULL"))
  }

  test("with cpus given, BENCH_r*.json tails and a BENCH_FULL.json " +
    "without cpus yield no baseline") {
    val d = tmpDir()
    // the committed shapes from another host: a driver tail whose
    // shared_components sum is 25 s, and a full record with no cpus
    Files.writeString(d.resolve("BENCH_r07.json"),
      """{"n":7,"rc":0,"tail":"\":0.461,\"shared_components\":{\"sim\":19.9,""" +
        """\"minhash\":5.1},\"sf\":\"/x\"}\n"}""")
    Files.writeString(d.resolve("BENCH_FULL.json"),
      """{"metric":"total","sf":"/x","shared_build_sec":51.62}""")
    assert(Bench.sharedBaseline(d, Some("/x"), Some(4)).isEmpty)
  }

  test("Verify.costOrder reads BENCH_FULL.json from the given dir; " +
    "a missing or unparseable record gives an empty map") {
    val d = tmpDir()
    assert(Verify.costOrder(d) === Map.empty)
    Files.writeString(d.resolve("BENCH_FULL.json"),
      """{"metric":"total","queries":{"q_a":0.25,"q_b":1.5e1},"x":1}""")
    assert(Verify.costOrder(d) === Map("q_a" -> 0.25, "q_b" -> 15.0))
    Files.writeString(d.resolve("BENCH_FULL.json"),
      """{"queries":{"q_a":1.2.3}""")
    assert(Verify.costOrder(d) === Map.empty)
  }
}
