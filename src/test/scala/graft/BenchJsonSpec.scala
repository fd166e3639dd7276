package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the BENCH artifact shape and the contamination decision rule
  * (round-9 hardening: two of eight rounds shipped a bench JSON whose
  * totals were driver-box contention, not code — the artifact must now
  * self-flag). Pure-function tests; no SparkSession. */
class BenchJsonSpec extends AnyFunSuite {

  private val clean = Seq(
    ("q1", 1.00, 0.90),
    ("q2", 0.30, 0.28))

  test("clean run: suspect false, both sentinels and minima shipped") {
    val j = Bench.renderJson(clean, Nil, 0.11, 0.12, "/sf")
    assert(j.contains("\"suspect\":false"))
    assert(j.contains("\"suspect_reasons\":[]"))
    assert(j.contains("\"sentinel_pre\":0.11"))
    assert(j.contains("\"sentinel_post\":0.12"))
    // legacy field kept so older round-over-round tooling still parses
    assert(j.contains("\"sentinel_sec\":0.11"))
    assert(j.contains("\"queries\":{\"q1\":1.0,\"q2\":0.3}"))
    assert(j.contains("\"queries_min\":{\"q1\":0.9,\"q2\":0.28}"))
    assert(j.contains("\"value\":1.3"))
    // the line must be one valid JSON object (the driver parses it)
    assert(j.startsWith("{") && j.endsWith("}") && !j.contains("\n"))
  }

  test("post-loop sentinel out of band flags the run (the r6/r8 failure mode)") {
    // r8: sentinel passed BEFORE the loop (0.127s), box went hot during
    // the graph queries, artifact shipped 18.03s as if real. The post
    // sentinel now catches exactly this.
    val rs = Bench.suspectReasons(0.12, 0.80, clean)
    assert(rs.size === 1 && rs.head.startsWith("sentinel_post"))
    assert(Bench.renderJson(clean, Nil, 0.12, 0.80, "/sf")
      .contains("\"suspect\":true"))
  }

  test("pre-loop sentinel out of band flags the run") {
    assert(Bench.suspectReasons(0.50, 0.12, clean)
      .exists(_.startsWith("sentinel_pre")))
  }

  test("median/min divergence >2x flags contention inside the loop") {
    // a query whose median is 2.5x its own min: one sample was clean,
    // two hit contention — the median lies, the min doesn't
    val rs = Bench.suspectReasons(0.12, 0.12,
      Seq(("qg1", 5.0, 2.0), ("q1", 1.0, 0.9)))
    assert(rs.size === 1 && rs.head.startsWith("qg1"))
  }

  test("sub-floor queries are exempt from the divergence rule") {
    // 0.05s vs 0.02s is 2.5x but absolute noise; must NOT flag
    assert(Bench.suspectReasons(0.12, 0.12, Seq(("q9", 0.05, 0.02))).isEmpty)
  }

  test("failed queries flag through `failed`, not through suspect") {
    val j = Bench.renderJson(Seq(("q1", 1.0, 0.9), ("qx", -1.0, -1.0)),
      Seq("qx"), 0.11, 0.12, "/sf")
    assert(j.contains("\"failed\":[\"qx\"]"))
    assert(j.contains("\"suspect\":false"))
    // failed queries contribute no minimum and don't poison the total
    assert(j.contains("\"queries_min\":{\"q1\":0.9}"))
    assert(j.contains("\"value\":1.0"))
  }

  test("Bench.headline is perfbench's RELATIONAL + PIPELINE, 18 names, no duplicates") {
    // the headline list is written twice (Bench.headline and the
    // benchmark's perfbench/spec.py, read only here); this pins the two
    // copies to one set so they cannot drift
    val spec = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("perfbench/spec.py")), "UTF-8")
    def list(name: String): Seq[String] = {
      val body = (s"(?s)\\n$name = \\[(.*?)\\]").r.findFirstMatchIn(spec)
        .getOrElse(fail(s"$name = [...] not found in perfbench/spec.py"))
        .group(1)
      "\"(\\w+)\"".r.findAllMatchIn(body).map(_.group(1)).toSeq
    }
    val bench = list("RELATIONAL") ++ list("PIPELINE")
    assert(bench.size == 18 && bench.distinct.size == 18, bench)
    assert(Bench.headline.size == 18 && Bench.headline.distinct.size == 18)
    assert(bench.toSet == Bench.headline.toSet)
  }
}
