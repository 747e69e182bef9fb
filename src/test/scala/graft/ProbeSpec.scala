package graft

import java.nio.file.Files
import graft.tools.Probe

/** `tools.Probe`: per-query wall time, cluster metrics and plan files. */
class ProbeSpec extends SparkSpec {

  test("probe profiles each query on each dir and writes the plan") {
    val planDir = Files.createTempDirectory("graft-probe").resolve("plans")
    val dirs = Seq(sf001, new java.io.File(sf001).getParent + "/sf0.01")
    val results = Probe.probe(spark, Seq("j_star_join"), dirs, runs = 1,
      planDir = Some(planDir.toString))
    assert(results.map(r => (r.query, r.dir)) == dirs.map(("j_star_join", _)))
    results.foreach { r =>
      assert(r.wallS > 0, r.json)
      assert(r.metrics.tasks > 0, r.json)
      assert(r.json.startsWith("{\"query\":\"j_star_join\""), r.json)
    }
    val plan = new String(Files.readAllBytes(planDir.resolve("j_star_join.txt")),
      "UTF-8")
    assert(plan.contains("== Physical Plan =="), plan)
  }

  test("an unknown query fails fast and is named") {
    val planDir = Files.createTempDirectory("graft-probe-bad").resolve("plans")
    val e = intercept[IllegalArgumentException] {
      Probe.probe(spark, Seq("j_star_join", "no_such_query"), Seq(sf001),
        runs = 1, planDir = Some(planDir.toString))
    }
    assert(e.getMessage.contains("no_such_query"), e.getMessage)
    assert(!Files.exists(planDir), "probe did work before failing")
  }

  test("a second probe of the same query compiles no classes") {
    Probe.probe(spark, Seq("j_star_join"), Seq(sf001), runs = 1, planDir = None)
    val second = Probe.probe(spark, Seq("j_star_join"), Seq(sf001), runs = 2,
      planDir = None)
    assert(second.map(_.compiles) == Seq(0L), second.map(_.json))
    assert(second.head.json.endsWith(",\"compiles\":0}"), second.head.json)
  }
}
