package graft

/** Driver-contract smoke: every declared query runs at sf0.001; entry()
  * returns rows; every query has either an oracle or is explicitly
  * rows-only. */
class QueriesSpec extends SparkSpec {

  test("entry flagship query returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("all declared queries execute at sf0.001") {
    val failures = SparkEntry.queries.flatMap { case (name, fn) =>
      try { fn(spark, sf001).collect(); None }
      catch { case e: Throwable => Some(s"$name: ${e.getMessage}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("oracle keys are a subset of query keys") {
    val unknown = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"oracles without queries: $unknown")
  }

  test("query names are unique across modules") {
    val names = SparkEntry.allQs.map(_.name)
    assert(names.distinct.size == names.size)
  }

  test("j_cooccurrence physical paths agree (size gate can never change " +
      "results)") {
    // the input-size gate routes small inputs to collect_set, so the
    // sf0.01 oracle gate exercises only that path — this pins the
    // bitmap path (gate bypassed) to byte-identical output on the same
    // data; at sf1/sf10 the oracle sweeps exercise it directly
    val a = graft.queries.Relational.coocCollectSet(spark, sf001).collect()
    val b = graft.queries.Relational.coocBitmapForce(spark, sf001).collect()
    assert(a.nonEmpty && a.toSeq == b.toSeq)
  }

  test("the codegen cache holds a round of the mart_reads queries: a second " +
      "round compiles (almost) no new classes") {
    // Spark sizes its generated-class cache once per JVM from SQLConf.get
    // at the first compile; a session built outside GraftSession that
    // compiled first would leave the 100-entry default in force, and
    // every mart round (~230 classes) would recompile all of it
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      graft.core.GraftSession.CodegenCacheEntries.toString)
    // the nine queries of the benchmark's mart_reads workload
    val marts = Seq("mart_dashboard", "mart_entreprises", "mart_logement",
      "sec_rls_visibility", "sec_rbac_scope", "sec_connexion_history",
      "sec_active_sessions", "j_star_join", "w_latest_per_key")
    def compiles(): Long =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def round(): Unit = marts.foreach(SparkEntry.queries(_)(spark, sf001).collect())
    round()
    val before = compiles()
    round()
    val second = compiles() - before
    assert(second <= 20, s"a second mart round compiled $second classes")
  }
}
