package graft

import org.apache.spark.sql.functions._
import graft.functions.FreqItems

class FreqItemsSpec extends SparkSpec {
  import spark.implicits._

  private def sketchOf(items: Seq[String], k: Int, parts: Int = 4) = {
    items.toDF("x").repartition(parts)
      .agg(FreqItems.freqItems(col("x"), k).as("sk"))
      .first().getMap[String, Long](0)
  }

  test("exact when distinct count fits in k counters") {
    val items = Seq.fill(30)("a") ++ Seq.fill(12)("b") ++ Seq.fill(5)("c")
    val sk = sketchOf(scala.util.Random.shuffle(items), k = 8)
    assert(sk == Map("a" -> 30L, "b" -> 12L, "c" -> 5L))
  }

  test("MG bounds hold under eviction and multi-partition merge") {
    // vocab 120 >> k=16: heavy items t0..t4 (200-i*20 copies), long tail of
    // singletons. Deterministic interleave (no RNG — order-independent
    // bounds are what we assert, any order works).
    val heavy = (0 until 5).flatMap(i => Seq.fill(200 - i * 20)(s"t$i"))
    val tail = (0 until 115).map(i => s"z$i")
    val items = (heavy ++ tail ++ heavy).zipWithIndex
      .sortBy { case (_, i) => (i * 2654435761L) % 1000003 }.map(_._1)
    val n = items.size
    val k = 16
    val truth = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
    for (parts <- Seq(1, 7)) {
      val sk = sketchOf(items, k, parts)
      assert(sk.size <= k)
      sk.foreach { case (item, est) =>
        val t = truth(item)
        assert(est <= t, s"$item overestimated: $est > $t")
        assert(t - est <= n.toLong / (k + 1),
          s"$item est $est below bound ${t - n / (k + 1)}")
      }
      // guaranteed survivors: true count beyond the max possible decrement
      truth.filter(_._2 > n.toLong / (k + 1)).keys.foreach { item =>
        assert(sk.contains(item), s"heavy item $item evicted")
      }
    }
  }

  test("nulls are skipped, SQL registration and arity check work") {
    val sk = Seq(Some("a"), None, Some("a"), Some("b"), None)
      .toDF("x").selectExpr("freq_items(x, 4) AS sk")
      .first().getMap[String, Long](0)
    assert(sk == Map("a" -> 2L, "b" -> 1L))
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      Seq("a").toDF("x").selectExpr("freq_items(x)").collect()
    }
    assert(e.getMessage.contains("freq_items"))
  }

  test("grouped aggregation keeps per-group sketches independent") {
    val df = ((1 to 20).map(i => ("g1", s"a$i")) ++
      Seq.fill(30)(("g2", "hot"))).toDF("g", "x")
    val rows = df.repartition(5).groupBy("g")
      .agg(FreqItems.freqItems(col("x"), 8).as("sk"))
      .collect().map(r => r.getString(0) -> r.getMap[String, Long](1)).toMap
    assert(rows("g2") == Map("hot" -> 30L))
    assert(rows("g1").size <= 8)
    rows("g1").values.foreach(v => assert(v >= 1L))
  }
}
