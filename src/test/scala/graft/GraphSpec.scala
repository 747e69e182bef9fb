package graft

import graft.ext.Graph

/** PageRank over edge DataFrames (ext.Graph). */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  private def sym(pairs: (Long, Long)*) =
    (pairs ++ pairs.map(p => (p._2, p._1))).toDF("src", "dst")

  /** `ranks` on both sides of the driver fast-path gate: the distributed
    * loop (budget 0), then the default budget, under which these small
    * graphs take the driver loop. The two must agree to 1e-9. */
  private def bothGateSides(ranks: => Map[Long, Double]): Seq[Map[Long, Double]] = {
    val sides = Seq(
      withSQLConf("spark.graft.pagerank.localMaxEdges" -> "0")(ranks), ranks)
    val Seq(distributed, driver) = sides
    assert(distributed.keySet == driver.keySet)
    driver.foreach { case (n, v) =>
      assert(math.abs(distributed(n) - v) < 1e-9,
        s"node $n: distributed ${distributed(n)} vs driver $v")
    }
    sides
  }

  test("symmetric triangle converges to uniform ranks summing to 1") {
    val ranks = Graph.pageRank(sym((1L, 2L), (2L, 3L), (1L, 3L)),
      "src", "dst", iters = 5).as[(Long, Double)].collect().toMap
    assert(ranks.size == 3)
    ranks.values.foreach(v => assert(math.abs(v - 1.0 / 3) < 1e-12))
    assert(math.abs(ranks.values.sum - 1.0) < 1e-12)
  }

  test("star center outranks leaves; total mass conserved") {
    bothGateSides {
      Graph.pageRank(sym((1L, 2L), (1L, 3L), (1L, 4L)),
        "src", "dst", iters = 10).as[(Long, Double)].collect().toMap
    }.foreach { ranks =>
      assert(ranks(1L) > ranks(2L) * 2, s"center ${ranks(1L)} vs ${ranks(2L)}")
      assert(Seq(2L, 3L, 4L).map(ranks).distinct.size == 1) // leaves tie
      assert(math.abs(ranks.values.sum - 1.0) < 1e-9)
    }
  }

  test("directed graph with dangling node conserves rank mass") {
    // 1→2→3: node 3 has no out-edges; without the dangling-mass term its
    // rank would leak each iteration (sum < 1). No caller symmetrization.
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    bothGateSides {
      Graph.pageRank(edges, "src", "dst", iters = 20)
        .as[(Long, Double)].collect().toMap
    }.foreach { ranks =>
      assert(ranks.size == 3, "dst-only vertices are nodes too")
      assert(math.abs(ranks.values.sum - 1.0) < 1e-9,
        s"mass not conserved: ${ranks.values.sum}")
      assert(ranks(3L) > ranks(1L), "sink accumulates more than the source")
    }
  }

  test("tol early stop lands on the fixed-horizon ranks") {
    val g = sym((1L, 2L), (1L, 3L), (1L, 4L))
    val fixed = Graph.pageRank(g, "src", "dst", iters = 50)
      .as[(Long, Double)].collect().toMap
    val early = Graph.pageRank(g, "src", "dst", iters = 50,
      tol = Some(1e-10)).as[(Long, Double)].collect().toMap
    fixed.foreach { case (n, v) => assert(math.abs(early(n) - v) < 1e-8) }
    assert(math.abs(early.values.sum - 1.0) < 1e-9)
  }

  test("duplicate input edges do not double contributions") {
    val dup = sym((1L, 2L)).union(sym((1L, 2L)))
    def ranks(edges: org.apache.spark.sql.DataFrame) =
      Graph.pageRank(edges, "src", "dst", iters = 3)
        .as[(Long, Double)].collect().toMap
    val onceSides = bothGateSides(ranks(sym((1L, 2L))))
    val twiceSides = bothGateSides(ranks(dup))
    onceSides.zip(twiceSides).foreach { case (once, twice) =>
      assert(once == twice)
      assert(math.abs(once.values.sum - 1.0) < 1e-9)
    }
    intercept[IllegalArgumentException] {
      Graph.pageRank(sym((1L, 2L)), "src", "dst", iters = 0)
    }
  }
}
