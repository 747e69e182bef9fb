package graft

import org.apache.spark.sql.functions._
import graft.ext.{Dedup, Multimodal, Similarity, TextAnalysis}

/** LLM-pipeline operators: dedup, text analysis, similarity, multimodal. */
class ExtSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bend"), // near-dup of 1
    (3L, "completely different content about spark query engines and shuffles today"),
    (4L, "the quick brown fox jumps over the lazy dog near the river bank")) // exact dup of 1
    .toDF("doc_id", "text")

  test("exact dedup keeps the min-id winner per content hash") {
    val kept = Dedup.exact(docs, "text", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 3L))
  }

  test("minhash LSH surfaces the near-dup pair, not unrelated docs") {
    val pairs = Dedup.nearDupPairs(docs, "text", "doc_id")
      .select("a_id", "b_id", "jaccard").as[(Long, Long, Double)].collect()
    val ids = pairs.map(p => (p._1, p._2)).toSet
    assert(ids.contains((1L, 2L)) && ids.contains((1L, 4L)))
    assert(!ids.exists { case (a, b) => a == 3L || b == 3L })
    val j12 = pairs.find(p => p._1 == 1L && p._2 == 2L).get._3
    assert(j12 > 0.5 && j12 < 1.0)
    val j14 = pairs.find(p => p._1 == 1L && p._2 == 4L).get._3
    assert(j14 == 1.0)
  }

  test("nearDupPairs persists its signature frame: a second call over the " +
      "same input plans an InMemoryTableScan") {
    Dedup.nearDupPairs(docs, "text", "doc_id").collect()
    val again = Dedup.nearDupPairs(docs, "text", "doc_id")
    assert(finalPlanOf(again).contains("InMemoryTableScan"))
  }

  test("spanDedup keeps first occurrence per chunk and reassembles in order") {
    val df = Seq(
      (1L, "a b c d a b"),  // chunks: "a b", "c d", "a b" (self-dup)
      (2L, "c d e"),        // "c d" dup of doc1; trailing short chunk "e"
      (3L, "a b"),          // fully duplicated -> empty text
      (4L, ""))             // no tokens -> no output row
      .toDF("doc_id", "text")
    val out = Dedup.spanDedup(df, "text", "doc_id", span = 2)
      .orderBy("doc_id")
      .as[(Long, Int, Int, String)].collect()
    assert(out === Array(
      (1L, 3, 2, "a b c d"),
      (2L, 2, 1, "e"),
      (3L, 1, 0, "")))
  }

  test("windowDupStats counts overlapping cross-doc and self repeats") {
    val df = Seq(
      (1L, "w1 w2 w3"),             // windows: [w1 w2], [w2 w3]
      (2L, "w1 w2 x"),              // [w1 w2] dup with doc 1, [w2 x] unique
      (3L, "y1 y2 y1 y2 y1"),       // [y1 y2]x2 (self-dup), [y2 y1]x2
      (4L, "solo"))                 // shorter than w -> vanishes
      .toDF("doc_id", "text")
    val out = Dedup.windowDupStats(df, "text", "doc_id", w = 2)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Double)].collect()
    assert(out === Array(
      (1L, 2L, 1L, 0.5),
      (2L, 2L, 1L, 0.5),
      (3L, 4L, 4L, 1.0)))
  }

  test("windowDupStatsBloom matches the exact path row-for-row") {
    val df = Seq(
      (1L, "w1 w2 w3"),
      (2L, "w1 w2 x"),
      (3L, "y1 y2 y1 y2 y1"),
      (4L, "solo"),
      (5L, "all unique tokens here"))  // windows exist, none duplicated
      .toDF("doc_id", "text")
    val exact = Dedup.windowDupStats(df, "text", "doc_id", w = 2)
      .orderBy("doc_id").as[(Long, Long, Long, Double)].collect()
    val bloom = Dedup.windowDupStatsBloom(df, "text", "doc_id", w = 2)
      .orderBy("doc_id").as[(Long, Long, Long, Double)].collect()
    assert(bloom === exact)
    assert(bloom.map(_._1).toSeq === Seq(1L, 2L, 3L, 5L))
    assert(bloom.find(_._1 == 5L).get._3 === 0L)
  }

  test("windowDupStatsBloom on an all-unique corpus (null bloom binary)") {
    val df = Seq((1L, "a b c"), (2L, "d e f")).toDF("doc_id", "text")
    val out = Dedup.windowDupStatsBloom(df, "text", "doc_id", w = 2)
      .orderBy("doc_id").as[(Long, Long, Long, Double)].collect()
    assert(out === Array((1L, 2L, 0L, 0.0), (2L, 2L, 0L, 0.0)))
  }

  private def removeFixture = Seq(
    (1L, "a b c d"),      // all windows are FIRST occurrences → untouched
    (2L, "a b c x"),      // [a b]@0, [b c]@1 dup doc1 → covered {0,1,2}; keep "x"
    (3L, "a b"),          // whole doc = one dup window → empty, not dropped
    (4L, "solo"),         // < w tokens, passes through untouched
    (5L, "p q p q p"),    // self-dup: [p q]@2, [q p]@3 flagged → keep "p q"
    (6L, "A b Q"))        // case-folds: [a b]@0 dup doc1 → keep "q" (lowercased)
    .toDF("doc_id", "text")

  test("windowDupRemove cuts merged dup spans, first occurrence wins") {
    val out = Dedup.windowDupRemove(removeFixture, "text", "doc_id", w = 2)
      .orderBy("doc_id")
      .as[(Long, String, Long, Long)].collect()
    assert(out === Array(
      (1L, "a b c d", 4L, 0L),
      (2L, "x", 4L, 3L),
      (3L, "", 2L, 2L),
      (4L, "solo", 1L, 0L),
      (5L, "p q", 5L, 3L),
      (6L, "q", 3L, 2L)))
  }

  test("windowDupRemove on an all-unique corpus") {
    val df = Seq((1L, "a b c"), (2L, "d e f")).toDF("doc_id", "text")
    val out = Dedup.windowDupRemove(df, "text", "doc_id", w = 2)
      .orderBy("doc_id").as[(Long, String, Long, Long)].collect()
    assert(out === Array((1L, "a b c", 3L, 0L), (2L, "d e f", 3L, 0L)))
  }

  test("spanDedup's wide window shuffles 16-byte digests, not span text") {
    val df = Seq((1L, "a b c d a b"), (2L, "c d e")).toDF("doc_id", "text")
    val out = Dedup.spanDedup(df, "text", "doc_id", span = 2)
    out.collect()
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.window.WindowExec
    def windows(p: SparkPlan): Seq[WindowExec] = p match {
      case a: AdaptiveSparkPlanExec => windows(a.executedPlan)
      case q: QueryStageExec => windows(q.plan)
      case w: WindowExec => w +: w.children.flatMap(windows)
      case other => other.children.flatMap(windows)
    }
    val ws = windows(out.queryExecution.executedPlan)
    assert(ws.nonEmpty, "expected a window node in the spanDedup plan")
    ws.foreach { w =>
      val partTypes = w.partitionSpec.map(_.dataType)
      assert(partTypes ==
        Seq(org.apache.spark.sql.types.BinaryType),
        s"window must partition on the md5 digest, got $partTypes")
      val childFields = w.child.schema.fields.map(f => f.name -> f.dataType).toMap
      assert(!childFields.contains("chunk") && !childFields.contains("text"),
        s"window input must not carry span text: ${childFields.keys}")
    }
  }

  test("sq8: codes bounded, clip saturates, reconstruction error tiny") {
    val df = Seq((1L, Seq(0.5f, -0.5f, 0.0f, 2.0f, -3.0f)))
      .toDF("vec_id", "embedding")
    val r = df.select(
      Similarity.sq8Codes(col("embedding")).as("codes"),
      Similarity.sq8Mse(col("embedding")).as("mse")).first()
    val codes = r.getSeq[Long](0)
    assert(codes == Seq(64L, -63L, 0L, 127L, -127L)) // floor(x*127+0.5)
    assert(codes.forall(c => c >= -127 && c <= 127))
    // in-range dims reconstruct to <= half a quantization step each;
    // the clipped dims dominate the mse
    assert(r.getDouble(1) > 0.0)
    val inRange = df.select(Similarity.sq8Mse(array(lit(0.25f), lit(-0.7f))))
      .first().getDouble(0)
    assert(inRange < math.pow(1.0 / 127 / 2, 2) + 1e-12)
  }

  test("token entropy: zero for repetition, ln(n) for all-distinct tokens") {
    val out = TextAnalysis.withTokenEntropy(Seq(
      (1L, "spam spam spam spam"),
      (2L, "four fully distinct tokens"),
      (3L, "")).toDF("doc_id", "text"), "text")
      .select($"doc_id", $"token_entropy")
      .as[(Long, Option[Double])].collect().toMap
    assert(out(1L).exists(v => math.abs(v) < 1e-12))
    assert(out(2L).exists(v => math.abs(v - math.log(4)) < 1e-12))
    assert(out(3L).isEmpty)
  }

  test("groupCentroids: per-group mean vectors in dimension order") {
    val vecs = Seq(
      (1L, Array(1.0f, 2.0f, 30.0f), "a"),
      (2L, Array(3.0f, 4.0f, 10.0f), "a"),
      (3L, Array(5.0f, 6.0f, 7.0f), "b"))
      .toDF("vec_id", "embedding", "grp")
    val out = Similarity.groupCentroids(vecs, "embedding", "grp")
      .as[(String, Seq[Double], Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out("a")._1 == Seq(2.0, 3.0, 20.0)) // dims stay ordered
    assert(out("a")._2 == 2L && out("b")._2 == 1L)
    assert(out("b")._1 == Seq(5.0, 6.0, 7.0))
  }

  test("incremental dedup: new batch vs signature index matches full run") {
    // old corpus: docs 1, 3 — new batch: docs 2, 4
    val index = Dedup.signatureIndex(
      docs.filter($"doc_id".isin(1L, 3L)), "text", "doc_id")
    val inc = Dedup.incrementalNearDupPairs(
      docs.filter($"doc_id".isin(2L, 4L)), "text", "doc_id", index)
      .select("new_id", "old_id", "jaccard")
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    // the cross-set pairs of the FULL run, exactly — no old×old (1,3)-style
    // pairs, no new×new (2,4) pair
    val full = Dedup.nearDupPairs(docs, "text", "doc_id")
      .select("a_id", "b_id", "jaccard")
      .as[(Long, Long, Double)].collect()
    val crossFull = full.collect {
      case (a, b, j) if Set(1L, 3L)(a) && !Set(1L, 3L)(b) => (b, a) -> j
      case (a, b, j) if !Set(1L, 3L)(a) && Set(1L, 3L)(b) => (a, b) -> j
    }.toMap
    assert(inc == crossFull)
    assert(inc.contains((2L, 1L)) && inc.contains((4L, 1L))) // near+exact dup
    assert(!inc.keys.exists { case (n, _) => n == 3L })      // 3 is old-side
  }

  test("index dedup fails loudly when k is wider than the stored index") {
    // index built at k=4; asking for k=8 would read sig[4..7] as null and
    // silently change banding recall — the guard must raise instead
    val narrow = Dedup.signatureIndex(docs, "text", "doc_id", k = 4)
    val e = intercept[Exception] {
      Dedup.nearDupPairsFromIndex(narrow, "doc_id", k = 8, bands = 2).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("narrower than k=8")), e.toString)
    val e2 = intercept[Exception] {
      Dedup.incrementalNearDupPairsFromIndex(
        Dedup.signatureIndex(docs, "text", "doc_id", k = 8),
        narrow, "doc_id", k = 8, bands = 2).collect()
    }
    assert(msgs(e2).exists(_.contains("narrower than k=8")), e2.toString)
    // the streaming probe and the bucketed-index write band the same
    // stored index through the same guard
    val e4 = intercept[Exception] {
      graft.streaming.Streams.nearDupStream(docs, "text", "doc_id", narrow)
        .collect()
    }
    assert(msgs(e4).exists(_.contains("narrower than k=8")), e4.toString)
    try {
      val e5 = intercept[Exception] {
        graft.streaming.Streams.writeBandedIndex(narrow, "doc_id",
          "narrow_ndidx", 2)
      }
      assert(msgs(e5).exists(_.contains("narrower than k=8")), e5.toString)
    } finally {
      // the failed write registers no table but leaves its directory
      spark.sql("DROP TABLE IF EXISTS narrow_ndidx")
      val dir = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), "narrow_ndidx")
      dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(dir, true)
    }
    // a NULL sig row (hand-built/corrupt index) must raise the same
    // loud message, not pass silently: under ANSI, size(NULL) is NULL,
    // so a bare size(sig) < k guard would be false and sig(0) would
    // band on nulls
    val withNull = narrow.unionByName(narrow.limit(1)
      .withColumn("doc_id", lit(-1L))
      .withColumn("sig", lit(null).cast("array<string>")))
    val e3 = intercept[Exception] {
      Dedup.nearDupPairsFromIndex(withNull, "doc_id", k = 4, bands = 2)
        .collect()
    }
    assert(msgs(e3).exists(_.contains("narrower than k=4")), e3.toString)
    // a WIDER stored index is a valid prefix read: k=4 over a k=8 index
    // must equal a native k=4 index run (seeds are positional)
    val wide = Dedup.signatureIndex(docs, "text", "doc_id", k = 8)
    val fromWide = Dedup.nearDupPairsFromIndex(wide, "doc_id", k = 4, bands = 2)
      .as[(Long, Long, Double)].collect().toSet
    val native = Dedup.nearDupPairsFromIndex(narrow, "doc_id", k = 4, bands = 2)
      .as[(Long, Long, Double)].collect().toSet
    assert(fromWide == native)
  }

  test("nearDedup drops the higher id of confirmed near-dups") {
    val kept = Dedup.nearDedup(docs, "text", "doc_id", threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L))
  }

  /** `clusterPairs` on both sides of its driver gate: the union-find at
    * the default `spark.graft.cc.localMaxEdges` budget and min-label
    * propagation at budget 0. Checks that each side took its path and
    * that both return the same labels. */
  private def clustersBothWays(
      pairs: org.apache.spark.sql.DataFrame): Map[Long, Long] = {
    val local = Dedup.clusterPairs(pairs).as[(Long, Long)].collect().toMap
    assert(Dedup.lastRounds == 0, "the default budget takes the union-find")
    val dist = withSQLConf("spark.graft.cc.localMaxEdges" -> "0") {
      val d = Dedup.clusterPairs(pairs).as[(Long, Long)].collect().toMap
      assert(Dedup.lastRounds > 0, "budget 0 runs the propagation loop")
      d
    }
    assert(local == dist, "union-find and propagation labels must agree")
    local
  }

  test("clusterPairs closes transitive chains into one component") {
    // chain 1-2-3-4-5 (diameter 4 — exercises the convergence loop past
    // the fused warm rounds) plus a separate pair 10-11
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .toDF("a_id", "b_id")
    val got = clustersBothWays(pairs)
    assert((1L to 5L).forall(got(_) == 1L))
    assert(got(10L) == 10L && got(11L) == 10L)
    assert(got.size == 7)
  }

  test("clusterPairs converges on a deep chain within the safety rail") {
    // a 40-node chain (diameter 39) exercises many fused-hop iterations;
    // near-dup graphs are far shallower, so this over-covers reality
    val chain = (0L until 39L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val labels = clustersBothWays(chain)
    assert(labels.size == 40)
    assert(labels.values.forall(_ == 0L), "one component, min-id label")
    // and a disjoint second component keeps its own min label
    val two = chain.union(Seq((100L, 101L), (101L, 102L)).toDF("a_id", "b_id"))
    val l2 = clustersBothWays(two)
    assert(l2(102L) == 100L && l2(39L) == 0L)
  }

  test("clusterPairs throws past maxIter instead of returning split " +
      "clusters") {
    // diameter 39 needs 40 propagation rounds; a 10-round rail must fail
    // loudly and name both ways out
    val chain = (0L until 39L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val e = intercept[IllegalStateException] {
      withSQLConf("spark.graft.cc.localMaxEdges" -> "0") {
        Dedup.clusterPairs(chain, maxIter = 10).collect()
      }
    }
    assert(e.getMessage.contains("maxIter") &&
      e.getMessage.contains("spark.graft.cc.localMaxEdges"), e.getMessage)
    // the union-find below the budget has no rail to hit
    val labels = Dedup.clusterPairs(chain, maxIter = 10)
      .as[(Long, Long)].collect().toMap
    assert(labels.size == 40 && labels.values.forall(_ == 0L))
  }

  test("clusterPairs: size-gated local union-find ≡ distributed loop") {
    // r18 fast path: under spark.graft.cc.localMaxEdges with integral
    // ids, clusterPairs runs a driver union-find. Pin bit-equality with
    // the distributed propagation loop (forced via a 0 threshold) on
    // random graphs including chains, self-loops and singleton pairs —
    // and that the telemetry distinguishes the two paths.
    val rnd = new scala.util.Random(41)
    (1 to 3).foreach { _ =>
      val edges = Seq.fill(80)((rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
      clustersBothWays(edges.toDF("a_id", "b_id"))
    }
  }

  test("clusterPairsIncremental matches a from-scratch re-cluster on " +
      "random graphs (merges across old clusters, singleton new docs)") {
    val rnd = new scala.util.Random(3)
    (1 to 5).foreach { trial =>
      val n = 60
      val ids = (0L until n.toLong)
      val newSet = ids.filter(_ % 3 == 0).toSet
      val edges = Seq.fill(50)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      val oldEdges = edges.filter(e => !newSet(e._1) && !newSet(e._2))
      val newEdges = edges.filterNot(e => !newSet(e._1) && !newSet(e._2))
      def cluster(ns: Seq[Long], es: Seq[(Long, Long)]) = {
        val cc = Dedup.clusterPairs(es.toDF("a_id", "b_id"))
        ns.toDF("id").join(cc, Seq("id"), "left")
          .select($"id", coalesce($"cluster_id", $"id").as("cluster_id"))
      }
      val existing = cluster(ids.filterNot(newSet), oldEdges)
      val got = Dedup.clusterPairsIncremental(existing,
          newSet.toSeq.toDF("id"), newEdges.toDF("a_id", "b_id"))
        .as[(Long, Long)].collect().toMap
      val want = cluster(ids, edges).as[(Long, Long)].collect().toMap
      assert(got == want, s"trial $trial: incremental must equal batch")
    }
  }

  test("clusterPairsIncremental expand plan: broadcast joins only — the " +
      "corpus table is scanned, never shuffled") {
    val existing = (0L until 1000L).map(i => (i, i / 2 * 2))
      .toDF("id", "cluster_id").localCheckpoint()
    val out = Dedup.clusterPairsIncremental(existing,
      Seq(2000L, 2001L).toDF("id"),
      Seq((2000L, 4L), (2000L, 8L)).toDF("a_id", "b_id"))
    val plan = finalPlanOf(out)
    assert(plan.contains("BroadcastHashJoin"), plan.take(500))
    val shuffles = plan.split('\n').filter(l =>
      l.contains("Exchange hashpartitioning") ||
        l.contains("Exchange rangepartitioning"))
    assert(shuffles.isEmpty, shuffles.mkString("\n"))
    // and the merge itself is right: 4's and 8's old clusters united
    // with the new doc under the smallest member id
    val m = out.as[(Long, Long)].collect().toMap
    assert(m(4L) == 4L && m(5L) == 4L && m(8L) == 4L && m(9L) == 4L &&
      m(2000L) == 4L, m.toSeq.sortBy(_._1).take(12).toString)
    assert(m(2001L) == 2001L, "pairless new doc stays a singleton")
    assert(m(6L) == 6L && m(7L) == 6L, "untouched clusters unchanged")
    assert(m.size == 1002)
  }

  test("clusterPairs keeps self-loop-only ids as singletons on both " +
      "sides of the gate") {
    val pairs = Seq((1L, 2L), (7L, 7L), (9L, 9L), (2L, 3L))
      .toDF("a_id", "b_id")
    assert(clustersBothWays(pairs) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 9L))
  }

  test("simhash: identical texts agree, near-dups differ in few bits") {
    val sh = docs.select($"doc_id", Dedup.simhash($"text").as("sh"))
      .as[(Long, String)].collect().toMap
    assert(sh(1L) == sh(4L))
    assert(sh(1L).length == 64 && sh(1L).matches("[01]{64}"))
    val hd12 = sh(1L).zip(sh(2L)).count { case (a, b) => a != b }
    val hd13 = sh(1L).zip(sh(3L)).count { case (a, b) => a != b }
    assert(hd12 < hd13)
  }

  test("text features: counts, language id, quality bounds, fingerprint") {
    val f = TextAnalysis.withFeatures(docs, "text").cache()
    val r1 = f.filter($"doc_id" === 1).first()
    assert(r1.getAs[Int]("n_tokens") == 13)
    assert(r1.getAs[String]("lang_pred") == "en")
    val q = r1.getAs[Double]("quality")
    assert(q >= 0.0 && q <= 1.0)
    // fingerprint is word-order insensitive
    val shuffled = Seq((9L, "dog lazy the over jumps fox brown quick the near bank river the"))
      .toDF("doc_id", "text")
    val fp1 = f.filter($"doc_id" === 1).first().getAs[String]("fingerprint")
    val fp9 = TextAnalysis.withFeatures(shuffled, "text").first()
      .getAs[String]("fingerprint")
    assert(fp1 == fp9)
  }

  test("cosine similarity: self = 1, orthogonal = 0, topK ordered") {
    val embs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val top = Similarity.topKCosine(embs, "embedding", "vec_id",
      Seq(1.0, 0.0, 0.0), 3).as[(Long, Double)].collect()
    assert(top.map(_._1).toSeq == Seq(0L, 1L, 2L))
    assert(math.abs(top(0)._2 - 1.0) < 1e-12)
    assert(math.abs(top(2)._2) < 1e-12)
  }

  test("LSH bucketing: near vectors share buckets; ANN finds the query") {
    // q uses distinct powers of two so no ±1 plane projects it to exactly 0:
    // scaled copies land in the same bucket, negated copies in the complement.
    val q = Seq(8.0, 4.0, 2.0, 1.0, 0.5, 0.25, 0.125, 0.0625)
    val embs = (0 until 50).map { i =>
      val scale = (if (i % 2 == 0) 1.0 else -1.0) * (1.0 + 0.001 * i)
      (i.toLong, q.map(x => (x * scale).toFloat).toArray)
    }.toDF("vec_id", "embedding")
    val top = Similarity.annTopKCosine(embs, "embedding", "vec_id", q, 5, bits = 4)
      .as[(Long, Double)].collect()
    assert(top.nonEmpty)
    assert(top.forall(_._1 % 2 == 0)) // only positively-scaled copies share the bucket
    assert(top.forall(t => math.abs(t._2 - 1.0) < 1e-6))
    assert(top.map(_._2).sliding(2).forall(p => p.head >= p.last))
  }

  test("multiprobe ANN recovers a neighbor across the nearest-margin plane") {
    val dim = 8
    val planes = Similarity.hyperplanes(4, dim)
    val q = Seq(8.0, 4.0, 2.0, 1.0, 0.5, 0.25, 0.125, 0.0625)
    val projs = planes.map(_.zip(q).map { case (w, x) => w * x }.sum)
    val km = projs.zipWithIndex.minBy { case (p, i) => (math.abs(p), i) }._2
    // push q just across its nearest-margin plane km: one bucket bit flips
    val alpha = 2.0 * projs(km) / dim + math.signum(projs(km)) * 0.01
    val v = q.zip(planes(km)).map { case (x, w) => x - alpha * w }
    val vProjs = planes.map(_.zip(v).map { case (w, x) => w * x }.sum)
    assert(vProjs.zipWithIndex.forall { case (p, i) =>
      if (i == km) math.signum(p) != math.signum(projs(i))
      else math.signum(p) == math.signum(projs(i))
    }, "construction: v must differ from q on exactly plane km")
    assert(Similarity.probeBuckets(q, planes, 2).size == 2)
    val corpus = Seq((7L, v.map(_.toFloat).toArray)).toDF("vec_id", "embedding")
    // exact-bucket search misses v (it sits across the plane) ...
    assert(Similarity.annTopKCosine(corpus, "embedding", "vec_id", q, 5,
      bits = 4).isEmpty)
    // ... one extra probe (the minimal-margin flip) finds it
    val hit = Similarity.annTopKCosine(corpus, "embedding", "vec_id", q, 5,
      bits = 4, probes = 2)
    assert(hit.select("vec_id").as[Long].collect().toSeq == Seq(7L))
  }

  test("knnJoin multiprobe links vectors across the nearest-margin plane") {
    val dim = 8
    val planes = Similarity.hyperplanes(4, dim)
    val q = Seq(8.0, 4.0, 2.0, 1.0, 0.5, 0.25, 0.125, 0.0625)
    val projs = planes.map(_.zip(q).map { case (w, x) => w * x }.sum)
    val km = projs.zipWithIndex.minBy { case (p, i) => (math.abs(p), i) }._2
    val alpha = 2.0 * projs(km) / dim + math.signum(projs(km)) * 0.01
    val v = q.zip(planes(km)).map { case (x, w) => x - alpha * w }
    val corpus = Seq((1L, q.map(_.toFloat).toArray),
      (7L, v.map(_.toFloat).toArray)).toDF("vec_id", "embedding")
    // exact buckets differ → no candidates with probes=1
    assert(Similarity.knnJoin(corpus, "embedding", "vec_id",
      k = 1, bits = 4, dim = dim).isEmpty)
    // one extra probe per row crosses the minimal-margin plane both ways
    val linked = Similarity.knnJoin(corpus, "embedding", "vec_id",
      k = 1, bits = 4, dim = dim, probes = 2)
      .select("vec_id", "nbr_id").as[(Long, Long)].collect().toSet
    assert(linked == Set((1L, 7L), (7L, 1L)))
  }

  test("knnJoin caps per-bucket candidates (quadratic guard)") {
    // all 20 vectors land in ONE bucket (identical direction, scaled).
    // Components are distinct powers of two so no ±1 plane projects any
    // vector to ~0 (float rounding there would split buckets arbitrarily).
    val embs = (0 until 20).map { i =>
      (i.toLong, Array(8.0f, 4.0f, 2.0f).map(_ * (1.0f + 0.01f * i)))
    }.toDF("vec_id", "embedding")
    val capped = Similarity.knnJoin(embs, "embedding", "vec_id",
      k = 19, bits = 2, dim = 3, maxBucketCandidates = 5)
      .as[(Long, Long, Double, Int)].collect()
    // candidate side restricted to the 5 smallest ids per bucket: no
    // neighbor id above 4 appears, and each query sees <= 5 candidates
    assert(capped.nonEmpty)
    assert(capped.forall(_._2 <= 4L), "cap must keep only the 5 smallest ids")
    assert(capped.groupBy(_._1).values.forall(_.length <= 5))
    // vec 0 still gets its top-k over the surviving candidates (1..4)
    assert(capped.filter(_._1 == 0L).map(_._2).toSet == Set(1L, 2L, 3L, 4L))
    // uncapped (default) the same corpus yields full 19-neighbor lists
    val full = Similarity.knnJoin(embs, "embedding", "vec_id",
      k = 19, bits = 2, dim = 3).collect()
    assert(full.length == 20 * 19)
  }

  test("knnJoinAuto sizes the signature width to the corpus") {
    // the lever that keeps the bucketed pair join linear in n: expected
    // bucket population ~ target, so bits must grow with the corpus
    assert(Similarity.autoBits(2000, 512) == 4)      // minBits floor
    assert(Similarity.autoBits(20000, 512) == 6)
    assert(Similarity.autoBits(200000, 512) == 9)
    assert(Similarity.autoBits(2000000, 512) == 12)
    assert(Similarity.autoBits(1L << 40, 512) == 24) // maxBits ceiling
    assert(Similarity.autoBits(0, 512) == 4)
    // behavioral: auto matches an explicit knnJoin at the computed width
    val corpus = graft.core.Tables.load(spark, sf001, "embeddings")
    val bits = Similarity.autoBits(corpus.count(), 512)
    val auto = Similarity.knnJoinAuto(corpus, "embedding", "vec_id",
      k = 3, dim = 64).collect().map(_.toString).sorted.toSeq
    val manual = Similarity.knnJoin(corpus, "embedding", "vec_id",
      k = 3, bits = bits, dim = 64).collect().map(_.toString).sorted.toSeq
    assert(auto.nonEmpty && auto == manual)
  }

  test("multimodal: metadata + batched feature extraction over binary") {
    val media = Multimodal.syntheticMedia(spark, 10)
    val meta = Multimodal.withByteMetadata(media, "content")
    assert(meta.filter($"n_bytes" <= 0).count() == 0)
    assert(meta.select("digest").distinct().count() == 10)
    val feats = Multimodal.extractFeatures(media, "media_id", "content").cache()
    assert(feats.count() == 10)
    val f0 = feats.filter($"media_id" === 0).first()
    assert(f0.n_bytes == 64)
    assert(f0.byte_entropy > 0.0)
    assert(math.abs(f0.feature.map(_.toDouble).sum - 1.0) < 1e-5)
  }

  test("multimodal: resize subsamples deterministically to target size") {
    val media = Multimodal.syntheticMedia(spark, 6)
    val out = Multimodal.resized(media, "media_id", "content", 16)
      .collect().toMap
    assert(out.size == 6)
    assert(out.values.forall(_.length == 16))
    // deterministic: same input → same bytes
    val again = Multimodal.resized(media, "media_id", "content", 16)
      .collect().toMap
    assert(out.keys.forall(k => out(k).sameElements(again(k))))
    // short payloads pass through untouched
    val tiny = Seq((1L, Array[Byte](1, 2, 3))).toDF("media_id", "content")
    assert(Multimodal.resized(tiny, "media_id", "content", 16)
      .first()._2.sameElements(Array[Byte](1, 2, 3)))
  }

  test("multimodal: real WAV decode — exact duration, amplitude histogram") {
    // 8000 samples at 8 kHz = exactly 1000 ms
    val wav = Multimodal.syntheticWav(seed = 3, nSamples = 8000)
    val Some((ms, feat)) = Multimodal.decodeWav(wav)
    assert(ms == 1000, s"duration $ms")
    assert(feat.length == 8 && math.abs(feat.sum - 1.0f) < 1e-4)
    // a sine capped at half amplitude never reaches the top bins
    assert(feat(5) == 0.0f && feat(6) == 0.0f && feat(7) == 0.0f,
      feat.toSeq.toString)
    assert(feat(0) > 0 && feat(3) > 0, feat.toSeq.toString)
    // silence concentrates in bin 0
    val silent = Multimodal.syntheticWav(seed = -1, nSamples = 400)
    val Some((msS, featS)) = Multimodal.decodeWav(silent)
    assert(msS == 50 && featS(0) == 1.0f)
    // garbage and PNG bytes refuse to decode as audio
    assert(Multimodal.decodeWav("not audio".getBytes).isEmpty)
    assert(Multimodal.decodeWav(null).isEmpty)
    // three-way decodeMedia routes each payload through its real codec
    val img = {
      val b = new java.awt.image.BufferedImage(4, 4,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(b, "png", baos); baos.toByteArray
    }
    val rows = Seq((0L, img), (1L, wav), (2L, "plain text".getBytes))
      .toDF("media_id", "content")
    val got = Multimodal.decodeMedia(rows, "media_id", "content")
      .collect().map(d => d.media_id -> d).toMap
    assert(got(0L).codec == "png" && got(0L).width.contains(4))
    assert(got(1L).codec == "wav" && got(1L).duration_ms.contains(1000))
    assert(got(2L).codec == "stub" && got(2L).duration_ms.isEmpty)
  }

  test("multimodal: real MP4 container metadata — exact duration and dims") {
    val mp4 = Multimodal.syntheticMp4(durationMs = 1500, width = 320, height = 180)
    assert(Multimodal.parseMp4Meta(mp4).contains((1500, 320, 180)))
    // truncation anywhere inside moov must refuse, not misread
    (8 until mp4.length by 37).foreach { cut =>
      assert(Multimodal.parseMp4Meta(mp4.take(cut)).isEmpty, s"cut=$cut")
    }
    // text, PNG, WAV, and garbage payloads are not ISO BMFF
    assert(Multimodal.parseMp4Meta("plain text not a box tree".getBytes).isEmpty)
    assert(Multimodal.parseMp4Meta(Multimodal.syntheticWav(1, 400)).isEmpty)
    assert(Multimodal.parseMp4Meta(null).isEmpty)
    assert(Multimodal.parseMp4Meta(Array.fill[Byte](64)(0x41)).isEmpty)
    // the other real codecs refuse MP4 bytes, so routing order can't
    // shadow the container path
    assert(Multimodal.decodeImage(mp4).isEmpty && Multimodal.decodeWav(mp4).isEmpty)
    // four-way decodeMedia routes the container through codec="mp4" with
    // real metadata and the honest byte-histogram feature
    val rows = Seq((7L, mp4)).toDF("media_id", "content")
    val d = Multimodal.decodeMedia(rows, "media_id", "content").collect().head
    assert(d.codec == "mp4" && d.width.contains(320) && d.height.contains(180)
      && d.duration_ms.contains(1500))
    assert(d.feature.sameElements(Multimodal.decodeStub(mp4)))
    // a moof-fragmented file's mvhd duration is a lie — the parser must
    // REFUSE (fall to stub), not report a wrong measurement
    val frag = Multimodal.syntheticMp4(1500, 320, 180, fragmented = true)
    assert(Multimodal.parseMp4Meta(frag).isEmpty, "fragmented must refuse")
    val fd = Multimodal.decodeMedia(Seq((8L, frag)).toDF("media_id", "content"),
      "media_id", "content").collect().head
    assert(fd.codec == "stub" && fd.duration_ms.isEmpty)
  }

  test("multimodal: a plugged VideoFrameDecoder routes mp4 rows; the " +
      "default still refuses honestly") {
    val mp4 = Multimodal.syntheticMp4(durationMs = 900, width = 64, height = 48)
    val rows = Seq((11L, mp4)).toDF("media_id", "content")
    // no provider installed: honest mp4 label + byte-histogram stub
    assert(graft.ext.VideoFrameDecoder.installed.isEmpty)
    val before = Multimodal.decodeMedia(rows, "media_id", "content")
      .collect().head
    assert(before.codec == "mp4" &&
      before.feature.sameElements(Multimodal.decodeStub(mp4)))
    // a fake provider (stands in for a jcodec-backed deployment jar):
    // deterministic feature so the assertion is exact
    object Fake extends graft.ext.VideoFrameDecoder {
      def name = "fake"
      def decode(bytes: Array[Byte], maxFrames: Int): Option[Array[Float]] =
        Some(Array(bytes.length.toFloat, maxFrames.toFloat))
    }
    graft.ext.VideoFrameDecoder.register(Fake)
    try {
      val d = Multimodal.decodeMedia(rows, "media_id", "content")
        .collect().head
      // routed through the provider, provenance visible, REAL container
      // metadata still measured by the engine (not the provider)
      assert(d.codec == "mp4+fake", d.codec)
      assert(d.feature.sameElements(Array(mp4.length.toFloat, 4f)))
      assert(d.width.contains(64) && d.duration_ms.contains(900))
      // a provider that refuses a payload falls back to the stub path
      object Refuses extends graft.ext.VideoFrameDecoder {
        def name = "refuses"
        def decode(bytes: Array[Byte], maxFrames: Int) = None
      }
      graft.ext.VideoFrameDecoder.register(Refuses)
      val r = Multimodal.decodeMedia(rows, "media_id", "content")
        .collect().head
      assert(r.codec == "mp4" &&
        r.feature.sameElements(Multimodal.decodeStub(mp4)))
      // images never consult the video SPI (magic-byte gate first)
      val img = new java.awt.image.BufferedImage(8, 8,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", baos)
      graft.ext.VideoFrameDecoder.register(Fake)
      val i = Multimodal.decodeMedia(
        Seq((12L, baos.toByteArray)).toDF("media_id", "content"),
        "media_id", "content").collect().head
      assert(i.codec == "png")
    } finally graft.ext.VideoFrameDecoder.clear()
    // cleared: the honest default is back
    val after = Multimodal.decodeMedia(rows, "media_id", "content")
      .collect().head
    assert(after.codec == "mp4")
  }

  test("multimodal: the ServiceLoader discovery branch finds a provider " +
      "from a META-INF/services resource; programmatic still wins") {
    // the service file lives in a TEMP dir exposed through a context
    // classloader, NOT on the test classpath — the other multimodal
    // tests assert the no-provider default, which a classpath-resident
    // resource would break. ServiceLoader.load(Class) resolves via the
    // thread context classloader, which is exactly the deployment shape
    // ("drop a jar on the classpath") scoped to this test.
    val dir = java.nio.file.Files.createTempDirectory("graft-svcloader")
    val svc = dir.resolve("META-INF").resolve("services")
    java.nio.file.Files.createDirectories(svc)
    java.nio.file.Files.write(svc.resolve("graft.ext.VideoFrameDecoder"),
      "graft.TestServiceVideoDecoder".getBytes("UTF-8"))
    val prev = Thread.currentThread().getContextClassLoader
    val loader = new java.net.URLClassLoader(Array(dir.toUri.toURL), prev)
    Thread.currentThread().setContextClassLoader(loader)
    try {
      // discovered with no programmatic provider registered
      assert(graft.ext.VideoFrameDecoder.installed.map(_.name)
        .contains("svcloader"))
      // and routes decodeMedia end-to-end with provenance in the label
      val mp4 = Multimodal.syntheticMp4(durationMs = 700, width = 32,
        height = 16)
      val d = Multimodal.decodeMedia(
        Seq((21L, mp4)).toDF("media_id", "content"),
        "media_id", "content").collect().head
      assert(d.codec == "mp4+svcloader", d.codec)
      assert(d.width.contains(32) && d.duration_ms.contains(700))
      // resolution order: programmatic beats ServiceLoader…
      object Prog extends graft.ext.VideoFrameDecoder {
        def name = "prog"
        def decode(bytes: Array[Byte], maxFrames: Int) = Some(Array(1f))
      }
      graft.ext.VideoFrameDecoder.register(Prog)
      try assert(graft.ext.VideoFrameDecoder.installed.map(_.name)
        .contains("prog"))
      finally graft.ext.VideoFrameDecoder.clear()
      // …and clearing it re-exposes the discovered provider
      assert(graft.ext.VideoFrameDecoder.installed.map(_.name)
        .contains("svcloader"))
    } finally Thread.currentThread().setContextClassLoader(prev)
    // service dir out of scope: the honest no-provider default is back
    assert(graft.ext.VideoFrameDecoder.installed.isEmpty)
  }

  test("multimodal: jpeg routes through its own codec label") {
    val img = new java.awt.image.BufferedImage(24, 16,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", baos)
    val d = Multimodal.decodeMedia(
      Seq((9L, baos.toByteArray)).toDF("media_id", "content"),
      "media_id", "content").collect().head
    assert(d.codec == "jpeg" && d.width.contains(24) && d.height.contains(16))
  }

  test("multimodal: real imageio decode on a PNG, stub fallback elsewhere") {
    // a real 64x48 PNG rendered in-test: left half black, right half white
    def png(w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w)
        img.setRGB(x, y, if (x < w / 2) 0x000000 else 0xffffff)
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", baos)
      baos.toByteArray
    }
    val rows = Seq(
      (0L, png(64, 48)),
      (1L, Array.tabulate[Byte](100)(i => (i * 7 % 251).toByte))) // not an image
      .toDF("media_id", "content")
    val decoded = Multimodal.decodeImages(rows, "media_id", "content")
      .collect().map(d => d.media_id -> d).toMap
    val img = decoded(0L)
    assert(img.codec == "imageio" &&
      img.width.contains(64) && img.height.contains(48))
    // half black (bin 0), half white (bin 7): pixel-derived, not bytes
    assert(math.abs(img.feature(0) - 0.5f) < 1e-4)
    assert(math.abs(img.feature(7) - 0.5f) < 1e-4)
    val fake = decoded(1L)
    assert(fake.codec == "stub" && fake.width.isEmpty)
    assert(fake.feature.sameElements(Multimodal.decodeStub(
      Array.tabulate[Byte](100)(i => (i * 7 % 251).toByte))))
    // the default extractFeatures codec takes the real path for the PNG
    val feats = Multimodal.extractFeatures(rows, "media_id", "content")
      .collect().map(f => f.media_id -> f.feature).toMap
    assert(feats(0L).sameElements(img.feature))

    // real resize: long edge down to 16, aspect preserved, still a PNG
    val resizedOut = Multimodal.resizedImages(rows, "media_id", "content", 16)
      .collect().toMap
    val back = Multimodal.decodeImage(resizedOut(0L))
    assert(back.exists { case (w, h, _) => w == 16 && h == 12 })
    // non-image passes through unchanged
    assert(resizedOut(1L).length == 100)
    // already-small images pass through byte-identical
    val small = png(8, 8)
    assert(Multimodal.resizeImage(small, 16).exists(_.sameElements(small)))
  }

  test("multimodal: frameSample emits evenly-spaced distinct frames") {
    // 64..127-byte payloads, 16-byte frames → 4-8 frames, sample 4
    val media = Multimodal.syntheticMedia(spark, 5)
    val frames = Multimodal.frameSample(media, "content", 16, 4)
      .select($"media_id", $"frame_idx", $"frame")
      .as[(Long, Long, Array[Byte])].collect()
    assert(frames.groupBy(_._1).forall(_._2.length == 4)) // nf>=k → k distinct
    // frame content matches a direct slice of the payload
    val m0 = Multimodal.syntheticMedia(spark, 5)
      .filter($"media_id" === 0).select("content").first().getAs[Array[Byte]](0)
    frames.filter(_._1 == 0L).foreach { case (_, idx, frame) =>
      assert(frame.sameElements(
        m0.slice(idx.toInt * 16, math.min(idx.toInt * 16 + 16, m0.length))))
    }
    // payload shorter than one frame still yields exactly one frame
    val tiny = Seq((9L, Array[Byte](5, 6))).toDF("media_id", "content")
    val tf = Multimodal.frameSample(tiny, "content", 16, 4)
      .select($"frame_idx", $"frame").as[(Long, Array[Byte])].collect()
    assert(tf.length == 1 && tf.head._1 == 0L &&
      tf.head._2.sameElements(Array[Byte](5, 6)))
  }
}

/** Test-only SPI provider, instantiated by `java.util.ServiceLoader`
  * through the TCCL-scoped `META-INF/services` resource the discovery
  * test writes at runtime (it is deliberately NOT on the test classpath
  * — see that test for why). Public no-arg constructor, Serializable:
  * the ServiceLoader + task-closure contract. */
class TestServiceVideoDecoder extends graft.ext.VideoFrameDecoder {
  def name = "svcloader"
  def decode(bytes: Array[Byte], maxFrames: Int): Option[Array[Float]] =
    Some(Array(bytes.length.toFloat, maxFrames.toFloat, 7f))
}
