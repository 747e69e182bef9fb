package graft

import org.apache.spark.sql.functions._
import graft.ext.Curation
import graft.ext.Curation.QualityRules

/** Corpus-curation operators: quality filter reasons + precedence, shard
  * packing budget/determinism, stratified sampling determinism. */
class CurationSpec extends SparkSpec {
  import spark.implicits._

  test("leakSafeSplit keeps near-dup clusters in one split") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (3L, "the quick brown fox jumps over the lazy dog near the river bend"),
      (4L, "completely different content about spark query engines and shuffles"),
      (5L, "unrelated second singleton with its own words and nothing shared"))
      .toDF("doc_id", "text")
    val out = Curation.leakSafeSplit(docs, "text", "doc_id")
      .as[(Long, Long, String)].collect().sortBy(_._1)
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L, 5L)) // every doc once
    val byId = out.map(r => r._1 -> r).toMap
    // the near-dup family {1,2,3} shares a cluster AND a split
    assert(Set(byId(1L), byId(2L), byId(3L)).map(_._2).size == 1)
    assert(Set(byId(1L), byId(2L), byId(3L)).map(_._3).size == 1)
    // singletons are their own cluster
    assert(byId(4L)._2 == 4L && byId(5L)._2 == 5L)
    assert(out.forall(r => Set("train", "val", "test").contains(r._3)))
    // deterministic across runs
    val again = Curation.leakSafeSplit(docs, "text", "doc_id")
      .as[(Long, Long, String)].collect().sortBy(_._1)
    assert(out.toSeq == again.toSeq)
    intercept[IllegalArgumentException] {
      Curation.leakSafeSplit(docs, "text", "doc_id",
        trainFrac = 0.9, valFrac = 0.2)
    }
  }

  test("qualityFilter: first matching rule wins, kept rows have null reason") {
    val rules = QualityRules(minTokens = 3, maxTokens = 6,
      maxPunctRatio = 0.2, minMeanWordLen = 2.0, maxMeanWordLen = 8.0)
    val docs = Seq(
      (1L, "good clean words here"), // kept
      (2L, "too short"), // too_short (2 tokens)
      (3L, "one two three four five six seven"), // too_long (7 tokens)
      (4L, "a!! b?? c!! d??"), // high punct AND short words: punct wins? no —
      // 4 tokens in range; punct ratio 6/15=0.4 > 0.2 → high_punct (before
      // gibberish: mean word len 3.25... rule order decides)
      (5L, "aa bb cc d"), // mwl = 7/4 = 1.75 < 2.0 → gibberish
      (6L, "")) // 0 tokens → too_short
      .toDF("doc_id", "text")
    val out = Curation.qualityFilter(docs, "text", rules)
      .select($"doc_id", $"keep", $"drop_reason")
      .as[(Long, Boolean, Option[String])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L) == ((true, None)))
    assert(out(2L) == ((false, Some("too_short"))))
    assert(out(3L) == ((false, Some("too_long"))))
    assert(out(4L) == ((false, Some("high_punct"))))
    assert(out(5L) == ((false, Some("gibberish"))))
    assert(out(6L) == ((false, Some("too_short"))))
  }

  test("packShards: budget boundaries, oversized docs, per-stratum reset") {
    val docs = Seq(
      // lang a: 400+400+400 → doc 3 starts at cum 800 < 1000? exclusive
      // cumsum: shards = floor(0/1000)=0, floor(400/1000)=0, floor(800/1000)=0
      (1L, "a", 400), (2L, "a", 400), (3L, "a", 400),
      (4L, "a", 900), // starts at 1200 → shard 1
      (5L, "a", 2500), // oversized: starts at 2100 → shard 2, own spillover
      (6L, "a", 100), // starts at 4600 → shard 4
      (7L, "b", 50)) // new stratum: shard 0
      .toDF("doc_id", "lang", "n_tokens")
    val out = Curation.packShards(docs, "n_tokens", "doc_id", 1000L, Seq("lang"))
      .select($"doc_id", $"shard_id").as[(Long, Int)].collect().toMap
    assert(out == Map(1L -> 0, 2L -> 0, 3L -> 0, 4L -> 1, 5L -> 2, 6L -> 4,
      7L -> 0))
    // deterministic: same input → same shards on re-run
    val again = Curation.packShards(docs, "n_tokens", "doc_id", 1000L,
      Seq("lang")).select($"doc_id", $"shard_id").as[(Long, Int)]
      .collect().toMap
    assert(again == out)
  }

  test("packShards supports a global (stratum-less) pack — the " +
      "distributed prefix sum removed the one-task-per-stratum limit") {
    val docs = (1L to 100L).map(i => (i, 100)).toDF("id", "n")
    val out = Curation.packShards(docs, "n", "id", 1000L, Nil, buckets = 4)
      .select($"id", $"shard_id").as[(Long, Int)].collect().toMap
    // 100 docs × 100 tokens at budget 1000 → 10 docs per shard, in id order
    (1L to 100L).foreach(i => assert(out(i) == ((i - 1) / 10).toInt))
  }

  test("distributedCumsum: a dominant (90%) stratum spans multiple range " +
      "buckets — no stratum serializes through one task — and matches " +
      "the single-window cumsum exactly") {
    import org.apache.spark.sql.expressions.Window
    val rng = new scala.util.Random(7)
    val rows = (1L to 1000L).map { i =>
      (i, if (i <= 900) "en" else s"l${i % 7}", rng.nextInt(50) + 1)
    }
    val docs = rows.toDF("doc_id", "lang", "n_tok")
    val cum = Curation.distributedCumsum(docs, "n_tok", "doc_id",
      Seq("lang"), buckets = 8, cumCol = "__cum", bucketCol = "__b")
    // the skewed stratum must execute across >1 bucket (i.e. >1 task)
    val enBuckets = cum.filter($"lang" === "en")
      .select("__b").distinct().count()
    assert(enBuckets > 1,
      s"dominant stratum ran in $enBuckets bucket(s) — still serialized")
    // exact equality with the serial single-window formulation
    val w = Window.partitionBy($"lang").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val expect = docs.withColumn("ref", sum($"n_tok".cast("long")).over(w))
      .select($"doc_id", $"ref").as[(Long, Long)].collect().toMap
    val got = cum.select($"doc_id", $"__cum").as[(Long, Long)]
      .collect().toMap
    assert(got == expect)
    // deterministic on re-run
    val again = Curation.distributedCumsum(docs, "n_tok", "doc_id",
        Seq("lang"), buckets = 8, cumCol = "__cum", bucketCol = "__b")
      .select($"doc_id", $"__cum").as[(Long, Long)].collect().toMap
    assert(again == expect)
  }

  test("distributedCumsum keeps NULL-stratum and NULL-id rows: null-safe " +
      "joins match the single-window formulation row for row") {
    import org.apache.spark.sql.expressions.Window
    val docs = Seq(
      (Option(1L), Option("en"), 5), (Option(2L), Option("en"), 7),
      (Option(3L), Option.empty[String], 11),
      (Option(4L), Option.empty[String], 13),
      (Option.empty[Long], Option("en"), 3), (Option(5L), Option("fr"), 17))
      .toDF("doc_id", "lang", "n_tok")
    val cum = Curation.distributedCumsum(docs, "n_tok", "doc_id",
      Seq("lang"), buckets = 4, cumCol = "__cum", bucketCol = "__b")
    assert(cum.count() == 6, "a null key must never drop a row")
    val w = Window.partitionBy($"lang").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val expect = docs
      .withColumn("ref", sum($"n_tok".cast("long")).over(w))
      .select($"doc_id", $"lang", $"ref")
      .as[(Option[Long], Option[String], Long)].collect().toSet
    val got = cum.select($"doc_id", $"lang", $"__cum")
      .as[(Option[Long], Option[String], Long)].collect().toSet
    assert(got == expect)
    // the wide packShards path (extra payload column → null-safe
    // join-back) keeps the null-keyed rows too
    val shards = Curation.packShards(
      docs.withColumn("payload", coalesce($"doc_id", lit(-1L))),
      "n_tok", "doc_id", 10L, Seq("lang"), buckets = 4)
    assert(shards.count() == 6)
    assert(shards.filter($"lang".isNull).count() == 2)
    // packSequences with a NULL-stratum start offset: the offset must
    // APPLY (null-safe left join), not silently coalesce to zero
    val offs = Seq((Option("en"), 100L), (Option.empty[String], 7L))
      .toDF("lang", "start_offset")
    val manifest = Curation.packSequences(docs, "n_tok", "doc_id", 8,
      Seq("lang"), startOffsets = Some(offs))
    val nullSeqs = manifest.filter($"lang".isNull)
      .select($"seq_id").as[Long].collect().toSet
    // null stratum: 24 tokens from offset 7 → covers [7, 31) → seqs 0..3
    // (a dropped offset row would coalesce to 0 and stop at seq 2)
    assert(nullSeqs == Set(0L, 1L, 2L, 3L))
    assert(manifest.filter($"lang".isNull)
      .agg(sum("n_tokens")).head().getLong(0) == 24L)
  }

  test("sampleStratified: deterministic, honors per-stratum thresholds") {
    val docs = (0L until 1000L).map(i =>
      (i, if (i % 2 == 0) "en" else "fr")).toDF("doc_id", "lang")
    val sampled = Curation.sampleStratified(docs, "doc_id", "lang",
      Map("en" -> "14"), default = "40")
    val counts = sampled.groupBy("lang").count()
      .as[(String, Long)].collect().toMap
    // "14" ≈ 20/256 ≈ 7.8% of 500; "40" ≈ 64/256 = 25% of 500 — wide margins
    assert(counts("en") > 10 && counts("en") < 90)
    assert(counts("fr") > 70 && counts("fr") < 190)
    assert(counts("fr").toDouble / counts("en") > 1.5)
    // deterministic: identical rows on a second run
    val a = sampled.select("doc_id").as[Long].collect().sorted.toSeq
    val b = Curation.sampleStratified(docs, "doc_id", "lang",
      Map("en" -> "14"), default = "40")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(a == b)
    // "00" default keeps nothing from unlisted strata
    assert(Curation.sampleStratified(docs, "doc_id", "lang",
      Map("en" -> "14")).filter($"lang" === "fr").isEmpty)
  }

  test("chunk: overlapping windows, short tail, sub-window docs survive") {
    val docs = Seq(
      (1L, (1 to 40).map(i => s"t$i").mkString(" ")), // 40 toks → 2 chunks
      (2L, "tiny doc"),                               // shorter than a window
      (3L, ""))                                       // empty → one empty chunk
      .toDF("doc_id", "text")
    val out = Curation.chunk(docs, "text", chunkTokens = 32, overlap = 8)
      .select($"doc_id", $"chunk_idx", $"n_chunk_tokens", $"chunk_text")
      .as[(Long, Int, Int, String)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(out.map(r => (r._1, r._2, r._3)) ==
      Seq((1L, 0, 32), (1L, 1, 16), (2L, 0, 2), (3L, 0, 0)))
    // stride 24: chunk 1 starts at token 25 and overlaps the previous 8
    assert(out(1)._4.startsWith("t25 ") && out(1)._4.endsWith(" t40"))
    assert(out(0)._4.endsWith(" t32"))
    intercept[IllegalArgumentException](
      Curation.chunk(docs, "text", chunkTokens = 8, overlap = 8))
    // NULL text must survive as an empty chunk 0, not silently vanish
    val withNull = Seq((9L, null: String)).toDF("doc_id", "text")
    val nr = Curation.chunk(withNull, "text", 32, 8)
      .select($"doc_id", $"chunk_idx", $"n_chunk_tokens")
      .as[(Long, Int, Int)].collect().toSeq
    assert(nr == Seq((9L, 0, 0)))
  }

  test("chunk property: stride segments reassemble the original tokens") {
    val rnd = new scala.util.Random(11)
    val docs = (0L until 50L).map { i =>
      (i, Seq.fill(rnd.nextInt(60))("w" + rnd.nextInt(1000)).mkString(" "))
    }.toDF("doc_id", "text")
    val (c, o) = (16, 4)
    val chunks = Curation.chunk(docs, "text", chunkTokens = c, overlap = o)
      .select($"doc_id", $"chunk_idx", $"chunk_text")
      .as[(Long, Int, String)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    docs.as[(Long, String)].collect().foreach { case (id, text) =>
      val toks = text.split(" ").filter(_.nonEmpty).toSeq
      // chunk i's first `o` tokens repeat chunk i-1's tail: dropping them
      // from every chunk but the first must reassemble the document
      val rebuilt = chunks(id).zipWithIndex.flatMap { case (ch, i) =>
        val t = ch.split(" ").filter(_.nonEmpty).toSeq
        if (i == 0) t else t.drop(o)
      }
      assert(rebuilt == toks, s"doc $id must reassemble")
    }
  }

  test("shuffled: deterministic order, sorted within shards, salt varies") {
    val docs = (0L until 500L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    val a = Curation.shuffled(docs, "doc_id", numShards = 4, salt = "ep1")
    assert(a.rdd.getNumPartitions == 4)
    // each shard is locally sorted by the shuffle key
    import org.apache.spark.sql.Row
    a.select("__shuffle_key").rdd.mapPartitions { it =>
      val keys = it.map { case Row(k: String) => k }.toSeq
      Iterator.single(keys == keys.sorted)
    }.collect().foreach(ok => assert(ok))
    // reproducible: same salt → same global order; different salt → not
    def order(salt: String) =
      Curation.shuffled(docs, "doc_id", 4, salt)
        .select("doc_id").as[Long].collect().toSeq
    assert(order("ep1") == order("ep1"))
    assert(order("ep1") != order("ep2"))
    // and it is a permutation, not a sample
    assert(order("ep1").sorted == (0L until 500L))
  }

  test("contamination: shingle overlap against a benchmark set") {
    val bench = Seq((100L, "the quick brown fox jumps")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "the quick brown fox jumps high"), // 4 shingles, 3 in benchmark
      (2L, "completely different words entirely here"), // 0 overlap
      (3L, "hi")) // too short to shingle → null rate
      .toDF("doc_id", "text")
    val out = Curation.contamination(docs, "text", "doc_id", bench, "text")
      .as[(Long, Long, Long, Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) == ((4L, 3L, Some(0.75))))
    assert(out(2L) == ((3L, 0L, Some(0.0))))
    assert(out(3L) == ((0L, 0L, None)))
  }

  test("contamination: empty benchmark means nothing is contaminated") {
    val docs = Seq((1L, "the quick brown fox jumps")).toDF("doc_id", "text")
    val bench = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val out = Curation.contamination(docs, "text", "doc_id", bench, "text")
      .as[(Long, Long, Long, Option[Double])].collect().head
    assert(out == ((1L, 3L, 0L, Some(0.0))))
  }

  test("repetitionRatio: repeated n-grams score high, clean prose low") {
    val out = Seq(
      (1L, "spam spam spam spam spam"),  // 4 bigrams, 1 distinct → 0.75
      (2L, "all words are fully unique"), // 0.0
      (3L, "x"))                          // too short → null
      .toDF("doc_id", "text")
      .select($"doc_id", Curation.repetitionRatio($"text", 2).as("r"))
      .as[(Long, Option[Double])].collect().toMap
    assert(out(1L).exists(v => math.abs(v - 0.75) < 1e-9))
    assert(out(2L).contains(0.0))
    assert(out(3L).isEmpty)
  }

  test("weightedSample: reproducible, and weights steer inclusion odds") {
    // 200 ids, half weight 1, half weight 50: the heavy stratum should
    // dominate a top-40 draw (expectation ~2% light); determinism is
    // exact — same salt, same sample
    val df = (0L until 200L).map(i => (i, if (i < 100) 1 else 50))
      .toDF("id", "w")
    def draw() = Curation.weightedSample(df, "id", $"w", k = 40)
      .select("id").as[Long].collect().toSeq
    val a = draw(); val b = draw()
    assert(a == b, "same salt must reproduce the same sample")
    val heavy = a.count(_ >= 100L)
    assert(heavy >= 35, s"heavy stratum underdrawn: $heavy/40")
    // a different salt draws a different (still deterministic) sample
    val c = Curation.weightedSample(df, "id", $"w", k = 40, salt = "s2")
      .select("id").as[Long].collect().toSeq
    assert(c != a)
    // keys live in (0, 1]
    val keys = df.select(Curation.weightedSampleKey($"id", $"w"))
      .as[Double].collect()
    assert(keys.forall(k => k > 0.0 && k <= 1.0))
    // zero/negative/null weights yield NULL priorities (never NaN), so
    // invalid rows lose every desc-ordered draw instead of corrupting it
    val bad = Seq((1L, Some(0)), (2L, Some(-3)), (3L, None), (4L, Some(5)))
      .toDF("id", "w")
    val pri = bad.select(Curation.weightedSampleKey($"id", $"w"))
      .as[Option[Double]].collect().toSeq
    assert(pri.take(3).forall(_.isEmpty), s"invalid weights not nulled: $pri")
    assert(pri(3).exists(k => k > 0.0 && k <= 1.0))
    val drawn = Curation.weightedSample(bad, "id", $"w", k = 2)
      .select("id").as[Long].collect().toSeq
    assert(drawn.head == 4L, "valid-weight row must outrank invalid ones")
  }

  test("mixtureSample rebalances toward targets, binding source kept whole") {
    // 300 a / 100 b / 600 c; target 50/50 a/b -> cap = min(300/.5, 100/.5)
    // = 200: b keeps ALL 100 (binding), a keeps ~100 of 300, c dropped
    val df = ((0L until 300L).map(i => (i, "a")) ++
      (300L until 400L).map(i => (i, "b")) ++
      (400L until 1000L).map(i => (i, "c"))).toDF("id", "src")
    val kept = Curation.mixtureSample(df, "id", "src",
      Map("a" -> 0.5, "b" -> 0.5))
      .groupBy("src").count().as[(String, Long)].collect().toMap
    assert(kept("b") == 100L, "binding source must keep every row")
    assert(!kept.contains("c"), "untargeted source must be dropped")
    assert(math.abs(kept("a") - 100L) < 30, s"a kept ${kept("a")}, want ~100")
    // deterministic: a second run keeps the identical rows
    val ids1 = Curation.mixtureSample(df, "id", "src", Map("a" -> 0.5, "b" -> 0.5))
      .select("id").as[Long].collect().toSet
    val ids2 = Curation.mixtureSample(df, "id", "src", Map("a" -> 0.5, "b" -> 0.5))
      .select("id").as[Long].collect().toSet
    assert(ids1 == ids2)
  }

  test("redactPii: emails, IPs and phones replaced in fixed order") {
    val df = Seq(
      (1L, "mail alice.smith+x@corp.example.com or 10.1.2.3 or +1-202-555-0134 ok"),
      (2L, "no pii here at all"))
      .toDF("doc_id", "text")
    val out = Curation.redactPii(df, "text")
      .select($"doc_id", $"n_emails", $"n_ips", $"n_phones", $"text_redacted")
      .as[(Long, Int, Int, Int, String)].collect()
      .map(r => r._1 -> r).toMap
    val (_, e, i, p, red) = out(1L)
    assert((e, i, p) == ((1, 1, 1)))
    assert(red == "mail [EMAIL] or [IP] or [PHONE] ok")
    assert(out(2L)._5 == "no pii here at all" && out(2L)._2 == 0)
  }

  test("packSequences: exact seqLen everywhere but the stratum tail, " +
      "token-conserving, docs split across boundaries") {
    // stratum a: docs of 3,4,6 tokens, L=5 -> stream of 13 tokens ->
    // seqs [5,5,3]; doc 2 (4 toks at offset 3) spans seqs 0 and 1
    val df = Seq(
      (1L, "a", 3), (2L, "a", 4), (3L, "a", 6),
      (10L, "b", 5), (11L, "b", 2), (12L, "b", 0) // zero-token doc drops
    ).toDF("doc_id", "lang", "n_tok")
    val out = Curation.packSequences(df, "n_tok", "doc_id", 5, Seq("lang"))
      .orderBy("lang", "seq_id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(out.toSeq == Seq(
      ("a", 0L, 2L, 5L, 1L, 2L),   // docs 1 (3 toks) + 2's first 2
      ("a", 1L, 2L, 5L, 2L, 3L),   // doc 2's last 2 + doc 3's first 3
      ("a", 2L, 1L, 3L, 3L, 3L),   // doc 3's tail
      ("b", 0L, 1L, 5L, 10L, 10L), // exact fit; zero-token doc 12 absent
      ("b", 1L, 1L, 2L, 11L, 11L)))
    // conservation + exactness on real docs (composes with BPE counts)
    val docs = graft.core.Tables.load(spark, sf001, "documents")
    val merges = graft.ext.Bpe.train(docs, "text", 4)
    val withTok = graft.ext.Bpe.encode(docs, "text", merges)
    val seqs = Curation.packSequences(
      withTok, "n_bpe_tokens", "doc_id", 512, Seq("lang")).cache()
    val totalIn = withTok.agg(sum("n_bpe_tokens")).head().getLong(0)
    assert(seqs.agg(sum("n_tokens")).head().getLong(0) == totalIn)
    import org.apache.spark.sql.expressions.Window
    val nonTail = seqs.withColumn("__mx",
        max("seq_id").over(Window.partitionBy("lang")))
      .filter(col("seq_id") < col("__mx"))
    assert(nonTail.filter(col("n_tokens") =!= 512).count() == 0,
      "every non-tail sequence must hold exactly seqLen tokens")
    seqs.unpersist()
  }

  test("packSequences plan: ONE materialized bucket layout feeds both " +
      "prefix-sum passes, bucket-grain window, no stratum serialization") {
    val df = Seq((1L, "a", 3), (2L, "a", 4), (3L, "b", 6))
      .toDF("doc_id", "lang", "n_tok")
    val plan = Curation.packSequences(df, "n_tok", "doc_id", 5, Seq("lang"))
      .queryExecution.executedPlan
    import org.apache.spark.sql.execution.RDDScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    val resolved = plan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    // the range bucketing ran ONCE, eagerly, into a localCheckpoint —
    // both consumers (totals pass and bucket-local cumsum) scan the SAME
    // materialized RDD, so bucket ids cannot diverge between them (range
    // boundary sampling is per-plan-instance; two independently planned
    // exchanges could disagree) and an expensive upstream runs one pass
    val scans = resolved.collect { case r: RDDScanExec => r }
    assert(scans.nonEmpty, "expected checkpoint scans in the pack plan")
    assert(scans.map(_.rdd.id).distinct.size == 1,
      s"both prefix-sum passes must read ONE materialized layout, got " +
        s"rdd ids ${scans.map(_.rdd.id).distinct}")
    // no range exchange may remain downstream of the materialization
    val ranges = resolved.collect { case e: ShuffleExchangeLike => e }
      .filter(_.outputPartitioning.toString.toLowerCase.contains("range"))
    assert(ranges.isEmpty,
      s"bucketing must happen once at materialization, found $ranges")
    // the corpus-row window must partition at bucket grain, never by the
    // stratum alone (that is the 90%-stratum one-task serialization)
    val windows = resolved.collect { case w: WindowExec => w }
    val corpusWindows = windows.filter(
      _.partitionSpec.exists(_.toString.contains("__graft_bucket")))
    assert(corpusWindows.nonEmpty,
      "bucket-grain window missing from the prefix-sum plan")
    val stratumOnly = windows.filter(w =>
      w.partitionSpec.nonEmpty &&
        !w.partitionSpec.exists(_.toString.contains("__graft_bucket")) &&
        !w.child.exists(
          _.isInstanceOf[org.apache.spark.sql.execution.aggregate.BaseAggregateExec]))
    assert(stratumOnly.isEmpty,
      s"found a stratum-only window over non-aggregated (corpus) rows: " +
        s"${stratumOnly.map(_.partitionSpec).mkString(";")}")
  }
}
