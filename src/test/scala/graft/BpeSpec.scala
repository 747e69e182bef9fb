package graft

import org.apache.spark.sql.functions._
import graft.ext.Bpe

/** BPE tokenizer: hand-computed merges, greedy-apply semantics (the
  * doubled-space replace trick), lossless-ness, and plan shape. */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  test("train learns hand-computable merges with deterministic ties") {
    // freqs: "abab" x3, "ab" x2 → pairs: (a,b)=8, (b,a)=3 → merge 1 = ab
    // then: (ab,ab)=3 → merge 2 = abab
    val df = Seq.fill(3)("abab").toDF("text")
      .union(Seq.fill(2)("ab").toDF("text"))
    val m = Bpe.train(df, "text", 2)
    assert(m.map(x => (x.lhs, x.rhs, x.count)) ==
      Seq(("a", "b", 8L), ("ab", "ab", 3L)))
  }

  test("merge application is greedy left-to-right: [a,a,a] -> [aa,a]") {
    val df = Seq("aaa", "aaa").toDF("text")
    val m = Bpe.train(df, "text", 1)
    assert(m.head.lhs == "a" && m.head.rhs == "a")
    val enc = Bpe.encode(Seq("aaa").toDF("text"), "text", m)
      .select("bpe_tokens").as[Seq[String]].head()
    assert(enc == Seq("aa", "a"))
  }

  test("merges stop early when no pair remains") {
    val df = Seq("ab", "ab").toDF("text")
    val m = Bpe.train(df, "text", 10)
    // "ab" -> merge(a,b); then every word is a single symbol: no pairs
    assert(m.size == 1)
    assert(m.head.lhs == "a" && m.head.rhs == "b")
  }

  test("encode is lossless and compresses on real docs") {
    val docs = graft.core.Tables.load(spark, sf001, "documents")
      .select("doc_id", "text")
    val merges = Bpe.train(docs, "text", 8)
    assert(merges.size == 8)
    val enc = Bpe.encode(docs, "text", merges)
    // lossless: concatenating subwords reproduces the lowercased,
    // space-stripped text
    val broken = enc.filter(
      array_join(col("bpe_tokens"), "") =!=
        regexp_replace(lower(col("text")), " ", "")).count()
    assert(broken == 0)
    // compresses: strictly fewer tokens than characters-in-words
    val agg = enc.agg(
      sum("n_bpe_tokens"),
      sum(length(regexp_replace(lower(col("text")), " ", "")))).head()
    assert(agg.getLong(0) < agg.getLong(1))
    // more merges never increase the token count
    val merges4 = merges.take(4)
    val n4 = Bpe.encode(docs, "text", merges4)
      .agg(sum("n_bpe_tokens")).head().getLong(0)
    assert(agg.getLong(0) <= n4)
  }

  test("encode runs unchanged on a stream (stateless projection) " +
      "and matches batch") {
    import org.apache.spark.sql.streaming.Trigger
    val docs = graft.core.Tables.load(spark, sf001, "documents")
      .select("doc_id", "text")
    val merges = Bpe.train(docs, "text", 4)
    val want = Bpe.encode(docs, "text", merges)
      .select(col("doc_id"), md5(array_join(col("bpe_tokens"), " ")).as("h"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    val dir = java.nio.file.Files.createTempDirectory("graft-bpest").toString
    docs.repartition(3).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream
      .schema(spark.read.parquet(dir).schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val q = Bpe.encode(stream, "text", merges)
      .select(col("doc_id"), md5(array_join(col("bpe_tokens"), " ")).as("h"))
      .writeStream.outputMode("append").format("memory").queryName("bpe_st")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("bpe_st")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got.size == want.size && got == want)
  }

  test("token ids: vocab covers every emitted subword, ids roundtrip, " +
      "unseen characters surface as null OOV") {
    val docs = graft.core.Tables.load(spark, sf001, "documents")
      .select("doc_id", "text")
    val merges = Bpe.train(docs, "text", 8)
    val vocab = Bpe.tokenVocab(docs, "text", merges)
    // ids are dense 0..V-1, base chars first then merges by rank
    assert(vocab.map(_._1) == vocab.indices.map(_.toLong))
    assert(vocab.takeRight(8).map(_._2) ==
      merges.sortBy(_.rank).map(m => m.lhs + m.rhs))
    val enc = Bpe.encodeIds(docs, "text", merges, vocab)
    assert(enc.filter(exists(col("bpe_ids"), _.isNull)).count() == 0,
      "training-corpus subwords must all be in vocab")
    // roundtrip: ids decode back to the token stream
    val idToTok = typedlit(vocab.toMap)
    assert(enc.filter(
      transform(col("bpe_ids"), i => element_at(idToTok, i)) =!=
        col("bpe_tokens")).count() == 0)
    // a character the training corpus never saw -> null id
    val oov = Bpe.encodeIds(Seq((1L, "π")).toDF("doc_id", "text"),
      "text", merges, vocab)
    assert(oov.select(exists(col("bpe_ids"), _.isNull)).head().getBoolean(0))
  }

  test("vocab_lookup_all ≡ element_at over the map literal at 50k " +
      "entries (unicode keys, OOV nulls), stays codegen, rejects a " +
      "non-foldable vocab") {
    val docs = graft.core.Tables.load(spark, sf001, "documents")
      .select("doc_id", "text")
    val merges = Bpe.train(docs, "text", 8)
    val real = Bpe.tokenVocab(docs, "text", merges)
    val vocab = real ++
      (real.size until 50000).map(i => (i.toLong, s"tok_$i")) :+
      (50000L, "😀π") // supplementary-plane + BMP unicode key
    val vlit = typedlit(vocab.map { case (id, t) => (t, id) }.toMap)
    val toks = Seq((1L, Seq("a", "tok_49999", "😀π", "NOT_IN_VOCAB", null)))
      .toDF("doc_id", "bpe_tokens")
    val both = toks.select(
      graft.functions.VocabLookup.vocabLookupAll(col("bpe_tokens"), vlit)
        .as("hash"),
      transform(col("bpe_tokens"), t => element_at(vlit, t)).as("linear"))
    val r = both.head()
    assert(r.getSeq[Any](0) == r.getSeq[Any](1))
    assert(r.getSeq[Any](0).last == null) // null token -> null id
    // corpus-wide parity on the full encode (null-safe compare)
    val enc = Bpe.encode(docs, "text", merges)
    assert(enc.filter(!(
      graft.functions.VocabLookup.vocabLookupAll(col("bpe_tokens"), vlit)
        <=> transform(col("bpe_tokens"), t => element_at(vlit, t))))
      .count() == 0)
    // the expression itself is codegen-capable: a projection of ONLY
    // vocab_lookup_all whole-stage-codegens (`*(n) Project`). Inside the
    // full encode the surrounding HOFs (transform/aggregate) are
    // CodegenFallback, so that Project is interpreted regardless — both
    // eval paths are exercised between this check and the corpus parity
    // above.
    val hashOnly = docs.select(
      graft.functions.VocabLookup.vocabLookupAll(
        split(lower(col("text")), " "), vlit).as("ids"))
    val plan = finalPlanOf(hashOnly)
    assert(plan.contains("*(1) Project"), plan.take(800))
    // vocab must be a literal: a column-valued map is rejected at analysis
    val bad = intercept[org.apache.spark.sql.AnalysisException] {
      toks.select(graft.functions.VocabLookup.vocabLookupAll(
        col("bpe_tokens"),
        map_from_arrays(col("bpe_tokens"),
          array(lit(1L), lit(2L), lit(3L), lit(4L), lit(5L))))).collect()
    }
    assert(bad.getMessage.contains("foldable"))
  }

  test("selectBatch: conflict stop, strict-dominance truncation, " +
      "grown-symbol guards — rank-1 always survives") {
    def sb(c: Seq[(String, String, Long)], cap: Int = 64,
        sym: Set[String] = Set.empty) = Bpe.selectBatch(c, cap, sym)
    // disjoint prefix, all strictly above the sentinel: all selected
    assert(sb(Seq(("a", "b", 10L), ("c", "d", 9L), ("x", "a", 8L)))
      == Seq(("a", "b", 10L), ("c", "d", 9L)))
    // tie with the sentinel: the tied trailing pick is truncated (a
    // merge-created pair bounded by the sentinel could tie and win on
    // lex order) — rank 1 is kept even when tied
    assert(sb(Seq(("a", "b", 10L), ("c", "d", 8L), ("x", "a", 8L)))
      == Seq(("a", "b", 10L)))
    assert(sb(Seq(("a", "b", 8L), ("x", "a", 8L))) == Seq(("a", "b", 8L)))
    // lhs/rhs/merged collisions with earlier picks stop the batch
    assert(sb(Seq(("a", "b", 10L), ("ab", "c", 9L), ("d", "e", 8L)))
      == Seq(("a", "b", 10L))) // "ab" = merged(rank1)
    assert(sb(Seq(("a", "bc", 10L), ("ab", "c", 9L), ("d", "e", 8L)))
      == Seq(("a", "bc", 10L))) // same concatenation "abc"
    // candidate whose merged token ALREADY exists as a symbol: its
    // merge grows pairs over that symbol — unsafe for later picks
    assert(sb(Seq(("a", "b", 10L), ("c", "d", 9L), ("e", "f", 8L)),
        sym = Set("cd"))
      == Seq(("a", "b", 10L)))
    // ... including when it is rank 1: selected, batch ends there
    assert(sb(Seq(("c", "d", 10L), ("e", "f", 9L), ("g", "h", 8L)),
        sym = Set("cd"))
      == Seq(("c", "d", 10L)))
    // cap bounds the batch
    assert(sb(Seq(("a", "b", 10L), ("c", "d", 9L), ("e", "f", 8L)),
        cap = 1)
      == Seq(("a", "b", 10L)))
  }

  test("batched ≡ sequential through pair EXHAUSTION on the gate corpus " +
      "(asking for 512, corpus runs dry first — early-stop path)") {
    val docs = graft.core.Tables.load(spark, sf001, "documents")
      .select("doc_id", "text")
    val seq1 = Bpe.train(docs, "text", 512, batchSize = 1)
    val seq64 = Bpe.train(docs, "text", 512)
    // the gate corpus genuinely exhausts below 512 — this test covers the
    // early-stop path; the ≥512 sustained proof is the next test
    assert(seq1.size < 512, s"corpus no longer exhausts (${seq1.size})")
    assert(seq1.nonEmpty)
    assert(seq64 == seq1)
  }

  test("batched ≡ sequential at 512 SUSTAINED merges (pair-diverse " +
      "corpus that does not exhaust)") {
    val rng = new scala.util.Random(2026)
    // 600 distinct random words of 6-10 letters: ~4500 potential merge
    // steps (each merge removes >=1 symbol from the distinct-word table),
    // so 512 merges are guaranteed reachable; Zipf-ish freqs via repeat
    val docs = (1 to 600).map { i =>
      val w = (1 to (6 + rng.nextInt(5)))
        .map(_ => ('a' + rng.nextInt(26)).toChar).mkString
      val freq = 1 + 600 / i
      (i.toLong, (Seq.fill(freq)(w)).mkString(" "))
    }.toDF("doc_id", "text")
    val seq1 = Bpe.train(docs, "text", 512, batchSize = 1)
    val (seq64, rounds) = Bpe.trainRounds(docs, "text", 512)
    assert(seq1.size == 512)
    assert(seq64 == seq1)
    // uniform-random letters are the tie-heavy adversarial case — the
    // strict-dominance truncation keeps batches small here by design;
    // the assert pins only that batching engages at all (fewer rounds
    // than merges). Round-count economics live in trainLocal + SCALING.md.
    assert(rounds < 512, s"batching never engaged ($rounds rounds)")
  }

  test("trainLocal ≡ distributed train: exhaustion corpus, 512-sustained " +
      "corpus, and unicode tie-breaks") {
    val docs = graft.core.Tables.load(spark, sf001, "documents")
      .select("doc_id", "text")
    assert(Bpe.trainLocal(docs, "text", 512) ==
      Bpe.train(docs, "text", 512, batchSize = 1))
    val rng = new scala.util.Random(2026)
    val synth = (1 to 600).map { i =>
      val w = (1 to (6 + rng.nextInt(5)))
        .map(_ => ('a' + rng.nextInt(26)).toChar).mkString
      (i.toLong, Seq.fill(1 + 600 / i)(w).mkString(" "))
    }.toDF("doc_id", "text")
    assert(Bpe.trainLocal(synth, "text", 512) ==
      Bpe.train(synth, "text", 512, batchSize = 1))
    // forced count ties across BMP and supplementary-plane characters:
    // the heap's tie-break must use binary/code-point order like Spark
    val uni = Seq((1L, "z 😀z px py"))
      .toDF("doc_id", "text")
    assert(Bpe.trainLocal(uni, "text", 4) ==
      Bpe.train(uni, "text", 4, batchSize = 1))
  }

  test("trainLocal: over the driver budget, trains the floored vocabulary") {
    // three words at frequency 2 pass the floor and exceed the budget;
    // the two singletons would add merges if the fallback ignored the
    // floor (the unfloored train() learns 7, the floored vocabulary 4)
    val docs = Seq((1L, "ab abc bcd ab abc bcd xyz qq")).toDF("doc_id", "text")
    val over = Bpe.trainLocal(docs, "text", 8, maxVocabWords = 2,
      minWordFreq = 2L)
    assert(over == Bpe.trainLocal(docs, "text", 8, minWordFreq = 2L))
    assert(over.size == 4 && Bpe.train(docs, "text", 8).size == 7)
  }

  test("trainLocal: over the driver budget it returns the distributed " +
      "train()'s merges instead of failing") {
    val docs = graft.core.Tables.load(spark, sf001, "documents")
      .select("doc_id", "text")
    assert(Bpe.trainLocal(docs, "text", 64, maxVocabWords = 0) ==
      Bpe.trainLocal(docs, "text", 64))
  }

  test("trainLocal minWordFreq: floor=1 ≡ no floor on the gate corpus; " +
      "the floor prunes pre-collect and keeps a tail-heavy vocab in " +
      "budget") {
    val docs = graft.core.Tables.load(spark, sf001, "documents")
      .select("doc_id", "text")
    // floor=1 is the default and must be bit-identical to the unfloored
    // trainer (it IS the unfloored trainer: freq >= 1 drops nothing)
    assert(Bpe.trainLocal(docs, "text", 128, minWordFreq = 1L) ==
      Bpe.trainLocal(docs, "text", 128))
    // a raw-crawl-shaped corpus: 3 head words carry the mass, a long
    // tail of singleton "URLs" blows a tiny driver budget (unfloored,
    // trainLocal falls back to the distributed train())…
    val tail = (1 to 200).map(i => s"httpx${i}zz").mkString(" ")
    val crawl = Seq((1L, ("the quick fox " * 50) + tail))
      .toDF("doc_id", "text")
    assert(Bpe.trainLocal(crawl, "text", 4, maxVocabWords = 10) ==
      Bpe.train(crawl, "text", 4))
    // …but a freq floor of 2 collapses the tail INSIDE the distributed
    // count, so the same budget passes and merges are learned from the
    // head words only
    val floored = Bpe.trainLocal(crawl, "text", 4,
      maxVocabWords = 10, minWordFreq = 2L)
    assert(floored.nonEmpty)
    // the merges must equal training on just the head (sub-floor words
    // contribute zero pair mass)
    val headOnly = Seq((1L, "the quick fox " * 50)).toDF("doc_id", "text")
    assert(floored == Bpe.trainLocal(headOnly, "text", 4))
  }

  test("batched ≡ sequential on adversarial small-alphabet corpora " +
      "(forced ties and merged-token collisions)") {
    for (seed <- Seq(1, 7, 42)) {
      val rng = new scala.util.Random(seed)
      // 3-letter alphabet, short words, high repetition: maximal tie and
      // symbol-collision pressure on the batch-selection rules
      val docs = (1 to 400).map { i =>
        val w = (1 to (rng.nextInt(3) + 1)).map { _ =>
          (1 to (rng.nextInt(5) + 1))
            .map(_ => ('a' + rng.nextInt(3)).toChar).mkString
        }.mkString(" ")
        (i.toLong, w)
      }.toDF("doc_id", "text")
      val a = Bpe.train(docs, "text", 40, batchSize = 1)
      val b = Bpe.train(docs, "text", 40, batchSize = 8)
      assert(a == b, s"batched diverged from sequential at seed $seed")
    }
  }

  test("encode plan depth is constant in merge count (1024 merges run " +
      "through the same single projection)") {
    val docs = Seq((1L, "abcd"), (2L, "dcba")).toDF("doc_id", "text")
    val big = (1 to 1024).map(k => Bpe.Merge(k, s"x$k", s"y$k", 1L))
    val out = Bpe.encode(docs, "text", big) // no-op merges, huge list
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val plan = out.queryExecution.executedPlan
    assert(plan.collect { case e: ShuffleExchangeLike => e }.isEmpty)
    assert(out.select(col("bpe_tokens")).as[Seq[String]].collect().toSet ==
      Set(Seq("a", "b", "c", "d"), Seq("d", "c", "b", "a")))
  }

  test("native encode ≡ the r13 HOF fold: gate corpus at 64 merges, " +
      "null text, and adversarial merge lists") {
    val docs = graft.core.Tables.load(spark, sf001, "documents")
      .select("doc_id", "text")
    val merges = Bpe.trainLocal(docs, "text", 64)
    assert(merges.size >= 32) // enough ranks to exercise the cursor walk
    val fast = Bpe.encode(docs, "text", merges)
    val fold = Bpe.encodeFold(docs, "text", merges)
    assert(fast.schema == fold.schema)
    val joined = fast.select(col("doc_id"), col("bpe_tokens").as("ft"),
        col("n_bpe_tokens").as("fn"))
      .join(fold.select(col("doc_id"), col("bpe_tokens").as("gt"),
        col("n_bpe_tokens").as("gn")), "doc_id")
    assert(joined.filter(!(col("ft") <=> col("gt")) ||
      !(col("fn") <=> col("gn"))).count() == 0)
    // null text -> null tokens on both paths
    val nulls = Seq((1L, null: String), (2L, "ab ab")).toDF("doc_id", "text")
    val fN = Bpe.encode(nulls, "text", merges.take(4))
    val gN = Bpe.encodeFold(nulls, "text", merges.take(4))
    assert(fN.filter(col("doc_id") === 1L && col("bpe_tokens").isNotNull)
      .count() == 0)
    assert(fN.select("doc_id", "bpe_tokens").exceptAll(
      gN.select("doc_id", "bpe_tokens")).count() == 0)
    // adversarial lists where shortcuts diverge from pass-per-rank:
    def parity(merges: Seq[Bpe.Merge], words: Seq[String]): Unit = {
      val df = words.zipWithIndex
        .map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
      val a = Bpe.encode(df, "text", merges)
        .select("doc_id", "bpe_tokens").collect()
        .map(r => (r.getLong(0), r.getSeq[String](1))).toMap
      val b = Bpe.encodeFold(df, "text", merges)
        .select("doc_id", "bpe_tokens").collect()
        .map(r => (r.getLong(0), r.getSeq[String](1))).toMap
      assert(a == b, s"diverged on $words with $merges")
    }
    // rank 1 (ab,c) only becomes adjacent AFTER rank 2 (a,b) runs — the
    // fold never revisits rank 1, so "abc" must encode to [ab, c] (a
    // naive merge-the-minimum-present-rank loop would emit [abc])
    val crossRank = Seq(Bpe.Merge(1, "ab", "c", 1L), Bpe.Merge(2, "a", "b", 1L))
    parity(crossRank, Seq("abc", "abcabc", "cab"))
    assert(Bpe.encode(Seq((1L, "abc")).toDF("doc_id", "text"),
        "text", crossRank)
      .select("bpe_tokens").as[Seq[String]].head() == Seq("ab", "c"))
    // duplicate pair at two ranks (degenerate list): both are indexed
    parity(Seq(Bpe.Merge(1, "a", "b", 1L), Bpe.Merge(2, "x", "y", 1L),
      Bpe.Merge(3, "a", "b", 1L)), Seq("abxyab", "aabb", "xyxy"))
    // overlap chains: greedy leftmost non-overlapping within one pass
    parity(Seq(Bpe.Merge(1, "x", "x", 1L), Bpe.Merge(2, "xx", "x", 1L)),
      Seq("x", "xx", "xxx", "xxxx", "xxxxx", "xxxxxx", "xxxxxxx"))
    parity(Seq(Bpe.Merge(1, "x", "xx", 1L)), Seq("xxxx xxxxxx"))
    // supplementary-plane code points are single symbols
    parity(Seq(Bpe.Merge(1, "😀", "😀", 1L),
      Bpe.Merge(2, "😀😀", "a", 1L)),
      Seq("😀😀a", "a😀",
        "😀😀😀a"))
    // empty merge list: pure code-point split
    parity(Seq.empty, Seq("abc", "a", "😀a"))
  }

  test("fuzz: native encode ≡ fold on random small-alphabet corpora and " +
      "random (duplicate/overlapping/cross-rank) merge lists") {
    val rng = new scala.util.Random(20260816)
    val alphabets = Seq("ab", "abc", "ab😀", "xyz")
    (1 to 12).foreach { trial =>
      val alpha = alphabets(rng.nextInt(alphabets.size))
      val syms: Seq[String] = {
        val b = Seq.newBuilder[String]
        var i = 0
        while (i < alpha.length) {
          val cp = alpha.codePointAt(i)
          b += new String(Character.toChars(cp))
          i += Character.charCount(cp)
        }
        b.result()
      }
      def tok(maxLen: Int): String =
        (1 to (1 + rng.nextInt(maxLen)))
          .map(_ => syms(rng.nextInt(syms.size))).mkString
      // random merges over short symbol strings: duplicates, overlap
      // chains, and cross-rank (later merge creates an earlier pair's
      // lhs) all arise naturally at this alphabet size
      val merges = (1 to rng.nextInt(13))
        .map(k => Bpe.Merge(k, tok(3), tok(3), 1L))
      // texts with irregular spacing: empty strings, doubled/leading/
      // trailing spaces exercise the fused split's empty-segment skip
      val texts = (0 until 150).map { i =>
        if (i == 0) ""
        else (1 to rng.nextInt(6)).map(_ => tok(9))
          .mkString(if (rng.nextBoolean()) " " else "  ") +
          (if (rng.nextInt(4) == 0) " " else "")
      }
      val df = texts.zipWithIndex.map { case (t2, i) => (i.toLong, t2) }
        .toDF("doc_id", "text")
      val a = Bpe.encode(df, "text", merges)
        .select(col("doc_id"), col("bpe_tokens").as("ta"))
      val b = Bpe.encodeFold(df, "text", merges)
        .select(col("doc_id"), col("bpe_tokens").as("tb"))
      val diff = a.join(b, "doc_id").filter(!(col("ta") <=> col("tb")))
      assert(diff.count() == 0,
        s"trial $trial diverged (merges=$merges): ${diff.head(3).toSeq}")
    }
  }

  test("null merges literal is a typed analysis error, not an NPE") {
    val df = Seq("abc").toDF("text")
    val eNull = intercept[org.apache.spark.sql.AnalysisException] {
      df.selectExpr("bpe_encode_text(text, " +
        "CAST(NULL AS ARRAY<STRUCT<lhs: STRING, rhs: STRING>>))").collect()
    }
    assert(eNull.getMessage.contains("must not be NULL"), eNull.getMessage)
    val eElem = intercept[org.apache.spark.sql.AnalysisException] {
      df.selectExpr("bpe_encode_text(text, array(" +
        "named_struct('lhs', 'a', 'rhs', 'b'), " +
        "CAST(NULL AS STRUCT<lhs: STRING, rhs: STRING>)))").collect()
    }
    assert(eElem.getMessage.contains("is NULL"), eElem.getMessage)
    val eField = intercept[org.apache.spark.sql.AnalysisException] {
      df.selectExpr("bpe_encode_text(text, array(" +
        "named_struct('lhs', 'a', 'rhs', CAST(NULL AS STRING))))").collect()
    }
    assert(eField.getMessage.contains("NULL lhs or rhs"), eField.getMessage)
  }

  test("native encode whole-stage-codegens (the HOF fold could not)") {
    // fallback=false + CODEGEN_ONLY: a starred plan string alone would
    // still pass if Janino failed to compile the generated cast to the
    // object-nested MergeTable and Spark fell back to interpreted — with
    // fallback disabled, a compile failure fails the collect() instead
    withSQLConf(
      "spark.sql.codegen.fallback" -> "false",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY") {
      val docs = graft.core.Tables.load(spark, sf001, "documents")
      val merges = Bpe.train(docs, "text", 4)
      val plan = finalPlanOf(Bpe.encode(docs, "text", merges)
        .select("doc_id", "bpe_tokens", "n_bpe_tokens"))
      // the Project holding bpe_encode_text must sit INSIDE a
      // WholeStageCodegen span (starred) — the r13 HOF fold forced that
      // Project to interpreted fallback (unstarred)
      val encLines = plan.split("\n").filter(_.contains("bpe_encode_text"))
      assert(encLines.nonEmpty && encLines.forall(_.contains("*(")),
        plan.take(1200))
    }
  }

  test("encode is a pure projection: no exchange, no UDF") {
    val docs = graft.core.Tables.load(spark, sf001, "documents")
    val merges = Bpe.train(docs, "text", 4)
    val plan = Bpe.encode(docs, "text", merges)
      .queryExecution.executedPlan
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    assert(plan.collect { case e: ShuffleExchangeLike => e }.isEmpty,
      "encode must not shuffle")
    assert(!plan.toString.contains("BatchEvalPython") &&
      !plan.toString.toLowerCase.contains("scalaudf"),
      "encode must stay in codegen'd builtins")
  }
}
