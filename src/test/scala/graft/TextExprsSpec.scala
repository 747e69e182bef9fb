package graft

import org.apache.spark.sql.functions._
import graft.ext.{Dedup, TextAnalysis}
import graft.functions.{MinHashSig, SimHash64, TextStats, VectorOps}

/** The fused codegen text expressions must agree bit-for-bit with the
  * (slow, known-good, oracle-verified) HOF formulations in
  * `graft.ext.TextAnalysis` / `graft.ext.Dedup` — including on edge cases
  * the synthetic corpus doesn't exercise: runs of spaces, leading/trailing
  * spaces, empty strings, unicode, punctuation-only tokens.
  */
class TextExprsSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = {
    val edge = Seq(
      (9001L, ""),
      (9002L, "   "),
      (9003L, "one"),
      (9004L, "  double  spaced   tokens here  "),
      (9005L, "Café déjà-vu naïve Ärger œuvre"),
      (9006L, "!!! ??? ... ,,,"),
      (9007L, "MiXeD CaSe mixed case MIXED CASE"),
      (9008L, "a b c d e f g a b c"),
      (9009L, "the quick brown fox the quick brown fox"))
      .toDF("doc_id", "text")
    spark.read.parquet(s"$sf001/documents.parquet")
      .select($"doc_id", $"text").unionByName(edge)
  }

  test("TextStats agrees with the HOF formulations field by field") {
    val t = col("text")
    val got = corpus.select(
      $"doc_id",
      TextStats.textStats(t).as("st"),
      length(t).as("e_chars"),
      TextAnalysis.tokenCount(t).as("e_tokens"),
      size(array_distinct(TextAnalysis.tokens(t))).as("e_distinct"),
      aggregate(TextAnalysis.tokens(t), lit(0L), (a, x) => a + length(x))
        .as("e_sumlen"),
      TextAnalysis.bpeTokenEstimate(t).as("e_bpe"),
      (length(t) - length(regexp_replace(t, "[\\p{Punct}]", ""))).as("e_punct"),
      TextAnalysis.stopwordHits(t, "de").as("e_de"),
      TextAnalysis.stopwordHits(t, "en").as("e_en"),
      TextAnalysis.stopwordHits(t, "es").as("e_es"),
      TextAnalysis.stopwordHits(t, "fr").as("e_fr"),
      TextAnalysis.fingerprint(t).as("e_fp"))
      .collect()
    got.foreach { r =>
      val st = r.getStruct(1)
      val id = r.getLong(0)
      assert(st.getInt(0) == r.getInt(2), s"n_chars doc $id")
      assert(st.getInt(1) == r.getInt(3), s"n_tokens doc $id")
      assert(st.getInt(2) == r.getInt(4), s"n_distinct doc $id")
      assert(st.getLong(3) == r.getLong(5), s"sum_len doc $id")
      assert(st.getLong(4) == r.getLong(6), s"bpe_est doc $id")
      assert(st.getInt(5) == r.getInt(7), s"n_punct doc $id")
      assert(st.getInt(6) == r.getInt(8), s"h_de doc $id")
      assert(st.getInt(7) == r.getInt(9), s"h_en doc $id")
      assert(st.getInt(8) == r.getInt(10), s"h_es doc $id")
      assert(st.getInt(9) == r.getInt(11), s"h_fr doc $id")
      assert(st.getString(10) == r.getString(12), s"fingerprint doc $id")
    }
  }

  test("MinHashSig agrees with the HOF shingle/minhash formulation") {
    val sh = Dedup.shingles(col("text"), 3)
    val hofCols = (0 until 8).map(i => Dedup.minhash(sh, i).as(s"e_mh$i"))
    val got = corpus.select(
      ($"doc_id" +: MinHashSig.minhashSig(col("text"), 3, 8).as("m") +:
        size(array_distinct(sh)).as("e_n") +: hofCols): _*)
      .collect()
    got.foreach { r =>
      val id = r.getLong(0)
      if (r.isNullAt(1)) {
        // null ⟺ fewer than 3 tokens ⟺ empty HOF shingle set
        assert(r.getInt(2) == 0, s"doc $id: null sig but HOF has shingles")
      } else {
        val m = r.getStruct(1)
        assert(m.getInt(0) == r.getInt(2), s"n_shingles doc $id")
        val sig = m.getSeq[String](1)
        (0 until 8).foreach(i =>
          assert(sig(i) == r.getString(3 + i), s"mh$i doc $id"))
      }
    }
  }

  test("MinHashSig dsh is the distinct shingle set") {
    val got = corpus.select($"doc_id",
      MinHashSig.minhashSig(col("text"), 3, 8).getField("dsh").as("dsh"),
      array_sort(array_distinct(Dedup.shingles(col("text"), 3))).as("e"))
      .filter($"dsh".isNotNull)
      .collect()
    got.foreach { r =>
      assert(r.getSeq[String](1).sorted == r.getSeq[String](2),
        s"dsh doc ${r.getLong(0)}")
    }
  }

  test("MinHashSig survives k > 1000 (seed prefixes past 3 digits)") {
    val sh = Dedup.shingles(col("text"), 2)
    val r = Seq((1L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
      .select(MinHashSig.minhashSig($"text", 2, 1001).as("m"),
        Dedup.minhash(sh, 0).as("e0"),
        Dedup.minhash(sh, 999).as("e999"),
        Dedup.minhash(sh, 1000).as("e1000"))
      .first()
    val sig = r.getStruct(0).getSeq[String](1)
    assert(sig.length == 1001)
    assert(sig(0) == r.getString(1), "seed 0")
    assert(sig(999) == r.getString(2), "seed 999 (3-digit boundary)")
    assert(sig(1000) == r.getString(3), "seed 1000 (4-digit prefix)")
  }

  test("SimHash64 agrees with the HOF formulation") {
    val got = corpus.select($"doc_id",
      SimHash64.simhash64(col("text")).as("fast"),
      Dedup.simhash(col("text")).as("slow")).collect()
    got.foreach(r =>
      assert(r.getString(1) == r.getString(2), s"doc ${r.getLong(0)}"))
  }

  test("TermFreqs agrees with explode-then-count") {
    val got = corpus.select($"doc_id",
      explode(graft.functions.TermFreqs.termFreqs($"text")))
      .select($"doc_id", $"key", $"value")
      .as[(Long, String, Int)].collect().toSet
    val exp = corpus.select($"doc_id",
      explode(TextAnalysis.tokens(lower($"text"))).as("key"))
      .groupBy($"doc_id", $"key").agg(count(lit(1)).cast("int").as("value"))
      .as[(Long, String, Int)].collect().toSet
    assert(got == exp)
  }

  test("WindowDigests agrees with the HOF slice/join/md5 formulation") {
    val toks = TextAnalysis.tokens(lower($"text"))
    val hof = when(size(toks) >= 3,
      transform(sequence(lit(0), size(toks) - 3),
        i => unhex(md5(array_join(slice(toks, i + 1, lit(3)), " ")
          .cast("binary")))))
      .otherwise(array().cast("array<binary>"))
    val got = corpus.select($"doc_id",
      graft.functions.WindowDigests.windowDigests($"text", 3).as("fast"),
      hof.as("slow")).collect()
    got.foreach { r =>
      val f = r.getSeq[Array[Byte]](1).map(_.toSeq)
      val s = r.getSeq[Array[Byte]](2).map(_.toSeq)
      assert(f == s, s"doc ${r.getLong(0)}")
    }
  }

  test("WindowDigests HOF parity holds on whitespace/unicode edges") {
    // both tokenizers split on the single ASCII space ONLY — tabs,
    // newlines and NBSP are token characters; this pins that contract
    val edges = Seq(
      "a  b   c",              // runs of spaces
      "a\tb c\nd",             // tab/newline inside tokens
      "café NAÏVE Über wörter", // accents + case folding
      "a b c d",          // NBSP is not a separator
      " lead trail ",          // leading/trailing spaces
      "one two",               // exactly w tokens
      "single",                // fewer than w -> empty
      "",                      // empty string -> empty
      "İstanbul i̇ I dotted") // dotted-I lowercasing
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val toks = TextAnalysis.tokens(lower($"text"))
    val hof = when(size(toks) >= 2,
      transform(sequence(lit(0), size(toks) - 2),
        i => unhex(md5(array_join(slice(toks, i + 1, lit(2)), " ")
          .cast("binary")))))
      .otherwise(array().cast("array<binary>"))
    val got = edges.select($"doc_id",
      graft.functions.WindowDigests.windowDigests($"text", 2).as("fast"),
      hof.as("slow")).collect()
    got.foreach { r =>
      val f = r.getSeq[Array[Byte]](1).map(_.toSeq)
      val s = r.getSeq[Array[Byte]](2).map(_.toSeq)
      assert(f == s, s"doc ${r.getLong(0)}")
    }
  }

  test("null text yields null outputs, not a crash") {
    val r = Seq((1L, null: String)).toDF("doc_id", "text")
      .select(TextStats.textStats($"text"),
        MinHashSig.minhashSig($"text", 3, 8),
        SimHash64.simhash64($"text")).first()
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2))
  }

  test("type validation rejects non-string / non-vector inputs at analysis") {
    val df = Seq((1, Array(1, 2))).toDF("n", "arr")
    intercept[org.apache.spark.sql.AnalysisException] {
      df.select(TextStats.textStats($"n")).collect()
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      df.select(VectorOps.vecDot($"arr", $"arr")).collect()
    }
  }
}
