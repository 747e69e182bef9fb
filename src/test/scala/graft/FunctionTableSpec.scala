package graft

import org.apache.spark.sql.{AnalysisException, Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions._
import graft.plans.GraftExtensions

/** The engine's function table ([[GraftExtensions]]): every injected
  * function resolves by its one fixed name, from SQL and through its
  * Column API, on the shared session and on a fresh `GraftSession`; bad
  * calls fail analysis naming the function. */
class FunctionTableSpec extends SparkSpec {

  private def data(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq((1L, "Àb abc c ab", Seq(0.2, 0.1)), (2L, "ab c ab c", Seq(0.9, 1.2)),
      (3L, null: String, Seq(1.0, 0.0))).toDF("id", "text", "emb")
  }

  /** (function, per-row SQL over view `ft`, the same call through the
    * Column API). */
  private val rowCases: Seq[(String, String, Column)] = Seq(
    ("accent_fold", "accent_fold(text)", AccentFold.accentFold(col("text"))),
    ("text_stats", "text_stats(text)", TextStats.textStats(col("text"))),
    ("simhash64", "simhash64(text)", SimHash64.simhash64(col("text"))),
    ("term_freqs", "term_freqs(text)", TermFreqs.termFreqs(col("text"))),
    ("token_entropy", "token_entropy(text)",
      TokenEntropy.tokenEntropy(col("text"))),
    ("minhash_sig", "minhash_sig(text, 2, 4)",
      MinHashSig.minhashSig(col("text"), 2, 4)),
    ("window_digests", "window_digests(text, 2)",
      WindowDigests.windowDigests(col("text"), 2)),
    ("vec_dot", "vec_dot(emb, emb)", VectorOps.vecDot(col("emb"), col("emb"))),
    ("nearest_centroid",
      "nearest_centroid(emb, array(array(0D, 0D), array(1D, 1D)))",
      VectorOps.nearestCentroid(col("emb"), Seq(Seq(0.0, 0.0), Seq(1.0, 1.0)))),
    ("bpe_encode_text",
      "bpe_encode_text(text, array(struct('a', 'b'), struct('ab', 'c')))",
      BpeEncode.bpeEncodeText(col("text"), typedlit(Seq(("a", "b"), ("ab", "c"))))),
    ("vocab_lookup_all",
      "vocab_lookup_all(split(text, ' '), map('ab', 1L, 'c', 2L))",
      VocabLookup.vocabLookupAll(split(col("text"), " "),
        typedlit(Map("ab" -> 1L, "c" -> 2L)))))

  /** Aggregates: (function, SQL over `ft`, the Column API's result). */
  private def aggCases(df: DataFrame): Seq[(String, String, DataFrame)] = Seq(
    ("bottom_k", "SELECT CAST(bottom_k(text, 2) AS STRING) FROM ft",
      df.agg(BottomK.bottomK(col("text"), 2).cast("string"))),
    ("freq_items", "SELECT CAST(freq_items(text, 2) AS STRING) FROM ft",
      df.agg(FreqItems.freqItems(col("text"), 2).cast("string"))),
    ("bloom_filter_agg",
      "SELECT hex(bloom_filter_agg(xxhash64(text), 100L)) FROM ft",
      df.sparkSession.range(1).select(
        lit(BloomOps.build(df, "text", 100L).get).as("b")).select(hex(col("b")))),
    ("might_contain",
      """SELECT text FROM ft WHERE might_contain(
        |  (SELECT bloom_filter_agg(xxhash64(text), 100L) FROM ft),
        |  xxhash64(text))""".stripMargin,
      BloomOps.prefilter(df, "text", df, "text", 100L).select("text")))

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private def checkAll(s: SparkSession): Unit = {
    val df = data(s)
    df.createOrReplaceTempView("ft")
    rowCases.foreach { case (name, sql, c) =>
      val viaSql = s.sql(s"SELECT id, CAST($sql AS STRING) FROM ft")
      val viaCol = df.select(col("id"), c.cast("string"))
      assert(sorted(viaSql) == sorted(viaCol), name)
      assert(viaSql.filter(col("id") === 2L).head().get(1) != null, name)
    }
    aggCases(df).foreach { case (name, sql, viaCol) =>
      val got = sorted(s.sql(sql))
      assert(got.nonEmpty && got == sorted(viaCol), name)
    }
  }

  test("every injected function is covered here") {
    assert(GraftExtensions.functions.map(_._1.funcName).toSet ==
      (rowCases.map(_._1) ++ aggCases(data(spark)).map(_._1)).toSet)
  }

  test("every injected function runs by its fixed name from SQL and " +
      "matches its Column API, on the shared session") {
    checkAll(spark)
  }

  test("… and on a fresh GraftSession") {
    val prev = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val fresh = graft.core.GraftSession.builder("local[2]", 2).getOrCreate()
    try {
      assert(fresh ne prev)
      checkAll(fresh)
    } finally {
      SparkSession.setDefaultSession(prev)
      SparkSession.setActiveSession(prev)
    }
  }

  test("a wrong argument count raises WRONG_NUM_ARGS naming the function") {
    data(spark).createOrReplaceTempView("ft")
    GraftExtensions.functions.map(_._1.funcName).foreach { name =>
      val e = intercept[AnalysisException] {
        spark.sql(s"SELECT $name() FROM ft")
      }
      assert(e.getCondition == "WRONG_NUM_ARGS.WITHOUT_SUGGESTION", name)
      assert(e.getMessage.contains(s"`$name`"), e.getMessage)
    }
  }

  test("a non-literal parameter raises an AnalysisException naming the " +
      "function") {
    data(spark).createOrReplaceTempView("ft")
    Seq("bottom_k(text, id)", "freq_items(text, id)",
      "minhash_sig(text, id, 8)", "minhash_sig(text, 3, 'k')",
      "window_digests(text, id)", "nearest_centroid(emb, array(emb))",
      "nearest_centroid(emb, array(array('a')))").foreach { call =>
      val e = intercept[AnalysisException] {
        spark.sql(s"SELECT $call FROM ft")
      }
      assert(e.getCondition == "NON_FOLDABLE_ARGUMENT", call)
      assert(e.getMessage.contains(s"`${call.takeWhile(_ != '(')}`"),
        e.getMessage)
    }
  }

  test("nearest_centroid embeds a small matrix and broadcasts a large one " +
      "once") {
    import spark.implicits._
    val df = data(spark)
    def built(m: Seq[Seq[Double]]) =
      df.select(VectorOps.nearestCentroid(col("emb"), m)).queryExecution
        .analyzed.expressions.flatMap(_.collect {
          case e: NearestCentroid => e
          case e: NearestCentroidBc => e
        })
    assert(built(Seq(Seq(0.0, 0.0))).map(_.getClass) == Seq(classOf[NearestCentroid]))
    val big = Seq.tabulate(VectorOps.BroadcastThresholdElems / 2 + 1, 2)(
      (i, j) => (i + j).toDouble)
    val bc = built(big).collect { case e: NearestCentroidBc => e.bc.id }
    assert(bc.size == 1 && built(big).collect {
      case e: NearestCentroidBc => e.bc.id } == bc)
    val nearest = df.select("emb").as[Seq[Double]].collect().toSeq.map(e =>
      big.indices.minBy(k => big(k).zip(e).map { case (a, b) =>
        (a - b) * (a - b) }.sum))
    assert(df.select(VectorOps.nearestCentroid(col("emb"), big)).as[Int]
      .collect().toSeq == nearest)
  }
}
