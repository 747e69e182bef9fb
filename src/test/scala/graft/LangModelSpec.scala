package graft

import org.apache.spark.sql.functions._
import graft.ext.{Bm25, LangModel}

/** Corpus LM scoring + BM25 retrieval (ext.LangModel / ext.Bm25). */
class LangModelSpec extends SparkSpec {
  import spark.implicits._

  test("bigramText joins adjacent tokens with the 0x01 separator") {
    val out = Seq("a b c", "solo", "", "x  y").toDF("text")
      .select(LangModel.bigramText(col("text"))).as[String].collect()
    assert(out(0) == s"a${LangModel.Sep}b b${LangModel.Sep}c")
    assert(out(1) == null) // one token, no bigram
    assert(out(2) == null)
    assert(out(3) == s"x${LangModel.Sep}y") // empty tokens filtered
  }

  test("x_ngram_topk's df as a row count relies on documents.doc_id being unique") {
    // the query counts (doc_id, bigram) rows per bigram as df; that is the
    // oracle's count(DISTINCT doc_id) only while no doc_id repeats
    Seq(sf001, new java.io.File(sf001).getParent + "/sf0.01").foreach { d =>
      val r = graft.core.Tables.load(spark, d, "documents")
        .agg(count(lit(1)), count_distinct(col("doc_id")),
          count(col("doc_id"))).head()
      assert(r.getLong(0) > 0, d)
      assert(r.getLong(1) == r.getLong(0) && r.getLong(2) == r.getLong(0),
        s"$d: ${r.getLong(0)} documents but ${r.getLong(1)} distinct " +
          s"non-null doc_ids")
    }
  }

  test("crossEntropy matches the hand-derived bigram model") {
    // model: c(a,b)=2, c(a,c)=1, c1(a)=3 -> P(b|a)=2/3, P(c|a)=1/3
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, "a c")).toDF("doc_id", "text")
    val got = LangModel.crossEntropy(docs, "text", "doc_id")
      .orderBy("doc_id").as[(Long, Long, Double)].collect()
    def r4(x: Double) = BigDecimal(x + 1e-7)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.map(_._2).toSeq == Seq(1L, 1L, 1L)) // one bigram each
    assert(got(0)._3 == r4(-math.log(2.0 / 3)))
    assert(got(1)._3 == r4(-math.log(2.0 / 3)))
    assert(got(2)._3 == r4(-math.log(1.0 / 3)))
  }

  test("crossEntropy: corpus-typical text scores below rare transitions") {
    val common = (1 to 8).map(i => (i.toLong, "spark shuffles data fast"))
    val rare = Seq((99L, "spark eats purple rocks"))
    val got = LangModel.crossEntropy(
      (common ++ rare).toDF("doc_id", "text"), "text", "doc_id")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(got(1L) < got(99L),
      s"typical ${got(1L)} should beat rare ${got(99L)}")
    // docs with < 2 tokens carry no evidence and are omitted
    val short = LangModel.crossEntropy(
      Seq((1L, "a b"), (2L, "solo"), (3L, "")).toDF("doc_id", "text"),
      "text", "doc_id").select("doc_id").as[Long].collect()
    assert(short.toSet == Set(1L))
  }

  test("bm25 ranks by term frequency and rarity, drops no-hit docs") {
    val docs = Seq(
      (1L, "spark spark spark runs here today ok fine"),
      (2L, "spark runs here today ok fine well good"),
      (3L, "nothing relevant in this document at all there"),
      (4L, "rareword appears once here with other words too"))
      .toDF("doc_id", "text")
    val got = Bm25.score(docs, "text", "doc_id", Seq("spark", "rareword"))
      .as[(Long, Double)].collect()
    assert(got.map(_._1).toSet == Set(1L, 2L, 4L)) // doc 3 has no hit
    val byId = got.toMap
    assert(byId(1L) > byId(2L), "higher tf must outrank at equal length")
    // rareword (df=1) outscores one 'spark' hit (df=2) at equal length
    assert(byId(4L) > byId(2L), "rarer term must carry a larger idf")
    // ordering is score desc with id tiebreak, cut to topK
    assert(got.map(_._1).head == got.maxBy(_._2)._1)
    val top1 = Bm25.score(docs, "text", "doc_id", Seq("spark"), topK = 1)
      .as[(Long, Double)].collect()
    assert(top1.map(_._1).toSeq == Seq(1L))
    intercept[IllegalArgumentException] {
      Bm25.score(docs, "text", "doc_id", Seq("Spark"))
    }
  }

  test("scoreBatch matches the per-term-column path query for query") {
    val docs = Seq(
      (1L, "spark spark spark runs here today ok fine"),
      (2L, "spark runs here today ok fine well good"),
      (3L, "nothing relevant in this document at all there"),
      (4L, "rareword appears once here with other words too"))
      .toDF("doc_id", "text")
    val queries = Seq(
      (10, "spark"), (10, "rareword"),
      (20, "spark"),
      (30, "absentterm")).toDF("query_id", "term")
    val batch = Bm25.scoreBatch(docs, "text", "doc_id", queries, topK = 20)
      .as[(Int, Long, Double)].collect().groupBy(_._1)
      .map { case (q, rows) => q -> rows.map(r => (r._2, r._3)).sortBy(_._1).toSeq }
    // each query's scores equal the single-query per-term-column engine
    def single(terms: Seq[String]) =
      Bm25.score(docs, "text", "doc_id", terms, topK = 20)
        .as[(Long, Double)].collect().sortBy(_._1).toSeq
    assert(batch(10) == single(Seq("spark", "rareword")))
    assert(batch(20) == single(Seq("spark")))
    // a query matching nothing returns no rows (not zero-score rows)
    assert(!batch.contains(30))
    // document text/rows never shuffle: the only corpus-grain exchange is
    // the (doc, term, tf) hit stream — asserted structurally by no
    // exchange whose input still carries the text column. AQE hides the
    // exchanges until execution, so materialize first and unwrap stages.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val df = Bm25.scoreBatch(docs, "text", "doc_id", queries)
    df.collect()
    def exchanges(p: SparkPlan): Seq[ShuffleExchangeLike] = p.collect {
      case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
      case s: QueryStageExec => exchanges(s.plan)
      case e: ShuffleExchangeLike => Seq(e)
    }.flatten
    val ex = exchanges(df.queryExecution.executedPlan)
    assert(ex.nonEmpty)
    assert(ex.forall(!_.child.output.map(_.name).contains("text")),
      "document text must never shuffle")
  }
}
