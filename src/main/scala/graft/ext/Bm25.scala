package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** BM25 relevance scoring of a document corpus against a fixed term set —
  * the retrieval primitive a training-data pipeline uses for soft
  * decontamination (rank corpus docs against benchmark queries; the exact
  * n-gram overlap path is `Curation.contamination`) and for targeted
  * corpus slicing ("pull the docs about X").
  *
  * Okapi BM25 (public formula, Robertson & Spärck Jones):
  *   score(d) = Σ_t idf(t) · tf(t,d)·(k1+1) / (tf(t,d) + k1·(1−b+b·|d|/avgdl))
  *   idf(t)   = ln(1 + (N − df(t) + 0.5)/(df(t) + 0.5))   (always > 0)
  *
  * Scale shape (100 TB corpus): everything per-document comes out of ONE
  * fused `TermFreqs` row pass (tf per query term via map lookups + doc
  * length via a map-values fold — no explode, no per-token shuffle). The
  * corpus statistics (N, avgdl, per-term df) are a single global
  * aggregate producing one row, broadcast back via a cross join. Total
  * cost: two scans' worth of work in one stage each, one scalar exchange
  * — scoring never shuffles document rows. The top-k cut runs on the
  * rounded score so the cut is reproducible across engines.
  */
object Bm25 {

  /** Per-document token length from the term-frequency map (sum of
    * counts) — equals `TextAnalysis.tokenCount(lower(text))`. */
  private def docLen(tfMap: Column): Column =
    aggregate(map_values(tfMap), lit(0L), (acc, v) => acc + v)

  /** Score the corpus against `terms` (lowercase literals); returns the
    * `topK` rows (idCol, bm25) by rounded score with idCol tiebreak.
    * Documents matching no query term are dropped (score 0). */
  def score(docs: DataFrame, textCol: String, idCol: String,
      terms: Seq[String], k1: Double = 1.2, b: Double = 0.75,
      topK: Int = 20): DataFrame = {
    require(terms.nonEmpty && terms == terms.map(_.toLowerCase),
      "query terms must be non-empty lowercase literals")
    def tfCol(t: String) = s"__tf_$t"
    def dfCol(t: String) = s"__df_$t"
    val perDoc = graft.core.Tables.spread(docs)
      .select(col(idCol) +: graft.functions.TermFreqs.termFreqs(col(textCol))
        .as("__m") +: Nil: _*)
      .select(col(idCol) +: docLen(col("__m")).as("__dl") +:
        terms.map(t =>
          coalesce(element_at(col("__m"), t), lit(0)).cast("long")
            .as(tfCol(t))): _*)
    val aggs: Seq[Column] = avg(col("__dl")).as("__avgdl") +:
      terms.map(t => sum((col(tfCol(t)) > 0).cast("long"))
        .cast("double").as(dfCol(t)))
    val stats = perDoc.agg(
      count(lit(1)).cast("double").as("__n"), aggs: _*)
    val scored = perDoc.crossJoin(broadcast(stats))
    val termScore = terms.map { t =>
      val tf = col(tfCol(t)).cast("double")
      val df = col(dfCol(t))
      val idf = log(lit(1.0) + (col("__n") - df + 0.5) / (df + 0.5))
      idf * (tf * (k1 + 1)) /
        (tf + lit(k1) * (lit(1 - b) + lit(b) * col("__dl") / col("__avgdl")))
    }.reduce(_ + _)
    scored
      .filter(terms.map(t => col(tfCol(t)) > 0).reduce(_ || _))
      .select(col(idCol), graft.queries.Fp.r(termScore, 4).as("bm25"))
      .orderBy(col("bm25").desc, col(idCol))
      .limit(topK)
  }

  /** BM25 against a QUERY TABLE — the decontamination-sweep shape: score
    * the corpus against THOUSANDS of benchmark queries in one pass, where
    * [[score]]'s per-term-column form stops at tens of literal terms.
    * `queries` is (queryIdCol, termCol) — one row per lowercase query
    * term (explode upstream if queries arrive as strings). Returns the
    * `topK` (queryIdCol, idCol, bm25) rows PER QUERY by rounded score
    * with doc-id tiebreak.
    *
    * Scale shape (100 TB corpus × benchmark-sized query set):
    *   - ONE fused `TermFreqs` row pass per corpus scan, two corpus
    *     scans total (the same budget as [[score]]): one for the N/avgdl
    *     stats, one producing the hit stream — which is materialized
    *     (localCheckpoint, benchmark-hit volume, no document text) so
    *     the df(term) aggregate and the scoring join both read it
    *     without re-scanning the corpus.
    *   - The (doc, term, tf) stream explodes MAP-SIDE and is immediately
    *     filtered by a broadcast join on the distinct query-term set, so
    *     only matching (doc, term) hits ever shuffle — benchmark-hit
    *     volume, never corpus-token volume; document rows and text never
    *     shuffle at all.
    *   - Duplicate (queryIdCol, termCol) rows are deduplicated up front
    *     (query-table-sized distinct), so a sloppy upstream explode
    *     cannot double-count a term's contribution to its query's score.
    *   - df(term) aggregates over the hit stream (map-side combined);
    *     it is query-term-sized, broadcast back. N and avgdl are a
    *     one-row corpus aggregate, broadcast.
    *   - The per-(query, doc) sum and the per-query top-k window shuffle
    *     scored hit pairs keyed by query — a query matching half the
    *     corpus skews its partition; the standard salting in `Skew`
    *     applies upstream of the window if a benchmark term is that hot.
    *
    * EAGER side effect: the hit stream is `localCheckpoint()`ed so the
    * df aggregate and the scoring join share one corpus scan — calling
    * this method therefore runs that scan job immediately (the returned
    * frame is not a lazy, fully-recomputable plan), and the checkpointed
    * blocks are unrecoverable after executor loss (same contract as
    * `Dedup.clusterPairs`). On clusters where recomputability after
    * executor loss matters more than the second scan, swap the
    * checkpoint for persist+count.
    */
  def scoreBatch(docs: DataFrame, textCol: String, idCol: String,
      queries: DataFrame, queryIdCol: String = "query_id",
      termCol: String = "term", k1: Double = 1.2, b: Double = 0.75,
      topK: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // dedupe defensively: duplicate (query, term) rows would otherwise
    // double-count that term's contribution to the query's score
    val qpairs = queries.select(col(queryIdCol), col(termCol)).distinct()
    val qterms = qpairs.select(col(termCol)).distinct()
    val perDoc = graft.core.Tables.spread(docs)
      .select(col(idCol), graft.functions.TermFreqs.termFreqs(col(textCol))
        .as("__m"))
      .select(col(idCol), docLen(col("__m")).as("__dl"),
        explode(col("__m")).as(Seq(termCol, "__tf")))
    // broadcast-filter map-side: only query-term hits survive the scan;
    // materialized once (hit volume, no text) — both the df aggregate
    // and the scoring join below read it without re-scanning the corpus
    val hits = perDoc.join(broadcast(qterms), termCol).localCheckpoint()
    val stats = graft.core.Tables.spread(docs)
      .select(graft.functions.TermFreqs.termFreqs(col(textCol)).as("__m"))
      .agg(count(lit(1)).cast("double").as("__n"),
        avg(docLen(col("__m"))).as("__avgdl"))
    val dft = hits.groupBy(termCol)
      .agg(count(lit(1)).cast("double").as("__df"))
    val tf = col("__tf").cast("double")
    val idf = log(lit(1.0) + (col("__n") - col("__df") + 0.5) /
      (col("__df") + 0.5))
    val termScore = idf * (tf * (k1 + 1)) /
      (tf + lit(k1) * (lit(1 - b) + lit(b) * col("__dl") / col("__avgdl")))
    val pairScores = hits
      .join(broadcast(dft), termCol)
      .join(broadcast(qpairs), termCol)
      .crossJoin(broadcast(stats))
      .groupBy(col(queryIdCol), col(idCol))
      .agg(graft.queries.Fp.r(sum(termScore), 4).as("bm25"))
    val w = Window.partitionBy(queryIdCol)
      .orderBy(col("bm25").desc, col(idCol))
    pairScores.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= topK)
      .select(col(queryIdCol), col(idCol), col("bm25"))
  }
}
