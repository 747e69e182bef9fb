package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, quality scoring, language ID, fingerprinting.
  *
  * All operators are pure per-row Column expressions (no shuffle, no UDF —
  * whole-stage codegen keeps them in the scan pipeline), so they scale
  * linearly with input splits at 100 TB: each parquet row-group is processed
  * independently and the text columns are the only bytes read.
  */
object TextAnalysis {

  /** Whitespace tokens, empty strings removed. */
  def tokens(text: Column): Column =
    filter(split(text, " ", -1), t => t =!= "")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** Distinct-token type/token ratio — a cheap repetition detector. */
  def typeTokenRatio(text: Column): Column =
    size(array_distinct(tokens(text))).cast("double") /
      nullif(size(tokens(text)), lit(0))

  /** BPE-ish token estimate: words plus an extra token per 4 chars of
    * long words (public rule of thumb: ~4 chars/token for English). */
  def bpeTokenEstimate(text: Column): Column =
    aggregate(tokens(text), lit(0L),
      (acc, t) => acc + greatest(lit(1L), ceil(length(t) / lit(4.0)).cast("long")))

  def punctRatio(text: Column): Column =
    (length(text) - length(regexp_replace(text, "[\\p{Punct}]", ""))).cast("double") /
      nullif(length(text), lit(0))

  def meanWordLen(text: Column): Column =
    aggregate(tokens(text), lit(0L), (acc, t) => acc + length(t)).cast("double") /
      nullif(size(tokens(text)), lit(0))

  /** Tiny built-in stopword profiles (public lists) for ratio features and
    * heuristic language ID. Real deployments would load fuller profiles as a
    * broadcast map; the operator shape is identical. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"),
    "fr" -> Seq("le", "la", "de", "et", "un", "une", "est", "que", "pour", "dans"),
    "es" -> Seq("el", "la", "de", "y", "un", "una", "es", "que", "por", "en"),
    "de" -> Seq("der", "die", "das", "und", "ein", "ist", "zu", "den", "mit", "von"))

  def stopwordHits(text: Column, lang: String): Column =
    size(filter(tokens(lower(text)),
      t => t.isin(stopwords(lang).map(x => x: Any): _*)))

  def stopwordRatio(text: Column, lang: String = "en"): Column =
    stopwordHits(text, lang).cast("double") / nullif(tokenCount(text), lit(0))

  /** Heuristic language ID: argmax of per-language stopword hits with a
    * deterministic alphabetical tiebreak; 'und' when nothing matches.
    * (Char-n-gram profiles would replace the hit counts at production
    * quality; the argmax plumbing is the operator.) */
  def langId(text: Column): Column = {
    val langs = stopwords.keys.toSeq.sorted
    val hits = langs.map(l => struct(stopwordHits(text, l).as("hits"), lit(l).as("lang")))
    // array_max on (hits, lang) structs picks highest hits; ties break on the
    // LAST lang alphabetically, so invert: take max of (hits, reversed rank).
    val best = langs.zipWithIndex.foldLeft(
      struct(lit(0).as("hits"), lit("und").as("lang"))) { case (acc, (l, _)) =>
      val cand = struct(stopwordHits(text, l).as("hits"), lit(l).as("lang"))
      when(cand.getField("hits") > acc.getField("hits"), cand).otherwise(acc)
    }
    best.getField("lang")
  }

  /** Composite quality score in [0,1]: penalizes very short docs, high
    * punctuation share, low vocabulary diversity, missing stopwords. */
  def qualityScore(text: Column, lang: String = "en"): Column = {
    val lenScore = least(tokenCount(text).cast("double") / lit(50.0), lit(1.0))
    val punctScore = greatest(lit(1.0) - punctRatio(text) * 5, lit(0.0))
    val diversity = coalesce(typeTokenRatio(text), lit(0.0))
    val stopScore = least(coalesce(stopwordRatio(text, lang), lit(0.0)) * 5, lit(1.0))
    (lenScore * 0.3 + punctScore * 0.2 + diversity * 0.3 + stopScore * 0.2)
  }

  /** Normalized-content fingerprint: md5 over the sorted distinct lowercase
    * token set — robust to word order and duplication, the grouping key for
    * near-identical page detection. */
  def fingerprint(text: Column): Column =
    md5(array_join(array_sort(array_distinct(tokens(lower(text)))), " ")
      .cast("binary"))

  /** Corpus TF-IDF: the top-k highest-scoring terms per document
    * (tf x ln(N/df), lower-cased whitespace terms). Three aggregations
    * over the exploded token table — term frequencies, document
    * frequencies, corpus size (a broadcast scalar) — all map-side
    * combined; no driver-side vocabulary. Scores are rounded to 4
    * decimals BEFORE ranking so the top-k cut is reproducible across
    * engines (ln differs in the last ulp between libms), with the
    * term as tiebreak.
    */
  def tfidf(df: DataFrame, textCol: String, idCol: String,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // per-doc term counts come out of the fused TermFreqs row pass
    // already aggregated: no (doc, token-occurrence) shuffle at all —
    // the first wide operation is the (much smaller) df aggregation
    val tf = graft.core.Tables.spread(df)
      .select(col(idCol),
        explode(graft.functions.TermFreqs.termFreqs(col(textCol))))
      .select(col(idCol), col("key").as("term"), col("value").cast("long").as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = df.agg(count(lit(1)).cast("double").as("__n"))
    val scored = tf.join(dfreq, "term")
      .crossJoin(broadcast(n))
      // +1e-7 before rounding: the engines' ln agree to far better than
      // 1e-7, so both land on the same side of any half boundary
      .select(col(idCol), col("term"),
        round(col("tf") * log(col("__n") / col("df")) + lit(1e-7), 4)
          .as("tfidf"))
    val w = Window.partitionBy(idCol).orderBy(col("tfidf").desc, col("term"))
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k).drop("__rn")
  }

  /** Shannon entropy (nats) of the per-document token distribution — a
    * cheap perplexity proxy for curation: degenerate/repetitive text
    * scores near 0, diverse prose near ln(n_tokens). ONE fused codegen
    * pass per row ([[graft.functions.TokenEntropy]]: tokenize, count,
    * fold — no map materialization, no interpreted HOF lambdas, no
    * shuffle). Null for docs with no tokens. */
  def withTokenEntropy(df: DataFrame, textCol: String,
      outCol: String = "token_entropy"): DataFrame = {
    df.withColumn(outCol,
      graft.functions.TokenEntropy.tokenEntropy(col(textCol)))
  }

  /** All features in one pass. */
  def withFeatures(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    df.withColumn("n_tokens", tokenCount(t))
      .withColumn("n_tokens_bpe_est", bpeTokenEstimate(t))
      .withColumn("type_token_ratio", typeTokenRatio(t))
      .withColumn("punct_ratio", punctRatio(t))
      .withColumn("mean_word_len", meanWordLen(t))
      .withColumn("stopword_ratio", stopwordRatio(t))
      .withColumn("lang_pred", langId(t))
      .withColumn("quality", qualityScore(t))
      .withColumn("fingerprint", fingerprint(t))
  }
}
