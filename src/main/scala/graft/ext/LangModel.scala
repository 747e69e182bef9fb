package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-level n-gram language-model scoring — the CCNet/Gopher-style
  * quality signal for training-data curation: how typical is each document
  * of the corpus it sits in? Documents whose token transitions are rare
  * (boilerplate, lorem-ipsum, wrong-language, OCR noise) score a high
  * cross-entropy against a bigram model trained on the corpus itself.
  *
  * Reference scope note: the reference warehouse has no text-quality
  * surface; this extends the engine for the LLM-pipeline north star
  * (public method: CCNet's "perplexity of a KenLM model" filter, rebuilt
  * here as a self-trained bigram model so it is exactly reproducible in
  * SQL).
  *
  * Scale shape (100 TB corpus):
  *   - Bigram extraction is fused into the row pass: `TermFreqs` over a
  *     bigram-joined rendering of the text emits ONE pre-aggregated
  *     (doc, distinct-bigram, tf) row per distinct bigram — the shuffle
  *     never carries token occurrences.
  *   - The model is two aggregations over that stream (bigram counts,
  *     then first-token context counts) — both map-side combined.
  *   - Scoring is an equi-join of the per-doc stream with the model on
  *     the bigram key. At warehouse scale the model table is orders of
  *     magnitude smaller than the corpus (vocabulary², frequency-floored);
  *     prune it with `minCount` and broadcast when it fits, otherwise
  *     it is one co-partitioned shuffle join keyed by bigram.
  */
object LangModel {

  /** Inner bigram separator: 0x01 never occurs in text tokens and is not
    * a `TermFreqs` token boundary (which splits on 0x20 only), so a
    * bigram "a&#92;u0001b" travels as one token through the fused
    * term-frequency pass. The DuckDB oracles mirror it as `chr(1)`. */
  val Sep = "\u0001"

  /** Space-joined bigram rendering of the lowercase token stream:
    * "a b c" -> "a&#92;u0001b b&#92;u0001c"; null when fewer than two
    * tokens (no bigrams, no model evidence). Pure per-row expression —
    * stays inside whole-stage codegen. */
  def bigramText(text: Column): Column = {
    val toks = TextAnalysis.tokens(lower(text))
    val n = size(toks)
    when(n < 2, lit(null).cast("string")).otherwise(
      array_join(
        zip_with(slice(toks, lit(1), n - 1), slice(toks, lit(2), n - 1),
          (a, b) => concat(a, lit(Sep), b)),
        " "))
  }

  /** Per-document distinct-bigram frequencies: (idCol, bigram, tf). */
  def docBigrams(docs: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    graft.core.Tables.spread(docs)
      .select(col(idCol), explode(
        graft.functions.TermFreqs.termFreqs(bigramText(col(textCol)))))
      .select(col(idCol), col("key").as("bigram"),
        col("value").cast("long").as("tf"))
  }

  /** Model aggregations over an existing (id, bigram, tf) stream — the
    * composition point: compute [[docBigrams]] once, derive model AND
    * scores from it (see [[crossEntropy]]). */
  def modelFromBigrams(bigrams: DataFrame, minCount: Long = 1L): DataFrame = {
    val bc = bigrams
      .groupBy("bigram").agg(sum("tf").as("bc"))
      .filter(col("bc") >= minCount)
    // context totals via a window over the SAME frame (r19, guide §2.4):
    // the previous shape re-keyed the bigram-grain bc table on w1 for a
    // groupBy and joined it back — two exchanges of model-grain data;
    // sum(bc) OVER (PARTITION BY w1) produces the identical c1 (exact
    // integer sums — order-insensitive) in one exchange + sort.
    val byW1 = org.apache.spark.sql.expressions.Window.partitionBy("w1")
    bc.withColumn("w1", substring_index(col("bigram"), Sep, 1))
      .withColumn("c1", sum(col("bc")).over(byW1))
      .select(col("bigram"), col("bc"), col("c1"))
  }

  /** Score every document against the corpus bigram model: per-doc mean
    * negative log-probability of its bigram stream (cross-entropy, nats).
    * Output: (idCol, n_bigrams, cross_entropy) — docs with < 2 tokens have
    * no bigrams and are omitted (no evidence, no score).
    *
    * ONE fused corpus pass: the (id, bigram, tf) stream is computed once
    * and locally checkpointed; the model aggregations AND the per-doc
    * scoring join both read that materialization (the same single-pass
    * pattern as `QualityModel.featureFrame`). Checkpoint storage is
    * bigram-grain (≪ text) and reclaimed by the context cleaner once the
    * result is dropped — no unpersist handle for callers to leak.
    *
    * The self-trained model contains every observed bigram, so there are
    * no zero probabilities; with a pruned (`minCount` > 1) model, absent
    * bigrams would take the floor probability — that variant changes only
    * the `coalesce` below. */
  def crossEntropy(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val perDoc = docBigrams(docs, textCol, idCol).localCheckpoint()
    val model = modelFromBigrams(perDoc)
    perDoc.join(model, "bigram")
      .groupBy(idCol)
      .agg(sum("tf").as("n_bigrams"),
        graft.queries.Fp.r(
          sum(col("tf") * -log(col("bc").cast("double") / col("c1"))) /
            sum("tf"), 4).as("cross_entropy"))
  }
}
