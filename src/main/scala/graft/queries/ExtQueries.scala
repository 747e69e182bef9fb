package graft.queries

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ext.{Bm25, Curation, Dedup, LangModel, Similarity, TextAnalysis}

/** LLM-training-data pipeline operators (beyond the reference's surface,
  * per the north star): dedup, similarity search, text analysis — each
  * verified against a DuckDB oracle that reproduces the identical
  * md5-based hashing, so values hash-match bit-for-bit.
  */
object ExtQueries {

  private def docs(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.load(s, d, "documents")
  // CPU-heavy per-row text ops parallelize the single-file local scan:
  private def docsSpread(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.spread(docs(s, d))
  private def embs(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.load(s, d, "embeddings")

  /** BPE training for the gate queries, guarded: the CTE oracle's cross
    * joins assume EXACTLY n merges exist (a degenerate corpus that
    * exhausts pairs early would empty every downstream CTE and the gate
    * would "pass" on zero rows) — so an early stop fails loudly here
    * instead of silently diverging. */
  private def trainedMerges(s: org.apache.spark.sql.SparkSession,
      d: String, n: Int): Seq[graft.ext.Bpe.Merge] = {
    // r19: trainLocal — result-identical to the distributed train()
    // (BpeSpec pins equality through exhaustion and at 512 sustained
    // merges) with the merge loop on the collected vocab instead of
    // per-round Spark jobs: one corpus word-count shuffle + one bounded
    // fetch replaces the symbol-inventory collect, the initial-repr
    // checkpoint and the per-batch pair-count job (guide §1.2 — the
    // distributed algorithm first; iteration is free driver-side at
    // vocab grain). The distributed trainer remains for corpora whose
    // vocabulary exceeds the driver budget.
    val merges = graft.ext.Bpe.trainLocal(docs(s, d), "text", n)
    require(merges.size == n,
      s"BPE training exhausted at ${merges.size}/$n merges — the CTE " +
        "oracle assumes exactly n; gate corpus too degenerate to compare")
    merges
  }

  /** DuckDB fragments shared across oracles (kept in sync with the Scala
    * expressions in graft.ext — same md5 seeds, same shingling). */
  private val LTOKS = "list_filter(string_split(lower(text),' '), x -> x <> '')"
  private val TOKS = "list_filter(string_split(text,' '), x -> x <> '')"
  private def mhSql(src: String, seed: Int): String =
    s"list_min(list_transform($src, t -> substr(md5('$seed:'||t),1,16)))"
  private val SHINGLES =
    "list_transform(range(len(ltoks)-2), i -> ltoks[i+1]||' '||ltoks[i+2]||' '||ltoks[i+3])"
  private val SHINGLES2 =
    "list_transform(range(len(ltoks)-1), i -> ltoks[i+1]||' '||ltoks[i+2])"

  val all: Seq[Q] = Seq(

    // ---- text analysis ---------------------------------------------------
    Q("x_text_features",
      s"""WITH tok AS (
         |  SELECT doc_id, text, lang, $TOKS AS toks, $LTOKS AS ltoks
         |  FROM documents),
         |hits AS (
         |  SELECT *,
         |    len(list_filter(ltoks, t -> list_contains(['der','die','das','und','ein','ist','zu','den','mit','von'], t))) AS h_de,
         |    len(list_filter(ltoks, t -> list_contains(['the','a','of','and','to','in','is','it','that','for'], t))) AS h_en,
         |    len(list_filter(ltoks, t -> list_contains(['el','la','de','y','un','una','es','que','por','en'], t))) AS h_es,
         |    len(list_filter(ltoks, t -> list_contains(['le','la','de','et','un','une','est','que','pour','dans'], t))) AS h_fr
         |  FROM tok),
         |feat AS (
         |  SELECT doc_id, lang,
         |    CAST(len(toks) AS INT) AS n_tokens,
         |    CAST(list_sum(list_transform(toks, t -> greatest(1, CAST(ceil(length(t)/4.0) AS BIGINT)))) AS BIGINT) AS n_tokens_bpe_est,
         |    CAST(len(list_distinct(toks)) AS DOUBLE) / nullif(len(toks),0) AS ttr,
         |    CAST(length(text) - length(regexp_replace(text,'[[:punct:]]','','g')) AS DOUBLE) / nullif(length(text),0) AS pr,
         |    CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / nullif(len(toks),0) AS mwl,
         |    CAST(h_en AS DOUBLE) / nullif(len(toks),0) AS sr,
         |    CASE WHEN greatest(h_de,h_en,h_es,h_fr) = 0 THEN 'und'
         |         WHEN h_de = greatest(h_de,h_en,h_es,h_fr) THEN 'de'
         |         WHEN h_en = greatest(h_de,h_en,h_es,h_fr) THEN 'en'
         |         WHEN h_es = greatest(h_de,h_en,h_es,h_fr) THEN 'es'
         |         ELSE 'fr' END AS lang_pred,
         |    md5(array_to_string(list_sort(list_distinct(ltoks)), ' ')) AS fingerprint,
         |    len(toks) AS nt
         |  FROM hits)
         |SELECT doc_id, lang, n_tokens, n_tokens_bpe_est,
         |  round(ttr + 1e-7, 4) AS type_token_ratio,
         |  round(pr + 1e-7, 4) AS punct_ratio,
         |  round(mwl + 1e-7, 4) AS mean_word_len,
         |  round(sr + 1e-7, 4) AS stopword_ratio,
         |  lang_pred,
         |  round(least(nt/50.0, 1.0)*0.3 + greatest(1.0 - pr*5, 0.0)*0.2
         |        + coalesce(ttr, 0.0)*0.3 + least(coalesce(sr,0.0)*5, 1.0)*0.2 + 1e-7, 4)
         |    AS quality,
         |  fingerprint
         |FROM feat ORDER BY doc_id""".stripMargin) { (s, d) =>
      // all features from ONE fused per-row pass (graft.functions.TextStats);
      // the arithmetic below mirrors the oracle's CASE/ratio shapes exactly
      val st = docsSpread(s, d)
        .withColumn("__st", graft.functions.TextStats.textStats(col("text")))
      val nt = col("__st.n_tokens")
      val ttr = col("__st.n_distinct").cast("double") / nullif(nt, lit(0))
      val pr = col("__st.n_punct").cast("double") / nullif(col("__st.n_chars"), lit(0))
      val sr = col("__st.h_en").cast("double") / nullif(nt, lit(0))
      val hs = Seq("de", "en", "es", "fr").map(l => col(s"__st.h_$l"))
      val g = greatest(hs: _*)
      val langPred = when(g === 0, "und")
        .when(hs(0) === g, "de").when(hs(1) === g, "en")
        .when(hs(2) === g, "es").otherwise("fr")
      val quality = least(nt / lit(50.0), lit(1.0)) * 0.3 +
        greatest(lit(1.0) - pr * 5, lit(0.0)) * 0.2 +
        coalesce(ttr, lit(0.0)) * 0.3 +
        least(coalesce(sr, lit(0.0)) * 5, lit(1.0)) * 0.2
      st.select(col("doc_id"), col("lang"),
        nt.as("n_tokens"),
        col("__st.bpe_est").as("n_tokens_bpe_est"),
        Fp.r(ttr, 4).as("type_token_ratio"),
        Fp.r(pr, 4).as("punct_ratio"),
        Fp.r(col("__st.sum_len").cast("double") / nullif(nt, lit(0)), 4)
          .as("mean_word_len"),
        Fp.r(sr, 4).as("stopword_ratio"),
        langPred.as("lang_pred"),
        Fp.r(quality, 4).as("quality"),
        col("__st.fingerprint").as("fingerprint"))
        .orderBy("doc_id")
    },

    // Rule-based curation filter: keep/drop + first-matching reason, all
    // from the ONE fused TextStats pass (no shuffle — pure projection).
    Q("x_curation_filter",
      s"""WITH tok AS (SELECT doc_id, text, lang, $TOKS AS toks FROM documents),
         |feat AS (SELECT doc_id, lang, len(toks) AS nt,
         |    CAST(length(text) - length(regexp_replace(text,'[[:punct:]]','','g')) AS DOUBLE)
         |      / nullif(length(text),0) AS pr,
         |    CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
         |      / nullif(len(toks),0) AS mwl
         |  FROM tok),
         |r AS (SELECT doc_id, lang,
         |    CASE WHEN nt < 20 THEN 'too_short'
         |         WHEN nt > 500 THEN 'too_long'
         |         WHEN pr > 0.1 THEN 'high_punct'
         |         WHEN mwl < 3.0 OR mwl > 9.0 THEN 'gibberish' END AS reason
         |  FROM feat)
         |SELECT doc_id, lang, CAST(reason IS NULL AS INT) AS keep,
         |       coalesce(reason, '') AS drop_reason
         |FROM r ORDER BY doc_id""".stripMargin) { (s, d) =>
      Curation.qualityFilter(docsSpread(s, d), "text")
        .select(col("doc_id"), col("lang"),
          col(Curation.KeepCol).cast("int").as("keep"),
          coalesce(col(Curation.ReasonCol), lit("")).as("drop_reason"))
        .orderBy("doc_id")
    },

    // Benchmark-contamination check: docs with doc_id % 17 = 0 play the
    // held-out eval set; for every other document, the fraction of its
    // distinct 3-gram shingles that appear in that benchmark. Benchmark
    // shingles broadcast (eval sets are fixed-size); the corpus text
    // never shuffles — only (doc_id, hit) pairs aggregate.
    Q("x_contamination",
      s"""WITH tok AS (SELECT doc_id, $LTOKS AS ltoks FROM documents),
         |sh AS (SELECT doc_id, list_distinct($SHINGLES) AS dsh FROM tok
         |       WHERE len(ltoks) >= 3),
         |ds AS (SELECT doc_id, unnest(dsh) AS s FROM sh WHERE doc_id % 17 <> 0),
         |bench AS (SELECT DISTINCT unnest(dsh) AS s FROM sh WHERE doc_id % 17 = 0)
         |SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
         |       CAST(count(b.s) AS BIGINT) AS n_contaminated,
         |       round(count(b.s) * 1.0 / count(*) + 1e-7, 4) AS contamination
         |FROM ds d LEFT JOIN bench b ON d.s = b.s
         |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      val shingleable = docsSpread(s, d)
        .filter(size(TextAnalysis.tokens(lower(col("text")))) >= 3)
      Curation.contamination(
          shingleable.filter(col("doc_id") % 17 =!= 0), "text", "doc_id",
          shingleable.filter(col("doc_id") % 17 === 0), "text", n = 3)
        .withColumn("contamination", Fp.r(col("contamination"), 4))
        .orderBy("doc_id")
    },

    // Repetition ratio (Gopher-style quality signal): 1 − distinct/total
    // 2-gram shingles, a pure per-row projection — boilerplate and
    // degenerate generations repeat; clean prose doesn't.
    Q("x_repetition",
      s"""WITH tok AS (SELECT doc_id, $LTOKS AS ltoks FROM documents),
         |sh AS (SELECT doc_id, $SHINGLES2 AS sh2 FROM tok WHERE len(ltoks) >= 2)
         |SELECT doc_id, CAST(len(sh2) AS INT) AS n_ngrams,
         |       round(1.0 - len(list_distinct(sh2)) * 1.0 / len(sh2) + 1e-7, 4)
         |         AS repetition
         |FROM sh ORDER BY doc_id""".stripMargin) { (s, d) =>
      docsSpread(s, d)
        .filter(size(TextAnalysis.tokens(lower(col("text")))) >= 2)
        .select(col("doc_id"),
          size(Dedup.shingles(col("text"), 2)).as("n_ngrams"),
          Fp.r(Curation.repetitionRatio(col("text"), 2), 4).as("repetition"))
        .orderBy("doc_id")
    },

    // PII scrub: deterministic synthetic PII (email + IP + phone derived
    // from doc_id) is appended to each document, then redacted with the
    // fixed email→IP→phone pass order; counts and the md5 of the fully
    // redacted text are hash-checked against DuckDB running the SAME
    // RE2-compatible patterns.
    Q("x_pii_redact", {
      val r = Curation.PiiRules()
      s"""WITH aug AS (SELECT doc_id,
         |  text || ' reach user' || CAST(doc_id AS VARCHAR)
         |       || '@mail.example or 10.0.' || CAST(doc_id % 256 AS VARCHAR)
         |       || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)
         |       || ' tel +1-202-555-01'
         |       || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') AS t
         |  FROM documents),
         |r1 AS (SELECT doc_id, t,
         |         regexp_replace(t, '${r.email}', '[EMAIL]', 'g') AS t1 FROM aug),
         |r2 AS (SELECT doc_id, t, t1,
         |         regexp_replace(t1, '${r.ip}', '[IP]', 'g') AS t2 FROM r1)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(t, '${r.email}')) AS INT) AS n_emails,
         |  CAST(len(regexp_extract_all(t1, '${r.ip}')) AS INT) AS n_ips,
         |  CAST(len(regexp_extract_all(t2, '${r.phone}')) AS INT) AS n_phones,
         |  md5(regexp_replace(t2, '${r.phone}', '[PHONE]', 'g')) AS redacted_digest
         |FROM r2 ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      val aug = docsSpread(s, d).select(col("doc_id"), concat(
        col("text"), lit(" reach user"), col("doc_id").cast("string"),
        lit("@mail.example or 10.0."),
        (col("doc_id") % 256).cast("string"), lit("."),
        ((col("doc_id") * 7) % 256).cast("string"),
        lit(" tel +1-202-555-01"),
        lpad((col("doc_id") % 100).cast("string"), 2, "0")).as("t"))
      Curation.redactPii(aug, "t")
        .select(col("doc_id"), col("n_emails"), col("n_ips"), col("n_phones"),
          md5(col("text_redacted").cast("binary")).as("redacted_digest"))
        .orderBy("doc_id")
    },

    // Context-window chunking (32-token windows, 8-token overlap): the
    // embedding-pipeline reshape — one posexplode, output linear in
    // corpus tokens, chunk digests + token counts hash-checked.
    Q("x_chunk",
      s"""WITH d AS (SELECT doc_id, coalesce(text, '') AS text FROM documents),
         |tok AS (SELECT doc_id, $TOKS AS toks FROM d),
         |c AS (SELECT doc_id, toks,
         |        greatest(1, CAST(ceil((len(toks) - 8) * 1.0 / 24) AS INT)) AS nch
         |      FROM tok),
         |x AS (SELECT doc_id, toks, unnest(range(nch)) AS i FROM c)
         |SELECT doc_id, CAST(i AS INT) AS chunk_idx,
         |       CAST(least(32, len(toks) - i * 24) AS INT) AS n_chunk_tokens,
         |       md5(array_to_string(list_slice(toks, i*24 + 1, i*24 + 32), ' '))
         |         AS chunk_digest
         |FROM x ORDER BY doc_id, chunk_idx""".stripMargin) { (s, d) =>
      Curation.chunk(docsSpread(s, d), "text", chunkTokens = 32, overlap = 8)
        .select(col("doc_id"), col("chunk_idx"), col("n_chunk_tokens"),
          md5(col("chunk_text").cast("binary")).as("chunk_digest"))
        .orderBy("doc_id", "chunk_idx")
    },

    // Deterministic training-order shuffle: the md5(salt:id) key replays
    // the same pseudo-random permutation on any engine and any re-run
    // (epoch reshuffle = new salt). The head of the order is verified
    // here; at scale the corpus is range-partitioned + locally sorted on
    // the key (Curation.shuffled — one exchange, no global row numbers).
    Q("x_train_shuffle",
      """WITH k AS (SELECT doc_id,
        |             md5('ep1:' || CAST(doc_id AS VARCHAR)) AS shuffle_key
        |           FROM documents)
        |SELECT doc_id, shuffle_key,
        |       CAST(row_number() OVER (ORDER BY shuffle_key, doc_id) AS INT) AS pos
        |FROM k ORDER BY pos LIMIT 100""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      // TakeOrdered cuts the top-100 first; the global window then runs
      // over those 100 rows only (never the corpus)
      val top = docs(s, d).select(col("doc_id"),
        Curation.shuffleKey(col("doc_id"), "ep1").as("shuffle_key"))
        .orderBy("shuffle_key", "doc_id").limit(100)
      top.withColumn("pos",
        row_number().over(Window.orderBy("shuffle_key", "doc_id")).cast("int"))
        .orderBy("pos")
    },

    // Token-budget shard packing per language stratum: deterministic
    // exclusive-cumsum window → floor(cum/budget); per-stratum windows
    // distribute (a single global pack would serialize at scale).
    Q("x_shard_pack",
      s"""WITH tok AS (SELECT doc_id, lang, CAST(len($TOKS) AS INT) AS n_tokens
         |            FROM documents),
         |c AS (SELECT doc_id, lang, n_tokens,
         |        sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |      FROM tok)
         |SELECT doc_id, lang, n_tokens,
         |       CAST(floor((cum - n_tokens) / 1000.0) AS INT) AS shard_id
         |FROM c ORDER BY lang, doc_id""".stripMargin) { (s, d) =>
      // narrow projection: the cumsum checkpoints what it is given
      val withTok = docsSpread(s, d).withColumn("n_tokens",
        size(TextAnalysis.tokens(col("text"))))
        .select("doc_id", "lang", "n_tokens")
      Curation.packShards(withTok, "n_tokens", "doc_id",
          budget = 1000L, partitionCols = Seq("lang"))
        .select("doc_id", "lang", "n_tokens", "shard_id")
        .orderBy("lang", "doc_id")
    },

    // Stratified deterministic sampling: per-language md5-prefix
    // thresholds (en downsampled to ~8%, the rest ~25%).
    Q("x_sample_stratified",
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_sampled,
        |       CAST(min(doc_id) AS BIGINT) AS first_doc
        |FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <
        |      (CASE WHEN lang = 'en' THEN '14' ELSE '40' END)
        |GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
      Curation.sampleStratified(docs(s, d), "doc_id", "lang",
          thresholds = Map("en" -> "14"), default = "40")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_sampled"), min("doc_id").as("first_doc"))
        .orderBy("lang")
    },

    // Corpus TF-IDF, top-3 terms per doc. Scores round to 4 decimals
    // BEFORE ranking in both engines so the cut is reproducible.
    Q("x_text_tfidf",
      s"""WITH tok AS (
         |  SELECT doc_id, unnest($LTOKS) AS term FROM documents),
         |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
         |       FROM tok GROUP BY 1, 2),
         |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
         |scored AS (
         |  SELECT doc_id, term, round(tf * ln(n.n / df) + 1e-7, 4) AS tfidf
         |  FROM tf JOIN dfreq USING (term) CROSS JOIN n),
         |ranked AS (SELECT *, row_number() OVER (PARTITION BY doc_id
         |  ORDER BY tfidf DESC, term) AS rn FROM scored)
         |SELECT doc_id, term, tfidf FROM ranked WHERE rn <= 3
         |ORDER BY doc_id, tfidf DESC, term""".stripMargin) { (s, d) =>
      TextAnalysis.tfidf(docs(s, d), "text", "doc_id", k = 3)
        .orderBy(col("doc_id"), col("tfidf").desc, col("term"))
    },

    // Token entropy (perplexity proxy): -Σ p·ln p over each doc's token
    // distribution — repetitive text ≈ 0, diverse prose ≈ ln(n). One
    // fused TermFreqs pass + HOF folds, no shuffle.
    Q("x_token_entropy",
      s"""WITH tok AS (SELECT doc_id, unnest($LTOKS) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS c FROM tok GROUP BY 1, 2),
         |n AS (SELECT doc_id, sum(c) AS n FROM tf GROUP BY 1)
         |SELECT tf.doc_id,
         |       round(-sum((c / n.n) * ln(c / n.n)) + 1e-7, 4) AS token_entropy
         |FROM tf JOIN n ON tf.doc_id = n.doc_id
         |GROUP BY tf.doc_id ORDER BY tf.doc_id""".stripMargin) { (s, d) =>
      TextAnalysis.withTokenEntropy(docsSpread(s, d), "text")
        .filter(col("token_entropy").isNotNull) // empty docs have no oracle row
        .select(col("doc_id"), Fp.r(col("token_entropy"), 4).as("token_entropy"))
        .orderBy("doc_id")
    },

    // Fixed-length sequence packing (concat-then-chunk, docs split
    // across boundaries — the pretraining batcher; packShards is the
    // never-split complement). One cumsum window per lang stratum, then
    // a pure explode/agg; every sequence holds exactly 512 tokens
    // except each stratum's final partial.
    Q("x_pack_sequences",
      s"""WITH tok AS (SELECT doc_id, lang, CAST(len($TOKS) AS BIGINT) AS n
         |            FROM documents),
         |c AS (SELECT doc_id, lang, n,
         |        sum(n) OVER (PARTITION BY lang ORDER BY doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS e
         |      FROM tok),
         |x AS (SELECT lang, doc_id, e - n AS st, e FROM c WHERE n > 0),
         |s AS (SELECT lang, doc_id, st, e,
         |        unnest(generate_series(CAST(floor(st / 512.0) AS BIGINT),
         |          CAST(floor((e - 1) / 512.0) AS BIGINT))) AS seq_id
         |      FROM x)
         |SELECT lang, seq_id, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(least(e, (seq_id + 1) * 512) -
         |                greatest(st, seq_id * 512)) AS BIGINT) AS n_tokens,
         |       CAST(min(doc_id) AS BIGINT) AS first_doc,
         |       CAST(max(doc_id) AS BIGINT) AS last_doc
         |FROM s GROUP BY 1, 2 ORDER BY lang, seq_id""".stripMargin) { (s, d) =>
      // packSequences projects (strata, id, tokens) before the cumsum's
      // checkpoint, so the text is tokenized once
      val withTok = docsSpread(s, d).withColumn("n_tok",
        size(TextAnalysis.tokens(col("text"))))
      Curation.packSequences(withTok, "n_tok", "doc_id",
          seqLen = 512, partitionCols = Seq("lang"))
        .select("lang", "seq_id", "n_docs", "n_tokens", "first_doc", "last_doc")
        .orderBy("lang", "seq_id")
    },

    // ---- BPE tokenizer ---------------------------------------------------
    // Train: 8 merges at vocab grain (one corpus-sized word count, then
    // 8 vocab-sized pair-count rounds). The oracle mirrors the algorithm
    // CTE-for-CTE: same doubled-space symbol strings, same replace
    // semantics, same (cnt DESC, lhs, rhs) tie-break.
    Q("x_bpe_train", BpeOracle.trainSql(8)) { (s, d) =>
      import s.implicits._
      trainedMerges(s, d, 8)
        .map(m => (m.rank, m.lhs, m.rhs, m.lhs + m.rhs, m.count))
        .toDF("rank", "lhs", "rhs", "merged", "cnt").orderBy("rank")
    },

    // Encode: the learned merges fold over each word row-locally (HOF,
    // plan depth independent of merge count). Output compresses each
    // doc's token stream to an md5 so the sweep dump stays small while
    // every subword of every doc stays hash-verified.
    Q("x_bpe_encode", BpeOracle.encodeSql(8)) { (s, d) =>
      val merges = trainedMerges(s, d, 8)
      graft.ext.Bpe.encode(docsSpread(s, d), "text", merges)
        .select(col("doc_id"),
          size(graft.ext.Bpe.ltoks(col("text"))).cast("long").as("n_words"),
          col("n_bpe_tokens"),
          md5(array_join(col("bpe_tokens"), " ")).as("bpe_md5"))
        .orderBy("doc_id")
    },

    // Token-id vocabulary of the trained tokenizer: base characters
    // (lexicographic) then merged tokens by rank — the deterministic
    // id table a data loader ships with the packed sequences.
    Q("x_bpe_vocab", BpeOracle.vocabSql(8)) { (s, d) =>
      val merges = trainedMerges(s, d, 8)
      graft.ext.Bpe.tokenVocabDf(docs(s, d), "text", merges)
        .orderBy("token_id")
    },

    // Id encoding: every subword mapped through the hash-indexed
    // vocab_lookup_all expression (O(1) per probe — the element_at map
    // literal linear-scans; docs/SCALING.md A/B); the oracle rebuilds the
    // id table and probes it as a DuckDB MAP. md5 over each doc's id
    // stream keeps the dump small with every id of every doc verified.
    Q("x_bpe_encode_ids", BpeOracle.encodeIdsSql(8)) { (s, d) =>
      val merges = trainedMerges(s, d, 8)
      val vocab = graft.ext.Bpe.tokenVocab(docs(s, d), "text", merges)
      graft.ext.Bpe.encodeIds(docsSpread(s, d), "text", merges, vocab)
        .select(col("doc_id"),
          size(col("bpe_ids")).cast("long").as("n_ids"),
          // array<bigint> -> array<string> via Cast (codegen), not a
          // transform HOF (CodegenFallback) — keeps the reporting
          // projection inside the same whole-stage span as the encode
          md5(array_join(col("bpe_ids").cast("array<string>"), " "))
            .as("ids_md5"))
        .orderBy("doc_id")
    },

    // Composed tokenize→pack tail of the training pipeline: the packer
    // consumes SUBWORD counts from the learned tokenizer, and the
    // oracle re-derives the whole chain (train → encode → pack) in one
    // statement — certifying the two operators compose, not just run.
    Q("x_tokenize_pack_e2e", BpeOracle.tokenizePackSql(8, 512)) { (s, d) =>
      val merges = trainedMerges(s, d, 8)
      val enc = graft.ext.Bpe.encode(docsSpread(s, d), "text", merges)
      Curation.packSequences(enc, "n_bpe_tokens", "doc_id",
          seqLen = 512, partitionCols = Seq("lang"))
        .select("lang", "seq_id", "n_docs", "n_tokens", "first_doc", "last_doc")
        .orderBy("lang", "seq_id")
    },

    // ---- dedup -----------------------------------------------------------
    // Exact: one winner (min id) per content digest + group size.
    Q("x_dedup_exact",
      """SELECT CAST(min(doc_id) AS BIGINT) AS doc_id,
        |       CAST(count(*) AS BIGINT) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY doc_id""".stripMargin) {
      (s, d) =>
        docs(s, d).groupBy(Dedup.contentHash(col("text")).as("__h"))
          .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
          .drop("__h").orderBy("doc_id")
    },

    // MinHash signatures (8 hashes over 3-word shingles).
    Q("x_dedup_minhash_sig",
      s"""WITH tok AS (SELECT doc_id, $LTOKS AS ltoks FROM documents),
         |sh AS (SELECT doc_id, $SHINGLES AS shingles FROM tok WHERE len(ltoks) >= 3)
         |SELECT doc_id,
         |  ${(0 until 8).map(i => mhSql("shingles", i) + s" AS mh$i").mkString(",\n  ")}
         |FROM sh ORDER BY doc_id""".stripMargin) { (s, d) =>
      // the <3-token filter is built into the signature expression (null)
      Dedup.withMinhashSignature(docsSpread(s, d), "text", 8)
        .select(col("doc_id") +: (0 until 8).map(i => col(s"mh$i")): _*)
        .orderBy("doc_id")
    },

    // LSH-banded candidate pairs + exact shingle Jaccard.
    Q("x_dedup_lsh_pairs",
      s"""WITH tok AS (SELECT doc_id, $LTOKS AS ltoks FROM documents),
         |sh AS (SELECT doc_id, $SHINGLES AS shingles FROM tok WHERE len(ltoks) >= 3),
         |sig AS (SELECT doc_id, list_distinct(shingles) AS dsh,
         |  ${(0 until 8).map(i => mhSql("shingles", i) + s" AS mh$i").mkString(",\n  ")}
         |FROM sh),
         |bands AS (
         |  SELECT doc_id, dsh, 0 AS band_idx, md5(mh0||'|'||mh1||'|'||mh2||'|'||mh3) AS band_val FROM sig
         |  UNION ALL
         |  SELECT doc_id, dsh, 1, md5(mh4||'|'||mh5||'|'||mh6||'|'||mh7) FROM sig),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         |   AND a.doc_id < b.doc_id),
         |jac AS (
         |  SELECT a_id, b_id,
         |    len(list_filter(sa.dsh, x -> list_contains(sb.dsh, x))) AS inter,
         |    len(sa.dsh) + len(sb.dsh) AS tot
         |  FROM cand
         |  JOIN sig sa ON sa.doc_id = a_id
         |  JOIN sig sb ON sb.doc_id = b_id)
         |SELECT a_id, b_id,
         |  round(CAST(inter AS DOUBLE) / nullif(tot - inter, 0) + 1e-7, 4) AS jaccard
         |FROM jac ORDER BY a_id, b_id""".stripMargin) { (s, d) =>
      Dedup.nearDupPairs(docs(s, d), "text", "doc_id")
        .select(col("a_id"), col("b_id"), Fp.r(col("jaccard"), 4).as("jaccard"))
        .orderBy("a_id", "b_id")
    },

    // Incremental dedup — the daily-ingest shape: odd doc_ids play the new
    // batch, even ids the existing corpus, whose SIGNATURE INDEX is all
    // that is read (never the old text). Band join runs new×old only.
    Q("x_dedup_incremental",
      s"""WITH tok AS (SELECT doc_id, $LTOKS AS ltoks FROM documents),
         |sh AS (SELECT doc_id, $SHINGLES AS shingles FROM tok WHERE len(ltoks) >= 3),
         |sig AS (SELECT doc_id, list_distinct(shingles) AS dsh,
         |  ${(0 until 8).map(i => mhSql("shingles", i) + s" AS mh$i").mkString(",\n  ")}
         |FROM sh),
         |bands AS (
         |  SELECT doc_id, dsh, 0 AS band_idx, md5(mh0||'|'||mh1||'|'||mh2||'|'||mh3) AS band_val FROM sig
         |  UNION ALL
         |  SELECT doc_id, dsh, 1, md5(mh4||'|'||mh5||'|'||mh6||'|'||mh7) FROM sig),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS old_id
         |  FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         |  WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0),
         |jac AS (
         |  SELECT new_id, old_id,
         |    len(list_filter(sa.dsh, x -> list_contains(sb.dsh, x))) AS inter,
         |    len(sa.dsh) + len(sb.dsh) AS tot
         |  FROM cand
         |  JOIN sig sa ON sa.doc_id = new_id
         |  JOIN sig sb ON sb.doc_id = old_id)
         |SELECT new_id, old_id,
         |  round(CAST(inter AS DOUBLE) / nullif(tot - inter, 0) + 1e-7, 4) AS jaccard
         |FROM jac ORDER BY new_id, old_id""".stripMargin) { (s, d) =>
      val all = docs(s, d)
      val index = Dedup.signatureIndex(
        all.filter(col("doc_id") % 2 === 0), "text", "doc_id")
      Dedup.incrementalNearDupPairs(
          all.filter(col("doc_id") % 2 === 1), "text", "doc_id", index)
        .select(col("new_id"), col("old_id"), Fp.r(col("jaccard"), 4).as("jaccard"))
        .orderBy("new_id", "old_id")
    },

    // Streaming near-dup against the static signature index — the SAME
    // Streams.nearDupStream call runs under readStream (StreamsSpec
    // drives that path and asserts parity with this batch invocation);
    // here batch mode defines the semantics the oracle certifies. Odd
    // doc_ids play the arriving stream, even ids the indexed corpus;
    // only pairs clearing jaccard >= 0.8 are flagged (the raw double is
    // compared on both sides — same int-ratio arithmetic).
    Q("st_neardup_index",
      s"""WITH tok AS (SELECT doc_id, $LTOKS AS ltoks FROM documents),
         |sh AS (SELECT doc_id, $SHINGLES AS shingles FROM tok WHERE len(ltoks) >= 3),
         |sig AS (SELECT doc_id, list_distinct(shingles) AS dsh,
         |  ${(0 until 8).map(i => mhSql("shingles", i) + s" AS mh$i").mkString(",\n  ")}
         |FROM sh),
         |bands AS (
         |  SELECT doc_id, dsh, 0 AS band_idx, md5(mh0||'|'||mh1||'|'||mh2||'|'||mh3) AS band_val FROM sig
         |  UNION ALL
         |  SELECT doc_id, dsh, 1, md5(mh4||'|'||mh5||'|'||mh6||'|'||mh7) FROM sig),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS old_id
         |  FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         |  WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0),
         |jac AS (
         |  SELECT new_id, old_id,
         |    len(list_filter(sa.dsh, x -> list_contains(sb.dsh, x))) AS inter,
         |    len(sa.dsh) + len(sb.dsh) AS tot
         |  FROM cand
         |  JOIN sig sa ON sa.doc_id = new_id
         |  JOIN sig sb ON sb.doc_id = old_id)
         |SELECT new_id, old_id,
         |  round(CAST(inter AS DOUBLE) / nullif(tot - inter, 0) + 1e-7, 4) AS jaccard
         |FROM jac
         |WHERE CAST(inter AS DOUBLE) / nullif(tot - inter, 0) >= 0.8
         |ORDER BY new_id, old_id""".stripMargin) { (s, d) =>
      val all = docs(s, d)
      val index = Dedup.signatureIndex(
        all.filter(col("doc_id") % 2 === 0), "text", "doc_id")
      graft.streaming.Streams.nearDupStream(
          all.filter(col("doc_id") % 2 === 1), "text", "doc_id", index,
          threshold = 0.8)
        .select(col("new_id"), col("old_id"), Fp.r(col("jaccard"), 4).as("jaccard"))
        .orderBy("new_id", "old_id")
    },

    // Bottom-k (KMV) sketch per group via the custom TypedImperativeAggregate
    // — bounded-memory alternative to sort(collect_list())[0:k].
    Q("x_dedup_bottomk_sketch",
      """SELECT source, array_to_string((list_sort(list(md5(text))))[1:4], ',') AS sketch
        |FROM documents GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      // joined to one string: the driver's pandas-side compare can't sort
      // rows on a raw array column (unhashable ndarray)
      docs(s, d).groupBy("source")
        .agg(array_join(
          graft.functions.BottomK.bottomK(md5(col("text").cast("binary")), 4),
          ",").as("sketch"))
        .orderBy("source")
    },

    // SimHash 64-bit signatures (bit-string form).
    Q("x_dedup_simhash",
      """WITH tok AS (
        |  SELECT doc_id,
        |         list_distinct(list_filter(string_split(lower(text),' '), x -> x <> '')) AS dtoks
        |  FROM documents),
        |tk AS (SELECT doc_id, unnest(dtoks) AS t FROM tok),
        |bits AS (
        |  SELECT doc_id, g.bit_idx,
        |    CASE WHEN ((list_position(['0','1','2','3','4','5','6','7','8','9','a','b','c','d','e','f'],
        |                              substr(md5(t), (g.bit_idx // 4) + 1, 1)) - 1)
        |               >> (3 - (g.bit_idx % 4))) & 1 = 1 THEN 1 ELSE -1 END AS vote
        |  FROM tk, (SELECT unnest(range(64)) AS bit_idx) g),
        |acc AS (SELECT doc_id, bit_idx, sum(vote) AS s FROM bits GROUP BY doc_id, bit_idx)
        |SELECT doc_id,
        |       string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END, '' ORDER BY bit_idx) AS simhash
        |FROM acc GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      docsSpread(s, d).select(col("doc_id"),
        graft.functions.SimHash64.simhash64(col("text")).as("simhash"))
        .orderBy("doc_id")
    },

    // Per-label embedding centroids (class prototypes): one posexplode +
    // one (label, pos) partial-agg shuffle bounded by |labels|·dim, array
    // reassembled by sorted struct collect. Values compare as fixed-scale
    // decimal strings (double→varchar formatting differs across engines).
    Q("x_group_centroids",
      """WITH e AS (SELECT label, generate_subscripts(embedding, 1) AS pos,
        |                  CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings),
        |m AS (SELECT label, pos, avg(v) AS m, count(*) AS n FROM e GROUP BY 1, 2)
        |SELECT label, CAST(max(n) AS BIGINT) AS n_vectors,
        |       array_to_string(list_transform(list(m ORDER BY pos),
        |         x -> CAST(CAST(round(x + 1e-7, 4) AS DECIMAL(18,4)) AS VARCHAR)), ',')
        |         AS centroid
        |FROM m GROUP BY label ORDER BY label""".stripMargin) { (s, d) =>
      Similarity.groupCentroids(embs(s, d), "embedding", "label")
        .select(col("label"), col("n_vectors"),
          array_join(transform(col("centroid"),
            v => round(v + lit(Fp.Eps), 4).cast("decimal(18,4)").cast("string")),
            ",").as("centroid"))
        .orderBy("label")
    },

    // ---- similarity search ----------------------------------------------
    // Brute-force cosine top-k against the vec_id=0 query vector.
    Q("x_sim_cosine_topk",
      """WITH e AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
        |                  generate_subscripts(embedding, 1) AS i FROM embeddings),
        |q AS (SELECT CAST(unnest(embedding) AS DOUBLE) AS v,
        |             generate_subscripts(embedding, 1) AS i
        |      FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id,
        |       round(sum(e.v * q.v)
        |             / nullif(sqrt(sum(e.v * e.v)) * sqrt(sum(q.v * q.v)), 0) + 1e-7, 4)
        |         AS cosine
        |FROM e JOIN q ON e.i = q.i
        |GROUP BY e.vec_id ORDER BY cosine DESC, vec_id LIMIT 20""".stripMargin) {
      (s, d) =>
        // codegen vec_dot directly on the float arrays — the HOF cosine over
        // transform-cast arrays interprets every element
        val corpus = embs(s, d)
        val qv = corpus.filter(col("vec_id") === 0)
          .select("embedding").first().getSeq[Float](0).map(_.toDouble)
        val q = array(qv.map(lit): _*)
        Tables.spread(corpus).select(col("vec_id"),
          Fp.r(Similarity.cosineCodegen(col("embedding"), q), 4).as("cosine"))
          .orderBy(col("cosine").desc, col("vec_id")).limit(20)
    },

    // Duplicate-span removal (C4/RefinedWeb line-dedup shape) — the
    // corpus has no newlines, so "lines" are consecutive 2-token chunks
    // (span=2 repeats often in the synthetic word-soup; real pipelines
    // use ~50-token lines and the identical plan). Keep the globally
    // first occurrence of each chunk, reassemble docs in order.
    Q("x_span_dedup",
      s"""WITH tok AS (SELECT doc_id, $TOKS AS toks FROM documents),
         |ch0 AS (SELECT doc_id,
         |  list_transform(range(CAST(ceil(len(toks)/2.0) AS BIGINT)),
         |                 i -> array_to_string(toks[i*2+1:i*2+2], ' ')) AS chunks
         |  FROM tok),
         |ch AS (SELECT doc_id, unnest(chunks) AS chunk,
         |              generate_subscripts(chunks, 1) AS chunk_idx FROM ch0),
         |k AS (SELECT *, row_number() OVER (PARTITION BY chunk
         |        ORDER BY doc_id, chunk_idx) AS rn FROM ch)
         |SELECT doc_id,
         |  CAST(count(*) AS INT) AS n_chunks,
         |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS INT) AS n_kept,
         |  coalesce(string_agg(CASE WHEN rn = 1 THEN chunk END, ' '
         |                      ORDER BY chunk_idx), '') AS text_dedup
         |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      Dedup.spanDedup(docsSpread(s, d), "text", "doc_id", span = 2)
        .orderBy("doc_id")
    },

    // int8 scalar quantization of the embedding column: code_sum is an
    // exact integer checksum of the per-dim codes (bit-for-bit encode
    // parity with the oracle), mse the reconstruction error. Pure
    // projection — the 100 TB shape is a scan that rewrites float32
    // vectors as 4x-smaller int8, no shuffle anywhere.
    Q("x_emb_sq8",
      """WITH e AS (SELECT vec_id,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |c AS (SELECT vec_id, v,
        |  list_transform(v, x -> CAST(floor(
        |    least(greatest(x, -1.0), 1.0) / 1.0 * 127 + 0.5) AS BIGINT)) AS codes
        |  FROM e)
        |SELECT vec_id,
        |  CAST(list_sum(codes) AS BIGINT) AS code_sum,
        |  round(list_sum(list_transform(range(len(v)),
        |          i -> pow(v[i+1] - codes[i+1] / 127.0 * 1.0, 2)))
        |        / len(v) + 1e-7, 8) AS mse
        |FROM c ORDER BY vec_id""".stripMargin) { (s, d) =>
      embs(s, d).select(col("vec_id"),
        aggregate(Similarity.sq8Codes(col("embedding")), lit(0L),
          (a, c) => a + c).as("code_sum"),
        Fp.r(Similarity.sq8Mse(col("embedding")), 8).as("mse"))
        .orderBy("vec_id")
    },

    // Corpus n-gram statistics: top-20 bigrams by occurrence count with
    // document frequency. The shuffle is keyed by the DISTINCT bigram
    // (content hash distribution — no skew key), partial map-side agg
    // absorbs heavy grams, and the global top-k is a TakeOrdered over
    // per-partition heads, never a full sort. The same plan serves
    // "top domains / top templates over 100 TB".
    Q("x_ngram_topk",
      s"""WITH tok AS (SELECT doc_id, $LTOKS AS ltoks FROM documents),
         |g AS (SELECT doc_id, unnest($SHINGLES2) AS gram
         |      FROM tok WHERE len(ltoks) >= 2)
         |SELECT gram, CAST(count(*) AS BIGINT) AS cnt,
         |       CAST(count(DISTINCT doc_id) AS BIGINT) AS df
         |FROM g GROUP BY gram
         |ORDER BY cnt DESC, gram LIMIT 20""".stripMargin) { (s, d) =>
      // r19 (guide §2.3 — aggregate before you shuffle): the fused
      // TermFreqs pass emits ONE pre-aggregated (doc, distinct-bigram,
      // tf) row per doc×bigram, so cnt = sum(tf) and df = row count per
      // bigram come out of a single gram-keyed exchange. The previous
      // explode + count(DISTINCT doc_id) shape shuffled every bigram
      // OCCURRENCE through a two-phase distinct-aggregate (two
      // exchanges). Same grams: the U+0001-separated bigram rendering
      // maps 1:1 onto the space-joined shingle (tokens cannot contain
      // either separator), translated back after the aggregate at
      // gram grain. (docBigrams spreads its input itself.) df is a row
      // count per bigram, which equals the oracle's count(DISTINCT doc_id)
      // only because `documents.doc_id` is unique: docBigrams emits one
      // row per (doc_id, bigram), and a repeated doc_id would count twice.
      // LangModelSpec checks that uniqueness on the test data.
      LangModel.docBigrams(docs(s, d), "text", "doc_id")
        .groupBy("bigram").agg(
          sum(col("tf")).as("cnt"),
          count(lit(1)).as("df"))
        .select(translate(col("bigram"), LangModel.Sep, " ").as("gram"),
          col("cnt"), col("df"))
        .orderBy(col("cnt").desc, col("gram")).limit(20)
    },

    // Mixture rebalancing: downsample each source to hit a target
    // composition (40/30/20/10 over src0..src3, everything else dropped).
    // Rates come from ONE bounded per-source aggregate; the corpus is
    // then filtered in a single scan against an exact md5-uniform —
    // bit-reproducible, so both engines keep the identical row set.
    Q("x_mixture_sample",
      """WITH t(source, share) AS (VALUES
        |  ('src0', 0.4), ('src1', 0.3), ('src2', 0.2), ('src3', 0.1)),
        |c AS (SELECT source, CAST(count(*) AS DOUBLE) AS n
        |      FROM documents GROUP BY 1),
        |m AS (SELECT min(c.n / t.share) AS cap FROM c JOIN t USING (source)),
        |r AS (SELECT c.source, t.share * m.cap / c.n AS rate
        |      FROM c JOIN t USING (source), m)
        |SELECT d.doc_id, d.source
        |FROM documents d JOIN r ON d.source = r.source
        |WHERE CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))
        |           AS UBIGINT) / 4294967296.0 < r.rate
        |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      Curation.mixtureSample(docs(s, d), "doc_id", "source",
        Map("src0" -> 0.4, "src1" -> 0.3, "src2" -> 0.2, "src3" -> 0.1))
        .select("doc_id", "source").orderBy("doc_id")
    },

    // Deterministic weighted sampling (Efraimidis–Spirtsos A-ES):
    // priority u^(1/w) with u a salted md5-derived uniform — longer docs
    // (weight = n_chars) are proportionally likelier. One scan + one
    // TakeOrdered; reproducible across runs and engines, so the mixture
    // a 100 TB pipeline draws is auditable row-for-row. Both engines
    // order by the ROUNDED key + id so the cut line is identical.
    Q("x_weighted_sample",
      """WITH w AS (SELECT doc_id, n_chars,
        |  round(pow(
        |    (CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |          AS UBIGINT) + 1.0) / 4294967297.0,
        |    1.0 / n_chars) + 1e-7, 8) AS wkey
        |  FROM documents)
        |SELECT doc_id, CAST(n_chars AS BIGINT) AS weight, wkey
        |FROM w ORDER BY wkey DESC, doc_id LIMIT 20""".stripMargin) { (s, d) =>
      docs(s, d).select(col("doc_id"),
        col("n_chars").cast("long").as("weight"),
        Fp.r(Curation.weightedSampleKey(col("doc_id"), col("n_chars")), 8)
          .as("wkey"))
        .orderBy(col("wkey").desc, col("doc_id")).limit(20)
    },

    // Per-stratum weighted sampling: top-3 A-ES priorities per language —
    // one window per stratum, which the TopKPerKey strategy executes as a
    // bounded heap (no per-stratum sort), so drawing a per-domain quota
    // from a 100 TB corpus is one scan + one output-sized shuffle.
    Q("x_weighted_stratum_topk",
      """WITH w AS (SELECT doc_id, lang, n_chars,
        |  round(pow(
        |    (CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |          AS UBIGINT) + 1.0) / 4294967297.0,
        |    1.0 / n_chars) + 1e-7, 8) AS wkey
        |  FROM documents),
        |r AS (SELECT *, row_number() OVER (PARTITION BY lang
        |        ORDER BY wkey DESC, doc_id) AS rn FROM w)
        |SELECT lang, doc_id, CAST(n_chars AS BIGINT) AS weight, wkey
        |FROM r WHERE rn <= 3 ORDER BY lang, doc_id""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("lang")
        .orderBy(col("wkey").desc, col("doc_id"))
      docs(s, d).select(col("doc_id"), col("lang"),
          col("n_chars").cast("long").as("weight"),
          Fp.r(Curation.weightedSampleKey(col("doc_id"), col("n_chars")), 8)
            .as("wkey"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= 3).drop("__rn")
        .select("lang", "doc_id", "weight", "wkey")
        .orderBy("lang", "doc_id")
    },

    // Corpus health dashboard: the per-source monitoring artifact every
    // curation pipeline ships — volume, token stats, repetition, keep
    // rate under the standard rules, language spread. ONE fused TextStats
    // pass per row, one source-grain aggregate; at 100 TB this is a scan
    // plus a catalog-sized shuffle.
    Q("x_corpus_health",
      s"""WITH tok AS (SELECT source, lang, text, $TOKS AS toks
         |            FROM documents),
         |feat AS (SELECT source, lang, len(toks) AS nt,
         |  CAST(len(list_distinct(toks)) AS DOUBLE) / nullif(len(toks),0) AS ttr,
         |  CAST(length(text) - length(regexp_replace(text,'[[:punct:]]','','g'))
         |       AS DOUBLE) / nullif(length(text),0) AS pr,
         |  CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
         |    / nullif(len(toks),0) AS mwl
         |  FROM tok),
         |r AS (SELECT source, lang, nt, ttr,
         |  CASE WHEN nt < 20 THEN 0 WHEN nt > 500 THEN 0
         |       WHEN pr > 0.1 THEN 0
         |       WHEN mwl < 3.0 OR mwl > 9.0 THEN 0 ELSE 1 END AS kept
         |  FROM feat)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  round(avg(nt) + 1e-7, 2) AS avg_tokens,
         |  round(avg(ttr) + 1e-7, 4) AS avg_ttr,
         |  round(avg(kept) + 1e-7, 4) AS keep_rate,
         |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
         |FROM r GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val st = docsSpread(s, d)
        .withColumn("__st", graft.functions.TextStats.textStats(col("text")))
      val nt = col("__st.n_tokens")
      val ttr = col("__st.n_distinct").cast("double") / nullif(nt, lit(0))
      val pr = col("__st.n_punct").cast("double") /
        nullif(col("__st.n_chars"), lit(0))
      val mwl = col("__st.sum_len").cast("double") / nullif(nt, lit(0))
      val kept = when(nt < 20, 0).when(nt > 500, 0)
        .when(pr > 0.1, 0)
        .when(mwl < 3.0 || mwl > 9.0, 0).otherwise(1)
      st.select(col("source"), col("lang"), nt.as("nt"),
          ttr.as("ttr"), kept.as("kept"))
        .groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          Fp.r(avg("nt"), 2).as("avg_tokens"),
          Fp.r(avg("ttr"), 4).as("avg_ttr"),
          Fp.r(avg("kept"), 4).as("keep_rate"),
          countDistinct("lang").as("n_langs"))
        .orderBy("source")
    },

    // Corpus heavy hitters: output rows are the EXACT top-10 token counts
    // (SQL-expressible — that stays the oracle), while `sketch_ok`
    // certifies the bounded-memory Misra–Gries path: 1 iff every exact
    // top-10 token survives the k=64 sketch with
    // true − n/(k+1) <= est <= true. Those bounds are order-independent
    // guarantees of the sketch, so the flag is deterministic even though
    // the estimates themselves vary with merge order. At 100 TB the exact
    // path shuffles one row per distinct token (unbounded); the sketch
    // holds <= k counters per partial aggregate — that is the scale path
    // this query certifies against the exact answer.
    Q("x_heavy_hitters",
      s"""WITH tok AS (SELECT unnest($LTOKS) AS token FROM documents),
         |cnt AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt
         |        FROM tok GROUP BY 1)
         |SELECT token, cnt, 1 AS sketch_ok
         |FROM cnt ORDER BY cnt DESC, token LIMIT 10""".stripMargin) { (s, d) =>
      val k = 64
      val toks = docsSpread(s, d)
        .select(explode(TextAnalysis.tokens(lower(col("text")))).as("token"))
        .persist() // serves the sketch pass and the exact pass once each
      // the sketch aggregate and the exact top-10 are independent
      // actions over the persisted token frame — overlapped (r18, guide
      // §2.6; the cache is computed once, the second job reads it)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.global
      val aggF = Future(toks.agg(
        graft.functions.FreqItems.freqItems(col("token"), k).as("sk"),
        count(lit(1)).as("n")).first())
      val exactF = Future(toks.groupBy("token").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token")).limit(10).collect())
      val agg = Await.result(aggF, Duration.Inf)
      val sketch = agg.getMap[String, Long](0)
      val slack = agg.getLong(1) / (k + 1)
      val exactRows = Await.result(exactF, Duration.Inf)
      toks.unpersist()
      // Only counts ABOVE the n/(k+1) slack carry an order-independent
      // survival guarantee; a top-10 token at/below it (possible if the
      // corpus vocab ever outgrows k) may legitimately be evicted, so for
      // those the certificate only checks est <= true WHEN present —
      // keeps the flag deterministic on any corpus, not just this one.
      val ok = if (exactRows.forall { r =>
          val cnt = r.getLong(1)
          val est = sketch.get(r.getString(0))
          if (cnt > slack) est.exists(e => e <= cnt && cnt - e <= slack)
          else est.forall(_ <= cnt)
        }) 1 else 0
      // local relation: the exact rows were collected ONCE above —
      // returning the lazy DF would re-run both scans on execute
      import s.implicits._
      exactRows.map(r => (r.getString(0), r.getLong(1), ok)).toSeq
        .toDF("token", "cnt", "sketch_ok")
        .orderBy(col("cnt").desc, col("token"))
    },

    // Bigram-LM cross-entropy (CCNet's perplexity filter, self-trained so
    // the oracle re-derives the identical model): P(w2|w1) from exact
    // corpus counts, each doc scored by the mean -ln P of its bigram
    // stream. The fused TermFreqs pass means the shuffle carries (doc,
    // DISTINCT-bigram, tf) — never token occurrences; the model is two
    // map-side-combined aggregations of that stream; scoring is one
    // bigram-keyed equi-join (broadcast when the frequency-floored model
    // fits — see LangModel scaladoc).
    Q("x_ngram_lm_score",
      s"""WITH tok AS (SELECT doc_id, $LTOKS AS ltoks FROM documents),
         |bg AS (SELECT doc_id, unnest(list_transform(range(len(ltoks)-1),
         |        i -> ltoks[i+1]||chr(1)||ltoks[i+2])) AS b FROM tok),
         |tf AS (SELECT doc_id, b, CAST(count(*) AS BIGINT) AS tf
         |       FROM bg GROUP BY 1, 2),
         |bc AS (SELECT b, CAST(sum(tf) AS BIGINT) AS bc FROM tf GROUP BY 1),
         |c1 AS (SELECT string_split(b, chr(1))[1] AS w1,
         |              CAST(sum(bc) AS BIGINT) AS c1 FROM bc GROUP BY 1)
         |SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_bigrams,
         |  round(sum(tf.tf * -ln(CAST(bc.bc AS DOUBLE)/c1.c1)) / sum(tf.tf)
         |        + 1e-7, 4) AS cross_entropy
         |FROM tf JOIN bc USING (b)
         |  JOIN c1 ON string_split(tf.b, chr(1))[1] = c1.w1
         |GROUP BY tf.doc_id ORDER BY tf.doc_id""".stripMargin) { (s, d) =>
      LangModel.crossEntropy(docs(s, d), "text", "doc_id").orderBy("doc_id")
    },

    // Okapi BM25 against a fixed query-term set — the soft-decontamination
    // / corpus-slicing retrieval primitive. Per-doc term stats come out of
    // ONE fused TermFreqs pass (map lookups, no explode); corpus stats
    // (N, avgdl, df) are a single one-row aggregate broadcast back, so
    // scoring never shuffles document rows. Top-k cut on the ROUNDED
    // score with doc_id tiebreak, reproducible across engines.
    Q("x_text_bm25",
      s"""WITH tok AS (SELECT doc_id, $LTOKS AS ltoks FROM documents),
         |d AS (SELECT doc_id, CAST(len(ltoks) AS DOUBLE) AS dl,
         |        CAST(len(list_filter(ltoks, x -> x = 'spark')) AS DOUBLE) AS tf1,
         |        CAST(len(list_filter(ltoks, x -> x = 'join')) AS DOUBLE) AS tf2,
         |        CAST(len(list_filter(ltoks, x -> x = 'window')) AS DOUBLE) AS tf3
         |      FROM tok),
         |st AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl,
         |        CAST(sum(CASE WHEN tf1>0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
         |        CAST(sum(CASE WHEN tf2>0 THEN 1 ELSE 0 END) AS DOUBLE) AS df2,
         |        CAST(sum(CASE WHEN tf3>0 THEN 1 ELSE 0 END) AS DOUBLE) AS df3
         |       FROM d)
         |SELECT doc_id, round(
         |   ln(1 + (n - df1 + 0.5)/(df1 + 0.5))
         |     * (tf1*2.2)/(tf1 + 1.2*(0.25 + 0.75*dl/avgdl))
         | + ln(1 + (n - df2 + 0.5)/(df2 + 0.5))
         |     * (tf2*2.2)/(tf2 + 1.2*(0.25 + 0.75*dl/avgdl))
         | + ln(1 + (n - df3 + 0.5)/(df3 + 0.5))
         |     * (tf3*2.2)/(tf3 + 1.2*(0.25 + 0.75*dl/avgdl))
         | + 1e-7, 4) AS bm25
         |FROM d CROSS JOIN st WHERE tf1>0 OR tf2>0 OR tf3>0
         |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin) { (s, d) =>
      Bm25.score(docs(s, d), "text", "doc_id",
        terms = Seq("spark", "join", "window"))
    },

    // BM25 against a query TABLE (the decontamination-sweep shape): four
    // benchmark queries score in ONE pass — the (doc, term, tf) stream
    // explodes map-side and is broadcast-filtered to query-term hits
    // before anything shuffles, so corpus text and document rows never
    // cross the wire; df/N/avgdl are broadcast one-row/term-sized stats.
    // Per-query top-10 on the ROUNDED score with doc_id tiebreak.
    Q("x_text_bm25_batch",
      s"""WITH tok AS (SELECT doc_id, $LTOKS AS ltoks FROM documents),
         |q(query_id, term) AS (VALUES
         |  (1, 'spark'), (1, 'join'),
         |  (2, 'window'), (2, 'agg'),
         |  (3, 'hash'), (3, 'scan'), (3, 'filter'),
         |  (4, 'vector'), (4, 'stream')),
         |dl AS (SELECT doc_id, CAST(len(ltoks) AS DOUBLE) AS dl FROM tok),
         |st AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl
         |       FROM dl),
         |dtf AS (SELECT doc_id, t AS term, CAST(count(*) AS BIGINT) AS tf
         |        FROM (SELECT doc_id, unnest(ltoks) AS t FROM tok)
         |        GROUP BY 1, 2),
         |dft AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM dtf
         |        WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY 1),
         |ps AS (SELECT q.query_id, dtf.doc_id,
         |         round(sum(ln(1 + (st.n - dft.df + 0.5)/(dft.df + 0.5))
         |           * (dtf.tf * 2.2)
         |           / (dtf.tf + 1.2*(0.25 + 0.75*dl.dl/st.avgdl)))
         |           + 1e-7, 4) AS bm25
         |       FROM q JOIN dtf USING (term) JOIN dft USING (term)
         |         JOIN dl ON dtf.doc_id = dl.doc_id CROSS JOIN st
         |       GROUP BY 1, 2)
         |SELECT query_id, doc_id, bm25 FROM (
         |  SELECT query_id, doc_id, bm25, row_number() OVER (
         |    PARTITION BY query_id ORDER BY bm25 DESC, doc_id) AS rn
         |  FROM ps)
         |WHERE rn <= 10
         |ORDER BY query_id, bm25 DESC, doc_id""".stripMargin) { (s, d) =>
      import s.implicits._
      val queries = Seq(
        (1, "spark"), (1, "join"),
        (2, "window"), (2, "agg"),
        (3, "hash"), (3, "scan"), (3, "filter"),
        (4, "vector"), (4, "stream")).toDF("query_id", "term")
      Bm25.scoreBatch(docs(s, d), "text", "doc_id", queries, topK = 10)
        .orderBy(col("query_id"), col("bm25").desc, col("doc_id"))
    },

    // Duplicated-substring discovery (the Lee et al. exact-substring-dedup
    // primitive): every 8-token overlapping window digested; a window
    // duplicated anywhere corpus-wide (other docs OR a repeat in the same
    // doc) marks its doc. Shuffles carry 16-byte digests, never window
    // text; see Dedup.windowDupStats for the Bloom-prepass scale bound.
    Q("x_substring_dedup",
      s"""WITH tok AS (SELECT doc_id, $LTOKS AS ltoks FROM documents),
         |win AS (SELECT doc_id, unnest(list_transform(range(len(ltoks)-7),
         |         i -> md5(array_to_string(ltoks[i+1:i+8], ' ')))) AS h FROM tok),
         |cnt AS (SELECT h, count(*) AS c FROM win GROUP BY 1)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
         |  CAST(sum(CASE WHEN cnt.c>1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dup_windows,
         |  round(CAST(sum(CASE WHEN cnt.c>1 THEN 1 ELSE 0 END) AS DOUBLE)
         |        / count(*) + 1e-7, 4) AS dup_ratio
         |FROM win JOIN cnt USING (h)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      Dedup.windowDupStats(docsSpread(s, d), "text", "doc_id", w = 8)
        .orderBy("doc_id")
    },

    // Bloom-prepass substring dedup — the corpus-scale bound for the
    // query above: unique window digests (the overwhelming majority)
    // never leave their row; only bloom-probable duplicates explode and
    // shuffle, and an exact join against the materialized dup-digest set
    // removes bloom false positives. The oracle is the EXACT path's SQL
    // verbatim: identical output is the property under test (the bloom
    // bounds intermediate volume, never the answer).
    Q("x_substring_dedup_bloom",
      s"""WITH tok AS (SELECT doc_id, $LTOKS AS ltoks FROM documents),
         |win AS (SELECT doc_id, unnest(list_transform(range(len(ltoks)-7),
         |         i -> md5(array_to_string(ltoks[i+1:i+8], ' ')))) AS h FROM tok),
         |cnt AS (SELECT h, count(*) AS c FROM win GROUP BY 1)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
         |  CAST(sum(CASE WHEN cnt.c>1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dup_windows,
         |  round(CAST(sum(CASE WHEN cnt.c>1 THEN 1 ELSE 0 END) AS DOUBLE)
         |        / count(*) + 1e-7, 4) AS dup_ratio
         |FROM win JOIN cnt USING (h)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      Dedup.windowDupStatsBloom(docsSpread(s, d), "text", "doc_id", w = 8)
        .orderBy("doc_id")
    },

    // Exact-substring dedup, REWRITE form (the full Lee et al. operator):
    // every duplicated 8-token window is cut from the text, globally
    // first occurrence — min (doc_id, position) — wins; overlapping
    // flagged windows merge into spans. The oracle re-derives the
    // surviving text per doc and both sides compare its md5.
    Q("x_window_dedup_remove", WindowRemoveOracle.sql) { (s, d) =>
      Dedup.windowDupRemove(docsSpread(s, d), "text", "doc_id", w = 8)
        .select(col("doc_id"), col("n_tokens"), col("n_removed"),
          md5(col("text").cast("binary")).as("text_digest"))
        .orderBy("doc_id")
    },

    // Trained quality classifier (the DCLM / FineWeb-Edu curation shape):
    // logistic regression on surface features, full-batch gradient
    // descent where each step is ONE distributed aggregation (the
    // driver-holds-the-model / cluster-holds-the-data pattern shared
    // with Lloyd's k-means). Weak label: lang == 'en', learnable from
    // the stopword-share feature. FULLY oracle-checked — the DuckDB
    // oracle re-derives all 10 GD steps from w=0 and scores every doc
    // with the identical weights.
    Q("x_quality_classifier", QualityOracle.sql(steps = 10)) { (s, d) =>
      val feat = graft.ext.QualityModel.featureFrame(
        docsSpread(s, d), "text", "doc_id", col("lang") === "en").persist()
      val w = graft.ext.QualityModel.train(feat, lr = 1.0, steps = 10)
      feat.select(col("doc_id"), col("y"),
        Fp.r(graft.ext.QualityModel.score(feat, w), 4).as("score"))
        .orderBy("doc_id")
    },
  )
}

/** DuckDB mirror of [[graft.ext.Dedup.windowDupRemove]]: windows with
  * positions, first occurrence per digest via row_number over
  * (doc_id, pos), flagged windows expand to covered token positions,
  * an anti join keeps surviving tokens, and the reassembled text is
  * digest-compared. */
private[queries] object WindowRemoveOracle {
  private val LTOKS = "list_filter(string_split(lower(text),' '), x -> x <> '')"
  val sql: String =
    s"""WITH tok AS (SELECT doc_id, $LTOKS AS ltoks FROM documents),
       |win AS (SELECT doc_id,
       |  unnest(list_transform(range(greatest(len(ltoks)-7,0)),
       |         i -> md5(array_to_string(ltoks[i+1:i+8], ' ')))) AS h,
       |  unnest(range(greatest(len(ltoks)-7,0))) AS pos FROM tok),
       |flagged AS (SELECT doc_id, pos FROM (
       |  SELECT doc_id, pos, row_number() OVER (PARTITION BY h
       |    ORDER BY doc_id, pos) AS rn FROM win) WHERE rn > 1),
       |cov AS (SELECT DISTINCT doc_id, pos + j AS cp
       |        FROM flagged, unnest(range(8)) AS u(j)),
       |ptok AS (SELECT doc_id, unnest(ltoks) AS tk,
       |         generate_subscripts(ltoks, 1) - 1 AS p FROM tok),
       |surv AS (SELECT p.doc_id, p.tk, p.p FROM ptok p
       |         ANTI JOIN cov c ON p.doc_id = c.doc_id AND p.p = c.cp)
       |SELECT t.doc_id, CAST(len(t.ltoks) AS BIGINT) AS n_tokens,
       |  CAST(len(t.ltoks) - coalesce(s.n_kept, 0) AS BIGINT) AS n_removed,
       |  md5(coalesce(s.txt, '')) AS text_digest
       |FROM tok t LEFT JOIN (
       |  SELECT doc_id, count(*) AS n_kept,
       |         string_agg(tk, ' ' ORDER BY p) AS txt
       |  FROM surv GROUP BY doc_id) s USING (doc_id)
       |ORDER BY t.doc_id""".stripMargin
}

/** DuckDB mirror of [[graft.ext.QualityModel.train]]: the GD loop
  * unrolled as single-row weight CTEs (s1..sN), each aggregating the
  * residual gradient over the shared feature CTE — identical features,
  * w₀ = 0, lr/N step. */
private[queries] object QualityOracle {
  private val LTOKS = "list_filter(string_split(lower(text),' '), x -> x <> '')"
  private val TOKS = "list_filter(string_split(text,' '), x -> x <> '')"
  private val EN =
    "['the','a','of','and','to','in','is','it','that','for']"
  private val Xs = Seq("x1", "x2", "x3", "x4", "x5", "x6")
  private val Ws = Seq("w1", "w2", "w3", "w4", "w5", "w6")

  private def margin(prefix: String): String =
    Xs.zip(Ws).map { case (x, w) => s"$prefix.$w*f.$x" }.mkString(" + ")

  private def step(k: Int): String = {
    val grads = Xs.zip(Ws).map { case (x, w) =>
      s"""w.$w + (1.0/(SELECT n FROM n)) *
         |    sum((f.y - 1/(1+exp(-(${margin("w")})))) * f.$x) AS $w"""
        .stripMargin
    }.mkString(",\n  ")
    s"""s$k AS (
       |  SELECT $grads
       |  FROM feat f CROSS JOIN s${k - 1} w
       |  GROUP BY ${Ws.map(w => s"w.$w").mkString(", ")})""".stripMargin
  }

  def sql(steps: Int): String =
    s"""WITH tok AS (SELECT doc_id, lang, text, $LTOKS AS ltoks, $TOKS AS toks
       |             FROM documents),
       |feat AS (SELECT doc_id, CAST(lang = 'en' AS INT) AS y,
       |  least(len(ltoks)/100.0, 2.0) AS x1,
       |  coalesce(CAST(len(list_distinct(ltoks)) AS DOUBLE)
       |           / nullif(len(ltoks), 0), 0.0) AS x2,
       |  coalesce(CAST(length(text) - length(regexp_replace(text,'[[:punct:]]','','g')) AS DOUBLE)
       |           / nullif(length(text), 0), 0.0) AS x3,
       |  coalesce(CAST(len(list_filter(ltoks, t -> list_contains($EN, t))) AS DOUBLE)
       |           / nullif(len(ltoks), 0), 0.0) AS x4,
       |  coalesce(CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
       |           / nullif(len(toks), 0) / 10.0, 0.0) AS x5,
       |  1.0 AS x6
       |  FROM tok),
       |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM feat),
       |s0 AS (SELECT ${Ws.map(w => s"0.0 AS $w").mkString(", ")}),
       |${(1 to steps).map(step).mkString(",\n")}
       |SELECT f.doc_id, f.y,
       |       round(1/(1+exp(-(${margin("w")}))) + 1e-7, 4) AS score
       |FROM feat f CROSS JOIN s$steps w
       |ORDER BY f.doc_id""".stripMargin
}

/** DuckDB mirror of [[graft.ext.Bpe]], generated CTE-for-CTE for a fixed
  * merge count: `words` (corpus word frequencies) → `v0` (char-grain
  * symbol strings, doubled-space separators) → per round k: `p{k}`
  * (freq-weighted adjacent-pair counts), `m{k}` (argmax with the
  * (cnt DESC, lhs, rhs) tie-break), `v{k}` (merge applied via the same
  * boundary-spaced literal replace as the Spark side — identical
  * leftmost non-overlapping semantics in both engines, verified
  * against a pure-Python BPE reference). Encode applies the same 8
  * merges per word inside a lambda and md5-compresses each doc's
  * subword stream. */
private[queries] object BpeOracle {
  private val LTOKS = "list_filter(string_split(lower(text),' '), x -> x <> '')"
  private val INIT =
    "array_to_string(list_transform(generate_series(1, length(w)), i -> substring(w, i, 1)), '  ')"

  private def ctes(n: Int): String = {
    val b = Seq.newBuilder[String]
    b += s"""words AS (
            |  SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
            |    SELECT unnest($LTOKS) AS w FROM documents) GROUP BY w)""".stripMargin
    b += s"v0 AS (SELECT $INIT AS s, freq FROM words)"
    for (k <- 1 to n) {
      b += s"""p$k AS (
              |  SELECT (u).a AS a, (u).b AS b, CAST(sum(freq) AS BIGINT) AS cnt FROM (
              |    SELECT unnest(list_transform(generate_series(1, len(string_split(s,'  '))-1),
              |      i -> struct_pack(a := string_split(s,'  ')[i], b := string_split(s,'  ')[i+1]))) AS u,
              |      freq
              |    FROM v${k - 1} WHERE len(string_split(s,'  ')) > 1)
              |  GROUP BY 1, 2)""".stripMargin
      b += s"m$k AS (SELECT a, b, cnt FROM p$k ORDER BY cnt DESC, a, b LIMIT 1)"
      b += s"""v$k AS (
              |  SELECT trim(replace(' '||s||' ', ' '||m.a||'  '||m.b||' ', ' '||m.a||m.b||' ')) AS s, freq
              |  FROM v${k - 1}, m$k m)""".stripMargin
    }
    b.result().mkString(",\n")
  }

  def trainSql(n: Int): String = {
    val sel = (1 to n)
      .map(k => s"SELECT $k AS rank, a AS lhs, b AS rhs, a||b AS merged, cnt FROM m$k")
      .mkString("\nUNION ALL ")
    s"WITH ${ctes(n)}\n$sel\nORDER BY rank"
  }

  /** CTE chain through `enc` (doc_id, lang, ws): training plus per-doc
    * merge application — shared by the encode gate and the composed
    * tokenize→pack gate. */
  private def encCtes(n: Int): String = {
    val mcols = (1 to n).map(k => s"m$k.a AS a$k, m$k.b AS b$k").mkString(", ")
    val mfrom = (1 to n).map(k => s"m$k").mkString(", ")
    var inner = s"' ' || $INIT || ' '"
    for (k <- 1 to n)
      inner = s"replace($inner, ' '||a$k||'  '||b$k||' ', ' '||a$k||b$k||' ')"
    s"""${ctes(n)},
       |ms AS (SELECT $mcols FROM $mfrom),
       |enc AS (
       |  SELECT doc_id, lang, list_transform($LTOKS, w -> trim($inner)) AS ws
       |  FROM documents, ms)""".stripMargin
  }

  def encodeSql(n: Int): String =
    s"""WITH ${encCtes(n)}
       |SELECT doc_id,
       |  CAST(len(ws) AS BIGINT) AS n_words,
       |  CAST(len(flatten(list_transform(ws, s -> string_split(s, '  ')))) AS BIGINT) AS n_bpe_tokens,
       |  md5(array_to_string(list_transform(ws, s -> replace(s, '  ', ' ')), ' ')) AS bpe_md5
       |FROM enc ORDER BY doc_id""".stripMargin

  /** Vocabulary table: base symbols = the corpus's distinct word
    * characters with lexicographic row-number ids, then the n merged
    * tokens at base_count + rank − 1. */
  def vocabSql(n: Int): String = {
    val merged = (1 to n)
      .map(k => s"SELECT CAST(bc.n + ${k - 1} AS BIGINT) AS token_id, a||b AS token FROM m$k, bc")
      .mkString("\nUNION ALL ")
    s"""WITH ${ctes(n)},
       |chars AS (SELECT DISTINCT unnest(list_transform(generate_series(1, length(w)),
       |            i -> substring(w, i, 1))) AS token FROM words),
       |base AS (SELECT CAST(row_number() OVER (ORDER BY token) - 1 AS BIGINT) AS token_id,
       |                token FROM chars),
       |bc AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base)
       |SELECT token_id, token FROM base
       |UNION ALL $merged
       |ORDER BY token_id""".stripMargin
  }

  /** Id-encoded corpus: every subword of every doc mapped through the
    * token-id vocabulary (the [[vocabSql]] table as a DuckDB MAP, probed
    * per subword — the oracle twin of the hash-indexed
    * `vocab_lookup_all` expression), md5 over the per-doc id stream. */
  def encodeIdsSql(n: Int): String = {
    val merged = (1 to n)
      .map(k => s"SELECT CAST(bc.n + ${k - 1} AS BIGINT) AS token_id, a||b AS token FROM m$k, bc")
      .mkString("\nUNION ALL ")
    s"""WITH ${encCtes(n)},
       |chars AS (SELECT DISTINCT unnest(list_transform(generate_series(1, length(w)),
       |            i -> substring(w, i, 1))) AS token FROM words),
       |base AS (SELECT CAST(row_number() OVER (ORDER BY token) - 1 AS BIGINT) AS token_id,
       |                token FROM chars),
       |bc AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
       |vocab AS (SELECT token_id, token FROM base UNION ALL $merged),
       |vmap AS (SELECT map_from_entries(list(struct_pack(k := token, v := token_id))) AS m
       |         FROM vocab),
       |ids AS (SELECT doc_id,
       |          list_transform(flatten(list_transform(ws, s -> string_split(s, '  '))),
       |                         t -> map_extract(m, t)[1]) AS idl
       |        FROM enc, vmap)
       |SELECT doc_id, CAST(len(idl) AS BIGINT) AS n_ids,
       |       md5(array_to_string(idl, ' ')) AS ids_md5
       |FROM ids ORDER BY doc_id""".stripMargin
  }

  /** Composed tokenize→pack: BPE-encoded token counts feed the
    * fixed-length sequence packer — the same cumsum/explode/agg chain
    * as `x_pack_sequences`, but over subword counts the oracle itself
    * re-derives through the full training + encode chain. */
  def tokenizePackSql(n: Int, seqLen: Int): String =
    s"""WITH ${encCtes(n)},
       |tok AS (SELECT doc_id, lang,
       |          CAST(len(flatten(list_transform(ws, s -> string_split(s, '  ')))) AS BIGINT) AS n
       |        FROM enc),
       |c AS (SELECT doc_id, lang, n,
       |        sum(n) OVER (PARTITION BY lang ORDER BY doc_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS e
       |      FROM tok),
       |x AS (SELECT lang, doc_id, e - n AS st, e FROM c WHERE n > 0),
       |sq AS (SELECT lang, doc_id, st, e,
       |        unnest(generate_series(CAST(floor(st / $seqLen.0) AS BIGINT),
       |          CAST(floor((e - 1) / $seqLen.0) AS BIGINT))) AS seq_id
       |      FROM x)
       |SELECT lang, seq_id, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(least(e, (seq_id + 1) * $seqLen) -
       |                greatest(st, seq_id * $seqLen)) AS BIGINT) AS n_tokens,
       |       CAST(min(doc_id) AS BIGINT) AS first_doc,
       |       CAST(max(doc_id) AS BIGINT) AS last_doc
       |FROM sq GROUP BY 1, 2 ORDER BY lang, seq_id""".stripMargin
}
