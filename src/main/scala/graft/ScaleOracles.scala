package graft

/** Staged, shardable DuckDB oracle recipes for the queries whose
  * single-statement oracle SQL cannot run at large scale factors.
  *
  * At sf10 (500k documents / 200k vectors) three oracles OOM DuckDB on
  * their own per-token unnest (x_text_features, x_token_entropy,
  * x_text_tfidf) and the two LSH pair-join oracles would unnest ~5e9
  * rows. Each gets an EQUIVALENT multi-statement recipe that bounds
  * memory the same way the engine does:
  *
  *   - per-document decomposable features run per doc-id shard into an
  *     accumulator temp table (`__SHARD__` / `__NSHARDS__` placeholders);
  *   - tf-idf pre-aggregates (doc, distinct-term, tf) per shard — the
  *     same "never materialize raw token occurrences" shape as
  *     `TextAnalysis.tfidfTopK`;
  *   - the pair joins compute only the tiny (id, band/bucket) tables per
  *     shard, self-join those for candidates, and evaluate the exact
  *     similarity ONLY on candidate pairs (sharded again for the
  *     per-dimension unnest).
  *
  * Protocol (consumed by tools/check.py --scale): an ordered statement
  * list; every statement but the last is DDL/DML executed for effect
  * (per_shard=true → once per shard with the placeholders substituted);
  * the LAST statement is the result SELECT compared against the engine
  * dump. Equivalence with the committed single-statement oracles is
  * checked by running the full gate with --scale at small SFs.
  */
object ScaleOracles {

  final case class Step(perShard: Boolean, sql: String)

  /** Wrap a per-document-decomposable oracle: run the ORIGINAL statement
    * over one doc-id shard at a time, accumulating rows. Exact because
    * every output row of these queries depends only on its own document. */
  private def docSharded(name: String): Seq[Step] = {
    val orig = SparkEntry.oracleSql(name)
    require(orig.split("FROM documents").length == 2,
      s"$name oracle must reference documents exactly once")
    val sharded = orig.replace("FROM documents",
      "FROM (SELECT * FROM documents WHERE doc_id % __NSHARDS__ = __SHARD__)")
    Seq(
      Step(perShard = false,
        s"CREATE OR REPLACE TEMP TABLE __acc_$name AS SELECT * FROM (\n$orig\n) __q LIMIT 0"),
      Step(perShard = true,
        s"INSERT INTO __acc_$name SELECT * FROM (\n$sharded\n) __q"),
      Step(perShard = false, s"SELECT * FROM __acc_$name"))
  }

  private val tfidf: Seq[Step] = Seq(
    Step(perShard = false,
      """CREATE OR REPLACE TEMP TABLE __tf_tfidf
        |  (doc_id BIGINT, term VARCHAR, tf BIGINT)""".stripMargin),
    Step(perShard = true,
      """INSERT INTO __tf_tfidf
        |WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(string_split(lower(text),' '), x -> x <> '')) AS term
        |  FROM (SELECT * FROM documents WHERE doc_id % __NSHARDS__ = __SHARD__))
        |SELECT doc_id, term, CAST(count(*) AS BIGINT) FROM tok GROUP BY 1, 2""".stripMargin),
    Step(perShard = false,
      """WITH dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM __tf_tfidf GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
        |scored AS (
        |  SELECT doc_id, term, round(tf * ln(n.n / df) + 1e-7, 4) AS tfidf
        |  FROM __tf_tfidf JOIN dfreq USING (term) CROSS JOIN n),
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |  ORDER BY tfidf DESC, term) AS rn FROM scored)
        |SELECT doc_id, term, tfidf FROM ranked WHERE rn <= 3
        |ORDER BY doc_id, tfidf DESC, term""".stripMargin))

  /** Shingle CTE fragment shared by the LSH stages; `__SRC__` is the
    * (possibly filtered) documents source. */
  private val shingleCtes =
    """tok AS (SELECT doc_id, list_filter(string_split(lower(text),' '), x -> x <> '') AS ltoks FROM __SRC__),
      |sh AS (SELECT doc_id, list_transform(range(len(ltoks)-2), i -> ltoks[i+1]||' '||ltoks[i+2]||' '||ltoks[i+3]) AS shingles FROM tok WHERE len(ltoks) >= 3)""".stripMargin

  private def mh(seed: Int): String =
    s"list_min(list_transform(shingles, t -> substr(md5('$seed:'||t),1,16))) AS mh$seed"

  private val lshPairs: Seq[Step] = Seq(
    Step(perShard = false,
      "CREATE OR REPLACE TEMP TABLE __bands_lsh (doc_id BIGINT, band_idx INT, band_val VARCHAR)"),
    Step(perShard = true,
      s"""INSERT INTO __bands_lsh
         |WITH ${shingleCtes.replace("__SRC__",
        "(SELECT * FROM documents WHERE doc_id % __NSHARDS__ = __SHARD__)")},
         |sig AS (SELECT doc_id, ${(0 until 8).map(mh).mkString(",\n  ")}
         |FROM sh)
         |SELECT doc_id, 0 AS band_idx, md5(mh0||'|'||mh1||'|'||mh2||'|'||mh3) FROM sig
         |UNION ALL
         |SELECT doc_id, 1, md5(mh4||'|'||mh5||'|'||mh6||'|'||mh7) FROM sig""".stripMargin),
    Step(perShard = false,
      """CREATE OR REPLACE TEMP TABLE __cand_lsh AS
        |SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        |FROM __bands_lsh a JOIN __bands_lsh b
        |  ON a.band_idx = b.band_idx AND a.band_val = b.band_val
        | AND a.doc_id < b.doc_id""".stripMargin),
    Step(perShard = false,
      s"""CREATE OR REPLACE TEMP TABLE __sig_lsh AS
         |WITH ${shingleCtes.replace("__SRC__",
        """(SELECT * FROM documents WHERE doc_id IN
          |    (SELECT a_id FROM __cand_lsh UNION SELECT b_id FROM __cand_lsh))""".stripMargin)}
         |SELECT doc_id, list_distinct(shingles) AS dsh FROM sh""".stripMargin),
    Step(perShard = false,
      """WITH jac AS (
        |  SELECT a_id, b_id,
        |    len(list_filter(sa.dsh, x -> list_contains(sb.dsh, x))) AS inter,
        |    len(sa.dsh) + len(sb.dsh) AS tot
        |  FROM __cand_lsh
        |  JOIN __sig_lsh sa ON sa.doc_id = a_id
        |  JOIN __sig_lsh sb ON sb.doc_id = b_id)
        |SELECT a_id, b_id,
        |  round(CAST(inter AS DOUBLE) / nullif(tot - inter, 0) + 1e-7, 4) AS jaccard
        |FROM jac ORDER BY a_id, b_id""".stripMargin))

  private def embNearDup: Seq[Step] = {
    val sigExpr = queries.MiscQueries.planesSql(
      graft.ext.Similarity.hyperplanes(12, 64)).mkString(" || ")
    Seq(
      Step(perShard = false,
        """CREATE OR REPLACE TEMP TABLE __bits_emb AS
          |SELECT greatest(4, least(12,
          |  CAST(ceil(log2(count(*) / 512.0)) AS INT))) AS bits FROM embeddings""".stripMargin),
      Step(perShard = false,
        "CREATE OR REPLACE TEMP TABLE __eb_emb (vec_id BIGINT, bucket VARCHAR)"),
      Step(perShard = true,
        s"""INSERT INTO __eb_emb
           |SELECT vec_id, substr($sigExpr, 1, (SELECT bits FROM __bits_emb)) AS bucket
           |FROM (SELECT * FROM embeddings WHERE vec_id % __NSHARDS__ = __SHARD__)""".stripMargin),
      Step(perShard = false,
        """CREATE OR REPLACE TEMP TABLE __pairs_emb AS
          |SELECT a.vec_id AS a_id, b.vec_id AS b_id
          |FROM __eb_emb a JOIN __eb_emb b
          |  ON a.bucket = b.bucket AND a.vec_id < b.vec_id""".stripMargin),
      Step(perShard = false,
        "CREATE OR REPLACE TEMP TABLE __cos_emb (a_id BIGINT, b_id BIGINT, c DOUBLE)"),
      Step(perShard = true,
        """INSERT INTO __cos_emb
          |WITH pr AS (SELECT a_id, b_id FROM __pairs_emb
          |            WHERE (a_id + b_id) % __NSHARDS__ = __SHARD__),
          |fl AS (SELECT a_id, b_id,
          |              CAST(unnest(ea.embedding) AS DOUBLE) AS av,
          |              CAST(unnest(eb.embedding) AS DOUBLE) AS bv
          |       FROM pr JOIN embeddings ea ON ea.vec_id = a_id
          |               JOIN embeddings eb ON eb.vec_id = b_id)
          |SELECT a_id, b_id,
          |       sum(av * bv) / nullif(sqrt(sum(av * av)) * sqrt(sum(bv * bv)), 0) AS c
          |FROM fl GROUP BY a_id, b_id""".stripMargin),
      Step(perShard = false,
        """SELECT a_id, b_id, round(c + 1e-7, 4) AS cosine
          |FROM __cos_emb WHERE c >= 0.4 ORDER BY a_id, b_id""".stripMargin))
  }

  /** Bigram-LM scoring: per-doc (doc, bigram, tf) is doc-decomposable —
    * accumulate it per shard (the only token-grain unnest), then derive
    * the model and scores from the compact tf table. */
  private val ngramLm: Seq[Step] = Seq(
    Step(perShard = false,
      "CREATE OR REPLACE TEMP TABLE __tf_lm (doc_id BIGINT, b VARCHAR, tf BIGINT)"),
    Step(perShard = true,
      """INSERT INTO __tf_lm
        |WITH tok AS (SELECT doc_id, list_filter(string_split(lower(text),' '), x -> x <> '') AS ltoks
        |             FROM (SELECT * FROM documents WHERE doc_id % __NSHARDS__ = __SHARD__)),
        |bg AS (SELECT doc_id, unnest(list_transform(range(len(ltoks)-1),
        |        i -> ltoks[i+1]||chr(1)||ltoks[i+2])) AS b FROM tok)
        |SELECT doc_id, b, CAST(count(*) AS BIGINT) FROM bg GROUP BY 1, 2""".stripMargin),
    Step(perShard = false,
      """WITH bc AS (SELECT b, CAST(sum(tf) AS BIGINT) AS bc FROM __tf_lm GROUP BY 1),
        |c1 AS (SELECT string_split(b, chr(1))[1] AS w1,
        |              CAST(sum(bc) AS BIGINT) AS c1 FROM bc GROUP BY 1)
        |SELECT t.doc_id, CAST(sum(t.tf) AS BIGINT) AS n_bigrams,
        |  round(sum(t.tf * -ln(CAST(bc.bc AS DOUBLE)/c1.c1)) / sum(t.tf)
        |        + 1e-7, 4) AS cross_entropy
        |FROM __tf_lm t JOIN bc USING (b)
        |  JOIN c1 ON string_split(t.b, chr(1))[1] = c1.w1
        |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin))

  /** Substring windows: the window-digest emission is doc-decomposable;
    * the global self-count runs on the accumulated digest table. */
  private val substringDedup: Seq[Step] = Seq(
    Step(perShard = false,
      "CREATE OR REPLACE TEMP TABLE __win_sub (doc_id BIGINT, h VARCHAR)"),
    Step(perShard = true,
      """INSERT INTO __win_sub
        |WITH tok AS (SELECT doc_id, list_filter(string_split(lower(text),' '), x -> x <> '') AS ltoks
        |             FROM (SELECT * FROM documents WHERE doc_id % __NSHARDS__ = __SHARD__))
        |SELECT doc_id, unnest(list_transform(range(len(ltoks)-7),
        |        i -> md5(array_to_string(ltoks[i+1:i+8], ' ')))) FROM tok""".stripMargin),
    Step(perShard = false,
      """WITH cnt AS (SELECT h, count(*) AS c FROM __win_sub GROUP BY 1)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
        |  CAST(sum(CASE WHEN cnt.c>1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup_windows,
        |  round(CAST(sum(CASE WHEN cnt.c>1 THEN 1 ELSE 0 END) AS DOUBLE)
        |        / count(*) + 1e-7, 4) AS dup_ratio
        |FROM __win_sub JOIN cnt USING (h)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  /** Window-remove rewrite: windows accumulate per shard into a compact
    * (doc, pos, digest) table; the first-occurrence window function and
    * the covered-position expansion run corpus-wide over that table
    * (window volume, no text); the surviving-text reassembly is
    * doc-decomposable again — per shard, tokens anti-join the covered
    * set and string_agg back, so the live per-token unnest never exceeds
    * one shard. */
  private val windowRemove: Seq[Step] = Seq(
    Step(perShard = false,
      "CREATE OR REPLACE TEMP TABLE __win_rm (doc_id BIGINT, pos BIGINT, h VARCHAR)"),
    Step(perShard = true,
      """INSERT INTO __win_rm
        |WITH tok AS (SELECT doc_id, list_filter(string_split(lower(text),' '), x -> x <> '') AS ltoks
        |             FROM (SELECT * FROM documents WHERE doc_id % __NSHARDS__ = __SHARD__))
        |SELECT doc_id,
        |  unnest(range(greatest(len(ltoks)-7,0))),
        |  unnest(list_transform(range(greatest(len(ltoks)-7,0)),
        |         i -> md5(array_to_string(ltoks[i+1:i+8], ' '))))
        |FROM tok""".stripMargin),
    Step(perShard = false,
      """CREATE OR REPLACE TEMP TABLE __cov_rm AS
        |SELECT DISTINCT doc_id, pos + j AS cp FROM (
        |  SELECT doc_id, pos FROM (
        |    SELECT doc_id, pos, row_number() OVER (PARTITION BY h
        |      ORDER BY doc_id, pos) AS rn FROM __win_rm) WHERE rn > 1),
        |  unnest(range(8)) AS u(j)""".stripMargin),
    Step(perShard = false, "DROP TABLE __win_rm"),
    Step(perShard = false,
      """CREATE OR REPLACE TEMP TABLE __out_rm
        |  (doc_id BIGINT, n_tokens BIGINT, n_removed BIGINT, text_digest VARCHAR)""".stripMargin),
    Step(perShard = true,
      """INSERT INTO __out_rm
        |WITH tok AS (SELECT doc_id, list_filter(string_split(lower(text),' '), x -> x <> '') AS ltoks
        |             FROM (SELECT * FROM documents WHERE doc_id % __NSHARDS__ = __SHARD__)),
        |ptok AS (SELECT doc_id, unnest(ltoks) AS tk,
        |         generate_subscripts(ltoks, 1) - 1 AS p FROM tok),
        |surv AS (SELECT p.doc_id, p.tk, p.p FROM ptok p
        |         ANTI JOIN __cov_rm c ON p.doc_id = c.doc_id AND p.p = c.cp)
        |SELECT t.doc_id, CAST(len(t.ltoks) AS BIGINT),
        |  CAST(len(t.ltoks) - coalesce(s.n_kept, 0) AS BIGINT),
        |  md5(coalesce(s.txt, ''))
        |FROM tok t LEFT JOIN (
        |  SELECT doc_id, count(*) AS n_kept,
        |         string_agg(tk, ' ' ORDER BY p) AS txt
        |  FROM surv GROUP BY doc_id) s USING (doc_id)""".stripMargin),
    Step(perShard = false, "SELECT * FROM __out_rm ORDER BY doc_id"))

  /** Span dedup: chunk emission is doc-decomposable — accumulate the
    * (doc, chunk, idx) table per shard so the only corpus-wide stages are
    * the first-occurrence window and the per-doc reassembly, both over
    * the compact temp table instead of a live 46M-row unnest pipeline. */
  private val spanDedup: Seq[Step] = Seq(
    Step(perShard = false,
      "CREATE OR REPLACE TEMP TABLE __ch_span (doc_id BIGINT, chunk VARCHAR, chunk_idx BIGINT)"),
    Step(perShard = true,
      """INSERT INTO __ch_span
        |WITH tok AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS toks
        |             FROM (SELECT * FROM documents WHERE doc_id % __NSHARDS__ = __SHARD__)),
        |ch0 AS (SELECT doc_id,
        |  list_transform(range(CAST(ceil(len(toks)/2.0) AS BIGINT)),
        |                 i -> array_to_string(toks[i*2+1:i*2+2], ' ')) AS chunks
        |  FROM tok)
        |SELECT doc_id, unnest(chunks), generate_subscripts(chunks, 1)
        |FROM ch0""".stripMargin),
    Step(perShard = false,
      """WITH k AS (SELECT *, row_number() OVER (PARTITION BY chunk
        |        ORDER BY doc_id, chunk_idx) AS rn FROM __ch_span)
        |SELECT doc_id,
        |  CAST(count(*) AS INT) AS n_chunks,
        |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS INT) AS n_kept,
        |  coalesce(string_agg(CASE WHEN rn = 1 THEN chunk END, ' '
        |                      ORDER BY chunk_idx), '') AS text_dedup
        |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  /** PageRank: materialize edges once (pair expansion sharded by order),
    * then each of the 5 iterations is one compact temp table — the
    * chained-CTE single statement would re-derive or hold every
    * iteration's intermediate at a ~1e8-edge sf10 graph. */
  private val pageRank: Seq[Step] = {
    def iter(k: Int) = Step(perShard = false,
      s"""CREATE OR REPLACE TEMP TABLE __pr_$k AS
         |SELECT deg.src AS node,
         |       (SELECT (1 - 0.85)/n FROM __n_pr) + 0.85 * coalesce(s.c, 0) AS pr
         |FROM __deg_pr deg LEFT JOIN (
         |  SELECT e.dst AS node, sum(p.pr / d2.outdeg) AS c
         |  FROM __edges_pr e JOIN __pr_${k - 1} p ON e.src = p.node
         |    JOIN __deg_pr d2 ON e.src = d2.src
         |  GROUP BY e.dst) s ON deg.src = s.node""".stripMargin)
    Seq(
      Step(perShard = false,
        """CREATE OR REPLACE TEMP TABLE __items_pr AS
          |SELECT DISTINCT l_orderkey, l_partkey FROM lineitem""".stripMargin),
      Step(perShard = false,
        "CREATE OR REPLACE TEMP TABLE __eraw_pr (src BIGINT, dst BIGINT)"),
      Step(perShard = true,
        """INSERT INTO __eraw_pr
          |SELECT DISTINCT a.l_partkey, b.l_partkey
          |FROM (SELECT * FROM __items_pr
          |      WHERE l_orderkey % __NSHARDS__ = __SHARD__) a
          |JOIN __items_pr b ON a.l_orderkey = b.l_orderkey
          |               AND a.l_partkey <> b.l_partkey""".stripMargin),
      Step(perShard = false,
        """CREATE OR REPLACE TEMP TABLE __edges_pr AS
          |SELECT DISTINCT src, dst FROM __eraw_pr""".stripMargin),
      Step(perShard = false, "DROP TABLE __eraw_pr"),
      Step(perShard = false, "DROP TABLE __items_pr"),
      Step(perShard = false,
        """CREATE OR REPLACE TEMP TABLE __deg_pr AS
          |SELECT src, CAST(count(*) AS DOUBLE) AS outdeg
          |FROM __edges_pr GROUP BY 1""".stripMargin),
      Step(perShard = false,
        "CREATE OR REPLACE TEMP TABLE __n_pr AS SELECT CAST(count(*) AS DOUBLE) AS n FROM __deg_pr"),
      Step(perShard = false,
        """CREATE OR REPLACE TEMP TABLE __pr_0 AS
          |SELECT src AS node, (SELECT 1.0/n FROM __n_pr) AS pr FROM __deg_pr""".stripMargin)) ++
      (1 to 5).map(iter) :+
      Step(perShard = false,
        """SELECT node AS part_key,
          |       round(pr * (SELECT n FROM __n_pr) + 1e-7, 4) AS pr_scaled
          |FROM __pr_5 ORDER BY pr_scaled DESC, node LIMIT 20""".stripMargin)
  }

  /** SemDeDup: the committed single-statement oracle's k-means unrolled
    * over temp tables. The argmin uses the IDENTICAL squared-distance
    * lambda as the single-statement oracle (not `list_distance`, whose
    * sqrt is monotone but not injective in doubles — see the step
    * comment); the pair cosine keeps DuckDB's native `list_dot_product`
    * kernel but both sides now parity-round the cosine to 6 decimals
    * before the τ compare, so a summation-order ulp cannot flip a
    * keep/drop. Assignment and the within-cell pair join are the two
    * heavy stages — both sharded. */
  private val semDedup: Seq[Step] = {
    val seedOrd =
      "md5('graft-kmeans-init'||'|'||CAST(vec_id AS VARCHAR)), vec_id"
    // squared-distance argmin, EXACTLY the single-statement oracle's
    // expression — list_distance's sqrt is monotone but not injective in
    // IEEE doubles, so two distinct squared distances could collapse to
    // equal sqrts and flip the `, c.cell` tiebreak; the squared form is
    // provably identical to the non-staged recipe (and the engine)
    def assign(out: String, cents: String) = Step(perShard = true,
      s"""INSERT INTO $out
         |SELECT vec_id, cell FROM (
         |  SELECT e.vec_id, c.cell,
         |         row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |           list_sum(list_transform(list_zip(e.ed, c.cent),
         |             x -> (x[1]-x[2])*(x[1]-x[2]))), c.cell) AS rn
         |  FROM (SELECT * FROM __ed_sd WHERE vec_id % __NSHARDS__ = __SHARD__) e
         |  CROSS JOIN $cents c) WHERE rn = 1""".stripMargin)
    def mkAssign(out: String) = Step(perShard = false,
      s"CREATE OR REPLACE TEMP TABLE $out (vec_id BIGINT, cell INT)")
    def means(cIn: String, a: String, cOut: String) = Step(perShard = false,
      s"""CREATE OR REPLACE TEMP TABLE $cOut AS
         |WITH m AS (SELECT a.cell, f.pos, round(avg(f.v) + 1e-9, 6) AS m
         |           FROM $a a JOIN __fl_sd f USING (vec_id) GROUP BY 1, 2),
         |mc AS (SELECT cell, list(m ORDER BY pos) AS cent FROM m GROUP BY cell)
         |SELECT p.cell, coalesce(mc.cent, p.cent) AS cent
         |FROM $cIn p LEFT JOIN mc ON p.cell = mc.cell""".stripMargin)
    Seq(
      Step(perShard = false,
        """CREATE OR REPLACE TEMP TABLE __nk_sd AS
          |SELECT least(65536, greatest(4,
          |  CAST(round(sqrt(count(*)), 0) AS INT))) AS k FROM embeddings""".stripMargin),
      Step(perShard = false,
        """CREATE OR REPLACE TEMP TABLE __ed_sd AS
          |SELECT vec_id, list_transform(embedding,
          |  v -> CAST(v AS DOUBLE)) AS ed FROM embeddings""".stripMargin),
      Step(perShard = false,
        "CREATE OR REPLACE TEMP TABLE __fl_sd (vec_id BIGINT, pos BIGINT, v DOUBLE)"),
      Step(perShard = true,
        """INSERT INTO __fl_sd
          |SELECT vec_id, generate_subscripts(embedding, 1),
          |       CAST(unnest(embedding) AS DOUBLE)
          |FROM (SELECT * FROM embeddings
          |      WHERE vec_id % __NSHARDS__ = __SHARD__)""".stripMargin),
      Step(perShard = false,
        s"""CREATE OR REPLACE TEMP TABLE __c0_sd AS
           |SELECT CAST(row_number() OVER (ORDER BY $seedOrd) - 1 AS INT)
           |         AS cell, ed AS cent
           |FROM __ed_sd
           |QUALIFY row_number() OVER (ORDER BY $seedOrd)
           |        <= (SELECT k FROM __nk_sd)""".stripMargin),
      mkAssign("__a1_sd"), assign("__a1_sd", "__c0_sd"),
      means("__c0_sd", "__a1_sd", "__c1_sd"),
      mkAssign("__a2_sd"), assign("__a2_sd", "__c1_sd"),
      means("__c1_sd", "__a2_sd", "__c2_sd"),
      mkAssign("__af_sd"), assign("__af_sd", "__c2_sd"),
      Step(perShard = false,
        "CREATE OR REPLACE TEMP TABLE __drop_sd (b_id BIGINT)"),
      Step(perShard = true,
        """INSERT INTO __drop_sd
          |SELECT DISTINCT b.vec_id
          |FROM __af_sd a JOIN __af_sd b
          |  ON a.cell = b.cell AND a.vec_id < b.vec_id
          | AND b.vec_id % __NSHARDS__ = __SHARD__
          |JOIN __ed_sd ea ON ea.vec_id = a.vec_id
          |JOIN __ed_sd eb ON eb.vec_id = b.vec_id
          |WHERE round(list_dot_product(ea.ed, eb.ed)
          |      / nullif(sqrt(list_dot_product(ea.ed, ea.ed))
          |             * sqrt(list_dot_product(eb.ed, eb.ed)), 0)
          |      + 1e-9, 6) >= 0.4""".stripMargin),
      Step(perShard = false,
        """SELECT a.vec_id, a.cell,
          |       CASE WHEN d.b_id IS NULL THEN 1 ELSE 0 END AS kept
          |FROM __af_sd a LEFT JOIN (SELECT DISTINCT b_id FROM __drop_sd) d
          |  ON a.vec_id = d.b_id
          |ORDER BY a.vec_id""".stripMargin))
  }

  /** Quality classifier: the feature projection is doc-decomposable —
    * accumulate it per shard, then run the 10 single-row GD weight steps
    * and the final scoring off the compact numeric temp table (the
    * single-statement oracle would re-inline the token-lambda feature
    * CTE once per step). */
  private val qualityClassifier: Seq[Step] = {
    val xs = Seq("x1", "x2", "x3", "x4", "x5", "x6")
    val ws = Seq("w1", "w2", "w3", "w4", "w5", "w6")
    def margin(p: String) =
      xs.zip(ws).map { case (x, w) => s"$p.$w*f.$x" }.mkString(" + ")
    def step(k: Int) = Step(perShard = false,
      s"""CREATE OR REPLACE TEMP TABLE __s${k}_qc AS
         |SELECT ${xs.zip(ws).map { case (x, w) =>
        s"""w.$w + (1.0/(SELECT n FROM __n_qc)) *
           |    sum((f.y - 1/(1+exp(-(${margin("w")})))) * f.$x) AS $w"""
          .stripMargin }.mkString(",\n  ")}
         |FROM __feat_qc f CROSS JOIN __s${k - 1}_qc w
         |GROUP BY ${ws.map(w => s"w.$w").mkString(", ")}""".stripMargin)
    Seq(
      Step(perShard = false,
        """CREATE OR REPLACE TEMP TABLE __feat_qc (doc_id BIGINT, y INT,
          |  x1 DOUBLE, x2 DOUBLE, x3 DOUBLE, x4 DOUBLE, x5 DOUBLE,
          |  x6 DOUBLE)""".stripMargin),
      Step(perShard = true,
        """INSERT INTO __feat_qc
          |WITH tok AS (SELECT doc_id, lang, text,
          |  list_filter(string_split(lower(text),' '), x -> x <> '') AS ltoks,
          |  list_filter(string_split(text,' '), x -> x <> '') AS toks
          |  FROM (SELECT * FROM documents WHERE doc_id % __NSHARDS__ = __SHARD__))
          |SELECT doc_id, CAST(lang = 'en' AS INT),
          |  least(len(ltoks)/100.0, 2.0),
          |  coalesce(CAST(len(list_distinct(ltoks)) AS DOUBLE)
          |           / nullif(len(ltoks), 0), 0.0),
          |  coalesce(CAST(length(text) - length(regexp_replace(text,'[[:punct:]]','','g')) AS DOUBLE)
          |           / nullif(length(text), 0), 0.0),
          |  coalesce(CAST(len(list_filter(ltoks, t -> list_contains(
          |      ['the','a','of','and','to','in','is','it','that','for'], t))) AS DOUBLE)
          |           / nullif(len(ltoks), 0), 0.0),
          |  coalesce(CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
          |           / nullif(len(toks), 0) / 10.0, 0.0),
          |  1.0
          |FROM tok""".stripMargin),
      Step(perShard = false,
        "CREATE OR REPLACE TEMP TABLE __n_qc AS SELECT CAST(count(*) AS DOUBLE) AS n FROM __feat_qc"),
      Step(perShard = false,
        s"CREATE OR REPLACE TEMP TABLE __s0_qc AS SELECT ${ws.map(w => s"0.0 AS $w").mkString(", ")}")) ++
      (1 to 10).map(step) :+
      Step(perShard = false,
        s"""SELECT f.doc_id, f.y,
           |       round(1/(1+exp(-(${margin("w")}))) + 1e-7, 4) AS score
           |FROM __feat_qc f CROSS JOIN __s10_qc w
           |ORDER BY f.doc_id""".stripMargin)
  }

  lazy val all: Map[String, Seq[Step]] = Map(
    "x_quality_classifier" -> qualityClassifier,
    "x_text_features" -> docSharded("x_text_features"),
    "x_token_entropy" -> docSharded("x_token_entropy"),
    // per-token 64-bit-vote unnest (tokens × 64 rows): OOMs a single
    // DuckDB statement at sf10 even solo at a 110 GB limit (r14) — but
    // each simhash depends only on its own document, so shard exactly
    "x_dedup_simhash" -> docSharded("x_dedup_simhash"),
    "x_text_tfidf" -> tfidf,
    "x_dedup_lsh_pairs" -> lshPairs,
    "x_emb_neardup" -> embNearDup,
    "x_ngram_lm_score" -> ngramLm,
    "x_span_dedup" -> spanDedup,
    "x_substring_dedup" -> substringDedup,
    // identical recipe: the bloom path's contract is exact-path output
    "x_substring_dedup_bloom" -> substringDedup,
    "x_window_dedup_remove" -> windowRemove,
    "x_pagerank" -> pageRank,
    "x_semdedup" -> semDedup)
}
