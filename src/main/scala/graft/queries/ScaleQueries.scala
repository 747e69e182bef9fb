package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.core.Tables
import graft.etl.Skew
import graft.ext.Dedup
import graft.functions.BloomOps

/** Scale-path operators: bloom-filter join pruning, near-dup clustering
  * (connected components), and mergeable HLL distinct-count sketches —
  * the shapes that matter at 100 TB (prune before shuffling, never
  * all-pairs, pre-aggregate then merge).
  */
object ScaleQueries {

  private def t(s: org.apache.spark.sql.SparkSession, d: String, n: String) =
    Tables.load(s, d, n)

  /** Year-partitioned copy of `orders` (the reference's year×department
    * access pattern, `005_create_datamarts.sql:41`): the partition-pruning
    * demos need a real partitioned directory layout, which the flat
    * testdata parquet doesn't have. Written once per (JVM, sf dir) into
    * the JVM temp dir — `_SUCCESS` marks a completed write, so repeat
    * calls (Bench iterations) only pay the read. */
  private[graft] def partitionedOrders(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_dpp_${new java.io.File(d).getCanonicalFile.getName}/orders_by_year")
    this.synchronized {
      if (!new java.io.File(dir, "_SUCCESS").exists())
        graft.etl.Etl.writePartitioned(
          t(s, d, "orders")
            .withColumn("annee", year(col("o_orderdate")).cast("int")),
          dir.toString, "annee")
    }
    Tables.readParquet(s, Seq(dir.toString))
  }

  val all: Seq[Q] = Seq(

    // Dynamic partition pruning — the 100×-critical Catalyst behavior for
    // the reference's year-sliced access pattern: the fact is partitioned
    // by year, and the selective filter lives on a DIM ATTRIBUTE
    // (n_orders, a per-year aggregate) that no static rule can translate
    // into a partition predicate — only the runtime broadcast of the
    // filtered dim can prune. At 100 TB this is "scan 1 year, not 7".
    // The dim is year-grained (bounded at ANY scale factor), so the
    // broadcast is justified; PlanAuditSpec asserts the scan carries a
    // dynamicpruning filter and reads fewer partitions than exist.
    Q("j_dpp_prune",
      """WITH dim AS (SELECT CAST(year(o_orderdate) AS INT) AS annee,
        |                    count(*) AS n_orders
        |             FROM orders GROUP BY 1),
        |small AS (SELECT annee
        |          FROM (SELECT annee, n_orders,
        |                       sum(n_orders) OVER () AS tot FROM dim)
        |          WHERE n_orders < 0.1 * tot),
        |o AS (SELECT CAST(year(o_orderdate) AS INT) AS annee, o_totalprice
        |      FROM orders)
        |SELECT annee, CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_price
        |FROM o JOIN small USING (annee)
        |GROUP BY annee ORDER BY annee""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val fact = partitionedOrders(s, d)
      val byYear = t(s, d, "orders")
        .groupBy(year(col("o_orderdate")).cast("int").as("annee"))
        .agg(count(lit(1)).as("n_orders"))
      // runtime-only selectivity: partial years (< 10% of all orders).
      // The share is relative (same years at every SF) and computed with
      // a whole-frame window over the YEAR-GRAIN aggregate (7 rows — a
      // single-partition window is fine at any SF) so the threshold stays
      // a real Filter node: Catalyst's PartitionPruning rule looks for a
      // selective Filter on the dim side, and a predicate absorbed into a
      // join condition would not qualify.
      val small = byYear
        .withColumn("tot", sum("n_orders").over(
          Window.partitionBy().rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing)))
        .filter(col("n_orders") < col("tot") * 0.1)
        .select("annee")
      fact.join(broadcast(small), Seq("annee"))
        .groupBy("annee")
        .agg(count(lit(1)).as("n_orders"),
          Fp.moneySum(col("o_totalprice")).as("total_price"))
        .orderBy("annee")
    },

    // Bloom-filter pre-filter before the exact join (Spark's runtime
    // filter made explicit). The oracle is the PLAIN join: bloom false
    // positives are removed by the exact join, so results are identical —
    // which is exactly the property worth verifying.
    Q("j_bloom_prune",
      """SELECT o_orderpriority,
        |       CAST(count(*) AS BIGINT) AS n_items,
        |       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_totalprice > 400000
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      val hv = t(s, d, "orders").filter(col("o_totalprice") > 400000)
        .select("o_orderkey", "o_orderpriority")
      BloomOps.prefilter(t(s, d, "lineitem"), "l_orderkey", hv, "o_orderkey",
        expectedItems = 100000L)
        .join(hv, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
          Fp.moneySum(col("l_extendedprice")).as("revenue"))
        .orderBy("o_orderpriority")
    },

    // Near-dup clusters: LSH candidate pairs → connected components →
    // dedup groups (A~B, B~C land in one cluster even though (A,C) never
    // surfaced as a pair). Spark runs min-label propagation to the fix
    // point; the oracle reproduces it as a recursive-CTE transitive
    // closure over the same md5-derived candidate pairs (cluster_id = the
    // smallest reachable member id — identical by construction).
    Q("x_dedup_clusters", {
      val LTOKS = "list_filter(string_split(lower(text),' '), x -> x <> '')"
      val SHINGLES = "list_transform(range(len(ltoks)-2), " +
        "i -> ltoks[i+1]||' '||ltoks[i+2]||' '||ltoks[i+3])"
      def mh(src: String, seed: Int) =
        s"list_min(list_transform($src, t -> substr(md5('$seed:'||t),1,16)))"
      s"""WITH RECURSIVE tok AS (SELECT doc_id, $LTOKS AS ltoks FROM documents),
         |sh AS (SELECT doc_id, $SHINGLES AS shingles FROM tok WHERE len(ltoks) >= 3),
         |sig AS (SELECT doc_id, list_distinct(shingles) AS dsh,
         |  ${(0 until 8).map(i => mh("shingles", i) + s" AS mh$i").mkString(",\n  ")}
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
         |  JOIN sig sb ON sb.doc_id = b_id),
         |pairs AS (
         |  SELECT a_id, b_id FROM jac
         |  WHERE CAST(inter AS DOUBLE) / nullif(tot - inter, 0) >= 0.8),
         |edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
         |          UNION SELECT b_id, a_id FROM pairs),
         |reach AS (SELECT src, dst FROM edges
         |          UNION SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |labels AS (SELECT src AS id, least(src, min(dst)) AS cluster_id
         |           FROM reach GROUP BY src)
         |SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(max(id) AS BIGINT) AS max_doc
         |FROM labels GROUP BY cluster_id ORDER BY cluster_id""".stripMargin
    }) { (s, d) =>
      val pairs = Dedup.nearDupPairs(
        t(s, d, "documents"), "text", "doc_id").filter(col("jaccard") >= 0.8)
      Dedup.clusterPairs(pairs)
        .groupBy("cluster_id")
        .agg(count(lit(1)).as("n_docs"), max("id").as("max_doc"))
        .orderBy("cluster_id")
    },

    // Incremental cluster maintenance: the corpus is clustered once
    // (docs with doc_id % 7 != 0), then one ingest batch (% 7 == 0)
    // folds in through contract→cluster→expand — the corpus never
    // re-clusters (two broadcast-join scans, zero corpus shuffles). The
    // oracle knows nothing about the split: it re-clusters old∪new FROM
    // SCRATCH (same recursive-CTE transitive closure as
    // x_dedup_clusters, singletons included), so a green row PROVES
    // incremental ≡ batch. Output = cluster-size histogram with id-sum
    // checksums (bounded rows at any SF).
    Q("x_dedup_clusters_incr", {
      val LTOKS = "list_filter(string_split(lower(text),' '), x -> x <> '')"
      val SHINGLES = "list_transform(range(len(ltoks)-2), " +
        "i -> ltoks[i+1]||' '||ltoks[i+2]||' '||ltoks[i+3])"
      def mh(src: String, seed: Int) =
        s"list_min(list_transform($src, t -> substr(md5('$seed:'||t),1,16)))"
      s"""WITH RECURSIVE tok AS (SELECT doc_id, $LTOKS AS ltoks FROM documents),
         |sh AS (SELECT doc_id, $SHINGLES AS shingles FROM tok WHERE len(ltoks) >= 3),
         |sig AS (SELECT doc_id, list_distinct(shingles) AS dsh,
         |  ${(0 until 8).map(i => mh("shingles", i) + s" AS mh$i").mkString(",\n  ")}
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
         |  JOIN sig sb ON sb.doc_id = b_id),
         |pairs AS (
         |  SELECT a_id, b_id FROM jac
         |  WHERE CAST(inter AS DOUBLE) / nullif(tot - inter, 0) >= 0.8),
         |edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
         |          UNION SELECT b_id, a_id FROM pairs),
         |reach AS (SELECT src, dst FROM edges
         |          UNION SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |labels AS (SELECT src AS id, least(src, min(dst)) AS cluster_id
         |           FROM reach GROUP BY src),
         |full_l AS (SELECT d.doc_id AS id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
         |           FROM documents d LEFT JOIN labels l ON l.id = d.doc_id),
         |cl AS (SELECT cluster_id, count(*) AS n, max(id) AS mx
         |       FROM full_l GROUP BY cluster_id)
         |SELECT CAST(n AS BIGINT) AS n_docs,
         |       CAST(count(*) AS BIGINT) AS n_clusters,
         |       CAST(sum(cluster_id) AS BIGINT) AS sum_cluster,
         |       CAST(sum(mx) AS BIGINT) AS sum_max_doc
         |FROM cl GROUP BY n ORDER BY n_docs""".stripMargin
    }) { (s, d) =>
      val all = t(s, d, "documents")
      val isNew = col("doc_id") % 7 === 0
      val old = all.filter(!isNew)
      val nw = all.filter(isNew)
      // deployment shape: the signature index is a STORED table
      // (signatureIndex scaladoc) — materialize the index ONCE and derive
      // every pass from it, so the corpus text runs the fused MinHashSig
      // scan exactly once (the first cut ran the old side three times:
      // pairs pass + the lazy index's two reads). r19: ONE signature scan
      // over the WHOLE corpus, split by filter afterwards — the signature
      // is a pure per-row expression, so filter-then-sign and
      // sign-then-filter are row-identical, and the old/new sides were
      // paying two separate text scans (guide §2.4, one pass not two);
      // the checkpoint is signature-grain, shared by both sides' reads
      val fullIdx = Dedup.signatureIndex(all, "text", "doc_id")
        .localCheckpoint()
      val oldIdx = fullIdx.filter(!isNew)
      val newIdx = fullIdx.filter(isNew)
      // the maintained table: converged old clustering + singletons
      val existing = old.select(col("doc_id").as("id"))
        .join(Dedup.clusterPairs(Dedup.nearDupPairsFromIndex(oldIdx, "doc_id")
          .filter(col("jaccard") >= 0.8)), Seq("id"), "left")
        .select(col("id"),
          coalesce(col("cluster_id"), col("id")).as("cluster_id"))
      // the batch's pairs: new×old via the signature index, new×new via
      // the batch-internal LSH pass — signatures are per-doc, so these
      // are exactly the batch pipeline's pairs that touch a new doc
      val crossPairs = Dedup
        .incrementalNearDupPairsFromIndex(newIdx, oldIdx, "doc_id")
        .filter(col("jaccard") >= 0.8)
        .select(col("new_id").as("a_id"), col("old_id").as("b_id"))
      val newNewPairs = Dedup.nearDupPairsFromIndex(newIdx, "doc_id")
        .filter(col("jaccard") >= 0.8).select("a_id", "b_id")
      Dedup.clusterPairsIncremental(existing,
          nw.select(col("doc_id").as("id")),
          crossPairs.unionByName(newNewPairs))
        .groupBy("cluster_id")
        .agg(count(lit(1)).as("n"), max("id").as("mx"))
        .groupBy(col("n").as("n_docs"))
        .agg(count(lit(1)).as("n_clusters"),
          sum("cluster_id").as("sum_cluster"),
          sum("mx").as("sum_max_doc"))
        .orderBy("n_docs")
    },

    // Leakage-safe train/val/test split: whole near-dup clusters (same
    // MinHash-LSH + connected-components machinery as x_dedup_clusters)
    // draw ONE md5 uniform, so no near-dup pair ever straddles the
    // train/eval boundary — the memorization-contamination guard every
    // curation pipeline needs. Singletons are their own cluster; the
    // split is a pure projection over the cluster assignment.
    Q("x_leak_safe_split", {
      val LTOKS = "list_filter(string_split(lower(text),' '), x -> x <> '')"
      val SHINGLES = "list_transform(range(len(ltoks)-2), " +
        "i -> ltoks[i+1]||' '||ltoks[i+2]||' '||ltoks[i+3])"
      def mh(src: String, seed: Int) =
        s"list_min(list_transform($src, t -> substr(md5('$seed:'||t),1,16)))"
      s"""WITH RECURSIVE tok AS (SELECT doc_id, $LTOKS AS ltoks FROM documents),
         |sh AS (SELECT doc_id, $SHINGLES AS shingles FROM tok WHERE len(ltoks) >= 3),
         |sig AS (SELECT doc_id, list_distinct(shingles) AS dsh,
         |  ${(0 until 8).map(i => mh("shingles", i) + s" AS mh$i").mkString(",\n  ")}
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
         |  JOIN sig sb ON sb.doc_id = b_id),
         |pairs AS (
         |  SELECT a_id, b_id FROM jac
         |  WHERE CAST(inter AS DOUBLE) / nullif(tot - inter, 0) >= 0.8),
         |edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
         |          UNION SELECT b_id, a_id FROM pairs),
         |reach AS (SELECT src, dst FROM edges
         |          UNION SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |labels AS (SELECT src AS id, least(src, min(dst)) AS cluster_id
         |           FROM reach GROUP BY src),
         |asg AS (SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
         |        FROM documents d LEFT JOIN labels l ON d.doc_id = l.id)
         |SELECT doc_id, cluster_id,
         |  CASE WHEN u < 0.8 THEN 'train'
         |       WHEN u < 0.9 THEN 'val' ELSE 'test' END AS split
         |FROM (SELECT doc_id, cluster_id,
         |        CAST(concat('0x', substr(md5('graft-split:'
         |          ||CAST(cluster_id AS VARCHAR)), 1, 8)) AS UBIGINT)
         |          / 4294967296.0 AS u
         |      FROM asg)
         |ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      graft.ext.Curation.leakSafeSplit(
        t(s, d, "documents"), "text", "doc_id").orderBy("doc_id")
    },

    // The COMPOSED end-to-end LLM training-data pipeline under one
    // oracle: quality filter → ONE LSH/CC pair pass serving both
    // cluster-dedup (min-id survivor) and the leak-safe split →
    // benchmark decontamination → context chunking → deterministic
    // shuffle order → per-(split, lang) token-budget shard packing.
    // Every stage is an already-oracle-proven operator (x_curation_filter,
    // x_dedup_clusters, x_contamination, x_leak_safe_split, x_chunk,
    // x_train_shuffle, x_shard_pack); what THIS query certifies is their
    // composition — the surviving (doc, split, shard) assignment the
    // training run would actually consume.
    Q("x_pipeline_e2e", {
      val TOKS = "list_filter(string_split(text,' '), x -> x <> '')"
      val LTOKS = "list_filter(string_split(lower(text),' '), x -> x <> '')"
      val SHINGLES = "list_transform(range(len(ltoks)-2), " +
        "i -> ltoks[i+1]||' '||ltoks[i+2]||' '||ltoks[i+3])"
      def mh(seed: Int) =
        s"list_min(list_transform(shingles, t -> substr(md5('$seed:'||t),1,16)))"
      s"""WITH RECURSIVE
         |corpus AS (SELECT doc_id, text, lang FROM documents WHERE doc_id % 17 <> 0),
         |bench AS (SELECT text FROM documents WHERE doc_id % 17 = 0),
         |qt AS (SELECT doc_id, text, lang, $TOKS AS toks FROM corpus),
         |feat AS (SELECT doc_id, text, lang, len(toks) AS nt,
         |    CAST(length(text) - length(regexp_replace(text,'[[:punct:]]','','g')) AS DOUBLE)
         |      / nullif(length(text),0) AS pr,
         |    CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
         |      / nullif(len(toks),0) AS mwl
         |  FROM qt),
         |kept AS (SELECT doc_id, text, lang FROM feat WHERE
         |  CASE WHEN nt < 20 THEN 'too_short'
         |       WHEN nt > 500 THEN 'too_long'
         |       WHEN pr > 0.1 THEN 'high_punct'
         |       WHEN mwl < 3.0 OR mwl > 9.0 THEN 'gibberish' END IS NULL),
         |tok AS (SELECT doc_id, $LTOKS AS ltoks FROM kept),
         |sh AS (SELECT doc_id, $SHINGLES AS shingles FROM tok WHERE len(ltoks) >= 3),
         |sig AS (SELECT doc_id, list_distinct(shingles) AS dsh,
         |  ${(0 until 8).map(i => mh(i) + s" AS mh$i").mkString(",\n  ")}
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
         |  JOIN sig sb ON sb.doc_id = b_id),
         |pairs AS (
         |  SELECT a_id, b_id FROM jac
         |  WHERE CAST(inter AS DOUBLE) / nullif(tot - inter, 0) >= 0.8),
         |edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
         |          UNION SELECT b_id, a_id FROM pairs),
         |reach AS (SELECT src, dst FROM edges
         |          UNION SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |labels AS (SELECT src AS id, least(src, min(dst)) AS cluster_id
         |           FROM reach GROUP BY src),
         |clust AS (SELECT k.doc_id, coalesce(l.cluster_id, k.doc_id) AS cluster_id
         |          FROM kept k LEFT JOIN labels l ON k.doc_id = l.id),
         |dedup AS (SELECT k.doc_id, k.text, k.lang FROM kept k
         |          JOIN clust c ON k.doc_id = c.doc_id AND c.doc_id = c.cluster_id),
         |bsh AS (SELECT DISTINCT unnest($SHINGLES) AS s
         |        FROM (SELECT $LTOKS AS ltoks FROM bench) WHERE len(ltoks) >= 3),
         |dds AS (SELECT d.doc_id, unnest(s.dsh) AS s
         |        FROM dedup d JOIN sig s ON d.doc_id = s.doc_id),
         |cont AS (SELECT doc_id FROM (
         |    SELECT d.doc_id, count(*) AS ns, count(b.s) AS nc
         |    FROM dds d LEFT JOIN bsh b ON d.s = b.s GROUP BY 1)
         |  WHERE CAST(nc AS DOUBLE) / ns > 0.5),
         |clean AS (SELECT * FROM dedup WHERE doc_id NOT IN (SELECT doc_id FROM cont)),
         |splits AS (SELECT doc_id,
         |    CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val' ELSE 'test' END AS split
         |  FROM (SELECT cl.doc_id,
         |          CAST(concat('0x', substr(md5('graft-split:'
         |            ||CAST(cl.cluster_id AS VARCHAR)), 1, 8)) AS UBIGINT)
         |            / 4294967296.0 AS u
         |        FROM clust cl JOIN clean USING (doc_id))),
         |ctok AS (SELECT c.doc_id, c.lang, s.split, $TOKS AS toks
         |         FROM clean c JOIN splits s USING (doc_id)),
         |cch AS (SELECT doc_id, lang, split, toks,
         |          greatest(1, CAST(ceil((len(toks) - 8) * 1.0 / 24) AS INT)) AS nch
         |        FROM ctok),
         |cx AS (SELECT doc_id, lang, split, toks, unnest(range(nch)) AS i FROM cch),
         |chunks AS (SELECT doc_id, lang, split, CAST(i AS INT) AS chunk_idx,
         |             CAST(least(32, len(toks) - i * 24) AS INT) AS n_chunk_tokens
         |           FROM cx),
         |keyed AS (SELECT *, md5('ep1:' || CAST(doc_id AS VARCHAR) || '_'
         |            || CAST(chunk_idx AS VARCHAR)) AS skey FROM chunks),
         |packed AS (SELECT *, sum(n_chunk_tokens) OVER (
         |             PARTITION BY split, lang ORDER BY skey
         |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |           FROM keyed)
         |SELECT doc_id, chunk_idx, lang, split, n_chunk_tokens,
         |       CAST(floor((cum - n_chunk_tokens) / 1000.0) AS INT) AS shard_id
         |FROM packed ORDER BY doc_id, chunk_idx""".stripMargin
    }) { (s, d) =>
      import graft.ext.Curation
      val all = t(s, d, "documents").select("doc_id", "text", "lang")
      val benchmark = all.filter(col("doc_id") % 17 === 0)
      val corpus = graft.core.Tables.spread(all.filter(col("doc_id") % 17 =!= 0))
      // NOT persisted (r19, measured): caching the filtered corpus here
      // looks like the obvious §5 move (five downstream consumers re-run
      // the regex-heavy quality filter), but the isolated A/B came out
      // 5.7 → 21.6 s — the InMemoryRelation's known-small stats flip the
      // downstream join planning and the cache write itself serializes
      // the text column. The recomputed filter is cheaper; leave lazy.
      val kept = Curation.qualityFilter(corpus, "text")
        .filter(col(Curation.KeepCol))
        .select("doc_id", "text", "lang")
      // ONE pair/cluster pass serves near-dedup AND the leak-safe split
      val pairs = Dedup.nearDupPairs(kept, "text", "doc_id")
        .filter(col("jaccard") >= 0.8)
      val clusters = Dedup.clusterPairs(pairs).localCheckpoint()
      val deduped = kept.join(
        clusters.filter(col("id") =!= col("cluster_id"))
          .select(col("id").as("doc_id")),
        Seq("doc_id"), "left_anti")
      val contaminated = Curation.contamination(
          deduped, "text", "doc_id", benchmark, "text")
        .filter(col("contamination") > 0.5).select("doc_id")
      val clean = deduped.join(contaminated, Seq("doc_id"), "left_anti")
      val split = Curation.leakSafeSplitClustered(clean, "doc_id", clusters)
        .select(col("doc_id"), col("split"))
      val chunks = Curation.chunk(clean.join(split, "doc_id"), "text",
        chunkTokens = 32, overlap = 8)
      // project the chunk/doc text away BEFORE packing: packShards
      // carries (and its default mode materializes) every input column,
      // and only these six ride into the output
      val keyed = chunks.withColumn("__key", Curation.shuffleKey(
        concat(col("doc_id").cast("string"), lit("_"),
          col("chunk_idx").cast("string")), "ep1"))
        .select("doc_id", "chunk_idx", "lang", "split", "n_chunk_tokens",
          "__key")
      Curation.packShards(keyed, "n_chunk_tokens", "__key",
          budget = 1000L, partitionCols = Seq("split", "lang"))
        .select(col("doc_id"), col("chunk_idx"), col("lang"), col("split"),
          col("n_chunk_tokens"), col("shard_id"))
        .orderBy("doc_id", "chunk_idx")
    },

    // Salted two-phase aggregation: l_returnflag has 3 values over the
    // whole fact table — the extreme-skew groupBy shape. Phase 1 splits
    // each key across corpus-derived salts (autoSalts: a FIXED salt
    // count would hand each (key, salt) task 10× the rows at 10× data),
    // phase 2 merges partials; the oracle is the PLAIN aggregation
    // because salting is semantics-preserving (that equivalence is the
    // property under test). Decimal money sums make the two-phase total
    // exactly order-independent.
    Q("a_salted_agg",
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      val li = t(s, d, "lineitem")
      // ~1/3 of rows per flag: pass the observed heavy-key share
      val salts = Skew.autoSalts(graft.core.RowCounts.hint(li),
        heavyKeyShare = 0.5, minSalts = 16)
      Skew.saltedAgg(li, Seq("l_returnflag"),
        det = col("l_orderkey"), salts = salts,
        aggs = Seq(count(lit(1)).as("__n"),
          sum(col("l_extendedprice").cast(DecimalType(18, 4))).as("__rev")),
        merges = Seq(sum("__n").as("n"),
          round(sum("__rev"), 2).cast("double").as("revenue")))
        .orderBy("l_returnflag")
    },

    // Salted replicate-join: the big side salts deterministically, the
    // 3-row dim replicates to every salt, the join runs on (key, salt) —
    // a heavy key fans across salts tasks instead of one straggler; the
    // salt count is corpus-derived (autoSalts). Oracle is the plain join
    // (identical output by construction).
    Q("j_salted_join",
      """WITH dim(flag, label) AS (VALUES ('A','accepted'),('N','neutral'),('R','returned'))
        |SELECT label, CAST(count(*) AS BIGINT) AS n,
        |       CAST(round(sum(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS qty
        |FROM lineitem JOIN dim ON l_returnflag = flag
        |GROUP BY label ORDER BY label""".stripMargin) { (s, d) =>
      import s.implicits._
      val dim = Seq(("A", "accepted"), ("N", "neutral"), ("R", "returned"))
        .toDF("flag", "label")
      val li = t(s, d, "lineitem")
      val salts = Skew.autoSalts(graft.core.RowCounts.hint(li),
        heavyKeyShare = 0.5)
      Skew.saltedJoin(li, dim, "l_returnflag", "flag",
        det = col("l_orderkey"), salts = salts)
        .groupBy("label")
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity").cast(DecimalType(18, 4))), 2)
            .cast("double").as("qty"))
        .orderBy("label")
    },

    // Data profiling (reference pandas-describe / test_dwh integrity
    // probes): per-column count/null/distinct/range/mean in ONE aggregate
    // job over all columns.
    Q("x_profile", {
      def one(c: String) =
        s"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n,
           |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  CAST(min($c) AS DOUBLE) AS mn, CAST(max($c) AS DOUBLE) AS mx,
           |  round(avg($c) + 1e-7, 4) AS mean
           |FROM lineitem""".stripMargin
      Seq("l_quantity", "l_extendedprice", "l_discount").map(one)
        .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    }) { (s, d) =>
      graft.ops.Profile.describe(t(s, d, "lineitem"),
          Seq("l_quantity", "l_extendedprice", "l_discount"),
          exactDistinct = true)
        .select(col("column").as("col_name"), col("n"), col("n_null"),
          col("n_distinct"), col("mn"), col("mx"),
          Fp.r(col("mean"), 4).as("mean"))
        .orderBy("col_name")
    },

    // Fixed-width histogram over portable bucket arithmetic (no
    // engine-specific width_bucket): quantity distribution in 10 bins.
    // DuckDB widens least/greatest over INT to BIGINT; the outer cast
    // keeps the oracle's bucket INTEGER like Profile.histogram's.
    Q("x_histogram",
      """SELECT CAST(least(9, greatest(0, CAST(floor((l_quantity - 1.0) / 50.0 * 10) AS INT))) AS INT) AS bucket,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM lineitem WHERE l_quantity IS NOT NULL
        |GROUP BY 1 ORDER BY bucket""".stripMargin) { (s, d) =>
      graft.ops.Profile.histogram(t(s, d, "lineitem"), "l_quantity",
          lo = 1.0, hi = 51.0, bins = 10)
        .orderBy("bucket")
    },

    // Mergeable distinct-count sketches (HLL): per-year customer sketches
    // estimated directly AND unioned into an all-time estimate WITHOUT
    // rescanning — at scale the per-partition sketches are tiny and the
    // union replaces a global countDistinct shuffle. Now FULLY oracle-
    // checked: DuckDB's HLL differs, so the output is the EXACT distinct
    // count per period plus `hll_within_2pct` = 1 iff the sketch estimate
    // (incl. the unioned ALL row) lands within ±2% of it (measured max
    // relative error 1.1% at sf0.01; the default lgConfigK=12 sketch is
    // specified to ~1.6% rsd).
    Q("a_hll_distinct",
      """SELECT CAST(year(o_orderdate) AS VARCHAR) AS period,
        |       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_exact,
        |       1 AS hll_within_2pct
        |FROM orders GROUP BY 1
        |UNION ALL
        |SELECT 'ALL', CAST(count(DISTINCT o_custkey) AS BIGINT), 1
        |FROM orders
        |ORDER BY period""".stripMargin) { (s, d) =>
      val perYear = t(s, d, "orders")
        .groupBy(year(col("o_orderdate")).as("y"))
        .agg(hll_sketch_agg(col("o_custkey")).as("sk"),
          countDistinct(col("o_custkey")).as("n_exact"))
      val flag = (approx: org.apache.spark.sql.Column,
          exact: org.apache.spark.sql.Column) =>
        when(abs(approx - exact) <= exact * 0.02, 1).otherwise(0)
      val yearly = perYear.select(col("y").cast("string").as("period"),
        col("n_exact"),
        flag(hll_sketch_estimate(col("sk")), col("n_exact"))
          .as("hll_within_2pct"))
      // the ALL row exercises the sketch MERGE path (union of per-year
      // sketches, no rescan) but its exactness check needs the true
      // all-time distinct, which no union of per-year EXACT counts can
      // give — one more aggregate over the table, composed LAZILY
      // (r18: the old first() here serialized a whole extra driver job
      // before the main plan; as a broadcast one-row cross join both
      // aggregates run inside one job, subtrees concurrent)
      val exactAll = broadcast(t(s, d, "orders")
        .agg(countDistinct(col("o_custkey")).as("__n_all")))
      val overall = perYear.agg(hll_union_agg(col("sk")).as("sk"))
        .crossJoin(exactAll)
        .select(lit("ALL").as("period"),
          col("__n_all").as("n_exact"),
          flag(hll_sketch_estimate(col("sk")), col("__n_all").cast("double"))
            .as("hll_within_2pct"))
      yearly.unionByName(overall).orderBy("period")
    },

    // Rolling 7-day distinct users: the sliding-window COUNT(DISTINCT)
    // that is unaffordable exactly at 100 TB (each day would rescan a
    // week of raw events) but cheap with per-day HLL sketches — ONE scan
    // builds a bounded sketch per day, a banded join against the day grid
    // replicates 7 sketch rows per day (sketches, not events), and the
    // union-merge estimates each window. Output rows are the EXACT
    // per-window counts (the oracle); `hll_within_5pct` certifies every
    // window's sketch estimate at once.
    Q("w_rolling_distinct",
      """WITH e AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
        |           FROM events),
        |g AS (SELECT DISTINCT day FROM e),
        |r AS (SELECT g.day, count(DISTINCT e.user_id) AS n
        |      FROM g JOIN e ON e.day BETWEEN g.day - 6 AND g.day
        |      GROUP BY 1)
        |SELECT CAST(day AS VARCHAR) AS day, CAST(n AS BIGINT) AS n_users_7d,
        |       1 AS hll_within_5pct
        |FROM r ORDER BY day""".stripMargin) { (s, d) =>
      val ev = t(s, d, "events")
        .select(to_date(col("ts")).as("day"), col("user_id"))
      val daily = ev.groupBy("day")
        .agg(hll_sketch_agg(col("user_id")).as("sk")).persist()
      val grid = daily.select(col("day").as("g"))
      // r18: the two collects (sketch estimates, exact counts) were two
      // driver-serialized jobs; joined in-plan they run as ONE job with
      // concurrent subtrees. The certificate flag is global (every
      // window within tolerance), so the joined day-grain frame
      // materializes once (bounded: one row per day) and a broadcast
      // one-row min() rides back on a cross join. The day sets match by
      // construction — both sides group by the same grid — so the inner
      // join drops nothing.
      val est = daily.join(broadcast(grid),
          col("day").between(date_add(col("g"), -6), col("g")))
        .groupBy("g")
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      val exact = ev.join(broadcast(grid),
          col("day").between(date_add(col("g"), -6), col("g")))
        .groupBy("g").agg(countDistinct(col("user_id")).as("n"))
      val joined = exact.join(est, "g").localCheckpoint()
      daily.unpersist()
      val okRow = when(abs(col("est").cast("double") - col("n")) <=
        greatest(lit(3.0), lit(0.05) * col("n")), 1).otherwise(0)
      val flag = broadcast(joined.agg(min(okRow).as("__ok")))
      joined.crossJoin(flag)
        .select(col("g").cast("string").as("day"),
          col("n").as("n_users_7d"), col("__ok").as("hll_within_5pct"))
        .orderBy("day")
    },
  )
}
