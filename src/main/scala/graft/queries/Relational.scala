package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Tables

/** Core relational operator inventory (SURVEY.md §2.1-§2.8) expressed over
  * the driver's TPC-H-ish testdata. Each entry demonstrates one operator
  * family from the reference, re-expressed Spark-first:
  * scans stay declarative so Catalyst pushes filters/pruning into the
  * parquet scan; small dimensions are broadcast; aggregations are single
  * `groupBy.agg` passes (map-side partial aggregation for free).
  */
object Relational {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  val all: Seq[Q] = Seq(

    // ----- S: scans / projection pruning [SURVEY §2.1 S1-S7] -----
    // Projection reaches the parquet scan (ReadSchema shows 2 columns).
    Q("s_scan_project",
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey") {
      (s, d) =>
        t(s, d, "region").select("r_regionkey", "r_name").orderBy("r_regionkey")
    },

    // ----- P: filters / predicates / derived columns [§2.2] -----
    // P5 predicate + A1 agg; filter is pushed down to the scan.
    Q("p_filter_pushdown",
      """SELECT l_returnflag,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem
        |WHERE l_quantity >= 30 AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_quantity") >= 30 &&
          col("l_shipdate") >= lit("1996-01-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"), round(sum("l_quantity"), 2).as("sum_qty"))
        .orderBy("l_returnflag")
    },

    // P2 regex extract (reference geo_id parse, data_preparation.ipynb#cell4)
    // + P3 try-cast coercion (pd.to_numeric(errors='coerce')).
    Q("p_regex_extract",
      """SELECT CAST(TRY_CAST(regexp_extract(props, '"k": (\d+)', 1) AS INT) % 10 AS INT) AS k_bucket,
        |       CAST(count(*) AS BIGINT) AS n,
        |       round(avg(value) + 1e-7, 4) AS avg_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      t(s, d, "events")
        .withColumn("k_bucket",
          (regexp_extract(col("props"), "\"k\": (\\d+)", 1).try_cast("int") % 10)
            .cast("int"))
        .groupBy("k_bucket")
        .agg(count(lit(1)).as("n"), Fp.r(avg("value"), 4).as("avg_value"))
        .orderBy("k_bucket")
    },

    // P4 zero-pad + case normalization (reference zfill(2)/lower, #cell4).
    Q("p_pad_case",
      """SELECT lpad(CAST(n_nationkey AS VARCHAR), 3, '0') AS nation_code,
        |       lower(n_name) AS nation_lc, upper(n_name) AS nation_uc
        |FROM nation ORDER BY nation_code""".stripMargin) { (s, d) =>
      t(s, d, "nation")
        .select(
          lpad(col("n_nationkey").cast("string"), 3, "0").as("nation_code"),
          lower(col("n_name")).as("nation_lc"),
          upper(col("n_name")).as("nation_uc"))
        .orderBy("nation_code")
    },

    // P8 dedup: distinct (reference drop_duplicates, #cell4).
    Q("p_distinct",
      "SELECT DISTINCT c_mktsegment FROM customer ORDER BY c_mktsegment") {
      (s, d) => t(s, d, "customer").select("c_mktsegment").distinct()
        .orderBy("c_mktsegment")
    },

    // P7 null-key rejection (reference dropna(subset=..), load_facts.py:155).
    Q("p_null_drop",
      """SELECT CAST(count(*) AS BIGINT) AS n_valid
        |FROM lineitem
        |WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL""".stripMargin) {
      (s, d) =>
        t(s, d, "lineitem").na.drop(Seq("l_orderkey", "l_partkey"))
          .agg(count(lit(1)).as("n_valid"))
    },

    // ----- J: joins [§2.3] -----
    // J1 star join: fact → 4 dims. Only the fixed-cardinality dims
    // (nation=25, region=5 — constant at any SF) carry an explicit
    // broadcast hint; customer scales with SF, so AQE's size check must
    // stay in charge of that join (a forced hint would OOM at 100×).
    Q("j_star_join",
      """SELECT r_name, CAST(year(o_orderdate) AS INT) AS o_year,
        |       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue,
        |       CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |GROUP BY r_name, o_year ORDER BY r_name, o_year""".stripMargin) { (s, d) =>
      t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), year(col("o_orderdate")).as("o_year"))
        .agg(
          Fp.moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("r_name", "o_year")
    },

    // Six-table snowflake (TPC-H Q5 shape): lineitem⋈orders⋈customer⋈
    // supplier with the co-nation constraint, nation/region as broadcast
    // dims (fixed-cardinality at ANY scale factor), a selective
    // date-range + region filter that Catalyst pushes to the scans. The
    // optimizer stress-case: two fact-fact shuffle joins whose order AQE
    // re-plans from runtime sizes, then one partial-aggregated groupBy.
    Q("j_snowflake_revenue",
      """SELECT n_name AS nation,
        |       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
        |                          AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue,
        |       CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |             AND c_nationkey = s_nationkey
        |JOIN nation   ON s_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |WHERE r_name = 'EUROPE'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate <  TIMESTAMP '1997-01-01'
        |GROUP BY 1 ORDER BY revenue DESC, nation""".stripMargin) { (s, d) =>
      t(s, d, "lineitem")
        .join(t(s, d, "orders")
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1997-01-01").cast("timestamp")),
          col("l_orderkey") === col("o_orderkey"))
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(t(s, d, "supplier"),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(t(s, d, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "EUROPE")
        .groupBy(col("n_name").as("nation"))
        .agg(
          Fp.moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("revenue").desc, col("nation"))
    },

    // Declarative quality gate: SIX expectations over orders evaluated in
    // ONE aggregate pass (each rule is an aggregate expression — 100 TB
    // pays one read for the whole gate) plus the FK orphan anti-join.
    // The report itself is the output — (check, metric, passed) rows.
    Q("p_quality_report",
      """WITH agg AS (
        |  SELECT count(*) AS n,
        |    CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |      / nullif(count(*), 0) AS null_frac,
        |    count(o_orderkey) - count(DISTINCT o_orderkey) AS dups,
        |    sum(CASE WHEN o_orderstatus IS NOT NULL
        |             AND o_orderstatus NOT IN ('O','F','P')
        |             THEN 1 ELSE 0 END) AS bad_status,
        |    sum(CASE WHEN o_totalprice IS NOT NULL
        |             AND (o_totalprice < 0 OR o_totalprice > 1e9)
        |             THEN 1 ELSE 0 END) AS bad_price
        |  FROM orders),
        |fk AS (SELECT count(*) AS orphans FROM orders o
        |       WHERE o_custkey IS NOT NULL
        |         AND NOT EXISTS (SELECT 1 FROM customer c
        |                         WHERE c.c_custkey = o.o_custkey))
        |SELECT "check", metric, passed FROM (
        |  SELECT 'accepted:o_orderstatus' AS "check",
        |         CAST(bad_status AS DOUBLE) AS metric,
        |         CASE WHEN bad_status = 0 THEN 1 ELSE 0 END AS passed FROM agg
        |  UNION ALL
        |  SELECT 'fk:o_custkey', CAST(orphans AS DOUBLE),
        |         CASE WHEN orphans = 0 THEN 1 ELSE 0 END FROM fk
        |  UNION ALL
        |  SELECT 'in_range:o_totalprice', CAST(bad_price AS DOUBLE),
        |         CASE WHEN bad_price = 0 THEN 1 ELSE 0 END FROM agg
        |  UNION ALL
        |  SELECT 'not_null:o_custkey', round(null_frac + 1e-7, 6),
        |         CASE WHEN null_frac <= 0.0 THEN 1 ELSE 0 END FROM agg
        |  UNION ALL
        |  SELECT 'row_count', CAST(n AS DOUBLE),
        |         CASE WHEN n >= 1 THEN 1 ELSE 0 END FROM agg
        |  UNION ALL
        |  SELECT 'unique:o_orderkey', CAST(dups AS DOUBLE),
        |         CASE WHEN dups = 0 THEN 1 ELSE 0 END FROM agg
        |) ORDER BY "check"""".stripMargin) { (s, d) =>
      import graft.ops.Quality
      val orders = t(s, d, "orders")
      Quality.report(orders, Seq(
          Quality.rowCount(min = 1),
          Quality.notNull("o_custkey"),
          Quality.unique(Seq("o_orderkey")),
          Quality.accepted("o_orderstatus", Seq("O", "F", "P")),
          Quality.inRange("o_totalprice", 0, 1e9)))
        .unionByName(Quality.fkIntegrity(orders, Seq("o_custkey"),
          t(s, d, "customer"), Seq("c_custkey")))
        .orderBy("check")
    },

    // Market-basket co-occurrence: top part-brand pairs appearing in the
    // same order. One shuffle to order grain builds each basket's
    // distinct brand set; pairs then expand as a pure projection
    // (a < b ordering halves them), so pair volume is
    // |orders|·basket_size², never corpus², and the pair aggregate
    // absorbs duplicates map-side.
    Q("j_cooccurrence",
      """WITH items AS (
        |  SELECT DISTINCT l.l_orderkey, p.p_brand
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
        |pairs AS (
        |  SELECT a.p_brand AS brand_a, b.p_brand AS brand_b
        |  FROM items a JOIN items b
        |    ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand)
        |SELECT brand_a, brand_b, CAST(count(*) AS BIGINT) AS n_orders
        |FROM pairs GROUP BY 1, 2
        |ORDER BY n_orders DESC, brand_a, brand_b LIMIT 15""".stripMargin) {
      (s, d) => coocBitmap(s, d)
    },

    // Order-independent table digest: the SUM of per-row md5 hashes mod
    // 2^62 (not xor — xor is multiplicity-insensitive, see
    // Quality.tableDigest) — two environments compare a 100 TB table by
    // exchanging one long (the cross-engine "is your copy identical"
    // primitive; this oracle row IS that comparison, DuckDB vs Spark).
    Q("s_table_digest",
      """WITH h AS (SELECT CAST(concat('0x', substr(md5(
        |    coalesce(CAST(length(CAST(c_custkey AS VARCHAR)) AS VARCHAR)
        |             || ':' || CAST(c_custkey AS VARCHAR), '_') || '|' ||
        |    coalesce(CAST(length(c_name) AS VARCHAR) || ':' || c_name, '_')
        |    || '|' ||
        |    coalesce(CAST(length(c_mktsegment) AS VARCHAR) || ':'
        |             || c_mktsegment, '_')), 1, 15)) AS BIGINT) AS rh
        |  FROM customer)
        |SELECT CAST(sum(rh) % 4611686018427387904 AS BIGINT) AS digest,
        |       CAST(count(*) AS BIGINT) AS n_rows
        |FROM h""".stripMargin) { (s, d) =>
      graft.ops.Quality.tableDigest(t(s, d, "customer"),
        Seq("c_custkey", "c_name", "c_mktsegment"))
    },

    // Partition-grain digests (incremental sync): per-segment sums of
    // per-row md5 hashes mod 2^62 — two table copies re-ship only the
    // groups whose digest drifted. One aggregate pass, digest per group.
    Q("s_partition_digest",
      """WITH h AS (SELECT c_mktsegment, CAST(concat('0x', substr(md5(
        |    coalesce(CAST(length(CAST(c_custkey AS VARCHAR)) AS VARCHAR)
        |             || ':' || CAST(c_custkey AS VARCHAR), '_') || '|' ||
        |    coalesce(CAST(length(c_name) AS VARCHAR) || ':' || c_name, '_')),
        |    1, 15)) AS BIGINT) AS rh
        |  FROM customer)
        |SELECT c_mktsegment,
        |       CAST(sum(rh) % 4611686018427387904 AS BIGINT) AS digest,
        |       CAST(count(*) AS BIGINT) AS n_rows
        |FROM h GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      graft.ops.Quality.groupDigest(t(s, d, "customer"),
        Seq("c_mktsegment"), Seq("c_custkey", "c_name"))
        .orderBy("c_mktsegment")
    },

    // Pareto / cumulative-share analysis: brands ranked by revenue with
    // running share of total; `in_top80` marks the head that covers 80%.
    // One aggregate to brand grain (map-side partials over the fact),
    // then windows over the BRAND-sized result — the fact table is never
    // window-sorted.
    Q("a_pareto",
      """WITH per AS (
        |  SELECT p.p_brand,
        |         CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))), 2)
        |              AS DOUBLE) AS revenue
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  GROUP BY 1),
        |w AS (
        |  SELECT p_brand, revenue,
        |    sum(revenue) OVER (ORDER BY revenue DESC, p_brand
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(revenue) OVER () AS total
        |  FROM per)
        |SELECT p_brand, revenue,
        |  round(cum / total + 1e-7, 4) AS cum_share,
        |  CASE WHEN round(cum / total + 1e-7, 4) <= 0.8 THEN 1 ELSE 0 END
        |    AS in_top80
        |FROM w ORDER BY revenue DESC, p_brand""".stripMargin) { (s, d) =>
      val per = t(s, d, "lineitem")
        .join(t(s, d, "part").select("p_partkey", "p_brand"),
          col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(Fp.moneySum(col("l_extendedprice")).as("revenue"))
      val ord = Window.orderBy(col("revenue").desc, col("p_brand"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val all = Window.partitionBy()
      val cumShare = Fp.r(sum("revenue").over(ord) /
        sum("revenue").over(all), 4)
      per.select(col("p_brand"), col("revenue"),
          cumShare.as("cum_share"),
          when(cumShare <= 0.8, 1).otherwise(0).as("in_top80"))
        .orderBy(col("revenue").desc, col("p_brand"))
    },

    // Typed-Aggregator UDAF surface (§2.11): quantity-weighted mean price
    // per return flag via the public Aggregator + udaf() API. Partial
    // aggregation works like any built-in — the shuffle moves one
    // (sum, weight) pair per group per task.
    Q("a_weighted_mean",
      """SELECT l_returnflag,
        |  round(CAST(sum(CAST(l_extendedprice * l_quantity AS DECIMAL(18,4)))
        |             AS DOUBLE)
        |        / CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
        |        + 1e-7, 4) AS wavg_price
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      t(s, d, "lineitem").groupBy("l_returnflag")
        .agg(Fp.r(graft.functions.WeightedMean.weightedMean(
          col("l_extendedprice"), col("l_quantity")), 4).as("wavg_price"))
        .orderBy("l_returnflag")
    },

    // RFM segmentation: per-customer recency (days since last order,
    // against the corpus max date so the query is deterministic),
    // frequency, monetary — then quintile scores. Two aggregates + one
    // ntile window; the window input is one row per CUSTOMER, already
    // 1000× smaller than the fact table.
    Q("a_rfm",
      """WITH mx AS (SELECT max(o_orderdate) AS d1 FROM orders),
        |per AS (
        |  SELECT o_custkey,
        |    date_diff('day', max(o_orderdate), (SELECT d1 FROM mx)) AS recency_days,
        |    count(*) AS frequency,
        |    CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
        |      AS monetary
        |  FROM orders GROUP BY 1)
        |SELECT o_custkey, CAST(recency_days AS INT) AS recency_days,
        |  CAST(frequency AS BIGINT) AS frequency, monetary,
        |  CAST(ntile(5) OVER (ORDER BY recency_days, o_custkey) AS INT) AS r_score,
        |  CAST(ntile(5) OVER (ORDER BY frequency DESC, o_custkey) AS INT) AS f_score,
        |  CAST(ntile(5) OVER (ORDER BY monetary DESC, o_custkey) AS INT) AS m_score
        |FROM per ORDER BY o_custkey""".stripMargin) { (s, d) =>
      val orders = t(s, d, "orders")
      // in-plan scalar (mirrors the oracle's mx CTE): no driver action,
      // no timestamp-class assumption, null-safe on an empty table
      val mx = orders.agg(to_date(max("o_orderdate")).as("__d1"))
      val per = orders.groupBy("o_custkey").agg(
        to_date(max("o_orderdate")).as("__last"),
        count(lit(1)).as("frequency"),
        Fp.moneySum(col("o_totalprice")).as("monetary"))
        .crossJoin(broadcast(mx))
        .withColumn("recency_days", datediff(col("__d1"), col("__last")))
        .drop("__d1", "__last")
      per.select(col("o_custkey"),
          col("recency_days").cast("int").as("recency_days"),
          col("frequency"), col("monetary"),
          ntile(5).over(Window.orderBy(col("recency_days"), col("o_custkey")))
            .as("r_score"),
          ntile(5).over(Window.orderBy(col("frequency").desc, col("o_custkey")))
            .as("f_score"),
          ntile(5).over(Window.orderBy(col("monetary").desc, col("o_custkey")))
            .as("m_score"))
        .orderBy("o_custkey")
    },

    // J2 left outer join (reference fait_population ⟕ fait_evenements).
    // Summed doubles go through the moneySum decimal convention (order-
    // independent, exact) so the DuckDB hash compare can't half-boundary
    // flake at larger scale factors.
    Q("j_left_join",
      """SELECT c_custkey, c_name,
        |       CAST(coalesce(o.n_orders, 0) AS BIGINT) AS n_orders,
        |       coalesce(o.total_spent, 0.0) AS total_spent
        |FROM customer
        |LEFT JOIN (SELECT o_custkey, count(*) AS n_orders,
        |                  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_spent
        |           FROM orders GROUP BY o_custkey) o ON c_custkey = o_custkey
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      val per = t(s, d, "orders").groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          Fp.moneySum(col("o_totalprice")).as("total_spent"))
      t(s, d, "customer")
        .join(per, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"), col("c_name"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          coalesce(col("total_spent"), lit(0.0)).as("total_spent"))
        .orderBy("c_custkey")
    },

    // J3 cross join scaffold (reference dashboard dim_geo × dim_temps,
    // 005:235-236): every region × every order year.
    Q("j_cross_join_scaffold",
      """SELECT r_name, y.o_year
        |FROM region
        |CROSS JOIN (SELECT DISTINCT CAST(year(o_orderdate) AS INT) AS o_year
        |            FROM orders) y
        |ORDER BY r_name, o_year""".stripMargin) { (s, d) =>
      val years = t(s, d, "orders")
        .select(year(col("o_orderdate")).as("o_year")).distinct()
      t(s, d, "region").select("r_name").crossJoin(years)
        .orderBy("r_name", "o_year")
    },

    // J5 dimension-key lookup (reference get_dim_mapping hand-rolled hash
    // join, load_facts.py:74-88). supplier scales with SF, so no forced
    // broadcast hint — AQE broadcasts it while it's under the threshold and
    // falls back to a shuffle join once it isn't (the safe call at 100×).
    Q("j_broadcast_lookup",
      """SELECT s_name, round(sum(l_quantity), 2) AS sum_qty,
        |       CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_name ORDER BY s_name""".stripMargin) { (s, d) =>
      t(s, d, "lineitem")
        .join(t(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_name")
        .agg(round(sum("l_quantity"), 2).as("sum_qty"), count(lit(1)).as("n_items"))
        .orderBy("s_name")
    },

    // J7 semi join (reference RLS EXISTS predicate, 011:180-189).
    Q("j_semi_join",
      """SELECT n_nationkey, n_name FROM nation
        |WHERE EXISTS (SELECT 1 FROM customer WHERE c_nationkey = n_nationkey)
        |ORDER BY n_nationkey""".stripMargin) { (s, d) =>
      t(s, d, "nation")
        .join(t(s, d, "customer"), col("n_nationkey") === col("c_nationkey"),
          "left_semi")
        .select("n_nationkey", "n_name").orderBy("n_nationkey")
    },

    // J8 anti join (reference NOT EXISTS new-record detection, 010:480-485).
    Q("j_anti_join",
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name").orderBy("c_custkey")
    },

    // J9 orphan FK check (reference integrity tests, test_dwh.py:199-226):
    // anti-join counts; all must be 0 on consistent data.
    Q("j_orphan_check",
      """SELECT 'lineitem_orders' AS fk, CAST(count(*) AS BIGINT) AS orphans
        |FROM lineitem WHERE NOT EXISTS
        |  (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
        |UNION ALL
        |SELECT 'orders_customer' AS fk, CAST(count(*) AS BIGINT) AS orphans
        |FROM orders WHERE NOT EXISTS
        |  (SELECT 1 FROM customer WHERE c_custkey = o_custkey)
        |ORDER BY fk""".stripMargin) { (s, d) =>
      val a = t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("orphans"))
        .select(lit("lineitem_orders").as("fk"), col("orphans"))
      val b = t(s, d, "orders")
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"), "left_anti")
        .agg(count(lit(1)).as("orphans"))
        .select(lit("orders_customer").as("fk"), col("orphans"))
      a.unionByName(b).orderBy("fk")
    },

    // J9b inferred members (early-arriving facts): customers from nation
    // 0 are withheld from the dim; their orders' keys come back as
    // UNKNOWN placeholders, so the star join stays inner and loses no
    // facts. The dim grows by distinct orphans only.
    Q("j_inferred_member",
      """WITH dim AS (SELECT c_custkey, c_name, c_mktsegment FROM customer
        |             WHERE c_nationkey <> 0),
        |missing AS (SELECT DISTINCT o_custkey AS c_custkey FROM orders o
        |            WHERE NOT EXISTS
        |              (SELECT 1 FROM dim d WHERE d.c_custkey = o.o_custkey)),
        |dim2 AS (SELECT * FROM dim UNION ALL
        |         SELECT c_custkey, 'UNKNOWN', 'UNKNOWN' FROM missing)
        |SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_members,
        |       CAST(sum(CASE WHEN c_name = 'UNKNOWN' THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_inferred,
        |       CAST((SELECT count(*) FROM orders o WHERE NOT EXISTS
        |              (SELECT 1 FROM dim2 d WHERE d.c_custkey = o.o_custkey))
        |         AS BIGINT) AS orphans_after
        |FROM dim2 GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val dim = t(s, d, "customer").filter(col("c_nationkey") =!= 0)
        .select("c_custkey", "c_name", "c_mktsegment")
      val fact = t(s, d, "orders")
      val dim2 = graft.etl.Etl.inferredMembers(fact, dim,
        "o_custkey", "c_custkey",
        Map("c_name" -> lit("UNKNOWN"), "c_mktsegment" -> lit("UNKNOWN")))
      val orphansAfter = graft.etl.Etl.orphanCount(fact, dim2,
        "o_custkey", "c_custkey")
      dim2.groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_members"),
          sum(when(col("c_name") === "UNKNOWN", 1L).otherwise(0L))
            .as("n_inferred"))
        .withColumn("orphans_after", lit(orphansAfter))
        .orderBy("c_mktsegment")
    },

    // ----- A: aggregations [§2.4] -----
    // A1/A2 grouped sum + avg/min/max (reference datamart aggregates).
    Q("a_grouped_stats",
      """SELECT c_mktsegment,
        |       CAST(count(*) AS BIGINT) AS n_customers,
        |       round(avg(c_acctbal) + 1e-7, 4) AS avg_bal,
        |       round(min(c_acctbal), 2) AS min_bal,
        |       round(max(c_acctbal), 2) AS max_bal,
        |       CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_bal
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) {
      (s, d) =>
        t(s, d, "customer").groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_customers"),
            Fp.r(avg("c_acctbal"), 4).as("avg_bal"),
            round(min("c_acctbal"), 2).as("min_bal"),
            round(max("c_acctbal"), 2).as("max_bal"),
            Fp.moneySum(col("c_acctbal")).as("sum_bal"))
          .orderBy("c_mktsegment")
    },

    // A3 guarded ratio (reference CASE WHEN SUM>0 / NULLIF, 005:29-34,248).
    Q("a_guarded_ratio",
      """SELECT CAST(year(l_shipdate) AS INT) AS ship_year,
        |       round(100 * sum(CASE WHEN l_returnflag = 'R' THEN l_quantity ELSE 0 END)
        |             / nullif(sum(l_quantity), 0) + 1e-7, 4) AS return_rate_pct
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      t(s, d, "lineitem")
        .groupBy(year(col("l_shipdate")).as("ship_year"))
        .agg(Fp.r(
          lit(100) * sum(when(col("l_returnflag") === "R", col("l_quantity"))
            .otherwise(0)) / nullif(sum(col("l_quantity")), lit(0)), 4)
          .as("return_rate_pct"))
        .orderBy("ship_year")
    },

    // A5 grouped conditional aggregation (reference per-status slices →
    // one pass of sum(when), load_facts.py:484-508).
    Q("a_conditional_agg",
      """SELECT user_id,
        |       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases,
        |       CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_views,
        |       round(sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END), 2) AS purchase_value,
        |       round(100.0 * sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |             / nullif(sum(CASE WHEN event_type IN ('purchase','view') THEN 1 ELSE 0 END), 0) + 1e-7, 4)
        |         AS conversion_pct
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      val isP = when(col("event_type") === "purchase", 1L).otherwise(0L)
      val isV = when(col("event_type") === "view", 1L).otherwise(0L)
      t(s, d, "events").groupBy("user_id")
        .agg(sum(isP).as("n_purchases"), sum(isV).as("n_views"),
          round(sum(when(col("event_type") === "purchase", col("value"))
            .otherwise(0.0)), 2).as("purchase_value"),
          Fp.r(lit(100.0) * sum(isP) / nullif(sum(isP) + sum(isV), lit(0)), 4)
            .as("conversion_pct"))
        .orderBy("user_id")
    },

    // A6 pivot long→wide (reference FILOSOFI pivot, load_facts.py:361-384).
    Q("a_pivot",
      """SELECT CAST(year(l_shipdate) AS INT) AS ship_year,
        |       round(sum(CASE WHEN l_returnflag = 'A' THEN l_quantity END), 2) AS A,
        |       round(sum(CASE WHEN l_returnflag = 'N' THEN l_quantity END), 2) AS N,
        |       round(sum(CASE WHEN l_returnflag = 'R' THEN l_quantity END), 2) AS R
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      t(s, d, "lineitem")
        .groupBy(year(col("l_shipdate")).as("ship_year"))
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(round(sum("l_quantity"), 2))
        .orderBy("ship_year")
    },

    // A7 count-based ops views (reference log monitoring, 008:171-182):
    // per-day, per-type event counts with error share.
    Q("a_daily_counts",
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
        |       CAST(count(*) AS BIGINT) AS n,
        |       round(avg(value) + 1e-7, 4) AS avg_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      t(s, d, "events")
        .groupBy(date_trunc("day", col("ts")).cast("date").as("day"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), Fp.r(avg("value"), 4).as("avg_value"))
        .orderBy("day", "event_type")
    },

    // A8 string aggregation (reference STRING_AGG, 011:282-288) —
    // deterministic via sorted collect.
    Q("a_string_agg",
      """SELECT r_name, string_agg(n_name, ', ' ORDER BY n_name) AS nations
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin) { (s, d) =>
      t(s, d, "nation")
        .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(array_join(sort_array(collect_list("n_name")), ", ").as("nations"))
        .orderBy("r_name")
    },

    // Beyond-reference aggregates Spark gives for free (SURVEY §2.4 note):
    // rollup + exact & approximate distinct counts.
    Q("a_rollup",
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        |       coalesce(l_linestatus, 'ALL') AS linestatus,
        |       round(sum(l_quantity), 2) AS sum_qty,
        |       CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY returnflag, linestatus""".stripMargin) { (s, d) =>
      t(s, d, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(round(sum("l_quantity"), 2).as("sum_qty"),
          countDistinct("l_orderkey").as("n_orders"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("sum_qty"), col("n_orders"))
        .orderBy("returnflag", "linestatus")
    },

    // CUBE over two dimensions (beyond-reference, SURVEY §2.4 note).
    // money sums go through the DECIMAL convention (Fp.moneySum): the
    // cube's global row sums o_totalprice over EVERY order, and a plain
    // double sum's reduction-order error exceeds 0.01 at the sf10 row
    // count (caught by the 100x oracle sweep) — cents-valued doubles are
    // not exactly representable, unlike the integral l_quantity sums.
    Q("a_cube",
      s"""SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |       coalesce(o_orderpriority, 'ALL') AS priority,
        |       CAST(count(*) AS BIGINT) AS n,
        |       ${Fp.moneySumSql("o_totalprice")} AS total
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin) { (s, d) =>
      t(s, d, "orders").cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"), Fp.moneySum(col("o_totalprice")).as("total"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n"), col("total"))
        .orderBy("status", "priority")
    },

    // Deterministic hash-based sampling — the stable sampling pattern for
    // 100 TB pipelines (same subset every run, any engine; rand()-based
    // sampling is neither). Keeps ~1/8 of rows by md5 prefix.
    Q("p_hash_sample",
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_sampled,
        |       CAST(min(doc_id) AS BIGINT) AS first_doc
        |FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1')
        |GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
      Tables.load(s, d, "documents")
        .filter(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 1)
          .isin("0", "1"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_sampled"), min("doc_id").as("first_doc"))
        .orderBy("lang")
    },

    // Exact percentiles (beyond-reference: deciles arrive precomputed in
    // FILOSOFI; Spark computes them natively — SURVEY §2.4 note).
    Q("a_percentiles",
      """SELECT l_returnflag,
        |       round(quantile_cont(l_quantity, 0.5) + 1e-7, 4) AS median_qty,
        |       round(quantile_cont(l_quantity, 0.9) + 1e-7, 4) AS p90_qty,
        |       round(quantile_cont(l_extendedprice, 0.5) + 1e-7, 4) AS median_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) {
      (s, d) =>
        t(s, d, "lineitem").groupBy("l_returnflag")
          .agg(
            Fp.r(expr("percentile(l_quantity, 0.5)"), 4).as("median_qty"),
            Fp.r(expr("percentile(l_quantity, 0.9)"), 4).as("p90_qty"),
            Fp.r(expr("percentile(l_extendedprice, 0.5)"), 4).as("median_price"))
          .orderBy("l_returnflag")
    },

    // Quantile SKETCH certified against the exact path: output rows are
    // the exact per-group medians (the oracle), `sketch_rank_ok` is 1 iff
    // approx_percentile(0.5, acc=1000)'s answer sits within its GUARANTEED
    // rank window [0.5·n ± n/1000] — tie-safe (checked against the value's
    // full [count(<v), count(<=v)] span) and order-independent, so the
    // flag is deterministic. At 100 TB the sketch is the percentile path
    // (bounded memory per partial, mergeable); this query pins how far it
    // can drift from exact. The certificate costs ONE extra fact pass:
    // scan 1 builds the sketch per group, scan 2 (fact ⋈ broadcast
    // group-sized sketch rows) computes the rank bounds AND the exact
    // median in the SAME grouped aggregate; both collects are group-sized
    // (3 rows), never fact-sized.
    Q("a_approx_percentiles",
      """SELECT l_returnflag,
        |       round(quantile_cont(l_quantity, 0.5) + 1e-7, 4) AS median_exact,
        |       1 AS sketch_rank_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) {
      (s, d) =>
        val li = t(s, d, "lineitem").select("l_returnflag", "l_quantity")
        val appr = li.groupBy("l_returnflag")
          .agg(expr("approx_percentile(l_quantity, 0.5, 1000)").as("apx"),
            count(lit(1)).as("n"))
        val certified = li.join(broadcast(appr), "l_returnflag")
          .groupBy("l_returnflag")
          .agg(
            sum(when(col("l_quantity") < col("apx"), 1L).otherwise(0L)).as("lo"),
            sum(when(col("l_quantity") <= col("apx"), 1L).otherwise(0L)).as("hi"),
            first("n").as("n"),
            Fp.r(expr("percentile(l_quantity, 0.5)"), 4).as("median_exact"))
          .collect()
        val ok = if (certified.forall { r =>
            val (lo, hi, n) = (r.getLong(1), r.getLong(2), r.getLong(3))
            val slack = n / 1000.0
            lo - slack <= 0.5 * n && 0.5 * n <= hi + slack
          }) 1 else 0
        // local relation: certified rows collected once (see x_sim_ivf_ann)
        import s.implicits._
        certified.map(r => (r.getString(0), r.getDouble(4), ok)).toSeq
          .toDF("l_returnflag", "median_exact", "sketch_rank_ok")
          .orderBy("l_returnflag")
    },

    // ----- W/O: windows, sorts, top-k [§2.5-§2.6] -----
    // W1 latest-version-per-key (reference load_dimensions.py:183-187).
    Q("w_latest_per_key",
      """SELECT user_id, event_id, event_type FROM (
        |  SELECT user_id, event_id, event_type,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) x WHERE rn = 1 ORDER BY user_id""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").desc, col("event_id").desc)
      t(s, d, "events")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("user_id", "event_id", "event_type")
        .orderBy("user_id")
    },

    // W2 running counter per key (reference SCD version+1 pattern).
    Q("w_running_total",
      """SELECT o_custkey, o_orderkey,
        |       CAST(row_number() OVER w AS INT) AS order_seq,
        |       round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
      t(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          row_number().over(w).as("order_seq"),
          round(sum("o_totalprice")
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2)
            .as("running_spend"))
        .orderBy("o_custkey", "o_orderkey")
    },

    // W3/O1/O3 top-N with multi-key sort (reference TOP(n) + sort_values).
    Q("o_topn",
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin) { (s, d) =>
      t(s, d, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(10)
    },

    // ----- U: set operations [§2.7] -----
    // U1 union-all of per-table counts (reference refresh verification).
    Q("u_union_counts",
      """SELECT 'customer' AS tbl, CAST(count(*) AS BIGINT) AS n FROM customer
        |UNION ALL SELECT 'orders', CAST(count(*) AS BIGINT) FROM orders
        |UNION ALL SELECT 'lineitem', CAST(count(*) AS BIGINT) FROM lineitem
        |ORDER BY tbl""".stripMargin) { (s, d) =>
      Seq("customer", "orders", "lineitem")
        .map(n => t(s, d, n).agg(count(lit(1)).as("n")).select(lit(n).as("tbl"), col("n")))
        .reduce(_ unionByName _)
        .orderBy("tbl")
    },

    // U2 full outer merge (reference births∪deaths O(n²) loop → one
    // full_outer join, load_facts.py:209-248).
    Q("u_full_outer_merge",
      """SELECT coalesce(p.user_id, v.user_id) AS user_id,
        |       CAST(coalesce(p.n, 0) AS BIGINT) AS n_purchases,
        |       CAST(coalesce(v.n, 0) AS BIGINT) AS n_errors
        |FROM (SELECT user_id, count(*) AS n FROM events
        |      WHERE event_type = 'purchase' GROUP BY user_id) p
        |FULL OUTER JOIN (SELECT user_id, count(*) AS n FROM events
        |      WHERE event_type = 'error' GROUP BY user_id) v
        |  ON p.user_id = v.user_id
        |ORDER BY user_id""".stripMargin) { (s, d) =>
      val ev = t(s, d, "events")
      val p = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id").agg(count(lit(1)).as("n"))
      val v = ev.filter(col("event_type") === "error")
        .groupBy("user_id").agg(count(lit(1)).as("n"))
      p.as("p").join(v.as("v"), col("p.user_id") === col("v.user_id"), "full_outer")
        .select(coalesce(col("p.user_id"), col("v.user_id")).as("user_id"),
          coalesce(col("p.n"), lit(0L)).as("n_purchases"),
          coalesce(col("v.n"), lit(0L)).as("n_errors"))
        .orderBy("user_id")
    },

    // INTERSECT / EXCEPT (absent in the reference; built-in in Spark).
    Q("u_intersect_except",
      """SELECT 'both' AS side, k FROM
        |  (SELECT c_nationkey AS k FROM customer INTERSECT SELECT s_nationkey FROM supplier) x
        |UNION ALL
        |SELECT 'customer_only' AS side, k FROM
        |  (SELECT c_nationkey AS k FROM customer EXCEPT SELECT s_nationkey FROM supplier) y
        |ORDER BY side, k""".stripMargin) { (s, d) =>
      val c = t(s, d, "customer").select(col("c_nationkey").as("k"))
      val su = t(s, d, "supplier").select(col("s_nationkey").as("k"))
      c.intersect(su).select(lit("both").as("side"), col("k"))
        .unionByName(c.except(su).select(lit("customer_only").as("side"), col("k")))
        .orderBy("side", "k")
    },

    // ----- F: scalar function families [§2.8] -----
    Q("f_scalar_funcs",
      """SELECT o_orderkey,
        |       lpad(CAST(o_custkey AS VARCHAR), 6, '0') AS cust_code,
        |       concat('ORD-', CAST(o_orderkey AS VARCHAR), '-',
        |              substr(o_orderpriority, 1, 1)) AS order_label,
        |       CAST(year(o_orderdate) AS INT) AS o_year,
        |       CAST(month(o_orderdate) AS INT) AS o_month,
        |       strftime(o_orderdate, '%Y-%m') AS month_bucket,
        |       CASE WHEN o_totalprice > 300000 THEN 'BIG'
        |            WHEN o_totalprice > 100000 THEN 'MED'
        |            ELSE 'SMALL' END AS size_band,
        |       round(o_totalprice / nullif(CAST(year(o_orderdate) AS INT) - 1990, 0) + 1e-7, 2)
        |         AS price_per_era
        |FROM orders ORDER BY o_orderkey LIMIT 500""".stripMargin) { (s, d) =>
      t(s, d, "orders").select(
        col("o_orderkey"),
        lpad(col("o_custkey").cast("string"), 6, "0").as("cust_code"),
        concat(lit("ORD-"), col("o_orderkey").cast("string"), lit("-"),
          substring(col("o_orderpriority"), 1, 1)).as("order_label"),
        year(col("o_orderdate")).as("o_year"),
        month(col("o_orderdate")).as("o_month"),
        date_format(col("o_orderdate"), "yyyy-MM").as("month_bucket"),
        when(col("o_totalprice") > 300000, "BIG")
          .when(col("o_totalprice") > 100000, "MED")
          .otherwise("SMALL").as("size_band"),
        Fp.r(col("o_totalprice") /
          nullif(year(col("o_orderdate")) - lit(1990), lit(0)), 2)
          .as("price_per_era"))
        .orderBy("o_orderkey").limit(500)
    },

    // Three-valued-logic torture: null-safe equality, coalesce chains,
    // nullif round-trips, NULL propagation through comparisons, and
    // explicit NULLS FIRST ordering — the semantics every merge/dedup
    // operator in the engine leans on (P11's <=> in the SCD merges).
    Q("f_null_semantics",
      """WITH v(id, a, b) AS (VALUES
        |  (1, 10, 10), (2, 10, 20), (3, NULL, 10),
        |  (4, NULL, NULL), (5, 20, NULL)),
        |r AS (SELECT id, a, b,
        |  CASE WHEN a IS NOT DISTINCT FROM b THEN 1 ELSE 0 END AS nseq,
        |  CASE WHEN a = b THEN 1 WHEN NOT (a = b) THEN 0 ELSE -1 END AS tvl,
        |  coalesce(a, b, -1) AS first_set,
        |  nullif(a, 10) AS a_not10,
        |  CASE WHEN a > b THEN 'gt' WHEN a <= b THEN 'le'
        |       ELSE 'unknown' END AS cmp3
        |FROM v)
        |SELECT * FROM r ORDER BY a NULLS FIRST, id""".stripMargin) { (s, d) =>
      import s.implicits._
      val v = Seq(
        (1, Some(10), Some(10)), (2, Some(10), Some(20)),
        (3, None, Some(10)), (4, None, None), (5, Some(20), None))
        .toDF("id", "a", "b")
      v.select(col("id"), col("a"), col("b"),
          (col("a") <=> col("b")).cast("int").as("nseq"),
          when(col("a") === col("b"), 1)
            .when(!(col("a") === col("b")), 0).otherwise(-1).as("tvl"),
          coalesce(col("a"), col("b"), lit(-1)).as("first_set"),
          nullif(col("a"), lit(10)).as("a_not10"),
          when(col("a") > col("b"), "gt")
            .when(col("a") <= col("b"), "le")
            .otherwise("unknown").as("cmp3"))
        .orderBy(col("a").asc_nulls_first, col("id"))
    },

    // Fuzzy matching (entity resolution): nation-name pairs within edit
    // distance 1 (one typo apart) — the dim-grain dedup shape (candidate
    // pairs from a bounded dim cross, exact Levenshtein only on
    // survivors; at corpus scale the candidate set comes from LSH
    // banding, see ext.Dedup).
    Q("f_fuzzy_match",
      """SELECT a.n_name AS name_a, b.n_name AS name_b,
        |       CAST(levenshtein(a.n_name, b.n_name) AS INT) AS dist
        |FROM nation a JOIN nation b ON a.n_name < b.n_name
        |WHERE levenshtein(a.n_name, b.n_name) <= 1
        |ORDER BY dist, name_a, name_b""".stripMargin) { (s, d) =>
      val a = t(s, d, "nation").select(col("n_name").as("name_a"))
      val b = t(s, d, "nation").select(col("n_name").as("name_b"))
      a.join(b, col("name_a") < col("name_b"))
        .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
        .filter(col("dist") <= 1)
        .orderBy("dist", "name_a", "name_b")
    },

    // Array explode + word count (reference codesPostaux explode → bridge
    // table, data_preparation.ipynb#cell9).
    Q("f_explode_wordcount",
      """SELECT word, CAST(count(*) AS BIGINT) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) w
        |WHERE word <> ''
        |GROUP BY word ORDER BY n DESC, word LIMIT 20""".stripMargin) { (s, d) =>
      t(s, d, "documents")
        .select(explode(split(col("text"), " ", -1)).as("word"))
        .filter(col("word") =!= "")
        .groupBy("word").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("word")).limit(20)
    },

    // Date arithmetic family (reference DATEDIFF/DATEADD/FORMAT usage).
    Q("f_date_funcs",
      """SELECT CAST(year(o_orderdate) AS INT) AS o_year,
        |       CAST(count(*) AS BIGINT) AS n_items,
        |       CAST(sum(CASE WHEN date_diff('day', o_orderdate, l_shipdate) > 60
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_slow,
        |       CAST(min(date_diff('day', o_orderdate, l_shipdate)) AS INT) AS min_delay,
        |       CAST(max(date_diff('day', o_orderdate, l_shipdate)) AS INT) AS max_delay
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val delay = datediff(col("l_shipdate"), col("o_orderdate"))
      t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(count(lit(1)).as("n_items"),
          sum(when(delay > 60, 1).otherwise(0)).as("n_slow"),
          min(delay).as("min_delay"), max(delay).as("max_delay"))
        .orderBy("o_year")
    },

    // lag/lead ordered analytics (delta vs previous order per customer).
    Q("w_lag_lead",
      """SELECT o_custkey, o_orderkey,
        |       round(o_totalprice - lag(o_totalprice) OVER w + 1e-7, 2) AS delta_prev,
        |       round(lead(o_totalprice) OVER w - o_totalprice + 1e-7, 2) AS delta_next
        |FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
      t(s, d, "orders").select(col("o_custkey"), col("o_orderkey"),
        Fp.r(col("o_totalprice") - lag(col("o_totalprice"), 1).over(w), 2)
          .as("delta_prev"),
        Fp.r(lead(col("o_totalprice"), 1).over(w) - col("o_totalprice"), 2)
          .as("delta_next"))
        .orderBy("o_custkey", "o_orderkey")
    },

    // Custom Catalyst expression in the verified set: accent_fold vs
    // DuckDB's strip_accents on the same synthesized accented strings.
    Q("f_accent_fold",
      """SELECT n_name, strip_accents(n_name || '-éÜç') AS folded
        |FROM nation ORDER BY n_name""".stripMargin) { (s, d) =>
      t(s, d, "nation").select(col("n_name"),
        graft.functions.AccentFold.accentFold(
          concat(col("n_name"), lit("-éÜç"))).as("folded"))
        .orderBy("n_name")
    },

    // JSON extraction (reference json_normalize / nested JSON columns).
    Q("f_json_extract",
      """SELECT CAST(CAST(json_extract(props, '$.k') AS VARCHAR) AS INT) / 25 AS k_quartile_raw,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      t(s, d, "events")
        .select((get_json_object(col("props"), "$.k").cast("int") / 25)
          .as("k_quartile_raw"))
        .groupBy("k_quartile_raw").agg(count(lit(1)).as("n"))
        .orderBy("k_quartile_raw")
    },
  )

  // ---- j_cooccurrence physical paths -------------------------------------
  // Same logical result two ways (A/B-measured, docs/SCALING.md §r12).
  // Both share: ONE shuffle to order grain, pair expansion as a pure
  // projection (pair volume = |orders|·basket², never corpus²), map-side
  // pair aggregation.

  /** Total on-disk bytes of a parquet input — driver-side filesystem
    * metadata (no Spark job), the same signal
    * `spark.sql.autoBroadcastJoinThreshold` planning uses. Returns
    * Long.MaxValue when the path cannot be statted so size-gated
    * optimizations default to the scale path rather than silently
    * downgrading. */
  private def inputBytes(s: SparkSession, path: String): Long =
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.getContentSummary(p).getLength
    } catch { case _: Exception => Long.MaxValue }

  /** Fallback for item domains too wide to dictionary-encode into a
    * long: per-order distinct set via collect_set, HOF pair expansion.
    * The map-side ObjectHashAggregate falls back to sorting at high
    * group counts — the residual [[coocBitmap]] eliminates whenever the
    * domain permits (sf10: 20.4 s here vs 18.2 s bitmap; the r11-verdict
    * two-level sub-block lever measured 71.0 s — refuted, SCALING.md). */
  private[graft] def coocCollectSet(s: SparkSession, d: String): DataFrame = {
    val sets = t(s, d, "lineitem").select("l_orderkey", "l_partkey")
      .join(t(s, d, "part").select("p_partkey", "p_brand"),
        col("l_partkey") === col("p_partkey"))
      .groupBy("l_orderkey")
      .agg(sort_array(collect_set(col("p_brand"))).as("bs"))
    val pairs = sets.select(explode(flatten(
      transform(col("bs"), (a, i) =>
        transform(slice(col("bs"), i + 2, size(col("bs"))),
          b => struct(a.as("brand_a"), b.as("brand_b"))))))
      .as("p"))
    pairs.select(col("p.brand_a"), col("p.brand_b"))
      .groupBy("brand_a", "brand_b").agg(count(lit(1)).as("n_orders"))
      .orderBy(col("n_orders").desc, col("brand_a"), col("brand_b"))
      .limit(15)
  }

  /** Dictionary-encoded bitmap aggregate: the brand domain is
    * dimension-sized (25 values), so the per-order distinct set is a
    * fixed-width LONG — `bit_or` aggregates in a codegen'd
    * HashAggregate with an 8-byte primitive buffer (map-side combine,
    * no ObjectHashAggregate, no sort fallback, nothing to spill but
    * 16-byte rows). Indexes are assigned in brand lexicographic order
    * so bit i < bit j ⇔ brand_i < brand_j and pair expansion preserves
    * the (brand_a < brand_b) contract. Falls back to the collect_set
    * path when the domain exceeds 64 — or when the fact input is small:
    * the dictionary is a fixed-cost eager job (distinct + driver
    * collect + plan compile of the lookup maps), ~1.2 s at sf0.1 where
    * the bitmap saves nothing (measured r12: sf0.1 1.49→2.67 s, while
    * sf10 improves 20.4→18.2 s). Like a broadcast threshold, the path
    * choice keys off input FILE SIZE (driver-side FS metadata, no job):
    * below 64 MB of lineitem the sort-fallback the bitmap exists to
    * avoid cannot bite, so the fixed cost is pure loss. Both paths are
    * A/B-verified identical (docs/SCALING.md §r12), so the switch can
    * never change results. */
  private def coocBitmap(s: SparkSession, d: String): DataFrame = {
    if (inputBytes(s, Tables.path(d, "lineitem")) < 64L * 1024 * 1024)
      coocCollectSet(s, d)
    else coocBitmapForce(s, d)
  }

  /** The bitmap path with the size gate bypassed — split out so
    * RelationalPathsSpec can assert path equality on small data, where
    * the gate would otherwise route around it (at scale the oracle
    * sweeps exercise it directly). */
  private[graft] def coocBitmapForce(s: SparkSession, d: String): DataFrame = {
    // brand dictionary: ONE distinct job (map-side combined), collected
    // driver-side — catalog-sized, the same bounded-fetch class as the
    // engine's centroid samples and bloom binaries. Lexicographic index
    // assignment preserves the (brand_a < brand_b) pair contract.
    val brands = t(s, d, "part").select("p_brand").distinct()
      .collect().map(_.getString(0)).sorted
    if (brands.length > 64) return coocCollectSet(s, d)
    val idxOf = typedlit(brands.zipWithIndex.toMap)
    val partIdx = t(s, d, "part")
      .select(col("p_partkey"), element_at(idxOf, col("p_brand")).as("__idx"))
    val masks = t(s, d, "lineitem").select("l_orderkey", "l_partkey")
      .join(partIdx, col("l_partkey") === col("p_partkey"))
      .groupBy("l_orderkey")
      .agg(bit_or(call_function("shiftleft", lit(1L), col("__idx"))).as("m"))
    // materialize set-bit positions (≤ 64 probes) as their OWN projection:
    // referenced 3x by the pair expansion, and CollapseProject keeps a
    // non-cheap multiply-referenced alias un-inlined — without this the
    // 64-probe filter re-evaluates per outer element of the transform
    val setBits = masks.select(
      filter(sequence(lit(0), lit(63)),
        i => col("m").bitwiseAND(call_function("shiftleft", lit(1L), i)) =!= 0L)
        .as("sb"))
    val brandOf = typedlit(brands.zipWithIndex.map(_.swap).toMap)
    setBits
      .select(explode(flatten(
        transform(col("sb"), (a, ai) =>
          transform(slice(col("sb"), ai + 2, size(col("sb"))),
            b => struct(a.as("ia"), b.as("ib")))))).as("p"))
      .groupBy(col("p.ia").as("ia"), col("p.ib").as("ib"))
      .agg(count(lit(1)).as("n_orders"))
      .select(element_at(brandOf, col("ia")).as("brand_a"),
        element_at(brandOf, col("ib")).as("brand_b"), col("n_orders"))
      .orderBy(col("n_orders").desc, col("brand_a"), col("brand_b"))
      .limit(15)
  }
}
