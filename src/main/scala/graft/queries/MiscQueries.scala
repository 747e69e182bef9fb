package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Tables
import graft.ext.{Multimodal, Similarity}
import graft.security.Rls
import graft.streaming.Streams

/** RLS, streaming-equivalent analytics, multimodal metadata, and ANN —
  * the remaining verified operator families.
  */
object MiscQueries {

  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  /** Deterministic ±1 hyperplanes shared between Spark and oracle SQL. */
  private def planeProjSql(p: Seq[Int]): String =
    p.zipWithIndex.map { case (w, i) =>
      s"CAST(embedding[${i + 1}] AS DOUBLE) * $w.0"
    }.mkString(" + ")

  private[graft] def planesSql(planes: Seq[Seq[Int]]): Seq[String] =
    planes.map(p => s"CASE WHEN (${planeProjSql(p)}) > 0 THEN '1' ELSE '0' END")

  /** Exact cosine top-k ordered by the ROUNDED value (ties → vec_id) so
    * the limit-k cut is reproducible in the DuckDB oracle. */
  private def exactCosTop(corpus: DataFrame,
      qv: Seq[Double], k: Int): DataFrame = {
    val q = array(qv.map(lit): _*)
    Tables.spread(corpus).select(col("vec_id"),
      Fp.r(Similarity.cosineCodegen(col("embedding"), q), 4).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id")).limit(k)
  }

  /** Exact squared-L2 top-k, same rounded-cut discipline. Expanded as
    * e·e − 2·e·q + q·q over the codegen vec_dot (three primitive loops,
    * no per-element HOF interpretation); the algebraic rearrangement vs
    * the oracle's Σ(e−q)² differs by ≪ the 1e-7 rounding nudge. */
  private def exactL2Top(corpus: DataFrame,
      qv: Seq[Double], k: Int): DataFrame = {
    val q = array(qv.map(lit): _*)
    val qq = qv.map(x => x * x).sum
    Tables.spread(corpus).select(col("vec_id"),
      Fp.r(graft.functions.VectorOps.vecDot(col("embedding"), col("embedding"))
        - lit(2.0) * graft.functions.VectorOps.vecDot(col("embedding"), q)
        + lit(qq), 4).as("l2sq"))
      .orderBy(col("l2sq").asc, col("vec_id")).limit(k)
  }

  val all: Seq[Q] = Seq(

    // ---- RBAC role→schema scoping (reference 006:16-120) ----------------
    // The 4-role grant matrix composed with RLS: every role probes a dwh
    // fact and a dm mart (nation-as-departements). Read grants come from
    // the ACTUAL Rbac.scopedView gate — analyst/etl/admin see everything
    // they're granted, the consultant is denied dwh outright (0 rows) and
    // RLS-filtered on dm; the oracle re-states the expected matrix as
    // literal grants. Authorization itself is a driver map lookup; the
    // consultant path costs one pushed-down IN filter.
    Q("sec_rbac_scope",
      """WITH grants(role_name, schema_name, can_read, rls) AS (VALUES
        |  ('role_admin',       'dwh', 1, 0), ('role_admin',       'dm', 1, 0),
        |  ('role_etl_process', 'dwh', 1, 0), ('role_etl_process', 'dm', 1, 0),
        |  ('role_analyst',     'dwh', 1, 0), ('role_analyst',     'dm', 1, 0),
        |  ('role_consultant',  'dwh', 0, 0), ('role_consultant',  'dm', 1, 1)),
        |geo AS (SELECT n_nationkey, n_regionkey AS departement_code FROM nation),
        |full_n AS (SELECT count(*) AS n FROM geo),
        |rls_n AS (SELECT count(*) AS n FROM geo WHERE departement_code = 0)
        |SELECT role_name, schema_name,
        |       CAST(CASE WHEN can_read = 0 THEN 0
        |                 WHEN rls = 1 THEN (SELECT n FROM rls_n)
        |                 ELSE (SELECT n FROM full_n) END AS BIGINT) AS n_visible
        |FROM grants ORDER BY role_name, schema_name""".stripMargin) { (s, d) =>
      import graft.security.{Rbac, Rls}
      val geo = t(s, d, "nation").select(col("n_nationkey"),
        col("n_regionkey").as("departement_code"))
      val zones = s.createDataFrame(
        java.util.List.of(
          org.apache.spark.sql.Row("consultant1", Integer.valueOf(0))),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("login",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("departement_code",
            org.apache.spark.sql.types.IntegerType))))
      Rbac.roles.flatMap { role =>
        Seq("dwh", "dm").map { schema =>
          val user = Rbac.User(s"${role}_probe", role)
          val visible = Rbac.scopedView(geo, user.copy(login = "consultant1"),
            schema, zones)
          visible match {
            case None => s.range(1).select(lit(role).as("role_name"),
              lit(schema).as("schema_name"), lit(0L).as("n_visible"))
            case Some(df) => df.agg(count(lit(1)).as("n_visible"))
              .select(lit(role).as("role_name"), lit(schema).as("schema_name"),
                col("n_visible"))
          }
        }
      }.reduce(_ unionByName _).orderBy("role_name", "schema_name")
    },

    // ---- RLS (reference SECURITY POLICY semantics, 011:165-214) ----------
    // Three users: dept-scoped, wildcard zone (NULL), unregistered.
    Q("sec_rls_visibility",
      """WITH zones(login, departement_code) AS (
        |  VALUES ('scoped_user', 0), ('wildcard_user', NULL)),
        |geo AS (SELECT n_nationkey, n_name, n_regionkey AS departement_code FROM nation),
        |vis AS (
        |  SELECT 'scoped_user' AS login, g.n_nationkey FROM geo g
        |  WHERE EXISTS (SELECT 1 FROM zones z WHERE z.login = 'scoped_user'
        |                AND z.departement_code = g.departement_code)
        |  UNION ALL SELECT 'wildcard_user', n_nationkey FROM geo
        |  UNION ALL SELECT 'ghost_user', n_nationkey FROM geo)
        |SELECT login, CAST(count(*) AS BIGINT) AS n_visible,
        |       CAST(min(n_nationkey) AS INT) AS min_key,
        |       CAST(max(n_nationkey) AS INT) AS max_key
        |FROM vis GROUP BY login ORDER BY login""".stripMargin) { (s, d) =>
      val geo = t(s, d, "nation").select(col("n_nationkey"), col("n_name"),
        col("n_regionkey").as("departement_code"))
      import scala.jdk.CollectionConverters._
      val zones = s.createDataFrame(
        Seq(org.apache.spark.sql.Row("scoped_user", Integer.valueOf(0)),
          org.apache.spark.sql.Row("wildcard_user", null)).asJava,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("login",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("departement_code",
            org.apache.spark.sql.types.IntegerType))))
      val users = Seq("scoped_user", "wildcard_user", "ghost_user")
      users.map { u =>
        Rls.filterForUser(geo, zones, u)
          .agg(count(lit(1)).as("n_visible"),
            min("n_nationkey").as("min_key"), max("n_nationkey").as("max_key"))
          .select(lit(u).as("login"), col("n_visible"), col("min_key"),
            col("max_key"))
      }.reduce(_ unionByName _).orderBy("login")
    },

    // ---- connection-history audit ingest (track_connexions.py:146-182) --
    // The audit feed (here derived deterministically from events: error →
    // FAILED else SUCCEEDED) loads twice — a first half-batch, then a full
    // overlapping refetch — through the idempotent NOT EXISTS append.
    // n_premier_chargement counts rows still carrying the FIRST load's
    // snapshot stamp: already-loaded keys were NOT re-inserted, while the
    // odd event_ids arrive with the second stamp. Per-login summary is the
    // reference's "consulter l'historique" query in aggregate form.
    // The incoming CTE's QUALIFY mirrors appendHistory's within-batch
    // first-per-key dedup (same semantics even if a generator ever emits
    // two events sharing (user_id, ts)); the ORDER BY lists the non-key
    // columns that VARY per key here — poste_client/base_de_donnees/
    // snapshot_dt are constant within a key, so the tiebreak matches
    // appendHistory's full non-key column order.
    Q("sec_connexion_history",
      """WITH raw AS (
        |  SELECT 'user_' || CAST(user_id AS VARCHAR) AS login_sql,
        |         ts AS heure_connexion,
        |         CASE WHEN event_type = 'error' THEN 'ECHEC'
        |              ELSE 'SUCCES' END AS statut_session,
        |         event_type AS application, event_id
        |  FROM events),
        |existing AS (
        |  SELECT login_sql, heure_connexion, statut_session, application,
        |         TIMESTAMP '2024-06-01 00:00:00' AS snapshot_dt
        |  FROM raw WHERE event_id % 2 = 0),
        |incoming AS (
        |  SELECT login_sql, heure_connexion, statut_session, application,
        |         TIMESTAMP '2024-06-08 00:00:00' AS snapshot_dt
        |  FROM raw
        |  QUALIFY row_number() OVER (
        |    PARTITION BY login_sql, heure_connexion
        |    ORDER BY statut_session, application) = 1),
        |hist AS (
        |  SELECT * FROM existing
        |  UNION ALL
        |  SELECT * FROM incoming i WHERE NOT EXISTS (
        |    SELECT 1 FROM existing e
        |    WHERE e.login_sql = i.login_sql
        |      AND e.heure_connexion = i.heure_connexion))
        |SELECT login_sql,
        |       CAST(count(*) AS BIGINT) AS n_connexions,
        |       CAST(sum(CASE WHEN statut_session = 'SUCCES' THEN 1 ELSE 0 END) AS BIGINT) AS n_succes,
        |       CAST(sum(CASE WHEN statut_session = 'ECHEC' THEN 1 ELSE 0 END) AS BIGINT) AS n_echec,
        |       CAST(sum(CASE WHEN snapshot_dt = TIMESTAMP '2024-06-01 00:00:00' THEN 1 ELSE 0 END) AS BIGINT) AS n_premier_chargement,
        |       strftime(max(heure_connexion), '%Y-%m-%d %H:%M:%S') AS derniere_connexion
        |FROM hist GROUP BY login_sql ORDER BY login_sql""".stripMargin) {
      (s, d) =>
        import graft.security.ConnexionAudit
        val raw = t(s, d, "events").select(
          concat(lit("user_"), col("user_id")).as("login_sql"),
          col("ts").as("heure_connexion"),
          when(col("event_type") === "error",
            lit("DATABASE AUTHENTICATION FAILED"))
            .otherwise(lit("DATABASE AUTHENTICATION SUCCEEDED"))
            .as("resultat"),
          concat(lit("10.0.0."), pmod(col("user_id"), lit(256)))
            .as("ip_client"),
          col("event_type").as("application"),
          lit("dwh").as("base_de_donnees"),
          col("event_id"))
        val existing = ConnexionAudit.normalize(
          raw.filter(col("event_id") % 2 === 0).drop("event_id"),
          lit("2024-06-01 00:00:00"))
        val hist = ConnexionAudit.appendHistory(existing,
          ConnexionAudit.normalize(raw.drop("event_id"),
            lit("2024-06-08 00:00:00")))
        hist.groupBy("login_sql").agg(
          count(lit(1)).as("n_connexions"),
          sum(when(col("statut_session") === "SUCCES", 1L).otherwise(0L))
            .as("n_succes"),
          sum(when(col("statut_session") === "ECHEC", 1L).otherwise(0L))
            .as("n_echec"),
          sum(when(col("snapshot_dt") ===
            lit("2024-06-01 00:00:00").cast("timestamp"), 1L).otherwise(0L))
            .as("n_premier_chargement"),
          date_format(max("heure_connexion"), "yyyy-MM-dd HH:mm:ss")
            .as("derniere_connexion"))
          .orderBy("login_sql")
    },

    // ---- active-session monitoring view (011:350-391) --------------------
    // Live sessions = latest event per user (TopKPerKey path); identity /
    // agency / RLS-zone joins are all broadcast; unregistered logins keep
    // null identity and the 'Acces total (non filtre)' zone fallback;
    // "system" sessions (user_id % 10 = 0 here) are excluded like the
    // reference's is_user_process = 1 filter.
    Q("sec_active_sessions",
      """WITH sessions AS (
        |  SELECT 'user_' || CAST(user_id AS VARCHAR) AS login_sql,
        |         ts AS heure_connexion, event_type AS statut_session,
        |         '10.0.0.' || CAST(user_id % 256 AS VARCHAR) AS poste_client,
        |         'graft-cli' AS application,
        |         user_id % 10 <> 0 AS is_user_process
        |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |                    ORDER BY ts DESC, event_id DESC) AS rn
        |        FROM events) WHERE rn = 1),
        |employes AS (
        |  SELECT 'user_' || CAST(c_custkey AS VARCHAR) AS login_sql,
        |         c_name AS nom_complet, c_mktsegment AS niveau_hierarchique,
        |         c_nationkey AS agence_id
        |  FROM customer WHERE c_custkey < 100),
        |agences AS (
        |  SELECT n_nationkey AS agence_id, n_name AS agence_ville,
        |         CAST(n_regionkey AS VARCHAR) AS agence_departement
        |  FROM nation),
        |zones AS (
        |  SELECT 'user_' || CAST(c_custkey AS VARCHAR) AS login_sql,
        |         CASE WHEN c_custkey % 20 = 0 THEN NULL
        |              ELSE CAST(c_nationkey AS VARCHAR) END AS departement_code
        |  FROM customer WHERE c_custkey % 4 = 0 AND c_custkey < 100
        |  UNION ALL
        |  SELECT 'user_' || CAST(c_custkey AS VARCHAR),
        |         CAST((c_nationkey + 7) % 25 AS VARCHAR)
        |  FROM customer WHERE c_custkey % 12 = 0 AND c_custkey < 100),
        |zagg AS (
        |  SELECT login_sql,
        |         string_agg(coalesce(departement_code, 'REGION_ENTIERE'), ', '
        |           ORDER BY coalesce(departement_code, 'REGION_ENTIERE')) AS zones_rls
        |  FROM zones GROUP BY login_sql)
        |SELECT s.login_sql, e.nom_complet, e.niveau_hierarchique,
        |       a.agence_ville, a.agence_departement,
        |       strftime(s.heure_connexion, '%Y-%m-%d %H:%M:%S') AS heure_connexion,
        |       s.statut_session, s.poste_client, s.application,
        |       CAST(floor((epoch(TIMESTAMP '2024-07-01 00:00:00')
        |         - epoch(s.heure_connexion)) / 60) AS BIGINT) AS duree_connexion_min,
        |       coalesce(z.zones_rls, 'Acces total (non filtre)') AS zones_rls
        |FROM sessions s
        |LEFT JOIN employes e USING (login_sql)
        |LEFT JOIN agences a ON a.agence_id = e.agence_id
        |LEFT JOIN zagg z USING (login_sql)
        |WHERE s.is_user_process
        |ORDER BY s.login_sql""".stripMargin) { (s, d) =>
      import graft.security.ConnexionAudit
      val ev = t(s, d, "events")
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").desc, col("event_id").desc)
      val sessions = ev.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(concat(lit("user_"), col("user_id")).as("login_sql"),
          col("ts").as("heure_connexion"),
          col("event_type").as("statut_session"),
          concat(lit("10.0.0."), pmod(col("user_id"), lit(256)))
            .as("poste_client"),
          lit("graft-cli").as("application"),
          (col("user_id") % 10 =!= 0).as("is_user_process"))
      val cust = t(s, d, "customer")
      val employes = cust.filter(col("c_custkey") < 100)
        .select(concat(lit("user_"), col("c_custkey")).as("login_sql"),
          col("c_name").as("nom_complet"),
          col("c_mktsegment").as("niveau_hierarchique"),
          col("c_nationkey").as("agence_id"))
      val agences = t(s, d, "nation")
        .select(col("n_nationkey").as("agence_id"),
          col("n_name").as("agence_ville"),
          col("n_regionkey").cast("string").as("agence_departement"))
      val zones = cust.filter(col("c_custkey") % 4 === 0 &&
          col("c_custkey") < 100)
        .select(concat(lit("user_"), col("c_custkey")).as("login_sql"),
          when(col("c_custkey") % 20 === 0, lit(null).cast("string"))
            .otherwise(col("c_nationkey").cast("string"))
            .as("departement_code"))
        .unionByName(cust.filter(col("c_custkey") % 12 === 0 &&
            col("c_custkey") < 100)
          .select(concat(lit("user_"), col("c_custkey")).as("login_sql"),
            ((col("c_nationkey") + 7) % 25).cast("string")
              .as("departement_code")))
      ConnexionAudit.activeSessions(sessions, employes, agences, zones,
          lit("2024-07-01 00:00:00"))
        .withColumn("heure_connexion",
          date_format(col("heure_connexion"), "yyyy-MM-dd HH:mm:ss"))
        .orderBy("login_sql")
    },

    // ---- streaming-equivalent analytics (batch parity of Streams ops) ----
    Q("st_tumbling_window",
      """SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M') AS window_start,
        |       event_type, CAST(count(*) AS BIGINT) AS n,
        |       round(sum(value), 2) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      Streams.windowedEventCounts(t(s, d, "events"), "1 hour")
        .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm")
          .as("window_start"),
          col("event_type"), col("n"), round(col("total_value"), 2)
            .as("total_value"))
        .orderBy("window_start", "event_type")
    },

    // Gap-based sessionization via lag windows (batch counterpart of the
    // flatMapGroupsWithState sessionizer).
    Q("st_sessionize",
      """WITH g AS (
        |  SELECT user_id, ts,
        |         CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) > 1800
        |              OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id,
        |             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |      FROM g)
        |SELECT user_id, CAST(max(session_id) AS BIGINT) AS n_sessions,
        |       CAST(count(*) AS BIGINT) AS n_events
        |FROM s GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val cum = Window.partitionBy("user_id").orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "events")
        .withColumn("new_session",
          when(col("ts").cast("double") - lag(col("ts"), 1).over(w)
            .cast("double") > 1800 || lag(col("ts"), 1).over(w).isNull, 1)
            .otherwise(0))
        .withColumn("session_id", sum("new_session").over(cum))
        .groupBy("user_id")
        .agg(max("session_id").as("n_sessions"), count(lit(1)).as("n_events"))
        .orderBy("user_id")
    },

    // Streaming exact dedup, batch parity: a doubled event stream dedups
    // back to the original per-type counts (watermark is a batch no-op;
    // the same call dedups with state eviction under readStream).
    Q("st_stream_dedup",
      """WITH doubled AS (SELECT * FROM events UNION ALL SELECT * FROM events),
        |d AS (SELECT DISTINCT user_id, event_type, ts FROM doubled)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events
        |FROM d GROUP BY event_type ORDER BY event_type""".stripMargin) {
      (s, d) =>
        val e = t(s, d, "events").select("user_id", "event_type", "ts")
        Streams.streamingDedup(e.unionAll(e), Seq("user_id", "event_type"),
            watermark = "1 minute")
          .groupBy("event_type").agg(count(lit(1)).as("n_events"))
          .orderBy("event_type")
    },

    // Watermarked stream-stream interval join, batch parity: events
    // followed by events of the same user within 60s (self-pairs count —
    // deterministic and the exact join predicate the streaming path uses).
    // Scale note: streaming bounds this by watermark state eviction; the
    // BATCH shape at warehouse scale is AsOf.bandedRangeJoin (equi-band,
    // constant 2x replication) — this query demonstrates operator parity,
    // not the batch-scale plan (see j_range_join for that).
    Q("st_interval_join",
      """SELECT l.user_id, CAST(count(*) AS BIGINT) AS n_pairs
        |FROM events l JOIN events r
        |  ON l.user_id = r.user_id
        | AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 60 SECOND
        |GROUP BY l.user_id ORDER BY l.user_id""".stripMargin) { (s, d) =>
      val e = t(s, d, "events").select("user_id", "event_id", "ts")
      Streams.intervalJoin(e, e, "user_id", watermark = "1 minute",
          withinSec = 60)
        .select(col("l.user_id").as("user_id"))
        .groupBy("user_id").agg(count(lit(1)).as("n_pairs"))
        .orderBy("user_id")
    },

    // Left-outer interval join, batch parity: every event, left-joined to
    // the same user's PURCHASE events within the following 60s — lefts
    // with no purchase survive with null right columns (the enrichment
    // shape: click with/without conversion). Streaming emits those only
    // after the watermark passes ts+60s; batch mode is the plain left
    // outer join the oracle reproduces.
    Q("st_interval_outer",
      """SELECT l.user_id, CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(CASE WHEN r.user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_unconverted
        |FROM events l
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
        |  ON l.user_id = r.user_id
        | AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 60 SECOND
        |GROUP BY l.user_id ORDER BY l.user_id""".stripMargin) { (s, d) =>
      val e = t(s, d, "events").select("user_id", "event_id", "event_type", "ts")
      Streams.intervalJoinLeftOuter(e,
          e.filter(col("event_type") === "purchase"), "user_id",
          watermark = "1 minute", withinSec = 60)
        .select(col("l.user_id").as("user_id"),
          col("r.user_id").isNull.cast("int").as("unmatched"))
        .groupBy("user_id").agg(count(lit(1)).as("n_rows"),
          sum(col("unmatched")).cast("long").as("n_unconverted"))
        .orderBy("user_id")
    },

    // Stream-static enrichment, batch parity: events enriched with the
    // customer dimension via Streams.enrich (broadcast hash join — the
    // static side is re-planned per micro-batch, so at scale a dimension
    // refresh lands without a query restart; StreamsSpec drives the same
    // call under readStream). No stream state at all: the only wide op is
    // the downstream per-segment aggregate.
    Q("st_static_join",
      """SELECT c.c_mktsegment AS segment,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(round(sum(CAST(e.value AS DECIMAL(18,4))), 2) AS DOUBLE)
        |         AS total_value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val dim = t(s, d, "customer")
        .select(col("c_custkey").as("user_id"),
          col("c_mktsegment").as("segment"))
      graft.streaming.Streams.enrich(t(s, d, "events"), dim, "user_id")
        .groupBy("segment").agg(
          count(lit(1)).as("n_events"),
          Fp.moneySum(col("value")).as("total_value"))
        .orderBy("segment")
    },

    // ---- multimodal: opaque binary + native metadata ---------------------
    Q("x_mm_binary_meta",
      """SELECT doc_id, CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        |       md5(text) AS digest,
        |       lower(hex(encode(substr(text, 1, 4)))) AS magic_hex
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Multimodal.withByteMetadata(
        t(s, d, "documents").withColumn("bin", col("text").cast("binary")), "bin")
        .select(col("doc_id"), col("n_bytes"), col("digest"),
          lower(col("magic_hex")).as("magic_hex"))
        .orderBy("doc_id")
    },

    // ---- multimodal frame sampling (video-frame shape over the text
    // payload: evenly-spaced fixed-size chunks, explode + substring) ------
    Q("x_mm_frame_sample",
      """WITH g AS (SELECT doc_id, text,
        |             greatest((length(text) + 31) // 32, 1) AS nf
        |           FROM documents)
        |SELECT doc_id, CAST(fidx AS INT) AS frame_idx,
        |       md5(substr(text, CAST(fidx * 32 + 1 AS INT), 32)) AS frame_digest
        |FROM (SELECT doc_id, text,
        |        unnest(list_distinct(list_transform(range(4),
        |          j -> (j * nf) // 4))) AS fidx
        |      FROM g)
        |ORDER BY doc_id, frame_idx""".stripMargin) { (s, d) =>
      Multimodal.frameSample(t(s, d, "documents"), "text",
          frameSize = 32, k = 4)
        .select(col("doc_id"), col("frame_idx").cast("int").as("frame_idx"),
          md5(col("frame").cast("binary")).as("frame_digest"))
        .orderBy("doc_id", "frame_idx")
    },

    // ---- multimodal decode honesty: the oracle distinguishes the REAL
    // imageio paths (per container: png AND jpeg), the REAL javax.sound
    // WAV path, the REAL MP4 container-metadata path, and the byte-stub
    // fallback by row counts. The corpus text payloads can never decode
    // as images, audio, or an ISO BMFF box tree (no reader/parser
    // accepts them → codec="stub"); deterministic in-engine fixtures
    // MUST come back through their real codec with exact measurements:
    // 8 PNGs (widths 2..9 → sum 44), 4 JPEGs (widths 12..15 → sum 54 —
    // lossy pixels, exact dimensions), 6 PCM WAVs ((i+1)·800 samples at
    // 8 kHz → durations 100..600 ms, sum 2100), 5 MP4s (16(i+1)×9(i+1)
    // px, 250(i+1) ms → width sum 240, duration sum 3750), and ONE
    // moof-fragmented MP4 whose mvhd duration is a lie — parseMp4Meta
    // must REFUSE it (mvex marker), landing it in stub: count+1. If any
    // real codec silently degrades to the stub (or vice versa, or jpeg
    // rides the png label), a count, a width sum, or a duration sum
    // shifts and the hash compare fails. Fixture constants are
    // engine-embedded like the LSH hyperplanes below, so the oracle
    // states them literally.
    Q("x_mm_decode_codecs",
      """SELECT codec, n, total_width, total_duration_ms FROM (
        |  SELECT 'png' AS codec, CAST(8 AS BIGINT) AS n,
        |         CAST(44 AS BIGINT) AS total_width,
        |         CAST(0 AS BIGINT) AS total_duration_ms
        |  UNION ALL
        |  SELECT 'jpeg', CAST(4 AS BIGINT), CAST(54 AS BIGINT),
        |         CAST(0 AS BIGINT)
        |  UNION ALL
        |  SELECT 'wav', CAST(6 AS BIGINT), CAST(0 AS BIGINT),
        |         CAST(2100 AS BIGINT)
        |  UNION ALL
        |  SELECT 'mp4', CAST(5 AS BIGINT), CAST(240 AS BIGINT),
        |         CAST(3750 AS BIGINT)
        |  UNION ALL
        |  SELECT 'stub', CAST(count(*) + 1 AS BIGINT), CAST(0 AS BIGINT),
        |         CAST(0 AS BIGINT)
        |  FROM documents)
        |ORDER BY codec""".stripMargin) { (s, d) =>
      import s.implicits._
      def render(w: Int, h: Int, seed: Int, fmt: String): Array[Byte] = {
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        for (y <- 0 until h; x <- 0 until w)
          img.setRGB(x, y, (x * 37 + y * 101 + seed * 13) & 0xffffff)
        val baos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, fmt, baos)
        baos.toByteArray
      }
      val pngs = (0 until 8).map { i =>
        (1000000000L + i, render(i + 2, i + 3, i, "png"))
      }
      val jpegs = (0 until 4).map { i =>
        (1500000000L + i, render(i + 12, i + 13, i, "jpg"))
      }
      val wavs = (0 until 6).map { i =>
        (2000000000L + i, Multimodal.syntheticWav(i, (i + 1) * 800))
      }
      val mp4s = (0 until 5).map { i =>
        (3000000000L + i,
          Multimodal.syntheticMp4(250 * (i + 1), 16 * (i + 1), 9 * (i + 1)))
      }
      val fragmented = Seq((3900000000L,
        Multimodal.syntheticMp4(1000, 64, 36, fragmented = true)))
      val docs = t(s, d, "documents")
        .select(col("doc_id").as("media_id"), col("text").cast("binary").as("bin"))
      val all = docs.unionByName(
        (pngs ++ jpegs ++ wavs ++ mp4s ++ fragmented).toDF("media_id", "bin"))
      Multimodal.decodeMedia(all, "media_id", "bin").toDF()
        .groupBy("codec")
        .agg(count(lit(1)).as("n"),
          coalesce(sum("width"), lit(0)).cast("long").as("total_width"),
          coalesce(sum("duration_ms"), lit(0)).cast("long")
            .as("total_duration_ms"))
        .orderBy("codec")
    },

    // ---- ANN: random-hyperplane LSH bucket + exact cosine in-bucket ------
    Q("x_sim_ann_lsh", {
      val planes = Similarity.hyperplanes(4, 64)
      val bucketExpr = planesSql(planes).mkString(" || ")
      s"""WITH b AS (SELECT vec_id, embedding, $bucketExpr AS bucket FROM embeddings),
         |qb AS (SELECT bucket FROM b WHERE vec_id = 0),
         |cand AS (SELECT vec_id, embedding FROM b WHERE bucket = (SELECT bucket FROM qb)),
         |e AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
         |             generate_subscripts(embedding, 1) AS i FROM cand),
         |q AS (SELECT CAST(unnest(embedding) AS DOUBLE) AS v,
         |             generate_subscripts(embedding, 1) AS i
         |      FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id,
         |       round(sum(e.v * q.v)
         |             / nullif(sqrt(sum(e.v * e.v)) * sqrt(sum(q.v * q.v)), 0) + 1e-7, 4)
         |         AS cosine
         |FROM e JOIN q ON e.i = q.i
         |GROUP BY e.vec_id ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin
    }) { (s, d) =>
      val corpus = t(s, d, "embeddings")
      val planes = Similarity.hyperplanes(4, 64)
      val qv = corpus.filter(col("vec_id") === 0)
        .select("embedding").first().getSeq[Float](0).map(_.toDouble)
      val qBucket = planes.map(p =>
        if (p.zip(qv).map { case (w, x) => x * w }.sum > 0) "1" else "0").mkString
      val q = array(qv.map(lit): _*)
      corpus
        .withColumn("bucket", Similarity.lshBucket(col("embedding"), planes))
        .filter(col("bucket") === qBucket)
        .select(col("vec_id"),
          Fp.r(Similarity.cosineCodegen(col("embedding"), q), 4).as("cosine"))
        .orderBy(col("cosine").desc, col("vec_id")).limit(10)
    },

    // Multiprobe ANN: the query's exact bucket PLUS the 2 buckets across
    // its nearest-margin planes (query-directed multiprobe — recall
    // recovered by probing neighbor buckets instead of dropping signature
    // bits). The oracle reproduces the margin ranking and bit flips in SQL
    // so the probe set, candidates, and top-k all hash-match.
    Q("x_sim_ann_multiprobe", {
      val planes = Similarity.hyperplanes(4, 64)
      val bucketExpr = planesSql(planes).mkString(" || ")
      val projVals = planes.zipWithIndex.map { case (p, k) =>
        s"($k, (SELECT ${planeProjSql(p)} FROM q))"
      }.mkString(",\n         |  ")
      s"""WITH b AS (SELECT vec_id, embedding, $bucketExpr AS bucket FROM embeddings),
         |q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
         |m(k, proj) AS (VALUES
         |  $projVals),
         |flips AS (SELECT k FROM m ORDER BY abs(proj), k LIMIT 2),
         |qb AS (SELECT $bucketExpr AS bucket FROM q),
         |pb AS (SELECT bucket FROM qb
         |       UNION
         |       SELECT substr(qb.bucket, 1, f.k) ||
         |              (CASE WHEN substr(qb.bucket, f.k + 1, 1) = '1'
         |                    THEN '0' ELSE '1' END) ||
         |              substr(qb.bucket, f.k + 2)
         |       FROM qb, flips f),
         |cand AS (SELECT vec_id, embedding FROM b
         |         WHERE bucket IN (SELECT bucket FROM pb)),
         |e AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
         |             generate_subscripts(embedding, 1) AS i FROM cand),
         |qe AS (SELECT CAST(unnest(embedding) AS DOUBLE) AS v,
         |              generate_subscripts(embedding, 1) AS i FROM q)
         |SELECT e.vec_id,
         |       round(sum(e.v * qe.v)
         |             / nullif(sqrt(sum(e.v * e.v)) * sqrt(sum(qe.v * qe.v)), 0) + 1e-7, 4)
         |         AS cosine
         |FROM e JOIN qe ON e.i = qe.i
         |GROUP BY e.vec_id ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin
    }) { (s, d) =>
      val corpus = t(s, d, "embeddings")
      val planes = Similarity.hyperplanes(4, 64)
      val qv = corpus.filter(col("vec_id") === 0)
        .select("embedding").first().getSeq[Float](0).map(_.toDouble)
      val buckets = Similarity.probeBuckets(qv, planes, probes = 3)
      val q = array(qv.map(lit): _*)
      corpus
        .withColumn("bucket", Similarity.lshBucket(col("embedding"), planes))
        .filter(col("bucket").isin(buckets: _*))
        .select(col("vec_id"),
          Fp.r(Similarity.cosineCodegen(col("embedding"), q), 4).as("cosine"))
        .orderBy(col("cosine").desc, col("vec_id")).limit(10)
    },

    // IVF ANN — now FULLY oracle-checked: the output rows are the exact
    // cosine top-10 (SQL-expressible), and `ivf_overlap_ok` certifies the
    // trained index's recall: 1 iff |IVF(nprobe=2) top-10 ∩ exact top-10|
    // ≥ 5 (measured 7 at sf0.01; ≥5 leaves FP-jitter margin while still
    // proving 2-of-8 probed cells find most true neighbors). The k-means
    // training itself isn't SQL-expressible, so the RECALL is what the
    // oracle pins down.
    Q("x_sim_ivf_ann",
      """WITH e AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
        |                  generate_subscripts(embedding, 1) AS i FROM embeddings),
        |q AS (SELECT CAST(unnest(embedding) AS DOUBLE) AS v,
        |             generate_subscripts(embedding, 1) AS i
        |      FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id,
        |       round(sum(e.v * q.v)
        |             / nullif(sqrt(sum(e.v * e.v)) * sqrt(sum(q.v * q.v)), 0) + 1e-7, 4)
        |         AS cosine,
        |       1 AS ivf_overlap_ok
        |FROM e JOIN q ON e.i = q.i
        |GROUP BY e.vec_id ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin) { (s, d) =>
      // train + search scan the corpus ~7 times; one persist serves all
      // (at warehouse scale the trained index is written partitioned by
      // cell instead — see Ivf scaladoc)
      val corpus = t(s, d, "embeddings").persist()
      val centroids = graft.ext.Ivf.train(corpus, "embedding", "vec_id",
        k = 8, iters = 2)
      val qv = corpus.filter(col("vec_id") === 0)
        .select("embedding").first().getSeq[Float](0).map(_.toDouble)
      val ivfIds = graft.ext.Ivf.annTopK(corpus, "embedding", "vec_id",
        centroids, qv, k = 10, nprobe = 2)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      // collect the exact top-10 ONCE and emit it as a local relation —
      // returning the lazy exact-scan DF would re-run the corpus scan
      // when the caller executes the result
      val exactRows = exactCosTop(corpus, qv, 10).collect()
      val ok = if ((ivfIds & exactRows.map(_.getLong(0)).toSet).size >= 5) 1 else 0
      import s.implicits._
      exactRows.map(r => (r.getLong(0), r.getDouble(1), ok)).toSeq
        .toDF("vec_id", "cosine", "ivf_overlap_ok")
        .orderBy(col("cosine").desc, col("vec_id"))
    },

    // Batch IVF ANN (bulk retrieval: top-3 neighbors for EVERY query in a
    // set, candidates from an equi-join on probed cells — never
    // queries × corpus). Output rows are the exact per-query top-3;
    // `batch_recall_ok` certifies aggregate recall of the nprobe=2 cell
    // join: 1 iff Σ|ann∩exact| ≥ 8 of 15 (measured 11 at sf0.01 — recall
    // varies per query, so the certificate aggregates).
    Q("x_sim_ivf_batch",
      """WITH q AS (SELECT vec_id AS q_id, embedding AS qemb FROM embeddings
        |           WHERE vec_id < 5),
        |e AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
        |             generate_subscripts(embedding, 1) AS i FROM embeddings),
        |qe AS (SELECT q_id, CAST(unnest(qemb) AS DOUBLE) AS v,
        |              generate_subscripts(qemb, 1) AS i FROM q),
        |cos AS (SELECT qe.q_id, e.vec_id AS nbr_id,
        |         round(sum(e.v * qe.v)
        |               / nullif(sqrt(sum(e.v * e.v)) * sqrt(sum(qe.v * qe.v)), 0) + 1e-7, 4)
        |           AS cosine
        |        FROM e JOIN qe ON e.i = qe.i GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY q_id
        |        ORDER BY cosine DESC, nbr_id) AS rn FROM cos)
        |SELECT q_id, nbr_id, cosine, 1 AS batch_recall_ok
        |FROM r WHERE rn <= 3 ORDER BY q_id, nbr_id""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val corpus = t(s, d, "embeddings").persist()
      val centroids = graft.ext.Ivf.train(corpus, "embedding", "vec_id",
        k = 8, iters = 2)
      val queries = corpus.filter(col("vec_id") < 5)
      val ann = graft.ext.Ivf.annJoin(queries, corpus, "embedding",
        "vec_id", centroids, k = 3, nprobe = 2)
        .select("q_id", "nbr_id").collect()
        .groupBy(_.getLong(0)).view
        .mapValues(_.map(_.getLong(1)).toSet).toMap
      val q = broadcast(queries.select(col("vec_id").as("q_id"),
        col("embedding").as("__q")))
      val w = Window.partitionBy("q_id")
        .orderBy(col("cosine").desc, col("nbr_id"))
      val exactRows = corpus
        .select(col("vec_id").as("nbr_id"), col("embedding").as("__e"))
        .crossJoin(q)
        .select(col("q_id"), col("nbr_id"),
          Fp.r(Similarity.cosineCodegen(col("__q"), col("__e")), 4)
            .as("cosine"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= 3).drop("__rn")
        .collect()
      val overlap = exactRows.groupBy(_.getLong(0)).map { case (qid, rs) =>
        (ann.getOrElse(qid, Set.empty) & rs.map(_.getLong(1)).toSet).size
      }.sum
      val ok = if (overlap >= 8) 1 else 0
      import s.implicits._
      exactRows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), ok))
        .toSeq.toDF("q_id", "nbr_id", "cosine", "batch_recall_ok")
        .orderBy("q_id", "nbr_id")
    },

    // Product-quantized ANN — FULLY oracle-checked: output rows are the
    // exact L2 top-10; `adc_recall100_ok` certifies the two-stage search
    // contract (ADC shortlist → exact re-rank): 1 iff the ADC shortlist
    // contains ≥ 5 of the true top-10. Codebook size and shortlist depth
    // are corpus-derived — k = clamp(n/64, 16, 256) sub-codewords and
    // depth = max(100, n/100) — see the in-body comment for why the fixed
    // m=8/k=16/top-100 geometry broke at a 10× corpus. The scale story:
    // 4·dim bytes/vector compress to m code bytes, ADC is m table
    // lookups, and the exact re-rank touches only the shortlist.
    Q("x_sim_pq_ann",
      """WITH e AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
        |                  generate_subscripts(embedding, 1) AS i FROM embeddings),
        |q AS (SELECT CAST(unnest(embedding) AS DOUBLE) AS v,
        |             generate_subscripts(embedding, 1) AS i
        |      FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id,
        |       round(sum((e.v - q.v) * (e.v - q.v)) + 1e-7, 4) AS l2sq,
        |       1 AS adc_recall100_ok
        |FROM e JOIN q ON e.i = q.i
        |GROUP BY e.vec_id ORDER BY l2sq ASC, vec_id LIMIT 10""".stripMargin) { (s, d) =>
      val corpus = t(s, d, "embeddings").persist()
      // geometry from footer/catalog metadata, not a count job (RowCounts)
      val nCorpus = graft.core.RowCounts.hint(corpus)
      val book = graft.ext.Pq.train(corpus, "embedding", "vec_id",
        m = 8, k = math.min(256, math.max(16, (nCorpus / 64).toInt)), iters = 2)
      val qv = corpus.filter(col("vec_id") === 0)
        .select("embedding").first().getSeq[Float](0).map(_.toDouble)
      // Count-derived PQ geometry (same discipline as the LSH signature
      // width above): codebook resolution k = clamp(n/64, 16, 256) and
      // rerank depth = max(100, 1% of n). With BOTH pinned, the
      // >=5-of-10 certificate that held at sf0.1 broke at a 10x corpus
      // (measured): quantization cells stay constant-size while
      // neighbor density rises, so the fixed-depth ADC shortlist
      // silently loses recall. With the scaled rule the certificate
      // holds at every tested SF (sf0.01/0.1/1/10). n <= 1024 floors at
      // the old k=16, so small-SF results only change where the finer
      // codebook strictly helps.
      val depth = math.max(100, nCorpus / 100).toInt
      val shortlist = graft.ext.Pq.adcTopK(
          graft.ext.Pq.encode(corpus, "embedding", book),
          "pq_code", "vec_id", book, qv, k = depth)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      val exactRows = exactL2Top(corpus, qv, 10).collect()
      val ok =
        if ((shortlist & exactRows.map(_.getLong(0)).toSet).size >= 5) 1 else 0
      import s.implicits._
      exactRows.map(r => (r.getLong(0), r.getDouble(1), ok)).toSeq
        .toDF("vec_id", "l2sq", "adc_recall100_ok")
        .orderBy(col("l2sq").asc, col("vec_id"))
    },

    // Composed IVF-PQ index — now FULLY oracle-checked like x_sim_pq_ann:
    // exact L2 top-10 rows + `ivfpq_recall50_ok` = 1 iff the probed
    // (nprobe=4 of 8 cells) residual-ADC top-50 shortlist hits ≥ 3 of
    // the true top-10 — the two-stage contract at a threshold that holds
    // at EVERY tested scale (measured 9 at sf0.01, 5 at sf0.1 with the
    // k=64 residual codebook; top-10-direct thresholds were sf0.01-only).
    Q("x_sim_ivfpq_ann",
      """WITH e AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
        |                  generate_subscripts(embedding, 1) AS i FROM embeddings),
        |q AS (SELECT CAST(unnest(embedding) AS DOUBLE) AS v,
        |             generate_subscripts(embedding, 1) AS i
        |      FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id,
        |       round(sum((e.v - q.v) * (e.v - q.v)) + 1e-7, 4) AS l2sq,
        |       1 AS ivfpq_recall50_ok
        |FROM e JOIN q ON e.i = q.i
        |GROUP BY e.vec_id ORDER BY l2sq ASC, vec_id LIMIT 10""".stripMargin) { (s, d) =>
      val corpus = t(s, d, "embeddings").persist()
      val (index, meta) = graft.ext.IvfPq.build(corpus, "embedding",
        "vec_id", nCells = 8, m = 8, k = 64, iters = 2)
      val qv = corpus.filter(col("vec_id") === 0)
        .select("embedding").first().getSeq[Float](0).map(_.toDouble)
      val shortlist = graft.ext.IvfPq.search(index, meta, "vec_id", qv,
        k = 50, nprobe = 4)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      val exactRows = exactL2Top(corpus, qv, 10).collect()
      val ok =
        if ((shortlist & exactRows.map(_.getLong(0)).toSet).size >= 3) 1 else 0
      import s.implicits._
      exactRows.map(r => (r.getLong(0), r.getDouble(1), ok)).toSeq
        .toDF("vec_id", "l2sq", "ivfpq_recall50_ok")
        .orderBy(col("l2sq").asc, col("vec_id"))
    },

    // k-NN join: top-3 cosine neighbors for EVERY vector, candidates
    // restricted to the vector's LSH bucket (the all-pairs kNN shape at
    // scale: bucket equi-join + per-key top-k, never a cross product).
    // Cosines round to 4 decimals BEFORE ranking so the cut is
    // reproducible across engines.
    //
    // SCALE-ADAPTIVE GEOMETRY, reproduced in both engines: the signature
    // width derives from the corpus count (bits = clamp(ceil(log2(
    // n/512)), 4, 12)) so in-bucket pairs stay ~linear in n — measured
    // 53x wall-clock at a pinned width on a 100x corpus. Both sides
    // compute the bucket as a PREFIX of the same 12-plane signature
    // (hyperplanes(k) is a prefix of hyperplanes(12): one seeded RNG
    // stream), so bucket assignment matches exactly at every SF. At the
    // driver's SFs (n <= 2000) the clamp floors at bits=4 — identical
    // results to the fixed-width spelling. The clamped log2 keeps the
    // engines' float rounding harmless: a disagreement needs n/512 to
    // land within 1 ulp of an exact power of two.
    Q("x_sim_knn_join", {
      val sigExpr = planesSql(Similarity.hyperplanes(12, 64)).mkString(" || ")
      s"""WITH nn AS (SELECT greatest(4, least(12,
         |              CAST(ceil(log2(count(*) / 512.0)) AS INT))) AS bits
         |            FROM embeddings),
         |b AS (SELECT vec_id, embedding,
         |             substr($sigExpr, 1, (SELECT bits FROM nn)) AS bucket
         |      FROM embeddings),
         |pr AS (SELECT a.vec_id AS vec_id, bb.vec_id AS nbr_id,
         |              a.embedding AS a_emb, bb.embedding AS b_emb
         |       FROM b a JOIN b bb
         |         ON a.bucket = bb.bucket AND a.vec_id <> bb.vec_id),
         |fl AS (SELECT vec_id, nbr_id,
         |              CAST(unnest(a_emb) AS DOUBLE) AS av,
         |              CAST(unnest(b_emb) AS DOUBLE) AS bv
         |       FROM pr),
         |cs AS (SELECT vec_id, nbr_id,
         |              round(sum(av * bv) / nullif(sqrt(sum(av * av)) * sqrt(sum(bv * bv)), 0) + 1e-7, 4) AS cosine
         |       FROM fl GROUP BY vec_id, nbr_id),
         |rk AS (SELECT *, row_number() OVER (PARTITION BY vec_id
         |         ORDER BY cosine DESC, nbr_id) AS rn FROM cs)
         |SELECT vec_id, nbr_id, cosine, CAST(rn AS INT) AS rank
         |FROM rk WHERE rn <= 3 ORDER BY vec_id, rank""".stripMargin
    }) { (s, d) =>
      val corpus = t(s, d, "embeddings")
      val bits = Similarity.autoBits(graft.core.RowCounts.hint(corpus), 512, maxBits = 12)
      Similarity.knnJoin(corpus, "embedding", "vec_id",
          k = 3, bits = bits, dim = 64, cosineTransform = Fp.r(_, 4))
        .orderBy("vec_id", "rank")
    },

    // Embedding near-dup pairs inside LSH buckets (threshold on raw
    // cosine). Same scale-adaptive signature width as x_sim_knn_join:
    // count-derived bits, bucket = prefix of the shared 12-plane
    // signature, engines agree exactly at every SF.
    Q("x_emb_neardup", {
      val sigExpr = planesSql(Similarity.hyperplanes(12, 64)).mkString(" || ")
      s"""WITH nn AS (SELECT greatest(4, least(12,
         |              CAST(ceil(log2(count(*) / 512.0)) AS INT))) AS bits
         |            FROM embeddings),
         |b AS (SELECT vec_id, embedding,
         |             substr($sigExpr, 1, (SELECT bits FROM nn)) AS bucket
         |      FROM embeddings),
         |cand AS (SELECT a.vec_id AS a_id, a.embedding AS a_emb,
         |                b.vec_id AS b_id, b.embedding AS b_emb
         |         FROM b a JOIN b b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
         |fl AS (SELECT a_id, b_id,
         |              CAST(unnest(a_emb) AS DOUBLE) AS av,
         |              CAST(unnest(b_emb) AS DOUBLE) AS bv
         |       FROM cand),
         |cs AS (SELECT a_id, b_id,
         |              sum(av * bv) / nullif(sqrt(sum(av * av)) * sqrt(sum(bv * bv)), 0) AS c
         |       FROM fl GROUP BY a_id, b_id)
         |SELECT a_id, b_id, round(c + 1e-7, 4) AS cosine
         |FROM cs WHERE c >= 0.4 ORDER BY a_id, b_id""".stripMargin
    }) { (s, d) =>
      val corpus = t(s, d, "embeddings")
      val bits = Similarity.autoBits(graft.core.RowCounts.hint(corpus), 512, maxBits = 12)
      Similarity.nearDupEmbeddings(corpus, "embedding", "vec_id",
        threshold = 0.4, bits = bits, dim = 64)
        .select(col("a_id"), col("b_id"), Fp.r(col("cosine"), 4).as("cosine"))
        .orderBy("a_id", "b_id")
    },

    // SemDeDup (Abbas et al. 2023): k-means the embedding space, drop
    // within-cluster near-duplicates (cosine >= 0.4) keeping the smallest
    // id. FULLY oracle-checked — the DuckDB oracle re-derives the
    // identical model: same salted-md5 seed order, same 2 Lloyd
    // iterations with means rounded to 6 decimals (the engine trains with
    // roundMeansTo=6 so summation order can't flip a near-tied argmin),
    // same lowest-index tiebreak, then the same within-cell pair join.
    // k = autoCells(n) ≈ √n on BOTH sides (corpus-derived geometry, the
    // r8 ANN discipline): candidate pairs grow as n^1.5, not n².
    Q("x_semdedup", SemDedupOracle.sql(tau = 0.4, iters = 2)) { (s, d) =>
      val corpus = t(s, d, "embeddings").persist()
      val k = graft.ext.Ivf.autoCells(graft.core.RowCounts.hint(corpus))
      graft.ext.SemDedup.dedupFlags(corpus, "embedding", "vec_id",
        tau = 0.4, k = k, iters = 2).orderBy("vec_id")
    },

    // PageRank over the part co-purchase graph (parts sharing an order,
    // symmetrized) — the source-centrality weighting a crawl-curation
    // pipeline applies to its link graph. 5 synchronous iterations,
    // mirrored CTE-for-CTE in the oracle; output is rank × N (≈1 scale)
    // rounded to 4, top-20 with node tiebreak. The edge expansion is the
    // j_cooccurrence HOF shape (per-order sorted sets, pairs as a
    // projection — no self-join); each iteration is ONE shuffle (ranks
    // joined to src-keyed edges, re-aggregated by dst) — see Graph.
    Q("x_pagerank", PageRankOracle.sql(iters = 5)) { (s, d) =>
      val sets = t(s, d, "lineitem").select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
      // both directions in ONE HOF pass (a union of an i<j half with its
      // swap would re-execute the basket aggregation twice)
      val edges = sets.select(explode(flatten(
        transform(col("ps"), a =>
          transform(filter(col("ps"), b => b =!= a),
            b => struct(a.as("src"), b.as("dst")))))).as("p"))
        .select(col("p.src"), col("p.dst"))
      val ranks = graft.ext.Graph.pageRank(edges, "src", "dst", iters = 5)
      val n = broadcast(ranks.agg(count(lit(1)).cast("double").as("__n")))
      ranks.crossJoin(n)
        .select(col("node").as("part_key"),
          Fp.r(col("pr") * col("__n"), 4).as("pr_scaled"))
        .orderBy(col("pr_scaled").desc, col("part_key"))
        .limit(20)
    },
  )
}

/** DuckDB mirror of [[graft.ext.SemDedup.dedupFlags]] — the k-means
  * training loop unrolled as chained CTEs (assignment by argmin over the
  * centroid list, means re-derived per (cell, pos) and rounded exactly
  * like `Ivf.train(roundMeansTo = 6)`, empty cells keeping their previous
  * centroid). */
private[queries] object SemDedupOracle {
  private def assign(k: String, prev: String): String =
    s"""a$k AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT e.vec_id, c.cell,
       |           row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |             list_sum(list_transform(list_zip(e.ed, c.cent),
       |               x -> (x[1]-x[2])*(x[1]-x[2]))), c.cell) AS rn
       |    FROM ed e CROSS JOIN c$prev c) WHERE rn = 1)""".stripMargin
  private def means(k: String, prev: String): String =
    s"""m$k AS (
       |  SELECT a.cell, f.pos, round(avg(f.v) + 1e-9, 6) AS m
       |  FROM a$k a JOIN fl f USING (vec_id) GROUP BY 1, 2),
       |mc$k AS (SELECT cell, list(m ORDER BY pos) AS cent FROM m$k
       |         GROUP BY cell),
       |c$k AS (
       |  SELECT p.cell, coalesce(mc.cent, p.cent) AS cent
       |  FROM c$prev p LEFT JOIN mc$k mc ON p.cell = mc.cell)""".stripMargin

  def sql(tau: Double, iters: Int): String = {
    val steps = (1 to iters).flatMap(i =>
      Seq(assign(i.toString, (i - 1).toString),
        means(i.toString, (i - 1).toString))) :+
      assign("f", iters.toString)
    val seedOrd =
      "md5('graft-kmeans-init'||'|'||CAST(vec_id AS VARCHAR)), vec_id"
    s"""WITH nk AS (SELECT least(65536, greatest(4,
       |              CAST(round(sqrt(count(*)), 0) AS INT))) AS k
       |            FROM embeddings),
       |ed AS (SELECT vec_id, list_transform(embedding,
       |                v -> CAST(v AS DOUBLE)) AS ed FROM embeddings),
       |fl AS (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
       |              CAST(unnest(embedding) AS DOUBLE) AS v
       |       FROM embeddings),
       |c0 AS (
       |  SELECT CAST(row_number() OVER (ORDER BY $seedOrd) - 1 AS INT)
       |           AS cell, ed AS cent
       |  FROM ed
       |  QUALIFY row_number() OVER (ORDER BY $seedOrd)
       |          <= (SELECT k FROM nk)),
       |${steps.mkString(",\n")},
       |pairs AS (
       |  SELECT a.vec_id AS a_id, b.vec_id AS b_id
       |  FROM (SELECT af.vec_id, af.cell, ed.ed FROM af JOIN ed
       |        USING (vec_id)) a
       |  JOIN (SELECT af.vec_id, af.cell, ed.ed FROM af JOIN ed
       |        USING (vec_id)) b
       |    ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  WHERE round(
       |          list_sum(list_transform(list_zip(a.ed, b.ed), x -> x[1]*x[2]))
       |          / nullif(sqrt(list_sum(list_transform(a.ed, x -> x*x)))
       |                 * sqrt(list_sum(list_transform(b.ed, x -> x*x))), 0)
       |          + 1e-9, 6)
       |        >= $tau),
       |dropped AS (SELECT DISTINCT b_id FROM pairs)
       |SELECT af.vec_id, af.cell,
       |       CASE WHEN d.b_id IS NULL THEN 1 ELSE 0 END AS kept
       |FROM af LEFT JOIN dropped d ON af.vec_id = d.b_id
       |ORDER BY af.vec_id""".stripMargin
  }
}

/** DuckDB mirror of [[graft.ext.Graph.pageRank]] over the part
  * co-purchase graph: the synchronous iterations unrolled as chained
  * CTEs (left join keeps contribution-less nodes at the teleport term,
  * exactly the engine's coalesce). */
private[queries] object PageRankOracle {
  private def iter(k: Int): String =
    s"""p$k AS (
       |  SELECT deg.src AS node,
       |         (SELECT (1 - 0.85)/n FROM n) + 0.85 * coalesce(s.c, 0) AS pr
       |  FROM deg LEFT JOIN (
       |    SELECT e.dst AS node, sum(p.pr / d2.outdeg) AS c
       |    FROM edges e JOIN p${k - 1} p ON e.src = p.node
       |      JOIN deg d2 ON e.src = d2.src
       |    GROUP BY e.dst) s ON deg.src = s.node)""".stripMargin

  def sql(iters: Int): String =
    s"""WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |edges AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |          FROM items a JOIN items b
       |            ON a.l_orderkey = b.l_orderkey
       |           AND a.l_partkey <> b.l_partkey),
       |deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS outdeg
       |        FROM edges GROUP BY 1),
       |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM deg),
       |p0 AS (SELECT src AS node, (SELECT 1.0/n FROM n) AS pr FROM deg),
       |${(1 to iters).map(iter).mkString(",\n")}
       |SELECT node AS part_key,
       |       round(pr * (SELECT n FROM n) + 1e-7, 4) AS pr_scaled
       |FROM p$iters ORDER BY pr_scaled DESC, node LIMIT 20""".stripMargin
}
