package graft.security

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Row-level security — the reference's SECURITY POLICY on
  * `dim_geographie` (reference `Terraform/sql/011_security_rls.sql:
  * 165-214`) re-expressed as an explicit per-user view factory.
  *
  * Semantics preserved exactly:
  *  - a user with zone rows limited to departments sees only those rows;
  *  - a zone row with NULL department grants the whole region;
  *  - a login with NO zone rows gets full access (the reference's
  *    "not registered → full access" NOT EXISTS branch, `011:174-178`).
  *
  * Spark has no session-user concept at the storage layer, so the user is
  * an explicit parameter and the filter is injected when the view is
  * built; the user's (tiny) zone list is collected once — one driver
  * job — and baked in as a literal IN filter, which reaches the parquet
  * scan as a pushed filter under whatever query runs on top of the view.
  */
object Rls {

  /** zones: (login, departement_code nullable). The user's zone rows are
    * tiny (a handful of departments), so ONE collect() answers both
    * control questions — registered at all? wildcard NULL row? — in a
    * single driver job, and the surviving department list rides into the
    * semi-join as a literal in-list the optimizer can push to the scan. */
  def filterForUser(geo: DataFrame, zones: DataFrame, login: String,
      deptCol: String = "departement_code"): DataFrame = {
    val userZones = zones.filter(col("login") === login)
      .select(col(deptCol).as("__rls_dept"))
      .collect().map(r => Option(r.get(0))) // dept type varies per schema
    if (userZones.isEmpty) geo // not registered → full access
    else if (userZones.contains(None)) geo // NULL zone row → whole region
    else geo.filter(col(deptCol).isin(userZones.flatten.toIndexedSeq: _*))
  }

  /** Session-catalog view factory: registers `<view>_for_<login>` with the
    * RLS filter baked in — the engine-side equivalent of the SQL Server
    * policy firing transparently for each user. */
  def createUserView(spark: SparkSession, viewName: String, geo: DataFrame,
      zones: DataFrame, login: String): String = {
    val safe = login.replaceAll("[^A-Za-z0-9_]", "_")
    val name = s"${viewName}_for_$safe"
    filterForUser(geo, zones, login).createOrReplaceTempView(name)
    name
  }
}

/** Access-audit views (reference J10: multi-way metadata joins with
  * STRING_AGG CTEs, `011:281-333`). */
object AccessAudit {
  import org.apache.spark.sql.functions._

  /** Per-employee audit row: agency info + comma-joined zone list
    * ('REGION_ENTIERE' for NULL zones), left-joined so employees without
    * zones still appear. */
  def employeeAccess(employes: DataFrame, agences: DataFrame,
      zones: DataFrame): DataFrame = {
    val zonesAgg = zones.groupBy("login")
      .agg(array_join(sort_array(collect_list(
        coalesce(col("departement_code"), lit("REGION_ENTIERE")))), ", ")
        .as("zones_autorisees"),
        count(lit(1)).as("nb_zones"))
    employes
      .join(agences.select(col("agence_id"), col("nom").as("agence_nom"),
        col("classe").as("agence_classe")), Seq("agence_id"), "left")
      .join(zonesAgg, Seq("login"), "left")
      .withColumn("zones_autorisees",
        coalesce(col("zones_autorisees"), lit("NON_ENREGISTRE")))
  }
}

/** Deterministic generators for the security hierarchy (reference
  * `load_security.py:184-350`): agencies from communes with ≥10k
  * population, sized GRANDE/MOYENNE/PETITE; one regional director, one
  * per-department director, one director per agency, and a round-robin
  * collaborator assignment. Logins are accent-folded `prenom.nom`.
  */
object SecurityGenerators {
  import java.text.Normalizer

  /** Accent-folded lowercase login (reference NFKD normalize). */
  def foldLogin(prenom: String, nom: String): String = {
    def fold(s: String) = Normalizer.normalize(s, Normalizer.Form.NFKD)
      .replaceAll("\\p{M}", "").toLowerCase.replaceAll("[^a-z0-9]", "")
    s"${fold(prenom)}.${fold(nom)}"
  }

  /** Column form of [[foldLogin]], composed from the codegen
    * [[graft.functions.AccentFold]] expression + built-ins instead of a
    * Scala UDF, so login derivation stays inside whole-stage codegen.
    * Sessions come from `GraftSession`, whose [[graft.plans.GraftExtensions]]
    * injects `accent_fold`; a foreign session adds
    * `spark.sql.extensions=graft.plans.GraftExtensions`. */
  def foldLoginCol(prenom: Column, nom: Column): Column = {
    def fold(c: Column): Column = regexp_replace(
      lower(graft.functions.AccentFold.accentFold(c)), "[^a-z0-9]", "")
    concat_ws(".", fold(prenom), fold(nom))
  }

  /** Agency size class by commune population (reference thresholds). */
  def agencyClass(population: Int): (String, Int) =
    if (population >= 50000) ("GRANDE", 6)
    else if (population >= 15000) ("MOYENNE", 5)
    else ("PETITE", 3)

  /** Column form of [[agencyClass]]: the same population thresholds as
    * `when()` chains, so the generators stay codegen-pure (main carries
    * zero `udf()` calls). */
  private def agencyClassCols(population: Column): (Column, Column) = (
    when(population >= 50000, "GRANDE")
      .when(population >= 15000, "MOYENNE").otherwise("PETITE"),
    when(population >= 50000, 6)
      .when(population >= 15000, 5).otherwise(3))

  /** Agencies from a commune table: population ≥ 10k, deterministic order. */
  def agencies(communes: DataFrame): DataFrame = {
    val (cls, collabs) = agencyClassCols(col("population"))
    communes.filter(col("population") >= 10000)
      .orderBy(col("departement_code").asc, col("population").desc)
      .withColumn("classe", cls)
      .withColumn("nb_collaborateurs", collabs)
  }
}
