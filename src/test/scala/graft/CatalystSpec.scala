package graft

import org.apache.spark.sql.functions._
import graft.functions.AccentFold
import graft.plans.{GraftExtensions, RlsState}

/** Custom Catalyst pieces: the accent_fold Expression (codegen) and the
  * RLS injection Rule registered via SparkSessionExtensions. */
class CatalystSpec extends SparkSpec {
  import spark.implicits._

  test("accent_fold expression folds accents, null-safe, via Column API") {
    val df = Seq(Some("Jérôme Lefèvre"), Some("Édith"), None)
      .toDF("nom")
    val out = df.select(AccentFold.accentFold($"nom").as("folded"))
      .as[Option[String]].collect()
    assert(out.toSeq == Seq(Some("Jerome Lefevre"), Some("Edith"), None))
    // SQL registration path
    df.createOrReplaceTempView("noms")
    val sql = spark.sql("SELECT accent_fold(nom) AS f FROM noms WHERE nom IS NOT NULL")
      .as[String].collect()
    assert(sql.toSeq == Seq("Jerome Lefevre", "Edith"))
  }

  test("weighted_mean Aggregator: decimal-exact, null-safe, partition-stable") {
    import graft.functions.WeightedMean
    val df = Seq(
      ("a", Some(10.0), Some(2.0)),
      ("a", Some(40.0), Some(1.0)),
      ("a", None, Some(9.0)),       // null value ignored
      ("a", Some(99.0), None),      // null weight ignored
      ("a", Some(Double.NaN), Some(5.0)),  // non-finite skipped, no crash
      ("a", Some(1.0), Some(Double.PositiveInfinity)),
      ("b", None, None))            // all-null group -> null
      .toDF("g", "v", "w")
    def run(parts: Int) = df.repartition(parts).groupBy("g")
      .agg(WeightedMean.weightedMean($"v", $"w").as("wm"))
      .collect().map(r => r.getString(0) -> Option(r.get(1))).toMap
    val one = run(1)
    assert(one("a").contains(20.0)) // (10*2 + 40*1) / 3
    assert(one("b").isEmpty)
    // decimal accumulation: identical result under any partitioning
    assert(run(7) == one)
  }

  test("wrong function arity raises AnalysisException, not IndexOutOfBounds") {
    val e1 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT accent_fold('a', 'b')")
    }
    assert(e1.getMessage.contains("accent_fold"))
    val e2 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT vec_dot(array(1.0D))")
    }
    assert(e2.getMessage.contains("vec_dot"))
  }

  test("RLS rule injects the predicate transparently per session user") {
    // a fresh session (same SparkContext) so withExtensions takes effect —
    // getOrCreate() reuses the active session otherwise
    val prev = spark
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    val s2 = graft.core.GraftSession.builder("local[2]", 2)
      .withExtensions(new GraftExtensions).getOrCreate()
    try {
      import s2.implicits._
      Seq(("02", "Aisne"), ("59", "Nord"), ("62", "Pas-de-Calais"))
        .toDF("departement_code", "departement_nom")
        .createOrReplaceTempView("dim_geographie")
      RlsState.configure("dim_geographie", "departement_code",
        Map("jean.dupont" -> Some(Set("59"))))

      s2.conf.set("graft.rls.user", "jean.dupont")
      val scoped = s2.sql("SELECT departement_code FROM dim_geographie")
        .as[String].collect().toSet
      assert(scoped == Set("59"))
      // the SAME query text under another (unregistered) user: full access
      s2.conf.set("graft.rls.user", "sophie.martin")
      val full = s2.sql("SELECT departement_code FROM dim_geographie").count()
      assert(full == 3)
      // scoped user cannot see dept 62 even when asking for it
      s2.conf.set("graft.rls.user", "jean.dupont")
      val leak = s2.sql(
        "SELECT * FROM dim_geographie WHERE departement_code = '62'").count()
      assert(leak == 0)
      // extension-registered SQL function works too
      assert(s2.sql("SELECT accent_fold('Oîse') AS f").as[String].first() == "Oise")
    } finally {
      RlsState.clear()
      org.apache.spark.sql.SparkSession.setDefaultSession(prev)
      org.apache.spark.sql.SparkSession.setActiveSession(prev)
    }
  }
}
