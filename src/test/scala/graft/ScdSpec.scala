package graft

import org.apache.spark.sql.functions._
import graft.scd.Scd

/** SCD semantics (reference 010_scd_dimensions.sql behaviors + the
  * test_dwh.py invariants: est_actif ∈ {0,1}, version ≥ 1, one active row
  * per business key). */
class ScdSpec extends SparkSpec {
  import spark.implicits._

  private def dim = Scd.seed(
    Seq(("59", "Nord", "HDF"), ("02", "Aisne", "HDF"))
      .toDF("code", "nom", "region"), "2020-01-01")

  test("scd2 classifies unchanged / changed / brand-new in one pass") {
    val updates = Seq(
      ("59", "Nord-Renamed", "HDF"), // changed
      ("02", "Aisne", "HDF"),        // unchanged
      ("60", "Oise", "HDF"))         // brand new
      .toDF("code", "nom", "region")
    val out = Scd.scd2(dim, updates, Seq("code"), Seq("nom", "region"),
      "2024-06-01").cache()

    assert(out.count() == 4) // 02 kept, 59 closed + 59 v2, 60 new
    val closed = out.filter($"code" === "59" && $"est_actif" === 0).first()
    assert(closed.getAs[Int]("version") == 1)
    assert(closed.getAs[java.sql.Date]("date_fin_validite").toString == "2024-06-01")
    val nv = out.filter($"code" === "59" && $"est_actif" === 1).first()
    assert(nv.getAs[Int]("version") == 2 && nv.getAs[String]("nom") == "Nord-Renamed")
    val brandNew = out.filter($"code" === "60").first()
    assert(brandNew.getAs[Int]("version") == 1 && brandNew.getAs[Int]("est_actif") == 1)
    // invariants
    assert(out.filter(!$"est_actif".isin(0, 1)).count() == 0)
    assert(out.filter($"version" < 1).count() == 0)
    assert(Scd.current(out).groupBy("code").count().filter($"count" > 1).count() == 0)
  }

  test("scd2 second merge increments version again and keeps history") {
    val u1 = Seq(("59", "NordV2", "HDF")).toDF("code", "nom", "region")
    val v2 = Scd.scd2(dim, u1, Seq("code"), Seq("nom", "region"), "2024-06-01")
    val u2 = Seq(("59", "NordV3", "HDF")).toDF("code", "nom", "region")
    val v3 = Scd.scd2(v2, u2, Seq("code"), Seq("nom", "region"), "2024-07-01").cache()
    assert(v3.filter($"code" === "59").count() == 3) // v1, v2 closed, v3 active
    assert(v3.filter($"code" === "59" && $"est_actif" === 1)
      .first().getAs[Int]("version") == 3)
    // as-of returns the version valid at a date
    assert(Scd.asOf(v3, "2024-06-15").filter($"code" === "59")
      .first().getAs[String]("nom") == "NordV2")
  }

  test("scd1 overwrites in place with audit flag, null-safe") {
    val updates = Seq(("59", "Nord-New"), ("02", "Aisne"))
      .toDF("code", "nom")
    val out = Scd.scd1(dim.drop(Scd.Meta: _*), updates, Seq("code"), Seq("nom"))
      .cache()
    assert(out.filter($"code" === "59").first().getAs[String]("nom") == "Nord-New")
    assert(out.filter($"code" === "59").first().getAs[Int]("changed") == 1)
    assert(out.filter($"code" === "02").first().getAs[Int]("changed") == 0)
  }

  test("applyCdc: latest change wins, deletes are hard, inserts land") {
    val base = Seq(("a", 1), ("b", 2), ("c", 3)).toDF("k", "v")
    val changes = Seq(
      ("a", 10, 1, "U"), ("a", 11, 2, "U"), // seq 2 wins
      ("b", 0, 1, "D"),                     // hard delete
      ("d", 4, 1, "I"),                     // insert
      ("e", 5, 1, "I"), ("e", 0, 2, "D"))   // inserted then deleted → gone
      .toDF("k", "v", "seq", "op")
    val out = Scd.applyCdc(base, changes, Seq("k"), "seq")
      .as[(String, Int)].collect().toMap
    assert(out == Map("a" -> 11, "c" -> 3, "d" -> 4))
  }

  test("pitJoin picks the version valid at the fact date, left-null outside") {
    // fin = successor's debut, exactly what scd2 writes (exclusive end)
    val scd2 = Seq(
      ("59", "Nord v1", 1, "2020-01-01", "2022-01-01"),
      ("59", "Nord v2", 2, "2022-01-01", null),
      ("02", "Aisne", 1, "2020-01-01", null))
      .toDF("code", "nom", "version", "d0", "d1")
      .select($"code", $"nom", $"version",
        $"d0".cast("date").as("date_debut_validite"),
        $"d1".cast("date").as("date_fin_validite"))
    val fact = Seq(
      (1L, "59", "2021-06-01"),  // inside v1
      (2L, "59", "2022-06-01"),  // inside v2 (open-ended)
      (3L, "59", "2019-06-01"),  // before any version → nulls
      (4L, "02", "2024-01-01"),  // open-ended v1
      (5L, "59", "2022-01-01"))  // exactly ON the boundary → v2 ONLY
      .toDF("fact_id", "code", "ts")
      .select($"fact_id", $"code", $"ts".cast("date").as("ts"))
    val out = Scd.pitJoin(fact, scd2, Seq("code"), "ts")
      .select($"fact_id", $"nom", $"version")
      .as[(Long, Option[String], Option[Int])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L) == ((Some("Nord v1"), Some(1))))
    assert(out(2L) == ((Some("Nord v2"), Some(2))))
    assert(out(3L) == ((None, None)))
    assert(out(4L) == ((Some("Aisne"), Some(1))))
    assert(out(5L) == ((Some("Nord v2"), Some(2))))
    // exactly one row per fact: a boundary date must NOT match two
    // versions (fin is exclusive, matching scd2's close convention)
    assert(out.size == 5)
  }

  // event-time fixture: a 3-version chain for key 1 (v3 active), a
  // delete-closed key 2 (fin 2021-06-01 has no successor), key 3 a
  // single active version
  private def etDim = Seq(
    (1L, "A", 1, 0, "2020-01-01", "2021-01-01"),
    (1L, "B", 2, 0, "2021-01-01", "2022-01-01"),
    (1L, "C", 3, 1, "2022-01-01", null),
    (2L, "X", 1, 0, "2020-01-01", "2021-06-01"),
    (3L, "P", 1, 1, "2020-01-01", null))
    .toDF("k", "seg", "version", "est_actif", "deb", "fin")
    .select($"k", $"seg", $"version", $"est_actif",
      $"deb".cast("date").as("date_debut_validite"),
      $"fin".cast("date").as("date_fin_validite"))

  private def etRows(d: org.apache.spark.sql.DataFrame) =
    d.select($"k", $"seg", $"version", $"est_actif",
      $"date_debut_validite".cast("string"),
      $"date_fin_validite".cast("string"))
      .as[(Long, String, Int, Int, String, String)].collect().toSeq.sorted

  test("scd2CdcEventTime: a no-op feed reproduces the dimension " +
      "bit-identically (event-derivation round trip, deletes included)") {
    // every key touched, every change a no-op: key 1 re-asserts its
    // active C, key 2 re-deletes (nothing open), key 3 re-asserts P —
    // the timeline must re-derive (including key 2's delete event from
    // its dangling fin date) and rebuild the exact same rows
    val feed = Seq(
      (1L, "C", 1L, "U", "2023-05-01"),
      (2L, "X", 2L, "D", "2023-05-01"),
      (3L, "P", 3L, "I", "2023-05-01"))
      .toDF("k", "seg", "seq", "op", "eff")
    val out = Scd.scd2CdcEventTime(etDim, feed, Seq("k"), Seq("seg"),
      "seq", "op", "eff")
    assert(etRows(out) == etRows(etDim), etRows(out).toString)
  }

  test("scd2CdcEventTime: out-of-order changes splice the chain — " +
      "mid-interval update, mid-interval delete, re-insert after delete") {
    val feed = Seq(
      // splices INSIDE key 1's v2 interval: B spans [2021-01, 2022-01)
      // becomes B [2021-01, 2021-07) + M [2021-07, 2022-01); chain
      // renumbers to 4 versions
      (1L, "M", 1L, "U", "2021-07-01"),
      // key 2: re-insert AFTER its historical delete → fresh chain at 1
      (2L, "Y", 2L, "I", "2023-01-01"),
      // key 3: out-of-order DELETE mid-interval: P closes at 2020-06-01;
      // nothing re-opens (P stays the only, now closed, version)
      (3L, "P", 3L, "D", "2020-06-01"))
      .toDF("k", "seg", "seq", "op", "eff")
    val out = Scd.scd2CdcEventTime(etDim, feed, Seq("k"), Seq("seg"),
      "seq", "op", "eff")
    assert(etRows(out) == Seq(
      (1L, "A", 1, 0, "2020-01-01", "2021-01-01"),
      (1L, "B", 2, 0, "2021-01-01", "2021-07-01"),
      (1L, "C", 4, 1, "2022-01-01", null),
      (1L, "M", 3, 0, "2021-07-01", "2022-01-01"),
      (2L, "X", 1, 0, "2020-01-01", "2021-06-01"),
      (2L, "Y", 1, 1, "2023-01-01", null),
      (3L, "P", 1, 0, "2020-01-01", "2020-06-01")), etRows(out).toString)
  }

  test("scd2CdcEventTime: same-date events collapse feed-over-dim then " +
      "by seq; a null effective date raises") {
    val feed = Seq(
      // same date as key 1's v3 start: the feed row REPLACES C's event;
      // two feed rows same date → seq 11 wins
      (1L, "Z1", 10L, "U", "2022-01-01"),
      (1L, "Z2", 11L, "U", "2022-01-01"))
      .toDF("k", "seg", "seq", "op", "eff")
    val out = Scd.scd2CdcEventTime(etDim, feed, Seq("k"), Seq("seg"),
      "seq", "op", "eff")
    assert(etRows(out.filter($"k" === 1L)) == Seq(
      (1L, "A", 1, 0, "2020-01-01", "2021-01-01"),
      (1L, "B", 2, 0, "2021-01-01", "2022-01-01"),
      (1L, "Z2", 3, 1, "2022-01-01", null)),
      etRows(out.filter($"k" === 1L)).toString)
    val bad = Seq((1L, "Q", 1L, "U", null.asInstanceOf[String]))
      .toDF("k", "seg", "seq", "op", "eff")
    val e = intercept[Exception] {
      Scd.scd2CdcEventTime(etDim, bad, Seq("k"), Seq("seg"),
        "seq", "op", "eff").collect()
    }
    assert(e.getMessage != null && e.getMessage.contains("scd2CdcEventTime"),
      e.toString)
  }

  /** The two-pass form of [[Scd.scd2Cdc]] the engine ran before the
    * deletes moved into scd2's full-outer pass: [[Scd.scd2]] over the
    * latest non-delete rows, then a left join of the delete keys that
    * closes their current versions. Kept here as the reference. */
  private def scd2CdcTwoPass(dim: org.apache.spark.sql.DataFrame,
      changes: org.apache.spark.sql.DataFrame, bk: Seq[String],
      tracked: Seq[String], seqCol: String, opCol: String,
      effectiveDate: String): org.apache.spark.sql.DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(bk.map(col): _*).orderBy(col(seqCol).desc)
    val latest = changes.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    val upserts = latest.filter(col(opCol) =!= "D").drop(opCol, seqCol)
    val delKeys = latest.filter(col(opCol) === "D")
      .select(bk.map(col): _*).withColumn("__del", lit(1))
    val merged = Scd.scd2(dim, upserts, bk, tracked, effectiveDate)
    val eff = lit(effectiveDate).cast("date")
    merged.join(delKeys, bk, "left")
      .withColumn("date_fin_validite",
        when(col("__del") === 1 && col("est_actif") === 1, eff)
          .otherwise(col("date_fin_validite")))
      .withColumn("est_actif",
        when(col("__del") === 1, 0).otherwise(col("est_actif")))
      .drop("__del")
  }

  test("scd2Cdc's one-pass merge equals the two-pass merge: deletes of " +
      "absent and closed keys, delete-then-reinsert, null-op shadows, " +
      "history-only keys, a mixed batch") {
    // key 1 a three-version chain (v3 active); key 2 closed by a delete
    // (history only); key 3 a closed v1 + active v2; key 4 active v1;
    // key 5 history only
    val dim0 = etDim.filter($"k" =!= 3L).unionByName(Seq(
      (3L, "A", 1, 0, "2020-01-01", "2021-01-01"),
      (3L, "B", 2, 1, "2021-01-01", null),
      (4L, "Q", 1, 1, "2020-01-01", null),
      (5L, "H", 1, 0, "2020-01-01", "2020-06-01"))
      .toDF("k", "seg", "version", "est_actif", "deb", "fin")
      .select($"k", $"seg", $"version", $"est_actif",
        $"deb".cast("date").as("date_debut_validite"),
        $"fin".cast("date").as("date_fin_validite")))
    def feed(rows: (Long, String, Long, String)*) =
      rows.toDF("k", "seg", "seq", "op")
    val nullOp: String = null
    def both(dim: org.apache.spark.sql.DataFrame,
        changes: org.apache.spark.sql.DataFrame, eff: String) = {
      val one = Scd.scd2Cdc(dim, changes, Seq("k"), Seq("seg"), "seq", "op",
        eff)
      val two = scd2CdcTwoPass(dim, changes, Seq("k"), Seq("seg"), "seq",
        "op", eff).select(one.columns.map(col): _*)
      assert(one.exceptAll(two).count() == 0 && two.exceptAll(one).count() == 0,
        s"one-pass ${etRows(one)} vs two-pass ${etRows(two)}")
      one
    }
    val cases = Seq(
      "delete of an absent key" -> feed((9L, "Z", 1L, "D")),
      "delete of an already closed key" -> feed((2L, "X", 1L, "D")),
      "null-op latest row shadows an earlier change" ->
        feed((1L, "N", 1L, "U"), (1L, "N2", 2L, nullOp),
          (8L, "I8", 1L, "I"), (8L, "I8", 2L, nullOp)),
      "a history-only key: untouched, then re-inserted" ->
        feed((4L, "Q2", 1L, "U"), (5L, "H2", 2L, "I")),
      "a mixed I/U/D batch" ->
        feed((1L, "C", 1L, "U"), (1L, "D1", 2L, "U"), (3L, "B", 3L, "U"),
          (4L, "Q", 4L, "D"), (6L, "N6", 5L, "I"), (7L, "N7", 6L, "I"),
          (7L, "N7", 7L, "D"), (2L, "X2", 8L, "I")))
    cases.foreach { case (name, changes) =>
      withClue(name)(both(dim0, changes, "2024-01-01"))
    }
    // the null op shadows key 1's update: key 1 keeps its active A
    assert(etRows(Scd.scd2Cdc(dim0, cases(2)._2, Seq("k"), Seq("seg"),
      "seq", "op", "2024-01-01").filter($"k" === 1L)) ==
      Seq((1L, "A", 1, 0, "2020-01-01", "2021-01-01"),
        (1L, "B", 2, 0, "2021-01-01", "2022-01-01"),
        (1L, "C", 3, 1, "2022-01-01", null)))
    // delete, then re-insert in the next batch: the chain restarts at 1
    val deleted = both(dim0, feed((4L, "Q", 1L, "D")), "2024-01-01")
    val reinserted = both(deleted, feed((4L, "R", 1L, "I")), "2024-02-01")
    assert(etRows(reinserted.filter($"k" === 4L)) == Seq(
      (4L, "Q", 1, 0, "2020-01-01", "2024-01-01"),
      (4L, "R", 1, 1, "2024-02-01", null)), etRows(reinserted).toString)
  }

  test("scd3 keeps previous value in companion column") {
    val updates = Seq(("59", "Nord-New")).toDF("code", "nom")
    val out = Scd.scd3(dim.drop(Scd.Meta: _*), updates, Seq("code"), "nom",
      "2024-06-01").cache()
    val r = out.filter($"code" === "59").first()
    assert(r.getAs[String]("nom") == "Nord-New")
    assert(r.getAs[String]("ancien_nom") == "Nord")
    val u = out.filter($"code" === "02").first()
    assert(u.getAs[String]("nom") == "Aisne" && u.getAs[String]("ancien_nom") == null)
  }
}
