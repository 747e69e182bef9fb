package graft

import org.apache.spark.sql.functions._
import graft.functions.BottomK

/** Custom TypedImperativeAggregate: bounded buffer, partition merges,
  * duplicate handling, SQL registration. */
class BottomKSpec extends SparkSpec {
  import spark.implicits._

  test("bottom_k keeps the k smallest across partition merges") {
    val df = (1 to 1000).map(i => ("g", f"v$i%04d")).toDF("g", "v")
      .repartition(16) // forces serialize/merge across partial aggregates
    val out = df.groupBy("g").agg(BottomK.bottomK($"v", 5).as("sk"))
      .first().getSeq[String](1)
    assert(out == Seq("v0001", "v0002", "v0003", "v0004", "v0005"))
  }

  test("bottom_k keeps duplicates (multiset semantics, like list_sort)") {
    val df = Seq("b", "a", "a", "c").toDF("v")
    val out = df.agg(BottomK.bottomK($"v", 3).as("sk")).first().getSeq[String](0)
    assert(out == Seq("a", "a", "b"))
  }

  test("bottom_k works in SQL and ignores nulls") {
    Seq(Some("z"), None, Some("m"), Some("a")).toDF("v")
      .createOrReplaceTempView("bk_in")
    val out = spark.sql("SELECT bottom_k(v, 2) AS sk FROM bk_in")
      .first().getSeq[String](0)
    assert(out == Seq("a", "m"))
  }

  test("KMV sketches estimate Jaccard between groups") {
    // two overlapping element sets: 0-99 and 50-149 → true J = 50/150 = 1/3;
    // md5 makes the value space uniform, as KMV requires
    def h(i: Int) = java.security.MessageDigest.getInstance("MD5")
      .digest(s"elem$i".getBytes).map("%02x".format(_)).mkString
    val a = (0 until 100).map(i => ("a", h(i)))
    val b = (50 until 150).map(i => ("b", h(i)))
    val sk = (a ++ b).toDF("g", "v").groupBy("g")
      .agg(BottomK.bottomK($"v", 40).as("sk"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toSet).toMap
    val union = (sk("a") ++ sk("b")).toSeq.sorted.take(40).toSet
    val est = union.count(h => sk("a").contains(h) && sk("b").contains(h)) / 40.0
    assert(math.abs(est - 1.0 / 3.0) < 0.15)
  }
}
