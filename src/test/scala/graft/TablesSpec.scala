package graft

import graft.core.Tables
import graft.streaming.Streams

/** `Tables.readParquet`: Spark's parquet read with the schema taken from
  * one footer on the driver instead of an inference job. */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  test("readParquet gives spark.read.parquet's schema for every test table") {
    Tables.names.foreach { n =>
      val p = Tables.path(sf001, n)
      assert(Tables.readParquet(spark, Seq(p)).schema ==
        spark.read.parquet(p).schema, n)
    }
  }

  test("readParquet gives spark.read.parquet's schema for a bucketed " +
      "commitBatch table, whole and by leaf under basePath") {
    val dir = java.nio.file.Files.createTempDirectory("graft-readpq")
      .resolve("dim").toString
    val changes = (1L to 12L).map(i => (i, s"n$i", "A", i, "I", "2024-01-01"))
      .toDF("k", "name", "seg", "seq", "op", "change_date")
    Streams.scd2CdcBatchPartitioned(changes, dir, Seq("k"), Seq("seg"),
      "seq", "op", "change_date", 0L, 4)
    val whole = spark.read.parquet(dir).schema
    assert(whole.fieldNames.contains("bucket_id"))
    assert(Tables.readParquet(spark, Seq(dir)).schema == whole)
    val leaves = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("bucket_id=")).map(_.toString).sorted.toSeq
    assert(leaves.size > 1)
    val opts = Map("basePath" -> dir)
    assert(Tables.readParquet(spark, leaves, opts).schema ==
      spark.read.options(opts).parquet(leaves: _*).schema)
    assert(Tables.readParquet(spark, leaves, opts).count() == 12)
  }

  test("readParquet raises Spark's own exception for a missing path and " +
      "an empty directory") {
    val base = java.nio.file.Files.createTempDirectory("graft-readpq-err")
    val missing = base.resolve("missing").toString
    val empty = java.nio.file.Files.createDirectory(base.resolve("empty"))
      .toString
    Seq(missing, empty).foreach { p =>
      val want = intercept[Exception](spark.read.parquet(p)).getClass
      val got = intercept[Exception](Tables.readParquet(spark, Seq(p))).getClass
      assert(got == want, p)
    }
  }

  test("loading every test table runs no Spark job") {
    // the control: Spark's own read infers the schema in a job
    assert(jobsRunBy(spark.read.parquet(Tables.path(sf001, "orders"))) >= 1)
    val n = jobsRunBy(Tables.names.foreach(t =>
      Tables.load(spark, sf001, t).schema))
    assert(n == 0, s"$n jobs")
  }

  test("footerMax reads a stamp's max from the footers: across files, " +
      "none for an empty or all-null table, unknown when a file lacks it") {
    val base = java.nio.file.Files.createTempDirectory("graft-footermax")
    def max(dir: String) =
      Tables.footerMax(Tables.readParquet(spark, Seq(dir)), "batch_id")
    val several = base.resolve("several").toString
    spark.range(0, 100, 1, 4).select($"id".as("batch_id"), $"id".as("v"))
      .write.parquet(several)
    assert(new java.io.File(several).list().count(_.endsWith(".parquet")) == 4)
    assert(max(several) == Some(Some(99L)))
    val ints = base.resolve("ints").toString
    Seq(3, 7, 5).toDF("batch_id").write.parquet(ints)
    assert(max(ints) == Some(Some(7L)))
    val empty = base.resolve("empty").toString
    Seq.empty[Long].toDF("batch_id").write.parquet(empty)
    assert(Tables.readParquet(spark, Seq(empty)).count() == 0)
    assert(max(empty) == Some(None))
    val nulls = base.resolve("nulls").toString
    Seq(Option.empty[Long], None).toDF("batch_id").write.parquet(nulls)
    assert(max(nulls) == Some(None))
    // a later file without the column: the footers cannot tell, and the
    // aggregate still reads the max of the files that have it
    val mixed = base.resolve("mixed").toString
    Seq(4L, 9L).toDF("batch_id").coalesce(1).write.parquet(mixed)
    Seq(1L).toDF("v").coalesce(1).write.parquet(base.resolve("novalue").toString)
    val stray = new java.io.File(base.resolve("novalue").toString).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    assert(stray.renameTo(new java.io.File(mixed, "zz-no-stamp.parquet")))
    val t = Tables.readParquet(spark, Seq(mixed))
    assert(Tables.footerMax(t, "batch_id").isEmpty)
    assert(t.agg(org.apache.spark.sql.functions.max("batch_id")).head()
      .getLong(0) == 9L)
    // a column that is not an integer cannot be a stamp
    val strings = base.resolve("strings").toString
    Seq("3", "7").toDF("batch_id").write.parquet(strings)
    assert(max(strings).isEmpty)
  }
}
