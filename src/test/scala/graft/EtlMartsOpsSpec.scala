package graft

import org.apache.spark.sql.functions._
import graft.etl.Etl
import graft.marts.Datamarts
import graft.ops.{Backup, Compaction, EtlLog, TableApi}

/** ETL building blocks, datamart views, ops layer. */
class EtlMartsOpsSpec extends SparkSpec {
  import spark.implicits._

  test("surrogate keys are deterministic and offset past existing max") {
    val dim = Seq("b", "a", "c").toDF("code")
    val keyed = Etl.withSurrogateKey(dim, "id", Seq(col("code")), offset = 10)
    val m = keyed.as[(String, Int)].collect().toMap
    assert(m == Map("a" -> 11, "b" -> 12, "c" -> 13))
  }

  test("dimKeyJoin maps business keys to surrogate keys (broadcast)") {
    val fact = Seq((2021, "59", 100.0), (2021, "99", 5.0))
      .toDF("annee", "dept", "pop")
    val dim = Seq(("59", 1), ("02", 2)).toDF("dept", "geo_id")
    val out = Etl.dimKeyJoin(fact, dim, Seq("dept"), "geo_id").cache()
    assert(out.filter($"dept" === "59").first().getAs[Int]("geo_id") == 1)
    assert(out.filter($"dept" === "99").first().getAs[Any]("geo_id") == null)
    assert(Etl.requireKeys(out, Seq("geo_id")).count() == 1)
  }

  test("orphanCount flags unmatched fact keys") {
    val fact = Seq(1, 2, 9).toDF("k")
    val dim = Seq(1, 2, 3).toDF("id")
    assert(Etl.orphanCount(fact, dim, "k", "id") == 1)
  }

  test("inferredMembers adds placeholders for orphans, never for nulls") {
    val fact = Seq[(java.lang.Integer, String)]((1, "a"), (9, "b"),
      (9, "c"), (null, "d")).toDF("k", "payload")
    val dim = Seq((1, "Known")).toDF("id", "nom")
    val dim2 = Etl.inferredMembers(fact, dim, "k", "id",
      Map("nom" -> lit("UNKNOWN")))
      .as[(Int, String)].collect().toSet
    // one placeholder for orphan key 9 (deduped), none for the null key
    assert(dim2 == Set((1, "Known"), (9, "UNKNOWN")))
    // the star join now loses only the null-key fact (requireKeys' job)
    assert(fact.join(dim2.toSeq.toDF("id", "nom"),
      col("k") === col("id")).count() == 3)
  }

  test("pivotIndicators goes long→wide with renames (FILOSOFI shape)") {
    val long = Seq(
      (2021, "59", "MED_SL", 22000.0), (2021, "59", "PR_MD60", 18.5),
      (2021, "02", "MED_SL", 20500.0))
      .toDF("annee", "dept", "indicator_code", "indicator_value")
    val wide = Etl.pivotIndicators(long, Seq("annee", "dept"),
      "indicator_code", "indicator_value", Seq("MED_SL", "PR_MD60"),
      Map("MED_SL" -> "revenu_median", "PR_MD60" -> "taux_pauvrete")).cache()
    assert(wide.columns.toSet == Set("annee", "dept", "revenu_median", "taux_pauvrete"))
    assert(wide.filter($"dept" === "59").first().getAs[Double]("revenu_median") == 22000.0)
    assert(wide.filter($"dept" === "02").first().getAs[Any]("taux_pauvrete") == null)
  }

  test("appendIfEmpty is idempotent (skip-if-loaded)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-idem").toString + "/t"
    val df = Seq(1, 2).toDF("x")
    assert(Etl.appendIfEmpty(spark, df, dir))
    assert(!Etl.appendIfEmpty(spark, df, dir)) // second load skipped
    assert(spark.read.parquet(dir).count() == 2)
  }

  test("appendIfEmpty fails on an unreadable target and leaves it in place") {
    val dir = java.nio.file.Files.createTempDirectory("graft-idem-bad")
    val bad = dir.resolve("part-00000.parquet")
    val junk = "not a parquet file".getBytes("UTF-8")
    java.nio.file.Files.write(bad, junk)
    intercept[Exception](Etl.appendIfEmpty(spark, Seq(1, 2).toDF("x"),
      dir.toString))
    assert(java.nio.file.Files.readAllBytes(bad).sameElements(junk))
    // a directory with no data files still counts as empty
    val empty = java.nio.file.Files.createTempDirectory("graft-idem-empty")
    assert(Etl.appendIfEmpty(spark, Seq(1, 2).toDF("x"), empty.toString))
    assert(spark.read.parquet(empty.toString).count() == 2)
  }

  test("demographie datamart computes guarded rates") {
    val temps = Seq((1, 2021)).toDF("temps_id", "annee")
    val geo = Seq((1, "59", "Nord", "DEPARTEMENT"), (2, "00", "Zero", "DEPARTEMENT"))
      .toDF("geo_id", "departement_code", "departement_nom", "niveau_geo")
    val pop = Seq((1, 1, 1000.0), (1, 2, 0.0)).toDF("temps_id", "geo_id", "population")
    val evt = Seq((1, 1, 12.0, 9.0)).toDF("temps_id", "geo_id", "naissances", "deces")
    val dm = Datamarts.demographieDepartement(pop, evt, temps, geo).cache()
    val nord = dm.filter($"departement_code" === "59").first()
    assert(math.abs(nord.getAs[Double]("taux_natalite") - 12.0) < 1e-9)
    assert(nord.getAs[Double]("solde_naturel") == 3.0)
    // zero population → NULL rate, not division error (reference CASE WHEN)
    assert(dm.filter($"departement_code" === "00").first()
      .getAs[Any]("taux_natalite") == null)
  }

  test("revenus datamart takes AVG/MIN/MAX per (annee, departement)") {
    val temps = Seq((1, 2021), (2, 2021), (3, 2022)).toDF("temps_id", "annee")
    val geo = Seq((1, "59", "Nord", "DEPARTEMENT"), (2, "02", "Aisne", "DEPARTEMENT"),
      (3, "32", "Hauts-de-France", "REGION"))
      .toDF("geo_id", "departement_code", "departement_nom", "niveau_geo")
    val fait = Seq(
      (1, 1, 20000.0, 11000.0, 38000.0, 15.0),
      (2, 1, 22000.0, 12000.0, 41000.0, 17.0), // same (2021, 59) cell
      (3, 1, 23000.0, 12500.0, 42000.0, 14.0), // 2022 → own cell
      (1, 2, 19000.0, 10000.0, 35000.0, 20.0),
      (1, 3, 99000.0, 1.0, 999000.0, 99.0))    // REGION geo → dropped
      .toDF("temps_id", "geo_id", "revenu_median", "revenu_d1", "revenu_d9",
        "taux_pauvrete")
    val dm = Datamarts.revenusDepartement(fait, temps, geo)
      .as[(Int, String, String, Double, Double, Double, Double)].collect()
    assert(dm.map(r => (r._1, r._2)).sorted.toSeq ==
      Seq((2021, "02"), (2021, "59"), (2022, "59")))
    val nord21 = dm.find(r => r._1 == 2021 && r._2 == "59").get
    assert(nord21._3 == "Nord")
    assert(math.abs(nord21._4 - 21000.0) < 1e-9) // AVG revenu_median
    assert(nord21._5 == 11000.0)                 // MIN revenu_d1
    assert(nord21._6 == 41000.0)                 // MAX revenu_d9
    assert(math.abs(nord21._7 - 16.0) < 1e-9)    // AVG taux_pauvrete
    assert(!dm.exists(_._2 == "32"), "a REGION row reached the mart")
  }

  test("entreprises datamart groups the 4-way star by activity attributes") {
    val temps = Seq((1, 2021), (2, 2022)).toDF("temps_id", "annee")
    val geo = Seq((1, "59", "Nord", "DEPARTEMENT"), (2, "XX", "Reg", "REGION"))
      .toDF("geo_id", "departement_code", "departement_nom", "niveau_geo")
    val act = Seq((1, "Industrie", "C", "Manufacture"), (2, "Services", "J", "Info"))
      .toDF("activite_id", "secteur_activite", "naf_section_code", "naf_section_libelle")
    val fait = Seq(
      (1, 1, 1, 10L, 4L, 2L, 6L, 4L, 3L),
      (1, 1, 1, 5L, 1L, 1L, 2L, 3L, 1L),   // same cell → summed
      (1, 1, 2, 7L, 0L, 0L, 7L, 0L, 0L),   // other activity → own cell
      (1, 2, 1, 99L, 9L, 9L, 9L, 9L, 9L))  // REGION geo → filtered out
      .toDF("temps_id", "geo_id", "activite_id", "nb_creations_entreprises",
        "nb_creations_micro", "nb_creations_ei", "nb_creations_hommes",
        "nb_creations_femmes", "nb_creations_moins_30ans")
    val dm = Datamarts.entreprisesDepartement(fait, temps, geo, act).cache()
    assert(dm.count() == 2)
    val indus = dm.filter($"naf_section_code" === "C").first()
    assert(indus.getAs[Long]("nb_creations") == 15L)
    assert(indus.getAs[Long]("nb_creations_micro") == 5L)
    assert(indus.getAs[Long]("creations_femmes") == 7L)
    assert(dm.filter($"naf_section_code" === "J").first()
      .getAs[Long]("nb_creations") == 7L)
  }

  test("logement datamart sums stock and guards the overcrowding rate") {
    val temps = Seq((1, 2021)).toDF("temps_id", "annee")
    val geo = Seq((1, "59", "Nord", "DEPARTEMENT"), (2, "02", "Aisne", "DEPARTEMENT"))
      .toDF("geo_id", "departement_code", "departement_nom", "niveau_geo")
    val fait = Seq((1, 1, 800L, 40L), (1, 1, 200L, 10L), (1, 2, 0L, 0L))
      .toDF("temps_id", "geo_id", "nb_residences_principales",
        "nb_logements_surpeuples")
    val dm = Datamarts.logementDepartement(fait, temps, geo).cache()
    val nord = dm.filter($"departement_code" === "59").first()
    assert(nord.getAs[Long]("nb_residences_principales") == 1000L)
    assert(math.abs(nord.getAs[Double]("taux_surpeuplement") - 5.0) < 1e-9)
    // zero stock → NULL rate (reference CASE WHEN), not a division error
    assert(dm.filter($"departement_code" === "02").first()
      .getAs[Any]("taux_surpeuplement") == null)
  }

  test("dashboard joins the re-aggregated entreprises + logement marts") {
    // reference 005:239-243: the 4-dim entreprises mart enters the tableau
    // de bord re-aggregated to (annee, departement).
    val temps = Seq((1, 2021)).toDF("temps_id", "annee")
    val geo = Seq((1, "59", "Nord", "DEPARTEMENT")).toDF(
      "geo_id", "departement_code", "departement_nom", "niveau_geo")
    val act = Seq((1, "Industrie", "C", "Manufacture"), (2, "Services", "J", "Info"))
      .toDF("activite_id", "secteur_activite", "naf_section_code", "naf_section_libelle")
    val faitEnt = Seq((1, 1, 1, 10L, 0L, 0L, 0L, 0L, 0L), (1, 1, 2, 7L, 0L, 0L, 0L, 0L, 0L))
      .toDF("temps_id", "geo_id", "activite_id", "nb_creations_entreprises",
        "nb_creations_micro", "nb_creations_ei", "nb_creations_hommes",
        "nb_creations_femmes", "nb_creations_moins_30ans")
    val faitLog = Seq((1, 1, 1000L, 50L)).toDF("temps_id", "geo_id",
      "nb_residences_principales", "nb_logements_surpeuples")
    val ent = Datamarts.entreprisesDepartement(faitEnt, temps, geo, act)
      .groupBy("annee", "departement_code")
      .agg(sum("nb_creations").as("creations_entreprises"))
    val log = Datamarts.logementDepartement(faitLog, temps, geo)
      .select("annee", "departement_code", "departement_nom", "taux_surpeuplement")
    val board = Datamarts.tableauBord(geo, temps,
      Seq("ent" -> ent, "log" -> log)).cache()
    assert(board.count() == 1)
    val row = board.first()
    assert(row.getAs[Long]("creations_entreprises") == 17L)
    assert(math.abs(row.getAs[Double]("taux_surpeuplement") - 5.0) < 1e-9)
  }

  test("dashboard scaffold has a cell for every (dept, year)") {
    val temps = Seq((1, 2020), (2, 2021)).toDF("temps_id", "annee")
    val geo = Seq((1, "59", "Nord", "DEPARTEMENT"), (2, "02", "Aisne", "DEPARTEMENT"))
      .toDF("geo_id", "departement_code", "departement_nom", "niveau_geo")
    val dm = Seq((2021, "59", 5.0)).toDF("annee", "departement_code", "metric")
    val board = Datamarts.tableauBord(geo, temps, Seq("m" -> dm)).cache()
    assert(board.count() == 4) // 2 depts × 2 years, facts or not
    assert(board.filter($"annee" === 2020 && $"departement_code" === "59")
      .first().getAs[Any]("metric") == null)
  }

  test("EtlLog.timed records success and failure rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft-log").toString + "/log"
    val out = EtlLog.timed(spark, dir, "facts", "fait_population") {
      (42, 1578L)
    }
    assert(out == 42)
    intercept[RuntimeException] {
      EtlLog.timed[Int](spark, dir, "facts", "fait_boom") {
        throw new RuntimeException("boom")
      }
    }
    val log = spark.read.parquet(dir).cache()
    assert(log.filter($"statut" === "SUCCES").count() == 1)
    assert(log.filter($"statut" === "ERREUR" && $"message" === "boom").count() == 1)
    val mon = EtlLog.monitoring(log)
    assert(mon.agg(sum("n_erreurs")).first().getLong(0) == 1)
  }

  test("active-work view reflects in-flight jobs and drains when idle") {
    import graft.ops.ActiveWork
    // idle session → nothing active (completed jobs never linger)
    spark.range(10).count()
    assert(ActiveWork.activeJobs(spark).isEmpty)
    // a job in flight IS visible (collect() on the local relation stays
    // driver-side — polling must not itself wait on the busy scheduler)
    @volatile var seen = false
    val t = new Thread(() => {
      spark.range(4).repartition(4).foreachPartition {
        (_: Iterator[java.lang.Long]) => Thread.sleep(2000) }
    })
    t.start()
    val deadline = System.nanoTime() + 15000000000L
    while (!seen && System.nanoTime() < deadline) {
      seen = ActiveWork.activeJobs(spark).collect().nonEmpty
      Thread.sleep(50)
    }
    t.join()
    assert(seen, "an in-flight job must appear in the active view")
    assert(ActiveWork.activeJobs(spark).collect().isEmpty) // drained again
  }

  test("error ledger: resolution markers close errors, age is computed") {
    import graft.ops.ErrorLedger
    val dir = java.nio.file.Files.createTempDirectory("graft-err").toString
    val t = (s: String) => java.sql.Timestamp.valueOf(s)
    ErrorLedger.logError(spark, s"$dir/errors", 1L, "etl", "FK",
      "orphan keys", t("2024-01-01 00:00:00"))
    ErrorLedger.logError(spark, s"$dir/errors", 2L, "api", "TIMEOUT",
      "slow fetch", t("2024-01-01 06:00:00"))
    ErrorLedger.resolve(spark, s"$dir/resolutions", 1L,
      t("2024-01-01 01:00:00"))
    val open = ErrorLedger.openErrors(
      spark.read.parquet(s"$dir/errors"),
      spark.read.parquet(s"$dir/resolutions"),
      t("2024-01-01 12:00:00")).cache()
    // error 1 resolved → only error 2 remains, 6 hours old
    assert(open.select("erreur_id").as[Long].collect().toSeq == Seq(2L))
    assert(open.first().getAs[Int]("heures_depuis_erreur") == 6)
  }

  test("backup snapshot + retention sweep") {
    val wh = java.nio.file.Files.createTempDirectory("graft-wh")
    java.nio.file.Files.writeString(wh.resolve("t.parquet"), "x")
    val root = java.nio.file.Files.createTempDirectory("graft-bk").toString
    Backup.snapshot(spark, wh.toString, root, "20240101_000000")
    Backup.snapshot(spark, wh.toString, root, "20240601_000000")
    val swept = Backup.sweep(spark, root, "20240301_000000")
    assert(swept.size == 1 && swept.head.contains("20240101"))
    assert(new java.io.File(root).list().toSeq == Seq("snapshot_20240601_000000"))
    // backup-state view: one row per surviving snapshot with size stats
    val st = Backup.status(spark, root)
      .as[(String, Long, Long)].collect().toSeq
    assert(st.map(_._1) == Seq("20240601_000000"))
    assert(st.head._2 == 1L && st.head._3 > 0L)
    // history view: the ETL log filtered to backup stages
    val log = Seq(("BACKUP", "SUCCES"), ("facts", "SUCCES"),
      ("RESTAURATION", "ERREUR")).toDF("etape", "statut")
    assert(Backup.history(log).select("etape").as[String]
      .collect().toSet == Set("BACKUP", "RESTAURATION"))
  }

  test("backup restore round-trips: snapshot → mutate → restore → digest-equal") {
    import graft.ops.Quality
    val base = java.nio.file.Files.createTempDirectory("graft-restore")
    val wh = s"$base/warehouse"
    def digest() = Quality.tableDigest(
      spark.read.parquet(s"$wh/fact"), Seq("id", "v")).first().toSeq
    // a small partitioned warehouse table (multiple files, _SUCCESS marker)
    (0 until 200).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .repartition(4).write.parquet(s"$wh/fact")
    val before = digest()
    val snap = Backup.snapshot(spark, wh, s"$base/backup", "20260813_000000")
    // mutate the warehouse: drop rows AND add a stray table
    (0 until 50).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$wh/fact")
    (1 to 3).map(i => (i, i)).toDF("a", "b").write.parquet(s"$wh/stray")
    assert(digest() != before)
    // restore replaces the warehouse with the snapshot state exactly
    Backup.restore(spark, snap, wh)
    assert(digest() == before)
    assert(!new java.io.File(s"$wh/stray").exists(),
      "restore must remove tables created after the snapshot")
    // the aside dir is cleaned up after a successful restore
    assert(new java.io.File(base.toFile, ".warehouse__pre_restore")
      .listFiles() == null)
    // restoring from a missing snapshot refuses cleanly
    intercept[IllegalArgumentException] {
      Backup.restore(spark, s"$base/backup/snapshot_nope", wh)
    }
    assert(digest() == before)
  }

  test("compaction shrinks fragmented partitions, preserves contents") {
    val dir = java.nio.file.Files.createTempDirectory("graft-compact")
      .toString + "/table"
    // partitioned write, deliberately fragmented: 8 files per partition
    (0 until 400).map(i => (i.toLong, i % 2, s"row_$i"))
      .toDF("id", "part", "payload")
      .repartition(8).write.partitionBy("part").parquet(dir)
    def fileCount(sub: String) =
      new java.io.File(s"$dir/$sub").listFiles().count(f =>
        f.getName.endsWith(".parquet"))
    val before = spark.read.parquet(dir).orderBy("id")
      .as[(Long, String, Int)].collect().toSeq
    assert(fileCount("part=0") == 8 && fileCount("part=1") == 8)

    val reports = Compaction.compact(spark, dir) // default 128MB: 1 file/leaf
    assert(reports.size == 2, "both partitions were fragmented")
    assert(reports.forall(r => r.filesBefore == 8 && r.filesAfter == 1))
    assert(fileCount("part=0") == 1 && fileCount("part=1") == 1)
    // contents identical, partition column intact
    val after = spark.read.parquet(dir).orderBy("id")
      .as[(Long, String, Int)].collect().toSeq
    assert(after == before)
    // second sweep: nothing fragmented, nothing rewritten
    assert(Compaction.compact(spark, dir).isEmpty)
  }

  test("compaction temp dirs are hidden from readers and swept if stale") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stale")
      .toString + "/table"
    (0 until 100).map(i => (i.toLong, i % 2)).toDF("id", "part")
      .repartition(4).write.partitionBy("part").parquet(dir)
    // simulate a crashed sweep: a hidden rewrite dir full of parquet
    // next to a partition leaf — readers must NOT pick it up as data
    val stale = new java.io.File(s"$dir/.part=0__compacting")
    Seq((999L, "bogus")).toDF("id", "payload")
      .write.parquet(stale.toString)
    assert(spark.read.parquet(dir).count() == 100) // bogus rows invisible
    val reports = Compaction.compact(spark, dir)
    assert(reports.size == 2) // both real partitions compacted...
    assert(!stale.exists())   // ...and the stale leftover was swept
    assert(spark.read.parquet(dir).count() == 100)
  }

  test("file swap aborts on a failed rename, old files intact") {
    import org.apache.hadoop.fs.{Path => HPath}
    val base = java.nio.file.Files.createTempDirectory("graft-swap")
    val target = new java.io.File(base.toFile, "table")
    val staging = new java.io.File(base.toFile, ".table__upserting")
    Seq((1L, "old")).toDF("id", "v").write.parquet(target.toString)
    Seq((2L, "new")).toDF("id", "v").write.parquet(staging.toString)
    // force a rename collision: the target already holds a file with the
    // SAME name as a staged part file (HDFS-semantics rename -> false)
    val staged = staging.listFiles().filter(_.getName.endsWith(".parquet"))
    assert(staged.nonEmpty)
    val collide = new java.io.File(target, staged.head.getName)
    java.nio.file.Files.write(collide.toPath, Array[Byte]()) // 0-byte decoy
    val oldFiles = target.listFiles().map(_.getName).toSet
    val fs = new HPath(target.toString)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val e = intercept[java.io.IOException] {
      Compaction.swapDataFiles(fs,
        new HPath(staging.toString), new HPath(target.toString))
    }
    assert(e.getMessage.contains("swap aborted"))
    // nothing was deleted: every pre-swap target file still present
    assert(oldFiles.subsetOf(target.listFiles().map(_.getName).toSet))
  }

  test("swap lease: a concurrent writer fails fast, a stale lease is " +
      "broken, success releases the lease") {
    import org.apache.hadoop.fs.{Path => HPath}
    val base = java.nio.file.Files.createTempDirectory("graft-swap-lease")
    val target = new java.io.File(base.toFile, "table")
    val staging = new java.io.File(base.toFile, ".table__upserting")
    Seq((1L, "old")).toDF("id", "v").coalesce(1).write.parquet(target.toString)
    Seq((2L, "new")).toDF("id", "v").coalesce(1).write.parquet(staging.toString)
    val fs = new HPath(target.toString)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tgt = new HPath(target.toString)
    // another writer (live lease) → the swap must fail fast, untouched
    Compaction.acquireSwapLease(fs, tgt)
    val before = target.listFiles().map(_.getName).toSet
    val e = intercept[java.io.IOException] {
      Compaction.swapDataFiles(fs, new HPath(staging.toString), tgt)
    }
    assert(e.getMessage.contains("held by another writer"), e.getMessage)
    assert(target.listFiles().map(_.getName).toSet == before)
    assert(staging.exists()) // staged files not consumed
    // recovery under a live lease fails fast too (it mutates the leaf)
    Compaction.commitManifest(fs, new HPath(staging.toString), tgt, Nil)
    val e2 = intercept[java.io.IOException] {
      Compaction.recoverSwap(fs, tgt)
    }
    assert(e2.getMessage.contains("held by another writer"), e2.getMessage)
    fs.delete(new HPath(tgt, "._graft_swap_manifest"), false)
    // a STALE lease (holder died) is broken: ttl=0 makes ours stale now
    val swapped = intercept[java.io.IOException] { // still held live at default ttl
      Compaction.swapDataFiles(fs, new HPath(staging.toString), tgt)
    }
    assert(swapped.getMessage.contains("held by another writer"))
    Compaction.swapDataFiles(fs, new HPath(staging.toString), tgt,
      leaseTtlMs = 0L)
    val rows = spark.read.parquet(target.toString)
      .as[(Long, String)].collect().toSeq
    assert(rows == Seq((2L, "new")))
    // clean completion released the lease: a fresh writer acquires freely
    assert(!new java.io.File(target, "._graft_swap_lease").exists())
    Compaction.acquireSwapLease(fs, tgt)
    fs.delete(new HPath(tgt, "._graft_swap_lease"), false)
  }

  test("swap lease: two barrier-started racing writers — exactly one " +
      "acquires, the loser's IOException names the lease") {
    import org.apache.hadoop.fs.{Path => HPath}
    val base = java.nio.file.Files.createTempDirectory("graft-lease-race")
    val tgt = new HPath(new java.io.File(base.toFile, "table").toString)
    val fs = tgt.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(tgt)
    // the local-FS lock is NIO O_CREAT|O_EXCL (RawLocalFileSystem's
    // create(overwrite=false) is check-then-create): a true concurrent
    // race must be deterministic, not merely likely, to pass 20 rounds
    (1 to 20).foreach { round =>
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      val results =
        new java.util.concurrent.ConcurrentLinkedQueue[Either[Throwable, Unit]]()
      val threads = (1 to 2).map { _ =>
        new Thread(() => {
          barrier.await()
          try {
            Compaction.acquireSwapLease(fs, tgt)
            results.add(Right(()))
          } catch { case e: Throwable => results.add(Left(e)) }
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      import scala.jdk.CollectionConverters._
      val wins = results.asScala.count(_.isRight)
      assert(wins == 1, s"round $round: expected exactly one winner, " +
        s"got $wins (${results.asScala.toSeq})")
      val loser = results.asScala.collectFirst { case Left(e) => e }.get
      assert(loser.isInstanceOf[java.io.IOException], loser.toString)
      assert(loser.getMessage.contains("lease"), loser.getMessage)
      fs.delete(new HPath(tgt, "._graft_swap_lease"), false)
    }
  }

  test("swap lease: the heartbeat is PORTABLE — a store whose mtimes " +
      "never advance (S3A's no-op setTimes shape) still sees a live " +
      "holder via the payload stamp") {
    import org.apache.hadoop.fs.{Path => HPath}
    val base = java.nio.file.Files.createTempDirectory("graft-lease-s3")
    val tgt = new HPath(new java.io.File(base.toFile, "table").toString)
    val raw = tgt.getFileSystem(spark.sparkContext.hadoopConfiguration)
    raw.mkdirs(tgt)
    // every listing reports mtime 0 and setTimes is a no-op: the ONLY
    // liveness channel left is the heartbeat-rewritten payload stamp —
    // the pre-r18 mtime-only age check would break this lease as stale
    val frozen = new org.apache.hadoop.fs.FilterFileSystem(raw) {
      override def setTimes(p: HPath, mtime: Long, atime: Long): Unit = ()
      override def getFileStatus(f: HPath): org.apache.hadoop.fs.FileStatus = {
        val s = super.getFileStatus(f)
        new org.apache.hadoop.fs.FileStatus(s.getLen, s.isDirectory, 1,
          s.getBlockSize, 0L, s.getPath)
      }
    }
    val ttl = 900L // beat ≈ 300ms
    Compaction.withSwapLease(frozen, tgt, ttl) {
      Thread.sleep(1500) // > ttl since acquisition; several beats ran
      val e = intercept[java.io.IOException](
        Compaction.acquireSwapLease(frozen, tgt, ttl))
      assert(e.getMessage.contains("held by another writer"), e.getMessage)
    }
    // clean release; the next writer acquires freely on the same store
    Compaction.withSwapLease(frozen, tgt, ttl)(())
    assert(!raw.exists(new HPath(tgt, "._graft_swap_lease")))
  }

  test("swap lease: the heartbeat keeps a live holder's lease fresh " +
      "past the TTL; a mid-body takeover aborts before the commit") {
    import org.apache.hadoop.fs.{Path => HPath}
    val base = java.nio.file.Files.createTempDirectory("graft-lease-hb")
    val tgt = new HPath(new java.io.File(base.toFile, "table").toString)
    val fs = tgt.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(tgt)
    val ttl = 800L // beat = max(250, ttl/3) ≈ 266ms → several touches
    // (1) a body that outlives the TTL is NOT broken: a competing
    // acquire late in the body still sees a live (heartbeat-fresh) lease
    Compaction.withSwapLease(fs, tgt, ttl) {
      Thread.sleep(2 * ttl + 200)
      val e = intercept[java.io.IOException] {
        Compaction.acquireSwapLease(fs, tgt, ttl)
      }
      assert(e.getMessage.contains("held by another writer"), e.getMessage)
    }
    // clean release: the next writer acquires freely
    Compaction.withSwapLease(fs, tgt, ttl)(())
    // (2) if the lease IS usurped mid-body (simulated by replacing the
    // payload with a foreign token), the commit point must abort rather
    // than clobber the usurper's swap
    val e2 = intercept[java.io.IOException] {
      Compaction.withSwapLease(fs, tgt, ttl) {
        java.nio.file.Files.write(
          java.nio.file.Paths.get(tgt.toUri.getPath, "._graft_swap_lease"),
          "usurper@elsewhere#not-our-token".getBytes("UTF-8"))
        Compaction.commitManifest(fs,
          new HPath(tgt.getParent, ".table__staging"), tgt, Nil)
      }
    }
    assert(e2.getMessage.contains("taken over"), e2.getMessage)
    assert(!fs.exists(new HPath(tgt, "._graft_swap_manifest")))
    // release must NOT have deleted the usurper's lease
    assert(fs.exists(new HPath(tgt, "._graft_swap_lease")))
    fs.delete(new HPath(tgt, "._graft_swap_lease"), false)
  }

  test("swap lease: a release while the heartbeat is mid-rewrite leaves " +
      "no orphan lease; the next writer acquires at once") {
    import org.apache.hadoop.fs.{Path => HPath}
    val base = java.nio.file.Files.createTempDirectory("graft-lease-release")
    val tgt = new HPath(new java.io.File(base.toFile, "table").toString)
    val raw = tgt.getFileSystem(spark.sparkContext.hadoopConfiguration)
    raw.mkdirs(tgt)
    // a store whose lease rewrite is slow: the heartbeat's
    // create(lease, overwrite = true) has truncated the file when it
    // signals, and the body ends inside that window
    val inRewrite = new java.util.concurrent.CountDownLatch(1)
    val slow = new org.apache.hadoop.fs.FilterFileSystem(raw) {
      override def create(f: HPath,
          permission: org.apache.hadoop.fs.permission.FsPermission,
          overwrite: Boolean, bufferSize: Int, replication: Short,
          blockSize: Long, progress: org.apache.hadoop.util.Progressable):
          org.apache.hadoop.fs.FSDataOutputStream = {
        val out = super.create(f, permission, overwrite, bufferSize,
          replication, blockSize, progress)
        if (overwrite && f.getName == "._graft_swap_lease") {
          inRewrite.countDown()
          Thread.sleep(400)
        }
        out
      }
    }
    val ttl = 800L
    Compaction.withSwapLease(slow, tgt, ttl) {
      assert(inRewrite.await(30, java.util.concurrent.TimeUnit.SECONDS))
    }
    assert(!raw.exists(new HPath(tgt, "._graft_swap_lease")),
      "the release left a lease behind")
    Compaction.acquireSwapLease(raw, tgt, ttl)
    raw.delete(new HPath(tgt, "._graft_swap_lease"), false)
  }

  test("a swap crashed past its commit point rolls forward on recovery") {
    import org.apache.hadoop.fs.{Path => HPath}
    val base = java.nio.file.Files.createTempDirectory("graft-swap-rec")
    val target = new java.io.File(base.toFile, "table")
    val staging = new java.io.File(base.toFile, ".table__upserting")
    Seq((1L, "old"), (2L, "old")).toDF("id", "v").coalesce(1)
      .write.parquet(target.toString)
    Seq((1L, "new"), (2L, "new")).toDF("id", "v").coalesce(1)
      .write.parquet(staging.toString)
    val fs = new HPath(target.toString)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val oldNames = target.listFiles().map(_.getName)
      .filter(_.endsWith(".parquet")).toSeq
    val stagedNames = staging.listFiles().map(_.getName)
      .filter(_.endsWith(".parquet")).toSeq
    // simulate a crash: manifest committed, ONE fresh file adopted, then
    // nothing — old and new rows coexist for a racing reader
    Compaction.commitManifest(fs, new HPath(staging.toString),
      new HPath(target.toString), oldNames)
    fs.rename(new HPath(staging.toString, stagedNames.head),
      new HPath(target.toString, stagedNames.head))
    assert(spark.read.parquet(target.toString).count() == 4) // transient dupes
    // recovery completes the swap: adopt the rest, drop the old set
    assert(Compaction.recoverSwap(fs, new HPath(target.toString)))
    val healed = spark.read.parquet(target.toString)
      .as[(Long, String)].collect().toSeq.sorted
    assert(healed == Seq((1L, "new"), (2L, "new")))
    assert(!staging.exists())
    // idempotent: nothing left to recover
    assert(!Compaction.recoverSwap(fs, new HPath(target.toString)))
  }

  test("upsert after a crashed swap heals keys absent from the batch") {
    import org.apache.hadoop.fs.{Path => HPath}
    val base = java.nio.file.Files.createTempDirectory("graft-upsert-rec")
    val target = new java.io.File(base.toFile, "kv")
    val staging = new java.io.File(base.toFile, ".kv__upserting")
    // durable table: keys 1..3 at version 1
    Seq((1L, 1L, "a1"), (2L, 1L, "b1"), (3L, 1L, "c1")).toDF("id", "ver", "v")
      .coalesce(1).write.parquet(target.toString)
    // the crashed batch was upserting key 1 -> version 2
    Seq((1L, 2L, "a2"), (2L, 1L, "b1"), (3L, 1L, "c1")).toDF("id", "ver", "v")
      .coalesce(1).write.parquet(staging.toString)
    val fs = new HPath(target.toString)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Compaction.commitManifest(fs, new HPath(staging.toString),
      new HPath(target.toString),
      target.listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSeq)
    // crash before any adoption: old files + manifest, staging intact.
    // The NEXT batch only touches key 3 — without roll-forward, keys 1/2
    // would keep their stale versions (the ADVICE r6 failure mode).
    graft.streaming.Streams.upsertBatch(
      Seq((3L, 2L, "c2")).toDF("id", "ver", "v"),
      target.toString, Seq("id"), "ver")
    val rows = spark.read.parquet(target.toString)
      .as[(Long, Long, String)].collect().toSeq.sorted
    assert(rows == Seq((1L, 2L, "a2"), (2L, 1L, "b1"), (3L, 2L, "c2")),
      s"crashed swap not healed: $rows")
  }

  test("statistics refresh records table + column stats for the CBO") {
    import graft.ops.Stats
    spark.sql("DROP TABLE IF EXISTS stats_probe")
    Seq((1L, "a"), (2L, "b"), (3L, "b")).toDF("k", "v")
      .write.mode("overwrite").saveAsTable("stats_probe")
    try {
      Stats.refreshStatistics(spark, Seq("stats_probe"),
        columns = Map("stats_probe" -> Seq("k", "v")))
      val tableStats = spark.sql("DESCRIBE TABLE EXTENDED stats_probe")
        .filter($"col_name" === "Statistics")
        .select("data_type").as[String].collect()
      assert(tableStats.nonEmpty && tableStats.head.contains("3 rows"))
      val colStats = spark.sql("DESCRIBE EXTENDED stats_probe k")
        .filter($"info_name" === "distinct_count")
        .select("info_value").as[String].collect()
      assert(colStats.headOption.contains("3"))
    } finally spark.sql("DROP TABLE IF EXISTS stats_probe")
  }

  test("table API enforces allow-list and limit bounds") {
    Seq((1, "a")).toDF("id", "v").createOrReplaceTempView("allowed_t")
    val cfg = TableApi.Config(Set("allowed_t"))
    assert(TableApi.read(spark, cfg, "allowed_t", 10).count() == 1)
    intercept[IllegalArgumentException](TableApi.read(spark, cfg, "secret_t", 10))
    intercept[IllegalArgumentException](TableApi.read(spark, cfg, "allowed_t", 0))
    intercept[IllegalArgumentException](TableApi.read(spark, cfg, "allowed_t", 5000))
  }

  test("incremental mart refresh rebuilds only drifted partitions") {
    import graft.marts.Refresh
    val base = java.nio.file.Files.createTempDirectory("graft-increfresh")
    val martDir = s"$base/mart"
    def fact(rows: Seq[(Int, String, Double)]) =
      rows.toDF("annee", "departement_code", "valeur")
    val build = (src: org.apache.spark.sql.DataFrame) =>
      src.groupBy("annee", "departement_code")
        .agg(round(sum("valeur"), 2).as("total"),
          count(lit(1)).as("n"))
    val v1 = fact(Seq(
      (2023, "59", 10.0), (2023, "59", 5.0), (2023, "62", 7.0),
      (2024, "59", 1.0), (2024, "62", 2.0), (2024, "80", 9.0)))
    // first refresh: full materialization, every group reported rebuilt
    val r1 = Refresh.refreshIncremental(spark, v1,
      Seq("annee", "departement_code"), Seq("valeur"), build, martDir)
    assert(r1.rebuilt.size == 5 && r1.removed.isEmpty)
    def files(rel: String): Map[String, Long] = {
      val d = new java.io.File(s"$martDir/$rel")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val untouched59_2023 = files("annee=2023/departement_code=59")
    val untouched62_2024 = files("annee=2024/departement_code=62")
    assert(untouched59_2023.nonEmpty)
    // v2: (2024,59) changes, (2024,95) appears, (2024,80) disappears
    val v2 = fact(Seq(
      (2023, "59", 10.0), (2023, "59", 5.0), (2023, "62", 7.0),
      (2024, "59", 4.0), (2024, "62", 2.0), (2024, "95", 3.0)))
    val r2 = Refresh.refreshIncremental(spark, v2,
      Seq("annee", "departement_code"), Seq("valeur"), build, martDir)
    assert(r2.rebuilt.toSet == Set(
      Map("annee" -> "2024", "departement_code" -> "59"),
      Map("annee" -> "2024", "departement_code" -> "95")), r2.toString)
    assert(r2.removed == Seq(Map("annee" -> "2024", "departement_code" -> "80")))
    assert(r2.unchanged == 3)
    // unchanged partitions: SAME files, same mtimes — never rewritten
    assert(files("annee=2023/departement_code=59") == untouched59_2023)
    assert(files("annee=2024/departement_code=62") == untouched62_2024)
    // removed group's directory is gone
    assert(!new java.io.File(s"$martDir/annee=2024/departement_code=80").exists())
    // and the mart now equals a from-scratch build of v2
    val got = spark.read.parquet(martDir)
      .select("annee", "departement_code", "total", "n")
      .as[(Int, String, Double, Long)].collect().toSet
    val want = build(v2).as[(Int, String, Double, Long)].collect().toSet
    assert(got == want)
    // a no-change refresh rebuilds nothing and touches no files
    val before59 = files("annee=2024/departement_code=59")
    val r3 = Refresh.refreshIncremental(spark, v2,
      Seq("annee", "departement_code"), Seq("valeur"), build, martDir)
    assert(r3.rebuilt.isEmpty && r3.removed.isEmpty && r3.unchanged == 5)
    assert(files("annee=2024/departement_code=59") == before59)
  }

  test("incremental refresh: the stored digest table equals the source's " +
      "groupDigest after every refresh") {
    import graft.marts.Refresh
    import graft.ops.Quality
    val martDir = java.nio.file.Files.createTempDirectory("graft-digests")
      .resolve("mart").toString
    val groupCols = Seq("annee", "departement_code")
    val build = (src: org.apache.spark.sql.DataFrame) =>
      src.groupBy(groupCols.map(col): _*).agg(sum("valeur").as("total"))
    def fact(rows: (Int, String, Double)*) =
      rows.toDF("annee", "departement_code", "valeur")
    def digests(df: org.apache.spark.sql.DataFrame) =
      df.select("annee", "departement_code", "digest", "n_rows")
        .as[(Int, String, Long, Long)].collect().toSet
    val versions = Seq(
      fact((2023, "59", 10.0), (2023, "62", 7.0), (2024, "59", 1.0)),
      // a group changes, one appears
      fact((2023, "59", 10.0), (2023, "62", 8.0), (2024, "59", 1.0),
        (2024, "80", 2.0)),
      // nothing changes
      fact((2023, "59", 10.0), (2023, "62", 8.0), (2024, "59", 1.0),
        (2024, "80", 2.0)),
      // a group vanishes, another gains a row
      fact((2023, "59", 10.0), (2023, "59", 3.0), (2024, "59", 1.0),
        (2024, "80", 2.0)))
    versions.foreach { v =>
      Refresh.refreshIncremental(spark, v, groupCols, Seq("valeur"), build,
        martDir)
      assert(digests(spark.read.parquet(s"$martDir/_digests")) ==
        digests(Quality.groupDigest(v, groupCols, Seq("valeur"))))
      assert(spark.read.parquet(martDir).select("annee", "departement_code",
        "total").as[(Int, String, Double)].collect().toSet ==
        build(v).as[(Int, String, Double)].collect().toSet)
    }
  }

  test("large drift sets refresh via broadcast semi-join, small via literal filter") {
    import graft.marts.Refresh
    val src = spark.range(5000)
      .select((col("id") % 1200).cast("int").as("grp"),
        (col("id") * 3).cast("double").as("valeur"))
    // small set → literal OR-of-ANDs, pushdown-friendly
    val fewKeys = (0 until 10).map(i => Map("grp" -> i.toString))
    val small = Refresh.driftedSlice(spark, src, Seq("grp"), fewKeys)
    assert(small.queryExecution.executedPlan.toString.contains("Filter"))
    assert(!small.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
    assert(small.count() == src.filter(col("grp") < 10).count())
    // 1k drifted groups → must NOT build a 1000-disjunct expression tree;
    // plan is a broadcast left-semi join and analysis stays instant
    val manyKeys = (0 until 1000).map(i => Map("grp" -> i.toString))
    val t0 = System.nanoTime()
    val big = Refresh.driftedSlice(spark, src, Seq("grp"), manyKeys)
    val planStr = big.queryExecution.executedPlan.toString
    val analysisSec = (System.nanoTime() - t0) / 1e9
    assert(analysisSec < 10, f"analysis took $analysisSec%.1f s")
    assert(planStr.contains("BroadcastHashJoin") && planStr.contains("LeftSemi"),
      planStr.take(500))
    assert(big.count() == src.filter(col("grp") < 1000).count())
    // end-to-end: a refresh where 1k groups drift completes sanely
    val base = java.nio.file.Files.createTempDirectory("graft-bigdrift")
    val martDir = s"$base/mart"
    val build = (s: org.apache.spark.sql.DataFrame) =>
      s.groupBy("grp").agg(sum("valeur").as("total"))
    val r1 = Refresh.refreshIncremental(spark, src,
      Seq("grp"), Seq("valeur"), build, martDir)
    assert(r1.rebuilt.size == 1200)
    val src2 = src.withColumn("valeur",
      when(col("grp") < 1000, col("valeur") * 2).otherwise(col("valeur")))
    val r2 = Refresh.refreshIncremental(spark, src2,
      Seq("grp"), Seq("valeur"), build, martDir)
    assert(r2.rebuilt.size == 1000 && r2.unchanged == 200, r2.rebuilt.size)
    val got = spark.read.parquet(martDir).agg(sum("total")).head.getDouble(0)
    val want = build(src2).agg(sum("total")).head.getDouble(0)
    assert(math.abs(got - want) < 1e-6)
  }

  test("incremental refresh round-trips date/timestamp group keys (both branches)") {
    import graft.marts.Refresh
    // Java Timestamp.toString ("…00:00:00.0") disagrees with Spark's SQL
    // cast ("…00:00:00"); before keys were canonicalized through the SQL
    // cast, a >64-key drift on a timestamp column matched NOTHING in the
    // semi-join branch and the drifted slices were silently never rebuilt.
    val base = java.nio.file.Files.createTempDirectory("graft-tsrefresh")
    val martDir = s"$base/mart"
    val build = (s: org.apache.spark.sql.DataFrame) =>
      s.groupBy("ts").agg(sum("valeur").as("total"))
    val src = spark.range(400)
      .select((col("id") % 100).as("h"), col("id").cast("double").as("valeur"))
      .select(to_timestamp(format_string("2024-03-01 %02d:00:00", col("h") % 24))
        .as("ts"), col("valeur"))
      .union(spark.range(80).select(
        to_timestamp(format_string("2024-04-%02d 06:30:00", col("id") % 28 + 1))
          .as("ts"), lit(1.0).as("valeur")))
    val r1 = Refresh.refreshIncremental(spark, src,
      Seq("ts"), Seq("valeur"), build, martDir)
    assert(r1.rebuilt.size == 52, r1.rebuilt.size) // 24 march hours + 28 april days
    // drift ALL groups → >64? 52 groups only; force the semi-join branch by
    // checking driftedSlice directly with the canonical strings instead
    val canon = src.select(col("ts").cast("string").as("k"))
      .distinct().as[String].collect().sorted
    assert(canon.length == 52)
    val manyKeys = canon.map(k => Map("ts" -> k)).toSeq
    // literal branch (<=64) on timestamp keys selects every row
    assert(Refresh.driftedSlice(spark, src, Seq("ts"), manyKeys).count() == 480)
    // semi-join branch: replicate keys past the literal threshold
    val padded = manyKeys ++ (0 until 40).map(i =>
      Map("ts" -> f"2030-01-01 ${i % 24}%02d:00:00"))
    assert(padded.size > Refresh.MaxLiteralDriftKeys)
    val sliced = Refresh.driftedSlice(spark, src, Seq("ts"), padded)
    assert(sliced.count() == 480,
      "timestamp keys must round-trip through the broadcast semi-join branch")
    // now a real incremental pass: one group changes, one vanishes
    val src2 = src
      .filter(col("ts") =!= to_timestamp(lit("2024-04-03 06:30:00")))
      .withColumn("valeur", when(
        col("ts") === to_timestamp(lit("2024-03-01 05:00:00")),
        col("valeur") * 10).otherwise(col("valeur")))
    val r2 = Refresh.refreshIncremental(spark, src2,
      Seq("ts"), Seq("valeur"), build, martDir)
    assert(r2.rebuilt == Seq(Map("ts" -> "2024-03-01 05:00:00")), r2.toString)
    assert(r2.removed == Seq(Map("ts" -> "2024-04-03 06:30:00")), r2.toString)
    assert(r2.unchanged == 50)
    // the vanished group's escaped partition directory is actually gone
    assert(!new java.io.File(
      s"$martDir/ts=2024-04-03 06%3A30%3A00").exists())
    val got = spark.read.parquet(martDir).agg(sum("total")).head.getDouble(0)
    val want = build(src2).agg(sum("total")).head.getDouble(0)
    assert(math.abs(got - want) < 1e-6)
    // binary group keys fail fast instead of silently matching nothing
    val bin = spark.range(3).select(col("id").cast("string").cast("binary")
      .as("k"), col("id").cast("double").as("valeur"))
    intercept[IllegalArgumentException] {
      Refresh.refreshIncremental(spark, bin, Seq("k"), Seq("valeur"),
        (s: org.apache.spark.sql.DataFrame) => s, s"$base/binmart")
    }
  }

  test("profile default is one pass: 50 columns, a handful of jobs") {
    import graft.ops.Profile
    val colNames = (0 until 50).map(i => s"c$i")
    val wide = spark.range(2000).select(
      colNames.zipWithIndex.map { case (c, i) =>
        (col("id") % (i + 2)).as(c)
      }: _*)
    var approx: Map[String, (String, Long, Long, Long)] = Map.empty
    val approxJobs = jobsRunBy {
      approx = Profile.describe(wide, colNames)
        .select("column", "n", "n_null", "n_distinct")
        .as[(String, Long, Long, Long)].collect()
        .map(r => r._1 -> r).toMap
    }
    val exactJobs = jobsRunBy {
      Profile.describe(wide, colNames, exactDistinct = true).collect()
    }
    // one aggregate pass (AQE may materialize its stages as 2-3 jobs)
    // versus one-plus jobs per column on the exact path
    assert(approxJobs <= 5, s"approx path ran $approxJobs jobs")
    assert(exactJobs >= colNames.size,
      s"exact path unexpectedly cheap: $exactJobs jobs")
    // counts/nulls exact; sketch cardinality lands near truth (c_i has
    // i+2 distinct values; HLL is exact in sparse range, allow 10%)
    colNames.zipWithIndex.foreach { case (c, i) =>
      val (_, n, nNull, nd) = approx(c)
      assert(n == 2000L && nNull == 0L)
      assert(math.abs(nd - (i + 2)) <= math.max(1, (i + 2) / 10),
        s"$c distinct $nd vs ${i + 2}")
    }
  }

  test("profile describes columns and histograms clamp to the bin range") {
    import graft.ops.Profile
    val df = Seq[(java.lang.Double, java.lang.Long)](
      (1.0, 1L), (2.0, 2L), (2.0, 3L), (null, 4L), (100.0, 5L))
      .toDF("x", "id")
    val p = Profile.describe(df, Seq("x", "id"))
      .as[(String, Long, Long, Long, Double, Double, Double)]
      .collect().map(r => r._1 -> r).toMap
    assert(p("x") == (("x", 5L, 1L, 3L, 1.0, 100.0, 26.25)))
    assert(p("id")._4 == 5L && p("id")._5 == 1.0 && p("id")._6 == 5.0)
    // histogram: nulls excluded, out-of-range clamps into edge buckets
    val h = Profile.histogram(df, "x", lo = 0.0, hi = 10.0, bins = 5)
      .as[(Int, Long)].collect().toMap
    // bin width 2: 1.0→bucket 0, the two 2.0s→bucket 1, 100.0 clamps to 4
    assert(h == Map(0 -> 1L, 1 -> 2L, 4 -> 1L))
    // an all-null column profiles as nulls, it does not crash the pass
    val allNull = Seq[(java.lang.Double, Long)]((null, 1L), (null, 2L))
      .toDF("x", "id")
    val pn = Profile.describe(allNull, Seq("x"))
      .as[(String, Long, Long, Long, Option[Double], Option[Double], Option[Double])]
      .collect().head
    assert(pn == (("x", 2L, 2L, 0L, None, None, None)))
  }

  test("query metrics window reports shuffle volume (and its absence)") {
    import graft.ops.QueryMetrics
    val df = spark.range(0, 200000).select($"id", ($"id" % 97).as("k"))
    // a groupBy must show shuffle traffic...
    val (n1, agg) = QueryMetrics.measure(spark) {
      df.groupBy("k").count().count()
    }
    assert(n1 == 97L)
    assert(agg.shuffleWriteBytes > 0 && agg.shuffleReadBytes > 0)
    assert(agg.tasks > 0)
    // ...a map-only pipeline must not (noop sink: no count-style final
    // aggregation exchange, just the mapped partitions)
    val (_, mapOnly) = QueryMetrics.measure(spark) {
      df.filter($"k" === 0).write.format("noop").mode("overwrite").save()
    }
    assert(mapOnly.tasks > 0)
    assert(mapOnly.shuffleWriteBytes == 0,
      s"map-only pipeline shuffled: $mapOnly")
  }

  test("table API summary describes each allowed table (rows/cols/schema)") {
    Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v")
      .createOrReplaceTempView("sum_b")
    Seq((1.5, true)).toDF("x", "flag").createOrReplaceTempView("sum_a")
    val cfg = TableApi.Config(Set("sum_b", "sum_a"))
    val rows = TableApi.describe(spark, cfg)
      .as[(String, Long, Int, String)].collect().toSeq
    // sorted by table name, like the reference's sort_values('table')
    assert(rows.map(_._1) == Seq("sum_a", "sum_b"))
    assert(rows == Seq(
      ("sum_a", 1L, 2, "x DOUBLE NOT NULL,flag BOOLEAN NOT NULL"),
      ("sum_b", 3L, 2, "id INT NOT NULL,v STRING")))
  }
}
