package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Operational layer: ETL logging, monitoring views, snapshot backup with
  * retention — the reference's `dwh.log_etl`/`log_erreurs`
  * (`Terraform/sql/008_configure_logging.sql:13-68`) and BACPAC backup
  * (`analytics/etl/backup_to_datalake.py:93-190`) re-expressed as
  * append-only parquet tables and warehouse-directory snapshots.
  */
object EtlLog {
  val schema: StructType = StructType(Seq(
    StructField("etape", StringType),
    StructField("table_cible", StringType),
    StructField("statut", StringType), // SUCCES | ERREUR | IGNORE
    StructField("lignes_traitees", LongType),
    StructField("duree_secondes", DoubleType),
    StructField("message", StringType),
    StructField("date_execution", TimestampType)))

  def entry(spark: SparkSession, etape: String, table: String, statut: String,
      rows: Long, secs: Double, message: String = ""): DataFrame =
    spark.createDataFrame(
      java.util.List.of(Row(etape, table, statut, rows, secs, message,
        new java.sql.Timestamp(System.currentTimeMillis()))), schema)

  def append(df: DataFrame, path: String): Unit =
    df.write.mode("append").parquet(path)

  /** Monitoring view: per-day per-etape counts, error share, avg duration
    * (reference `008:171-182`). */
  def monitoring(log: DataFrame): DataFrame =
    log.groupBy(to_date(col("date_execution")).as("jour"), col("etape"))
      .agg(count(lit(1)).as("n_executions"),
        sum(when(col("statut") === "ERREUR", 1).otherwise(0)).as("n_erreurs"),
        avg("duree_secondes").as("duree_moyenne_s"),
        sum("lignes_traitees").as("lignes_totales"))

  /** Timed stage runner: executes the stage, appends a log row, re-throws
    * failures after logging (the reference's try/except + report). */
  def timed[T](spark: SparkSession, logPath: String, etape: String,
      table: String)(body: => (T, Long)): T = {
    val t0 = System.nanoTime()
    try {
      val (out, rows) = body
      append(entry(spark, etape, table, "SUCCES", rows,
        (System.nanoTime() - t0) / 1e9), logPath)
      out
    } catch {
      case e: Throwable =>
        append(entry(spark, etape, table, "ERREUR", 0L,
          (System.nanoTime() - t0) / 1e9, String.valueOf(e.getMessage)), logPath)
        throw e
    }
  }
}

/** Active-work view — the reference's `security.v_connexions_actives`
  * (`011_security_rls.sql:350`: who is running what right now, from the
  * server DMVs); the engine-side source of truth is the scheduler's
  * status tracker. One row per ACTIVE job with its stage/task progress —
  * driver-local metadata, no Spark job launched to ask. */
object ActiveWork {
  def activeJobs(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val st = spark.sparkContext.statusTracker
    st.getActiveJobIds().toSeq.flatMap { jobId =>
      st.getJobInfo(jobId).map { j =>
        val stages = j.stageIds().toSeq.flatMap(sid => st.getStageInfo(sid))
        (jobId, j.status().name(), stages.size,
          stages.map(_.numTasks().toLong).sum,
          stages.map(_.numActiveTasks().toLong).sum,
          stages.map(_.numCompletedTasks().toLong).sum)
      }
    }.toDF("job_id", "status", "n_stages", "n_tasks", "n_active_tasks",
      "n_completed_tasks")
  }
}

/** Error ledger — the reference's `dwh.log_erreurs` lifecycle
  * (`008_configure_logging.sql:121-209`: `sp_log_erreur`,
  * `sp_resoudre_erreur`, `v_erreurs_ouvertes`) re-expressed for an
  * append-only store: the reference UPDATEs `est_resolu` in place, but
  * parquet is immutable, so resolution is an EVENT — a marker row in a
  * companion table — and "open errors" is one anti-join of errors
  * against resolutions, with the age computed against a caller-supplied
  * clock (deterministic, testable; the reference bakes in GETDATE()). */
object ErrorLedger {
  val schema: StructType = StructType(Seq(
    StructField("erreur_id", LongType),
    StructField("date_erreur", TimestampType),
    StructField("source", StringType),
    StructField("type_erreur", StringType),
    StructField("message_erreur", StringType)))

  def logError(spark: SparkSession, path: String, id: Long, source: String,
      typeErreur: String, message: String,
      at: java.sql.Timestamp = new java.sql.Timestamp(System.currentTimeMillis())): Unit =
    spark.createDataFrame(
      java.util.List.of(Row(id, at, source, typeErreur, message)), schema)
      .write.mode("append").parquet(path)

  /** Resolution marker (the `sp_resoudre_erreur` analogue). */
  def resolve(spark: SparkSession, resolutionsPath: String, id: Long,
      at: java.sql.Timestamp = new java.sql.Timestamp(System.currentTimeMillis())): Unit =
    spark.createDataFrame(
      java.util.List.of(Row(java.lang.Long.valueOf(id), at)),
      StructType(Seq(StructField("erreur_id", LongType),
        StructField("date_resolution", TimestampType))))
      .write.mode("append").parquet(resolutionsPath)

  /** `v_erreurs_ouvertes`: errors with no resolution marker, plus the
    * hours elapsed against `asOf`. */
  def openErrors(errors: DataFrame, resolutions: DataFrame,
      asOf: java.sql.Timestamp): DataFrame =
    errors.join(resolutions.select("erreur_id"), Seq("erreur_id"), "left_anti")
      .withColumn("heures_depuis_erreur",
        floor((lit(asOf).cast("long") - col("date_erreur").cast("long")) / 3600)
          .cast("int"))
}

/** Snapshot backup + retention sweep + restore — the reference's BACPAC
  * export / 30-day cleanup / documented RPO-24h-RTO-4h restore procedure
  * (`analytics/etl/backup_to_datalake.py:93-190`,
  * `docs/E6_MAINTENANCE_METHODOLOGY.md` §8) re-expressed for a
  * distributed warehouse:
  *
  *  - All metadata operations use the Hadoop FileSystem API, so backups
  *    run unchanged on local disk, HDFS, or an object store behind an
  *    s3a/abfs connector — same posture as the compaction sweep.
  *  - The byte movement is a DISTRIBUTED Spark job: the driver lists the
  *    file inventory (metadata only — one recursive listing), and the
  *    copies fan out one task per file across the cluster. At 100 TB a
  *    driver-side walk+copy would be a single-threaded, days-long
  *    bottleneck; per-file tasks make the copy scale with the cluster
  *    (and an object-store connector can turn each task's copy into a
  *    server-side COPY with no data through the executor).
  */
object Backup {
  import org.apache.hadoop.conf.Configuration
  import org.apache.hadoop.fs.{FileSystem, FileUtil, Path => HPath}

  /** Relative paths of every regular file under `root` (driver-side
    * metadata listing; hidden entries are NOT skipped — a backup must be
    * byte-faithful, including _SUCCESS markers). */
  private def inventory(fs: FileSystem, root: HPath): Seq[String] = {
    val rootUri = fs.makeQualified(root).toUri.getPath.stripSuffix("/")
    val it = fs.listFiles(root, true)
    val out = Seq.newBuilder[String]
    while (it.hasNext) {
      val p = it.next().getPath.toUri.getPath
      out += p.stripPrefix(rootUri).stripPrefix("/")
    }
    out.result()
  }

  /** Distributed tree copy `srcRoot/rel -> destRoot/rel` for every file
    * in the inventory: one Spark task per file, Hadoop conf shipped as
    * plain key-value pairs (executors rebuild it — Configuration itself
    * is not serializable). Returns the number of files copied. */
  private def copyTree(spark: SparkSession, srcRoot: HPath,
      destRoot: HPath): Long = {
    val sc = spark.sparkContext
    val fs = srcRoot.getFileSystem(sc.hadoopConfiguration)
    val files = inventory(fs, srcRoot)
    destRoot.getFileSystem(sc.hadoopConfiguration).mkdirs(destRoot)
    if (files.isEmpty) return 0L
    val confKv = sc.hadoopConfiguration.iterator().asScala
      .map(e => e.getKey -> e.getValue).toArray
    val (srcStr, destStr) = (fs.makeQualified(srcRoot).toString,
      destRoot.getFileSystem(sc.hadoopConfiguration)
        .makeQualified(destRoot).toString)
    val slices = math.min(files.size, sc.defaultParallelism * 2).max(1)
    sc.parallelize(files, slices).foreach { rel =>
      val conf = new Configuration(false)
      confKv.foreach { case (k, v) => conf.set(k, v) }
      val src = new HPath(s"$srcStr/$rel")
      val dst = new HPath(s"$destStr/$rel")
      FileUtil.copy(src.getFileSystem(conf), src,
        dst.getFileSystem(conf), dst,
        /*deleteSource*/ false, /*overwrite*/ true, conf)
    }
    files.size.toLong
  }

  def snapshot(spark: SparkSession, warehouseDir: String, backupRoot: String,
      stamp: String): String = {
    val dest = new HPath(backupRoot, s"snapshot_$stamp")
    copyTree(spark, new HPath(warehouseDir), dest)
    dest.toString
  }

  /** The restore inverse (RTO path): replace `warehouseDir` with the
    * contents of `snapshotDir`. The old warehouse is moved aside, the
    * snapshot copied in by the same distributed job as [[snapshot]], and
    * the aside dir dropped only after the copy lands — a failed restore
    * leaves the aside dir to roll back by hand rather than a half-empty
    * warehouse and no original. */
  def restore(spark: SparkSession, snapshotDir: String,
      warehouseDir: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val snap = new HPath(snapshotDir)
    val wh = new HPath(warehouseDir)
    val fs = wh.getFileSystem(conf)
    require(snap.getFileSystem(conf).exists(snap),
      s"snapshot not found: $snapshotDir")
    val aside = new HPath(wh.getParent, "." + wh.getName + "__pre_restore")
    if (fs.exists(aside)) fs.delete(aside, true)
    if (fs.exists(wh) && !fs.rename(wh, aside))
      throw new java.io.IOException(s"restore aborted: could not move $wh aside")
    copyTree(spark, snap, wh)
    fs.delete(aside, true)
  }

  /** Backup-state view (reference `analytics.v_etat_backup_azure`,
    * `009_configure_backup.sql:37-53`, which reads a server DMV; the
    * engine equivalent inventories the snapshot directory): one row per
    * snapshot with stamp, file count and total bytes — one
    * getContentSummary RPC per snapshot, over a path set bounded by the
    * retention window. */
  def status(spark: SparkSession, backupRoot: String): DataFrame = {
    import spark.implicits._
    val root = new HPath(backupRoot)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rows =
      if (!fs.exists(root)) Seq.empty
      else fs.listStatus(root).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("snapshot_"))
        .map { s =>
          val sum = fs.getContentSummary(s.getPath)
          (s.getPath.getName.stripPrefix("snapshot_"),
            sum.getFileCount, sum.getLength)
        }.sortBy(_._1)
    rows.toDF("stamp", "n_files", "total_bytes")
  }

  /** Backup history (reference `analytics.v_historique_backups`,
    * `009:67-79`): the ETL log filtered to backup/restore stages. */
  def history(log: DataFrame, stages: Seq[String] =
      Seq("BACKUP", "RESTAURATION")): DataFrame =
    log.filter(col("etape").isin(stages.map(x => x: Any): _*))

  /** Remove snapshots whose lexicographic stamp is older than `cutoffStamp`
    * (stamps are yyyyMMdd_HHmmss so string order = time order).
    * Metadata-only driver work: one listing + one recursive delete per
    * expired snapshot. */
  def sweep(spark: SparkSession, backupRoot: String,
      cutoffStamp: String): Seq[String] = {
    val root = new HPath(backupRoot)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Nil
    val victims = fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("snapshot_"))
      .filter(_.getPath.getName.stripPrefix("snapshot_") < cutoffStamp)
      .map(_.getPath)
    victims.foreach(v => fs.delete(v, true))
    victims.map(_.toString)
  }
}

/** Small-file compaction sweep — the warehouse-maintenance analogue of the
  * reference's fragmentation-driven index rebuild/reorganize
  * (`Terraform/sql/007_configure_performance.sql:103-151`: scan the DMVs,
  * rebuild only what crossed the fragmentation threshold). Here the
  * "fragmentation" is file-count-per-bytes: streaming appends and
  * per-batch writes leave parquet directories with many files far below
  * the target size, and at 100 TB the scan-task count (and the
  * NameNode/listing pressure) is driven by file count, not data size.
  *
  * The sweep enumerates LEAF directories on the driver (metadata only —
  * the same shape as the reference's DMV scan), and rewrites only the
  * directories whose file count exceeds what their byte size warrants at
  * `targetBytes`/file. Each rewrite is a distributed Spark job
  * (read → coalesce → write); partition directories are preserved
  * because each leaf is rewritten in place — partition values live in
  * the directory names, untouched by the file swap.
  *
  * Swap discipline: the rewrite lands in a dot-prefixed sibling dir
  * (hidden paths are ignored by Spark's FileIndex and by partition
  * discovery, so the temp files can never surface as a bogus
  * partition), fresh files are renamed IN before the old ones are
  * deleted (a crash mid-swap can leave transient duplicates, never
  * data loss), and stale temp dirs from a crashed earlier sweep are
  * removed at the start of the next one. The swap is NOT atomic — a
  * reader listing the leaf mid-swap can see both file sets; point-in-
  * time isolation needs a transactional table format, out of scope.
  */
object Compaction {
  import org.apache.hadoop.fs.{FileSystem, Path => HPath}

  final case class Report(dir: String, filesBefore: Int, filesAfter: Int,
      bytes: Long)

  private[graft] def isDataFile(p: HPath): Boolean = {
    val n = p.getName
    n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_")
  }

  /** Name of the swap manifest — the COMMIT RECORD of a file swap, living
    * dot-prefixed inside the target leaf (invisible to Spark's FileIndex).
    * Line 1 names the staging dir (resolved against the target's parent);
    * the remaining lines name the old data files to drop. Its atomic
    * rename into place is the commit point: before it, a swap aborts
    * clean; after it, the swap ROLLS FORWARD via [[recoverSwap]]. */
  private val ManifestName = "._graft_swap_manifest"

  /** Name of the single-writer lease file, dot-prefixed inside the
    * target leaf like the manifest. The swap protocol is SINGLE-WRITER
    * per table directory: two concurrent swappers (a compaction sweep
    * racing a streaming upsert on the same dir) would clobber each
    * other's manifest — the second `commitManifest` rename replaces the
    * first swap's commit record, stranding its old files forever. The
    * lease makes that contract fail FAST: [[swapDataFiles]] and
    * [[recoverSwap]] take it create-exclusively before mutating and
    * release it when done; a second writer gets a loud IOException
    * instead of silent corruption. Atomicity of the create step is
    * store-dependent: on a LOCAL filesystem the lease is created with
    * O_CREAT|O_EXCL via NIO (Hadoop's `RawLocalFileSystem.create(path,
    * overwrite=false)` is check-then-create, NOT atomic across
    * processes, so it is bypassed); on HDFS `create(overwrite=false)`
    * is atomic natively; on eventually-consistent object stores the
    * protocol narrows the race without closing it (deployments needing
    * hard exclusion there coordinate writers externally, e.g. one
    * compactor per table). Each acquisition writes a UNIQUE holder
    * token and re-reads it after create — the belt-and-suspenders that
    * catches takeover interleavings on stores without atomic create.
    *
    * A holder that crashes leaves a stale lease; it is broken after
    * `ttlMs` (default 15 min) by an ATOMIC RENAME to a unique tombstone
    * — two breakers that both observed the expired lease cannot both
    * win (the second rename finds no source), where delete-then-create
    * would let breaker B delete breaker A's FRESH lease. The dead
    * holder's manifest, if committed, rolls forward under the new
    * lease. The TTL bounds crash-DETECTION latency only, not critical-
    * section length: [[withSwapLease]] heartbeats the lease (every
    * ttl/3) by rewriting its payload with a fresh stamp — portable to
    * stores where setTimes is a no-op, see [[leasePayload]] — so a
    * live holder whose read→merge→stage→swap Spark jobs outlast the
    * TTL is never mistaken for a dead one; and [[commitManifest]]
    * re-verifies ownership immediately before the commit rename,
    * aborting rather than interleaving with a usurper's swap. */
  private val LeaseName = "._graft_swap_lease"
  private[graft] val DefaultLeaseTtlMs: Long = 15L * 60 * 1000

  /** Holder tokens of leases acquired through THIS JVM, keyed by the
    * qualified lease path: lets [[commitManifest]] re-verify ownership
    * at the commit point without threading a handle through every call
    * site. */
  private val leaseHolders =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Per-lease JVM-local monitors serializing this process's OWN
    * heartbeat rewrites against its commit-point ownership reads and
    * its release: the heartbeat REWRITES the lease payload (see
    * [[withSwapLease]]), and an unsynchronized same-JVM read racing
    * that rewrite could see a half-written token and abort our own
    * commit. Cross-process races stay fail-safe without this lock — a
    * foreign reader seeing a partial payload treats the lease as
    * foreign-held and aborts ITS OWN work, never ours. */
  private val leaseLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def lockFor(key: String): Object =
    leaseLocks.computeIfAbsent(key, _ => new Object)

  private def leaseKey(fs: FileSystem, lease: HPath): String =
    fs.makeQualified(lease).toUri.toString

  private def newLeaseToken(): String =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getName +
      "#" + java.util.UUID.randomUUID()

  /** Lease payload: line 1 = holder token, line 2 = heartbeat stamp
    * (epoch millis). The stamp makes liveness PORTABLE: `fs.setTimes`
    * is a no-op on S3A, so an mtime-only heartbeat dies silently on
    * object stores and a long-running holder gets broken as stale
    * (safe — the commit-point ownership check aborts it — but the work
    * is lost). [[acquireSwapLease]]'s age check reads the freshest of
    * mtime and payload stamp, so a heartbeat that can only rewrite the
    * file (create/rename — the ops every store has) still registers. */
  private def leasePayload(token: String): String =
    token + "\n" + System.currentTimeMillis()

  private def parseLease(content: String): (String, Option[Long]) = {
    val lines = content.split("\n", 2)
    (lines(0), lines.lift(1).flatMap(_.trim.toLongOption))
  }

  /** The holder token stored in `lease` (payload line 1), or None if
    * the file is gone or unreadable (mid-replacement). */
  private[graft] def readLeaseToken(fs: FileSystem,
      lease: HPath): Option[String] = readLease(fs, lease).map(_._1)

  private def readLease(fs: FileSystem,
      lease: HPath): Option[(String, Option[Long])] =
    try {
      val in = fs.open(lease)
      try Some(parseLease(new String(
        org.apache.commons.io.IOUtils.toByteArray(in),
        java.nio.charset.StandardCharsets.UTF_8)))
      finally in.close()
    } catch { case _: java.io.IOException => None }

  private def isLocalFs(fs: FileSystem): Boolean =
    fs.isInstanceOf[org.apache.hadoop.fs.LocalFileSystem] ||
      fs.isInstanceOf[org.apache.hadoop.fs.RawLocalFileSystem]

  /** Create-exclusive stream for the lease file. Local filesystems get
    * true O_CREAT|O_EXCL through NIO (atomic across processes, which
    * `RawLocalFileSystem.create` is not); everything else uses the
    * store's own `create(overwrite=false)`. */
  private def createLeaseExclusive(fs: FileSystem,
      lease: HPath): java.io.OutputStream =
    if (isLocalFs(fs))
      java.nio.file.Files.newOutputStream(
        java.nio.file.Paths.get(lease.toUri.getPath),
        java.nio.file.StandardOpenOption.CREATE_NEW,
        java.nio.file.StandardOpenOption.WRITE)
    else fs.create(lease, false)

  /** Take the single-writer swap lease on `target`, failing fast if a
    * live holder exists (see [[LeaseName]] for the contract). */
  private[graft] def acquireSwapLease(fs: FileSystem, target: HPath,
      ttlMs: Long = DefaultLeaseTtlMs): HPath = {
    val lease = new HPath(target, LeaseName)
    if (fs.exists(lease)) {
      // liveness = freshest of file mtime and payload heartbeat stamp:
      // the stamp carries the heartbeat on stores where setTimes is a
      // no-op and mtime freezes (see leasePayload); mtime still counts
      // so a legacy stamp-less lease ages exactly as before
      val mtime = fs.getFileStatus(lease).getModificationTime
      val stamp = readLease(fs, lease).flatMap(_._2).getOrElse(Long.MinValue)
      val age = System.currentTimeMillis() - math.max(mtime, stamp)
      if (age < ttlMs) throw new java.io.IOException(
        s"swap lease on $target held by another writer (age ${age}ms < " +
          s"ttl ${ttlMs}ms): concurrent compaction/upsert on one table " +
          "dir violates the single-writer swap contract — failing fast")
      // stale: the holder died. Break by ATOMIC RENAME to a unique
      // tombstone so only one breaker can win; any committed manifest
      // the dead holder left rolls forward under OUR lease.
      val tomb = new HPath(target,
        LeaseName + ".tomb-" + java.util.UUID.randomUUID())
      val renamed = try fs.rename(lease, tomb)
      catch { case _: java.io.IOException => false }
      if (!renamed) throw new java.io.IOException(
        s"lost the stale-lease takeover race on $target " +
          "(another breaker renamed it first)")
      fs.delete(tomb, false)
    }
    val token = newLeaseToken()
    val out = try createLeaseExclusive(fs, lease)
    catch {
      case e: java.io.IOException => throw new java.io.IOException(
        s"lost the swap-lease race on $target (concurrent writer)", e)
    }
    // the create succeeded — from here a failure must not strand an
    // orphan lease that blocks every writer for a full TTL with no
    // live holder
    try {
      out.write(leasePayload(token)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      out.close()
    } catch {
      case e: java.io.IOException =>
        try out.close() catch { case _: java.io.IOException => () }
        try fs.delete(lease, false) catch { case _: java.io.IOException => () }
        throw new java.io.IOException(
          s"swap-lease payload write failed on $target (lease removed)", e)
    }
    // re-read and verify the payload is OURS: closes the takeover
    // interleavings an un-atomic create can't exclude (two breakers
    // whose delete/create steps interleave end with ONE file — only
    // the writer whose token survived proceeds)
    val holder = readLeaseToken(fs, lease)
    if (!holder.contains(token)) throw new java.io.IOException(
      s"lost the swap-lease race on $target " +
        s"(holder now ${holder.getOrElse("<unreadable>")})")
    leaseHolders.put(leaseKey(fs, lease), token)
    lease
  }

  /** Run `body` holding the single-writer lease on `target`, releasing
    * it afterwards. The critical section should cover the WHOLE
    * read→merge→stage→swap sequence of a table rewrite, not just the
    * swap: a writer whose base read races another writer's swap would
    * otherwise silently lose the other's rows (its merge was computed
    * against the pre-swap base), and a compaction's swap-time listing
    * would delete a racing upsert's freshly adopted files. */
  private[graft] def withSwapLease[A](fs: FileSystem, target: HPath,
      ttlMs: Long = DefaultLeaseTtlMs)(body: => A): A = {
    val lease = acquireSwapLease(fs, target, ttlMs)
    val key = leaseKey(fs, lease)
    val token = leaseHolders.get(key)
    // heartbeat: the critical section spans whole Spark jobs, which can
    // legitimately outlast ttlMs — refreshing the lease keeps a LIVE
    // holder from being broken as a dead one mid-body. The refresh
    // REWRITES the payload with a fresh stamp (portable: create works
    // on every store, where fs.setTimes is an S3A no-op — the age check
    // reads the stamp), GATED on a token re-read so a usurper's lease
    // is never refreshed or overwritten by a broken-then-replaced
    // holder's stale beat. The read+rewrite pair is not atomic across
    // processes — a takeover landing between them gets overwritten for
    // one beat — but the next beat's re-read stops us, and the
    // commit-point ownership check below is the hard backstop. Daemon +
    // best-effort: a failed rewrite only re-opens the TTL window.
    //
    // The body's end WAKES the heartbeat through a latch and then joins
    // it; it never interrupts it. An interrupt landing inside the
    // `fs.create(lease, true)` rewrite would leave a truncated payload
    // with a fresh mtime: the release's token check would then fail and
    // strand a live-looking orphan lease for a full TTL.
    val done = new java.util.concurrent.CountDownLatch(1)
    val beat = math.max(250L, ttlMs / 3)
    val hb = new Thread(() => {
      var alive = true
      while (alive &&
          !done.await(beat, java.util.concurrent.TimeUnit.MILLISECONDS))
        lockFor(key).synchronized {
          try {
            if (readLeaseToken(fs, lease).contains(token)) {
              val out = fs.create(lease, true)
              try out.write(leasePayload(token)
                .getBytes(java.nio.charset.StandardCharsets.UTF_8))
              finally out.close()
            } else alive = false // usurped mid-body: stop beating
          } catch { case _: Exception => () }
        }
    }, s"graft-swap-lease-heartbeat-${target.getName}")
    hb.setDaemon(true)
    hb.start()
    try body
    finally {
      done.countDown()
      try hb.join() finally releaseSwapLease(fs, lease, token)
    }
  }

  /** Release a lease acquired by [[withSwapLease]]: delete it only if
    * it still carries OUR token — if it was broken and taken over
    * mid-body, deleting would kill the new holder's lease.
    *
    * The check-then-delete pair is a documented cross-process TOCTOU:
    * between our token read and our delete, a TTL-breaker could
    * tombstone our lease and create its own, and we would then delete
    * the new holder's file — stranding a live holder lease-less
    * mid-body. The window is a few syscalls wide, can only open after
    * our lease ALREADY looked a full TTL stale to the breaker (the
    * heartbeat makes that an operator-error/frozen-process case), and
    * the stranded holder's commit-point ownership check turns the
    * worst case into an abort, never corruption. Closing it outright
    * needs a compare-and-delete primitive no FileSystem offers;
    * accepted as best-effort alongside the object-store caveat in
    * [[LeaseName]]. The JVM-local lock only serializes against our own
    * heartbeat's payload rewrite. */
  private def releaseSwapLease(fs: FileSystem, lease: HPath,
      token: String): Unit = lockFor(leaseKey(fs, lease)).synchronized {
    leaseHolders.remove(leaseKey(fs, lease))
    if (token != null && readLeaseToken(fs, lease).contains(token))
      try fs.delete(lease, false) catch { case _: java.io.IOException => () }
  }

  /** Crash-safe swap of a leaf's data files, with roll-forward recovery:
    *
    *  1. verify no staged name collides with an existing target file —
    *     abort otherwise, nothing touched;
    *  2. COMMIT: write the manifest (staging dir + old-file list) to a
    *     temp name and rename it into the target;
    *  3. adopt every fresh file from `staging` into `target`;
    *  4. drop the old files; 5. drop the manifest and the staging dir.
    *
    * A crash before (2) leaves the target bit-identical (the orphaned
    * staging dir is swept by the next run); a crash after (2) leaves a
    * manifest that [[recoverSwap]] — called by the compaction sweep and
    * by every upsert batch before it reads the target — completes: adopt
    * what's still staged, drop what the manifest lists, clean up. So
    * duplicates from a mid-swap crash are TRANSIENT: visible only to a
    * reader racing the window between (2) and (4), healed before the next
    * merge reads the table. Shared by the compaction sweep and the
    * streaming upsert sink: one copy of the durability-critical
    * protocol. */
  private[graft] def swapDataFiles(fs: FileSystem, staging: HPath,
      target: HPath, leaseTtlMs: Long = DefaultLeaseTtlMs): Unit =
    withSwapLease(fs, target, leaseTtlMs)(
      swapDataFilesLocked(fs, staging, target))

  /** [[swapDataFiles]] for a caller already inside [[withSwapLease]]. */
  private[graft] def swapDataFilesLocked(fs: FileSystem, staging: HPath,
      target: HPath): Unit = {
    {
      val old = fs.listStatus(target)
        .filter(s => s.isFile && isDataFile(s.getPath))
      val fresh = fs.listStatus(staging)
        .filter(s => s.isFile && isDataFile(s.getPath))
      // collision check BEFORE the commit point: an abort here is clean
      fresh.foreach { f =>
        val dest = new HPath(target, f.getPath.getName)
        if (fs.exists(dest))
          throw new java.io.IOException(
            s"swap aborted: rename ${f.getPath} -> $dest failed; " +
              "old files left in place")
      }
      commitManifest(fs, staging, target, old.map(_.getPath.getName))
      fresh.foreach { f =>
        val dest = new HPath(target, f.getPath.getName)
        if (!fs.rename(f.getPath, dest))
          // past the commit point the swap must not un-happen: leave the
          // manifest in place so the next recoverSwap retries the adoption
          throw new java.io.IOException(
            s"swap interrupted: rename ${f.getPath} -> $dest failed; " +
              "manifest left for roll-forward recovery")
      }
      old.foreach(p => fs.delete(p.getPath, false))
      fs.delete(new HPath(target, ManifestName), false)
      fs.delete(staging, true)
    }
  }

  /** Write + atomically rename the swap commit record (see
    * [[swapDataFiles]]); `private[graft]` so tests can stage a simulated
    * crash between commit and completion. */
  private[graft] def commitManifest(fs: FileSystem, staging: HPath,
      target: HPath, oldNames: Seq[String]): Unit = {
    // commit-point ownership check: if OUR lease was broken mid-body
    // (TTL expiry despite the heartbeat, an operator deleting the file)
    // and another writer took the leaf, renaming our manifest in would
    // clobber theirs and strand their old files forever — abort BEFORE
    // the commit instead. Only applies to leases acquired through this
    // JVM's withSwapLease (tests drive commitManifest bare to simulate
    // crashes; those skip the check).
    val lease = new HPath(target, LeaseName)
    Option(leaseHolders.get(leaseKey(fs, lease))).foreach { ours =>
      // under the JVM-local lease lock: our own heartbeat rewrites the
      // payload, and reading mid-rewrite would see a torn token and
      // abort our own commit
      val holder = lockFor(leaseKey(fs, lease)).synchronized(
        readLeaseToken(fs, lease))
      if (!holder.contains(ours)) throw new java.io.IOException(
        s"swap lease on $target was taken over mid-critical-section " +
          s"(holder now ${holder.getOrElse("<missing>")}) — aborting " +
          "before the manifest commit")
    }
    val tmp = new HPath(target, ManifestName + ".tmp")
    val out = fs.create(tmp, true)
    try out.write((staging.getName +: oldNames).mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val manifest = new HPath(target, ManifestName)
    if (!fs.rename(tmp, manifest))
      throw new java.io.IOException(s"could not commit swap manifest $manifest")
  }

  /** Roll an interrupted swap forward (no-op without a manifest): adopt
    * any file still in the manifest's staging dir, drop every old file
    * the manifest lists, then drop manifest + staging. Idempotent —
    * crashing inside recovery just means recovering again. Returns true
    * when a manifest was found and completed. */
  private[graft] def recoverSwap(fs: FileSystem, target: HPath,
      leaseTtlMs: Long = DefaultLeaseTtlMs): Boolean = {
    if (!fs.exists(new HPath(target, ManifestName))) return false
    // recovery MUTATES the leaf, so it needs the same single-writer
    // exclusion: a live lease means the manifest belongs to an in-flight
    // swap that will complete (or crash and be recovered later) — a
    // caller about to write must fail fast, not adopt files under the
    // holder's feet
    withSwapLease(fs, target, leaseTtlMs)(recoverSwapLocked(fs, target))
  }

  /** [[recoverSwap]] for a caller already inside [[withSwapLease]]. */
  private[graft] def recoverSwapLocked(fs: FileSystem,
      target: HPath): Boolean = {
    val manifest = new HPath(target, ManifestName)
    // re-check under the lease: the prior holder may have finished
    // between our probe and our acquisition
    if (!fs.exists(manifest)) return false
    val in = fs.open(manifest)
    val content = try new String(
      org.apache.commons.io.IOUtils.toByteArray(in),
      java.nio.charset.StandardCharsets.UTF_8) finally in.close()
    val lines = content.split("\n").toSeq.filter(_.nonEmpty)
    val staging = new HPath(target.getParent, lines.head)
    if (fs.exists(staging)) {
      fs.listStatus(staging).filter(s => s.isFile && isDataFile(s.getPath))
        .foreach { f =>
          val dest = new HPath(target, f.getPath.getName)
          // a same-name dest can only be this swap's own adoption (names
          // were collision-checked pre-commit): drop the staged copy
          if (fs.exists(dest)) fs.delete(f.getPath, false)
          else if (!fs.rename(f.getPath, dest))
            throw new java.io.IOException(
              s"swap recovery: rename ${f.getPath} -> $dest failed")
        }
    }
    lines.tail.foreach { n =>
      val p = new HPath(target, n)
      if (fs.exists(p)) fs.delete(p, false)
    }
    fs.delete(manifest, false)
    if (fs.exists(staging)) fs.delete(staging, true)
    true
  }

  private val TmpSuffix = "__compacting"

  /** Hidden rewrite dir for a leaf: the dot prefix keeps it out of
    * Spark's FileIndex and partition discovery even while it holds
    * parquet files. */
  private def tmpDirFor(d: HPath): HPath =
    new HPath(d.getParent, "." + d.getName + TmpSuffix)

  private def isHidden(p: HPath): Boolean = {
    val n = p.getName
    n.startsWith(".") || n.startsWith("_")
  }

  /** Leaf directories (those directly holding parquet part files) under
    * `root`, including `root` itself for unpartitioned tables. Uses the
    * Hadoop FileSystem API throughout, so the sweep runs unchanged on
    * local disk, HDFS, or an object store behind an s3a/abfs connector. */
  private def leafDirs(fs: FileSystem, root: HPath): Seq[HPath] = {
    val st = fs.listStatus(root)
    val here = if (st.exists(s => s.isFile && isDataFile(s.getPath)))
      Seq(root) else Nil
    here ++ st.filter(s => s.isDirectory && !isHidden(s.getPath))
      .flatMap(d => leafDirs(fs, d.getPath))
  }

  /** Compact every fragmented leaf directory of `tableDir` to
    * ~`targetBytes` files; returns a report per REWRITTEN directory
    * (untouched directories don't appear). Contents are preserved
    * exactly; only the file layout changes. */
  def compact(spark: SparkSession, tableDir: String,
      targetBytes: Long = 128L * 1024 * 1024): Seq[Report] = {
    require(targetBytes >= 1, "targetBytes must be positive")
    val root = new HPath(tableDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the lease spans the leaf's WHOLE recover→read→rewrite→swap
    // sequence: releasing between the listing and the swap would let a
    // racing upsert's adopted files be read as "old" and deleted
    leafDirs(fs, root).flatMap { d =>
      withSwapLease(fs, d) {
        // a swap that crashed past its commit point rolls FORWARD first...
        recoverSwapLocked(fs, d)
        // ...then any uncommitted hidden rewrite dir is plain abort debris
        val tmp = tmpDirFor(d)
        if (fs.exists(tmp)) fs.delete(tmp, true)
        val parts = fs.listStatus(d).filter(s => s.isFile && isDataFile(s.getPath))
        val bytes = parts.map(_.getLen).sum
        val want = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
        if (parts.length <= want) None
        else {
          graft.core.Tables.readParquet(spark, Seq(d.toString)).coalesce(want)
            .write.mode("overwrite").parquet(tmp.toString)
          val freshCount = fs.listStatus(tmp)
            .count(s => s.isFile && isDataFile(s.getPath))
          swapDataFilesLocked(fs, tmp, d)
          Some(Report(d.toString, parts.length, freshCount, bytes))
        }
      }
    }
  }
}

/** Statistics refresh — the reference's Stage-5 `EXEC sp_updatestats` +
  * `UPDATE STATISTICS ... FULLSCAN` (`run_etl.py:263`,
  * `Terraform/sql/007_configure_performance.sql:71-78,161-177`)
  * re-expressed as `ANALYZE TABLE`: table-level row/byte counts feed the
  * cost-based optimizer's join reordering and broadcast decisions
  * (AQE observes runtime sizes only AFTER a stage runs — CBO stats
  * shape the initial plan), and per-column min/max/NDV enable star-schema
  * detection and better cardinality estimates. One metadata-writing scan
  * per table; run it where the reference runs its refresh stage, after
  * loads. */
object Stats {
  def refreshStatistics(spark: SparkSession, tables: Seq[String],
      columns: Map[String, Seq[String]] = Map.empty): Unit =
    tables.foreach { t =>
      spark.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS")
      columns.get(t).filter(_.nonEmpty).foreach(cs =>
        spark.sql(
          s"ANALYZE TABLE $t COMPUTE STATISTICS FOR COLUMNS ${cs.mkString(", ")}"))
    }
}

/** Serving layer: allow-listed limit-N table reads (reference FastAPI
  * `GET /tables/{name}?limit=N`, `analytics/api/app/routers/tables.py`). */
object TableApi {
  final case class Config(allowedTables: Set[String], maxLimit: Int = 1000)

  def read(spark: SparkSession, cfg: Config, table: String, limit: Int): DataFrame = {
    require(cfg.allowedTables.contains(table), s"table not allowed: $table")
    require(limit >= 1 && limit <= cfg.maxLimit, s"limit out of range: $limit")
    spark.table(table).limit(limit)
  }

  /** `GET /tables/summary` analogue (reference
    * `analytics/api/app/routers/tables.py:15-19` over the notebook's
    * `tables_summary`: table / rows / columns, sorted by name): one row
    * per ALLOWED table with row count, column count and the schema DDL.
    * The loop is over the allow-list (a fixed config set, not data), and
    * each count is a distributed job — nothing here scales with table
    * size on the driver. */
  def describe(spark: SparkSession, cfg: Config): DataFrame = {
    import spark.implicits._
    cfg.allowedTables.toSeq.sorted.map { t =>
      val df = spark.table(t)
      (t, df.count(), df.columns.length, df.schema.toDDL)
    }.toDF("table", "n_rows", "n_columns", "schema_ddl")
  }
}
