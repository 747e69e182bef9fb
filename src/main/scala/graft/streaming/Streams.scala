package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode, StreamingQuery}
import org.apache.spark.sql.types.{StructField, StructType}
import graft.ops.Compaction

/** Structured Streaming layer. The reference is pure batch (SURVEY §2.10) —
  * this is the natural extension for the `events` table: the SAME
  * transformations run on a batch DataFrame and on `readStream`, so the
  * engine's batch semantics define the streaming semantics.
  *
  * Scale posture: windowed aggregations are keyed by (window, event_type) —
  * state is bounded by watermark eviction; sessionization state is per
  * user_id and times out with the watermark. No collect, no global state.
  */
object Streams {

  /** `withWatermark` requires a session-zoned TimestampType event-time
    * column and rejects TIMESTAMP_NTZ outright
    * (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE). Sources can legitimately
    * deliver NTZ — a parquet file written without the UTC-adjusted
    * annotation infers it — so the watermark entry points below own the
    * normalization rather than pushing it onto every caller. The session
    * is pinned UTC, so the cast changes the type, not the instant. */
  private def watermarkable(df: DataFrame, timeCol: String): DataFrame =
    df.schema(timeCol).dataType match {
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn(timeCol, col(timeCol).cast("timestamp"))
      case _ => df
    }

  /** Tumbling-window counts per event type; works on batch and streaming
    * inputs alike. For streaming append-mode output, the input must carry
    * `withWatermark("ts", ...)` — applied here when `watermark` is set. */
  def windowedEventCounts(events: DataFrame, windowLen: String,
      watermark: Option[String] = None): DataFrame = {
    val evs = watermarkable(events, "ts")
    val src = watermark.map(w => evs.withWatermark("ts", w)).getOrElse(evs)
    src.groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("total_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n"), col("total_value"))
  }

  /** File-source stream over an events directory (schema locked to the
    * batch table so batch parity holds). */
  def readEventStream(spark: SparkSession, dir: String): DataFrame = {
    val batchSchema = spark.read.parquet(dir).schema
    val raw = spark.readStream.schema(batchSchema).parquet(dir)
    if (batchSchema("ts").dataType == org.apache.spark.sql.types.LongType)
      raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    else watermarkable(raw, "ts")
  }

  final case class SessionEvent(user_id: Long, ts_micros: Long, value: Double)
  final case class SessionState(start: Long, last: Long, n: Int, total: Double)
  final case class SessionOut(user_id: Long, session_start: Long,
      session_end: Long, n_events: Int, total_value: Double)

  /** Gap-based sessionization with explicit state — the streaming
    * counterpart of the batch lag-window sessionizer (see
    * StreamingQueries.st_sessionize). Emits a session when `gapSec`
    * passes without activity (processing-time timeout). */
  def sessionize(events: Dataset[SessionEvent], gapSec: Long):
      Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout) {
        (user: Long, rows: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(user, s.start, s.last, s.n, s.total))
          } else {
            val sorted = rows.toSeq.sortBy(_.ts_micros)
            val gapMicros = gapSec * 1000000L
            var cur = state.getOption
            val closed = Seq.newBuilder[SessionOut]
            sorted.foreach { e =>
              cur match {
                case Some(s) if e.ts_micros - s.last <= gapMicros =>
                  cur = Some(s.copy(last = e.ts_micros, n = s.n + 1,
                    total = s.total + e.value))
                case Some(s) =>
                  closed += SessionOut(user, s.start, s.last, s.n, s.total)
                  cur = Some(SessionState(e.ts_micros, e.ts_micros, 1, e.value))
                case None =>
                  cur = Some(SessionState(e.ts_micros, e.ts_micros, 1, e.value))
              }
            }
            cur.foreach(state.update)
            state.setTimeoutDuration(s"$gapSec seconds")
            closed.result().iterator
          }
      }
  }

  /** Streaming exact dedup on a key with watermarked state eviction. */
  def streamingDedup(events: DataFrame, keyCols: Seq[String],
      watermark: String): DataFrame =
    watermarkable(events, "ts").withWatermark("ts", watermark)
      .dropDuplicates(keyCols :+ "ts")

  /** Stream-static enrichment: each micro-batch joins the (small) static
    * dimension as a broadcast hash join — the streaming analogue of J5's
    * broadcast dim-key lookup. No state, no watermark needed: the static
    * side is re-planned per batch, so a dimension refresh is picked up
    * without restarting the query. */
  def enrich(stream: DataFrame, dim: DataFrame, key: String): DataFrame =
    stream.join(broadcast(dim), key)

  /** Watermarked stream-stream interval join: right events within
    * `withinSec` seconds AFTER the left event, per key. The time bound +
    * watermark let Spark evict join state — without them stream-stream
    * join state grows forever. Output carries `l`/`r` aliases; callers
    * project. */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
      watermark: String, withinSec: Long): DataFrame =
    watermarkable(left, "ts").withWatermark("ts", watermark).alias("l")
      .join(watermarkable(right, "ts").withWatermark("ts", watermark).alias("r"),
        expr(s"l.$key = r.$key AND r.ts >= l.ts AND " +
          s"r.ts <= l.ts + interval $withinSec seconds"))

  // ---- sinks: one commit protocol --------------------------------------------

  /** How [[commitBatch]] recognizes a batch it has already committed. */
  private sealed trait Guard
  /** No guard: the merge itself is replay-idempotent. */
  private case object NoGuard extends Guard
  /** The committed max of a stamp column the merge writes on its rows. */
  private final case class Stamp(column: String, batchId: Long) extends Guard
  /** The [[CdcWatermarkName]] sidecar, written after the swap. */
  private final case class Sidecar(batchId: Long) extends Guard

  /** The one commit protocol of every sink below. A batch runs these
    * steps, in this order:
    *
    *  1. `mkdirs` the table root and take its single-writer lease
    *     ([[graft.ops.Compaction.withSwapLease]]) for the whole batch.
    *     The seed write is lease-protected like every later batch: a
    *     bare first write would race a concurrent writer creating the
    *     same table on nothing stronger than ErrorIfExists.
    *  2. Heal: roll forward a swap that crashed past its commit point
    *     (the root's, or EVERY `bucket_id=` leaf's for the bucketed
    *     layout, whether or not this batch touches it), so no merge
    *     reads old and new files together.
    *  3. Replay guard ([[Guard]]): a batch id already committed is
    *     skipped.
    *  4. Base read: the table, or the touched bucket leaves; `None` when
    *     there are no data files, so an empty directory (a crashed seed
    *     after `mkdirs`) reads as no table.
    *  5. Stage `merge(base)` into a dot-hidden sibling directory (a
    *     `None` merge commits nothing).
    *  6. Swap with the manifest protocol of
    *     [[graft.ops.Compaction.swapDataFiles]]: the root swap, or one
    *     swap per touched leaf under that LEAF's lease, the path
    *     [[graft.ops.Compaction.compact]] locks, so a concurrent bucket
    *     compaction fails fast (leaf acquisition never blocks, so the
    *     root→leaf order cannot deadlock). A touched bucket that had data
    *     but staged nothing adopts an empty staging: its rows are gone.
    *  7. The sidecar watermark, last.
    *
    * The guard is per sink. A merge that is NOT replay-idempotent (pack's
    * offset fold, cluster's relabeling, the batch-time whole-table SCD2
    * merge, whose stale replay would stack versions) stamps its rows
    * with the batch id: the stamp lands in the SAME swap as the data, so
    * "committed" is exact. A bucketed batch swaps several leaves, and
    * those swaps are not atomic together, nor can untouched leaves be
    * restamped: its watermark lives in the sidecar, written after the
    * last swap, so a crash before it replays the batch. That replay is
    * safe because those merges absorb it (a re-applied CDC change is
    * `unchanged`; the event-time rebuild collapses a re-merged change
    * onto its own version). The whole-table event-time sink, whose
    * rebuild renumbers every version anyway, keeps the same sidecar.
    * The latest-wins upsert is idempotent and needs no guard.
    *
    * Driver state is the touched-bucket list, bounded by the bucket
    * count; a reader racing a swap window can transiently see old and
    * new files together (point-in-time isolation needs a transactional
    * table format). */
  private def commitBatch(spark: SparkSession, targetDir: String,
      guard: Guard, bucketed: Option[DataFrame] = None)(
      merge: Option[DataFrame] => Option[DataFrame]): Unit = {
    val target = new HPath(targetDir)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def hasData(p: HPath) = fs.exists(p) && fs.listStatus(p).exists(s =>
      s.isFile && Compaction.isDataFile(s.getPath))
    def leaf(b: Int) = new HPath(target, s"bucket_id=$b")
    fs.mkdirs(target)
    Compaction.withSwapLease(fs, target) {
      if (bucketed.isEmpty) Compaction.recoverSwapLocked(fs, target)
      else fs.listStatus(target)
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("bucket_id="))
        .foreach(d => Compaction.recoverSwap(fs, d.getPath))
      lazy val touched = bucketed.map(_.select("bucket_id").distinct()
        .collect().map(_.getInt(0)).sorted.toSeq)
      lazy val base = touched match {
        case None =>
          if (hasData(target)) Some(spark.read.parquet(targetDir)) else None
        case Some(ts) =>
          val existing = ts.filter(b => hasData(leaf(b)))
          if (existing.isEmpty) None
          else Some(spark.read.option("basePath", targetDir)
            .parquet(existing.map(leaf(_).toString): _*))
      }
      val committed = guard match {
        case NoGuard => false
        case Sidecar(id) => readCdcWatermark(fs, target).exists(_ >= id)
        // null-safe: an existing but empty table has max = NULL, which
        // means "no committed batch", not an NPE on every restart
        case Stamp(c, id) => base.flatMap(t =>
          Option(t.agg(max(c)).head().getAs[java.lang.Long](0)))
          .exists(_ >= id)
      }
      if (!committed) merge(base).foreach { rows =>
        val staging = new HPath(target.getParent,
          "." + target.getName + "__staging")
        if (fs.exists(staging)) fs.delete(staging, true)
        touched match {
          case None =>
            rows.write.parquet(staging.toString)
            Compaction.swapDataFilesLocked(fs, staging, target)
          case Some(ts) =>
            rows.write.partitionBy("bucket_id").parquet(staging.toString)
            ts.foreach { b =>
              val staged = new HPath(staging, s"bucket_id=$b")
              // the swap manifest names its staging dir relative to the
              // leaf's PARENT: move the staged leaf beside it first
              val st = new HPath(target, s".bucket_id=${b}__incoming")
              if (fs.exists(staged) || hasData(leaf(b))) {
                if (fs.exists(st)) fs.delete(st, true)
                if (!fs.exists(staged)) fs.mkdirs(st)
                else if (!fs.rename(staged, st)) throw new java.io.IOException(
                  s"could not stage partition $staged -> $st")
                fs.mkdirs(leaf(b))
                Compaction.swapDataFiles(fs, st, leaf(b))
              }
            }
            fs.delete(staging, true)
        }
        guard match {
          case Sidecar(id) => writeCdcWatermark(fs, target, id)
          case _ => ()
        }
      }
    }
  }

  /** Sidecar holding the committed CDC batch-id watermark (see
    * [[commitBatch]]): dot-prefixed and invisible to readers, replaced
    * by write-tmp + rename, the manifest pattern. */
  private val CdcWatermarkName = "._graft_cdc_watermark"

  private def readCdcWatermark(fs: FileSystem, target: HPath): Option[Long] = {
    val p = new HPath(target, CdcWatermarkName)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val s = try new String(org.apache.commons.io.IOUtils.toByteArray(in),
        java.nio.charset.StandardCharsets.UTF_8).trim finally in.close()
      Some(s.toLong)
    }
  }

  private def writeCdcWatermark(fs: FileSystem, target: HPath,
      batchId: Long): Unit = {
    val p = new HPath(target, CdcWatermarkName)
    val tmp = new HPath(target, CdcWatermarkName + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(batchId.toString
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    // rename-over FIRST: POSIX rename replaces the destination
    // atomically, so on local/NFS stores there is NO point where
    // neither watermark file exists. Stores that refuse an occupied
    // destination (HDFS FileSystem.rename) fall back to
    // delete-then-rename — the crash window there is replay-safe
    // because the sidecar sinks' merges absorb a replay.
    if (!fs.rename(tmp, p)) {
      if (fs.exists(p)) fs.delete(p, false)
      if (!fs.rename(tmp, p))
        throw new java.io.IOException(s"could not commit CDC watermark $p")
    }
  }

  /** The streaming form of a batch entry point: `batchFn` runs on every
    * micro-batch with its id, under the query's checkpoint. */
  private def foreachBatchSink(stream: DataFrame, checkpointDir: String,
      outputMode: String = "append")(
      batchFn: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(outputMode)
      .foreachBatch((b: Dataset[Row], id: Long) => batchFn(b.toDF(), id))
      .start()

  /** The latest row per key by `orderCol`. Like any CDC feed, (key,
    * orderCol) is assumed unique: equal versions have no defined winner.
    * One row_number window, which the TopKPerKey strategy executes as a
    * bounded heap. */
  private def latestPerKey(rows: DataFrame, keys: Seq[String],
      orderCol: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(orderCol).desc)
    rows.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** `rows` replace their keys in `base`: anti-join + union. `rows` is
    * read twice, so pass a materialized frame. */
  private def upsertInto(base: Option[DataFrame], rows: DataFrame,
      keys: Seq[String]): DataFrame =
    base.fold(rows)(_.join(rows, keys, "left_anti").unionByName(rows))

  /** Upsert one batch of changes into a parquet key-value table,
    * latest-change-wins within the batch. Committed by [[commitBatch]]
    * with no replay guard: re-merging a batch yields the same table. At
    * warehouse scale the target would be partitioned and only touched
    * partitions rewritten; the protocol is the same. */
  def upsertBatch(batch: DataFrame, targetDir: String, keys: Seq[String],
      orderCol: String): Unit = {
    // persisted: referenced by the emptiness probe, the anti-join AND the
    // union — without it the window dedup would run three times per batch
    val latest = latestPerKey(batch, keys, orderCol).persist()
    try if (!latest.isEmpty)
      commitBatch(batch.sparkSession, targetDir, NoGuard)(base =>
        Some(upsertInto(base, latest, keys)))
    finally latest.unpersist()
  }

  /** Streaming upsert sink: every micro-batch goes through
    * [[upsertBatch]]. The checkpoint plus the idempotent merge make the
    * durable table state exactly-once. */
  def upsertSink(stream: DataFrame, targetDir: String, checkpointDir: String,
      keys: Seq[String], orderCol: String): StreamingQuery =
    foreachBatchSink(stream, checkpointDir, "update")((b, _) =>
      upsertBatch(b, targetDir, keys, orderCol))

  /** The CDC → SCD2 dimension batch, one merge for the four public
    * variants: batch-time ([[graft.scd.Scd.scd2Cdc]]) or event-time
    * ([[graft.scd.Scd.scd2CdcEventTime]]), crossed with the whole-table
    * or the `bucket_id = pmod(xxhash64(bk…), n)` layout. Every version of
    * a key lives in one bucket forever. */
  private def cdcBatch(batch: DataFrame, targetDir: String, bk: Seq[String],
      tracked: Seq[String], seqCol: String, opCol: String, effDateCol: String,
      batchId: Long, eventTime: Boolean, nBuckets: Option[Int]): Unit = {
    nBuckets.foreach(n => require(n >= 1, "nBuckets must be positive"))
    if (batch.isEmpty) return
    val chg = nBuckets.fold(batch)(n => batch.withColumn("bucket_id",
      pmod(xxhash64(bk.map(col): _*), lit(n.toLong)).cast("int")))
    val guard =
      if (eventTime || nBuckets.isDefined) Sidecar(batchId)
      else Stamp("batch_id", batchId)
    // the CDC bookkeeping columns (op, seq, change date) are not dim
    // attributes: the seed drops them, and the merges project by the
    // DIM's attribute names, so they ride along unreferenced
    def seed(eff: String) =
      graft.scd.Scd.seed(chg.drop(opCol, seqCol, effDateCol).limit(0), eff)
    commitBatch(batch.sparkSession, targetDir, guard, nBuckets.map(_ => chg)) {
      existing =>
        if (eventTime) Some(graft.scd.Scd.scd2CdcEventTime(
          existing.getOrElse(seed("1970-01-01")), chg, bk, tracked, seqCol,
          opCol, effDateCol))
        else {
          val sink =
            if (nBuckets.isDefined) "scd2CdcBatchPartitioned" else "scd2CdcBatch"
          val mm = batch.agg(min(col(effDateCol).cast("date")),
            max(col(effDateCol).cast("date"))).head()
          val (minDate, effDate) = (mm.getDate(0), mm.getDate(1))
          require(effDate != null, s"$sink: every change row has a null " +
            s"$effDateCol — no effective date for the batch")
          require(nBuckets.isEmpty || minDate == effDate,
            s"$sink is batch-time: one effective date per batch, got " +
              s"[$minDate, $effDate] — route event-dated feeds to " +
              "scd2CdcEventTimeBatchPartitioned")
          val eff = effDate.toString
          val merged = graft.scd.Scd.scd2Cdc(
            existing.map(_.drop("batch_id")).getOrElse(seed(eff)), chg, bk,
            tracked, seqCol, opCol, eff)
          Some(if (nBuckets.isDefined) merged
            else merged.withColumn("batch_id", lit(batchId)))
        }
    }
  }

  /** One micro-batch of the CDC → SCD2 dimension sink, the streaming form
    * of the reference's batch MERGE
    * (`Terraform/sql/010_scd_dimensions.sql:391-521`): the change rows
    * (insert/update/delete + monotone `seqCol`) merge via
    * [[graft.scd.Scd.scd2Cdc]] into the whole dimension at `targetDir`.
    * One effective date per batch, the feed's max `effDateCol`, matching
    * the reference's single per-run @date_chargement. Every row is
    * stamped with `batch_id`, the replay guard. The first batch seeds the
    * dimension (every key lands as version 1). */
  def scd2CdcBatch(batch: DataFrame, targetDir: String, bk: Seq[String],
      tracked: Seq[String], seqCol: String, opCol: String,
      effDateCol: String, batchId: Long): Unit =
    cdcBatch(batch, targetDir, bk, tracked, seqCol, opCol, effDateCol,
      batchId, eventTime = false, nBuckets = None)

  /** [[scd2CdcBatch]] on a dimension bucketed by business key: a batch
    * rewrites only the leaves its keys hash to, and untouched leaves keep
    * their exact files (the [[graft.marts.Refresh]] incremental
    * contract). Batch-time by contract: a batch carrying more than one
    * distinct `effDateCol` date raises instead of stamping everything at
    * the max — event-dated feeds belong on
    * [[scd2CdcEventTimeBatchPartitioned]]. Replay is safe because one
    * scd2Cdc round is idempotent: a re-applied change classifies as
    * `unchanged`, and a replayed delete finds no active row to close. */
  def scd2CdcBatchPartitioned(batch: DataFrame, targetDir: String,
      bk: Seq[String], tracked: Seq[String], seqCol: String, opCol: String,
      effDateCol: String, batchId: Long, nBuckets: Int): Unit =
    cdcBatch(batch, targetDir, bk, tracked, seqCol, opCol, effDateCol,
      batchId, eventTime = false, nBuckets = Some(nBuckets))

  /** One micro-batch of the EVENT-TIME CDC → SCD2 sink: every change row
    * carries its own effective date, and late or out-of-order changes
    * SPLICE the stored chain at their date
    * ([[graft.scd.Scd.scd2CdcEventTime]]). Replay is absorbing: a
    * re-merged change reappears as a same-date dimension version, the
    * same-date collapse keeps one, and the rebuilt chain is identical
    * (ScdSpec's round-trip identity property). */
  def scd2CdcEventTimeBatch(batch: DataFrame, targetDir: String,
      bk: Seq[String], tracked: Seq[String], seqCol: String, opCol: String,
      effDateCol: String, batchId: Long): Unit =
    cdcBatch(batch, targetDir, bk, tracked, seqCol, opCol, effDateCol,
      batchId, eventTime = true, nBuckets = None)

  /** [[scd2CdcEventTimeBatch]] on the bucketed layout of
    * [[scd2CdcBatchPartitioned]]: the event-time rebuild runs over only
    * the touched buckets' rows, so per-batch work is never
    * dimension-sized. The rebuild can erase a bucket's last chain (a
    * version inserted and deleted the same date leaves no trace); that
    * bucket truncates through the empty-staging swap. */
  def scd2CdcEventTimeBatchPartitioned(batch: DataFrame, targetDir: String,
      bk: Seq[String], tracked: Seq[String], seqCol: String, opCol: String,
      effDateCol: String, batchId: Long, nBuckets: Int): Unit =
    cdcBatch(batch, targetDir, bk, tracked, seqCol, opCol, effDateCol,
      batchId, eventTime = true, nBuckets = Some(nBuckets))

  /** Streaming form of [[scd2CdcEventTimeBatch]]. */
  def scd2CdcEventTimeSink(stream: DataFrame, targetDir: String,
      checkpointDir: String, bk: Seq[String], tracked: Seq[String],
      seqCol: String, opCol: String, effDateCol: String): StreamingQuery =
    foreachBatchSink(stream, checkpointDir)(scd2CdcEventTimeBatch(_,
      targetDir, bk, tracked, seqCol, opCol, effDateCol, _))

  /** Streaming form of [[scd2CdcBatch]]. */
  def scd2CdcSink(stream: DataFrame, targetDir: String,
      checkpointDir: String, bk: Seq[String], tracked: Seq[String],
      seqCol: String, opCol: String, effDateCol: String): StreamingQuery =
    foreachBatchSink(stream, checkpointDir)(scd2CdcBatch(_, targetDir, bk,
      tracked, seqCol, opCol, effDateCol, _))

  /** One micro-batch of incremental sequence packing
    * ([[graft.ext.Curation.packSequences]] under streaming): packs
    * `batch`'s documents CONTINUING each stratum's token stream from the
    * manifest table at `targetDir` (per-stratum `start_offset` = sum of
    * packed tokens), folds each stratum's open boundary sequence in
    * ADDITIVELY, and upserts keyed on (stratum, seq_id). Rows are stamped
    * with `version`, the replay guard: the fold is not idempotent.
    *
    * Arrival order IS pack order — streams must deliver documents in
    * `idCol` order for the manifests to reconcile with one batch
    * [[graft.ext.Curation.packSequences]] over the full corpus
    * (StreamsSpec proves that parity); out-of-order arrival still
    * packs every token exactly once, just in a different sequence
    * assignment, like any order-sensitive streaming fold. */
  def packBatchIncremental(batch: DataFrame, tokenCol: String, idCol: String,
      seqLen: Int, partitionCols: Seq[String], targetDir: String,
      batchId: Long): Unit =
    commitBatch(batch.sparkSession, targetDir, Stamp("version", batchId)) {
      old =>
        val offsets = old.map { o =>
          if (partitionCols.isEmpty)
            o.agg(sum("n_tokens").cast("long").as("start_offset"))
          else o.groupBy(partitionCols.map(col): _*)
            .agg(sum("n_tokens").cast("long").as("start_offset"))
        }
        val key = partitionCols :+ "seq_id"
        val packed = graft.ext.Curation.packSequences(batch, tokenCol, idCol,
          seqLen, partitionCols, startOffsets = offsets)
        val combined = old match {
          case None => packed
          case Some(o) =>
            // only each stratum's open boundary sequence can collide; fold
            // it in additively so the upsert stays one-row-per-key
            val boundary = o.select((key ++ Seq("n_docs", "n_tokens",
              "first_doc", "last_doc")).map(col): _*)
              .join(packed.select(key.map(col): _*), key, "left_semi")
            packed.unionByName(boundary)
              .groupBy(key.map(col): _*)
              .agg(sum("n_docs").as("n_docs"),
                sum("n_tokens").as("n_tokens"),
                min("first_doc").as("first_doc"),
                max("last_doc").as("last_doc"))
        }
        Some(upsertInto(old,
          combined.withColumn("version", lit(batchId)).localCheckpoint(), key))
    }

  /** Streaming sequence packing: encode upstream however the pipeline
    * likes (e.g. [[graft.ext.Bpe.encode]] — a stateless projection that
    * runs unchanged on a stream), then pack per micro-batch through
    * [[packBatchIncremental]] into an exactly-once manifest table. */
  def packingSink(stream: DataFrame, targetDir: String, checkpointDir: String,
      tokenCol: String, idCol: String, seqLen: Int,
      partitionCols: Seq[String]): StreamingQuery =
    foreachBatchSink(stream, checkpointDir)(packBatchIncremental(_, tokenCol,
      idCol, seqLen, partitionCols, targetDir, _))

  /** One micro-batch of streaming near-dup cluster maintenance: the
    * batch's documents join the corpus as they arrive, with BOTH dedup
    * tables kept current — the MinHash signature index at `indexDir`
    * (what future batches band-join against) and the (id, cluster_id)
    * cluster table at `clustersDir`.
    *
    * Per batch: new×old pairs via
    * [[graft.ext.Dedup.incrementalNearDupPairs]] against the stored
    * index, new×new pairs via the batch-internal LSH pass, then
    * [[graft.ext.Dedup.contractedMerge]] — components run on the
    * BATCH-GRAIN contracted graph, and the cluster table receives only
    * the DELTA (relabeled old rows + the batch's rows), so per-batch
    * write volume is touched-rows-sized, not corpus-sized.
    *
    * Exactly-once across BOTH tables: the cluster table's `version` stamp
    * guards replay, and the index commits FIRST, nested inside the
    * cluster-table commit, as an idempotent latest-wins upsert — so a
    * crash between the two swaps replays into an index re-upsert, and
    * pairs generated against an index already holding the batch's own
    * signatures merge to the same labels. */
  def clusterBatchIncremental(batch: DataFrame, textCol: String,
      idCol: String, indexDir: String, clustersDir: String,
      threshold: Double, batchId: Long): Unit = {
    import graft.ext.Dedup
    val spark = batch.sparkSession
    commitBatch(spark, clustersDir, Stamp("version", batchId)) { clusters =>
      // an at-least-once SOURCE can re-deliver a doc in a DIFFERENT batch
      // (the version stamp only covers same-batch replay): ids already
      // clustered are dropped — one corpus scan against the broadcast
      // batch, then a batch-grain anti join. Membership is tested against
      // the CLUSTERS table, not the index: after a crash between the two
      // swaps a doc can be index-present but cluster-absent, and an
      // index-keyed guard would drop it forever. The checkpoint pins the
      // filtered batch so the passes below scan the corpus once.
      val b = (clusters match {
        case None => batch
        case Some(c) =>
          val known = c.join(broadcast(batch.select(col(idCol).as("id"))),
            Seq("id"), "left_semi").select(col("id").as(idCol))
          batch.join(broadcast(known), Seq(idCol), "left_anti")
      }).localCheckpoint()
      if (b.isEmpty) None // every doc is already clustered
      else {
        val existing = clusters
          .map(_.select(col("id"), col("cluster_id")))
          .getOrElse(spark.createDataFrame(new java.util.ArrayList[Row](),
            StructType(Seq(StructField("id", batch.schema(idCol).dataType),
              StructField("cluster_id", batch.schema(idCol).dataType)))))
        var merged: DataFrame = null // labels, computed under the index lease
        commitBatch(spark, indexDir, NoGuard) { stored =>
          val within = Dedup.nearDupPairs(b, textCol, idCol)
            .filter(col("jaccard") >= threshold).select("a_id", "b_id")
          val pairs = stored match {
            case None => within
            case Some(i) =>
              Dedup.incrementalNearDupPairs(b, textCol, idCol, i.drop("version"))
                .filter(col("jaccard") >= threshold)
                .select(col("new_id").as("a_id"), col("old_id").as("b_id"))
                .unionByName(within)
          }
          // contractedMerge materializes the pair plan eagerly, so the old
          // index files it read are no longer referenced after the swap
          merged = Dedup.contractedMerge(existing, pairs, "a_id", "b_id",
            maxIter = 50)
          Some(upsertInto(stored, latestPerKey(Dedup.signatureIndex(b,
            textCol, idCol).withColumn("version", lit(batchId)),
            Seq(idCol), "version").localCheckpoint(), Seq(idCol)))
        }
        val changedOld = existing
          .join(broadcast(merged.select(col("id").as("cluster_id"),
            col("cluster_id").as("__m"))), Seq("cluster_id"))
          .select(col("id"), col("__m").as("cluster_id"))
        val fresh = b.select(col(idCol).as("id"))
          .join(broadcast(merged.select(col("id"),
            col("cluster_id").as("__m"))), Seq("id"), "left")
          .select(col("id"), coalesce(col("__m"), col("id")).as("cluster_id"))
        Some(upsertInto(clusters, latestPerKey(changedOld.unionByName(fresh)
          .withColumn("version", lit(batchId)), Seq("id"), "version")
          .localCheckpoint(), Seq("id")))
      }
    }
  }

  /** Streaming dedup-cluster sink: every micro-batch of documents folds
    * into the maintained signature index + cluster table through
    * [[clusterBatchIncremental]]. After any prefix of the stream, the
    * cluster table equals a from-scratch batch clustering of the
    * documents seen so far (StreamsSpec proves that parity). */
  def dedupClusterSink(stream: DataFrame, textCol: String, idCol: String,
      indexDir: String, clustersDir: String, checkpointDir: String,
      threshold: Double = 0.8): StreamingQuery =
    foreachBatchSink(stream, checkpointDir)(clusterBatchIncremental(_,
      textCol, idCol, indexDir, clustersDir, threshold, _))

  /** LEFT-OUTER watermarked interval join — the common enrichment shape
    * (every click, with its conversion if one arrived within the bound):
    * matched pairs emit like [[intervalJoin]]; a left event with no match
    * emits ONCE with null right columns, but only after the watermark
    * passes `l.ts + withinSec` (before that a match could still arrive,
    * so outer results are necessarily watermark-delayed). Same time-bound
    * state eviction as the inner variant; in batch mode it degenerates to
    * a plain left outer join, which is what the oracle checks. */
  def intervalJoinLeftOuter(left: DataFrame, right: DataFrame, key: String,
      watermark: String, withinSec: Long): DataFrame =
    watermarkable(left, "ts").withWatermark("ts", watermark).alias("l")
      .join(watermarkable(right, "ts").withWatermark("ts", watermark).alias("r"),
        expr(s"l.$key = r.$key AND r.ts >= l.ts AND " +
          s"r.ts <= l.ts + interval $withinSec seconds"),
        "leftOuter")

  /** Streaming near-duplicate flagging against a static
    * [[graft.ext.Dedup.signatureIndex]] — the real-time variant of
    * [[graft.ext.Dedup.incrementalNearDupPairs]]: documents arrive as a
    * stream and each micro-batch's docs are checked against the existing
    * corpus without ever rescanning corpus text. Emits
    * (new_id, old_id, jaccard) for pairs whose exact shingle-set Jaccard
    * clears `threshold`.
    *
    * Streaming shape (why this differs from the batch plan):
    *   - The signature pass (fused [[graft.functions.MinHashSig]]) and
    *     the band explode are row-local projections — legal on a stream.
    *   - The batch path re-joins candidates back to the new-side
    *     signature frame for the Jaccard fetch; on a stream that would
    *     be a stream-STREAM self-join (watermark-constrained). Instead
    *     the band rows CARRY the distinct-shingle set, so the only join
    *     is stream-static (stateless, re-planned per micro-batch — an
    *     index refresh lands without a query restart).
    *   - A pair colliding in several bands would emit once per band;
    *     `dropDuplicates` (the streaming-sanctioned dedup) collapses
    *     them. Its state is one row per FLAGGED pair — dup-volume, not
    *     corpus-volume — but dup-volume grows without bound over an
    *     endless ingest: pass `eventTimeCol` to switch to
    *     `dropDuplicatesWithinWatermark`, which expires pair state once
    *     the watermark passes (tradeoff: a pair re-flagged after expiry
    *     re-emits — flagging is idempotent downstream). In batch mode
    *     the default call degenerates to distinct(), which is what the
    *     oracle checks.
    *   - LATENESS vs STATE TTL (measured, Spark 4.1.2): the watermark
    *     delay is `lateness` if given, else `stateTtl`. Unlike windowed
    *     aggregates, `DeduplicateWithinWatermark` does NOT late-filter
    *     its input — a document arriving hours behind the watermark is
    *     still scored and flagged (StreamsSpec pins this: a 4-hour
    *     straggler against a 10-minute delay emits, with the operator's
    *     `numRowsDroppedByWatermark` at 0). So shrinking `stateTtl`
    *     never silently LOSES late documents; what it does shrink is
    *     pair-state lifetime, so a late DUPLICATE of an
    *     already-expired pair re-emits (the tradeoff above). `lateness`
    *     (>= stateTtl; smaller is rejected, since the watermark delay
    *     IS the dedup-state window) widens state lifetime independently
    *     of the nominal TTL when straggler-heavy sources would
    *     otherwise re-emit too often — state cost scales with it. If a
    *     Spark upgrade ever starts late-filtering this operator, the
    *     pinned spec fails and this contract must be revisited.
    *
    * At 100 TB the static index long table re-shuffles per micro-batch
    * unless the band join broadcasts; [[writeBandedIndex]] +
    * [[nearDupStreamBucketed]] pre-bucket the index by band digest so
    * the stream side alone moves (plan-asserted in StreamsSpec).
    * Carrying `dsh` through the explode costs bands× replication of the
    * shingle sets — bounded by batch size, the price of statelessness. */
  def nearDupStream(newDocs: DataFrame, textCol: String, idCol: String,
      index: DataFrame, k: Int = 8, bands: Int = 2,
      shingleN: Int = 3, threshold: Double = 0.8,
      eventTimeCol: Option[String] = None,
      stateTtl: String = "10 minutes",
      lateness: Option[String] = None): DataFrame = {
    require(k % bands == 0, "k must divide into bands")
    lateness.foreach { l =>
      require(intervalMicros(l) >= intervalMicros(stateTtl),
        s"lateness ($l) must be >= stateTtl ($stateTtl): the watermark " +
          "delay bounds the dedup-state window, so a smaller lateness " +
          "would silently shrink the dedup guarantee below the TTL contract")
    }
    val rows = k / bands
    graft.functions.MinHashSig.register(newDocs.sparkSession, shingleN, k)
    def bandCol(sig: org.apache.spark.sql.Column, b: Int) =
      graft.ext.Dedup.bandValue((0 until rows).map(r => sig(b * rows + r)))
    // eventTimeCol bounds the cross-batch pair-dedup state: without it
    // (None) dropDuplicates state holds every flagged pair for the
    // query's lifetime — dup-volume per corpus, but unbounded over an
    // endless ingest. With it, dropDuplicatesWithinWatermark expires
    // pair state once the watermark passes; the documented tradeoff is
    // that a pair re-flagged AFTER expiry is re-emitted (downstream
    // upserts absorb this — flagging is idempotent). Late rows are NOT
    // dropped at the dedup (measured — see the scaladoc); the watermark
    // delay only sets pair-state lifetime, and `lateness` (>= stateTtl)
    // widens it independently of the nominal TTL.
    val wmDelay = lateness.getOrElse(stateTtl)
    val src = eventTimeCol
      .map(ts => watermarkable(newDocs, ts).withWatermark(ts, wmDelay))
      .getOrElse(newDocs)
    val carry = eventTimeCol.toSeq.map(col)
    val newLong = src
      .select(col(idCol) +: carry :+
        graft.functions.MinHashSig.minhashSig(col(textCol), shingleN, k)
          .as("__m"): _*)
      .filter(col("__m").isNotNull)
      .select(Seq(col(idCol).as("new_id"), col("__m.dsh").as("__da"),
        col("__m.n_shingles").as("__na"),
        posexplode(array((0 until bands).map(b => bandCol(col("__m.sig"), b)): _*))
          .as(Seq("band_idx", "band_val"))) ++ carry: _*)
    val idxLong = index.select(col(idCol).as("old_id"),
      col("dsh").as("__db"), col("n_shingles").as("__nb"),
      posexplode(array((0 until bands).map(b => bandCol(col("sig"), b)): _*))
        .as(Seq("band_idx", "band_val")))
    val scored = newLong.join(idxLong, Seq("band_idx", "band_val"))
      .filter(col("new_id") =!= col("old_id"))
      .withColumn("__inter",
        size(array_intersect(col("__da"), col("__db"))).cast("long"))
      .withColumn("jaccard", col("__inter").cast("double") /
        nullif(col("__na") + col("__nb") - col("__inter"), lit(0L)))
      .filter(col("jaccard") >= threshold)
    eventTimeCol match {
      case Some(ts) => scored
        .select(col("new_id"), col("old_id"), col("jaccard"), col(ts))
        .dropDuplicatesWithinWatermark("new_id", "old_id")
        .drop(ts)
      case None => scored
        .select("new_id", "old_id", "jaccard")
        .dropDuplicates("new_id", "old_id")
    }
  }

  /** Parses a `withWatermark`-style interval string to comparable
    * microseconds, months normalized at 31 days — the convention
    * Spark's own watermark-delay computation applies
    * (`EventTimeWatermark.getDelayMs` → `IntervalUtils.getDuration`
    * with its default daysPerMonth = 31), so the lateness >= stateTtl
    * guard compares exactly what the engine will enforce. */
  private def intervalMicros(s: String): Long = {
    val iv = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(s))
    (iv.months * 31L + iv.days) * 86400L * 1000000L + iv.microseconds
  }

  // ---- bucketed static index (the 100 TB layout) ---------------------------

  /** Band digest with the band INDEX folded in, so the candidate join
    * needs a single equi-key — the shape a bucketed layout can
    * pre-partition. A cross-band digest collision would only create an
    * extra candidate pair, which the exact Jaccard verify then drops —
    * correctness never depends on band separation. */
  private def foldedBand(sig: Column, b: Int, rows: Int): Column =
    md5(concat_ws("|",
      lit(b) +: (0 until rows).map(r => sig(b * rows + r)): _*).cast("binary"))

  /** Long form of a static [[graft.ext.Dedup.signatureIndex]] — one row
    * per (doc, band) with folded band digests. Write it with
    * [[writeBandedIndex]]; probe it with [[nearDupStreamBucketed]]. */
  def bandedIndexLong(index: DataFrame, idCol: String, k: Int = 8,
      bands: Int = 2): DataFrame = {
    require(k % bands == 0, "k must divide into bands")
    val rows = k / bands
    index.select(col(idCol).as("old_id"), col("dsh").as("__db"),
      col("n_shingles").as("__nb"),
      explode(array((0 until bands).map(b => foldedBand(col("sig"), b, rows)): _*))
        .as("band_val"))
  }

  /** Materializes the banded index bucketed by `band_val` — the
    * production layout the [[nearDupStream]] scaladoc promises: the
    * bucketed scan's output partitioning satisfies the candidate join's
    * required distribution, so each micro-batch exchanges ONLY the
    * (batch-sized) stream side while the index is read in place.
    * `StreamsSpec` asserts the per-micro-batch plan has no exchange on
    * the index subtree. */
  def writeBandedIndex(index: DataFrame, idCol: String, table: String,
      buckets: Int, k: Int = 8, bands: Int = 2): Unit =
    graft.etl.Etl.writeBucketed(
      bandedIndexLong(index, idCol, k, bands), table, "band_val", buckets)

  /** [[nearDupStream]] against a pre-bucketed [[writeBandedIndex]] table
    * (pass `spark.table(name)`). Identical flagging semantics; the join
    * key is the folded band digest alone, matching the bucket layout. */
  def nearDupStreamBucketed(newDocs: DataFrame, textCol: String,
      idCol: String, indexLong: DataFrame, k: Int = 8, bands: Int = 2,
      shingleN: Int = 3, threshold: Double = 0.8): DataFrame = {
    require(k % bands == 0, "k must divide into bands")
    val rows = k / bands
    graft.functions.MinHashSig.register(newDocs.sparkSession, shingleN, k)
    val newLong = newDocs
      .select(col(idCol),
        graft.functions.MinHashSig.minhashSig(col(textCol), shingleN, k)
          .as("__m"))
      .filter(col("__m").isNotNull)
      .select(col(idCol).as("new_id"), col("__m.dsh").as("__da"),
        col("__m.n_shingles").as("__na"),
        explode(array((0 until bands).map(b => foldedBand(col("__m.sig"), b, rows)): _*))
          .as("band_val"))
    newLong.join(indexLong, Seq("band_val"))
      .filter(col("new_id") =!= col("old_id"))
      .withColumn("__inter",
        size(array_intersect(col("__da"), col("__db"))).cast("long"))
      .withColumn("jaccard", col("__inter").cast("double") /
        nullif(col("__na") + col("__nb") - col("__inter"), lit(0L)))
      .filter(col("jaccard") >= threshold)
      .select("new_id", "old_id", "jaccard")
      .dropDuplicates("new_id", "old_id")
  }
}
