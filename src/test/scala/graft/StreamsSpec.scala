package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.Streams

/** Structured Streaming: batch/stream parity of the windowed aggregation,
  * and the stateful sessionizer. */
class StreamsSpec extends SparkSpec {
  import spark.implicits._

  test("windowed counts: streaming file source matches batch result") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream").toString
    graft.core.Tables.load(spark, sf001, "events")
      .write.mode("overwrite").parquet(dir)

    val batch = Streams.windowedEventCounts(spark.read.parquet(dir), "1 hour")
      .select("window_start", "event_type", "n").cache()

    val stream = Streams.windowedEventCounts(
      Streams.readEventStream(spark, dir), "1 hour", watermark = Some("2 hours"))
    val q = stream.writeStream.outputMode("complete")
      .format("memory").queryName("win_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("win_out").select("window_start", "event_type", "n")

    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
  }

  test("append mode with watermark emits finalized windows only") {
    val dir = java.nio.file.Files.createTempDirectory("graft-wm").toString
    // two batches of events an hour apart; watermark 10min
    Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:05:00"), "click", 1.0),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 00:20:00"), "click", 2.0),
      (3L, java.sql.Timestamp.valueOf("2024-01-01 02:30:00"), "click", 3.0))
      .toDF("event_id", "ts", "event_type", "value")
      .write.mode("overwrite").parquet(dir)
    val stream = Streams.windowedEventCounts(
      spark.readStream.schema(spark.read.parquet(dir).schema).parquet(dir),
      "1 hour", watermark = Some("10 minutes"))
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("wm_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val out = spark.table("wm_out")
    // the 00:00 window is finalized (watermark passed 01:10 via the 02:30
    // event); the 02:00 window is still open → not emitted in append mode
    assert(out.count() == 1)
    val r = out.first()
    assert(r.getAs[Long]("n") == 2 && r.getAs[Double]("total_value") == 3.0)
  }

  test("stateful sessionizer closes sessions at the gap threshold") {
    val micros = (s: Long) => s * 1000000L
    val events = Seq(
      Streams.SessionEvent(1L, micros(0), 1.0),
      Streams.SessionEvent(1L, micros(60), 2.0),    // same session (gap 60s)
      Streams.SessionEvent(1L, micros(5000), 3.0),  // new session (gap > 1800s)
      Streams.SessionEvent(2L, micros(10), 5.0)).toDS()
    val out = Streams.sessionize(events, gapSec = 1800L).collect()
    // batch mode emits sessions closed by a later event; the final open
    // session per user stays in (discarded) state
    assert(out.length == 1)
    assert(out.head.user_id == 1L && out.head.n_events == 2 &&
      out.head.total_value == 3.0)
  }

  test("streaming dedup drops same-key duplicates") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dedup").toString
    Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "a"),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "a"),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 00:01:00"), "b"))
      .toDF("event_id", "ts", "payload")
      .write.mode("overwrite").parquet(dir)
    val streamed = spark.readStream.schema(spark.read.parquet(dir).schema)
      .parquet(dir)
    val q = Streams.streamingDedup(streamed, Seq("event_id"), "1 hour")
      .writeStream.outputMode("append").format("memory").queryName("dedup_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    assert(spark.table("dedup_out").count() == 2)
  }

  test("upsert sink: micro-batches merge latest-wins into the parquet table") {
    val base = java.nio.file.Files.createTempDirectory("graft-upsert")
    val src = base.resolve("src").toString
    val target = base.resolve("table").toString
    val ckpt = base.resolve("ckpt").toString
    // batch 1: two keys
    Seq((1L, "a", 10L), (2L, "b", 10L)).toDF("k", "v", "seq")
      .write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema
    def runOnce(): Unit = {
      val q = Streams.upsertSink(
        spark.readStream.schema(schema).parquet(src),
        target, ckpt, Seq("k"), "seq")
      q.processAllAvailable(); q.stop()
    }
    runOnce()
    assert(spark.read.parquet(target).orderBy("k")
      .as[(Long, String, Long)].collect().toSeq ==
      Seq((1L, "a", 10L), (2L, "b", 10L)))
    // batch 2: update k=1 (two versions in ONE batch — latest wins),
    // insert k=3; k=2 untouched
    Seq((1L, "a2", 11L), (1L, "a3", 12L), (3L, "c", 11L))
      .toDF("k", "v", "seq").write.mode("append").parquet(src)
    runOnce()
    assert(spark.read.parquet(target).orderBy("k")
      .as[(Long, String, Long)].collect().toSeq ==
      Seq((1L, "a3", 12L), (2L, "b", 10L), (3L, "c", 11L)))
    // restarting with the same checkpoint re-processes nothing
    runOnce()
    assert(spark.read.parquet(target).count() == 3)
  }

  test("upsertBatch holds the single-writer lease for its whole " +
      "read-merge-stage-swap section") {
    import org.apache.hadoop.fs.{Path => HPath}
    val base = java.nio.file.Files.createTempDirectory("graft-upsert-lease")
    val target = base.resolve("kv").toString
    Streams.upsertBatch(Seq((1L, 1L, "a")).toDF("k", "ver", "v"),
      target, Seq("k"), "ver")
    val fs = new HPath(target)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // another writer live on the table: the merge must fail fast BEFORE
    // computing against a base that writer is about to replace
    graft.ops.Compaction.acquireSwapLease(fs, new HPath(target))
    val e = intercept[java.io.IOException] {
      Streams.upsertBatch(Seq((2L, 1L, "b")).toDF("k", "ver", "v"),
        target, Seq("k"), "ver")
    }
    assert(e.getMessage.contains("held by another writer"), e.getMessage)
    assert(spark.read.parquet(target).count() == 1) // untouched
    fs.delete(new HPath(target, "._graft_swap_lease"), false)
    // writer gone: the same batch lands
    Streams.upsertBatch(Seq((2L, 1L, "b")).toDF("k", "ver", "v"),
      target, Seq("k"), "ver")
    assert(spark.read.parquet(target).count() == 2)
  }

  /** One batch of every entry point of the sink commit protocol: its
    * name, the table directories it writes under a base directory (the
    * first is the leased target), and a run landing one batch there. */
  private case class SinkCase(name: String, tables: Seq[String],
      run: java.nio.file.Path => Unit)

  private def sinkCases: Seq[SinkCase] = {
    def at(base: java.nio.file.Path) = base.resolve("t").toString
    val changes = Seq((1L, "one", "A", 1L, "I", "2024-01-01"))
      .toDF("k", "name", "seg", "seq", "op", "change_date")
    val packDocs = Seq((3L, "en", 5), (4L, "en", 7)).toDF("doc_id", "lang", "n")
    val textDocs = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "an entirely different sentence about warehouses"))
      .toDF("doc_id", "text")
    Seq(
      SinkCase("upsertBatch", Seq("t"), b => Streams.upsertBatch(
        Seq((1L, 1L, "a")).toDF("k", "ver", "v"), at(b), Seq("k"), "ver")),
      SinkCase("scd2CdcBatch", Seq("t"), b => Streams.scd2CdcBatch(changes,
        at(b), Seq("k"), Seq("seg"), "seq", "op", "change_date", 0L)),
      SinkCase("scd2CdcBatchPartitioned", Seq("t"), b =>
        Streams.scd2CdcBatchPartitioned(changes, at(b), Seq("k"), Seq("seg"),
          "seq", "op", "change_date", 0L, 4)),
      SinkCase("scd2CdcEventTimeBatch", Seq("t"), b =>
        Streams.scd2CdcEventTimeBatch(changes, at(b), Seq("k"), Seq("seg"),
          "seq", "op", "change_date", 0L)),
      SinkCase("scd2CdcEventTimeBatchPartitioned", Seq("t"), b =>
        Streams.scd2CdcEventTimeBatchPartitioned(changes, at(b), Seq("k"),
          Seq("seg"), "seq", "op", "change_date", 0L, 4)),
      SinkCase("packBatchIncremental", Seq("t"), b =>
        Streams.packBatchIncremental(packDocs, "n", "doc_id", 8, Seq("lang"),
          at(b), 0L)),
      SinkCase("clusterBatchIncremental", Seq("clusters", "index"), b =>
        Streams.clusterBatchIncremental(textDocs, "text", "doc_id",
          b.resolve("index").toString, b.resolve("clusters").toString, 0.8,
          0L)))
  }

  test("an empty table directory reads as 'no table': every batch entry " +
      "point seeds a pre-created empty target") {
    sinkCases.foreach { c =>
      val base = java.nio.file.Files.createTempDirectory("graft-sink-empty")
      // the state a crashed seed leaves: mkdirs ran, the write did not
      c.tables.foreach(t =>
        java.nio.file.Files.createDirectories(base.resolve(t)))
      c.run(base)
      c.tables.foreach { t =>
        assert(spark.read.parquet(base.resolve(t).toString).count() > 0,
          s"${c.name}: $t")
      }
    }
  }

  test("the SEED write is lease-protected too: a concurrent writer on a " +
      "brand-new table fails fast instead of racing ErrorIfExists") {
    import org.apache.hadoop.fs.{Path => HPath}
    val base = java.nio.file.Files.createTempDirectory("graft-seed-lease")
    val fs = new HPath(base.toString)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // upsertBatch: another writer already holds the (empty) table dir
    val kv = new HPath(base.resolve("kv").toString)
    fs.mkdirs(kv)
    graft.ops.Compaction.acquireSwapLease(fs, kv)
    val e = intercept[java.io.IOException] {
      Streams.upsertBatch(Seq((1L, 1L, "a")).toDF("k", "ver", "v"),
        kv.toString, Seq("k"), "ver")
    }
    assert(e.getMessage.contains("held by another writer"), e.getMessage)
    fs.delete(new HPath(kv, "._graft_swap_lease"), false)
    Streams.upsertBatch(Seq((1L, 1L, "a")).toDF("k", "ver", "v"),
      kv.toString, Seq("k"), "ver") // writer gone: the seed lands
    assert(spark.read.parquet(kv.toString).count() == 1)
    // scd2CdcBatch: same contract on the dimension seed
    val dim = new HPath(base.resolve("dim").toString)
    fs.mkdirs(dim)
    graft.ops.Compaction.acquireSwapLease(fs, dim)
    val changes = Seq((1L, "one", "A", 1L, "I", "2024-01-01"))
      .toDF("k", "name", "seg", "seq", "op", "change_date")
    val e2 = intercept[java.io.IOException] {
      Streams.scd2CdcBatch(changes, dim.toString, Seq("k"), Seq("seg"),
        "seq", "op", "change_date", batchId = 0L)
    }
    assert(e2.getMessage.contains("held by another writer"), e2.getMessage)
    fs.delete(new HPath(dim, "._graft_swap_lease"), false)
    Streams.scd2CdcBatch(changes, dim.toString, Seq("k"), Seq("seg"),
      "seq", "op", "change_date", batchId = 0L)
    assert(spark.read.parquet(dim.toString).count() == 1)
    // the same contract on every batch entry point: a foreign lease on
    // the target fails the batch fast, and nothing is written anywhere
    sinkCases.foreach { c =>
      val b = java.nio.file.Files.createTempDirectory("graft-seed-lease-all")
      val t = new HPath(b.resolve(c.tables.head).toString)
      fs.mkdirs(t)
      graft.ops.Compaction.acquireSwapLease(fs, t)
      val e = intercept[java.io.IOException](c.run(b))
      assert(e.getMessage.contains("held by another writer"),
        s"${c.name}: ${e.getMessage}")
      assert(b.toFile.list().toSeq == Seq(c.tables.head), c.name)
      assert(new java.io.File(t.toString).list().toSeq ==
        Seq("._graft_swap_lease"), c.name)
      fs.delete(new HPath(t, "._graft_swap_lease"), false)
      c.run(b) // writer gone: the seed lands
      assert(spark.read.parquet(t.toString).count() > 0, c.name)
    }
  }

  test("stream-static enrichment matches the batch broadcast join") {
    val dir = java.nio.file.Files.createTempDirectory("graft-enrich").toString
    graft.core.Tables.load(spark, sf001, "events")
      .write.mode("overwrite").parquet(dir)
    val dim = Seq(("view", "browsing"), ("purchase", "buying"),
      ("click", "browsing")).toDF("event_type", "activity")
    val batchN = spark.read.parquet(dir).join(dim, "event_type").count()
    val q = Streams.enrich(
      spark.readStream.schema(spark.read.parquet(dir).schema).parquet(dir),
      dim, "event_type")
      .writeStream.outputMode("append").format("memory").queryName("enrich_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    assert(spark.table("enrich_out").count() == batchN && batchN > 0)
    assert(spark.table("enrich_out").columns.contains("activity"))
  }

  test("streaming near-dup against the static signature index matches batch") {
    val docs = graft.core.Tables.load(spark, sf001, "documents")
      .select("doc_id", "text")
    val index = graft.ext.Dedup.signatureIndex(
      docs.filter(col("doc_id") % 2 === 0), "text", "doc_id").cache()
    val newBatch = docs.filter(col("doc_id") % 2 === 1)
    val batch = Streams.nearDupStream(newBatch, "text", "doc_id", index)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // the SAME call over a file stream of the new docs, split across
    // several files so multiple micro-batches exercise the stateful
    // cross-micro-batch pair dedup
    val dir = java.nio.file.Files.createTempDirectory("graft-neardup").toString
    newBatch.repartition(4).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream
      .schema(spark.read.parquet(dir).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
    val q = Streams.nearDupStream(stream, "text", "doc_id", index)
      .writeStream.outputMode("append").format("memory").queryName("nd_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("nd_out")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batch.nonEmpty && streamed == batch)
    index.unpersist()
  }

  test("near-dup stream: empty index and under-width docs flag nothing") {
    val docs = Seq((1L, "alpha beta gamma delta epsilon"),
      (3L, "too short")).toDF("doc_id", "text")
    val emptyIndex = graft.ext.Dedup.signatureIndex(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), "text", "doc_id")
    assert(Streams.nearDupStream(docs, "text", "doc_id", emptyIndex)
      .count() == 0)
    // an index that WOULD match doc 3 if its 2-token text had a signature
    val index = graft.ext.Dedup.signatureIndex(
      Seq((2L, "too short")).toDF("doc_id", "text"), "text", "doc_id")
    assert(Streams.nearDupStream(docs, "text", "doc_id", index).count() == 0)
  }

  test("near-dup stream: watermarked pair-dedup state expires and re-emits") {
    val txt = "alpha beta gamma delta epsilon zeta"
    val index = graft.ext.Dedup.signatureIndex(
      Seq((100L, txt)).toDF("doc_id", "text"), "text", "doc_id")
    val t = (s: String) => java.sql.Timestamp.valueOf(s)
    val dir = java.nio.file.Files.createTempDirectory("graft-ndwm").toString
    // batch 1: the pair flagged twice in-batch (collapses to one emission,
    // one state row at 00:00); batches 2 and 3 advance the watermark far
    // past the 10-minute TTL — batch 3 runs with a watermark that expires
    // batch 1's state row, so its re-flag EMITS again (the documented
    // re-emission tradeoff of bounded state)
    Seq((1L, txt, t("2024-01-01 00:00:00")), (1L, txt, t("2024-01-01 00:00:01")))
      .toDF("doc_id", "text", "ts").repartition(1)
      .write.mode("overwrite").parquet(dir)
    Seq((1L, txt, t("2024-01-01 02:00:00"))).toDF("doc_id", "text", "ts")
      .repartition(1).write.mode("append").parquet(dir)
    Seq((1L, txt, t("2024-01-01 04:00:00"))).toDF("doc_id", "text", "ts")
      .repartition(1).write.mode("append").parquet(dir)
    // state eviction runs at end-of-batch with the PREVIOUS batch's
    // watermark, so the re-emission is observable one batch after the
    // expiry batch — a fourth file makes that batch exist
    Seq((1L, txt, t("2024-01-01 06:00:00"))).toDF("doc_id", "text", "ts")
      .repartition(1).write.mode("append").parquet(dir)
    val stream = spark.readStream
      .schema(spark.read.parquet(dir).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
    val q = Streams.nearDupStream(stream, "text", "doc_id", index,
        eventTimeCol = Some("ts"), stateTtl = "10 minutes")
      .writeStream.outputMode("append").format("memory").queryName("ndwm_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val removed = q.recentProgress.flatMap(_.stateOperators)
      .map(_.numRowsRemoved).sum
    assert(removed > 0, "watermark must expire pair-dedup state rows")
    val finalState = q.recentProgress.flatMap(_.stateOperators)
      .lastOption.map(_.numRowsTotal).getOrElse(-1L)
    assert(finalState < 3, s"state must stay bounded, got $finalState rows")
    val emissions = spark.table("ndwm_out")
      .filter($"new_id" === 1L && $"old_id" === 100L).count()
    assert(emissions >= 2,
      s"pair must re-emit after its state expired, got $emissions")
  }

  test("near-dup stream: a straggler behind the watermark is still " +
      "flagged, never silently dropped (pins measured 4.1.2 behavior)") {
    val txt = "alpha beta gamma delta epsilon zeta"
    val index = graft.ext.Dedup.signatureIndex(
      Seq((100L, txt)).toDF("doc_id", "text"), "text", "doc_id")
    val t = (s: String) => java.sql.Timestamp.valueOf(s)
    val dir = java.nio.file.Files.createTempDirectory("graft-ndlate").toString
    // batch 1 advances the watermark to 04:00 − 10 min; batch 2 is a
    // 4-hour-late straggler with a DIFFERENT doc id, so pair-dedup state
    // cannot explain its fate — only a late-input filter could lose it.
    // DeduplicateWithinWatermark does not late-filter (unlike windowed
    // aggregates): the contract this engine documents is "late documents
    // are never silently lost; worst case a late duplicate re-emits".
    // If a Spark upgrade starts dropping here, this test fails and the
    // nearDupStream lateness contract must be revisited.
    Seq((1L, txt, t("2024-01-01 04:00:00"))).toDF("doc_id", "text", "ts")
      .repartition(1).write.mode("overwrite").parquet(dir)
    // FileStreamSource orders pending files by modification time; a
    // same-millisecond tie would fall back to (random) part-file names
    // and could process the straggler first — force distinct mtimes
    Thread.sleep(1100)
    Seq((2L, txt, t("2024-01-01 00:00:00"))).toDF("doc_id", "text", "ts")
      .repartition(1).write.mode("append").parquet(dir)
    val stream = spark.readStream
      .schema(spark.read.parquet(dir).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
    val q = Streams.nearDupStream(stream, "text", "doc_id", index,
        eventTimeCol = Some("ts"), stateTtl = "10 minutes")
      .writeStream.outputMode("append").format("memory").queryName("nd_late")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    // the straggler batch really did run behind an advanced watermark
    val wmAtStraggler = q.recentProgress
      .filter(_.batchId == 1).flatMap(p => Option(p.eventTime.get("watermark")))
    assert(wmAtStraggler.exists(_.startsWith("2024-01-01T03:50")),
      s"test setup: batch 1 must run with the advanced watermark, " +
        s"got $wmAtStraggler")
    assert(q.recentProgress.flatMap(_.stateOperators)
      .map(_.numRowsDroppedByWatermark).sum == 0,
      "the dedup operator must not late-filter input rows")
    assert(spark.table("nd_late")
      .filter($"new_id" === 2L && $"old_id" === 100L).count() == 1,
      "a doc arriving hours behind the watermark must still be flagged")
    // lateness below stateTtl would shrink the dedup-state window below
    // the TTL contract (the watermark delay IS the state window)
    intercept[IllegalArgumentException] {
      Streams.nearDupStream(
        Seq((1L, txt, t("2024-01-01 00:00:00"))).toDF("doc_id", "text", "ts"),
        "text", "doc_id", index,
        eventTimeCol = Some("ts"), stateTtl = "10 minutes",
        lateness = Some("1 minute"))
    }
    // lateness above stateTtl is the valid knob: same flagging, wider
    // pair-state lifetime (watermark delay = 6h shows in the plan/progress)
    val dir2 = java.nio.file.Files.createTempDirectory("graft-ndlat2").toString
    Seq((1L, txt, t("2024-01-01 04:00:00"))).toDF("doc_id", "text", "ts")
      .repartition(1).write.mode("overwrite").parquet(dir2)
    val q2 = Streams.nearDupStream(
        spark.readStream.schema(spark.read.parquet(dir2).schema).parquet(dir2),
        "text", "doc_id", index,
        eventTimeCol = Some("ts"), stateTtl = "10 minutes",
        lateness = Some("6 hours"))
      .writeStream.outputMode("append").format("memory").queryName("nd_lat2")
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination(120000)
    val wm2 = q2.recentProgress.flatMap(p => Option(p.eventTime.get("watermark")))
    assert(wm2.forall(w => !w.startsWith("2024-01-01T03:50")),
      s"lateness must replace stateTtl as the watermark delay, got $wm2")
    assert(spark.table("nd_lat2").count() == 1)
  }

  test("bucketed banded index: micro-batch join leaves the index unexchanged") {
    val corpus = (0L until 40L)
      .map(i => (i, s"alpha beta gamma delta epsilon token$i marker$i"))
      .toDF("doc_id", "text")
    val index = graft.ext.Dedup.signatureIndex(corpus, "text", "doc_id")
    Streams.writeBandedIndex(index, "doc_id", "b_ndidx", 4)
    val newDocs = Seq(
      (1000L, "alpha beta gamma delta epsilon token7 marker7"), // dup of 7
      (1001L, "completely unrelated words nothing shared here at all"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-ndbk").toString
    newDocs.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream
      .schema(spark.read.parquet(dir).schema).parquet(dir)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force the candidate join to sort-merge so the assert is about
      // exchange elimination, not a broadcast accident
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val q = Streams.nearDupStreamBucketed(stream, "text", "doc_id",
          spark.table("b_ndidx"))
        .writeStream.outputMode("append").format("memory").queryName("ndbk_out")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      val plan = q.asInstanceOf[
          org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
      import org.apache.spark.sql.execution.joins.SortMergeJoinExec
      def subtreeReadsIndex(p: SparkPlan): Boolean =
        p.collectLeaves().exists(_.toString.contains("b_ndidx"))
      val smj = plan.collectFirst { case j: SortMergeJoinExec => j }
        .getOrElse(fail(s"candidate join should be an SMJ:\n$plan"))
      val (indexSide, streamSide) =
        if (subtreeReadsIndex(smj.right)) (smj.right, smj.left)
        else (smj.left, smj.right)
      assert(subtreeReadsIndex(indexSide) && !subtreeReadsIndex(streamSide))
      assert(indexSide.collect { case e: ShuffleExchangeLike => e }.isEmpty,
        s"the bucketed index scan must carry the join distribution " +
          s"unexchanged:\n$plan")
      assert(streamSide.collect { case e: ShuffleExchangeLike => e }.nonEmpty,
        "only the (batch-sized) stream side should exchange")
      // flagging parity with the unbucketed path on the same inputs
      val got = spark.table("ndbk_out")
        .select("new_id", "old_id").as[(Long, Long)].collect().toSet
      val want = Streams.nearDupStream(newDocs, "text", "doc_id", index)
        .select("new_id", "old_id").as[(Long, Long)].collect().toSet
      assert(got == want && got.contains((1000L, 7L)))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS b_ndidx")
    }
  }

  test("stream-stream interval join pairs events within the time bound") {
    val t = (s: String) => java.sql.Timestamp.valueOf(s)
    val ldir = java.nio.file.Files.createTempDirectory("graft-ssl").toString
    val rdir = java.nio.file.Files.createTempDirectory("graft-ssr").toString
    Seq((1L, t("2024-01-01 00:00:00")), (2L, t("2024-01-01 01:00:00")))
      .toDF("user_id", "ts").write.mode("overwrite").parquet(ldir)
    Seq((1L, t("2024-01-01 00:05:00")),  // within 10 min of user 1's view
      (1L, t("2024-01-01 00:30:00")),    // outside the bound
      (2L, t("2024-01-01 01:01:00")))    // within for user 2
      .toDF("user_id", "ts").write.mode("overwrite").parquet(rdir)
    def s(dir: String) = spark.readStream
      .schema(spark.read.parquet(dir).schema).parquet(dir)
    val q = Streams.intervalJoin(s(ldir), s(rdir), "user_id", "2 hours", 600L)
      .select(col("l.user_id").as("user_id"), col("r.ts").as("r_ts"))
      .writeStream.outputMode("append").format("memory").queryName("ssj_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("ssj_out").select("user_id").as[Long]
      .collect().sorted.toSeq
    assert(got == Seq(1L, 2L))
  }

  test("left-outer interval join emits unmatched lefts after the watermark") {
    val t = (s: String) => java.sql.Timestamp.valueOf(s)
    val ldir = java.nio.file.Files.createTempDirectory("graft-sol").toString
    val rdir = java.nio.file.Files.createTempDirectory("graft-sor").toString
    Seq((1L, t("2024-01-01 00:00:00")),  // matched within 10 min
      (3L, t("2024-01-01 00:00:00")),    // no right row at all
      (9L, t("2024-01-01 09:00:00")))    // late row advancing the watermark
      .toDF("user_id", "ts").write.mode("overwrite").parquet(ldir)
    Seq((1L, t("2024-01-01 00:05:00")),
      (9L, t("2024-01-01 09:00:01")))
      .toDF("user_id", "ts").write.mode("overwrite").parquet(rdir)
    def s(dir: String) = spark.readStream
      .schema(spark.read.parquet(dir).schema).parquet(dir)
    val q = Streams.intervalJoinLeftOuter(s(ldir), s(rdir), "user_id",
        "1 minute", 600L)
      .select(col("l.user_id").as("user_id"), col("r.ts").as("r_ts"))
      .writeStream.outputMode("append").format("memory").queryName("ssoj_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val rows = spark.table("ssoj_out")
      .select($"user_id", $"r_ts".isNull).as[(Long, Boolean)]
      .collect().sorted.toSeq
    // user 1 and 9 matched; user 3 emitted exactly once, with a null
    // right side, once the 09:00 rows pushed the watermark past 00:10
    assert(rows == Seq((1L, false), (3L, true), (9L, false)))
  }

  test("streaming sequence packing: micro-batch manifests reconcile to " +
      "the one-shot batch packer, replayed batches are no-ops") {
    val docs = graft.core.Tables.load(spark, sf001, "documents")
      .select("doc_id", "text", "lang")
    val merges = graft.ext.Bpe.train(docs, "text", 4)
    val enc = graft.ext.Bpe.encode(docs, "text", merges)
      .select("doc_id", "lang", "n_bpe_tokens")
    def manifestRows(df: org.apache.spark.sql.DataFrame) =
      df.select("lang", "seq_id", "n_docs", "n_tokens", "first_doc",
        "last_doc").orderBy("lang", "seq_id")
        .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    val want = manifestRows(graft.ext.Curation.packSequences(
      enc, "n_bpe_tokens", "doc_id", 512, Seq("lang")))
    assert(want.length > 5)
    // stream arrives in doc_id order: three contiguous ranges written as
    // separate files with distinct mtimes (oldest-first trigger order)
    val base = java.nio.file.Files.createTempDirectory("graft-packst")
    val src = base.resolve("src").toString
    Seq((Long.MinValue, 120L), (120L, 320L), (320L, Long.MaxValue))
      .foreach { case (lo, hi) =>
        enc.filter(col("doc_id") >= lo && col("doc_id") < hi)
          .coalesce(1).write.mode("append").parquet(src)
        Thread.sleep(1100)
      }
    val target = base.resolve("manifests").toString
    val q = Streams.packingSink(
      spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1").parquet(src),
      target, base.resolve("ckpt").toString,
      "n_bpe_tokens", "doc_id", 512, Seq("lang"))
    q.processAllAvailable(); q.stop()
    val table = spark.read.parquet(target)
    // multiple micro-batches really ran (the boundary-merge path fired)
    assert(table.agg(max("version")).head().getLong(0) >= 2L)
    assert(manifestRows(table) == want)
    // foreachBatch replay (at-least-once): an already-committed batch id
    // is detected by the version watermark and skipped entirely
    Streams.packBatchIncremental(enc, "n_bpe_tokens", "doc_id", 512,
      Seq("lang"), target, batchId = 1L)
    assert(manifestRows(spark.read.parquet(target)) == want)
  }

  test("CDC/SCD2 sink: streamed dimension equals sequential batch merges; " +
      "replayed batches are no-ops") {
    // change feed: (k, name, seg, seq, op, change_date); seg is tracked
    val b1 = Seq(
      (1L, "one", "A", 1L, "I", "2024-01-01"),
      (2L, "two", "A", 2L, "I", "2024-01-01"),
      (3L, "three", "B", 3L, "I", "2024-01-01"))
    val b2 = Seq(
      (1L, "one", "C", 10L, "U", "2024-02-01"), // superseded in-batch…
      (1L, "one", "B", 11L, "U", "2024-02-01"), // …latest change wins
      (3L, "three", "B", 12L, "D", "2024-02-01")) // hard delete: close only
    val b3 = Seq(
      (3L, "three-bis", "C", 20L, "I", "2024-03-01"), // re-insert after D
      (2L, "two", "A", 21L, "U", "2024-03-01")) // value-identical: no bump
    val cols = Seq("k", "name", "seg", "seq", "op", "change_date")
    def df(rows: Seq[(Long, String, String, Long, String, String)]) =
      rows.toDF(cols: _*)
    // batch reference: sequential scd2Cdc merges from an empty seed
    val seed = graft.scd.Scd.seed(
      df(b1).drop("op", "seq", "change_date").limit(0), "2024-01-01")
    val want = Seq(b1, b2, b3).zip(
      Seq("2024-01-01", "2024-02-01", "2024-03-01"))
      .foldLeft(seed) { case (dim, (rows, eff)) =>
        graft.scd.Scd.scd2Cdc(dim, df(rows), Seq("k"), Seq("seg"),
          "seq", "op", eff)
      }
    def dimRows(d: org.apache.spark.sql.DataFrame) =
      d.select(col("k"), col("name"), col("seg"), col("version"),
        col("est_actif"),
        col("date_debut_validite").cast("string"),
        col("date_fin_validite").cast("string"))
        .as[(Long, String, String, Int, Int, String, String)]
        .collect().toSeq.sorted
    // hand-check the semantics before trusting parity: k=1 closed A +
    // active B v2; k=2 single active v1 (no bump); k=3 closed B v1 (the
    // delete) + active C v1 (fresh chain after re-insert)
    val wantRows = dimRows(want)
    assert(wantRows == Seq(
      (1L, "one", "A", 1, 0, "2024-01-01", "2024-02-01"),
      (1L, "one", "B", 2, 1, "2024-02-01", null),
      (2L, "two", "A", 1, 1, "2024-01-01", null),
      (3L, "three", "B", 1, 0, "2024-01-01", "2024-02-01"),
      (3L, "three-bis", "C", 1, 1, "2024-03-01", null)), wantRows.toString)
    // streamed: three files, oldest-first, one per micro-batch
    val base = java.nio.file.Files.createTempDirectory("graft-scd2cdc")
    val src = base.resolve("src").toString
    Seq(b1, b2, b3).foreach { rows =>
      df(rows).coalesce(1).write.mode("append").parquet(src)
      Thread.sleep(1100)
    }
    val target = base.resolve("dim").toString
    val q = Streams.scd2CdcSink(
      spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1").parquet(src),
      target, base.resolve("ckpt").toString,
      Seq("k"), Seq("seg"), "seq", "op", "change_date")
    q.processAllAvailable(); q.stop()
    val table = spark.read.parquet(target)
    assert(table.agg(max("batch_id")).head().getLong(0) >= 2L) // 3 batches ran
    assert(dimRows(table.drop("batch_id")) == wantRows)
    // foreachBatch replay (at-least-once): an already-committed batch id
    // is skipped entirely — even with different (stale) content
    Streams.scd2CdcBatch(df(b2), target, Seq("k"), Seq("seg"),
      "seq", "op", "change_date", batchId = 1L)
    assert(dimRows(spark.read.parquet(target).drop("batch_id")) == wantRows)
  }

  test("event-time CDC/SCD2 sink: streamed out-of-order batches equal " +
      "sequential event-time merges; replay is a no-op") {
    val cols = Seq("k", "name", "seg", "seq", "op", "eff")
    def df(rows: Seq[(Long, String, String, Long, String, String)]) =
      rows.toDF(cols: _*)
    val b1 = Seq((1L, "n1", "A", 1L, "I", "2024-01-01"),
      (2L, "n2", "X", 2L, "I", "2024-03-01"))
    // arrives AFTER b1 but carries an EARLIER effective date: splices
    // before k=1's A version instead of stacking on the end
    val b2 = Seq((1L, "n1", "B", 10L, "U", "2023-06-01"))
    val b3 = Seq((2L, "n2", "X", 20L, "D", "2024-06-01"),
      (1L, "n1", "C", 21L, "U", "2024-08-01"))
    val seed = graft.scd.Scd.seed(
      df(b1).drop("op", "seq", "eff").limit(0), "1970-01-01")
    val want = Seq(b1, b2, b3).foldLeft(seed) { (dim, rows) =>
      graft.scd.Scd.scd2CdcEventTime(dim, df(rows), Seq("k"), Seq("seg"),
        "seq", "op", "eff")
    }
    def dimRows(d: org.apache.spark.sql.DataFrame) =
      d.select($"k", $"seg", $"version", $"est_actif",
        $"date_debut_validite".cast("string"),
        $"date_fin_validite".cast("string"))
        .as[(Long, String, Int, Int, String, String)].collect().toSeq.sorted
    val wantRows = dimRows(want)
    // hand-check: k=1 chain renumbered as if B had arrived in order
    assert(wantRows == Seq(
      (1L, "A", 2, 0, "2024-01-01", "2024-08-01"),
      (1L, "B", 1, 0, "2023-06-01", "2024-01-01"),
      (1L, "C", 3, 1, "2024-08-01", null),
      (2L, "X", 1, 0, "2024-03-01", "2024-06-01")), wantRows.toString)
    val base = java.nio.file.Files.createTempDirectory("graft-scd2cdcet")
    val src = base.resolve("src").toString
    Seq(b1, b2, b3).foreach { rows =>
      df(rows).coalesce(1).write.mode("append").parquet(src)
      Thread.sleep(1100)
    }
    val target = base.resolve("dim").toString
    val q = Streams.scd2CdcEventTimeSink(
      spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1").parquet(src),
      target, base.resolve("ckpt").toString,
      Seq("k"), Seq("seg"), "seq", "op", "eff")
    q.processAllAvailable(); q.stop()
    assert(dimRows(spark.read.parquet(target)) == wantRows)
    // replay of a committed batch id is skipped via the sidecar
    // watermark — even with different (stale) content
    Streams.scd2CdcEventTimeBatch(df(b2), target, Seq("k"), Seq("seg"),
      "seq", "op", "eff", batchId = 1L)
    assert(dimRows(spark.read.parquet(target)) == wantRows)
    // and a crash-replay of the LAST batch (watermark not yet advanced
    // past it) is ABSORBING: re-merging b3 with a fresh batch id yields
    // the identical dimension
    Streams.scd2CdcEventTimeBatch(df(b3), target, Seq("k"), Seq("seg"),
      "seq", "op", "eff", batchId = 99L)
    assert(dimRows(spark.read.parquet(target)) == wantRows)
  }

  test("partitioned CDC/SCD2 sink: equals the full-rewrite sink, " +
      "untouched partitions keep identical files/mtimes, replay is a " +
      "no-op") {
    val cols = Seq("k", "name", "seg", "seq", "op", "change_date")
    def df(rows: Seq[(Long, String, String, Long, String, String)]) =
      rows.toDF(cols: _*)
    val b1 = (1L to 6L).map(i =>
      (i, s"n$i", "A", i, "I", "2024-01-01"))
    val b2 = Seq((1L, "n1", "B", 10L, "U", "2024-02-01")) // one key only
    val b3 = Seq((2L, "n2", "A", 20L, "D", "2024-03-01"),
      (9L, "n9", "C", 21L, "I", "2024-03-01"))
    val base = java.nio.file.Files.createTempDirectory("graft-scd2cdcp")
    val full = base.resolve("full").toString
    val part = base.resolve("part").toString
    val n = 8
    def runFull(b: Seq[(Long, String, String, Long, String, String)],
        id: Long) = Streams.scd2CdcBatch(df(b), full, Seq("k"), Seq("seg"),
      "seq", "op", "change_date", id)
    def runPart(b: Seq[(Long, String, String, Long, String, String)],
        id: Long) = Streams.scd2CdcBatchPartitioned(df(b), part, Seq("k"),
      Seq("seg"), "seq", "op", "change_date", id, n)
    // data files under every bucket leaf → (relative path, mtime)
    def leafFiles(): Map[String, Long] = {
      val root = new java.io.File(part)
      root.listFiles().filter(d => d.isDirectory &&
        d.getName.startsWith("bucket_id=")).flatMap { d =>
        d.listFiles().filter(f => f.isFile && f.getName.endsWith(".parquet"))
          .map(f => s"${d.getName}/${f.getName}" -> f.lastModified())
      }.toMap
    }
    runFull(b1, 0L); runPart(b1, 0L)
    val snap1 = leafFiles()
    assert(snap1.keys.map(_.split("/").head).toSet.size > 1,
      s"fixture must spread over multiple buckets: ${snap1.keys}")
    runFull(b2, 1L); runPart(b2, 1L)
    val snap2 = leafFiles()
    // the bucket key 1 hashes to (same expression as the sink's)
    val bucket1 = spark.range(1)
      .select(pmod(xxhash64(lit(1L)), lit(n.toLong)).cast("int"))
      .head().getInt(0)
    // every file outside key 1's bucket is bit-the-same file (same
    // name AND mtime — the refreshIncremental untouched contract)
    val untouched1 = snap1.filter(!_._1.startsWith(s"bucket_id=$bucket1/"))
    assert(untouched1.nonEmpty)
    untouched1.foreach { case (f, m) =>
      assert(snap2.get(f).contains(m), s"untouched file changed: $f")
    }
    assert(snap2.keys.exists(_.startsWith(s"bucket_id=$bucket1/")))
    runFull(b3, 2L); runPart(b3, 2L)
    val snap3 = leafFiles()
    // replaying an already-committed batch changes NOTHING (sidecar
    // watermark guard — no leaf is even read)
    runPart(b2, 1L)
    assert(leafFiles() == snap3)
    // final dimension state equals the full-rewrite sink's
    def rows(dir: String, drop: String) =
      spark.read.parquet(dir).drop(drop)
        .select($"k", $"name", $"seg", $"version", $"est_actif",
          $"date_debut_validite".cast("string"),
          $"date_fin_validite".cast("string"))
        .as[(Long, String, String, Int, Int, String, String)]
        .collect().toSeq.sorted
    assert(rows(part, "bucket_id") == rows(full, "batch_id"))
    // and the partitioned layout actually prunes: a single-key current
    // read scans one leaf only
    val pruned = graft.scd.Scd.current(spark.read.parquet(part))
      .filter($"bucket_id" === bucket1 && $"k" === 1L)
    val scanned = pruned.queryExecution.executedPlan.collectLeaves()
      .flatMap(_.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.selectedPartitions.partitionCount
      })
    assert(scanned.forall(_ == 1), s"expected one pruned partition: $scanned")
    assert(pruned.count() == 1)
  }

  test("partitioned EVENT-TIME CDC/SCD2 sink: equals the full-rewrite " +
      "event-time sink, untouched leaves keep identical files/mtimes, a " +
      "vanished bucket truncates, replay is a no-op") {
    val cols = Seq("k", "name", "seg", "seq", "op", "eff")
    def df(rows: Seq[(Long, String, String, Long, String, String)]) =
      rows.toDF(cols: _*)
    val n = 8
    def bucket(k: Long) = spark.range(1)
      .select(pmod(xxhash64(lit(k)), lit(n.toLong)).cast("int"))
      .head().getInt(0)
    val b1 = (1L to 6L).map(i => (i, s"n$i", "A", i, "I", "2024-01-01"))
    // arrives later but splices EARLIER than k=1's existing version
    val b2 = Seq((1L, "n1", "B", 10L, "U", "2023-06-01"))
    val b3 = Seq((2L, "n2", "A", 20L, "D", "2024-03-01"),
      (9L, "n9", "C", 21L, "I", "2024-03-01"))
    // k0 sits alone in its bucket: inserted in b4, then deleted at the
    // SAME date in b5 — the rebuild erases the whole chain and the
    // bucket must truncate, not serve the stale version
    val used = (Seq(1L, 2L, 3L, 4L, 5L, 6L, 9L)).map(bucket).toSet
    val k0 = (100L to 200L).find(k => !used.contains(bucket(k))).get
    val b4 = Seq((k0, "ghost", "G", 30L, "I", "2024-05-01"))
    val b5 = Seq((k0, "ghost", "G", 31L, "D", "2024-05-01"))
    val base = java.nio.file.Files.createTempDirectory("graft-scd2cdcetp")
    val full = base.resolve("full").toString
    val part = base.resolve("part").toString
    def runFull(b: Seq[(Long, String, String, Long, String, String)],
        id: Long) = Streams.scd2CdcEventTimeBatch(df(b), full, Seq("k"),
      Seq("seg"), "seq", "op", "eff", id)
    def runPart(b: Seq[(Long, String, String, Long, String, String)],
        id: Long) = Streams.scd2CdcEventTimeBatchPartitioned(df(b), part,
      Seq("k"), Seq("seg"), "seq", "op", "eff", id, n)
    def leafFiles(): Map[String, Long] = {
      val root = new java.io.File(part)
      root.listFiles().filter(d => d.isDirectory &&
        d.getName.startsWith("bucket_id=")).flatMap { d =>
        d.listFiles().filter(f => f.isFile && f.getName.endsWith(".parquet"))
          .map(f => s"${d.getName}/${f.getName}" -> f.lastModified())
      }.toMap
    }
    def rows(dir: String) = spark.read.parquet(dir).drop("bucket_id")
      .select($"k", $"name", $"seg", $"version", $"est_actif",
        $"date_debut_validite".cast("string"),
        $"date_fin_validite".cast("string"))
      .as[(Long, String, String, Int, Int, String, String)]
      .collect().toSeq.sorted
    runFull(b1, 0L); runPart(b1, 0L)
    val snap1 = leafFiles()
    assert(snap1.keys.map(_.split("/").head).toSet.size > 1,
      s"fixture must spread over multiple buckets: ${snap1.keys}")
    runFull(b2, 1L); runPart(b2, 1L)
    val snap2 = leafFiles()
    // the out-of-order splice touched ONLY k=1's bucket
    val bucket1 = bucket(1L)
    val untouched1 = snap1.filter(!_._1.startsWith(s"bucket_id=$bucket1/"))
    assert(untouched1.nonEmpty)
    untouched1.foreach { case (f, m) =>
      assert(snap2.get(f).contains(m), s"untouched file changed: $f")
    }
    // and the splice really rebuilt in event-time order (B before A)
    val k1 = rows(part).filter(_._1 == 1L)
    assert(k1.map(r => (r._3, r._4)).toSet == Set(("B", 1), ("A", 2)),
      k1.toString)
    runFull(b3, 2L); runPart(b3, 2L)
    runFull(b4, 3L); runPart(b4, 3L)
    assert(rows(part).exists(_._1 == k0))
    runFull(b5, 4L); runPart(b5, 4L)
    // same-date insert+delete leaves no trace; the bucket truncates
    assert(!rows(part).exists(_._1 == k0))
    assert(!leafFiles().keys.exists(_.startsWith(s"bucket_id=${bucket(k0)}/")),
      "vanished bucket must hold no data files")
    // replaying a committed batch changes nothing (sidecar watermark)
    val snap5 = leafFiles()
    runPart(b2, 1L)
    assert(leafFiles() == snap5)
    // final state equals the full-rewrite event-time sink's
    assert(rows(part) == rows(full))
  }

  test("partitioned batch-time sink rejects a mixed-date batch loudly " +
      "instead of silently stamping max(eff)") {
    val cols = Seq("k", "name", "seg", "seq", "op", "change_date")
    val base = java.nio.file.Files.createTempDirectory("graft-scd2mixed")
    val part = base.resolve("part").toString
    val mixed = Seq((1L, "n1", "A", 1L, "I", "2024-01-01"),
      (2L, "n2", "A", 2L, "I", "2024-02-01")).toDF(cols: _*)
    val e = intercept[IllegalArgumentException] {
      Streams.scd2CdcBatchPartitioned(mixed, part, Seq("k"), Seq("seg"),
        "seq", "op", "change_date", 0L, 8)
    }
    assert(e.getMessage.contains("one effective date per batch"),
      e.getMessage)
    assert(e.getMessage.contains("scd2CdcEventTimeBatchPartitioned"),
      "the error must route the caller to the event-time sink")
    // nothing landed: no bucket leaves, no watermark — single-date
    // batches then apply cleanly from scratch
    assert(!new java.io.File(part).listFiles().exists(f =>
      f.getName.startsWith("bucket_id=") || f.getName.contains("watermark")))
    Streams.scd2CdcBatchPartitioned(
      Seq((1L, "n1", "A", 1L, "I", "2024-01-01")).toDF(cols: _*),
      part, Seq("k"), Seq("seg"), "seq", "op", "change_date", 0L, 8)
    assert(spark.read.parquet(part).count() == 1)
  }

  test("partitioned sink vs compaction: the leaf lease excludes a " +
      "concurrent bucket compaction — the sink fails fast, the watermark " +
      "does not advance, and the batch replays cleanly after release") {
    import org.apache.hadoop.fs.{Path => HPath}
    val cols = Seq("k", "name", "seg", "seq", "op", "change_date")
    def df(rows: Seq[(Long, String, String, Long, String, String)]) =
      rows.toDF(cols: _*)
    val n = 8
    val base = java.nio.file.Files.createTempDirectory("graft-scd2leaf")
    val part = base.resolve("part").toString
    def runPart(b: Seq[(Long, String, String, Long, String, String)],
        id: Long) = Streams.scd2CdcBatchPartitioned(df(b), part, Seq("k"),
      Seq("seg"), "seq", "op", "change_date", id, n)
    runPart((1L to 6L).map(i => (i, s"n$i", "A", i, "I", "2024-01-01")), 0L)
    val want1 = spark.read.parquet(part).drop("bucket_id")
      .collect().map(_.toString).sorted.toSeq
    // a "compactor" holds the lease on k=1's bucket LEAF (the path
    // Compaction.compact locks when it descends into partition leaves)
    val bucket1 = spark.range(1)
      .select(pmod(xxhash64(lit(1L)), lit(n.toLong)).cast("int"))
      .head().getInt(0)
    val leaf = new HPath(new HPath(part), s"bucket_id=$bucket1")
    val fs = leaf.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.ops.Compaction.acquireSwapLease(fs, leaf)
    val b2 = Seq((1L, "n1", "B", 10L, "U", "2024-02-01"))
    val e = intercept[java.io.IOException](runPart(b2, 1L))
    assert(e.getMessage.contains("lease"), e.getMessage)
    // the failed batch must not have advanced the sidecar watermark or
    // corrupted the dimension: still batch-0 state
    assert(spark.read.parquet(part).drop("bucket_id")
      .collect().map(_.toString).sorted.toSeq == want1)
    fs.delete(new HPath(leaf, "._graft_swap_lease"), false)
    runPart(b2, 1L) // replay applies cleanly now
    val cur = graft.scd.Scd.current(spark.read.parquet(part))
      .filter($"k" === 1L).select("seg").as[String].collect().toSeq
    assert(cur == Seq("B"))
  }

  test("streaming dedup clustering: cluster table equals a from-scratch " +
      "batch clustering; replays, duplicate re-deliveries and " +
      "half-committed batches all heal") {
    import graft.ext.Dedup
    val docs = graft.core.Tables.load(spark, sf001, "documents")
      .select("doc_id", "text")
    def batchClustering(sub: org.apache.spark.sql.DataFrame) = {
      val cc = Dedup.clusterPairs(Dedup.nearDupPairs(sub, "text", "doc_id")
        .filter(col("jaccard") >= 0.8))
      sub.select(col("doc_id").as("id")).join(cc, Seq("id"), "left")
        .select(col("id"), coalesce(col("cluster_id"), col("id"))
          .as("cluster_id"))
        .as[(Long, Long)].collect().toMap
    }
    val want = batchClustering(docs)
    val base = java.nio.file.Files.createTempDirectory("graft-ccstream")
    val src = base.resolve("src").toString
    Seq((Long.MinValue, 120L), (120L, 320L), (320L, Long.MaxValue))
      .foreach { case (lo, hi) =>
        docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
          .coalesce(1).write.mode("append").parquet(src)
        Thread.sleep(1100)
      }
    val indexDir = base.resolve("index").toString
    val clustersDir = base.resolve("clusters").toString
    val q = Streams.dedupClusterSink(
      spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1").parquet(src),
      "text", "doc_id", indexDir, clustersDir,
      base.resolve("ckpt").toString)
    q.processAllAvailable(); q.stop()
    def table() = spark.read.parquet(clustersDir)
      .select("id", "cluster_id").as[(Long, Long)].collect().toMap
    assert(spark.read.parquet(clustersDir).agg(max("version"))
      .head().getLong(0) >= 2L, "multiple micro-batches must have run")
    assert(table() == want)
    // same-batch replay (foreachBatch at-least-once): version-guarded no-op
    Streams.clusterBatchIncremental(docs.filter(col("doc_id") < 120),
      "text", "doc_id", indexDir, clustersDir, 0.8, batchId = 0L)
    assert(table() == want)
    // cross-batch duplicate re-delivery: already-clustered ids dropped
    Streams.clusterBatchIncremental(docs.filter(col("doc_id") < 120),
      "text", "doc_id", indexDir, clustersDir, 0.8, batchId = 99L)
    assert(table() == want)
    // half-committed batch: the index got a new doc's signature but the
    // clusters write crashed — the replay must still cluster the doc
    // (an index-keyed duplicate guard would drop it forever)
    val extra = docs.filter(col("doc_id") === 1L)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    Streams.upsertBatch(Dedup.signatureIndex(extra, "text", "doc_id")
        .withColumn("version", lit(100L)),
      indexDir, Seq("doc_id"), "version")
    assert(!table().contains(1000001L))
    Streams.clusterBatchIncremental(extra, "text", "doc_id",
      indexDir, clustersDir, 0.8, batchId = 100L)
    val healed = table()
    assert(healed.contains(1000001L), "half-committed doc must be clustered")
    // it is a copy of doc 1's text, so it joins doc 1's cluster
    assert(healed(1000001L) == healed(1L))
  }

  test("packBatchIncremental: an existing-but-EMPTY manifest table reads " +
      "as 'no committed batch' (null-safe watermark), not an NPE") {
    val base = java.nio.file.Files.createTempDirectory("graft-packempty")
    val target = base.resolve("manifests").toString
    // an empty manifest table (external truncation / another writer):
    // max(version) is NULL — this crash-looped the stream before the fix
    Seq.empty[(String, Long, Long, Long, Long, Long, Long)]
      .toDF("lang", "seq_id", "n_docs", "n_tokens", "first_doc",
        "last_doc", "version")
      .write.parquet(target)
    val docs = Seq((3L, "en", 5), (4L, "en", 7)).toDF("doc_id", "lang", "n")
    Streams.packBatchIncremental(docs, "n", "doc_id", 8, Seq("lang"),
      target, batchId = 0L)
    val table = spark.read.parquet(target)
    assert(table.agg(sum("n_tokens")).head().getLong(0) == 12L)
    assert(table.agg(max("version")).head().getLong(0) == 0L)
    // and the committed batch now guards replay as usual
    Streams.packBatchIncremental(docs, "n", "doc_id", 8, Seq("lang"),
      target, batchId = 0L)
    assert(spark.read.parquet(target)
      .agg(sum("n_tokens")).head().getLong(0) == 12L)
  }
}
