package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

/** The benchmark's JVM side: one workload, one client, one thread issuing
  * ops back to back (a closed loop). It builds the workload's fixture
  * once, warms up on the workload's
  * own ops, then issues ops until they have run for `--seconds`,
  * and writes one JSON record of every op to `--out`.
  *
  *   perfbench.Main --workload NAME --data DIR --work DIR --out FILE
  *     --seconds S --trace 0|1 --warmup N --cpus C [--plan FILE] [--batches N]
  *
  * In the traced run (`--trace 1`) traced and untraced ops (or rounds of a
  * rotation) alternate, so the tracing overhead is measured in the same JVM
  * at the same point of its warm-up. */
object Main {
  final case class OpRec(i: Int, name: String, traced: Boolean, startS: Double,
      latencyS: Double, cpuS: Double, gcS: Double, error: Option[String])

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String) = args.getOrElse(k, sys.error(s"missing --$k"))
    val workload = arg("workload")
    val data = arg("data")
    val work = arg("work")
    val seconds = arg("seconds").toDouble
    val traced = arg("trace") == "1"
    val warmup = arg("warmup").toInt
    val cpus = arg("cpus").toInt
    val plan = args.get("plan").map(p =>
      new String(Files.readAllBytes(Paths.get(p)), "UTF-8"))

    val t0 = System.nanoTime()
    def now = (System.nanoTime() - t0) / 1e9
    val spark = graft.core.GraftSession.builder(s"local[$cpus]", cpus)
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val listener = new OpListener
    if (traced) spark.sparkContext.addSparkListener(listener)
    val sessionS = now

    val tr = new Tracer(traced)
    val oracleDir = s"$work/oracle"
    val wl: Workload = workload match {
      case "warehouse_load" =>
        new WarehouseLoad(spark, data, s"$data/batches", work, tr,
          arg("batches").toInt)
      case "mart_reads" =>
        new MartReads(spark, data, oracleDir, tr,
          plan.get.split('\n').map(_.trim).filter(_.nonEmpty).toIndexedSeq)
      case "curation" =>
        new CurationPass(spark, data, work, tr, Int.MaxValue)
      case other => sys.error(s"unknown workload $other")
    }

    val f0 = now
    wl.fixture()
    val fixtureS = now - f0
    writeOracles(oracleDir)

    val recs = mutable.ArrayBuffer.empty[OpRec]
    def runOp(i: Int): OpRec = {
      // traced and untraced alternate by op, or by round for a rotation,
      // so both sides of the overhead compare the same op kinds
      val withTrace = traced && ((i - 1) / wl.rotation) % 2 == 1
      tr.op = if (withTrace) i else -1
      spark.sparkContext.setLocalProperty(OpListener.Key, i.toString)
      val gc0 = Jvm.gcS
      val c0 = Jvm.threadsCpuS
      val s0 = now
      val err = try {
        wl.op(i)
        None
      } catch { case e: Exception => Some(s"op failed: $e") }
      val lat = now - s0
      val cpu = Jvm.threadsCpuS - c0
      val gc = Jvm.gcS - gc0
      tr.op = -1
      spark.sparkContext.setLocalProperty(OpListener.Key, null)
      val checked = err.orElse(
        try wl.check(i) catch { case e: Exception => Some(s"check failed: $e") })
      OpRec(i, wl.opName(i), withTrace, s0, lat, cpu, gc, checked)
    }

    val w0 = now
    val warmupErrors = (1 to math.min(warmup, wl.maxOps))
      .flatMap(i => runOp(i).error.map(e => s"warm-up op $i: $e"))
    val warmupS = now - w0

    val jit0 = Jvm.jitS
    val gc0 = Jvm.gcS
    val cpu0 = Jvm.cpuS
    val win0 = now
    var i = warmup + 1
    var opTime = 0.0
    // the window closes once its ops have run for `seconds`, at the end of
    // a whole rotation (so every op kind of the rotation weighs the same),
    // and never before three ops (so the median and the slowest op are
    // taken over the same minimum sample); a traced window holds at least
    // one traced and one untraced rotation
    val minOps = if (traced && wl.rotation > 1) 2 * wl.rotation else 3
    while ((opTime < seconds || recs.size < minOps || recs.size % wl.rotation != 0) &&
        i <= wl.maxOps) {
      recs += runOp(i)
      opTime += recs.last.latencyS
      i += 1
    }
    val windowS = now - win0
    val windowJit = Jvm.jitS - jit0
    val windowGc = Jvm.gcS - gc0
    val windowCpu = Jvm.cpuS - cpu0
    val finish = try wl.finish() catch { case e: Exception => Some(s"final check failed: $e") }
    spark.stop() // drains the listener bus before the totals are read

    val sb = new StringBuilder("{")
    def kv(k: String, v: String) = sb ++= s"${Json.str(k)}:$v,"
    kv("workload", Json.str(workload))
    kv("traced", traced.toString)
    kv("session_s", Json.num(sessionS))
    kv("fixture_s", Json.num(fixtureS))
    kv("warmup_ops", math.min(warmup, wl.maxOps).toString)
    kv("warmup_s", Json.num(warmupS))
    kv("window_s", Json.num(windowS))
    kv("window_jit_s", Json.num(windowJit))
    kv("window_gc_s", Json.num(windowGc))
    kv("window_cpu_s", Json.num(windowCpu))
    kv("inputs_exhausted", (i > wl.maxOps).toString)
    kv("warmup_errors", warmupErrors.map(Json.str).mkString("[", ",", "]"))
    kv("final_error", finish.map(Json.str).getOrElse("null"))
    kv("ops", recs.map { r =>
      val t = Option(listener.perOp.get(r.i))
      s"""{"i":${r.i},"name":${Json.str(r.name)},"traced":${r.traced},""" +
        s""""start_s":${Json.num(r.startS)},"latency_s":${Json.num(r.latencyS)},""" +
        s""""cpu_s":${Json.num(r.cpuS)},""" +
        s""""gc_s":${Json.num(r.gcS)},"error":${r.error.map(Json.str).getOrElse("null")}""" +
        t.map(x => s""","jobs":${x.jobs},"tasks":${x.tasks},"input_bytes":${x.inputBytes},""" +
          s""""shuffle_bytes":${x.shuffleBytes},"spill_bytes":${x.spillBytes},""" +
          s""""output_bytes":${x.outputBytes}""").getOrElse("") + "}"
    }.mkString("[", ",", "]"))
    sb.setLength(sb.length - 1)
    sb ++= "}"
    Files.write(Paths.get(arg("out")), sb.result().getBytes("UTF-8"))
    if (traced) Files.write(Paths.get(arg("out") + ".spans.jsonl"),
      tr.json.getBytes("UTF-8"))
  }

  /** The DuckDB oracle SQL of every result the fixture dumped, in the
    * layout the repository's correctness gate (tools/check.py) reads. */
  private def writeOracles(dir: String): Unit = {
    val d = new java.io.File(dir)
    if (d.isDirectory) {
      val names = d.listFiles().filter(_.isDirectory).map(_.getName).sorted
      val sql = graft.SparkEntry.oracleSql
      Files.write(Paths.get(dir, "oracle_sql.json"), names.filter(sql.contains)
        .map(n => s"${Json.str(n)}:${Json.str(sql(n))}").mkString("{", ",", "}")
        .getBytes("UTF-8"))
      Files.write(Paths.get(dir, "_declared.json"),
        names.map(Json.str).mkString("[", ",", "]").getBytes("UTF-8"))
    }
  }
}
