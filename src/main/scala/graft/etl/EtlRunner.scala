package graft.etl

import org.apache.spark.sql.SparkSession
import graft.ops.EtlLog

/** Pipeline orchestration — the Spark re-expression of the reference's
  * `analytics/etl/run_etl.py` runner: sequential stages inside ONE
  * SparkSession (the reference's subprocess + JSON-report IPC collapses
  * into function calls), per-stage try/catch with an execution report,
  * and failure cascade: when a stage a later stage depends on fails, the
  * dependents are recorded IGNORE and skipped
  * (reference `--staging-failed` cascade, `run_etl.py:726-734`).
  */
object EtlRunner {

  final case class Stage(
      name: String,
      dependsOn: Seq[String] = Nil,
      body: () => Long) // returns rows processed

  final case class StageReport(
      name: String, status: String, rows: Long, seconds: Double,
      message: String)

  /** Post-run notification hook (reference `etl_notifier.py:52-80`, which
    * e-mails a per-table report on success/error). Receives every stage's
    * report after the run completes; implementations deliver it wherever
    * operations wants it — see [[EtlNotifier]] for the standard ones. */
  type ReportSink = Seq[StageReport] => Unit

  /** Run stages in order; log each to the ops log table; cascade skips.
    * Every `sink` then receives the full report — success AND failure
    * runs, like the reference notifier. A sink that itself throws is
    * reported to stderr and swallowed: losing a notification must not
    * retroactively fail a pipeline that already ran. */
  def run(spark: SparkSession, logPath: String, stages: Seq[Stage],
      sinks: Seq[ReportSink] = Nil): Seq[StageReport] = {
    val reports = runStages(spark, logPath, stages)
    sinks.foreach { sink =>
      try sink(reports)
      catch {
        case e: Throwable =>
          Console.err.println(s"[graft-etl] report sink failed: $e")
      }
    }
    reports
  }

  private def runStages(spark: SparkSession, logPath: String,
      stages: Seq[Stage]): Seq[StageReport] = {
    val failed = scala.collection.mutable.Set[String]()
    stages.map { st =>
      if (st.dependsOn.exists(failed.contains)) {
        failed += st.name // transitively cascade
        val r = StageReport(st.name, "IGNORE", 0L, 0.0,
          s"skipped: upstream failed (${st.dependsOn.filter(failed.contains).mkString(",")})")
        EtlLog.append(EtlLog.entry(spark, st.name, st.name, "IGNORE", 0L, 0.0,
          r.message), logPath)
        r
      } else {
        val t0 = System.nanoTime()
        try {
          val rows = st.body()
          val secs = (System.nanoTime() - t0) / 1e9
          EtlLog.append(EtlLog.entry(spark, st.name, st.name, "SUCCES", rows,
            secs), logPath)
          StageReport(st.name, "SUCCES", rows, secs, "")
        } catch {
          case e: Throwable =>
            failed += st.name
            val secs = (System.nanoTime() - t0) / 1e9
            EtlLog.append(EtlLog.entry(spark, st.name, st.name, "ERREUR", 0L,
              secs, String.valueOf(e.getMessage)), logPath)
            StageReport(st.name, "ERREUR", 0L, secs, String.valueOf(e.getMessage))
        }
      }
    }
  }
}

/** Standard [[EtlRunner.ReportSink]]s — the Spark re-expression of the
  * reference's `analytics/etl/etl_notifier.py:52-80` (SMTP per-table
  * report). The message FORMAT is built here; DELIVERY is a pluggable
  * `(subject, body) => Unit` transport because this engine takes no
  * network dependencies — production wires the transport to mail/chat,
  * tests capture it, and the report-table sink persists the same rows
  * the reference's e-mail body carries.
  */
object EtlNotifier {
  import EtlRunner.StageReport

  /** Subject + body, formatted like the reference's notification mail:
    * outcome summary up top, one line per stage underneath. */
  def format(jobName: String, reports: Seq[StageReport]): (String, String) = {
    val nOk = reports.count(_.status == "SUCCES")
    val nErr = reports.count(_.status == "ERREUR")
    val nSkip = reports.count(_.status == "IGNORE")
    val outcome = if (nErr > 0) "ECHEC" else "SUCCES"
    val subject =
      s"[graft-etl] $jobName: $outcome ($nOk ok, $nErr en erreur, $nSkip ignores)"
    val lines = reports.map { r =>
      val msg = if (r.message.isEmpty) "" else s" — ${r.message}"
      f"  ${r.status}%-6s ${r.name}: ${r.rows}%d lignes en ${r.seconds}%.1fs$msg"
    }
    (subject, (subject +: lines).mkString("\n"))
  }

  /** Deliver the formatted report through any transport. */
  def transport(jobName: String, send: (String, String) => Unit)
      : EtlRunner.ReportSink =
    reports => { val (s, b) = format(jobName, reports); send(s, b) }

  /** Append the report to a parquet table — one row per stage, stamped
    * with the job name and wall-clock run time, queryable next to the
    * ops log (`EtlLog`). One tiny single-partition write per run. */
  def table(spark: SparkSession, path: String, jobName: String)
      : EtlRunner.ReportSink = reports => {
    import spark.implicits._
    val ranAt = new java.sql.Timestamp(System.currentTimeMillis())
    reports.map(r =>
        (jobName, ranAt, r.name, r.status, r.rows, r.seconds, r.message))
      .toDF("job", "ran_at", "stage", "status", "rows", "seconds", "message")
      .coalesce(1)
      .write.mode("append").parquet(path)
  }
}
