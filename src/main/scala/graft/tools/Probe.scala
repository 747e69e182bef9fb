package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import graft.SparkEntry
import graft.ops.QueryMetrics

/** Per-query profile of declared queries: for each query × data dir, the
  * min-of-N wall time of `count()` (the action `graft.Bench` times), what
  * the cluster did in that fastest run ([[QueryMetrics]]) and the codegen
  * compiles of the N runs, one JSON line each. `--plan <dir>` also writes
  * each query's formatted physical plan on the first dir to
  * `<dir>/<query>.txt` (the `plans/r18/` format).
  *
  *   tools/run.sh graft.tools.Probe <q1,q2,…> <sfDir>[,<sfDir>…] [--runs N] [--plan <dir>]
  *
  * Comparing one query across two scale factors separates "the data grew"
  * (records and shuffle ratios track the wall ratio) from "the plan
  * regressed" (the wall ratio far above them).
  */
object Probe {

  final case class Result(query: String, dir: String, wallS: Double,
      metrics: QueryMetrics.Snapshot, compiles: Long) {
    def json: String =
      s"""{"query":"$query","sf":"$dir","wall_s":""" +
        "%.6f".formatLocal(java.util.Locale.ROOT, wallS) +
        s""","shuffle_write_bytes":${metrics.shuffleWriteBytes},""" +
        s""""records_read":${metrics.recordsRead},""" +
        s""""spill_bytes":${metrics.spillBytes},"tasks":${metrics.tasks},""" +
        s""""compiles":$compiles}"""
  }

  /** Profiles every query in `names` on every dir in `dirs`, in that
    * order. Each run starts from an empty SQL cache and no persisted RDDs,
    * as in `graft.Bench`; the metrics are those of the fastest run, and
    * `compiles` counts the Janino compiles (generated classes the
    * codegen cache did not hold) over all N runs. */
  def probe(spark: SparkSession, names: Seq[String], dirs: Seq[String],
      runs: Int, planDir: Option[String]): Seq[Result] = {
    val queries = SparkEntry.queries
    val unknown = names.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown query: ${unknown.mkString(", ")}")
    require(names.nonEmpty && dirs.nonEmpty, "need a query and a data dir")
    require(runs >= 1, s"--runs must be at least 1, got $runs")
    planDir.foreach { d =>
      Files.createDirectories(Paths.get(d))
      names.foreach { q =>
        val plan = queries(q)(spark, dirs.head).queryExecution
          .explainString(FormattedMode)
        Files.write(Paths.get(d, s"$q.txt"), plan.getBytes("UTF-8"))
      }
    }
    def compiled() = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    for (q <- names; dir <- dirs) yield {
      val before = compiled()
      val timed = (1 to runs).map { _ =>
        spark.sharedState.cacheManager.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true))
        QueryMetrics.measure(spark) {
          val t0 = System.nanoTime()
          queries(q)(spark, dir).count()
          (System.nanoTime() - t0) / 1e9
        }
      }
      val (wall, m) = timed.minBy(_._1)
      Result(q, dir, wall, m, compiled() - before)
    }
  }

  def main(args: Array[String]): Unit = {
    val usage = "usage: Probe <q1,q2,...> <sfDir>[,<sfDir>...] [--runs N] [--plan <dir>]"
    def list(s: String) = s.split(',').map(_.trim).filter(_.nonEmpty).toSeq
    def flag(name: String) = args.indexOf(name) match {
      case -1 => None
      case i => Some(args.lift(i + 1).getOrElse(sys.error(s"$name needs a value; $usage")))
    }
    if (args.length < 2) sys.error(usage)
    val runs = flag("--runs").map(_.toInt).getOrElse(3)
    val planDir = flag("--plan")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.core.GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try probe(spark, list(args(0)), list(args(1)), runs, planDir)
      .foreach(r => println(r.json))
    finally spark.stop()
  }
}
