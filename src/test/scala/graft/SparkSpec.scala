package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, one session). */
object TestSession {
  lazy val spark: SparkSession =
    graft.core.GraftSession.builder("local[4]", 4).getOrCreate()
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  def sf001 = "/root/testdata/sf0.001"

  /** Finalized (post-AQE) physical plan string of `df` — collect() first
    * so AdaptiveSparkPlan prints the final plan, not the initial one. */
  def finalPlanOf(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  /** Number of Spark jobs `body` starts on this thread, counted through a
    * job group and the status tracker. The tracker's store takes job
    * events in order, so once a sentinel job submitted after `body` shows
    * in it, every job of `body` shows too. */
  def jobsRunBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"counted-${java.util.UUID.randomUUID}"
    sc.setJobGroup(group, "jobsRunBy")
    try body finally sc.clearJobGroup()
    sc.setJobGroup(group + "-sentinel", "jobsRunBy sentinel")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (sc.statusTracker.getJobIdsForGroup(group + "-sentinel").isEmpty) {
      assert(System.nanoTime() < deadline, "the sentinel job never showed")
      Thread.sleep(10)
    }
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  /** Run `body` with the given SQL confs set, restoring previous values
    * (or unsetting) afterwards — the shared session outlives each suite. */
  def withSQLConf[A](pairs: (String, String)*)(body: => A): A = {
    val prev = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
