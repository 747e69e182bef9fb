package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame

/** Spans and counts of the traced run, kept in memory and written out when
  * the run ends. A span is opened around each call into an engine layer;
  * spans of one op share its op id, and `parent` is the enclosing span (-1
  * at the op's top level). With tracing off every method is a pass-through,
  * so the untraced runs execute exactly the calls a user would make. */
final class Tracer(val on: Boolean) {
  final case class Span(id: Int, parent: Int, op: Int, name: String,
      startNs: Long, endNs: Long)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val counts = mutable.ArrayBuffer.empty[(Int, String, Double)]
  private var stack: List[Int] = Nil
  private var nextId = 0
  /** Op id the next spans belong to; -1 outside traced ops. */
  var op: Int = -1

  def active: Boolean = on && op >= 0

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, op, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** Runs a step's lazy output inside its span in the traced run, so the
    * span holds the step's execution rather than only its plan building. */
  def step(name: String)(df: => DataFrame): DataFrame =
    if (!active) df else span(name)(mat(df))

  def mat(df: DataFrame): DataFrame = if (active) df.localCheckpoint() else df

  def count(name: String, value: Double): Unit =
    if (active) counts += ((op, name, value))

  def json: String = {
    val sb = new StringBuilder
    spans.foreach { s =>
      sb ++= s"""{"kind":"span","id":${s.id},"parent":${s.parent},"op":${s.op},""" +
        s""""name":${Json.str(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs}}""" + "\n"
    }
    counts.foreach { case (o, n, v) =>
      sb ++= s"""{"kind":"count","op":$o,"name":${Json.str(n)},"value":${Json.num(v)}}""" + "\n"
    }
    sb.result()
  }
}

/** Spark job/task totals per op, attributed through the `perfbench.op`
  * local property each op's jobs carry, so listener-bus lag cannot move a
  * task into the wrong op. Read it after `spark.stop()`, which drains the
  * bus. */
final class OpListener extends SparkListener {
  final class Totals {
    var jobs, tasks, inputBytes, shuffleBytes, spillBytes, outputBytes = 0L
  }
  val perOp = new java.util.concurrent.ConcurrentHashMap[Int, Totals]()
  private val stageOp = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  private def opOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty(OpListener.Key))).map(_.toInt)

  private def totals(op: Int) = perOp.computeIfAbsent(op, _ => new Totals)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    opOf(e.properties).foreach { op =>
      totals(op).synchronized { totals(op).jobs += 1 }
      e.stageIds.foreach(s => stageOp.put(s, op))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    opOf(e.properties).foreach(op => stageOp.put(e.stageInfo.stageId, op))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageOp.get(e.stageId)).foreach { op =>
      val t = totals(op)
      val m = e.taskMetrics
      t.synchronized {
        t.tasks += 1
        if (m != null) {
          t.inputBytes += m.inputMetrics.bytesRead
          t.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          t.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
          t.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }
}

object OpListener { val Key = "perfbench.op" }

/** Cumulative JVM counters read around each op (all in seconds). */
object Jvm {
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val jit = ManagementFactory.getCompilationMXBean
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def gcS: Double = gcs.map(_.getCollectionTime).filter(_ >= 0).sum / 1e3
  def jitS: Double = jit.getTotalCompilationTime / 1e3
  def cpuS: Double = os.getProcessCpuTime / 1e9

  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  /** CPU seconds of the live Java threads: the driver, the executor task
    * threads and Spark's own. HotSpot hides its JIT compiler threads from
    * this bean and GC threads are not Java threads, so neither counts; nor
    * does time the host steals from the guest. */
  def threadsCpuS: Double =
    threads.getThreadCpuTime(threads.getAllThreadIds).filter(_ > 0).sum / 1e9
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
}
