package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Engine functions reach a session one way: the function table in
  * `plans/GraftExtensions.scala`. Nothing else in `src/main` touches the
  * function registry or registers a function per call. The
  * `VideoFrameDecoder.register` plugin SPI is not a function registration
  * and is exempt. */
class SingleFunctionPathSpec extends AnyFunSuite {

  private val table = Paths.get("src/main/scala/graft/plans/GraftExtensions.scala")
  private val forbidden =
    """createOrReplaceTempFunction|functionRegistry|udf\.register|\bregister\(""".r

  test("src/main registers functions only in the GraftExtensions table") {
    val files = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p != table).toSeq
    assert(files.size > 50, "src/main not found from the working directory")
    val hits = files.flatMap { p: Path =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if forbidden.findFirstIn(line).isDefined &&
            !line.contains("VideoFrameDecoder") => s"$p:${i + 1}: ${line.trim}"
      }
    }
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }
}
