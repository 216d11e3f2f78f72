package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Every entry point builds its session through `graft.Sessions`: a second
  * hand-built session drifts from the first (extensions, timestamp type,
  * core count) and its tool then measures different plans from Bench.
  */
class SessionsSpec extends AnyFunSuite {
  test("only graft/Sessions.scala builds a SparkSession") {
    val builder = "SparkSession\\.builder".r
    val sites = Seq("src/main/scala", "src/test/scala").flatMap { root =>
      val dir = Paths.get(root)
      assert(Files.isDirectory(dir), s"$root not found from ${Paths.get("").toAbsolutePath}")
      val files = Files.walk(dir)
      try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      finally files.close()
    }.filter(p => builder.findFirstIn(Files.readString(p)).isDefined)
    assert(sites.map(_.toString) == Seq("src/main/scala/graft/Sessions.scala"))
  }
}
