package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Every main, tool and example builds its session through
  * [[Session.local]], so their configs cannot drift apart again. */
class SessionSpec extends AnyFunSuite {

  test("Session.scala is the only SparkSession.builder site in src/main/scala") {
    val root = Paths.get("src/main/scala")
    val walk = Files.walk(root)
    val files =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    val builder = """SparkSession\s*\.\s*builder""".r
    val sites = files
      .filter(f => builder.findFirstIn(Files.readString(f)).isDefined)
      .map(f => root.relativize(f).toString)
    assert(files.size > 100, s"scanned ${files.size} files under $root")
    assert(sites === List("graft/Session.scala"))
  }
}
