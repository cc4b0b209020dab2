package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

class GraftSessionSpec extends AnyFunSuite {

  test("inputBytes sizes a file:// URI the same as the plain path") {
    val dir = "/root/testdata/sf0.001"
    val plain = GraftSession.inputBytes(dir)
    assert(plain > 0)
    assert(GraftSession.inputBytes(s"file://$dir") == plain)
  }

  test("GraftSession is the only place a SparkSession is built") {
    // split so this file does not match itself
    val needle = "SparkSession" + ".builder"
    def scalaFiles(root: String): Seq[Path] = {
      val s = Files.walk(Paths.get(root))
      try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    val files = scalaFiles("src/main") ++ scalaFiles("src/test")
    assert(files.exists(_.endsWith("graft/GraftSession.scala")))
    val offenders = files.filter(p =>
      !p.endsWith("graft/GraftSession.scala") &&
        Files.readString(p).contains(needle))
    assert(offenders.isEmpty,
      s"sessions must come from graft.GraftSession: ${offenders.mkString(", ")}")
  }
}
