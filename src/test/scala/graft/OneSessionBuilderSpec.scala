package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Lint: `Graft.session` is the only place a SparkSession is built, so the
  * conf the tests run on is the one that is verified, benched and shipped.
  * A second builder anywhere in the main or test sources fails here. */
class OneSessionBuilderSpec extends AnyFunSuite {
  private val Builder = """SparkSession\s*\.\s*builder""".r

  test("Graft.session is the only SparkSession builder in the sources") {
    val roots = Seq("src/main/scala", "src/test/scala").map(Paths.get(_))
    roots.foreach(r => assert(Files.isDirectory(r), s"missing source root $r"))
    def scalaFiles(root: Path): Seq[Path] = {
      val walk = Files.walk(root)
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    val hits = roots.flatMap(scalaFiles)
      .filter(f => Builder.findFirstIn(Files.readString(f)).nonEmpty)
      .map(_.toString).sorted
    assert(hits === Seq("src/main/scala/graft/Graft.scala"))
  }
}
