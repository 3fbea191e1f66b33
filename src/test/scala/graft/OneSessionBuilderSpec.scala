package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Lint: `Graft.session` is the only place a SparkSession is built and the
  * only place its shuffle-partition count is set, so the conf the tests
  * run on is the one that is verified, benched and shipped. A second
  * builder anywhere in the main or test sources, or a main source other
  * than `Graft.scala` that sets `spark.sql.shuffle.partitions`, fails here. */
class OneSessionBuilderSpec extends AnyFunSuite {
  import OneSessionBuilderSpec._

  private def scalaFiles(roots: String*): Seq[Path] = roots.map(Paths.get(_)).flatMap { root =>
    assert(Files.isDirectory(root), s"missing source root $root")
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  test("Graft.session is the only SparkSession builder in the sources") {
    val hits = scalaFiles("src/main/scala", "src/test/scala")
      .filter(f => Builder.findFirstIn(Files.readString(f)).nonEmpty)
      .map(_.toString).sorted
    assert(hits === Seq("src/main/scala/graft/Graft.scala"))
  }

  test("Graft.scala is the only main source that sets the shuffle partitions") {
    val hits = scalaFiles("src/main/scala")
      .filter(f => setsShufflePartitions(Files.readString(f)))
      .map(_.toString).sorted
    assert(hits === Seq("src/main/scala/graft/Graft.scala"))
  }

  test("the partition lint sees a set by key, by constant and by -D, and passes a read") {
    assert(setsShufflePartitions(".config(\"spark.sql.shuffle.partitions\", \"8\")"))
    assert(setsShufflePartitions("spark.conf.set(\n  \"spark.sql.shuffle.partitions\", n)"))
    assert(setsShufflePartitions("s.sessionState.conf.setConf(SQLConf.SHUFFLE_PARTITIONS, 3)"))
    assert(setsShufflePartitions("spark.conf.set(ShufflePartitions, n.toLong)"))
    assert(setsShufflePartitions("Seq(\"-Dspark.sql.shuffle.partitions=16\")"))
    assert(!setsShufflePartitions("spark.conf.get(\"spark.sql.shuffle.partitions\").toInt"))
  }
}

object OneSessionBuilderSpec {
  private val Builder = """SparkSession\s*\.\s*builder""".r

  /** A setter call whose key is the shuffle-partition conf (its literal,
    * Spark's `SQLConf` entry or a constant named for it), or a
    * `key=value` form of it. */
  private val PartitionSet =
    ("""\.(?:set|setConf|setIfMissing|config)\s*\(\s*""" +
      """(?:"spark\.sql\.shuffle\.partitions"|SQLConf\.SHUFFLE_PARTITIONS\b|\w*[Ss]huffle_?[Pp]artitions\b)""" +
      """|spark\.sql\.shuffle\.partitions=""").r

  def setsShufflePartitions(src: String): Boolean = PartitionSet.findFirstIn(src).nonEmpty
}
