package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Lint: `sources/ModelStore` is the only code that places a persisted
  * artifact in the warehouse or decides whether one is complete, so every
  * derived table is named, reused, crash-healed and pruned by one policy.
  * Reading the warehouse location or a `_SUCCESS` marker anywhere else in
  * the main sources fails here. */
class OneArtifactStoreSpec extends AnyFunSuite {
  private val Markers = Seq("spark.sql.warehouse.dir", "\"_SUCCESS\"")

  test("ModelStore is the only main source that reads the warehouse or a _SUCCESS marker") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"missing source root $root")
    val walk = Files.walk(root)
    val files =
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    val found = files.filter(f => Markers.exists(Files.readString(f).contains))
      .map(_.toString).sorted
    assert(found === Seq("src/main/scala/graft/sources/ModelStore.scala"))
  }
}
