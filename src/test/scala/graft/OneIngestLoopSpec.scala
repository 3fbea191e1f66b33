package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Lint: `StreamingOps.ingestLoop` is the one `foreachBatch` shell, so every
  * store-folding stream shares one checkpoint and trigger contract and a
  * new keep rule is a batch body, not another loop. */
class OneIngestLoopSpec extends AnyFunSuite {
  private val ForeachBatch = """\.foreachBatch\b""".r

  test("StreamingOps.ingestLoop is the only foreachBatch shell in the main sources") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"missing source root $root")
    val walk = Files.walk(root)
    val files: Seq[Path] =
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    val counts = files
      .map(f => f.toString -> ForeachBatch.findAllMatchIn(Files.readString(f)).size)
      .filter(_._2 > 0).toMap
    val loop = "src/main/scala/graft/streaming/StreamingOps.scala"
    assert(counts.get(loop) === Some(1), s"foreachBatch per file: $counts")
    assert((counts.keySet - loop).isEmpty,
      s"foreachBatch outside StreamingOps.ingestLoop: $counts")
  }
}
