package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Lint: `StreamingOps.ingestLoop` is the one `foreachBatch` shell, so every
  * store-folding stream shares one checkpoint and trigger contract and a
  * new keep rule is a batch body, not another loop; and
  * `StreamingOps.overwriteBatch` is the one write of those bodies, so every
  * output and store keeps the batch-partitioned commit protocol. */
class OneIngestLoopSpec extends AnyFunSuite {
  private val ForeachBatch = """\.foreachBatch\b""".r
  private val Loop = "src/main/scala/graft/streaming/StreamingOps.scala"

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
    assert(counts.get(Loop) === Some(1), s"foreachBatch per file: $counts")
    assert((counts.keySet - Loop).isEmpty,
      s"foreachBatch outside StreamingOps.ingestLoop: $counts")
  }

  test("StreamingOps never appends and writes only inside overwriteBatch") {
    val src = OrphanDefinitionSpec.stripComments(Files.readString(Paths.get(Loop)))
    assert(!src.contains("mode(\"append\")") && !src.contains("SaveMode.Append"),
      "an append write in StreamingOps")
    val helper = src.indexOf("def overwriteBatch")
    assert(helper >= 0, "StreamingOps.overwriteBatch is gone")
    // the helper ends where the next member starts at the object's indent
    val helperEnd = """\n  \S""".r.findFirstMatchIn(src.substring(helper))
      .fold(src.length)(helper + _.start)
    val writes = """\.write\b""".r.findAllMatchIn(src).map(_.start).toSeq
    assert(writes.nonEmpty && writes.forall(w => w > helper && w < helperEnd),
      s"a .write outside overwriteBatch at offsets ${writes.filter(w => w < helper || w > helperEnd)}")
  }
}
