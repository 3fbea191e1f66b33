package graft

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingOps

/** CRASH-AND-REPLAY for the ingest bodies, the [[FoldCheckpointRestartSpec]]
  * contract applied to the stores in the lake: a batch that crashed after
  * any of its writes and is replayed with the same batch id must leave
  * every output and store as an uninterrupted run leaves them. A crash
  * between two writes leaves some subset of the batch's writes on disk, so
  * each body is replayed from every such subset. */
class IngestReplaySpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  /** The batch that crashes: batches 0 until K are committed before it. */
  private val K = 2

  /** `root` and everything under it, or nothing if it does not exist. */
  private def tree(root: Path): Seq[Path] = if (!Files.exists(root)) Nil else {
    val walk = Files.walk(root)
    try walk.iterator.asScala.toList finally walk.close()
  }

  private def copyTree(from: Path, to: Path): Unit = tree(from).foreach { f =>
    val target = to.resolve(from.relativize(f).toString)
    if (Files.isDirectory(f)) Files.createDirectories(target)
    else Files.copy(f, target, StandardCopyOption.REPLACE_EXISTING)
  }

  /** The rows under each of `paths` in `dir`, rendered and sorted; a path
    * with no parquet file in it reads as no rows. */
  private def contents(dir: Path, paths: Seq[String]): Map[String, Seq[String]] =
    paths.map { p =>
      val path = dir.resolve(p)
      p -> (if (!tree(path).exists(_.toString.endsWith(".parquet"))) Seq.empty
        else spark.read.parquet(path.toString).collect().map(_.toString).sorted.toSeq)
    }.toMap

  test("every ingest body replayed after a crash at any write boundary ends " +
      "with the outputs and stores of an uninterrupted run") {
    val failures = IngestBodies(spark).flatMap { body =>
      val root = Files.createTempDirectory(s"graft-replay-${body.name}")
      val (run, before) = (root.resolve("run"), root.resolve("before"))
      (0 until K).foreach(body.run(run.toString, _))
      copyTree(run, before)
      body.run(run.toString, K)
      val expected = contents(run, body.paths)
      assert(expected !== contents(before, body.paths), s"${body.name}: batch $K wrote nothing")
      body.paths.toSet.subsets().toSeq.flatMap { written =>
        val crashed = Files.createTempDirectory(root, "crashed")
        body.paths.foreach(p =>
          copyTree((if (written(p)) run else before).resolve(p), crashed.resolve(p)))
        body.run(crashed.toString, K)
        val got = contents(crashed, body.paths)
        val wrong = body.paths.filter(p => got(p) != expected(p))
        if (wrong.isEmpty) None
        else Some(s"${body.name} replayed after writing {${written.toSeq.sorted.mkString(", ")}}: " +
          wrong.map(p => s"$p has ${got(p).size} rows, expected ${expected(p).size}").mkString("; "))
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("a store that holds a batch newer than the one being folded is refused") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-replay-newer").toString
    val batch = IngestBodies.textRows(0).toDF("doc_id", "text")
    StreamingOps.ingestBatchSpans(batch, s"$base/spans", s"$base/out", 1L)
    val e = intercept[IllegalStateException](
      StreamingOps.ingestBatchSpans(batch, s"$base/spans", s"$base/out", 0L))
    assert(e.getMessage.contains("newer than batch 0"), e.getMessage)
  }

  test("an ingest loop killed inside a batch and resumed from its checkpoint " +
      "ends with the outputs and stores of an uninterrupted run") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val paths = Seq("spans", "out")
    def loop(crashAt: Option[Long]): Map[String, Seq[String]] = {
      val base = Files.createTempDirectory("graft-replay-loop")
      val input = MemoryStream[(Long, String)]
      var crashed = false
      def start() = StreamingOps.ingestLoop(input.toDF().toDF("doc_id", "text"),
          base.resolve("ckpt").toString) { (b, id) =>
        StreamingOps.ingestBatchSpans(b, base.resolve("spans").toString,
          base.resolve("out").toString, id)
        // the crash lands after the batch's writes, before its commit
        if (crashAt.contains(id) && !crashed) { crashed = true; sys.error(s"crash in batch $id") }
      }
      var q = start()
      try (0 to K).foreach { i =>
        input.addData(IngestBodies.textRows(i))
        try q.processAllAvailable()
        catch {
          case _: StreamingQueryException =>
            q.stop()
            // the stream manager keeps this crash as its last termination;
            // clear it so no later wait on any query in this JVM rethrows it
            spark.streams.resetTerminated()
            q = start() // a new query on the same checkpoint replays the batch
            q.processAllAvailable()
        }
      } finally q.stop()
      assert(crashed === crashAt.nonEmpty)
      contents(base, paths)
    }
    val uninterrupted = loop(None)
    assert(uninterrupted("out").size === 3 * (K + 1), "one audit row per doc")
    assert(loop(Some(1L)) === uninterrupted)
  }
}
