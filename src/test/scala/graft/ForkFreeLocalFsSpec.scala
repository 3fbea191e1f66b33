package graft

import java.io.{FileNotFoundException, RandomAccessFile}
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileContext, FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.model.OrderedUpdateEvent
import graft.streaming.InventoryStream

/** Differential spec: the fork-free raw filesystem against Hadoop's stock
  * `RawLocalFileSystem` (the oracle) on the two calls it overrides, the
  * checksum sidecars the checkpoint path keeps writing, and the processes a
  * streaming commit starts. */
class ForkFreeLocalFsSpec extends AnyFunSuite {

  private def initialized(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(new URI("file:///"), new Configuration())
    fs
  }
  private lazy val stock = initialized(new RawLocalFileSystem)
  private lazy val forkFree = initialized(new ForkFreeRawLocalFileSystem)

  private def tmpDir(): JPath = Files.createTempDirectory("graft-forkfree")
  private def hpath(p: JPath): Path = new Path(p.toUri)

  private def octal(mode: String) = new FsPermission(Integer.parseInt(mode, 8).toShort)

  private def same(a: FileStatus, b: FileStatus): Unit = {
    assert(b.getPath === a.getPath)
    assert(b.isDirectory === a.isDirectory)
    assert(b.isSymlink === a.isSymlink)
    if (a.isSymlink) assert(b.getSymlink === a.getSymlink)
    assert(b.getLen === a.getLen)
    assert(b.getModificationTime === a.getModificationTime)
    assert(b.getPermission === a.getPermission)
  }

  test("getFileLinkStatus equals stock RawLocalFileSystem on a file, a " +
      "directory, a missing path, a symlink and a dangling symlink") {
    val dir = tmpDir()
    val file = Files.write(dir.resolve("data"), "0123456789".getBytes(UTF_8))
    val sub = Files.createDirectory(dir.resolve("sub"))
    val missing = dir.resolve("missing")
    val link = Files.createSymbolicLink(dir.resolve("link"), file)
    val dangling = Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
    // the status, or the class of what was thrown
    def outcome(fs: RawLocalFileSystem, p: JPath): Either[Class[_], FileStatus] =
      try Right(fs.getFileLinkStatus(hpath(p))) catch { case e: java.io.IOException => Left(e.getClass) }
    for (p <- Seq(file, sub, missing, link, dangling)) withClue(p.getFileName) {
      (outcome(stock, p), outcome(forkFree, p)) match {
        case (Right(a), Right(b)) => same(a, b)
        case (a, b)               => assert(b === a)
      }
    }
    assert(outcome(forkFree, missing) === Left(classOf[FileNotFoundException]))
  }

  test("setPermission leaves the same mode as stock chmod, the sticky bit " +
      "included") {
    // NIO has no sticky bit: FsPermission(01777) prints as rwxrwxrwt, which
    // PosixFilePermissions rejects, so that mode must take the stock path
    intercept[IllegalArgumentException](
      PosixFilePermissions.fromString(octal("1777").toString))
    val dir = tmpDir()
    for (mode <- Seq("600", "644", "700", "755", "1777")) withClue(mode) {
      val perm = octal(mode)
      val a = hpath(Files.createDirectory(dir.resolve(s"stock$mode")))
      val b = hpath(Files.createDirectory(dir.resolve(s"forkfree$mode")))
      stock.setPermission(a, perm)
      forkFree.setPermission(b, perm)
      assert(stock.getFileStatus(a).getPermission === perm)
      assert(stock.getFileStatus(b).getPermission === perm)
    }
  }

  test("checkpoint files keep Hadoop's .crc sidecars, byte for byte, and a " +
      "flipped byte fails a checksummed read with ChecksumException") {
    val spark = SharedSpark.spark
    val payload = Array.tabulate[Byte](4096)(i => (i % 251).toByte)
    def write(conf: Configuration): JPath = {
      val dir = tmpDir()
      val fm = CheckpointFileManager.create(hpath(dir), conf)
      assert(fm.isInstanceOf[FileContextBasedCheckpointFileManager])
      val out = fm.createAtomic(hpath(dir.resolve("0")), overwriteIfPossible = false)
      out.write(payload)
      out.close()
      dir
    }
    val conf = spark.sessionState.newHadoopConf()
    val stockConf = new Configuration(conf)
    stockConf.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    val (dir, stockDir) = (write(conf), write(stockConf))
    for (name <- Seq("0", ".0.crc")) withClue(name) {
      assert(Files.readAllBytes(dir.resolve(name)).sameElements(Files.readAllBytes(stockDir.resolve(name))))
    }

    val raf = new RandomAccessFile(dir.resolve("0").toFile, "rw")
    try { raf.seek(100); raf.write(payload(100) ^ 0xff) } finally raf.close()
    // Both checksummed readers fail. The checkpoint manager's own open is
    // FileContext.open(path) without a buffer size, which Hadoop's FilterFs
    // sends straight to the raw filesystem, unchecked, under stock LocalFs
    // as here.
    val file = hpath(dir.resolve("0"))
    val readers: Seq[() => org.apache.hadoop.fs.FSDataInputStream] = Seq(
      () => file.getFileSystem(conf).open(file),
      () => FileContext.getFileContext(file.toUri, conf).open(file, 4096))
    for (open <- readers) {
      val in = open()
      try intercept[ChecksumException](in.readAllBytes()) finally in.close()
    }
  }

  /** Commands of the processes the JVM started while `body` ran (JFR's
    * `jdk.ProcessStart` event). */
  private def processesStarted(body: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val out = Files.createTempFile("graft-forks", ".jfr")
    try {
      rec.dump(out)
      jdk.jfr.consumer.RecordingFile.readAllEvents(out).asScala.toSeq.map(_.getString("command"))
    } finally { rec.close(); Files.delete(out) }
  }

  test("fold micro-batches on the shipped session start no chmod or " +
      "readlink process") {
    val spark = SharedSpark.spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    // the probe sees a process the JVM starts
    assert(processesStarted(new ProcessBuilder("true").start().waitFor()) === Seq("true"))

    def events(batch: Int) = (1 to 100).map(i =>
      OrderedUpdateEvent(s"p${i % 10}", batch * 1000L + i, "INC", 1))
    val input = MemoryStream[OrderedUpdateEvent]
    val q = InventoryStream.foldStream(input.toDS()).writeStream
      .outputMode(OutputMode.Update)
      .option("checkpointLocation", tmpDir().toString)
      .format("noop").start()
    try {
      input.addData(events(0)); q.processAllAvailable() // state stores opened
      val started = processesStarted {
        for (b <- 1 to 3) { input.addData(events(b)); q.processAllAvailable() }
      }
      // Hadoop's stock local filesystem forks ~100 chmod/readlink per batch
      // here; what remains is Spark's own `rm -rf` of RocksDB's local
      // working directories (JavaUtils.deleteRecursively)
      assert(started.filterNot(_.startsWith("rm -rf ")) === Nil)
    } finally q.stop()
  }
}
