package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Lint: the JDK's `javax.imageio` readers are the one PNG, BMP, GIF and
  * JPEG decoder, so no main source inflates, bit-reads or LZW-decodes
  * image data by hand, and none reads an image through
  * `ImageIO.read(...)`, which caches the payload to a temp file
  * (`MediaCodec` reads through a `MemoryCacheImageInputStream`). */
class OneImageDecoderSpec extends AnyFunSuite {
  private val Markers =
    Seq("java.util.zip.Inflater", "BitReader", "lzwDecode", "ImageIO.read(")

  test("no main source carries a hand-written image decoder or a temp-file ImageIO read") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"missing source root $root")
    val walk = Files.walk(root)
    val files: Seq[Path] =
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    val found = for {
      f <- files
      code = OrphanDefinitionSpec.stripComments(Files.readString(f))
      m <- Markers if code.contains(m)
    } yield s"$f: $m"
    assert(found.isEmpty,
      s"hand-written image decoding in the main sources: ${found.sorted.mkString(", ")}")
  }
}
