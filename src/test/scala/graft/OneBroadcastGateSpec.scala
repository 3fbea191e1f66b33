package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Lint: `Tables.Gate` is the only code that probes a join side's size for
  * a broadcast decision and the only code that chooses between
  * `broadcast(df)` and a `df.hint(…)` on it, so the rule against the
  * broadcast OOM cliff lives in one place. Outside `Tables.scala`, a
  * `.limit(` size probe (a `limit(cap + 1)`, or a limit that is counted) or
  * an `if`/`else` that picks between `broadcast(…)` and `.hint(…)` fails
  * here. Comments and string text are ignored. */
class OneBroadcastGateSpec extends AnyFunSuite {
  import OneBroadcastGateSpec._

  test("Tables is the only main source that probes a size or picks broadcast vs a hint") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"missing source root $root")
    val walk = Files.walk(root)
    val files =
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    val found = files.map(f => f.toString -> gateCode(Files.readString(f)))
      .filter(_._2.nonEmpty).toMap
    assert(found.keySet === Set("src/main/scala/graft/Tables.scala"),
      "broadcast gate code outside Tables (use Tables.Gate):\n" +
        (found - "src/main/scala/graft/Tables.scala").toSeq.sortBy(_._1)
          .map { case (f, hits) => s"$f: ${hits.mkString(" | ")}" }.mkString("\n"))
  }

  test("the lint sees a probe and a conditional, and passes a top-k limit and a pinned hint") {
    val inline = "private def side(ev: DataFrame): DataFrame =\n" +
      "  if (ev.limit((Cap + 1).toInt).count() <= Cap)\n" +
      "    broadcast(ev)\n" +
      "  else ev.hint(\"shuffle_hash\")\n"
    assert(gateCode(inline).size === 2)
    assert(gateCode("val n = df.limit(cap).count()").size === 1)
    assert(gateCode("x.join(if (ok) broadcast(d) else d.hint(\"shuffle_hash\"), k)").size === 1)
    assert(gateCode("if (big) d.hint(\"shuffle_hash\")\nelse functions.broadcast(d)").size === 1)
    assert(gateCode("t.orderBy(col(\"n\").desc).limit(20)\n" +
      "  .join(a.hint(\"shuffle_hash\"), k)\n  .crossJoin(broadcast(n)) // if x else y").isEmpty)
  }
}

object OneBroadcastGateSpec {
  /** `limit(` with a `+ 1` later on its line, or a limit whose result is
    * counted. */
  private val SizeProbe =
    """\.limit\([^\n]*?\+\s*1\b|\.limit\((?:[^()\n]|\([^()\n]*\))*\)\s*\.count\(\)""".r
  /** `broadcast(x) else y.hint(` or `x.hint(…) else broadcast(`. */
  private val Conditional =
    """broadcast\((?:[^()]|\([^()]*\))*\)\s*else\s[^\n]*\.hint\(|\.hint\((?:[^()]|\([^()]*\))*\)\s*else\s+[\w.]*broadcast\(""".r

  /** The size probes and broadcast-or-hint conditionals in `src`, comments
    * and string text stripped. */
  def gateCode(src: String): Seq[String] = {
    val code = OrphanDefinitionSpec.stripComments(src)
    (SizeProbe.findAllIn(code) ++ Conditional.findAllIn(code))
      .map(_.replaceAll("\\s+", " ")).toSeq
  }
}
