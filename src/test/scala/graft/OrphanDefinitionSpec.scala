package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Lint: every public definition in the main sources earns its place. A
  * public top-level `object`, or a public or `private[pkg]`
  * `def`/`val`/`object` member of one, is an ORPHAN when nothing else in
  * the comment-stripped main sources names it: no other occurrence in its
  * own file, and no `Owner.name` (or imported `name`) in another file; for
  * a top-level object, no occurrence of its name in any other file.
  * Orphans must be
  * exactly [[OrphanDefinitionSpec.Allowed]], each with its reason, so a new
  * orphan fails here and so does an entry whose definition gained a caller
  * or went away.
  *
  * A heuristic by name, not a compiler pass: an unrelated definition of
  * the same name in the owner's own file counts as a reference. A name
  * inside a string literal (an error message naming its own method) does
  * not; an interpolated splice does. */
class OrphanDefinitionSpec extends AnyFunSuite {
  import OrphanDefinitionSpec._

  test("the public definitions no main-source code names are exactly the allowlist") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"missing source root $root")
    val walk = Files.walk(root)
    val files: Seq[Path] =
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    val found = orphans(files.map(f => f.toString -> stripComments(Files.readString(f))).toMap)
    val unlisted = found -- Allowed.keySet
    val stale = Allowed.keySet -- found
    assert(unlisted.isEmpty,
      s"new orphan definitions (give them a main-source caller, delete them, " +
        s"or allowlist them with a reason): ${unlisted.toSeq.sorted.mkString(", ")}")
    assert(stale.isEmpty,
      s"allowlisted definitions that are no longer orphans (or no longer " +
        s"exist): ${stale.toSeq.sorted.mkString(", ")}")
  }

  test("the lint covers package-qualified private members, not plain private ones") {
    val src = "object A {\n  private[graft] def spare = 1\n  private def hidden = 2\n" +
      "  private[this] val mine = 3\n  def used = 4\n}\n"
    assert(orphans(Map("A.scala" -> src, "B.scala" -> "object B { A.used }")) ===
      Set("A.spare", "B"))
  }

  test("the comment stripper keeps code and string literals, drops comments") {
    val src = "val a = \"x // y\" // gone\n/* gone /* nested */ gone */ val b = '\"'\n" +
      "val c = \"\"\"q /* r */\"\"\""
    assert(stripComments(src) ===
      "val a = \"\" \n val b = '\"'\nval c = \"\"\"\"\"\"")
    // a literal's text is blanked: a name in an error message is no reference
    assert(stripComments("def compact = sys.error(\"compact: \\\"x\\\" failed\")") ===
      "def compact = sys.error(\"\")")
    // an interpolated literal keeps its splices, and a multi-line one its lines
    assert(stripComments("s\"a ${B.c(d)} $$e $f.g\" + s\"\"\"h\n|${I.j}\"\"\"") ===
      "s\"${B.c(d)}$f\" + s\"\"\"\n${I.j}\"\"\"")
  }
}

object OrphanDefinitionSpec {
  private val EntryPoint = "entry point"
  private val StreamingApi = "streaming library API"

  /** Orphan → why it stays: an entry point (a `main`, `SparkEntry.entry`
    * or the `Graft.run` facade) or the streaming library API (the paper's
    * pipeline and the store-folding stream bodies, driven by specs on
    * MemoryStream). A test oracle (a form a spec checks another against)
    * lives next to its spec, not here. */
  val Allowed: Map[String, String] = Map(
    "Bench.main" -> EntryPoint,
    "Explain" -> EntryPoint,
    "Explain.main" -> EntryPoint,
    "ProbeGen" -> EntryPoint,
    "ProbeGen.main" -> EntryPoint,
    "Verify" -> EntryPoint,
    "Verify.main" -> EntryPoint,
    "SparkEntry.entry" -> EntryPoint,
    "Graft.run" -> EntryPoint,
    "InventoryStream" -> StreamingApi,
    "InventoryStream.kafkaPipeline" -> StreamingApi,
    "InventoryStream.scd2Stream" -> StreamingApi,
    "EventTimeAgg" -> StreamingApi,
    "EventTimeAgg.asEventTimeStream" -> StreamingApi,
    "EventTimeAgg.hourlyByType" -> StreamingApi,
    "StreamingOps" -> StreamingApi,
    "StreamingOps.curationStreamGated" -> StreamingApi,
    "StreamingOps.curationStreamIncremental" -> StreamingApi,
    "StreamingOps.dedupWithinWatermark" -> StreamingApi,
    "StreamingOps.enrichWithStatic" -> StreamingApi,
    "StreamingOps.ingestBatch" -> StreamingApi,
    "StreamingOps.ingestBatchChunkSemantic" -> StreamingApi,
    "StreamingOps.ingestBatchChunks" -> StreamingApi,
    "StreamingOps.ingestBatchDrift" -> StreamingApi,
    "StreamingOps.ingestBatchEmbeddingDrift" -> StreamingApi,
    "StreamingOps.ingestBatchIvfPq" -> StreamingApi,
    "StreamingOps.ingestBatchMedia" -> StreamingApi,
    "StreamingOps.ingestBatchNearDup" -> StreamingApi,
    "StreamingOps.ingestBatchSemantic" -> StreamingApi,
    "StreamingOps.ingestBatchSpans" -> StreamingApi,
    "StreamingOps.ingestBatchUrl" -> StreamingApi,
    "StreamingOps.ingestLoop" -> StreamingApi,
    "StreamingOps.rangeBoundedJoin" -> StreamingApi,
    "StreamingOps.sessionWindows" -> StreamingApi,
    "StreamingOps.urlMergeStream" -> StreamingApi)

  private val TopLevel = """^((?:\w+ )*)(object|class|trait) (\w+)""".r.unanchored
  private val Member =
    """^  ((?:(?:final|lazy|implicit|override|private(?:\[\w+\])?|protected(?:\[\w+\])?) )*)(def|val|object) (\w+)""".r.unanchored

  private val Word = """\w+""".r
  /** `A.b`, also inside a chain `x.A.b`: the lookahead leaves `b` for the
    * next match. */
  private val Selection = """(\w+)\s*\.\s*(?=(\w+))""".r
  private val Import = """import\s+[\w.]*?(\w+)\.(_|\{([^}]*)\}|\w+)""".r

  /** What one source file names: every identifier with its count, every
    * `Owner.name` selection, and every member an import brings into scope
    * (`Owner._` as `Owner -> "_"`). */
  private final case class Names(words: Map[String, Int],
      selections: Set[(String, String)], imports: Set[(String, String)])

  private def names(text: String): Names = Names(
    Word.findAllIn(text).toSeq.groupMapReduce(identity)(_ => 1)(_ + _),
    Selection.findAllMatchIn(text).map(m => m.group(1) -> m.group(2)).toSet,
    Import.findAllMatchIn(text).flatMap { m =>
      val imported = Option(m.group(3)).fold(Seq(m.group(2)))(
        _.split(",").toSeq.map(_.trim.split("\\s")(0)))
      imported.map(m.group(1) -> _)
    }.toSet)

  /** Public definitions, as `Owner.name` (or `Owner` for a top-level
    * object), that nothing else in `sources` (path → comment-stripped
    * text) names. */
  def orphans(sources: Map[String, String]): Set[String] = {
    val named = sources.map { case (path, text) => path -> names(text) }
    sources.toSeq.flatMap { case (path, text) =>
      definitions(text).filterNot { case (owner, name) =>
        named(path).words.getOrElse(name, 0) > 1 ||
        named.exists { case (other, n) =>
          other != path && (owner match {
            case None => n.words.contains(name)
            case Some(o) => n.selections(o -> name) ||
              ((n.imports(o -> "_") || n.imports(o -> name)) && n.words.contains(name))
          })
        }
      }.map { case (owner, name) => owner.fold(name)(o => s"$o.$name") }
    }.toSet
  }

  /** (owner, name) of each public top-level object (owner None) and each
    * public or package-qualified (`private[pkg]`), non-override member
    * declared at the top indentation of a top-level object. Plain
    * `private` and `private[this]` members are out of scope. */
  private def definitions(text: String): Seq[(Option[String], String)] = {
    var owner: Option[(String, String)] = None
    text.split("\n").toSeq.flatMap {
      case TopLevel(mods, kind, name) =>
        owner = Some(kind -> name)
        if (kind == "object" && !mods.contains("private")) Some(None -> name) else None
      case Member(mods, _, name) if owner.exists(_._1 == "object") &&
          !mods.split(" ").exists(m => m == "private" || m == "private[this]" ||
            m.startsWith("protected") || m == "override" || m == "implicit") =>
        Some(owner.map(_._2) -> name)
      case _ => None
    }
  }

  /** `src` without `//` and (nested) `/* */` comments, and with the text of
    * every string literal blanked. An interpolated literal keeps its
    * `${…}` and `$name` splices, which are code. Quotes, char literals and
    * the newlines of block comments and multi-line literals are kept. */
  def stripComments(src: String): String = {
    val out = new StringBuilder
    var i = 0
    val n = src.length
    def at(s: String): Boolean = src.startsWith(s, i)
    def ident(c: Char): Boolean = c.isLetterOrDigit || c == '_'
    // the literal body src[from, to) reduced to its splices and newlines;
    // `open` is where its quotes start (an interpolator precedes them)
    def body(open: Int, from: Int, to: Int): String = {
      val interpolated = open > 0 && ident(src(open - 1))
      val b = new StringBuilder
      var k = from
      while (k < to) {
        val start = k
        if (interpolated && src(k) == '$' && k + 1 < to && src(k + 1) == '{') {
          var depth = 0
          k += 1
          do {
            if (src(k) == '{') depth += 1 else if (src(k) == '}') depth -= 1
            k += 1
          } while (k < to && depth > 0)
          b.append(src.substring(start, k))
        } else if (interpolated && src(k) == '$' && k + 1 < to && src(k + 1) == '$') k += 2
        else if (interpolated && src(k) == '$' && k + 1 < to && ident(src(k + 1))) {
          k += 1
          while (k < to && ident(src(k))) k += 1
          b.append(src.substring(start, k))
        } else {
          if (src(k) == '\n') b.append('\n')
          k += 1
        }
      }
      b.toString
    }
    while (i < n) {
      if (at("\"\"\"")) {
        val close = src.indexOf("\"\"\"", i + 3)
        var j = if (close < 0) n else close + 3
        while (j < n && src(j) == '"') j += 1
        out.append("\"\"\"").append(body(i, i + 3, if (close < 0) n else j - 3)).append("\"\"\"")
        i = j
      } else if (src(i) == '"') {
        var j = i + 1
        while (j < n && src(j) != '"' && src(j) != '\n')
          j += (if (src(j) == '\\') 2 else 1)
        j = math.min(j, n)
        out.append('"').append(body(i, i + 1, j)).append('"')
        i = if (j < n && src(j) == '"') j + 1 else j
      } else if (src(i) == '\'' && i + 2 < n && src(i + 2) == '\'') {
        out.append(src.substring(i, i + 3)); i += 3
      } else if (src(i) == '\'' && i + 3 < n && src(i + 1) == '\\' && src(i + 3) == '\'') {
        out.append(src.substring(i, i + 4)); i += 4
      } else if (at("//")) {
        val j = src.indexOf('\n', i)
        i = if (j < 0) n else j
      } else if (at("/*")) {
        var depth = 1
        i += 2
        while (i < n && depth > 0) {
          if (at("/*")) { depth += 1; i += 2 }
          else if (at("*/")) { depth -= 1; i += 2 }
          else { if (src(i) == '\n') out.append('\n'); i += 1 }
        }
      } else { out.append(src(i)); i += 1 }
    }
    out.toString
  }
}
