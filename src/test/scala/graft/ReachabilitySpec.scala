package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Regrowth gate for code nothing reaches: every non-private member `def`
  * of an object in the library packages must be named, as a whole word,
  * in program code other than its own `def` — a registered query, the
  * CLI, a tool, a pipeline job or the benchmark. A spec alone does not
  * count as a caller, and neither does a comment or the text of a string
  * literal: scaladoc or SQL that names a function does not keep it alive.
  * `Owner.name` counts as named only in the owner's own file or in a file
  * that names `Owner` (a qualified call or an import; `Owner(…)` calls
  * `apply`), so an uncalled member with a common name (`run`, `reset`)
  * is not kept alive by an unrelated use of the word.
  */
class ReachabilitySpec extends AnyFunSuite {

  private val Packages =
    Seq("ops", "streaming", "util", "pipeline", "sources", "sql", "core")
  // Python cannot call a Scala def, so only .scala files are callers
  private val CallerRoots = Seq("src/main", "tools", "perfbench")

  private val StreamEntry =
    "the Structured Streaming entry point (aim 3) that its spec's " +
      "stream/batch parity and restart tests drive"

  private val ThroughTrait =
    "implements an abstract WordSource member; Main calls it through the " +
      "trait on what WordSource.parse(\"-\") returns"

  /** Members that stay without a program caller, each with its reason. */
  private val allowed = Map(
    "StreamingBuild.runWatermarked" ->
      ("the bounded-state streaming build behind aim 3's crash/restart " +
        "claim; StreamingSpec drives it"),
    "StreamingDrift.compactCounts" ->
      ("the crash-safe staged-swap compaction of the count log (CountLog) " +
        "behind aim 3's restart claim; StreamingDriftSpec drives it"),
    "StreamingQuantiles.compactCounts" ->
      ("the same CountLog staged swap for the histogram log; " +
        "StreamingQuantilesSpec drives it"),
    "Loop.unconvergedCount" ->
      ("test hook for unconverged loop exits until ROADMAP item 2 " +
        "replaces the channel with observed metrics"),
    "Compact.run" ->
      ("file-count compaction of a built hash db into the build's own " +
        "digest-prefix tiled layout over fewer tiles; CompactSpec, " +
        "FooterBloomSpec and ObjectStoreSpec drive it"),
    "StdinSource.name" -> ThroughTrait,
    "StdinSource.words" -> ThroughTrait,
    "StdinSource.contentHash" -> ThroughTrait,
    "StreamingCurate.run" -> StreamEntry,
    "StreamingDedup.run" -> StreamEntry,
    "StreamingDrift.run" -> StreamEntry,
    "StreamingQuantiles.run" -> StreamEntry)

  private def read(p: Path) =
    new String(Files.readAllBytes(p), StandardCharsets.UTF_8)

  private def scalaFiles(root: Path): Seq[Path] =
    if (!Files.isDirectory(root)) Seq.empty
    else Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        !p.iterator().asScala.exists(_.toString == "target"))
      .toSeq

  /** `src` with `//` and (nested) `/* */` comments and the text of
    * string literals blanked, newlines kept: a word in a SQL string is not
    * a call. What an interpolated string splices in (`$name`, `${expr}`)
    * stays code.
    */
  private def codeOnly(src: String): String = {
    val out = new StringBuilder(src.length)
    val n = src.length
    var i = 0
    def at(s: String) = src.startsWith(s, i)
    def blank(c: Char) = out.append(if (c == '\n') '\n' else ' ')
    def isId(c: Char) = c.isLetterOrDigit || c == '_'
    // from just after an opening quote to just after the closing one
    def literal(close: String, interpolated: Boolean): Unit = {
      while (i < n && !at(close) && !(close == "\"" && src(i) == '\n')) {
        if (close == "\"" && src(i) == '\\') { blank(src(i)); i += 1 }
        if (interpolated && at("$$")) { out ++= "  "; i += 2 }
        else if (interpolated && at("${")) {
          out.append(' '); i += 1
          var depth = 0
          do {
            if (src(i) == '{') depth += 1 else if (src(i) == '}') depth -= 1
            out.append(src(i)); i += 1
          } while (i < n && depth > 0)
        } else if (interpolated && src(i) == '$' && i + 1 < n &&
            isId(src(i + 1))) {
          out.append(' '); i += 1
          while (i < n && isId(src(i))) { out.append(src(i)); i += 1 }
        } else if (i < n) { blank(src(i)); i += 1 }
      }
      i = math.min(i + close.length, n)
      out.append(' ')
    }
    while (i < n) {
      val interpolated = i > 0 && isId(src(i - 1))
      if (at("\"\"\"")) {
        i += 3; literal("\"\"\"", interpolated)
      } else if (src(i) == '"') {
        i += 1; literal("\"", interpolated)
      } else if (src(i) == '\'' && i + 2 < n && src(i + 2) == '\'') {
        out ++= src.substring(i, i + 3); i += 3 // 'x', including '"'
      } else if (src(i) == '\'' && i + 3 < n && src(i + 1) == '\\' &&
          src(i + 3) == '\'') {
        out ++= src.substring(i, i + 4); i += 4 // '\x'
      } else if (at("//")) {
        while (i < n && src(i) != '\n') i += 1
      } else if (at("/*")) {
        var depth = 0
        while (i < n && (depth > 0 || at("/*"))) {
          if (at("/*")) { depth += 1; i += 2 }
          else if (at("*/")) { depth -= 1; i += 2 }
          else { if (src(i) == '\n') out.append('\n'); i += 1 }
        }
      } else {
        out.append(src(i)); i += 1
      }
    }
    out.toString
  }

  private val Word = """(def\s+)?([A-Za-z_][\w$]*)""".r
  private val ObjectLine = """^(?:case )?object (\w+)\b.*""".r
  private val MemberDef = """^  ((?:[\w\[\]@]+\s+)*)def\s+([A-Za-z_][\w$]*).*""".r

  /** (object, def) for each non-private, non-override member `def` of a
    * top-level object (the repo's two-space member indentation).
    */
  private def memberDefs(code: String): Seq[(String, String)] = {
    var obj: Option[String] = None
    code.split("\n").toSeq.flatMap {
      case ObjectLine(name) => obj = Some(name); None
      case l if l.nonEmpty && !l.head.isWhitespace => obj = None; None
      case MemberDef(mods, name)
          if obj.isDefined &&
            !Seq("private", "protected", "override").exists(mods.contains) =>
        obj.map(_ -> name)
      case _ => None
    }
  }

  test("every public object member in the library packages has a caller " +
    "in program code") {
    val main = Paths.get("src/main/scala/graft")
    assume(Files.isDirectory(main), "source tree present")
    // per caller file: its code, and every whole word in it that is not
    // itself a `def name`
    val callers = CallerRoots.flatMap(r => scalaFiles(Paths.get(r)))
      .map { p =>
        val code = codeOnly(read(p))
        code -> Word.findAllMatchIn(code)
          .collect { case m if m.group(1) == null => m.group(2) }.toSet
      }
    val defs = Packages.flatMap(p => scalaFiles(main.resolve(p)))
      .flatMap(p => memberDefs(codeOnly(read(p))))
      .distinct
    assert(defs.size > 200, s"scan found only ${defs.size} member defs")
    // a caller must name the owner too (the owner's own file does, in its
    // `object` line); `Owner(…)` calls `apply`
    def calls(code: String, words: Set[String], o: String, d: String) =
      words(o) && (words(d) ||
        d == "apply" && s"\\b$o\\s*\\(".r.findFirstIn(code).isDefined)
    val unreached = defs.collect {
      case (o, d) if !callers.exists { case (c, w) => calls(c, w, o, d) } =>
        s"$o.$d"
    }.toSet
    val stale = allowed.keySet -- unreached
    assert(stale.isEmpty, "allowlisted but now called (drop the entry): " +
      stale.toSeq.sorted.map(k => s"$k — ${allowed(k)}").mkString("; "))
    val missing = (unreached -- allowed.keySet).toSeq.sorted
    if (missing.nonEmpty)
      fail("no caller under src/main, tools or perfbench (delete it with " +
        "its spec, or allowlist it with a reason):\n" + missing.mkString("\n"))
  }
}
