package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Citation integrity: every artifact the main sources CITE must exist.
  *
  * Round 11 shipped scaladoc claiming "CusumTwinSpec drives one series
  * through both paths" when no such spec existed, and cited a "PLANS.md
  * round 11" sweep that was never written — documentation⇄artifact
  * drift that cost a round of audit trust. This spec turns that failure
  * mode into a red test:
  *
  *  - every `FooSpec` named anywhere in src/main (scaladoc, comments,
  *    code) must exist as a test source file, and
  *  - every "PLANS.md round N" citation must resolve to a round-N
  *    section header in PLANS.md, and
  *  - every `FooBench`/`FooProbe`/`FooAudit` tool and every
  *    `graft.tools.Foo` named in src/main, src/test (this file aside),
  *    README.md, the verify skill or tools/run_graft.sh must exist as a
  *    main source file (PLANS.md is history and may name deleted
  *    tools), and
  *  - every backticked `graft.<seg>.<key>` conf key cited in src/main,
  *    README.md or the verify skill must be read somewhere in src/main
  *    as a string literal — a doc must not advertise a knob the code
  *    no longer has, and
  *  - every `"graft.<seg>.<key>` string literal in src/test (this file
  *    aside), tools/ or perfbench/src must be read in src/main the same
  *    way — a test or harness that sets a deleted conf silently does
  *    nothing, and
  *  - every src/main file is reached from outside itself: it defines a
  *    `main`, a type it defines is registered under META-INF/services,
  *    or another src/main file names one of its top-level types —
  *    library code that only its own specs call is dead weight.
  *
  * It also keeps the suite hermetic: no test source may name an
  * absolute path outside the checkout and the shared test-data root.
  *
  * Pure filesystem checks — no SparkSession, runs in milliseconds.
  */
class CitationsSpec extends AnyFunSuite {

  private val repoRoot: Path = {
    // sbt runs tests with user.dir = the project base directory
    val cwd = Paths.get(sys.props("user.dir"))
    require(Files.exists(cwd.resolve("build.sbt")),
      s"expected to run from the sbt project root, got $cwd")
    cwd
  }

  private def filesEnding(dir: Path, exts: String*): Seq[Path] = {
    val stream = Files.walk(dir)
    try stream.iterator().asScala
      .filter(p => exts.exists(p.toString.endsWith(_)))
      .toSeq
    finally stream.close() // Files.walk holds directory handles open
  }

  private def scalaFiles(dir: Path): Seq[Path] = filesEnding(dir, ".scala")

  private def sourceNames(dir: String): Set[String] =
    scalaFiles(repoRoot.resolve(dir))
      .map(_.getFileName.toString.stripSuffix(".scala"))
      .toSet

  private lazy val mainTexts: Seq[(Path, String)] =
    scalaFiles(repoRoot.resolve("src/main/scala"))
      .map(p => p -> Files.readString(p))

  private def docTexts(rels: String*): Seq[(Path, String)] =
    rels.map(repoRoot.resolve).filter(Files.exists(_))
      .map(p => p -> Files.readString(p))

  test("every *Spec cited in src/main exists in the test tree") {
    val exist = sourceNames("src/test/scala")
    // names ending in Spec that are Spark/JDK API, not our tests —
    // grows only if main code legitimately uses such a type
    val apiAllowlist = Set("WindowSpec")
    val citePattern = """\b[A-Z][A-Za-z0-9]*Spec\b""".r
    val missing = for {
      (path, text) <- mainTexts
      name <- citePattern.findAllIn(text).toSeq.distinct
      if !exist.contains(name) && !apiAllowlist.contains(name)
    } yield s"$path cites $name"
    assert(missing.isEmpty,
      s"\nphantom spec citations (write the spec or fix the name):\n  " +
        missing.mkString("\n  "))
  }

  test("every 'PLANS.md round N' citation resolves to a PLANS.md record") {
    val plans = Files.readString(repoRoot.resolve("PLANS.md"))
    // section headers look like "## Round-12 (cont.): ..." or
    // "## Round-11 (backfilled in round 12): ..."
    val recordedRounds: Set[Int] =
      """(?m)^##\s*Round.?(\d+)""".r
        .findAllMatchIn(plans).map(_.group(1).toInt).toSet
    val citePattern = """PLANS\.md round (\d+)""".r
    val unresolved = for {
      (path, text) <- mainTexts
      m <- citePattern.findAllMatchIn(text)
      n = m.group(1).toInt
      if !recordedRounds.contains(n)
    } yield s"$path cites PLANS.md round $n (recorded rounds: ${recordedRounds.toSeq.sorted.mkString(",")})"
    assert(unresolved.isEmpty,
      s"\nphantom PLANS.md citations (write the record before citing it):\n  " +
        unresolved.mkString("\n  "))
  }

  test("every *Bench / *Probe tool cited in src/main and the docs exists") {
    val exist = sourceNames("src/main/scala")
    // this file's own scaladoc names the FooBench / graft.tools.Foo shapes
    val tests = scalaFiles(repoRoot.resolve("src/test/scala"))
      .filterNot(_.getFileName.toString == "CitationsSpec.scala")
      .map(p => p -> Files.readString(p))
    val docs = docTexts("README.md", ".claude/skills/verify/SKILL.md",
      "tools/run_graft.sh")
    val citePattern =
      """\b([A-Z]\w*(?:Bench|Probe|Audit))\b|\bgraft\.tools\.(\w+)""".r
    val missing = for {
      (path, text) <- mainTexts ++ tests ++ docs
      name <- citePattern.findAllMatchIn(text)
        .map(m => Option(m.group(1)).getOrElse(m.group(2))).toSeq.distinct
      if !exist.contains(name)
    } yield s"$path cites $name"
    assert(missing.isEmpty,
      s"\nphantom tool citations (restore the tool or fix the text):\n  " +
        missing.mkString("\n  "))
  }

  /** `graft.<seg>.<key>` keys after `prefix` in `texts` that no src/main
    * string literal reads. `graft.tools.Profile`,
    * `graft.functions.Portable.h60`: classes in a package, not conf
    * keys — the tool test above covers those. */
  private def unreadKeys(texts: Seq[(Path, String)],
      prefix: String): Seq[String] = {
    val packages: Set[String] = {
      val stream = Files.list(repoRoot.resolve("src/main/scala/graft"))
      try stream.iterator().asScala.filter(Files.isDirectory(_))
        .map(_.getFileName.toString).toSet
      finally stream.close()
    }
    val code = mainTexts.map(_._2).mkString("\n")
    val keyPattern = (prefix + """graft\.(\w+)\.([\w.]*\w)""").r
    (for {
      (path, text) <- texts
      m <- keyPattern.findAllMatchIn(text).toSeq
      if !packages.contains(m.group(1))
      key = s"graft.${m.group(1)}.${m.group(2)}"
      if !code.contains("\"" + key + "\"")
    } yield s"$path names $key").distinct
  }

  test("every graft.* conf key cited in src/main and the docs is read " +
      "in src/main") {
    val dead = unreadKeys(mainTexts ++
      docTexts("README.md", ".claude/skills/verify/SKILL.md"), "`")
    assert(dead.isEmpty,
      s"\ndead conf keys (read the key in src/main or fix the text):\n  " +
        dead.mkString("\n  "))
  }

  test("every graft.* conf key a test, tool or harness sets is read " +
      "in src/main") {
    // perfbench/src is the benchmark harness: scanned, never edited here
    val texts = (scalaFiles(repoRoot.resolve("src/test/scala"))
      .filterNot(_.getFileName.toString == "CitationsSpec.scala") ++
      filesEnding(repoRoot.resolve("tools"), ".sh", ".py", ".scala") ++
      scalaFiles(repoRoot.resolve("perfbench/src")))
      .map(p => p -> Files.readString(p))
    assert(texts.exists(_._2.contains("\"graft.")),
      "the scan found no graft.* literal at all")
    val dead = unreadKeys(texts, "[\"']")
    assert(dead.isEmpty,
      "\nconf keys set outside src/main that nothing reads (delete the " +
        "setting or read the key):\n  " + dead.mkString("\n  "))
  }

  /** `text` with its comments blanked and its string and character
    * literals kept, so a name that only a comment mentions does not
    * count as a use. */
  private def code(text: String): String =
    """"{3}[\s\S]*?"{3}|"(?:\\.|[^"\\\n])*"|'(?:\\.|[^'\\])'|/\*[\s\S]*?\*/|//[^\n]*""".r
      .replaceAllIn(text, m =>
        if (m.matched.startsWith("/")) " "
        else scala.util.matching.Regex.quoteReplacement(m.matched))

  test("every src/main file has a caller in src/main, a main or a service " +
      "registration") {
    // files whose only callers are specs, each with the reason it stays
    val allowlist = Map(
      "Streams.scala" -> ("the Structured Streaming twins of batch " +
        "queries; StreamsSpec and the twin specs drive them"))
    val services = filesEnding(
      repoRoot.resolve("src/main/resources/META-INF/services"), "")
      .filter(Files.isRegularFile(_))
      .flatMap(p => Files.readAllLines(p).asScala)
      .map(_.takeWhile(_ != '#').trim).filter(_.nonEmpty).toSet
    val codes = mainTexts.map { case (p, t) => p -> code(t) }
    val topLevel = ("""(?m)^(?:(?:private|protected|final|sealed|abstract|""" +
      """case|implicit)(?:\[\w+\])?\s+)*(?:class|object|trait)\s+(\w+)""").r
    val unreached = for {
      (path, text) <- codes
      if """\bdef\s+main\b""".r.findFirstIn(text).isEmpty
      pkg = """(?m)^package\s+([\w.]+)""".r.findAllMatchIn(text)
        .map(_.group(1)).mkString(".")
      names = topLevel.findAllMatchIn(text).map(_.group(1)).toSet
      if !names.exists(n => services.contains(s"$pkg.$n"))
      if !names.exists { n =>
        val use = s"\\b$n\\b".r
        codes.exists { case (q, t) => q != path && use.findFirstIn(t).isDefined }
      }
      if !allowlist.contains(path.getFileName.toString)
    } yield s"$path (${names.toSeq.sorted.mkString(", ")})"
    assert(unreached.isEmpty,
      "\nsrc/main files nothing in src/main reaches (delete the surface " +
        "with its specs, or allowlist it with the reason it stays):\n  " +
        unreached.mkString("\n  "))
    val stale = allowlist.keySet -- mainTexts.map(_._1.getFileName.toString)
    assert(stale.isEmpty, s"allowlisted files that no longer exist: $stale")
  }

  test("no test source names an absolute path outside the repo and test data") {
    // the shared fixture root (SparkSpec.Sf's parent) is the one place
    // outside the checkout the suite may read; fixtures of its own live
    // under src/test/resources
    val allowed = Seq(
      Paths.get(SparkSpec.Sf).getParent.toString, repoRoot.toString)
    val absLiteral = """"(/[A-Za-z][^"\s]*)""".r
    val offenders = for {
      path <- scalaFiles(repoRoot.resolve("src/test/scala"))
      m <- absLiteral.findAllMatchIn(Files.readString(path))
      abs = m.group(1)
      if !allowed.exists(r => abs == r || abs.startsWith(r + "/"))
    } yield s"$path names $abs"
    assert(offenders.isEmpty,
      s"\nnon-hermetic test paths (commit a fixture instead):\n  " +
        offenders.mkString("\n  "))
  }
}
