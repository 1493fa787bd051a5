package graft

import java.io.File
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every main that the living docs and the code comments tell a reader to
  * run must exist, and every "SCALE.md round-N appendix" a comment cites
  * must be an appendix SCALE.md has. No Spark session: this only reads
  * files and resolves class names.
  */
class DocCitationsSpec extends AnyFunSuite {

  private val root: Path = Iterator
    .iterate(new File(".").getCanonicalFile)(_.getParentFile)
    .takeWhile(_ != null)
    .find(d => new File(d, "build.sbt").isFile && new File(d, "src/main").isDirectory)
    .getOrElse(fail("repo root (build.sbt + src/main) not found above the working dir"))
    .toPath

  private val docs = Seq("README.md", "SCALE.md", ".claude/skills/verify/SKILL.md")
    .map(root.resolve)

  private val sources: Seq[Path] = {
    val s = Files.walk(root.resolve("src/main"))
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toVector
    finally s.close()
  }

  private def lines(p: Path): Seq[(String, String)] =
    Files.readAllLines(p).asScala.zipWithIndex.map { case (l, i) =>
      (s"${root.relativize(p)}:${i + 1}", l)
    }.toSeq

  // a `git show <rev>:<path>` names a file at a past commit, so a main
  // deleted since is cited correctly there
  private val GitShow   = """git show \S+:\S+""".r
  private val ToolRef   = """graft\.tools\.([A-Z]\w*)""".r
  private val RunMain   = """runMain (graft(?:\.\w+)+)""".r
  private val ToolsPath = """\btools/([A-Z]\w*)""".r
  private val Appendix  = """SCALE\.md round-(\d+) appendix""".r

  private def resolves(cls: String): Boolean =
    try { Class.forName(cls, false, getClass.getClassLoader); true }
    catch { case _: ClassNotFoundException => false }

  test("every cited main resolves to a class") {
    val cited = (docs ++ sources).flatMap(lines).flatMap { case (at, raw) =>
      val l = GitShow.replaceAllIn(raw, "")
      ToolRef.findAllMatchIn(l).map(m => at -> s"graft.tools.${m.group(1)}") ++
        RunMain.findAllMatchIn(l).map(m => at -> m.group(1)) ++
        ToolsPath.findAllMatchIn(l).map(m => at -> s"graft.tools.${m.group(1)}")
    }
    assert(cited.nonEmpty, "no citation found: the patterns or the file set are wrong")
    val missing = cited.filterNot { case (_, cls) => resolves(cls) }
    assert(missing.isEmpty,
      missing.map { case (at, cls) => s"$at cites $cls" }.mkString("\n", "\n", ""))
  }

  test("every SCALE.md round-N appendix cited in src/main exists") {
    val headings = lines(root.resolve("SCALE.md")).map(_._2).filter(_.startsWith("## Appendix"))
    def has(round: String): Boolean =
      headings.exists(h => s"""\\bround[- ]$round\\b""".r.findFirstIn(h).nonEmpty)
    val dangling = sources.flatMap(lines).flatMap { case (at, l) =>
      Appendix.findAllMatchIn(l).map(_.group(1)).filterNot(has).map(n => s"$at cites round $n")
    }
    assert(dangling.isEmpty, dangling.mkString("\n", "\n", ""))
  }
}
