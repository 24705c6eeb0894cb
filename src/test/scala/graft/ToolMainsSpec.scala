package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Gate scripts, the run.sh launcher docs, the plan audit and the verify
  * skill launch mains by class name (`tools/run.sh graft.tools.TimeQ ...`).
  * Every `graft.X` / `graft.tools.X` name they mention must resolve to a
  * compiled class, and every `graft.tools.X` must have a `main`, so
  * deleting a main a script still calls fails here, not mid-gate. */
class ToolMainsSpec extends AnyFunSuite {

  private val root = Paths.get(sys.props("user.dir"))
  private val Name = """\bgraft(\.tools)?\.[A-Z]\w*""".r

  private def sources: Seq[Path] = {
    val tools = scala.util.Using.resource(Files.list(root.resolve("tools")))(
      _.iterator().asScala.toSeq)
      .filter(p => p.toString.endsWith(".py") || p.toString.endsWith(".sh"))
      .sorted
    tools ++ Seq("README.md", "docs/PLANS.md", ".claude/skills/verify/SKILL.md")
      .map(root.resolve)
  }

  test("every main named by tools/, README, docs/PLANS.md and the verify skill exists") {
    val refs = sources.flatMap { f =>
      assert(Files.isRegularFile(f), s"missing scanned file $f")
      Name.findAllIn(Files.readString(f)).map(n => (root.relativize(f), n)).toSeq
    }.distinct
    assert(refs.nonEmpty, "scan found no main names")
    val broken = refs.filterNot { case (_, n) =>
      try {
        val c = Class.forName(n, false, getClass.getClassLoader)
        if (n.startsWith("graft.tools.")) c.getMethod("main", classOf[Array[String]])
        true
      } catch {
        case _: ClassNotFoundException | _: NoSuchMethodException => false
      }
    }
    if (broken.nonEmpty)
      fail(broken.map { case (f, n) => s"$f: $n" }.mkString("unresolved mains: ", ", ", ""))
  }
}
