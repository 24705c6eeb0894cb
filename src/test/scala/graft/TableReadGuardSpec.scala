package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Every single-path parquet read in main goes through [[ParquetMeta]],
  * which takes the schema from the footer on the driver. A bare
  * `spark.read.parquet(path)` runs a Spark job just to infer the schema,
  * once per table named per query; this spec fails when one comes back.
  * Multi-path reads (`paths: _*`) are exempt: the helper takes one path. */
class TableReadGuardSpec extends AnyFunSuite {

  private val main = Paths.get(sys.props("user.dir"), "src", "main", "scala")
  private val Read = """\.read\s*\.\s*(?:parquet|format\(\s*"parquet"\s*\)\s*\.\s*load)\(""".r
  // ParquetMeta's own fall-through for a missing or empty path
  private val Allowed = Set(("Q.scala", "path"))

  /** (file, line, argument) of every parquet read in `src`. */
  private def reads(f: Path): Seq[(String, Int, String)] = {
    val src = Files.readString(f)
    Read.findAllMatchIn(src).map { m =>
      var depth = 1
      var i = m.end
      while (depth > 0) {
        src(i) match { case '(' => depth += 1; case ')' => depth -= 1; case _ => }
        i += 1
      }
      (f.getFileName.toString, src.take(m.start).count(_ == '\n') + 1, src.substring(m.end, i - 1).trim)
    }.toSeq
  }

  test("src/main/scala reads single parquet paths only through ParquetMeta") {
    val files = scala.util.Using.resource(Files.walk(main))(_.iterator().asScala.toSeq)
      .filter(_.toString.endsWith(".scala"))
    val all = files.flatMap(reads)
    assert(all.exists { case (f, _, a) => Allowed((f, a)) }, "scan did not find ParquetMeta's own read")
    val bare = all.filterNot { case (f, _, a) => Allowed((f, a)) || a.endsWith(": _*") }
    if (bare.nonEmpty)
      fail(bare.map { case (f, l, a) => s"$f:$l read.parquet($a)" }
        .mkString("route these through graft.ParquetMeta: ", ", ", ""))
  }
}
