package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** README.md's Settings table must list exactly the `spark.graft.*` session
  * confs and `*GRAFT_*` environment variables the program reads. A key
  * added in `src/main` without a row, or a row left behind after its key
  * is gone, fails here until the table moves with the code.
  */
class ConfSurfaceSpec extends AnyFunSuite {
  private val Key = """spark\.graft\.[A-Za-z.]*[A-Za-z]|[A-Z_]*GRAFT_[A-Z0-9_]+""".r

  /** Keys appearing as string literals in the program sources. */
  private lazy val readByCode: Set[String] = {
    val literal = ("\"(" + Key.regex + ")\"").r
    val files = Files.walk(Paths.get("src/main"))
    try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      .flatMap(p => literal.findAllMatchIn(read(p)).map(_.group(1))).toSet
    finally files.close()
  }

  /** Keys in the first column of README.md's Settings table. */
  private lazy val documented: Set[String] = {
    val lines = read(Paths.get("README.md")).linesIterator
      .dropWhile(_ != "### Settings").drop(1)
      .takeWhile(l => !l.startsWith("#")).toSeq
    lines.filter(_.startsWith("| `"))
      .flatMap(l => Key.findFirstIn(l.split('|')(1))).toSet
  }

  private def read(p: Path): String =
    new String(Files.readAllBytes(p), StandardCharsets.UTF_8)

  test("the README Settings table exists and lists keys") {
    assert(documented.nonEmpty, "README.md has no `### Settings` table rows")
  }

  test("every key the program reads has a README Settings row") {
    val missing = readByCode -- documented
    assert(missing.isEmpty, s"read in src/main but not in README.md Settings: ${missing.toSeq.sorted}")
  }

  test("every README Settings row names a key the program still reads") {
    val stale = documented -- readByCode
    assert(stale.isEmpty, s"listed in README.md Settings but read nowhere in src/main: ${stale.toSeq.sorted}")
  }
}
