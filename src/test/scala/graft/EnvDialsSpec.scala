package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The `SPARK_GRAFT_*` environment dials: every one the main sources
  * read is documented in README's "Environment dials" table, and none
  * is documented that the sources no longer read. */
class EnvDialsSpec extends AnyFunSuite {

  private val dial = "SPARK_GRAFT_[A-Z_0-9]+".r

  private def read(p: Path): String = new String(Files.readAllBytes(p), "UTF-8")

  test("README dial table lists exactly the dials the main sources read") {
    val root = Paths.get(sys.props("user.dir"))
    val walk = Files.walk(root.resolve("src/main/scala"))
    val inSources =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .flatMap(p => dial.findAllIn(read(p))).toSet
      finally walk.close()
    val readme = read(root.resolve("README.md"))
    val table = readme.linesIterator
      .dropWhile(_ != "## Environment dials").drop(1)
      .takeWhile(!_.startsWith("## "))
      .filter(_.startsWith("| `SPARK_GRAFT_"))
      .flatMap(l => dial.findFirstIn(l)).toSet
    assert(inSources.nonEmpty && table.nonEmpty)
    assert(table == inSources,
      s"undocumented: ${inSources -- table}; documented but unread: ${table -- inSources}")
  }

  test("cpus defaults to the host's available processors when SPARK_GRAFT_CPUS is unset") {
    assert(GraftSession.cpusOr(None) == Runtime.getRuntime.availableProcessors.toString)
  }
}
