package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Index table names live in one module, the family registry
  * (`graft/ext/IndexFamily.scala`): these checks read the main sources
  * and the registry rows, and start no Spark session.
  */
class IndexNamingSpec extends AnyFunSuite {

  private val registry = Paths.get("src/main/scala/graft/ext/IndexFamily.scala")

  private def mainSources: Seq[Path] = {
    val walk = Files.walk(Paths.get("src/main/scala"))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    finally walk.close()
  }

  test("no main source but the family registry spells an index DROP") {
    val drop = """DROP TABLE IF EXISTS graft_cat\.db\.(dedup|ann|search)_""".r
    val sources = mainSources
    assert(sources.contains(registry), s"registry not found: $registry")
    val offenders = sources.filterNot(_ == registry).flatMap { p =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if drop.findFirstIn(line).nonEmpty => s"$p:${i + 1}"
      }
    }
    assert(offenders.isEmpty, "index tables dropped by hand-spelled name " +
      s"(use IndexFamily.drop): ${offenders.mkString(", ")}")
  }

  test("within a prefix, suffixed families precede the unsuffixed fallback") {
    graft.ext.IndexFamily.All.groupBy(_.prefix).foreach { case (p, rows) =>
      assert(rows.dropWhile(_.suffix.nonEmpty).forall(_.suffix.isEmpty) &&
        rows.count(_.suffix.isEmpty) <= 1, s"$p rows out of order: $rows")
    }
  }
}
