package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import graft.sources.GraftCatalog

/** The `CALL graft_cat.system.*` surface: names, lookup, parameters and
  * the unknown-name error of a catalog opened on a temp warehouse, and
  * the source guard that keeps every procedure a row of the one
  * registry (`graft/sources/Procedures.scala`). Starts no Spark session.
  */
class ProcedureSurfaceSpec extends AnyFunSuite {

  private val registry = Paths.get("src/main/scala/graft/sources/Procedures.scala")

  private val ns = Array("system")

  /** Each procedure's parameters: (name, type, default SQL, comment). */
  private val expected: Seq[(String, Seq[(String, DataType, String, String)])] = {
    val table = ("table", StringType, null, null)
    val name = ("name", StringType, null, null)
    Seq(
      "compact" -> Seq(table, ("target_bytes", LongType, "134217728",
        "segments below this size are merge candidates")),
      "expire_versions" -> Seq(table, ("keep_last", LongType, null, null)),
      "vacuum" -> Seq(table, ("max_age_ms", LongType, "3600000",
        "grace period protecting in-flight writers' staged files")),
      "clone" -> Seq(("source", StringType, null, null),
        ("target", StringType, null, null)),
      "zorder" -> Seq(table, ("col_a", StringType, null, null),
        ("col_b", StringType, null, null), ("num_partitions", LongType, "8",
          "write tasks = output segments (unpartitioned table)")),
      "tag" -> Seq(table, name, ("version", LongType, "-1",
        "snapshot to pin; -1 = current head")),
      "rollback" -> Seq(table, ("version", LongType, null, null)),
      "evolve_spec" -> Seq(table, ("spec", StringType, null,
        "'col' | 'days:col' | 'bucket:n:col' | '' = unpartition")),
      "branch" -> Seq(table, name),
      "fast_forward" -> Seq(table, name),
      "cherry_pick" -> Seq(table, name),
      "drop_branch" -> Seq(table, name),
      "indexes" -> Seq(("namespace", StringType, "'db'", null)),
      "txn_begin" -> Nil,
      "txn_commit" -> Nil,
      "txn_abort" -> Nil,
      "txn_recover" -> Nil)
  }
  private val names = expected.map(_._1)

  private def withCatalog(f: GraftCatalog => Unit): Unit = {
    val warehouse = Files.createTempDirectory("graft_proc_surface")
    try {
      val c = new GraftCatalog
      c.initialize("graft_cat",
        new CaseInsensitiveStringMap(Map("warehouse" -> warehouse.toString).asJava))
      f(c)
    } finally {
      val walk = Files.walk(warehouse)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally walk.close()
    }
  }

  test("listProcedures names the 17 procedures in order") {
    withCatalog { c =>
      val listed = c.listProcedures(ns)
      assert(listed.map(_.name()).toSeq == names)
      assert(listed.forall(_.namespace().toSeq == ns.toSeq))
    }
  }

  test("every procedure loads case-insensitively and binds under its name") {
    withCatalog { c =>
      names.foreach { n =>
        Seq(n, n.toUpperCase).foreach { asked =>
          val p = c.loadProcedure(Identifier.of(ns, asked))
          assert(p.name() == n, asked)
          val bound = p.bind(new StructType())
          assert(bound.name() == n, asked)
          assert(!bound.isDeterministic, asked)
        }
      }
    }
  }

  test("every procedure's parameters keep their names, types, defaults and comments") {
    withCatalog { c =>
      expected.foreach { case (n, params) =>
        val got = c.loadProcedure(Identifier.of(ns, n)).bind(new StructType())
          .parameters().toSeq.map { p =>
            (p.name(), p.dataType(), Option(p.defaultValue()).map(_.getSql).orNull,
              p.comment())
          }
        assert(got == params, n)
      }
    }
  }

  test("an unknown procedure name is refused with every available name") {
    withCatalog { c =>
      val e = intercept[IllegalArgumentException](
        c.loadProcedure(Identifier.of(ns, "Optimize")))
      assert(e.getMessage == "catalog graft_cat has no procedure `optimize` " +
        s"(available: ${names.mkString(", ")})")
    }
  }

  test("no main source but the procedure registry implements a procedure") {
    val walk = Files.walk(Paths.get("src/main/scala"))
    val sources: Seq[Path] =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      finally walk.close()
    assert(sources.contains(registry), s"registry not found: $registry")
    val offenders = sources.filterNot(_ == registry).flatMap { p =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if line.contains("extends UnboundProcedure") ||
            line.contains("new BoundProcedure") => s"$p:${i + 1}"
      }
    }
    assert(offenders.isEmpty, "procedures written outside the registry " +
      s"(add a CatalogProc row): ${offenders.mkString(", ")}")
  }
}
