package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Catalog drift guard (VERDICT round-9 task #7): CATALOG.md claims to
  * be GENERATED, so a query added without regenerating it would ship a
  * stale catalog silently. This spec re-renders the catalog from the
  * live registry and diffs it against the committed file — red until
  * `sbt "Test/runMain graft.CatalogGen"` is re-run. Every query, its
  * contract sentence and its file are compared; rows carry no line
  * numbers, so moving a query inside its file keeps it green. A second
  * guard keeps spec citations true: every `*Spec` the engine sources
  * or the current-state docs name must be a suite under src/test. No
  * Spark needed. */
class CatalogDriftSpec extends AnyFunSuite {

  test("CATALOG.md matches a fresh regeneration from QueryRegistry") {
    val committed = new String(
      Files.readAllBytes(Paths.get("CATALOG.md")), "UTF-8")
    val fresh = CatalogGen.render()
    if (committed != fresh) {
      val cl = committed.split("\n")
      val fl = fresh.split("\n")
      val diff = cl.zipAll(fl, "<missing>", "<missing>")
        .zipWithIndex.filter { case ((a, b), _) => a != b }.take(5)
        .map { case ((a, b), i) =>
          s"line ${i + 1}:\n  committed: $a\n  fresh:     $b"
        }
      fail("CATALOG.md is stale — run `sbt \"Test/runMain " +
        "graft.CatalogGen\"` and commit the result. First diffs:\n" +
        diff.mkString("\n"))
    }
  }

  private def scalaFiles(root: String): Seq[Path] = {
    val walk = Files.walk(Paths.get(root))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    finally walk.close()
  }

  test("tripwire: every spec cited in src/main and the docs is a suite") {
    // CHANGES.md and ROADMAP.md are history and may name retired suites
    val declared = """(?:class|trait|object)\s+(\w+Spec)\b""".r
    val suites = scalaFiles("src/test/scala").flatMap(p =>
      declared.findAllMatchIn(Files.readString(p)).map(_.group(1))).toSet
    val cited = """\b\w+Spec\b""".r
    val sources = scalaFiles("src/main/scala") ++ Seq("ARCHITECTURE.md",
      "README.md", ".claude/skills/verify/SKILL.md").map(Paths.get(_))
    val dangling = sources.flatMap { p =>
      cited.findAllIn(Files.readString(p)).filterNot(suites).map(_ -> p)
    }.groupBy(_._1).map { case (s, ps) => s -> ps.map(_._2).distinct }
    assert(dangling.isEmpty, "cited specs that are no suite: " +
      dangling.map { case (s, ps) => s"$s (${ps.mkString(", ")})" }
        .mkString("; "))
  }
}
