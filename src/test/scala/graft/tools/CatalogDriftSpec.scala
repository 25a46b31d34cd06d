package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Catalog drift guard (VERDICT round-9 task #7): CATALOG.md claims to
  * be GENERATED, so a query added without regenerating it would ship a
  * stale catalog silently. This spec re-renders the catalog from the
  * live registry and diffs it against the committed file — red until
  * `sbt "Test/runMain graft.CatalogGen"` is re-run. Every query, its
  * contract sentence and its file are compared; rows carry no line
  * numbers, so moving a query inside its file keeps it green. No Spark
  * needed. */
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
}
