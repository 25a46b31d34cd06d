package graft

import java.nio.file.{Files, Paths}

import graft.queries._

/** Generates CATALOG.md — a one-line-per-query index of the registry
  * (name, family, first sentence of the query's design comment, source
  * file) — straight from QueryRegistry + the query sources, so the
  * catalog can never drift from the code it documents. A row is
  * anchored by its file and query name, not by a line number, so
  * edits that only move a query within its file leave it unchanged.
  *
  * Usage: sbt "Test/runMain graft.CatalogGen"   (no Spark needed)
  */
object CatalogGen {

  private val families: Seq[(String, Seq[Q], String)] = Seq(
    ("Relational", RelationalQueries.all, "RelationalQueries.scala"),
    ("Message", MessageQueries.all, "MessageQueries.scala"),
    ("Dedup", DedupQueries.all, "DedupQueries.scala"),
    ("Similarity/ANN", SimilarityQueries.all, "SimilarityQueries.scala"),
    ("Text analysis", TextQueries.all, "TextQueries.scala"),
    ("Multimodal", MultimodalQueries.all, "MultimodalQueries.scala"),
    ("Streaming", StreamingQueries.all, "StreamingQueries.scala"),
    ("Misc/Sketch", MiscQueries.all, "MiscQueries.scala"),
    ("Pipeline", PipelineQueries.all, "PipelineQueries.scala"),
    ("Analytics/Eval", AnalyticsQueries.all, "AnalyticsQueries.scala"))

  /** First sentence of the // comment block ending just above the line
    * where `"name"` appears in `lines` (the registry convention: every
    * query carries a design comment directly above its Q(...)). */
  private def contract(lines: Array[String], name: String): String = {
    val idx = lines.indexWhere(_.contains("\"" + name + "\""))
    if (idx < 0) return "(no comment found)"
    // walk UP past the Q( line to the comment block
    var i = idx - 1
    while (i >= 0 && !lines(i).trim.startsWith("//")) i -= 1
    val block = scala.collection.mutable.ArrayBuffer.empty[String]
    while (i >= 0 && lines(i).trim.startsWith("//")) {
      block.prepend(lines(i).trim.stripPrefix("//").trim)
      i -= 1
    }
    val text = block.filterNot(_.forall(c => c == '-' || c.isWhitespace))
      .mkString(" ")
    // first sentence, bounded; drop the leading "qNN — " tag
    val body = text.replaceFirst("^[a-z0-9_]+\\s*[—:]\\s*", "")
    val stop = body.indexOf(". ")
    val sent = if (stop >= 0) body.substring(0, stop + 1) else body
    val trimmed =
      if (sent.length <= 160) sent else sent.substring(0, 157) + "..."
    trimmed.replace("|", "\\|")
  }

  /** The full CATALOG.md content — shared by main (writes it) and
    * CatalogDriftSpec (diffs it against the committed file so a new
    * query cannot land without a regen). */
  def render(): String = {
    val qdir = "src/main/scala/graft/queries/"
    val out = new StringBuilder
    out ++= "# Query catalog\n\n"
    out ++= "GENERATED by `sbt \"Test/runMain graft.CatalogGen\"` — do " +
      "not edit by hand.\nOne row per registry query: its driver-gate " +
      "name, the first sentence of its\ndesign comment, and its source " +
      "file (search it for the quoted name). Every row has a Spark " +
      "rendering in\n`SparkEntry.queries`" +
      " and (unless noted `rows-only`) a DuckDB oracle in\n" +
      "`SparkEntry.oracleSql` that the driver hash-compares per round.\n"
    var total = 0
    families.foreach { case (fam, qs, file) =>
      val lines = new String(Files.readAllBytes(Paths.get(qdir + file)),
        "UTF-8").split("\n")
      out ++= s"\n## $fam (${qs.size})\n\n"
      out ++= "| query | contract | file |\n|---|---|---|\n"
      qs.foreach { q =>
        val oracle = if (q.oracle.isEmpty) " *(rows-only)*" else ""
        out ++= s"| `${q.name}`$oracle | ${contract(lines, q.name)} " +
          s"| $file |\n"
        total += 1
      }
    }
    out.insert(out.indexOf("\n\n") + 2,
      s"**${total} queries** across ${families.size} families.\n\n")
    require(total == QueryRegistry.all.size,
      s"catalog $total != registry ${QueryRegistry.all.size}")
    out.toString
  }

  def main(args: Array[String]): Unit = {
    val content = render()
    Files.write(Paths.get("CATALOG.md"), content.getBytes("UTF-8"))
    println(s"[catalog] wrote CATALOG.md with " +
      s"${QueryRegistry.all.size} queries")
  }
}
