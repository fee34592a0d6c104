package graft

import java.nio.file.{Files, Paths}

/** Regenerates OPERATORS.md from the live registry — the queries, their
  * source objects, oracle status, and bench membership. Run with
  * `sbt "runMain graft.CatalogDump"` after adding operators.
  */
object CatalogDump {
  def main(args: Array[String]): Unit = {
    val groups   = SparkEntry.groups
    val total    = groups.map(_._2.size).sum
    val nOracle  = groups.flatMap(_._2).count(_.oracle.isDefined)
    val sb       = new StringBuilder
    sb.append("# OPERATORS — registry catalog (generated by graft.CatalogDump)\n\n")
    sb.append(s"$total registered queries; $nOracle with a DuckDB value oracle")
    if (nOracle == total)
      sb.append(" — every registered query is oracle-checked.\n\n")
    else
      sb.append(s" (the other ${total - nOracle} use weaker rows-only / " +
        "error-bound checks by design).\n\n")
    sb.append("Correctness provenance: the authoritative scorecard is the driver's ")
    sb.append("per-round CORRECTNESS_r{N}.json (DuckDB oracle at sf0.01); ")
    sb.append("tools/check.py reproduces that comparison locally (raw-dtype sort, ")
    sb.append("dtype-strict) and is what \"locally green\" means below. Latest ")
    sb.append(s"driver scorecard: ${latestScorecard()} (committed at the repo root).\n")
    groups.foreach { case (title, qs) =>
      sb.append(s"\n## $title (${qs.size})\n\n")
      sb.append("| query | oracle | bench |\n|---|---|---|\n")
      qs.foreach { q =>
        sb.append(s"| `${q.name}` | ${if (q.oracle.isDefined) "✓" else "rows-only"} | ")
        sb.append(s"${if (q.bench) "✓" else ""} |\n")
      }
    }
    sb.append("\nNon-query surfaces (see README coverage map): the mailbox ")
    sb.append("DSv2 source (batch + micro-batch streaming), LateMaterialization, ")
    sb.append("AsofJoin custom operator, Skew.saltedJoin, TopKAggregator, ")
    sb.append("GraftExtensions (functions + optimizer rule + strategy), ")
    sb.append("CuratePipeline.\n")
    Files.writeString(Paths.get("OPERATORS.md"), sb.toString)
    println(s"wrote OPERATORS.md ($total queries)")
  }

  /** Summarizes the NEWEST committed CORRECTNESS_r{N}.json at
    * generation time (hash-green count / total), so the provenance
    * line can never lag a round behind — it cites whatever scorecard
    * is actually at the repo root when the catalog regenerates. A
    * crude-but-sufficient JSON scan: each per-query object is exactly
    * the driver's six fixed keys, so counting `"hash_match": true`
    * against top-level entries needs no JSON library.
    */
  private def latestScorecard(): String = {
    val rounds = Option(new java.io.File(".").listFiles()).getOrElse(Array())
      .flatMap { f =>
        val m = "CORRECTNESS_r(\\d+)\\.json".r.findFirstMatchIn(f.getName)
        m.map(_.group(1).toInt -> f)
      }.sortBy(_._1)
    rounds.lastOption match {
      case None => "none found"
      case Some((n, f)) =>
        val txt    = Files.readString(f.toPath)
        val total  = "\"rows_match\"".r.findAllIn(txt).length
        val green  = "\"hash_match\": *true".r.findAllIn(txt).length
        f"r$n%02d = $green/$total hash-green (${f.getName})"
    }
  }
}
