package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

import java.nio.file.{Files, Path, Paths}

/** Per-query plan evidence for the optimization rounds: dumps each named
  * query's formatted INITIAL plan and, after running it, the EXECUTED
  * plan (with AQE's final shape — AQEShuffleRead coalescing, runtime
  * join strategy changes — which `.explain` alone cannot show) to
  * `<outDir>/<query>_<tag>.txt`.
  *
  *   sbt "runMain graft.PlanDump plans/r17 after q_a,q_b [sfDir]"
  *   sbt "runMain graft.PlanDump . r19 all <sfDir>"
  *
  * The name `all` instead writes `<outDir>/PLANS.md` (see [[explainAll]]).
  * Same session as [[Bench]] ([[Harness]]); GRAFT_CONF overrides apply
  * for capturing "before" plans of a config change.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = args(1)
    val sfDir = args.lift(3).getOrElse("/root/testdata/sf0.1")
    val spark = Harness.session()
    Files.createDirectories(Paths.get(outDir))
    if (args(2) == "all") explainAll(spark, sfDir, Paths.get(outDir, "PLANS.md"))
    else args(2).split(",").map(_.trim).filter(_.nonEmpty).foreach { name =>
      val fn = SparkEntry.queries(name)
      val sb = new StringBuilder
      sb.append(s"# $name ($tag) — sfDir=$sfDir, master=${spark.sparkContext.master}\n\n")
      try {
        val df = fn(spark, sfDir)
        sb.append("## initial plan (explain formatted)\n\n")
        sb.append(df.queryExecution.explainString(FormattedMode))
        df.count()
        sb.append("\n## executed plan (post-run, AQE final)\n\n")
        sb.append(df.queryExecution.executedPlan.toString)
        sb.append("\n")
      } catch {
        case e: Throwable => sb.append(s"\nPLAN ERROR: ${e.getMessage}\n")
      }
      Files.writeString(Paths.get(outDir, s"${name}_$tag.txt"), sb.toString)
      System.err.println(s"[plandump] wrote $outDir/${name}_$tag.txt")
      spark.catalog.clearCache()
    }
    spark.stop()
  }

  /** The formatted physical plan of every catalog cell, explained without
    * running it → `out` — the per-round evidence that filters push to the
    * scans, dims broadcast, and the hot paths stay inside whole-stage
    * codegen. [[Tag.Iterative]] cells run their driver loops on
    * construction, so the building blocks are documented instead; the
    * streaming twins run their full streaming query on construction and
    * would only show a scan of the collected rows (StreamingSpec pins their
    * streaming plans). */
  private def explainAll(spark: SparkSession, sfDir: String, out: Path): Unit = {
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of the query catalog\n\n")
    sb.append(s"Generated against `$sfDir` (driver-loop queries show their per-round shape via the first round).\n")
    Queries.catalog.filterNot(c => c.is(Tag.Iterative) || c.streaming).sortBy(_.name)
      .foreach { c =>
        try {
          val plan = c.run(spark, sfDir, false).queryExecution.explainString(FormattedMode)
          sb.append(s"\n## ${c.name}\n\n```\n$plan```\n")
        } catch {
          case e: Throwable => sb.append(s"\n## ${c.name}\n\nPLAN ERROR: ${e.getMessage}\n")
        }
      }
    sb.append("\n## iteration queries (driver loops)\n\n")
    sb.append("`q_connected_components` / `q_transitive_closure` / `q_pagerank` / `q_kmeans` are driver-side fixpoints (graft.operators.Iteration); each round is a plan of the same shape as the joins/aggregations above with cached inputs. See Graph.scala / KMeans.scala scaladocs for the per-round shuffle analysis.\n")
    Files.writeString(out, sb.toString)
    println(s"WROTE $out (${sb.length} chars)")
  }
}
