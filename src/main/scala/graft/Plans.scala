package graft

import java.nio.file.{Files, Paths}

/** Dumps the formatted physical plan of every catalog query → PLANS.md —
  * the per-round evidence that filters push to the scans, dims broadcast,
  * and the hot paths stay inside whole-stage codegen. */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1).getOrElse("PLANS.md")
    val spark = Harness.session(defaultCores = 4)

    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of the query catalog\n\n")
    sb.append(s"Generated against `$sfDir` (driver-loop queries show their per-round shape via the first round).\n")
    // iteration queries execute driver loops on .explain-triggered analysis;
    // skip the loops themselves and document the building blocks instead
    // the streaming twins execute a full streaming query on construction
    // and would only show the memory-sink scan here; their streaming plans
    // are pinned by StreamingSpec
    val skipIter = Set("q_connected_components", "q_transitive_closure",
      "q_pagerank", "q_kmeans", "q_pagerank_delta", "q_ppr", "q_sssp")
    // every q_stream_* twin executes its full streaming query on
    // construction and would only show the memory-sink scan here
    def skip(name: String): Boolean =
      skipIter(name) || name.startsWith("q_stream_")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (!skip(name)) {
        try {
          val plan = fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          sb.append(s"\n## $name\n\n```\n$plan```\n")
        } catch {
          case e: Throwable => sb.append(s"\n## $name\n\nPLAN ERROR: ${e.getMessage}\n")
        }
      }
    }
    sb.append("\n## iteration queries (driver loops)\n\n")
    sb.append("`q_connected_components` / `q_transitive_closure` / `q_pagerank` / `q_kmeans` are driver-side fixpoints (graft.operators.Iteration); each round is a plan of the same shape as the joins/aggregations above with cached inputs. See Graph.scala / KMeans.scala scaladocs for the per-round shuffle analysis.\n")
    Files.writeString(Paths.get(out), sb.toString)
    println(s"WROTE $out (${sb.length} chars)")
    spark.stop()
  }
}
