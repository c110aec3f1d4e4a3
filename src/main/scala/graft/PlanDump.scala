package graft

import org.apache.spark.sql.execution.FormattedMode

import java.nio.file.{Files, Paths}

/** Per-query plan evidence for the optimization rounds: dumps each named
  * query's formatted INITIAL plan and, after running it, the EXECUTED
  * plan (with AQE's final shape — AQEShuffleRead coalescing, runtime
  * join strategy changes — which `.explain` alone cannot show) to
  * `<outDir>/<query>_<tag>.txt`.
  *
  *   sbt "runMain graft.PlanDump plans/r17 after q_a,q_b [sfDir]"
  *
  * Same session as [[Bench]] ([[Harness]]); GRAFT_CONF overrides apply
  * for capturing "before" plans of a config change.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = args.lift(3).getOrElse("/root/testdata/sf0.1")
    val spark = Harness.session()
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
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
}
