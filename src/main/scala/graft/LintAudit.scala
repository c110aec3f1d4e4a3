package graft

/** Catalog-wide scale-lint audit (diagnostic main): runs
  * [[graft.plans.PlanLint]] over every catalog query and prints each
  * finding — the per-round evidence that every cartesian/global-window in
  * the catalog is an INTENTIONAL report-sized epilogue, not a scale trap.
  *
  * The audited allow-list (re-derived by running this main; the spec pins
  * representatives):
  *  - broadcast scalar epilogues (crossJoin of a ≤1-row/tiny literal frame):
  *    q_distinct_hll, q_join_estimate, q_quantile_hist, q_quantile_group,
  *    q_retention, q_skew_profile
  *  - sketch-sized whole-frame windows (≤k/≤bins rows): q_distinct_kmv,
  *    q_kmv_persist, q_drift, q_stream_drift, q_quantile_hist,
  *    q_vocab_encode (V-row ranking)
  *  - deliberate replication: q_join_salted (salt-range × right side)
  *  - inherently sequential reference semantic: q_fold_scan (global
  *    running fold — the reference's own operator contract)
  */
object LintAudit {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session(defaultCores = 4)
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val fs = graft.plans.PlanLint.check(fn(spark, dir))
        if (fs.nonEmpty)
          println(s"LINT $name: ${fs.map(_.kind).distinct.mkString(",")}")
        spark.catalog.clearCache()
      } catch { case e: Throwable =>
        println(s"LINT $name: ERR ${String.valueOf(e.getMessage).take(60)}")
      }
    }
    println("SWEEP_DONE")
    spark.stop()
  }
}
