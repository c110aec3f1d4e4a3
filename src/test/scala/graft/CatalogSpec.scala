package graft

import graft.Catalog.cell
import graft.Tag._

import java.util.concurrent.Executors
import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}

/** The catalog is one list of cells; these pin what the list must hold so
  * the maps and tag sets derived from it stay sound. */
class CatalogSpec extends SparkSpec {
  private val catalog = Queries.catalog
  private def tagged(t: Tag): Set[String] = catalog.filter(_.is(t)).map(_.name).toSet

  test("a duplicate cell name fails the catalog build") {
    val q = cell("q_dup", Queries.q1_agg, "SELECT 1")
    val e = intercept[IllegalArgumentException](Catalog(Seq(q, q.copy(oracleSql = "SELECT 2"))))
    assert(e.getMessage.contains("q_dup"))
  }

  test("252 cells; all, oracle and the driver contract carry the same names") {
    val names = catalog.map(_.name).toSet
    assert(catalog.size == 252)
    assert(Queries.all.keySet == names && Queries.oracle.keySet == names)
    assert(SparkEntry.queries.keySet == names && SparkEntry.oracleSql.keySet == names)
    assert(catalog.forall(_.oracleSql.trim.nonEmpty))
  }

  test("Verify records the oracle SQL of the selected cells only") {
    assert(Verify.oracleFor(Set("q1_agg", "q_tpch5")) ==
      Map("q1_agg" -> Queries.oracle("q1_agg"), "q_tpch5" -> Queries.oracle("q_tpch5")))
    assert(Verify.oracleFor(_ => true) == SparkEntry.oracleSql)
  }

  test("portable-bench cells are hashed cells, portable headlines are bench-portable") {
    assert(tagged(Hashed).size == 26)
    assert(tagged(BenchPortable).subsetOf(tagged(Hashed)), tagged(BenchPortable) -- tagged(Hashed))
    assert(tagged(HeadlinePortable).subsetOf(tagged(BenchPortable)))
    assert(Bench.stdoutKeys.size == 36)
  }

  test("no control is cache-backed, persisting or streaming; Soak runs production keys") {
    // the Tag.Control selection rules: a /tmp-cache rebuild or a
    // persist-sensitive config change inside a control's timed window
    // would read as host drift
    val bad = catalog.filter(c => c.is(Control) &&
      (c.is(TmpCache) || c.is(Persists) || c.streaming))
    assert(bad.isEmpty, bad.map(_.name))
    assert(tagged(Control).size == 7)
    // Bench's `_portable` keys never name a cell, so the Soak sweep (cells
    // at portable = false) cannot pick up a portable variant
    assert(!catalog.exists(_.name.endsWith("_portable")))
    assert(tagged(Soak).nonEmpty)
  }

  test("portable and production plans differ when built on two threads") {
    val dir = "/root/testdata/sf0.001"
    // expression ids and object hash codes differ per build; strip them
    def plan(name: String, portable: Boolean): String =
      Queries.catalog.find(_.name == name).get.run(spark, dir, portable)
        .queryExecution.analyzed.toString
        .replaceAll("#\\d+L?", "").replaceAll("@[0-9a-f]+", "")
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Seq("q_distinct_kmv", "q_dedup_minhash").foreach { name =>
      val built = Future.sequence(Seq(true, false).map(p => Future(plan(name, p))))
      val Seq(portable, production) = Await.result(built, Duration(5, "min"))
      assert(portable != production, name)
      assert(plan(name, portable = false) == production, s"$name plan is not deterministic")
    } finally {
      pool.shutdown()
      spark.catalog.clearCache()
    }
  }
}
