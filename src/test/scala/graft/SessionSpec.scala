package graft

import graft.api.StreamContext
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** One session recipe: the library's `localSession`, the harness mains'
  * session and the test suites' session all carry
  * [[StreamContext.sessionConf]], and no other code builds a session. */
class SessionSpec extends SparkSpec {
  private val recipe = StreamContext.sessionConf(4)

  test("localSession, the harness session and SparkSpec agree on every recipe key") {
    assert(Harness.conf(Map.empty, 4) == recipe)
    assert(Harness.master(Map.empty, 4) == "local[4]")
    val local = StreamContext.localSession(4)
    for ((k, v) <- recipe; s <- Seq(local, spark)) {
      val got = s.conf.getOption(k).orElse(s.sparkContext.getConf.getOption(k))
      assert(got.contains(v), s"$k: expected $v, got $got")
    }
  }

  test("harness env overrides land on top of the recipe") {
    val env = Map("SPARK_GRAFT_CPUS" -> "8", "GRAFT_MASTER" -> "local-cluster[2,4,2048]",
      "GRAFT_JARS" -> "a.jar", "GRAFT_STATE_STORE" -> "rocksdb",
      "GRAFT_CONF" -> "spark.sql.adaptive.enabled=false")
    assert(Harness.master(env, 4) == "local-cluster[2,4,2048]")
    // later pairs win in the builder, so GRAFT_CONF overrides the recipe
    val conf = Harness.conf(env, 4)
    assert(conf.toMap == StreamContext.sessionConf(8).toMap ++ Map(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.jars" -> "a.jar",
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))
    assert(conf.last == ("spark.sql.adaptive.enabled" -> "false"))
  }

  /** Names of the Scala files under `roots` whose source contains `needle`. */
  private def filesWith(needle: String, roots: String*): Seq[String] =
    roots.flatMap { root =>
      val files = Files.walk(Paths.get(root))
      try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally files.close()
    }.filter((p: Path) => new String(Files.readAllBytes(p), "ISO-8859-1").contains(needle))
      .map(_.getFileName.toString).sorted

  test("no hand-rolled session builders outside the recipe") {
    // ExtensionsSpec needs a fresh builder for withExtensions
    assert(filesWith("SparkSession" + ".builder", "src/main", "src/test") ==
      Seq("ExtensionsSpec.scala", "StreamContext.scala"))
  }

  test("no parquet read outside the one reader") {
    // Parquet.read's fallback is the one place Spark infers a schema
    assert(filesWith(".read" + ".parquet(", "src/main") == Seq("Parquet.scala"))
  }
}
