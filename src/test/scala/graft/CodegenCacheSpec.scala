package graft

import org.apache.spark.sql.catalyst.expressions.{Add, BoundReference, Literal, UnsafeProjection}
import org.apache.spark.sql.types.LongType

/** The session recipe sizes Spark's JVM-wide codegen cache above a job's
  * working set ([[graft.api.StreamContext.sessionConf]]): a class the JVM
  * compiled once is served from the cache the next time, even after more
  * than Spark's default 100 other classes were compiled in between. */
class CodegenCacheSpec extends SparkSpec {
  test("a second run of 150 distinct projections compiles no class") {
    spark // the recipe session sizes the cache before its first use
    // `id + c` for 150 distinct constants: each constant is inlined into
    // the generated source, so each projection is a class of its own; the
    // offset keeps them apart from what other suites compile in this JVM
    def runAll(): Long = Layers.measure(spark)((1 to 150).foreach(i =>
      UnsafeProjection.create(Seq(Add(BoundReference(0, LongType, nullable = false),
        Literal(1000000L + i))))))._2.codegenCompiles
    val first = runAll()
    assert(first >= 150, s"first run compiled only $first classes")
    assert(runAll() == 0)
  }
}
