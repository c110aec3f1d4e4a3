package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.Files

/** Schema-drift pin for `Queries.events()` (round-6 verdict task #2).
  *
  * The driver's `events.parquet` has shipped with two different `ts`
  * encodings across rounds: TIMESTAMP(NANOS) — which the sessions read as
  * epoch-nano BIGINT under `spark.sql.legacy.parquet.nanosAsLong` — and
  * plain `timestamp[us]`. Round 5/6 lost all 20 event-time catalog queries
  * when the data regenerated from the first encoding to the second and
  * `events()` only handled the nanos path. This spec writes BOTH fixture
  * shapes locally (so it needs no `/root/testdata`) and pins that
  * `Queries.events()` yields identical rows on each — if the contract
  * breaks again, this fails in `sbt test` with the fix's location in the
  * name, instead of 20 queries silently vanishing from CORRECTNESS.
  */
class EventsSchemaSpec extends SparkSpec {
  private val rows = Seq(
    // (event_id, epoch_micros, user_id, event_type, value, props)
    (1L, 1700000000000000L, 10L, "click", 1.5, """{"k":1}"""),
    (2L, 1700000001500000L, 11L, "view", 2.5, """{"k":2}"""),
    (3L, 1700000003000123L, 10L, "purchase", 9.9, """{"k":3}""")
  )

  /** fixture A: `ts` as epoch-nano BIGINT — the loaded shape of a
    * TIMESTAMP(NANOS) column under nanosAsLong. */
  private def writeNanosLong(dir: String): Unit = {
    import spark.implicits._
    rows.map { case (id, us, u, t, v, p) => (id, us * 1000L, u, t, v, p) }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(dir)
  }

  /** fixture B: `ts` as a real TimestampType column — Spark writes parquet
    * `timestamp[us]`, the driver's current encoding. */
  private def writeTimestampUs(dir: String): Unit = {
    import spark.implicits._
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_micros(col("ts")))
      .write.mode("overwrite").parquet(dir)
  }

  test("Queries.events() yields identical rows on nanos-as-long and timestamp[us] fixtures") {
    val base = Files.createTempDirectory("graft-events").toString
    val dirA = s"$base/nanos"; val dirB = s"$base/micros"
    new java.io.File(s"$dirA").mkdirs(); new java.io.File(s"$dirB").mkdirs()
    writeNanosLong(s"$dirA/events.parquet")
    writeTimestampUs(s"$dirB/events.parquet")

    val a = Queries.events(spark, dirA)
    val b = Queries.events(spark, dirB)
    // both branches must land on the session TimestampType
    assert(a.schema("ts").dataType == TimestampType, s"nanos branch dtype: ${a.schema("ts").dataType}")
    assert(b.schema("ts").dataType == TimestampType, s"micros branch dtype: ${b.schema("ts").dataType}")

    val fmt = (df: org.apache.spark.sql.DataFrame) => df
      .select(col("event_id"), unix_micros(col("ts")).as("us"), col("user_id"),
        col("event_type"), col("value"), col("props"))
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long].toString)
    assert(fmt(a).toSeq == fmt(b).toSeq)
    // and the values are the exact micros we wrote — no truncation/shift
    assert(fmt(a).map(_(1).asInstanceOf[Long]).toSeq == rows.map(_._2))
  }

  test("orders date logic survives timestamp vs string o_orderdate encodings") {
    // the events-ts lesson applied to the OTHER driver date column the
    // catalog leans on (q_tpch3/5/18, q_compact_latest): every consumer
    // casts o_orderdate to timestamp first, so a regeneration that flips
    // the parquet encoding between timestamp[us]/NTZ and ISO strings must
    // not change a single output row.
    import spark.implicits._
    val orders = Seq(
      (1L, 10L, "O", 100.0, "2024-03-01 00:00:00", "1-URGENT"),
      (2L, 10L, "F", 200.0, "2024-05-02 00:00:00", "2-HIGH"),
      (3L, 11L, "O", 300.0, "2024-05-02 00:00:00", "3-MEDIUM"))
    val base = Files.createTempDirectory("graft-orders").toString
    val dirT = s"$base/ts"; val dirS = s"$base/str"
    orders.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .withColumn("o_orderdate", to_timestamp(col("o_orderdate")))
      .write.mode("overwrite").parquet(s"$dirT/orders.parquet")
    orders.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dirS/orders.parquet")
    val fmt = (dir: String) => Queries.q_compact_latest(spark, dir)
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq
    val t = fmt(dirT); val s2 = fmt(dirS)
    assert(t == s2, s"encodings diverged:\n$t\nvs\n$s2")
    // survivor logic sanity on the fixture: customer 10 keeps order 2
    assert(t.map(r => (r.head, r(2))) == Seq((10L, 2L), (11L, 3L)))
  }

  test("an unexpected ts dtype still yields a usable timestamp (string ISO input)") {
    // defensive: a string ts (e.g. CSV-originated events) goes through the
    // cast branch rather than erroring at plan time
    import spark.implicits._
    val base = Files.createTempDirectory("graft-events-str").toString
    Seq((1L, "2023-11-14 22:13:20", 10L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$base/events.parquet")
    val df = Queries.events(spark, base)
    assert(df.schema("ts").dataType == TimestampType)
    assert(df.count() == 1L)
  }
}
