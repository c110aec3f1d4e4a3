package graft

import org.apache.spark.sql.functions._

/** Closed-form semantics for the event-analytics queries: the ordered
  * funnel's stage gating (later-stage events BEFORE the prior stage don't
  * count) and the rolling z-score's strictly-preceding baseline; plus the
  * one-Exchange plan shape both rely on for scale. */
class EventAnalyticsSpec extends SparkSpec {
  private def funnelOf(rows: Seq[(Long, String, Long)]) = {
    val s = spark; import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-funnel").toString
    rows.map { case (u, et, us) => (us, u, et, us, 0.0, "{}") }
      .toDF("event_id", "user_id", "event_type", "_us", "value", "props")
      .select(col("event_id"), to_timestamp(col("_us").cast("double") / 1e6).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    Queries.q_funnel(spark, dir)
      .select("user_id", "stage", "view_us", "click_us", "purchase_us")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sortBy(_._1).toSeq
  }

  test("funnel: order gating — purchase before the click does not count") {
    val r = funnelOf(Seq(
      // user 1: full ordered funnel
      (1L, "view", 1000000L), (1L, "click", 2000000L), (1L, "purchase", 3000000L),
      // user 2: purchase BEFORE the first click → stage stops at 2
      (2L, "view", 1000000L), (2L, "purchase", 1500000L), (2L, "click", 2000000L),
      // user 3: click before any view → stage stops at 1
      (3L, "click", 500000L), (3L, "view", 1000000L),
      // user 4: no view at all → stage 0
      (4L, "purchase", 1000000L)))
    assert(r == Seq(
      (1L, 3L, 1000000L, 2000000L, 3000000L),
      (2L, 2L, 1000000L, 2000000L, -1L),
      (3L, 1L, 1000000L, -1L, -1L),
      (4L, 0L, -1L, -1L, -1L)))
  }

  test("funnel: equal-timestamp stage events count (at-or-after)") {
    val r = funnelOf(Seq(
      (7L, "view", 1000000L), (7L, "click", 1000000L), (7L, "purchase", 1000000L)))
    assert(r == Seq((7L, 3L, 1000000L, 1000000L, 1000000L)))
  }

  test("funnel plan: one Exchange feeds all three stage windows") {
    val plan = Queries.q_funnel(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected 1 user_id shuffle, got $exchanges:\n$plan")
  }

  private def retentionOf(rows: Seq[(Long, String, Long)]) = {
    val s = spark; import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ret").toString
    rows.zipWithIndex.map { case ((u, et, us), i) =>
      (i.toLong, u, et, us, 0.0, "{}") }
      .toDF("event_id", "user_id", "event_type", "_us", "value", "props")
      .select(col("event_id"), to_timestamp(col("_us").cast("double") / 1e6).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    Queries.q_retention(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1).toSeq
  }

  test("retention: pre-signup activity excluded, distinct users per offset") {
    val day = 86400000000L
    val r = retentionOf(Seq(
      // user 1 signs up at day 0, active days 0 and 1 (two events on day 1
      // count once)
      (1L, "signup", 0L), (1L, "click", day + 1), (1L, "view", day + 2),
      // user 2 signs up day 0, has a PRE-signup event (excluded), active day 0
      (2L, "click", -day), (2L, "signup", 0L),
      // user 3 never signs up → not in the cohort at all
      (3L, "click", 0L)))
    // cohort = 2 (users 1, 2 at offset 0 — signup itself is activity)
    assert(r == Seq((0L, 2L, 1.0), (1L, 1L, 0.5)))
  }

  test("anomaly: strictly-preceding 5-event baseline, full-support only") {
    val out = Queries.q_anomaly(spark, "/root/testdata/sf0.001")
    // every emitted row has a full baseline by construction; spot-check one
    // user's first emission is their 6th event
    val e = Queries.events(spark, "/root/testdata/sf0.001")
      .groupBy("user_id").count().filter(col("count") >= 6)
      .select("user_id").as[Long](org.apache.spark.sql.Encoders.scalaLong)
      .head(1).headOption
    e.foreach { u =>
      val nEvents = Queries.events(spark, "/root/testdata/sf0.001")
        .filter(col("user_id") === u).count()
      val nScored = out.filter(col("user_id") === u).count()
      assert(nScored == nEvents - 5,
        s"user $u: $nEvents events should yield ${nEvents - 5} scored rows, got $nScored")
    }
    // z is a real score: some rows flag, most don't
    val n = out.count()
    val flagged = out.filter(col("is_anomaly")).count()
    assert(n > 0 && flagged < n)
  }

  test("anomaly plan: one Exchange, window frame only — no self-join") {
    val plan = Queries.q_anomaly(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"anomaly must not self-join:\n$plan")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected 1 user_id shuffle, got $exchanges:\n$plan")
  }

  test("trending plan: rank filter lowers to WindowGroupLimit over aggregated rows") {
    val plan = Queries.q_trending(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"row_number <= k must push map-side top-k per window:\n$plan")
    val rows = Queries.q_trending(spark, "/root/testdata/sf0.001")
      .groupBy("w_start").count().collect()
    assert(rows.forall(_.getLong(1) <= 2), "at most k types per window")
  }

  private def sessionsOf(gapUs: Long, rows: Seq[(Long, Long, Long)]) = {
    val s = spark; import s.implicits._
    val df = rows.map { case (id, u, us) => (id, u, us) }
      .toDF("event_id", "user_id", "_us")
      .select(col("event_id"), col("user_id"),
        to_timestamp(col("_us").cast("double") / 1e6).as("ts"))
    graft.operators.WindowsDF.sessionize(df, "user_id", "ts", "event_id", gapUs)
      .select("event_id", "is_new", "session_seq")
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2)))
      .sortBy(_._1).toSeq
  }

  test("sessionize: gap rule — first event opens, > gap reopens, = gap does not") {
    val r = sessionsOf(1000000L, Seq(
      (1L, 1L, 0L),        // first event of user 1 → session 1
      (2L, 1L, 1000000L),  // exactly the gap after → SAME session (strict >)
      (3L, 1L, 2000001L),  // gap+1 after event 2 → session 2
      (4L, 1L, 2500000L),  // inside → session 2
      (5L, 2L, 0L)))       // other user: own dense numbering
    assert(r == Seq((1L, true, 1L), (2L, false, 1L), (3L, true, 2L),
      (4L, false, 2L), (5L, true, 1L)))
  }

  test("sessionize: equal timestamps break by the tie column, ids stay dense") {
    val r = sessionsOf(10L, Seq(
      (2L, 9L, 5000000L), (1L, 9L, 5000000L), // same ts: event 1 is first
      (3L, 9L, 5000100L)))                    // > gap after → new session
    assert(r == Seq((1L, true, 1L), (2L, false, 1L), (3L, true, 2L)))
  }

  test("sessionize plan: the lag and running-sum windows share one Exchange") {
    val plan = Queries.q_sessionize(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"sessionize must not self-join:\n$plan")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected 1 user_id shuffle, got $exchanges:\n$plan")
    val sorts = "Sort ".r.findAllIn(plan).length
    assert(sorts == 1, s"expected the two windows to share one sort, got $sorts:\n$plan")
  }
}
