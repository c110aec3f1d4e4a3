package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.{Window => W}

/** Catalyst lowering of the reference's window descriptors for the
  * SQL-expressible cases (reference: src/operator/window/descr/). This is the
  * scale path: everything stays in whole-stage codegen with partial
  * aggregation — no per-key element materialization. Used by the oracle
  * queries and Bench; the typed state-machine path for exotic descriptors
  * lives in [[graft.api.WindowDescr]].
  *
  * All emit `w_start` as epoch micros (BIGINT) so results are
  * dtype-stable across engines.
  */
object WindowsDF {

  /** Grouped aggregation under an event-time tumbling window, caller supplies
    * the aggregates. */
  def tumblingAgg(df: DataFrame, ts: String, size: String, keys: Seq[Column],
      aggs: Seq[Column]): DataFrame =
    df.groupBy((window(col(ts), size).getField("start").as("w_start_ts") +: keys): _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("w_start", unix_micros(col("w_start_ts"))).drop("w_start_ts")

  /** Event-time session window with max-gap (Spark `session_window`; the
    * reference's SessionWindow is processing-time — documented divergence,
    * SURVEY §7.4). */
  def sessionAgg(df: DataFrame, ts: String, gap: String, keys: Seq[Column],
      aggs: Seq[Column]): DataFrame =
    df.groupBy((session_window(col(ts), gap).getField("start").as("w_start_ts") +: keys): _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("w_start", unix_micros(col("w_start_ts"))).drop("w_start_ts")

  /** Count-based tumbling window ids (reference: descr/count.rs tumbling):
    * row_number over a deterministic intra-key order, bucketed by
    * `floor((rn-1)/size)` into a `w_id` column. Callers aggregate on
    * (keys, w_id); for exact windows filter the aggregate on `count = size`
    * (the q_window_count query shows the full shape). */
  def countTumbling(df: DataFrame, size: Int, keys: Seq[Column],
      order: Seq[Column]): DataFrame = {
    // size=0 would emit NULL w_id for EVERY row (÷0 → null → cast null),
    // silently collapsing each key into one bogus window downstream
    require(size > 0, s"count window needs size > 0, got $size")
    val w = W.partitionBy(keys: _*).orderBy(order: _*)
    df.withColumn("w_id", ((row_number().over(w) - 1) / size).cast("long"))
  }

  /** Per-event session-ID assignment by the inactivity-gap rule — the flat
    * sibling of [[sessionAgg]]: every event KEEPS its row and gains the
    * session it belongs to (the clickstream sessionization step, where
    * downstream joins need event-grain rows, not collapsed windows). An
    * event opens a new session when it is the key's first or arrives more
    * than `gapUs` after the key's previous event; `session_seq` is the
    * running count of opens, so ids are dense per key and deterministic
    * under the (ts, tie) total order (`tie` breaks equal timestamps).
    *
    * Scale: the lag pass and the running-sum pass share ONE (key) hash
    * Exchange and ONE (ts, tie) sort — the second Window's required
    * distribution/ordering is already satisfied by the first's output, so
    * Catalyst inserts no further Exchange or Sort at any corpus size
    * (plan-pinned in EventAnalyticsSpec); window state is O(1) per row. */
  def sessionize(df: DataFrame, key: String, ts: String, tie: String,
      gapUs: Long): DataFrame = {
    val ord = W.partitionBy(col(key)).orderBy(col(ts), col(tie))
    val us = unix_micros(col(ts))
    df.withColumn("__prev_us", lag(us, 1).over(ord))
      .withColumn("is_new",
        col("__prev_us").isNull || us - col("__prev_us") > gapUs)
      .withColumn("session_seq",
        sum(when(col("is_new"), lit(1L)).otherwise(lit(0L)))
          .over(ord.rowsBetween(W.unboundedPreceding, W.currentRow)))
      .drop("__prev_us")
  }
}
