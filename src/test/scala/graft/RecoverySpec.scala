package graft

/** Checkpoint-recovery pins for the streaming twins: the catalog's bounded
  * replay runs batches 1..n-1 in one query, HARD-STOPS it, then a fresh
  * query recovers offsets + state store from the shared checkpoint and
  * processes only the final batch ([[Queries.streamResume]]).
  * Reference semantics to match: state carries exactly as if uninterrupted —
  * the restarted twin must satisfy the SAME oracle as its batch counterpart
  * (the uninterrupted twins' claim, now across a process-lifecycle seam).
  *
  * Covers the two state shapes the round-12 verdict named: the
  * `session_window` aggregation state (q_stream_session) and the
  * stream-stream join buffers (q_stream_interval_join), plus a
  * flatMapGroupsWithState machine (q_stream_sessionize) since the 18 twins
  * lean on that operator most. */
class RecoverySpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  /** Runs `streamName` through the stop/resume replay and asserts it equals
    * `batchName` (the shared-oracle batch counterpart) row for row, and that
    * the post-restart query processed EXACTLY one micro-batch — recovery,
    * not reprocessing. */
  private def pinResume(streamName: String, batchName: String): Unit = {
    val prev = Queries.streamResume
    Queries.streamResume = true
    try {
      val st = Queries.all(streamName)(spark, dir)
      val cols = st.columns.sorted.toSeq
      val sv = st.selectExpr(cols: _*)
      val bt = Queries.all(batchName)(spark, dir).selectExpr(cols: _*)
      assert(Queries.lastStreamPhases.size == 2 && Queries.lastStreamPhases.last == 1,
        s"restart should process only the final batch, fed ${Queries.lastStreamPhases}")
      val sOnly = sv.exceptAll(bt).count()
      val bOnly = bt.exceptAll(sv).count()
      assert(sOnly == 0 && bOnly == 0,
        s"$streamName after restart diverged from $batchName: " +
          s"streamOnly=$sOnly batchOnly=$bOnly")
    } finally Queries.streamResume = prev
  }

  test("session-window twin survives a stop/resume: complete-mode state recovers from checkpoint") {
    pinResume("q_stream_session", "q_window_session")
  }

  test("stream-stream interval join survives a stop/resume: join buffers recover from checkpoint") {
    pinResume("q_stream_interval_join", "q_interval_join")
  }

  test("flatMapGroupsWithState sessionize twin survives a stop/resume") {
    pinResume("q_stream_sessionize", "q_sessionize")
  }

  test("stop/resume on the RocksDB state store: the production provider recovers identically") {
    withConf("spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      pinResume("q_stream_session", "q_window_session")
    }
  }
}
