package graft

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Per-micro-batch cost breakdown for a streaming twin — the measurement
  * side of the flush-sentinel A/B (r15 verdict task 6).
  *
  * Runs one catalog streaming query N times (min-of-N per batch position)
  * and prints each micro-batch's trigger-execution time and input rows,
  * captured via a StreamingQueryListener. With the standard 3-batch
  * replay plus the ONE 1-row `__flush` sentinel file (the r16 scheme —
  * this same tool's per-batch readings killed the second sentinel), batch
  * positions 0-2 are data batches, 3 is the sentinel batch, and a
  * trailing no-data batch may follow (it commits the trailing windows the
  * sentinel's watermark advance unlocked) — so the sentinel's share of
  * the twin's wall time is read directly off the output instead of
  * inferred from an end-to-end subtraction.
  *
  *   sbt "runMain graft.StreamAb /root/testdata/sf0.1 q_stream_session 3"
  */
object StreamAb {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val qname = if (args.length > 1) args(1) else "q_stream_session"
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = Harness.session()

    // one accumulating listener; each run's batches are appended as
    // (batchId, inputRows, triggerMs) — the listener bus is async, so each
    // run drains via spark.streams.resetTerminated + a settle sleep
    final case class B(id: Long, rows: Long, ms: Long, parts: String)
    val runs = scala.collection.mutable.ArrayBuffer.empty[Vector[B]]
    val cur = new java.util.concurrent.ConcurrentLinkedQueue[B]()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        // the full phase breakdown (addBatch / queryPlanning / walCommit /
        // commitOffsets / getBatch / latestOffset / ...) so "where does a
        // trigger's time go" is read off the output, not inferred
        import scala.jdk.CollectionConverters._
        val parts = p.durationMs.asScala.toSeq.sortBy(-_._2)
          .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
        cur.add(B(p.batchId, p.numInputRows,
          Option(p.durationMs.get("triggerExecution")).map(_.toLong)
            .getOrElse(-1L), parts))
      }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })

    // JIT/session warmup on a cheap batch query, Bench discipline
    Queries.q1_agg(spark, dir).count()

    val fn = SparkEntry.queries(qname)
    var wall = Double.MaxValue
    for (_ <- 1 to reps) {
      cur.clear()
      val t0 = System.nanoTime()
      fn(spark, dir).count()
      wall = math.min(wall, (System.nanoTime() - t0) / 1e9)
      Thread.sleep(1500) // settle the async listener bus
      import scala.jdk.CollectionConverters._
      runs += cur.iterator().asScala.toVector.sortBy(_.id)
      spark.catalog.clearCache()
    }

    // min per batch POSITION across runs (positions are deterministic:
    // same split files, same replay order)
    val n = runs.map(_.size).min
    val mins = (0 until n).map { i =>
      val b = runs.map(_(i)).minBy(_.ms)
      s"""{"batch":${b.id},"rows":${b.rows},"ms":${b.ms},"phases":${b.parts}}"""
    }
    val perRun = runs.map(r =>
      "[" + r.map(b => s"${b.ms}").mkString(",") + "]").mkString("[", ",", "]")
    println(
      s"""{"query":"$qname","sf_dir":"$dir","reps":$reps,"wall_min_sec":${
        f"$wall%.2f"},"batches_min":[${mins.mkString(",")}],"per_run_ms":$perRun}""")
    spark.stop()
  }
}
