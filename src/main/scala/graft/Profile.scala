package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Measurement aid (guide §1): runs selected catalog queries under the
  * SAME session as [[Bench]] ([[Harness]]) and reports, per query, the
  * wall time plus the scheduler-side volume the timed window paid — jobs,
  * stages, tasks, task-time sum, shuffle bytes — so "where does the time go" is
  * answered with numbers instead of guesses. At bench scale (sf0.1,
  * 17 MB of parquet) most catalog cells are scheduling/planning-bound,
  * so the job/stage/task counts ARE the cost model; a cell whose task
  * time is far below its wall time is paying driver-side latency
  * (planning, job submission, micro-batch lifecycle), not compute.
  *
  * Usage: GRAFT_ONLY=q_a,q_b sbt "runMain graft.Profile [sfDir]"
  * Prints one line per query: name, wall s, jobs, stages, tasks,
  * task-time s, shuffle read/write MB. Not part of the driver contract;
  * purely a local optimization instrument.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val spark = Harness.session()

    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val taskTimeMs = new AtomicLong(0L)
    val shufRead = new AtomicLong(0L)
    val shufWrite = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = t.taskMetrics
        if (m != null) {
          taskTimeMs.addAndGet(m.executorRunTime)
          shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
      }
    })

    // same warmup as Bench so the first profiled cell isn't paying JIT
    Queries.q1_agg(spark, sfDir).count()

    val repeat =
      math.max(1, sys.env.get("SPARK_GRAFT_REPEAT").map(_.toInt).getOrElse(1))
    val entries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => Harness.selected(n) }
    println(f"${"query"}%-28s ${"wall_s"}%8s ${"jobs"}%5s ${"stages"}%6s " +
      f"${"tasks"}%6s ${"task_s"}%8s ${"shR_MB"}%7s ${"shW_MB"}%7s")
    for (_ <- 1 to repeat) entries.foreach { case (name, fn) =>
      jobs.set(0); stages.set(0); tasks.set(0)
      taskTimeMs.set(0L); shufRead.set(0L); shufWrite.set(0L)
      spark.sparkContext.setJobDescription(name)
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      // listener events drain asynchronously; poll until the counters are
      // stable across two consecutive reads (a fixed sleep undercounted
      // large-backlog cells — the 400+-task before-runs this tool exists
      // to measure; r17 advice), bounded so a dead bus cannot hang us
      var prev = (-1, -1, -1L, -1L, -1L)
      var same = 0
      var waited = 0
      while (same < 2 && waited < 5000) {
        Thread.sleep(100); waited += 100
        val now = (jobs.get + stages.get, tasks.get, taskTimeMs.get,
          shufRead.get, shufWrite.get)
        if (now == prev) same += 1 else { same = 0; prev = now }
      }
      println(f"$name%-28s $wall%8.3f ${jobs.get}%5d ${stages.get}%6d " +
        f"${tasks.get}%6d ${taskTimeMs.get / 1e3}%8.3f " +
        f"${shufRead.get / 1e6}%7.2f ${shufWrite.get / 1e6}%7.2f")
      spark.sparkContext.setJobDescription(null)
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
