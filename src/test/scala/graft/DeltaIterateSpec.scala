package graft

import graft.operators.Iteration
import org.apache.spark.sql.functions._

/** Workset/solution-set iteration (reference:
  * src/operator/iteration/iterate_delta.rs): the defining property is that
  * only keys receiving deltas do work — the workset SHRINKS as keys
  * quiesce — and that early termination fires when no delta passes the
  * condition. */
class DeltaIterateSpec extends SparkSpec {
  /** Spark jobs run by `body`. */
  private def jobsOf(body: => Unit): Int = Layers.measure(spark)(body)._2.jobs

  test("iterate respects a caller-managed cache on the input dataset") {
    val s = imp; import s._
    // a caller-cached input must come out of the loop STILL cached: it may
    // be a SharedCacheHandle cache shared with sibling streams
    val input = spark.range(100).as[Long].persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    input.count()
    val (st, fin) = Iteration.iterate(input, maxIter = 2, 0L)(
      (ds, _) => ds.map(_ + 1))((ds, acc) => acc + ds.count())(_ => true)
    assert(st == 200L && fin.count() == 100L)
    assert(fin.collect().min == 2L)
    assert(input.storageLevel !=
      org.apache.spark.storage.StorageLevel.NONE,
      "iterate dropped the caller-managed cache of its input")
    input.unpersist()
  }

  test("iterate runs one Spark job per round") {
    val s = imp; import s._
    val input = spark.range(50).as[Long]
    def jobs(maxIter: Int): Int = jobsOf {
      Iteration.iterate(input, maxIter, 0L)((ds, _) => ds.map(_ + 1))(
        (ds, _) => ds.count())(_ => true)
    }
    val (two, three) = (jobs(2), jobs(3))
    assert(three - two == 1, s"maxIter 2: $two jobs, maxIter 3: $three jobs")
  }

  test("iterate cuts lineage every round") {
    val s = imp; import s._
    // the body reads its state twice, so an uncut lineage doubles per round
    val sizes = scala.collection.mutable.ArrayBuffer.empty[Int]
    val (rows, fin) = Iteration.iterate(spark.range(10).as[Long].map(_ * 2),
        maxIter = 6, 0L) { (ds, _) =>
      sizes += ds.queryExecution.analyzed.collect { case p => p }.size
      ds.union(ds).distinct()
    } { (ds, _) => ds.count() } { _ => true }
    assert(sizes.size == 6)
    assert(sizes.forall(_ == sizes.head), s"plan nodes per round: $sizes")
    assert(rows == 10L && fin.collect().sorted.toSeq == (0L until 20L by 2L))
  }

  test("delta pagerank on a chain: workset shrinks every round, ranks converge") {
    val s = imp; import s._
    // 3 chains of 5 nodes: 0→1→2→3→4, 10→11→…, 20→21→…
    val edges = (0 until 3).flatMap { c =>
      (0 until 4).map(i => (c * 10 + i.toLong, c * 10 + i + 1L))
    }.toDF("src", "dst")

    val (ranks, worksets) = graft.algorithms.Graph.pageRankDelta(
      edges, maxIter = 10, parallelism = Some(2))

    // the change frontier moves down the chains: 12 → 9 → 6 → 3, then the
    // tails emit nothing and the loop terminates early (< maxIter rounds)
    assert(worksets == Seq(12L, 9L, 6L, 3L))
    assert(worksets.sliding(2).forall { case Seq(a, b) => b < a; case _ => true })

    // converged exactly (deltas die out): result == closed-form fixpoint
    // r(depth k) = Σ_{j≤k} d^j (1-d)/N  (in-degree ≤ 1, outdeg 1)
    val n = 15.0
    val d = 0.85
    val expect = (0 until 5).map(k =>
      (0 to k).map(j => math.pow(d, j) * (1.0 - d) / n).sum)
    val got = ranks.collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    for (c <- 0 until 3; k <- 0 until 5)
      assert(math.abs(got(c * 10 + k) - expect(k)) < 1e-12,
        s"node ${c * 10 + k}: ${got(c * 10 + k)} vs ${expect(k)}")
  }

  test("personalized pagerank: mass flows only downstream of the sources") {
    val s = imp; import s._
    // chain 0→1→2→3→4 plus a chain 10→11→12 DISCONNECTED from the source
    val edges = ((0 until 4).map(i => (i.toLong, i + 1L)) ++
      Seq((10L, 11L), (11L, 12L))).toDF("src", "dst")
    val got = graft.algorithms.Graph.personalizedPageRank(
        edges, sources = Seq(0L), iterations = 3, parallelism = Some(2))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val d = 0.85
    // closed form after 3 rounds from a single source on a chain:
    // r(0)=1-d; depth j<3 has d^j(1-d); the frontier (depth 3) holds d^3;
    // beyond the frontier and off the source's component: exactly 0
    assert(math.abs(got(0L) - (1 - d)) < 1e-15)
    assert(math.abs(got(1L) - d * (1 - d)) < 1e-15)
    assert(math.abs(got(2L) - d * d * (1 - d)) < 1e-15)
    assert(math.abs(got(3L) - d * d * d) < 1e-15)
    assert(got(4L) == 0.0)
    assert(Seq(10L, 11L, 12L).forall(got(_) == 0.0), "unreachable nodes hold 0")
    assert(got.values.sum <= 1.0 + 1e-12, "walk mass never exceeds 1")
  }

  test("deltaIterate terminates immediately when no delta passes the condition") {
    val s = imp; import s._
    val init = Seq((1L, 0L), (2L, 0L)).toDS()
    val res = Iteration.deltaIterate[Long, Long, Long, Long, Long](
      init, maxIter = 5) { (_, st, ds) => st + ds.sum } { (_, st) => st } {
      (_, st) => st } { _ => false } { upd => upd } // no delta ever "counts"
    assert(res.worksetSizes.isEmpty)
    assert(res.output.collect().toMap == Map(1L -> 0L, 2L -> 0L))
  }

  test("deltaIterate fails with a NAMED error when body emits a delta for an unknown key") {
    val s = imp; import s._
    val init = Seq((1L, 0L)).toDS()
    // passes = false: the merge runs on the terminating round too, so the
    // check also fires on a round where the condition rejects every delta
    for (passes <- Seq(true, false)) {
      val ex = intercept[Exception] {
        Iteration.deltaIterate[Long, Long, Long, Long, Long](
          init, maxIter = 3) { (_, st, ds) => st + ds.sum } { (_, st) => st } {
          (_, st) => st } { _ => passes } { upd =>
          // emits key 99, which is not in the solution set
          upd.select(lit(99L).as("_1"), lit(1L).as("_2")).as[(Long, Long)]
        }
      }
      // the require message must survive Spark's task-failure wrapping so the
      // user sees WHICH key broke the closed-key-domain contract, not a bare
      // NoSuchElementException from deep inside a stage
      val msgs = Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
      assert(msgs.contains("unknown key 99"), s"passes=$passes, got: $msgs")
    }
  }

  test("deltaIterate runs one Spark job per round") {
    val s = imp; import s._
    def jobs(maxIter: Int): Int = jobsOf {
      Iteration.deltaIterate[Long, Long, Long, Long, Long](
        Seq((1L, 0L), (2L, 100L)).toDS(), maxIter) { (_, st, ds) => st + ds.sum } {
        (_, st) => st } { (_, st) => st } { _ => true } { upd =>
        upd.filter(col("_1") === 1L).select(col("_1"), lit(1L).as("_2")).as[(Long, Long)]
      }
    }
    val (two, three) = (jobs(2), jobs(3))
    assert(three - two == 1, s"maxIter 2: $two jobs, maxIter 3: $three jobs")
  }

  test("deltaIterate respects maxIter on a non-quiescing body") {
    val s = imp; import s._
    val init = Seq((1L, 0L), (2L, 100L)).toDS()
    // body always re-emits a delta of 1 for key 1 only → workset stays {1}
    val res = Iteration.deltaIterate[Long, Long, Long, Long, Long](
      init, maxIter = 3) { (_, st, ds) => st + ds.sum } { (_, st) => st } {
      (_, st) => st } { _ => true } { upd =>
      upd.filter(col("_1") === 1L).select(col("_1"), lit(1L).as("_2")).as[(Long, Long)]
    }
    assert(res.worksetSizes == Seq(1L, 1L, 1L))
    val out = res.output.collect().toMap
    assert(out(1L) == 3L) // three rounds of +1
    assert(out(2L) == 100L) // untouched key keeps its solution state
  }

  test("sssp equals driver-side Dijkstra on random cyclic weighted graphs") {
    val s = imp; import s._
    val rng = new scala.util.Random(7)
    for (trial <- 1 to 5) {
      val n = 12 + trial
      // random directed graph with cycles and alternative paths
      val edges = (0 until n * 3).map { _ =>
        (rng.nextInt(n).toLong, rng.nextInt(n).toLong, (rng.nextInt(9) + 1).toLong)
      }.distinct
      val sources = Seq(0L, (n / 2).toLong).distinct
      // driver-side Dijkstra (multi-source)
      val INF = graft.algorithms.Graph.Unreachable
      val adj = edges.groupBy(_._1).map { case (k, es) =>
        k -> es.map(e => (e._2, e._3)) }
      val dist = scala.collection.mutable.Map.empty[Long, Long]
        .withDefaultValue(INF)
      val pq = scala.collection.mutable.PriorityQueue.empty[(Long, Long)](
        Ordering.by[(Long, Long), Long](_._1).reverse)
      sources.foreach { src => dist(src) = 0L; pq.enqueue((0L, src)) }
      while (pq.nonEmpty) {
        val (d0, u) = pq.dequeue()
        if (d0 == dist(u))
          adj.getOrElse(u, Nil).foreach { case (v, w) =>
            if (d0 + w < dist(v)) { dist(v) = d0 + w; pq.enqueue((d0 + w, v)) }
          }
      }
      val got = graft.algorithms.Graph.sssp(
          edges.toDF("src", "dst", "w"), sources.toDF("node"),
          parallelism = Some(2))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val nodes = (edges.flatMap(e => Seq(e._1, e._2)) ++ sources).distinct
      nodes.foreach { nd =>
        assert(got(nd) == dist(nd), s"trial $trial node $nd")
      }
    }
  }
}
