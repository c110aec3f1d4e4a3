package graft

import graft.api.StreamContext

/** End-to-end example workloads with closed-form expectations —
  * triangles_fold (keyed-fold path) and logistic regression (replay path),
  * mirroring reference/examples/triangles_fold.rs and the intent of the
  * (disabled) logistic_regression.rs. */
class ExamplesSpec extends SparkSpec {
  test("triangles_fold: cliques and triangle-free graphs, closed forms") {
    val s = imp; import s._
    val ctx = new StreamContext(spark)
    // K4 has C(4,3) = 4 triangles; two disjoint K4s → 8
    val twoCliques = for (c <- 0 to 1; i <- 0 to 3; j <- 0 until i)
      yield (c * 10 + j.toLong, c * 10 + i.toLong)
    assert(graft.examples.Triangles.count(ctx.streamIter(twoCliques)) == 8L)
    // edges given in arbitrary orientation are normalized
    val k3 = Seq((2L, 0L), (0L, 1L), (1L, 2L))
    assert(graft.examples.Triangles.count(ctx.streamIter(k3)) == 1L)
    // bipartite graph (no odd cycles) → 0
    val bip = for (a <- 0 to 2; b <- 10 to 12) yield (a.toLong, b.toLong)
    assert(graft.examples.Triangles.count(ctx.streamIter(bip)) == 0L)
    // rich_map formulation (incremental per-key wedges) agrees
    assert(graft.examples.Triangles.countRichMap(ctx.streamIter(twoCliques)) == 8L)
    assert(graft.examples.Triangles.countRichMap(ctx.streamIter(k3)) == 1L)
  }

  test("car_accidents: three reference queries, closed forms") {
    val s = imp; import s._
    val ctx = new StreamContext(spark)
    import graft.examples.CarAccidents
    val src = ctx.streamIter(CarAccidents.sample)
    // weeks: 01/03→(2024,0), 01/05→(2024,0), 01/10→(2024,1), 01/12→(2024,1),
    // 02/01→(2024,4); lethal: rows 2, 4, 5
    assert(CarAccidents.lethalPerWeek(src).toMap ==
      Map((2024, 0) -> 1L, (2024, 1) -> 1L, (2024, 4) -> 1L))
    // per-factor (deduped within record): Speeding in rows 1,2,5 (2 lethal);
    // Alcohol rows 2,4 (2 lethal); Distraction rows 3,5 (1 lethal)
    assert(CarAccidents.perFactor(src).map(t => t._1 -> ((t._2, t._3))).toMap ==
      Map("Speeding" -> ((3L, 2L)), "Alcohol" -> ((2L, 2L)),
        "Distraction" -> ((2L, 1L))))
    val q3 = CarAccidents.perBoroughWeek(src).toMap
    assert(q3(("QUEENS", 2024, 0)) == ((2L, 1L, 50.0)))
    assert(q3(("BRONX", 2024, 1)) == ((2L, 1L, 50.0)))
    assert(q3(("QUEENS", 2024, 4)) == ((1L, 1L, 100.0)))
  }

  test("rolling_top_words: hottest key per tumbling window, closed form") {
    val s = imp; import s._
    val ctx = new StreamContext(spark)
    // 10 ms windows — window 0: a×3 beats b×2; window 1: b×2 beats a×1;
    // window 2: c×2 ties d×2, (count, word) arg-max tie-breaks to d
    val typed = Seq(
      ("a", 1L), ("a", 3L), ("a", 9L), ("b", 2L), ("b", 5L),
      ("b", 12L), ("b", 17L), ("a", 13L),
      ("c", 21L), ("c", 25L), ("d", 22L), ("d", 28L)).toDS()
    val got = graft.examples.RollingTopWords.topPerWindow(ctx, typed, 10L)
    assert(got == Seq((0L, "a", 3), (1L, "b", 2), (2L, "d", 2)))
  }

  test("training pipeline composition: monotone filtering, stats consistent") {
    val s = graft.examples.TrainingPipeline.run(spark, "/root/testdata/sf0.001")
    assert(s.total > 0)
    // each stage only removes documents
    assert(s.qualityGated <= s.total)
    assert(s.exactDeduped <= s.qualityGated)
    assert(s.nearDeduped <= s.exactDeduped)
    assert(s.nearDeduped > 0, "pipeline must not drop everything")
    // the corpus has planted near-dups → the near-dup stage removes some
    assert(s.nearDeduped < s.exactDeduped, "planted near-dups should be dropped")
    assert(s.spanGated <= s.nearDeduped)
    assert(s.spanGated > 0, "span gate must not drop everything")
    assert(s.decontaminated <= s.spanGated)
    assert(s.decontaminated > 0, "decontamination must not drop everything")
    assert(s.langs.values.sum == s.decontaminated, "language histogram covers the final set")
    assert(s.shards > 0)
    // packing conserves tokens: every surviving token lands in exactly one
    // 512-token row, so rows = ceil(tokens / 512)
    assert(s.packedTokens > 0)
    assert(s.packedRows == (s.packedTokens + 511) / 512,
      s"rows ${s.packedRows} vs tokens ${s.packedTokens}")
    assert(s.annResults > 0)
    // trained classifier scores the decontaminated set
    assert(s.classifierKept <= s.decontaminated)
    // the cluster-guarded split covers the exact-deduped set completely
    assert(s.splitTrain + s.splitEval == s.exactDeduped,
      s"split ${s.splitTrain}+${s.splitEval} != ${s.exactDeduped}")
    assert(s.splitTrain > 0)
    // every embedding quantizes
    assert(s.int8Vectors > 0)
    // the reported C4 line gate keeps a strict subset of the corpus
    assert(s.c4Kept > 0 && s.c4Kept < s.total)
    // DSIR selection keeps the requested half (rounded) of the final set
    assert(s.dsirKept > 0 && s.dsirKept <= s.decontaminated)
    // perplexity tiering keeps head+middle of the non-trusted remainder —
    // a strict subset of the final set, never empty
    assert(s.pplKept > 0 && s.pplKept < s.decontaminated)
    // the temperature mixture spends at most the half-token budget plus
    // one first-crossing doc per stratum, and keeps something
    assert(s.mixtureTokens > 0)
  }

  test("logistic regression via replay: cost decreases, separable data fits") {
    val s = imp; import s._
    val pts = spark.range(1000).map { i =>
      val x1 = (i % 101).toDouble / 50.0 - 1.0
      val x2 = ((i * 7) % 103).toDouble / 51.0 - 1.0
      val y = if (2 * x1 - x2 + 0.5 > 0) 1.0 else 0.0
      (y, Array(1.0, x1, x2))
    }
    val m = graft.examples.LogisticRegression.train(pts, iterations = 60, lr = 0.5)
    assert(m.costs.length == 60)
    // batch GD on a smooth convex loss with a stable step: monotone descent
    m.costs.sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a + 1e-12, s"cost increased: $a -> $b")
    case _ => ()
    }
    assert(m.costs.last < 0.35, s"final cost ${m.costs.last}")
    // the fitted separator classifies the training set well
    val data = pts.collect()
    val acc = data.count { case (y, x) =>
      val z = m.weights.zip(x).map { case (w, v) => w * v }.sum
      (if (z > 0) 1.0 else 0.0) == y
    }.toDouble / data.length
    assert(acc >= 0.95, s"accuracy $acc")
  }

  test("clickstream composition: event grain kept, one row per session and user") {
    val dir = "/root/testdata/sf0.001"
    val (nEvents, nSessions, nUsers) =
      graft.examples.Clickstream.run(spark, dir)
    val rawEvents = graft.Queries.events(spark, dir).count()
    val rawUsers = graft.Queries.events(spark, dir)
      .select("user_id").distinct().count()
    assert(nEvents == rawEvents, "sessionize must keep every event")
    assert(nUsers == rawUsers, "compaction keeps exactly one row per user")
    assert(nSessions >= nUsers && nSessions <= nEvents,
      s"sessions between users and events: $nUsers <= $nSessions <= $nEvents")
  }
}
