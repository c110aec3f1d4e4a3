package graft

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.DataFrame

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

/** Benchmark main: times every catalog query at SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line {"metric":...,"queries":{...}}. BENCH_FULL.json
  * also records what each cell cost, layer by layer ([[Layers]]).
  *
  * Timing discipline: one JVM+session warmup query first (JIT, codegen
  * cache, FS metadata), then each query end-to-end (plan → execute →
  * count) — the count() action materializes every operator but avoids
  * driver-side result transfer costs.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session()

    // warmup: scan + shuffle + codegen on the biggest table
    Queries.q1_agg(spark, sfDir).count()

    // SPARK_GRAFT_REPEAT=N runs the WHOLE catalog N times (default 2) and
    // reports each query's MIN across passes — the right estimator under
    // the bursty host interference observed on shared runners (a burst only
    // ever ADDS time). Round 4 proved back-to-back per-query repeats are
    // NOT enough: BENCH_r04 recorded a contiguous alphabetical block
    // (q_filter…q_kmeans, ~15 queries) uniformly 2.4–4.5× slower than both
    // r3 and a clean same-code rerun — a ~40 s interference burst covers
    // both adjacent repeats of every query inside it. Catalog-level passes
    // put ~a full catalog runtime between a query's two runs, so one burst
    // can poison at most one of them. Same total work as per-query
    // repeats. Every pass pays planning; codegen is paid by the first pass
    // only as far as the session's codegen cache holds a pass's classes
    // (at Spark's default of 100 entries the second pass at sf0.001
    // compiled 4,052 classes, at the recipe's 4096 it compiles 406–443,
    // mostly the streaming twins' fresh code), so BENCH_FULL records each
    // pass's compile count.
    val repeat =
      math.max(1, sys.env.get("SPARK_GRAFT_REPEAT").map(_.toInt).getOrElse(2))

    // the timed window is exactly the cell's count(): Layers.measure's two
    // listener-bus drains lie outside it
    def once(name: String, df: => DataFrame): (Double, Layers) = {
      val (elapsed, layers) = Layers.measure(spark) {
        val t0 = System.nanoTime()
        try { df.count(); (System.nanoTime() - t0) / 1e9 } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            -1.0 // failures are marked -1.0, never reported as a (fast) success
        }
      }
      // the timed window CLOSES before cache teardown: a persisted-result
      // query must not be billed for unpersisting its own blocks (that cost
      // lands in every pass, so min-across-passes cannot remove it).
      // Several catalog queries (iteration fixpoints, dedup pipelines)
      // return their PERSISTED result; over a 70+-query catalog those
      // caches accumulate into real memory pressure that bleeds into later
      // queries' timings — drop the whole cache after every run. Each pass
      // is therefore COLD per query (no warm-cache min; round-4 repeats
      // shared a query's caches, flattering the persisted-result queries).
      spark.catalog.clearCache()
      (elapsed, layers)
    }

    // one catalog pass: production hashing first (the xxhash64 paths a
    // user ships), then the BenchPortable cells again under portable
    // (oracle) hashing as distinct `_portable` keys, so both modes stay
    // observable round-over-round
    val runs = (Queries.catalog.sortBy(_.name).map(c => (c.name, c, false)) ++
      Queries.catalog.filter(_.is(Tag.BenchPortable))
        .map(c => (c.name + "_portable", c, true)))
      .filter { case (key, _, _) => Harness.selected(key) }
    // each key keeps its fastest pass's time and layers; a failure in any
    // pass sticks (-1.0, with the first failing pass's layers)
    val acc = scala.collection.mutable.LinkedHashMap.empty[String, (Double, Layers)]
    def record(name: String, run: (Double, Layers)): Unit = acc.get(name) match {
      case Some((prev, _)) if prev < 0 || run._1 >= prev => ()
      case _ => acc(name) = run
    }
    // twin tables' stream splits and fingerprints, outside every timed window
    if (runs.exists(_._2.streaming)) Queries.prepareStreamSplits(spark, sfDir)
    val passCompiles = (1 to repeat).map { _ =>
      runs.map { case (key, c, portable) =>
        val run = once(key, c.run(spark, sfDir, portable))
        record(key, run)
        run._2.codegenCompiles
      }.sum
    }
    val results = acc.toSeq.map { case (k, (t, _)) => (k, t) }
    val layers = acc.toSeq.map { case (k, (_, l)) => (k, l) }
    val sf = sfDir.split("/").last.stripPrefix("sf")
    // BENCH_FULL.json is the committed sf0.1 convention (round-over-round
    // comparisons read it assuming that scale); a run at any other SF that
    // didn't name its own SPARK_GRAFT_FULL_OUT routes to a scale-suffixed
    // file instead of silently overwriting the headline artifact (a round-10
    // sf0.001 run did exactly that and read as a false 31% speedup)
    val fullOutRaw = sys.env.getOrElse("SPARK_GRAFT_FULL_OUT", "BENCH_FULL.json")
    val fullOut =
      if (fullOutRaw == "BENCH_FULL.json" && Harness.only.nonEmpty) {
        // a GRAFT_ONLY iteration run must never overwrite the
        // committed full-catalog artifact with a partial one — the next
        // full bench's vs_prev_round would compare against 1 key
        val redirected = "BENCH_FULL_subset.json"
        System.err.println(
          s"[bench] GRAFT_ONLY subset run; writing $redirected " +
            "instead of the committed BENCH_FULL.json")
        redirected
      } else if (fullOutRaw == "BENCH_FULL.json" && sf != "0.1") {
        val redirected = s"BENCH_FULL_sf$sf.json"
        System.err.println(
          s"[bench] sf=$sf is not the BENCH_FULL.json convention (sf0.1); writing $redirected")
        redirected
      } else fullOutRaw
    val (prevPath, prevQueries, baselineId) = resolvePrev(sf)
    System.err.println(s"[bench] vs_prev_round baseline: $prevPath")
    val grown = readPrevLayers(prevPath, sf).map(structural(layers, _))
    grown.filter(_.nonEmpty).foreach(g => System.err.println(
      s"[bench] structural growth vs $prevPath: ${g.mkString(", ")}"))
    val (fullLine, stdoutLine, failedNames) =
      renderArtifacts(results, repeat, sf, fullOut, prevQueries, baselineId,
        passCompiles, layers, grown)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(fullOut),
      fullLine.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    if (failedNames.nonEmpty)
      System.err.println(
        s"[bench] ${failedNames.size} queries FAILED: ${failedNames.mkString(", ")}")
    // the one-line contract JSON, twice: stdout (now unprefixed —
    // run/outputStrategy in build.sbt bypasses sbt's "[info] " logger,
    // which made the driver's extractor read "parsed": null two rounds
    // running) and a file next to BENCH_FULL.json, so the extractor no
    // longer depends on log formatting at all. The file inherits fullOut's
    // subset/scale redirection: a GRAFT_ONLY or off-scale run must
    // not overwrite the committed full-catalog line either.
    // A failed line write only warns: the run is finished and BENCH_FULL
    // already holds it.
    val lineOut = linePath(fullOut)
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(lineOut),
      (stdoutLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Exception =>
      System.err.println(s"[bench] WARNING: could not write $lineOut: $e")
    }
    println(stdoutLine)
    spark.stop()
  }

  /** The BENCH_LINE file next to `fullOut`: BENCH_FULL → BENCH_LINE in the
    * file name only (a directory named BENCH_FULL stays), else
    * `<name>.line.json`. */
  def linePath(fullOut: String): String = {
    val p = java.nio.file.Paths.get(fullOut)
    val name = p.getFileName.toString
    val line =
      if (name.contains("BENCH_FULL")) name.replace("BENCH_FULL", "BENCH_LINE")
      else name + ".line.json"
    Option(p.getParent).fold(line)(_.resolve(line).toString)
  }

  /** Resolve the previous-round baseline this run's `vs_prev_round`
    * compares against. Preference order:
    *
    *   1. `SPARK_GRAFT_PREV` — an explicit override (iteration runs,
    *      forensic re-chains);
    *   2. the newest committed `BENCH_BASELINE_r*.json` snapshot — written
    *      ONCE at round close by tools/snapshot_baseline.sh from a named
    *      commit, never rewritten;
    *   3. the legacy convention path (whatever sits at BENCH_FULL.json /
    *      BENCH_FULL_sf$sf.json).
    *
    * The snapshot tier exists because the convention path is overwritten
    * by every run: two consecutive driver rounds "compared" against a
    * same-round artifact that had already replaced the committed one
    * (r14/r15 verdicts, task 1). Snapshots are sf0.1 round boundaries, so
    * other scale factors skip straight to their own convention path.
    *
    * Returns (path, parsed queries, identity JSON fragment). The identity
    * names the baseline file and, when the snapshot recorded them, its
    * round and git hash — so the artifact itself proves WHICH boundary it
    * measured, checkable without forensics. */
  def resolvePrev(sf: String): (String, Map[String, Double], String) = {
    val explicit = sys.env.get("SPARK_GRAFT_PREV")
    val snapshot =
      if (explicit.isDefined || sf != "0.1") None
      else {
        val re = "BENCH_BASELINE_r(\\d+)\\.json".r
        // anchor the search at the repo root, not the process cwd: a
        // bench launched from elsewhere would otherwise silently skip the
        // snapshot tier and chain against the overwritable BENCH_FULL.json
        // convention path — the exact intra-round-baseline bug the tier
        // fixes (r16 advice). Walk cwd-upward to the first directory that
        // holds either a snapshot or a .git marker.
        val anchors = Iterator.iterate(
            new java.io.File(".").getAbsoluteFile.getParentFile)(_.getParentFile)
          .takeWhile(_ != null).take(16).toSeq
        val root = anchors.find { d =>
          Option(d.listFiles()).getOrElse(Array.empty).exists(f =>
            re.pattern.matcher(f.getName).matches() || f.getName == ".git")
        }
        val found = root.flatMap { d =>
          Option(d.listFiles()).getOrElse(Array.empty)
            .toSeq
            .collect { case f if re.pattern.matcher(f.getName).matches() =>
              val re(r) = f.getName: @unchecked
              (r.toInt, f.getPath)
            }
            .sortBy(-_._1).headOption.map(_._2)
        }
        if (found.isEmpty)
          // visible, not silent: the fallback path is overwritten by every
          // run, so a missing snapshot at the measured scale is a setup bug
          System.err.println("[graft-bench] WARNING: no BENCH_BASELINE_r*.json" +
            s" found from ${new java.io.File(".").getAbsolutePath} upward —" +
            " falling back to the overwritable BENCH_FULL.json convention path")
        found
      }
    val path = explicit.orElse(snapshot).getOrElse(
      if (sf == "0.1") "BENCH_FULL.json" else s"BENCH_FULL_sf$sf.json")
    (path, readPrevQueries(path, sf), baselineIdentity(path))
  }

  /** JSON fragment naming the baseline: its file name plus the
    * `baseline_round`/`baseline_git` fields the snapshot tool injected
    * (absent for a legacy BENCH_FULL baseline — the file name alone still
    * records what this run chained against). */
  def baselineIdentity(path: String): String = {
    val id = Harness.json.createObjectNode()
      .put("file", java.nio.file.Paths.get(path).getFileName.toString)
    readPrev(path, "").foreach { n =>
      if (n.path("baseline_round").isIntegralNumber) id.replace("round", n.get("baseline_round"))
      if (n.path("baseline_git").isTextual) id.replace("git", n.get("baseline_git"))
    }
    s""""baseline":${Harness.json.writeValueAsString(id)}"""
  }

  /** A prior bench artifact, if it parses and its `sf` equals `sf` (an
    * empty `sf` accepts any). A first run or a format change must not fail
    * the bench, cross-scale "ratios" are meaningless, and an artifact
    * MISSING its sf field counts as a mismatch (a vacuous pass would
    * compare, e.g., sf0.001 iteration times against committed sf0.1
    * numbers). */
  private def readPrev(path: String, sf: String): Option[JsonNode] =
    scala.util.Try(Harness.json.readTree(new java.io.File(path))).toOption
      .filter(n => sf.isEmpty || n.path("sf").asText == sf)

  /** The `queries` map of a prior artifact; empty on any miss. */
  def readPrevQueries(path: String, sf: String = ""): Map[String, Double] =
    readPrev(path, sf).fold(Map.empty[String, Double])(
      _.path("queries").properties.asScala.map(e => e.getKey -> e.getValue.asDouble).toMap)

  /** The `layers` map of a prior artifact; None when it has none. */
  def readPrevLayers(path: String, sf: String): Option[Map[String, Layers]] =
    readPrev(path, sf).map(_.path("layers")).filter(_.isObject).map(
      _.properties.asScala.map(e =>
        e.getKey -> Harness.json.treeToValue(e.getValue, classOf[Layers])).toMap)

  /** Cells of `cur` that grew structurally against `prev`: any growth in
    * jobs, stages or tasks, or shuffle bytes (read + write) grown by more
    * than the run-to-run spread. That spread was measured at sf0.1 over two
    * full catalog runs of one build: 247 of 263 cells moved no shuffle
    * byte and the other 16 moved by at most 976 bytes or 0.7%, so growth
    * counts once it exceeds both 1 KiB and 1%. */
  def structural(cur: Seq[(String, Layers)], prev: Map[String, Layers]): Seq[String] = {
    def bytes(l: Layers) = l.shuffleReadBytes + l.shuffleWriteBytes
    cur.collect { case (k, c) if prev.get(k).exists(p =>
        c.jobs > p.jobs || c.stages > p.stages || c.tasks > p.tasks ||
          bytes(c) - bytes(p) > math.max(1024L, bytes(p) / 100)) => k }
  }

  /** Renders both bench artifacts from the timing results; pure so the
    * failure-accounting contract is unit-testable (GatesSpec).
    *
    * Returns (BENCH_FULL.json body, bounded stdout line, failed names).
    *
    * Precision/size discipline: millisecond precision on stdout keeps the
    * whole JSON line short enough to survive a bounded ~2000-char
    * tail capture (full-precision doubles truncated the line's head in
    * rounds 1-3); the stdout line carries only the pinned `headline` subset
    * plus the catalog total, while BENCH_FULL.json carries every query at
    * full precision, each pass's codegen compile count, each cell's
    * [[Layers]] and, inside `vs_prev_round`, the `structural` growth list
    * (null when the baseline has no layers). LOUD failure
    * accounting (round-6 verdict #3): a query recording -1.0 surfaces as an
    * explicit `failed` count in BOTH artifacts and by name in
    * `failed_queries` — a total that silently excludes
    * erroring queries would read as "all green" while the catalog shrinks.
    */
  def renderArtifacts(results: Seq[(String, Double)], repeat: Int, sf: String,
      fullOut: String, prevQueries: Map[String, Double] = Map.empty,
      baselineId: String = "", passCompiles: Seq[Long] = Nil,
      layers: Seq[(String, Layers)] = Nil, structural: Option[Seq[String]] = None)
      : (String, String, Seq[String]) = {
    // Locale.ROOT: a comma-decimal default locale would emit invalid JSON
    def fmt(v: Double): String =
      if (v < 0) "-1.0"
      else String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val total = results.map(_._2).filter(_ >= 0).sum
    val fullJson = results.map { case (k, v) =>
      "\"" + k + "\":" + (if (v < 0) "-1.0"
      else String.format(java.util.Locale.ROOT, "%.6f", Double.box(v)))
    }.mkString("{", ",", "}")
    val failedNames = results.collect { case (k, v) if v < 0 => k }
    val failedJson = failedNames.map("\"" + _ + "\"").mkString("[", ",", "]")
    // mechanical round-over-round comparison on keys PRESENT AND GREEN in
    // both artifacts — new queries and failures on either side are excluded
    // so the ratio measures the same work, not catalog growth
    val byName = results.toMap
    val common = prevQueries.keySet.intersect(byName.keySet).toSeq
      .filter(k => prevQueries(k) >= 0 && byName(k) >= 0)
    // BENCH_FULL's vs_prev_round also names the cells that grew
    // structurally; null when the baseline recorded no layers
    val grown =
      if (layers.isEmpty) ""
      else ""","structural":""" + structural.fold("null")(
        _.map(Harness.jsonString).mkString("[", ",", "]"))
    val vsFields =
      if (common.isEmpty) None
      else {
        val prevSum = common.map(prevQueries).sum
        val curSum = common.map(byName).sum
        val ratio = if (prevSum > 0) curSum / prevSum else -1.0
        // drift attribution carried IN the artifact (the round-12/13 house
        // method, made mechanical): a fixed panel of long-stable cells; if
        // their ratio moves with the total, the spread is host drift, not
        // code — a genuine regression moves changed cells but not controls
        val controlPanel = controlCells.filter(common.contains)
        // Per-cell control ratios, aggregated as the MEDIAN rather than the
        // sum-ratio: the r17/r18 adjudication of the nx_* "regressions"
        // proved this host's contention is NON-uniform at minute scale
        // (identical jobs/stages/tasks/shuffle-bytes cells swung 1.3×–2.6×
        // leg-to-leg within one A/B/B/A window), so one inflated member
        // could drag a sum-ratio panel and taint every adjusted reading;
        // the median ignores outlier members by construction. The sum-based
        // "ratio" stays in the artifact for cross-round continuity.
        val perCellRatios = controlPanel
          .filter(k => prevQueries(k) > 0)
          .map(k => byName(k) / prevQueries(k)).sorted
        val controlRatio =
          if (perCellRatios.isEmpty) None
          else {
            val n = perCellRatios.size
            Some(if (n % 2 == 1) perCellRatios(n / 2)
              else (perCellRatios(n / 2 - 1) + perCellRatios(n / 2)) / 2.0)
          }
        val ctl =
          if (controlPanel.isEmpty) """"controls":null"""
          else {
            val cp = controlPanel.map(prevQueries).sum
            val cc = controlPanel.map(byName).sum
            val sumRatio = if (cp > 0) cc / cp else -1.0
            val names = controlPanel.map("\"" + _ + "\"")
              .mkString("[", ",", "]")
            s""""controls":{"cells":$names,"prev_sec":${fmt(cp)},"cur_sec":${fmt(cc)},"ratio":${fmt(sumRatio)},"ratio_median":${controlRatio.fold("null")(fmt)}}"""
          }
        // drift-NORMALIZED ratio: total ratio divided by the control
        // panel's (median) ratio, so host drift (which moves both alike)
        // cancels and a machine threshold on this one field flags real
        // regressions even on a drifting host (r13 verdict #7)
        val adj =
          controlRatio.filter(c => c > 0 && ratio > 0)
            .fold(""""ratio_drift_adjusted":null""")(c =>
              s""""ratio_drift_adjusted":${fmt(ratio / c)}""")
        val base = if (baselineId.isEmpty) "" else "," + baselineId
        Some(s""""common_keys":${common.size},"prev_sec":${fmt(prevSum)},"cur_sec":${fmt(curSum)},"ratio":${fmt(ratio)},$adj,$ctl$base""")
      }
    def vsPrev(extra: String) = """"vs_prev_round":""" + vsFields.fold("null")(f => s"{$f$extra}")
    val layersJson =
      if (layers.isEmpty) ""
      else ""","layers":""" + Harness.json.writeValueAsString(ListMap.from(layers))
    val fullLine =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","repeat":$repeat,"failed":${failedNames.size},"failed_queries":$failedJson,"codegen_compiles":${passCompiles.mkString("[", ",", "]")},${vsPrev(grown)},"queries":$fullJson$layersJson,"sf":"$sf"}"""
    val qs = stdoutKeys.filter(byName.contains)
      .map(k => "\"" + k + "\":" + fmt(byName(k)))
      .mkString("{", ",", "}")
    val stdoutLine =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"sf":"$sf","queries_run":${results.size},"failed":${failedNames.size},${vsPrev("")},"full":"$fullOut"}"""
    (fullLine, stdoutLine, failedNames)
  }

  /** The [[Tag.Control]] drift-controls panel. */
  val controlCells: Seq[String] = Queries.catalog.filter(_.is(Tag.Control)).map(_.name)

  /** Keys of the stdout line: the [[Tag.Headline]] cells, then the
    * `_portable` keys of the [[Tag.HeadlinePortable]] cells. */
  val stdoutKeys: Seq[String] =
    Queries.catalog.filter(_.is(Tag.Headline)).map(_.name) ++
      Queries.catalog.filter(_.is(Tag.HeadlinePortable)).map(_.name + "_portable")
}
