package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver records only the last ~2000 chars of bench output (combined
  * stdout+stderr, sbt epilogue included), so the stdout JSON line must stay
  * comfortably under that budget — rounds 1-3 each lost their BENCH artifact
  * to truncation before the line was bounded. These tests fail the build if
  * the pinned headline set grows past the budget.
  */
class BenchFormatSpec extends AnyFunSuite {

  test("worst-case stdout line fits the driver's tail capture") {
    // worst case: every headline value at 7 chars ("999.999"), total at 8,
    // four-digit queries_run, vs_prev_round at its widest — mirrors
    // Bench.main's interpolation exactly
    val qs = Bench.stdoutKeys.map(k => "\"" + k + "\":999.999")
      .mkString("{", ",", "}")
    val cells = Bench.controlCells.map("\"" + _ + "\"").mkString("[", ",", "]")
    val vsPrev =
      """"vs_prev_round":{"common_keys":9999,"prev_sec":9999.999,"cur_sec":9999.999,"ratio":99.999,""" +
        """"ratio_drift_adjusted":99.999,""" +
        s""""controls":{"cells":$cells,"prev_sec":9999.999,"cur_sec":9999.999,"ratio":99.999,"ratio_median":99.999},""" +
        """"baseline":{"file":"BENCH_BASELINE_r99.json","round":99,"git":"0123456789ab"}}"""
    val line =
      s"""{"metric":"total","value":9999.999,"unit":"sec","queries":$qs,"sf":"0.01","queries_run":9999,"failed":999,$vsPrev,"full":"BENCH_FULL.json"}"""
    // 2000-char capture minus ~100 chars of sbt/Spark epilogue printed after
    // the line, minus slack for log lines that may interleave on shutdown
    assert(line.length < 1600,
      s"bench stdout line would be ${line.length} chars — trim the headline set " +
        "or its value precision before it outgrows the driver's tail capture")
  }

  test("vs_prev_round compares only keys green in BOTH rounds") {
    val prev = Map("a" -> 1.0, "b" -> 2.0, "c" -> -1.0, "gone" -> 5.0)
    val cur = Seq("a" -> 2.0, "b" -> -1.0, "c" -> 3.0, "new" -> 9.0)
    val (full, stdout, failed) =
      Bench.renderArtifacts(cur, 2, "0.1", "BENCH_FULL.json", prev)
    // only "a" is present and green on both sides: ratio = 2.0/1.0; no
    // control-panel cell is present, so controls (and the drift-normalized
    // ratio, which needs them) are explicit nulls
    val expect =
      """"vs_prev_round":{"common_keys":1,"prev_sec":1.000,"cur_sec":2.000,"ratio":2.000,""" +
        """"ratio_drift_adjusted":null,"controls":null}"""
    assert(full.contains(expect), full)
    assert(stdout.contains(expect))
    assert(failed == Seq("b"))
    // no prior artifact → explicit null, never a fabricated ratio
    val (full2, stdout2, _) =
      Bench.renderArtifacts(cur, 2, "0.1", "x.json", passCompiles = Seq(2606L, 419L))
    assert(full2.contains(""""vs_prev_round":null"""))
    // per-pass codegen compiles go to BENCH_FULL only
    assert(full2.contains(""""codegen_compiles":[2606,419]"""), full2)
    assert(!stdout2.contains("codegen"), stdout2)
  }

  test("ratio_drift_adjusted divides out the control panel's drift") {
    // total ratio 2.5, control (q_triangles) ratio 2.0 → a host that
    // drifted 2× accounts for most of the spread; adjusted = 2.5/2.0 = 1.25
    val prev = Map("a" -> 1.0, "q_triangles" -> 1.0)
    val cur = Seq("a" -> 3.0, "q_triangles" -> 2.0)
    val (full, _, _) =
      Bench.renderArtifacts(cur, 1, "0.1", "BENCH_FULL.json", prev)
    assert(full.contains(""""ratio_drift_adjusted":1.250"""), full)
    // the panel members are listed by NAME in-artifact, so a panel edit is
    // visible in the artifact's round diff (r15 verdict #2)
    assert(full.contains(""""controls":{"cells":["q_triangles"],"prev_sec":1.000,"cur_sec":2.000,"ratio":2.000,"ratio_median":2.000}"""), full)
  }

  test("control aggregation is the MEDIAN of per-cell ratios, not the sum-ratio") {
    // three controls: two flat (1.0×), one inflated 10× by a contention
    // burst. Sum-ratio would read (1+1+10)/3 = 4.0 and taint the adjusted
    // total; the median reads 1.0 and the adjustment survives the outlier.
    val prev = Map("a" -> 8.0,
      "q_sort" -> 1.0, "q_join_inner" -> 1.0, "q_triangles" -> 1.0)
    val cur = Seq("a" -> 16.0,
      "q_sort" -> 1.0, "q_join_inner" -> 10.0, "q_triangles" -> 1.0)
    val (full, _, _) =
      Bench.renderArtifacts(cur, 1, "0.1", "BENCH_FULL.json", prev)
    assert(full.contains(""""ratio_median":1.000"""), full)
    // total ratio 28/11 = 2.545; adjusted by the median (1.0), not the
    // sum-ratio (12/3): the real 2× regression of "a" stays visible
    assert(full.contains(""""ratio_drift_adjusted":2.545"""), full)
  }

  test("ratio_median is null, not a sentinel, when no control has a usable ratio") {
    // the control is present and green on both sides but its previous time
    // is 0, so no per-cell ratio exists
    val prev = Map("a" -> 1.0, "q_triangles" -> 0.0)
    val cur = Seq("a" -> 2.0, "q_triangles" -> 1.0)
    val (full, _, _) =
      Bench.renderArtifacts(cur, 1, "0.1", "BENCH_FULL.json", prev)
    assert(full.contains(""""ratio_median":null}"""), full)
    assert(full.contains(""""ratio_drift_adjusted":null"""), full)
  }

  test("JSON string escaper round-trips quotes, backslashes and control chars") {
    val name = "q\"a\\b\tc\u0001d"
    val json = s"{${Harness.jsonString(name)}:${Harness.jsonString(name)}}"
    val parsed = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(json, classOf[java.util.Map[String, String]])
    assert(parsed.get(name) == name, json)
  }

  test("BENCH_LINE path rewrites the file name only") {
    assert(Bench.linePath("BENCH_FULL.json") == "BENCH_LINE.json")
    assert(Bench.linePath("BENCH_FULL_sf0.001.json") == "BENCH_LINE_sf0.001.json")
    assert(Bench.linePath("/x/BENCH_FULL/BENCH_FULL.json") == "/x/BENCH_FULL/BENCH_LINE.json")
    assert(Bench.linePath("/x/BENCH_FULL/out.json") == "/x/BENCH_FULL/out.json.line.json")
  }

  test("parseGraftConf keeps k=v pairs and drops malformed tokens loudly") {
    assert(Harness.parseGraftConf(None) == Nil)
    assert(Harness.parseGraftConf(Some("a=1;b = x=y ;;oops;=v")) ==
      Seq(("a", "1"), ("b", "x=y")))
  }

  test("resolvePrev prefers the newest BENCH_BASELINE snapshot and names it") {
    // run in a temp cwd-independent way: baselineIdentity reads the file
    // directly, so exercise it on a synthetic snapshot
    val tmp = java.nio.file.Files.createTempFile("BENCH_BASELINE_r15", ".json")
    java.nio.file.Files.write(tmp,
      """{"baseline_round":15,"baseline_git":"edd405c","metric":"total","queries":{"q_a":1.0},"sf":"0.1"}"""
        .getBytes("UTF-8"))
    val id = Bench.baselineIdentity(tmp.toString)
    assert(id.contains(""""round":15"""), id)
    assert(id.contains(""""git":"edd405c""""), id)
    assert(id.contains(tmp.getFileName.toString), id)
    // a legacy BENCH_FULL baseline still gets named by file
    val legacy = java.nio.file.Files.createTempFile("bench_legacy", ".json")
    java.nio.file.Files.write(legacy,
      """{"metric":"total","queries":{"q_a":1.0},"sf":"0.1"}""".getBytes("UTF-8"))
    val lid = Bench.baselineIdentity(legacy.toString)
    assert(lid.contains(legacy.getFileName.toString) && !lid.contains("round"),
      lid)
    // the identity fragment lands inside vs_prev_round verbatim
    val (full, _, _) = Bench.renderArtifacts(Seq("q_a" -> 2.0), 1, "0.1",
      "x.json", Map("q_a" -> 1.0), id)
    assert(full.contains(""""baseline":{"file":""""), full)
    assert(full.contains(""""round":15"""), full)
    java.nio.file.Files.delete(tmp); java.nio.file.Files.delete(legacy)
    // the repo itself carries the r15 snapshot: resolvePrev from the repo
    // root must pick a BENCH_BASELINE_r*.json, never the overwritable
    // BENCH_FULL.json convention path (the r14/r15 intra-round bug)
    if (java.nio.file.Files.exists(
        java.nio.file.Paths.get("BENCH_BASELINE_r15.json"))) {
      val (path, qs, ident) = Bench.resolvePrev("0.1")
      // r17: the snapshot search anchors at the repo root (cwd-upward
      // walk), so the resolved path may be absolute — the NAME proves the
      // snapshot tier was chosen over the convention path
      assert(java.nio.file.Paths.get(path).getFileName.toString
        .startsWith("BENCH_BASELINE_r"), path)
      assert(qs.nonEmpty, "snapshot must parse")
      assert(ident.contains(""""round":"""), ident)
    }
  }

  test("readPrevQueries parses our own BENCH_FULL format and misses safely") {
    val tmp = java.nio.file.Files.createTempFile("bench_prev", ".json")
    val body =
      """{"metric":"total","value":3.5,"unit":"sec","repeat":2,"failed":1,"failed_queries":["q_b"],"vs_prev_round":null,"queries":{"q_a":1.25,"q_b":-1.0,"q_c":2.25},"sf":"0.1"}"""
    java.nio.file.Files.write(tmp, body.getBytes("UTF-8"))
    val m = Bench.readPrevQueries(tmp.toString)
    assert(m == Map("q_a" -> 1.25, "q_b" -> -1.0, "q_c" -> 2.25))
    assert(Bench.readPrevQueries(tmp.toString, "0.1") == m,
      "matching sf must not suppress the comparison")
    assert(Bench.readPrevQueries(tmp.toString, "0.001").isEmpty,
      "a prior artifact at a different scale factor must be ignored")
    // an artifact MISSING its sf field is a mismatch, not a vacuous match —
    // cross-scale ratios must never come out of an untagged file
    val noSf = java.nio.file.Files.createTempFile("bench_prev_nosf", ".json")
    java.nio.file.Files.write(noSf,
      """{"metric":"total","queries":{"q_a":1.25}}""".getBytes("UTF-8"))
    assert(Bench.readPrevQueries(noSf.toString, "0.1").isEmpty,
      "missing sf field must suppress the comparison")
    assert(Bench.readPrevQueries(noSf.toString) == Map("q_a" -> 1.25),
      "no requested sf still parses (caller opted out of the guard)")
    java.nio.file.Files.delete(noSf)
    assert(Bench.readPrevQueries("/nonexistent/path.json").isEmpty)
    java.nio.file.Files.delete(tmp)
  }

  test("vs_prev_round lists cells that grew structurally, in BENCH_FULL only") {
    // q_pagerank at sf0.1 once ran 2 more single-task stages per pass with
    // no more jobs: 17 jobs, stages and tasks 18 -> 20
    val before = Layers(jobs = 17, stages = 18, tasks = 18,
      shuffleWriteBytes = 1000L, planningMs = Map("analysis" -> 3L))
    val hits = Layers(jobs = 9, stages = 14, tasks = 21, shuffleWriteBytes = 100000L)
    val times = Seq("q_pagerank" -> 1.0, "q_hits" -> 2.0)
    val (prevFull, _, _) = Bench.renderArtifacts(times, 2, "0.1", "x.json",
      layers = Seq("q_pagerank" -> before, "q_hits" -> hits))
    val tmp = java.nio.file.Files.createTempFile("bench_layers", ".json")
    java.nio.file.Files.write(tmp, prevFull.getBytes("UTF-8"))
    val prevLayers = Bench.readPrevLayers(tmp.toString, "0.1")
    assert(prevLayers == Some(Map("q_pagerank" -> before, "q_hits" -> hits)), prevFull)
    assert(prevLayers.get("q_pagerank").planningMs.values.sum == 3L)
    // shuffle bytes inside the run-to-run spread are not growth
    val cur = Seq("q_pagerank" -> before.copy(stages = 20, tasks = 20),
      "q_hits" -> hits.copy(shuffleWriteBytes = 100500L))
    val grown = prevLayers.map(Bench.structural(cur, _))
    assert(grown == Some(Seq("q_pagerank")))
    assert(Bench.structural(Seq("q_hits" -> hits.copy(shuffleWriteBytes = 200000L)),
      Map("q_hits" -> hits)) == Seq("q_hits"))
    val (full, stdout, _) = Bench.renderArtifacts(times, 2, "0.1", "x.json",
      Bench.readPrevQueries(tmp.toString, "0.1"), layers = cur, structural = grown)
    assert(full.contains(""""structural":["q_pagerank"]}"""), full)
    assert(!stdout.contains("structural") && !stdout.contains("layers"), stdout)
    // a baseline without layers: null, never []
    val legacy = java.nio.file.Files.createTempFile("bench_legacy", ".json")
    java.nio.file.Files.write(legacy,
      """{"metric":"total","queries":{"q_pagerank":1.0},"sf":"0.1"}""".getBytes("UTF-8"))
    assert(Bench.readPrevLayers(legacy.toString, "0.1").isEmpty)
    val (full2, _, _) = Bench.renderArtifacts(times, 2, "0.1", "x.json",
      Map("q_pagerank" -> 1.0), layers = cur)
    assert(full2.contains(""""structural":null}"""), full2)
    java.nio.file.Files.delete(tmp); java.nio.file.Files.delete(legacy)
  }
}
