package graft

import graft.functions.FuzzyJoin
import org.apache.spark.sql.functions._

/** Deletion-neighborhood fuzzy join: must find EXACTLY the pairs the naive
  * O(n²) cross join finds at distance ≤ 1 — substitutions, insertions,
  * deletions, and the distance-2 shared-variant false-candidates ("ab"/"ba")
  * filtered back out by the residual. */
class FuzzyJoinSpec extends SparkSpec {
  def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    FuzzyJoin.selfJoinWithin1(df, "id", "s")
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("equals the naive cross join on an adversarial alphabet") {
    val s = spark; import s.implicits._
    // crafted cases: substitution (abc/abd), deletion (abc/ab), insertion
    // (abc/abcd), transposition at distance 2 (ab/ba — shares variants but
    // must NOT match), duplicates at distance 0, empty and 1-char strings
    val rows = Seq("abc", "abd", "ab", "abcd", "ba", "", "a", "b", "abc",
      "xyz", "xyyz", "zzzz").zipWithIndex
      .map { case (str, i) => (i.toLong, str) }
    val df = rows.toDF("id", "s")
    val expect = df.as("x").join(df.as("y"),
        col("x.id") < col("y.id") &&
          levenshtein(col("x.s"), col("y.s")) <= 1)
      .select(col("x.id"), col("y.id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = pairs(df)
    assert(got == expect,
      s"missing=${expect -- got} spurious=${got -- expect}")
    // the transposition specifically must be excluded
    assert(!got.contains((0L, 4L)) && !got.contains((4L, 0L)))
  }

  test("plans an equi-join on the variant, not a cartesian") {
    val s = spark; import s.implicits._
    val df = (0 until 50).map(i => (i.toLong, s"name$i")).toDF("id", "s")
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val plan = FuzzyJoin.selfJoinWithin1(df, "id", "s")
        .queryExecution.executedPlan.toString
      assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
        s"fuzzy join planned a quadratic join:\n$plan")
    }
  }

  test("Jaro-Winkler matches the reference vectors (DuckDB-probed semantics)") {
    import graft.plans.JaroWinklerExpr.{similarity => jw}
    def s(x: String) = x.getBytes("UTF-8")
    // classic published vectors, plus the semantics pins probed against
    // DuckDB's jaro_winkler_similarity: bytes (not codepoints), empty -> 0,
    // floor(t/2) transpositions, boost only above 0.7
    assert(math.abs(jw(s("martha"), s("marhta")) - 0.9611111111111111) < 1e-15)
    assert(math.abs(jw(s("DIXON"), s("DICKSONX")) - 0.8133333333333332) < 1e-15)
    assert(jw(s(""), s("")) == 0.0 && jw(s("a"), s("")) == 0.0)
    assert(jw(s("abc"), s("abc")) == 1.0)
    assert(jw(s("ab"), s("ba")) == 0.0) // window 0: no cross-position match
    // odd transposition count floors: (1 + 1 + 5/6)/3, NOT (... 4.5/6 ...)
    assert(math.abs(jw(s("abcdef"), s("bcadef")) - 0.9444444444444445) < 1e-15)
    // jaro <= 0.7 gets NO winkler boost despite the shared prefix
    assert(jw(s("abcdefgh"), s("abzzzzzz")) == 0.5)
    // byte orientation: 'número'/'numero' compares UTF-8 bytes (len 7 vs 6)
    assert(math.abs(jw(s("número"), s("numero")) - 0.8642857142857143) < 1e-15)
    // the Column wrapper evaluates the same function distributed
    val sp = spark; import sp.implicits._
    val got = Seq(("martha", "marhta")).toDF("a", "b")
      .select(graft.functions.EntityResolution.jaroWinkler(col("a"), col("b")))
      .head().getDouble(0)
    assert(math.abs(got - 0.9611111111111111) < 1e-15)
  }

  test("erSelfJoin: blocked pairs only, threshold on the rounded score") {
    val s = spark; import s.implicits._
    val df = Seq((1L, "martha"), (2L, "marhta"), (3L, "maxine"),
      (4L, "zzdiff"), (5L, "ma"), (6L, "xx")).toDF("id", "name")
    val got = graft.functions.EntityResolution
      .erSelfJoin(df, "id", "name", threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(4))).toSet
    // all survivors share the 2-byte block "ma"; zzdiff/xx pair with nobody
    assert(got.map(_._1).forall(Set(1L, 2L, 3L, 5L)) &&
      got.map(_._2).forall(Set(2L, 3L, 5L)))
    assert(got.exists(t => t._1 == 1L && t._2 == 2L &&
      math.abs(t._3 - 0.961111111) < 1e-9))
    // cross-block pair never scored even though similar ("xx" vs "zz...")
    assert(!got.exists(t => t._1 == 4L || t._2 == 4L))
  }

  test("erSelfJoin: identical strings shorter than blockLen still pair") {
    val s = spark; import s.implicits._
    val df = Seq((1L, "a"), (2L, "a"), (3L, "ab")).toDF("id", "name")
    val got = graft.functions.EntityResolution
      .erSelfJoin(df, "id", "name", threshold = 0.9, blockLen = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(4))).toSet
    // a 1-byte string blocks on its full value — (1,2) is exact (sim 1.0);
    // the old length >= blockLen filter dropped both rows silently
    assert(got.contains((1L, 2L, 1.0)), got.toString)
    // EMPTY strings stay excluded (they'd all share one '' block and
    // self-join quadratically)
    val withEmpties = Seq((1L, ""), (2L, ""), (3L, "ab")).toDF("id", "name")
    assert(graft.functions.EntityResolution
      .erSelfJoin(withEmpties, "id", "name", threshold = 0.0).count() == 0L)
  }
}
