package graft

import graft.functions.{CorpusMetrics, InvertedIndex, Similarity}
import org.apache.spark.sql.functions._

/** Round-8 corpus metrics + retrieval/embedding additions: JS divergence
  * bounds, distinct-n closed forms, phrase-search positional semantics,
  * centroid-cosine label agreement. */
class CorpusMetricsSpec extends SparkSpec {
  test("jsDivergence: 0 on identical corpora, 1 bit on disjoint, symmetric bound") {
    val s = spark; import s.implicits._
    val a = Seq("x y z", "x x").toDF("text")
    val same = CorpusMetrics.jsDivergence(a, a, "text").head()
    assert(same.getLong(4) == 0L, "identical corpora must diverge by 0")
    val b = Seq("p q", "q q q").toDF("text")
    val disj = CorpusMetrics.jsDivergence(a, b, "text").head()
    // disjoint support: JS = 1 bit exactly -> 2*JS = 2e9 nano-bits
    assert(disj.getLong(4) == 2000000000L,
      s"disjoint corpora must diverge by exactly 1 bit, got ${disj.getLong(4)}")
    assert(disj.getLong(1) == 0L, "no shared vocab on disjoint corpora")
  }

  test("distinctNgrams: closed form and the all-repeats floor") {
    val s = spark; import s.implicits._
    val df = Seq(
      ("u", "a b c d"),      // 3 bigrams, all distinct -> ratio 1.0
      ("v", "a b a b a b"))  // 5 bigrams: "a b" x3, "b a" x2 -> 2/5
      .toDF("src", "text")
    val got = CorpusMetrics.distinctNgrams(df, "src", "text", 2)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got("u") == ((3L, 3L, 1.0)))
    assert(got("v") == ((5L, 2L, 0.4)))
  }

  test("jsDivergence: an EMPTY side reports 1 bit, never NULL") {
    val s = spark; import s.implicits._
    val a = Seq("x y z", "x x").toDF("text")
    val empty = Seq.empty[String].toDF("text")
    // a failed (empty) crawl is MAXIMUM one-sided drift: every token term
    // contributes pa*log2(2pa/pa) = pa bits -> 1e9 nano-bits; the old n/0
    // NULLed the whole report exactly when the drift monitor mattered most
    val r = CorpusMetrics.jsDivergence(a, empty, "text").head()
    assert(!r.isNullAt(4) && r.getLong(4) == 1000000000L, r.toString)
    assert(r.getLong(3) == 0L) // tokens_b
  }

  test("distinctNgrams: a key with only sub-n documents still appears") {
    val s = spark; import s.implicits._
    val df = Seq(
      ("long", "a b c d"),
      ("tiny", "a"), ("tiny", "b")) // no bigram can form
      .toDF("src", "text")
    val got = CorpusMetrics.distinctNgrams(df, "src", "text", 2)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // the degenerate source is the one the detector exists to flag — it
    // must not vanish from the report
    assert(got.contains("tiny"), got.toString)
    assert(got("tiny") == ((0L, 0L, 1.0)))
    assert(got("long") == ((3L, 3L, 1.0)))
  }

  test("phraseQuery: positions, repeated-term phrases, and empty-token gaps") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, "a b a b a"),   // "a b a" at 0 and 2
      (2L, "a  b a"),      // double space: "a" @0, "" @1, "b" @2 -> no "a b"
      (3L, "b a b"))       // no "a b a"
      .toDF("doc_id", "text")
    val pos = InvertedIndex.buildPositional(docs, "doc_id", "text")
    val got = InvertedIndex.phraseQuery(pos, Seq("a", "b", "a"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 0L), (1L, 2L)))
    val two = InvertedIndex.phraseQuery(pos, Seq("a", "b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // doc 2's double space breaks adjacency — position holders count
    assert(two == Set((1L, 0L), (1L, 2L), (3L, 1L)))
  }

  test("centroidCosine: on-centroid vectors score 1, antipodal scores lowest") {
    val s = spark; import s.implicits._
    val df = Seq(
      (1L, 0, Array(1.0f, 0.0f)),
      (2L, 0, Array(1.0f, 0.0f)),
      (3L, 1, Array(0.0f, 1.0f)))
      .toDF("vec_id", "label", "embedding")
    val got = Similarity.centroidCosine(df, "vec_id", "label", "embedding")
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
    assert(got(1L) == 1.0 && got(2L) == 1.0 && got(3L) == 1.0)
    // a mislabeled vector (orthogonal to its label centroid) scores lower
    val df2 = Seq(
      (1L, 0, Array(1.0f, 0.0f)),
      (2L, 0, Array(1.0f, 0.0f)),
      (5L, 0, Array(0.0f, 1.0f))).toDF("vec_id", "label", "embedding")
    val got2 = Similarity.centroidCosine(df2, "vec_id", "label", "embedding")
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
    assert(got2(5L) < got2(1L))
  }

  test("zipfSlope: a perfect 1/r corpus fits slope -1") {
    val s = spark; import s.implicits._
    // token t_r repeated round(60/r) times, r = 1..6 -> ln f = ln 60 - ln r
    val rows = (1 to 6).flatMap(r => Seq.fill(60 / r)(s"t$r"))
    val df = Seq(rows.mkString(" ")).toDF("text")
    val slope = CorpusMetrics.zipfSlope(df, "text", topK = 6).head().getDouble(0)
    assert(math.abs(slope - (-1.0)) < 0.05, s"expected ~-1, got $slope")
  }
}
