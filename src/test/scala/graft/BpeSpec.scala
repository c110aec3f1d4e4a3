package graft

import graft.functions.BpeTrainer
import org.apache.spark.sql.functions._

/** BPE trainer: the learned merge sequence must match the hand-derived
  * classic-BPE result on a known corpus, merges must be greedy
  * left-to-right on overlapping runs, and tokenize must replay the learned
  * merges exactly. */
class BpeSpec extends SparkSpec {
  test("learned merges match classic BPE on the low/lower/lowest corpus") {
    val s = spark; import s.implicits._
    // word freqs: low=20, lower=10, lowest=10
    val docs = Seq.fill(10)("low low lower lowest").toDF("text")
    val got = BpeTrainer.train(docs, "text", merges = 3)
      .orderBy("round").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    // round 1: (l,o)=40 ties (o,w)=40 → lhs asc picks (l,o)
    // round 2: (lo,w)=40   round 3: (low,e)=20
    assert(got.toSeq === Seq(
      (1, "l", "o", 40L), (2, "lo", "w", 40L), (3, "low", "e", 20L)))
  }

  test("merges are greedy left-to-right on overlapping runs") {
    val s = spark; import s.implicits._
    val docs = Seq.fill(5)("aaaa").toDF("text")
    val got = BpeTrainer.train(docs, "text", merges = 2)
      .orderBy("round").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    // "aaaa" has 3 adjacent (a,a) positions ×5 words = 15; the greedy merge
    // takes positions 1-2 and 3-4 → [aa, aa], so round 2 merges (aa,aa)=5
    assert(got.toSeq === Seq((1, "a", "a", 15L), (2, "aa", "aa", 5L)))
  }

  test("training stops early when no pairs remain") {
    val s = spark; import s.implicits._
    val docs = Seq("ab ab ab").toDF("text")
    val got = BpeTrainer.train(docs, "text", merges = 5).collect()
    // one merge (a,b) exhausts every multi-symbol word
    assert(got.length === 1)
  }

  test("tokenize replays the learned merges") {
    val s = spark; import s.implicits._
    val docs = Seq.fill(10)("low low lower lowest").toDF("text")
    val merges = BpeTrainer.train(docs, "text", merges = 3)
      .orderBy("round").collect().map(r => (r.getString(1), r.getString(2)))
    val toks = BpeTrainer.tokenize(
        Seq("lowest", "slow", "low").toDF("w"), "w", merges.toSeq)
      .select(col("tokens")).as[Seq[String]].collect()
    assert(toks(0) === Seq("lowe", "s", "t")) // merge 3 (low,e) applies
    assert(toks(1) === Seq("s", "low")) // (l,o) then (lo,w) both apply
    assert(toks(2) === Seq("low"))
  }

  test("vocabulary build ranks by (count desc, word asc); encode maps OOV to 0") {
    val s = spark; import s.implicits._
    // counts: b=3, a=2, c=2, z=1 → top-3 ids: b→1, a→2 (tie a<c), c→3
    val docs = Seq((1L, "b a c b"), (2L, "a c z b")).toDF("doc_id", "text")
    val vocab = graft.functions.Vocabulary.build(docs, "text", v = 3)
    assert(vocab.orderBy(col("id")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSeq ==
      Seq(("b", 3L, 1), ("a", 2L, 2), ("c", 2L, 3)))
    val enc = graft.functions.Vocabulary
      .encode(docs, "doc_id", "text", vocab)
      .orderBy(col("doc_id"), col("pos")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    assert(enc.toSeq == Seq(
      (1L, 0L, "b", 1L), (1L, 1L, "a", 2L), (1L, 2L, "c", 3L), (1L, 3L, "b", 1L),
      (2L, 0L, "a", 2L), (2L, 1L, "c", 3L), (2L, 2L, "z", 0L), (2L, 3L, "b", 1L)))
  }
}
