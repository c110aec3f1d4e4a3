package graft

import graft.functions.{QualityFilters, Redaction, Sampling, TextAnalysis}
import org.apache.spark.sql.functions._

/** Training-data curation operators: Gopher repetition filters,
  * deterministic hash split / stratified sampling, PII redaction. Every
  * expectation here is closed-form (hand-computed on tiny fixtures). */
class CurationSpec extends SparkSpec {
  test("duplicate line fractions: hand-computed") {
    val s = imp; import s._
    // 4 non-blank lines, 'aa' repeated once (3 distinct): frac = 1 - 3/4.
    // chars: total 2+2+3+2=9, first-occurrence 2+3+2=7 → char frac 2/9
    val df = Seq((1L, "aa\naa\nbbb\ncc\n\n  \n")).toDF("id", "t")
    val r = df.select(
      QualityFilters.duplicateLineFraction(col("t")).as("f"),
      QualityFilters.duplicateLineCharFraction(col("t")).as("c")).head()
    assert(math.abs(r.getDouble(0) - 0.25) < 1e-12)
    assert(math.abs(r.getDouble(1) - 2.0 / 9.0) < 1e-12)
    // no lines at all → defined 0.0, not NaN
    val empty = Seq((1L, "")).toDF("id", "t").select(
      QualityFilters.duplicateLineFraction(col("t")).as("f"),
      QualityFilters.duplicateLineCharFraction(col("t")).as("c")).head()
    assert(empty.getDouble(0) == 0.0 && empty.getDouble(1) == 0.0)
  }

  test("c4 line cleaning: per-line rules, page bans, boundary counts") {
    val s = imp; import s._
    // line survives iff terminal punct AND >= 2 words AND no 'javascript'
    val doc = "Good line here.\nno punct line\nshort.\n" +
      "Uses JavaScript heavily.\nAnother good one!\nQuoted \"line\" stays.\""
    val df = Seq((1L, doc)).toDF("id", "t")
    val r = df.select(
      QualityFilters.c4CleanText(col("t"), minWords = 2).as("clean"),
      size(QualityFilters.c4KeptLines(col("t"), minWords = 2)).as("n")).head()
    // drops: 'no punct line' (no terminal), 'short.' (1 word), the
    // JavaScript line (banned token, case-insensitive); keeps 3
    assert(r.getString(0) ==
      "Good line here.\nAnother good one!\nQuoted \"line\" stays.\"")
    assert(r.getInt(1) == 3)
    // page keep: n >= minLines, no 'lorem ipsum', no brace
    val keep = df.select(QualityFilters.c4Keep(lit(3), col("t"), 3)).head()
    assert(keep.getBoolean(0))
    val bans = Seq(
      (lit(2), "fine text."),            // below minLines
      (lit(9), "has Lorem Ipsum in it."), // placeholder ban (case-insens)
      (lit(9), "code { return 1; }"))     // brace ban
      .map { case (n, t) => Seq((1L, t)).toDF("id", "t")
        .select(QualityFilters.c4Keep(n, col("t"), 3)).head().getBoolean(0) }
    assert(bans == Seq(false, false, false))
    // empty doc: zero kept lines, empty cleaned text, dropped
    val e = Seq((1L, "")).toDF("id", "t").select(
      QualityFilters.c4CleanText(col("t")).as("c"),
      QualityFilters.c4Keep(size(QualityFilters.c4KeptLines(col("t"))),
        col("t"), 3).as("k")).head()
    assert(e.getString(0) == "" && !e.getBoolean(1))
    // CRLF corpus: line endings are normalized first, so CRLF lines clean
    // exactly like \n lines (without normalization every CRLF line would
    // fail the terminal test on its trailing \r — and a regex $ anchor
    // would disagree between Java and RE2 about that \r)
    val crlf = Seq((1L, "kept crlf line.\r\nno punct crlf line\r\nbare cr kept!\rlast."))
      .toDF("id", "t")
      .select(QualityFilters.c4KeptLines(col("t"), minWords = 2)).head()
    assert(crlf.getSeq[String](0) == Seq("kept crlf line.", "bare cr kept!"))
    // NULL text: zero kept lines, empty cleaned text, dropped — not NULL
    val nul = Seq((1L, Option.empty[String])).toDF("id", "t").select(
      QualityFilters.c4CleanText(col("t")).as("c"),
      QualityFilters.c4Keep(size(QualityFilters.c4KeptLines(col("t"))),
        col("t"), 3).as("k")).head()
    assert(nul.getString(0) == "" && !nul.getBoolean(1))
  }

  test("c4 cleaning is idempotent and line-subsetting on the corpus") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val lineified = replace(replace(col("text"),
      lit(" value "), lit(".\n")), lit(" part "), lit("\n"))
    // cleaning already-cleaned text changes nothing: every surviving line
    // still passes every rule
    val once = QualityFilters.c4CleanText(lineified, minWords = 3)
    val notIdempotent = docs
      .select(once.as("a"),
        QualityFilters.c4CleanText(once, minWords = 3).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(notIdempotent == 0)
    // kept lines are a sub-multiset of the original non-blank lines
    val escapees = docs
      .select(QualityFilters.c4KeptLines(lineified, minWords = 3).as("k"),
        QualityFilters.lines(lineified).as("l"))
      .filter(size(array_except(col("k"), col("l"))) > 0).count()
    assert(escapees == 0)
  }

  test("top n-gram share: longest-run fold equals explode+groupBy count") {
    val s = imp; import s._
    // bigrams of "a b a b a": [a b, b a, a b, b a] → top share 2/4
    val one = Seq((1L, "a b a b a")).toDF("id", "t")
      .select(QualityFilters.topNgramShare(col("t"), 2).as("x")).head()
    assert(math.abs(one.getDouble(0) - 0.5) < 1e-12)
    // < n words → 0.0
    val short = Seq((1L, "a")).toDF("id", "t")
      .select(QualityFilters.topNgramShare(col("t"), 2).as("x")).head()
    assert(short.getDouble(0) == 0.0)
    // cross-check the zero-shuffle fold against the explode+groupBy shape
    // on real data (top2 + top3)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for (n <- Seq(2, 3)) {
      val fold = docs.select(col("doc_id"),
        QualityFilters.topNgramShare(col("text"), n).as("share"))
      val exploded = docs.select(col("doc_id"),
          explode(graft.functions.Dedup.shingles(col("text"), n)).as("g"))
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg((max(col("c")).cast("double") / sum(col("c"))).as("share"))
      val joined = fold.as("f").join(exploded.as("e"), Seq("doc_id"), "left_outer")
        .select(col("f.share"), coalesce(col("e.share"), lit(0.0)).as("eshare"))
        .collect()
      assert(joined.nonEmpty)
      joined.foreach(r => assert(r.getDouble(0) == r.getDouble(1),
        s"fold=${r.getDouble(0)} explode=${r.getDouble(1)} n=$n"))
    }
  }

  test("gopher keep flag: repetitive doc dropped, varied doc kept") {
    val s = imp; import s._
    val df = Seq(
      (1L, "the cat sat on the mat and looked out of the window quietly"),
      (2L, "spam spam spam spam spam spam spam spam spam spam")).toDF("doc_id", "text")
    val out = QualityFilters.gopherProfile(df, "doc_id", "text")
      .select(col("doc_id"), col("keep")).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(out(1L))
    assert(!out(2L)) // repeated_word_frac = 0.9, top2_share = 1.0
  }

  test("symbolWordRatio counts OCCURRENCES: one ellipsis = one symbol") {
    val s = imp; import s._
    // 100 words, 4 ellipses: ratio 0.04 — the old length arithmetic read
    // 0.12 and wrongly dropped the doc at Gopher's 0.10 bound
    val text = (1 to 96).map(i => s"w$i").mkString(" ") + " ... ... ... ..."
    val df = Seq((1L, text)).toDF("doc_id", "text")
    val r = df.select(QualityFilters.symbolWordRatio(col("text")).as("r"))
      .head().getDouble(0)
    assert(math.abs(r - 0.04) < 1e-9, s"ratio=$r")
    val keep = QualityFilters.gopherProfile(df, "doc_id", "text")
      .select("keep").head().getBoolean(0)
    assert(keep)
  }

  test("gopherProfile: NULL text follows the empty-doc contract, not tri-state") {
    val s = imp; import s._
    val df = Seq((1L, null.asInstanceOf[String]), (2L, "a fine doc here"))
      .toDF("doc_id", "text")
    val out = QualityFilters.gopherProfile(df, "doc_id", "text")
    // the null-text row must land in exactly one side of a keep split
    val kept = out.filter(col("keep")).count()
    val dropped = out.filter(!col("keep")).count()
    assert(kept + dropped == 2L, s"kept=$kept dropped=$dropped — a row vanished")
  }

  test("bm25TopDocs: empty corpus returns empty, does not NPE") {
    val s = imp; import s._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(TextAnalysis.bm25TopDocs(empty, "doc_id", "text", Seq("q")).count() == 0L)
  }

  test("charLmScore: short and NULL docs come back with zero scores") {
    val s = imp; import s._
    val df = Seq((1L, "hello world text"), (2L, "x"),
      (3L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val out = TextAnalysis.charLmScore(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out.keySet == Set(1L, 2L, 3L))
    assert(out(2L) == (0L, 0.0) && out(3L) == (0L, 0.0))
    assert(out(1L)._1 > 0L && out(1L)._2 < 0.0)
  }

  test("hashSplit: deterministic, exhaustive, rerun-stable, ~80/10/10") {
    val s = imp; import s._
    val df = spark.range(10000).toDF("id")
    val a = Sampling.hashSplit(df, "id").groupBy(col("split")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val b = Sampling.hashSplit(df, "id").groupBy(col("split")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a == b)
    assert(a.values.sum == 10000L)
    assert(a("train") > 7500 && a("train") < 8500)
    assert(a("val") > 700 && a("val") < 1300)
    assert(a("test") > 700 && a("test") < 1300)
    // growth-stable: the assignment of ids 0..4999 is unchanged when the
    // corpus doubles (this is the property df.sample cannot give)
    val half = Sampling.hashSplit(spark.range(5000).toDF("id"), "id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val full = Sampling.hashSplit(df, "id")
      .filter(col("id") < 5000)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(half == full)
    // unsorted thresholds would silently empty a split — must be rejected
    intercept[IllegalArgumentException] {
      Sampling.hashSplit(df, "id",
        Seq(("train", 90), ("val", 80), ("test", 100)))
    }
  }

  test("stratifiedSample: k per stratum, deterministic") {
    val s = imp; import s._
    val df = spark.range(1000).select(col("id"), (col("id") % 3).as("g"))
    val out = Sampling.stratifiedSample(df, "g", "id", 10)
    val counts = out.groupBy(col("g")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts == Map(0L -> 10L, 1L -> 10L, 2L -> 10L))
    val again = Sampling.stratifiedSample(df, "g", "id", 10)
    assert(out.collect().map(_.toString).sorted.sameElements(
      again.collect().map(_.toString).sorted))
    // stratum smaller than k → whole stratum, no padding
    val tiny = Sampling.stratifiedSample(
      spark.range(4).select(col("id"), lit(0L).as("g")), "g", "id", 10)
    assert(tiny.count() == 4)
  }

  test("hashSample: stable subset, fraction within tolerance") {
    val s = imp; import s._
    val df = spark.range(20000).toDF("id")
    val n = Sampling.hashSample(df, "id", 0.1).count()
    assert(n > 1600 && n < 2400, s"got $n")
    // subset property under growth: sample(first half) ⊆ sample(all)
    val allIds = Sampling.hashSample(df, "id", 0.1)
      .collect().map(_.getLong(0)).toSet
    val halfIds = Sampling.hashSample(spark.range(10000).toDF("id"), "id", 0.1)
      .collect().map(_.getLong(0)).toSet
    assert(halfIds.subsetOf(allIds))
  }

  test("hashSample is independent of hashSplit (salted hash decorrelation)") {
    val s = imp; import s._
    // un-salted, sample and split share one hash and the moduli nest
    // (100 | 10^6): threshold 50 < 100 would force EVERY kept id into
    // bucket < 50 < 80 = 'train'. The salt breaks the nesting, so a tiny
    // sample must still spread across train/val/test buckets.
    val df = spark.range(1000000).toDF("id")
    val sampled = Sampling.hashSplit(
      Sampling.hashSample(df, "id", 0.00005), "id")
    val bySplit = sampled.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySplit.values.sum > 20, s"sample unexpectedly tiny: $bySplit")
    assert((bySplit.keySet - "train").nonEmpty,
      s"sample fell entirely into 'train' — hash correlation is back: $bySplit")
  }

  test("redactPii: emails, phones, IPs replaced; counts match") {
    val s = imp; import s._
    val df = Seq(
      (1L, "write alice.smith+x@mail-host.org or call 25-989-741-2988 from 192.168.0.1"),
      (2L, "no pii here at all"),
      (3L, "numeric-host mail user@1.2.3.4 stays one token")).toDF("id", "t")
    val out = df.select(col("id"),
        Redaction.redactPii(col("t")).as("r"),
        Redaction.emailCount(col("t")).as("e"),
        Redaction.phoneCount(col("t")).as("p"),
        Redaction.ipv4Count(col("t")).as("i"),
        Redaction.isClean(col("t")).as("clean"))
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getBoolean(5))).toMap
    assert(out(1L)._1 == "write <EMAIL> or call <PHONE> from <IP>")
    assert(out(1L)._2 == 1 && out(1L)._3 == 1 && out(1L)._4 == 1)
    assert(!out(1L)._5)
    assert(out(2L)._1 == "no pii here at all" && out(2L)._5)
    // a numeric-host address is NOT an email (TLD must be alphabetic) —
    // the host still gets redacted by the IPv4 rule
    assert(out(3L)._1 == "numeric-host mail user@<IP> stays one token")
    assert(out(3L)._2 == 0 && out(3L)._4 == 1)
  }

  test("ipv4 pattern: octet-bounded and anchored — no over-redaction") {
    val s = imp; import s._
    val df = Seq(
      (1L, "version 10.2.3.4000 is out"),   // not an IP: 4000 > 255
      (2L, "host 999.999.999.999 invalid"), // not an IP: octets out of range
      (3L, "real 255.254.1.0 address"),
      (4L, "10.2.3.4.5 ambiguous tail")).toDF("id", "t")
    val out = df.select(col("id"), Redaction.redactPii(col("t")).as("r"),
        Redaction.ipv4Count(col("t")).as("i"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getInt(2))).toMap
    // the old {1,3} pattern turned row 1 into 'version <IP>00 is out' and
    // redacted row 2 wholesale
    assert(out(1L) == ("version 10.2.3.4000 is out", 0))
    assert(out(2L) == ("host 999.999.999.999 invalid", 0))
    assert(out(3L) == ("real <IP> address", 1))
    // dotted quints still match their first four octets (regex-only limit)
    assert(out(4L)._2 == 1)
  }

  test("shuffleKey sharding: permuted, rerun-stable, still a valid packing") {
    val s = imp; import s._
    val df = spark.range(200).select(col("id").as("doc_id"), lit(10L).as("cost"))
    def run(seed: Long) = Sampling.tokenShards(df, "doc_id", col("cost"),
        budget = 100L, partitions = Some(4),
        orderCol = Some(Sampling.shuffleKey(col("doc_id"), seed)))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val a = run(42L)
    assert(run(42L) == a, "same seed must reproduce the same shards")
    assert(run(7L) != a, "a different seed must permute differently")
    // uniform costs: every shard holds exactly budget/cost docs
    assert(a.values.groupBy(identity).values.forall(_.size == 10))
    // the permutation breaks id-locality: shard 0 is not ids 0..9
    assert(a.filter(_._2 == 0L).keySet != (0L until 10L).toSet)
  }

  test("normalizeText: case/punct variants collide, whitespace collapses") {
    val s = imp; import s._
    val out = Seq(
      (1L, "The  Quick,   Brown FOX!"),
      (2L, "the quick brown fox"),
      (3L, "  the\tquick\nbrown   fox  "),
      (4L, "")).toDF("id", "t")
      .select(col("id"), graft.functions.TextAnalysis.normalizeText(col("t")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "the quick brown fox")
    assert(out(2L) == out(1L) && out(3L) == out(1L))
    assert(out(4L) == "")
  }

  test("mixtureSample: per-stratum fractions, subset monotonicity, default") {
    val s = imp; import s._
    val df = spark.range(2000).select(col("id").as("doc_id"),
      concat(lit("s"), pmod(col("id"), lit(4))).as("dom"))
    def ids(fr: Map[String, Double], default: Double = 1.0): Set[Long] =
      Sampling.mixtureSample(df, "dom", "doc_id", fr, default)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    val half = ids(Map("s0" -> 0.5, "s1" -> 0.0), default = 0.2)
    // fraction 0 drops the stratum entirely; default applies to s2/s3
    assert(!half.exists(_ % 4 == 1))
    val s0 = half.count(_ % 4 == 0)
    assert(s0 > 150 && s0 < 350, s"~50% of 500 s0 docs, got $s0")
    val s23 = half.count(i => i % 4 == 2 || i % 4 == 3)
    assert(s23 > 100 && s23 < 300, s"~20% of 1000 s2/s3 docs, got $s23")
    // a lower fraction selects a SUBSET of a higher one (hash threshold)
    val quarter = ids(Map("s0" -> 0.25, "s1" -> 0.0), default = 0.1)
    assert(quarter.subsetOf(half))
    // fraction 1.0 everywhere keeps everything
    assert(ids(Map.empty, default = 1.0).size == 2000)
  }

  test("tokenShards: distributed prefix sum equals the global window cumsum") {
    val s = imp; import s._
    // costs 3,4,5,2,6,1 with budget 7 → exclusive prefixes 0,3,7,12,14,20
    // → shards 0,0,1,1,2,2
    val df = Seq((1L, 3L), (2L, 4L), (3L, 5L), (4L, 2L), (5L, 6L), (6L, 1L))
      .toDF("doc_id", "cost")
    val got = Sampling.tokenShards(df, "doc_id", col("cost"), budget = 7L,
        partitions = Some(3))
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(got == Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 1L, 5L -> 2L, 6L -> 2L))
    // partition-count independence: the result is a pure function of the
    // global order, not of how ranges were cut
    for (p <- Seq(1, 2, 6)) {
      val alt = Sampling.tokenShards(df, "doc_id", col("cost"), budget = 7L,
          partitions = Some(p))
        .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
      assert(alt == got, s"partitions=$p diverged")
    }
    // a document larger than the budget owns its shard start; the next doc
    // skips past the budgets it consumed: costs 10,1 budget 3 → shards 0,3
    val big = Sampling.tokenShards(
        Seq((1L, 10L), (2L, 1L)).toDF("doc_id", "cost"),
        "doc_id", col("cost"), budget = 3L, partitions = Some(2))
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(big == Map(1L -> 0L, 2L -> 3L))
  }

  test("tfidfTopTerms: closed-form scores, rare terms outrank common ones") {
    val s = imp; import s._
    val docs = Seq(
      (1L, "apple apple banana"),
      (2L, "banana cherry"),
      (3L, "cherry cherry cherry date")).toDF("doc_id", "text")
    // N=3; df: apple 1, banana 2, cherry 2, date 1
    def sc(tf: Long, dfc: Long): Double =
      BigDecimal.valueOf(tf * math.log(3.0 / dfc))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = graft.functions.TextAnalysis
      .tfidfTopTerms(docs, "doc_id", "text", k = 2)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, -t._4, t._2)).toSeq
    assert(got == Seq(
      (1L, "apple", 2L, sc(2, 1)),   // rare + frequent-in-doc wins
      (1L, "banana", 1L, sc(1, 2)),
      (2L, "banana", 1L, sc(1, 2)),  // tie with cherry → term asc
      (2L, "cherry", 1L, sc(1, 2)),
      (3L, "cherry", 3L, sc(3, 2)),
      (3L, "date", 1L, sc(1, 1))))
  }

  test("bm25TopDocs: rare-term docs outrank common-term docs; tf monotone") {
    val s = imp; import s._
    val docs = Seq(
      (1L, "rare common alpha beta"),       // rare once (df 2) + common
      (2L, "rare rare common alpha"),       // rare twice → ranks first
      (3L, "common common common alpha"),   // only the ubiquitous term
      (4L, "common alpha beta gamma"),      // ditto, tf 1 → ranks last
      (5L, "alpha beta gamma delta")        // no query terms → no row
    ).toDF("doc_id", "text")
    // 'common' in 4/5 docs (low idf), 'rare' in 2/5 (high idf)
    val got = graft.functions.TextAnalysis
      .bm25TopDocs(docs, "doc_id", "text", Seq("rare", "common"), k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got.map(_._1) == Seq(2L, 1L, 3L, 4L),
      s"expected rare-tf2 > rare-tf1 > common-tf3 > common-tf1, got $got")
    assert(got.forall(_._2 > 0.0))
  }

  test("weightedSample: heavy weights dominate, zero weights drop, rerun-stable") {
    val s = imp; import s._
    // 500 light rows (w=1) vs 500 heavy rows (w=50): A-Res inclusion
    // scales with weight, so the 100-row sample should be mostly heavy
    val rows = (1L to 500L).map(i => (i, 1.0)) ++
      (501L to 1000L).map(i => (i, 50.0)) ++ Seq((1001L, 0.0))
    val df = rows.toDF("id", "w")
    val got = graft.functions.Sampling
      .weightedSample(df, "id", col("w"), k = 100)
      .select("id").collect().map(_.getLong(0))
    assert(got.length == 100)
    assert(!got.contains(1001L), "zero-weight row must never be drawn")
    val heavy = got.count(_ > 500L)
    assert(heavy > 80, s"expected heavy rows to dominate, got $heavy/100")
    val again = graft.functions.Sampling
      .weightedSample(df, "id", col("w"), k = 100)
      .select("id").collect().map(_.getLong(0))
    assert(got.toSeq == again.toSeq, "draw must be deterministic")
  }

  test("packSequences: rows fill exactly, docs are fully covered, partition-independent") {
    val s = imp; import s._
    val docs = (1L to 200L).map(i => (i, ((i * 37) % 100 + 1).toInt))
      .toDF("doc_id", "n_tok")
    def run(p: Int) = graft.functions.Sampling
      .packSequences(docs, "doc_id", col("n_tok"), seqLen = 128L,
        partitions = Some(p))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    val a = run(1); val b = run(7)
    assert(a == b, "manifest depends on partitioning")
    // every full row holds exactly seqLen tokens; segments tile each row
    // with no gaps or overlaps
    val byRow = a.groupBy(_._3).view.mapValues(_.toSeq.sortBy(_._5)).toMap
    val lastRow = byRow.keys.max
    byRow.foreach { case (row, segs) =>
      val total = segs.map(_._6).sum
      if (row != lastRow) assert(total == 128L, s"row $row holds $total")
      var at = 0L
      segs.foreach { seg => assert(seg._5 == at, s"gap in row $row"); at += seg._6 }
    }
    // every doc's segments cover [0, cost) contiguously
    a.groupBy(_._1).foreach { case (doc, segs) =>
      val sorted = segs.toSeq.sortBy(_._4)
      val cost = sorted.head._2
      assert(sorted.map(_._6).sum == cost, s"doc $doc not fully packed")
      var at = 0L
      sorted.foreach { seg => assert(seg._4 == at); at += seg._6 }
    }
  }

  test("chunkDocuments: full coverage, exact overlap, short docs, reconstruction") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, (1 to 150).map(i => s"w$i").mkString(" ")), // 150 tokens → 3 chunks
      (2L, (1 to 64).map(i => s"w$i").mkString(" ")),  // exactly one chunk
      (3L, "a b c"),                                   // shorter than overlap
      (4L, "")                                         // no tokens → no chunks
    ).toDF("doc_id", "text")
    val got = graft.functions.TextAnalysis
      .chunkDocuments(docs, "doc_id", "text", chunkTokens = 64, overlap = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val byDoc = got.groupBy(_._1)
    // 150 tokens, stride 48: ceil((150-16)/48) = 3 chunks at 0/48/96
    assert(byDoc(1L).length == 3)
    val c1 = byDoc(1L).sortBy(_._2).map(_._4.split(" ").toSeq)
    assert(c1(0).head == "w1" && c1(0).length == 64)
    // consecutive chunks overlap by exactly `overlap` tokens
    assert(c1(0).takeRight(16) == c1(1).take(16))
    assert(c1(1).takeRight(16) == c1(2).take(16))
    // stitching chunks (dropping each successor's overlap) rebuilds the doc
    val stitched = c1(0) ++ c1.drop(1).flatMap(_.drop(16))
    assert(stitched == (1 to 150).map(i => s"w$i"))
    assert(byDoc(2L).map(t => (t._2, t._3)).toSeq == Seq((0L, 64L)))
    assert(byDoc(3L).map(t => (t._2, t._3, t._4)).toSeq == Seq((0L, 3L, "a b c")))
    assert(!byDoc.contains(4L))
  }

  test("tokenBudgetMixture: budgets hit, first-crossing kept, prefix property, partition-independent") {
    val s = spark; import s.implicits._
    // two strata with known token costs; "c" has no budget → kept whole
    val docs = (1L to 40L).map(i =>
      (i, if (i <= 20) "a" else if (i <= 30) "b" else "c",
        (1 to (i % 5 + 1).toInt).map(j => s"t$j").mkString(" ")))
      .toDF("doc_id", "src", "text")
    def run(budgets: Map[String, Long], parts: Int) =
      graft.functions.Sampling.tokenBudgetMixture(docs, "src", "doc_id",
        graft.functions.TextAnalysis.tokenCount(col("text")), budgets,
        partitions = Some(parts))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val got = run(Map("a" -> 10L, "b" -> 7L), 4)
    val byStr = got.groupBy(_._2)
    // budget semantics: total-before-last < budget <= total (first crossing
    // kept), so total < budget + max doc cost
    for ((st, b) <- Seq("a" -> 10L, "b" -> 7L)) {
      val costs = byStr(st).map(_._3)
      // first-crossing semantics: budget reached, overshoot < max doc cost
      assert(costs.sum >= b, s"stratum $st under budget")
      assert(costs.sum < b + 5, s"stratum $st overshoots by a full doc")
    }
    assert(byStr("c").length == 10) // no budget → whole stratum
    // prefix property: a smaller budget selects a subset
    val small = run(Map("a" -> 5L, "b" -> 7L), 4)
    assert(small.filter(_._2 == "a").map(_._1).toSet
      .subsetOf(got.filter(_._2 == "a").map(_._1).toSet))
    // partition-count independence
    assert(run(Map("a" -> 10L, "b" -> 7L), 1).toSet == got.toSet)
    assert(run(Map("a" -> 10L, "b" -> 7L), 7).toSet == got.toSet)
  }

  test("epochMixture: full epochs + partial prefix, downsample ≡ tokenBudgetMixture, guards") {
    val s = spark; import s.implicits._
    // stratum a: 20 docs, 60 tokens total; b: 10 docs, 30; c: 10 docs, 30
    val docs = (1L to 40L).map(i =>
      (i, if (i <= 20) "a" else if (i <= 30) "b" else "c",
        (1 to (i % 5 + 1).toInt).map(j => s"t$j").mkString(" ")))
      .toDF("doc_id", "src", "text")
    val tok = graft.functions.TextAnalysis.tokenCount(col("text"))
    def run(budgets: Map[String, Long], parts: Int) =
      graft.functions.Sampling.epochMixture(docs, "src", "doc_id", tok,
        budgets, partitions = Some(parts))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // a: 150 = 2 full epochs (120) + 30-token partial; b: 12 < 30 is a pure
    // downsample; c absent → exactly one epoch
    val got = run(Map("a" -> 150L, "b" -> 12L), 4)
    val a = got.filter(_._2 == "a"); val b = got.filter(_._2 == "b")
    val c = got.filter(_._2 == "c")
    assert(c.length == 10 && c.forall(_._4 == 0L))
    // every a-doc appears in both full epochs
    for (e <- 0L to 1L) assert(a.filter(_._4 == e).map(_._1).sorted.toSeq == (1L to 20L))
    // partial epoch holds the 30-token seeded prefix: budget reached,
    // overshoot under one max-cost doc
    val partial = a.filter(_._4 == 2L).map(_._3)
    assert(partial.sum >= 30 && partial.sum < 35, s"partial=${partial.sum}")
    assert(a.map(_._3).sum >= 150 && a.map(_._3).sum < 155)
    // exact-multiple budget: no partial epoch at all
    val exact = run(Map("a" -> 120L), 4).filter(_._2 == "a")
    assert(exact.map(_._4).max == 1L && exact.map(_._3).sum == 120L)
    // pure downsample ≡ tokenBudgetMixture with an epoch-0 column
    val down = graft.functions.Sampling.tokenBudgetMixture(docs, "src",
      "doc_id", tok, Map("b" -> 12L), partitions = Some(4))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), 0L)).toSet
    assert(run(Map("b" -> 12L), 4).filter(_._2 == "b").toSet ==
      down.filter(_._2 == "b"))
    assert(b.toSet == down.filter(_._2 == "b"), "b selection differs under mixed budgets")
    // partition-count independence
    assert(run(Map("a" -> 150L, "b" -> 12L), 1).toSet == got.toSet)
    assert(run(Map("a" -> 150L, "b" -> 12L), 7).toSet == got.toSet)
    // maxEpochs fails fast on a mis-scaled budget
    intercept[IllegalArgumentException] {
      graft.functions.Sampling.epochMixture(docs, "src", "doc_id", tok,
        Map("a" -> 1000000L), partitions = Some(2))
    }
  }

  test("quality classifier: trajectory ≡ driver-side GD, separates classes, partition-independent") {
    val s = imp; import s._
    import graft.functions.QualityClassifier
    // 30 natural-language docs (stopword-rich, no punct) vs 30 symbol-soup
    // docs (punct-heavy, zero stopwords) with explicit seed labels
    val good = (1L to 30L).map(i =>
      (i, ("the quick fox is on the hill and it runs with the dog " * 3) + s"extra$i", 1.0))
    val bad = (31L to 60L).map(i =>
      (i, s"@@!! ###$i ^^&& %%qq (([[ ]])) ::;; <<>> ~~``", 0.0))
    val docs = (good ++ bad).toDF("doc_id", "text", "y")
    val m = QualityClassifier.train(docs, "text", col("y"), iters = 5, lr = 0.5)

    // driver-side reference: same features (collected once), same rounding
    // discipline — weights must match EXACTLY, not approximately
    def rnd6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val rows = docs.select(col("y").cast("double") +:
        QualityClassifier.features(col("text")): _*)
      .collect().map(r => (r.getDouble(0), (1 to 4).map(r.getDouble)))
    val n = rows.length.toDouble
    var w = Vector.fill(5)(0.0)
    for (_ <- 0 until 5) {
      val g = Array.fill(5)(0L)
      rows.foreach { case (y, xs) =>
        val zv = xs.zip(w.tail).foldLeft(w.head) { case (a, (x, wj)) => a + x * wj }
        val pi = rnd6(1.0 / (1.0 + math.exp(-zv))) * 1e6
        val piL = BigDecimal(pi).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
        val yi = (y * 1e6).toLong
        val xi = 1000000L +: xs.map(x => BigDecimal(x * 1e6).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
        for (j <- 0 until 5) g(j) += (piL - yi) * xi(j)
      }
      w = Vector.tabulate(5)(j => rnd6(w(j) - 0.5 * (g(j).toDouble / 1e12 / n)))
    }
    assert(m.weights == w, s"spark=${m.weights} ref=$w")

    // the learned model separates the two classes at the default threshold
    val scored = QualityClassifier.score(docs, "doc_id", "text", m)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    val gs = scored.filter(_._1 <= 30).map(_._2)
    val bs = scored.filter(_._1 > 30).map(_._2)
    assert(gs.min > bs.max, s"no separation: good=[${gs.min},${gs.max}] bad=[${bs.min},${bs.max}]")
    assert(scored.forall { case (_, sc, k) => k == (if (sc >= 0.5) 1L else 0L) })

    // exact integer-micro gradient sums → bit-identical under repartition
    val m7 = QualityClassifier.train(docs.repartition(7), "text", col("y"),
      iters = 5, lr = 0.5)
    assert(m7.weights == m.weights)
  }

  test("clusterSplit: cluster members share one split, singletons match hashSplit") {
    val s = imp; import s._
    val docs = (1L to 200L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // two multi-doc clusters + 196 singletons: {1,2,3}→1, {10,11}→10
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
      .toDF("doc_id", "cluster_id")
    val out = Sampling.clusterSplit(docs, "doc_id", clusters, portable = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.length == 200) // full corpus covered, no dup rows from the join
    val byDoc = out.map(t => t._1 -> t).toMap
    // the leakage guard itself: every member inherits the representative's draw
    for (g <- Seq(Seq(1L, 2L, 3L), Seq(10L, 11L))) {
      assert(g.map(byDoc(_)._4).distinct.size == 1,
        s"cluster $g straddles splits: ${g.map(byDoc(_))}")
      assert(g.map(byDoc(_)._2).distinct == Seq(g.head))
    }
    // singletons: cluster_id = doc_id and the split equals a plain hashSplit
    val plain = Sampling.hashSplit(docs.select(col("doc_id")), "doc_id",
        portable = true).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    for (id <- 4L to 9L) {
      assert(byDoc(id)._2 == id)
      assert(byDoc(id)._4 == plain(id))
    }
    // buckets live in [0,100) and splits follow the thresholds
    assert(out.forall { case (_, _, b, sp) =>
      b >= 0 && b < 100 &&
        sp == (if (b < 80) "train" else if (b < 90) "val" else "test") })
    // non-numeric ids raise a NAMED error instead of silently falling
    // through the split when-chain into 'test'
    val bad = Seq(("doc-17", "x")).toDF("doc_id", "text")
    val e = intercept[Exception] {
      Sampling.clusterSplit(bad, "doc_id", clusters).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("clusterSplit: non-numeric or null")),
      s"wrong error: ${msgs(e)}")
  }

  test("diversitySample caps dense regions and assigns to the nearest seed") {
    val s = imp; import s._
    // two seed regions: ids 0,1 are the seeds; 2-41 cluster tightly around
    // seed 0 (dense), 42-46 around seed 1 (sparse). A uniform draw would be
    // ~89% region 0; the diversity draw caps it at perCluster.
    def vec(base: Double, wiggle: Double) = Seq(base + wiggle, base - wiggle)
    val rows = Seq((0L, vec(0.0, 0.0)), (1L, vec(10.0, 0.0))) ++
      (2L to 41L).map(i => (i, vec(0.0, 0.001 * i))) ++
      (42L to 46L).map(i => (i, vec(10.0, 0.001 * i)))
    val df = rows.toDF("vec_id", "embedding")
    val got = graft.functions.Sampling
      .diversitySample(df, "vec_id", "embedding", nSeeds = 2, perCluster = 4)
      .select("vec_id", "cluster").collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    assert(got.count(_._2 == 0) == 4 && got.count(_._2 == 1) == 4)
    // every region-1 member really sits with seed 1
    assert(got.filter(_._2 == 1).forall(t => t._1 == 1L || t._1 >= 42L))
    // deterministic across reruns
    val again = graft.functions.Sampling
      .diversitySample(df, "vec_id", "embedding", nSeeds = 2, perCluster = 4)
      .select("vec_id", "cluster").collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    assert(got.toSet == again.toSet)
  }

  test("splitSentences: boundaries, multi-terminators, remainders, empties dropped") {
    val s = imp; import s._
    import graft.functions.TextAnalysis.splitSentences
    val df = Seq(
      (1L, "One. Two words! Three?? Done"),
      (2L, "no terminator at all"),
      (3L, "trailing dot. "),
      (4L, "a.b stays together. next")).toDF("id", "t")
    val got = splitSentences(df, "id", "t")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .sortBy(r => (r._1, r._2)).toSeq
    assert(got === Seq(
      (1L, 0L, "One.", 1L), (1L, 1L, "Two words!", 2L),
      (1L, 2L, "Three??", 1L), (1L, 3L, "Done", 1L),
      (2L, 0L, "no terminator at all", 4L),
      (3L, 0L, "trailing dot.", 2L),
      (4L, 0L, "a.b stays together.", 3L), (4L, 1L, "next", 1L)))
  }

  test("scriptProfile: dominant script, fractions, tie-break, unknown") {
    val s = imp; import s._
    import graft.functions.TextAnalysis.scriptProfile
    val df = Seq(
      (1L, "hello world"),
      (2L, "привет мир"),
      (3L, "hi привет мир!"),     // 2 latin vs 9 cyrillic → cyrillic
      (4L, "123 !!"),             // no script chars → unknown
      (5L, "aб"),                 // 1 latin, 1 cyrillic tie → latin (first in table)
      (6L, "你好 세계 hello ok")   // 2 cjk, 2 hangul, 7 latin → latin
    ).toDF("id", "t")
    val got = scriptProfile(df, "id", "t")
      .select("id", "script_guess", "latin_frac", "cyrillic_frac")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(got.map(_._2).toSeq === Seq("latin", "cyrillic", "cyrillic", "unknown", "latin", "latin"))
    // exact fractions: "hi привет мир!" = 14 chars, 2 latin, 9 cyrillic
    assert(got(2)._3 === 2.0 / 14 && got(2)._4 === 9.0 / 14)
  }

  test("fixMojibake: closed-form repairs, clean passthrough, idempotence, exact score") {
    val s = imp; import s._
    import graft.functions.TextAnalysis.{fixMojibake, mojibakeScore}
    val cases = Seq(
      (1L, "itâ€™s a cafÃ©", "it’s a café", 2L),
      (2L, "â€œquotedâ€¦ naÃ¯ve faÃ§ade", "“quoted… naïve façade", 4L),
      (3L, "10Â° â€“ 20Â»", "10° – 20»", 3L),
      (4L, "clean ascii text, no artifacts", "clean ascii text, no artifacts", 0L),
      // already-correct unicode must not be touched
      (5L, "déjà vu — “fine”", "déjà vu — “fine”", 0L))
    val df = cases.map(c => (c._1, c._2)).toDF("id", "t")
    val got = df.select(col("id"), fixMojibake(col("t")).as("f"),
        mojibakeScore(col("t")).as("n"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got.sortBy(_._1) === cases.map(c => (c._1, c._3, c._4)))
    // idempotent: repairing repaired text changes nothing
    val twice = df.select(col("id"), fixMojibake(fixMojibake(col("t"))).as("f"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(cases.forall(c => twice(c._1) === c._3))
  }

  test("importanceScores: target-like docs outrank off-target, both modes, partition-independent") {
    val s = spark; import s.implicits._
    // two disjoint vocabularies: "science"-flavored target vs "spam" raw noise
    val target = Seq.tabulate(8)(i => (100L + i, "quantum physics theory experiment result"))
      .toDF("doc_id", "text")
    val raw = (Seq.tabulate(4)(i => (i.toLong, "quantum physics experiment measurement"))
      ++ Seq.tabulate(4)(i => (10L + i, "buy cheap pills now click here")))
      .toDF("doc_id", "text")
    for (portable <- Seq(true, false)) {
      val scored = graft.functions.Sampling
        .importanceScores(raw, target, "doc_id", "text", buckets = 64, portable = portable)
        .select("doc_id", "score").collect()
        .map(r => (r.getLong(0), r.get(1))).toMap
      def num(a: Any): Double = a match {
        case l: java.lang.Long => l.toDouble
        case d: java.lang.Double => d
      }
      // every science doc scores strictly above every spam doc
      val sci = (0L until 4L).map(i => num(scored(i)))
      val spam = (10L until 14L).map(i => num(scored(i)))
      assert(sci.min > spam.max, s"portable=$portable: $scored")
      // resample keeps exactly the science docs at k=4
      val kept = graft.functions.Sampling
        .importanceResample(raw, target, "doc_id", "text", k = 4, buckets = 64,
          portable = portable)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept == Set(0L, 1L, 2L, 3L), s"portable=$portable")
      // scores are a pure function of the row → identical under repartition
      val re = graft.functions.Sampling
        .importanceScores(raw.repartition(7), target.repartition(5),
          "doc_id", "text", buckets = 64, portable = portable)
        .select("doc_id", "score").collect()
        .map(r => (r.getLong(0), r.get(1))).toMap
      assert(re == scored, s"portable=$portable")
    }
    // empty text scores 0 and survives the pass
    val empty = graft.functions.Sampling.importanceScores(
      Seq((1L, "")).toDF("doc_id", "text"), target, "doc_id", "text",
      buckets = 64, portable = true).select("score").head.getLong(0)
    assert(empty == 0L)
  }

  test("importanceScoresBy (single-scan) ≡ importanceScores on the filtered slice") {
    val s = spark; import s.implicits._
    val raw = (Seq.tabulate(6)(i => (i.toLong, "en", "alpha beta gamma delta"))
      ++ Seq.tabulate(6)(i => (10L + i, "de", "eins zwei drei vier")))
      .toDF("doc_id", "lang", "text")
    for (portable <- Seq(true, false)) {
      val two = graft.functions.Sampling.importanceScores(
        raw, raw.filter(col("lang") === "en"), "doc_id", "text",
        buckets = 32, portable = portable)
        .select("doc_id", "score").collect().map(r => (r.getLong(0), r.get(1))).toMap
      val one = graft.functions.Sampling.importanceScoresBy(
        raw, col("lang") === "en", "doc_id", "text",
        buckets = 32, portable = portable)
        .select("doc_id", "score").collect().map(r => (r.getLong(0), r.get(1))).toMap
      assert(one == two, s"portable=$portable")
    }
  }

  test("temperatureMixture: α=1/2 flattens the head stratum, budgets derived exactly") {
    val s = spark; import s.implicits._
    // heavily skewed corpus: 'en' has 16× the tokens of 'de'
    val docs = (Seq.tabulate(64)(i => (i.toLong, "en", "w " * 25))
      ++ Seq.tabulate(4)(i => (100L + i, "de", "w " * 25)))
      .toDF("doc_id", "lang", "text")
    val cost = graft.functions.TextAnalysis.tokenCount(col("text"))
    val total = 800L
    val out = graft.functions.Sampling.temperatureMixture(
      docs, "lang", "doc_id", cost, totalBudget = total, alpha = 0.5,
      portable = true)
    val kept = out.groupBy("stratum")
      .agg(sum("cost").as("tok"), max("budget").as("budget"))
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
    // exact budget derivation: n_en=1600, n_de=100 → w=40,10 → 800·w/50
    assert(kept("en")._2 == 640L && kept("de")._2 == 160L)
    // de's budget ≥ its mass → fully kept; en capped ABOVE its budget by
    // at most one doc (first-crossing kept)
    assert(kept("de")._1 == 100L)
    assert(kept("en")._1 >= 640L && kept("en")._1 < 640L + 25L)
    // flattening: en is 94% of the corpus but < 90% of the kept tokens
    val enFrac = kept("en")._1.toDouble / (kept("en")._1 + kept("de")._1)
    assert(enFrac < 0.90, s"enFrac $enFrac")
    // α=1 is proportional: budgets follow the masses exactly
    val prop = graft.functions.Sampling.temperatureMixture(
      docs, "lang", "doc_id", cost, totalBudget = total, alpha = 1.0,
      portable = true)
      .groupBy("stratum").agg(max("budget").as("b")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(prop("en") == 800L * 1600L / 1700L && prop("de") == 800L * 100L / 1700L)
  }

  test("isqrt: exact on squares, boundaries, and large values") {
    val cases = Seq(0L, 1L, 2L, 3L, 4L, 15L, 16L, 17L, 99L, 100L,
      (1L << 31) - 1, 1L << 40, (1L << 45) + 12345L, Long.MaxValue)
    for (n <- cases) {
      val r = graft.functions.Sampling.isqrt(n)
      assert(r >= 0 && r * r <= n, s"isqrt($n) = $r overshoots")
      // (r+1)^2 > n, guarding against BigInt-free overflow on huge n
      assert(BigInt(r + 1) * BigInt(r + 1) > BigInt(n), s"isqrt($n) = $r undershoots")
    }
  }

  test("wordGrams: unigrams + adjacent bigrams, empties filtered, degenerate sizes") {
    val s = spark; import s.implicits._
    val got = Seq((1L, "a  b c"), (2L, "solo"), (3L, ""), (4L, "  "))
      .toDF("id", "t")
      .select(col("id"), graft.functions.Sampling.wordGrams(col("t")).as("g"))
      .collect().map(r => (r.getLong(0), r.getSeq[String](1))).toMap
    assert(got(1L) == Seq("a", "b", "c", "a b", "b c"))
    assert(got(2L) == Seq("solo"))
    assert(got(3L) == Seq.empty && got(4L) == Seq.empty)
  }

  test("expectations: clean data passes, each injected defect trips its rule") {
    val s = spark; import s.implicits._
    import graft.functions.Expectations._
    val clean = Seq((1L, 1L, "A", 5.0), (1L, 2L, "B", 10.0), (2L, 1L, "A", 50.0))
      .toDF("k", "ln", "flag", "qty")
    val rules = Seq(
      completenessRule("flag", 1.0),
      rangeRule("qty", 1.0, 50.0, 1.0),
      uniqueRule("k", "ln"))
    val ok = check(clean, rules).collect()
      .map(r => r.getString(0) -> r.getBoolean(2)).toMap
    assert(ok.values.forall(identity), s"clean data must pass: $ok")
    // defects: a null flag, an out-of-range qty, a duplicated (k, ln)
    val dirty = clean.unionByName(
      Seq((2L, 1L, null.asInstanceOf[String], 99.0)).toDF("k", "ln", "flag", "qty"))
    val bad = check(dirty, rules).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getBoolean(2)))
    assert(bad.forall(!_._3), s"every rule must trip: ${bad.toSeq}")
    assert(bad.forall(r => r._2 == 0.75), s"metrics are exact ratios: ${bad.toSeq}")
    // referential integrity: orphan key fails, covered key passes
    val ref = Seq(1L).toDF("rk")
    val sub = subsetRule(clean, "k", ref, "rk", 1.0).collect().head
    assert(!sub.getBoolean(2) && sub.getDouble(1) == 2.0 / 3.0)
    // one aggregate scan: no join/exchange beyond the single aggregate pair
    val plan = check(clean, Seq(completenessRule("flag", 1.0),
      rangeRule("qty", 1.0, 50.0, 1.0))).queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"rule set must be one scan:\n$plan")
  }

  test("expectations enforce: passes silently, throws with failing rules named") {
    val s = spark; import s.implicits._
    import graft.functions.Expectations._
    val clean = Seq((1L, "A", 5.0), (2L, "B", 10.0)).toDF("k", "flag", "qty")
    val rules = Seq(completenessRule("flag", 1.0), rangeRule("qty", 1.0, 50.0, 1.0))
    assert(enforce(clean, rules).count() == 2)
    val dirty = clean.unionByName(
      Seq((3L, null.asInstanceOf[String], 99.0)).toDF("k", "flag", "qty"))
    val e = intercept[IllegalStateException] { enforce(dirty, rules) }
    assert(e.getMessage.contains("completeness(flag)") &&
      e.getMessage.contains("range(qty)"), e.getMessage)
  }

  test("expectations: unique data with NULL keys passes; null dups still fail") {
    val s = imp; import s._
    import graft.functions.Expectations._
    // bare countDistinct skips null-key rows from the numerator only,
    // which wrongly failed a unique batch containing nulls
    val uniqueWithNull = Seq(
      (java.lang.Long.valueOf(1L), "a"), (java.lang.Long.valueOf(2L), "b"),
      (null.asInstanceOf[java.lang.Long], "c")).toDF("k", "v")
    val ok = check(uniqueWithNull, Seq(uniqueRule("k"))).head()
    assert(ok.getBoolean(2) && ok.getDouble(1) == 1.0, ok.toString)
    // two null keys ARE duplicates of each other
    val dupNulls = uniqueWithNull.unionByName(
      Seq((null.asInstanceOf[java.lang.Long], "d")).toDF("k", "v"))
    assert(!check(dupNulls, Seq(uniqueRule("k"))).head().getBoolean(2))
  }

  test("expectations subsetRule: empty batch reports NULL metric and FAILS") {
    val s = imp; import s._
    import graft.functions.Expectations._
    val empty = Seq.empty[(Long, String)].toDF("k", "v")
    val ref = Seq(1L).toDF("rk")
    val row = subsetRule(empty, "k", ref, "rk", 0.5).head()
    assert(row.isNullAt(1) && !row.getBoolean(2),
      s"empty batch: NULL metric + FAIL, got $row") // was a NaN row
  }

  test("expectations: an EMPTY batch fails every count-ratio rule, not null-passes") {
    val s = spark; import s.implicits._
    import graft.functions.Expectations._
    val empty = Seq.empty[(Long, String, Double)].toDF("k", "flag", "qty")
    val rules = Seq(completenessRule("flag", 0.5), rangeRule("qty", 1.0, 50.0, 0.5),
      uniqueRule("k"))
    val rep = check(empty, rules).collect()
      .map(r => (r.getString(0), r.isNullAt(1), r.getBoolean(2)))
    // metrics are 0/0 = null; pass must coalesce to FALSE so the gate trips
    assert(rep.forall(r => r._2 && !r._3), s"empty batch must fail: ${rep.toSeq}")
    val e = intercept[IllegalStateException] { enforce(empty, rules) }
    assert(e.getMessage.contains("null"), e.getMessage)
    // grouped variant: no groups → no rows, and a non-empty group with an
    // empty-ratio metric still coalesces (smoke: runs without NPE)
    assert(checkPerGroup(empty, "flag", rules.take(2)).count() == 0)
  }

  test("negativeSample: k per anchor, never self, deterministic under repartition") {
    val s = spark; import s.implicits._
    val df = (1L to 200L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    val k = 3
    val got = graft.functions.Sampling.negativeSample(df, "doc_id", k,
        portable = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(got.size == 200 * k, "exactly k negatives per anchor")
    assert(got.forall { case (a, _, n) => a != n }, "anchor never its own negative")
    assert(got.map { case (a, j, _) => (a, j) }.distinct.size == 200 * k)
    val again = graft.functions.Sampling.negativeSample(df.repartition(7),
        "doc_id", k, portable = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(got == again, "draw independent of physical partitioning")
    // reference replay on the driver: position = rank in doc_id order,
    // negative = md5-derived hash mod N with the self-exclusion bump
    val ids = (1L to 200L).toVector
    val posOf = ids.zipWithIndex.map { case (id, i) => id -> i.toLong }.toMap
    val exp = (for (a <- ids; j <- 0 until k) yield {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$a#$j".getBytes("UTF-8")).map("%02x".format(_)).mkString
      val raw = java.lang.Long.parseLong(md.take(15), 16) % 200L
      val t = if (raw == posOf(a)) (raw + 1) % 200L else raw
      (a, j.toLong, ids(t.toInt))
    }).sorted.toSeq
    assert(got == exp)
    // no cache leak: both internal persists (prefix base + positions) must
    // be released before the call returns; at most the GC-managed
    // localCheckpoint of the RESULT may linger until collected (the
    // materialize-before-unpersist guard — quantileBuckets' convention)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    graft.functions.Sampling.negativeSample(df, "doc_id", k, portable = true)
      .count()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.size <= 1,
      s"negativeSample left persisted RDDs beyond its result checkpoint: $leaked")
  }

  test("quantileBuckets: matches the window ntile reference; partition-independent; no leak") {
    val sp = spark; import sp.implicits._
    val rnd = new scala.util.Random(11)
    val df = (1L to 500L).map(i => (i, rnd.nextInt(1000).toLong)).toDF("doc_id", "len")
    val before = sp.sparkContext.getPersistentRDDs.keySet
    val got = graft.functions.Sampling
      .quantileBuckets(df, "doc_id", org.apache.spark.sql.functions.col("len"), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    // reference: rank in (len, id) order, bucket = rank*q/N
    val ref = df.collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy { case (id, l) => (l, id) }.zipWithIndex
      .map { case ((id, _), rk) => (id, rk.toLong, rk.toLong * 10L / 500L) }
      .sortBy(_._1).sortBy(identity).toSeq.sorted
    assert(got == ref)
    // exact decile sizes on a divisible count
    assert(got.groupBy(_._3).values.map(_.size).toSet == Set(50))
    val again = graft.functions.Sampling
      .quantileBuckets(df.repartition(7), "doc_id",
        org.apache.spark.sql.functions.col("len"), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(got == again, "buckets must be partition-independent")
    // the prefix base cache is released; at most the GC-managed
    // localCheckpoint of the small rank table may linger until collected
    val after = sp.sparkContext.getPersistentRDDs.keySet -- before
    assert(after.size <= 2,
      s"quantileBuckets left persisted RDDs beyond its checkpoints: $after")
  }
}
