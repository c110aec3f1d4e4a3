package graft

import graft.functions.{InvertedIndex, TextAnalysis}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Persistent inverted index: build/save/load/query must equal the direct
  * per-call BM25 bit for bit, and querying a saved index must prune the
  * bucket-partitioned postings scan. */
class InvertedIndexSpec extends SparkSpec {
  def docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  val terms = Seq("dup", "spark", "vector")

  def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("query equals bm25TopDocs on the same corpus, bit for bit") {
    val direct = rows(TextAnalysis.bm25TopDocs(docs, "doc_id", "text",
      terms, k = 20))
    val built = InvertedIndex.build(docs, "doc_id", "text")
    val viaIndex = rows(InvertedIndex.query(built, terms, k = 20))
    assert(viaIndex == direct)
  }

  test("save/load round-trips and prunes the postings scan per term bucket") {
    val dir = Files.createTempDirectory("invidx").toString
    InvertedIndex.save(InvertedIndex.build(docs, "doc_id", "text"), dir)
    val loaded = InvertedIndex.load(spark, dir)
    val direct = rows(TextAnalysis.bm25TopDocs(docs, "doc_id", "text",
      terms, k = 20))
    assert(rows(InvertedIndex.query(loaded, terms, k = 20)) == direct)
    // the postings scan must carry a partition filter on the bucket
    val q = InvertedIndex.query(loaded, terms, k = 20)
    val scans = q.queryExecution.executedPlan.collectLeaves().mkString("\n")
    assert(scans.contains("PartitionFilters: [bucket") ||
      scans.contains("PartitionFilters: [isnotnull(bucket") ||
      scans.contains("bucket#"),
      s"expected a bucket partition filter in:\n$scans")
  }

  test("hybrid search: rerank set == BM25 candidates' exact-cosine top-k") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val built = InvertedIndex.build(docs, "doc_id", "text")
    val got = graft.examples.HybridSearch.search(built, emb, terms,
        queryVecId = 0L, candidates = 30, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    // reference: take the same 30 BM25 candidates, rerank by a
    // hand-computed exact cosine, take 10
    val cand = InvertedIndex.query(built, terms, k = 30)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val vecs = emb.select(col("vec_id").cast("long"),
        col("embedding").cast("array<double>")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val q = vecs(0L)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i)*b(i); na += a(i)*a(i); nb += b(i)*b(i); i += 1 }
      BigDecimal(d / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val expect = cand.toSeq.map(id => (id, cos(vecs(id), q)))
      .sortBy(t => (-t._2, t._1)).take(10)
    assert(got.map(_._1) == expect.map(_._1),
      s"got=$got expect=$expect")
  }

  test("single-term query touches one bucket only") {
    val built = InvertedIndex.build(docs, "doc_id", "text")
    val one = InvertedIndex.query(built, Seq("spark"), k = 5)
    // correct and non-empty on the corpus fixture
    val got = rows(one)
    assert(got == rows(TextAnalysis.bm25TopDocs(docs, "doc_id", "text",
      Seq("spark"), k = 5)))
  }

  test("empty corpus builds and queries to empty instead of NPE") {
    val s = spark; import s.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val built = InvertedIndex.build(empty, "doc_id", "text")
    assert(built.nDocs == 0L && built.sumLen == 0L)
    assert(InvertedIndex.query(built, Seq("q"), k = 5).count() == 0L)
    built.release()
  }

  test("autoTermBuckets: floor keeps sf layouts, growth holds per-bucket volume, cap bounds dirs") {
    import graft.functions.InvertedIndex.{autoTermBuckets, TermBuckets, MaxTermBuckets}
    // every sf-test corpus sits under the floor → historical 64 layout
    assert(autoTermBuckets(0L) == TermBuckets)
    assert(autoTermBuckets(25000000L) == TermBuckets) // sf0.1 ≈ 25M tokens
    // growth: per-bucket volume ~2M rows until the cap
    assert(autoTermBuckets(2097152L * 640) == 640)
    assert(autoTermBuckets(2097152L * 640) * 2097152L >= 2097152L * 640)
    // monotone, and capped at the directory-count bound
    assert(autoTermBuckets(1L << 50) == MaxTermBuckets)
    assert(autoTermBuckets(2097152L * 200) <= autoTermBuckets(2097152L * 2000))
  }

  test("bucket count is frozen per saved index and results are count-invariant") {
    // build the SAME corpus under two explicit layouts: query results must
    // be identical (bucketing is I/O layout, never semantics), and a saved
    // index must read back its own count rather than the compile-time
    // default — a reader pruning with the wrong count would silently miss
    // postings
    val terms = Seq("the", "of")
    val a = InvertedIndex.build(docs, "doc_id", "text", buckets = 7)
    val b = InvertedIndex.build(docs, "doc_id", "text", buckets = 64)
    assert(a.buckets == 7 && b.buckets == 64)
    val ra = rows(InvertedIndex.query(a, terms, k = 10))
    val rb = rows(InvertedIndex.query(b, terms, k = 10))
    assert(ra == rb && ra.nonEmpty)
    val dir = java.nio.file.Files.createTempDirectory("invidx_b7").toString
    InvertedIndex.save(a, dir)
    val loaded = InvertedIndex.load(spark, dir)
    assert(loaded.buckets == 7, "persisted bucket count must read back")
    assert(rows(InvertedIndex.query(loaded, terms, k = 10)) == ra)
    a.release(); b.release()
  }
}
