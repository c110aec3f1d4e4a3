package graft.functions

import graft.sources.Parquet
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent inverted index — the build-once / query-many production shape
  * of [[TextAnalysis.bm25TopDocs]] (which re-scans the corpus per query),
  * the retrieval analog of [[IvfIndex]].
  *
  * On disk:
  *  - `<path>/postings/` — (term, doc_id, tf), parquet PARTITIONED BY the
  *    term's hash bucket: a query reads only its own terms' buckets
  *    (partition pruning — InvertedIndexSpec asserts the pruned scan), so
  *    per-query I/O is posting-list-sized, never corpus-sized.
  *  - `<path>/lens/` — (doc_id, len) for the BM25 length normalizer.
  *  - `<path>/stats/` — (nDocs, sumLen): corpus constants.
  *
  * Query scoring reproduces [[TextAnalysis.bm25TopDocs]] step for FP step
  * (integer-exact avgLen, term-lexicographic part folds, `dp` rounding) —
  * build/save/load/query ≡ direct corpus scoring, pinned by
  * InvertedIndexSpec. */
object InvertedIndex {

  /** Postings bucket-count FLOOR (and the pre-r16 fixed count): wide
    * enough that one bucket ≈ one term's I/O on small corpora, small
    * enough that tiny corpora don't fragment. The count is FROZEN per
    * saved index (it is a stored partition column, persisted in the stats
    * file and read back by [[load]]); [[build]] sizes it from the corpus
    * via [[autoTermBuckets]] so per-bucket volume stays ~constant as the
    * corpus grows — a fixed 64 at 100 TB would make every term query scan
    * ~1.6 TB of unrelated postings for partition-pruned I/O that should
    * stay posting-list-sized. */
  val TermBuckets = 64

  /** Bucket-count cap: partition DIRECTORY count is filesystem metadata —
    * 16k dirs is comfortably listable everywhere; past it, per-bucket
    * volume grows again, which is the documented tradeoff (a 100 TB corpus
    * at the cap carries ~6 GB postings per bucket — still pruned I/O three
    * orders below the corpus). */
  val MaxTermBuckets = 16384

  /** Corpus-adaptive bucket count: ~2M posting rows per bucket (tens of
    * MB of parquet), floored at [[TermBuckets]] so every sf-test corpus
    * keeps the historical 64-bucket layout, capped at
    * [[MaxTermBuckets]]. Sized from sum(doc lengths) — an upper bound on
    * posting rows that [[build]]'s stats pass already computes. */
  def autoTermBuckets(sumLen: Long): Int =
    math.min(MaxTermBuckets.toLong,
      math.max(TermBuckets.toLong, sumLen / 2097152L)).toInt

  def termBucket(term: org.apache.spark.sql.Column,
      buckets: Int = TermBuckets): org.apache.spark.sql.Column =
    pmod(xxhash64(term), lit(buckets.toLong)).cast("int")

  /** Driver-side twin of [[termBucket]] — the ONE place the stored
    * partition layout's hash is recomputed in Scala (seed 42 = Spark's
    * xxhash64 default; floorMod = pmod). A seed or bucket-count change
    * edited in only one of the two desynchronizes reads from saved
    * indexes, so both query paths route through here. */
  private def bucketOf(term: String, buckets: Int): Int =
    math.floorMod(
      org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
        org.apache.spark.unsafe.types.UTF8String.fromString(term),
        org.apache.spark.sql.types.StringType, 42L),
      buckets.toLong).toInt

  final case class Built(postings: DataFrame, lens: DataFrame,
      nDocs: Long, sumLen: Long, buckets: Int = TermBuckets) {
    def avgLen: Double = sumLen.toDouble / nDocs.toDouble

    /** Release the lens cache [[build]] created (doc-count-sized). A
      * loaded index holds no cache; calling this is then a no-op warning. */
    def release(): Unit = { lens.unpersist(); () }
  }

  /** Per-(doc, term) counts + per-doc lengths + corpus stats. Tokenization
    * matches bm25TopDocs (split on single space, empties dropped from the
    * length but kept out of terms). The lengths table (two longs per doc)
    * is PERSISTED: the stats action materializes it here, so the raw
    * corpus is scanned once for lengths+stats and once more only for the
    * postings aggregate at save/query time — not once per consumer.
    * Callers release it with [[Built.release]] when done. */
  def build(df: DataFrame, idCol: String, textCol: String,
      buckets: Int = 0): Built = {
    val docs = df.select(col(idCol).cast("long").as("doc_id"),
      split(col(textCol), " ").as("w"))
    val lens = docs.select(col("doc_id"),
      size(filter(col("w"), x => x =!= "")).cast("long").as("len"))
      .persist()
    val statsRow = lens.agg(count(lit(1)), sum(col("len"))).head()
    // empty corpus (or all-null text): sum(len) is NULL — getLong would
    // NPE; 0 keeps query() returning empty like bm25TopDocs' guard
    val sumLen = if (statsRow.isNullAt(1)) 0L else statsRow.getLong(1)
    // buckets <= 0 → corpus-adaptive (the stats pass already paid for
    // sumLen); an explicit count is the caller freezing a layout — e.g.
    // building an increment for an EXISTING saved index, which must
    // bucket exactly like the store it joins
    val nb = if (buckets > 0) buckets else autoTermBuckets(sumLen)
    val postings = docs.select(col("doc_id"), explode(col("w")).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .withColumn("bucket", termBucket(col("term"), nb))
    Built(postings, lens, statsRow.getLong(0), sumLen, nb)
  }

  def save(built: Built, path: String): Unit = {
    built.postings.write.mode("overwrite")
      .partitionBy("bucket").parquet(s"$path/postings")
    built.lens.write.mode("overwrite").parquet(s"$path/lens")
    val spark = built.postings.sparkSession
    import spark.implicits._
    // the bucket count rides in the stats file: it is part of the STORED
    // layout, and a reader using any other count would prune to the wrong
    // partitions and silently miss postings
    Seq((built.nDocs, built.sumLen, built.buckets))
      .toDF("n_docs", "sum_len", "buckets")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/stats")
  }

  def load(spark: SparkSession, path: String): Built = {
    val statsDf = Parquet.read(spark, s"$path/stats")
    val stats = statsDf.head()
    // pre-r16 indexes persisted no bucket count — they were all written
    // with the then-fixed 64 (the Built default)
    val buckets =
      if (statsDf.columns.contains("buckets"))
        stats.getInt(statsDf.columns.indexOf("buckets"))
      else TermBuckets
    Built(Parquet.read(spark, s"$path/postings"),
      Parquet.read(spark, s"$path/lens"),
      stats.getLong(0), stats.getLong(1), buckets)
  }

  /** Positional postings: (doc_id, term, pos, bucket) with `pos` the raw
    * 0-based token index from the SAME tokenization as [[build]] (empty
    * tokens are dropped from the postings but still consume positions, so
    * adjacency means adjacency in the original text). Save with
    * `partitionBy("bucket")` exactly like the tf postings for a
    * partition-pruned phrase index. */
  def buildPositional(df: DataFrame, idCol: String, textCol: String,
      buckets: Int = TermBuckets): DataFrame =
    df.select(col(idCol).cast("long").as("doc_id"),
        posexplode(split(col(textCol), " ")).as(Seq("pos", "term")))
      .filter(col("term") =!= "")
      .withColumn("bucket", termBucket(col("term"), buckets))

  /** Exact phrase query over positional postings: every (doc, start)
    * where `phrase(i)` occurs at `start + i` for ALL i. Lowering: keep
    * only the phrase's terms (bucket + term pruning — posting-list-sized
    * I/O on a saved index), emit (doc, pos − i, i) map-side for each
    * phrase slot the term fills, and one (doc, start)-keyed aggregate
    * keeps groups filling all `phrase.length` slots. A position holds one
    * term, so (doc, start, i) rows are distinct and the count IS the
    * filled-slot count — candidate-sized work end to end, no self-join
    * chain (a per-slot N-way join would exchange the postings N times). */
  def phraseQuery(positional: DataFrame, phrase: Seq[String],
      buckets: Int = TermBuckets): DataFrame = {
    require(phrase.nonEmpty, "empty phrase")
    val spark = positional.sparkSession
    import spark.implicits._
    val slots = phrase.zipWithIndex
      .map { case (t, i) => (t, i.toLong) }.toDF("term", "slot")
    val bks = phrase.map(bucketOf(_, buckets)).distinct
    positional
      .filter(col("bucket").isInCollection(bks)
        && col("term").isInCollection(phrase))
      .join(broadcast(slots), Seq("term"))
      .select(col("doc_id"), (col("pos") - col("slot")).as("start"))
      .filter(col("start") >= 0)
      .groupBy(col("doc_id"), col("start"))
      .agg(count(lit(1)).as("_filled"))
      .filter(col("_filled") === phrase.length)
      .select(col("doc_id"), col("start"))
  }

  /** BM25 top-k for a bag of query terms against the index. Identical
    * scoring to [[TextAnalysis.bm25TopDocs]]; the postings filter carries
    * both the bucket predicate (partition pruning on a saved index) and
    * the term predicate (row pruning inside the bucket). */
  def query(built: Built, queryTerms: Seq[String], k: Int = 20,
      k1: Double = 1.2, b: Double = 0.75, dp: Int = 6): DataFrame = {
    require(queryTerms.nonEmpty, "empty query")
    val buckets = queryTerms.map(bucketOf(_, built.buckets)).distinct
    val tf = built.postings
      .filter(col("bucket").isInCollection(buckets)
        && col("term").isInCollection(queryTerms))
      .select(col("doc_id"), col("term"), col("tf"))
    TextAnalysis.bm25FromCounts(tf, built.lens, built.nDocs, built.avgLen,
      k, k1, b, dp)
  }
}
