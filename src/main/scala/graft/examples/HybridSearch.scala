package graft.examples

import graft.functions.{InvertedIndex, Similarity}
import graft.sources.Parquet
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Hybrid retrieval — the standard two-stage search stack composed from the
  * library's pieces: a BM25 candidate stage over the persistent
  * [[InvertedIndex]] (cheap, lexical, posting-list-sized I/O) followed by an
  * exact embedding-cosine rerank of just those candidates (expensive,
  * semantic, but candidate-bounded). The documents and embeddings tables
  * share ids, the realistic "text + its embedding" corpus layout.
  *
  * 100 TB shape: stage 1 reads only the query terms' posting buckets;
  * stage 2 joins the candidate ids (hundreds) against the embeddings table
  * on its key — a broadcast-able id set, never a corpus scan; the query
  * vector is a literal. No stage touches more than candidates × dim floats.
  */
object HybridSearch {

  /** Top-`k` doc ids for `terms`, BM25-candidates (`candidates` wide) then
    * reranked by exact cosine against `queryVecId`'s embedding.
    * Returns (doc_id, bm25, cosine) ordered by (cosine desc, doc_id). */
  def search(index: InvertedIndex.Built, embeddings: DataFrame,
      terms: Seq[String], queryVecId: Long, candidates: Int = 50,
      k: Int = 10): DataFrame = {
    val cand = InvertedIndex.query(index, terms, k = candidates)
      .select(col("doc_id"), col("score").as("bm25"))
    val vecs = embeddings.select(col("vec_id").cast("long").as("doc_id"),
      col("embedding").cast("array<double>").as("vec"))
    val qv = vecs.filter(col("doc_id") === queryVecId)
      .select(col("vec").as("q_vec"), Similarity.norm(col("vec")).as("q_norm"))
    val reranked = cand
      .join(vecs, Seq("doc_id"))
      .crossJoin(broadcast(qv))
      .select(col("doc_id"), col("bm25"),
        // the NaN-guarded cosine, not a raw division: a zero-norm embedding
        // would score NaN, which Spark sorts ABOVE every real — rank 1
        round(Similarity.cosine(col("vec"), col("q_vec")), 6).as("cosine"))
    reranked.orderBy(col("cosine").desc, col("doc_id").asc).limit(k)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.api.StreamContext.localSession(8)
    spark.sparkContext.setLogLevel("WARN")
    val docs = Parquet.read(spark, s"$sfDir/documents.parquet")
    val emb = Parquet.read(spark, s"$sfDir/embeddings.parquet")
    val index = InvertedIndex.build(docs, "doc_id", "text")
    val hits = search(index, emb, Seq("dup", "spark", "vector"),
      queryVecId = 0L)
    hits.collect().foreach { r =>
      println(s"DOC=${r.getLong(0)}\tBM25=${r.getDouble(1)}\tCOS=${r.getDouble(2)}")
    }
    spark.stop()
  }
}
