package graft.examples

import graft.functions.{Dedup, IvfIndex, QualityClassifier, Sampling, Similarity, TextAnalysis}
import graft.sources.Parquet
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end training-data pipeline over the documents + embeddings tables:
  * C4 line-level cleaning (reported) → profile → quality gate → exact dedup
  * → minhash near-dup CLUSTER removal
  * (with the leakage-guarded cluster-split report as the keep-near-dups
  * alternative) → benchmark decontamination → language/token stats →
  * seed-labeled trained quality classifier (the CCNet shape) →
  * trusted-reference perplexity tiering (NgramLm + head/middle/tail cut) →
  * token-budget shard manifest → sequence packing, and a persistent ANN
  * index + int8-quantized corpus over the embeddings. Every stage is
  * the library operator a 100 TB run would use (each is individually
  * oracle- or spec-verified; ExamplesSpec smoke-checks the composition's
  * invariants).
  */
object TrainingPipeline {

  final case class Stats(total: Long, qualityGated: Long, exactDeduped: Long,
      nearDeduped: Long, spanGated: Long, decontaminated: Long,
      langs: Map[String, Long], shards: Long, packedRows: Long,
      packedTokens: Long, annResults: Long, classifierKept: Long,
      splitTrain: Long, splitEval: Long, int8Vectors: Long, c4Kept: Long,
      dsirKept: Long, mixtureTokens: Long, pplKept: Long)

  def run(spark: SparkSession, sfDir: String): Stats = {
    val docs = Parquet.read(spark, s"$sfDir/documents.parquet")
    val total = docs.count()

    // 0. line-level C4 cleaning (reported, not gated, so the stage stats
    // below stay comparable: the corpus is single-line synthetic text, so
    // q_c4_clean's exact lineify rewrite synthesizes the line structure
    // and the banned token; on a real multi-line corpus this stage
    // REWRITES text before profiling)
    val c4 = graft.functions.QualityFilters.c4Profile(
      docs, "doc_id", "text", minWords = 3, minLines = 3,
      lineify = t => replace(replace(replace(t,
        lit(" slow "), lit(" javascript ")),
        lit(" value "), lit(".\n")),
        lit(" part "), lit("\n")))
    val nC4 = c4.filter(col("keep")).count()

    // 1. profile + quality gate
    val profiled = TextAnalysis.profile(docs, "doc_id", "text")
    val gated = profiled.filter(col("quality") >= 0.5).persist()
    val nGated = gated.count()

    // 2. exact dedup on the order-invariant fingerprint (keep smallest id)
    val keepExact = gated
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("fingerprint")).orderBy(col("doc_id"))))
      .filter(col("rn") === 1).drop("rn").persist()
    val nExact = keepExact.count()

    // 3. near-dup removal, cluster-correct: similarity is not transitive,
    // so pairs are closed into clusters and only cluster REPRESENTATIVES
    // (smallest id) survive — dropping pairwise b_ids instead can remove
    // every member of a chain (profile() projects the text away — join it
    // back for shingling)
    val pairs = Dedup.minhashNearDups(
      keepExact.select(col("doc_id"))
        .join(docs.select(col("doc_id"), col("text")), "doc_id"),
      "doc_id", "text", minEstSim = 0.8)
    val clusters = Dedup.nearDupClusters(pairs)
    val dropIds = clusters
      .filter(col("doc_id") =!= col("cluster_id")).select(col("doc_id"))
    // 3a (alternative eval-guard): instead of DROPPING near-dups, a split
    // can RETAIN them with the cluster as the assignment unit, so
    // paraphrases never straddle train/eval — reported here from the same
    // cluster map the removal path uses
    val split = Sampling.clusterSplit(
      keepExact.select(col("doc_id")), "doc_id", clusters)
      .groupBy(col("split")).agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val (nTrain, nEval) =
      (split.getOrElse("train", 0L), split.getOrElse("val", 0L) + split.getOrElse("test", 0L))

    val cleaned = keepExact.join(dropIds, Seq("doc_id"), "left_anti").persist()
    val nClean = cleaned.count()
    pairs.unpersist(); gated.unpersist(); keepExact.unpersist()

    // 3b. sub-document span gate: the near-dup CLUSTER stage removes whole
    // duplicate documents; what survives can still be stitched from copied
    // spans (quoted passages, shared boilerplate). Profile the CLEANED set
    // (so spans of already-removed docs don't count) and drop heavy
    // partial copies — the Dolma/RefinedWeb-style fraction gate.
    val spanProfile = Dedup.dupSpanProfile(
      cleaned.select(col("doc_id"))
        .join(docs.select(col("doc_id"), col("text")), "doc_id"),
      "doc_id", "text", n = 5)
    val spanKeepIds = spanProfile.filter(col("dup_frac") < 0.6)
      .select(col("doc_id"))
    val spanGatedDf = cleaned.join(spanKeepIds, Seq("doc_id")).persist()
    val nSpan = spanGatedDf.count()
    cleaned.unpersist()

    // 4. benchmark decontamination: drop training docs sharing 3-grams with
    // the held-out slice (deterministic stand-in for a real benchmark set)
    val withText = spanGatedDf.select(col("doc_id"), col("lang_guess"),
        col("n_tokens"))
      .join(docs.select(col("doc_id"), col("text")), "doc_id")
    val bench = docs.filter(col("doc_id") % 50 === 0).select(col("text"))
    val decon = Dedup.decontaminate(withText, bench, "doc_id", "text",
      n = 3, minHits = 1).persist()
    val nDecon = decon.count()
    spanGatedDf.unpersist()

    // 5. corpus stats for the final set
    val langs = decon.groupBy(col("lang_guess"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

    // 5b. trained quality gate (the CCNet shape): learn a classifier from
    // seed labels — docs from trusted sources are the positive class — and
    // score the surviving corpus; the model rides as literals, scoring is
    // a narrow map (here reported, not gated, so the stats above stay
    // comparable across stages)
    // persisted: classifier train (one action per GD iteration) + score,
    // the LM's count/score scans and DSIR all consume this join — without
    // the cache each action re-runs the decon-to-docs join and the
    // documents scan (every other multi-consumer intermediate here caches)
    val deconText = decon.select(col("doc_id"))
      .join(docs.select(col("doc_id"), col("text"), col("source")), "doc_id")
      .persist()
    val model = QualityClassifier.train(deconText, "text",
      col("source").isin("src0", "src1", "src2", "src3", "src4"))
    val nKept = QualityClassifier.score(deconText, "doc_id", "text", model)
      .filter(col("keep") === 1).count()

    // 5e. perplexity tiering (reported; the CCNet rank-and-cut): a trigram
    // stupid-backoff LM counted on the trusted-source slice scores the rest
    // of the surviving corpus, which is then ranked and cut into
    // head/middle/tail thirds with head+middle kept — the third member of
    // the trusted-reference selection family next to 5b's trained
    // classifier (P(trusted)) and 5c's DSIR (importance weight): same
    // signal, rank-based cut instead of a threshold
    val trusted = col("source").isin("src0", "src1", "src2", "src3", "src4")
    val pplScored = graft.functions.NgramLm.scoreAgainst(
      deconText.filter(trusted), deconText.filter(!trusted),
      "doc_id", "text")
    val pplTiers = Sampling.perplexityTiers(
      pplScored, "doc_id", "lm_score", "n_grams")
    val nPpl = pplTiers.filter(col("kept")).count()
    pplScored.unpersist(); pplTiers.unpersist()

    // 5c. DSIR importance selection (reported): score the surviving corpus
    // against the trusted-source slice's hashed-n-gram distribution — the
    // data-SELECTION sibling of the trained classifier's data-FILTERING;
    // single-scan distributions (the target is a predicate over the corpus)
    val nDsir = Sampling.importanceResampleBy(deconText,
      col("source").isin("src0", "src1", "src2", "src3", "src4"),
      "doc_id", "text", k = math.max(1, (nDecon / 2).toInt), buckets = 256)
      .count()
    deconText.unpersist() // last consumer done

    // 5d. temperature-flattened mixture (reported): per-language token
    // budgets derived from the surviving corpus masses (α=1/2), so no
    // language swallows the training mix
    // null-safe: sum over zero rows is NULL — a corpus whose every doc was
    // gated away must report zero stats, not NPE
    val totalRow = decon.agg(sum(col("n_tokens"))).head()
    val totalTokens = if (totalRow.isNullAt(0)) 0L else totalRow.getLong(0)
    val mixture = Sampling.temperatureMixture(
      decon.select(col("doc_id"), col("lang_guess"), col("n_tokens")),
      "lang_guess", "doc_id", col("n_tokens"),
      totalBudget = math.max(1L, totalTokens / 2), alpha = 0.5)
    val mixRow = mixture.agg(sum(col("cost"))).head()
    val mixtureTokens = if (mixRow.isNullAt(0)) 0L else mixRow.getLong(0)
    mixture.unpersist()

    // 6. shard manifest: contiguous ~2k-token shards in id order
    val manifest = Sampling.tokenShards(decon, "doc_id", col("n_tokens"),
      budget = 2000L)
    val nShards = manifest.agg(countDistinct(col("shard"))).head().getLong(0)
    manifest.unpersist()

    // 6b. sequence packing: the final training-row manifest — contiguous
    // 512-token rows, documents split at row boundaries; every surviving
    // token lands in exactly one row
    val packed = Sampling.packSequences(decon, "doc_id", col("n_tokens"),
      seqLen = 512L)
    val packRow = packed.agg(countDistinct(col("row_id")),
      sum(col("len"))).head()
    val (nRows, nTokens) =
      (packRow.getLong(0), if (packRow.isNullAt(1)) 0L else packRow.getLong(1))
    packed.unpersist()

    // 7. ANN index over the embeddings (build once, query many)
    val emb = Parquet.read(spark, s"$sfDir/embeddings.parquet")
    val index = IvfIndex.build(emb, "vec_id", "embedding", nlist = 8, kmeansIters = 2)
    val ann = IvfIndex.query(index, emb.filter(col("vec_id") < 10),
      "vec_id", "embedding", k = 5, nprobe = 2)
    val nAnn = ann.count()

    // 7b. int8-quantize the embedding corpus for serving/storage (4 B/dim →
    // 1; scoring can run on codes alone — Similarity.int8TopK)
    val nInt8 = Similarity.quantizeInt8(emb, "vec_id", "embedding").count()
    decon.unpersist()

    Stats(total, nGated, nExact, nClean, nSpan, nDecon, langs, nShards,
      nRows, nTokens, nAnn, nKept, nTrain, nEval, nInt8, nC4, nDsir,
      mixtureTokens, nPpl)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.api.StreamContext.localSession(8)
    spark.sparkContext.setLogLevel("WARN")
    val s = run(spark, sfDir)
    println(s"TOTAL=${s.total} QUALITY_GATED=${s.qualityGated} " +
      s"EXACT_DEDUPED=${s.exactDeduped} NEAR_DEDUPED=${s.nearDeduped} " +
      s"SPAN_GATED=${s.spanGated} DECONTAMINATED=${s.decontaminated} " +
      s"SHARDS=${s.shards} PACKED_ROWS=${s.packedRows} " +
      s"PACKED_TOKENS=${s.packedTokens}")
    s.langs.toSeq.sortBy(-_._2).foreach { case (l, n) => println(s"LANG\t$l\t$n") }
    println(s"ANN_RESULTS=${s.annResults} CLASSIFIER_KEPT=${s.classifierKept} " +
      s"SPLIT_TRAIN=${s.splitTrain} SPLIT_EVAL=${s.splitEval} " +
      s"INT8_VECTORS=${s.int8Vectors} C4_KEPT=${s.c4Kept} " +
      s"DSIR_KEPT=${s.dsirKept} MIXTURE_TOKENS=${s.mixtureTokens} " +
      s"PPL_KEPT=${s.pplKept}")
    spark.stop()
  }
}
