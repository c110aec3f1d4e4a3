package graft

import graft.functions.ProductQuantizer
import org.apache.spark.sql.functions._

/** Product quantization: encode determinism, training improving distortion,
  * and ADC retrieval recall against exact L2 on the real embeddings. */
class PqSpec extends SparkSpec {
  def emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  def exactL2TopK(k: Int, maxQ: Long): Map[Long, Seq[Long]] = {
    val v = emb.select(col("vec_id").cast("long").as("id"),
      col("embedding").cast("array<double>").as("vec"))
    val q = v.filter(col("id") < maxQ)
      .select(col("id").as("q_id"), col("vec").as("q_vec"))
    val d2 = aggregate(zip_with(col("q_vec"), col("vec"),
      (x, y) => (x - y) * (x - y)), lit(0.0), (a, x) => a + x)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("d2").asc, col("id").asc)
    v.join(q, col("id") =!= col("q_id"))
      .withColumn("d2", d2)
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select("q_id", "id").collect()
      .groupBy(_.getLong(0)).map { case (qid, rs) =>
        qid -> rs.map(_.getLong(1)).toSeq }
  }

  test("encode is deterministic and emits m codes in [0, ksub)") {
    val model = ProductQuantizer.seedModel(emb, "vec_id", "embedding", 8, 4)
    val a = ProductQuantizer.encode(emb, "embedding", model)
      .select("vec_id", "codes").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val b = ProductQuantizer.encode(emb, "embedding", model)
      .select("vec_id", "codes").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(a == b)
    assert(a.values.forall(c => c.length == 8 && c.forall(x => x >= 0 && x < 4)))
    // seeds quantize to themselves: seed c's subvector is at distance 0
    // from centroid c in every subspace
    (0 until 4).foreach(c => assert(a(c.toLong) == Seq.fill(8)(c)))
  }

  test("Lloyd rounds reduce quantization distortion") {
    def distortion(model: ProductQuantizer.Model): Double = {
      val enc = ProductQuantizer.encode(emb, "embedding", model)
      val cb = typedLit(model.codebook.flatten.map(_.toSeq).toSeq)
      val v = col("embedding").cast("array<double>")
      val d = (0 until model.m).map { j =>
        val sv = slice(v, j * model.dsub + 1, model.dsub)
        val cent = element_at(cb,
          lit(j * model.ksub) + element_at(col("codes"), j + 1) + 1)
        aggregate(zip_with(sv, cent, (x, y) => (x - y) * (x - y)),
          lit(0.0), (a, x) => a + x)
      }.reduce(_ + _)
      enc.agg(sum(d)).head().getDouble(0)
    }
    val seed = ProductQuantizer.seedModel(emb, "vec_id", "embedding", 8, 8)
    val trained = ProductQuantizer.train(emb, "vec_id", "embedding", 8, 8,
      iters = 3)
    val (d0, d1) = (distortion(seed), distortion(trained))
    assert(d1 < d0 * 0.8, s"training barely helped: seed=$d0 trained=$d1")
  }

  test("IVF-PQ at full probe equals flat ADC; pruned probe stays sane") {
    val model = ProductQuantizer.seedModel(emb, "vec_id", "embedding", 8, 4)
    val built = graft.functions.IvfIndex.build(emb, "vec_id", "embedding",
      nlist = 8, kmeansIters = 2)
    val queries = emb.filter(col("vec_id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "c_id", "adc_micro", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
    // full probe: coarse pruning is the identity — exact equality
    val full = rows(ProductQuantizer.ivfPqTopK(built, queries, "vec_id",
      "embedding", model, k = 10, nprobe = 8))
    val flat = rows(ProductQuantizer.adcTopK(
      ProductQuantizer.encode(emb, "embedding", model),
      queries, "vec_id", "embedding", model, k = 10))
    assert(full == flat)
    // build-once/query-many overload: pre-encoded lists ≡ re-encoding form
    val preEnc = rows(ProductQuantizer.ivfPqTopK(built,
      ProductQuantizer.encodeLists(built, model), queries, "vec_id",
      "embedding", model, k = 10, nprobe = 8, dp = 6, excludeSelfId = true))
    assert(preEnc == full)
    // pruned probe: a subset of lists — every result must come from the
    // flat candidate scoring (same ADC value for the same pair)
    val pruned = ProductQuantizer.ivfPqTopK(built, queries, "vec_id",
      "embedding", model, k = 10, nprobe = 2)
      .select("q_id", "c_id", "adc_micro").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val flatAll = flat.map(t => (t._1, t._2) -> t._3).toMap
    assert(pruned.nonEmpty)
    pruned.foreach { case (pair, micro) =>
      flatAll.get(pair).foreach(m => assert(m == micro,
        s"ADC value diverged between pruned and flat for $pair")) }
  }

  test("trained ADC top-10 recalls exact L2 top-10") {
    // near-random 64-dim vectors are PQ's worst case (no cluster structure
    // to exploit); m=16 subspaces of 4 dims keeps the quantization error
    // per subspace small enough to rank usefully. The bound is against the
    // random-candidate baseline (10/499 ≈ 0.02), not search-quality SLAs.
    val model = ProductQuantizer.train(emb, "vec_id", "embedding", 16, 16,
      iters = 2)
    val enc = ProductQuantizer.encode(emb, "embedding", model)
    val got = ProductQuantizer.adcTopK(enc, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", model, k = 10)
      .select("q_id", "c_id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) =>
        q -> rs.map(_.getLong(1)).toSet }
    val exact = exactL2TopK(10, 10)
    val recalls = exact.map { case (q, top) =>
      top.count(got(q).contains).toDouble / top.size }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.35, s"mean recall@10 $mean below 0.35 — PQ scoring broken")
  }
}
