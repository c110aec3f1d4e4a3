package graft

import graft.functions.Similarity
import graft.plans.VectorExpressions
import org.apache.spark.sql.functions._

/** Native DotProduct expression: bit-compatibility with the composed
  * aggregate(zip_with) path, codegen + interpreted agreement, and a micro
  * throughput comparison on the embeddings table. */
class VectorExprSpec extends SparkSpec {
  def emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("native dot equals composed aggregate(zip_with) bitwise") {
    val v = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("vec"))
    val both = v.select(col("vec_id"),
        Similarity.dot(col("vec"), col("vec")).as("composed"),
        VectorExpressions.dotNative(col("vec"), col("vec")).as("native"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(1)) ==
             java.lang.Double.doubleToLongBits(r.getDouble(2)),
        s"vec ${r.getLong(0)}: ${r.getDouble(1)} != ${r.getDouble(2)}")
    }
  }

  test("native dot works directly on array<float> (no cast in the plan)") {
    val r = emb.select(col("vec_id"),
        VectorExpressions.dotNative(col("embedding"), col("embedding")).as("d2"))
      .orderBy("vec_id").limit(3).collect()
    assert(r.forall(_.getDouble(1) > 0))
    // interpreted path (codegen fallback) must agree
    val interp = emb.select(col("vec_id"), col("embedding")).limit(3).collect().map { row =>
      val arr = row.getSeq[Float](1)
      arr.foldLeft(0.0)((acc, x) => acc + x.toDouble * x.toDouble)
    }
    r.map(_.getDouble(1)).zip(interp).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-9)
    }
  }

  test("ragged arrays → NULL in BOTH native and composed paths (semantics pinned)") {
    val df = spark.createDataFrame(Seq(
      (1L, Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0)),      // ragged
      (2L, Seq(1.0, 2.0), Seq(3.0, 4.0))            // aligned
    )).toDF("id", "a", "b")
    val r = df.select(col("id"),
        VectorExpressions.dotNative(col("a"), col("b")).as("native"),
        Similarity.dot(col("a"), col("b")).as("composed"))
      .collect().map(x => (x.getLong(0), (x.isNullAt(1), x.isNullAt(2)))).toMap
    assert(r(1L) == ((true, true)), "ragged must be NULL on both paths")
    assert(r(2L) == ((false, false)))
  }

  test("cosineNative self-similarity is 1") {
    val r = emb.select(
      VectorExpressions.cosineNative(col("embedding"), col("embedding")).as("c"))
      .agg(min(col("c")), max(col("c"))).head()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12 && math.abs(r.getDouble(1) - 1.0) < 1e-12)
  }

  test("fused LshBucket: codegen and interpreted paths agree, floats and doubles agree") {
    val bits = 8
    val buckets = emb.select(col("vec_id"),
        Similarity.lshBucket(col("embedding").cast("array<double>"), bits).as("bd"),
        Similarity.lshBucket(col("embedding"), bits).as("bf"))
      .collect()
    assert(buckets.nonEmpty)
    // float input follows the same code path with a widening cast per element
    buckets.foreach(r => assert(r.getLong(1) == r.getLong(2),
      s"vec ${r.getLong(0)}: double-input bucket ${r.getLong(1)} != float-input ${r.getLong(2)}"))
    // interpreted eval (collect on a local Dataset forces the same expression
    // through the non-codegen path via a filter that disables WSCG is not
    // reliable; instead call eval directly)
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.types._
    val signs = (0 until bits).map(p => (0 until 2048).map(i => {
      import org.apache.spark.sql.catalyst.expressions.XXH64
      if (((XXH64.hashInt(i, XXH64.hashInt(p, 42L)) >> 13) & 1L) == 1L) 1.0 else -1.0
    }))
    val e = graft.plans.LshBucket(
      BoundReference(0, ArrayType(DoubleType), nullable = false), signs)
    val vecs = emb.select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val byId = buckets.map(r => r.getLong(0) -> r.getLong(1)).toMap
    vecs.foreach { case (id, v) =>
      val interp = e.eval(InternalRow(new GenericArrayData(v))).asInstanceOf[Long]
      assert(interp == byId(id), s"vec $id: interpreted $interp != codegen ${byId(id)}")
    }
  }

  test("lshBucket buckets 768-dim vectors (production embedding size) like the hash-chain form") {
    // the baked sign matrix must cover common production dims (768/1024/...),
    // not just the fixture's 64 — and beyond index 511 the signs must
    // continue the same xxhash64 chain the original per-row formulation used
    val s = spark; import s.implicits._
    def legacy(vec: org.apache.spark.sql.Column, bits: Int) = {
      val planeBits = (0 until bits).map { p =>
        val signed = aggregate(
          zip_with(vec, transform(sequence(lit(0), size(vec) - 1),
            i => when(shiftright(xxhash64(lit(p), i), 13).bitwiseAND(1) === 1, 1.0)
              .otherwise(-1.0)),
            (x, h) => x * h),
          lit(0.0), (acc, v) => acc + v)
        when(signed > 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
      }
      planeBits.reduce((a, b) => a.bitwiseOR(b))
    }
    val rnd = new scala.util.Random(7)
    val vecs = Seq.fill(20)(Array.fill(768)(rnd.nextDouble() - 0.5)).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }
    val diff = vecs.toDF("id", "vec")
      .select(Similarity.lshBucket(col("vec"), 8).as("fast"),
        legacy(col("vec"), 8).as("slow"))
      .filter(col("fast") =!= col("slow")).count()
    assert(diff == 0)
  }

  test("fused LshBucket raises a named error beyond the sign-matrix dim") {
    val s = spark; import s.implicits._
    val big = Seq(Array.fill(2100)(1.0)).toDF("vec")
    val ex = intercept[Exception] {
      big.select(Similarity.lshBucket(col("vec"), 4)).collect()
    }
    val msgs = Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
    assert(msgs.contains("dim <= 2048"), s"got: $msgs")
  }

  test("micro-throughput: native >= composed on the pairwise score join") {
    val v = emb.select(col("vec_id"), col("embedding"))
    val pairs = v.as("a").crossJoin(v.as("b"))
    def time(f: => Long): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    // warmup both
    pairs.select(VectorExpressions.dotNative(col("a.embedding"), col("b.embedding"))).agg(count(lit(1))).head()
    pairs.select(Similarity.dot(col("a.embedding").cast("array<double>"),
      col("b.embedding").cast("array<double>"))).agg(count(lit(1))).head()
    val tNative = time(pairs.select(VectorExpressions.dotNative(col("a.embedding"), col("b.embedding")).as("d")).agg(sum(col("d"))).head().getDouble(0).toLong)
    val tComposed = time(pairs.select(Similarity.dot(col("a.embedding").cast("array<double>"),
      col("b.embedding").cast("array<double>")).as("d")).agg(sum(col("d"))).head().getDouble(0).toLong)
    info(f"native=$tNative%.2fs composed=$tComposed%.2fs speedup=${tComposed / tNative}%.1fx")
    assert(tNative <= tComposed * 1.5, "native path should not be slower")
  }

  test("native int dot equals composed fold on int8 codes; null/ragged edges") {
    val s = spark; import s.implicits._
    val codes = Similarity.quantizeInt8(emb, "vec_id", "embedding")
    val composed = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      aggregate(zip_with(a, b, (x, y) => x.cast("long") * y.cast("long")),
        lit(0L), (acc, v) => acc + v)
    val diff = codes.select(
        composed(col("codes"), col("codes")).as("c"),
        VectorExpressions.intDotNative(col("codes"), col("codes")).as("n"))
      .filter(not(col("c") <=> col("n"))).count()
    assert(diff == 0)
    // ragged arrays → NULL in both paths; empty arrays → 0
    // Seq[Byte], not Array[Byte]: the latter encodes as BINARY
    val edge = Seq((Seq[Byte](1, 2), Seq[Byte](3)),
        (Seq[Byte](), Seq[Byte]())).toDF("a", "b")
      .select(composed(col("a"), col("b")).as("c"),
        VectorExpressions.intDotNative(col("a"), col("b")).as("n"))
      .collect()
    assert(edge(0).isNullAt(0) && edge(0).isNullAt(1))
    assert(edge(1).getLong(0) == 0L && edge(1).getLong(1) == 0L)
    // codegen and interpreted paths agree
    val row = codes.select(col("codes")).head()
    val arr = row.getSeq[Byte](0)
    val expected = arr.map(x => x.toLong * x.toLong).sum
    val viaEval = graft.plans.IntDotProduct(
      org.apache.spark.sql.catalyst.expressions.Literal.create(arr,
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.ByteType)),
      org.apache.spark.sql.catalyst.expressions.Literal.create(arr,
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.ByteType)))
      .eval(null)
    assert(viaEval == expected)
  }

  test("native quantizeInt8 equals the composed form on corpus + edges") {
    val s = spark; import s.implicits._
    // corpus, float input
    val a = Similarity.quantizeInt8(emb, "vec_id", "embedding")
    val b = Similarity.quantizeInt8Composed(emb, "vec_id", "embedding")
    val joined = a.alias("a").join(b.alias("b"), "vec_id")
      .filter(not(col("a.scale") <=> col("b.scale")) ||
              not(col("a.codes") <=> col("b.codes")))
    assert(joined.count() == 0)
    // edges: exact .5 rounding ties (positive and negative), zero vector,
    // empty vector, null element, null vector
    val edge = Seq(
      (1L, Option(Seq(Option(2.5), Option(-2.5), Option(127.0)))),
      (2L, Option(Seq(Option(0.0), Option(0.0)))),
      (3L, Option(Seq.empty[Option[Double]])),
      (4L, Option(Seq(Option(1.0), None, Option(-127.0)))),
      (5L, None)
    ).toDF("vec_id", "v")
    val an = Similarity.quantizeInt8(edge, "vec_id", "v")
    val bc = Similarity.quantizeInt8Composed(edge, "vec_id", "v")
    val badEdge = an.alias("a").join(bc.alias("b"), "vec_id")
      .filter(not(col("a.scale") <=> col("b.scale")) ||
              not(col("a.codes") <=> col("b.codes"))).count()
    assert(badEdge == 0)
    // tie semantics: 2.5/1.0 rounds HALF_UP away from zero → 3 / -3
    val ties = an.filter(col("vec_id") === 1L)
      .select(col("codes")).head().getSeq[Byte](0)
    assert(ties == Seq[Byte](3, -3, 127))
  }

  test("quantizeInt8: hand-computed codes, zero vector, dequant error ≤ scale/2") {
    import spark.implicits._
    // maxabs = 1.0 → scale = 1/127; codes: 1.0→127, -0.5→round(-63.5)=-64
    // (ties away from zero), 0.25→round(31.75)=32, 0→0
    val df = Seq(
      (1L, Seq(1.0f, -0.5f, 0.25f, 0.0f)),
      (2L, Seq(0.0f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val q = Similarity.quantizeInt8(df, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getSeq[Byte](2))).toMap
    assert(q(1L)._2 == Seq[Byte](127, -64, 32, 0))
    assert(math.abs(q(1L)._1 - 1.0 / 127.0) < 1e-15)
    assert(q(2L)._1 == 0.0 && q(2L)._2 == Seq[Byte](0, 0, 0, 0))
    // real embeddings: codes bounded, per-dim round-trip error ≤ scale/2
    val deq = Similarity.quantizeInt8(emb, "vec_id", "embedding")
      .join(emb.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("_orig")), "vec_id")
      .select(col("scale"),
        array_max(transform(col("codes"), c => abs(c.cast("int")))).as("cmax"),
        array_max(zip_with(
          Similarity.dequantizeInt8(col("codes"), col("scale")), col("_orig"),
          (d, o) => abs(d - o))).as("err"))
    val bad = deq.filter(col("cmax") > 127 ||
      col("err") > col("scale") / 2 + lit(1e-12)).count()
    assert(bad == 0)
  }

  test("int8TopK: quantized cosine tracks the exact cosine; rank deterministic") {
    // every scored pair's int8 cosine within the quantization error budget
    // of the float cosine (per-vector relative L2 error ≤ √d/254 ≈ 0.031
    // at d=64 → cosine error well under 0.05 on real embeddings)
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      maxQueryId = 20, k = 1000000)
      .select(col("q_id"), col("c_id"), col("sim").as("sim_f"))
    val quant = Similarity.int8TopK(emb, "vec_id", "embedding",
      maxQueryId = 20, k = 1000000)
      .select(col("q_id"), col("c_id"), col("sim").as("sim_q"))
    val joined = exact.join(quant, Seq("q_id", "c_id")).persist()
    val n = joined.count()
    assert(n > 0)
    val worst = joined.agg(max(abs(col("sim_f") - col("sim_q")))).head().getDouble(0)
    info(f"pairs=$n worst |cos_f - cos_int8| = $worst%.4f")
    assert(worst < 0.05, s"quantized cosine drifted: $worst")
    joined.unpersist()
    // determinism: identical result under a different partitioning
    val a = Similarity.int8TopK(emb, "vec_id", "embedding", 10, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val b = Similarity.int8TopK(emb.repartition(13), "vec_id", "embedding", 10, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(a.toSet == b.toSet)
  }
}
