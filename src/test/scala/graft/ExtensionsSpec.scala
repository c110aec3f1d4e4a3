package graft

import graft.functions.{Dedup, Similarity}
import graft.plans.{GraftExtensions, VectorExpressions}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** SQL-function registration of the native expressions: both the
  * already-running-session path (GraftExtensions.register) and the
  * `spark.sql.extensions` construction path must expose functions whose
  * results are identical to the Column API. */
class ExtensionsSpec extends SparkSpec {
  def emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("plan lint: flags cartesian joins and global windows, passes scalable plans") {
    import graft.plans.PlanLint
    val s = spark; import s.implicits._
    val a = (1 to 10).map(i => (i.toLong, s"a$i")).toDF("k", "v")
    val b = (1 to 10).map(i => (i.toLong, s"b$i")).toDF("bk", "w")
    // cartesian
    val cross = a.crossJoin(b)
    assert(PlanLint.check(cross).exists(_.kind == "cartesian"))
    intercept[IllegalStateException] { PlanLint.assertScalable(cross) }
    // global window (empty partition spec): whole input through one task
    val gw = a.withColumn("rn", row_number().over(
      org.apache.spark.sql.expressions.Window.orderBy(col("k"))))
    assert(PlanLint.check(gw).exists(_.kind == "global-window"))
    // a scalable shape: equi join + keyed aggregate + partitioned window
    val ok = a.join(b, col("k") === col("bk"))
      .groupBy("k").agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(org.apache.spark.sql.expressions
        .Window.partitionBy(col("k")).orderBy(col("n"))))
    assert(PlanLint.check(ok).isEmpty, PlanLint.check(ok).toString)
    PlanLint.assertScalable(ok)
    // a scale trap INSIDE a scalar subquery must not slip past the gate
    // (plan.foreach never descends into expression-held subquery plans)
    a.createOrReplaceTempView("lint_a")
    val sub = spark.sql(
      """SELECT k FROM lint_a
        |WHERE k > (SELECT max(rn) FROM (
        |  SELECT row_number() OVER (ORDER BY k) AS rn FROM lint_a))""".stripMargin)
    assert(PlanLint.check(sub).exists(_.kind == "global-window"),
      "subquery global window missed: " + PlanLint.check(sub))
  }

  test("plan lint audit representatives: flagged epilogues flagged, hot paths clean") {
    import graft.plans.PlanLint
    val dir = "/root/testdata/sf0.001"
    // intentional report-sized epilogues stay visible to the linter
    assert(PlanLint.check(Queries.q_retention(spark, dir))
      .exists(_.kind == "cartesian"), "retention's broadcast-scalar epilogue")
    assert(PlanLint.check(Queries.q_distinct_kmv(spark, dir, portable = false))
      .exists(_.kind == "global-window"), "kmv's sketch-sized report window")
    // the corpus-scale hot paths carry NO lint findings
    Seq(Queries.q1_agg _, Queries.q_tpch5 _, Queries.q_sessionize _,
      Queries.q_dedup_exact _, Queries.q_histogram _).foreach { q =>
      assert(PlanLint.check(q(spark, dir)).isEmpty)
    }
  }

  test("DESCRIBE FUNCTION surfaces the name and usage, not shifted slots") {
    GraftExtensions.register(spark)
    // the 3-arg ExpressionInfo ctor is (className, DB, name) — it stored
    // the usage sentence AS the function name and usage as N/A
    val desc = spark.sql("DESCRIBE FUNCTION graft_dot")
      .collect().map(_.getString(0)).mkString("\n")
    assert(desc.contains("Function: graft_dot"), desc)
    assert(desc.contains("fused dot product"), desc)
  }

  test("registered SQL functions equal the Column API") {
    GraftExtensions.register(spark)
    emb.createOrReplaceTempView("emb_ext")
    val viaSql = spark.sql(
      """SELECT vec_id,
        |  graft_dot(embedding, embedding) AS d,
        |  graft_lsh_bucket(CAST(embedding AS ARRAY<DOUBLE>), 8) AS b
        |FROM emb_ext""".stripMargin)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    val viaCol = emb.select(col("vec_id"),
        VectorExpressions.dotNative(col("embedding"), col("embedding")).as("d"),
        Similarity.lshBucket(col("embedding").cast("array<double>"), 8).as("b"))
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    assert(viaSql == viaCol)

    val shSql = spark.sql(
      "SELECT graft_word_shingles('a b c d', 2) AS s, graft_simhash('a b c') AS h")
      .head()
    assert(shSql.getSeq[String](0) == Seq("a b", "b c", "c d"))
    val s = spark; import s.implicits._
    val hBatch = Dedup.simhash(Seq((1L, "a b c")).toDF("doc_id", "text"),
      "doc_id", "text").head().getLong(1)
    assert(shSql.getLong(1) == hBatch)

    // the whole minhash est_sim chain in pure SQL
    val mh = spark.sql(
      """SELECT graft_match_count(graft_minhash('a b c d e f', 3),
        |                         graft_minhash('a b c d e f', 3)) AS m,
        |       graft_minhash('one two', 3) AS below""".stripMargin).head()
    assert(mh.getInt(0) == 64, "identical docs must match on all 64 hashes")
    assert(mh.isNullAt(1), "sub-shingle docs must yield NULL, as in batch")

    // round-7 registrations: portable hash, int8 quantize + int dot, jaccard
    val r7 = spark.sql(
      """SELECT graft_portable_hash60('abc') AS h,
        |  ('0x' || substr(md5('abc'), 1, 15)) AS hex,
        |  graft_quantize_int8(array(2.5D, -2.5D, 127.0D)) AS q,
        |  graft_int_dot(graft_quantize_int8(array(3.0D, 4.0D)).codes,
        |                graft_quantize_int8(array(3.0D, 4.0D)).codes) AS idot,
        |  graft_ngram_jaccard('a b c d', 'a b c e', 3) AS j""".stripMargin).head()
    assert(r7.getLong(0) == java.lang.Long.parseLong(r7.getString(1).drop(2), 16))
    val q = r7.getStruct(2)
    assert(q.getSeq[Byte](1) == Seq[Byte](3, -3, 127))
    // codes of (3,4): scale 4/127; 3/(4/127)=95.25→95, 4→127 → 95²+127²
    assert(r7.getLong(3) == 95L * 95 + 127L * 127)
    // grams {a b c, b c d} vs {a b c, b c e}: inter 1, union 3
    assert(r7.getDouble(4) == 1.0 / 3)
  }

  test("spark.sql.extensions construction path registers the functions") {
    // getOrCreate returns an existing session without applying extensions,
    // so clear the active/default handles to force a genuinely new session
    // (same SparkContext), then restore them. spark.sql.extensions is a
    // STATIC conf read from the SparkContext conf at session construction —
    // unreachable once the shared test context exists — so do exactly what
    // Spark's loader does with the conf value: instantiate the class by
    // name through its zero-arg constructor and apply it to the builder
    val prev = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val byName = Class.forName("graft.plans.GraftExtensions")
      .getConstructor().newInstance()
      .asInstanceOf[org.apache.spark.sql.SparkSessionExtensions => Unit]
    try {
      val fresh = SparkSession.builder()
        .master("local[4]")
        .config("spark.ui.enabled", "false")
        .withExtensions(byName)
        .getOrCreate()
      assert(fresh ne prev, "must be a new session for extensions to apply")
      val r = fresh.sql("SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D))")
        .head().getDouble(0)
      assert(r == 11.0)
    } finally {
      SparkSession.setDefaultSession(prev)
      SparkSession.setActiveSession(prev)
    }
  }

  test("non-literal size argument fails with a named error") {
    GraftExtensions.register(spark)
    val ex = intercept[Exception] {
      spark.sql("SELECT graft_word_shingles('a b', CAST(rand()*3 AS INT))").collect()
    }
    val msgs = Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
    assert(msgs.contains("integer literal"), s"got: $msgs")
  }
}
