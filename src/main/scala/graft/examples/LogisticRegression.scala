package graft.examples

import graft.operators.Iteration
import org.apache.spark.sql.Dataset

/** Batch-gradient-descent logistic regression via `replay` — the reference's
  * examples/logistic_regression.rs intent (the reference file is disabled as
  * broken; this is the working shape): the point set is cached once, each
  * round is ONE aggregation job computing (gradient, cost, n) against the
  * broadcast weight vector, and only the weights evolve. Identical iteration
  * model to [[graft.algorithms.KMeans]] — the reduced data per round is
  * O(dim), which is what a 100 TB point set needs. */
object LogisticRegression {

  final case class Model(weights: Array[Double], costs: Seq[Double])

  private def sigmoid(z: Double): Double = 1.0 / (1.0 + math.exp(-z))

  /** points: (label ∈ {0,1}, features). A bias term is NOT added — include a
    * constant-1 feature if wanted. */
  def train(points: Dataset[(Double, Array[Double])], iterations: Int,
      lr: Double): Model = {
    val spark = points.sparkSession
    val dim = points.head()._2.length
    val costs = scala.collection.mutable.ArrayBuffer.empty[Double]

    val w = Iteration.replay(points, iterations, new Array[Double](dim)) {
      (data, weights) =>
        val bc = spark.sparkContext.broadcast(weights)
        // one pass: per-partition (Σ grad, Σ cost, n), reduced on the driver
        val (grad, cost, n) = data.rdd.mapPartitions { it =>
          val wv = bc.value
          val g = new Array[Double](wv.length)
          var c = 0.0
          var cnt = 0L
          it.foreach { case (y, x) =>
            var z = 0.0
            var i = 0
            while (i < wv.length) { z += wv(i) * x(i); i += 1 }
            val h = sigmoid(z)
            val e = h - y
            i = 0
            while (i < wv.length) { g(i) += e * x(i); i += 1 }
            // clamp avoids -inf on perfectly-confident points
            val hc = math.min(math.max(h, 1e-15), 1 - 1e-15)
            c += -y * math.log(hc) - (1 - y) * math.log(1 - hc)
            cnt += 1
          }
          Iterator.single((g, c, cnt))
        }.reduce { (a, b) =>
          val g = a._1.clone()
          var i = 0
          while (i < g.length) { g(i) += b._1(i); i += 1 }
          (g, a._2 + b._2, a._3 + b._3)
        }
        costs += cost / n
        weights.indices.map(i => weights(i) - lr * grad(i) / n).toArray
    } { (_, _) => true }

    Model(w, costs.toSeq)
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.api.StreamContext.localSession(4)
    import spark.implicits._
    // deterministic linearly-separable set: y = [2*x1 - x2 + 0.5 > 0]
    val pts = spark.range(1000).map { i =>
      val x1 = (i % 101).toDouble / 50.0 - 1.0
      val x2 = ((i * 7) % 103).toDouble / 51.0 - 1.0
      val y = if (2 * x1 - x2 + 0.5 > 0) 1.0 else 0.0
      (y, Array(1.0, x1, x2))
    }.persist()
    val m = train(pts, iterations = 50, lr = 0.5)
    println(s"weights\t${m.weights.mkString(",")}")
    println(s"cost\t${m.costs.head} -> ${m.costs.last}")
    spark.stop()
  }
}
