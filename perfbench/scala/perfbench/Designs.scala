package perfbench

import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/**
 * Seeded synthetic EBW problems. Every draw is a splitmix64 hash of
 * (seed, row, column), so a seed gives the same rows at any partitioning.
 * Inputs are local-checkpointed: `spark.catalog.clearCache()`, which the
 * release after every op runs, must not drop them.
 */
object Designs {

  /** An EBW problem as the solver receives it. `targets` are population
   * means; `sumW` is the total initial weight, which scales the solver's
   * violation tolerance. */
  final case class Problem(df: DataFrame, k: Int, targets: Array[Double],
      sumW: Double)

  private def mix(z0: Long): Long = {
    var z = z0 + -7046029254386353131L
    z = (z ^ (z >>> 30)) * -4658895280553007687L
    z = (z ^ (z >>> 27)) * -7723592293110705685L
    z ^ (z >>> 31)
  }

  /** Uniform draw in [0, 1) for (seed, row, column). */
  private def u(seed: Long, row: Long, c: Int): Double =
    (mix(mix(seed) + row * 1000003L + c) >>> 11) * (1.0 / (1L << 53))

  /** Dense design with k = 16 `array<double>` features: an intercept,
   * five uniforms, five binaries with p = 0.1 .. 0.5 and five bell-shaped
   * sums of three uniforms; w0 in [0.5, 1.5). */
  def dense(spark: SparkSession, n: Long, seed: Long, eps: Double): Problem = {
    import spark.implicits._
    val k = 16
    val s = seed
    val df = spark.range(0, n, 1, 4).map { i =>
      val x = new Array[Double](k)
      x(0) = 1.0
      var j = 1
      while (j < k) {
        val v = u(s, i, j)
        x(j) =
          if (j <= 5) v
          else if (j <= 10) (if (v < 0.1 * (j - 5)) 1.0 else 0.0)
          else v + u(s, i, j + 100) + u(s, i, j + 200) - 1.5
        j += 1
      }
      (x, 0.5 + u(s, i, 0))
    }.toDF("features", "w0").localCheckpoint(eager = true)
    val (sumW, sx, sxx) = moments(df, k)
    val planted = Array.tabulate(k) { j =>
      val mean = sx(j) / sumW
      val sd = math.sqrt(math.max(sxx(j) / sumW - mean * mean, 1e-12))
      if (j == 0) 0.0 else sign(s, j) * eps / sd
    }
    plant(df, k, planted)
  }

  /** Sparse one-hot poststratification design: `blocks` categorical blocks
   * of `k / blocks` cells, one cell per block and row (`EbwScaling`'s
   * shape), as an ML sparse vector; w0 in [0.5, 1.5). With k above the
   * solver's dense-Gram limit (512) the solve takes the sparse-Gram + CG
   * path. */
  def sparse(spark: SparkSession, n: Long, k: Int, blocks: Int, seed: Long,
      eps: Double): Problem = {
    require(k % blocks == 0, s"k=$k must divide into $blocks blocks")
    import spark.implicits._
    val per = k / blocks
    val (s, bl) = (seed, blocks)
    val df = spark.range(0, n, 1, 4).map { i =>
      val idx = Array.tabulate(bl)(b => b * per + (u(s, i, 1000 + b) * per).toInt)
      (Vectors.sparse(k, idx, Array.fill(bl)(1.0)), 0.5 + u(s, i, 0))
    }.toDF("features", "w0").localCheckpoint(eager = true)
    plant(df, k, Array.tabulate(k)(c => sign(s, c) * eps))
  }

  private def sign(seed: Long, j: Int): Double =
    if (u(seed, -1L, j) < 0.5) -1.0 else 1.0

  /** Targets with a planted solution: the means of x under the weights
   * w0 exp(x . planted), renormalized to sum(w0). They are feasible and
   * interior by construction, and every seed's problem is equally far
   * from the start (multipliers 0), so Newton step counts stay alike. */
  private def plant(df: DataFrame, k: Int, planted: Array[Double]): Problem = {
    val (sumW, _, _) = moments(df, k)
    val (tiltedW, sx, _) = moments(df, k, tilt = planted)
    Problem(df, k, sx.map(_ / tiltedW), sumW)
  }

  /** (sum w, sum w x_j, sum w x_j^2) over `featuresCol` (array or ML
   * vector) in one aggregate pass, with w = `weightCol` * exp(x . tilt)
   * (no tilt when `tilt` is empty). */
  def moments(df: DataFrame, k: Int, featuresCol: String = "features",
      weightCol: String = "w0", tilt: Array[Double] = Array.empty)
      : (Double, Array[Double], Array[Double]) = {
    val acc = df.select(featuresCol, weightCol).rdd
      .treeAggregate(new Array[Double](2 * k + 1))(
        (a, r) => { addRow(a, r, k, tilt); a },
        (a, b) => { var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a })
    (acc(2 * k), acc.slice(0, k), acc.slice(k, 2 * k))
  }

  private def addRow(a: Array[Double], r: Row, k: Int, tilt: Array[Double]): Unit = {
    val entries: Seq[(Int, Double)] = r.get(0) match {
      case v: Vector =>
        val b = Seq.newBuilder[(Int, Double)]
        v.foreachActive((j, x) => b += j -> x)
        b.result()
      case xs: scala.collection.Seq[_] =>
        xs.iterator.zipWithIndex.map { case (x, j) => j -> x.asInstanceOf[Double] }.toSeq
    }
    val t = if (tilt.isEmpty) 0.0 else entries.map { case (j, x) => tilt(j) * x }.sum
    val w = r.getDouble(1) * math.exp(t)
    entries.foreach { case (j, x) => a(j) += w * x; a(k + j) += w * x * x }
    a(2 * k) += w
  }
}
