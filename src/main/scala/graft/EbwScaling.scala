package graft

import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * EBW solver scale canary — measures the repo at the REFERENCE'S OWN
 * scale claim (/root/reference README.md:8: "millions of observations
 * and hundreds of thousands of constraints ... converged in minutes",
 * via sparse MKL + Pardiso). The repo's large-k path is a sparse-Gram
 * treeAggregate + Jacobi-preconditioned CG (graft/ebw/EntropyBalance.scala:
 * EbwAggregator.runSparse, DriverLinalg.cgSolve); everything below
 * `denseGramMax` = 512 was already spec- and bench-covered, so this
 * main sweeps the ASSERTED-but-unmeasured regime: N = 1e6-1e7 rows,
 * k = 1e3 / 1e4 / 1e5 constraints.
 *
 * Problem family: sparse poststratification — `blocks` one-hot
 * categorical blocks of k/blocks cells each (nnz/row = blocks, fixed:
 * k scales CELL COUNT, not row density — the reference's own pums
 * shape). Cell assignment is a splitmix64 draw per (row, block), so
 * the design is deterministic, balanced in expectation, and every
 * aggregation pass costs Θ(N · blocks²) regardless of k. Targets are
 * the OBSERVED cell shares perturbed ±`eps` alternately within each
 * block and renormalized to block-sum 1 — interior, exactly feasible,
 * and forcing a genuine multi-step solve (lambda = 0 starts at
 * violation ~eps).
 *
 * Per tier it reports steps, total seconds, seconds per Newton step
 * (each step = 1 gradient pass + >= 1 line-search pass + one CG
 * solve), and convergence. JSON line per tier.
 *
 * Env: SPARK_GRAFT_EBW_TIERS = comma list of N:k pairs
 * (default "1000000:1000,1000000:10000,1000000:100000,10000000:10000"),
 * plus the [[Harness.session]] variables.
 */
object EbwScaling {

  private def mix(z0: Long): Long = {
    var z = z0 + -7046029254386353131L
    z = (z ^ (z >>> 30)) * -4658895280553007687L
    z = (z ^ (z >>> 27)) * -7723592293110705685L
    z ^ (z >>> 31)
  }

  /** Cell index of `row` in `block`: uniform draw over [0, per). */
  private def cell(row: Long, block: Int, per: Int): Int =
    (((mix(row * 131L + block) >>> 1) % per)).toInt

  /** Sparse one-hot poststrat design: (features, w0 = 1) rows. */
  private[graft] def design(spark: SparkSession, n: Long, k: Int,
      blocks: Int): DataFrame = {
    require(k % blocks == 0, s"k=$k must divide into $blocks blocks")
    val per = k / blocks
    import spark.implicits._
    val bl = blocks
    spark.range(n).map { i =>
      val idx = Array.tabulate(bl)(b => b * per + cell(i, b, per))
      (Vectors.sparse(k, idx, Array.fill(bl)(1.0)), 1.0)
    }.toDF("features", "w0")
  }

  /** Feasible interior targets: observed shares, ±eps alternating
   * within each block, renormalized so each block sums to exactly 1
   * (each row carries exactly one 1 per block, so feasibility REQUIRES
   * block-sum 1; the perturbation is what makes the solve non-trivial). */
  private[graft] def targets(spark: SparkSession, n: Long, k: Int,
      blocks: Int, eps: Double): Array[Double] = {
    val per = k / blocks
    import spark.implicits._
    val bl = blocks
    val counts = spark.range(n)
      .flatMap(i => (0 until bl).map(b => b * per + cell(i, b, per)))
      .groupBy("value").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val m = new Array[Double](k)
    var b = 0
    while (b < blocks) {
      var s = 0.0
      var j = 0
      while (j < per) {
        val share = counts.getOrElse(b * per + j, 0L).toDouble / n
        val t = share * (if (j % 2 == 0) 1.0 + eps else 1.0 - eps)
        m(b * per + j) = t
        s += t
        j += 1
      }
      j = 0
      while (j < per) { m(b * per + j) /= s; j += 1 }
      b += 1
    }
    m
  }

  def main(args: Array[String]): Unit = {
    val tiers = sys.env.getOrElse("SPARK_GRAFT_EBW_TIERS",
        "1000000:1000,1000000:10000,1000000:100000,10000000:10000")
      .split(",").map(_.trim).filter(_.nonEmpty)
      .map { s => val Array(n, k) = s.split(":"); (n.toLong, k.toInt) }
    val spark = Harness.session()
    val blocks = 4
    tiers.foreach { case (n, k) =>
      val df = design(spark, n, k, blocks).cache()
      df.count() // materialize outside the timed region
      val m = targets(spark, n, k, blocks, eps = 0.05)
      val load0 = Harness.loadAvg1m()
      val t0 = System.nanoTime()
      val res = graft.ebw.EntropyBalance.entropyBalance(
        df, "features", "w0", m)
      val sec = (System.nanoTime() - t0) / 1e9
      val viol = math.sqrt(res.constraintViolations.map(x => x * x).sum)
      df.unpersist()
      println(f"""{"op":"ebw_scale","n":$n,"k":$k,"nnz_row":$blocks,"steps":${res.nIterations},"sec":$sec%.2f,"sec_per_step":${sec / math.max(1, res.nIterations)}%.2f,"converged":${res.converged},"viol":$viol%.3g,"load":$load0%.2f}""")
    }
    spark.stop()
  }
}
