package graft.ebw

import scala.collection.mutable.LongMap

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import org.apache.spark.storage.StorageLevel

import DriverLinalg.{axpy, norm2}

/**
 * Many independent EBW problems solved simultaneously — the "per-state /
 * per-domain calibration" pattern (reference examples/pums_example.py does
 * ONE big joint problem; at pipeline scale you often need thousands of
 * independent small ones, e.g. per-source reweighting of training data).
 *
 * All groups advance together: each Newton round is ONE treeAggregate over
 * the full dataset ([[roundPass]]) running the single solvers' row kernel
 * (EbwAggregator) into one block per group, so G problems cost one scan,
 * not G scans, and each group's (s, Gram) is bit-identical to the single
 * kernel on that group's rows. Driver state is a k-vector per group;
 * converged groups freeze (their rows skip the kernel). Each group's
 * Newton direction is the single solvers' solve (DriverLinalg.direction).
 * The same round pass serves the exact solver (dual Newton, optional
 * elastic bounds with per-group auto-eta) and the penalty solver (fixed
 * point z = P(A'Phi(z) - b), link = clip(exp(-t)) i.e. eta = -1).
 */
object GroupedEntropyBalance {

  final case class GroupResult(
      converged: Boolean,
      nIterations: Int,
      multipliers: Array[Double],
      constraintViolations: Array[Double])

  final case class GroupedResult(
      weighted: DataFrame,
      groups: Map[String, GroupResult]) {
    def allConverged: Boolean = groups.values.forall(_.converged)
  }

  // ------------------------------------------------------------ shared plumbing

  /** Rows of targeted groups as EbwRows tagged with their group index. */
  private def groupRows(
      df: DataFrame, groupCol: String, featuresCol: String, weightCol: String,
      gIdx: Map[String, Int], nG: Int, k: Int): RDD[EbwRow] = {
    val bcGIdx = df.sparkSession.sparkContext.broadcast(gIdx)
    val rows = df
      .select(col(groupCol).cast("string"), col(featuresCol), col(weightCol).cast(DoubleType))
      .rdd
      .flatMap { r =>
        val gname = if (r.isNullAt(0)) null else r.getString(0)
        Option(gname).flatMap(bcGIdx.value.get).map { g =>
          val w = if (r.isNullAt(2)) Double.NaN else r.getDouble(2)
          EntropyBalance.toEbwRow(r.get(1), w, g)
        }
      }
      .persist(StorageLevel.MEMORY_AND_DISK)
    rows.setName(s"ebw-grouped-${nG}g-k$k")
    rows
  }

  /**
   * One Newton round's shared pass: a single treeAggregate running
   * EbwAggregator's row kernel for every row of an unconverged group g,
   * under that group's link clip(exp(eta_g * t), lb, ub), into that
   * group's block — the packed sink at offset g*(k + k(k+1)/2) up to
   * denseGramMax; above it (500 groups x k = 1000 packed would be ~2
   * GB/task) s stays flat at offset g*k and the Gram goes to the LongMap
   * sink at key base g*k*k, proportional to the realized cross pattern.
   * Returns each group's (s, Gram) as a Pass; null for converged groups.
   */
  private[ebw] def roundPass(
      rows: RDD[EbwRow], nG: Int, k: Int,
      lambda: Array[Array[Double]], etas: Array[Double], done: Array[Boolean],
      lb: Double, ub: Double, sparseGram: Boolean): Array[EbwAggregator.Pass] = {
    import EbwAggregator._
    val spark = rows.sparkContext
    val tri = k * (k + 1) / 2
    val blk = k + tri
    val bcLambda = spark.broadcast(lambda)
    val bcLinks = spark.broadcast(etas.map(Link.clip(_, lb, ub)))
    val bcDone = spark.broadcast(done)
    def pass(g: Int, s: Array[Double], gram: Array[Double],
        keys: Array[Long], vals: Array[Double]): Pass =
      if (done(g)) null else Pass(s, gram, 0.0, 0.0, keys, vals)
    try {
      if (!sparseGram) {
        val out = rows.treeAggregate(new Array[Double](nG * blk))(
          (buf, row) => {
            val g = row.g
            if (!bcDone.value(g)) {
              val (r, rp) = eval(row, bcLambda.value(g), bcLinks.value(g), k)
              addPacked(buf, g * blk, g * blk + k, row, k, row.w0 * r, row.w0 * rp)
            }
            buf
          },
          addArrays, depth = 2)
        Array.tabulate(nG)(g => pass(g,
          java.util.Arrays.copyOfRange(out, g * blk, g * blk + k),
          java.util.Arrays.copyOfRange(out, g * blk + k, (g + 1) * blk), null, null))
      } else {
        val (s, gram) = rows.treeAggregate(
            (new Array[Double](nG * k), new LongMap[Double]()))(
          (acc, row) => {
            val g = row.g
            if (!bcDone.value(g)) {
              val (r, rp) = eval(row, bcLambda.value(g), bcLinks.value(g), k)
              addSparse(acc._1, g * k, acc._2, g.toLong * k * k, row, k,
                row.w0 * r, row.w0 * rp)
            }
            acc
          },
          (a, b) => { addArrays(a._1, b._1); addMaps(a._2, b._2); a },
          depth = 2)
        // split the merged map into per-group key/value arrays (keys
        // re-based to i*k+j), keeping the merged map's entry order
        val keys = Array.fill(nG)(Array.newBuilder[Long])
        val vals = Array.fill(nG)(Array.newBuilder[Double])
        gram.foreachEntry { (key, v) =>
          val g = (key / (k.toLong * k)).toInt
          keys(g) += key - g.toLong * k * k
          vals(g) += v
        }
        Array.tabulate(nG)(g => pass(g,
          java.util.Arrays.copyOfRange(s, g * k, (g + 1) * k), null,
          keys(g).result(), vals(g).result()))
      }
    } finally {
      bcLambda.destroy()
      bcLinks.destroy()
      bcDone.destroy()
    }
  }

  /** Output stage shared by both solvers: one narrow pass computing
   * w0 * clip(exp(x . mult_g), lb, ub); rows whose group has no targets
   * keep their original weight (ratio 1), UNCLIPPED. */
  private def weightedOutput(
      df: DataFrame, groupCol: String, featuresCol: String, weightCol: String,
      outputCol: String, names: Array[String], mult: Array[Array[Double]],
      lb: Double, ub: Double): DataFrame = {
    val spark = df.sparkSession
    graft.functions.GraftFunctions.register(spark)
    val multByName = names.indices.map(g => names(g) -> mult(g)).toMap
    val bcM = spark.sparkContext.broadcast(multByName)
    val lamCol = udf { (gname: String) =>
      if (gname == null) null else bcM.value.get(gname).map(_.toSeq).orNull
    }
    val lam = lamCol(col(groupCol).cast("string"))
    val isArr = df.schema(featuresCol).dataType
      .isInstanceOf[org.apache.spark.sql.types.ArrayType]
    val ratio =
      if (isArr)
        when(lam.isNull, lit(1.0))
          .otherwise(call_function("graft_ratio",
            col(featuresCol).cast("array<double>"), lam,
            lit(1.0), lit(lb), lit(ub)))
      else {
        // effective multipliers already absorb eta, so eta = 1 here
        val outLink = Link.clip(1.0, lb, ub)
        val f = udf { (v: org.apache.spark.ml.linalg.Vector, gname: String) =>
          bcM.value.get(if (gname == null) "" else gname) match {
            case None => 1.0
            case Some(th) =>
              EbwAggregator.eval(EntropyBalance.toEbwRow(v, 1.0), th, outLink, th.length)._1
          }
        }
        f(col(featuresCol), col(groupCol).cast("string"))
      }
    df.withColumn(outputCol, col(weightCol) * ratio)
  }

  // ------------------------------------------------------------------ public

  /** Re-apply a grouped fit's learned multipliers to fresh data (the
   * graft.pipeline transform bridge): exactly the weightedOutput stage of
   * the solvers — rows of groups absent from `groups` keep their original
   * weight. `groups` carries EFFECTIVE multipliers (eta absorbed), so the
   * ratio is clip(exp(x . mult_g), lb, ub) with eta = 1. */
  private[graft] def applyGroupWeights(
      df: DataFrame, groupCol: String, featuresCol: String, weightCol: String,
      outputCol: String, groups: Map[String, GroupResult],
      lb: Double, ub: Double): DataFrame = {
    val names = groups.keys.toArray.sorted
    val mult = names.map(n => groups(n).multipliers)
    weightedOutput(df, groupCol, featuresCol, weightCol, outputCol, names, mult, lb, ub)
  }

  /** Both grouped solvers' frame: checks the targets (the single
   * solvers' check), caches the group-tagged rows, validates them with the
   * single solvers' row check, runs `solve` on (names, rows, validation)
   * and releases the rows however it ends. */
  private def withGroups(
      df: DataFrame, groupCol: String, featuresCol: String, weightCol: String,
      targets: Map[String, Array[Double]])(
      solve: (Array[String], RDD[EbwRow], EbwAggregator.Validated) => GroupedResult)
      : GroupedResult = {
    require(targets.nonEmpty)
    val k = targets.head._2.length
    require(targets.values.forall(_.length == k), "all groups need k moments")
    targets.values.foreach(EntropyBalance.requireFiniteTargets)
    val names = targets.keys.toArray.sorted
    val rows = groupRows(df, groupCol, featuresCol, weightCol,
      names.zipWithIndex.toMap, names.length, k)
    try {
      val v = EbwAggregator.validate(rows, k, names.length)
      if (v.bad > 0) throw EntropyBalance.invalidInputs()
      solve(names, rows, v)
    } finally rows.unpersist(false)
  }

  /** The output weights plus per-group diagnostics. */
  private def groupedResult(
      df: DataFrame, groupCol: String, featuresCol: String, weightCol: String,
      outputCol: String, names: Array[String], results: Array[GroupResult],
      lb: Double, ub: Double): GroupedResult =
    GroupedResult(
      weightedOutput(df, groupCol, featuresCol, weightCol, outputCol, names,
        results.map(_.multipliers), lb, ub),
      names.zip(results).toMap)

  /** DISTRIBUTED-GRAM tier of the grouped solver: G simultaneous
   * large-k problems would hold G sparse Grams in the shared round pass
   * — the per-task LongMap and its driver merge scale with the SUM of
   * the groups' realized cross patterns, so at the single-problem
   * distributed-Gram regime (N=1e7 × k=1e5) a handful of groups exhausts
   * the driver budget that one problem already saturates. When the Gram
   * placement (EbwSizing.place, the single solver's decision, on the
   * TOTAL Σ nnz(nnz+1)/2 the validation pass measured) says distributed,
   * the groups shard across single-problem solves — each group's rows
   * filter to its own cached RDD and the single solver engages its own
   * distributed-Gram CG (Gram lives as an RDD, O(k) driver traffic per
   * CG iteration, no driver ceiling) — then stitch one GroupedResult.
   * Shards CO-SCHEDULE, min(4, groups) at a time: Spark's scheduler
   * interleaves their jobs, so one solve's driver-side linalg gap is
   * another's executor time (the 4-group canary spec pins wall << G
   * sequential solves), at the price of multiplying the single-problem
   * O(k) driver envelope by the pool size — kept small because that
   * envelope is why the groups sharded in the first place. Groups with
   * no rows converge trivially (multipliers 0, ratio 1 — the shared-pass
   * behavior). */
  private def solveSharded(
      df: DataFrame, groupCol: String, featuresCol: String,
      weightCol: String, targets: Map[String, Array[Double]],
      outputCol: String, options: EbwOptions, names: Array[String],
      sumW: Array[Double], lb: Double, ub: Double): GroupedResult = {
    val k = targets(names(0)).length
    def solveOne(name: String, g: Int): GroupResult =
      if (sumW(g) == 0.0)
        GroupResult(converged = true, 0, new Array[Double](k), new Array[Double](k))
      else {
        EbwLog.info(s"grouped distributed-Gram shard: group '$name' " +
          s"(${g + 1}/${names.length}) via the single-problem solver")
        val res = EntropyBalance.entropyBalance(
          df.filter(col(groupCol) === name), featuresCol, weightCol,
          targets(name), outputCol, options)
        // effective multipliers (eta absorbed): the grouped output stage
        // computes clip(exp(x . mult), lb, ub) with eta = 1
        val eff =
          if (res.link.mode == Link.CLIP) res.theta.map(_ * res.link.eta)
          else res.theta
        GroupResult(res.converged, res.nIterations, eff, res.constraintViolations)
      }
    // each future is one independent solve (local vars only; EbwLog is
    // synchronized; SparkContext actions are thread-safe)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(4, names.length))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    val results =
      try {
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        Await.result(Future.sequence(names.indices.map(g =>
          Future(solveOne(names(g), g)))), Duration.Inf).toArray
      } finally pool.shutdown()
    groupedResult(df, groupCol, featuresCol, weightCol, outputCol, names,
      results, lb, ub)
  }

  /**
   * Solve one unbounded (or elastic-bounded) EBW problem per distinct value
   * of `groupCol`. `targets(g)` are mean population moments for group g;
   * every group uses the same feature dimension k. Returns the input with
   * `outputCol` (all groups' weights in one column) plus per-group
   * diagnostics.
   *
   * Every round is one shared pass ([[roundPass]]) followed, per
   * unconverged group, by the single solvers' Newton-direction solve
   * (DriverLinalg.direction: Cholesky on the packed Gram, CG on the
   * sparse one). Above `options.denseGramMax`, when the Gram placement
   * the single solver uses (EbwSizing.place) says the summed sparse Grams
   * exceed this driver's maxResultSize/heap envelope — or gramMode =
   * "distributed" forces it — the groups shard across single-problem
   * DISTRIBUTED-Gram solves instead ([[solveSharded]]). gramMode =
   * "driver" keeps the shared pass and fails fast with the sized envelope
   * error instead of OOMing mid-solve.
   */
  def entropyBalanceGrouped(
      df: DataFrame,
      groupCol: String,
      featuresCol: String,
      weightCol: String,
      targets: Map[String, Array[Double]],
      outputCol: String = "weight_new",
      options: EbwOptions = EbwOptions()): GroupedResult =
    withGroups(df, groupCol, featuresCol, weightCol, targets) { (names, rows, v) =>
      val nG = names.length
      val k = targets(names(0)).length
      val (lb, ub) = EntropyBalance.ratioBounds(options)
      val sharded = k > options.denseGramMax && EbwSizing.place(rows.sparkContext,
        k, v.sumPairs, rows.getNumPartitions, options.gramMode)._2
      if (sharded)
        solveSharded(df, groupCol, featuresCol, weightCol, targets, outputCol,
          options, names, v.sumW, lb, ub)
      else {
        val b = Array.tabulate(nG)(g => targets(names(g)).map(_ * v.sumW(g)))
        val bscale = b.map(bg => math.max(1.0, norm2(bg)))
        // Unified link: r = clip(exp(eta_g * t), lb, ub). Unbounded mode is
        // lb=0, ub=inf, eta fixed at 1 (clip inert, no box on lambda);
        // bounded/elastic mode box-projects lambda into [-1,1]^k and
        // auto-grows each group's eta independently (SURVEY.md §3).
        val bounded = options.bounds.isDefined
        val etaFixed = options.eta.isDefined
        val etas = Array.fill(nG)(if (bounded) options.eta.getOrElse(1.0) else 1.0)
        val noDiag = new Array[Double](k)
        val lambda = Array.fill(nG)(new Array[Double](k))
        val converged = new Array[Boolean](nG)
        val iters = new Array[Int](nG)
        val ceOut = Array.fill(nG)(new Array[Double](k))
        var round = 0
        val maxRounds = if (bounded) options.maxStepsBounded else options.maxSteps
        val sparseGram = k > options.denseGramMax

        while (round < maxRounds && !converged.forall(identity)) {
          val rd = roundPass(rows, nG, k, lambda, etas, converged, lb, ub, sparseGram)
          var g = 0
          while (g < nG) {
            if (!converged(g)) {
              val ce = axpy(-1.0, b(g), rd(g).s)
              ceOut(g) = ce
              // projected gradient: pin box-saturated coordinates pushing out
              val pg = ce.map(-_)
              if (bounded) {
                var j = 0
                while (j < k) {
                  if (lambda(g)(j) >= 1.0 - 1e-12 && pg(j) > 0) pg(j) = 0.0
                  if (lambda(g)(j) <= -1.0 + 1e-12 && pg(j) < 0) pg(j) = 0.0
                  j += 1
                }
              }
              val viol = norm2(pg)
              if (viol <= options.optimalityTol * bscale(g)) {
                // feasibility refinement: pinned with residual violation and
                // growable eta -> retry at 10x (elastic auto-eta per group)
                val pinnedAny = bounded && lambda(g).exists(l => math.abs(l) >= 1.0 - 1e-9)
                if (bounded && !etaFixed && pinnedAny &&
                    norm2(ce) > options.optimalityTol * bscale(g) && etas(g) < 1e7) {
                  val old = etas(g)
                  etas(g) *= 10.0
                  var j = 0
                  while (j < k) {
                    lambda(g)(j) = math.max(-1.0, math.min(1.0, lambda(g)(j) * old / etas(g)))
                    j += 1
                  }
                } else converged(g) = true
              } else {
                val ridge = math.max(1e-8, 1e-5 * math.pow(viol / bscale(g), 0.55))
                val d = DriverLinalg.direction(rd(g), k, noDiag, pg, 1.0, ridge, null)
                // damped full step: groups share the pass, so no individual
                // line search — cap the step to keep exp() sane instead
                val dn = d.map(math.abs).max
                val cap = if (bounded) 2.0 else 30.0
                val scale = if (dn > cap) cap / dn else 1.0
                var j = 0
                while (j < k) {
                  val next = lambda(g)(j) + scale * d(j)
                  lambda(g)(j) =
                    if (bounded) math.max(-1.0, math.min(1.0, next)) else next
                  j += 1
                }
                iters(g) += 1
                // step-size exit (shared.py:57), guarded by a loose
                // feasibility check as in the single unbounded solver —
                // stops groups from spinning at the noise floor
                if (norm2(d) * scale < options.stepTol &&
                    norm2(ce) < 1e-3 * bscale(g)) converged(g) = true
              }
            }
            g += 1
          }
          round += 1
        }
        // effective multipliers are eta_g * lambda_g: r = clip(exp(x . mult))
        groupedResult(df, groupCol, featuresCol, weightCol, outputCol, names,
          Array.tabulate(nG)(g => GroupResult(converged(g), iters(g),
            lambda(g).map(_ * etas(g)), ceOut(g))), lb, ub)
      }
    }

  /**
   * Grouped quadratic-penalty EBW: one penalty problem
   * min phi(r) + 1/2 (A'r - b_g)' P (A'r - b_g) per group, optionally with
   * ratio bounds — the grouped analogue of entropy_balance_penalty
   * (ebw_penalty.py:17-399). Same per-round shared pass as the exact
   * grouped solver with the penalty link r = clip(exp(-t), lb, ub)
   * (eta = -1); per group the driver iterates the k-dim fixed point
   * F(z) = z - P Ce(z) with damped Newton steps (P^-1 + G) d = -P^-1 F.
   */
  def entropyBalancePenaltyGrouped(
      df: DataFrame,
      groupCol: String,
      featuresCol: String,
      weightCol: String,
      targets: Map[String, Array[Double]],
      penaltyParameter: Array[Double],
      outputCol: String = "weight_new",
      options: EbwOptions = EbwOptions()): GroupedResult = {
    require(targets.nonEmpty)
    val k = targets.head._2.length
    val pen = EntropyBalance.penalties(penaltyParameter, k)
    val invP = pen.map(1.0 / _)
    withGroups(df, groupCol, featuresCol, weightCol, targets) { (names, rows, v) =>
      val nG = names.length
      val b = Array.tabulate(nG)(g => targets(names(g)).map(_ * v.sumW(g)))
      val bscale = b.map(bg => math.max(1.0, norm2(bg)))
      val (lb, ub) = EntropyBalance.ratioBounds(options)
      // penalty link: r = clip(exp(-t), lb, ub) == clip link with eta = -1;
      // the aggregated "Gram" is then dS/dz = -G (sign = -1 at the solve)
      val etas = Array.fill(nG)(-1.0)

      val z = Array.fill(nG)(new Array[Double](k))
      val converged = new Array[Boolean](nG)
      val iters = new Array[Int](nG)
      val ceOut = Array.fill(nG)(new Array[Double](k))
      var round = 0
      val maxRounds =
        if (options.bounds.isDefined) options.maxStepsBounded else options.maxSteps
      val sparseGram = k > options.denseGramMax

      while (round < maxRounds && !converged.forall(identity)) {
        val rd = roundPass(rows, nG, k, z, etas, converged, lb, ub, sparseGram)
        var g = 0
        while (g < nG) {
          if (!converged(g)) {
            val ce = axpy(-1.0, b(g), rd(g).s)
            ceOut(g) = ce
            val f = new Array[Double](k)
            var i = 0
            while (i < k) { f(i) = z(g)(i) - pen(i) * ce(i); i += 1 }
            val fNorm = norm2(f)
            if (fNorm <= options.optimalityTol * math.max(1.0, norm2(z(g)))) {
              converged(g) = true
            } else {
              val rhs = new Array[Double](k)
              i = 0
              while (i < k) { rhs(i) = -invP(i) * f(i); i += 1 }
              val ridge = math.max(1e-10, 1e-7 * fNorm / bscale(g))
              val d = DriverLinalg.direction(rd(g), k, invP, rhs, -1.0, ridge, null)
              val dn = d.map(math.abs).max
              val scale = if (dn > 30.0) 30.0 / dn else 1.0
              i = 0
              while (i < k) { z(g)(i) += scale * d(i); i += 1 }
              iters(g) += 1
              // step-size exit (shared.py:57 semantics, as in the single
              // solver): once steps shrink below stepTol the iterate is
              // done — without this, groups spin at the ||F|| noise floor
              if (norm2(d) * scale < options.stepTol) converged(g) = true
            }
          }
          g += 1
        }
        round += 1
      }
      // ratio = clip(exp(-x . z), lb, ub): effective multipliers are -z
      groupedResult(df, groupCol, featuresCol, weightCol, outputCol, names,
        Array.tabulate(nG)(g => GroupResult(converged(g), iters(g),
          z(g).map(-_), ceOut(g))), lb, ub)
    }
  }
}
