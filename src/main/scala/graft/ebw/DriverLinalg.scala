package graft.ebw

/**
 * Driver-side dense linear algebra for the k x k Newton systems (k << N).
 * Plays the role of pypardiso/scipy solves in the reference
 * (ebw_routines.py:242-257): Cholesky with the same escalate-ridge-by-10x
 * retry on indefiniteness, which is also what makes collinear moment
 * columns harmless (test_colinear.py relies on exactly this behavior).
 */
private[ebw] object DriverLinalg {

  /** THE Newton direction from a driver-merged pass: solves
   * (sign*G + diag + ridge*I) d = rhs over the `free` coordinates (null =
   * all; the others get d = 0) — ridge-escalating Cholesky on a packed
   * Gram, preconditioned CG on a sparse one. */
  def direction(
      pass: EbwAggregator.Pass, k: Int, diag: Array[Double], rhs: Array[Double],
      sign: Double, ridge: Double, free: Array[Boolean]): Array[Double] =
    if (pass.isSparse) cgSolve(k, pass.gramKeys, pass.gramVals, diag, rhs, ridge, free, sign)
    else cholesky(k, pass.gram, diag, rhs, ridge, free, sign)

  /** Solve (sign*G + diag + ridge*I) x = rhs on the `free` coordinates
   * (null = all; zeros elsewhere), G packed upper-triangular SPD-ish;
   * escalates the ridge 10x while the factorization fails. */
  def cholesky(
      k: Int,
      packed: Array[Double],
      diag: Array[Double],
      rhs: Array[Double],
      ridge0: Double,
      free: Array[Boolean] = null,
      sign: Double = 1.0): Array[Double] = {
    val idx = (0 until k).filter(i => free == null || free(i)).toArray
    val m = idx.length
    var ridge = ridge0
    var attempts = 0
    while (attempts < 16) {
      val a = Array.ofDim[Double](m, m)
      val b = new Array[Double](m)
      var ii = 0
      while (ii < m) {
        val gi = idx(ii)
        b(ii) = rhs(gi)
        var jj = ii
        while (jj < m) {
          val v = sign * packed(EbwAggregator.pidx(k, gi, idx(jj)))
          a(ii)(jj) = v
          a(jj)(ii) = v
          jj += 1
        }
        a(ii)(ii) += diag(gi) + ridge
        ii += 1
      }
      val x = cholSolve(a, b)
      if (x != null) {
        val out = new Array[Double](k)
        var p = 0
        while (p < m) { out(idx(p)) = x(p); p += 1 }
        return out
      }
      ridge = math.max(ridge, 1e-12) * 10.0
      attempts += 1
    }
    throw new ArithmeticException("EBW Newton system is numerically singular")
  }

  /** In-place Cholesky solve; returns null if not positive definite. */
  private def cholSolve(a: Array[Array[Double]], b: Array[Double]): Array[Double] = {
    val n = a.length
    // factor: a(i)(j) for j<=i holds L
    var i = 0
    while (i < n) {
      var j = 0
      while (j <= i) {
        var s = a(i)(j)
        var p = 0
        while (p < j) { s -= a(i)(p) * a(j)(p); p += 1 }
        if (i == j) {
          if (s <= 0.0 || s.isNaN) return null
          a(i)(i) = math.sqrt(s)
        } else {
          a(i)(j) = s / a(j)(j)
        }
        j += 1
      }
      i += 1
    }
    // forward: L y = b
    val y = new Array[Double](n)
    i = 0
    while (i < n) {
      var s = b(i)
      var p = 0
      while (p < i) { s -= a(i)(p) * y(p); p += 1 }
      y(i) = s / a(i)(i)
      i += 1
    }
    // backward: L^T x = y
    val x = new Array[Double](n)
    i = n - 1
    while (i >= 0) {
      var s = y(i)
      var p = i + 1
      while (p < n) { s -= a(p)(i) * x(p); p += 1 }
      x(i) = s / a(i)(i)
      i -= 1
    }
    x
  }

  /**
   * Jacobi-preconditioned conjugate gradient for the large-k regime:
   * solve (sign*G + diag + ridge*I) x = rhs where G is the SPARSE upper-tri
   * Gram from EbwAggregator.runSparse (keys = i*k+j, i <= j). Plays the
   * role of pypardiso.spsolve in the reference (ebw_routines.py:242-245)
   * without needing a sparse direct factorization on the driver. `free`
   * masks pinned coordinates (elastic box): masked rows/cols behave as
   * identity.
   */
  def cgSolve(
      k: Int,
      keys: Array[Long],
      vals: Array[Double],
      diag: Array[Double],
      rhs: Array[Double],
      ridge: Double,
      free: Array[Boolean],
      sign: Double = 1.0): Array[Double] = {
    val nnz = keys.length
    val gdiag = new Array[Double](k)
    var p = 0
    while (p < nnz) {
      val key = keys(p)
      val i = (key / k).toInt
      if ((key % k).toInt == i) gdiag(i) += sign * vals(p)
      p += 1
    }
    def gramMv(x: Array[Double]): Array[Double] = {
      val out = new Array[Double](k)
      var p = 0
      while (p < nnz) {
        val key = keys(p)
        val a = (key / k).toInt
        val b = (key % k).toInt
        if (free == null || (free(a) && free(b))) {
          val v = sign * vals(p)
          out(a) += v * x(b)
          if (a != b) out(b) += v * x(a)
        }
        p += 1
      }
      out
    }
    pcg(k, gdiag, gramMv, diag, rhs, ridge, free, 1e-12, math.min(2 * k + 20, 4000))
  }

  /**
   * Jacobi-preconditioned CG with DISTRIBUTED matvecs — the
   * no-driver-ceiling companion of [[cgSolve]] for the regime where the
   * merged sparse Gram exceeds the driver budget (EbwSizing decides).
   * `gram` is the upper-tri Gram as an RDD of (i*k+j, value), i <= j
   * (EbwAggregator.gramRdd, caller-persisted). Each CG iteration
   * broadcasts the k-vector p and tree-aggregates the k-vector G·p:
   * driver traffic is O(k) per iteration regardless of Gram size. Each
   * iteration is a Spark job, so it converges to Newton-inner accuracy
   * (1e-10 relative, not 1e-12); the outer line search absorbs the
   * difference.
   *
   * Math note: same PCG loop as cgSolve, but the partial-sum ORDER inside
   * the distributed matvec differs from the driver loop, so results agree
   * to fp-accumulation tolerance, not bit-exactly — the parity spec
   * asserts 1e-8 relative agreement.
   */
  def cgSolveRdd(
      gram: org.apache.spark.rdd.RDD[(Long, Double)],
      k: Int,
      diag: Array[Double],
      rhs: Array[Double],
      ridge: Double,
      free: Array[Boolean],
      sign: Double = 1.0,
      maxIterOverride: Int = 0): Array[Double] = {
    val sc = gram.sparkContext
    // Jacobi preconditioner: Gram diagonal in ONE aggregation pass
    val gdiag = gram.treeAggregate(new Array[Double](k))(
      seqOp = (buf, kv) => {
        val i = (kv._1 / k).toInt
        if ((kv._1 % k).toInt == i) buf(i) += sign * kv._2
        buf
      },
      combOp = EbwAggregator.addArrays,
      depth = 2)
    val freeBc = if (free == null) null else sc.broadcast(free)

    def gramMv(x: Array[Double]): Array[Double] = {
      val xb = sc.broadcast(x)
      try gram.treeAggregate(new Array[Double](k))(
          seqOp = (buf, kv) => {
            val key = kv._1
            val a = (key / k).toInt
            val b = (key % k).toInt
            if (freeBc == null || (freeBc.value(a) && freeBc.value(b))) {
              val v = sign * kv._2
              val xv = xb.value
              buf(a) += v * xv(b)
              if (a != b) buf(b) += v * xv(a)
            }
            buf
          },
          combOp = EbwAggregator.addArrays,
          depth = 2)
      finally xb.destroy()
    }

    val maxIter =
      if (maxIterOverride > 0) maxIterOverride else math.min(2 * k + 20, 1000)
    try pcg(k, gdiag, gramMv, diag, rhs, ridge, free, 1e-10, maxIter)
    finally if (freeBc != null) freeBc.destroy()
  }

  /**
   * THE preconditioned CG loop behind [[cgSolve]] and [[cgSolveRdd]]:
   * solves (G' + diag + ridge*I) x = rhs on the free coordinates, where
   * `gramMv(x)` returns G'x over free pairs and `gdiag` is diag(G'); pinned
   * rows/cols behave as identity. Stops at relative residual `tol` or
   * `maxIter` iterations. A capped (or breakdown-truncated) exit returns a
   * PARTIALLY converged Newton direction — legal (the outer line search
   * absorbs it) but logged, so persistent hits point back here.
   */
  private def pcg(
      k: Int,
      gdiag: Array[Double],
      gramMv: Array[Double] => Array[Double],
      diag: Array[Double],
      rhs: Array[Double],
      ridge: Double,
      free: Array[Boolean],
      tol: Double,
      maxIter: Int): Array[Double] = {
    @inline def isFree(i: Int): Boolean = free == null || free(i)
    val precond = new Array[Double](k)
    var i = 0
    while (i < k) {
      precond(i) = diag(i) + ridge + gdiag(i)
      if (precond(i) <= 0.0) precond(i) = math.max(ridge, 1e-12)
      i += 1
    }
    def mv(x: Array[Double]): Array[Double] = {
      val out = gramMv(x)
      var q = 0
      while (q < k) {
        if (isFree(q)) out(q) += (diag(q) + ridge) * x(q) else out(q) = x(q)
        q += 1
      }
      out
    }
    val b = rhs.clone()
    i = 0
    while (i < k) { if (!isFree(i)) b(i) = 0.0; i += 1 }
    val x = new Array[Double](k)
    val r = b.clone()
    val z = new Array[Double](k)
    i = 0
    while (i < k) { z(i) = r(i) / precond(i); i += 1 }
    val p = z.clone()
    var rz = dot(r, z)
    val bnorm = math.max(norm2(b), 1e-300)
    var iter = 0
    while (iter < maxIter && norm2(r) > tol * bnorm) {
      val ap = mv(p)
      val pap = dot(p, ap)
      if (pap <= 0.0 || pap.isNaN) {
        iter = maxIter // breakdown: return best-so-far (ridge guards PD)
      } else {
        val alpha = rz / pap
        var j = 0
        while (j < k) { x(j) += alpha * p(j); r(j) -= alpha * ap(j); j += 1 }
        j = 0
        while (j < k) { z(j) = r(j) / precond(j); j += 1 }
        val rzNew = dot(r, z)
        val beta = rzNew / rz
        rz = rzNew
        j = 0
        while (j < k) { p(j) = z(j) + beta * p(j); j += 1 }
        iter += 1
      }
    }
    val rn = norm2(r)
    if (rn > tol * bnorm)
      EbwLog.warn(f"CG stopped at iter=$iter/$maxIter with relative residual " +
        f"${rn / bnorm}%.3e > $tol%.0e (k=$k): Newton direction partially " +
        "converged; the outer line search absorbs it, but persistent hits " +
        "mean an ill-conditioned moment system")
    x
  }

  @inline def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  @inline def norm2(a: Array[Double]): Double = math.sqrt(dot(a, a))

  def axpy(alpha: Double, x: Array[Double], y: Array[Double]): Array[Double] = {
    val out = new Array[Double](y.length)
    var i = 0
    while (i < y.length) { out(i) = y(i) + alpha * x(i); i += 1 }
    out
  }
}
