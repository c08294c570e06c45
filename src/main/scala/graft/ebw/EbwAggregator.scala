package graft.ebw

import scala.collection.mutable.LongMap

import org.apache.spark.rdd.RDD

/**
 * The one distributed row kernel behind every solver mode. Per row it
 * takes one step, (r, r') = link.rAndSlope(x . theta) ([[eval]]), and
 * folds the row into one of two sinks, each writing at a caller-given
 * base offset so a caller can stack blocks (the grouped round pass keeps
 * one block per group):
 *
 *   packed  ([[addPacked]])  s_i += w0 r x_i at buf(sOff + i),
 *           gram += w0 r' x_i x_j at buf(gOff + pidx(k, i, j))
 *   LongMap ([[addSparse]])  s_i += w0 r x_i at s(sOff + i),
 *           gram(keyBase + i*k + j) += w0 r' x_i x_j, i <= j
 *
 * plus the statistics tail ([[addStats]])
 *
 *   fval  = sum_i w0_i (r_i ln r_i - r_i + 1)   KL criterion (shared.py:41-54)
 *   wrsum = sum_i w0_i r_i
 *
 * The packed Gram suits k <= denseGramMax; the LongMap stays proportional
 * to the realized cross pattern for large-k group-dummy designs. This is
 * the reference's MKL sparse matvec + gram_matrix_mkl access pattern
 * (ebw_routines.py:211,226-233), distributed over N with O(k^2) driver
 * traffic per pass and zero shuffles (treeAggregate is a reduction).
 * [[run]], [[runSparse]], [[gramRdd]], [[ratioSeed]] and
 * GroupedEntropyBalance's round pass are thin drivers over these sinks;
 * every slot receives the same additions in the same row order whichever
 * driver runs it, so results match bit for bit across drivers.
 */
private[ebw] object EbwAggregator {

  final case class Pass(
      s: Array[Double],
      gram: Array[Double],
      fval: Double,
      wrsum: Double,
      gramKeys: Array[Long] = null,
      gramVals: Array[Double] = null) {
    def isSparse: Boolean = gramKeys != null
  }

  /** Packed upper-triangular index for i <= j. */
  @inline def pidx(k: Int, i: Int, j: Int): Int = i * k - i * (i + 1) / 2 + j

  /** (r, dr/dt) at t = x . theta. */
  @inline def eval(row: EbwRow, theta: Array[Double], link: Link, k: Int): (Double, Double) = {
    val vals = row.vals
    val idx = row.idx
    var t = 0.0
    if (idx == null) {
      var j = 0
      while (j < k) { t += vals(j) * theta(j); j += 1 }
    } else {
      var p = 0
      while (p < idx.length) { t += vals(p) * theta(idx(p)); p += 1 }
    }
    link.rAndSlope(t)
  }

  /** fval and wrsum at buf(off), buf(off + 1). */
  @inline def addStats(buf: Array[Double], off: Int, w0: Double, r: Double): Unit = {
    // KL criterion term; r -> 0 limit of (r ln r - r + 1) is 1.
    buf(off) += (if (r <= 0.0) w0 else w0 * (r * math.log(r) - r + 1.0))
    buf(off + 1) += w0 * r
  }

  /** Packed sink: s_i += wr x_i at buf(sOff + i) and, when wrp != 0,
   * the upper-triangular Gram wrp x x' at buf(gOff + pidx(k, i, j)). */
  @inline def addPacked(buf: Array[Double], sOff: Int, gOff: Int,
      row: EbwRow, k: Int, wr: Double, wrp: Double): Unit = {
    val vals = row.vals
    val idx = row.idx
    if (idx == null) {
      var i = 0
      while (i < k) {
        val vi = vals(i)
        buf(sOff + i) += wr * vi
        if (wrp != 0.0 && vi != 0.0) {
          val wv = wrp * vi
          val base = gOff + pidx(k, i, 0)
          var j = i
          while (j < k) { buf(base + j) += wv * vals(j); j += 1 }
        }
        i += 1
      }
    } else {
      val nnz = idx.length
      var p = 0
      while (p < nnz) {
        val i = idx(p)
        val vi = vals(p)
        buf(sOff + i) += wr * vi
        if (wrp != 0.0) {
          val wv = wrp * vi
          val base = gOff + pidx(k, i, 0)
          var q = p
          while (q < nnz) { buf(base + idx(q)) += wv * vals(q); q += 1 }
        }
        p += 1
      }
    }
  }

  /** LongMap sink: s_i += wr x_i at s(sOff + i) (s may be null: Gram
   * only) and, when wrp != 0, gram(keyBase + i*k + j) += wrp x_i x_j. */
  @inline def addSparse(s: Array[Double], sOff: Int, gram: LongMap[Double],
      keyBase: Long, row: EbwRow, k: Int, wr: Double, wrp: Double): Unit = {
    val vals = row.vals
    val idx = row.idx
    if (idx == null) {
      var i = 0
      while (i < k) {
        val vi = vals(i)
        if (vi != 0.0) {
          if (s != null) s(sOff + i) += wr * vi
          if (wrp != 0.0) {
            val wv = wrp * vi
            var j = i
            while (j < k) {
              val vj = vals(j)
              if (vj != 0.0) {
                val key = keyBase + i.toLong * k + j
                gram.update(key, gram.getOrElse(key, 0.0) + wv * vj)
              }
              j += 1
            }
          }
        }
        i += 1
      }
    } else {
      val nnz = idx.length
      var p = 0
      while (p < nnz) {
        val i = idx(p)
        val vi = vals(p)
        if (s != null) s(sOff + i) += wr * vi
        if (wrp != 0.0) {
          val wv = wrp * vi
          var q = p
          while (q < nnz) {
            val key = keyBase + i.toLong * k + idx(q)
            gram.update(key, gram.getOrElse(key, 0.0) + wv * vals(q))
            q += 1
          }
        }
        p += 1
      }
    }
  }

  def addArrays(a: Array[Double], b: Array[Double]): Array[Double] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }

  def addMaps(a: LongMap[Double], b: LongMap[Double]): LongMap[Double] = {
    b.foreachEntry((key, v) => a.update(key, a.getOrElse(key, 0.0) + v))
    a
  }

  /** Packed pass: s, fval, wrsum and, unless `withGram` is false,
   * the packed Gram. The Gram-free pass is Θ(N·nnz) instead of
   * Θ(N·nnz²): the distributed-Gram mode's line-search passes and
   * `evaluate` need only the dual objective pieces. */
  def run(rows: RDD[EbwRow], k: Int, theta: Array[Double], link: Link,
      withGram: Boolean = true): Pass = {
    val tri = if (withGram) k * (k + 1) / 2 else 0
    val out = rows.treeAggregate(new Array[Double](k + tri + 2))(
      seqOp = (buf, row) => {
        val (r, rp) = eval(row, theta, link, k)
        addPacked(buf, 0, k, row, k, row.w0 * r, if (withGram) row.w0 * rp else 0.0)
        addStats(buf, k + tri, row.w0, r)
        buf
      },
      combOp = addArrays,
      depth = 2)
    Pass(
      s = java.util.Arrays.copyOfRange(out, 0, k),
      gram = if (withGram) java.util.Arrays.copyOfRange(out, k, k + tri) else null,
      fval = out(k + tri),
      wrsum = out(k + tri + 1))
  }

  /** Large-k pass: the statistics of [[run]] with the Gram as a LongMap
   * keyed by i*k+j (i <= j). For group-dummy / interaction designs (the
   * reference's "hundreds of thousands of constraints" regime) the Gram
   * has O(k) to O(k * nnz_row) entries, not k^2 — a packed buffer would
   * be 100 MB+/task at k = 5000. Paired with the driver-side CG solve. */
  def runSparse(rows: RDD[EbwRow], k: Int, theta: Array[Double], link: Link,
      depth: Int = 2): Pass = {
    val (stats, gram) = rows.treeAggregate((new Array[Double](k + 2), new LongMap[Double]()))(
      seqOp = (acc, row) => {
        val (r, rp) = eval(row, theta, link, k)
        addSparse(acc._1, 0, acc._2, 0L, row, k, row.w0 * r, row.w0 * rp)
        addStats(acc._1, k, row.w0, r)
        acc
      },
      combOp = (a, b) => { addArrays(a._1, b._1); addMaps(a._2, b._2); a },
      depth = depth)
    val keys = new Array[Long](gram.size)
    val vals = new Array[Double](gram.size)
    var i = 0
    gram.foreachEntry { (key, v) => keys(i) = key; vals(i) = v; i += 1 }
    Pass(java.util.Arrays.copyOfRange(stats, 0, k), null, stats(k), stats(k + 1),
      keys, vals)
  }

  /**
   * The Gram as a DISTRIBUTED dataset — the no-driver-ceiling mode for
   * the large-N × large-k regime (EbwSizing decides): per-partition
   * LongMap partials stream out as (key, value) pairs and a reduceByKey
   * merges them ACROSS EXECUTORS; the merged Gram never lands on the
   * driver. The Newton direction is then solved by CG with distributed
   * matvecs (DriverLinalg.cgSolveRdd) — per-iteration driver traffic is
   * O(k), not O(gram nnz). Caller persists/unpersists the returned RDD.
   */
  def gramRdd(rows: RDD[EbwRow], k: Int, theta: Array[Double], link: Link,
      aggParts: Int): RDD[(Long, Double)] =
    rows.mapPartitions { it =>
      val acc = new LongMap[Double]()
      while (it.hasNext) {
        val row = it.next()
        val (_, rp) = eval(row, theta, link, k)
        addSparse(null, 0, acc, 0L, row, k, 0.0, row.w0 * rp)
      }
      acc.iterator
    }.combineByKeyWithClassTag[Double](
      createCombiner = (v: Double) => v,
      mergeValue = (a: Double, b: Double) => a + b,
      mergeCombiners = (a: Double, b: Double) => a + b,
      partitioner = new org.apache.spark.HashPartitioner(aggParts),
      // The LongMap partial above IS the map-side combine: within a
      // partition every key is already unique, so reduceByKey's default
      // map-side aggregation would build a SECOND full-partial-sized hash
      // map per task purely to rediscover that uniqueness — measured as
      // the executor heap OOM site (AppendOnlyMap.growTable) at
      // N=1e7 × 32 concurrent tasks. Streaming pairs straight to the
      // shuffle writers costs zero extra shuffle volume and caps task
      // memory at the one partial.
      mapSideCombine = false)

  /**
   * One-pass weighted least squares for the primal warm start: solves
   * (sum w0 x x') lambda = sum w0 x ln(r0) — the projection of the log
   * ratio guess onto span(X) — via the packed sink with wr = w0 ln(r0),
   * wrp = w0. Returns (packed gram, rhs). Invalid rows and rows with
   * non-finite or nonpositive ratios are skipped: the guess is only a
   * seed, never a correctness input.
   */
  def ratioSeed(rows: RDD[(EbwRow, Double)], k: Int): (Array[Double], Array[Double]) = {
    val tri = k * (k + 1) / 2
    val out = rows.treeAggregate(new Array[Double](tri + k))(
      seqOp = (buf, rowAndRatio) => {
        val (row, ratio) = rowAndRatio
        if (ratio > 0.0 && !ratio.isInfinite && rowNnz(row, k) >= 0)
          addPacked(buf, tri, 0, row, k, row.w0 * math.log(ratio), row.w0)
        buf
      },
      combOp = addArrays,
      depth = 2)
    (java.util.Arrays.copyOfRange(out, 0, tri),
      java.util.Arrays.copyOfRange(out, tri, tri + k))
  }

  /** The row-validity check: the row's nonzero count, or -1 when the
   * weight is not finite and positive, the shape does not fit k, or a
   * value is not finite. Mirrors inputs_are_invalid
   * (/root/reference/entropy_balance_weighting/shared.py:105-133). */
  def rowNnz(row: EbwRow, k: Int): Int = {
    val vals = row.vals
    val idx = row.idx
    if (row.w0.isNaN || row.w0.isInfinite || row.w0 <= 0.0 || vals == null) return -1
    if (idx == null) { if (vals.length != k) return -1 }
    else if (idx.length != vals.length ||
        (idx.length > 0 && (idx(idx.length - 1) >= k || idx(0) < 0))) return -1
    var nnz = 0
    var p = 0
    while (p < vals.length) {
      val v = vals(p)
      if (v.isNaN || v.isInfinite) return -1
      if (v != 0.0) nnz += 1
      p += 1
    }
    nnz
  }

  final case class Validated(bad: Long, sumW: Array[Double], n: Long, sumPairs: Long)

  /** Validation + sizing pass over rows of `nG` groups (row.g): invalid
   * row count, per-group sumW, row count and sumPairs =
   * Σ_i nnz_i(nnz_i+1)/2 — the total Gram-entry contributions, the input
   * to EbwSizing's partition/depth/placement heuristic (counted in the
   * same scan that checks the rows, so sizing costs nothing extra). */
  def validate(rows: RDD[EbwRow], k: Int, nG: Int = 1): Validated = {
    val out = rows.treeAggregate(new Array[Double](nG + 3))(
      seqOp = (buf, row) => {
        val nnz = rowNnz(row, k)
        if (nnz < 0) buf(nG) += 1.0
        else {
          buf(row.g) += row.w0
          buf(nG + 2) += nnz.toDouble * (nnz + 1) / 2
        }
        buf(nG + 1) += 1.0
        buf
      },
      combOp = addArrays,
      depth = 2)
    Validated(out(nG).toLong, java.util.Arrays.copyOfRange(out, 0, nG),
      out(nG + 1).toLong, out(nG + 2).toLong)
  }
}
