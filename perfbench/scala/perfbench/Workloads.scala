package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

import graft.SparkEntry
import graft.ebw.{EbwOptions, EbwResult, EntropyBalance}
import graft.pipeline.{EntropyBalanceModel, EntropyBalanceWeighter}

/** What one timed op execution returned: seconds spent building the
 * DataFrame (registry gates), Newton steps (solves), and an error when
 * the output failed its check. */
final case class Run(buildS: Double = 0.0, steps: Int = 0,
    error: Option[String] = None)

/**
 * One closed-loop operation. `run` is timed: it builds its output and
 * consumes every row and column (solves: the solve plus its convergence
 * check). `check` is untimed and runs in set-up: it executes the op once
 * and verifies the full output (digest or targets); it doubles as the
 * cold pass. `probe` is timed only in traced passes: `count()` of a
 * heavy gate, or `EntropyBalance.evaluate` at a solve's multipliers.
 * `digest` is the gate's (key, digest) for recording expected digests.
 */
final case class Op(name: String, group: String, run: () => Run,
    check: () => Option[String], probe: Option[() => Double] = None,
    digest: Option[(String, () => String)] = None)

object Workloads {

  val names: Seq[String] = Seq("ebw_solve", "registry")

  /** Compute-bound gates whose `count()` plan skips most of their work;
   * traced runs also time `count()` on them and report the ratio. */
  val heavy: Seq[String] = Seq("text_contamination", "text_tokens_bpe")

  /** Gates whose full-consume time at sf0.01 measured under 0.3 s on a
   * 4-core host, so fixed per-query cost (planning, job submission)
   * dominates; frozen by name. */
  val short: Seq[String] = Seq("q_string_funcs", "q_try_cast",
    "q_json_extract", "q_datetime", "q1_pricing", "text_tokens", "ann_topk",
    "dedup_exact", "mm_media_meta")

  /** Per-size knobs; `tiny` is the self-test mode. */
  final case class Size(data: String, groupedData: String, denseN: Long,
      sparseN: Long)
  val full: Size = Size("sf0.01", "sf0.001", 250000L, 50000L)
  val tiny: Size = Size("sf0.001", "sf0.001", 10000L, 10000L)

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = body; (r, secs(t0))
  }

  /** Row count + the sum of a per-row xxhash64 over all columns: equal
   * for equal multisets of rows, whatever the row order. Map columns
   * are hashed as their sorted entry arrays. */
  def digest(df: DataFrame): String = {
    val cols: Seq[Column] = df.schema.fields.toSeq.map { f =>
      val c = col("`" + f.name.replace("`", "``") + "`")
      f.dataType match {
        case _: MapType => array_sort(map_entries(c))
        case _ => c
      }
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = df.agg(count(lit(1)), sum(h.cast("decimal(38,0)"))).head()
    val s = Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")
    s"${r.getLong(0)}:$s"
  }

  /** A registry gate on `dataRoot/data`: build = the query function,
   * consume = a no-op sink write of every row and column, check = its
   * digest against `expected("data/name")`. */
  def gate(spark: SparkSession, dataRoot: String, data: String, name: String,
      group: String, expected: Map[String, String]): Op = {
    val fn = SparkEntry.queries.getOrElse(name,
      throw new IllegalArgumentException(s"no registry query $name"))
    val dir = s"$dataRoot/$data"
    val key = s"$data/$name"
    val outputDigest = () => digest(fn(spark, dir))
    val probe =
      if (heavy.contains(name)) Some(() => timed(fn(spark, dir).count())._2)
      else None
    Op(name, group,
      run = () => {
        val (df, b) = timed(fn(spark, dir))
        df.write.format("noop").mode("overwrite").save()
        Run(buildS = b)
      },
      check = () => {
        val d = outputDigest()
        expected.get(key) match {
          case Some(e) if e == d => None
          case Some(e) => Some(s"$name digest $d, expected $e")
          case None => Some(s"$name digest $d, no expected digest")
        }
      },
      probe = probe,
      digest = Some(key -> outputDigest))
  }

  /** Converged, and the moment violation within the solver's own
   * tolerance (optimalityTol * max(1, |targets * sum w0|)). */
  def verifySolve(r: EbwResult, p: Designs.Problem, tol: Double): Option[String] = {
    val bscale = math.max(1.0, math.sqrt(p.targets.map(m => m * p.sumW).map(x => x * x).sum))
    val viol = math.sqrt(r.constraintViolations.map(x => x * x).sum)
    if (!r.converged) Some(s"not converged after ${r.nIterations} steps: ${r.errorMessage}")
    else if (!(viol <= tol * bscale)) Some(f"|Ce| = $viol%.3e above ${tol * bscale}%.3e")
    else None
  }

  /** Applied weights reproduce the targets: |sum w x - m sum w0| within
   * ten times the solve tolerance. */
  def verifyApplied(weighted: DataFrame, p: Designs.Problem, weightCol: String,
      tol: Double): Option[String] = {
    val (_, sx, _) = Designs.moments(weighted, p.k, "features", weightCol)
    val b = p.targets.map(_ * p.sumW)
    val dev = math.sqrt(sx.zip(b).map { case (a, c) => (a - c) * (a - c) }.sum)
    val bound = 10 * tol * math.max(1.0, math.sqrt(b.map(x => x * x).sum))
    if (dev <= bound) None else Some(f"applied weights miss targets by $dev%.3e > $bound%.3e")
  }

  /** EBW solve op on a generated problem. `last` keeps the latest result
   * so traced passes can time `evaluate` at the solved multipliers. */
  private def solve(name: String, group: String, p: Designs.Problem,
      opts: EbwOptions, withEvaluate: Boolean): Op = {
    var last: Option[EbwResult] = None
    def once(): (EbwResult, Run) = {
      val r = EntropyBalance.entropyBalance(p.df, "features", "w0", p.targets,
        options = opts)
      last = Some(r)
      (r, Run(steps = r.nIterations, error = verifySolve(r, p, opts.optimalityTol)))
    }
    val probe =
      if (!withEvaluate) None
      else Some(() => timed(EntropyBalance.evaluate(p.df,
        "features", "w0", p.targets, last.get.equalityMultipliers))._2)
    Op(name, group, run = () => once()._2,
      check = () => {
        val (r, run) = once()
        run.error.orElse(verifyApplied(r.weighted, p, "weight_new", opts.optimalityTol))
      },
      probe = probe)
  }

  /** The ops of `workload`, with their inputs generated from `seed` and
   * cached. */
  def ops(spark: SparkSession, workload: String, seed: Long, size: Size,
      dataRoot: String, expected: Map[String, String]): Seq[Op] = {
    def gates(names: Seq[String], group: String => String,
        data: String = size.data): Seq[Op] =
      names.map(g => gate(spark, dataRoot, data, g, group(g), expected))
    workload match {
      case "ebw_solve" =>
        val dense = Designs.dense(spark, size.denseN, seed, 0.05)
        val sparse = Designs.sparse(spark, size.sparseN, 800, 4, seed, 0.05)
        val weighter = new EntropyBalanceWeighter().setFeaturesCol("features")
          .setWeightCol("w0").setOutputCol("weight_new")
          .setTargetMoments(dense.targets)
        var model: Option[EntropyBalanceModel] = None
        val apply = Op("apply_dense", "pipeline.apply",
          run = () => {
            model.get.transform(dense.df).write.format("noop").mode("overwrite").save()
            Run()
          },
          check = () => {
            val m = weighter.fit(dense.df)
            model = Some(m)
            if (!m.converged) Some("pipeline fit did not converge")
            else verifyApplied(m.transform(dense.df), dense, "weight_new",
              EbwOptions().optimalityTol)
          })
        Seq(
          solve("solve_dense", "ebw.dense", dense, EbwOptions(), withEvaluate = true),
          solve("solve_bounded", "ebw.bounded", dense,
            EbwOptions(bounds = Some((0.2, Some(5.0)))), withEvaluate = false),
          solve("solve_sparse", "ebw.sparse", sparse, EbwOptions(), withEvaluate = true),
          apply) ++
          gates(Seq("ebw_grouped_scale", "ebw_grouped_bigk"), _ => "ebw.grouped",
            size.groupedData)
      case "registry" =>
        gates(heavy, g => s"ops.$g") ++ gates(short, _ => "queries.short")
      case other => throw new IllegalArgumentException(
        s"unknown workload $other; expected one of ${names.mkString(", ")}")
    }
  }
}
