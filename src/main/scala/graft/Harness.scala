package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Shared plumbing of the offline evidence mains (Bench, Verify, PlanDump,
 * Scaling, ScaleUp, EbwScaling): ONE session conf, so every main measures
 * under the plans the bench times, plus the m-fold copy-remap corpus
 * construction the scaling evidence rests on.
 *
 * Env: SPARK_GRAFT_CPUS (local cores and shuffle partitions; default the
 * host's core count), SPARK_GRAFT_MASTER, SPARK_GRAFT_JARS,
 * SPARK_GRAFT_EXEC_MEM.
 */
private[graft] object Harness {

  /** The session every main runs in.
   *
   * SPARK_GRAFT_MASTER=local-cluster[2,16,4096] runs a main across a REAL
   * executor boundary (separate JVMs, serialized task binaries, actual
   * broadcast + shuffle transport) — catches non-serializable closures
   * and broadcast assumptions local[] masks. SPARK_GRAFT_JARS must then
   * carry the packaged graft jar so executor JVMs can deserialize the
   * closures, and the environment needs SPARK_HOME (the Spark install)
   * and SPARK_SCALA_VERSION=2.13 (ExecutorRunner builds the executor command
   * through the launcher, which otherwise scans for source-build
   * directories and dies with "Cannot find any build directories").
   * local-cluster[n,c,MEM] sets WORKER capacity; the executor heap still
   * comes from spark.executor.memory (default 1g), which
   * SPARK_GRAFT_EXEC_MEM sets.
   *
   * Driver budgets (maxResultSize, heap) stay at their defaults: the EBW
   * solver's EbwSizing pre-flight sizes partitions and tree depth itself,
   * so EbwScaling's largest tier must converge with no hand-set levers. */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val builder = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      // r18 optimization: let AQE re-plan the OUTPUT partitioning of
      // cached plans (off by default for historic plan-reuse
      // conservatism). Without it every `.cache()` pin inside an
      // operator is compiled WITHOUT AQE, so its InMemoryRelation keeps
      // the raw shuffle-partition count and every consumer stage
      // inherits ~32 near-empty tasks; measured on dedup_minhash_pairs:
      // 201 -> 21 tasks, 40 s -> 3.5 s task time, 4.7 s -> 2.4 s wall.
      // Scale-neutral: AQE coalesces to the data's real size at any
      // corpus, so this is the same setting a production cluster wants.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    sys.env.get("SPARK_GRAFT_JARS").foreach(j => builder.config("spark.jars", j))
    sys.env.get("SPARK_GRAFT_EXEC_MEM")
      .foreach(m => builder.config("spark.executor.memory", m))
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** SPARK_GRAFT_BENCH_REPS (default 3, at least 1): timed reps per item. */
  def reps(): Int =
    math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt)

  /** SPARK_GRAFT_<main>_ONLY: comma-separated allowlist for iterating on
   * a few items locally; unset (the full run) keeps everything. */
  def only(main: String): Option[Set[String]] =
    sys.env.get(s"SPARK_GRAFT_${main}_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** 1-minute load average from /proc/loadavg (-1.0 where unreadable).
    * Stamped next to timings so a record inflated by host contention is
    * machine-detectable: on a 32-vCPU box an idle-run load sits near the
    * bench's own parallelism, while a contended window shows load far
    * above it — the recurring failure mode where the archived number ran
    * 40% over the idle truth on identical code. */
  def loadAvg1m(): Double =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split("\\s+")(0).toDouble
    catch { case e: Throwable if scala.util.control.NonFatal(e) => -1.0 }

  // ---- m-fold copy-remap corpora -------------------------------------
  // Copy c of a table remaps its ids into a disjoint range (each caller
  // owns its strides) and its content through a per-copy bijection, so
  // the m-fold corpus is m disjoint corpora with identical within-copy
  // structure: banding and pair operators see m independent inputs of
  // equal pair density instead of an m-fold self-union whose every doc
  // is a near-duplicate of its m-1 copies (which would measure OUTPUT
  // growth, not operator scaling).

  /** Union of copies `one(0) .. one(m - 1)`. */
  def copies(m: Int)(one: Int => DataFrame): DataFrame =
    (0 until m).map(one).reduce(_.unionAll(_))

  /** Vocabulary bijection w -> c<c>w of copy `c` (`" " -> " c<c>"`):
   * token COUNT and distinctness are unchanged and no marker tokens are
   * inserted, so within-copy shingle structure (hence the natural dup
   * pairs) is preserved exactly while shingles are disjoint across
   * copies. */
  def vocabCopy(text: Column, c: Int): Column =
    regexp_replace(text, " ", s" c$c")

  /** Coordinate SIGN isometry of copy `c`: a deterministic per-copy sign
   * pattern, so within-copy dot products (hence cosines and pair
   * structure) are exactly preserved while copies decorrelate —
   * cross-copy cosines of 64-dim vectors under independent sign flips
   * concentrate near 0. */
  def signCopy(embedding: Column, c: Int): Column =
    transform(embedding,
      (x, i) => when(pmod(hash(lit(c) * 131 + i), lit(2)) === 0, x)
        .otherwise(-x))
}
