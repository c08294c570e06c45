package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.perfbench.SparkInternals

import graft.ops.{Dedup, Profile, Sampling, Similarity}

/**
 * Benchmark program: one closed-loop client on one `local[4]` session
 * runs a workload's ops for a fixed time and prints one JSON result line.
 * Untraced runs print the end-to-end metrics; traced runs (`--trace 1`)
 * alternate untraced and traced passes and print the per-layer metrics.
 *
 *   Main --workload W --seed N --seconds S --trace 0|1 --data DIR
 *        --digests FILE --trace-out FILE [--tiny] [--record]
 */
object Main {

  private def arg(argv: Array[String], key: String): Option[String] = {
    val i = argv.indexOf(key)
    if (i >= 0 && i + 1 < argv.length) Some(argv(i + 1)) else None
  }

  /** Median of a non-empty sample. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  private def loadAvg(): Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  private def heapUsedMb(): Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6

  /** The documented release: drop every cached plan and every operator
   * pin (CacheScope scopes) the op left behind. */
  private def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    Dedup.unpersistAll(spark)
    Similarity.unpersistAll(spark)
    Sampling.unpersistAll(spark)
    Profile.unpersistAll(spark)
  }

  /** Persisted RDDs above the post-set-up baseline, plus one if a cached
   * plan survived the release. */
  private def pins(spark: SparkSession, baseline: Set[Int]): Int =
    spark.sparkContext.getPersistentRDDs.keySet.count(id => !baseline(id)) +
      (if (SparkInternals.cacheEmpty(spark)) 0 else 1)

  def main(argv: Array[String]): Unit = {
    val workload = arg(argv, "--workload").getOrElse(
      throw new IllegalArgumentException("--workload is required"))
    val seed = arg(argv, "--seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(argv, "--seconds").map(_.toDouble).getOrElse(10.0)
    val trace = arg(argv, "--trace").contains("1")
    val size = if (argv.contains("--tiny")) Workloads.tiny else Workloads.full
    val record = argv.contains("--record")
    val dataRoot = arg(argv, "--data").getOrElse(
      throw new IllegalArgumentException("--data is required"))
    val expected: Map[String, String] = arg(argv, "--digests")
        .filter(f => new java.io.File(f).exists).toSeq.flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
        .map(_.split("\\s+")).map(a => a(0) -> a(1)).toVector
      finally src.close()
    }.toMap
    require(Workloads.names.contains(workload),
      s"unknown workload $workload; expected one of ${Workloads.names.mkString(", ")}")

    val loadStart = loadAvg()
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    var attempted = 0
    var failed = 0
    val errors = ArrayBuffer.empty[String]
    def attempt(what: String)(body: => Option[String]): Unit = {
      attempted += 1
      val err =
        try body
        catch { case e: Throwable if scala.util.control.NonFatal(e) =>
          Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
      err.foreach { m => failed += 1; errors += s"$what: $m" }
    }

    // Set-up: generate and cache the inputs, run every op once untimed with
    // its correctness check (the cold pass, with digests), then once more.
    val sc = spark.sparkContext
    val checkTimes = LinkedHashMap.empty[String, Double]
    val s0 = System.nanoTime()
    val ops = Workloads.ops(spark, workload, seed, size, dataRoot, expected)
    ops.foreach { op =>
      if (record) op.digest.foreach { case (key, d) => println(s"DIGEST $key ${d()}") }
      else {
        val c0 = System.nanoTime()
        attempt(s"check ${op.name}")(op.check())
        checkTimes(op.name) = (System.nanoTime() - c0) / 1e9
      }
      release(spark)
    }
    if (record) { spark.stop(); return }
    // The first timed pass would otherwise still carry JIT warm-up
    // (measured at 1.3x the later passes).
    ops.foreach { op =>
      attempt(s"warm ${op.name}")(op.run().error)
      release(spark)
    }
    val setupS = sessionS + (System.nanoTime() - s0) / 1e9
    val baseline = sc.getPersistentRDDs.keySet.toSet

    // Timed closed loop: passes over the ops in a seed-permuted order until
    // `seconds` have passed and every op has run (traced runs: until one
    // untraced and one traced pass are done).
    val rng = new scala.util.Random(seed)
    val recorder = new Recorder(spark)
    val walls = LinkedHashMap.empty[String, ArrayBuffer[Double]]
    val tracedWalls = LinkedHashMap.empty[String, ArrayBuffer[Double]]
    val layers = LinkedHashMap.empty[String, ArrayBuffer[(OpLayers, Run)]]
    val probes = LinkedHashMap.empty[String, ArrayBuffer[Double]]
    var pinsLeft = 0
    var heapPeak = 0.0
    val minPasses = if (trace) 2 else 1
    val wStart = System.currentTimeMillis()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var pass = 0
    val passTimes = ArrayBuffer.empty[Double]
    while (pass < minPasses || System.nanoTime() < deadline) {
      val p0 = System.nanoTime()
      val traced = trace && pass % 2 == 1
      if (traced) recorder.install() else recorder.uninstall()
      val order = rng.shuffle(ops)
      val it = order.iterator
      while (it.hasNext && (pass < minPasses || System.nanoTime() < deadline)) {
        val op = it.next()
        val spanId = if (traced) recorder.openOpSpan() else 0L
        val ms0 = System.currentTimeMillis()
        val n0 = System.nanoTime()
        var run = Run()
        attempt(op.name) {
          run = op.run()
          run.error
        }
        val wall = (System.nanoTime() - n0) / 1e9
        val ms1 = System.currentTimeMillis()
        (if (traced) tracedWalls else walls).getOrElseUpdate(op.name,
          ArrayBuffer.empty) += wall
        if (traced) {
          val l = recorder.closeOpSpan(spanId, op.name, ms0, ms1)
          layers.getOrElseUpdate(op.name, ArrayBuffer.empty) += ((l, run))
        }
        heapPeak = math.max(heapPeak, heapUsedMb())
        release(spark)
        pinsLeft += pins(spark, baseline)
        if (traced) op.probe.foreach { f =>
          attempt(s"probe ${op.name}")(
            { probes.getOrElseUpdate(op.name, ArrayBuffer.empty) += f(); release(spark); None })
        }
      }
      passTimes += (System.nanoTime() - p0) / 1e9
      pass += 1
    }
    recorder.uninstall()
    recorder.closeWorkload(workload, wStart, System.currentTimeMillis())
    val loadEnd = loadAvg()

    val allWalls = (walls.values ++ tracedWalls.values).flatten.toSeq
    val metrics = LinkedHashMap.empty[String, (Double, String)]
    if (!trace) {
      metrics("setup_s") = (setupS, "s")
      metrics("pass_s") = (walls.values.map(w => median(w.toSeq)).sum, "s")
    } else {
      arg(argv, "--trace-out").foreach(recorder.write)
      Layers.metrics(ops, walls, tracedWalls, layers, probes).foreach(metrics += _)
      metrics("cache.pins_left") = (pinsLeft.toDouble, "count")
      metrics("jvm.heap_peak_mb") = (heapPeak, "MB")
      metrics("trace.spans") = (recorder.spanCount.toDouble, "count")
    }

    val ctx = Seq(
      "workload" -> s""""$workload"""", "seed" -> seed.toString,
      "trace" -> trace.toString, "data" -> s""""${size.data}"""",
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "master" -> s""""${sc.master}"""",
      "xmx_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "jvm" -> s""""${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}"""",
      "spark" -> s""""${spark.version}"""",
      "load1_start" -> f"$loadStart%.2f", "load1_end" -> f"$loadEnd%.2f",
      "passes" -> pass.toString, "executions" -> allWalls.size.toString,
      "session_s" -> f"$sessionS%.3f",
      "pass_runs_s" -> passTimes.map(t => f"$t%.3f").mkString("[", ",", "]"))
    println("# context {" + ctx.map { case (k, v) => s""""$k":$v""" }.mkString(",") + "}")
    for (op <- ops) {
      val w = walls.getOrElse(op.name, Nil) ++ tracedWalls.getOrElse(op.name, Nil)
      println(f"# op ${op.name}%-28s set-up check ${checkTimes.getOrElse(op.name, 0.0)}%7.3f s, " +
        f"median ${if (w.isEmpty) 0.0 else median(w.toSeq)}%7.3f s over ${w.size}")
    }
    errors.take(20).foreach(e => println(s"# error $e"))
    spark.stop()

    val ms = metrics.map { case (k, (v, u)) =>
      s""""$k":{"value":${Layers.num(v)},"unit":"$u"}""" }.mkString(",")
    println(s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":{$ms}}""")
  }
}
